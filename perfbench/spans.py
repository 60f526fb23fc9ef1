"""In-memory span tracer that wraps the program's public functions from the
outside, by attribute patching, so the program itself is never edited.

A span records its name, start, end, parent span and iteration id. Spans stay
in memory; the runner writes them out when the run ends. Calls made on other
threads get the iteration's root span as their parent.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import threading
import time
from contextlib import contextmanager

PKG = "entity_matching_spark"

# (module, attribute, span name): the public functions that plans.pipeline
# and operators.curate call into.
FUNCTION_TARGETS = [
    ("operators.assemble", "build_records", "assemble.build_records"),
    ("operators.blocking", "generate_blocking_keys", "blocking.generate_blocking_keys"),
    ("operators.blocking", "generate_pairs", "blocking.generate_pairs"),
    ("operators.blocking", "cap_fuzzy_fanout", "blocking.cap_fuzzy_fanout"),
    ("operators.score", "score_pairs", "score.score_pairs"),
    ("operators.score", "match_edges", "score.match_edges"),
    ("operators.cluster", "connected_components", "cluster.connected_components"),
    ("operators.cluster", "assign_clusters", "cluster.assign_clusters"),
    ("operators.text", "vocab_topk", "text.vocab_topk"),
    ("operators.dedup", "minhash_verified_pairs", "dedup.minhash_verified_pairs"),
    ("operators.dedup", "canonical_docs", "dedup.canonical_docs"),
    ("operators.curate", "curation_report", "curate.curation_report"),
    ("operators.curate", "pack_documents", "curate.pack_documents"),
]
METHOD_TARGETS = [
    ("plans.checkpoint", "StageCheckpointer", "write", "checkpoint.write"),
    ("plans.checkpoint", "StageCheckpointer", "read", "checkpoint.read"),
]
# modules that bind the targets as globals (``from x import f``); each binding
# is patched so calls through any of them are traced
CALLER_MODULES = [
    "plans.pipeline", "plans.checkpoint",
    "operators.assemble", "operators.blocking", "operators.score",
    "operators.cluster", "operators.text", "operators.dedup", "operators.curate",
]


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.iteration: int | None = None
        self.root_id: int | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------
    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        st = self._stack()
        parent = st[-1]["id"] if st else self.root_id
        s = {
            "id": next(self._ids), "name": name, "parent": parent,
            "iteration": self.iteration, "thread": threading.get_ident(),
            "start": time.perf_counter(), "end": None, "attrs": dict(attrs),
        }
        st.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            st.pop()
            with self._lock:
                self.spans.append(s)

    @contextmanager
    def root(self, iteration: int):
        """The iteration's root span; every other span of the iteration is
        its descendant."""
        self.iteration = iteration
        with self.span("iteration") as s:
            self.root_id = s["id"]
            try:
                yield s
            finally:
                self.root_id = None

    # -- patching ------------------------------------------------------------
    def _wrap(self, fn, name: str, hook=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name) as s:
                out = fn(*args, **kwargs)
                if hook is not None:
                    hook(s, args, out)
                return out

        return traced

    def install(self) -> None:
        mods = {m: importlib.import_module(f"{PKG}.{m}") for m in CALLER_MODULES}
        for mod_name, attr, span_name in FUNCTION_TARGETS:
            orig = getattr(mods[mod_name], attr)
            wrapped = self._wrap(orig, span_name, HOOKS.get(span_name))
            for m in mods.values():
                if getattr(m, attr, None) is orig:
                    self._undo.append((m, attr, orig))
                    setattr(m, attr, wrapped)
        for mod_name, cls_name, meth, span_name in METHOD_TARGETS:
            cls = getattr(mods[mod_name], cls_name)
            orig = cls.__dict__[meth]
            self._undo.append((cls, meth, orig))
            setattr(cls, meth, self._wrap(orig, span_name, HOOKS.get(span_name)))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()


def _on_write(s: dict, args, manifest) -> None:
    # StageCheckpointer.write(self, stage, df, ...) returns the manifest
    s["attrs"]["stage"] = args[1]
    s["attrs"]["rows"] = manifest.get("output_rows") or 0
    s["attrs"]["bytes"] = sum(f["bytes"] for f in manifest.get("files", []))


HOOKS = {
    "checkpoint.write": _on_write,
}


# -- roll-up -----------------------------------------------------------------
def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        p = by_id.get(s["parent"])
        if p is not None:
            kids.setdefault(p["id"], []).append(
                (max(s["start"], p["start"]), min(s["end"], p["end"]))
            )
    return {
        s["id"]: (s["end"] - s["start"]) - _union_len(kids.get(s["id"], []))
        for s in spans
    }


def check_tree(spans: list[dict]) -> list[str]:
    """Problems that make a span tree ill-formed: open spans, missing or
    cross-iteration parents, children outside their parent on one thread,
    and more than one root per iteration."""
    problems = []
    by_id = {s["id"]: s for s in spans}
    roots: dict[object, int] = {}
    for s in spans:
        if s["end"] is None or s["end"] < s["start"]:
            problems.append(f"span {s['id']} {s['name']} has no valid end")
            continue
        if s["parent"] is None:
            roots[s["iteration"]] = roots.get(s["iteration"], 0) + 1
            if s["name"] != "iteration":
                problems.append(f"span {s['id']} {s['name']} has no parent")
            continue
        p = by_id.get(s["parent"])
        if p is None:
            problems.append(f"span {s['id']} {s['name']} has a missing parent")
        elif p["iteration"] != s["iteration"]:
            problems.append(f"span {s['id']} {s['name']} crosses iterations")
        elif p["thread"] == s["thread"] and not (
            p["start"] <= s["start"] and s["end"] <= p["end"]
        ):
            problems.append(f"span {s['id']} {s['name']} lies outside its parent")
    problems += [f"iteration {i} has {n} roots" for i, n in roots.items() if n != 1]
    return problems

