"""Span-to-metric roll-up: one traced iteration's spans plus the counts the
workload read from its outputs become the per-layer metrics.

``author_s`` is the self time of a layer's calls: the Spark driver building the
plan, plus any work the call runs eagerly. ``exec_s`` is the time of the
stage writes that execute the layer's plan. A layer a workload does not call
reads 0.
"""

from __future__ import annotations

from spans import _union_len, self_times

STAGES = [
    "s1_records", "s1_quarantine", "s2_dropped_keys", "s3_dropped_candidates",
    "s3_pairs", "s4_scored", "s6_components", "s7_clusters",
    "p1_documents", "p2_vocab", "p3_curation", "p4_packing",
]

# name -> unit, in the order BENCHMARK.json lists them
PER_LAYER = {
    "pipeline.unattributed_s": "s",
    "pipeline.attributed_share": "ratio",
    **{f"checkpoint.write_s.{st}": "s" for st in STAGES},
    "checkpoint.read_s": "s",
    "checkpoint.bytes_written": "bytes",
    "checkpoint.rows_written": "count",
    "assemble.author_s": "s",
    "assemble.exec_s": "s",
    "assemble.records_out": "count",
    "assemble.quarantined": "count",
    "blocking.author_s": "s",
    "blocking.exec_s": "s",
    "blocking.pairs_out": "count",
    "blocking.keys_dropped": "count",
    "blocking.candidates_dropped": "count",
    "score.author_s": "s",
    "score.exec_s": "s",
    "score.pairs_scored": "count",
    "score.pairs_per_s": "1/s",
    "score.useful_ratio": "ratio",
    "cluster.exec_s": "s",
    "cluster.components": "count",
    "text.vocab_s": "s",
    "dedup.minhash_s": "s",
    "dedup.canonical_s": "s",
    "curate.report_s": "s",
    "curate.pack_s": "s",
    "curate.kept_ratio": "ratio",
    "trace.overhead_s": "s",
    "trace.spans": "count",
}


def rollup(spans: list[dict], wall: float, counts: dict) -> dict[str, float]:
    """Per-layer metrics of ONE traced iteration (``trace.overhead_s`` is
    filled in by the runner, which alone sees the untraced iterations)."""
    root = next(s for s in spans if s["name"] == "iteration")
    selft = self_times(spans)
    total: dict[str, float] = {}
    self_sum: dict[str, float] = {}
    for s in spans:
        total[s["name"]] = total.get(s["name"], 0.0) + (s["end"] - s["start"])
        self_sum[s["name"]] = self_sum.get(s["name"], 0.0) + selft[s["id"]]

    writes = [s for s in spans if s["name"] == "checkpoint.write"]
    write_s = {st: 0.0 for st in STAGES}
    rows_of: dict[str, int] = {}
    for s in writes:
        st = s["attrs"]["stage"]
        write_s[st] = write_s.get(st, 0.0) + (s["end"] - s["start"])
        rows_of[st] = s["attrs"]["rows"]

    def w(*stages):
        return sum(write_s.get(st, 0.0) for st in stages)

    def t(*names):
        return sum(total.get(n, 0.0) for n in names)

    def own(*names):
        return sum(self_sum.get(n, 0.0) for n in names)

    top = [(s["start"], s["end"]) for s in spans if s["parent"] == root["id"]]
    attributed = _union_len(top)
    scored = rows_of.get("s4_scored", 0)
    score_exec = w("s4_scored")
    m = {
        "pipeline.unattributed_s": wall - attributed,
        "pipeline.attributed_share": attributed / wall,
        **{f"checkpoint.write_s.{st}": write_s[st] for st in STAGES},
        "checkpoint.read_s": t("checkpoint.read"),
        "checkpoint.bytes_written": sum(s["attrs"]["bytes"] for s in writes),
        "checkpoint.rows_written": sum(s["attrs"]["rows"] for s in writes),
        "assemble.author_s": own("assemble.build_records"),
        "assemble.exec_s": w("s1_records", "s1_quarantine"),
        "assemble.records_out": rows_of.get("s1_records", 0),
        "assemble.quarantined": rows_of.get("s1_quarantine", 0),
        "blocking.author_s": own("blocking.generate_blocking_keys", "blocking.generate_pairs"),
        "blocking.exec_s": own("blocking.cap_fuzzy_fanout")
        + w("s2_dropped_keys", "s3_dropped_candidates", "s3_pairs"),
        "blocking.pairs_out": rows_of.get("s3_pairs", 0),
        "blocking.keys_dropped": rows_of.get("s2_dropped_keys", 0),
        "blocking.candidates_dropped": rows_of.get("s3_dropped_candidates", 0),
        "score.author_s": own("score.score_pairs", "score.match_edges"),
        "score.exec_s": score_exec,
        "score.pairs_scored": scored,
        "score.pairs_per_s": scored / score_exec if score_exec else 0.0,
        "score.useful_ratio": counts.get("useful_pairs", 0) / scored if scored else 0.0,
        "cluster.exec_s": t("cluster.connected_components") + own("cluster.assign_clusters")
        + w("s6_components", "s7_clusters"),
        "cluster.components": counts.get("components", 0),
        "text.vocab_s": t("text.vocab_topk") + w("p2_vocab"),
        "dedup.minhash_s": t("dedup.minhash_verified_pairs"),
        "dedup.canonical_s": t("dedup.canonical_docs"),
        "curate.report_s": own("curate.curation_report") + w("p3_curation"),
        "curate.pack_s": t("curate.pack_documents") + w("p4_packing"),
        "curate.kept_ratio": counts["kept"] / counts["documents"] if counts.get("documents") else 0.0,
        "trace.spans": len(spans),
    }
    return m
