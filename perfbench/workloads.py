"""The benchmark's workloads. Each one stages its inputs from the generated
corpus (set-up), runs one iteration through the program's public functions
(timed), and then inspects the outputs (untimed). An iteration passes its
gate only if its outputs pass the workload's absolute checks (row counts and
invariants that hold at any seed), reach the quality floors measured for the
corpus size, and are identical to the warm-up iteration's at this seed (a
determinism check).

Every workload reports the same quality pair, defined per workload:

- ``pairwise_f1``: F1 of the workload's linking output against the
  generator's labels;
- ``catalog_recall``: share of *probes* (every conversation of a family but
  the family's first) that the output links to their family's first
  conversation.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

import pandas as pd


@dataclass
class Corpus:
    families: int
    transcripts: pd.DataFrame
    labels: pd.DataFrame
    conv_ids: list[str]
    first_of: dict[str, str]  # conversation -> its family's first conversation

    @property
    def n_turns(self) -> int:
        return len(self.transcripts)

    @property
    def probes(self) -> list[str]:
        return [c for c in self.conv_ids if self.first_of[c] != c]

    def positive_pairs(self) -> set[tuple[str, str]]:
        lab = self.labels[self.labels["is_match"]]
        return {(min(a, b), max(a, b)) for a, b in zip(lab["conv_id_a"], lab["conv_id_b"])}


def make_corpus(n_families: int, seed: int) -> Corpus:
    from entity_matching_spark.sources.synth import generate_corpus

    transcripts, labels = generate_corpus(n_families=n_families, seed=seed)
    conv_ids = sorted(transcripts["conv_id"].unique())
    # families = connected components of the positive labels; conversation
    # ids are issued in emission order, so a family's first is its minimum
    parent = {c: c for c in conv_ids}

    def find(c):
        while parent[c] != c:
            parent[c] = parent[parent[c]]
            c = parent[c]
        return c

    pos = labels[labels["is_match"]]
    for a, b in zip(pos["conv_id_a"], pos["conv_id_b"]):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return Corpus(n_families, transcripts, labels, conv_ids, {c: find(c) for c in conv_ids})


def f1(tp: int, n_pred: int, n_true: int) -> float:
    precision = tp / max(n_pred, 1)
    recall = tp / max(n_true, 1)
    return 2 * precision * recall / max(precision + recall, 1e-9)


def pair_f1(pred: set, truth: set) -> float:
    """Pairwise F1 as the end-to-end test computes it: every predicted pair
    outside the positive labels is a false positive."""
    return f1(len(pred & truth), len(pred), len(truth))


def digest(items) -> str:
    return hashlib.sha256(repr(sorted(items)).encode()).hexdigest()[:16]


@dataclass
class Outcome:
    signature: tuple            # identical in every iteration of one run
    problems: list[str]         # failed absolute checks
    quality: dict[str, float]   # pairwise_f1, catalog_recall, and any other floored figure
    counts: dict = field(default_factory=dict)  # per-layer counts


class Workload:
    name = ""
    families = 100
    # corpus size -> quality figure -> floor, each a little below the lowest
    # value measured at that size over the seeds listed in README.md; a size
    # with no floors fails every iteration
    floors: dict[int, dict[str, float]] = {}

    def __init__(self, spark, corpus: Corpus):
        self.spark = spark
        self.corpus = corpus

    def stage(self) -> None:
        from entity_matching_spark.sources.synth import transcripts_to_spark

        self.transcripts = transcripts_to_spark(
            self.spark, self.corpus.transcripts
        ).localCheckpoint()

    def run(self, wd: str):
        raise NotImplementedError

    def inspect(self, result) -> Outcome:
        raise NotImplementedError

    def gate(self, out: Outcome, ref: Outcome) -> list[str]:
        """Failures of one iteration: its absolute checks, its quality
        floors, and any difference from the warm-up's outputs."""
        problems = list(out.problems)
        floors = self.floors.get(self.corpus.families)
        if floors is None:
            problems.append(f"no quality floors measured at {self.corpus.families} families")
        for key, lo in (floors or {}).items():
            if out.quality[key] < lo:
                problems.append(f"{key} {out.quality[key]:.4f} is below its floor {lo}")
        if out.signature != ref.signature:
            problems.append(f"outputs differ from the warm-up: {out.signature} != {ref.signature}")
        return problems

    # input sizes for the throughput metrics
    @property
    def turns_in(self) -> int:
        return self.corpus.n_turns

    @property
    def conversations_in(self) -> int:
        return len(self.corpus.conv_ids)


class ErBatch(Workload):
    """``run_pipeline(resume=False)``: transcripts in, clusters out."""

    name = "er_batch"
    families = 100
    # every seed tried gives tp 280, fp 43, fn 6 (F1 0.9195, recall 0.9663)
    # at 100 families and F1 0.843, recall 0.854 at 10: a second wrong or
    # missed pair falls below the floor
    floors = {
        100: {"pairwise_f1": 0.917, "catalog_recall": 0.96},
        10: {"pairwise_f1": 0.84, "catalog_recall": 0.85},
    }

    def run(self, wd):
        from entity_matching_spark.plans.pipeline import run_pipeline

        return run_pipeline(self.spark, self.transcripts, wd, resume=False)

    def inspect(self, res):
        from pyspark.sql import functions as F

        rows = {m["stage"]: m["output_rows"] for m in res.metrics}
        clusters = res.clusters.select("conv_id", "cluster_id").toPandas()
        decisions = {r[0]: r[1] for r in res.scored.groupBy("decision").count().collect()}
        n_components = res.components.select(F.countDistinct("cluster_id")).first()[0]
        members: dict[str, list[str]] = {}
        for c, k in zip(clusters["conv_id"], clusters["cluster_id"]):
            members.setdefault(k, []).append(c)
        pred = {
            (a, b) for ms in members.values() for a in ms for b in ms if a < b
        }
        truth = self.corpus.positive_pairs()
        cluster_of = dict(zip(clusters["conv_id"], clusters["cluster_id"]))
        probes = self.corpus.probes
        found = sum(
            cluster_of.get(p) is not None
            and cluster_of.get(p) == cluster_of.get(self.corpus.first_of[p])
            for p in probes
        )
        n_conv = self.conversations_in
        problems = []
        if rows.get("s1_records") != n_conv:
            problems.append(f"s1_records has {rows.get('s1_records')} rows for {n_conv} conversations")
        if len(clusters) != n_conv or clusters["conv_id"].nunique() != n_conv:
            problems.append(f"{len(clusters)} cluster rows for {n_conv} conversations")
        if sum(decisions.values()) != rows.get("s4_scored"):
            problems.append(f"decisions {decisions} do not add up to s4_scored {rows.get('s4_scored')}")
        if not 0 < n_components <= n_conv:
            problems.append(f"{n_components} components for {n_conv} conversations")
        signature = (
            tuple(sorted(rows.items())), n_components, tuple(sorted(decisions.items())),
            digest(pred),
        )
        counts = {
            "records_out": rows.get("s1_records", 0),
            "quarantined": rows.get("s1_quarantine", 0),
            "pairs_out": rows.get("s3_pairs", 0),
            "keys_dropped": rows.get("s2_dropped_keys", 0),
            "candidates_dropped": rows.get("s3_dropped_candidates", 0),
            "pairs_scored": rows.get("s4_scored", 0),
            "useful_pairs": decisions.get("MATCH", 0) + decisions.get("MANUAL_REVIEW", 0),
            "components": n_components,
            "tp": len(pred & truth), "fp": len(pred - truth), "fn": len(truth - pred),
        }
        quality = {
            "pairwise_f1": pair_f1(pred, truth),
            "catalog_recall": found / max(len(probes), 1),
        }
        return Outcome(signature, problems, quality, counts)


class CorpusProfile(Workload):
    """``run_profile`` (p1 documents, p2 vocabulary, p3 curation funnel, p4
    packing) over the transcript corpus. Its linking output is the
    near-duplicate drop: ``pairwise_f1`` and ``catalog_recall`` score the
    dropped documents against the generator's families, where a family of
    s conversations holds s - 1 duplicates."""

    name = "corpus_profile"
    families = 100
    # the figures vary by seed: at 100 families F1 0.49-0.55, recall
    # 0.69-0.77, kept 0.75-0.77; at 10, F1 0.31-0.44, recall 0.20-0.29,
    # kept 0.93-0.95
    floors = {
        100: {"pairwise_f1": 0.45, "catalog_recall": 0.65, "kept_ratio": 0.72},
        10: {"pairwise_f1": 0.25, "catalog_recall": 0.15, "kept_ratio": 0.90},
    }

    def run(self, wd):
        from entity_matching_spark.plans.pipeline import run_profile

        return run_profile(self.spark, self.transcripts, wd, resume=False)

    def inspect(self, res):
        rows = {m["stage"]: m["output_rows"] for m in res["metrics"]}
        cur = res["curation"].select("doc_id", "near_dup", "kept").toPandas()
        kept = int(cur["kept"].sum())
        dropped = cur.loc[cur["near_dup"], "doc_id"]
        fam_size: dict[str, int] = {}
        for c in self.corpus.conv_ids:
            f = self.corpus.first_of[c]
            fam_size[f] = fam_size.get(f, 0) + 1
        drops: dict[str, int] = {}
        for d in dropped:
            f = self.corpus.first_of[d]
            drops[f] = drops.get(f, 0) + 1
        tp = sum(min(n, fam_size[f] - 1) for f, n in drops.items())
        n_dups = sum(s - 1 for s in fam_size.values())
        n_conv = self.conversations_in
        problems = []
        if rows.get("p1_documents") != n_conv:
            problems.append(f"p1_documents has {rows.get('p1_documents')} rows for {n_conv} conversations")
        if len(cur) != n_conv or cur["doc_id"].nunique() != n_conv:
            problems.append(f"{len(cur)} curation rows for {n_conv} conversations")
        if (cur["near_dup"] & cur["kept"]).any():
            problems.append("a near-duplicate document was kept")
        signature = (tuple(sorted(rows.items())), kept, digest(dropped))
        counts = {"documents": len(cur), "kept": kept}
        quality = {
            "pairwise_f1": f1(tp, len(dropped), n_dups),
            "catalog_recall": tp / max(n_dups, 1),
            "kept_ratio": kept / max(len(cur), 1),
        }
        return Outcome(signature, problems, quality, counts)


WORKLOADS = {w.name: w for w in (ErBatch, CorpusProfile)}
