"""S4 scoring + S6 clustering tests: decision boundaries, component
arithmetic, transitive closure, and the end-to-end pairwise-F1 gate
(FIXTURES.md §4-5; BASELINE.json: pairwise F1 >= 0.99)."""

import pyspark.sql.functions as F
import pytest

from entity_matching_spark.config import MatchConfig
from entity_matching_spark.operators.blocking import generate_blocking_keys, generate_pairs
from entity_matching_spark.operators.cluster import (
    assign_clusters,
    cluster_pairs,
    connected_components,
)
from entity_matching_spark.operators.score import (
    confidence_bucket,
    decision_expr,
    match_edges,
    score_pairs,
    top_k_matches,
)


@pytest.fixture(scope="module")
def scored_df(spark, records_df):
    keys = generate_blocking_keys(records_df)
    pairs, _ = generate_pairs(keys)
    return score_pairs(records_df, pairs).cache()


class TestDecisionBoundaries:
    """K4 (orchestrator/EntityMatchingOrchestrator.java:192-212) and K2
    (entity/MatchResult.java:140-145) boundary values."""

    def test_decision_bands(self, spark):
        rows = [(49.9, False), (50.0, False), (69.9, False), (70.0, False),
                (84.9, False), (85.0, False), (85.0, True), (100.0, True)]
        df = spark.createDataFrame(rows, "score double, has_critical boolean")
        out = df.withColumn("d", decision_expr(F.col("score"), F.col("has_critical"))) \
            .withColumn("c", confidence_bucket(F.col("score"))).collect()
        got = [(r["score"], r["has_critical"], r["d"], r["c"]) for r in out]
        assert (49.9, False, "NO_MATCH", "REVIEW") in got
        assert (50.0, False, "MANUAL_REVIEW", "REVIEW") in got
        assert (69.9, False, "MANUAL_REVIEW", "REVIEW") in got
        assert (70.0, False, "MANUAL_REVIEW", "MEDIUM") in got
        assert (84.9, False, "MANUAL_REVIEW", "MEDIUM") in got
        assert (85.0, False, "MATCH", "MEDIUM_HIGH") in got
        # critical discrepancy blocks MATCH even at high scores
        assert (85.0, True, "MANUAL_REVIEW", "MEDIUM_HIGH") in got
        assert (100.0, True, "MANUAL_REVIEW", "HIGH") in got


class TestScoreComponents:
    def test_identifier_arithmetic(self, scored_df):
        """First-match base 40/35/30/25 + boosts 20/15 (IdentifierMatcher.java:
        29-105), with the Q3 debt-domain boost dropped."""
        r = scored_df.where("mei_eq and lei_eq and ein_eq").limit(1).collect()
        if r:
            assert r[0]["identifier_score"] == 40 + 20 + 15
        r2 = scored_df.where("mei_eq and not lei_eq and not ein_eq and not dd_eq").limit(1).collect()
        if r2:
            assert r2[0]["identifier_score"] == 40.0

    def test_multi_identifier_bonus(self, scored_df):
        """+5 per additional matched identifier (ConfidenceScorer.java:54-59)."""
        rows = scored_df.where("mei_eq and lei_eq and ein_eq and not dd_eq").limit(3).collect()
        for r in rows:
            assert r["multi_id_bonus"] == 10.0

    def test_name_score_only_for_fuzzy(self, scored_df):
        """Identifier-strategy pairs carry no name component (the reference's
        fuzzy pass skips already-matched entities, MatchingEngine.java:70)."""
        assert scored_df.where("strategy = 'IDENTIFIER' and name_score != 0").count() == 0

    def test_q1_penalty_sign(self, spark, records_df):
        """Quirk Q1: default arithmetic makes each discrepancy RAISE the score;
        penalty_inverted=False applies the documented intent."""
        keys = generate_blocking_keys(records_df)
        pairs, _ = generate_pairs(keys)
        # localCheckpoint severs the blocking plan before stacking two scoring
        # plans on top — mirrors the production stage checkpoint (S3 -> S4)
        pairs = pairs.where("pass = 'nametok'").limit(200).localCheckpoint()
        records = records_df.localCheckpoint()
        inv = score_pairs(records, pairs, MatchConfig(penalty_inverted=True))
        std = score_pairs(records, pairs, MatchConfig(penalty_inverted=False))
        cols = ["conv_id_a", "conv_id_b", "discrepancy_penalty"]
        inv_rows = {(r[0], r[1]): r[2] for r in inv.select(cols).collect()}
        std_rows = {(r[0], r[1]): r[2] for r in std.select(cols).collect()}
        some_disc = [k for k, v in inv_rows.items() if v != 0]
        assert some_disc, "expected at least one pair with discrepancies"
        for k in some_disc:
            if k in std_rows:
                # inverted mode: sum of negative constants (cap at 50 can
                # never engage — the Q1 note in SURVEY.md §4.4); standard
                # mode: positive sum, capped at 50 (ConfidenceScorer.java:137)
                assert inv_rows[k] < 0
                assert std_rows[k] == min(-inv_rows[k], 50.0)

    def test_no_false_match_on_negatives(self, spark, small_corpus, scored_df):
        _, labels = small_corpus
        neg = labels[~labels.is_match]
        lab = spark.createDataFrame(neg[["conv_id_a", "conv_id_b"]])
        joined = lab.join(scored_df, ["conv_id_a", "conv_id_b"], "inner")
        assert joined.where("decision = 'MATCH'").count() == 0

    def test_top_k(self, scored_df):
        top = top_k_matches(scored_df, MatchConfig(top_k_matches=5))
        per = top.groupBy("conv_id_a").count()
        assert per.where("count > 5").count() == 0


class TestConnectedComponents:
    def test_chain_closure(self, spark):
        """A-B, B-C, D-E => {A,B,C}, {D,E} (large-star/small-star fixpoint)."""
        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("d", "e")], ["conv_id_a", "conv_id_b"]
        )
        cc = connected_components(edges)
        got = {r["conv_id"]: r["cluster_id"] for r in cc.collect()}
        assert got == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d"}

    def test_long_path_and_cycle(self, spark):
        n = 40
        path = [(f"n{i:02d}", f"n{i+1:02d}") for i in range(n)]
        cycle = [("z0", "z1"), ("z1", "z2"), ("z2", "z0")]
        edges = spark.createDataFrame(path + cycle, ["conv_id_a", "conv_id_b"])
        cc = connected_components(edges)
        got = {r["conv_id"]: r["cluster_id"] for r in cc.collect()}
        assert all(got[f"n{i:02d}"] == "n00" for i in range(n + 1))
        assert all(got[z] == "z0" for z in ["z0", "z1", "z2"])

    def test_label_determinism(self, spark):
        import random

        rng = random.Random(7)
        nodes = [f"v{i:03d}" for i in range(120)]
        edges_py = [
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(150)
        ]
        edges = spark.createDataFrame(edges_py, ["conv_id_a", "conv_id_b"])
        c1 = sorted(map(tuple, connected_components(edges).collect()))
        c2 = sorted(map(tuple, connected_components(edges).collect()))
        assert c1 == c2

    def test_star_forest_predicate(self, spark):
        """Convergence holds only when every dst is a leaf: disjoint src/dst
        sets are not enough ({a-c, b-c} would label c twice)."""
        from entity_matching_spark.operators.cluster import _is_star_forest

        def forest(rows):
            return _is_star_forest(spark.createDataFrame(rows, "src string, dst string"))

        assert forest([("a", "b"), ("a", "c"), ("a", "d"), ("e", "f")])
        assert forest([])
        assert not forest([("a", "b"), ("b", "c")])  # chain: b is src and dst
        assert not forest([("a", "c"), ("b", "c")])  # two-centre leaf

    def test_non_convergence_raises(self, spark):
        """Running out of rounds fails loud instead of returning labels that
        can put one node in two clusters."""
        path = [(f"n{i:02d}", f"n{i+1:02d}") for i in range(40)]
        edges = spark.createDataFrame(path, ["conv_id_a", "conv_id_b"])
        with pytest.raises(RuntimeError, match=r"did not converge in 1 rounds: \d+ edges"):
            connected_components(edges, MatchConfig(cc_max_iterations=1)).collect()


class TestEndToEnd:
    """The headline gate: pairwise F1 >= 0.99 vs labels (BASELINE.json)."""

    @pytest.fixture(scope="class")
    def clusters(self, spark, records_df, scored_df):
        edges = match_edges(scored_df)
        cc = connected_components(edges)
        return assign_clusters(records_df.select("conv_id"), cc).cache()

    def test_pairwise_f1(self, spark, small_corpus, clusters):
        _, labels = small_corpus
        pred = cluster_pairs(
            clusters.select("cluster_id", "conv_id")
        ).withColumn("predicted", F.lit(True))

        lab = spark.createDataFrame(
            labels[["conv_id_a", "conv_id_b", "is_match"]]
        )
        j = lab.join(pred, ["conv_id_a", "conv_id_b"], "left") \
            .withColumn("predicted", F.coalesce("predicted", F.lit(False)))
        tp = j.where("is_match and predicted").count()
        fn = j.where("is_match and not predicted").count()
        fp_labeled = j.where("not is_match and predicted").count()
        # also count predicted pairs that are labeled negatives or unlabeled
        # cross-family links (any predicted pair not in the positive label set)
        pos = lab.where("is_match").select("conv_id_a", "conv_id_b")
        fp_all = pred.select("conv_id_a", "conv_id_b").exceptAll(pos).count()
        precision = tp / max(tp + fp_all, 1)
        recall = tp / max(tp + fn, 1)
        f1 = 2 * precision * recall / max(precision + recall, 1e-9)
        print(f"tp={tp} fn={fn} fp_labeled={fp_labeled} fp_all={fp_all} "
              f"P={precision:.4f} R={recall:.4f} F1={f1:.4f}")
        assert f1 >= 0.99, (tp, fn, fp_all, precision, recall, f1)

    def test_transitive_chains_one_cluster(self, spark, small_corpus, clusters):
        """CHAIN families: A~B (mei), B~C (lei/ein) => one cluster incl. A-C
        even though A-C never co-occurred under a blocking key."""
        _, labels = small_corpus
        chains = labels[labels.perturbation == "CHAIN-AC-transitive"]
        assert len(chains) > 0
        lab = spark.createDataFrame(chains[["conv_id_a", "conv_id_b"]])
        cl = clusters.select("conv_id", "cluster_id")
        j = (
            lab.join(cl.withColumnRenamed("conv_id", "conv_id_a")
                     .withColumnRenamed("cluster_id", "cl_a"), "conv_id_a")
            .join(cl.withColumnRenamed("conv_id", "conv_id_b")
                  .withColumnRenamed("cluster_id", "cl_b"), "conv_id_b")
        )
        assert j.where("cl_a != cl_b").count() == 0

    def test_determinism_two_runs(self, spark, records_df):
        """Same input, two full runs -> identical scored decisions."""
        records = records_df.localCheckpoint()
        keys = generate_blocking_keys(records)
        pairs, _ = generate_pairs(keys)
        pairs = pairs.localCheckpoint()
        cols = ["conv_id_a", "conv_id_b", "score", "decision"]

        def snapshot():
            return sorted(
                map(tuple, score_pairs(records, pairs).select(cols).collect())
            )

        assert snapshot() == snapshot()
