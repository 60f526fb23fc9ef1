"""Stage checkpointing with per-partition lineage + metrics and resume.

North-rule requirement: "checkpoints each stage (blocking output, scored
pairs, component labels) to Iceberg with per-partition lineage and metrics so
any stage is resumable". The sandbox has no Iceberg runtime jar (verified —
SURVEY.md §4.3.5), so the writer is abstracted: the default engine is
partitioned Parquet plus a JSON manifest carrying exactly the lineage columns
an Iceberg snapshot summary would carry; ``table_format="iceberg"`` switches
to ``df.writeTo(...)`` when a catalog is configured, with manifests then
supplementing Iceberg's own snapshot metadata.

Resume contract: a stage is skipped iff its manifest exists AND the recorded
``params_hash`` equals the current config's hash AND the recorded
``upstream_hash`` chain matches — so changing any config knob (or any
upstream stage) invalidates downstream checkpoints automatically, while a
crashed run restarts at the first missing stage.

Lineage is SINGLE-PASS (round 5): the row count and the order-independent
content hash ride the WRITE itself as ``df.observe()`` metrics (a
CollectMetrics node over the write-side plan), so a stage is scanned exactly
once — at 100 TB the previous read-back-to-fingerprint doubled every stage's
read I/O. The re-read survives only as the opt-in ``audit_lineage`` mode,
which recomputes the fingerprint from the materialized files, CROSS-CHECKS
it against the observed one (fail-loud on torn/partial output), and adds the
per-partition hash breakdown to the manifest.

The reference has no analog (single-shot CLI, per-document try/catch,
orchestrator/EntityMatchingOrchestrator.java:140-187); at 10^12-turn scale
every stage must be independently resumable.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

MANIFEST_NAME = "_manifest.json"


def _row_hash(columns: list[str]) -> F.Column:
    """Order-independent per-row digest: xxhash64 over the SORTED column
    list (sorted so the pre-write plan and a post-write re-read — where
    ``partitionBy`` columns move to the end of the schema — hash the same
    bytes), summed in decimal so the total cannot overflow under ANSI mode.
    Makes the manifest fingerprint CONTENT-sensitive: a same-cardinality,
    same-schema recompute with different values still invalidates downstream
    checkpoints (plans/pipeline._fingerprint includes it)."""
    return F.xxhash64(*sorted(columns)).cast("decimal(25,0)")


class StageCheckpointer:
    def __init__(
        self,
        base_dir: str,
        run_id: str = "run",
        table_format: str = "parquet",
        audit_lineage: bool = False,
    ):
        self.base_dir = base_dir
        self.run_id = run_id
        self.table_format = table_format
        self.audit_lineage = audit_lineage
        os.makedirs(base_dir, exist_ok=True)

    # -- paths ---------------------------------------------------------------
    def stage_dir(self, stage: str) -> str:
        return os.path.join(self.base_dir, stage)

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self.base_dir, f"{stage}{MANIFEST_NAME}")

    # -- manifest ------------------------------------------------------------
    def manifest(self, stage: str) -> dict | None:
        p = self._manifest_path(stage)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def is_complete(self, stage: str, params_hash: str, upstream_hash: str = "") -> bool:
        m = self.manifest(stage)
        return (
            m is not None
            and m.get("params_hash") == params_hash
            and m.get("upstream_hash", "") == upstream_hash
            and m.get("status") == "complete"
        )

    # -- write / read --------------------------------------------------------
    def write(
        self,
        stage: str,
        df: DataFrame,
        params_hash: str,
        upstream_hash: str = "",
        partition_by: list[str] | None = None,
    ) -> dict:
        """Materialize a stage + manifest. Returns the manifest dict.

        The lineage metrics (rows + content hash) are observed DURING the
        write — one scan per stage. ``audit_lineage=True`` additionally
        re-reads the materialized output, verifies the recomputed fingerprint
        equals the observed one, and records the per-partition breakdown.
        """
        # the overwrite below clobbers the previous run's files before any
        # check can raise, so drop its manifest first: a failed write must
        # leave the stage incomplete, never vouched for by a stale manifest
        with contextlib.suppress(FileNotFoundError):
            os.remove(self._manifest_path(stage))
        path = self.stage_dir(stage)
        obs = Observation()
        # Empty-string values in a STRING partition column do not round-trip:
        # the writer materializes '' as __HIVE_DEFAULT_PARTITION__ and every
        # reader parses that back as NULL, so the audit re-read would hash
        # differently from the pre-write plan (xxhash64 is NULL-sensitive) and
        # blame intact files. Counting them rides the same write scan as the
        # lineage metrics (one extra conditional sum per string partition
        # column — no second pass) so BOTH modes fail with the real cause
        # before persisting a checkpoint that cannot round-trip.
        dtypes = dict(df.dtypes)
        empty_part_cols = [
            c for c in (partition_by or []) if dtypes.get(c) == "string"
        ]
        observed = df.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.sum(_row_hash(df.columns)).alias("chash"),
            *[
                F.sum(F.when(F.col(c) == "", 1).otherwise(0)).alias(f"empty_{i}")
                for i, c in enumerate(empty_part_cols)
            ],
        )
        t0 = time.time()
        if self.table_format == "iceberg":
            # Iceberg catalog path (no Iceberg runtime jar in this sandbox;
            # kept as the production switch — identical lineage manifest
            # either way). DataFrameWriterV2 carries the partitioning, and the
            # read-back goes through the catalog, not a parquet path.
            writer_v2 = observed.writeTo(self._table_name(stage))  # pragma: no cover
            if partition_by:  # pragma: no cover
                writer_v2 = writer_v2.partitionedBy(*[F.col(c) for c in partition_by])
            writer_v2.createOrReplace()  # pragma: no cover
        else:
            writer = observed.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(path)
        wall_ms = int((time.time() - t0) * 1000)
        vals = obs.get  # the write action already completed; no extra job
        output_rows = vals["rows"]
        content_hash = str(vals["chash"])

        # per-partition lineage without re-reading data: the materialized
        # part files (name + bytes) from FS METADATA only — at 100 TB a
        # listing, not a scan. The per-partition CONTENT hashes need a
        # re-read and live behind audit_lineage.
        files: list[dict] = []
        if self.table_format != "iceberg":
            for root, _dirs, names in os.walk(path):
                for n in sorted(names):
                    if n.startswith("part-"):
                        rel = os.path.relpath(os.path.join(root, n), path)
                        files.append(
                            {"file": rel, "bytes": os.path.getsize(os.path.join(root, n))}
                        )
            files.sort(key=lambda x: x["file"])

        # enforced in BOTH modes, not just under audit: a checkpoint whose
        # read-back differs from what was written ('' -> NULL) would make a
        # RESUMED run silently diverge from a fresh one, and the manifest's
        # observed pre-write hash would no longer describe the on-disk data.
        # The counters already rode the write scan, so the check is free.
        for i, c in enumerate(empty_part_cols):
            n_empty = vals.get(f"empty_{i}") or 0
            if n_empty > 0:
                raise RuntimeError(
                    f"stage {stage}: partition column {c!r} has {n_empty} "
                    f"empty-string value(s) — '' is written as "
                    f"__HIVE_DEFAULT_PARTITION__ and reads back as NULL, so "
                    f"this checkpoint would not round-trip (a resumed run "
                    f"reading it would diverge from a fresh run, and the "
                    f"lineage audit's re-read hash would differ on intact "
                    f"files); coalesce '' to NULL or a sentinel before "
                    f"checkpointing, or drop the column from partition_by"
                )

        per_part: list[dict] = []
        if self.audit_lineage:
            spark = df.sparkSession
            if self.table_format == "iceberg":
                # the catalog preserves declared types — no inference
                written = self.read(spark, stage)  # pragma: no cover
            else:
                # pin the read to the PRE-WRITE schema: parquet partition-
                # column inference would re-read a string partition value
                # like '00' as int 0 — and xxhash64 is type-sensitive, so
                # the audit would raise on perfectly intact data. A post-hoc
                # cast back cannot fix this (int 0 round-trips to '0', not
                # the original '00'); supplying the schema makes Spark parse
                # the raw directory value directly into the declared type.
                written = spark.read.schema(df.schema).parquet(path)
            rh = _row_hash(written.columns)
            per_part = [
                {
                    "partition_id": r["pid"],
                    "rows": r["rows"],
                    "content_hash": str(r["chash"]),
                }
                for r in written.groupBy(F.spark_partition_id().alias("pid"))
                .agg(F.count("*").alias("rows"), F.sum(rh).alias("chash"))
                .orderBy("pid").collect()
            ]
            audit_rows = sum(p["rows"] for p in per_part)
            audit_hash = str(sum(int(p["content_hash"]) for p in per_part)) if per_part else str(None)
            if audit_rows != output_rows or audit_hash != content_hash:
                raise RuntimeError(
                    f"stage {stage}: lineage audit mismatch — observed "
                    f"(rows={output_rows}, hash={content_hash}) vs materialized "
                    f"(rows={audit_rows}, hash={audit_hash}); the written files "
                    f"do not match what the plan produced"
                )

        m = {
            "stage": stage,
            "run_id": self.run_id,
            "status": "complete",
            "params_hash": params_hash,
            "upstream_hash": upstream_hash,
            "output_rows": output_rows,
            "content_hash": content_hash,
            "wall_ms": wall_ms,
            "table_format": self.table_format,
            "path": path,
            "files": files,
            "partitions": per_part,
            "schema": df.schema.simpleString(),
        }
        with open(self._manifest_path(stage), "w") as f:
            json.dump(m, f, indent=2)
        return m

    def _table_name(self, stage: str) -> str:
        """Catalog table identifier for iceberg mode (run-scoped namespace)."""
        return f"em_{self.run_id}.{stage}"

    def read(self, spark: SparkSession, stage: str) -> DataFrame:
        if self.table_format == "iceberg":
            return spark.read.table(self._table_name(stage))  # pragma: no cover
        return spark.read.parquet(self.stage_dir(stage))

    def metrics(self) -> list[dict]:
        """All stage manifests (the run's lineage/metrics sidecar table)."""
        out = []
        for fn in sorted(os.listdir(self.base_dir)):
            if fn.endswith(MANIFEST_NAME):
                with open(os.path.join(self.base_dir, fn)) as f:
                    out.append(json.load(f))
        return out
