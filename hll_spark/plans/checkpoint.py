"""Checkpoint/resume for sketch jobs — per-partition lineage + metrics.

north_rule: jobs must be "resumable from checkpoint with per-partition
lineage + metrics". Because sketch merges are associative (byte-exact for
HLL/CMS/Bloom), a job is resumable at the level-0 boundary: once the
per-partition partial sketches are durable, the merge/estimate stages can
be replayed from them at any time and produce byte-identical results.

Storage degrades gracefully (SURVEY.md §7.3 risk 6): Iceberg when a
catalog is configured on the session, plain parquet directories
otherwise — the sketch bytes are identical either way.

Layout (parquet mode):
  <root>/<job_id>/<stage>/            partial rows + lineage columns
  <root>/<job_id>/<stage>__metrics/   one row per write (stage metrics)

Lineage columns added to every checkpointed stage: job_id, stage,
partition_id (the level-0 bucket), rows_seen, wall_ms, written_at.
"""

from __future__ import annotations

import time

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.agg import SketchSpec, merge_sketch_partials, sketch_partials


class CheckpointStore:
    """Parquet-or-Iceberg checkpoint storage with stage-level resume."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        self._iceberg = "." in root and any(
            k.startswith("spark.sql.catalog.")
            for k, _ in spark.sparkContext.getConf().getAll()
        )

    def _target(self, job_id: str, stage: str) -> str:
        if self._iceberg:
            return f"{self.root}_{job_id}_{stage}"
        return f"{self.root}/{job_id}/{stage}"

    def exists(self, job_id: str, stage: str) -> bool:
        target = self._target(job_id, stage)
        if self._iceberg:
            return self.spark.catalog.tableExists(target)
        try:
            # schema resolution lists the footer driver-side — probe
            # presence without scheduling the job a limit(1).count()
            # would (two exists() probes per resumable aggregate)
            self.spark.read.parquet(target).schema
            return True
        except Exception:
            return False

    def read(self, job_id: str, stage: str) -> DataFrame:
        target = self._target(job_id, stage)
        if self._iceberg:
            return self.spark.read.table(target)
        return self.spark.read.parquet(target)

    def write(self, df: DataFrame, job_id: str, stage: str) -> None:
        target = self._target(job_id, stage)
        if self._iceberg:
            df.writeTo(target).createOrReplace()
        else:
            df.write.mode("overwrite").parquet(target)

    def append_metrics(self, job_id: str, stage: str, metrics: dict) -> None:
        mstage = f"{stage}__metrics"
        target = self._target(job_id, mstage)
        from ..localdf import fast_local_df

        row = {
            k: v.item() if isinstance(v, np.generic) else v
            for k, v in metrics.items()
        }
        row.update({"job_id": job_id, "stage": stage, "written_at": time.time()})
        keys = sorted(row)
        types = {
            bool: "boolean", int: "bigint", float: "double", str: "string",
        }
        prior = {}
        if any(row[k] is None for k in keys) and self.exists(job_id, mstage):
            # a null keeps the column's type from earlier appends, so
            # every file under the metrics path has one schema
            prior = {
                f.name: f.dataType.simpleString()
                for f in self.read(job_id, mstage).schema
            }

        def sql_type(k):
            if row[k] is None:
                return prior.get(k, "bigint")
            return types.get(type(row[k]), "string")

        schema = ", ".join(f"`{k}` {sql_type(k)}" for k in keys)
        vals = tuple(
            row[k] if row[k] is None or type(row[k]) in types else str(row[k])
            for k in keys
        )
        mdf = fast_local_df(self.spark, [vals], schema)
        if self._iceberg:
            try:
                mdf.writeTo(target).append()
            except Exception:
                mdf.writeTo(target).createOrReplace()
        else:
            mdf.write.mode("append").parquet(target)

    def read_metrics(self, job_id: str, stage: str) -> DataFrame:
        return self.read(job_id, f"{stage}__metrics")


def checkpointed_sketch_aggregate(
    df: DataFrame,
    col: str,
    spec: SketchSpec,
    store: CheckpointStore,
    job_id: str,
    by: list[str] | None = None,
    hash_mode: str | None = "xxhash64",
    merge_buckets: int = 16,
    force_recompute: bool = False,
) -> DataFrame:
    """Sketch aggregation with a durable level-0 checkpoint.

    If the ``partials`` stage exists for ``job_id``, the scan/build is
    skipped entirely and the merge replays from the checkpoint — the
    result is byte-identical to an uninterrupted run (exact merge
    associativity). Lineage (job_id/stage/partition/rows/wall clock) and
    stage metrics are recorded on first build.
    """
    stage = "partials"
    if force_recompute or not store.exists(job_id, stage):
        t0 = time.time()
        partials = sketch_partials(
            df, col, spec, by=by, hash_mode=hash_mode, merge_buckets=merge_buckets
        )
        lineage = (
            partials.withColumn("job_id", F.lit(job_id))
            .withColumn("stage", F.lit(stage))
            .withColumn("written_at", F.lit(time.time()))
        )
        if not by:
            lineage = lineage.withColumnRenamed("bucket", "partition_id")
        store.write(lineage, job_id, stage)
        wall_ms = (time.time() - t0) * 1000
        persisted = store.read(job_id, stage)
        # one aggregate job for both stage metrics (was a count job
        # plus a separate sum job over the same checkpoint)
        mrow = persisted.agg(
            F.count(F.lit(1)).alias("__n"), F.sum("rows_seen").alias("__r")
        ).collect()[0]
        store.append_metrics(
            job_id,
            stage,
            {
                "n_partials": mrow["__n"],
                "rows_seen": mrow["__r"],
                "wall_ms": wall_ms,
                "sketch_name": spec.name,
            },
        )
    saved = store.read(job_id, stage)
    # Resume-shape guard: a checkpoint written with a different grouping
    # must fail with an operator-facing message, not an unresolved-column
    # AnalysisException deep in the merge plan (found via the
    # spark-submit surface: --job-id reuse across --by changes).
    lineage_cols = {"sketch", "rows_seen", "job_id", "stage", "written_at"}
    stored_keys = sorted(c for c in saved.columns if c not in lineage_cols)
    expected_keys = sorted(by) if by else ["partition_id"]
    if stored_keys != expected_keys:
        raise ValueError(
            f"checkpoint for job_id={job_id!r} was written with key "
            f"columns {stored_keys} but this run expects {expected_keys} "
            "— the grouping (by=...) changed between runs of the same "
            "job id. Use a new job_id or pass force_recompute=True."
        )
    if not by:
        saved = saved.withColumnRenamed("partition_id", "bucket")
    cols = (list(by) if by else ["bucket"]) + ["sketch", "rows_seen"]
    return merge_sketch_partials(saved.select(*cols), spec, by)
