"""Scan-parallelism repair for compute-heavy per-row stages.

Single-file parquet inputs written as one row group cannot be split:
however small ``files.maxPartitionBytes`` is, only the split containing
the row-group midpoint produces rows, so a CPU-heavy stage directly on
top of the scan (n-gram explosion, perplexity scoring, media decode)
runs on ONE core regardless of cluster size — the "input skew: one huge
unsplittable file" case of the optimization playbook (§2.5), whose
prescribed fix is a repartition immediately after the read.

``fan_out_scan`` applies that fix ONLY when it is provably cheap and
useful: the plan's estimated input size must be small enough that one
extra round-robin exchange is trivial next to the per-row work it
unlocks, and the estimated split count must be well below the session's
default parallelism. At scale neither condition holds (a 100 TB table
has thousands of natural splits and the guard sees the size), so the
exchange vanishes from the plan exactly where it would hurt — this is a
plan decision from input statistics, not a local-mode constant.

The module also holds the plan probes the rest of the library shares:
``plan_stats`` (size and split estimates) and ``same_result`` (whether
two frames compute the same result), and ``reused``, the one way a plan
reads an expensive frame more than once.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

# inputs above this are left to their natural splits (an exchange of
# this much data is no longer "trivial"); override per deployment
FAN_OUT_MAX_BYTES = int(
    os.environ.get("HLL_SPARK_FAN_OUT_MAX_BYTES", str(4 << 30))
)


# training/corpus inputs estimated above this (logical-plan stats) get
# a lineage cut where a frame feeds several consumers: below it the
# duplicate subtrees overlap on idle cores and the materialization costs
# more than it saves (interleaved A/B, r6; re-checked at 10x scale)
LINEAGE_CUT_MIN_BYTES = 1 << 30


def plan_stats(df: DataFrame) -> tuple[int, int] | None:
    """(estimated bytes, estimated split count) from the optimized
    logical plan's statistics — no job, no physical planning beyond
    what the coming action does anyway. The split count is the byte
    estimate over ``files.maxPartitionBytes``. None when statistics are
    unavailable (a backend without ``_jdf``, e.g. Spark Connect); every
    caller owns its fallback."""
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        max_pb = int(
            df.sparkSession._jsparkSession.sessionState()
            .conf()
            .filesMaxPartitionBytes()
        )
    except Exception:
        return None
    return size, max(1, -(-size // max(max_pb, 1)))


def plan_hash(df: DataFrame) -> int:
    """32-bit semantic hash of ``df``'s analyzed plan (a cheap filter
    for :func:`same_result`, never an identity on its own)."""
    return df._jdf.queryExecution().analyzed().semanticHash()


def same_result(a: DataFrame, b: DataFrame) -> bool:
    """Whether two frames compute the same result: the analyzed plans'
    semantic hashes match AND ``sameResult`` confirms it (a hash
    collision must not stand in for another input). Object identity
    where the plans are unavailable (non-JVM backends)."""
    if a is b:
        return True
    try:
        return plan_hash(a) == plan_hash(b) and bool(
            a._jdf.queryExecution().analyzed().sameResult(
                b._jdf.queryExecution().analyzed()
            )
        )
    except Exception:
        return False


def plan_bytes(df: DataFrame) -> int:
    """Optimized-logical-plan size estimate in bytes; 0 when stats are
    unavailable (callers treat that as 'not provably large')."""
    stats = plan_stats(df)
    return stats[0] if stats is not None else 0


def plan_is_small(df: DataFrame, max_bytes: int | None = None) -> bool:
    """True when ``df``'s optimized-plan size estimate is available and
    under ``max_bytes`` (default FAN_OUT_MAX_BYTES).

    Use on frames whose statistics are trustworthy (scans, cached
    frames, pre-join inputs): join outputs inherit multiplied
    cardinality estimates that can read in the terabytes for
    kilobyte-sized results, so gate on the join's INPUT, not its
    output. Callers use this to force CPU-bound stages wide on small
    inputs, where AQE's byte-floor (minPartitionSize) would otherwise
    coalesce a compute-heavy shuffle down to a couple of tasks; on
    large inputs the byte volume itself gives AQE the parallelism and
    the caller leaves the plan alone."""
    if max_bytes is None:
        max_bytes = FAN_OUT_MAX_BYTES
    stats = plan_stats(df)
    return stats is not None and stats[0] <= max_bytes


def fan_out_scan(df: DataFrame, max_bytes: int | None = None) -> DataFrame:
    """Round-robin repartition ``df`` to the default parallelism when
    (and only when) its scan is parallelism-starved and small.

    Returns ``df`` unchanged when statistics are unavailable, when the
    input is estimated above ``max_bytes`` (default 4 GiB, env
    ``HLL_SPARK_FAN_OUT_MAX_BYTES``), or when the scan already yields
    at least half the session's default parallelism. Row content is
    untouched — only the partitioning changes, so any per-row map or
    keyed aggregation downstream computes identical results.
    """
    if max_bytes is None:
        max_bytes = FAN_OUT_MAX_BYTES
    stats = plan_stats(df)
    if stats is None:  # non-classic backend — leave the plan alone
        return df
    size, parts = stats
    target = df.sparkSession.sparkContext.defaultParallelism
    if size > max_bytes or parts * 2 >= target:
        return df
    return df.repartition(target)


def reused(df: DataFrame) -> DataFrame:
    """``df`` materialized once for a plan that reads it more than once
    (both sides of a self-join, a rejoin after a shuffle).

    A local checkpoint, computed when this is called: every read in
    the plan built on the returned frame scans its blocks. Nothing
    registers with the session's cache, so no frame outlives the call
    that built it: the blocks live while the returned frame is
    referenced, and Spark's ContextCleaner frees them after that.

    Eager, not lazy: a lazy checkpoint cuts its lineage after the first
    job that reads it, while AQE's other query-stage jobs of the same
    plan still run tasks of the cut lineage; the driver has dropped
    those tasks' SQL metrics by then and logs "attempted to access
    non-existent accumulator" per metric. The lazy form was also
    slower in an interleaved A/B at sf0.1 (minhash_join_parity 0.61 s
    vs 0.55 s). Local checkpoint blocks are lost with their executor,
    and a read of a lost block fails the query instead of recomputing
    it (a reliable checkpoint would not)."""
    return df.localCheckpoint(eager=True)
