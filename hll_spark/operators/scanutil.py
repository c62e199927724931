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
two frames compute the same result), and ``reused``, the library's one
lineage cut. Every frame a plan reads more than once (a self-join, a
rejoin after a shuffle, a loop-invariant frame) and the rounds of the
iterative operators (connected components, PageRank, the classifier's
gradient descent) are cut through it; no other module calls
``localCheckpoint``, ``checkpoint``, ``cache`` or ``persist``
(``tests/test_lineage_cut.py`` checks this).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# inputs above this are left to their natural splits (an exchange of
# this much data is no longer "trivial")
FAN_OUT_MAX_BYTES = 4 << 30


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


def plan_is_small(df: DataFrame) -> bool:
    """True when ``df``'s optimized-plan size estimate is available and
    under FAN_OUT_MAX_BYTES.

    Use on frames whose statistics are trustworthy (scans, cached
    frames, pre-join inputs): join outputs inherit multiplied
    cardinality estimates that can read in the terabytes for
    kilobyte-sized results, so gate on the join's INPUT, not its
    output. Callers use this to force CPU-bound stages wide on small
    inputs, where AQE's byte-floor (minPartitionSize) would otherwise
    coalesce a compute-heavy shuffle down to a couple of tasks; on
    large inputs the byte volume itself gives AQE the parallelism and
    the caller leaves the plan alone."""
    stats = plan_stats(df)
    return stats is not None and stats[0] <= FAN_OUT_MAX_BYTES


def fan_out_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition ``df`` to the default parallelism when
    (and only when) its scan is parallelism-starved and small.

    Returns ``df`` unchanged when statistics are unavailable, when the
    input is estimated above FAN_OUT_MAX_BYTES (4 GiB), or when the
    scan already yields at least half the session's default
    parallelism. Row content is untouched — only the partitioning
    changes, so any per-row map or keyed aggregation downstream
    computes identical results.
    """
    stats = plan_stats(df)
    if stats is None:  # non-classic backend — leave the plan alone
        return df
    size, parts = stats
    target = df.sparkSession.sparkContext.defaultParallelism
    if size > FAN_OUT_MAX_BYTES or parts * 2 >= target:
        return df
    return df.repartition(target)


def reused(df: DataFrame) -> DataFrame:
    """``df`` with its lineage cut: the library's one cut, for a frame a
    plan reads more than once (both sides of a self-join, a rejoin after
    a shuffle, a loop-invariant frame) and for each round of an
    iterative operator, whose plan would otherwise grow per round.

    A local checkpoint, computed when this is called: every read in
    the plan built on the returned frame scans its blocks. Nothing
    registers with the session's cache, so no frame outlives the call
    that built it: the blocks live while the returned frame is
    referenced, and Spark's ContextCleaner frees them after that.

    Eager, not lazy: a lazy checkpoint cuts its lineage after the first
    job that reads it, while AQE's other query-stage jobs of the same
    plan still run tasks of the cut lineage; the driver has dropped
    those tasks' SQL metrics by then and logs "attempted to access
    non-existent accumulator" per metric (sf0.1, ``local[4]`` on a
    4-CPU VM: 39 such lines over 6 processes that each ran the 11
    cutting queries 4 times with lazy cuts, none with eager ones). The
    eager cut's extra job per cut moved no query's median past the lazy
    form's interquartile range in an interleaved A/B on the same setup.
    Local checkpoint blocks are lost with their executor, and a read of
    a lost block fails the query instead of recomputing it; a reliable
    ``checkpoint()`` would survive that but leaves its files behind
    unless ``spark.cleaner.referenceTracking.cleanCheckpoints`` is on."""
    return df.localCheckpoint(eager=True)
