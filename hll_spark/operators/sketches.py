"""Spark-level APIs for the companion sketches (CMS, Bloom, KLL, t-digest).

All four reuse the generic two-level scaffold in :mod:`.agg` — one
implementation of the partial-build/tree-merge topology, five sketches
(SURVEY.md §7.1 step 5). Hash-based sketches (CMS, Bloom) hash JVM-side
via xxhash64; quantile sketches (KLL, t-digest) ship raw doubles over
Arrow and never run per-row Python.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..sketchlib.bloom import BloomFilter
from ..sketchlib.cms import CountMinSketch
from ..sketchlib.kll import KllSketch
from ..sketchlib.tdigest import TDigest
from .agg import SketchSpec, sketch_aggregate, sketch_udf


# ---------------------------------------------------------------------------
# specs


def cms_spec(depth: int = 5, width: int = 2048) -> SketchSpec:
    def update(state: CountMinSketch, values: np.ndarray) -> CountMinSketch:
        state.add_hashed(values)
        return state

    return SketchSpec(
        name="cms",
        zero_fn=lambda: CountMinSketch(depth, width),
        update_fn=update,
        merge_fn=lambda a, b: a.merge(b),
        to_bytes_fn=lambda s: s.to_bytes(),
        from_bytes_fn=CountMinSketch.from_bytes,
    )


def bloom_spec(m_bits: int = 1 << 20, k: int = 7) -> SketchSpec:
    def update(state: BloomFilter, values: np.ndarray) -> BloomFilter:
        state.add_hashed(values)
        return state

    return SketchSpec(
        name="bloom",
        zero_fn=lambda: BloomFilter(m_bits, k),
        update_fn=update,
        merge_fn=lambda a, b: a.merge(b),
        to_bytes_fn=lambda s: s.to_bytes(),
        from_bytes_fn=BloomFilter.from_bytes,
    )


def kll_spec(k: int = 200) -> SketchSpec:
    def update(state: KllSketch, values: np.ndarray) -> KllSketch:
        state.update(values)
        return state

    return SketchSpec(
        name="kll",
        zero_fn=lambda: KllSketch(k),
        update_fn=update,
        merge_fn=lambda a, b: a.merge(b),
        to_bytes_fn=lambda s: s.to_bytes(),
        from_bytes_fn=KllSketch.from_bytes,
    )


def tdigest_spec(delta: float = 200.0) -> SketchSpec:
    def update(state: TDigest, values: np.ndarray) -> TDigest:
        state.update(values)
        return state

    return SketchSpec(
        name="tdigest",
        zero_fn=lambda: TDigest(delta),
        update_fn=update,
        merge_fn=lambda a, b: a.merge(b),
        to_bytes_fn=lambda s: s.to_bytes(),
        from_bytes_fn=TDigest.from_bytes,
    )


# ---------------------------------------------------------------------------
# CMS: heavy hitters / frequency estimates


def cms_sketch_agg(
    df: DataFrame,
    col: str,
    by: list[str] | None = None,
    depth: int = 5,
    width: int = 2048,
) -> DataFrame:
    """Aggregate a CMS over ``col`` (columns: *by, sketch, rows_seen)."""
    return sketch_aggregate(df, col, cms_spec(depth, width), by, "xxhash64")


def cms_build(
    df: DataFrame,
    col: str,
    depth: int = 5,
    width: int = 2048,
    max_driver_groups: int = 200_000,
) -> bytes:
    """CMS build; returns serialized bytes.

    Scale-aware: the per-value counts are first reduced JVM-side
    (``groupBy(xxhash64(col)).count()`` — whole-stage codegen, one
    shuffle of (hash, count) pairs). If the distinct-value count fits
    under ``max_driver_groups`` (probed via LIMIT), the weighted
    insert runs once on the driver — bit-identical to n individual
    adds since CMS updates are pure counter additions. Heavy-domain
    inputs fall back to the distributed partial/merge build.
    """
    grouped = (
        df.where(F.col(col).isNotNull())
        .groupBy(F.xxhash64(F.col(col)).alias("__h"))
        .count()
        .limit(max_driver_groups + 1)
        .toPandas()
    )
    if len(grouped) <= max_driver_groups:
        cms = CountMinSketch(depth, width)
        cms.add_hashed(
            grouped["__h"].to_numpy(np.int64),
            grouped["count"].to_numpy(np.uint64),
        )
        return cms.to_bytes()
    return bytes(
        cms_sketch_agg(df, col, depth=depth, width=width).collect()[0]["sketch"]
    )


def cms_frequencies(
    df: DataFrame,
    col: str,
    items_df: DataFrame,
    depth: int = 5,
    width: int = 2048,
    alias: str = "est_count",
) -> DataFrame:
    """Estimate the frequency of each row of ``items_df[col]``.

    The CMS is built over ``df`` then broadcast (it is a few hundred
    KB) and probed batch-wise by :func:`~.agg.sketch_udf` — the
    scale-path pattern for "how often does each of these K items occur
    in 100 TB".
    """
    bc = df.sparkSession.sparkContext.broadcast(cms_build(df, col, depth, width))
    return items_df.withColumn(alias, cms_query_udf(bc)(F.xxhash64(F.col(col))))


def _query_counts(sketch, hashes: np.ndarray) -> np.ndarray:
    """Point estimates of a CMS or count sketch, as int64."""
    return sketch.query_hashed(hashes).astype(np.int64)


def cms_query_udf(cms_bytes):
    """hashed item column -> estimated count, probing one CMS's bytes
    (or a Broadcast of them)."""
    return sketch_udf(CountMinSketch.from_bytes, _query_counts, LongType(), probe=cms_bytes)


# ---------------------------------------------------------------------------
# Bloom: membership / join pre-filter


def bloom_build(
    df: DataFrame,
    col: str,
    m_bits: int = 1 << 20,
    k: int = 7,
    max_driver_keys: int = 1_000_000,
) -> bytes:
    """Bloom build; returns serialized filter bytes.

    Scale-aware: when the distinct key count fits under
    ``max_driver_keys`` (probed with a LIMIT — at most ~8 MB of int64
    hashes), the keys are collected once and inserted driver-side in
    one numpy pass, skipping the two-Python-stage distributed scaffold
    whose fixed latency dwarfs a small dim build. Above the threshold
    it falls back to the distributed partial/merge build (bitmap OR is
    exactly associative), which is the right shape for a 10^8-row dim.
    """
    probe = (
        df.select(F.xxhash64(F.col(col)).alias("__h"))
        .distinct()
        .limit(max_driver_keys + 1)
        .toPandas()
    )
    if len(probe) <= max_driver_keys:
        bf = BloomFilter(m_bits, k)
        bf.add_hashed(probe["__h"].to_numpy(np.int64))
        return bf.to_bytes()
    row = sketch_aggregate(df, col, bloom_spec(m_bits, k), None, "xxhash64").collect()[0]
    return bytes(row["sketch"])


def bloom_filter_join(
    fact: DataFrame,
    fact_col: str,
    dim: DataFrame,
    dim_col: str,
    m_bits: int = 1 << 20,
    k: int = 7,
) -> DataFrame:
    """Pre-filter ``fact`` rows whose ``fact_col`` cannot be in
    ``dim[dim_col]`` (no false negatives: never drops a real match).

    At scale this runs before the shuffle of a fact-dim join, cutting
    shuffle volume by the non-matching fraction; the bitmap is broadcast.
    """
    bc = fact.sparkSession.sparkContext.broadcast(bloom_build(dim, dim_col, m_bits, k))
    return fact.where(bloom_might_contain_udf(bc)(F.xxhash64(F.col(fact_col))))


def bloom_might_contain_udf(bloom_bytes):
    """hashed item column -> membership boolean against one Bloom
    filter's bytes (or a Broadcast of them)."""
    return sketch_udf(
        BloomFilter.from_bytes, BloomFilter.might_contain_hashed, BooleanType(), probe=bloom_bytes
    )


# ---------------------------------------------------------------------------
# quantile sketches


def _quantiles(df: DataFrame, col: str, spec: SketchSpec, qs, by) -> DataFrame:
    """``*by`` and one double column per requested quantile (``q0_5``
    for 0.5), answered in the merge task from each merged sketch; an
    empty sketch's NaN is NULL. A repeated quantile is answered once
    and selected twice (an Arrow batch cannot repeat a field name)."""
    names = [f"q{str(q).replace('.', '_')}" for q in qs]
    uniq = dict(zip(names, qs))

    def quantiles(states, _counts):
        return [[s.quantile(q) for s in states] for q in uniq.values()]

    fields = [StructField(n, DoubleType()) for n in uniq]
    merged = sketch_aggregate(df, col, spec, by, hash_mode=None, answer=(fields, quantiles))
    return merged.select(*(by or []), *names)


def kll_quantiles(
    df: DataFrame,
    col: str,
    qs: list[float],
    by: list[str] | None = None,
    k: int = 200,
) -> DataFrame:
    """Approximate quantiles of ``col`` via KLL (rank error ~ O(1/k))."""
    return _quantiles(df, col, kll_spec(k), qs, by)


def kll_range_buckets(
    df: DataFrame,
    col: str,
    n_buckets: int,
    k: int = 200,
) -> tuple[DataFrame, list[float]]:
    """Sketch-driven range bucketing — the classic 100 TB shuffle
    primitive: ONE KLL pass estimates the n_buckets-quantile
    boundaries of ``col``, then every row gets a ``bucket`` column
    (0..n_buckets-1) from a pure codegen expression, giving
    balanced range partitions for a later sort / range join / write
    layout without ever globally sorting the data (this is how
    Spark's own RangePartitioner samples, with a mergeable sketch
    replacing reservoir sampling so the pass composes with any other
    aggregation).

    Returns ``(df_with_bucket, boundaries)``; boundaries has
    n_buckets-1 ascending cut values, and a row lands in bucket
    ``#{b : value > b}`` (values equal to a boundary go LOW, so the
    rule is total and engine-independent).

    At k >= n the sketch is in its exact regime and boundary i is
    exactly the order statistic at 1-based rank max(1, ceil(i/n * N))
    — which is what makes the operator ORACLE-checkable; at k=200 the
    boundaries are approximate (O(1/k) rank error) but the bucket
    assignment stays exact with respect to them.
    """
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    row = sketch_aggregate(df, col, kll_spec(k), None, hash_mode=None).collect()[0]
    sk = KllSketch.from_bytes(bytes(row["sketch"]))
    qs = [i / n_buckets for i in range(1, n_buckets)]
    boundaries = [float(sk.quantile(q)) for q in qs]
    bounds_arr = F.array(*[F.lit(b) for b in boundaries])
    bucket = F.size(
        F.filter(bounds_arr, lambda b: F.col(col) > b)
    ).alias("bucket")
    return df.withColumn("bucket", bucket), boundaries


def tdigest_quantiles(
    df: DataFrame,
    col: str,
    qs: list[float],
    by: list[str] | None = None,
    delta: float = 200.0,
) -> DataFrame:
    """Approximate quantiles of ``col`` via t-digest (tail-accurate)."""
    return _quantiles(df, col, tdigest_spec(delta), qs, by)


# ---------------------------------------------------------------------------
# theta (KMV) sketch: distinct + DIRECT set-operation estimates


def theta_spec(k: int = 4096) -> SketchSpec:
    from ..sketchlib.theta import ThetaSketch

    def update(state: ThetaSketch, values: np.ndarray) -> ThetaSketch:
        return state.add_hashed(values)

    return SketchSpec(
        name="theta",
        zero_fn=lambda: ThetaSketch(k=k),
        update_fn=update,
        merge_fn=lambda a, b: a.union(b),
        to_bytes_fn=lambda s: s.to_bytes(),
        from_bytes_fn=ThetaSketch.from_bytes,
    )


def theta_sketch_agg(
    df: DataFrame,
    col: str,
    k: int = 4096,
    by: list[str] | None = None,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """(by..., sketch, rows_seen) theta sketches via the shared
    two-level scaffold (same partial/merge topology as HLL)."""
    return sketch_aggregate(df, col, theta_spec(k), by, hash_mode)


def theta_estimate_udf():
    """sketch bytes -> distinct estimate (double)."""
    from ..sketchlib.theta import ThetaSketch

    return sketch_udf(ThetaSketch.from_bytes, ThetaSketch.estimate_float, DoubleType())


def theta_intersect_udf():
    """DIRECT |A∩B| estimate — no inclusion-exclusion: error scales with
    the intersection, not the union (the analytical gap HLL cannot close)."""
    from ..sketchlib.theta import ThetaSketch

    return sketch_udf(ThetaSketch.from_bytes, ThetaSketch.intersect_estimate, DoubleType())


def theta_difference_udf():
    """DIRECT |A \\ B| estimate."""
    from ..sketchlib.theta import ThetaSketch

    return sketch_udf(ThetaSketch.from_bytes, ThetaSketch.difference_estimate, DoubleType())


# ---------------------------------------------------------------------------
# Misra-Gries / SpaceSaving: mergeable frequent-items summary


def mg_spec(k: int = 256) -> SketchSpec:
    from ..sketchlib.mg import MisraGries

    def update(state: MisraGries, values: np.ndarray) -> MisraGries:
        return state.update(values)

    return SketchSpec(
        name="mg",
        zero_fn=lambda: MisraGries(k),
        update_fn=update,
        merge_fn=lambda a, b: a.merge(b),
        to_bytes_fn=lambda s: s.to_bytes(),
        from_bytes_fn=MisraGries.from_bytes,
    )


def mg_sketch_agg(
    df: DataFrame,
    col: str,
    k: int = 256,
    by: list[str] | None = None,
) -> DataFrame:
    """(by..., sketch, rows_seen) Misra-Gries summaries via the shared
    two-level scaffold. Items ship as raw strings (hash_mode='raw'):
    the summary must report the items themselves, and the per-batch
    cost is one C-level value_counts, not per-row Python."""
    return sketch_aggregate(df, col, mg_spec(k), by, hash_mode="raw")


def mg_top_items(
    df: DataFrame,
    col: str,
    top_n: int = 10,
    k: int = 256,
    by: list[str] | None = None,
) -> DataFrame:
    """Top-N frequent items per group with lower-bound counts and the
    summary's error bound.

    Output: (*by, item, count_lb, error_bound) — ``count_lb <= true
    count <= count_lb + error_bound`` and ``error_bound <= n/(k+1)``
    regardless of merge order (mergeable MG). With ``k`` >= the column's
    distinct count the bound is 0 and counts are EXACT — the regime the
    oracle-checked driver query pins. Unlike CMS heavy hitters, no
    candidate set is needed: the summary carries the items.
    """
    entry = StructType(
        [
            StructField("item", StringType()),
            StructField("count_lb", LongType()),
            StructField("error_bound", LongType()),
        ]
    )

    def top(states, _counts):
        return [
            [
                [{"item": it, "count_lb": c, "error_bound": s.offset} for it, c in s.top(top_n)]
                for s in states
            ]
        ]

    keys = [F.col(c) for c in (by or [])]
    return (
        sketch_aggregate(
            df, col, mg_spec(k), by, hash_mode="raw",
            answer=([StructField("__e", ArrayType(entry))], top),
        )
        .select(*keys, F.explode("__e").alias("__e"))
        .select(*keys, "__e.item", "__e.count_lb", "__e.error_bound")
    )


# ---------------------------------------------------------------------------
# bottom-k distinct sample (KMV with payload)


def kmv_sample_spec(k: int = 1024) -> SketchSpec:
    from ..sketchlib.kmvsample import BottomKSample

    def update(state: BottomKSample, values: np.ndarray) -> BottomKSample:
        return state.update(values)

    return SketchSpec(
        name="kmv_sample",
        zero_fn=lambda: BottomKSample(k),
        update_fn=update,
        merge_fn=lambda a, b: a.merge(b),
        to_bytes_fn=lambda s: s.to_bytes(),
        from_bytes_fn=BottomKSample.from_bytes,
    )


def distinct_sample(
    df: DataFrame,
    col: str,
    k: int = 1024,
    by: list[str] | None = None,
) -> DataFrame:
    """Mergeable UNIFORM SAMPLE OVER DISTINCT values of ``col`` — the k
    items whose 64-bit hashes are smallest (KMV-with-payload).

    Unlike a row sample, duplication cannot bias it: a value repeated
    10^9 times has exactly the same inclusion probability as one that
    appears once — the right way to sample a duplicate-heavy web corpus
    for inspection/labeling. Output: (*by, item, is_exact) where
    ``is_exact`` is true iff the group's distinct count <= k (the sample
    is then the complete distinct set — the oracle-checkable regime).
    Deterministic at any partitioning (tested byte-equal).
    """
    entry = StructType(
        [StructField("item", StringType()), StructField("is_exact", BooleanType())]
    )

    def expand(states, _counts):
        return [[[{"item": it, "is_exact": s.is_exact} for it in s.sample()] for s in states]]

    keys = [F.col(c) for c in (by or [])]
    return (
        sketch_aggregate(
            df, col, kmv_sample_spec(k), by, hash_mode="raw",
            answer=([StructField("__e", ArrayType(entry))], expand),
        )
        .select(*keys, F.explode("__e").alias("__e"))
        .select(*keys, "__e.item", "__e.is_exact")
    )


# ---------------------------------------------------------------------------
# AMS (Fast-AMS / count-sketch): F2 and join-size estimation


def ams_spec(depth: int = 5, width: int = 1024, seed: int = 0) -> SketchSpec:
    from ..sketchlib.ams import AmsSketch

    def update(state: AmsSketch, values: np.ndarray) -> AmsSketch:
        state.add_hashed(values)
        return state

    return SketchSpec(
        name="ams",
        zero_fn=lambda: AmsSketch(depth, width, seed),
        update_fn=update,
        merge_fn=lambda a, b: a.merge(b),
        to_bytes_fn=lambda s: s.to_bytes(),
        from_bytes_fn=AmsSketch.from_bytes,
    )


def ams_sketch_agg(
    df: DataFrame,
    col: str,
    by: list[str] | None = None,
    depth: int = 5,
    width: int = 1024,
    seed: int = 0,
) -> DataFrame:
    """Aggregate a Fast-AMS sketch over ``col`` (columns: *by, sketch,
    rows_seen). Hashing stays JVM-side (xxhash64); the Python crossing
    is the O(depth)-per-item counter update over Arrow batches."""
    return sketch_aggregate(
        df, col, ams_spec(depth, width, seed), by, "xxhash64"
    )


def _ams_blob(df: DataFrame, col: str, depth: int, width: int, seed: int):
    from ..sketchlib.ams import AmsSketch

    row = ams_sketch_agg(df, col, depth=depth, width=width, seed=seed).collect()[0]
    return AmsSketch.from_bytes(bytes(row["sketch"])), int(row["rows_seen"])


def ams_join_size(
    left: DataFrame,
    left_col: str,
    right: DataFrame,
    right_col: str,
    depth: int = 5,
    width: int = 1024,
    seed: int = 0,
) -> DataFrame:
    """One-row frame: estimated equi-join output size
    ``|left JOIN right ON left_col = right_col|`` without running the
    join — inner product of the two sides' AMS sketches (identical
    (depth, width, seed) so buckets/signs align).

    Both key columns must have the SAME Spark type: the estimate rides
    on xxhash64(key) agreeing across sides, exactly like the join
    itself would on the raw values (a bigint 1 and a string '1' never
    hash alike, and never join without a cast either — cast BEFORE
    calling, as you would before the join).

    Columns: est_join_rows (clamped at >= 0: the raw inner product is
    unbiased and can go negative at tiny true sizes), sigma, rows_left,
    rows_right.
    """
    lt = dict(left.dtypes)[left_col]
    rt = dict(right.dtypes)[right_col]
    if lt != rt:
        raise ValueError(
            f"join key types differ ({left_col}: {lt} vs {right_col}: "
            f"{rt}); cast to a common type first, as the join itself "
            "would"
        )
    from concurrent.futures import ThreadPoolExecutor

    from ..localdf import fast_local_df

    # the two sketch passes are independent full-scan jobs; submit them
    # from two driver threads so the second back-fills executors freed
    # by the first's tail instead of waiting for it (guide §2.6) — at
    # any scale this halves the report's critical path
    with ThreadPoolExecutor(max_workers=2) as pool:
        fa = pool.submit(_ams_blob, left, left_col, depth, width, seed)
        fb = pool.submit(_ams_blob, right, right_col, depth, width, seed)
        a, rows_l = fa.result()
        b, rows_r = fb.result()
    return fast_local_df(left.sparkSession, 
        [
            (
                max(0.0, float(a.inner(b))),
                float(a.error_bound(b)),
                rows_l,
                rows_r,
            )
        ],
        "est_join_rows double, sigma double, rows_left bigint, "
        "rows_right bigint",
    )


def countsketch_build(
    df: DataFrame,
    col: str,
    depth: int = 7,
    width: int = 4096,
    seed: int = 0,
    max_driver_groups: int = 200_000,
) -> bytes:
    """Count-sketch build over ``col``; returns serialized AMS bytes
    (the Fast-AMS layout IS the count sketch — sketchlib/ams.py).

    Same scale shape as cms_build: the per-value counts are first
    reduced JVM-side (``groupBy(xxhash64(col)).count()`` — whole-stage
    codegen, one shuffle of (hash, count) pairs); when the distinct
    count fits under ``max_driver_groups`` the weighted signed insert
    runs once on the driver — bit-identical to n individual adds since
    updates are pure signed-counter additions. Heavy-domain inputs
    fall back to the distributed partial/tree-merge build.
    """
    from ..sketchlib.ams import AmsSketch

    grouped = (
        df.where(F.col(col).isNotNull())
        .groupBy(F.xxhash64(F.col(col)).alias("__h"))
        .count()
        .limit(max_driver_groups + 1)
        .toPandas()
    )
    if len(grouped) <= max_driver_groups:
        sk = AmsSketch(depth, width, seed)
        sk.add_hashed(
            grouped["__h"].to_numpy(np.int64),
            grouped["count"].to_numpy(np.int64),
        )
        return sk.to_bytes()
    return bytes(
        ams_sketch_agg(df, col, depth=depth, width=width, seed=seed)
        .collect()[0]["sketch"]
    )


def countsketch_frequencies(
    df: DataFrame,
    col: str,
    items_df: DataFrame,
    depth: int = 7,
    width: int = 4096,
    seed: int = 0,
    alias: str = "est_count",
) -> DataFrame:
    """Unbiased frequency estimate for each row of ``items_df[col]``
    via the count-sketch point estimator (AmsSketch.query_hashed).

    The sketch is built over ``df`` then broadcast (a few hundred KB)
    and probed batch-wise by :func:`~.agg.sketch_udf` — identical plan
    shape to cms_frequencies, different estimator contract: unbiased with
    ~sqrt(F2/width) error instead of CMS's one-sided eps*N
    overestimate, and valid on signed/turnstile streams. Use odd
    ``depth`` so integer medians stay exact.
    """
    from ..sketchlib.ams import AmsSketch

    bc = df.sparkSession.sparkContext.broadcast(
        countsketch_build(df, col, depth, width, seed)
    )
    probe = sketch_udf(AmsSketch.from_bytes, _query_counts, LongType(), probe=bc)
    return items_df.withColumn(alias, probe(F.xxhash64(F.col(col))))


def theta_jaccard_udf():
    """DIRECT Jaccard similarity estimate |A∩B| / |A∪B| between two
    theta-sketch columns — the set-similarity companion to the
    intersect/difference UDFs (audience-overlap, URL-set drift between
    crawls, cross-partition key overlap). Exact when ``k >= |A ∪ B|``
    (both inputs AND their union stay un-truncated — k >= each side
    alone is NOT enough for the denominator); in the estimation tier
    the denominator is the union sketch's KMV estimate and the
    numerator the common-theta intersection — each within its own
    published bound. Empty-union pairs return 0.0."""
    from ..sketchlib.theta import ThetaSketch

    def jaccard(sa: ThetaSketch, sb: ThetaSketch) -> float:
        inter = sa.intersect_estimate(sb)  # before union() replaces sa's values
        union = sa.union(sb).estimate_float()
        return inter / union if union > 0 else 0.0

    return sketch_udf(ThetaSketch.from_bytes, jaccard, DoubleType())


def theta_overlap_matrix(
    df: DataFrame,
    col: str,
    group_col: str,
    k: int = 4096,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """All-pairs set overlap from ONE scan, theta edition.

    Same shape as ``agg.hll_overlap_matrix`` (one grouped sketch build,
    then every unordered pair answered in a single emit task), but the
    intersection is the theta sketch's DIRECT common-theta estimate, so
    its error scales with the intersection instead of compounding three
    inclusion-exclusion terms (the analytical reason to reach for
    theta when overlaps are small relative to the unions). Exact
    whenever every group and every pairwise union stay within k.

    Output per pair (g_a < g_b): (g_a, g_b, distinct_a, distinct_b,
    union_est, intersect_est, jaccard_est), estimates as doubles.
    """
    import dataclasses

    from ..sketchlib.theta import ThetaSketch
    from .agg import _overlap_matrix

    def pair(a: ThetaSketch, b: ThetaSketch) -> tuple:
        # union() replaces its own values array: give it a throwaway copy
        union = dataclasses.replace(a).union(b).estimate_float()
        return union, a.intersect_estimate(b)

    return _overlap_matrix(
        df,
        col,
        group_col,
        theta_spec(k),
        ThetaSketch.estimate_float,
        pair,
        DoubleType(),
        hash_mode,
    )
