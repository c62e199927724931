"""Partition-skew diagnostics — the measurement step that precedes any
salting / AQE-skew-join decision at scale.

A 100 TB shuffle dies on its heaviest keys, not its average ones; the
operators here quantify exactly that before a job is launched:

- :func:`key_skew_report` — the top-N heaviest grouping keys with
  count, share of all rows, and the ratio to a perfectly uniform
  spread. One hash aggregate (map-side combined) + a driver-bounded
  top-N: the only data that reaches the driver is N rows. Exact, so
  the driver query over it is value-oracle-able in SQL.
- :func:`skew_stats` — one-row summary (distinct keys, max/avg key
  count, skew factor) for programmatic gating, e.g. "salt if
  skew_factor > 4".

Both are plain DataFrame plans (no UDFs, no collect of key lists), so
they run at any input size; at 100 TB the aggregate shuffles one row
per DISTINCT key, and AQE coalesces the tiny result.
"""

from __future__ import annotations

from functools import reduce

import numpy as np

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    NumericType,
    StringType,
    StructField,
)


def key_skew_report(
    df: DataFrame, cols: list[str] | str, top_n: int = 10
) -> DataFrame:
    """Top-``top_n`` heaviest keys of ``cols`` with their row counts,
    corpus share, and uniform-spread ratio.

    Output columns: the key columns, ``n_rows`` (rows carrying the
    key), ``share`` (n_rows / total rows), ``skew`` (n_rows divided by
    total/distinct — 1.0 means perfectly uniform; K means this key is
    K x heavier than uniform). Ordered heaviest first; ties broken by
    the key columns ascending so the result is deterministic.
    """
    if isinstance(cols, str):
        cols = [cols]
    if not cols:
        raise ValueError("key_skew_report needs at least one key column")
    counts = df.groupBy(*cols).agg(F.count(F.lit(1)).alias("n_rows"))
    # total rows and distinct-key count in one tiny second aggregate
    # over the per-key counts (rows = distinct keys, not input rows)
    totals = counts.agg(
        F.sum("n_rows").alias("_total"),
        F.count(F.lit(1)).alias("_distinct"),
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            *cols,
            "n_rows",
            (F.col("n_rows") / F.col("_total")).alias("share"),
            (
                F.col("n_rows") / (F.col("_total") / F.col("_distinct"))
            ).alias("skew"),
        )
        .orderBy(F.desc("n_rows"), *[F.asc(c) for c in cols])
        .limit(top_n)
    )


def skew_stats(df: DataFrame, cols: list[str] | str) -> DataFrame:
    """One-row skew summary over the grouping key: ``distinct_keys``,
    ``max_key_rows``, ``avg_key_rows``, and ``skew_factor`` =
    max/avg — the number a caller gates salting on."""
    if isinstance(cols, str):
        cols = [cols]
    if not cols:
        raise ValueError("skew_stats needs at least one key column")
    counts = df.groupBy(*cols).agg(F.count(F.lit(1)).alias("n_rows"))
    return counts.agg(
        F.count(F.lit(1)).alias("distinct_keys"),
        F.max("n_rows").alias("max_key_rows"),
        F.avg("n_rows").alias("avg_key_rows"),
        (F.max("n_rows") / F.avg("n_rows")).alias("skew_factor"),
    )


def join_plan_report(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str | None = None,
    broadcast_threshold_rows: int = 10_000_000,
    skew_share_threshold: float = 0.2,
    ams_depth: int = 5,
    ams_width: int = 1024,
) -> DataFrame:
    """Sketch-driven join planning: one row that prices
    ``left JOIN right ON left_col = right_col`` BEFORE running it, from
    three sketch passes that never shuffle anything but blobs.

    Columns:

    - ``rows_left`` / ``rows_right`` — input sizes (from the sketch
      passes' rows_seen, no extra count job)
    - ``est_join_rows`` / ``sigma`` — Fast-AMS inner-product estimate
      of the join output size and its one-sigma scale
    - ``top_share_left`` / ``top_share_right`` — the heaviest key's
      share of each side (Misra-Gries top-1 lower bound / rows), the
      skew signal
    - ``recommendation`` — 'broadcast_right' / 'broadcast_left' when a
      side is under ``broadcast_threshold_rows``; else 'salted_join'
      when either side's heaviest key exceeds ``skew_share_threshold``
      (one key owning >20% of a side makes a plain shuffle join one
      straggler task); else 'shuffle_hash_join'.

    The thresholds are heuristics the caller can tune; the measured
    columns are the point. At 100 TB this costs three sketch scans and
    moves only KB of blobs — the join it prices would move the corpus.
    """
    from concurrent.futures import ThreadPoolExecutor

    from .sketches import ams_join_size, mg_top_items

    right_col = right_col or left_col

    # three independent sketch reports (AMS join-size pass over both
    # sides + one Misra-Gries top-1 per side); run them from driver
    # threads so their full-scan jobs overlap (guide §2.6) instead of
    # serializing four table scans
    def top1(df: DataFrame, col: str):
        top = mg_top_items(df, col, top_n=1, k=256).collect()
        return float(top[0]["count_lb"]) if top else 0.0

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_est = pool.submit(
            lambda: ams_join_size(
                left, left_col, right, right_col,
                depth=ams_depth, width=ams_width,
            ).collect()[0]
        )
        f_l = pool.submit(top1, left, left_col)
        f_r = pool.submit(top1, right, right_col)
        est = f_est.result()
        top_l, top_r = f_l.result(), f_r.result()

    share_l = top_l / est["rows_left"] if est["rows_left"] > 0 else 0.0
    share_r = top_r / est["rows_right"] if est["rows_right"] > 0 else 0.0
    if est["rows_right"] <= broadcast_threshold_rows:
        rec = "broadcast_right"
    elif est["rows_left"] <= broadcast_threshold_rows:
        rec = "broadcast_left"
    elif max(share_l, share_r) > skew_share_threshold:
        rec = "salted_join"
    else:
        rec = "shuffle_hash_join"
    from ..localdf import fast_local_df

    return fast_local_df(
        left.sparkSession,
        [
            (
                est["rows_left"],
                est["rows_right"],
                est["est_join_rows"],
                est["sigma"],
                share_l,
                share_r,
                rec,
            )
        ],
        "rows_left bigint, rows_right bigint, est_join_rows double, "
        "sigma double, top_share_left double, top_share_right double, "
        "recommendation string",
    )


def _profile_spec(hll_cfg, mg_k: int, kll_k: int):
    """Every estimator of :func:`profile_table` over one column, as one
    ``hash_mode='arrow'`` spec.

    A state is [HLL, Misra-Gries, KLL, exact fields]; update takes the
    column's [xxhash64 or NULL, string rendering, double view if
    numeric] arrays. The bytes are the four parts, each length-prefixed,
    the exact fields (null count, summed length, extrema) as JSON: these
    blobs never leave the job.
    """
    import json
    import struct

    import pyarrow.compute as pc

    from ..sketchlib.hll import HllConfig, HllSketch
    from ..sketchlib.kll import KllSketch
    from ..sketchlib.mg import MisraGries
    from .agg import SketchSpec

    cfg = hll_cfg or HllConfig()

    def zero():
        ex = {"n_null": 0, "total_len": 0}
        ex.update(dict.fromkeys(("min_str", "max_str", "min_num", "max_num")))
        return [HllSketch.empty(cfg), MisraGries(mg_k), KllSketch(kll_k), ex]

    def extend(ex, kind, lo, hi):
        if ex["min_" + kind] is None or lo < ex["min_" + kind]:
            ex["min_" + kind] = lo
        if ex["max_" + kind] is None or hi > ex["max_" + kind]:
            ex["max_" + kind] = hi

    def update(st, arrays):
        hll, mg, kll, ex = st
        h, s = arrays[0], arrays[1].drop_null()
        ex["n_null"] += h.null_count
        hv = h.drop_null()
        if len(hv):
            hll.add_hashed(hv.to_numpy(zero_copy_only=False).astype(np.int64, copy=False))
        if len(s):
            ex["total_len"] += int(pc.sum(pc.utf8_length(s)).as_py() or 0)
            mm = pc.min_max(s)
            extend(ex, "str", mm["min"].as_py(), mm["max"].as_py())
            vc = s.value_counts()
            mg.update_counts(
                vc.field("values").to_pylist(),
                vc.field("counts").to_numpy(zero_copy_only=False),
            )
        if len(arrays) > 2:
            v = arrays[2].drop_null().to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
            v = v[~np.isnan(v)]
            if v.size:
                kll.update(v)
                extend(ex, "num", float(v.min()), float(v.max()))
        return st

    def merge(a, b):
        ea, eb = a[3], b[3]
        ea["n_null"] += eb["n_null"]
        ea["total_len"] += eb["total_len"]
        for kind in ("str", "num"):
            if eb["min_" + kind] is not None:
                extend(ea, kind, eb["min_" + kind], eb["max_" + kind])
        return [a[0].union(b[0]), a[1].merge(b[1]), a[2].merge(b[2]), ea]

    def to_bytes(st):
        parts = [st[0].to_bytes(), st[1].to_bytes(), st[2].to_bytes(), json.dumps(st[3]).encode()]
        return b"".join(struct.pack("<I", len(p)) + p for p in parts)

    def from_bytes(blob):
        parts, pos = [], 0
        while pos < len(blob):
            (n,) = struct.unpack_from("<I", blob, pos)
            parts.append(blob[pos + 4 : pos + 4 + n])
            pos += 4 + n
        return [
            HllSketch.from_bytes(parts[0]),
            MisraGries.from_bytes(parts[1]),
            KllSketch.from_bytes(parts[2]),
            json.loads(parts[3]),
        ]

    return SketchSpec("profile", zero, update, merge, to_bytes, from_bytes)


def profile_table(
    df: DataFrame,
    columns: list[str] | None = None,
    mg_k: int = 32,
    kll_k: int = 200,
    top_n: int = 5,
    quantiles: tuple[float, ...] = (0.25, 0.5, 0.75),
    hll_cfg=None,
) -> DataFrame:
    """ANALYZE-TABLE-style per-column statistics from ONE scan, every
    estimator a mergeable sketch from this library.

    One output row per profiled column:

    - ``col_name``, ``n_rows``, ``n_null`` — exact counts
    - ``n_distinct_est`` — HLL cardinality over the xxhash64'd values
      (exact in the EXPLICIT tier, i.e. for every low-cardinality
      column; 0.81% at p=14 beyond it)
    - ``total_len`` — exact summed codepoint length of the non-null
      values' string rendering (drives avg-length / bytes-per-row)
    - ``min_str`` / ``max_str`` — exact lexicographic extrema of the
      string rendering; ``min_num`` / ``max_num`` — exact numeric
      extrema (null for non-numeric columns)
    - ``top_values`` / ``top_counts`` — Misra-Gries heaviest values
      with lower-bound counts (exact when distinct <= mg_k, else true
      count is within ``mg_err_bound``), ordered (count desc, value
      asc) so the result is deterministic
    - ``quantiles`` — KLL estimates at the requested ranks (numeric
      columns only; exact while n fits the un-compacted sketch)

    Execution shape (the agg.py scaffold, one label per column): the
    scan projects ONLY the profiled columns (column pruning reaches
    parquet) into flat Columns, ``agg.column_partials`` builds every
    column's composite sketch (:func:`_profile_spec`) per input
    partition — rows never shuffle; the shuffle carries ``partitions x
    columns`` small blob rows — and ``merge_sketch_partials`` merges
    them by label and answers the estimates from the merged sketches in
    its tasks. At 10^12 rows the cost is the one pruned scan;
    everything downstream is KBs.

    The per-batch kernels stay vectorized: HLL updates from the
    zero-copy int64 hash view, Misra-Gries from one Arrow
    ``value_counts`` per batch (Python touches distinct values, not
    rows), min/max/length from Arrow compute, KLL from the float64
    view. Only simple (atomic) column types are supported.
    """
    from .agg import column_partials, merge_sketch_partials

    cols = list(df.columns if columns is None else columns)
    if not cols:
        raise ValueError("profile_table needs at least one column")
    for c in cols:
        if c not in df.columns:
            raise ValueError(f"unknown column {c!r}")
    qs = [float(q) for q in quantiles]
    numeric = [c for c in cols if isinstance(df.schema[c].dataType, NumericType)]
    spec = _profile_spec(hll_cfg, mg_k, kll_k)

    # per profiled column: a null-preserved JVM-side hash (xxhash64 of
    # NULL would otherwise count a phantom distinct), the string
    # rendering, and — numeric only — the double view for KLL/min/max
    flat = {}
    for c in cols:
        col = F.col(c)
        flat[c] = [F.when(col.isNotNull(), F.xxhash64(col)), col.cast("string")]
        if c in numeric:
            flat[c].append(col.cast("double"))

    fields = [
        StructField("n_rows", LongType()),
        StructField("n_null", LongType()),
        StructField("n_distinct_est", LongType()),
        StructField("total_len", LongType()),
        StructField("min_str", StringType()),
        StructField("max_str", StringType()),
        StructField("min_num", DoubleType()),
        StructField("max_num", DoubleType()),
        StructField("top_values", ArrayType(StringType())),
        StructField("top_counts", ArrayType(LongType())),
        StructField("mg_err_bound", LongType()),
        StructField("quantiles", ArrayType(DoubleType())),
    ]

    def render(states, counts):
        rows = []
        for (hll, mg, kll, ex), n in zip(states, counts):
            top = mg.top(top_n)
            rows.append(
                {
                    **ex,
                    "n_rows": n,
                    "n_distinct_est": hll.estimate(),
                    "top_values": [v for v, _ in top],
                    "top_counts": [int(c) for _, c in top],
                    "mg_err_bound": mg.error_bound,
                    # an empty sketch's NaN ranks are NULLs
                    "quantiles": kll.quantiles(qs) if qs else None,
                }
            )
        return [[r[f.name] for r in rows] for f in fields]

    merged = merge_sketch_partials(
        column_partials(df, flat, spec, hash_mode="arrow"),
        spec,
        by=["label"],
        answer=(fields, render),
    )
    # a label no row reached (an empty frame) gets no row; a non-numeric
    # column has no quantiles
    quantiles_col = F.when(F.col("label").isin(numeric), F.col("quantiles"))
    return merged.where(F.col("n_rows") > 0).select(
        F.col("label").alias("col_name"),
        *[f.name for f in fields[:-1]],
        quantiles_col.alias("quantiles"),
    )


def fk_containment_report(
    columns,
    k: int = 65536,
    fk_threshold: float = 0.999,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Cross-table key-containment discovery — which columns are
    foreign keys into which — from one theta sketch per column.

    ``columns`` is a list of ``(df, col, label)`` triples (labels must
    be unique). Each source plan is scanned ONCE, projected to its
    requested columns (pruning reaches the source), and built into one
    theta sketch per column by ``agg.column_partials``; the partials of
    every source go through ONE merge by label, and every ordered pair
    (child, parent) is then answered from the tiny blob frame via a
    broadcast join:

    - ``distinct_child`` / ``distinct_parent`` — cardinality estimates
    - ``intersect_est`` — the theta DIRECT common-theta intersection
      (error scales with the overlap, not the union)
    - ``containment`` — |child ∩ parent| / |child|: 1.0 means every
      child key exists in the parent, i.e. a referential-integrity /
      FK candidate
    - ``is_fk_candidate`` — containment >= fk_threshold (false for an
      empty child)

    Exact whenever every column's distinct count stays within k —
    which makes the whole report value-oracle-able in SQL at test
    scale. At 100 TB the per-column scans are the only data-sized
    work (each map-side-combined to one blob per input partition); the
    pairwise stage touches ``len(columns)`` rows of <= 8k bytes.

    NULLs never count as keys (matching SQL referential semantics,
    where a NULL FK is not required to match); an all-null or empty
    column yields distinct 0 / containment 0.0 rather than dropping
    its rows from the report.
    """
    from pyspark.sql.functions import broadcast

    from ..sketchlib.theta import ThetaSketch
    from .agg import column_partials, merge_sketch_partials
    from .scanutil import same_result
    from .sketches import theta_estimate_udf, theta_intersect_udf, theta_spec

    cols = list(columns)
    if len(cols) < 2:
        raise ValueError("fk_containment_report needs at least two columns")
    labels = [lbl for _, _, lbl in cols]
    if len(set(labels)) != len(labels):
        raise ValueError(f"duplicate labels in {labels!r}")

    spark = cols[0][0].sparkSession
    empty_blob = ThetaSketch(k=k).to_bytes()
    for df, col, lbl in cols:
        if col not in df.columns:
            raise ValueError(f"unknown column {col!r} for label {lbl!r}")

    # group the requested columns by their source plan so one TABLE is
    # scanned once however many of its columns are profiled (the TPC-H
    # driver query reads two orders columns — previously two full
    # scans; at 100 TB each duplicate scan is a full pass).
    by_src: list = []  # (df, [(col, lbl), ...]) per distinct source plan
    for df, col, lbl in cols:
        for src, col_lbls in by_src:
            if same_result(src, df):
                col_lbls.append((col, lbl))
                break
        else:
            by_src.append((df, [(col, lbl)]))
    spec = theta_spec(k)
    partials = [
        column_partials(df, {lbl: F.col(col) for col, lbl in col_lbls}, spec, hash_mode)
        for df, col_lbls in by_src
    ]
    allsk = merge_sketch_partials(
        reduce(DataFrame.unionByName, partials), spec, by=["label"]
    )

    # the labels are driver-side config, so the ordered-pair frame is
    # built locally and the blobs attach via two broadcast EQUI joins
    # (no nested-loop join anywhere in the plan); the left joins +
    # coalesce also cover a source with no partitions, which yields no
    # partial rows — its columns stay in the report with an empty sketch
    pair_rows = [(c, p) for c in labels for p in labels if c != p]
    from ..localdf import fast_local_df

    pairs_base = fast_local_df(
        spark, pair_rows, "child_label string, parent_label string"
    )
    child = allsk.select(
        F.col("label").alias("child_label"), F.col("sketch").alias("sk_c")
    )
    parent = allsk.select(
        F.col("label").alias("parent_label"), F.col("sketch").alias("sk_p")
    )
    est = theta_estimate_udf()
    inter = theta_intersect_udf()
    pairs = (
        pairs_base.join(broadcast(child), "child_label", "left")
        .join(broadcast(parent), "parent_label", "left")
        .withColumn("sk_c", F.coalesce(F.col("sk_c"), F.lit(empty_blob)))
        .withColumn("sk_p", F.coalesce(F.col("sk_p"), F.lit(empty_blob)))
    )
    out = (
        pairs.withColumn(
            "distinct_child", est(F.col("sk_c")).cast("long")
        )
        .withColumn("distinct_parent", est(F.col("sk_p")).cast("long"))
        .withColumn(
            "intersect_est", inter(F.col("sk_c"), F.col("sk_p")).cast("long")
        )
        .withColumn(
            "containment",
            F.when(
                F.col("distinct_child") > 0,
                F.col("intersect_est") / F.col("distinct_child"),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "is_fk_candidate", F.col("containment") >= F.lit(fk_threshold)
        )
    )
    return out.select(
        "child_label",
        "parent_label",
        "distinct_child",
        "distinct_parent",
        "intersect_est",
        "containment",
        "is_fk_candidate",
    ).orderBy("child_label", "parent_label")


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    cols: list[str],
) -> DataFrame:
    """One-row dataset-version report: what changed between two corpus
    snapshots — (n_old, n_new, n_added, n_removed, n_changed,
    n_unchanged). 'Changed' = same id, any of ``cols`` differs under
    null-safe comparison (so NULL -> value and value -> NULL both
    count).

    Plan: ONE full-outer hash join on the id (the minimal exact plan —
    both sides shuffle once on the key; at 100 TB pre-bucket both
    snapshots by id to make it a zero-exchange SortMergeJoin), then a
    map-side-combined single aggregate. For an approximate
    no-shuffle diff, compare theta sketches of the id column instead
    (``fk_containment_report`` machinery); this operator is the exact
    tier.
    """
    if not cols:
        raise ValueError("cols must be non-empty")
    for frame, name in ((old, "old"), (new, "new")):
        missing = [c for c in [id_col] + cols if c not in frame.columns]
        if missing:
            raise ValueError(f"{name} side missing columns: {missing}")
    o = old.select(
        F.col(id_col).alias("__id"),
        F.lit(1).alias("__in_old"),
        *[F.col(c).alias(f"__o_{c}") for c in cols],
    )
    n = new.select(
        F.col(id_col).alias("__id"),
        F.lit(1).alias("__in_new"),
        *[F.col(c).alias(f"__n_{c}") for c in cols],
    )
    j = o.join(n, "__id", "full_outer")
    same = None
    for c in cols:
        eq = F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
        same = eq if same is None else (same & eq)
    in_old = F.col("__in_old").isNotNull()
    in_new = F.col("__in_new").isNotNull()
    return j.agg(
        F.sum(in_old.cast("long")).alias("n_old"),
        F.sum(in_new.cast("long")).alias("n_new"),
        F.sum((in_new & ~in_old).cast("long")).alias("n_added"),
        F.sum((in_old & ~in_new).cast("long")).alias("n_removed"),
        F.sum((in_old & in_new & ~same).cast("long")).alias("n_changed"),
        F.sum((in_old & in_new & same).cast("long")).alias("n_unchanged"),
    )
