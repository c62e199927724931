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

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    NumericType,
    StringType,
    StructField,
    StructType,
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

    Execution shape (the agg.py scaffold, widened to all columns at
    once): the scan projects ONLY the profiled columns (column pruning
    reaches parquet), one ``mapInArrow`` pass builds every sketch for
    every column per input partition — rows never shuffle; the shuffle
    carries ``partitions x columns`` small blob rows — and a final
    ``groupBy(col_name).applyInPandas`` merges partials and renders
    estimates, one reducer per column. At 10^12 rows the cost is the
    one pruned scan; everything downstream is KBs.

    The per-batch kernels stay vectorized: HLL updates from the
    zero-copy int64 hash view, Misra-Gries from one Arrow
    ``value_counts`` per batch (Python touches distinct values, not
    rows), min/max/length from Arrow compute, KLL from the float64
    view. Only simple (atomic) column types are supported.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..sketchlib.hll import HllConfig, HllSketch
    from ..sketchlib.kll import KllSketch
    from ..sketchlib.mg import MisraGries

    cols = list(df.columns if columns is None else columns)
    if not cols:
        raise ValueError("profile_table needs at least one column")
    for c in cols:
        if c not in df.columns:
            raise ValueError(f"unknown column {c!r}")
    cfg = hll_cfg or HllConfig()
    qs = [float(q) for q in quantiles]
    is_num = {c: isinstance(df.schema[c].dataType, NumericType) for c in cols}

    proj = []
    # per profiled column: a null-preserved JVM-side hash (xxhash64 of
    # NULL would otherwise count a phantom distinct), the string
    # rendering, and — numeric only — the double view for KLL/min/max
    for i, c in enumerate(cols):
        col = F.col(c)
        proj.append(F.when(col.isNotNull(), F.xxhash64(col)).alias(f"__h{i}"))
        proj.append(col.cast("string").alias(f"__s{i}"))
        if is_num[c]:
            proj.append(col.cast("double").alias(f"__d{i}"))
    src = df.select(*proj)
    name_idx = {n: i for i, n in enumerate(src.columns)}

    partial_schema = StructType(
        [
            StructField("col_name", StringType()),
            StructField("n_rows", LongType()),
            StructField("n_null", LongType()),
            StructField("total_len", LongType()),
            StructField("min_num", DoubleType()),
            StructField("max_num", DoubleType()),
            StructField("min_str", StringType()),
            StructField("max_str", StringType()),
            StructField("hll", BinaryType()),
            StructField("mg", BinaryType()),
            StructField("kll", BinaryType()),
        ]
    )
    arrow_partial = pa.schema(
        [
            ("col_name", pa.string()),
            ("n_rows", pa.int64()),
            ("n_null", pa.int64()),
            ("total_len", pa.int64()),
            ("min_num", pa.float64()),
            ("max_num", pa.float64()),
            ("min_str", pa.string()),
            ("max_str", pa.string()),
            ("hll", pa.binary()),
            ("mg", pa.binary()),
            ("kll", pa.binary()),
        ]
    )

    def build(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        n_rows = 0
        st = {
            c: {
                "null": 0,
                "len": 0,
                "min_num": None,
                "max_num": None,
                "min_str": None,
                "max_str": None,
                "hll": HllSketch.empty(cfg),
                "mg": MisraGries(mg_k),
                "kll": KllSketch(kll_k) if is_num[c] else None,
            }
            for c in cols
        }
        saw = False
        for rb in batches:
            if not rb.num_rows:
                continue
            saw = True
            n_rows += rb.num_rows
            for i, c in enumerate(cols):
                s = st[c]
                h = rb.column(name_idx[f"__h{i}"])
                s["null"] += h.null_count
                hv = h.drop_null()
                if len(hv):
                    s["hll"].add_hashed(
                        hv.to_numpy(zero_copy_only=False).astype(
                            np.int64, copy=False
                        )
                    )
                sarr = rb.column(name_idx[f"__s{i}"]).drop_null()
                if len(sarr):
                    tl = pc.sum(pc.utf8_length(sarr)).as_py()
                    s["len"] += int(tl or 0)
                    mm = pc.min_max(sarr)
                    lo, hi = mm["min"].as_py(), mm["max"].as_py()
                    if s["min_str"] is None or lo < s["min_str"]:
                        s["min_str"] = lo
                    if s["max_str"] is None or hi > s["max_str"]:
                        s["max_str"] = hi
                    vc = sarr.value_counts()
                    s["mg"].update_counts(
                        vc.field("values").to_pylist(),
                        vc.field("counts").to_numpy(zero_copy_only=False),
                    )
                if is_num[c]:
                    d = rb.column(name_idx[f"__d{i}"]).drop_null()
                    if len(d):
                        v = d.to_numpy(zero_copy_only=False).astype(
                            np.float64, copy=False
                        )
                        v = v[~np.isnan(v)]
                        if v.size:
                            s["kll"].update(v)
                            lo, hi = float(v.min()), float(v.max())
                            if s["min_num"] is None or lo < s["min_num"]:
                                s["min_num"] = lo
                            if s["max_num"] is None or hi > s["max_num"]:
                                s["max_num"] = hi
        if not saw:
            return
        yield pa.RecordBatch.from_pydict(
            {
                "col_name": cols,
                "n_rows": [n_rows] * len(cols),
                "n_null": [st[c]["null"] for c in cols],
                "total_len": [st[c]["len"] for c in cols],
                "min_num": [st[c]["min_num"] for c in cols],
                "max_num": [st[c]["max_num"] for c in cols],
                "min_str": [st[c]["min_str"] for c in cols],
                "max_str": [st[c]["max_str"] for c in cols],
                "hll": [st[c]["hll"].to_bytes() for c in cols],
                "mg": [st[c]["mg"].to_bytes() for c in cols],
                "kll": [
                    st[c]["kll"].to_bytes() if st[c]["kll"] is not None else None
                    for c in cols
                ],
            },
            schema=arrow_partial,
        )

    partials = src.mapInArrow(build, partial_schema)

    out_schema = StructType(
        [
            StructField("col_name", StringType()),
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
    )

    def finish(pdf: pd.DataFrame) -> pd.DataFrame:
        hll = None
        mg = None
        kll = None
        for blob in pdf["hll"]:
            s = HllSketch.from_bytes(bytes(blob))
            hll = s if hll is None else hll.union(s)
        for blob in pdf["mg"]:
            s = MisraGries.from_bytes(bytes(blob))
            mg = s if mg is None else mg.merge(s)
        for blob in pdf["kll"]:
            if blob is None:
                continue
            s = KllSketch.from_bytes(bytes(blob))
            kll = s if kll is None else kll.merge(s)
        mins = [x for x in pdf["min_str"] if x is not None]
        maxs = [x for x in pdf["max_str"] if x is not None]
        minn = pdf["min_num"].dropna()
        maxn = pdf["max_num"].dropna()
        top = mg.top(top_n)
        return pd.DataFrame(
            [
                {
                    "col_name": pdf["col_name"].iloc[0],
                    "n_rows": int(pdf["n_rows"].sum()),
                    "n_null": int(pdf["n_null"].sum()),
                    "n_distinct_est": int(hll.estimate()),
                    "total_len": int(pdf["total_len"].sum()),
                    "min_str": min(mins) if mins else None,
                    "max_str": max(maxs) if maxs else None,
                    "min_num": float(minn.min()) if len(minn) else None,
                    "max_num": float(maxn.max()) if len(maxn) else None,
                    "top_values": [v for v, _ in top],
                    "top_counts": [int(n) for _, n in top],
                    "mg_err_bound": int(mg.error_bound),
                    "quantiles": (
                        [float(x) for x in kll.quantiles(qs)]
                        if kll is not None and qs
                        else None
                    ),
                }
            ]
        )

    return partials.groupBy("col_name").applyInPandas(finish, out_schema)


def _multi_theta_sketches(
    df: DataFrame, col_lbls: list, k: int, hash_mode: str
) -> DataFrame:
    """(label, sketch) — one theta sketch per requested column of ONE
    table, from a single scan (profile_table's one-scan-many-sketches
    shape): per input partition the mapInArrow kernel updates every
    column's sketch from the same batches, then the per-label partials
    tree-merge. Sketch values are identical to per-column
    ``theta_sketch_agg`` runs — the same null-dropped hashed values
    feed the same update/merge kernels."""
    import pyarrow as pa

    from ..sketchlib.theta import ThetaSketch
    from .agg import _arrow_values, merge_sketch_partials
    from .sketches import theta_spec

    spec = theta_spec(k)
    proj = []
    for i, (col, _) in enumerate(col_lbls):
        c = F.col(col)
        if hash_mode == "xxhash64":
            proj.append(
                F.when(c.isNotNull(), F.xxhash64(c)).alias(f"__h{i}")
            )
        else:
            proj.append(c.alias(f"__h{i}"))
    src = df.select(*proj)
    labels = [lbl for _, lbl in col_lbls]

    partial_schema = StructType(
        [
            StructField("label", StringType()),
            StructField("sketch", BinaryType()),
            StructField("rows_seen", LongType()),
        ]
    )
    arrow_schema = pa.schema(
        [
            ("label", pa.string()),
            ("sketch", pa.binary()),
            ("rows_seen", pa.int64()),
        ]
    )

    def build(batches) -> "Iterator[pa.RecordBatch]":
        states = [spec.zero_fn() for _ in labels]
        rows = [0] * len(labels)
        for rb in batches:
            if not rb.num_rows:
                continue
            for i in range(len(labels)):
                vals = _arrow_values(rb.column(i), hash_mode)
                states[i] = spec.update_fn(states[i], vals)
                rows[i] += len(vals)
        yield pa.RecordBatch.from_pydict(
            {
                "label": labels,
                "sketch": [spec.to_bytes_fn(s) for s in states],
                "rows_seen": rows,
            },
            schema=arrow_schema,
        )

    partials = src.mapInArrow(build, partial_schema)
    return merge_sketch_partials(partials, spec, by=["label"]).select(
        "label", "sketch"
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
    be unique). Each column is scanned ONCE, projected to just that
    column (pruning reaches the source), and collapsed to a single
    k-row theta sketch; every ordered pair (child, parent) is then
    answered from the tiny blob frame via a broadcast join:

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
    from .scanutil import same_result
    from .sketches import (
        theta_estimate_udf,
        theta_intersect_udf,
        theta_sketch_agg,
    )

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
    frames = []
    for df, col_lbls in by_src:
        if len(col_lbls) == 1:
            col, lbl = col_lbls[0]
            sk = theta_sketch_agg(
                df.select(col).where(F.col(col).isNotNull()),
                col,
                k=k,
                hash_mode=hash_mode,
            )
            frames.append(sk.select(F.lit(lbl).alias("label"), "sketch"))
        else:
            frames.append(
                _multi_theta_sketches(df, col_lbls, k, hash_mode)
            )
    allsk = frames[0]
    for f in frames[1:]:
        allsk = allsk.unionByName(f)

    # the labels are driver-side config, so the ordered-pair frame is
    # built locally and the blobs attach via two broadcast EQUI joins
    # (no nested-loop join anywhere in the plan); the left joins +
    # coalesce also cover empty/all-null columns, whose ungrouped agg
    # yields 0 rows — they stay in the report with an empty sketch
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
