"""Sliding-window distinct counts on Spark: build ONE mergeable
Chabchoub-Hebrail sliding-HLL sketch in one pass, then answer ANY
trailing time window from the final blob.

The build is the shared partial -> merge scaffold (agg.py) with a
sliding-HLL spec over two JVM-side inputs per row:

  scan (Catalyst prunes to [col, ts])
    -> xxhash64(col) + unix_micros(ts) (whole-stage codegen)
    -> mapInArrow: one partial sliding sketch per (input partition, group)
    -> merge stage (global or per group) -> per-window estimates

Only O(partitions x groups) sketch blobs (each O(m ln n)) ever cross
the shuffle, independent of input size, so the plan survives a
10^12-row scan. The window answers come AFTER the scan, in a narrow
mapInArrow over the merged one-row-per-key frame: one pass serves every
window, where naive per-window COUNT(DISTINCT) would rescan per window.
"""

from __future__ import annotations

import pyarrow as pa

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..sketchlib.hll import HllConfig
from ..sketchlib.slidinghll import SlidingHll
from .agg import SketchSpec, sketch_aggregate


def sliding_spec(cfg: HllConfig | None, explicit_threshold: int) -> SketchSpec:
    """Sliding-HLL spec over ``[xxhash64(col), unix_micros(ts)]`` Arrow
    inputs (the scaffold's ``hash_mode='arrow'``)."""
    cfg = cfg or HllConfig()

    def update(state: SlidingHll, arrays) -> SlidingHll:
        h, t = (a.to_numpy(zero_copy_only=False) for a in arrays)
        return state.add_hashed(h, t)

    return SketchSpec(
        name="sliding_hll",
        zero_fn=lambda: SlidingHll(cfg, explicit_threshold),
        update_fn=update,
        merge_fn=lambda a, b: a.merge(b),
        to_bytes_fn=lambda s: s.to_bytes(),
        from_bytes_fn=SlidingHll.from_bytes,
    )


def _sliding_sketches(df, col, ts_col, by, cfg, explicit_threshold, merge_buckets=16):
    # the hash is never NULL, so the null filter on col happens here; the
    # scaffold's filter covers the timestamp input
    inputs = [
        F.xxhash64(F.col(col)),
        F.unix_micros(F.col(ts_col).cast("timestamp")),
    ]
    return sketch_aggregate(
        df.where(F.col(col).isNotNull()),
        inputs,
        sliding_spec(cfg, explicit_threshold),
        by,
        hash_mode="arrow",
        merge_buckets=merge_buckets,
    ).select(*(by or []), "sketch")


def sliding_hll_sketch(
    df: DataFrame,
    col: str,
    ts_col: str,
    cfg: HllConfig | None = None,
    explicit_threshold: int = 0,
    merge_buckets: int = 16,
) -> DataFrame:
    """One-row DataFrame ``(sketch binary)`` holding the merged sliding
    sketch of ``col`` distincts with ``ts_col`` event times (micros)."""
    return _sliding_sketches(
        df, col, ts_col, None, cfg, explicit_threshold, merge_buckets
    )


def sliding_hll_sketch_by(
    df: DataFrame,
    col: str,
    ts_col: str,
    by: list[str],
    cfg: HllConfig | None = None,
    explicit_threshold: int = 0,
) -> DataFrame:
    """Per-group sliding sketches: ``(by..., sketch)`` — one blob per
    group, from per-(input partition, group) partials merged on the
    group keys."""
    return _sliding_sketches(df, col, ts_col, by, cfg, explicit_threshold)


def sliding_distinct_windows(
    df: DataFrame,
    col: str,
    ts_col: str,
    windows: dict[str, int],
    cfg: HllConfig | None = None,
    explicit_threshold: int = 0,
    merge_buckets: int = 16,
    by: list[str] | None = None,
) -> DataFrame:
    """Distinct-``col`` estimate for each trailing window, from one scan.

    ``windows`` maps a label to a trailing span in SECONDS; each window
    is [anchor - span, anchor] (inclusive both ends). Output:
    (by..., window, distinct) sorted by label. With
    ``explicit_threshold`` above the distinct count the answers are
    exact (EXPLICIT tier), making the query oracle-checkable; at scale
    the LFPM tier answers within the 1.04/sqrt(m) HLL bound.

    Global (by=None): one sketch, anchored at its own max event time.
    Grouped (by=[...]): one sketch per group, every group anchored at
    the GLOBAL max event time (same wall-clock windows across keys —
    the cross-key-comparable convention; a 1-row broadcast carries the
    anchor). Groups with zero qualifying events in a window emit no
    row, matching grouped COUNT(DISTINCT) semantics.
    """
    wins = sorted(windows.items())
    by = list(by or [])
    out_schema = StructType(
        [StructField("window", StringType()), StructField("distinct", LongType())]
    )
    if by:
        blobs = sliding_hll_sketch_by(
            df, col, ts_col, by, cfg, explicit_threshold
        )
        out_schema = StructType([blobs.schema[k] for k in by] + out_schema.fields)
        # the global anchor is ONE row — a pure-codegen max over the
        # input (cheaper than re-deriving the sketch subtree), broadcast
        # alongside every group blob (the only correct cross join:
        # 1 x groups)
        anchor_df = (
            df.where(F.col(col).isNotNull() & F.col(ts_col).isNotNull())
            .agg(
                F.max(F.unix_micros(F.col(ts_col).cast("timestamp"))).alias(
                    "anchor_ts"
                )
            )
        )
        blob_df = blobs.join(F.broadcast(anchor_df))
    else:
        blob_df = sliding_hll_sketch(
            df, col, ts_col, cfg, explicit_threshold, merge_buckets
        )
    nkeys = len(by)

    def answer(batches):
        # rows are (by..., sketch[, anchor_ts]), one per key after the merge
        for rb in batches:
            take, names, ests = [], [], []
            anchors = rb.column(nkeys + 1).to_pylist() if by else None
            for i, blob in enumerate(rb.column(nkeys).to_pylist()):
                s = SlidingHll.from_bytes(blob)
                # grouped: the global anchor; global: the sketch's own (an
                # empty input has none and answers no window)
                anchor = anchors[i] if by else s.max_ts
                if anchor is None:
                    continue
                for name, span_s in wins:
                    est = s.estimate(anchor - int(span_s) * 1_000_000)
                    if est > 0 or not by:
                        take.append(i)
                        names.append(name)
                        ests.append(est)
            yield pa.RecordBatch.from_arrays(
                [
                    *rb.select(list(range(nkeys))).take(pa.array(take, pa.int64())).columns,
                    pa.array(names, pa.string()),
                    pa.array(ests, pa.int64()),
                ],
                names=[f.name for f in out_schema],
            )

    return blob_df.mapInArrow(answer, out_schema).orderBy(*by, "window")
