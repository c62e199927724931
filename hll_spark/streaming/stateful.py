"""Structured Streaming: incremental sketch maintenance.

The batch merge kernel drops directly into a stateful streaming operator
(SURVEY.md §2.2 streaming row): sketch state is bounded (O(m) bytes per
group), merges are associative, so ``applyInPandasWithState`` keeps one
serialized sketch per group key and unions each micro-batch's partial
into it — a streaming COUNT(DISTINCT) with constant state, the thing the
exact aggregation fundamentally cannot do at 100 TB/day ingest.

One fold, :func:`_sketch_per_key`, serves every per-key sketch stream:
per-key HLL, any ``SketchSpec`` (theta, CMS, ...), Misra-Gries top-k,
KLL/t-digest quantiles and watermarked tumbling/sliding windows. Each
public function is a projection, a spec and an emit; the output ``key``
keeps the key column's own Spark type. Window deadlines are epoch-ms
computed JVM-side, so state eviction does not depend on the session
time zone (late data beyond the watermark is dropped by Spark's window
machinery; within the window the sketch union is order-insensitive, so
late-but-accepted rows land exactly). Gap-based sessions keep their own
update: their state is an open session that splits into segments, not
a sketch fold.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..operators.agg import SketchSpec, hll_spec
from ..operators.sketches import kll_spec, mg_spec
from ..sketchlib.hll import HllConfig, HllSketch

STATE_SCHEMA = StructType(
    [StructField("sketch", BinaryType()), StructField("rows_seen", LongType())]
)

SESSION_STATE_SCHEMA = StructType(
    [
        StructField("sketch", BinaryType()),
        StructField("rows_seen", LongType()),
        StructField("start_ms", LongType()),
        StructField("last_ms", LongType()),
    ]
)


def _sketch_per_key(
    keyed: DataFrame,
    keys: list[str],
    spec: SketchSpec,
    emit,
    out_fields: list[StructField],
    timeout_ms=None,
) -> DataFrame:
    """The one stateful fold behind every per-key streaming sketch.

    Groups ``keyed`` on ``keys`` and keeps ONE serialized ``spec``
    sketch plus a row count per key (``STATE_SCHEMA``): each call
    restores the sketch, folds every chunk's ``__v`` column in with
    ``spec.update_fn``, stores it back and yields
    ``emit(key, sketch, blob, rows)`` (a pandas frame of ``out_fields``).
    With ``timeout_ms(key)`` the state arms an event-time timeout at that
    epoch-ms (never below the current watermark) and is removed once the
    watermark passes it; without it, state lives as long as the query.
    """

    def update(
        key: Tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # the watermark passed the key's deadline: no more rows can be
            # admitted, so the sketch is final — drop it
            state.remove()
            return
        if state.exists:
            blob, rows = state.get
            sketch = spec.from_bytes_fn(bytes(blob))
        else:
            sketch, rows = spec.zero_fn(), 0
        for pdf in batches:
            sketch = spec.update_fn(sketch, pdf["__v"].to_numpy())
            rows += len(pdf)
        blob = spec.to_bytes_fn(sketch)
        state.update((blob, rows))
        if timeout_ms is not None:
            state.setTimeoutTimestamp(
                max(timeout_ms(key), state.getCurrentWatermarkMs() + 1)
            )
        yield emit(key, sketch, blob, rows)

    return keyed.groupBy(*keys).applyInPandasWithState(
        update,
        outputStructType=StructType(out_fields),
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if timeout_ms is None
            else GroupStateTimeout.EventTimeTimeout
        ),
    )


_HLL_FIELDS = [
    StructField("distinct_estimate", LongType()),
    StructField("rows_seen", LongType()),
    StructField("sketch", BinaryType()),
]


def _hll_row(key, sketch, blob, rows) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "key": [key],
            "distinct_estimate": [sketch.estimate()],
            "rows_seen": [rows],
            "sketch": [blob],
        }
    )


def streaming_hll_distinct(
    stream_df: DataFrame,
    col: str,
    key_col: str,
    cfg: HllConfig | None = None,
) -> DataFrame:
    """Continuously-updated distinct count per ``key_col``.

    Emits (key, distinct_estimate, rows_seen, sketch) after every
    micro-batch that touches the key; ``key`` keeps ``key_col``'s type.
    State per key is one serialized sketch — bounded by the FULL
    representation size regardless of stream length.
    """
    hashed = stream_df.select(
        F.col(key_col), F.xxhash64(F.col(col)).alias("__v")
    )
    return _sketch_per_key(
        hashed,
        [key_col],
        hll_spec(cfg),
        lambda key, sketch, blob, rows: _hll_row(key[0], sketch, blob, rows),
        [StructField("key", hashed.schema[key_col].dataType)] + _HLL_FIELDS,
    )


def windowed_hll_distinct(
    stream_df: DataFrame,
    col: str,
    ts_col: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    cfg: HllConfig | None = None,
    slide: str | None = None,
) -> DataFrame:
    """Tumbling (default) or sliding window distinct counts with a
    late-data watermark. ``ts_col`` must be a ``TIMESTAMP`` column (a
    ``TIMESTAMP_NTZ`` one names no instant to measure the watermark in;
    cast it with the zone it was recorded in).

    ``slide`` < ``window`` turns the windows sliding: Spark's window()
    assigns each event to window/slide overlapping windows (one state
    row each), so state grows by that factor — each window's sketch
    stays bounded and is still evicted at watermark, exactly like the
    tumbling case.

    Window assignment and watermarking are Spark built-ins; the sketch
    union inside each window group reuses the batch kernel. The stateful
    operator is keyed by the window start *timestamp* plus the window
    end in epoch milliseconds (computed JVM-side, so it is an instant
    whatever the session time zone) and uses ``EventTimeTimeout``: each
    update arms a timeout at the window end, so once the watermark
    passes the window (no further rows can be admitted) the state is
    removed. Per-window state is therefore evicted, not grown without
    bound, on a long-running stream.
    """
    if not isinstance(stream_df.schema[ts_col].dataType, TimestampType):
        raise ValueError(
            f"ts_col {ts_col!r} must be TIMESTAMP, got "
            f"{stream_df.schema[ts_col].dataType.simpleString()}"
        )
    # The watermark is declared on win_start (the grouping key), the
    # event-time column that actually reaches the stateful operator.
    # Since win_start <= ts, the effective late-data allowance is
    # `watermark` plus at most one window length — never shorter than
    # requested — and the state timeout still fires once no row for the
    # window can be admitted.
    bucketed = (
        stream_df.select(
            F.window(F.col(ts_col), window, slide or window).alias("__w"),
            F.xxhash64(F.col(col)).alias("__v"),
        )
        .select(
            F.col("__w.start").alias("win_start"),
            F.unix_millis(F.col("__w.end")).alias("end_ms"),
            "__v",
        )
        .withWatermark("win_start", watermark)
    )
    return _sketch_per_key(
        bucketed,
        ["win_start", "end_ms"],
        hll_spec(cfg),
        lambda key, sketch, blob, rows: _hll_row(str(key[0]), sketch, blob, rows),
        [StructField("key", StringType())] + _HLL_FIELDS,
        timeout_ms=lambda key: int(key[1]),
    )


def session_hll_distinct(
    stream_df: DataFrame,
    col: str,
    key_col: str,
    ts_col: str,
    gap_seconds: int = 1800,
    watermark: str = "2 hours",
    cfg: HllConfig | None = None,
) -> DataFrame:
    """Gap-based session windows with per-session distinct counts.

    A session is a maximal run of a key's events with inter-event gaps
    <= ``gap_seconds`` (the batch ``sessionize`` semantics, streamed).
    State per key is ONE open session: (sketch, rows, start, last) —
    bounded regardless of stream length. A session row is emitted when
    the session CLOSES: either a later in-gap-violating event arrives,
    or the event-time watermark passes ``last + gap`` (EventTimeTimeout,
    which also removes state for idle keys — no unbounded growth).
    ``key`` keeps ``key_col``'s type.
    """
    cfg = cfg or HllConfig()
    gap_ms = int(gap_seconds) * 1000
    out_schema = StructType(
        [
            StructField("key", stream_df.schema[key_col].dataType),
            StructField("session_start_ms", LongType()),
            StructField("session_end_ms", LongType()),
            StructField("distinct_estimate", LongType()),
            StructField("rows_seen", LongType()),
        ]
    )

    def _row(key, start_ms, last_ms, sketch, rows):
        return {
            "key": key[0],
            "session_start_ms": int(start_ms),
            "session_end_ms": int(last_ms),
            "distinct_estimate": int(sketch.estimate()),
            "rows_seen": int(rows),
        }

    def update(
        key: Tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            blob, rows, start_ms, last_ms = state.get
            sketch = HllSketch.from_bytes(bytes(blob))
            state.remove()
            yield pd.DataFrame([_row(key, start_ms, last_ms, sketch, rows)])
            return
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs).sort_values("__ts_ms")
        ts = pdf["__ts_ms"].to_numpy(np.int64)
        h = pdf["__h"].to_numpy(np.int64)
        if state.exists:
            blob, rows, start_ms, last_ms = state.get
            sketch = HllSketch.from_bytes(bytes(blob))
        else:
            sketch, rows, start_ms, last_ms = None, 0, 0, 0
        closed: list[dict] = []
        bounds = np.nonzero(np.diff(ts) > gap_ms)[0] + 1
        for seg in np.split(np.arange(len(ts)), bounds):
            seg_start, seg_end = int(ts[seg[0]]), int(ts[seg[-1]])
            if sketch is not None and seg_end < start_ms - gap_ms:
                # Watermark-admitted late segment that ends a full gap
                # BEFORE the open session starts: a distinct earlier
                # session, not part of the open one. Emit it closed
                # immediately (approximation: even-later stragglers
                # belonging to it would re-open a new tiny session
                # rather than extend this emitted row — the same
                # trade-off batch sessionize makes at partition edges).
                late = HllSketch.empty(cfg)
                late.add_hashed(h[seg])
                closed.append(_row(key, seg_start, seg_end, late, len(seg)))
            elif sketch is not None and seg_start - last_ms <= gap_ms:
                # In-gap of the open session. seg may also PREDATE the
                # session start (late data within one gap of it) — then
                # the session genuinely extends backward.
                sketch.add_hashed(h[seg])
                rows += len(seg)
                start_ms = min(start_ms, seg_start)
                last_ms = max(last_ms, seg_end)
            else:
                if sketch is not None:
                    closed.append(_row(key, start_ms, last_ms, sketch, rows))
                sketch = HllSketch.empty(cfg)
                sketch.add_hashed(h[seg])
                rows, start_ms, last_ms = len(seg), seg_start, seg_end
        state.update((sketch.to_bytes(), rows, start_ms, last_ms))
        state.setTimeoutTimestamp(
            max(last_ms + gap_ms, state.getCurrentWatermarkMs() + 1)
        )
        if closed:
            yield pd.DataFrame(closed)

    prepared = stream_df.withWatermark(ts_col, watermark).select(
        F.col(key_col),
        F.col(ts_col),  # watermarked event-time column must survive
        (F.col(ts_col).cast("timestamp_ltz").cast("double") * 1000)
        .cast("long")
        .alias("__ts_ms"),
        F.xxhash64(F.col(col)).alias("__h"),
    )
    return prepared.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def sink_sketch_table(stream_df: DataFrame, path: str, key_col: str = "key"):
    """Continuously maintain a durable sketch table from a streaming
    sketch query (e.g. :func:`streaming_hll_distinct` output).

    The stateful operator emits each key's FULL cumulative sketch every
    micro-batch, so upsert semantics reduce to "replace the key's row
    with the newest": foreachBatch writes the batch partitioned by
    ``key_col`` with DYNAMIC partition overwrite — only the keys
    touched in this batch are rewritten, every other key's cell is
    untouched. The resulting table is a queryable sketch cube cell set
    (estimate with hll_estimate_udf, union slices with
    plans.cube.query_sketch_cube semantics), always current to the
    last completed micro-batch.

    Scale note: one partition directory per key is the right shape for
    BOUNDED key cardinality (event types, langs, windows, tenants —
    the usual sketch-table grain). For millions of keys, plain parquet
    cannot read-modify-overwrite a shared bucket atomically; use an
    Iceberg/Delta MERGE sink there (the emitted frame is already in
    upsert form), or append-log + periodic compaction.

    Returns a DataStreamWriter; caller adds checkpointLocation/trigger
    and .start().
    """

    def upsert(bdf: DataFrame, batch_id: int) -> None:
        (
            bdf.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(key_col)
            .parquet(path)
        )

    return stream_df.writeStream.foreachBatch(upsert).outputMode("update")


def streaming_sketch_distinct(
    stream_df: DataFrame,
    col: str,
    key_col: str,
    spec,
) -> DataFrame:
    """Sketch-generic version of :func:`streaming_hll_distinct`: keeps
    ONE serialized sketch of any :class:`~..operators.agg.SketchSpec`
    per key (theta for streaming set ops, CMS for streaming counts, ...)
    and unions each micro-batch in. Emits (key, sketch, rows_seen);
    estimate/probe with the sketch's scalar UDFs downstream. State stays
    bounded by the sketch's own size contract.
    """
    hashed = stream_df.select(
        F.col(key_col), F.xxhash64(F.col(col)).alias("__v")
    )
    return _sketch_per_key(
        hashed,
        [key_col],
        spec,
        lambda key, sketch, blob, rows: pd.DataFrame(
            {"key": [key[0]], "sketch": [blob], "rows_seen": [rows]}
        ),
        [
            StructField("key", hashed.schema[key_col].dataType),
            StructField("sketch", BinaryType()),
            StructField("rows_seen", LongType()),
        ],
    )


def streaming_mg_topk(
    stream_df: DataFrame,
    item_col: str,
    key_col: str,
    k: int = 256,
    top_n: int = 10,
) -> DataFrame:
    """Streaming heavy hitters: one Misra-Gries summary (at most ``k``
    counters, see sketchlib/mg.py) per group key; each micro-batch is
    folded in through the batch ``update`` (one C-speed ``value_counts``
    per batch, Python cost O(distinct-per-batch)) and the CURRENT
    top-``top_n`` is emitted per key per batch.

    Emits (key, rank, item, est_count, max_undercount, rows_seen):
    ``est_count`` is the MG lower bound — true count lies in
    [est_count, est_count + max_undercount], and max_undercount <=
    rows_seen/(k+1) after any batching (the mergeability theorem) —
    rank 1..top_n by (est_count desc, item asc). Downstream dedupes on
    the latest rows_seen per key (``update`` output mode), same as
    :func:`streaming_sketch_distinct`.

    State stays O(k) per key forever — the streaming top-k the exact
    groupBy-count cannot provide at 100 TB/day: unlike CMS this needs
    no candidate heap, and items with frequency > rows_seen/(k+1) are
    GUARANTEED present.
    """
    if top_n < 1:
        raise ValueError(f"top_n must be >= 1, got {top_n}")

    def emit(key, mg, blob, rows) -> pd.DataFrame:
        top = mg.top(top_n)
        return pd.DataFrame(
            {
                "key": [key[0]] * len(top),
                "rank": np.arange(1, len(top) + 1, dtype=np.int64),
                "item": [i for i, _ in top],
                "est_count": np.array([c for _, c in top], dtype=np.int64),
                "max_undercount": np.full(len(top), mg.offset, dtype=np.int64),
                "rows_seen": np.full(len(top), rows, dtype=np.int64),
            }
        )

    items = stream_df.select(
        F.col(key_col), F.col(item_col).cast("string").alias("__v")
    )
    return _sketch_per_key(
        items,
        [key_col],
        mg_spec(k),
        emit,
        [
            StructField("key", items.schema[key_col].dataType),
            StructField("rank", LongType()),
            StructField("item", StringType()),
            StructField("est_count", LongType()),
            StructField("max_undercount", LongType()),
            StructField("rows_seen", LongType()),
        ],
    )


def streaming_quantiles(
    stream_df: DataFrame,
    col: str,
    key_col: str,
    spec=None,
    qs: tuple = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Per-key STREAMING QUANTILES: one mergeable quantile sketch (KLL
    by default; pass ``sketches.tdigest_spec(...)`` for tails) per key,
    each micro-batch folded in and the current quantile estimates
    emitted as (key, sketch, rows_seen, p50, p90, ...).

    The projection difference from :func:`streaming_sketch_distinct`
    is the point: quantile sketches ORDER raw values, so the column
    streams in as doubles, never hashed. NULL/NaN values are dropped
    JVM-side (SQL aggregate semantics), so ``rows_seen`` counts only the
    values folded in. State stays bounded by the sketch's own
    size contract (KLL: O(k log(n/k)) items per key) regardless of
    stream length — the percentile dashboard the exact sort cannot
    provide over an unbounded stream. Quantile columns are named
    ``p50``-style from ``qs`` (dots -> underscores, so 0.999 -> p99_9).
    """
    names = [("p" + format(q * 100, "g")).replace(".", "_") for q in qs]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate quantile columns from qs={qs}")

    def emit(key, sketch, blob, rows) -> pd.DataFrame:
        row = {"key": [key[0]], "sketch": [blob], "rows_seen": [rows]}
        for n, q in zip(names, qs):
            row[n] = [float(sketch.quantile(q)) if rows else float("nan")]
        return pd.DataFrame(row)

    projected = stream_df.select(
        F.col(key_col), F.col(col).cast("double").alias("__v")
    ).where(F.col("__v").isNotNull() & ~F.isnan("__v"))
    return _sketch_per_key(
        projected,
        [key_col],
        spec or kll_spec(),
        emit,
        [
            StructField("key", projected.schema[key_col].dataType),
            StructField("sketch", BinaryType()),
            StructField("rows_seen", LongType()),
        ]
        + [StructField(n, DoubleType()) for n in names],
    )
