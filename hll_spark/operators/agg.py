"""Distributed sketch aggregation on Spark DataFrames.

The execution shape (SURVEY.md §3.4, §4.3) is the same for every sketch:

  scan (Catalyst prunes columns/filters)
    -> [optional salted repartition for skewed keys]
    -> mapInArrow: per-(input partition, group) partial sketches   [level 0]
    -> [global, optional: merge by bucket]                         [level 1]
    -> mapInArrow merge on the group keys (global: one task)       [level 2]
       (optionally answering from the merged sketches: ``answer``)

The level-0 pre-combine is the load-bearing piece: Spark's grouped-map
Python API has no map-side combine, so without it a 10^12-row job
would shuffle raw rows. With it, only O(partitions x groups) sketch blobs
ever cross the shuffle (SURVEY.md §4.2, §7.3 risk 4).

Everything row-wise happens in numpy over Arrow batches; the only Python
crossing is the sketch kernel itself. Hashing defaults to Spark's built-in
``xxhash64`` so the hot path stays inside whole-stage codegen; pass
``hash_mode='murmur3'`` for postgresql-hll spec-parity hashing (vectorized
numpy murmur3 inside the same Arrow batch loop), or ``hash_mode='arrow'``
to hand the spec the batch's Arrow arrays of one or more projected
Columns (array rows, several inputs per row, a decode of its own).

Rows group on their keys in one Arrow helper, :func:`_group_rows`, run
by one combine loop, :func:`_combine`, that level 0, the merge and the
overlap emit share.

One generic scaffold (:class:`SketchSpec` + :func:`sketch_partials` +
:func:`merge_sketch_partials`) serves every sketch operator in the
package — HLL, CMS, Bloom, KLL, t-digest, theta, Misra-Gries, sliding HLL,
Frequent Directions and the fused extract-and-sketch flagship — each
sketch only supplies zero/update/merge/serialize. Sketch bytes that
arrive already stored are read by one Arrow UDF factory,
:func:`sketch_udf`.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark import TaskContext
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..sketchlib.hashing import murmur3_x64_128_low64
from ..sketchlib.hll import HllConfig, HllSketch, hll_intersect_estimate
from .scanutil import plan_stats

DEFAULT_SALT_SEED = 0x5B1FF00D


# ---------------------------------------------------------------------------
# generic mergeable-sketch contract


@dataclass
class SketchSpec:
    """zero/update/merge/serialize contract every sketch satisfies.

    update receives a numpy array of the projected value column (already
    hashed for hash-based sketches, raw doubles for quantile sketches),
    or with ``hash_mode='arrow'`` the list of the rows' Arrow arrays.
    States are opaque Python objects; serialize_fn must produce bytes whose
    merge is associative (byte-exact for HLL/CMS/Bloom, bound-preserving
    for KLL/t-digest — SURVEY.md §2.3).
    """

    name: str
    zero_fn: Callable[[], Any]
    update_fn: Callable[[Any, np.ndarray], Any]
    merge_fn: Callable[[Any, Any], Any]
    to_bytes_fn: Callable[[Any], bytes]
    from_bytes_fn: Callable[[bytes], Any]


def hll_spec(cfg: HllConfig | None = None) -> SketchSpec:
    cfg = cfg or HllConfig()

    def update(state: HllSketch, values: np.ndarray) -> HllSketch:
        state.add_hashed(values)
        return state

    return SketchSpec(
        name="hll",
        zero_fn=lambda: HllSketch.empty(cfg),
        update_fn=update,
        merge_fn=lambda a, b: a.union(b),
        to_bytes_fn=lambda s: s.to_bytes(),
        from_bytes_fn=HllSketch.from_bytes,
    )


# ---------------------------------------------------------------------------
# projection helpers


def _value_expr(df: DataFrame, col, hash_mode: str | None):
    """Column projected into the Python worker.

    'xxhash64' hashes JVM-side (whole-stage codegen) so Python only ever
    sees int64; 'murmur3' ships the raw column and hashes vectorized in
    numpy; None ships the raw column unhashed (quantile sketches).
    ``col`` may be a list of columns for composite-key distinct
    (COUNT(DISTINCT a, b, ...)) — xxhash64 hashes the tuple JVM-side;
    murmur3 hashes a length-prefixed per-field encoding (``len:value``
    per field, ``N`` for null), so field boundaries are unambiguous even
    when values contain the old NUL separator or render identically
    when adjacent fields are re-split differently.
    """
    if isinstance(col, (list, tuple)):
        if hash_mode == "xxhash64":
            return F.xxhash64(*[F.col(c) for c in col]).alias("__v")
        parts: list = []
        for c in col:
            s = F.col(c).cast("string")
            parts.append(
                F.when(s.isNull(), F.lit("N")).otherwise(
                    F.concat(F.length(s).cast("string"), F.lit(":"), s)
                )
            )
        return F.concat(*parts).alias("__v")
    if hash_mode == "xxhash64":
        return F.xxhash64(F.col(col)).alias("__v")
    return F.col(col).alias("__v")


def _not_null_cond(col):
    if isinstance(col, (list, tuple)):
        cond = F.col(col[0]).isNotNull()
        for c in col[1:]:
            cond = cond & F.col(c).isNotNull()
        return cond
    return F.col(col).isNotNull()


def _project(df: DataFrame, col, by: list[str], hash_mode: str | None) -> DataFrame:
    """The level-0 input: key columns, then the value column(s).

    ``hash_mode='arrow'`` takes ``col`` as a Column (or list of Columns)
    projected unchanged, one value column each, and keeps only rows
    where every value column is non-null; the spec's update then
    receives the batch's Arrow arrays (array-valued inputs, several
    inputs per row, or a decode of its own). Every other mode projects
    one scalar value column through :func:`_value_expr`.

    Float keys are normalized as Spark's GROUP BY does (every NaN one
    NaN, -0.0 as 0.0): Arrow groups floats by bit pattern.
    """
    keys = []
    for k in by:
        t, c = df.schema[k].dataType, F.col(k)
        if isinstance(t, (FloatType, DoubleType)):
            k = F.when(F.isnan(c), float("nan")).when(c == 0, 0.0).otherwise(c).cast(t).alias(k)
        keys.append(k)
    if hash_mode == "arrow":
        cols = list(col) if isinstance(col, (list, tuple)) else [col]
        names = [f"__v{i}" for i in range(len(cols))]
        return df.select(
            *keys, *[c.alias(n) for c, n in zip(cols, names)]
        ).where(_not_null_cond(names))
    return df.where(_not_null_cond(col)).select(
        *keys, _value_expr(df, col, hash_mode)
    )


def _arrow_values(arr, hash_mode: str | None) -> np.ndarray:
    """Values for the sketch update straight from one Arrow array.

    xxhash64: zero-copy int64 view. murmur3 over strings: hash from the
    Arrow offsets/data buffers (already utf-8 — no encode, no per-row
    PyObjects). Falls back to the pandas-equivalent materialization for
    anything else (raw item sketches, float quantile inputs).
    """
    from ..sketchlib.hashing import murmur3_low64_from_buffers

    if arr.null_count:
        # level-0 projections filter nulls JVM-side; keep a guard for
        # direct callers
        arr = arr.drop_null()
    if hash_mode == "xxhash64":
        return arr.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    if hash_mode == "murmur3":
        if (
            pa.types.is_string(arr.type)
            or pa.types.is_large_string(arr.type)
            or pa.types.is_binary(arr.type)
            or pa.types.is_large_binary(arr.type)
        ):
            off_dtype = (
                np.int64
                if (
                    pa.types.is_large_string(arr.type)
                    or pa.types.is_large_binary(arr.type)
                )
                else np.int32
            )
            buffers = arr.buffers()
            offsets = np.frombuffer(buffers[1], dtype=off_dtype)[
                arr.offset : arr.offset + len(arr) + 1
            ].astype(np.int64)
            data = np.frombuffer(buffers[2], dtype=np.uint8)
            return murmur3_low64_from_buffers(
                data, offsets[:-1], np.diff(offsets)
            ).view(np.int64)
        return murmur3_x64_128_low64(arr.to_pandas()).view(np.int64)
    if hash_mode == "raw":
        # item-identity sketches (Misra-Gries): the summary must carry
        # the values themselves, so ship them untouched
        return arr.to_numpy(zero_copy_only=False)
    return arr.to_numpy(zero_copy_only=False).astype(np.float64, copy=False)


# ---------------------------------------------------------------------------
# the one grouping and the one combine loop


def _group_rows(keys: pa.Table, since: int = 0) -> list[np.ndarray]:
    """Row indices of each distinct key of ``keys`` with a row at or after
    ``since``: ascending within a group, groups in no particular order.
    NULL is a key of its own, NaN one key apart from NULL, a timestamp
    its instant. Columns are dictionary-encoded (NULL as a value) before
    the ``group_by``: on pyarrow 16 a multi-column ``group_by`` over
    NULLs splits one key into several groups."""
    codes = [
        pc.dictionary_encode(c.combine_chunks(), null_encoding="encode").indices
        for c in keys.columns
    ]
    names = [str(i) for i in range(len(codes))]
    lists = (
        pa.table([*codes, np.arange(keys.num_rows, dtype=np.int64)], names=[*names, "i"])
        .group_by(names, use_threads=False)
        .aggregate([("i", "list")])
        .column("i_list")
        .combine_chunks()
    )
    idx = lists.values.to_numpy()
    off = lists.offsets.to_numpy()
    return [idx[off[g] : off[g + 1]] for g in np.flatnonzero(idx[off[1:] - 1] >= since)]


def _combine(batches, nkeys: int, per_batch, max_groups: int | None = None):
    """Fold Arrow batches (or tables) whose first ``nkeys`` columns are the
    keys into one state per key. ``per_batch(rb)`` gives ``step(state, idx) ->
    (state, rows)``, folding rows ``idx`` (None: all) into ``state`` (None
    until a row reaches it). The open states' keys are an Arrow table,
    row i for state i, grouped together with each batch: a group whose
    first index falls in it continues that state. Yields ``(key columns,
    states, counts)`` when more than ``max_groups`` states are open and
    at the end; without keys, one state even if no row arrived."""
    known, states, counts = None, [], []
    if not nkeys:
        states, counts = [None], [0]
    for rb in batches:
        if not rb.num_rows:
            continue
        step = per_batch(rb)
        if not nkeys:
            states[0], n = step(states[0], None)
            counts[0] += n
            continue
        keys = pa.table(rb.select(list(range(nkeys))))
        known = keys.slice(0, 0) if known is None else known
        nk, new_firsts = known.num_rows, []
        for idx in _group_rows(pa.concat_tables([known, keys]), nk):
            if idx[0] < nk:
                slot, rows = idx[0], idx[1:] - nk
            else:
                slot, rows = len(states), idx - nk
                states.append(None)
                counts.append(0)
                new_firsts.append(rows[0])
            states[slot], n = step(states[slot], rows)
            counts[slot] += n
        if new_firsts:
            known = pa.concat_tables([known, keys.take(new_firsts)]).combine_chunks()
        if max_groups is not None and len(states) > max_groups:
            yield known.columns, states, counts
            known, states, counts = None, [], []
    if states:
        yield ([] if known is None else known.columns), states, counts


def _partials_table(spec: SketchSpec, keys, states, counts, names) -> pa.Table:
    """One ``*keys, sketch, rows_seen`` row per state (None: the zero)."""
    sketches = [spec.to_bytes_fn(spec.zero_fn() if s is None else s) for s in states]
    return pa.Table.from_arrays(
        [*keys, pa.array(sketches, pa.binary()), pa.array(counts, pa.int64())],
        names=names,
    )


def _blob_folder(spec: SketchSpec, nkeys: int):
    """``per_batch`` for :func:`_combine` over ``*keys, sketch, rows_seen``
    rows: from_bytes -> merge of a group's blobs in row order, from the
    first decoded blob, and the sum of its rows_seen."""

    def per_batch(rb):
        blobs = rb.column(nkeys).to_pylist()
        seen = rb.column(nkeys + 1).fill_null(0).to_numpy()

        def step(acc, idx):
            idx = range(len(blobs)) if idx is None else idx
            for i in idx:
                s = spec.from_bytes_fn(blobs[i])
                acc = s if acc is None else spec.merge_fn(acc, s)
            return acc, int(seen[idx].sum())

        return step

    return per_batch


# ---------------------------------------------------------------------------
# level 0: per-input-partition partial sketches (the map-side combine)

# bound the per-task combine map: beyond this many concurrent groups the
# build flushes its partials early (the merge unions duplicate blobs per
# group, so results are unchanged) — worker memory stays
# O(_MAX_GROUPS * sketch size) at any group cardinality
_MAX_GROUPS = 65536


def sketch_partials(
    df: DataFrame,
    col,
    spec: SketchSpec,
    by: list[str] | None = None,
    hash_mode: str | None = "xxhash64",
    merge_buckets: int = 16,
    salt_partitions: int | None = None,
) -> DataFrame:
    """Build one partial sketch per (input partition, group) via mapInArrow.

    Global (by=None) output: ``bucket long, sketch binary, rows_seen long``
    — bucket spreads the optional level-1 merge across ``merge_buckets``
    reducers so the tree merge has no single hot reducer (north_rule).
    Grouped output: ``*by, sketch binary, rows_seen long``.

    One build serves both: the global build is the grouped one with no
    keys (a single state per task, emitted even when the task saw no
    rows, so a global aggregate always yields one row). Rows group in
    :func:`_combine`; each group's emitted keys are an Arrow take of its
    first row, so key types round-trip untouched, and values come from
    :func:`_arrow_values` (or, for ``hash_mode='arrow'``, are the batch's
    Arrow arrays themselves).
    """
    by = list(by or [])
    if salt_partitions:
        salt_cols = list(col) if isinstance(col, (list, tuple)) else [col]
        # explicit salted repartition for skewed keys: spreads one hot key
        # across salt_partitions partitions; partials re-merge in level 1
        df = df.repartition(
            salt_partitions,
            F.xxhash64(*[F.col(c) for c in salt_cols], F.lit(DEFAULT_SALT_SEED)),
        )
    proj = _project(df, col, by, hash_mode)
    reserved = {"sketch", "rows_seen", *proj.columns[len(by):]}
    clash = reserved.intersection(by)
    if clash:
        raise ValueError(
            f"grouping column(s) {sorted(clash)} use names the sketch scaffold "
            f"reserves for its own columns: {sorted(reserved)}"
        )
    # NOTE (r6): a fan_out_scan here was A/B-tested and REVERTED —
    # at bench scale the level-0 kernel work per query is tens of ms,
    # so 32-way fan-out just multiplies Python-worker invocations and
    # the number of partials the merge stages must union (KLL/t-digest
    # merges are themselves Python): hll_custkey_by_month 0.64->1.11 s,
    # kll_quantiles_price 0.49->1.22 s. Large inputs already scan wide.
    key_fields = [proj.schema[k] for k in by] or [StructField("bucket", LongType())]
    out_schema = StructType(
        key_fields
        + [StructField("sketch", BinaryType()), StructField("rows_seen", LongType())]
    )
    names = [f.name for f in out_schema]
    nkeys = len(by)
    arrow_values = hash_mode == "arrow"
    max_groups = _MAX_GROUPS  # read here: the closure ships the value

    def per_batch(rb):
        # decode the whole batch ONCE (one vectorized kernel call), then
        # slice per group — the per-group work is a take, not a hash
        # invocation
        if arrow_values:
            vals = rb.columns[nkeys:]
        else:
            vals = _arrow_values(rb.column(nkeys), hash_mode)

        def step(state, idx):
            if idx is None:
                v = vals
            elif arrow_values:
                v = [a.take(idx) for a in vals]
            else:
                v = vals[idx]
            state = spec.update_fn(spec.zero_fn() if state is None else state, v)
            return state, len(v[0]) if arrow_values else len(v)

        return step

    def build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for keys, states, counts in _combine(batches, nkeys, per_batch, max_groups):
            if not nkeys:
                tc = TaskContext.get()
                pid = tc.partitionId() if tc is not None else 0
                keys = [pa.array([pid % merge_buckets], pa.int64())]
            yield from _partials_table(spec, keys, states, counts, names).to_batches()

    return proj.mapInArrow(build, out_schema)


def column_partials(
    df: DataFrame, cols: dict, spec: SketchSpec, hash_mode: str | None = "xxhash64"
) -> DataFrame:
    """One scan, one ``spec`` sketch per labelled column: the level 0 of
    :func:`sketch_partials` widened across columns instead of groups.

    ``cols`` maps a label to a Column (a list of Columns with
    ``hash_mode='arrow'``). Output:
    ``label string, sketch binary, rows_seen long``, one row per
    (input partition, label), emitted even when the partition has no
    rows; merge with ``merge_sketch_partials(partials, spec, by=["label"])``.
    ``hash_mode`` is as in :func:`sketch_partials`, but rows are never
    filtered (another label's column may be non-null): 'xxhash64' hashes
    non-null values JVM-side, 'murmur3' / None / 'raw' ship one raw
    column whose NULLs :func:`_arrow_values` drops, and 'arrow' hands
    the spec the label's list of Arrow arrays with NULLs kept, so its
    ``rows_seen`` counts every row.
    """
    labels, spans, proj = list(cols), [], []
    for lbl in labels:
        cs = list(cols[lbl]) if isinstance(cols[lbl], (list, tuple)) else [cols[lbl]]
        if hash_mode != "arrow" and len(cs) != 1:
            raise ValueError(f"label {lbl!r}: several Columns need hash_mode='arrow'")
        if hash_mode == "xxhash64":
            cs = [F.when(cs[0].isNotNull(), F.xxhash64(cs[0]))]
        spans.append((len(proj), len(proj) + len(cs)))
        proj += [c.alias(f"__v{len(proj) + i}") for i, c in enumerate(cs)]
    out_schema = StructType(
        [
            StructField("label", StringType()),
            StructField("sketch", BinaryType()),
            StructField("rows_seen", LongType()),
        ]
    )
    names = [f.name for f in out_schema]

    def build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        states = [spec.zero_fn() for _ in labels]
        counts = [0] * len(labels)
        for rb in batches:
            for i, (lo, hi) in enumerate(spans):
                if hash_mode == "arrow":
                    v, n = rb.columns[lo:hi], rb.num_rows
                else:
                    v = _arrow_values(rb.column(lo), hash_mode)
                    n = len(v)
                if n:
                    states[i] = spec.update_fn(states[i], v)
                    counts[i] += n
        keys = [pa.array(labels, pa.string())]
        yield from _partials_table(spec, keys, states, counts, names).to_batches()

    return df.select(*proj).mapInArrow(build, out_schema)


# ---------------------------------------------------------------------------
# levels 1+2: tree merge of serialized partials


def _estimate_partials_partitions(partials: DataFrame) -> int:
    """Estimated partition count of the level-0 partials frame, for the
    single-vs-two-level merge topology choice.

    Uses the logical plan's size statistics (catalog/file-index bytes)
    divided by ``files.maxPartitionBytes`` instead of forcing physical
    RDD materialization: ``.rdd.getNumPartitions()`` costs ~45 ms of
    eager planning + RDD wrapper per query construction (measured r6),
    while the stats walk is ~free and the 4096-partition threshold only
    picks a merge topology — both topologies are value-identical, so an
    estimate is sufficient. Falls back to the exact probe when stats
    are unavailable (non-classic backends)."""
    stats = plan_stats(partials)
    if stats is not None:
        return stats[1]
    try:
        return partials.rdd.getNumPartitions()
    except Exception:
        return 1 << 20  # unknown: choose the scale-safe topology


def _merge(
    partials: DataFrame, spec: SketchSpec, by: list[str], answer: tuple | None = None
) -> DataFrame:
    """One merge stage: co-locate every group's blobs and fold them.

    Grouped: hash-repartition on the keys + ONE mapInArrow call per
    partition, running :func:`_combine` with blob folding and no flush
    over the partition as one table (one grouping, however many groups
    it holds), instead of a per-group UDF call, whose overhead dominates
    when groups are small (r6: 0.68s -> 0.54s on the 80-group month
    query). Keys are emitted as an Arrow take, so their types round-trip.
    Global (no keys): the same function over ``repartition(1)``, emitting
    a zero sketch if no partial arrives.

    ``answer = (fields, fn)`` emits ``*by, *fields`` instead of
    ``*by, sketch, rows_seen``: ``fn(states, counts)`` answers from the
    merged states in memory (a group no blob reached holds
    ``spec.zero_fn()``), so the merge's sketches are never encoded to be
    decoded again. It returns one list, numpy or Arrow array per field,
    converted to the field's Arrow type with NaN as NULL (as from a
    pandas UDF).
    """
    per_batch = _blob_folder(spec, len(by))
    stage = partials.select(*by, "sketch", "rows_seen")
    stage = stage.repartition(*by) if by else stage.repartition(1)
    out_schema = stage.schema
    if answer is not None:
        fields, fn = answer
        clash = set(by) & {f.name for f in fields}
        if clash:
            raise ValueError(
                f"grouping column(s) {sorted(clash)} collide with the answer's columns"
            )
        out_schema = StructType([stage.schema[k] for k in by] + list(fields))
        types = [to_arrow_type(f.dataType) for f in fields]
    names = [f.name for f in out_schema]

    def merge_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        rbs = [rb for rb in batches if rb.num_rows]
        whole = [pa.Table.from_batches(rbs)] if rbs else []
        for keys, states, counts in _combine(whole, len(by), per_batch):
            if answer is None:
                out = _partials_table(spec, keys, states, counts, names)
            else:
                states = [spec.zero_fn() if s is None else s for s in states]
                vals = fn(states, counts)
                cols = [pa.array(v, t, from_pandas=True) for v, t in zip(vals, types)]
                out = pa.Table.from_arrays([*keys, *cols], names=names)
            yield from out.to_batches()

    return stage.mapInArrow(merge_partition, out_schema)


def merge_sketch_partials(
    partials: DataFrame,
    spec: SketchSpec,
    by: list[str] | None = None,
    two_level: bool | None = None,
    answer: tuple | None = None,
) -> DataFrame:
    """Merge partials down to one sketch per group (or one total).

    Global: by default a single final merge stage — with the level-0
    pre-combine there is exactly ONE blob per input partition, so even a
    100k-partition scan yields only ~1 GB of sketch bytes at one reducer's
    input, and each extra merge level costs a full exchange+Python stage
    of latency. ``two_level=True`` (or auto, above 4096 partials) first
    merges by ``bucket``, so no single reducer ever sees more than
    max(#partials/K, K) blobs — the shape to use when partials are huge
    (EXPLICIT-tier sketches) or the scan has >10^4 partitions.
    Grouped: one shuffle on the group keys — level 0 already collapsed
    each group to at most one blob per input partition (per flush).
    ``answer`` is as in :func:`_merge`, applied by the final merge only.
    """
    by = list(by or [])
    if by:
        return _merge(partials, spec, by, answer)
    if two_level is None:
        two_level = _estimate_partials_partitions(partials) > 4096
    if two_level:
        partials = _merge(partials, spec, ["bucket"])
    return _merge(partials, spec, [], answer)


def sketch_aggregate(
    df: DataFrame,
    col: str,
    spec: SketchSpec,
    by: list[str] | None = None,
    hash_mode: str | None = "xxhash64",
    merge_buckets: int = 16,
    salt_partitions: int | None = None,
    answer: tuple | None = None,
) -> DataFrame:
    """Full pipeline: level-0 partials -> tree merge -> one sketch row per
    group (columns: ``*by, sketch, rows_seen``, or ``*by`` and the
    ``answer`` fields, see :func:`_merge`)."""
    partials = sketch_partials(
        df, col, spec, by, hash_mode, merge_buckets, salt_partitions
    )
    return merge_sketch_partials(partials, spec, by, answer=answer)


# ---------------------------------------------------------------------------
# HLL high-level API


def hll_sketch_agg(
    df: DataFrame,
    col: str,
    by: list[str] | None = None,
    cfg: HllConfig | None = None,
    hash_mode: str = "xxhash64",
    merge_buckets: int = 16,
    salt_partitions: int | None = None,
) -> DataFrame:
    """Aggregate ``col`` into HLL sketch bytes (one row per group)."""
    return sketch_aggregate(
        df, col, hll_spec(cfg), by, hash_mode, merge_buckets, salt_partitions
    )


def hll_distinct(
    df: DataFrame,
    col: str,
    by: list[str] | None = None,
    cfg: HllConfig | None = None,
    hash_mode: str = "xxhash64",
    merge_buckets: int = 16,
    salt_partitions: int | None = None,
    alias: str | None = None,
) -> DataFrame:
    """Approximate COUNT(DISTINCT col) [GROUP BY by].

    Exact whenever the per-group cardinality stays within the EXPLICIT
    tier (cfg.explicit_threshold); within 1.04/sqrt(2^log2m) relative
    error otherwise. Result column: ``alias`` or ``distinct_<col>``.
    """
    alias = alias or (
        "distinct_" + "_".join(col) if isinstance(col, (list, tuple))
        else f"distinct_{col}"
    )

    def estimates(states, _counts):
        return [[s.estimate() for s in states]]

    return sketch_aggregate(
        df, col, hll_spec(cfg), by, hash_mode, merge_buckets, salt_partitions,
        answer=([StructField(alias, LongType())], estimates),
    )


# ---------------------------------------------------------------------------
# the one read-out of stored sketch bytes


def sketch_udf(decode, read, return_type, probe=None):
    """Arrow UDF answering from sketch bytes that arrive already stored
    (a sketch column, a SQL argument, a broadcast build). Sketches a
    merge has just built are answered in its task instead (``answer``
    on :func:`merge_sketch_partials`).

    Without ``probe``: each argument column holds sketch bytes, and a
    row's value is ``read(*[decode(b) for b in its blobs])``, NULL when
    any of its blobs is NULL. With ``probe`` (one sketch's bytes, or a
    Broadcast of them): the one argument is an int64 hash column (e.g.
    ``xxhash64``); each batch decodes the sketch once and
    ``read(sketch, hashes)`` answers every row at once, NULL where the
    hash is NULL. A NaN answer is NULL, as from a pandas UDF.
    """
    from pyspark import Broadcast
    from pyspark.sql.functions import arrow_udf

    rtype = to_arrow_type(return_type)

    def readout(*cols: pa.Array) -> pa.Array:
        if probe is None:
            rows = zip(*[c.to_pylist() for c in cols])
            vals = [None if None in r else read(*map(decode, r)) for r in rows]
            return pa.array(vals, rtype, from_pandas=True)
        h = cols[0]
        sk = decode(probe.value if isinstance(probe, Broadcast) else probe)
        out = read(sk, h.fill_null(0).to_numpy(zero_copy_only=False).astype(np.int64))
        return pa.array(out, rtype, mask=h.is_null().to_numpy(zero_copy_only=False))

    return arrow_udf(readout, return_type)


def hll_estimate_udf():
    """sketch bytes -> cardinality estimate (long)."""
    return sketch_udf(HllSketch.from_bytes, HllSketch.estimate, LongType())


def hll_union_udf():
    """Union two sketch-bytes columns (bytes)."""
    return sketch_udf(HllSketch.from_bytes, lambda a, b: a.union(b).to_bytes(), BinaryType())


def hll_intersect_udf():
    """Inclusion-exclusion |A ∩ B| estimate (double).

    Error compounds with both sketches' errors (README.md:74-81 caveat)."""
    return sketch_udf(bytes, hll_intersect_estimate, DoubleType())


def _overlap_matrix(
    df: DataFrame,
    col: str,
    group_col: str,
    spec: SketchSpec,
    estimate: Callable[[Any], Any],
    pair_fn: Callable[[Any, Any], tuple],
    est_type,
    hash_mode: str,
) -> DataFrame:
    """All-pairs overlap from ONE scan of the base table, for any
    distinct-count sketch.

    ``estimate(sketch)`` is a group's distinct estimate and
    ``pair_fn(a, b)`` returns ``(union_est, intersect_est)`` without
    mutating either side. Output, one row per unordered pair
    (g_a < g_b): (g_a, g_b, distinct_a, distinct_b, union_est,
    intersect_est, jaccard_est), the first three estimates as
    ``est_type``, the last two as doubles. NULL group keys form no pair.

    Plan shape: the base table is scanned exactly ONCE (a self-join on
    the grouped agg would recompute the whole build — Spark does not
    reuse the exchange across the broadcast/probe sides). Only the
    level-0 partials are built: the per-group merge would add a keyed
    shuffle + Python stage whose whole output funnels into the ONE
    matrix-emit task anyway, so that task (``repartition(1)`` +
    mapInArrow) folds the (partition x group) blobs per group itself
    with :func:`_combine` (same data volume a broadcast would move),
    then answers every pair — O(groups^2) arithmetic over KB blobs,
    trivially small wherever an all-pairs matrix is a sensible ask.
    """
    from pyspark.sql.pandas.types import to_arrow_type

    sk = sketch_partials(df, col, spec, [group_col], hash_mode)
    gtype = sk.schema[group_col].dataType
    out_schema = StructType(
        [StructField("g_a", gtype), StructField("g_b", gtype)]
        + [StructField(n, est_type) for n in ("distinct_a", "distinct_b", "union_est")]
        + [StructField(n, DoubleType()) for n in ("intersect_est", "jaccard_est")]
    )
    est_arrow = to_arrow_type(est_type)

    def emit_pairs(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for keys, states, _ in _combine(batches, 1, _blob_folder(spec, 1)):
            g = keys[0]
            order = pc.sort_indices(g, null_placement="at_end").to_numpy()
            order = order[: len(g) - g.null_count]  # NULL keys form no pair
            sketches = [states[i] for i in order]
            ests = pa.array([estimate(s) for s in sketches], est_arrow)
            ia, ib = np.triu_indices(len(order), 1)
            pairs = [pair_fn(sketches[i], sketches[j]) for i, j in zip(ia, ib)]
            yield from pa.Table.from_arrays(
                [
                    g.take(order[ia]),
                    g.take(order[ib]),
                    ests.take(ia),
                    ests.take(ib),
                    pa.array([u for u, _ in pairs], est_arrow),
                    pa.array([x for _, x in pairs], pa.float64()),
                    pa.array(
                        [x / u if u > 0 else 0.0 for u, x in pairs], pa.float64()
                    ),
                ],
                names=[f.name for f in out_schema],
            ).to_batches()

    return sk.repartition(1).mapInArrow(emit_pairs, out_schema)


def hll_overlap_matrix(
    df: DataFrame,
    col: str,
    group_col: str,
    cfg: HllConfig | None = None,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """All-pairs audience overlap from ONE scan of the base table.

    Builds one HLL sketch per ``group_col`` cell, then answers every
    pairwise union / intersection / Jaccard estimate from the k sketch
    blobs alone — the second-order query sketches exist for: re-running
    COUNT(DISTINCT) per pair needs O(k^2) passes or a k-way expansion
    of the base table, this needs the one grouped build plus a single
    emit task (k = group count; plan shape in :func:`_overlap_matrix`).

    Output, one row per unordered pair (g_a < g_b):
    (g_a, g_b, distinct_a, distinct_b, union_est, intersect_est,
    jaccard_est), distinct/union estimates as longs. Intersection is
    inclusion-exclusion, so its error compounds both sketches' errors
    (small-overlap caveat, README.md:74-81); everything is EXACT while
    every group and every pairwise union stays within the EXPLICIT
    tier — the regime the oracle tests pin.
    """

    def pair(a: HllSketch, b: HllSketch) -> tuple:
        u = a.clone().union(b)
        return u.estimate(), a.estimate_float() + b.estimate_float() - u.estimate_float()

    return _overlap_matrix(
        df, col, group_col, hll_spec(cfg), HllSketch.estimate, pair, LongType(), hash_mode
    )
