"""Training-sequence packing: lay documents end-to-end in a
deterministic global order and split the token stream into fixed-size
training sequences ("packs") — the standard GPT-style pretraining
layout (concatenate corpus, cut every ``max_tokens``).

Output is the pack *manifest*: one row per (document, pack) incidence
with the exact slice arithmetic, which is what a training-data writer
needs to materialize packed sequences without ever holding the
concatenated stream anywhere:

    doc_id      the document
    pack_id     which training sequence the slice lands in (0-based)
    doc_offset  first token of the slice, within the document
    pack_offset where the slice starts inside the pack
    slice_len   tokens in the slice (> 0)

A document longer than ``max_tokens`` spans several packs (one row per
pack); zero-token documents occupy no span and emit no row.

100 TB design — the classic two-phase distributed scan (same shape as
``zipWithIndex``), because the naive formulation (a global window
cumsum ``ORDER BY doc_id`` with no partition key) collapses the whole
corpus into ONE task in Spark:

1. range-repartition + sort by the order column — a single O(n)
   shuffle that gives a total order across partitions;
2. per-partition token totals (one tiny row per partition) are
   collected and exclusive-prefix-summed on the driver — KB-sized at
   any corpus scale — and broadcast back as plain task locals;
3. one ``mapInPandas`` pass computes each document's global start
   offset (partition base + local cumsum) and emits its pack spans
   with vectorized numpy (a doc covering k packs repeats k times via
   ``np.repeat``); no second shuffle, no driver data path beyond the
   per-partition totals.

Both passes run over one ordered layout whose lineage is cut
(``scanutil.reused``), so the partitioning seen by phase 2 and phase 3
is byte-identical. ``pack_sequences`` and both budget selections share
phases 1-2 (:func:`_ordered_totals`); each keeps its own projection,
driver prefix sum and emit.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType, StructField, StructType

from .scanutil import plan_stats


def _range_partitions(df: DataFrame) -> int:
    """Partition count for the phase-1 range shuffle, from logical-plan
    statistics instead of ``df.rdd.getNumPartitions()`` — the RDD probe
    eagerly materializes the physical plan per query build (the same
    ~45 ms-per-build cost the sketch merge dropped in r6). Any positive
    count is CORRECT here (phases 2-3 derive per-partition totals from
    whatever layout phase 1 produced); the estimate only sizes the
    shuffle."""
    stats = plan_stats(df)
    if stats is not None:
        return min(stats[1], 100_000)
    try:
        return max(df.rdd.getNumPartitions(), 1)
    except Exception:
        return 200


def _ordered_totals(
    df: DataFrame, base: DataFrame, sort_exprs: list, by: tuple = ()
) -> tuple[DataFrame, list]:
    """Phases 1-2 of the two-phase scan: ``base`` range-partitioned and
    sorted on ``sort_exprs`` (one O(n) shuffle into a total order), its
    lineage cut so the totals pass and the caller's emit pass cannot see
    different range samplings, and the collected ``__sum`` of ``__tok``
    per partition ``__pid`` (per partition and ``by`` columns) — one
    tiny row each at any corpus size. ``df`` sizes the range shuffle."""
    from .scanutil import reused

    ordered = reused(
        base.repartitionByRange(_range_partitions(df), *sort_exprs)
        .sortWithinPartitions(*sort_exprs)
    )
    totals = (
        ordered.groupBy(F.spark_partition_id().alias("__pid"), *by)
        .agg(F.sum("__tok").alias("__sum"))
        .collect()
    )
    return ordered, totals


_MANIFEST_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("pack_id", LongType()),
        StructField("doc_offset", LongType()),
        StructField("pack_offset", LongType()),
        StructField("slice_len", LongType()),
    ]
)


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_count_col,
    max_tokens: int,
    order_col: str | None = None,
) -> DataFrame:
    """Pack manifest for fixed-size training sequences.

    ``token_count_col`` is a column name or Column with each document's
    token count; ``order_col`` (default: ``id_col``) fixes the
    deterministic concatenation order. See the module docstring for
    the output contract and the distributed plan.
    """
    if max_tokens < 1:
        raise ValueError("max_tokens must be >= 1")
    order_col = order_col or id_col
    tokens = (
        F.col(token_count_col)
        if isinstance(token_count_col, str)
        else token_count_col
    )

    base = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(order_col).alias("__ord"),
        tokens.cast("long").alias("__tok"),
    ).where(F.col("__tok") > 0)
    ordered, totals = _ordered_totals(df, base, ["__ord"])
    # per-partition token totals -> exclusive prefix sum
    sums = {r["__pid"]: r["__sum"] for r in totals}
    bases: dict[int, int] = {}
    acc = 0
    for pid in sorted(sums):
        bases[pid] = acc
        acc += sums[pid]

    cap = int(max_tokens)

    def emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        from pyspark import TaskContext

        pos = bases.get(TaskContext.get().partitionId(), 0)
        for b in batches:
            tok = b["__tok"].to_numpy(dtype=np.int64)
            if not len(tok):
                continue
            start = pos + np.concatenate(([0], np.cumsum(tok[:-1])))
            pos = int(start[-1] + tok[-1])
            end = start + tok  # exclusive
            first_pack = start // cap
            last_pack = (end - 1) // cap
            n_spans = (last_pack - first_pack + 1).astype(np.int64)
            doc_ix = np.repeat(np.arange(len(tok)), n_spans)
            # pack index within each doc's span run: 0,1,..,k-1
            offs = np.arange(len(doc_ix)) - np.repeat(
                np.concatenate(([0], np.cumsum(n_spans[:-1]))), n_spans
            )
            pack = first_pack[doc_ix] + offs
            lo = np.maximum(start[doc_ix], pack * cap)
            hi = np.minimum(end[doc_ix], (pack + 1) * cap)
            yield pd.DataFrame(
                {
                    "doc_id": b["doc_id"].to_numpy()[doc_ix],
                    "pack_id": pack,
                    "doc_offset": lo - start[doc_ix],
                    "pack_offset": lo - pack * cap,
                    "slice_len": hi - lo,
                }
            )

    return ordered.mapInPandas(emit, _MANIFEST_SCHEMA)


_BUDGET_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("budget_offset", LongType()),
    ]
)


def select_to_token_budget(
    df: DataFrame,
    id_col: str,
    token_count_col,
    budget: int,
    order_by=None,
) -> DataFrame:
    """Greedy-fill corpus selection: walk documents in ``order_by``
    order and keep each doc whose EXCLUSIVE running token total is
    still below ``budget`` — the "take the best documents up to N
    tokens" primitive of mixture construction (DoReMi-style domain
    budgets, epoch sizing, 'top X by classifier score until the token
    budget fills'). The doc that crosses the boundary is kept whole
    (manifest semantics for trimming it live in ``pack_sequences``).

    Returns (doc_id, budget_offset) — the kept ids with each doc's
    exact global start offset in the ordered token stream; semi-join
    back to ``df`` for the full rows. ``order_by`` is a list of
    ``(expr, descending)`` pairs — a bare column name/Column means
    ascending (e.g. ``[("score", True), "doc_id"]`` = score DESC,
    doc_id ASC; default: ``id_col`` ascending) — and MUST be a total
    order: ties would make the prefix sums ambiguous across engines.

    Scale shape: the same two-phase scan as ``pack_sequences`` (one
    range shuffle, per-partition totals prefix-summed on the driver),
    plus a prune ``pack_sequences`` cannot do: partitions whose base
    offset already exceeds ``budget`` are skipped wholesale in the
    final pass, so a 1%-of-corpus budget does vectorized work on ~1%
    of partitions (every partition is still scanned once for its
    total — one O(n) pass, unavoidable without a pre-aggregated
    token index).
    """
    if budget < 1:
        raise ValueError("budget must be >= 1")
    norm = _norm_order(order_by, id_col)
    tokens = (
        F.col(token_count_col)
        if isinstance(token_count_col, str)
        else token_count_col
    )
    base = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        tokens.cast("long").alias("__tok"),
        *[e.alias(f"__o{i}") for i, (e, _) in enumerate(norm)],
    ).where(F.col("__tok") > 0)
    sort_exprs = [
        F.col(f"__o{i}").desc() if d else F.col(f"__o{i}").asc()
        for i, (_, d) in enumerate(norm)
    ]
    ordered, totals = _ordered_totals(df, base, sort_exprs)
    sums = {r["__pid"]: r["__sum"] for r in totals}
    live: dict[int, int] = {}
    acc = 0
    for pid in sorted(sums):
        if acc < budget:
            live[pid] = acc
        acc += sums[pid]
    cap = int(budget)

    def emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        if pid not in live:
            return  # pruned: every doc here starts at/after the budget
        pos = live[pid]
        for b in batches:
            tok = b["__tok"].to_numpy(dtype=np.int64)
            if not len(tok):
                continue
            start = pos + np.concatenate(([0], np.cumsum(tok[:-1])))
            pos = int(start[-1] + tok[-1])
            keep = start < cap
            yield pd.DataFrame(
                {
                    "doc_id": b["doc_id"].to_numpy()[keep],
                    "budget_offset": start[keep],
                }
            )
            if pos >= cap:
                return  # the rest of this partition starts past budget

    return ordered.mapInPandas(emit, _BUDGET_SCHEMA)


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_tokens: int = 256,
    overlap: int = 0,
) -> DataFrame:
    """Split each document into whitespace-token chunks of at most
    ``max_tokens`` tokens, with ``overlap`` tokens carried between
    consecutive chunks — context-length chunking (RAG indexing, long-doc
    pretraining with cross-boundary context).

    Within a document, chunk ``i`` starts at token ``i * stride`` where
    ``stride = max_tokens - overlap``; the last chunk always reaches the
    document's final token, so every token appears in at least one
    chunk and no chunk is a suffix of its predecessor. Zero-token
    documents emit no row.

    Output: (id_col, chunk_id, n_tokens, chunk_text) — chunk_id 0-based
    within the document, n_tokens the chunk's token count, chunk_text
    the tokens re-joined with single spaces.

    100 TB design: entirely JVM builtins — one narrow projection
    (split → sequence of chunk starts → posexplode → slice +
    array_join), whole-stage codegen'd, zero shuffles, zero Python.
    Chunk rows inherit the input partitioning.
    """
    if max_tokens < 1:
        raise ValueError(f"max_tokens must be >= 1, got {max_tokens}")
    if not 0 <= overlap < max_tokens:
        raise ValueError(
            f"overlap must be in [0, max_tokens), got {overlap}"
        )
    for c in (text_col, id_col):
        if c not in df.columns:
            raise ValueError(f"unknown column {c!r}")
    stride = max_tokens - overlap

    toks = F.when(
        F.length(F.trim(F.col(text_col))) == 0,
        F.array().cast("array<string>"),
    ).otherwise(F.split(F.trim(F.col(text_col)), r"\s+"))
    n = F.size(toks)
    # number of EXTRA chunks past the first: ceil((n - max_tokens) / stride)
    extra = F.when(n <= max_tokens, F.lit(0).cast("long")).otherwise(
        F.ceil((n - F.lit(max_tokens)) / F.lit(float(stride)))
    )
    starts = F.sequence(
        F.lit(0).cast("long"), extra * stride, F.lit(stride).cast("long")
    )
    base = df.select(
        F.col(id_col), toks.alias("__toks"), starts.alias("__starts")
    ).where(F.size("__toks") > 0)
    exploded = base.select(
        id_col,
        F.posexplode("__starts").alias("chunk_id", "__start"),
        F.col("__toks"),
    )
    chunk = F.slice(
        F.col("__toks"), F.col("__start").cast("int") + 1, max_tokens
    )
    return exploded.select(
        id_col,
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def _norm_order(order_by, id_col):
    """[(value Column, descending bool)] from the caller's order_by
    list of ``(expr, desc)`` pairs / bare exprs (see
    select_to_token_budget); default: id ascending."""
    norm = []
    for o in order_by if order_by else [id_col]:
        expr, desc = o if isinstance(o, tuple) else (o, False)
        expr = F.col(expr) if isinstance(expr, str) else expr
        norm.append((expr, bool(desc)))
    return norm


def mixture_budgets(total: int, weights: dict) -> dict:
    """Integer largest-remainder split of ``total`` tokens across the
    ``weights`` dict (group -> non-negative number) — the arithmetic
    half of domain-mixture construction (DoReMi/Llama-style "X% web,
    Y% code, Z% wiki" recipes). Exact: the returned budgets are
    non-negative ints summing to ``total``; floors first, remainders
    to the largest fractional shares, ties broken by str(group) so the
    split is deterministic in every engine and run.
    """
    if total < 1:
        raise ValueError("total must be >= 1")
    if not weights:
        raise ValueError("weights must be non-empty")
    from fractions import Fraction

    fw = {g: Fraction(w) for g, w in weights.items()}
    if any(w < 0 for w in fw.values()):
        raise ValueError("weights must be non-negative")
    wsum = sum(fw.values())
    if wsum <= 0:
        raise ValueError("weights must sum to a positive value")
    shares = {g: Fraction(total) * w / wsum for g, w in fw.items()}
    out = {g: int(s) for g, s in shares.items()}  # floor (shares >= 0)
    leftover = total - sum(out.values())
    by_rem = sorted(
        shares, key=lambda g: (-(shares[g] - out[g]), str(g))
    )
    for g in by_rem[:leftover]:
        out[g] += 1
    return out


def select_to_token_budget_grouped(
    df: DataFrame,
    id_col: str,
    token_count_col,
    budgets: dict | int,
    group_col: str,
    order_by=None,
) -> DataFrame:
    """Per-group greedy fill: within EACH ``group_col`` value, keep
    docs in ``order_by`` order while the group's exclusive token
    prefix is under that group's budget — ``select_to_token_budget``
    with one budget per domain, i.e. the executable half of a mixture
    recipe (pair with ``mixture_budgets`` for the weights→budgets
    arithmetic).

    ``budgets``: a dict group→budget (groups absent from the dict, or
    with budget 0, are dropped entirely — including null groups unless
    None is a key), or a single int applied to every group. Returns
    (doc_id, <group_col>, budget_offset) with offsets restarting per
    group.

    Scale shape: identical two-phase scan, range-partitioned on
    (group, order...) so each group is a contiguous run; per-partition
    totals are per (partition, group) — still one tiny row each — and
    the driver prefix-sums per group. The budget prune generalizes:
    a partition is skipped unless at least one of its groups is still
    under budget there, and per-batch masks cut the rest.
    """
    if isinstance(budgets, int):
        if budgets < 1:
            raise ValueError("budgets must be >= 1")
    else:
        if not budgets:
            raise ValueError("budgets dict must be non-empty")
        if any(int(b) < 0 for b in budgets.values()):
            raise ValueError("budgets must be non-negative")
    norm = _norm_order(order_by, id_col)
    tokens = (
        F.col(token_count_col)
        if isinstance(token_count_col, str)
        else token_count_col
    )
    base = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(group_col).alias("__g"),
        tokens.cast("long").alias("__tok"),
        *[e.alias(f"__o{i}") for i, (e, _) in enumerate(norm)],
    ).where(F.col("__tok") > 0)
    sort_exprs = [F.col("__g").asc()] + [
        F.col(f"__o{i}").desc() if d else F.col(f"__o{i}").asc()
        for i, (_, d) in enumerate(norm)
    ]
    ordered, totals = _ordered_totals(df, base, sort_exprs, by=("__g",))

    def cap_of(g):
        return int(budgets) if isinstance(budgets, int) else int(
            budgets.get(g, 0)
        )

    acc: dict = {}
    live: dict[int, dict] = {}  # pid -> {group: base offset}
    for r in sorted(totals, key=lambda r: r["__pid"]):
        g = r["__g"]
        off = acc.get(g, 0)
        if off < cap_of(g):
            live.setdefault(r["__pid"], {})[g] = off
        acc[g] = off + r["__sum"]
    caps = {g: cap_of(g) for g in acc}

    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            base.schema["__g"],
            StructField("budget_offset", LongType()),
        ]
    )

    def emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        from pyspark import TaskContext

        pos = live.get(TaskContext.get().partitionId())
        if not pos:
            return  # no group is still under budget in this partition
        pos = dict(pos)
        for b in batches:
            if not len(b):
                continue
            tok = b["__tok"].to_numpy(dtype=np.int64)
            g = b["__g"]
            cums = (
                b.groupby("__g", sort=False, dropna=False)["__tok"]
                .cumsum()
                .to_numpy(dtype=np.int64)
                - tok
            )
            base_off = g.map(pos).to_numpy(dtype="float64")
            bud = g.map(caps).to_numpy(dtype="float64")
            start = base_off + cums
            keep = ~np.isnan(base_off) & (start < bud)
            yield pd.DataFrame(
                {
                    "doc_id": b["doc_id"].to_numpy()[keep],
                    "__g": g.to_numpy()[keep],
                    "budget_offset": start[keep].astype(np.int64),
                }
            )
            for gg, s in (
                b.groupby("__g", sort=False, dropna=False)["__tok"]
                .sum()
                .items()
            ):
                if gg in pos:
                    pos[gg] += int(s)

    return ordered.mapInPandas(emit, out_schema).withColumnRenamed(
        "__g", group_col
    )

