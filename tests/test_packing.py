"""pack_sequences: GPT-style fixed-size training-sequence packing.

Reference model: lay the documents end-to-end in order and cut every
``max_tokens`` — computed here with a plain sequential Python loop and
compared row-for-row against the distributed two-phase scan.
"""

import random

import pandas as pd
import pytest

from hll_spark.operators.packing import pack_sequences

COLS = ["doc_id", "pack_id", "doc_offset", "pack_offset", "slice_len"]


def ref_manifest(rows, cap):
    out, pos = [], 0
    for i, t in sorted(rows):
        if t <= 0:
            continue
        s, e = pos, pos + t
        pos = e
        p = s // cap
        while p * cap < e:
            lo, hi = max(s, p * cap), min(e, (p + 1) * cap)
            out.append((i, p, lo - s, lo - p * cap, hi - lo))
            p += 1
    return pd.DataFrame(out, columns=COLS)


def run(spark, rows, cap, n_parts=7):
    df = spark.createDataFrame(rows, "doc_id long, n_tok long").repartition(
        n_parts
    )
    got = (
        pack_sequences(df, "doc_id", "n_tok", cap)
        .toPandas()
        .sort_values(["pack_id", "pack_offset"])
        .reset_index(drop=True)
        .astype("int64")
    )
    return got


def test_matches_sequential_reference(spark):
    random.seed(11)
    rows = [
        (i, random.choice([0, 1, 3, 17, 250, 1024, 2500])) for i in range(500)
    ]
    got = run(spark, rows, 1024)
    want = (
        ref_manifest(rows, 1024)
        .sort_values(["pack_id", "pack_offset"])
        .reset_index(drop=True)
        .astype("int64")
    )
    pd.testing.assert_frame_equal(got, want)


def test_pack_invariants(spark):
    random.seed(3)
    rows = [(i, random.randint(1, 700)) for i in range(400)]
    got = run(spark, rows, 256)
    sums = got.groupby("pack_id")["slice_len"].sum()
    # every pack except the last is exactly full; nothing exceeds cap
    assert (sums.iloc[:-1] == 256).all() and sums.iloc[-1] <= 256
    # pack ids are dense from 0
    assert sums.index.min() == 0
    assert sums.index.max() == len(sums) - 1
    # per-doc slices tile the doc exactly
    per_doc = got.groupby("doc_id")["slice_len"].sum()
    want = {i: t for i, t in rows}
    assert all(per_doc[i] == want[i] for i in per_doc.index)
    # slices never empty
    assert (got["slice_len"] > 0).all()


def test_partitioning_invariance(spark):
    random.seed(5)
    rows = [(i, random.randint(0, 90)) for i in range(300)]
    a = run(spark, rows, 64, n_parts=2)
    b = run(spark, rows, 64, n_parts=13)
    pd.testing.assert_frame_equal(a, b)


def test_long_doc_spans_many_packs(spark):
    rows = [(0, 10), (1, 1000), (2, 5)]
    got = run(spark, rows, 100)
    doc1 = got[got.doc_id == 1]
    # 1000 tokens starting at offset 10 -> packs 0..10 (11 spans)
    assert len(doc1) == 11
    assert doc1["slice_len"].sum() == 1000
    assert got["slice_len"].sum() == 1015


def test_zero_token_docs_emit_nothing(spark):
    rows = [(0, 0), (1, 7), (2, 0)]
    got = run(spark, rows, 16)
    assert got["doc_id"].tolist() == [1]


def test_bad_cap_rejected(spark):
    df = spark.createDataFrame([(0, 3)], "doc_id long, n_tok long")
    with pytest.raises(ValueError):
        pack_sequences(df, "doc_id", "n_tok", 0)


# ---------------------------------------------------------------- budget


from hll_spark.operators.packing import select_to_token_budget  # noqa: E402


def ref_budget(rows, budget, key=None):
    """Sequential reference: greedy fill in key order, keep while the
    exclusive prefix is under budget."""
    key = key or (lambda r: r[0])
    out, pos = [], 0
    for i, t in sorted(((i, t) for i, t in rows if t > 0), key=key):
        if pos < budget:
            out.append((i, pos))
        pos += t
    return sorted(out)


def run_budget(spark, rows, budget, order_by=None, n_parts=7):
    df = spark.createDataFrame(rows, "doc_id long, n_tok long").repartition(
        n_parts
    )
    got = select_to_token_budget(df, "doc_id", "n_tok", budget, order_by)
    return sorted((r.doc_id, r.budget_offset) for r in got.collect())


def test_budget_matches_sequential_reference(spark):
    random.seed(23)
    rows = [
        (i, random.choice([0, 1, 3, 17, 250, 1024])) for i in range(400)
    ]
    assert run_budget(spark, rows, 5_000) == ref_budget(rows, 5_000)


def test_budget_descending_score_order(spark):
    # order by n_tok DESC, doc_id ASC: the big docs fill the budget
    rows = [(i, (i * 7) % 13 + 1) for i in range(60)]
    got = run_budget(
        spark, rows, 100, order_by=[("n_tok", True), "doc_id"]
    )
    want = ref_budget(rows, 100, key=lambda r: (-r[1], r[0]))
    assert got == want


def test_budget_boundary_doc_kept_whole(spark):
    rows = [(0, 10), (1, 10), (2, 10)]
    # budget 15: doc 1 starts at 10 < 15 -> kept; doc 2 starts at 20
    assert run_budget(spark, rows, 15) == [(0, 0), (1, 10)]
    # budget 10: doc 1 starts exactly AT the budget -> dropped
    assert run_budget(spark, rows, 10) == [(0, 0)]


def test_budget_larger_than_corpus_keeps_all(spark):
    rows = [(i, 5) for i in range(20)]
    assert run_budget(spark, rows, 10**9) == [(i, 5 * i) for i in range(20)]


def test_budget_partitioning_invariance(spark):
    rows = [(i, (i % 9) + 1) for i in range(200)]
    a = run_budget(spark, rows, 300, n_parts=2)
    b = run_budget(spark, rows, 300, n_parts=23)
    assert a == b == ref_budget(rows, 300)


def test_budget_validation(spark):
    df = spark.createDataFrame([(0, 1)], "doc_id long, n_tok long")
    with pytest.raises(ValueError, match="budget"):
        select_to_token_budget(df, "doc_id", "n_tok", 0)


# ------------------------------------------------------- grouped budget


from hll_spark.operators.packing import (  # noqa: E402
    mixture_budgets,
    select_to_token_budget_grouped,
)


def ref_budget_grouped(rows, budgets, key=None):
    """Sequential reference: per-group greedy fill. rows: (id, grp, tok)."""
    key = key or (lambda r: r[0])
    out, pos = [], {}
    for i, g, t in sorted(
        ((i, g, t) for i, g, t in rows if t > 0), key=key
    ):
        cap = budgets if isinstance(budgets, int) else budgets.get(g, 0)
        p = pos.get(g, 0)
        if p < cap:
            out.append((i, g, p))
        pos[g] = p + t
    return sorted(out)


def run_grouped(spark, rows, budgets, order_by=None, n_parts=7):
    df = spark.createDataFrame(
        rows, "doc_id long, grp string, n_tok long"
    ).repartition(n_parts)
    got = select_to_token_budget_grouped(
        df, "doc_id", "n_tok", budgets, "grp", order_by
    )
    return sorted((r.doc_id, r.grp, r.budget_offset) for r in got.collect())


def test_grouped_matches_sequential_reference(spark):
    random.seed(31)
    rows = [
        (i, random.choice(["a", "b", "c"]), random.choice([0, 1, 5, 40]))
        for i in range(300)
    ]
    budgets = {"a": 100, "b": 37, "c": 0}
    assert run_grouped(spark, rows, budgets) == ref_budget_grouped(
        rows, budgets
    )


def test_grouped_int_budget_applies_per_group(spark):
    rows = [(i, "ab"[i % 2], 10) for i in range(20)]
    got = run_grouped(spark, rows, 25)
    assert got == ref_budget_grouped(rows, 25)
    # each group independently keeps 3 docs (offsets 0, 10, 20 < 25)
    assert len(got) == 6
    assert {o for _, _, o in got} == {0, 10, 20}


def test_grouped_desc_order_and_partition_invariance(spark):
    rows = [(i, "xy"[i % 2], (i * 5) % 11 + 1) for i in range(120)]
    order = [("n_tok", True), "doc_id"]
    want = ref_budget_grouped(
        rows, {"x": 60, "y": 30}, key=lambda r: (-r[2], r[0])
    )
    a = run_grouped(spark, rows, {"x": 60, "y": 30}, order, n_parts=3)
    b = run_grouped(spark, rows, {"x": 60, "y": 30}, order, n_parts=17)
    assert a == b == want


def test_grouped_missing_group_dropped(spark):
    rows = [(0, "a", 5), (1, "zzz", 5)]
    assert run_grouped(spark, rows, {"a": 10}) == [(0, "a", 0)]


def test_grouped_validation(spark):
    df = spark.createDataFrame([(0, "a", 1)], "doc_id long, grp string, n_tok long")
    with pytest.raises(ValueError, match="budgets"):
        select_to_token_budget_grouped(df, "doc_id", "n_tok", 0, "grp")
    with pytest.raises(ValueError, match="budgets"):
        select_to_token_budget_grouped(df, "doc_id", "n_tok", {}, "grp")
    with pytest.raises(ValueError, match="non-negative"):
        select_to_token_budget_grouped(df, "doc_id", "n_tok", {"a": -1}, "grp")


def test_mixture_budgets_exact_split():
    b = mixture_budgets(100, {"web": 7, "code": 2, "wiki": 1})
    assert b == {"web": 70, "code": 20, "wiki": 10}
    b = mixture_budgets(10, {"a": 1, "b": 1, "c": 1})
    assert sum(b.values()) == 10 and sorted(b.values()) == [3, 3, 4]
    # remainder goes to the largest fractional share; tie -> str order
    b = mixture_budgets(11, {"a": 1, "b": 1})
    assert b == {"a": 6, "b": 5}
    b = mixture_budgets(7, {"only": 3.5})
    assert b == {"only": 7}


def test_mixture_budgets_validation():
    with pytest.raises(ValueError, match="total"):
        mixture_budgets(0, {"a": 1})
    with pytest.raises(ValueError, match="non-empty"):
        mixture_budgets(10, {})
    with pytest.raises(ValueError, match="non-negative"):
        mixture_budgets(10, {"a": -1})
    with pytest.raises(ValueError, match="positive"):
        mixture_budgets(10, {"a": 0, "b": 0})


def test_mixture_budgets_properties_hypothesis():
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=200, deadline=None)
    @given(
        total=st.integers(1, 10**9),
        weights=st.dictionaries(
            st.text(min_size=1, max_size=5),
            st.integers(0, 1000),
            min_size=1,
            max_size=8,
        ),
    )
    def check(total, weights):
        if sum(weights.values()) == 0:
            weights[next(iter(weights))] = 1
        out = mixture_budgets(total, weights)
        # exact: non-negative ints summing to total
        assert sum(out.values()) == total
        assert all(isinstance(v, int) and v >= 0 for v in out.values())
        assert set(out) == set(weights)
        # each budget within 1 of its real-valued share
        wsum = sum(weights.values())
        for g, w in weights.items():
            share = total * w / wsum
            assert share - 1 < out[g] < share + 1

    check()


def test_mixture_budgets_compose_with_grouped_select(spark):
    rows = [(i, "ab"[i % 2], 4) for i in range(50)]
    budgets = mixture_budgets(60, {"a": 2, "b": 1})
    assert budgets == {"a": 40, "b": 20}
    got = run_grouped(spark, rows, budgets)
    assert got == ref_budget_grouped(rows, budgets)
    kept_a = [r for r in got if r[1] == "a"]
    kept_b = [r for r in got if r[1] == "b"]
    assert len(kept_a) == 10 and len(kept_b) == 5  # 40/4, 20/4


# ---------------------------------------------------------------------------
# chunk_documents — context-length chunking with overlap


def _chunks(spark, rows, **kw):
    from hll_spark.operators.packing import chunk_documents

    df = spark.createDataFrame(rows, "doc_id long, text string")
    return {
        (r["doc_id"], r["chunk_id"]): (r["n_tokens"], r["chunk_text"])
        for r in chunk_documents(df, "text", "doc_id", **kw).collect()
    }


def test_chunk_documents_exact_small(spark):
    text = " ".join(f"t{i}" for i in range(10))
    out = _chunks(spark, [(1, text)], max_tokens=8, overlap=2)
    # stride 6: starts 0 and 6 -> [t0..t7], [t6..t9]
    assert out == {
        (1, 0): (8, " ".join(f"t{i}" for i in range(8))),
        (1, 1): (4, " ".join(f"t{i}" for i in range(6, 10))),
    }


def test_chunk_documents_short_and_empty_docs(spark):
    out = _chunks(
        spark,
        [(1, "a b c"), (2, ""), (3, "   "), (4, "solo")],
        max_tokens=8,
        overlap=2,
    )
    # short docs -> exactly one chunk; empty/whitespace docs -> no rows
    assert out == {(1, 0): (3, "a b c"), (4, 0): (1, "solo")}


def test_chunk_documents_covers_every_token(spark):
    import random

    rng = random.Random(7)
    rows = [
        (i, " ".join(f"w{i}_{j}" for j in range(rng.randrange(0, 200))))
        for i in range(30)
    ]
    max_tokens, overlap = 16, 5
    stride = max_tokens - overlap
    out = _chunks(spark, rows, max_tokens=max_tokens, overlap=overlap)
    for doc_id, text in rows:
        toks = text.split()
        got = sorted(
            (cid, v) for (d, cid), v in out.items() if d == doc_id
        )
        if not toks:
            assert got == []
            continue
        # reconstruct: chunk i contributes its tokens past the overlap
        # (all of chunk 0); concatenation must equal the original stream
        rebuilt = []
        for cid, (n_tok, ctext) in got:
            ctoks = ctext.split()
            assert n_tok == len(ctoks) <= max_tokens
            assert ctoks == toks[cid * stride : cid * stride + len(ctoks)]
            rebuilt.extend(ctoks if cid == 0 else ctoks[overlap:])
        assert rebuilt == toks


def test_chunk_documents_validation_and_plan(spark):
    import pytest

    from hll_spark.operators.packing import chunk_documents

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="max_tokens"):
        chunk_documents(df, max_tokens=0)
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, max_tokens=8, overlap=8)
    with pytest.raises(ValueError, match="unknown column"):
        chunk_documents(df, text_col="nope")
    out = chunk_documents(df, max_tokens=8, overlap=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan  # zero-shuffle operator


class _NoStatsFrame:
    """Stands in for a DataFrame whose plan-stats probe raises (e.g. a
    backend without ``_jdf``); counts probe attempts."""

    def __init__(self, rdd_partitions):
        self.probes = 0
        self._rdd_partitions = rdd_partitions

    @property
    def _jdf(self):
        self.probes += 1
        raise AttributeError("_jdf")

    @property
    def rdd(self):
        if self._rdd_partitions is None:
            raise AttributeError("rdd")
        return type("Rdd", (), {"getNumPartitions": lambda s: self._rdd_partitions})()


def test_range_partitions_fallback_does_not_recurse():
    from hll_spark.operators.packing import _range_partitions

    df = _NoStatsFrame(rdd_partitions=3)
    assert _range_partitions(df) == 3
    assert df.probes == 1
    assert _range_partitions(_NoStatsFrame(rdd_partitions=0)) == 1
    df = _NoStatsFrame(rdd_partitions=None)
    assert _range_partitions(df) == 200
    assert df.probes == 1
