"""The scaffold's one grouping (agg._group_rows) and its combine loop
(agg._combine), Spark-free: which rows share a key, and how a key first
seen in an earlier batch, or after an early flush, finds its state."""

import datetime
import decimal

import numpy as np
import pyarrow as pa
import pytest

from hll_spark.operators.agg import _combine, _group_rows

# 2021-11-07 05:30 UTC and 06:30 UTC: both 01:30 wall time in New York
DST_A = 1636263000 * 1_000_000
DST_B = DST_A + 3600 * 1_000_000


def _groups(table, since=0):
    got = _group_rows(table, since)
    for idx in got:
        assert (np.diff(idx) > 0).all()  # ascending within a group
    return sorted(idx.tolist() for idx in got)


@pytest.mark.parametrize(
    "arr, want",
    [
        (pa.array([1.0, None, float("nan"), None, float("nan"), 1.0]), [[0, 5], [1, 3], [2, 4]]),
        (
            pa.array([DST_A, DST_B, None, DST_A], pa.timestamp("us", tz="America/New_York")),
            [[0, 3], [1], [2]],
        ),
        (
            pa.array(
                [decimal.Decimal("1.50"), None, decimal.Decimal("1.50"), decimal.Decimal("2.00")],
                pa.decimal128(10, 2),
            ),
            [[0, 2], [1], [3]],
        ),
        (
            pa.array([datetime.date(2020, 2, 29), None, None, datetime.date(2020, 2, 29)]),
            [[0, 3], [1, 2]],
        ),
        (pa.array([], pa.string()), []),
    ],
    ids=["nan_null", "timestamp_dst", "decimal", "date", "empty"],
)
def test_group_rows_single_key(arr, want):
    assert _groups(pa.table({"k": arr})) == want


def test_group_rows_composite_key_with_nulls():
    # a NULL in one column of a multi-column key still forms ONE group
    rng = np.random.default_rng(7)
    s = rng.integers(0, 4, 500)
    d = rng.integers(0, 2, 500)
    table = pa.table(
        {
            "k": [None if x == 0 else f"s{x}" for x in s],
            "k2": pa.array([datetime.date(2021, 3, 14 + int(x)) for x in d]),
        }
    )
    want: dict = {}
    for i, key in enumerate(zip(s.tolist(), d.tolist())):
        want.setdefault(key, []).append(i)
    assert _groups(table) == sorted(want.values())


def test_group_rows_since_keeps_groups_reaching_it():
    table = pa.table({"k": ["a", "b", "c", "a", "c"]})
    assert _groups(table, since=3) == [[0, 3], [2, 4]]


def _batch(keys, vals):
    return pa.RecordBatch.from_arrays(
        [pa.array(keys, pa.string()), pa.array(vals, pa.int64())], names=["k", "v"]
    )


def _collect(rb):
    """per_batch for _combine: a state is the list of values it folded."""
    v = rb.column(1).to_pylist()

    def step(state, idx):
        rows = v if idx is None else [v[i] for i in idx]
        return (state or []) + rows, len(rows)

    return step


def _flushes(batches, nkeys=1, max_groups=None):
    return [
        (
            list(zip(*[c.to_pylist() for c in keys])),
            states,
            counts,
        )
        for keys, states, counts in _combine(iter(batches), nkeys, _collect, max_groups)
    ]


def test_combine_key_from_earlier_batch_continues_its_state():
    batches = [
        _batch(["a", None, "b"], [1, 2, 3]),
        _batch([], []),
        _batch(["b", "c", None, "a"], [4, 5, 6, 7]),
    ]
    [(keys, states, counts)] = _flushes(batches)
    got = {k: (s, n) for k, s, n in zip(keys, states, counts)}
    assert got == {
        ("a",): ([1, 7], 2),
        (None,): ([2, 6], 2),
        ("b",): ([3, 4], 2),
        ("c",): ([5], 1),
    }


def test_combine_flush_starts_fresh_states():
    batches = [
        _batch(["a", "b"], [1, 2]),
        _batch(["c", "a"], [3, 4]),  # 3 open states > 2: flush
        _batch(["a", "d"], [5, 6]),
    ]
    out = _flushes(batches, max_groups=2)
    assert [dict(zip(k, s)) for k, s, _ in out] == [
        {("a",): [1, 4], ("b",): [2], ("c",): [3]},
        {("a",): [5], ("d",): [6]},
    ]


def test_combine_without_keys_always_yields_one_state():
    assert _flushes([], nkeys=0) == [([], [None], [0])]
    [(_, states, counts)] = _flushes(
        [_batch(["x"], [1]), _batch(["y", "z"], [2, 3])], nkeys=0
    )
    assert (states, counts) == ([[1, 2, 3]], [3])


def test_combine_over_one_chunked_table_groups_it_once():
    # the merge hands _combine its whole partition as one chunked table
    table = pa.Table.from_batches(
        [_batch(["a", None], [1, 2]), _batch([None, "a", "b"], [3, 4, 5])]
    )
    [(keys, states, counts)] = _flushes([table])
    assert dict(zip(keys, zip(states, counts))) == {
        ("a",): ([1, 4], 2),
        (None,): ([2, 3], 2),
        ("b",): ([5], 1),
    }
