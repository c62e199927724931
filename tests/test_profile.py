"""profile_table — one-scan ANALYZE-TABLE column statistics.

Exactness contract on a constructed frame (every estimator in its
exact regime), partition invariance of the whole row, KLL exact-regime
quantile parity against a locally-built sketch, and the
MisraGries.update_counts weighted-update equivalence the profiler's
per-batch value_counts path rides on.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from hll_spark.operators.diagnostics import profile_table
from hll_spark.sketchlib.kll import KllSketch
from hll_spark.sketchlib.mg import MisraGries


def _frame(spark, partitions=4):
    rows = []
    # 90 rows: lang cycles 3 values with 6 nulls; score = row index as
    # double with 4 nulls (different null positions than lang)
    for i in range(90):
        lang = None if i % 15 == 0 else ["en", "de", "fr"][i % 3]
        score = None if i % 22 == 0 else float(i)
        rows.append((i, lang, score))
    return spark.createDataFrame(
        rows, "id bigint, lang string, score double"
    ).repartition(partitions)


def _by_col(df):
    return {r["col_name"]: r.asDict() for r in df.collect()}


def test_profile_exact_fields(spark):
    prof = _by_col(
        profile_table(
            _frame(spark), columns=["lang", "score"], mg_k=8, top_n=2,
            quantiles=(0.0, 0.5, 1.0),
        )
    )
    lang, score = prof["lang"], prof["score"]

    # lang: 6 nulls (i % 15 == 0), 84 non-null over 3 values
    assert lang["n_rows"] == 90 and lang["n_null"] == 6
    assert lang["n_distinct_est"] == 3  # EXPLICIT tier: exact
    assert lang["total_len"] == 84 * 2
    assert lang["min_str"] == "de" and lang["max_str"] == "fr"
    assert lang["min_num"] is None and lang["max_num"] is None
    # exact counts per value: i%3==0 -> en loses i%15==0 overlaps
    true = {"en": 0, "de": 0, "fr": 0}
    for i in range(90):
        if i % 15 != 0:
            true[["en", "de", "fr"][i % 3]] += 1
    top = sorted(true.items(), key=lambda kv: (-kv[1], kv[0]))[:2]
    assert list(zip(lang["top_values"], lang["top_counts"])) == top
    assert lang["mg_err_bound"] == 0  # mg_k >= distinct
    assert lang["quantiles"] is None  # non-numeric

    # score: 5 nulls (i % 22 == 0 at 0,22,44,66,88)
    vals = [float(i) for i in range(90) if i % 22 != 0]
    assert score["n_rows"] == 90 and score["n_null"] == 5
    assert score["n_distinct_est"] == len(vals)
    assert score["min_num"] == min(vals) and score["max_num"] == max(vals)
    # quantiles in the exact regime == a locally-built sketch's answer
    local = KllSketch(200)
    local.update(np.array(vals))
    assert score["quantiles"] == [
        float(x) for x in local.quantiles([0.0, 0.5, 1.0])
    ]
    assert score["quantiles"][0] == min(vals)
    assert score["quantiles"][-1] == max(vals)


def test_profile_partition_invariant(spark):
    # mg_k above every column's distinct count keeps Misra-Gries in its
    # exact regime, where the WHOLE row is partitioning-invariant (in
    # the compacting regime only MG's bounds are; HLL/counts/extrema
    # stay exact regardless)
    cols = ["lang", "score"]
    a = _by_col(profile_table(_frame(spark, 1), columns=cols, mg_k=128))
    b = _by_col(profile_table(_frame(spark, 7), columns=cols, mg_k=128))
    assert a == b


def test_profile_validation(spark):
    df = _frame(spark)
    with pytest.raises(ValueError, match="unknown column"):
        profile_table(df, columns=["nope"])
    with pytest.raises(ValueError, match="at least one column"):
        profile_table(df, columns=[])


def test_profile_empty_table(spark):
    out = profile_table(
        spark.createDataFrame([], "a string, b double"), columns=["a", "b"]
    )
    assert out.count() == 0


def test_profile_all_null_column(spark):
    df = spark.range(10).select(
        F.lit(None).cast("string").alias("s"),
        F.lit(None).cast("double").alias("d"),
        F.col("id"),
    )
    prof = _by_col(profile_table(df, columns=["s", "d"]))
    row = prof["s"]
    assert row["n_rows"] == 10 and row["n_null"] == 10
    assert row["n_distinct_est"] == 0 and row["total_len"] == 0
    assert row["min_str"] is None and row["max_str"] is None
    assert row["top_values"] == [] and row["top_counts"] == []
    num = prof["d"]
    assert num["n_rows"] == 10 and num["n_null"] == 10
    assert num["min_num"] is None and num["max_num"] is None
    assert num["quantiles"] == [None, None, None]  # no values to rank


def test_profile_scan_prunes_to_profiled_columns(spark, sf_dir):
    # the "one pruned scan" claim, plan-asserted: profiling one column
    # of a wide parquet table must read ONLY that column
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    prof = profile_table(orders, columns=["o_orderstatus"])
    plan = prof._jdf.queryExecution().executedPlan().toString()
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "o_orderstatus" in read_schema
    assert "o_custkey" not in read_schema
    assert "o_comment" not in read_schema


def test_mg_update_counts_matches_update():
    vals = [f"k{i % 7}" for i in range(500)] + ["rare"]
    a = MisraGries(4).update(vals)
    items, counts = np.unique(np.array(vals), return_counts=True)
    b = MisraGries(4).update_counts(list(items), counts)
    # same totals; both obey the same bound structure. Pruning order
    # differs (one prune vs per-batch), so compare the invariants and
    # the recovered heavy hitters rather than raw counters.
    assert a.n_items == b.n_items
    for mg in (a, b):
        for k in [f"k{i}" for i in range(7)]:
            true = vals.count(k)
            assert mg.estimate(k) <= true <= mg.estimate(k) + mg.error_bound
    with pytest.raises(ValueError, match="counts >= 1"):
        MisraGries(4).update_counts(["x"], [0])


def test_mg_update_counts_single_batch_is_exact_equivalent():
    # one pre-aggregated call == one update() call on the expanded
    # stream: both do exactly one prune at the end
    vals = ["a"] * 5 + ["b"] * 3 + ["c"] * 2 + ["d"]
    a = MisraGries(3).update(vals)
    b = MisraGries(3).update_counts(["a", "b", "c", "d"], [5, 3, 2, 1])
    assert a.counts == b.counts and a.offset == b.offset
