"""key_skew_report / skew_stats vs hand-computed ground truth."""

import pytest
from pyspark.sql import Row

from hll_spark.operators.diagnostics import key_skew_report, skew_stats


@pytest.fixture(scope="module")
def skewed(spark):
    # key 'a' 6 rows, 'b' 3, 'c' 1  -> total 10, distinct 3
    rows = [Row(k="a", v=i) for i in range(6)]
    rows += [Row(k="b", v=i) for i in range(3)]
    rows += [Row(k="c", v=0)]
    return spark.createDataFrame(rows)


def test_report_values(skewed):
    out = key_skew_report(skewed, "k", top_n=2).collect()
    assert [(r["k"], r["n_rows"]) for r in out] == [("a", 6), ("b", 3)]
    assert out[0]["share"] == pytest.approx(0.6)
    # uniform spread = 10/3 rows per key; 'a' is 6/(10/3) = 1.8x
    assert out[0]["skew"] == pytest.approx(1.8)
    assert out[1]["skew"] == pytest.approx(0.9)


def test_report_deterministic_tiebreak(spark):
    df = spark.createDataFrame(
        [Row(k=c, v=i) for c in ("z", "y", "x") for i in range(2)]
    )
    out = key_skew_report(df, ["k"], top_n=3).collect()
    assert [r["k"] for r in out] == ["x", "y", "z"]


def test_multi_column_key(spark):
    df = spark.createDataFrame(
        [Row(a=1, b="p"), Row(a=1, b="p"), Row(a=1, b="q"), Row(a=2, b="p")]
    )
    out = key_skew_report(df, ["a", "b"], top_n=1).collect()
    assert (out[0]["a"], out[0]["b"], out[0]["n_rows"]) == (1, "p", 2)


def test_stats(skewed):
    r = skew_stats(skewed, "k").collect()[0]
    assert r["distinct_keys"] == 3
    assert r["max_key_rows"] == 6
    assert r["avg_key_rows"] == pytest.approx(10 / 3)
    assert r["skew_factor"] == pytest.approx(1.8)


def test_empty_cols_raise(skewed):
    with pytest.raises(ValueError):
        key_skew_report(skewed, [])
    with pytest.raises(ValueError):
        skew_stats(skewed, [])


def test_plan_has_no_collect_or_cartesian(skewed):
    # broadcast of the 1-row totals frame: plan must show a broadcast
    # join, not a cartesian product over data-sized inputs
    plan = key_skew_report(skewed, "k")._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # the 1-row totals frame must arrive via a broadcast (without the
    # hint this compiles to a BroadcastNestedLoopJoin too, but assert
    # positively so losing the broadcast entirely cannot pass)
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


# ---------------------------------------------------------------------------
# fk_containment_report — cross-table key containment / FK discovery


@pytest.fixture(scope="module")
def fk_frames(spark):
    from pyspark.sql import functions as F

    # parent: keys 0..99; child: keys 0..49 (each twice -> duplication
    # must not matter); stray: 40..59 (half inside parent's key space)
    parent = spark.range(100).select(F.col("id").alias("pk"))
    child = (
        spark.range(100)
        .select((F.col("id") % 50).alias("fk"))
        .repartition(5)
    )
    stray = spark.range(40, 60).select(F.col("id").alias("sk"))
    return parent, child, stray


def test_fk_report_exact_tier(spark, fk_frames):
    from hll_spark.operators.diagnostics import fk_containment_report

    parent, child, stray = fk_frames
    out = {
        (r["child_label"], r["parent_label"]): r.asDict()
        for r in fk_containment_report(
            [(parent, "pk", "parent"), (child, "fk", "child"),
             (stray, "sk", "stray")],
            k=1024,
        ).collect()
    }
    assert len(out) == 6  # all ordered pairs
    r = out[("child", "parent")]
    assert (r["distinct_child"], r["distinct_parent"]) == (50, 100)
    assert r["intersect_est"] == 50
    assert r["containment"] == 1.0 and r["is_fk_candidate"]
    r = out[("parent", "child")]
    assert r["containment"] == 0.5 and not r["is_fk_candidate"]
    r = out[("stray", "parent")]  # 40..59 vs 0..99 -> 40..59 all inside
    assert r["containment"] == 1.0 and r["is_fk_candidate"]
    r = out[("stray", "child")]  # 40..59 vs 0..49 -> 40..49 = 10 of 20
    assert r["intersect_est"] == 10 and r["containment"] == 0.5
    r = out[("parent", "stray")]  # 20 of 100
    assert r["containment"] == pytest.approx(0.2)


def test_fk_report_nulls_and_empty_child(spark, fk_frames):
    from pyspark.sql import functions as F

    from hll_spark.operators.diagnostics import fk_containment_report

    parent, _, _ = fk_frames
    # nulls never count as keys; an all-null child keeps its rows with
    # distinct 0 / containment 0 instead of vanishing from the report
    withnull = spark.range(10).select(
        F.when(F.col("id") < 5, F.col("id")).alias("k")
    )
    allnull = spark.range(3).select(
        F.lit(None).cast("long").alias("k")
    )
    out = {
        (r["child_label"], r["parent_label"]): r.asDict()
        for r in fk_containment_report(
            [(parent, "pk", "parent"), (withnull, "k", "withnull"),
             (allnull, "k", "allnull")],
            k=1024,
        ).collect()
    }
    r = out[("withnull", "parent")]
    assert r["distinct_child"] == 5  # 0..4, nulls excluded
    assert r["containment"] == 1.0 and r["is_fk_candidate"]
    r = out[("allnull", "parent")]
    assert r["distinct_child"] == 0
    assert r["containment"] == 0.0 and not r["is_fk_candidate"]
    r = out[("parent", "allnull")]
    assert r["intersect_est"] == 0 and not r["is_fk_candidate"]


def test_fk_report_validation(spark, fk_frames):
    from hll_spark.operators.diagnostics import fk_containment_report

    parent, child, _ = fk_frames
    with pytest.raises(ValueError, match="at least two"):
        fk_containment_report([(parent, "pk", "parent")])
    with pytest.raises(ValueError, match="duplicate labels"):
        fk_containment_report(
            [(parent, "pk", "same"), (child, "fk", "same")]
        )
    with pytest.raises(ValueError, match="unknown column"):
        fk_containment_report(
            [(parent, "nope", "parent"), (child, "fk", "child")]
        )


def test_fk_report_partition_invariant(spark, fk_frames):
    from hll_spark.operators.diagnostics import fk_containment_report

    parent, child, stray = fk_frames
    spec1 = [(parent.coalesce(1), "pk", "parent"),
             (child.coalesce(1), "fk", "child"),
             (stray.coalesce(1), "sk", "stray")]
    spec7 = [(parent.repartition(7), "pk", "parent"),
             (child.repartition(7), "fk", "child"),
             (stray.repartition(7), "sk", "stray")]
    a = [r.asDict() for r in fk_containment_report(spec1, k=1024).collect()]
    b = [r.asDict() for r in fk_containment_report(spec7, k=1024).collect()]
    assert a == b


@pytest.fixture(scope="module")
def diff_frames(spark):
    # old: ids 1-5. new: id 1 unchanged, id 2 value change, id 3
    # value->NULL, id 4 NULL->value, id 5 removed, id 6 added.
    old = spark.createDataFrame(
        [
            Row(id=1, s="a", v=1.0),
            Row(id=2, s="a", v=2.0),
            Row(id=3, s="a", v=3.0),
            Row(id=4, s=None, v=4.0),
            Row(id=5, s="a", v=5.0),
        ]
    )
    new = spark.createDataFrame(
        [
            Row(id=1, s="a", v=1.0),
            Row(id=2, s="a", v=2.5),
            Row(id=3, s=None, v=3.0),
            Row(id=4, s="x", v=4.0),
            Row(id=6, s="a", v=6.0),
        ]
    )
    return old, new


def test_corpus_diff_counts(diff_frames):
    from hll_spark.operators.diagnostics import corpus_diff

    old, new = diff_frames
    row = corpus_diff(old, new, "id", ["s", "v"]).collect()[0]
    assert row.asDict() == {
        "n_old": 5,
        "n_new": 5,
        "n_added": 1,
        "n_removed": 1,
        # null-safe: value->NULL (id 3) and NULL->value (id 4) both
        # count as changed, not unchanged
        "n_changed": 3,
        "n_unchanged": 1,
    }


def test_corpus_diff_single_col_and_identity(diff_frames):
    from hll_spark.operators.diagnostics import corpus_diff

    old, _ = diff_frames
    row = corpus_diff(old, old, "id", ["v"]).collect()[0]
    assert (row.n_added, row.n_removed, row.n_changed, row.n_unchanged) == (
        0, 0, 0, 5,
    )


def test_corpus_diff_validation(diff_frames):
    from hll_spark.operators.diagnostics import corpus_diff

    old, new = diff_frames
    with pytest.raises(ValueError, match="non-empty"):
        corpus_diff(old, new, "id", [])
    with pytest.raises(ValueError, match="missing columns"):
        corpus_diff(old.drop("v"), new, "id", ["v"])


def test_fk_report_semantic_hash_collision_keeps_tables_apart(spark, monkeypatch):
    # two different tables whose analyzed plans share a 32-bit semantic
    # hash must still be scanned separately: sameResult confirms a match
    from pyspark.sql import functions as F

    from hll_spark.operators import diagnostics, scanutil

    a = spark.range(10).select(F.col("id").alias("k"))
    b = spark.range(5, 25).select(F.col("id").alias("k"))
    monkeypatch.setattr(scanutil, "plan_hash", lambda df: 0)
    out = {
        (r["child_label"], r["parent_label"]): r.asDict()
        for r in diagnostics.fk_containment_report(
            [(a, "k", "a"), (b, "k", "b")], k=1024
        ).collect()
    }
    assert out[("a", "b")]["distinct_child"] == 10
    assert out[("b", "a")]["distinct_child"] == 20
    assert out[("a", "b")]["intersect_est"] == 5
    assert out[("a", "b")]["containment"] == 0.5
