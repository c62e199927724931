"""The partial -> merge scaffold (operators/agg.py), pinned at the level
every sketch operator shares: grouped key types survive the level-0 build
and the merge byte-for-byte at any partition count, both global merge
topologies give the same bytes, the early flush of the level-0 combine
map is invisible, a one-scan many-column build gives each column's own
bytes, and the sliding-HLL / Frequent Directions operators keep their
outputs (including on empty input)."""

import datetime
import decimal

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, TimestampType

from hll_spark.operators import agg
from hll_spark.operators.agg import (
    hll_sketch_agg,
    hll_spec,
    merge_sketch_partials,
    sketch_partials,
)
from hll_spark.operators.sketches import bloom_spec, cms_spec, mg_sketch_agg
from hll_spark.sketchlib.hll import HllConfig, HllSketch
from hll_spark.sketchlib.slidinghll import SlidingHll

CFG = HllConfig(log2m=10, regwidth=5)
N = 700
# 2021-11-07 05:30 UTC = 01:30 EDT; +60 min = 01:30 EST in New York
DST_EDGE_MICROS = 1636263000 * 1_000_000


def _key_columns(kind):
    k = F.col("id") % 7
    if kind == "string_null":
        return {"k": F.when(k == 0, F.lit(None)).otherwise(F.concat(F.lit("s"), k.cast("string")))}
    if kind == "date":
        return {"k": F.date_add(F.lit("2020-02-27").cast("date"), k.cast("int"))}
    if kind == "timestamp_dst":
        return {"k": F.timestamp_micros(F.lit(DST_EDGE_MICROS) + k * 1_800_000_000)}
    if kind == "decimal":
        return {"k": (k.cast("decimal(10,2)") / F.lit(4)).cast("decimal(10,2)")}
    if kind == "nan_double":
        # NaN, NULL and -0.0 (which groups with the 0.0 of k == 3)
        return {
            "k": F.when(k == 0, F.lit(float("nan")))
            .when(k == 1, F.lit(-0.0))
            .when(k == 2, F.lit(None))
            .otherwise((k - 3) * 0.5)
        }
    if kind == "composite":
        return {
            "k": F.when(k == 0, F.lit(None)).otherwise(F.concat(F.lit("s"), (k % 3).cast("string"))),
            "k2": F.date_add(F.lit("2021-03-14").cast("date"), (F.col("id") % 2).cast("int")),
        }
    raise AssertionError(kind)


def _as_text(df, by):
    """Keys rendered JVM-side as the scaffold groups them: a timestamp by
    its instant (unix_micros, so the two 01:30 instants of the DST
    fall-back hour stay apart), a double with -0.0 as 0.0 and NaN kept
    apart from NULL, anything else by its string form."""
    out = []
    for k in by:
        c, t = F.col(k), df.schema[k].dataType
        if isinstance(t, TimestampType):
            c = F.unix_micros(c)
        elif isinstance(t, DoubleType):
            c = F.when(c == 0, F.lit(0.0)).otherwise(c)
        out.append(c.cast("string").alias(k))
    return out


@pytest.fixture
def small_batches(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "100")
    yield
    spark.conf.set(key, old)


@pytest.fixture
def new_york(spark):
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    yield
    spark.conf.set("spark.sql.session.timeZone", old)


KEY_KINDS = ["string_null", "date", "timestamp_dst", "decimal", "nan_double", "composite"]


@pytest.mark.parametrize("kind", KEY_KINDS)
def test_grouped_key_types_byte_equal_across_partitions(spark, new_york, kind):
    _check_grouped_key_type(spark, kind)


@pytest.mark.parametrize("kind", KEY_KINDS)
def test_grouped_key_types_byte_equal_small_batches(spark, new_york, small_batches, kind):
    # 100-row Arrow batches make one key span several level-0 batches
    _check_grouped_key_type(spark, kind)


def _check_grouped_key_type(spark, kind):
    keys = _key_columns(kind)
    by = list(keys)
    base = spark.range(N).withColumns(keys).withColumn("v", F.col("id") * 31 % 211)
    rows = base.select(*_as_text(base, by), F.xxhash64("v").alias("h")).collect()
    want: dict = {}
    for r in rows:
        want.setdefault(tuple(r[k] for k in by), []).append(r["h"])
    for key, hs in want.items():
        s = HllSketch.empty(CFG)
        s.add_hashed(np.asarray(hs, dtype=np.int64))
        want[key] = s.to_bytes()
    for n_parts in (1, 3, 7):
        out = hll_sketch_agg(base.repartition(n_parts), "v", by=by, cfg=CFG)
        got = {
            tuple(r[k] for k in by): bytes(r["sketch"])
            for r in out.select(*_as_text(out, by), "sketch").collect()
        }
        assert got == want, (kind, n_parts)


def test_grouped_mg_bytes_equal_across_partitions(spark):
    keys = _key_columns("composite")
    base = (
        spark.range(N)
        .withColumns(keys)
        .withColumn("item", F.concat(F.lit("i"), (F.col("id") % 13).cast("string")))
    )
    outs = [
        {
            (r["k"], r["k2"]): (bytes(r["sketch"]), r["rows_seen"])
            for r in mg_sketch_agg(base.repartition(n), "item", k=32, by=["k", "k2"]).collect()
        }
        for n in (1, 3, 7)
    ]
    assert outs[0] == outs[1] == outs[2]
    assert sum(v[1] for v in outs[0].values()) == N


@pytest.mark.parametrize(
    "spec",
    [hll_spec(CFG), cms_spec(4, 256), bloom_spec(1 << 12, 3)],
    ids=["hll", "cms", "bloom"],
)
def test_two_level_merge_byte_equals_single_level(spark, spec):
    df = spark.range(5000).select((F.col("id") * 7919 % 3001).alias("v")).repartition(9)
    partials = sketch_partials(df, "v", spec, merge_buckets=4)
    one = merge_sketch_partials(partials, spec, two_level=False).collect()
    two = merge_sketch_partials(partials, spec, two_level=True).collect()
    assert len(one) == len(two) == 1
    assert bytes(one[0]["sketch"]) == bytes(two[0]["sketch"])
    assert one[0]["rows_seen"] == two[0]["rows_seen"] == 5000


def test_early_flush_is_invisible(spark, monkeypatch, small_batches):
    # a flush threshold of 2 groups forces several partials per
    # (partition, group) once a task sees several batches; the merge must
    # fold them back to the same bytes
    df = spark.range(3000).select(
        (F.col("id") % 11).alias("g"), (F.col("id") * 13 % 977).alias("v")
    ).repartition(3)
    want = {
        r["g"]: (bytes(r["sketch"]), r["rows_seen"])
        for r in hll_sketch_agg(df, "v", by=["g"], cfg=CFG).collect()
    }
    monkeypatch.setattr(agg, "_MAX_GROUPS", 2)
    partials = sketch_partials(df, "v", hll_spec(CFG), by=["g"])
    assert partials.count() > 3 * 11  # the flush really fired
    got = {
        r["g"]: (bytes(r["sketch"]), r["rows_seen"])
        for r in merge_sketch_partials(partials, hll_spec(CFG), by=["g"]).collect()
    }
    assert got == want


# --------------------------------------------------------- column partials


@pytest.mark.parametrize(
    "sketch, hash_mode",
    [("theta", "xxhash64"), ("theta", "murmur3"), ("hll", "xxhash64")],
)
def test_column_partials_bytes_equal_single_column_builds(spark, sketch, hash_mode):
    # one scan, one sketch per labelled column, one merge by label: each
    # label's bytes equal its column's own build (NULLs dropped per
    # column, an all-NULL column a zero sketch) at any partition count;
    # theta's k=64 puts both real columns in its sampling regime
    from hll_spark.operators.sketches import theta_sketch_agg, theta_spec

    if sketch == "theta":
        spec = theta_spec(64)
        single = lambda df, c: theta_sketch_agg(df, c, k=64, hash_mode=hash_mode)
    else:
        spec = hll_spec(CFG)
        single = lambda df, c: hll_sketch_agg(df, c, cfg=CFG, hash_mode=hash_mode)
    base = spark.range(N).select(
        F.when(F.col("id") % 5 != 0, F.col("id") * 7 % 263).alias("n"),
        F.when(
            F.col("id") % 3 != 0, F.concat(F.lit("s"), (F.col("id") % 141).cast("string"))
        ).alias("s"),
        F.lit(None).cast("long").alias("z"),
    )
    want = {}
    for c in ("n", "s", "z"):
        (r,) = single(base, c).collect()
        want[c] = (bytes(r["sketch"]), r["rows_seen"])
    assert want["z"][1] == 0
    for n_parts in (1, 3, 7):
        partials = agg.column_partials(
            base.repartition(n_parts), {c: F.col(c) for c in want}, spec, hash_mode
        )
        assert partials.count() == 3 * n_parts  # a row per (partition, label)
        got = {
            r["label"]: (bytes(r["sketch"]), r["rows_seen"])
            for r in merge_sketch_partials(partials, spec, by=["label"]).collect()
        }
        assert got == want, n_parts


# ---------------------------------------------------------------- sliding


def _events(spark, n=900):
    return spark.range(n).select(
        (F.col("id") % 4).alias("grp"),
        (F.col("id") * 37 % 409).alias("user_id"),
        F.timestamp_micros(
            F.lit(1_600_000_000_000_000) + (F.col("id") * 7919 % 5000) * 60_000_000
        ).alias("ts"),
    )


@pytest.mark.parametrize("explicit_threshold", [0, 1 << 12])
def test_sliding_sketch_bytes_equal_local_build(spark, explicit_threshold):
    from hll_spark.operators.sliding import sliding_hll_sketch, sliding_hll_sketch_by

    ev = _events(spark)
    rows = ev.select(
        "grp", F.xxhash64("user_id").alias("h"), F.unix_micros("ts").alias("t")
    ).collect()

    def local(rs):
        s = SlidingHll(CFG, explicit_threshold)
        s.add_hashed(
            np.asarray([r["h"] for r in rs], dtype=np.int64),
            np.asarray([r["t"] for r in rs], dtype=np.int64),
        )
        return s.to_bytes()

    want_by = {g: local([r for r in rows if r["grp"] == g]) for g in range(4)}
    for n_parts in (1, 3, 7):
        df = ev.repartition(n_parts)
        got = sliding_hll_sketch(df, "user_id", "ts", CFG, explicit_threshold).collect()
        assert [bytes(r["sketch"]) for r in got] == [local(rows)]
        got_by = {
            r["grp"]: bytes(r["sketch"])
            for r in sliding_hll_sketch_by(
                df, "user_id", "ts", ["grp"], CFG, explicit_threshold
            ).collect()
        }
        assert got_by == want_by


def test_sliding_windows_on_empty_input(spark):
    from hll_spark.operators.sliding import sliding_distinct_windows

    ev = _events(spark).where(F.lit(False))
    wins = {"d1": 86400, "d7": 7 * 86400}
    assert sliding_distinct_windows(ev, "user_id", "ts", wins, CFG).collect() == []
    assert (
        sliding_distinct_windows(ev, "user_id", "ts", wins, CFG, by=["grp"]).collect()
        == []
    )


def test_answer_column_colliding_with_a_key_raises(spark):
    # the parent returned the estimate under both names, the key lost
    from hll_spark.operators.agg import hll_distinct
    from hll_spark.operators.sketches import kll_quantiles

    df = spark.range(20).select(F.col("id").alias("v"), (F.col("id") % 2).alias("distinct_v"))
    with pytest.raises(ValueError, match="collide"):
        hll_distinct(df, "v", by=["distinct_v"])
    with pytest.raises(ValueError, match="collide"):
        kll_quantiles(df.withColumnRenamed("distinct_v", "q0_5"), "v", [0.5], by=["q0_5"])


@pytest.mark.parametrize("key", ["sketch", "rows_seen", "__v"])
@pytest.mark.parametrize("op", ["hll_sketch_agg", "hll_distinct"])
def test_key_named_like_a_scaffold_column_raises(spark, op, key):
    # the parent failed at analysis with [AMBIGUOUS_REFERENCE]
    from hll_spark.operators import agg

    df = spark.range(100).select(F.col("id").alias("v"), (F.col("id") % 3).alias(key))
    with pytest.raises(ValueError, match="reserves"):
        getattr(agg, op)(df, "v", by=[key]).collect()


# -------------------------------------------------------- frequent directions


def test_fd_sketch_on_zero_rows_raises(spark):
    from hll_spark.operators.matrix import fd_sketch

    df = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="no non-null"):
        fd_sketch(df, "embedding", ell=8)


def test_fd_gram_by_keeps_typed_keys_and_skips_empty_rows(spark):
    from hll_spark.operators.matrix import fd_gram_by

    rows = [
        (decimal.Decimal("1.50"), datetime.date(2020, 2, 29), [1.0, 2.0]),
        (decimal.Decimal("1.50"), datetime.date(2020, 2, 29), [3.0, -1.0]),
        (decimal.Decimal("2.00"), datetime.date(2021, 1, 1), [0.5, 0.5]),
        (decimal.Decimal("2.00"), datetime.date(2021, 1, 1), None),
    ]
    df = spark.createDataFrame(
        rows, "d decimal(10,2), day date, embedding array<double>"
    ).repartition(2)
    got = {}
    for r in fd_gram_by(df, "embedding", ["d", "day"], ell=8).collect():
        got.setdefault((r["d"], r["day"]), {})[(r["i"], r["j"])] = r["gram"]
    A = np.array([[1.0, 2.0], [3.0, -1.0]])
    B = np.array([[0.5, 0.5]])
    assert set(got) == {
        (decimal.Decimal("1.50"), datetime.date(2020, 2, 29)),
        (decimal.Decimal("2.00"), datetime.date(2021, 1, 1)),
    }
    for key, M in zip(sorted(got), (A, B)):
        G = M.T @ M
        assert got[key] == {(i, j): G[i, j] for i in range(2) for j in range(2)}
