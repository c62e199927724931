"""Distributed HLL correctness on a local SparkSession (SURVEY.md §5.2(3)).

The strict test: exact merge associativity means a distributed sketch
(mapInPandas partials + tree merge) must BYTE-EQUAL the single-threaded
sketch built over the same hashed values.
"""

import zipimport

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from hll_spark.operators.agg import (
    hll_distinct,
    hll_estimate_udf,
    hll_intersect_udf,
    hll_sketch_agg,
    hll_spec,
    hll_union_udf,
    merge_sketch_partials,
    sketch_partials,
)
from hll_spark.sketchlib.hll import EXPLICIT, HllConfig, HllSketch

CFG = HllConfig(log2m=11, regwidth=5)


@pytest.fixture(scope="module")
def ids_df(spark):
    rng = np.random.default_rng(42)
    pdf = pd.DataFrame(
        {
            "id": rng.integers(0, 5000, size=20_000),
            "grp": rng.integers(0, 4, size=20_000).astype(str),
        }
    )
    return spark.createDataFrame(pdf), pdf


def local_sketch_of(spark_df, col, cfg):
    """Single-threaded ground-truth sketch over the same xxhash64 values."""
    hashed = (
        spark_df.where(F.col(col).isNotNull())
        .select(F.xxhash64(F.col(col)).alias("h"))
        .toPandas()["h"]
        .to_numpy(np.int64)
    )
    s = HllSketch.empty(cfg)
    s.add_hashed(hashed)
    return s


def test_distributed_sketch_byte_equals_local(spark, ids_df):
    df, _ = ids_df
    dist = hll_sketch_agg(df, "id", cfg=CFG).collect()[0]
    local = local_sketch_of(df, "id", CFG)
    assert bytes(dist["sketch"]) == local.to_bytes()
    assert dist["rows_seen"] == 20_000


@pytest.mark.parametrize("n_parts", [2, 32])
def test_partition_count_invariance(spark, ids_df, n_parts):
    df, _ = ids_df
    blob = bytes(
        hll_sketch_agg(df.repartition(n_parts), "id", cfg=CFG).collect()[0]["sketch"]
    )
    local = local_sketch_of(df, "id", CFG)
    assert blob == local.to_bytes()


def test_grouped_distinct_exact_in_explicit_tier(spark, ids_df):
    df, pdf = ids_df
    # per-group distinct ids stay below the explicit threshold at p=16
    cfg = HllConfig(log2m=16, regwidth=5)  # explicit threshold 5120
    got = {
        r["grp"]: r["distinct_id"]
        for r in hll_distinct(df, "id", by=["grp"], cfg=cfg).collect()
    }
    expected = pdf.groupby("grp")["id"].nunique().to_dict()
    assert got == expected


def test_global_distinct_within_bound(spark, ids_df):
    df, pdf = ids_df
    cfg = HllConfig(log2m=14, regwidth=5)
    est = hll_distinct(df, "id", cfg=cfg).collect()[0]["distinct_id"]
    true_n = pdf["id"].nunique()
    assert abs(est / true_n - 1) <= 3 * 1.04 / np.sqrt(cfg.m)


def test_salted_repartition_same_result(spark, ids_df):
    df, pdf = ids_df
    cfg = HllConfig(log2m=16, regwidth=5)
    est = hll_distinct(df, "id", cfg=cfg, salt_partitions=16).collect()[0][
        "distinct_id"
    ]
    assert est == pdf["id"].nunique()  # explicit tier -> exact


def test_murmur3_hash_mode(spark):
    pdf = pd.DataFrame({"s": [f"url-{i % 500}" for i in range(5000)]})
    spark_df = spark.createDataFrame(pdf)
    cfg = HllConfig(log2m=14, regwidth=5)
    est = hll_distinct(spark_df, "s", cfg=cfg, hash_mode="murmur3").collect()[0][
        "distinct_s"
    ]
    assert est == 500  # explicit tier, murmur3 path


def test_nulls_are_ignored_like_count_distinct(spark):
    pdf = pd.DataFrame({"v": [1, 2, 2, None, None, 3]})
    df = spark.createDataFrame(pdf)
    cfg = HllConfig(log2m=14, regwidth=5)
    assert hll_distinct(df, "v", cfg=cfg).collect()[0]["distinct_v"] == 3


def test_partials_then_merge_roundtrip(spark, ids_df):
    df, pdf = ids_df
    spec = hll_spec(CFG)
    partials = sketch_partials(df, "id", spec, merge_buckets=4)
    rows = partials.collect()
    assert all(len(bytes(r["sketch"])) >= 3 for r in rows)
    assert {r["bucket"] for r in rows} <= set(range(4))
    merged = merge_sketch_partials(partials, spec).collect()
    assert len(merged) == 1
    assert merged[0]["rows_seen"] == 20_000


def test_union_and_intersect_udfs(spark):
    rng = np.random.default_rng(3)
    a_vals = [f"k{i}" for i in range(100)]
    b_vals = [f"k{i}" for i in range(50, 150)]
    df_a = spark.createDataFrame(pd.DataFrame({"v": a_vals}))
    df_b = spark.createDataFrame(pd.DataFrame({"v": b_vals}))
    cfg = HllConfig(log2m=14, regwidth=5)
    sk_a = hll_sketch_agg(df_a, "v", cfg=cfg).select(
        F.lit(1).alias("j"), F.col("sketch").alias("sa")
    )
    sk_b = hll_sketch_agg(df_b, "v", cfg=cfg).select(
        F.lit(1).alias("j"), F.col("sketch").alias("sb")
    )
    joined = sk_a.join(sk_b, "j")
    est = hll_estimate_udf()
    union_est = joined.select(
        est(hll_union_udf()(F.col("sa"), F.col("sb"))).alias("u")
    ).collect()[0]["u"]
    assert union_est == 150  # explicit tier: exact
    inter = joined.select(
        hll_intersect_udf()(F.col("sa"), F.col("sb")).alias("i")
    ).collect()[0]["i"]
    assert inter == pytest.approx(50, abs=1)


def test_composite_murmur3_no_separator_aliasing(spark):
    """Tuples whose fields re-split identically around the old NUL
    separator must count as DISTINCT composites (ADVICE round 1):
    ('a\\x00b','c') vs ('a','b\\x00c') — 2, not 1; plus a field that
    CONTAINS the separator. Length-prefixed encoding disambiguates."""
    pdf = pd.DataFrame(
        {
            "a": ["a\x00b", "a", "1", "11"],
            "b": ["c", "b\x00c", "1:", ":1"],
        }
    )
    spark_df = spark.createDataFrame(pdf)
    cfg = HllConfig(log2m=14, regwidth=5)
    est = spark_df.transform(
        lambda d: hll_distinct(d, ["a", "b"], cfg=cfg, hash_mode="murmur3")
    ).collect()[0][0]
    assert est == 4


def _zip_reads_probe(batches):
    """One row per task: the worker's pid, whether the stat-gated zip
    invalidation is installed there, and how many archive directory
    reads the worker made since its previous probe task (-1 on its
    first, which installs the counter)."""
    import os

    import pyarrow as pa

    import hll_spark  # noqa: F401  (package import installs the hook)

    reads = getattr(zipimport, "_probe_reads", None)
    if reads is None:
        reads = zipimport._probe_reads = []
        real = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return real(archive)

        zipimport._read_directory = counting
        since = -1
    else:
        since = len(reads)
        reads.clear()
    for _ in batches:
        pass
    gated = getattr(zipimport.zipimporter.invalidate_caches, "_stat_gated", False)
    yield pa.RecordBatch.from_pydict(
        {"pid": [os.getpid()], "gated": [bool(gated)], "reads": [since]}
    )


@pytest.mark.skipif(
    hasattr(zipimport.zipimporter, "_get_files"),
    reason="zipimport invalidation is already lazy on this Python",
)
def test_reused_worker_skips_zip_directory_reads(spark):
    """A reused Python worker's later tasks re-read no zip archive
    (pyspark.zip, py4j, the spark-core jar) at task start."""
    df = spark.range(0, 4, 1, 4)
    schema = "pid long, gated boolean, reads long"
    rows = df.mapInArrow(_zip_reads_probe, schema).collect()
    # Spark picks which idle worker runs a task, so the second job may
    # land on workers the first did not use: run more until one repeats
    for _ in range(5):
        rows += df.mapInArrow(_zip_reads_probe, schema).collect()
        if any(r["reads"] >= 0 for r in rows):
            break
    assert all(r["gated"] for r in rows)
    later = [r["reads"] for r in rows if r["reads"] >= 0]
    assert later and later == [0] * len(later)
