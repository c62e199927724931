"""SQL function surface: the postgresql-hll-style query UX over
spark.sql (functions/__init__.py register_sql_functions)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import hll_spark.functions as fns
from hll_spark.functions import register_sql_functions
from hll_spark.operators.agg import hll_sketch_agg
from hll_spark.sketchlib.hll import HllConfig

CFG = HllConfig(log2m=14, regwidth=5, expthresh=18)  # exact tier


@pytest.fixture(scope="module")
def lang_sketches(spark):
    register_sql_functions(spark)
    pdf = pd.DataFrame(
        {
            "lang": ["en"] * 600 + ["de"] * 400,
            "text": [f"en-{i}" for i in range(600)]
            + [f"de-{i % 300}" for i in range(400)],  # de: 300 distinct
        }
    )
    df = spark.createDataFrame(pdf)
    hll_sketch_agg(df, "text", by=["lang"], cfg=CFG).createOrReplaceTempView(
        "lang_sketches"
    )
    return pdf


def test_sql_cardinality(spark, lang_sketches):
    rows = spark.sql(
        "SELECT lang, hll_cardinality(sketch) AS n FROM lang_sketches"
    ).collect()
    got = {r.lang: r.n for r in rows}
    assert got == {"en": 600, "de": 300}


def test_sql_union_and_intersect(spark, lang_sketches):
    row = spark.sql(
        """
        SELECT hll_cardinality(hll_union(a.sketch, b.sketch)) AS u,
               hll_intersect(a.sketch, b.sketch) AS i
        FROM lang_sketches a JOIN lang_sketches b
          ON a.lang = 'en' AND b.lang = 'de'
        """
    ).collect()[0]
    assert row.u == 900          # disjoint value spaces
    assert abs(row.i) < 1e-6     # inclusion-exclusion intersection ~ 0


def test_sql_hash_matches_public_vector(spark, lang_sketches):
    import numpy as np

    got = spark.sql("SELECT hll_hash_text('hello') AS h").collect()[0].h
    # public murmur3 x64-128 low64 vector (see test_external_golden.py)
    assert got == int(np.uint64(0xCBD8A7B341BD9B02).astype(np.int64))


def test_sql_theta_functions(spark, lang_sketches):
    from hll_spark.operators.sketches import theta_sketch_agg

    pdf = pd.DataFrame(
        {
            "grp": ["a"] * 500 + ["b"] * 500,
            "v": [f"x{i}" for i in range(500)] + [f"x{i}" for i in range(300, 800)],
        }
    )  # |a|=500, |b|=500, common=200
    df = spark.createDataFrame(pdf)
    theta_sketch_agg(df, "v", k=4096, by=["grp"]).createOrReplaceTempView("tsk")
    row = spark.sql(
        """
        SELECT theta_cardinality(a.sketch) AS ca,
               theta_intersect(a.sketch, b.sketch) AS i,
               theta_difference(a.sketch, b.sketch) AS d,
               theta_jaccard(a.sketch, b.sketch) AS j
        FROM tsk a JOIN tsk b ON a.grp = 'a' AND b.grp = 'b'
        """
    ).collect()[0]
    assert (row.ca, row.i, row.d) == (500.0, 200.0, 300.0)  # exact tier
    assert abs(row.j - 200.0 / 800.0) < 1e-9


def test_sql_extract_text(spark, lang_sketches):
    """extract_text callable from spark.sql, same bytes as the JVM
    column chain."""
    import pandas as pd

    from hll_spark.sources.tables import generate_pages_pdf

    pdf = generate_pages_pdf(n_rows=50, seed=21)
    spark.createDataFrame(pdf[["html", "text"]]).createOrReplaceTempView(
        "pages_sqlfn"
    )
    bad = spark.sql(
        "SELECT count(*) AS n FROM pages_sqlfn WHERE extract_text(html) != text"
    ).collect()[0]["n"]
    assert bad == 0


def test_null_sketch_reads_out_as_null(spark, lang_sketches):
    """A NULL blob is a NULL answer, not a failed query: unary, pair
    (after an outer join) and quantile read-outs alike."""
    from hll_spark.operators.sketches import kll_spec, theta_sketch_agg
    from hll_spark.operators.agg import hll_estimate_udf, sketch_aggregate

    row = spark.sql(
        "SELECT hll_cardinality(CAST(NULL AS BINARY)) AS n, "
        "theta_cardinality(CAST(NULL AS BINARY)) AS t"
    ).collect()[0]
    assert (row.n, row.t) == (None, None)

    rows = spark.sql(
        """
        SELECT a.lang,
               hll_cardinality(b.sketch) AS n,
               hll_cardinality(hll_union(a.sketch, b.sketch)) AS u,
               hll_intersect(a.sketch, b.sketch) AS i
        FROM lang_sketches a LEFT JOIN lang_sketches b
          ON a.lang = b.lang AND b.lang = 'en'
        """
    ).collect()
    got = {r.lang: (r.n, r.u, r.i) for r in rows}
    assert got["de"] == (None, None, None)
    assert got["en"][:2] == (600, 600)

    df = spark.createDataFrame(
        pd.DataFrame({"g": [1, 1, 2, 2, 3], "v": [1.0, 2.0, 3.0, 4.0, 5.0]})
    )
    # one group's sketch replaced by NULL, as a stored table may hold it
    def null_g2(sk):
        return sk.select("g", F.when(F.col("g") != 2, F.col("sketch")).alias("sketch"))

    hll = null_g2(hll_sketch_agg(df, "v", by=["g"]))
    est = {r.g: r.n for r in hll.select("g", hll_estimate_udf()("sketch").alias("n")).collect()}
    assert est == {1: 2, 2: None, 3: 1}
    theta = null_g2(theta_sketch_agg(df, "v", by=["g"]))
    jac = theta.alias("a").join(theta.alias("b"), "g").select(
        "g", fns.theta_jaccard_udf()("a.sketch", "b.sketch").alias("j")
    )
    assert {r.g: r.j for r in jac.collect()} == {1: 1.0, 2: None, 3: 1.0}
    kll = null_g2(sketch_aggregate(df, "v", kll_spec(), by=["g"], hash_mode=None))
    q = kll.select("g", fns.kll_quantile_udf(1.0)("sketch").alias("q"))
    assert {r.g: r.q for r in q.collect()} == {1: 2.0, 2: None, 3: 5.0}


@pytest.mark.parametrize(
    "name",
    ["kll_quantile_udf", "tdigest_quantile_udf", "cms_query_udf", "bloom_might_contain_udf"],
)
def test_sketch_function_exports_match_driver_side(spark, name):
    """Each read-out export answers exactly as the driver-side sketch
    method does on the same blob."""
    from hll_spark.operators.agg import sketch_aggregate
    from hll_spark.operators.sketches import bloom_build, cms_build, kll_spec, tdigest_spec
    from hll_spark.sketchlib.bloom import BloomFilter
    from hll_spark.sketchlib.cms import CountMinSketch
    from hll_spark.sketchlib.kll import KllSketch
    from hll_spark.sketchlib.tdigest import TDigest

    df = spark.range(3000).select(
        (F.col("id") % 3).alias("g"), (F.col("id") * 7919 % 1009).cast("double").alias("v")
    )
    if name in ("kll_quantile_udf", "tdigest_quantile_udf"):
        kll = name == "kll_quantile_udf"
        spec, cls = (kll_spec(64), KllSketch) if kll else (tdigest_spec(), TDigest)
        sk = sketch_aggregate(df, "v", spec, by=["g"], hash_mode=None)
        rows = sk.select("sketch", getattr(fns, name)(0.9)("sketch").alias("got")).collect()
        want = [cls.from_bytes(bytes(r.sketch)).quantile(0.9) for r in rows]
    else:
        build, cls, probe = (
            (cms_build, CountMinSketch, "query_hashed")
            if name == "cms_query_udf"
            else (bloom_build, BloomFilter, "might_contain_hashed")
        )
        blob = build(df, "v")
        items = spark.range(0, 3000, 7).select(F.xxhash64(F.col("id").cast("double")).alias("h"))
        rows = items.select("h", getattr(fns, name)(blob)("h").alias("got")).collect()
        hashes = np.array([r.h for r in rows], np.int64)
        want = getattr(cls.from_bytes(blob), probe)(hashes).tolist()
    assert len(rows) > 2
    assert [r.got for r in rows] == want
