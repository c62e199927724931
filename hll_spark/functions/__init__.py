"""Scalar function surface (SURVEY.md §2.2 scalar-functions row).

UDF factories for the sketch family plus the spec-parity hash,
re-exported here as the one-stop function registry. Every sketch
read-out is one Arrow UDF factory, :func:`hll_spark.operators.agg.sketch_udf`
(NULL in, NULL out); the names below are thin calls to it. Everything
generic (string/date/math) is deliberately *not* wrapped — use
``pyspark.sql.functions`` built-ins; they stay in whole-stage codegen.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, LongType

from ..operators.agg import (
    hll_estimate_udf,
    hll_intersect_udf,
    hll_union_udf,
    sketch_udf,
)
from ..operators.sketches import (
    bloom_might_contain_udf,
    cms_query_udf,
    theta_difference_udf,
    theta_estimate_udf,
    theta_intersect_udf,
    theta_jaccard_udf,
)
from ..operators.text import fingerprint_udf, lang_id_udf
from ..sketchlib.hashing import murmur3_x64_128_low64
from ..sketchlib.kll import KllSketch
from ..sketchlib.tdigest import TDigest


def murmur3_64_udf(seed: int = 0):
    """Vectorized MurmurHash3-x64-128 low64 of a string column — the
    postgresql-hll spec-parity input hash (seed 0). Prefer the built-in
    ``xxhash64`` when cross-system sketch parity is not required."""

    def h(s: pd.Series) -> pd.Series:
        return pd.Series(murmur3_x64_128_low64(s, seed).view(np.int64))

    return pandas_udf(h, LongType())


def extract_text_udf():
    """Vectorized HTML -> visible-text extraction (the Arrow batch
    kernel, operators/extractkernel.py) as a scalar pandas UDF — lets
    ``spark.sql`` users write ``extract_text(html)`` directly. Same
    bytes as the JVM column chain ``operators.extract.extract_text``
    (differentially tested); prefer ``extract_pages`` /
    ``extract_sketch_agg`` on the DataFrame side for pipelines."""
    from pyspark.sql.types import StringType

    from ..operators.extractkernel import extract_text_batch

    def ex(html: pd.Series) -> pd.Series:
        return pd.Series(
            extract_text_batch(html), index=html.index, dtype=object
        )

    return pandas_udf(ex, StringType())


def kll_quantile_udf(q: float):
    """KLL sketch bytes -> quantile value (double)."""
    return sketch_udf(KllSketch.from_bytes, lambda s: s.quantile(q), DoubleType())


def tdigest_quantile_udf(q: float):
    """t-digest bytes -> quantile value (double)."""
    return sketch_udf(TDigest.from_bytes, lambda s: s.quantile(q), DoubleType())


def register_sql_functions(spark) -> None:
    """Register the scalar sketch surface for ``spark.sql`` use, under
    the names postgresql-hll users know (README.md Usage section of
    citusdata/postgresql-hll): ``hll_cardinality``, ``hll_union``,
    ``hll_hash_text`` — plus this library's text helpers.

    Aggregation (building sketches from rows) intentionally stays on
    the DataFrame API (``hll_sketch_agg`` / ``hll_distinct``): PySpark
    cannot register a pandas UDAF for SQL, and the DataFrame scaffold
    is where the level-0 pre-combine lives. The scalar functions below
    cover the postgresql-hll-style *query* side: estimating, unioning
    and intersecting already-built sketch columns from SQL.
    """
    spark.udf.register("hll_cardinality", hll_estimate_udf())
    spark.udf.register("hll_union", hll_union_udf())
    spark.udf.register("hll_intersect", hll_intersect_udf())
    spark.udf.register("hll_hash_text", murmur3_64_udf())
    spark.udf.register("doc_fingerprint", fingerprint_udf())
    spark.udf.register("lang_id", lang_id_udf())
    spark.udf.register("extract_text", extract_text_udf())
    spark.udf.register("theta_cardinality", theta_estimate_udf())
    spark.udf.register("theta_intersect", theta_intersect_udf())
    spark.udf.register("theta_difference", theta_difference_udf())
    spark.udf.register("theta_jaccard", theta_jaccard_udf())


__all__ = [
    "murmur3_64_udf",
    "hll_estimate_udf",
    "hll_union_udf",
    "hll_intersect_udf",
    "kll_quantile_udf",
    "tdigest_quantile_udf",
    "cms_query_udf",
    "bloom_might_contain_udf",
    "lang_id_udf",
    "fingerprint_udf",
    "register_sql_functions",
    "theta_jaccard_udf",
]
