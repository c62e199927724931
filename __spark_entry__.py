"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship HLL distinct-per-lang query at
sf0.001. ``queries()`` exposes one callable per implemented operator
family from SURVEY.md §2 (sketches, dedup, similarity, text, multimodal
plumbing, plus relational coverage via built-ins); ``oracle_sql()``
carries a DuckDB-equivalent for every exactly-reproducible query.
Approximate estimators (FULL-tier HLL, quantile sketches, MinHash/
SimHash estimates, lang-ID) are registered without oracle SQL and are
bound-asserted in pytest instead (FIXTURES.md §3 oracle rule).

Exactness note: the oracle-matched sketch queries run with
``expthresh=18`` (EXPLICIT threshold 131072, the storage-spec maximum,
/root/reference/hll.go:40) so every group stays in the exact EXPLICIT
tier at oracle scale — the same exactness/memory dial postgresql-hll
exposes. The flagship and bound tests exercise the probabilistic FULL
tier.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hll_spark.session import apply_malloc_tunables  # noqa: E402
from hll_spark.localdf import fast_local_df  # noqa: E402

# env route for the case where this import precedes JVM launch; when
# the harness created the session first, the workers apply the same
# policy in-process via mallopt at package import (hll_spark/session.py)
apply_malloc_tunables()

from hll_spark.operators.agg import (  # noqa: E402
    hll_distinct,
    hll_estimate_udf,
    hll_intersect_udf,
    hll_sketch_agg,
    hll_union_udf,
)
from hll_spark.operators.dedup import (  # noqa: E402
    decontaminate_contains,
    decontaminate_ngrams,
    decontaminate_ngrams_bloom,
    duplicate_groups,
    embedding_dup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    paragraph_dedup,
    remove_repeated_spans,
    repeated_span_stats,
    simhash_pairs,
)
from hll_spark.operators.components import node_components  # noqa: E402
from hll_spark.operators.multimodal import extract_media_features  # noqa: E402
from hll_spark.operators.relational import asof_join, session_counts  # noqa: E402
from hll_spark.operators.similarity import (  # noqa: E402
    brute_force_topk,
    ivf_ann_topk,
    lsh_ann_topk,
)
from hll_spark.operators.sketches import (  # noqa: E402
    bloom_filter_join,
    cms_frequencies,
    kll_quantiles,
    tdigest_quantiles,
)
from hll_spark.operators.text import (  # noqa: E402
    char_count,
    detect_language,
    fingerprint_documents,
    punct_ratio,
    token_count,
)
from hll_spark.sketchlib.hll import HllConfig  # noqa: E402

# exact-tier config for oracle-matched queries (see module docstring)
EXACT_CFG = HllConfig(log2m=14, regwidth=5, expthresh=18)
# probabilistic flagship config (reference example parameters,
# /root/reference/example/main.go:44)
FLAGSHIP_CFG = HllConfig(log2m=14, regwidth=5)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# One session-scoped tmp root, removed at interpreter exit — the
# checkpoint/cube queries get a fresh subdir per call without leaking
# a /tmp directory per driver run.
_TMP_ROOT: list[str] = []


def _query_tmp(prefix: str) -> str:
    import atexit
    import shutil
    import tempfile

    if not _TMP_ROOT:
        root = tempfile.mkdtemp(prefix="hll_spark_queries_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _TMP_ROOT.append(root)
    return tempfile.mkdtemp(prefix=prefix, dir=_TMP_ROOT[0])


# ---------------------------------------------------------------------------
# flagship


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: per-lang distinct-text HLL over documents at sf0.001."""
    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    return hll_distinct(docs, "text", by=["lang"], cfg=FLAGSHIP_CFG,
                        alias="distinct_text")


# ---------------------------------------------------------------------------
# queries — sketch family


def q_hll_users_by_event_type(spark, sf):
    return hll_distinct(
        _t(spark, sf, "events"), "user_id", by=["event_type"],
        cfg=EXACT_CFG, alias="distinct_user_id",
    )


def q_hll_custkey_by_month(spark, sf):
    orders = _t(spark, sf, "orders").withColumn(
        "order_month", F.date_format("o_orderdate", "yyyy-MM")
    )
    return hll_distinct(
        orders, "o_custkey", by=["order_month"], cfg=EXACT_CFG,
        alias="distinct_o_custkey",
    )


def q_hll_union_en_de(spark, sf):
    docs = _t(spark, sf, "documents")
    sk = hll_sketch_agg(docs.where(F.col("lang").isin("en", "de")), "text",
                        by=["lang"], cfg=EXACT_CFG)
    en = sk.where("lang = 'en'").select(F.col("sketch").alias("sa"))
    de = sk.where("lang = 'de'").select(F.col("sketch").alias("sb"))
    est = hll_estimate_udf()
    return en.crossJoin(de).select(
        est(hll_union_udf()(F.col("sa"), F.col("sb"))).alias("distinct_en_de")
    )


def q_hll_intersect_partkeys(spark, sf):
    li = _t(spark, sf, "lineitem")
    cut = F.lit("1998-06-01").cast("timestamp")
    early = hll_sketch_agg(li.where(F.col("l_shipdate") < cut), "l_partkey",
                           cfg=EXACT_CFG).select(F.col("sketch").alias("sa"))
    late = hll_sketch_agg(li.where(F.col("l_shipdate") >= cut), "l_partkey",
                          cfg=EXACT_CFG).select(F.col("sketch").alias("sb"))
    return early.crossJoin(late).select(
        hll_intersect_udf()(F.col("sa"), F.col("sb")).alias("intersect_partkeys")
    )


def q_hll_flagship_distinct_text(spark, sf):
    # FULL-tier probabilistic estimate — no oracle; bound-checked in pytest
    return hll_distinct(
        _t(spark, sf, "documents"), "text", cfg=FLAGSHIP_CFG,
        alias="distinct_text_est",
    )


def q_cms_event_type_counts(spark, sf):
    events = _t(spark, sf, "events")
    items = events.select("event_type").distinct()
    return cms_frequencies(events, "event_type", items, depth=5, width=4096,
                           alias="est_count")


def q_countsketch_event_counts(spark, sf):
    # Count-sketch (Charikar) point estimates over the same domain as
    # q_cms_event_type_counts — the UNBIASED companion to CMS's
    # one-sided estimator, and the only one of the two valid on
    # signed/turnstile streams. depth=7 (odd -> exact integer
    # medians), width=4096 >> |domain|, so every row of the sketch
    # holds the exact count and the oracle is plain COUNT(*); the
    # noisy-regime error law (~sqrt(F2/width), zero mean) is
    # bound-asserted in tests/test_ams.py.
    from hll_spark.operators.sketches import countsketch_frequencies

    events = _t(spark, sf, "events")
    items = events.select("event_type").distinct()
    return countsketch_frequencies(
        events, "event_type", items, depth=7, width=4096, alias="est_count"
    )


def q_cms_heavy_hitters(spark, sf):
    # top-3 heaviest event types by CMS estimate (deterministic tie-break);
    # exact here because width >> domain, so the oracle is plain COUNT(*)
    counts = q_cms_event_type_counts(spark, sf)
    return (
        counts.orderBy(F.desc("est_count"), F.asc("event_type"))
        .limit(3)
        .select("event_type", "est_count")
    )


def q_bloom_fk_prefilter(spark, sf):
    li = _t(spark, sf, "lineitem")
    part = _t(spark, sf, "part")
    kept = bloom_filter_join(li, "l_partkey", part, "p_partkey")
    return kept.agg(F.count("*").alias("n_rows"))


def q_hll_distinct_order_part_pairs(spark, sf):
    # composite-key distinct: COUNT(DISTINCT (l_orderkey, l_partkey)).
    # The mod-16 orderkey slice keeps the distinct count below the
    # EXPLICIT exactness cap (131072, hll.go:40) at every driver scale
    # factor (sf0.1 unfiltered has ~600k pairs and would silently leave
    # the exact tier) — the probabilistic tier is exercised by the
    # flagship + pytest bound tests instead.
    li = _t(spark, sf, "lineitem").where(F.col("l_orderkey") % 16 == 0)
    return hll_distinct(
        li, ["l_orderkey", "l_partkey"], cfg=EXACT_CFG, alias="distinct_pairs",
    )


def _theta_early_late(spark, sf, k=65536):
    from hll_spark.operators.sketches import theta_sketch_agg

    li = _t(spark, sf, "lineitem")
    cut = F.lit("1998-06-01").cast("timestamp")
    early = theta_sketch_agg(
        li.where(F.col("l_shipdate") < cut), "l_partkey", k=k
    ).select(F.col("sketch").alias("sa"))
    late = theta_sketch_agg(
        li.where(F.col("l_shipdate") >= cut), "l_partkey", k=k
    ).select(F.col("sketch").alias("sb"))
    return early.crossJoin(late)


def q_theta_intersect_partkeys(spark, sf):
    # theta (KMV) DIRECT set intersection — no inclusion-exclusion;
    # k=65536 keeps both sides exact at every driver scale factor
    from hll_spark.operators.sketches import theta_intersect_udf

    return _theta_early_late(spark, sf).select(
        theta_intersect_udf()(F.col("sa"), F.col("sb"))
        .cast("long")
        .alias("n_common_partkeys")
    )


def q_theta_except_partkeys(spark, sf):
    from hll_spark.operators.sketches import theta_difference_udf

    return _theta_early_late(spark, sf).select(
        theta_difference_udf()(F.col("sa"), F.col("sb"))
        .cast("long")
        .alias("n_early_only_partkeys")
    )


def q_theta_jaccard_partkeys(spark, sf):
    # DIRECT Jaccard |A∩B|/|A∪B| between the early/late partkey sets —
    # the set-similarity reading of the same sketch pair; k=65536
    # exceeds |A ∪ B| (= all distinct partkeys: 2e4 at sf0.1) so
    # numerator AND denominator are exact — the ratio is an exact
    # rational mirrored literally in SQL (rounded to 9 dp both sides)
    from hll_spark.operators.sketches import theta_jaccard_udf

    return _theta_early_late(spark, sf).select(
        F.round(
            theta_jaccard_udf()(F.col("sa"), F.col("sb")), 9
        ).alias("jaccard_partkeys")
    )


def q_window_distinct_users_daily(spark, sf):
    # event-time tumbling windows (F.window, 1 day) feeding the HLL
    # scaffold: distinct users per UTC day, EXACT tier at driver SF —
    # the batch shape of the streaming tumbling-window aggregation,
    # value-checked against date_trunc in DuckDB
    from hll_spark.operators.agg import hll_distinct

    ev = _t(spark, sf, "events").select(
        F.window(F.col("ts"), "1 day").alias("w"), F.col("user_id")
    ).select(F.col("w.start").alias("day"), "user_id")
    out = hll_distinct(
        ev, "user_id", by=["day"], cfg=EXACT_CFG, alias="distinct_users"
    )
    return out.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"), "distinct_users"
    )


def q_window_distinct_users_hopping(spark, sf):
    # event-time HOPPING windows (F.window with slide: 2-day windows
    # every 1 day — each event lands in exactly two windows) feeding
    # the HLL scaffold, EXACT tier at driver SF: the batch shape of
    # the streaming sliding-window aggregation; DuckDB replays the
    # two-windows-per-event membership with an unnested 2-element
    # start list
    from hll_spark.operators.agg import hll_distinct

    ev = (
        _t(spark, sf, "events")
        .select(
            F.window(F.col("ts"), "2 days", "1 day").alias("w"),
            F.col("user_id"),
        )
        .select(F.col("w.start").alias("win_start"), "user_id")
    )
    out = hll_distinct(
        ev, "user_id", by=["win_start"], cfg=EXACT_CFG, alias="distinct_users"
    )
    return out.select(
        F.date_format("win_start", "yyyy-MM-dd").alias("win_start"),
        "distinct_users",
    )


def q_sliding_distinct_users(spark, sf):
    # Sliding HyperLogLog (Chabchoub & Hebrail, ICDMW'10): ONE sketch
    # built in ONE pass answers distinct-user counts for ANY trailing
    # window after the fact (per-register list of future possible
    # maxima, dominance-pruned, mergeable). EXACT tier at driver SF
    # (explicit_threshold >> distinct users) so the three window
    # answers equal COUNT(DISTINCT) exactly; LFPM-tier accuracy and
    # merge canonicity are bound-asserted in tests/test_slidinghll.py
    from hll_spark.operators.sliding import sliding_distinct_windows

    out = sliding_distinct_windows(
        _t(spark, sf, "events"),
        "user_id",
        "ts",
        windows={"w1_1d": 86400, "w2_7d": 7 * 86400, "w3_30d": 30 * 86400},
        cfg=EXACT_CFG,
        explicit_threshold=1 << 18,
    )
    return out.select(
        F.col("window").alias("win"), F.col("distinct").alias("distinct_users")
    )


def q_sliding_distinct_by_type(spark, sf):
    # the GROUPED sliding-HLL path: one mergeable LFPM sketch per
    # event_type (per-partition partials with a bounded combine map ->
    # grouped merge; only blobs shuffle), every group anchored at the
    # GLOBAL max event time via a 1-row broadcast. EXACT tier at driver
    # SF; grouped LFPM invariance in tests/test_slidinghll.py
    from hll_spark.operators.sliding import sliding_distinct_windows

    out = sliding_distinct_windows(
        _t(spark, sf, "events"),
        "user_id",
        "ts",
        windows={"w1_1d": 86400, "w2_30d": 30 * 86400},
        cfg=EXACT_CFG,
        explicit_threshold=1 << 18,
        by=["event_type"],
    )
    return out.select(
        "event_type",
        F.col("window").alias("win"),
        F.col("distinct").alias("distinct_users"),
    )


def q_kmeans_clusters_embeddings(spark, sf):
    # Distributed Lloyd k-means, ORACLE form: floats never compare
    # bit-stably across engines, so the driver row runs ONE exact
    # assignment step on the integer grid q = floor(v*2^20 + 0.5)
    # (same IEEE float64 arithmetic in Spark and DuckDB) from the
    # deterministic id-ordered init, and profiles the clusters with
    # exact int64 costs. The multi-iteration float fit (kmeans_fit:
    # P x k partial-sum reduction per scan, nothing else shuffles) is
    # differential-tested against a single-node numpy Lloyd in
    # tests/test_clustering.py.
    from hll_spark.operators.clustering import kmeans_quantized_profile

    emb = _t(spark, sf, "embeddings")
    return kmeans_quantized_profile(emb, "embedding", "vec_id", k=8)


def q_theta_estimate_orderkeys(spark, sf):
    # theta ESTIMATION tier: k=1024 << distinct l_orderkey (1.5k/15k/147k
    # at sf0.001/0.01/0.1) forces the KMV estimator (k-1)/theta — the
    # regime the exact-tier driver queries deliberately avoid. Rows-only
    # (probabilistic); the rse bound is asserted in pytest at n=2x10^6
    # (tests/test_theta.py, mirroring test_hll_bounds.py).
    from hll_spark.operators.sketches import theta_estimate_udf, theta_sketch_agg

    li = _t(spark, sf, "lineitem")
    return theta_sketch_agg(li, "l_orderkey", k=1024).select(
        theta_estimate_udf()(F.col("sketch")).cast("long").alias("est_orderkeys")
    )


def q_hll_users_salted(spark, sf):
    # the skew path: pre-combine across 16 salted partitions, then
    # re-merge — must be value-identical to the unsalted aggregate
    # (order-insensitive max-merge), so it shares the exact oracle
    return hll_distinct(
        _t(spark, sf, "events"), "user_id", cfg=EXACT_CFG,
        salt_partitions=16, alias="distinct_user_id",
    )


def q_checkpoint_resume_estimate(spark, sf):
    # durable level-0 checkpoint: first call builds + writes partials,
    # second call replays from the checkpoint (scan skipped); the
    # resumed estimate is what this query returns — exact-tier, so the
    # plain COUNT(DISTINCT) oracle applies to the RESUMED path
    from hll_spark.operators.agg import hll_spec
    from hll_spark.plans.checkpoint import (
        CheckpointStore,
        checkpointed_sketch_aggregate,
    )

    root = _query_tmp("hll_ckpt_query_")
    store = CheckpointStore(spark, root)
    spec = hll_spec(EXACT_CFG)
    events = _t(spark, sf, "events")
    checkpointed_sketch_aggregate(events, "user_id", spec, store, "drv")
    resumed = checkpointed_sketch_aggregate(events, "user_id", spec, store, "drv")
    est = hll_estimate_udf()
    return resumed.select(est(F.col("sketch")).alias("distinct_user_id"))


def q_sketch_cube_slice(spark, sf):
    # sketch cube: one scan materializes per-event_type sketches
    # partitioned by the dimension; the slice below is answered from
    # the pruned cube cells alone (raw rows never rescanned) — exact
    # tier, so the COUNT(DISTINCT) oracle applies to the cube path
    from hll_spark.operators.agg import hll_spec
    from hll_spark.plans.cube import build_sketch_cube, query_sketch_cube

    path = _query_tmp("hll_cube_query_") + "/users_by_type"
    build_sketch_cube(
        _t(spark, sf, "events"), "user_id", ["event_type"], path,
        spec=hll_spec(EXACT_CFG),
    )
    est = hll_estimate_udf()
    return query_sketch_cube(
        spark, path, spec=hll_spec(EXACT_CFG),
        where="event_type IN ('click', 'view')",
    ).select(est(F.col("sketch")).alias("distinct_click_view_users"))


def q_streaming_sink_distinct(spark, sf):
    # Streaming under the oracle: the events table is replayed through a
    # REAL two-micro-batch stream (file source, availableNow triggers,
    # durable checkpoint) into sink_sketch_table's upserted parquet; the
    # returned frame reads the SINK, so the oracle gates the full
    # stream -> stateful sketch state -> dynamic-partition-overwrite
    # path. Exact tier (EXACT_CFG), so COUNT(DISTINCT) applies.
    from hll_spark.streaming.stateful import (
        sink_sketch_table,
        streaming_hll_distinct,
    )

    root = _query_tmp("hll_stream_query_")
    src, ck, sink = f"{root}/src", f"{root}/ck", f"{root}/sink"
    events = _t(spark, sf, "events").select("event_type", "user_id")
    split = F.pmod(F.xxhash64("user_id"), F.lit(2)) == 0

    def run_once():
        stream = spark.readStream.schema(
            "event_type string, user_id long"
        ).parquet(src)
        out = streaming_hll_distinct(
            stream, "user_id", "event_type", cfg=EXACT_CFG
        )
        q = (
            sink_sketch_table(out, sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    events.where(split).write.mode("append").parquet(src)
    run_once()
    events.where(~split).write.mode("append").parquet(src)
    run_once()
    est = hll_estimate_udf()
    return spark.read.parquet(sink).select(
        F.col("key").alias("event_type"),
        est(F.col("sketch")).alias("distinct_user_id"),
    )


def q_mg_top_sources(spark, sf):
    # Misra-Gries frequent items, exact regime: capacity 64 >= the 20
    # distinct sources, so no counter is ever decremented (offset 0) and
    # the lower-bound counts ARE the exact counts — oracle-checkable.
    # The estimation regime (k << distinct) is bound-asserted in
    # tests/test_mg.py.
    from hll_spark.operators.sketches import mg_top_items

    docs = _t(spark, sf, "documents")
    return mg_top_items(docs, "source", top_n=64, k=64).select(
        "item", "count_lb", "error_bound"
    )


def q_distinct_sample_sources(spark, sf):
    # bottom-k distinct sample (KMV with payload), exact regime: k=64 >=
    # the 20 distinct sources, so the sample IS the distinct set and
    # is_exact is true — oracle-checkable. Sub-k sampling properties
    # (partition/duplication invariance, uniformity) in test_kmvsample.py.
    from hll_spark.operators.sketches import distinct_sample

    docs = _t(spark, sf, "documents")
    return distinct_sample(docs, "source", k=64).select("item", "is_exact")


def q_strip_boilerplate_docs(spark, sf):
    # Corpus-wide boilerplate line removal under the oracle: every doc
    # is wrapped with a nav header + copyright footer (document
    # frequency = corpus size >> cap, stripped) plus a 'group-N' line
    # shared by only ~n/997 docs (kept); the cleaned text must equal
    # original + group line, which DuckDB reconstructs directly.
    from hll_spark.operators.text import strip_boilerplate_lines

    docs = _t(spark, sf, "documents")
    corpus = docs.select(
        "doc_id",
        F.concat(
            F.lit("NAV HOME ABOUT CONTACT\n"),
            F.col("text"),
            F.lit("\ncopyright 2026 example.org\n"),
            F.format_string("group-%d", F.col("doc_id") % 997),
        ).alias("text"),
    )
    return strip_boilerplate_lines(corpus, "text", "doc_id", max_line_df=30)


def q_extract_text_pages(spark, sf):
    # HTML -> text extraction under the oracle (the input-hint per-row
    # invariant: byte-identical extracted text). Each document's text is
    # wrapped into a full deterministic page (head/style/script/comments
    # /entities, JVM-side) and cast to BINARY — the input-hint html
    # column shape — then extract_text (a pure codegen regexp chain)
    # recovers it. md5 + length per row hash-match DuckDB computing over
    # the ORIGINAL text directly, proving the round trip is byte-exact
    # (documents.text is whitespace-normalized, so normalize == id).
    from hll_spark.operators.extract import extract_text, wrap_html

    docs = _t(spark, sf, "documents")
    pages = docs.select(
        "doc_id",
        wrap_html(F.col("text"), lang=F.col("lang"))
        .cast("binary")
        .alias("html"),
    )
    ext = pages.select("doc_id", extract_text("html").alias("etext"))
    return ext.select(
        "doc_id",
        F.md5("etext").alias("text_md5"),
        F.length("etext").alias("text_len"),
    )


def q_extract_text_pages_arrow(spark, sf):
    # same round trip as extract_text_pages, but extracted by the Arrow
    # batch kernel (operators/extractkernel.py) instead of the JVM
    # regexp chain — the fast path under the same per-row md5 oracle.
    from hll_spark.operators.extract import extract_pages, wrap_html

    docs = _t(spark, sf, "documents")
    pages = docs.select(
        "doc_id",
        wrap_html(F.col("text"), lang=F.col("lang"))
        .cast("binary")
        .alias("html"),
    )
    ext = extract_pages(pages, out_col="etext", engine="arrow")
    return ext.select(
        "doc_id",
        F.md5("etext").alias("text_md5"),
        F.length("etext").alias("text_len"),
    )


def _normalize_urls_oracle_sql() -> str:
    # DuckDB mirror of q_normalize_urls_docs: same messy-url synthesis,
    # then the normalize_url mirror expression from operators/url.py
    # (kept next to the implementation so the rules stay in lockstep).
    from hll_spark.operators.url import duckdb_normalize_expr

    messy = (
        "(CASE WHEN doc_id % 5 = 0 THEN 'HTTP' ELSE 'HTTPS' END"
        " || '://Host-' || source || '.Example.COM'"
        " || CASE doc_id % 4 WHEN 0 THEN ':80' WHEN 1 THEN ':443'"
        "      WHEN 2 THEN ':8080' ELSE '' END"
        " || CASE doc_id % 3 WHEN 0 THEN ''"
        "      WHEN 1 THEN '/Path/' || doc_id"
        "      ELSE '/p?q=' || doc_id END"
        " || CASE WHEN doc_id % 2 = 0 THEN '#Sec' ELSE '' END)"
    )
    stripped = f"regexp_replace({messy}, '(?s)#.*', '')"
    host = (
        f"lower(regexp_replace(regexp_extract({stripped},"
        f" '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), ':[0-9]+$', ''))"
    )
    return f"""
        SELECT doc_id,
               {duckdb_normalize_expr(stripped)} AS norm_url,
               {host} AS host
        FROM documents
    """


def q_normalize_urls_docs(spark, sf):
    # URL canonicalization under the oracle: deterministically messy
    # urls (mixed-case scheme/host, default + explicit ports, fragments,
    # empty paths) are synthesized from (doc_id, source) identically in
    # Spark and DuckDB, then normalize_url/url_host (pure JVM regexp
    # chains) must match the DuckDB mirror byte-for-byte.
    from hll_spark.operators.url import normalize_url, url_host

    d = F.col("doc_id").cast("string")
    scheme = F.when(F.col("doc_id") % 5 == 0, F.lit("HTTP")).otherwise(
        F.lit("HTTPS")
    )
    port = (
        F.when(F.col("doc_id") % 4 == 0, F.lit(":80"))
        .when(F.col("doc_id") % 4 == 1, F.lit(":443"))
        .when(F.col("doc_id") % 4 == 2, F.lit(":8080"))
        .otherwise(F.lit(""))
    )
    path = (
        F.when(F.col("doc_id") % 3 == 0, F.lit(""))
        .when(F.col("doc_id") % 3 == 1, F.concat(F.lit("/Path/"), d))
        .otherwise(F.concat(F.lit("/p?q="), d))
    )
    frag = F.when(F.col("doc_id") % 2 == 0, F.lit("#Sec")).otherwise(F.lit(""))
    messy = F.concat(
        scheme, F.lit("://Host-"), F.col("source"), F.lit(".Example.COM"),
        port, path, frag,
    )
    docs = _t(spark, sf, "documents").select("doc_id", "source")
    return docs.select(
        "doc_id",
        normalize_url(messy).alias("norm_url"),
        url_host(messy).alias("host"),
    )


def q_mg_top_sources_by_lang(spark, sf):
    # GROUPED Misra-Gries: one frequent-items summary per lang cell via
    # the shared two-level scaffold (partials shuffle as sketch blobs,
    # never raw rows). Exact regime (k=64 >= 20 distinct sources), and
    # the full item set is returned (top_n=k) so the oracle needs no
    # tie-breaking rule — it is GROUP BY lang, source.
    from hll_spark.operators.sketches import mg_top_items

    docs = _t(spark, sf, "documents")
    return mg_top_items(docs, "source", top_n=64, k=64, by=["lang"]).select(
        "lang", "item", "count_lb", "error_bound"
    )


def q_kll_quantiles_price(spark, sf):
    return kll_quantiles(_t(spark, sf, "lineitem"), "l_extendedprice",
                         [0.1, 0.5, 0.9])


def q_tdigest_quantiles_value(spark, sf):
    return tdigest_quantiles(_t(spark, sf, "events"), "value",
                             [0.01, 0.5, 0.99])


# ---------------------------------------------------------------------------
# queries — dedup / similarity


def q_exact_dedup_documents(spark, sf):
    docs = _t(spark, sf, "documents")
    return exact_dedup(docs, ["text"], "doc_id").select("doc_id")


def q_duplicate_groups_documents(spark, sf):
    docs = _t(spark, sf, "documents")
    return duplicate_groups(docs, ["text"], "doc_id").select("keeper_id", "n_dupes")


def q_embedding_dup_pairs(spark, sf):
    # Loose threshold (0.46) is the regime where NO LSH family can
    # prune (see dedup.embedding_dup_pairs's warning) — so this query
    # runs the blocked-GEMM exact plan instead: hash-balanced block
    # pairs, one dense matmul per applyInPandas task, each pair
    # evaluated exactly once, shuffle = n * n_blocks rows. Same DuckDB
    # oracle as before; QUERIES.md documents why quadratic FLOPs are
    # unavoidable here and why this is still the right 100x plan shape.
    from hll_spark.operators.dedup import embedding_dup_pairs_blocked

    emb = _t(spark, sf, "embeddings")
    return embedding_dup_pairs_blocked(
        emb, "embedding", "vec_id", threshold=0.46, n_blocks=8
    ).select("id_a", "id_b")


def q_embedding_dup_pairs_tight(spark, sf):
    # The sub-quadratic regime the operator was built for: threshold
    # 0.92 tunes to fine buckets (r=12 planes) where banding genuinely
    # prunes. The synthetic embeddings table has no pairs above cosine
    # ~0.6, so near-dups are constructed deterministically: each vector
    # gets a copy (vec_id + 100000) with its first coordinate scaled by
    # 1.2 — cosine(original, copy) ~0.99, every cross pair stays < 0.7.
    # DuckDB builds the identical corpus (see oracle_sql).
    emb = _t(spark, sf, "embeddings")
    pert = emb.select(
        (F.col("vec_id") + F.lit(100000)).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: F.when(i == 0, x * F.lit(1.2)).otherwise(x),
        )
        .cast("array<float>")
        .alias("embedding"),
    )
    corpus = emb.select("vec_id", "embedding").unionByName(pert)
    # dim passed explicitly (testdata embeddings are 64-wide at every
    # sf) — skips the plan-build-time head() lookup
    return embedding_dup_pairs(
        corpus, "embedding", "vec_id", threshold=0.92, dim=64
    ).select("id_a", "id_b")


def q_minhash_dedup_parity(spark, sf):
    # Oracle-visible proof of the 100 TB dedup path: a corpus whose
    # star rule provably equals transitive closure (disjoint-token pair
    # clusters + singletons), so rep-based minhash_dedup_keep's keep-set
    # is exactly derivable in SQL. Pair i = docs (2i, 2i+1): 60 shared
    # tokens w{i}_{j} plus one extra token on the odd member (3-gram
    # Jaccard 58/59 ~ 0.983 >= 0.9); singletons use disjoint s{id}_{j}
    # tokens. Keep-set = every even id + every singleton id.
    from hll_spark.operators.dedup import minhash_dedup_keep

    n_pairs, n_single = 500, 250
    ids = spark.range(2 * n_pairs + n_single).withColumnRenamed("id", "doc_id")
    pid = F.floor(F.col("doc_id") / 2).cast("long")
    base_txt = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.lit(60)),
            lambda j: F.format_string("w%d_%d", pid, j),
        ),
        " ",
    )
    pair_txt = F.when(
        F.col("doc_id") % 2 == 1,
        F.concat(base_txt, F.format_string(" x%d", pid)),
    ).otherwise(base_txt)
    single_txt = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.lit(10)),
            lambda j: F.format_string("s%d_%d", F.col("doc_id"), j),
        ),
        " ",
    )
    corpus = ids.select(
        "doc_id",
        F.when(F.col("doc_id") < 2 * n_pairs, pair_txt)
        .otherwise(single_txt)
        .alias("text"),
    )
    return minhash_dedup_keep(corpus, "text", "doc_id", threshold=0.9).select(
        "doc_id"
    )


def q_clean_corpus_rep_parity(spark, sf):
    # The composed pipeline on its AT-SCALE path (exact_neardup=False:
    # exact dedup -> rep-based MinHash dedup) under the oracle. Corpus:
    # 400 near-dup pairs (ids 2i/2i+1, disjoint token sets per pair),
    # 250 unique singletons (ids 800..1049), 250 EXACT copies of the
    # singletons (ids 1050..1299, removed by the exact-dedup stage).
    # Quality gates are opened wide so the oracle-derivable keep-set is
    # exactly: every even pair id + every singleton id.
    from hll_spark.operators.pipeline import clean_corpus

    n_pairs, n_single = 400, 250
    ids = spark.range(2 * n_pairs + 2 * n_single).withColumnRenamed(
        "id", "doc_id"
    )
    pid = F.floor(F.col("doc_id") / 2).cast("long")
    base_txt = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.lit(60)),
            lambda j: F.format_string("w%d_%d", pid, j),
        ),
        " ",
    )
    pair_txt = F.when(
        F.col("doc_id") % 2 == 1,
        F.concat(base_txt, F.format_string(" x%d", pid)),
    ).otherwise(base_txt)
    single_id = F.when(
        F.col("doc_id") < 2 * n_pairs + n_single, F.col("doc_id")
    ).otherwise(F.col("doc_id") - n_single)
    single_txt = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.lit(10)),
            lambda j: F.format_string("s%d_%d", single_id, j),
        ),
        " ",
    )
    corpus = ids.select(
        "doc_id",
        F.when(F.col("doc_id") < 2 * n_pairs, pair_txt)
        .otherwise(single_txt)
        .alias("text"),
    )
    cleaned = clean_corpus(
        corpus,
        min_quality=0.0,
        max_dup_line_fraction=1.0,
        max_symbol_word_ratio=1.0,
        word_len_bounds=(0.0, 1000.0),
        neardup_threshold=0.9,
        exact_neardup=False,
    )
    return cleaned.select("doc_id")


def q_ann_top3(spark, sf):
    emb = _t(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return brute_force_topk(emb, queries, k=3).select(
        "query_id", "neighbor_id", "rank"
    )


def q_ivf_ann_top3(spark, sf):
    emb = _t(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return ivf_ann_topk(emb, queries, k=3, n_centroids=8, nprobe=3).select(
        "query_id", "neighbor_id", "rank"
    )


def q_minhash_dedup_keep_documents(spark, sf):
    # representative-based near-dup dedup (the at-scale rule): rows-only
    # (minhash-dependent); rep==pairs parity asserted in pytest
    from hll_spark.operators.dedup import minhash_dedup_keep

    docs = _t(spark, sf, "documents")
    kept = minhash_dedup_keep(docs, "text", "doc_id", threshold=0.7)
    return kept.agg(F.count("*").alias("n_kept"))


def q_minhash_pairs_documents(spark, sf):
    docs = _t(spark, sf, "documents")
    return minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.7)


def q_simhash_pairs_documents(spark, sf):
    docs = _t(spark, sf, "documents")
    return simhash_pairs(docs, "text", "doc_id", max_hamming=3)


def _parity_clone_corpus(spark, n_pairs: int, n_single: int):
    """Corpus for pair-enumeration oracles: docs (2i, 2i+1) are EXACT
    clones (60 shared w{i}_{j} tokens, token sets disjoint across
    pairs); singleton fillers use 10 disjoint s{id}_{j} tokens. Exact
    clones make LSH recall provably 1 (identical signatures collide in
    every band / every simhash chunk), so the emitted pair set is
    derivable in SQL: exactly {(2i, 2i+1)}."""
    ids = spark.range(2 * n_pairs + n_single).withColumnRenamed("id", "doc_id")
    pid = F.floor(F.col("doc_id") / 2).cast("long")
    pair_txt = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.lit(60)),
            lambda j: F.format_string("w%d_%d", pid, j),
        ),
        " ",
    )
    single_txt = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.lit(10)),
            lambda j: F.format_string("s%d_%d", F.col("doc_id"), j),
        ),
        " ",
    )
    return ids.select(
        "doc_id",
        F.when(F.col("doc_id") < 2 * n_pairs, pair_txt)
        .otherwise(single_txt)
        .alias("text"),
    )


def q_minhash_pairs_parity(spark, sf):
    # Oracle-visible MinHash+LSH pair enumeration (VERDICT r3 #6): on
    # the clone corpus identical texts yield identical signatures, so
    # every clone pair is emitted with jaccard_est exactly 1.0 and the
    # disjoint-token fillers emit nothing (seeded, deterministic).
    corpus = _parity_clone_corpus(spark, n_pairs=400, n_single=200)
    return minhash_lsh_pairs(corpus, "text", "doc_id", threshold=0.9)


def _parity_increment_corpora(spark, n_clone: int, n_new: int, n_corp: int):
    """(new, corpus) for the cross-corpus join oracles: new doc i and
    corpus doc i are EXACT clones for i < n_clone (60 shared c{i}_{j}
    tokens, disjoint across i); new docs n_clone..n_clone+n_new-1 and
    corpus docs n_clone..n_clone+n_corp-1 are disjoint-token
    singletons. Exact clones -> identical signatures -> LSH recall
    provably 1, so the join result is derivable in SQL."""

    def frame(n_total, single_prefix):
        ids = spark.range(n_total).withColumnRenamed("id", "doc_id")
        clone_txt = F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.lit(60)),
                lambda j: F.format_string("c%d_%d", F.col("doc_id"), j),
            ),
            " ",
        )
        single_txt = F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.lit(10)),
                lambda j: F.format_string(
                    single_prefix + "%d_%d", F.col("doc_id"), j
                ),
            ),
            " ",
        )
        return ids.select(
            "doc_id",
            F.when(F.col("doc_id") < n_clone, clone_txt)
            .otherwise(single_txt)
            .alias("text"),
        )

    return frame(n_clone + n_new, "l"), frame(n_clone + n_corp, "r")


def q_minhash_join_parity(spark, sf):
    # Oracle-visible CROSS-CORPUS near-dup join (the incremental-dedup
    # shape: today's crawl vs the standing corpus, no self-join of the
    # big side): on the cross-table clone corpora every clone pair is
    # emitted with jaccard_est exactly 1.0 and nothing else clears 0.9.
    from hll_spark.operators.dedup import minhash_join

    new, corpus = _parity_increment_corpora(spark, 300, 150, 200)
    return minhash_join(new, corpus, "text", "doc_id", threshold=0.9)


def q_dedup_increment_parity(spark, sf):
    # The keep-set half: new docs that near-duplicate a corpus doc are
    # dropped; the provable keep-set is exactly the novel singletons.
    from hll_spark.operators.dedup import dedup_increment

    new, corpus = _parity_increment_corpora(spark, 300, 150, 200)
    return dedup_increment(new, corpus, "text", "doc_id", threshold=0.9).select(
        "doc_id"
    )


def q_simhash_pairs_parity(spark, sf):
    # Oracle-visible SimHash pair enumeration: clone pairs have
    # Hamming 0 (found with certainty by the pigeonhole chunk join);
    # disjoint-token fillers sit at Hamming ~32.
    corpus = _parity_clone_corpus(spark, n_pairs=400, n_single=200)
    return simhash_pairs(corpus, "text", "doc_id", max_hamming=3)


def q_semdedup_parity(spark, sf):
    # Oracle-visible SemDeDup (cluster + within-cluster cosine prune):
    # corpus of one-hot vectors — clone pair i = docs (2i, 2i+1) both
    # one-hot on dim i, singleton s one-hot on dim n_pairs+(s-2*n_pairs)
    # — so every distinct-doc cosine is exactly 0 and every clone
    # cosine exactly 1, regardless of which k-means cell a doc lands
    # in (identical vectors always co-assign). Keep-set is therefore
    # provable: the even member of each clone pair (id tiebreak) plus
    # every singleton.
    from hll_spark.operators.dedup import semdedup_keep

    n_pairs, n_single = 300, 150
    dim = n_pairs + n_single
    ids = spark.range(2 * n_pairs + n_single).withColumnRenamed("id", "doc_id")
    hot = F.when(
        F.col("doc_id") < 2 * n_pairs, F.floor(F.col("doc_id") / 2)
    ).otherwise(F.col("doc_id") - n_pairs).cast("int")
    corpus = ids.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda j: F.when(j == hot, F.lit(1.0)).otherwise(F.lit(0.0)),
        ).alias("embedding"),
    )
    return semdedup_keep(
        corpus, "embedding", "doc_id", eps=0.05, n_clusters=8
    ).select("doc_id")


def q_semdedup_keep_embeddings(spark, sf):
    # SemDeDup on the real embeddings table: rows-only (keep-set
    # depends on the trained centroids); the provable-keep-set parity
    # sibling is semdedup_parity, and the greedy rule's clique
    # semantics are unit-tested in test_dedup.py
    from hll_spark.operators.dedup import semdedup_keep

    emb = _t(spark, sf, "embeddings")
    kept = semdedup_keep(emb, "embedding", "vec_id", eps=0.2, n_clusters=8)
    return kept.agg(F.count("*").alias("n_kept"))


def q_lang_id_parity(spark, sf):
    # Oracle-visible language-ID (VERDICT r3 #6 family): constructed
    # corpus where every label is provable — doc_id%4 cycles through
    # (a) dense English trigram carriers, (b) dense German carriers,
    # (c) Cyrillic text (script-range rule fires at >25% codepoints),
    # (d) digits (every trigram score 0 -> 'other'). Scores are
    # lopsided by construction (zero cross-language gram hits), so the
    # classifier output is exactly CASE doc_id%4.
    from hll_spark.operators.text import detect_language

    texts = [
        "the and of to ing ion " * 5,
        "und der ein ich sch cht " * 5,
        "привет мир как дела сегодня " * 3,
        "12345 67890 13579 ",
    ]
    corpus = spark.range(800).select(
        F.col("id").alias("doc_id"),
        F.element_at(
            F.array(*[F.lit(t) for t in texts]),
            (F.col("id") % 4 + 1).cast("int"),
        ).alias("text"),
    )
    return detect_language(corpus, "text").select("doc_id", "lang_pred")


def q_fingerprint_parity(spark, sf):
    # Oracle-visible document fingerprinting: on the clone corpus the
    # 8-gram min-hash fingerprint is equal within each clone pair and
    # (deterministically, verified) distinct across all 600 texts, so
    # grouping by fingerprint recovers exactly the pair structure:
    # {(2i, 2i+1, 2)} for pairs, {(id, id, 1)} for singleton fillers.
    from hll_spark.operators.text import fingerprint_documents

    corpus = _parity_clone_corpus(spark, n_pairs=400, n_single=200)
    return (
        fingerprint_documents(corpus, "text")
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("id_lo"),
            F.max("doc_id").alias("id_hi"),
            F.count("*").alias("n_docs"),
        )
        .select("id_lo", "id_hi", "n_docs")
    )


def q_pack_sequences_documents(spark, sf):
    # GPT-style training-sequence packing (concatenate in doc_id order,
    # cut every 512 tokens): the manifest is deterministic arithmetic
    # over the token-count cumsum, so it gets a FULL value oracle (the
    # DuckDB mirror is a window cumsum + generate_series explode). The
    # Spark side is the two-phase distributed scan in operators/packing
    # — no global-window single-task collapse.
    from hll_spark.operators.packing import pack_sequences
    from hll_spark.operators.text import token_count

    docs = _t(spark, sf, "documents")
    sized = docs.select("doc_id", token_count("text").alias("n_tok"))
    return pack_sequences(sized, "doc_id", "n_tok", 512)


def q_token_budget_selection(spark, sf):
    # Greedy token-budget corpus selection (the mixture-construction
    # primitive: "keep the best docs until N tokens"): order by
    # (n_chars DESC, doc_id) — a total order — and keep every doc whose
    # exclusive running token total is under 20k. Deterministic prefix
    # arithmetic ⇒ FULL value oracle (DuckDB window cumsum); the Spark
    # side is the pruned two-phase scan in operators/packing.py (no
    # global-window single-task collapse, post-budget partitions
    # skipped).
    from hll_spark.operators.packing import select_to_token_budget
    from hll_spark.operators.text import token_count

    docs = _t(spark, sf, "documents")
    sized = docs.select(
        "doc_id", "n_chars", token_count("text").alias("n_tok")
    )
    return select_to_token_budget(
        sized,
        "doc_id",
        "n_tok",
        20_000,
        order_by=[("n_chars", True), "doc_id"],
    )


def q_budget_mixture_by_lang(spark, sf):
    # Per-domain token-budget fill — the executable half of a DoReMi/
    # Llama-style mixture recipe ("60% en, 20% de, 10% fr, 10% es").
    # mixture_budgets does the exact largest-remainder weights→budgets
    # arithmetic (30k total → en 18000 / de 6000 / fr 3000 / es 3000 —
    # deterministic, so the oracle pins the same literals); the grouped
    # greedy fill keeps each lang's (n_chars DESC, doc_id) prefix while
    # its exclusive token total is under its own budget. zh carries no
    # weight ⇒ dropped entirely (the recipe's "not in the mixture"
    # path). Same pruned two-phase scan as token_budget_selection,
    # range-partitioned on (lang, order...) so each lang is a
    # contiguous run and the per-partition totals stay one tiny row
    # per (partition, lang).
    from hll_spark.operators.packing import (
        mixture_budgets,
        select_to_token_budget_grouped,
    )
    from hll_spark.operators.text import token_count

    docs = _t(spark, sf, "documents")
    sized = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        token_count("text").alias("n_tok"),
    )
    budgets = mixture_budgets(
        30_000, {"en": 6, "de": 2, "fr": 1, "es": 1}
    )
    assert budgets == {"en": 18_000, "de": 6_000, "fr": 3_000, "es": 3_000}
    return select_to_token_budget_grouped(
        sized,
        "doc_id",
        "n_tok",
        budgets,
        "lang",
        order_by=[("n_chars", True), "doc_id"],
    )


def q_fd_gram_by_label(spark, sf):
    # GROUPED Frequent Directions (Liberty KDD'13) in its EXACT regime
    # — the same oracle pattern as the KLL/MG exact tiers: with 2*ell
    # greater than any group's row count the shrink never fires, each
    # group's sketch is literally its stacked rows, and B^T B is
    # A^T A bit-for-bit when the inputs are integers (float64 integer
    # dot products are exact and order-independent under 2^53).
    # Embeddings are quantized to milli-units with floor(x*1000 + 0.5)
    # — identical double arithmetic in Spark and DuckDB — so every
    # per-label 64x64 Gram matrix comes out as exact BIGINTs on both
    # sides. This row exercises the full grouped path (level-0
    # per-(partition, group) partials -> per-group merge -> Gram
    # expansion); the global path and compressing-regime spectral
    # bounds are pinned in test_fd.py.
    from hll_spark.operators.matrix import fd_gram_by

    emb = _t(spark, sf, "embeddings")
    quant = emb.select(
        "label",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1000 + F.lit(0.5)).cast(
                "double"
            ),
        ).alias("q"),
    )
    out = fd_gram_by(quant, "q", ["label"], ell=4096)
    return out.select(
        "label", "i", "j", F.col("gram").cast("long").alias("gram")
    )


def q_paragraph_dedup_parity(spark, sf):
    # Corpus-wide paragraph dedup (CCNet-style keep-first) under a full
    # value oracle. Constructed 3-paragraph corpus: each doc = its own
    # 100-char prefix + its successor's prefix + one corpus-wide shared
    # paragraph — so keep-first must elect doc d's prefix at (d-1, pos 1)
    # (the predecessor carries it first), doc 0 keeps everything, and
    # the shared paragraph survives only in doc 0.
    docs = _t(spark, sf, "documents")
    total = docs.count()  # bounded scalar (row count of the docs table)
    right = docs.select(
        F.col("doc_id").alias("__nid"),
        F.substring("text", 1, 100).alias("__ntext"),
    )
    shared = docs.where(F.col("doc_id") == 0).select(
        F.substring("text", 1, 60).alias("__shared")
    )
    corpus = (
        docs.select("doc_id", F.substring("text", 1, 100).alias("__own"))
        .withColumn("__nid", (F.col("doc_id") + 1) % total)
        .join(right, "__nid")
        .crossJoin(F.broadcast(shared))
        .select(
            "doc_id",
            F.concat_ws("\n", "__own", "__ntext", "__shared").alias("text"),
        )
    )
    return paragraph_dedup(corpus, "text", "doc_id")


def q_curate_corpus_docs(spark, sf):
    # the full post-ingest curation chain on its AT-SCALE settings:
    # clean_corpus (rep-based MinHash near-dup) -> CCNet-style LM
    # perplexity gate -> DSIR selection against the lang='en' slice ->
    # deterministic shard assignment; returns the per-shard doc counts
    # (rows-only: stages 2-3 are model-derived, but every stage is
    # individually ORACLE'd by its own driver query, and the whole
    # chain is deterministic at any parallelism — test_pipeline_curate)
    from hll_spark.operators.pipeline import curate_corpus

    docs = _t(spark, sf, "documents")
    target = docs.where(F.col("lang") == "en")
    out = curate_corpus(
        docs,
        max_ppl=5000.0,
        lm_vocab_size=300,
        target=target,
        min_logratio=-5.0,
        n_shards=8,
        exact_neardup=False,
    )
    return (
        out.groupBy("shard_id")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("shard_id")
    )


def q_curate_corpus_parity(spark, sf):
    # END-TO-END oracle for the curation chain (VERDICT r4 #4): the
    # same clean -> LM-ppl gate -> DSIR -> shard pipeline as
    # curate_corpus_docs but on the oracle-reproducible exact-Jaccard
    # near-dup path (exact_neardup defaults True), returning per-doc
    # MEMBERSHIP + shard assignment — strictly stronger than counts.
    # The DuckDB mirror composes the proven per-stage mirrors
    # (clean_corpus_stats, lm_perplexity_documents,
    # dsir_importance_documents, shard_manifest_documents) with the
    # stage-correct fit corpora: ppl vocab+model self-fit on the
    # CLEANED corpus, DSIR vocab+target LM on the original lang='en'
    # slice, DSIR source LM on the ppl-kept pool. The at-scale
    # MinHash-rep variant keeps its own rows-only row
    # (curate_corpus_docs) plus the clean_corpus_rep_parity oracle.
    from hll_spark.operators.pipeline import curate_corpus

    docs = _t(spark, sf, "documents")
    target = docs.where(F.col("lang") == "en")
    out = curate_corpus(
        docs,
        max_ppl=5000.0,
        lm_vocab_size=300,
        target=target,
        min_logratio=-5.0,
        n_shards=8,
    )
    return out.select("doc_id", "shard_id")


def q_char_entropy_documents(spark, sf):
    # compression-ratio-family quality signal: per-doc codepoint
    # entropy with the exact integer micro-log contract, so the Arrow
    # numpy histogram is value-oracled against DuckDB's per-codepoint
    # split+groupBy. entropy_bits is derived and excluded to keep the
    # compared surface exact-integer.
    from hll_spark.operators.text import char_entropy

    docs = _t(spark, sf, "documents")
    return char_entropy(docs, "text", "doc_id").select(
        "doc_id", "n_chars", "entropy_micro"
    )


def q_shard_manifest_documents(spark, sf):
    # deterministic training-shard accounting: portable-md5 shard
    # assignment + order-independent bit_xor checksums, so the entire
    # manifest is engine-exact (the writer itself is exercised against
    # real parquet output in test_shards.py)
    from hll_spark.plans.shards import shard_manifest

    docs = _t(spark, sf, "documents")
    return shard_manifest(docs, "doc_id", 16, size_col="n_chars")


def q_lm_perplexity_documents(spark, sf):
    # CCNet-style quality signal: self-fit bigram LM with add-one
    # smoothing over a closed top-500 vocab, integer micro-log scoring
    # (floor(log10(p)*1e6) summed as exact BIGINTs), so the full
    # fit+score is value-oracled against a DuckDB reimplementation.
    # ppl is derived from nll_micro/n_tokens and excluded here to keep
    # the compared surface exact-integer.
    from hll_spark.operators.lm import bigram_lm_perplexity

    docs = _t(spark, sf, "documents")
    return bigram_lm_perplexity(docs, "text", "doc_id", vocab_size=500).select(
        "doc_id", "n_tokens", "nll_micro"
    )


def q_quality_classifier_parity(spark, sf):
    # fastText/CCNet-style quality classifier: hashed-unigram hard-
    # sigmoid logistic model fit by TWO rounds of exact-integer
    # full-batch GD (label: lang='en'), then scored in-domain. Every
    # quantity is a BIGINT in micro-units with pinned floor-division,
    # so the ENTIRE fit+score (feature hashing -> 2 GD iterations ->
    # link + threshold) is value-oracled against an unrolled DuckDB
    # reimplementation. Unigrams only here to keep the SQL mirror one
    # explode; bigram mode is reference-checked in test_classifier.py.
    from hll_spark.operators.classifier import quality_classifier_labels

    docs = _t(spark, sf, "documents")
    labeled = docs.withColumn(
        "__is_en", (F.col("lang") == "en").cast("int")
    )
    return quality_classifier_labels(
        labeled,
        "__is_en",
        "text",
        "doc_id",
        n_features=4096,
        iters=2,
        lr_micro=2_000_000,
        bigrams=False,
    )


def q_dsir_importance_documents(spark, sf):
    # DSIR importance scoring: target domain = the English slice of
    # documents; positive logratio_micro = more target-like than the
    # raw pool. Exact-integer surface (micro-log BIGINT sums), so the
    # ENTIRE two-model fit+score is value-oracled against a DuckDB
    # reimplementation sharing the target-fit vocabulary.
    from hll_spark.operators.lm import dsir_importance

    docs = _t(spark, sf, "documents")
    target = docs.where(F.col("lang") == "en")
    return dsir_importance(
        docs, target, "text", "doc_id", vocab_size=300
    ).select("doc_id", "n_tokens", "logratio_micro")


def q_decontaminate_documents(spark, sf):
    # exact-substring benchmark decontamination: snippets are 80-char
    # windows of every doc_id % 100 == 7 document; the flagged set is
    # exactly those source docs (word-soup texts make an 80-char window
    # unique at any sf), exercising the broadcast-array contains scan
    docs = _t(spark, sf, "documents")
    snips = docs.where(F.col("doc_id") % 100 == 7).select(
        F.substring("text", 10, 80).alias("snippet")
    )
    return decontaminate_contains(docs, snips)


def q_decontaminate_ngrams(spark, sf):
    # word-7-gram overlap decontamination (the GPT-3/Llama recipe) vs
    # the same benchmark subset; n_hits counts distinct leaked grams
    docs = _t(spark, sf, "documents")
    bench = docs.where(F.col("doc_id") % 100 == 7)
    return decontaminate_ngrams(docs, bench, n=7)


def q_normalize_unicode_docs(spark, sf):
    # Unicode NFC normalization (Arrow-batched unicodedata UDF) vs
    # DuckDB's nfc_normalize: combining-mark sequences appended to
    # every doc (e + U+0301, A + U+030A) must collapse to their
    # precomposed forms — per-row md5 + codepoint-count parity
    from hll_spark.operators.text import normalize_unicode

    docs = _t(spark, sf, "documents")
    # decomposed on purpose (e + COMBINING ACUTE, A + COMBINING RING),
    # built from \u escapes so no editor/formatter/transport that
    # NFC-normalizes this file can silently precompose the input --
    # the same guard the DuckDB oracle gets from chr()
    messy = F.concat(
        F.col("text"), F.lit(" caf" + "e\u0301" + " A\u030a" + "rhus")
    )
    norm = normalize_unicode(messy, "NFC")
    return docs.select(
        "doc_id",
        F.md5(norm.cast("binary")).alias("norm_md5"),
        F.length(norm).cast("long").alias("norm_len"),
        (F.length(messy) - F.length(norm)).cast("long").alias(
            "chars_collapsed"
        ),
    )


def q_decontaminate_bloom(spark, sf):
    # the at-scale decontamination shape: benchmark grams become a
    # broadcast Bloom BITMAP (not a literal array/broadcast join side),
    # candidates are exact-verified — so the values must equal the
    # plain n-gram recipe, which the oracle replays. m_bits is set LOW
    # (64 Kbit for ~40k bench grams) so the bitmap provably passes
    # false positives at this sf and the verify join is what keeps the
    # answer exact.
    docs = _t(spark, sf, "documents")
    bench = docs.where(F.col("doc_id") % 100 == 13)
    return decontaminate_ngrams_bloom(docs, bench, n=6, m_bits=1 << 16)


def q_repeated_span_stats(spark, sf):
    # ExactSubstr-style repeated-span coverage (word 5-grams occurring
    # >=2x corpus-wide; per-doc occurrence count + interval-union token
    # coverage) — the measurement that gates span removal / whole-doc
    # drops. O(total tokens); no pair enumeration. The small-SF
    # documents parquet is ONE scan split, which would serialize the
    # explode; repartition the 5k input rows first (a ~MB shuffle —
    # at real scale the scan has thousands of splits and this is a
    # no-op to drop).
    docs = _t(spark, sf, "documents").repartition(16, "doc_id")
    return repeated_span_stats(docs, n=5)


def q_remove_repeated_spans(spark, sf):
    # the removal half of ExactSubstr dedup: every duplicated word
    # 5-gram occurrence except the corpus-first one is cut; per-row
    # md5 of the rebuilt text + kept/removed counts vs the identical
    # DuckDB election (min(struct) ownership == row_number 1)
    docs = _t(spark, sf, "documents").repartition(16, "doc_id")
    out = remove_repeated_spans(docs, n=5)
    return out.select(
        "doc_id",
        F.md5(F.col("text_clean").cast("binary")).alias("clean_md5"),
        "kept_tokens",
        "removed_tokens",
    )


def q_top_vocab(spark, sf):
    # corpus-wide top-50 pre-tokens (the BPE-ish RE2-compatible
    # pre-tokenizer, identical split in Spark's java.util.regex and
    # DuckDB's RE2); explode -> ONE hash aggregate ->
    # TakeOrderedAndProject top-k, ties broken token-ascending
    from hll_spark.operators.vocab import top_vocab

    docs = _t(spark, sf, "documents")
    return top_vocab(docs, k=50)


def q_tfidf_top_terms(spark, sf):
    # per-document top-3 salient terms by tf-idf with the log-free idf
    # (score = tf * N/df — products/quotients of integers are
    # correctly-rounded IEEE, so the doubles compare bit-exact across
    # engines); rank ties broken term-ascending
    from hll_spark.operators.vocab import tfidf_top_terms

    docs = _t(spark, sf, "documents")
    return tfidf_top_terms(docs, k=3)


def q_stratified_split_docs(spark, sf):
    # deterministic stratified 80/10/10 split per lang, EXACT
    # per-stratum counts (portable md5 rank + cumulative-floor cuts);
    # the identical DuckDB window reproduces every row's label
    from hll_spark.operators.sampling import stratified_split

    docs = _t(spark, sf, "documents")
    return stratified_split(docs, ["lang"], key_col="doc_id").select(
        "doc_id", "lang", "split"
    )


def q_bpe_merges_documents(spark, sf):
    # distributed BPE learning: the only corpus-sized pass is ONE
    # pretoken frequency aggregate; the deterministic merge loop
    # (most-frequent pair, lexicographic tie-break) runs over the
    # frequency-capped form table. Iterative, hence genuinely not
    # SQL-expressible -> rows-only; the merge loop is differential-
    # tested against a recount-from-scratch reference and a
    # hand-provable corpus in tests/test_vocab.py.
    from hll_spark.operators.vocab import bpe_learn

    docs = _t(spark, sf, "documents")
    return bpe_learn(docs, n_merges=40)


def q_weighted_sample_docs(spark, sf):
    # Efraimidis-Spirakis weighted sampling WITHOUT replacement,
    # deterministic/portable uniforms (md5-keyed): exactly 200 docs,
    # inclusion odds proportional to text length; identical kept set
    # + ranks reproduced by the DuckDB oracle
    from hll_spark.operators.sampling import weighted_sample

    docs = _t(spark, sf, "documents")
    return weighted_sample(docs, "doc_id", F.length("text"), k=200, seed=42)


def q_ngram_jaccard_pairs(spark, sf):
    # EXACT word-3-gram Jaccard near-dup pairs — oracle-checkable
    # (dedup.py ngram_jaccard_pairs; the MinHash query is the scale path)
    docs = _t(spark, sf, "documents")
    return ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.5)


def q_lsh_ann_top3(spark, sf):
    # multi-probe random-hyperplane LSH ANN — rows-only (recall < 1 by
    # construction; recall-vs-brute-force asserted in pytest)
    emb = _t(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return lsh_ann_topk(emb, queries, k=3, n_planes=6).select(
        "query_id", "neighbor_id", "rank"
    )


def q_ivf_ann_parity(spark, sf):
    # ORACLE form of the IVF machinery (VERDICT r3 #6 pattern): probing
    # EVERY centroid cell (nprobe == n_centroids) makes the candidate
    # set the full corpus by construction, so centroid training, cell
    # assignment, the cell join, and the distributed top-k merge must
    # reproduce brute force exactly — same oracle as ann_top3. The
    # rows-only ivf_ann_top3 keeps measuring the real nprobe<cells
    # regime (recall tested in pytest).
    emb = _t(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return ivf_ann_topk(emb, queries, k=3, n_centroids=8, nprobe=8).select(
        "query_id", "neighbor_id", "rank"
    )


def q_lsh_ann_parity(spark, sf):
    # ORACLE form of hyperplane-LSH ANN on a constructed corpus where
    # recall is provably 1: each query vector gets 3 EXACT copies
    # (ids +100k/+200k/+300k). Identical vectors produce identical
    # plane signs, so every copy shares the query's bucket and is
    # always a candidate; copies tie at the engine's maximal cosine
    # (bit-identical arrays hash to the same score within each engine)
    # and the shared (score DESC, id ASC) tie-break makes top-3 =
    # (query_id, +100k, +200k) in Spark and DuckDB alike.
    emb = _t(spark, sf, "embeddings").select("vec_id", "embedding")
    base = emb.where(F.col("vec_id") < 5)
    corpus = emb
    for off in (100_000, 200_000, 300_000):
        corpus = corpus.unionByName(
            base.select(
                (F.col("vec_id") + F.lit(off)).alias("vec_id"), "embedding"
            )
        )
    return lsh_ann_topk(corpus, base, k=3, n_planes=8).select(
        "query_id", "neighbor_id", "rank"
    )


def q_dup_connected_components(spark, sf):
    # Transitive-closure dedup clustering under a FULL value oracle.
    # Chain corpus: doc d belongs to chain c=d//6 at position r=d%6 and
    # holds the 60 tokens w{c}_{5r+j}, j=0..59 — adjacent positions
    # share 55 of 65 distinct tokens (J=0.846 >= 0.8), positions two
    # apart 50 of 70 (0.714 < 0.8), chains are token-disjoint. The
    # EXACT 1-gram Jaccard graph at threshold 0.8 is therefore exactly
    # the chain adjacency: a PATH graph per chain, where near-dup
    # similarity is non-transitive and the one-round star rule
    # mislabels — large-star/small-star connected components
    # (operators/components.py) must close the chains. Oracle: the
    # same adjacency edges fed to a recursive-CTE min-label closure.
    n_docs, chain = 300, 6
    ids = spark.range(n_docs).withColumnRenamed("id", "doc_id")
    c = F.floor(F.col("doc_id") / chain).cast("long")
    r = (F.col("doc_id") % chain).cast("long")
    txt = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(59)),
            lambda j: F.format_string("w%d_%d", c, r * 5 + j),
        ),
        " ",
    )
    corpus = ids.select("doc_id", txt.alias("text"))
    pairs = ngram_jaccard_pairs(
        corpus, "text", "doc_id", threshold=0.8, shingle_n=1
    )
    return node_components(
        pairs, corpus, node_col="doc_id", src="id_a", dst="id_b"
    ).select(F.col("node").alias("doc_id"), "component")


def q_kll_quantiles_exact(spark, sf):
    # KLL in its exact regime under a FULL value oracle: k >= n keeps
    # every partial sketch and the merged sketch below the compaction
    # threshold (kll.py:_compress), so quantile(q) is the exact order
    # statistic at 1-based rank max(1, ceil(q*n)) — mirrored literally
    # in SQL. q values are binary-exact (eighths) so q*n is computed
    # identically under double and decimal arithmetic. The k=200
    # kll_quantiles_price query keeps measuring the real compacting
    # regime (rank-error bounds asserted in pytest).
    return kll_quantiles(
        _t(spark, sf, "part"),
        "p_retailprice",
        [0.125, 0.25, 0.5, 0.75, 0.875],
        k=65536,
    )


def q_kll_range_buckets_price(spark, sf):
    # sketch-driven range bucketing (the RangePartitioner-style 100 TB
    # primitive) in the KLL exact regime so the 8 boundaries are exact
    # order statistics at ranks max(1, ceil(i/8 * N)) — mirrored
    # literally in SQL; rows land in bucket #{b : value > b} (equal
    # values go low), then per-bucket count/min/max
    from hll_spark.operators.sketches import kll_range_buckets

    part = _t(spark, sf, "part")
    bucketed, _bounds = kll_range_buckets(part, "p_retailprice", 8, k=65536)
    return bucketed.groupBy("bucket").agg(
        F.count("*").alias("n_rows"),
        F.min("p_retailprice").alias("min_price"),
        F.max("p_retailprice").alias("max_price"),
    )


def q_skew_report_orders(spark, sf):
    # Shuffle-skew diagnostics under a FULL value oracle: the top-10
    # heaviest o_custkey groups with corpus share and uniform-spread
    # ratio (operators/diagnostics.key_skew_report) — the measurement
    # that gates salting / AQE-skew decisions before a 100 TB shuffle.
    # Deterministic (count DESC, key ASC) ordering in both engines;
    # rank column pins the order through the driver's sorted compare.
    from hll_spark.operators.diagnostics import key_skew_report

    out = key_skew_report(_t(spark, sf, "orders"), "o_custkey", top_n=10)
    w = Window.orderBy(F.desc("n_rows"), F.asc("o_custkey"))
    return out.withColumn("rank", F.row_number().over(w)).select(
        "rank",
        "o_custkey",
        "n_rows",
        F.round("share", 9).alias("share"),
        F.round("skew", 9).alias("skew"),
    )


def q_image_dup_pairs(spark, sf):
    # Perceptual image near-dup under a FULL value oracle: 30 grayscale
    # PNGs sized EXACTLY 8x9 — the dHash grid identity — with
    # pixel(y,x) = (k^2*((s%11)+3) + s*31) % 256, k = y*9+x, s = id%20,
    # so ids 20..29 are pixel-exact clones of 0..9 and the quadratic
    # wrap gives all 20 distinct images distinct, bit-diverse hashes
    # (truth set = exactly the 10 clone pairs). Every dhash bit is a
    # closed-form integer comparison the DuckDB oracle replays, and the
    # oracle enumerates ALL pairs brute-force with xor + bit_count — so
    # the comparison also proves the pigeonhole banding's recall-1
    # claim, the real decode path (PNG bytes -> pixels), and the
    # two's-complement i64 packing, end to end.
    import numpy as np

    from hll_spark.operators.dedup import image_dup_pairs
    from hll_spark.operators.multimodal import encode_png

    y, x = np.mgrid[0:8, 0:9]
    k = y * 9 + x
    rows = []
    for i in range(30):
        s = i % 20
        img = ((k * k * ((s % 11) + 3) + s * 31) % 256).astype(np.uint8)
        rows.append((i, bytearray(encode_png(img))))
    media = fast_local_df(spark, rows, "media_id bigint, payload binary")
    return image_dup_pairs(
        media, "payload", "media_id", max_hamming=6
    ).orderBy("id_a", "id_b")


def q_corpus_diff(spark, sf):
    # dataset-version diff under a FULL value oracle: 'new' is derived
    # from orders in-query (keys %10==0 removed, %7==0 repriced,
    # synthetic keys added), so added/removed/changed/unchanged are
    # all closed-form; DuckDB replays the derivation and the same
    # null-safe comparison over a FULL OUTER JOIN. The exact tier of
    # snapshot diffing — one id-keyed join, one aggregate.
    from hll_spark.operators.diagnostics import corpus_diff

    orders = _t(spark, sf, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    modified = orders.where(F.col("o_orderkey") % 10 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1.0
        ).otherwise(F.col("o_totalprice")),
    )
    added = spark.range(50).select(
        (F.col("id") + 900_000_000).alias("o_orderkey"),
        F.lit("X").alias("o_orderstatus"),
        F.lit(1.0).alias("o_totalprice"),
    )
    new = modified.unionByName(added)
    return corpus_diff(
        orders, new, "o_orderkey", ["o_orderstatus", "o_totalprice"]
    )


def q_anchor_texts(spark, sf):
    # anchor-text aggregation under a FULL value oracle: 48 docs with
    # two closed-form <a> links each plus a self-link (must drop), an
    # empty-anchor link (must drop) and a relative link (must not
    # match); DuckDB rebuilds the (dst_host, anchor) pairs from the
    # formulas and aggregates identically. Proves the dual-group
    # regexp zip alignment and the host/blank/self rules.
    from hll_spark.operators.graph import anchor_texts

    rows = []
    for i in range(48):
        parts = [
            f'<a href="https://h{(i + j * 2 + 1) % 6}.example.com/x">'
            f"site {(i + j) % 4}</a>"
            for j in range(2)
        ]
        parts.append(f'<a href="https://h{i % 6}.example.com/self">me</a>')
        parts.append(f'<a href="https://h{(i + 1) % 6}.example.com/e"></a>')
        parts.append('<a href="/relative">rel</a>')
        rows.append(
            (f"https://h{i % 6}.example.com/p/{i}", "".join(parts))
        )
    docs = fast_local_df(spark, rows, "url string, html string")
    return anchor_texts(docs, "html", "url").orderBy("dst_host", "anchor")


def q_fix_mojibake(spark, sf):
    # mojibake repair under a stated-expectation oracle: the garbled
    # inputs are constructed IN the query from known texts (encode
    # utf-8, decode cp1252 — the dominant web corruption), and DuckDB
    # states the expected repaired output literally. The strong
    # evidence is the Hypothesis round-trip property in
    # test_text_ops.py; this row pins the Spark path's bytes
    # cross-engine, including clean-text fixed points that must
    # survive untouched.
    from hll_spark.operators.text import fix_mojibake

    texts = [
        "café crème brûlée",
        "naïve façade",
        "über größe",
        "smart — dash",
        "check ✓ done",
        "日本語テキスト",
    ]
    rows = []
    for i, t in enumerate(texts):
        rows.append((2 * i, t.encode("utf-8").decode("cp1252")))
        rows.append((2 * i + 1, t))  # clean sibling: fixed point
    docs = fast_local_df(spark, rows, "doc_id bigint, text string")
    return fix_mojibake(docs, "text").orderBy("doc_id")


def q_warc_corpus(spark, sf):
    # the full Common-Crawl ingestion composition under one oracle:
    # WARC bytes -> parse -> keep (response, 200, text/html) ->
    # extract_text -> corpus rows. Non-200s, non-html and
    # warcinfo/request records must drop; the survivors' extracted
    # text must equal the closed-form fixture text byte-for-byte
    # (wrap_html is the byte-exact inverse of extract_text on this
    # alphabet). Proves the source and the extraction kernel compose
    # without framing or typing bugs.
    from hll_spark.operators.extract import extract_text, wrap_html_py
    from hll_spark.sources.warc import encode_warc, parse_warc_records

    recs = [
        {
            "type": "warcinfo",
            "date": "2024-04-01T00:00:00Z",
            "body": b"software: fixture",
        }
    ]
    for i in range(35):
        if i % 7 == 5:
            status, ctype = 404, "text/html"
        elif i % 7 == 6:
            status, ctype = 200, "application/pdf"
        else:
            status, ctype = 200, "text/html; charset=utf-8"
        recs.append(
            {
                "type": "response",
                "url": f"https://w{i % 4}.example.com/p/{i}",
                "date": f"2024-04-01T00:00:{i % 60:02d}Z",
                "http_status": status,
                "content_type": ctype,
                "body": wrap_html_py(
                    f"alpha beta {i} gamma delta"
                ).encode(),
            }
        )
        recs.append(
            {
                "type": "request",
                "url": f"https://w{i % 4}.example.com/p/{i}",
                "date": f"2024-04-01T00:00:{i % 60:02d}Z",
                "body": b"GET",
            }
        )
    blob = encode_warc(recs, gzip_members=True)
    files = fast_local_df(spark, 
        [(0, bytearray(blob))], "file_id bigint, payload binary"
    )
    pages = parse_warc_records(files)
    kept = pages.where(
        (F.col("record_type") == "response")
        & (F.col("http_status") == 200)
        & F.col("content_type").startswith("text/html")
    )
    return (
        kept.select(
            "url",
            extract_text(F.col("html").cast("string")).alias("text"),
        )
        .withColumn("n_chars", F.length("text").cast("long"))
        .orderBy("url")
    )


def q_split_sentences(spark, sf):
    # rule-based sentence segmentation under a FULL value oracle: one
    # pinned RE2-AND-Java-compatible pattern (no lookbehind), trim +
    # empty-drop, 0-based ordinals — DuckDB replays the identical
    # regexp over the documents table, so segmentation, ordering and
    # trim semantics are all value-checked on real corpus text.
    from hll_spark.operators.text import split_sentences

    docs = _t(spark, sf, "documents")
    return split_sentences(docs, "text", "doc_id").orderBy(
        "doc_id", "sentence_no"
    )


def q_page_meta(spark, sf):
    # html metadata sidecar under a FULL value oracle: 30 closed-form
    # pages exercising case-insensitive tags, absent fields ('' — the
    # pinned no-match value), and single-quoted attributes that must
    # NOT match the double-quote-pinned patterns; DuckDB rebuilds the
    # same html strings and applies the identical RE2 patterns.
    from hll_spark.operators.extract import extract_page_meta

    rows = []
    for i in range(30):
        title = (
            ""
            if i % 5 == 0
            else (
                f"<TITLE>Doc {i}</TITLE>"
                if i % 7 == 0
                else f"<title>Doc {i}</title>"
            )
        )
        desc = (
            f"<meta name='description' content='skip {i}'>"
            if i % 4 == 0
            else f'<meta name="description" content="desc {i}">'
        )
        html = (
            f'<html lang="en-{i % 3}"><head>{title}{desc}'
            f'<link rel="canonical" href="https://c.example.com/{i}">'
            f"</head><body>body {i}</body></html>"
        )
        rows.append((i, html))
    pages = fast_local_df(spark, rows, "page_id bigint, html string")
    return (
        extract_page_meta(pages, "html")
        .select(
            "page_id", "title", "meta_description", "html_lang",
            "canonical_url",
        )
        .orderBy("page_id")
    )


def q_pseudonymize_docs(spark, sf):
    # GDPR-style keyed pseudonymization under a FULL value oracle:
    # sha256(secret:col:value) tokens are pure JVM builtins, so DuckDB
    # reproduces every token byte-for-byte — determinism, column
    # salting and null passthrough all in one hash. Join-stability and
    # secret separation are pinned in test_privacy.py.
    from hll_spark.operators.privacy import pseudonymize

    docs = _t(spark, sf, "documents").select("doc_id", "source", "lang")
    return pseudonymize(docs, ["source"], secret="fixture-secret").orderBy(
        "doc_id"
    )


def q_k_anonymity_orders(spark, sf):
    # the k-anonymity release gate as ONE map-side-combined aggregate:
    # group sizes over the quasi-identifier combo, groups/rows below
    # k, min group size and the verdict — mirrored literally in SQL.
    from hll_spark.operators.privacy import k_anonymity_report

    orders = _t(spark, sf, "orders")
    return k_anonymity_report(
        orders, ["o_orderstatus", "o_orderpriority"], k=1000
    )


def q_robots_filter(spark, sf):
    # robots.txt politeness under a FULL value oracle: three literal
    # robots bodies (multi-group, comments, empty-Disallow allow-all
    # marker, non-star groups to ignore) parse through parse_robots,
    # and 60 closed-form urls pass robots_filter's longest-prefix
    # election (ties -> Allow). DuckDB replays the RESULTING rule
    # table literally and the same election as max(len*2 + allow) —
    # parity proves the parser produced exactly those rules AND the
    # election math. Cases exercised: allow overriding a shorter
    # disallow, equal-length tie-break, rule-less host, host absent
    # from the robots table.
    from hll_spark.operators.crawl import parse_robots, robots_filter

    bodies = [
        (
            "h0.example.com",
            "# fixture\n"
            "User-agent: Googlebot\n"
            "Disallow: /secret/\n"
            "\n"
            "User-agent: *\n"
            "DISALLOW: /p1\n"
            "Allow: /p1/x44\n"
            "Disallow: /p2/\n"
            "Allow: /p2/\n",
        ),
        (
            "h1.example.com",
            "User-agent: *\nDisallow:\n\nUser-agent: badbot\nDisallow: /\n",
        ),
        (
            "h2.example.com",
            "User-agent: x\nUser-agent: *\nDisallow: /p3\nDisallow: /p4\n",
        ),
    ]
    robots = fast_local_df(spark, bodies, "host string, body string")
    rules = parse_robots(robots, "host", "body")
    urls = spark.range(60).select(
        F.concat(
            F.lit("https://h"),
            (F.col("id") % 4).cast("string"),
            F.lit(".example.com/p"),
            ((F.col("id") / 4).cast("long") % 10).cast("string"),
            F.lit("/x"),
            F.col("id").cast("string"),
        ).alias("url")
    )
    return robots_filter(urls, rules).orderBy("url")


def q_host_pagerank(spark, sf):
    # Link-graph domain ranking under a FULL value oracle: 60 html
    # docs with 3 closed-form hrefs each (src host i%9, dst host
    # (i*5+j*7+1)%9) flow through extract_links (JVM regexp) ->
    # host_link_graph (canonical hosts, self-loops dropped, weighted)
    # -> 3 iterations of EXACT INTEGER micro-unit PageRank. DuckDB
    # rebuilds the edge list from the formulas and unrolls the three
    # iterations as CTEs with the same truncating integer divisions —
    # bitwise equality is the operator's determinism contract, so a
    # single value hash checks extraction, graph build and every
    # arithmetic step at once.
    from hll_spark.operators.graph import (
        extract_links,
        host_link_graph,
        pagerank_hosts,
    )

    rows = []
    for i in range(60):
        hrefs = "".join(
            f'<a href="https://h{(i * 5 + j * 7 + 1) % 9}.example.com/x">l</a>'
            for j in range(3)
        )
        rows.append(
            (f"https://h{i % 9}.example.com/p/{i}", f"<html>{hrefs}</html>")
        )
    docs = fast_local_df(spark, rows, "url string, html string")
    g = host_link_graph(extract_links(docs, "html", "url"))
    return pagerank_hosts(g, iterations=3).orderBy("host")


def q_warc_ingest(spark, sf):
    # WARC ingestion (ISO 28500 / Common Crawl layout) under a FULL
    # value oracle: 3 archive blobs (one with per-record gzip members
    # — the actual CC layout) of closed-form response records; the
    # distributed parse (sources/warc.py, mapInPandas over the binary
    # column — the same kernel read_warc feeds from binaryFile) must
    # reproduce url, timestamp, HTTP status, content type, byte length
    # and body md5 exactly as DuckDB recomputes them from the
    # generation formulas. Framing, gzip member handling, HTTP header
    # split and payload slicing are all value-checked.
    from hll_spark.sources.warc import encode_warc, parse_warc_records

    blobs = []
    for b in range(3):
        recs = [
            {
                "type": "warcinfo",
                "date": "2024-03-01T00:00:00Z",
                "body": b"software: fixture",
            }
        ]
        for i in range(b * 15, b * 15 + 15):
            recs.append(
                {
                    "type": "response",
                    "url": f"https://host{i % 7}.example.com/p/{i}",
                    "date": f"2024-03-01T00:00:{i % 60:02d}Z",
                    "http_status": 200 + (i % 3) * 100,
                    "content_type": "text/html",
                    "body": (
                        f"<html><body>payload-{i}-"
                        + "ab" * (i % 9)
                        + "</body></html>"
                    ).encode(),
                }
            )
        blobs.append(
            (b, bytearray(encode_warc(recs, gzip_members=(b == 1))))
        )
    files = fast_local_df(spark, blobs, "file_id bigint, payload binary")
    pages = parse_warc_records(files)
    return (
        pages.where(F.col("record_type") == "response")
        .select(
            "url",
            "warc_ts",
            "http_status",
            "content_type",
            F.length("html").cast("long").alias("n_bytes"),
            F.md5(F.col("html")).alias("body_md5"),
        )
        .orderBy("url")
    )


def q_audio_dup_pairs(spark, sf):
    # Audio near-dup under a FULL value oracle, the WAV twin of
    # image_dup_pairs_parity: 30 PCM clips of 650 int16 samples with
    # sample(t) = ((p*13 + t^2*((p%5)+2)) % 211) - 100, p = id % 20,
    # so ids 20..29 are sample-exact clones of 0..9 and all 20
    # distinct clips get distinct fingerprints (truth set = the 10
    # clone pairs). 650 = 65 equal windows of 10, so every
    # energy-comparison bit is closed-form; DuckDB replays |sample|
    # window sums, packs the u64 in HUGEINT, and brute-force
    # enumerates all pairs — decode, integer energy convention,
    # packing and banding recall all value-checked.
    import numpy as np

    from hll_spark.operators.dedup import audio_dup_pairs
    from hll_spark.operators.multimodal import encode_wav

    t = np.arange(650)
    rows = []
    for i in range(30):
        p = i % 20
        s = (((p * 13 + t * t * ((p % 5) + 2)) % 211) - 100).astype(np.int16)
        rows.append((i, bytearray(encode_wav(s))))
    media = fast_local_df(spark, rows, "media_id bigint, payload binary")
    return audio_dup_pairs(
        media, "payload", "media_id", max_hamming=6
    ).orderBy("id_a", "id_b")


def q_salted_join_brand_volume(spark, sf):
    # Skew-aware join EXECUTOR under a full value oracle: salted_join
    # (operators/relational.py) is the plan join_plan_report recommends
    # when one key owns a shuffle partition — left rows of the hot keys
    # fan out over (key, salt) reducer cells, the right hot rows
    # replicate across salts, cold keys take the ordinary hash join.
    # Result must equal the plain equi-join row-for-row, which the
    # DuckDB oracle pins via the per-brand aggregate of the FULL join
    # output. Hot keys are explicit literals here (TPC-H partkeys are
    # uniform); auto-detection via Misra-Gries is covered in
    # test_salted_join.py on a constructed 60%-skew corpus.
    from hll_spark.operators.relational import salted_join

    li = _t(spark, sf, "lineitem").select(
        F.col("l_partkey").alias("partkey"), "l_quantity", "l_extendedprice"
    )
    part = _t(spark, sf, "part").select(
        F.col("p_partkey").alias("partkey"), "p_brand"
    )
    joined = salted_join(li, part, "partkey", hot_keys=[1, 2, 3, 4, 5], salt=8)
    return (
        joined.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("l_quantity").alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_price"),
        )
        .orderBy("p_brand")
    )


def q_profile_orders_columns(spark, sf):
    # ANALYZE-TABLE-style column profiling from ONE pruned scan
    # (operators/diagnostics.profile_table): per-column exact
    # counts/extrema/length plus HLL distinct and Misra-Gries top
    # values — every estimator in its exact regime here (EXPLICIT-tier
    # HLL on 3- and 5-value columns; mg_k=16 >= distinct so counts are
    # exact and the error bound is 0), which makes the full row
    # value-oracle-able in SQL. Top values render as a canonical
    # "v:c,v:c" string ordered (count desc, value asc) in both engines.
    from hll_spark.operators.diagnostics import profile_table

    prof = profile_table(
        _t(spark, sf, "orders"),
        columns=["o_orderstatus", "o_orderpriority"],
        mg_k=16,
        top_n=3,
        quantiles=(),
    )
    return prof.select(
        "col_name",
        "n_rows",
        "n_null",
        F.col("n_distinct_est").alias("n_distinct"),
        "min_str",
        "max_str",
        "total_len",
        F.concat_ws(
            ",",
            F.zip_with(
                "top_values",
                "top_counts",
                lambda v, c: F.concat(v, F.lit(":"), c.cast("string")),
            ),
        ).alias("top3"),
    )


def q_fk_discovery_tpch(spark, sf):
    # cross-table key-containment / FK discovery
    # (operators/diagnostics.fk_containment_report): one theta sketch
    # per column, every ordered pair answered from the blob frame.
    # k=65536 keeps all four columns exact at driver scale, so the
    # whole report — distincts, intersections, containment ratios and
    # the FK verdicts — is value-oracle-able in SQL. Expected verdicts:
    # o_custkey ⊆ c_custkey and l_orderkey = o_orderkey (true FKs,
    # containment 1.0 both ways on the order keys since every TPC-H
    # order has lineitems), c_custkey ⊄ o_custkey (customers without
    # orders exist).
    from hll_spark.operators.diagnostics import fk_containment_report

    return fk_containment_report(
        [
            (_t(spark, sf, "customer"), "c_custkey", "customer.c_custkey"),
            (_t(spark, sf, "orders"), "o_custkey", "orders.o_custkey"),
            (_t(spark, sf, "orders"), "o_orderkey", "orders.o_orderkey"),
            (_t(spark, sf, "lineitem"), "l_orderkey", "lineitem.l_orderkey"),
        ],
        k=65536,
    )


def q_hll_overlap_events(spark, sf):
    # all-pairs audience overlap from ONE scan
    # (operators/agg.hll_overlap_matrix): one HLL sketch per
    # event_type, every unordered pair's union / inclusion-exclusion
    # intersection / Jaccard answered from the 5-row blob frame.
    # EXACT_CFG keeps every group and every pairwise union in the
    # EXPLICIT tier at driver scale, so the whole 10-row matrix is
    # value-oracle-able against exact SQL set arithmetic.
    from hll_spark.operators.agg import hll_overlap_matrix

    return hll_overlap_matrix(
        _t(spark, sf, "events"), "user_id", "event_type", cfg=EXACT_CFG
    ).orderBy("g_a", "g_b")


def q_theta_overlap_orders(spark, sf):
    # theta edition of the overlap matrix
    # (operators/sketches.theta_overlap_matrix): same one-scan grouped
    # build, but the intersection is the DIRECT common-theta estimate
    # whose error scales with the overlap instead of compounding three
    # inclusion-exclusion terms. k=65536 holds every o_orderpriority
    # group's custkey set and every pairwise union exact at driver
    # scale -> full value oracle.
    from hll_spark.operators.sketches import theta_overlap_matrix

    return theta_overlap_matrix(
        _t(spark, sf, "orders"), "o_custkey", "o_orderpriority", k=65536
    ).orderBy("g_a", "g_b")


def q_chunk_documents(spark, sf):
    # context-length chunking (operators/packing.chunk_documents):
    # every doc split into 64-token chunks with a 16-token overlap
    # carried between neighbours (stride 48). Pure JVM builtins —
    # split -> sequence of starts -> posexplode -> slice/array_join —
    # zero shuffles, so the whole operator is whole-stage codegen over
    # the one scan. Fully deterministic -> exact DuckDB mirror.
    from hll_spark.operators.packing import chunk_documents

    return chunk_documents(
        _t(spark, sf, "documents"),
        "text",
        "doc_id",
        max_tokens=64,
        overlap=16,
    )


def q_bm25_retrieval_documents(spark, sf):
    # BM25 query->document retrieval (operators/vocab.bm25_retrieve):
    # top-5 documents for three fixed queries under the quantized
    # log-free scoring (per-term floor(idf*tfn*1e9) as BIGINT, summed
    # — bit-exact cross-engine, see the operator docstring). Corpus
    # pass is ONE scan; exploded tokens are pruned by a broadcast
    # join against the query vocabulary BEFORE the tf shuffle.
    from hll_spark.operators.vocab import bm25_retrieve

    queries = fast_local_df(spark, 
        [(0, "hash join"), (1, "window agg stream"),
         (2, "vector column scan")],
        "query_id long, qtext string",
    )
    return bm25_retrieve(
        _t(spark, sf, "documents"), queries, k=5
    )


def q_ams_join_size_orders(spark, sf):
    # Fast-AMS join-size estimation (sketchlib/ams.py): price
    # |orders JOIN customer ON custkey| WITHOUT running the join —
    # inner product of the two sides' count-sketches; only KB-sized
    # blobs ever shuffle. Registered rows-only (the estimator is
    # probabilistic by construction — no exact regime exists);
    # accuracy is bound-asserted in tests/test_ams.py (4-sigma on
    # this exact shape: test_ams_join_size_spark) and the returned
    # within_4_sigma flag re-checks it against the exact join size
    # at driver SF.
    from hll_spark.operators.sketches import ams_join_size

    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    est = ams_join_size(
        orders, "o_custkey", cust, "c_custkey", depth=7, width=1024
    )
    exact = orders.join(
        cust, orders["o_custkey"] == cust["c_custkey"]
    ).count()
    return est.select(
        "rows_left",
        "rows_right",
        (F.abs(F.col("est_join_rows") - F.lit(float(exact)))
         <= 4 * F.col("sigma")).alias("within_4_sigma"),
    )


def q_join_plan_orders_lineitem(spark, sf):
    # sketch-driven join planning (diagnostics.join_plan_report): one
    # row pricing lineitem JOIN orders from three sketch passes (AMS
    # join size, MG heaviest-key shares) — the 100 TB pre-shuffle
    # measurement. Estimate columns are probabilistic (rows-only;
    # bounds in test_ams.py::test_join_plan_report_recommendations);
    # the sizes/recommendation columns returned here are
    # deterministic at driver SF (both sides under the broadcast
    # threshold default -> 'broadcast_right' is stable).
    from hll_spark.operators.diagnostics import join_plan_report

    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders")
    rep = join_plan_report(li, orders, "l_orderkey", "o_orderkey")
    return rep.select(
        "rows_left", "rows_right", "recommendation",
        (F.col("est_join_rows") > 0).alias("est_positive"),
    )


# ---------------------------------------------------------------------------
# queries — text analysis / multimodal plumbing


def q_token_counts_documents(spark, sf):
    docs = _t(spark, sf, "documents")
    return docs.select("doc_id", token_count("text").alias("n_tokens"))


def q_text_quality_documents(spark, sf):
    docs = _t(spark, sf, "documents")
    return docs.select(
        "doc_id",
        char_count("text").alias("n_chars_text"),
        F.round(punct_ratio("text"), 6).alias("punct_ratio"),
    )


def q_lang_id_documents(spark, sf):
    docs = _t(spark, sf, "documents")
    return detect_language(docs).select("doc_id", "lang_pred")


def q_fingerprint_documents(spark, sf):
    return fingerprint_documents(_t(spark, sf, "documents")).select(
        "doc_id", "fingerprint"
    )


def q_clean_corpus_stats(spark, sf):
    # END-TO-END cleaning pipeline (exact dedup -> Gopher + quality
    # gates -> near-dup removal), checked against a full DuckDB
    # re-implementation — a composition-level correctness gate
    from hll_spark.operators.pipeline import clean_corpus

    final = clean_corpus(_t(spark, sf, "documents"))
    return final.agg(
        F.count("*").alias("n_clean"),
        F.countDistinct("lang").alias("n_langs"),
    )


def q_gopher_metrics_documents(spark, sf):
    # Gopher-rule repetition/quality metrics (JVM-expressible subset —
    # exact oracle; the top-bigram metric is pandas-UDF-backed and
    # covered by pytest instead)
    from hll_spark.operators.text import (
        duplicate_line_fraction,
        mean_word_length,
        symbol_word_ratio,
    )

    docs = _t(spark, sf, "documents")
    return docs.select(
        "doc_id",
        F.round(duplicate_line_fraction("text"), 6).alias("dup_line_frac"),
        F.round(symbol_word_ratio("text"), 6).alias("symbol_word_ratio"),
        F.round(mean_word_length("text"), 6).alias("mean_word_len"),
    )


def q_pii_scrub_documents(spark, sf):
    # PII redaction (emails / IPv4 / long digit runs) — JVM regexp
    # chains, codegen'd; PII spans injected deterministically from
    # doc_id so the oracle reproduces them exactly (patterns are
    # RE2-compatible on purpose: identical under Java regex and DuckDB)
    from hll_spark.operators.text import pii_match_count, scrub_pii

    docs = _t(spark, sf, "documents")
    raw = F.concat(
        F.lit("reach user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or 10.0.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(" num 4111 1111 1111 1111 "), F.col("text"),
    )
    return docs.select(
        "doc_id",
        F.length(scrub_pii(raw)).cast("long").alias("clean_len"),
        pii_match_count(raw, "email").cast("long").alias("n_emails"),
    )


def q_media_metadata_documents(spark, sf):
    # documents' text bytes standing in as an opaque media payload column
    docs = _t(spark, sf, "documents")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.length(F.col("text").cast("binary")).cast("long").alias("n_bytes"),
        F.sha2(F.col("text").cast("binary"), 256).alias("content_sha256"),
    )


def q_media_features_documents(spark, sf):
    docs = _t(spark, sf, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.lit("text").alias("kind"),
        F.col("text").cast("binary").alias("payload"),
    )
    return extract_media_features(docs).select("media_id", "n_bytes")


def q_decoded_media_stats(spark, sf):
    # REAL pixel/sample decode under the oracle: 20 grayscale PNGs
    # (pixel(y,x) = (id*7 + y*8 + x) % 251, 8x6, encoder rotates all 5
    # PNG filter types) and 10 16-bit PCM WAVs (sample(t) =
    # (id*13 + t) % 211 - 100, 50 samples) are synthesized
    # deterministically; mapInPandas decodes them in-partition and the
    # DuckDB oracle recomputes count+sum in closed form from the same
    # formulas — content-level proof of decode_media, not just headers.
    import numpy as np

    from hll_spark.operators.multimodal import (
        encode_png,
        encode_wav,
        media_sample_stats,
    )

    rows = []
    y, x = np.mgrid[0:6, 0:8]
    for i in range(20):
        img = ((i * 7 + y * 8 + x) % 251).astype(np.uint8)
        rows.append((i, "image", bytearray(encode_png(img))))
    t = np.arange(50)
    for j in range(10):
        mid = 100 + j
        s = ((mid * 13 + t) % 211 - 100).astype(np.int16)
        rows.append((mid, "audio", bytearray(encode_wav(s))))
    # r3: 10 palette GIFs (16 colors, palette[k] = (3k, 3k+1, 3k+2) so
    # the per-pixel RGB contribution is 9*idx + 3 in closed form)
    from hll_spark.operators.multimodal import encode_gif

    gy, gx = np.mgrid[0:5, 0:7]
    pal = np.stack(
        [3 * np.arange(16), 3 * np.arange(16) + 1, 3 * np.arange(16) + 2],
        axis=1,
    ).astype(np.uint8)
    for g in range(10):
        gid = 200 + g
        gidx = ((gid + gy * 7 + gx) % 16).astype(np.uint8)
        rows.append((gid, "image", bytearray(encode_gif(gidx, pal))))
    # r3: 6 constant-128 JPEGs (all DCT coefficients are zero, so the
    # decode is bit-exact at any quality — proves the whole baseline
    # entropy/DCT path end to end in closed form). Sizes vary; odd
    # sizes exercise MCU padding+crop, subsample the 4:2:0 path.
    from hll_spark.operators.jpegcodec import encode_jpeg

    for j, (jh, jw, qq, sub) in enumerate(
        [(8, 8, 90, False), (9, 7, 50, False), (16, 16, 75, True),
         (17, 13, 90, True), (24, 5, 10, False), (3, 30, 100, True)]
    ):
        jimg = np.full((jh, jw, 3), 128, dtype=np.uint8)
        rows.append(
            (300 + j, "image",
             bytearray(encode_jpeg(jimg, qq, subsample=sub)))
        )
    # r3: 3 constant-128 MJPEG AVIs (REAL video decode: RIFF walk +
    # per-frame baseline JPEG; constant frames keep it bit-exact)
    from hll_spark.operators.multimodal import encode_avi_mjpeg

    for v, (nf, vh, vw) in enumerate([(2, 8, 8), (4, 9, 6), (3, 5, 11)]):
        vid = np.full((nf, vh, vw, 3), 128, dtype=np.uint8)
        rows.append(
            (400 + v, "video", bytearray(encode_avi_mjpeg(vid, fps=5)))
        )
    media = fast_local_df(spark, 
        rows, "media_id long, kind string, payload binary"
    ).repartition(4)
    return media_sample_stats(media)


# ---------------------------------------------------------------------------
# queries — relational coverage (Spark built-ins; Catalyst does the work)


def _sum_cents(col: str):
    """Exact-integer equivalent of
    ``CAST(SUM(CAST(col AS DECIMAL(18,2))) AS DOUBLE)`` for the
    cents-valued money columns of the TPC-H-ish fixtures (every value
    is exactly n/100 — asserted per-row over sf0.1 AND sf1.0 in the r6
    measurement log, and bit-equality of the aggregates was verified at
    both scales). ``floor(x*100 + 0.5)`` recovers the integer cents
    without the per-row ``BigDecimal(Double.toString)`` allocation the
    decimal cast pays, longs sum in pure codegen (r6: 2.0s -> 0.3s on
    the sf1.0 lineitem aggregate, guide §2.3 "narrower types"), and the
    final ``/100.0`` is IEEE-exact to the decimal route because long
    sums below 2^53 are exact doubles and division is correctly
    rounded. Overflow headroom: long cents overflow at 9.2e18 — ~4x
    MORE headroom than the decimal(28,2) route's exactness, holding to
    ~10^5 x TPC-H sf100k (the 100 TB point)."""
    return F.sum(F.floor(F.col(col) * 100 + F.lit(0.5)).cast("long")) / 100.0


def q_pricing_summary(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _sum_cents("l_quantity").alias("sum_qty"),
            _sum_cents("l_extendedprice").alias("sum_base_price"),
            F.count("*").alias("count_order"),
        )
    )


def q_join_mktsegment_orders(spark, sf):
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    return (
        orders.join(F.broadcast(cust),
                    orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            _sum_cents("o_totalprice").alias("sum_totalprice"),
        )
    )


def q_window_top_order_per_cust(spark, sf):
    # ROW_NUMBER()=1 per key with (price DESC, orderkey ASC) ordering is
    # exactly an argmax: max_by over the struct (o_totalprice,
    # -o_orderkey) picks the same single row per customer (orderkeys are
    # unique, so the struct order is total). Unlike the window form this
    # aggregates map-side — one struct per (custkey, partition) crosses
    # the shuffle instead of every order row, and no per-partition sort
    # (guide §2.3 "aggregate before you shuffle").
    orders = _t(spark, sf, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.max_by(
                "o_orderkey",
                F.struct(
                    F.col("o_totalprice"),
                    (-F.col("o_orderkey")).alias("__nk"),
                ),
            ).alias("o_orderkey")
        )
        .select("o_custkey", "o_orderkey")
    )


def q_customers_without_orders(spark, sf):
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey")


def q_asof_last_order(spark, sf):
    # as-of join: latest order date at or before each event, per user
    events = _t(spark, sf, "events").select("event_id", "user_id", "ts")
    orders = _t(spark, sf, "orders").withColumnRenamed("o_custkey", "user_id")
    joined = asof_join(
        events, orders, on="user_id", left_ts="ts", right_ts="o_orderdate",
        right_cols=[],
    )
    return joined.select("event_id", "asof_o_orderdate")


def q_session_counts(spark, sf):
    return session_counts(_t(spark, sf, "events"), "user_id", "ts",
                          gap_seconds=86400)


def q_range_join_value_bands(spark, sf):
    # point-in-interval join WITHOUT a nested loop: binned range join
    # (sequence+explode interval replication -> hash equi-join on the
    # bin -> exact predicate). Spark's native plan for this predicate
    # is BroadcastNestedLoopJoin, O(|L|x|R|). Aggregated per band so
    # the oracle hash gates the full pair set via count + id checksum.
    from hll_spark.operators.relational import range_join

    events = _t(spark, sf, "events").select("event_id", "value")
    bands = _t(spark, sf, "nation").select(
        F.col("n_nationkey").alias("band_id"),
        (F.col("n_nationkey") * 3.0).alias("lo"),
        (F.col("n_nationkey") * 3.0 + 2.0).alias("hi"),
    )
    joined = range_join(events, bands, "value", "lo", "hi", bin_width=2.0)
    return joined.groupBy("band_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("event_id").alias("sum_event_id"),
    )


def q_customers_with_orders_semi(spark, sf):
    # LEFT SEMI join (exists-style, no row multiplication from the
    # right side), aggregated per segment so the oracle is compact
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders").select("o_custkey")
    return (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left_semi")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("c_custkey").alias("sum_custkey"),
        )
    )


def q_window_event_neighbors(spark, sf):
    # window-function depth beyond row_number: lag/lead, rank with ties,
    # and a running ROWS-frame sum, all over one deterministic ordering
    # (ts with event_id tiebreak). Integer outputs only — float running
    # sums would be accumulation-order-hashable but fragile.
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wv = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    events = _t(spark, sf, "events")
    out = events.select(
        "user_id",
        "event_id",
        F.lag("event_id").over(w).alias("prev_event_id"),
        F.lead("event_id").over(w).alias("next_event_id"),
        F.row_number().over(w).alias("seq"),
        F.sum("event_id")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("running_sum"),
        F.rank().over(wv).alias("value_rank"),
    )
    # keep the driver compare bounded: only the first 3 events per user
    return out.where(F.col("seq") <= 3)


def q_cube_event_stats(spark, sf):
    # CUBE grouping sets (Catalyst Expand operator): all 4 grouping
    # combinations in one scan. Rolled-up cells are disambiguated with
    # sentinels (not NULLs) so the oracle hash is deterministic.
    events = _t(spark, sf, "events").withColumn(
        "cohort", F.pmod(F.col("user_id"), F.lit(5))
    )
    cube = events.cube("event_type", "cohort").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").alias("sum_event_id"),
    )
    return cube.select(
        F.coalesce(F.col("event_type"), F.lit("(all)")).alias("event_type"),
        F.coalesce(F.col("cohort"), F.lit(-1)).alias("cohort"),
        "n",
        "sum_event_id",
    )


def q_unpivot_doc_metrics(spark, sf):
    # UNPIVOT (melt): wide per-doc metrics to long (metric, value) rows
    # via Catalyst's unpivot operator — the inverse of pivot, used to
    # feed generic per-metric aggregations without N separate scans
    docs = _t(spark, sf, "documents")
    wide = docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_text"),
        F.col("n_chars").cast("long").alias("n_chars_meta"),
        F.when(F.length(F.trim(F.col("text"))) == 0, F.lit(0))
        .otherwise(F.size(F.split(F.trim(F.col("text")), r"\s+")))
        .cast("long")
        .alias("n_tokens"),
    )
    long = wide.unpivot(
        "doc_id", ["n_chars_text", "n_chars_meta", "n_tokens"],
        "metric", "value",
    )
    return long.groupBy("metric").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("total"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )


def q_distinct_urls_by_host(spark, sf):
    # composition of the two r3 web operators under one oracle: messy
    # synthesized urls -> normalize_url -> url_host -> grouped distinct
    # normalized urls per host via the HLL scaffold (EXACT tier: per-
    # host distincts stay inside the EXPLICIT threshold at oracle SF)
    from hll_spark.operators.agg import hll_distinct
    from hll_spark.operators.url import normalize_url, url_host

    d = F.col("doc_id").cast("string")
    messy = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("HTTP")).otherwise(F.lit("http")),
        F.lit("://Host-"), F.col("source"), F.lit(".Example.COM"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(":80")).otherwise(F.lit("")),
        F.lit("/Path/"), d,
        F.when(F.col("doc_id") % 2 == 0, F.lit("#f")).otherwise(F.lit("")),
    )
    docs = _t(spark, sf, "documents").select(
        normalize_url(messy).alias("norm_url"),
        url_host(messy).alias("host"),
    )
    return hll_distinct(
        docs, "norm_url", by=["host"], cfg=EXACT_CFG, alias="n_urls"
    )


def q_pivot_event_type_by_cohort(spark, sf):
    # PIVOT: wide per-cohort counts by event type (Catalyst pivot
    # operator; missing cells coalesced to 0 to match SQL semantics)
    events = _t(spark, sf, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    piv = (
        events.withColumn("cohort", F.pmod(F.col("user_id"), F.lit(10)))
        .groupBy("cohort")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "cohort",
        *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in types],
    )


def q_json_props_stats(spark, sf):
    # semi-structured extraction: per-type stats over a JSON props
    # column — get_json_object stays JVM-side (codegen'd path)
    events = _t(spark, sf, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        events.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.count(F.when(F.col("k") > 50, 1)).alias("n_high"),
        )
    )


def q_exact_quantiles_price(spark, sf):
    # exact group-wise continuous percentiles (the baseline the KLL /
    # t-digest sketch paths approximate; Spark and DuckDB share the
    # linear-interpolation definition)
    li = _t(spark, sf, "lineitem")
    # ONE percentile aggregate over the array of quantiles (single sort
    # per group) instead of three independent percentile aggregates
    pct = F.percentile(
        "l_extendedprice", F.array(F.lit(0.25), F.lit(0.50), F.lit(0.75))
    )
    return (
        li.groupBy("l_returnflag")
        .agg(pct.alias("ps"))
        .select(
            "l_returnflag",
            F.round(F.col("ps")[0], 4).alias("p25"),
            F.round(F.col("ps")[1], 4).alias("p50"),
            F.round(F.col("ps")[2], 4).alias("p75"),
        )
    )


def q_consistent_sample_events(spark, sf):
    # deterministic hash-based sampling (join-stable across tables);
    # xxhash64 is not reproducible in DuckDB, so registered rows-only —
    # determinism/consistency/nesting are pytest-asserted
    from hll_spark.operators.relational import consistent_sample

    ev = consistent_sample(_t(spark, sf, "events"), "user_id", 0.1)
    return ev.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
    )


def q_consistent_sample_parity(spark, sf):
    # the PORTABLE deterministic sampler (md5-prefix threshold,
    # sampling.consistent_sample_portable): same key-consistency
    # contract as consistent_sample_events, but the membership
    # predicate is engine-portable, so the EXACT kept row set is
    # driver-verified against DuckDB — closing the rows-only gap the
    # xxhash64 variant can't (that one stays registered for the
    # faster Spark-only path)
    from hll_spark.operators.sampling import consistent_sample_portable

    ev = _t(spark, sf, "events")
    return consistent_sample_portable(ev, "user_id", 0.1).select(
        "event_id", "user_id", "event_type"
    )


def q_temperature_resample_docs(spark, sf):
    # domain-mixture temperature resampling (alpha=0.5, overall rate
    # 0.5) over the skewed lang column: rare langs upweighted, en
    # downweighted, per-domain keep rates + the exact kept row set
    # both reproduced by the DuckDB oracle
    from hll_spark.operators.sampling import temperature_resample

    docs = _t(spark, sf, "documents")
    out = temperature_resample(
        docs, "lang", "doc_id", alpha=0.5, target_frac=0.5
    )
    return out.select(
        "doc_id", "lang", "source", "sample_rate", "domain_rows"
    )


def q_latest_crawl_parity(spark, sf):
    # recrawl dedup (crawl.latest_crawl): ~3 synthetic crawl
    # snapshots per url derived from documents, newest fetch wins,
    # ties on warc_ts broken by fetch_id — via ONE map-side-combining
    # max(struct) aggregate, deliberately not a row_number window, so
    # a heavily recrawled url costs the shuffle one row. The exact
    # surviving (url, warc_ts, fetch_id, lang) set is value-checked.
    from hll_spark.operators.crawl import latest_crawl

    docs = _t(spark, sf, "documents")
    crawls = docs.select(
        F.concat(
            F.lit("https://"), F.col("source"),
            F.lit(".example.com/doc/"),
            F.floor(F.col("doc_id") / 3).cast("string"),
        ).alias("url"),
        (F.col("doc_id") % 2).alias("warc_ts"),
        F.col("doc_id").alias("fetch_id"),
        F.col("lang"),
    )
    out = latest_crawl(crawls, "url", "warc_ts", tiebreak=["fetch_id"])
    return out.select("url", "warc_ts", "fetch_id", "lang")


def q_blocklist_filter_parity(spark, sf):
    # UT1-style domain blocklist (crawl.domain_blocklist_filter):
    # hosts synthesized from documents land under two TLD branches;
    # the blocklist mixes a registrable-domain entry (must drop every
    # subdomain) with an exact-host entry. Literal-array strategy:
    # arrays_overlap(host_suffixes(host), blocked) — whole-stage
    # codegen, zero shuffle. Exact kept row set value-checked under
    # the same suffix rule in SQL.
    from hll_spark.operators.crawl import domain_blocklist_filter

    docs = _t(spark, sf, "documents")
    host = F.concat(
        F.when(F.col("doc_id") % 3 == 0, F.lit("sub.")).otherwise(F.lit("")),
        F.col("source"),
        F.lit(".example."),
        F.when(F.col("doc_id") % 2 == 0, F.lit("com")).otherwise(F.lit("org")),
    )
    d = docs.select(F.col("doc_id"), host.alias("host"), F.col("lang"))
    out = domain_blocklist_filter(d, BLOCKLIST_DOMAINS, host_col="host")
    return out.select("doc_id", "host", "lang")


# shared between q_blocklist_filter_parity and its oracle: one
# registrable domain (drops the whole .org branch incl. sub.*) and one
# exact host (drops only src7's even/non-sub docs)
BLOCKLIST_DOMAINS = ["example.org", "src7.example.com"]


def _duckdb_blocklist_sql() -> str:
    from hll_spark.operators.crawl import duckdb_blocklist_verdict

    return duckdb_blocklist_verdict("host", BLOCKLIST_DOMAINS)


def q_cap_per_host_parity(spark, sf):
    # per-host quota (crawl.cap_per_key, prefilter method): keep at
    # most 5 docs per host, chosen by portable md5 order of (host,
    # doc_id, seed). At oracle SF each host holds 25 docs > 4n=20, so
    # every host takes the skew-proof hash-prefilter branch (candidate
    # cut + shortfall check) — the branch a hot host takes at 100 TB —
    # and the exact kept set is reproduced by the identical md5 rank
    # in DuckDB.
    from hll_spark.operators.crawl import cap_per_key

    docs = _t(spark, sf, "documents")
    d = docs.select(
        F.col("doc_id"), F.col("source").alias("host"), F.col("lang")
    )
    out = cap_per_key(d, "host", 5, "doc_id", seed=1, method="prefilter")
    return out.select("doc_id", "host", "lang")


def q_repetition_metrics_documents(spark, sf):
    # the remaining Gopher repetition battery (text.py): char-weighted
    # duplicate-paragraph fraction + duplicate word-n-gram fractions
    # (n=2, n=5) — all pure JVM higher-order array expressions, zero
    # shuffle, value-checked against DuckDB list lambdas
    from hll_spark.operators.scanutil import fan_out_scan
    from hll_spark.operators.text import (
        duplicate_ngram_fraction,
        duplicate_paragraph_fraction,
    )

    # the three per-row array-lambda batteries are the CPU cost here
    # and the single-row-group scan runs them one-core (guide §2.5)
    docs = fan_out_scan(_t(spark, sf, "documents"))
    return docs.select(
        "doc_id",
        F.round(duplicate_paragraph_fraction("text"), 6).alias(
            "dup_para_frac"
        ),
        F.round(duplicate_ngram_fraction("text", 2), 6).alias(
            "dup_2gram_frac"
        ),
        F.round(duplicate_ngram_fraction("text", 5), 6).alias(
            "dup_5gram_frac"
        ),
    )


def q_crawl_ingest_parity(spark, sf):
    # THE capstone composition: crawl ledger -> training corpus in one
    # chain (pipeline.crawl_ingest = latest_crawl -> domain blocklist
    # -> per-host cap -> clean_corpus), end-to-end against a single
    # DuckDB re-implementation. Two fetches per synthetic url (ts tie
    # impossible: fetch_id unique), blocklist drops the whole .org
    # branch, cap 3 docs/host by portable md5 rank, then exact dedup +
    # quality gates + 3-gram near-dup removal keyed by url.
    from hll_spark.operators.pipeline import crawl_ingest

    docs = _t(spark, sf, "documents")
    k = F.floor(F.col("doc_id") / 2)
    host = F.concat(
        F.when(k % 3 == 0, F.lit("sub.")).otherwise(F.lit("")),
        F.lit("h"), (k % 37).cast("string"), F.lit(".example."),
        F.when(k % 2 == 0, F.lit("com")).otherwise(F.lit("org")),
    )
    crawls = docs.select(
        F.concat(F.lit("https://"), host, F.lit("/doc/"),
                 k.cast("string")).alias("url"),
        (F.col("doc_id") % 2).alias("warc_ts"),
        F.col("doc_id").alias("fetch_id"),
        F.col("text"),
        F.col("lang"),
    )
    out = crawl_ingest(
        crawls,
        tiebreak=["fetch_id"],
        blocklist=["example.org"],
        host_cap=3,
        cap_seed=0,
        neardup_threshold=0.8,
    )
    return out.select("url", "warc_ts", "fetch_id", "lang")


def q_rollup_user_counts(spark, sf):
    # grouping-sets coverage: per-type + grand-total distinct users
    events = _t(spark, sf, "events")
    return events.rollup("event_type").agg(
        F.countDistinct("user_id").alias("distinct_users")
    )


def q_setop_partkeys_except(spark, sf):
    # set-operation coverage: early-shipped parts never shipped late
    li = _t(spark, sf, "lineitem")
    cut = F.lit("1998-06-01").cast("timestamp")
    early = li.where(F.col("l_shipdate") < cut).select("l_partkey").distinct()
    late = li.where(F.col("l_shipdate") >= cut).select("l_partkey").distinct()
    return early.exceptAll(late)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDERING CONTRACT (VERDICT r3 #1): the driver evaluates only the
    # FIRST 50 entries per round, so ordering is a rotation schedule,
    # not taxonomy.
    #
    # r5 window (VERDICT r4 "Next round" #1): positions 1-26 are the
    # 26 late-r4 queries that have NO driver CORRECTNESS row in any of
    # rounds 1-4 (they led the rotation tail last round, test-pinned).
    # The remaining window slots backfill with deliberate
    # RE-verification rows: the two no-oracle chain queries whose
    # semantics gained an end-to-end oracle this round via
    # curate_corpus_parity (curate_corpus_docs is the same chain on
    # the at-scale MinHash path; semdedup_keep_embeddings keeps its
    # ORACLE sibling semdedup_parity), then the r2-era ORACLE queries
    # (oldest driver evidence in the repo, last row two rounds ago),
    # then the highest-traffic r3-green operators
    # (extraction, streaming, checkpoint resume, salted HLL, core
    # sketch estimators). After this round every registered query has
    # at least one driver row — the rotation has fully converged
    # (QUERIES.md "Rotation policy" documents this and why redundant
    # rows-only siblings stay registered: they hold fixed slots in
    # bench.py's cross-round comparison suites).
    #
    # Window invariants (asserted in test_entry_contract.py): every
    # query with no driver row in rounds 1-4 sits in the first 26
    # slots, and the 24 re-verify slots match the pinned backfill list.
    return {
        # -- 1-27: never driver-checked in rounds 1-4 (curate_corpus_
        # parity is NEW this round: the end-to-end curation-chain
        # oracle, VERDICT r4 #4) ----------------------------------------
        "curate_corpus_parity": q_curate_corpus_parity,
        "minhash_join_parity": q_minhash_join_parity,
        "dedup_increment_parity": q_dedup_increment_parity,
        "countsketch_event_counts": q_countsketch_event_counts,
        "sliding_distinct_users": q_sliding_distinct_users,
        "kmeans_clusters_embeddings": q_kmeans_clusters_embeddings,
        "sliding_distinct_by_type": q_sliding_distinct_by_type,
        "salted_join_brand_volume": q_salted_join_brand_volume,
        "image_dup_pairs_parity": q_image_dup_pairs,
        "audio_dup_pairs_parity": q_audio_dup_pairs,
        "warc_ingest_parity": q_warc_ingest,
        "host_pagerank_parity": q_host_pagerank,
        "robots_filter_parity": q_robots_filter,
        "pseudonymize_docs": q_pseudonymize_docs,
        "k_anonymity_orders": q_k_anonymity_orders,
        "split_sentences_docs": q_split_sentences,
        "page_meta_parity": q_page_meta,
        "warc_corpus_parity": q_warc_corpus,
        "fix_mojibake_parity": q_fix_mojibake,
        "anchor_texts_parity": q_anchor_texts,
        "corpus_diff_orders": q_corpus_diff,
        "profile_orders_columns": q_profile_orders_columns,
        "fk_discovery_tpch": q_fk_discovery_tpch,
        "hll_overlap_events": q_hll_overlap_events,
        "theta_overlap_orders": q_theta_overlap_orders,
        "chunk_documents": q_chunk_documents,
        "bm25_retrieval_documents": q_bm25_retrieval_documents,
        # -- 27-50: pinned re-verify backfill ----------------------------
        # changed this round (oracle upgrades / ADVICE fixes):
        "curate_corpus_docs": q_curate_corpus_docs,
        "semdedup_keep_embeddings": q_semdedup_keep_embeddings,
        # r2-era ORACLE rows (oldest driver evidence, code untouched):
        "exact_quantiles_price": q_exact_quantiles_price,
        "session_counts": q_session_counts,
        "setop_partkeys_except": q_setop_partkeys_except,
        "asof_last_order": q_asof_last_order,
        "pricing_summary": q_pricing_summary,
        "join_mktsegment_orders": q_join_mktsegment_orders,
        "window_top_order_per_cust": q_window_top_order_per_cust,
        "customers_without_orders": q_customers_without_orders,
        "rollup_user_counts": q_rollup_user_counts,
        "json_props_stats": q_json_props_stats,
        "media_metadata_documents": q_media_metadata_documents,
        # highest-traffic r3-green operators (re-verified once more):
        "extract_text_pages": q_extract_text_pages,
        "extract_text_pages_arrow": q_extract_text_pages_arrow,
        "streaming_sink_distinct": q_streaming_sink_distinct,
        "mg_top_sources": q_mg_top_sources,
        "minhash_dedup_parity": q_minhash_dedup_parity,
        "hll_users_salted": q_hll_users_salted,
        "checkpoint_resume_estimate": q_checkpoint_resume_estimate,
        "hll_users_by_event_type": q_hll_users_by_event_type,
        "cms_event_type_counts": q_cms_event_type_counts,
        "bloom_fk_prefilter": q_bloom_fk_prefilter,
        # (embedding_dup_pairs_tight dropped from the backfill when
        # curate_corpus_parity claimed a window slot: r3 ORACLE green,
        # code only touched by the zero-norm guard, which its sf0.01
        # pytest oracle re-verifies every run)

        # -- rotation tail: r4-green (all 47 ORACLE/rows rows in
        # CORRECTNESS_r04, code untouched this round; each still runs
        # under tests/test_entry_contract.py's sf0.01 oracle mirror
        # every pytest) -------------------------------------------------
        "decoded_media_stats": q_decoded_media_stats,
        "range_join_value_bands": q_range_join_value_bands,
        "pivot_event_type_by_cohort": q_pivot_event_type_by_cohort,
        "decontaminate_documents": q_decontaminate_documents,
        "window_distinct_users_daily": q_window_distinct_users_daily,
        "shard_manifest_documents": q_shard_manifest_documents,
        "char_entropy_documents": q_char_entropy_documents,
        "fd_gram_by_label": q_fd_gram_by_label,
        "budget_mixture_by_lang": q_budget_mixture_by_lang,
        "embedding_dup_pairs": q_embedding_dup_pairs,
        "minhash_pairs_parity": q_minhash_pairs_parity,
        "simhash_pairs_parity": q_simhash_pairs_parity,
        "semdedup_parity": q_semdedup_parity,
        "lang_id_parity": q_lang_id_parity,
        "fingerprint_parity": q_fingerprint_parity,
        "pack_sequences_documents": q_pack_sequences_documents,
        "paragraph_dedup_parity": q_paragraph_dedup_parity,
        "lm_perplexity_documents": q_lm_perplexity_documents,
        "decontaminate_ngrams": q_decontaminate_ngrams,
        "decontaminate_bloom": q_decontaminate_bloom,
        "normalize_unicode_docs": q_normalize_unicode_docs,
        "dup_connected_components": q_dup_connected_components,
        "ivf_ann_parity": q_ivf_ann_parity,
        "lsh_ann_parity": q_lsh_ann_parity,
        "kll_quantiles_exact": q_kll_quantiles_exact,
        "consistent_sample_parity": q_consistent_sample_parity,
        "temperature_resample_docs": q_temperature_resample_docs,
        "latest_crawl_parity": q_latest_crawl_parity,
        "blocklist_filter_parity": q_blocklist_filter_parity,
        "cap_per_host_parity": q_cap_per_host_parity,
        "repetition_metrics_documents": q_repetition_metrics_documents,
        "ams_join_size_orders": q_ams_join_size_orders,
        "join_plan_orders_lineitem": q_join_plan_orders_lineitem,
        "theta_jaccard_partkeys": q_theta_jaccard_partkeys,
        "window_distinct_users_hopping": q_window_distinct_users_hopping,
        "dsir_importance_documents": q_dsir_importance_documents,
        "quality_classifier_parity": q_quality_classifier_parity,
        "token_budget_selection": q_token_budget_selection,
        "crawl_ingest_parity": q_crawl_ingest_parity,
        "repeated_span_stats": q_repeated_span_stats,
        "remove_repeated_spans": q_remove_repeated_spans,
        "weighted_sample_docs": q_weighted_sample_docs,
        "top_vocab": q_top_vocab,
        "tfidf_top_terms": q_tfidf_top_terms,
        "stratified_split_docs": q_stratified_split_docs,
        "bpe_merges_documents": q_bpe_merges_documents,
        "kll_range_buckets_price": q_kll_range_buckets_price,
        "skew_report_orders": q_skew_report_orders,
        # -- rotation tail: r2/r3-green, code untouched ------------------
        "consistent_sample_events": q_consistent_sample_events,
        "media_features_documents": q_media_features_documents,
        "hll_flagship_distinct_text": q_hll_flagship_distinct_text,
        "mg_top_sources_by_lang": q_mg_top_sources_by_lang,
        "theta_estimate_orderkeys": q_theta_estimate_orderkeys,
        "tdigest_quantiles_value": q_tdigest_quantiles_value,
        "clean_corpus_rep_parity": q_clean_corpus_rep_parity,
        "clean_corpus_stats": q_clean_corpus_stats,
        "strip_boilerplate_docs": q_strip_boilerplate_docs,
        "cube_event_stats": q_cube_event_stats,
        "window_event_neighbors": q_window_event_neighbors,
        "customers_with_orders_semi": q_customers_with_orders_semi,
        "distinct_urls_by_host": q_distinct_urls_by_host,
        "distinct_sample_sources": q_distinct_sample_sources,
        "embedding_dup_pairs_tight": q_embedding_dup_pairs_tight,
        "normalize_urls_docs": q_normalize_urls_docs,
        "unpivot_doc_metrics": q_unpivot_doc_metrics,
        "sketch_cube_slice": q_sketch_cube_slice,
        "kll_quantiles_price": q_kll_quantiles_price,
        "ivf_ann_top3": q_ivf_ann_top3,
        "minhash_dedup_keep_documents": q_minhash_dedup_keep_documents,
        "simhash_pairs_documents": q_simhash_pairs_documents,
        "lsh_ann_top3": q_lsh_ann_top3,
        "lang_id_documents": q_lang_id_documents,
        "fingerprint_documents": q_fingerprint_documents,
        "minhash_pairs_documents": q_minhash_pairs_documents,
        "hll_custkey_by_month": q_hll_custkey_by_month,
        "hll_union_en_de": q_hll_union_en_de,
        "hll_intersect_partkeys": q_hll_intersect_partkeys,
        "cms_heavy_hitters": q_cms_heavy_hitters,
        "hll_distinct_order_part_pairs": q_hll_distinct_order_part_pairs,
        "theta_intersect_partkeys": q_theta_intersect_partkeys,
        "theta_except_partkeys": q_theta_except_partkeys,
        "exact_dedup_documents": q_exact_dedup_documents,
        "duplicate_groups_documents": q_duplicate_groups_documents,
        "ann_top3": q_ann_top3,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "token_counts_documents": q_token_counts_documents,
        "text_quality_documents": q_text_quality_documents,
        "gopher_metrics_documents": q_gopher_metrics_documents,
        "pii_scrub_documents": q_pii_scrub_documents,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "hll_users_by_event_type": """
            SELECT event_type, COUNT(DISTINCT user_id) AS distinct_user_id
            FROM events GROUP BY event_type
        """,
        "streaming_sink_distinct": """
            SELECT event_type, COUNT(DISTINCT user_id) AS distinct_user_id
            FROM events GROUP BY event_type
        """,
        "hll_custkey_by_month": """
            SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
                   COUNT(DISTINCT o_custkey) AS distinct_o_custkey
            FROM orders GROUP BY 1
        """,
        "hll_union_en_de": """
            SELECT COUNT(DISTINCT text) AS distinct_en_de
            FROM documents WHERE lang IN ('en', 'de')
        """,
        "hll_intersect_partkeys": """
            SELECT CAST(COUNT(*) AS DOUBLE) AS intersect_partkeys FROM (
                SELECT DISTINCT l_partkey FROM lineitem
                WHERE l_shipdate < TIMESTAMP '1998-06-01'
                INTERSECT
                SELECT DISTINCT l_partkey FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1998-06-01'
            )
        """,
        "cms_event_type_counts": """
            SELECT event_type, COUNT(*) AS est_count
            FROM events GROUP BY event_type
        """,
        "countsketch_event_counts": """
            SELECT event_type, COUNT(*) AS est_count
            FROM events GROUP BY event_type
        """,
        "sliding_distinct_users": """
            -- trailing windows anchored at the max event time,
            -- inclusive start — mirrors the sketch's t >= anchor-span
            -- test in exact micro arithmetic
            WITH mx AS (SELECT max(ts) AS mt FROM events
                        WHERE user_id IS NOT NULL AND ts IS NOT NULL),
            w(win, span_s) AS (VALUES ('w1_1d', 86400),
                                      ('w2_7d', 604800),
                                      ('w3_30d', 2592000))
            SELECT w.win AS win,
                   COUNT(DISTINCT e.user_id) AS distinct_users
            FROM events e, mx, w
            WHERE e.user_id IS NOT NULL
              AND e.ts >= mx.mt
                  - to_microseconds(CAST(span_s AS BIGINT) * 1000000)
            GROUP BY w.win ORDER BY win
        """,
        "sliding_distinct_by_type": """
            -- grouped trailing windows, GLOBAL anchor (cross-key
            -- comparable convention); groups with no qualifying events
            -- emit no row, like grouped COUNT(DISTINCT)
            WITH mx AS (SELECT max(ts) AS mt FROM events
                        WHERE user_id IS NOT NULL AND ts IS NOT NULL),
            w(win, span_s) AS (VALUES ('w1_1d', 86400),
                                      ('w2_30d', 2592000))
            SELECT e.event_type, w.win AS win,
                   COUNT(DISTINCT e.user_id) AS distinct_users
            FROM events e, mx, w
            WHERE e.user_id IS NOT NULL
              AND e.ts >= mx.mt
                  - to_microseconds(CAST(span_s AS BIGINT) * 1000000)
            GROUP BY e.event_type, w.win
            ORDER BY e.event_type, win
        """,
        "kmeans_clusters_embeddings": """
            -- one exact Lloyd assignment step on the integer grid
            -- q = floor(v*2^20 + 0.5): centroids are the 8 id-smallest
            -- rows, distance is int64 (no float compare anywhere),
            -- ties go to the smaller centroid rank
            WITH q AS (
              SELECT vec_id,
                     list_transform(embedding, x ->
                       CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5)
                            AS BIGINT)) AS qv
              FROM embeddings
              WHERE embedding IS NOT NULL AND vec_id IS NOT NULL
            ),
            cent AS (
              SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
                          AS INTEGER) AS c, qv AS qc
              FROM q ORDER BY vec_id LIMIT 8
            ),
            dist AS (
              SELECT q.vec_id, cent.c,
                     CAST(list_sum(list_transform(list_zip(q.qv, cent.qc),
                          p -> (p[1] - p[2]) * (p[1] - p[2])))
                          AS BIGINT) AS d2,
                     row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY CAST(list_sum(list_transform(
                           list_zip(q.qv, cent.qc),
                           p -> (p[1] - p[2]) * (p[1] - p[2])))
                           AS BIGINT), cent.c) AS rk
              FROM q CROSS JOIN cent
            )
            SELECT c AS cluster, COUNT(*) AS n_members,
                   CAST(SUM(d2) AS BIGINT) AS cost_q
            FROM dist WHERE rk = 1
            GROUP BY c ORDER BY c
        """,
        "image_dup_pairs_parity": """
            -- closed-form dHash replay: 8x9 images ARE the dHash grid,
            -- so bit k=y*8+x is the pixel comparison itself; HUGEINT
            -- accumulates the u64, two's complement casts to BIGINT,
            -- brute-force xor+bit_count enumerates the truth set
            WITH bits AS (
              SELECT id, y, x,
                     CASE WHEN
                       (kk * kk * ((s % 11) + 3) + s * 31) % 256
                       >
                       ((kk + 1) * (kk + 1) * ((s % 11) + 3) + s * 31) % 256
                     THEN 1::HUGEINT ELSE 0::HUGEINT END AS bit
              FROM (
                SELECT i.range AS id, i.range % 20 AS s,
                       y.range AS y, x.range AS x,
                       y.range * 9 + x.range AS kk
                FROM range(30) i, range(8) y, range(8) x
              )
            ),
            dh AS (
              SELECT id,
                     CASE WHEN s >= 9223372036854775808::HUGEINT
                          THEN (s - 18446744073709551616::HUGEINT)::BIGINT
                          ELSE s::BIGINT END AS dhash
              FROM (
                SELECT id, SUM(bit * (1::HUGEINT << (y * 8 + x))) AS s
                FROM bits GROUP BY id
              )
            )
            SELECT a.id AS id_a, b.id AS id_b,
                   CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER)
                       AS hamming
            FROM dh a JOIN dh b ON a.id < b.id
            WHERE bit_count(xor(a.dhash, b.dhash)) <= 6
            ORDER BY id_a, id_b
        """,
        "corpus_diff_orders": """
            WITH o AS (
              SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
            ),
            n AS (
              SELECT o_orderkey, o_orderstatus,
                     CASE WHEN o_orderkey % 7 = 0
                          THEN o_totalprice + 1.0
                          ELSE o_totalprice END AS o_totalprice
              FROM orders WHERE o_orderkey % 10 <> 0
              UNION ALL
              SELECT 900000000 + i.range, 'X', 1.0 FROM range(50) i
            ),
            j AS (
              SELECT o.o_orderkey AS ok, n.o_orderkey AS nk,
                     (o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus)
                     AND (o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice)
                         AS same
              FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
            )
            SELECT CAST(SUM(CASE WHEN ok IS NOT NULL THEN 1 END) AS BIGINT)
                       AS n_old,
                   CAST(SUM(CASE WHEN nk IS NOT NULL THEN 1 END) AS BIGINT)
                       AS n_new,
                   CAST(SUM(CASE WHEN ok IS NULL THEN 1 END) AS BIGINT)
                       AS n_added,
                   CAST(SUM(CASE WHEN nk IS NULL THEN 1 END) AS BIGINT)
                       AS n_removed,
                   CAST(SUM(CASE WHEN ok IS NOT NULL AND nk IS NOT NULL
                                      AND NOT same THEN 1 END) AS BIGINT)
                       AS n_changed,
                   CAST(SUM(CASE WHEN ok IS NOT NULL AND nk IS NOT NULL
                                      AND same THEN 1 END) AS BIGINT)
                       AS n_unchanged
            FROM j
        """,
        "anchor_texts_parity": """
            WITH pairs AS (
              SELECT 'h' || ((i.range + j.range * 2 + 1) % 6)
                         || '.example.com' AS dst_host,
                     'site ' || ((i.range + j.range) % 4) AS anchor
              FROM range(48) i, range(2) j
            )
            SELECT dst_host, anchor, CAST(COUNT(*) AS BIGINT) AS n
            FROM pairs GROUP BY dst_host, anchor
            ORDER BY dst_host, anchor
        """,
        "fix_mojibake_parity": """
            SELECT CAST(doc_id AS BIGINT) AS doc_id, text
            FROM (VALUES
              (0, 'café crème brûlée'), (1, 'café crème brûlée'),
              (2, 'naïve façade'), (3, 'naïve façade'),
              (4, 'über größe'), (5, 'über größe'),
              (6, 'smart — dash'), (7, 'smart — dash'),
              (8, 'check ✓ done'), (9, 'check ✓ done'),
              (10, '日本語テキスト'), (11, '日本語テキスト')
            ) t(doc_id, text)
            ORDER BY doc_id
        """,
        "warc_corpus_parity": """
            -- survivors = i where i%7 not in (5,6); text is the
            -- fixture string verbatim (extract_text inverts wrap_html
            -- on this alphabet)
            SELECT 'https://w' || (i.range % 4) || '.example.com/p/'
                       || i.range AS url,
                   'alpha beta ' || i.range || ' gamma delta' AS text,
                   CAST(length('alpha beta ' || i.range
                               || ' gamma delta') AS BIGINT) AS n_chars
            FROM range(35) i
            WHERE i.range % 7 NOT IN (5, 6)
            ORDER BY url
        """,
        "split_sentences_docs": """
            WITH s AS (
              SELECT doc_id,
                     list_filter(
                       list_transform(
                         regexp_extract_all(coalesce(text, ''),
                                            '[^.!?]+[.!?]+|[^.!?]+'),
                         x -> trim(x)),
                       x -> x <> '') AS sents
              FROM documents
            )
            SELECT doc_id,
                   CAST(u.i - 1 AS INTEGER) AS sentence_no,
                   u.s AS sentence
            FROM (
              SELECT doc_id,
                     unnest(list_transform(
                       sents, (x, i) -> struct_pack(s := x, i := i))) AS u
              FROM s
            )
            ORDER BY doc_id, sentence_no
        """,
        "page_meta_parity": """
            WITH p AS (
              SELECT i.range AS page_id,
                     '<html lang="en-' || (i.range % 3) || '"><head>'
                     || CASE WHEN i.range % 5 = 0 THEN ''
                             WHEN i.range % 7 = 0
                             THEN '<TITLE>Doc ' || i.range || '</TITLE>'
                             ELSE '<title>Doc ' || i.range || '</title>'
                        END
                     || CASE WHEN i.range % 4 = 0
                             THEN '<meta name=''description'' '
                                  || 'content=''skip ' || i.range || '''>'
                             ELSE '<meta name="description" '
                                  || 'content="desc ' || i.range || '">'
                        END
                     || '<link rel="canonical" '
                     || 'href="https://c.example.com/' || i.range || '">'
                     || '</head><body>body ' || i.range
                     || '</body></html>' AS html
              FROM range(30) i
            )
            SELECT page_id,
                   regexp_extract(html, '(?i)<title[^>]*>([^<]*)', 1)
                       AS title,
                   regexp_extract(html,
                     '(?i)<meta\\s+name="description"\\s+content="([^"]*)"',
                     1) AS meta_description,
                   regexp_extract(html, '(?i)<html[^>]*\\slang="([^"]*)"', 1)
                       AS html_lang,
                   regexp_extract(html,
                     '(?i)<link\\s+rel="canonical"\\s+href="([^"]*)"', 1)
                       AS canonical_url
            FROM p ORDER BY page_id
        """,
        "pseudonymize_docs": """
            SELECT doc_id,
                   substr(sha256('fixture-secret:source:' || source),
                          1, 16) AS source,
                   lang
            FROM documents ORDER BY doc_id
        """,
        "k_anonymity_orders": """
            WITH g AS (
              SELECT o_orderstatus, o_orderpriority,
                     COUNT(*) AS n
              FROM orders GROUP BY 1, 2
            )
            SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
                   CAST(COUNT(*) AS BIGINT) AS n_groups,
                   CAST(SUM(CASE WHEN n < 1000 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_groups_below_k,
                   CAST(SUM(CASE WHEN n < 1000 THEN n ELSE 0 END)
                        AS BIGINT) AS rows_below_k,
                   CAST(MIN(n) AS BIGINT) AS min_group_size,
                   MIN(n) >= 1000 AS is_k_anonymous
            FROM g
        """,
        "robots_filter_parity": """
            -- the rule table parse_robots must produce, stated as
            -- literals; election = max(len*2 + allow), blocked iff
            -- the winning score is even (a Disallow won)
            WITH u AS (
              SELECT 'https://h' || (i.range % 4) || '.example.com/p'
                         || ((i.range // 4) % 10) || '/x' || i.range AS url,
                     'h' || (i.range % 4) || '.example.com' AS host,
                     '/p' || ((i.range // 4) % 10) || '/x' || i.range AS path
              FROM range(60) i
            ),
            r(host, prefix, allow) AS (VALUES
              ('h0.example.com', '/p1', 0),
              ('h0.example.com', '/p1/x44', 1),
              ('h0.example.com', '/p2/', 0),
              ('h0.example.com', '/p2/', 1),
              ('h2.example.com', '/p3', 0),
              ('h2.example.com', '/p4', 0)
            ),
            m AS (
              SELECT u.url,
                     MAX(length(r.prefix) * 2 + r.allow) AS score
              FROM u JOIN r ON u.host = r.host
                           AND starts_with(u.path, r.prefix)
              GROUP BY u.url
            )
            SELECT url FROM u
            WHERE url NOT IN (SELECT url FROM m WHERE score % 2 = 0)
            ORDER BY url
        """,
        "host_pagerank_parity": """
            -- rebuild the closed-form edge list, then unroll 3 exact
            -- integer PageRank iterations (truncating //) as CTEs
            WITH links AS (
              SELECT 'h' || (i.range % 9) || '.example.com' AS s,
                     'h' || ((i.range * 5 + j.range * 7 + 1) % 9)
                         || '.example.com' AS d
              FROM range(60) i, range(3) j
            ),
            edges AS (
              SELECT s, d, COUNT(*)::BIGINT AS w
              FROM links WHERE s <> d GROUP BY s, d
            ),
            nodes AS (
              SELECT DISTINCT s AS host FROM edges
              UNION SELECT DISTINCT d FROM edges
            ),
            wout AS (SELECT s, SUM(w) AS w_out FROM edges GROUP BY s),
            r0 AS (SELECT host, 1000000::BIGINT AS r FROM nodes),
            r1 AS (
              SELECT n.host,
                     150000 + COALESCE(SUM(
                       e.w * ((r.r * 850000) // (1000000 * wo.w_out))
                     ), 0) AS r
              FROM nodes n
              LEFT JOIN edges e ON e.d = n.host
              LEFT JOIN wout wo ON wo.s = e.s
              LEFT JOIN r0 r ON r.host = e.s
              GROUP BY n.host
            ),
            r2 AS (
              SELECT n.host,
                     150000 + COALESCE(SUM(
                       e.w * ((r.r * 850000) // (1000000 * wo.w_out))
                     ), 0) AS r
              FROM nodes n
              LEFT JOIN edges e ON e.d = n.host
              LEFT JOIN wout wo ON wo.s = e.s
              LEFT JOIN r1 r ON r.host = e.s
              GROUP BY n.host
            ),
            r3 AS (
              SELECT n.host,
                     150000 + COALESCE(SUM(
                       e.w * ((r.r * 850000) // (1000000 * wo.w_out))
                     ), 0) AS r
              FROM nodes n
              LEFT JOIN edges e ON e.d = n.host
              LEFT JOIN wout wo ON wo.s = e.s
              LEFT JOIN r2 r ON r.host = e.s
              GROUP BY n.host
            )
            SELECT host, CAST(r AS BIGINT) AS rank_micro
            FROM r3 ORDER BY host
        """,
        "warc_ingest_parity": """
            -- closed-form replay of the WARC fixture: url/ts/status/
            -- type/length/md5 recomputed from the generation formulas
            SELECT 'https://host' || (i.range % 7)
                       || '.example.com/p/' || i.range AS url,
                   make_timestamp(2024, 3, 1, 0, 0,
                                  (i.range % 60)::DOUBLE) AS warc_ts,
                   CAST(200 + (i.range % 3) * 100 AS INTEGER)
                       AS http_status,
                   'text/html' AS content_type,
                   CAST(length('<html><body>payload-' || i.range || '-'
                               || repeat('ab', i.range % 9)
                               || '</body></html>') AS BIGINT) AS n_bytes,
                   md5('<html><body>payload-' || i.range || '-'
                       || repeat('ab', i.range % 9)
                       || '</body></html>') AS body_md5
            FROM range(45) i
            ORDER BY url
        """,
        "audio_dup_pairs_parity": """
            -- closed-form energy-fingerprint replay: 65 equal windows
            -- of 10 samples, bit k = E(k) > E(k+1); HUGEINT packs the
            -- u64, two's complement casts to BIGINT, brute-force
            -- xor+bit_count enumerates the truth set
            WITH e AS (
              SELECT i.range AS id, t.range // 10 AS w,
                     SUM(ABS(((i.range % 20) * 13
                              + t.range * t.range
                                * ((i.range % 20) % 5 + 2)) % 211
                             - 100)) AS en
              FROM range(30) i, range(650) t
              GROUP BY 1, 2
            ),
            bits AS (
              SELECT a.id, a.w AS k,
                     CASE WHEN a.en > b.en
                          THEN 1::HUGEINT ELSE 0::HUGEINT END AS bit
              FROM e a JOIN e b ON a.id = b.id AND b.w = a.w + 1
              WHERE a.w < 64
            ),
            dh AS (
              SELECT id,
                     CASE WHEN s >= 9223372036854775808::HUGEINT
                          THEN (s - 18446744073709551616::HUGEINT)::BIGINT
                          ELSE s::BIGINT END AS afp
              FROM (
                SELECT id, SUM(bit * (1::HUGEINT << k)) AS s
                FROM bits GROUP BY id
              )
            )
            SELECT a.id AS id_a, b.id AS id_b,
                   CAST(bit_count(xor(a.afp, b.afp)) AS INTEGER)
                       AS hamming
            FROM dh a JOIN dh b ON a.id < b.id
            WHERE bit_count(xor(a.afp, b.afp)) <= 6
            ORDER BY id_a, id_b
        """,
        "salted_join_brand_volume": """
            SELECT p_brand,
                   COUNT(*) AS n_items,
                   SUM(l_quantity) AS sum_qty,
                   ROUND(SUM(l_extendedprice), 4) AS sum_price
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_brand
            ORDER BY p_brand
        """,
        "profile_orders_columns": """
            WITH t AS (
                SELECT 'o_orderstatus' AS col_name, o_orderstatus AS v
                FROM orders
                UNION ALL
                SELECT 'o_orderpriority' AS col_name, o_orderpriority AS v
                FROM orders
            ),
            counts AS (
                SELECT col_name, v, COUNT(*) AS c
                FROM t WHERE v IS NOT NULL GROUP BY col_name, v
            ),
            ranked AS (
                SELECT col_name, v, c,
                       row_number() OVER (
                           PARTITION BY col_name ORDER BY c DESC, v
                       ) AS rn
                FROM counts
            ),
            tops AS (
                SELECT col_name,
                       string_agg(v || ':' || c, ',' ORDER BY c DESC, v)
                           AS top3
                FROM ranked WHERE rn <= 3 GROUP BY col_name
            ),
            base AS (
                SELECT col_name,
                       COUNT(*) AS n_rows,
                       COUNT(*) - COUNT(v) AS n_null,
                       COUNT(DISTINCT v) AS n_distinct,
                       MIN(v) AS min_str,
                       MAX(v) AS max_str,
                       CAST(COALESCE(SUM(LENGTH(v)), 0) AS BIGINT)
                           AS total_len
                FROM t GROUP BY col_name
            )
            SELECT base.col_name, n_rows, n_null, n_distinct,
                   min_str, max_str, total_len, top3
            FROM base JOIN tops USING (col_name)
        """,
        "fk_discovery_tpch": """
            WITH t AS (
                SELECT 'customer.c_custkey' AS label, c_custkey AS v
                FROM customer
                UNION ALL
                SELECT 'orders.o_custkey', o_custkey FROM orders
                UNION ALL
                SELECT 'orders.o_orderkey', o_orderkey FROM orders
                UNION ALL
                SELECT 'lineitem.l_orderkey', l_orderkey FROM lineitem
            ),
            d AS (
                SELECT DISTINCT label, v FROM t WHERE v IS NOT NULL
            ),
            card AS (SELECT label, COUNT(*) AS n FROM d GROUP BY label),
            inter AS (
                SELECT a.label AS child_label, b.label AS parent_label,
                       COUNT(*) AS i
                FROM d a JOIN d b ON a.v = b.v AND a.label <> b.label
                GROUP BY 1, 2
            )
            SELECT ca.label AS child_label, cb.label AS parent_label,
                   ca.n AS distinct_child, cb.n AS distinct_parent,
                   COALESCE(i.i, 0) AS intersect_est,
                   COALESCE(i.i, 0) / ca.n AS containment,
                   (COALESCE(i.i, 0) / ca.n) >= 0.999 AS is_fk_candidate
            FROM card ca
            JOIN card cb ON ca.label <> cb.label
            LEFT JOIN inter i
              ON i.child_label = ca.label AND i.parent_label = cb.label
            ORDER BY child_label, parent_label
        """,
        "hll_overlap_events": """
            WITH d AS (
                SELECT DISTINCT event_type AS g, user_id AS v FROM events
            ),
            card AS (SELECT g, COUNT(*) AS n FROM d GROUP BY g),
            inter AS (
                SELECT a.g AS g_a, b.g AS g_b, COUNT(*) AS i
                FROM d a JOIN d b ON a.v = b.v AND a.g < b.g
                GROUP BY 1, 2
            )
            SELECT ca.g AS g_a, cb.g AS g_b,
                   ca.n AS distinct_a, cb.n AS distinct_b,
                   ca.n + cb.n - COALESCE(i.i, 0) AS union_est,
                   CAST(COALESCE(i.i, 0) AS DOUBLE) AS intersect_est,
                   CAST(COALESCE(i.i, 0) AS DOUBLE)
                       / (ca.n + cb.n - COALESCE(i.i, 0)) AS jaccard_est
            FROM card ca
            JOIN card cb ON ca.g < cb.g
            LEFT JOIN inter i ON i.g_a = ca.g AND i.g_b = cb.g
            ORDER BY g_a, g_b
        """,
        "chunk_documents": r"""
            WITH t AS (
                SELECT doc_id,
                       -- explicit class: RE2 '\s' lacks \x0b, Java's has it
                       CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                            ELSE string_split_regex(trim(text),
                                                    '[ \t\n\x0b\f\r]+')
                       END AS toks
                FROM documents
            ),
            s AS (
                SELECT doc_id, toks, len(toks) AS n
                FROM t WHERE len(toks) > 0
            ),
            st AS (
                SELECT doc_id, toks, n,
                       unnest(range(
                           0,
                           (CASE WHEN n <= 64 THEN 0
                                 ELSE CAST(ceil((n - 64) / 48.0) AS BIGINT)
                            END) * 48 + 1,
                           48
                       )) AS start
                FROM s
            )
            SELECT doc_id,
                   start // 48 AS chunk_id,
                   least(64, n - start) AS n_tokens,
                   array_to_string(
                       list_slice(toks, start + 1, start + 64), ' '
                   ) AS chunk_text
            FROM st
        """,
        "bm25_retrieval_documents": r"""
            -- quantized log-free BM25 (k1=1.2, b=0.75, k=5): every
            -- per-term score is a chain of correctly-rounded IEEE ops
            -- over exact integers, floored to a BIGINT e9 grid before
            -- the (order-free) sum — bit-exact vs the Spark plan.
            -- ::DOUBLE on every constant: DuckDB parses bare decimal
            -- literals as DECIMAL, whose arithmetic is not IEEE.
            WITH q(query_id, term) AS (
                VALUES (0, 'hash'), (0, 'join'),
                       (1, 'window'), (1, 'agg'), (1, 'stream'),
                       (2, 'vector'), (2, 'column'), (2, 'scan')
            ),
            d AS (
                SELECT doc_id,
                       -- explicit class: RE2 '\s' lacks \x0b, Java's has it
                       CASE WHEN text IS NULL OR trim(text) = ''
                            THEN []::VARCHAR[]
                            ELSE string_split_regex(trim(text),
                                                    '[ \t\n\x0b\f\r]+')
                       END AS toks
                FROM documents
            ),
            dd AS (SELECT doc_id, len(toks) AS dl, toks FROM d),
            stats AS (SELECT COUNT(*) AS n, SUM(dl) AS sdl FROM dd),
            post AS (SELECT doc_id, dl, unnest(toks) AS term FROM dd),
            tf AS (
                SELECT doc_id, dl, term, COUNT(*) AS tf FROM post
                WHERE term IN (SELECT DISTINCT term FROM q)
                GROUP BY doc_id, dl, term
            ),
            dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
            scored AS (
                SELECT CAST(q.query_id AS BIGINT) AS query_id, t.doc_id,
                       CAST(SUM(CAST(floor(
                         (((s.n - f.df) + 0.5::DOUBLE)
                            / (f.df + 0.5::DOUBLE))
                         * ((t.tf * 2.2::DOUBLE)
                            / (t.tf + 1.2::DOUBLE
                               * (0.25::DOUBLE + 0.75::DOUBLE
                                  * (t.dl / (s.sdl / s.n)))))
                         * 1000000000.0::DOUBLE
                       ) AS BIGINT)) AS BIGINT) AS score_e9
                FROM tf t
                JOIN dfreq f USING (term)
                JOIN q ON q.term = t.term
                CROSS JOIN stats s
                GROUP BY 1, 2
            )
            SELECT query_id, doc_id, score_e9, rank FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY query_id
                    ORDER BY score_e9 DESC, doc_id ASC
                )::INT AS rank FROM scored
            ) WHERE rank <= 5
        """,
        "theta_overlap_orders": """
            WITH d AS (
                SELECT DISTINCT o_orderpriority AS g, o_custkey AS v
                FROM orders
            ),
            card AS (SELECT g, COUNT(*) AS n FROM d GROUP BY g),
            inter AS (
                SELECT a.g AS g_a, b.g AS g_b, COUNT(*) AS i
                FROM d a JOIN d b ON a.v = b.v AND a.g < b.g
                GROUP BY 1, 2
            )
            SELECT ca.g AS g_a, cb.g AS g_b,
                   CAST(ca.n AS DOUBLE) AS distinct_a,
                   CAST(cb.n AS DOUBLE) AS distinct_b,
                   CAST(ca.n + cb.n - COALESCE(i.i, 0) AS DOUBLE)
                       AS union_est,
                   CAST(COALESCE(i.i, 0) AS DOUBLE) AS intersect_est,
                   CAST(COALESCE(i.i, 0) AS DOUBLE)
                       / (ca.n + cb.n - COALESCE(i.i, 0)) AS jaccard_est
            FROM card ca
            JOIN card cb ON ca.g < cb.g
            LEFT JOIN inter i ON i.g_a = ca.g AND i.g_b = cb.g
            ORDER BY g_a, g_b
        """,
        "bloom_fk_prefilter": """
            SELECT COUNT(*) AS n_rows FROM lineitem
        """,
        "hll_distinct_order_part_pairs": """
            SELECT COUNT(DISTINCT (l_orderkey, l_partkey)) AS distinct_pairs
            FROM lineitem WHERE l_orderkey % 16 = 0
        """,
        "hll_users_salted": """
            SELECT COUNT(DISTINCT user_id) AS distinct_user_id FROM events
        """,
        "theta_intersect_partkeys": """
            SELECT CAST(COUNT(*) AS BIGINT) AS n_common_partkeys FROM (
                SELECT DISTINCT l_partkey FROM lineitem
                WHERE l_shipdate < TIMESTAMP '1998-06-01'
                INTERSECT
                SELECT DISTINCT l_partkey FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1998-06-01'
            )
        """,
        "theta_except_partkeys": """
            SELECT CAST(COUNT(*) AS BIGINT) AS n_early_only_partkeys FROM (
                SELECT DISTINCT l_partkey FROM lineitem
                WHERE l_shipdate < TIMESTAMP '1998-06-01'
                EXCEPT
                SELECT DISTINCT l_partkey FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1998-06-01'
            )
        """,
        "checkpoint_resume_estimate": """
            SELECT COUNT(DISTINCT user_id) AS distinct_user_id FROM events
        """,
        "sketch_cube_slice": """
            SELECT COUNT(DISTINCT user_id) AS distinct_click_view_users
            FROM events WHERE event_type IN ('click', 'view')
        """,
        "cms_heavy_hitters": """
            SELECT event_type, COUNT(*) AS est_count FROM events
            GROUP BY event_type
            ORDER BY est_count DESC, event_type ASC LIMIT 3
        """,
        "exact_dedup_documents": """
            SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text
        """,
        "duplicate_groups_documents": """
            SELECT MIN(doc_id) AS keeper_id, COUNT(*) AS n_dupes
            FROM documents GROUP BY text HAVING COUNT(*) > 1
        """,
        "embedding_dup_pairs": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.46
        """,
        "embedding_dup_pairs_tight": """
            WITH corpus AS (
                SELECT vec_id, embedding FROM embeddings
                UNION ALL
                SELECT vec_id + 100000,
                       list_concat([embedding[1] * 1.2], embedding[2:])
                FROM embeddings
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.92
        """,
        "mg_top_sources": """
            SELECT source AS item, COUNT(*) AS count_lb,
                   CAST(0 AS BIGINT) AS error_bound
            FROM documents GROUP BY source
        """,
        "mg_top_sources_by_lang": """
            SELECT lang, source AS item, COUNT(*) AS count_lb,
                   CAST(0 AS BIGINT) AS error_bound
            FROM documents GROUP BY lang, source
        """,
        "extract_text_pages": """
            SELECT doc_id,
                   md5(trim(regexp_replace(text, '[ \t\n\x0b\f\r]+', ' ', 'g')))
                       AS text_md5,
                   length(trim(regexp_replace(text, '[ \t\n\x0b\f\r]+', ' ', 'g')))
                       AS text_len
            FROM documents
        """,
        "extract_text_pages_arrow": """
            SELECT doc_id,
                   md5(trim(regexp_replace(text, '[ \t\n\x0b\f\r]+', ' ', 'g')))
                       AS text_md5,
                   length(trim(regexp_replace(text, '[ \t\n\x0b\f\r]+', ' ', 'g')))
                       AS text_len
            FROM documents
        """,
        "normalize_urls_docs": _normalize_urls_oracle_sql(),
        "customers_with_orders_semi": """
            SELECT c_mktsegment,
                   COUNT(*) AS n_customers,
                   CAST(SUM(c_custkey) AS BIGINT) AS sum_custkey
            FROM customer c
            WHERE EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey)
            GROUP BY c_mktsegment
        """,
        "window_event_neighbors": """
            SELECT user_id, event_id, prev_event_id, next_event_id,
                   seq, running_sum, value_rank
            FROM (
                SELECT user_id, event_id,
                       LAG(event_id) OVER w AS prev_event_id,
                       LEAD(event_id) OVER w AS next_event_id,
                       ROW_NUMBER() OVER w AS seq,
                       CAST(SUM(event_id) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS BIGINT) AS running_sum,
                       RANK() OVER (
                           PARTITION BY user_id
                           ORDER BY value DESC, event_id
                       ) AS value_rank
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ) WHERE seq <= 3
        """,
        "cube_event_stats": """
            SELECT COALESCE(event_type, '(all)') AS event_type,
                   CAST(COALESCE(cohort, -1) AS BIGINT) AS cohort,
                   COUNT(*) AS n,
                   CAST(SUM(event_id) AS BIGINT) AS sum_event_id
            FROM (SELECT event_type, user_id % 5 AS cohort, event_id
                  FROM events)
            GROUP BY CUBE(event_type, cohort)
        """,
        "unpivot_doc_metrics": r"""
            SELECT metric,
                   COUNT(*) AS n,
                   CAST(SUM(value) AS BIGINT) AS total,
                   CAST(MIN(value) AS BIGINT) AS vmin,
                   CAST(MAX(value) AS BIGINT) AS vmax
            FROM (
                SELECT doc_id, 'n_chars_text' AS metric,
                       length(text) AS value FROM documents
                UNION ALL
                SELECT doc_id, 'n_chars_meta', n_chars FROM documents
                UNION ALL
                SELECT doc_id, 'n_tokens',
                       CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(string_split_regex(trim(text), '\s+'))
                       END
                FROM documents
            ) GROUP BY metric
        """,
        "distinct_urls_by_host": """
            SELECT 'host-' || lower(source) || '.example.com' AS host,
                   CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_urls
            FROM documents GROUP BY 1
        """,
        "distinct_sample_sources": """
            SELECT DISTINCT source AS item, true AS is_exact FROM documents
        """,
        "strip_boilerplate_docs": """
            SELECT doc_id,
                   text || chr(10) || 'group-' || CAST(doc_id % 997 AS VARCHAR)
                       AS text
            FROM documents
        """,
        "decoded_media_stats": """
            SELECT i AS media_id, CAST(48 AS BIGINT) AS n_samples,
                   CAST(SUM((i*7 + y.y*8 + x.x) % 251) AS BIGINT) AS sample_sum
            FROM range(20) t(i), range(6) y(y), range(8) x(x)
            GROUP BY i
            UNION ALL
            SELECT 100 + j AS media_id, CAST(50 AS BIGINT) AS n_samples,
                   CAST(SUM(((100 + j)*13 + s.s) % 211 - 100) AS BIGINT)
                       AS sample_sum
            FROM range(10) t(j), range(50) s(s)
            GROUP BY 1
            UNION ALL
            SELECT 200 + g AS media_id, CAST(105 AS BIGINT) AS n_samples,
                   CAST(SUM(9 * ((200 + g + y.y*7 + x.x) % 16) + 3)
                        AS BIGINT) AS sample_sum
            FROM range(10) t(g), range(5) y(y), range(7) x(x)
            GROUP BY 1
            UNION ALL
            SELECT 300 + j AS media_id,
                   CAST(hw * 3 AS BIGINT) AS n_samples,
                   CAST(hw * 3 * 128 AS BIGINT) AS sample_sum
            FROM (VALUES (0, 64), (1, 63), (2, 256), (3, 221), (4, 120),
                         (5, 90)) AS jj(j, hw)
            UNION ALL
            SELECT 400 + v AS media_id,
                   CAST(px * 3 AS BIGINT) AS n_samples,
                   CAST(px * 3 * 128 AS BIGINT) AS sample_sum
            FROM (VALUES (0, 128), (1, 216), (2, 165)) AS vv(v, px)
        """,
        "minhash_dedup_parity": """
            SELECT i * 2 AS doc_id FROM range(500) t(i)
            UNION ALL
            SELECT 1000 + i AS doc_id FROM range(250) t(i)
        """,
        "minhash_pairs_parity": """
            SELECT i * 2 AS id_a, i * 2 + 1 AS id_b,
                   CAST(1.0 AS DOUBLE) AS jaccard_est
            FROM range(400) t(i)
        """,
        "minhash_join_parity": """
            -- cross-table clones i<->i only; est exactly 1.0
            SELECT i AS left_id, i AS right_id,
                   CAST(1.0 AS DOUBLE) AS jaccard_est
            FROM range(300) t(i)
        """,
        "dedup_increment_parity": """
            -- kept = the novel singletons of the increment
            SELECT 300 + i AS doc_id FROM range(150) t(i)
        """,
        "simhash_pairs_parity": """
            SELECT i * 2 AS id_a, i * 2 + 1 AS id_b,
                   CAST(0 AS INTEGER) AS hamming
            FROM range(400) t(i)
        """,
        "semdedup_parity": """
            -- even member of each clone pair + every singleton
            SELECT i * 2 AS doc_id FROM range(300) t(i)
            UNION ALL
            SELECT 600 + i AS doc_id FROM range(150) t(i)
        """,
        "char_entropy_documents": """
            -- per-codepoint histogram entropy with the integer
            -- micro-log contract; string_split(x, '') splits by
            -- codepoint (verified: precomposed vs combining forms);
            -- ch <> '' guards the empty-string split artifact
            WITH chars AS (
              SELECT doc_id,
                     unnest(string_split(coalesce(text, ''), '')) AS ch
              FROM documents
            ),
            hist AS (
              SELECT doc_id, ch, count(*) AS cnt
              FROM chars WHERE ch <> '' GROUP BY doc_id, ch
            ),
            tot AS (SELECT doc_id, sum(cnt) AS n FROM hist GROUP BY doc_id),
            scored AS (
              SELECT h.doc_id,
                     max(t.n)::BIGINT AS n_chars,
                     (-sum(h.cnt * floor(
                        log10(h.cnt::DOUBLE / t.n) * 1e6)))::BIGINT
                       AS entropy_micro
              FROM hist h JOIN tot t USING (doc_id)
              GROUP BY h.doc_id
            )
            SELECT d.doc_id,
                   coalesce(s.n_chars, 0)::BIGINT AS n_chars,
                   coalesce(s.entropy_micro, 0)::BIGINT AS entropy_micro
            FROM documents d LEFT JOIN scored s USING (doc_id)
        """,
        "shard_manifest_documents": """
            -- same portable 60-bit md5 rule the Spark operator uses;
            -- bit_xor is order-independent, so the checksum is exact
            WITH h AS (
              SELECT doc_id, n_chars,
                     ('0x' || substr(md5(doc_id::VARCHAR || ':0'), 1, 15)
                     )::UBIGINT::BIGINT AS hv
              FROM documents
            )
            SELECT (hv % 16)::INT AS shard_id,
                   count(*)::BIGINT AS n_rows,
                   bit_xor(hv)::BIGINT AS key_xor,
                   sum(n_chars)::BIGINT AS total_size
            FROM h GROUP BY 1
        """,
        "lm_perplexity_documents": r"""
            -- full reimplementation of the bigram-LM fit+score
            -- (operators/lm.py): whitespace class pinned to Java's \s
            -- byte set; list_zip pads the shorter side with NULL, so
            -- prepending BOS on the left makes the padded tail exactly
            -- the one spurious pair (dropped by pr[2] IS NOT NULL);
            -- integer micro-logs make the sums engine-exact
            WITH toks AS (
              SELECT doc_id,
                     list_filter(
                       string_split_regex(trim(lower(text)),
                                          '[ \t\n\x0b\f\r]+'),
                       x -> x <> '') AS ws
              FROM documents
            ),
            words AS (
              SELECT unnest(ws) AS w FROM toks
            ),
            vocab AS (
              -- sentinels are reserved: literal '<s>'/'<unk>' tokens
              -- never enter the vocab (they map to the unk bucket)
              SELECT w
              FROM (SELECT w, count(*) AS cnt FROM words
                    WHERE w NOT IN ('<s>', '<unk>') GROUP BY w)
              ORDER BY cnt DESC, w ASC LIMIT 500
            ),
            pairs AS (
              -- idx marks the document-start pair POSITIONALLY, so a
              -- literal '<s>' token is never mistaken for BOS
              SELECT doc_id,
                     unnest(list_zip(list_prepend('<s>', ws), ws)) AS pr,
                     unnest(range(1, len(ws) + 2)) AS idx
              FROM toks
            ),
            mapped AS (
              SELECT doc_id,
                     CASE WHEN idx = 1 THEN '<s>'
                          WHEN pr[1] IN (SELECT w FROM vocab) THEN pr[1]
                          ELSE '<unk>' END AS w_prev,
                     CASE WHEN pr[2] IN (SELECT w FROM vocab) THEN pr[2]
                          ELSE '<unk>' END AS w
              FROM pairs WHERE pr[2] IS NOT NULL
            ),
            model AS (
              SELECT w_prev, w, count(*) AS cnt
              FROM mapped GROUP BY w_prev, w
            ),
            ctx AS (
              SELECT w_prev, sum(cnt) AS ctx FROM model GROUP BY w_prev
            ),
            veff AS (SELECT count(*) + 1 AS v FROM vocab),
            scored AS (
              SELECT m.doc_id,
                     count(*)::BIGINT AS n_tokens,
                     (-sum(floor(log10(
                        (coalesce(mo.cnt, 0) + 1)::DOUBLE
                          / (coalesce(c.ctx, 0) + v.v)) * 1e6)))::BIGINT
                       AS nll_micro
              FROM mapped m
              LEFT JOIN model mo USING (w_prev, w)
              LEFT JOIN ctx c USING (w_prev)
              CROSS JOIN veff v
              GROUP BY m.doc_id
            )
            SELECT d.doc_id,
                   coalesce(s.n_tokens, 0)::BIGINT AS n_tokens,
                   coalesce(s.nll_micro, 0)::BIGINT AS nll_micro
            FROM documents d LEFT JOIN scored s USING (doc_id)
        """,
        "dsir_importance_documents": r"""
            -- two-model DSIR mirror: vocab + target LM fit on the
            -- lang='en' slice, source LM fit on the full pool over the
            -- SAME vocabulary; per-bigram integer micro-log difference
            -- summed exactly (same tokenizer/zip-pad notes as the
            -- lm_perplexity_documents oracle)
            WITH toks AS (
              SELECT doc_id, lang,
                     list_filter(
                       string_split_regex(trim(lower(text)),
                                          '[ \t\n\x0b\f\r]+'),
                       x -> x <> '') AS ws
              FROM documents
            ),
            words_t AS (
              SELECT unnest(ws) AS w FROM toks WHERE lang = 'en'
            ),
            vocab AS (
              -- sentinels reserved, BOS positional: same notes as the
              -- lm_perplexity_documents oracle
              SELECT w
              FROM (SELECT w, count(*) AS cnt FROM words_t
                    WHERE w NOT IN ('<s>', '<unk>') GROUP BY w)
              ORDER BY cnt DESC, w ASC LIMIT 300
            ),
            pairs AS (
              SELECT doc_id, lang,
                     unnest(list_zip(list_prepend('<s>', ws), ws)) AS pr,
                     unnest(range(1, len(ws) + 2)) AS idx
              FROM toks
            ),
            mapped AS (
              SELECT doc_id, lang,
                     CASE WHEN idx = 1 THEN '<s>'
                          WHEN pr[1] IN (SELECT w FROM vocab) THEN pr[1]
                          ELSE '<unk>' END AS w_prev,
                     CASE WHEN pr[2] IN (SELECT w FROM vocab) THEN pr[2]
                          ELSE '<unk>' END AS w
              FROM pairs WHERE pr[2] IS NOT NULL
            ),
            model_t AS (
              SELECT w_prev, w, count(*) AS cnt
              FROM mapped WHERE lang = 'en' GROUP BY w_prev, w
            ),
            ctx_t AS (
              SELECT w_prev, sum(cnt) AS ctx FROM model_t GROUP BY w_prev
            ),
            model_s AS (
              SELECT w_prev, w, count(*) AS cnt
              FROM mapped GROUP BY w_prev, w
            ),
            ctx_s AS (
              SELECT w_prev, sum(cnt) AS ctx FROM model_s GROUP BY w_prev
            ),
            veff AS (SELECT count(*) + 1 AS v FROM vocab),
            scored AS (
              SELECT m.doc_id,
                     count(*)::BIGINT AS n_tokens,
                     sum(
                       floor(log10(
                         (coalesce(mt.cnt, 0) + 1)::DOUBLE
                           / (coalesce(ct.ctx, 0) + v.v)) * 1e6)
                       - floor(log10(
                         (coalesce(ms.cnt, 0) + 1)::DOUBLE
                           / (coalesce(cs.ctx, 0) + v.v)) * 1e6)
                     )::BIGINT AS logratio_micro
              FROM mapped m
              LEFT JOIN model_t mt USING (w_prev, w)
              LEFT JOIN ctx_t ct USING (w_prev)
              LEFT JOIN model_s ms USING (w_prev, w)
              LEFT JOIN ctx_s cs USING (w_prev)
              CROSS JOIN veff v
              GROUP BY m.doc_id
            )
            SELECT d.doc_id,
                   coalesce(s.n_tokens, 0)::BIGINT AS n_tokens,
                   coalesce(s.logratio_micro, 0)::BIGINT AS logratio_micro
            FROM documents d LEFT JOIN scored s USING (doc_id)
        """,
        "quality_classifier_parity": r"""
            -- full mirror of the hashed-unigram hard-sigmoid logistic
            -- classifier: md5 feature hashing (seed 13, mod 4096,
            -- PRESENCE features), TWO unrolled exact-integer GD
            -- iterations (divisor = n*1e6 // lr_micro with lr_micro =
            -- 2e6), link p = clamp(500000 + floordiv(s,4), 0, 1e6).
            -- '//' truncates toward zero in DuckDB exactly like
            -- Spark's div, so floor division is 'x // d' minus one
            -- when the remainder is negative (d > 0 always).
            WITH toks AS (
              SELECT doc_id,
                     CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                     list_filter(
                       string_split_regex(trim(lower(text)),
                                          '[ \t\n\x0b\f\r]+'),
                       x -> x <> '') AS ws
              FROM documents
            ),
            feats AS (
              SELECT DISTINCT doc_id,
                     ('0x' || substr(md5(w || ':13'), 1, 15))::BIGINT
                       % 4096 AS feat
              FROM (SELECT doc_id, unnest(ws) AS w FROM toks)
            ),
            c AS (
              SELECT ((count(*) * 1000000) // 2000000)::BIGINT AS dv
              FROM toks
            ),
            e1 AS (  -- iter 1: w=0, b=0 => p=500000 for every doc
              SELECT doc_id, (500000 - y * 1000000)::BIGINT AS err
              FROM toks
            ),
            g1 AS (
              SELECT feat, sum(err)::BIGINT AS g
              FROM feats JOIN e1 USING (doc_id) GROUP BY feat
            ),
            w1 AS (
              SELECT feat,
                     (-(g // dv - CASE WHEN g % dv < 0 THEN 1 ELSE 0
                        END))::BIGINT AS w
              FROM g1, c
            ),
            b1 AS (
              SELECT (-(s // dv - CASE WHEN s % dv < 0 THEN 1 ELSE 0
                        END))::BIGINT AS b
              FROM (SELECT sum(err)::BIGINT AS s FROM e1), c
            ),
            sw2 AS (
              SELECT f.doc_id, sum(w1.w)::BIGINT AS sw
              FROM feats f JOIN w1 USING (feat) GROUP BY f.doc_id
            ),
            s2 AS (
              SELECT t.doc_id, t.y,
                     ((SELECT b FROM b1) + coalesce(sw.sw, 0))::BIGINT AS s
              FROM toks t LEFT JOIN sw2 sw USING (doc_id)
            ),
            e2 AS (  -- iter 2: link, error
              SELECT doc_id,
                     (greatest(0, least(1000000,
                        500000 + (s // 4 - CASE WHEN s % 4 < 0 THEN 1
                                  ELSE 0 END)))
                      - y * 1000000)::BIGINT AS err
              FROM s2
            ),
            g2 AS (
              SELECT feat, sum(err)::BIGINT AS g
              FROM feats JOIN e2 USING (doc_id) GROUP BY feat
            ),
            w2 AS (
              SELECT w1.feat,
                     (w1.w - (g // dv - CASE WHEN g % dv < 0 THEN 1
                              ELSE 0 END))::BIGINT AS w
              FROM w1 JOIN g2 USING (feat), c
            ),
            b2 AS (
              SELECT ((SELECT b FROM b1)
                      - (s // dv - CASE WHEN s % dv < 0 THEN 1 ELSE 0
                         END))::BIGINT AS b
              FROM (SELECT sum(err)::BIGINT AS s FROM e2), c
            ),
            sw3 AS (  -- final scoring pass
              SELECT f.doc_id, sum(w2.w)::BIGINT AS sw
              FROM feats f JOIN w2 USING (feat) GROUP BY f.doc_id
            ),
            s3 AS (
              SELECT t.doc_id,
                     ((SELECT b FROM b2) + coalesce(sw.sw, 0))::BIGINT AS s
              FROM toks t LEFT JOIN sw3 sw USING (doc_id)
            ),
            p3 AS (
              SELECT doc_id,
                     (greatest(0, least(1000000,
                        500000 + (s // 4 - CASE WHEN s % 4 < 0 THEN 1
                                  ELSE 0 END))))::BIGINT AS score_micro
              FROM s3
            )
            SELECT doc_id, score_micro,
                   CASE WHEN score_micro >= 500000 THEN 1 ELSE 0
                   END AS label
            FROM p3
        """,
        "token_budget_selection": r"""
            -- greedy-fill mirror: same token counter as the
            -- pack_sequences oracle, exclusive prefix sum over the
            -- (n_chars DESC, doc_id) total order, keep offsets under
            -- the 20k budget
            WITH toks AS (
              SELECT doc_id, n_chars,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(text), '\s+'))
                     END AS t
              FROM documents
            ),
            pos AS (
              SELECT doc_id,
                     CAST(COALESCE(SUM(t) OVER (
                       ORDER BY n_chars DESC, doc_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0) AS BIGINT) AS budget_offset
              FROM toks WHERE t > 0
            )
            SELECT doc_id, budget_offset
            FROM pos WHERE budget_offset < 20000
        """,
        "budget_mixture_by_lang": r"""
            -- grouped greedy-fill mirror: exclusive prefix sum
            -- PARTITIONED BY lang over the (n_chars DESC, doc_id)
            -- order; per-lang caps are mixture_budgets(30000,
            -- {en:6, de:2, fr:1, es:1}) spelled out literally
            -- (largest-remainder split is exact here: 18000/6000/
            -- 3000/3000). zh has no weight => dropped.
            WITH toks AS (
              SELECT doc_id, lang, n_chars,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(text), '\s+'))
                     END AS t
              FROM documents
            ),
            pos AS (
              SELECT doc_id, lang,
                     CAST(COALESCE(SUM(t) OVER (
                       PARTITION BY lang
                       ORDER BY n_chars DESC, doc_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0) AS BIGINT) AS budget_offset
              FROM toks WHERE t > 0
            )
            SELECT doc_id, lang, budget_offset
            FROM pos
            WHERE budget_offset < CASE lang
                WHEN 'en' THEN 18000
                WHEN 'de' THEN 6000
                WHEN 'fr' THEN 3000
                WHEN 'es' THEN 3000
                ELSE 0 END
        """,
        "fd_gram_by_label": r"""
            -- exact-regime grouped-FD mirror: each label's sketched
            -- Gram matrix IS its true Gram matrix when the shrink
            -- never fires, and the milli-unit quantization
            -- (floor(x*1000 + 0.5), identical double arithmetic both
            -- sides) makes every dot product an exact BIGINT,
            -- order-independent
            SELECT label, i.i AS i, j.j AS j,
                   CAST(SUM(
                     CAST(FLOOR(CAST(embedding[i.i+1] AS DOUBLE)*1000
                                + 0.5) AS BIGINT)
                   * CAST(FLOOR(CAST(embedding[j.j+1] AS DOUBLE)*1000
                                + 0.5) AS BIGINT)
                   ) AS BIGINT) AS gram
            FROM embeddings, range(64) AS i(i), range(64) AS j(j)
            GROUP BY 1, 2, 3
        """,
        "pack_sequences_documents": r"""
            WITH toks AS (
              SELECT doc_id,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(text), '\s+'))
                     END AS t
              FROM documents
            ), nz AS (
              SELECT doc_id, CAST(t AS BIGINT) AS t,
                     CAST(COALESCE(SUM(t) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0) AS BIGINT) AS s
              FROM toks WHERE t > 0
            )
            SELECT nz.doc_id AS doc_id, p.pack_id AS pack_id,
                   GREATEST(s, p.pack_id * 512) - s AS doc_offset,
                   GREATEST(s, p.pack_id * 512) - p.pack_id * 512
                       AS pack_offset,
                   LEAST(s + t, (p.pack_id + 1) * 512)
                       - GREATEST(s, p.pack_id * 512) AS slice_len
            FROM nz, LATERAL (
              SELECT unnest(generate_series(s // 512, (s + t - 1) // 512))
                     AS pack_id
            ) p
        """,
        "lang_id_parity": """
            SELECT i AS doc_id,
                   CASE CAST(i % 4 AS INTEGER)
                        WHEN 0 THEN 'en' WHEN 1 THEN 'de'
                        WHEN 2 THEN 'ru' ELSE 'other' END AS lang_pred
            FROM range(800) t(i)
        """,
        "fingerprint_parity": """
            SELECT i * 2 AS id_lo, i * 2 + 1 AS id_hi,
                   CAST(2 AS BIGINT) AS n_docs
            FROM range(400) t(i)
            UNION ALL
            SELECT 800 + i AS id_lo, 800 + i AS id_hi,
                   CAST(1 AS BIGINT) AS n_docs
            FROM range(200) t(i)
        """,
        "clean_corpus_rep_parity": """
            SELECT i * 2 AS doc_id FROM range(400) t(i)
            UNION ALL
            SELECT 800 + i AS doc_id FROM range(250) t(i)
        """,
        "curate_corpus_parity": """
            -- END-TO-END curation-chain mirror: the per-stage mirrors
            -- (clean_corpus_stats, lm_perplexity_documents,
            -- dsir_importance_documents, shard_manifest_documents)
            -- composed with stage-correct fit corpora — ppl LM
            -- self-fit on the CLEANED corpus, DSIR vocab+target LM on
            -- the ORIGINAL lang='en' slice, DSIR source LM on the
            -- ppl-kept pool; same tokenizer/zip-pad/BOS notes as the
            -- per-stage oracles
            WITH keepers AS (
                SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text
            ),
            kept0 AS (
                SELECT d.* FROM documents d
                JOIN keepers k ON d.doc_id = k.doc_id
            ),
            kept AS (
                SELECT * FROM (
                    SELECT doc_id, text, lang,
                        string_split(text, chr(10)) AS lines,
                        string_split_regex(trim(text), '\\s+') AS toks,
                        length(text) AS n,
                        length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct,
                        length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
                        length(text) - length(regexp_replace(text, '#|\\.\\.\\.', '', 'g')) AS n_sym
                    FROM kept0
                )
                WHERE (CASE WHEN len(lines) <= 0 THEN 0.0
                       ELSE CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE) / len(lines) END) <= 0.30
                  AND (CASE WHEN (CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(toks) END) <= 0 THEN 0.0
                       ELSE CAST(n_sym AS DOUBLE) / len(toks) END) <= 0.10
                  AND (CASE WHEN len(toks) <= 0 THEN 0.0
                       ELSE CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) END)
                      BETWEEN 3.0 AND 10.0
                  AND ROUND(
                        0.4 * LEAST(CAST(n AS DOUBLE) / 500.0, 1.0)
                      + 0.3 * (1.0 - LEAST((CASE WHEN n = 0 THEN 0.0 ELSE CAST(n_punct AS DOUBLE)/n END) * 4.0, 1.0))
                      + 0.3 * (1.0 - LEAST((CASE WHEN n = 0 THEN 0.0 ELSE CAST(n_digit AS DOUBLE)/n END) * 4.0, 1.0)),
                      6) >= 0.5
            ),
            grams AS (
                SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
                FROM kept, LATERAL UNNEST(range(1, len(toks) - 1)) AS u(i)
                WHERE len(toks) >= 3
                UNION
                SELECT DISTINCT doc_id, array_to_string(toks, ' ') AS g
                FROM kept WHERE len(toks) < 3 AND len(toks) > 0
            ),
            sizes AS (SELECT doc_id, COUNT(*) AS ng FROM grams GROUP BY doc_id),
            dropped AS (
                SELECT DISTINCT b.doc_id
                FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
                JOIN sizes sa ON sa.doc_id = a.doc_id
                JOIN sizes sb ON sb.doc_id = b.doc_id
                GROUP BY a.doc_id, b.doc_id, sa.ng, sb.ng
                HAVING CAST(COUNT(*) AS DOUBLE) / (sa.ng + sb.ng - COUNT(*)) >= 0.8
            ),
            cleaned AS (
                SELECT doc_id, text FROM kept
                WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
            ),
            -- stage 2: self-fit bigram-LM perplexity gate on cleaned
            toks_c AS (
              SELECT doc_id,
                     list_filter(
                       string_split_regex(trim(lower(text)),
                                          '[ \t\n\x0b\f\r]+'),
                       x -> x <> '') AS ws
              FROM cleaned
            ),
            words_c AS (SELECT unnest(ws) AS w FROM toks_c),
            vocab_c AS (
              SELECT w
              FROM (SELECT w, count(*) AS cnt FROM words_c
                    WHERE w NOT IN ('<s>', '<unk>') GROUP BY w)
              ORDER BY cnt DESC, w ASC LIMIT 300
            ),
            pairs_c AS (
              SELECT doc_id,
                     unnest(list_zip(list_prepend('<s>', ws), ws)) AS pr,
                     unnest(range(1, len(ws) + 2)) AS idx
              FROM toks_c
            ),
            mapped_c AS (
              SELECT doc_id,
                     CASE WHEN idx = 1 THEN '<s>'
                          WHEN pr[1] IN (SELECT w FROM vocab_c) THEN pr[1]
                          ELSE '<unk>' END AS w_prev,
                     CASE WHEN pr[2] IN (SELECT w FROM vocab_c) THEN pr[2]
                          ELSE '<unk>' END AS w
              FROM pairs_c WHERE pr[2] IS NOT NULL
            ),
            model_c AS (
              SELECT w_prev, w, count(*) AS cnt
              FROM mapped_c GROUP BY w_prev, w
            ),
            ctx_c AS (
              SELECT w_prev, sum(cnt) AS ctx FROM model_c GROUP BY w_prev
            ),
            veff_c AS (SELECT count(*) + 1 AS v FROM vocab_c),
            ppl_scored AS (
              SELECT m.doc_id,
                     count(*)::BIGINT AS n_tokens,
                     (-sum(floor(log10(
                        (coalesce(mo.cnt, 0) + 1)::DOUBLE
                          / (coalesce(c.ctx, 0) + v.v)) * 1e6)))::BIGINT
                       AS nll_micro
              FROM mapped_c m
              LEFT JOIN model_c mo USING (w_prev, w)
              LEFT JOIN ctx_c c USING (w_prev)
              CROSS JOIN veff_c v
              GROUP BY m.doc_id
            ),
            pool AS (
              SELECT t.doc_id, t.ws
              FROM toks_c t JOIN ppl_scored s USING (doc_id)
              WHERE power(10, s.nll_micro / (1e6 * s.n_tokens)) <= 5000.0
            ),
            -- stage 3: DSIR — vocab + target LM on the ORIGINAL
            -- lang='en' slice, source LM on the pool, shared vocab
            toks_t AS (
              SELECT doc_id,
                     list_filter(
                       string_split_regex(trim(lower(text)),
                                          '[ \t\n\x0b\f\r]+'),
                       x -> x <> '') AS ws
              FROM documents WHERE lang = 'en'
            ),
            words_t AS (SELECT unnest(ws) AS w FROM toks_t),
            vocab_t AS (
              SELECT w
              FROM (SELECT w, count(*) AS cnt FROM words_t
                    WHERE w NOT IN ('<s>', '<unk>') GROUP BY w)
              ORDER BY cnt DESC, w ASC LIMIT 300
            ),
            pairs_t AS (
              SELECT doc_id,
                     unnest(list_zip(list_prepend('<s>', ws), ws)) AS pr,
                     unnest(range(1, len(ws) + 2)) AS idx
              FROM toks_t
            ),
            mapped_t AS (
              SELECT doc_id,
                     CASE WHEN idx = 1 THEN '<s>'
                          WHEN pr[1] IN (SELECT w FROM vocab_t) THEN pr[1]
                          ELSE '<unk>' END AS w_prev,
                     CASE WHEN pr[2] IN (SELECT w FROM vocab_t) THEN pr[2]
                          ELSE '<unk>' END AS w
              FROM pairs_t WHERE pr[2] IS NOT NULL
            ),
            model_t AS (
              SELECT w_prev, w, count(*) AS cnt
              FROM mapped_t GROUP BY w_prev, w
            ),
            ctx_t AS (
              SELECT w_prev, sum(cnt) AS ctx FROM model_t GROUP BY w_prev
            ),
            pairs_p AS (
              SELECT doc_id,
                     unnest(list_zip(list_prepend('<s>', ws), ws)) AS pr,
                     unnest(range(1, len(ws) + 2)) AS idx
              FROM pool
            ),
            mapped_p AS (
              SELECT doc_id,
                     CASE WHEN idx = 1 THEN '<s>'
                          WHEN pr[1] IN (SELECT w FROM vocab_t) THEN pr[1]
                          ELSE '<unk>' END AS w_prev,
                     CASE WHEN pr[2] IN (SELECT w FROM vocab_t) THEN pr[2]
                          ELSE '<unk>' END AS w
              FROM pairs_p WHERE pr[2] IS NOT NULL
            ),
            model_s AS (
              SELECT w_prev, w, count(*) AS cnt
              FROM mapped_p GROUP BY w_prev, w
            ),
            ctx_s AS (
              SELECT w_prev, sum(cnt) AS ctx FROM model_s GROUP BY w_prev
            ),
            veff_t AS (SELECT count(*) + 1 AS v FROM vocab_t),
            dsir_scored AS (
              SELECT m.doc_id,
                     count(*)::BIGINT AS n_tokens,
                     sum(
                       floor(log10(
                         (coalesce(mt.cnt, 0) + 1)::DOUBLE
                           / (coalesce(ct.ctx, 0) + v.v)) * 1e6)
                       - floor(log10(
                         (coalesce(ms.cnt, 0) + 1)::DOUBLE
                           / (coalesce(cs.ctx, 0) + v.v)) * 1e6)
                     )::BIGINT AS lr
              FROM mapped_p m
              LEFT JOIN model_t mt USING (w_prev, w)
              LEFT JOIN ctx_t ct USING (w_prev)
              LEFT JOIN model_s ms USING (w_prev, w)
              LEFT JOIN ctx_s cs USING (w_prev)
              CROSS JOIN veff_t v
              GROUP BY m.doc_id
            ),
            final AS (
              SELECT doc_id FROM dsir_scored
              WHERE CAST(lr AS DOUBLE) / (1e6 * n_tokens) >= -5.0
            )
            -- stage 6: the same portable 60-bit md5 shard rule
            SELECT doc_id,
                   (('0x' || substr(md5(doc_id::VARCHAR || ':0'), 1, 15)
                    )::UBIGINT::BIGINT % 8)::INT AS shard_id
            FROM final
        """,
        "paragraph_dedup_parity": """
            WITH corpus AS (
              SELECT d.doc_id,
                     substr(d.text, 1, 100) || chr(10) ||
                     substr(n.text, 1, 100) || chr(10) || z.shared AS text
              FROM documents d
              JOIN documents n
                ON n.doc_id = (d.doc_id + 1) % (SELECT COUNT(*) FROM documents)
              CROSS JOIN (
                SELECT substr(text, 1, 60) AS shared
                FROM documents WHERE doc_id = 0
              ) z
            ),
            split AS (
              SELECT doc_id, string_split(text, chr(10)) AS arr FROM corpus
            ),
            paras AS (
              SELECT doc_id, unnest(arr) AS para,
                     generate_subscripts(arr, 1) AS pos
              FROM split
            ),
            firsts AS (
              SELECT para, min(struct_pack(doc_id := doc_id, pos := pos)) AS f
              FROM paras WHERE length(trim(para)) > 0 GROUP BY para
            ),
            kept AS (
              SELECT p.doc_id, p.pos, p.para
              FROM paras p JOIN firsts f
                ON p.para = f.para AND p.doc_id = f.f.doc_id
               AND p.pos = f.f.pos
              UNION ALL
              SELECT doc_id, pos, para FROM paras
              WHERE length(trim(para)) = 0
            )
            SELECT c.doc_id, coalesce(k.text, '') AS text
            FROM corpus c LEFT JOIN (
              SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS text
              FROM kept GROUP BY doc_id
            ) k USING (doc_id)
        """,
        "decontaminate_documents": """
            WITH snippets AS (
              SELECT substr(text, 10, 80) AS snippet
              FROM documents WHERE doc_id % 100 = 7
            )
            SELECT d.doc_id,
                   (SELECT COUNT(*) FROM snippets s
                    WHERE position(s.snippet IN d.text) > 0) AS n_hits,
                   (SELECT COUNT(*) FROM snippets s
                    WHERE position(s.snippet IN d.text) > 0) > 0 AS contaminated
            FROM documents d
        """,
        "decontaminate_ngrams": """
            WITH bench AS (
              SELECT text FROM documents WHERE doc_id % 100 = 7
            ),
            bsplit AS (SELECT string_split_regex(text, ' +') AS w FROM bench),
            bgrams AS (
              SELECT DISTINCT array_to_string(w[i:i+6], ' ') AS gram
              FROM (SELECT w, unnest(range(1, greatest(len(w) - 6, 0) + 1)) AS i
                    FROM bsplit)
            ),
            dsplit AS (
              SELECT doc_id, string_split_regex(text, ' +') AS w FROM documents
            ),
            dgrams AS (
              SELECT doc_id, array_to_string(w[i:i+6], ' ') AS gram
              FROM (SELECT doc_id, w,
                           unnest(range(1, greatest(len(w) - 6, 0) + 1)) AS i
                    FROM dsplit)
            ),
            hits AS (
              SELECT doc_id, COUNT(DISTINCT g.gram) AS n_hits
              FROM dgrams g JOIN bgrams b USING (gram) GROUP BY doc_id
            )
            SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits,
                   coalesce(h.n_hits, 0) > 0 AS contaminated
            FROM documents d LEFT JOIN hits h USING (doc_id)
        """,
        "normalize_unicode_docs": """
            -- the combining marks are built with chr() so no literal
            -- can be silently re-normalized by an editor/transport
            WITH m AS (
              SELECT doc_id,
                     text || ' caf' || 'e' || chr(769)
                          || ' A' || chr(778) || 'rhus' AS messy
              FROM documents
            )
            SELECT doc_id,
                   md5(nfc_normalize(messy)) AS norm_md5,
                   length(nfc_normalize(messy))::BIGINT AS norm_len,
                   (length(messy) - length(nfc_normalize(messy)))::BIGINT
                     AS chars_collapsed
            FROM m
        """,
        "decontaminate_bloom": """
            -- the Bloom stage only prunes (no false negatives; false
            -- positives removed by the exact verify join), so the
            -- oracle is the plain n-gram recipe at n=6
            WITH bench AS (
              SELECT text FROM documents WHERE doc_id % 100 = 13
            ),
            bsplit AS (SELECT string_split_regex(text, ' +') AS w FROM bench),
            bgrams AS (
              SELECT DISTINCT array_to_string(w[i:i+5], ' ') AS gram
              FROM (SELECT w, unnest(range(1, greatest(len(w) - 5, 0) + 1)) AS i
                    FROM bsplit)
            ),
            dsplit AS (
              SELECT doc_id, string_split_regex(text, ' +') AS w FROM documents
            ),
            dgrams AS (
              SELECT doc_id, array_to_string(w[i:i+5], ' ') AS gram
              FROM (SELECT doc_id, w,
                           unnest(range(1, greatest(len(w) - 5, 0) + 1)) AS i
                    FROM dsplit)
            ),
            hits AS (
              SELECT doc_id, COUNT(DISTINCT g.gram) AS n_hits
              FROM dgrams g JOIN bgrams b USING (gram) GROUP BY doc_id
            )
            SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits,
                   coalesce(h.n_hits, 0) > 0 AS contaminated
            FROM documents d LEFT JOIN hits h USING (doc_id)
        """,
        "repeated_span_stats": """
            -- word 5-grams occurring >=2x corpus-wide; positions are
            -- 1-based here vs Spark's 0-based posexplode — count
            -- distinct pos / pos+off are shift-invariant so the
            -- offset never reaches the output
            WITH dsplit AS (
              SELECT doc_id, string_split_regex(text, ' +') AS w
              FROM documents
            ),
            dgrams AS (
              SELECT doc_id, i AS pos, array_to_string(w[i:i+4], ' ') AS gram
              FROM (SELECT doc_id, w,
                           unnest(range(1, greatest(len(w) - 4, 0) + 1)) AS i
                    FROM dsplit)
            ),
            dup AS (
              SELECT gram FROM dgrams GROUP BY gram HAVING COUNT(*) >= 2
            ),
            docc AS (SELECT doc_id, pos FROM dgrams JOIN dup USING (gram)),
            cov AS (
              SELECT doc_id,
                     COUNT(DISTINCT pos) AS dup_ngrams,
                     COUNT(DISTINCT pos + t.off) AS covered_tokens
              FROM docc, UNNEST(range(0, 5)) AS t(off)
              GROUP BY doc_id
            )
            SELECT d.doc_id,
                   len(string_split_regex(d.text, ' +'))::BIGINT
                     AS total_tokens,
                   coalesce(c.dup_ngrams, 0)::BIGINT AS dup_ngrams,
                   coalesce(c.covered_tokens, 0)::BIGINT AS covered_tokens,
                   coalesce(c.covered_tokens, 0)::DOUBLE
                     / len(string_split_regex(d.text, ' +'))::DOUBLE
                     AS coverage_frac
            FROM documents d LEFT JOIN cov c USING (doc_id)
        """,
        "remove_repeated_spans": """
            -- keep-first span removal: ownership by (doc_id, pos)
            -- order == Spark's min(struct); 0-based token index t is
            -- cut iff some surviving-start s (also 0-based here)
            -- covers it: s <= t < s+5
            WITH dsplit AS (
              SELECT doc_id, string_split_regex(text, ' +') AS w
              FROM documents
            ),
            dgrams AS (
              SELECT doc_id, i AS pos,
                     array_to_string(w[i+1:i+5], ' ') AS gram
              FROM (SELECT doc_id, w,
                           unnest(range(0, greatest(len(w) - 4, 0))) AS i
                    FROM dsplit)
            ),
            marked AS (
              SELECT doc_id, pos,
                     COUNT(*) OVER (PARTITION BY gram) AS occ,
                     ROW_NUMBER() OVER (
                       PARTITION BY gram ORDER BY doc_id, pos
                     ) AS rn
              FROM dgrams
            ),
            removals AS (
              SELECT doc_id, list_sort(list(pos)) AS cut_starts
              FROM marked WHERE occ >= 2 AND rn > 1
              GROUP BY doc_id
            ),
            rebuilt AS (
              SELECT d.doc_id,
                     list_transform(
                       list_filter(
                         range(0, len(d.w)),
                         t -> len(list_filter(
                                coalesce(r.cut_starts, []::BIGINT[]),
                                s -> s <= t AND t < s + 5)) = 0
                       ),
                       t -> d.w[t + 1]
                     ) AS kept
              FROM dsplit d LEFT JOIN removals r USING (doc_id)
            )
            SELECT b.doc_id,
                   -- array_to_string([]) is NULL in DuckDB but
                   -- array_join([]) is '' in Spark: coalesce to ''
                   md5(coalesce(array_to_string(b.kept, ' '), ''))
                     AS clean_md5,
                   len(b.kept)::BIGINT AS kept_tokens,
                   (len(d.w) - len(b.kept))::BIGINT AS removed_tokens
            FROM rebuilt b JOIN dsplit d USING (doc_id)
        """,
        "top_vocab": r"""
            -- the BPE-ish pre-tokenizer regex is RE2-compatible (no
            -- lookahead), so both engines split identically
            WITH toks AS (
              SELECT unnest(regexp_extract_all(
                text, ' ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+')) AS token
              FROM documents
            ),
            counts AS (
              SELECT token, COUNT(*) AS n_occurrences FROM toks
              GROUP BY token
              ORDER BY n_occurrences DESC, token ASC LIMIT 50
            )
            SELECT token, n_occurrences,
                   ROW_NUMBER() OVER (
                     ORDER BY n_occurrences DESC, token ASC
                   )::INT AS rank
            FROM counts
        """,
        "tfidf_top_terms": """
            -- log-free idf: score = tf * (N / df); IEEE division and
            -- multiplication are correctly rounded, so the doubles
            -- compare bit-exact across engines
            WITH terms AS (
              SELECT doc_id, unnest(string_split_regex(text, ' +')) AS term
              FROM documents
            ),
            tf AS (
              SELECT doc_id, term, COUNT(*) AS tf FROM terms
              WHERE term != '' GROUP BY doc_id, term
            ),
            dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
            n AS (SELECT COUNT(*) AS n_docs FROM documents),
            ranked AS (
              SELECT t.doc_id, t.term, t.tf, d.df,
                     t.tf * (n.n_docs / d.df) AS score,
                     ROW_NUMBER() OVER (
                       PARTITION BY t.doc_id
                       ORDER BY t.tf * (n.n_docs / d.df) DESC, t.term ASC
                     )::INT AS rank
              FROM tf t JOIN dfreq d USING (term) CROSS JOIN n
            )
            SELECT doc_id, term, tf, df, score, rank
            FROM ranked WHERE rank <= 3
        """,
        "stratified_split_docs": """
            -- exact stratified 80/10/10 per lang: rank by the portable
            -- md5 uniform (doc_id tie-break), cumulative-floor cuts
            WITH ranked AS (
              SELECT doc_id, lang,
                     ROW_NUMBER() OVER (
                       PARTITION BY lang
                       ORDER BY substr(md5(cast(doc_id AS varchar) || ':42'),
                                       1, 15) ASC,
                                doc_id ASC
                     ) AS rn,
                     COUNT(*) OVER (PARTITION BY lang) AS n_s
              FROM documents
            )
            -- 0.8::DOUBLE, not the bare literal: DuckDB parses 0.8 as
            -- DECIMAL, whose exact floor can differ from the IEEE
            -- double multiply Spark does
            SELECT doc_id, lang,
                   CASE WHEN rn <= floor(0.8::DOUBLE * n_s) THEN 'train'
                        WHEN rn <= floor(0.9::DOUBLE * n_s) THEN 'val'
                        ELSE 'test' END AS split
            FROM ranked
        """,
        "weighted_sample_docs": """
            -- Efraimidis-Spirakis A-Res with the portable md5 uniform:
            -- u = (int64(md5(key||':42')[:15 hex]) + 1) / 2^60 (the +1
            -- in int64, the divide a power-of-two scale — both engines
            -- round the same 60-bit integer to the same double)
            WITH keyed AS (
              SELECT doc_id,
                     length(text)::DOUBLE AS weight,
                     pow(
                       ((('0x' || substr(md5(doc_id::VARCHAR || ':42'), 1, 15))::BIGINT
                         + 1)::DOUBLE / 1152921504606846976.0),
                       1.0 / length(text)::DOUBLE
                     ) AS es_key
              FROM documents
              WHERE length(text) > 0
            )
            SELECT doc_id, weight,
                   ROW_NUMBER() OVER (ORDER BY es_key DESC, doc_id ASC)
                     AS sample_rank
            FROM keyed
            ORDER BY es_key DESC, doc_id ASC
            LIMIT 200
        """,
        "ann_top3": """
            SELECT query_id, neighbor_id, rank FROM (
                SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC,
                                    b.vec_id ASC
                       ) AS rank
                FROM embeddings a CROSS JOIN embeddings b
                WHERE a.vec_id < 5
            ) WHERE rank <= 3
        """,
        "ivf_ann_parity": """
            -- probing every IVF cell is exhaustive search: brute force
            SELECT query_id, neighbor_id, rank FROM (
                SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC,
                                    b.vec_id ASC
                       ) AS rank
                FROM embeddings a CROSS JOIN embeddings b
                WHERE a.vec_id < 5
            ) WHERE rank <= 3
        """,
        "lsh_ann_parity": """
            -- corpus = embeddings plus 3 exact copies of each query
            -- vector; copies tie at maximal cosine, (score DESC, id
            -- ASC) makes top-3 = (q, q+100k, q+200k) in both engines
            WITH corpus AS (
                SELECT vec_id, embedding FROM embeddings
                UNION ALL
                SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id < 5
                UNION ALL
                SELECT vec_id + 200000, embedding FROM embeddings WHERE vec_id < 5
                UNION ALL
                SELECT vec_id + 300000, embedding FROM embeddings WHERE vec_id < 5
            )
            SELECT query_id, neighbor_id, rank FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
                                    c.vec_id ASC
                       ) AS rank
                FROM embeddings q CROSS JOIN corpus c
                WHERE q.vec_id < 5
            ) WHERE rank <= 3
        """,
        "dup_connected_components": """
            -- same chain corpus derivation as the Spark side (docs
            -- d//6 alike form a path via adjacent-position Jaccard
            -- 0.846 >= 0.8; see q_dup_connected_components), closed
            -- into components by recursive min-label propagation
            WITH RECURSIVE
            nodes AS (
                SELECT CAST(i AS BIGINT) AS node FROM range(0, 300) t(i)
            ),
            edges AS (
                SELECT CAST(i AS BIGINT) AS src, CAST(i + 1 AS BIGINT) AS dst
                FROM range(0, 300) t(i) WHERE i % 6 < 5
            ),
            sym AS (
                SELECT src, dst FROM edges
                UNION
                SELECT dst, src FROM edges
            ),
            reach(node, comp) AS (
                SELECT node, node FROM nodes
                UNION
                SELECT s.dst, r.comp FROM reach r JOIN sym s ON s.src = r.node
            )
            SELECT node AS doc_id, MIN(comp) AS component
            FROM reach GROUP BY node
        """,
        "skew_report_orders": """
            -- top-10 heaviest o_custkey groups: count, corpus share,
            -- and ratio to a perfectly uniform key spread
            WITH counts AS (
                SELECT o_custkey, COUNT(*) AS n_rows
                FROM orders GROUP BY o_custkey
            ),
            totals AS (
                SELECT SUM(n_rows) AS total,
                       COUNT(*) AS n_distinct
                FROM counts
            )
            SELECT
                CAST(ROW_NUMBER() OVER (
                    ORDER BY n_rows DESC, o_custkey ASC
                ) AS INTEGER) AS rank,
                o_custkey,
                n_rows,
                ROUND(n_rows / CAST(total AS DOUBLE), 9) AS share,
                ROUND(n_rows / (CAST(total AS DOUBLE) / n_distinct), 9)
                    AS skew
            FROM counts, totals
            ORDER BY n_rows DESC, o_custkey ASC
            LIMIT 10
        """,
        "kll_range_buckets_price": """
            -- exact-regime KLL boundaries == order statistics at
            -- 1-based rank max(1, ceil(i/8 * N)); bucket = number of
            -- boundaries strictly below the value (ties go low)
            WITH n AS (SELECT COUNT(*) AS c FROM part),
            ord AS (
              SELECT p_retailprice AS x,
                     ROW_NUMBER() OVER (ORDER BY p_retailprice) AS rn
              FROM part
            ),
            ranks AS (
              SELECT greatest(1, ceil((i::DOUBLE / 8.0) * c))::BIGINT AS rn
              FROM range(1, 8) t(i), n
            ),
            bounds AS (
              SELECT o.x AS bx FROM ord o JOIN ranks r USING (rn)
            ),
            assigned AS (
              SELECT p_retailprice AS x,
                     (SELECT COUNT(*) FROM bounds b
                      WHERE p_retailprice > b.bx)::INT AS bucket
              FROM part
            )
            SELECT bucket, COUNT(*) AS n_rows,
                   MIN(x) AS min_price, MAX(x) AS max_price
            FROM assigned GROUP BY bucket
        """,
        "kll_quantiles_exact": """
            -- KLL exact regime (k >= n): quantile(q) is the order
            -- statistic at 1-based rank max(1, ceil(q*n)) — the
            -- searchsorted('left') convention of kll.py:quantile
            WITH s AS (
                SELECT p_retailprice AS v,
                       ROW_NUMBER() OVER (ORDER BY p_retailprice) AS r,
                       COUNT(*) OVER () AS n
                FROM part
            )
            SELECT
                MAX(CASE WHEN r = GREATEST(1, CAST(ceil(0.125 * n) AS BIGINT)) THEN v END) AS q0_125,
                MAX(CASE WHEN r = GREATEST(1, CAST(ceil(0.25  * n) AS BIGINT)) THEN v END) AS q0_25,
                MAX(CASE WHEN r = GREATEST(1, CAST(ceil(0.5   * n) AS BIGINT)) THEN v END) AS q0_5,
                MAX(CASE WHEN r = GREATEST(1, CAST(ceil(0.75  * n) AS BIGINT)) THEN v END) AS q0_75,
                MAX(CASE WHEN r = GREATEST(1, CAST(ceil(0.875 * n) AS BIGINT)) THEN v END) AS q0_875
            FROM s
        """,
        "consistent_sample_parity": """
            -- portable deterministic sampler: keep iff the first 15
            -- hex chars of md5(key || ':seed') sort below
            -- floor(fraction * 2^60) as fixed-width lowercase hex
            -- (lexicographic order on fixed-width hex == numeric
            -- order, so the predicate is engine-independent)
            SELECT event_id, user_id, event_type
            FROM events
            WHERE substr(md5(cast(user_id AS varchar) || ':42'), 1, 15)
                < lpad(lower(to_hex(cast(floor(0.1 * 1152921504606846976.0)
                                         AS bigint))), 15, '0')
        """,
        "temperature_resample_docs": """
            -- temperature mixture: rate_d = min(1, target * N *
            -- c_d^alpha / (sum(c^alpha) * c_d)), rounded to 1e-6 so
            -- double summation order can't flip a membership bit;
            -- membership via the same md5-prefix threshold
            WITH c AS (
                SELECT lang, count(*) AS domain_rows
                FROM documents GROUP BY lang
            ),
            r AS (
                SELECT lang, domain_rows,
                       round(least(1.0,
                           0.5 * (sum(domain_rows) OVER ())
                               * power(domain_rows, 0.5)
                               / ((sum(power(domain_rows, 0.5)) OVER ())
                                  * domain_rows)), 6) AS sample_rate
                FROM c
            )
            SELECT d.doc_id, d.lang, d.source, r.sample_rate, r.domain_rows
            FROM documents d JOIN r USING (lang)
            WHERE r.sample_rate >= 1.0
               OR substr(md5(cast(d.doc_id AS varchar) || ':0'), 1, 15)
                < lpad(lower(to_hex(cast(floor(r.sample_rate
                                               * 1152921504606846976.0)
                                         AS bigint))), 15, '0')
        """,
        "crawl_ingest_parity": r"""
            WITH crawls AS (
                SELECT 'https://'
                       || CASE WHEN (doc_id // 2) % 3 = 0
                          THEN 'sub.' ELSE '' END
                       || 'h' || CAST((doc_id // 2) % 37 AS VARCHAR)
                       || '.example.'
                       || CASE WHEN (doc_id // 2) % 2 = 0
                          THEN 'com' ELSE 'org' END
                       || '/doc/' || CAST(doc_id // 2 AS VARCHAR) AS url,
                       doc_id % 2 AS warc_ts,
                       doc_id AS fetch_id,
                       text, lang
                FROM documents
            ),
            latest AS (
                SELECT url, warc_ts, fetch_id, text, lang FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY url
                        ORDER BY warc_ts DESC, fetch_id DESC) AS rn
                    FROM crawls
                ) WHERE rn = 1
            ),
            hosted AS (
                SELECT *,
                       lower(regexp_replace(
                           regexp_extract(url,
                               '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
                           ':[0-9]+$', '')) AS host
                FROM latest
            ),
            unblocked AS (
                SELECT * FROM hosted
                WHERE NOT (host = 'example.org'
                           OR host LIKE '%.example.org')
            ),
            capped AS (
                SELECT url, warc_ts, fetch_id, text, lang FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY host
                        ORDER BY md5(host || '|' || url || '|0') ASC,
                                 url ASC) AS rn
                    FROM unblocked
                ) WHERE rn <= 3
            ),
            keepers AS (
                SELECT MIN(url) AS url FROM capped GROUP BY text
            ),
            kept0 AS (
                SELECT c.* FROM capped c JOIN keepers k ON c.url = k.url
            ),
            kept AS (
                SELECT * FROM (
                    SELECT url, warc_ts, fetch_id, text, lang,
                        string_split(text, chr(10)) AS lines,
                        string_split_regex(trim(text), '\s+') AS toks,
                        length(text) AS n,
                        length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS n_punct,
                        length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
                        length(text) - length(regexp_replace(text, '#|\.\.\.', '', 'g')) AS n_sym
                    FROM kept0
                )
                WHERE (CASE WHEN len(lines) <= 0 THEN 0.0
                       ELSE CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE) / len(lines) END) <= 0.30
                  AND (CASE WHEN (CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(toks) END) <= 0 THEN 0.0
                       ELSE CAST(n_sym AS DOUBLE) / len(toks) END) <= 0.10
                  AND (CASE WHEN len(toks) <= 0 THEN 0.0
                       ELSE CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) END)
                      BETWEEN 3.0 AND 10.0
                  AND ROUND(
                        0.4 * LEAST(CAST(n AS DOUBLE) / 500.0, 1.0)
                      + 0.3 * (1.0 - LEAST((CASE WHEN n = 0 THEN 0.0 ELSE CAST(n_punct AS DOUBLE)/n END) * 4.0, 1.0))
                      + 0.3 * (1.0 - LEAST((CASE WHEN n = 0 THEN 0.0 ELSE CAST(n_digit AS DOUBLE)/n END) * 4.0, 1.0)),
                      6) >= 0.5
            ),
            grams AS (
                SELECT DISTINCT url, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
                FROM kept, LATERAL UNNEST(range(1, len(toks) - 1)) AS u(i)
                WHERE len(toks) >= 3
                UNION
                SELECT DISTINCT url, array_to_string(toks, ' ') AS g
                FROM kept WHERE len(toks) < 3 AND len(toks) > 0
            ),
            sizes AS (SELECT url, COUNT(*) AS ng FROM grams GROUP BY url),
            dropped AS (
                SELECT DISTINCT b.url
                FROM grams a JOIN grams b ON a.g = b.g AND a.url < b.url
                JOIN sizes sa ON sa.url = a.url
                JOIN sizes sb ON sb.url = b.url
                GROUP BY a.url, b.url, sa.ng, sb.ng
                HAVING CAST(COUNT(*) AS DOUBLE) / (sa.ng + sb.ng - COUNT(*)) >= 0.8
            )
            SELECT url, warc_ts, fetch_id, lang FROM kept
            WHERE url NOT IN (SELECT url FROM dropped)
        """,
        "ams_join_size_orders": """
            -- sizes are exact; within_4_sigma is the query's own
            -- 4-sigma check of the AMS estimate against the exact
            -- join size — deterministic (fixed hash seeds), so the
            -- oracle pins it TRUE through the value hash; estimator
            -- accuracy curves live in tests/test_ams.py
            SELECT (SELECT COUNT(*) FROM orders)   AS rows_left,
                   (SELECT COUNT(*) FROM customer) AS rows_right,
                   TRUE AS within_4_sigma
        """,
        "join_plan_orders_lineitem": """
            -- deterministic at driver SF: orders is far under the
            -- default broadcast threshold -> 'broadcast_right';
            -- est_positive pins the AMS inner product's sign
            SELECT (SELECT COUNT(*) FROM lineitem) AS rows_left,
                   (SELECT COUNT(*) FROM orders)   AS rows_right,
                   'broadcast_right' AS recommendation,
                   TRUE AS est_positive
        """,
        "theta_jaccard_partkeys": """
            WITH a AS (SELECT DISTINCT l_partkey FROM lineitem
                       WHERE l_shipdate < TIMESTAMP '1998-06-01'),
                 b AS (SELECT DISTINCT l_partkey FROM lineitem
                       WHERE l_shipdate >= TIMESTAMP '1998-06-01')
            SELECT ROUND(
                (SELECT CAST(COUNT(*) AS DOUBLE) FROM
                    (SELECT * FROM a INTERSECT SELECT * FROM b))
              / (SELECT CAST(COUNT(*) AS DOUBLE) FROM
                    (SELECT * FROM a UNION SELECT * FROM b)),
              9) AS jaccard_partkeys
        """,
        "window_distinct_users_daily": """
            SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                   COUNT(DISTINCT user_id) AS distinct_users
            FROM events GROUP BY 1
        """,
        "window_distinct_users_hopping": """
            -- 2-day windows sliding by 1 day, epoch-aligned like
            -- Spark's window(): an event at day d belongs to the
            -- windows starting d-1 and d
            WITH membership AS (
              SELECT unnest([
                       date_trunc('day', ts) - INTERVAL 1 DAY,
                       date_trunc('day', ts)
                     ]) AS win_start,
                     user_id
              FROM events
            )
            SELECT strftime(win_start, '%Y-%m-%d') AS win_start,
                   COUNT(DISTINCT user_id) AS distinct_users
            FROM membership GROUP BY 1
        """,
        "latest_crawl_parity": """
            -- newest fetch per url; ties on warc_ts broken by
            -- fetch_id (largest wins) — mirrors max(struct(ts,
            -- fetch_id, ...)) exactly
            SELECT url, warc_ts, fetch_id, lang FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY url
                    ORDER BY warc_ts DESC, fetch_id DESC) AS rn
                FROM (
                    SELECT 'https://' || source || '.example.com/doc/'
                               || CAST(doc_id // 3 AS VARCHAR) AS url,
                           doc_id % 2 AS warc_ts,
                           doc_id AS fetch_id,
                           lang
                    FROM documents
                )
            ) WHERE rn = 1
        """,
        "blocklist_filter_parity": f"""
            -- suffix-rule blocklist: drop iff host IS a blocked
            -- domain or ends with '.' || domain (same rule as
            -- host_suffixes membership)
            SELECT doc_id, host, lang FROM (
                SELECT doc_id,
                       (CASE WHEN doc_id % 3 = 0 THEN 'sub.' ELSE '' END)
                           || source || '.example.'
                           || (CASE WHEN doc_id % 2 = 0
                               THEN 'com' ELSE 'org' END) AS host,
                       lang
                FROM documents
            ) WHERE NOT {_duckdb_blocklist_sql()}
        """,
        "cap_per_host_parity": """
            -- deterministic per-host quota: md5(host|doc_id|seed)
            -- rank, keep 5 — the identical portable hash order the
            -- Spark operator uses
            SELECT doc_id, host, lang FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY host
                    ORDER BY md5(host || '|' || CAST(doc_id AS VARCHAR)
                                 || '|1') ASC,
                             doc_id ASC) AS rn
                FROM (
                    SELECT doc_id, source AS host, lang FROM documents
                )
            ) WHERE rn <= 5
        """,
        "repetition_metrics_documents": r"""
            -- Gopher repetition battery mirrored with DuckDB list
            -- lambdas; whitespace class pinned to Java \s byte set
            WITH t AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(text, '\n{2,}'),
                                   x -> x <> '') AS paras,
                       string_split_regex(trim(text),
                                          '[ \t\n\x0b\f\r]+') AS toks
                FROM documents
            ),
            g AS (
                SELECT doc_id, paras,
                       CASE WHEN len(toks) - 1 < 1 THEN []::VARCHAR[]
                            ELSE list_transform(range(1, len(toks)),
                                 i -> array_to_string(toks[i:i+1], ' '))
                       END AS g2,
                       CASE WHEN len(toks) - 4 < 1 THEN []::VARCHAR[]
                            ELSE list_transform(range(1, len(toks) - 3),
                                 i -> array_to_string(toks[i:i+4], ' '))
                       END AS g5
                FROM t
            )
            SELECT doc_id,
                   ROUND(CASE WHEN coalesce(list_sum(list_transform(paras,
                                  x -> length(x))), 0) = 0 THEN 0.0
                        ELSE coalesce(list_sum(list_transform(
                                 list_filter(paras, x ->
                                     len(list_filter(paras, y -> y = x)) > 1),
                                 x -> length(x))), 0) * 1.0
                             / list_sum(list_transform(paras,
                                                       x -> length(x)))
                        END, 6) AS dup_para_frac,
                   ROUND(CASE WHEN len(g2) = 0 THEN 0.0
                        ELSE (len(g2) - len(list_distinct(g2))) * 1.0
                             / len(g2) END, 6) AS dup_2gram_frac,
                   ROUND(CASE WHEN len(g5) = 0 THEN 0.0
                        ELSE (len(g5) - len(list_distinct(g5))) * 1.0
                             / len(g5) END, 6) AS dup_5gram_frac
            FROM g
        """,
        "ngram_jaccard_pairs": r"""
            WITH toks AS (
                SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
                FROM documents WHERE length(trim(text)) > 0
            ),
            grams AS (
                SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
                FROM toks, LATERAL UNNEST(range(1, len(t) - 1)) AS u(i)
                WHERE len(t) >= 3
                UNION
                SELECT DISTINCT doc_id, array_to_string(t, ' ') AS g
                FROM toks WHERE len(t) < 3
            ),
            sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
            common AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
                FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   ROUND(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS jaccard
            FROM common
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5
        """,
        "token_counts_documents": r"""
            SELECT doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(string_split_regex(trim(text), '\s+')) END
                   AS n_tokens
            FROM documents
        """,
        "text_quality_documents": r"""
            SELECT doc_id,
                   length(text) AS n_chars_text,
                   CASE WHEN length(text) = 0 THEN 0.0
                        ELSE ROUND(
                          CAST(length(text) -
                               length(regexp_replace(text, '[^\w\s]', '', 'g'))
                               AS DOUBLE) / length(text), 6) END
                   AS punct_ratio
            FROM documents
        """,
        "clean_corpus_stats": r"""
            WITH keepers AS (
                SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text
            ),
            kept0 AS (
                SELECT d.* FROM documents d
                JOIN keepers k ON d.doc_id = k.doc_id
            ),
            kept AS (
                SELECT * FROM (
                    SELECT doc_id, text, lang,
                        string_split(text, chr(10)) AS lines,
                        string_split_regex(trim(text), '\s+') AS toks,
                        length(text) AS n,
                        length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS n_punct,
                        length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
                        length(text) - length(regexp_replace(text, '#|\.\.\.', '', 'g')) AS n_sym
                    FROM kept0
                )
                WHERE (CASE WHEN len(lines) <= 0 THEN 0.0
                       ELSE CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE) / len(lines) END) <= 0.30
                  AND (CASE WHEN (CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(toks) END) <= 0 THEN 0.0
                       ELSE CAST(n_sym AS DOUBLE) / len(toks) END) <= 0.10
                  AND (CASE WHEN len(toks) <= 0 THEN 0.0
                       ELSE CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) END)
                      BETWEEN 3.0 AND 10.0
                  AND ROUND(
                        0.4 * LEAST(CAST(n AS DOUBLE) / 500.0, 1.0)
                      + 0.3 * (1.0 - LEAST((CASE WHEN n = 0 THEN 0.0 ELSE CAST(n_punct AS DOUBLE)/n END) * 4.0, 1.0))
                      + 0.3 * (1.0 - LEAST((CASE WHEN n = 0 THEN 0.0 ELSE CAST(n_digit AS DOUBLE)/n END) * 4.0, 1.0)),
                      6) >= 0.5
            ),
            grams AS (
                SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
                FROM kept, LATERAL UNNEST(range(1, len(toks) - 1)) AS u(i)
                WHERE len(toks) >= 3
                UNION
                SELECT DISTINCT doc_id, array_to_string(toks, ' ') AS g
                FROM kept WHERE len(toks) < 3 AND len(toks) > 0
            ),
            sizes AS (SELECT doc_id, COUNT(*) AS ng FROM grams GROUP BY doc_id),
            dropped AS (
                SELECT DISTINCT b.doc_id
                FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
                JOIN sizes sa ON sa.doc_id = a.doc_id
                JOIN sizes sb ON sb.doc_id = b.doc_id
                GROUP BY a.doc_id, b.doc_id, sa.ng, sb.ng
                HAVING CAST(COUNT(*) AS DOUBLE) / (sa.ng + sb.ng - COUNT(*)) >= 0.8
            )
            SELECT COUNT(*) AS n_clean, COUNT(DISTINCT lang) AS n_langs
            FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
        """,
        "gopher_metrics_documents": r"""
            WITH t AS (
                SELECT doc_id, text,
                       string_split(text, chr(10)) AS lines,
                       string_split_regex(trim(text), '\s+') AS toks
                FROM documents
            )
            SELECT doc_id,
                   ROUND(CASE WHEN len(lines) <= 0 THEN 0.0
                        ELSE CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
                             / len(lines) END, 6) AS dup_line_frac,
                   ROUND(CASE WHEN (CASE WHEN length(trim(text)) = 0 THEN 0
                                         ELSE len(toks) END) <= 0 THEN 0.0
                        ELSE CAST(length(text) -
                                  length(regexp_replace(text, '#|\.\.\.', '', 'g'))
                                  AS DOUBLE) / len(toks) END, 6)
                     AS symbol_word_ratio,
                   ROUND(CASE WHEN len(toks) <= 0 THEN 0.0
                        ELSE CAST(list_sum(list_transform(toks, x -> length(x)))
                                  AS DOUBLE) / len(toks) END, 6) AS mean_word_len
            FROM t
        """,
        "pii_scrub_documents": r"""
            WITH injected AS (
                SELECT doc_id,
                       'reach user' || doc_id || '@example.com or 10.0.0.' ||
                       (doc_id % 256) || ' num 4111 1111 1111 1111 ' || text AS raw
                FROM documents
            )
            SELECT doc_id,
                   CAST(length(
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(raw,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                           '<EMAIL>', 'g'),
                         '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
                       '\b[0-9][0-9 \-]{9,}[0-9]\b', '<NUM>', 'g')
                   ) AS BIGINT) AS clean_len,
                   CAST(len(regexp_extract_all(raw,
                        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                     AS BIGINT) AS n_emails
            FROM injected
        """,
        "media_metadata_documents": """
            SELECT doc_id AS media_id,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   sha256(text) AS content_sha256
            FROM documents
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                   COUNT(*) AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "join_mktsegment_orders": """
            SELECT c_mktsegment,
                   COUNT(*) AS n_orders,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_totalprice
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "window_top_order_per_cust": """
            SELECT o_custkey, o_orderkey FROM (
                SELECT o_custkey, o_orderkey,
                       ROW_NUMBER() OVER (
                           PARTITION BY o_custkey
                           ORDER BY o_totalprice DESC, o_orderkey ASC
                       ) AS rn
                FROM orders
            ) WHERE rn = 1
        """,
        "customers_without_orders": """
            SELECT c_custkey FROM customer
            WHERE NOT EXISTS (
                SELECT 1 FROM orders WHERE o_custkey = c_custkey
            )
        """,
        "rollup_user_counts": """
            SELECT event_type, COUNT(DISTINCT user_id) AS distinct_users
            FROM events GROUP BY ROLLUP(event_type)
        """,
        "json_props_stats": """
            SELECT event_type,
                   CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                        AS BIGINT) AS sum_k,
                   CAST(COUNT(*) FILTER (
                        WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
                   ) AS BIGINT) AS n_high
            FROM events GROUP BY event_type
        """,
        "exact_quantiles_price": """
            SELECT l_returnflag,
                   ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
                   ROUND(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
                   ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS p75
            FROM lineitem GROUP BY l_returnflag
        """,
        "setop_partkeys_except": """
            SELECT DISTINCT l_partkey FROM lineitem
            WHERE l_shipdate < TIMESTAMP '1998-06-01'
            EXCEPT
            SELECT DISTINCT l_partkey FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1998-06-01'
        """,
        "asof_last_order": """
            SELECT e.event_id, o.o_orderdate AS asof_o_orderdate
            FROM events e ASOF LEFT JOIN orders o
              ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        """,
        "session_counts": """
            SELECT user_id, CAST(SUM(is_new) AS BIGINT) AS n_sessions FROM (
                SELECT user_id,
                       CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                                 OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 86400
                            THEN 1 ELSE 0 END AS is_new
                FROM events
            ) GROUP BY user_id
        """,
        "range_join_value_bands": """
            SELECT n.n_nationkey AS band_id,
                   COUNT(*) AS n_events,
                   CAST(SUM(e.event_id) AS BIGINT) AS sum_event_id
            FROM events e
            JOIN nation n
              ON e.value >= n.n_nationkey * 3.0
             AND e.value <= n.n_nationkey * 3.0 + 2.0
            GROUP BY 1
        """,
        "pivot_event_type_by_cohort": """
            SELECT user_id % 10 AS cohort,
                   COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
                   COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
                   COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
                       AS purchase,
                   COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
                   COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
            FROM events GROUP BY 1
        """,
    }
