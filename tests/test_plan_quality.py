"""Plan-quality gates over every driver query (BENCH/BASELINE.md §5).

At 100 TB the plan shape IS the performance model, so these are hard
assertions, not docs: no query may plan a cartesian/nested-loop join,
filtered parquet scans must show pushed filters, and single-column
reads must prune the schema.
"""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"

# queries whose plans we gate (skip the ones that pre-collect internally:
# cms/bloom/ann broadcast a driver-built blob by design, and the sketch
# union/intersect queries join two ONE-ROW frames where a cross join is
# the correct plan)
GATED = [
    "hll_users_by_event_type",
    "hll_custkey_by_month",
    "hll_flagship_distinct_text",
    "hll_distinct_order_part_pairs",
    "hll_users_salted",
    "exact_dedup_documents",
    "duplicate_groups_documents",
    "embedding_dup_pairs",
    "minhash_pairs_documents",
    "simhash_pairs_documents",
    "ngram_jaccard_pairs",
    "token_counts_documents",
    "text_quality_documents",
    "lang_id_documents",
    "fingerprint_documents",
    "media_metadata_documents",
    "media_features_documents",
    "pricing_summary",
    "join_mktsegment_orders",
    "window_top_order_per_cust",
    "customers_without_orders",
    "rollup_user_counts",
    "setop_partkeys_except",
    "asof_last_order",
    "session_counts",
    # round-3 additions
    "theta_estimate_orderkeys",
    "embedding_dup_pairs_tight",
    "minhash_dedup_parity",
    "decoded_media_stats",
    "mg_top_sources",
    "strip_boilerplate_docs",
    "range_join_value_bands",  # the whole point: no nested loop
    "customers_with_orders_semi",
    "window_event_neighbors",
    "cube_event_stats",
    "unpivot_doc_metrics",
    "pivot_event_type_by_cohort",
    "distinct_urls_by_host",
    "normalize_urls_docs",
    "extract_text_pages",
    "extract_text_pages_arrow",
    # round-4 additions
    "minhash_pairs_parity",
    "simhash_pairs_parity",
    "minhash_join_parity",  # cross-corpus banded bucket join, hash only
    "dedup_increment_parity",  # minhash_join + left_anti hash join
    # (paragraph_dedup_parity and decontaminate_documents are excluded
    # like cms/bloom: each cross-joins ONE deliberately-1-row broadcast
    # frame — the shared-paragraph / collected-snippet-array scaffold —
    # where a broadcast NLJ of one row is the correct plan; the
    # underlying operators are join-free / hash-join only)
    "decontaminate_ngrams",
    "consistent_sample_parity",  # pure codegen filter scan
    "temperature_resample_docs",  # tiny-agg + broadcast hash join back
    # crawl-ledger ops (continuation session)
    "latest_crawl_parity",  # one hash aggregate, no window sort
    "blocklist_filter_parity",  # arrays_overlap codegen filter
    "cap_per_host_parity",  # counts join + hash-prefilter + window
    "repetition_metrics_documents",  # pure JVM array lambdas
    "window_distinct_users_daily",  # window() bucketing + HLL scaffold
    "window_distinct_users_hopping",  # window(slide) + HLL scaffold
    "crawl_ingest_parity",  # the composed ingest chain stays NLJ-free
    # (theta_jaccard_partkeys excluded like the other theta queries:
    # the 1-row sketch-pair crossJoin is the correct plan)
    # late-r4 additions
    "repeated_span_stats",  # one gram window + hash joins only
    "remove_repeated_spans",  # same shuffle shape as the stats half
    "decontaminate_bloom",  # bitmap probe + hash verify join
    "weighted_sample_docs",  # TakeOrderedAndProject, no global sort
    "top_vocab",  # one hash aggregate + TakeOrderedAndProject
    "stratified_split_docs",  # md5-rank windows, no joins
    "kll_range_buckets_price",  # literal-array bucket filter + hash agg
    "normalize_unicode_docs",  # one Arrow-batched projection, no joins
    "semdedup_parity",  # mapInPandas assign + cell-grouped prune, join-free
    "lm_perplexity_documents",  # broadcast hash joins + map-side-combined aggs
    "dsir_importance_documents",  # same shape, two broadcast model sides
    "shard_manifest_documents",  # one codegen projection + hash aggregate
    "char_entropy_documents",  # one Arrow-batched projection, no joins
    # (tfidf_top_terms excluded like decontaminate_documents: its only
    # cross join broadcasts the deliberately-1-row corpus-count frame)
    # (quality_classifier_parity excluded for the same reason: the
    # bias rides a broadcast 1-row crossJoin; every model join is a
    # broadcast HASH join on feat)
    "token_budget_selection",  # range shuffle + mapInPandas, join-free
    # closing-r4 additions
    "budget_mixture_by_lang",  # same pruned scan, grouped
    "fd_gram_by_label",  # per-group blob build + mapInArrow merge
    "profile_orders_columns",  # one column_partials scan + merge by label
    "fk_discovery_tpch",  # a column_partials scan per table, ONE label merge
    "hll_overlap_events",  # ONE grouped build + single-task pair emit
    "theta_overlap_orders",  # same shape, theta DIRECT intersections
    "chunk_documents",  # pure-JVM generator projection, zero shuffles
    "salted_join_brand_volume",  # hot/cold split: hash joins only
    "image_dup_pairs_parity",  # dhash banding: chunk equality self-join
    "audio_dup_pairs_parity",  # same banding shape over WAV energy hash
    "warc_ingest_parity",  # one mapInPandas parse pass, no joins
    "host_pagerank_parity",  # hash joins + map-side sums per iteration
    "robots_filter_parity",  # rules hash join + max-struct election
    "pseudonymize_docs",  # pure codegen projection
    "k_anonymity_orders",  # two-level hash aggregate
    "split_sentences_docs",  # regexp_extract_all + posexplode, no joins
    "page_meta_parity",  # four codegen regexp_extract's
    "warc_corpus_parity",  # parse pass + codegen filter/extract chain
    "fix_mojibake_parity",  # one Arrow-batched projection, no joins
    "anchor_texts_parity",  # dual-group regexp zip + hash aggregate
    "corpus_diff_orders",  # ONE full-outer hash join + single aggregate
    "sliding_distinct_users",  # mapInArrow partials + grouped merges, join-free
    "kmeans_clusters_embeddings",  # one Arrow-batched assign + hash aggregate
    # (sliding_distinct_by_type excluded like the theta/cms queries:
    # its only cross join broadcasts the deliberately-1-row global
    # anchor frame against the per-group blob frame)
    # (bm25_retrieval_documents excluded like tfidf_top_terms: its only
    # nested loop broadcasts the deliberately-1-row corpus-stats frame;
    # test_retrieval.py asserts exactly one NLJ and >= 3 broadcast HASH
    # joins on the same plan)
]


def _plan(spark, name):
    df = entry_mod.queries()[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", GATED)
def test_no_cartesian_or_nested_loop(spark, name):
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, name
    assert "BroadcastNestedLoopJoin" not in plan, name


def test_filter_pushdown_reaches_scan(spark):
    docs = entry_mod._t(spark, SF, "documents")
    plan = (
        docs.where(F.col("lang") == "en")
        .select("doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "lang" in plan


def test_column_pruning_reaches_scan(spark):
    # a 1-column projection must not read the whole documents schema
    plan = _plan(spark, "token_counts_documents")
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" in read_schema and "doc_id" in read_schema
    assert "media" not in read_schema and "lang" not in read_schema


def test_whole_stage_codegen_in_relational_queries(spark):
    # AQE reveals codegen only in the FINAL plan (shown as the "*(n)"
    # stage-id prefix in the compact string), so execute first
    for name in ("pricing_summary", "join_mktsegment_orders"):
        df = entry_mod.queries()[name](spark, SF)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan and "*(" in plan, name


def test_broadcast_join_for_small_dimension(spark):
    plan = _plan(spark, "join_mktsegment_orders")
    assert "BroadcastHashJoin" in plan


def test_sketch_scaffold_plans_have_no_pandas_udf_stage(spark):
    # the scaffold's level-0 build, merge, overlap emit, sliding window
    # answers and one-scan many-column builds (profile, FK discovery) are
    # all mapInArrow: no pandas conversion stage in any plan. "Sketch,
    # then answer" APIs answer inside the merge task: no UDF stage after it
    from hll_spark.operators.agg import (
        hll_distinct,
        hll_overlap_matrix,
        hll_sketch_agg,
        hll_spec,
        merge_sketch_partials,
        sketch_partials,
    )
    from hll_spark.operators.diagnostics import fk_containment_report, profile_table
    from hll_spark.operators.matrix import fd_gram_by
    from hll_spark.operators.sketches import (
        distinct_sample,
        kll_quantiles,
        mg_top_items,
        tdigest_quantiles,
    )
    from hll_spark.operators.sliding import sliding_distinct_windows

    ev = spark.range(900).select(
        (F.col("id") % 4).alias("grp"),
        (F.col("id") * 37 % 409).alias("user_id"),
        F.timestamp_micros(
            F.lit(1_600_000_000_000_000) + (F.col("id") * 7919 % 5000) * 60_000_000
        ).alias("ts"),
    )
    wins = {"d1": 86400, "d7": 7 * 86400}
    partials = sketch_partials(ev, "user_id", hll_spec())
    items = ev.select("grp", F.col("user_id").cast("string").alias("item"))
    emb = ev.select("grp", F.array(F.col("user_id").cast("double"), F.lit(1.0)).alias("e"))
    frames = {
        "hll_global": hll_sketch_agg(ev, "user_id"),
        "hll_grouped": hll_sketch_agg(ev, "user_id", by=["grp"]),
        "two_level": merge_sketch_partials(partials, hll_spec(), two_level=True),
        "overlap": hll_overlap_matrix(ev, "user_id", "grp"),
        "sliding_global": sliding_distinct_windows(ev, "user_id", "ts", wins),
        "sliding_grouped": sliding_distinct_windows(
            ev, "user_id", "ts", wins, by=["grp"]
        ),
        "profile": profile_table(ev, columns=["grp", "user_id"]),
        "fk": fk_containment_report(
            [
                (ev, "user_id", "ev.user_id"),
                (spark.range(300).select((F.col("id") * 3).alias("k")), "k", "other.k"),
            ]
        ),
        "hll_distinct_global": hll_distinct(ev, "user_id"),
        "hll_distinct_grouped": hll_distinct(ev, "user_id", by=["grp"]),
        "kll_5q": kll_quantiles(ev, "user_id", [0.1, 0.25, 0.5, 0.75, 0.9], by=["grp"]),
        "tdigest": tdigest_quantiles(ev, "user_id", [0.5, 0.9], by=["grp"]),
        "mg_top": mg_top_items(items, "item", by=["grp"]),
        "distinct_sample": distinct_sample(items, "item", k=16, by=["grp"]),
        "fd_gram_by": fd_gram_by(emb, "e", ["grp"], ell=4),
    }
    plans = {
        k: df._jdf.queryExecution().executedPlan().toString()
        for k, df in frames.items()
    }
    for name, plan in plans.items():
        assert "MapInArrow" in plan, name
        assert "MapInPandas" not in plan, name
        assert "FlatMapGroupsInPandas" not in plan, name
        assert "BatchEvalPython" not in plan, name
        if name != "fk":  # its sketch pairs meet after a broadcast join
            assert "ArrowEvalPython" not in plan, name
    # grouped sliding: the merge's hash exchange, the anchor's single-
    # partition and broadcast exchanges and the orderBy's range exchange —
    # the window answers add no exchange of their own
    assert plans["sliding_grouped"].count("Exchange") == 4
    # profile: the merge by label is the only shuffle; the render runs in
    # its tasks. FK discovery: one merge by label for both tables — its
    # two broadcast sides are one exchange once AQE reuses it, so the
    # count is read from the executed plan
    assert plans["profile"].count("Exchange") == 1
    # profile: level 0 and the merge are its only Python stages
    assert plans["profile"].count("MapInArrow") == 2
    fk = frames["fk"]
    fk.collect()
    final = fk._jdf.queryExecution().executedPlan().toString()
    assert final.split("== Initial Plan ==")[0].count("hashpartitioning(label") == 1
