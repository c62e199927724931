"""Composed training-data cleaning pipeline — the product story in one
operator: raw web documents in, deduplicated quality corpus out.

Stages (each individually covered elsewhere; this wires them in the
order a production corpus build runs them):

1. exact dedup       — digest groupBy, keep min-id per identical text
2. quality gates     — Gopher repetition rules (JVM-expressible
                       subset) + the heuristic quality score
3. near-dup removal  — pairwise Jaccard >= threshold, drop the higher
                       id of each pair (keeps the earliest copy;
                       chains collapse to their minimum)

Every stage is shuffle-minimal: one digest aggregate, per-row metric
columns (no shuffle), and the near-dup candidate join. The whole
pipeline is deterministic, so the driver query over it is checked
against a full DuckDB re-implementation (oracle) at sf0.01/sf0.1 —
an end-to-end correctness gate over the composition, not just the
parts.

At 100 TB swap stage 3's exact-Jaccard pair finder for
``minhash_lsh_pairs`` (same output contract; sub-quadratic) — the
exact form is used here because the oracle can reproduce it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .components import dedup_by_components
from .dedup import exact_dedup, minhash_dedup_keep, ngram_jaccard_pairs
from .text import (
    duplicate_line_fraction,
    mean_word_length,
    quality_score,
    symbol_word_ratio,
)


def clean_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.5,
    max_dup_line_fraction: float = 0.30,
    max_symbol_word_ratio: float = 0.10,
    word_len_bounds: tuple = (3.0, 10.0),
    neardup_threshold: float = 0.8,
    exact_neardup: bool = True,
    max_shingle_df: int | None = None,
    cluster_dedup: bool = False,
) -> DataFrame:
    """Return the cleaned corpus (all original columns preserved).

    ``exact_neardup=True`` uses the exact n-gram Jaccard pair finder
    (oracle-reproducible); ``False`` uses MinHash-LSH — the at-scale
    path with identical output contract. ``max_shingle_df`` passes a
    shingle document-frequency cap through to the exact pair finder
    (None = truly exact, the default here — the cap is opt-in for this
    path precisely because this docstring promises oracle parity).

    ``cluster_dedup=True`` (exact path only) replaces the pairwise
    drop rule with connected-components clustering: near-dup
    similarity is not transitive, and the pairwise rule can keep two
    mutually-similar-via-a-chain survivors (edges (1,2),(0,2) keep
    both 0 and 1); components guarantee exactly ONE survivor — the
    minimum id — per duplicate cluster (components.py).
    """
    lo, hi = word_len_bounds
    if cluster_dedup:
        id_type = dict(df.dtypes).get(id_col, "")
        if id_type not in ("tinyint", "smallint", "int", "bigint"):
            raise ValueError(
                f"cluster_dedup requires an integral id column "
                f"(components.py casts node ids to long); {id_col!r} "
                f"is {id_type or 'missing'} — string ids would cast "
                "to null and silently empty the corpus"
            )
    from .scanutil import LINEAGE_CUT_MIN_BYTES, plan_bytes, reused

    kept = exact_dedup(df, [text_col], id_col)
    kept = (
        kept.where(duplicate_line_fraction(text_col) <= max_dup_line_fraction)
        .where(symbol_word_ratio(text_col) <= max_symbol_word_ratio)
        .where(mean_word_length(text_col).between(lo, hi))
        .where(quality_score(text_col) >= min_quality)
    )
    if plan_bytes(df) > LINEAGE_CUT_MIN_BYTES:
        # ``kept`` feeds BOTH the near-dup pair finder and the
        # survivor join below; on a LARGE corpus cut the lineage once
        # so the exact dedup + gate filters do not execute per
        # consumer (a full extra corpus pass). On a small input the
        # duplicate subtrees overlap on idle cores and the
        # materialization costs more than it saves (interleaved A/B,
        # r6) — a scale decision from input statistics.
        kept = reused(kept)
    if exact_neardup:
        pairs = ngram_jaccard_pairs(
            kept, text_col, id_col, threshold=neardup_threshold,
            max_shingle_df=max_shingle_df,
        )
        if cluster_dedup:
            return dedup_by_components(
                kept, pairs, id_col, left_col="id_a", right_col="id_b"
            )
        drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
        return kept.join(drop, id_col, "left_anti")
    if cluster_dedup:
        raise ValueError(
            "cluster_dedup requires the exact pair finder "
            "(exact_neardup=True); the rep-based LSH path never "
            "enumerates pairs to cluster"
        )
    # at-scale path: representative-based LSH dedup — never enumerates
    # pairs, so boilerplate clusters (quadratic pair counts) cannot
    # blow it up; see minhash_dedup_keep for the exact drop rule
    return minhash_dedup_keep(
        kept, text_col, id_col, threshold=neardup_threshold
    )


def crawl_ingest(
    crawls: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "text",
    tiebreak: "list[str] | None" = None,
    blocklist: "list[str] | DataFrame | None" = None,
    host_cap: int | None = None,
    cap_seed: int = 0,
    clean: bool = True,
    **clean_kwargs,
) -> DataFrame:
    """The full ingest chain of a Common-Crawl-style corpus build —
    crawl ledger in, training corpus out:

    1. recrawl dedup   — newest fetch per url (crawl.latest_crawl)
    2. domain blocklist— suffix-rule removal (crawl.domain_blocklist_filter)
    3. per-host quota  — deterministic cap (crawl.cap_per_key)
    4. clean_corpus    — exact dedup + quality gates + near-dup removal
                         (keyed by url; all clean_corpus kwargs pass
                         through, including exact_neardup=False for the
                         at-scale LSH path)

    Stages 2-3 run over a derived ``host`` column (url.url_host) that
    is dropped again, so the output schema equals the input schema
    (minus rows). Every stage is individually oracle-checked
    elsewhere; the driver query over THIS composition
    (`crawl_ingest_parity`) value-checks the chain end-to-end against
    a single DuckDB re-implementation — the guarantee that the stages
    compose without order bugs (e.g. capping before blocklisting
    would silently shift quotas).

    100 TB: one max-struct aggregate, one codegen filter (or exploded
    broadcast semi-join), one count-join + hash-prefilter window over
    O(cap) rows per host, then clean_corpus's shuffle-minimal stages —
    no stage sorts the corpus or enumerates unbounded pairs.
    """
    from .crawl import cap_per_key, domain_blocklist_filter, latest_crawl
    from .scanutil import reused
    from .url import url_host

    out = latest_crawl(crawls, url_col, ts_col, tiebreak)
    need_host = blocklist is not None or host_cap is not None
    if need_host:
        if "host" in out.columns:
            raise ValueError(
                "crawl_ingest derives a 'host' column for the "
                "blocklist/cap stages; rename the input's host column"
            )
        out = out.withColumn("host", url_host(F.col(url_col)))
    if blocklist is not None:
        out = domain_blocklist_filter(out, blocklist, host_col="host")
    if host_cap is not None:
        out = cap_per_key(out, "host", host_cap, url_col, seed=cap_seed)
    if need_host:
        out = out.drop("host")
    if clean:
        # clean_corpus scans its input several times (digest groupBy +
        # join-back, quality gates, near-dup candidate + verify);
        # without a lineage cut each scan would REPLAY the
        # latest_crawl aggregate and the cap's count-join.
        out = reused(out)
        out = clean_corpus(
            out, text_col=text_col, id_col=url_col, **clean_kwargs
        )
    return out


def curate_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_ppl: float | None = None,
    lm_vocab_size: int = 10_000,
    target: DataFrame | None = None,
    min_logratio: float | None = None,
    min_clf_score_micro: int | None = None,
    clf_kwargs: dict | None = None,
    token_budget: int | None = None,
    n_shards: int | None = None,
    shard_seed: int = 0,
    clean: bool = True,
    **clean_kwargs,
) -> DataFrame:
    """The full curation chain a modern LLM-data build runs AFTER
    ingest — cleaned documents in, training-ready (optionally sharded)
    corpus out:

    1. clean_corpus     — exact dedup + quality gates + near-dup
                          removal (pass ``exact_neardup=False`` for the
                          at-scale rep-based MinHash path)
    2. LM quality gate  — CCNet-style: self-fit bigram perplexity,
                          keep docs with ``ppl <= max_ppl`` (empty docs
                          drop: no evidence of fluency)
    3. DSIR selection   — keep docs whose per-token target/source
                          log-ratio is ``>= min_logratio`` against the
                          ``target`` domain corpus. The threshold is an
                          absolute value so the keep-set is exactly
                          deterministic at any parallelism; derive it
                          from a KLL quantile of a scored sample when
                          you want "top X%" semantics.
    4. classifier gate  — CCNet/LLaMA's other quality filter: a
                          hashed-ngram linear classifier trained
                          target-vs-pool (``target`` docs label 1, the
                          current pool label 0, ids disambiguated by
                          even/odd doubling), keep docs scoring
                          ``>= min_clf_score_micro`` (exact-integer
                          micro-units; 500_000 = the 0.5 decision
                          boundary). ``clf_kwargs`` forwards to
                          ``fit_quality_classifier``.
    5. token budget     — greedy fill to ``token_budget`` whitespace
                          tokens, best-first: by classifier score DESC
                          when stage 4 ran, else by ``id_col`` — the
                          epoch-sizing cut
                          (packing.select_to_token_budget).
    6. sharding         — deterministic portable-md5 ``shard_id``
                          (plans/shards.assign_shards) when
                          ``n_shards`` is set.

    Stages 2-3 each add one corpus scan + bounded broadcast joins (the
    LM models) and one semi-join back on ``id_col``; nothing sorts the
    corpus globally. Every stage is individually value-oracled by its
    own driver query (clean_corpus_*, lm_perplexity_documents,
    dsir_importance_documents, shard_manifest_documents); the
    composition is covered by determinism/membership tests in
    test_pipeline_curate.py.
    """
    from ..plans.shards import assign_shards
    from .lm import bigram_lm_perplexity, dsir_importance
    from .scanutil import reused

    n_lm_gates = (max_ppl is not None) + (min_logratio is not None)
    out = (
        clean_corpus(docs, text_col=text_col, id_col=id_col, **clean_kwargs)
        if clean
        else docs
    )
    if clean and n_lm_gates:
        # each LM gate scans its input several times (vocab fit, model
        # fit, scoring, semi-join back); without a lineage cut every
        # scan would REPLAY the clean_corpus DAG — MinHash dedup
        # included. The cut materializes the cleaned corpus once.
        out = reused(out)
    if max_ppl is not None:
        scores = bigram_lm_perplexity(
            out, text_col, id_col, vocab_size=lm_vocab_size
        ).where(F.col("ppl") <= max_ppl)
        out = out.join(scores.select(id_col), id_col, "left_semi")
        if min_logratio is not None:
            out = reused(out)
    if min_logratio is not None:
        if target is None:
            raise ValueError("min_logratio requires a target corpus")
        imp = dsir_importance(
            out, target, text_col, id_col, vocab_size=lm_vocab_size
        ).where(F.col("avg_logratio") >= min_logratio)
        out = out.join(imp.select(id_col), id_col, "left_semi")
    clf_scores = None
    if min_clf_score_micro is not None:
        if target is None:
            raise ValueError("min_clf_score_micro requires a target corpus")
        from .classifier import fit_quality_classifier, score_quality

        out = reused(out)
        # target-vs-pool training frame; even/odd id doubling keeps ids
        # unique across the union without nondeterministic renumbering
        train = out.select(
            (F.col(id_col) * 2).alias(id_col),
            F.col(text_col),
            F.lit(0).alias("__y"),
        ).unionByName(
            target.select(
                (F.col(id_col) * 2 + 1).alias(id_col),
                F.col(text_col),
                F.lit(1).alias("__y"),
            )
        )
        kw = dict(clf_kwargs or {})
        if "pos_weight" not in kw:
            # the reference corpus is usually a small minority of the
            # pool; balance the classes or the label-0 majority drags
            # every score below the boundary (CCNet balances samples)
            kw["pos_weight"] = max(1, out.count() // max(target.count(), 1))
        model = fit_quality_classifier(
            train, "__y", text_col, id_col, **kw
        )
        clf_scores = score_quality(out, model, text_col, id_col).select(
            id_col, "score_micro"
        )
        kept = clf_scores.where(
            F.col("score_micro") >= min_clf_score_micro
        )
        out = out.join(kept.select(id_col), id_col, "left_semi")
    if token_budget is not None:
        from .packing import select_to_token_budget
        from .text import token_count

        sized = out.select(F.col(id_col), token_count(text_col).alias("__tok"))
        if clf_scores is not None:
            sized = sized.join(clf_scores, id_col)
            order = [("score_micro", True), id_col]
        else:
            order = [id_col]
        picked = select_to_token_budget(
            sized, id_col, "__tok", token_budget, order_by=order
        )
        out = out.join(
            picked.select(F.col("doc_id").alias(id_col)), id_col, "left_semi"
        )
    if n_shards is not None:
        out = assign_shards(out, id_col, n_shards, seed=shard_seed)
    return out
