"""N-gram language-model perplexity scoring (CCNet-style quality filter).

CCNet (Wenzek et al. 2020, arXiv:1911.00359) ranks web documents by the
perplexity of a language model and keeps the fluent low-perplexity tail
— the most load-bearing quality signal in that pipeline. The original
uses KenLM; this is a from-scratch bigram LM with add-one smoothing
over a closed top-V vocabulary, built and applied entirely with Spark
built-ins:

- **fit**: word counts -> top-V vocab (deterministic (count DESC,
  word ASC) tie-break, collected once — <= V strings — and re-broadcast
  as a join side); per-doc bigrams form JVM-side from the token array
  (BOS-shifted zip, no window/sort), THEN unk-map via two broadcast
  joins (pointwise mapping commutes with pairing); bigram/context
  counts aggregate with map-side combine, so shuffle volume is bounded
  by the distinct-gram count, never the corpus size.
- **score**: the same bigram explode + broadcast joins against the
  bounded model, then one per-doc partial sum. Zero Python rows in
  either path.

Numeric contract: each bigram contributes an INTEGER micro-log
``floor(log10(p) * 1e6)`` (floor, not round — identical semantics in
every engine) and docs aggregate by exact BIGINT sums, so the result
is bitwise deterministic under any partitioning or association order
and mirrorable in ANSI SQL — the driver oracle recomputes the whole
fit+score in DuckDB. Perplexity = 10^(nll_micro / (1e6 * n_tokens)).

Smoothing: p(w | c) = (cnt(c, w) + 1) / (ctx(c) + v_eff) with
v_eff = |vocab| + 1 (the ``<unk>`` bucket). Every scored bigram of the
TRAINING corpus exists in the model by construction; scoring a
different corpus falls back to cnt = 0 (and ctx = 0 for an unseen
context), i.e. p = 1 / v_eff.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

BOS = "<s>"
UNK = "<unk>"

# Java's \s byte set, pinned explicitly so the SQL mirror can use the
# identical class (RE2's \s lacks \x0B)
_WS = "[ \\t\\n\\x0B\\f\\r]+"


def _tokens(text_col: str | Column) -> Column:
    """Lowercase whitespace tokens; empty/blank/null-safe via trim."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.filter(
        F.split(F.trim(F.lower(c)), _WS), lambda t: t != F.lit("")
    )


def _bigrams(df: DataFrame, text_col: str, id_col: str | None) -> DataFrame:
    """Explode per-doc (w_prev, w) pairs with a BOS context for the
    first token. Pairing happens in array space (shifted zip) — no
    window, no per-doc sort, one narrow projection then explode.
    ``id_col=None`` drops ids (the fit path needs only the pairs).

    The document-start context is marked POSITIONALLY (``__first``),
    never by comparing the token text to "<s>": web text contains
    literal "<s>"/"<unk>" strings (stripped HTML tags), and a value
    comparison would conflate them with the sentinels."""
    toks = _tokens(text_col)
    prevs = F.concat(
        F.array(F.lit(BOS)), F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0)))
    )
    pairs = F.arrays_zip(prevs.alias("w_prev"), toks.alias("w"))
    head = [F.col(id_col)] if id_col else []
    return (
        df.select(*head, F.posexplode(pairs).alias("__pos", "pair"))
        .select(
            *([id_col] if id_col else []),
            (F.col("__pos") == 0).alias("__first"),
            F.col("pair.w_prev").alias("w_prev_raw"),
            F.col("pair.w").alias("w_raw"),
        )
        # arrays_zip pads the shorter side with null: for an EMPTY doc
        # prevs is [BOS] vs zero tokens, which would fabricate a
        # (BOS, null) pair — tokens are never null, so drop the pad
        .where(F.col("w_raw").isNotNull())
    )


def _unk_map(bigrams: DataFrame, vocab: DataFrame) -> DataFrame:
    """Map both bigram slots through the closed vocab (miss -> <unk>).
    The BOS context is the pair flagged ``__first`` — a positional
    property, so a LITERAL "<s>" token in text maps through the vocab
    like any other word (and, since sentinels are barred from the
    vocab, lands on <unk>). Two broadcast hash joins against the
    <= V-row vocab frame."""
    v1 = F.broadcast(vocab.select(F.col("w").alias("__v1")))
    v2 = F.broadcast(vocab.select(F.col("w").alias("__v2")))
    drop = ("w_prev_raw", "w_raw", "__first")
    return (
        bigrams.join(v1, bigrams["w_prev_raw"] == v1["__v1"], "left")
        .join(v2, bigrams["w_raw"] == v2["__v2"], "left")
        .select(
            *[c for c in bigrams.columns if c not in drop],
            F.when(F.col("__first"), F.lit(BOS))
            .otherwise(F.coalesce(F.col("__v1"), F.lit(UNK)))
            .alias("w_prev"),
            F.coalesce(F.col("__v2"), F.lit(UNK)).alias("w"),
        )
    )


def fit_bigram_lm(
    train: DataFrame,
    text_col: str = "text",
    vocab_size: int = 10_000,
    vocab: DataFrame | None = None,
    n_vocab: int | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame, int]:
    """Fit the LM on ``train``. Returns ``(vocab, model, contexts,
    v_eff)``: vocab is a <= vocab_size-row (w) frame built from a
    driver-side collect of the top-V words (bounded by construction,
    so the collect is the cheap and correct move — the frame is then a
    stable literal reused by three downstream joins without
    recomputing the word-count aggregation); model is (w_prev, w, cnt);
    contexts is (w_prev, ctx) = the model re-aggregated; v_eff =
    |vocab| + 1.

    Pass a prebuilt ``vocab`` (a (w) frame) to fit counts over a FIXED
    event space — required when two models must share a vocabulary so
    their probabilities are comparable (see ``dsir_importance``);
    ``n_vocab`` (its row count, when the caller already knows it — e.g.
    it came from another fit) skips the one count job that would
    otherwise re-measure the frame."""
    if vocab_size < 1:
        raise ValueError(f"vocab_size must be >= 1, got {vocab_size}")
    spark = train.sparkSession
    if vocab is None:
        top = (
            train.select(F.explode(_tokens(text_col)).alias("w"))
            # the sentinels are RESERVED: a literal "<s>"/"<unk>" token
            # in text never enters the vocab, so it always maps to the
            # <unk> bucket and can't collide with the markers
            .where(~F.col("w").isin(BOS, UNK))
            .groupBy("w")
            .agg(F.count("*").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("w"))
            .limit(vocab_size)
            .select("w")
            .collect()
        )
        from ..localdf import fast_local_df

        if top:
            vocab = fast_local_df(spark, [(r.w,) for r in top], "w string")
        else:  # empty/blank corpus: closed vocab is just the <unk> bucket
            vocab = fast_local_df(spark, [], "w string")
        v_eff = len(top) + 1
    else:
        v_eff = (n_vocab if n_vocab is not None else vocab.count()) + 1
    mapped = _unk_map(_bigrams(train, text_col, None), vocab)
    model = mapped.groupBy("w_prev", "w").agg(F.count("*").alias("cnt"))
    # ``model`` and ``contexts`` ride SEPARATE broadcast exchanges
    # downstream (scoring joins both), and contexts is an aggregate OF
    # model — without a lineage cut the corpus bigram explode+aggregate
    # executes once per exchange (twice per model, 4x in
    # dsir_importance). On a LARGE training corpus that duplication is
    # a full extra pass, so materialize the fitted model once (it is bounded
    # by the distinct-gram count — broadcast-sized by the module
    # contract). On a small corpus the duplicate 1-task aggregates run
    # concurrently on idle cores and the materialization is
    # pure overhead (interleaved A/B, r6: +0.2 s at sf0.1), so the cut
    # is gated on the plan-stats size of the training input — a scale
    # decision from input statistics, not a local-mode constant.
    from .scanutil import LINEAGE_CUT_MIN_BYTES, plan_bytes, reused

    if plan_bytes(train) > LINEAGE_CUT_MIN_BYTES:
        model = reused(model)
    contexts = model.groupBy("w_prev").agg(F.sum("cnt").alias("ctx"))
    return vocab, model, contexts, v_eff


def _maybe_broadcast(frame: DataFrame, flag: bool) -> DataFrame:
    """The fitted model is bounded by the distinct-gram count, not by
    a constant: (V+1)^2 in the worst case, far less under Zipfian text
    but potentially tens of millions of rows at vocab_size ~10^4 on a
    huge corpus. broadcast=True (default) is right for the common
    case; pass False to fall back to a shuffle hash join when the
    model itself is executor-memory-sized (AQE will still convert the
    join back to broadcast at runtime if the model turns out small)."""
    return F.broadcast(frame) if flag else frame


def bigram_lm_perplexity(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    train: DataFrame | None = None,
    vocab_size: int = 10_000,
    broadcast_model: bool = True,
) -> DataFrame:
    """Score every doc with the bigram LM (fit on ``train``, default:
    ``df`` itself — CCNet's in-domain configuration). Returns
    (id_col, n_tokens, nll_micro, ppl):

    - ``n_tokens``/``nll_micro`` are exact BIGINTs (see module
      docstring) — the oracle-able surface;
    - ``ppl`` = 10^(nll_micro / (1e6 * n_tokens)) is the derived
      convenience (NULL for empty docs).

    Low ppl = fluent, in-distribution text; high ppl = junk — filter
    with e.g. ``scores.where("ppl < threshold")``.

    ``broadcast_model``: see ``_maybe_broadcast`` — set False when
    vocab_size and corpus size make the fitted bigram table itself
    too large to ship to every executor.
    """
    vocab, model, contexts, v_eff = fit_bigram_lm(
        train if train is not None else df, text_col, vocab_size
    )
    scored = _unk_map(_bigrams(df, text_col, id_col), vocab)
    joined = (
        scored.join(_maybe_broadcast(model, broadcast_model), ["w_prev", "w"], "left")
        .join(_maybe_broadcast(contexts, broadcast_model), ["w_prev"], "left")
        .select(
            id_col,
            F.floor(
                F.log10(
                    (F.coalesce(F.col("cnt"), F.lit(0)) + 1).cast("double")
                    / (F.coalesce(F.col("ctx"), F.lit(0)) + F.lit(v_eff))
                )
                * 1e6
            )
            .cast("long")
            .alias("micro"),
        )
    )
    per_doc = joined.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"), (-F.sum("micro")).alias("nll_micro")
    )
    out = (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce(F.col("nll_micro"), F.lit(0)).cast("long").alias("nll_micro"),
        )
    )
    return out.withColumn(
        "ppl",
        F.when(
            F.col("n_tokens") > 0,
            F.pow(
                F.lit(10.0),
                F.col("nll_micro") / (F.lit(1e6) * F.col("n_tokens")),
            ),
        ),
    )


def dsir_importance(
    df: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 10_000,
    broadcast_model: bool = True,
) -> DataFrame:
    """DSIR-style importance scoring (Data Selection via Importance
    Resampling, Xie et al. 2023, arXiv:2302.03169): score every doc in
    ``df`` (the raw/source pool) by how much more likely it is under a
    TARGET-domain language model than under the source model —
    log w(doc) = log p_target(doc) - log p_source(doc). Selecting the
    high-weight tail resamples the pool toward the target distribution.
    The original hashes n-grams into fixed buckets; here both sides are
    the same closed-vocab bigram LM as ``bigram_lm_perplexity``, with
    the vocabulary fit on TARGET (the event space must be shared or
    the ratio is meaningless).

    Returns (id_col, n_tokens, logratio_micro, avg_logratio):
    ``logratio_micro`` = exact BIGINT sum over bigrams of
    (micro_target - micro_source), micro_x = floor(log10(p_x)·1e6) —
    positive = target-like; ``avg_logratio`` = per-token double for
    ranking convenience (excluded from oracle surfaces).

    Scale shape: one bigram explode of ``df`` joined against BOTH
    models in a single pass, then one per-doc partial-sum shuffle —
    scoring costs the same as one LM pass plus two more hash joins.
    ``broadcast_model``: see ``_maybe_broadcast``.
    """
    vocab, model_t, ctx_t, v_eff = fit_bigram_lm(
        target, text_col, vocab_size
    )
    _, model_s, ctx_s, _ = fit_bigram_lm(
        df, text_col, vocab_size, vocab=vocab, n_vocab=v_eff - 1
    )
    scored = _unk_map(_bigrams(df, text_col, id_col), vocab)

    def micro(cnt_col: str, ctx_col: str) -> Column:
        return F.floor(
            F.log10(
                (F.coalesce(F.col(cnt_col), F.lit(0)) + 1).cast("double")
                / (F.coalesce(F.col(ctx_col), F.lit(0)) + F.lit(v_eff))
            )
            * 1e6
        ).cast("long")

    bc = broadcast_model
    joined = (
        scored.join(
            _maybe_broadcast(
                model_t.select(
                    "w_prev", "w", F.col("cnt").alias("cnt_t")
                ),
                bc,
            ),
            ["w_prev", "w"],
            "left",
        )
        .join(
            _maybe_broadcast(
                ctx_t.select("w_prev", F.col("ctx").alias("ctx_t")), bc
            ),
            ["w_prev"],
            "left",
        )
        .join(
            _maybe_broadcast(
                model_s.select("w_prev", "w", F.col("cnt").alias("cnt_s")),
                bc,
            ),
            ["w_prev", "w"],
            "left",
        )
        .join(
            _maybe_broadcast(
                ctx_s.select("w_prev", F.col("ctx").alias("ctx_s")), bc
            ),
            ["w_prev"],
            "left",
        )
        .select(
            id_col,
            (micro("cnt_t", "ctx_t") - micro("cnt_s", "ctx_s")).alias("lr"),
        )
    )
    per_doc = joined.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"), F.sum("lr").alias("logratio_micro")
    )
    out = (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce(F.col("logratio_micro"), F.lit(0))
            .cast("long")
            .alias("logratio_micro"),
        )
    )
    return out.withColumn(
        "avg_logratio",
        F.when(
            F.col("n_tokens") > 0,
            F.col("logratio_micro") / (F.lit(1e6) * F.col("n_tokens")),
        ),
    )
