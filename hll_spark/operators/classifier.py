"""Hashed-ngram linear quality classifier (fastText/CCNet-style).

The last missing piece of the standard LLM-curation quality stack:
CCNet (Wenzek et al. 2020, arXiv:1911.00359) and the LLaMA corpus
(Touvron et al. 2023, arXiv:2302.13971) both filter web pages with a
LINEAR classifier over hashed bag-of-ngram features trained to
separate a reference corpus (Wikipedia) from raw crawl. This module
is that operator, built entirely with Spark built-ins — zero Python
rows in fit or score:

- **features**: lowercase whitespace unigrams (plus optional adjacent
  word bigrams), hashed to ``[0, n_features)`` with the repo's
  portable md5 hash (same construction as
  ``sampling.consistent_sample_portable``), PRESENCE-valued (the
  distinct set per doc — the bounded-gradient choice, see the integer
  contract below). One explode + distinct; the feature frame is the
  only corpus-sized object and every later step aggregates it with
  map-side combine.
- **fit**: full-batch gradient descent on logistic loss with a
  HARD-sigmoid link, ``p = clamp(1/2 + s/4, 0, 1)`` — the
  piecewise-linear sigmoid surrogate (slope 1/4 = the logistic
  derivative at 0; the same surrogate quantized inference engines
  use). Each iteration is two shuffles over the reused feature frame
  (per-doc score sum, per-feature gradient sum) plus broadcast joins
  against the bounded weight frame; weights never leave the cluster.
- **score**: one broadcast join + one per-doc sum, then the link.

Integer contract (the same philosophy as ``lm.py``'s micro-log):
every quantity is a BIGINT in micro-units (1e6 = 1.0). Scores are
exact integer sums; the link is ``500000 + floordiv(s, 4)`` clamped
to [0, 1e6]; the update is ``w -= floordiv(grad, divisor)`` with
``divisor = (n_docs * 1e6) div lr_micro`` fixed up front. Floor
division is pinned explicitly (truncating ``div`` minus a negative-
remainder correction — identical in Spark and ANSI SQL), so training
and scoring are BITWISE deterministic under any partitioning or
association order and the whole fit+score mirrors into a DuckDB
oracle (driver query ``quality_classifier_parity``). Presence (0/1)
features bound ``|grad_j| <= n_docs * 1e6``, which holds in BIGINT to
n_docs ~ 9e12.

100 TB shape: the feature frame is ~distinct-grams-per-doc x corpus
rows but every aggregation over it is a partial-agg shuffle keyed by
doc or feature; the model is <= n_features rows (a few MB) and rides
broadcast joins; iterations are a fixed small constant (default 3).
The reference engine (l0vest0rm/hll) has no ML surface — this is part
of the §2-beyond inventory (training-data pipeline operators).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, functions as F

from .lm import _tokens

MICRO = 1_000_000


def _floordiv(a: Column, b: Column | int) -> Column:
    """Floor division for BIGINT columns, engine-portable.

    ``div`` truncates toward zero in both Spark and DuckDB; subtract 1
    when the remainder is negative (b is always positive here) to get
    floor semantics. Pure integer — no double/decimal rounding hazard.
    """
    b = F.lit(b) if isinstance(b, int) else b
    q = F.call_function("div", a, b)
    return q - F.when((a % b) < 0, F.lit(1)).otherwise(F.lit(0))


def _hard_sigmoid_micro(s: Column) -> Column:
    """clamp(500000 + floor(s/4), 0, 1e6) — the piecewise-linear
    logistic link in micro-units, exact integer."""
    return F.greatest(
        F.lit(0),
        F.least(F.lit(MICRO).cast("long"), F.lit(500_000) + _floordiv(s, 4)),
    ).cast("long")


def _gram_hex(gram: Column, seed: int) -> Column:
    """First 15 hex chars of md5(gram || ':' || seed) — the portable
    hash (mirrors ``('0x'||substr(md5(g || ':seed'),1,15))::BIGINT``)."""
    return F.substring(
        F.md5(F.concat(gram, F.lit(f":{seed}")).cast("binary")), 1, 15
    )


def hashed_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_features: int = 1 << 18,
    bigrams: bool = True,
    seed: int = 13,
) -> DataFrame:
    """(id, feat) presence features: the DISTINCT hashed unigrams
    (and adjacent word bigrams joined by a space) of each doc.

    JVM-only: split/filter/transform/explode + md5; one shuffle
    (the distinct). feat = md5-hash(gram:seed) mod n_features.
    """
    if n_features < 2:
        raise ValueError(f"n_features must be >= 2, got {n_features}")
    toks = _tokens(text_col)
    grams = toks
    if bigrams:
        # zip ws with its tail: "w1 w2" word bigrams, JVM-side
        pairs = F.zip_with(
            F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
            F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
        grams = F.concat(toks, pairs)
    feat = (
        F.conv(_gram_hex(F.col("__gram"), seed), 16, 10).cast("long")
        % n_features
    ).alias("feat")
    return (
        df.select(F.col(id_col), F.explode(grams).alias("__gram"))
        .select(id_col, feat)
        .distinct()
    )


class QualityClassifier(NamedTuple):
    """Fitted model: a (feat, w) BIGINT weight frame (<= n_features
    rows — broadcast-sized by construction), a 1-row (b) bias frame,
    and the fit constants needed to reproduce scoring."""

    weights: DataFrame
    bias: DataFrame
    n_features: int
    bigrams: bool
    seed: int


def fit_quality_classifier(
    train: DataFrame,
    label_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_features: int = 1 << 18,
    iters: int = 3,
    lr_micro: int = 2 * MICRO,
    bigrams: bool = True,
    seed: int = 13,
    pos_weight: int = 1,
) -> QualityClassifier:
    """Fit the hard-sigmoid logistic model by ``iters`` rounds of
    exact-integer full-batch gradient descent.

    ``label_col`` must be 0/1 (int or boolean). ``lr_micro`` is the
    learning rate in micro-units (2e6 = lr 2.0); the update divisor
    ``(n_eff * 1e6) div lr_micro`` is fixed before the first
    iteration, where ``n_eff = n + (pos_weight - 1) * n_pos``.

    ``pos_weight`` (integer >= 1) multiplies each POSITIVE doc's error
    in the gradient — CCNet-style class balancing for the standard
    reference-vs-pool setup where the reference corpus is a small
    minority (set it to ~n_neg // n_pos); the exact-integer contract
    is preserved (weighted errors are still exact BIGINTs).

    Per iteration: score join (feature frame x broadcast weights,
    per-doc sum), link + error, gradient join (feature frame x
    per-doc error, per-feature sum), integer update. The label and
    feature frames are built once and reused by every iteration (no
    cache outlives the fit); weight lineage is cut per iteration
    (``scanutil.reused``) so the plan does not grow with ``iters``.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if lr_micro < 1:
        raise ValueError(f"lr_micro must be >= 1, got {lr_micro}")
    if pos_weight < 1:
        raise ValueError(f"pos_weight must be >= 1, got {pos_weight}")
    from .scanutil import reused

    labels = reused(
        train.select(
            F.col(id_col),
            F.col(label_col).cast("int").cast("long").alias("__y"),
        )
    )
    # the bias rides the SAME aggregations as the feature weights, as a
    # synthetic always-present feature (feat = -1, outside the hash
    # range): score = sum of weights over {doc's features + bias} and
    # grad(-1) = sum of errors — integer-identical to the former
    # separate bias frame, but each GD iteration drops the second
    # error-aggregate subtree (the per-iteration err recompute +
    # broadcast + crossJoin) and the scoring join needs no left-join
    # fallback, since every doc carries at least the bias row. Feature
    # rows are distinct per doc, so the bias row must be too (a
    # duplicated training row would otherwise count the bias twice).
    feats = reused(
        hashed_features(train, text_col, id_col, n_features, bigrams, seed)
        .unionByName(
            labels.select(id_col)
            .distinct()
            .select(id_col, F.lit(-1).cast("long").alias("feat"))
        )
    )
    ncounts = labels.agg(
        F.count(F.lit(1)).alias("__n"), F.sum("__y").alias("__p")
    ).collect()[0]
    n = int(ncounts["__n"])
    if n == 0:
        raise ValueError("fit_quality_classifier: empty training frame")
    n_eff = n
    if pos_weight > 1:
        n_eff = n + (pos_weight - 1) * int(ncounts["__p"] or 0)
    if lr_micro > n_eff * MICRO:
        raise ValueError(
            f"lr_micro={lr_micro} too large for n_eff={n_eff} docs "
            f"(update divisor would be 0); use lr_micro <= n_eff * 1e6"
        )
    divisor = (n_eff * MICRO) // lr_micro

    weights = (
        feats.select("feat").distinct().withColumn("w", F.lit(0).cast("long"))
    )

    for _ in range(iters):
        scores = (
            feats.join(F.broadcast(weights), "feat")
            .groupBy(id_col)
            .agg(F.sum("w").alias("__s"))
            .join(labels, id_col)
        )
        raw_err = _hard_sigmoid_micro(F.col("__s")) - F.col("__y") * MICRO
        err = scores.select(
            id_col,
            (
                raw_err
                * F.when(F.col("__y") == 1, F.lit(pos_weight)).otherwise(
                    F.lit(1)
                )
            ).alias("__err"),
        )
        grads = (
            feats.join(err, id_col)
            .groupBy("feat")
            .agg(F.sum("__err").alias("__g"))
        )
        weights = reused(
            weights.join(grads, "feat").select(
                "feat",
                (F.col("w") - _floordiv(F.col("__g"), divisor)).alias("w"),
            )
        )
    bias = weights.where(F.col("feat") == -1).select(F.col("w").alias("b"))
    weights = weights.where(F.col("feat") >= 0)
    return QualityClassifier(weights, bias, n_features, bigrams, seed)


def _doc_scores(
    feats: DataFrame,
    docs: DataFrame,
    weights: DataFrame,
    bias: DataFrame,
    id_col: str,
) -> DataFrame:
    """(id, any doc cols..., __s): per-doc integer score = b + sum of
    weights over the doc's features. Broadcast joins against the
    bounded model; docs with no features score b alone (left join)."""
    sums = (
        feats.join(F.broadcast(weights), "feat")
        .groupBy(id_col)
        .agg(F.sum("w").alias("__sw"))
    )
    return (
        docs.join(sums, id_col, "left")
        .crossJoin(F.broadcast(bias))
        .withColumn(
            "__s", F.coalesce(F.col("__sw"), F.lit(0)) + F.col("b")
        )
        .drop("__sw", "b")
    )


def score_quality(
    df: DataFrame,
    model: QualityClassifier,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_micro: int = 500_000,
) -> DataFrame:
    """(id, score_micro, label): hard-sigmoid score in micro-units and
    the thresholded 0/1 decision. Same feature construction as fit
    (the model carries its constants)."""
    feats = hashed_features(
        df, text_col, id_col, model.n_features, model.bigrams, model.seed
    )
    scored = _doc_scores(
        feats, df.select(id_col), model.weights, model.bias, id_col
    )
    p = _hard_sigmoid_micro(F.col("__s"))
    return scored.select(
        id_col,
        p.alias("score_micro"),
        F.when(p >= threshold_micro, F.lit(1))
        .otherwise(F.lit(0))
        .alias("label"),
    )


def quality_classifier_labels(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    **fit_kwargs,
) -> DataFrame:
    """Fit on ``df`` and score ``df`` (the in-domain configuration —
    e.g. label = 'is reference corpus' over a mixed frame, then rank
    everything by classifier score). Returns (id, score_micro, label)."""
    model = fit_quality_classifier(df, label_col, text_col, id_col, **fit_kwargs)
    return score_quality(df, model, text_col, id_col)
