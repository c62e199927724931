"""Quality classifier (hashed-ngram hard-sigmoid logistic GD).

The integer contract makes the whole fit+score bitwise reproducible,
so the main gate is equality against an independent plain-Python
reimplementation — the same strategy as test_lm.py — plus Hypothesis
over random corpora and the standard determinism/edge cases.
"""

import hashlib
from collections import defaultdict

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from hll_spark.operators.classifier import (
    MICRO,
    fit_quality_classifier,
    hashed_features,
    quality_classifier_labels,
    score_quality,
)


def _hash_feat(gram: str, seed: int, n_features: int) -> int:
    h = hashlib.md5(f"{gram}:{seed}".encode()).hexdigest()[:15]
    return int(h, 16) % n_features


def _ref_feats(text: str, seed: int, n_features: int, bigrams: bool):
    ws = [w for w in text.strip().lower().split() if w]
    grams = list(ws)
    if bigrams:
        grams += [f"{a} {b}" for a, b in zip(ws, ws[1:])]
    return {_hash_feat(g, seed, n_features) for g in grams}


def _floordiv(a: int, b: int) -> int:
    return a // b  # python // IS floor division


def _link(s: int) -> int:
    return max(0, min(MICRO, 500_000 + _floordiv(s, 4)))


def _ref_fit_score(
    docs, labels, n_features, iters, lr_micro, bigrams, seed, pos_weight=1
):
    """Plain-Python mirror of fit_quality_classifier + score_quality.

    docs: {id: text}; labels: {id: 0/1}. Returns {id: (score, label)}.
    """
    feats = {
        i: _ref_feats(t, seed, n_features, bigrams) for i, t in docs.items()
    }
    n_eff = len(docs) + (pos_weight - 1) * sum(labels.values())
    divisor = (n_eff * MICRO) // lr_micro
    w = defaultdict(int)
    b = 0
    for _ in range(iters):
        err = {}
        for i in docs:
            s = b + sum(w[j] for j in feats[i])
            err[i] = (_link(s) - labels[i] * MICRO) * (
                pos_weight if labels[i] == 1 else 1
            )
        grad = defaultdict(int)
        for i in docs:
            for j in feats[i]:
                grad[j] += err[i]
        for j, g in grad.items():
            w[j] -= _floordiv(g, divisor)
        b -= _floordiv(sum(err.values()), divisor)
    out = {}
    for i in docs:
        p = _link(b + sum(w[j] for j in feats[i]))
        out[i] = (p, 1 if p >= 500_000 else 0)
    return out


CORPUS = [
    (0, "the quick brown fox jumps over the lazy dog", 1),
    (1, "a good clean english sentence with real words", 1),
    (2, "buy cheap pills now click here casino jackpot", 0),
    (3, "xzqj vvk qqpt zzz kjx wmm ppo", 0),
    (4, "the dog and the fox are friends in the park", 1),
    (5, "casino casino casino click click jackpot now", 0),
    (6, "", 0),
    (7, "english words flow in a clean readable way", 1),
]


def _spark_results(spark, rows, **kw):
    df = spark.createDataFrame(
        [(i, t, y) for i, t, y in rows], "doc_id long, text string, y int"
    )
    got = quality_classifier_labels(df, "y", "text", "doc_id", **kw)
    return {r.doc_id: (r.score_micro, r.label) for r in got.collect()}


def test_matches_pure_python_reference(spark):
    got = _spark_results(
        spark, CORPUS, n_features=256, iters=3, lr_micro=2 * MICRO
    )
    ref = _ref_fit_score(
        {i: t for i, t, _ in CORPUS},
        {i: y for i, t, y in CORPUS},
        256,
        3,
        2 * MICRO,
        True,
        13,
    )
    assert got == ref


def test_learns_the_separable_corpus(spark):
    got = _spark_results(
        spark, CORPUS, n_features=4096, iters=5, lr_micro=4 * MICRO
    )
    # doc 6 (empty) can land either way; every worded doc must be
    # classified correctly on this cleanly separable corpus
    for i, _, y in CORPUS:
        if i == 6:
            continue
        assert got[i][1] == y, f"doc {i}: {got[i]} != {y}"
    # scores are confident, not boundary-hugging
    assert got[0][0] > 600_000 and got[3][0] < 400_000


def test_unigram_mode_matches_reference(spark):
    got = _spark_results(
        spark, CORPUS, n_features=128, iters=2, lr_micro=MICRO, bigrams=False
    )
    ref = _ref_fit_score(
        {i: t for i, t, _ in CORPUS},
        {i: y for i, t, y in CORPUS},
        128,
        2,
        MICRO,
        False,
        13,
    )
    assert got == ref


def test_score_out_of_domain(spark):
    train = spark.createDataFrame(
        [(i, t, y) for i, t, y in CORPUS], "doc_id long, text string, y int"
    )
    model = fit_quality_classifier(
        train, "y", n_features=4096, iters=5, lr_micro=4 * MICRO
    )
    test = spark.createDataFrame(
        [
            (100, "the quick dog jumps in the park"),
            (101, "click casino jackpot pills"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.label for r in score_quality(test, model).collect()}
    assert got == {100: 1, 101: 0}


def test_pos_weight_matches_reference_and_rescues_minority(spark):
    # 1 positive vs 7 negatives, and the positive's only feature
    # ("junk1") also appears in a negative doc — so it has NO exclusive
    # feature to learn from and the class prior + shared-feature drag
    # leave it under the boundary unweighted. (A positive with any
    # exclusive token/bigram accumulates enough positive-only gradient
    # to self-rescue, which is why the premise needs the fully-shared
    # construction.) pos_weight=7 scales the positive updates to parity
    # with the negative mass and recovers it.
    rows = [(0, "junk1", 1)] + [
        (i, f"junk{i} spam{i} junk{i}", 0) for i in range(1, 8)
    ]
    unweighted = _spark_results(
        spark, rows, n_features=512, iters=4, lr_micro=2 * MICRO
    )
    assert unweighted[0][1] == 0  # drowned by the class prior
    got = _spark_results(
        spark, rows, n_features=512, iters=4, lr_micro=2 * MICRO,
        pos_weight=7,
    )
    ref = _ref_fit_score(
        {i: t for i, t, _ in rows},
        {i: y for i, _, y in rows},
        512, 4, 2 * MICRO, True, 13, pos_weight=7,
    )
    assert got == ref
    assert got[0][1] == 1  # balanced: the positive is recovered


def test_hashed_features_presence_and_range(spark):
    df = spark.createDataFrame(
        [(0, "a b a b a"), (1, None), (2, "   ")],
        "doc_id long, text string",
    )
    rows = hashed_features(df, n_features=8, bigrams=True).collect()
    by_doc = defaultdict(set)
    for r in rows:
        assert 0 <= r.feat < 8
        by_doc[r.doc_id].add(r.feat)
    # presence: "a b a b a" has grams {a, b, "a b", "b a"} -> <= 4 feats
    assert 1 <= len(by_doc[0]) <= 4
    assert by_doc[1] == set() and by_doc[2] == set()
    # exact expected hash values
    expect = {_hash_feat(g, 13, 8) for g in ["a", "b", "a b", "b a"]}
    assert by_doc[0] == expect


def test_validation_errors(spark):
    df = spark.createDataFrame([(0, "x", 1)], "doc_id long, text string, y int")
    with pytest.raises(ValueError, match="iters"):
        fit_quality_classifier(df, "y", iters=0)
    with pytest.raises(ValueError, match="lr_micro"):
        fit_quality_classifier(df, "y", lr_micro=0)
    with pytest.raises(ValueError, match="too large"):
        fit_quality_classifier(df, "y", lr_micro=2 * MICRO)  # n=1
    with pytest.raises(ValueError, match="empty"):
        fit_quality_classifier(df.where("doc_id < 0"), "y")
    with pytest.raises(ValueError, match="n_features"):
        hashed_features(df, n_features=1)


_word = st.sampled_from(
    ["a", "b", "cc", "dd", "e1", "f2", "gg", "zz", "<s>", "the"]
)
_doc = st.lists(_word, min_size=0, max_size=6).map(" ".join)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(_doc, min_size=2, max_size=6),
    labels=st.data(),
    iters=st.integers(min_value=1, max_value=3),
)
def test_property_matches_reference(spark, texts, labels, iters):
    ys = [
        labels.draw(st.integers(min_value=0, max_value=1), label=f"y{i}")
        for i in range(len(texts))
    ]
    rows = [(i, t, y) for i, (t, y) in enumerate(zip(texts, ys))]
    got = _spark_results(
        spark, rows, n_features=64, iters=iters, lr_micro=MICRO
    )
    ref = _ref_fit_score(
        {i: t for i, t, _ in rows},
        {i: y for i, _, y in rows},
        64,
        iters,
        MICRO,
        True,
        13,
    )
    assert got == ref


def test_duplicated_training_row_keeps_one_bias_row(spark):
    # a training row listed twice must weigh like two docs with the same
    # text — its feature rows are distinct per doc, so its bias row must
    # be too; a doubled bias row would double its bias gradient
    def fit(rows):
        df = spark.createDataFrame(rows, "doc_id long, text string, y int")
        model = fit_quality_classifier(df, "y", "text", "doc_id", n_features=256)
        return (
            sorted((r.feat, r.w) for r in model.weights.collect()),
            model.bias.collect()[0].b,
        )

    dup = fit(CORPUS + [CORPUS[1]])
    renamed = fit(CORPUS + [(100,) + CORPUS[1][1:]])
    assert dup == renamed
