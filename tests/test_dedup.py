"""Dedup operator tests on documents + synthetic near-dup corpora."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from hll_spark.operators.dedup import (
    duplicate_groups,
    embedding_dup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)


@pytest.fixture(scope="module")
def near_dup_corpus(spark):
    """Docs 0/1 identical, 2 near-dup of 0, 3-9 distinct."""
    rng = np.random.default_rng(0)
    words = [f"w{i}" for i in range(500)]
    base = " ".join(rng.choice(words, 120).tolist())
    near = base.rsplit(" ", 6)[0] + " zz1 zz2 zz3 zz4 zz5 zz6"
    texts = [base, base, near] + [
        " ".join(np.random.default_rng(100 + i).choice(words, 120).tolist())
        for i in range(7)
    ]
    pdf = pd.DataFrame({"doc_id": range(10), "text": texts})
    return spark.createDataFrame(pdf), pdf


def test_exact_dedup_keeps_min_id(spark, near_dup_corpus):
    df, pdf = near_dup_corpus
    kept = exact_dedup(df, ["text"], "doc_id").select("doc_id").toPandas()
    assert sorted(kept["doc_id"]) == [0] + list(range(2, 10))  # doc 1 dropped
    groups = duplicate_groups(df, ["text"], "doc_id").collect()
    assert len(groups) == 1 and groups[0]["n_dupes"] == 2


def test_minhash_lsh_finds_near_dups(spark, near_dup_corpus):
    df, _ = near_dup_corpus
    pairs = minhash_lsh_pairs(df, "text", "doc_id", threshold=0.7).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 1) in got  # identical
    assert (0, 2) in got and (1, 2) in got  # near-dup
    assert all(a in (0, 1, 2) and b in (0, 1, 2) for a, b in got)


def test_ngram_jaccard_exact_pairs(spark, near_dup_corpus):
    df, _ = near_dup_corpus
    pairs = ngram_jaccard_pairs(df, "text", "doc_id", threshold=0.7).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert got[(0, 1)] == 1.0
    assert 0.7 <= got[(0, 2)] < 1.0
    assert set(got) == {(0, 1), (0, 2), (1, 2)}


def test_minhash_estimates_close_to_exact(spark, near_dup_corpus):
    df, _ = near_dup_corpus
    est = {
        (r["id_a"], r["id_b"]): r["jaccard_est"]
        for r in minhash_lsh_pairs(df, "text", "doc_id", threshold=0.5).collect()
    }
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, "text", "doc_id", threshold=0.5).collect()
    }
    for pair, j in exact.items():
        assert pair in est
        assert abs(est[pair] - j) <= 0.15  # k=128 minhash error


def test_simhash_near_dups(spark, near_dup_corpus):
    df, _ = near_dup_corpus
    pairs = simhash_pairs(df, "text", "doc_id", max_hamming=6).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 1) in got
    assert (0, 2) in got


def test_embedding_dup_pairs(spark):
    rng = np.random.default_rng(1)
    base = rng.standard_normal(16)
    vecs = [base, base + rng.standard_normal(16) * 0.01] + [
        rng.standard_normal(16) for _ in range(6)
    ]
    pdf = pd.DataFrame(
        {"vec_id": range(8), "embedding": [v.tolist() for v in vecs]}
    )
    df = spark.createDataFrame(pdf)
    pairs = embedding_dup_pairs(df, "embedding", "vec_id", threshold=0.95).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(0, 1)}


def test_exact_dedup_on_documents_table(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kept = exact_dedup(docs, ["text"], "doc_id")
    n_distinct_text = docs.select("text").distinct().count()
    assert kept.count() == n_distinct_text


def test_exact_dedup_digest_is_unambiguous(spark):
    """('ab','c') vs ('a','bc') and (x,NULL) vs (x,'') are DISTINCT rows;
    a separator-less / null-skipping concat digest would merge them
    (ADVICE round 1)."""
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "a": ["ab", "a", "x", "x"],
            "b": ["c", "bc", None, ""],
        }
    )
    df = spark.createDataFrame(pdf)
    kept = exact_dedup(df, ["a", "b"], "doc_id").toPandas()
    assert sorted(kept.doc_id) == [1, 2, 3, 4]
    assert duplicate_groups(df, ["a", "b"], "doc_id").count() == 0


def test_embedding_lsh_matches_allpairs_on_table(spark):
    """The LSH-bucketed pair finder must return exactly the all-pairs
    result on the embeddings table at sf0.01 — the scale factor the
    driver's oracle compare runs at (7 pairs in round 1)."""
    from hll_spark.operators.dedup import embedding_dup_pairs_allpairs

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    # 0.46 is the driver query's threshold (7 pairs at sf0.01)
    lsh = {
        (r.id_a, r.id_b, r.cosine)
        for r in embedding_dup_pairs(emb, "embedding", "vec_id", 0.46).collect()
    }
    exact = {
        (r.id_a, r.id_b, r.cosine)
        for r in embedding_dup_pairs_allpairs(
            emb, "embedding", "vec_id", 0.46
        ).collect()
    }
    assert lsh == exact and len(exact) > 0


def test_embedding_lsh_plan_has_no_cartesian(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = embedding_dup_pairs(emb, "embedding", "vec_id", 0.95)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_lsh_50k_scale_smoke(spark):
    """50k x 64-dim vectors with 25 planted near-dup pairs: the bucketed
    join must find all of them without an n^2 plan blowing up."""
    rng = np.random.default_rng(7)
    n, dim, n_dup = 50_000, 64, 25
    mat = rng.standard_normal((n, dim)).astype(np.float64)
    # plant: vec[i+n] (ids n..n+24) = tiny perturbation of vec[i]
    dup_src = mat[:n_dup]
    dups = dup_src + rng.standard_normal((n_dup, dim)) * 0.02
    allm = np.vstack([mat, dups])
    pdf = pd.DataFrame(
        {"vec_id": range(n + n_dup), "embedding": list(allm.tolist())}
    )
    df = spark.createDataFrame(pdf).repartition(16)
    pairs = embedding_dup_pairs(df, "embedding", "vec_id", 0.95).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    planted = {(i, n + i) for i in range(n_dup)}
    assert planted <= got


def test_minhash_duplicate_heavy_corpus(spark):
    """Boilerplate-heavy corpora put all copies of a doc into the SAME
    band buckets (signatures identical): the operator must still return
    the full C(n,2) duplicate pair set, and the documented production
    recipe is exact_dedup FIRST so near-dup LSH runs on representatives
    (bucket sizes then stay bounded by true near-dup cluster size)."""
    n_dup = 120
    texts = ["the same boilerplate page text " * 10] * n_dup + [
        f"unique doc {i} with its own words {i * 7}" for i in range(200)
    ]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    df = spark.createDataFrame(pdf).repartition(8)
    pairs = minhash_lsh_pairs(df, "text", "doc_id", threshold=0.99).collect()
    dup_pairs = {(r.id_a, r.id_b) for r in pairs if r.id_a < n_dup and r.id_b < n_dup}
    assert len(dup_pairs) == n_dup * (n_dup - 1) // 2
    # and the production recipe: dedup exact first -> representatives only
    reps = exact_dedup(df, ["text"], "doc_id")
    assert reps.count() == 1 + 200


def test_minhash_dedup_keep_matches_pairs_on_small_corpus(spark, near_dup_corpus):
    """Representative-based dedup keeps the same docs pair-dropping
    would on a small corpus (cluster {0,1,2}: keep 0, drop 1 and 2)."""
    from hll_spark.operators.dedup import minhash_dedup_keep

    df, _ = near_dup_corpus
    kept = sorted(
        r.doc_id
        for r in minhash_dedup_keep(df, "text", "doc_id", threshold=0.7)
        .select("doc_id")
        .collect()
    )
    assert kept == [0] + list(range(3, 10))


def test_minhash_dedup_keep_boilerplate_cluster(spark):
    """A 300-doc identical-text cluster: pair enumeration would emit
    ~45k pairs; the rep-based dedup touches 300 verification rows and
    keeps exactly one."""
    from hll_spark.operators.dedup import minhash_dedup_keep

    texts = ["the same boilerplate page body " * 8] * 300 + [
        f"document {i} unique words {i * 13}" for i in range(100)
    ]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    kept = sorted(
        r.doc_id
        for r in minhash_dedup_keep(
            spark.createDataFrame(pdf).repartition(8), "text", "doc_id"
        )
        .select("doc_id")
        .collect()
    )
    assert kept == [0] + list(range(300, 400))


def test_embedding_dup_pairs_threshold_one_and_empty(spark):
    """ADVICE r2 guards: threshold=1.0 must not divide by zero; an empty
    input without dim raises a clear error; loose thresholds warn."""
    import warnings

    from pyspark.sql.types import ArrayType, FloatType, StructField, StructType

    schema = StructType(
        [
            StructField("vec_id", __import__("pyspark").sql.types.LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])], schema=schema
    )
    # exact-duplicate tuning: p clamps, no ZeroDivisionError
    got = embedding_dup_pairs(df, "embedding", "vec_id", threshold=1.0).collect()
    assert [(r.id_a, r.id_b) for r in got] == [(1, 2)]

    empty = spark.createDataFrame([], schema=schema)
    with pytest.raises(ValueError, match="empty"):
        embedding_dup_pairs(empty, "embedding", "vec_id", threshold=0.95)
    # with dim passed explicitly, empty input is fine (0 rows out)
    assert (
        embedding_dup_pairs(empty, "embedding", "vec_id", 0.95, dim=2).count() == 0
    )

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        embedding_dup_pairs(df, "embedding", "vec_id", threshold=0.46)
    assert any("quadratic" in str(x.message) for x in w)


def test_no_frame_outlives_a_call(spark):
    """Near-dup operators and the classifier reuse frames only inside
    the plan they return: the session's CacheManager stays empty after
    each call, and a repeat call rebuilds instead of reading a cached
    relation."""
    from hll_spark.operators.classifier import fit_quality_classifier
    from hll_spark.operators.dedup import (
        dedup_increment,
        minhash_join,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_pairs,
    )

    def body(i):
        return " ".join(f"w{i}_{j}" for j in range(20))

    docs = spark.createDataFrame(
        [(1, body(0)), (2, body(0)), (3, body(1)), (4, body(2))],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame([(10, body(1)), (11, body(5))], ["doc_id", "text"])
    train = docs.withColumn("y", (F.col("doc_id") % 2).cast("int"))
    calls = {
        "minhash_lsh_pairs": lambda: minhash_lsh_pairs(docs, "text", "doc_id"),
        "minhash_join": lambda: minhash_join(new, docs, "text", "doc_id"),
        "dedup_increment": lambda: dedup_increment(new, docs, "text", "doc_id"),
        "ngram_jaccard_pairs": lambda: ngram_jaccard_pairs(docs, "text", "doc_id"),
        "simhash_pairs": lambda: simhash_pairs(docs, "text", "doc_id"),
        "fit_quality_classifier": lambda: fit_quality_classifier(
            train, "y", n_features=64, iters=1
        ).weights,
    }
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    for name, call in calls.items():
        first = sorted(call().collect())
        assert first and cache.isEmpty(), name
        again = call()
        plan = again._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" not in plan, name
        assert sorted(again.collect()) == first, name
        assert cache.isEmpty(), name


def test_ngram_df_cap_keeps_threshold_pairs(spark, sf_dir):
    """The shingle document-frequency cap bounds the candidate self-join
    without losing pairs: capped and uncapped results agree on the sf
    documents table, and a boilerplate shingle shared by MANY docs still
    counts toward the (exact) Jaccard of pairs found via rarer shingles."""
    from hll_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    capped = {
        (r.id_a, r.id_b, r.jaccard)
        for r in ngram_jaccard_pairs(
            docs, "text", "doc_id", threshold=0.5, max_shingle_df=50
        ).collect()
    }
    uncapped = {
        (r.id_a, r.id_b, r.jaccard)
        for r in ngram_jaccard_pairs(
            docs, "text", "doc_id", threshold=0.5, max_shingle_df=None
        ).collect()
    }
    assert capped == uncapped and len(uncapped) > 0


# ---------------------------------------------------------------------------
# semdedup_keep (SemDeDup: k-means + within-cluster greedy cosine prune)
# ---------------------------------------------------------------------------

from hll_spark.operators.dedup import semdedup_keep  # noqa: E402


def _onehot_corpus(spark, assignments):
    """rows (id, one-hot(dim)) for a list of per-id hot dims."""
    dim = max(assignments) + 1
    rows = [
        (i, [1.0 if j == hot else 0.0 for j in range(dim)])
        for i, hot in enumerate(assignments)
    ]
    return spark.createDataFrame(rows, "doc_id long, embedding array<double>")


def test_semdedup_keeps_one_per_clone_group(spark):
    # groups of 3 exact clones (dims 0..3) + 4 orthogonal singletons:
    # greedy rule keeps exactly the lowest id per group + all singletons
    assignments = [0, 0, 0, 1, 1, 1, 2, 2, 2, 3, 3, 3, 4, 5, 6, 7]
    df = _onehot_corpus(spark, assignments)
    kept = sorted(
        r.doc_id
        for r in semdedup_keep(df, "embedding", "doc_id", eps=0.05).collect()
    )
    assert kept == [0, 3, 6, 9, 12, 13, 14, 15]


def test_semdedup_eps_widens_the_net(spark):
    # two directions at cosine ~0.8: kept separately at eps=0.05
    # (thr 0.95) but merged at eps=0.5 (thr 0.5)
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.8, 0.6]),
        (2, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "doc_id long, embedding array<double>")
    tight = {
        r.doc_id
        for r in semdedup_keep(
            df, "embedding", "doc_id", eps=0.05, n_clusters=1
        ).collect()
    }
    loose = {
        r.doc_id
        for r in semdedup_keep(
            df, "embedding", "doc_id", eps=0.5, n_clusters=1
        ).collect()
    }
    assert tight == {0, 1, 2}
    # thr=0.5: sims are (0,1)=0.8, (1,2)=0.6, (0,2)=0 — greedy from any
    # visit order keeps exactly one of {1} plus the two axis vectors
    # merged through it... n_clusters=1 makes the order deterministic:
    # all cent_sims computed against the single centroid.
    assert len(loose) < 3 and loose <= {0, 1, 2}


def test_semdedup_deterministic(spark):
    assignments = [i % 5 for i in range(40)]
    df = _onehot_corpus(spark, assignments)
    a = sorted(
        r.doc_id
        for r in semdedup_keep(df, "embedding", "doc_id", eps=0.1).collect()
    )
    b = sorted(
        r.doc_id
        for r in semdedup_keep(df, "embedding", "doc_id", eps=0.1).collect()
    )
    assert a == b
    # one representative per clone direction
    assert len(a) == 5


def test_semdedup_validates_inputs(spark):
    df = _onehot_corpus(spark, [0, 1])
    with pytest.raises(ValueError):
        semdedup_keep(df, "embedding", "doc_id", eps=0.0)
    with pytest.raises(ValueError):
        semdedup_keep(df, "embedding", "doc_id", eps=1.0)
    empty = df.where(F.col("doc_id") < 0)
    with pytest.raises(ValueError):
        semdedup_keep(empty, "embedding", "doc_id")


# -- cross-corpus join / incremental dedup -------------------------------


@pytest.fixture(scope="module")
def increment_corpora(spark):
    """(new, corpus): new docs 0/1 clone corpus docs 100/101; new doc 2
    is a near-dup (55/60 shared tokens, J = 55/65 ~ 0.846) of corpus
    doc 102; new docs 3-6 and corpus docs 103-109 are disjoint-token
    singletons. ids overlap nothing across tables by construction but
    the operator must not rely on that."""
    def toks(prefix, i, n):
        return " ".join(f"{prefix}{i}_{j}" for j in range(n))

    shared0, shared1, shared2 = toks("c", 0, 60), toks("c", 1, 60), toks("c", 2, 60)
    near2 = " ".join(shared2.split()[:55] + [f"x_{j}" for j in range(10)])
    new_pdf = pd.DataFrame(
        {
            "doc_id": range(7),
            "text": [shared0, shared1, near2]
            + [toks("n", i, 12) for i in range(3, 7)],
        }
    )
    corp_pdf = pd.DataFrame(
        {
            "doc_id": range(100, 110),
            "text": [shared0, shared1, shared2]
            + [toks("k", i, 12) for i in range(103, 110)],
        }
    )
    return spark.createDataFrame(new_pdf), spark.createDataFrame(corp_pdf)


def test_minhash_join_finds_cross_corpus_clones(spark, increment_corpora):
    from hll_spark.operators.dedup import minhash_join

    new, corpus = increment_corpora
    got = {
        (r["left_id"], r["right_id"], r["jaccard_est"])
        for r in minhash_join(new, corpus, "text", "doc_id", threshold=0.9).collect()
    }
    # exact clones: identical signatures -> jaccard_est exactly 1.0,
    # and nothing else clears 0.9
    assert got == {(0, 100, 1.0), (1, 101, 1.0)}


def test_minhash_join_near_clone_at_loose_threshold(spark, increment_corpora):
    from hll_spark.operators.dedup import minhash_join

    new, corpus = increment_corpora
    pairs = {
        (r["left_id"], r["right_id"]): r["jaccard_est"]
        for r in minhash_join(new, corpus, "text", "doc_id", threshold=0.5).collect()
    }
    assert (2, 102) in pairs  # true J ~ 0.846 -> candidate prob ~ 1 at b=32,r=4
    assert 0.6 <= pairs[(2, 102)] <= 1.0
    assert set(pairs) == {(0, 100), (1, 101), (2, 102)}


def test_dedup_increment_keeps_only_novel_docs(spark, increment_corpora):
    from hll_spark.operators.dedup import dedup_increment

    new, corpus = increment_corpora
    kept = sorted(
        r["doc_id"]
        for r in dedup_increment(new, corpus, "text", "doc_id", threshold=0.5)
        .select("doc_id")
        .collect()
    )
    assert kept == [3, 4, 5, 6]
    # corpus side is untouched: the operator filters new only
    assert corpus.count() == 10


def test_minhash_join_validates_band_divisibility(spark, increment_corpora):
    from hll_spark.operators.dedup import minhash_join

    new, corpus = increment_corpora
    with pytest.raises(ValueError):
        minhash_join(new, corpus, "text", "doc_id", k=128, bands=33)


def test_minhash_index_parquet_roundtrip_equals_direct_join(
    spark, increment_corpora, tmp_path
):
    # the at-scale shape: the corpus index is materialized once and
    # increments join the STORED table — results must equal the
    # direct two-table join exactly
    from hll_spark.operators.dedup import (
        minhash_index,
        minhash_join,
        minhash_join_index,
    )

    new, corpus = increment_corpora
    path = str(tmp_path / "corpus_idx.parquet")
    minhash_index(corpus, "text", "doc_id").write.parquet(path)
    stored = spark.read.parquet(path)
    via_index = {
        (r["left_id"], r["right_id"], r["jaccard_est"])
        for r in minhash_join_index(
            new, stored, "text", "doc_id", threshold=0.5
        ).collect()
    }
    direct = {
        (r["left_id"], r["right_id"], r["jaccard_est"])
        for r in minhash_join(new, corpus, "text", "doc_id", threshold=0.5).collect()
    }
    assert via_index == direct and len(direct) == 3


def test_minhash_join_index_rejects_wrong_schema(spark, increment_corpora):
    from hll_spark.operators.dedup import minhash_join_index

    new, corpus = increment_corpora
    bad = corpus.selectExpr("doc_id", "array(1.0) AS sig", "array(1L) AS bk")
    with pytest.raises(ValueError):
        minhash_join_index(new, bad, "text", "doc_id")


def test_minhash_join_index_rejects_missing_columns(spark, increment_corpora):
    from hll_spark.operators.dedup import minhash_join_index

    new, corpus = increment_corpora
    with pytest.raises(ValueError, match="missing column"):
        minhash_join_index(new, corpus.select("doc_id", "text"), "text", "doc_id")


def test_dedup_increment_rep_equals_all_on_small_clusters(spark, increment_corpora):
    # on bucket-singleton corpora the star rule and exhaustive verify
    # agree exactly; the rep path must also drop the J~0.85 near-clone
    from hll_spark.operators.dedup import dedup_increment

    new, corpus = increment_corpora
    kept = {
        mode: sorted(
            r["doc_id"]
            for r in dedup_increment(
                new, corpus, "text", "doc_id", threshold=0.5, verify=mode
            )
            .select("doc_id")
            .collect()
        )
        for mode in ("rep", "all")
    }
    assert kept["rep"] == kept["all"] == [3, 4, 5, 6]


def test_dedup_increment_rejects_unknown_verify(spark, increment_corpora):
    from hll_spark.operators.dedup import dedup_increment

    new, corpus = increment_corpora
    with pytest.raises(ValueError, match="verify"):
        dedup_increment(new, corpus, "text", "doc_id", verify="fuzzy")


def test_simhash_join_finds_cross_corpus_clones(spark, increment_corpora):
    from hll_spark.operators.dedup import simhash_join

    new, corpus = increment_corpora
    got = {
        (r["left_id"], r["right_id"]): r["hamming"]
        for r in simhash_join(new, corpus, "text", "doc_id", max_hamming=3).collect()
    }
    assert got[(0, 100)] == 0 and got[(1, 101)] == 0  # exact clones
    # anything else within budget must be the planted near-clone
    assert set(got) - {(0, 100), (1, 101)} <= {(2, 102)}


def test_embedding_join_cross_corpus_one_hot(spark):
    # one-hot corpora: new vec i == corpus vec i exactly (cosine 1.0)
    # for i < 4; new vecs 4-5 one-hot on dims absent from the corpus
    # (every cross cosine exactly 0) — the emitted pair set is provable
    from hll_spark.operators.dedup import embedding_join

    dim = 8

    def onehot(i):
        return [1.0 if j == i else 0.0 for j in range(dim)]

    new = spark.createDataFrame(
        [(i, onehot(i)) for i in range(6)], "vec_id long, embedding array<double>"
    )
    corpus = spark.createDataFrame(
        [(100 + i, onehot(i)) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r["left_id"], r["right_id"], r["cosine"])
        for r in embedding_join(
            new, corpus, "embedding", "vec_id", threshold=0.9
        ).collect()
    }
    assert got == {(i, 100 + i, 1.0) for i in range(4)}


def test_embedding_join_matches_allpairs_on_random_vectors(spark):
    # recall/precision vs the exact all-pairs cross cosine at a tight
    # threshold on structured vectors: clones + noise
    import numpy as np

    from hll_spark.operators.dedup import embedding_join

    rng = np.random.default_rng(7)
    base = rng.normal(size=(20, 16))
    new_rows = [(i, [float(x) for x in base[i]]) for i in range(20)]
    # corpus: 10 exact clones of new 0-9 + 10 fresh random vectors
    corp_rows = [(100 + i, [float(x) for x in base[i]]) for i in range(10)]
    fresh = rng.normal(size=(10, 16))
    corp_rows += [(200 + i, [float(x) for x in fresh[i]]) for i in range(10)]
    new = spark.createDataFrame(new_rows, "vec_id long, embedding array<double>")
    corpus = spark.createDataFrame(corp_rows, "vec_id long, embedding array<double>")
    got = {
        (r["left_id"], r["right_id"])
        for r in embedding_join(
            new, corpus, "embedding", "vec_id", threshold=0.98
        ).collect()
    }
    # exact cross-pairs at the same threshold, computed in numpy
    def unit(m):
        return m / np.linalg.norm(m, axis=1, keepdims=True)

    un, uc = unit(base), unit(np.vstack([base[:10], fresh]))
    cos = un @ uc.T
    corp_ids = [100 + i for i in range(10)] + [200 + i for i in range(10)]
    want = {
        (i, corp_ids[j])
        for i in range(20)
        for j in range(20)
        if round(cos[i, j], 6) >= 0.98
    }
    assert got == want  # tuned for miss prob <= 1e-6 at the threshold


def test_minhash_cache_hash_collision_rebuilds(spark, monkeypatch):
    """Two different inputs whose analyzed plans share a semantic hash
    must not share a signature frame: each call builds its own, so the
    second input gets its own pairs."""
    from hll_spark.operators import scanutil
    from hll_spark.operators.dedup import minhash_lsh_pairs

    def body(i):
        return " ".join(f"w{i}_{j}" for j in range(40))

    def pairs(rows):
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = minhash_lsh_pairs(df, "text", "doc_id", threshold=0.5).collect()
        return sorted((r.id_a, r.id_b) for r in got)

    a = [(1, body(0)), (2, body(0)), (3, body(1))]
    b = [(10, body(2)), (11, body(2)), (12, body(3))]
    monkeypatch.setattr(scanutil, "plan_hash", lambda df: 0)
    assert pairs(a) == [(1, 2)]
    assert pairs(b) == [(10, 11)]
