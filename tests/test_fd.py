"""Frequent Directions: exact-regime parity, spectral bound, merges."""

import numpy as np
import pytest

from hll_spark.sketchlib.fd import FDSketch


def spectral_gap(A, sk):
    """||A^T A - B^T B||_2 (FD underestimates, so this is >= 0 up to
    float noise)."""
    d = A.T @ A - sk.gram()
    return float(np.linalg.norm(d, 2))


# ------------------------------------------------------------- exact tier


def test_exact_regime_gram_is_exact_for_integers():
    rng = np.random.default_rng(7)
    A = rng.integers(-1000, 1000, size=(300, 16)).astype(np.float64)
    sk = FDSketch(ell=512, dim=16)  # 2*ell = 1024 > 300: no shrink
    for i in range(0, 300, 37):
        sk.update(A[i : i + 37])
    assert sk.exact and sk.rows_seen == 300
    # integer dot products under 2^53: bit-exact, order-independent
    assert np.array_equal(sk.gram(), A.T @ A)


def test_exact_regime_merge_stays_exact():
    rng = np.random.default_rng(8)
    A = rng.integers(-50, 50, size=(400, 8)).astype(np.float64)
    parts = np.array_split(A, 7)
    sketches = []
    for p in parts:
        s = FDSketch(ell=256, dim=8)
        s.update(p)
        sketches.append(s)
    acc = sketches[0]
    for s in sketches[1:]:
        acc = acc.merge(s)
    assert acc.exact and acc.rows_seen == 400
    assert np.array_equal(acc.gram(), A.T @ A)


def test_exact_bit_drops_once_buffer_fills():
    A = np.ones((33, 4))
    sk = FDSketch(ell=16, dim=4)  # buffer 32 rows
    sk.update(A)
    assert not sk.exact


def test_exact_at_exactly_two_ell_rows():
    # the boundary the contract promises: absorbing EXACTLY 2*ell rows
    # fits the buffer, so the shrink must not fire
    rng = np.random.default_rng(9)
    A = rng.integers(-9, 9, size=(32, 4)).astype(np.float64)
    sk = FDSketch(ell=16, dim=4)
    for i in range(0, 32, 5):
        sk.update(A[i : i + 5])
    assert sk.exact and sk.filled == 32
    assert np.array_equal(sk.gram(), A.T @ A)
    # the 33rd row is the first to compress
    sk.update(np.ones((1, 4)))
    assert not sk.exact


def test_buffer_capacity_grows_lazily():
    sk = FDSketch(ell=4096, dim=8)
    assert sk.buf.shape[0] == 64  # not 8192 rows up front
    sk.update(np.ones((300, 8)))
    assert 300 <= sk.buf.shape[0] <= 1024
    back = FDSketch.from_bytes(sk.to_bytes())
    assert np.array_equal(back.gram(), sk.gram())
    back.update(np.ones((1, 8)))  # deserialized sketch keeps absorbing
    assert back.rows_seen == 301


# ------------------------------------------------------- spectral bound


@pytest.mark.parametrize("ell", [8, 16, 32])
def test_fd_spectral_bound_single_stream(ell):
    rng = np.random.default_rng(ell)
    # low-rank + noise: the regime FD is for
    U = rng.normal(size=(5000, 5))
    V = rng.normal(size=(5, 32))
    A = U @ V + 0.1 * rng.normal(size=(5000, 32))
    sk = FDSketch(ell=ell, dim=32)
    for i in range(0, 5000, 997):
        sk.update(A[i : i + 997])
    bound = 2.0 * float(np.sum(A * A)) / ell
    gap = spectral_gap(A, sk)
    assert 0.0 <= gap <= bound * (1 + 1e-9)
    # and the sketch never OVERestimates along any direction
    w = np.linalg.eigvalsh(A.T @ A - sk.gram())
    assert w.min() >= -1e-6 * float(np.sum(A * A))


def test_fd_spectral_bound_after_random_partition_merges():
    rng = np.random.default_rng(99)
    A = rng.normal(size=(4000, 24))
    ell = 24
    cuts = np.sort(rng.choice(np.arange(1, 4000), size=9, replace=False))
    parts = np.split(A, cuts)
    order = rng.permutation(len(parts))
    acc = None
    for idx in order:
        s = FDSketch(ell=ell, dim=24)
        s.update(parts[idx])
        acc = s if acc is None else acc.merge(s)
    assert acc.rows_seen == 4000
    bound = 2.0 * float(np.sum(A * A)) / ell
    assert spectral_gap(A, acc) <= bound * (1 + 1e-9)


def test_top_eigvecs_recover_planted_subspace():
    rng = np.random.default_rng(5)
    basis, _ = np.linalg.qr(rng.normal(size=(16, 2)))
    coeff = rng.normal(size=(3000, 2)) * np.array([30.0, 20.0])
    A = coeff @ basis.T + 0.01 * rng.normal(size=(3000, 16))
    sk = FDSketch(ell=8, dim=16)
    sk.update(A)
    V = sk.top_eigvecs(2)
    # projector distance between recovered and planted 2-subspace
    P = V @ V.T
    Q = basis @ basis.T
    assert np.linalg.norm(P - Q, 2) < 0.05


# -------------------------------------------------------- serialization


def test_roundtrip_bytes_exact_and_shrunk():
    rng = np.random.default_rng(3)
    for n in (5, 200):  # under / over the 2*ell=64 buffer
        A = rng.normal(size=(n, 12))
        sk = FDSketch(ell=32, dim=12)
        sk.update(A)
        back = FDSketch.from_bytes(sk.to_bytes())
        assert back.rows_seen == sk.rows_seen
        assert back.exact == sk.exact
        assert np.array_equal(back.gram(), sk.gram())
    with pytest.raises(ValueError, match="FD"):
        FDSketch.from_bytes(b"nope")


def test_validation():
    with pytest.raises(ValueError, match="ell"):
        FDSketch(0, 4)
    with pytest.raises(ValueError, match="dim"):
        FDSketch(4, 0)
    sk = FDSketch(4, 4)
    with pytest.raises(ValueError, match="width"):
        sk.update(np.ones((2, 3)))
    other = FDSketch(4, 5)
    with pytest.raises(ValueError, match="merge"):
        sk.merge(other)
    with pytest.raises(ValueError, match="k must"):
        sk.top_eigvecs(0)


# ------------------------------------------------------------ spark layer


def test_fd_gram_table_matches_numpy_exact_regime(spark):
    from hll_spark.operators.matrix import fd_gram_table, fd_sketch

    rng = np.random.default_rng(11)
    A = rng.integers(-100, 100, size=(350, 6)).astype(np.float64)
    rows = [(i, A[i].tolist()) for i in range(350)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(9)
    sk = fd_sketch(df, "embedding", ell=512)
    assert sk.exact and sk.rows_seen == 350
    assert np.array_equal(sk.gram(), A.T @ A)

    got = {
        (r.i, r.j): r.gram
        for r in fd_gram_table(spark, df, "embedding", ell=512).collect()
    }
    want = A.T @ A
    assert len(got) == 36
    for (i, j), v in got.items():
        assert v == want[i, j]


def test_fd_sketch_compressing_regime_bound_distributed(spark):
    from hll_spark.operators.matrix import fd_sketch

    rng = np.random.default_rng(12)
    A = rng.normal(size=(3000, 16))
    rows = [(i, A[i].tolist()) for i in range(3000)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(13)
    ell = 16
    sk = fd_sketch(df, "embedding", ell=ell)
    assert sk.rows_seen == 3000
    bound = 2.0 * float(np.sum(A * A)) / ell
    assert spectral_gap(A, sk) <= bound * (1 + 1e-9)


def test_fd_gram_by_matches_numpy_per_group_exact(spark):
    from hll_spark.operators.matrix import fd_gram_by

    rng = np.random.default_rng(21)
    groups = {"a": 120, "b": 75, "c": 1}
    rows, mats = [], {}
    i = 0
    for g, n in groups.items():
        A = rng.integers(-100, 100, size=(n, 5)).astype(np.float64)
        mats[g] = A
        for r in range(n):
            rows.append((i, g, A[r].tolist()))
            i += 1
    df = spark.createDataFrame(
        rows, "vec_id long, grp string, embedding array<double>"
    ).repartition(8)
    got = fd_gram_by(df, "embedding", ["grp"], ell=256).collect()
    assert len(got) == 3 * 25
    by_grp = {}
    for r in got:
        by_grp.setdefault(r.grp, {})[(r.i, r.j)] = r.gram
    for g, A in mats.items():
        want = A.T @ A
        for (i, j), v in by_grp[g].items():
            assert v == want[i, j]


def test_fd_gram_by_compressing_group_within_bound(spark):
    from hll_spark.operators.matrix import fd_gram_by

    rng = np.random.default_rng(22)
    A = rng.normal(size=(900, 10))
    rows = [(i, "only", A[i].tolist()) for i in range(900)]
    df = spark.createDataFrame(
        rows, "vec_id long, grp string, embedding array<double>"
    ).repartition(5)
    ell = 12  # 2*ell = 24 << 900: every partial compresses
    got = fd_gram_by(df, "embedding", ["grp"], ell=ell).collect()
    G = np.zeros((10, 10))
    for r in got:
        G[r.i, r.j] = r.gram
    bound = 2.0 * float(np.sum(A * A)) / ell
    gap = np.linalg.norm(A.T @ A - G, 2)
    assert 0.0 <= gap <= bound * (1 + 1e-9)


def test_fd_gram_by_validation(spark):
    from hll_spark.operators.matrix import fd_gram_by

    df = spark.createDataFrame(
        [(0, "a", [1.0])], "vec_id long, grp string, embedding array<double>"
    )
    with pytest.raises(ValueError, match="by"):
        fd_gram_by(df, "embedding", [], ell=4)
    with pytest.raises(ValueError, match="ell"):
        fd_gram_by(df, "embedding", ["grp"], ell=0)
    bad = spark.createDataFrame(
        [(0, "a", [1.0])], "vec_id long, i string, embedding array<double>"
    )
    with pytest.raises(ValueError, match="collide"):
        fd_gram_by(bad, "embedding", ["i"], ell=4)


def test_fd_gram_by_null_group_key_kept(spark):
    # dropna=False end to end: a null group is a real cell, not a drop
    from hll_spark.operators.matrix import fd_gram_by

    A = np.array([[2.0, 3.0]])
    B = np.array([[5.0, 7.0], [1.0, 1.0]])
    rows = [(None, A[0].tolist())] + [(u"g", r.tolist()) for r in B]
    df = spark.createDataFrame(
        rows, "grp string, embedding array<double>"
    ).repartition(2)
    got = fd_gram_by(df, "embedding", ["grp"], ell=8).collect()
    cells = {}
    for r in got:
        cells.setdefault(r.grp, {})[(r.i, r.j)] = r.gram
    assert set(cells) == {None, "g"}
    assert cells[None][(0, 1)] == 6.0
    assert cells["g"][(0, 0)] == 26.0


def test_fd_sketch_empty_column_raises(spark):
    from hll_spark.operators.matrix import fd_sketch

    df = spark.createDataFrame(
        [(0, None)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="no non-null"):
        fd_sketch(df, "embedding", ell=8)


def test_project_embeddings_matches_numpy_and_keeps_nulls(spark):
    from hll_spark.operators.matrix import project_embeddings

    rng = np.random.default_rng(31)
    A = rng.normal(size=(40, 6))
    basis = rng.normal(size=(6, 2))
    rows = [(i, A[i].tolist()) for i in range(40)] + [(99, None)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(4)
    got = {
        r.vec_id: r.projected
        for r in project_embeddings(df, "embedding", basis).collect()
    }
    want = A @ basis
    assert got[99] is None
    for i in range(40):
        assert np.allclose(got[i], want[i], atol=1e-12)


def test_project_embeddings_end_to_end_with_fd_basis(spark):
    # the intended composition: FD sketch -> top-k basis -> projection
    from hll_spark.operators.matrix import fd_sketch, project_embeddings

    rng = np.random.default_rng(32)
    basis_true, _ = np.linalg.qr(rng.normal(size=(12, 2)))
    coeff = rng.normal(size=(800, 2)) * np.array([20.0, 10.0])
    A = coeff @ basis_true.T + 0.01 * rng.normal(size=(800, 12))
    df = spark.createDataFrame(
        [(i, A[i].tolist()) for i in range(800)],
        "vec_id long, embedding array<double>",
    ).repartition(6)
    sk = fd_sketch(df, "embedding", ell=8)
    V = sk.top_eigvecs(2)
    low = project_embeddings(df, "embedding", V)
    rows = low.collect()
    assert all(len(r.projected) == 2 for r in rows)
    # projection preserves almost all variance of a rank-2 corpus
    P = np.stack([np.array(r.projected) for r in rows])
    assert float(np.sum(P * P)) >= 0.99 * float(np.sum(A * A))


def test_project_embeddings_validation(spark):
    from hll_spark.operators.matrix import project_embeddings

    df = spark.createDataFrame(
        [(0, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="basis"):
        project_embeddings(df, "embedding", np.ones(3))
    with pytest.raises(ValueError, match="already exists"):
        project_embeddings(df, "embedding", np.ones((2, 1)), "embedding")
    bad = project_embeddings(df, "embedding", np.ones((3, 1)))
    with pytest.raises(Exception, match="width"):
        bad.collect()
