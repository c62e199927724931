"""Deduplication operators for web-scale training-data pipelines.

Five dedup families, each designed around Spark's shuffle model:

- exact: hash-groupBy on a content digest — one shuffle of (digest, id),
  fully JVM-side.
- MinHash + LSH: shingle -> k minhashes -> b bands; candidate pairs come
  from a self-join on (band_id, band_hash) buckets — the classic
  sub-quadratic near-dup join. Signatures are numpy-vectorized per Arrow
  batch; the only shuffle is on band buckets, whose size is bounded by
  banding, not by n^2.
- SimHash: 64-bit weighted token hash; near-dups = small Hamming
  distance; banded into 4x16-bit chunks so candidates again come from an
  equality self-join (any pair within Hamming<=3 shares at least one of
  4 chunks by pigeonhole).
- n-gram Jaccard verify: exact similarity on candidate pairs only.
- embedding cosine: near-dup by vector similarity (see similarity.py for
  the ANN machinery; here used for pair filtering).

At 100 TB the load-bearing properties are: signatures are built in one
mapInPandas pass (no per-row Python), candidate generation shuffles only
(bucket_key, doc_id) pairs, and verification touches candidate pairs
only — never the n^2 cross join.

MinHash, the Hamming family (SimHash, image dHash, audio fingerprint)
and embeddings share ONE candidate plan, :func:`_band_join`, in both
its self-join and cross-table forms; each family supplies only a band
key expression, a payload and a verify expression. A frame one plan
reads more than once is reused inside that plan
(:func:`~.scanutil.reused`); nothing is cached across calls.
"""

from __future__ import annotations

import math
import warnings
from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType, LongType, NumericType

from .textkernels import (
    band_keys_matrix,
    flat_shingle_hashes,
    minhash_matrix,
    simhash_values,
)

# ---------------------------------------------------------------------------
# exact dedup (JVM-only)


def _row_digest(cols: list[str]):
    """Unambiguous content digest over ``cols``.

    JSON-encoding a named struct length-delimits every field and keeps
    nulls distinct from empty strings, so ('ab','c') vs ('a','bc') and
    (x, NULL) vs (x, '') never collide — a bare separator-less concat
    (and concat_ws, which skips nulls) would merge those groups.
    """
    return F.sha2(
        F.to_json(
            F.struct(*[F.col(c) for c in cols]),
            {"ignoreNullFields": "false"},
        ),
        256,
    )


def exact_dedup(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """Keep one row (the min id) per distinct combination of ``cols``.

    Pure built-ins: digest + groupBy + semi-join; Catalyst plans a
    partial/final hash aggregate (map-side combine) on the digest.
    """
    digest = _row_digest(cols)
    with_d = df.withColumn("__d", digest)
    keep = with_d.groupBy("__d").agg(F.min(id_col).alias("__keep_id"))
    # Semi-join back on the DIGEST (plus the id equality) rather than on
    # the id alone: the keep frame is already hash-partitioned by __d
    # from its aggregation, so the join reuses that exchange and only
    # the probe side shuffles — two exchanges total instead of four
    # (guide §2.4 "share one exchange"). Same keep-set: ids are unique,
    # so (digest, min-id-of-that-digest) selects exactly the row the
    # id-only semi-join kept; the digest is never null (sha2 of a JSON
    # struct), so plain equality is safe.
    return with_d.join(
        keep.select(F.col("__d").alias("__kd"), "__keep_id"),
        (F.col("__d") == F.col("__kd"))
        & (F.col(id_col) == F.col("__keep_id")),
        "left_semi",
    ).drop("__d")


def duplicate_groups(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """Groups with >1 identical rows: (digest, n_dupes, keeper_id)."""
    digest = _row_digest(cols)
    return (
        df.withColumn("digest", digest)
        .groupBy("digest")
        .agg(
            F.count("*").alias("n_dupes"),
            F.min(id_col).alias("keeper_id"),
        )
        .where(F.col("n_dupes") > 1)
    )


# ---------------------------------------------------------------------------
# LSH band join: the one candidate plan of every near-dup family


def _band_join(
    left: DataFrame,
    id_col: str,
    keys: Column,
    payload: Column,
    verify: Callable[[Column, Column], Column],
    score: str,
    keep: Callable[[Column], Column],
    right: DataFrame | None = None,
    unique_ids: bool = True,
) -> DataFrame:
    """Near-duplicate pairs by banded LSH, never a cross join.

    Each row's ``keys`` (an array of band keys) posexplode to
    (band_id, key) rows; two rows agreeing on any (band_id, key) are a
    candidate (one equi-join), kept once per id pair. ``verify`` scores
    each candidate from the two rows' ``payload`` JVM-side, and
    ``keep`` filters on the ``score`` column.

    ``right=None`` self-joins ``left`` (``a.id < b.id``) and names the
    output (id_a, id_b, score); with a ``right`` frame the output is
    (left_id, right_id, score), one side from each table. Both frames
    carry ``id_col`` and whatever ``keys`` and ``payload`` read.

    The payload's type picks its route. A fixed-width number (a 64-bit
    hash) rides through the join and the distinct, and its verify is
    one bit count. A wider payload (a signature or vector array) stays
    out of the bucket shuffle and rejoins by id after the distinct
    through :func:`_unique_sigs`, so ``unique_ids=False`` keeps one
    payload per id of a frame that may repeat ids (a stored index).

    An array verify is CPU-bound but byte-light, and AQE's byte floor
    would run it one or two tasks wide after the distinct (1.4
    CPU-seconds on one task measured at sf0.1 for embeddings), so on
    small inputs the candidates spread to the default parallelism
    before the rejoin. The gate reads the INPUTS' statistics:
    join-output estimates are unusable. A scalar verify is too cheap to
    pay for that shuffle (simhash pairs measured slower with it).
    """
    from .scanutil import plan_is_small

    self_join = right is None
    a_id, b_id = ("id_a", "id_b") if self_join else ("left_id", "right_id")
    a_p, b_p = f"__p_{a_id}", f"__p_{b_id}"
    right = left if self_join else right
    carry = isinstance(left.select(payload).schema[0].dataType, NumericType)

    def banded(df: DataFrame, out_id: str, out_p: str) -> DataFrame:
        carried = [payload.alias(out_p)] if carry else []
        return df.select(
            F.col(id_col).alias(out_id),
            *carried,
            F.posexplode(keys).alias("band_id", "key"),
        )

    cand = banded(left, a_id, a_p).join(
        banded(right, b_id, b_p), ["band_id", "key"]
    )
    if self_join:
        cand = cand.where(F.col(a_id) < F.col(b_id))
    cand = cand.select(a_id, b_id, *([a_p, b_p] if carry else [])).distinct()
    if not carry:
        if plan_is_small(left) and (self_join or plan_is_small(right)):
            cand = cand.repartition(
                left.sparkSession.sparkContext.defaultParallelism
            )
        cand = cand.join(
            _unique_sigs(left, id_col, a_id, a_p, unique_ids, payload), a_id
        ).join(_unique_sigs(right, id_col, b_id, b_p, unique_ids, payload), b_id)
    return (
        cand.withColumn(score, verify(F.col(a_p), F.col(b_p)))
        .where(keep(F.col(score)))
        .select(a_id, b_id, score)
    )


def _unique_sigs(
    index: DataFrame, key: str, out_id: str, out_sig: str,
    unique_ids: bool = False, sig: Column | None = None,
) -> DataFrame:
    """(out_id, out_sig) with one row per id from a possibly
    duplicate-id (legacy / externally built) index frame — min-sig-hash
    representative, deterministic. ``sig`` defaults to the index's
    ``sig`` column. Indexes built by :func:`minhash_index` are already
    unique; the aggregate then reduces to a rename-cost pass and keeps
    the join-explosion guard for stored tables that predate the keyed
    contract. ``unique_ids=True`` (the caller vouches for the index)
    skips the aggregate — one less shuffle of the stored index per
    increment."""
    sig = F.col("sig") if sig is None else sig
    if unique_ids:
        return index.select(F.col(key).alias(out_id), sig.alias(out_sig))
    return index.groupBy(F.col(key).alias(out_id)).agg(
        F.min_by(sig, F.xxhash64(sig)).alias(out_sig)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH


def _minhash_agreement(sig_a: Column, sig_b: Column, k: int) -> Column:
    """Estimated Jaccard of two k-minhash signatures: the fraction of
    matching positions, fully JVM-side (zip_with/filter/size), so no
    verify path crosses into Python; k=128 makes every fraction exactly
    representable."""
    n_match = F.size(
        F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda v: v)
    )
    return n_match.cast("double") / F.lit(float(k))


def _minhash_band_join(
    idx_l: DataFrame,
    idx_r: DataFrame | None,
    id_col: str,
    threshold: float,
    k: int,
    unique_ids: bool = True,
) -> DataFrame:
    """(id, sig, bk) frames through :func:`_band_join`: bucket on the
    band keys, verify the rejoined signatures (a self-join when
    ``idx_r`` is None)."""
    return _band_join(
        idx_l, id_col, F.col("bk"), F.col("sig"),
        lambda a, b: _minhash_agreement(a, b, k), "jaccard_est",
        lambda s: s >= threshold, right=idx_r, unique_ids=unique_ids,
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    k: int = 128,
    bands: int = 32,
    shingle_n: int = 3,
    unique_ids: bool = False,
) -> DataFrame:
    """Near-duplicate pairs with estimated Jaccard >= threshold.

    Plan: signatures -> explode to (band_id, band_hash, id) -> self-join
    on the banded bucket -> distinct candidate pairs -> estimate Jaccard
    as matching-minhash fraction. Output: (id_a, id_b, jaccard_est) with
    id_a < id_b. The banding (b=32, r=4 by default) makes the candidate
    probability at s=threshold ~ 1-(1-s^r)^b ≈ 1 while keeping buckets
    sub-quadratic.

    NOTE the output itself is quadratic in near-dup CLUSTER size (a
    boilerplate cluster of B docs genuinely has B^2/2 pairs) — on
    template-heavy web corpora use :func:`minhash_dedup_keep`, whose
    work and output stay O(n) regardless of cluster sizes.
    """
    # keyed by id up front: duplicate input rows would otherwise
    # multiply candidate and verify rows and emit duplicate pairs (see
    # minhash_index); the bucket join ships only (band_id, key, id)
    idx = minhash_index(df, text_col, id_col, k, bands, shingle_n, unique_ids)
    return _minhash_band_join(idx, None, id_col, threshold, k)


def minhash_dedup_keep(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    k: int = 128,
    bands: int = 32,
    shingle_n: int = 3,
    unique_ids: bool = False,
) -> DataFrame:
    """Near-dup DEDUP that survives boilerplate-heavy corpora: returns
    the rows of ``df`` to KEEP.

    Pair enumeration is inherently quadratic in near-dup cluster size
    (measured on the synthetic web corpus: one band bucket held 63% of
    200k docs -> 1.3e11 candidate pairs). This operator never builds
    pairs: each band bucket elects its minimum id as representative,
    each doc adopts the smallest representative across its bands, and
    every doc is verified against ONLY that one representative
    (matching-minhash fraction >= threshold, JVM-side) — O(n)
    verification rows total, any cluster shape.

    Semantics: star-shaped approximation of near-dup clustering — a
    doc is dropped iff it signature-matches the smallest-id member of
    one of its buckets. Exactly the LSH-dedup rule the big web
    pipelines run; full transitive closure needs iterative
    min-propagation, deliberately out of scope.
    """
    # keyed by id (duplicate rows collapse deterministically before
    # hashing; the final anti-join on the original frame preserves
    # every surviving input row — see minhash_index)
    idx = minhash_index(df, text_col, id_col, k, bands, shingle_n, unique_ids)
    banded = idx.select(
        F.col(id_col), F.posexplode("bk").alias("band_id", "band_hash")
    )
    # bucket representative = min id (one row per bucket, O(buckets))
    reps = banded.groupBy("band_id", "band_hash").agg(
        F.min(id_col).alias("__rep")
    )
    cand = (
        banded.join(reps, ["band_id", "band_hash"])
        .groupBy(id_col)
        .agg(F.min("__rep").alias("__rep"))
        .where(F.col("__rep") < F.col(id_col))
    )
    sig_self = idx.select(F.col(id_col), F.col("sig").alias("__sig_d"))
    sig_rep = idx.select(F.col(id_col).alias("__rep"), F.col("sig").alias("__sig_r"))
    drop = (
        cand.join(sig_self, id_col)
        .join(sig_rep, "__rep")
        .where(
            _minhash_agreement(F.col("__sig_d"), F.col("__sig_r"), k) >= threshold
        )
        .select(id_col)
    )
    return df.join(drop, id_col, "left_anti")


def minhash_join(
    left: DataFrame,
    right: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    k: int = 128,
    bands: int = 32,
    shingle_n: int = 3,
    unique_ids: bool = False,
) -> DataFrame:
    """Cross-corpus near-duplicate JOIN: (left_id, right_id,
    jaccard_est) for every pair with one side from each input and
    estimated Jaccard >= threshold.

    This is the incremental-dedup / decontamination-by-similarity
    shape: "which of today's crawl increment near-duplicate something
    already in the standing corpus?" — a question the self-join
    operators (:func:`minhash_lsh_pairs`) cannot answer without
    unioning the increment into the corpus and re-joining ALL of it.
    Here the two sides stay separate: each is enriched once
    (signatures + band keys, one Arrow pass), exploded to
    (band_id, band_hash, id) triples, and inner-joined across tables
    on the banded bucket; signatures rejoin only on the distinct
    candidate pairs and the verify (matching-minhash fraction,
    zip_with/filter/size) is fully JVM-side.

    100 TB design: the corpus side's banded triples and signatures are
    pure functions of (text, k, bands, shingle_n) — in production you
    materialize them ONCE (bucketed by band_hash) and every daily
    increment joins against the precomputed table, so the standing
    corpus is never re-hashed. Candidate volume is bounded by bucket
    co-occupancy exactly as in the self-join case, and the output is
    proportional to true cross-corpus near-dup pairs, not |corpus|.

    Note both inputs must expose the SAME text/id column names (rename
    upstream if they differ); ids may overlap across tables — the
    output keeps them in separate columns.
    """
    idx_r = minhash_index(
        right, text_col, id_col, k, bands, shingle_n, unique_ids
    )
    return minhash_join_index(
        left, idx_r, text_col, id_col, threshold, k, bands, shingle_n,
        unique_ids=unique_ids,
    )


def minhash_index(
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 128,
    bands: int = 32,
    shingle_n: int = 3,
    unique_ids: bool = False,
) -> DataFrame:
    """Materializable near-dup index of a corpus: EXACTLY one row per
    id, (id, sig array<long>, bk array<long>). ONE Python pass computes
    signatures AND band keys, reused within the plan that reads it (the
    band join reads it on both sides and again for the rejoin).

    The index is KEYED BY ``id_col``: duplicate input rows (the normal
    crawl case — the same url fetched repeatedly) collapse to one
    deterministic representative (the min-text-hash row) BEFORE
    hashing. This is load-bearing at scale, not hygiene: every
    verify/join downstream joins signatures by id, and duplicate ids
    on both join sides multiply — a rep with c copies in the index
    crossed with its candidate rows costs c× the verify work and emits
    duplicate join pairs. Measured on the duplicate-dense rehearsal
    fixture (~4 copies/url): the un-keyed index made the increment
    verify join explode 380 k → 67.8 M rows (~130 s of pure join
    blow-up at 63 k new docs); keyed, the join is 1:1. Collapsing also
    skips hashing the duplicate texts entirely.

    The index is a pure function of (text, k, bands, shingle_n) —
    write it to parquet/Iceberg ONCE and every later increment joins
    against the stored table via :func:`minhash_join_index`, so the
    standing corpus is hashed exactly once in its lifetime. At 10^12
    docs the index is ~1.1 KB/doc (k=128 longs + bands keys); store it
    partitioned however the corpus is partitioned — the bucket join
    re-shuffles only the exploded (band_id, band_hash, id) triples.
    """
    if k % bands:
        raise ValueError("k must be divisible by bands")
    from pyspark.sql.types import StructField, StructType

    from .scanutil import fan_out_scan, reused

    r = k // bands
    enriched_schema = StructType(
        [
            StructField("sig", ArrayType(LongType())),
            StructField("bk", ArrayType(LongType())),
        ]
    )

    @pandas_udf(enriched_schema)
    def sig_and_bands(texts: pd.Series) -> pd.DataFrame:
        sigs = minhash_matrix(texts, k, shingle_n)
        keys = band_keys_matrix(sigs, bands, r)
        return pd.DataFrame(
            {"sig": list(sigs.view(np.int64)), "bk": list(keys)},
            index=texts.index,
        )

    # the signature UDF is the CPU-heavy stage: fan its input out, or
    # a small keyed frame (AQE coalesces its shuffle to one or two
    # partitions) or a single-row-group scan hashes on one core
    keyed = fan_out_scan(_one_row_per_id(corpus, text_col, id_col, unique_ids))
    enriched = keyed.select(
        F.col(id_col), sig_and_bands(F.col(text_col)).alias("__s")
    )
    return reused(enriched).select(
        F.col(id_col),
        F.col("__s.sig").alias("sig"),
        F.col("__s.bk").alias("bk"),
    )


def _one_row_per_id(
    df: DataFrame, text_col: str, id_col: str, unique_ids: bool = False
) -> DataFrame:
    """(id, text) with exactly one row per id: duplicate ids collapse
    to the min-text-hash row — deterministic at any parallelism (ties
    only between identical texts). One map-side-combined aggregate;
    identical texts (the overwhelmingly common duplicate-id case)
    partially collapse before the shuffle.

    ``unique_ids=True`` skips the aggregate (projecting the two
    columns only): the keying shuffle is pure overhead when the caller
    guarantees ids are already unique (e.g. a corpus that has been
    through exact_dedup, or synthetic ids). Passing True over a
    duplicate-id input silently reintroduces the join-explosion the
    keying exists to prevent — the flag is a contract, not a hint."""
    if unique_ids:
        return df.select(id_col, text_col)
    return df.groupBy(id_col).agg(
        F.min_by(text_col, F.xxhash64(text_col)).alias(text_col)
    )


def validate_minhash_index(
    index: DataFrame, id_col: str, k: int, bands: int
) -> None:
    """Fail at plan build on an index frame that does not match the
    (k, bands) the caller is hashing the new side with.

    A mismatched index (built with a different k or band count) would
    otherwise yield silently empty or under-estimated join results —
    missed duplicates with no error (ADVICE r4, medium). Checks the
    columns, the element type, and — via ONE head() row — the stored
    sig/bk lengths against k/bands. ``shingle_n`` has no structural
    trace in the index and cannot be validated here: store it (and
    k/bands) alongside the table and treat them as part of its schema.
    An empty index vacuously passes the length check.
    """
    missing = {id_col, "sig", "bk"} - set(index.columns)
    if missing:
        raise ValueError(
            f"index is missing column(s) {sorted(missing)} — build it "
            "with minhash_index(corpus, ...)"
        )
    if index.schema["sig"].dataType.simpleString() != "array<bigint>":
        raise ValueError("index.sig must be array<long> (from minhash_index)")
    head = index.select(
        F.size("sig").alias("__k"), F.size("bk").alias("__b")
    ).head()
    if head is not None:
        if head["__k"] != k:
            raise ValueError(
                f"index sig length {head['__k']} != k={k} — the index "
                "was built with different minhash parameters; rebuild "
                "it or pass the k it was built with"
            )
        if head["__b"] != bands:
            raise ValueError(
                f"index band count {head['__b']} != bands={bands} — "
                "the index was built with different banding; rebuild "
                "it or pass the bands it was built with"
            )


def minhash_join_index(
    new: DataFrame,
    index: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    k: int = 128,
    bands: int = 32,
    shingle_n: int = 3,
    unique_ids: bool = False,
) -> DataFrame:
    """:func:`minhash_join` against a PRECOMPUTED corpus index (from
    :func:`minhash_index`, possibly read back from storage): only the
    ``new`` side is hashed; the index side contributes its stored
    (sig, bk) columns directly. (k, bands, shingle_n) must match the
    values the index was built with — sig/bk lengths are checked at
    plan build (:func:`validate_minhash_index`), shingle_n can't be
    (store it with the table).

    Both sides are keyed by id for the join (duplicate ids collapse to
    the deterministic representative — see :func:`minhash_index`), so
    the output enumerates distinct (left_id, right_id) PAIRS exactly
    once each; duplicate input rows neither multiply the verify work
    nor duplicate output pairs.
    """
    validate_minhash_index(index, id_col, k, bands)
    idx_l = minhash_index(new, text_col, id_col, k, bands, shingle_n, unique_ids)
    # one signature row per id on each side: a duplicate-id index frame
    # would multiply every candidate row it joins (c copies -> c x the
    # verify work AND duplicate output pairs) — the measured 380 k ->
    # 67.8 M join explosion on the duplicate-dense rehearsal fixture
    return _minhash_band_join(idx_l, index, id_col, threshold, k, unique_ids)


def dedup_increment(
    new: DataFrame,
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    k: int = 128,
    bands: int = 32,
    shingle_n: int = 3,
    verify: str = "rep",
    unique_ids: bool = False,
) -> DataFrame:
    """Rows of ``new`` that do NOT near-duplicate anything in
    ``corpus`` — the keep-set of an incremental crawl ingest.

    ``verify="rep"`` (default, the at-scale path): each CORPUS band
    bucket elects its min-id member as representative, and every
    increment doc is verified against only the distinct reps of the
    buckets it lands in — ≤ ``bands`` signature checks per doc,
    O(|new|·bands) total, regardless of how many corpus docs share a
    bucket. This is the cross-corpus form of
    :func:`minhash_dedup_keep`'s star rule (a doc is dropped iff it
    signature-matches a bucket representative); on boilerplate-heavy
    corpora where one template bucket holds thousands of corpus docs,
    the full pairwise verify is quadratic in bucket co-occupancy —
    measured on a 200k-doc template corpus (BENCH/BASELINE.md §3):
    pairwise 152 s, rep path seconds for the same 20k increment.

    ``verify="all"``: exhaustive — a doc is dropped iff ANY bucket
    co-member clears ``threshold`` (exactly :func:`minhash_join` +
    left_anti). Maximal recall w.r.t. the LSH candidates; cost grows
    with bucket co-occupancy. Use when cluster sizes are known small.

    At production scale the corpus index is precomputed
    (:func:`minhash_index`) — use :func:`dedup_increment_index`.
    """
    idx = minhash_index(corpus, text_col, id_col, k, bands, shingle_n, unique_ids)
    return dedup_increment_index(
        new, idx, text_col, id_col, threshold, k, bands, shingle_n, verify,
        unique_ids=unique_ids,
    )


def dedup_increment_index(
    new: DataFrame,
    index: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    k: int = 128,
    bands: int = 32,
    shingle_n: int = 3,
    verify: str = "rep",
    unique_ids: bool = False,
) -> DataFrame:
    """:func:`dedup_increment` against a PRECOMPUTED corpus index
    (from :func:`minhash_index`, typically read back from storage).
    See dedup_increment for the ``verify`` semantics."""
    if verify not in ("rep", "all"):
        raise ValueError(f"verify must be 'rep' or 'all', got {verify!r}")
    if verify == "all":
        matched = (
            minhash_join_index(
                new, index, text_col, id_col, threshold, k, bands, shingle_n,
                unique_ids=unique_ids,
            )
            .select(F.col("left_id").alias(id_col))
            .distinct()
        )
        return new.join(matched, id_col, "left_anti")
    validate_minhash_index(index, id_col, k, bands)
    reps, sig_r = _increment_rep_frames(index, id_col, unique_ids)
    return _dedup_increment_rep(
        new, reps, sig_r, text_col, id_col, threshold, k, bands,
        shingle_n, unique_ids,
    )


def _increment_rep_frames(
    index: DataFrame, id_col: str, unique_ids: bool = False
) -> tuple[DataFrame, DataFrame]:
    """The two INDEX-only frames the rep-verify increment joins every
    batch against: (bucket representatives, per-rep unique signatures).
    Pure functions of the static index — streaming callers compute
    them once at wire-up and reuse (ADVICE r5: per-batch latency must
    not scale with index size)."""
    # one row per corpus bucket: its min-id member is the representative
    reps = (
        index.select(
            F.col(id_col).alias("__rep"),
            F.posexplode(F.col("bk")).alias("band_id", "band_hash"),
        )
        .groupBy("band_id", "band_hash")
        .agg(F.min("__rep").alias("__rep"))
    )
    # one signature row per rep id (duplicate-id guard; see
    # minhash_join_index) — hot reps are hot precisely because their
    # duplicates are, so this is where the explosion concentrated
    sig_r = _unique_sigs(index, id_col, "__rep", "__sig_r", unique_ids)
    return reps, sig_r


def _dedup_increment_rep(
    new: DataFrame,
    reps: DataFrame,
    sig_r: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    k: int,
    bands: int,
    shingle_n: int,
    unique_ids: bool = False,
) -> DataFrame:
    """Rep-verify increment against precomputed index frames (see
    :func:`_increment_rep_frames`)."""
    # the keep-set is decided per id, so the new side is keyed by id
    # up front: duplicate new rows (same url crawled twice in one
    # increment) are hashed once and verified once — the final
    # anti-join on the ORIGINAL frame still returns every surviving
    # input row
    idx = minhash_index(new, text_col, id_col, k, bands, shingle_n, unique_ids)
    banded = idx.select(
        F.col(id_col), F.posexplode("bk").alias("band_id", "band_hash")
    )
    cand = (
        banded.join(reps, ["band_id", "band_hash"])
        .select(id_col, "__rep")
        .distinct()
    )
    sig_n = idx.select(F.col(id_col), F.col("sig").alias("__sig_l"))
    drop = (
        cand.join(sig_n, id_col)
        .join(sig_r, "__rep")
        .where(
            _minhash_agreement(F.col("__sig_l"), F.col("__sig_r"), k) >= threshold
        )
        .select(id_col)
        .distinct()
    )
    return new.join(drop, id_col, "left_anti")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    shingle_n: int = 3,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs via shingle inverted index.

    Plan (r6 integer form): explode distinct shingle hashes -> split
    shingles into RARE (document frequency <= ``max_shingle_df``) and
    HOT -> the rare self-join's per-pair row count IS the shared-rare-
    shingle count (one shuffle aggregate — no pair distinct, no array
    re-attach) -> add the shared-HOT count for those candidate pairs
    via two integer joins against the bounded hot postings -> Jaccard
    from exact integer counts and per-doc set sizes. Value-identical
    to the former array_intersect verify (|A∩B| partitions disjointly
    over rare and hot shingles) but nothing wider than (id, shingle)
    int rows is ever shuffled and the per-pair JVM array-hash work is
    gone (13.6 CPU-seconds of array_intersect at sf0.1 -> plain
    codegen counting; an AllPairs prefix-filter variant was measured
    and rejected — its per-candidate postings expansion costs more
    than the direct count everywhere the self-join is cap-bounded).

    The DF cap bounds the self-join's largest bucket at
    ``max_shingle_df`` docs regardless of corpus-wide boilerplate — the
    unbounded form is the one plan here that dies at 100x. Correctness
    contract: a qualifying pair is missed only if EVERY shingle it
    shares occurs in more than ``max_shingle_df`` documents — at
    near-dup thresholds a pair shares most of its shingles, so its
    similarity would have to rest entirely on corpus-ubiquitous
    boilerplate. Pass ``max_shingle_df=None`` for the uncapped exact
    oracle form. The MinHash path above is the at-scale approximate
    variant.
    """

    def shingles_batch(texts: pd.Series) -> pd.Series:
        sh, n_sh = flat_shingle_hashes(texts, shingle_n)
        cuts = np.cumsum(n_sh)[:-1]
        return pd.Series(
            [np.unique(seg).view(np.int64) for seg in np.split(sh, cuts)],
            index=texts.index,
        )

    from .scanutil import fan_out_scan, reused

    # non-deterministic mark (guide §4.4): the explode's implicit
    # size>0/isnotnull filter otherwise pushes below the fan-out
    # exchange and re-evaluates the UDF there — the plan showed the
    # shingle hash running TWICE, once on the starved pre-repartition
    # scan (ArrowEvalPython below AND above the Exchange)
    sh_udf = pandas_udf(shingles_batch, ArrayType(LongType())).asNondeterministic()
    # reused: the exploded (id, shingle) postings are read several
    # times (df aggregate, hot split, self-join, hot counts, sizes).
    # fan_out_scan first: the shingle UDF is the CPU-heavy per-row
    # stage and a single-row-group input would otherwise hash the
    # corpus one-core.
    exploded = reused(
        fan_out_scan(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), sh_udf(F.col(text_col)).alias("sh"))
        .select(F.col(id_col), F.explode("sh").alias("shingle"))
    )
    # per-doc distinct-shingle counts (exploded rows are unique per doc)
    sizes = exploded.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))
    hot = None
    if max_shingle_df is not None:
        hot_all = reused(
            exploded.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .where(F.col("__df") > max_shingle_df)
            .select("shingle")
        )
        # one cheap probe over the reused postings: when NO shingle
        # exceeds the cap (the common case away from boilerplate-heavy
        # corpora) the anti-join and the whole shared-hot counting
        # branch — including a full shuffle of the candidate pairs —
        # drop out of the plan entirely
        if hot_all.head(1):
            hot = hot_all
    rare_post = (
        exploded.join(hot, "shingle", "left_anti") if hot is not None
        else exploded
    )
    a, b = rare_post.alias("a"), rare_post.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__c_rare"))
    )
    if hot is not None:
        # shared-hot count per candidate pair: expand each pair by the
        # hot shingles of side a, keep those side b also holds. The
        # expansion is bounded by (candidate pairs) x (distinct hot
        # shingles per doc), and distinct hot shingles are <= total
        # postings / max_shingle_df by definition — never corpus-scale.
        hot_post = exploded.join(hot, "shingle")
        ha = hot_post.select(F.col(id_col).alias("id_a"), F.col("shingle"))
        hb = hot_post.select(F.col(id_col).alias("id_b"), F.col("shingle"))
        c_hot = (
            pairs.select("id_a", "id_b")
            .join(ha, "id_a")
            .join(hb, ["id_b", "shingle"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("__c_hot"))
        )
        pairs = pairs.join(c_hot, ["id_a", "id_b"], "left")
    else:
        pairs = pairs.withColumn("__c_hot", F.lit(None).cast("long"))
    common = pairs
    n_common = F.col("__c_rare") + F.coalesce(F.col("__c_hot"), F.lit(0))
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("__n").alias("__n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("__n").alias("__n_b"))
    return (
        common.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                n_common / (F.col("__n_a") + F.col("__n_b") - n_common), 6
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash


def _simhash_batch(texts: pd.Series) -> pd.Series:
    """Per-bit majority vote over token hashes — batch-flattened
    (one murmur call + segmented bit-count sums; textkernels)."""
    return pd.Series(simhash_values(texts), index=texts.index)


def simhash_udf():
    return pandas_udf(_simhash_batch, LongType())


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming.

    Banding: split the 64-bit hash into ``max_hamming + 1`` chunks; by
    pigeonhole any pair within the Hamming budget agrees on >= 1 chunk,
    so candidates come from an equality self-join per chunk — never a
    cross join.
    """
    hashed = df.select(
        F.col(id_col), simhash_udf()(F.col(text_col)).alias("simhash")
    )
    return hamming_band_pairs(hashed, id_col, "simhash", max_hamming)


def _hamming_chunks(hash_col: str, max_hamming: int) -> Column:
    """The ``max_hamming + 1`` pigeonhole chunks of a 64-bit hash as an
    array of band keys, low bits first; widths differ by at most one
    bit (4 x 16 at max_hamming=3, 13,13,13,13,12 at 4). Any pair within
    the Hamming budget agrees on at least one chunk."""
    n_chunks = max_hamming + 1
    base_w = 64 // n_chunks
    widths = [base_w + (1 if i < 64 % n_chunks else 0) for i in range(n_chunks)]
    offsets = [sum(widths[:i]) for i in range(n_chunks)]
    return F.array(
        *[
            F.shiftrightunsigned(F.col(hash_col), off).bitwiseAND(
                F.lit((1 << w) - 1)
            )
            for off, w in zip(offsets, widths)
        ]
    )


def _hamming_pairs(
    left: DataFrame,
    right: DataFrame | None,
    id_col: str,
    hash_col: str,
    max_hamming: int,
) -> DataFrame:
    """:func:`_band_join` over 64-bit hashes: bucket on the pigeonhole
    chunks, carry the hash, keep Hamming <= max_hamming."""
    return _band_join(
        left, id_col, _hamming_chunks(hash_col, max_hamming), F.col(hash_col),
        lambda a, b: F.bit_count(a.bitwiseXOR(b)), "hamming",
        lambda s: s <= max_hamming, right=right,
    )


def hamming_band_pairs(
    hashed: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int,
) -> DataFrame:
    """All pairs with Hamming(hash) <= max_hamming over a 64-bit hash
    column, via pigeonhole banding (the simhash/dhash candidate rule):
    split into ``max_hamming + 1`` chunks — any pair within budget
    agrees on >= 1 chunk, so candidates come from per-chunk equality
    self-joins and recall is exactly 1. The hashed frame is reused
    because the self-join reads it twice (the hash may be an
    expensive UDF — simhash tokenization, image decode)."""
    from .scanutil import reused

    return _hamming_pairs(reused(hashed), None, id_col, hash_col, max_hamming)


def hamming_band_join(
    left_hashed: DataFrame,
    right_hashed: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int,
) -> DataFrame:
    """Cross-table analog of :func:`hamming_band_pairs`:
    (left_id, right_id, hamming) for every pair with one side from
    each input and Hamming(hash) <= max_hamming. Same pigeonhole
    banding (recall exactly 1 within the budget), inner-joined across
    tables instead of self-joined — the incremental shape for the
    simhash/dhash/audio family: "which of today's media near-duplicate
    the standing corpus?". The hash frames are each a pure function of
    the payload, so the corpus side can be computed once, stored, and
    re-read per increment (the decode/UDF cost is paid only for new
    rows); each side is read once, so neither is reused."""
    return _hamming_pairs(
        left_hashed, right_hashed, id_col, hash_col, max_hamming
    )


def simhash_join(
    left: DataFrame,
    right: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Cross-corpus SimHash near-dup join: (left_id, right_id,
    hamming) with one doc from each input — :func:`simhash_pairs`'
    incremental sibling (see :func:`hamming_band_join`)."""
    def hashed(df):
        return df.select(
            F.col(id_col), simhash_udf()(F.col(text_col)).alias("simhash")
        )

    return hamming_band_join(
        hashed(left), hashed(right), id_col, "simhash", max_hamming
    )


def image_dup_join(
    left: DataFrame,
    right: DataFrame,
    payload_col: str,
    id_col: str,
    max_hamming: int = 6,
) -> DataFrame:
    """Cross-corpus perceptual IMAGE near-dup join (dHash + pigeonhole
    banding): which new images near-duplicate the standing image
    corpus. Both sides decode in-partition (binary never shuffles);
    store the corpus side's (id, dhash) frame once and pass it back in
    to skip re-decoding the corpus per increment."""
    from .multimodal import image_dhash

    def hashed(df):
        return (
            image_dhash(df, payload_col=payload_col, id_col=id_col)
            .where(F.col("dhash").isNotNull())
            .withColumnRenamed("media_id", id_col)
        )

    return hamming_band_join(hashed(left), hashed(right), id_col, "dhash", max_hamming)


def image_dup_pairs(
    df: DataFrame,
    payload_col: str,
    id_col: str,
    max_hamming: int = 6,
) -> DataFrame:
    """Near-duplicate IMAGE pairs: perceptual dHash (real in-partition
    decode — multimodal.image_dhash) + the same pigeonhole Hamming
    banding as simhash_pairs. The CommonCrawl-image dedup shape: the
    binary column never shuffles (each task decodes its own partition
    and emits 16-byte (id, hash) rows), candidates come from chunk
    equality self-joins — never a cross join — and recall within the
    Hamming budget is exactly 1 by pigeonhole. Undecodable payloads
    (NULL dhash) drop out of the pair search instead of failing it."""
    from .multimodal import image_dhash

    hashed = (
        image_dhash(df, payload_col=payload_col, id_col=id_col)
        .where(F.col("dhash").isNotNull())
        .withColumnRenamed("media_id", id_col)
    )
    return hamming_band_pairs(hashed, id_col, "dhash", max_hamming)


# ---------------------------------------------------------------------------
# embedding cosine near-dup


def _band_bucket_udf(dim: int, n_bands: int, n_planes: int, seed: int):
    """array<long> of ``n_bands`` bucket keys per vector: each band packs
    the sign bits of ``n_planes`` random-hyperplane projections. One
    matmul per Arrow batch — no per-row Python."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_bands * n_planes, dim))
    weights = (1 << np.arange(n_planes, dtype=np.int64))[None, None, :]

    def bucket(vecs: pd.Series) -> pd.Series:
        if not len(vecs):  # pandas UDFs can receive empty batches
            return pd.Series([], index=vecs.index, dtype=object)
        mat = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        signs = (mat @ planes.T) > 0  # (n, n_bands*n_planes)
        packed = (
            signs.reshape(len(mat), n_bands, n_planes).astype(np.int64) * weights
        ).sum(axis=2)
        return pd.Series(packed.tolist(), index=vecs.index)

    from pyspark.sql.functions import pandas_udf as _pudf

    return _pudf(bucket, ArrayType(LongType()))


def _tuned_hyperplane_params(
    threshold: float, n_bands: int | None, n_planes: int | None
) -> tuple[int, int]:
    """(n_bands, n_planes) for banded hyperplane LSH at ``threshold``
    (shared by the self-join and cross-corpus forms; tuning rationale
    in :func:`embedding_dup_pairs`'s docstring), plus the
    pruning-power warning for the loose-threshold regime."""
    if n_planes is None or n_bands is None:
        p = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
        # threshold >= 1.0 gives p == 1.0 and log(p) == 0; clamp so the
        # exact-duplicate case tunes to the finest buckets instead of
        # dividing by zero.
        p = min(p, 1.0 - 1e-9)
        r = n_planes if n_planes is not None else max(
            1, min(32, int(math.floor(math.log(0.17) / math.log(p))))
        )
        per_band = min(p**r, 1.0 - 1e-12)
        n_bands = n_bands if n_bands is not None else max(
            1, min(96, int(math.ceil(math.log(1e-6) / math.log(1.0 - per_band))))
        )
        n_planes = r
    # Pruning-power check: a random (orthogonal-ish) pair collides in one
    # band with prob ~2^-r, so the expected candidate fraction of ALL
    # pairs is ~ n_bands * 2^-r. When that approaches 1 the banding
    # cannot prune (the loose-threshold regime documented in
    # embedding_dup_pairs) and the join is quadratic by construction —
    # warn rather than run silently.
    random_rate = n_bands * 2.0 ** (-n_planes)
    if random_rate > 0.05:
        warnings.warn(
            f"hyperplane banding: threshold={threshold} tunes to "
            f"r={n_planes} planes x b={n_bands} bands, whose random-pair "
            f"candidate rate ~{random_rate:.2g} of ALL pairs — hyperplane "
            "banding cannot prune in this regime and the candidate join "
            "is effectively quadratic. Use a genuine near-dup threshold "
            "(>= ~0.8) or the IVF path at scale.",
            RuntimeWarning,
            stacklevel=4,
        )
    return n_bands, n_planes


def _drop_zero_norm(df: DataFrame, vec_col: str) -> DataFrame:
    """Drop rows whose vector is null, all-zero, or contains NaN:
    cosine is undefined for a zero vector, and Spark's NaN ordering
    (NaN > any number) would otherwise let ``NaN >= threshold`` pass
    and emit bogus pairs (ADVICE r4). Null vectors make ``aggregate``
    yield null, which the ``> 0`` predicate also rejects; a NaN
    ELEMENT makes the squared norm NaN, which the same NaN ordering
    would otherwise let through (ADVICE r5) — rejected explicitly.
    The blocked-GEMM variant applies the same filter so all
    cosine-pair variants agree by contract."""
    sq = _sq_norm(vec_col)
    return df.where(~F.isnan(sq) & (sq > 0))


def _sq_norm(vec_col: str) -> Column:
    return F.aggregate(vec_col, F.lit(0.0), lambda acc, x: acc + x * x)


def _unit_vector(vec_col: str) -> Column:
    """``vec_col`` scaled to unit length, JVM-side."""
    norm = F.sqrt(_sq_norm(vec_col))
    return F.transform(vec_col, lambda x: x / norm)


def _cosine(unit_a: Column, unit_b: Column) -> Column:
    """Cosine of two unit vectors (their dot product), rounded to 6
    places — the score every cosine-pair variant thresholds."""
    dot = F.aggregate(
        F.zip_with(unit_a, unit_b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.round(dot, 6)


def _embedding_pairs(
    left: DataFrame,
    right: DataFrame | None,
    vec_col: str,
    id_col: str,
    threshold: float,
    n_bands: int | None,
    n_planes: int | None,
    seed: int,
    dim: int | None,
) -> DataFrame:
    """:func:`_band_join` over vectors: bucket on banded hyperplane
    signs, rejoin the unit vectors, keep cosine >= threshold (a
    self-join when ``right`` is None)."""
    n_bands, n_planes = _tuned_hyperplane_params(threshold, n_bands, n_planes)
    if dim is None:
        # Spark array types don't carry a fixed length; one 1-row lookup
        # at plan-build time. Pass dim explicitly to avoid it.
        head = left.select(vec_col).head()
        if head is None and right is not None:
            head = right.select(vec_col).head()
        if head is None or head[0] is None:
            raise ValueError(
                "cannot infer vector dim from an empty input (or null "
                "first vector) — pass dim explicitly"
            )
        dim = len(head[0])
    left = _drop_zero_norm(left, vec_col)
    if right is None:
        from .scanutil import fan_out_scan

        # single-file inputs give the whole candidate machinery 1-2
        # tasks; fan the scan out so the bucket UDF, the banded
        # self-join probe and the cosine verify all run at cluster
        # width (guide §2.5)
        left = fan_out_scan(left.select(F.col(id_col), F.col(vec_col)))
    else:
        right = _drop_zero_norm(right, vec_col)
    # non-deterministic mark (guide §4.4): without it the generator's
    # implicit filter duplicates the bucket UDF below itself on each
    # join side (a cache of the banded frame was also tried — the UDF
    # is one matmul per batch, so the materialization cost more than
    # the recompute it saved)
    keys = _band_bucket_udf(dim, n_bands, n_planes, seed).asNondeterministic()(
        F.col(vec_col)
    )
    return _band_join(
        left, id_col, keys, _unit_vector(vec_col), _cosine, "cosine",
        lambda s: s >= threshold, right=right,
    )


def embedding_dup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    n_bands: int | None = None,
    n_planes: int | None = None,
    seed: int = 1234,
    dim: int | None = None,
) -> DataFrame:
    """Pairs with cosine(vec_a, vec_b) >= threshold, via banded
    random-hyperplane LSH + exact in-bucket cosine.

    Plan: one vectorized pass computes ``n_bands`` sign-bit bucket keys
    per vector; candidates come from an equality self-join on
    (band_id, bucket) — never a cross join — then the exact JVM-side
    cosine (zip_with/aggregate) runs on candidate pairs only.

    Two vectors at cosine s collide in one band of r planes with prob
    p^r, p = 1 - acos(s)/pi. When n_bands/n_planes are omitted they are
    tuned from ``threshold`` for a per-pair miss probability <= 1e-6 at
    the threshold itself: r is the largest plane count keeping p^r >=
    0.17 (so bands stay selective), then b = ceil(ln 1e-6 / ln(1-p^r)).
    High thresholds (the real near-dup regime, s >= 0.9) get fine
    buckets (r >= 12) and stay sub-quadratic at scale. Loose thresholds
    are a different regime: below s ~= 0.7 the random-pair collision
    rate 2^-r approaches the target-pair rate p^r, so NO hyperplane
    banding can prune — candidate volume approaches all-pairs times
    the band count. The operator stays correct there (the recall
    guarantee holds), but at scale use a genuine near-dup threshold or
    the IVF path instead. The all-pairs exact form lives in
    ``embedding_dup_pairs_allpairs`` as the small-scale oracle.
    """
    return _embedding_pairs(
        df, None, vec_col, id_col, threshold, n_bands, n_planes, seed, dim
    )


def embedding_dup_pairs_allpairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
) -> DataFrame:
    """All-pairs exact variant — O(n^2); small-scale oracle cross-check
    for :func:`embedding_dup_pairs` only, never the at-scale path."""
    df = _drop_zero_norm(df, vec_col)
    unit = df.select(F.col(id_col), _unit_vector(vec_col).alias("unit"))
    a, b = unit.alias("a"), unit.alias("b")
    return (
        a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .withColumn("cosine", _cosine(F.col("a.unit"), F.col("b.unit")))
        .where(F.col("cosine") >= threshold)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            "cosine",
        )
    )


def embedding_join(
    left: DataFrame,
    right: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    n_bands: int | None = None,
    n_planes: int | None = None,
    seed: int = 1234,
    dim: int | None = None,
) -> DataFrame:
    """Cross-corpus SEMANTIC near-dup join: (left_id, right_id,
    cosine) for pairs with one vector from each input and cosine >=
    threshold — :func:`embedding_dup_pairs`' incremental sibling,
    completing the cross-corpus family (lexical minhash_join, Hamming
    simhash/image/audio joins, semantic here).

    Same banded hyperplane LSH: both sides bucket under the SAME seed
    and tuned (r, b), candidates come from an inner join on
    (band_id, bucket) across tables, and the exact JVM-side cosine
    verifies candidates only. The corpus side's bucket keys and unit
    vectors are pure functions of (vec, seed, r, b) — precompute and
    store them to skip re-bucketing the standing corpus per increment.
    The loose-threshold warning applies unchanged.
    """
    return _embedding_pairs(
        left, right, vec_col, id_col, threshold, n_bands, n_planes, seed, dim
    )


def embedding_dup_pairs_blocked(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.5,
    n_blocks: int = 16,
) -> DataFrame:
    """EXACT cosine >= threshold pairs via block-partitioned dense GEMM.

    The scale-correct exact plan for LOOSE thresholds. Below cosine
    ~0.7 no random-hyperplane (or any known LSH) family can prune on
    unstructured data — the random-pair collision rate approaches the
    target-pair rate, so candidate generation degenerates to all pairs
    (see :func:`embedding_dup_pairs`'s regime warning). When the
    quadratic pair set is information-theoretically unavoidable, the
    right plan makes the quadratic work *dense linear algebra* instead
    of a join blow-up:

    - each id is hashed into one of ``n_blocks`` blocks; every row is
      replicated exactly ``n_blocks`` times, once per unordered block
      pair it participates in (shuffle volume = n * B rows, B chosen
      small — never n^2);
    - each unordered block pair {i, j} becomes ONE ``applyInPandas``
      task that receives the two blocks' vectors as Arrow batches,
      normalizes them, and computes the full similarity product as a
      single numpy/BLAS matmul (O(n^2 d / B^2) FLOPs per task across
      B(B+1)/2 independent tasks);
    - only pairs meeting the threshold leave the task.

    Every candidate pair is evaluated exactly once (the LSH path at a
    loose threshold evaluates each pair ~b times via band duplication),
    there is no skewed join key (blocks are hash-balanced by id), and
    task count/memory are fixed by B up front: at 100x the data, raise
    B so each block still fits an executor — the plan shape is
    unchanged. This is the classic block outer-product all-pairs
    scheme; results are exact, matching
    :func:`embedding_dup_pairs_allpairs` row-for-row.
    """
    if n_blocks < 1:
        raise ValueError("n_blocks must be >= 1")
    from pyspark.sql.types import StructField, StructType

    df = _drop_zero_norm(df, vec_col)
    id_type = df.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField("id_a", id_type),
            StructField("id_b", id_type),
            StructField("cosine", DoubleType()),
        ]
    )
    B = int(n_blocks)
    blk = F.pmod(F.xxhash64(F.col(id_col)), F.lit(B)).cast("int")
    tagged = df.select(
        F.col(id_col), F.col(vec_col).alias("__vec"), blk.alias("__blk")
    )
    # one (gi, gj) group key per unordered block pair this row joins:
    # for other = 0..B-1, key = (min(blk, other), max(blk, other)).
    # A row in block b lands in pair {b, j} exactly once for each j, and
    # in the diagonal pair (b, b) exactly once — so each group holds the
    # union of its two blocks with no duplication.
    keys = F.transform(
        F.sequence(F.lit(0), F.lit(B - 1)),
        lambda o: F.struct(
            F.least("__blk", o).alias("gi"),
            F.greatest("__blk", o).alias("gj"),
        ),
    )
    exploded = tagged.select(
        id_col, "__vec", "__blk", F.explode(keys).alias("__g")
    ).select(
        id_col, "__vec", "__blk", F.col("__g.gi").alias("__gi"), F.col("__g.gj").alias("__gj")
    )
    thr = float(threshold)

    def gemm_block_pair(key, pdf):
        gi, gj = key
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        n = len(pdf)
        if n < 2:
            return empty
        ids = pdf[id_col].to_numpy()
        mat = np.vstack(
            [np.asarray(v, dtype=np.float64) for v in pdf["__vec"]]
        )
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0.0] = 1.0
        unit = mat / norms[:, None]
        if gi == gj:
            sims = unit @ unit.T
            iu, ju = np.triu_indices(n, k=1)
            ia, ib = ids[iu], ids[ju]
            cs = sims[iu, ju]
        else:
            left = pdf["__blk"].to_numpy() == gi
            ul, ur = unit[left], unit[~left]
            if not len(ul) or not len(ur):
                return empty
            sims = ul @ ur.T
            ia = np.repeat(ids[left], len(ur))
            ib = np.tile(ids[~left], len(ul))
            cs = sims.ravel()
        cs = np.round(cs, 6)
        keep = cs >= thr
        if not keep.any():
            return empty
        ia, ib, cs = ia[keep], ib[keep], cs[keep]
        lo = np.minimum(ia, ib)
        hi = np.maximum(ia, ib)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": cs})

    return exploded.groupBy("__gi", "__gj").applyInPandas(
        gemm_block_pair, schema=out_schema
    )


# ---------------------------------------------------------------------------
# corpus-wide paragraph-level dedup (CCNet-style)


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delim: str = "\n",
) -> DataFrame:
    """Remove REPEATED paragraphs corpus-wide, keeping only the first
    occurrence (ordered by (id, position)) of each distinct paragraph —
    the CCNet/CC-Net paragraph dedup step, which strips quoted reposts,
    syndicated blocks and template chrome while keeping one canonical
    copy (unlike :func:`~.text.strip_boilerplate_lines`, which drops
    ubiquitous lines from EVERY document including the first).

    Returns (id, text) with the same row count as the input: a document
    whose every paragraph was seen earlier comes back with empty text.
    Blank paragraphs are structural (formatting), not content, and are
    always kept.

    Plan (pure JVM built-ins, no Python rows): split -> posexplode ->
    first-occurrence election as ``min(struct(id, pos))`` per paragraph
    — a hash aggregate with map-side partial combine, NOT a window sort
    (a row_number() window over the paragraph key would sort every
    shuffle partition; min(struct) streams) -> left-semi join back ->
    order-preserving reassembly. Shuffles are keyed by paragraph (the
    aggregate + the semi join, which AQE plans as one exchange reuse)
    and by id (the reassembly) — each key-bounded, no n^2 anywhere.
    """
    paras = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.col(text_col), "\\Q" + delim + "\\E")
        ).alias("pos", "para"),
    )
    content = paras.where(F.length(F.trim("para")) > 0)
    firsts = (
        content.groupBy("para")
        .agg(F.min(F.struct(id_col, "pos")).alias("__f"))
        .select(
            "para",
            F.col(f"__f.{id_col}").alias(id_col),
            F.col("__f.pos").alias("pos"),
        )
    )
    kept = content.join(firsts, ["para", id_col, "pos"], "left_semi").unionByName(
        paras.where(F.length(F.trim("para")) == 0)
    )
    cleaned = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
            delim,
        ).alias(text_col)
    )
    return (
        df.select(id_col)
        .join(cleaned, id_col, "left")
        .select(id_col, F.coalesce(text_col, F.lit("")).alias(text_col))
    )


# ---------------------------------------------------------------------------
# benchmark decontamination


def _word_ngrams(words, n: int):
    """Word ``n``-gram array from a ``split()`` words array column,
    single-space joined. Guards the short-doc case explicitly: Spark's
    ``sequence(1, 0)`` DESCENDS ([1, 0]) instead of returning empty,
    which would fabricate a gram (and a slice-at-0 error) for docs
    shorter than ``n`` words."""
    return F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (n - 1)),
            lambda i: F.array_join(F.slice(words, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def decontaminate_contains(
    df: DataFrame,
    snippets: DataFrame,
    text_col: str = "text",
    snippet_col: str = "snippet",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flag training documents containing any benchmark snippet as a
    literal substring (the exact-match half of GPT-3-style test-set
    decontamination; see :func:`decontaminate_ngrams` for the n-gram
    half). Returns (id, n_hits, contaminated) for EVERY input row — the
    caller filters or audits.

    Plan: the snippet set is collapsed to a single array row and
    cross-joined (1-row broadcast — no row blowup, unlike exploding a
    doc x snippet pair table) so the per-doc scan is one codegen'd
    higher-order ``filter(snips, s -> contains(text, s))``. Right shape
    for benchmark-sized snippet sets (10^2-10^5 short strings, a few MB
    broadcast); corpus-scale contamination sets belong in
    :func:`decontaminate_ngrams`' join instead.
    """
    from .scanutil import fan_out_scan

    snips = snippets.select(
        F.array_sort(F.collect_list(snippet_col)).alias("__snips")
    )
    hits = F.size(
        F.filter(
            F.col("__snips"), lambda s: F.col(text_col).contains(s)
        )
    )
    # the contains-scan is the CPU stage; repair starved scan
    # parallelism before it (guide §2.5 — no-op at natural split counts)
    return (
        fan_out_scan(df.select(id_col, text_col))
        .crossJoin(F.broadcast(snips))
        .withColumn("n_hits", hits.cast("long"))
        .select(
            id_col,
            "n_hits",
            (F.col("n_hits") > 0).alias("contaminated"),
        )
    )


def decontaminate_ngrams(
    df: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    bench_text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """N-gram overlap decontamination (the GPT-3/Llama recipe): a
    training document is contaminated iff it shares at least one
    word-level ``n``-gram with any benchmark document. Returns
    (id, n_hits, contaminated) per input row, where ``n_hits`` counts
    the DISTINCT benchmark n-grams present in the document.

    Plan: both sides explode to (gram) via a codegen'd
    transform(sequence)/slice/array_join chain — no Python; the
    benchmark side is distinct-ed (small: benchmarks are ~10^3-10^6
    grams) and broadcast into an equality join against training grams,
    so the only shuffle is the per-doc hit count aggregate. Documents
    shorter than ``n`` words produce no grams and come back clean.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")

    def grams(col):
        return _word_ngrams(F.split(F.col(col), " +"), n)

    bench_grams = (
        benchmark.select(F.explode(grams(bench_text_col)).alias("gram"))
        .distinct()
    )
    from .scanutil import fan_out_scan

    # the gram explosion is the CPU stage; repair starved scan
    # parallelism before it (guide §2.5 — no-op at natural split counts)
    doc_grams = fan_out_scan(df.select(id_col, text_col)).select(
        F.col(id_col), F.explode_outer(grams(text_col)).alias("gram")
    )
    hit_counts = (
        doc_grams.join(F.broadcast(bench_grams), "gram", "inner")
        .groupBy(id_col)
        .agg(F.count_distinct("gram").alias("n_hits"))
    )
    return (
        df.select(id_col)
        .join(hit_counts, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def decontaminate_ngrams_bloom(
    df: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    bench_text_col: str = "text",
    id_col: str = "doc_id",
    m_bits: int = 1 << 22,
    k: int = 7,
) -> DataFrame:
    """N-gram decontamination through a Bloom pre-filter — the at-scale
    shape of :func:`decontaminate_ngrams` for when the benchmark gram
    set is too big to broadcast as a literal join side (contamination
    against another CORPUS, or thousands of benchmarks at once).

    Output contract and values are IDENTICAL to
    :func:`decontaminate_ngrams` — (id, n_hits, contaminated) per input
    row — because the Bloom stage only PRUNES: no false negatives by
    construction, and its false positives are removed by an exact
    verify join on the survivors.

    Plan (the sketch library feeding its own pipeline):
      1. build a Bloom over the benchmark's distinct grams
         (:func:`~hll_spark.operators.sketches.bloom_build` — driver
         fast path under 1M grams, distributed partial/OR-merge above);
      2. scan training grams with the broadcast (m/8)-byte bitmap — an
         Arrow-batched probe over xxhash64 values, so only int64 hashes
         cross into Python and non-candidate grams (the overwhelming
         majority) die before any shuffle;
      3. exact-verify the tiny survivor set (true hits + ~fpr of corpus
         grams) against the real benchmark grams with a shuffle join —
         both sides are now bounded, so this never broadcasts the
         benchmark;
      4. per-doc distinct-hit counts, left-joined back onto the ids.

    At 10^12 rows the wins over the broadcast recipe: the benchmark
    side ships as a fixed-size bitmap instead of a gram array, and the
    verify shuffle carries ~fpr of the corpus gram stream instead of
    all of it.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    from .sketches import bloom_build, bloom_might_contain_udf

    def grams(col):
        return _word_ngrams(F.split(F.col(col), " +"), n)

    bench_grams = (
        benchmark.select(F.explode(grams(bench_text_col)).alias("gram"))
        .distinct()
    )
    blob = bloom_build(bench_grams, "gram", m_bits, k)
    might_contain = bloom_might_contain_udf(df.sparkSession.sparkContext.broadcast(blob))

    from .scanutil import fan_out_scan

    # same scan-parallelism repair as decontaminate_ngrams (guide §2.5)
    doc_grams = fan_out_scan(df.select(id_col, text_col)).select(
        F.col(id_col), F.explode(grams(text_col)).alias("gram")
    )
    candidates = doc_grams.where(might_contain(F.xxhash64("gram")))
    hit_counts = (
        candidates.join(bench_grams, "gram", "inner")
        .groupBy(id_col)
        .agg(F.count_distinct("gram").alias("n_hits"))
    )
    return (
        df.select(id_col)
        .join(hit_counts, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def repeated_span_stats(
    df: DataFrame,
    n: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document repeated-span coverage — the measurement half of
    ExactSubstr dedup (Lee et al., "Deduplicating Training Data Makes
    Language Models Better"): a word ``n``-gram is DUPLICATED iff it
    occurs >= 2 times corpus-wide (across documents or twice inside
    one), and a token position is COVERED iff at least one duplicated
    n-gram overlaps it. Returns one row per input document:

      total_tokens   whitespace token count (bigint)
      dup_ngrams     n-gram occurrences in this doc whose gram is
                     duplicated corpus-wide
      covered_tokens token positions under >= 1 duplicated gram
                     (interval union, not sum — overlaps not double
                     counted)
      coverage_frac  covered_tokens / total_tokens

    This is the report a pipeline reads before deciding to run span
    REMOVAL (and the threshold knob: docs with coverage above X are
    usually dropped whole rather than patched).

    100 TB design: one posexplode to (gram, pos) rows — O(total
    tokens), no pair enumeration anywhere; occurrence counts come
    from ONE count window over gram (a single exchange+sort of the
    gram rows; the groupBy+join-back alternative shuffles the
    duplicate set AND replays the generation for the probe side —
    two full corpus passes, measured 2x slower); coverage is then a
    per-doc sorted-interval union. Grams could be hashed (xxhash64)
    to shrink the shuffle key — kept as strings here so the DuckDB
    oracle can replay the plan byte-for-byte; the hashed variant
    changes only the window key.
    """
    if n < 2:
        raise ValueError(f"n must be >= 2, got {n}")
    from .scanutil import fan_out_scan

    words = F.split(F.col(text_col), " +")
    # fan_out_scan: the n-gram explode is the CPU-heavy stage and a
    # single-row-group input runs it one-core (guide §2.5)
    doc_grams = fan_out_scan(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.posexplode(_word_ngrams(words, n)).alias("pos", "gram")
    )
    # corpus-wide occurrence count as a WINDOW over gram, not a
    # groupBy + join-back: the join formulation shuffles (or
    # broadcasts) a duplicate-gram set AND re-generates the gram rows
    # for the probe side — two full explode passes over the corpus.
    # The window costs one exchange+sort of the gram rows and reads
    # the generation exactly once; measured 2x faster end-to-end.
    from pyspark.sql import Window as _W

    dup_occ = doc_grams.withColumn(
        "occ", F.count("*").over(_W.partitionBy("gram"))
    ).where(F.col("occ") >= 2)
    # Coverage = interval union of [pos, pos+n-1] over the doc's
    # duplicated gram starts. Computed from the SORTED start list with
    # array lambdas (one groupBy, no row blowup): each start covers
    # min(next_start - start, n) new tokens, the last covers n. The
    # per-doc array is bounded by the doc's token count (ints, ~4 B
    # each), so even a 10^6-token outlier document costs ~4 MB in one
    # aggregation buffer — never a shuffle explosion. (A first draft
    # exploded the n offsets and double-count_distinct'ed: the Expand
    # + per-position distinct made it ~10x this plan's wall time.)
    starts = F.array_sort(F.collect_set("pos"))
    covered_expr = (
        F.aggregate(
            F.zip_with(
                F.slice(starts, 1, F.size(starts) - 1),
                F.slice(starts, 2, F.size(starts) - 1),
                lambda a, b: F.least(b - a, F.lit(n)),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        + F.lit(n)
    ).cast("long")
    covered = (
        dup_occ
        .groupBy(id_col)
        .agg(
            # pos is unique per doc by construction (one gram per
            # start), so count(*) == count(DISTINCT pos)
            F.count("*").alias("dup_ngrams"),
            covered_expr.alias("covered_tokens"),
        )
    )
    return (
        df.select(F.col(id_col), F.size(words).cast("long").alias("total_tokens"))
        .join(covered, id_col, "left")
        .select(
            id_col,
            "total_tokens",
            F.coalesce("dup_ngrams", F.lit(0)).alias("dup_ngrams"),
            F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
            (
                F.coalesce("covered_tokens", F.lit(0)).cast("double")
                / F.col("total_tokens").cast("double")
            ).alias("coverage_frac"),
        )
    )


def remove_repeated_spans(
    df: DataFrame,
    n: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The removal half of ExactSubstr dedup (Lee et al.): every
    duplicated word ``n``-gram occurrence EXCEPT the corpus-first one
    is cut from its document, keep-first by ``min(struct(id, pos))``
    — so each repeated span survives exactly once corpus-wide and the
    total token loss is minimal for this gram inventory.

    Returns one row per input document:

      text_clean      the document rebuilt from surviving tokens,
                      single-space joined (whitespace is normalized by
                      construction — the same contract as
                      ``normalize_ws`` elsewhere in this repo)
      kept_tokens     surviving token count (bigint)
      removed_tokens  tokens cut (bigint; 0 for untouched docs)

    Election and interval arithmetic both run as JVM expressions:
    ownership is decided by ONE min(struct) window over gram (no
    row_number sort-and-filter), per-doc removal spans merge via
    sorted-array lambdas, and the membership test for each token is
    ``exists(starts, s -> s <= t < s+n)`` — O(tokens x spans) per doc
    in the worst (fully boilerplate) document, bounded by doc length
    squared/n, and zero for the common untouched doc.

    100 TB design: identical shuffle shape to repeated_span_stats —
    one exchange of the gram rows for the window, one groupBy(doc) of
    the (minority) removal starts, one broadcast-or-shuffle join back
    to the docs table. Rebuilding text is a per-row JVM expression;
    nothing per-token ever crosses into Python.
    """
    if n < 2:
        raise ValueError(f"n must be >= 2, got {n}")
    from pyspark.sql import Window as _W

    words = F.split(F.col(text_col), " +")
    # no fan_out_scan here (unlike repeated_span_stats): the rebuild
    # joins removals back to the docs table, and the extra exchange
    # measured net-slower in an interleaved A/B at sf0.1
    doc_grams = df.select(
        F.col(id_col), F.posexplode(_word_ngrams(words, n)).alias("pos", "gram")
    )
    gw = _W.partitionBy("gram")
    marked = doc_grams.select(
        id_col,
        "pos",
        F.count("*").over(gw).alias("occ"),
        F.min(F.struct(id_col, "pos")).over(gw).alias("owner"),
    )
    removals = (
        marked.where(
            (F.col("occ") >= 2)
            & ~(
                (F.col(f"owner.{id_col}") == F.col(id_col))
                & (F.col("owner.pos") == F.col("pos"))
            )
        )
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_set("pos")).alias("cut_starts"))
    )
    out = df.join(removals, id_col, "left")
    starts = F.coalesce(
        F.col("cut_starts"), F.array().cast("array<int>")
    )
    # kept token indices (0-based): t survives iff no removal span
    # [s, s+n-1] contains it
    kept_idx = F.filter(
        F.sequence(F.lit(0), F.size(words) - 1),
        lambda t: ~F.exists(
            starts, lambda s: (s <= t) & (t < s + F.lit(n))
        ),
    )
    return out.select(
        id_col,
        F.array_join(
            F.transform(kept_idx, lambda t: F.element_at(words, t + 1)),
            " ",
        ).alias("text_clean"),
        F.size(kept_idx).cast("long").alias("kept_tokens"),
        (F.size(words) - F.size(kept_idx)).cast("long").alias(
            "removed_tokens"
        ),
    )


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup by k-means clustering + within-cluster cosine


def semdedup_keep(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "doc_id",
    eps: float = 0.05,
    n_clusters: int = 16,
    train_sample: int = 10_000,
) -> DataFrame:
    """Semantic dedup (SemDeDup, Abbas et al. 2023, arXiv:2303.09540):
    k-means-cluster the embeddings, then within each cluster greedily
    drop every item whose cosine similarity to an already-KEPT item
    exceeds ``1 - eps``. Returns the kept rows as (id_col,).

    Keep rule, made deterministic: cluster members are visited in
    (cosine-to-centroid DESC, id ASC) order — the item nearest its
    centroid represents each semantic-duplicate group — and an item is
    kept iff its max cosine to every earlier KEPT member is
    <= 1 - eps. On clique-shaped duplicate groups this is exactly
    "keep one representative per group".

    Scale shape (the paper's own): centroids are trained driver-side
    on a bounded ordered sample and broadcast; assignment + the
    centroid-similarity ordering key are computed in ONE Arrow pass
    over the corpus; the only shuffle keys on cluster id; the O(m^2)
    cosine matrix is confined to single clusters via applyInPandas.
    At 100 TB you raise ``n_clusters`` so that corpus/n_clusters rows
    of (id, vec) fit one executor — cluster count, not corpus size,
    bounds the quadratic term.
    """
    if not (0.0 < eps < 1.0):
        raise ValueError(f"eps must be in (0, 1), got {eps}")
    if df.isEmpty():
        raise ValueError("semdedup_keep: input DataFrame is empty")
    from .similarity import _as_matrix, _normalize, sample_train_centroids

    thr = 1.0 - eps
    centroids = sample_train_centroids(
        df, vec_col, id_col, n_clusters, train_sample
    )
    bc = df.sparkSession.sparkContext.broadcast(centroids)

    assign_schema = "cell long, cent_sim double"

    def assign_batches(batches):
        cents = bc.value
        for pdf in batches:
            mat = _normalize(_as_matrix(pdf[vec_col], cents.shape[1]))
            sims = mat @ cents.T
            cell = np.argmax(sims, axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    vec_col: pdf[vec_col],
                    "cell": cell.astype(np.int64),
                    "cent_sim": sims[np.arange(len(cell)), cell],
                }
            )

    vec_field = df.schema[vec_col]
    assigned = df.select(id_col, vec_col).mapInPandas(
        assign_batches,
        schema=(
            f"{id_col} {df.schema[id_col].dataType.simpleString()}, "
            f"{vec_col} {vec_field.dataType.simpleString()}, "
            + assign_schema
        ),
    )

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["cent_sim", id_col], ascending=[False, True]
        ).reset_index(drop=True)
        mat = _normalize(_as_matrix(pdf[vec_col]))
        # one GEMM per cluster (the paper's shape); greedy prefix scan
        # over the row slices keeps the per-item step O(m)
        sims = mat @ mat.T
        kept: list[int] = []
        for i in range(len(pdf)):
            if not kept or float(sims[i, kept].max()) <= thr:
                kept.append(i)
        return pdf.iloc[kept][[id_col]]

    return (
        assigned.groupBy("cell")
        .applyInPandas(
            prune, schema=f"{id_col} {df.schema[id_col].dataType.simpleString()}"
        )
        .select(id_col)
    )


def audio_dup_pairs(
    df: DataFrame,
    payload_col: str,
    id_col: str,
    max_hamming: int = 6,
) -> DataFrame:
    """Near-duplicate AUDIO pairs: time-domain energy fingerprint
    (real in-partition WAV decode — multimodal.audio_afp) + the shared
    pigeonhole Hamming banding. Same scale shape as image_dup_pairs:
    bytes never shuffle, recall within the budget is exactly 1, and
    non-audio / undecodable payloads drop out instead of failing."""
    from .multimodal import audio_afp

    hashed = (
        audio_afp(df, payload_col=payload_col, id_col=id_col)
        .where(F.col("afp").isNotNull())
        .withColumnRenamed("media_id", id_col)
    )
    return hamming_band_pairs(hashed, id_col, "afp", max_hamming)


def audio_dup_join(
    left: DataFrame,
    right: DataFrame,
    payload_col: str,
    id_col: str,
    max_hamming: int = 6,
) -> DataFrame:
    """Cross-corpus AUDIO near-dup join — :func:`audio_dup_pairs`'
    incremental sibling (see :func:`hamming_band_join`): new audio vs
    a standing corpus whose (id, afp) fingerprint frame can be stored
    once and re-read per increment."""
    from .multimodal import audio_afp

    def hashed(df):
        return (
            audio_afp(df, payload_col=payload_col, id_col=id_col)
            .where(F.col("afp").isNotNull())
            .withColumnRenamed("media_id", id_col)
        )

    return hamming_band_join(hashed(left), hashed(right), id_col, "afp", max_hamming)
