"""Streaming ingest dedup: filter a page stream against a static
corpus near-dup index.

The production crawl shape: pages arrive continuously; the standing
corpus is represented by its materialized MinHash index
(:func:`hll_spark.operators.dedup.minhash_index` — a storable
(id, sig, bk) table). Inside ``foreachBatch`` every micro-batch is a
bounded DataFrame, so the batch-side indexed join applies unchanged:
the static index is hashed ZERO times per batch (its signatures are
stored), the stream side once. No streaming-specific join-support
matrix to fight — candidate generation needs explode + distinct +
rejoin, which stream-static joins can't express but a per-batch plan
runs as ordinary batch Spark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def streaming_dedup_increment(
    stream_df: DataFrame,
    index: DataFrame,
    text_col: str,
    id_col: str,
    out_path: str,
    threshold: float = 0.8,
    k: int = 128,
    bands: int = 32,
    shingle_n: int = 3,
    verify: str = "rep",
    unique_ids: bool = False,
):
    """Continuously append to ``out_path`` the streamed docs that do
    NOT near-duplicate anything in the static ``index``
    (from :func:`~hll_spark.operators.dedup.minhash_index`, typically
    ``spark.read.parquet(...)`` over the stored table).

    Semantics per micro-batch: exactly
    :func:`~hll_spark.operators.dedup.dedup_increment_index` — by
    default the rep path (each corpus bucket's min-id member verifies
    the doc, ≤ ``bands`` checks per doc — immune to boilerplate
    buckets holding thousands of corpus docs); ``verify="all"`` for
    exhaustive bucket-co-member verification. Novelty is judged
    against the CORPUS only; duplicates *within* the stream (across
    batches) are not tracked here — that is cumulative state
    (streaming_sketch_distinct / exact_dedup at compaction), not an
    index lookup. Refresh the index on a schedule by restarting the
    query over a re-read table.

    Returns a DataStreamWriter; caller adds
    checkpointLocation/trigger and ``.start()``. With a checkpoint,
    batch replay after failure rewrites the same batch's output —
    pair with an idempotent table format (Iceberg/Delta) or dedup on
    ``id_col`` at read time for exactly-once output.
    """
    from hll_spark.operators.dedup import (
        _dedup_increment_rep,
        _increment_rep_frames,
        dedup_increment_index,
        validate_minhash_index,
    )
    from hll_spark.operators.scanutil import reused

    # fail at wire-up, not first batch, on a wrong index frame
    # (columns, sig element type, AND stored sig/bk lengths vs k/bands
    # — a mismatched index would silently miss duplicates)
    if verify not in ("rep", "all"):
        raise ValueError(f"verify must be 'rep' or 'all', got {verify!r}")
    validate_minhash_index(index, id_col, k, bands)

    if verify == "rep":
        # the index-only frames (bucket representatives + unique rep
        # signatures) are pure functions of the STATIC index: compute
        # them once at wire-up through the lineage cut — every batch
        # joins the materialized frames — instead of re-running the
        # index validation head() and the index-wide keying shuffle
        # inside every micro-batch (ADVICE r5: per-batch latency
        # scaled with index size)
        reps, sig_r = _increment_rep_frames(index, id_col, unique_ids)
        reps, sig_r = reused(reps), reused(sig_r)

        def keep_novel(bdf: DataFrame, batch_id: int) -> None:
            _dedup_increment_rep(
                bdf, reps, sig_r, text_col, id_col, threshold, k, bands,
                shingle_n, unique_ids,
            ).write.mode("append").parquet(out_path)

    else:

        def keep_novel(bdf: DataFrame, batch_id: int) -> None:
            dedup_increment_index(
                bdf, index, text_col, id_col, threshold, k, bands, shingle_n,
                verify, unique_ids=unique_ids,
            ).write.mode("append").parquet(out_path)

    return stream_df.writeStream.foreachBatch(keep_novel).outputMode("append")
