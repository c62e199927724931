"""The one plan-stats probe (scanutil.plan_stats) and the callers that
decide from it: each caller's fallback when the probe cannot read
statistics, and both branches of the shared lineage-cut size gate."""

import pytest

from hll_spark.operators import scanutil
from hll_spark.operators.agg import _estimate_partials_partitions
from hll_spark.operators.scanutil import (
    fan_out_scan,
    plan_bytes,
    plan_is_small,
    plan_stats,
)


class _NoStatsFrame:
    """A frame whose plan-stats probe raises (e.g. a backend without
    ``_jdf``); ``rdd_partitions=None`` makes the RDD probe raise too."""

    def __init__(self, rdd_partitions=None):
        self._rdd_partitions = rdd_partitions

    @property
    def _jdf(self):
        raise AttributeError("_jdf")

    @property
    def rdd(self):
        if self._rdd_partitions is None:
            raise AttributeError("rdd")
        return type("Rdd", (), {"getNumPartitions": lambda s: self._rdd_partitions})()


def test_plan_stats_reads_bytes_and_splits(spark):
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(1 << 10))
    try:
        size, splits = plan_stats(spark.range(10_000))
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
    assert size > 0
    assert splits == -(-size // (1 << 10))


def test_probe_failure_falls_back_in_every_caller():
    frame = _NoStatsFrame()
    assert plan_stats(frame) is None
    assert plan_bytes(frame) == 0  # 'not provably large'
    assert plan_is_small(frame) is False
    assert fan_out_scan(frame) is frame  # plan left alone
    # merge topology: exact RDD probe, else the scale-safe two-level merge
    assert _estimate_partials_partitions(_NoStatsFrame(rdd_partitions=7)) == 7
    assert _estimate_partials_partitions(frame) == 1 << 20


@pytest.mark.parametrize("cut", [False, True], ids=["no_stats", "cut"])
def test_lm_lineage_gate_both_branches(spark, monkeypatch, cut):
    from hll_spark.operators.lm import bigram_lm_perplexity

    df = spark.createDataFrame(
        [(0, "a A b"), (1, "a b b"), (2, ""), (3, "c c")],
        "doc_id long, text string",
    )
    want = bigram_lm_perplexity(df, "text", "doc_id").collect()
    if cut:
        monkeypatch.setattr(scanutil, "LINEAGE_CUT_MIN_BYTES", -1)
    else:
        monkeypatch.setattr(scanutil, "plan_stats", lambda df: None)
    assert bigram_lm_perplexity(df, "text", "doc_id").collect() == want


@pytest.mark.parametrize("cut", [False, True], ids=["no_stats", "cut"])
def test_clean_corpus_lineage_gate_both_branches(spark, monkeypatch, cut):
    from hll_spark.operators.pipeline import clean_corpus

    texts = [
        " ".join(f"w{(i * 7 + j) % 50}" for j in range(60)) for i in range(4)
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts + texts[:1])], "doc_id long, text string"
    )
    want = sorted(r.doc_id for r in clean_corpus(df).select("doc_id").collect())
    if cut:
        monkeypatch.setattr(scanutil, "LINEAGE_CUT_MIN_BYTES", -1)
    else:
        monkeypatch.setattr(scanutil, "plan_stats", lambda df: None)
    got = sorted(r.doc_id for r in clean_corpus(df).select("doc_id").collect())
    assert got == want and 4 not in got
