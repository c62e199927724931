"""Checkpoint/resume tests (SURVEY.md §5.2(6)): resumed run byte-equals
the uninterrupted run, and resume really skips the scan (proved by
mutating the input after the checkpoint was written)."""

import numpy as np
import pandas as pd
import pytest

from hll_spark.operators.agg import hll_spec, sketch_aggregate
from hll_spark.plans.checkpoint import CheckpointStore, checkpointed_sketch_aggregate
from hll_spark.sketchlib.hll import HllConfig


@pytest.fixture()
def store(spark, tmp_path):
    return CheckpointStore(spark, str(tmp_path / "ckpt"))


CFG = HllConfig(log2m=12, regwidth=5)


def make_df(spark, n, seed=0):
    rng = np.random.default_rng(seed)
    return spark.createDataFrame(
        pd.DataFrame({"id": rng.integers(0, n // 2, size=n)})
    )


def test_resume_byte_equals_uninterrupted(spark, store):
    df = make_df(spark, 20_000)
    spec = hll_spec(CFG)
    uninterrupted = bytes(
        sketch_aggregate(df, "id", spec).collect()[0]["sketch"]
    )
    first = bytes(
        checkpointed_sketch_aggregate(df, "id", spec, store, "job1")
        .collect()[0]["sketch"]
    )
    resumed = bytes(
        checkpointed_sketch_aggregate(df, "id", spec, store, "job1")
        .collect()[0]["sketch"]
    )
    assert first == uninterrupted == resumed


def test_resume_skips_recompute(spark, store):
    df = make_df(spark, 10_000, seed=1)
    spec = hll_spec(CFG)
    first = bytes(
        checkpointed_sketch_aggregate(df, "id", spec, store, "job2")
        .collect()[0]["sketch"]
    )
    # a DIFFERENT input under the same job_id must be ignored: the
    # checkpoint, not the scan, feeds the merge
    other = make_df(spark, 10_000, seed=999)
    resumed = bytes(
        checkpointed_sketch_aggregate(other, "id", spec, store, "job2")
        .collect()[0]["sketch"]
    )
    assert resumed == first
    # force_recompute rebuilds from the new input
    rebuilt = bytes(
        checkpointed_sketch_aggregate(
            other, "id", spec, store, "job2", force_recompute=True
        ).collect()[0]["sketch"]
    )
    assert rebuilt != first


def test_lineage_and_metrics_recorded(spark, store):
    df = make_df(spark, 5_000, seed=2)
    spec = hll_spec(CFG)
    checkpointed_sketch_aggregate(df, "id", spec, store, "job3").collect()
    lineage = store.read("job3", "partials").toPandas()
    assert set(["job_id", "stage", "partition_id", "rows_seen", "written_at"]) <= set(
        lineage.columns
    )
    assert (lineage["job_id"] == "job3").all()
    assert lineage["rows_seen"].sum() == 5_000
    metrics = store.read_metrics("job3", "partials").toPandas()
    assert metrics.iloc[0]["rows_seen"] == 5_000
    assert metrics.iloc[0]["sketch_name"] == "hll"
    assert metrics.iloc[0]["wall_ms"] > 0


def test_grouped_checkpoint(spark, store):
    rng = np.random.default_rng(3)
    df = spark.createDataFrame(
        pd.DataFrame(
            {"id": rng.integers(0, 500, 8000), "g": rng.integers(0, 3, 8000).astype(str)}
        )
    )
    spec = hll_spec(CFG)
    direct = {
        r["g"]: bytes(r["sketch"])
        for r in sketch_aggregate(df, "id", spec, by=["g"]).collect()
    }
    resumed = {
        r["g"]: bytes(r["sketch"])
        for r in checkpointed_sketch_aggregate(
            df, "id", spec, store, "job4", by=["g"]
        ).collect()
    }
    assert direct == resumed


def test_resume_with_changed_grouping_raises_clearly(spark, store):
    """Reusing a job_id with a different by= must be a clear ValueError,
    not an unresolved-column AnalysisException from the merge plan
    (caught at the spark-submit surface in round 4)."""
    df = spark.createDataFrame(
        pd.DataFrame({"id": range(100), "g": ["a", "b"] * 50})
    )
    spec = hll_spec(CFG)
    checkpointed_sketch_aggregate(df, "id", spec, store, "jobX").collect()
    with pytest.raises(ValueError, match="grouping .* changed|key columns"):
        checkpointed_sketch_aggregate(
            df, "id", spec, store, "jobX", by=["g"]
        ).collect()
    # and the reverse direction: grouped checkpoint, ungrouped rerun
    checkpointed_sketch_aggregate(
        df, "id", spec, store, "jobY", by=["g"]
    ).collect()
    with pytest.raises(ValueError, match="grouping .* changed|key columns"):
        checkpointed_sketch_aggregate(df, "id", spec, store, "jobY").collect()
    # force_recompute overwrites the mismatched checkpoint and recovers
    out = checkpointed_sketch_aggregate(
        df, "id", spec, store, "jobY", force_recompute=True
    ).collect()
    assert len(out) == 1


def test_append_metrics_types_none_and_numpy_scalars(spark, store):
    """A None metric is a typed null and numpy scalars are unwrapped, so
    every append under the metrics path has one schema."""
    store.append_metrics("jobM", "partials", {"rows_seen": None, "wall_ms": 1.5})
    store.append_metrics(
        "jobM", "partials", {"rows_seen": np.int64(7), "wall_ms": None}
    )
    metrics = store.read_metrics("jobM", "partials")
    types = dict(metrics.dtypes)
    assert types["rows_seen"] == "bigint"
    assert types["wall_ms"] == "double"
    rows = sorted(
        metrics.select("rows_seen", "wall_ms").collect(),
        key=lambda r: r["rows_seen"] is None,
    )
    assert [tuple(r) for r in rows] == [(7, None), (None, 1.5)]
