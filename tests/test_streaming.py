"""Structured Streaming stateful sketch tests (file source, availableNow)."""

import numpy as np
import pandas as pd
import pytest

from hll_spark.sketchlib.hll import HllConfig
from hll_spark.streaming.stateful import streaming_hll_distinct, windowed_hll_distinct

CFG = HllConfig(log2m=14, regwidth=5)


def run_stream(spark, src_dir, ckpt_dir, build_query, out_dir):
    from pyspark.sql import functions as F

    stream = (
        spark.readStream.schema("user_id long, event_type string, ts timestamp")
        .parquet(src_dir)
    )
    out = build_query(stream)

    def sink(bdf, bid):
        bdf.withColumn("batch_id", F.lit(bid)).write.mode("append").parquet(out_dir)

    q = (
        out.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # latest emitted row per key wins (update-mode semantics)
    all_rows = spark.read.parquet(out_dir).toPandas()
    return (
        all_rows.sort_values("batch_id")
        .groupby("key", as_index=False)
        .last()
    )


def test_streaming_distinct_incremental(spark, tmp_path):
    rng = np.random.default_rng(0)
    src = str(tmp_path / "src")
    pdf1 = pd.DataFrame(
        {
            "user_id": rng.integers(0, 300, 2000),
            "event_type": rng.choice(["a", "b"], 2000),
            "ts": pd.Timestamp("2024-01-01"),
        }
    )
    spark.createDataFrame(pdf1).write.mode("append").parquet(src)

    result = run_stream(
        spark,
        src,
        str(tmp_path / "ck1"),
        lambda s: streaming_hll_distinct(s, "user_id", "event_type", CFG),
        str(tmp_path / "out1"),
    )
    got = result.set_index("key")["distinct_estimate"].to_dict()
    exact = pdf1.groupby("event_type")["user_id"].nunique().to_dict()
    assert got == exact  # explicit tier -> exact

    # second micro-batch: state carries over, counts grow incrementally
    pdf2 = pd.DataFrame(
        {
            "user_id": rng.integers(300, 500, 1000),
            "event_type": ["a"] * 1000,
            "ts": pd.Timestamp("2024-01-01"),
        }
    )
    spark.createDataFrame(pdf2).write.mode("append").parquet(src)
    result2 = run_stream(
        spark,
        src,
        str(tmp_path / "ck1"),
        lambda s: streaming_hll_distinct(s, "user_id", "event_type", CFG),
        str(tmp_path / "out1"),
    )
    both = pd.concat([pdf1, pdf2])
    exact2 = both.groupby("event_type")["user_id"].nunique().to_dict()
    got2 = result2.set_index("key")["distinct_estimate"].to_dict()
    assert got2["a"] == exact2["a"]


def test_windowed_distinct_with_watermark(spark, tmp_path):
    rng = np.random.default_rng(1)
    src = str(tmp_path / "wsrc")
    ts = pd.Timestamp("2024-01-01 00:00:00") + pd.to_timedelta(
        rng.integers(0, 3 * 3600, 3000), unit="s"
    )
    pdf = pd.DataFrame(
        {
            "user_id": rng.integers(0, 400, 3000),
            "event_type": ["x"] * 3000,
            "ts": ts,
        }
    )
    spark.createDataFrame(pdf).write.mode("append").parquet(src)
    result = run_stream(
        spark,
        src,
        str(tmp_path / "ck2"),
        lambda s: windowed_hll_distinct(s, "user_id", "ts", "1 hour", "2 hours", CFG),
        str(tmp_path / "wout"),
    )
    pdf["win"] = pdf["ts"].dt.floor("h").astype(str)
    exact = pdf.groupby("win")["user_id"].nunique()
    got = result.set_index("key")["distinct_estimate"]
    assert len(got) == len(exact)
    for win, n in exact.items():
        assert got[win] == n, win


def test_windowed_state_evicted_after_watermark(spark, tmp_path):
    """EventTimeTimeout must REMOVE state for windows the watermark has
    passed: after a 10-day jump in event time, the three old hourly
    windows' state rows are dropped and only the live window remains."""
    src = str(tmp_path / "esrc")
    ck = str(tmp_path / "eck")

    def run_once(pdf):
        spark.createDataFrame(pdf).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema("user_id long, event_type string, ts timestamp")
            .parquet(src)
        )
        out = windowed_hll_distinct(stream, "user_id", "ts", "1 hour", "2 hours", CFG)
        q = (
            out.writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        progress = [p for p in q.recentProgress if p["stateOperators"]]
        return progress[-1]["stateOperators"][0]["numRowsTotal"]

    base = pd.Timestamp("2024-01-01 00:00:00")
    pdf1 = pd.DataFrame(
        {
            "user_id": np.arange(30),
            "event_type": ["x"] * 30,
            "ts": base + pd.to_timedelta(np.repeat([0, 1, 2], 10), unit="h"),
        }
    )
    n_state_1 = run_once(pdf1)
    assert n_state_1 == 3  # three open hourly windows

    pdf2 = pd.DataFrame(
        {
            "user_id": [999],
            "event_type": ["x"],
            "ts": [base + pd.Timedelta(days=10)],
        }
    )
    n_state_2 = run_once(pdf2)
    assert n_state_2 < 3, "old window state must be evicted by the watermark"


def test_session_windows_streaming(spark, tmp_path):
    """Gap-based streaming sessions: sessions close when a gap-violating
    event arrives OR the watermark passes last+gap; distinct counts per
    session match the batch sessionize ground truth."""
    from hll_spark.streaming.stateful import session_hll_distinct

    src = str(tmp_path / "ssrc")
    ck = str(tmp_path / "sck")
    outd = str(tmp_path / "sout")
    base = pd.Timestamp("2024-01-01 00:00:00")
    # user 7: two sessions (10 events each, gap 3h between), 5 distinct
    # users... user 8: one session
    rows = []
    for u, offsets in [
        (7, list(range(10)) + [180 + i for i in range(10)]),
        (8, list(range(5))),
    ]:
        for i, m in enumerate(offsets):
            rows.append((u, i % 5, base + pd.Timedelta(minutes=m)))
    pdf1 = pd.DataFrame(rows, columns=["user_id", "event_type", "ts"])
    pdf1["event_type"] = pdf1["event_type"].astype(str)
    spark.createDataFrame(pdf1).write.mode("append").parquet(src)
    # a NULL user: its own one-event session, keyed NULL (not 'None')
    spark.createDataFrame(
        [(None, "3", (base + pd.Timedelta(minutes=30)).to_pydatetime())],
        "user_id long, event_type string, ts timestamp",
    ).write.mode("append").parquet(src)

    def run_once():
        stream = (
            spark.readStream.schema("user_id long, event_type string, ts timestamp")
            .parquet(src)
        )
        out = session_hll_distinct(
            stream, "event_type", "user_id", "ts",
            gap_seconds=3600, watermark="1 hour", cfg=CFG,
        )

        def sink(bdf, bid):
            if bdf.count():
                bdf.write.mode("append").parquet(outd)

        q = (
            out.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    # batch 2: an event far in the future closes everything via watermark
    pdf2 = pd.DataFrame(
        {"user_id": [99], "event_type": ["z"], "ts": [base + pd.Timedelta(days=5)]}
    )
    spark.createDataFrame(pdf2).write.mode("append").parquet(src)
    run_once()

    # read through Spark: toPandas would turn the NULL-bearing key to floats
    from pyspark.sql import functions as F

    got = spark.read.parquet(outd)
    assert dict(got.dtypes)["key"] == "bigint"  # user_id's own type
    sess = got.where(F.col("key").isin(7, 8)).orderBy("key", "session_start_ms")
    # user 7: 2 sessions of 10 rows / 5 distinct; user 8: 1 session of 5
    assert [(r.key, r.rows_seen, r.distinct_estimate) for r in sess.collect()] == [
        (7, 10, 5), (7, 10, 5), (8, 5, 5),
    ]
    nulls = got.where(F.col("key").isNull()).collect()
    assert [(r.rows_seen, r.distinct_estimate) for r in nulls] == [(1, 1)]


def test_sink_sketch_table_upserts_latest(spark, tmp_path):
    """Two micro-batch rounds through sink_sketch_table: the durable
    table must hold exactly ONE row per key, with the cumulative
    (cross-batch) distinct estimate — dynamic partition overwrite
    replaces only touched keys."""
    from hll_spark.operators.agg import hll_estimate_udf
    from hll_spark.streaming.stateful import sink_sketch_table

    src = str(tmp_path / "tsrc")
    ck = str(tmp_path / "tck")
    table = str(tmp_path / "sketch_table")

    def run_once(pdf):
        spark.createDataFrame(pdf).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema("user_id long, event_type string, ts timestamp")
            .parquet(src)
        )
        out = streaming_hll_distinct(stream, "user_id", "event_type", CFG)
        q = (
            sink_sketch_table(out, table)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    base = pd.Timestamp("2024-01-01")
    pdf1 = pd.DataFrame(
        {"user_id": np.arange(100), "event_type": ["a"] * 60 + ["b"] * 40,
         "ts": [base] * 100}
    )
    run_once(pdf1)
    # batch 2: 50 NEW users for 'a' only — 'b' cell must stay intact
    pdf2 = pd.DataFrame(
        {"user_id": np.arange(1000, 1050), "event_type": ["a"] * 50,
         "ts": [base] * 50}
    )
    run_once(pdf2)

    est = hll_estimate_udf()
    rows = (
        spark.read.parquet(table)
        .withColumn("n", est("sketch"))
        .select("key", "n", "rows_seen")
        .collect()
    )
    got = {r.key: (r.n, r.rows_seen) for r in rows}
    assert len(rows) == 2  # one row per key, not per batch
    assert got["a"] == (110, 110)  # 60 + 50 cumulative
    assert got["b"] == (40, 40)


def test_streaming_sketch_generic_theta(spark, tmp_path):
    """The streaming layer is sketch-generic: a theta spec streams the
    same way HLL does, and the final per-key sketches support DIRECT
    set ops across keys — exact below k."""
    from hll_spark.operators.sketches import theta_spec
    from hll_spark.sketchlib.theta import ThetaSketch
    from hll_spark.streaming.stateful import streaming_sketch_distinct

    src = str(tmp_path / "gsrc")
    ck = str(tmp_path / "gck")
    outd = str(tmp_path / "gout")
    spec = theta_spec(k=4096)

    def run_once(pdf):
        spark.createDataFrame(pdf).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema("user_id long, event_type string, ts timestamp")
            .parquet(src)
        )
        out = streaming_sketch_distinct(stream, "user_id", "event_type", spec)

        def sink(bdf, bid):
            bdf.write.mode("append").parquet(outd)

        q = (
            out.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    base = pd.Timestamp("2024-01-01")
    run_once(pd.DataFrame({"user_id": np.arange(0, 300), "event_type": ["a"] * 200 + ["b"] * 100, "ts": [base] * 300}))
    run_once(pd.DataFrame({"user_id": np.arange(150, 400), "event_type": ["a"] * 250, "ts": [base] * 250}))

    rows = spark.read.parquet(outd).toPandas()
    latest = rows.sort_values("rows_seen").groupby("key").last()
    sa = ThetaSketch.from_bytes(bytes(latest.loc["a", "sketch"]))
    sb = ThetaSketch.from_bytes(bytes(latest.loc["b", "sketch"]))
    assert sa.estimate() == 400   # users 0..399 cumulative for 'a'
    assert sb.estimate() == 100   # users 200..299 for 'b'
    assert sa.intersect_estimate(sb) == 100.0  # exact below k


def test_session_late_out_of_order_data(spark, tmp_path):
    """Watermark-admitted LATE segments: one within a gap of the open
    session's start extends it backward; one a full gap earlier becomes
    its own emitted session — never silently absorbed (ADVICE r2)."""
    from hll_spark.streaming.stateful import session_hll_distinct

    src = str(tmp_path / "lsrc")
    ck = str(tmp_path / "lck")
    outd = str(tmp_path / "lout")
    base = pd.Timestamp("2024-01-01 00:00:00")

    def write(rows):
        pdf = pd.DataFrame(rows, columns=["user_id", "event_type", "ts"])
        pdf["event_type"] = pdf["event_type"].astype(str)
        spark.createDataFrame(pdf).write.mode("append").parquet(src)

    def run_once():
        stream = (
            spark.readStream.schema(
                "user_id long, event_type string, ts timestamp"
            ).parquet(src)
        )
        out = session_hll_distinct(
            stream, "event_type", "user_id", "ts",
            gap_seconds=3600, watermark="2 hours", cfg=CFG,
        )

        def sink(bdf, bid):
            if bdf.count():
                bdf.write.mode("append").parquet(outd)

        q = (
            out.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    m = lambda mins: base + pd.Timedelta(minutes=mins)
    # batch 1: open session at minutes 100..104 (5 distinct types)
    write([(5, i, m(100 + i)) for i in range(5)])
    run_once()
    # batch 2 (late, admitted — watermark after batch1 is ~0):
    #  - minutes 5,6: ends >1 gap before start=100m -> separate session
    #    (and >1 gap before minute 70, so it stays its own segment)
    #  - minutes 70,71: within one 60-min gap of start -> extends it back
    write([(5, 0, m(5)), (5, 1, m(6)), (5, 0, m(70)), (5, 1, m(71))])
    run_once()
    # batch 3: far-future row closes the open session via watermark
    write([(99, "z", base + pd.Timedelta(days=5))])
    run_once()

    got = spark.read.parquet(outd).toPandas()
    sess = got[got.key == 5].sort_values("session_start_ms")
    ms = lambda mins: int((base + pd.Timedelta(minutes=mins)).timestamp() * 1000)
    rows = [
        (r.session_start_ms, r.session_end_ms, r.rows_seen, r.distinct_estimate)
        for r in sess.itertuples()
    ]
    assert rows == [
        (ms(5), ms(6), 2, 2),       # late gap-separated session, emitted
        (ms(70), ms(104), 7, 5),    # open session extended backward
    ]


def test_sliding_windowed_distinct(spark, tmp_path):
    """Sliding windows (2h window, 1h slide): every event lands in two
    overlapping windows and each window's distinct count matches the
    batch ground truth computed over the same 2h span."""
    rng = np.random.default_rng(9)
    src = str(tmp_path / "slsrc")
    base = pd.Timestamp("2024-01-01 00:00:00")
    ts = base + pd.to_timedelta(rng.integers(0, 3 * 3600, 3000), unit="s")
    pdf = pd.DataFrame(
        {
            "user_id": rng.integers(0, 300, 3000),
            "event_type": ["x"] * 3000,
            "ts": ts,
        }
    )
    spark.createDataFrame(pdf).write.mode("append").parquet(src)
    result = run_stream(
        spark,
        src,
        str(tmp_path / "slck"),
        lambda s: windowed_hll_distinct(
            s, "user_id", "ts", "2 hours", "2 hours", CFG, slide="1 hour"
        ),
        str(tmp_path / "slout"),
    )
    # ground truth: window starting at hour h covers [h, h+2h)
    got = result.set_index("key")["distinct_estimate"].to_dict()
    starts = sorted(got)
    # events span [0, 3h) -> sliding starts at -1h, 0h, 1h, 2h
    assert len(starts) == 4
    for start in starts:
        s = pd.Timestamp(start)
        mask = (pdf.ts >= s) & (pdf.ts < s + pd.Timedelta(hours=2))
        assert got[start] == pdf.loc[mask, "user_id"].nunique(), start


def test_streaming_mg_topk_exact_regime(spark, tmp_path):
    """k >= distinct items per key: MG counts are EXACT (offset 0)
    whatever the micro-batching, so the streamed top-n must equal the
    true frequency table of everything ingested so far."""
    from hll_spark.streaming.stateful import streaming_mg_topk

    src = str(tmp_path / "mgsrc")
    ck = str(tmp_path / "mgck")
    outd = str(tmp_path / "mgout")

    def run_once(pdf):
        spark.createDataFrame(pdf).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema("event_type string, source string")
            .parquet(src)
        )
        out = streaming_mg_topk(stream, "source", "event_type", k=64, top_n=3)

        def sink(bdf, bid):
            bdf.write.mode("append").parquet(outd)

        q = (
            out.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    b1 = pd.DataFrame(
        {"event_type": ["a"] * 60 + ["b"] * 30,
         "source": ["x"] * 40 + ["y"] * 15 + ["z"] * 5 + ["y"] * 30}
    )
    b2 = pd.DataFrame(
        {"event_type": ["a"] * 50,
         "source": ["z"] * 45 + ["x"] * 5}
    )
    run_once(b1)
    run_once(b2)

    rows = spark.read.parquet(outd).toPandas()
    latest = rows[rows.groupby("key")["rows_seen"].transform("max")
                  == rows["rows_seen"]]
    a = latest[latest["key"] == "a"].sort_values("rank")
    # cumulative 'a': x 45, y 15, z 50 -> top3 (z 50, x 45, y 15), exact
    assert list(zip(a["rank"], a["item"], a["est_count"])) == [
        (1, "z", 50), (2, "x", 45), (3, "y", 15)
    ]
    assert (a["max_undercount"] == 0).all()
    assert (a["rows_seen"] == 110).all()
    b = latest[latest["key"] == "b"].sort_values("rank")
    assert list(zip(b["rank"], b["item"], b["est_count"])) == [(1, "y", 30)]


def test_streaming_mg_topk_compressed_regime_bounds(spark, tmp_path):
    """k << distinct: every streamed estimate is a lower bound within
    max_undercount of the truth, max_undercount <= rows/(k+1), and the
    guaranteed-frequent item (freq > rows/(k+1)) is present."""
    from hll_spark.streaming.stateful import streaming_mg_topk

    src = str(tmp_path / "mgcsrc")
    ck = str(tmp_path / "mgcck")
    outd = str(tmp_path / "mgcout")
    K = 7

    rng = np.random.default_rng(11)

    def mk(n, heavy_frac):
        tail = rng.integers(0, 500, size=n)
        items = np.where(rng.random(n) < heavy_frac, -1, tail)
        return pd.DataFrame(
            {"event_type": ["a"] * n,
             "source": [f"s{i}" if i >= 0 else "HEAVY" for i in items]}
        )

    frames = [mk(3000, 0.3), mk(2000, 0.25)]

    def run_once(pdf):
        spark.createDataFrame(pdf).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema("event_type string, source string")
            .parquet(src)
        )
        out = streaming_mg_topk(stream, "source", "event_type", k=K, top_n=5)

        def sink(bdf, bid):
            bdf.write.mode("append").parquet(outd)

        q = (
            out.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    for f in frames:
        run_once(f)

    truth = pd.concat(frames)["source"].value_counts()
    n_rows = int(truth.sum())
    rows = spark.read.parquet(outd).toPandas()
    latest = rows[rows["rows_seen"] == n_rows]
    assert len(latest) > 0
    off = int(latest["max_undercount"].iloc[0])
    assert 0 < off <= n_rows / (K + 1)
    for r in latest.itertuples():
        true_c = int(truth.get(r.item, 0))
        assert r.est_count <= true_c <= r.est_count + off, r
    # HEAVY has freq > n/(k+1) by construction -> must be rank 1
    assert int(truth["HEAVY"]) > n_rows / (K + 1)
    top1 = latest[latest["rank"] == 1]
    assert top1["item"].iloc[0] == "HEAVY"


def test_streaming_mg_topk_validation(spark, tmp_path):
    from hll_spark.streaming.stateful import streaming_mg_topk

    src = str(tmp_path / "mgvsrc")
    spark.createDataFrame(
        pd.DataFrame({"event_type": ["a"], "source": ["x"]})
    ).write.parquet(src)
    stream = (
        spark.readStream.schema("event_type string, source string")
        .parquet(src)
    )
    with pytest.raises(ValueError, match="top_n"):
        streaming_mg_topk(stream, "source", "event_type", top_n=0)


def test_streaming_quantiles_kll(spark, tmp_path):
    """Per-key streaming quantiles: two real micro-batches through a
    checkpoint must yield EXACTLY the quantiles of a local mirror that
    updates batch1 then (after a bytes round-trip) batch2 — the same
    fold the stateful operator performs — and land within the KLL rank
    bound of the true order statistics."""
    from hll_spark.operators.sketches import kll_spec
    from hll_spark.sketchlib.kll import KllSketch
    from hll_spark.streaming.stateful import streaming_quantiles

    src = str(tmp_path / "qsrc")
    ck = str(tmp_path / "qck")
    outd = str(tmp_path / "qout")
    spec = kll_spec(k=200)

    def run_once(pdf):
        spark.createDataFrame(pdf).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema("grp string, value double")
            .parquet(src)
        )
        out = streaming_quantiles(
            stream, "value", "grp", spec=spec, qs=(0.5, 0.9)
        )

        def sink(bdf, bid):
            bdf.write.mode("append").parquet(outd)

        q = (
            out.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    rng = np.random.default_rng(43)
    b1 = {
        "a": rng.normal(100, 15, 4000),
        "b": rng.exponential(10, 3000),
    }
    b2 = {
        "a": rng.normal(300, 5, 2500),
        "b": rng.exponential(10, 1500),
    }
    nan_mix = np.array([np.nan, np.nan])
    run_once(
        pd.DataFrame(
            {
                "grp": ["a"] * 4000 + ["b"] * 3000 + ["a"] * 2,
                "value": np.concatenate([b1["a"], b1["b"], nan_mix]),
            }
        )
    )
    run_once(
        pd.DataFrame(
            {
                "grp": ["a"] * 2500 + ["b"] * 1500,
                "value": np.concatenate([b2["a"], b2["b"]]),
            }
        )
    )

    rows = spark.read.parquet(outd).toPandas()
    latest = rows.sort_values("rows_seen").groupby("key").last()
    for g in ("a", "b"):
        # mirror the exact fold: update b1, serialize, restore, update b2
        s = KllSketch(200)
        s.update(b1[g])
        s = KllSketch.from_bytes(s.to_bytes())
        s.update(b2[g])
        assert latest.loc[g, "rows_seen"] == len(b1[g]) + len(b2[g])
        assert latest.loc[g, "p50"] == pytest.approx(s.quantile(0.5))
        assert latest.loc[g, "p90"] == pytest.approx(s.quantile(0.9))
        # rank bound vs the true order statistics (5/k rank error)
        allv = np.sort(np.concatenate([b1[g], b2[g]]))
        for q, col in ((0.5, "p50"), (0.9, "p90")):
            est = latest.loc[g, col]
            true_rank = np.searchsorted(allv, est) / len(allv)
            assert abs(true_rank - q) <= 5.0 / 200 + 0.01


def test_streaming_quantiles_tdigest_and_name_guard(spark, tmp_path):
    from hll_spark.operators.sketches import tdigest_spec
    from hll_spark.streaming.stateful import streaming_quantiles

    src = str(tmp_path / "tsrc")
    ck = str(tmp_path / "tck")
    outd = str(tmp_path / "tout")
    rng = np.random.default_rng(47)
    vals = rng.normal(0, 1, 5000)
    pdf = pd.DataFrame({"grp": ["x"] * 5000, "value": vals})
    spark.createDataFrame(pdf).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("grp string, value double").parquet(src)
    )
    with pytest.raises(ValueError, match="duplicate"):
        streaming_quantiles(stream, "value", "grp", qs=(0.5, 0.50))
    out = streaming_quantiles(
        stream, "value", "grp", spec=tdigest_spec(200.0), qs=(0.99,)
    )

    def sink(bdf, bid):
        bdf.write.mode("append").parquet(outd)

    q = (
        out.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(outd).toPandas().iloc[0]
    true99 = np.quantile(vals, 0.99)
    assert abs(got["p99"] - true99) < 0.15


def test_streaming_dedup_increment_filters_vs_static_index(spark, tmp_path):
    # static corpus: 3 clone carriers + 2 singletons; stream batch 1
    # carries one clone of corpus doc 0 + two novel docs, batch 2 one
    # clone of corpus doc 1 + one novel — only the novel docs land in
    # the output table, cumulatively across batches
    from hll_spark.operators.dedup import minhash_index
    from hll_spark.streaming.increment import streaming_dedup_increment

    def toks(prefix, i, n=60):
        return " ".join(f"{prefix}{i}_{j}" for j in range(n))

    corpus = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(100, 105),
                "text": [toks("c", i) for i in range(3)]
                + [toks("k", i, 12) for i in (3, 4)],
            }
        )
    )
    idx_path = str(tmp_path / "idx.parquet")
    minhash_index(corpus, "text", "doc_id").write.parquet(idx_path)
    index = spark.read.parquet(idx_path)

    src = str(tmp_path / "stream_src")
    out = str(tmp_path / "kept")
    ckpt = str(tmp_path / "ckpt")

    def run_available(schema_df):
        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        writer = streaming_dedup_increment(
            stream, index, "text", "doc_id", out, threshold=0.5
        )
        q = (
            writer.option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    batch1 = pd.DataFrame(
        {"doc_id": [0, 1, 2], "text": [toks("c", 0), toks("n", 1, 12), toks("n", 2, 12)]}
    )
    spark.createDataFrame(batch1).write.mode("append").parquet(src)
    run_available(batch1)
    kept1 = sorted(spark.read.parquet(out).toPandas()["doc_id"])
    assert kept1 == [1, 2]  # the clone of corpus doc 100 is dropped

    batch2 = pd.DataFrame(
        {"doc_id": [3, 4], "text": [toks("c", 1), toks("n", 4, 12)]}
    )
    spark.createDataFrame(batch2).write.mode("append").parquet(src)
    run_available(batch2)
    kept2 = sorted(spark.read.parquet(out).toPandas()["doc_id"])
    assert kept2 == [1, 2, 4]  # appended; checkpoint skips batch 1


def test_streaming_dedup_increment_rejects_bad_index(spark, tmp_path):
    from hll_spark.streaming.increment import streaming_dedup_increment

    bad = spark.range(3).selectExpr(
        "id AS doc_id", "array(1.0) AS sig", "array(1L) AS bk"
    )
    src = tmp_path / "src"
    src.mkdir()
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    with pytest.raises(ValueError):
        streaming_dedup_increment(
            stream, bad, "text", "doc_id", str(tmp_path / "o")
        )


@pytest.fixture
def session_tz(spark):
    """Sets the session time zone for one test and restores it after."""
    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    yield lambda tz: spark.conf.set(key, tz)
    spark.conf.set(key, old)


@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
def test_windowed_eviction_ignores_session_time_zone(
    spark, tmp_path, session_tz, tz
):
    """A window's state lives until the watermark passes the window's end
    INSTANT, whatever the session time zone: a late row the watermark
    still admits joins the window's sketch instead of a fresh state."""
    session_tz(tz)
    src, ck, outd = (str(tmp_path / d) for d in ("src", "ck", "out"))
    base = pd.Timestamp("2024-01-01 00:00:00")

    def run_once(users, minutes):
        pdf = pd.DataFrame(
            {
                "user_id": users,
                "event_type": ["x"] * len(users),
                "ts": base + pd.to_timedelta(minutes, unit="m"),
            }
        )
        spark.createDataFrame(pdf).write.mode("append").parquet(src)
        return run_stream(
            spark,
            src,
            ck,
            lambda s: windowed_hll_distinct(
                s, "user_id", "ts", "1 hour", "2 hours", CFG
            ),
            outd,
        )

    run_once(np.arange(10), [70] * 10)  # 01:10, window [01:00, 02:00)
    run_once([100], [150])  # 02:30: watermark -> 00:00, window still open
    got = run_once([50], [105])  # late 01:45, admitted by the watermark
    row = got.set_index("key").loc["2024-01-01 01:00:00"]
    assert (row["distinct_estimate"], row["rows_seen"]) == (11, 11)


def test_windowed_refuses_timestamp_ntz_before_planning(spark):
    # a batch frame is enough: the check runs before any plan is built
    df = spark.createDataFrame(
        [(1, "x", pd.Timestamp("2024-01-01").to_pydatetime())],
        "user_id long, event_type string, ts timestamp_ntz",
    )
    with pytest.raises(ValueError, match="'ts' must be TIMESTAMP, got timestamp_ntz"):
        windowed_hll_distinct(df, "user_id", "ts")


@pytest.mark.parametrize("key_col", ["grp", "day"])
def test_streamed_keys_keep_type_and_match_batch_bytes(spark, tmp_path, key_col):
    """The output ``key`` keeps the key column's Spark type (long, date),
    and each key's sketch after two micro-batches is byte-equal to the
    batch aggregate over the same rows."""
    from hll_spark.operators.agg import hll_sketch_agg
    from hll_spark.operators.sketches import theta_sketch_agg, theta_spec
    from hll_spark.streaming.stateful import streaming_sketch_distinct

    rng = np.random.default_rng(5)
    src = str(tmp_path / "src")
    schema = "user_id long, grp long, day date"
    for _ in range(2):  # one file each; maxFilesPerTrigger=1 -> two batches
        grp = rng.integers(0, 3, 2000)
        day = pd.Timestamp("2024-03-01") + pd.to_timedelta(grp, unit="D")
        pdf = pd.DataFrame(
            {"user_id": rng.integers(0, 5000, 2000), "grp": grp, "day": day.date}
        )
        spark.createDataFrame(pdf, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    rows_in = spark.read.schema(schema).parquet(src)
    cases = [
        (
            lambda s: streaming_sketch_distinct(
                s, "user_id", key_col, theta_spec(4096)
            ),
            theta_sketch_agg(rows_in, "user_id", 4096, by=[key_col]),
        ),
        (
            lambda s: streaming_hll_distinct(s, "user_id", key_col, CFG),
            hll_sketch_agg(rows_in, "user_id", by=[key_col], cfg=CFG),
        ),
    ]
    for i, (build, batch) in enumerate(cases):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        out = build(stream)
        assert out.schema["key"].dataType == stream.schema[key_col].dataType
        emitted = []
        q = (
            out.writeStream.foreachBatch(
                lambda bdf, bid: emitted.extend(bdf.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / f"ck{i}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        latest = {}
        for r in sorted(emitted, key=lambda r: r.rows_seen):
            latest[r.key] = bytes(r.sketch)
        want = {r[key_col]: bytes(r.sketch) for r in batch.collect()}
        assert len(want) == 3 and latest == want
        assert len(emitted) == 6  # every key emitted in both micro-batches
