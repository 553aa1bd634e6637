"""Order-sensitive stateful stream operators must give the same answer
however applyInPandasWithState splits a group into Arrow chunks: a tiny
spark.sql.execution.arrow.maxRecordsPerBatch hands every key over in
several chunks, written in reverse time order, with a null-timestamp
row among them."""

import datetime

import pytest
from pyspark.sql import functions as F

from fluent_bit_spark import sessions
from fluent_bit_spark.streaming import throttle_stream

T0 = datetime.datetime(2024, 1, 1)


@pytest.fixture
def small_arrow_chunks(spark):
    confs = {
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2",
        # a processing-time timeout otherwise keeps an availableNow query
        # running empty batches instead of terminating
        "spark.sql.streaming.noDataMicroBatches.enabled": "false",
    }
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    yield
    for k, v in old.items():
        spark.conf.set(k, v)


def _run(query_df, tmp_path):
    q = (
        query_df.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "chk"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()
    return query_df.sparkSession.read.parquet(str(tmp_path / "out"))


def test_sessionize_stream_sorts_across_chunks(spark, tmp_path, small_arrow_chunks):
    offsets = {1: [0, 100, 200, 1000, 1100, 2000, 2100, 2200, 3000],
               2: [0, 50, 900, 950, 1900]}
    rows = [(k, T0 + datetime.timedelta(seconds=s))
            for k, secs in offsets.items() for s in sorted(secs, reverse=True)]
    rows.insert(3, (1, None))
    df = spark.createDataFrame(rows, "user_id int, ts timestamp").coalesce(1)
    src = str(tmp_path / "src")
    df.write.parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    got = _run(
        sessions.sessionize_stream(
            stream, key="user_id", ts_col="ts", gap_sec=600,
            idle_timeout_ms=600_000,
        ),
        tmp_path,
    )
    batch = sessions.sessionize(
        df.filter(F.col("ts").isNotNull()), key="user_id", ts_col="ts", gap_sec=600
    ).collect()
    last = {}
    for r in batch:
        last[r["key"]] = max(last.get(r["key"], 0), r["session"])
    # the newest session per key is still open at end of input
    want = sorted(
        (r["key"], r["n_events"], r["duration_sec"])
        for r in batch if r["session"] != last[r["key"]]
    )
    s = sorted((r["user_id"], r["n_events"], r["duration_sec"]) for r in got.collect())
    assert s == want == [(1, 2, 100.0), (1, 3, 200.0), (1, 3, 200.0), (2, 2, 50.0), (2, 2, 50.0)]


def test_throttle_stream_pane_counter_across_chunks(spark, tmp_path, small_arrow_chunks):
    secs = [0, 1, 2, 60, 61, 62, 3, 4, 5, 63, 64, 65]
    rows = [("en", T0 + datetime.timedelta(seconds=s), s) for s in secs]
    rows.insert(5, ("en", None, -1))
    df = spark.createDataFrame(rows, "lang string, warc_ts timestamp, sec long").coalesce(1)
    src = str(tmp_path / "src")
    df.write.parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    got = _run(throttle_stream(stream, rate=2, interval_sec=60), tmp_path)
    # rate 2 per 60 s pane: the first two of each pane, by time
    assert sorted(r["sec"] for r in got.collect()) == [0, 1, 60, 61]
