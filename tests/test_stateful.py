"""Stateful streaming materialization: incremental winners across
micro-batches must converge to the batch materialize() result; replays
must not re-emit."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from outboxx_spark.operators.materialize import materialize
from outboxx_spark.sources.feed import read_feed, read_feed_stream
from outboxx_spark.streaming.stateful import streaming_materialize

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def multi_file_feed(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("feed_state")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{SF}/events.parquet")
    ev.repartition(4).write.mode("overwrite").parquet(str(d / "events.parquet"))
    return str(d)


@pytest.mark.slow
def test_stateful_state_survives_restart(spark, multi_file_feed, tmp_path):
    """Kill the stateful query mid-feed; the restart must resume from
    checkpointed GroupState and still converge to the batch winners."""
    import time as _t

    ckpt = str(tmp_path / "ckpt_restart")
    out_dir = str(tmp_path / "mat_out")

    def start():
        stream = read_feed_stream(spark, multi_file_feed, max_files_per_trigger=1)

        def sink(df, epoch_id):
            df.write.mode("append").parquet(out_dir)

        return (
            streaming_materialize(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .start()
        )

    q1 = start()
    deadline = _t.time() + 60
    while _t.time() < deadline:
        if any(p and p["numInputRows"] > 0 for p in (q1.recentProgress or [])):
            break
        _t.sleep(0.3)
    q1.stop()

    q2 = start()
    q2.processAllAvailable()
    q2.stop()

    got: dict = {}
    for r in spark.read.parquet(out_dir).collect():
        k = (r["resource"], r["key"])
        if k not in got or r["lsn"] > got[k][1]:
            got[k] = (r["op"], r["lsn"])

    from pyspark.sql.window import Window as W

    want = {
        (r["resource"], r["user_id"]): (r["op"], r["lsn"])
        for r in read_feed(spark, multi_file_feed)
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("resource", "user_id").orderBy(F.col("lsn").desc())
            ),
        )
        .filter("rn = 1")
        .collect()
    }
    assert got == want


@pytest.mark.slow
def test_streaming_materialize_converges_to_batch(spark, multi_file_feed, tmp_path):
    stream = read_feed_stream(spark, multi_file_feed, max_files_per_trigger=1)
    out = streaming_materialize(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("mat_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    emitted = spark.sql("SELECT * FROM mat_out").collect()
    # last emission per (resource, key) = the final winner
    got: dict = {}
    for r in emitted:
        k = (r["resource"], r["key"])
        if k not in got or r["lsn"] > got[k][1]:
            got[k] = (r["op"], r["lsn"])

    from pyspark.sql.window import Window as W

    batch_all = {  # include DELETE winners (streaming emits tombstones)
        (r["resource"], r["user_id"]): (r["op"], r["lsn"])
        for r in read_feed(spark, multi_file_feed)
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("resource", "user_id").orderBy(F.col("lsn").desc())
            ),
        )
        .filter("rn = 1")
        .collect()
    }
    assert got == batch_all
    # non-tombstone winners match the batch materializer exactly
    batch = materialize(read_feed(spark, multi_file_feed))
    got_live = {k: v for k, v in got.items() if v[0] != "DELETE"}
    want_live = {
        (r["resource"], r["user_id"]): (r["op"], r["lsn"]) for r in batch.collect()
    }
    assert got_live == want_live
    # incremental: multiple micro-batches -> more emissions than final keys
    assert len(emitted) >= len(got)


@pytest.mark.slow
def test_streaming_session_window_converges_to_batch(spark, multi_file_feed):
    from outboxx_spark.operators.windows import sessionize, streaming_sessionize
    from outboxx_spark.sources.feed import read_feed, read_feed_stream

    stream = read_feed_stream(spark, multi_file_feed)
    # the fixture's files are not time-ordered, so a realistic watermark
    # would (correctly) treat whole files as late; a watermark longer
    # than the feed's time span takes lateness out of the equation while
    # still exercising cross-micro-batch session merging
    q = (
        streaming_sessionize(stream, gap_s=1800, watermark="9999 days")
        .writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.sql("SELECT * FROM sess_stream").collect()
    }
    expect = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in sessionize(read_feed(spark, multi_file_feed), gap_s=1800).collect()
    }
    # identical session boundaries and sizes (ids aside, which are
    # batch-only sequence numbers)
    assert got == expect and got


@pytest.mark.slow
def test_streaming_windowed_tally_converges_to_batch(spark, multi_file_feed):
    from outboxx_spark.operators.windows import streaming_windowed_tally, windowed_tally
    from outboxx_spark.sources.feed import read_feed, read_feed_stream

    stream = read_feed_stream(spark, multi_file_feed)
    q = (
        streaming_windowed_tally(stream, window_s=3600, watermark="9999 days")
        .writeStream.format("memory")
        .queryName("wt_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["resource"], r["op"], r["n"])
        for r in spark.sql("SELECT * FROM wt_stream").collect()
    }
    expect = {
        (r["window_start"], r["resource"], r["op"], r["n"])
        for r in windowed_tally(read_feed(spark, multi_file_feed), window_s=3600).collect()
    }
    assert got == expect and got


@pytest.mark.slow
def test_stream_stream_join_converges_to_batch(spark, multi_file_feed):
    """Watermarked stream-stream inner join (update<->insert pairing)
    must emit exactly the batch self-join's pairs once the feed drains
    (watermark wide open so nothing is dropped as late)."""
    from outboxx_spark.streaming.joins import (
        pair_updates_with_inserts,
        pair_updates_with_inserts_stream,
    )

    stream = read_feed_stream(spark, multi_file_feed)
    q = (
        pair_updates_with_inserts_stream(stream, watermark="9999 days")
        .writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["resource"], r["user_id"], r["ins_lsn"], r["upd_lsn"], r["lag_s"])
        for r in spark.sql("SELECT * FROM ss_join").collect()
    }
    expect = {
        (r["resource"], r["user_id"], r["ins_lsn"], r["upd_lsn"], r["lag_s"])
        for r in pair_updates_with_inserts(read_feed(spark, multi_file_feed)).collect()
    }
    assert got == expect and got


@pytest.mark.slow
def test_stream_stream_join_survives_restart(spark, multi_file_feed, tmp_path):
    """Kill the watermarked stream-stream join mid-feed; the restart
    must resume from checkpointed join state and still emit exactly the
    batch pair set (no loss, no duplicates)."""
    import time as _t

    from outboxx_spark.streaming.joins import (
        pair_updates_with_inserts,
        pair_updates_with_inserts_stream,
    )

    ckpt = str(tmp_path / "ssj_ckpt")
    out_dir = str(tmp_path / "ssj_out")

    def start():
        stream = read_feed_stream(spark, multi_file_feed, max_files_per_trigger=1)
        return (
            pair_updates_with_inserts_stream(stream, watermark="9999 days")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    q1 = start()
    deadline = _t.time() + 60
    while _t.time() < deadline:
        if any(p and p["numInputRows"] > 0 for p in (q1.recentProgress or [])):
            break
        _t.sleep(0.3)
    q1.stop()

    q2 = start()
    q2.processAllAvailable()
    q2.stop()

    got = [
        (r["resource"], r["user_id"], r["ins_lsn"], r["upd_lsn"])
        for r in spark.read.parquet(out_dir).collect()
    ]
    expect = {
        (r["resource"], r["user_id"], r["ins_lsn"], r["upd_lsn"])
        for r in pair_updates_with_inserts(read_feed(spark, multi_file_feed)).collect()
    }
    assert set(got) == expect
    assert len(got) == len(expect)  # exactly-once emission (no dup pairs)
