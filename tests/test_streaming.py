"""Streaming layer: micro-batch delivery equivalence with the batch
pipeline, checkpoint at-least-once across restarts (gap-checker
semantics, like the reference's `tests/load/scripts/check-gaps.sh`),
snapshot-before-stream bootstrap ordering, metrics/liveness."""

from __future__ import annotations

import json
import os
import time
import uuid

import pytest
from pyspark.sql import functions as F

from outboxx_spark.config import PipelineConfig, make_stream, validate
from outboxx_spark.pipeline import FEED_DATA_COLS, routed_envelopes
from outboxx_spark.streaming.job import run_snapshot_phase, start_stream
from outboxx_spark.streaming.metrics import CdcQueryListener, MetricsRegistry
from outboxx_spark.testbed import DEFAULT_STREAMS, default_config

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def multi_file_feed(spark, tmp_path_factory):
    """events split into 4 parquet files so the file stream produces
    multiple micro-batches (maxFilesPerTrigger=1)."""
    d = tmp_path_factory.mktemp("feed")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{SF}/events.parquet")
    ev.repartition(4).write.mode("overwrite").parquet(str(d / "events.parquet"))
    return str(d)


def _read_out(spark, out_dir):
    return spark.read.parquet(out_dir)


def _keyed_on(keys):
    """The testbed streams, stream i keyed on keys[i % len(keys)]."""
    return validate(PipelineConfig(streams=[
        make_stream(s.name, s.resource, s.operations, s.destination, keys[i % len(keys)])
        for i, s in enumerate(DEFAULT_STREAMS)
    ]))


@pytest.mark.parametrize(
    "cfg",
    [default_config(), _keyed_on(["event_type"]), _keyed_on(["event_type", "user_id"])],
    ids=["user_id", "event_type", "mixed"],
)
def test_stream_matches_batch_pipeline(spark, multi_file_feed, tmp_path, cfg):
    # batch and stream honour each stream's routing_key identically
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    reg = MetricsRegistry()
    q = start_stream(spark, multi_file_feed, cfg, out_dir, ckpt, reg)
    q.awaitTermination(120)

    got = _read_out(spark, out_dir)
    expect = routed_envelopes(spark, multi_file_feed, cfg)
    key_cols = ["destination", "key", "lsn", "op"]
    got_set = {tuple(r) for r in got.select(*key_cols).collect()}
    exp_set = {tuple(r) for r in expect.select(*key_cols).collect()}
    assert got_set == exp_set
    # tally totals match delivered rows (A1), per (stream, op)
    assert sum(reg.events_processed.values()) == got.count()
    assert reg.events_processed == {
        (r.stream, r.op): r["count"] for r in expect.groupBy("stream", "op").count().collect()
    }
    # prometheus rendering includes the three instruments (M1/M2)
    text = reg.render_prometheus()
    assert "outboxx_events_processed_total" in text
    assert "outboxx_replication_lag_seconds" in text
    assert 'stream="t0_full"' in text


def test_tally_columns_are_built_once_per_query(spark, multi_file_feed, tmp_path, monkeypatch):
    # the tally's count_if Columns are built once per (stream, op) for
    # the whole query, not once per micro-batch
    calls = []
    count_if = F.count_if
    monkeypatch.setattr(F, "count_if", lambda c: calls.append(c) or count_if(c))
    cfg = default_config()
    reg = MetricsRegistry()
    q = start_stream(spark, multi_file_feed, cfg, str(tmp_path / "out"), str(tmp_path / "ckpt"), reg)
    q.awaitTermination(120)

    assert sum(1 for p in q.recentProgress if p["numInputRows"]) == 4
    assert len(calls) == sum(len(s.operations) for s in cfg.streams)
    expect = routed_envelopes(spark, multi_file_feed, cfg)
    assert reg.events_processed == {
        (r.stream, r.op): r["count"] for r in expect.groupBy("stream", "op").count().collect()
    }


def _crash_mid_log_write(ckpt: str) -> None:
    """Leave the checkpoint as a crash inside two log writes would: the
    newest batch's commit never renamed into place, the next batch's
    offsets half written. Each write leaves only its temp file
    (``.<n>.<uuid>.tmp``) and that file's checksum sidecar."""
    logs = {d: os.path.join(ckpt, d) for d in ("offsets", "commits")}
    last = max(int(n) for n in os.listdir(logs["offsets"]) if n.isdigit())
    for name in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(logs["commits"], name)):
            os.remove(os.path.join(logs["commits"], name))
    for d, n in (("commits", last), ("offsets", last + 1)):
        tmp = f".{n}.{uuid.uuid4()}.tmp"
        with open(os.path.join(logs[d], tmp), "w") as f:
            f.write('v1\n{"batchWatermarkMs":0,"batchTimes')
        with open(os.path.join(logs[d], f".{tmp}.crc"), "wb") as f:
            f.write(b"crc")


def test_checkpoint_restart_is_gap_free_and_no_reprocess(spark, multi_file_feed, tmp_path):
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    cfg = default_config()

    # phase 1: process-then-stop mid-feed (one file per trigger; stop after
    # the first progress with rows — a mid-feed crash)
    q = start_stream(spark, multi_file_feed, cfg, out_dir, ckpt)
    deadline = time.time() + 60
    while time.time() < deadline:
        if any(p and p["numInputRows"] > 0 for p in (q.recentProgress or [])):
            break
        time.sleep(0.3)
    q.stop()
    partial = _read_out(spark, out_dir).count()
    _crash_mid_log_write(ckpt)

    # phase 2: restart from the same checkpoint, drain the rest
    q2 = start_stream(spark, multi_file_feed, cfg, out_dir, ckpt)
    q2.awaitTermination(120)

    got = _read_out(spark, out_dir)
    expect = routed_envelopes(spark, multi_file_feed, cfg)
    # at-least-once: after dedup on (resource,lsn,destination) nothing is
    # missing and nothing extra exists (gap checker)
    got_set = {tuple(r) for r in got.select("destination", "lsn").distinct().collect()}
    exp_set = {tuple(r) for r in expect.select("destination", "lsn").distinct().collect()}
    assert got_set == exp_set
    assert partial <= len(got_set) or partial == 0

    # phase 3: a third run with the same checkpoint reprocesses nothing
    n_before = got.count()
    q3 = start_stream(spark, multi_file_feed, cfg, out_dir, ckpt)
    q3.awaitTermination(120)
    assert _read_out(spark, out_dir).count() == n_before


def test_snapshot_phase_before_stream(spark, tmp_path):
    out_dir = str(tmp_path / "out")
    cfg = validate(
        PipelineConfig(
            streams=[
                make_stream("cust_reader", "public.customer", ["read"], "snap.customer", "c_custkey"),
            ]
        )
    )
    reg = MetricsRegistry()
    n = run_snapshot_phase(
        spark, SF, cfg, out_dir, start_lsn=7, snapshot_ts=1704067200, registry=reg
    )
    assert n == 1
    # the bootstrap's READ events are tallied like any delivered batch (A1)
    assert reg.events_processed == {("cust_reader", "READ"): 150}
    out = spark.read.parquet(out_dir)
    rows = out.collect()
    assert all(r["op"] == "READ" for r in rows)
    assert all(r["lsn"] == 7 for r in rows)  # shared boundary LSN (O4)
    assert out.count() == 150  # sf0.001 customer rows
    # routing key honored: key = c_custkey as string
    sample = out.orderBy("key").first()
    assert sample["key"] == sample["key"].strip() and sample["key"].isdigit()
    assert sample["destination"] == "snap.customer"


def test_snapshot_and_stream_key_each_row_on_its_own_stream(spark, multi_file_feed, tmp_path):
    """Two streams over one table, keyed on two columns other than
    user_id: the snapshot phase and the stream deliver every table row
    under the same (destination, key, payload), each keyed on its own
    stream's routing_key."""
    from outboxx_spark.sources.feed import read_feed

    src = tmp_path / "src"
    feed = read_feed(spark, multi_file_feed)
    spark.read.parquet(f"{multi_file_feed}/events.parquet").write.parquet(str(src / "events.parquet"))
    feed.filter(F.col("resource") == "public.t1").select(*FEED_DATA_COLS).write.parquet(
        str(src / "t1.parquet")
    )
    ops = ["insert", "update", "delete", "read"]
    keys = {"t1.by_type": "event_type", "t1.by_props": "props"}
    cfg = validate(PipelineConfig(streams=[
        make_stream(dest.replace(".", "_"), "public.t1", ops, dest, key) for dest, key in keys.items()
    ]))
    snap_out, stream_out = str(tmp_path / "snap"), str(tmp_path / "stream")
    reg = MetricsRegistry()
    assert run_snapshot_phase(
        spark, str(src), cfg, snap_out, start_lsn=0, snapshot_ts=1704067200, registry=reg
    ) == 1
    start_stream(spark, str(src), cfg, stream_out, str(tmp_path / "ckpt"), reg).awaitTermination(120)

    def delivered(out):
        df = spark.read.parquet(out).select(
            "destination", "key", F.get_json_object("value", "$.data").alias("data")
        )
        return sorted(tuple(r) for r in df.collect())

    snap, stream = delivered(snap_out), delivered(stream_out)
    n_rows = feed.filter(F.col("resource") == "public.t1").count()
    assert len(snap) == len(keys) * n_rows
    assert snap == stream
    assert all(key == json.loads(data)[keys[dest]] for dest, key, data in snap)


def test_routing_key_value_keys_on_the_payload_column(spark):
    """A stream keyed on the payload column ``value`` is keyed on that
    column, not on the serialized envelope that shares its name. Batch,
    stream and snapshot share ``delivery_frame``, so the batch frame
    stands for all three."""
    cfg = validate(PipelineConfig(streams=[
        make_stream("t1_by_value", "public.t1", ["insert", "update", "delete"], "t1.by_value", "value")
    ]))
    rows = routed_envelopes(spark, SF, cfg).select("key", "value").limit(50).collect()
    payload = [(r["key"], json.loads(r["value"])["data"]["value"]) for r in rows]
    payload = [(k, v) for k, v in payload if v is not None]
    assert payload
    for key, value in payload:
        assert not key.startswith("{"), key[:80]
        assert float(key) == value


def test_registry_liveness_window():
    reg = MetricsRegistry()
    assert reg.is_live()
    reg.last_activity_ts = time.time() - 120
    assert not reg.is_live()  # stalled (O7)
    reg.mark_activity()
    assert reg.is_live()


def test_registry_renders_the_last_trigger_phases():
    reg = MetricsRegistry()
    listener = CdcQueryListener(reg)

    class Progress:
        durationMs = {"walCommit": 11, "addBatch": 240, "triggerExecution": 290}
        numInputRows = 2000

    class Ev:
        progress = Progress()

    listener.onQueryProgress(Ev())
    Progress.durationMs = {"walCommit": 9, "latestOffset": 12}
    Progress.numInputRows = 0
    listener.onQueryProgress(Ev())
    text = reg.render_prometheus()
    # only the last trigger's phases, each under its own label
    assert [line for line in text.splitlines() if "trigger_phase" in line] == [
        "# HELP outboxx_trigger_phase_ms Duration of each phase of the last trigger.",
        "# TYPE outboxx_trigger_phase_ms gauge",
        'outboxx_trigger_phase_ms{phase="latestOffset"} 12',
        'outboxx_trigger_phase_ms{phase="walCommit"} 9',
    ]
    assert "\noutboxx_trigger_input_rows 0\n" in text
    # every metric family carries its HELP and TYPE lines
    families = {line.split()[2] for line in text.splitlines() if line.startswith("# TYPE")}
    helped = {line.split()[2] for line in text.splitlines() if line.startswith("# HELP")}
    assert families == helped and len(families) == 5


def test_listener_counts_termination_errors(spark):
    reg = MetricsRegistry()
    listener = CdcQueryListener(reg)

    class Ev:
        exception = "boom"

    listener.onQueryTerminated(Ev())
    assert reg.produce_errors == 1
    assert listener.terminated_with_error


def test_kafka_sink_builds_without_a_spark_context(monkeypatch):
    # the sink builds its Columns on the first batch, so the factory
    # runs before any session exists
    from pyspark import SparkContext

    from outboxx_spark.streaming.kafka_sink import make_kafka_sink

    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    with pytest.raises(AssertionError):
        F.col("key")  # a Column does need one
    assert callable(make_kafka_sink("localhost", 9092))
    assert callable(make_kafka_sink("localhost", 9092, order_by="lsn"))


def test_streamable_dir_handles_file_uri_single_file(spark):
    """A file:// single-file feed location must route through the local
    symlink shim (FileStreamSource needs a directory) exactly like its
    bare-path spelling; truly remote schemes pass through untouched."""
    from outboxx_spark.sources.feed import _streamable_dir

    bare = _streamable_dir(f"{SF}/events.parquet")
    uri = _streamable_dir(f"file://{SF}/events.parquet")
    assert bare == uri  # same shim directory for both spellings
    assert os.path.isdir(uri)
    assert _streamable_dir("hdfs://nn/data/feed") == "hdfs://nn/data/feed"

