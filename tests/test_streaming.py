"""Streaming layer: micro-batch delivery equivalence with the batch
pipeline, checkpoint at-least-once across restarts (gap-checker
semantics, like the reference's `tests/load/scripts/check-gaps.sh`),
snapshot-before-stream bootstrap ordering, metrics/liveness."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from outboxx_spark.config import PipelineConfig, make_stream, validate
from outboxx_spark.operators.dedup import dedup_events
from outboxx_spark.pipeline import routed_envelopes
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
    # tally totals match delivered rows (A1)
    assert sum(reg.events_processed.values()) == got.count()
    # prometheus rendering includes the three instruments (M1/M2)
    text = reg.render_prometheus()
    assert "outboxx_events_processed_total" in text
    assert "outboxx_replication_lag_seconds" in text
    assert 'stream="t0_full"' in text


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
    n = run_snapshot_phase(spark, SF, cfg, out_dir, start_lsn=7, snapshot_ts=1704067200)
    assert n == 1
    out = spark.read.parquet(out_dir)
    rows = out.collect()
    assert all(r["op"] == "READ" for r in rows)
    assert all(r["lsn"] == 7 for r in rows)  # shared boundary LSN (O4)
    assert out.count() == 150  # sf0.001 customer rows
    # routing key honored: key = c_custkey as string
    sample = out.orderBy("key").first()
    assert sample["key"] == sample["key"].strip() and sample["key"].isdigit()
    assert sample["destination"] == "snap.customer"


def test_registry_liveness_window():
    reg = MetricsRegistry()
    assert reg.is_live()
    reg.last_activity_ts = time.time() - 120
    assert not reg.is_live()  # stalled (O7)
    reg.mark_activity()
    assert reg.is_live()


def test_listener_counts_termination_errors(spark):
    reg = MetricsRegistry()
    listener = CdcQueryListener(reg)

    class Ev:
        exception = "boom"

    listener.onQueryTerminated(Ev())
    assert reg.produce_errors == 1
    assert listener.terminated_with_error


def test_streamable_dir_handles_file_uri_single_file(spark):
    """A file:// single-file feed location must route through the local
    symlink shim (FileStreamSource needs a directory) exactly like its
    bare-path spelling; truly remote schemes pass through untouched."""
    from outboxx_spark.sources.feed import _streamable_dir

    bare = _streamable_dir(f"{SF}/events.parquet")
    uri = _streamable_dir(f"file://{SF}/events.parquet")
    assert bare == uri  # same shim directory for both spellings
    import os

    assert os.path.isdir(uri)
    assert _streamable_dir("hdfs://nn/data/feed") == "hdfs://nn/data/feed"


def test_preflight_rejects_scheme_path_without_session():
    """os.path.exists silently reports every scheme-qualified resource
    absent — the sessionless fallback must refuse rather than skip."""
    from outboxx_spark.streaming.job import snapshot_tables_preflight
    from outboxx_spark.testbed import default_config

    with pytest.raises(ValueError, match="SparkSession"):
        snapshot_tables_preflight("hdfs://nn/data/sf1", default_config())


def test_kafka_writer_options_pin_reference_producer_config(spark):
    """K1 execution-surface pin (no broker in the sandbox): the option
    dict must carry EXACTLY the client configs the reference producer
    sets (`src/sink/kafka/producer.zig:142-163` + bootstrap), each
    under the `kafka.`-prefix Spark's sink strips before handing them
    to the Kafka client, and the dict must round-trip into a
    writeStream builder unchanged (option() rejects nothing, so a typo
    here would otherwise surface only against a live broker)."""
    from outboxx_spark.streaming.job import kafka_writer_options

    opts = kafka_writer_options("broker-1:9092,broker-2:9092")
    assert opts == {
        "kafka.bootstrap.servers": "broker-1:9092,broker-2:9092",
        # reliability block
        "kafka.enable.idempotence": "true",
        "kafka.acks": "all",
        "kafka.max.in.flight.requests.per.connection": "5",
        # retry block
        "kafka.retries": "3",
        "kafka.retry.backoff.ms": "500",
        # batching block (constants.zig KAFKA_LINGER_MS/KAFKA_BATCH_SIZE)
        "kafka.linger.ms": "50",
        "kafka.batch.size": "262144",
        # timeout block
        "kafka.delivery.timeout.ms": "30000",
        "kafka.request.timeout.ms": "15000",
        "kafka.socket.connection.setup.timeout.ms": "10000",
    }
    # every key must use the connector's passthrough prefix — an
    # unprefixed client config is silently ignored by the Spark sink
    assert all(k.startswith("kafka.") for k in opts)
    # the builder accepts the full dict without starting (API shape);
    # writeStream needs a streaming frame — the built-in rate source
    stream = (
        spark.readStream.format("rate")
        .load()
        .selectExpr("CAST(value AS STRING) AS key", "CAST(value AS STRING) AS value")
    )
    writer = stream.writeStream.format("kafka").options(**opts).option("topic", "t")
    assert writer is not None
