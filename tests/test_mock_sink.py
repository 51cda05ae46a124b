"""Mock-sink failure layer (K1/K2/K6): the reference tests its Kafka
producer against an embedded mock cluster with injected failures
(`src/sink/kafka/producer.zig:431-502` — delivery-report accounting,
queue-full backpressure, fail-fast on delivery error). No broker exists
here, so the equivalent seam is ``start_stream(sink_fn=...)``: a sink
stub that can fail on command, proving

- a sink failure fails the micro-batch BEFORE the checkpoint commit
  (fail-fast, K6) and is surfaced through the listener as a produce
  error (M1),
- a restart after the failure re-delivers the failed batch and drains
  the rest with no gaps (at-least-once, O2),
- maxFilesPerTrigger bounds every micro-batch (backpressure, K2),
- the tally is observed on the sink's first DataFrame action: a partial
  first action undercounts, and a sink with no DataFrame action fails
  the micro-batch before its commit instead of hanging it.
"""

from __future__ import annotations

import os
import time

import pytest

from outboxx_spark.pipeline import routed_envelopes
from outboxx_spark.streaming import metrics
from outboxx_spark.streaming.job import start_stream
from outboxx_spark.streaming.metrics import CdcQueryListener, MetricsRegistry
from outboxx_spark.testbed import default_config

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def multi_file_feed(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("feed_sink")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{SF}/events.parquet")
    ev.repartition(4).write.mode("overwrite").parquet(str(d / "events.parquet"))
    return str(d)


class RecordingSink:
    """Mock producer: records delivered rows per epoch; fails the first
    ``fail_first`` deliver attempts (the mock cluster's injected broker
    error)."""

    def __init__(self, out_dir: str, fail_first: int = 0) -> None:
        self.out_dir = out_dir
        self.fail_first = fail_first
        self.attempts = 0
        self.batch_rows: list[int] = []

    def __call__(self, delivery, epoch_id: int) -> None:
        self.attempts += 1
        if self.attempts <= self.fail_first:
            raise RuntimeError("MockDeliveryFailure: broker rejected batch")
        self.batch_rows.append(delivery.count())
        delivery.write.mode("append").partitionBy("destination").parquet(self.out_dir)


def test_sink_failure_fails_fast_and_counts(spark, multi_file_feed, tmp_path):
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    reg = MetricsRegistry()
    listener = CdcQueryListener(reg)
    spark.streams.addListener(listener)
    try:
        sink = RecordingSink(out_dir, fail_first=1)
        q = start_stream(
            spark, multi_file_feed, default_config(), out_dir, ckpt, reg, sink_fn=sink
        )
        with pytest.raises(Exception, match="MockDeliveryFailure"):
            q.awaitTermination(120)
            if q.exception():
                raise q.exception()
        # fail-fast: the query died on the first delivery error instead of
        # skipping the batch (K6)
        deadline = time.time() + 30
        while not listener.terminated_with_error and time.time() < deadline:
            time.sleep(0.2)
        assert listener.terminated_with_error
        assert reg.produce_errors == 1  # delivery-report accounting (M1)
        assert not reg.events_processed  # a failed batch tallies nothing
    finally:
        spark.streams.removeListener(listener)


def test_restart_after_sink_failure_redelivers_everything(
    spark, multi_file_feed, tmp_path
):
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    cfg = default_config()

    # run 1: the sink rejects its first delivery -> query dies, nothing
    # of that batch is checkpointed
    sink = RecordingSink(out_dir, fail_first=1)
    q = start_stream(spark, multi_file_feed, cfg, out_dir, ckpt, sink_fn=sink)
    with pytest.raises(Exception, match="MockDeliveryFailure"):
        q.awaitTermination(120)
    assert sink.batch_rows == []  # no successful delivery in run 1

    # run 2: healthy sink from the same checkpoint -> the failed batch is
    # replayed and the feed drains with no gaps
    sink2 = RecordingSink(out_dir)
    q2 = start_stream(spark, multi_file_feed, cfg, out_dir, ckpt, sink_fn=sink2)
    q2.awaitTermination(120)

    got = {
        tuple(r)
        for r in spark.read.parquet(out_dir).select("destination", "lsn").distinct().collect()
    }
    expect = {
        tuple(r)
        for r in routed_envelopes(spark, multi_file_feed, cfg)
        .select("destination", "lsn")
        .distinct()
        .collect()
    }
    assert got == expect


def test_backpressure_bounds_every_micro_batch(spark, multi_file_feed, tmp_path):
    # K2: maxFilesPerTrigger=1 over a 4-file feed -> >= 4 micro-batches,
    # none larger than the biggest input file's fan-out
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    cfg = default_config()
    sink = RecordingSink(out_dir)
    reg = MetricsRegistry()
    q = start_stream(
        spark, multi_file_feed, cfg, out_dir, ckpt, reg, max_files_per_trigger=1, sink_fn=sink
    )
    q.awaitTermination(120)
    total = sum(sink.batch_rows)
    # the sink runs two actions (count, then write); each row is tallied once
    assert sum(reg.events_processed.values()) == total
    delivered = [n for n in sink.batch_rows if n > 0]
    assert len(delivered) >= 4
    assert total == routed_envelopes(spark, multi_file_feed, cfg).count()
    # bounded: no single micro-batch carried more than ~1/4 of the feed
    # (one file per trigger), so the producer queue can never see the
    # whole backlog at once
    assert max(delivered) <= total - 2 * min(delivered)


class GuardedSink(RecordingSink):
    """A sink with the common empty-batch guard in front of its write."""

    def __call__(self, delivery, epoch_id: int) -> None:
        if delivery.isEmpty():
            return
        super().__call__(delivery, epoch_id)


def test_partial_first_action_fixes_a_partial_tally(spark, multi_file_feed, tmp_path):
    # the sink contract pinned: only the first action reports, and
    # isEmpty reads one row, so the tally is short of what was delivered
    out_dir = str(tmp_path / "out")
    sink = GuardedSink(out_dir)
    reg = MetricsRegistry()
    q = start_stream(
        spark, multi_file_feed, default_config(), out_dir, str(tmp_path / "ckpt"), reg,
        max_files_per_trigger=1, sink_fn=sink,
    )
    q.awaitTermination(120)
    assert 0 < sum(reg.events_processed.values()) < sum(sink.batch_rows)


def test_sink_without_dataframe_action_fails_before_commit(
    spark, multi_file_feed, tmp_path, monkeypatch
):
    # an RDD-only sink never reports observed metrics: the bounded wait
    # fails the micro-batch instead of blocking it forever
    monkeypatch.setattr(metrics, "OBSERVE_TIMEOUT_S", 2.0)
    ckpt = str(tmp_path / "ckpt")
    reg = MetricsRegistry()
    q = start_stream(
        spark, multi_file_feed, default_config(), str(tmp_path / "out"), ckpt, reg,
        sink_fn=lambda delivery, epoch_id: delivery.rdd.foreachPartition(lambda rows: None),
    )
    with pytest.raises(Exception, match="no observed metrics"):
        q.awaitTermination(120)
    assert not reg.events_processed
    commits = os.path.join(ckpt, "commits")
    assert not os.path.isdir(commits) or not os.listdir(commits)
