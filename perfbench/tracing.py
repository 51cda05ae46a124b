"""Spans for the traced run, the per-trigger phase breakdown, and the
single-file probes that give each layer's per-event cost.

Every span is recorded from the benchmark's own code, around calls into a
module's public functions; nothing inside the program is instrumented.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from datetime import datetime

# MicroBatchExecution's order: list the source, write the offset log,
# build the batch, plan it, run the sink, write the commit log.
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


class Spans:
    """In-memory spans (name, start, end, parent, run id), written out at exit."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.rows: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        sid = len(self.rows) + 1
        self.rows.append(
            {"id": sid, "name": name, "start": start, "end": end, "parent": parent, "run": self.run_id, **attrs}
        )
        return sid

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        """Yields the span's record, whose id children may use as parent."""
        row = {"id": len(self.rows) + 1, "name": name, "start": time.time(), "end": None,
               "parent": parent, "run": self.run_id, **attrs}
        self.rows.append(row)
        try:
            yield row
        finally:
            row["end"] = time.time()

    def write(self, path) -> None:
        with open(path, "w") as f:
            for r in self.rows:
                f.write(json.dumps(r) + "\n")


def traced_sink(sink, spans: Spans, drain_span: int):
    """Wrap the ``sink_fn`` that ``make_kafka_sink`` returns in a span."""

    def fn(delivery, epoch_id):
        with spans.span("kafka_sink.sink", parent=drain_span, batch=epoch_id):
            sink(delivery, epoch_id)

    return fn


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def record_triggers(spans: Spans, progress: list, drain_span: int) -> list[dict]:
    """Turn each executed micro-batch's ``durationMs`` into a trigger span
    with sequential phase children; attach the batch's sink span to it.
    Returns one row of phase times (ms) per trigger."""
    sinks = {
        r["batch"]: r for r in spans.rows if r["name"] == "kafka_sink.sink" and r["parent"] == drain_span
    }
    rows = []
    for p in progress:
        d = p["durationMs"]
        t = _epoch(p["timestamp"])
        tid = spans.add("job.trigger", t, t + d["triggerExecution"] / 1e3, drain_span, batch=p["batchId"])
        at = t
        for ph in PHASES:
            ms = d.get(ph, 0)
            spans.add(f"job.{ph}", at, at + ms / 1e3, tid)
            at += ms / 1e3
        sink = sinks.get(p["batchId"])
        sink_ms = 0.0
        if sink is not None:
            sink["parent"] = tid
            sink_ms = (sink["end"] - sink["start"]) * 1e3
        row = {ph: d.get(ph, 0) for ph in PHASES}
        row["triggerExecution"] = d["triggerExecution"]
        row["sink"] = sink_ms
        row["body"] = d.get("addBatch", 0) - sink_ms
        row["unattributed"] = d["triggerExecution"] - sum(d.get(ph, 0) for ph in PHASES)
        rows.append(row)
    return rows


def trigger_layers(rows: list[dict]) -> dict[str, float]:
    """Per-trigger p50 of each phase, and how much of each trigger the
    phases plus the sink span account for."""

    def p50(k):
        return statistics.median(r[k] for r in rows)

    return {
        "feed.latest_offset_ms": p50("latestOffset"),
        "feed.get_batch_ms": p50("getBatch"),
        "job.query_planning_ms": p50("queryPlanning"),
        "job.wal_commit_ms": p50("walCommit"),
        "job.batch_body_ms": p50("body"),
        "kafka_sink.sink_ms": p50("sink"),
        "job.commit_ms": p50("commitOffsets"),
        "trace.unattributed_ms": p50("unattributed"),
        "trace.trigger_p50_ms": p50("triggerExecution"),
        "trace.attributed_share": statistics.median(
            1 - r["unattributed"] / r["triggerExecution"] for r in rows
        ),
    }


def _best_of(spans: Spans, fns: dict, reps: int) -> dict[str, float]:
    """Least wall seconds of each call over ``reps`` rounds; the calls
    alternate within a round so that drift affects each alike."""
    best = {name: float("inf") for name in fns}
    for _ in range(reps):
        for name, fn in fns.items():
            with spans.span(f"probe.{name}") as s:
                fn()
            best[name] = min(best[name], s["end"] - s["start"])
    return best


def run_probes(spark, sf_dir: str, n_events: int, config, broker, spans: Spans, reps: int = 3) -> dict:
    """Per-event cost of each layer on one feed file (one task), by
    difference between successive stages written to the noop sink; then
    the sink on a checkpointed delivery frame, and the wire producer on
    pre-encoded records in this process."""
    from pyspark.sql import functions as F

    from outboxx_spark.functions.envelope import serialize_feed
    from outboxx_spark.operators.keys import partition_key
    from outboxx_spark.operators.routing import route_config
    from outboxx_spark.pipeline import FEED_DATA_COLS
    from outboxx_spark.sources.feed import read_feed
    from outboxx_spark.streaming.kafka_sink import make_kafka_sink
    from outboxx_spark.streaming.kafka_wire import WireProducer

    def noop(df):
        return lambda: df.write.format("noop").mode("overwrite").save()

    bare = spark.read.parquet(f"{sf_dir}/events.parquet")
    feed = read_feed(spark, sf_dir)
    ser = serialize_feed(feed, FEED_DATA_COLS)
    routed = route_config(ser, config.streams)
    keyed = routed.withColumn("key", partition_key(F.col("user_id")))
    t = _best_of(
        spans,
        {"scan": noop(bare), "feed": noop(feed), "envelope": noop(ser), "routing": noop(routed), "keys": noop(keyed)},
        reps,
    )
    us = 1e6 / n_events
    out = {
        "feed.convert_us_per_event": (t["feed"] - t["scan"]) * us,
        "envelope.serialize_us_per_event": (t["envelope"] - t["feed"]) * us,
        "routing.route_us_per_event": (t["routing"] - t["envelope"]) * us,
        "keys.key_us_per_event": (t["keys"] - t["routing"]) * us,
    }

    frame = keyed.select("destination", "key", "value", "resource", "op", "lsn").localCheckpoint(eager=True)
    records = frame.count()
    out["routing.records_per_event"] = records / n_events
    unordered = make_kafka_sink(broker.host, broker.port)
    ordered = make_kafka_sink(broker.host, broker.port, order_by="lsn")
    t = _best_of(spans, {"sink_unordered": lambda: unordered(frame, 0), "sink_ordered": lambda: ordered(frame, 0)}, 2)
    out["kafka_sink.produce_us_per_record"] = t["sink_unordered"] * 1e6 / records
    out["kafka_sink.order_us_per_record"] = (t["sink_ordered"] - t["sink_unordered"]) * 1e6 / records

    sample = [
        (r[0], r[1].encode(), r[2].encode())
        for r in frame.select("destination", "key", "value").limit(20_000).collect()
    ]
    frame.unpersist()
    topics = sorted({r[0] for r in sample})
    producer = None
    try:
        with spans.span("probe.wire_setup") as s:
            producer = WireProducer(broker.host, broker.port)
            for topic in topics:  # the first send per topic connects and fetches metadata
                producer.send(topic, b"setup", None)
        with spans.span("probe.wire_send") as snd:
            send = producer.send
            for dest, key, value in sample:
                send(dest, key, value)
        with spans.span("probe.wire_flush") as fl:
            producer.flush()
    finally:
        if producer is not None:
            producer.close()
    out["kafka_wire.setup_ms"] = (s["end"] - s["start"]) * 1e3
    out["kafka_wire.send_us_per_record"] = (snd["end"] - snd["start"]) * 1e6 / len(sample)
    out["kafka_wire.flush_ms"] = (fl["end"] - fl["start"]) * 1e3
    return out
