"""End-to-end CDC drain benchmark.

Drains a generated change feed through the served streaming path
(``read_feed_stream`` -> ``start_stream(sink_fn=...)`` -> ``make_kafka_sink``
-> ``WireProducer`` -> ``tools/kafka_broker.py``), checks every delivered
record against an independent oracle, and prints one JSON result line.

    python3 perfbench/run.py --workload bulk_drain --seed 1 --seconds 8 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` prints the per-layer metrics and writes the run's spans to
``.perfbench_run/``. Each timed drain gets a fresh broker process and a
fresh checkpoint; the same seeded backlog is drained every time.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

T_START = time.time()
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from stand import Broker, RssPeak, become_subreaper, reap_descendants, steal_s, tree_cpu_s  # noqa: E402
from workloads import WORKLOADS, Check, expected_records, generate_feed, pipeline_config, verify, write_feed  # noqa: E402

PROBE_EVENTS = 150_000
MIN_DRAINS = 3
# A drain is quiet when the host took less than this share of the VM's CPU
# time from it (steal). Host contention comes in episodes that slow a drain
# far more than the stolen share itself, so the timings are taken from quiet
# drains; the run keeps draining, up to MAX_MEASURE x --seconds, to get them.
QUIET_STEAL = 0.025
MAX_MEASURE = 2.5
NCPU = len(os.sched_getaffinity(0))

UNITS = {
    # end to end (--trace 0)
    "setup_s": "s",
    "drain_eps": "ev/s",
    "cpu_us_per_event": "us",
    "commit_p50_ms": "ms",
    "peak_rss_mb": "MB",
    "delivered_share": "ratio",
    "dup_factor": "ratio",
    # per layer (--trace 1)
    "feed.latest_offset_ms": "ms",
    "feed.get_batch_ms": "ms",
    "feed.convert_us_per_event": "us",
    "envelope.serialize_us_per_event": "us",
    "routing.route_us_per_event": "us",
    "routing.records_per_event": "ratio",
    "keys.key_us_per_event": "us",
    "job.query_planning_ms": "ms",
    "job.wal_commit_ms": "ms",
    "job.commit_ms": "ms",
    "job.batch_body_ms": "ms",
    "kafka_sink.sink_ms": "ms",
    "kafka_sink.produce_us_per_record": "us",
    "kafka_sink.order_us_per_record": "us",
    "kafka_wire.send_us_per_record": "us",
    "kafka_wire.flush_ms": "ms",
    "kafka_wire.setup_ms": "ms",
    "job.triggers": "count",
    "job.input_rows": "count",
    "kafka_sink.records": "count",
    "trace.trigger_p50_ms": "ms",
    "trace.unattributed_ms": "ms",
    "trace.attributed_share": "ratio",
    "trace.overhead_share": "ratio",
    "stand.broker_busy_cores": "cores",
    "host.steal_s": "s",
    "host.jvm_gc_ms": "ms",
}


@dataclass
class Drain:
    events: int
    wall_s: float
    cpu_s: float
    rss_peak: int
    steal_s: float
    gc_ms: float
    broker_cpu_s: float
    progress: list
    check: Check
    traced: bool = False
    triggers: list = field(default_factory=list)

    @property
    def eps(self) -> float:
        return self.events / self.wall_s

    @property
    def quiet(self) -> bool:
        return self.steal_s < QUIET_STEAL * self.wall_s * NCPU


class Bench:
    def __init__(self, root: Path, workload, work: Path):
        self.root, self.w, self.work = root, workload, work
        self.n_drains = 0
        self.spark = None

    def start_session(self) -> None:
        from outboxx_spark.session import get_spark

        self.spark = get_spark(
            "perfbench",
            {
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                # keep the JVM's files inside the checkout
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work} -XX:-UsePerfData",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.config = pipeline_config(list(self.w.streams))
        self.topics = [s.topic for s in self.w.streams]

    def close(self) -> None:
        """Stop the session and its JVM, which exits when its stdin closes."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        try:
            self.spark.stop()
            gateway.shutdown()
        finally:
            gateway.proc.stdin.close()
            try:
                gateway.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()

    def jvm_gc_ms(self) -> float:
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return float(sum(b.getCollectionTime() for b in beans))

    def drain(self, feed_dir: str, n_events: int, expected: dict | None, spans=None) -> Drain:
        """One closed-backlog drain into a fresh broker. ``expected`` None
        skips the output check (warm-up drains)."""
        from pyspark.errors import StreamingQueryException

        from outboxx_spark.streaming.job import start_stream
        from outboxx_spark.streaming.kafka_sink import make_kafka_sink

        self.n_drains += 1
        ck = self.work / f"checkpoint-{self.n_drains}"
        broker = Broker(self.root)
        try:
            sink = make_kafka_sink(broker.host, broker.port, order_by=self.w.order_by)
            exclude = {broker.proc.pid}
            pid = os.getpid()
            # Start every drain from a collected heap, so that its peak RSS
            # does not depend on garbage the drains before it left behind.
            self.spark._jvm.java.lang.System.gc()
            gc0, st0, b0, c0 = self.jvm_gc_ms(), steal_s(), broker.cpu_s(), tree_cpu_s(pid, exclude)
            failed = False
            with RssPeak(pid, exclude) as rss:
                t0 = time.time()
                if spans is None:
                    q = start_stream(self.spark, feed_dir, self.config, str(self.work / "out"), str(ck), sink_fn=sink)
                    try:
                        q.awaitTermination()
                    except StreamingQueryException:
                        failed = True
                else:
                    from tracing import traced_sink

                    with spans.span("drain", workload=self.w.name) as d:
                        with spans.span("job.start_stream", parent=d["id"]):
                            q = start_stream(
                                self.spark, feed_dir, self.config, str(self.work / "out"), str(ck),
                                sink_fn=traced_sink(sink, spans, d["id"]),
                            )
                        with spans.span("job.await_termination", parent=d["id"]):
                            try:
                                q.awaitTermination()
                            except StreamingQueryException:
                                failed = True
                t1 = time.time()
            drain = Drain(
                events=n_events,
                wall_s=t1 - t0,
                cpu_s=tree_cpu_s(pid, exclude) - c0,
                rss_peak=rss.peak,
                steal_s=steal_s() - st0,
                gc_ms=self.jvm_gc_ms() - gc0,
                broker_cpu_s=broker.cpu_s() - b0,
                progress=[p for p in q.recentProgress if "addBatch" in p["durationMs"]],
                check=Check(),
                traced=spans is not None,
            )
            if spans is not None:
                from tracing import record_triggers

                drain.triggers = record_triggers(spans, drain.progress, d["id"])
            if expected is not None:
                from outboxx_spark.streaming.kafka_wire import consume_all

                consumed = {t: consume_all(broker.host, broker.port, t) for t in self.topics}
                drain.check = verify(expected, consumed, ordered=self.w.order_by is not None)
                if failed:  # a failed query delivers nothing it can vouch for
                    drain.check.found = 0
        finally:
            broker.stop()
        shutil.rmtree(ck, ignore_errors=True)
        return drain


def _log(msg: str) -> None:
    print(f"[{time.time() - T_START:6.1f} s] {msg}", file=sys.stderr, flush=True)


def _describe(tag: str, d: Drain) -> str:
    te = statistics.median(p["durationMs"]["triggerExecution"] for p in d.progress) if d.progress else 0
    return (
        f"{tag}: {d.events} ev in {d.wall_s:.2f} s = {d.eps:.0f} ev/s, "
        f"cpu {d.cpu_s * 1e6 / d.events:.1f} us/ev, {len(d.progress)} triggers p50 {te} ms, "
        f"rss {d.rss_peak / 2**20:.0f} MB, steal {d.steal_s:.2f} s, gc {d.gc_ms:.0f} ms, "
        f"broker {d.broker_cpu_s / d.wall_s:.3f} cores, failed {d.check.failed}"
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="drain time to measure")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = Path.cwd()
    for need in ("outboxx_spark/streaming/job.py", "tools/kafka_broker.py"):
        if not (root / need).is_file():
            _log(f"perfbench: {need} not found under {root}; run from the repository root")
            return 2

    w = WORKLOADS[args.workload]
    base = root / ".perfbench_run"
    work = base / f"{w.name}-s{args.seed}-{os.getpid()}"
    work.mkdir(parents=True)
    # Spark's Python workers import the program from the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(root), os.environ.get("PYTHONPATH")]))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["TMPDIR"] = str(work)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    sys.path.insert(0, str(root))
    become_subreaper()
    # SIGTERM unwinds like an exception, so the JVM and broker are stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench = Bench(root, w, work)
    try:
        return run(args, bench, base)
    finally:
        try:
            if bench.spark is not None:
                bench.close()
        finally:
            reap_descendants()
            shutil.rmtree(work, ignore_errors=True)


def run(args, bench: Bench, base: Path) -> int:
    w, work = bench.w, bench.work
    n_events = w.events_per_file * w.files_per_drain
    feed = generate_feed(w, args.seed, n_events)
    feed_dir = str(work / "feed")
    write_feed(feed, feed_dir, w.events_per_file)
    expected = expected_records(feed, w.streams)

    # The first trigger of a fresh JVM takes seconds whatever its size, so
    # the first warm-up drain takes the first file only.
    cold_dir = work / "feed-cold"
    (cold_dir / "events.parquet").mkdir(parents=True)
    first = sorted((work / "feed" / "events.parquet").iterdir())[0]
    os.link(first, cold_dir / "events.parquet" / first.name)

    t0 = time.time()
    bench.start_session()
    setup_s = time.time() - t0
    warmups = [(str(cold_dir), w.events_per_file)] + [(feed_dir, n_events)] * w.warmup_drains
    for i, (d_dir, n) in enumerate(warmups):
        d = bench.drain(d_dir, n, None)
        setup_s += d.wall_s
        _log(_describe(f"warm-up {i + 1}", d))

    spans = None
    if args.trace:
        from tracing import Spans

        spans = Spans(f"{w.name}-s{args.seed}")
    drains: list[Drain] = []
    measured = 0.0
    # Drain until --seconds of drain time are measured and MIN_DRAINS quiet
    # drains are in, so that one drain slowed by the host does not set the
    # run's median. The traced run alternates traced and untraced drains so
    # that the difference between them is the tracing overhead.
    while len(drains) < MIN_DRAINS or (
        measured < args.seconds * MAX_MEASURE
        and (measured < args.seconds or sum(d.quiet for d in drains) < MIN_DRAINS)
    ):
        traced = spans is not None and len(drains) % 2 == 0
        d = bench.drain(feed_dir, n_events, expected, spans if traced else None)
        drains.append(d)
        measured += d.wall_s
        _log(_describe(f"drain {len(drains)}{' traced' if traced else ''}", d))
    timed = [d for d in drains if d.quiet] or drains
    _log(f"setup {setup_s:.1f} s, measured {measured:.1f} s, {len(timed)} of {len(drains)} drains timed")

    check = Check()
    for d in drains:
        check.add(d.check)
    correct = check.failed == 0 and check.expected > 0
    noise = {
        "host.steal_s": sum(d.steal_s for d in drains),
        "host.jvm_gc_ms": sum(d.gc_ms for d in drains),
        "stand.broker_busy_cores": sum(d.broker_cpu_s for d in drains) / sum(d.wall_s for d in drains),
    }
    if not args.trace:
        metrics = {
            "setup_s": setup_s,
            "drain_eps": statistics.median(d.eps for d in timed),
            "cpu_us_per_event": statistics.median(d.cpu_s * 1e6 / d.events for d in timed),
            "commit_p50_ms": statistics.median(
                p["durationMs"]["triggerExecution"] for d in timed for p in d.progress
            ),
            "peak_rss_mb": max(d.rss_peak for d in drains) / 2**20,
            "delivered_share": check.found / check.expected,
            "dup_factor": check.delivered / max(check.found, 1),
        }
        print(json.dumps({"noise": {**noise, "timed_drains": len(timed), "drains": len(drains)}}))
    else:
        metrics = {**traced_metrics(bench, args.seed, drains, spans), **noise}
        spans.write(base / f"trace-{w.name}-s{args.seed}.jsonl")
        for k in sorted(metrics):
            _log(f"  {k:36s} {metrics[k]:14.3f} {UNITS[k]}")
    result = {
        "correct": correct,
        "attempted": check.expected,
        "failed": check.failed,
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
    }
    if not correct:
        _log(f"perfbench: output check failed: {check}")
    print(json.dumps(result))
    return 0 if correct else 1


def traced_metrics(bench: Bench, seed: int, drains: list[Drain], spans) -> dict[str, float]:
    """Phase p50s of the traced drains, the probes, the counts they rest
    on, and the tracing overhead against the untraced drains."""
    from tracing import run_probes, trigger_layers

    traced = [d for d in drains if d.traced]
    plain = [d for d in drains if not d.traced]
    rows = [r for d in traced for r in d.triggers]

    probe_feed = generate_feed(bench.w, seed + 7919, PROBE_EVENTS)
    probe_dir = str(bench.work / "probe")
    write_feed(probe_feed, probe_dir, PROBE_EVENTS)
    broker = Broker(bench.root)
    try:
        probes = run_probes(bench.spark, probe_dir, PROBE_EVENTS, bench.config, broker, spans)
    finally:
        broker.stop()
    return {
        **trigger_layers(rows),
        **probes,
        "job.triggers": len(rows),
        "job.input_rows": sum(p["numInputRows"] for d in traced for p in d.progress),
        "kafka_sink.records": sum(d.check.delivered for d in traced),
        "trace.overhead_share": 1
        - statistics.median(d.eps for d in traced) / statistics.median(d.eps for d in plain),
    }


if __name__ == "__main__":
    sys.exit(main())
