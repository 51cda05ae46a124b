"""Component microbenchmarks on local[1] — the apples-to-apples parity
artifact for the reference's zbench table (BASELINE.md "Component
microbenchmarks": JSON serialize 26.7 us/op, pgoutput decode 53.2,
converter 111-202, matchStreams 9.0, partition key 0.02 us/op,
single-threaded min-of-5).

Spark is a vectorized batch engine, so the honest per-event number is
the amortized wall-clock of each pipeline stage over a large batch on
ONE core: stage cost = (time of plan WITH the stage) - (time of the
same plan WITHOUT it), min of N runs, divided by the event count.
Stages compose cumulatively in pipeline order (scan -> convert ->
serialize -> route -> key), so each delta isolates one operator the
way zbench isolates one function call.

Usage: python tools/microbench.py [sf_dir] [n_copies]
Prints one JSON line: {"events": N, "per_event_us": {stage: us, ...},
"cumulative_sec": {...}}.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_copies = int(sys.argv[2]) if len(sys.argv) > 2 else 10

    import os

    os.environ["SPARK_GRAFT_CPUS"] = "1"  # single core: zbench parity
    from pyspark.sql import functions as F

    from outboxx_spark.functions.envelope import serialize_feed
    from outboxx_spark.operators.routing import route_config
    from outboxx_spark.pipeline import FEED_DATA_COLS, delivery_frame
    from outboxx_spark.session import get_spark
    from outboxx_spark.sources.feed import read_feed
    from outboxx_spark.sources.pgoutput import decode_stream, encode_feed_as_pgoutput
    from outboxx_spark.testbed import default_config

    spark = get_spark("microbench")
    root = tempfile.mkdtemp(prefix="microbench_")
    try:
        # n_copies x the sf feed, ONE file (single-core scan, no
        # parallelized() repartition kicking in: inputFiles==1 but
        # defaultParallelism==1 too, so it's a no-op)
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        n1 = ev.count()
        shift = ev.agg(F.max("event_id")).collect()[0][0] + 1
        big = ev.withColumn(
            "r", F.explode(F.array(*[F.lit(i) for i in range(n_copies)]))
        ).select(
            (F.col("event_id") + F.col("r") * shift).alias("event_id"),
            "ts", "user_id", "event_type", "value", "props",
        )
        big.coalesce(1).write.mode("overwrite").parquet(f"{root}/events.parquet")
        n = n1 * n_copies

        cfg = default_config()
        streams = cfg.streams

        def feed():
            return read_feed(spark, root)

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        plans = {
            # cumulative pipeline prefixes, in reference hot-path order
            "scan": lambda: spark.read.parquet(f"{root}/events.parquet"),
            "converter": feed,  # op mapping, resource, lsn, commit_ts (S8/S9)
            "serialize": lambda: serialize_feed(feed(), FEED_DATA_COLS),  # F1
            "route": lambda: route_config(serialize_feed(feed(), FEED_DATA_COLS), streams),  # R1/R2
            "key": lambda: delivery_frame(feed(), streams, FEED_DATA_COLS),  # R3
        }
        cumulative = {}
        spreads = {}
        for name, build in plans.items():
            noop(build())  # warm codegen
            samples = sorted(_timed(lambda: noop(build())) for _ in range(5))
            cumulative[name] = samples[0]
            spreads[name] = samples[2] - samples[0]  # median-min spread

        # pgoutput decode (S6/S7/S8): binary stream scan vs scan+decode
        enc = encode_feed_as_pgoutput(feed())
        enc.coalesce(1).write.mode("overwrite").parquet(f"{root}/wal.parquet")
        n_msgs = spark.read.parquet(f"{root}/wal.parquet").count()
        wal_scan = min(
            _timed(lambda: noop(spark.read.parquet(f"{root}/wal.parquet"))) for _ in range(5)
        )
        noop(decode_stream(spark.read.parquet(f"{root}/wal.parquet")))  # warm
        wal_decode = min(
            _timed(lambda: noop(decode_stream(spark.read.parquet(f"{root}/wal.parquet"))))
            for _ in range(5)
        )

        order = ["scan", "converter", "serialize", "route", "key"]
        # a stage delta below the run-to-run spread of its operands is
        # noise, not a measurement — report it as such instead of
        # printing a sign that flips between runs
        noise_us = round(max(spreads.values()) / n * 1e6, 3)
        per_event_us = {}
        prev = 0.0
        for name in order:
            delta = (cumulative[name] - prev) / n * 1e6
            key_name = name if name == "scan" else f"{name}_delta"
            per_event_us[key_name] = (
                round(delta, 3) if delta > noise_us else f"<= noise ({noise_us})"
            )
            prev = cumulative[name]
        per_event_us["pgoutput_decode_delta"] = round((wal_decode - wal_scan) / n_msgs * 1e6, 3)
        per_event_us["full_pipeline"] = round(cumulative["key"] / n * 1e6, 3)

        print(
            json.dumps(
                {
                    "events": n,
                    "wal_msgs": n_msgs,
                    "cores": 1,
                    "noise_floor_us": noise_us,
                    "per_event_us": per_event_us,
                    "cumulative_sec": {k: round(v, 3) for k, v in cumulative.items()},
                }
            )
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()
    return 0


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


if __name__ == "__main__":
    raise SystemExit(main())
