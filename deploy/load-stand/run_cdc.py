"""Deployment entry point: Kafka (Debezium envelopes) -> ``streaming/job.serve``
-> Kafka (per-destination topics), with the engine's metrics endpoint.

The analog of the reference's long-running binary for its load stand
(`tests/load/`). Everything past the source read is
``serve``: Debezium decode (S6 role via sources/debezium.py, since the
replication slot lives with Debezium), the delivery frame (envelope F1,
routing R1/R2, key R3), the tally and lag observed on the write (A1/M4),
the query listener and ``/metrics`` (M2/M3). The sink is
``kafka_sink.make_kafka_sink``, the producer perfbench measures: acks=all,
3 retries 500 ms apart, and a per-task flush barrier, so the checkpoint
commits offsets only after every record of the micro-batch is acked
(K3/O2 — a produce failure fails the micro-batch BEFORE the commit, so
restart replays it). Configuration is the same TOML shape the reference
uses (config_toml.load_config).

Runs under spark-submit with the kafka package for the source read (see
docker-compose.yml); not executable in the build sandbox (no broker).
``tests/test_serve.py`` runs ``serve`` over Debezium JSON files into
the in-repo broker stand.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from outboxx_spark.config_toml import load_config
from outboxx_spark.streaming.job import serve
from outboxx_spark.streaming.kafka_sink import make_kafka_sink


def main() -> None:
    bootstrap = os.environ.get("KAFKA_BOOTSTRAP", "kafka:9092")
    source_topic = os.environ.get("SOURCE_TOPIC", "cdc.raw.events")
    config_path = os.environ.get("CONFIG_PATH", "deploy/load-stand/config.toml")
    checkpoint = os.environ.get("CHECKPOINT_DIR", "/checkpoints/cdc")
    metrics_port = int(os.environ.get("METRICS_PORT", "9108"))

    spark = SparkSession.builder.appName("outboxx-spark-cdc").getOrCreate()
    source = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", source_topic)
        .option("startingOffsets", "earliest")
        # K2 backpressure: bounded micro-batches, the reference's
        # max-batch role (its 5000-event default scaled to executors)
        .option("maxOffsetsPerTrigger", "50000")
        .load()
        .select(F.col("value").cast("string").alias("value"))
    )
    brokers = [(h, int(p or 9092)) for h, _, p in (b.partition(":") for b in bootstrap.split(","))]
    sink = make_kafka_sink(*brokers[0], bootstrap=brokers[1:])
    with serve(source, load_config(config_path), checkpoint, sink, metrics_port=metrics_port) as (query, _):
        query.awaitTermination()


if __name__ == "__main__":
    main()
