"""Streaming CDC job: bootstrap snapshot + foreachBatch delivery loop.

Reproduces the reference's orchestration (SURVEY §2.6/§3):

- O3 bootstrap: if any stream opts into ``read``, write the snapshot
  (op=READ, shared start LSN) FIRST, with a hard barrier (the batch write
  either completes or the job fails — the flush-barrier analog), then
  start the streaming query.
- O1 batch loop: routing is declared once per query; each micro-batch
  body only delivers — the body of `processChangesToKafka`
  (`src/processor/processor.zig:150-184`).
- O2 at-least-once: Structured Streaming's checkpoint commits offsets
  only after the foreachBatch body returns — exactly the reference's
  'confirm LSN to Postgres only after Kafka flush' contract. Replays
  re-produce a suffix; consumers dedup on (resource, lsn) (O4).
- O6 graceful shutdown: ``query.stop()``; checkpoint makes restart safe.
- M1/M4: per-batch tally + lag observed on the delivering write
  (``metrics.tally_delivered``), for stream and snapshot alike; the
  tally's Columns are built once per query, not per micro-batch.

The stream and the snapshot build their output with
``pipeline.delivery_frame``, the same frame the batch pipeline uses.
Sink: ``sink_fn`` delivers to Kafka (``kafka_sink.make_kafka_sink``);
without it the output is partitioned parquet per destination.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from outboxx_spark.config import PipelineConfig
from outboxx_spark.fsutil import fs_exists
from outboxx_spark.pipeline import DELIVERY_COLS, FEED_DATA_COLS, delivery_frame
from outboxx_spark.sources.feed import read_feed_stream
from outboxx_spark.sources.snapshot import snapshot_table
from outboxx_spark.streaming.metrics import MetricsRegistry, tally_columns, tally_delivered


def kafka_writer_options(
    bootstrap_servers: str, security=None
) -> dict[str, str]:
    """The reference producer's delivery-guarantee configs
    (`src/sink/kafka/producer.zig:111-176`), as Spark Kafka sink options.

    ``security``: an optional ``config.KafkaSinkConfig`` — its validated
    TLS x SASL axes (security.protocol derivation, JAAS config, CA
    truststore) merge in LAST, so the secured options win. Its broker
    list also overrides ``bootstrap_servers`` (one source of truth for
    a secured sink)."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "kafka.enable.idempotence": "true",
        "kafka.acks": "all",
        "kafka.max.in.flight.requests.per.connection": "5",
        "kafka.retries": "3",
        "kafka.retry.backoff.ms": "500",
        "kafka.linger.ms": "50",
        "kafka.batch.size": "262144",
        "kafka.delivery.timeout.ms": "30000",
        "kafka.request.timeout.ms": "15000",
        # fail-fast on startup, same as the reference
        "kafka.socket.connection.setup.timeout.ms": "10000",
    }
    if security is not None:
        from outboxx_spark.config import kafka_security_options

        opts.update(kafka_security_options(security))
    return opts


def snapshot_tables_preflight(
    sf_dir: str, config: PipelineConfig, spark: SparkSession | None = None
) -> list[str]:
    """V3-analog pre-flight: a read-opted resource must exist as a
    snapshot source (the reference validates table existence against
    pg_catalog before starting, `src/source/postgres/validator.zig:
    76-179`). Resources backed only by the live feed (the testbed's
    virtual ``public.tN`` tables) have no snapshot source and are
    skipped — their READ events arrive in-band.

    With a session, existence probes go through Hadoop's FileSystem —
    the SAME path resolution ``snapshot_table``'s ``spark.read.parquet``
    will use (bare paths resolve against fs.defaultFS on a cluster), so
    the probe can never disagree with the read that follows it.
    Driver-local os.path is the sessionless fallback for local bare
    paths only; a scheme-qualified sf_dir without a session raises
    instead of silently misreporting False for every resource."""
    if spark is None and "://" in sf_dir:
        raise ValueError(
            f"snapshot_tables_preflight needs a SparkSession to probe "
            f"scheme-qualified locations (got {sf_dir!r}): os.path would "
            f"silently report every resource absent"
        )
    out = []
    for resource in config.snapshot_resources():
        table = resource.split(".", 1)[1]
        path = f"{sf_dir}/{table}.parquet"
        present = (
            fs_exists(spark, path) if spark is not None else os.path.exists(path)
        )
        if present:
            out.append(resource)
    return out


def run_snapshot_phase(
    spark: SparkSession,
    sf_dir: str,
    config: PipelineConfig,
    out_dir: str,
    *,
    start_lsn: int,
    snapshot_ts: int,
    registry: MetricsRegistry,
) -> int:
    """Bootstrap: write READ events for every read-opted resource before
    streaming starts (O3). The write is the flush barrier — any failure
    aborts the job before an offset is ever committed. Returns tables
    written; their READ events are tallied into ``registry``."""
    tally = tally_columns(config.streams)
    total = 0
    for resource in snapshot_tables_preflight(sf_dir, config, spark):
        table = resource.split(".", 1)[1]
        snap = snapshot_table(
            spark, sf_dir, table, start_lsn=start_lsn, snapshot_ts=snapshot_ts
        )
        data_cols = [c for c in snap.columns if c not in ("op", "resource", "lsn", "commit_ts")]
        tally_delivered(
            registry,
            delivery_frame(snap, config.streams, data_cols),
            tally,
            lambda out: out.select(*DELIVERY_COLS)
            .write.mode("append")
            .partitionBy("destination")
            .parquet(out_dir),
        )
        total += 1
    return total


def start_stream(
    spark: SparkSession,
    sf_dir: str,
    config: PipelineConfig,
    out_dir: str,
    checkpoint_dir: str,
    registry: MetricsRegistry | None = None,
    max_files_per_trigger: int = 1,
    exactly_once: bool = False,
    sink_fn=None,
):
    """The streaming query: the delivery frame and the tally's Columns
    are built once per query, the foreachBatch body only observes the
    tally on its write and delivers; checkpoint commit after the body =
    the at-least-once core (O2).

    ``sink_fn(delivery, epoch_id)``'s first DataFrame action on
    ``delivery`` must consume every row (write, ``count``, ``collect``,
    ``mapInPandas``), as every in-repo sink does: the tally is observed
    on that action and read after the sink returns. A leading
    ``isEmpty``/``take`` guard undercounts; a sink that runs no
    DataFrame action fails the micro-batch before its commit
    (``metrics.tally_delivered``).

    ``exactly_once=True`` upgrades the file sink beyond the reference's
    guarantee: output is partitioned by (epoch, destination) and written
    with dynamic partition overwrite, so a replayed micro-batch
    *replaces* its own epoch partition instead of appending duplicates —
    idempotent-producer semantics for files (the Kafka path gets the
    same from ``enable.idempotence`` + checkpoint replay). It is a file
    sink mode, so it cannot be combined with ``sink_fn``."""
    if exactly_once and sink_fn is not None:
        raise ValueError("exactly_once is a file-sink mode; it cannot be combined with sink_fn")
    registry = registry or MetricsRegistry()
    streams = config.streams
    tally = tally_columns(streams)
    delivery_cols = [F.col(c) for c in DELIVERY_COLS]

    def process_batch(batch: DataFrame, epoch_id: int) -> None:
        def write(out: DataFrame) -> None:
            # One write per micro-batch, one job regardless of
            # destination count (no per-stream driver loop).
            # ``sink_fn`` is the producer-injection seam (the reference
            # tests its producer against a mock cluster the same way,
            # producer.zig:431-502); a raise here fails the micro-batch
            # BEFORE the checkpoint commit -> fail-fast + replay (K6/O2).
            delivery = out.select(*delivery_cols)
            if sink_fn is not None:
                sink_fn(delivery, epoch_id)
            elif exactly_once:
                (
                    delivery.select(F.lit(epoch_id).alias("epoch"), *delivery_cols)
                    .write.mode("overwrite")
                    # per-write option, not session conf: a session-global
                    # partitionOverwriteMode=dynamic would silently change every
                    # later mode("overwrite") in the same SparkSession
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("epoch", "destination")
                    .parquet(out_dir)
                )
            else:
                delivery.write.mode("append").partitionBy("destination").parquet(out_dir)

        tally_delivered(registry, batch, tally, write)

    feed = read_feed_stream(spark, sf_dir, max_files_per_trigger)
    return (
        delivery_frame(feed, streams, FEED_DATA_COLS)
        .select("stream", "commit_ts", *DELIVERY_COLS)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    config: PipelineConfig,
    out_dir: str,
    checkpoint_dir: str,
    registry: MetricsRegistry | None = None,
    *,
    snapshot_lsn: int = 0,
    snapshot_ts: int | None = None,
) -> None:
    """Full bootstrap-then-stream ordering (O3): snapshot write completes
    (or fails the job) before the first streaming offset commits."""
    registry = registry or MetricsRegistry()
    if config.snapshot_resources():
        snap_ts = snapshot_ts if snapshot_ts is not None else int(time.time())
        run_snapshot_phase(
            spark, sf_dir, config, out_dir,
            start_lsn=snapshot_lsn, snapshot_ts=snap_ts, registry=registry,
        )
    q = start_stream(
        spark, sf_dir, config, out_dir, checkpoint_dir, registry
    )
    q.awaitTermination()
