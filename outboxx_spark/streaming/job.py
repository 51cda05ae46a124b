"""Streaming CDC jobs: the served query, the file-feed stream and the
bootstrap snapshot.

Reproduces the reference's orchestration (SURVEY §2.6/§3):

- O1 batch loop: routing is declared once per query; each micro-batch
  body only delivers — the body of `processChangesToKafka`
  (`src/processor/processor.zig:150-184`). ``serve`` (Debezium JSON, the
  deployed program) and ``start_stream`` (the file feed, the measured
  drain) build that body in one place, ``_delivery``.
- O2 at-least-once: Structured Streaming's checkpoint commits offsets
  only after the foreachBatch body returns — exactly the reference's
  'confirm LSN to Postgres only after Kafka flush' contract. Replays
  re-produce a suffix; consumers dedup on (resource, lsn) (O4).
- O3 bootstrap: ``run_snapshot_phase`` writes the READ events of every
  read-opted resource with a hard barrier before a file-feed stream
  starts. On the served path the source orders it: Debezium's initial
  snapshot puts its ``r`` events on the topic before the changes.
- O6 graceful shutdown: ``query.stop()``; checkpoint makes restart safe.
- M1/M4: per-batch tally + lag observed on the delivering write
  (``metrics.tally_delivered``), for stream and snapshot alike; the
  tally's Columns are built once per query, not per micro-batch.
- M2/M3/O7: ``serve`` attaches ``CdcQueryListener`` and the
  ``/metrics`` server for the life of its query.

Every path builds its output with ``pipeline.delivery_frame``, the same
frame the batch pipeline uses. Sink: ``sink_fn`` delivers to Kafka
(``kafka_sink.make_kafka_sink``); ``start_stream`` without it writes
partitioned parquet per destination.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator
from contextlib import ExitStack, contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from outboxx_spark.config import PipelineConfig, StreamConfig
from outboxx_spark.fsutil import fs_exists
from outboxx_spark.pipeline import DELIVERY_COLS, FEED_DATA_COLS, delivery_frame
from outboxx_spark.sources.debezium import debezium_feed
from outboxx_spark.sources.feed import read_feed_stream
from outboxx_spark.sources.snapshot import snapshot_table
from outboxx_spark.streaming import epochs
from outboxx_spark.streaming.http import ObservabilityServer
from outboxx_spark.streaming.metrics import (
    CdcQueryListener,
    MetricsRegistry,
    tally_columns,
    tally_delivered,
)


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


def _delivery(
    feed: DataFrame,
    streams: list[StreamConfig],
    data_cols: list[str],
    registry: MetricsRegistry,
    sink_fn: Callable[[DataFrame, int], None],
) -> tuple[DataFrame, Callable[[DataFrame, int], None]]:
    """The delivered frame of a streaming ``feed`` and the foreachBatch
    body that delivers it. The frame, the tally's Columns and the
    delivery Columns are built once per query; the body only observes
    the tally on ``sink_fn``'s write and delivers. Checkpoint commit
    after the body = the at-least-once core (O2).

    ``sink_fn(delivery, epoch_id)``'s first DataFrame action on
    ``delivery`` must consume every row (write, ``count``, ``collect``,
    ``mapInPandas``), as every in-repo sink does: the tally is observed
    on that action and read after the sink returns. A leading
    ``isEmpty``/``take`` guard undercounts; a sink that runs no
    DataFrame action fails the micro-batch before its commit
    (``metrics.tally_delivered``)."""
    tally = tally_columns(streams)
    delivery_cols = [F.col(c) for c in DELIVERY_COLS]

    def process_batch(batch: DataFrame, epoch_id: int) -> None:
        # One write per micro-batch, one job regardless of destination
        # count (no loop per stream). ``sink_fn`` is the
        # producer-injection seam (the reference tests its producer
        # against a mock cluster the same way, producer.zig:431-502); a
        # raise there fails the micro-batch BEFORE the checkpoint
        # commit -> fail-fast + replay (K6/O2).
        tally_delivered(registry, batch, tally, lambda out: sink_fn(out.select(*delivery_cols), epoch_id))

    delivered = delivery_frame(feed, streams, data_cols).select("stream", "commit_ts", *DELIVERY_COLS)
    return delivered, process_batch


def _parquet_sink(out_dir: str, exactly_once: bool) -> Callable[[DataFrame, int], None]:
    """``start_stream``'s sink when it is given no ``sink_fn``: partitioned
    parquet per destination, appended, or per (epoch, destination)
    overwritten when ``exactly_once``."""

    def sink(delivery: DataFrame, epoch_id: int) -> None:
        if exactly_once:
            (
                delivery.select(F.lit(epoch_id).alias("epoch"), "*")
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

    return sink


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
    """The file-feed stream (the drain perfbench measures): drains the
    feed under ``sf_dir`` once (``availableNow``) through ``_delivery``
    into ``sink_fn``, whose contract ``_delivery`` states.

    ``exactly_once=True`` upgrades the file sink beyond the reference's
    guarantee: output is partitioned by (epoch, destination) and written
    with dynamic partition overwrite, so a replayed micro-batch
    *replaces* its own epoch partition instead of appending duplicates —
    idempotent-producer semantics for files. It is a file sink mode, so
    it cannot be combined with ``sink_fn``."""
    if exactly_once and sink_fn is not None:
        raise ValueError("exactly_once is a file-sink mode; it cannot be combined with sink_fn")
    feed = read_feed_stream(spark, sf_dir, max_files_per_trigger)
    frame, body = _delivery(
        feed,
        config.streams,
        FEED_DATA_COLS,
        registry or MetricsRegistry(),
        sink_fn or _parquet_sink(out_dir, exactly_once),
    )
    return epochs.start(frame, body, checkpoint_dir)


@contextmanager
def serve(
    source: DataFrame,
    config: PipelineConfig,
    checkpoint_dir: str,
    sink_fn: Callable[[DataFrame, int], None],
    *,
    metrics_port: int = 0,
) -> Iterator[tuple[StreamingQuery, int]]:
    """The served program (SURVEY O1-O7): a streaming frame of Debezium
    change-event JSON ``value`` strings (the source topic in
    deployment) -> ``debezium_feed``, the flat feed contract with a
    ``map<string,string>`` payload -> ``_delivery``, the body
    ``start_stream`` runs -> ``sink_fn``. Started with Spark's default
    trigger, because the source is unbounded.

    Yields ``(query, port)``: the running query and the port its
    ``/metrics``, ``/healthz`` and ``/readyz`` answer on
    (``metrics_port``, or an ephemeral one for 0). ``CdcQueryListener``
    feeds liveness and errors for as long as the block runs; leaving it
    stops the server, the query and the listener."""
    spark = source.sparkSession
    registry = MetricsRegistry()
    frame, body = _delivery(debezium_feed(source), config.streams, ["data"], registry, sink_fn)
    listener = CdcQueryListener(registry)
    with ExitStack() as stack:
        spark.streams.addListener(listener)
        stack.callback(spark.streams.removeListener, listener)
        query = frame.writeStream.foreachBatch(body).option("checkpointLocation", checkpoint_dir).start()
        stack.callback(query.stop)
        server = ObservabilityServer(registry, lambda: query.isActive, metrics_port).start()
        stack.callback(server.stop)
        yield query, server.port
