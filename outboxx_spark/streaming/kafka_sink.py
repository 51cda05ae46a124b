"""Kafka sink adapter: plug the wire-protocol producer into the
streaming job's producer-injection seam (``start_stream(sink_fn=...)``)
so a routed micro-batch is delivered to a LIVE broker from the
executors — the executed counterpart of the reference's
DB→engine→Kafka path (`src/e2e/cdc_test.zig:25-441`).

Scale shape (what K1 needs at 100 TB):

- **Executor-side produce, no driver funnel**: ``mapInPandas`` gives
  every task its own ``WireProducer`` (one socket set per task, the
  reference is one socket per process) — produce throughput scales
  with task count, the driver only coordinates. Rows reach Python as
  Arrow batches with UTF-8 encoding already done JVM-side.
- **Flush barrier inside the task** (K3): each task flushes and
  confirms delivery BEFORE it reports success; any DeliveryError fails
  the task → the micro-batch → the stream, all before the checkpoint
  commits the offsets (O2/K6 fail-fast). A replayed batch re-produces
  duplicates, never gaps — the reference's at-least-once contract.
- **Key-partitioned placement**: records are placed by
  murmur2(routing key) exactly like librdkafka/Java clients, so a
  consumer's per-key ordering matches what the reference's producer
  would deliver.

This is the one Kafka sink: the deployed program (``job.serve`` in
``deploy/load-stand/run_cdc.py``), perfbench's drain and the broker-stand
fault tests all produce through it. It is also the only sink whose
action reports the tally's observed metrics: Spark's V1 Kafka connector
write runs its query as a bare RDD job, which never does. Against the
Java client it gives up ``enable.idempotence`` and in-flight 5: it keeps
acks=all, bounded retries and the per-task flush barrier, with
in-flight 1, so a retry cannot reorder a partition.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import types as T

from outboxx_spark.streaming.kafka_wire import WireProducer

# one row per task: the records it delivered (a DataType, not a DDL
# string that each micro-batch would have Spark parse again)
ACKED_SCHEMA = T.StructType([T.StructField("acked", T.LongType())])


def make_kafka_sink(
    host: str,
    port: int,
    *,
    retries: int = 3,
    retry_backoff_ms: int = 500,
    bootstrap: list[tuple[str, int]] | None = None,
    tls_ca: str | None = None,
    sasl: tuple[str, str, str] | None = None,
    order_by: str | None = None,
):
    """A ``sink_fn`` for ``streaming.job.start_stream``: produces each
    micro-batch's delivery frame (destination, key, value) to the
    broker. One producer per task; delivery confirmed per task before
    the batch can commit. ``bootstrap`` lists extra cluster endpoints
    beyond (host, port) so each task's producer can re-learn partition
    leadership through any live broker (multi-broker deployments).

    ``order_by`` names a monotone column in the delivery frame (the
    CDC pipeline's ``lsn``) and turns on the per-key ORDERING
    contract: the frame is hash-repartitioned on (destination, key)
    and sorted within partitions on (destination, key, order_by), so
    ALL of a key's records flow through ONE producer task in source
    order — combined with the producer's in-flight=1 discipline, a
    consumer reads each key's changes in WAL order, the reference's
    single-process guarantee reproduced on a distributed producer.
    Without it, a key's records can span tasks and interleave. Cost:
    one shuffle + in-partition sort per micro-batch — that is the
    honest price of total per-key order at scale; pipelines that only
    need at-least-once set-delivery skip it. Null keys hash to one
    partition — key-less streams should leave this off."""
    bootstrap = list(bootstrap or [])
    # Arrow-batched transfer (mapInPandas) instead of pickled Rows
    # (foreachPartition): the executor->Python hop is the dominant
    # per-record cost at bench scale, and Arrow moves it ~an order of
    # magnitude. UTF-8 encoding happens JVM-side (F.encode) so the
    # Python loop touches ready-to-wire bytes only.
    def produce_batches(pdf_iter):
        import pandas as pd

        producer = WireProducer(
            host,
            port,
            retries=retries,
            retry_backoff_ms=retry_backoff_ms,
            bootstrap=bootstrap,
            tls_ca=tls_ca,
            sasl=sasl,
        )
        try:
            send = producer.send
            for pdf in pdf_iter:
                for dest, key, value in zip(
                    pdf["destination"].values,
                    pdf["key"].values,
                    pdf["value"].values,
                ):
                    send(dest, key, value)
            producer.flush()  # the task-local flush barrier (K3)
        finally:
            producer.close()
        yield pd.DataFrame({"acked": [producer.sent]})

    @functools.cache
    def columns() -> tuple[Column, ...]:
        """The sink's Columns. They do not depend on the batch: built on
        the first batch (a Column needs a live SparkContext, the factory
        does not), then reused."""
        from pyspark.sql import functions as F

        cols = (
            F.col("destination"),
            F.encode(F.col("key"), "UTF-8").alias("key"),
            F.encode(F.col("value"), "UTF-8").alias("value"),
        )
        return cols if order_by is None else (*cols, F.col(order_by).alias("_ord"))

    def sink(delivery: DataFrame, epoch_id: int) -> None:
        frame = delivery.select(*columns())
        if order_by is not None:
            # defaultParallelism, NOT the upstream partition count: a
            # file-trigger batch can carry max_files_per_trigger
            # splits, and produce parallelism beyond the topic's
            # partitions adds broker contention, not throughput (on the
            # in-repo 3-broker stand: 32 tasks -> 22k ev/s, 8 tasks ->
            # 81k ev/s for the same 55k-event frame); reading
            # rdd.getNumPartitions() would pay a plan conversion per
            # micro-batch just to learn a number
            npart = delivery.sparkSession.sparkContext.defaultParallelism
            frame = (
                frame.repartition(npart, "destination", "key")
                .sortWithinPartitions("destination", "key", "_ord")
                .drop("_ord")
            )
        # The one-row-per-task result both forces execution and carries
        # the per-task delivery count through the same flush barrier.
        frame.mapInPandas(produce_batches, schema=ACKED_SCHEMA).collect()

    return sink
