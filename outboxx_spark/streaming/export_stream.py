"""Continuous training-shard export: the streaming composition of
dataops/export.py — a document stream lands on disk as per-batch shard
directories with EXACTLY-ONCE delivery to the trainer.

Reference parity: the reference's delivery guarantee is an idempotent
Kafka producer + WAL replay (src/sink/kafka.zig, producer configs
mirrored in streaming/job.py). This module is the same guarantee for
the training-data sink the reference does not have: files, not topics.

Layout and protocol::

    out_dir/
      batch=<epoch>/            one directory per micro-batch
        shard=K/part-*.parquet  one file per shard (export_shards)
        _manifest.json          published LAST = the batch's commit mark

A replayed epoch re-presents the SAME rows (file/Kafka source offsets
come from the checkpoint) and the batch body is deterministic in its
rows, so `epochs`' marker-last protocol gives exactly-once, with the
batch's ``_manifest.json`` (``dataops/export``, shared with the
single-shot export) as the marker. ``export_shards`` refuses an
existing directory, so a torn batch is discarded before the rewrite.
Readers (``read_export``) see a batch only after its manifest exists,
so a torn directory is invisible to the trainer.

At scale: each micro-batch is an independent export_shards job (two
shuffles of the batch, not the corpus); shard ids are per-batch, so
the global shard identity is (batch, shard) and nothing ever rewrites
a committed batch — append-only at the directory level, which is what
object stores are good at.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from outboxx_spark.dataops.export import MANIFEST_NAME, export_shards
from outboxx_spark.streaming import epochs

BATCH = "batch="


def batch_dir(out_dir: str, epoch_id: int) -> str:
    return epochs.epoch_dir(out_dir, BATCH, epoch_id)


def make_export_batch_processor(
    out_dir: str, *, target: int, n_buckets: int = 1024
) -> Callable[[DataFrame, int], None]:
    """The foreachBatch body, exposed for direct crash-window testing."""

    def process(batch: DataFrame, epoch_id: int) -> None:
        bdir = batch_dir(out_dir, epoch_id)
        spark = batch.sparkSession
        if epochs.is_committed(spark, bdir, MANIFEST_NAME):
            return
        epochs.discard_torn(spark, bdir)
        if batch.isEmpty():
            return  # empty trigger: nothing to commit
        export_shards(batch, bdir, target=target, n_buckets=n_buckets)

    return process


def start_export_stream(
    docs_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    *,
    target: int,
    n_buckets: int = 1024,
):
    """Attach the shard-export sink to a streaming documents frame
    (columns: doc_id, text)."""
    return epochs.start(
        docs_stream,
        make_export_batch_processor(out_dir, target=target, n_buckets=n_buckets),
        checkpoint_dir,
    )


def committed_batches(spark: SparkSession, out_dir: str) -> list[int]:
    """Epoch ids of batches whose manifest published, ascending."""
    return epochs.committed(spark, out_dir, BATCH, MANIFEST_NAME)


def read_export(spark: SparkSession, out_dir: str) -> DataFrame:
    """The trainer's view: union of COMMITTED batches only."""
    # one reader over an explicit path list: partition discovery stays
    # O(committed batches), torn dirs never touched
    paths = epochs.committed_dirs(spark, out_dir, BATCH, MANIFEST_NAME)
    return spark.read.option("basePath", out_dir).parquet(*paths)
