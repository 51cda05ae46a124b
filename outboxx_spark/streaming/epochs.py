"""Marker-last epoch commits, the exactly-once protocol of the
``incragg_stream`` ledger, and ``start``, the ``availableNow`` runner
of every ``foreachBatch`` stream (``incragg_stream``, ``table_sink``,
``dataops.incremental``, ``job.start_stream``).

Structured Streaming replays an uncommitted micro-batch with the same
epoch id and the same rows after a crash; a sink is exactly-once when
its body is idempotent per epoch. The rule that makes it so:

1. write epoch E's data under ``root/<prefix>E/``;
2. publish the marker ``root/<prefix>E/_COMMIT`` LAST
   (``fs_write_text``: temp file, then rename, so the marker is either
   absent or complete);
3. a body whose epoch already has its marker returns at once;
4. readers see only epochs with a marker.

Crash windows, each replayed with the same epoch and rows:

- before any data: nothing on disk; the replay writes the epoch fresh;
- data written, no marker (torn): readers skip the directory; the
  replay overwrites it (``mode("overwrite")``) or discards it first
  (``discard_torn``, for writers that refuse an existing path);
- after the marker, before the checkpoint commit: the replay is a
  no-op, so a merge that read the previous state never runs twice.

All probes go through Hadoop's FileSystem (``fsutil``), so the rule
holds on hdfs:// and s3a:// as on local paths. Listing costs one
``listStatus`` plus one ``exists`` per epoch directory; a leftover
``_COMMIT.<uuid>.tmp`` from a crashed ``fs_write_text`` is not the
marker, and parquet readers skip it (leading underscore).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from outboxx_spark.fsutil import fs_exists, fs_write_text, hadoop_fs

MARKER = "_COMMIT"


def epoch_dir(root: str, prefix: str, epoch: int) -> str:
    return f"{root}/{prefix}{epoch}"


def committed(spark: SparkSession, root: str, prefix: str) -> list[int]:
    """Epochs under ``root`` whose ``<prefix><epoch>/_COMMIT`` exists,
    ascending. Names that are not ``<prefix><digits>`` (``fold=3.tmp``,
    siblings) are not epochs."""
    fs, path, jvm = hadoop_fs(spark, root)
    if not fs.exists(path):
        return []
    Path = jvm.org.apache.hadoop.fs.Path
    out = []
    for st in fs.listStatus(path):
        name = st.getPath().getName()
        tail = name[len(prefix):]
        if name.startswith(prefix) and tail.isdigit() and fs.exists(Path(f"{root}/{name}/{MARKER}")):
            out.append(int(tail))
    return sorted(out)


def is_committed(spark: SparkSession, dir_: str) -> bool:
    return fs_exists(spark, f"{dir_}/{MARKER}")


def publish(spark: SparkSession, dir_: str) -> None:
    """Commit the epoch at ``dir_``: call after every data write."""
    fs_write_text(spark, f"{dir_}/{MARKER}", "{}")


def discard_torn(spark: SparkSession, dir_: str) -> None:
    """Delete an uncommitted epoch's debris before it is rewritten."""
    fs, path, _ = hadoop_fs(spark, dir_)
    if fs.exists(path):
        fs.delete(path, True)


def start(stream: DataFrame, body: Callable[[DataFrame, int], None], checkpoint_dir: str):
    """Run ``body`` per micro-batch until the source is drained
    (``availableNow``); offsets commit only after the body returns."""
    return (
        stream.writeStream.foreachBatch(body)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
