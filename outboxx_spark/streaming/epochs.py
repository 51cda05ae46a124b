"""Marker-last epoch commits: the exactly-once protocol every
``foreachBatch`` side stream shares.

Structured Streaming replays an uncommitted micro-batch with the same
epoch id and the same rows after a crash; a sink is exactly-once when
its body is idempotent per epoch. The rule that makes it so:

1. write epoch E's data under ``root/<prefix>E/``;
2. publish ``root/<prefix>E/<marker>`` LAST (``fs_write_text``: temp
   file, then rename, so the marker is either absent or complete);
3. a body whose epoch already has its marker returns at once;
4. readers see only epochs with a marker.

Crash windows, each replayed with the same epoch and rows:

- before any data: nothing on disk; the replay writes the epoch fresh;
- data written, no marker (torn): readers skip the directory; the
  replay overwrites it (``mode("overwrite")``) or discards it first
  (``discard_torn``, for writers that refuse an existing path);
- after the marker, before the checkpoint commit: the replay is a
  no-op, so a merge that read the previous state never runs twice.

Snapshot generations (``fold_newest``) hold the whole state in each
epoch: the body folds the batch into the newest committed generation,
publishes, and only then prunes to the ``RETAIN`` newest (``retain``).
A crash mid-prune leaves extra committed generations, which readers of
the newest one ignore.

All probes go through Hadoop's FileSystem (``fsutil``), so the rule
holds on hdfs:// and s3a:// as on local paths. Listing costs one
``listStatus`` plus one ``exists`` per epoch directory; a leftover
``<marker>.<uuid>.tmp`` from a crashed ``fs_write_text`` is not the
marker, and parquet readers skip it (leading underscore).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from outboxx_spark.fsutil import fs_exists, fs_write_text, hadoop_fs

MARKER = "_COMMIT"
GEN = "gen="
RETAIN = 2


def epoch_dir(root: str, prefix: str, epoch: int) -> str:
    return f"{root}/{prefix}{epoch}"


def committed(spark: SparkSession, root: str, prefix: str, marker: str = MARKER) -> list[int]:
    """Epochs under ``root`` whose ``<prefix><epoch>/<marker>`` exists,
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
        if name.startswith(prefix) and tail.isdigit() and fs.exists(Path(f"{root}/{name}/{marker}")):
            out.append(int(tail))
    return sorted(out)


def committed_dirs(spark: SparkSession, root: str, prefix: str, marker: str = MARKER) -> list[str]:
    """Directories of the committed epochs, ascending; a reader's view.
    Raises ``FileNotFoundError`` when nothing is committed."""
    epochs = committed(spark, root, prefix, marker)
    if not epochs:
        raise FileNotFoundError(f"no committed {prefix}<epoch> under {root}")
    return [epoch_dir(root, prefix, e) for e in epochs]


def newest(spark: SparkSession, root: str) -> str:
    """Directory of the newest committed generation
    (``FileNotFoundError`` when there is none)."""
    return committed_dirs(spark, root, GEN)[-1]


def is_committed(spark: SparkSession, dir_: str, marker: str = MARKER) -> bool:
    return fs_exists(spark, f"{dir_}/{marker}")


def publish(spark: SparkSession, dir_: str) -> None:
    """Commit the epoch at ``dir_``: call after every data write."""
    fs_write_text(spark, f"{dir_}/{MARKER}", "{}")


def discard_torn(spark: SparkSession, dir_: str) -> None:
    """Delete an uncommitted epoch's debris before it is rewritten."""
    fs, path, _ = hadoop_fs(spark, dir_)
    if fs.exists(path):
        fs.delete(path, True)


def retain(spark: SparkSession, root: str) -> None:
    """Prune committed generations below the ``RETAIN`` newest. Call
    only after publishing, so a crash here never leaves fewer."""
    fs, _, jvm = hadoop_fs(spark, root)
    for e in committed(spark, root, GEN)[:-RETAIN]:
        fs.delete(jvm.org.apache.hadoop.fs.Path(epoch_dir(root, GEN, e)), True)


def fold_newest(
    batch: DataFrame,
    root: str,
    epoch: int,
    fold: Callable[[DataFrame, str | None], dict[str, DataFrame]],
) -> None:
    """Snapshot-generation body: ``fold(batch, newest_dir_or_None)``
    returns generation ``epoch``'s frames by name; each is written as
    one file under ``gen=<epoch>/<name>``, then the marker, then the
    prune. A committed or empty epoch writes nothing."""
    spark = batch.sparkSession
    gen = epoch_dir(root, GEN, epoch)
    if is_committed(spark, gen) or batch.isEmpty():
        return
    prev = committed(spark, root, GEN)
    frames = fold(batch, epoch_dir(root, GEN, prev[-1]) if prev else None)
    for name, df in frames.items():
        # state is metadata-sized: one file per frame keeps a snapshot cheap
        df.coalesce(1).write.mode("overwrite").parquet(f"{gen}/{name}")
    publish(spark, gen)
    retain(spark, root)


def start(stream: DataFrame, body: Callable[[DataFrame, int], None], checkpoint_dir: str):
    """Run ``body`` per micro-batch until the source is drained
    (``availableNow``); offsets commit only after the body returns."""
    return (
        stream.writeStream.foreachBatch(body)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
