"""Continuously-materialized table sink: keyed UPSERT of a change
stream into a bucketed parquet table.

The missing last mile of the CDC story (reference counterpart: the
consumer applying the envelope contract to its own store,
`docs/design/STREAMING_REPLICATION_DESIGN.md` dedup guidance + O4):
``materialize()`` compacts a finite changelog, this sink keeps a TABLE
current while the stream runs — MERGE INTO semantics on engines with no
Delta/Iceberg, from plain parquet + a per-bucket rename commit.

Mechanics per micro-batch:

1. winners   = latest event per (resource, key) within the batch
               (same LSN/op-precedence order as ``materialize``).
2. touched   = the hash buckets those keys land in
               (``bucket = pmod(xxhash64(resource, key), n_buckets)``).
3. merged    = current rows of ONLY the touched buckets (partition-
               pruned read) unioned with the winners, re-materialized —
               table rows carry their lsn, so replays and out-of-order
               batches resolve by the same last-writer-wins rule.
4. commit    = merged buckets are written to a STAGING directory
               (``.stage``, hidden from parquet readers), then swapped
               into place bucket-by-bucket with filesystem renames,
               parking each replaced bucket in ``.undo`` until the swap
               completes. A crash mid-swap is repaired on the next call:
               buckets missing from the live table are restored from
               ``.undo``, then the batch replays into the idempotent
               merge. All paths go through Hadoop's FileSystem API, so
               the sink works on any FS Spark can reach (local, HDFS).

Exactly-once: the merge is IDEMPOTENT (re-merging an already-applied
batch reproduces the same bucket contents — equal lsn ties resolve
deterministically), and the rename commit never leaves a bucket
half-written: at every instant a live bucket directory is either the
complete old state, the complete new state, or parked in ``.undo``
awaiting recovery. Structured Streaming's replay-uncommitted-batch
recovery therefore yields exactly-once table state with no transaction
log — ON FILESYSTEMS WITH ATOMIC DIRECTORY RENAME (local, HDFS). Plain
object stores (S3) rename by copy; there, front the table with a
rename-capable layer or a real table format (Delta/Iceberg). Single
writer assumed, as with any no-log table.

100 TB shape: work per batch is proportional to touched buckets, not
table size — reads are partition-pruned to those buckets, the merge
window shuffles only (touched rows + batch rows), the staged write
re-materializes only those buckets, and the swap is O(touched) renames
on the driver. Nothing is pinned in executor memory (the old
``localCheckpoint`` lineage cut is gone — staging means the write never
overwrites the directory it reads). ``n_buckets`` sizes the rewrite
unit: more buckets = smaller rewrites, more files; at 100 TB pick
bucket count so a bucket ≈ one comfortable task (e.g. 1-4 GB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from outboxx_spark.fsutil import hadoop_fs as _fs
from outboxx_spark.operators.materialize import materialize
from outboxx_spark.streaming import epochs

DEFAULT_N_BUCKETS = 16

_STAGE = ".stage"
_UNDO = ".undo"


def _bucket(resource_col, key_col, n_buckets: int):
    return F.pmod(F.xxhash64(resource_col, key_col), F.lit(n_buckets)).cast("int")


def _rename_or_raise(fs, src, dst) -> None:
    """Hadoop's FileSystem.rename signals most failures by RETURNING
    FALSE (dst exists, missing parent, quota/permission on HDFS), not
    by throwing. The commit protocol deletes the parked copy right
    after the swap, so a silently-failed rename followed by that delete
    would destroy the only copy of a bucket — every rename must be
    checked."""
    if not fs.rename(src, dst):
        raise IOError(f"rename failed: {src} -> {dst}")


def _bucket_dirs(fs, jvm, dir_path) -> list[str]:
    """Names of bucket=* children of ``dir_path`` (empty if absent)."""
    if not fs.exists(dir_path):
        return []
    return [
        st.getPath().getName()
        for st in fs.listStatus(dir_path)
        if st.isDirectory() and st.getPath().getName().startswith("bucket=")
    ]


def _recover(spark: SparkSession, table_dir: str) -> None:
    """Repair a crash that interrupted a previous swap: any bucket still
    parked in ``.undo`` whose live directory is missing was renamed away
    but never replaced — restore it (the interrupted batch will replay
    into the idempotent merge). Buckets present in BOTH places completed
    their swap; their undo copy is stale and is dropped. Leftover
    staging is always discarded."""
    fs, root, jvm = _fs(spark, table_dir)
    undo = jvm.org.apache.hadoop.fs.Path(table_dir, _UNDO)
    for name in _bucket_dirs(fs, jvm, undo):
        live = jvm.org.apache.hadoop.fs.Path(table_dir, name)
        parked = jvm.org.apache.hadoop.fs.Path(undo, name)
        if not fs.exists(live):
            _rename_or_raise(fs, parked, live)
        else:
            fs.delete(parked, True)
    if fs.exists(undo):
        fs.delete(undo, True)
    stage = jvm.org.apache.hadoop.fs.Path(table_dir, _STAGE)
    if fs.exists(stage):
        fs.delete(stage, True)


def _commit_staged(spark: SparkSession, table_dir: str, *, prune_unstaged: bool) -> None:
    """Swap every staged bucket into the live table via renames. With
    ``prune_unstaged`` (compaction), live buckets with no staged
    replacement are removed too — the static-overwrite analog, so a
    bucket emptied by tombstone GC disappears instead of surviving."""
    fs, root, jvm = _fs(spark, table_dir)
    stage = jvm.org.apache.hadoop.fs.Path(table_dir, _STAGE)
    undo = jvm.org.apache.hadoop.fs.Path(table_dir, _UNDO)
    staged = set(_bucket_dirs(fs, jvm, stage))
    live = set(_bucket_dirs(fs, jvm, root))
    doomed = (live - staged) if prune_unstaged else set()
    if not fs.mkdirs(undo):
        raise IOError(f"mkdirs failed: {undo}")
    for name in sorted(staged | doomed):
        live_p = jvm.org.apache.hadoop.fs.Path(table_dir, name)
        if fs.exists(live_p):
            _rename_or_raise(fs, live_p, jvm.org.apache.hadoop.fs.Path(undo, name))
        if name in staged:
            _rename_or_raise(fs, jvm.org.apache.hadoop.fs.Path(stage, name), live_p)
    fs.delete(undo, True)
    fs.delete(stage, True)


def upsert_batch(
    batch: DataFrame,
    table_dir: str,
    key: str = "user_id",
    n_buckets: int = DEFAULT_N_BUCKETS,
) -> None:
    """Merge one micro-batch of change events into the table. Safe to
    call with the same batch twice (idempotent), including after a
    crash anywhere inside a previous call."""
    spark = batch.sparkSession
    _recover(spark, table_dir)

    winners = materialize(batch, key=key, drop_deleted=False).withColumn(
        "bucket", _bucket(F.col("resource"), F.col(key), n_buckets)
    )
    # winners feeds the touched-bucket collect AND the merge; cache the
    # (bounded, micro-batch-sized) result instead of re-running the
    # batch window per use
    winners = winners.localCheckpoint(eager=True)
    touched = [r["bucket"] for r in winners.select("bucket").distinct().collect()]
    if not touched:
        return

    data_cols = [c for c in winners.columns if c != "bucket"]
    fs, root, jvm = _fs(spark, table_dir)
    if _bucket_dirs(fs, jvm, root):
        current = (
            spark.read.parquet(table_dir)
            .filter(F.col("bucket").isin(touched))  # partition-pruned scan
            .select(*data_cols, "bucket")
        )
        # Tombstones are RETAINED in the table (Kafka-compaction style):
        # physically dropping a deleted key would let any late/replayed
        # lower-LSN event resurrect it, since nothing would remain to
        # outrank the stale row in the merge. read_table_state filters
        # them; compact_table GCs tombstones older than the source's
        # maximum replay horizon.
        merged = materialize(
            current.unionByName(winners), key=key, drop_deleted=False
        )
    else:
        merged = winners

    # Stage, then swap: the staged write READS the live buckets while
    # WRITING to .stage, so no lineage cut is needed and the live table
    # stays intact until the rename commit.
    (
        merged.select(*data_cols, "bucket")
        .repartition(max(len(touched), 1), "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{table_dir}/{_STAGE}")
    )
    _commit_staged(spark, table_dir, prune_unstaged=False)


def recover_table(spark: SparkSession, table_dir: str) -> None:
    """Public entry for crash repair: restore any bucket parked in
    ``.undo`` by an interrupted swap and discard leftover staging.
    The write path runs this automatically; readers that hit the
    torn-commit guard in :func:`read_table_state` call it explicitly
    (it is idempotent and a no-op on a clean table) — but only when no
    writer is live, since repair deletes the writer's in-flight
    staging."""
    _recover(spark, table_dir)


def read_table_state(spark: SparkSession, table_dir: str) -> DataFrame:
    """Current table state (all buckets); DELETE tombstones excluded.
    (.stage/.undo are dot-prefixed, so parquet readers never see them.)

    Torn-commit guard: if a writer crashed mid-swap, a bucket may exist
    ONLY in ``.undo`` — invisible to parquet readers, so every key in
    it would silently vanish from the result. Readers are not allowed
    to observe that window: raise and point at :func:`recover_table`
    rather than auto-repair, because a reader racing a LIVE writer's
    commit (undo is also non-empty for an instant mid-swap) must not
    delete the writer's staging out from under it."""
    fs, _, jvm = _fs(spark, table_dir)
    if _bucket_dirs(fs, jvm, jvm.org.apache.hadoop.fs.Path(table_dir, _UNDO)):
        raise RuntimeError(
            f"{table_dir} has buckets parked in {_UNDO} from an interrupted "
            "commit; run recover_table() (write path does this "
            "automatically) before reading, or retry if a writer is live"
        )
    return (
        spark.read.parquet(table_dir)
        .filter(F.col("op") != "DELETE")
        .drop("bucket")
    )


def start_table_upsert_stream(
    stream: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    key: str = "user_id",
    n_buckets: int = DEFAULT_N_BUCKETS,
):
    """Run the upsert sink over a streaming feed. Offsets commit only
    after the merge lands (foreachBatch contract), so a crash replays
    the last batch into the idempotent merge — exactly-once state."""
    return epochs.start(
        stream,
        lambda batch, _epoch: upsert_batch(batch, table_dir, key=key, n_buckets=n_buckets),
        checkpoint_dir,
    )


def compact_table(
    spark: SparkSession,
    table_dir: str,
    tombstone_horizon_lsn: int,
    n_buckets: int = DEFAULT_N_BUCKETS,
) -> None:
    """GC tombstones the source can no longer contradict: a DELETE row
    with ``lsn <= tombstone_horizon_lsn`` (the source's maximum replay
    horizon — e.g. the committed checkpoint LSN minus retention) can
    never be outranked by a late arrival, so it is safe to drop.

    Full-table rewrite by design — run it as the periodic maintenance
    job, not per batch; each bucket compacts independently
    (partition-parallel). Same stage-and-swap commit as the upsert
    (reads live, writes .stage, renames) — no in-memory lineage cut, so
    table size is bounded by disk, not executor block-manager memory —
    with ``prune_unstaged`` so a bucket emptied entirely (all rows were
    expired tombstones) is deleted rather than left behind."""
    _recover(spark, table_dir)
    kept = spark.read.parquet(table_dir).filter(
        (F.col("op") != "DELETE") | (F.col("lsn") > tombstone_horizon_lsn)
    )
    data_cols = [c for c in kept.columns if c != "bucket"]
    (
        kept.select(*data_cols, "bucket")
        .repartition(n_buckets, "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{table_dir}/{_STAGE}")
    )
    _commit_staged(spark, table_dir, prune_unstaged=True)
