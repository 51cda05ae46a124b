"""Streaming incremental aggregate maintenance: the O(batch) steady
state that operators/incragg.py's batch algebra promises.

The batch form proves sum-of-deltas == aggregate-over-state across a
WHOLE changelog. This module runs the same algebra per micro-batch
against live keyed state, so each trigger costs O(batch + touched
buckets) — never O(key space), never O(history):

1. winners = latest event per (resource, key) in the batch (the same
   materialize() precedence the table sink merges with);
2. prior   = current rows of ONLY the touched buckets of the keyed
   state table (partition-pruned read, tombstones included — a
   tombstone's effective value is 0, same as absent);
3. delta   = eff(winner) - eff(prior) per key, summed per group →
   appended to a per-epoch totals LEDGER;
4. the batch upserts into the state table (table_sink.upsert_batch).

Exactly-once across every crash window WITHOUT a transaction spanning
the two stores, by ordering + idempotence: the ledger epoch commits
FIRST under `epochs`' marker-last protocol, the upsert runs SECOND and
is idempotent by design. A crash between the ledger commit and the
upsert replays as: ledger skipped (its deltas vs the pre-upsert state
are already durable), upsert re-run.

The one rule that makes this sound: the ledger for epoch N must never
be recomputed after the upsert for epoch N may have run — a replayed
delta against already-updated state would be zero and overwrite the
true deltas. The marker check enforces exactly that.

Group totals = SUM over committed ledger epochs — O(epochs x groups)
tiny rows; fold old epochs periodically if epoch count ever matters.
Convergence is test-pinned: streamed totals == the batch algebra ==
materialize-then-aggregate, and crash windows are driven explicitly
(tests/test_incragg_stream.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from outboxx_spark.fsutil import hadoop_fs
from outboxx_spark.operators.materialize import materialize
from outboxx_spark.streaming import epochs
from outboxx_spark.streaming.table_sink import (
    DEFAULT_N_BUCKETS,
    _bucket,
    upsert_batch,
)

EPOCH = "epoch="
FOLD = "fold="


def _eff(op_col, value_col):
    cents = F.round(value_col * 100).cast("long")
    return F.when(op_col == "DELETE", F.lit(0)).otherwise(cents)


def _live(op_col):
    return F.when(op_col == "DELETE", F.lit(0)).otherwise(F.lit(1))


def write_ledger_epoch(
    batch: DataFrame,
    table_dir: str,
    ledger_dir: str,
    epoch: int,
    key: str = "user_id",
    n_buckets: int = DEFAULT_N_BUCKETS,
) -> None:
    """Step 1-3: per-group deltas of this batch AGAINST CURRENT STATE,
    committed marker-last under epoch=N. Must run before the epoch's
    upsert (see module docstring for why that ordering is load-bearing)."""
    spark = batch.sparkSession
    winners = materialize(batch, key=key, drop_deleted=False).withColumn(
        "bucket", _bucket(F.col("resource"), F.col(key), n_buckets)
    )
    winners = winners.select(
        "resource",
        F.col(key).alias("_k"),
        "bucket",
        _eff(F.col("op"), F.col("value")).alias("_eff_new"),
        _live(F.col("op")).alias("_live_new"),
    ).localCheckpoint(eager=True)  # bounded: micro-batch winners
    touched = [r["bucket"] for r in winners.select("bucket").distinct().collect()]

    fs, root, _ = hadoop_fs(spark, table_dir)
    have_table = fs.exists(root) and any(
        st.getPath().getName().startswith("bucket=") for st in fs.listStatus(root)
    )
    if have_table and touched:
        prior = (
            spark.read.parquet(table_dir)
            .filter(F.col("bucket").isin(touched))  # partition-pruned
            .select(
                "resource",
                F.col(key).alias("_k"),
                _eff(F.col("op"), F.col("value")).alias("_eff_old"),
                _live(F.col("op")).alias("_live_old"),
            )
        )
    else:
        prior = spark.createDataFrame(
            [], "resource string, _k long, _eff_old long, _live_old int"
        )

    deltas = (
        winners.join(prior, ["resource", "_k"], "left")
        .groupBy("resource")
        .agg(
            F.sum(
                F.col("_eff_new") - F.coalesce(F.col("_eff_old"), F.lit(0))
            ).alias("d_value_cents"),
            F.sum(
                F.col("_live_new") - F.coalesce(F.col("_live_old"), F.lit(0))
            ).alias("d_live"),
        )
    )
    epoch_dir = epochs.epoch_dir(ledger_dir, EPOCH, epoch)
    deltas.write.mode("overwrite").parquet(epoch_dir)
    epochs.publish(spark, epoch_dir)


def apply_incremental_totals_batch(
    batch: DataFrame,
    table_dir: str,
    ledger_dir: str,
    epoch: int,
    key: str = "user_id",
    n_buckets: int = DEFAULT_N_BUCKETS,
) -> None:
    """The foreachBatch body: ledger (skip if this epoch already
    committed one), then the idempotent state upsert."""
    spark = batch.sparkSession
    nonread = batch.filter(F.col("op") != "READ")
    if nonread.isEmpty():
        return
    ledger = epochs.epoch_dir(ledger_dir, EPOCH, epoch)
    if not epochs.is_committed(spark, ledger):
        write_ledger_epoch(
            nonread, table_dir, ledger_dir, epoch, key=key, n_buckets=n_buckets
        )
    upsert_batch(nonread, table_dir, key=key, n_buckets=n_buckets)


def start_incremental_totals_stream(
    stream: DataFrame,
    table_dir: str,
    ledger_dir: str,
    checkpoint_dir: str,
    key: str = "user_id",
    n_buckets: int = DEFAULT_N_BUCKETS,
):
    return epochs.start(
        stream,
        lambda batch, epoch: apply_incremental_totals_batch(
            batch, table_dir, ledger_dir, epoch, key=key, n_buckets=n_buckets
        ),
        checkpoint_dir,
    )


def _ledger_parts(spark: SparkSession, ledger_dir: str):
    """(fold_horizon, paths): the newest committed fold (or None) plus
    every committed epoch ABOVE it. Epochs at or below a fold's
    horizon are ignored whether present or not — which is exactly what
    makes compaction GC crash-safe at any interruption point."""
    done = epochs.committed(spark, ledger_dir, EPOCH)
    # folds are listed second: a fold published between the two
    # listings covers every epoch its compaction then deletes
    folds = epochs.committed(spark, ledger_dir, FOLD)
    horizon = max(folds) if folds else None
    paths = []
    if horizon is not None:
        paths.append(epochs.epoch_dir(ledger_dir, FOLD, horizon))
    paths += [
        epochs.epoch_dir(ledger_dir, EPOCH, e)
        for e in done
        if horizon is None or e > horizon
    ]
    return horizon, paths


def _sum_parts(spark: SparkSession, paths: list[str]) -> DataFrame:
    """SUM the deltas of exactly these ledger parts — the shared fold
    kernel of read_group_totals and compact_ledger. Taking an explicit
    path snapshot (not re-listing) is load-bearing for compaction: the
    fold must cover precisely the parts the GC will delete."""
    scan = spark.read.parquet(paths[0])
    for p in paths[1:]:
        scan = scan.unionByName(spark.read.parquet(p))
    return scan.groupBy("resource").agg(
        F.sum("d_live").cast("long").alias("n_live"),
        F.sum("d_value_cents").cast("long").alias("sum_value_cents"),
    )


def read_group_totals(spark: SparkSession, ledger_dir: str) -> DataFrame:
    """Current totals: SUM over the newest committed fold plus the
    committed epochs above its horizon. Uncommitted (torn) epochs and
    folds are invisible — the reader-side half of the exactly-once
    guarantee, as everywhere else in this repo."""
    _, paths = _ledger_parts(spark, ledger_dir)
    if not paths:
        raise FileNotFoundError(f"no committed ledger epochs under {ledger_dir}")
    return _sum_parts(spark, paths)


def compact_ledger(spark: SparkSession, ledger_dir: str) -> int | None:
    """Fold the current committed parts into one fold=<horizon> dir —
    the epoch-count bound for a long-running stream. Protocol: build
    in fold=<N>.tmp (invisible), single atomic rename publishes it,
    then GC the consumed parts. Every crash window is benign because
    readers IGNORE anything at or below the newest fold's horizon:
    die before the rename and only a .tmp remains; die mid-GC and the
    leftovers are ignored shadows. Returns the new horizon (None if
    nothing to fold).

    The fold is computed from the FIRST _ledger_parts snapshot (exact
    paths), never from a re-listing: an epoch committed by a concurrent
    stream between two listings would otherwise be summed into
    fold=new_horizon while its id exceeds new_horizon and its directory
    survives GC — readers would then double-count its deltas."""
    horizon, paths = _ledger_parts(spark, ledger_dir)
    if not paths:
        return None
    new_horizon = max(
        int(p.rsplit("=", 1)[1]) for p in paths
    )
    if len(paths) == 1 and horizon == new_horizon:
        return horizon  # already a lone fold; nothing to do
    folded = _sum_parts(spark, paths).select(
        "resource",
        F.col("n_live").alias("d_live"),
        F.col("sum_value_cents").alias("d_value_cents"),
    )
    fold_dir = epochs.epoch_dir(ledger_dir, FOLD, new_horizon)
    tmp = f"{fold_dir}.tmp"
    epochs.discard_torn(spark, tmp)  # debris from a crashed prior attempt
    folded.write.mode("overwrite").parquet(tmp)
    epochs.publish(spark, tmp)
    fs, _, jvm = hadoop_fs(spark, ledger_dir)
    Path = jvm.org.apache.hadoop.fs.Path
    if not fs.rename(Path(tmp), Path(fold_dir)):
        raise RuntimeError(f"could not publish fold={new_horizon}")
    for p in paths:  # GC the consumed parts; crash here is harmless
        fs.delete(Path(p), True)
    return new_horizon
