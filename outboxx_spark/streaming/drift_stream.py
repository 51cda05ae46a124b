"""Streaming schema-drift monitor: the live form of the batch audit
(`operators/drift.py`) — which payload keys exist per resource, over
which LSN range, maintained per micro-batch.

Drift is most useful as a MONITOR: the question "did a new column just
start appearing on public.t2?" wants an answer at ingest time, not at
the next corpus-wide audit. The batch stats are MERGEABLE (count/min/
max re-aggregate associatively), so each trigger costs O(batch) to
compute the partial plus a merge against state that is METADATA-sized
(|resources x keys| rows — bounded by the schema surface, not the
data), which is the whole trick: unlike the incremental-totals ledger
(`incragg_stream.py`), no per-key data state is needed, so the state
store here is a full snapshot per generation (``gen=N/state`` and
``gen=N/bounds``), committed by `epochs.fold_newest`. The replay guard
matters here: the merge is a SUM, so it must never run twice against
an already-merged snapshot.

Convergence contract (test-pinned): after streaming any partition of
a feed, ``read_drift_report`` equals the batch
``schema_drift_report`` over the concatenated feed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from outboxx_spark.operators.drift import (
    drift_flags,
    payload_key_stats,
    resource_bounds,
)
from outboxx_spark.streaming import epochs

_STATE_SCHEMA = (
    "resource string, key string, n_events bigint, first_lsn bigint, last_lsn bigint"
)
_BOUNDS_SCHEMA = "resource string, rmin bigint, rmax bigint"


def _read_gen(spark: SparkSession, gen_dir: str):
    state = spark.read.schema(_STATE_SCHEMA).parquet(f"{gen_dir}/state")
    bounds = spark.read.schema(_BOUNDS_SCHEMA).parquet(f"{gen_dir}/bounds")
    return state, bounds


def apply_drift_batch(
    batch: DataFrame,
    state_dir: str,
    epoch: int,
    resource_col: str = "resource",
    lsn_col: str = "lsn",
    props_col: str = "props",
) -> None:
    """The foreachBatch body: merge this batch's mergeable stats into
    the newest committed snapshot and publish generation ``epoch``."""

    def fold(part: DataFrame, prev: str | None) -> dict[str, DataFrame]:
        state = payload_key_stats(part, resource_col, lsn_col, props_col)
        bounds = resource_bounds(part, resource_col, lsn_col)
        if prev is not None:
            prev_state, prev_bounds = _read_gen(part.sparkSession, prev)
            state = (
                state.select(prev_state.columns)
                .unionByName(prev_state)
                .groupBy(resource_col, "key")
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.min("first_lsn").alias("first_lsn"),
                    F.max("last_lsn").alias("last_lsn"),
                )
            )
            bounds = (
                bounds.select(prev_bounds.columns)
                .unionByName(prev_bounds)
                .groupBy(resource_col)
                .agg(F.min("rmin").alias("rmin"), F.max("rmax").alias("rmax"))
            )
        return {"state": state, "bounds": bounds}

    epochs.fold_newest(batch, state_dir, epoch, fold)


def read_drift_state(spark: SparkSession, state_dir: str):
    return _read_gen(spark, epochs.newest(spark, state_dir))


def read_drift_report(spark: SparkSession, state_dir: str) -> DataFrame:
    """The same frame the batch audit emits, served from live state."""
    state, bounds = read_drift_state(spark, state_dir)
    return drift_flags(state, bounds)


def start_drift_stream(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    resource_col: str = "resource",
    lsn_col: str = "lsn",
    props_col: str = "props",
):
    return epochs.start(
        stream,
        lambda batch, epoch: apply_drift_batch(
            batch, state_dir, epoch, resource_col, lsn_col, props_col
        ),
        checkpoint_dir,
    )
