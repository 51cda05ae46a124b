"""Streaming cardinality ledger: per-source HLL registers maintained
as snapshot generations — live distinct counts that never recount
history.

Composes the per-group relational HyperLogLog (`dataops/hll.py`) with
the snapshot generations of `epochs.fold_newest`: every micro-batch
folds its registers into the newest committed snapshot with
groupBy(group, bucket).max and publishes the merged state as
generation <epoch>. Because register merge is an idempotent,
commutative MAX, even a replay that re-merged an already-folded batch
would be a no-op on the VALUES — the committed-gen guard merely spares
the write. The theta ledger is the same fold with union + re-trim as
its merge (distinct hashes make a re-merge value-safe too).

Serving is `hll_estimate_by` over the newest snapshot — the estimator
is ONE JVM aggregation, so a dashboard polling per-source cardinality
reads G x 2^p register rows and never touches the event history. At
100 TB the state is still metadata-sized: 256 registers per source.

The same generations merge ACROSS streams (two pipelines' ledgers
union with the same groupBy-max), which is what makes the sketch, not
a counter table, the right streaming state.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from outboxx_spark.dataops.hll import P_BITS_BY, hll_estimate_by, hll_sketch_by
from outboxx_spark.dataops.theta import K_DEFAULT, _pairwise_intersections, theta_sketch_by
from outboxx_spark.streaming import epochs


def _fold_registers(
    batch: DataFrame,
    state_dir: str,
    epoch: int,
    sketch: Callable[[DataFrame], DataFrame],
    merge: Callable[[DataFrame], DataFrame],
) -> None:
    def fold(part: DataFrame, prev: str | None) -> dict[str, DataFrame]:
        regs = sketch(part)
        if prev is not None:
            regs = merge(regs.unionByName(part.sparkSession.read.parquet(f"{prev}/registers")))
        return {"registers": regs}

    epochs.fold_newest(batch, state_dir, epoch, fold)


def apply_sketch_batch(
    batch: DataFrame,
    state_dir: str,
    epoch: int,
    group_col: str,
    key_col: str,
    p: int = P_BITS_BY,
) -> None:
    """The foreachBatch body: fold this batch's registers into the
    newest committed snapshot and publish generation ``epoch``."""
    _fold_registers(
        batch,
        state_dir,
        epoch,
        lambda part: hll_sketch_by(part, group_col, key_col, p),
        lambda regs: regs.groupBy("group", "bucket").agg(F.max("max_rho").alias("max_rho")),
    )


def apply_theta_batch(
    batch: DataFrame,
    state_dir: str,
    epoch: int,
    group_col: str,
    key_col: str,
    k: int = K_DEFAULT,
) -> None:
    """Theta-ledger sibling of :func:`apply_sketch_batch`: fold each
    batch's per-group KMV samples into the newest snapshot with
    union + re-trim. The served state is the per-source sample frame
    `theta_sketch_by` would produce over the whole history — so the
    LIVE pairwise overlap matrix (`dataops/theta._pairwise_intersections`)
    comes straight off the snapshot: which sources are converging
    RIGHT NOW, no rescan."""
    w = Window.partitionBy("group").orderBy("h")
    _fold_registers(
        batch,
        state_dir,
        epoch,
        lambda part: theta_sketch_by(part, group_col, key_col, k),
        lambda regs: regs.distinct()
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn"),
    )


def read_registers(spark: SparkSession, state_dir: str) -> DataFrame:
    """The newest committed snapshot: HLL ``(group, bucket, max_rho)``
    or theta ``(group, h)`` rows."""
    return spark.read.parquet(f"{epochs.newest(spark, state_dir)}/registers")


def read_cardinalities(
    spark: SparkSession, state_dir: str, p: int = P_BITS_BY
) -> DataFrame:
    """(group, est): live per-source distinct counts from the newest
    snapshot — register rows in, one relational aggregation out."""
    return hll_estimate_by(read_registers(spark, state_dir), p)


def read_overlap_matrix(
    spark: SparkSession, state_dir: str, k: int = K_DEFAULT
) -> dict[tuple[str, str], float]:
    """{(source_a, source_b): est_intersection} from the newest theta
    snapshot's G*k sample rows alone."""
    per: dict[str, list[int]] = {}
    for r in read_registers(spark, state_dir).collect():
        per.setdefault(r["group"], []).append(r["h"])
    for hs in per.values():
        hs.sort()
    return {
        pair: est for pair, (est, _) in _pairwise_intersections(per, k).items()
    }


def start_sketch_stream(
    stream_df: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    group_col: str,
    key_col: str,
    *,
    p: int = P_BITS_BY,
):
    return epochs.start(
        stream_df,
        lambda b, e: apply_sketch_batch(b, state_dir, e, group_col, key_col, p),
        checkpoint_dir,
    )
