"""Streaming paragraph dedup: first-occurrence-wins across
micro-batches.

The batch operator (dataops/linededup.py) resolves ownership by
global (doc_id, position) order; a STREAMING corpus resolves it by
ARRIVAL order — a segment seen in any earlier committed epoch drops
every later occurrence, and within one epoch the batch rule applies.
When the feed arrives in doc_id order (this testbed's feed, and any
CDC-ordered ingest), the two orders coincide and the stream converges
to the batch answer exactly — pinned in tests.

State is a persistent SEEN-SEGMENT store of xxhash64 fingerprints,
committed per epoch with `epochs`' marker-last protocol:

    root/out/batch=<E>/   deduped docs of epoch E   (parquet)
    root/seen/gen=<E>/    fingerprints NEW in E     (parquet, marker)

The out parquet is written first, the gen parquet second; the gen
marker commits the epoch as a whole, and the reader unions only the
out dirs of gen-committed epochs. Until that marker exists the seen
store does not contain the epoch, so a replay recomputes the identical
output (determinism) and overwrites both directories.

Scale: the epoch side of the seen join carries 8-byte fingerprints;
at 100 TB the store buckets by hash (dataops/incremental.py's layout)
so the join prunes to touched buckets — documented swap, same
protocol. No driver-side state: the store IS the state, so the
operator survives restarts without transformWithState machinery.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from outboxx_spark.dataops.linededup import (
    SEG_TOKENS,
    mark_owners,
    reassemble,
    segment_occurrences,
)
from outboxx_spark.streaming import epochs


def _out_dir(root: str, epoch: int) -> str:
    return f"{root}/out/batch={epoch}"


def _gen_dir(root: str, epoch: int) -> str:
    return epochs.epoch_dir(f"{root}/seen", epochs.GEN, epoch)


def committed_epochs(spark: SparkSession, root: str) -> list[int]:
    return epochs.committed(spark, f"{root}/seen", epochs.GEN)


def _read_seen(spark: SparkSession, root: str) -> DataFrame | None:
    done = committed_epochs(spark, root)
    if not done:
        return None
    paths = [_gen_dir(root, e) for e in done]
    return spark.read.option("basePath", f"{root}/seen").parquet(*paths).select("h")


def make_paragraph_dedup_processor(
    root: str, seg_len: int = SEG_TOKENS
) -> Callable[[DataFrame, int], None]:
    """foreachBatch body, exposed for direct crash-window testing."""

    def process(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        if epochs.is_committed(spark, _gen_dir(root, epoch_id)) or batch.isEmpty():
            return
        segs = segment_occurrences(batch, seg_len)
        marked = mark_owners(segs).withColumn("h", F.xxhash64("seg"))
        seen = _read_seen(spark, root)
        if seen is not None:
            # AQE sizes the join at runtime (broadcast below the
            # threshold, shuffled hash above); the store side is pure
            # 8-byte fingerprints either way
            marked = (
                marked.join(
                    seen.withColumn("_seen", F.lit(True)),
                    "h",
                    "left",
                )
                .withColumn(
                    "keep", F.col("keep") & F.col("_seen").isNull()
                )
                .drop("_seen")
            )
        out = reassemble(marked.select("doc_id", "chunk_id", "seg", "keep"))
        out.write.mode("overwrite").parquet(_out_dir(root, epoch_id))
        fresh = marked.select("h").distinct()
        if seen is not None:
            fresh = fresh.join(seen, "h", "left_anti")
        fresh.write.mode("overwrite").parquet(_gen_dir(root, epoch_id))
        epochs.publish(spark, _gen_dir(root, epoch_id))

    return process


def start_paragraph_dedup_stream(
    docs_stream: DataFrame,
    root: str,
    checkpoint_dir: str,
    *,
    seg_len: int = SEG_TOKENS,
):
    return epochs.start(
        docs_stream, make_paragraph_dedup_processor(root, seg_len), checkpoint_dir
    )


def read_deduped(spark: SparkSession, root: str) -> DataFrame:
    """The consumer's view: union of gen-committed epochs only (a
    torn epoch's output is invisible even if its parquet exists)."""
    paths = [_out_dir(root, e) for e in committed_epochs(spark, root)]
    if not paths:
        raise FileNotFoundError(f"no committed epochs under {root}")
    return spark.read.option("basePath", f"{root}/out").parquet(*paths)
