"""Streaming embedding ingest into the persistent IVF index: the
FAISS-add pattern (`dataops/ivf_store.py`) driven by Structured
Streaming, so a live embedding feed becomes searchable one sealed
generation per micro-batch with no rebuild and no serving pause.

Exactly-once across every crash window, with NO state beyond the
store itself:

- each epoch commits as one `ivf_index_add(..., tag="epoch=<E>")` —
  the tag rides inside the generation's commit json, which
  `ivf_index_add` writes LAST (marker-last discipline);
- a replayed epoch (post-commit crash, before the checkpoint advanced)
  finds its tag in `committed_add_tags` and no-ops;
- a mid-add crash leaves a marker-less generation directory that every
  reader already skips; the replay re-adds under a FRESH generation id
  (`ivf_index_add` never reuses a torn dir's id), so the torn segment
  is dead weight for `ivf_compact` to fold away, never duplicate data.

Scale: per-batch work is exactly the batch add — assign against the
frozen broadcast quantizer, one repartition("cluster") shuffle of the
new vectors only, partitioned append. Serving cost stays
O(probed lists) regardless of how many generations a long-running
stream seals; compaction cadence is the operator's only tuning knob
(build-and-swap, `ivf_compact`), same as the dedup store's bin-pack.

Reference parity note: the reference has no vector path — this is
part of the repo's LLM-training-data surface, composing its CDC-grade
commit discipline (export_stream, incremental dedup store) with the
ANN store.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from outboxx_spark.dataops.ivf_store import committed_add_tags, ivf_index_add
from outboxx_spark.streaming import epochs


def epoch_tag(epoch_id: int) -> str:
    return f"epoch={epoch_id}"


def make_ivf_ingest_processor(
    store_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch body, exposed for direct crash-window testing."""

    def process(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        if epoch_tag(epoch_id) in committed_add_tags(spark, store_dir):
            return  # epoch fully committed: replay is a no-op
        if batch.isEmpty():
            return  # ivf_index_add fail-stops on empty by contract
        ivf_index_add(
            batch,
            store_dir,
            id_col=id_col,
            vec_col=vec_col,
            tag=epoch_tag(epoch_id),
        )

    return process


def start_ivf_ingest_stream(
    emb_stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Attach the ingest sink to a streaming embeddings frame. The
    index at ``store_dir`` must already exist (`build_ivf_index`) —
    the quantizer is frozen by design; distribution drift is a
    reindex trigger, not something ingest may silently absorb."""
    return epochs.start(
        emb_stream, make_ivf_ingest_processor(store_dir, id_col, vec_col), checkpoint_dir
    )
