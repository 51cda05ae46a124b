"""Incremental MinHash/LSH dedup: new document batches deduped against
the survivors of everything already ingested, via a persistent on-disk
LSH bucket store.

Production LLM-corpus dedup is incremental — crawls arrive continuously
and each delivery must be checked against the full accepted corpus
without re-running a global all-pairs job (reference counterpart: the
feed's continuously-arriving changelog semantics; batch analog:
``dedup.minhash_dedup_pairs`` / ``dedup.dedup_survivors``). This module
keeps a STORE under ``store_dir``:

- ``buckets/batch_id=N/bkt=M/``  (band, sig, doc_id) — the LSH bucket
  keys of every SURVIVOR, hash-partitioned by
  ``bkt = pmod(xxhash64(band, sig), n_store_buckets)``.
- ``docs/batch_id=N/dbk=M/``     (doc_id, sh) — each survivor's distinct
  shingle set for exact-Jaccard verification, hash-partitioned by
  ``dbk = pmod(xxhash64(doc_id), n_store_buckets)``.
- ``pairs/batch_id=N/``          the verified duplicate pairs each batch
  produced (the operator's audit output).

Per batch the work is:

1. MinHash signatures + band buckets for the NEW docs only.
2. Candidates new-vs-new: the standard banded self-join on the batch.
3. Candidates new-vs-old: the batch's bucket keys joined against the
   store — the store scan is PARTITION-PRUNED to the batch's touched
   ``bkt`` values (collected driver-side, bounded by n_store_buckets)
   and the batch side of the join is broadcast, so the store is never
   shuffled.
4. Exact-Jaccard verification of all candidates (same integer-only
   contract as ``ngram_jaccard_pairs``); old shingle sets come from the
   ``docs`` store, partition-pruned the same way.
5. Survivors (docs that are not the ``doc_b`` of any verified pair)
   append their bucket keys and shingle sets to the store; pairs land
   in ``pairs/``. Every write goes to the batch's own
   ``batch_id=N`` directory in overwrite mode, so REPLAYING a batch
   (Structured Streaming's recovery contract) is idempotent.

Semantics: within a batch, identical to ``dedup_survivors`` (greedy
min-id: any doc appearing as the higher id of a verified pair is
dropped). Across batches, first-seen-wins: a new doc is dropped iff it
duplicates a stored SURVIVOR — docs that were themselves dropped do not
block future docs (the store holds survivors only, so it grows with the
deduped corpus, not the raw feed).

100 TB shape: per-batch cost is O(batch) for signatures + a broadcast
probe of O(touched buckets) store rows — a batch touching B of the
n_store_buckets partitions reads ~B/n_store_buckets of the store.
Shuffles only ever carry batch-sized keyed rows. The store is
append-only (no rewrite, no compaction debt); n_store_buckets sizes the
pruning granularity exactly like the table sink's bucket count.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from outboxx_spark.dataops.dedup import (
    lsh_band_arrays_from_sets,
    lsh_bucket_pairs,
    ngram_jaccard_pairs_sql,
    verify_jaccard_pairs,
)
from outboxx_spark.dataops.text import shingles
from outboxx_spark.dataops.util import parallelized as _parallelized
from outboxx_spark.fsutil import fs_exists, fs_read_text, fs_write_text, hadoop_fs
from outboxx_spark.streaming import epochs

DEFAULT_STORE_BUCKETS = 64
# Below this many verified pairs, the dropped-id set is collected and
# inlined as an InSet filter in the survivor writes (driver-bounded:
# 2^16 int64 ids = 0.5 MB); above it, the distributed broadcast
# anti-join path runs instead.
DROPPED_INLINE_LIMIT = 65536

_META = "_dedup_store_meta.json"
# Store compaction (see compact_dedup_store): staged generation +
# parked old generations + the roll-forward decision marker. The
# compacted generation lands as batch_id=-1 — a real batch_id is a
# non-negative epoch, so the replay-exclusion filter can never exclude
# the compacted generation by accident.
_COMPACT_STAGE = ".compact_stage"
_COMPACT_UNDO = ".compact_undo"
_COMMIT_READY = "_COMMIT_READY"
COMPACTED_BATCH_ID = -1


def _check_store_meta(
    spark: SparkSession, store_dir: str, k: int, threshold: float, n_store_buckets: int
) -> None:
    """The store's layout parameters are baked into its data: ``bkt``/
    ``dbk`` partitions are hashes mod ``n_store_buckets``, shingle sets
    and signatures depend on ``k``, survivor membership on
    ``threshold``. A later call with different values would prune the
    WRONG store partitions and silently pass duplicates through, so the
    parameters are persisted on first write and every call must match
    them exactly (fail-stop, same rule as the pgoutput decoder)."""
    import json as _json

    meta_path = f"{store_dir}/{_META}"
    want = {"k": k, "threshold": threshold, "n_store_buckets": n_store_buckets}
    raw = fs_read_text(spark, meta_path)
    if raw is None:
        if fs_exists(spark, f"{store_dir}/buckets"):
            # A store with data but no meta (pre-meta layout, or a lost
            # file) must FAIL CLOSED: adopting the caller's parameters
            # as truth is exactly the silent corruption this guard
            # exists to prevent. An operator who knows the original
            # parameters can hand-write the meta file to adopt it.
            raise ValueError(
                f"dedup store {store_dir} has data but no {_META}; "
                "refusing to assume its parameters — create the meta "
                "file with the store's original (k, threshold, "
                "n_store_buckets) to adopt it"
            )
        fs_write_text(spark, meta_path, _json.dumps(want))
        return
    have = _json.loads(raw)
    if have != want:
        raise ValueError(
            f"dedup store {store_dir} was created with {have}; refusing to "
            f"run with {want} — mismatched parameters silently corrupt "
            "dedup (wrong partitions pruned, incomparable shingle sets)"
        )


def _bkt(*cols, n: int):
    return F.pmod(F.xxhash64(*cols), F.lit(n)).cast("int")


class PreparedBatch(NamedTuple):
    """Output of prepare_dedup_batch: the cached per-batch signature
    frame plus everything commit_dedup_batch needs. Carrying k and
    n_store_buckets here makes a prepare/commit parameter mismatch
    impossible — the commit validates THESE against the store meta."""

    combined: DataFrame  # (doc_id, sh, bands), persisted
    touched: list[int]  # distinct store bkt partitions the batch probes
    k: int
    n_store_buckets: int


def prepare_dedup_batch(
    batch: DataFrame,
    k: int = 3,
    text_col: str = "text",
    n_store_buckets: int = DEFAULT_STORE_BUCKETS,
) -> PreparedBatch | None:
    """The STORE-INDEPENDENT half of a batch ingest: one text pass
    computing shingle sets + band signature arrays together
    (lsh_band_arrays_from_sets), persisted, plus one probe job that
    both materializes the cache and collects the touched store
    partitions. Returns None for an empty batch (which must write
    nothing).

    Because nothing here reads the store, a caller ingesting a queue of
    deliveries can PIPELINE: prepare delivery N+1 on a second thread
    while commit_dedup_batch(N) is writing — preparation is the Arrow
    minhash pass, the commit is mostly store I/O, so the two overlap
    cleanly (measured ~0.6s/batch saved at sf0.1). The sequential
    wrapper incremental_minhash_dedup_batch composes the two halves
    for the foreachBatch path.

    Every later consumer — the self-join's two sides, verification, the
    survivor appends — derives from the cached frame by a cheap
    projection/posexplode instead of re-running the Arrow pass or
    re-scanning the source. persist rather than localCheckpoint: the
    lineage is two shallow stages (scan + Arrow pass), so
    plan-reanalysis cost is nil and a separate eager-materialization
    job disappears. The probe's posexplode_outer keeps hash-less docs
    as a null-sig row, so n_rows == 0 iff no input rows; collect_set
    skips the null-sig rows and is bounded by n_store_buckets distinct
    values."""
    batch = _parallelized(batch).select(F.col("doc_id"), F.col(text_col).alias("text"))
    combined = lsh_band_arrays_from_sets(
        batch.select("doc_id", shingles(F.col("text"), k).alias("sh"))
    )
    combined.persist()
    try:
        probe = combined.select(F.posexplode_outer("bands").alias("band", "sig"))
        stats = probe.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.collect_set(
                F.when(
                    F.col("sig").isNotNull(),
                    _bkt(F.col("band"), F.col("sig"), n=n_store_buckets),
                )
            ).alias("touched"),
        ).collect()[0]
        if stats["n_rows"] == 0:
            combined.unpersist()
            return None
    except Exception:
        # a failed probe (corrupt input, cancelled job) must not leak
        # the cached frame — only a SUCCESSFUL prepare hands ownership
        # of the persist to commit_dedup_batch
        combined.unpersist()
        raise
    return PreparedBatch(combined, list(stats["touched"]), k, n_store_buckets)


def commit_dedup_batch(
    prepared: PreparedBatch | None,
    store_dir: str,
    batch_id: int,
    threshold: float = 0.5,
) -> None:
    """The STORE-TOUCHING half: candidate generation against the store,
    exact verification, and the three concurrent batch_id=N writes.
    Unpersists the prepared frame when done (a streaming job must not
    accumulate one cached batch per epoch). Commits must stay in
    batch_id order when pipelined with prepare_dedup_batch — the store
    joins exclude only the batch's OWN partition."""
    if batch_id < 0:
        # negative ids are reserved for compacted generations
        # (COMPACTED_BATCH_ID): a caller-supplied -1 would both skip
        # the whole compacted generation in the replay-exclusion filter
        # and OVERWRITE it on the survivor append
        raise ValueError(f"batch_id must be >= 0, got {batch_id}")
    if prepared is None:
        # an empty batch must write NOTHING: a data-less partition
        # tree under batch_id=N would make later store reads
        # schema-less
        return
    try:
        _ingest_nonempty_batch(prepared, store_dir, batch_id, threshold)
    finally:
        prepared.combined.unpersist()


def incremental_minhash_dedup_batch(
    batch: DataFrame,
    store_dir: str,
    batch_id: int,
    k: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    n_store_buckets: int = DEFAULT_STORE_BUCKETS,
) -> None:
    """Dedup one batch against the store (and itself), then append its
    survivors: prepare_dedup_batch + commit_dedup_batch in sequence.
    Idempotent per (batch contents, batch_id): a replay overwrites the
    same batch_id directories with identical content — the store joins
    exclude the batch's own batch_id partition, so a half-committed
    first attempt can't make docs match themselves."""
    if batch_id < 0:
        raise ValueError(f"batch_id must be >= 0, got {batch_id}")
    commit_dedup_batch(
        prepare_dedup_batch(batch, k=k, text_col=text_col, n_store_buckets=n_store_buckets),
        store_dir,
        batch_id,
        threshold=threshold,
    )


def _ingest_nonempty_batch(
    prepared: PreparedBatch,
    store_dir: str,
    batch_id: int,
    threshold: float,
) -> None:
    """Candidate generation, exact verification, and the three
    concurrent batch_id=N writes, all reading the prepared (cached)
    ``combined`` (doc_id, sh, bands) frame."""
    combined = prepared.combined
    k, n_store_buckets = prepared.k, prepared.n_store_buckets
    spark = combined.sparkSession
    _check_store_meta(spark, store_dir, k, threshold, n_store_buckets)
    # finish (or discard) any interrupted out-of-band compaction before
    # reading the store — a half-committed swap must never be probed
    _recover_compaction(spark, store_dir)

    new_sets = combined.select("doc_id", "sh")
    new_buckets = combined.select(
        "doc_id", F.posexplode("bands").alias("band", "sig")
    )

    # new-vs-new (standard banded self-join, batch-sized)
    pairs = verify_jaccard_pairs(
        lsh_bucket_pairs(new_buckets), new_sets, new_sets, threshold
    )

    buckets_root = f"{store_dir}/buckets"
    docs_root = f"{store_dir}/docs"
    if fs_exists(spark, buckets_root):
        # new-vs-old: partition-pruned store scan + broadcast batch
        # probe. Exclude this batch's OWN partition: on a replay the
        # first attempt's rows are already in the store, and matching a
        # doc against its own previous write would drop every survivor.
        old_buckets = (
            spark.read.parquet(buckets_root)
            .filter(F.col("batch_id") != batch_id)
            .filter(F.col("bkt").isin(prepared.touched))
        )
        cand_on = (
            old_buckets.join(
                F.broadcast(
                    new_buckets.select(
                        "band", "sig", F.col("doc_id").alias("doc_b")
                    )
                ),
                ["band", "sig"],
            )
            .select(F.col("doc_id").alias("doc_a"), "doc_b")
            .distinct()
        )
        # old shingle sets, pruned to the candidate docs' hash
        # partitions. The pruned-store broadcast join runs twice (here
        # and inside the verify pipeline) — measured cheaper than the
        # eager checkpoint that would share it, since both runs are a
        # map-side probe of a partition-pruned scan.
        doc_bkts = [
            r["dbk"]
            for r in cand_on.select(
                _bkt(F.col("doc_a"), n=n_store_buckets).alias("dbk")
            )
            .distinct()
            .collect()
        ]
        if doc_bkts:
            old_sets = (
                spark.read.parquet(docs_root)
                .filter(F.col("batch_id") != batch_id)
                .filter(F.col("dbk").isin(doc_bkts))
                .select("doc_id", "sh")
            )
            pairs = pairs.unionByName(
                verify_jaccard_pairs(cand_on, old_sets, new_sets, threshold)
            )

    # ONE execution of the verify pipeline (persist + count — the count
    # both materializes the cache and sizes the dropped set), then the
    # pairs file and both survivor trees are written CONCURRENTLY — all
    # three derive from the batch cache + the pairs cache, so their
    # fixed scheduling/commit overhead overlaps (on a cluster the
    # scheduler interleaves their tasks the same way). All three must
    # land before the function returns (foreachBatch must not commit
    # offsets on a half-written batch); a failure in any thread
    # propagates, and the replay overwrites all three batch_id=N dirs
    # idempotently.
    pairs.persist()
    n_pairs = pairs.count()
    if n_pairs <= DROPPED_INLINE_LIMIT:
        # the common shape: few duplicates per delivery. Inline the
        # dropped ids as an InSet literal so each tree write is a
        # single map stage + bucket shuffle — no broadcast-exchange
        # stage, no join. (InSet above ~10 values is a hash-set probe.)
        dropped_ids = {r["doc_b"] for r in pairs.select("doc_b").collect()}

        def _survivors(df: DataFrame) -> DataFrame:
            if not dropped_ids:
                return df
            return df.filter(~F.col("doc_id").isin(list(dropped_ids)))

    else:
        # pathological delivery (mass duplication): keep it distributed.
        # Broadcast explicitly — the cached inputs carry no size stats,
        # so Catalyst would otherwise plan sort-merge joins (two extra
        # shuffles per tree write). No distinct on dropped: left_anti
        # ignores right-side duplicates, and the distinct would cost a
        # shuffle stage inside every write.
        dropped = F.broadcast(pairs.select(F.col("doc_b").alias("doc_id")))
        survivor_ids = F.broadcast(
            combined.select("doc_id").join(dropped, "doc_id", "left_anti")
        )

        def _survivors(df: DataFrame) -> DataFrame:
            return df.join(survivor_ids, "doc_id")

    def _write_pairs() -> None:
        pairs.write.mode("overwrite").parquet(
            f"{store_dir}/pairs/batch_id={batch_id}"
        )

    # one shuffle task per store bucket -> exactly ONE file per bkt dir
    # (the table sink's layout): a 32-task repartition would scatter
    # every bucket dir with up to 32 small files per batch
    def _write_buckets() -> None:
        (
            _survivors(new_buckets)
            .withColumn("bkt", _bkt(F.col("band"), F.col("sig"), n=n_store_buckets))
            .repartition(n_store_buckets, "bkt")
            .write.mode("overwrite")
            .partitionBy("bkt")
            .parquet(f"{buckets_root}/batch_id={batch_id}")
        )

    def _write_docs() -> None:
        (
            _survivors(new_sets)
            .withColumn("dbk", _bkt(F.col("doc_id"), n=n_store_buckets))
            .repartition(n_store_buckets, "dbk")
            .write.mode("overwrite")
            .partitionBy("dbk")
            .parquet(f"{docs_root}/batch_id={batch_id}")
        )

    try:
        with ThreadPoolExecutor(max_workers=3) as pool:
            for fut in [
                pool.submit(_write_pairs),
                pool.submit(_write_buckets),
                pool.submit(_write_docs),
            ]:
                fut.result()
    finally:
        pairs.unpersist()


def _batch_dirs(fs, tree_path) -> list[str]:
    """Names of batch_id=* children of ``tree_path`` (empty if absent)."""
    if not fs.exists(tree_path):
        return []
    return [
        st.getPath().getName()
        for st in fs.listStatus(tree_path)
        if st.isDirectory() and st.getPath().getName().startswith("batch_id=")
    ]


def _commit_compaction(spark: SparkSession, store_dir: str) -> None:
    """Swap the staged compacted generation into place. Idempotent and
    resumable from any crash point once ``_COMMIT_READY`` exists: per
    tree, if the staged dir is still present, park every live
    generation (including any previous compacted one) in the undo area
    and rename the staged dir in as ``batch_id=-1``; a tree whose
    staged dir is gone already committed and is skipped. Parking MOVES
    directories, so no instant holds the same rows in two live dirs."""
    fs, _, jvm = hadoop_fs(spark, store_dir)
    path = jvm.org.apache.hadoop.fs.Path
    for tree in ("buckets", "docs"):
        staged = path(f"{store_dir}/{_COMPACT_STAGE}/{tree}")
        if not fs.exists(staged):
            continue  # this tree already committed
        live_root = path(f"{store_dir}/{tree}")
        undo_root = path(f"{store_dir}/{_COMPACT_UNDO}/{tree}")
        if not fs.mkdirs(undo_root):
            raise IOError(f"mkdirs failed: {undo_root}")
        for name in _batch_dirs(fs, live_root):
            if not fs.rename(path(live_root, name), path(undo_root, name)):
                raise IOError(f"rename failed: {live_root}/{name} -> undo")
        dest = path(live_root, f"batch_id={COMPACTED_BATCH_ID}")
        if not fs.rename(staged, dest):
            raise IOError(f"rename failed: {staged} -> {dest}")
    fs.delete(path(f"{store_dir}/{_COMPACT_UNDO}"), True)
    fs.delete(path(f"{store_dir}/{_COMPACT_STAGE}"), True)


def _recover_compaction(spark: SparkSession, store_dir: str) -> None:
    """Repair an interrupted compaction before any read or ingest.
    ``_COMMIT_READY`` is the decision point: present -> the staged
    generation is complete, roll FORWARD (re-run the idempotent
    commit); absent -> the stage is garbage, roll BACK (restore any
    parked generation whose live dir is missing, then drop stage+undo).
    No-op (two existence probes) when no compaction was in flight."""
    stage_exists = fs_exists(spark, f"{store_dir}/{_COMPACT_STAGE}")
    undo_exists = fs_exists(spark, f"{store_dir}/{_COMPACT_UNDO}")
    if not stage_exists and not undo_exists:
        return
    if fs_exists(spark, f"{store_dir}/{_COMPACT_STAGE}/{_COMMIT_READY}"):
        _commit_compaction(spark, store_dir)
        return
    fs, _, jvm = hadoop_fs(spark, store_dir)
    path = jvm.org.apache.hadoop.fs.Path
    for tree in ("buckets", "docs"):
        undo_root = path(f"{store_dir}/{_COMPACT_UNDO}/{tree}")
        live_root = path(f"{store_dir}/{tree}")
        for name in _batch_dirs(fs, undo_root):
            live = path(live_root, name)
            if not fs.exists(live):
                if not fs.rename(path(undo_root, name), live):
                    raise IOError(f"rename failed: undo/{name} -> {live}")
    fs.delete(path(f"{store_dir}/{_COMPACT_UNDO}"), True)
    fs.delete(path(f"{store_dir}/{_COMPACT_STAGE}"), True)


def compact_dedup_store(spark: SparkSession, store_dir: str) -> None:
    """Bin-pack every committed batch generation into ONE compacted
    generation per tree (``batch_id=-1``), preserving the ``bkt``/
    ``dbk`` hash partitioning so probe-side pruning is untouched. The
    append-only store otherwise grows O(batches x n_store_buckets)
    small files — a year of crawl deliveries becomes a listing/open
    bottleneck; after compaction the file count is O(n_store_buckets)
    again regardless of history. ``pairs/`` (the audit log) is left
    alone: nothing joins against it per batch.

    Operational contract (same class as the table sink's): single
    writer, run OUT-OF-BAND — never concurrently with ingestion, and
    only when no ingested batch can still replay (i.e. after the
    stream's checkpoint has committed past it). A replay of a batch
    whose rows were folded into the compacted generation would re-add
    those rows under the original batch_id, duplicating them in the
    store. Crash-safe via stage + marker + park-and-rename: recovery
    (run automatically at the next compaction or ingest) rolls forward
    iff the stage completed, else rolls back."""
    _recover_compaction(spark, store_dir)
    if not fs_exists(spark, f"{store_dir}/buckets"):
        return
    import json as _json

    meta_raw = fs_read_text(spark, f"{store_dir}/{_META}")
    if meta_raw is None:
        # same fail-closed rule as _check_store_meta: guessing the
        # bucket count would quietly break the one-file-per-bucket
        # bin-pack this maintenance op exists to produce
        raise ValueError(
            f"dedup store {store_dir} has data but no {_META}; refusing "
            "to compact with assumed parameters — restore the meta file "
            "first"
        )
    n_buckets = _json.loads(meta_raw)["n_store_buckets"]
    for tree, part_col in (("buckets", "bkt"), ("docs", "dbk")):
        (
            spark.read.parquet(f"{store_dir}/{tree}")
            .drop("batch_id")
            # one task per bucket -> one file per dir (the bin-pack)
            .repartition(n_buckets, part_col)
            .write.mode("overwrite")
            .partitionBy(part_col)
            .parquet(f"{store_dir}/{_COMPACT_STAGE}/{tree}")
        )
    fs_write_text(spark, f"{store_dir}/{_COMPACT_STAGE}/{_COMMIT_READY}", "ready")
    _commit_compaction(spark, store_dir)


def incremental_dedup_pairs_sql(k: int = 3, threshold: float = 0.5) -> str:
    """DuckDB mirror of the two-halves incremental ingest the driver
    query runs (``documents`` split at count//2 on doc_id, batch 0 then
    batch 1): batch-0 pairs are the exact Jaccard pairs within the
    first half; batch-1 pairs are pairs whose doc_b is in the second
    half and whose doc_a is either also new (new-vs-new) or a batch-0
    SURVIVOR (first-seen-wins: docs dropped in batch 0 never enter the
    store, so they can't drop later docs). Relies on the test-pinned
    equality of the LSH+verify pair set with the exact pair set, and on
    doc_a < doc_b making "doc_b < h" equivalent to "both < h"."""
    pairs = ngram_jaccard_pairs_sql(k, threshold, max_df=None)
    return f"""
    WITH all_pairs AS ({pairs}),
    half AS (SELECT CAST(count(*) // 2 AS BIGINT) AS h FROM documents),
    p1 AS (SELECT p.* FROM all_pairs p, half WHERE p.doc_b < half.h),
    p2 AS (
      SELECT p.* FROM all_pairs p, half
      WHERE p.doc_b >= half.h
        AND (p.doc_a >= half.h OR p.doc_a NOT IN (SELECT doc_b FROM p1))
    )
    SELECT 0 AS batch_id, doc_a, doc_b, inter, n_a, n_b FROM p1
    UNION ALL
    SELECT 1 AS batch_id, doc_a, doc_b, inter, n_a, n_b FROM p2
    """


def read_survivors(spark: SparkSession, store_dir: str) -> DataFrame:
    """All surviving doc_ids ingested so far. Repairs any interrupted
    compaction first — reading a half-committed swap would silently
    return a partial survivor set."""
    _recover_compaction(spark, store_dir)
    return spark.read.parquet(f"{store_dir}/docs").select("doc_id")


def read_dedup_pairs(spark: SparkSession, store_dir: str) -> DataFrame:
    """Every verified duplicate pair emitted so far (doc_a kept,
    doc_b dropped), with the batch that dropped it. Repairs any
    interrupted compaction first (pairs/ itself is never compacted, but
    a caller reading pairs right after a compaction crash should leave
    the store whole)."""
    _recover_compaction(spark, store_dir)
    return spark.read.parquet(f"{store_dir}/pairs").select(
        "batch_id", "doc_a", "doc_b", "inter", "n_a", "n_b"
    )


def start_incremental_dedup_stream(
    stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    k: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    n_store_buckets: int = DEFAULT_STORE_BUCKETS,
):
    """Run incremental dedup over a streaming document feed. Offsets
    commit after the batch's store writes land (foreachBatch contract);
    a crash replays the batch into its own batch_id directories —
    idempotent, so the store is exactly-once under the same conditions
    as the table sink (atomic-rename filesystems, single writer)."""

    def _apply(batch: DataFrame, epoch_id: int) -> None:
        incremental_minhash_dedup_batch(
            batch,
            store_dir,
            batch_id=epoch_id,
            k=k,
            threshold=threshold,
            text_col=text_col,
            n_store_buckets=n_store_buckets,
        )

    return epochs.start(stream, _apply, checkpoint_dir)
