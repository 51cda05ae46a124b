"""Streaming IVF ingest (streaming/ivf_ingest_stream.py): stream
result == batch adds, epoch-replay idempotence, torn-generation
recovery, and a live writeStream run."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from outboxx_spark.dataops.ivf_store import (
    _GEN_COMMIT,
    _GEN_PREFIX,
    committed_add_tags,
    committed_generations,
    ivf_serve,
    ivf_store_stats,
)
from outboxx_spark.dataops.similarity import build_ivf_index
from outboxx_spark.sources.tables import read_table
from outboxx_spark.streaming.ivf_ingest_stream import (
    make_ivf_ingest_processor,
    start_ivf_ingest_stream,
)

SF_DIR = "/root/testdata/sf0.001"


def _emb(spark):
    return read_table(spark, SF_DIR, "embeddings")


def _store(spark, tmp_path, name="idx"):
    store = str(tmp_path / name)
    build_ivf_index(
        _emb(spark).filter(F.col("vec_id") < 300),
        store,
        n_clusters=8,
        sample_size=256,
    )
    return store


def _serve_rows(spark, store):
    q = _emb(spark).filter(F.col("vec_id") < 10)
    return sorted(
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in ivf_serve(spark, store, q).collect()
    )


def test_two_epochs_seal_two_generations(spark, tmp_path):
    store = _store(spark, tmp_path)
    proc = make_ivf_ingest_processor(store)
    emb = _emb(spark)
    proc(emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400)), 0)
    proc(emb.filter(F.col("vec_id") >= 400), 1)
    assert committed_generations(spark, store) == [1, 2]
    assert committed_add_tags(spark, store) == {"epoch=0", "epoch=1"}
    n = emb.count()
    total = sum(
        r["n_vectors"] for r in ivf_store_stats(spark, store).collect()
    )
    assert total == n


def test_replay_of_committed_epoch_is_a_noop(spark, tmp_path):
    store = _store(spark, tmp_path)
    proc = make_ivf_ingest_processor(store)
    add = _emb(spark).filter(F.col("vec_id") >= 300)
    proc(add, 0)
    before = _serve_rows(spark, store)
    proc(add, 0)  # checkpoint replay after a post-commit crash
    assert committed_generations(spark, store) == [1]  # no duplicate gen
    assert _serve_rows(spark, store) == before


def test_torn_generation_is_invisible_then_superseded(spark, tmp_path):
    store = _store(spark, tmp_path)
    proc = make_ivf_ingest_processor(store)
    add = _emb(spark).filter(F.col("vec_id") >= 300)
    proc(add, 0)
    # simulate the mid-add crash: the generation exists, its commit
    # json does not -> the epoch is uncommitted as a whole
    (Path(store) / f"{_GEN_PREFIX}1" / _GEN_COMMIT).unlink()
    assert committed_add_tags(spark, store) == set()
    proc(add, 0)  # replay re-adds under a FRESH id
    assert committed_generations(spark, store) == [2]
    assert committed_add_tags(spark, store) == {"epoch=0"}


def test_empty_batch_commits_nothing(spark, tmp_path):
    store = _store(spark, tmp_path)
    proc = make_ivf_ingest_processor(store)
    proc(_emb(spark).filter(F.col("vec_id") < 0), 0)
    assert committed_generations(spark, store) == []


def test_dimension_drift_fail_stops(spark, tmp_path):
    store = _store(spark, tmp_path)
    proc = make_ivf_ingest_processor(store)
    bad = _emb(spark).filter(F.col("vec_id") >= 300).select(
        "vec_id", F.slice("embedding", 1, 3).alias("embedding")
    )
    with pytest.raises(ValueError, match="dim"):
        proc(bad, 0)


@pytest.mark.slow
def test_stream_equals_batch_adds(spark, tmp_path):
    emb = _emb(spark)
    batch_store = _store(spark, tmp_path, "batch")
    proc = make_ivf_ingest_processor(batch_store)
    proc(emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400)), 0)
    proc(emb.filter(F.col("vec_id") >= 400), 1)

    src = str(tmp_path / "src")
    emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400)).coalesce(
        1
    ).write.parquet(f"{src}/a")
    emb.filter(F.col("vec_id") >= 400).coalesce(1).write.parquet(f"{src}/b")
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    stream_store = _store(spark, tmp_path, "stream")
    q = start_ivf_ingest_stream(
        stream, stream_store, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    assert len(committed_generations(spark, stream_store)) == 2
    assert _serve_rows(spark, stream_store) == _serve_rows(spark, batch_store)
