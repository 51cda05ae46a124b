"""Streaming paragraph dedup (streaming/paragraph_dedup_stream.py):
convergence with the batch operator on an ordered feed, cross-epoch
ownership and a live writeStream run. Its crash windows are a case of
the crash walk in tests/test_epochs.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from outboxx_spark.dataops.linededup import dedup_paragraphs
from outboxx_spark.sources.tables import read_table
from outboxx_spark.streaming.paragraph_dedup_stream import (
    committed_epochs,
    make_paragraph_dedup_processor,
    read_deduped,
    start_paragraph_dedup_stream,
)
from test_epochs import walk_test


def _rows(df):
    return sorted(
        (r["doc_id"], r["kept"], r["dropped"], r["new_text"]) for r in df.collect()
    )


def _halves(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    n = docs.count()
    return (
        docs,
        docs.filter(F.col("doc_id") < n // 2),
        docs.filter(F.col("doc_id") >= n // 2),
    )


def test_stream_converges_to_batch_on_ordered_feed(spark, sf_dir, tmp_path):
    docs, h1, h2 = _halves(spark, sf_dir)
    root = str(tmp_path / "pd")
    proc = make_paragraph_dedup_processor(root)
    proc(h1, 0)
    proc(h2, 1)
    assert committed_epochs(spark, root) == [0, 1]
    assert _rows(read_deduped(spark, root)) == _rows(dedup_paragraphs(docs))


def test_cross_epoch_ownership_drops_later_arrivals(spark, tmp_path):
    root = str(tmp_path / "pd")
    proc = make_paragraph_dedup_processor(root)
    seg = "x y z"
    b0 = spark.createDataFrame([(1, seg)], "doc_id long, text string")
    b1 = spark.createDataFrame(
        [(2, f"{seg} a b c"), (3, seg)], "doc_id long, text string"
    )
    proc(b0, 0)
    proc(b1, 1)
    got = {r["doc_id"]: r for r in read_deduped(spark, root).collect()}
    assert got[1]["new_text"] == seg  # first arrival keeps it
    assert got[2]["new_text"] == "a b c"  # seen in epoch 0 -> dropped
    assert got[3]["new_text"] == ""


def test_real_stream_run_end_to_end(spark, sf_dir, tmp_path):
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    n = docs.count()
    # two source files -> two micro-batches with maxFilesPerTrigger=1
    docs.filter(F.col("doc_id") < n // 2).coalesce(1).write.parquet(f"{src}/a")
    docs.filter(F.col("doc_id") >= n // 2).coalesce(1).write.parquet(f"{src}/b")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    root = str(tmp_path / "pd")
    q = start_paragraph_dedup_stream(stream, root, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    got = read_deduped(spark, root)
    assert got.count() == n
    totals = got.agg(F.sum("dropped").alias("d")).collect()[0]
    assert totals["d"] > 0


# the crash walk in tests/test_epochs.py asserts these windows
test_replay_of_committed_epoch_is_a_noop = test_torn_out_dir_is_invisible_then_rewritten = \
    test_reader_refuses_empty_store = walk_test("paragraph")
