"""Streaming shard export (streaming/export_stream.py): exactly-once
across a checkpoint restart, with every committed batch verified
against its manifest. The crash windows of the manifest-last protocol
are cases of tests/test_epochs.py.

The restart test is the file-sink analog of
test_exactly_once_no_duplicates_across_restart — same checkpoint
mechanics, but the delivery target is per-batch shard directories a
trainer reads, and the assertion is set-equality of (doc_id) with no
duplicates across the whole export."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from outboxx_spark.dataops.export import verify_export
from outboxx_spark.streaming.export_stream import (
    batch_dir,
    committed_batches,
    make_export_batch_processor,
    read_export,
    start_export_stream,
)
from test_epochs import walk_test

DOCS_SCHEMA = "doc_id long, text string"


def _write_doc_file(spark, src_dir, lo, hi, tag):
    rows = [(i, " ".join(f"{tag}_{i}_{j}" for j in range(1 + i % 9))) for i in range(lo, hi)]
    (
        spark.createDataFrame(rows, DOCS_SCHEMA)
        .coalesce(1)
        .write.mode("append")
        .parquet(src_dir)
    )


def _stream(spark, src_dir):
    return (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )


@pytest.mark.slow
def test_restart_resumes_without_duplicates(spark, tmp_path):
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    _write_doc_file(spark, src, 0, 50, "a")
    _write_doc_file(spark, src, 50, 90, "b")
    q = start_export_stream(_stream(spark, src), out, ckpt, target=50, n_buckets=16)
    q.awaitTermination(120)
    assert committed_batches(spark, out) == [0, 1]

    # new data arrives; a NEW query resumes from the same checkpoint
    _write_doc_file(spark, src, 90, 130, "c")
    q2 = start_export_stream(_stream(spark, src), out, ckpt, target=50, n_buckets=16)
    q2.awaitTermination(120)
    assert committed_batches(spark, out) == [0, 1, 2]
    for b in committed_batches(spark, out):
        assert verify_export(spark, batch_dir(out, b)) == []
    got = sorted(r["doc_id"] for r in read_export(spark, out).collect())
    assert got == list(range(130)), "restart must neither lose nor duplicate"


def test_empty_trigger_commits_nothing(spark, tmp_path):
    out = str(tmp_path / "out")
    empty = spark.createDataFrame([], DOCS_SCHEMA)
    make_export_batch_processor(out, target=10)(empty, 4)
    assert committed_batches(spark, out) == []
    assert not os.path.exists(batch_dir(out, 4))


# the crash walk in tests/test_epochs.py asserts these windows
test_replay_of_committed_epoch_is_a_noop = test_torn_batch_is_discarded_and_rewritten = \
    test_reader_only_sees_committed_batches = walk_test("export")
