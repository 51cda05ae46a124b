"""Streaming incremental totals (streaming/incragg_stream.py):
convergence with the batch delta algebra across a checkpoint restart,
and the crash windows of ledger compaction. The ledger-first /
idempotent-upsert crash windows are a case of tests/test_epochs.py."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from outboxx_spark.operators.incragg import incremental_group_totals
from outboxx_spark.streaming import epochs
from outboxx_spark.streaming.incragg_stream import (
    apply_incremental_totals_batch,
    read_group_totals,
    start_incremental_totals_stream,
    write_ledger_epoch,
)
from outboxx_spark.streaming.table_sink import upsert_batch
from test_epochs import walk_test

FEED_SCHEMA = (
    "op string, resource string, lsn long, commit_ts long, user_id long, "
    "event_type string, value double, props string"
)


def _rows(ops):
    # (op, resource, lsn, user_id, value) -> full feed rows
    return [
        (op, r, lsn, 1_700_000_000 + lsn, u, "synthetic", v, "{}")
        for op, r, lsn, u, v in ops
    ]


def _feed_df(spark, ops):
    return spark.createDataFrame(_rows(ops), FEED_SCHEMA)


OPS_A = [
    ("INSERT", "t0", 1, 1, 10.00),
    ("INSERT", "t0", 2, 2, 5.50),
    ("UPDATE", "t0", 3, 1, 12.25),
    ("INSERT", "t1", 4, 3, 100.00),
    ("READ", "t1", 5, 3, 999.0),
]
OPS_B = [
    ("DELETE", "t0", 6, 2, 0.0),
    ("UPDATE", "t1", 7, 3, 90.00),
    ("INSERT", "t1", 8, 4, 1.25),
    # same-batch churn on one key: only the winner may count
    ("INSERT", "t0", 9, 5, 7.00),
    ("UPDATE", "t0", 10, 5, 8.00),
]
OPS_C = [
    ("DELETE", "t1", 11, 4, 0.0),
    ("INSERT", "t0", 12, 2, 6.00),  # re-insert of a deleted key
]


def _totals(df):
    return {
        r["resource"]: (r["n_live"], r["sum_value_cents"]) for r in df.collect()
    }


@pytest.mark.slow
def test_stream_and_restart_converge_to_batch_algebra(spark, tmp_path):
    src, table, ledger, ckpt = (
        str(tmp_path / d) for d in ("src", "table", "ledger", "ckpt")
    )
    stream = lambda: (
        spark.readStream.schema(FEED_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    _feed_df(spark, OPS_A).coalesce(1).write.mode("append").parquet(src)
    start_incremental_totals_stream(
        stream(), table, ledger, ckpt, n_buckets=8
    ).awaitTermination(180)
    first = _totals(read_group_totals(spark, ledger))
    assert first == _totals(incremental_group_totals(_feed_df(spark, OPS_A)))

    # new data; a NEW query resumes from the same checkpoint and must
    # not double-count the epochs it already committed
    for ops in (OPS_B, OPS_C):
        _feed_df(spark, ops).coalesce(1).write.mode("append").parquet(src)
    start_incremental_totals_stream(
        stream(), table, ledger, ckpt, n_buckets=8
    ).awaitTermination(180)
    streamed = _totals(read_group_totals(spark, ledger))
    batch = _totals(
        incremental_group_totals(_feed_df(spark, OPS_A + OPS_B + OPS_C))
    )
    assert streamed == batch
    # and against the hand model: t0 holds keys 1(1225),2(600),5(800);
    # t1 holds key 3(9000) — key 4 inserted then deleted
    assert streamed["t0"] == (3, 1225 + 600 + 800)
    assert streamed["t1"] == (1, 9000)


@pytest.mark.slow
def test_compact_ledger_preserves_totals_and_bounds_epochs(spark, tmp_path):
    import glob

    from outboxx_spark.streaming.incragg_stream import compact_ledger

    table, ledger = str(tmp_path / "table"), str(tmp_path / "ledger")
    for i, ops in enumerate([OPS_A, OPS_B, OPS_C]):
        apply_incremental_totals_batch(
            _feed_df(spark, ops), table, ledger, epoch=i, n_buckets=8
        )
    want = _totals(read_group_totals(spark, ledger))

    assert compact_ledger(spark, ledger) == 2
    assert _totals(read_group_totals(spark, ledger)) == want
    assert not glob.glob(os.path.join(ledger, "epoch=*")), "consumed epochs not GCd"

    # idempotent re-compact, then fold-over-fold with a new epoch
    assert compact_ledger(spark, ledger) == 2
    apply_incremental_totals_batch(
        _feed_df(spark, [("DELETE", "t0", 13, 1, 0.0)]), table, ledger, 3, n_buckets=8
    )
    assert compact_ledger(spark, ledger) == 3
    got = _totals(read_group_totals(spark, ledger))
    assert got["t0"] == (2, 600 + 800)


@pytest.mark.slow
def test_crashed_compact_leftovers_are_ignored(spark, tmp_path):
    from outboxx_spark.streaming.incragg_stream import compact_ledger

    table, ledger = str(tmp_path / "table"), str(tmp_path / "ledger")
    for i, ops in enumerate([OPS_A, OPS_B]):
        apply_incremental_totals_batch(
            _feed_df(spark, ops), table, ledger, epoch=i, n_buckets=8
        )
    want = _totals(read_group_totals(spark, ledger))

    # crash window 1: a .tmp fold that never renamed — invisible
    spark.createDataFrame(
        [("t9", 5, 12345)], "resource string, d_live long, d_value_cents long"
    ).write.parquet(os.path.join(ledger, "fold=1.tmp"))
    assert _totals(read_group_totals(spark, ledger)) == want

    # crash window 2: fold published but GC died — shadow epochs at or
    # below the horizon must be ignored, not double-counted
    assert compact_ledger(spark, ledger) == 1
    spark.createDataFrame(
        [("t0", 99, 99999)], "resource string, d_live long, d_value_cents long"
    ).write.parquet(os.path.join(ledger, "epoch=0"))
    with open(os.path.join(ledger, "epoch=0", epochs.MARKER), "w") as f:
        f.write("{}")
    assert _totals(read_group_totals(spark, ledger)) == want


def test_compaction_uses_its_listing_snapshot_not_a_relist(spark, tmp_path, monkeypatch):
    # ADVICE r9: compact_ledger used to list the ledger twice (its own
    # _ledger_parts, then read_group_totals' relist). An epoch committed
    # by a concurrent stream BETWEEN the listings was folded into
    # fold=<horizon> while its id exceeded the horizon and its dir
    # survived GC — readers then double-counted its deltas. The fold
    # must cover exactly the first snapshot's paths: simulate the race
    # by pinning the snapshot, landing a new epoch, then compacting.
    import outboxx_spark.streaming.incragg_stream as mod

    tdir, ldir = str(tmp_path / "t"), str(tmp_path / "l")
    for epoch, ops in ((0, OPS_A), (1, OPS_B)):
        batch = _feed_df(spark, ops).filter(F.col("op") != "READ")
        write_ledger_epoch(batch, tdir, ldir, epoch)
        upsert_batch(batch, tdir)

    stale = mod._ledger_parts(spark, ldir)  # the pre-race snapshot
    monkeypatch.setattr(mod, "_ledger_parts", lambda s, d: stale)
    # the concurrent stream commits epoch 2 after the listing
    late = _feed_df(spark, OPS_C).filter(F.col("op") != "READ")
    write_ledger_epoch(late, tdir, ldir, 2)
    upsert_batch(late, tdir)

    horizon = mod.compact_ledger(spark, ldir)
    assert horizon == 1  # folded only the snapshot's epochs
    monkeypatch.undo()

    # epoch 2 must still exist as its own committed part above the fold
    h2, paths = mod._ledger_parts(spark, ldir)
    assert h2 == 1 and any(p.endswith("epoch=2") for p in paths)
    # and the totals equal the full three-epoch changelog EXACTLY ONCE
    want = {
        (r["resource"], r["n_live"], r["sum_value_cents"])
        for r in incremental_group_totals(
            _feed_df(spark, OPS_A + OPS_B + OPS_C)
        ).collect()
    }
    got = {
        (r["resource"], r["n_live"], r["sum_value_cents"])
        for r in read_group_totals(spark, ldir).collect()
    }
    assert got == want, "concurrently committed epoch double-counted or lost"


# the crash walk in tests/test_epochs.py asserts these windows
test_torn_ledger_epoch_is_invisible = walk_test("incragg")
