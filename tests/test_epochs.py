"""The marker-last epoch protocol (streaming/epochs.py): its listing,
newest and retention rules on a hand-built directory, and the
crash-window matrix over every side stream that commits through it.

A stream's row of the matrix is one walk: epoch 0 commits, then epoch 1
crashes at each window in turn, each attempt being the replay of the
one before, as foreachBatch replays an uncommitted epoch with the same
rows. The crash is injected where the protocol has its windows: the
first parquet write (before any data), the marker write (data without
a marker: a torn epoch) and just after the marker (before the
checkpoint commit). After each crash a reader must see exactly the
committed epochs, and every replay must converge to the batch answer.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Any, Callable

import pytest
from pyspark.sql.readwriter import DataFrameWriter

import outboxx_spark.dataops.export as export_mod
from outboxx_spark.dataops.hll import hll_sketch_by
from outboxx_spark.dataops.linededup import dedup_paragraphs
from outboxx_spark.dataops.theta import theta_sketch_by
from outboxx_spark.operators.drift import schema_drift_report
from outboxx_spark.operators.incragg import incremental_group_totals
from outboxx_spark.streaming import epochs
from outboxx_spark.streaming.drift_stream import apply_drift_batch, read_drift_report
from outboxx_spark.streaming.export_stream import batch_dir, make_export_batch_processor, read_export
from outboxx_spark.streaming.incragg_stream import apply_incremental_totals_batch, read_group_totals
from outboxx_spark.streaming.paragraph_dedup_stream import (
    _gen_dir,
    _out_dir,
    make_paragraph_dedup_processor,
    read_deduped,
)
from outboxx_spark.streaming.sketch_stream import apply_sketch_batch, apply_theta_batch, read_registers


def _epoch(root, name, marker=True):
    d = root / name
    d.mkdir(parents=True)
    (d / "part-0.parquet").write_text("data")
    if marker:
        (d / epochs.MARKER).write_text("{}")


def test_committed_newest_and_retain_see_only_committed_epochs(spark, tmp_path):
    for e in (0, 2, 10):
        _epoch(tmp_path, f"gen={e}")
    _epoch(tmp_path, "gen=5", marker=False)  # torn: data, no marker
    _epoch(tmp_path, "other=7")  # a sibling without the prefix
    _epoch(tmp_path, "gen=3.tmp")  # a compaction temp dir, not an epoch
    _epoch(tmp_path, "gen=11", marker=False)  # a crashed fs_write_text left only its temp
    (tmp_path / "gen=11" / f"{epochs.MARKER}.0123abcd.tmp").write_text("{}")
    r = str(tmp_path)

    assert epochs.committed(spark, r, "gen=") == [0, 2, 10]  # numeric order
    assert epochs.committed(spark, r, "other=") == [7]
    assert epochs.newest(spark, r) == f"{r}/gen=10"
    assert not epochs.is_committed(spark, f"{r}/gen=11")
    epochs.retain(spark, r)
    assert epochs.committed_dirs(spark, r, "gen=") == [f"{r}/gen=2", f"{r}/gen=10"]
    # only committed epochs are pruned: torn, sibling and temp dirs stay
    assert sorted(os.listdir(r)) == ["gen=10", "gen=11", "gen=2", "gen=3.tmp", "gen=5", "other=7"]


def test_nothing_committed_means_no_newest(spark, tmp_path):
    assert epochs.committed(spark, str(tmp_path / "missing"), "gen=") == []
    with pytest.raises(FileNotFoundError):
        epochs.newest(spark, str(tmp_path / "missing"))
    _epoch(tmp_path, "gen=0", marker=False)
    with pytest.raises(FileNotFoundError):
        epochs.newest(spark, str(tmp_path))


def test_discard_torn_then_publish_commits(spark, tmp_path):
    _epoch(tmp_path, "gen=4", marker=False)
    d = str(tmp_path / "gen=4")
    epochs.discard_torn(spark, d)
    epochs.discard_torn(spark, d)  # nothing left: still fine
    assert not os.path.exists(d)
    os.makedirs(d)
    epochs.publish(spark, d)
    assert epochs.committed(spark, str(tmp_path), "gen=") == [4]


@dataclass(frozen=True)
class Case:
    schema: str
    parts: tuple[list, list, list]  # the rows of three tiny epochs
    apply: Callable[[Any, str, int], None]  # the foreachBatch body
    read: Callable[[Any, str], Any]  # the served answer, comparable
    batch: Callable[[Any], Any]  # the batch answer over one frame
    dirs: Callable[[str, int], list[str]]  # what an epoch writes
    snapshot: bool = False  # whole-state generations under root, two kept


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _gen(root, e):
    return [epochs.epoch_dir(root, epochs.GEN, e)]


DRIFT_COLS = ("resource", "key", "n_events", "first_lsn", "last_lsn", "added", "dropped")
KEYS = (
    [(g, k) for g in "ab" for k in range(0, 12)],
    [(g, k) for g in "bc" for k in range(8, 20)],
    [("a", k) for k in range(18, 26)],
)
TOTALS = ("resource", "n_live", "sum_value_cents")

CASES = {
    "drift": Case(
        "resource string, lsn long, props string",
        (
            [("t0", 1, '{"k": 1, "legacy": 1}'), ("t1", 2, '{"k": 2}')],
            [("t0", 3, '{"k": 3}'), ("t0", 4, "not json")],
            [("t0", 5, '{"k": 5, "v2": 1}'), ("t1", 6, '{"k": 6, "v2": 1}')],
        ),
        apply_drift_batch,
        lambda spark, root: _rows(read_drift_report(spark, root), *DRIFT_COLS),
        lambda df: _rows(schema_drift_report(df), *DRIFT_COLS),
        _gen,
        snapshot=True,
    ),
    "hll": Case(
        "g string, k long",
        KEYS,
        lambda b, root, e: apply_sketch_batch(b, root, e, "g", "k"),
        lambda spark, root: _rows(read_registers(spark, root), "group", "bucket", "max_rho"),
        lambda df: _rows(hll_sketch_by(df, "g", "k"), "group", "bucket", "max_rho"),
        _gen,
        snapshot=True,
    ),
    "theta": Case(
        "g string, k long",
        KEYS,
        lambda b, root, e: apply_theta_batch(b, root, e, "g", "k"),
        lambda spark, root: _rows(read_registers(spark, root), "group", "h"),
        lambda df: _rows(theta_sketch_by(df, "g", "k"), "group", "h"),
        _gen,
        snapshot=True,
    ),
    "export": Case(
        "doc_id long, text string",
        tuple(
            [(i, " ".join(f"w{i}_{j}" for j in range(1 + i % 5))) for i in ids]
            for ids in (range(0, 10), range(10, 16), range(16, 20))
        ),
        lambda b, root, e: make_export_batch_processor(root, target=20, n_buckets=4)(b, e),
        lambda spark, root: _rows(read_export(spark, root), "doc_id", "text"),
        lambda df: _rows(df, "doc_id", "text"),
        lambda root, e: [batch_dir(root, e)],
    ),
    "incragg": Case(
        "op string, resource string, lsn long, commit_ts long, user_id long, "
        "event_type string, value double, props string",
        tuple(
            [(op, r, lsn, lsn, u, "e", v, "{}") for op, r, lsn, u, v in part]
            for part in (
                [("INSERT", "t0", 1, 1, 10.0), ("INSERT", "t1", 2, 2, 5.5), ("READ", "t1", 3, 2, 9.0)],
                [("UPDATE", "t0", 4, 1, 12.25), ("DELETE", "t1", 5, 2, 0.0), ("INSERT", "t0", 6, 3, 1.0)],
                [("INSERT", "t1", 7, 2, 6.0)],  # re-insert: its delta needs the replayed state
            )
        ),
        lambda b, root, e: apply_incremental_totals_batch(
            b, f"{root}/table", f"{root}/ledger", e, n_buckets=4
        ),
        lambda spark, root: _rows(read_group_totals(spark, f"{root}/ledger"), *TOTALS),
        lambda df: _rows(incremental_group_totals(df), *TOTALS),
        lambda root, e: [f"{root}/ledger/epoch={e}"],
    ),
    "paragraph": Case(
        "doc_id long, text string",
        (
            [(1, "a b c d e f"), (2, "d e f g h i")],
            [(3, "a b c x y z"), (4, "g h i")],  # seen in epoch 0: dropped
            [(5, "x y z j k l")],  # seen in the replayed epoch 1
        ),
        lambda b, root, e: make_paragraph_dedup_processor(root)(b, e),
        lambda spark, root: _rows(read_deduped(spark, root), "doc_id", "new_text"),
        lambda df: _rows(dedup_paragraphs(df), "doc_id", "new_text"),
        lambda root, e: [_out_dir(root, e), _gen_dir(root, e)],
    ),
}


class Crash(Exception):
    pass


def _crash_at(m, point):
    if point == "before_data":

        def parquet(self, *a, **k):
            raise Crash(point)

        m.setattr(DataFrameWriter, "parquet", parquet)
        return
    real = epochs.fs_write_text

    def marker(spark, path, text):
        if point == "after_marker":
            real(spark, path, text)
        raise Crash(point)

    m.setattr(epochs, "fs_write_text", marker)
    m.setattr(export_mod, "fs_write_text", marker)  # export's manifest


def _files(dirs):
    return {
        os.path.join(d, f): os.path.getmtime(os.path.join(d, f))
        for top in dirs
        for d, _, fs in os.walk(top)
        for f in fs
    }


def _walk(spark, root, name):
    case = CASES[name]
    frames = [spark.createDataFrame(rows, case.schema) for rows in case.parts]
    one, two, three = (
        case.batch(frames[0]),
        case.batch(frames[0].unionByName(frames[1])),
        case.batch(frames[0].unionByName(frames[1]).unionByName(frames[2])),
    )
    with pytest.raises(FileNotFoundError):
        case.read(spark, root)  # nothing committed yet: no answer
    case.apply(frames[0], root, 0)
    # before any data and torn: readers see epoch 0 only, and the
    # attempt after the torn one must clear it and commit
    for point, served in (("before_data", one), ("torn", one), ("after_marker", two)):
        with pytest.MonkeyPatch.context() as m:
            _crash_at(m, point)
            with pytest.raises(Crash):
                case.apply(frames[1], root, 1)
        assert case.read(spark, root) == served, point

    # after the marker: the replay, and a replay after a crash past the
    # whole body, never rewrite the committed epoch
    written = _files(case.dirs(root, 1))
    assert written
    for _ in range(2):
        case.apply(frames[1], root, 1)
        assert _files(case.dirs(root, 1)) == written
    assert case.read(spark, root) == two

    case.apply(frames[2], root, 2)  # on what the replays left behind
    assert case.read(spark, root) == three
    assert epochs.committed(spark, root, epochs.GEN) == ([1, 2] if case.snapshot else [])


_WALKS: dict[str, Exception | None] = {}


def crash_walk(spark, tmp_path_factory, name):
    """Run stream ``name``'s walk once per session. The stream's own
    test module names its windows with tests that call this too; a
    failed walk fails all of them."""
    if name not in _WALKS:
        try:
            _walk(spark, str(tmp_path_factory.mktemp(name)), name)
            _WALKS[name] = None
        except Exception as e:
            _WALKS[name] = e
    if _WALKS[name] is not None:
        raise _WALKS[name]


def walk_test(name):
    """A test that runs stream ``name``'s walk, for the stream's own
    module to bind under the names of the windows it covers."""
    return lambda spark, tmp_path_factory: crash_walk(spark, tmp_path_factory, name)


@pytest.mark.parametrize("name", list(CASES))
def test_crash_windows_replay_to_the_batch_answer(spark, tmp_path_factory, name):
    crash_walk(spark, tmp_path_factory, name)
