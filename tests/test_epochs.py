"""The marker-last epoch protocol (streaming/epochs.py): its listing
rule on a hand-built directory, and the crash-window matrix over every
stream that commits through it.

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

from outboxx_spark.operators.incragg import incremental_group_totals
from outboxx_spark.streaming import epochs
from outboxx_spark.streaming.incragg_stream import apply_incremental_totals_batch, read_group_totals


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
    assert epochs.is_committed(spark, f"{r}/gen=10")
    assert not epochs.is_committed(spark, f"{r}/gen=5")
    assert not epochs.is_committed(spark, f"{r}/gen=11")


def test_nothing_committed_means_no_newest(spark, tmp_path):
    assert epochs.committed(spark, str(tmp_path / "missing"), "gen=") == []
    _epoch(tmp_path, "gen=0", marker=False)
    assert epochs.committed(spark, str(tmp_path), "gen=") == []


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


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


TOTALS = ("resource", "n_live", "sum_value_cents")

CASES = {
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
