"""tools/perf_ab.py: seed ranges and the gain rule over interleaved pairs."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from perf_ab import parse_seeds, summarize  # noqa: E402


def _run(**metrics):
    return {"correct": True, "metrics": {k: {"value": v} for k, v in metrics.items()}}


def test_parse_seeds():
    assert parse_seeds("1401-1404") == [1401, 1402, 1403, 1404]
    assert parse_seeds("7") == [7]


def test_rule_needs_nine_tenths_wins_and_a_gap_beyond_the_parent_iqr():
    better = {"commit_p50_ms": "lower", "drain_eps": "higher"}
    parent = [500 + 10 * i for i in range(10)]  # IQR 45
    pairs = [(_run(commit_p50_ms=p, drain_eps=100), _run(commit_p50_ms=p - 100, drain_eps=100)) for p in parent]
    rows = {r["metric"]: r for r in summarize(pairs, better)}
    assert rows["commit_p50_ms"]["wins"] == 10 and rows["commit_p50_ms"]["holds"]
    assert rows["drain_eps"]["wins"] == 0 and not rows["drain_eps"]["holds"]  # ties win nothing

    # every pair won, but by less than the parent's own spread
    pairs = [(_run(commit_p50_ms=p), _run(commit_p50_ms=p - 20)) for p in parent]
    (row,) = summarize(pairs, better)
    assert row["wins"] == 10 and not row["holds"]

    # a wide gap, but only 8 of 10 pairs won
    pairs = [(_run(commit_p50_ms=p), _run(commit_p50_ms=p - 100 if i < 8 else p + 5)) for i, p in enumerate(parent)]
    (row,) = summarize(pairs, better)
    assert row["wins"] == 8 and not row["holds"]


def test_rule_fails_on_a_bad_run_or_a_missing_pair():
    better = {"commit_p50_ms": "lower"}
    parent = [500 + 10 * i for i in range(10)]

    def pairs():
        return [(_run(commit_p50_ms=p), _run(commit_p50_ms=p - 100)) for p in parent]

    (row,) = summarize(pairs(), better)
    assert row["holds"]

    # one change run delivered wrong output: its numbers vouch for nothing
    ps = pairs()
    ps[3][1]["correct"] = False
    (row,) = summarize(ps, better)
    assert row["wins"] == 10 and not row["holds"]

    # the change fails more operations than the parent
    ps = pairs()
    ps[0][1]["failed"] = 1
    (row,) = summarize(ps, better)
    assert not row["holds"]

    # two change runs printed no metrics: 8 wins of 10 pairs run, not 8 of 8
    ps = pairs()
    for i in (0, 1):
        ps[i] = (ps[i][0], {"returncode": 1, "error": "boom"})
    (row,) = summarize(ps, better)
    assert (row["wins"], row["n"], row["reported"]) == (8, 10, 8) and not row["holds"]
