"""bench.py's leg table and runner, without a Spark session: the
declared keys pin the reported ``extra`` block, and stub legs pin what
the runner does with failures, re-runs, derived metrics and temp dirs."""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import bench  # noqa: E402

# measured by perfbench on the served path (kafka_wire.*, kafka_sink.*)
RETIRED = {
    "kafka_raw_drain_events_per_sec",
    "kafka_sink_events_per_sec",
    "kafka_sink_clean_events_per_sec",
    "kafka_sink_ordered_events_per_sec",
}


def test_declared_keys_match_the_committed_detail():
    committed = json.loads((REPO / "bench_detail.json").read_text())["extra"]
    declared = bench.extra_keys()
    assert len(declared) == len(set(declared)), "a key is declared twice"
    assert set(declared) == set(committed) - RETIRED


def _leg(name, keys, measure, remeasure=None):
    return bench.Leg(name, tuple(keys), measure, remeasure)


def test_raising_leg_leaves_its_keys_none_and_later_legs_run(capsys):
    def boom(p):
        raise RuntimeError("no broker")

    legs = [
        _leg("first", ["a_sec"], lambda p: {"a_sec": 1.0}),
        _leg("broken", ["b_sec", "b_count"], boom),
        _leg("last", ["c_sec"], lambda p: {"c_sec": 3.0}),
    ]
    with bench.LegRunner(legs) as runner:
        runner.run()
        extra = runner.extra()
    assert extra == {"a_sec": 1.0, "b_sec": None, "b_count": None, "c_sec": 3.0}
    assert "# broken probe failed: RuntimeError: no broker" in capsys.readouterr().err


def test_rerun_merges_best_values_and_rederives():
    samples = iter([
        # first pass, then the re-measure
        {"emb_lsh_1x_sec": 2.0, "emb_lsh_4x_sec": 6.0, "scaleup_sec": 4.0},
        {"emb_lsh_1x_sec": 1.0, "emb_lsh_4x_sec": 7.0, "scaleup_sec": 2.0},
    ])

    def measure(p):
        return {**next(samples), "scaleup_events": 1000}

    def remeasure(p):
        return next(samples)

    load = iter([{"tablesink_load_sec": 0.5}, {"tablesink_load_sec": 0.25}])
    legs = [
        _leg("mixed", ["emb_lsh_1x_sec", "emb_lsh_4x_sec", "emb_lsh_4x_time_ratio",
                       "scaleup_events", "scaleup_events_per_sec"], measure, remeasure),
        _leg("sink", ["tablesink_load_sec", "tablesink_events_per_sec"],
             lambda p: next(load), lambda p: next(load)),
        _leg("untouched", ["z_sec"], lambda p: {"z_sec": 9.0},
             lambda p: {"z_sec": 0.1}),
    ]
    with bench.LegRunner(legs, n_events=100) as runner:
        runner.run()
        first = runner.extra()
        assert first["emb_lsh_4x_time_ratio"] == 3.0
        assert first["scaleup_events_per_sec"] == 250
        assert first["tablesink_events_per_sec"] == 200
        resampled = runner.rerun({"scaleup_events_per_sec", "tablesink_load_sec"})
        extra = runner.extra()
    # min for *_sec (6.0 beats 7.0), throughputs from the merged timings
    assert extra["emb_lsh_1x_sec"] == 1.0 and extra["emb_lsh_4x_sec"] == 6.0
    assert extra["emb_lsh_4x_time_ratio"] == 6.0
    assert extra["scaleup_events_per_sec"] == 500
    assert extra["tablesink_load_sec"] == 0.25
    assert extra["tablesink_events_per_sec"] == 400
    assert extra["z_sec"] == 9.0  # not flagged, not re-run
    assert "scaleup_events_per_sec" in resampled and "z_sec" not in resampled


def test_rerun_keeps_the_max_of_a_throughput():
    rates = iter([{"x_per_sec": 300}, {"x_per_sec": 200}])
    legs = [_leg("rate", ["x_per_sec"], lambda p: next(rates), lambda p: next(rates))]
    with bench.LegRunner(legs) as runner:
        runner.run()
        runner.rerun({"x_per_sec"})
        assert runner.extra() == {"x_per_sec": 300}


def test_temp_dirs_are_gone_after_the_run():
    made = []

    def writes(p):
        d = p.tmpdir()
        os.makedirs(d)
        Path(d, "part-0").write_text("x")
        made.append(d)
        return {"w_sec": 1.0}

    def rewrites(p):
        assert os.path.isdir(made[0]), "re-measure lost its first-pass dir"
        return writes(p)

    def fails_after_writing(p):
        writes(p)
        raise OSError("disk")

    legs = [
        _leg("kept", ["w_sec"], writes, rewrites),
        _leg("oneshot", ["o_sec"], writes),
        _leg("failing", ["f_sec"], fails_after_writing, rewrites),
    ]
    with bench.LegRunner(legs) as runner:
        runner.run()
        # only the re-measurable leg keeps its dir past its own pass
        assert [os.path.isdir(d) for d in made] == [True, False, False]
        runner.rerun({"w_sec"})
        assert len(made) == 4
    assert made and not any(os.path.exists(d) for d in made)
