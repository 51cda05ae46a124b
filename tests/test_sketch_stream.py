"""Streaming cardinality ledger (streaming/sketch_stream.py): a live
writeStream run converging to the batch registers, and what the
newest snapshot serves (HLL estimates, the theta overlap matrix). The
crash windows and retention of both ledgers are cases of
tests/test_epochs.py."""

from __future__ import annotations

import math
import sys
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from outboxx_spark.dataops.hll import P_BITS_BY, hll_sketch_by
from outboxx_spark.sources.tables import read_table
from outboxx_spark.streaming.sketch_stream import (
    apply_sketch_batch,
    read_cardinalities,
    read_registers,
    start_sketch_stream,
)
from test_epochs import walk_test

SF_DIR = "/root/testdata/sf0.001"


def _events(spark):
    return read_table(spark, SF_DIR, "events").filter(
        F.col("user_id").isNotNull()
    )


def _halves(spark):
    ev = _events(spark)
    mid = ev.agg(F.expr("percentile(event_id, 0.5)")).collect()[0][0]
    return ev, ev.filter(F.col("event_id") <= mid), ev.filter(
        F.col("event_id") > mid
    )


def _regs(df):
    return {(r["group"], r["bucket"], r["max_rho"]) for r in df.collect()}


def test_served_estimates_within_five_sigma(spark, tmp_path):
    ev, h1, h2 = _halves(spark)
    state = str(tmp_path / "card")
    apply_sketch_batch(h1, state, 0, "event_type", "user_id")
    apply_sketch_batch(h2, state, 1, "event_type", "user_id")
    est = {
        r["group"]: r["est"]
        for r in read_cardinalities(spark, state).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    sigma = 1.04 / math.sqrt(1 << P_BITS_BY)
    for g, n in exact.items():
        assert abs(est[g] - n) <= 5 * sigma * n, (g, n, est[g])


def test_real_stream_run_end_to_end(spark, tmp_path):
    ev = _events(spark).select("event_id", "event_type", "user_id")
    src = str(tmp_path / "src")
    mid = ev.agg(F.expr("percentile(event_id, 0.5)")).collect()[0][0]
    ev.filter(F.col("event_id") <= mid).coalesce(1).write.parquet(f"{src}/a")
    ev.filter(F.col("event_id") > mid).coalesce(1).write.parquet(f"{src}/b")
    stream = (
        spark.readStream.schema("event_id long, event_type string, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    state = str(tmp_path / "card")
    q = start_sketch_stream(
        stream, state, str(tmp_path / "ckpt"), "event_type", "user_id"
    )
    q.awaitTermination(120)
    want = _regs(hll_sketch_by(ev, "event_type", "user_id"))
    assert _regs(read_registers(spark, state)) == want


# -- theta ledger (live per-source set samples) ---------------------


def test_live_overlap_matrix_matches_batch(spark, tmp_path):
    from outboxx_spark.dataops.theta import (
        K_DEFAULT,
        _pairwise_intersections,
        theta_sketch_by,
    )
    from outboxx_spark.streaming.sketch_stream import (
        apply_theta_batch,
        read_overlap_matrix,
    )

    ev, h1, h2 = _halves(spark)
    state = str(tmp_path / "theta")
    apply_theta_batch(h1, state, 0, "event_type", "user_id")
    apply_theta_batch(h2, state, 1, "event_type", "user_id")
    per = {}
    for r in theta_sketch_by(ev, "event_type", "user_id").collect():
        per.setdefault(r["group"], []).append(r["h"])
    for hs in per.values():
        hs.sort()
    want = {
        p: est for p, (est, _) in _pairwise_intersections(per, K_DEFAULT).items()
    }
    assert read_overlap_matrix(spark, state) == want


# the crash walk in tests/test_epochs.py asserts these windows
test_two_epochs_fold_to_the_batch_registers = test_replay_of_committed_epoch_is_a_noop = \
    test_torn_generation_falls_back_then_recommits = test_gc_retains_two_newest_generations = \
    test_reader_refuses_empty_state = walk_test("hll")
test_theta_epochs_fold_to_the_batch_sketch = test_theta_replay_and_torn_gen = walk_test("theta")
