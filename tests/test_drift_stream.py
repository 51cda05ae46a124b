"""Streaming schema-drift monitor (streaming/drift_stream.py):
convergence with the batch audit. Its crash windows and generation
pruning are cases of tests/test_epochs.py."""

from __future__ import annotations

import pytest

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from outboxx_spark.operators.drift import schema_drift_report
from outboxx_spark.streaming.drift_stream import read_drift_report, start_drift_stream
from test_epochs import walk_test

FEED_SCHEMA = "resource string, lsn long, props string"

# key 'legacy' exists only early on t0; key 'v2' appears late; 'k' stable
PART_A = [
    ("t0", 1, '{"k": 1, "legacy": 1}'),
    ("t0", 2, '{"k": 2, "legacy": 1}'),
    ("t1", 3, '{"k": 3}'),
]
PART_B = [
    ("t0", 4, '{"k": 4}'),
    ("t1", 5, '{"k": 5}'),
    ("t0", 6, "not json"),  # transport row: counts for bounds only
]
PART_C = [
    ("t0", 7, '{"k": 7, "v2": 1}'),
    ("t1", 8, '{"k": 8, "v2": 1}'),
]


def _df(spark, rows):
    return spark.createDataFrame(rows, FEED_SCHEMA)


def _report(df):
    return {
        (r["resource"], r["key"]): (
            r["n_events"],
            r["first_lsn"],
            r["last_lsn"],
            r["added"],
            r["dropped"],
        )
        for r in df.collect()
    }


@pytest.mark.slow
def test_stream_converges_to_batch_audit(spark, tmp_path):
    src, state, ckpt = (str(tmp_path / d) for d in ("src", "state", "ckpt"))
    for rows in (PART_A, PART_B, PART_C):
        _df(spark, rows).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(FEED_SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = start_drift_stream(stream, state, ckpt)
    q.awaitTermination(180)

    streamed = _report(read_drift_report(spark, state))
    batch = _report(schema_drift_report(_df(spark, PART_A + PART_B + PART_C)))
    assert streamed == batch
    # and the hand model: legacy dropped, v2 added, k stable on both
    assert streamed[("t0", "legacy")] == (2, 1, 2, False, True)
    assert streamed[("t0", "v2")] == (1, 7, 7, True, False)
    assert streamed[("t0", "k")][3:] == (False, False)
    assert streamed[("t1", "v2")][3:] == (True, False)


# the crash walk in tests/test_epochs.py asserts these windows
test_replayed_epoch_is_a_noop = test_pruning_keeps_retain_and_serving_is_unaffected = \
    walk_test("drift")
