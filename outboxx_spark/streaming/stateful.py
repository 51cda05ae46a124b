"""Custom stateful streaming operators (applyInPandasWithState).

``streaming_materialize`` is the streaming form of
``operators.materialize``: per (resource, key) the state holds the
winning (highest-LSN) event seen so far; each micro-batch emits a row
only when a group's winner changes — an incremental MERGE/SCD1 over the
change stream. DELETE wins emit a tombstone (op=DELETE) so downstream
can remove the row; at-least-once replays are absorbed (an event with
lsn <= state's lsn never re-emits).

Scale: state is one small row per live key, hash-partitioned by
(resource, key) — the same partitioning the updates arrive in, so the
stateful stage adds exactly one shuffle; Arrow batches keep the Python
boundary vectorized.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = (
    "resource string, key long, op string, lsn long, commit_ts long, "
    "event_type string, value double, props string"
)
STATE_SCHEMA = "lsn long, op string, commit_ts long, event_type string, value double, props string"


def _update(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
    resource, user_id = key
    best = None  # (lsn, op, commit_ts, event_type, value, props)
    if state.exists:
        best = tuple(state.get)
    prev_lsn = best[0] if best else -1
    for pdf in pdfs:
        for rec in pdf.itertuples(index=False):
            if rec.lsn is None or pd.isna(rec.lsn):
                continue  # unstamped frame can't win; never kill the query
            if best is None or int(rec.lsn) > best[0]:
                # nullable feed columns: keep None through the state tuple
                # (int()/float() on None would TypeError inside the UDF
                # and terminate the whole streaming query)
                best = (
                    int(rec.lsn),
                    rec.op,
                    None if pd.isna(rec.commit_ts) else int(rec.commit_ts),
                    rec.event_type,
                    None if pd.isna(rec.value) else float(rec.value),
                    rec.props,
                )
    if best is not None and best[0] > prev_lsn:
        state.update(best)
        yield pd.DataFrame(
            [
                {
                    "resource": resource,
                    "key": int(user_id),
                    "op": best[1],
                    "lsn": best[0],
                    "commit_ts": best[2],
                    "event_type": best[3],
                    "value": best[4],
                    "props": best[5],
                }
            ]
        )


def streaming_materialize(feed_stream: DataFrame, key: str = "user_id") -> DataFrame:
    """Change stream -> incremental per-key winners. Emits one row per
    group per micro-batch in which the winner advanced."""
    return feed_stream.groupBy("resource", key).applyInPandasWithState(
        _update,
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )
