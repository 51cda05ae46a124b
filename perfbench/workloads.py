"""Workload shapes, seeded feed generation and the independent output oracle.

The oracle re-derives, with numpy alone, what the served path must deliver:
the change-op of each event, the virtual table it belongs to, the streams
it matches and the partition key each stream takes from it. It does not
call into ``outboxx_spark`` for any of that, so a defect in the program's
routing or keying shows up as missing, unexpected or wrongly keyed records.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["signup", "purchase", "click", "view", "error"])
# The converter contract the program documents (sources/feed.py), declared
# again here so the oracle does not share code with the system under test.
EVENT_OPS = np.array(["INSERT", "INSERT", "UPDATE", "READ", "DELETE"])
N_TABLES = 4
PROPS = np.array([f'{{"k": {k}}}' for k in range(100)])
TS_BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


@dataclass(frozen=True)
class Stream:
    name: str
    table: int
    ops: tuple[str, ...]  # upper-case change ops
    topic: str
    key: str  # feed column the partition key is taken from


def default_streams() -> list[Stream]:
    """The testbed's four streams (testbed.default_config): a full stream,
    an insert-only one overlapping it, insert+update, read-only; t3 has
    none, so its events must drop. About 0.55 records per event."""
    return [
        Stream("t0_full", 0, ("INSERT", "UPDATE", "DELETE", "READ"), "out.t0", "user_id"),
        Stream("t0_inserts", 0, ("INSERT",), "out.t0.inserts", "user_id"),
        Stream("t1_iu", 1, ("INSERT", "UPDATE"), "out.t1", "user_id"),
        Stream("t2_read", 2, ("READ",), "out.t2", "user_id"),
    ]


def fanout_streams() -> list[Stream]:
    """Three streams per virtual table on twelve topics, about 1.8
    records per event; the insert/update streams are keyed on ``props``,
    not ``user_id``."""
    out = []
    for t in range(N_TABLES):
        out += [
            Stream(f"t{t}_all", t, ("INSERT", "UPDATE", "DELETE", "READ"), f"fan.t{t}.all", "user_id"),
            Stream(f"t{t}_iu", t, ("INSERT", "UPDATE"), f"fan.t{t}.iu", "props"),
            Stream(f"t{t}_read", t, ("READ",), f"fan.t{t}.read", "user_id"),
        ]
    return out


def pipeline_config(streams: list[Stream]):
    """The same streams as the program's validated PipelineConfig."""
    from outboxx_spark.config import PipelineConfig, make_stream, validate

    return validate(
        PipelineConfig(
            streams=[
                make_stream(s.name, f"public.t{s.table}", [o.lower() for o in s.ops], s.topic, s.key)
                for s in streams
            ]
        )
    )


@dataclass(frozen=True)
class Workload:
    name: str
    events_per_file: int  # one file is one trigger (maxFilesPerTrigger=1)
    files_per_drain: int
    warmup_drains: int  # full drains after the one-file cold drain
    zipf: float | None  # user_id ~ Zipf(a) when set, else uniform
    streams: tuple[Stream, ...]
    order_by: str | None  # make_kafka_sink(order_by=...)


WORKLOADS = {
    w.name: w
    for w in (
        Workload("bulk_drain", 150_000, 1, 2, None, tuple(default_streams()), None),
        Workload("trickle_commit", 2_000, 4, 3, None, tuple(default_streams()), None),
        Workload("ordered_fanout_drain", 150_000, 2, 1, 1.2, tuple(fanout_streams()), "lsn"),
    )
}


@dataclass
class Feed:
    """A generated backlog: the columns the oracle needs, kept in memory."""

    event_id: np.ndarray
    user_id: np.ndarray
    type_idx: np.ndarray
    props_idx: np.ndarray
    value: np.ndarray

    @property
    def n(self) -> int:
        return len(self.event_id)


def generate_feed(w: Workload, seed: int, n: int) -> Feed:
    """``n`` seeded events with the workload's key distribution."""
    rng = np.random.default_rng(seed)
    if w.zipf is None:
        user_id = rng.integers(0, 1_000_000, n, dtype=np.int64)
    else:
        user_id = np.minimum(rng.zipf(w.zipf, n), 1_000_000).astype(np.int64)
    return Feed(
        event_id=np.arange(n, dtype=np.int64),
        user_id=user_id,
        type_idx=rng.integers(0, len(EVENT_TYPES), n),
        props_idx=rng.integers(0, len(PROPS), n),
        value=np.round(rng.random(n) * 100, 2),
    )


def write_feed(feed: Feed, sf_dir: str, events_per_file: int) -> None:
    """Write ``{sf_dir}/events.parquet/part-*.parquet`` in the testdata's
    events schema. Files get increasing modification times one second
    apart so the file source takes them in LSN order."""
    d = os.path.join(sf_dir, "events.parquet")
    os.makedirs(d)
    for i, lo in enumerate(range(0, feed.n, events_per_file)):
        sl = slice(lo, lo + events_per_file)
        t = pa.table(
            {
                "event_id": feed.event_id[sl],
                "ts": pa.array((TS_BASE_US + feed.event_id[sl] * 1000).astype("datetime64[us]")),
                "user_id": feed.user_id[sl],
                "event_type": EVENT_TYPES[feed.type_idx[sl]],
                "value": feed.value[sl],
                "props": PROPS[feed.props_idx[sl]],
            }
        )
        path = os.path.join(d, f"part-{i:05d}.parquet")
        pq.write_table(t, path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))


def expected_records(feed: Feed, streams) -> dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]]:
    """topic -> (lsn sorted, expected key, expected op) for every
    (event, matching stream) pair."""
    ops = EVENT_OPS[feed.type_idx]
    table = feed.user_id % N_TABLES
    keys = {
        "user_id": feed.user_id.astype(str),
        "props": PROPS[feed.props_idx],
    }
    out = {}
    for s in streams:
        m = (table == s.table) & np.isin(ops, s.ops)
        out[s.topic] = (feed.event_id[m], keys[s.key][m], ops[m])
    return out


_LSN_RE = re.compile(rb'"lsn":"([0-9A-F]+)/([0-9A-F]+)"')
_OP_RE = re.compile(rb'^\{"op":"([A-Z]+)"')


@dataclass
class Check:
    expected: int = 0  # (topic, lsn) pairs the feed must produce
    found: int = 0  # of those, delivered at least once
    delivered: int = 0  # records on the broker, duplicates included
    unexpected: int = 0  # records no stream should have produced
    wrong: int = 0  # records with the wrong key or op
    order_violations: int = 0

    @property
    def failed(self) -> int:
        return self.expected - self.found + self.unexpected + self.wrong + self.order_violations

    def add(self, o: "Check") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(o, k))


def verify(expected: dict, consumed: dict[str, list[dict]], ordered: bool) -> Check:
    """Compare what the broker holds with the oracle. ``consumed`` maps
    topic -> records in (partition, offset) order, as consume_all gives."""
    c = Check()
    for topic, (e_lsn, e_key, e_op) in expected.items():
        recs = consumed.get(topic, [])
        c.expected += len(e_lsn)
        c.delivered += len(recs)
        lsn = np.empty(len(recs), dtype=np.int64)
        op = []
        for i, r in enumerate(recs):
            m = _LSN_RE.search(r["value"] or b"")
            lsn[i] = (int(m.group(1), 16) << 32) | int(m.group(2), 16) if m else -1
            mo = _OP_RE.match(r["value"] or b"")
            op.append(mo.group(1).decode() if mo else "")
        key = np.array([(r["key"] or b"").decode() for r in recs], dtype=object)
        if len(e_lsn):
            idx = np.minimum(np.searchsorted(e_lsn, lsn), len(e_lsn) - 1)
            hit = e_lsn[idx] == lsn
        else:
            idx = np.zeros(len(recs), dtype=np.int64)
            hit = np.zeros(len(recs), dtype=bool)
        c.unexpected += int((~hit).sum())
        c.wrong += int(
            ((e_key[idx[hit]] != key[hit]) | (e_op[idx[hit]] != np.array(op, dtype=object)[hit])).sum()
        )
        c.found += len(np.unique(lsn[hit]))
        if ordered:
            c.order_violations += _order_violations(recs, lsn, key)
    return c


def _order_violations(recs: list[dict], lsn: np.ndarray, key: np.ndarray) -> int:
    """First deliveries of each LSN must rise per (partition, key);
    replayed duplicates after them are at-least-once waste, not disorder."""
    seen: set[int] = set()
    last: dict[tuple[int, str], int] = {}
    bad = 0
    for r, l, k in zip(recs, lsn.tolist(), key):
        if l in seen:
            continue
        seen.add(l)
        pk = (r["partition"], k)
        if l < last.get(pk, -1):
            bad += 1
        last[pk] = l
    return bad
