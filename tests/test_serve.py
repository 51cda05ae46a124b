"""The served program (``streaming/job.serve``) and its Debezium path.

The same rows through the Debezium decode and through the file feed give
parsed-equal envelopes (F1, explicit nulls included), and ``serve``
delivers Debezium JSON files into the broker stand with its listener and
``/metrics`` attached for exactly the life of its query."""

from __future__ import annotations

import json
import re
import socket
import sys
import urllib.request
from pathlib import Path

import pytest
from pyspark.sql import functions as F

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))

from kafka_broker import KafkaBroker  # noqa: E402

from outboxx_spark.pipeline import FEED_DATA_COLS, delivery_frame, routed_envelopes  # noqa: E402
from outboxx_spark.sources.debezium import debezium_feed, encode_feed_as_debezium  # noqa: E402
from outboxx_spark.sources.feed import read_feed  # noqa: E402
from outboxx_spark.streaming.job import serve  # noqa: E402
from outboxx_spark.streaming.kafka_sink import make_kafka_sink  # noqa: E402
from outboxx_spark.streaming.kafka_wire import consume_all  # noqa: E402
from outboxx_spark.testbed import default_config  # noqa: E402


def _lsn(text: str) -> int:
    hi, lo = text.split("/")
    return (int(hi, 16) << 32) | int(lo, 16)


def _delivered(frame) -> dict:
    """(destination, lsn) -> (key, parsed envelope, envelope text)."""
    rows = frame.select("destination", "lsn", "key", "value").collect()
    return {(r["destination"], r["lsn"]): (r["key"], json.loads(r["value"]), r["value"]) for r in rows}


def test_debezium_and_file_feed_give_parsed_equal_envelopes(spark, sf_dir):
    # 120 events in LSN order, READ rows among them, every eleventh
    # with a null props
    feed = (
        read_feed(spark, sf_dir)
        .withColumn("props", F.when(F.col("lsn") % 11 != 0, F.col("props")))
        .orderBy("lsn")
        .limit(120)
        .localCheckpoint()
    )
    streams = default_config().streams
    plain = _delivered(delivery_frame(feed, streams, FEED_DATA_COLS))
    dbz = _delivered(delivery_frame(debezium_feed(encode_feed_as_debezium(feed)), streams, ["data"]))

    assert plain.keys() == dbz.keys()
    assert {env["op"] for _, env, _ in plain.values()} == {"INSERT", "UPDATE", "DELETE", "READ"}
    for at, (key, env, text) in plain.items():
        dkey, denv, dtext = dbz[at]
        assert (dkey, denv["op"], denv["meta"]) == (key, env["op"], env["meta"])
        assert env["meta"]["source"] == "postgres"
        assert env["meta"]["timestamp"] < 10**10  # unix seconds, not Debezium's ms
        assert _lsn(env["meta"]["lsn"]) == at[1]
        # the Debezium row image is strings; cast back to the feed types
        data = denv["data"]
        assert {**data, "user_id": int(data["user_id"]), "value": float(data["value"])} == env["data"]
        assert '"lsn":' in text and '"lsn":' in dtext
    nulls = [at for at, (_, env, _) in plain.items() if env["data"]["props"] is None]
    assert nulls
    for at in nulls:
        assert '"props":null' in plain[at][2]
        assert '"props":null' in dbz[at][2]


def test_serve_delivers_debezium_files_to_the_broker(spark, sf_dir, tmp_path):
    cfg = default_config()
    src = str(tmp_path / "src")
    encode_feed_as_debezium(read_feed(spark, sf_dir)).repartition(2).write.text(src)
    want = {(r["destination"], r["lsn"]) for r in routed_envelopes(spark, sf_dir, cfg).collect()}
    assert {op for (op,) in read_feed(spark, sf_dir).select("op").distinct().collect()} == {
        "INSERT", "UPDATE", "DELETE", "READ",
    }

    def listeners() -> int:
        return len(spark.streams._jsqm.listListeners())

    n_listeners = listeners()
    with KafkaBroker(n_partitions=4) as broker:
        sink = make_kafka_sink(broker.host, broker.port, retry_backoff_ms=10)
        with serve(spark.readStream.text(src), cfg, str(tmp_path / "ckpt"), sink) as (query, port):
            assert listeners() == n_listeners + 1
            query.processAllAvailable()
            metrics = urllib.request.urlopen(f"http://127.0.0.1:{port}/metrics", timeout=10).read().decode()
        consumed = []
        for dest in {d for d, _ in want}:
            for m in consume_all(broker.host, broker.port, dest):
                env = json.loads(m["value"])
                assert m["key"].decode() == env["data"]["user_id"]  # R3 on the map payload
                consumed.append((dest, _lsn(env["meta"]["lsn"])))

    assert not query.isActive
    assert listeners() == n_listeners
    with pytest.raises(OSError):
        socket.create_connection(("127.0.0.1", port), timeout=2).close()
    assert len(consumed) == len(set(consumed))
    assert set(consumed) == want
    processed = re.findall(r"^outboxx_events_processed_total\{.*\} (\d+)$", metrics, re.M)
    assert sum(map(int, processed)) == len(consumed)
