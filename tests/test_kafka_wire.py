"""Kafka wire stand: the K1 sink layer EXECUTED against a live broker
speaking the real Apache Kafka TCP protocol (streaming/kafka_wire.py +
tools/kafka_broker.py), mirroring the reference's two proof layers:

- producer semantics against a mock cluster
  (`src/sink/kafka/producer.zig:431-502`): delivery-failure counting,
  bounded retries, flush-confirms-delivery;
- black-box e2e (`src/e2e/cdc_test.zig:25-441`): feed in -> consume the
  topic from the beginning -> parse JSON -> assert no dup/loss and
  field values, per operation.
"""

from __future__ import annotations

import json
import sys
from collections import defaultdict
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from kafka_broker import KafkaBroker  # noqa: E402

from outboxx_spark.streaming.kafka_wire import (  # noqa: E402
    DeliveryError,
    KafkaConnection,
    KafkaWireError,
    WireProducer,
    consume_all,
    decode_message_set,
    encode_message_set,
    murmur2,
    partition_for,
)


@pytest.fixture()
def broker():
    with KafkaBroker(n_partitions=4) as b:
        yield b


# ---------------------------------------------------------------------------
# protocol units (no broker)
# ---------------------------------------------------------------------------


def test_message_set_roundtrip_and_crc():
    msgs = [(b"k1", b"v1", 111), (None, b"v2", 222), (b"k3", None, 333)]
    data = encode_message_set(msgs)
    out = decode_message_set(data)
    assert [(m["key"], m["value"], m["timestamp_ms"]) for m in out] == msgs
    # flip one payload byte -> CRC failure must be DETECTED, not decoded
    corrupted = bytearray(data)
    corrupted[-1] ^= 0xFF
    with pytest.raises(Exception, match="CRC"):
        decode_message_set(bytes(corrupted))
    # a partial trailing message is ignored per protocol (broker cuts
    # at max_bytes mid-message)
    assert len(decode_message_set(data[:-3])) == 2


def test_murmur2_partitioner_properties():
    # deterministic, 32-bit, sign-cleared partition in range — and
    # pinned values so a refactor can't silently move every key to a
    # different partition (which would break consumer-side ordering
    # assumptions across an engine upgrade)
    assert murmur2(b"") == murmur2(b"")
    vals = {k: murmur2(k) for k in (b"1", b"2", b"42", b"user_7", b"x" * 17)}
    assert all(0 <= v <= 0xFFFFFFFF for v in vals.values())
    assert len(set(vals.values())) == len(vals)
    for k, v in vals.items():
        assert partition_for(k, 16) == (v & 0x7FFFFFFF) % 16
    # distribution smoke: 1000 int-string keys over 8 partitions, no
    # partition starves (a broken hash collapses to few buckets)
    counts = defaultdict(int)
    for i in range(1000):
        counts[partition_for(str(i).encode(), 8)] += 1
    assert len(counts) == 8 and min(counts.values()) > 50


# ---------------------------------------------------------------------------
# broker + client integration (real TCP)
# ---------------------------------------------------------------------------


def test_produce_fetch_roundtrip_with_offsets(broker):
    p = WireProducer(broker.host, broker.port)
    for i in range(500):
        p.send("e2e.t", str(i % 19).encode(), json.dumps({"i": i}).encode())
    p.flush()
    assert p.sent == 500 and p.delivery_errors == 0
    msgs = consume_all(broker.host, broker.port, "e2e.t")
    assert len(msgs) == 500
    got = sorted(json.loads(m["value"])["i"] for m in msgs)
    assert got == list(range(500))
    # murmur2 placement: every record sits exactly where the default
    # partitioner puts its key
    assert all(m["partition"] == partition_for(m["key"], 4) for m in msgs)
    # per-partition offsets are gapless from zero
    offs = defaultdict(list)
    for m in msgs:
        offs[m["partition"]].append(m["offset"])
    for v in offs.values():
        assert v == list(range(len(v)))


def test_api_versions_and_metadata(broker):
    conn = KafkaConnection(broker.host, broker.port)
    try:
        versions = conn.api_versions()
        assert versions[0] == (0, 2) and versions[1] == (0, 2)
        md = conn.metadata(["newtopic"])
        assert len(md["topics"]["newtopic"]["partitions"]) == 4
        assert md["brokers"]
    finally:
        conn.close()


def test_retriable_errors_are_retried_then_delivered(broker):
    # 2 injected REQUEST_TIMED_OUT < retries=3 -> the batch lands,
    # no delivery error counted (producer.zig retry config semantics)
    broker.fail_next_produces(2)
    p = WireProducer(broker.host, broker.port, retry_backoff_ms=10)
    p.send("retry.t", b"k", b"v", n_partitions=4)
    p.flush()
    assert p.delivery_errors == 0
    assert broker.record_count("retry.t") == 1
    assert broker.produce_requests >= 3  # 2 failures + 1 success


def test_retry_exhaustion_fails_fast(broker):
    # more failures than retries -> DeliveryError raised AND counted:
    # flush must not return cleanly when the queue drained undelivered
    # (K3: a drained queue is not a delivered queue; K6: fail fast)
    broker.fail_next_produces(10)
    p = WireProducer(broker.host, broker.port, retries=2, retry_backoff_ms=10)
    p.send("dead.t", b"k", b"v", n_partitions=4)
    with pytest.raises(DeliveryError):
        p.flush()
    assert p.delivery_errors == 1
    assert broker.record_count("dead.t") == 0


def test_corrupt_message_set_rejected(broker):
    # hand-corrupt the CRC and produce raw: the broker must answer
    # CORRUPT_MESSAGE and store nothing — the delivery-report error
    # path the reference counts (`producer.zig:49-60`)
    conn = KafkaConnection(broker.host, broker.port)
    try:
        conn.metadata(["crc.t"])
        data = bytearray(encode_message_set([(b"k", b"v", 1)]))
        data[-1] ^= 0xFF
        res = conn.produce("crc.t", 0, bytes(data))
        assert res["error"] == 2  # CORRUPT_MESSAGE
        assert broker.record_count("crc.t") == 0
    finally:
        conn.close()


def test_send_buffer_overflow_flushes_inline(broker):
    # K2 queue-full-is-backpressure: crossing batch_max_messages inside
    # send() flushes instead of erroring or growing unboundedly
    p = WireProducer(broker.host, broker.port, batch_max_messages=100)
    for i in range(250):
        p.send("bp.t", str(i).encode(), b"x", n_partitions=4)
    # two inline flushes dispatched; with in-flight=1 pipelining the
    # SECOND may still be unconfirmed here, but the first must be
    # (its responses were drained before dispatching the second)
    assert p.sent >= 100
    assert len(p._pending) <= 1  # never more than one flush in flight
    p.flush()
    assert p.sent == 250  # explicit flush confirms everything (K3)
    assert broker.record_count("bp.t") == 250


# ---------------------------------------------------------------------------
# e2e: CDC pipeline -> live broker -> consume back -> gap check
# ---------------------------------------------------------------------------


def test_cdc_pipeline_to_live_broker_no_gap_no_dup(spark, sf_dir, tmp_path, broker):
    """The `src/e2e/cdc_test.zig` contract executed for real: run the
    streaming CDC job with the wire-producer sink, consume every topic
    from the beginning, parse the JSON envelopes, and assert (1) the
    delivered (destination, lsn) multiset EXACTLY matches the routing
    oracle — no gap, no dup on the clean path, (2) envelope fields
    round-trip, (3) records are key-partitioned by murmur2."""
    from outboxx_spark.pipeline import routed_envelopes
    from outboxx_spark.streaming.job import start_stream
    from outboxx_spark.streaming.kafka_sink import make_kafka_sink
    from outboxx_spark.testbed import default_config

    cfg = default_config()
    q = start_stream(
        spark,
        sf_dir,
        cfg,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        max_files_per_trigger=10,
        sink_fn=make_kafka_sink(broker.host, broker.port, retry_backoff_ms=10),
    )
    q.awaitTermination(300)

    expected = routed_envelopes(spark, sf_dir, cfg)
    exp_rows = expected.select("destination", "lsn", "op").collect()
    want = defaultdict(set)
    for r in exp_rows:
        want[r["destination"]].add(r["lsn"])
    assert want, "routing oracle produced nothing — bad fixture"

    total = 0
    for dest, want_lsns in want.items():
        msgs = consume_all(broker.host, broker.port, dest)
        got_lsns = []
        for m in msgs:
            env = json.loads(m["value"])
            # envelope contract (F1): op/data/meta with meta.lsn in
            # Postgres text form
            assert set(env) == {"op", "data", "meta"}
            assert env["meta"]["source"] == "postgres"
            hi, lo = env["meta"]["lsn"].split("/")
            got_lsns.append((int(hi, 16) << 32) | int(lo, 16))
            # R3: the Kafka key is the routing-key column's value
            assert m["key"] is not None
            assert m["key"].decode() == str(env["data"]["user_id"])
            # placement matches the default partitioner
            assert m["partition"] == partition_for(m["key"], 4)
        assert len(got_lsns) == len(set(got_lsns)), f"{dest}: duplicates"
        assert set(got_lsns) == want_lsns, (
            f"{dest}: missing={len(want_lsns - set(got_lsns))} "
            f"unexpected={len(set(got_lsns) - want_lsns)}"
        )
        total += len(got_lsns)
    assert total == len(exp_rows)


def test_cdc_replay_after_mid_stream_failure_is_gapless(spark, sf_dir, tmp_path, broker):
    """K6/O2: delivery failure -> the micro-batch fails BEFORE its
    offsets commit -> a restarted query replays it. The topic may carry
    duplicates (at-least-once) but the LSN SET must be complete."""
    from outboxx_spark.pipeline import routed_envelopes
    from outboxx_spark.streaming.job import start_stream
    from outboxx_spark.streaming.kafka_sink import make_kafka_sink
    from outboxx_spark.testbed import default_config

    cfg = default_config()
    sink = make_kafka_sink(broker.host, broker.port, retries=1, retry_backoff_ms=10)
    # enough injected failures to exhaust retries in some task mid-run
    broker.fail_next_produces(6)
    q = start_stream(
        spark, sf_dir, cfg,
        str(tmp_path / "out"), str(tmp_path / "ckpt"),
        max_files_per_trigger=2, sink_fn=sink,
    )
    failed = False
    try:
        q.awaitTermination(300)
    except Exception:
        failed = True
    if not failed:
        # all injections may have been absorbed by retries within one
        # task; force the interesting path only when a failure happened
        pytest.skip("injected failures were absorbed by retries")

    # restart from the same checkpoint, broker healthy (clear any
    # injections the failed run did not consume) -> replay fills
    broker.fail_next_produces(0)
    q2 = start_stream(
        spark, sf_dir, cfg,
        str(tmp_path / "out"), str(tmp_path / "ckpt"),
        max_files_per_trigger=2,
        sink_fn=make_kafka_sink(broker.host, broker.port, retry_backoff_ms=10),
    )
    q2.awaitTermination(300)

    expected = routed_envelopes(spark, sf_dir, cfg)
    for row in expected.select("destination").distinct().collect():
        dest = row["destination"]
        want = {
            r["lsn"]
            for r in expected.filter(expected.destination == dest)
            .select("lsn")
            .collect()
        }
        got = set()
        for m in consume_all(broker.host, broker.port, dest):
            env = json.loads(m["value"])
            hi, lo = env["meta"]["lsn"].split("/")
            got.add((int(hi, 16) << 32) | int(lo, 16))
        assert want <= got, f"{dest}: gap after replay ({len(want - got)} missing)"


# ---------------------------------------------------------------------------
# multi-broker cluster: leadership spread, NotLeader reroute, broker
# death (r10 verdict K1 tail; the mock-CLUSTER role of
# `producer.zig:431-502`)
# ---------------------------------------------------------------------------

from kafka_broker import KafkaCluster  # noqa: E402


@pytest.fixture()
def cluster():
    with KafkaCluster(n_brokers=3, n_partitions=6) as c:
        yield c


def test_cluster_spreads_leadership_and_routes_to_leaders(cluster):
    b0 = cluster.brokers[0]
    p = WireProducer(b0.host, b0.port, bootstrap=cluster.bootstrap())
    for i in range(600):
        p.send("clu.t", str(i).encode(), json.dumps({"i": i}).encode())
    p.flush()
    assert p.sent == 600 and p.delivery_errors == 0
    # leadership is round-robin over 6 partitions x 3 brokers: every
    # broker led two partitions, so every broker must have taken
    # produce traffic — the client routed by metadata, not bootstrap
    assert all(b.produce_requests > 0 for b in cluster.brokers)
    msgs = consume_all(b0.host, b0.port, "clu.t")
    seen = sorted(json.loads(m["value"])["i"] for m in msgs)
    assert seen == list(range(600))  # no loss, no dups
    # placement matches the default partitioner on every record
    for m in msgs:
        assert m["partition"] == partition_for(m["key"], 6)


def test_mid_stream_leadership_move_loses_nothing(cluster):
    b0 = cluster.brokers[0]
    p = WireProducer(
        b0.host, b0.port, bootstrap=cluster.bootstrap(), retry_backoff_ms=10
    )
    for i in range(300):
        p.send("move.t", str(i).encode(), json.dumps({"i": i}).encode())
    p.flush()
    # rotate EVERY partition's leadership one broker over; the
    # client's routes are now all stale
    for pid in range(6):
        old = cluster.leader_of("move.t", pid)
        cluster.move_leader("move.t", pid, (old + 1) % 3)
    for i in range(300, 600):
        p.send("move.t", str(i).encode(), json.dumps({"i": i}).encode())
    p.flush()
    # the stale routes were refused with NOT_LEADER (6) and recovered
    # via metadata refresh — delivery_errors counts only EXHAUSTED
    # batches, which must be zero
    assert p.delivery_errors == 0
    assert p.metadata_refreshes >= 2  # initial + post-move relearn
    msgs = consume_all(b0.host, b0.port, "move.t")
    seen = sorted(json.loads(m["value"])["i"] for m in msgs)
    assert seen == list(range(600))  # gap-free across the move


def test_leader_death_mid_stream_recovers_through_other_brokers(cluster):
    # harder than a move: the old leader VANISHES (connections refused)
    # after leadership is reassigned — the client must walk its
    # endpoint list to re-learn routes, then deliver everything.
    b1 = cluster.brokers[1]
    p = WireProducer(
        b1.host, b1.port, bootstrap=cluster.bootstrap(), retry_backoff_ms=10
    )
    for i in range(200):
        p.send("death.t", str(i).encode(), json.dumps({"i": i}).encode())
    p.flush()
    # move broker 0's partitions to broker 1, then kill broker 0
    for pid in range(6):
        if cluster.leader_of("death.t", pid) == 0:
            cluster.move_leader("death.t", pid, 1)
    cluster.stop_broker(0)
    for i in range(200, 400):
        p.send("death.t", str(i).encode(), json.dumps({"i": i}).encode())
    p.flush()
    assert p.delivery_errors == 0
    msgs = consume_all(b1.host, b1.port, "death.t")
    seen = sorted(json.loads(m["value"])["i"] for m in msgs)
    assert seen == list(range(400))


def test_leader_killed_without_prior_move_recovers(cluster):
    # kill-first (no move_leader beforehand): stop_broker itself must
    # reassign the dead node's partitions and stop advertising it, so
    # the client recovers in one refresh instead of burning its whole
    # retry budget against a dead advertised leader (r11 advice)
    b1 = cluster.brokers[1]
    p = WireProducer(
        b1.host, b1.port, bootstrap=cluster.bootstrap(), retry_backoff_ms=10
    )
    for i in range(200):
        p.send("kill.t", str(i).encode(), json.dumps({"i": i}).encode())
    p.flush()
    cluster.stop_broker(0)
    assert 0 not in cluster.broker_addresses()
    assert all(
        cluster.leader_of("kill.t", pid) != 0 for pid in range(6)
    )
    for i in range(200, 400):
        p.send("kill.t", str(i).encode(), json.dumps({"i": i}).encode())
    p.flush()
    assert p.delivery_errors == 0
    msgs = consume_all(b1.host, b1.port, "kill.t")
    seen = sorted(json.loads(m["value"])["i"] for m in msgs)
    assert seen == list(range(400))


def test_metadata_refresh_drains_pipelined_produce_first(broker):
    # interleave hazard: an inline overflow flush can leave a Produce
    # response unread on the SHARED metadata connection (fallback
    # route, in-flight=1 pipelining); a subsequent send() needing a
    # metadata refresh must confirm that dispatch BEFORE issuing the
    # synchronous metadata request on the same connection, or it would
    # read the produce response as its own (correlation mismatch).
    # Force the fallback route: a known leader id that maps to no
    # known broker makes _route_node return None.
    p = WireProducer(broker.host, broker.port, batch_max_messages=10)
    p._npart["pipe.a"] = 4
    for pid in range(4):
        p._leaders[("pipe.a", pid)] = 99  # node 99 unknown -> fallback
    for i in range(10):  # crosses the cap -> dispatch without drain
        p.send("pipe.a", str(i).encode(), b"x")
    assert len(p._pending) == 1
    assert p._pending[0][1] is p._conn  # pending on the shared conn
    p.send("pipe.b", b"k", b"v")  # unknown topic -> metadata refresh
    p.flush()
    assert p.sent == 11 and p.delivery_errors == 0
    assert broker.record_count("pipe.a") == 10
    assert broker.record_count("pipe.b") == 1


def test_pipelined_dispatch_respects_zero_retry_budget(broker):
    # r12 advice finding: the failed pipelined dispatch counts as
    # attempt 1 against the budget, so a retries=0 producer must fail
    # at drain WITHOUT another produce attempt. Before the fix the
    # drain path's retry loop always produced once before checking the
    # budget — here that free attempt would SUCCEED (only one failure
    # is injected) and flush would return cleanly, silently granting a
    # retry the configuration forbade.
    broker.fail_next_produces(1)
    p = WireProducer(
        broker.host, broker.port, retries=0, retry_backoff_ms=10,
        batch_max_messages=5,
    )
    for i in range(6):  # overflow -> inline pipelined dispatch of batch 1
        p.send("zerobudget.t", b"k", str(i).encode(), n_partitions=4)
    with pytest.raises(DeliveryError):
        p.flush()
    assert p.delivery_errors == 1
    # the failed 5-record batch must not have been re-produced
    assert broker.record_count("zerobudget.t") < 6


def test_retry_under_pipelining_preserves_order(broker):
    # the in-flight=1 ordering proof: the first (pipelined, inline)
    # dispatch fails retriably; its retry must confirm BEFORE the
    # flush dispatches the second batch, so the consumer still reads
    # one key's records in send order with zero inversions
    broker.fail_next_produces(1)
    p = WireProducer(
        broker.host, broker.port, batch_max_messages=50, retry_backoff_ms=10
    )
    for i in range(100):
        p.send("ordretry.t", b"k", str(i).encode(), n_partitions=4)
    p.flush()
    assert p.delivery_errors == 0 and p.sent == 100
    msgs = consume_all(broker.host, broker.port, "ordretry.t")
    vals = [
        int(m["value"])
        for m in sorted(msgs, key=lambda m: (m["partition"], m["offset"]))
    ]
    assert vals == list(range(100))


def test_rotate_all_leaders_skips_dead_brokers(cluster):
    # a rotation after a broker death must never hand leadership to
    # the dead node (r12 review: the shared helper used modulo over
    # ALL brokers, resurrecting the advertised-dead-leader hazard)
    p = WireProducer(
        cluster.brokers[1].host, cluster.brokers[1].port,
        bootstrap=cluster.bootstrap(), retry_backoff_ms=10,
    )
    for i in range(100):
        p.send("rot.t", str(i).encode(), json.dumps({"i": i}).encode())
    p.flush()
    cluster.stop_broker(0)
    moves, landed = cluster.rotate_all_leaders(min_new_records=0, deadline_s=5)
    assert moves > 0 and landed is not None
    assert all(
        cluster.leader_of("rot.t", pid) != 0 for pid in range(6)
    )
    for i in range(100, 200):
        p.send("rot.t", str(i).encode(), json.dumps({"i": i}).encode())
    p.flush()
    assert p.delivery_errors == 0
    msgs = consume_all(cluster.brokers[1].host, cluster.brokers[1].port, "rot.t")
    assert sorted(json.loads(m["value"])["i"] for m in msgs) == list(range(200))
    p.close()


def test_topic_absent_from_metadata_raises(broker):
    # a refresh that succeeds but omits the topic must surface, not
    # silently route everything to partition 0 (r11 advice)
    p = WireProducer(broker.host, broker.port)
    p._refresh_metadata = lambda t: None  # refresh "succeeds", learns nothing
    with pytest.raises(KafkaWireError, match="absent from metadata"):
        p.send("ghost.t", b"k", b"v")


# ---------------------------------------------------------------------------
# TLS: the V4 security axes EXECUTED over a real handshake
# ---------------------------------------------------------------------------


def test_tls_produce_consume_via_security_options(tmp_path):
    """The reference ships a live TLS Kafka dev stand
    (`dev/kafka-tls/`, `src/config/config.zig:37-94`); this executes
    the same axis in-sandbox: self-signed broker cert, client CA
    verification, and the SAME validated config
    (`kafka_security_options`) driving the wire client that drives the
    production connector."""
    cryptography = pytest.importorskip("cryptography")  # noqa: F841
    from tls_cert import generate_self_signed

    from outboxx_spark.config import KafkaSinkConfig, kafka_security_options
    from outboxx_spark.streaming.kafka_wire import wire_security_kwargs

    cert, key = generate_self_signed(tmp_path)
    with KafkaBroker(n_partitions=4, certfile=cert, keyfile=key) as b:
        opts = kafka_security_options(
            KafkaSinkConfig(
                (f"{b.host}:{b.port}",), tls=True, tls_ca_location=cert
            )
        )
        assert opts["kafka.security.protocol"] == "SSL"
        kwargs = wire_security_kwargs(opts)
        assert kwargs == {"tls_ca": cert, "sasl": None}
        p = WireProducer(b.host, b.port, **kwargs)
        for i in range(500):
            p.send("tls.t", str(i % 13).encode(), json.dumps({"i": i}).encode())
        p.flush()
        assert p.sent == 500 and p.delivery_errors == 0
        p.close()
        msgs = consume_all(b.host, b.port, "tls.t", tls_ca=cert)
        assert sorted(json.loads(m["value"])["i"] for m in msgs) == list(
            range(500)
        )
        # placement identical to the PLAINTEXT path
        assert all(
            m["partition"] == partition_for(m["key"], 4) for m in msgs
        )


def test_tls_client_rejects_unknown_ca(tmp_path):
    pytest.importorskip("cryptography")
    from tls_cert import generate_self_signed

    cert, key = generate_self_signed(tmp_path / "broker")
    other_ca, _ = generate_self_signed(tmp_path / "other")
    with KafkaBroker(n_partitions=4, certfile=cert, keyfile=key) as b:
        # wrong CA: handshake must fail closed, surfacing as the
        # no-reachable-broker error after the endpoint walk
        p = WireProducer(b.host, b.port, tls_ca=other_ca)
        with pytest.raises((KafkaWireError, OSError)):
            p.send("tls.bad", b"k", b"v")
        # plaintext client against a TLS listener also fails closed
        p2 = WireProducer(b.host, b.port, retries=0, retry_backoff_ms=10)
        with pytest.raises((KafkaWireError, OSError, DeliveryError)):
            p2.send("tls.bad", b"k", b"v", n_partitions=4)
            p2.flush()


def test_sasl_plain_produce_consume_via_security_options(monkeypatch):
    """SASL_PLAINTEXT executed end-to-end: the validated config renders
    the JAAS line, wire_security_kwargs recovers the credentials, and
    the wire client runs SaslHandshake + SaslAuthenticate (RFC 4616
    PLAIN) against the broker stand before any produce."""
    from outboxx_spark.config import (
        KafkaSasl,
        KafkaSinkConfig,
        kafka_security_options,
    )
    from outboxx_spark.streaming.kafka_wire import wire_security_kwargs

    monkeypatch.setenv("KAFKA_PW", "s3cret")
    with KafkaBroker(
        n_partitions=4, sasl_users={"alice": "s3cret"}
    ) as b:
        opts = kafka_security_options(
            KafkaSinkConfig(
                (f"{b.host}:{b.port}",),
                tls=False,
                sasl=KafkaSasl("PLAIN", "alice", "KAFKA_PW"),
            )
        )
        assert opts["kafka.security.protocol"] == "SASL_PLAINTEXT"
        kwargs = wire_security_kwargs(opts)
        assert kwargs["sasl"] == ("PLAIN", "alice", "s3cret")
        p = WireProducer(b.host, b.port, **kwargs)
        for i in range(300):
            p.send("sasl.t", str(i % 7).encode(), json.dumps({"i": i}).encode())
        p.flush()
        assert p.sent == 300 and p.delivery_errors == 0
        p.close()
        msgs = consume_all(b.host, b.port, "sasl.t", sasl=kwargs["sasl"])
        assert sorted(json.loads(m["value"])["i"] for m in msgs) == list(
            range(300)
        )


@pytest.mark.parametrize("mech", ["SCRAM-SHA-256", "SCRAM-SHA-512"])
def test_sasl_scram_mutual_auth_produce_consume(mech):
    # the full RFC 5802 exchange: client proves the password via the
    # proof, broker proves it holds the server key via the server
    # signature (the client raises on a mismatch — mutual auth)
    # '=' and ',' in the username exercise RFC 5802 saslname escaping
    users = {"sv=c,x": "hunter2"}
    with KafkaBroker(n_partitions=4, sasl_users=users) as b:
        sasl = (mech, "sv=c,x", "hunter2")
        p = WireProducer(b.host, b.port, sasl=sasl)
        for i in range(100):
            p.send("scram.t", str(i).encode(), b"v", n_partitions=4)
        p.flush()
        assert p.sent == 100 and p.delivery_errors == 0
        p.close()
        assert len(consume_all(b.host, b.port, "scram.t", sasl=sasl)) == 100


def test_sasl_wrong_password_and_unauthenticated_fail_closed(tmp_path):
    with KafkaBroker(n_partitions=4, sasl_users={"alice": "right"}) as b:
        for mech in ("PLAIN", "SCRAM-SHA-512"):
            with pytest.raises(KafkaWireError):
                KafkaConnection(b.host, b.port, sasl=(mech, "alice", "wrong"))
        # no credentials at all: the first non-SASL API drops the
        # connection (real-broker behavior), surfacing as an error
        p = WireProducer(b.host, b.port, retries=0, retry_backoff_ms=10)
        with pytest.raises((KafkaWireError, DeliveryError, OSError)):
            p.send("locked.t", b"k", b"v", n_partitions=4)
            p.flush()
        assert b.record_count("locked.t") == 0


def test_sasl_ssl_combined_via_security_options(tmp_path, monkeypatch):
    """SASL_SSL: TLS wrap first, SCRAM inside the encrypted channel —
    the fourth and last tls x sasl combination, executed."""
    pytest.importorskip("cryptography")
    from tls_cert import generate_self_signed

    from outboxx_spark.config import (
        KafkaSasl,
        KafkaSinkConfig,
        kafka_security_options,
    )
    from outboxx_spark.streaming.kafka_wire import wire_security_kwargs

    cert, key = generate_self_signed(tmp_path)
    monkeypatch.setenv("KAFKA_PW", "tls+scram")
    with KafkaBroker(
        n_partitions=4, certfile=cert, keyfile=key,
        sasl_users={"svc": "tls+scram"},
    ) as b:
        opts = kafka_security_options(
            KafkaSinkConfig(
                (f"{b.host}:{b.port}",),
                tls=True,
                tls_ca_location=cert,
                sasl=KafkaSasl("SCRAM-SHA-512", "svc", "KAFKA_PW"),
            )
        )
        assert opts["kafka.security.protocol"] == "SASL_SSL"
        kwargs = wire_security_kwargs(opts)
        assert kwargs["tls_ca"] == cert
        assert kwargs["sasl"] == ("SCRAM-SHA-512", "svc", "tls+scram")
        p = WireProducer(b.host, b.port, **kwargs)
        for i in range(200):
            p.send("both.t", str(i).encode(), json.dumps({"i": i}).encode())
        p.flush()
        assert p.sent == 200 and p.delivery_errors == 0
        p.close()
        msgs = consume_all(b.host, b.port, "both.t", tls_ca=cert, sasl=kwargs["sasl"])
        assert sorted(json.loads(m["value"])["i"] for m in msgs) == list(range(200))


def test_cdc_pipeline_through_sasl_ssl_broker_gap_free(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The full streaming CDC job delivering through a SASL_SSL broker
    — executor-side producers each run the TLS handshake AND the SCRAM
    exchange before producing, driven by the SAME validated connector
    options. The delivered LSN set must exactly match the routing
    oracle: securing the channel must not cost a record."""
    pytest.importorskip("cryptography")
    from tls_cert import generate_self_signed

    from outboxx_spark.config import (
        KafkaSasl,
        KafkaSinkConfig,
        kafka_security_options,
    )
    from outboxx_spark.pipeline import routed_envelopes
    from outboxx_spark.streaming.job import start_stream
    from outboxx_spark.streaming.kafka_sink import make_kafka_sink
    from outboxx_spark.streaming.kafka_wire import wire_security_kwargs
    from outboxx_spark.testbed import default_config

    cert, key = generate_self_signed(tmp_path)
    monkeypatch.setenv("KAFKA_PW", "pipe-secret")
    with KafkaBroker(
        n_partitions=4, certfile=cert, keyfile=key,
        sasl_users={"cdc": "pipe-secret"},
    ) as b:
        sec = wire_security_kwargs(
            kafka_security_options(
                KafkaSinkConfig(
                    (f"{b.host}:{b.port}",),
                    tls=True,
                    tls_ca_location=cert,
                    sasl=KafkaSasl("SCRAM-SHA-256", "cdc", "KAFKA_PW"),
                )
            )
        )
        cfg = default_config()
        q = start_stream(
            spark,
            sf_dir,
            cfg,
            str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
            max_files_per_trigger=10,
            sink_fn=make_kafka_sink(
                b.host, b.port, retry_backoff_ms=10, **sec
            ),
        )
        q.awaitTermination(300)

        expected = routed_envelopes(spark, sf_dir, cfg)
        want = defaultdict(set)
        for r in expected.select("destination", "lsn").collect():
            want[r["destination"]].add(r["lsn"])
        assert want
        for dest, want_lsns in want.items():
            msgs = consume_all(
                b.host, b.port, dest, tls_ca=sec["tls_ca"], sasl=sec["sasl"]
            )
            got = [
                (int(h, 16) << 32) | int(lo, 16)
                for h, lo in (
                    json.loads(m["value"])["meta"]["lsn"].split("/")
                    for m in msgs
                )
            ]
            assert len(got) == len(set(got)), f"{dest}: duplicates"
            assert set(got) == want_lsns, f"{dest}: gap through secured sink"


def test_jaas_quotes_and_backslashes_roundtrip(monkeypatch):
    # an env password with quotes/backslashes must survive the
    # render->parse roundtrip (r12 review: the unescaped render
    # silently truncated it into wrong credentials) — and authenticate
    from outboxx_spark.config import (
        KafkaSasl,
        KafkaSinkConfig,
        kafka_security_options,
    )
    from outboxx_spark.streaming.kafka_wire import wire_security_kwargs

    tricky = 'pa"ss\\wo"rd'
    monkeypatch.setenv("KAFKA_PW", tricky)
    with KafkaBroker(n_partitions=4, sasl_users={"q": tricky}) as b:
        opts = kafka_security_options(
            KafkaSinkConfig(
                (f"{b.host}:{b.port}",),
                tls=False,
                sasl=KafkaSasl("SCRAM-SHA-256", "q", "KAFKA_PW"),
            )
        )
        kwargs = wire_security_kwargs(opts)
        assert kwargs["sasl"] == ("SCRAM-SHA-256", "q", tricky)
        p = WireProducer(b.host, b.port, **kwargs)
        p.send("jaas.t", b"k", b"v", n_partitions=4)
        p.flush()
        assert p.sent == 1 and p.delivery_errors == 0
        p.close()


def test_per_key_order_preserved_with_order_by(spark, broker):
    """The per-key ORDERING contract (reference: a single process
    produces in WAL order): with order_by, a hot key scattered over 16
    upstream partitions with shuffled arrival still reaches the
    consumer in monotone lsn order — all of a key's records flow
    through one producer task, sorted, with in-flight=1 below."""
    from pyspark.sql import functions as F

    from outboxx_spark.streaming.kafka_sink import make_kafka_sink

    df = (
        spark.range(2000)
        .select(
            F.lit("ord.t").alias("destination"),
            (F.col("id") % 5).cast("string").alias("key"),
            F.col("id").cast("string").alias("value"),
            F.col("id").alias("lsn"),
        )
        .repartition(16)  # scatter every key across many partitions
    )
    sink = make_kafka_sink(broker.host, broker.port, order_by="lsn")
    sink(df, 0)
    msgs = consume_all(broker.host, broker.port, "ord.t")
    per_key = defaultdict(list)
    for m in sorted(msgs, key=lambda m: (m["partition"], m["offset"])):
        per_key[(m["partition"], m["key"])].append(int(m["value"]))
    assert sum(len(v) for v in per_key.values()) == 2000
    for (pid, key), seq in per_key.items():
        assert seq == sorted(seq), f"key {key} out of order in p{pid}"
    # every key's records sit in exactly ONE kafka partition (murmur2)
    keys_per_partition = defaultdict(set)
    for pid, key in per_key:
        keys_per_partition[key].add(pid)
    assert all(len(ps) == 1 for ps in keys_per_partition.values())


def test_sasl_unknown_mechanism_is_connector_only():
    from outboxx_spark.streaming.kafka_wire import wire_security_kwargs

    with pytest.raises(KafkaWireError, match="connector-only"):
        wire_security_kwargs(
            {
                "kafka.security.protocol": "SASL_PLAINTEXT",
                "kafka.sasl.mechanism": "GSSAPI",
                "kafka.sasl.jaas.config": 'x username="a" password="b";',
            }
        )


def test_single_broker_layout_unchanged(broker):
    # regression guard: the multi-broker client changes must not
    # disturb the single-broker path the sink uses today
    p = WireProducer(broker.host, broker.port)
    for i in range(100):
        p.send("solo.t", str(i).encode(), str(i).encode())
    p.flush()
    assert p.sent == 100 and p.delivery_errors == 0
    assert len(consume_all(broker.host, broker.port, "solo.t")) == 100
