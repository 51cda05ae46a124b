"""Minimal Kafka broker speaking the real wire protocol over TCP — the
in-sandbox stand for the K1 sink layer, playing the role librdkafka's
mock cluster plays in the reference's producer tests
(`src/sink/kafka/producer.zig:431-502`): a REAL socket endpoint with
real framing, real CRC verification, real offset assignment and real
error codes, so the engine's producer path is executed end-to-end
instead of stubbed.

Implements the subset the engine's client (`outboxx_spark/streaming/
kafka_wire.py`) speaks: ApiVersions v0, Metadata v0, Produce v0-v2,
Fetch v0-v2, message format v1. Topics auto-create with a configurable
partition count (like a dev broker with auto.create.topics.enable).

Fault injection for delivery-semantics tests:
- ``fail_next_produces(n, error)``: the next n Produce requests answer
  with the given error code (default REQUEST_TIMED_OUT, retriable) —
  drives the client's bounded-retry/backoff loop.
- CRC verification is always on: a corrupted message set is rejected
  with CORRUPT_MESSAGE, the reference's delivery-report failure path.
- ``KafkaCluster`` (r11): N brokers with round-robin partition
  leadership, ``move_leader`` / ``stop_broker`` injection — drives
  the client's NOT_LEADER_FOR_PARTITION -> metadata-refresh ->
  reroute path, the role of librdkafka's mock cluster in the
  reference's producer tests.

This is TEST INFRASTRUCTURE: single process, in-memory logs, no
replication — the production sink (``streaming/kafka_sink.py``, which
``streaming/job.serve`` delivers through) speaks to a real cluster
through the same client.
"""

from __future__ import annotations

import socket
import socketserver
import struct
import threading
import zlib
from pathlib import Path
import sys

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from outboxx_spark.streaming.kafka_wire import (  # noqa: E402
    API_FETCH,
    API_METADATA,
    API_PRODUCE,
    API_SASL_AUTHENTICATE,
    API_SASL_HANDSHAKE,
    API_VERSIONS,
    ERR_CORRUPT_MESSAGE,
    ERR_ILLEGAL_SASL_STATE,
    ERR_NONE,
    ERR_SASL_AUTHENTICATION_FAILED,
    ERR_UNSUPPORTED_SASL_MECHANISM,
    SCRAM_HASHES,
    SCRAM_ITERATIONS,
    _enc_bytes,
    _enc_str,
    _Reader,
    scram_hmac,
    scram_keys,
    scram_salted_password,
)


class _Log:
    """One partition's in-memory log: [(offset, timestamp, key, value)]."""

    def __init__(self):
        self.records: list[tuple[int, int, bytes | None, bytes | None]] = []

    @property
    def high_watermark(self) -> int:
        return len(self.records)


class KafkaBroker:
    def __init__(self, host: str = "127.0.0.1", port: int = 0,
                 n_partitions: int = 4, node_id: int = 0,
                 cluster: "KafkaCluster | None" = None,
                 certfile: str | None = None, keyfile: str | None = None,
                 sasl_users: dict[str, str] | None = None):
        self.n_partitions = n_partitions
        self.node_id = node_id
        self._cluster = cluster
        # SASL listener (sasl_users: username -> password): when set,
        # every connection must complete SaslHandshake+SaslAuthenticate
        # (PLAIN or SCRAM-SHA-256/512) before any other API — an
        # unauthenticated produce/metadata/fetch drops the connection,
        # real-broker behavior. SCRAM credentials are stored the way a
        # real broker stores them (salt, StoredKey, ServerKey per
        # mechanism — never the plaintext on the SCRAM path).
        self._sasl_users = dict(sasl_users) if sasl_users else None
        self._scram_creds: dict[str, dict[str, tuple]] = {}
        if self._sasl_users:
            import os

            for mech in SCRAM_HASHES:
                self._scram_creds[mech] = {}
                for user, pw in self._sasl_users.items():
                    salt = os.urandom(16)
                    salted = scram_salted_password(
                        mech, pw, salt, SCRAM_ITERATIONS
                    )
                    _ck, stored_key, server_key = scram_keys(mech, salted)
                    self._scram_creds[mech][user] = (
                        salt, SCRAM_ITERATIONS, stored_key, server_key
                    )
        # TLS listener (certfile+keyfile): the in-repo analog of the
        # reference's kafka-tls dev stand — handshake in the handler
        # thread so a slow/failed handshake never blocks accept
        self._ssl_ctx = None
        if certfile is not None:
            import ssl

            self._ssl_ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
            self._ssl_ctx.load_cert_chain(certfile, keyfile)
        # clustered brokers share one log store + lock (single-copy
        # stand: leadership moves, the log does not — what's tested is
        # the CLIENT's reroute, not replication)
        self._logs: dict[tuple[str, int], _Log] = (
            cluster._logs if cluster else {}
        )
        self._lock = cluster._lock if cluster else threading.Lock()
        self._fail_produces = 0
        self._fail_error = 7  # REQUEST_TIMED_OUT
        self.produce_requests = 0

        broker = self

        class Handler(socketserver.BaseRequestHandler):
            def handle(self):  # one connection, many framed requests
                if broker._ssl_ctx is not None:
                    try:
                        self.request = broker._ssl_ctx.wrap_socket(
                            self.request, server_side=True
                        )
                    except OSError:
                        return  # failed handshake: drop the connection
                try:
                    conn_state = {
                        "authenticated": broker._sasl_users is None,
                        "mech": None,
                        "scram": None,
                    }
                    while True:
                        head = self._recv_exact(4)
                        if head is None:
                            return
                        (size,) = struct.unpack(">i", head)
                        frame = self._recv_exact(size)
                        if frame is None:
                            return
                        resp = broker._dispatch(frame, conn_state)
                        if resp is None:  # illegal SASL state: drop
                            return
                        self.request.sendall(
                            struct.pack(">i", len(resp)) + resp
                        )
                except (ConnectionError, OSError):
                    return

            def _recv_exact(self, n):
                buf = bytearray()
                while len(buf) < n:
                    try:
                        chunk = self.request.recv(n - len(buf))
                    except (ConnectionError, OSError):
                        return None
                    if not chunk:
                        return None
                    buf += chunk
                return bytes(buf)

        class Server(socketserver.ThreadingTCPServer):
            allow_reuse_address = True
            daemon_threads = True

        self._server = Server((host, port), Handler)
        self.host, self.port = self._server.server_address
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )

    # -- lifecycle --

    def start(self) -> "KafkaBroker":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()

    def __enter__(self) -> "KafkaBroker":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()

    # -- fault injection --

    def fail_next_produces(self, n: int, error: int = 7) -> None:
        with self._lock:
            self._fail_produces = n
            self._fail_error = error

    # -- state inspection (for assertions) --

    def topic_partitions(self, topic: str) -> list[int]:
        with self._lock:
            return sorted(p for (t, p) in self._logs if t == topic)

    def record_count(self, topic: str) -> int:
        with self._lock:
            return sum(
                len(log.records) for (t, _), log in self._logs.items() if t == topic
            )

    # -- protocol dispatch --

    def _dispatch(self, frame: bytes, conn_state: dict | None = None) -> bytes | None:
        conn_state = conn_state if conn_state is not None else {
            "authenticated": True, "mech": None, "scram": None,
        }
        r = _Reader(frame)
        api_key, api_version, corr = r.i16(), r.i16(), r.i32()
        r.string()  # client_id
        head = struct.pack(">i", corr)
        if api_key == API_VERSIONS:
            body = struct.pack(">hi", ERR_NONE, 6)
            for k, lo, hi in ((API_PRODUCE, 0, 2), (API_FETCH, 0, 2),
                              (API_METADATA, 0, 0), (API_VERSIONS, 0, 0),
                              # v1 only: the v0 flow sends raw
                              # size-framed SASL tokens the dispatcher
                              # would misparse as Kafka request frames;
                              # only the v1 wrapped-token flow
                              # (SaslAuthenticate) is implemented
                              (API_SASL_HANDSHAKE, 1, 1),
                              (API_SASL_AUTHENTICATE, 0, 0)):
                body += struct.pack(">hhh", k, lo, hi)
            return head + body
        if api_key == API_SASL_HANDSHAKE:
            return head + self._sasl_handshake(r, conn_state)
        if api_key == API_SASL_AUTHENTICATE:
            return head + self._sasl_authenticate(r, conn_state)
        if not conn_state["authenticated"]:
            # real-broker behavior: any other API before authentication
            # completes drops the connection
            return None
        if api_key == API_METADATA:
            return head + self._metadata(r)
        if api_key == API_PRODUCE:
            return head + self._produce(r, api_version)
        if api_key == API_FETCH:
            return head + self._fetch(r, api_version)
        raise ValueError(f"unsupported api_key {api_key}")

    # -- SASL server side (handshake + PLAIN / SCRAM per RFC 5802) --

    def _sasl_handshake(self, r: _Reader, conn_state: dict) -> bytes:
        mechanism = r.string() or ""
        supported = ["PLAIN", *sorted(SCRAM_HASHES)]
        mech_list = struct.pack(">i", len(supported)) + b"".join(
            _enc_str(m) for m in supported
        )
        if self._sasl_users is None or mechanism not in supported:
            err = ERR_UNSUPPORTED_SASL_MECHANISM
            return struct.pack(">h", err) + mech_list
        conn_state["mech"] = mechanism
        conn_state["scram"] = None
        return struct.pack(">h", ERR_NONE) + mech_list

    def _sasl_authenticate(self, r: _Reader, conn_state: dict) -> bytes:
        token = r.bytes_() or b""
        err, msg, out = self._sasl_step(conn_state, token)
        return struct.pack(">h", err) + _enc_str(msg) + _enc_bytes(out)

    def _sasl_step(self, conn_state: dict, token: bytes):
        import base64
        import hashlib
        import secrets

        mech = conn_state.get("mech")
        if mech is None or self._sasl_users is None:
            return ERR_ILLEGAL_SASL_STATE, "handshake first", b""
        fail = (ERR_SASL_AUTHENTICATION_FAILED, "authentication failed", b"")
        if mech == "PLAIN":
            try:
                parts = token.split(b"\x00")
                if len(parts) != 3:
                    return fail
                user, pw = parts[1].decode("utf-8"), parts[2].decode("utf-8")
            except ValueError:  # covers UnicodeDecodeError
                return fail
            if self._sasl_users.get(user) != pw:
                return fail
            conn_state["authenticated"] = True
            return ERR_NONE, None, b""
        # SCRAM-SHA-256/512
        if conn_state["scram"] is None:
            try:
                text = token.decode("utf-8")
                if not text.startswith("n,,"):
                    return fail
                bare = text[3:]
                attrs = dict(kv.split("=", 1) for kv in bare.split(","))
                user = attrs["n"].replace("=2C", ",").replace("=3D", "=")
                cnonce = attrs["r"]
            except (ValueError, KeyError):
                return fail
            cred = self._scram_creds.get(mech, {}).get(user)
            if cred is None:
                return fail
            salt, iterations, _stored, _server = cred
            snonce = cnonce + secrets.token_urlsafe(18)
            server_first = (
                f"r={snonce},s={base64.b64encode(salt).decode()},"
                f"i={iterations}"
            )
            conn_state["scram"] = (bare, server_first, cred, snonce)
            return ERR_NONE, None, server_first.encode("utf-8")
        bare, server_first, cred, snonce = conn_state["scram"]
        _salt, _iters, stored_key, server_key = cred
        try:
            text = token.decode("utf-8")
            without_proof, sep, proof_b64 = text.rpartition(",p=")
            if not sep:
                return fail
            fattrs = dict(kv.split("=", 1) for kv in without_proof.split(","))
            proof = base64.b64decode(proof_b64)
        except (ValueError, KeyError):
            return fail
        if fattrs.get("r") != snonce:
            return fail
        auth_msg = f"{bare},{server_first},{without_proof}".encode("utf-8")
        client_sig = scram_hmac(mech, stored_key, auth_msg)
        if len(proof) != len(client_sig):
            return fail
        client_key = bytes(a ^ b for a, b in zip(proof, client_sig))
        if hashlib.new(SCRAM_HASHES[mech], client_key).digest() != stored_key:
            conn_state["scram"] = None
            return fail
        server_sig = scram_hmac(mech, server_key, auth_msg)
        conn_state["authenticated"] = True
        conn_state["scram"] = None
        return ERR_NONE, None, b"v=" + base64.b64encode(server_sig)

    def _ensure_topic(self, topic: str) -> None:
        if self._cluster is not None:
            self._cluster.ensure_topic(topic)
            return
        with self._lock:
            if not any(t == topic for (t, _) in self._logs):
                for p in range(self.n_partitions):
                    self._logs[(topic, p)] = _Log()

    def _leader_of(self, topic: str, partition: int) -> int:
        if self._cluster is not None:
            return self._cluster.leader_of(topic, partition)
        return self.node_id

    def _metadata(self, r: _Reader) -> bytes:
        topics = [r.string() for _ in range(r.i32())]
        for t in topics:
            self._ensure_topic(t)
        nodes = (
            self._cluster.broker_addresses()
            if self._cluster is not None
            else {self.node_id: (self.host, self.port)}
        )
        with self._lock:
            known = sorted({t for (t, _) in self._logs}) if not topics else topics
            body = struct.pack(">i", len(nodes))
            for nid in sorted(nodes):
                h, p = nodes[nid]
                body += struct.pack(">i", nid) + _enc_str(h)
                body += struct.pack(">i", p)
            body += struct.pack(">i", len(known))
            for t in known:
                parts = sorted(p for (tt, p) in self._logs if tt == t)
                body += struct.pack(">h", ERR_NONE) + _enc_str(t)
                body += struct.pack(">i", len(parts))
                for p in parts:
                    leader = self._leader_of(t, p)
                    body += struct.pack(">hii", ERR_NONE, p, leader)
                    body += struct.pack(">ii", 1, leader)  # replicas
                    body += struct.pack(">ii", 1, leader)  # isr
            return body

    def _verify_and_store(self, topic: str, partition: int, data: bytes) -> tuple[int, int]:
        """Decode+CRC-verify a MessageSet; append. -> (error, base_offset)."""
        records = []
        pos = 0
        while pos + 12 <= len(data):
            _, size = struct.unpack_from(">qi", data, pos)
            if pos + 12 + size > len(data):
                return ERR_CORRUPT_MESSAGE, -1
            msg = data[pos + 12 : pos + 12 + size]
            crc = struct.unpack(">I", msg[:4])[0]
            if zlib.crc32(msg[4:]) & 0xFFFFFFFF != crc:
                return ERR_CORRUPT_MESSAGE, -1
            mr = _Reader(msg[4:])
            magic = mr.i8()
            mr.i8()  # attributes
            ts = mr.i64() if magic >= 1 else -1
            key = mr.bytes_()
            value = mr.bytes_()
            records.append((ts, key, value))
            pos += 12 + size
        with self._lock:
            log = self._logs[(topic, partition)]
            base = log.high_watermark
            for i, (ts, k, v) in enumerate(records):
                log.records.append((base + i, ts, k, v))
        return ERR_NONE, base

    def _produce(self, r: _Reader, version: int) -> bytes:
        acks, _timeout = r.i16(), r.i32()
        results = []  # (topic, partition, error, base_offset)
        with self._lock:
            self.produce_requests += 1
            inject = 0
            if self._fail_produces > 0:
                self._fail_produces -= 1
                inject = self._fail_error
        for _ in range(r.i32()):
            topic = r.string()
            self._ensure_topic(topic)
            for _ in range(r.i32()):
                pid = r.i32()
                data = r.bytes_() or b""
                if inject:
                    results.append((topic, pid, inject, -1))
                    continue
                if self._leader_of(topic, pid) != self.node_id:
                    # real-broker behavior after a leadership move: a
                    # produce routed by stale metadata is refused with
                    # NOT_LEADER_FOR_PARTITION (6) — the client must
                    # refresh metadata and retry at the new leader
                    results.append((topic, pid, 6, -1))
                    continue
                err, base = self._verify_and_store(topic, pid, data)
                results.append((topic, pid, err, base))
        if acks == 0:
            return b""  # fire-and-forget: no response body per protocol
        by_topic: dict[str, list] = {}
        for t, p, e, b in results:
            by_topic.setdefault(t, []).append((p, e, b))
        body = struct.pack(">i", len(by_topic))
        for t, parts in by_topic.items():
            body += _enc_str(t) + struct.pack(">i", len(parts))
            for p, e, b in parts:
                body += struct.pack(">ihq", p, e, b)
                if version >= 2:
                    body += struct.pack(">q", -1)  # log_append_time
        if version >= 1:
            body += struct.pack(">i", 0)  # throttle_time_ms
        return body

    def _fetch(self, r: _Reader, version: int) -> bytes:
        r.i32()  # replica_id
        r.i32()  # max_wait
        r.i32()  # min_bytes
        req = []
        for _ in range(r.i32()):
            topic = r.string()
            for _ in range(r.i32()):
                pid, offset, max_bytes = r.i32(), r.i64(), r.i32()
                req.append((topic, pid, offset, max_bytes))
        body = b""
        if version >= 1:
            body += struct.pack(">i", 0)  # throttle_time_ms
        by_topic: dict[str, list] = {}
        for t, p, o, mb in req:
            by_topic.setdefault(t, []).append((p, o, mb))
        body += struct.pack(">i", len(by_topic))
        for t, parts in by_topic.items():
            body += _enc_str(t) + struct.pack(">i", len(parts))
            for pid, offset, max_bytes in parts:
                with self._lock:
                    log = self._logs.get((t, pid))
                    records = list(log.records) if log else []
                    hw = len(records)
                out = bytearray()
                for off, ts, k, v in records[offset:]:
                    msg_body = (
                        struct.pack(">bb", 1, 0)
                        + struct.pack(">q", ts)
                        + _enc_bytes(k)
                        + _enc_bytes(v)
                    )
                    crc = zlib.crc32(msg_body) & 0xFFFFFFFF
                    msg = struct.pack(">I", crc) + msg_body
                    frame = struct.pack(">qi", off, len(msg)) + msg
                    if out and len(out) + len(frame) > max_bytes:
                        break
                    out += frame
                body += struct.pack(">ihq", pid, ERR_NONE, hw)
                body += _enc_bytes(bytes(out))
        return body


class KafkaCluster:
    """N in-process brokers with a partition-leadership map — the
    multi-broker half of the stand (r10 verdict K1 tail; plays the
    role of librdkafka's mock CLUSTER in `producer.zig:431-502`).

    Single-copy semantics: all brokers share one log store, so a
    leadership move keeps every committed record — what the stand
    tests is the CLIENT's NotLeaderForPartition -> metadata-refresh ->
    reroute path (and broker death mid-stream), not replication.
    ISR shrink/election protocol remains out of scope: modeling it
    needs real replica logs, which this dependency-free stand
    deliberately does not have (documented in SCALING.md).

    Fault injection:
    - ``move_leader(topic, pid, node_id)``: subsequent metadata names
      the new leader; the old one answers NOT_LEADER_FOR_PARTITION.
    - ``stop_broker(node_id)``: hard broker death — connections drop,
      the client must re-learn routes through another endpoint.
    """

    def __init__(self, n_brokers: int = 3, n_partitions: int = 4,
                 certfile: str | None = None, keyfile: str | None = None,
                 sasl_users: dict[str, str] | None = None):
        self.n_partitions = n_partitions
        self._logs: dict[tuple[str, int], _Log] = {}
        self._lock = threading.Lock()
        self._dead: set[int] = set()
        # (topic, pid) -> node_id; reads are GIL-atomic dict lookups —
        # brokers call leader_of() while holding the shared lock, so
        # it must never acquire it (non-reentrant)
        self._leader: dict[tuple[str, int], int] = {}
        self.brokers = [
            KafkaBroker(n_partitions=n_partitions, node_id=i, cluster=self,
                        certfile=certfile, keyfile=keyfile,
                        sasl_users=sasl_users)
            for i in range(n_brokers)
        ]

    # -- lifecycle --

    def start(self) -> "KafkaCluster":
        for b in self.brokers:
            b.start()
        return self

    def stop(self) -> None:
        for b in self.brokers:
            try:
                b.stop()
            except Exception:  # noqa: BLE001 - already-stopped broker
                pass

    def __enter__(self) -> "KafkaCluster":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()

    # -- topology --

    def broker_addresses(self) -> dict[int, tuple[str, int]]:
        return {
            b.node_id: (b.host, b.port)
            for b in self.brokers
            if b.node_id not in self._dead
        }

    def bootstrap(self) -> list[tuple[str, int]]:
        return [(b.host, b.port) for b in self.brokers]

    def ensure_topic(self, topic: str) -> None:
        with self._lock:
            if any(t == topic for (t, _) in self._logs):
                return
            for p in range(self.n_partitions):
                self._logs[(topic, p)] = _Log()
                # leadership spread: round-robin across brokers
                self._leader[(topic, p)] = p % len(self.brokers)

    def leader_of(self, topic: str, partition: int) -> int:
        return self._leader.get((topic, partition), 0)

    # -- fault injection --

    def move_leader(self, topic: str, partition: int, node_id: int) -> None:
        self._leader[(topic, partition)] = node_id

    def rotate_all_leaders(
        self,
        *,
        baseline: dict[str, int] | None = None,
        min_new_records: int = 1000,
        exclude_topics: frozenset[str] | set[str] = frozenset(),
        deadline_s: float = 120.0,
        poll_s: float = 0.02,
    ) -> tuple[int, float | None]:
        """Wait until some non-excluded topic has grown past its
        ``baseline`` count by ``min_new_records`` (proof that delivery
        is actually flowing), then rotate EVERY partition's leadership
        one broker over. -> (moves, time.monotonic() at rotation) or
        (0, None) if nothing flowed before the deadline — the caller
        can then tell a rotation that landed MID-delivery from one
        that fired against an idle cluster (the r11/r12 bench
        comparability requirement). Shared by tools/kafka_stand.py and
        bench.py so the wait-then-rotate logic exists once."""
        import time as _time

        baseline = dict(baseline or {})
        deadline = _time.monotonic() + deadline_s
        while True:
            with self._lock:
                topics = {t for (t, _) in self._leader}
            if any(
                t not in exclude_topics
                and self.record_count(t) > baseline.get(t, 0) + min_new_records
                for t in topics
            ):
                break
            if _time.monotonic() >= deadline:
                return 0, None
            _time.sleep(poll_s)
        with self._lock:
            keys = list(self._leader)
        # rotate within LIVE brokers only — assigning leadership to a
        # stopped node would advertise a dead leader, the invariant
        # stop_broker's reassignment exists to prevent (r12 review)
        live = [b.node_id for b in self.brokers if b.node_id not in self._dead]
        if not live:
            return 0, None
        for tp in keys:
            cur = self.leader_of(*tp)
            nxt = (
                live[(live.index(cur) + 1) % len(live)]
                if cur in live
                else live[0]
            )
            self.move_leader(tp[0], tp[1], nxt)
        return len(keys), _time.monotonic()

    def stop_broker(self, node_id: int) -> None:
        """Hard broker death. The controller-election half a real
        cluster would run is modeled minimally (r11 advice): the dead
        node disappears from metadata's broker list and every
        partition it led is reassigned round-robin to a survivor, so
        metadata never advertises a dead leader — a client that killed
        the leader first (no prior ``move_leader``) still recovers in
        one refresh instead of burning its whole retry budget."""
        self._dead.add(node_id)
        survivors = [
            b.node_id for b in self.brokers if b.node_id not in self._dead
        ]
        if survivors:
            with self._lock:
                for i, (tp, leader) in enumerate(
                    sorted(self._leader.items())
                ):
                    if leader == node_id:
                        self._leader[tp] = survivors[i % len(survivors)]
        for b in self.brokers:
            if b.node_id == node_id:
                b.stop()

    # -- assertions --

    def record_count(self, topic: str) -> int:
        with self._lock:
            return sum(
                len(log.records)
                for (t, _), log in self._logs.items()
                if t == topic
            )


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, default=9092)
    ap.add_argument("--partitions", type=int, default=4)
    ap.add_argument("--brokers", type=int, default=1,
                    help="multi-broker cluster (ephemeral ports)")
    args = ap.parse_args()
    if args.brokers > 1:
        cluster = KafkaCluster(
            n_brokers=args.brokers, n_partitions=args.partitions
        ).start()
        eps = ",".join(f"{h}:{p}" for h, p in cluster.bootstrap())
        print(f"kafka stand cluster on {eps}")
        stop = cluster.stop
    else:
        broker = KafkaBroker(port=args.port, n_partitions=args.partitions).start()
        print(f"kafka stand broker on {broker.host}:{broker.port}")
        stop = broker.stop
    try:
        threading.Event().wait()
    except KeyboardInterrupt:
        stop()


if __name__ == "__main__":
    main()
