"""Stream-routing configuration model + validation.

Semantics from the reference config model (`src/config/config.zig:113-136`
Stream struct; validation matrix `config.zig:213-466`; resource
normalization `config.zig:473-480`): a *stream* maps one fully-qualified
source table (``schema.table``) with an operation subset onto one sink
topic, with a configurable partition-key column (default ``id``).

Re-expressed for Spark: ``operators.routing.route_config`` compiles the
validated config into a map literal inside the plan ((resource, op) ->
matched streams), so routing is a per-row lookup and config-sized
dimensions never shuffle the event stream. Past
``ROUTE_LITERAL_MAX_ENTRIES`` (128) it falls back to a broadcast join
against a one-row-per-(stream, resource, op) dimension.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

VALID_OPERATIONS = frozenset({"insert", "update", "delete", "read"})
VALID_FORMATS = frozenset({"json"})
VALID_SOURCES = frozenset({"postgres", "parquet", "kafka"})
VALID_SINKS = frozenset({"kafka", "parquet", "memory", "console"})

# Username/password mechanisms only — GSSAPI/OAUTHBEARER need auth
# plumbing the reference deliberately does not expose
# (`src/config/config.zig:27-29`).
VALID_SASL_MECHANISMS = frozenset({"PLAIN", "SCRAM-SHA-256", "SCRAM-SHA-512"})

# Validation limits mirrored from the reference
# (`src/config/config.zig:5-17` ValidationLimits).
MAX_HOSTNAME_LEN = 253
MAX_IDENTIFIER_LEN = 63
MAX_KAFKA_TOPIC_LEN = 249
MAX_URL_LEN = 2048
MAX_BROKERS_COUNT = 50
MAX_OPERATIONS_COUNT = 10
MAX_STREAMS_COUNT = 100

# Identifier syntax mirrored from the reference validator
# (`src/config/config.zig:5-29`): SQL identifiers and Kafka topic charset.
_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_$]*$")
_TOPIC_RE = re.compile(r"^[A-Za-z0-9._-]+$")

# Unchanged-TOAST placeholder (`src/constants.zig:16`): the column must stay
# present with a sentinel value, never a fake NULL.
TOAST_PLACEHOLDER = "__outboxx_unknown_value__"

DEFAULT_ROUTING_KEY = "id"  # reference default, `src/config/config.zig:110`


class ConfigError(ValueError):
    """Raised for any invalid pipeline configuration (fail at startup)."""


def normalize_resource(resource: str) -> str:
    """Bare table name -> ``public.table`` so routing equality is on one
    opaque fully-qualified string (`config.zig:473-480`)."""
    if "." not in resource:
        return f"public.{resource}"
    return resource


@dataclass(frozen=True)
class StreamConfig:
    """One (table -> topic) routing unit."""

    name: str
    resource: str  # fully-qualified schema.table after normalization
    operations: tuple[str, ...]  # lowercase subset of VALID_OPERATIONS
    destination: str  # sink topic / output path suffix
    routing_key: str = DEFAULT_ROUTING_KEY
    format: str = "json"

    def wants_snapshot(self) -> bool:
        """``read`` in operations opts this stream into the initial
        snapshot (`config.zig:142-147`)."""
        return "read" in self.operations


@dataclass
class PipelineConfig:
    streams: list[StreamConfig] = field(default_factory=list)
    source_kind: str = "parquet"
    sink_kind: str = "parquet"

    def snapshot_resources(self) -> list[str]:
        """Distinct resources of read-opted streams, so a table read by
        several streams snapshots once (`processor.zig:280-298`)."""
        seen: dict[str, None] = {}
        for s in self.streams:
            if s.wants_snapshot():
                seen.setdefault(s.resource, None)
        return list(seen)


def make_stream(
    name: str,
    resource: str,
    operations: list[str] | tuple[str, ...],
    destination: str,
    routing_key: str = DEFAULT_ROUTING_KEY,
    format: str = "json",
) -> StreamConfig:
    """Build + normalize one stream config. Operations are lowercased here;
    matching is case-insensitive (`processor.zig:43-48`)."""
    ops = tuple(str(op).lower() for op in operations)
    return StreamConfig(
        name=name,
        resource=normalize_resource(resource),
        operations=ops,
        destination=destination,
        routing_key=routing_key,
        format=format,
    )


def validate(config: PipelineConfig) -> PipelineConfig:
    """Pre-flight validation, mirroring the reference's matrix
    (`config.zig:213-466`): enums, identifier syntax, schema.table shape,
    topic charset, duplicate stream names. Fail-stop at startup — a bad
    config never reaches executors."""
    if not config.streams:
        raise ConfigError("at least one stream is required")
    if len(config.streams) > MAX_STREAMS_COUNT:
        raise ConfigError(
            f"too many streams ({len(config.streams)} > {MAX_STREAMS_COUNT})"
        )
    if config.source_kind not in VALID_SOURCES:
        raise ConfigError(f"unsupported source: {config.source_kind!r}")
    if config.sink_kind not in VALID_SINKS:
        raise ConfigError(f"unsupported sink: {config.sink_kind!r}")

    names: set[str] = set()
    for s in config.streams:
        if not s.name or len(s.name) > 128:
            raise ConfigError(f"bad stream name: {s.name!r}")
        if s.name in names:
            raise ConfigError(f"duplicate stream name: {s.name!r}")
        names.add(s.name)

        parts = s.resource.split(".")
        if len(parts) != 2 or not all(_IDENT_RE.match(p) for p in parts):
            raise ConfigError(f"resource must be schema.table: {s.resource!r}")

        if not s.operations:
            raise ConfigError(f"stream {s.name!r}: empty operations")
        if len(s.operations) > MAX_OPERATIONS_COUNT:
            raise ConfigError(f"stream {s.name!r}: too many operations")
        bad = set(s.operations) - VALID_OPERATIONS
        if bad:
            raise ConfigError(f"stream {s.name!r}: invalid operations {sorted(bad)}")
        if len(set(s.operations)) != len(s.operations):
            raise ConfigError(f"stream {s.name!r}: duplicate operations")

        if not _TOPIC_RE.match(s.destination) or len(s.destination) > MAX_KAFKA_TOPIC_LEN:
            raise ConfigError(f"stream {s.name!r}: bad destination {s.destination!r}")
        if not _IDENT_RE.match(s.routing_key):
            raise ConfigError(f"stream {s.name!r}: bad routing_key {s.routing_key!r}")
        if s.format not in VALID_FORMATS:
            raise ConfigError(f"stream {s.name!r}: unsupported format {s.format!r}")
    return config


def secret_from_env(var: str, *, required: bool = False) -> str | None:
    """Secrets are env-var indirections, never inline config
    (`config.zig:37-94`)."""
    val = os.environ.get(var)
    if required and not val:
        raise ConfigError(f"required secret env var {var} is not set")
    return val


# ---------------------------------------------------------------------------
# Kafka sink security (V4/V1 tail): TLS x SASL axes -> security.protocol,
# SASL mechanism enum, broker/port validation
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class KafkaSasl:
    """SASL authentication for the Kafka broker. Presence enables SASL;
    all fields are required once present. The password is an env-var
    indirection (``password_env``), never stored in config — mirroring
    the source conninfo (`src/config/config.zig:62-77`)."""

    mechanism: str  # PLAIN | SCRAM-SHA-256 | SCRAM-SHA-512
    username: str
    password_env: str

    def load_password(self) -> str:
        return secret_from_env(self.password_env, required=True)


@dataclass(frozen=True)
class KafkaSinkConfig:
    """Kafka sink connection + security axes. TLS is ON by default —
    opting out is a deliberate local/dev act, never an omission
    (`src/config/config.zig:78-94` KafkaSink)."""

    brokers: tuple[str, ...]
    tls: bool = True
    tls_ca_location: str | None = None  # CA bundle to verify the broker
    sasl: KafkaSasl | None = None

    def security_protocol(self) -> str:
        """The security.protocol value derived from the tls x sasl axes
        — never hand-written by the operator (`config.zig:85-92`):

        ==========  =====  ================
        sasl         tls    protocol
        ==========  =====  ================
        present     true   SASL_SSL
        present     false  SASL_PLAINTEXT
        absent      true   SSL
        absent      false  PLAINTEXT
        ==========  =====  ================

        Uppercase spelling: Spark's Kafka sink speaks to the Java
        client, whose enum is uppercase (librdkafka, the reference's
        client, accepts lowercase; the axes and the meaning are
        identical)."""
        if self.sasl is not None:
            return "SASL_SSL" if self.tls else "SASL_PLAINTEXT"
        return "SSL" if self.tls else "PLAINTEXT"


def _validate_broker(broker: str) -> None:
    """hostname[:port] — hostname length-capped (`MAX_HOSTNAME_LEN`),
    port in 1-65535 when present (`config.zig:247-253` validatePort:
    reject 0; the u16 type caps 65535 — Python has no u16, so both
    bounds are explicit here)."""
    if not broker or len(broker) > MAX_HOSTNAME_LEN:
        raise ConfigError(f"bad kafka broker (empty or too long): {broker!r}")
    host, sep, port_s = broker.rpartition(":")
    if not sep:
        return  # bare hostname; the client applies the default port
    if not host:
        raise ConfigError(f"bad kafka broker (empty host): {broker!r}")
    if not port_s.isdigit() or not (1 <= int(port_s) <= 65535):
        raise ConfigError(
            f"bad kafka broker port (must be 1-65535): {broker!r}"
        )


def validate_kafka_sink(sink: KafkaSinkConfig) -> KafkaSinkConfig:
    """The reference's Kafka-sink validation tail (`config.zig:346-350,
    440-452`): broker array size + per-broker shape, CA-path length,
    SASL mechanism enum + field lengths. Fail-stop at startup."""
    if not sink.brokers:
        raise ConfigError("kafka sink: at least one broker is required")
    if len(sink.brokers) > MAX_BROKERS_COUNT:
        raise ConfigError(
            f"kafka sink: too many brokers ({len(sink.brokers)} > {MAX_BROKERS_COUNT})"
        )
    for b in sink.brokers:
        _validate_broker(b)
    if sink.tls_ca_location is not None and not (
        0 < len(sink.tls_ca_location) <= MAX_URL_LEN
    ):
        raise ConfigError("kafka sink: bad tls_ca_location")
    if sink.sasl is not None:
        s = sink.sasl
        if s.mechanism not in VALID_SASL_MECHANISMS:
            raise ConfigError(
                f"kafka sasl: invalid mechanism {s.mechanism!r}; allowed: "
                f"{sorted(VALID_SASL_MECHANISMS)}"
            )
        if not (0 < len(s.username) <= MAX_HOSTNAME_LEN):
            raise ConfigError("kafka sasl: bad username")
        if not (0 < len(s.password_env) <= MAX_IDENTIFIER_LEN):
            raise ConfigError("kafka sasl: bad password_env")
    return sink


def kafka_security_options(sink: KafkaSinkConfig) -> dict[str, str]:
    """The validated security axes rendered as Spark Kafka-connector
    options (``kafka.``-prefixed -> passed to the Java client verbatim);
    ``kafka_wire.wire_security_kwargs`` turns them into the wire
    producer's TLS and SASL arguments. The SASL secret is resolved from the environment AT CALL
    TIME and lands only in the in-memory options map, never in config
    files (V4)."""
    validate_kafka_sink(sink)
    opts = {
        "kafka.bootstrap.servers": ",".join(sink.brokers),
        "kafka.security.protocol": sink.security_protocol(),
    }
    if sink.tls and sink.tls_ca_location:
        # PEM CA bundle, same artifact the reference hands librdkafka's
        # ssl.ca.location; the Java client reads it as a PEM truststore
        opts["kafka.ssl.truststore.location"] = sink.tls_ca_location
        opts["kafka.ssl.truststore.type"] = "PEM"
    if sink.sasl is not None:
        module = (
            "org.apache.kafka.common.security.plain.PlainLoginModule"
            if sink.sasl.mechanism == "PLAIN"
            else "org.apache.kafka.common.security.scram.ScramLoginModule"
        )
        password = sink.sasl.load_password()

        def jaas_quote(v: str) -> str:
            # JAAS string literals: backslash-escape \ and " — an
            # unescaped quote in an env password would otherwise
            # truncate the rendered credential silently (r12 review)
            return v.replace("\\", "\\\\").replace('"', '\\"')

        opts["kafka.sasl.mechanism"] = sink.sasl.mechanism
        opts["kafka.sasl.jaas.config"] = (
            f'{module} required username="{jaas_quote(sink.sasl.username)}" '
            f'password="{jaas_quote(password)}";'
        )
    return opts
