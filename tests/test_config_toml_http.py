"""TOML config loading + observability HTTP endpoints."""

from __future__ import annotations

import time
import urllib.request

import pytest

from outboxx_spark.config import ConfigError
from outboxx_spark.config_toml import load_config
from outboxx_spark.operators.materialize import materialize
from outboxx_spark.streaming.http import ObservabilityServer
from outboxx_spark.streaming.metrics import MetricsRegistry

GOOD = """
[source]
kind = "parquet"

[sink]
kind = "parquet"

[[streams]]
name = "users_full"
[streams.source]
resource = "users"
operations = ["insert", "UPDATE", "read"]
[streams.flow]
format = "json"
[streams.sink]
destination = "cdc.public.users"
routing_key = "id"

[[streams]]
name = "orders"
[streams.source]
resource = "app.orders"
operations = ["insert"]
[streams.sink]
destination = "cdc.app.orders"
"""


def test_load_good_toml(tmp_path):
    p = tmp_path / "c.toml"
    p.write_text(GOOD)
    cfg = load_config(str(p))
    assert [s.name for s in cfg.streams] == ["users_full", "orders"]
    s0 = cfg.streams[0]
    assert s0.resource == "public.users"  # normalized
    assert s0.operations == ("insert", "update", "read")  # lowercased
    assert cfg.streams[1].routing_key == "id"  # default


def test_load_invalid_toml(tmp_path):
    p = tmp_path / "c.toml"
    p.write_text("not [ valid")
    with pytest.raises(ConfigError, match="invalid TOML"):
        load_config(str(p))


def test_load_missing_field(tmp_path):
    p = tmp_path / "c.toml"
    p.write_text('[[streams]]\nname = "x"\n[streams.source]\nresource = "a"\n')
    with pytest.raises(ConfigError, match="missing required field"):
        load_config(str(p))


def test_load_validation_runs(tmp_path):
    p = tmp_path / "c.toml"
    p.write_text(GOOD.replace('operations = ["insert", "UPDATE", "read"]', 'operations = ["upsert"]'))
    with pytest.raises(ConfigError, match="invalid operations"):
        load_config(str(p))


def _get(port, path):
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}", timeout=5) as r:
            return r.status, r.read().decode()
    except urllib.error.HTTPError as e:
        return e.code, e.read().decode()


def test_http_endpoints():
    reg = MetricsRegistry()
    reg.add_processed("s1", "INSERT", 42)
    ready = {"v": True}
    srv = ObservabilityServer(reg, ready_probe=lambda: ready["v"]).start()
    try:
        code, body = _get(srv.port, "/metrics")
        assert code == 200
        assert 'outboxx_events_processed_total{stream="s1",operation="INSERT"} 42' in body
        assert _get(srv.port, "/healthz")[0] == 200
        assert _get(srv.port, "/readyz")[0] == 200
        ready["v"] = False
        assert _get(srv.port, "/readyz")[0] == 503
        reg.last_activity_ts = time.time() - 120  # stalled (O7)
        assert _get(srv.port, "/healthz")[0] == 503
        assert _get(srv.port, "/nope")[0] == 404
    finally:
        srv.stop()


def test_http_binds_every_interface():
    # Prometheus scrapes /metrics from another container; a loopback
    # bind would refuse it. The loopback address still answers.
    srv = ObservabilityServer(MetricsRegistry()).start()
    try:
        assert srv._server.server_address[0] == "0.0.0.0"
        assert _get(srv.port, "/metrics")[0] == 200
    finally:
        srv.stop()


def test_materialize_semantics(spark):
    feed = spark.createDataFrame(
        [
            ("INSERT", "public.t0", 1, 100, 7, "signup", 1.0, "{}"),
            ("UPDATE", "public.t0", 5, 110, 7, "click", 2.0, "{}"),
            ("INSERT", "public.t0", 2, 100, 8, "signup", 1.0, "{}"),
            ("DELETE", "public.t0", 6, 120, 8, "error", 0.0, "{}"),
            ("READ", "public.t1", 3, 100, 7, "view", 9.0, "{}"),
        ],
        "op string, resource string, lsn long, commit_ts long, user_id long, "
        "event_type string, value double, props string",
    )
    out = {(r["resource"], r["user_id"]): (r["op"], r["lsn"]) for r in materialize(feed).collect()}
    assert out == {
        ("public.t0", 7): ("UPDATE", 5),  # latest wins
        ("public.t1", 7): ("READ", 3),  # READ upserts
    }  # user 8 deleted


def test_secret_from_env_matrix(monkeypatch):
    # V4 (config.zig:37-94): secrets are env indirections, never inline
    from outboxx_spark.config import ConfigError, secret_from_env

    monkeypatch.setenv("OUTBOXX_PG_PASSWORD", "s3cr3t")
    assert secret_from_env("OUTBOXX_PG_PASSWORD") == "s3cr3t"
    assert secret_from_env("OUTBOXX_PG_PASSWORD", required=True) == "s3cr3t"

    monkeypatch.delenv("OUTBOXX_PG_PASSWORD", raising=False)
    assert secret_from_env("OUTBOXX_PG_PASSWORD") is None
    with pytest.raises(ConfigError, match="OUTBOXX_PG_PASSWORD"):
        secret_from_env("OUTBOXX_PG_PASSWORD", required=True)

    # empty string counts as unset for a required secret
    monkeypatch.setenv("OUTBOXX_PG_PASSWORD", "")
    with pytest.raises(ConfigError, match="not set"):
        secret_from_env("OUTBOXX_PG_PASSWORD", required=True)
