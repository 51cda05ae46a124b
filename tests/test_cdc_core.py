"""CDC operator semantics that the DuckDB oracle can't express:
fail-fast partition keys, NaN/Inf handling, LSN text form, fan-out
multiplicity, TOAST placeholder, dedup. Mirrors the reference's unit
layer (SURVEY §5): converter/json/change_event test cases."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.utils import PythonException

from outboxx_spark.config import TOAST_PLACEHOLDER
from outboxx_spark.functions.envelope import envelope_json
from outboxx_spark.functions.typemap import (
    PG_EPOCH_UNIX,
    float_json_safe,
    lsn_text,
    pg_bool,
    pg_commit_time_to_unix,
    pg_int_typed,
    toast_or_value,
)
from outboxx_spark.operators.keys import partition_key, routed_key
from outboxx_spark.operators.routing import route, streams_dim
from outboxx_spark.operators.dedup import dedup_events
from outboxx_spark.testbed import DEFAULT_STREAMS


def test_lsn_text_form(spark):
    # Postgres X/X text form incl. zero, the 32-bit boundary, >32-bit
    # values and null (reference renders via `%X/%X`,
    # converter.zig:95-100; a null LSN is a JSON null, not "NULL/NULL").
    df = spark.createDataFrame(
        [(0,), (5,), (0xFFFFFFFF,), (2**32,), (0x1234567_89ABCDEF,), (None,)], "lsn long"
    )
    out = [r[0] for r in df.select(lsn_text(F.col("lsn"))).collect()]
    assert out == ["0/0", "0/5", "0/FFFFFFFF", "1/0", "1234567/89ABCDEF", None]


def test_partition_key_stringifies(spark):
    df = spark.createDataFrame(
        [(1, "a"), (-9223372036854775808, "b"), (9223372036854775807, "c")], "k long, x string"
    )
    out = [r[0] for r in df.select(partition_key(F.col("k"))).collect()]
    # i64 min/max boundaries, like change_event.zig:407-452
    assert out == ["1", "-9223372036854775808", "9223372036854775807"]


def test_partition_key_null_fails(spark):
    df = spark.createDataFrame([Row(k=1), Row(k=None)])
    with pytest.raises(Exception, match="PartitionKeyUnavailable"):
        df.select(partition_key(F.col("k"))).collect()


def test_partition_key_null_allowed_when_disabled(spark):
    df = spark.createDataFrame([(None,)], "k long")
    out = df.select(partition_key(F.col("k"), fail_on_null=False)).collect()
    assert out[0][0] is None


def test_routed_key_reads_each_rows_own_routing_key(spark):
    # R3 per stream: a routed row is keyed on the column its stream
    # names; a key that is not a payload column fails fast
    df = spark.createDataFrame(
        [(1, "x", "a"), (2, "y", "b"), (3, "z", "a")], "a long, b string, routing_key string"
    )
    out = df.select(routed_key(["a", "b", "a"], ["a", "b"])).collect()
    assert [r[0] for r in out] == ["1", "y", "3"]
    with pytest.raises(Exception, match="PartitionKeyUnavailable"):
        df.select(routed_key(["a", "b"], ["a"])).collect()
    with pytest.raises(Exception, match="PartitionKeyUnavailable"):
        df.select(routed_key(["c"], ["a", "b"])).collect()


def test_float_json_safe_nonfinite(spark):
    df = spark.createDataFrame(
        [(1.5,), (float("nan"),), (float("inf"),), (float("-inf"),), (None,)], "d double"
    )
    out = [r[0] for r in df.select(float_json_safe(F.col("d"))).collect()]
    assert out == ["1.5", "NaN", "Infinity", "-Infinity", None]


def test_pg_bool_tf(spark):
    df = spark.createDataFrame([("t",), ("f",), ("x",), (None,)], "b string")
    out = [r[0] for r in df.select(pg_bool(F.col("b"))).collect()]
    assert out == [True, False, None, None]


def test_pg_int_parse_failure_keeps_string(spark):
    df = spark.createDataFrame([("42",), ("notanint",)], "v string")
    out = [r[0] for r in df.select(pg_int_typed(F.col("v"))).collect()]
    assert out == [42, None]  # typed path: unparseable -> null


def test_commit_time_pg_epoch(spark):
    # µs since 2000-01-01 -> Unix seconds (converter.zig:19)
    df = spark.createDataFrame([(0,), (86_400_000_000,)], "us long")
    out = [r[0] for r in df.select(pg_commit_time_to_unix(F.col("us"))).collect()]
    assert out == [PG_EPOCH_UNIX, PG_EPOCH_UNIX + 86_400]


def test_toast_placeholder(spark):
    df = spark.createDataFrame([("v", False), ("w", True)], "v string, unchanged boolean")
    out = [r[0] for r in df.select(toast_or_value(F.col("v"), F.col("unchanged"))).collect()]
    assert out == ["v", TOAST_PLACEHOLDER]


def test_envelope_shape_and_key_order(spark):
    df = spark.createDataFrame(
        [("INSERT", 7, "public.users", 1700000000, 5)],
        "op string, id long, resource string, ts long, lsn long",
    )
    out = df.select(
        envelope_json(
            F.col("op"),
            F.struct(F.col("id")),
            F.col("resource"),
            F.col("ts"),
            F.col("lsn"),
        ).alias("j")
    ).collect()[0]["j"]
    parsed = json.loads(out)
    # envelope fixture: FIXTURES.md §4 / json.zig:17-48
    assert list(parsed.keys()) == ["op", "data", "meta"]
    assert list(parsed["meta"].keys()) == ["source", "resource", "timestamp", "lsn"]
    assert parsed == {
        "op": "INSERT",
        "data": {"id": 7},
        "meta": {
            "source": "postgres",
            "resource": "public.users",
            "timestamp": 1700000000,
            "lsn": "0/5",
        },
    }


def test_envelope_emits_explicit_nulls(spark):
    # Reference serializer writes "lsn": null and null data columns as
    # "col": null (json.zig:57-126); Spark's to_json default would drop
    # the keys entirely.
    df = spark.createDataFrame(
        [("DELETE", None, "public.users", 1700000000, None)],
        "op string, id long, resource string, ts long, lsn long",
    )
    out = df.select(
        envelope_json(
            F.col("op"),
            F.struct(F.col("id")),
            F.col("resource"),
            F.col("ts"),
            F.col("lsn"),
        ).alias("j")
    ).collect()[0]["j"]
    assert '"id":null' in out and '"lsn":null' in out
    parsed = json.loads(out)
    assert list(parsed["data"].keys()) == ["id"]
    assert list(parsed["meta"].keys()) == ["source", "resource", "timestamp", "lsn"]


def test_serializer_rejects_nonfinite_floats(spark):
    from outboxx_spark.functions.envelope import serialize_feed

    df = spark.createDataFrame(
        [("INSERT", "public.t0", 1, 100, float("nan"))],
        "op string, resource string, lsn long, commit_ts long, value double",
    )
    with pytest.raises(Exception, match="NonFiniteFloat"):
        serialize_feed(df, ["value"]).collect()


def test_serializer_escapes_control_chars(spark):
    from outboxx_spark.functions.envelope import serialize_feed

    df = spark.createDataFrame(
        [("INSERT", "public.t0", 1, 100, 'a"b\\c\nd\te')],
        "op string, resource string, lsn long, commit_ts long, name string",
    )
    out = serialize_feed(df, ["name"]).collect()[0]["value"]
    parsed = json.loads(out)  # must be valid RFC 8259 JSON
    assert parsed["data"]["name"] == 'a"b\\c\nd\te'


def _mini_events(spark):
    return spark.createDataFrame(
        [
            ("INSERT", "public.t0", 1, 100, 10),
            ("INSERT", "public.t3", 2, 100, 11),  # unrouted -> dropped
            ("READ", "public.t1", 3, 100, 12),  # t1 not read-opted -> dropped
            ("DELETE", "public.t0", 4, 100, 13),
        ],
        "op string, resource string, lsn long, commit_ts long, user_id long",
    )


@pytest.mark.slow
def test_route_fanout_and_drop(spark):
    routed = route(_mini_events(spark), streams_dim(spark, DEFAULT_STREAMS))
    rows = [(r["stream"], r["lsn"]) for r in routed.collect()]
    # t0 INSERT fans out to t0_full + t0_inserts; t0 DELETE only t0_full;
    # t3 and non-read-opted t1 READ drop.
    assert sorted(rows) == [("t0_full", 1), ("t0_full", 4), ("t0_inserts", 1)]


def test_route_case_insensitive_op(spark):
    ev = spark.createDataFrame(
        [("iNsErT", "public.t0", 1, 100, 10)],
        "op string, resource string, lsn long, commit_ts long, user_id long",
    )
    routed = route(ev, streams_dim(spark, DEFAULT_STREAMS))
    assert routed.count() == 2  # both t0 streams match regardless of case


@pytest.mark.slow
def test_route_config_matches_dim_join(spark):
    # the literal-map production shape (route_config) and the dim-table
    # broadcast-join shape (route) must produce identical rows — same
    # fan-out, same drops, same columns in the same order
    from outboxx_spark.operators.routing import route_config

    ev = _mini_events(spark).unionAll(
        spark.createDataFrame(
            [("iNsErT", "public.t0", 9, 100, 14)],
            "op string, resource string, lsn long, commit_ts long, user_id long",
        )
    )
    lit_out = route_config(ev, DEFAULT_STREAMS)
    join_out = route(ev, streams_dim(spark, DEFAULT_STREAMS))
    assert lit_out.columns == join_out.columns
    assert lit_out.exceptAll(join_out).count() == 0
    assert join_out.exceptAll(lit_out).count() == 0
    assert lit_out.count() == join_out.count() > 0


def test_route_config_size_hybrid(spark):
    # route_config's shape policy: small configs route through the
    # folded map literal (Generate, no join); past
    # ROUTE_LITERAL_MAX_ENTRIES the per-event GetMapValue LINEAR scan
    # would tax every event, so large configs take the broadcast-HASH
    # dim join instead. Both shapes: correct fan-out, event side never
    # shuffles.
    import contextlib
    import io

    from outboxx_spark.config import StreamConfig
    from outboxx_spark.operators.routing import (
        ROUTE_LITERAL_MAX_ENTRIES,
        route_config,
    )

    def plan_of(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    def mk_streams(n):
        return [
            StreamConfig(
                name=f"s{i}",
                resource=f"public.t{i % 100}",
                operations=("insert", "delete"),
                destination=f"topic{i}",
                routing_key="user_id",
            )
            for i in range(n)
        ]

    ev = spark.createDataFrame(
        [("INSERT", "public.t7", 1, 100, 10), ("DELETE", "public.t999", 2, 100, 11)],
        "op string, resource string, lsn long, commit_ts long, user_id long",
    )
    # small config (testbed-sized): literal map, joinless
    small = route_config(ev, mk_streams(10))
    p = plan_of(small)
    assert "Generate" in p and "Join" not in p and "BroadcastExchange" not in p
    # large config (1000 streams x 2 ops > threshold): broadcast-hash
    # join, no event-side shuffle; fan-out still correct
    assert 2000 > ROUTE_LITERAL_MAX_ENTRIES
    big = route_config(ev, mk_streams(1000))
    p = plan_of(big)
    assert "BroadcastHashJoin" in p
    assert "Exchange hashpartitioning" not in p and "SortMergeJoin" not in p
    assert big.count() == 10  # 10 streams match t7; t999 matches none
    assert {r["stream"] for r in big.collect()} == {f"s{7 + 100 * j}" for j in range(10)}


def test_route_shapes_agree_on_random_config(spark):
    # seeded-random cross-check of the hybrid's two shapes: a config
    # drawn over shared resources with random op subsets and duplicate
    # (resource, op) coverage, against events spanning matched,
    # unmatched, case-twisted, and null-resource rows — the literal map
    # and the dim join must agree row-for-row
    import random

    from outboxx_spark.config import StreamConfig
    from outboxx_spark.operators.routing import route_config

    rng = random.Random(1313)
    ops = ["insert", "update", "delete", "read"]
    streams = [
        StreamConfig(
            name=f"s{i}",
            resource=f"public.t{rng.randrange(12)}",
            operations=tuple(rng.sample(ops, rng.randrange(1, 5))),
            destination=f"topic{rng.randrange(6)}",
            routing_key="user_id",
        )
        for i in range(40)
    ]
    rows = []
    for i in range(200):
        op = rng.choice(["INSERT", "insert", "UpDaTe", "DELETE", "READ", "TRUNCATE"])
        res = rng.choice([f"public.t{rng.randrange(15)}", None])
        rows.append((op, res, i, 100, i % 7))
    ev = spark.createDataFrame(
        rows, "op string, resource string, lsn long, commit_ts long, user_id long"
    )
    lit_out = route_config(ev, streams)
    join_out = route(ev, streams_dim(spark, streams))
    assert lit_out.columns == join_out.columns
    assert lit_out.exceptAll(join_out).count() == 0
    assert join_out.exceptAll(lit_out).count() == 0
    assert lit_out.count() == join_out.count() > 0


def test_dedup_on_resource_lsn(spark):
    ev = _mini_events(spark)
    assert dedup_events(ev.unionAll(ev)).count() == ev.count()
