"""JSON envelope serializer (F1) + UPDATE new-image projection (R4).

Reference envelope (`src/serialization/json.zig:17-126`, fixture in
`src/e2e/cdc_test.zig:134-156`):

    {"op": "...",
     "data": {...new image only...},
     "meta": {"source": "postgres", "resource": "schema.table",
              "timestamp": <unix s>, "lsn": "X/X" | null}}

Key order is (op, data, meta) and (source, resource, timestamp, lsn) —
Spark's `to_json` preserves struct field order, so we declare fields in
that order. Correctness is defined as parsed-value equality, not byte
equality (SURVEY §7 'what's hard' #1).

R4: UPDATE serializes **only the new row** (`json.zig:57-70`) — the old
image exists in the domain model but never in the envelope.

Scale: `to_json(struct(...))` is a single codegen'd JVM expression —
serialization is embarrassingly parallel and the 'serialize once, fan out
N' tactic (`processor.zig:204-206`) is achieved by materializing the JSON
column *before* the routing fan-out join when N > 1.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from outboxx_spark.functions.typemap import lsn_text

SOURCE_NAME = "postgres"


def _finite_guard(c: Column, name: str) -> Column:
    """Serializer guard (`json.zig:94-100`): a non-finite float reaching
    serialization is a hard error. On the text->typed path the converter
    stringifies NaN/Inf first (S9), so this never fires for
    Postgres-sourced data — it catches typed-feed corruption."""
    return F.when(
        F.isnan(c) | (c == float("inf")) | (c == float("-inf")),
        F.raise_error(F.lit(f"NonFiniteFloat: column {name} is not JSON-serializable")),
    ).otherwise(c)


def meta_struct(resource: Column, timestamp: Column, lsn: Column) -> Column:
    """meta with the declared key order; lsn rendered in text X/X form."""
    return F.struct(
        F.lit(SOURCE_NAME).alias("source"),
        resource.alias("resource"),
        timestamp.alias("timestamp"),
        lsn_text(lsn).alias("lsn"),
    )


def envelope_json(op: Column, data: Column, resource: Column, timestamp: Column, lsn: Column) -> Column:
    """Full envelope as one JSON string column."""
    return F.to_json(
        F.struct(
            op.alias("op"),
            data.alias("data"),
            meta_struct(resource, timestamp, lsn).alias("meta"),
        ),
        # The reference serializer writes explicit nulls ("lsn": null,
        # "col": null — json.zig:57-126); Spark's default drops null keys.
        {"ignoreNullFields": "false"},
    )


def feed_envelope(df: DataFrame, data_cols: list[str]) -> Column:
    """The JSON envelope of each row of a flat feed frame.

    ``data_cols`` is the new-image payload (R4: for UPDATE the feed
    carries only the new image downstream). Double columns get the
    non-finite hard-error guard.
    """
    types = dict(zip(df.schema.names, df.schema.fields))
    cols = []
    for c in data_cols:
        f = types.get(c)
        if f is not None and isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            cols.append(_finite_guard(F.col(c), c).alias(c))
        else:
            cols.append(F.col(c).alias(c))
    data = F.struct(*cols)
    return envelope_json(F.col("op"), data, F.col("resource"), F.col("commit_ts"), F.col("lsn"))


def serialize_feed(df: DataFrame, data_cols: list[str]) -> DataFrame:
    """Flat feed frame -> (key columns +) ``value`` JSON envelope
    (:func:`feed_envelope`), emitted once per event; the routing
    fan-out afterwards copies the same serialized value to N streams
    without re-serializing."""
    return df.withColumn("value", feed_envelope(df, data_cols))
