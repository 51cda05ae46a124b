"""Shared change-event constants for the CDC pipeline.

- The operation names (`src/domain/change_event.zig:6-12`); READ marks a
  snapshot row.
- ``DYNAMIC_DATA_SCHEMA``, the ``map<string,string>`` payload of the
  schema-on-read path: the reference's rows are dynamically-typed ordered
  (name, value) pairs (`change_event.zig:41-47`).
- ``TPCH_TABLES``, the driver testdata tables the snapshot sources read.

The envelope itself (``{op, data, meta}``, `change_event.zig:109-130`) is
built as JSON by ``envelope.serialize_feed``; no StructType of it is kept.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Operations, `src/domain/change_event.zig:6-12`. READ = snapshot row.
OP_INSERT = "INSERT"
OP_UPDATE = "UPDATE"
OP_DELETE = "DELETE"
OP_READ = "READ"
ALL_OPS = (OP_INSERT, OP_UPDATE, OP_DELETE, OP_READ)

# Schema-on-read payload: ordered map of column name -> text value, the
# Spark analog of RowData (`change_event.zig:41-47`) for tables not known
# at compile time.
DYNAMIC_DATA_SCHEMA = T.MapType(T.StringType(), T.StringType(), True)

# ---------------------------------------------------------------------------
# Driver testdata schemas (snapshot sources; see TESTDATA.md). Declaring
# them (instead of inferring) plays the RelationRegistry role
# (`src/source/postgres/relation_registry.zig`): in the Spark rebuild the
# tables are known from config, so the registry is static.
# ---------------------------------------------------------------------------

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
