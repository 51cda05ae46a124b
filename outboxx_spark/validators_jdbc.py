"""Deployment pre-flight against a live PostgreSQL (V3, SQL form).

The catalog-based ``validators.preflight`` covers the testbed; a real
deployment must run the same checks the reference runs over libpq
(`src/source/postgres/validator.zig:76-179`), as SQL:

- ``SHOW server_version_num`` — PostgreSQL 12+ required for the logical
  replication feature set (reference: ``PQserverVersion < 120000``).
- ``SHOW wal_level`` — must be ``logical``.
- ``SELECT to_regclass('schema.table') IS NOT NULL`` — table existence;
  to_regclass resolves the whole qualified name (search_path for bare
  names) and returns NULL when absent.
- ``pg_attribute`` lookup — the stream's routing-key column must exist
  (attnum > 0, not dropped); a typo would silently route every change
  to one partition.
- ``pg_class.relreplident = 'f'`` — REPLICA IDENTITY FULL, required
  only for DELETE-tracking streams (otherwise the deleted row drops
  its non-key columns); checking it on other streams would just
  inflate UPDATE WAL.

Transport-agnostic: checks run through an injected ``execute(sql) ->
first-column value`` callable, so the same code drives a JDBC
connection, psycopg, or a test stub. All failures collect into one
fail-stop ConfigError at startup (main.zig:298-334), nothing reaches
the data path.
"""

from __future__ import annotations

from collections.abc import Callable

from outboxx_spark.config import ConfigError, PipelineConfig

MIN_SERVER_VERSION_NUM = 120000  # PostgreSQL 12, validator.zig:86

# The reference issues `SHOW server_version` / `SHOW wal_level` over
# libpq; Spark's JDBC source wraps every statement in a sub-select, and
# SHOW does not nest — current_setting() is the nestable equivalent of
# the same check.
SQL_SERVER_VERSION = "SELECT current_setting('server_version_num');"
SQL_WAL_LEVEL = "SELECT current_setting('wal_level');"


def sql_table_exists(resource: str) -> str:
    return f"SELECT to_regclass('{resource}') IS NOT NULL;"


def sql_column_exists(resource: str, column: str) -> str:
    return (
        "SELECT EXISTS (SELECT FROM pg_attribute "
        f"WHERE attrelid = to_regclass('{resource}') AND attname = '{column}' "
        "AND attnum > 0 AND NOT attisdropped);"
    )


def sql_replica_identity(resource: str) -> str:
    return f"SELECT relreplident FROM pg_class WHERE oid = to_regclass('{resource}');"


_IDENTITY_NAMES = {
    "d": "default (primary key only)",
    "i": "index",
    "n": "nothing",
    "f": "full",
}


def _identity_name(identity: str | None) -> str:
    return _IDENTITY_NAMES.get(identity or "", "unknown")


def _truthy(v) -> bool:
    # libpq renders booleans as 't'/'f'; JDBC/psycopg return real bools
    return v is True or v == "t" or v == "true"


def preflight_postgres(
    config: PipelineConfig, execute: Callable[[str], object]
) -> list[str]:
    """Run the reference's startup validation sequence. ``execute`` takes
    one SQL statement and returns the first column of the first row
    (None when the result is empty). Returns the list of statements run
    (for audit/logging); raises ConfigError with every failure at once.
    """
    errors: list[str] = []
    ran: list[str] = []

    def q(sql: str):
        ran.append(sql)
        return execute(sql)

    version = q(SQL_SERVER_VERSION)
    if version is None or int(version) < MIN_SERVER_VERSION_NUM:
        errors.append(
            f"server_version_num {version} is too old — PostgreSQL 12+ is "
            "required for logical replication"
        )

    wal_level = q(SQL_WAL_LEVEL)
    if wal_level != "logical":
        errors.append(
            f"wal_level is {wal_level!r}, but 'logical' is required for CDC "
            "(fix: set wal_level = logical in postgresql.conf and restart)"
        )

    for s in config.streams:
        if not _truthy(q(sql_table_exists(s.resource))):
            errors.append(
                f"stream {s.name!r}: table {s.resource!r} does not exist "
                "(fix: create the table or check the resource name)"
            )
            continue  # column/identity checks would only add noise
        if not _truthy(q(sql_column_exists(s.resource, s.routing_key))):
            errors.append(
                f"stream {s.name!r}: routing-key column {s.routing_key!r} does "
                f"not exist on {s.resource!r} (fix: set stream.sink.routing_key "
                "to an existing column)"
            )
        if "delete" in s.operations:
            identity = q(sql_replica_identity(s.resource))
            if identity is None:
                # table dropped between the two checks (reference treats
                # this as TableNotFound)
                errors.append(
                    f"stream {s.name!r}: table {s.resource!r} vanished while "
                    "checking replica identity"
                )
            elif identity != "f":
                errors.append(
                    f"stream {s.name!r}: {s.resource!r} has REPLICA IDENTITY "
                    f"{_identity_name(identity)}, but this stream tracks DELETE "
                    f"and needs the full old row (fix: ALTER TABLE {s.resource} "
                    "REPLICA IDENTITY FULL)"
                )

    if errors:
        raise ConfigError("pre-flight validation failed:\n  " + "\n  ".join(errors))
    return ran
