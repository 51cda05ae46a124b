"""Partition-key extraction (R3) with fail-fast on missing keys.

Reference (`src/domain/change_event.zig:173-210`,
`src/processor/processor.zig:231-252`): the configured ``routing_key``
column (default ``id``) is read from the event payload (UPDATE uses the
**new** row), stringified, and a missing key is a hard
``PartitionKeyUnavailable`` error — partitioning must never silently
collapse onto a null key.

Spark: a codegen'd ``CAST(... AS STRING)`` plus ``raise_error`` guard.
The cast handles int/string/bool/float/null exactly like the reference's
fallback stringifier; the int fast path is moot under Tungsten codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def partition_key(key_col: Column, *, fail_on_null: bool = True) -> Column:
    """Stringified Kafka partition key; null -> query failure (the
    distributed analog of fail-fast, SURVEY §7 'what's hard' #3)."""
    key = key_col.cast("string")
    if not fail_on_null:
        return key
    return F.when(
        key.isNull(),
        F.raise_error(F.lit("PartitionKeyUnavailable: routing key column is null")),
    ).otherwise(key)


def routed_key(routing_keys: list[str], data_cols: list[str]) -> Column:
    """R3 per stream, for a routed frame: each row is keyed on the
    payload column its stream names in ``routing_key``. One distinct key
    in the config is a plain column read; several are one CASE on the
    ``routing_key`` column. A key that is not a payload column yields
    null and so fails fast like a null key."""
    keys = list(dict.fromkeys(routing_keys))
    if len(keys) == 1 and keys[0] in data_cols:
        return partition_key(F.col(keys[0]))
    present = [k for k in keys if k in data_cols]
    if not present:
        return partition_key(F.lit(None))
    choice = F.when(F.col("routing_key") == present[0], F.col(present[0]).cast("string"))
    for k in present[1:]:
        choice = choice.when(F.col("routing_key") == k, F.col(k).cast("string"))
    return partition_key(choice)
