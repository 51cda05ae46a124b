"""Value type mapping (S9): Postgres text wire values -> typed columns.

Reference converter (`src/source/postgres/converter.zig:146-192`): values
arrive as text per column; a hardcoded OID set is promoted to native JSON
types, everything else stays a verbatim string:

- bool (16): 't'/'f' -> boolean
- int2/4/8 (21/23/20): parse -> i64; parse failure -> keep the string
- float4/8 (700/701): parse -> double; **NaN/±Infinity -> string** (not
  valid JSON; serializer hard-errors on non-finite, `json.zig:94-100`)
- numeric (1700): kept as **exact text**, never a float (precision,
  NaN/Inf) — à la Debezium decimal.handling.mode=string
- any other OID: verbatim string; NULL -> null
- unchanged TOAST: placeholder string so the column stays present
  (`converter.zig:127-131`, `src/constants.zig:16`)

Spark: `try_cast` gives parse-failure-keeps-string; `when` chains give
the NaN/Inf and TOAST rules. All codegen'd JVM expressions — no Python
in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from outboxx_spark.config import TOAST_PLACEHOLDER


def pg_bool(text_col: Column) -> Column:
    """'t'/'f' -> boolean (`converter.zig:183`); other values -> null."""
    return (
        F.when(text_col == "t", F.lit(True))
        .when(text_col == "f", F.lit(False))
        .otherwise(F.lit(None).cast("boolean"))
    )


def pg_int_typed(text_col: Column) -> Column:
    return text_col.try_cast("long")


def float_json_safe(d: Column) -> Column:
    """Non-finite double -> its string form, finite -> numeric. Mirrors
    'NaN/Infinity -> string' (`converter.zig:175-181`) so serialization
    never sees a non-finite float (`json.zig:94-100`)."""
    return (
        F.when(F.isnan(d), F.lit("NaN"))
        .when(d == float("inf"), F.lit("Infinity"))
        .when(d == float("-inf"), F.lit("-Infinity"))
        .otherwise(d.cast("string"))
    )


def toast_or_value(text_col: Column, unchanged: Column) -> Column:
    """Unchanged-TOAST columns render the placeholder, never a fake NULL
    (`converter.zig:127-131`)."""
    return F.when(unchanged, F.lit(TOAST_PLACEHOLDER)).otherwise(text_col)


def lsn_text(lsn: Column) -> Column:
    """u64 LSN -> Postgres text form X/X (`converter.zig:95-100`).

    Spark's ``hex`` of a long is upper-case with no leading zeros, like
    Postgres ``%X``, and cheaper than ``format_string``. Null-safe: a
    null LSN stays null through ``concat`` (the envelope serializes it
    as an explicit JSON null, json.zig:123-126)."""
    return F.concat(
        F.hex(F.shiftrightunsigned(lsn, 32)),
        F.lit("/"),
        F.hex(lsn.bitwiseAND(F.lit(0xFFFFFFFF))),
    )


# Postgres epoch (2000-01-01) offset in seconds — commit times arrive as
# microseconds since PG epoch and are stamped as Unix seconds
# (`converter.zig:19, 99`).
PG_EPOCH_UNIX = 946684800


def pg_commit_time_to_unix(commit_us: Column) -> Column:
    return (commit_us / F.lit(1_000_000)).cast("long") + F.lit(PG_EPOCH_UNIX)
