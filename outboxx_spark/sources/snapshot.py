"""Initial snapshot source (S5): consistent bootstrap reads as READ events.

Reference behavior (`src/source/postgres/snapshot.zig:75-152`,
`source.zig:209-258`): a second connection pinned to the replication
slot's exported snapshot reads every opted-in table; each row becomes an
``op=READ`` event stamped with the slot's *start LSN* and the snapshot
wall-clock time — so snapshot and stream share one dedup boundary
(no gap, no overlap; e2e contract `src/e2e/snapshot_test.zig:24-154`).

Spark rebuild: a batch read of the table's parquet with literal op/lsn/
timestamp columns, written **before** the streaming query starts (O3's
write-before-stream ordering). The deployed program (``job.serve``)
takes its snapshot from Debezium's initial snapshot instead: ``r``
events on the source topic ahead of the changes. Scale note: the snapshot of a 100 TB
table is an embarrassingly parallel partitioned scan — no shuffle at all;
the literal columns are constant-folded by Catalyst.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from outboxx_spark.schemas import OP_READ
from outboxx_spark.sources.tables import read_table


def snapshot_table(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    *,
    start_lsn: int,
    snapshot_ts: int,
    resource: str | None = None,
) -> DataFrame:
    """One table -> READ change events sharing the stream-start LSN.

    Returns a flat frame: op, resource, lsn, commit_ts + the table's own
    columns as the payload (typed path; the envelope builder nests them).
    """
    return read_table(spark, sf_dir, table).select(
        F.lit(OP_READ).alias("op"),
        F.lit(resource or f"public.{table}").alias("resource"),
        F.lit(start_lsn).cast("long").alias("lsn"),
        F.lit(snapshot_ts).cast("long").alias("commit_ts"),
        "*",
    )
