"""Initial snapshot source (S5): consistent bootstrap reads as READ events.

Reference behavior (`src/source/postgres/snapshot.zig:75-152`,
`source.zig:209-258`): a second connection pinned to the replication
slot's exported snapshot reads every opted-in table; each row becomes an
``op=READ`` event stamped with the slot's *start LSN* and the snapshot
wall-clock time — so snapshot and stream share one dedup boundary
(no gap, no overlap; e2e contract `src/e2e/snapshot_test.zig:24-154`).

Spark rebuild: a batch read (parquet on testdata; ``spark.read.jdbc``
with a REPEATABLE READ snapshot in deployment) with literal op/lsn/
timestamp columns, written **before** the streaming query starts (O3's
write-before-stream ordering). Scale note: the snapshot of a 100 TB
table is an embarrassingly parallel partitioned scan — no shuffle at all;
the literal columns are constant-folded by Catalyst.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from outboxx_spark.schemas import OP_READ
from outboxx_spark.sources.tables import read_table


def _stamp_read(df: DataFrame, resource: str, start_lsn: int, snapshot_ts: int) -> DataFrame:
    """Table rows -> READ change events: literal op/resource/lsn/commit_ts
    ahead of the table's own columns (the payload)."""
    return df.select(
        F.lit(OP_READ).alias("op"),
        F.lit(resource).alias("resource"),
        F.lit(start_lsn).cast("long").alias("lsn"),
        F.lit(snapshot_ts).cast("long").alias("commit_ts"),
        "*",
    )


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
    return _stamp_read(
        read_table(spark, sf_dir, table), resource or f"public.{table}", start_lsn, snapshot_ts
    )


def snapshot_table_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    *,
    start_lsn: int,
    snapshot_ts: int,
    partition_column: str | None = None,
    num_partitions: int = 32,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    properties: dict | None = None,
) -> DataFrame:
    """Deployment-path snapshot (S5): partition-parallel JDBC read of one
    table, stamped as READ events. In a real deployment the connection
    pins the replication slot's exported snapshot (`BEGIN ISOLATION
    LEVEL REPEATABLE READ; SET TRANSACTION SNAPSHOT '<name>'`,
    `snapshot.zig:75-100`) via a session-init statement; partitioning on
    a numeric key spreads the 100 TB scan across executors. Untestable
    in this container (no Postgres/JDBC driver) — covered by the parquet
    path above, which shares every downstream stage."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return _stamp_read(reader.load(), f"public.{table}", start_lsn, snapshot_ts)

