"""CDC feed source: the driver's ``events`` table as a change-event stream.

Spark cannot hold a Postgres replication slot from an executor, so (per
SURVEY.md framing) the wire protocol (S1/S2/S6, `src/source/postgres/
source.zig`, `pg_output_decoder.zig`) is replaced by a feed the cluster
*can* scale: a partitioned source (parquet here; Kafka in deployment)
whose monotonic ``event_id`` plays the LSN role. Everything downstream of
the wire — converter semantics (S8), routing, keying, envelope, delivery —
is reproduced faithfully.

The event_type -> operation mapping below is the testbed's converter
(S8 analog, `src/source/postgres/converter.zig:26-102`): deterministic,
declared once, and mirrored verbatim in the DuckDB oracle SQL so the
driver's correctness gate checks the exact same transformation.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from outboxx_spark.sources.tables import read_table

# Deterministic interpretation of the synthetic events table as a CDC feed:
#   op       : event_type via the CASE below (READ rows = snapshot analog)
#   resource : public.t{user_id % 4}  (4 virtual tables)
#   lsn      : event_id (monotonic, the dedup key, O4)
#   key      : user_id  (routing_key column)
#   commit ts: ts -> Unix seconds
OP_BY_EVENT_TYPE = {
    "signup": "INSERT",
    "purchase": "INSERT",
    "click": "UPDATE",
    "view": "READ",
}  # any other event_type -> DELETE
OP_CASE_SQL = (
    "CASE event_type "
    + "".join(f"WHEN '{et}' THEN '{op}' " for et, op in OP_BY_EVENT_TYPE.items())
    + "ELSE 'DELETE' END"
)

N_VIRTUAL_TABLES = 4

# DuckDB CTE mirroring read_feed() exactly — prepend to every oracle query.
# (floor(epoch()) matches Spark's flooring unix_timestamp; DuckDB CAST
# double->bigint would round-to-nearest instead.)
ORACLE_FEED_CTE = f"""
WITH feed AS (
  SELECT
    {OP_CASE_SQL} AS op,
    'public.t' || CAST(user_id % {N_VIRTUAL_TABLES} AS VARCHAR) AS resource,
    event_id AS lsn,
    CAST(floor(epoch(ts)) AS BIGINT) AS commit_ts,
    user_id,
    event_type,
    value,
    props
  FROM events
)
"""


def _to_feed(ev: DataFrame) -> DataFrame:
    """The converter (S8 analog): events rows -> flat change-feed rows.
    Shared by the batch and streaming readers."""
    return ev.select(
        F.expr(OP_CASE_SQL).alias("op"),
        F.concat(
            F.lit("public.t"),
            (F.col("user_id") % N_VIRTUAL_TABLES).cast("string"),
        ).alias("resource"),
        F.col("event_id").alias("lsn"),
        F.unix_timestamp("ts").alias("commit_ts"),
        F.col("user_id"),
        F.col("event_type"),
        F.col("value"),
        F.col("props"),
    )


def read_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events parquet -> flat change-feed DataFrame.

    Kept flat (not yet the nested ChangeEvent struct) so Catalyst can
    push column pruning into the parquet scan; the nested envelope is
    built only at serialization (F1).
    """
    return _to_feed(read_table(spark, sf_dir, "events"))


def _streamable_dir(path: str) -> str:
    """Spark's FileStreamSource requires a *directory* source (it uses the
    path itself as partition-discovery basePath). When the feed is a
    single parquet file (the raw testdata layout), expose it through a
    stable symlink directory."""
    if path.startswith("file:"):
        # same machine, different spelling: strip the scheme and fall
        # through to the local shim so a file:// (or Hadoop's canonical
        # single-slash file:/) feed works exactly like its bare-path
        # form. urlparse handles both spellings.
        path = urlparse(path).path
    elif "://" in path:
        # truly remote locations (hdfs://, s3a://) are directories or
        # stream sources in any real layout; the symlink shim below is
        # strictly the LOCAL single-file testdata accommodation and
        # os.symlink cannot span schemes
        return path
    if os.path.isdir(path):
        return path
    key = hashlib.md5(path.encode()).hexdigest()[:12]
    d = os.path.join(tempfile.gettempdir(), f"outboxx_feed_{key}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, os.path.basename(path))
    if not os.path.exists(link):
        os.symlink(path, link)
    return d


def read_feed_stream(spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1) -> DataFrame:
    """Streaming variant: file-source `readStream` over the same feed.

    ``maxFilesPerTrigger`` bounds intake per micro-batch — the Spark analog
    of the reference's 5000-event receive batches (`src/constants.zig:21`);
    in deployment the source is Kafka with ``maxOffsetsPerTrigger``.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = _streamable_dir(f"{sf_dir}/events.parquet")
    static = spark.read.parquet(path)
    ev = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )
    # Feeds written as TIMESTAMP(NANOS) read as a nanos long (legacy conf
    # above) and need an explicit conversion; micros feeds read natively as
    # timestamp_ntz and pass through — same conditional as read_table.
    ts_field = static.schema["ts"]
    if isinstance(ts_field.dataType, T.LongType):
        ev = ev.withColumn("ts", F.timestamp_micros((F.col("ts") / 1000).cast("long")))
    return _to_feed(ev)
