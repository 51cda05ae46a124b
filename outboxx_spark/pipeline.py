"""The CDC delivery frame, shared by batch, stream, snapshot and serve.

The reference's hot path (`src/processor/processor.zig:150-184`):
receive batch, match streams, serialize once, fan out per stream with a
partition key, deliver. ``delivery_frame`` is that path, built once and
called by every caller — the batch pipeline (``routed_envelopes``), the
file-feed stream, the snapshot phase and the served Debezium query
(``streaming/job.py``):

    flat feed frame                  -- S8 converter or Debezium decode
      -> to_json envelope            -- F1, serialize ONCE
      -> explode(config map lookup)  -- R1/R2, fan-out, no join at all
      -> partition key               -- R3, per-stream ``routing_key``

Each routed row is keyed on the payload column its own stream names in
``routing_key`` (`processor.zig:231-252`), so batch and stream agree for
any config. Routing is a plan-constant map literal probed per event
(`operators/routing.py:route_config`) — no broadcast exchange, no
per-plan createDataFrame. Catalyst keeps everything in one
WholeStageCodegen span up to the sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from outboxx_spark.config import PipelineConfig, StreamConfig
from outboxx_spark.dataops.util import parallelized
from outboxx_spark.functions.envelope import feed_envelope, is_map_payload
from outboxx_spark.operators.keys import partition_key, routed_key
from outboxx_spark.operators.routing import route_config
from outboxx_spark.sources.feed import read_feed

FEED_DATA_COLS = ["user_id", "event_type", "value", "props"]

# what a sink receives: one row per (event, matched stream)
DELIVERY_COLS = ["destination", "key", "value", "resource", "op", "lsn"]

_ENVELOPE = "_envelope"


def delivery_frame(feed: DataFrame, streams: list[StreamConfig], data_cols: list[str]) -> DataFrame:
    """Flat feed frame -> serialized, routed, keyed frame: the feed's
    columns plus ``value``, ``stream``, ``destination``, ``routing_key``
    and ``key``. ``data_cols`` is the envelope payload and the set of
    columns a ``routing_key`` may name. The envelope replaces the
    payload column ``value`` only after the key is read, so a stream
    keyed on ``value`` is keyed on the payload, not on the envelope.

    A payload that is one ``map<string,string>`` row image (the
    Debezium decode, ``envelope.is_map_payload``) is the envelope's
    ``data`` as it stands, and each row is keyed on its stream's
    ``routing_key`` entry of that map; a missing entry fails fast like
    a null key."""
    serialized = feed.withColumn(_ENVELOPE, feed_envelope(feed, data_cols))  # once per event (F1)
    routed = route_config(serialized, streams)  # fan-out (R1/R2)
    if is_map_payload(feed, data_cols):
        key = partition_key(F.col(data_cols[0])[F.col("routing_key")])
    else:
        key = routed_key([s.routing_key for s in streams], data_cols)
    keyed = routed.withColumn("key", key)
    return keyed.withColumn("value", F.col(_ENVELOPE)).drop(_ENVELOPE)


def routed_envelopes(spark: SparkSession, sf_dir: str, config: PipelineConfig) -> DataFrame:
    """The full routed, serialized, keyed output: one row per
    (event, matched stream) with columns (stream, destination, key, value,
    resource, op, lsn)."""
    # The testbed feed can arrive as one file/row-group -> one
    # partition, which would serialize the (CPU-heavy) envelope build on
    # a single core. Spread it when under-partitioned; a real deployment
    # feed (Kafka / many files) skips this — inputFiles >= cores.
    feed = parallelized(read_feed(spark, sf_dir))
    return delivery_frame(feed, config.streams, FEED_DATA_COLS).select("stream", *DELIVERY_COLS)
