"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

Every query here is a thin composition over ``outboxx_spark`` operators;
the oracle SQL mirrors the exact same declared semantics (shared feed CTE
and stream VALUES from the same modules).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from outboxx_spark.config import TOAST_PLACEHOLDER
from outboxx_spark.dataops import bloom, cms, dedup_recall, hll, reservoir, theta
from outboxx_spark.dataops import corpus_diff as corpus_diff_mod
from outboxx_spark.dataops import normalize as normalize_mod
from outboxx_spark.operators import drift, incragg
from outboxx_spark.dataops import curation as cu
from outboxx_spark.dataops import multimodal as mm
from outboxx_spark.dataops import dedup as dd
from outboxx_spark.dataops import editdist as ed
from outboxx_spark.dataops import similarity as sim
from outboxx_spark.dataops import text as tx
from outboxx_spark.dataops.bpe import bpe_merges_sql, bpe_train
from outboxx_spark.dataops.chunking import chunk_documents_sql, pack_sequences_sql
from outboxx_spark.cohort import cohort_retention_sql
from outboxx_spark.dataops.pq import ivf_pq_topk_sql, pq_topk_sql
from outboxx_spark.dataops.segments import strip_boilerplate_sql
from outboxx_spark.dataops.sharding import assign_shards_sql
from outboxx_spark.dataops.incremental import incremental_dedup_pairs_sql
from outboxx_spark.dataops.multimodal import (
    MM_FEATURES_SQL,
    MM_METADATA_SQL,
    attach_blobs,
    decode_features_long,
)
from outboxx_spark.functions.envelope import serialize_feed
from outboxx_spark.functions.typemap import toast_or_value
from outboxx_spark.operators.dedup import dedup_events
from outboxx_spark.operators.routing import route_config
from outboxx_spark.operators.tally import tally
from outboxx_spark.pipeline import FEED_DATA_COLS, routed_envelopes
from outboxx_spark import integrity, olap, olap_approx, olap_tpch, olap_tpch_heavy, olap_tpch_rest
from outboxx_spark.dataops import audio as audio_mod
from outboxx_spark.dataops import linededup
from outboxx_spark.operators import pagerank, triangles, zorder
from outboxx_spark.dataops import semdedup
from outboxx_spark.dataops import substring as substr_mod
from outboxx_spark.operators.asof import asof_join, asof_join_sql
from outboxx_spark.operators.materialize import materialize, materialize_sql
from outboxx_spark.operators.windows import (
    sessionize,
    sessionize_sql,
    windowed_tally,
    windowed_tally_sql,
)
from outboxx_spark.sources.feed import ORACLE_FEED_CTE, read_feed
from outboxx_spark.operators.materialize import SCD2_INTERVALS_SQL_BODY
from outboxx_spark.operators.materialize import _op_rank_sql, snapshot_diff_sql
from outboxx_spark.operators.tally import OP_PIVOT_SQL_BODY
from outboxx_spark.streaming.joins import UPDATE_INSERT_PAIRS_SQL
from outboxx_spark.sources.json_feed import parse_envelopes, typed_projection
from outboxx_spark.sources.pgoutput import decode_stream, encode_feed_as_pgoutput
from outboxx_spark.sources.snapshot import snapshot_table
from outboxx_spark.sources.tables import read_table
from outboxx_spark.testbed import default_config, streams_values_sql

# Fixed literals for the snapshot queries: the 'slot start LSN' and
# snapshot wall-clock shared by every READ row (O4 dedup boundary).
SNAP_LSN = 0
SNAP_TS = 1704067200  # 2024-01-01 00:00:00 UTC


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full CDC batch pipeline (feed -> serialize once ->
    broadcast-routed fan-out -> partition key) at sf0.001."""
    return routed_envelopes(spark, "/root/testdata/sf0.001", default_config())


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def _routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    feed = read_feed(spark, sf_dir)
    return route_config(feed, default_config().streams)


def q_route_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1/R2: one row per (event, matched stream), incl. 2-way fan-out on
    public.t0 INSERTs and dropped events for unrouted public.t3."""
    df = routed_envelopes(spark, sf_dir, default_config())
    return df.select("stream", "destination", "resource", "op", "lsn", "key")


def q_tally(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: per-(stream, op) counts of routed events."""
    return tally(_routed(spark, sf_dir))


def q_envelope_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: serialize the envelope, parse it back, compare parsed values
    (op/meta/data) against the oracle's direct computation."""
    from outboxx_spark.dataops.util import parallelized

    # to_json+from_json are the CPU of this query; spread the
    # single-file testbed scan (no-op when the feed is well-partitioned)
    feed = parallelized(read_feed(spark, sf_dir))
    env = serialize_feed(feed, FEED_DATA_COLS)
    # Parse the envelope back ONCE (from_json with a declared schema is a
    # single codegen'd parse; get_json_object xN would re-parse per field).
    parsed = F.from_json(
        F.col("value"),
        "op string, data struct<user_id:long, event_type:string, value:double, props:string>, "
        "meta struct<source:string, resource:string, timestamp:long, lsn:string>",
    )
    return env.select(parsed.alias("e")).select(
        F.col("e.op").alias("op_rt"),
        F.col("e.meta.source").alias("source_rt"),
        F.col("e.meta.resource").alias("resource_rt"),
        F.col("e.meta.timestamp").alias("ts_rt"),
        F.col("e.meta.lsn").alias("lsn_text"),
        F.col("e.data.user_id").alias("user_id_rt"),
        F.col("e.data.value").alias("value_rt"),
        F.col("e.data.props").alias("props_rt"),
    )


def q_partition_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R3: stringified routing key; null keys fail the query (fail-fast
    path unit-tested; the feed has no null keys)."""
    feed = read_feed(spark, sf_dir)
    return feed.select(F.col("user_id").cast("string").alias("key"), "lsn")


def q_update_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4: UPDATE events carry only the new image downstream."""
    feed = read_feed(spark, sf_dir)
    return feed.filter(F.col("op") == "UPDATE").select("lsn", "user_id", "value", "props")


def q_read_optin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2: READ events route only to read-opted streams."""
    return _routed(spark, sf_dir).filter(F.col("op") == "READ").select("stream", "resource", "lsn")


def q_dedup_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4: at-least-once duplicates collapse on (resource, lsn)."""
    feed = read_feed(spark, sf_dir).select("resource", "lsn", "op", "user_id")
    return dedup_events(feed.unionAll(feed))


def q_snapshot_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: snapshot rows as op=READ sharing the stream-start LSN."""
    return snapshot_table(spark, sf_dir, "customer", start_lsn=SNAP_LSN, snapshot_ts=SNAP_TS)


def q_type_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9: typed promotion — ints typed, numeric-as-exact-string, bool,
    verbatim strings (NaN/Inf + TOAST rules unit-tested)."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").cast("long").alias("okey"),
        F.col("l_linenumber").cast("long").alias("lineno"),
        F.col("l_quantity").cast("decimal(20,6)").cast("string").alias("qty_numeric"),
        (F.col("l_quantity") > 25).alias("is_bulk"),
        F.col("l_returnflag").alias("ret_flag"),
    )


def q_toast_placeholder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9/TOAST: unchanged columns render the placeholder, never NULL
    (error events stand in for unchanged-TOAST rows)."""
    feed = read_feed(spark, sf_dir)
    return feed.select(
        "lsn",
        toast_or_value(F.col("props"), F.col("event_type") == "error").alias("props_out"),
    )


def q_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4: replication-lag shape — per-resource staleness vs the feed head
    (wall-clock replaced by the deterministic feed max for the oracle)."""
    feed = read_feed(spark, sf_dir)
    per_res = feed.groupBy("resource").agg(F.max("commit_ts").alias("head"))
    gmax = F.max("head").over(W.partitionBy())
    return per_res.select("resource", (gmax - F.col("head")).alias("lag_s"))


def q_pgoutput_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/S7/S8: feed -> pgoutput binary stream (testbed encoder) ->
    mapInPandas decoder with per-partition relation registry -> typed
    events. Oracle = the plain feed (READ excluded: snapshot rows never
    ride the WAL)."""
    feed = read_feed(spark, sf_dir)
    decoded = decode_stream(encode_feed_as_pgoutput(feed))
    return decoded.select(
        "op",
        "resource",
        "lsn",
        "commit_ts",
        F.col("data")["user_id"].cast("long").alias("user_id"),
        F.col("data")["event_type"].alias("event_type"),
        F.col("data")["value"].cast("double").alias("value"),
        F.col("data")["props"].alias("props"),
    )


def q_debezium_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deployment feed path: flat feed -> Debezium change-event JSON
    (testbed encoder, bare-payload shape) -> parse_debezium -> typed
    events. Oracle = the plain feed (encode∘decode must be identity on
    every carried field, including the ms clock and READ snapshots —
    unlike pgoutput, Debezium carries snapshot reads as op 'r')."""
    from outboxx_spark.sources.debezium import (
        encode_feed_as_debezium,
        parse_debezium,
    )

    feed = read_feed(spark, sf_dir)
    # Materialize the testbed encode: it stands in for the Kafka broker
    # (deployment input is materialized bytes by definition), and
    # leaving it lazy lets the decoder's pushed-down skip filter
    # re-run the to_json ENCODER per reference (measured 4.8s -> 2.3s
    # at sf0.1, rebuild-per-pass including this checkpoint)
    enc = encode_feed_as_debezium(feed).localCheckpoint(eager=True)
    events = parse_debezium(enc)
    return events.select(
        "op",
        "resource",
        "lsn",
        F.col("commit_ts").alias("commit_ts_ms"),
        F.col("data")["user_id"].cast("long").alias("user_id"),
        F.col("data")["event_type"].alias("event_type"),
        F.col("data")["value"].cast("double").alias("value"),
        F.col("data")["props"].alias("props"),
        "snapshot",
    )


def q_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resilient aggregation (operators/skew.py): salted two-phase
    groupBy must equal the direct GROUP BY for algebraic aggregates —
    the oracle IS the unsalted form. lsn (BIGINT) as the measure keeps
    the sums exact across engines (float sums would be partial-order
    dependent)."""
    from outboxx_spark.operators.skew import salted_agg

    feed = read_feed(spark, sf_dir)
    return salted_agg(feed, ["resource", "op"], "lsn").select(
        "resource",
        "op",
        F.col("n").alias("n_events"),
        F.col("sum").alias("lsn_sum"),
        F.col("min").alias("lsn_min"),
        F.col("max").alias("lsn_max"),
    )


def q_olap_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key-resilient salted join (operators/skew.py salted_join):
    scatter orders across 16 sub-keys, replicate the customer key map
    per salt, join on (key, salt) — must equal the plain join, so the
    oracle IS the unsalted SQL. BIGINT measures keep it order-exact."""
    from outboxx_spark.olap import money_units
    from outboxx_spark.operators.skew import salted_join

    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    return (
        salted_join(orders, cust, ["o_custkey"])
        .groupBy(F.col("c_nationkey").cast("long").alias("nationkey"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(
                money_units(
                    F.col("o_totalprice").cast("decimal(20,4)"), 100, "o_totalprice"
                )
            )
            .cast("long")
            .alias("total_cents"),
        )
    )


def q_docs_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding token-window chunking (dataops/chunking.py): 64-token
    chunks at stride 48, whitespace tokenization shared with the text
    operators — shuffle-free (posexplode inside the scan stage)."""
    from outboxx_spark.dataops.chunking import chunk_documents

    return chunk_documents(read_table(spark, sf_dir, "documents"))


def q_docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-offset sequence packing over the chunk stream: shard by
    doc_id, window cumsum, capacity-boundary assignment — one shuffle,
    deterministic regardless of partitioning."""
    from outboxx_spark.dataops.chunking import chunk_documents, pack_sequences

    return pack_sequences(chunk_documents(read_table(spark, sf_dir, "documents")))


def q_docs_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate removal (dataops/segments.py): segments
    repeated across >= 2 documents are stripped from every document —
    two partial-aggregable groupBys + one broadcast join, CCNet-style."""
    from outboxx_spark.dataops.segments import strip_boilerplate

    return strip_boilerplate(
        read_table(spark, sf_dir, "documents"), seg_len=3, min_docs=2
    )


def q_docs_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic size-balanced shard export (dataops/sharding.py):
    global weighted cumsum via the two-pass bucket-offset technique —
    must equal the oracle's single-node running sum bit-for-bit."""
    from outboxx_spark.dataops.sharding import assign_shards
    from outboxx_spark.dataops.text import tokens

    docs = read_table(spark, sf_dir, "documents")
    return assign_shards(docs, F.size(tokens(F.col("text"))), target=512)


def q_olap_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned point-in-interval range join (operators/rangejoin.py):
    events against the top-5 purchase days' +/-12h windows — a pure
    range predicate that would otherwise plan as BroadcastNestedLoop;
    the binning rewrite makes it an equi-join on the day bucket.
    Counts (BIGINT) keep the top-5 selection and output order-exact."""
    from outboxx_spark.operators.rangejoin import range_join

    ev = read_table(spark, sf_dir, "events")
    days = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "day")
        .limit(5)
    )
    intervals = days.select(
        F.col("day").alias("window_day"),
        (F.unix_timestamp("day") - 43200).alias("w_start"),
        (F.unix_timestamp("day") + 129600).alias("w_end"),
    )
    points = ev.select(
        F.unix_timestamp("ts").alias("ets"), F.col("event_type").alias("etype")
    )
    return (
        range_join(points, intervals, "ets", "w_start", "w_end", bucket=86400)
        .groupBy("window_day", "etype")
        .agg(F.count("*").cast("long").alias("n_events"))
    )


def q_olap_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-interval overlap join (operators/rangejoin.py
    interval_join): per-user daily activity spans against the top-5
    purchase days' +/-12h windows. Pairs can share many day buckets;
    the canonical-bucket predicate (bucket of greatest(start,start))
    counts each pair exactly once without a DISTINCT shuffle."""
    from outboxx_spark.operators.rangejoin import interval_join

    ev = read_table(spark, sf_dir, "events")
    spans = ev.groupBy(
        F.col("user_id").alias("uid"), F.date_trunc("day", "ts").alias("uday")
    ).agg(
        F.min(F.unix_timestamp("ts")).alias("a_start"),
        F.max(F.unix_timestamp("ts")).alias("a_end"),
    )
    days = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "day")
        .limit(5)
    )
    intervals = days.select(
        F.col("day").alias("window_day"),
        (F.unix_timestamp("day") - 43200).alias("w_start"),
        (F.unix_timestamp("day") + 129600).alias("w_end"),
    )
    return (
        interval_join(
            spans.drop("uday"), intervals, ("a_start", "a_end"), ("w_start", "w_end"), 86400
        )
        .groupBy("window_day")
        .agg(
            F.count("*").cast("long").alias("n_spans"),
            F.countDistinct("uid").cast("long").alias("n_users"),
        )
    )


def q_emb_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composition (dataops/pq.py): coarse lists prune the
    corpus, ADC over 8-byte codes ranks inside the probed lists, exact
    cosine re-ranks the shortlist — the scan shape production ANN runs
    at corpus scale."""
    from outboxx_spark.dataops.pq import ivf_pq_topk

    return ivf_pq_topk(read_table(spark, sf_dir, "embeddings"))


def q_olap_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix (cohort.py): first-purchase week cohorts
    x weekly activity — two shuffles on user_id, integer week offsets,
    exact distinct counts."""
    from outboxx_spark.cohort import cohort_retention

    return cohort_retention(read_table(spark, sf_dir, "events"))


def q_emb_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (dataops/pq.py): 32x-compressed
    codes, per-query lookup tables, sequential-fold scoring — the
    codebooks/LUTs are literals shared with the oracle, so ranks are
    engine-exact."""
    from outboxx_spark.dataops.pq import pq_topk

    return pq_topk(read_table(spark, sf_dir, "embeddings"))


def q_datasource_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Spark 4 Python DataSource (format('outboxx_cdc')): its
    batch output must equal the native feed projection."""
    from outboxx_spark.sources.datasource import register

    register(spark)
    return spark.read.format("outboxx_cdc").option("path", sf_dir).load()


def q_json_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deployment ingestion path: serialized envelopes -> from_json with
    schema-on-read map payload -> typed per-table projection. Proves the
    full serialize/parse/type cycle incl. the X/X LSN inverse."""
    from outboxx_spark.dataops.util import parallelized

    feed = parallelized(read_feed(spark, sf_dir))
    env = serialize_feed(feed, FEED_DATA_COLS).select("value")
    parsed = parse_envelopes(env)
    return typed_projection(
        parsed,
        {"user_id": "long", "event_type": "string", "value": "double", "props": "string"},
    )


def q_windowed_tally(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time tally per (hour, resource, op)."""
    return windowed_tally(read_feed(spark, sf_dir), window_s=3600)


def q_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization per user (30 min gap)."""
    return sessionize(read_feed(spark, sf_dir), gap_s=1800)


def q_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each feed event enriched with the user's latest order
    at or before the event time (union + one window pass — Spark's
    scalable ASOF formulation)."""
    feed = read_feed(spark, sf_dir).select("lsn", "user_id", "commit_ts")
    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.unix_timestamp("o_orderdate").alias("o_ts"),
        "o_orderkey",
        "o_totalprice",
    )
    return asof_join(
        feed,
        orders,
        left_key="user_id",
        right_key="o_custkey",
        left_ts="commit_ts",
        right_ts="o_ts",
        right_payload=["o_orderkey", "o_totalprice"],
        right_order="o_orderkey",
    )


def q_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog compaction: latest state per (resource, key), DELETE
    drops the row — the consumer-side MERGE/SCD1 view of the stream."""
    return materialize(read_feed(spark, sf_dir))


# ---------------------------------------------------------------------------
# training-data pipeline operators (documents / embeddings)
# ---------------------------------------------------------------------------


def q_docs_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy survivors."""
    return dd.exact_dedup_groups(read_table(spark, sf_dir, "documents"))


# deterministic PII decoration shared by the Spark query and the DuckDB
# oracle: the synthetic corpus carries no real PII, so both engines
# append the same email/IP/phone shapes before redacting — testing the
# regex chain end-to-end on every row
PII_SUFFIX_SPARK = lambda: F.concat(  # noqa: E731
    F.col("text"),
    F.lit(" contact user"),
    F.col("doc_id").cast("string"),
    F.lit("@mail.example.org ip 10.0."),
    (F.col("doc_id") % 256).cast("string"),
    F.lit(".5 call 555-012-"),
    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
)
PII_SUFFIX_SQL = (
    "concat(text, ' contact user', CAST(doc_id AS VARCHAR), "
    "'@mail.example.org ip 10.0.', CAST(doc_id % 256 AS VARCHAR), "
    "'.5 call 555-012-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'))"
)

SAMPLE_RATES = {"en": 0.5, "de": 0.25, "zh": 1.0}
MIX_WEIGHTS = {"src0": 2.5, "src1": 0.25, "src2": 1.0}


def q_docs_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: email/IP/phone -> placeholder tokens, pure
    codegen'd regexp_replace chain (no shuffle, no Python)."""
    docs = read_table(spark, sf_dir, "documents").withColumn("text", PII_SUFFIX_SPARK())
    return cu.pii_redact(docs)


def q_docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language sampling: keep decision is a pure
    hash of (salt, doc_id) — reproducible across engines and re-runs."""
    return cu.stratified_sample(read_table(spark, sf_dir, "documents"), SAMPLE_RATES)


def q_docs_weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted corpus mixing: src0 x2.5 (upsample), src1 x0.25
    (downsample), src2 x1.0; deterministic fractional copies."""
    return cu.weighted_mix(read_table(spark, sf_dir, "documents"), MIX_WEIGHTS)


def q_docs_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition counters per document (bigram total /
    distinct / top frequency)."""
    return cu.repetition_features(read_table(spark, sf_dir, "documents"))


def q_docs_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-dup pair graph: min-label
    propagation (Spark) vs recursive-CTE transitive closure (oracle)."""
    pairs = dd.minhash_dedup_pairs(read_table(spark, sf_dir, "documents"), k=3, threshold=0.5)
    return cu.dup_clusters(pairs)


def q_docs_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: token/stopword/uniqueness features."""
    return tx.quality_features(read_table(spark, sf_dir, "documents"))


def q_docs_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language ID with deterministic argmax."""
    return tx.lang_id(read_table(spark, sf_dir, "documents"))


def q_docs_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints: md5 + min-shingle-hash."""
    return tx.fingerprint(read_table(spark, sf_dir, "documents"))


def q_docs_ngram_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (inverted-index join)."""
    return dd.ngram_jaccard_pairs(read_table(spark, sf_dir, "documents"), k=3, threshold=0.5)


def q_docs_edit_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein near-dup pairs (typo-level duplication, d=4) via the
    provably-complete q-gram prefix filter; oracle is an independent
    char-bag-prefiltered brute force."""
    return ed.edit_distance_pairs(read_table(spark, sf_dir, "documents"), d=4)


def q_docs_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates + exact verification; oracle = the exact
    Jaccard pair set (128 perms / 32 bands -> recall ~1-5e-8 at j>=0.8)."""
    return dd.minhash_dedup_pairs(read_table(spark, sf_dir, "documents"), k=3, threshold=0.5)


def q_docs_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash signatures."""
    return dd.simhash(read_table(spark, sf_dir, "documents"))


def q_docs_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs at Hamming<=3 via pigeonhole-exact banded join;
    oracle = brute-force O(n^2) scan."""
    return dd.simhash_near_pairs(dd.simhash(read_table(spark, sf_dir, "documents")), max_hamming=3)


def q_docs_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex tokenizer: word pieces = letter runs / digit runs /
    single punctuation. Token counting for irregular text."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.size(tx.bpe_tokens(F.col("text"))).cast("long").alias("n_pieces")
    )


def q_docs_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs -> corpus: greedy min-id survivors after MinHash-LSH dedup
    (oracle computes the same survivors from the exact pair set)."""
    return dd.dedup_survivors(read_table(spark, sf_dir, "documents"), k=3, threshold=0.5)


def q_docs_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed curation filter (length + repetitiveness gates)."""
    return tx.curate(read_table(spark, sf_dir, "documents"))


def q_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON payload extraction from the props column."""
    feed = read_feed(spark, sf_dir)
    return feed.select(
        "lsn",
        F.get_json_object(F.col("props"), "$.k").cast("long").alias("k"),
    )


def q_emb_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for the first 10 query vectors."""
    return sim.ann_bruteforce_topk(read_table(spark, sf_dir, "embeddings"), n_queries=10, k=10)


def q_emb_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (threshold 0.4)."""
    return sim.embedding_near_dup_pairs(read_table(spark, sf_dir, "embeddings"), threshold=0.4)


def q_emb_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed (LSH) embedding near-dup in its WINNING regime: high
    threshold (0.8), where (1-acos(c)/pi)^planes per-table collision
    math actually prunes. The corpus's natural pairs top out near 0.6,
    so the query deterministically plants near-identical copies first
    (cosine >= 0.9996 by construction — miss probability < 1.1e-7 at
    16 planes x 8 tables); oracle is the exact O(n^2) pair set over
    the same augmented corpus. The 0.4-threshold near-dup slot is
    IVF-only (emb_near_dup_ivf) — hyperplane LSH cannot prune there
    (regime note in dataops/similarity.py)."""
    aug = sim.with_planted_near_dups(read_table(spark, sf_dir, "embeddings"))
    return sim.embedding_near_dup_pairs_lsh(aug, threshold=0.8, n_planes=16, n_tables=8)


def q_cdc_op_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: operation-mix matrix per resource (explicit value list ->
    single conditional-count hash aggregate, no discovery pass)."""
    from outboxx_spark.operators.tally import op_pivot

    return op_pivot(read_feed(spark, sf_dir))


def q_cdc_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 validity intervals per (resource, user_id): one
    window pass (lead over lsn) turns the changelog into as-of
    queryable history."""
    from outboxx_spark.operators.materialize import scd2_intervals

    return scd2_intervals(read_feed(spark, sf_dir))


def q_cdc_update_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the watermarked stream-stream join: (insert,
    update) pairs on the same (resource, user_id) within 1 hour, with
    integer pairing lag. The streaming form
    (streaming/joins.pair_updates_with_inserts_stream) is pinned equal
    to this by the convergence test."""
    from outboxx_spark.sources.feed import read_feed
    from outboxx_spark.streaming.joins import pair_updates_with_inserts

    return pair_updates_with_inserts(read_feed(spark, sf_dir))


def q_emb_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall of the LSH ANN path vs exact brute force — the
    quality-drift metric a production ANN index monitors. Deterministic
    both sides, so fully oracle-checked."""
    return sim.ann_recall(read_table(spark, sf_dir, "embeddings"), n_queries=10, k=10)


def q_docs_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing any 5-gram with
    the eval slice (doc_id < 20), with overlap evidence counts."""
    return cu.contamination(read_table(spark, sf_dir, "documents"), eval_max_id=20, k=5)


def q_emb_near_dup_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-blocked embedding near-dup: 64 k-means blocks, multi-assign
    6, + exact cosine verify — the low-threshold scale path where
    hyperplane LSH can't prune. Oracle mirrors the blocked computation
    exactly (deterministic centroids inlined); recall vs the exact pair
    set is measured in tests (~92% at 0.56x candidate factor on this
    corpus)."""
    return sim.embedding_near_dup_pairs_ivf(read_table(spark, sf_dir, "embeddings"), threshold=0.4)


def q_emb_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: coarse quantizer + probed inverted lists (approximate;
    rows-only check, recall asserted in tests)."""
    return sim.ivf_ann_topk(read_table(spark, sf_dir, "embeddings"), n_queries=10, k=10)


def q_emb_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN (approximate; rows-only check — recall vs
    brute force asserted in tests/test_dataops.py)."""
    return sim.lsh_ann_topk(read_table(spark, sf_dir, "embeddings"), n_queries=10, k=10)


def q_mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing as a checked query: binary blobs split
    into 64-byte frames by the mapInPandas sampler, projected to
    hashable scalars (index, length, md5). The oracle mirrors frames as
    text substrings — the corpus is pure ASCII, so byte slicing and
    char slicing coincide (verified: max octet-char diff is 0)."""
    from outboxx_spark.dataops.multimodal import attach_blobs, frame_sample

    frames = frame_sample(attach_blobs(read_table(spark, sf_dir, "documents")))
    return frames.select(
        "doc_id",
        "frame_idx",
        F.octet_length("frame").cast("long").alias("frame_len"),
        F.md5("frame").alias("frame_md5"),
    )


def q_mm_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata with REAL header decode: the testbed
    synthesizes a deterministic text/PNG/JPEG blob mix, and the
    operator parses width/height back out of the PNG IHDR / JPEG SOF
    bytes (pure Python, no image library). The oracle recomputes the
    dimensions arithmetically from doc_id, so a hash match proves the
    byte-level encode -> header-parse round-trip."""
    from outboxx_spark.dataops.multimodal import media_metadata, synth_media_blobs

    return media_metadata(synth_media_blobs(read_table(spark, sf_dir, "documents")))


def q_mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stubbed decode via mapInPandas, exploded to (doc_id, dim, value)
    scalars; oracle recomputes the byte-chunk means in SQL."""
    blobs = attach_blobs(read_table(spark, sf_dir, "documents"))
    return decode_features_long(blobs)


def q_cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-based CDC: diff the materialized table state at the
    feed's half-LSN point against the final state — emits the
    INSERT/UPDATE/DELETE set between the two snapshots (the WAL-less
    capture mode, and the standard replication-validation tool)."""
    from outboxx_spark.operators.materialize import snapshot_diff

    feed = read_feed(spark, sf_dir)
    half = feed.agg(F.max("lsn")).first()[0] // 2
    old = materialize(feed.filter(F.col("lsn") <= half))
    new = materialize(feed)
    return snapshot_diff(old, new, compare_cols=("event_type", "value"))


def q_cdc_gap_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delivery-completeness audit as a query (tools/check_gaps.py's
    contract, first-class): per resource, every jump in the LSN
    sequence — (resource, prev_lsn, lsn, gap) for each consecutive pair
    more than 1 apart. Resources interleave the global LSN sequence, so
    per-resource gaps are expected and deterministic; a GLOBAL gap
    would be a delivery bug. One lag() window per resource partition —
    a single keyed shuffle, no self-join."""
    feed = read_feed(spark, sf_dir)
    w = W.partitionBy("resource").orderBy("lsn")
    return (
        feed.select("resource", "lsn")
        .withColumn("prev_lsn", F.lag("lsn").over(w))
        .filter(F.col("prev_lsn").isNotNull() & (F.col("lsn") - F.col("prev_lsn") > 1))
        .select(
            "resource",
            "prev_lsn",
            "lsn",
            (F.col("lsn") - F.col("prev_lsn")).alias("gap"),
        )
    )


def q_cdc_state_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel: table state as of the feed's midpoint commit time —
    materialize over events with commit_ts <= T (latest-by-LSN among
    them). The event-time counterpart of cdc_snapshot_diff's LSN cut;
    at scale the commit_ts filter prunes partitions of a time-
    partitioned changelog before the one keyed shuffle."""
    feed = read_feed(spark, sf_dir)
    lo, hi = feed.agg(F.min("commit_ts"), F.max("commit_ts")).first()
    t = (int(lo) + int(hi)) // 2
    return materialize(feed.filter(F.col("commit_ts") <= t))


def q_docs_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary top-100 by occurrence (tokenizer-training
    candidate pass); deterministic (count desc, token) order."""
    return tx.vocab_top_tokens(read_table(spark, sf_dir, "documents"), k=100)


def q_docs_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document (keyword extraction); scores
    rounded to 6dp before ranking for cross-engine determinism."""
    return tx.tfidf_top_terms(read_table(spark, sf_dir, "documents"), top=5)


def q_emb_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every vector's coarse-quantizer cluster + cluster population;
    oracle retrains bit-identical centroids in SQL."""
    return sim.kmeans_assignments(read_table(spark, sf_dir, "embeddings"))


def q_docs_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training as a checked query: the learned merge
    table (rule_idx, pair_a, pair_b) over the documents corpus. The
    oracle replays the identical integer/string algorithm in pure
    Python over the same parquet and inlines the rules as VALUES
    (the inlined-model oracle pattern of the k-means queries)."""
    merges = bpe_train(read_table(spark, sf_dir, "documents"), n_merges=12)
    rows = [(i, a, b) for i, (a, b) in enumerate(merges)]
    return spark.createDataFrame(rows, "rule_idx int, pair_a string, pair_b string")


def q_docs_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup store semantics as a checked batch query:
    ingest the corpus in two fixed halves (doc_id < count//2 first)
    through a throwaway store and emit every verified duplicate pair
    with the batch that dropped it. First-seen-wins across batches is
    the checked property: a batch-0 casualty never blocks a batch-1
    doc. The result is checkpointed so the temp store can be deleted
    before the driver collects. n_store_buckets=8 here (not the
    production 64): the parameter is pruning-granularity layout only —
    the pair output is identical for any value — and sf-scale batches
    pay per-output-directory write overhead 64 buckets can't amortize
    (measured 10.9s -> 7.5s at sf0.1 for 64 -> 16, another ~0.4s for
    16 -> 8 after the r7 one-materialization restructure)."""
    import shutil
    import tempfile
    from concurrent.futures import ThreadPoolExecutor

    from outboxx_spark.dataops.incremental import (
        commit_dedup_batch,
        prepare_dedup_batch,
        read_dedup_pairs,
    )
    from outboxx_spark.dataops.util import conf_override

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    half = docs.count() // 2
    root = tempfile.mkdtemp(prefix="outboxx_incdedup_q_")
    try:
        store = f"{root}/store"
        # AQE off for the ingest window only: every ingest job is
        # batch-sized and explicitly planned (hinted broadcasts,
        # explicit bucket repartitions, partition-pruned store scans),
        # so runtime re-planning buys nothing while its per-shuffle
        # stage barrier costs ~0.6s across the ~10 small jobs at sf0.1.
        # Production deliveries large enough for AQE's skew handling
        # to matter simply skip this override.
        with conf_override(spark, "spark.sql.adaptive.enabled", "false"):
            # pipelined ingest (the operator's intended continuous-feed
            # shape): delivery 1's store-independent preparation (the
            # Arrow minhash pass) runs concurrently with delivery 0's
            # store commit; commits stay in batch order
            with ThreadPoolExecutor(max_workers=1) as pool:
                prep0 = prepare_dedup_batch(
                    docs.filter(F.col("doc_id") < half), n_store_buckets=8
                )
                fut1 = pool.submit(
                    prepare_dedup_batch,
                    docs.filter(F.col("doc_id") >= half),
                    n_store_buckets=8,
                )
                try:
                    commit_dedup_batch(prep0, store, batch_id=0)
                except BaseException:
                    # batch 1 was prepared concurrently and only its
                    # commit unpersists it — release the cache before
                    # propagating, or it leaks for the session
                    try:
                        p1 = fut1.result()
                        if p1 is not None:
                            p1.combined.unpersist()
                    except Exception:
                        pass  # prepare itself failed: already unpersisted
                    raise
                commit_dedup_batch(fut1.result(), store, batch_id=1)
            return read_dedup_pairs(spark, store).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Order policy (standing; window regenerated for r15 by
    # `python tools/touched_queries.py --rewrite`): the driver
    # records exactly the FIRST 50 dict entries. build_window() puts
    # (1) never-checked / would-breach-bound queries, (2) queries
    # touched since the round base, (3) stalest-first fill there;
    # test_entry_contract.py asserts the MAX_STALENESS bound and the
    # feasibility corollary (see tools/touched_queries.py).
    return {
        # -- r15 driver window (50): forced, then touched, then
        # stalest-first fill --
        "olap_product_profit": olap_tpch_rest.product_profit,
        "olap_returned_items": olap_tpch_rest.returned_item_customers,
        "olap_important_stock": olap_tpch_rest.important_stock,
        "olap_shipping_punctuality": olap_tpch_rest.shipping_punctuality,
        "olap_promotion_effect": olap_tpch_rest.promotion_effect,
        "olap_top_supplier": olap_tpch_rest.top_supplier,
        "olap_supplier_diversity": olap_tpch_rest.part_supplier_diversity,
        "olap_dominant_suppliers": olap_tpch_rest.dominant_part_suppliers,
        "docs_substring_spans": q_docs_substring_spans,
        "mm_audio_features": audio_mod.planted_audio_features,
        "mm_audio_decimate": audio_mod.planted_audio_decimate,
        "olap_zorder_layout": zorder.q_zorder_keys,
        "mm_audio_g711": audio_mod.planted_g711_stats,
        "olap_hll_by_group": hll.hll_by_group_check,
        "olap_sample_quantiles": reservoir.sample_quantiles_check,
        "docs_edit_dedup": q_docs_edit_dedup,
        "emb_ann_lsh": q_emb_ann_lsh,
        "emb_ann_topk": q_emb_ann_topk,
        "emb_ann_recall": q_emb_ann_recall,
        "cdc_lag": q_lag,
        "cdc_datasource_feed": q_datasource_feed,
        "cdc_windowed_tally": q_windowed_tally,
        "cdc_update_pairs": q_cdc_update_pairs,
        "cdc_snapshot_diff": q_cdc_snapshot_diff,
        "cdc_state_as_of": q_cdc_state_as_of,
        "cdc_gap_check": q_cdc_gap_check,
        "olap_asof_enrich": q_asof_enrich,
        "cdc_props_extract": q_props_extract,
        "cdc_op_pivot": q_cdc_op_pivot,
        "cdc_scd2": q_cdc_scd2,
        "cdc_debezium_roundtrip": q_debezium_roundtrip,
        "cdc_skew_agg": q_skew_agg,
        "cdc_tally": q_tally,
        "cdc_route_fanout": q_route_fanout,
        "cdc_read_optin": q_read_optin,
        "cdc_incremental_agg": q_cdc_incremental_agg,
        "cdc_schema_drift": q_cdc_schema_drift,
        "cdc_envelope_roundtrip": q_envelope_roundtrip,
        "cdc_toast_placeholder": q_toast_placeholder,
        "cdc_pgoutput_roundtrip": q_pgoutput_roundtrip,
        "cdc_json_ingest": q_json_ingest,
        "cdc_partition_key": q_partition_key,
        "cdc_update_projection": q_update_projection,
        "cdc_dedup_boundary": q_dedup_boundary,
        "cdc_snapshot_read": q_snapshot_read,
        "cdc_sessions": q_sessions,
        "cdc_materialize": q_materialize,
        "docs_incremental_dedup": q_docs_incremental_dedup,
        "emb_near_dup_ivf": q_emb_near_dup_ivf,
        "emb_kmeans_assign": q_emb_kmeans_assign,
        # ---- tail (positions 51+): green at their latest check in
        # unchanged formulation; the staleness policy rotates each
        # back within MAX_STALENESS rounds ----
        "emb_diversity_sample": q_emb_diversity_sample,
        "docs_corpus_diff": corpus_diff_mod.planted_corpus_diff,
        "docs_normalize": normalize_mod.planted_normalize,
        "docs_bloom_filter": bloom.bloom_filter_check,
        "olap_hll_relational": hll.hll_relational_check,
        "docs_dedup_survivors": q_docs_dedup_survivors,
        "docs_curate": q_docs_curate,
        "docs_lang_id": q_docs_lang_id,
        "docs_quality": q_docs_quality,
        "docs_fingerprint": q_docs_fingerprint,
        "docs_exact_dedup": q_docs_exact_dedup,
        "docs_minhash_dedup": q_docs_minhash_dedup,
        "docs_ngram_dedup": q_docs_ngram_dedup,
        "docs_vocab_topk": q_docs_vocab_topk,
        "docs_dup_clusters": q_docs_dup_clusters,
        "docs_stratified_sample": q_docs_stratified_sample,
        "docs_weighted_mix": q_docs_weighted_mix,
        "docs_contamination": q_docs_contamination,
        "docs_pii_redact": q_docs_pii_redact,
        "docs_repetition": q_docs_repetition,
        "docs_source_cap": q_docs_source_cap,
        "docs_paragraph_dedup": q_docs_paragraph_dedup,
        "docs_bpe_tokens": q_docs_bpe_tokens,
        "docs_unigram_lm": q_docs_unigram_lm,
        "docs_chunk": q_docs_chunk,
        "docs_pack_sequences": q_docs_pack_sequences,
        "docs_strip_boilerplate": q_docs_strip_boilerplate,
        "docs_shard_assign": q_docs_shard_assign,
        "olap_theta_sketch": theta.theta_sketch_check,
        "docs_source_overlap": theta.source_overlap_check,
        "docs_minhash_recall": dedup_recall.minhash_recall_check,
        "docs_tfidf": q_docs_tfidf,
        "docs_bpe_merges": q_docs_bpe_merges,
        "docs_simhash": q_docs_simhash,
        "docs_simhash_pairs": q_docs_simhash_pairs,
        "emb_ann_ivf": q_emb_ann_ivf,
        "olap_big_order_customers": olap_tpch_heavy.big_order_customers,
        "olap_disjunctive_revenue": olap_tpch_heavy.disjunctive_revenue,
        "olap_dormant_rich_customers": olap_tpch_heavy.dormant_rich_customers,
        "olap_min_cost_supplier": olap_tpch_rest.min_cost_supplier,
        "olap_late_priority": olap_tpch_rest.late_order_priority,
        "olap_forecast_revenue": olap_tpch_rest.forecast_revenue,
        "olap_volume_shipping": olap_tpch_rest.volume_shipping,
        "olap_range_join": q_olap_range_join,
        "olap_interval_overlap": q_olap_interval_overlap,
        "emb_pq_topk": q_emb_pq_topk,
        "emb_ivf_pq_topk": q_emb_ivf_pq_topk,
        "olap_cohort_retention": q_olap_cohort_retention,
        "olap_triangles": triangles.q_triangles,
        "mm_jpeg_prog_adv": q_mm_jpeg_prog_adv,
        "mm_pixel_stats": q_mm_pixel_stats,
        "mm_image_dhash": q_mm_image_dhash,
        "mm_jpeg_stats": q_mm_jpeg_stats,
        "mm_jpeg_color_stats": q_mm_jpeg_color_stats,
        "mm_gif_stats": q_mm_gif_stats,
        "mm_jpeg420_stats": q_mm_jpeg420_stats,
        "mm_jpeg_prog_stats": q_mm_jpeg_prog_stats,
        "mm_video_frames": q_mm_video_frames,
        "mm_tiff_stats": q_mm_tiff_stats,
        "mm_metadata": q_mm_metadata,
        "mm_frame_sample": q_mm_frame_sample,
        "mm_features": q_mm_features,
        "emb_semantic_dedup": q_emb_semantic_dedup,
        "olap_small_qty_revenue": olap_tpch.small_qty_revenue,
        "olap_lone_return_supplier": olap_tpch.lone_return_supplier,
        "olap_market_share": olap_tpch.market_share,
        "olap_value_bands": olap.value_band_totals,
        "olap_table_profile": olap.table_profile,
        "olap_quantiles_approx": olap.event_value_quantiles_approx_check,
        "olap_cardinality_approx": olap.event_type_cardinality_approx_check,
        "olap_rollup": olap.nation_revenue_rollup,
        "olap_heavy_hitters": cms.heavy_hitters_check,
        "olap_fk_orphans": integrity.referential_integrity,
        "emb_near_dup_lsh": q_emb_near_dup_lsh,
        "emb_near_dup": q_emb_near_dup,
        "olap_spend_deciles_approx": olap_approx.customer_spend_deciles_approx_check,
        "olap_pagerank": pagerank.q_pagerank,
        "olap_value_quantiles": olap.event_value_quantiles,
        "olap_trailing_spend": olap.customer_trailing_spend,
        "olap_semi_join": olap.active_high_value_customers,
        "olap_anti_join": olap.customers_without_orders,
        "olap_order_count_dist": olap.order_count_distribution,
        "olap_cardinality": olap.event_type_cardinality,
        "olap_funnel": olap.signup_purchase_funnel,
        "olap_pricing_summary": olap.pricing_summary,
        "olap_top_customers": olap.top_revenue_customers,
        "olap_nation_volume": olap.nation_order_volume,
        "olap_topk_per_priority": olap.top_orders_per_priority,
        "olap_spend_deciles": olap.customer_spend_deciles,
        "olap_skew_join": q_olap_skew_join,
        "olap_shipping_priority": olap_tpch.shipping_priority,
        "olap_local_supplier_volume": olap_tpch.local_supplier_revenue,
        "cdc_type_mapping": q_type_mapping,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB) — same semantics, declared over the same shared
# feed CTE and stream VALUES
# ---------------------------------------------------------------------------

_STREAMS = streams_values_sql()
_ROUTED_SQL = f"""
routed AS (
  SELECT s.stream, s.destination, f.resource, f.op, f.lsn,
         CAST(f.user_id AS VARCHAR) AS key, f.user_id, f.value, f.props
  FROM feed f
  JOIN {_STREAMS} s
    ON f.resource = s.resource AND lower(f.op) = s.op_lc
)
"""


def oracle_sql() -> dict[str, str]:
    lsn_text = "printf('%X/%X', lsn >> 32, lsn & 4294967295)"
    return {
        "cdc_route_fanout": ORACLE_FEED_CTE
        + f", {_ROUTED_SQL} SELECT stream, destination, resource, op, lsn, key FROM routed",
        "cdc_tally": ORACLE_FEED_CTE
        + f", {_ROUTED_SQL} SELECT stream, op, COUNT(*) AS n FROM routed GROUP BY stream, op",
        "cdc_envelope_roundtrip": ORACLE_FEED_CTE
        + f"""
        SELECT op AS op_rt, 'postgres' AS source_rt, resource AS resource_rt,
               commit_ts AS ts_rt, {lsn_text} AS lsn_text,
               user_id AS user_id_rt, value AS value_rt, props AS props_rt
        FROM feed""",
        "cdc_partition_key": ORACLE_FEED_CTE
        + " SELECT CAST(user_id AS VARCHAR) AS key, lsn FROM feed",
        "cdc_update_projection": ORACLE_FEED_CTE
        + " SELECT lsn, user_id, value, props FROM feed WHERE op = 'UPDATE'",
        "cdc_read_optin": ORACLE_FEED_CTE
        + f", {_ROUTED_SQL} SELECT stream, resource, lsn FROM routed WHERE op = 'READ'",
        "cdc_dedup_boundary": ORACLE_FEED_CTE
        + """
        SELECT DISTINCT resource, lsn, op, user_id
        FROM (SELECT * FROM feed UNION ALL SELECT * FROM feed)""",
        "cdc_snapshot_read": f"""
        SELECT 'READ' AS op, 'public.customer' AS resource,
               CAST({SNAP_LSN} AS BIGINT) AS lsn, CAST({SNAP_TS} AS BIGINT) AS commit_ts,
               c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        FROM customer""",
        "cdc_type_mapping": """
        SELECT CAST(l_orderkey AS BIGINT) AS okey,
               CAST(l_linenumber AS BIGINT) AS lineno,
               CAST(CAST(l_quantity AS DECIMAL(20,6)) AS VARCHAR) AS qty_numeric,
               l_quantity > 25 AS is_bulk,
               l_returnflag AS ret_flag
        FROM lineitem""",
        "cdc_toast_placeholder": ORACLE_FEED_CTE
        + f"""
        SELECT lsn,
               CASE WHEN event_type = 'error' THEN '{TOAST_PLACEHOLDER}' ELSE props END AS props_out
        FROM feed""",
        "cdc_lag": ORACLE_FEED_CTE
        + """
        SELECT resource,
               (SELECT max(commit_ts) FROM feed) - max(commit_ts) AS lag_s
        FROM feed GROUP BY resource""",
        "cdc_pgoutput_roundtrip": ORACLE_FEED_CTE
        + """
        SELECT op, resource, lsn, commit_ts, user_id, event_type, value, props
        FROM feed WHERE op != 'READ'""",
        "cdc_debezium_roundtrip": ORACLE_FEED_CTE
        + """
        SELECT op, resource, lsn, commit_ts * 1000 AS commit_ts_ms,
               user_id, event_type, value, props,
               CASE WHEN op = 'READ' THEN 'true' ELSE 'false' END AS snapshot
        FROM feed""",
        "cdc_skew_agg": ORACLE_FEED_CTE
        + """
        SELECT resource, op, COUNT(*) AS n_events,
               CAST(SUM(lsn) AS BIGINT) AS lsn_sum,
               MIN(lsn) AS lsn_min, MAX(lsn) AS lsn_max
        FROM feed GROUP BY resource, op""",
        # salted join == plain join: the oracle is the unsalted form
        "olap_skew_join": """
        SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(20,4)) * 100 AS BIGINT))
                    AS BIGINT) AS total_cents
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_nationkey""",
        "docs_chunk": chunk_documents_sql(),
        "docs_pack_sequences": pack_sequences_sql(),
        "docs_strip_boilerplate": strip_boilerplate_sql(seg_len=3, min_docs=2),
        "docs_shard_assign": assign_shards_sql(target=512),
        # the oracle is the UNREWRITTEN range join (DuckDB plans the
        # pure inequality predicate natively via IEJoin)
        "olap_range_join": """
        WITH days AS (
          SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                 COUNT(*) AS n
          FROM events WHERE event_type = 'purchase' GROUP BY 1
        ),
        top5 AS (SELECT day FROM days ORDER BY n DESC, day LIMIT 5),
        intervals AS (
          SELECT day AS window_day,
                 CAST(floor(epoch(day)) AS BIGINT) - 43200 AS w_start,
                 CAST(floor(epoch(day)) AS BIGINT) + 129600 AS w_end
          FROM top5
        ),
        points AS (
          SELECT CAST(floor(epoch(ts)) AS BIGINT) AS ets,
                 event_type AS etype
          FROM events
        )
        SELECT i.window_day, p.etype, COUNT(*) AS n_events
        FROM points p JOIN intervals i
          ON p.ets >= i.w_start AND p.ets <= i.w_end
        GROUP BY i.window_day, p.etype""",
        # unrewritten interval-overlap join (inclusive both ends)
        "olap_interval_overlap": """
        WITH spans AS (
          SELECT user_id AS uid,
                 MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS a_start,
                 MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS a_end
          FROM events
          GROUP BY user_id, date_trunc('day', ts)
        ),
        days AS (
          SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                 COUNT(*) AS n
          FROM events WHERE event_type = 'purchase' GROUP BY 1
        ),
        top5 AS (SELECT day FROM days ORDER BY n DESC, day LIMIT 5),
        intervals AS (
          SELECT day AS window_day,
                 CAST(floor(epoch(day)) AS BIGINT) - 43200 AS w_start,
                 CAST(floor(epoch(day)) AS BIGINT) + 129600 AS w_end
          FROM top5
        )
        SELECT i.window_day,
               COUNT(*) AS n_spans,
               COUNT(DISTINCT s.uid) AS n_users
        FROM spans s JOIN intervals i
          ON s.a_start <= i.w_end AND i.w_start <= s.a_end
        GROUP BY i.window_day""",
        "olap_shipping_priority": olap_tpch.SHIPPING_PRIORITY_SQL,
        "olap_local_supplier_volume": olap_tpch.LOCAL_SUPPLIER_REVENUE_SQL,
        "cdc_datasource_feed": ORACLE_FEED_CTE
        + " SELECT op, resource, lsn, commit_ts, user_id, event_type, value, props FROM feed",
        "cdc_json_ingest": ORACLE_FEED_CTE
        + """
        SELECT op, resource, lsn, commit_ts, user_id, event_type, value, props
        FROM feed""",
        "cdc_windowed_tally": ORACLE_FEED_CTE + windowed_tally_sql(3600),
        "cdc_sessions": ORACLE_FEED_CTE + sessionize_sql(1800),
        "cdc_materialize": ORACLE_FEED_CTE + materialize_sql(),
        "olap_asof_enrich": ORACLE_FEED_CTE
        + ", feed_sel AS (SELECT lsn, user_id, commit_ts FROM feed), "
        "orders_sel AS (SELECT o_custkey, CAST(floor(epoch(o_orderdate)) AS BIGINT) AS o_ts, "
        "o_orderkey, o_totalprice FROM orders) "
        + asof_join_sql(
            left_table="feed_sel",
            right_table="orders_sel",
            left_key="user_id",
            right_key="o_custkey",
            left_ts="commit_ts",
            right_ts="o_ts",
            left_cols=["lsn", "user_id", "commit_ts"],
            right_payload=["o_orderkey", "o_totalprice"],
            right_order="o_orderkey",
        ).replace("WITH u AS", ", u AS", 1),
        "olap_pricing_summary": olap.PRICING_SUMMARY_SQL,
        "olap_top_customers": olap.top_revenue_customers_sql(10),
        "olap_nation_volume": olap.NATION_ORDER_VOLUME_SQL,
        "olap_topk_per_priority": olap.top_orders_per_priority_sql(5),
        "olap_rollup": olap.NATION_REVENUE_ROLLUP_SQL,
        "olap_trailing_spend": olap.CUSTOMER_TRAILING_SPEND_SQL,
        "olap_semi_join": olap.ACTIVE_HIGH_VALUE_CUSTOMERS_SQL(),
        "olap_anti_join": olap.CUSTOMERS_WITHOUT_ORDERS_SQL(),
        "olap_order_count_dist": olap.ORDER_COUNT_DISTRIBUTION_SQL,
        "olap_spend_deciles": olap.CUSTOMER_SPEND_DECILES_SQL,
        "olap_spend_deciles_approx": olap_approx.CUSTOMER_SPEND_DECILES_APPROX_CHECK_SQL,
        "olap_cardinality": olap.EVENT_TYPE_CARDINALITY_SQL,
        "olap_table_profile": olap.table_profile_sql(),
        "olap_quantiles_approx": olap.EVENT_VALUE_QUANTILES_APPROX_CHECK_SQL,
        "olap_cardinality_approx": olap.EVENT_TYPE_CARDINALITY_APPROX_CHECK_SQL,
        "olap_funnel": olap.SIGNUP_PURCHASE_FUNNEL_SQL,
        "docs_vocab_topk": tx.vocab_top_tokens_sql(k=100),
        "docs_tfidf": tx.tfidf_top_terms_sql(top=5),
        "olap_value_bands": olap.VALUE_BAND_TOTALS_SQL,
        "emb_kmeans_assign": sim.kmeans_assignments_sql(),
        "docs_contamination": cu.contamination_sql(eval_max_id=20, k=5),
        "docs_exact_dedup": dd.EXACT_DEDUP_SQL,
        "docs_quality": tx.QUALITY_SQL,
        "docs_lang_id": tx.lang_id_sql(),
        "docs_fingerprint": tx.fingerprint_sql(),
        "docs_ngram_dedup": dd.ngram_jaccard_pairs_sql(k=3, threshold=0.5),
        "docs_edit_dedup": ed.edit_distance_pairs_sql(d=4),
        "docs_pii_redact": "SELECT doc_id, "
        + cu.redact_pii_sql(PII_SUFFIX_SQL)
        + " AS clean_text FROM documents",
        "docs_stratified_sample": cu.stratified_sample_sql(SAMPLE_RATES),
        "docs_weighted_mix": cu.weighted_mix_sql(MIX_WEIGHTS),
        "docs_repetition": cu.repetition_features_sql(),
        "docs_dup_clusters": cu.dup_clusters_sql(
            dd.ngram_jaccard_pairs_sql(k=3, threshold=0.5, max_df=None)
        ),
        # MinHash-LSH + exact verification reproduces the exact pair set
        "docs_minhash_dedup": dd.ngram_jaccard_pairs_sql(k=3, threshold=0.5, max_df=None),
        "docs_simhash": dd.simhash_sql(),
        "docs_simhash_pairs": (
            "WITH sigs AS (" + dd.simhash_sql() + ") " + dd.simhash_near_pairs_sql(max_hamming=3)
        ),
        "docs_bpe_tokens": (
            "SELECT doc_id, len(regexp_extract_all(text, "
            r"'[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_pieces FROM documents"
        ),
        "docs_dedup_survivors": dd.dedup_survivors_sql(k=3, threshold=0.5),
        "docs_curate": tx.curate_sql(),
        "cdc_props_extract": ORACLE_FEED_CTE
        + " SELECT lsn, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM feed",
        "cdc_update_pairs": UPDATE_INSERT_PAIRS_SQL,
        "cdc_op_pivot": ORACLE_FEED_CTE + OP_PIVOT_SQL_BODY,
        "cdc_scd2": ORACLE_FEED_CTE + SCD2_INTERVALS_SQL_BODY,
        "cdc_gap_check": ORACLE_FEED_CTE
        + """
        SELECT resource, prev_lsn, lsn, lsn - prev_lsn AS gap FROM (
          SELECT resource, lsn,
                 lag(lsn) OVER (PARTITION BY resource ORDER BY lsn) AS prev_lsn
          FROM feed
        ) WHERE prev_lsn IS NOT NULL AND lsn - prev_lsn > 1
        """,
        "cdc_state_as_of": ORACLE_FEED_CTE
        + """
        , cut AS (
          SELECT CAST(floor((min(commit_ts) + max(commit_ts)) / 2) AS BIGINT) AS t
          FROM feed
        ),
        feed_asof AS (SELECT f.* FROM feed f, cut WHERE f.commit_ts <= cut.t)
        , latest AS (
          SELECT *, row_number() OVER (
            PARTITION BY resource, user_id
            ORDER BY lsn DESC, """
        + _op_rank_sql("op")
        + """ DESC, commit_ts DESC) AS rn
          FROM feed_asof
        )
        SELECT op, resource, lsn, commit_ts, user_id, event_type, value, props
        FROM latest WHERE rn = 1 AND op != 'DELETE'
        """,
        "cdc_snapshot_diff": ORACLE_FEED_CTE
        + f"""
        , old_latest AS (
          SELECT *, row_number() OVER (
            PARTITION BY resource, user_id
            ORDER BY lsn DESC, {_op_rank_sql("op")} DESC, commit_ts DESC) AS rn
          FROM feed WHERE lsn <= (SELECT CAST(floor(max(lsn) / 2) AS BIGINT) FROM feed)
        ),
        old_state AS (
          SELECT resource, user_id, event_type, value
          FROM old_latest WHERE rn = 1 AND op != 'DELETE'
        ),
        new_latest AS (
          SELECT *, row_number() OVER (
            PARTITION BY resource, user_id
            ORDER BY lsn DESC, {_op_rank_sql("op")} DESC, commit_ts DESC) AS rn
          FROM feed
        ),
        new_state AS (
          SELECT resource, user_id, event_type, value
          FROM new_latest WHERE rn = 1 AND op != 'DELETE'
        )
        """
        + snapshot_diff_sql(),
        "olap_value_quantiles": olap.EVENT_VALUE_QUANTILES_SQL,
        "emb_ann_topk": sim.ann_bruteforce_topk_sql(n_queries=10, k=10),
        "emb_pq_topk": pq_topk_sql(n_queries=10, topk=10),
        "emb_ivf_pq_topk": ivf_pq_topk_sql(n_queries=10, topk=10),
        "olap_cohort_retention": cohort_retention_sql(),
        "emb_near_dup": sim.embedding_near_dup_pairs_sql(threshold=0.4),
        "emb_near_dup_lsh": sim.embedding_near_dup_planted_sql(threshold=0.8),
        "emb_near_dup_ivf": sim.embedding_near_dup_pairs_ivf_sql(threshold=0.4),
        "emb_ann_lsh": sim.lsh_ann_topk_sql(n_queries=10, k=10),
        "emb_ann_ivf": sim.ivf_ann_topk_sql(n_queries=10, k=10),
        "emb_ann_recall": sim.ann_recall_sql(n_queries=10, k=10),
        "mm_features": MM_FEATURES_SQL,
        "mm_frame_sample": """
        WITH frames AS (
          SELECT doc_id, unnest(range((length(text) + 63) // 64)) AS fi, text
          FROM documents)
        SELECT doc_id, CAST(fi AS BIGINT) AS frame_idx,
               CAST(length(substring(text, CAST(fi * 64 + 1 AS BIGINT), 64)) AS BIGINT) AS frame_len,
               md5(substring(text, CAST(fi * 64 + 1 AS BIGINT), 64)) AS frame_md5
        FROM frames""",
        "mm_metadata": MM_METADATA_SQL,
        # -- promoted from the r4 staging queue --
        "docs_unigram_lm": tx.unigram_lm_scores_sql(),
        "emb_diversity_sample": sim.diversity_sample_sql(),
        # -- new r5 operators (inlined-model / two-halves mirrors) --
        "docs_bpe_merges": bpe_merges_sql(n_merges=12),
        "docs_incremental_dedup": incremental_dedup_pairs_sql(),
        # -- r10 promotion: the r9 staged queue's oracles --
        "olap_small_qty_revenue": olap_tpch.SMALL_QTY_REVENUE_SQL,
        "olap_lone_return_supplier": olap_tpch.LONE_RETURN_SUPPLIER_SQL,
        "olap_market_share": olap_tpch.MARKET_SHARE_SQL,
        "olap_heavy_hitters": cms.HEAVY_HITTERS_SQL,
        "docs_minhash_recall": dedup_recall.minhash_recall_check_sql(),
        "cdc_incremental_agg": ORACLE_FEED_CTE
        + incragg.INCREMENTAL_GROUP_TOTALS_SQL,
        "cdc_schema_drift": ORACLE_FEED_CTE + drift.SCHEMA_DRIFT_SQL,
        "olap_fk_orphans": integrity.REFERENTIAL_INTEGRITY_SQL,
        "docs_corpus_diff": corpus_diff_mod.PLANTED_CORPUS_DIFF_SQL,
        "docs_normalize": normalize_mod.PLANTED_NORMALIZE_SQL,
        "docs_bloom_filter": bloom.BLOOM_FILTER_SQL,
        "olap_hll_relational": hll.HLL_RELATIONAL_SQL,
        # -- r11 promotion: the r10 staged queue's oracles --
        "mm_pixel_stats": mm.MM_PIXEL_STATS_SQL,
        "docs_source_cap": cu.per_source_cap_sql(cap=150, source_col="lang"),
        "emb_semantic_dedup": semdedup.planted_semantic_dedup_sql(),
        "mm_image_dhash": mm.MM_IMAGE_DHASH_SQL,
        "olap_big_order_customers": olap_tpch_heavy.BIG_ORDER_CUSTOMERS_SQL(),
        "olap_disjunctive_revenue": olap_tpch_heavy.DISJUNCTIVE_REVENUE_SQL,
        "olap_dormant_rich_customers": olap_tpch_heavy.DORMANT_RICH_CUSTOMERS_SQL(),
        "docs_substring_spans": substr_mod.duplicated_spans_sql(),
        "olap_min_cost_supplier": olap_tpch_rest.MIN_COST_SUPPLIER_SQL(),
        "olap_late_priority": olap_tpch_rest.LATE_ORDER_PRIORITY_SQL(),
        "olap_forecast_revenue": olap_tpch_rest.FORECAST_REVENUE_SQL(),
        "olap_volume_shipping": olap_tpch_rest.VOLUME_SHIPPING_SQL(),
        "olap_product_profit": olap_tpch_rest.PRODUCT_PROFIT_SQL(),
        "olap_returned_items": olap_tpch_rest.RETURNED_ITEM_CUSTOMERS_SQL(),
        "olap_important_stock": olap_tpch_rest.IMPORTANT_STOCK_SQL(),
        "olap_shipping_punctuality": olap_tpch_rest.SHIPPING_PUNCTUALITY_SQL(),
        "olap_promotion_effect": olap_tpch_rest.PROMOTION_EFFECT_SQL(),
        "olap_top_supplier": olap_tpch_rest.TOP_SUPPLIER_SQL(),
        "olap_supplier_diversity": olap_tpch_rest.PART_SUPPLIER_DIVERSITY_SQL(),
        "olap_dominant_suppliers": olap_tpch_rest.DOMINANT_PART_SUPPLIERS_SQL(),
        "mm_audio_features": audio_mod.AUDIO_FEATURES_SQL,
        "mm_audio_decimate": audio_mod.AUDIO_DECIMATE_SQL(),
        "mm_jpeg_stats": mm.MM_JPEG_STATS_SQL,
        "docs_paragraph_dedup": linededup.DEDUP_PARAGRAPHS_SQL(),
        "olap_zorder_layout": zorder.ZORDER_KEYS_SQL(),
        "mm_jpeg_color_stats": mm.MM_JPEG_COLOR_STATS_SQL(),
        "mm_gif_stats": mm.MM_GIF_STATS_SQL,
        "mm_jpeg420_stats": mm.MM_JPEG_420_STATS_SQL(),
        "olap_pagerank": pagerank.PAGERANK_SQL(),
        # baseline corpus formula + the adversarial non-constant-block
        # progressive==baseline equality flag (r10 advice: the DC-only
        # corpus was blind to AC-refinement bugs)
        "mm_jpeg_prog_stats": mm.MM_JPEG_PROG_STATS_SQL,
        "mm_jpeg_prog_adv": mm.MM_JPEG_PROG_ADV_SQL,
        "mm_audio_g711": audio_mod.G711_STATS_SQL,
        "mm_video_frames": mm.VIDEO_FRAME_STATS_SQL(),
        "mm_tiff_stats": mm.MM_TIFF_STATS_SQL,
        "olap_theta_sketch": theta.THETA_SKETCH_SQL,
        "olap_triangles": triangles.TRIANGLES_SQL,
        "olap_hll_by_group": hll.HLL_BY_GROUP_SQL,
        "docs_source_overlap": theta.SOURCE_OVERLAP_SQL,
        "olap_sample_quantiles": reservoir.SAMPLE_QUANTILES_SQL,
    }


# ---------------------------------------------------------------------------
# Formerly staged queries (r4 queue) — promoted into queries() in r5
# ---------------------------------------------------------------------------


def q_docs_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram-LM quality scores: corpus-trained add-one
    smoothed token log-probs, per-doc mean + OOV rate (integer
    micro-nat quantization makes the sum order-independent)."""
    return tx.unigram_lm_scores(read_table(spark, sf_dir, "documents"))


def q_emb_diversity_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-stratified coreset selection: per k-means cluster keep
    ceil(fraction x size) closest-to-centroid vectors."""
    return sim.diversity_sample(read_table(spark, sf_dir, "embeddings"))


def q_cdc_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (operators/incragg.py): per-
    resource live-key count + exact cents-sum computed purely from
    change deltas — one window pass + a partial-aggregable SUM. The
    oracle materializes-then-aggregates, proving the delta algebra
    telescopes losslessly."""
    return incragg.incremental_group_totals(read_feed(spark, sf_dir))


def q_cdc_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift detection (operators/drift.py) over a feed with a
    planted drifting resource — the ALTER TABLE analog of the pgoutput
    relation re-registration (SURVEY S7)."""
    return drift.schema_drift_report(drift.plant_drift(read_feed(spark, sf_dir)))


def q_mm_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel decode certification (r10): a corpus of real
    grayscale PNGs (pure-Python codec, every scanline filter cycled by
    doc_id) whose pixels derive arithmetically from doc_id — the
    pixel path (inflate -> unfilter -> band means) must invert the
    generating formula exactly; DuckDB recomputes the means with no
    image code at all."""
    return mm.pixel_band_stats(read_table(spark, sf_dir, "documents"))


def q_docs_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (dataops/curation.py per_source_cap):
    at most 150 docs per language stratum, selected by deterministic
    salted-hash priority — the C4/RefinedWeb guard against one domain
    dominating a pretraining mix. lang is the skewed stratum in the
    testdata ('en' dominates), so the over-cap window branch and the
    under-cap broadcast-anti bypass both execute at sf0.01."""
    return cu.per_source_cap(
        read_table(spark, sf_dir, "documents"), cap=150, source_col="lang"
    )


def q_emb_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup survivor set (dataops/semdedup.py): cluster with the
    shared coarse quantizer, drop every vector with a smaller-id
    same-cluster neighbor at cosine >= 0.8. Runs over the planted
    corpus (near-identical copies at cosine >= 0.9996) so the drop set
    is non-empty and analytically known."""
    return semdedup.planted_semantic_dedup(spark, sf_dir)


def q_mm_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup blocking (dataops/multimodal.py): real
    PNGs -> real pixel decode -> 64-bit dHash -> blocking groups."""
    return mm.image_dhash_groups(read_table(spark, sf_dir, "documents"))


def q_docs_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-occurrence-wins paragraph dedup (dataops/linededup.py):
    duplicated segments survive only at their smallest (doc_id, pos)."""
    return linededup.dedup_paragraphs(read_table(spark, sf_dir, "documents"))


def q_mm_tiff_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIFF decode certification: real PackBits TIFFs (run-heavy
    formula) -> IFD walk + RLE decode -> stats DuckDB recomputes."""
    return mm.tiff_pixel_stats(read_table(spark, sf_dir, "documents"))


def q_mm_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-container certification: real animated GIFs -> per-frame
    LZW decode -> every-2nd-frame temporal sample -> pixel sums DuckDB
    recomputes from the frame formula."""
    return mm.video_frame_stats(read_table(spark, sf_dir, "documents"))


def q_mm_jpeg_prog_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Progressive-JPEG decode certification: successive-approximation
    scan scripts (DC+AC refinement, EOB runs) over the constant-block
    corpus; decoded pixels must match the same block formula the
    baseline oracle uses."""
    return mm.jpeg_progressive_stats(read_table(spark, sf_dir, "documents"))


def q_mm_jpeg_prog_adv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adversarial progressive==baseline JPEG round-trip on noise
    images (AC successive-approximation refinement paths); split from
    mm_jpeg_prog_stats in r12 so the decode timing stays
    trend-comparable."""
    return mm.jpeg_progressive_adv_roundtrip(read_table(spark, sf_dir, "documents"))


def q_mm_jpeg420_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4:2:0 JPEG decode certification: constant-macroblock subsampled
    streams -> full MCU-interleaved decode -> per-channel sums."""
    return mm.jpeg420_stats(read_table(spark, sf_dir, "documents"))


def q_mm_gif_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF decode certification: real LZW streams (interlace by doc
    parity) -> lossless decode -> stats DuckDB recomputes from the
    pixel formula."""
    return mm.gif_pixel_stats(read_table(spark, sf_dir, "documents"))


def q_mm_jpeg_color_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Color-JPEG decode certification: real 4:4:4 JPEGs -> full
    three-component decode -> per-channel sums DuckDB recomputes from
    the block formulas + integer color-space round trip."""
    return mm.jpeg_color_stats(read_table(spark, sf_dir, "documents"))


def q_mm_jpeg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline JPEG decode certification (dataops/jpeg.py): real
    constant-block JPEGs -> real Huffman/IDCT decode -> integer stats
    DuckDB recomputes from the block formula."""
    return mm.jpeg_pixel_stats(read_table(spark, sf_dir, "documents"))


def q_docs_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-span dedup (dataops/substring.py, Lee et al.
    2022): 48-char stride-16 shingles repeated across >= 2 documents."""
    return substr_mod.duplicated_spans(read_table(spark, sf_dir, "documents"))
