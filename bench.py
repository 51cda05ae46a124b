"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Timing methodology: each query is forced end-to-end with a noop sink
(full computation, no driver collect, no disk write skew), after one
warm-up run of a trivial action to amortize JVM/session startup.
The headline metric is the full CDC pipeline's wall time; throughput in
events/sec is derived for comparison with the reference's ev/s numbers
(BASELINE.md: outboxx 127k ev/s single-node).

Beyond the query passes, ``LEGS`` declares the probe legs: each names
the ``extra`` keys it owns, a measure function and an optional
re-measure function. ``LegRunner`` runs them all the same way (a
failing leg leaves its keys None, temp dirs are made and removed for
it, a drift flag re-measures a leg once) and ``derive`` computes the
ratios and throughputs from whatever was measured last. Kafka delivery
is measured on the served path by ``perfbench/``; only the
leader-rotation leg, which perfbench has no workload for, stays here.
"""

from __future__ import annotations

import gc
import json
import os
import re
import shutil
import sys
import tempfile
import time
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _timings(steps: dict[str, Callable[[], object]]) -> dict[str, float]:
    """Run the steps in order, each under its own clock."""
    return {key: _timed(fn) for key, fn in steps.items()}


def best_of(n: int, trial, *args) -> dict:
    """``n`` calls of ``trial(*args) -> {key: value}``: the min of every
    ``*_sec`` key, the first call's value for any other key. Probes get
    the queries' own noise policy: a single sample on this shared host
    can sit inside an ambient-load window."""
    runs = [trial(*args) for _ in range(n)]
    return {
        k: min(r[k] for r in runs) if k.endswith("_sec") else v
        for k, v in runs[0].items()
    }


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# The leg runner
# ---------------------------------------------------------------------------


class Probe:
    """What a leg's measure and re-measure functions get: the session,
    the scale-factor dir, the feed size, state the measure function
    leaves for the re-measure one, and fresh temp paths that the runner
    removes."""

    def __init__(self, spark, sf_dir, n_events, root: str):
        self.spark, self.sf_dir, self.n_events = spark, sf_dir, n_events
        self.root = root
        self.state: dict = {}
        self._n = 0

    def tmpdir(self) -> str:
        """A path under the leg's temp root that nothing has used yet
        (not created: the writers create their own output dirs)."""
        self._n += 1
        return os.path.join(self.root, str(self._n))


@dataclass(frozen=True)
class Leg:
    name: str
    keys: tuple[str, ...]  # the ``extra`` keys this leg owns
    measure: Callable[[Probe], dict]
    # one more trial, run only when the drift guard flags one of ``keys``
    remeasure: Callable[[Probe], dict] | None = None


class LegRunner:
    """Runs declared legs. A leg that raises is reported on stderr and
    leaves its keys None; the legs after it still run. A leg's temp
    root lives as long as the leg can still be re-measured, and every
    root is gone once the runner closes."""

    def __init__(self, legs, spark=None, sf_dir=None, n_events=None):
        self.legs = list(legs)
        self.n_events = n_events
        self._ctx = (spark, sf_dir, n_events)
        self.values: dict = {}
        self._probes: dict[str, Probe] = {}
        self._roots: list[str] = []

    def __enter__(self) -> LegRunner:
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def _attempt(self, leg: Leg, fn, probe: Probe) -> dict | None:
        try:
            return fn(probe)
        except Exception as e:  # a probe must never sink the bench
            print(f"# {leg.name} probe failed: {type(e).__name__}: {e}", file=sys.stderr)
            return None

    def run(self) -> None:
        for leg in self.legs:
            self.values.update(dict.fromkeys(leg.keys))
            root = tempfile.mkdtemp(prefix=f"bench_{leg.name}_")
            self._roots.append(root)
            probe = Probe(*self._ctx, root)
            got = self._attempt(leg, leg.measure, probe)
            if got is not None:
                self.values.update(got)
            if got is not None and leg.remeasure is not None:
                self._probes[leg.name] = probe
            else:
                shutil.rmtree(root, ignore_errors=True)

    def rerun(self, flagged) -> list[str]:
        """Re-measure once every leg that owns a flagged key, keeping the
        best of both passes: min for ``*_sec``, max for ``*_per_sec``.
        -> the timed keys of the legs that were re-measured."""
        resampled: list[str] = []
        for leg in self.legs:
            probe = self._probes.get(leg.name)
            if probe is None or not set(leg.keys) & set(flagged):
                continue
            got = self._attempt(leg, leg.remeasure, probe)
            if got is None:
                continue
            for k, v in got.items():
                old = self.values.get(k)
                if not isinstance(old, (int, float)):
                    self.values[k] = v
                elif k.endswith("_per_sec"):
                    self.values[k] = max(old, v)
                elif k.endswith("_sec"):
                    self.values[k] = min(old, v)
            resampled += [k for k in leg.keys if k.endswith("_sec")]
        return resampled

    def extra(self) -> dict:
        """Every leg's keys in declaration order, derived metrics
        computed from the current values."""
        d = derive(self.values, self.n_events)
        return {k: d.get(k) for leg in self.legs for k in leg.keys}

    def close(self) -> None:
        self._probes.clear()
        for root in self._roots:
            shutil.rmtree(root, ignore_errors=True)


def _rate(n, sec):
    return round(n / sec) if n and sec else None


def derive(values: dict, n_events) -> dict:
    """Leg values -> reported values: timings rounded, throughputs and
    the 4x scale ratios computed from the (possibly re-measured)
    timings."""
    v = {
        k: round(x, 4) if k.endswith("_sec") and isinstance(x, float) else x
        for k, x in values.items()
    }
    v["scaleup_events_per_sec"] = _rate(v.get("scaleup_events"), v.get("scaleup_sec"))
    v["tablesink_events_per_sec"] = _rate(n_events, v.get("tablesink_load_sec"))
    for fam in ("dedup", "emb_lsh", "emb_ivf"):
        a, b = v.get(f"{fam}_1x_sec"), v.get(f"{fam}_4x_sec")
        v[f"{fam}_4x_time_ratio"] = round(b / a, 2) if a and b else None
    return v


# ---------------------------------------------------------------------------
# The legs
# ---------------------------------------------------------------------------

ALPHA = "abcdefghijklmnopqrstuvwxyz"


def _rotated_docs(docs, n_docs: int, r: int):
    """Copy ``r`` of the documents corpus: ids shifted past the
    original, text alphabet-rotated, so the copy has the corpus's
    shingle statistics but no shingle in common with it (volume, not
    planted clone clusters)."""
    from pyspark.sql import functions as F

    return docs.select(
        (F.col("doc_id") + r * n_docs).alias("doc_id"),
        F.translate("text", ALPHA, ALPHA[r:] + ALPHA[:r]).alias("text"),
    )


def _read_docs(p: Probe):
    from outboxx_spark.sources.tables import read_table

    return read_table(p.spark, p.sf_dir, "documents").select("doc_id", "text")


SCALEUP_COPIES = 10


def _scaleup(p: Probe) -> dict:
    """The identical pipeline plan over a 10x feed split across 32
    files: throughput must GROW as partitions engage — the local-mode
    proxy for the 1000-executor claim (SCALING.md)."""
    from pyspark.sql import functions as F

    ev = p.spark.read.parquet(f"{p.sf_dir}/events.parquet")
    shift = ev.agg(F.max("event_id")).collect()[0][0] + 1
    big = ev.withColumn(
        "r", F.explode(F.array(*[F.lit(i) for i in range(SCALEUP_COPIES)]))
    ).select(
        (F.col("event_id") + F.col("r") * shift).alias("event_id"),
        "ts", "user_id", "event_type", "value", "props",
    )
    p.state["root"] = p.tmpdir()
    big.repartition(32).write.mode("overwrite").parquet(f"{p.state['root']}/events.parquet")
    _scaleup_trial(p)  # warm the 32-file listing
    return {
        **best_of(3, _scaleup_trial, p),
        "scaleup_events": p.n_events * SCALEUP_COPIES,
    }


def _scaleup_trial(p: Probe) -> dict:
    from outboxx_spark.pipeline import routed_envelopes
    from outboxx_spark.testbed import default_config

    return _timings({
        "scaleup_sec": lambda: _noop(
            routed_envelopes(p.spark, p.state["root"], default_config())
        )
    })


def _tablesink(p: Probe) -> dict:
    """Initial 100k-event upsert into a 16-bucket table, then a
    single-key incremental batch — the touched-bucket-proportional
    claim as numbers."""
    from outboxx_spark.sources.feed import read_feed

    feed = read_feed(p.spark, p.sf_dir).localCheckpoint(eager=True)
    p.state.update(feed=feed, one=feed.limit(1).localCheckpoint(eager=True))
    return best_of(2, _tablesink_trial, p)


def _tablesink_trial(p: Probe) -> dict:
    from outboxx_spark.streaming.table_sink import upsert_batch

    table = p.tmpdir()
    return _timings({
        "tablesink_load_sec": lambda: upsert_batch(p.state["feed"], table),
        "tablesink_incr_sec": lambda: upsert_batch(p.state["one"], table),
    })


KAFKA_PARTITIONS = 8


def _kafka_faulted(p: Probe) -> dict:
    """The routed feed through the Kafka sink while EVERY partition's
    leadership rotates mid-delivery, on the in-repo 3-broker stand: what
    an election costs. Gap-freedom under election is pytest- and
    stand-verified. The number is recorded only when the rotation
    provably landed before the sink finished; a rotation against an
    idle cluster would silently measure a clean run."""
    import threading

    sys.path.insert(0, str(REPO / "tools"))
    from kafka_broker import KafkaCluster

    from outboxx_spark.pipeline import routed_envelopes
    from outboxx_spark.streaming.kafka_sink import make_kafka_sink
    from outboxx_spark.testbed import default_config

    with KafkaCluster(n_brokers=3, n_partitions=KAFKA_PARTITIONS) as cluster:
        b0 = cluster.brokers[0]
        # one produce task per topic partition: more adds broker
        # contention, not throughput
        delivery = (
            routed_envelopes(p.spark, p.sf_dir, default_config())
            .localCheckpoint(eager=True)
            .coalesce(KAFKA_PARTITIONS)
        )
        n = delivery.count()
        sink = make_kafka_sink(b0.host, b0.port, bootstrap=cluster.bootstrap())
        sink(delivery, 0)  # untimed: warm the Python workers and producers
        baseline = {
            t: cluster.record_count(t) for t in {tp[0] for tp in cluster._leader}
        }
        rotation: list = []  # (moves, monotonic time the rotation landed)
        # a twentieth of the frame: small enough to be reached at any
        # scale factor (sf0.001 delivers 582 records), large enough to
        # prove delivery is flowing when the rotation fires
        rotator = threading.Thread(
            target=lambda: rotation.extend(
                cluster.rotate_all_leaders(baseline=baseline, min_new_records=min(1000, n // 20))
            ),
            daemon=True,
        )
        rotator.start()
        sec = _timed(lambda: sink(delivery, 1))
        sink_done = time.monotonic()
        rotator.join(timeout=1.0)
    moves, landed = rotation or (0, None)
    landed_in_time = moves and landed is not None and landed <= sink_done
    return {
        "kafka_sink_events": n,
        "kafka_sink_faulted_events_per_sec": round(n / sec) if landed_in_time else None,
    }


def _dedup_scaleup(p: Probe) -> dict:
    """Minhash dedup at 1x and 4x the corpus: the banded LSH path claims
    near-linear candidate generation, a quadratic one would show ~16x.
    Both corpora are repartitioned identically (a single parquet file
    is one partition and would handicap the 1x side). The 1x/4x trials
    interleave so an ambient-load phase hits both sides of the ratio,
    and the query is rebuilt per trial so its eager build stage is
    inside the clock on both sides."""
    from outboxx_spark.dataops.dedup import minhash_dedup_pairs

    docs = _read_docs(p)
    n_docs = docs.count()
    big = docs
    for r in (1, 2, 3):
        big = big.unionByName(_rotated_docs(docs, n_docs, r))
    big = big.repartition(32).localCheckpoint(eager=True)
    small = docs.repartition(32).localCheckpoint(eager=True)
    steps = {
        "dedup_1x_sec": lambda: _noop(minhash_dedup_pairs(small)),
        "dedup_4x_sec": lambda: _noop(minhash_dedup_pairs(big)),
    }
    # warm BOTH plan shapes: the 4x side's first pass pays one-time
    # JIT/Arrow-pool growth the 1x warm-up does not cover
    _timings(steps)
    return {**best_of(3, _timings, steps), "dedup_4x_trials": 3}


DEEP_CHAIN_NODES = 4096


def _deep_clusters(p: Probe) -> dict:
    """A 4096-node CHAIN (diameter 4095), the worst case for label
    propagation, at the operator's defaults: pointer jumping covers
    distance ~4^rounds, so it converges in ~6 rounds. Min of 2: the
    first execution carries one-time codegen/scheduler warm-up."""
    from pyspark.sql import functions as F

    p.state["chain"] = p.spark.range(DEEP_CHAIN_NODES - 1).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    return {
        **best_of(2, _deep_clusters_trial, p),
        "dup_clusters_deep_nodes": DEEP_CHAIN_NODES,
    }


def _deep_clusters_trial(p: Probe) -> dict:
    from pyspark.sql import functions as F

    from outboxx_spark.dataops.curation import dup_clusters

    t0 = time.perf_counter()
    n_labeled = dup_clusters(p.state["chain"]).filter(F.col("cluster_id") == 0).count()
    sec = time.perf_counter() - t0
    if n_labeled != DEEP_CHAIN_NODES:  # one component, min id 0
        raise AssertionError(f"chain clustering wrong: {n_labeled}")
    return {"dup_clusters_deep_sec": sec}


def _emb_scaleup(p: Probe) -> dict:
    """Bucketed near-dup (LSH) and IVF ANN at 1x and 4x the embeddings.
    Copies are dimension-rotated, ~orthogonal to their originals (same
    norm statistics, no planted clone pairs)."""
    from pyspark.sql import functions as F

    from outboxx_spark.dataops.similarity import (
        embedding_near_dup_pairs_lsh,
        ivf_ann_topk,
        with_planted_near_dups,
    )

    emb = p.spark.read.parquet(f"{p.sf_dir}/embeddings.parquet")
    n_vec = emb.count()
    dim = len(emb.select("embedding").first()[0])
    small = emb.select("vec_id", "embedding")
    big = small
    for r in (1, 2, 3):
        rot = r * (dim // 4)
        big = big.unionByName(
            emb.select(
                (F.col("vec_id") + r * n_vec).alias("vec_id"),
                F.concat(
                    F.slice("embedding", rot + 1, dim - rot),
                    F.slice("embedding", 1, rot),
                ).alias("embedding"),
            )
        )
    big = big.repartition(32).localCheckpoint(eager=True)
    small = small.repartition(32).localCheckpoint(eager=True)

    def lsh(df):
        _noop(embedding_near_dup_pairs_lsh(
            with_planted_near_dups(df), threshold=0.8, n_planes=16, n_tables=8
        ))

    def ivf(df):
        _noop(ivf_ann_topk(df, n_queries=10, k=10))

    p.state["steps"] = steps = [
        (2, {"emb_lsh_1x_sec": lambda: lsh(small), "emb_lsh_4x_sec": lambda: lsh(big)}),
        (3, {"emb_ivf_1x_sec": lambda: ivf(small), "emb_ivf_4x_sec": lambda: ivf(big)}),
    ]
    out: dict = {}
    for n, fam in steps:
        _timings(fam)  # warm both plan shapes (as the dedup leg)
        out.update(best_of(n, _timings, fam))
    return out


def _emb_scaleup_trial(p: Probe) -> dict:
    return {k: v for _, fam in p.state["steps"] for k, v in _timings(fam).items()}


def _ivf_store(p: Probe) -> dict:
    """Build a persistent IVF index, serve a 10-query batch from it, then
    append a 100-vector sealed generation with the frozen quantizer and
    serve from the grown store: the serving latency a rebuilt-per-call
    ``ivf_ann_topk`` hides, and growth at the cost of one assignment
    pass over the delta."""
    from pyspark.sql import functions as F

    from outboxx_spark.dataops.ivf_store import ivf_index_add, ivf_serve
    from outboxx_spark.dataops.similarity import (
        build_ivf_index,
        ivf_ann_topk_from_store,
    )

    emb = p.spark.read.parquet(f"{p.sf_dir}/embeddings.parquet")
    stores: list[str] = []

    def build():
        stores.append(p.tmpdir())
        build_ivf_index(emb, stores[-1])

    out = best_of(2, _timings, {"ivf_build_sec": build})
    store = stores[-1]
    queries_df = emb.filter(F.col("vec_id") < 10).localCheckpoint(eager=True)
    serve = lambda: _noop(ivf_ann_topk_from_store(p.spark, store, queries_df, k=10))  # noqa: E731
    serve()  # warm
    out.update(best_of(3, _timings, {"ivf_serve_sec": serve}))
    delta = emb.filter(F.col("vec_id") < 100).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    out["ivf_add_sec"] = _timed(lambda: ivf_index_add(delta, store))
    serve_grown = lambda: _noop(ivf_serve(p.spark, store, queries_df, k=10))  # noqa: E731
    serve_grown()  # warm
    out.update(best_of(3, _timings, {"ivf_serve_grown_sec": serve_grown}))
    return out


def _export(p: Probe) -> dict:
    """Training-shard export: shard assignment, one-file-per-shard
    write, manifest, then the distributed verify re-read."""
    p.state["docs"] = _read_docs(p)
    return best_of(2, _export_trial, p)


def _export_trial(p: Probe) -> dict:
    from outboxx_spark.dataops.export import export_shards, verify_export

    out_dir, manifest = p.tmpdir(), {}
    got = _timings({
        "export_shards_sec": lambda: manifest.update(
            export_shards(p.state["docs"], out_dir, target=20000)
        ),
        "export_verify_sec": lambda: verify_export(p.spark, out_dir),
    })
    return {**got, "export_n_shards": manifest["n_shards"]}


def _incragg(p: Probe) -> dict:
    """The changelog applied in two halves through the ledger +
    table-sink state: batch 2 (deltas against a POPULATED key state)
    must cost the same order as batch 1, and the ledger totals must
    equal the batch algebra over the whole feed."""
    from pyspark.sql import functions as F

    from outboxx_spark.operators.incragg import incremental_group_totals
    from outboxx_spark.sources.feed import read_feed
    from outboxx_spark.streaming.incragg_stream import read_group_totals

    feed = read_feed(p.spark, p.sf_dir)
    mid = feed.agg(F.expr("percentile_approx(lsn, 0.5)")).first()[0] or 0
    p.state.update(h1=feed.filter(F.col("lsn") <= mid), h2=feed.filter(F.col("lsn") > mid))
    out = best_of(2, _incragg_trial, p)

    def totals(df):
        return {(r["resource"], r["n_live"], r["sum_value_cents"]) for r in df.collect()}

    if totals(read_group_totals(p.spark, p.state["ledger"])) != totals(
        incremental_group_totals(feed)
    ):
        raise AssertionError("incragg ledger diverged from batch algebra")
    return out


def _incragg_trial(p: Probe) -> dict:
    from outboxx_spark.streaming.incragg_stream import apply_incremental_totals_batch

    table = p.tmpdir()
    ledger = p.state["ledger"] = p.tmpdir()
    h1, h2 = p.state["h1"], p.state["h2"]
    return _timings({
        "incragg_b1_sec": lambda: apply_incremental_totals_batch(h1, table, ledger, 0),
        "incragg_b2_sec": lambda: apply_incremental_totals_batch(h2, table, ledger, 1),
    })


def _dedup_store(p: Probe) -> dict:
    """The persistent LSH survivor store over one full life per trial:
    batch 2 (probing a populated store) must cost the same order as
    batch 1 (empty store); a probe batch against the store grown to ~4x
    the corpus must cost the same order as batch 2 (a store scan per
    batch would grow with the store); then compaction."""
    docs = _read_docs(p)
    p.state.update(docs=docs, n_docs=docs.count())
    return best_of(2, _dedup_store_trial, p)


def _pq_files(store: str) -> int:
    return sum(
        f.endswith(".parquet")
        for tree in ("buckets", "docs")
        for _, _, files in os.walk(f"{store}/{tree}")
        for f in files
    )


def _dedup_store_trial(p: Probe) -> dict:
    from pyspark.sql import functions as F

    from outboxx_spark.dataops.incremental import (
        compact_dedup_store,
        incremental_minhash_dedup_batch,
    )

    docs, n = p.state["docs"], p.state["n_docs"]
    store = p.tmpdir()

    def ingest(df, batch_id):
        incremental_minhash_dedup_batch(df, store, batch_id=batch_id)

    half1 = docs.filter(F.col("doc_id") < n // 2)
    half2 = docs.filter(F.col("doc_id") >= n // 2)
    out = _timings({
        "dedup_store_b1_sec": lambda: ingest(half1, 0),
        "dedup_store_b2_sec": lambda: ingest(half2, 1),
    })
    # gc.collect() after each batch drops the py4j references to its
    # checkpointed RDDs, so Spark unpersists them; accumulated blocks
    # inflated the grown-store steps ~3x
    gc.collect()
    for r in (1, 2, 3):
        ingest(_rotated_docs(docs, n, r), 1 + r)
        gc.collect()
    probe_batch = _rotated_docs(docs, n, 4).filter(F.col("doc_id") < 4 * n + n // 2)
    out["dedup_store_vs_4x_sec"] = _timed(lambda: ingest(probe_batch, 5))
    gc.collect()
    # the grown store's bytes move with the corpus's shingle volume, so
    # a cross-round timing diff can be read against the data it ingested
    out["dedup_store_bytes"] = sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(store) for f in files
    )
    out["dedup_store_files_before"] = _pq_files(store)
    out["dedup_store_compact_sec"] = _timed(lambda: compact_dedup_store(p.spark, store))
    gc.collect()
    out["dedup_store_files_after"] = _pq_files(store)
    return out


LEGS = (
    Leg("scaleup", ("scaleup_events", "scaleup_events_per_sec"),
        _scaleup, _scaleup_trial),
    Leg("tablesink", ("tablesink_load_sec", "tablesink_incr_sec",
                      "tablesink_events_per_sec"),
        _tablesink, _tablesink_trial),
    Leg("kafka_faulted", ("kafka_sink_events", "kafka_sink_faulted_events_per_sec"),
        _kafka_faulted),
    Leg("dedup_scaleup", ("dedup_1x_sec", "dedup_4x_sec", "dedup_4x_trials",
                          "dedup_4x_time_ratio"),
        _dedup_scaleup),
    Leg("deep_clusters", ("dup_clusters_deep_sec", "dup_clusters_deep_nodes"),
        _deep_clusters, _deep_clusters_trial),
    Leg("emb_scaleup", ("emb_lsh_1x_sec", "emb_lsh_4x_sec", "emb_lsh_4x_time_ratio",
                        "emb_ivf_1x_sec", "emb_ivf_4x_sec", "emb_ivf_4x_time_ratio"),
        _emb_scaleup, _emb_scaleup_trial),
    Leg("ivf_store", ("ivf_build_sec", "ivf_serve_sec", "ivf_add_sec",
                      "ivf_serve_grown_sec"),
        _ivf_store),
    Leg("export", ("export_shards_sec", "export_verify_sec", "export_n_shards"),
        _export, _export_trial),
    Leg("incragg", ("incragg_b1_sec", "incragg_b2_sec"),
        _incragg, _incragg_trial),
    Leg("dedup_store", ("dedup_store_b1_sec", "dedup_store_b2_sec",
                        "dedup_store_vs_4x_sec", "dedup_store_compact_sec",
                        "dedup_store_files_before", "dedup_store_files_after",
                        "dedup_store_bytes"),
        _dedup_store, _dedup_store_trial),
)

# main()'s own extra keys, around the legs'
HEADLINE_KEYS = ("pipeline_events", "pipeline_events_per_sec")
RUN_KEYS = ("n_queries", "accounting", "detail")
# The driver regenerates the testdata corpus each round, so a
# data-sensitive query's cross-round timing diff carries corpus drift
# (more duplication -> more candidate pairs -> honestly slower). Their
# output row counts (``rows_<query>``, counted outside the clock) let
# the drift guard annotate a flag with the volume move.
VOLUME_QUERIES = (
    "docs_ngram_dedup",
    "docs_minhash_dedup",
    "docs_exact_dedup",
    "docs_edit_dedup",
    "docs_substring_spans",
    "emb_near_dup",
    "emb_near_dup_ivf",
    "emb_near_dup_lsh",
    "docs_dup_clusters",
)


def extra_keys() -> list[str]:
    """Every key of the reported ``extra`` block, in report order."""
    return [
        *HEADLINE_KEYS,
        *(k for leg in LEGS for k in leg.keys),
        *RUN_KEYS,
        *(f"rows_{q}" for q in VOLUME_QUERIES),
        "host_factor",
    ]


# ---------------------------------------------------------------------------
# The run
# ---------------------------------------------------------------------------


def _drift_guard(sf, qs, spark, sf_dir, timings, extra, legs: LegRunner):
    """Diff this run (per-query table AND extra metrics,
    direction-aware) against the previous round's committed
    bench_detail snapshot at the same scale factor; re-measure what got
    flagged once (a host-load window can span all three passes; a real
    regression survives its fourth sample, a spike does not) and diff
    again. -> (regressions, resampled names)."""
    sys.path.insert(0, str(REPO / "tools"))
    from bench_compare import PREV_ROUND, round_drift

    if not PREV_ROUND.exists():
        return [], []
    prev = json.loads(PREV_ROUND.read_text())
    if prev.get("sf") != sf:
        return [f"skipped: prev round at sf={prev.get('sf')}"], []
    regressions = round_drift(prev, timings, extra)
    flagged = [r.split(" ")[0] for r in regressions]
    resampled = [name for name in flagged if name in qs]
    for name in resampled:
        try:
            dt = _timed(lambda: _noop(qs[name](spark, sf_dir)))
            timings[name] = round(min(timings[name], dt), 4)
            gc.collect()
        except Exception:
            pass
    resampled += legs.rerun(flagged)
    if resampled:
        extra.update(legs.extra())
        regressions = round_drift(prev, timings, extra)
    return regressions, resampled


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    from outboxx_spark.session import get_spark

    spark = get_spark("outboxx_bench")

    import __spark_entry__ as E

    # Warm up the JVM, file listings, and parquet footers once so the
    # first timed query doesn't absorb session-cold costs.
    spark.range(1000).selectExpr("sum(id)").collect()
    from outboxx_spark.schemas import TPCH_TABLES
    from outboxx_spark.sources.tables import read_table

    for t in TPCH_TABLES:
        try:
            read_table(spark, sf_dir, t).count()
        except Exception:
            pass

    qs = dict(E.queries())
    timings: dict[str, float] = {}

    # Steady-state methodology: run every query once at the smallest SF
    # first. The plans are identical across SFs (same schemas), so this
    # pre-compiles every WholeStageCodegen unit and JITs the hot paths;
    # the timed loop below then measures execution, not compilation.
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and warm_dir != sf_dir:
        for name in qs:
            try:
                _noop(qs[name](spark, warm_dir))
            except Exception:
                pass  # a warm-up failure must never sink the bench

    # Headline first (before 100+ query executions build GC pressure):
    # full routed CDC pipeline (feed -> serialize -> route -> key).
    from outboxx_spark.pipeline import routed_envelopes
    from outboxx_spark.sources.feed import read_feed
    from outboxx_spark.testbed import default_config

    n_events = read_feed(spark, sf_dir).count()
    # best of 5+3: the pipeline finishes in ~0.5s at sf0.1, so
    # single-shot timings are dominated by scheduler jitter — and a
    # host-load spike lasting a few seconds can poison ALL of a
    # back-to-back batch (r4 observed min-of-5 at 0.90s vs 0.46s
    # steady-state minutes later). A second batch after the query loop
    # decorrelates the headline from any single spike; the reported
    # number is the min across both batches.
    headline = {
        "pipeline_sec": lambda: _noop(routed_envelopes(spark, sf_dir, default_config()))
    }
    pipeline_sec = best_of(5, _timings, headline)["pipeline_sec"]

    # min of 3 runs per query, as three interleaved passes over the
    # whole list: single-shot times on a shared host vary ~2x with
    # background load, and a load spike lasts seconds — back-to-back
    # repeats would poison both samples of one query, while interleaving
    # decorrelates them. The min is the stable "capability" number.
    #
    # Each pass REBUILDS the query's DataFrame (what the driver and any
    # user pays per invocation): several operators materialize bounded
    # intermediates eagerly at build (localCheckpoint), and timing a
    # prebuilt frame would move that work outside the clock.
    # gc.collect() between queries (outside the timer) promptly drops
    # the py4j references to each rebuild's checkpointed RDDs so
    # Spark's ContextCleaner unpersists them — without it the blocks
    # accumulate across the rebuilds and block-manager pressure
    # inflates later samples ~50%.
    for _pass in range(3):
        for name in qs:
            dt = _timed(lambda: _noop(qs[name](spark, sf_dir)))
            timings[name] = round(min(timings.get(name, dt), dt), 4)
            gc.collect()

    # second, decorrelated pipeline batch (see comment at the first)
    pipeline_sec = min(pipeline_sec, best_of(3, _timings, headline)["pipeline_sec"])
    timings["cdc_pipeline_full"] = round(pipeline_sec, 4)

    extra = dict.fromkeys(extra_keys())
    with LegRunner(LEGS, spark, sf_dir, n_events) as legs:
        legs.run()
        extra.update(legs.extra())
        extra.update(
            pipeline_events=n_events,
            pipeline_events_per_sec=_rate(n_events, pipeline_sec),
            n_queries=len(timings),
            # per-query timings REBUILD the DataFrame every pass, so
            # eager build stages are inside the clock
            accounting="rebuild-per-pass",
            detail="bench_detail.json",
        )
        for q in VOLUME_QUERIES:
            if q in qs:
                try:
                    extra[f"rows_{q}"] = qs[q](spark, sf_dir).count()
                    gc.collect()
                except Exception:
                    pass
        # names given another sample by the drift guard are recorded in
        # the detail artifact, so a "min of 4" entry is distinguishable
        try:
            regressions, resampled = _drift_guard(
                sf, qs, spark, sf_dir, timings, extra, legs
            )
        except Exception as e:  # the guard must never sink the bench
            regressions, resampled = [f"drift-check failed: {type(e).__name__}"], []
    total = round(sum(timings.values()), 4)

    # Host-speed normalization: the paired-sample median new/old ratio
    # the drift guard judges against. 1.0 = quiet host; entries in
    # `regressions` are adverse moves RELATIVE to this factor.
    extra["host_factor"] = next(
        (float(r.split(" ", 1)[1]) for r in regressions if r.startswith("host_factor ")),
        1.0,
    )

    # Full per-query timings go to a separate committed file; the
    # PRINTED line must stay well under the driver's ~2 KB line-capture
    # buffer, so it carries only the headline numbers plus a small
    # fixed set of marquee query timings.
    detail = {
        "metric": "total_query_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "extra": extra,
        "regressions": regressions,
        "resampled": resampled,
    }
    (REPO / "bench_detail.json").write_text(json.dumps(detail, indent=1) + "\n")
    spark.stop()
    print(_bench_line(total, timings, sf, extra, regressions))


MARQUEE = (
    "cdc_pipeline_full",
    "docs_edit_dedup",
    "docs_minhash_dedup",
    "olap_pricing_summary",
    "emb_ann_topk",
    "mm_features",
)


def _bench_line(total, timings, sf, extra, regressions) -> str:
    """The one printed JSON line. It must stay under the driver's ~2 KB
    capture buffer: degrade gracefully instead of failing after the
    multi-minute run, and sacrifice the MARQUEE BLOCK LAST (the reader
    wants the marquee timings; the extras have the detail file): first
    compact extras to the headline core, then cap regressions, and only
    then drop the marquee."""

    def r3(v):
        return round(v, 3) if isinstance(v, float) else v

    out = {
        "metric": "total_query_time",
        "value": round(total, 3),
        "unit": "sec",
        "queries": {q: r3(timings[q]) for q in MARQUEE if q in timings},
        "sf": sf,
        "extra": {k: r3(v) for k, v in extra.items()},
        # capped for the line budget; the full list is in the detail file
        "regressions": (
            regressions[:6] + [f"+{len(regressions) - 6} more"]
            if len(regressions) > 6
            else regressions
        ),
    }
    line = json.dumps(out)
    if len(line) >= 1800:
        print(f"# bench line {len(line)}B; compacting extras", file=sys.stderr)
        out["extra"] = {
            k: extra.get(k)
            for k in ("pipeline_events_per_sec", "scaleup_events_per_sec",
                      "host_factor", "detail")
        }
        line = json.dumps(out)
    if len(line) >= 1800:
        print(f"# bench line {len(line)}B; capping regressions", file=sys.stderr)
        n_reg = len(regressions)
        out["regressions"] = regressions[:2] + (
            [f"+{n_reg - 2} more"] if n_reg > 2 else []
        )
        line = json.dumps(out)
    if len(line) >= 1800:
        print(f"# bench line still {len(line)}B; dropping marquee", file=sys.stderr)
        out["queries"] = {}
        line = json.dumps(out)
    return line


if __name__ == "__main__":
    main()
