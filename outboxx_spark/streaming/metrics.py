"""Observability (M1-M4, O7): metrics registry + streaming listener.

Reference instruments (`src/observability/observability.zig:94-158`):
- events_processed_total{stream, operation} counter
- produce_errors_total counter
- replication_lag_seconds gauge (per-batch, 0 when caught up)
plus liveness: no wire activity for 90 s => stalled
(`src/constants.zig:43-53`, `processor.zig:393-399`) and health
endpoints (`src/observability/http.zig`).

Spark rebuild: a ``StreamingQueryListener`` feeds liveness, errors and
the last trigger's phase durations and input rows from query progress
events; the tally itself is observed on the
delivering write (``tally_delivered``: ``df.observe`` of one count per
(stream, op) plus ``max(commit_ts)``, read after the write — the
reference's per-batch metrics coalescing, `processor.zig:18-28`, done
by the write's own job). The tally's Columns are built once per query
(``tally_columns``) and observed on every batch's write. Health =
listener state, exposed as properties a /healthz HTTP thread can read;
rendering to Prometheus text format is a straight serialization of the
registry.
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from outboxx_spark.config import StreamConfig

LIVENESS_WINDOW_S = 90  # reference: src/constants.zig:52
# observed metrics land a few ms after the action; this only bounds a
# write that broke tally_delivered's contract
OBSERVE_TIMEOUT_S = 60.0


class MetricsRegistry:
    """Thread-safe counters/gauges with Prometheus text rendering."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.events_processed: dict[tuple[str, str], int] = defaultdict(int)
        self.produce_errors = 0
        self.replication_lag_seconds = 0.0
        self.last_activity_ts = time.time()
        # the last trigger's StreamingQueryProgress.durationMs and numInputRows
        self.trigger_phase_ms: dict[str, int] = {}
        self.trigger_input_rows = 0

    def add_processed(self, stream: str, op: str, n: int) -> None:
        with self._lock:
            self.events_processed[(stream, op)] += n
            self.last_activity_ts = time.time()

    def add_produce_errors(self, n: int) -> None:
        with self._lock:
            self.produce_errors += n

    def set_lag(self, seconds: float) -> None:
        with self._lock:
            self.replication_lag_seconds = max(0.0, seconds)

    def set_trigger(self, phase_ms: dict[str, int], input_rows: int) -> None:
        with self._lock:
            self.trigger_phase_ms = dict(phase_ms)
            self.trigger_input_rows = input_rows

    def mark_activity(self) -> None:
        with self._lock:
            self.last_activity_ts = time.time()

    # -- health (M3 / O7) ---------------------------------------------------

    def is_live(self, window_s: float = LIVENESS_WINDOW_S) -> bool:
        """Liveness: any activity (data or keepalive) within the window."""
        return (time.time() - self.last_activity_ts) < window_s

    def render_prometheus(self) -> str:
        """Pull-style text exposition (M2). Label values escaped per the
        Prometheus text format."""
        def esc(s: str) -> str:
            return s.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")

        lines = [
            "# HELP outboxx_events_processed_total Delivered events per stream and operation.",
            "# TYPE outboxx_events_processed_total counter",
        ]
        with self._lock:
            for (stream, op), n in sorted(self.events_processed.items()):
                lines.append(
                    f'outboxx_events_processed_total{{stream="{esc(stream)}",operation="{esc(op)}"}} {n}'
                )
            lines.append("# HELP outboxx_produce_errors_total Queries terminated by an error.")
            lines.append("# TYPE outboxx_produce_errors_total counter")
            lines.append(f"outboxx_produce_errors_total {self.produce_errors}")
            lines.append("# HELP outboxx_replication_lag_seconds Age of the newest delivered commit.")
            lines.append("# TYPE outboxx_replication_lag_seconds gauge")
            lines.append(f"outboxx_replication_lag_seconds {self.replication_lag_seconds}")
            lines.append("# HELP outboxx_trigger_phase_ms Duration of each phase of the last trigger.")
            lines.append("# TYPE outboxx_trigger_phase_ms gauge")
            for phase, ms in sorted(self.trigger_phase_ms.items()):
                lines.append(f'outboxx_trigger_phase_ms{{phase="{esc(phase)}"}} {ms}')
            lines.append("# HELP outboxx_trigger_input_rows Input rows of the last trigger.")
            lines.append("# TYPE outboxx_trigger_input_rows gauge")
            lines.append(f"outboxx_trigger_input_rows {self.trigger_input_rows}")
        return "\n".join(lines) + "\n"


@dataclass(frozen=True)
class TallyColumns:
    """The tally's observed Columns for one config: ``n{i}`` counts the
    delivered rows of ``pairs[i]`` (stream, lower-case op), ``head`` is
    ``max(commit_ts)``. Nothing in it depends on a batch, so a query
    builds it once and observes it on every batch's write."""

    pairs: tuple[tuple[str, str], ...]
    columns: tuple[Column, ...]


def tally_columns(streams: list[StreamConfig]) -> TallyColumns:
    """Build the A1 tally and M4 lag Columns for ``streams`` (needs an
    active SparkContext)."""
    pairs = tuple((s.name, op) for s in streams for op in s.operations)
    counts = [
        F.count_if((F.col("stream") == name) & (F.lower("op") == op)).alias(f"n{i}")
        for i, (name, op) in enumerate(pairs)
    ]
    return TallyColumns(pairs, (*counts, F.max("commit_ts").alias("head")))


def tally_delivered(
    registry: MetricsRegistry,
    frame: DataFrame,
    tally: TallyColumns,
    write: Callable[[DataFrame], None],
) -> None:
    """Run ``write`` on ``frame`` with ``tally``'s Columns — the A1
    tally (per configured (stream, op), uppercase op labels) and the M4
    lag (``commit_ts`` in epoch seconds) — attached as observed metrics;
    fold them into ``registry`` after ``write`` returns, so only
    delivered events count and a raising write tallies nothing. The
    Columns come prebuilt (``tally_columns``, once per query); each call
    observes them under a fresh ``Observation``, since Spark refuses to
    reuse one.

    Only the first DataFrame action on the observed frame reports, so
    that action must consume every row (a write, ``count``, ``collect``,
    ``mapInPandas``): a leading ``isEmpty``/``take``/``first`` fixes a
    partial tally. A write that runs no DataFrame action (``.rdd``,
    ``foreachPartition``, a connector that runs its query as a bare RDD)
    never reports; after ``OBSERVE_TIMEOUT_S`` this raises, so the
    micro-batch fails before its offset commit instead of hanging."""
    obs = Observation()
    write(frame.observe(obs, *tally.columns))
    # Observation.get has no timeout; wait on it from a daemon thread
    got: list[dict] = []
    reader = threading.Thread(target=lambda: got.append(obs.get), daemon=True)
    reader.start()
    reader.join(OBSERVE_TIMEOUT_S)
    if not got:
        raise RuntimeError(
            f"no observed metrics {OBSERVE_TIMEOUT_S}s after the write returned: "
            "it ran no DataFrame action on the frame, so the tally cannot be read"
        )
    row = got[0]
    for i, (name, op) in enumerate(tally.pairs):
        if row[f"n{i}"]:
            registry.add_processed(name, op.upper(), row[f"n{i}"])
    if row["head"]:
        registry.set_lag(time.time() - row["head"])


class CdcQueryListener(StreamingQueryListener):
    """Watches query progress: marks activity (liveness), keeps the last
    trigger's phase durations and input rows, surfaces exceptions as
    produce errors (K6 fail-fast analog)."""

    def __init__(self, registry: MetricsRegistry) -> None:
        self.registry = registry
        self.terminated_with_error = False

    def onQueryStarted(self, event) -> None:
        self.registry.mark_activity()

    def onQueryProgress(self, event) -> None:
        # every trigger = wire activity, even with 0 rows (keepalive analog)
        self.registry.mark_activity()
        progress = event.progress
        self.registry.set_trigger(progress.durationMs, progress.numInputRows)

    def onQueryIdle(self, event) -> None:
        self.registry.mark_activity()

    def onQueryTerminated(self, event) -> None:
        if getattr(event, "exception", None):
            self.terminated_with_error = True
            self.registry.add_produce_errors(1)
