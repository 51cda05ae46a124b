"""Custom Spark 4 Python DataSource: a self-contained simulated CDC feed.

``format("outboxx_cdc")`` replays the events table as a change stream —
the testbed analog of holding a replication slot, usable anywhere the
real source (Kafka/Postgres) isn't available. SURVEY §4 called this out
as the one place custom source code is justified.

- Batch reader: partition-parallel pyarrow scan of the events parquet
  (row-group per partition), emitting the same flat feed rows as
  ``sources.feed.read_feed``. Yields ``pyarrow.RecordBatch`` (the
  Spark 4 DataSource API's Arrow fast path) built with vectorized
  ``pyarrow.compute`` kernels — no per-row Python, no pickling; the
  batch crosses to the JVM as Arrow buffers. Domain assumption (holds
  for this testbed and the reference's semantics): ``ts`` >= epoch and
  ``user_id`` >= 0 — the vectorized ``divide``/``bit_wise_and`` match
  floor-division/modulo only for non-negative inputs.
- Stream reader: ``SimpleDataSourceStreamReader`` replaying events in
  LSN order, ``batch_size`` events per micro-batch — offsets are
  ``{"lsn": N}``, making the LSN-as-offset contract literal. (The
  simple reader API is driver-side by design — right for a simulated
  source; the production feed is the Kafka connector.)

Usage:
    from outboxx_spark.sources.datasource import register
    register(spark)
    df = spark.read.format("outboxx_cdc").option("path", sf_dir).load()
    st = spark.readStream.format("outboxx_cdc").option("path", sf_dir).load()
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType

from outboxx_spark.sources.feed import N_VIRTUAL_TABLES, OP_BY_EVENT_TYPE

FEED_SCHEMA_DDL = (
    "op string, resource string, lsn long, commit_ts long, "
    "user_id long, event_type string, value double, props string"
)



def _to_feed_row(event_id, ts_ns, user_id, event_type, value, props):
    # mirrors sources/feed.py: op CASE, virtual resource, ns -> unix s
    return (
        OP_BY_EVENT_TYPE.get(event_type, "DELETE"),
        f"public.t{user_id % N_VIRTUAL_TABLES}",
        event_id,
        ts_ns // 1_000_000_000,
        user_id,
        event_type,
        value,
        props,
    )


def _events_path(options) -> str:
    path = options.get("path")
    if not path:
        raise ValueError("outboxx_cdc: option 'path' (sf_dir) is required")
    return f"{path}/events.parquet"


class _RowGroupPartition(InputPartition):
    def __init__(self, index: int) -> None:
        self.index = index


class OutboxxCdcBatchReader(DataSourceReader):
    def __init__(self, options) -> None:
        self.path = _events_path(options)

    def partitions(self):
        import pyarrow.parquet as pq

        n = pq.ParquetFile(self.path).num_row_groups
        return [_RowGroupPartition(i) for i in range(n)]

    def read(self, partition: _RowGroupPartition):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        table = pq.ParquetFile(self.path).read_row_group(
            partition.index,
            columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
        )
        event_type = table.column("event_type").combine_chunks()
        # op: dictionary lookup event_type -> op, unknowns -> DELETE
        keys = pa.array(list(OP_BY_EVENT_TYPE), type=pa.string())
        vals = pa.array(list(OP_BY_EVENT_TYPE.values()), type=pa.string())
        idx = pc.index_in(event_type, value_set=keys)
        op = pc.fill_null(pc.take(vals, idx), "DELETE")
        user_id = pc.cast(table.column("user_id"), pa.int64())
        resource = pc.binary_join_element_wise(
            pa.array(["public.t"] * len(table), type=pa.string()),
            # user_id % N_VIRTUAL_TABLES (this pyarrow has no modulo
            # kernel; the table count is a power of 2)
            pc.cast(pc.bit_wise_and(user_id, N_VIRTUAL_TABLES - 1), pa.string()),
            "",
        )
        ts = table.column("ts")
        ts_ns = (
            pc.cast(ts, pa.int64())
            if pa.types.is_integer(ts.type)
            else pc.cast(pc.cast(ts, pa.timestamp("ns")), pa.int64())
        )
        commit_ts = pc.divide(ts_ns, 1_000_000_000)
        out = pa.table(
            {
                "op": pc.cast(op, pa.string()),
                "resource": resource,
                "lsn": pc.cast(table.column("event_id"), pa.int64()),
                "commit_ts": pc.cast(commit_ts, pa.int64()),
                "user_id": user_id,
                "event_type": pc.cast(event_type, pa.string()),
                "value": pc.cast(table.column("value"), pa.float64()),
                "props": pc.cast(table.column("props"), pa.string()),
            }
        )
        yield from out.combine_chunks().to_batches()


class OutboxxCdcStreamReader(SimpleDataSourceStreamReader):
    """LSN-ordered replay, ``batch_size`` events per micro-batch — the
    reference's 5000-event receive batches (`src/constants.zig:21`)."""

    def __init__(self, options) -> None:
        self.path = _events_path(options)
        self.batch_size = int(options.get("batch_size", 5000))
        self._rows = None  # lazily-loaded, sorted by lsn

    def _load(self):
        if self._rows is None:
            import pyarrow.parquet as pq

            table = pq.read_table(self.path)
            cols = [table.column(c).to_pylist() for c in (
                "event_id", "ts", "user_id", "event_type", "value", "props")]
            rows = []
            for event_id, ts, user_id, event_type, value, props in zip(*cols):
                ts_ns = ts if isinstance(ts, int) else int(ts.timestamp() * 1e9)
                rows.append(_to_feed_row(event_id, ts_ns, user_id, event_type, value, props))
            rows.sort(key=lambda r: r[2])  # lsn order
            self._rows = rows
        return self._rows

    def initialOffset(self) -> dict:
        return {"lsn": -1}

    def read(self, start: dict):
        rows = self._load()
        lo = start["lsn"]
        batch = [r for r in rows if r[2] > lo][: self.batch_size]
        if not batch:
            return iter([]), start
        return iter(batch), {"lsn": batch[-1][2]}

    def readBetweenOffsets(self, start: dict, end: dict):
        rows = self._load()
        return iter([r for r in rows if start["lsn"] < r[2] <= end["lsn"]])


class OutboxxCdcDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "outboxx_cdc"

    def schema(self) -> str:
        return FEED_SCHEMA_DDL

    def reader(self, schema: StructType) -> DataSourceReader:
        return OutboxxCdcBatchReader(self.options)

    def simpleStreamReader(self, schema: StructType) -> SimpleDataSourceStreamReader:
        return OutboxxCdcStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(OutboxxCdcDataSource)
