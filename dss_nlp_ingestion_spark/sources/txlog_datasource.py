"""Spark-native front door for the tx-log table format: a Python
Data Source (Spark 4 ``pyspark.sql.datasource`` API) so consumers use
the ENGINE'S OWN surface —

    spark.dataSource.register(TxLogDataSource)
    spark.read.format("txlog").option("path", p).load()            # batch
    spark.read.format("txlog").option("version", "3")...            # travel
    spark.readStream.format("txlog").option("path", p).load()       # CDC

instead of calling library functions. The batch reader plans one
input partition per live data file from the LOG (same snapshot
isolation as txlog.read) and yields Arrow RecordBatches (the
vectorized path of the Python source API — no per-row Python tuples).
The stream reader treats LOG VERSIONS as offsets: each microbatch is
exactly the files ADDED by commits in (start, end] — an exactly-once
append-feed over the table, with offsets checkpointed by the engine.

Scale honesty: a Python data source moves bytes through Arrow between
the JVM and a Python worker, so for raw throughput the explicit
file-list readers (txlog.read) remain the fast path — this module is
the INTEGRATION surface (catalog/readStream/SQL), and its planning
work (log fold, file pruning) is identical driver-side metadata.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from dss_nlp_ingestion_spark.sources import txlog


class _FilePartition(InputPartition):
    def __init__(self, file: str):
        self.file = file


def _unified_arrow_schema(files: list[str]):
    """Footer-merged schema over ALL live files — a snapshot spanning
    an additive schema evolution must read as the WIDEST schema (the
    same resolution txlog.read performs via mergeSchema), not as
    whichever file happens to be listed first."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    return pa.unify_schemas([pq.ParquetFile(f).schema_arrow for f in files])


def _pad_batch(batch, schema):
    """Project a RecordBatch onto the unified schema: missing columns
    become nulls, order follows the declared schema."""
    import pyarrow as pa

    cols = []
    for field in schema:
        idx = batch.schema.get_field_index(field.name)
        if idx >= 0:
            cols.append(batch.column(idx).cast(field.type))
        else:
            cols.append(pa.nulls(batch.num_rows, type=field.type))
    return pa.RecordBatch.from_arrays(cols, schema=schema)


class _TxLogBatchReader(DataSourceReader):
    def __init__(self, options: dict, arrow_schema):
        self.path = options["path"]
        v = options.get("version")
        self.version = int(v) if v is not None else None
        self.arrow_schema = arrow_schema

    def partitions(self):
        return [
            _FilePartition(f)
            for f in txlog.snapshot_files(self.path, self.version)
        ]

    def read(self, partition):  # executor-side: Arrow batches, not rows
        import pyarrow.parquet as pq

        for batch in pq.ParquetFile(partition.file).iter_batches():
            yield _pad_batch(batch, self.arrow_schema)


class _TxLogStreamReader(SimpleDataSourceStreamReader):
    """Versions-as-offsets CDC append feed: offset {"version": v}
    means 'everything through commit v has been delivered'. Only
    create/append/overwrite commits emit rows; rewrite-family commits
    (compact/zorder/delete) are layout/removal changes an append-only
    feed cannot represent and are skipped (see
    txlog.append_feed_files_between)."""

    def __init__(self, options: dict, field_names: list):
        self.path = options["path"]
        self.field_names = list(field_names)
        start = options.get("startingversion")
        self.start_version = int(start) if start is not None else -1

    def initialOffset(self) -> dict:
        return {"version": self.start_version}

    def _added_rows(self, v_from: int, v_to: int) -> list[tuple]:
        # Materialized (not a generator): the Simple stream API ships
        # the batch through a pickle boundary. Microbatch = commit
        # delta, so the prefetch is bounded by commit size, not table
        # size.
        import pyarrow.parquet as pq

        if v_from < 0:
            # initial load: the snapshot as of the first observed head
            files = txlog.snapshot_files(self.path, v_to)
        else:
            # incremental: NEW-row files by LOG OPERATION — a raw
            # file diff would re-deliver every row a compaction or
            # delete-rewrite merely copied (exactly-once would break
            # the first time OPTIMIZE ran inside an offset window)
            files = txlog.append_feed_files_between(self.path, v_from, v_to)
        rows: list[tuple] = []
        names = self.field_names
        for f in files:
            for batch in pq.ParquetFile(f).iter_batches():
                # name-keyed projection: schema-evolved files may have
                # extra/missing/reordered columns vs the stream schema
                rows.extend(
                    tuple(r.get(n) for n in names) for r in batch.to_pylist()
                )
        return rows

    def read(self, start: dict):
        versions = [h["version"] for h in txlog.history(self.path)]
        head = versions[-1] if versions else -1
        v_from = int(start["version"])
        if head <= v_from:
            return iter([]), start
        # iter() over a materialized list: the engine wrapper needs a
        # real iterator (it probes next() on no-advance) AND pickles
        # the prefetched entry (list_iterator pickles; generators
        # don't).
        return iter(self._added_rows(v_from, head)), {"version": head}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(self._added_rows(int(start["version"]), int(end["version"])))


class TxLogDataSource(DataSource):
    """``format("txlog")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "txlog"

    def schema(self):
        from pyspark.sql.pandas.types import from_arrow_schema

        path = self.options["path"]
        v = self.options.get("version")
        files = txlog.snapshot_files(path, int(v) if v is not None else None)
        if not files:
            raise ValueError(f"empty snapshot at {path}")
        return from_arrow_schema(_unified_arrow_schema(files))

    def reader(self, schema):
        from pyspark.sql.pandas.types import to_arrow_schema

        return _TxLogBatchReader(self.options, to_arrow_schema(schema))

    def simpleStreamReader(self, schema):
        return _TxLogStreamReader(self.options, [f.name for f in schema.fields])

    def writer(self, schema, overwrite: bool):
        return _TxLogWriter(self.options, schema, overwrite)

    def streamWriter(self, schema, overwrite: bool):  # noqa: N802
        if overwrite:
            raise ValueError("txlog streaming writer supports append mode only")
        return _TxLogStreamWriter(self.options, schema)


def register(spark) -> None:
    spark.dataSource.register(TxLogDataSource)


# ---------------------------------------------------------------------------
# Writer: df.write.format("txlog").mode("append"|"overwrite").save(path)
# ---------------------------------------------------------------------------
# The Python writer API is EXACTLY the log's two-phase commit: each
# task stages one parquet file and reports it in its commit message;
# the driver's commit() publishes the log entry (temp file + fsync +
# os.link, put-if-absent) referencing only reported files.
# Speculative/retried task leftovers are never referenced (vacuum
# cleans them) — the same crash story as the library write path, now
# behind Spark's own writer surface.

from dataclasses import dataclass

from pyspark.sql.datasource import DataSourceWriter, WriterCommitMessage


@dataclass
class _StagedFile(WriterCommitMessage):
    rel: str  # staged file, relative to <path>/data/


class _TxLogWriter(DataSourceWriter):
    def __init__(self, options: dict, schema, overwrite: bool):
        import uuid as _uuid

        self.path = options["path"]
        self.overwrite = overwrite
        self.txn = _uuid.uuid4().hex[:12]
        self.schema = schema

    def write(self, iterator):  # executor-side
        import os
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(self.schema)
        rows = [r.asDict() for r in iterator]
        staged_dir = os.path.join(self.path, "data", self.txn)
        os.makedirs(staged_dir, exist_ok=True)
        name = f"part-{_uuid.uuid4().hex[:12]}.parquet"
        tbl = pa.Table.from_pylist(rows, schema=arrow_schema)
        pq.write_table(tbl, os.path.join(staged_dir, name))
        return _StagedFile(rel=f"{self.txn}/{name}")

    def commit(self, messages):  # driver-side: the atomic log commit
        files = [m.rel for m in messages if m is not None]
        if not self.overwrite:
            entry = {"op": "append", "add": files, "remove": []}
            txlog._commit(self.path, "append", entry)
            return

        def overwrite(head: int) -> dict:
            live = txlog.snapshot_files(self.path, head) if head >= 0 else []
            remove = [txlog._stored_name(self.path, f) for f in live]
            return {"op": "overwrite", "add": files, "remove": remove}

        txlog._commit(self.path, "overwrite", overwrite)

    def abort(self, messages):  # nothing referenced -> nothing visible
        import os

        for m in messages:
            if m is not None:
                try:
                    os.remove(os.path.join(self.path, "data", m.rel))
                except OSError:
                    pass


# ---------------------------------------------------------------------------
# Streaming writer: df.writeStream.format("txlog").start(...)
# ---------------------------------------------------------------------------
# Spark hands every micro-batch through the same two-phase protocol as
# the batch writer — tasks stage, driver commits — and additionally
# passes the batchId, which maps 1:1 onto the log's idempotent-writer
# txn stamp: commit() skips any batchId at or below the app's last
# committed epoch, so a replayed micro-batch (restart, checkpoint
# loss) lands ZERO rows. This is the engine-native form of
# streaming.pipeline.stream_merge_to_txlog_table's foreachBatch sink,
# for the append case.

from pyspark.sql.datasource import DataSourceStreamWriter


class _TxLogStreamWriter(DataSourceStreamWriter):
    def __init__(self, options: dict, schema):
        self.path = options["path"]
        self.app = options.get("appid", "txlog_stream")
        self.schema = schema

    def write(self, iterator):  # executor-side, per partition per batch
        import os
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(self.schema)
        rows = [r.asDict() for r in iterator]
        txn = _uuid.uuid4().hex[:12]
        staged_dir = os.path.join(self.path, "data", txn)
        os.makedirs(staged_dir, exist_ok=True)
        name = f"part-{_uuid.uuid4().hex[:12]}.parquet"
        tbl = pa.Table.from_pylist(rows, schema=arrow_schema)
        pq.write_table(tbl, os.path.join(staged_dir, name))
        return _StagedFile(rel=f"{txn}/{name}")

    def commit(self, messages, batchId: int) -> None:  # noqa: N803
        if txlog.last_committed_txn(self.path, self.app) >= batchId:
            # Replayed epoch: files were staged by this batch's tasks
            # but must never become visible; leave them to vacuum.
            return
        files = [m.rel for m in messages if m is not None]
        entry = {
            "op": "append",
            "add": files,
            "remove": [],
            "txn": {"app": self.app, "epoch": int(batchId)},
        }
        txlog._commit(self.path, "stream append", entry)
        # bound log-replay cost on long-lived streaming tables
        txlog.maybe_checkpoint(self.path)

    def abort(self, messages, batchId: int) -> None:  # noqa: N803
        import os

        for m in messages:
            if m is not None:
                try:
                    os.remove(os.path.join(self.path, "data", m.rel))
                except OSError:
                    pass
