"""Pipe: continuous file ingestion (SURVEY §2.9 T1, §2.1 S4).

Reference: ``CREATE PIPE ... auto_ingest=true AS COPY INTO raw.trips_raw
FROM @stage`` (dp_demo.sql:45): S3 event -> SQS -> Snowpipe runs the
COPY; exactly-once per file via load history; observability via
``system$pipe_status()`` (T7) and ``copy_history`` (T8).

Spark-native: Structured Streaming **file source** on the stage
directory — new-file discovery per micro-batch, exactly-once file
tracking via the checkpointed file log (the same contract, no SQS hop).
Each micro-batch writes to the raw table AND the copy_history ledger.

The raw table stores the *parsed* document struct, not JSON text:
Snowflake's VARIANT is itself internally columnarized, and parsing once
at ingest (schema'd JSON scan, vectorized, JVM-side) is the plan that
survives 100 TB — re-parsing text per downstream query/consumer would
multiply the parse cost by the number of consumers.

Exactly-once rows (the Snowpipe load-history contract) without Delta:
each micro-batch writes the raw rows to an idempotent, batch-id-keyed
subdir (``batch_<id>/``, catalog.Table.overwrite_subdir) — the
plain-parquet equivalent of Delta's txn-id'd foreachBatch write. On
replay after a crash in the write-to-commit window, a batch whose
``_SUCCESS`` marker already exists is SKIPPED (no new files, so
downstream file-source streams see nothing new either); a half-written
batch is overwritten and converges. The ledger rows (one per file,
counted from the cached batch; a staged file with no rows gets a
``row_count = 0`` row) are written from the driver with the
batch-keyed form of ``Table.write_rows``, so replays update-in-place
instead of duplicating.

Purge safety (T10) still requires the commit frontier: ledger rows are
durable before the checkpoint commit, and the staged source files MUST
survive until the commit lands (replay re-reads them) — so purge only
trusts ``batch_id <= last_committed_batch()`` (checkpoint commits/).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from ..sources.catalog import Table
from ..sources.stage import Stage
from .history import COPY_HISTORY_SCHEMA
from .streams import file_log, last_committed_batch, staged_path


class Pipe:
    """A named continuous COPY from a stage prefix into a raw table."""

    def __init__(
        self,
        spark: SparkSession,
        name: str,
        stage: Stage,
        doc_schema: StructType,
        raw_table: Table,
        copy_history: Table,
        checkpoint_dir: str,
        pattern: str = "*",
        file_format: str = "json",
        format_options: dict[str, str] | None = None,
    ):
        # Snowpipe COPY supports multiple staged file formats
        # (dp_setup.sql:140 lists "Parquet, JSON, ORC, XML, Avro");
        # built-in Spark streaming sources cover json/csv/parquet/orc,
        # and avro/xml light up when their module jar is on the
        # classpath (sources.stage.optional_formats probes once).
        from ..sources.stage import optional_formats

        allowed = ("json", "csv", "parquet", "orc") + optional_formats(spark)
        if file_format not in allowed:
            raise ValueError(
                f"file_format {file_format!r} needs an external Spark "
                f"module not on this classpath; available: {allowed}"
            )
        self.spark = spark
        self.name = name
        self.stage = stage
        self.doc_schema = doc_schema
        self.raw_table = raw_table
        self.copy_history = copy_history
        self.checkpoint_dir = checkpoint_dir
        self.pattern = pattern
        self.file_format = file_format
        self.format_options = dict(format_options or {})
        self.query: StreamingQuery | None = None

    # -- the COPY INTO body -------------------------------------------------
    def _ingest_batch(self, batch: DataFrame, batch_id: int) -> None:
        sub = f"batch_{batch_id}"
        # one scan of the staged files feeds both the raw write and the
        # per-file counts
        batch = batch.cache()
        try:
            if not self.raw_table.subdir_committed(sub):
                rows = batch.drop("metadata$filename")
                self.raw_table.overwrite_subdir(
                    rows.select(
                        F.struct(
                            *[F.col(f.name) for f in self.doc_schema.fields]
                        ).alias("v"),
                    ),
                    sub,
                )
            counts = dict(batch.groupBy("metadata$filename").count().collect())
            # a file with no rows has no group above; the batch's files
            # come from the source's checkpoint log, because
            # batch.inputFiles() is empty here (the batch is a LogicalRDD)
            for path, _ in file_log(self.checkpoint_dir, batch_id):
                counts.setdefault(path, 0)
            now = dt.datetime.now(dt.timezone.utc)
            self.copy_history.write_rows(
                [(name, self.stage.url, self.raw_table.path, n, 0, now,
                  batch_id) for name, n in counts.items()],
                sub,
            )
        finally:
            batch.unpersist()

    def _source(self) -> DataFrame:
        r = (
            self.spark.readStream.schema(self.doc_schema)
            .format(self.file_format)
            # wire timestamps are epoch-micros longs (scale path); the
            # NTZ format remains for docs that do carry formatted times
            .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss[.SSS]")
            .option("pathGlobFilter", self.pattern)
            # day-prefix layout => files live under subdirectories
            .option("recursiveFileLookup", "true")
        )
        for k, v in self.format_options.items():
            r = r.option(k, v)
        return r.load(self.stage.url).select(
            "*", F.col("_metadata.file_path").alias("metadata$filename")
        )

    # -- lifecycle (T6: resume/suspend == start/stop) ------------------------
    def resume(self, processing_time: str | None = None) -> StreamingQuery:
        writer = (
            self._source().writeStream
            .queryName(f"pipe_{self.name}")
            .option("checkpointLocation", self.checkpoint_dir)
            .foreachBatch(self._ingest_batch)
        )
        if processing_time:
            writer = writer.trigger(processingTime=processing_time)
        self.query = writer.start()
        return self.query

    def run_available(self) -> None:
        """Synchronous drain: ingest every file currently staged (used by
        tests and the batch-mode demo driver)."""
        q = (
            self._source().writeStream
            .queryName(f"pipe_{self.name}_once")
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .foreachBatch(self._ingest_batch)
            .start()
        )
        q.awaitTermination()

    def suspend(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None

    def describe(self) -> dict:
        """``DESCRIBE PIPE`` (dp_demo.sql:61 shape): name, the COPY
        definition analog (stage -> table), and its state."""
        return {
            "name": self.name,
            "definition": f"COPY INTO {self.raw_table.path} FROM {self.stage.url}",
            "pattern": self.pattern,
            "execution_state": "RUNNING" if self.query and self.query.isActive else "PAUSED",
            "checkpoint": self.checkpoint_dir,
        }

    def last_committed_batch(self) -> int | None:
        """The pipe checkpoint's transactional frontier (see module
        docstring: ledger rows beyond it are from uncommitted batches)."""
        return last_committed_batch(self.checkpoint_dir)

    # -- T7: system$pipe_status() -------------------------------------------
    def status(self) -> dict:
        """``parse_json(system$pipe_status())`` analog (dp_demo.sql:52,
        132): executionState + pendingFileCount (staged minus loaded).
        The loaded files are read from copy_history with pyarrow on the
        driver (no Spark job)."""
        staged = {staged_path(f.path) for f in self.stage.list()}
        loaded = {staged_path(n) for n in
                  self.copy_history.read_arrow(["file_name"]).column("file_name").to_pylist()}
        return {
            "executionState": "RUNNING" if self.query and self.query.isActive else "PAUSED",
            "pendingFileCount": len(staged - loaded),
            "stagedFileCount": len(staged),
            "loadedFileCount": len(loaded),
        }
