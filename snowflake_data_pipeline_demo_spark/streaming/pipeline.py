"""The wired demo pipeline (SURVEY §3.1): stage -> pipe -> 3 streams ->
3 tasks (+ chained purge) -> modelled tables -> secure view inputs.

This module is the dp_demo.sql run-book as an engine object:

1. ``stream_data`` (T11) unloads day-prefixed JSON files to the stage
2. the pipe (S4/T1) ingests files into ``raw.trips_raw`` + copy_history
3. three independent streams (T2) watch the raw table
4. three tasks (T4): push_trips (INSERT, dp_setup.sql:192-203),
   push_programs (insert-only MERGE, :211-219), push_stations
   (UNION-distinct + MERGE, :227-245); purge_files chains AFTER
   push_trips (T5, :249-252)
5. purge (T10): delete staged files recorded error-free in copy_history

Scale notes: every task body is a declarative DataFrame plan over the
micro-batch that runs as ONE Spark job, so the source is scanned once
and nothing is cached; its Columns are built once per pipeline, not per
trigger. A body returns ``None`` when its job saw no rows, which the
task records as SKIPPED (the stream_has_data guard, streaming/tasks.py).
push_trips counts its rows with an ``Observation`` on its write; the
merges dedupe the batch in their one job and anti-join it on the driver
against dimension keys read with pyarrow (operators/merge.py). Nothing
collects fact rows to the driver. The per-trigger bookkeeping is
written from the driver without Spark jobs (copy_history and
task_history rows, new dimension rows: ``Table.write_rows``), and purge
reads copy_history with pyarrow, so it runs no Spark job either.
"""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.merge import distinct_rows, insert_rows
from ..sources.catalog import (
    Catalog, PROGRAMS_SCHEMA, STATIONS_SCHEMA, TRIP_DOC_SCHEMA, TRIPS_SCHEMA,
    Table,
)
from ..sources.stage import Stage
from .history import COPY_HISTORY_SCHEMA, TASK_HISTORY_SCHEMA
from .pipe import Pipe
from .streams import TableStream, staged_path
from .tasks import Task, TaskRunner

from pyspark.sql import types as T

#: raw.trips_raw: the parsed VARIANT struct (catalog.TRIPS_RAW_SCHEMA)
RAW_SCHEMA = T.StructType([T.StructField("v", TRIP_DOC_SCHEMA)])


def _v(field: str, cast_to: str | None = None) -> F.Column:
    c = F.col("v").getField(field)
    return c.cast(cast_to) if cast_to else c


def _trip_columns() -> list[F.Column]:
    """push_trips' projection: the 10 variant path-casts
    (dp_setup.sql:192-203)."""
    from ..functions.variant import epoch_micros_to_ntz

    return [
        _v("tripduration", "int").alias("tripduration"),
        # wire timestamps are epoch-micros longs; this is the
        # ::timestamp_ntz cast edge (dp_setup.sql:194-195)
        epoch_micros_to_ntz(_v("starttime")).alias("starttime"),
        epoch_micros_to_ntz(_v("stoptime")).alias("stoptime"),
        _v("start_station_id", "int").alias("start_station_id"),
        _v("end_station_id", "int").alias("end_station_id"),
        _v("bikeid", "int").alias("bikeid"),
        _v("usertype").alias("usertype"),
        _v("birth_year", "int").alias("birth_year"),
        _v("gender", "int").alias("gender"),
        _v("program_id", "int").alias("program_id"),
    ]


def _station_legs() -> F.Column:
    """push_stations' start and end legs (dp_setup.sql:227-245) as one
    generator column, so one scan of the batch yields both."""
    def leg(side: str) -> F.Column:
        name = _v(f"{side}_station_name")
        return F.struct(
            _v(f"{side}_station_id", "int").alias("station_id"),
            name.alias("station_name"),
            _v(f"{side}_station_latitude", "double").alias("station_latitude"),
            _v(f"{side}_station_longitude", "double").alias("station_longitude"),
            F.concat(F.lit("Station at "), name).alias("station_comment"),
        )
    return F.inline(F.array(leg("start"), leg("end")))


class CitibikePipeline:
    """End-to-end pipeline over a warehouse root + stage directory."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        self.stage = Stage(spark, f"{self.root}/stage")
        self.catalog = Catalog(spark, f"{self.root}/warehouse")
        self.checkpoints = f"{self.root}/checkpoints"

        c = self.catalog
        self.trips_raw = c.create_table("raw.trips_raw", RAW_SCHEMA)
        self.trips = c.create_table("modelled.trips", TRIPS_SCHEMA)
        self.programs = c.create_table("modelled.programs", PROGRAMS_SCHEMA)
        self.stations = c.create_table("modelled.stations", STATIONS_SCHEMA)
        self.copy_history = c.create_table("ops.copy_history", COPY_HISTORY_SCHEMA)
        self.task_history = c.create_table("ops.task_history", TASK_HISTORY_SCHEMA)

        self.pipe = Pipe(
            spark, "trips_pipe", self.stage, TRIP_DOC_SCHEMA,
            self.trips_raw, self.copy_history,
            checkpoint_dir=f"{self.checkpoints}/pipe",
            pattern="*",
        )

        # three independent CDC bookmarks on the same raw table (T2)
        self.new_trips = TableStream(spark, "new_trips", self.trips_raw, self.checkpoints)
        self.new_programs = TableStream(spark, "new_programs", self.trips_raw, self.checkpoints)
        self.new_stations = TableStream(spark, "new_stations", self.trips_raw, self.checkpoints)

        # the task bodies' projections are built once: building their
        # Columns is one py4j call per expression node (~0.1 s for
        # push_trips'), too much to pay again on every trigger
        self._trip_cols = _trip_columns()
        self._program_cols = [
            _v("program_id", "int").alias("program_id"),
            _v("program_name").alias("program_name"),
        ]
        self._station_legs = _station_legs()

        self.runner = TaskRunner()
        self.push_trips = self.runner.register(Task(
            "push_trips", self.new_trips, self._push_trips, self.task_history))
        self.push_programs = self.runner.register(Task(
            "push_programs", self.new_programs, self._push_programs, self.task_history))
        self.push_stations = self.runner.register(Task(
            "push_stations", self.new_stations, self._push_stations, self.task_history))
        # purge chains AFTER push_trips (dp_setup.sql:249-252)
        self.push_trips.add_after(self.purge_files)

    # -- task bodies ---------------------------------------------------------

    def _push_trips(self, batch: DataFrame, batch_id: int) -> int | None:
        """INSERT-SELECT with the 10 variant path-casts
        (dp_setup.sql:192-203)."""
        # the row count rides on the write job (no second action)
        seen = Observation()
        rows = batch.select(*self._trip_cols).observe(
            seen, F.count(F.lit(1)).alias("n"))
        # batch-keyed idempotent write: a replay after a crash in the
        # write-to-commit window converges instead of duplicating (the
        # merge consumers are naturally idempotent; this INSERT is not)
        self.trips.overwrite_subdir(rows, f"batch_{batch_id}")
        return seen.get["n"] or None

    def _push_programs(self, batch: DataFrame, batch_id: int) -> int | None:
        """MERGE ... WHEN NOT MATCHED INSERT on program_id
        (dp_setup.sql:211-219); the merge dedupes the source."""
        src = batch.select(*self._program_cols)
        return self._merge(self.programs, src, ["program_id"])

    def _push_stations(self, batch: DataFrame, batch_id: int) -> int | None:
        """UNION(-distinct) of start/end projections + MERGE on
        station_id (dp_setup.sql:227-245): both legs come out of one
        scan of the batch, and the merge dedupes them."""
        src = batch.select(self._station_legs)
        return self._merge(self.stations, src, ["station_id"])

    @staticmethod
    def _merge(table: Table, src: DataFrame, keys: list[str]) -> int | None:
        """operators.merge.insert_only_merge in its two steps, so that a
        batch with no rows (``None``: SKIPPED) is told apart from one
        whose keys are all known (0 rows inserted)."""
        rows = distinct_rows(src.select(*table.schema.names))
        return insert_rows(table, rows, keys) if rows else None

    # -- purge (T10, dp_setup.sql:101-130) -----------------------------------

    def purge_files(self, lookback_hours: int = 10) -> int:
        """Delete staged files that copy_history shows loaded with
        error_count=0 within the lookback (idempotent; a failed rm is
        retried next tick, like the SP's try/catch loop). Restart-safe:
        a ledger row is only trusted when its batch_id is at or below
        the pipe checkpoint's commits/ frontier — ledger appends happen
        inside foreachBatch BEFORE the commit, so a crash in between
        leaves a 'loaded' row for a batch that will replay; purging its
        file would make the replay read a deleted file (data loss with
        ignoreMissingFiles).

        No Spark job: the ledger is read with pyarrow on the driver
        (``Table.read_arrow``, which retries a read that races a
        replayed batch replacing its ledger file)."""
        frontier = self.pipe.last_committed_batch()
        if frontier is None:
            return 0
        cutoff = pa.scalar(
            dt.datetime.now(dt.timezone.utc) - dt.timedelta(hours=lookback_hours),
            pa.timestamp("us", tz="UTC"))
        loaded = self.copy_history.read_arrow(
            ["file_name", "error_count", "last_load_time", "batch_id"],
        ).filter((pc.field("error_count") == 0)
                 & (pc.field("last_load_time") >= cutoff)
                 & (pc.field("batch_id") <= frontier))
        staged = {staged_path(f.path) for f in self.stage.list()}
        purged = 0
        for name in {staged_path(n) for n in loaded["file_name"].to_pylist()}:
            if name in staged:
                purged += int(self.stage.rm(name))
        return purged

    # -- batch-mode drive (tests / demo) -------------------------------------

    def run_available(self) -> None:
        """One synchronous end-to-end drain: pipe, then all three tasks
        (the 1-minute wait collapsed, same commit order)."""
        self.pipe.run_available()
        self.runner.run_available_all()

    # -- monitoring (§3.3) ----------------------------------------------------

    def status(self) -> DataFrame:
        from ..plans.dashboard import pipeline_status

        pipe_status = self.pipe.status()
        latest = self.trips.read().agg(F.max("starttime").alias("m")).collect()[0]["m"]
        return pipeline_status(
            self.spark,
            staged_files=pipe_status["stagedFileCount"],
            pending_files=pipe_status["pendingFileCount"],
            files_loaded_recent=pipe_status["loadedFileCount"],
            raw_count=self.trips_raw.count(),
            stream_backlogs={
                "new_trips": self.new_trips.backlog_count(),
                "new_programs": self.new_programs.backlog_count(),
                "new_stations": self.new_stations.backlog_count(),
            },
            trips_count=self.trips.count(),
            programs_count=self.programs.count(),
            stations_count=self.stations.count(),
            latest_starttime=latest,
        )
