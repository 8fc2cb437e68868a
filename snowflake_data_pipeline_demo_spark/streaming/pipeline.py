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
micro-batch, which each trigger caches so its source is scanned once;
merges anti-join against dim tables (broadcast-sized) and collect only
the new dimension rows; nothing collects fact rows to the driver. The
per-trigger bookkeeping is written from the driver without Spark jobs
(copy_history and task_history rows, new dimension rows:
``Table.write_rows``), and push_trips counts its rows with an
``Observation`` on its write instead of a second action.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.merge import insert_only_merge
from ..sources.catalog import (
    Catalog, PROGRAMS_SCHEMA, STATIONS_SCHEMA, TRIP_DOC_SCHEMA, TRIPS_SCHEMA,
)
from ..sources.stage import Stage
from .history import COPY_HISTORY_SCHEMA, TASK_HISTORY_SCHEMA
from .pipe import Pipe
from .streams import TableStream
from .tasks import Task, TaskRunner

from pyspark.sql import types as T

#: raw.trips_raw: the parsed VARIANT struct (catalog.TRIPS_RAW_SCHEMA)
RAW_SCHEMA = T.StructType([T.StructField("v", TRIP_DOC_SCHEMA)])


def _v(field: str, cast_to: str | None = None) -> F.Column:
    c = F.col("v").getField(field)
    return c.cast(cast_to) if cast_to else c


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

    def _push_trips(self, batch: DataFrame, batch_id: int) -> int:
        """INSERT-SELECT with the 10 variant path-casts
        (dp_setup.sql:192-203)."""
        from ..functions.variant import epoch_micros_to_ntz

        rows = batch.select(
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
        )
        # the row count rides on the write job (no second action)
        seen = Observation()
        rows = rows.observe(seen, F.count(F.lit(1)).alias("n"))
        # batch-keyed idempotent write: a replay after a crash in the
        # write-to-commit window converges instead of duplicating (the
        # merge consumers are naturally idempotent; this INSERT is not)
        self.trips.overwrite_subdir(rows, f"batch_{batch_id}")
        return seen.get["n"]

    def _push_programs(self, batch: DataFrame, batch_id: int) -> int:
        """MERGE ... WHEN NOT MATCHED INSERT on program_id
        (dp_setup.sql:211-219)."""
        src = batch.select(
            _v("program_id", "int").alias("program_id"),
            _v("program_name").alias("program_name"),
        ).distinct()
        return insert_only_merge(self.programs, src, ["program_id"])

    def _push_stations(self, batch: DataFrame, batch_id: int) -> int:
        """UNION(-distinct) of start/end projections + MERGE on
        station_id (dp_setup.sql:227-245)."""
        def leg(side: str) -> DataFrame:
            return batch.select(
                _v(f"{side}_station_id", "int").alias("station_id"),
                _v(f"{side}_station_name").alias("station_name"),
                _v(f"{side}_station_latitude", "double").alias("station_latitude"),
                _v(f"{side}_station_longitude", "double").alias("station_longitude"),
                F.concat(F.lit("Station at "), _v(f"{side}_station_name"))
                .alias("station_comment"),
            )
        src = leg("start").union(leg("end")).distinct()
        return insert_only_merge(self.stations, src, ["station_id"])

    # -- purge (T10, dp_setup.sql:101-130) -----------------------------------

    def purge_files(self, lookback_hours: int = 10) -> int:
        """Delete staged files that copy_history shows loaded with
        error_count=0 (idempotent; rm errors swallowed like the SP's
        try/catch). Restart-safe: a ledger row is only trusted when its
        batch_id is at or below the pipe checkpoint's commits/ frontier
        — ledger appends happen inside foreachBatch BEFORE the commit,
        so a crash in between leaves a 'loaded' row for a batch that
        will replay; purging its file would make the replay read a
        deleted file (data loss with ignoreMissingFiles)."""
        frontier = self.pipe.last_committed_batch()
        if frontier is None:
            return 0
        cutoff = F.current_timestamp() - F.expr(f"INTERVAL {lookback_hours} HOURS")
        # The ledger scan can race a live write on local fs (the same
        # transient channel Table._has_data absorbs — Spark's own file
        # index stats children the writer is deleting; captured when
        # the ledger was a Spark write with _temporary staging, still
        # possible for files a replayed batch replaces). Purge is
        # idempotent and its contract eventual (files not purged this
        # tick purge next tick), so a bounded retry is the correct
        # absorption — a propagated transient here killed the whole
        # task query in the r12 live-load capture.
        for attempt in range(3):
            try:
                loaded = (
                    self.copy_history.read()
                    .filter(
                        (F.col("error_count") == 0)
                        & (F.col("last_load_time") >= cutoff)
                        & (F.col("batch_id") <= frontier)
                    )
                    .select("file_name").distinct().collect()
                )
                break
            except Exception as ex:  # noqa: BLE001 - transient-only, re-raised
                s = str(ex)
                transient = "_temporary" in s or "file permissions" in s
                if attempt == 2 or not transient:
                    raise
        staged = {f.path for f in self.stage.list()}
        purged = 0
        for r in loaded:
            name = r["file_name"].removeprefix("file:")
            if name in staged or f"file:{name}" in staged:
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
