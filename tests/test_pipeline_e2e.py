"""End-to-end pipeline tests (SURVEY §5 strategy #2/#4): stream_data ->
pipe -> 3 streams/tasks -> modelled tables; exactly-once-per-file
ingest; per-consumer offsets; idempotent merges; purge safety."""

from __future__ import annotations

import json
import os
import sys
import time

import pytest
from pyspark.sql import functions as F

from snowflake_data_pipeline_demo_spark.plans.citibike import trip_docs
from snowflake_data_pipeline_demo_spark.streaming.pipeline import CitibikePipeline
from snowflake_data_pipeline_demo_spark.streaming.stream_data import stream_data


@pytest.fixture(scope="module")
def pipeline(spark, tables, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("pipeline"))
    p = CitibikePipeline(spark, root)
    docs = trip_docs(tables["lineitem"], tables["supplier"], tables["nation"])
    # keep the fixture fast: two day-partitions only
    days = [r["day"] for r in docs.select("day").distinct().orderBy("day").limit(2).collect()]
    docs_2d = docs.filter(F.col("day").isin(days)).cache()
    n_files = stream_data(docs_2d, p.stage, days[0], days[-1])
    p.expected_rows = docs_2d.count()
    p.n_days = n_files
    from snowflake_data_pipeline_demo_spark.plans.citibike import (
        extract_trips, programs_from_raw, stations_from_raw,
    )
    ext = extract_trips(docs_2d)
    p.expected_programs = programs_from_raw(ext).count()
    p.expected_stations = stations_from_raw(ext).select("station_id").distinct().count()
    return p


def test_stream_data_day_prefixes(pipeline):
    files = pipeline.stage.list()
    assert files, "stream_data wrote no files"
    assert all("snowpipe_demo" in f.path for f in files)
    assert pipeline.n_days == 2


def test_pipe_ingests_exactly_once(pipeline):
    pipeline.pipe.run_available()
    assert pipeline.trips_raw.count() == pipeline.expected_rows
    # re-run: file-source checkpoint must not re-ingest (T1 exactly-once)
    pipeline.pipe.run_available()
    assert pipeline.trips_raw.count() == pipeline.expected_rows
    # copy_history ledger has one row per staged file, zero errors (T8)
    ch = pipeline.copy_history.read()
    assert ch.filter("error_count != 0").count() == 0
    assert ch.select("file_name").distinct().count() == len(pipeline.stage.list())


def test_tasks_push_and_streams_drain(pipeline):
    pipeline.runner.run_available_all()
    assert pipeline.trips.count() == pipeline.expected_rows
    # dims: distinct keys merged once (930-stations/61-programs analog)
    assert pipeline.programs.count() == pipeline.expected_programs
    assert pipeline.stations.count() == pipeline.expected_stations
    # streams drained to 0 (dp_demo.sql:155-158)
    assert pipeline.new_trips.backlog_count() == 0
    assert pipeline.new_programs.backlog_count() == 0
    assert pipeline.new_stations.backlog_count() == 0
    # task_history records SUCCEEDED runs (T9)
    th = pipeline.task_history.read()
    assert th.filter("state = 'SUCCEEDED'").count() >= 3


def test_rerun_is_idempotent_and_skipped(pipeline):
    before = (pipeline.trips.count(), pipeline.programs.count(), pipeline.stations.count())
    pipeline.runner.run_available_all()
    after = (pipeline.trips.count(), pipeline.programs.count(), pipeline.stations.count())
    assert before == after
    # empty micro-batches recorded as SKIPPED (dp_demo.sql:170)
    assert pipeline.task_history.read().filter("state = 'SKIPPED'").count() >= 1


def test_purge_chained_after_push_trips(pipeline, spark):
    # the AFTER-chained purge (dp_setup.sql:249-252) already ran inside
    # push_trips' drain: every loaded file is gone from the stage
    assert pipeline.stage.list() == []
    # purge never touches a file copy_history hasn't committed (T10
    # restart-safety): stage a new, un-ingested file and re-purge
    spark.range(1).coalesce(1).selectExpr("cast(id as string) as v").write.mode(
        "append"
    ).text(f"{pipeline.stage.url}/snowpipe_demo9999-01-01")
    n_staged = len(pipeline.stage.list())
    assert n_staged >= 1
    assert pipeline.purge_files() == 0
    assert len(pipeline.stage.list()) == n_staged  # unloaded files survived
    pipeline.stage.rm("snowpipe_demo9999-01-01")


def test_incremental_second_wave(pipeline, spark, tables):
    """New files after the first drain flow through incrementally —
    per-consumer offsets advance independently (T2/T3)."""
    docs = trip_docs(tables["lineitem"], tables["supplier"], tables["nation"])
    days = sorted(r["day"] for r in docs.select("day").distinct().collect())
    wave2 = days[2]
    stream_data(docs, pipeline.stage, wave2, wave2)
    wave2_rows = docs.filter(F.col("day") == wave2).count()

    programs_before = pipeline.programs.count()
    pipeline.run_available()
    assert pipeline.trips_raw.count() == pipeline.expected_rows + wave2_rows
    assert pipeline.trips.count() == pipeline.expected_rows + wave2_rows
    assert pipeline.programs.count() >= programs_before  # insert-only merge
    assert pipeline.new_trips.backlog_count() == 0


def test_pipe_status_and_dashboard(pipeline):
    st = pipeline.pipe.status()
    assert st["pendingFileCount"] == 0
    row = pipeline.status().collect()[0]
    assert row["trips_rows"] == pipeline.trips.count()
    assert row["backlog_new_trips"] == 0
    assert row["programs_rows"] == pipeline.programs.count()


def test_record_failure_dropped_only_while_stopping():
    """The suspend-interrupt race pin (r11): a task-history append that
    fails WHILE the task is stopping is dropped (the uncommitted epoch
    replays on resume, so the row re-appends), but the same failure on
    a running task propagates — the guard must never absorb a real
    write error."""
    from snowflake_data_pipeline_demo_spark.streaming.tasks import Task

    class _Boom:
        def write_rows(self, rows, subdir=None):
            raise RuntimeError("interrupted ledger write stand-in")

    t = Task("t", stream=None, body=lambda b, i: 0, task_history=_Boom())
    t._stopping = True
    # dropped, no raise — and the False return tells _on_batch to skip
    # AFTER hooks on the dying thread
    assert t._record("SKIPPED", None, -1, 0, None) is False
    t._stopping = False
    with pytest.raises(RuntimeError, match="stand-in"):
        t._record("SKIPPED", None, -1, 0, None)


def test_concurrent_appends_to_one_table_are_safe(spark, tmp_path):
    """The r11 staging-collision pin: concurrent Spark append jobs into
    one path shared the committer's _temporary/0 staging dir, and one
    commit's cleanup deleted the other's in-flight attempt dir
    (captured live from two task ticks appending task_history). The
    ledgers now append with Table.write_rows, which renames one
    uniquely named file into place per call: 48 writes from 16 threads
    must all land."""
    import concurrent.futures

    from pyspark.sql import types as T

    from snowflake_data_pipeline_demo_spark.sources.catalog import Table

    t = Table(spark, str(tmp_path / "ledger"), T.StructType([
        T.StructField("k", T.LongType()),
    ]))
    t.write_rows([(i,) for i in range(12)])

    # the driver-side ledger writer (Table.write_rows) from more
    # threads than cores, with a short switch interval: every row lands
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with concurrent.futures.ThreadPoolExecutor(max_workers=16) as ex:
            futs = [ex.submit(t.write_rows, [(i,), (i + 1000,)])
                    for i in range(12, 60)]
        for f in futs:
            f.result(timeout=60)
    finally:
        sys.setswitchinterval(old)
    want = set(range(60)) | set(range(1012, 1060))
    assert sorted(r["k"] for r in t.read().collect()) == sorted(want)


def test_backlog_counts_uncommitted_batch_listed_in_compact_file(spark, tmp_path):
    """``N.compact`` is written when consumer batch N starts and lists
    every file-log entry through N. With batch 9 in flight (commits/
    stops at 8), the rows of the files batch 9 read are still backlog
    even though ``9.compact`` names them."""
    from snowflake_data_pipeline_demo_spark.sources.catalog import (
        PROGRAMS_SCHEMA, Table,
    )
    from snowflake_data_pipeline_demo_spark.streaming.streams import TableStream

    raw = Table(spark, str(tmp_path / "raw"), PROGRAMS_SCHEMA)
    raw.overwrite_subdir(spark.createDataFrame([(1, "a"), (2, "b")], PROGRAMS_SCHEMA),
                         "batch_0")
    raw.overwrite_subdir(spark.createDataFrame([(3, "c")] * 5, PROGRAMS_SCHEMA),
                         "batch_1")
    s = TableStream(spark, "new_rows", raw, str(tmp_path / "checkpoints"))
    os.makedirs(f"{s.checkpoint_dir}/commits")
    os.makedirs(f"{s.checkpoint_dir}/sources/0")
    for b in range(9):
        with open(f"{s.checkpoint_dir}/commits/{b}", "w") as fh:
            fh.write('v1\n{"nextBatchWatermarkMs":0}\n')
    with open(f"{s.checkpoint_dir}/sources/0/9.compact", "w") as fh:
        fh.write("v1\n")
        for path, _ in raw.data_files():
            fh.write(json.dumps({
                "path": path, "timestamp": 0,
                "batchId": 9 if "/batch_1/" in path else 4,
            }) + "\n")
    assert s.backlog_count() == 5


def _stream_progress_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class Rows(StreamingQueryListener):
        def __init__(self):
            self.rows: dict[str, list[int]] = {}

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.rows.setdefault(p.name, []).append(p.numInputRows)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Rows()


def _probe_job_id(sc) -> int:
    """Run one job outside any job group and return its id."""
    sc.setLocalProperty("spark.jobGroup.id", None)
    before = set(sc.statusTracker().getJobIdsForGroup(None))
    sc.parallelize([0], 1).count()
    (new,) = set(sc.statusTracker().getJobIdsForGroup(None)) - before
    return new


#: Spark jobs per task trigger, without the AFTER purge: each body's
#: one job over the micro-batch (push_trips' write, the merges' noop
#: write carrying the dedupe), which also serves as the
#: stream_has_data guard
_TASK_JOB_BUDGET = {"push_trips": 1, "push_programs": 1, "push_stations": 1}


def test_task_triggers_scan_once_within_job_budget(spark, tables, tmp_path):
    """Each task runs one job over its micro-batch, so the source is
    scanned once: every task query's progress numInputRows sums to the
    raw row count (a batch read by two jobs is counted twice, which the
    live drain wait keys on). One trigger per task, bracketed by probe
    jobs, stays within the job budget, and purge runs no Spark job."""
    p = CitibikePipeline(spark, str(tmp_path))
    docs = trip_docs(tables["lineitem"], tables["supplier"], tables["nation"])
    days = [r["day"] for r in docs.select("day").distinct().orderBy("day").limit(5).collect()]
    lis = _stream_progress_listener()
    spark.streams.addListener(lis)
    try:
        stream_data(docs.filter(F.col("day").isin(days[:4])), p.stage, days[0], days[3])
        p.run_available()
        # the next day is one micro-batch per task; the purge AFTER hook
        # is taken out here and timed on its own below
        stream_data(docs.filter(F.col("day") == days[4]), p.stage, days[4], days[4])
        p.pipe.run_available()
        p.push_trips.after = []
        sc = spark.sparkContext
        jobs = {}
        for name, task in p.runner.tasks.items():
            first = _probe_job_id(sc)
            task.run_available()
            jobs[name] = _probe_job_id(sc) - first - 1
        first = _probe_job_id(sc)
        purged = p.purge_files()
        jobs["purge"] = _probe_job_id(sc) - first - 1
        raw = p.trips_raw.count()
        names = [f"task_{t}_once" for t in p.runner.tasks]
        deadline = time.time() + 30
        while time.time() < deadline and any(
                sum(lis.rows.get(n, [])) < raw for n in names):
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(lis)
    assert {n: sum(lis.rows.get(n, [])) for n in names} == dict.fromkeys(names, raw)
    assert all(jobs[t] <= _TASK_JOB_BUDGET[t] for t in _TASK_JOB_BUDGET), jobs
    assert purged == 1 and jobs["purge"] == 0, (purged, jobs)
    assert p.stage.list() == []


def test_zero_row_batch_is_skipped_by_every_task(spark, tmp_path):
    """An empty staged JSON file lands as a zero-row raw batch with a
    ``row_count = 0`` copy_history row, so the pipe counts it loaded
    and purge deletes it. Each task's one job sees no rows, so each
    records exactly one SKIPPED row for that micro-batch
    (dp_demo.sql:170), no SUCCEEDED row, and the merges append nothing
    to the dimensions."""
    p = CitibikePipeline(spark, str(tmp_path))
    os.makedirs(f"{p.stage.url}/snowpipe_demo_empty")
    open(f"{p.stage.url}/snowpipe_demo_empty/day.json", "w").close()
    (staged,) = [f.path for f in p.stage.list()]
    p.pipe.run_available()
    assert p.trips_raw.data_files(), "the pipe wrote no raw batch file"
    assert p.trips_raw.count() == 0
    assert [(r["file_name"], r["row_count"], r["batch_id"])
            for r in p.copy_history.read().collect()] == [(staged, 0, 0)]
    assert p.pipe.status()["pendingFileCount"] == 0
    p.runner.run_available_all()
    rows = sorted((r["name"], r["state"], r["batch_id"], r["rows_processed"])
                  for r in p.task_history.read().collect())
    assert rows == [(t, "SKIPPED", 0, 0) for t in sorted(p.runner.tasks)]
    assert p.programs.data_files() == [] and p.stations.data_files() == []
    assert p.trips.count() == 0
    assert p.purge_files() == 1
    assert p.stage.list() == []


def test_purge_retries_a_failed_rm(spark, tables, tmp_path):
    """A staged file whose rm fails on one tick is purged on the next."""
    p = CitibikePipeline(spark, str(tmp_path))
    p.push_trips.after = []
    docs = trip_docs(tables["lineitem"], tables["supplier"], tables["nation"])
    days = [r["day"] for r in docs.select("day").distinct().orderBy("day").limit(2).collect()]
    stream_data(docs.filter(F.col("day").isin(days)), p.stage, days[0], days[1])
    p.pipe.run_available()
    staged = [f.path for f in p.stage.list()]
    assert len(staged) == 2
    victim = staged[0].removeprefix("file:")
    rm = p.stage.rm
    p.stage.rm = lambda name: False if name == victim else rm(name)
    try:
        assert p.purge_files() == 1
    finally:
        del p.stage.rm  # back to the class method
    assert [f.path.removeprefix("file:") for f in p.stage.list()] == [victim]
    assert p.purge_files() == 1
    assert p.stage.list() == []


def test_url_encoded_ledger_names_are_purged(spark, tables, tmp_path):
    """The ledger holds Spark's URL-encoded file names (``day%201``) and
    ``Stage.list`` Hadoop's decoded paths (``day 1``): a staged file
    whose path holds a space or a ``%`` still counts as loaded and is
    purged."""
    p = CitibikePipeline(spark, str(tmp_path / "sp ace%x"))
    p.push_trips.after = []  # purge below, not chained to push_trips
    doc = trip_docs(tables["lineitem"], tables["supplier"],
                    tables["nation"]).select("v").first()["v"]
    os.makedirs(f"{p.stage.url}/day 1%x")
    open(f"{p.stage.url}/day 1%x/a b.json", "w").close()
    os.makedirs(f"{p.stage.url}/day2")
    with open(f"{p.stage.url}/day2/f.json", "w") as f:
        f.write(doc + "\n")
    p.run_available()
    assert sorted(r["row_count"] for r in p.copy_history.read().collect()) == [0, 1]
    assert p.pipe.status()["pendingFileCount"] == 0
    assert p.purge_files() == 2
    assert p.stage.list() == []
