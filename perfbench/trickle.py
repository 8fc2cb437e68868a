"""``trickle``: the reference cadence, open loop.

One sf0.1-density day file (~240 rows) is due every second. The
generator (the benchmark's main thread, which has nothing else to do
meanwhile) moves it into the stage by ``os.rename`` on a fixed schedule
that does not wait for the engine, while the pipe (1-second
``processingTime`` trigger, standing in for auto-ingest) and the 3 tasks
(5-second schedule: the reference's 1-minute schedule over 1 file/s,
scaled down) run live through ``resume()``. After the last file is
consumed by all 3 tasks the queries are suspended and the governed
report runs for all 6 security accounts, plus one ``status()``.

Spark fires an idle ``processingTime`` trigger on the epoch-aligned
multiples of its interval, so the generator puts its due times on the
same grid (half a second past a whole second, from the last second of
a task period on). Every run then sees the same file -> trigger phases,
and a file's freshness is its fixed schedule wait plus what the engine
spends in the pipe and task triggers. 1-second task triggers would keep
the pipe and the 3 tasks busy through the whole timed phase on 4 cores,
so freshness would measure their contention (IQR/median ~0.19 over five
seeds on a quiet host).

Freshness is computed from the engine's own ledgers after the run, never
by polling the tables while it runs: file -> pipe batch
(``copy_history``) -> raw ``batch_N`` subdir -> each consumer's batch
(its checkpoint ``sources/0`` log, ``N.compact`` files included) ->
``completed_time`` of that batch's SUCCEEDED ``task_history`` row.
``task_history`` stamps UTC-naive Python time and ``copy_history`` holds
Spark's ``current_timestamp()``; both are turned into epoch seconds
before they are compared with the generator's ``time.time()`` schedule.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import re
import statistics
import threading
import time
from collections import defaultdict

from . import gen
from .metrics import TASKS

#: rows per day as in the sf0.1 testdata (~240 trips a day)
SF = 0.1
#: files drained inside setup, so the timed files meet warm code paths
WARMUP_FILES = 2
PIPE_TRIGGER = "1 second"
#: task schedule (seconds); the timed files are due from a multiple of it
TASK_PERIOD_S = 5
#: due times sit this far past a whole second (a pipe trigger)
LAND_OFFSET_S = 0.5
DRAIN_TIMEOUT_S = 90.0

_PIPE_QUERY = "pipe_trips_pipe"


def _utc_epoch(ts: dt.datetime) -> float:
    """Epoch seconds of a UTC-naive datetime (``task_history`` stamps and
    the listener's progress timestamps)."""
    return ts.replace(tzinfo=dt.timezone.utc).timestamp()


def _progress_listener():
    """A StreamingQueryListener that keeps every progress event and any
    query death (built here: pyspark is importable only once the run's
    environment is set)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.events: list[tuple] = []  # (query, batch, start epoch, durationMs, rows)
            self.rows: dict[str, int] = defaultdict(int)
            self.deaths: list[str] = []
            self.lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            start = dt.datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
            with self.lock:
                self.events.append((p.name, p.batchId, _utc_epoch(start),
                                    dict(p.durationMs), p.numInputRows))
                self.rows[p.name] += p.numInputRows

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            if event.exception:
                with self.lock:
                    self.deaths.append(f"{event.id}: {event.exception[:300]}")

    return Listener()


def _oracle(paths: list[str], region: str) -> dict:
    """Expected counts and reports, computed by DuckDB over the JSON
    files that will land and the security fixture's source table."""
    import duckdb

    con = duckdb.connect()
    cols = ("{'program_id': 'INTEGER', 'program_name': 'VARCHAR', "
            "'start_station_id': 'INTEGER', 'end_station_id': 'INTEGER'}")
    con.execute(f"CREATE VIEW t AS SELECT * FROM read_json({paths!r}, "
                f"format='newline_delimited', columns={cols}, filename=true)")
    rows = dict(con.execute("SELECT filename, count(*) FROM t GROUP BY 1").fetchall())
    programs = con.execute("SELECT count(DISTINCT program_id) FROM t").fetchone()[0]
    stations = con.execute(
        "SELECT count(*) FROM (SELECT start_station_id FROM t "
        "UNION SELECT end_station_id FROM t)").fetchone()[0]
    report = con.execute(f"""
        WITH sec AS (
          SELECT 'ACCT_' || r_name AS account,
                 'NATION_' || CAST(r_regionkey AS VARCHAR) || '%' AS filter
          FROM '{region}'
          UNION ALL SELECT 'PUBLISHER', '%')
        SELECT t.program_name, s.account, count(*)
        FROM t JOIN sec s ON t.program_name LIKE s.filter
        GROUP BY ALL""").fetchall()
    con.close()
    by_acct: dict[str, set] = defaultdict(set)
    for name, acct, n in report:
        by_acct[acct].add((name, acct, n))
    return {"rows": [rows[p] for p in paths], "programs": programs,
            "stations": stations, "report": by_acct}


def setup(ctx) -> None:
    from snowflake_data_pipeline_demo_spark.plans.citibike import trip_docs
    from snowflake_data_pipeline_demo_spark.sources import testdata
    from snowflake_data_pipeline_demo_spark.streaming.pipeline import CitibikePipeline

    spark, tracer = ctx.spark, ctx.tracer
    n_files = WARMUP_FILES + int(ctx.seconds)
    t0 = time.time()
    with tracer.span("gen.tables"):
        days = gen.make_tables(ctx.data_dir, ctx.seed, SF, n_days=n_files)
    with tracer.span("plans.citibike.trip_docs", spark):
        t = {n: testdata.load(spark, ctx.data_dir, n) for n in ("lineitem", "supplier", "nation")}
        docs = trip_docs(t["lineitem"], t["supplier"], t["nation"])
        files = gen.write_doc_files(docs, f"{ctx.run_dir}/hold",
                                    {d: i for i, d in enumerate(days)})
    ctx.setup_parts.append(time.time() - t0)
    ctx.files = [files[i] for i in range(n_files)]

    with tracer.span("check.oracle"):
        ctx.expect = _oracle(ctx.files, f"{ctx.data_dir}/region.parquet")

    t0 = time.time()
    with tracer.span("streaming.pipeline.start", spark):
        p = ctx.pipeline = CitibikePipeline(spark, f"{ctx.run_dir}/pipe")
        ctx.listener = _progress_listener()
        spark.streams.addListener(ctx.listener)
        purge = p.push_trips.after[0]
        ctx.purged = 0

        def timed_purge() -> int:
            a = time.time()
            n = purge()
            ctx.purged += n
            tracer.add("streaming.pipeline.purge", a, time.time(),
                       parent="streaming.tasks.push_trips.trigger", thread="push_trips")
            return n

        p.push_trips.after[0] = timed_purge
        p.pipe.resume(processing_time=PIPE_TRIGGER)
        for task in p.runner.tasks.values():
            task.schedule = f"{TASK_PERIOD_S} seconds"
        p.runner.resume_all()
    ctx.setup_parts.append(time.time() - t0)
    # the warm-up files are due on the same grid as the timed ones; the
    # sleep until their slot is no set-up work
    first = _next_slot(LAND_OFFSET_S + 2)
    time.sleep(max(0.0, first - time.time()))
    t0 = time.time()
    with tracer.span("gen.warmup"):
        for i in range(WARMUP_FILES):
            time.sleep(max(0.0, first + i - time.time()))
            gen.land(ctx.files[i], p.stage.url, f"f{i}")
        _wait_consumed(ctx, sum(ctx.expect["rows"][:WARMUP_FILES]))
    ctx.setup_parts.append(time.time() - t0)


def _next_slot(offset: float) -> float:
    """The first time from now that lies ``offset`` seconds past a task
    trigger (an epoch-aligned multiple of the task period)."""
    return math.ceil((time.time() - offset) / TASK_PERIOD_S) * TASK_PERIOD_S + offset


def _wait_consumed(ctx, rows: int) -> None:
    """Wait until every task query has read ``rows`` rows, from the
    listener's counts (no Spark call, so the wait does not load the
    engine it waits for)."""
    deadline = time.time() + DRAIN_TIMEOUT_S
    lis = ctx.listener
    while time.time() < deadline:
        with lis.lock:
            done = all(lis.rows[f"task_{t}"] >= rows for t in TASKS)
        if done or lis.deaths:
            return
        time.sleep(0.05)
    raise RuntimeError(f"tasks did not consume {rows} rows in {DRAIN_TIMEOUT_S} s: "
                       f"{dict(lis.rows)}")


def _generate(ctx, stage: str, first_due: float) -> None:
    """The open-loop generator: file i is due at first_due + i seconds."""
    for k, i in enumerate(range(WARMUP_FILES, len(ctx.files))):
        due = first_due + k
        time.sleep(max(0.0, due - time.time()))
        with ctx.tracer.span("gen.land"):
            gen.land(ctx.files[i], stage, f"f{i}")
        ctx.due[i] = due
        ctx.late.append(time.time() - due)


def run(ctx) -> None:
    spark, tracer, p = ctx.spark, ctx.tracer, ctx.pipeline
    ctx.due, ctx.late = {}, []
    # from the last second of a task period on: a file due then misses
    # that period's trigger (its pipe trigger coincides with it), so every
    # timed task trigger takes one whole period's files, and with a whole
    # number of periods the last file does not wait out an extra period
    ctx.timed_start = _next_slot(LAND_OFFSET_S + TASK_PERIOD_S - 1)
    _generate(ctx, p.stage.url, ctx.timed_start)
    ctx.attempt(len(ctx.files) - WARMUP_FILES)
    _wait_consumed(ctx, sum(ctx.expect["rows"]))
    ctx.drain_end = time.time()

    queries = [p.pipe.query, *(t.query for t in p.runner.tasks.values())]
    ctx.attempt(len(queries))
    for q in queries:
        if not q.isActive:
            ctx.fail(f"stream query {q.name} died: {q.exception()}")
    for death in ctx.listener.deaths:
        ctx.fail(f"stream query terminated with error: {death}")
    with tracer.span("streaming.tasks.suspend", spark):
        p.runner.suspend_all()
        p.pipe.suspend()

    _closed_phase(ctx)
    ctx.timed_end = time.time()
    spark.streams.removeListener(ctx.listener)
    _ledgers(ctx)
    _check(ctx)
    ctx.samples = ctx.fresh
    ctx.e2e(latency_s=statistics.median(ctx.fresh))
    _layers(ctx)


def _closed_phase(ctx) -> None:
    """Final purge, the governed report for every account, status()."""
    from snowflake_data_pipeline_demo_spark.plans.citibike import security_fixture
    from snowflake_data_pipeline_demo_spark.plans.secure_view import (
        consumer_report, secure_trips_view,
    )
    from snowflake_data_pipeline_demo_spark.sources import testdata

    spark, tracer, p = ctx.spark, ctx.tracer, ctx.pipeline
    with tracer.span("streaming.pipeline.purge", spark):
        ctx.purged += p.purge_files()
    sec = security_fixture(spark, testdata.load(spark, ctx.data_dir, "region"))
    accounts = sorted(ctx.expect["report"])
    ctx.reports = {}
    for acct in accounts:
        kind = "publisher" if acct == "PUBLISHER" else "reader"
        ctx.attempt(1)
        with tracer.span(f"plans.secure_view.report_{kind}", spark):
            rows = consumer_report(secure_trips_view(
                p.trips.read(), p.stations.read(), p.programs.read(), sec,
                account=acct)).collect()
        ctx.reports[acct] = {tuple(r) for r in rows}
    ctx.attempt(1)
    with tracer.span("plans.dashboard.status", spark):
        ctx.status = p.status().collect()[0].asDict()
    ctx.attempt(1)
    with tracer.span("streaming.streams.backlog_count", spark):
        p.new_trips.backlog_count()


def _consumer_batches(checkpoint_dir: str) -> dict[int, int]:
    """raw batch id -> the consumer batch that read its files, from the
    file-source log (``N`` and ``N.compact`` files)."""
    src = os.path.join(checkpoint_dir, "sources", "0")
    out: dict[int, int] = {}
    for fn in os.listdir(src):
        if fn.startswith("."):
            continue
        with open(os.path.join(src, fn)) as fh:
            for line in fh:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                entry = json.loads(line)
                m = re.search(r"/batch_(\d+)/", entry.get("path", ""))
                if m:
                    raw = int(m.group(1))
                    out[raw] = max(out.get(raw, -1), int(entry["batchId"]))
    return out


def _ledgers(ctx) -> None:
    """Per landed file: due -> raw commit -> last task commit."""
    from pyspark.sql import functions as F

    p, tracer = ctx.pipeline, ctx.tracer
    with tracer.span("check.ledgers", ctx.spark):
        ch = p.copy_history.read().select(
            "file_name", "row_count", "error_count", "batch_id",
            F.col("last_load_time").cast("double").alias("t")).collect()
        th = p.task_history.read().collect()
    ctx.copy_rows, ctx.task_rows = ch, th
    commit = {(r["name"], r["batch_id"]): _utc_epoch(r["completed_time"])
              for r in th if r["state"] == "SUCCEEDED"}
    consumer = {t: _consumer_batches(p.runner.tasks[t].stream.checkpoint_dir) for t in TASKS}
    by_file = {r["file_name"].rsplit("/", 1)[-1]: r for r in ch}
    ctx.fresh, ctx.pipe_lag, ctx.task_lag = [], [], []
    for i, due in sorted(ctx.due.items()):
        r = by_file.get(f"f{i}.json")
        done = [commit.get((t, consumer[t].get(r["batch_id"]))) for t in TASKS] if r else [None]
        if None in done:
            ctx.fail(f"file f{i}: no commit chain (copy row {r is not None}, task commits {done})")
            continue
        ctx.fresh.append(max(done) - due)
        ctx.pipe_lag.append(r["t"] - due)
        ctx.task_lag.append(max(done) - r["t"])


def _check(ctx) -> None:
    """The correctness gate (every mismatch is one failed operation)."""
    p, exp = ctx.pipeline, ctx.expect
    landed = sum(exp["rows"])
    with ctx.tracer.span("check.tables", ctx.spark):
        got = {
            "copy_history rows": sum(r["row_count"] for r in ctx.copy_rows),
            "raw rows": p.trips_raw.count(),
            "modelled.trips rows": p.trips.count(),
            "status trips_rows": ctx.status["trips_rows"],
        }
        dims = {"programs": p.programs.count(), "stations": p.stations.count()}
        staged = len(p.stage.list())
    checks = [(f"{k} == landed {landed}", v == landed) for k, v in got.items()]
    checks += [(f"{k} {v} == DuckDB {exp[k]}", v == exp[k]) for k, v in dims.items()]
    checks += [(f"backlog_{s} == 0", ctx.status[f"backlog_{s}"] == 0)
               for s in ("new_trips", "new_programs", "new_stations")]
    checks.append((f"stage empty after purge ({staged} left)", staged == 0))
    checks.append(("copy_history error_count == 0", all(r["error_count"] == 0 for r in ctx.copy_rows)))
    failed = [r for r in ctx.task_rows if r["state"] == "FAILED"]
    checks.append((f"no FAILED task rows ({len(failed)})", not failed))
    for acct, want in exp["report"].items():
        checks.append((f"report {acct} == DuckDB", ctx.reports.get(acct) == want))
    for what, ok in checks:
        ctx.attempt(1)
        if not ok:
            ctx.fail(what)


def _layers(ctx) -> None:
    tracer, L, lis = ctx.tracer, ctx.layer, ctx.listener
    L["plans.citibike.trip_docs_s"] = tracer.total("plans.citibike.trip_docs")
    L["gen.late_s_max"] = max(ctx.late)
    L["freshness_s_p90"] = statistics.quantiles(ctx.fresh, n=10, method="inclusive")[8]
    L["streaming.pipe.lag_s_p50"] = statistics.median(ctx.pipe_lag)
    L["streaming.tasks.lag_s_p50"] = statistics.median(ctx.task_lag)
    timed = [e for e in lis.events if e[2] >= ctx.timed_start]
    names = {_PIPE_QUERY: "streaming.pipe", **{f"task_{t}": f"streaming.tasks.{t}" for t in TASKS}}
    for qname, prefix in names.items():
        for e in lis.events:
            if e[0] == qname:
                tracer.add(f"{prefix}.trigger", e[2], e[2] + e[3].get("triggerExecution", 0) / 1000.0,
                           thread=qname.removeprefix("task_"))
        ev = [e for e in timed if e[0] == qname]
        trig = [e[3].get("triggerExecution", 0) for e in ev]
        L[f"{prefix}.triggers"] = len(ev)
        L[f"{prefix}.trigger_ms_p50"] = statistics.median(trig) if trig else 0.0
        for part in ("addBatch", "latestOffset", "walCommit"):
            vals = [e[3].get(part, 0) for e in ev]
            L[f"{prefix}.{part}_ms"] = statistics.median(vals) if vals else 0.0
        L["streaming.pipe.drain_s" if qname == _PIPE_QUERY else f"{prefix}_s"] = sum(trig) / 1000.0
    L["streaming.pipe.rows"] = sum(e[4] for e in timed if e[0] == _PIPE_QUERY)
    batches = {r["batch_id"] for r in ctx.copy_rows if r["t"] >= ctx.timed_start}
    files = [r for r in ctx.copy_rows if r["t"] >= ctx.timed_start]
    L["streaming.pipe.files"] = len(files)
    L["streaming.pipe.batches"] = len(batches)
    L["streaming.pipe.files_per_batch_mean"] = len(files) / max(1, len(batches))
    for t in TASKS:
        skipped = sum(1 for r in ctx.task_rows if r["name"] == t and r["state"] == "SKIPPED"
                      and _utc_epoch(r["completed_time"]) >= ctx.timed_start)
        L[f"streaming.tasks.{t}.skipped_ratio"] = skipped / max(1, L[f"streaming.tasks.{t}.triggers"])
    L["streaming.pipeline.purge_s"] = tracer.total("streaming.pipeline.purge")
    L["streaming.pipeline.purged_files"] = ctx.purged
    L["plans.secure_view.report_reader_s"] = tracer.median("plans.secure_view.report_reader")
    L["plans.secure_view.report_publisher_s"] = tracer.median("plans.secure_view.report_publisher")
    L["plans.dashboard.status_s"] = tracer.total("plans.dashboard.status")
    L["streaming.streams.backlog_count_s"] = tracer.total("streaming.streams.backlog_count")
    L["streaming.streams.backlog_rows_end"] = sum(
        ctx.status[f"backlog_{s}"] for s in ("new_trips", "new_programs", "new_stations"))
    L["streaming.tasks.push_trips.self_s"] = tracer.self_times(since=ctx.timed_start).get(
        "streaming.tasks.push_trips.trigger", 0.0)


_MAIN_THREAD_SPANS = {
    "plans.secure_view.report_reader": "plans.secure_view.report",
    "plans.secure_view.report_publisher": "plans.secure_view.report",
    "plans.dashboard.status": "plans.dashboard.status",
    "streaming.pipeline.purge": "streaming.pipeline.purge",
}


def attribute(ctx):
    """Main-thread jobs by job group; stream jobs by the streaming job
    description (query name on its first line); push_trips jobs inside a
    purge span belong to the purge. Only the timed window counts."""
    purges = [(s.start, s.end) for s in ctx.tracer.spans
              if s.name == "streaming.pipeline.purge" and s.thread == "push_trips"]

    def f(props: dict, t: float) -> str | None:
        if not ctx.timed_start <= t <= ctx.timed_end:
            return None
        group = props.get("spark.jobGroup.id")
        if group in _MAIN_THREAD_SPANS:
            return _MAIN_THREAD_SPANS[group]
        query = (props.get("spark.job.description") or "").split("\n", 1)[0].strip()
        if query == _PIPE_QUERY:
            return "streaming.pipe"
        if query.startswith("task_"):
            if query == "task_push_trips" and any(a <= t <= b for a, b in purges):
                return "streaming.pipeline.purge"
            return f"streaming.tasks.{query[5:]}"
        return None

    return f


def after_eventlog(ctx, counters) -> None:
    for t in TASKS:
        jobs = counters.get(f"streaming.tasks.{t}", {}).get("jobs", 0.0)
        ctx.layer[f"streaming.tasks.{t}.jobs_per_trigger"] = (
            jobs / max(1, ctx.layer[f"streaming.tasks.{t}.triggers"]))


def gap_name(ctx, a: float, b: float) -> str:
    if a < ctx.drain_end:
        return "engine idle: no trigger running (waiting for a file or the next trigger)"
    return "main-thread Python between calls"
