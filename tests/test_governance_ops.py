"""Shares, DESC introspection, purge restart-safety, and unload file
ordering (SURVEY S11/G4/V5, O2, §7.3 purge-under-restart)."""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from snowflake_data_pipeline_demo_spark.plans.citibike import (
    security_fixture, trip_docs,
)
from snowflake_data_pipeline_demo_spark.sources.shares import ShareRegistry
from snowflake_data_pipeline_demo_spark.streaming.pipeline import CitibikePipeline
from snowflake_data_pipeline_demo_spark.streaming.stream_data import stream_data


# ---------------------------------------------------------------------------
# S11/G4/V5: outbound shares
# ---------------------------------------------------------------------------

def test_share_grant_open_and_introspection(spark, tables):
    reg = ShareRegistry()
    share = reg.create_share("trips_share")
    security = security_fixture(spark, tables["region"])

    def masked_counts(account: str):
        # stand-in governed view factory: per-account row filter
        return security.filter(F.col("account") == account).select("name")

    share.grant("modelled.trips_secure_vw", masked_counts)
    share.add_accounts("ACCT_ASIA", "ACCT_AMERICA")

    # consumer mount: authorized account sees its governed rows
    assert share.open("modelled.trips_secure_vw", "ACCT_ASIA").count() == 1
    with pytest.raises(PermissionError):
        share.open("modelled.trips_secure_vw", "ACCT_UNKNOWN")
    with pytest.raises(KeyError):
        share.open("not.granted", "ACCT_ASIA")

    shows = reg.show()
    assert [s["name"] for s in shows] == ["trips_share"]
    assert shows[0]["to"] == ["ACCT_ASIA", "ACCT_AMERICA"]
    desc = reg.describe("trips_share")
    assert desc == [{"kind": "VIEW", "name": "modelled.trips_secure_vw",
                     "share": "trips_share"}]
    # CREATE SHARE IF NOT EXISTS: same object back
    assert reg.create_share("trips_share") is share


def test_describe_table_task_pipe(spark, tables, tmp_path):
    p = CitibikePipeline(spark, str(tmp_path))
    cols = p.catalog.describe("modelled.trips")
    assert cols[0] == {"name": "tripduration", "type": "int",
                      "kind": "COLUMN", "null?": "Y"}
    assert [c["name"] for c in cols][1:3] == ["starttime", "stoptime"]

    d = p.runner.describe("push_trips")
    assert d["stream"] == "new_trips"
    assert d["state"] == "suspended"
    assert d["after_hooks"] == 1  # purge chains AFTER push_trips

    pd = p.pipe.describe()
    assert pd["name"] == "trips_pipe"
    assert "COPY INTO" in pd["definition"]
    assert pd["execution_state"] == "PAUSED"


# ---------------------------------------------------------------------------
# §7.3: purge must not trust ledger rows from uncommitted batches
# ---------------------------------------------------------------------------

def test_purge_skips_uncommitted_ledger_rows(spark, tables, tmp_path):
    p = CitibikePipeline(spark, str(tmp_path))
    docs = trip_docs(tables["lineitem"], tables["supplier"], tables["nation"])
    days = [r["day"] for r in
            docs.select("day").distinct().orderBy("day").limit(2).collect()]
    stream_data(docs.filter(F.col("day").isin(days)), p.stage, days[0], days[-1])

    # no commits yet -> purge trusts nothing
    assert p.purge_files() == 0

    p.pipe.run_available()
    frontier = p.pipe.last_committed_batch()
    assert frontier is not None

    staged = [f.path for f in p.stage.list()]
    victim = staged[0]
    # simulate the crash window: a ledger row appended inside
    # foreachBatch whose batch never committed (batch_id > frontier)
    now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    p.copy_history.write_rows(
        [(victim, p.stage.url, p.trips_raw.path, 1, 0, now, frontier + 1)])
    # tamper the committed row for the same file out of the way: rebuild
    # the ledger with ONLY the uncommitted row for the victim file
    keep = p.copy_history.read().filter(
        ~((F.col("file_name") == victim) & (F.col("batch_id") <= frontier))
    ).collect()
    p.copy_history.truncate()
    if keep:
        p.copy_history.write_rows(keep)

    purged = p.purge_files()
    remaining = {f.path for f in p.stage.list()}
    assert victim in remaining, "purge deleted a file from an uncommitted batch"
    # the other (committed) files were purged
    assert purged == len(staged) - 1
    assert remaining == {victim}


# ---------------------------------------------------------------------------
# O2: unload files are time-clustered, one file per day
# ---------------------------------------------------------------------------

def test_stream_data_files_sorted_by_starttime(spark, tables, tmp_path):
    from snowflake_data_pipeline_demo_spark.sources.stage import Stage

    docs = trip_docs(tables["lineitem"], tables["supplier"], tables["nation"])
    days = [r["day"] for r in
            docs.select("day").distinct().orderBy("day").limit(2).collect()]
    stage = Stage(spark, str(tmp_path / "stage"))
    n = stream_data(docs.filter(F.col("day").isin(days)), stage,
                    days[0], days[-1])
    assert n == 2
    files = stage.list()
    # one data file per day prefix (dp_setup.sql:57 cadence)
    assert len(files) == 2
    for f in files:
        path = f.path.removeprefix("file:")
        starts = []
        with open(path) as fh:
            for line in fh:
                starts.append(json.loads(line)["starttime"])
        assert starts == sorted(starts), f"{path} not time-clustered"
        assert len(starts) > 0


def test_pipe_replay_after_crash_between_append_and_commit(
    spark, tables, tmp_path
):
    """Pins the exactly-once contract through the crash window (pipe.py
    module docstring): kill between the foreachBatch writes and the
    checkpoint commit => on restart the batch replays but the
    batch-keyed idempotent writes CONVERGE — no duplicate raw rows, one
    ledger row per file — and purge trusts the files only after the
    re-commit."""
    import os

    p = CitibikePipeline(spark, str(tmp_path))
    docs = trip_docs(tables["lineitem"], tables["supplier"], tables["nation"])
    days = [r["day"] for r in
            docs.select("day").distinct().orderBy("day").limit(1).collect()]
    stream_data(docs.filter(F.col("day").isin(days)), p.stage, days[0], days[-1])

    p.pipe.run_available()
    n_rows = p.trips_raw.count()
    assert n_rows > 0
    frontier = p.pipe.last_committed_batch()

    # simulate the crash window: the foreachBatch writes (raw + ledger)
    # are durable but the commit marker never landed (remove the crc
    # sidecar too — a real crash leaves neither, and a stale crc makes
    # the re-commit rename fail)
    commits = os.path.join(p.pipe.checkpoint_dir, "commits")
    os.remove(os.path.join(commits, str(frontier)))
    crc = os.path.join(commits, f".{frontier}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    assert p.pipe.last_committed_batch() != frontier

    # before restart, purge must not trust the orphaned ledger rows
    staged = {f.path for f in p.stage.list()}
    assert p.purge_files() == 0
    assert {f.path for f in p.stage.list()} == staged

    # restart: the uncommitted batch replays; idempotent batch-keyed
    # writes converge => NO duplicates, no loss
    p.pipe.run_available()
    assert p.trips_raw.count() == n_rows
    ch = p.copy_history.read().groupBy("file_name").count()
    assert ch.filter("count != 1").count() == 0
    # re-commit restores the frontier; purge now trusts the files
    assert p.pipe.last_committed_batch() == frontier
    assert p.purge_files() == len(staged)
    assert p.stage.list() == []


def test_reference_consumer_sql_runs_verbatim(spark, tables):
    """dp_demo.sql:267-270 as literal SQL over the registered secure
    view: ordinal GROUP BY/ORDER BY, count alias — must equal the
    DataFrame-built consumer_report."""
    from snowflake_data_pipeline_demo_spark.plans.citibike import (
        extract_trips, programs_from_raw, security_fixture,
        stations_from_raw, trip_docs, trips_projection,
    )
    from snowflake_data_pipeline_demo_spark.plans.secure_view import (
        consumer_report, register_secure_view, secure_trips_view,
    )

    raw = trip_docs(tables["lineitem"], tables["supplier"], tables["nation"])
    ext = extract_trips(raw)
    view = secure_trips_view(
        trips_projection(ext), stations_from_raw(ext),
        programs_from_raw(ext),
        security_fixture(spark, tables["region"]), account="ACCT_AMERICA",
    )
    register_secure_view(view)
    sql_rows = spark.sql("""
        select program_name, acct, count(*) as num_trips
        from trips_secure_vw
        group by 1, 2
        order by 3 desc, program_name
    """).collect()
    df_rows = consumer_report(view).collect()
    assert [tuple(r) for r in sql_rows] == [tuple(r) for r in df_rows]
    assert sql_rows  # non-empty report
