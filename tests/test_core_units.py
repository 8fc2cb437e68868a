"""Unit tests for the engine's library layers (stage, catalog, merge,
scalars, variant) — the pieces the driver gate doesn't see directly."""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
import pytest

from snowflake_data_pipeline_demo_spark.functions.scalars import (
    iff, md5_mask, to_date_auto,
)
from snowflake_data_pipeline_demo_spark.functions.variant import (
    extract_variant, object_construct_json, variant_get,
)
from snowflake_data_pipeline_demo_spark.operators.merge import (
    insert_only_merge, merge_result,
)
from snowflake_data_pipeline_demo_spark.sources.catalog import (
    Catalog, PROGRAMS_SCHEMA, STATIONS_SCHEMA, Table,
)
from snowflake_data_pipeline_demo_spark.sources.stage import Stage
from snowflake_data_pipeline_demo_spark.streaming.history import (
    COPY_HISTORY_SCHEMA, TASK_HISTORY_SCHEMA,
)


def test_stage_roundtrip(spark, tmp_path):
    stage = Stage(spark, str(tmp_path / "stage"))
    df = spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("v"))
    stage.unload_json(df, "snowpipe_demo2020-01-10")
    files = stage.list()
    assert files and all("snowpipe_demo2020-01-10" in f.path for f in files)

    back = stage.read_json("id long, v long", "snowpipe_demo2020-01-10")
    assert back.count() == 10
    assert {r["v"] for r in back.collect()} == {2 * i for i in range(10)}

    raw = stage.read_raw("snowpipe_demo2020-01-10")
    assert raw.columns == ["$1", "metadata$filename"]
    assert raw.count() == 10

    # RM one file, then the prefix (S8)
    assert stage.rm(files[0].path)
    assert len(stage.list()) == len(files) - 1
    stage.rm("snowpipe_demo2020-01-10")
    assert stage.list() == []


def test_stage_list_walks_nested_prefixes(spark, tmp_path):
    """LIST walks nested day prefixes and leaves out what the pipe's
    file source cannot see either: ``_SUCCESS``, ``.crc`` files and a
    ``_temporary/`` dir of a write in progress, at any depth. Each
    entry carries the file's size and mtime; the output is sorted."""
    import os

    root = tmp_path / "stage"
    stage = Stage(spark, str(root))
    want = []
    for rel, body in [("2020/01/day1.json", "{}\n"), ("2020/02/day2.json", "{}\n{}\n"),
                      ("top.json", "")]:
        f = root / rel
        f.parent.mkdir(parents=True, exist_ok=True)
        f.write_text(body)
        want.append((f"file:{f}", len(body), int(os.stat(f).st_mtime * 1000)))
    for rel in ("2020/01/_SUCCESS", "2020/01/.day1.json.crc",
                "2020/02/_temporary/0/part-0.json", "_temporary/x.json"):
        f = root / rel
        f.parent.mkdir(parents=True, exist_ok=True)
        f.write_text("{}\n")
    got = stage.list()
    assert [(f.path, f.size) for f in got] == sorted((p, n) for p, n, _ in want)
    mtimes = {p: m for p, _, m in want}
    assert all(abs(f.mtime_ms - mtimes[f.path]) <= 1000 for f in got)
    assert [f.path for f in stage.list("2020")] == sorted(p for p, _, _ in want[:2])
    assert stage.list("missing") == []


def test_catalog_append_truncate(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    t = cat.create_table("modelled.programs", PROGRAMS_SCHEMA)
    assert t.count() == 0  # empty table reads as empty typed df
    rows = [(1, "A"), (2, "B")]
    t.write_rows(rows)
    assert t.count() == 2
    t.write_rows(rows)
    assert t.count() == 4
    t.truncate()
    assert t.count() == 0


def _utc(*args) -> dt.datetime:
    return dt.datetime(*args, tzinfo=dt.timezone.utc)


#: rows for the driver-writer round trip: NULL in every column type,
#: microsecond timestamps, non-ASCII text, extreme ints and doubles
_WRITE_ROWS_CASES = {
    "task_history": (TASK_HISTORY_SCHEMA, [
        ("push_trips", "SUCCEEDED", _utc(2026, 1, 2, 3, 4, 5, 123456),
         _utc(2026, 1, 2, 3, 4, 6, 1), 7, 240, None),
        ("push_programs", "FAILED", None, _utc(1999, 12, 31, 23, 59, 59, 999999),
         -1, 0, "boom: ünï 　 code"),
        (None, None, None, None, None, None, None),
    ]),
    "copy_history": (COPY_HISTORY_SCHEMA, [
        ("file:/stage/a.json", "file:/stage", "/wh/raw", 2**40, 0,
         _utc(2026, 1, 2, 3, 4, 5, 7), 0),
        ("/stage/b.json", None, "/wh/raw", 0, None, None, -(2**63)),
    ]),
    "programs": (PROGRAMS_SCHEMA, [(1, "A"), (2**31 - 1, None), (None, "")]),
    "stations": (STATIONS_SCHEMA, [
        (72, "W 52 St", 40.76727216, -73.99392888, "Station at W 52 St"),
        (-(2**31), None, None, 1e-300, None),
        (3, "x", float("inf"), -0.5, "y"),
    ]),
}


@pytest.mark.parametrize("case", sorted(_WRITE_ROWS_CASES))
def test_write_rows_reads_back_like_spark_append(spark, tmp_path, case):
    """Table.write_rows (pyarrow, no Spark job) must read back exactly
    like the same rows appended by a Spark parquet write, alone and
    mixed with Spark files in one table; a replayed batch-keyed write
    leaves one copy of its rows."""
    from collections import Counter

    schema, rows = _WRITE_ROWS_CASES[case]
    spark_t = Table(spark, str(tmp_path / "spark"), schema)
    spark.createDataFrame(rows, schema).write.mode("append").parquet(spark_t.path)
    arrow_t = Table(spark, str(tmp_path / "arrow"), schema)
    arrow_t.write_rows(rows)

    want = Counter(tuple(r) for r in spark_t.read().collect())
    assert Counter(tuple(r) for r in arrow_t.read().collect()) == want

    # one table holding files from both writers
    spark.createDataFrame(rows, schema).write.mode("append").parquet(arrow_t.path)
    got = Counter(tuple(r) for r in arrow_t.read().collect())
    assert got == want + want

    # batch-keyed form: a Spark-written batch, then two replays of it
    keyed = Table(spark, str(tmp_path / "keyed"), schema)
    keyed.overwrite_subdir(spark.createDataFrame(rows, schema), "batch_3")
    keyed.write_rows(rows, "batch_3")
    keyed.write_rows(rows, "batch_3")
    assert Counter(tuple(r) for r in keyed.read().collect()) == want
    assert keyed.subdir_committed("batch_3")


def test_write_rows_naive_timestamps_are_utc_and_types_are_checked(spark, tmp_path):
    """Naive datetimes (the ledgers' UTC-naive clock) land as the same
    instant as their UTC-aware twin; a type the writer does not map
    raises instead of writing a column Spark would read differently."""
    from pyspark.sql import types as T

    t = Table(spark, str(tmp_path / "th"), TASK_HISTORY_SCHEMA)
    aware = _utc(2026, 3, 4, 5, 6, 7, 890123)
    t.write_rows([("a", "SKIPPED", aware.replace(tzinfo=None), aware, -1, 0, None)])
    r = t.read().select(
        F.col("scheduled_time").cast("double").alias("s"),
        F.col("completed_time").cast("double").alias("c"),
    ).collect()[0]
    assert r["s"] == r["c"] == aware.timestamp()

    for bad in (T.DateType(), T.TimestampNTZType(), T.DecimalType(18, 2),
                T.ArrayType(T.StringType())):
        u = Table(spark, str(tmp_path / "bad"), T.StructType([T.StructField("x", bad)]))
        with pytest.raises(TypeError, match="cannot write column 'x'"):
            u.write_rows([(None,)])
    assert not Table(spark, str(tmp_path / "bad"), TASK_HISTORY_SCHEMA)._has_data()


def test_table_path_is_normalized(spark, tmp_path):
    """Trailing-slash and ``file://`` spellings of one physical dir
    resolve to the same local path, the one write_rows writes under."""
    from snowflake_data_pipeline_demo_spark.sources.catalog import (
        _normalize_path,
    )

    base = str(tmp_path / "wh" / "t")
    assert _normalize_path(base + "/") == _normalize_path(base)
    assert _normalize_path("file://" + base) == _normalize_path(base)
    t1 = Table(spark, base, PROGRAMS_SCHEMA)
    t2 = Table(spark, "file://" + base + "/", PROGRAMS_SCHEMA)
    assert t1._norm_path == t2._norm_path == base
    t2.write_rows([(1, "A")])
    assert t1.count() == 1


def test_has_data_ignores_temporary_staging_subtrees(spark, tmp_path):
    """_has_data must never DESCEND into `_temporary`/hidden subtrees
    (r12 live-load capture: the old recursive listFiles stats staging
    children with an eager permission load that shells `ls` on local
    fs — a committer deleting the dir mid-walk turned that into a
    RuntimeException the FileNotFoundException-only retry missed,
    killing a task query). A table whose only files sit under a
    staging dir is EMPTY; data files at any non-hidden depth count."""
    import os

    cat = Catalog(spark, str(tmp_path / "wh"))
    t = cat.create_table("modelled.programs", PROGRAMS_SCHEMA)
    staging = os.path.join(t._norm_path, "_temporary", "0", "_temporary")
    os.makedirs(staging)
    with open(os.path.join(staging, "part-000.parquet"), "w") as f:
        f.write("in-flight attempt data")
    assert not t._has_data()  # staging content is invisible
    nested = os.path.join(t._norm_path, "batch_1")
    os.makedirs(nested)
    with open(os.path.join(nested, "part-000.parquet"), "wb") as f:
        f.write(b"x")
    assert t._has_data()  # real nested data still found


def test_suspend_keeps_stopping_flag_when_stop_fails(spark, tmp_path):
    """If query.stop() itself raises (e.g. stopTimeout), the query may
    still be live and tearing down: suspend must RETAIN the handle and
    LEAVE _stopping raised so the stream thread's interrupted ledger
    append doesn't re-raise across the dying callback connection (r11
    ADVICE: a finally-reset reopened that channel). resume() resets
    the flag for the fresh start."""
    from snowflake_data_pipeline_demo_spark.streaming.tasks import Task

    t = Task.__new__(Task)
    t.name = "t"
    t._stopping = False

    class _StubQuery:
        def stop(self):
            raise RuntimeError("stop timed out")

    t.query = _StubQuery()
    with pytest.raises(RuntimeError, match="stop timed out"):
        t.suspend()
    assert t._stopping is True  # still raised while the query tears down
    assert t.query is not None  # handle retained (r11 review)

    class _OkQuery:
        def stop(self):
            pass

    t.query = _OkQuery()
    t.suspend()
    assert t._stopping is False and t.query is None  # clean stop resets


def test_insert_only_merge_semantics(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    t = cat.create_table("modelled.programs", PROGRAMS_SCHEMA)
    t.write_rows([(1, "A"), (2, "B")])

    src = spark.createDataFrame(
        [(2, "B-dup"), (3, "C"), (3, "C"), (4, "D")], PROGRAMS_SCHEMA
    )
    inserted = insert_only_merge(t, src, ["program_id"])
    assert inserted == 2  # 3 and 4; 2 matched, dup 3 deduped
    assert t.count() == 4
    # idempotent re-merge (reference stream re-delivery safety)
    assert insert_only_merge(t, src, ["program_id"]) == 0
    assert t.count() == 4
    # existing rows never updated (insert-only: no WHEN MATCHED branch)
    assert t.read().filter("program_id = 2").collect()[0]["program_name"] == "B"


def test_merge_result_pure(spark):
    target = spark.createDataFrame([(1, "A")], PROGRAMS_SCHEMA)
    src = spark.createDataFrame([(1, "A"), (2, "B")], PROGRAMS_SCHEMA)
    out = merge_result(target, src, ["program_id"]).collect()
    assert [(r["program_id"], r["program_name"]) for r in out] == [(2, "B")]


def test_iff_and_mask(spark):
    df = spark.createDataFrame([(1, "x"), (10, "y")], "a int, s string")
    out = df.select(
        iff(F.col("a") > 5, F.lit("big"), F.lit("small")).alias("b"),
        md5_mask("s").alias("m"),
    ).collect()
    assert [r["b"] for r in out] == ["small", "big"]
    assert all(r["m"].startswith("REDACTED (") and r["m"].endswith(")") for r in out)


def test_to_date_auto_both_formats(spark):
    df = spark.createDataFrame([("2020-01-10",), ("01/10/2020",)], "d string")
    out = df.select(to_date_auto("d").alias("dt")).collect()
    assert str(out[0]["dt"]) == "2020-01-10"
    assert str(out[1]["dt"]) == "2020-01-10"  # M/d/yyyy (dp_demo.sql:115)


def test_variant_roundtrip_timestamp_fidelity(spark):
    """SURVEY §7.3: timestamp_ntz must survive the JSON round trip."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("n", T.IntegerType()),
    ])
    df = spark.sql(
        "SELECT timestamp_ntz'2020-01-10 12:34:56.789' AS ts, 7 AS n"
    )
    doc = df.select(object_construct_json({"ts": F.col("ts"), "n": F.col("n")}).alias("v"))
    back = doc.select(extract_variant("v", schema).alias("p")).select(
        variant_get("p", "ts"), variant_get("p", "n", "long").alias("n")
    ).collect()[0]
    assert str(back[0]) == "2020-01-10 12:34:56.789000"
    assert back["n"] == 7


def test_use_role_session_context(spark):
    from snowflake_data_pipeline_demo_spark.session import current_role, use_role

    assert current_role(spark) == "ACCOUNTADMIN"  # demo default
    use_role(spark, "sysadmin")
    assert current_role(spark) == "SYSADMIN"
    use_role(spark, "accountadmin")


def test_table_compact_merges_small_files(spark, tmp_path):
    from snowflake_data_pipeline_demo_spark.sources.catalog import Table
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("k", T.LongType()), T.StructField("v", T.StringType()),
    ])
    t = Table(spark, str(tmp_path / "t"), schema)
    for i in range(6):
        t.write_rows([(i, f"v{i}")])
    before = t.read().orderBy("k").collect()
    assert len(t.data_files()) >= 6
    stats = t.compact(target_file_bytes=1 << 30)
    assert stats["files_before"] >= 6 and stats["files_after"] == 1
    assert t.read().orderBy("k").collect() == before
    # idempotent on an already-compact table
    stats2 = t.compact(target_file_bytes=1 << 30)
    assert stats2["files_after"] == 1
    assert t.read().orderBy("k").collect() == before


def test_loader_contract_normalizes_testdata_schemas(spark):
    """Canary against driver testdata regenerations: the loader must
    present stable column types to the operator layer regardless of how
    the parquet files encode them (events.ts has shipped as both
    TIMESTAMP(NANOS)-as-long and micros TIMESTAMP_NTZ across rounds —
    a silent change here broke 5 queries once; fail loudly instead)."""
    from pyspark.sql import types as T

    from snowflake_data_pipeline_demo_spark.sources.testdata import load

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        ev = load(spark, sf, "events")
        assert isinstance(ev.schema["ts"].dataType, T.TimestampType), sf
        docs = load(spark, sf, "documents")
        assert isinstance(docs.schema["text"].dataType, T.StringType), sf
        emb = load(spark, sf, "embeddings")
        el = emb.schema["embedding"].dataType
        assert isinstance(el, T.ArrayType) and isinstance(
            el.elementType, (T.FloatType, T.DoubleType)), sf
        li = load(spark, sf, "lineitem")
        assert "l_shipdate" in li.columns and "l_quantity" in li.columns, sf


def _jobs_run(spark, fn):
    """``fn()``'s result and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = "testdata-load-jobs"
    sc.setJobGroup(group, "count the jobs of one call")
    before = set(sc.statusTracker().getJobIdsForGroup(group))
    try:
        out = fn()
        return out, len(set(sc.statusTracker().getJobIdsForGroup(group)) - before)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_testdata_load_infers_each_file_version_once(spark, tmp_path):
    """The second load of an unchanged file runs no Spark job (the first
    infers its schema) and gives the same schema and rows. A file
    replaced at the same path with another column is inferred again,
    and a TIMESTAMP(NANOS) ts still comes back as a TIMESTAMP on the
    memoized read."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from snowflake_data_pipeline_demo_spark.sources.testdata import load

    sf = str(tmp_path)
    ns = 1_600_000_000_123_456_000
    pq.write_table(pa.table({
        "id": pa.array([1, 2, None], pa.int64()),
        "ts": pa.array([ns, ns + 1_000, None], pa.timestamp("ns")),
    }), f"{sf}/events.parquet")
    first, _ = _jobs_run(spark, lambda: load(spark, sf, "events"))
    want = sorted(map(tuple, first.collect()), key=repr)
    second, jobs = _jobs_run(spark, lambda: load(spark, sf, "events"))
    assert jobs == 0
    assert second.schema == first.schema
    assert isinstance(second.schema["ts"].dataType, T.TimestampType)
    assert sorted(map(tuple, second.collect()), key=repr) == want
    micros = sorted(r[0] for r in second.selectExpr("unix_micros(ts)").collect()
                    if r[0] is not None)
    assert micros == [ns // 1000, ns // 1000 + 1]

    pq.write_table(pa.table({"id": pa.array([7], pa.int64()),
                             "name": pa.array(["x"])}), f"{sf}/new.parquet")
    os.replace(f"{sf}/new.parquet", f"{sf}/events.parquet")
    third, jobs = _jobs_run(spark, lambda: load(spark, sf, "events"))
    assert jobs == 1
    assert third.columns == ["id", "name"]
    assert [tuple(r) for r in third.collect()] == [(7, "x")]


def test_stage_multi_format_roundtrip(spark, tmp_path):
    """S5/S6 across every staged format available on this deployment:
    unload a frame, read it back typed, bytes agree — the format
    breadth the reference's VARIANT table claims (dp_setup.sql:140).
    Optional module formats (avro/xml) are probed: available ones must
    round-trip, absent ones must be rejected with a clear error (in
    this sandbox xml is built in to Spark 4; avro's module jar is not
    deployed)."""
    import pytest

    from snowflake_data_pipeline_demo_spark.sources.stage import (
        Stage, optional_formats,
    )

    stage = Stage(spark, str(tmp_path / "stage"))
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", -2.0), (3, None, 0.25)],
        "id long, s string, x double",
    )
    want = sorted(map(tuple, df.collect()))
    opt = optional_formats(spark)
    per_fmt_opts = {"csv": {"header": "true"}, "xml": {"rowTag": "row"}}
    for fmt in ("json", "csv", "parquet", "orc") + opt:
        opts = per_fmt_opts.get(fmt, {})
        stage.unload(df, f"t_{fmt}", format=fmt, **opts)
        back = stage.read("id long, s string, x double",
                          f"t_{fmt}", format=fmt, **opts)
        assert sorted(map(tuple, back.collect())) == want, fmt
    for fmt in ("avro", "xml"):
        if fmt not in opt:
            with pytest.raises(ValueError, match="external Spark module"):
                stage.unload(df, f"t_{fmt}_missing", format=fmt)


class TestLaneCacheContract:
    """Pins the r08 ADVICE fixes in caching.py: _TRACKED is
    lock-guarded (a torn pop under a future threaded runner must fail
    soft, not corrupt the list), and unpersist-failure swallowing is
    decided by the frame's OWN SparkContext stopped-state, not the
    thread-local getActiveSession (which is None on any non-Spark
    thread and used to hide genuine failures). Stub frames — the
    contract under test is pure bookkeeping, no JVM needed."""

    class _Stub:
        def __init__(self):
            self.released = 0

        def cache(self):
            return self

        def unpersist(self):
            self.released += 1

    def test_concurrent_track_and_drain_consistent(self):
        import threading

        from snowflake_data_pipeline_demo_spark import caching

        caching.release_lane_caches()  # clean slate
        stubs = [self._Stub() for _ in range(2000)]
        chunks = [stubs[i::4] for i in range(4)]
        drained: list[int] = []

        def track(chunk):
            for s in chunk:
                caching.lane_cache(s)

        def drain():
            total = 0
            for _ in range(200):
                total += caching.release_lane_caches()
            drained.append(total)

        threads = [threading.Thread(target=track, args=(c,))
                   for c in chunks]
        threads += [threading.Thread(target=drain) for _ in range(2)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        drained.append(caching.release_lane_caches())  # final sweep
        assert sum(drained) == 2000
        assert all(s.released == 1 for s in stubs)
        assert caching.release_lane_caches() == 0

    def test_unpersist_failure_raises_when_context_alive(self):
        import pytest

        from snowflake_data_pipeline_demo_spark import caching

        caching.release_lane_caches()

        class _Sc:
            def sc(self):
                return self

            def isStopped(self):
                return False

        class _Session:
            class sparkContext:
                _jsc = _Sc()

        class _Boom(self._Stub):
            sparkSession = _Session()

            def unpersist(self):
                raise RuntimeError("block manager exploded")

        caching.lane_cache(_Boom())
        with pytest.raises(RuntimeError, match="exploded"):
            caching.release_lane_caches()

    def test_unpersist_failure_swallowed_when_context_stopped(self):
        from snowflake_data_pipeline_demo_spark import caching

        caching.release_lane_caches()

        class _Torn(self._Stub):
            # sparkSession access itself explodes (py4j gateway gone
            # at interpreter teardown) -> treated as stopped
            @property
            def sparkSession(self):
                raise RuntimeError("gateway down")

            def unpersist(self):
                raise RuntimeError("context stopped")

        caching.lane_cache(_Torn())
        assert caching.release_lane_caches() == 0


def test_env_extra_conf_parses_semicolon_pairs(monkeypatch):
    """The SPARK_GRAFT_EXTRA_CONF experiment hook (r12): ';'-separated
    key=value pairs, malformed fragments ignored, embedded '=' kept."""
    from snowflake_data_pipeline_demo_spark.session import _env_extra_conf

    monkeypatch.setenv(
        "SPARK_GRAFT_EXTRA_CONF",
        "spark.sql.join.preferSortMergeJoin=false;"
        "spark.driver.extraJavaOptions=-Da=b=c;garbage;=alsobad;",
    )
    assert _env_extra_conf() == {
        "spark.sql.join.preferSortMergeJoin": "false",
        "spark.driver.extraJavaOptions": "-Da=b=c",
    }
    monkeypatch.delenv("SPARK_GRAFT_EXTRA_CONF")
    assert _env_extra_conf() == {}
