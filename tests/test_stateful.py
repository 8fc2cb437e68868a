"""applyInPandasWithState sessionizer: sessions close on successor
arrival within a batch, survive across micro-batches via state, and
agree with the batch gaps-and-islands answer for every closed session."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from snowflake_data_pipeline_demo_spark.streaming.stateful import (
    stateful_sessionize,
)


@pytest.fixture()
def event_rows():
    t0 = dt.datetime(2024, 1, 1, 9, 0, 0)

    def e(i, user, minutes):
        return (i, user, t0 + dt.timedelta(minutes=minutes))

    # user 1: sessions A={0,10}, B={55,60}, open C={200}
    # user 2: session D={0,30,60} closed by E={180}, E open
    return [
        e(1, 1, 0), e(2, 1, 10), e(3, 1, 55), e(4, 1, 60), e(5, 1, 200),
        e(6, 2, 0), e(7, 2, 30), e(8, 2, 60), e(9, 2, 180),
    ]


def _run_stream(spark, src_dir, schema):
    stream = spark.readStream.schema(schema).parquet(src_dir)
    q = (
        stateful_sessionize(stream, gap_minutes=30)
        .writeStream.format("memory")
        .queryName("stateful_sess")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(
        "select user_id, session_start, session_end, n_events "
        "from stateful_sess order by user_id, session_start"
    ).collect()


def test_stateful_sessionize_closes_on_successor(spark, event_rows, tmp_path):
    events = spark.createDataFrame(
        event_rows, "event_id long, user_id long, ts timestamp"
    )
    src = str(tmp_path / "ev1")
    events.write.mode("overwrite").parquet(src)

    rows = _run_stream(spark, src, events.schema)
    got = [(r["user_id"], r["session_start"].minute + 60 * (r["session_start"].hour - 9),
            r["n_events"]) for r in rows]
    # closed sessions only — the final open session per user stays in
    # state (u1's {200}, u2's {180})
    assert got == [(1, 0, 2), (1, 55, 2), (2, 0, 3)]


def test_stateful_sessionize_state_survives_batches(spark, event_rows, tmp_path):
    """The same events split across TWO availableNow runs (state
    persisted in the checkpoint) close the same sessions as one run —
    including a session whose events span the two waves."""
    schema = "event_id long, user_id long, ts timestamp"
    wave1 = spark.createDataFrame(
        [r for r in event_rows if r[0] <= 3], schema
    )  # u1@{0,10,55}: session A closes in wave1, B open
    wave2 = spark.createDataFrame([r for r in event_rows if r[0] > 3], schema)
    src = str(tmp_path / "ev2")
    ckpt = str(tmp_path / "ckpt")

    emitted = []

    def run(df):
        df.write.mode("append").parquet(src)
        stream = spark.readStream.schema(wave1.schema).parquet(src)
        q = (
            stateful_sessionize(stream, gap_minutes=30)
            .writeStream.foreachBatch(
                # memory sink can't recover from a checkpoint; collect
                # via foreachBatch (which can) instead
                lambda batch, _id: emitted.extend(batch.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run(wave1)
    run(wave2)
    rows = sorted(emitted, key=lambda r: (r["user_id"], r["session_start"]))
    got = [(r["user_id"], r["session_start"].minute + 60 * (r["session_start"].hour - 9),
            r["n_events"]) for r in rows]
    # session B {55,60} spans the waves: 55 arrives in wave1, 60 in
    # wave2, closed by 200 in wave2 with BOTH events counted
    assert (1, 55, 2) in got
    assert (1, 0, 2) in got
    # u2's minute-0 event arrives in wave2 but wave1 advanced the
    # watermark to minute 25 (55 - 30 gap) => it is LATE and dropped;
    # u2's session is {30, 60}, exactly the watermark contract
    assert (2, 30, 2) in got and (2, 0, 3) not in got


def test_streaming_dedup_drops_cross_batch_duplicates(spark, tmp_path):
    """dropDuplicatesWithinWatermark state: a fingerprint seen in batch
    1 suppresses its duplicate in batch 2 (maxFilesPerTrigger=1 forces
    the two files into separate micro-batches)."""
    import json

    from snowflake_data_pipeline_demo_spark.streaming.dedup import dedup_stream

    src = tmp_path / "src"
    src.mkdir()
    (src / "f1.json").write_text("\n".join(
        json.dumps(r) for r in [
            {"fp": "a", "ts": "2024-01-01T10:00:00"},
            {"fp": "b", "ts": "2024-01-01T10:00:01"},
        ]))
    (src / "f2.json").write_text("\n".join(
        json.dumps(r) for r in [
            {"fp": "a", "ts": "2024-01-01T10:00:02"},   # cross-batch dup
            {"fp": "c", "ts": "2024-01-01T10:00:03"},
        ]))

    stream = (
        spark.readStream.schema("fp string, ts timestamp")
        .option("maxFilesPerTrigger", 1).json(str(src))
    )
    seen: list = []
    q = (
        dedup_stream(stream, ["fp"], watermark="1 hour")
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(lambda df, _: seen.extend(r["fp"] for r in df.collect()))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    assert sorted(seen) == ["a", "b", "c"]


def test_streaming_curation_ingest(spark, tmp_path):
    """The training-data surface on the streaming engine: document
    files stream through watermark-bounded dedup + Gopher filtering
    into a table via foreachBatch; a checkpointed re-run (same source,
    new start) processes nothing new and the table stays stable."""
    import json

    from pyspark.sql import functions as F

    from snowflake_data_pipeline_demo_spark.operators.text import gopher_flags
    from snowflake_data_pipeline_demo_spark.streaming.dedup import dedup_stream

    src = tmp_path / "docs"
    src.mkdir()
    good = ("the cat sat on a mat and that dog ran off with the red "
            "ball to be near all of them today")
    rows1 = [
        {"doc_id": 1, "text": good, "ts": "2024-01-01T10:00:00"},
        {"doc_id": 2, "text": "short", "ts": "2024-01-01T10:00:01"},
    ]
    rows2 = [
        {"doc_id": 3, "text": good, "ts": "2024-01-01T10:00:02"},  # dup text
        {"doc_id": 4, "text": good + " extra words here now",
         "ts": "2024-01-01T10:00:03"},
    ]
    (src / "f1.json").write_text("\n".join(json.dumps(r) for r in rows1))
    (src / "f2.json").write_text("\n".join(json.dumps(r) for r in rows2))

    out = tmp_path / "curated"

    def run():
        stream = (
            spark.readStream
            .schema("doc_id long, text string, ts timestamp")
            .option("maxFilesPerTrigger", 1).json(str(src))
        )
        curated = dedup_stream(
            stream.withColumn("fp", F.md5("text")), ["fp"], watermark="1 hour"
        ).filter(gopher_flags("text")["keep"])
        q = (
            curated.select("doc_id").writeStream.outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .foreachBatch(lambda df, bid: df.write.mode("append")
                          .parquet(str(out)))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    run()
    got = sorted(r["doc_id"] for r in spark.read.parquet(str(out)).collect())
    # doc 2 fails quality, doc 3 is a dup of doc 1; 1 and 4 survive
    assert got == [1, 4]
    run()  # restart from checkpoint: no new files -> no new rows
    got2 = sorted(r["doc_id"] for r in spark.read.parquet(str(out)).collect())
    assert got2 == [1, 4]


def test_pipe_ingests_csv_format(spark, tmp_path):
    """Snowpipe file-format breadth: the same pipe machinery ingests
    staged CSV exactly-once-per-file (T1 contract, csv source)."""
    from pyspark.sql import types as T

    from snowflake_data_pipeline_demo_spark.sources.catalog import Table
    from snowflake_data_pipeline_demo_spark.sources.stage import Stage
    from snowflake_data_pipeline_demo_spark.streaming.history import (
        COPY_HISTORY_SCHEMA,
    )
    from snowflake_data_pipeline_demo_spark.streaming.pipe import Pipe

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
    ])
    stage = Stage(spark, str(tmp_path / "stage"))
    (tmp_path / "stage" / "day1").mkdir(parents=True)
    (tmp_path / "stage" / "day1" / "a.csv").write_text("1,alpha\n2,beta\n")
    (tmp_path / "stage" / "day1" / "b.csv").write_text("3,gamma\n")

    raw = Table(spark, str(tmp_path / "raw"),
                T.StructType([T.StructField(
                    "v", T.StructType(schema.fields))]))
    hist = Table(spark, str(tmp_path / "hist"), COPY_HISTORY_SCHEMA)
    pipe = Pipe(spark, "csv_pipe", stage, schema, raw, hist,
                str(tmp_path / "ckpt"), file_format="csv")
    pipe.run_available()
    assert raw.count() == 3
    assert hist.read().agg(F.sum("row_count")).first()[0] == 3
    # replay: nothing new -> counts stable (exactly-once per file)
    pipe.run_available()
    assert raw.count() == 3
    # unsupported format rejected with a clear error
    import pytest as _pytest
    with _pytest.raises(ValueError, match="external Spark module"):
        Pipe(spark, "x", stage, schema, raw, hist,
             str(tmp_path / "ck2"), file_format="avro")


def test_semantic_dedup_batch_fn_incremental_and_replay_safe(spark, tmp_path):
    """Continuous semantic ingest dedup: batch 1's twin of a batch-0
    vector is dropped against the persisted history, new content
    passes, and replaying a committed batch is a no-op (exactly-once
    convergence)."""
    from pyspark.sql import types as T

    from snowflake_data_pipeline_demo_spark.sources.catalog import Table
    from snowflake_data_pipeline_demo_spark.streaming.dedup import (
        semantic_dedup_batch_fn,
    )

    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ])
    clean = Table(spark, str(tmp_path / "clean_vecs"), schema)
    cent = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 0.0, 1.0, 0.0])],
        "centroid_id long, embedding array<double>",
    )
    fn = semantic_dedup_batch_fn(clean, cent, threshold=0.95)

    b0 = spark.createDataFrame(
        [(1, [0.999, 0.0447, 0.0, 0.0]), (2, [0.0, 0.0, 1.0, 0.0])],
        schema,
    )
    fn(b0, 0)
    assert {r["vec_id"] for r in clean.read().collect()} == {1, 2}

    b1 = spark.createDataFrame(
        [(10, [0.998, 0.0632, 0.0, 0.0]),   # twin of history vec 1
         (11, [0.0, 1.0, 0.0, 0.0])],        # new direction, kept
        schema,
    )
    fn(b1, 1)
    assert {r["vec_id"] for r in clean.read().collect()} == {1, 2, 11}

    fn(b1, 1)  # crash-replay of a committed batch: converged, no change
    assert clean.read().count() == 3


def test_stream_metrics_surface(spark, tmp_path):
    """stream_metrics lifts recentProgress into a queryable frame with
    per-batch rows, rates, durations, and the event watermark;
    watermark_lag_seconds derives the alerting lag."""
    import json

    from snowflake_data_pipeline_demo_spark.streaming.metrics import (
        stream_metrics, watermark_lag_seconds,
    )

    src = tmp_path / "ev"
    src.mkdir()
    rows = [
        {"event_id": i, "ts": f"2024-01-01T10:00:{i:02d}", "value": 1.0}
        for i in range(20)
    ]
    (src / "f1.json").write_text("\n".join(json.dumps(r) for r in rows[:10]))
    (src / "f2.json").write_text("\n".join(json.dumps(r) for r in rows[10:]))

    from pyspark.sql import functions as F

    stream = (
        spark.readStream
        .schema("event_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1).json(str(src))
    )
    agg = (
        stream.withWatermark("ts", "10 seconds")
        .groupBy(F.window("ts", "5 seconds"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(lambda df, bid: df.count())
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)

    m = stream_metrics(spark, q)
    got = m.orderBy("batch_id").collect()
    assert len(got) >= 2                      # one row per micro-batch
    assert sum(r["num_input_rows"] for r in got) == 20
    assert all(r["batch_duration_ms"] >= 0 for r in got)
    # the second batch carries the watermark advanced by the first;
    # epoch-sentinel watermarks (pre-first-advance batches) must NOT
    # produce a lag — they'd read as ~1.7e9 s and fire any alert
    lag = watermark_lag_seconds(m).filter(
        F.col("watermark").isNotNull()
        & (F.to_timestamp("watermark")
           > F.to_timestamp(F.lit("1970-01-01T00:00:00Z")))
    ).collect()
    assert lag, "no batch advanced the watermark"
    assert all(r["watermark_lag_s"] is not None for r in lag)


def test_watermark_lag_epoch_sentinel_is_null(spark):
    """A watermarked query's early batches report the epoch watermark
    '1970-01-01T00:00:00.000Z'; the lag column must treat that as
    no-watermark (null), not a ~1.7e9-second lag."""
    from snowflake_data_pipeline_demo_spark.streaming.metrics import (
        STREAM_METRICS_SCHEMA, watermark_lag_seconds,
    )

    rows = [
        (0, "2024-01-01T10:00:00.000Z", 10, 1.0, 1.0, 5,
         "1970-01-01T00:00:00.000Z", 0),
        (1, "2024-01-01T10:00:10.000Z", 10, 1.0, 1.0, 5,
         "2024-01-01T10:00:05.000Z", 0),
        (2, "2024-01-01T10:00:20.000Z", 0, 0.0, 0.0, 5, None, 0),
    ]
    m = spark.createDataFrame(rows, STREAM_METRICS_SCHEMA)
    got = {r["batch_id"]: r["watermark_lag_s"]
           for r in watermark_lag_seconds(m).collect()}
    assert got[0] is None          # epoch sentinel -> no lag
    assert got[1] == 5.0           # real watermark -> wall-clock delta
    assert got[2] is None          # no watermark -> no lag


def test_minhash_dedup_batch_fn_persisted_index_and_replay(spark, tmp_path):
    """Continuous MinHash ingest dedup over a persisted signature
    index: a batch-1 near-copy of a batch-0 doc is dropped against the
    index, novel content passes and extends the index, and replaying a
    committed batch is a no-op — including after a simulated crash
    between the index write and the data write."""
    from pyspark.sql import types as T

    from snowflake_data_pipeline_demo_spark.sources.catalog import Table
    from snowflake_data_pipeline_demo_spark.streaming.dedup import (
        minhash_dedup_batch_fn,
    )

    doc_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    sig_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("sig", T.ArrayType(T.LongType())),
    ])
    clean = Table(spark, str(tmp_path / "clean_docs"), doc_schema)
    sigs = Table(spark, str(tmp_path / "sig_index"), sig_schema)
    fn = minhash_dedup_batch_fn(clean, sigs, threshold=0.5)

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep green forest tonight")
    b0 = spark.createDataFrame(
        [(1, base), (2, "completely different material about spark "
                        "shuffle exchange partitions and hash joins")],
        doc_schema,
    )
    fn(b0, 0)
    assert {r["doc_id"] for r in clean.read().collect()} == {1, 2}
    assert sigs.read().count() == 2

    b1 = spark.createDataFrame(
        [(10, base + " extra"),            # near-copy of history doc 1
         (11, "entirely novel prose regarding watermark state stores "
              "and streaming checkpoints under replay semantics")],
        doc_schema,
    )
    fn(b1, 1)
    assert {r["doc_id"] for r in clean.read().collect()} == {1, 2, 11}
    assert {r["doc_id"] for r in sigs.read().collect()} == {1, 2, 11}

    # committed-batch replay: converged, no change
    fn(b1, 1)
    assert clean.read().count() == 3 and sigs.read().count() == 3

    # crash window: index subdir written, data subdir not committed —
    # replay must converge to the same bytes, not self-flag the batch
    b2 = spark.createDataFrame(
        [(20, "fresh unseen content about broadcast joins and adaptive "
              "query execution plans at scale")],
        doc_schema,
    )
    sigs_only = minhash_dedup_batch_fn(clean, sigs, threshold=0.5)
    # simulate the crash by doing just the index write of batch 2
    from snowflake_data_pipeline_demo_spark.operators.dedup import (
        minhash_signatures,
    )
    sigs.overwrite_subdir(
        minhash_signatures(b2, hash_family="xxhash64"), "batch=2"
    )
    assert not clean.subdir_committed("batch=2")
    sigs_only(b2, 2)                        # the replay
    assert {r["doc_id"] for r in clean.read().collect()} == {1, 2, 11, 20}
    assert {r["doc_id"] for r in sigs.read().collect()} == {1, 2, 11, 20}


def test_minhash_dedup_indexed_mode_matches_rebanding_mode(spark, tmp_path):
    """Passing a bands_table switches the ingest probe from re-banding
    the whole signature history per batch (O(history)) to one
    equi-join against the persisted banded-key index (O(batch +
    collisions)) — a cost-shape change that must not change a single
    decision. Run the same three batches (with an exact-dup re-ingest
    and a natural near-dup) through both modes and compare the kept-id
    sets per batch; also check the band index carries exactly the
    novel docs' keys."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from snowflake_data_pipeline_demo_spark.sources.catalog import Table
    from snowflake_data_pipeline_demo_spark.streaming.dedup import (
        minhash_dedup_batch_fn,
    )

    doc_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    sig_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("sig", T.ArrayType(T.LongType())),
    ])
    band_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("key", T.StringType()),
    ])

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep green forest tonight")
    other = ("completely different material about spark shuffle "
             "exchange partitions and broadcast hash joins at scale")
    batches = [
        [(1, base), (2, other)],
        [(3, base), (4, "novel text regarding parquet row group "
                        "statistics and column chunk encodings")],
        [(5, base + " exactly"), (6, other)],  # near-dup + exact dup
    ]

    def run(mode_dir: str, with_index: bool):
        clean = Table(spark, str(tmp_path / mode_dir / "clean"), doc_schema)
        sigs = Table(spark, str(tmp_path / mode_dir / "sigs"), sig_schema)
        bands = (
            Table(spark, str(tmp_path / mode_dir / "bands"), band_schema)
            if with_index else None
        )
        fn = minhash_dedup_batch_fn(clean, sigs, bands, threshold=0.5)
        kept = []
        for i, rows in enumerate(batches):
            fn(spark.createDataFrame(rows, doc_schema), i)
            kept.append({
                r["doc_id"] for r in spark.read.schema(doc_schema)
                .parquet(str(tmp_path / mode_dir / f"clean/batch={i}"))
                .collect()
            })
        return kept, sigs, bands

    kept_plain, _, _ = run("plain", with_index=False)
    kept_idx, sigs_idx, bands_idx = run("indexed", with_index=True)
    assert kept_plain == kept_idx, (kept_plain, kept_idx)
    # batch 0 all kept; 3 and 6 are exact re-ingests (dropped)
    assert kept_idx[0] == {1, 2}
    assert 3 not in kept_idx[1]
    assert 6 not in kept_idx[2]
    # the band index holds exactly the NOVEL docs' keys (4 bands each)
    novel = {d for s in kept_idx for d in s}
    idx = bands_idx.read()
    assert {r["doc_id"] for r in idx.select("doc_id").distinct().collect()} \
        == novel
    counts = idx.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    assert all(r["n"] == 4 for r in counts)


def test_semantic_dedup_assigned_index_matches_reassign_mode(spark, tmp_path):
    """Passing an assigned_table switches the semantic ingest probe
    from re-assigning the whole clean history per batch (O(history))
    to the persisted (id, vec, centroid_id) index — decisions must be
    identical, and the index must carry exactly the kept vectors with
    their assignments."""
    from pyspark.sql import types as T

    from snowflake_data_pipeline_demo_spark.sources.catalog import Table
    from snowflake_data_pipeline_demo_spark.streaming.dedup import (
        semantic_dedup_batch_fn,
    )

    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ])
    a_schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
        T.StructField("centroid_id", T.LongType()),
    ])
    cent = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 0.0, 1.0, 0.0])],
        "centroid_id long, embedding array<double>",
    )
    batches = [
        [(1, [0.999, 0.0447, 0.0, 0.0]), (2, [0.0, 0.0, 1.0, 0.0])],
        [(10, [0.998, 0.0632, 0.0, 0.0]),   # twin of vec 1 -> dropped
         (11, [0.0, 1.0, 0.0, 0.0])],        # new direction -> kept
        [(20, [0.0, 0.0, 0.999, 0.0447]),   # twin of vec 2 -> dropped
         (21, [0.5, 0.5, 0.5, 0.5])],
    ]

    def run(mode_dir: str, with_index: bool):
        clean = Table(spark, str(tmp_path / mode_dir / "clean"), schema)
        assigned = (
            Table(spark, str(tmp_path / mode_dir / "assigned"), a_schema)
            if with_index else None
        )
        fn = semantic_dedup_batch_fn(
            clean, cent, threshold=0.95, assigned_table=assigned
        )
        for i, rows in enumerate(batches):
            fn(spark.createDataFrame(rows, schema), i)
        return clean, assigned

    clean_plain, _ = run("plain", with_index=False)
    clean_idx, assigned_idx = run("indexed", with_index=True)
    kept_plain = {r["vec_id"] for r in clean_plain.read().collect()}
    kept_idx = {r["vec_id"] for r in clean_idx.read().collect()}
    assert kept_plain == kept_idx == {1, 2, 11, 21}
    # the index mirrors the clean set, with assignments attached
    idx_rows = {r["vec_id"]: r["centroid_id"]
                for r in assigned_idx.read().collect()}
    assert set(idx_rows) == kept_idx
    assert idx_rows[1] == 0 and idx_rows[2] == 1


def test_semantic_dedup_replay_after_crash_mid_write(spark, tmp_path):
    """Legacy (non-indexed) semantic mode: a crash MID-WRITE leaves
    batch files without _SUCCESS; the replay's history scan lists
    those very files and then overwrites the subdir. The decision must
    be checkpointed first (or the write deletes its own scan inputs)
    and the batch's own ids excluded from history (or the half-write
    flags the batch against itself). Simulate the crash by writing the
    subdir and deleting its _SUCCESS marker."""
    import os

    from pyspark.sql import types as T

    from snowflake_data_pipeline_demo_spark.sources.catalog import Table
    from snowflake_data_pipeline_demo_spark.streaming.dedup import (
        semantic_dedup_batch_fn,
    )

    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ])
    clean = Table(spark, str(tmp_path / "clean"), schema)
    cent = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "centroid_id long, embedding array<double>",
    )
    fn = semantic_dedup_batch_fn(clean, cent, threshold=0.95)
    b0 = spark.createDataFrame([(1, [1.0, 0.0]), (2, [0.0, 1.0])], schema)
    fn(b0, 0)
    b1 = spark.createDataFrame([(10, [1.0, 0.0]), (11, [0.7, 0.7])], schema)
    fn(b1, 1)
    # simulate crash: batch=1 files exist, commit marker gone
    os.remove(str(tmp_path / "clean" / "batch=1" / "_SUCCESS"))
    fn(b1, 1)  # replay must converge, not FAILED_READ_FILE / self-flag
    kept = {r["vec_id"] for r in clean.read().collect()}
    assert kept == {1, 2, 11}  # 10 is the twin of 1 -> dropped


def test_indexed_modes_refuse_uncovered_history(spark, tmp_path):
    """Enabling an index table over an already-populated history must
    fail fast — an empty index silently admits every duplicate of
    pre-index content — and the backfill helpers must make the same
    setup pass and keep detecting old dups."""
    from pyspark.sql import types as T

    from snowflake_data_pipeline_demo_spark.sources.catalog import Table
    from snowflake_data_pipeline_demo_spark.streaming.dedup import (
        backfill_band_index,
        minhash_dedup_batch_fn,
    )

    doc_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    sig_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("sig", T.ArrayType(T.LongType())),
    ])
    band_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("key", T.StringType()),
    ])
    clean = Table(spark, str(tmp_path / "clean"), doc_schema)
    sigs = Table(spark, str(tmp_path / "sigs"), sig_schema)
    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep green forest tonight")
    b0 = spark.createDataFrame([(1, base)], doc_schema)
    minhash_dedup_batch_fn(clean, sigs, threshold=0.5)(b0, 0)

    # enable the index over the populated history: must refuse
    bands = Table(spark, str(tmp_path / "bands"), band_schema)
    fn_idx = minhash_dedup_batch_fn(clean, sigs, bands, threshold=0.5)
    b1 = spark.createDataFrame([(2, base)], doc_schema)  # dup of 1
    with pytest.raises(ValueError, match="backfill_band_index"):
        fn_idx(b1, 1)

    # backfill, retry: the pre-index duplicate is now caught
    backfill_band_index(sigs, bands)
    fn_idx(b1, 1)
    assert {r["doc_id"] for r in clean.read().collect()} == {1}


def test_indexed_first_batch_crash_replay_does_not_wedge(spark, tmp_path):
    """The migration guard must never fire on a crash-replay state.
    Band index is written FIRST (bands >= sigs coverage at every crash
    point), so 'sigs populated + bands empty' can only mean an
    unbackfilled migration. Simulate the worst replay state a crash
    can now produce — bands written, sigs and clean not — and replay:
    it must converge, not raise."""
    import shutil

    from pyspark.sql import types as T

    from snowflake_data_pipeline_demo_spark.sources.catalog import Table
    from snowflake_data_pipeline_demo_spark.streaming.dedup import (
        minhash_dedup_batch_fn,
    )

    doc_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    sig_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("sig", T.ArrayType(T.LongType())),
    ])
    band_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("key", T.StringType()),
    ])
    clean = Table(spark, str(tmp_path / "clean"), doc_schema)
    sigs = Table(spark, str(tmp_path / "sigs"), sig_schema)
    bands = Table(spark, str(tmp_path / "bands"), band_schema)
    fn = minhash_dedup_batch_fn(clean, sigs, bands, threshold=0.5)

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep green forest tonight")
    b0 = spark.createDataFrame(
        [(1, base), (2, base + " with a tail")], doc_schema
    )
    fn(b0, 0)
    # crash state: bands/batch=0 persisted, sigs and clean wiped
    shutil.rmtree(str(tmp_path / "sigs" / "batch=0"))
    shutil.rmtree(str(tmp_path / "clean" / "batch=0"))
    fn(b0, 0)  # replay: must NOT raise the backfill guard
    assert {r["doc_id"] for r in clean.read().collect()} == {1}
    assert sigs.read().count() == 1


def test_semantic_indexed_crash_replay_converges(spark, tmp_path):
    """Indexed semantic mode: crash after the assigned-index write but
    before the clean write (the only intermediate state the write
    order allows) must replay to identical bytes — the guard must not
    fire (index coverage >= clean coverage by construction) and the
    half-persisted index subdir must not flag the batch against
    itself."""
    import shutil

    from pyspark.sql import types as T

    from snowflake_data_pipeline_demo_spark.sources.catalog import Table
    from snowflake_data_pipeline_demo_spark.streaming.dedup import (
        semantic_dedup_batch_fn,
    )

    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ])
    a_schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
        T.StructField("centroid_id", T.LongType()),
    ])
    clean = Table(spark, str(tmp_path / "clean"), schema)
    assigned = Table(spark, str(tmp_path / "assigned"), a_schema)
    cent = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "centroid_id long, embedding array<double>",
    )
    fn = semantic_dedup_batch_fn(
        clean, cent, threshold=0.95, assigned_table=assigned
    )
    b0 = spark.createDataFrame([(1, [1.0, 0.0]), (2, [0.0, 1.0])], schema)
    fn(b0, 0)
    # crash state: assigned/batch=0 persisted, clean/batch=0 missing
    shutil.rmtree(str(tmp_path / "clean" / "batch=0"))
    fn(b0, 0)  # replay: converges without guard error or self-flag
    assert {r["vec_id"] for r in clean.read().collect()} == {1, 2}
    assert assigned.read().count() == 2


def test_minhash_dedup_survives_index_compaction(spark, tmp_path):
    """The persisted signature/band index grows forever by design, so
    at some point a maintenance window runs Table.compact on it —
    which flattens the overwrite_subdir batch layout and consumes the
    replay markers (documented contract: compact a QUIESCED table).
    What must hold afterwards: ingest decisions are unchanged — a
    duplicate of pre-compaction content is still dropped against the
    compacted index, novel content is still kept, and the index keeps
    growing with novel keys only — because the probe reads the table
    recursively whatever the file layout. Pins the compaction story
    SCALE.md sells for continuous ingest."""
    from pyspark.sql import types as T

    from snowflake_data_pipeline_demo_spark.sources.catalog import Table
    from snowflake_data_pipeline_demo_spark.streaming.dedup import (
        minhash_dedup_batch_fn,
    )

    doc_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    sig_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("sig", T.ArrayType(T.LongType())),
    ])
    band_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("key", T.StringType()),
    ])
    clean = Table(spark, str(tmp_path / "clean"), doc_schema)
    sigs = Table(spark, str(tmp_path / "sigs"), sig_schema)
    bands = Table(spark, str(tmp_path / "bands"), band_schema)
    fn = minhash_dedup_batch_fn(clean, sigs, bands, threshold=0.5)

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep green forest tonight")
    other = ("completely different material about spark shuffle "
             "exchange partitions and broadcast hash joins at scale")
    fn(spark.createDataFrame([(1, base)], doc_schema), 0)
    fn(spark.createDataFrame([(2, other)], doc_schema), 1)

    # quiesced maintenance window: compact all three tables
    for t in (clean, sigs, bands):
        stats = t.compact(target_file_bytes=1 << 30)
        assert stats["files_after"] <= stats["files_before"]
    n_sigs_before = sigs.count()

    # post-compaction ingest: dup of pre-compaction content dropped,
    # novel doc kept, index grows by the novel doc only
    fn(spark.createDataFrame(
        [(3, base), (4, "novel text regarding parquet row group "
                        "statistics and column chunk encodings")],
        doc_schema), 2)
    kept2 = {r["doc_id"] for r in spark.read.schema(doc_schema)
             .parquet(str(tmp_path / "clean/batch=2")).collect()}
    assert kept2 == {4}, kept2
    assert sigs.count() == n_sigs_before + 1
    assert {r["doc_id"] for r in
            bands.read().select("doc_id").distinct().collect()} == {1, 2, 4}


def test_streaming_profile_state_matches_batch_and_survives_replay(
        spark, tmp_path):
    """profile_batch_fn over three deterministic micro-batches must
    leave sketch state whose merged report (a) gives EXACTLY the
    single-pass histogram quantiles — bucket merging is exact —
    (b) lands the HLL distinct-token estimate inside its envelope, and
    (c) is untouched by a crash-replay of any batch (batch-keyed
    overwrites + the committed-subdir gate)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from snowflake_data_pipeline_demo_spark.operators import text as TX
    from snowflake_data_pipeline_demo_spark.sources.catalog import Table
    from snowflake_data_pipeline_demo_spark.sources.testdata import load
    from snowflake_data_pipeline_demo_spark.streaming.profile import (
        corpus_profile, profile_batch_fn,
    )

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    hll = Table(spark, str(tmp_path / "hll"), T.StructType([
        T.StructField("source", T.StringType()),
        T.StructField("shard", T.LongType()),
        T.StructField("sketch", T.BinaryType()),
    ]))
    hist = Table(spark, str(tmp_path / "hist"), T.StructType([
        T.StructField("source", T.StringType()),
        T.StructField("shard", T.LongType()),
        T.StructField("bucket", T.IntegerType()),
        T.StructField("cnt", T.LongType()),
        T.StructField("gamma", T.DoubleType()),
    ]))
    fn = profile_batch_fn(hll, hist)
    batches = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    for i, b in enumerate(batches):
        fn(b, i)

    prof = {r["source"]: r for r in corpus_profile(hll, hist).collect()}

    # (a) histogram side: exactly the single-pass quantiles
    single = {r["source"]: r for r in TX.histogram_merge_quantiles(
        TX.length_histogram_shard_sketches(
            docs.withColumn("n_chars", F.length("text").cast("long")),
            F.lit(0).cast("long"),
        )
    ).collect()}
    for src, row in prof.items():
        for c in ("n_values", "p25", "p50", "p75", "p90", "p99"):
            assert row[c] == single[src][c], (src, c)

    # (b) HLL side: inside the envelope of the exact distinct count
    exact = {r["source"]: r["n"] for r in docs.select(
        "source", F.explode(TX.tokens("text")).alias("tok")
    ).groupBy("source").agg(F.countDistinct("tok").alias("n")).collect()}
    for src, row in prof.items():
        assert abs(row["est_tokens"] - exact[src]) <= \
            max(1, 0.05 * exact[src]), src

    # (c) crash-replay of a mid-stream batch changes nothing; an EMPTY
    # micro-batch (a trigger with no new files) commits cleanly too
    n_hll, n_hist = hll.read().count(), hist.read().count()
    fn(batches[1], 1)
    fn(batches[0].filter(F.lit(False)), 3)
    assert hll.read().count() == n_hll
    assert hist.read().count() == n_hist
    replayed = {r["source"]: r for r in
                corpus_profile(hll, hist).collect()}
    assert {s: r["p50"] for s, r in replayed.items()} == \
        {s: r["p50"] for s, r in prof.items()}


def test_streaming_profile_interoperates_with_batch_appends(
        spark, tmp_path):
    """A later BATCH job appending shard sketches to the same state
    tables (same shapes) must fold into the streaming-maintained
    profile — the interop the module docstring claims."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from snowflake_data_pipeline_demo_spark.operators import text as TX
    from snowflake_data_pipeline_demo_spark.sources.catalog import Table
    from snowflake_data_pipeline_demo_spark.sources.testdata import load
    from snowflake_data_pipeline_demo_spark.streaming.profile import (
        corpus_profile, profile_batch_fn,
    )

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)
    hll = Table(spark, str(tmp_path / "hll"), T.StructType([
        T.StructField("source", T.StringType()),
        T.StructField("shard", T.LongType()),
        T.StructField("sketch", T.BinaryType()),
    ]))
    hist = Table(spark, str(tmp_path / "hist"), T.StructType([
        T.StructField("source", T.StringType()),
        T.StructField("shard", T.LongType()),
        T.StructField("bucket", T.IntegerType()),
        T.StructField("cnt", T.LongType()),
        T.StructField("gamma", T.DoubleType()),
    ]))
    profile_batch_fn(hll, hist)(half_a, 0)
    n_before = {r["source"]: r["n_values"]
                for r in corpus_profile(hll, hist).collect()}

    # batch job appends its own shard rows directly
    hb = half_b.withColumn("n_chars", F.length("text").cast("long"))
    for t, shard in ((hll, TX.token_hll_shard_sketches(hb, F.lit(99).cast("long"))),
                     (hist, TX.length_histogram_shard_sketches(
                         hb, F.lit(99).cast("long")))):
        shard.select(*t.schema.fieldNames()).write.mode("append").parquet(t.path)

    after = {r["source"]: r["n_values"]
             for r in corpus_profile(hll, hist).collect()}
    total = {r["source"]: r["n"] for r in docs.groupBy("source")
             .agg(F.count("*").alias("n")).collect()}
    assert after == total
    # a tiny source can sit entirely in half_a; the corpus as a whole
    # must have grown
    assert all(after[s] >= n_before.get(s, 0) for s in after)
    assert sum(after.values()) > sum(n_before.values())


def test_streaming_profile_survives_state_compaction(spark, tmp_path):
    """Minutes-cadence profile maintenance accretes one subdir per
    batch; the maintenance-window compaction (Table.compact) must not
    change the merged report — HLL union and bucket summation are
    order- and layout-independent by construction, pinned here."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from snowflake_data_pipeline_demo_spark.sources.catalog import Table
    from snowflake_data_pipeline_demo_spark.sources.testdata import load
    from snowflake_data_pipeline_demo_spark.streaming.profile import (
        corpus_profile, profile_batch_fn,
    )

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    hll = Table(spark, str(tmp_path / "hll"), T.StructType([
        T.StructField("source", T.StringType()),
        T.StructField("shard", T.LongType()),
        T.StructField("sketch", T.BinaryType()),
    ]))
    hist = Table(spark, str(tmp_path / "hist"), T.StructType([
        T.StructField("source", T.StringType()),
        T.StructField("shard", T.LongType()),
        T.StructField("bucket", T.IntegerType()),
        T.StructField("cnt", T.LongType()),
        T.StructField("gamma", T.DoubleType()),
    ]))
    fn = profile_batch_fn(hll, hist)
    for i in range(4):
        fn(docs.filter(F.col("doc_id") % 4 == i), i)

    before = sorted(
        tuple(r) for r in corpus_profile(hll, hist).collect())
    ra = hll.compact(target_file_bytes=1 << 20)
    rb = hist.compact(target_file_bytes=1 << 20)
    assert ra["files_after"] <= ra["files_before"]
    assert rb["files_after"] <= rb["files_before"]
    after = sorted(
        tuple(r) for r in corpus_profile(hll, hist).collect())
    assert after == before


def test_streaming_profile_through_real_stream(spark, tmp_path):
    """profile_batch_fn attached to an ACTUAL Structured Streaming
    query (file source -> foreachBatch, availableNow): the state
    tables fill from real micro-batches, and a checkpointed restart
    with no new files adds nothing — the exactly-once contract under
    the genuine streaming machinery, not a direct fn() call."""
    import json

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from snowflake_data_pipeline_demo_spark.operators import text as TX
    from snowflake_data_pipeline_demo_spark.sources.catalog import Table
    from snowflake_data_pipeline_demo_spark.streaming.profile import (
        corpus_profile, profile_batch_fn,
    )

    src = tmp_path / "docs"
    src.mkdir()
    (src / "f1.json").write_text("\n".join(json.dumps(r) for r in [
        {"doc_id": 1, "source": "s0", "text": "alpha beta gamma"},
        {"doc_id": 2, "source": "s0", "text": "alpha beta"},
    ]))
    (src / "f2.json").write_text("\n".join(json.dumps(r) for r in [
        {"doc_id": 3, "source": "s0", "text": "delta epsilon"},
        {"doc_id": 4, "source": "s1", "text": "zeta"},
    ]))

    hll = Table(spark, str(tmp_path / "hll"), T.StructType([
        T.StructField("source", T.StringType()),
        T.StructField("shard", T.LongType()),
        T.StructField("sketch", T.BinaryType()),
    ]))
    hist = Table(spark, str(tmp_path / "hist"), T.StructType([
        T.StructField("source", T.StringType()),
        T.StructField("shard", T.LongType()),
        T.StructField("bucket", T.IntegerType()),
        T.StructField("cnt", T.LongType()),
        T.StructField("gamma", T.DoubleType()),
    ]))
    fn = profile_batch_fn(hll, hist)

    def run():
        stream = (
            spark.readStream
            .schema("doc_id long, source string, text string")
            .option("maxFilesPerTrigger", 1).json(str(src))
        )
        q = (
            stream.writeStream.foreachBatch(fn)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    run()
    prof = {r["source"]: r for r in corpus_profile(hll, hist).collect()}
    assert prof["s0"]["n_values"] == 3
    assert prof["s1"]["n_values"] == 1
    assert prof["s0"]["est_tokens"] == 5  # tiny corpus: HLL is exact
    assert prof["s1"]["est_tokens"] == 1

    n_rows = (hll.read().count(), hist.read().count())
    run()  # checkpointed restart, no new files
    assert (hll.read().count(), hist.read().count()) == n_rows
