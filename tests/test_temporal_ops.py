"""Unit tests for the temporal joins (as-of, range), decontamination,
chunking, and Gopher-rule operators — synthetic frames pin the edge
semantics the oracle queries can't isolate (ties, tolerance, bucket
boundaries, planted contamination)."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from snowflake_data_pipeline_demo_spark.operators import (
    chunking, decontam, joins, text,
)


def _ts(s: str):
    return datetime.fromisoformat(s)


def test_asof_join_picks_latest_prior_inclusive(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:00:00"), "p1"),
         (1, _ts("2024-01-01T10:05:00"), "p2"),
         (2, _ts("2024-01-01T09:00:00"), "p3")],
        "user_id long, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01T09:59:00"), 1.0),
         (1, _ts("2024-01-01T10:05:00"), 2.0),   # exact tie with p2
         (3, _ts("2024-01-01T08:00:00"), 9.0)],
        "user_id long, ts timestamp, value double",
    )
    out = {
        r["tag"]: r
        for r in joins.asof_join(left, right, keys=["user_id"],
                                 right_cols=["value"]).collect()
    }
    assert out["p1"]["value_asof"] == 1.0
    # inclusive: a right row at exactly left.ts matches
    assert out["p2"]["value_asof"] == 2.0
    # no prior right row for user 2 -> nulls
    assert out["p3"]["value_asof"] is None
    assert out["p3"]["ts_asof"] is None


def test_asof_join_tolerance_nulls_stale_matches(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01T12:00:00"))], "user_id long, ts timestamp")
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:00:00"), 5.0)],
        "user_id long, ts timestamp, value double")
    fresh = joins.asof_join(left, right, keys=["user_id"],
                            right_cols=["value"],
                            tolerance_seconds=3 * 3600).collect()[0]
    stale = joins.asof_join(left, right, keys=["user_id"],
                            right_cols=["value"],
                            tolerance_seconds=3600).collect()[0]
    assert fresh["value_asof"] == 5.0
    assert stale["value_asof"] is None and stale["ts_asof"] is None


def test_range_join_boundaries_and_multi_bucket_no_dups(spark):
    # interval spans 3 buckets at bucket_seconds=60; the matching point
    # must appear exactly once, and both endpoints are inclusive
    ivl = spark.createDataFrame(
        [(1, 10, _ts("2024-01-01T00:00:30"), _ts("2024-01-01T00:02:30"))],
        "user_id long, ivl_id long, s timestamp, e timestamp")
    pts = spark.createDataFrame(
        [(1, _ts("2024-01-01T00:00:30")),    # start boundary
         (1, _ts("2024-01-01T00:01:45")),    # middle (2nd bucket)
         (1, _ts("2024-01-01T00:02:30")),    # end boundary
         (1, _ts("2024-01-01T00:02:31")),    # just outside
         (2, _ts("2024-01-01T00:01:00"))],   # wrong key
        "user_id long, ts timestamp")
    got = joins.range_interval_join(
        ivl, pts, keys=["user_id"], start_col="s", end_col="e",
        point_ts="ts", bucket_seconds=60)
    rows = got.collect()
    assert len(rows) == 3
    assert all(r["ivl_id"] == 10 for r in rows)


def test_chunking_windows_and_tail(spark):
    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(40))),  # 40 tokens
         (2, "solo"),
         (3, "")],                                   # no tokens -> no chunks
        "doc_id long, text string")
    out = chunking.chunk_by_tokens(df, window=32, stride=24)
    rows = {(r["doc_id"], r["chunk_id"]): r for r in out.collect()}
    assert set(rows) == {(1, 0), (1, 1), (2, 0)}
    assert rows[(1, 0)]["n_chunk_tokens"] == 32
    assert rows[(1, 1)]["n_chunk_tokens"] == 16          # tail chunk
    # stride 24 < window 32 -> 8-token overlap between chunks
    c0 = rows[(1, 0)]["chunk_text"].split()
    c1 = rows[(1, 1)]["chunk_text"].split()
    assert c0[24:] == c1[:8]
    assert rows[(2, 0)]["chunk_text"] == "solo"


def test_decontamination_flags_planted_overlap(spark):
    leak = "the quick brown fox jumps over the lazy dog"
    corpus = spark.createDataFrame(
        [(1, f"intro words then {leak} and a conclusion"),
         (2, "completely unrelated content about spark plans"),
         (3, leak)],
        "doc_id long, text string")
    eval_docs = spark.createDataFrame(
        [(100, leak)], "doc_id long, text string")
    got = {r["doc_id"]: r for r in decontam.ngram_contamination(
        corpus, eval_docs, k=3, min_hits=2).collect()}
    assert got[1]["contaminated"] and got[3]["contaminated"]
    assert not got[2]["contaminated"] and got[2]["n_hits"] == 0
    kept = decontam.decontaminate(corpus, eval_docs, k=3, min_hits=2)
    assert [r["doc_id"] for r in kept.collect()] == [2]


def test_gopher_flags_rules(spark):
    good = "the cat sat on a mat and that dog ran off with the red ball " \
           "to be near all of them today"
    df = spark.createDataFrame(
        [(1, good),
         (2, "short text"),                       # < 10 tokens
         (3, " ".join(["spam"] * 50))],           # repetition, no stopwords
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in df.select(
        "doc_id", text.gopher_flags("text").alias("g")).select(
        "doc_id", "g.*").collect()}
    assert got[1]["keep"]
    assert not got[2]["ok_tokens"] and not got[2]["keep"]
    assert not got[3]["ok_unique"] and not got[3]["ok_stopwords"]


def test_global_running_offset_matches_serial_cumsum(spark):
    from snowflake_data_pipeline_demo_spark.operators import packing

    rows = [(i, (i * 7) % 13 + 1) for i in range(200)]
    df = spark.createDataFrame(rows, "k long, v long").repartition(8)
    got = {
        r["k"]: r["offset"]
        for r in packing.global_running_offset(df, ["k"], "v").collect()
    }
    acc = 0
    for k, v in rows:  # already in k order
        assert got[k] == acc, f"k={k}"
        acc += v


def test_pack_sequences_boundaries(spark):
    from snowflake_data_pipeline_demo_spark.operators import packing

    chunks = spark.createDataFrame(
        [(1, 0, 32), (1, 1, 32), (2, 0, 32), (2, 1, 10)],
        "doc_id long, chunk_id long, n_chunk_tokens long")
    got = {(r["doc_id"], r["chunk_id"]): r
           for r in packing.pack_sequences(chunks, seq_len=64).collect()}
    assert got[(1, 0)]["pack_id"] == 0 and got[(1, 0)]["pack_offset"] == 0
    assert got[(1, 1)]["pack_offset"] == 32 and not got[(1, 1)]["spans_packs"]
    assert got[(2, 0)]["pack_id"] == 1 and got[(2, 0)]["pack_offset"] == 0
    assert got[(2, 1)]["pack_offset"] == 32


def test_asof_join_matches_pandas_merge_asof(spark):
    """Independent reference: pandas.merge_asof on a seeded random
    event set must agree exactly (inclusive direction='backward' is the
    same contract)."""
    import random

    import pandas as pd

    rng = random.Random(7)
    base = 1_700_000_000
    left = sorted(
        (rng.randrange(5), base + rng.randrange(100_000))
        for _ in range(300)
    )
    right = sorted(
        (rng.randrange(5), base + rng.randrange(100_000), rng.random())
        for _ in range(300)
    )
    lpdf = pd.DataFrame(left, columns=["user_id", "epoch"])
    lpdf["ts"] = pd.to_datetime(lpdf["epoch"], unit="s")
    lpdf["lid"] = range(len(lpdf))
    rpdf = pd.DataFrame(right, columns=["user_id", "epoch", "value"])
    rpdf["ts"] = pd.to_datetime(rpdf["epoch"], unit="s")
    expected = pd.merge_asof(
        lpdf.sort_values("ts", kind="stable"),
        rpdf.drop(columns=["epoch"]).sort_values("ts", kind="stable"),
        on="ts", by="user_id", direction="backward",
    ).set_index("lid")["value"]

    ldf = spark.createDataFrame(lpdf[["user_id", "ts", "lid"]])
    rdf = spark.createDataFrame(rpdf[["user_id", "ts", "value"]])
    got = {
        r["lid"]: r["value_asof"]
        for r in joins.asof_join(ldf, rdf, keys=["user_id"],
                                 right_cols=["value"]).collect()
    }
    for lid, exp in expected.items():
        g = got[lid]
        assert (pd.isna(exp) and g is None) or g == exp, lid


def test_fake_decode_resize_geometry(spark):
    from snowflake_data_pipeline_demo_spark.operators import multimodal

    # blob of 32 bytes -> fake image 16 rows x 2 cols; resized 8x8:
    # y_src = y*2, x_src = x*2//8 = x//4 -> pixel = buf[y*2*2 + x//4]
    blob = bytes(range(32))
    df = spark.createDataFrame([(1, blob), (2, b""), (3, b"abc")],
                               "doc_id long, payload binary")
    got = {(r["doc_id"], r["y"], r["x"]): r["pixel"]
           for r in multimodal.fake_decode_resize(df).collect()}
    assert len(got) == 3 * 64
    for y in range(8):
        for x in range(8):
            assert got[(1, y, x)] == (y * 2) * 2 + (x * 2) // 8
    # empty blob -> all zeros; short blob: w=1, rows beyond len pad 0
    assert all(got[(2, y, x)] == 0 for y in range(8) for x in range(8))
    assert got[(3, 0, 0)] == ord("a") and got[(3, 7, 0)] == 0


def test_asof_join_forward_matches_pandas(spark):
    """direction='forward' against pandas.merge_asof on the same seeded
    random events as the backward test."""
    import random

    import pandas as pd

    rng = random.Random(11)
    base = 1_700_000_000
    left = sorted((rng.randrange(5), base + rng.randrange(100_000))
                  for _ in range(200))
    right = sorted((rng.randrange(5), base + rng.randrange(100_000),
                    rng.random()) for _ in range(200))
    lpdf = pd.DataFrame(left, columns=["user_id", "epoch"])
    lpdf["ts"] = pd.to_datetime(lpdf["epoch"], unit="s")
    lpdf["lid"] = range(len(lpdf))
    rpdf = pd.DataFrame(right, columns=["user_id", "epoch", "value"])
    rpdf["ts"] = pd.to_datetime(rpdf["epoch"], unit="s")
    expected = pd.merge_asof(
        lpdf.sort_values("ts", kind="stable"),
        rpdf.drop(columns=["epoch"]).sort_values("ts", kind="stable"),
        on="ts", by="user_id", direction="forward",
    ).set_index("lid")["value"]

    ldf = spark.createDataFrame(lpdf[["user_id", "ts", "lid"]])
    rdf = spark.createDataFrame(rpdf[["user_id", "ts", "value"]])
    got = {
        r["lid"]: r["value_asof"]
        for r in joins.asof_join(ldf, rdf, keys=["user_id"],
                                 right_cols=["value"],
                                 direction="forward").collect()
    }
    for lid, exp in expected.items():
        g = got[lid]
        assert (pd.isna(exp) and g is None) or g == exp, lid


def test_weighted_mixture_rates_and_drops(spark):
    from snowflake_data_pipeline_demo_spark.operators import sampling

    df = spark.createDataFrame(
        [(i, "keep_all" if i % 3 == 0 else
          "half" if i % 3 == 1 else "unlisted") for i in range(600)],
        "doc_id long, source string")
    out = sampling.weighted_mixture(df, {"keep_all": 1.0, "half": 0.5})
    counts = {r["source"]: r["n"] for r in
              out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts["keep_all"] == 200          # rate 1.0 keeps everything
    assert 60 <= counts.get("half", 0) <= 140  # ~50% by id hash
    assert "unlisted" not in counts            # absent source = dropped
    # deterministic: second evaluation identical
    again = {r["source"]: r["n"] for r in
             sampling.weighted_mixture(df, {"keep_all": 1.0, "half": 0.5})
             .groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert again == counts


def test_demo_curation_runs_end_to_end(spark, monkeypatch, capsys):
    """The curation run-book executes against sf0.001 (smoke: funnel
    counts monotone, chunks/packs/splits printed)."""
    import sys as _sys

    import demo_curation

    monkeypatch.setattr(_sys, "argv", ["demo_curation.py",
                                       "/root/testdata/sf0.001"])
    demo_curation.main()
    out = capsys.readouterr().out
    assert "curation funnel" in out
    assert "packed 64-token sequences" in out
    assert "train" in out
    # r09 boilerplate-winnow stage: the demo's inline asserts verify
    # uncapped == C(n,2) (footer saturates the join) and capped < that
    assert "winnow overlap under boilerplate" in out
    # r10 salted-join stage: the demo's inline assert verifies the
    # salted and plain arms checksum-equal (skew.salted_join in
    # production shape)
    assert "arms checksum-equal" in out


def test_asof_join_ignores_null_right_timestamps(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:00:00"))], "user_id long, ts timestamp")
    right = spark.createDataFrame(
        [(1, None, 9.0)], "user_id long, ts timestamp, value double")
    row = joins.asof_join(left, right, keys=["user_id"],
                          right_cols=["value"]).collect()[0]
    # a null-ts right row is not a match — no phantom value carry
    assert row["value_asof"] is None and row["ts_asof"] is None


def test_incremental_neardup_history_ids_larger_than_batch(spark):
    """History membership matters, not id ordering: a new doc must be
    flagged against a history doc with a LARGER id."""
    from snowflake_data_pipeline_demo_spark.operators import dedup

    text = "the quick brown fox jumps over the lazy dog tonight again"
    hist_docs = spark.createDataFrame(
        [(900, text)], "doc_id long, text string")
    new_docs = spark.createDataFrame(
        [(450, text + " ok"), (451, "completely different words entirely "
                                    "about nothing shared at all here")],
        "doc_id long, text string")
    hist = dedup.minhash_signatures(hist_docs, num_hashes=16)
    new = dedup.minhash_signatures(new_docs, num_hashes=16)
    got = {r["doc_id"]: r["dup_of"]
           for r in dedup.incremental_neardup(new, hist,
                                              threshold=0.3).collect()}
    assert got.get(450) == 900
    assert 451 not in got


def test_compact_partitioned_table(spark, tmp_path):
    from pyspark.sql import types as T

    from snowflake_data_pipeline_demo_spark.sources.catalog import Table

    schema = T.StructType([
        T.StructField("day", T.StringType()), T.StructField("v", T.LongType()),
    ])
    t = Table(spark, str(tmp_path / "pt"), schema, partition_by=["day"])
    for i in range(4):  # 4 appends x 2 days -> >= 8 files
        spark.createDataFrame([("d1", i), ("d2", i * 10)], schema).coalesce(1) \
            .write.mode("append").partitionBy("day").parquet(t.path)
    before = sorted(map(tuple, t.read().collect()))
    assert len(t.data_files()) >= 8
    stats = t.compact(target_file_bytes=1 << 30)
    # per-directory floor: one file per partition value
    assert stats["files_after"] == 2
    assert sorted(map(tuple, t.read().collect())) == before
