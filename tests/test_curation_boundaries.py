"""Boundary pins for the r12 curation/decontam rewrites (r12 ADVICE):

- the whole suite exercised only min_hits=2, so the min_hits=1 boundary
  (contaminated_ids' smallest legal value) and the min_hits<=0 spine
  fallback branches had no coverage;
- decontaminate's left_semi -> left_anti rewrite flipped behavior for
  NULL-id rows (semi dropped them, anti keeps them) — pin the intended
  (documented) behavior on both branches;
- the JVM default locale is pinned to en-US on the driver and executor
  JVMs so Spark's String-casing (lower/upper on non-ASCII) matches
  Python's locale-independent str.lower(), which the winnowing kernel
  uses;
- x_stream_minhash_dedup's per-batch input counts skip a NULL doc_id
  (it belongs to no batch) instead of crashing the lane.
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from snowflake_data_pipeline_demo_spark.operators import curation, decontam

_CORPUS_ROWS = [
    (1, "the quick brown fox jumps over the lazy dog", "s0"),
    (2, "the quick brown fox jumps over the lazy dog", "s0"),  # exact dup
    (3, "completely unrelated text with no overlap tokens", "s0"),
    (4, "shares the quick brown fox only once here", "s1"),
    (5, None, "s1"),                                   # NULL text
]

_EVAL_ROWS = [
    (100, "the quick brown fox jumps over the lazy dog", "e"),
]


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(
        _CORPUS_ROWS, "doc_id long, text string, source string"
    )


@pytest.fixture(scope="module")
def eval_docs(spark):
    return spark.createDataFrame(
        _EVAL_ROWS, "doc_id long, text string, source string"
    )


def test_min_hits_one_contaminated_ids_agrees_with_report(
    spark, corpus, eval_docs
):
    """min_hits=1 (the smallest value the spine-free form accepts):
    contaminated_ids must equal ngram_contamination's positive rows."""
    report = decontam.ngram_contamination(
        corpus, eval_docs, min_hits=1
    ).filter("contaminated").select("doc_id")
    ids = decontam.contaminated_ids(corpus, eval_docs, min_hits=1)
    got = sorted(r.doc_id for r in ids.collect())
    want = sorted(r.doc_id for r in report.collect())
    assert got == want and got  # non-empty: docs 1/2/4 share >= 1 gram


def test_min_hits_zero_spine_fallback_all_contaminated(
    spark, corpus, eval_docs
):
    """min_hits<=0 takes the spine form, whose 0 >= min_hits zero-fill
    verdict marks EVERY doc contaminated — decontaminate returns no
    rows, the matrix reports n_contaminated == n_docs, and the funnel's
    post-contamination stages collapse to zero."""
    assert decontam.decontaminate(corpus, eval_docs, min_hits=0).count() == 0
    m = decontam.contamination_matrix(
        corpus, {"e0": eval_docs}, min_hits=0
    ).collect()
    assert len(m) == 1 and m[0].n_contaminated == m[0].n_docs == 5
    f = {r.stage: r.n_docs for r in curation.curation_funnel(
        corpus, eval_docs, min_hits=0
    ).collect()}
    assert f["raw"] == 5
    assert f["decontaminated"] == 0 and f["quality_kept"] == 0
    reasons = {r.doc_id: r.drop_reason for r in curation.drop_reasons(
        corpus, eval_docs, min_hits=0
    ).collect()}
    # every keeper is 'contaminated'; dup of doc 1 still reports first
    assert reasons[2] == "exact_dup"
    assert all(v in ("exact_dup", "contaminated") for v in reasons.values())


def test_contaminated_ids_rejects_min_hits_below_one(corpus, eval_docs):
    with pytest.raises(ValueError, match="min_hits >= 1"):
        decontam.contaminated_ids(corpus, eval_docs, min_hits=0)


def test_decontaminate_null_id_seam_pinned(spark, eval_docs):
    """A corpus row with NULL doc_id: the anti-join form (min_hits>=1)
    KEEPS it regardless of overlap (NULL matches nothing in a
    left-anti join); the min_hits<=0 spine form DROPS it (NULL matches
    nothing in the keep-side semi join either). Documented in
    decontam's module docstring."""
    rows = [
        (None, "the quick brown fox jumps over the lazy dog", "s0"),
        (7, "completely unrelated text with no overlap tokens", "s0"),
    ]
    corpus = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    kept_anti = decontam.decontaminate(corpus, eval_docs, min_hits=1)
    assert sorted(r.doc_id for r in kept_anti.collect()
                  if r.doc_id is not None) == [7]
    assert any(r.doc_id is None for r in kept_anti.collect())
    kept_spine = decontam.decontaminate(corpus, eval_docs, min_hits=0)
    assert kept_spine.count() == 0  # spine drops everything incl. NULL id


def test_jvm_default_locale_pinned_en_us(spark, monkeypatch):
    """session.jvm_opts() composes the locale pin into the driver AND
    executor extraJavaOptions: by default next to G1; a
    SPARK_GRAFT_JVM_OPTS override is appended to the pin, unless it
    sets -Duser.language itself. The live session's options end with
    the composed ones, and its JVM runs en_US whenever they hold the pin."""
    from snowflake_data_pipeline_demo_spark import session

    conf = spark.sparkContext.getConf()
    live = conf.get("spark.driver.extraJavaOptions")
    assert conf.get("spark.executor.extraJavaOptions") == live
    # PySpark prepends its own module flags (--add-opens ...)
    assert live.endswith(session.jvm_opts())
    if session.LOCALE_OPTS in live:
        loc = spark.sparkContext._jvm.java.util.Locale.getDefault()
        assert loc.toString() == "en_US"

    pin = "-Duser.language=en -Duser.country=US"
    monkeypatch.delenv("SPARK_GRAFT_JVM_OPTS", raising=False)
    assert session.jvm_opts() == f"-XX:+UseG1GC {pin}"
    monkeypatch.setenv("SPARK_GRAFT_JVM_OPTS", "-XX:+UseParallelGC")
    assert session.jvm_opts() == f"{pin} -XX:+UseParallelGC"
    own = "-XX:+UseParallelGC -Duser.language=tr -Duser.country=TR"
    monkeypatch.setenv("SPARK_GRAFT_JVM_OPTS", own)
    assert session.jvm_opts() == own


def test_stream_minhash_dedup_skips_null_doc_id(spark, tmp_path):
    """A NULL doc_id belongs to no mod-3 batch: the lane's grouped
    per-batch input count skips its NULL group key (it used to raise
    TypeError in int(None)) and the batches match the non-NULL docs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from snowflake_data_pipeline_demo_spark.plans.queries import QUERIES

    ids = [0, 1, 2, 3, 4, 5, None]
    texts = [f"document {i} about topic {i * 7} with words w{i} x{i} y{i}"
             for i in range(len(ids))]
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                             "text": texts}),
                   tmp_path / "documents.parquet")
    rows = QUERIES["x_stream_minhash_dedup"].builder(
        spark, str(tmp_path)).orderBy("batch_id").collect()
    # batch 1 also re-ingests batch 0's two docs under fresh ids
    assert [(r.batch_id, r.n_in) for r in rows] == [(0, 2), (1, 4), (2, 2)]
    assert rows[1].n_dropped == 2
