"""Degenerate-input sweep: every text / dedup / chunking / packing /
sampling operator must survive documents drawn from the degenerate
classes {empty, whitespace-only, single token, single char,
unicode-only, punctuation-only, separator-only}.

Why this harness exists: Spark's ``sequence(1, 0)`` DESCENDS (returns
``[1, 0]``, not an empty array), so any bigram/shingle/window transform
written as ``sequence(1, size - 1)`` indexes past the array end for
short docs and throws INVALID_ARRAY_INDEX_IN_ELEMENT_AT. The repo
documented that hazard (shingles, repetition_metrics, bpe_train) and
round 5 still re-introduced it in ``distinct_tokens_hll`` — fixture
luck hid it because no sf0.01 document tokenizes to a single token.
Prose rules don't hold; this sweep does.

Each case below is one operator entry point called over the same
degenerate corpus; the assertion is "executes and collects" plus cheap
sanity on row counts where the semantics pin one.
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from snowflake_data_pipeline_demo_spark.operators import (
    chunking,
    curation,
    decontam,
    dedup,
    packing,
    sampling,
    similarity,
    text as T,
)

# one doc per degenerate class, plus two normal docs so group-level
# operators (vocab, classifiers, quotas) have real content to chew on
_DEGENERATE_ROWS = [
    (1, "", "s0"),                            # empty
    (2, "   ", "s0"),                         # whitespace-only
    (3, "single", "s0"),                      # one token
    (4, "x", "s1"),                           # one char
    (5, "日本語のテキスト", "s1"),  # unicode-only (no ascii tokens)
    (6, "\n\n", "s1"),                        # separator-only
    (7, "!!!???", "s2"),                      # punctuation-only
    (8, "a b", "s2"),                         # exactly two tokens
    (9, "normal document with several tokens in this row here", "s2"),
    (10, "another plain document with overlapping tokens in this row", "s2"),
    (11, None, "s0"),                         # NULL text (failed fetch)
]


@pytest.fixture(scope="module")
def ddocs(spark):
    return spark.createDataFrame(
        _DEGENERATE_ROWS, "doc_id long, text string, source string"
    ).cache()


# ---- column-level text expressions: one job over all of them -------------

_COLUMN_FNS = {
    "normalize": T.normalize,
    "tokens": T.tokens,
    "token_count": T.token_count,
    "bpe_ish_token_count": T.bpe_ish_token_count,
    "stopword_ratio": T.stopword_ratio,
    "lang_id": T.lang_id,
    "punct_ratio": T.punct_ratio,
    "mean_word_len": T.mean_word_len,
    "quality_score": T.quality_score,
    "gopher_flags": T.gopher_flags,
    "content_fingerprint": T.content_fingerprint,
    # encoding_quality returns a LIST of named columns
    "encoding_quality": lambda c: F.struct(*T.encoding_quality(c)),
    "rolling_hash": T.rolling_hash,
    "shingles": dedup.shingles,
    "simhash16": dedup.simhash16,
}


def test_column_expressions_survive_degenerate_docs(spark, ddocs):
    out = ddocs.select(
        "doc_id",
        *[fn("text").alias(name) for name, fn in _COLUMN_FNS.items()],
    ).collect()
    assert len(out) == len(_DEGENERATE_ROWS)


# ---- frame-level operators ----------------------------------------------

def _eval_docs(spark):
    return spark.createDataFrame(
        [(100, "normal document with several tokens"), (101, ""), (102, "x")],
        "doc_id long, text string",
    )


_FRAME_CASES = {
    # text.py
    "tfidf_topk": lambda s, d: T.tfidf_topk(d, k=3),
    "repetition_metrics": lambda s, d: T.repetition_metrics(d),
    "unigram_logprob": lambda s, d: T.unigram_logprob(d),
    "bigram_logprob": lambda s, d: T.bigram_logprob(d),
    "dsir_importance": lambda s, d: T.dsir_importance(d, d.limit(3)),
    "oov_rate": lambda s, d: T.oov_rate(d, vocab_size=5),
    "hashed_classifier_score": lambda s, d: T.hashed_classifier_score(d),
    "bpe_pair_counts": lambda s, d: T.bpe_pair_counts(d, top_k=5),
    "bpe_train": lambda s, d: T.bpe_train(d, n_merges=2),
    "tokens_to_ids": lambda s, d: T.tokens_to_ids(d, vocab_size=8),
    "distinct_tokens_hll": lambda s, d: T.distinct_tokens_hll(d),
    "length_quantiles_sketch": lambda s, d: T.length_quantiles_sketch(
        d.withColumn("n_chars", F.length("text"))
    ),
    # dedup.py
    "exact_dedup_clusters": lambda s, d: dedup.exact_dedup_clusters(d),
    "drop_exact_dups": lambda s, d: dedup.drop_exact_dups(d),
    "exploded_shingles": lambda s, d: dedup.exploded_shingles(d),
    "minhash_signatures": lambda s, d: dedup.minhash_signatures(d),
    "lsh_candidate_pairs": lambda s, d: dedup.lsh_candidate_pairs(
        dedup.minhash_signatures(d)
    ),
    "minhash_jaccard_estimate": lambda s, d: dedup.minhash_jaccard_estimate(
        dedup.minhash_signatures(d),
        dedup.lsh_candidate_pairs(dedup.minhash_signatures(d)),
    ),
    "ngram_jaccard_pairs": lambda s, d: dedup.ngram_jaccard_pairs(d),
    "dup_ngram_coverage": lambda s, d: dedup.dup_ngram_coverage(d),
    "simhash_signatures": lambda s, d: dedup.simhash_signatures(d),
    "neardup_components": lambda s, d: dedup.neardup_components(d),
    "chunk_dedup_reassemble": lambda s, d: dedup.chunk_dedup_reassemble(d),
    "paragraph_dedup": lambda s, d: dedup.paragraph_dedup(d),
    "line_dedup_within_doc": lambda s, d: dedup.line_dedup_within_doc(d),
    "winnow_fingerprints": lambda s, d: T.winnow_fingerprints(d),
    "winnow_overlap_pairs": lambda s, d: T.winnow_overlap_pairs(
        d, min_shared=1
    ),
    "winnow_overlap_max_df": lambda s, d: T.winnow_overlap_pairs(
        d, min_shared=1, max_df=1
    ),
    # chunking / packing
    "chunk_by_tokens": lambda s, d: chunking.chunk_by_tokens(d),
    "shard_by_token_budget": lambda s, d: packing.shard_by_token_budget(
        d, budget=8
    ),
    "pack_sequences": lambda s, d: packing.pack_sequences(
        chunking.chunk_by_tokens(d), seq_len=8
    ),
    "pack_boundaries": lambda s, d: packing.pack_boundaries(
        packing.pack_sequences(chunking.chunk_by_tokens(d), seq_len=8)
    ),
    # sampling
    "deterministic_sample": lambda s, d: sampling.deterministic_sample(d, 0.5),
    "weighted_mixture": lambda s, d: sampling.weighted_mixture(
        d, {"s0": 1.0, "s1": 0.5, "s2": 0.5}
    ),
    "group_quota_topk": lambda s, d: sampling.group_quota_topk(
        d.withColumn("n_chars", F.length("text")), k=2
    ),
    "deterministic_global_shuffle": lambda s, d: (
        sampling.deterministic_global_shuffle(d)
    ),
    "mixture_budget": lambda s, d: sampling.mixture_budget(
        d, {"s0": 0.4, "s1": 0.3, "s2": 0.3}
    ),
    # decontam / curation (eval set itself contains degenerate docs)
    "ngram_contamination": lambda s, d: decontam.ngram_contamination(
        d, _eval_docs(s)
    ),
    "decontaminate": lambda s, d: decontam.decontaminate(d, _eval_docs(s)),
    "contamination_matrix": lambda s, d: decontam.contamination_matrix(
        d, {"e0": _eval_docs(s), "e1": _eval_docs(s).limit(1)}
    ),
    "curation_funnel": lambda s, d: curation.curation_funnel(d, _eval_docs(s)),
    "drop_reasons": lambda s, d: curation.drop_reasons(d, _eval_docs(s)),
    # late-r06 additions
    "collocation_pmi": lambda s, d: T.collocation_pmi(d, min_count=1),
    "classifier_calibration": lambda s, d: T.classifier_calibration(d),
    "langid_confusion": lambda s, d: T.langid_confusion(
        d, lang_col="source"
    ),
    "token_cms_sketches": lambda s, d: T.cms_lookup(
        T.cms_merge(
            T.token_cms_shard_sketches(d, (F.col("doc_id") % 2).cast("long"))
        ),
        d.select(F.explode(T.tokens("text")).alias("tok")).distinct(),
    ),
    "snapshot_diff": lambda s, d: curation.snapshot_diff(d, d.limit(3)),
    "truncate_chars": lambda s, d: chunking.truncate_chars(d, budget=4),
    "cross_source_dup_matrix": lambda s, d: dedup.cross_source_dup_matrix(d),
    "gumbel_topk_resample": lambda s, d: sampling.gumbel_topk_resample(
        T.dsir_importance(d, d.limit(3)), k=5
    ),
    "compression_signals": lambda s, d: T.compression_signals(d),
    "bloom_build_probe": lambda s, d: dedup.bloom_probe(
        d.select("doc_id", T.content_fingerprint("text").alias("fp")),
        dedup.bloom_merge(dedup.bloom_shard_blocks(
            d.select("doc_id", T.content_fingerprint("text").alias("fp")),
            "fp",
        )),
        "fp",
    ),
}


@pytest.mark.parametrize("name", sorted(_FRAME_CASES))
def test_frame_operator_survives_degenerate_docs(spark, ddocs, name):
    out = _FRAME_CASES[name](spark, ddocs)
    rows = out.collect()
    # cheap sanity where semantics pin a count: row-preserving operators
    if name in {"drop_exact_dups"}:
        assert 0 < len(rows) <= len(_DEGENERATE_ROWS)
    elif name in {"exact_dedup_clusters", "paragraph_dedup",
                  "distinct_tokens_hll", "oov_rate"}:
        assert rows  # must not silently drop everything


# ---- embedding operators over degenerate vectors -------------------------
#
# The vector analog of the text sweep: zero-norm vectors (cosine
# divides by zero), near-zero magnitudes, exact-duplicate vectors, and
# all-negative vectors. Real embedding dumps contain zero rows
# (padding, failed encodes); an operator that NaN-crashes or throws on
# them takes down the corpus job the same way the 1-token doc did.

_DIM = 8


@pytest.fixture(scope="module")
def demb(spark):
    rows = [
        (1, [0.0] * _DIM),                          # zero vector
        (2, [1e-30] * _DIM),                        # denormal magnitude
        (3, [1.0] + [0.0] * (_DIM - 1)),            # unit axis
        (4, [1.0] + [0.0] * (_DIM - 1)),            # exact duplicate of 3
        (5, [-1.0] * _DIM),                         # all negative
        (6, [float(i) for i in range(_DIM)]),       # plain
        (7, [float(_DIM - i) for i in range(_DIM)]),
        (8, None),                                  # NULL embedding
        (9, []),                                    # EMPTY array (dim 0):
        # sequence(0, size-1) descends to [0, -1] without a guard — the
        # exact hazard class that crashed embedding_covariance (r06
        # advice); every _EMB_CASES entry must tolerate it.
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).cache()


def _cent(spark):
    return spark.createDataFrame(
        [(0, [1.0] + [0.0] * (_DIM - 1)), (1, [0.0] * (_DIM - 1) + [1.0])],
        "centroid_id long, embedding array<float>",
    )


def _queries_frame(d):
    return d.select(F.col("vec_id").alias("query_id"), "embedding")


def _first(s, d, vec):
    """``d`` in one partition behind a first row ``(0, vec)``."""
    return s.createDataFrame([(0, vec)], d.schema).unionByName(d).coalesce(1)


_EMB_CASES = {
    "cosine_topk": lambda s, d: similarity.cosine_topk(
        d, _queries_frame(d), k=3
    ),
    "lsh_ann_topk": lambda s, d: similarity.lsh_ann_topk(
        d, _queries_frame(d), k=3, planes=4, tables=2
    ),
    # nothing reads the embedding dim off a NULL or short first row
    "lsh_ann_topk_null_first": lambda s, d: similarity.lsh_ann_topk(
        _first(s, d, None), _queries_frame(d), k=3, planes=4, tables=2
    ),
    "lsh_ann_topk_short_first": lambda s, d: similarity.lsh_ann_topk(
        _first(s, d, [1.0, 0.0]), _queries_frame(d), k=3, planes=4, tables=2
    ),
    "ivf_topk": lambda s, d: similarity.ivf_topk(
        d, _queries_frame(d), _cent(s), k=3, nprobe=2
    ),
    "ivf_assign": lambda s, d: similarity.ivf_assign(
        d, _cent(s), with_score=True
    ),
    "semdedup": lambda s, d: dedup.semdedup(d, _cent(s)),
    "embedding_neardup_pairs": lambda s, d: dedup.embedding_neardup_pairs(d),
    "incremental_embedding_neardup": lambda s, d: (
        dedup.incremental_embedding_neardup(
            d.filter(F.col("vec_id") >= 4),
            d.filter(F.col("vec_id") < 4),
            _cent(s),
        )
    ),
    "kmeans_centroids": lambda s, d: similarity.kmeans_centroids(
        d, nlist=2, iters=3, sample=16
    ),
    "embedding_dim_stats": lambda s, d: similarity.embedding_dim_stats(d),
    "embedding_covariance": lambda s, d: similarity.embedding_covariance(d),
    "project_embeddings": lambda s, d: similarity.project_embeddings(
        d, [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    ),
}


@pytest.mark.parametrize("name", sorted(_EMB_CASES))
def test_embedding_operator_survives_degenerate_vectors(spark, demb, name):
    out = _EMB_CASES[name](spark, demb)
    rows = out.collect()
    if name == "kmeans_centroids":
        assert len(rows) == 2  # zero vectors must not collapse training
    if name.startswith("lsh_ann_topk"):
        assert {r["neighbor_id"] for r in rows} - {0}
    if name == "semdedup":
        # zero and empty vectors score 0.0 against every centroid: lowest
        # centroid id, cos 0.0, never a duplicate; NULL rows are dropped
        got = {r["vec_id"]: r for r in rows}
        for i in (1, 9):
            assert (got[i]["centroid_id"], got[i]["centroid_cos"],
                    got[i]["is_kept"]) == (0, 0.0, True)
        assert 8 not in got


def test_kmeans_on_fully_degenerate_corpus_returns_empty(spark):
    """A corpus whose EVERY embedding is NULL or [] has no geometry at
    all: kmeans_centroids must return an empty centroid frame (same
    schema), not crash on a shape-(0,) matrix — the r07 review found
    the mixed-corpus guard introduced exactly that crash on the
    all-degenerate case (np.linalg.norm axis=1 on ndim-1)."""
    d = spark.createDataFrame(
        [(1, None), (2, []), (3, None)],
        "vec_id long, embedding array<float>",
    )
    out = similarity.kmeans_centroids(d, nlist=2, iters=2, sample=8)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == \
        ["centroid_id", "embedding"]
    # ... and the assignment must REFUSE the empty centroid frame
    # loudly. The r07 SECOND review found the kmeans fix had
    # moved the crash downstream (shape-(0,) norm / F.array(*[])
    # analysis error); the THIRD found the zero-row-output fix was
    # worse — it silently dropped 100% of a healthy corpus through
    # semdedup's is_kept filter. Loud beats silent data loss.
    healthy = spark.createDataFrame(
        [(10, [1.0, 0.0, 0.0, 0.0]), (11, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="empty centroid frame"):
        similarity.ivf_assign(healthy, out, with_score=True)
    # the keep/drop consumer with a sound no-clusters semantics keeps
    # EVERYTHING (nothing is a within-cluster duplicate), with NULL
    # cluster metadata — never an empty (all-dropped) result
    kept = dedup.semdedup(healthy, out).collect()
    assert len(kept) == 2
    assert all(r["is_kept"] for r in kept)
    assert all(r["centroid_id"] is None for r in kept)


def test_quantize_zero_vector_contract(spark, demb):
    got = {
        r["vec_id"]: r["qz"]
        for r in demb.select(
            "vec_id", similarity.quantize_int8("embedding").alias("qz")
        ).collect()
    }
    assert got[1]["scale"] == 0.0 and all(v == 0 for v in got[1]["q"])
    assert got[3]["q"][0] == 127


# ---- temporal operators over degenerate event streams ---------------------
#
# NULL timestamps (dropped upstream fields), duplicate (user, ts) rows,
# a single-event user, and an empty partition key. Ordering windows and
# interval arithmetic are where NULL ts either crashes or silently
# produces a phantom session/match.


@pytest.fixture(scope="module")
def devents(spark):
    rows = [
        (1, "u1", "2024-01-01 10:00:00"),
        (2, "u1", "2024-01-01 10:05:00"),
        (3, "u1", None),                      # NULL ts
        (4, "u1", "2024-01-01 10:05:00"),     # exact tie with event 2
        (5, "u2", "2024-01-01 09:00:00"),     # single-event user
        (6, None, "2024-01-01 09:30:00"),     # NULL user key
        (7, "u3", None),                      # all-null-ts user
    ]
    return spark.createDataFrame(
        rows, "event_id long, user_id string, ts_s string"
    ).select(
        "event_id", "user_id", F.col("ts_s").cast("timestamp").alias("ts")
    ).cache()


def test_sessionize_survives_degenerate_events(spark, devents):
    from snowflake_data_pipeline_demo_spark.operators import sessions

    rows = {r["event_id"]: r["session_id"]
            for r in sessions.sessionize(devents).collect()}
    assert len(rows) == 7          # row-preserving
    assert rows[2] == rows[4]      # exact-tie events share a session
    stats = sessions.session_stats(devents).collect()
    assert stats  # aggregates run without a NULL-key crash


def test_asof_join_survives_degenerate_events(spark, devents):
    from snowflake_data_pipeline_demo_spark.operators import joins

    right = devents.select("user_id", "ts", F.lit(1.0).alias("metric"))
    out = joins.asof_join(
        devents, right, ["user_id"], right_cols=["metric"]
    ).collect()
    # left-preserving: every event survives, including NULL-ts/NULL-key
    assert len(out) == 7, sorted(r["event_id"] for r in out)
    by_id = {r["event_id"]: r for r in out}
    # a NULL-ts left row must not fabricate a match timestamp
    assert by_id[3]["ts_asof"] is None
    assert by_id[7]["ts_asof"] is None


def test_range_join_survives_degenerate_events(spark, devents):
    from snowflake_data_pipeline_demo_spark.operators import joins

    iv = spark.createDataFrame(
        [("u1", "2024-01-01 10:00:00", "2024-01-01 10:10:00"),
         ("u2", "2024-01-01 08:00:00", "2024-01-01 08:00:00"),  # zero-width
         ("u3", None, "2024-01-01 10:00:00")],                  # NULL start
        "user_id string, s string, e string",
    ).select(
        "user_id", F.col("s").cast("timestamp").alias("start"),
        F.col("e").cast("timestamp").alias("end"),
    )
    pts = devents.select("user_id", "ts", "event_id")
    out = joins.range_interval_join(iv, pts, ["user_id"]).collect()
    matched = {r["event_id"] for r in out}
    assert {1, 2, 4} <= matched          # real containment matches
    assert 3 not in matched and 7 not in matched  # NULL ts never matches


def test_histogram_quantiles_survive_degenerate_values(spark):
    """Log-bucketed quantile state over the degenerate value classes:
    NULL (missing measurement — ignored, the percentile convention),
    zero (bucket -1 -> reported 0.0), one (the log(1)=0 boundary),
    and a value large enough to stress the bucket-count bound. Plus
    the all-NULL group (no rows survive -> group absent) and the
    empty frame (no output rows, no crash)."""
    vals = [
        (1, None, "s0"),            # NULL length
        (2, 0, "s0"),               # zero-length doc
        (3, 1, "s0"),               # log(1) = 0 boundary
        (4, 1_000_000_000, "s0"),   # bucket ~217 at gamma=1.1
        (5, None, "s1"),            # group whose every value is NULL
    ]
    df = spark.createDataFrame(
        vals, "doc_id long, n_chars long, source string"
    )
    shard = (F.col("doc_id") % 2).cast("long")
    out = T.histogram_merge_quantiles(
        T.length_histogram_shard_sketches(df, shard)
    ).collect()
    assert len(out) == 1 and out[0]["source"] == "s0"  # s1 all-NULL
    row = out[0]
    assert row["n_values"] == 3        # NULL ignored
    assert row["p25"] == 0.0           # first value is the zero doc
    # p99 falls in the top value's bucket: within sqrt(1.1) of 1e9
    assert 1e9 / 1.1 ** 0.5 < row["p99"] <= 1e9 * 1.1 ** 0.5

    empty = T.histogram_merge_quantiles(
        T.length_histogram_shard_sketches(
            df.filter(F.lit(False)), shard
        )
    ).collect()
    assert empty == []
