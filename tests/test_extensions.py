"""Semantic tests for the training-data-pipeline operators — properties
the DuckDB hash-match can't express: MinHash estimates track exact
Jaccard, LSH ANN recall vs brute force, dedup drops what it should,
multimodal batch shapes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from snowflake_data_pipeline_demo_spark.operators import (
    dedup, multimodal, similarity, text,
)


@pytest.fixture(scope="module")
def docs(spark):
    from snowflake_data_pipeline_demo_spark.sources.testdata import load

    return load(spark, "/root/testdata/sf0.001", "documents").cache()


@pytest.fixture(scope="module")
def emb(spark):
    from snowflake_data_pipeline_demo_spark.sources.testdata import load

    return load(spark, "/root/testdata/sf0.001", "embeddings").cache()


def test_exact_dedup_drops_planted_duplicate(spark, docs):
    dup = docs.limit(1).withColumn("doc_id", F.lit(999_999))
    with_dup = docs.unionByName(dup)
    kept = dedup.drop_exact_dups(with_dup)
    assert kept.count() == docs.count()  # the planted copy is gone
    assert kept.filter("doc_id = 999999").count() == 0  # min-id kept


def test_exact_dedup_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "different")],
        "doc_id long, text string",
    )
    clusters = dedup.exact_dedup_clusters(df)
    assert clusters.count() == 2  # case/whitespace-insensitive
    assert clusters.filter("n_docs = 2").collect()[0]["keep_id"] == 1


def test_minhash_estimate_tracks_exact_jaccard(spark, docs):
    """On pairs where both are defined, |est - exact| should be small on
    average (16 hashes => stderr ~ 1/sqrt(16) = 0.25 per pair, much
    tighter averaged)."""
    sigs = dedup.minhash_signatures(docs, num_hashes=16).cache()
    pairs = dedup.lsh_candidate_pairs(sigs, bands=4)
    est = dedup.minhash_jaccard_estimate(sigs, pairs)
    exact = dedup.ngram_jaccard_pairs(docs, threshold=0.0)
    joined = est.join(exact, ["id_a", "id_b"]).select(
        F.abs(F.col("jaccard_est") - F.col("jaccard")).alias("err")
    )
    n = joined.count()
    assert n > 0, "LSH produced no verifiable candidate pairs"
    mean_err = joined.agg(F.avg("err")).collect()[0][0]
    assert mean_err < 0.3, f"minhash estimate off: mean |err| = {mean_err}"


def test_lsh_ann_recall_vs_bruteforce(spark, emb):
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk(emb, q, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.lsh_ann_topk(emb, q, k=5, planes=4, tables=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    # 4 tables x 4 planes, OR-amplified: a true neighbor collides in at
    # least one table with prob 1-(1-p^4)^4; recall is approximate by
    # design — assert it finds real signal
    assert recall > 0.3, f"LSH ANN recall collapsed: {recall}"
    # and every returned neighbor is a genuine same-bucket cosine match
    assert approx, "LSH returned nothing"


def test_simhash_near_for_near_texts(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the river"),
            (2, "the quick brown fox jumps over the lazy dog near the creek"),
            (3, "completely unrelated words about spark shuffle partitions"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r["sh"] for r in df.select(
        "doc_id", dedup.simhash16("text").alias("sh")).collect()}
    d12 = sum(a != b for a, b in zip(rows[1], rows[2]))
    d13 = sum(a != b for a, b in zip(rows[1], rows[3]))
    assert d12 < d13, f"simhash ordering violated: d12={d12} d13={d13}"


def test_text_quality_and_lang(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and it was a good day for all of us in town"),
            (2, "der hund und die katze ist ein tier von den bergen zu das haus"),
            (3, "zzz"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in df.select(
        "doc_id",
        text.lang_id("text").alias("lang"),
        text.quality_score("text").alias("q"),
        text.token_count("text").alias("n"),
    ).collect()}
    assert out[1]["lang"] == "en"
    assert out[2]["lang"] == "de"
    assert out[3]["lang"] == "und"
    assert out[1]["q"] > out[3]["q"]
    assert out[1]["n"] == 18


def test_multimodal_batch_shapes(spark, docs):
    blobs = multimodal.to_blob_table(docs.limit(20))
    feats = multimodal.byte_histogram_features(blobs)
    rows = feats.collect()
    assert len(rows) == 20 * 16  # exploded (doc_id, bin, value) rows
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r["value"])
    for vals in by_doc.values():
        assert len(vals) == 16
        assert abs(sum(vals) - 1.0) < 1e-3  # normalized histogram
    frames = multimodal.frame_sample(blobs, n_frames=4)
    per_doc = frames.groupBy("doc_id").count().collect()
    assert all(r["count"] == 4 for r in per_doc)


def test_decode_stub_raises(spark):
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(F.lit(b"x"))


def test_components_merge_transitive_neardups(spark):
    """A~B and B~C near-dups (A never directly paired with C) must land
    in one component labeled min(id); the isolated doc keeps itself."""
    base = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away into the deep green forest tonight")
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base + " again"),
            (3, base + " again and again"),
            (10, "completely unrelated text about database engines and "
                 "distributed query processing at scale"),
        ],
        "doc_id long, text string",
    )
    comp = {
        r["doc_id"]: (r["component_id"], r["is_kept"])
        for r in dedup.neardup_components(df, threshold=0.3).collect()
    }
    assert comp[1] == (1, True)
    assert comp[2] == (2, False) or comp[2] == (1, False)
    assert comp[2][0] == 1 and comp[3][0] == 1
    assert comp[10] == (10, True)


def test_ivf_recall_vs_bruteforce(spark, emb):
    """IVF with nprobe=2 of nlist=8 should recover most exact top-5
    neighbors (embeddings are clustered; probing 1/4 of the lists)."""
    cent = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.cosine_topk(emb, q, k=5)
    approx = similarity.ivf_topk(emb, q, cent, k=5, nprobe=2)
    hits = exact.join(approx, ["query_id", "neighbor_id"]).count()
    assert hits / exact.count() >= 0.5


def test_hash_split_deterministic_and_disjoint(spark, docs):
    from snowflake_data_pipeline_demo_spark.operators import sampling

    labeled = docs.select(
        "doc_id", sampling.split_label("doc_id").alias("split")
    )
    counts = {r["split"]: r["n"] for r in
              labeled.groupBy("split").agg(F.count("*").alias("n")).collect()}
    total = sum(counts.values())
    assert total == docs.count()  # exhaustive, disjoint by construction
    assert 0.6 < counts.get("train", 0) / total < 0.95  # ~80%
    # stable across recomputation (no rand() anywhere)
    again = {r["split"]: r["n"] for r in
             labeled.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert counts == again
    # fraction sampling keeps a stable subset
    s1 = sampling.deterministic_sample(docs, 0.5).select("doc_id").collect()
    s2 = sampling.deterministic_sample(docs, 0.5).select("doc_id").collect()
    assert sorted(r["doc_id"] for r in s1) == sorted(r["doc_id"] for r in s2)


def test_quantize_int8_roundtrip_and_zero_guard(spark):
    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    out = df.select(
        "vec_id", similarity.quantize_int8(F.col("embedding")).alias("z")
    ).collect()
    z = {r["vec_id"]: r["z"] for r in out}
    assert z[1]["q"] == [64, -127, 32]  # scale 127/1.0, round(0.5*127)=64
    assert z[1]["scale"] == 127.0
    assert z[2]["q"] == [0, 0, 0] and z[2]["scale"] == 0.0  # no div-by-0


def test_salted_join_matches_plain_join(spark):
    from snowflake_data_pipeline_demo_spark.operators import skew

    # hot key: 90% of fact rows share key 1
    fact = spark.createDataFrame(
        [(i, 1 if i % 10 else 2, f"r{i}") for i in range(1000)],
        "row_id long, k long, payload string",
    )
    dim = spark.createDataFrame(
        [(1, "hot"), (2, "cold"), (3, "unmatched")], "k long, label string"
    )
    plain = fact.join(dim, ["k"]).select("row_id", "label")
    salted = skew.salted_join(fact, dim, ["k"], "row_id", buckets=8) \
        .select("row_id", "label")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_groupby_agg_matches_plain(spark):
    from snowflake_data_pipeline_demo_spark.operators import skew

    df = spark.createDataFrame(
        [(i, 1 if i % 10 else 2, i * 1.5) for i in range(1000)],
        "row_id long, k long, v double",
    )
    plain = {
        r["k"]: (r["n"], r["s"], r["mx"])
        for r in df.groupBy("k").agg(
            F.count("v").alias("n"), F.sum("v").alias("s"), F.max("v").alias("mx")
        ).collect()
    }
    salted = {
        r["k"]: (r["n"], r["s"], r["mx"])
        for r in skew.salted_groupby_agg(
            df, ["k"], "row_id",
            {"n": "count(v)", "s": "sum(v)", "mx": "max(v)"}, buckets=8,
        ).collect()
    }
    assert plain == salted


def test_minhash_families_agree_on_strong_pairs(spark, docs):
    """md5 (oracle) and xxhash64 (production) MinHash are estimators of
    the same Jaccard — pairs with a strong estimate under one family
    should be found by the other (same shingles, independent hashes)."""
    md5_sigs = dedup.minhash_signatures(docs, num_hashes=16).cache()
    xx_sigs = dedup.minhash_signatures(
        docs, num_hashes=16, hash_family="xxhash64").cache()

    def est_map(sigs):
        pairs = dedup.lsh_candidate_pairs(sigs, bands=4)
        est = dedup.minhash_jaccard_estimate(sigs, pairs)
        return {(r["id_a"], r["id_b"]): r["jaccard_est"]
                for r in est.collect()}

    a, b = est_map(md5_sigs), est_map(xx_sigs)
    # candidacy itself is probabilistic (4x4 banding misses a true-0.75
    # pair ~22% of the time per family), so compare the ESTIMATES on
    # pairs both families surfaced: independent 16-hash estimators of
    # the same Jaccard, per-pair stderr ~0.11 => tight mean agreement
    common = set(a) & set(b)
    assert len(common) >= 10
    mean_abs_diff = sum(abs(a[p] - b[p]) for p in common) / len(common)
    assert mean_abs_diff < 0.15


def test_kmeans_centroids_give_usable_ivf_recall(spark, emb):
    """Trained centroids: deterministic across runs, and IVF recall with
    them is at least as good as the arbitrary first-nlist seed set."""
    c1 = similarity.kmeans_centroids(emb, nlist=8)
    c2 = similarity.kmeans_centroids(emb, nlist=8)
    assert sorted(map(tuple, c1.collect())) == sorted(map(tuple, c2.collect()))

    # queries DISJOINT from both centroid seed sets: the naive baseline
    # is the first-8 corpus vectors, and a query that IS a centroid
    # trivially probes its own list (recall 0.86 vs 0.40 fair — the
    # overlap, not index quality, dominated the old q<10 set)
    q = emb.filter(F.col("vec_id").between(100, 109)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.cosine_topk(emb, q, k=5)
    n_exact = exact.count()

    def recall(cent):
        approx = similarity.ivf_topk(emb, q, cent, k=5, nprobe=2)
        return exact.join(approx, ["query_id", "neighbor_id"]).count() / n_exact

    naive = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    r_kmeans, r_naive = recall(c1), recall(naive)
    # nprobe=2 of 8 lists on near-uniform synthetic vectors: ~0.5
    # expected, with spread across testdata regenerations — loose floor,
    # plus trained-centroids-not-worse-than-arbitrary-seeds (fair now
    # that queries overlap neither seed set)
    assert r_kmeans >= 0.4
    assert r_kmeans >= r_naive - 0.05


def test_dedup_paths_under_viral_duplication(spark):
    """The skew case SCALE.md claims the LSH path survives: every doc
    duplicated 8x (shifted ids). Exact dedup finds exactly the original
    clusters; LSH buckets every identical copy-pair as a candidate; the
    component labeling collapses each clique to its min id."""
    from snowflake_data_pipeline_demo_spark.operators import dedup
    from snowflake_data_pipeline_demo_spark.sources import testdata

    base = testdata.load(spark, "/root/testdata/sf0.001", "documents") \
        .select("doc_id", "text").limit(100).cache()
    n = base.count()
    copies = None
    for i in range(8):
        c = base.select(
            (F.col("doc_id") + F.lit(i * 10_000)).alias("doc_id"), "text"
        )
        copies = c if copies is None else copies.union(c)
    copies = copies.cache()

    clusters = dedup.exact_dedup_clusters(copies)
    sizes = [r["n_docs"] for r in clusters.collect()]
    assert len(sizes) == n and all(s == 8 for s in sizes)

    sigs = dedup.minhash_signatures(copies, num_hashes=16).cache()
    pairs = dedup.lsh_candidate_pairs(sigs, bands=4)
    comp = dedup.components_from_pairs(
        copies.select("doc_id"), pairs
    )
    comps = comp.groupBy("component_id").count().collect()
    # identical copies always share all bands, so every 8-clique stays
    # whole: component sizes are multiples of 8 (larger than 8 exactly
    # when ORIGINAL docs were already near-dups of each other and LSH
    # merged their cliques — observed: 97 components for 100 originals),
    # every doc is labeled, and labels are original (minimum) ids
    assert sum(r["count"] for r in comps) == 8 * n
    assert all(r["count"] % 8 == 0 for r in comps)
    assert 0 < len(comps) <= n
    assert all(r["component_id"] < 10_000 for r in comps)


#: adversarial SemDeDup / IVF frame (dim 4) for the exact-agreement
#: tests: each ``[m, t, 0, 0]`` row has cosine exactly ``m`` to
#: ``[1, 0, 0, 0]`` (asserted below), a shortest-repr 4dp midpoint or a
#: tiny negative, where a scaled-binary HALF_UP differs from F.round
_ADV_ROWS = [
    (1, [1.0, 0.5, 0.0, 0.0]),        # 1/2: tied centroid_cos, and their
    (2, [1.0, -0.5, 0.0, 0.0]),       # cosine rounds onto 0.6
    (3, [0.00145, 0.9999989487494475, 0.0, 0.0]),
    (4, [0.59995, 0.8000374975587082, 0.0, 0.0]),
    (5, [0.0018499999999999999, 0.9999982887485358, 0.0, 0.0]),
    (6, [-3e-05, 0.9999999995500001, 0.0, 0.0]),
    (7, [1.0, 0.0, 0.0, 0.0]),        # cosine 0.59995 to row 4
    (8, [0.2, 0.1, 0.9, 0.0]),        # 8/9: duplicate vectors
    (9, [0.2, 0.1, 0.9, 0.0]),
    (10, [0.0, 0.0, 0.0, 0.0]),       # zero vector
    (11, [1.0, 2.0]),                 # 11/12: ragged, equal to each other
    (12, [1.0, 2.0]),
    (13, []),                         # 13/14: empty arrays
    (14, []),
    (15, None),                       # NULL
    (16, [0.0, 0.0, 0.1, 5.0]),       # alone in centroid 2's cluster
    (17, [0.1, 0.0, 1.0, 0.99]),      # >= 0.6 to 16, other cluster
    (18, [1.0, None, 0.0, 0.0]),      # NULL element: cosine 0.0
    (19, [float("nan"), 1.0, 0.0, 0.0]),  # NaN element: cosine NaN
]
_ADV_CENTS = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 0.0, 1.0, 0.0]),
              (2, [0.0, 0.0, 0.0, 1.0])]


def _frames(spark, emb):
    """(corpus, centroids, threshold) cases: the sf0.001 embeddings
    with the x_semdedup set-up, and the adversarial frame at the
    threshold its tied pair lands on and at one that only a Spark-exact
    round of the 0.00145 midpoint reaches."""
    from oracle_utils import cosine_replay

    for i in (3, 4, 5, 6):
        v = dict(_ADV_ROWS)[i]
        assert cosine_replay(v, _ADV_CENTS[0][1]) == v[0]
    cent = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    adv = spark.createDataFrame(_ADV_ROWS, "vec_id long, embedding array<double>")
    adv_cent = spark.createDataFrame(
        _ADV_CENTS, "centroid_id long, embedding array<double>")
    return [(emb, cent, 0.4), (adv, adv_cent, 0.6), (adv, adv_cent, 0.0015)]


def _bits(x: float | None) -> int | str | None:
    """The bit pattern of a double; every NaN reads as one value (its
    payload is not part of Spark's contract) and NULL stays None."""
    import math
    import struct

    if x is None or math.isnan(x):
        return None if x is None else "NaN"
    return struct.unpack("<q", struct.pack("<d", x))[0]


def _with_batch_size(spark, n: int, fn):
    """``fn()`` with Arrow batches of ``n`` records."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        return fn()
    finally:
        spark.conf.set(key, before)


def test_ivf_assign_matches_replay(spark, emb):
    """ivf_assign equals the pure-Python replay exactly: centroid id and
    the bits of the 4dp centroid cosine (midpoints, ties to the lowest
    id, zero/ragged/empty rows and a NULL element at 0.0, a NaN element
    at NaN, no -0.0), on the testdata sample and the adversarial frame,
    also with 2-row Arrow batches."""
    from oracle_utils import ivf_replay

    for corpus, cent, _ in _frames(spark, emb)[:2]:
        def run():
            return {r["vec_id"]: (r["centroid_id"], _bits(r["centroid_cos"]))
                    for r in similarity.ivf_assign(
                        corpus, cent, with_score=True).collect()}
        ref = ivf_replay(
            [(r["vec_id"], r["embedding"]) for r in corpus.collect()],
            [(r["centroid_id"], r["embedding"]) for r in cent.collect()],
        )
        want = {i: (c, _bits(s)) for i, (c, s) in ref.items()}
        assert run() == want
    assert want[18] == (0, _bits(0.0)) and want[19] == (0, "NaN")
    assert _with_batch_size(spark, 2, run) == want


_NAN, _INF = float("nan"), float("inf")
_LSH_ROWS = [
    (1, [1.0, 2.0, 3.0, 4.0]),
    (2, [1.0, 2.0]),                        # shorter than the rest
    (3, []),
    (4, [1.0, -2.0, 3.0, -4.0, 5.0, -6.0]),  # longer than the rest
    (5, [_NAN, 1.0, 0.0, 0.0]),
    (6, [1.0, None, 0.0, 0.0]),             # NULL element
    (7, [_INF, 1.0, 0.0, 0.0]),
    (8, [_INF, -_INF, 0.0, 0.0]),           # NaN where the signs meet
    (9, [0.0, 0.0, 0.0, 0.0]),
    (10, [1e-30, -1e-30, 1e-30, -1e-30]),
    (11, [-1e-30, 0.0, 0.0, 0.0]),
    (12, [1e300, 1e300, -1e300, 1e300]),    # a partial sum overflows
    # cancellation: the fold rounds the 1.0 away, so summing in another
    # order flips bits (one-row BLAS does here, as does a 1024-wide gemm)
    (13, [1e16, 1.0, 1e16]),
    (14, [1.0] + [0.0] * 1020 + [1e16, 1e16, 0.0]),
]


def test_lsh_signer_matches_replay_and_oracle(spark):
    """lsh_signer equals the pure-Python left-fold replay and the lane
    oracle's DuckDB signature CTE bit for bit on the adversarial frame
    (ragged, empty, NaN, inf, NULL element, zero, tiny, overflowing and
    cancelling rows), also with 2-row Arrow batches; a NULL row signs
    to NULL."""
    import math

    import duckdb
    import pyarrow as pa
    from oracle_utils import lsh_replay

    from snowflake_data_pipeline_demo_spark.plans.queries_ext import (
        _lsh_sig_sql,
    )

    planes, tables = 4, 2
    want = {i: lsh_replay(v, planes, tables) for i, v in _LSH_ROWS}
    assert want[2] == ["1100", "1110"] and want[3] == ["1111", "1111"]
    assert want[5] == ["1111", "1111"] and want[6] == ["0000", "0000"]
    for i in (13, 14):  # the left fold's sign is not the exact one
        v = dict(_LSH_ROWS)[i]
        exact = ["".join(
            "1" if math.fsum(x * h for x, h in zip(
                v, similarity._plane_signs(p, len(v)))) >= 0 else "0"
            for p in range(t * planes, (t + 1) * planes)) for t in range(tables)]
        assert exact != want[i]

    con = duckdb.connect()
    con.register("embeddings", pa.table({
        "vec_id": [i for i, _ in _LSH_ROWS],
        "embedding": pa.array([v for _, v in _LSH_ROWS], pa.list_(pa.float64())),
    }))
    oracle: dict = {}
    for i, t, bucket in sorted(con.execute(
            f"SELECT vec_id, t, bucket FROM ({_lsh_sig_sql(planes, tables)})").fetchall()):
        oracle.setdefault(i, []).append(bucket)
    assert oracle == want

    # one partition, so the batches (all rows; then pairs) are fixed
    frame = spark.createDataFrame(
        _LSH_ROWS + [(15, None)], "vec_id long, embedding array<double>",
    ).coalesce(1)
    sign = similarity.lsh_signer(planes, tables)

    def run():
        return {r["vec_id"]: r["sig"] for r in frame.select(
            "vec_id", sign("embedding").alias("sig")).collect()}

    assert run() == {**want, 15: None}
    assert _with_batch_size(spark, 2, run) == {**want, 15: None}


def test_vectors_norm_overflows_to_inf_silently():
    """A squared element above ~1e154 overflows the norm fold to inf
    without a RuntimeWarning, as Spark's double arithmetic does."""
    import warnings

    import pyarrow as pa

    arr = pa.array([[1e300, 1e300, -1e300, 1e300]], pa.list_(pa.float64()))
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        v = similarity._Vectors.of(arr)
    assert v.norm.tolist() == [float("inf")]


# ---------------------------------------------------------------------------
# large-star/small-star components (round 4)
# ---------------------------------------------------------------------------

def test_bigstar_matches_propagation_on_testdata(spark, docs):
    """Both component algorithms must produce identical labels on the
    sf0.001 near-dup pair graph."""
    sigs = dedup.minhash_signatures(docs, num_hashes=16).cache()
    pairs = dedup.lsh_candidate_pairs(sigs, bands=4).cache()
    ids = docs.select("doc_id")
    a = {r["doc_id"]: r["component_id"]
         for r in dedup.components_from_pairs(ids, pairs).collect()}
    b = {r["doc_id"]: r["component_id"]
         for r in dedup.components_from_pairs(
             ids, pairs, algorithm="bigstar").collect()}
    pairs.unpersist(); sigs.unpersist()
    assert a == b


def test_bigstar_converges_in_log_rounds_on_chain(spark):
    """A 64-node path graph has diameter 63: min-label propagation
    cannot finish in 8 rounds, while large-star/small-star converges in
    O(log n) rounds — the whole point of the swap (Kiveris et al.)."""
    n = 64
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    big = dedup.components_from_pairs(
        ids, pairs, max_iter=10, algorithm="bigstar"
    )
    assert {r["component_id"] for r in big.collect()} == {0}
    prop = dedup.components_from_pairs(ids, pairs, max_iter=8,
                                       on_exhausted="ignore")
    # propagation moves labels <= 8 hops/8 rounds: node 63 cannot see 0
    assert {r["component_id"] for r in prop.collect()} != {0}


def test_propagation_exhaustion_is_loud_or_escalates(spark):
    """r10 contract (r09 verdict item 2): exhausting max_iter with
    labels still changing must never return silently-wrong labels.
    Default = escalate (finish with bigstar on the contracted graph —
    labels correct, stats says so); on_exhausted='raise' is the loud
    stop; 'ignore' is the measurement-harness opt-out. Chain fixture:
    a 64-node path at 8 rounds is guaranteed unconverged (diameter
    63), the exact shape the r09 diameter stress proved dangerous."""
    n = 64
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    # default (escalate): labels CORRECT despite the tiny cap
    st: dict = {}
    out = dedup.components_from_pairs(ids, pairs, max_iter=8, stats=st)
    assert {r["component_id"] for r in out.collect()} == {0}
    assert st["escalated"] and st["converged"] and st["rounds"] > 8
    # raise: loud stop naming the escape hatches
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.components_from_pairs(ids, pairs, max_iter=8,
                                    on_exhausted="raise").collect()
    # ignore: the pre-r10 behavior, explicitly opted into
    st = {}
    part = dedup.components_from_pairs(ids, pairs, max_iter=8,
                                       on_exhausted="ignore", stats=st)
    assert not st["converged"] and not st["escalated"]
    assert {r["component_id"] for r in part.collect()} != {0}
    # a converged run never escalates and reports so
    st = {}
    conv = dedup.components_from_pairs(ids, pairs, max_iter=n + 2,
                                       stats=st)
    assert {r["component_id"] for r in conv.collect()} == {0}
    assert st["converged"] and not st["escalated"]
    # max_iter=0 (zero propagation budget): the identity labels leave
    # the contraction = the original graph, and the escalate default
    # degrades to a pure bigstar solve — still correct, never silent
    st = {}
    zero = dedup.components_from_pairs(ids, pairs, max_iter=0, stats=st)
    assert {r["component_id"] for r in zero.collect()} == {0}
    assert st["escalated"] and st["converged"]
    with pytest.raises(ValueError, match="on_exhausted"):
        dedup.components_from_pairs(ids, pairs, on_exhausted="bogus")
    # r10 ADVICE: the knob is validated BEFORE the algorithm dispatch,
    # so a typo is loud on the bigstar path too (it used to be
    # silently accepted there)
    with pytest.raises(ValueError, match="on_exhausted"):
        dedup.components_from_pairs(ids, pairs, algorithm="bigstar",
                                    on_exhausted="bogus")


def test_components_stats_report_rounds_and_convergence(spark):
    """The r09 stats hook: both algorithms report how many rounds they
    ran and whether they converged, so scale runs can MEASURE the
    diameter-vs-log^2 contract (scripts/components_scale_run.py)
    instead of inferring it from label correctness."""
    n = 16
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    st: dict = {}
    dedup.components_from_pairs(ids, pairs, max_iter=30,
                                stats=st).collect()
    # propagation needs diameter rounds + 1 no-change confirmation
    assert st == {"rounds": n, "converged": True, "escalated": False}
    st = {}
    dedup.components_from_pairs(ids, pairs, max_iter=4,
                                on_exhausted="ignore", stats=st).collect()
    assert st == {"rounds": 4, "converged": False, "escalated": False}
    st = {}
    out = dedup.components_from_pairs(
        ids, pairs, max_iter=30, algorithm="bigstar", stats=st
    )
    assert {r["component_id"] for r in out.collect()} == {0}
    assert st["converged"] and 0 < st["rounds"] < n
    # r10 ADVICE: uniform stats shape — bigstar reports escalated too
    # (always False; only propagation can escalate), so callers index
    # st["escalated"] under either algorithm without .get() guards
    assert st["escalated"] is False


def test_bigstar_isolated_and_multi_component(spark):
    ids = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 7, 8, 42)], "doc_id long"
    )
    pairs = spark.createDataFrame(
        [(2, 1), (3, 2), (8, 7)], "id_a long, id_b long"
    )
    got = {r["doc_id"]: r["component_id"]
           for r in dedup.components_from_pairs(
               ids, pairs, algorithm="bigstar").collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 42: 42}


# ---------------------------------------------------------------------------
# repetition metrics production twin (round 4)
# ---------------------------------------------------------------------------

def test_repetition_agg_matches_array_form(spark, docs):
    """The codegen (posexplode+lead+groupBy) operator must reproduce the
    per-doc n-gram arrays of the pure-Python replay exactly, including
    empty/null/short-doc edges."""
    from oracle_utils import repetition_replay

    edge = spark.createDataFrame(
        [(9001, None), (9002, ""), (9003, "..!!.."), (9004, "one"),
         (9005, "a b"), (9006, "x x x x x")],
        "doc_id long, text string",
    )
    df = docs.select("doc_id", "text").unionByName(edge)
    a = {r["doc_id"]: repetition_replay(r["text"]) for r in df.collect()}
    b = {r["doc_id"]: (r["dup_unigram_frac"], r["dup_bigram_frac"],
                       r["dup_trigram_frac"])
         for r in text.repetition_metrics(df).collect()}
    assert a == b
    # sanity on the planted degenerate doc: all-repeat unigrams
    assert b[9006][0] == 0.8


def test_lazy_plan_construction(spark, docs, emb):
    """tfidf_topk / unigram_logprob / secure_trips_view / lsh_ann_topk
    must not run any Spark job while the plan is being BUILT (scalar
    subqueries replaced the former count()/first()/collect() at
    construction; LSH signs each row on its own length, so it needs no
    embedding-dim probe)."""
    from snowflake_data_pipeline_demo_spark.plans.citibike import (
        security_fixture,
    )
    sc = spark.sparkContext
    region = spark.createDataFrame(
        [(0, "AMERICA"), (2, "ASIA")], "r_regionkey long, r_name string"
    )
    group = "lazy-build-check"
    sc.setJobGroup(group, "plan construction must be lazy")
    try:
        text.tfidf_topk(docs)
        text.unigram_logprob(docs)
        security_fixture(spark, region)
        similarity.lsh_ann_topk(emb, emb.select(
            F.col("vec_id").alias("query_id"), "embedding"))
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setJobGroup(None, None)
    assert list(jobs) == []


# ---------------------------------------------------------------------------
# DSIR importance + duplicated n-gram coverage (round 4)
# ---------------------------------------------------------------------------

def test_dsir_importance_ranks_target_like_docs_higher(spark):
    """Docs from the target-like domain must outscore off-domain docs
    under the target-vs-source unigram log-ratio."""
    legal = "the court finds the defendant liable under the statute of "
    chat = "lol ok cool see you later tonight maybe idk haha "
    rows = (
        [(i, legal * 3) for i in range(10)]          # target-like
        + [(100 + i, chat * 3) for i in range(10)]    # off-domain
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    target = spark.createDataFrame(
        [(1000 + i, legal * 2) for i in range(5)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["importance"]
           for r in text.dsir_importance(df, target).collect()}
    legal_scores = [got[i] for i in range(10)]
    chat_scores = [got[100 + i] for i in range(10)]
    assert min(legal_scores) > max(chat_scores)


def test_dup_ngram_coverage_planted_span(spark):
    """A 5-gram span shared by two docs is counted for both; a doc with
    all-unique grams scores 0; short docs score 0 over 0 grams."""
    span = "alpha bravo charlie delta echo foxtrot golf"
    df = spark.createDataFrame(
        [
            (1, span + " one extra unique tail here"),
            (2, "prefix words then " + span),
            (3, "completely different content with no shared spans at all ok"),
            (4, "too short"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["n_grams"], r["dup_gram_frac"])
           for r in dedup.dup_ngram_coverage(df, k=5).collect()}
    # span has 7 tokens -> 3 shared 5-grams in each doc
    assert got[1][0] == 8 and abs(got[1][1] - round(3 / 8, 4)) < 1e-9
    assert got[2][0] == 6 and abs(got[2][1] - 0.5) < 1e-9
    assert got[3] == (6, 0.0)
    assert got[4] == (0, 0.0)


def test_semdedup_keeps_farthest_from_centroid(spark):
    """Three near-identical vectors in one cluster: exactly one
    survives, and it is the one least similar to its centroid (the
    paper's keep rule); a lone distinct vector is untouched."""
    base = [1.0, 0.0, 0.0, 0.0]
    tilt = [0.866, 0.5, 0.0, 0.0]    # 30 deg off base: <0.95 vs all three
    near1 = [0.999, 0.0447, 0.0, 0.0]
    near2 = [0.998, 0.0632, 0.0, 0.0]
    other = [0.0, 0.0, 1.0, 0.0]
    emb = spark.createDataFrame(
        [(10, base), (11, near1), (12, near2), (13, tilt), (20, other)],
        "vec_id long, embedding array<double>",
    )
    cent = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 0.0, 1.0, 0.0])],
        "centroid_id long, embedding array<double>",
    )
    out = {r["vec_id"]: r for r in dedup.semdedup(
        emb, cent, threshold=0.95).collect()}
    assert all(r["centroid_id"] == 0 for v, r in out.items() if v != 20)
    # 10/11/12 are mutual dups (pairwise cos >= .95); 13 pairs with
    # none; among the dup trio exactly the lowest-centroid-cos member
    # survives
    group = [out[v] for v in (10, 11, 12)]
    kept = [r for r in group if r["is_kept"]]
    assert len(kept) == 1
    assert kept[0]["centroid_cos"] == min(r["centroid_cos"] for r in group)
    assert out[13]["is_kept"] and out[20]["is_kept"]


def test_semdedup_matches_replay(spark, emb):
    """semdedup equals the pure-Python replay (left-fold cosine,
    Decimal rounding, the keep rule in Spark's NaN ordering) row for
    row: id, centroid id, centroid_cos bits and is_kept; and a cluster
    split across Arrow batches gives the same rows."""
    from oracle_utils import semdedup_replay

    def run(corpus, cent, thr):
        return {r["vec_id"]: (r["centroid_id"], _bits(r["centroid_cos"]),
                              r["is_kept"])
                for r in dedup.semdedup(corpus, cent, threshold=thr).collect()}

    cases = _frames(spark, emb)
    for corpus, cent, thr in cases:
        got = run(corpus, cent, thr)
        ref = semdedup_replay(
            [(r["vec_id"], r["embedding"]) for r in corpus.collect()],
            [(r["centroid_id"], r["embedding"]) for r in cent.collect()],
            thr,
        )
        assert got == {i: (c, _bits(s), k) for i, (c, s, k) in ref.items()}
    # the NaN member ranks last and matches everything, so it is dropped
    assert got[19] == (0, "NaN", False) and got[18][2]
    corpus, cent, thr = cases[-1]
    assert _with_batch_size(spark, 2, lambda: run(corpus, cent, thr)) == got


def test_incremental_embedding_neardup_membership(spark):
    """History matches flag the NEW vec regardless of id ordering
    (membership, not id-comparison); same-batch dups resolve to the
    earlier batch id; cross-cluster twins are (by design) not seen."""
    c0, c1 = [1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]
    hist = spark.createDataFrame(
        [(900, [0.999, 0.0447, 0.0, 0.0]),   # history id > batch ids
         (5, [0.0, 0.999, 0.0447, 0.0])],
        "vec_id long, embedding array<double>",
    )
    batch = spark.createDataFrame(
        [(100, [0.998, 0.0632, 0.0, 0.0]),   # dup of history 900
         (101, [0.9975, 0.0706, 0.0, 0.0]),  # dup of 900 AND of 100
         (102, [0.0, 0.0, 0.0, 1.0])],       # own cluster, clean
        "vec_id long, embedding array<double>",
    )
    cent = spark.createDataFrame(
        [(0, c0), (1, c1), (2, [0.0, 0.0, 0.0, 1.0])],
        "centroid_id long, embedding array<double>",
    )
    got = {r["vec_id"]: r["dup_of"]
           for r in dedup.incremental_embedding_neardup(
               batch, hist, cent, threshold=0.95).collect()}
    assert got[100] == 900      # flagged by the larger history id
    assert got[101] == 100      # min prior id wins: same-batch 100
    assert 102 not in got
    assert 5 not in got and 900 not in got  # history itself never flagged


# ---------------------------------------------------------------------------
# Round-4 operators
# ---------------------------------------------------------------------------

def test_chunk_dedup_removes_repeated_block_keeps_unique(spark):
    # window=2, token counts multiples of 2 so chunks align
    boiler = "legal header boiler plate"     # 2 chunks, shared
    df = spark.createDataFrame(
        [
            (1, boiler + " alpha beta gamma delta"),
            (2, boiler + " epsilon zeta eta theta"),
            (3, boiler),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in dedup.chunk_dedup_reassemble(df, window=2).collect()
    }
    # doc 1 keeps everything (first occurrence of the boilerplate)
    assert out[1]["deduped_text"] == boiler + " alpha beta gamma delta"
    assert out[1]["kept_chunks"] == out[1]["n_chunks"] == 4
    # doc 2 loses the boilerplate, keeps its unique tail
    assert out[2]["deduped_text"] == "epsilon zeta eta theta"
    assert out[2]["kept_chunks"] == 2 and out[2]["n_chunks"] == 4
    # doc 3 is fully boilerplate -> empty but still present
    assert out[3]["kept_chunks"] == 0 and out[3]["deduped_text"] == ""
    assert out[3]["kept_tokens"] == 0


def test_chunk_dedup_within_doc_repetition_collapses(spark):
    df = spark.createDataFrame(
        [(1, "spam ham spam ham spam ham")], "doc_id long, text string"
    )
    row = dedup.chunk_dedup_reassemble(df, window=2).collect()[0]
    assert row["n_chunks"] == 3 and row["kept_chunks"] == 1
    assert row["deduped_text"] == "spam ham"


def test_group_quota_matches_naive_window(spark, docs):
    from pyspark.sql import Window

    from snowflake_data_pipeline_demo_spark.operators import sampling

    got = sampling.group_quota_topk(
        docs.select("source", "doc_id", "n_chars"),
        group_col="source", rank_col="n_chars", k=7, salt_buckets=4,
        mode="salted",
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    want = (
        docs.select("source", "doc_id", "n_chars")
        .withColumn("quota_rank", F.row_number().over(w).cast("long"))
        .filter("quota_rank <= 7")
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    caps = got.groupBy("source").count().collect()
    assert all(r["count"] <= 7 for r in caps)


def test_group_quota_auto_dispatch_switch_point(spark, docs):
    """r10 (r09 verdict ask #4), default flipped r11: mode='auto' is
    the opt-in dispatch for engines without the window group-limit
    rewrite. Below salt_threshold_rows -> the naive single window (one
    Window node); above -> the salted two-phase (two Window nodes).
    The r11 default is the LAZY naive form — on this engine
    InferWindowGroupLimit already two-phases it physically (pinned in
    test_plan_shapes), so auto's eager estimate pass buys nothing
    here. Values identical across all three forms."""
    from snowflake_data_pipeline_demo_spark.operators import sampling

    import contextlib
    import io

    def plan(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    d = docs.select("source", "doc_id", "n_chars")
    naive = sampling.group_quota_topk(d, k=7)  # lazy default
    auto_lo = sampling.group_quota_topk(d, k=7, mode="auto")
    salted = sampling.group_quota_topk(d, k=7, mode="auto",
                                       salt_threshold_rows=0)
    assert plan(naive).count("Window (") == 1
    assert plan(auto_lo).count("Window (") == 1  # hot group << 32M
    assert plan(salted).count("Window (") == 2
    assert sorted(map(tuple, naive.collect())) == sorted(
        map(tuple, salted.collect())
    )
    assert sorted(map(tuple, naive.collect())) == sorted(
        map(tuple, auto_lo.collect())
    )
    with pytest.raises(ValueError, match="unknown mode"):
        sampling.group_quota_topk(d, mode="bogus")


def test_bigram_logprob_rewards_repetition(spark):
    df = spark.createDataFrame(
        [
            (1, "go go go go go go go go"),  # one bigram dominates
            (2, "one two three four five six seven eight"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text.bigram_logprob(df).collect()}
    assert out[1]["n_bigrams"] == 7 and out[2]["n_bigrams"] == 7
    assert out[1]["mean_logprob"] > out[2]["mean_logprob"]


def test_hashed_classifier_deterministic_and_bounded(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "delta")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["score"]
        for r in text.hashed_classifier_score(df).collect()
    }
    assert out[1] == out[2]          # order-invariant (mean over bag)
    assert out[1] != out[3]
    assert all(0.0 < s < 1.0 for s in out.values())


def test_shard_by_token_budget_boundaries(spark, docs):
    from snowflake_data_pipeline_demo_spark.operators import packing

    budget = 500
    rows = sorted(
        packing.shard_by_token_budget(docs, budget=budget).collect(),
        key=lambda r: r["doc_id"],
    )
    run = 0
    for r in rows:
        assert r["token_offset"] == run
        assert r["shard"] == run // budget
        run += r["n_tokens"]
    # balance: every shard but the last holds >= budget - max_doc tokens
    per_shard = {}
    for r in rows:
        per_shard[r["shard"]] = per_shard.get(r["shard"], 0) + r["n_tokens"]
    max_doc = max(r["n_tokens"] for r in rows)
    last = max(per_shard)
    for s, tot in per_shard.items():
        if s != last:
            assert tot >= budget - max_doc
            assert tot <= budget + max_doc


def test_write_token_balanced_shards(spark, docs, tmp_path):
    import os

    from snowflake_data_pipeline_demo_spark.operators import packing

    path = str(tmp_path / "shards")
    assign = packing.write_token_balanced_shards(docs, path, budget=2000)
    shards = {r["shard"] for r in assign.select("shard").distinct().collect()}
    dirs = {
        int(d.split("=")[1])
        for d in os.listdir(path) if d.startswith("shard=")
    }
    assert dirs == shards
    # one file per shard directory (repartition(shard) before partitionBy)
    for d in dirs:
        files = [
            f for f in os.listdir(os.path.join(path, f"shard={d}"))
            if f.endswith(".parquet")
        ]
        assert len(files) == 1, f"shard={d} has {len(files)} files"
    back = spark.read.parquet(path)
    assert back.count() == docs.count()


def test_encoding_quality_signals(spark):
    df = spark.createDataFrame(
        [
            (1, "plain ascii 123"),
            (2, "bad � decode �"),
            (3, "ctrl\x01chars\x02here"),
            (4, "café naïve"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in df.select("doc_id", *text.encoding_quality("text")).collect()
    }
    assert out[2]["replacement_count"] == 2
    assert out[3]["control_count"] == 2
    assert out[1]["replacement_count"] == 0
    assert out[1]["digit_ratio"] == round(3 / 15, 4)
    assert out[4]["non_ascii_ratio"] == round(2 / 10, 4)
    assert out[1]["non_ascii_ratio"] == 0.0
    assert out[5]["ws_ratio"] == 0.0


def test_bpe_pair_counts_crafted(spark):
    df = spark.createDataFrame(
        [(1, "aaab aaab"), (2, "aaab")], "doc_id long, text string"
    )
    rows = {r["pair"]: r for r in text.bpe_pair_counts(df, top_k=10).collect()}
    # 3 tokens "aaab": pairs per token = aa, aa, ab
    assert rows["aa"]["cnt"] == 6 and rows["aa"]["rank"] == 1
    assert rows["ab"]["cnt"] == 3 and rows["ab"]["rank"] == 2
    assert len(rows) == 2


def test_cluster_quota_caps_and_centers(spark, emb):
    from snowflake_data_pipeline_demo_spark.operators import sampling, similarity

    cent = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    assigned = similarity.ivf_assign(emb, cent, with_score=True).select(
        "vec_id", "centroid_id", "centroid_cos"
    )
    out = sampling.group_quota_topk(
        assigned, group_col="centroid_id", rank_col="centroid_cos",
        k=5, id_col="vec_id",
    )
    per = {r["centroid_id"]: r["count"]
           for r in out.groupBy("centroid_id").count().collect()}
    assert all(c <= 5 for c in per.values())
    # each centroid vector is its own cluster's most central member
    firsts = {
        r["centroid_id"]: r["vec_id"]
        for r in out.filter("quota_rank = 1").collect()
    }
    for cid, vid in firsts.items():
        assert cid == vid


def test_length_quantiles_exact_interpolation(spark):
    df = spark.createDataFrame(
        [(i, "s", n) for i, n in enumerate([10, 20, 30, 40])],
        "doc_id long, source string, n_chars long",
    )
    from snowflake_data_pipeline_demo_spark.plans.queries import QUERIES  # noqa: F401

    qs = F.expr("percentile(n_chars, array(0.25D, 0.5D, 0.75D))")
    row = df.groupBy("source").agg(qs.alias("q")).collect()[0]
    assert row["q"] == [17.5, 25.0, 32.5]  # linear interpolation, exact


def test_bpe_train_matches_python_reference(spark):
    # 'aaaa' exercises adjacent-occurrence merging: under merge (a,a)
    # the classic greedy scan gives 'aa aa', never 'aa a a'
    corpus = [
        (1, "low lower lowest low low aaaa aaaa"),
        (2, "newer newest new low aaaa"),
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = [
        (r["merge_rank"], r["pair"], r["cnt"])
        for r in sorted(text.bpe_train(df, n_merges=5).collect())
    ]

    # independent reference: the classic trainer (Sennrich et al.) —
    # overlap-counted pair stats, argmax by (count desc, pair asc),
    # greedy left-to-right i+=2 merge scan
    from collections import Counter

    def apply(syms, x, y):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == x and syms[i + 1] == y:
                out.append(x + y)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    words = Counter(w for _, t in corpus for w in t.lower().split())
    seqs = {w: (list(w), f) for w, (f) in words.items()}
    want = []
    for rank in range(1, 6):
        counts = Counter()
        for syms, f in seqs.values():
            for a, b in zip(syms, syms[1:]):
                counts[f"{a} {b}"] += f
        if not counts:
            break
        pair, cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        want.append((rank, pair, cnt))
        x, y = pair.split(" ")
        seqs = {w: (apply(syms, x, y), f) for w, (syms, f) in seqs.items()}
    assert got == want
    assert any(p == "a a" for _, p, _ in got)  # the adjacency case ran


def test_bpe_merge_fold_handles_adjacent_runs(spark):
    df = spark.createDataFrame(
        [(1, "a a a a"), (2, "a b a a b"), (3, "a")], "id long, seq string"
    )
    out = {
        r["id"]: r["m"]
        for r in df.select(
            "id", text._apply_bpe_merge(F.col("seq"), "a", "a").alias("m")
        ).collect()
    }
    assert out == {1: "aa aa", 2: "a b aa b", 3: "a"}


def test_tokens_to_ids_order_and_oov(spark):
    df = spark.createDataFrame(
        [(1, "aa bb aa cc"), (2, "bb zz")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in text.tokens_to_ids(df, vocab_size=2).collect()}
    # vocab: aa (3 hits) -> 0, bb (2) -> 1; cc/zz -> OOV id 2
    assert out[1]["ids"] == [0, 1, 0, 2]
    assert out[2]["ids"] == [1, 2]
    assert out[1]["n_tokens"] == 4


def test_global_shuffle_is_permutation_and_stable(spark, docs):
    from snowflake_data_pipeline_demo_spark.operators import sampling

    a = sampling.deterministic_global_shuffle(docs).collect()
    n = docs.count()
    ranks = sorted(r["shuffle_rank"] for r in a)
    assert ranks == list(range(n))          # exact permutation
    b = {r["doc_id"]: r["shuffle_rank"]
         for r in sampling.deterministic_global_shuffle(docs).collect()}
    assert all(r["shuffle_rank"] == b[r["doc_id"]] for r in a)  # stable


def test_drop_reasons_first_failing_gate(spark):
    from snowflake_data_pipeline_demo_spark.operators import curation

    eval_docs = spark.createDataFrame(
        [(100, "secret eval question answer pair here today now ok fine")],
        "doc_id long, text string",
    )
    good = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [
            (1, good),
            (2, good),                       # exact dup of 1 -> exact_dup
            (3, "secret eval question answer pair here today now ok fine"
                " plus the extra tail"),      # shares eval 3-grams
            (4, "x y"),                       # too short -> low_quality
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["drop_reason"]
        for r in curation.drop_reasons(
            corpus, eval_docs, min_required=1
        ).collect()
    }
    assert out == {
        1: "kept", 2: "exact_dup", 3: "contaminated", 4: "low_quality"
    }


def test_mixture_budget_solve(spark):
    from snowflake_data_pipeline_demo_spark.operators import sampling

    # sources with 8 and 2 tokens; weights 0.5/0.5 -> n_star = 4 (the
    # 2-token source binds: 2/0.5), takes = 2 and 2, rates 0.25 and 1.0
    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h", "big"),
            (2, "a b", "small"),
        ],
        "doc_id long, text string, source string",
    )
    out = {
        r["source"]: r
        for r in sampling.mixture_budget(
            df, {"big": 0.5, "small": 0.5}
        ).collect()
    }
    assert out["big"]["tokens"] == 8 and out["small"]["tokens"] == 2
    assert out["big"]["take_tokens"] == 2 and out["small"]["take_tokens"] == 2
    assert out["big"]["rate"] == 0.25 and out["small"]["rate"] == 1.0

    # a weight entry whose source is absent from the corpus binds the
    # budget to zero — not silently dropped
    out2 = {
        r["source"]: r
        for r in sampling.mixture_budget(
            df, {"big": 0.5, "missing": 0.5}
        ).collect()
    }
    assert set(out2) == {"big", "missing"}
    assert out2["missing"]["tokens"] == 0
    assert all(r["take_tokens"] == 0 for r in out2.values())
    assert out2["missing"]["rate"] == 0.0


def test_pack_boundaries_cover_every_chunk_once(spark, docs):
    from snowflake_data_pipeline_demo_spark.operators import chunking, packing

    chunks = chunking.chunk_by_tokens(docs, window=32, stride=24)
    packed = packing.pack_sequences(chunks, seq_len=64)
    bounds = packing.pack_boundaries(packed).collect()
    assert sum(r["n_chunks"] for r in bounds) == chunks.count()
    for r in bounds:
        b = r["boundaries"]
        assert b == sorted(b) and len(b) == r["n_chunks"]
        assert all(0 <= x < 64 for x in b)


def test_interleave_rank_cycles_sources(spark):
    from snowflake_data_pipeline_demo_spark.plans.queries import QUERIES

    out = QUERIES["x_interleave_sources"].builder(
        spark, "/root/testdata/sf0.001"
    ).collect()
    n = len(out)
    assert sorted(r["interleave_rank"] for r in out) == list(range(n))
    # within a round, every source appears at most once
    seen: dict = {}
    for r in out:
        key = (r["rr_round"], r["source"])
        assert key not in seen
        seen[key] = True
    # the first R full rounds each cycle through all sources
    by_round: dict = {}
    for r in out:
        by_round.setdefault(r["rr_round"], set()).add(r["source"])
    n_sources = len({r["source"] for r in out})
    full_rounds = [rr for rr, s in by_round.items() if len(s) == n_sources]
    assert 0 in full_rounds  # round 0 always has one doc of every source


def test_ann_recall_report_consistency(spark):
    from snowflake_data_pipeline_demo_spark.plans.queries import QUERIES

    rows = QUERIES["x_ann_recall"].builder(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == 10
    for r in rows:
        assert 0.0 <= r["recall"] <= 1.0
        assert r["n_hit"] <= r["n_exact"] == 5
    # matches the bound the IVF recall test asserts
    mean = sum(r["recall"] for r in rows) / len(rows)
    assert mean >= 0.5


def test_paragraph_dedup_keeps_first_occurrence_original_bytes(spark):
    """Repeated paragraphs survive only at their first corpus-wide
    (doc, position); survivors keep their ORIGINAL characters (casing,
    punctuation) — normalization is used only for the fingerprint."""
    from snowflake_data_pipeline_demo_spark.operators import dedup

    boiler = "COPYRIGHT  2024 Example Corp."
    docs = spark.createDataFrame(
        [
            (1, f"{boiler}\n\nunique alpha text"),
            (2, f"copyright 2024   example corp.\n\nunique beta text"),
            (3, boiler),                      # fully boilerplate
            (4, "unique gamma text\n\n\n\nunique delta text"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in dedup.paragraph_dedup(docs).collect()}
    # doc 1 keeps the boilerplate (first occurrence), original bytes
    assert got[1]["deduped_text"] == f"{boiler}\n\nunique alpha text"
    assert got[1]["n_paragraphs"] == 2 and got[1]["kept_paragraphs"] == 2
    # doc 2's normalized-equal variant is dropped; unique prose survives
    assert got[2]["deduped_text"] == "unique beta text"
    assert got[2]["kept_paragraphs"] == 1
    # doc 3 is fully deduplicated but keeps its row
    assert got[3]["kept_paragraphs"] == 0 and got[3]["deduped_text"] == ""
    # empty paragraphs from repeated separators are not counted
    assert got[4]["n_paragraphs"] == 2 and got[4]["kept_paragraphs"] == 2


def test_paragraph_dedup_separator_is_literal_not_regex(spark):
    """The separator is a LITERAL string on both the split and the
    reassembly side (quoted \\Q..\\E before the regex split) — a sep
    full of regex metachars must round-trip unchanged (r05 advice:
    regex-interpreted split + literal join corrupted deduped_text)."""
    from snowflake_data_pipeline_demo_spark.operators import dedup

    for sep in ("|.*|", "a\\Eb"):  # metachars; embedded quote-closer \E
        docs = spark.createDataFrame(
            [(1, f"first para{sep}second para"),
             (2, f"second para{sep}third para")],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r
               for r in dedup.paragraph_dedup(docs, sep=sep).collect()}
        assert got[1]["n_paragraphs"] == 2, sep
        assert got[1]["deduped_text"] == f"first para{sep}second para", sep
        # doc 2 loses the duplicate "second para", keeps its own bytes
        assert got[2]["deduped_text"] == "third para", sep


def test_paragraph_fixture_twins_agree(spark):
    """x_paragraph_dedup's fixture is maintained twice — _DSYNTH
    (DuckDB SQL) and _synth_paragraph_docs (Spark) — and nothing but
    this test ties them together (r05 advice): a drift in gid formula,
    ordering, or separator would fail the oracle gate for fixture
    reasons rather than operator reasons."""
    from oracle_utils import compare
    from snowflake_data_pipeline_demo_spark.plans.queries_ext import (
        _DSYNTH,
        _synth_paragraph_docs,
    )

    sf = "/root/testdata/sf0.001"
    problems = compare(_synth_paragraph_docs(spark, sf), _DSYNTH, sf)
    assert not problems, problems


def test_distinct_tokens_hll_bounds_and_exact(spark):
    from snowflake_data_pipeline_demo_spark.operators import text as T

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta " + f"tok{i}", "s0") for i in range(50)]
        + [(100 + i, "one two", "s1") for i in range(5)]
        # degenerate docs: single token, empty, whitespace-only — the
        # sequence(1, 0)-descends hazard (r05 judge repro) lived here
        + [(200, "single", "s2"), (201, "", "s2"), (202, "   ", "s2")],
        "doc_id long, text string, source string",
    )
    got = {r["source"]: r for r in T.distinct_tokens_hll(docs).collect()}
    # s0: alpha beta gamma delta + 50 unique toks = 54 distinct tokens;
    # bigrams: 3 shared + (delta tokI) x50 = 53
    assert got["s0"]["exact_tokens"] == 54
    assert got["s0"]["exact_bigrams"] == 53
    assert got["s1"]["exact_tokens"] == 2
    assert got["s1"]["exact_bigrams"] == 1
    # group of only degenerate docs: one token, zero bigrams, no crash
    assert got["s2"]["exact_tokens"] == 1
    assert got["s2"]["exact_bigrams"] == 0
    for r in got.values():
        assert r["tokens_hll_ok"] and r["bigrams_hll_ok"]


def test_shard_ids_dense_when_doc_exceeds_budget(spark):
    """A doc larger than the budget must not leave gaps in shard ids
    (sparse shard=N directories + max(shard)+1 overcounts)."""
    from snowflake_data_pipeline_demo_spark.operators import packing

    docs = spark.createDataFrame(
        [
            (1, "w " * 10),        # 10 tokens
            (2, "w " * 500),       # 500 tokens >> budget
            (3, "w " * 10),
            (4, "w " * 10),
        ],
        "doc_id long, text string",
    )
    rows = sorted(
        packing.shard_by_token_budget(docs, budget=100).collect(),
        key=lambda r: r["doc_id"],
    )
    shards = sorted({r["shard"] for r in rows})
    assert shards == list(range(len(shards))), f"sparse shard ids: {shards}"
    # ordering by token_offset still maps monotonically onto shards
    by_off = sorted(rows, key=lambda r: r["token_offset"])
    assert [r["shard"] for r in by_off] == sorted(r["shard"] for r in rows)


def test_cluster_size_histogram_on_persisted_components(spark, tmp_path):
    """The report builder consumes a PRECOMPUTED components artifact
    (the persisted-table lane): histogram values match the labels, and
    no dedup pipeline runs — the input is just the frame."""
    from snowflake_data_pipeline_demo_spark.operators import dedup

    comp = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 5), (6, 5)],
        "doc_id long, component_id long",
    )
    p = str(tmp_path / "components")
    comp.write.parquet(p)                      # the persisted artifact
    got = {
        r["cluster_size"]: (r["n_clusters"], r["n_docs"])
        for r in dedup.cluster_size_histogram(spark.read.parquet(p)).collect()
    }
    assert got == {3: (1, 3), 1: (1, 1), 2: (1, 2)}


def test_shard_writer_contiguous_dirs_with_oversized_doc(spark, tmp_path):
    """Manifest round-trip with a doc bigger than the budget: shard
    directories stay CONTIGUOUS (no shard=N gaps), the read-back joins
    losslessly to the returned manifest, and every shard's token sum
    stays within budget + the oversized-doc tolerance."""
    import os

    from snowflake_data_pipeline_demo_spark.operators import packing

    docs = spark.createDataFrame(
        [(1, "w " * 50), (2, "w " * 900), (3, "w " * 50), (4, "w " * 60)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "shards")
    assign = packing.write_token_balanced_shards(docs, path, budget=100)
    dirs = sorted(
        int(d.split("=")[1])
        for d in os.listdir(path) if d.startswith("shard=")
    )
    assert dirs == list(range(len(dirs))), f"gapped shard dirs: {dirs}"
    back = spark.read.parquet(path)
    assert back.count() == 4
    # read-back rows agree with the manifest assignment
    got = {
        (r["doc_id"], r["shard"])
        for r in back.select("doc_id", "shard").collect()
    }
    want = {(r["doc_id"], r["shard"]) for r in assign.collect()}
    assert got == want


def test_length_quantiles_sketch_rank_error_bound(spark):
    """percentile_approx honors its rank-error contract: each reported
    quantile's RANK in the group sits within n/accuracy of the target
    rank (checked at accuracy=100 on a 1000-value group, so the bound
    is 10 ranks — tight enough to catch a broken lane, loose enough
    never to flake)."""
    from snowflake_data_pipeline_demo_spark.operators.text import (
        length_quantiles_sketch,
    )

    n = 1000
    vals = [((i * 37) % n) + 1 for i in range(n)]   # permutation of 1..1000
    df = spark.createDataFrame(
        [(v, "g") for v in vals], "n_chars long, source string"
    )
    row = length_quantiles_sketch(
        df, qs=(0.25, 0.5, 0.9), accuracy=100
    ).collect()[0]
    assert row["n_docs"] == n
    s = sorted(vals)
    for q in (0.25, 0.5, 0.9):
        got = row[f"p{int(q * 100)}"]
        # rank of the reported value (values are distinct 1..n)
        rank = s.index(int(got)) + 1
        assert abs(rank - q * n) <= n / 100 + 1, (q, got, rank)


def test_hll_sketches_merge_across_runs(spark, tmp_path):
    """The 'merges across shards/runs' claim as a verified capability
    (r05 verdict ask #5): RUN A sketches half the corpus per shard and
    persists the sketch BYTES to parquet; RUN B reads those bytes back
    — never touching run A's text — sketches the other half, and
    merges. The merged estimate must (a) sit inside the sketch error
    envelope of the exact corpus-wide distinct count and (b) equal the
    single-pass estimate over the full corpus exactly — HLL union at
    equal lgConfigK is lossless over the sketch state, so a byte-level
    persistence bug cannot hide in the tolerance."""
    from pyspark.sql import functions as F

    from snowflake_data_pipeline_demo_spark.operators import text as T

    docs = spark.createDataFrame(
        [(i, f"tok{i % 700} tok{(i * 7) % 700} shared common words", "s0")
         for i in range(400)],
        "doc_id long, text string, source string",
    )
    run_a = docs.filter(F.col("doc_id") % 2 == 0)
    run_b = docs.filter(F.col("doc_id") % 2 == 1)
    shard = (F.col("doc_id") % 4).cast("long")

    # ---- run A: sketch own shard, persist, end ----
    T.token_hll_shard_sketches(run_a, shard).write.parquet(
        str(tmp_path / "run_a")
    )

    # ---- run B: fresh read of persisted bytes + own sketches ----
    merged = T.hll_merge_estimate(
        spark.read.parquet(str(tmp_path / "run_a")).unionByName(
            T.token_hll_shard_sketches(run_b, shard)
        )
    ).collect()[0]["est_tokens"]

    single_pass = T.hll_merge_estimate(
        T.token_hll_shard_sketches(docs, shard)
    ).collect()[0]["est_tokens"]
    exact = docs.select(
        F.explode(T.tokens("text")).alias("t")
    ).agg(F.countDistinct("t")).collect()[0][0]

    assert merged == single_pass, (merged, single_pass)
    # lgConfigK=14 -> rse ~0.81%; 5x envelope
    assert abs(merged - exact) / exact <= 0.0406, (merged, exact)


def test_hll_three_run_chain(spark, tmp_path):
    """A→B→C across TWO persistence boundaries for the HLL member of
    the cross-run state family (r12, completing the family after the
    histogram/covariance chains): run A persists its shard sketches;
    run B reads them back, adds its own, COMPACTS at the state level
    (hll_union_agg returns merged sketch BYTES, not an estimate) and
    persists; run C reads B's compacted state, adds the final third,
    and publishes. HLL union at equal lgConfigK is associative and
    lossless over the sketch state, so the chained estimate must equal
    the single-pass estimate exactly."""
    from pyspark.sql import functions as F

    from snowflake_data_pipeline_demo_spark.operators import text as T

    docs = spark.createDataFrame(
        [(i, f"tok{i % 700} tok{(i * 7) % 700} shared common words", "s0")
         for i in range(400)],
        "doc_id long, text string, source string",
    )
    thirds = [docs.filter(F.col("doc_id") % 3 == k) for k in range(3)]
    shard = (F.col("doc_id") % 4).cast("long")

    T.token_hll_shard_sketches(thirds[0], shard).write.parquet(
        str(tmp_path / "state_a"))
    # run B: read A, add own, compact SKETCH BYTES per (group, shard)
    spark.read.parquet(str(tmp_path / "state_a")).unionByName(
        T.token_hll_shard_sketches(thirds[1], shard)
    ).groupBy("source", "shard").agg(
        F.hll_union_agg("sketch").alias("sketch")
    ).write.parquet(str(tmp_path / "state_ab"))

    chained = T.hll_merge_estimate(
        spark.read.parquet(str(tmp_path / "state_ab")).unionByName(
            T.token_hll_shard_sketches(thirds[2], shard))
    ).collect()[0]["est_tokens"]
    single = T.hll_merge_estimate(
        T.token_hll_shard_sketches(docs, shard)
    ).collect()[0]["est_tokens"]
    assert chained == single, (chained, single)


def test_cms_three_run_chain(spark, docs, tmp_path):
    """A→B→C with two persistence boundaries for the CMS member: run B
    compacts A's counters with its own through cms_merge (exact
    per-(r, bucket) addition, shard column dropped) and persists; run C
    merges the compacted state with its own shard sketches. Counter
    addition is exact and associative — chained == single pass, no
    tolerance."""
    thirds = [docs.filter(F.col("doc_id") % 3 == k) for k in range(3)]
    shard = (F.col("doc_id") % 4).cast("long")

    text.token_cms_shard_sketches(thirds[0], shard).write.parquet(
        str(tmp_path / "state_a"))
    text.cms_merge(
        spark.read.parquet(str(tmp_path / "state_a")).unionByName(
            text.token_cms_shard_sketches(thirds[1], shard),
            allowMissingColumns=True)
    ).write.parquet(str(tmp_path / "state_ab"))

    chained = text.cms_merge(
        spark.read.parquet(str(tmp_path / "state_ab")).unionByName(
            text.token_cms_shard_sketches(thirds[2], shard),
            allowMissingColumns=True))
    single = text.cms_merge(
        text.token_cms_shard_sketches(docs, F.lit(0).cast("long")))
    a = {(r["r"], r["bucket"]): r["cnt"] for r in chained.collect()}
    b = {(r["r"], r["bucket"]): r["cnt"] for r in single.collect()}
    assert a == b


def test_bloom_three_run_chain(spark, tmp_path):
    """A→B→C with two persistence boundaries for the Bloom member:
    run B compacts A's blocks with its own through bloom_merge
    (bit_or per block) and persists; run C merges the compacted state
    with its own blocks. Bit-or is exact and associative — chained ==
    single build."""
    df = _bloom_fixture(spark)
    thirds = [df.filter(F.col("doc_id") % 3 == k) for k in range(3)]

    dedup.bloom_shard_blocks(thirds[0], "fp").write.parquet(
        str(tmp_path / "state_a"))
    dedup.bloom_merge(
        spark.read.parquet(str(tmp_path / "state_a")).unionByName(
            dedup.bloom_shard_blocks(thirds[1], "fp"),
            allowMissingColumns=True)
    ).write.parquet(str(tmp_path / "state_ab"))

    chained = dedup.bloom_merge(
        spark.read.parquet(str(tmp_path / "state_ab")).unionByName(
            dedup.bloom_shard_blocks(thirds[2], "fp"),
            allowMissingColumns=True))
    single = dedup.bloom_merge(dedup.bloom_shard_blocks(df, "fp"))
    a = {r["block"]: r["bits"] for r in chained.collect()}
    b = {r["block"]: r["bits"] for r in single.collect()}
    assert a == b


def test_components_three_run_chain(spark, tmp_path):
    """A→B→C with two persistence boundaries for the components
    member: run A computes and PERSISTS an assignment over its docs;
    run B reads the assignment back, merges its batch (including a
    bridge collapsing two of A's components), persists; run C merges a
    third batch whose pairs bridge into B's merged component. The
    final labels must equal a full recompute over the union graph —
    the property test holds one boundary; this holds the persisted
    lifecycle the day-N run-book actually executes."""
    from snowflake_data_pipeline_demo_spark.operators.dedup import (
        components_from_pairs, merge_components_incremental,
    )

    ids = lambda xs: spark.createDataFrame([(i,) for i in xs], "doc_id long")
    pairs = lambda es: spark.createDataFrame(
        es or [], "id_a long, id_b long")

    # run A: {1,2} and {3,4} separate, 9 singleton
    components_from_pairs(
        ids([1, 2, 3, 4, 9]), pairs([(1, 2), (3, 4)])
    ).write.parquet(str(tmp_path / "assign_a"))

    # run B: doc 5 bridges A's two components
    merge_components_incremental(
        spark.read.parquet(str(tmp_path / "assign_a")),
        ids([5]), pairs([(2, 5), (4, 5)])
    ).write.parquet(str(tmp_path / "assign_ab"))

    # run C: doc 6 joins the merged component via 5; doc 7 isolated
    final = merge_components_incremental(
        spark.read.parquet(str(tmp_path / "assign_ab")),
        ids([6, 7]), pairs([(5, 6)]))
    got = {r["doc_id"]: r["component_id"] for r in final.collect()}
    full = components_from_pairs(
        ids([1, 2, 3, 4, 5, 6, 7, 9]),
        pairs([(1, 2), (3, 4), (2, 5), (4, 5), (5, 6)]))
    want = {r["doc_id"]: r["component_id"] for r in full.collect()}
    assert got == want
    assert got[7] == 7 and got[9] == 9  # isolates stay singleton
    assert len({got[i] for i in (1, 2, 3, 4, 5, 6)}) == 1


@pytest.mark.parametrize("n_shards", [1, 3, 7])
def test_hll_merge_invariant_under_shard_partitioning(spark, docs, n_shards):
    """HLL union is associative and lossless at equal lgConfigK, so the
    merged estimate must be IDENTICAL no matter how the corpus is cut
    into shards — 1, 3, or 7 — and identical to corpus-wide sketching.
    This is the property that makes per-run sketch persistence safe:
    re-sharding history (compaction, backfill) can never change the
    published cardinality."""
    from pyspark.sql import functions as F

    from snowflake_data_pipeline_demo_spark.operators import text as T

    est = {
        r["source"]: r["est_tokens"]
        for r in T.hll_merge_estimate(
            T.token_hll_shard_sketches(
                docs, (F.col("doc_id") % n_shards).cast("long")
            )
        ).collect()
    }
    single = {
        r["source"]: r["est_tokens"]
        for r in T.hll_merge_estimate(
            T.token_hll_shard_sketches(docs, F.lit(0).cast("long"))
        ).collect()
    }
    assert est == single, (n_shards, est, single)


def test_temperature_weights_properties(spark):
    """alpha=1 reproduces proportional weights, alpha=0 uniform over
    sources WITH tokens; zero-token sources get weight 0; weights sum
    to ~1."""
    from snowflake_data_pipeline_demo_spark.operators import sampling

    docs = spark.createDataFrame(
        [(1, "a b c d", "s0"), (2, "a b c d e f g h", "s0"),
         (3, "a b c d", "s1"), (4, "", "s2")],
        "doc_id long, text string, source string",
    )
    prop = {r["source"]: r["weight"]
            for r in sampling.temperature_weights(docs, alpha=1.0).collect()}
    assert prop["s2"] == 0.0
    assert abs(prop["s0"] - 12 / 16) < 1e-3 and abs(prop["s1"] - 4 / 16) < 1e-3
    unif = {r["source"]: r["weight"]
            for r in sampling.temperature_weights(docs, alpha=0.0).collect()}
    assert unif["s0"] == unif["s1"] == 0.5 and unif["s2"] == 0.0
    mid = {r["source"]: r["weight"]
           for r in sampling.temperature_weights(docs, alpha=0.7).collect()}
    # temperature flattens: s1's share rises vs proportional
    assert prop["s1"] < mid["s1"] < unif["s1"] + 1e-9
    assert abs(sum(mid.values()) - 1.0) < 1e-3


def test_histogram_quantiles_merge_across_runs(spark, tmp_path):
    """The quantile twin of the HLL cross-run proof: RUN A histograms
    half the corpus per shard and persists the (group, shard, bucket,
    cnt) rows to parquet; RUN B reads them back — never touching run
    A's values — histograms the other half, and merges. The merged
    quantiles must (a) be IDENTICAL to a single pass over the full
    corpus (bucket-count merging is exact, not approximate, so there
    is no tolerance to hide behind) and (b) sit within the documented
    multiplicative envelope reported/true in (1/sqrt(gamma),
    sqrt(gamma)] of the exact type-1 quantile."""
    import math

    from pyspark.sql import functions as F

    from snowflake_data_pipeline_demo_spark.operators import text as T

    gamma = 1.1
    vals = [0, 0, 1, 3, 7, 12, 25, 60, 140, 333, 900, 2048, 5000,
            12_345, 40_000] * 30
    docs = spark.createDataFrame(
        [(i, v, "s0") for i, v in enumerate(vals)],
        "doc_id long, n_chars long, source string",
    )
    run_a = docs.filter(F.col("doc_id") % 2 == 0)
    run_b = docs.filter(F.col("doc_id") % 2 == 1)
    shard = (F.col("doc_id") % 4).cast("long")

    # ---- run A: histogram own shard, persist, end ----
    T.length_histogram_shard_sketches(run_a, shard, gamma=gamma) \
        .write.parquet(str(tmp_path / "run_a"))

    # ---- run B: fresh read of persisted rows + own histograms ----
    qs = (0.25, 0.5, 0.75, 0.9, 0.99)
    merged = T.histogram_merge_quantiles(
        spark.read.parquet(str(tmp_path / "run_a")).unionByName(
            T.length_histogram_shard_sketches(run_b, shard, gamma=gamma)
        ),
        qs=qs, gamma=gamma,
    ).collect()[0]
    single_pass = T.histogram_merge_quantiles(
        T.length_histogram_shard_sketches(docs, shard, gamma=gamma),
        qs=qs, gamma=gamma,
    ).collect()[0]

    assert merged.asDict() == single_pass.asDict(), (merged, single_pass)
    assert merged["n_values"] == len(vals)

    # exact type-1 quantiles, the definition the envelope is stated for
    ordered = sorted(vals)
    for q in qs:
        true = ordered[math.ceil(q * len(ordered)) - 1]
        got = merged[f"p{int(q * 100)}"]
        if true == 0:
            assert got == 0.0, (q, got)
        else:
            ratio = got / true
            assert 1 / math.sqrt(gamma) < ratio <= math.sqrt(gamma) + 1e-9, (
                q, true, got, ratio)


def test_histogram_quantiles_three_run_chain(spark, tmp_path):
    """A→B→C across TWO persistence boundaries (r11 verdict ask #6):
    run A persists its histogram state; run B reads A's rows back,
    adds its own, COMPACTS (the exact sum-per-bucket merge) and
    persists the combined state; run C reads B's compacted state, adds
    its own third, and publishes quantiles. Bucket-count merging is
    exact and associative, so the chained result must be IDENTICAL to
    a single pass over the full corpus — no tolerance. This is the
    lifecycle a real ingest runs (daily state roll-ups), which the
    two-run tests never crossed a second boundary to prove."""
    from pyspark.sql import functions as F

    from snowflake_data_pipeline_demo_spark.operators import text as T

    gamma = 1.1
    vals = [0, 0, 1, 3, 7, 12, 25, 60, 140, 333, 900, 2048, 5000,
            12_345, 40_000] * 30
    docs = spark.createDataFrame(
        [(i, v, "s0") for i, v in enumerate(vals)],
        "doc_id long, n_chars long, source string",
    )
    thirds = [docs.filter(F.col("doc_id") % 3 == k) for k in range(3)]
    shard = (F.col("doc_id") % 4).cast("long")
    qs = (0.25, 0.5, 0.75, 0.9, 0.99)

    # ---- run A: own state, persist, end ----
    T.length_histogram_shard_sketches(thirds[0], shard, gamma=gamma) \
        .write.parquet(str(tmp_path / "state_a"))

    # ---- run B: read A, add own, COMPACT, persist (2nd boundary) ----
    combined_ab = (
        spark.read.parquet(str(tmp_path / "state_a")).unionByName(
            T.length_histogram_shard_sketches(thirds[1], shard,
                                              gamma=gamma))
        .groupBy("source", "shard", "bucket", "gamma")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    combined_ab.write.parquet(str(tmp_path / "state_ab"))

    # ---- run C: read B's compacted state, add own, publish ----
    chained = T.histogram_merge_quantiles(
        spark.read.parquet(str(tmp_path / "state_ab")).unionByName(
            T.length_histogram_shard_sketches(thirds[2], shard,
                                              gamma=gamma)),
        qs=qs, gamma=gamma,
    ).collect()[0]
    single_pass = T.histogram_merge_quantiles(
        T.length_histogram_shard_sketches(docs, shard, gamma=gamma),
        qs=qs, gamma=gamma,
    ).collect()[0]
    assert chained.asDict() == single_pass.asDict(), (chained, single_pass)
    assert chained["n_values"] == len(vals)


def test_histogram_merge_refuses_mismatched_gamma(spark, tmp_path):
    """Persisted bucket ids are meaningless under any other base, and
    nothing else in the state rows could reveal the mismatch — the
    merge must fail loudly, not publish percentiles silently off by
    gamma^delta. The guard is a lazy assert_true FILTER (a projected
    column would be pruned away by Catalyst), so it must fire through
    a parquet round-trip too."""
    from pyspark.errors import SparkRuntimeException
    from pyspark.sql import functions as F

    from snowflake_data_pipeline_demo_spark.operators import text as T

    df = spark.createDataFrame(
        [(i, 100 + i, "s0") for i in range(20)],
        "doc_id long, n_chars long, source string",
    )
    state = T.length_histogram_shard_sketches(
        df, F.lit(0), gamma=1.05
    )
    state.write.parquet(str(tmp_path / "state"))
    back = spark.read.parquet(str(tmp_path / "state"))

    with pytest.raises(SparkRuntimeException, match="gamma"):
        T.histogram_merge_quantiles(back, gamma=1.1).collect()

    # matching gamma passes through the same guard untouched
    ok = T.histogram_merge_quantiles(back, gamma=1.05).collect()
    assert ok[0]["n_values"] == 20


def test_threshold_sweep_pairwise_semantics(spark):
    """Pin the sweep's documented semantics on a hand-built estimates
    frame: per-threshold pair/doc counts, zero-pair thresholds present
    with 0s, and the chain case where the pairwise keep-smallest rule
    deliberately diverges from connected components — edges (1,3) and
    (2,3): components would drop {2, 3}, the pairwise rule drops only
    {3} (doc 2 has no smaller direct neighbor). The divergence is the
    price of sweeping every threshold in one pass; the docstring owns
    it, this test keeps it honest."""
    from snowflake_data_pipeline_demo_spark.operators import dedup

    est = spark.createDataFrame(
        [(1, 3, 0.8), (2, 3, 0.6), (4, 5, 0.4)],
        "id_a long, id_b long, jaccard_est double",
    )
    docs = spark.createDataFrame(
        [(i,) for i in range(1, 7)], "doc_id long"
    )
    out = {
        r["threshold"]: r for r in dedup.threshold_sweep(
            est, docs, thresholds=(0.3, 0.5, 0.7, 0.9)
        ).collect()
    }
    assert set(out) == {0.3, 0.5, 0.7, 0.9}
    # 0.3: all three pairs qualify; dropped = larger ids {3, 5}
    assert (out[0.3]["n_pairs"], out[0.3]["n_docs_dropped"]) == (3, 2)
    assert out[0.3]["drop_rate"] == round(2 / 6, 4)
    # 0.5: pairs (1,3) and (2,3); dropped = {3} ONLY — the chain case
    # (components would also drop 2)
    assert (out[0.5]["n_pairs"], out[0.5]["n_docs_dropped"]) == (2, 1)
    # 0.7: pair (1,3) only
    assert (out[0.7]["n_pairs"], out[0.7]["n_docs_dropped"]) == (1, 1)
    # 0.9: nothing qualifies — the row still appears, zeroed
    assert (out[0.9]["n_pairs"], out[0.9]["n_docs_dropped"]) == (0, 0)
    assert out[0.9]["drop_rate"] == 0.0


def test_line_dedup_within_doc_semantics(spark):
    """First-occurrence order preserved, raw-text matching (case
    differs -> kept), duplicate blank lines collapse, regex-metachar
    separator treated literally, NULL text propagates NULLs."""
    from snowflake_data_pipeline_demo_spark.operators import dedup

    df = spark.createDataFrame(
        [
            (1, "nav\nbody one\nnav\nbody two\nnav"),
            (2, "a\n\nb\n\na"),          # duplicate blank lines collapse
            (3, "Line\nline"),            # case differs: both kept
            (4, None),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           dedup.line_dedup_within_doc(df).collect()}
    assert out[1]["deduped_text"] == "nav\nbody one\nbody two"
    assert (out[1]["n_lines"], out[1]["kept_lines"]) == (5, 3)
    assert out[2]["deduped_text"] == "a\n\nb"
    assert out[3]["kept_lines"] == 2
    assert out[4]["deduped_text"] is None and out[4]["n_lines"] is None

    # a regex-metachar separator splits literally and round-trips
    df2 = spark.createDataFrame(
        [(1, "x|+|y|+|x|+|z")], "doc_id long, text string"
    )
    r = dedup.line_dedup_within_doc(df2, sep="|+|").collect()[0]
    assert r["deduped_text"] == "x|+|y|+|z"
    assert (r["n_lines"], r["kept_lines"]) == (4, 3)


def test_embedding_dim_stats_semantics(spark):
    """NULL vectors dropped at the boundary; per-dim mean/min/max land
    on the exact values; a constant dimension reports std 0.0 (dead
    dim — the detection case the operator exists for)."""
    from snowflake_data_pipeline_demo_spark.operators import similarity

    df = spark.createDataFrame(
        [
            (1, [1.0, 5.0]),
            (2, [3.0, 5.0]),
            (3, None),
        ],
        "vec_id long, embedding array<float>",
    )
    out = {r["dim"]: r for r in
           similarity.embedding_dim_stats(df).collect()}
    assert set(out) == {0, 1}
    assert out[0]["n"] == 2 and out[0]["mean"] == 2.0
    assert (out[0]["vmin"], out[0]["vmax"]) == (1.0, 3.0)
    assert out[1]["std"] == 0.0  # dead dimension


def test_winnow_fingerprints_match_reference_replay(spark):
    """winnow_fingerprints == the independent Python replay over mixed
    docs (incl. shared-substring pair, short/empty/ties), and the two
    winnowing guarantees hold: (1) every w-window of k-gram hashes
    contains a selected position — so any shared substring of length
    >= w+k-1 shares a fingerprint; (2) docs sharing such a substring
    share at least one selected HASH value."""
    from oracle_utils import fps_pairs, winnow_replay

    from snowflake_data_pipeline_demo_spark.operators import text as T

    shared = "the winnowing guarantee holds for this exact span"
    rows = [
        (1, "left context " + shared + " right context"),
        (2, "A DIFFERENT   Prefix " + shared.upper() + " and suffix"),
        (3, "aaaaaaaaaaaa"),             # all-tie hashes: rightmost-min rule
        (4, "abc"),                      # n < k -> no fingerprints
        (5, ""),
        (6, "abcd"),                     # exactly one k-gram
        (7, "xy zy xy zy xy zy"),        # periodic text, repeated hashes
        # unicode incl. astral-plane: Spark ascii()/split(), DuckDB
        # ascii()/substr(), and Python ord() all agree on CODEPOINTS
        # (verified r06) — winnowing is engine-portable beyond ASCII
        (8, "日本語 テキスト 𝄞 music"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           T.winnow_fingerprints(df).collect()}
    for did, txt in rows:
        assert tuple(out[did])[1:] == winnow_replay(txt), did
        # guarantee (1): window coverage
        sel_pos = {p for p, _ in fps_pairs(out[did]["fps"])}
        m = out[did]["n_kgrams"]
        for j in range(1, max(m - 3 + 1, 1) + 1 if m >= 1 else 1):
            assert sel_pos & set(range(j, min(j + 3, m + 1))), (did, j)
    # guarantee (2): the shared >= w+k-1 substring forces a common hash
    sh1 = {h for _, h in fps_pairs(out[1]["fps"])}
    sh2 = {h for _, h in fps_pairs(out[2]["fps"])}
    assert sh1 & sh2


#: every seam where a naive Python port diverges from the JVM semantics
_WINNOW_ADVERSARIAL = [
    (1, "left context the winnowing guarantee holds right context"),
    (2, "aaaaaaaaaaaa"),                    # all-tie hashes
    (3, "abc"),                             # n < k
    (4, ""),
    (5, "abcd"),                            # exactly one k-gram
    (6, "xy zy xy zy xy zy"),               # periodic, repeated hashes
    (7, "日本語 テキスト 𝄞 music"),          # astral plane
    (8, "a\u00a0b\u00a0cd\u00a0ef"),   # NBSP is content, not ws
    (9, "\u00a0 abcdef \u00a0"),        # NBSP at the trim edges
    (10, "\u3000日本\u3000語のテキスト\u3000"),  # ideographic space
    (11, "ab\x1ccd \x1c ef\x1cgh"),         # \x1c: python-\s-only ws
    (12, "İstanbul ΑΣ Straße ǅungla"),      # case-mapping edges
    (13, "tab\tand\nnewline\x0bvt\x0cff\rcr collapse"),
    (14, None),
    (15, "abcde"),                          # m=2 < w: one short window
]


def test_winnow_fingerprints_match_java_replay_bit_exact(spark, docs):
    """The numpy/Arrow kernel is BIT-IDENTICAL to the pure-Python
    replay with Java text semantics — full rows (n_chars, n_kgrams,
    n_fps, fps) — over (a) the sf0.001 documents corpus and (b) an
    adversarial frame targeting every seam where a naive Python port
    diverges from the JVM semantics, at the fingerprint lane's k=4/w=3
    and the overlap lane's k=8/w=4:

    - Java ``\\s`` is ASCII-only: NBSP/ideographic-space/file-separator
      (\\u00a0, \\u3000, \\x1c) are CONTENT characters to Spark's
      regexp_replace but whitespace to Python's unicode ``\\s`` (and to
      ``str.strip()``) — the kernel must keep them;
    - astral-plane codepoints (one split() element, ord == codepoint);
    - unicode case-mapping edges (U+0130 -> 'i'+combining dot expands
      the char count, final sigma, ß, titlecase dž);
    - rightmost-min ties, periodic hashes, n < k, n < w+k-1 (single
      short window), empty and NULL text.

    The kernel's normalization also equals the engine's JVM
    ``normalize`` on every adversarial row, so the JVM-side text
    operators and the kernel see the same character stream."""
    from oracle_utils import winnow_replay

    from snowflake_data_pipeline_demo_spark.operators import text as T

    adv = spark.createDataFrame(_WINNOW_ADVERSARIAL,
                                "doc_id long, text string")
    corpus = [(r["doc_id"], r["text"])
              for r in docs.select("doc_id", "text").collect()]
    for frame, rows, kw in ((adv, _WINNOW_ADVERSARIAL, {}),
                            (docs, corpus, {}),
                            (adv, _WINNOW_ADVERSARIAL, dict(k=8, w=4))):
        got = {r["doc_id"]: tuple(r)[1:]
               for r in T.winnow_fingerprints(frame, **kw).collect()}
        assert got == {i: winnow_replay(t, **kw) for i, t in rows}, kw
    norm = {r["doc_id"]: r["n"] for r in adv.select(
        "doc_id", F.length(T.normalize("text")).alias("n")).collect()}
    assert norm == {i: winnow_replay(t)[0] for i, t in _WINNOW_ADVERSARIAL}


def test_winnow_vertical_tab_seam():
    """The one whitespace seam between the lane and its oracle: Java's
    ``\\s`` (and so the kernel) collapses \\x0b (vertical tab), DuckDB's
    RE2 ``\\s`` does not (the note at the x_winnow_fingerprints oracle).
    Pins both sides, so neither can drift silently."""
    import duckdb
    from oracle_utils import winnow_replay

    from snowflake_data_pipeline_demo_spark.operators.text import (
        _winnow_numpy_kernel,
    )

    text = "ab\x0bcd\x0b\x0bef"
    n, m, codes = _winnow_numpy_kernel(4, 3)(text)
    assert n == len("ab cd ef")
    assert (n, m, len(codes)) == winnow_replay(text)[:3]
    [(duck,)] = duckdb.sql(
        "SELECT trim(regexp_replace(lower($t), '\\s+', ' ', 'g'))",
        params={"t": text},
    ).fetchall()
    assert duck == text


def test_winnow_overlap_pairs_match_oracle_sql(spark, docs):
    """winnow_overlap_pairs returns EXACTLY the x_winnow_overlap oracle
    SQL's rows on DuckDB — same pairs, same n_shared, same containment
    — on (a) a plagiarism-shaped fixture, (b) the same fixture with the
    max_df kill-switch on (the df-filter consumes the posting frame
    twice), and (c) the sf0.001 corpus (near-cartesian natural overlap
    — the stress case for the posting explode)."""
    from conftest import SF_SMOKE
    from oracle_utils import compare

    from snowflake_data_pipeline_demo_spark.operators import text as T
    from snowflake_data_pipeline_demo_spark.plans.queries_ext import (
        _winnow_overlap_oracle,
    )

    rows = (
        [(i, " ".join(f"s{i}tok{j}" for j in range(30))) for i in range(20)]
        + [(100, "copied span one two three four five six seven eight"),
           (101, "copied span one two three four five six seven eight"),
           (102, None), (103, ""), (104, "short")]
    )
    fixture = spark.createDataFrame(rows, "doc_id long, text string")
    fixture_sql = "SELECT * FROM (VALUES {}) t(gid, text)".format(", ".join(
        f"({i}, {'NULL' if t is None else repr(t)})" for i, t in rows))
    docs_sql = "SELECT doc_id AS gid, text FROM documents"
    cases = [
        (fixture, fixture_sql, dict(min_shared=1)),
        (fixture, fixture_sql, dict(min_shared=3, max_df=8)),
        (docs, docs_sql, dict(min_shared=3, max_df=16)),
    ]
    for frame, source, kw in cases:
        got = T.winnow_overlap_pairs(frame, **kw)
        assert got.count(), kw  # non-vacuous: every case must produce pairs
        assert not compare(got, _winnow_overlap_oracle(source, **kw),
                           SF_SMOKE), kw


def test_winnow_overlap_planted_pairs(spark):
    """Over the deterministic plagiarism fixture: exactly the five
    planted copied-span pairs qualify, containment ~ 1/3 (4 of 12
    sentences copied), max_df=1 kills every pair (all shared hashes
    live in exactly 2 docs), and min_shared above the max shared
    count returns empty."""
    from snowflake_data_pipeline_demo_spark.operators import text as T
    from snowflake_data_pipeline_demo_spark.plans.queries_ext import (
        _synth_plagiarism_docs,
    )

    d = _synth_plagiarism_docs(spark)
    out = sorted(
        (r.id_a, r.id_b, r.n_shared, r.containment)
        for r in T.winnow_overlap_pairs(
            d, id_col="gid", k=8, w=4, min_shared=3
        ).collect()
    )
    assert [(a, b, n) for a, b, n, _ in out] == [
        (2, 7, 47), (12, 17, 50), (22, 27, 51), (32, 37, 61), (42, 47, 52),
    ]
    assert all(0.30 <= c <= 0.40 for *_, c in out)
    assert T.winnow_overlap_pairs(
        d, id_col="gid", k=8, w=4, min_shared=3, max_df=1
    ).count() == 0
    assert T.winnow_overlap_pairs(
        d, id_col="gid", k=8, w=4, min_shared=62
    ).count() == 0


def test_winnow_overlap_fixture_twins(spark):
    """The Spark and DuckDB syntheses of the plagiarism corpus are
    byte-identical (the r05 advice pattern: fixture twins must be tied
    together or the oracle gate fails for fixture reasons)."""
    import duckdb

    from snowflake_data_pipeline_demo_spark.plans.queries_ext import (
        _DPLAG, _synth_plagiarism_docs,
    )

    got = {r.gid: r.text
           for r in _synth_plagiarism_docs(spark).collect()}
    con = duckdb.connect()
    want = dict(con.sql(_DPLAG).fetchall())
    con.close()
    assert got == want


# ---------------------------------------------------------------------------
# mergeable Bloom-filter membership
# ---------------------------------------------------------------------------

def _bloom_fixture(spark):
    keys = [(i, f"key-{i}") for i in range(400)]
    return spark.createDataFrame(keys, "doc_id long, fp string")


def test_bloom_no_false_negatives_and_low_fpr(spark):
    """Every built key must probe true (Bloom guarantee — zero false
    negatives); at the production default sizing (m=2^18, k=5) the
    false-positive rate over disjoint probe keys must be far below the
    ~1.6%-at-2^15-keys design point."""
    df = _bloom_fixture(spark)
    blocks = dedup.bloom_merge(dedup.bloom_shard_blocks(df, "fp"))
    members = dedup.bloom_probe(df, blocks, "fp")
    assert members.filter(~F.col("maybe_member")).count() == 0

    others = spark.createDataFrame(
        [(i, f"other-{i}") for i in range(2000)], "doc_id long, fp string"
    )
    fp = dedup.bloom_probe(others, blocks, "fp") \
        .filter(F.col("maybe_member")).count()
    assert fp <= 2, fp  # 400 keys in 2^18 bits: FPR ~ (400*5/2^18)^5 ~ 0


def test_bloom_shard_merge_equals_single_build(spark):
    """bit_or merging per-shard (or per-run) blocks is EXACTLY the
    filter a single pass over the union builds — the property that
    makes the seen-set safely accretable across ingest runs. Also
    idempotent: merging a run's blocks in twice changes nothing."""
    df = _bloom_fixture(spark)
    shard = (F.col("doc_id") % 4).cast("long")
    sharded = dedup.bloom_shard_blocks(df, "fp", shard_col=shard)
    merged = {r["block"]: r["bits"]
              for r in dedup.bloom_merge(sharded).collect()}
    single = {r["block"]: r["bits"]
              for r in dedup.bloom_merge(
                  dedup.bloom_shard_blocks(df, "fp")).collect()}
    assert merged == single

    twice = {r["block"]: r["bits"]
             for r in dedup.bloom_merge(
                 sharded.unionByName(sharded)).collect()}
    assert twice == single


def test_bloom_probe_tolerates_unmerged_shard_blocks(spark):
    """Passing UNMERGED multi-shard bloom_shard_blocks output straight
    to bloom_probe must behave exactly like probing the merged filter.
    Before the r06-advice hardening, each position matched one row per
    shard and bool_and demanded the bit set in EVERY shard — silent
    false negatives on the one guarantee a Bloom filter makes.
    bloom_probe now bloom_merges its filter side internally
    (idempotent, O(m/32) rows)."""
    df = _bloom_fixture(spark)
    shard = (F.col("doc_id") % 4).cast("long")
    sharded = dedup.bloom_shard_blocks(df, "fp", shard_col=shard)
    assert "shard" in sharded.columns  # the hazardous input shape
    probed = dedup.bloom_probe(df, sharded, "fp")
    assert probed.filter(~F.col("maybe_member")).count() == 0


def test_bloom_cross_run_persistence(spark, tmp_path):
    """Run A persists its blocks to parquet and ends; run B reads the
    bytes back, merges its own blocks, and the merged filter equals a
    single build over both runs' keys — the HLL/histogram cross-run
    pattern, for membership."""
    df = _bloom_fixture(spark)
    run_a = df.filter(F.col("doc_id") % 2 == 0)
    run_b = df.filter(F.col("doc_id") % 2 == 1)
    dedup.bloom_shard_blocks(run_a, "fp").write.parquet(
        str(tmp_path / "run_a"))

    merged = dedup.bloom_merge(
        spark.read.parquet(str(tmp_path / "run_a")).unionByName(
            dedup.bloom_shard_blocks(run_b, "fp"))
    )
    single = dedup.bloom_merge(dedup.bloom_shard_blocks(df, "fp"))
    a = {r["block"]: r["bits"] for r in merged.collect()}
    b = {r["block"]: r["bits"] for r in single.collect()}
    assert a == b


def test_bloom_empty_filter_rejects_everything(spark):
    """Probing an EMPTY filter (no build rows at all — e.g. the first
    ingest run ever) must return definitely-new for every key, not
    crash on the missing-block left join."""
    df = _bloom_fixture(spark)
    empty = dedup.bloom_merge(
        dedup.bloom_shard_blocks(df.filter(F.lit(False)), "fp"))
    probed = dedup.bloom_probe(df, empty, "fp")
    assert probed.count() == 400
    assert probed.filter(F.col("maybe_member")).count() == 0


# ---------------------------------------------------------------------------
# count-min sketch frequency state
# ---------------------------------------------------------------------------

def test_cms_merge_equals_single_build_and_bounds(spark, docs):
    """Cross-shard counter addition must equal a single-pass sketch
    EXACTLY (merging is exact, unlike the estimate), and the estimate
    must satisfy the one-sided CMS guarantee: exact <= est <= exact +
    eps*N for every token, eps = e/width."""
    import math

    shard = (F.col("doc_id") % 4).cast("long")
    width, depth = 16, 4
    sharded = text.token_cms_shard_sketches(docs, shard,
                                            depth=depth, width=width)
    merged = text.cms_merge(sharded)
    single = text.cms_merge(
        text.token_cms_shard_sketches(docs, F.lit(0).cast("long"),
                                      depth=depth, width=width))
    a = {(r["r"], r["bucket"]): r["cnt"] for r in merged.collect()}
    b = {(r["r"], r["bucket"]): r["cnt"] for r in single.collect()}
    assert a == b

    exact = (
        docs.select(F.explode(text.tokens("text")).alias("tok"))
        .groupBy("tok").agg(F.count("*").cast("long").alias("exact_cnt"))
    )
    looked = text.cms_lookup(merged, exact, token_col="tok",
                             depth=depth, width=width).collect()
    n_total = sum(r["exact_cnt"] for r in looked)
    eps = math.e / width
    assert all(r["cms_est"] >= r["exact_cnt"] for r in looked)
    assert all(r["cms_est"] <= r["exact_cnt"] + eps * n_total
               for r in looked)
    # the lane sizing must actually exercise the collision path
    assert any(r["cms_est"] > r["exact_cnt"] for r in looked)


def test_cms_cross_run_persistence(spark, docs, tmp_path):
    """Run A persists its counters; run B reads the bytes back, adds
    its own, and the merged sketch equals a single pass over both
    halves — counter state survives the parquet boundary losslessly."""
    run_a = docs.filter(F.col("doc_id") % 2 == 0)
    run_b = docs.filter(F.col("doc_id") % 2 == 1)
    shard = (F.col("doc_id") % 4).cast("long")
    text.token_cms_shard_sketches(run_a, shard).write.parquet(
        str(tmp_path / "run_a"))

    merged = text.cms_merge(
        spark.read.parquet(str(tmp_path / "run_a")).unionByName(
            text.token_cms_shard_sketches(run_b, shard)))
    single = text.cms_merge(
        text.token_cms_shard_sketches(docs, shard))
    a = {(r["r"], r["bucket"]): r["cnt"] for r in merged.collect()}
    b = {(r["r"], r["bucket"]): r["cnt"] for r in single.collect()}
    assert a == b


def test_cms_lookup_unseen_token_estimates_from_collisions_only(spark):
    """A token never ingested gets whatever its buckets collided into —
    and 0 when the corpus is empty (absent counters coalesce to 0,
    they don't null-poison the min)."""
    corpus = spark.createDataFrame(
        [(0, "alpha beta gamma")], "doc_id long, text string")
    cms = text.cms_merge(
        text.token_cms_shard_sketches(corpus, F.lit(0).cast("long")))
    cand = spark.createDataFrame([("zzz-unseen",)], "tok string")
    [row] = text.cms_lookup(cms, cand, token_col="tok").collect()
    assert row["cms_est"] >= 0

    empty = text.cms_merge(text.token_cms_shard_sketches(
        corpus.filter(F.lit(False)), F.lit(0).cast("long")))
    [row] = text.cms_lookup(empty, cand, token_col="tok").collect()
    assert row["cms_est"] == 0


# ---------------------------------------------------------------------------
# collocation PMI / embedding covariance
# ---------------------------------------------------------------------------

def test_collocation_pmi_hand_computed(spark):
    """PMI over a fixture small enough to verify by hand: corpus of
    'a b' x6 and 'a c' x6 -> N=24 unigrams, B=12 bigrams; ('a','b')
    has c_xy=6, c_a=12, c_b=6 -> ratio = 6*24*24/(12*12*6) = 4.0."""
    import math

    docs = spark.createDataFrame(
        [(i, "a b") for i in range(6)] + [(i + 6, "a c") for i in range(6)],
        "doc_id long, text string")
    rows = {(r["x"], r["y"]): r for r in
            text.collocation_pmi(docs, min_count=5).collect()}
    assert set(rows) == {("a", "b"), ("a", "c")}
    assert rows[("a", "b")]["c_xy"] == 6
    assert rows[("a", "b")]["pmi"] == round(math.log(4.0), 4)


def test_collocation_pmi_degenerate_docs_contribute_nothing(spark):
    """Single-token / empty / whitespace docs must not crash the
    bigram stitch (the sequence(1,0)-descends hazard) and contribute
    unigrams but no pairs."""
    docs = spark.createDataFrame(
        [(0, "solo"), (1, ""), (2, "   "), (3, None)]
        + [(10 + i, "x y") for i in range(5)],
        "doc_id long, text string")
    rows = text.collocation_pmi(docs, min_count=5).collect()
    assert {(r["x"], r["y"]) for r in rows} == {("x", "y")}
    # N counts the 'solo' unigram: 1 + 10 = 11 tokens, B = 5
    import math
    [r] = rows
    assert r["pmi"] == round(math.log((5 * 11 * 11) / (5 * 5 * 5)), 4)


def test_embedding_covariance_twins_agree_exactly(spark, emb):
    """The Gram-per-Arrow-batch covariance and its pure-Python replay
    (Spark's sum/count(*) in row order) emit IDENTICAL rows — the 4 dp
    round absorbs the summation-order ulps."""
    from oracle_utils import covariance_replay

    a = {(r["i"], r["j"]): (r["n"], r["cov"])
         for r in similarity.embedding_covariance(emb).collect()}
    b = covariance_replay([r["embedding"] for r in emb.collect()])
    assert a == b
    # diagonal of the covariance matrix = per-dim population variance
    stats = {r["dim"]: r for r in
             similarity.embedding_dim_stats(emb).collect()}
    n = stats[0]["n"]
    for d in (0, 1, 7):
        var_sample = stats[d]["std"] ** 2
        var_pop = a[(d, d)][1]
        assert abs(var_pop - var_sample * (n - 1) / n) < 5e-3


def test_embedding_covariance_degenerate_inputs(spark):
    """Single vector -> zero covariance everywhere; empty/null corpus
    -> empty result, no crash."""
    one = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0])], "vec_id long, embedding array<float>")
    rows = similarity.embedding_covariance(one).collect()
    assert len(rows) == 6
    assert all(r["cov"] == 0.0 for r in rows)

    empty = one.filter(F.lit(False))
    assert similarity.embedding_covariance(empty).count() == 0

    nulls = spark.createDataFrame(
        [(0, None)], "vec_id long, embedding array<float>")
    assert similarity.embedding_covariance(nulls).count() == 0


# ---------------------------------------------------------------------------
# snapshot diff / truncation / calibration / confusion
# ---------------------------------------------------------------------------

def test_snapshot_diff_hand_fixture(spark):
    """old={A,B}, new={B,C} -> 1 added, 1 removed, 1 kept; duplicate
    contents within a snapshot collapse to one fingerprint."""
    from snowflake_data_pipeline_demo_spark.operators import curation

    old = spark.createDataFrame(
        [(0, "s", "doc A"), (1, "s", "doc B"), (2, "s", "doc  B")],
        "doc_id long, source string, text string")  # B twice, normalized
    new = spark.createDataFrame(
        [(10, "s", "doc B"), (11, "s", "doc C")],
        "doc_id long, source string, text string")
    [r] = curation.snapshot_diff(old, new).collect()
    assert (r["n_old"], r["n_new"]) == (2, 2)
    assert (r["n_added"], r["n_removed"], r["n_kept"]) == (1, 1, 1)


def test_truncate_chars_contract(spark):
    """Pass-through under budget; whitespace-boundary cut over budget;
    empty result when the first token alone exceeds the budget."""
    import hashlib

    docs = spark.createDataFrame(
        [(0, "short doc"),
         (1, "alpha beta gamma delta"),
         (2, "x" * 30),
         (3, "")],
        "doc_id long, text string")
    from snowflake_data_pipeline_demo_spark.operators import chunking

    rows = {r["doc_id"]: r for r in
            chunking.truncate_chars(docs, budget=10).collect()}

    def md5(s: str) -> str:
        return hashlib.md5(s.encode()).hexdigest()

    assert rows[0]["was_truncated"] is False
    assert rows[0]["fp_out"] == md5("short doc")
    # budget=10 lands exactly after 'beta' (char 11 is a space) — the
    # complete token SURVIVES the cut
    assert rows[1]["was_truncated"] is True
    assert rows[1]["fp_out"] == md5("alpha beta")
    assert rows[1]["n_chars_out"] == 10
    # budget=8 cuts mid-'beta' -> the partial run drops, space rtrims
    mid = {r["doc_id"]: r for r in
           chunking.truncate_chars(docs, budget=8).collect()}
    assert mid[1]["fp_out"] == md5("alpha")
    assert mid[1]["n_chars_out"] == 5
    # a 30-char single token truncates to ''
    assert rows[2]["fp_out"] == md5("")
    assert rows[2]["n_chars_out"] == 0
    assert rows[3]["n_chars_in"] == 0 and rows[3]["fp_out"] == md5("")


def test_truncate_chars_newline_boundary(spark):
    """The Java-regex trap the code-review caught live: with the old
    $-anchored patterns, a prefix ending in '\\n' lost its complete
    last token (Java's $ matches BEFORE a final line terminator; RE2's
    does not). \\z anchors must keep 'abc' from 'abc\\ndef' at
    budget=4, and the \\s+\\z trim must strip tabs/newlines, not just
    spaces."""
    import hashlib

    from snowflake_data_pipeline_demo_spark.operators import chunking

    docs = spark.createDataFrame(
        [(0, "abc\ndef"),        # prefix 'abc\n', cut mid-'def'
         (1, "ab cd\nef"),       # prefix 'ab cd\n', cut mid-'ef'
         (2, "x\t\n" + "y" * 20)],  # whitespace run before the cut
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in
            chunking.truncate_chars(docs, budget=4).collect()}

    def md5(s: str) -> str:
        return hashlib.md5(s.encode()).hexdigest()

    assert rows[0]["fp_out"] == md5("abc")
    assert rows[0]["n_chars_out"] == 3
    assert rows[2]["fp_out"] == md5("x")

    six = {r["doc_id"]: r for r in
           chunking.truncate_chars(docs, budget=6).collect()}
    assert six[1]["fp_out"] == md5("ab cd")


def test_classifier_calibration_partitions_the_corpus(spark, docs):
    rows = text.classifier_calibration(docs).collect()
    assert all(0 <= r["bin"] <= 9 for r in rows)
    assert sum(r["n_docs"] for r in rows) == docs.count()
    for r in rows:
        assert r["bin"] / 10 <= r["min_score"] <= r["max_score"]
        # top bin owns score=1.0; every other bin's max stays inside
        if r["bin"] < 9:
            assert r["max_score"] < (r["bin"] + 1) / 10


def test_langid_confusion_rates_and_fixture(spark):
    fx = spark.createDataFrame(
        [(0, "en", "the cat of the house"),
         (1, "en", "the dog and it"),
         (2, "en", "zzz qqq"),          # no stopwords -> und
         (3, "de", "der hund und die katze"),
         (4, None, "the big cat")],     # unlabeled doc must not vanish
        "doc_id long, lang string, text string")
    rows = {(r["lang"], r["lang_pred"]): r
            for r in text.langid_confusion(fx).collect()}
    assert rows[("en", "en")]["n_docs"] == 2
    assert rows[("en", "und")]["n_docs"] == 1
    assert rows[("de", "de")]["rate"] == 1.0
    # NULL lang keeps its row (review fix: a NULL key silently dropped
    # at the non-null-safe totals join)
    assert rows[("unlabeled", "en")]["n_docs"] == 1
    assert sum(r["n_docs"] for r in rows.values()) == 5
    en_total = sum(r["rate"] for (lang, _), r in rows.items()
                   if lang == "en")
    assert abs(en_total - 1.0) < 1e-9


def test_compression_signals_orders_redundancy(spark):
    """Repetitive text must compress far below mixed prose, which sits
    below unique-token noise; hand-pinned contracts for empty/null."""
    import zlib

    docs = spark.createDataFrame(
        [(0, "spam " * 200),
         (1, "the quick brown fox jumps over the lazy dog " * 20),
         (2, " ".join(f"tok{i}" for i in range(200))),
         (3, ""),
         (4, None)],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in
            text.compression_signals(docs).collect()}
    assert rows[0]["ratio"] < rows[1]["ratio"] < rows[2]["ratio"]
    assert rows[0]["ratio"] < 0.05
    # exact value contract against the local zlib
    expected = len(zlib.compress(("spam " * 200).encode(), 6))
    assert rows[0]["n_compressed"] == expected
    assert rows[3]["n_compressed"] == len(zlib.compress(b"", 6))
    assert rows[4]["n_compressed"] is None and rows[4]["ratio"] is None


def test_gumbel_topk_resample_bias_determinism_and_small_n(spark):
    """Selection must be reproducible, biased toward high log-weights,
    and degrade to 'take everything' when k >= n."""
    from snowflake_data_pipeline_demo_spark.operators import sampling

    rows = [(i, 3.0 if i < 20 else -3.0) for i in range(200)]
    scored = spark.createDataFrame(rows, "doc_id long, importance double")
    sel = sampling.gumbel_topk_resample(scored, k=30)
    ids = {r["doc_id"] for r in sel.collect()}
    assert ids == {r["doc_id"] for r in sel.collect()}  # deterministic
    # exp(3)/exp(-3) ~ 400:1 odds — nearly all of the 20 heavy docs in
    assert len(ids & set(range(20))) >= 15
    assert len(ids) == 30

    tiny = sampling.gumbel_topk_resample(scored.limit(5), k=50)
    assert tiny.count() == 5


def test_bloom_build_drops_null_keys(spark):
    """NULL keys must not write garbage (NULL block) rows into the
    persisted filter state; probing a NULL key reads definitely-new."""
    df = spark.createDataFrame(
        [(0, "k0"), (1, None), (2, "k2")], "doc_id long, fp string")
    blocks = dedup.bloom_merge(dedup.bloom_shard_blocks(df, "fp"))
    rows = blocks.collect()
    assert all(r["block"] is not None and r["bits"] is not None
               for r in rows)
    probed = {r["doc_id"]: r["maybe_member"]
              for r in dedup.bloom_probe(df, blocks, "fp").collect()}
    assert probed[0] is True and probed[2] is True
    assert probed[1] is False


def test_embedding_covariance_pandas_ragged_and_null_elements(spark):
    """The Gram covariance must match Spark's sum/count(*) semantics
    (the pure-Python replay) on dirty input: ragged dims (each row
    contributes its own i<=j pairs), NULL elements (skipped by sums,
    counted by n; a cell with no non-NULL term is NULL) and a NaN
    element (propagates into its cells)."""
    from oracle_utils import covariance_replay

    vecs = [[1.0, 2.0, 3.0], [4.0, 5.0], [1.0, None, 2.0],
            [2.0, 1.0, 4.0], [2.0, 0.5, 1.0, None],
            [float("nan"), 1.0, 0.5]]
    dirty = spark.createDataFrame(list(enumerate(vecs)),
                                  "vec_id long, embedding array<double>")

    def cells(rows):
        return {k: (n, _bits(c)) for k, (n, c) in rows.items()}

    a = cells({(r["i"], r["j"]): (r["n"], r["cov"])
               for r in similarity.embedding_covariance(dirty).collect()})
    assert a == cells(covariance_replay(vecs))
    # dim (2,2) exists only for the 3- and 4-dim rows
    assert a[(2, 2)][0] == 5 and a[(0, 0)][0] == 6
    assert a[(0, 0)][1] == "NaN" and a[(1, 2)][1] != "NaN"
    assert a[(3, 3)] == (1, None)  # the one dim-3 element is NULL
    assert _with_batch_size(
        spark, 2, lambda: cells({
            (r["i"], r["j"]): (r["n"], r["cov"])
            for r in similarity.embedding_covariance(dirty).collect()})) == a


def test_pca_components_recover_known_spectrum(spark):
    """Orthogonal power iteration must recover the eigenvectors of a
    synthetic covariance with a well-separated known spectrum, in
    eigenvalue order, mutually orthonormal."""
    import numpy as np

    rng_basis = np.linalg.qr(
        np.array([[(i * 7 + j * 3 + 1) % 11 - 5.0 for j in range(6)]
                  for i in range(6)]))[0]
    evals = np.array([16.0, 8.0, 4.0, 2.0, 1.0, 0.5])
    c = rng_basis @ np.diag(evals) @ rng_basis.T
    iu, ju = np.triu_indices(6)
    rows = [{"i": int(i), "j": int(j), "cov": float(c[i, j])}
            for i, j in zip(iu, ju)]
    comps = np.array(similarity.pca_components(rows, dim=6, k=4))
    for k in range(4):
        align = abs(float(comps[k] @ rng_basis[:, k]))
        assert align > 0.999, (k, align)
    gram = comps @ comps.T
    assert np.allclose(gram, np.eye(4), atol=1e-6)


def test_project_embeddings_identity_and_nulls(spark):
    """Projection onto basis vectors returns the original coordinates
    (rounded); NULL embeddings are dropped at the boundary."""
    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0]), (1, None)],
        "vec_id long, embedding array<float>")
    comps = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    rows = similarity.project_embeddings(df, comps).collect()
    assert len(rows) == 1
    assert rows[0]["proj"] == [1.0, 2.0]


def test_pca_zero_covariance_degenerate(spark):
    """An all-zero covariance (constant embeddings) must yield unit
    vectors, not NaNs or a crash."""
    import math

    rows = [{"i": i, "j": j, "cov": 0.0}
            for i in range(4) for j in range(i, 4)]
    comps = similarity.pca_components(rows, dim=4, k=2)
    for v in comps:
        assert all(not math.isnan(x) for x in v)
        assert abs(sum(x * x for x in v) - 1.0) < 1e-9


def test_covariance_state_merges_across_runs(spark, emb, tmp_path):
    """The second-moment member of the cross-run state family: run A
    persists its (i, j, sp, si, sj, n) Gram state; run B reads the
    bytes back, adds its own, and the finalized covariance equals a
    single pass over both halves (the shared 4 dp rounding absorbs
    the summation-order ulps of the merge)."""
    run_a = emb.filter(F.col("vec_id") % 2 == 0)
    run_b = emb.filter(F.col("vec_id") % 2 == 1)
    similarity.embedding_covariance_state(run_a).write.parquet(
        str(tmp_path / "run_a"))

    merged = similarity.covariance_finalize(
        similarity.covariance_partial_state(
            spark.read.parquet(str(tmp_path / "run_a")).unionByName(
                similarity.embedding_covariance_state(run_b))))
    single = similarity.embedding_covariance(emb)
    a = {(r["i"], r["j"]): (r["n"], r["cov"]) for r in merged.collect()}
    b = {(r["i"], r["j"]): (r["n"], r["cov"]) for r in single.collect()}
    assert a == b


def test_covariance_three_run_chain_and_pca(spark, emb, tmp_path):
    """A→B→C across TWO persistence boundaries for the second-moment
    state (r11 verdict ask #6): run A persists its Gram state; run B
    reads it back, adds its own, COMPACTS via covariance_partial_state
    (exact per-pair sums) and persists; run C reads B's compacted
    state, adds the final third, finalizes — and the covariance must
    equal a single pass EXACTLY (integer n, 4 dp cov contract). The
    PCA derived from the chained state must then match the single-pass
    PCA bit-for-bit (pca_components is deterministic: md5 starts,
    pinned iteration count) — the '→PCA' half of the ask."""
    import numpy as np

    thirds = [emb.filter(F.col("vec_id") % 3 == k) for k in range(3)]

    # ---- run A: own state, persist, end ----
    similarity.embedding_covariance_state(thirds[0]).write.parquet(
        str(tmp_path / "state_a"))

    # ---- run B: read A, add own, COMPACT, persist (2nd boundary) ----
    similarity.covariance_partial_state(
        spark.read.parquet(str(tmp_path / "state_a")).unionByName(
            similarity.embedding_covariance_state(thirds[1]))
    ).write.parquet(str(tmp_path / "state_ab"))

    # ---- run C: read B's state, add own, finalize ----
    chained = similarity.covariance_finalize(
        similarity.covariance_partial_state(
            spark.read.parquet(str(tmp_path / "state_ab")).unionByName(
                similarity.embedding_covariance_state(thirds[2]))))
    single = similarity.embedding_covariance(emb)
    a = {(r["i"], r["j"]): (r["n"], r["cov"]) for r in chained.collect()}
    b = {(r["i"], r["j"]): (r["n"], r["cov"]) for r in single.collect()}
    assert a == b

    # identical state → identical PCA, deterministically
    rows_a = [{"i": i, "j": j, "cov": cov} for (i, j), (_, cov) in a.items()]
    rows_b = [{"i": i, "j": j, "cov": cov} for (i, j), (_, cov) in b.items()]
    dim = max(r["i"] for r in rows_a) + 1
    comps_a = similarity.pca_components(rows_a, dim=dim, k=4)
    comps_b = similarity.pca_components(rows_b, dim=dim, k=4)
    assert np.array_equal(np.array(comps_a), np.array(comps_b))
    evals = similarity.pca_eigenvalues(rows_a, comps_a)
    assert len(evals) == 4 and all(
        evals[i] >= evals[i + 1] - 1e-12 for i in range(3)), evals


def test_pca_eigenvalues_and_whitening(spark):
    """Rayleigh quotients recover the planted spectrum, and whitened
    projections have ~unit variance along every kept direction."""
    import numpy as np

    basis = np.linalg.qr(
        np.array([[(i * 5 + j * 2 + 1) % 7 - 3.0 for j in range(4)]
                  for i in range(4)]))[0]
    evals_true = np.array([9.0, 4.0, 1.0, 0.25])
    c = basis @ np.diag(evals_true) @ basis.T
    iu, ju = np.triu_indices(4)
    rows = [{"i": int(i), "j": int(j), "cov": float(c[i, j])}
            for i, j in zip(iu, ju)]
    comps = similarity.pca_components(rows, dim=4, k=3)
    evals = similarity.pca_eigenvalues(rows, comps)
    assert np.allclose(evals, evals_true[:3], atol=1e-6)

    # sample vectors with the planted covariance structure; whitened
    # projections should have variance ~1 along each direction
    rng = np.random.RandomState(7)
    x = rng.randn(4000, 4) @ (basis * np.sqrt(evals_true)).T
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<double>")
    white = similarity.whiten_components(comps, evals)
    proj = np.array([r["proj"] for r in
                     similarity.project_embeddings(df, white).collect()])
    var = proj.var(axis=0)
    assert np.all(np.abs(var - 1.0) < 0.15), var


def test_merge_components_incremental_bridges_old_components(spark):
    """The hard incremental case: a single batch doc whose pairs touch
    TWO previously-separate history components must merge them — the
    star contraction preserves connectivity through the new node."""
    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3), (4, 3), (9, 9)],
        "doc_id long, component_id long")
    batch = spark.createDataFrame([(5,)], "doc_id long")
    pairs = spark.createDataFrame(
        [(2, 5), (4, 5)], "id_a long, id_b long")
    from snowflake_data_pipeline_demo_spark.operators import dedup as D

    out = {r["doc_id"]: r["component_id"]
           for r in D.merge_components_incremental(
               comps, batch, pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 9: 9}

    # no new pairs: assignment unchanged, batch doc is its own comp
    out2 = {r["doc_id"]: r["component_id"]
            for r in D.merge_components_incremental(
                comps, batch, pairs.filter(F.lit(False))).collect()}
    assert out2 == {1: 1, 2: 1, 3: 3, 4: 3, 5: 5, 9: 9}


def test_pca_dense_starts_escape_weak_eigendirections(spark):
    """The second-review reproduction: diag(1, 16) — a basis-vector
    start (old code) is an exact weak eigenvector and never rotates;
    dense md5 starts must find the dominant direction, in eigenvalue
    order, and k must clamp to dim instead of appending garbage."""
    rows = [{"i": 0, "j": 0, "cov": 1.0}, {"i": 0, "j": 1, "cov": 0.0},
            {"i": 1, "j": 1, "cov": 16.0}]
    comps = similarity.pca_components(rows, dim=2, k=8)
    assert len(comps) == 2  # clamped to dim
    assert abs(comps[0][1]) > 0.999  # dominant = e_1 (variance 16)
    assert abs(comps[1][0]) > 0.999
    evals = similarity.pca_eigenvalues(rows, comps)
    assert evals[0] > evals[1]


def test_ngram_jaccard_pairs_probe_matches_filtered_full(spark, docs):
    """The incremental pair generator must emit exactly the
    batch-touching subset of the full self-join's pairs — both the
    both-in-batch and mixed orderings counted once."""
    probe = F.col("doc_id") % 3 == 2
    inc = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in dedup.ngram_jaccard_pairs_probe(
               docs, probe=probe, threshold=0.3).collect()}
    full = {(r["id_a"], r["id_b"]): r["jaccard"]
            for r in dedup.ngram_jaccard_pairs(
                docs, threshold=0.3).collect()
            if r["id_a"] % 3 == 2 or r["id_b"] % 3 == 2}
    assert inc == full


def test_project_embeddings_nulls_whole_row_on_dirty_vector(spark):
    """A ragged or NULL-element vector yields proj = NULL (whole row),
    never a shorter array that a serializer could misalign."""
    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0]), (1, [1.0, None, 3.0]), (2, [1.0])],
        "vec_id long, embedding array<double>")
    comps = [[1.0, 0.0, 0.0], [0.0, 0.0, 1.0]]
    rows = {r["vec_id"]: r["proj"] for r in
            similarity.project_embeddings(df, comps).collect()}
    assert rows[0] == [1.0, 3.0]
    assert rows[1] is None
    assert rows[2] is None


def test_bloom_size_closed_form():
    """bloom_size must match the textbook optimum: m = -n ln p / ln2^2
    rounded up to a power of two (KM double hashing wants it; rounding
    up only lowers FPR), k = round(m/n * ln2) floored at 1, and the
    realized FPR bound (1 - e^{-kn/m})^k must come in at or under the
    target for the returned size."""
    import math

    # NOTE: the module's historical hand-picked default (m=2^18, k=5
    # at n=2^15) REALIZES ~1.6% but is below the closed-form optimum
    # for targeting it (2^19, k=11) — which is exactly why the sizing
    # now lives in a function instead of prose constants.
    assert dedup.bloom_size(2 ** 15, 0.016) == (1 << 19, 11)
    # adversarial: m_exact just under 2^20 — at m=2^20 BOTH k=6 and 7
    # realize >0.01 (0.010039), so the at-or-under promise needs the
    # next doubling (r07 second review, reproduced numerically)
    assert dedup.bloom_size(109396, 0.01)[0] == 1 << 21
    for n, p in [(1000, 0.01), (10 ** 6, 0.001), (7, 0.05), (1, 0.5),
                 (109396, 0.01), (109395, 0.01), (109397, 0.01)]:
        m, k = dedup.bloom_size(n, p)
        assert m & (m - 1) == 0 and m >= 32  # power of two, >= 1 block
        assert k >= 1
        realized = (1 - math.exp(-k * n / m)) ** k
        assert realized <= p * 1.0001, (n, p, m, k, realized)
    with pytest.raises(ValueError):
        dedup.bloom_size(0)
    with pytest.raises(ValueError):
        dedup.bloom_size(100, 1.5)


def test_day2_pca_refresh_equals_scratch(spark, emb, tmp_path):
    """The run-book's stage-5 contract (demo_incremental.py): day 1
    persists covariance state; day 2 grams only ITS OWN embeddings,
    merges into the persisted rows, and the PCA derived from the
    merged state equals a from-scratch computation over all vectors —
    day-1 embeddings are never re-read. This is the e2e twin of the
    demo's inline assertion."""
    import numpy as np

    day1 = emb.filter(F.col("vec_id") % 3 < 2)
    day2 = emb.filter(F.col("vec_id") % 3 == 2)
    similarity.embedding_covariance_state(day1).write.parquet(
        str(tmp_path / "covstate"))

    merged = similarity.covariance_partial_state(
        spark.read.parquet(str(tmp_path / "covstate")).unionByName(
            similarity.embedding_covariance_state(day2)))
    dim = int(emb.select(F.size("embedding")).first()[0])
    refreshed = similarity.pca_components(
        similarity.covariance_finalize(merged).collect(), dim, k=4)
    scratch = similarity.pca_components(
        similarity.embedding_covariance(emb).collect(), dim, k=4)
    assert np.allclose(np.asarray(refreshed), np.asarray(scratch),
                       atol=1e-4)


def test_exploded_shingles_multiset_matches_array_form(spark):
    """r12 optimization semantics pin: the guide-§2.3 rewrite of
    exploded_shingles (per-row TRANSFORM shingle array + explode, so
    the minhash min() combines map-side and the one exchange carries
    (id, 16 longs) instead of every token row) was built, proven
    row-identical, and REJECTED on measurement — at 200k docs the
    interpreted HOF form runs 15.2 s vs the stitch's 2.1-5.1 s (calm
    host; the r04 repetition-twin crossover again). The stitch stays
    the implementation; this test keeps the array form as an
    independent semantic reference so the shingle MULTISET per doc —
    short-doc whole-string fallback, empty-token docs, the null-text
    null-shingle row — stays pinned against both shapes."""
    from snowflake_data_pipeline_demo_spark.operators.text import tokens

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "one"), (4, "one two"),
         (5, "one two three"), (6, "a b c d e f"),
         (7, "x   y , z"), (8, "Dup dup DUP dup dup")],
        "doc_id long, text string",
    )

    def array_form(df, text_col="text", id_col="doc_id", k=3):
        toks = tokens(text_col)
        n = F.size(toks)
        full = F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        )
        short = F.array(
            F.when(F.col(text_col).isNull(), F.lit(None).cast("string"))
            .otherwise(F.concat_ws(" ", toks))
        )
        return df.select(
            F.col(id_col),
            F.explode(F.when(n >= k, full).otherwise(short)).alias("_sh"),
        )

    def multiset(frame):
        return {tuple(r)
                for r in frame.groupBy("doc_id", "_sh").count().collect()}

    for k in (2, 3, 5):
        assert multiset(dedup.exploded_shingles(df, k=k)) == \
            multiset(array_form(df, k=k)), k
