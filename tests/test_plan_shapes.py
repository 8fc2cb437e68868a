"""Physical-plan shape pins: the properties the 100 TB design depends
on (SCALE.md) asserted against `.explain("formatted")` output, so a
refactor that silently de-optimizes a plan (drops a pushdown, turns a
bucketed join into a nested loop, falls back to SortAggregate) fails
fast. String-level checks on node names — robust to AQE re-printing,
fragile only to Spark renaming operators (acceptable)."""

from __future__ import annotations

import contextlib
import io

import pytest

from snowflake_data_pipeline_demo_spark.plans.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = QUERIES[name].builder(spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_date_filter_reaches_parquet_scan(spark):
    p = _plan(spark, "p2_date_range_filter")
    assert "GreaterThanOrEqual(l_shipdate" in p  # pushed, not post-scan


def test_star_join_never_goes_cartesian(spark):
    p = _plan(spark, "j1_star_join_revenue")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    assert "SortAggregate" not in p


def test_pure_projection_operators_have_no_shuffle(spark):
    for name in ("x_text_stats", "x_chunk_tokens", "x_quality_gopher",
                 "x_line_dedup", "x_winnow_fingerprints"):
        p = _plan(spark, name)
        assert "Exchange" not in p, name


def test_winnow_fingerprints_lane_is_shuffle_free_arrow_eval(spark):
    """The winnow lane's Python boundary must be the vectorized
    ArrowEvalPython node — never row-pickling BatchEvalPython (guide
    §4: Arrow-batched or nothing) — and never an Exchange (it composes
    into any scan for free)."""
    p = _plan(spark, "x_winnow_fingerprints")
    assert "ArrowEvalPython" in p
    assert "BatchEvalPython" not in p
    assert "Exchange" not in p


def test_minhash_production_stays_in_hash_aggregate(spark):
    # long-typed min buffers keep the codegen'd HashAggregate; a string
    # signature type would silently fall back to SortAggregate
    p = _plan(spark, "x_dedup_minhash_xxhash")
    assert "SortAggregate" not in p
    assert "HashAggregate" in p


def test_flagship_joins_are_broadcast_plus_single_like_bnlj(spark):
    p = _plan(spark, "flagship_secure_report")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    # the LIKE theta join against rows-scale security is the ONLY
    # nested-loop member of the plan, and it must be broadcast
    assert "BroadcastNestedLoopJoin" in p


def test_asof_join_is_union_merge_not_inequality_join(spark):
    p = _plan(spark, "x_asof_join")
    assert "Window" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    # event-type filters reach the scans
    assert "EqualTo(event_type,purchase)" in p


def test_range_join_is_bucketed_equi_join(spark):
    p = _plan(spark, "x_range_join")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_decontamination_broadcasts_eval_ngrams(spark):
    p = _plan(spark, "x_decontaminate")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


#: queries whose plan is INTENTIONALLY an all-pairs product — the
#: small-scale verifiers quarantined as such in their docstrings
_ALL_PAIRS_BY_DESIGN = {"x_dedup_embedding_neardup"}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_plan_goes_cartesian(spark, name):
    """Registry-wide: no query plans a CartesianProduct (BNLJ broadcast
    of one-row/dim-scale frames is fine; an unbounded cross product is
    not), except the documented all-pairs verifiers."""
    if name in _ALL_PAIRS_BY_DESIGN:
        pytest.skip("all-pairs verifier by design")
    p = _plan(spark, name)
    assert "CartesianProduct" not in p


def test_semdedup_scores_pairs_per_cluster_group(spark):
    """SemDeDup is two Arrow stages around one shuffle on the cluster
    key: the narrow assignment, then one grouped numpy pass per cluster
    (FlatMapGroupsInArrow). No pair join, no cached assignment, no
    row-at-a-time Python UDF."""
    p = _plan(spark, "x_semdedup")
    assert p.count("hashpartitioning(") == 1
    assert "hashpartitioning(centroid_id" in p
    assert "FlatMapGroupsInArrow" in p and "ArrowEvalPython" in p
    assert "Join" not in p and "BatchEvalPython" not in p
    # a test fixture may have cached the embeddings scan itself, which
    # then prints below the assignment; a cached assignment prints above
    tree = p.split("\n\n")[0]
    cached = tree.find("InMemoryRelation")
    assert cached == -1 or cached > tree.find("ArrowEvalPython"), tree


def test_dup_ngram_coverage_stays_hash_aggregated(spark):
    p = _plan(spark, "x_dup_ngram_coverage")
    assert "CartesianProduct" not in p
    assert "HashAggregate" in p
    assert "Window" in p  # the posexplode+lead stitch


def test_dsir_scalar_totals_ride_a_broadcast(spark):
    """The model totals are a one-row frame joined by BNLJ broadcast;
    the token->model join itself must be an equi-join."""
    p = _plan(spark, "x_dsir_importance")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p  # the one-row totals frame
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or \
        "BroadcastHashJoin" in p


def test_repetition_twin_single_doc_exchange(spark):
    """repetition_metrics' window and groupBy share the doc key; the
    only exchanges are the doc-key shuffle plus the Expand'd
    distinct-agg re-shuffles — no nested loop anywhere."""
    p = _plan(spark, "x_repetition_metrics")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Window" in p and "Expand" in p


def test_bucketed_fact_join_deletes_both_exchanges(spark, tmp_path):
    """lineitem x orders on the order key: bucketed into the same
    bucket count on both sides, the join must read co-located buckets
    — zero Exchange anywhere in the plan — while the unbucketed twin
    shuffles both sides. The SCALE.md fact-to-fact claim, executable."""
    import contextlib
    import io

    from snowflake_data_pipeline_demo_spark.sources import testdata
    from snowflake_data_pipeline_demo_spark.sources.bucketed import (
        bucket_spec, write_bucketed,
    )

    li = testdata.load(spark, SF, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    od = testdata.load(spark, SF, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    write_bucketed(li, "li_b", ["l_orderkey"], 8, sort_cols=["l_orderkey"])
    write_bucketed(od, "od_b", ["o_orderkey"], 8, sort_cols=["o_orderkey"])
    # sf0.001 tables are broadcast-sized; force the shuffle-vs-bucket
    # comparison the claim is about (at fact scale broadcast is off the
    # table anyway)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        spec = bucket_spec(spark, "li_b")
        assert spec["num_buckets"] == 8
        assert spec["bucket_cols"] == ["l_orderkey"]

        def plan_of(join_df):
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                join_df.explain("formatted")
            return buf.getvalue()

        bucketed = spark.table("li_b").join(
            spark.table("od_b"),
            spark.table("li_b")["l_orderkey"] == spark.table("od_b")["o_orderkey"],
        )
        p = plan_of(bucketed)
        assert "SortMergeJoin" in p
        assert "Exchange" not in p, "bucketed join must not shuffle"

        plain = li.join(od, li["l_orderkey"] == od["o_orderkey"])
        # disable AQE broadcast demotion noise: just assert it shuffles
        assert "Exchange" in plan_of(plain)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS od_b")


def test_aqe_splits_skewed_join_partition(spark):
    """The skew story SCALE.md leans on, executed: a hot key holding
    half the rows makes AQE re-plan the fact join with
    SortMergeJoin(skew=true) — the runtime split that replaces manual
    salting for plannable skew (operators/skew.py remains the
    escape hatch AQE can't cover: skewed AGGREGATION keys)."""
    from pyspark.sql import functions as F

    tuned = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in tuned}
    for k, v in tuned.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(200_000).select(
            F.when(F.col("id") % 2 == 0, F.lit(7))
            .otherwise(F.col("id") % 97).alias("k"),
            F.concat(F.lit("payload-"), F.col("id").cast("string")).alias("pay"),
        )
        right = spark.range(100).select(
            F.col("id").alias("k"), F.lit("dim").alias("d")
        )
        agg = left.join(right, "k").agg(F.sum(F.length("pay")))
        agg.collect()
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_encoding_quality_is_pure_projection(spark):
    p = _plan(spark, "x_encoding_quality")
    assert "Exchange" not in p


def test_classifier_serving_stays_in_hash_aggregate(spark):
    # the doc-key mean must combine map-side; a SortAggregate here means
    # the weight expression fell out of codegen
    p = _plan(spark, "x_quality_classifier")
    assert "SortAggregate" not in p


def test_source_quota_window_is_group_limited_two_phase(spark):
    # r11: the quota lane plans ONE logical window, but the engine's
    # InferWindowGroupLimit must two-phase it physically —
    # WindowGroupLimit(Partial) below the exchange caps each map
    # partition at k rows per group, so a 100 TB hot domain ships
    # <= k rows per upstream partition instead of its whole row set
    # (measured flat to 1B rows, scripts/window_spill_run.py). An
    # engine upgrade or conf change that loses the rewrite fails this
    # pin and re-opens the straggler question; the explicit salted
    # fallback (two Window nodes) is pinned by test_extensions.py::
    # test_group_quota_auto_dispatch_switch_point.
    p = _plan(spark, "x_source_quota")
    assert p.count("Window (") == 1
    # structural, not positional (r12, r11 ADVICE: anchoring on the
    # FIRST Exchange line mis-selects if the plan ever gains an
    # earlier scan-side/AQE exchange): the rewrite's signature is
    # exactly two WindowGroupLimit nodes whose detail blocks carry
    # Partial (map-side, caps each partition at k rows per group
    # BEFORE the shuffle) and Final respectively.
    import re as _re
    ids = sorted(set(_re.findall(r"WindowGroupLimit \((\d+)\)", p)), key=int)
    assert len(ids) == 2, p
    modes = []
    for nid in ids:
        detail = p.split(f"({nid}) WindowGroupLimit", 1)[1].split("\n\n", 1)[0]
        modes.append("Partial" if "Partial" in detail
                     else "Final" if "Final" in detail else "?")
    assert sorted(modes) == ["Final", "Partial"], (modes, p)


def test_bpe_pair_counting_stays_in_hash_aggregate(spark):
    p = _plan(spark, "x_bpe_pairs")
    assert "SortAggregate" not in p


def test_cluster_quota_assignment_is_joinless(spark):
    # ivf_assign holds the centroids driver-side: the assignment must
    # not plan a join (the cross-join + max_by alternative shuffles the
    # corpus); the only joins allowed come from the quota phases
    p = _plan(spark, "x_cluster_quota")
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p
    # auto dispatch plans the naive window at test scale (r10)
    assert p.count("Window (") == 1


def test_token_ids_vocab_is_distributed_topk(spark):
    # the vocabulary cut must be TakeOrdered (distributed top-k), and
    # the id-rank window then sees <= vocab_size rows; a refactor back
    # to ranking every distinct token in one partition is the web-scale
    # vocabulary trap
    p = _plan(spark, "x_token_ids")
    assert "TakeOrdered" in p


def test_corpus_report_is_one_hash_agg_over_scan(spark):
    # volume/quality/lang are scan-time projections; the report must be
    # one source-key HashAggregate — a SortAggregate or a join here
    # means a signal expression fell out of the single-pass shape
    p = _plan(spark, "x_corpus_report")
    assert "SortAggregate" not in p
    assert "Join" not in p


def test_paragraph_dedup_shuffles_keys_not_double_text(spark):
    """Paragraph dedup's keeper decision must be a hash agg on the md5
    fingerprint whose min(struct) combines map-side (HashAggregate, no
    SortAggregate fallback), and the plan must contain no broadcast of
    the paragraph table (both sides are corpus-scale) and no cartesian."""
    p = _plan(spark, "x_paragraph_dedup")
    assert "HashAggregate" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_distinct_tokens_hll_is_split_aggs_plus_broadcast(spark):
    """The HLL/exact cardinality query is two explode-projection group
    aggs (unigram, bigram) stitched by a BROADCAST join on the
    dim-scale group key — never a SortMergeJoin, never a window, and
    never an Expand over a unioned gram stream (the union form plans
    countDistinct x2 as Expand and measured 1.65x slower)."""
    p = _plan(spark, "x_distinct_tokens_hll")
    assert "HashAggregate" in p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    assert "Window" not in p
    assert "Expand" not in p


def test_trained_cluster_quota_assignment_is_joinless(spark):
    """The trained-centroid mixture must keep the assignment shuffle-
    free (Arrow matmul projection, no join against the centroid frame)
    — its only exchanges come from the quota phase's window(s)."""
    p = _plan(spark, "x_cluster_quota_trained")
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p
    assert "CartesianProduct" not in p


def test_length_quantiles_sketch_two_exchanges_broadcast_stitch(spark):
    """The sketch-profile lane must be: one partial-aggregable
    percentile_approx agg (its exchange carries O(groups x summary)),
    whose dim-scale result BROADCASTS back onto the scan for the
    rank-envelope check — whose conditional sums again combine
    map-side (HashAggregate, one exchange). Never a SortMergeJoin
    (would shuffle the corpus on the group key) and never a Window."""
    p = _plan(spark, "x_length_quantiles_sketch")
    assert "ObjectHashAggregate" in p or "HashAggregate" in p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    assert "Window" not in p
    # sketch agg + rank-check agg: exactly two shuffle exchanges
    n_shuffles = p.count("Exchange hashpartitioning")
    assert n_shuffles <= 2, f"extra shuffles in sketch lane:\n{p}"


def test_hll_cross_run_merge_is_sketch_aggs_plus_broadcast(spark):
    """The cross-run merge lane: sketch aggs (hll_sketch_agg /
    hll_union_agg are object hash aggregates) stitched to the exact
    lane by a broadcast on the dim-scale group key — no SortMergeJoin,
    no cartesian, no window."""
    p = _plan(spark, "x_hll_cross_run_merge")
    assert "ObjectHashAggregate" in p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    assert "Window" not in p


def test_bucketed_band_index_probe_shuffles_batch_side_only(spark, tmp_path):
    """The streaming dedup docstring's scale claim, executable: persist
    the banded-key index BUCKETED on the join key, and the per-batch
    probe join must leave the index side exchange-free — only the
    O(batch) probe side shuffles into the bucket layout. At 100 TB the
    index is the big side; this is the difference between shuffling
    the whole index every micro-batch and shuffling just the batch."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from snowflake_data_pipeline_demo_spark.operators.dedup import (
        banded_keys, minhash_signatures,
    )
    from snowflake_data_pipeline_demo_spark.sources import testdata
    from snowflake_data_pipeline_demo_spark.sources.bucketed import (
        write_bucketed,
    )

    docs = testdata.load(spark, SF, "documents").select("doc_id", "text")
    hist = banded_keys(minhash_signatures(docs), 4)
    write_bucketed(hist, "band_idx_b", ["band", "key"], 8,
                   sort_cols=["band", "key"])
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe = banded_keys(
            minhash_signatures(
                docs.filter(F.col("doc_id") % 7 == 0)
            ), 4,
        ).withColumnRenamed("doc_id", "probe_id")
        joined = spark.table("band_idx_b").alias("i").join(
            probe.alias("p"),
            (F.col("i.key") == F.col("p.key"))
            & (F.col("i.band") == F.col("p.band")),
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        p = buf.getvalue()
        # the INDEX branch (first child of the SortMergeJoin) must be
        # exchange-free — the scan feeds the join via its bucket
        # layout; the probe branch keeps its own exchanges (signature
        # agg + the shuffle into the bucket layout), both O(batch)
        lines = p.splitlines()
        smj = next(i for i, ln in enumerate(lines) if "SortMergeJoin" in ln)
        first = next(i for i in range(smj + 1, len(lines))
                     if lines[i].lstrip().startswith(":-"))
        indent = len(lines[first]) - len(lines[first].lstrip())
        second = next(i for i in range(first + 1, len(lines))
                      if lines[i][:indent].strip() == ""
                      and lines[i].lstrip().startswith("+-"))
        index_branch = lines[first:second]
        assert any("band_idx_b" in ln for ln in index_branch), p
        assert not any("Exchange" in ln for ln in index_branch), p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS band_idx_b")


def test_histogram_quantiles_windows_are_group_bounded(spark):
    """The cross-run quantile lane's shape contract (SCALE.md): bucket
    counts combine map-side (partial HashAggregate — the exchanges
    carry O(groups x shards x <=217 buckets) rows, never corpus rows),
    and BOTH window functions are partitioned by the group key — a
    partition-less window here would drag every bucket row to one
    task. No join in the lane at all."""
    p = _plan(spark, "x_histogram_quantiles")
    assert "HashAggregate" in p
    # two windows (cumulative + total), each partitioned by source
    assert p.count("windowspecdefinition(source") == 2, p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    # count -> merge -> window repartition: three exchanges, all over
    # bucket-scale rows
    n = p.count("hashpartitioning(")
    assert n <= 3, f"extra shuffles in histogram lane ({n}):\n{p}"


def test_bloom_probe_filter_side_is_broadcast(spark):
    """The Bloom seen-set probe must broadcast the m/32-row block
    table — the batch side joins exchange-free (its only shuffle is
    the per-id bool_and re-group), never a sort-merge join against
    what is by construction a bounded-size filter."""
    from snowflake_data_pipeline_demo_spark.operators import dedup

    df = spark.createDataFrame(
        [(i, f"k{i}") for i in range(100)], "doc_id long, fp string")
    blocks = dedup.bloom_merge(dedup.bloom_shard_blocks(df, "fp"))
    probed = dedup.bloom_probe(df, blocks, "fp")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        probed.explain("formatted")
    p = buf.getvalue()
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_cms_lookup_sketch_side_is_broadcast(spark):
    """cms_lookup must broadcast the depth*width-row sketch — the
    candidate side joins exchange-free apart from the per-candidate
    min re-group."""
    from pyspark.sql import functions as F

    from snowflake_data_pipeline_demo_spark.operators import text as T

    corpus = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(50)],
        "doc_id long, text string")
    cms = T.cms_merge(
        T.token_cms_shard_sketches(corpus, F.lit(0).cast("long")))
    cand = spark.createDataFrame(
        [("alpha",), ("beta",)], "tok string")
    looked = T.cms_lookup(cms, cand, token_col="tok")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        looked.explain("formatted")
    p = buf.getvalue()
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_pmi_unigram_sides_broadcast_and_totals_one_row(spark):
    """collocation_pmi must broadcast the vocab-scale unigram table
    (both the x and y sides) and ride the totals on a one-row
    broadcast — the pair table is the only fact-scale participant and
    must never sort-merge against the vocab."""
    p = _plan(spark, "x_token_pmi")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_embed_covariance_prod_is_arrow_plus_single_agg(spark):
    """The covariance lane (and its x_embed_covariance_prod alias) must
    be mapInArrow (one Arrow batch -> one Gram matrix) feeding a single
    hash agg over dim^2 groups — no join, no window, no per-element
    lambda forest."""
    p = _plan(spark, "x_embed_covariance_prod")
    assert "MapInArrow" in p
    assert "HashAggregate" in p
    assert "Join" not in p


def test_lane_caches_drain_between_registry_lanes(spark):
    """Cache hygiene (r06 verdict ask #4): registry lanes cache
    materialization boundaries (VARIANT parse, LSH probe bases, winnow
    posting frames) via caching.lane_cache, and the @query wrapper
    drains the PREVIOUS lane's caches before building the next — so a
    full-registry sweep in one JVM (driver correctness pass, bench)
    holds at most one lane's cached partitions at a time. Run three
    cache-heavy lanes back to back and pin the persistent-RDD count:
    it must not grow lane-over-lane, and a final drain must empty it."""
    from snowflake_data_pipeline_demo_spark.caching import (
        release_lane_caches,
    )
    from snowflake_data_pipeline_demo_spark.plans.queries import QUERIES

    def cached_ids() -> set:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    spark.catalog.clearCache()
    release_lane_caches()
    # track NEW RDD ids relative to this baseline SET: earlier tests in
    # a full-suite run leave localCheckpoint RDDs behind, which
    # clearCache deliberately does not touch AND which ContextCleaner
    # may reclaim at any GC while this test runs (a count-based delta
    # went NEGATIVE in a full-suite run for exactly that reason) —
    # set-difference counts only what these lanes themselves persist
    base_ids = cached_ids()
    counts = []
    # each of these lanes caches at least one boundary frame;
    # x_dedup_components covers the propagation loop's label caches
    # (r07 review: the FINAL labels frame leaked as a bare .cache())
    for name in ["flagship_secure_report", "x_dedup_ngram_jaccard",
                 "x_winnow_overlap", "x_dedup_components"]:
        QUERIES[name].builder(spark, SF).write.format("noop").mode(
            "overwrite").save()
        counts.append(len(cached_ids() - base_ids))
    assert counts[0] >= 1  # the tracking is live, not vacuous
    # the live count only ever reflects the CURRENT lane's caches:
    # no lane-over-lane growth beyond the first lane's own cache count
    assert max(counts) <= counts[0] + 2, counts
    release_lane_caches()
    assert not (cached_ids() - base_ids), \
        "a lane cached outside lane_cache tracking"


#: the lanes that write scratch tables (stage files, sketch runs, state)
_STATEFUL_LANES = [
    "s6_stage_select", "s7_metadata_filename", "x_shard_manifest_audit",
    "x_stream_minhash_dedup", "x_hll_cross_run_merge",
    "x_bloom_cross_run_probe", "x_cms_heavy_hitters",
    "x_stream_corpus_profile", "x_dedup_components_incremental",
]


def test_stateful_lanes_leave_tmpdir_as_it_was(spark, tmp_path, monkeypatch):
    """Each stateful lane writes under a caching.lane_tmpdir, and the
    release that runs before the next lane deletes it: building and
    collecting every stateful lane leaves TMPDIR as it was."""
    import tempfile

    from snowflake_data_pipeline_demo_spark.caching import (
        release_lane_caches,
    )

    release_lane_caches()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    for name in _STATEFUL_LANES:
        QUERIES[name].builder(spark, SF).write.format("noop").mode(
            "overwrite").save()
        assert list(tmp_path.iterdir()), name  # the lane did write there
        release_lane_caches()
        assert not list(tmp_path.iterdir()), name


def test_stray_persistent_rdd_sweep_reaches_local_checkpoints():
    """release_stray_persistent_rdds must free what neither
    spark.catalog.clearCache() nor release_lane_caches can reach:
    localCheckpoint blocks (bigstar lineage cuts, streaming scratch).
    bench.py calls it after each fully-executed lane so a 4-pass sweep
    over ~80 lanes ends at ZERO persistent RDDs (r06 bench exited with
    18 leftovers). Only bench may call it — a checkpoint's lineage is
    truncated, so unpersisting one that a live plan still needs is
    unrecoverable; the @query wrapper deliberately does not.

    Runs in a SUBPROCESS with its own SparkContext (r07 ADVICE):
    persistent RDDs are per-CONTEXT, so exercising a
    force-unpersist-everything sweep against the shared session-scoped
    fixture would destroy any checkpointed frame another test holds
    across tests, with order-dependent unrecoverable failures."""
    import os
    import subprocess
    import sys
    import textwrap

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {repo_root!r})
        from pyspark.sql import SparkSession
        from snowflake_data_pipeline_demo_spark.caching import (
            release_stray_persistent_rdds,
        )
        spark = (SparkSession.builder.master("local[4]")
                 .appName("sweep-isolated")
                 .config("spark.sql.shuffle.partitions", "4")
                 .config("spark.ui.enabled", "false")
                 .config("spark.driver.memory", "2g")
                 .getOrCreate())
        assert len(spark.sparkContext._jsc.getPersistentRDDs()) == 0
        ck = spark.range(100).localCheckpoint()
        assert ck.count() == 100
        cached = spark.range(50).cache()
        cached.count()
        assert len(spark.sparkContext._jsc.getPersistentRDDs()) == 2
        # clearCache reaches the catalog cache, NOT the checkpoint
        spark.catalog.clearCache()
        assert len(spark.sparkContext._jsc.getPersistentRDDs()) == 1
        assert release_stray_persistent_rdds(spark) == 1
        assert len(spark.sparkContext._jsc.getPersistentRDDs()) == 0
        spark.stop()
        print("SWEEP-OK")
    """)
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        timeout=300, env={**os.environ, "SPARK_LOCAL_IP": "127.0.0.1"},
    )
    assert out.returncode == 0 and "SWEEP-OK" in out.stdout, (
        out.stdout[-2000:] + out.stderr[-2000:]
    )
