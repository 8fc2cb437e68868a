#!/usr/bin/env python
"""Day-N ingest flatness for the SEMANTIC (IVF-indexed) dedup path
(round-8 scale run; round-9 adds the AUTOSCALED arm).

Same experimental shape as scripts/dayn_scale_run.py: SIX consecutive
daily batches of 10,000 embedding vectors through
streaming/dedup.semantic_dedup_batch_fn in INDEXED mode
(assigned_table set — the persisted (id, vec, centroid_id) index), with
20% of each post-day-0 batch re-delivering day-0 vectors verbatim under
fresh ids. Measure per-day wall time while the index grows ~5x; the
contrast is the from-scratch bootstrap at days 2 and 5 (fresh state,
all history in one batch). The claim under test: an indexed-mode batch
pays O(batch) assignment (one Arrow/numpy matmul pass) plus
cluster-key equi-joins against the index — per-day cost flat while
history grows.

Round-9 arm (`--autoscale`, run by default alongside the fixed arm):
the same six days through streaming/dedup.SemanticIndexAutoscaler —
the nlist-sizing contract as code. The r08 fixed-nlist run measured
+27% per-day drift over 2.8x history growth (per-cluster occupancy
grows linearly when nlist is frozen); the autoscaler retrains + re-
backfills on the geometric schedule, keeping occupancy in
[target, factor*target), so the probe term stays O(batch) and the
day-N curve should flatten to the MinHash shape. Retrain cost (the
amortized maintenance) is timed separately from the batch's ingest
cost — a production pipeline runs retrains in a maintenance window,
and folding them into one day's ingest number would misattribute an
amortized cost to a marginal one (the honest split: report both).

Vectors are deterministic (no RNG, same md5-squash idiom as the winnow
corpus and the MinHash day-N run): element j of gid g is
md5(g-j) mapped to [-1, 1). Re-delivery REBUILDS day-0 vectors from the
day-0 gid through the same expression, so equal gid means bit-identical
floats and the planted duplicates score cosine exactly 1.0. Centroids
are 64 vectors from a disjoint gid range (salt 10^9) — fixed plan
literals, as a production pipeline would persist from a one-time
k-means.

Results recorded in SCALE.md round-8. Run:
    python scripts/dayn_semantic_scale_run.py
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from snowflake_data_pipeline_demo_spark.caching import (  # noqa: E402
    release_lane_caches, release_stray_persistent_rdds,
)
from snowflake_data_pipeline_demo_spark.session import get_spark  # noqa: E402
from snowflake_data_pipeline_demo_spark.sources.catalog import Table  # noqa: E402
from snowflake_data_pipeline_demo_spark.streaming.dedup import (  # noqa: E402
    semantic_dedup_batch_fn,
)

DIM = 64
NLIST = 64
DOCS_PER_DAY = 10_000
N_DAYS = 6
REDELIVER_FRAC = 5  # 1-in-5 of each post-day-0 batch re-delivers day 0
CENTROID_SALT = 1_000_000_000

VEC_SCHEMA = T.StructType([
    T.StructField("vec_id", T.LongType()),
    T.StructField("embedding", T.ArrayType(T.DoubleType())),
])


def gen_vec(src_gid):
    """Deterministic dim-64 embedding for a source gid COLUMN: element
    j is md5(gid-j)'s leading 8 hex digits as a uniform draw mapped to
    [-1, 1). ONE shared generator (day-0 path and re-delivery path
    evaluate the identical expression) so equal src_gid means
    bit-identical vectors — the planted duplicates MUST score
    cosine == 1.0 for the run's kept-counts to be an oracle."""
    def elem(j):
        u = F.conv(
            F.substring(
                F.md5(F.concat_ws("-", src_gid.cast("string"),
                                  j.cast("string"))), 1, 8),
            16, 10,
        ).cast("double") / F.lit(float(1 << 32))
        return u * 2.0 - 1.0

    return F.transform(F.sequence(F.lit(0), F.lit(DIM - 1)), elem)


def day_batch(spark, day: int):
    """Day ``day``'s 10k-vector batch: vec_ids are day-offset; for
    day > 0 every REDELIVER_FRAC-th vector re-delivers day-0 CONTENT
    verbatim under a fresh vec_id — the duplicate flood the
    cluster-key probe must drop against the growing index."""
    lo, hi = day * DOCS_PER_DAY, (day + 1) * DOCS_PER_DAY
    base = spark.range(lo, hi).select(F.col("id").alias("vec_id"))
    src = F.col("vec_id")
    if day > 0:
        src = F.when(
            F.col("vec_id") % REDELIVER_FRAC == 0,
            F.col("vec_id") % DOCS_PER_DAY,   # a day-0 gid
        ).otherwise(F.col("vec_id"))
    return base.select("vec_id", gen_vec(src).alias("embedding"))


def centroid_frame(spark):
    """NLIST fixed centroids from a gid range disjoint from every
    batch gid (salted) — stands in for the persisted k-means output a
    production pipeline trains once. Deliberately NOT checkpointed:
    ivf_assign collects the 64 rows driver-side per call (trivial), and a localCheckpoint here would be destroyed by the
    stray-RDD sweep between the incremental and scratch phases —
    checkpoint blocks are unrecoverable once swept (first run of this
    script died exactly that way: CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)."""
    return spark.range(NLIST).select(
        F.col("id").cast("int").alias("centroid_id"),
        # ivf_assign reads the centroid vector under the corpus
        # vec_col name ("embedding")
        gen_vec(F.col("id") + CENTROID_SALT).alias("embedding"),
    )


def make_tables(spark, root: str):
    clean = Table(spark, f"{root}/clean", VEC_SCHEMA)
    assigned = Table(spark, f"{root}/assigned", T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
        # ivf_assign emits centroid ids as long, whatever the type of
        # the centroid frame's id column
        T.StructField("centroid_id", T.LongType()),
    ]))
    return clean, assigned


def main() -> None:
    spark = get_spark("dayn_semantic_scale")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm JVM
    centroids = centroid_frame(spark)

    root = tempfile.mkdtemp(prefix="dayn_sem_state_")
    clean, assigned = make_tables(spark, root)
    fn = semantic_dedup_batch_fn(clean, centroids, threshold=0.85,
                                 assigned_table=assigned)

    batches = []
    for day in range(N_DAYS):
        b = day_batch(spark, day).repartition(32)
        b.write.mode("overwrite").parquet(f"{root}/staged/day={day}")
        batches.append(spark.read.parquet(f"{root}/staged/day={day}"))

    out = {"per_day": [], "autoscaled": [], "scratch": []}
    for day in range(N_DAYS):
        t0 = time.time()
        fn(batches[day], day)
        secs = round(time.time() - t0, 2)
        # tracked caches only INSIDE the timed loop; the stray-RDD
        # sweep waits until after (per-pass rule — async block
        # removals would contaminate the next day's timing)
        release_lane_caches()
        row = {
            "day": day,
            "sec": secs,
            "index_rows": assigned.read().count(),
            "kept": spark.read.parquet(
                f"{root}/clean/batch={day}").count(),
        }
        out["per_day"].append(row)
        print(json.dumps(row), flush=True)
    release_stray_persistent_rdds(spark)

    # -- AUTOSCALED arm (r09): same six days through the sizing
    # contract. target_occupancy=128 puts the day-0 bootstrap at
    # nlist=79 (comparable to the fixed arm's 64) and fires exactly
    # one geometric retrain mid-run (day 3: n=26k -> desired 204 >=
    # 2*79), so the run shows both regimes: pre-retrain occupancy
    # climbing toward the bound, post-retrain occupancy reset to
    # target. Sizing/retrain is timed SEPARATELY from the batch —
    # amortized maintenance vs marginal ingest cost.
    from snowflake_data_pipeline_demo_spark.streaming.dedup import (
        SemanticIndexAutoscaler,
    )

    aroot = tempfile.mkdtemp(prefix="dayn_sem_auto_")
    aclean, _ = make_tables(spark, aroot)
    scaler = SemanticIndexAutoscaler(
        aclean, f"{aroot}/idx", threshold=0.85,
        target_occupancy=128, retrain_factor=2.0,
    )
    for day in range(N_DAYS):
        t0 = time.time()
        info = scaler.maybe_retrain(bootstrap_df=batches[day])
        t_size = round(time.time() - t0, 2)
        t0 = time.time()
        scaler.inner_fn(info["epoch"])(batches[day], day)
        secs = round(time.time() - t0, 2)
        release_lane_caches()
        row = {
            "day": day,
            "sec": secs,
            "sizing_sec": t_size,
            "action": info["action"],
            "epoch": info["epoch"],
            "nlist": info["nlist"],
            "index_rows": scaler.assigned_table(info["epoch"]).count(),
            "kept": spark.read.parquet(
                f"{aroot}/clean/batch={day}").count(),
        }
        out["autoscaled"].append(row)
        print(json.dumps(row), flush=True)
    release_stray_persistent_rdds(spark)
    shutil.rmtree(aroot, ignore_errors=True)

    # contrast: bootstrap-from-scratch over the union at day 2 and 5 —
    # the cost a pipeline WITHOUT a persisted index pays every day
    for upto in (2, 5):
        sroot = tempfile.mkdtemp(prefix="dayn_sem_scratch_")
        c2, a2 = make_tables(spark, sroot)
        fn2 = semantic_dedup_batch_fn(c2, centroids, threshold=0.85,
                                      assigned_table=a2)
        union = batches[0]
        for b in batches[1:upto + 1]:
            union = union.unionByName(b)
        t0 = time.time()
        fn2(union, 0)
        secs = round(time.time() - t0, 2)
        release_lane_caches()
        release_stray_persistent_rdds(spark)
        row = {"scratch_through_day": upto,
               "vecs": (upto + 1) * DOCS_PER_DAY, "sec": secs}
        out["scratch"].append(row)
        print(json.dumps(row), flush=True)
        shutil.rmtree(sroot, ignore_errors=True)

    print("== summary ==")
    print(json.dumps(out, indent=1))
    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
