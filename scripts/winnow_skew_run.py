#!/usr/bin/env python
"""Adversarial-skew winnowing run (round-8 scale run; r07 verdict ask
#6). The r07 realistic-vocab run measured ZIPF text — its worst
posting-list df was organic head-word overlap. This run plants the
actual pathology the ``max_df`` kill-switch exists for: a BOILERPLATE
footer (fixed 24-token span, byte-identical in EVERY doc — the cookie
banner / nav-chrome page furniture of a web crawl), so the footer's
winnowed fingerprints each have df == n_docs and the raw posting-list
self-join is df^2-quadratic by construction.

Claims under test:
- the analytic pair bound sum(df*(df-1)/2) explodes quadratically with
  corpus size (measured, not executed, at 20k/80k — executing the raw
  join at 80k would be ~1.5e11 joined rows, exactly the point);
- ``max_df=64`` drops the boilerplate postings and keeps the executed
  join bounded near-linearly;
- recall on the PLANTED plagiarism pairs (40-token copied spans in
  tail vocabulary, disjoint from the footer span) stays 1.0 — the
  kill-switch sacrifices only page-furniture matches, never content
  matches.

Corpus: the r07 run's deterministic Zipf generator (10,240-word vocab,
~120 tokens/doc, md5 draws, every 37th doc copies tokens 40..79 from
doc gid-7) with positions 96..119 overridden by the shared footer.
Results recorded in SCALE.md round-8. Run:
    python scripts/winnow_skew_run.py
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from snowflake_data_pipeline_demo_spark.caching import (  # noqa: E402
    release_lane_caches,
)
from snowflake_data_pipeline_demo_spark.operators.text import (  # noqa: E402
    winnow_hash_sets, winnow_overlap_pairs,
)
from snowflake_data_pipeline_demo_spark.session import get_spark  # noqa: E402

# ONE shared generator with the r07 realistic-vocab run — the footer
# is a parameter, so a change to the Zipf exponent or the planted-copy
# predicate can never silently diverge the two corpora (r08 review).
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from winnow_scale_run import corpus  # noqa: E402

FOOTER_START = 96         # positions 96..119: boilerplate footer
K, W, MIN_SHARED = 8, 4, 3
RAW_ARM_MAX_DOCS = 5_000  # execute the no-max_df arm only here


def main() -> None:
    spark = get_spark("winnow_skew")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm JVM
    out = []
    for n_docs in (5_000, 20_000, 80_000):
        docs = corpus(spark, n_docs,
                      footer_start=FOOTER_START).repartition(32).cache()
        docs.count()

        # posting-list document frequency under the planted skew
        post = (
            winnow_hash_sets(docs, "text", "gid", K, W)
            .select("gid", F.explode("hv").alias("h"))
            .groupBy("h").agg(F.count("*").alias("df"))
        )
        skew = post.agg(
            F.count("*").alias("n_hashes"),
            F.max("df").alias("max_df"),
            F.expr("percentile_approx(df, 0.99)").alias("p99_df"),
            F.sum(F.col("df") * (F.col("df") - 1) / 2).alias("join_pairs"),
            F.sum(F.when(F.col("df") >= n_docs * 0.9, 1).otherwise(0))
             .alias("boilerplate_hashes"),
        ).first()

        planted = docs.filter(
            (F.col("gid") % 37 == 0) & (F.col("gid") >= 7)
        ).count()

        row = {
            "n_docs": n_docs,
            "n_hashes": int(skew["n_hashes"]),
            "max_df": int(skew["max_df"]),
            "p99_df": int(skew["p99_df"]),
            "boilerplate_hashes": int(skew["boilerplate_hashes"]),
            "raw_join_pairs": int(skew["join_pairs"]),
            "planted": planted,
        }
        arms = [("max_df_64", 64)]
        if n_docs <= RAW_ARM_MAX_DOCS:
            # the raw arm is executed only where it is merely painful,
            # not impossible; at 80k it is ~1.5e11 joined rows — the
            # analytic raw_join_pairs column IS that measurement
            arms.insert(0, ("no_max_df", None))
        for label, max_df in arms:
            t0 = time.time()
            pairs = winnow_overlap_pairs(
                docs, id_col="gid", k=K, w=W,
                min_shared=MIN_SHARED, max_df=max_df,
            ).cache()
            n_pairs = pairs.count()
            secs = round(time.time() - t0, 2)
            hits = pairs.filter(
                (F.col("id_b") - F.col("id_a") == 7)
                & (F.col("id_b") % 37 == 0)
            ).count()
            pairs.unpersist()
            release_lane_caches()
            row[label] = {
                "pairs": n_pairs, "sec": secs,
                "planted_recall": round(hits / planted, 4)
                if planted else None,
            }
        docs.unpersist()
        out.append(row)
        print(json.dumps(row), flush=True)
    print("== summary ==")
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
