#!/usr/bin/env python
"""Realistic-vocabulary winnowing scale run (r06 verdict ask #3).

The graded winnow lanes run over the 50-doc _DPLAG fixture because the
driver testdata's ~30-word vocabulary makes natural k-gram overlap
near-cartesian BY CONSTRUCTION (SCALE.md). This script validates the
posting-list join's behavior on a corpus with a REALISTIC vocabulary:

- 10,240-word vocab, Zipf-ish frequency skew (head words model
  boilerplate tokens), ~120 tokens/doc, fully deterministic
  (md5-derived draws — no RNG, so reruns reproduce bit-for-bit);
- planted plagiarism: every 37th doc copies a 40-token span from
  doc (gid - 7), giving known-true pairs to measure recall against;
- sweeps 5k / 20k / 80k docs, winnow_overlap_pairs with and without
  the max_df kill-switch, recording wall time, pair counts,
  planted-pair recall, fingerprint density vs the 2/(w+1) claim
  (text.py winnow_fingerprints docstring), and posting-list skew (max/p99
  document frequency).

Results are recorded in SCALE.md. Run:  python scripts/winnow_scale_run.py
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from snowflake_data_pipeline_demo_spark.operators.text import (  # noqa: E402
    winnow_fingerprints, winnow_hash_sets, winnow_overlap_pairs,
)
from snowflake_data_pipeline_demo_spark.caching import (  # noqa: E402
    release_lane_caches,
)
from snowflake_data_pipeline_demo_spark.session import get_spark  # noqa: E402

VOCAB = 10_240
TOKENS_PER_DOC = 120
SPAN = (40, 79)          # planted copy span positions
K, W, MIN_SHARED = 8, 4, 3


def corpus(spark, n_docs: int, footer_start: int | None = None):
    """Deterministic synthetic corpus: token j of doc gid is drawn from
    the vocab by squashing a uniform md5 draw through pow(u, 2.2) —
    a Zipf-ish skew where rank-0 head words are common (boilerplate)
    and the tail is diverse. Every 37th doc (gid >= 7) copies tokens
    40..79 verbatim from doc gid-7.

    ``footer_start`` (the r08 adversarial-skew run,
    scripts/winnow_skew_run.py) overrides positions >= footer_start
    with the SAME md5 draws in every doc (source gid pinned to -1) —
    a byte-identical boilerplate footer whose k-grams have
    corpus-length posting lists. ONE generator serves both runs so a
    change to the Zipf exponent or the planted-copy predicate can
    never silently diverge the two corpora (r08 review)."""
    base = spark.range(n_docs).select(F.col("id").alias("gid"))

    def tok(j):
        src = F.when(
            (F.col("gid") % 37 == 0) & (F.col("gid") >= 7)
            & (j >= SPAN[0]) & (j <= SPAN[1]),
            F.col("gid") - 7,
        ).otherwise(F.col("gid"))
        if footer_start is not None:
            src = F.when(j >= footer_start, F.lit(-1)).otherwise(src)
        u = F.conv(
            F.substring(
                F.md5(F.concat_ws("-", src.cast("string"),
                                  j.cast("string"))), 1, 8),
            16, 10,
        ).cast("double") / F.lit(float(1 << 32))
        idx = F.floor(F.pow(u, F.lit(2.2)) * VOCAB).cast("long")
        return F.concat(F.lit("w"), idx.cast("string"))

    return base.select(
        "gid",
        F.array_join(
            F.transform(F.sequence(F.lit(0), F.lit(TOKENS_PER_DOC - 1)),
                        tok), " ",
        ).alias("text"),
    )


def main() -> None:
    spark = get_spark("winnow_scale")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm JVM
    out = []
    for n_docs in (5_000, 20_000, 80_000):
        docs = corpus(spark, n_docs)
        docs = docs.repartition(32).cache()
        docs.count()

        # fingerprint density vs the 2/(w+1) expectation
        fp = winnow_fingerprints(docs, id_col="gid", k=K, w=W)
        dens = fp.agg(
            (F.sum("n_fps") / F.sum("n_kgrams")).alias("density"),
            F.avg("n_fps").alias("avg_fps"),
        ).first()

        # posting-list document frequency: the skew the join must eat
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
        ).first()

        planted = docs.filter(
            (F.col("gid") % 37 == 0) & (F.col("gid") >= 7)
        ).count()

        row = {
            "n_docs": n_docs,
            "density": round(float(dens["density"]), 4),
            "density_claim": round(2 / (W + 1), 4),
            "avg_fps_per_doc": round(float(dens["avg_fps"]), 1),
            "n_hashes": int(skew["n_hashes"]),
            "max_df": int(skew["max_df"]),
            "p99_df": int(skew["p99_df"]),
            "raw_join_pairs": int(skew["join_pairs"]),
            "planted": planted,
        }
        for label, max_df in (("no_max_df", None), ("max_df_64", 64)):
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
            # winnow_overlap_pairs lane_cache()s its posting frame;
            # outside the @query wrapper nothing drains it — do so here
            release_lane_caches()
            row[label] = {
                "pairs": n_pairs, "sec": secs,
                "planted_recall": round(hits / planted, 4) if planted else None,
            }
        docs.unpersist()
        out.append(row)
        print(json.dumps(row), flush=True)
    print("== summary ==")
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
