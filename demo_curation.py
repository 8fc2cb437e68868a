#!/usr/bin/env python
"""Run-book for the training-data surface: curate a document corpus
end to end — dedup -> boilerplate (chunk) dedup -> decontaminate ->
quality-filter -> domain quota -> semantic dedup -> importance-weight
-> tokenize-to-ids -> chunk -> pack -> shuffle -> shard -> split —
printing what a curation run reports at every scale.

Usage: python demo_curation.py [sf_dir]   (default /root/testdata/sf0.01)
"""

from __future__ import annotations

import math
import sys

from pyspark.sql import functions as F

from snowflake_data_pipeline_demo_spark.operators import (
    chunking, curation, decontam, dedup, packing, sampling, skew, text,
)
from snowflake_data_pipeline_demo_spark.session import get_spark
from snowflake_data_pipeline_demo_spark.sources import testdata


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("demo_curation")
    d = testdata.load(spark, sf_dir, "documents")
    eval_docs = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)

    print("== curation funnel:")
    funnel = curation.curation_funnel(corpus, eval_docs, min_required=1).orderBy("stage_id")
    funnel.show(truncate=False)

    # materialize the kept set and carry it through every later stage
    deduped = dedup.drop_exact_dups(corpus)

    # boilerplate removal: cross-doc chunk-level exact-substring dedup;
    # downstream stages consume the REASSEMBLED text (docs fully made
    # of boilerplate drop out here). NOTE the contract: reassembled
    # text is the tokens() rendering (lowercased, punctuation
    # collapsed) — fine here because every later stage tokenizes the
    # same way; a pipeline that must preserve original bytes uses
    # dedup.paragraph_dedup instead (original-character reassembly)
    reassembled = dedup.chunk_dedup_reassemble(deduped, window=8)
    removed = reassembled.agg(
        F.sum(F.col("n_chunks") - F.col("kept_chunks")).alias("n")
    ).first()["n"]
    print(f"== chunk dedup: {removed} duplicated 8-token chunks removed")
    body = (
        deduped.select("doc_id", "source")
        .join(
            reassembled.filter(F.col("kept_tokens") > 0)
            .select("doc_id", F.col("deduped_text").alias("text")),
            "doc_id",
        )
    )

    clean = decontam.decontaminate(body, eval_docs)
    kept = clean.filter(text.gopher_flags("text", min_required=1)["keep"])

    # corpus profile BEFORE sampling decisions: the percentile SKETCH
    # (the 100 TB path — fixed-size mergeable summaries; the exact
    # lane is its verification twin) and the temperature weights the
    # mixture solver would run with. A multi-run pipeline would
    # instead persist text.length_histogram_shard_sketches rows here
    # and report via histogram_merge_quantiles over ALL runs' state
    # (exact cross-run merge; see x_histogram_quantiles) — this
    # single-run demo profiles in-flight.
    print("== per-source length profile (sketch) + temperature weights:")
    profile = text.length_quantiles_sketch(
        kept.withColumn("n_chars", F.length("text"))
    )
    profile.join(
        sampling.temperature_weights(kept, alpha=0.7)
        .select("source", "weight"),
        "source",
    ).orderBy("source").show(5)

    # domain caps: at most 200 docs per source, longest first — the
    # quota'd set is what flows into tokenize/chunk/pack/shard/split
    quota = sampling.group_quota_topk(
        kept.select("source", "doc_id", F.length("text").alias("n_chars")),
        k=200,
    )
    print("== per-source quota survivors:")
    quota.groupBy("source").count().orderBy("source").show(5)
    kept = kept.join(quota.select("doc_id"), "doc_id", "left_semi").cache()

    # skew-safe enrichment in PRODUCTION shape (r09 verdict ask #7 —
    # the measured 4.2x-over-AQE salted-join win lived only in
    # scripts/skew_scale_run.py until now): attach each doc's source
    # weight by salted_join. 'source' is the funnel's canonical hot
    # key — a boilerplate-heavy domain holds a large share of corpus
    # rows — and the per-domain weight/feature table at real scale
    # sits in the too-big-to-broadcast band salting exists for. Both
    # arms asserted equal by checksum every run (at this SF Spark
    # broadcasts the tiny exploded dim, so the assert is the contract
    # being exercised, not the wall-clock win — that is measured at
    # 32M rows in SCALE.md round-9).
    weights = sampling.temperature_weights(kept, alpha=0.7) \
        .select("source", "weight")
    enriched = skew.salted_join(
        kept.select("doc_id", "source"), weights, ["source"],
        fact_unique_col="doc_id", buckets=8,
    )
    plain = kept.select("doc_id", "source").join(weights, "source")

    def _chk(df):
        r = df.agg(F.count("*").alias("n"),
                   F.sum("doc_id").alias("ids"),
                   F.sum("weight").alias("w")).first()
        return r["n"], r["ids"], r["w"]

    chk_s, chk_p = _chk(enriched), _chk(plain)
    # exact compare on the integer checksums; RELATIVE tolerance on
    # the double sum — the two arms are different physical plans, so
    # partial-sum ordering can legitimately differ in the last bits,
    # and the drift scales with the sum's magnitude at larger SF
    # (r10 ADVICE + r11 review: both a 6-dp equality and a fixed
    # absolute bound flake once sum(weight) grows)
    assert chk_s[:2] == chk_p[:2] and math.isclose(
        chk_s[2], chk_p[2], rel_tol=1e-9, abs_tol=1e-9
    ), (chk_s, chk_p)
    print(f"== salted source-weight join: {chk_s[0]} docs enriched; "
          f"salted and plain arms checksum-equal")

    # winnow overlap under planted BOILERPLATE — the measured r08 skew
    # shape (scripts/winnow_skew_run.py; SCALE.md round-8): a page
    # footer byte-identical in EVERY doc makes the UNCAPPED posting
    # join semantically WRONG, not just quadratic — every doc pair
    # shares >= min_shared footer fingerprints, so all C(n,2) pairs
    # "match" on page furniture alone. max_df drops furniture hashes
    # (df ~ corpus size) while copied-content hashes (df ~ 2-10)
    # survive — a correctness control, not a perf guard. Planted live
    # here so the run-book exercises both arms at demo scale; the
    # uncapped arm is affordable ONLY at this n (C(n,2) pairs) — at
    # corpus scale run the capped arm alone.
    footer = (" terms of service apply all rights reserved direct any "
              "content licensing redistribution or takedown questions "
              "to the corpus operations team mailbox and include the "
              "document identifier plus retrieval date in the subject "
              "line of every such request before redistribution")
    boiler = kept.select(
        "doc_id", F.concat("text", F.lit(footer)).alias("text"))
    n_b = boiler.count()
    unc = text.winnow_overlap_pairs(boiler, k=8, w=4, min_shared=3).count()
    cap = text.winnow_overlap_pairs(boiler, k=8, w=4, min_shared=3,
                                    max_df=16).count()
    assert unc == n_b * (n_b - 1) // 2, \
        "planted footer should saturate the uncapped overlap join"
    assert cap < unc, "max_df failed to kill the boilerplate postings"
    print(f"== winnow overlap under boilerplate: uncapped claims {unc} "
          f"pairs (= C({n_b},2) — page furniture counted as overlap); "
          f"max_df=16 keeps {cap} content pairs")

    # semantic dedup over the embeddings table (cluster-bounded, BLAS
    # assignment) — at scale this joins back to kept doc ids; here the
    # id spaces are separate tables, so report the embedding-side drops
    emb = testdata.load(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    sem = dedup.semdedup(emb, cent, threshold=0.4)
    n_vec = sem.count()
    n_drop = sem.filter(~F.col("is_kept")).count()
    print(f"== semantic dedup: {n_vec} vectors, {n_drop} semantic dups dropped")

    # DSIR importance vs the eval-like target sample: the weights a
    # resampling loader consumes
    print("== DSIR importance (top 5 target-like kept docs):")
    text.dsir_importance(kept, eval_docs) \
        .orderBy(F.desc("importance")).limit(5).show()

    # tokenizer surface: id sequences against the corpus vocabulary
    ids = text.tokens_to_ids(kept, vocab_size=1000)
    oov = ids.agg(
        F.round(
            F.sum(F.size(F.filter("ids", lambda x: x == 1000)))
            / F.sum("n_tokens"), 4
        ).alias("oov")
    ).first()["oov"]
    print(f"== tokenize-to-ids: corpus OOV rate vs 1000-token vocab: {oov}")

    chunks = chunking.chunk_by_tokens(kept, window=32, stride=24)
    packed = packing.pack_sequences(chunks, seq_len=64)
    n_chunks = chunks.count()
    max_pack = packed.agg(F.max("pack_id")).first()[0]
    n_packs = (max_pack + 1) if max_pack is not None else 0
    print(f"== chunks: {n_chunks}, packed 64-token sequences: {n_packs}")

    # pre-training shuffle + token-balanced shards: shards are cut IN
    # SHUFFLE ORDER (the prefix sum runs over the shuffle key), so the
    # written layout is the deterministic shuffled stream
    shuffled = sampling.deterministic_global_shuffle(kept)
    shards = packing.shard_by_token_budget(
        kept.join(shuffled.select("doc_id", "shuffle_key"), "doc_id"),
        budget=50_000, id_col="shuffle_key",
    )
    n_shards = shards.agg(F.countDistinct("shard").alias("n")).first()["n"]
    print(f"== shuffle+shard: {shards.count()} docs in deterministic "
          f"shuffled order across {n_shards} ~50k-token shards")

    print("== deterministic splits:")
    kept.withColumn("split", sampling.split_label("doc_id", 90, 5)) \
        .groupBy("split").agg(F.count("*").alias("n_docs")) \
        .orderBy("split").show()

    # cross-run state the NEXT ingest run reads instead of this text:
    # Bloom seen-set (membership), CMS counters (frequency) — persist
    # these beside the HLL/histogram profile sketches and tomorrow's
    # batch probes/merges them at O(state) cost
    keyed = kept.select(
        "doc_id", text.content_fingerprint("text").alias("fp"))
    seen = dedup.bloom_merge(dedup.bloom_shard_blocks(keyed, "fp"))
    novel = dedup.bloom_probe(keyed.limit(50), seen, "fp") \
        .filter(~F.col("maybe_member")).count()
    print(f"== bloom seen-set: {seen.count()} blocks; "
          f"{novel} of 50 re-probed docs read as new (expect 0)")

    cms = text.cms_merge(text.token_cms_shard_sketches(
        kept, (F.col("doc_id") % 4).cast("long")))
    top = text.cms_lookup(
        cms,
        kept.select(F.explode(text.tokens("text")).alias("tok"))
            .groupBy("tok").agg(F.count("*").cast("long").alias("exact"))
            .orderBy(F.desc("exact"), "tok").limit(5),
    )
    print("== CMS heavy hitters (exact vs sketch estimate):")
    top.orderBy(F.desc("exact")).show()


if __name__ == "__main__":
    main()
