"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.

Design for 100 TB:
- exact dedup is a hash-groupBy on a 32-char key — one shuffle on a
  uniformly distributed key, partial-aggregated map-side.
- MinHash+LSH is the scale path for near-dup: signatures are a narrow
  per-row projection; candidate generation shuffles only (band_key ->
  doc_id) pairs, never text; verification touches candidate pairs only.
- the all-pairs n-gram Jaccard join exists as the small-scale oracle /
  verifier of the LSH path, not the production path.

Engine portability: hash = md5 hex strings compared lexicographically
(a uniform total order — all MinHash needs), so the DuckDB oracle can
reproduce signatures bit-for-bit. No JVM-only hash functions in any
oracle-checked path.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..caching import lane_cache
from .text import content_fingerprint, tokens


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup_clusters(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Group documents by normalized-content fingerprint: one row per
    distinct content with the representative (min id) and cluster size."""
    return (
        df.select(F.col(id_col), content_fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_docs"),
        )
    )


def drop_exact_dups(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative of each content cluster."""
    keep = exact_dedup_clusters(df, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------------------
# shingles + MinHash + LSH
# ---------------------------------------------------------------------------

def shingles(c: Column | str, k: int = 3) -> Column:
    """Word k-shingles as space-joined strings, distinct."""
    toks = tokens(c)
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(0)))
    sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))
    # short docs (< k tokens): fall back to the whole token string
    return F.when(n >= k, F.array_distinct(sh)).otherwise(
        F.array(F.concat_ws(" ", toks))
    )


def exploded_shingles(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """One row per (doc, word-k-shingle) — the scale-path shingle
    builder, whole-stage-codegen end to end: posexplode the raw regex
    split (no array lambdas), row-filter empties, window-lead to stitch
    k consecutive tokens. NON-distinct — MinHash is invariant under
    duplicate shingles, so the dedup shuffle is skipped on purpose; use
    :func:`shingles` (array form) where set semantics matter.

    The window partitions by ``id_col``, the same key the downstream
    signature ``groupBy`` uses, so Spark reuses one shuffle for both.

    Short docs (< k tokens) contribute their whole token string, like
    :func:`shingles`; null text yields a null shingle (null sig
    downstream).

    r12 optimization note — MEASURED AND KEPT AS IS: the obvious
    guide-§2.3 rewrite (per-row TRANSFORM shingle array + explode, so
    the minhash min() combines map-side and the one exchange carries
    (id, 16 longs) instead of every token row) was built, proven
    row-identical (tests/test_extensions.py::
    test_exploded_shingles_multiset_matches_window_stitch keeps the
    semantics pin), and REJECTED on measurement: warm sig build at
    sf0.1 is a wash (1.59 vs 1.71 s), but at 200k docs on a calm host
    the array form takes 15.2 s vs the stitch's 2.1-5.1 s — the
    interpreted higher-order-function cost per token dwarfs the
    exchange it saves, exactly the crossover the r04 repetition-twin
    measurement already recorded (CHANGES.md).
    The token-row exchange is the cheaper side of the trade on every
    scale this host can measure; a network-bound cluster may flip it,
    and the array form lives on in the pinning test should that ever
    need to be revisited.
    """
    from pyspark.sql import Window

    t = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.lower(F.col(text_col)), "[^a-z0-9]+")
        ).alias("_pos", "_tok"),
    ).filter(F.col("_tok") != "")
    w = Window.partitionBy(id_col).orderBy("_pos")
    lead_names = [f"_l{j}" for j in range(1, k)]
    full = (
        t.select(
            F.col(id_col), F.col("_tok"),
            *[F.lead("_tok", j).over(w).alias(nm)
              for j, nm in enumerate(lead_names, start=1)],
        )
        .filter(F.col(lead_names[-1]).isNotNull())
        .select(
            F.col(id_col),
            F.concat_ws(" ", "_tok", *lead_names).alias("_sh"),
        )
    )
    short = (
        df.filter(F.coalesce(F.size(tokens(text_col)), F.lit(0)) < k)
        .select(
            F.col(id_col),
            F.when(F.col(text_col).isNull(), F.lit(None).cast("string"))
            .otherwise(F.concat_ws(" ", tokens(text_col))).alias("_sh"),
        )
    )
    return full.unionByName(short)


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", num_hashes: int = 16,
                       k: int = 3, hash_family: str = "md5") -> DataFrame:
    """MinHash signatures, one row per doc: ``sig`` is an array whose
    element i is ``min over shingles of hash(i, shingle)``.

    Execution shape (the scale path): explode shingles once, hash at the
    top level of the projection (whole-stage codegen — NOT inside an
    array lambda, which drops the whole expression tree into the
    interpreted CodegenFallback path; measured 90x slower), then one
    ``groupBy(doc_id)`` whose ``min`` aggregates combine map-side. The
    shuffle carries only (id, num_hashes mins) — text never moves.

    hash_family:
    - ``md5``: the first 60 bits of md5(i||':'||shingle) as a long — a
      uniform total order, so the MinHash/Jaccard estimate holds, and
      the DuckDB oracle reproduces signatures bit-for-bit (engine
      portability). Long-typed on purpose: ``min(string)`` has an
      immutable agg buffer so Spark falls back to SortAggregate (sorts
      every shingle row, interpreted agg exprs); ``min(long)`` stays in
      codegen'd HashAggregate with map-side partial combine.
    - ``xxhash64``: seeded 64-bit longs — the production family: one
      seeded hash, no hex round-trip. Same estimator, not
      oracle-portable.
    """
    sh = exploded_shingles(df, text_col, id_col, k)
    if hash_family == "md5":
        def h(i: int) -> Column:
            return F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{i}:"), F.col("_sh"))), 1, 15),
                16, 10,
            ).cast("long")
    elif hash_family == "xxhash64":
        def h(i: int) -> Column:
            return F.xxhash64(F.lit(i), F.col("_sh"))
    else:
        raise ValueError(f"unknown hash_family: {hash_family}")
    aggs = [F.min(h(i)).alias(f"_h{i}") for i in range(num_hashes)]
    return (
        sh.groupBy(id_col).agg(*aggs)
        .select(
            F.col(id_col),
            F.array(*[F.col(f"_h{i}") for i in range(num_hashes)]).alias("sig"),
        )
    )


def banded_keys(sigs: DataFrame, bands: int = 4,
                id_col: str = "doc_id") -> DataFrame:
    """(id, band, key) rows: the signature cut into ``bands`` slices,
    each hashed to a bucket key — the LSH index representation a
    production pipeline PERSISTS (so incremental batches probe it
    without re-banding history)."""
    rows_per_band = F.size(F.col("sig")) / bands
    # sig elements are longs; band key = md5 over the comma-joined slice
    # (decimal rendering matches DuckDB's array_to_string bit-for-bit)
    banded = sigs.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.md5(
                        F.array_join(
                            F.transform(
                                F.slice(
                                    F.col("sig"),
                                    (b * rows_per_band.cast("int")) + 1,
                                    rows_per_band.cast("int"),
                                ),
                                lambda x: x.cast("string"),
                            ),
                            ",",
                        )
                    ).alias("key"),
                ),
            )
        ).alias("bk"),
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    return banded


def lsh_candidate_pairs(sigs: DataFrame, bands: int = 4,
                        id_col: str = "doc_id") -> DataFrame:
    """Band the signature (rows = len(sig)/bands); docs sharing any
    band bucket become a candidate pair (a < b).

    Scale: the exploded frame is (doc, band, 32-char key) — the
    band-key shuffle joins ids only; text never moves. Skewed buckets
    (a viral duplicate) are handled by AQE skew-join splitting.
    """
    banded = banded_keys(sigs, bands, id_col)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def minhash_jaccard_estimate(sigs: DataFrame, pairs: DataFrame,
                             id_col: str = "doc_id") -> DataFrame:
    """Estimated Jaccard = fraction of equal signature positions."""
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    eq = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda v: v,
        )
    )
    return (
        pairs.join(sa, "id_a").join(sb, "id_b")
        .select(
            "id_a", "id_b",
            F.round(eq / F.size(F.col("sig_a")), 4).alias("jaccard_est"),
        )
    )


def threshold_sweep(est_pairs: DataFrame, docs: DataFrame,
                    thresholds: tuple = (0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9),
                    id_col: str = "doc_id") -> DataFrame:
    """Dedup tuning report: for each candidate Jaccard threshold, how
    many candidate pairs qualify and how many documents the PAIRWISE
    keep-smallest rule would drop (a doc is dropped iff it is the
    larger id of any qualifying pair) — the sweep every deployment
    runs before committing to a cutoff.

    Honest approximation note: the production pipeline drops via
    connected components (keep the min id per CLUSTER), which can
    differ from the pairwise rule on chain-shaped clusters (in edges
    (1,3),(2,3), components drop {2,3} but doc 2 has no smaller
    direct neighbor, so the pairwise rule keeps it). Sweeping exact
    cluster counts would run the O(log^2 n) components iteration once
    PER threshold; the pairwise rule reads the one estimates frame
    ONCE for all thresholds — the right cost shape for a tuning
    report, with the exact count available from the full pipeline at
    the chosen cutoff.

    Shape: thresholds explode over the candidate-pair frame
    (collision-bounded, never corpus-scale) into one (threshold)
    hash-agg; the doc total joins as a broadcast one-row frame; a
    broadcast equi-join re-attaches zero-pair thresholds. Output:
    (threshold, n_pairs, n_docs_dropped, drop_rate), one row per
    requested threshold.
    """
    spark = est_pairs.sparkSession
    ths = spark.createDataFrame(
        [(float(t),) for t in thresholds], "threshold double"
    )
    agg = (
        est_pairs.select(
            F.explode(F.array(*[F.lit(float(t)) for t in thresholds]))
            .alias("threshold"),
            "id_b", "jaccard_est",
        )
        .filter(F.col("jaccard_est") >= F.col("threshold"))
        .groupBy("threshold")
        .agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct("id_b").alias("n_docs_dropped"),
        )
    )
    total = docs.agg(F.count("*").alias("_n_docs"))
    return (
        ths.join(F.broadcast(agg), "threshold", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "threshold",
            F.coalesce("n_pairs", F.lit(0).cast("long")).alias("n_pairs"),
            F.coalesce("n_docs_dropped", F.lit(0).cast("long"))
            .alias("n_docs_dropped"),
            F.round(
                F.coalesce("n_docs_dropped", F.lit(0).cast("long"))
                / F.col("_n_docs"), 4
            ).alias("drop_rate"),
        )
    )


def incremental_neardup(new_sigs: DataFrame, history_sigs: DataFrame,
                        bands: int = 4, id_col: str = "doc_id",
                        threshold: float = 0.3) -> DataFrame:
    """Per-ingest NEAR-dup check: flag each new-batch doc whose
    estimated Jaccard vs any prior doc — history, or an earlier-id doc
    of the same batch — reaches ``threshold``. Output one row per
    flagged new doc: ``(id, dup_of = min such prior id, max_est)``.

    Scale shape: history is represented by its signature table (a few
    longs per doc — the thing a production pipeline persists, along
    with its banded keys); the probe joins new band keys against
    (history ∪ new) band keys, so each ingest pays O(batch) banding
    plus one bucket-key join — history text is never touched, never
    re-shingled. This is the re-banding form of
    :func:`incremental_neardup_indexed` (one shared implementation, so
    the two modes cannot drift)."""
    return incremental_neardup_indexed(
        new_sigs, history_sigs,
        banded_keys(history_sigs, bands, id_col),
        bands=bands, id_col=id_col, threshold=threshold,
    )


def incremental_neardup_indexed(new_sigs: DataFrame,
                                history_sigs: DataFrame,
                                history_bands: DataFrame,
                                bands: int = 4, id_col: str = "doc_id",
                                threshold: float = 0.3) -> DataFrame:
    """:func:`incremental_neardup` with the history side arriving
    PRE-BANDED — ``history_bands`` is the persisted LSH index
    ((id, band, key) rows, :func:`banded_keys`'s documented production
    role). Identical decisions, different cost shape: the plain
    variant re-bands the whole signature history every ingest (an
    O(history) projection per batch — fine daily, ruinous at
    minutes-cadence ingest over a 100 TB corpus), while this one pays
    O(batch) banding plus one equi-join against the index. The
    signature history is still consulted, but only as the id-keyed
    side of the Jaccard-estimate join over the CANDIDATES — bucket
    collisions, a set sized by true near-dup density, not by history.

    The caller maintains the index by appending each batch's NOVEL
    banded keys (see streaming/dedup.py:minhash_dedup_batch_fn) — the
    same grow-with-unique-content contract as the signature table.
    """
    probe = banded_keys(new_sigs, bands, id_col)
    hist_pairs = (
        history_bands.alias("a")
        .join(
            probe.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        )
    )
    batch_pairs = (
        probe.alias("a")
        .join(
            probe.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
    )
    pairs = (
        hist_pairs.select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .unionByName(batch_pairs.select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        ))
        .distinct()
    )
    est = minhash_jaccard_estimate(
        history_sigs.unionByName(new_sigs), pairs, id_col
    )
    return (
        est.filter(F.col("jaccard_est") >= threshold)
        .groupBy(F.col("id_b").alias(id_col))
        .agg(
            F.min("id_a").alias("dup_of"),
            F.round(F.max("jaccard_est"), 4).alias("max_est"),
        )
    )


# ---------------------------------------------------------------------------
# exact n-gram Jaccard (the LSH verifier; all-pairs-with-overlap)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 3,
                        threshold: float = 0.1) -> DataFrame:
    """Exact Jaccard over distinct word k-shingles for every pair
    sharing >=1 shingle. The shingle self-join IS the candidate
    generator here — production uses LSH to prune first (see module
    docstring).

    The shingle array is materialized (cache) before exploding: shingle
    construction is a chain of CodegenFallback higher-order functions,
    so without the boundary both join sides re-derive the arrays per
    exploded row (measured 30x slowdown). At warehouse scale this
    boundary is a staged shingle table.
    """
    base = lane_cache(df.select(
        F.col(id_col), shingles(text_col, k).alias("s")
    ))
    ex = base.select(
        F.col(id_col), F.size("s").alias("n_sh"), F.explode("s").alias("sh")
    )
    a = ex.alias("a")
    b = ex.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .agg(F.count("*").alias("n_inter"))
    )
    jac = F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter"))
    return (
        inter.select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def dup_ngram_coverage(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", k: int = 5) -> DataFrame:
    """Cross-document duplicated n-gram coverage — the per-document
    signal behind exact-substring dedup (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better" — public
    paper), approximated at n-gram granularity: for each doc, the
    fraction of its word k-gram occurrences that also appear in at
    least one OTHER document. High coverage = boilerplate/mirrored
    spans worth cutting even when whole-doc similarity is low.
    Output: (id, n_grams, dup_gram_frac 4dp); docs with < k tokens
    score 0 over 0 grams.

    Scale shape: k-grams come from the codegen posexplode+lead stitch
    (one window exchange on the doc key); occurrences then reduce to
    ONE (doc, gram, occ) row per distinct gram per doc — exchange-free,
    the stitch's doc partitioning already satisfies the (doc, gram)
    clustering — and that frame is the materialization boundary both
    downstream consumers read (r12 optimization: the stitch used to be
    re-derived per consumer — two Window+Generate subtrees in the plan
    — and the dup-gram join carried every OCCURRENCE row; now the
    stitch runs once and the join carries distinct (doc, gram) rows:
    Window 2 -> 1, Generate 2 -> 1 in the formatted plan, warm median
    1.85 -> 1.43 s at sf0.1 on a calm host). The cross-doc
    dup flag is one (gram) hash-agg — grams, never text, move — and
    the per-doc reduce is a doc-key agg over the same boundary. At
    warehouse scale the boundary is a staged gram table, like
    ngram_jaccard_pairs' shingle stage. Hot grams (ubiquitous
    boilerplate) are AQE's skew-split case.
    """
    from pyspark.sql import Window

    t = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.lower(F.col(text_col)), "[^a-z0-9]+")
        ).alias("_pos", "_tok"),
    ).filter(F.col("_tok") != "")
    w = Window.partitionBy(id_col).orderBy("_pos")
    lead_names = [f"_l{j}" for j in range(1, k)]
    grams = (
        t.select(
            F.col(id_col), F.col("_tok"),
            *[F.lead("_tok", j).over(w).alias(nm)
              for j, nm in enumerate(lead_names, start=1)],
        )
        .filter(F.col(lead_names[-1]).isNotNull())
        .select(F.col(id_col), F.concat_ws(" ", "_tok", *lead_names).alias("g"))
    )
    # one row per distinct (doc, gram) with its occurrence count; the
    # stitch's id-partitioning satisfies the (id, g) clustering, so
    # this agg adds NO exchange — and caching it means the stitch runs
    # once, not once per consumer
    per_gid = lane_cache(
        grams.groupBy(id_col, "g").agg(F.count("*").alias("_occ"))
    )
    # a gram is duplicated iff >1 distinct doc carries it; per_gid has
    # exactly one row per (g, doc), so count(*) == count_distinct(doc)
    ndocs = per_gid.groupBy("g").agg((F.count("*") > 1).alias("is_dup"))
    per_doc = (
        per_gid.join(ndocs, "g")
        .groupBy(id_col)
        .agg(
            F.sum("_occ").alias("n_grams"),
            F.sum(F.when(F.col("is_dup"), F.col("_occ"))
                  .otherwise(F.lit(0))).alias("n_dup"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce(
                F.round(F.col("n_dup") / F.col("n_grams"), 4), F.lit(0.0)
            ).alias("dup_gram_frac"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash (16-bit, hex-digit top-bit construction — oracle-portable)
# ---------------------------------------------------------------------------

def simhash16(c: Column | str) -> Column:
    """16-bit SimHash over tokens: bit j is the sign of
    ``sum over tokens of (top-bit of md5(token) hex digit j ? +1 : -1)``
    weighted by token multiplicity. Emitted as a 16-char '0'/'1' string.
    Hamming-near signatures => near-duplicate shingle distributions."""
    toks = tokens(c)
    bits = []
    hexdigits = "0123456789abcdef"

    def folder(j: int):
        # closure factory: a default-arg lambda would change the lambda
        # arity PySpark passes to ArrayAggregate
        def f(acc, t):
            return acc + F.when(
                F.instr(F.lit(hexdigits), F.substring(F.md5(t), j + 1, 1)) - 1 >= 8,
                F.lit(1).cast("long"),
            ).otherwise(F.lit(-1).cast("long"))
        return f

    for j in range(16):
        contrib = F.aggregate(toks, F.lit(0).cast("long"), folder(j))
        bits.append(F.when(contrib >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def simhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Per-doc 16-bit SimHash, same construction as :func:`simhash16`
    but in the scale execution shape: explode tokens once, md5 each
    token ONCE at the top level (codegen'd — :func:`simhash16` pays 16
    interpreted ``aggregate`` folds that each re-hash every token), emit
    16 +/-1 contribution columns, reduce with one ``groupBy(doc_id)``
    whose sums combine map-side. Output: (id, ``simhash`` bitstring)."""
    hexdigits = "0123456789abcdef"
    ex = df.select(
        F.col(id_col), F.explode_outer(tokens(text_col)).alias("_tok")
    ).withColumn("_h", F.md5(F.col("_tok")))
    contribs = [
        F.when(F.col("_tok").isNull(), F.lit(0).cast("long")).otherwise(
            F.when(
                F.instr(F.lit(hexdigits), F.substring(F.col("_h"), j + 1, 1)) - 1 >= 8,
                F.lit(1).cast("long"),
            ).otherwise(F.lit(-1).cast("long"))
        ).alias(f"_c{j}")
        for j in range(16)
    ]
    agg = ex.select(id_col, *contribs).groupBy(id_col).agg(
        *[F.sum(f"_c{j}").alias(f"_s{j}") for j in range(16)]
    )
    bits = [
        F.when(F.col(f"_s{j}") >= 0, F.lit("1")).otherwise(F.lit("0"))
        for j in range(16)
    ]
    return agg.select(F.col(id_col), F.concat(*bits).alias("simhash"))


def simhash_hamming(a: Column, b: Column) -> Column:
    """Hamming distance between two bitstring signatures."""
    pairs = F.zip_with(F.split(a, ""), F.split(b, ""), lambda x, y: (x != y).cast("int"))
    return F.aggregate(pairs, F.lit(0), lambda acc, v: acc + v)


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------

def embedding_neardup_pairs(emb: DataFrame, threshold: float = 0.95,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding") -> DataFrame:
    """All pairs with cosine similarity >= threshold (brute force —
    the verifier; the ANN path in similarity.py scales it). NULL
    embeddings are dropped (similarity._nonnull's uniform rule)."""
    from .similarity import _nonnull, cosine

    emb = _nonnull(emb, vec_col)
    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.round(cosine(F.col("va"), F.col("vb")), 4).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def semdedup(emb: DataFrame, centroids: DataFrame,
             threshold: float = 0.85, id_col: str = "vec_id",
             vec_col: str = "embedding",
             centroid_id_col: str = "centroid_id") -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication" — public paper): a
    member of an embedding cluster is dropped when another member has
    rounded cosine >= ``threshold`` to it and ranks before it — lower
    cosine to the centroid (the paper keeps the least cluster-typical
    copy), then lower id. Output: (id, centroid_id, centroid_cos,
    is_kept) per non-NULL embedding; ``id_col`` is a key. Cosines are
    ``F.round(similarity.cosine(..), 4)`` bit for bit, 0.0 for a zero
    norm, a length mismatch or a NULL element; a NaN cosine ranks and
    matches the way Spark orders NaN, above every number. No centroids:
    everything is kept, with NULL cluster columns.

    Shape: the narrow Arrow assignment (similarity.ivf_assign), one
    shuffle on the centroid id, one numpy pass per cluster, so nlist
    bounds the quadratic term (the paper sizes k as n / target cluster
    size). Row blocks keep a worker at O(block x cluster) cosines; a hot
    cluster runs on one core.
    """
    import pyarrow as pa

    from .similarity import _Vectors, cosine4_at_least, ivf_assign

    emb = emb.filter(F.col(vec_col).isNotNull())
    cent_rows = centroids.select(centroid_id_col, vec_col).collect()
    if not cent_rows:
        return emb.select(id_col, F.lit(None).cast("long").alias(centroid_id_col),
                          F.lit(None).cast("double").alias("centroid_cos"),
                          F.lit(True).alias("is_kept"))
    assigned = ivf_assign(emb, cent_rows, id_col, vec_col,
                          centroid_id_col, with_score=True)

    def keep(t: pa.Table) -> pa.Table:
        cos = t.column("centroid_cos").to_numpy()
        ids = t.column(id_col).to_numpy()
        t = t.take(np.lexsort((ids, cos)))  # rank order, NaN last
        v = _Vectors.of(t.column(vec_col))
        dropped = np.zeros(len(t), dtype=bool)
        step = max(1, (1 << 20) // len(t))  # 8 MB of cosines per block
        for b0 in range(0, len(t), step):
            # rows b0..b0+step against every member ranked at or after b0
            hit = cosine4_at_least(v[b0:b0 + step], v[b0:], threshold)
            dropped[b0:] |= np.triu(hit, k=1).any(axis=0)
        return t.select([id_col, centroid_id_col, "centroid_cos"]).append_column(
            "is_kept", pa.array(~dropped))

    schema = (f"{id_col} {emb.schema[id_col].dataType.simpleString()}, "
              f"{centroid_id_col} long, centroid_cos double, is_kept boolean")
    return assigned.groupBy(centroid_id_col).applyInArrow(keep, schema)


def incremental_embedding_neardup(new_emb: DataFrame,
                                  history_emb: DataFrame,
                                  centroids: DataFrame,
                                  threshold: float = 0.85,
                                  id_col: str = "vec_id",
                                  vec_col: str = "embedding",
                                  history_assigned: DataFrame | None = None,
                                  new_assigned: DataFrame | None = None,
                                  ) -> DataFrame:
    """Per-ingest EMBEDDING near-dup check — the semantic analog of
    :func:`incremental_neardup`: flag each new-batch vector whose
    cosine vs any prior vector — history, or an earlier-id vector of
    the same batch — reaches ``threshold``, probing only the shared
    IVF cluster (the SemDeDup candidate rule). Output one row per
    flagged new vector: ``(id, dup_of = min such prior id, max_cos)``.

    Scale shape: history is represented by its ASSIGNED table — the
    (id, vec, centroid) index a production pipeline persists — so each
    ingest pays O(batch) assignment (shuffle-free, one BLAS matmul per
    Arrow batch) plus cluster-key equi-joins; history is never
    re-scored against itself.
    Pass ``history_assigned`` ((id, vec, centroid_id) rows — the
    persisted index; ``history_emb`` is then ignored) to skip even the
    per-batch RE-ASSIGNMENT of history: without it each ingest pays an
    O(history) assignment projection, the same cost-shape trap the
    MinHash path's band index removes (incremental_neardup_indexed).
    ``new_assigned`` likewise supplies the batch side pre-assigned so
    a caller that needs the assignment afterwards (the streaming batch
    fn persists the novel rows to its index) computes it ONCE — at
    production nlist the batch matmul is the dominant per-batch cost,
    so paying it twice would halve ingest throughput.
    Like incremental_neardup, history matches by MEMBERSHIP (ids need
    not be smaller than batch ids) while the id ordering applies only
    within the new batch.
    """
    from .similarity import cosine, ivf_assign

    if new_assigned is not None:
        probe = new_assigned.select(id_col, vec_col, "centroid_id")
    else:
        # materialization boundary (r12 optimization): the probe side
        # feeds BOTH pair legs (history x batch, batch x batch = three
        # plan consumers), and without it each leg re-runs the batch
        # assignment — the dominant per-batch cost at production nlist
        # (see the docstring). Callers that pre-assign (the streaming
        # batch fn passes new_assigned, already checkpointed) are
        # untouched.
        probe = lane_cache(ivf_assign(new_emb, centroids, id_col, vec_col))
    if history_assigned is not None:
        hist = history_assigned.select(id_col, vec_col, "centroid_id")
    else:
        hist = ivf_assign(history_emb, centroids, id_col, vec_col)

    def side(df, tag):
        return df.select(
            F.col(id_col).alias(f"_id{tag}"),
            F.col(vec_col).alias(f"_v{tag}"),
            F.col("centroid_id").alias(f"_c{tag}"),
        )

    hist_pairs = side(hist, "a").join(
        side(probe, "b"),
        (F.col("_ca") == F.col("_cb")) & (F.col("_ida") != F.col("_idb")),
    )
    batch_pairs = side(probe, "a").join(
        side(probe, "b"),
        (F.col("_ca") == F.col("_cb")) & (F.col("_ida") < F.col("_idb")),
    )
    pairs = hist_pairs.unionByName(batch_pairs).select(
        "_ida", "_idb",
        F.round(cosine(F.col("_va"), F.col("_vb")), 4).alias("cos"),
    )
    return (
        pairs.filter(F.col("cos") >= threshold)
        .groupBy(F.col("_idb").alias(id_col))
        .agg(
            F.min("_ida").alias("dup_of"),
            F.round(F.max("cos"), 4).alias("max_cos"),
        )
    )


# ---------------------------------------------------------------------------
# near-dup clustering (connected components over the pair graph)
# ---------------------------------------------------------------------------

def _bigstar_components(ids: DataFrame, pairs: DataFrame,
                        id_col: str, max_iter: int,
                        stats: dict | None = None) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris
    et al. 2014, "Connected Components in MapReduce and Beyond" —
    public paper). Converges in O(log^2 n) rounds regardless of graph
    DIAMETER, where min-label propagation needs diameter rounds — the
    swap for 100 TB-scale graphs with long chains.

    Each round is two grouped joins over the edge list only (ids as
    longs — a few bytes per edge, document text never moves):

    - large-star: for each node u, attach every LARGER neighbor v to
      ``m = min(neighbors(u) + [u])`` — emit edge (v, m).
    - small-star: with edges oriented (big, small), attach each node
      u's smaller neighbors AND u itself to its min neighbor.

    The fixpoint is a star forest: one (node, component-min) edge per
    non-root node. Isolated nodes are restored by the final label join.

    Each round's edge set is ``localCheckpoint``-ed, not cached: every
    round references the previous edge frame ~4 times, so without a
    LINEAGE cut the logical plan grows 4^rounds and the driver OOMs
    just printing it by round 10 (measured). Checkpointing pins the
    (id, id) edge list — a few bytes per edge — and restarts lineage.
    """
    e = (
        pairs.select(
            F.greatest(F.col("id_a").cast("long"),
                       F.col("id_b").cast("long")).alias("u"),
            F.least(F.col("id_a").cast("long"),
                    F.col("id_b").cast("long")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    converged = False
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # large-star over the symmetric view: every edge is seen from
        # both endpoints; the strictly-larger endpoint gets re-attached.
        sym = e.select("u", "v").union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(
            F.least(F.col("u"), F.min("v")).alias("m")
        )
        ls = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star: ls edges are (big, small) by construction, so each
        # node u's ls-neighbors are all smaller; hook them (and u) to
        # the min one.
        mins2 = ls.groupBy("u").agg(F.min("v").alias("m"))
        ss = (
            ls.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins2.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        converged = (
            ss.count() == e.count() and ss.subtract(e).count() == 0
        )
        e = ss
        if converged:
            break
    if stats is not None:
        # escalated=False keeps the stats shape uniform with the
        # propagation path (which may escalate INTO bigstar) — callers
        # can read stats["escalated"] under either algorithm without
        # .get() guards (r10 ADVICE).
        stats.update(rounds=rounds, converged=converged, escalated=False)
    out = (
        ids.select(F.col(id_col).alias("nid"))
        .join(e, F.col("nid").cast("long") == F.col("u"), "left")
        .select(
            F.col("nid").alias(id_col),
            F.coalesce(F.col("v"), F.col("nid").cast("long"))
            .alias("component_id"),
        )
    )
    return out


def components_from_pairs(ids: DataFrame, pairs: DataFrame,
                          id_col: str = "doc_id",
                          max_iter: int = 25,
                          algorithm: str = "propagation",
                          stats: dict | None = None,
                          on_exhausted: str = "escalate") -> DataFrame:
    """Connected components over an undirected near-duplicate pair
    graph: every node ends up labeled with the minimum id reachable
    from it. Output: (id, component_id) — ``component_id == id`` marks
    the kept representative, everything else is a near-dup to drop.

    ``algorithm="propagation"`` (default): iterative min-label
    propagation — each round every node takes ``min(own label, min
    neighbor label)``; converges in graph-diameter rounds (dup clusters
    are near-cliques, so diameter is tiny). Each round is one shuffle
    join on the edge list; labels are (id, long) pairs, a few
    bytes/node regardless of document size, and the loop re-caches only
    that label table.

    ``algorithm="bigstar"``: the alternating large-star/small-star
    rounds (Kiveris et al.) — same join primitive, O(log^2 n) rounds
    independent of diameter; the swap for huge-diameter graphs (see
    :func:`_bigstar_components`).

    ``on_exhausted`` (propagation only) — what to do when ``max_iter``
    rounds pass with labels still changing. The r09 diameter stress
    proved the old silent-return mode is a real hazard: a 1,024-node
    chain at the default 25-round cap returned 127,744 WRONG labels
    indistinguishable from a correct frame unless the caller inspected
    ``stats``. Options:

    - ``"escalate"`` (default): contract the graph by the partial
      labels (each edge endpoint → its current label, self-loops
      dropped — the diameter-k prefix already collapsed is reused, not
      thrown away) and FINISH with bigstar rounds on the contracted
      edge list, then map components back through the labels. Labels
      are always correct; worst case adds O(log^2 n) rounds. This is
      why propagation stays a safe default for near-clique dup graphs:
      diameter 2-3 never escalates, a pathological chain quietly does.
    - ``"raise"``: RuntimeError naming rounds run and the escape
      hatches — for pipelines that budget rounds and want a loud stop.
    - ``"ignore"``: return the partial labels (the pre-r10 behavior);
      ``stats["converged"]`` is False. For measurement harnesses only
      (scripts/components_scale_run.py measures the diameter contract
      this way).

    ``stats``: optional dict that receives ``{"rounds": k, "converged":
    bool, "escalated": bool}`` when the function returns — both loops
    already count() every round, so reporting is free, and the shape is
    uniform across algorithms (bigstar always reports escalated=False;
    r10 ADVICE). An escalated propagation run reports the bigstar
    finish's rounds added to the propagation rounds and converged=True.
    """
    # Validate BOTH knobs before the algorithm dispatch: a typo'd
    # on_exhausted used to be silently accepted on the bigstar path
    # (it returned before the check — r10 ADVICE).
    if on_exhausted not in ("escalate", "raise", "ignore"):
        raise ValueError(f"unknown on_exhausted: {on_exhausted}")
    if algorithm == "bigstar":
        return _bigstar_components(ids, pairs, id_col, max_iter, stats)
    if algorithm != "propagation":
        raise ValueError(f"unknown algorithm: {algorithm}")
    sym = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).union(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    sym = lane_cache(sym)
    # Each round's plan references the previous labels frame TWICE
    # (inside nbr_min and as the join's left side), so without a
    # LINEAGE CUT the logical plan grows 2^rounds and the driver OOMs
    # just STRINGIFYING it around round 16 — found by the r09 diameter
    # stress (test_components_stats_report_rounds_and_convergence);
    # dup-cluster graphs (diameter 2-3) never reached it. But an
    # every-round localCheckpoint (bigstar's remedy) would move the
    # label state OUT of the lane-cache drain for EVERY components
    # lane — re-opening the r07 leak class the registry drain contract
    # exists to close (test_lane_caches_drain_between_registry_lanes
    # caught exactly that). Hybrid instead: lane_cache per round —
    # drainable, and dup-cluster lanes converge long before any
    # checkpoint — with a lineage cut every CHECKPOINT_EVERY rounds.
    # Cadence, MEASURED (r10 diameter stress re-run): the r09 cadence
    # of 8 was wrong on both axes it was chosen for — between cuts the
    # per-round Catalyst analysis + AQE plan-string overhead grows
    # with the 2^(k mod 8) tree (64-chain convergence ran 10.9 s/round
    # vs ~0.9 at per-round cuts, a 12x tax executors never see), and
    # on the third consecutive deep arm the accumulated pressure
    # OOM'd the 16g driver INSIDE PlanStringConcat during AQE's
    # explainString — the exact failure class the hybrid existed to
    # prevent, at 2^8 instead of 2^16. Cadence 4 bounds the tree at
    # 2^4 (~16) references (analysis back to round-1 cost, plan
    # strings KB-scale) while registry dup-cluster lanes still
    # converge before their first cut, keeping every shallow lane's
    # labels inside the drain contract. Deep iterations leave
    # rounds/4 checkpoint blocks, reclaimed by ContextCleaner as refs
    # drop and by the per-pass stray sweep (bench.py, scale scripts)
    # — the same contract as bigstar's edges since r04.
    CHECKPOINT_EVERY = 4
    labels = lane_cache(ids.select(
        F.col(id_col).alias("nid"), F.col(id_col).cast("long").alias("comp")
    ))
    labels_cached = True
    changed = 0
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        nbr_min = (
            sym.join(labels, sym["dst"] == labels["nid"])
            .groupBy("src").agg(F.min("comp").alias("nbr_comp"))
        )
        new_plan = (
            labels.join(nbr_min, labels["nid"] == nbr_min["src"], "left")
            .select(
                "nid",
                F.least(
                    F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))
                ).alias("comp"),
            )
        )
        if rounds % CHECKPOINT_EVERY == 0:
            new_labels, new_cached = new_plan.localCheckpoint(), False
        else:
            # lane_cache, not bare cache: superseded rounds unpersist
            # in-loop below, but the FINAL labels frame survives the
            # loop and must be reachable by the end-of-lane drain
            # (r07 review: every components lane leaked one label
            # cache)
            new_labels, new_cached = lane_cache(new_plan), True
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), F.col("n.nid") == F.col("o.nid"))
            .filter(F.col("n.comp") < F.col("o.comp"))
            .count()
        )
        if labels_cached:
            labels.unpersist()
        labels, labels_cached = new_labels, new_cached
        if changed == 0:
            break
    # sym stays cached through a possible escalation below — the
    # contraction reads it, and the original `pairs` frame may be an
    # arbitrarily expensive uncached pipeline (neardup_components
    # feeds the full shingling join); unpersisting first would make
    # the pathological path recompute it from scratch (r10 review)
    # ADVICE r09: a loop ending on a checkpoint round returns a
    # localCheckpoint frame INVISIBLE to the lane-cache drain — the
    # final label blocks would outlive release_lane_caches until a
    # stray sweep. Re-track it so the end-of-lane drain contract holds
    # regardless of where the loop stopped (the checkpoint RDD itself
    # is reclaimed by ContextCleaner once this frame drains and the
    # Python ref drops).
    if not labels_cached:
        labels = lane_cache(labels)
    converged = rounds > 0 and changed == 0  # max_iter == 0 never ran
    escalated = False
    if not converged and on_exhausted != "ignore":
        if on_exhausted == "raise":
            sym.unpersist()
            raise RuntimeError(
                f"components_from_pairs(algorithm='propagation') did "
                f"not converge in max_iter={max_iter} rounds — the "
                f"graph's diameter exceeds the round budget, and the "
                f"partial labels would be WRONG (r09 diameter stress: "
                f"127,744 bad labels on a 1,024-chain at 25 rounds). "
                f"Raise max_iter, use algorithm='bigstar', or "
                f"on_exhausted='escalate' to finish with bigstar "
                f"rounds on the contracted graph."
            )
        # escalate: contract each edge endpoint through its current
        # label (the already-collapsed diameter-k prefix is kept) and
        # finish with diameter-independent bigstar rounds, then map
        # back. Contract from the CACHED symmetric view, not `pairs` —
        # pairs may be an expensive uncached pipeline (r10 review);
        # sym's doubled directions collapse in the self-loop filter +
        # bigstar's opening distinct. Rows that already share a label
        # drop here, so the edge list bigstar shuffles shrinks by
        # exactly the progress the propagation prefix made.
        contracted = (
            sym
            .join(labels.select(F.col("nid").alias("_na"),
                                F.col("comp").alias("_ca")),
                  sym["src"] == F.col("_na"))
            .join(labels.select(F.col("nid").alias("_nb"),
                                F.col("comp").alias("_cb")),
                  sym["dst"] == F.col("_nb"))
            .select(F.col("_ca").alias("id_a"), F.col("_cb").alias("id_b"))
            .filter(F.col("id_a") != F.col("id_b"))
        )
        comp_ids = labels.select(F.col("comp").alias("cid")).distinct()
        sub: dict = {}
        meta = _bigstar_components(comp_ids, contracted, "cid",
                                   max(max_iter, 25), sub)
        if not sub["converged"]:
            # bigstar needs ~log2(n)+1 rounds; 25 covers any graph that
            # fits on hardware — reaching this means a logic bug, and
            # returning would reintroduce the silent-wrong mode.
            sym.unpersist()
            raise RuntimeError(
                "bigstar escalation did not converge in "
                f"{max(max_iter, 25)} rounds — this should be "
                "impossible (log2-bounded); refusing to return "
                "unverified labels"
            )
        labels = lane_cache(
            labels.join(meta, labels["comp"] == meta["cid"])
            .select(F.col("nid"),
                    F.col("component_id").alias("comp"))
        )
        rounds += sub["rounds"]
        converged, escalated = True, True
    sym.unpersist()
    if stats is not None:
        stats.update(rounds=rounds, converged=converged,
                     escalated=escalated)
    return labels.select(
        F.col("nid").alias(id_col), F.col("comp").alias("component_id")
    )


def neardup_components(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       threshold: float = 0.5,
                       algorithm: str = "propagation") -> DataFrame:
    """Near-duplicate clusters: edges = word-3-gram Jaccard >= threshold
    (the deterministic verifier pair-generator; production swaps in
    :func:`lsh_candidate_pairs` — same (id_a, id_b) contract), then
    connected components. Output: (id, component_id, is_kept).

    Propagation stays the default here deliberately: dup-pair graphs
    are near-cliques (diameter 2-3, converge in 3-4 rounds — cheaper
    than bigstar's two grouped joins/round), and since r10 an
    adversarial deep graph can no longer return wrong labels — the
    escalate default in :func:`components_from_pairs` finishes such a
    graph with bigstar rounds instead (r09 verdict item 2)."""
    pairs = ngram_jaccard_pairs(df, text_col, id_col, threshold=threshold)
    comp = components_from_pairs(df.select(id_col), pairs, id_col,
                                 algorithm=algorithm)
    return comp.select(
        id_col, "component_id",
        (F.col(id_col) == F.col("component_id")).alias("is_kept"),
    )


def chunk_dedup_reassemble(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id",
                           window: int = 8) -> DataFrame:
    """Cross-document CHUNK-level exact dedup with reassembly — the
    practical form of exact-substring dedup (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better", public
    paper): cut every document into non-overlapping ``window``-token
    chunks, keep each distinct chunk text only at its FIRST occurrence
    (min (doc, chunk) position corpus-wide), and stitch every document
    back together from its surviving chunks. Repeated boilerplate
    (headers, license blocks, navigation) disappears from every copy
    but the first, while unique prose is untouched.

    CONTRACT — lossy normalization: chunks are cut from the
    ``tokens()`` stream (lowercased, punctuation/whitespace collapsed),
    so ``deduped_text`` is a normalized rendering, NOT the original
    bytes — unlike Lee et al.'s byte-span removal, which preserves the
    surviving original text. Use :func:`paragraph_dedup` when the
    surviving spans must keep their original characters.

    Output: (id, n_chunks, kept_chunks, kept_tokens, deduped_text) —
    one row per non-empty document; fully-deduplicated docs keep the
    row with kept_chunks=0 and deduped_text=''.

    Scale shape: chunking is a per-row projection (chunking.py). The
    keeper decision is one hash-agg on the 128-bit chunk fingerprint —
    min(struct(doc,chunk)) combines map-side, and the shuffle carries
    (16-byte key, two longs), never chunk text. The decision joins back
    on the fingerprint (chunk text moves once, partitioned by
    fingerprint — AQE splits the hot boilerplate keys), and reassembly
    is the doc-key exchange any per-doc rebuild pays. Two text moves
    total; both are the minimum for the semantics.
    """
    from .chunking import chunk_by_tokens

    # materialization boundary (r12 optimization): the chunk frame is
    # consumed THREE times (keeper agg, keeper join probe, per-doc
    # totals) and the per-row chunking projection would otherwise
    # re-run per consumer; at warehouse scale this is the staged chunk
    # table the docstring's two-text-move accounting assumes. Measured
    # at sf0.1: warm median 1.77 -> 1.75 s — wall-NEUTRAL locally (the
    # per-row chunking is cheap at this corpus size; the boundary is
    # kept for the single-derivation shape, where the three consumers
    # otherwise each re-scan and re-chunk the corpus).
    chunks = lane_cache(chunk_by_tokens(
        df, text_col, id_col, window=window, stride=window
    ).withColumn("_fp", F.md5(F.col("chunk_text"))))
    keeper = chunks.groupBy("_fp").agg(
        F.min(F.struct(id_col, "chunk_id")).alias("_first")
    )
    kept = (
        chunks.join(keeper, "_fp")
        .filter(
            (F.col("_first")[id_col] == F.col(id_col))
            & (F.col("_first")["chunk_id"] == F.col("chunk_id"))
        )
    )
    totals = chunks.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_chunks")
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count("*").cast("long").alias("kept_chunks"),
        F.sum("n_chunk_tokens").cast("long").alias("kept_tokens"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("chunk_id", "chunk_text"))
                ),
                lambda s: s["chunk_text"],
            ),
            " ",
        ).alias("deduped_text"),
    )
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            id_col, "n_chunks",
            F.coalesce("kept_chunks", F.lit(0).cast("long"))
            .alias("kept_chunks"),
            F.coalesce("kept_tokens", F.lit(0).cast("long"))
            .alias("kept_tokens"),
            F.coalesce("deduped_text", F.lit("")).alias("deduped_text"),
        )
    )


def line_dedup_within_doc(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id",
                          sep: str = "\n") -> DataFrame:
    """WITHIN-document duplicate-line removal (the C4/Dolma curation
    step: navigation bars, repeated boilerplate lines inside one
    page): split on the LITERAL ``sep``, keep each distinct line at
    its first occurrence, reassemble in order. Matching is on RAW
    line text — deliberately stricter than the corpus-wide operators'
    normalized fingerprints, because within one document an exact
    repeat is the signal (two lines differing in case are content).

    Scale shape — the interesting contrast with :func:`paragraph_dedup`
    and :func:`chunk_dedup_reassemble`: those are corpus-wide, so the
    keeper decision is necessarily a fingerprint shuffle; dedup scoped
    WITHIN the row needs no shuffle at all. ``array_distinct``
    preserves first-occurrence order, so the whole operator is one
    codegen'd per-row projection running at parquet-scan speed —
    at 100 TB it composes into any scan without adding an exchange
    (pinned by the plan-shape suite's no-shuffle sweep).

    Output: (id, n_lines, kept_lines, deduped_text); NULL text
    propagates NULLs (no crash — degenerate harness).
    """
    # same \Q..\E literal quoting as paragraph_dedup (see the \E
    # re-open comment there)
    quoted = "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"
    lines = F.split(F.col(text_col), quoted)
    deduped = F.array_distinct(lines)
    return df.select(
        F.col(id_col),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(deduped).cast("long").alias("kept_lines"),
        F.array_join(deduped, sep).alias("deduped_text"),
    )


def paragraph_dedup(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    sep: str = "\n\n") -> DataFrame:
    """Paragraph-boundary exact dedup with reassembly: split every
    document on ``sep`` (a LITERAL separator string — default blank
    line — quoted with \\Q..\\E before it reaches the regex split, so
    the same string is used verbatim for splitting AND for the
    reassembly join; regex separators would make round-tripping
    ill-defined since the matched text is lost at split), fingerprint
    each paragraph on its whitespace/case-normalized form, keep each
    distinct paragraph only at its FIRST occurrence corpus-wide (min
    (doc, position)), and reassemble the survivors with ``sep`` — in
    their ORIGINAL characters, unlike :func:`chunk_dedup_reassemble`
    whose output is token-normalized. This is the boilerplate-paragraph
    remover (repeated license headers, nav blocks, footers) a web-crawl
    curation run applies before document-level near-dedup.

    Output: (id, n_paragraphs, kept_paragraphs, deduped_text) — one
    row per document; fully-deduplicated docs keep the row with
    kept_paragraphs=0 and deduped_text=''.

    Scale shape: the split is a per-row projection; the keeper decision
    is one hash agg on the 128-bit fingerprint (min(struct(doc,pos))
    combines map-side; the shuffle carries 16-byte keys + two longs,
    never paragraph text); the decision joins back on the fingerprint
    (paragraph text moves once — AQE splits hot boilerplate keys) and
    reassembly is the per-doc rebuild exchange. Same two-text-move
    floor as chunk dedup.
    """
    # Pattern.quote semantics: \Q..\E quoting breaks if sep itself
    # contains \E (the embedded \E would close the quote early and the
    # remainder would match as regex while reassembly joins the raw
    # string) — split on it and re-open the quote, like Java does.
    quoted = "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"
    # materialization boundary (r12 optimization): like
    # chunk_dedup_reassemble's chunk frame, the paragraph frame feeds
    # three consumers (keeper agg, keeper join probe, per-doc totals);
    # without it the split+fingerprint projection re-runs per consumer.
    # Measured at sf0.1: warm median 1.57 -> 1.36 s (calm host).
    paras = lane_cache(
        df.select(
            F.col(id_col),
            F.posexplode(
                F.split(F.col(text_col), quoted)
            ).alias("pos", "_p"),
        )
        .filter(F.trim(F.col("_p")) != "")
        .withColumn(
            "_fp",
            F.md5(F.trim(F.regexp_replace(F.lower(F.col("_p")), r"\s+", " "))),
        )
    )
    keeper = paras.groupBy("_fp").agg(
        F.min(F.struct(id_col, "pos")).alias("_first")
    )
    kept = paras.join(keeper, "_fp").filter(
        (F.col("_first")[id_col] == F.col(id_col))
        & (F.col("_first")["pos"] == F.col("pos"))
    )
    totals = paras.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_paragraphs")
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count("*").cast("long").alias("kept_paragraphs"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "_p"))),
                lambda s: s["_p"],
            ),
            sep,
        ).alias("deduped_text"),
    )
    return totals.join(rebuilt, id_col, "left").select(
        id_col, "n_paragraphs",
        F.coalesce("kept_paragraphs", F.lit(0).cast("long"))
        .alias("kept_paragraphs"),
        F.coalesce("deduped_text", F.lit("")).alias("deduped_text"),
    )


def cluster_size_histogram(components: DataFrame,
                           component_col: str = "component_id") -> DataFrame:
    """Duplication-profile report over a COMPONENTS FRAME: cluster-size
    histogram (cluster_size, n_clusters, n_docs). Two id-scale hash
    aggs over the labels — nothing touches text.

    The input is the persisted artifact of a dedup run
    (:func:`components_from_pairs` output written to a table), NOT a
    recomputation: report queries must never re-execute their subject
    (SCALE.md) — at 100 TB the components table is the cheap id-scale
    thing you read, the pipeline that produced it is the expensive
    thing you ran once. The registry lane re-runs the pipeline inline
    only because each correctness lane is self-contained.
    """
    sizes = components.groupBy(component_col).agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count("*").cast("long").alias("n_clusters"),
        F.sum("cluster_size").cast("long").alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# mergeable Bloom-filter membership (seen-set for cross-run dedup)
# ---------------------------------------------------------------------------

def bloom_size(n_expected: int, fpr: float = 0.01) -> tuple[int, int]:
    """Closed-form Bloom sizing for :func:`bloom_shard_blocks` /
    :func:`bloom_probe`: returns ``(m_bits, k)`` for ``n_expected``
    distinct keys at target false-positive rate ``fpr``.

    m = ceil(-n * ln(p) / ln(2)^2) rounded UP to the next power of
    two (Kirsch-Mitzenmacher double hashing wants the odd stride to
    cycle a power-of-two table), k = round(m/n * ln 2) floored at 1 —
    then the closed-form bound (1 - e^{-kn/m})^k is VERIFIED and m
    doubles until it comes in at or under ``fpr``: the round-up
    usually over-provisions, but when m_exact lands just below a
    power of two the integer k can push the bound a hair over target,
    so callers sizing state bytes should budget for up to 2x the
    unverified closed form. At the 1% default this is ~10-20
    bits/key (the function the run-book calls instead of hand-picked
    constants).

    Size for the EXPECTED HISTORY, not the first batch: the filter
    never needs a rebuild until the accreted key count outgrows
    ``n_expected`` (then rebuild = one pass over history keys at the
    next size). State cost is m/32 32-bit block rows.
    """
    import math

    if n_expected < 1:
        raise ValueError(f"n_expected must be >= 1, got {n_expected}")
    if not 0.0 < fpr < 1.0:
        raise ValueError(f"fpr must be in (0, 1), got {fpr}")
    m_exact = -n_expected * math.log(fpr) / (math.log(2) ** 2)
    m_bits = 1 << max(5, math.ceil(math.log2(m_exact)))  # >= one block
    while True:
        k = max(1, round(m_bits / n_expected * math.log(2)))
        # the round-up USUALLY provides slack, but when m_exact lands
        # just under a power of two the integer-rounded k can push the
        # theoretical bound (1 - e^{-kn/m})^k a hair ABOVE the target
        # (e.g. n=109396 p=0.01 -> m=2^20: 0.010039 for both k=6,7;
        # r07 second review) — the at-or-under promise then needs the
        # next doubling, which converges immediately
        if (1 - math.exp(-k * n_expected / m_bits)) ** k <= fpr:
            return m_bits, k
        m_bits <<= 1


def _bloom_positions(key: Column, m_bits: int, k: int) -> list[Column]:
    """The ``k`` bit positions for ``key`` via Kirsch-Mitzenmacher double
    hashing: ``pos_i = (h1 + i * stride) % m`` with an ODD stride so the
    probe sequence cycles the whole (power-of-two) table instead of
    collapsing when ``h2 % m == 0``. Both base hashes are the proven
    portable family (first 60 bits of md5 as a long — identical in the
    DuckDB oracle), reduced mod m BEFORE the multiply so ``i * stride``
    stays far from 64-bit overflow. Hashes sit at the top level of the
    projection (whole-stage codegen), mirroring minhash_signatures."""
    def h(salt: str) -> Column:
        return F.conv(
            F.substring(F.md5(F.concat(F.lit(salt), key)), 1, 15), 16, 10
        ).cast("long") % m_bits
    h1 = h("b1:")
    stride = h("b2:") * 2 + 1
    return [(h1 + F.lit(i) * stride) % m_bits for i in range(k)]


def bloom_shard_blocks(df: DataFrame, key_col: str = "fp",
                       shard_col: Column | None = None,
                       m_bits: int = 1 << 18, k: int = 5) -> DataFrame:
    """Distributed Bloom-filter build: the CROSS-RUN-persistable
    "seen-set" a 100 TB ingest keeps so a new crawl snapshot can skip
    already-ingested content (URLs, content fingerprints) WITHOUT
    joining against the full history table. State is (shard, block,
    bits): the m-bit filter packed into 32-bit blocks, m/32 rows
    (m=2^18 -> 8,192 rows). Blocks are 32-bit (bit masks <= 2^31) so
    the identical math runs in the DuckDB oracle, whose BIGINT <<
    errors at shift 63.

    Honest scale accounting: Bloom state is O(n) BITS, not constant —
    holding a target FPR needs ~10 bits per expected distinct key at
    1% (m = -n*ln(p)/ln(2)^2, k = m/n*ln(2)). The win over the exact
    history anti-join is the ~25x compression (10 bits vs a 32-byte
    fingerprint row) plus a join-free probe: up to m in the
    low-gigabytes (~10^9..10^10 keys) the block table broadcasts and
    the probe is exchange-free; beyond that, partition the probe by
    block id (equi-join blocks<->positions — the same plan, one
    shuffle) or shard the filter by key range. Size m for the
    EXPECTED history: the filter never needs a rebuild until n
    outgrows it (then rebuild = one pass over history keys).

    Merging runs/shards is ``bit_or`` per block (:func:`bloom_merge`) —
    associative, idempotent, commutative, so re-delivered batches
    cannot corrupt the filter. Build shape: k positions per key is a
    per-row projection; the only shuffle carries (block, mask) pairs,
    partial-bit_or'd map-side into at most m/32 groups.

    False-positive rate at n keys: (1 - e^(-k*n/m))^k — defaults give
    ~1.6% at n=2^15. False NEGATIVES are impossible, which is the
    property a dedup gate needs: a false positive re-drops a duplicate
    candidate (cheap second check or tolerable loss); a false negative
    would re-ingest.
    """
    if shard_col is None:
        shard_col = F.lit(0).cast("long")
    # NULL keys (null text -> null fingerprint) would hash to NULL
    # positions and write a garbage (block=NULL, bits=NULL) row into
    # the persisted state forever (review fix). A NULL key is never
    # "seen": the build drops it here, and bloom_probe reports it
    # definitely-new (its NULL positions miss the join -> false).
    pos = df.filter(F.col(key_col).isNotNull()).select(
        shard_col.alias("shard"),
        F.explode(F.array(*_bloom_positions(F.col(key_col), m_bits, k)))
        .alias("pos"),
    ).select(
        "shard",
        (F.col("pos") / 32).cast("int").alias("block"),
        # shiftleft's Python binding takes a literal shift only; the
        # SQL form accepts the column
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))")
        .alias("mask"),
    )
    return (
        pos.groupBy("shard", "block")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_merge(blocks: DataFrame) -> DataFrame:
    """Union of Bloom filters = bit_or per block. Input is any union of
    :func:`bloom_shard_blocks` outputs (across shards, runs, or both —
    e.g. run B unioning its own blocks with run A's persisted parquet);
    output drops the shard column. m/32-row state, trivially mergeable
    forever — the filter never needs a rebuild, only a widen when the
    key count outgrows m (rebuild cost = one pass over history keys)."""
    return (
        blocks.groupBy("block")
        .agg(F.bit_or("bits").alias("bits"))
    )


def bloom_probe(df: DataFrame, blocks: DataFrame, key_col: str = "fp",
                id_col: str = "doc_id", m_bits: int = 1 << 18,
                k: int = 5) -> DataFrame:
    """Probe keys against a merged Bloom filter: (id, key,
    maybe_member). maybe_member=true means the key MAY be in the seen
    set (false-positive rate per :func:`bloom_shard_blocks`);
    false means it is DEFINITELY new.

    Scale shape: the filter is m/32 rows — broadcast, so the probe is
    exchange-free on the batch side: explode k (block, mask) rows per
    key, broadcast-hash-join to the blocks, bool_and the bit tests back
    per id (map-side combinable; the groupBy carries booleans only).
    An absent block means those bits were never set -> coalesce false.

    The filter side is ALWAYS passed through :func:`bloom_merge` first
    (idempotent on already-merged blocks, O(m/32) rows): unmerged
    multi-shard :func:`bloom_shard_blocks` output would otherwise match
    one row per shard per position and bool_and would demand the bit in
    EVERY shard — silent false negatives, breaking the only guarantee a
    Bloom filter offers.
    """
    blocks = bloom_merge(blocks)
    pos = df.select(
        F.col(id_col), F.col(key_col),
        F.explode(F.array(*_bloom_positions(F.col(key_col), m_bits, k)))
        .alias("pos"),
    ).select(
        id_col, key_col,
        (F.col("pos") / 32).cast("int").alias("block"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))")
        .alias("mask"),
    )
    joined = pos.join(F.broadcast(blocks), "block", "left")
    return (
        joined.groupBy(id_col, key_col)
        .agg(
            F.bool_and(
                F.coalesce(
                    F.col("bits").bitwiseAND(F.col("mask")) != 0,
                    F.lit(False),
                )
            ).alias("maybe_member")
        )
    )


def cross_source_dup_matrix(df: DataFrame, text_col: str = "text",
                            group_col: str = "source") -> DataFrame:
    """Cross-SOURCE duplication matrix: for every source pair (a < b),
    how many distinct normalized contents appear in both — the
    provenance report that shows which feeds mirror each other (and
    therefore which order dedup should keep representatives in, or
    which source to drop outright). The within-source view is
    :func:`exact_dedup_clusters`; this is the between-source view.

    Scale shape: reduce to distinct (source, 16-byte fp) first (text
    never shuffles), self-join on fp — per fingerprint the join emits
    at most sources-choose-2 pairs, so the blowup is bounded by the
    SOURCE count, not the corpus — then one pair-key count agg.

    Output: (source_a, source_b, n_shared long).
    """
    fps = df.select(
        F.col(group_col), content_fingerprint(text_col).alias("_fp")
    ).distinct()
    a = fps.select(F.col(group_col).alias("source_a"), "_fp")
    b = fps.select(F.col(group_col).alias("source_b"), "_fp")
    return (
        a.join(b, "_fp")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
    )


def merge_components_incremental(components: DataFrame,
                                 new_ids: DataFrame,
                                 new_pairs: DataFrame,
                                 id_col: str = "doc_id",
                                 max_iter: int = 25) -> DataFrame:
    """Fold a new batch into PERSISTED connected components without
    re-running dedup over history: the old assignment collapses to one
    edge per non-representative node (id -> its component label), the
    batch contributes its new pairs (new-new and new-old candidates
    from the incremental LSH probe), and components re-solve over that
    id-scale edge set. Equivalent to a full recompute over the union
    graph — contracting each old component to a star preserves
    connectivity, and labels are min-ids in both formulations — but
    the input is O(ids + new pairs) labels, never history text or
    history shingles (the same cost boundary as
    incremental_neardup_indexed: history participates only through
    its persisted artifact).

    Output: (id, component_id) over history + batch ids — the new
    persisted assignment.
    """
    old_edges = (
        components.filter(F.col(id_col) != F.col("component_id"))
        .select(
            F.col(id_col).cast("long").alias("id_a"),
            F.col("component_id").cast("long").alias("id_b"),
        )
    )
    all_ids = components.select(id_col).unionByName(
        new_ids.select(id_col)
    ).distinct()
    edges = old_edges.unionByName(
        new_pairs.select(
            F.col("id_a").cast("long"), F.col("id_b").cast("long")
        )
    )
    return components_from_pairs(all_ids, edges, id_col=id_col,
                                 max_iter=max_iter, algorithm="bigstar")


def ngram_jaccard_pairs_probe(df: DataFrame, probe: Column,
                              text_col: str = "text",
                              id_col: str = "doc_id", k: int = 3,
                              threshold: float = 0.1) -> DataFrame:
    """Qualifying Jaccard pairs where at least one endpoint satisfies
    ``probe`` (a boolean Column over the row) — the INCREMENTAL pair
    generator: only probe-side shingles join against the corpus, so
    history-history pairs are never built, joined, or aggregated (the
    review found the filtered-after-the-fact version paid the full
    self-join it claimed to avoid). Each unordered pair is counted
    exactly once: both-probe pairs via the id order, mixed pairs via
    the probe doc always sitting on the build side.

    Output: (id_a, id_b, jaccard) with id_a < id_b — the same contract
    as :func:`ngram_jaccard_pairs` restricted to probe-touching pairs.
    """
    base = lane_cache(df.select(
        F.col(id_col), shingles(text_col, k).alias("s"),
        probe.alias("_b"),
    ))
    ex = base.select(
        F.col(id_col), F.size("s").alias("n_sh"), F.col("_b"),
        F.explode("s").alias("sh"),
    )
    a = ex.filter(F.col("_b")).alias("a")
    b = ex.alias("b")
    cond = (
        (F.col("a.sh") == F.col("b.sh"))
        & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
        # both-probe pairs once (id order); mixed pairs once (the
        # probe doc is always the a side)
        & ((F.col(f"a.{id_col}") < F.col(f"b.{id_col}")) | ~F.col("b._b"))
    )
    inter = (
        a.join(b, cond)
        .groupBy(
            F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}"))
            .alias("id_a"),
            F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}"))
            .alias("id_b"),
            (F.col("a.n_sh") + F.col("b.n_sh")).alias("n_sum"),
        )
        .agg(F.count("*").alias("n_inter"))
    )
    jac = F.col("n_inter") / (F.col("n_sum") - F.col("n_inter"))
    return (
        inter.select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
