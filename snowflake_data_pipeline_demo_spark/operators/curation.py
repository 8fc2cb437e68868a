"""The corpus-curation funnel: exact dedup → benchmark decontamination
→ quality filtering, composed from the individually oracle-gated
operators, with per-stage survivor counts — the summary a data-curation
run reports at every scale.

Scale: each stage is the operator's own plan (see their modules); the
funnel adds only four global counts. Stages compose as semi-joins on
doc ids, so text columns never re-shuffle between stages — at 100 TB
the funnel materializes each stage's id set (or runs as one plan and
lets the cache/table boundaries the caller chooses decide).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .decontam import ngram_contamination
from .text import gopher_flags


def curation_funnel(corpus: DataFrame, eval_docs: DataFrame,
                    text_col: str = "text", id_col: str = "doc_id",
                    k: int = 3, min_hits: int = 2,
                    min_required: int = 2) -> DataFrame:
    """Per-stage survivor counts: raw → exact-dedup'd → decontaminated
    → quality-kept. Output: (stage_id, stage, n_docs), stage_id giving
    the funnel order.

    r12 optimization — ONE verdict pass instead of four staged counts:
    every gate's per-doc verdict is independent of the other gates
    (the exact-dedup keeper is min-id per corpus-wide fingerprint; a
    doc's contamination depends on its own text vs the eval set; the
    Gopher flags are per-row), so the four cumulative stage counts are
    conditional sums over one per-doc flag frame — integer-exact equal
    to counting the staged semi-join chain, which re-derived every
    upstream stage per count (the old id-set checkpoint boundaries
    bounded the recompute but still paid four corpus passes and three
    eager-ish checkpoints). Measured at sf0.1: warm median
    2.79 -> 1.99 s, min 2.68 -> 1.77 s (calm host). drop_reasons
    (below) has always had this shape; the funnel now shares it. The
    staged form remains exactly what a restartable warehouse run
    persists (stage tables) — that is a checkpointing choice the
    CALLER makes by materializing between stages; the funnel REPORT
    itself needs no stage tables.

    r12 second pass: (a) the keeper verdict no longer re-scans the
    corpus for a separate fingerprint agg + id-key join — the
    fingerprint and the quality flag come from ONE projection and the
    keeper test is ``id == min(id) over (partition by fp)``, the exact
    same min-id-per-content policy (the null-fp group keeps its one
    representative exactly as the old groupBy did); (b) the
    contamination verdict LEFT-joins the positive id set
    (:func:`~.decontam.contaminated_ids`) instead of inner-joining
    ngram_contamination's per-doc report, whose zero-fill spine paid a
    third corpus scan only to say "not contaminated" explicitly
    (min_hits <= 0, where zero-hit docs count as contaminated, keeps
    the spine form). Net: Scan 4 -> 2, joins 2 -> 1 + a window that
    carries (id, 16-byte fp, bool)."""
    from pyspark.sql import Window

    from .decontam import contaminated_ids
    from .text import content_fingerprint

    if min_hits <= 0:
        cont = ngram_contamination(
            corpus, eval_docs, text_col, id_col, k, min_hits
        ).select(F.col(id_col), "contaminated")
    else:
        cont = contaminated_ids(
            corpus, eval_docs, text_col, id_col, k, min_hits
        ).withColumn("contaminated", F.lit(True))
    flags = (
        corpus.select(
            F.col(id_col),
            content_fingerprint(text_col).alias("_fp"),
            gopher_flags(text_col, min_required)["keep"].alias("_q"),
        )
        .withColumn(
            "_kd",
            F.col(id_col) == F.min(id_col).over(Window.partitionBy("_fp")),
        )
        .join(cont, id_col, "left")
        .select(
            "_kd",
            F.coalesce("contaminated", F.lit(False)).alias("contaminated"),
            "_q",
        )
    )
    row = flags.agg(
        F.count("*").alias("_n0"),
        F.sum(F.col("_kd").cast("long")).alias("_n1"),
        F.sum((F.col("_kd") & ~F.col("contaminated")).cast("long"))
        .alias("_n2"),
        F.sum((F.col("_kd") & ~F.col("contaminated") & F.col("_q"))
              .cast("long")).alias("_n3"),
    )
    stages = [(0, "raw", "_n0"), (1, "exact_dedup", "_n1"),
              (2, "decontaminated", "_n2"), (3, "quality_kept", "_n3")]
    # unpivot the one agg row in-plan (explode over a struct array) —
    # a union of four selects over `row` would re-execute the corpus
    # agg once per stage, the very recompute this rewrite removes
    return row.select(
        F.explode(F.array(*[
            F.struct(
                F.lit(sid).alias("stage_id"),
                F.lit(name).alias("stage"),
                F.coalesce(F.col(col), F.lit(0).cast("long"))
                .alias("n_docs"),
            )
            for sid, name, col in stages
        ])).alias("_s")
    ).select("_s.stage_id", "_s.stage", "_s.n_docs")


def drop_reasons(corpus: DataFrame, eval_docs: DataFrame,
                 text_col: str = "text", id_col: str = "doc_id",
                 min_required: int = 2, min_hits: int = 2) -> DataFrame:
    """Per-document audit of the curation funnel: WHY was each document
    dropped — the first failing gate in funnel order ('exact_dup' ->
    'contaminated' -> 'low_quality') or 'kept'. The explainability
    report reviewers ask for when a source's volume collapses.

    Output: (id, drop_reason) — one row per corpus doc.

    Scale shape (r12 rewrite): the fingerprint and the quality flag are
    computed in ONE corpus projection, and the exact-dup verdict is a
    ``min(id) over (partition by fp)`` window on that frame — the same
    min-id-per-content keeper policy as :func:`curation_funnel` and
    ``exact_dedup_clusters`` (the window's min is that operator's agg,
    re-attached without the separate fingerprint re-scan + content-key
    join the old staged form paid: the formatted plan went from 6 scans
    and 4 joins to 3 scans, 1 join and the window). Null-fp docs (null
    text) keep the
    old inner-join-on-fp semantics — excluded from the audit — via an
    explicit filter. The contamination verdict LEFT-joins the positive
    id set (:func:`~.decontam.contaminated_ids` — broadcast eval
    n-grams, no zero-fill spine scan; the spine form returns for
    min_hits <= 0 where zero-hit docs count as contaminated); text
    never shuffles — the window carries (id, 16-byte fp, quality bool).
    """
    from pyspark.sql import Window

    from .decontam import contaminated_ids
    from .text import content_fingerprint

    flags = corpus.select(
        F.col(id_col),
        content_fingerprint(text_col).alias("_fp"),
        gopher_flags(text_col, min_required=min_required)["keep"].alias("_q"),
    ).filter(F.col("_fp").isNotNull())
    # same representative policy as the funnel / exact_dedup_clusters:
    # the min-id doc of each content cluster is the keeper
    dup = flags.withColumn(
        "_is_dup",
        F.col(id_col) != F.min(id_col).over(Window.partitionBy("_fp")),
    )
    if min_hits <= 0:
        cont = ngram_contamination(
            corpus, eval_docs, text_col, id_col, min_hits=min_hits
        ).select(F.col(id_col), "contaminated")
    else:
        cont = contaminated_ids(
            corpus, eval_docs, text_col, id_col, min_hits=min_hits
        ).withColumn("contaminated", F.lit(True))
    return (
        dup.join(cont, id_col, "left")
        .withColumn("contaminated",
                    F.coalesce("contaminated", F.lit(False)))
        .select(
            id_col,
            F.when(F.col("_is_dup"), F.lit("exact_dup"))
            .when(F.col("contaminated"), F.lit("contaminated"))
            .when(~F.col("_q"), F.lit("low_quality"))
            .otherwise(F.lit("kept"))
            .alias("drop_reason"),
        )
    )


def snapshot_diff(old: DataFrame, new: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  group_col: str = "source") -> DataFrame:
    """Per-group content diff between two corpus SNAPSHOTS (crawl N vs
    crawl N+1): how much is new, how much disappeared, how much
    carried over — the first report an incremental ingest run produces,
    and the input to re-crawl budgeting. Compares distinct normalized
    content fingerprints, not ids, so a re-crawled unchanged page
    counts as kept and a moved page does not count twice.

    Scale shape: each snapshot reduces to a distinct (group, 16-byte
    fp) set first (map-side-combined agg — text never shuffles), the
    diff is one full-outer equi-join of the two id-scale sets, and the
    report is a group-key agg of presence flags. No step carries more
    than O(distinct contents) rows.

    Output: (group, n_old, n_new, n_added, n_removed, n_kept) where
    kept = fingerprint present in both snapshots.
    """
    from .text import content_fingerprint

    def fps(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(group_col),
            content_fingerprint(text_col).alias("_fp"),
        ).distinct()

    o = fps(old).withColumn("_in_old", F.lit(True))
    n = fps(new).withColumn("_in_new", F.lit(True))
    joined = o.join(n, [group_col, "_fp"], "full_outer").select(
        group_col,
        F.coalesce("_in_old", F.lit(False)).alias("_in_old"),
        F.coalesce("_in_new", F.lit(False)).alias("_in_new"),
    )
    return joined.groupBy(group_col).agg(
        F.sum(F.col("_in_old").cast("long")).cast("long").alias("n_old"),
        F.sum(F.col("_in_new").cast("long")).cast("long").alias("n_new"),
        F.sum((F.col("_in_new") & ~F.col("_in_old")).cast("long"))
        .cast("long").alias("n_added"),
        F.sum((F.col("_in_old") & ~F.col("_in_new")).cast("long"))
        .cast("long").alias("n_removed"),
        F.sum((F.col("_in_old") & F.col("_in_new")).cast("long"))
        .cast("long").alias("n_kept"),
    )
