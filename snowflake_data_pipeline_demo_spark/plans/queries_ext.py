"""Training-data-pipeline extension queries (BASELINE.json north star):
dedup (exact / MinHash+LSH / SimHash / n-gram Jaccard / embedding
near-dup), similarity search (brute-force + LSH ANN), text analysis,
multimodal plumbing — each oracle-checked against DuckDB where the
semantics are SQL-expressible.

Registered into the same QUERIES dict as the reference-parity set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import lane_tmpdir
from ..operators import (
    chunking, decontam, dedup, joins, multimodal, sampling, similarity, text,
)
from ..sources import testdata
from .queries import query

#: DuckDB token expression shared by the text oracles (mirrors
#: operators.text.tokens exactly)
_DTOKS = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '')"
#: DuckDB word-3-shingle expression (mirrors operators.dedup.shingles)
_DSHING = (
    "CASE WHEN len(t) >= 3 THEN list_distinct([concat_ws(' ', t[CAST(i AS INT)], "
    "t[CAST(i AS INT)+1], t[CAST(i AS INT)+2]) for i in range(1, len(t)-1)]) "
    "ELSE [array_to_string(t, ' ')] END"
)
#: DuckDB left-fold dot product (mirrors operators.similarity.dot)
def _ddot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"[CAST({a}[CAST(i AS INT)] AS DOUBLE)*CAST({b}[CAST(i AS INT)] AS DOUBLE) "
        f"for i in range(1, len({a})+1)]), (x,y) -> x+y)"
    )


def _dnorm(a: str) -> str:
    return (
        f"sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"[CAST(x AS DOUBLE)*CAST(x AS DOUBLE) for x in {a}]), (x,y) -> x+y))"
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

@query(
    "x_text_stats",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text,
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm,
             {_DTOKS} AS t
      FROM documents
    )
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(t, w -> CAST(ceil(length(w)/4.0) AS BIGINT))),
                (a,b) -> a+b) AS BIGINT) AS bpe_tokens,
           md5(norm) AS fingerprint,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, length(norm)+1),
                              i -> CAST(ascii(substr(norm, CAST(i AS INT), 1)) AS BIGINT))),
               (a,b) -> (a*131+b) % 1000000007) AS rhash
    FROM base
    """,
    survey_ref="north-star:text-analysis",
)
def x_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish), content fingerprint, and
    the portable rolling hash, per document."""
    d = testdata.load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        text.token_count("text").alias("n_tokens"),
        text.bpe_ish_token_count("text").alias("bpe_tokens"),
        text.content_fingerprint("text").alias("fingerprint"),
        text.rolling_hash("text").alias("rhash"),
    )


@query(
    "x_text_quality",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text, {_DTOKS} AS t FROM documents
    ), m AS (
      SELECT doc_id, text, len(t) AS n_tok,
             CASE WHEN len(t) > 0 THEN
               len(list_filter(t, x -> list_contains(['the','a','of','and','to','in','is','it','that','for'], x))) / len(t)
             ELSE 0.0 END AS sw,
             CASE WHEN len(t) > 0 THEN
               list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(t, w -> CAST(length(w) AS BIGINT))), (a,b) -> a+b) / len(t)
             ELSE 0.0 END AS mwl,
             CASE WHEN length(text) > 0 THEN
               length(regexp_replace(text, '[^.,;:!?]', '', 'g')) / length(text)
             ELSE 0.0 END AS pr
      FROM base
    )
    SELECT doc_id,
           round(0.35 * (CASE WHEN n_tok >= 10 AND n_tok <= 5000 THEN 1.0 WHEN n_tok > 0 THEN 0.5 ELSE 0.0 END)
               + 0.25 * (CASE WHEN sw >= 0.01 AND sw <= 0.6 THEN 1.0 ELSE 0.3 END)
               + 0.25 * (CASE WHEN mwl >= 2.0 AND mwl <= 12.0 THEN 1.0 ELSE 0.2 END)
               + 0.15 * (CASE WHEN pr <= 0.1 THEN 1.0 ELSE 0.5 END), 4) AS quality
    FROM m
    """,
    survey_ref="north-star:text-quality",
)
def x_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score (length/stopword/word-shape/punctuation)."""
    d = testdata.load(spark, sf_dir, "documents")
    return d.select("doc_id", text.quality_score("text").alias("quality"))


@query(
    "x_lang_id",
    oracle=f"""
    WITH base AS (SELECT doc_id, {_DTOKS} AS t FROM documents),
    hits AS (
      SELECT doc_id,
        len(list_filter(t, x -> list_contains(['der','die','das','und','ist','ein','eine','zu','den','von'], x))) AS n_de,
        len(list_filter(t, x -> list_contains(['the','a','of','and','to','in','is','it','that','for'], x))) AS n_en,
        len(list_filter(t, x -> list_contains(['el','la','de','y','es','un','una','que','en','los'], x))) AS n_es,
        len(list_filter(t, x -> list_contains(['le','la','de','et','est','un','une','que','les','des'], x))) AS n_fr
      FROM base
    )
    SELECT doc_id,
      CASE WHEN greatest(n_de, n_en, n_es, n_fr) = 0 THEN 'und'
           WHEN n_de = greatest(n_de, n_en, n_es, n_fr) THEN 'de'
           WHEN n_en = greatest(n_de, n_en, n_es, n_fr) THEN 'en'
           WHEN n_es = greatest(n_de, n_en, n_es, n_fr) THEN 'es'
           ELSE 'fr' END AS lang_pred
    FROM hits
    """,
    survey_ref="north-star:lang-id",
)
def x_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-table language-ID heuristic."""
    d = testdata.load(spark, sf_dir, "documents")
    return d.select("doc_id", text.lang_id("text").alias("lang_pred"))


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------

@query(
    "x_dedup_exact",
    oracle="""
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
           MIN(doc_id) AS keep_id, COUNT(*) AS n_docs
    FROM documents GROUP BY 1
    """,
    survey_ref="north-star:dedup-exact",
)
def x_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = testdata.load(spark, sf_dir, "documents")
    return dedup.exact_dedup_clusters(d)


#: dedup.minhash_signatures' md5 family: seed ``h``, shingle ``x``
_MD5_MINHASH = "CAST(concat('0x', substr(md5(CAST(h AS VARCHAR) || ':' || x), 1, 15)) AS BIGINT)"


def _minhash_sig_sql(hash_sql: str = _MD5_MINHASH) -> str:
    """DuckDB CTEs ending in ``sig(doc_id, sig)``: 16 MinHash seeds over
    each doc's word 3-shingles, ``hash_sql`` hashing seed ``h`` (BIGINT)
    and shingle ``x`` (VARCHAR)."""
    return f"""
    WITH toks AS (SELECT doc_id, {_DTOKS} AS t FROM documents),
    sh AS (SELECT doc_id, {_DSHING} AS s FROM toks),
    sig AS (
      SELECT doc_id,
             [list_min([{hash_sql} for x in s])
              for h in range(0, 16)] AS sig
      FROM sh
    )
"""


def _minhash_lsh_oracle(hash_sql: str = _MD5_MINHASH) -> str:
    """MinHash(16) + LSH(4 bands x 4 rows) candidate pairs with their
    signature-estimated Jaccard, signatures by ``hash_sql``."""
    return _minhash_sig_sql(hash_sql) + """
    , banded AS (
      SELECT doc_id, bnd,
             md5(array_to_string(sig[CAST(bnd*4+1 AS INT):CAST(bnd*4+4 AS INT)], ',')) AS key
      FROM sig, range(0, 4) r(bnd)
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
      FROM banded a JOIN banded b2
        ON a.bnd = b2.bnd AND a.key = b2.key AND a.doc_id < b2.doc_id
    )
    SELECT p.id_a, p.id_b,
           round(len([i for i in range(1, 17)
                      if sa.sig[CAST(i AS INT)] = sb.sig[CAST(i AS INT)]]) / 16.0, 4) AS jaccard_est
    FROM pairs p
    JOIN sig sa ON sa.doc_id = p.id_a
    JOIN sig sb ON sb.doc_id = p.id_b
    """


@query(
    "x_dedup_minhash_lsh",
    oracle=_minhash_lsh_oracle(),
    survey_ref="north-star:dedup-minhash-lsh",
)
def x_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH(4 bands x 4 rows) candidate pairs with the
    signature-estimated Jaccard."""
    d = testdata.load(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(d, num_hashes=16)
    from .queries import _materialize

    # two boundaries: sigs feed both candidate generation and the
    # estimate joins; pairs feed the estimate twice (once per side) —
    # without the second boundary the banded self-join re-runs inside
    # each estimate join branch.
    sigs = _materialize(sigs)
    pairs = _materialize(dedup.lsh_candidate_pairs(sigs, bands=4))
    return dedup.minhash_jaccard_estimate(sigs, pairs)


@query(
    "x_dedup_ngram_jaccard",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_DTOKS} AS t FROM documents),
    sh AS (SELECT doc_id, {_DSHING} AS s FROM toks),
    ex AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS sh FROM sh)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(COUNT(*) / (a.n_sh + b.n_sh - COUNT(*)), 4) AS jaccard
    FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
    GROUP BY 1, 2, a.n_sh, b.n_sh
    HAVING round(COUNT(*) / (a.n_sh + b.n_sh - COUNT(*)), 4) >= 0.1
    """,
    survey_ref="north-star:dedup-ngram-jaccard",
)
def x_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard for pairs sharing a shingle (>= 0.1)."""
    d = testdata.load(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(d, threshold=0.1)


@query(
    "x_dedup_simhash",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_DTOKS} AS t FROM documents)
    SELECT doc_id,
           array_to_string([CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
             [CASE WHEN strpos('0123456789abcdef', substr(md5(tok), CAST(j AS INT)+1, 1)) - 1 >= 8
                   THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END for tok in t]),
             (a,b) -> a+b) >= 0 THEN '1' ELSE '0' END for j in range(0, 16)], '') AS simhash
    FROM toks
    """,
    survey_ref="north-star:dedup-simhash",
)
def x_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = testdata.load(spark, sf_dir, "documents")
    return dedup.simhash_signatures(d)


@query(
    "x_dedup_embedding_neardup",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({_ddot('a.embedding', 'b.embedding')}
                 / ({_dnorm('a.embedding')} * {_dnorm('b.embedding')}), 4) AS cos
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE round({_ddot('a.embedding', 'b.embedding')}
                / ({_dnorm('a.embedding')} * {_dnorm('b.embedding')}), 4) >= 0.5
    """,
    survey_ref="north-star:dedup-embedding",
)
def x_dedup_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (brute-force verifier)."""
    e = testdata.load(spark, sf_dir, "embeddings")
    return dedup.embedding_neardup_pairs(e, threshold=0.5)


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

@query(
    "x_sim_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id,
             -- `+ 0` = house signed-zero normalization (SURVEY §5)
             round({_ddot('cv', 'qv')} / ({_dnorm('cv')} * {_dnorm('qv')}), 4) + 0 AS cos
      FROM c, q WHERE neighbor_id != query_id
    ), ranked AS (
      SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, rank, neighbor_id, cos FROM ranked WHERE rank <= 5
    """,
    survey_ref="north-star:similarity-bruteforce",
)
def x_sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for the first 10 vectors as queries."""
    e = testdata.load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.cosine_topk(e, q, k=5)


def _lsh_sig_sql(planes: int, tables: int) -> str:
    """DuckDB rows ``(vec_id, embedding, t, bucket)``: table ``t``'s
    signature of each ``embeddings`` row, as ``similarity.lsh_signer``
    defines it. Each projection folds left to right from 0.0 over the
    row's own elements; a NULL element makes it NULL (bit 0), and DuckDB,
    like Spark, orders NaN above 0 (bit 1)."""
    return f"""
      SELECT vec_id, embedding, t,
        array_to_string([CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          [CAST(embedding[CAST(i AS INT)] AS DOUBLE)
             * (CASE WHEN strpos('0123456789abcdef',
                 substr(md5(CAST(p AS VARCHAR) || ':' || CAST(i-1 AS VARCHAR)), 1, 1)) - 1 >= 8
                THEN 1.0 ELSE -1.0 END)
           for i in range(1, len(embedding)+1)]),
          (a,b) -> a+b) >= 0 THEN '1' ELSE '0' END
           for p in range(CAST(t*{planes} AS INT), CAST(t*{planes}+{planes} AS INT))], '') AS bucket
      FROM embeddings, range(0, {tables}) r(t)"""


_LSH_ANN_ORACLE = f"""
    WITH sigd AS ({_lsh_sig_sql(8, 2)}),
    q AS (SELECT vec_id AS query_id, t, bucket FROM sigd WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, t, bucket FROM sigd),
    cand AS (
      SELECT DISTINCT query_id, neighbor_id
      FROM c JOIN q USING (t, bucket) WHERE neighbor_id != query_id
    ),
    scored AS (
      SELECT cand.query_id, cand.neighbor_id,
             -- `+ 0` = house signed-zero normalization (SURVEY §5)
             round({_ddot('ce.embedding', 'qe.embedding')}
                   / ({_dnorm('ce.embedding')} * {_dnorm('qe.embedding')}), 4) + 0 AS cos
      FROM cand
      JOIN embeddings qe ON qe.vec_id = cand.query_id
      JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
    ), ranked AS (
      SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, rank, neighbor_id, cos FROM ranked WHERE rank <= 5
    """


# x_sim_lsh_ann_prod: the former numpy-matmul arm, now the lane itself
@query("x_sim_lsh_ann_prod", oracle=_LSH_ANN_ORACLE,
       survey_ref="north-star:similarity-lsh-ann-production")
@query("x_sim_lsh_ann", oracle=_LSH_ANN_ORACLE,
       survey_ref="north-star:similarity-lsh-ann")
def x_sim_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-5 (2 tables x 8 hyperplanes,
    OR-amplified)."""
    e = testdata.load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.lsh_ann_topk(e, q, k=5, planes=8, tables=2)


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------

@query(
    "x_multimodal_metadata",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INT) AS byte_length,
           md5(text) AS checksum,
           ['image/png','audio/wav','video/mp4'][CAST(doc_id % 3 + 1 AS INT)] AS mime
    FROM documents
    """,
    survey_ref="north-star:multimodal-metadata",
)
def x_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary column + typed metadata struct extraction."""
    d = testdata.load(spark, sf_dir, "documents")
    blobs = multimodal.to_blob_table(d)
    return blobs.select(
        "doc_id",
        F.col("meta.byte_length").alias("byte_length"),
        F.col("meta.checksum").alias("checksum"),
        F.col("meta.mime").alias("mime"),
    )


@query(
    "x_multimodal_byte_histogram",
    # documents are pure ASCII (verified per SF), so byte ops on the
    # utf-8 payload == char ops on the text: the oracle rebuilds the
    # histogram with ascii(substr(...)). value = int/int division —
    # IEEE-exact in both engines, no rounding needed.
    oracle="""
    WITH b AS (SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents),
    pos AS (SELECT doc_id, text, unnest(range(1, n + 1)) AS i FROM b),
    bytes AS (
      SELECT doc_id, ascii(substr(text, CAST(i AS INT), 1)) // 16 AS bin
      FROM pos
    ),
    hist AS (SELECT doc_id, bin, COUNT(*) AS c FROM bytes GROUP BY 1, 2)
    SELECT b.doc_id, CAST(r.bin AS INT) AS bin,
           CASE WHEN b.n = 0 THEN 0.0
                ELSE COALESCE(h.c, 0) / b.n END AS value
    FROM b CROSS JOIN range(0, 16) r(bin)
    LEFT JOIN hist h ON h.doc_id = b.doc_id AND h.bin = r.bin
    """,
    survey_ref="north-star:multimodal-features",
)
def x_multimodal_byte_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction over the binary payload,
    exploded to (doc_id, bin, value) rows."""
    d = testdata.load(spark, sf_dir, "documents")
    return multimodal.byte_histogram_features(multimodal.to_blob_table(d))


@query(
    "x_multimodal_frame_sample",
    # comparable scalar projection of the binary frames (md5 + length);
    # frames in DuckDB are substr slices of the ASCII text = the same
    # bytes the Spark side slices from the utf-8 payload.
    oracle="""
    WITH b AS (SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents),
    p AS (SELECT doc_id, text, n, greatest(n // 4, 1) AS stride FROM b WHERE n > 0),
    jx AS (SELECT doc_id, text, stride, unnest(range(0, least(4, n))) AS j FROM p),
    f AS (
      SELECT doc_id, CAST(j AS INT) AS frame_idx,
             substr(text, CAST(j * stride + 1 AS INT), CAST(stride AS INT)) AS fs
      FROM jx
    )
    SELECT doc_id, frame_idx, md5(fs) AS frame_md5,
           CAST(length(fs) AS INT) AS frame_len
    FROM f
    """,
    survey_ref="north-star:multimodal-frames",
)
def x_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling shape: blob -> (doc_id, frame_idx, frame binary),
    projected to oracle-comparable scalars (md5, byte length)."""
    d = testdata.load(spark, sf_dir, "documents")
    frames = multimodal.frame_sample(multimodal.to_blob_table(d))
    return frames.select(
        "doc_id", "frame_idx",
        F.md5("frame").alias("frame_md5"),
        F.length("frame").alias("frame_len"),
    )


# ---------------------------------------------------------------------------
# Near-dup clustering, IVF similarity, deterministic splits (round 2)
# ---------------------------------------------------------------------------

@query(
    "x_dedup_components",
    # reachability via recursive CTE == the label-propagation fixpoint
    oracle=f"""
    WITH RECURSIVE toks AS (SELECT doc_id, {_DTOKS} AS t FROM documents),
    sh AS (SELECT doc_id, {_DSHING} AS s FROM toks),
    ex AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS sh FROM sh),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2, a.n_sh, b.n_sh
      HAVING round(COUNT(*) / (a.n_sh + b.n_sh - COUNT(*)), 4) >= 0.5
    ),
    ed AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ),
    reach(nid, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT reach.nid, ed.dst FROM reach JOIN ed ON ed.src = reach.r
    )
    SELECT nid AS doc_id, MIN(r) AS component_id, (nid = MIN(r)) AS is_kept
    FROM reach GROUP BY nid
    """,
    survey_ref="north-star:dedup-components",
)
def x_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clusters (connected components over the >=0.5
    Jaccard pair graph); component representative = min doc_id."""
    d = testdata.load(spark, sf_dir, "documents")
    return dedup.neardup_components(d, threshold=0.5)


@query(
    "x_dedup_components_bigstar",
    # same reachability fixpoint as x_dedup_components — the algorithms
    # must agree on every component label
    oracle=f"""
    WITH RECURSIVE toks AS (SELECT doc_id, {_DTOKS} AS t FROM documents),
    sh AS (SELECT doc_id, {_DSHING} AS s FROM toks),
    ex AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS sh FROM sh),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2, a.n_sh, b.n_sh
      HAVING round(COUNT(*) / (a.n_sh + b.n_sh - COUNT(*)), 4) >= 0.5
    ),
    ed AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ),
    reach(nid, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT reach.nid, ed.dst FROM reach JOIN ed ON ed.src = reach.r
    )
    SELECT nid AS doc_id, MIN(r) AS component_id, (nid = MIN(r)) AS is_kept
    FROM reach GROUP BY nid
    """,
    survey_ref="north-star:dedup-components",
)
def x_dedup_components_bigstar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clustering as x_dedup_components via the alternating
    large-star/small-star rounds (Kiveris et al.) — O(log^2 n) rounds
    independent of graph diameter (operators/dedup._bigstar_components).
    """
    d = testdata.load(spark, sf_dir, "documents")
    return dedup.neardup_components(d, threshold=0.5, algorithm="bigstar")


@query(
    "x_sim_ivf_ann",
    oracle=f"""
    WITH cent AS (
      SELECT vec_id AS centroid_id, embedding AS centv
      FROM embeddings WHERE vec_id < 8
    ),
    ac AS (
      SELECT e.vec_id, e.embedding, c.centroid_id,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY round({_ddot('e.embedding', 'c.centv')}
                 / ({_dnorm('e.embedding')} * {_dnorm('c.centv')}), 4) DESC,
               c.centroid_id) AS rn
      FROM embeddings e, cent c
    ),
    a1 AS (SELECT vec_id, embedding, centroid_id FROM ac WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, embedding AS qv
          FROM embeddings WHERE vec_id < 10),
    qp AS (
      SELECT q.query_id, q.qv, c.centroid_id,
             row_number() OVER (PARTITION BY q.query_id
               ORDER BY round({_ddot('q.qv', 'c.centv')}
                 / ({_dnorm('q.qv')} * {_dnorm('c.centv')}), 4) DESC,
               c.centroid_id) AS rn
      FROM q, cent c
    ),
    qp2 AS (SELECT query_id, qv, centroid_id FROM qp WHERE rn <= 2),
    scored AS (
      SELECT qp2.query_id, a1.vec_id AS neighbor_id,
             -- `+ 0` = house signed-zero normalization (SURVEY §5)
             round({_ddot('a1.embedding', 'qp2.qv')}
               / ({_dnorm('a1.embedding')} * {_dnorm('qp2.qv')}), 4) + 0 AS cos
      FROM qp2 JOIN a1 USING (centroid_id)
      WHERE a1.vec_id != qp2.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, rank, neighbor_id, cos FROM ranked WHERE rank <= 5
    """,
    survey_ref="north-star:similarity-ivf",
)
def x_sim_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-5: nlist=8 deterministic centroids (first 8
    vectors; production: k-means), nprobe=2 probed lists per query."""
    e = testdata.load(spark, sf_dir, "embeddings")
    cent = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.ivf_topk(e, q, cent, k=5, nprobe=2)


@query(
    "x_sample_hash_split",
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                  AS BIGINT) % 100 AS b,
             len({_DTOKS}) AS n_tok
      FROM documents
    )
    SELECT CASE WHEN b < 80 THEN 'train'
                WHEN b < 90 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens
    FROM s GROUP BY 1
    """,
    survey_ref="north-star:sampling-split",
)
def x_sample_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by id hash, with
    per-split document and token totals."""
    d = testdata.load(spark, sf_dir, "documents")
    return (
        d.select(
            sampling.split_label("doc_id").alias("split"),
            text.token_count("text").alias("n_tok"),
        )
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
        )
    )


@query(
    "x_sessionize",
    oracle="""
    WITH x AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR date_diff('second', lag(ts) OVER w, ts) > 1800
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM x
    )
    SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM s GROUP BY 1
    """,
    survey_ref="north-star:sessionization",
)
def x_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user gaps-and-islands sessionization (30-min gap) over the
    events table — batch form of the streaming session_window rollup."""
    from ..operators.sessions import session_stats

    e = testdata.load(spark, sf_dir, "events")
    return session_stats(e, gap_minutes=30)


@query(
    "x_vocab_topk",
    oracle=f"""
    WITH t AS (SELECT unnest({_DTOKS}) AS token FROM documents),
    c AS (SELECT token, COUNT(*) AS n FROM t GROUP BY 1)
    SELECT token, n FROM c ORDER BY n DESC, token LIMIT 50
    """,
    survey_ref="north-star:vocabulary",
)
def x_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-50 tokens by frequency. Explode +
    hash-agg (map-side partial on the token key) + TakeOrdered — the
    only full-data shuffle carries (token, partial count) pairs."""
    d = testdata.load(spark, sf_dir, "documents")
    return (
        d.select(F.explode(text.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(50)
    )


@query(
    "x_profile_lengths",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(AVG(n_chars) AS DOUBLE) AS mean_chars,
           CAST(quantile_cont(n_chars, 0.5) AS DOUBLE) AS median_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents GROUP BY 1
    """,
    survey_ref="north-star:corpus-profile",
)
def x_profile_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus profile: doc counts and exact length stats
    (exact interpolated median via percentile — one hash-agg shuffle
    on the low-cardinality lang key)."""
    d = testdata.load(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.avg("n_chars").alias("mean_chars"),
        F.percentile("n_chars", 0.5).alias("median_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@query(
    "x_window_rollup",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S')
             AS window_start,
           event_type, COUNT(*) AS n_events
    FROM events GROUP BY 1, 2
    """,
    survey_ref="north-star:event-time-rollup",
)
def x_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time rollup — the batch face of the
    streaming windows (streaming/windows.py); same definition runs
    watermarked on a stream."""
    from ..streaming.windows import tumbling_counts

    e = testdata.load(spark, sf_dir, "events")
    out = tumbling_counts(e, window="1 hour", watermark="0 seconds")
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type", "n_events",
    )


@query(
    "x_text_redact",
    oracle="""
    SELECT doc_id,
           md5(regexp_replace(text, '[0-9]+', '<NUM>', 'g')) AS redacted_fp,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_hits
    FROM documents
    """,
    survey_ref="north-star:text-redaction",
)
def x_text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern scrubbing (the PII-redaction shape): digit runs ->
    '<NUM>' placeholder; narrow per-row projection, JVM regex."""
    d = testdata.load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5(F.regexp_replace("text", "[0-9]+", "<NUM>")).alias("redacted_fp"),
        F.size(F.regexp_extract_all("text", F.lit("[0-9]+"))).cast("long")
        .alias("n_hits"),
    )


@query(
    "x_sample_stratified",
    oracle="""
    SELECT lang, COUNT(*) AS n_sampled
    FROM documents
    WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
               AS BIGINT) % 10000 < 2000
    GROUP BY 1
    """,
    survey_ref="north-star:sampling-stratified",
)
def x_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language 20% sample via the deterministic id-hash filter —
    stable under retries, no shuffle until the tiny per-lang count."""
    d = testdata.load(spark, sf_dir, "documents")
    return (
        sampling.deterministic_sample(d, 0.2)
        .groupBy("lang")
        .agg(F.count("*").alias("n_sampled"))
    )


@query(
    "x_embed_quantize",
    oracle="""
    WITH s AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding,
                                     x -> abs(CAST(x AS DOUBLE)))) AS am
      FROM embeddings
    ), q AS (
      SELECT vec_id,
             CASE WHEN am = 0 THEN 0.0 ELSE 127.0 / am END AS scale,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE)
                     * (CASE WHEN am = 0 THEN 0.0 ELSE 127.0 / am END))
                    AS INT)) AS qv
      FROM s
    )
    SELECT vec_id, round(scale, 6) AS scale,
           md5(array_to_string(qv, ',')) AS checksum
    FROM q
    """,
    survey_ref="north-star:embedding-quantization",
)
def x_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding quantization, projected to oracle-comparable
    scalars (rounded scale + quantized-vector checksum)."""
    e = testdata.load(spark, sf_dir, "embeddings")
    qz = similarity.quantize_int8(F.col("embedding"))
    return e.select("vec_id", qz.alias("z")).select(
        "vec_id",
        F.round(F.col("z.scale"), 6).alias("scale"),
        F.md5(F.array_join(
            F.transform(F.col("z.q"), lambda x: x.cast("string")), ","
        )).alias("checksum"),
    )


@query(
    "x_dedup_minhash_xxhash",
    # DuckDB has no xxhash64, so the oracle comparison is rows-only;
    # tests/test_oracle_parity.py::test_minhash_xxhash_lane_matches_its_xxhash64_replay
    # gates the lane against a pure-Python xxhash64 run inside DuckDB
    oracle=None,
    survey_ref="north-star:dedup-minhash-production",
)
def x_dedup_minhash_xxhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION MinHash+LSH path: seeded xxhash64 signatures (one
    codegen'd hash per (seed, shingle), no hex round-trip) through the
    same banding/estimate pipeline as the oracle-gated md5 variant."""
    from .queries import _materialize

    d = testdata.load(spark, sf_dir, "documents")
    sigs = _materialize(
        dedup.minhash_signatures(d, num_hashes=16, hash_family="xxhash64")
    )
    pairs = _materialize(dedup.lsh_candidate_pairs(sigs, bands=4))
    return dedup.minhash_jaccard_estimate(sigs, pairs)


@query(
    "x_dedup_incremental",
    oracle="""
    WITH old AS (
      SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents WHERE doc_id < 400
    ), new AS (
      SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents WHERE doc_id >= 400
    )
    SELECT n.doc_id, n.fp
    FROM new n LEFT JOIN old o ON n.fp = o.fp
    WHERE o.fp IS NULL
    """,
    survey_ref="north-star:dedup-incremental",
)
def x_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup: a new batch anti-joined against the
    historical fingerprint set — the per-ingest dedup step of a
    continuously-growing corpus. At scale the history side is a
    fingerprint-only table (32 bytes/doc); the anti-join shuffles on
    the uniform fp key, or broadcasts when the new batch is small."""
    from ..operators.text import content_fingerprint

    d = testdata.load(spark, sf_dir, "documents")
    fp = content_fingerprint("text").alias("fp")
    old = d.filter(F.col("doc_id") < 400).select(fp).distinct()
    new = d.filter(F.col("doc_id") >= 400).select("doc_id", fp)
    return new.join(old, "fp", "left_anti").select("doc_id", "fp")


# ---------------------------------------------------------------------------
# Temporal joins (as-of / range), decontamination, chunking, quality rules
# ---------------------------------------------------------------------------

@query(
    "x_asof_join",
    oracle="""
    SELECT p.event_id, p.user_id, p.value,
           v.value AS value_asof,
           CAST(date_diff('second', v.ts, p.ts) AS BIGINT) AS secs_since_view
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND p.ts >= v.ts
    """,
    survey_ref="north-star:asof-join",
)
def x_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event picks up the latest prior view
    event of the same user (operators/joins.py union-merge shape — one
    shuffle on user_id, no inequality nested loop). DuckDB's native
    ASOF JOIN is the oracle."""
    e = testdata.load(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "value"
    )
    out = joins.asof_join(purchases, views, keys=["user_id"],
                          ts_col="ts", right_cols=["value"])
    return out.select(
        "event_id", "user_id", "value",
        F.col("value_asof"),
        (F.col("ts").cast("long") - F.col("ts_asof").cast("long"))
        .alias("secs_since_view"),
    )


@query(
    "x_range_join",
    oracle="""
    WITH err AS (
      SELECT event_id AS error_id, user_id, ts AS s,
             ts + INTERVAL 300 SECOND AS e
      FROM events WHERE event_type = 'error'
    ), v AS (
      SELECT user_id, ts FROM events WHERE event_type = 'view'
    ), hits AS (
      SELECT error_id, COUNT(*) AS n_views
      FROM err JOIN v ON err.user_id = v.user_id
                     AND v.ts BETWEEN err.s AND err.e
      GROUP BY 1
    )
    SELECT err.error_id, CAST(COALESCE(hits.n_views, 0) AS BIGINT) AS n_views
    FROM err LEFT JOIN hits USING (error_id)
    """,
    survey_ref="north-star:range-join",
)
def x_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: views falling inside each error's 5-minute
    follow-up window, per user — bucketed equi-join + residual filter
    (operators/joins.py), never a nested-loop inequality join."""
    e = testdata.load(spark, sf_dir, "events")
    err = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 300 SECONDS")).alias("e"),
    )
    views = e.filter(F.col("event_type") == "view").select("user_id", "ts")
    hits = (
        joins.range_interval_join(err, views, keys=["user_id"],
                                  start_col="s", end_col="e",
                                  point_ts="ts", bucket_seconds=300)
        .groupBy("error_id").agg(F.count("*").alias("n_views"))
    )
    return (
        err.select("error_id")
        .join(hits, "error_id", "left")
        .select(
            "error_id",
            F.coalesce(F.col("n_views"), F.lit(0)).cast("long")
            .alias("n_views"),
        )
    )


@query(
    "x_decontaminate",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DTOKS} AS t FROM documents
    ), sh AS (
      SELECT doc_id,
             unnest(CASE WHEN len(t) >= 3
                    THEN [concat_ws(' ', t[CAST(i AS INT)],
                                    t[CAST(i AS INT)+1], t[CAST(i AS INT)+2])
                          for i in range(1, len(t)-1)]
                    ELSE [array_to_string(t, ' ')] END) AS s
      FROM toks
    ), ev AS (
      SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0
    ), hits AS (
      SELECT doc_id, COUNT(DISTINCT s) AS n_hits
      FROM sh JOIN ev USING (s)
      WHERE doc_id % 97 != 0
      GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           COALESCE(h.n_hits, 0) >= 2 AS contaminated
    FROM documents d LEFT JOIN hits h USING (doc_id)
    WHERE d.doc_id % 97 != 0
    """,
    survey_ref="north-star:decontamination",
)
def x_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: word-3-gram overlap of every training
    doc against the (broadcast) eval-set n-gram table; >= 2 shared
    shingles flags contamination (operators/decontam.py)."""
    d = testdata.load(spark, sf_dir, "documents")
    eval_docs = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    return decontam.ngram_contamination(corpus, eval_docs, k=3, min_hits=2)


@query(
    "x_chunk_tokens",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DTOKS} AS t FROM documents
    ), c AS (
      SELECT doc_id, t,
             unnest(range(0, CAST(floor((len(t)-1)/24) AS BIGINT) + 1))
               AS chunk_id
      FROM toks WHERE len(t) > 0
    )
    SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(len(list_slice(t, chunk_id*24+1, chunk_id*24+32)) AS BIGINT)
             AS n_chunk_tokens,
           array_to_string(list_slice(t, chunk_id*24+1, chunk_id*24+32), ' ')
             AS chunk_text
    FROM c
    """,
    survey_ref="north-star:chunking",
)
def x_chunk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking (window=32, stride=24): the chunk table a
    tokenizer/packing stage consumes (operators/chunking.py) — per-row
    projection, no shuffle."""
    d = testdata.load(spark, sf_dir, "documents")
    return chunking.chunk_by_tokens(d, window=32, stride=24)


@query(
    "x_quality_gopher",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_DTOKS} AS t FROM documents
    ), m AS (
      SELECT doc_id, len(t) AS n,
             CASE WHEN len(t) > 0 THEN
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(t, w -> CAST(length(w) AS BIGINT))),
                 (x, y) -> x + y) / CAST(len(t) AS DOUBLE)
             ELSE 0.0 END AS mwl,
             len(list_filter(list_distinct(t),
                 w -> list_contains(['the','be','to','of','and','that',
                                     'have','with'], w))) AS n_req,
             CASE WHEN len(t) > 0
                  THEN len(list_distinct(t)) / CAST(len(t) AS DOUBLE)
                  ELSE 0.0 END AS uniq
      FROM t
    )
    SELECT doc_id,
           n >= 10 AND n <= 5000 AS ok_tokens,
           mwl >= 2.0 AND mwl <= 12.0 AS ok_word_len,
           n_req >= 1 AS ok_stopwords,
           uniq >= 0.2 AS ok_unique,
           (n >= 10 AND n <= 5000) AND (mwl >= 2.0 AND mwl <= 12.0)
             AND n_req >= 1 AND uniq >= 0.2 AS keep_doc
    FROM m
    """,
    survey_ref="north-star:quality-gopher",
)
def x_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality rule flags (Rae et al. 2021, public) per
    document — four boolean rules + the keep conjunction, all codegen'd
    expressions over one tokenization (operators/text.gopher_flags)."""
    d = testdata.load(spark, sf_dir, "documents")
    # min_required=1: the synthetic corpus draws from a tiny vocabulary
    # where no document carries 2 distinct required stopwords — at the
    # paper's threshold the rule rejects everything and stops
    # discriminating (measured: 0/494 vs 376/494 kept at sf0.01)
    g = text.gopher_flags("text", min_required=1)
    return d.select("doc_id", g.alias("g")).select(
        "doc_id",
        F.col("g.ok_tokens").alias("ok_tokens"),
        F.col("g.ok_word_len").alias("ok_word_len"),
        F.col("g.ok_stopwords").alias("ok_stopwords"),
        F.col("g.ok_unique").alias("ok_unique"),
        F.col("g.keep").alias("keep_doc"),
    )


@query(
    "x_pack_sequences",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DTOKS} AS t FROM documents
    ), c AS (
      SELECT doc_id, t,
             unnest(range(0, CAST(floor((len(t)-1)/24) AS BIGINT) + 1))
               AS chunk_id
      FROM toks WHERE len(t) > 0
    ), ch AS (
      SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
             CAST(len(list_slice(t, chunk_id*24+1, chunk_id*24+32)) AS BIGINT)
               AS n_chunk_tokens
      FROM c
    ), o AS (
      SELECT doc_id, chunk_id, n_chunk_tokens,
             CAST(COALESCE(SUM(n_chunk_tokens) OVER (
               ORDER BY doc_id, chunk_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS token_offset
      FROM ch
    )
    SELECT doc_id, chunk_id, n_chunk_tokens, token_offset,
           CAST(floor(token_offset / 64) AS BIGINT) AS pack_id,
           CAST(token_offset % 64 AS BIGINT) AS pack_offset,
           (token_offset % 64) + n_chunk_tokens > 64 AS spans_packs
    FROM o
    """,
    survey_ref="north-star:sequence-packing",
)
def x_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-split sequence packing over the chunk table: a global
    prefix sum in the scale-correct two-phase shape (range exchange +
    per-partition window + broadcast prefix offsets — never a
    single-partition global window; operators/packing.py)."""
    from ..operators import packing

    d = testdata.load(spark, sf_dir, "documents")
    chunks = chunking.chunk_by_tokens(d, window=32, stride=24)
    return packing.pack_sequences(chunks, seq_len=64)


@query(
    "x_tfidf_topk",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_DTOKS}) AS token FROM documents
    ), tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2
    ), dfreq AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1
    ), n AS (
      SELECT COUNT(*) AS n_docs FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.token,
             round(tf.tf * ln(CAST((SELECT n_docs FROM n) AS DOUBLE) / dfreq.df), 4)
               AS tfidf
      FROM tf JOIN dfreq USING (token)
    ), ranked AS (
      SELECT doc_id, token, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, token) AS rank
      FROM scored
    )
    SELECT doc_id, rank, token, tfidf FROM ranked WHERE rank <= 3
    """,
    survey_ref="north-star:tfidf",
)
def x_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (operators/text.tfidf_topk):
    two map-side-combined hash aggs + one token-key join + per-doc
    rank window."""
    d = testdata.load(spark, sf_dir, "documents")
    return text.tfidf_topk(d, k=3)


@query(
    "x_skew_salted_agg",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
           CAST(MIN(user_id) AS BIGINT) AS min_user,
           CAST(MAX(user_id) AS BIGINT) AS max_user
    FROM events GROUP BY 1
    """,
    survey_ref="north-star:skew-salted-agg",
)
def x_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation on a 5-key (hot by construction)
    grouping column — the operators/skew.py path AQE cannot cover
    (single hot key on one reducer); must equal the plain GROUP BY."""
    from ..operators import skew

    e = testdata.load(spark, sf_dir, "events").withColumn(
        "value_dec", F.col("value").cast("decimal(18,2)")
    )
    out = skew.salted_groupby_agg(
        e, keys=["event_type"], unique_col="event_id",
        aggs={
            "n": "count(*)",
            "total": "sum(value_dec)",
            "min_user": "min(user_id)",
            "max_user": "max(user_id)",
        },
        buckets=8,
    )
    return out.select(
        "event_type", F.col("n").cast("long").alias("n"),
        F.col("total").cast("double").alias("total"),
        "min_user", "max_user",
    )


@query(
    "x_curation_funnel",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 97 != 0
    ), keepers AS (
      SELECT MIN(doc_id) AS doc_id FROM corpus
      GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
    ), dd AS (
      SELECT c.doc_id, c.text FROM corpus c JOIN keepers k USING (doc_id)
    ), toks_all AS (
      SELECT doc_id, {_DTOKS} AS t FROM documents
    ), sh AS (
      SELECT doc_id,
             unnest(CASE WHEN len(t) >= 3
                    THEN [concat_ws(' ', t[CAST(i AS INT)],
                                    t[CAST(i AS INT)+1], t[CAST(i AS INT)+2])
                          for i in range(1, len(t)-1)]
                    ELSE [array_to_string(t, ' ')] END) AS s
      FROM toks_all
    ), ev AS (
      SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0
    ), contaminated AS (
      SELECT sh.doc_id FROM sh JOIN ev USING (s)
      WHERE sh.doc_id IN (SELECT doc_id FROM dd)
      GROUP BY sh.doc_id HAVING COUNT(DISTINCT s) >= 2
    ), clean AS (
      SELECT dd.doc_id, dd.text FROM dd
      WHERE dd.doc_id NOT IN (SELECT doc_id FROM contaminated)
    ), g AS (
      SELECT doc_id, {_DTOKS} AS t, text FROM clean
    ), gm AS (
      SELECT doc_id, len(t) AS n,
             CASE WHEN len(t) > 0 THEN
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(t, w -> CAST(length(w) AS BIGINT))),
                 (x, y) -> x + y) / CAST(len(t) AS DOUBLE)
             ELSE 0.0 END AS mwl,
             len(list_filter(list_distinct(t),
                 w -> list_contains(['the','be','to','of','and','that',
                                     'have','with'], w))) AS n_req,
             CASE WHEN len(t) > 0
                  THEN len(list_distinct(t)) / CAST(len(t) AS DOUBLE)
                  ELSE 0.0 END AS uniq
      FROM g
    ), kept AS (
      SELECT doc_id FROM gm
      WHERE n >= 10 AND n <= 5000 AND mwl >= 2.0 AND mwl <= 12.0
        AND n_req >= 1 AND uniq >= 0.2
    )
    SELECT 0 AS stage_id, 'raw' AS stage,
           (SELECT COUNT(*) FROM corpus) AS n_docs
    UNION ALL SELECT 1, 'exact_dedup', (SELECT COUNT(*) FROM dd)
    UNION ALL SELECT 2, 'decontaminated', (SELECT COUNT(*) FROM clean)
    UNION ALL SELECT 3, 'quality_kept', (SELECT COUNT(*) FROM kept)
    """,
    survey_ref="north-star:curation-funnel",
)
def x_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus-curation funnel (operators/curation.py):
    exact dedup -> decontamination vs the broadcast eval set -> Gopher
    quality rules, reported as per-stage survivor counts."""
    from ..operators import curation

    d = testdata.load(spark, sf_dir, "documents")
    eval_docs = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    # min_required=1: see x_quality_gopher
    return curation.curation_funnel(corpus, eval_docs, k=3, min_hits=2,
                                    min_required=1)


@query(
    "x_sim_ivf_kmeans",
    # trained centroids are float means (no closed-form SQL twin) —
    # rows-only check; x_sim_ivf_ann (first-nlist seed centroids) is
    # the oracle-gated twin of the identical probe/re-rank plan
    oracle=None,
    survey_ref="north-star:similarity-ivf-production",
)
def x_sim_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION IVF path: spherical k-means centroids (trained
    driver-side on a deterministic sample — training is sample-scale,
    only ASSIGN must scale) + the Arrow/numpy batch assignment
    (flat cost as nlist grows) feeding the same centroid_id equi-join
    probe as the oracle-gated seed variant."""
    e = testdata.load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = similarity.kmeans_centroids(e, nlist=8)
    return similarity.ivf_topk(e, q, cents, k=5, nprobe=2)


@query(
    "x_multimodal_resize",
    # documents are pure ASCII, so ascii(substr(text, pos+1, 1)) is the
    # byte at 0-based pos of the utf-8 payload; the fake-decode geometry
    # (h=16, w=max(1, n//16), zero-padded) and the nearest-neighbor
    # index math are recomputed verbatim
    oracle="""
    WITH b AS (SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents),
    p AS (SELECT doc_id, text, n, greatest(n // 16, 1) AS w FROM b),
    yx AS (
      SELECT doc_id, text, n, w, y, x,
             ((y * 16) // 8) * w + (x * w) // 8 AS pos
      FROM p, range(0, 8) r1(y), range(0, 8) r2(x)
    )
    SELECT doc_id, CAST(y AS INT) AS y, CAST(x AS INT) AS x,
           CAST(CASE WHEN pos < n
                THEN ascii(substr(text, CAST(pos + 1 AS INT), 1))
                ELSE 0 END AS INT) AS pixel
    FROM yx
    """,
    survey_ref="north-star:multimodal-resize",
)
def x_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic-fake decode + real vectorized nearest-neighbor
    resize to 8x8 over the blob table (operators/multimodal.py) —
    the plumbing a real codec plugs into."""
    d = testdata.load(spark, sf_dir, "documents")
    return multimodal.fake_decode_resize(multimodal.to_blob_table(d))


@query(
    "x_unigram_logprob",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_DTOKS}) AS token FROM documents
    ), model AS (
      SELECT token, COUNT(*) AS cnt FROM tok GROUP BY 1
    ), tot AS (
      SELECT SUM(cnt) AS total FROM model
    ), scored AS (
      SELECT tok.doc_id,
             ln(model.cnt / CAST((SELECT total FROM tot) AS DOUBLE)) AS lp
      FROM tok JOIN model USING (token)
    )
    SELECT doc_id, COUNT(*) AS n_tokens,
           round(AVG(lp), 4) AS mean_logprob
    FROM scored GROUP BY 1
    """,
    survey_ref="north-star:perplexity-filter",
)
def x_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean unigram log-probability per doc under the corpus's own
    unigram model — the perplexity-filter shape (operators/text.py)."""
    d = testdata.load(spark, sf_dir, "documents")
    return text.unigram_logprob(d)


@query(
    "x_dedup_minhash_incremental",
    oracle=_minhash_sig_sql() + """
    , banded AS (
      SELECT doc_id, bnd,
             md5(array_to_string(sig[CAST(bnd*4+1 AS INT):CAST(bnd*4+4 AS INT)], ',')) AS key
      FROM sig, range(0, 4) r(bnd)
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
      FROM banded a JOIN banded b2
        ON a.bnd = b2.bnd AND a.key = b2.key AND a.doc_id < b2.doc_id
      WHERE b2.doc_id >= 400
    ), est AS (
      SELECT p.id_a, p.id_b,
             round(len([i for i in range(1, 17)
                        if sa.sig[CAST(i AS INT)] = sb.sig[CAST(i AS INT)]]) / 16.0, 4) AS e
      FROM pairs p
      JOIN sig sa ON sa.doc_id = p.id_a
      JOIN sig sb ON sb.doc_id = p.id_b
    )
    SELECT id_b AS doc_id, MIN(id_a) AS dup_of,
           round(MAX(e), 4) AS max_est
    FROM est WHERE e >= 0.3 GROUP BY 1
    """,
    survey_ref="north-star:dedup-minhash-incremental",
)
def x_dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-ingest near-dup flagging: the new batch (doc_id >= 400)
    probes the persisted history signature table (doc_id < 400) plus
    its own earlier ids through banded keys — history text is never
    re-shingled (operators/dedup.incremental_neardup)."""
    from .queries import _materialize

    d = testdata.load(spark, sf_dir, "documents")
    sigs = _materialize(dedup.minhash_signatures(d, num_hashes=16))
    hist = sigs.filter(F.col("doc_id") < 400)
    new = sigs.filter(F.col("doc_id") >= 400)
    return dedup.incremental_neardup(new, hist, bands=4, threshold=0.3)


@query(
    "x_sample_mixture",
    oracle="""
    WITH m AS (
      SELECT doc_id, source,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                  AS BIGINT) % 10000 AS b,
             CAST(substr(source, 4) AS INT) AS k
      FROM documents
    )
    SELECT source, COUNT(*) AS n_sampled
    FROM m
    WHERE (k < 5 AND b < 10000)
       OR (k >= 5 AND k < 10 AND b < 5000)
       OR (k >= 10 AND k < 15 AND b < 2000)
    GROUP BY 1
    """,
    survey_ref="north-star:sampling-mixture",
)
def x_sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-weighted mixture sampling (curriculum mixing): keep 100%
    of src0-4, 50% of src5-9, 20% of src10-14, drop src15-19 — the
    deterministic id-hash gate evaluated at scan time
    (operators/sampling.weighted_mixture)."""
    d = testdata.load(spark, sf_dir, "documents")
    rates = {f"src{k}": (1.0 if k < 5 else 0.5 if k < 10 else 0.2)
             for k in range(15)}
    return (
        sampling.weighted_mixture(d, rates)
        .groupBy("source").agg(F.count("*").alias("n_sampled"))
    )


_REPETITION_ORACLE = f"""
    WITH t AS (SELECT doc_id, {_DTOKS} AS t FROM documents),
    g AS (
      SELECT doc_id, t,
             CASE WHEN len(t) >= 2
                  THEN [concat_ws(' ', t[CAST(i AS INT)], t[CAST(i AS INT)+1])
                        for i in range(1, len(t))]
                  ELSE [] END AS g2,
             CASE WHEN len(t) >= 3
                  THEN [concat_ws(' ', t[CAST(i AS INT)], t[CAST(i AS INT)+1],
                                  t[CAST(i AS INT)+2])
                        for i in range(1, len(t)-1)]
                  ELSE [] END AS g3
      FROM t
    )
    SELECT doc_id,
           CASE WHEN len(t) > 0
                THEN round(1.0 - len(list_distinct(t)) / len(t), 4)
                ELSE 0.0 END AS dup_unigram_frac,
           CASE WHEN len(g2) > 0
                THEN round(1.0 - len(list_distinct(g2)) / len(g2), 4)
                ELSE 0.0 END AS dup_bigram_frac,
           CASE WHEN len(g3) > 0
                THEN round(1.0 - len(list_distinct(g3)) / len(g3), 4)
                ELSE 0.0 END AS dup_trigram_frac
    FROM g
    """


# x_repetition_metrics_prod: the former aggregation arm, now the lane itself
@query("x_repetition_metrics_prod", oracle=_REPETITION_ORACLE,
       survey_ref="north-star:repetition-metrics")
@query("x_repetition_metrics", oracle=_REPETITION_ORACLE,
       survey_ref="north-star:repetition-metrics")
def x_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc duplicate n-gram fractions (n=1,2,3) — the Gopher
    repetition rules (operators/text.repetition_metrics)."""
    d = testdata.load(spark, sf_dir, "documents")
    return text.repetition_metrics(d, "text", "doc_id")


@query(
    "x_dsir_importance",
    oracle=f"""
    WITH tok_src AS (
      SELECT doc_id, unnest({_DTOKS}) AS token FROM documents
    ),
    tok_tgt AS (
      SELECT unnest({_DTOKS}) AS token FROM documents WHERE doc_id % 10 = 0
    ),
    m_src AS (SELECT token, COUNT(*) AS cnt_s FROM tok_src GROUP BY 1),
    m_tgt AS (SELECT token, COUNT(*) AS cnt_t FROM tok_tgt GROUP BY 1),
    model AS (
      SELECT COALESCE(s.token, t.token) AS token,
             COALESCE(cnt_s, 0) AS cnt_s, COALESCE(cnt_t, 0) AS cnt_t
      FROM m_src s FULL OUTER JOIN m_tgt t ON s.token = t.token
    ),
    tots AS (
      SELECT CAST(SUM(cnt_s) AS DOUBLE) AS tot_s,
             CAST(SUM(cnt_t) AS DOUBLE) AS tot_t,
             CAST(COUNT(*) AS DOUBLE) AS vocab
      FROM model
    )
    SELECT ts.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           -- `+ 0` normalizes signed zero (house rule, SURVEY §5):
           -- caught by the r08 negative-zero sweep at sf0.001 — one
           -- doc's mean log-ratio rounds to -0.0 on DuckDB, +0.0 on
           -- Spark; invisible at sf0.01, one data-drop from a fail.
           round(AVG(
             ln((m.cnt_t + 1.0) / (tots.tot_t + tots.vocab))
             - ln((m.cnt_s + 1.0) / (tots.tot_s + tots.vocab))
           ), 4) + 0 AS importance
    FROM tok_src ts JOIN model m USING (token), tots
    GROUP BY ts.doc_id
    """,
    survey_ref="north-star:dsir-importance",
)
def x_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023): per-doc mean
    log-likelihood ratio under a target-domain unigram model (every
    10th doc as the deterministic target sample) vs the corpus's own
    model (operators/text.dsir_importance)."""
    d = testdata.load(spark, sf_dir, "documents")
    target = d.filter(F.col("doc_id") % 10 == 0)
    return text.dsir_importance(d, target)


@query(
    "x_dup_ngram_coverage",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_DTOKS} AS t FROM documents),
    g AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 5
                  THEN [concat_ws(' ', t[CAST(i AS INT)],
                                  t[CAST(i AS INT)+1], t[CAST(i AS INT)+2],
                                  t[CAST(i AS INT)+3], t[CAST(i AS INT)+4])
                        for i in range(1, len(t)-3)]
                  ELSE [] END AS gs
      FROM t
    ),
    ex AS (SELECT doc_id, unnest(gs) AS g FROM g),
    nd AS (SELECT g, (COUNT(DISTINCT doc_id) > 1) AS is_dup
           FROM ex GROUP BY g),
    per AS (
      SELECT ex.doc_id, COUNT(*) AS n_grams,
             SUM(CASE WHEN nd.is_dup THEN 1 ELSE 0 END) AS n_dup
      FROM ex JOIN nd USING (g) GROUP BY ex.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(per.n_grams, 0) AS BIGINT) AS n_grams,
           COALESCE(round(per.n_dup / per.n_grams, 4), 0.0) AS dup_gram_frac
    FROM documents d LEFT JOIN per USING (doc_id)
    """,
    survey_ref="north-star:dup-ngram-coverage",
)
def x_dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-doc duplicated 5-gram coverage per document — the
    exact-substring-dedup signal (Lee et al. 2021) at n-gram
    granularity (operators/dedup.dup_ngram_coverage)."""
    d = testdata.load(spark, sf_dir, "documents")
    return dedup.dup_ngram_coverage(d, k=5)


_SEMDEDUP_ORACLE = f"""
    WITH cent AS (
      SELECT vec_id AS centroid_id, embedding AS centv
      FROM embeddings WHERE vec_id < 8
    ),
    ac AS (
      SELECT e.vec_id, e.embedding, c.centroid_id,
             -- `+ 0` = house signed-zero normalization (SURVEY §5):
             -- centroid_cos is emitted for EVERY row, unthresholded
             round({_ddot('e.embedding', 'c.centv')}
               / ({_dnorm('e.embedding')} * {_dnorm('c.centv')}), 4) + 0 AS ccos,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY round({_ddot('e.embedding', 'c.centv')}
                 / ({_dnorm('e.embedding')} * {_dnorm('c.centv')}), 4) DESC,
               c.centroid_id) AS rn
      FROM embeddings e, cent c
    ),
    a1 AS (SELECT vec_id, embedding, centroid_id, ccos FROM ac WHERE rn = 1),
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM a1 a JOIN a1 b
        ON a.centroid_id = b.centroid_id AND a.vec_id != b.vec_id
      WHERE round({_ddot('a.embedding', 'b.embedding')}
              / ({_dnorm('a.embedding')} * {_dnorm('b.embedding')}), 4) >= 0.4
        AND (a.ccos < b.ccos OR (a.ccos = b.ccos AND a.vec_id < b.vec_id))
    )
    SELECT a1.vec_id, a1.centroid_id, a1.ccos AS centroid_cos,
           (d.vec_id IS NULL) AS is_kept
    FROM a1 LEFT JOIN dropped d USING (vec_id)
    """


# x_semdedup_prod: the former BLAS-assignment arm, now the lane itself
@query("x_semdedup_prod", oracle=_SEMDEDUP_ORACLE,
       survey_ref="north-star:semdedup-production")
@query("x_semdedup", oracle=_SEMDEDUP_ORACLE, survey_ref="north-star:semdedup")
def x_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: cluster-bounded semantic dedup over the embeddings
    table — nlist=8 deterministic centroids (first 8 vectors;
    production: k-means), within-cluster pairs >= threshold, keep the
    farthest-from-centroid member (operators/dedup.semdedup).
    Threshold 0.4: the synthetic embeddings' within-cluster similarity
    tops out near 0.49 (the planted >=0.95 near-dup pair sits inside
    the first-8 seed, where each member is its own centroid), so 0.4
    exercises the drop path here; real corpora run 0.9+."""
    e = testdata.load(spark, sf_dir, "embeddings")
    cent = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    return dedup.semdedup(e, cent, threshold=0.4)


@query(
    "x_embed_dedup_incremental",
    oracle=f"""
    WITH cent AS (
      SELECT vec_id AS centroid_id, embedding AS centv
      FROM embeddings WHERE vec_id < 8
    ),
    ac AS (
      SELECT e.vec_id, e.embedding, c.centroid_id,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY round({_ddot('e.embedding', 'c.centv')}
                 / ({_dnorm('e.embedding')} * {_dnorm('c.centv')}), 4) DESC,
               c.centroid_id) AS rn
      FROM embeddings e, cent c
    ),
    asg AS (SELECT vec_id, embedding, centroid_id FROM ac WHERE rn = 1),
    hist AS (SELECT * FROM asg WHERE vec_id < 400),
    batch AS (SELECT * FROM asg WHERE vec_id >= 400),
    hp AS (
      SELECT a.vec_id AS ida, b.vec_id AS idb,
             round({_ddot('a.embedding', 'b.embedding')}
               / ({_dnorm('a.embedding')} * {_dnorm('b.embedding')}), 4) AS cos
      FROM hist a JOIN batch b
        ON a.centroid_id = b.centroid_id AND a.vec_id != b.vec_id
    ),
    bp AS (
      SELECT a.vec_id AS ida, b.vec_id AS idb,
             round({_ddot('a.embedding', 'b.embedding')}
               / ({_dnorm('a.embedding')} * {_dnorm('b.embedding')}), 4) AS cos
      FROM batch a JOIN batch b
        ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
    ),
    pairs AS (SELECT * FROM hp UNION ALL SELECT * FROM bp)
    SELECT idb AS vec_id, MIN(ida) AS dup_of, round(MAX(cos), 4) AS max_cos
    FROM pairs WHERE cos >= 0.4 GROUP BY idb
    """,
    survey_ref="north-star:embed-dedup-incremental",
)
def x_embed_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental semantic near-dup: vecs >= 400 arrive as the new
    batch, probe the persisted IVF-assigned history (vecs < 400) plus
    earlier-id batch members within their shared cluster
    (operators/dedup.incremental_embedding_neardup)."""
    e = testdata.load(spark, sf_dir, "embeddings")
    cent = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    hist = e.filter(F.col("vec_id") < 400)
    batch = e.filter(F.col("vec_id") >= 400)
    return dedup.incremental_embedding_neardup(batch, hist, cent,
                                               threshold=0.4)


@query(
    "x_dedup_pipeline_components",
    oracle=_minhash_sig_sql().replace("WITH toks", "WITH RECURSIVE toks") + """
    , banded AS (
      SELECT doc_id, bnd,
             md5(array_to_string(sig[CAST(bnd*4+1 AS INT):CAST(bnd*4+4 AS INT)], ',')) AS key
      FROM sig, range(0, 4) r(bnd)
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
      FROM banded a JOIN banded b2
        ON a.bnd = b2.bnd AND a.key = b2.key AND a.doc_id < b2.doc_id
    ), est AS (
      SELECT p.id_a, p.id_b,
             round(len([i for i in range(1, 17)
                        if sa.sig[CAST(i AS INT)] = sb.sig[CAST(i AS INT)]]) / 16.0, 4) AS je
      FROM pairs p
      JOIN sig sa ON sa.doc_id = p.id_a
      JOIN sig sb ON sb.doc_id = p.id_b
    ), ed AS (
      SELECT id_a AS src, id_b AS dst FROM est WHERE je >= 0.5
      UNION ALL
      SELECT id_b, id_a FROM est WHERE je >= 0.5
    ), reach(nid, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT reach.nid, ed.dst FROM reach JOIN ed ON ed.src = reach.r
    )
    SELECT nid AS doc_id, MIN(r) AS component_id, (nid = MIN(r)) AS is_kept
    FROM reach GROUP BY nid
    """,
    survey_ref="north-star:dedup-pipeline",
)
def x_dedup_pipeline_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL production near-dup pipeline, oracle-verified end to
    end: MinHash(16) signatures -> banded LSH candidates -> estimated
    Jaccard >= 0.5 edges -> large-star/small-star connected components.
    Every stage is the scale path (codegen sigs, id-only bucket join,
    O(log^2 n) clustering); the per-stage queries
    (x_dedup_minhash_lsh, x_dedup_components_bigstar) verify the
    pieces, this one verifies their composition."""
    from .queries import _materialize

    d = testdata.load(spark, sf_dir, "documents")
    sigs = _materialize(dedup.minhash_signatures(d, num_hashes=16))
    pairs = _materialize(dedup.lsh_candidate_pairs(sigs, bands=4))
    est = dedup.minhash_jaccard_estimate(sigs, pairs)
    edges = est.filter(F.col("jaccard_est") >= 0.5).select("id_a", "id_b")
    comp = dedup.components_from_pairs(
        d.select("doc_id"), edges, algorithm="bigstar"
    )
    return comp.select(
        "doc_id", "component_id",
        (F.col("doc_id") == F.col("component_id")).alias("is_kept"),
    )


@query(
    "x_oov_rate",
    # vocab_size=20 of the corpus's 31 distinct tokens so the
    # diagnostic is non-degenerate on the synthetic vocabulary; real
    # corpora run 32k-256k
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_DTOKS}) AS token FROM documents
    ),
    counts AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY 1),
    vocab AS (
      SELECT token FROM counts ORDER BY cnt DESC, token ASC LIMIT 20
    ),
    scored AS (
      SELECT t.doc_id, (v.token IS NULL) AS oov
      FROM tok t LEFT JOIN vocab v USING (token)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           round(SUM(CASE WHEN oov THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4)
             AS oov_rate
    FROM scored GROUP BY doc_id
    """,
    survey_ref="north-star:oov-rate",
)
def x_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc out-of-vocabulary rate against the frequency-truncated
    top-20 corpus vocabulary — the tokenizer-coverage diagnostic
    (operators/text.oov_rate)."""
    d = testdata.load(spark, sf_dir, "documents")
    return text.oov_rate(d, vocab_size=20)


@query(
    "x_contamination_matrix",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DTOKS} AS t FROM documents
    ), sh AS (
      SELECT doc_id,
             unnest(CASE WHEN len(t) >= 3
                    THEN [concat_ws(' ', t[CAST(i AS INT)],
                                    t[CAST(i AS INT)+1], t[CAST(i AS INT)+2])
                          for i in range(1, len(t)-1)]
                    ELSE [array_to_string(t, ' ')] END) AS s
      FROM toks
    ), corpus AS (
      SELECT doc_id FROM documents
      WHERE doc_id % 89 != 0 AND doc_id % 97 != 0
    ),
    report AS (
      SELECT 'eval_89' AS eval_set, ev.mod_val FROM (SELECT 89 AS mod_val) ev
      UNION ALL
      SELECT 'eval_97', 97
    ),
    hits AS (
      SELECT r.eval_set, c.doc_id, COUNT(DISTINCT s.s) AS n_hits
      FROM report r
      JOIN corpus c ON TRUE
      JOIN sh s ON s.doc_id = c.doc_id
      JOIN (SELECT DISTINCT r2.eval_set, s2.s
            FROM report r2 JOIN sh s2 ON s2.doc_id % r2.mod_val = 0) ev
        ON ev.eval_set = r.eval_set AND ev.s = s.s
      GROUP BY 1, 2
    )
    SELECT r.eval_set,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM corpus) AS n_docs,
           CAST(COALESCE(SUM(CASE WHEN h.n_hits >= 2 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_contaminated,
           round(COALESCE(SUM(CASE WHEN h.n_hits >= 2 THEN 1 ELSE 0 END), 0)
                 * 1.0 / (SELECT COUNT(*) FROM corpus), 4) AS rate
    FROM report r LEFT JOIN hits h ON h.eval_set = r.eval_set
    GROUP BY r.eval_set
    """,
    survey_ref="north-star:contamination-matrix",
)
def x_contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-training contamination report: corpus contamination rate per
    eval set (two deterministic eval slices here), word-3-gram overlap
    >= 2 (operators/decontam.contamination_matrix)."""
    d = testdata.load(spark, sf_dir, "documents")
    corpus = d.filter((F.col("doc_id") % 89 != 0) & (F.col("doc_id") % 97 != 0))
    evals = {
        "eval_89": d.filter(F.col("doc_id") % 89 == 0),
        "eval_97": d.filter(F.col("doc_id") % 97 == 0),
    }
    return decontam.contamination_matrix(corpus, evals, k=3, min_hits=2)


@query(
    "x_split_leakage",
    oracle=_minhash_sig_sql() + """
    , banded AS (
      SELECT doc_id, bnd,
             md5(array_to_string(sig[CAST(bnd*4+1 AS INT):CAST(bnd*4+4 AS INT)], ',')) AS key
      FROM sig, range(0, 4) r(bnd)
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
      FROM banded a JOIN banded b2
        ON a.bnd = b2.bnd AND a.key = b2.key AND a.doc_id < b2.doc_id
    ), est AS (
      SELECT p.id_a, p.id_b
      FROM pairs p
      JOIN sig sa ON sa.doc_id = p.id_a
      JOIN sig sb ON sb.doc_id = p.id_b
      WHERE round(len([i for i in range(1, 17)
                       if sa.sig[CAST(i AS INT)] = sb.sig[CAST(i AS INT)]]) / 16.0, 4) >= 0.5
    ), lab AS (
      SELECT doc_id,
             CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                       AS BIGINT) % 100 < 80 THEN 'train'
                  WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                       AS BIGINT) % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT least(la.split, lb.split) AS split_a,
           greatest(la.split, lb.split) AS split_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           (least(la.split, lb.split) != greatest(la.split, lb.split))
             AS cross_split
    FROM est
    JOIN lab la ON la.doc_id = est.id_a
    JOIN lab lb ON lb.doc_id = est.id_b
    GROUP BY 1, 2
    """,
    survey_ref="north-star:split-leakage",
)
def x_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-leakage audit: near-dup pairs (MinHash est >= 0.5) grouped
    by the train/val/test splits of their endpoints — cross_split rows
    are evaluation contamination a deterministic-hash split can still
    produce when near-duplicates straddle the boundary. The reason
    production dedup runs BEFORE splitting."""
    from .queries import _materialize

    d = testdata.load(spark, sf_dir, "documents")
    sigs = _materialize(dedup.minhash_signatures(d, num_hashes=16))
    pairs = _materialize(dedup.lsh_candidate_pairs(sigs, bands=4))
    est = dedup.minhash_jaccard_estimate(sigs, pairs) \
        .filter(F.col("jaccard_est") >= 0.5)
    lab = testdata.load(spark, sf_dir, "documents").select(
        "doc_id", sampling.split_label("doc_id").alias("split")
    )
    la = lab.select(F.col("doc_id").alias("id_a"), F.col("split").alias("sa"))
    lb = lab.select(F.col("doc_id").alias("id_b"), F.col("split").alias("sb"))
    return (
        est.join(la, "id_a").join(lb, "id_b")
        .select(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(F.count("*").cast("long").alias("n_pairs"))
        .select(
            "split_a", "split_b", "n_pairs",
            (F.col("split_a") != F.col("split_b")).alias("cross_split"),
        )
    )


@query(
    "x_dedup_keep_longest",
    oracle=_minhash_sig_sql().replace("WITH toks", "WITH RECURSIVE toks") + """
    , banded AS (
      SELECT doc_id, bnd,
             md5(array_to_string(sig[CAST(bnd*4+1 AS INT):CAST(bnd*4+4 AS INT)], ',')) AS key
      FROM sig, range(0, 4) r(bnd)
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
      FROM banded a JOIN banded b2
        ON a.bnd = b2.bnd AND a.key = b2.key AND a.doc_id < b2.doc_id
    ), est AS (
      SELECT p.id_a, p.id_b
      FROM pairs p
      JOIN sig sa ON sa.doc_id = p.id_a
      JOIN sig sb ON sb.doc_id = p.id_b
      WHERE round(len([i for i in range(1, 17)
                       if sa.sig[CAST(i AS INT)] = sb.sig[CAST(i AS INT)]]) / 16.0, 4) >= 0.5
    ), ed AS (
      SELECT id_a AS src, id_b AS dst FROM est
      UNION ALL SELECT id_b, id_a FROM est
    ), reach(nid, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT reach.nid, ed.dst FROM reach JOIN ed ON ed.src = reach.r
    ), comp AS (
      SELECT nid AS doc_id, MIN(r) AS component_id FROM reach GROUP BY nid
    ), ranked AS (
      SELECT c.doc_id, c.component_id,
             CAST(len(t.t) AS BIGINT) AS n_tokens,
             row_number() OVER (PARTITION BY c.component_id
                                ORDER BY len(t.t) DESC, c.doc_id ASC) AS rn
      FROM comp c JOIN toks t ON t.doc_id = c.doc_id
    )
    SELECT doc_id, component_id, n_tokens, (rn = 1) AS is_kept
    FROM ranked
    """,
    survey_ref="north-star:dedup-representative",
)
def x_dedup_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representative-selection policy: near-dup components keep their
    LONGEST member (token count, ties to lowest id) instead of the
    min-id default — the policy most curation runs actually want
    (near-dup clusters often contain truncated copies). One window over
    the component key after the same pipeline as
    x_dedup_pipeline_components."""
    from pyspark.sql import Window

    from .queries import _materialize

    d = testdata.load(spark, sf_dir, "documents")
    sigs = _materialize(dedup.minhash_signatures(d, num_hashes=16))
    pairs = _materialize(dedup.lsh_candidate_pairs(sigs, bands=4))
    est = dedup.minhash_jaccard_estimate(sigs, pairs) \
        .filter(F.col("jaccard_est") >= 0.5).select("id_a", "id_b")
    comp = dedup.components_from_pairs(
        d.select("doc_id"), est, algorithm="bigstar"
    )
    lengths = d.select("doc_id", text.token_count("text").alias("n_tokens"))
    w = Window.partitionBy("component_id").orderBy(
        F.desc("n_tokens"), F.asc("doc_id")
    )
    return (
        comp.join(lengths, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .select(
            "doc_id", "component_id", "n_tokens",
            (F.col("rn") == 1).alias("is_kept"),
        )
    )


# ---------------------------------------------------------------------------
# Round-4 additions: substring-level dedup, domain quotas, bigram LM,
# classifier serving, token-balanced sharding, encoding quality
# ---------------------------------------------------------------------------

@query(
    "x_chunk_dedup_reassemble",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DTOKS} AS t FROM documents
    ), c AS (
      SELECT doc_id, t,
             unnest(range(0, CAST(floor((len(t)-1)/8) AS BIGINT) + 1)) AS chunk_id
      FROM toks WHERE len(t) > 0
    ), chunks AS (
      SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
             CAST(len(list_slice(t, chunk_id*8+1, chunk_id*8+8)) AS BIGINT) AS n_chunk_tokens,
             array_to_string(list_slice(t, chunk_id*8+1, chunk_id*8+8), ' ') AS chunk_text
      FROM c
    ), ranked AS (
      SELECT chunks.*, row_number() OVER (PARTITION BY chunk_text
                                          ORDER BY doc_id, chunk_id) AS rn
      FROM chunks
    ), kept AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_chunks,
             CAST(SUM(n_chunk_tokens) AS BIGINT) AS kept_tokens,
             string_agg(chunk_text, ' ' ORDER BY chunk_id) AS deduped_text
      FROM ranked WHERE rn = 1 GROUP BY doc_id
    ), tot AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks FROM chunks GROUP BY doc_id
    )
    SELECT t.doc_id, t.n_chunks,
           COALESCE(k.kept_chunks, 0) AS kept_chunks,
           COALESCE(k.kept_tokens, 0) AS kept_tokens,
           COALESCE(k.deduped_text, '') AS deduped_text
    FROM tot t LEFT JOIN kept k ON k.doc_id = t.doc_id
    """,
    survey_ref="north-star:substring-dedup",
)
def x_chunk_dedup_reassemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level exact-substring dedup with document reassembly
    (operators/dedup.py:chunk_dedup_reassemble): repeated 8-token
    blocks survive only at their first corpus-wide occurrence; each doc
    is stitched back from its surviving chunks."""
    d = testdata.load(spark, sf_dir, "documents")
    return dedup.chunk_dedup_reassemble(d, window=8)


@query(
    "x_source_quota",
    oracle="""
    WITH ranked AS (
      SELECT source, doc_id, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id ASC) AS quota_rank
      FROM documents
    )
    SELECT source, doc_id, n_chars, CAST(quota_rank AS BIGINT) AS quota_rank
    FROM ranked WHERE quota_rank <= 10
    """,
    survey_ref="north-star:domain-quota",
)
def x_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document quota (top-10 by length): the domain-cap
    curation gate (operators/sampling.py:group_quota_topk). One
    logical window, physically two-phased by the engine's
    InferWindowGroupLimit rewrite (WindowGroupLimit Partial below the
    exchange, plan-pinned) — a 100 TB hot domain ships at most k rows
    per map partition, never its whole row set (measured flat to 1B
    rows, r11: scripts/window_spill_run.py); values match the oracle's
    naive window."""
    d = testdata.load(spark, sf_dir, "documents")
    return sampling.group_quota_topk(
        d.select("source", "doc_id", "n_chars"),
        group_col="source", rank_col="n_chars", k=10,
    )


@query(
    "x_bigram_logprob",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DTOKS} AS t FROM documents
    ), tok AS (
      SELECT doc_id, unnest(t) AS token FROM toks
    ), uni AS (
      SELECT token, COUNT(*) AS c FROM tok GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(c) AS DOUBLE) AS n FROM uni
    ), big AS (
      SELECT doc_id,
             unnest([struct_pack(w1 := t[CAST(i AS INT)], w2 := t[CAST(i AS INT)+1])
                     for i in range(1, len(t))]) AS bg
      FROM toks WHERE len(t) >= 2
    ), bgf AS (
      SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM big
    ), bic AS (
      SELECT w1, w2, COUNT(*) AS c2 FROM bgf GROUP BY 1, 2
    ), scored AS (
      SELECT bgf.doc_id,
             ln(0.75 * bic.c2 / u1.c + 0.25 * u2.c / (SELECT n FROM tot)) AS lp
      FROM bgf
      JOIN bic USING (w1, w2)
      JOIN uni u1 ON u1.token = bgf.w1
      JOIN uni u2 ON u2.token = bgf.w2
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           round(AVG(lp), 4) AS mean_logprob
    FROM scored GROUP BY 1
    """,
    survey_ref="north-star:perplexity-filter",
)
def x_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram log-probability per doc (KenLM-shaped
    perplexity filter; operators/text.py:bigram_logprob)."""
    d = testdata.load(spark, sf_dir, "documents")
    return text.bigram_logprob(d, lam=0.75)


@query(
    "x_quality_classifier",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_DTOKS}) AS token FROM documents
    ), w AS (
      SELECT doc_id,
             ((CAST(concat('0x', substr(md5(token), 1, 8)) AS BIGINT) % 1024)
              * 2654435761 % 1000003) / 1000003.0 * 2 - 1 AS w
      FROM tok
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           round(1.0 / (1.0 + exp(-(AVG(w) + 0.0))), 4) AS score
    FROM w GROUP BY 1
    """,
    survey_ref="north-star:quality-classifier",
)
def x_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-shaped hashed linear classifier serving plan
    (operators/text.py:hashed_classifier_score) — explode, codegen'd
    hash+weight projection, doc-key mean with map-side combine."""
    d = testdata.load(spark, sf_dir, "documents")
    return text.hashed_classifier_score(d, buckets=1024)


@query(
    "x_shard_tokens",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, CAST(len({_DTOKS}) AS BIGINT) AS n_tokens FROM documents
    ), o AS (
      SELECT doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS token_offset
      FROM t
    )
    SELECT doc_id, n_tokens, token_offset,
           CAST(dense_rank() OVER (ORDER BY floor(token_offset / 4096)) - 1
             AS BIGINT) AS shard
    FROM o
    """,
    survey_ref="north-star:token-balanced-shards",
)
def x_shard_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-balanced shard assignment (operators/packing.py:
    shard_by_token_budget): global exclusive prefix sum via range
    exchange + broadcast partition totals, shard ids densified so an
    over-budget doc can't leave directory gaps; the oracle runs the
    naive single-partition window DuckDB can afford."""
    from ..operators import packing

    d = testdata.load(spark, sf_dir, "documents")
    return packing.shard_by_token_budget(d, budget=4096)


@query(
    "x_encoding_quality",
    oracle="""
    SELECT doc_id,
           CAST(length(regexp_replace(text, '[^\\x{FFFD}]', '', 'g')) AS BIGINT)
             AS replacement_count,
           CAST(length(regexp_replace(text, '[^\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]', '', 'g')) AS BIGINT)
             AS control_count,
           CASE WHEN length(text) > 0 THEN
             round((length(text) - length(regexp_replace(text, '[^\\x20-\\x7e]', '', 'g'))) * 1.0 / length(text), 4)
           ELSE 0.0 END AS non_ascii_ratio,
           CASE WHEN length(text) > 0 THEN
             round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0 / length(text), 4)
           ELSE 0.0 END AS digit_ratio,
           CASE WHEN length(text) > 0 THEN
             round((length(text) - length(regexp_replace(text, '[ \\t\\n\\r]', '', 'g'))) * 1.0 / length(text), 4)
           ELSE 0.0 END AS ws_ratio
    FROM documents
    """,
    survey_ref="north-star:encoding-quality",
)
def x_encoding_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake/encoding signals (operators/text.py:encoding_quality):
    per-row regexp projections at scan speed."""
    d = testdata.load(spark, sf_dir, "documents")
    return d.select("doc_id", *text.encoding_quality("text"))


@query(
    "x_cluster_quota",
    oracle=f"""
    WITH cent AS (
      SELECT vec_id AS centroid_id, embedding AS centv
      FROM embeddings WHERE vec_id < 8
    ), ac AS (
      SELECT e.vec_id, c.centroid_id,
             -- `+ 0` = house signed-zero normalization (SURVEY §5)
             round({_ddot('e.embedding', 'c.centv')}
               / ({_dnorm('e.embedding')} * {_dnorm('c.centv')}), 4) + 0 AS ccos,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY round({_ddot('e.embedding', 'c.centv')}
                 / ({_dnorm('e.embedding')} * {_dnorm('c.centv')}), 4) DESC,
               c.centroid_id) AS rn
      FROM embeddings e, cent c
    ), a1 AS (
      SELECT vec_id, centroid_id, ccos AS centroid_cos FROM ac WHERE rn = 1
    ), ranked AS (
      SELECT vec_id, centroid_id, centroid_cos,
             row_number() OVER (PARTITION BY centroid_id
               ORDER BY centroid_cos DESC, vec_id ASC) AS quota_rank
      FROM a1
    )
    SELECT vec_id, centroid_id, centroid_cos, CAST(quota_rank AS BIGINT) AS quota_rank
    FROM ranked WHERE quota_rank <= 20
    """,
    survey_ref="north-star:cluster-balance",
)
def x_cluster_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-balanced sampling: assign embeddings to their nearest
    centroid (shuffle-free Arrow matmul argmax,
    similarity.ivf_assign) then cap each cluster at its 20 most
    central members via the quota top-k (sampling.group_quota_topk:
    one logical window, two-phased physically by the engine's
    group-limit rewrite) — the cluster-proportional mixture control a
    curation run applies before training."""
    e = testdata.load(spark, sf_dir, "embeddings")
    cent = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    # no cache: the r11 lazy-naive default consumes the assignment in
    # exactly one action (the r10 cache guarded auto-dispatch's extra
    # estimate pass, which no longer runs)
    assigned = similarity.ivf_assign(e, cent, with_score=True).select(
        "vec_id", "centroid_id", "centroid_cos"
    )
    return sampling.group_quota_topk(
        assigned, group_col="centroid_id", rank_col="centroid_cos",
        k=20, id_col="vec_id",
    )


@query(
    "x_length_quantiles",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           round(quantile_cont(n_chars, 0.25), 4) AS p25,
           round(quantile_cont(n_chars, 0.5), 4) AS p50,
           round(quantile_cont(n_chars, 0.75), 4) AS p75,
           round(quantile_cont(n_chars, 0.9), 4) AS p90,
           round(quantile_cont(n_chars, 0.99), 4) AS p99
    FROM documents GROUP BY source
    """,
    survey_ref="north-star:corpus-profile",
)
def x_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source length quantiles (exact linear-interpolation
    percentiles — Spark `percentile` and DuckDB `quantile_cont` share
    the algorithm): the distribution report curation thresholds are
    read off of. Exact percentile sorts per group — fine at
    group-count scale; a 100 TB corpus-wide profile swaps in
    `percentile_approx` (t-digest, mergeable map-side) at the same
    call site."""
    d = testdata.load(spark, sf_dir, "documents")
    qs = F.expr("percentile(n_chars, array(0.25D, 0.5D, 0.75D, 0.9D, 0.99D))")
    agg = d.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"), qs.alias("_q")
    )
    return agg.select(
        "source", "n_docs",
        *[
            F.round(F.col("_q")[i], 4).alias(name)
            for i, name in enumerate(["p25", "p50", "p75", "p90", "p99"])
        ],
    )


@query(
    "x_bpe_pairs",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({_DTOKS}) AS token FROM documents
    ), p AS (
      SELECT unnest([substr(token, CAST(i AS INT), 2)
                     for i in range(1, length(token))]) AS pair
      FROM tok WHERE length(token) >= 2
    ), c AS (
      SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt FROM p GROUP BY pair
    ), r AS (
      SELECT pair, cnt,
             row_number() OVER (ORDER BY cnt DESC, pair ASC) AS rank
      FROM c
    )
    SELECT pair, cnt, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 50
    """,
    survey_ref="north-star:bpe-trainer",
)
def x_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE trainer inner loop: corpus-wide adjacent character-pair
    counts, top-50 (operators/text.py:bpe_pair_counts) — the argmax
    row is the next merge."""
    d = testdata.load(spark, sf_dir, "documents")
    return text.bpe_pair_counts(d, top_k=50)


@query(
    "x_bpe_train",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({_DTOKS}) AS word FROM documents
    ), words AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM tok GROUP BY word
    ), s0 AS (
      SELECT freq,
             array_to_string([substr(word, CAST(i AS INT), 1)
                              for i in range(1, length(word)+1)], ' ') AS seq
      FROM words
    )
    , p1 AS (
      SELECT pair, SUM(freq) AS cnt FROM (
        SELECT freq, unnest([l[CAST(i AS INT)] || ' ' || l[CAST(i AS INT)+1]
                             for i in range(1, len(l))]) AS pair
        FROM (SELECT freq, string_split(seq, ' ') AS l FROM s0)
      ) GROUP BY pair
    ), t1 AS (
      SELECT pair, CAST(cnt AS BIGINT) AS cnt FROM p1
      ORDER BY cnt DESC, pair ASC LIMIT 1
    ), m1 AS (
      SELECT string_split(pair, ' ')[1] AS x, string_split(pair, ' ')[2] AS y,
             replace(pair, ' ', '') AS m,
             length(string_split(pair, ' ')[1]) AS lx
      FROM t1
    ), s1 AS (
      SELECT freq,
             list_reduce(list_prepend('', string_split(seq, ' ')),
               (acc, s) -> CASE
                 WHEN acc = '' THEN s
                 WHEN (acc = x OR right(acc, lx + 1) = ' ' || x) AND s = y
                   THEN left(acc, length(acc) - lx) || m
                 ELSE acc || ' ' || s END) AS seq
      FROM s0, m1
    )
    , p2 AS (
      SELECT pair, SUM(freq) AS cnt FROM (
        SELECT freq, unnest([l[CAST(i AS INT)] || ' ' || l[CAST(i AS INT)+1]
                             for i in range(1, len(l))]) AS pair
        FROM (SELECT freq, string_split(seq, ' ') AS l FROM s1)
      ) GROUP BY pair
    ), t2 AS (
      SELECT pair, CAST(cnt AS BIGINT) AS cnt FROM p2
      ORDER BY cnt DESC, pair ASC LIMIT 1
    ), m2 AS (
      SELECT string_split(pair, ' ')[1] AS x, string_split(pair, ' ')[2] AS y,
             replace(pair, ' ', '') AS m,
             length(string_split(pair, ' ')[1]) AS lx
      FROM t2
    ), s2 AS (
      SELECT freq,
             list_reduce(list_prepend('', string_split(seq, ' ')),
               (acc, s) -> CASE
                 WHEN acc = '' THEN s
                 WHEN (acc = x OR right(acc, lx + 1) = ' ' || x) AND s = y
                   THEN left(acc, length(acc) - lx) || m
                 ELSE acc || ' ' || s END) AS seq
      FROM s1, m2
    )
    , p3 AS (
      SELECT pair, SUM(freq) AS cnt FROM (
        SELECT freq, unnest([l[CAST(i AS INT)] || ' ' || l[CAST(i AS INT)+1]
                             for i in range(1, len(l))]) AS pair
        FROM (SELECT freq, string_split(seq, ' ') AS l FROM s2)
      ) GROUP BY pair
    ), t3 AS (
      SELECT pair, CAST(cnt AS BIGINT) AS cnt FROM p3
      ORDER BY cnt DESC, pair ASC LIMIT 1
    ), m3 AS (
      SELECT string_split(pair, ' ')[1] AS x, string_split(pair, ' ')[2] AS y,
             replace(pair, ' ', '') AS m,
             length(string_split(pair, ' ')[1]) AS lx
      FROM t3
    ), s3 AS (
      SELECT freq,
             list_reduce(list_prepend('', string_split(seq, ' ')),
               (acc, s) -> CASE
                 WHEN acc = '' THEN s
                 WHEN (acc = x OR right(acc, lx + 1) = ' ' || x) AND s = y
                   THEN left(acc, length(acc) - lx) || m
                 ELSE acc || ' ' || s END) AS seq
      FROM s2, m3
    )
    , p4 AS (
      SELECT pair, SUM(freq) AS cnt FROM (
        SELECT freq, unnest([l[CAST(i AS INT)] || ' ' || l[CAST(i AS INT)+1]
                             for i in range(1, len(l))]) AS pair
        FROM (SELECT freq, string_split(seq, ' ') AS l FROM s3)
      ) GROUP BY pair
    ), t4 AS (
      SELECT pair, CAST(cnt AS BIGINT) AS cnt FROM p4
      ORDER BY cnt DESC, pair ASC LIMIT 1
    ), m4 AS (
      SELECT string_split(pair, ' ')[1] AS x, string_split(pair, ' ')[2] AS y,
             replace(pair, ' ', '') AS m,
             length(string_split(pair, ' ')[1]) AS lx
      FROM t4
    ), s4 AS (
      SELECT freq,
             list_reduce(list_prepend('', string_split(seq, ' ')),
               (acc, s) -> CASE
                 WHEN acc = '' THEN s
                 WHEN (acc = x OR right(acc, lx + 1) = ' ' || x) AND s = y
                   THEN left(acc, length(acc) - lx) || m
                 ELSE acc || ' ' || s END) AS seq
      FROM s3, m4
    )
    SELECT CAST(1 AS BIGINT) AS merge_rank, pair, cnt FROM t1
    UNION ALL SELECT 2, pair, cnt FROM t2
    UNION ALL SELECT 3, pair, cnt FROM t3
    UNION ALL SELECT 4, pair, cnt FROM t4
    """,
    survey_ref="north-star:bpe-trainer",
)
def x_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four BPE merge rounds trained on the corpus word-frequency table
    (operators/text.py:bpe_train); the oracle unrolls the driver loop
    as four identical SQL stages — possible because merge application
    is a literal padded-space replace with identical left-to-right
    non-overlapping semantics in both engines."""
    d = testdata.load(spark, sf_dir, "documents")
    return text.bpe_train(d, n_merges=4)


@query(
    "x_token_ids",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DTOKS} AS t FROM documents
    ), tokp AS (
      SELECT doc_id,
             unnest([struct_pack(pos := i, tok := t[CAST(i AS INT)])
                     for i in range(1, len(t)+1)]) AS pt
      FROM toks WHERE len(t) > 0
    ), tp AS (
      SELECT doc_id, pt.pos AS pos, pt.tok AS token FROM tokp
    ), counts AS (
      SELECT token, COUNT(*) AS cnt FROM tp GROUP BY token
    ), vocab AS (
      SELECT token,
             CAST(row_number() OVER (ORDER BY cnt DESC, token ASC) AS BIGINT) - 1 AS vid
      FROM counts QUALIFY vid < 1000
    ), scored AS (
      SELECT tp.doc_id, tp.pos, CAST(COALESCE(v.vid, 1000) AS BIGINT) AS vid
      FROM tp LEFT JOIN vocab v USING (token)
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           array_to_string(list(vid ORDER BY pos), ',') AS ids
    FROM scored GROUP BY doc_id
    """,
    survey_ref="north-star:tokenize-to-ids",
)
def x_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize-to-ids against a frequency-ranked vocabulary with OOV
    fallback (operators/text.py:tokens_to_ids) — the pipeline's last
    step before sequence packing.

    Registry lane serializes the array<long> ``ids`` to a ','-joined
    string: the driver's canonicalizer sorts raw pandas object columns
    and cannot hash Python lists (an array column fails it with
    ``TypeError: unhashable type: 'list'``). The operator itself still
    returns the array."""
    d = testdata.load(spark, sf_dir, "documents")
    out = text.tokens_to_ids(d, vocab_size=1000)
    return out.withColumn(
        "ids", F.array_join(F.col("ids").cast("array<string>"), ",")
    )


@query(
    "x_global_shuffle",
    oracle="""
    SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS shuffle_key,
           CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1
             AS BIGINT) AS shuffle_rank
    FROM documents
    """,
    survey_ref="north-star:global-shuffle",
)
def x_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pre-training corpus shuffle: md5-keyed total order
    with a two-phase global rank (operators/sampling.py:
    deterministic_global_shuffle) — reproducible across runs, never a
    single-partition window."""
    d = testdata.load(spark, sf_dir, "documents")
    return sampling.deterministic_global_shuffle(d)


@query(
    "x_drop_reasons",
    oracle=f"""
    WITH corpus AS (
      SELECT * FROM documents WHERE doc_id % 97 != 0
    ), fp AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
      FROM corpus
    ), dup AS (
      SELECT doc_id, doc_id != MIN(doc_id) OVER (PARTITION BY f) AS is_dup
      FROM fp
    ), toks AS (
      SELECT doc_id, {_DTOKS} AS t FROM documents
    ), sh AS (
      SELECT doc_id,
             unnest(CASE WHEN len(t) >= 3
                    THEN [concat_ws(' ', t[CAST(i AS INT)],
                                    t[CAST(i AS INT)+1], t[CAST(i AS INT)+2])
                          for i in range(1, len(t)-1)]
                    ELSE [array_to_string(t, ' ')] END) AS s
      FROM toks
    ), ev AS (
      SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0
    ), hits AS (
      SELECT doc_id, COUNT(DISTINCT s) AS n_hits
      FROM sh JOIN ev USING (s) WHERE doc_id % 97 != 0 GROUP BY 1
    ), m AS (
      SELECT doc_id, len(t) AS n,
             CASE WHEN len(t) > 0 THEN
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(t, w -> CAST(length(w) AS BIGINT))),
                 (x, y) -> x + y) / CAST(len(t) AS DOUBLE)
             ELSE 0.0 END AS mwl,
             len(list_filter(list_distinct(t),
                 w -> list_contains(['the','be','to','of','and','that',
                                     'have','with'], w))) AS n_req,
             CASE WHEN len(t) > 0
                  THEN len(list_distinct(t)) / CAST(len(t) AS DOUBLE)
                  ELSE 0.0 END AS uniq
      FROM toks WHERE doc_id % 97 != 0
    ), g AS (
      SELECT doc_id,
             (n >= 10 AND n <= 5000) AND (mwl >= 2.0 AND mwl <= 12.0)
               AND n_req >= 1 AND uniq >= 0.2 AS q_keep
      FROM m
    )
    SELECT c.doc_id,
           CASE WHEN d.is_dup THEN 'exact_dup'
                WHEN COALESCE(h.n_hits, 0) >= 2 THEN 'contaminated'
                WHEN NOT g.q_keep THEN 'low_quality'
                ELSE 'kept' END AS drop_reason
    FROM corpus c
    JOIN dup d USING (doc_id)
    LEFT JOIN hits h USING (doc_id)
    JOIN g USING (doc_id)
    """,
    survey_ref="north-star:curation-audit",
)
def x_drop_reasons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document drop-reason audit: the first failing funnel gate
    (exact_dup -> contaminated -> low_quality) or 'kept'
    (operators/curation.py:drop_reasons)."""
    from ..operators import curation

    d = testdata.load(spark, sf_dir, "documents")
    eval_docs = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    return curation.drop_reasons(corpus, eval_docs, min_required=1)


#: target mixture for the budget solve: weight ~ 1 + (source index % 3),
#: normalized over the 20 synthetic sources (sum = 39)
_MIXTURE_WEIGHTS = {f"src{i}": (1 + i % 3) / 39.0 for i in range(20)}


@query(
    "x_mixture_budget",
    oracle=f"""
    WITH per AS (
      SELECT source, CAST(SUM(len({_DTOKS})) AS BIGINT) AS tokens
      FROM documents GROUP BY source
    ), w AS (
      SELECT source, tokens,
             (1 + CAST(substr(source, 4) AS INT) % 3) / 39.0 AS weight
      FROM per
    ), c AS (
      SELECT source, tokens, weight, tokens / weight AS cap FROM w
    ), n AS (
      SELECT MIN(cap) AS n_star FROM c
    )
    SELECT source, tokens, weight,
           CAST(floor(weight * (SELECT n_star FROM n)) AS BIGINT) AS take_tokens,
           round(floor(weight * (SELECT n_star FROM n)) / tokens, 4) AS rate
    FROM c
    """,
    survey_ref="north-star:mixture-budget",
)
def x_mixture_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture budget solve: the largest total token budget achievable
    under the target per-source weights without oversampling any
    source, with each source's take and rate
    (operators/sampling.py:mixture_budget)."""
    d = testdata.load(spark, sf_dir, "documents")
    return sampling.mixture_budget(d, _MIXTURE_WEIGHTS)


@query(
    "x_pack_boundaries",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DTOKS} AS t FROM documents
    ), c AS (
      SELECT doc_id, t,
             unnest(range(0, CAST(floor((len(t)-1)/24) AS BIGINT) + 1))
               AS chunk_id
      FROM toks WHERE len(t) > 0
    ), ch AS (
      SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
             CAST(len(list_slice(t, chunk_id*24+1, chunk_id*24+32)) AS BIGINT)
               AS n_chunk_tokens
      FROM c
    ), o AS (
      SELECT doc_id, chunk_id, n_chunk_tokens,
             CAST(COALESCE(SUM(n_chunk_tokens) OVER (
               ORDER BY doc_id, chunk_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS token_offset
      FROM ch
    ), p AS (
      SELECT CAST(floor(token_offset / 64) AS BIGINT) AS pack_id,
             CAST(token_offset % 64 AS BIGINT) AS pack_offset,
             n_chunk_tokens
      FROM o
    )
    SELECT pack_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
           array_to_string(list(pack_offset ORDER BY pack_offset), ',')
             AS boundaries,
           CAST(SUM(n_chunk_tokens) AS BIGINT) AS n_tokens
    FROM p GROUP BY pack_id
    """,
    survey_ref="north-star:sequence-packing",
)
def x_pack_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-pack document-boundary offsets for attention-mask
    construction (operators/packing.py:pack_boundaries) — one pack-key
    agg over the pack_sequences output, array sorted in the agg.

    Registry lane serializes the array<long> ``boundaries`` to a
    ','-joined string so the driver's canonicalizer can hash it
    (an array column fails it with ``TypeError: unhashable type:
    'list'``); the operator
    itself still returns the array."""
    from ..operators import packing

    d = testdata.load(spark, sf_dir, "documents")
    chunks = chunking.chunk_by_tokens(d, window=32, stride=24)
    packed = packing.pack_sequences(chunks, seq_len=64)
    out = packing.pack_boundaries(packed)
    return out.withColumn(
        "boundaries",
        F.array_join(F.col("boundaries").cast("array<string>"), ","),
    )


# ---------------------------------------------------------------------------
# Round-4 tail: evaluation & reporting compositions (oracles reuse the
# already-registered operator oracles as CTE bodies — same SQL, composed)
# ---------------------------------------------------------------------------

from .queries import QUERIES as _REGISTRY  # noqa: E402


@query(
    "x_ann_recall",
    oracle=f"""
    WITH exact AS ({_REGISTRY["x_sim_cosine_topk"].oracle}),
    approx AS ({_REGISTRY["x_sim_ivf_ann"].oracle}),
    hits AS (
      SELECT e.query_id, COUNT(*) AS n_hit
      FROM exact e JOIN approx a
        ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
      GROUP BY 1
    ), base AS (
      SELECT query_id, COUNT(*) AS n_exact FROM exact GROUP BY 1
    )
    SELECT b.query_id, CAST(b.n_exact AS BIGINT) AS n_exact,
           CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
           round(COALESCE(h.n_hit, 0) * 1.0 / b.n_exact, 4) AS recall
    FROM base b LEFT JOIN hits h USING (query_id)
    """,
    survey_ref="north-star:ann-evaluation",
)
def x_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index evaluation: recall@5 of the IVF index (nlist=8,
    nprobe=2) against the exact cosine top-5, per query — the index
    quality gate a similarity deployment monitors. Both sides are the
    already-oracle-gated operators; the report is two id-scale aggs
    and a join."""
    e = testdata.load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cent = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    exact = similarity.cosine_topk(e, q, k=5)
    approx = similarity.ivf_topk(e, q, cent, k=5, nprobe=2)
    # single pass over the exact subtree: left-join the approx hits and
    # count both sides in ONE agg (a separate base-vs-hits join would
    # execute the corpus-wide exact scorer twice)
    marked = approx.select(
        "query_id", "neighbor_id", F.lit(1).alias("_hit")
    )
    return (
        exact.join(marked, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("*").cast("long").alias("n_exact"),
            F.count("_hit").cast("long").alias("n_hit"),
            F.round(F.count("_hit") / F.count("*"), 4).alias("recall"),
        )
    )


@query(
    "x_corpus_report",
    oracle=f"""
    WITH q AS ({_REGISTRY["x_text_quality"].oracle}),
    l AS ({_REGISTRY["x_lang_id"].oracle}),
    t AS (
      SELECT doc_id, source, CAST(len({_DTOKS}) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT t.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(t.n_tokens) AS BIGINT) AS tokens,
           round(AVG(q.quality), 4) AS avg_quality,
           round(AVG(CASE WHEN l.lang_pred = 'en' THEN 1.0 ELSE 0.0 END), 4)
             AS pct_en
    FROM t JOIN q USING (doc_id) JOIN l USING (doc_id)
    GROUP BY t.source
    """,
    survey_ref="north-star:corpus-profile",
)
def x_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus health report: doc/token volume, mean quality
    score, predicted-English share — the per-domain dashboard a
    curation run publishes. All inputs are scan-time projections; the
    report is one source-key agg."""
    d = testdata.load(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", "source",
        text.token_count("text").alias("n_tokens"),
        text.quality_score("text").alias("quality"),
        text.lang_id("text").alias("lang_pred"),
    )
    return base.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("tokens"),
        F.round(F.avg("quality"), 4).alias("avg_quality"),
        F.round(
            F.avg(F.when(F.col("lang_pred") == "en", 1.0).otherwise(0.0)), 4
        ).alias("pct_en"),
    )


@query(
    "x_interleave_sources",
    oracle="""
    WITH r AS (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS rr_round
      FROM documents
    )
    SELECT doc_id, source, CAST(rr_round AS BIGINT) AS rr_round,
           CAST(row_number() OVER (ORDER BY rr_round, source, doc_id) - 1
             AS BIGINT) AS interleave_rank
    FROM r
    """,
    survey_ref="north-star:curriculum-interleave",
)
def x_interleave_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-robin source interleaving: each source's docs are shuffled
    deterministically (md5 order) and dealt one per round, so the
    global reading order cycles through sources — the curriculum
    loader's anti-clumping order. The per-source round is a PARTITIONED
    window; the global rank runs the same two-phase prefix sum as the
    corpus shuffle (the oracle's naive global row_number is the
    values-equal single-node form)."""
    from pyspark.sql import Window

    from ..operators.packing import global_running_offset

    d = testdata.load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    rounds = d.select(
        "doc_id", "source",
        (F.row_number().over(w).cast("long") - 1).alias("rr_round"),
    )
    return global_running_offset(
        rounds.withColumn("_one", F.lit(1)),
        ["rr_round", "source", "doc_id"], "_one",
        out_col="interleave_rank",
    ).select("doc_id", "source", "rr_round", "interleave_rank")


@query(
    "x_dedup_cluster_sizes",
    oracle=f"""
    WITH base AS ({_REGISTRY["x_dedup_pipeline_components"].oracle}),
    sizes AS (
      SELECT component_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM base GROUP BY component_id
    )
    SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(cluster_size) AS BIGINT) AS n_docs
    FROM sizes GROUP BY cluster_size
    """,
    survey_ref="north-star:dedup-report",
)
def x_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size histogram over the full production dedup
    pipeline — the duplication-profile report (how much of the corpus
    is singletons vs 2-copies vs viral) a dedup run publishes. Two
    id-scale hash aggs over the component labels."""
    from .queries import _materialize

    d = testdata.load(spark, sf_dir, "documents")
    sigs = _materialize(dedup.minhash_signatures(d, num_hashes=16))
    pairs = _materialize(dedup.lsh_candidate_pairs(sigs, bands=4))
    est = dedup.minhash_jaccard_estimate(sigs, pairs)
    edges = est.filter(F.col("jaccard_est") >= 0.5).select("id_a", "id_b")
    comp = dedup.components_from_pairs(
        d.select("doc_id"), edges, algorithm="bigstar"
    )
    return dedup.cluster_size_histogram(comp)


@query(
    "x_length_filter",
    oracle="""
    WITH qs AS (
      SELECT source,
             quantile_cont(n_chars, 0.10) AS p10,
             quantile_cont(n_chars, 0.99) AS p99
      FROM documents GROUP BY source
    )
    SELECT d.doc_id, d.source, d.n_chars,
           (d.n_chars >= qs.p10 AND d.n_chars <= qs.p99) AS in_band
    FROM documents d JOIN qs USING (source)
    """,
    survey_ref="north-star:corpus-profile",
)
def x_length_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source length-band gate: flag docs outside their source's
    [p10, p99] length band — the distribution-aware outlier filter
    curation applies after profiling (x_length_quantiles). One
    source-key percentile agg broadcast back onto the scan."""
    d = testdata.load(spark, sf_dir, "documents")
    qs = d.groupBy("source").agg(
        F.expr("percentile(n_chars, 0.10D)").alias("p10"),
        F.expr("percentile(n_chars, 0.99D)").alias("p99"),
    )
    return d.join(F.broadcast(qs), "source").select(
        "doc_id", "source", "n_chars",
        (
            (F.col("n_chars") >= F.col("p10"))
            & (F.col("n_chars") <= F.col("p99"))
        ).alias("in_band"),
    )


# ---------------------------------------------------------------------------
# Round-5 additions: paragraph-boundary dedup, HLL cardinality,
# trained cluster-balanced mixture
# ---------------------------------------------------------------------------

#: deterministic multi-paragraph synthesis shared by the paragraph-dedup
#: lane and its oracle: every source doc lands in TWO synthesized docs
#: (gid = id%50 and gid = (7*id+3)%50 — never equal: 6d+3 is odd, 50
#: even), so every paragraph genuinely duplicates corpus-wide. The
#: testdata corpus is single-line (TESTDATA.md), so the fixture builds
#: the multi-paragraph shape the operator exists for.
_DSYNTH = """
    SELECT gid, string_agg(text, chr(10) || chr(10) ORDER BY doc_id) AS text
    FROM (
      SELECT doc_id % 50 AS gid, doc_id, text FROM documents
      UNION ALL
      SELECT (doc_id * 7 + 3) % 50 AS gid, doc_id, text FROM documents
    ) GROUP BY gid
"""


def _synth_paragraph_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = testdata.load(spark, sf_dir, "documents")
    u = d.select(
        (F.col("doc_id") % 50).alias("gid"), "doc_id", "text"
    ).unionByName(
        d.select(
            ((F.col("doc_id") * 7 + 3) % 50).alias("gid"), "doc_id", "text"
        )
    )
    return u.groupBy("gid").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
                lambda s: s["text"],
            ),
            "\n\n",
        ).alias("text")
    )


@query(
    "x_paragraph_dedup",
    oracle=f"""
    WITH synth AS ({_DSYNTH}
    ), split AS (
      SELECT gid, string_split(text, chr(10) || chr(10)) AS ps FROM synth
    ), paras AS (
      SELECT gid, pt.pos AS pos, pt.para AS para FROM (
        SELECT gid,
               unnest([struct_pack(pos := i - 1, para := ps[CAST(i AS INT)])
                       for i in range(1, len(ps) + 1)]) AS pt
        FROM split
      ) WHERE trim(pt.para) != ''
    ), fp AS (
      SELECT gid, pos, para,
             md5(trim(regexp_replace(lower(para), '\\s+', ' ', 'g'))) AS f
      FROM paras
    ), ranked AS (
      SELECT gid, pos, para,
             row_number() OVER (PARTITION BY f ORDER BY gid, pos) AS rn
      FROM fp
    ), totals AS (
      SELECT gid, CAST(COUNT(*) AS BIGINT) AS n_paragraphs FROM paras GROUP BY gid
    ), rebuilt AS (
      SELECT gid, CAST(COUNT(*) AS BIGINT) AS kept_paragraphs,
             string_agg(para, chr(10) || chr(10) ORDER BY pos) AS deduped_text
      FROM ranked WHERE rn = 1 GROUP BY gid
    )
    SELECT t.gid, t.n_paragraphs,
           COALESCE(r.kept_paragraphs, 0) AS kept_paragraphs,
           COALESCE(r.deduped_text, '') AS deduped_text
    FROM totals t LEFT JOIN rebuilt r USING (gid)
    """,
    survey_ref="north-star:paragraph-dedup",
)
def x_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-boundary exact dedup with original-character
    reassembly (operators/dedup.py:paragraph_dedup) over a
    deterministic multi-paragraph fixture — repeated paragraphs
    (license blocks, navigation) survive only at their first
    corpus-wide occurrence, and unlike chunk dedup the survivors keep
    their original bytes."""
    synth = _synth_paragraph_docs(spark, sf_dir)
    return dedup.paragraph_dedup(synth, id_col="gid")


@query(
    "x_distinct_tokens_hll",
    oracle=f"""
    WITH toks AS (
      SELECT source, {_DTOKS} AS t FROM documents
    ), unig AS (
      SELECT source, unnest(t) AS tok FROM toks
    ), big AS (
      SELECT source, unnest([concat_ws(' ', t[CAST(i AS INT)],
                                       t[CAST(i AS INT) + 1])
                             for i in range(1, len(t))]) AS bg
      FROM toks WHERE len(t) >= 2
    ), ua AS (
      SELECT source, CAST(COUNT(DISTINCT tok) AS BIGINT) AS exact_tokens
      FROM unig GROUP BY source
    ), ba AS (
      SELECT source, CAST(COUNT(DISTINCT bg) AS BIGINT) AS exact_bigrams
      FROM big GROUP BY source
    )
    SELECT ua.source, ua.exact_tokens, TRUE AS tokens_hll_ok,
           COALESCE(ba.exact_bigrams, 0) AS exact_bigrams,
           TRUE AS bigrams_hll_ok
    FROM ua LEFT JOIN ba USING (source)
    """,
    survey_ref="north-star:hll-cardinality",
)
def x_distinct_tokens_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct-token/-bigram cardinality: the EXACT lane is
    hash-verified against the oracle, and the HLL++ sketch lane
    (operators/text.py:distinct_tokens_hll) is graded through its
    documented error envelope — the oracle asserts the bound booleans
    are TRUE, which only holds if Spark's estimate landed within
    5*rsd of exact. The raw estimates are engine-specific (DuckDB's
    sketch differs), so the lane drops them; production reads the
    estimate columns and skips the exact lane entirely."""
    d = testdata.load(spark, sf_dir, "documents")
    out = text.distinct_tokens_hll(d, rsd=0.02)
    return out.select(
        "source", "exact_tokens", "tokens_hll_ok",
        "exact_bigrams", "bigrams_hll_ok",
    )


@query(
    "x_cluster_quota_trained",
    oracle=None,  # k-means training is iterative — not SQL-expressible;
    # the pinned-centroid twin (x_cluster_quota) is the hash-gated lane
    survey_ref="north-star:cluster-balance",
)
def x_cluster_quota_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced mixture on TRAINED centroids: spherical k-means
    (similarity.kmeans_centroids — sample-scale, driver numpy) trains
    the topic space, the Arrow-matmul assigner places every vector, and
    the auto-dispatched quota top-k caps each cluster at its 20 most
    central members. Same composition as x_cluster_quota but with the fixed-id
    stand-in centroids replaced by the trained ones — the form a real
    curation run uses."""
    e = testdata.load(spark, sf_dir, "embeddings")
    cent = similarity.kmeans_centroids(e, nlist=8, iters=5, sample=2048)
    # no cache: single-action consumer under the lazy-naive quota
    # default (see x_cluster_quota)
    assigned = similarity.ivf_assign(e, cent, with_score=True).select(
        "vec_id", "centroid_id", "centroid_cos"
    )
    return sampling.group_quota_topk(
        assigned, group_col="centroid_id", rank_col="centroid_cos",
        k=20, id_col="vec_id",
    )


# ---------------------------------------------------------------------------
# Round-6 additions: sketch-profile registration, shard-manifest audit,
# streaming MinHash ingest dedup, cross-run HLL sketch merge
# ---------------------------------------------------------------------------

@query(
    "x_length_quantiles_sketch",
    oracle="""
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           TRUE AS p25_ok, TRUE AS p50_ok, TRUE AS p75_ok,
           TRUE AS p90_ok, TRUE AS p99_ok
    FROM documents GROUP BY source
    """,
    survey_ref="north-star:corpus-profile-sketch",
)
def x_length_quantiles_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-SKETCH corpus profile (operators/text.py:
    length_quantiles_sketch), graded through its rank-error contract
    the way x_distinct_tokens_hll grades HLL: the raw
    percentile_approx values are engine-specific, so the lane instead
    verifies — per group and per quantile — that the reported value's
    RANK band [#{x < v} + 1, #{x <= v}] intersects the target rank
    q*n within the documented tolerance (n/accuracy rank error, padded
    5x + 2 so the gate never flakes while still catching a broken
    sketch). The oracle asserts the booleans are all TRUE plus the
    exact group sizes.

    Scale shape: the sketch agg is O(groups x summary) shuffle
    (mergeable map-side — the 100 TB path the exact x_length_quantiles
    lane can't take); the rank check joins the dim-scale group profile
    back via broadcast and costs one conditional re-aggregation, and
    exists only in this verification lane."""
    qs = (0.25, 0.5, 0.75, 0.9, 0.99)
    accuracy = 10_000
    d = testdata.load(spark, sf_dir, "documents")
    sk = text.length_quantiles_sketch(d, qs=qs, accuracy=accuracy)
    joined = d.select("source", "n_chars").join(F.broadcast(sk), "source")
    tol = F.col("n_docs") * (5.0 / accuracy) + F.lit(2.0)
    checks = []
    for q in qs:
        p = f"p{round(q * 100)}"
        cnt_lt = F.sum(
            F.when(F.col("n_chars") < F.col(p), 1).otherwise(0)
        )
        cnt_le = F.sum(
            F.when(F.col("n_chars") <= F.col(p), 1).otherwise(0)
        )
        target = F.lit(q) * F.col("n_docs")
        checks.append(
            ((cnt_lt + 1 <= target + tol) & (cnt_le >= target - tol))
            .alias(f"{p}_ok")
        )
    return (
        joined.groupBy("source", "n_docs", *[f"p{int(q*100)}" for q in qs])
        .agg(*checks)
        .select("source", "n_docs",
                *[f"p{int(q*100)}_ok" for q in qs])
    )


@query(
    "x_shard_manifest_audit",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, CAST(len({_DTOKS}) AS BIGINT) AS n_tokens
      FROM documents
    ), o AS (
      SELECT doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS token_offset
      FROM t
    ), a AS (
      SELECT doc_id, n_tokens,
             CAST(dense_rank() OVER (ORDER BY floor(token_offset / 4096)) - 1
               AS BIGINT) AS shard
      FROM o
    )
    SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
    FROM a GROUP BY shard
    """,
    survey_ref="north-star:shard-manifest-audit",
)
def x_shard_manifest_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END shard-writer audit: actually WRITE the corpus as
    token-balanced shard directories (operators/packing.py:
    write_token_balanced_shards — one file per shard=N dir), then READ
    THE FILES BACK and report per-shard (n_docs, token sum, doc-id
    span) recomputed from the read-back text. The oracle derives the
    same numbers from the logical spec (prefix-sum cut every 4096
    tokens, densified ids) — so a hash match proves the physical
    layout round-trips the spec: no dropped/duplicated docs, no
    gapped shard dirs, text bytes intact. Promoted from a unit test
    (r05 verdict ask #8) so the driver grades the written artifact,
    not just the assignment frame."""
    from ..operators import packing

    d = testdata.load(spark, sf_dir, "documents")
    path = lane_tmpdir("shard_audit_") + "/shards"
    packing.write_token_balanced_shards(d, path, budget=4096)
    # the files hold d's columns; shard is discovered from the shard=N
    # directory names, as it would be under inference
    back = spark.read.schema(d.schema).parquet(path)
    return (
        back.select(
            F.col("shard").cast("long").alias("shard"),
            F.col("doc_id").cast("long").alias("doc_id"),
            text.token_count("text").alias("n_tokens"),
        )
        .groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("shard_tokens"),
            F.min("doc_id").cast("long").alias("min_doc_id"),
            F.max("doc_id").cast("long").alias("max_doc_id"),
        )
    )


@query(
    "x_stream_minhash_dedup",
    oracle=None,  # continuous ingest over a persisted signature index —
    # cross-batch stateful, not SQL-expressible; the batch MinHash lanes
    # (x_dedup_minhash_lsh, x_dedup_incremental) are the hash-gated
    # verification of the underlying operators
    survey_ref="north-star:streaming-minhash-dedup",
)
def x_stream_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MinHash ingest dedup driven end-to-end (streaming/
    dedup.py:minhash_dedup_batch_fn): the corpus arrives as three
    deterministic micro-batches (doc_id mod 3); batch 1 additionally
    RE-INGESTS batch 0's documents under fresh ids (the at-least-once
    upstream retry case) — every re-ingested doc must be dropped
    against the PERSISTED signature index, and the index must grow
    with novel content only. Output: one summary row per batch
    (n_in, n_kept, n_dropped, index_size after) — dim-scale counts of
    batch-keyed parquet tables, deterministic across runs (xxhash64
    signatures, exact-duplicate re-ingest estimates Jaccard 1.0).

    Scale shape is the operator's INDEXED mode (O(batch) signing, the
    probe a pure equi-join against the persisted banded-key table —
    history is never re-banded; batch-keyed idempotent writes across
    all three artifacts); the lane only counts each batch's rows, with
    pyarrow on the driver. Decisions are identical to the re-banding mode
    (tests/test_stateful.py pins the equivalence)."""
    from pyspark.sql import types as T

    from ..sources.catalog import Table
    from ..streaming.dedup import minhash_dedup_batch_fn

    doc_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    sig_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("sig", T.ArrayType(T.LongType())),
    ])
    band_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("key", T.StringType()),
    ])
    tmp = lane_tmpdir("stream_minhash_")
    clean = Table(spark, f"{tmp}/clean", doc_schema)
    sigs = Table(spark, f"{tmp}/sigs", sig_schema)
    bands = Table(spark, f"{tmp}/bands", band_schema)
    fn = minhash_dedup_batch_fn(clean, sigs, bands, threshold=0.5)

    d = testdata.load(spark, sf_dir, "documents").select("doc_id", "text")
    b0 = d.filter(F.col("doc_id") % 3 == 0)
    b1 = d.filter(F.col("doc_id") % 3 == 1).unionByName(
        b0.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    )
    b2 = d.filter(F.col("doc_id") % 3 == 2)

    # n_in per batch from ONE corpus aggregation instead of a count()
    # per batch frame (r13: each per-batch count re-paid the loader's
    # repartition exchange — 3 corpus passes for 3 integers; guide
    # §1.2). b1 re-ingests b0's docs under fresh ids, so its n_in is
    # |mod 1| + |mod 0| — same values, one pass.
    mod_counts = {
        int(r["m"]): r["n"]
        for r in d.groupBy((F.col("doc_id") % 3).alias("m"))
        .agg(F.count("*").alias("n")).collect()
        if r["m"] is not None  # NULL doc_id falls in no batch
    }
    n_ins = (mod_counts.get(0, 0),
             mod_counts.get(1, 0) + mod_counts.get(0, 0),
             mod_counts.get(2, 0))
    rows = []
    index_size = 0
    for i, b in enumerate((b0, b1, b2)):
        fn(b, i)
        n_in = n_ins[i]
        # count only the batch's own subdir (O(batch), no Spark job);
        # the cumulative index size is the running sum of per-batch
        # novel signatures — never a re-scan of the whole index per batch.
        n_kept = Table(spark, f"{tmp}/clean/batch={i}", doc_schema) \
            .read_arrow(["doc_id"]).num_rows
        index_size += Table(spark, f"{tmp}/sigs/batch={i}", sig_schema) \
            .read_arrow(["doc_id"]).num_rows
        rows.append((i, n_in, n_kept, n_in - n_kept, index_size))
    return spark.createDataFrame(
        rows, "batch_id long, n_in long, n_kept long, n_dropped long, "
              "index_size long",
    )


@query(
    "x_hll_cross_run_merge",
    oracle=f"""
    WITH toks AS (
      SELECT source, unnest({_DTOKS}) AS tok
      FROM documents
    )
    SELECT source, CAST(COUNT(DISTINCT tok) AS BIGINT) AS exact_tokens,
           TRUE AS merged_ok
    FROM toks GROUP BY source
    """,
    survey_ref="north-star:hll-cross-run-merge",
)
def x_hll_cross_run_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-RUN mergeable-sketch proof (r05 verdict ask #5): run A
    sketches the even-doc_id half of the corpus per (source, shard),
    PERSISTS the sketch bytes to parquet, and ends; run B — a fresh
    read of that parquet, no access to run A's text — sketches the odd
    half and merges both runs' sketches (operators/text.py:
    token_hll_shard_sketches / hll_merge_estimate, DataSketches HLL via
    hll_sketch_agg/hll_union_agg). The lane emits the exact per-source
    distinct-token count (hash-gated) plus a boolean that the MERGED
    estimate landed within the sketch's error envelope — which can
    only be true if the persisted bytes really carry mergeable state.
    At 100 TB this is the entire point of sketch-based reports: each
    ingest run pays O(its own shard) and the corpus-wide report is a
    union over all runs' persisted sketches."""
    d = testdata.load(spark, sf_dir, "documents")
    run_a = d.filter(F.col("doc_id") % 2 == 0)
    run_b = d.filter(F.col("doc_id") % 2 == 1)
    shard = (F.col("doc_id") % 4).cast("long")

    tmp = lane_tmpdir("hll_runs_")
    sketches_a = text.token_hll_shard_sketches(run_a, shard)
    sketches_a.write.mode("overwrite").parquet(f"{tmp}/run_a_sketches")

    # ---- run B: merge persisted run-A sketches with its own ----
    persisted = spark.read.schema(sketches_a.schema).parquet(f"{tmp}/run_a_sketches")
    merged = text.hll_merge_estimate(
        persisted.unionByName(text.token_hll_shard_sketches(run_b, shard))
    )
    exact = (
        d.select("source", F.explode(text.tokens("text")).alias("tok"))
        .groupBy("source")
        .agg(F.countDistinct("tok").cast("long").alias("exact_tokens"))
    )
    # lgConfigK=14 -> rse ~ 1.04/sqrt(2^14) ~ 0.81%; 5x envelope
    return exact.join(F.broadcast(merged), "source").select(
        "source", "exact_tokens",
        (
            F.abs(F.col("est_tokens") - F.col("exact_tokens"))
            / F.greatest(F.col("exact_tokens"), F.lit(1))
            <= 0.0406
        ).alias("merged_ok"),
    )


@query(
    "x_temperature_mixture",
    oracle=f"""
    WITH per AS (
      SELECT source, CAST(SUM(len({_DTOKS})) AS BIGINT) AS tokens
      FROM documents GROUP BY source
    ), raw AS (
      SELECT source, tokens,
             CASE WHEN tokens > 0 THEN pow(tokens, 0.7) ELSE 0.0 END AS r
      FROM per
    )
    SELECT source, tokens, round(r, 4) AS raw,
           CASE WHEN (SELECT SUM(r) FROM raw) > 0
                THEN round(r / (SELECT SUM(r) FROM raw), 4)
                ELSE 0.0 END AS weight
    FROM raw
    """,
    survey_ref="north-star:temperature-mixture",
)
def x_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture weights (operators/sampling.py:
    temperature_weights): w_s ∝ tokens_s^0.7 normalized — the standard
    multi-source mixing rule whose output feeds mixture_budget /
    weighted_mixture. One map-side-combined token agg plus a one-row
    broadcast total."""
    d = testdata.load(spark, sf_dir, "documents")
    return sampling.temperature_weights(d, alpha=0.7)


def _hist_q_sql(q: float) -> str:
    b = f"MIN(CASE WHEN cum >= {q} * total THEN bucket END)"
    return (f"CASE WHEN {b} < 0 THEN 0.0 "
            f"ELSE round(pow(1.1, {b} + 0.5), 4) END AS p{round(q * 100)}")


@query(
    "x_histogram_quantiles",
    oracle=f"""
    WITH b AS (
      SELECT source,
             CASE WHEN n_chars < 1 THEN -1
                  ELSE CAST(FLOOR(LN(CAST(n_chars AS DOUBLE)) / LN(1.1))
                       AS INT) END AS bucket
      FROM documents WHERE n_chars IS NOT NULL
    ), m AS (
      SELECT source, bucket, COUNT(*) AS cnt FROM b GROUP BY 1, 2
    ), c AS (
      SELECT source, bucket, cnt,
             SUM(cnt) OVER (PARTITION BY source ORDER BY bucket) AS cum,
             SUM(cnt) OVER (PARTITION BY source) AS total
      FROM m
    )
    SELECT source, CAST(MAX(total) AS BIGINT) AS n_values,
           {", ".join(_hist_q_sql(q) for q in (0.25, 0.5, 0.75, 0.9, 0.99))}
    FROM c GROUP BY source
    """,
    survey_ref="north-star:cross-run-quantile-state",
)
def x_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source length quantiles from CROSS-RUN-mergeable histogram
    state (operators/text.py: length_histogram_shard_sketches →
    histogram_merge_quantiles): log-bucketed (source, shard, bucket,
    cnt) rows are the persistable twin of percentile_approx's GK
    summaries — merging runs is exact bucket summation, and the
    reported value sits within sqrt(1.1) of the exact type-1
    percentile (the oracle replays the identical bucket math, so the
    gate is a hash match, not an envelope). The shard split exercises
    the per-shard state path; merged results are shard-invariant by
    construction. Rounded to 4 dp on both sides — Spark's and DuckDB's
    pow differ in final ulps."""
    d = testdata.load(spark, sf_dir, "documents")
    shard = (F.col("doc_id") % 8).cast("long")
    q = text.histogram_merge_quantiles(
        text.length_histogram_shard_sketches(d, shard)
    )
    return q.select(
        "source", "n_values",
        *[F.round(F.col(c), 4).alias(c)
          for c in ("p25", "p50", "p75", "p90", "p99")],
    )


@query(
    "x_dedup_threshold_sweep",
    oracle=_minhash_sig_sql() + """
    , banded AS (
      SELECT doc_id, bnd,
             md5(array_to_string(sig[CAST(bnd*4+1 AS INT):CAST(bnd*4+4 AS INT)], ',')) AS key
      FROM sig, range(0, 4) r(bnd)
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
      FROM banded a JOIN banded b2
        ON a.bnd = b2.bnd AND a.key = b2.key AND a.doc_id < b2.doc_id
    ), est AS (
      SELECT p.id_a, p.id_b,
             round(len([i for i in range(1, 17)
                        if sa.sig[CAST(i AS INT)] = sb.sig[CAST(i AS INT)]]) / 16.0, 4) AS jaccard_est
      FROM pairs p
      JOIN sig sa ON sa.doc_id = p.id_a
      JOIN sig sb ON sb.doc_id = p.id_b
    ), ths AS (
      SELECT CAST(unnest([0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS DOUBLE)
             AS threshold
    )
    SELECT t.threshold, COUNT(e.id_b) AS n_pairs,
           COUNT(DISTINCT e.id_b) AS n_docs_dropped,
           round(COUNT(DISTINCT e.id_b) / (SELECT COUNT(*) FROM documents), 4)
           AS drop_rate
    FROM ths t LEFT JOIN est e ON e.jaccard_est >= t.threshold
    GROUP BY 1
    """,
    survey_ref="north-star:dedup-threshold-sweep",
)
def x_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup threshold tuning report (operators/dedup.py:
    threshold_sweep): per candidate Jaccard cutoff, qualifying
    candidate-pair count, documents the pairwise keep-smallest rule
    would drop, and the drop rate — computed from ONE pass over the
    collision-bounded estimates frame for all thresholds (sweeping
    exact cluster counts would re-run connected components per
    threshold; the operator docstring records where the pairwise rule
    can differ). Same _materialize boundaries as x_dedup_minhash_lsh:
    sigs feed candidate generation and both estimate joins."""
    d = testdata.load(spark, sf_dir, "documents")
    from .queries import _materialize

    sigs = _materialize(dedup.minhash_signatures(d, num_hashes=16))
    pairs = _materialize(dedup.lsh_candidate_pairs(sigs, bands=4))
    est = dedup.minhash_jaccard_estimate(sigs, pairs)
    return dedup.threshold_sweep(est, d)


@query(
    "x_line_dedup",
    oracle="""
    WITH l AS (
      SELECT doc_id,
             unnest(string_split(text, chr(10))) AS line,
             generate_subscripts(string_split(text, chr(10)), 1) AS ord
      FROM documents
    ), firsts AS (
      SELECT doc_id, line, MIN(ord) AS ord FROM l GROUP BY 1, 2
    ), n AS (
      SELECT doc_id, len(string_split(text, chr(10))) AS n_lines
      FROM documents
    )
    SELECT f.doc_id, CAST(MAX(n.n_lines) AS BIGINT) AS n_lines,
           CAST(COUNT(*) AS BIGINT) AS kept_lines,
           string_agg(f.line, chr(10) ORDER BY f.ord) AS deduped_text
    FROM firsts f JOIN n USING (doc_id)
    GROUP BY f.doc_id
    """,
    survey_ref="north-star:line-dedup-within-doc",
)
def x_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document duplicate-line removal (operators/dedup.py:
    line_dedup_within_doc — the C4/Dolma boilerplate-line step): a
    pure per-row projection, NO shuffle (array_distinct preserves
    first-occurrence order), so it composes into any scan for free —
    the scale contrast with the corpus-wide paragraph/chunk dedup
    whose keeper decisions necessarily shuffle fingerprints."""
    d = testdata.load(spark, sf_dir, "documents")
    return dedup.line_dedup_within_doc(d)


@query(
    "x_embed_dim_stats",
    oracle="""
    WITH e AS (
      SELECT unnest(embedding) AS v,
             CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim
      FROM embeddings WHERE embedding IS NOT NULL
    )
    SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
           -- `+ 0` = house signed-zero normalization (SURVEY §5):
           -- per-dim means hover near 0, the exact (-5e-5, 0) hazard
           round(avg(CAST(v AS DOUBLE)), 4) + 0 AS mean,
           round(stddev_samp(CAST(v AS DOUBLE)), 4) AS std,
           round(CAST(min(v) AS DOUBLE), 4) AS vmin,
           round(CAST(max(v) AS DOUBLE), 4) AS vmax
    FROM e GROUP BY 1
    """,
    survey_ref="north-star:embed-dim-stats",
)
def x_embed_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding statistics (operators/similarity.py:
    embedding_dim_stats) — normalization precursor; map-side-combined
    aggs over the posexploded vectors, dim-scale output."""
    d = testdata.load(spark, sf_dir, "embeddings")
    return similarity.embedding_dim_stats(d)


@query(
    "x_winnow_fingerprints",
    # Whitespace seam: DuckDB's RE2 \s does not match \x0b (vertical
    # tab), while Java's \s and the kernel (operators/text.py) do, so
    # this oracle diverges from the lane on any text containing \x0b.
    # The testdata corpus has none; the kernel's Java semantics are
    # pinned by tests/test_extensions.py::test_winnow_vertical_tab_seam.
    oracle="""
    WITH base AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
      FROM documents
    ), c AS (
      SELECT doc_id, norm, length(norm) AS n FROM base
    ), h AS (
      SELECT doc_id, n,
        CASE WHEN n >= 4 THEN
          list_transform(range(1, n - 4 + 2), i ->
            list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(range(i, i + 4),
                p -> CAST(ascii(substr(norm, CAST(p AS INT), 1)) AS BIGINT))),
              (a, b) -> (a * 131 + b) % 1000000007))
        ELSE CAST([] AS BIGINT[]) END AS hs
      FROM c
    ), s AS (
      SELECT doc_id, n, len(hs) AS m,
        CASE WHEN len(hs) >= 1 THEN
          list_sort(list_distinct(list_transform(
            range(1, greatest(len(hs) - 3 + 1, 1) + 1), j ->
              CAST(j + (len(list_slice(hs, j, j + 2)) -
                    list_position(list_reverse(list_slice(hs, j, j + 2)),
                                  list_min(list_slice(hs, j, j + 2))) + 1)
                   - 1 AS BIGINT) * 1000000007
              + list_min(list_slice(hs, j, j + 2)))))
        ELSE CAST([] AS BIGINT[]) END AS codes
      FROM h
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_chars,
           CAST(m AS BIGINT) AS n_kgrams,
           CAST(len(codes) AS BIGINT) AS n_fps,
           coalesce(list_aggregate(list_transform(codes, cd ->
             concat(CAST(cd // 1000000007 AS VARCHAR), ':',
                    CAST(cd % 1000000007 AS VARCHAR))),
             'string_agg', ','), '') AS fps
    FROM s
    """,
    survey_ref="north-star:winnowing-fingerprints",
)
def x_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (operators/text.py:
    winnow_fingerprints — Schleimer/Wilkerson/Aiken SIGMOD'03, the MOSS
    algorithm): k-gram polynomial hashes, rightmost-min of each
    w-window, encoded as pos*MOD+hash so both engines dedupe/sort the
    selections identically. A shuffle-free Arrow-batched projection
    (plan-pinned); the guarantee (any shared substring >= w+k-1 chars
    shares a fingerprint, density 2/(w+1)) is what makes doc-overlap
    detection at 100 TB a bounded posting-list equi-join instead of a
    text comparison."""
    d = testdata.load(spark, sf_dir, "documents")
    return text.winnow_fingerprints(d, k=4, w=3)


#: deterministic plagiarism corpus shared by the winnow-overlap lane
#: and its oracle: 50 docs x 12 md5-hex "sentences"; docs g in
#: {7,17,27,37,47} copy sentences 3..6 from doc g-5, so exactly five
#: pairs share a ~131-char contiguous span and nothing else collides
#: at k=8 (hex 8-grams). The testdata corpus cannot exercise this
#: operator honestly — its ~30-word vocabulary makes every doc pair
#: share substrings, so raw overlap is near-cartesian by construction
#: (124,731 of 124,750 possible pairs at sf0.01); real corpora are
#: fingerprint-sparse, which this fixture models. Both twins derive
#: from the same (gid, j, src) spec; a parity test pins byte-equality.
_DPLAG = """
  SELECT gid, string_agg(md5(concat('sent-', CAST(src AS VARCHAR), '-',
                                    CAST(j AS VARCHAR))), ' ' ORDER BY j) AS text
  FROM (
    SELECT t.gid, r.j,
           CASE WHEN t.gid % 10 = 7 AND r.j BETWEEN 3 AND 6
                THEN t.gid - 5 ELSE t.gid END AS src
    FROM range(50) t(gid), range(12) r(j)
  ) GROUP BY gid
"""


def _synth_plagiarism_docs(spark: SparkSession) -> DataFrame:
    base = spark.range(50).select(F.col("id").alias("gid"))

    def sent(j):
        src = F.when(
            (F.col("gid") % 10 == 7) & (j >= 3) & (j <= 6),
            F.col("gid") - 5,
        ).otherwise(F.col("gid"))
        return F.md5(
            F.concat(
                F.lit("sent-"), src.cast("string"),
                F.lit("-"), j.cast("string"),
            )
        )

    return base.select(
        "gid",
        F.array_join(
            F.transform(F.sequence(F.lit(0), F.lit(11)), sent), " "
        ).alias("text"),
    )


def _winnow_overlap_oracle(source: str, min_shared: int = 3,
                           max_df: int | None = None) -> str:
    """DuckDB replay of text.winnow_overlap_pairs at k=8, w=4 over
    ``source``, a query yielding ``(gid, text)``; ``max_df`` drops
    hash values present in more than that many docs before pairing."""
    keep = "" if max_df is None else (
        "\n      WHERE hval IN (SELECT hval FROM e0 GROUP BY hval"
        f" HAVING COUNT(*) <= {max_df})"
    )
    return f"""
    WITH synth AS ({source}
    ), base AS (
      SELECT gid, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
      FROM synth
    ), c AS (
      SELECT gid, norm, length(norm) AS n FROM base
    ), h AS (
      SELECT gid, n,
        CASE WHEN n >= 8 THEN
          list_transform(range(1, n - 8 + 2), i ->
            list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(range(i, i + 8),
                p -> CAST(ascii(substr(norm, CAST(p AS INT), 1)) AS BIGINT))),
              (a, b) -> (a * 131 + b) % 1000000007))
        ELSE CAST([] AS BIGINT[]) END AS hs
      FROM c
    ), s AS (
      SELECT gid, CASE WHEN len(hs) >= 1 THEN
          list_distinct(list_transform(
            list_transform(range(1, greatest(len(hs) - 4 + 1, 1) + 1), j ->
              CAST(j + (len(list_slice(hs, j, j + 3)) -
                    list_position(list_reverse(list_slice(hs, j, j + 3)),
                                  list_min(list_slice(hs, j, j + 3))) + 1)
                   - 1 AS BIGINT) * 1000000007
              + list_min(list_slice(hs, j, j + 3))),
            cd -> cd % 1000000007))
        ELSE CAST([] AS BIGINT[]) END AS hv
      FROM h
    ), e0 AS (
      SELECT gid, len(hv) AS n_fp, unnest(hv) AS hval FROM s
    ), e AS (
      SELECT * FROM e0{keep}
    )
    SELECT a.gid AS id_a, b.gid AS id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared,
           round(CAST(COUNT(*) AS DOUBLE) /
                 least(MAX(a.n_fp), MAX(b.n_fp)), 4) AS containment
    FROM e a JOIN e b ON a.hval = b.hval AND a.gid < b.gid
    GROUP BY 1, 2
    HAVING COUNT(*) >= {min_shared}
    """


@query(
    "x_winnow_overlap",
    oracle=_winnow_overlap_oracle(_DPLAG),
    survey_ref="north-star:winnow-overlap",
)
def x_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing overlap report (operators/text.py:winnow_overlap_pairs
    — the MOSS comparison step) over the deterministic plagiarism
    fixture: fingerprint projection -> (hash -> doc) posting list ->
    hash equi-join -> shared-count/containment scoring. Exactly the
    five planted copied-span pairs qualify; the hex sentences leave
    zero incidental 8-gram collisions, modeling the fingerprint
    sparsity real corpora have and the testdata word-salad lacks."""
    return text.winnow_overlap_pairs(
        _synth_plagiarism_docs(spark), id_col="gid",
        k=8, w=4, min_shared=3,
    )


#: Lane-sized filter: 1,024 bits / k=3 over ~330 history keys loads the
#: filter to ~1 bit/key so FALSE POSITIVES actually occur (~20% rate)
#: and the n_false_pos column is a live, exactly-replayed count rather
#: than a structural zero; the operator DEFAULTS (m=2^18) are the
#: production sizing. Probing the full corpus (history docs included)
#: makes n_false_neg=0 a live no-false-negative assertion, not vacuous.
_BLOOM_M = 1 << 10
_BLOOM_K = 3


def _dbloom_hash(salt: str, key: str) -> str:
    """DuckDB twin of dedup._bloom_positions' base hash, reduced mod m."""
    return (
        f"CAST(concat('0x', substr(md5('{salt}' || {key}), 1, 15)) AS BIGINT)"
        f" % {_BLOOM_M}"
    )


@query(
    "x_bloom_cross_run_probe",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, source,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents
    ), hist AS (
      SELECT DISTINCT fp FROM fp WHERE doc_id % 3 < 2
    ), hpos AS (
      SELECT ({_dbloom_hash('b1:', 'fp')}
              + i * (2 * ({_dbloom_hash('b2:', 'fp')}) + 1)) % {_BLOOM_M}
             AS pos
      FROM hist, range(0, {_BLOOM_K}) r(i)
    ), blocks AS (
      SELECT CAST(pos // 32 AS INT) AS block,
             bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
      FROM hpos GROUP BY 1
    ), bpos AS (
      SELECT doc_id, source, fp,
             ({_dbloom_hash('b1:', 'fp')}
              + i * (2 * ({_dbloom_hash('b2:', 'fp')}) + 1)) % {_BLOOM_M}
             AS pos
      FROM fp, range(0, {_BLOOM_K}) r(i)
    ), probe AS (
      SELECT doc_id, source, fp,
             bool_and(coalesce(
               (b.bits & (CAST(1 AS BIGINT) << CAST(pos % 32 AS INT))) != 0,
               FALSE)) AS maybe
      FROM bpos LEFT JOIN blocks b ON b.block = CAST(pos // 32 AS INT)
      GROUP BY 1, 2, 3
    ), truth AS (
      -- EXISTS, not IN: a NULL fp in hist would make `fp IN (...)`
      -- NULL for every non-member (SQL three-valued IN), silently
      -- zeroing n_false_pos while Spark's non-null-safe join counts
      -- them. EXISTS matches Spark's equi-join semantics exactly.
      SELECT source, maybe,
             EXISTS (SELECT 1 FROM hist h WHERE h.fp = probe.fp)
               AS is_member
      FROM probe
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_probed,
           CAST(SUM(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged,
           CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT)
             AS n_true_members,
           CAST(SUM(CASE WHEN maybe AND NOT is_member THEN 1 ELSE 0 END)
             AS BIGINT) AS n_false_pos,
           CAST(SUM(CASE WHEN is_member AND NOT maybe THEN 1 ELSE 0 END)
             AS BIGINT) AS n_false_neg
    FROM truth GROUP BY source
    """,
    survey_ref="north-star:bloom-seen-set",
)
def x_bloom_cross_run_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-RUN Bloom-filter seen-set (operators/dedup.py:
    bloom_shard_blocks / bloom_merge / bloom_probe): run A builds the
    filter over its content fingerprints and PERSISTS the 8,192-row
    block table to parquet; run B — a fresh read, no access to run A's
    keys — bit_or-merges its own blocks in; an incoming third batch
    probes the merged filter to decide what is definitely-new. The
    WHOLE corpus is probed — history docs must come back flagged, so
    n_false_neg=0 is a live Bloom-guarantee assertion over ~330 true
    members, and the lane filter is deliberately small (module
    constant) so n_false_pos is a real nonzero count. Both are hash
    gates, not envelopes: the oracle replays the identical double-hash
    bit math.

    At 100 TB this replaces the exact-history anti-join for
    skip-already-ingested checks: ~10 bits per expected key (a ~25x
    compression of the fingerprint history, sized up front for the
    target FPR — see bloom_shard_blocks' honest scale accounting), a
    broadcast join-free probe while m stays low-gigabytes, and
    merge-by-bit_or across ingest runs forever."""
    d = testdata.load(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id", "source", text.content_fingerprint("text").alias("fp")
    )
    run_a = keyed.filter(F.col("doc_id") % 3 == 0)
    run_b = keyed.filter(F.col("doc_id") % 3 == 1)

    tmp = lane_tmpdir("bloom_runs_")
    blocks_a = dedup.bloom_shard_blocks(run_a, "fp", m_bits=_BLOOM_M, k=_BLOOM_K)
    blocks_a.write.mode("overwrite").parquet(f"{tmp}/run_a_blocks")

    persisted = spark.read.schema(blocks_a.schema).parquet(f"{tmp}/run_a_blocks")
    # bloom_probe bit_or-merges the cross-run union internally — no
    # caller-side bloom_merge needed (it would just run the same
    # O(m/32) aggregation twice)
    blocks = persisted.unionByName(
        dedup.bloom_shard_blocks(run_b, "fp", m_bits=_BLOOM_M,
                                 k=_BLOOM_K)
    )
    probed = dedup.bloom_probe(keyed, blocks, "fp", m_bits=_BLOOM_M,
                               k=_BLOOM_K)
    hist = (
        run_a.select("fp").unionByName(run_b.select("fp")).distinct()
        .withColumn("is_member", F.lit(True))
    )
    per_doc = (
        probed.join(keyed.select("doc_id", "source"), "doc_id")
        .join(F.broadcast(hist), "fp", "left")
        .withColumn("is_member", F.coalesce("is_member", F.lit(False)))
    )
    return per_doc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_probed"),
        F.sum(F.col("maybe_member").cast("long")).cast("long")
        .alias("n_flagged"),
        F.sum(F.col("is_member").cast("long")).cast("long")
        .alias("n_true_members"),
        F.sum((F.col("maybe_member") & ~F.col("is_member")).cast("long"))
        .cast("long").alias("n_false_pos"),
        F.sum((F.col("is_member") & ~F.col("maybe_member")).cast("long"))
        .cast("long").alias("n_false_neg"),
    )


#: Lane-sized CMS: the testdata vocabulary is ~31 tokens, so width=16
#: forces real bucket collisions and the overestimate path (cms_est >
#: exact_cnt on collided tokens) is live instead of structurally equal;
#: the operator DEFAULT (width=1024) is the production sizing.
_CMS_D = 4
_CMS_W = 16


def _dcms_bucket(r_expr: str, key: str) -> str:
    """DuckDB twin of text._cms_bucket."""
    return (
        f"CAST(concat('0x', substr(md5('cms' || CAST({r_expr} AS VARCHAR)"
        f" || ':' || {key}), 1, 15)) AS BIGINT) % {_CMS_W}"
    )


@query(
    "x_cms_heavy_hitters",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DTOKS}) AS tok FROM documents
    ), cms AS (
      SELECT i AS r, {_dcms_bucket('i', 'tok')} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM toks, range(0, {_CMS_D}) r(i)
      GROUP BY 1, 2
    ), exact AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_cnt FROM toks
      GROUP BY 1 ORDER BY exact_cnt DESC, tok LIMIT 20
    ), lk AS (
      SELECT e.tok, e.exact_cnt, i AS r,
             {_dcms_bucket('i', 'e.tok')} AS bucket
      FROM exact e, range(0, {_CMS_D}) r(i)
    )
    SELECT l.tok, l.exact_cnt,
           CAST(MIN(coalesce(c.cnt, 0)) AS BIGINT) AS cms_est
    FROM lk l LEFT JOIN cms c ON c.r = l.r AND c.bucket = l.bucket
    GROUP BY 1, 2
    """,
    survey_ref="north-star:cms-heavy-hitters",
)
def x_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter token frequencies from CROSS-RUN-mergeable
    count-min state (operators/text.py: token_cms_shard_sketches →
    cms_merge → cms_lookup): run A sketches the even-doc half and
    PERSISTS the (shard, r, bucket, cnt) counters to parquet; run B
    reads them back, adds its own, and answers the exact top-20
    candidates' frequencies from the merged sketch. The lane emits
    (token, exact count, CMS estimate) — a hash gate, because the
    oracle replays the identical salted-md5 bucket math; the
    deliberately narrow lane width makes cms_est > exact_cnt actually
    occur (tests pin est >= exact, the one-sided CMS guarantee).

    At 100 TB: frequency answers for ANY later candidate set at
    O(depth*width) state per run, merged by counter addition forever —
    the frequency twin of the HLL distinct-count lane."""
    d = testdata.load(spark, sf_dir, "documents")
    toks = d.select(F.explode(text.tokens("text")).alias("tok"))
    exact = (
        toks.groupBy("tok")
        .agg(F.count("*").cast("long").alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.asc("tok"))
        .limit(20)
    )

    tmp = lane_tmpdir("cms_runs_")
    shard = (F.col("doc_id") % 4).cast("long")
    cms_a = text.token_cms_shard_sketches(
        d.filter(F.col("doc_id") % 2 == 0), shard,
        depth=_CMS_D, width=_CMS_W,
    )
    cms_a.write.mode("overwrite").parquet(f"{tmp}/run_a_cms")

    merged = text.cms_merge(
        spark.read.schema(cms_a.schema).parquet(f"{tmp}/run_a_cms").unionByName(
            text.token_cms_shard_sketches(
                d.filter(F.col("doc_id") % 2 == 1), shard,
                depth=_CMS_D, width=_CMS_W,
            )
        )
    )
    return text.cms_lookup(merged, exact, token_col="tok",
                           depth=_CMS_D, width=_CMS_W)


@query(
    "x_token_pmi",
    oracle=f"""
    WITH toks AS (
      SELECT {_DTOKS} AS t FROM documents
    ), unig AS (
      SELECT unnest(t) AS tok FROM toks
    ), pairs AS (
      SELECT split_part(bg, ' ', 1) AS x, split_part(bg, ' ', 2) AS y
      FROM (
        SELECT unnest([concat_ws(' ', t[CAST(i AS INT)],
                                 t[CAST(i AS INT) + 1])
                       for i in range(1, len(t))]) AS bg
        FROM toks WHERE len(t) >= 2
      )
    ), uc AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM unig GROUP BY 1
    ), bc AS (
      SELECT x, y, CAST(COUNT(*) AS BIGINT) AS c_xy FROM pairs
      GROUP BY 1, 2 HAVING COUNT(*) >= 5
    )
    SELECT b.x, b.y, b.c_xy,
           -- `+ 0` normalizes signed zero: DuckDB round() emits -0.0
           -- for values in (-0.00005, 0) while Spark's BigDecimal
           -- round emits +0.0 (IEEE: -0.0 + 0 = +0.0). r07 fail fix.
           round(ln((CAST(b.c_xy AS DOUBLE)
                     * (SELECT COUNT(*) FROM unig)
                     * (SELECT COUNT(*) FROM unig))
                    / (CAST((SELECT COUNT(*) FROM pairs) AS DOUBLE)
                       * ux.c * uy.c)), 4) + 0 AS pmi
    FROM bc b
    JOIN uc ux ON ux.tok = b.x
    JOIN uc uy ON uy.tok = b.y
    """,
    survey_ref="north-star:collocation-pmi",
)
def x_token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram collocation PMI table (operators/text.py:
    collocation_pmi): every adjacent-token pair with count >= 5 and
    its pointwise mutual information. The emitted set is
    count-thresholded, never float-ranked, so the lane is a hash gate
    (PMI's double input is exact integer math on both engines; only
    the final ln can differ, below the 4 dp rounding). Rounding does
    NOT close the sign-of-zero channel: DuckDB round() keeps -0.0
    where Spark's BigDecimal round emits +0.0, so the oracle adds
    `+ 0` to normalize (r07 hash-fail root cause, 1 row at sf0.01)."""
    d = testdata.load(spark, sf_dir, "documents")
    return text.collocation_pmi(d, min_count=5)


_DCOV_SQL = """
    WITH e AS (
      SELECT embedding AS v FROM embeddings WHERE embedding IS NOT NULL
    ), p AS (
      SELECT u.s.i AS i, u.s.j AS j, u.s.p AS p, u.s.vi AS vi,
             u.s.vj AS vj
      FROM (
        SELECT unnest(flatten([[{
                 'i': CAST(i AS BIGINT), 'j': CAST(j AS BIGINT),
                 'p': CAST(v[CAST(i AS INT)+1] AS DOUBLE)
                      * CAST(v[CAST(j AS INT)+1] AS DOUBLE),
                 'vi': CAST(v[CAST(i AS INT)+1] AS DOUBLE),
                 'vj': CAST(v[CAST(j AS INT)+1] AS DOUBLE)}
                for j in range(i, len(v))] for i in range(0, len(v))]))
               AS s
        FROM e) u
    )
    SELECT i, j, CAST(COUNT(*) AS BIGINT) AS n,
           -- `+ 0` normalizes signed zero: DuckDB round() emits -0.0
           -- for cells in (-0.00005, 0) (64 cells at sf0.01) while
           -- Spark's BigDecimal round emits +0.0. r07 fail fix.
           round(SUM(p)/COUNT(*)
                 - (SUM(vi)/COUNT(*)) * (SUM(vj)/COUNT(*)), 4) + 0 AS cov
    FROM p GROUP BY 1, 2
"""


# x_embed_covariance_prod: the former Gram-matrix arm, now the lane itself
@query("x_embed_covariance_prod", oracle=_DCOV_SQL,
       survey_ref="north-star:embedding-covariance")
@query("x_embed_covariance", oracle=_DCOV_SQL,
       survey_ref="north-star:embedding-covariance")
def x_embed_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle embedding covariance matrix
    (operators/similarity.py:embedding_covariance) — the PCA/whitening
    precursor, one Gram matrix per Arrow batch. The 4 dp rounding
    absorbs summation-order ulps in MAGNITUDE; the sign-of-zero channel
    is closed by the oracle's `+ 0` — DuckDB round() emits -0.0 where
    Spark's BigDecimal round emits +0.0 (r07 hash-fail root cause)."""
    emb = testdata.load(spark, sf_dir, "embeddings")
    return similarity.embedding_covariance(emb)


@query(
    "x_snapshot_diff",
    oracle="""
    WITH fp AS (
      SELECT doc_id, source,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents
    ), o AS (
      SELECT DISTINCT source, fp FROM fp WHERE doc_id % 4 < 3
    ), n AS (
      SELECT DISTINCT source, fp FROM fp WHERE doc_id % 4 > 0
    ), j AS (
      SELECT coalesce(o.source, n.source) AS source,
             (o.fp IS NOT NULL) AS in_old, (n.fp IS NOT NULL) AS in_new
      FROM o FULL OUTER JOIN n ON o.source = n.source AND o.fp = n.fp
    )
    SELECT source,
           CAST(SUM(CASE WHEN in_old THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
           CAST(SUM(CASE WHEN in_new THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
           CAST(SUM(CASE WHEN in_new AND NOT in_old THEN 1 ELSE 0 END)
             AS BIGINT) AS n_added,
           CAST(SUM(CASE WHEN in_old AND NOT in_new THEN 1 ELSE 0 END)
             AS BIGINT) AS n_removed,
           CAST(SUM(CASE WHEN in_old AND in_new THEN 1 ELSE 0 END)
             AS BIGINT) AS n_kept
    FROM j GROUP BY source
    """,
    survey_ref="north-star:snapshot-diff",
)
def x_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-over-crawl content diff (operators/curation.py:
    snapshot_diff): old = doc_id%4 in {0,1,2}, new = doc_id%4 in
    {1,2,3} — a 3/4-overlap pair of snapshots, so added/removed/kept
    are all live counts. Distinct-fingerprint sets diff in one
    full-outer id-scale join; text never shuffles."""
    from ..operators import curation

    d = testdata.load(spark, sf_dir, "documents")
    return curation.snapshot_diff(
        d.filter(F.col("doc_id") % 4 < 3),
        d.filter(F.col("doc_id") % 4 > 0),
    )


@query(
    "x_doc_truncate",
    oracle="""
    WITH c AS (
      SELECT doc_id, text,
             regexp_replace(
               CASE WHEN regexp_matches(substr(text, 201, 1), '\\S')
                    THEN regexp_replace(substr(text, 1, 200), '\\S*\\z', '')
                    ELSE substr(text, 1, 200) END,
               '\\s+\\z', '')
             AS cut
      FROM documents
    ), o AS (
      SELECT doc_id, text,
             CASE WHEN length(text) <= 200 THEN text ELSE cut END AS out,
             length(text) > 200 AS was_truncated
      FROM c
    )
    SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_in,
           CAST(length(out) AS BIGINT) AS n_chars_out,
           was_truncated, md5(out) AS fp_out
    FROM o
    """,
    survey_ref="north-star:doc-truncate",
)
def x_doc_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-budget truncation at a whitespace boundary
    (operators/chunking.py:truncate_chars, budget=200 — the sf0.01
    median doc is ~290 chars so both branches are live). The trailing
    run drops only on a mid-token cut — a token ending exactly at the
    budget survives. Output text is compared by md5 fingerprint; the
    regex tail-drop resolves to the same single match under Spark's
    replace-all and DuckDB's replace-first."""
    d = testdata.load(spark, sf_dir, "documents")
    return chunking.truncate_chars(d, budget=200)


@query(
    "x_classifier_calibration",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_DTOKS}) AS token FROM documents
    ), w AS (
      SELECT doc_id,
             ((CAST(concat('0x', substr(md5(token), 1, 8)) AS BIGINT) % 1024)
              * 2654435761 % 1000003) / 1000003.0 * 2 - 1 AS w
      FROM tok
    ), scored AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             round(1.0 / (1.0 + exp(-(AVG(w) + 0.0))), 4) AS score
      FROM w GROUP BY 1
    )
    SELECT CAST(least(floor(score * 10), 9) AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           round(SUM(n_tokens) / COUNT(*), 4) AS mean_tokens,
           MIN(score) AS min_score, MAX(score) AS max_score
    FROM scored GROUP BY 1
    """,
    survey_ref="north-star:classifier-calibration",
)
def x_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score-decile calibration report over the hashed classifier
    (operators/text.py:classifier_calibration) — doc counts, mean
    token count, and observed score range per bin; the table a
    threshold choice is read off. Reuses the classifier's oracle
    CTE verbatim, so the gate isolates the binning."""
    d = testdata.load(spark, sf_dir, "documents")
    return text.classifier_calibration(d, buckets=1024, n_bins=10)


@query(
    "x_langid_confusion",
    oracle=f"""
    WITH base AS (SELECT doc_id, lang, {_DTOKS} AS t FROM documents),
    hits AS (
      SELECT doc_id, lang,
        len(list_filter(t, x -> list_contains(['der','die','das','und','ist','ein','eine','zu','den','von'], x))) AS n_de,
        len(list_filter(t, x -> list_contains(['the','a','of','and','to','in','is','it','that','for'], x))) AS n_en,
        len(list_filter(t, x -> list_contains(['el','la','de','y','es','un','una','que','en','los'], x))) AS n_es,
        len(list_filter(t, x -> list_contains(['le','la','de','et','est','un','une','que','les','des'], x))) AS n_fr
      FROM base
    ), pred AS (
      SELECT lang,
        CASE WHEN greatest(n_de, n_en, n_es, n_fr) = 0 THEN 'und'
             WHEN n_de = greatest(n_de, n_en, n_es, n_fr) THEN 'de'
             WHEN n_en = greatest(n_de, n_en, n_es, n_fr) THEN 'en'
             WHEN n_es = greatest(n_de, n_en, n_es, n_fr) THEN 'es'
             ELSE 'fr' END AS lang_pred
      FROM hits
    ), m AS (
      SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM pred GROUP BY 1, 2
    )
    SELECT lang, lang_pred, n_docs,
           round(n_docs / (SUM(n_docs) OVER (PARTITION BY lang)), 4)
           AS rate
    FROM m
    """,
    survey_ref="north-star:langid-confusion",
)
def x_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix against the labeled lang column
    (operators/text.py:langid_confusion) — per (true, predicted) pair,
    count and per-true-language rate. The accuracy artifact deciding
    whether the stopword heuristic suffices per language."""
    d = testdata.load(spark, sf_dir, "documents")
    return text.langid_confusion(d)


@query(
    "x_stream_corpus_profile",
    oracle=f"""
    WITH b AS (
      SELECT source,
             CASE WHEN length(text) < 1 THEN -1
                  ELSE CAST(FLOOR(LN(CAST(length(text) AS DOUBLE))
                       / LN(1.1)) AS INT) END AS bucket
      FROM documents WHERE text IS NOT NULL
    ), m AS (
      SELECT source, bucket, COUNT(*) AS cnt FROM b GROUP BY 1, 2
    ), c AS (
      SELECT source, bucket, cnt,
             SUM(cnt) OVER (PARTITION BY source ORDER BY bucket) AS cum,
             SUM(cnt) OVER (PARTITION BY source) AS total
      FROM m
    )
    SELECT source, CAST(MAX(total) AS BIGINT) AS n_values,
           {", ".join(_hist_q_sql(q) for q in (0.25, 0.5, 0.75, 0.9, 0.99))},
           TRUE AS est_ok
    FROM c GROUP BY source
    """,
    survey_ref="north-star:stream-corpus-profile",
)
def x_stream_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING-maintained corpus profile (streaming/profile.py:
    profile_batch_fn -> corpus_profile): three deterministic
    micro-batches each append their own fixed-size sketch state (HLL
    token sketches + log-bucketed length histograms, shard = batch
    id); the lane then reads the profile purely from the persisted
    state tables. The histogram side is a hash gate (the oracle
    replays the bucket math over the whole corpus — merging is exact
    and shard-invariant); the HLL side is graded through its error
    envelope boolean, the x_hll_cross_run_merge pattern. This is the
    lane that proves the CONTINUOUS ingest keeps the same state the
    batch sketch operators persist."""
    from pyspark.sql import types as T

    from ..sources.catalog import Table
    from ..streaming.profile import corpus_profile, profile_batch_fn

    d = testdata.load(spark, sf_dir, "documents")
    tmp = lane_tmpdir("stream_profile_")
    hll = Table(spark, f"{tmp}/hll", T.StructType([
        T.StructField("source", T.StringType()),
        T.StructField("shard", T.LongType()),
        T.StructField("sketch", T.BinaryType()),
    ]))
    hist = Table(spark, f"{tmp}/hist", T.StructType([
        T.StructField("source", T.StringType()),
        T.StructField("shard", T.LongType()),
        T.StructField("bucket", T.IntegerType()),
        T.StructField("cnt", T.LongType()),
        T.StructField("gamma", T.DoubleType()),
    ]))
    fn = profile_batch_fn(hll, hist)
    for i in range(3):
        fn(d.filter(F.col("doc_id") % 3 == i), i)

    prof = corpus_profile(hll, hist)
    exact = (
        d.select("source", F.explode(text.tokens("text")).alias("tok"))
        .groupBy("source")
        .agg(F.countDistinct("tok").cast("long").alias("_exact"))
    )
    # lgConfigK=14 -> rse ~0.81%; same 5x envelope as the HLL lanes
    return prof.join(F.broadcast(exact), "source").select(
        "source", "n_values",
        *[F.round(F.col(c), 4).alias(c)
          for c in ("p25", "p50", "p75", "p90", "p99")],
        (
            F.abs(F.col("est_tokens") - F.col("_exact"))
            / F.greatest(F.col("_exact"), F.lit(1))
            <= 0.0406
        ).alias("est_ok"),
    )


@query(
    "x_cross_source_dups",
    oracle="""
    WITH corpus AS (
      SELECT source, text FROM documents
      UNION ALL
      SELECT 'mirror' AS source, text FROM documents WHERE doc_id % 7 = 0
    ), fps AS (
      SELECT DISTINCT source,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM corpus
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM fps a JOIN fps b ON a.fp = b.fp AND a.source < b.source
    GROUP BY 1, 2
    """,
    survey_ref="north-star:cross-source-dups",
)
def x_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix (operators/dedup.py:
    cross_source_dup_matrix) — shared distinct contents per source
    pair, the feed-mirroring provenance report. The testdata corpus
    has ZERO cross-source duplicates (every document is unique), which
    would make the lane structurally empty; instead the lane plants
    the real-world shape the report exists to catch — a 'mirror'
    source re-hosting every 7th document (7 is coprime with the
    source assignment's modulus, so every source pairs with the
    mirror) — so each (mirror, src*) cell
    is a live nonzero count. Distinct-fingerprint reduction first, fp
    equi-join bounded by sources-choose-2 per fingerprint."""
    d = testdata.load(spark, sf_dir, "documents")
    corpus = d.select("source", "text").unionByName(
        d.filter(F.col("doc_id") % 7 == 0)
        .select(F.lit("mirror").alias("source"), "text")
    )
    return dedup.cross_source_dup_matrix(corpus)


@query(
    "x_compression_ratio",
    oracle=None,  # zlib is not exposed by any SQL engine — rows-only;
    # the determinism pin (test_oracle_parity) and the hand-computed
    # unit fixtures (test_extensions) are the gates
    survey_ref="north-star:compression-ratio",
)
def x_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document zlib compression ratio (operators/text.py:
    compression_signals) — the redundancy quality signal (boilerplate
    compresses low, high-entropy garbage near 1.0). Arrow-batched
    pandas UDF driving C-speed zlib; DEFLATE level pinned for
    determinism."""
    d = testdata.load(spark, sf_dir, "documents")
    return text.compression_signals(d)


@query(
    "x_dsir_resample",
    oracle=f"""
    WITH scored AS ({_REGISTRY["x_dsir_importance"].oracle}),
    keyed AS (
      SELECT doc_id, n_tokens, importance,
             -- `+ 0` = house signed-zero normalization (SURVEY §5)
             round(importance + (-ln(-ln(
               (CAST(concat('0x', substr(md5('g:' ||
                  CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1.0)
               / 1152921504606846977.0
             ))), 6) + 0 AS gumbel_key
      FROM scored
    )
    SELECT doc_id, n_tokens, importance, gumbel_key
    FROM keyed ORDER BY gumbel_key DESC, doc_id LIMIT 50
    """,
    survey_ref="north-star:dsir-resample",
)
def x_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR SELECTION step (operators/sampling.py:
    gumbel_topk_resample): 50 documents drawn without replacement with
    probability proportional to exp(importance) via the deterministic
    Gumbel-top-k trick over dsir_importance's weights. Completes the
    DSIR story: x_dsir_importance scores, this lane actually draws the
    training subset — reproducibly, so the oracle replays the exact
    selection (6 dp key rounding + id tiebreak make the cut
    ulp-stable)."""
    d = testdata.load(spark, sf_dir, "documents")
    target = d.filter(F.col("doc_id") % 10 == 0)
    return sampling.gumbel_topk_resample(
        text.dsir_importance(d, target), k=50
    )


@query(
    "x_embed_pca_project",
    oracle=None,  # orthogonal power iteration is a driver-side
    # iterative algorithm — not SQL-expressible; gated by the
    # determinism pin plus unit tests against numpy's eigh
    # (tests/test_extensions.py)
    survey_ref="north-star:embedding-pca",
)
def x_embed_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA dimensionality reduction end to end
    (operators/similarity.py: embedding_covariance ->
    pca_components -> project_embeddings): the corpus-scale pass is
    the covariance build (one Gram matrix per Arrow batch); the eigensolve is
    model-scale driver math (64x64, fixed basis starts + pinned
    iteration count -> deterministic); the projection is a per-row
    broadcast-literal dot-product projection, no shuffle. Output
    serializes the k=4 projection array to a comma string (driver
    canonicalizer rejects array columns)."""
    emb = testdata.load(spark, sf_dir, "embeddings")
    cov = similarity.embedding_covariance(emb).collect()
    dim = 1 + max(r["j"] for r in cov)
    comps = similarity.pca_components(cov, dim=dim, k=4)
    proj = similarity.project_embeddings(emb, comps)
    # proj is NULL (whole row) for dirty vectors — never a partial
    # array, so this join cannot silently misalign (review fix)
    return proj.select(
        "vec_id",
        F.array_join(F.col("proj").cast("array<string>"), ",")
        .alias("proj"),
    )


@query(
    "x_dedup_components_incremental",
    # equivalence contract: incremental merge over (contracted history
    # + batch-touching pairs) == full recompute, so the oracle is the
    # SAME reachability fixpoint as x_dedup_components
    oracle=_REGISTRY["x_dedup_components"].oracle,
    survey_ref="north-star:dedup-components-incremental",
)
def x_dedup_components_incremental(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """INCREMENTAL component maintenance (operators/dedup.py:
    merge_components_incremental): history (2/3 of the corpus) is
    solved once and PERSISTED; the batch folds in via id-scale label
    edges (one per non-representative history doc) plus only the new
    pairs that touch a batch doc — history text and shingles are
    never re-read. The oracle is the full-recompute fixpoint, so the
    hash gate IS the equivalence proof: contracting each old component
    to a star preserves connectivity and min-id labels."""
    d = testdata.load(spark, sf_dir, "documents")
    hist = d.filter(F.col("doc_id") % 3 < 2)
    batch = d.filter(F.col("doc_id") % 3 == 2)

    tmp = lane_tmpdir("comp_state_")
    components = dedup.neardup_components(hist, threshold=0.5)
    components.write.mode("overwrite").parquet(f"{tmp}/components")
    persisted = spark.read.schema(components.schema).parquet(f"{tmp}/components")

    # the incremental probe: only batch shingles join the corpus —
    # history-history pairs are never built (review fix; the
    # filtered-after version paid the full self-join anyway)
    new_pairs = dedup.ngram_jaccard_pairs_probe(
        d, probe=F.col("doc_id") % 3 == 2, threshold=0.5
    )
    merged = dedup.merge_components_incremental(
        persisted.select("doc_id", "component_id"),
        batch.select("doc_id"), new_pairs,
    )
    return merged.select(
        "doc_id", "component_id",
        (F.col("doc_id") == F.col("component_id")).alias("is_kept"),
    )


@query(
    "x_winnow_clusters",
    # composition oracle: the winnow-overlap pair oracle feeding the
    # same reachability fixpoint the dedup components lanes use
    oracle=f"""
    WITH RECURSIVE p AS ({_REGISTRY["x_winnow_overlap"].oracle}
    ), synth AS ({_DPLAG}
    ), ed AS (
      SELECT id_a AS src, id_b AS dst FROM p
      UNION ALL SELECT id_b, id_a FROM p
    ), reach(nid, r) AS (
      SELECT gid, gid FROM synth
      UNION
      SELECT reach.nid, ed.dst FROM reach JOIN ed ON ed.src = reach.r
    )
    SELECT nid AS gid, MIN(r) AS cluster_id, (nid = MIN(r)) AS is_kept
    FROM reach GROUP BY nid
    """,
    survey_ref="north-star:winnow-clusters",
)
def x_winnow_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plagiarism CLUSTERS — the MOSS report's final step: winnowing
    overlap pairs (operators/text.py:winnow_overlap_pairs) feed the
    same connected-components machinery as near-dup dedup
    (operators/dedup.py:components_from_pairs), so transitively-copied
    documents (A copies B copies C) land in one cluster with a min-id
    representative. Over the _DPLAG fixture exactly the five planted
    copy pairs cluster; everything else stays a singleton. Pure
    composition of two independently-gated operators — the lane pins
    that their contracts actually compose."""
    synth = _synth_plagiarism_docs(spark)
    pairs = text.winnow_overlap_pairs(synth, id_col="gid",
                                      k=8, w=4, min_shared=3)
    comp = dedup.components_from_pairs(
        synth.select("gid"), pairs.select("id_a", "id_b"), id_col="gid"
    )
    return comp.select(
        "gid", F.col("component_id").alias("cluster_id"),
        (F.col("gid") == F.col("component_id")).alias("is_kept"),
    )
