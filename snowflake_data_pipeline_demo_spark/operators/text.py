"""Text analysis for large-scale training-data pipelines: tokenization,
language-ID heuristic, quality scoring, token counting, fingerprinting.

These go beyond the reference's surface (BASELINE.json north star).
Hot-path computation is built-in ``pyspark.sql.functions`` expressions —
JVM-side, codegen'd, no Python in the data path — except winnowing,
whose numpy kernel runs behind one Arrow-batched pandas UDF; every
construct is chosen to be bit-reproducible in ANSI SQL so the DuckDB
oracle can verify it (md5-based hashing, integer polynomial arithmetic,
fixed stopword tables).

Scale notes: the per-row operators are narrow projections — no
shuffle; at 100 TB they run at parquet-scan speed and pair with
dedup.py's LSH for the shuffle-bearing stages.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve here
from pyspark.sql import Column
from pyspark.sql import functions as F

from ..caching import lane_cache

#: tiny per-language stopword tables for the n-gram/stopword heuristic
#: language-ID (deterministic, oracle-expressible)
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "von"],
    "es": ["el", "la", "de", "y", "es", "un", "una", "que", "en", "los"],
    "fr": ["le", "la", "de", "et", "est", "un", "une", "que", "les", "des"],
}

#: modulus/base for the rolling (polynomial) hash — small enough that
#: b*131+255 never overflows int64, so Spark ANSI mode and DuckDB agree
ROLLING_MOD = 1_000_000_007
ROLLING_BASE = 131


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def normalize(c: Column | str) -> Column:
    """Canonical text form: lowercase, whitespace collapsed, trimmed."""
    return F.trim(F.regexp_replace(F.lower(_col(c)), r"\s+", " "))


def tokens(c: Column | str) -> Column:
    """Whitespace/punct tokenization -> array<string> (empty tokens
    dropped)."""
    arr = F.split(F.lower(_col(c)), r"[^a-z0-9]+")
    return F.filter(arr, lambda x: x != "")


def token_count(c: Column | str) -> Column:
    return F.size(tokens(c)).cast("long")


def bpe_ish_token_count(c: Column | str) -> Column:
    """A BPE-flavored proxy count: word-piece chunks of <=4 chars —
    ceil(len(word)/4) summed over words. Deterministic and cheap; a real
    tokenizer slots in behind the same column contract."""
    return F.aggregate(
        tokens(c),
        F.lit(0).cast("long"),
        lambda acc, w: acc + F.ceil(F.length(w) / F.lit(4.0)).cast("long"),
    )


def stopword_ratio(c: Column | str, lang: str = "en") -> Column:
    """Fraction of tokens that are stopwords of ``lang``."""
    toks = tokens(c)
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    n_sw = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.when(F.size(toks) > 0, n_sw / F.size(toks)).otherwise(F.lit(0.0))


def stopword_hits(c: Column | str, code: str) -> Column:
    """Number of tokens that are stopwords of language ``code``."""
    sw = F.array(*[F.lit(w) for w in STOPWORDS[code]])
    return F.size(F.filter(tokens(c), lambda t: F.array_contains(sw, t)))


def lang_id(c: Column | str) -> Column:
    """Stopword-count language ID: argmax over the stopword tables with
    an explicit alphabetical-first tiebreak (portable to ANSI SQL:
    greatest + CASE, no struct-comparison semantics involved); 'und'
    when no stopword matches at all."""
    counts = {code: stopword_hits(c, code) for code in sorted(STOPWORDS)}
    m = F.greatest(*counts.values())
    out = F.lit("und")
    for code in reversed(sorted(STOPWORDS)):
        out = F.when(counts[code] == m, F.lit(code)).otherwise(out)
    return F.when(m > 0, out).otherwise(F.lit("und"))


def punct_ratio(c: Column | str) -> Column:
    s = _col(c)
    n_punct = F.length(F.regexp_replace(s, r"[^.,;:!?]", ""))
    return F.when(F.length(s) > 0, n_punct / F.length(s)).otherwise(F.lit(0.0))


def mean_word_len(c: Column | str) -> Column:
    toks = tokens(c)
    total = F.aggregate(toks, F.lit(0).cast("long"), lambda a, w: a + F.length(w))
    return F.when(F.size(toks) > 0, total / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(c: Column | str) -> Column:
    """Composite [0,1] quality heuristic: length band + stopword presence
    + word-shape sanity + punctuation sanity. Weights are fixed so the
    score is reproducible; rounded to 4dp for stable comparison."""
    n_tok = F.size(tokens(c))
    len_ok = F.when((n_tok >= 10) & (n_tok <= 5000), F.lit(1.0)).otherwise(
        F.when(n_tok > 0, F.lit(0.5)).otherwise(F.lit(0.0))
    )
    sw = stopword_ratio(c, "en")
    sw_ok = F.when((sw >= 0.01) & (sw <= 0.6), F.lit(1.0)).otherwise(F.lit(0.3))
    mwl = mean_word_len(c)
    shape_ok = F.when((mwl >= 2.0) & (mwl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.2))
    pr = punct_ratio(c)
    punct_ok = F.when(pr <= 0.1, F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round(
        0.35 * len_ok + 0.25 * sw_ok + 0.25 * shape_ok + 0.15 * punct_ok, 4
    )


#: the "must contain >=2 of these" stopword rule from Gopher-style
#: document filtering (Rae et al. 2021, §A1.1 — public paper)
GOPHER_REQUIRED_WORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_flags(c: Column | str, min_required: int = 2) -> Column:
    """Gopher-style quality rule flags as a struct of booleans — the
    repetition/shape heuristics from Rae et al. 2021 (public), adapted
    to single-line documents:

    - ``ok_tokens``: 10 <= token count <= 5000
    - ``ok_word_len``: mean word length in [2, 12]
    - ``ok_stopwords``: contains >= ``min_required`` distinct required
      stopwords (the paper uses 2; synthetic low-stopword corpora may
      need 1 for the rule to discriminate rather than reject all)
    - ``ok_unique``: unique-token ratio >= 0.2 (repetition guard)

    Each rule is a codegen'd expression over one tokenization — no
    shuffle, no Python. ``keep`` is the conjunction.
    """
    toks = tokens(c)
    n = F.size(toks)
    ok_tokens = (n >= 10) & (n <= 5000)
    mwl = mean_word_len(c)
    ok_word_len = (mwl >= 2.0) & (mwl <= 12.0)
    req = F.array(*[F.lit(w) for w in GOPHER_REQUIRED_WORDS])
    n_req = F.size(F.filter(F.array_distinct(toks),
                            lambda t: F.array_contains(req, t)))
    ok_stopwords = n_req >= min_required
    uniq = F.when(n > 0, F.size(F.array_distinct(toks)) / n).otherwise(F.lit(0.0))
    ok_unique = uniq >= 0.2
    return F.struct(
        ok_tokens.alias("ok_tokens"),
        ok_word_len.alias("ok_word_len"),
        ok_stopwords.alias("ok_stopwords"),
        ok_unique.alias("ok_unique"),
        (ok_tokens & ok_word_len & ok_stopwords & ok_unique).alias("keep"),
    )


def content_fingerprint(c: Column | str) -> Column:
    """md5 of the normalized text — the exact-dedup key."""
    return F.md5(normalize(c))


def tfidf_topk(df, text_col: str = "text", id_col: str = "doc_id",
               k: int = 3):
    """Top-``k`` terms per document by TF-IDF (tf * ln(N/df), ties by
    token asc). Output: (id, rank, token, tfidf rounded to 4dp).

    Scale shape: explode tokens once; TF is a (doc, token) hash-agg —
    partial-aggregated map-side — and DF DERIVES from TF (one row per
    (doc, token), so ``count(*)`` per token == ``count_distinct(doc)``;
    integer counts, bit-identical — r12 optimization: the old
    token-stream DF agg re-ran a corpus-wide partial-DISTINCT whose
    expanded (token, doc) state the TF frame already is; deriving DF
    from TF drops that second distinct pass. Wall-neutral at sf0.1
    (warm median 1.34 -> 1.26 s, inside the lane's spread; a lane_cache boundary
    on TF was also measured and stayed neutral, so TF is left lazy and
    the remaining duplicate scan is the documented price of the one
    lazy plan). The TF⋈DF join
    shuffles on the token key (hot/stopword tokens are exactly AQE's
    skew-split case), and the final per-doc top-k is a rank window
    partitioned by doc. N is a broadcast one-row scalar subframe (no
    driver action at plan build — the whole operator is one lazy
    plan). No text moves after the explode projection — only
    (token, counts) pairs.
    """
    from pyspark.sql import Window

    n_docs = df.agg(F.count("*").cast("double").alias("_n_docs"))
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("token"))
    tf = tok.groupBy(id_col, "token").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("token").agg(
        F.count("*").alias("df")
    )
    scored = (
        tf.join(dfreq, "token")
        .join(F.broadcast(n_docs))
        .select(
            F.col(id_col), F.col("token"),
            F.round(
                F.col("tf") * F.log(F.col("_n_docs") / F.col("df")), 4
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "rank", "token", "tfidf")
    )


def repetition_metrics(df, text_col: str = "text", id_col: str = "doc_id"):
    """Within-document repetition (the Gopher dup-n-gram rule family):
    one row per input doc, ``id`` plus the fraction of n-gram
    OCCURRENCES that repeat an earlier occurrence, for n = 1, 2, 3 —
    ``1 - distinct/total``, 4 dp. Degenerate texts (loops, boilerplate)
    score high; a doc with no n-grams (NULL, empty or punctuation-only
    text, or fewer than n tokens) scores 0.0.

    Precondition: ``id_col`` is unique. Rows are grouped by it, so two
    docs sharing an id are scored as one doc and both get its fractions.

    Built shuffle-side: posexplode the token split, window-lead to
    stitch bigrams/trigrams, then ONE ``groupBy(id)`` computing count /
    count_distinct per n — whole-stage codegen, no interpreted
    higher-order functions. Docs with no tokens are restored by a left
    join.
    """
    from pyspark.sql import Window

    t = (
        df.select(
            F.col(id_col),
            F.posexplode(
                F.split(F.lower(F.col(text_col)), "[^a-z0-9]+")
            ).alias("_pos", "_tok"),
        )
        .filter(F.col("_tok") != "")
    )
    w = Window.partitionBy(id_col).orderBy("_pos")
    grams = t.select(
        F.col(id_col),
        F.col("_tok").alias("g1"),
        F.lead("_tok", 1).over(w).alias("_l1"),
        F.lead("_tok", 2).over(w).alias("_l2"),
    ).select(
        id_col,
        "g1",
        F.when(F.col("_l1").isNotNull(),
               F.concat_ws(" ", "g1", "_l1")).alias("g2"),
        F.when(F.col("_l2").isNotNull(),
               F.concat_ws(" ", "g1", "_l1", "_l2")).alias("g3"),
    )
    agg = grams.groupBy(id_col).agg(
        F.count("g1").alias("n1"), F.count_distinct("g1").alias("d1"),
        F.count("g2").alias("n2"), F.count_distinct("g2").alias("d2"),
        F.count("g3").alias("n3"), F.count_distinct("g3").alias("d3"),
    )

    def frac(n: str, d: str) -> Column:
        return F.when(
            F.col(n) > 0, F.round(1.0 - F.col(d) / F.col(n), 4)
        ).otherwise(F.lit(0.0))

    return (
        df.select(id_col)
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce(frac("n1", "d1"), F.lit(0.0)).alias("dup_unigram_frac"),
            F.coalesce(frac("n2", "d2"), F.lit(0.0)).alias("dup_bigram_frac"),
            F.coalesce(frac("n3", "d3"), F.lit(0.0)).alias("dup_trigram_frac"),
        )
    )


def unigram_logprob(df, text_col: str = "text", id_col: str = "doc_id"):
    """Per-document mean unigram log-probability under the corpus's own
    unigram model — the perplexity-filter shape (docs far below the
    corpus-typical logprob are boilerplate/noise; far above are
    degenerate repetition). Output: (id, n_tokens, mean_logprob 4dp).

    Scale shape: one token hash-agg builds the model (map-side
    combined); scoring re-joins tokens to model on the token key (same
    AQE skew-split story as TF-IDF); per-doc mean is a doc-key agg.
    The model is two columns (token, count) — at corpus scale it stays
    a table join; for bounded vocabularies it broadcasts. The corpus
    token total is a broadcast one-row scalar subframe (no driver
    action at plan build — the whole operator is one lazy plan).
    """
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("token"))
    model = tok.groupBy("token").agg(F.count("*").alias("cnt"))
    total = model.agg(
        F.greatest(F.sum("cnt"), F.lit(1)).cast("double").alias("_total")
    )
    scored = tok.join(model, "token").join(F.broadcast(total)).select(
        F.col(id_col),
        F.log(F.col("cnt") / F.col("_total")).alias("lp"),
    )
    return scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.round(F.avg("lp"), 4).alias("mean_logprob"),
    )


def dsir_importance(corpus, target, text_col: str = "text",
                    id_col: str = "doc_id"):
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling" — public paper):
    score each corpus document by its mean per-token log-likelihood
    ratio under a TARGET-domain unigram model vs the corpus's own
    (source) model — documents that "sound like" the target domain
    score high and are upsampled by the caller. Laplace add-1 smoothing
    over the union vocabulary keeps every ratio finite and makes the
    arithmetic engine-portable. Output: (id, n_tokens,
    importance = mean ln(p_target/p_source) rounded to 4dp).

    Scale shape: two token hash-aggs build the models (map-side
    combined; the paper's hashed-n-gram variant drops in by swapping
    the token expression for a bucketed hash). The models full-outer
    join on the token key — vocabulary-scale, not corpus-scale — and
    scoring re-joins corpus tokens to the merged model (AQE skew-split
    handles stopword keys). Totals and vocab size ride along as a
    broadcast one-row frame, so the whole operator is one lazy plan.
    """
    tok_src = corpus.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("token")
    )
    tok_tgt = target.select(F.explode(tokens(text_col)).alias("token"))
    m_src = tok_src.groupBy("token").agg(F.count("*").alias("cnt_s"))
    m_tgt = tok_tgt.groupBy("token").agg(F.count("*").alias("cnt_t"))
    model = (
        m_src.join(m_tgt, "token", "full_outer")
        .select(
            "token",
            F.coalesce("cnt_s", F.lit(0)).alias("cnt_s"),
            F.coalesce("cnt_t", F.lit(0)).alias("cnt_t"),
        )
    )
    totals = model.agg(
        F.sum("cnt_s").cast("double").alias("_tot_s"),
        F.sum("cnt_t").cast("double").alias("_tot_t"),
        F.count("*").cast("double").alias("_vocab"),
    )
    scored = (
        tok_src.join(model, "token")
        .join(F.broadcast(totals))
        .select(
            F.col(id_col),
            (
                F.log((F.col("cnt_t") + 1.0) / (F.col("_tot_t") + F.col("_vocab")))
                - F.log((F.col("cnt_s") + 1.0) / (F.col("_tot_s") + F.col("_vocab")))
            ).alias("llr"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.round(F.avg("llr"), 4).alias("importance"),
    )


def oov_rate(df, vocab_size: int = 1000, text_col: str = "text",
             id_col: str = "doc_id"):
    """Out-of-vocabulary rate per document against a frequency-truncated
    vocabulary built from the corpus itself — the tokenizer-coverage
    diagnostic (docs with high OOV under the candidate vocab are the
    ones a whitespace/BPE tokenizer will fragment). Vocabulary = the
    ``vocab_size`` most frequent tokens, ties broken lexicographically
    (deterministic + oracle-portable). Output: (id, n_tokens, n_oov,
    oov_rate 4dp).

    Scale shape: one token hash-agg builds counts; the truncation is a
    distributed top-k (``TakeOrderedAndProject`` via orderBy+limit —
    never a one-partition rank window) over the vocabulary-scale count
    table; scoring left-joins corpus tokens to the kept vocab
    (broadcast — real vocabularies are dim-scale) and reduces per doc.
    """
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("token"))
    counts = tok.groupBy("token").agg(F.count("*").alias("cnt"))
    vocab = (
        counts.orderBy(F.desc("cnt"), F.asc("token")).limit(vocab_size)
        .select("token", F.lit(True).alias("_in_vocab"))
    )
    scored = tok.join(F.broadcast(vocab), "token", "left")
    return scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("_in_vocab").isNull(), 1).otherwise(0))
        .cast("long").alias("n_oov"),
        F.round(
            F.sum(F.when(F.col("_in_vocab").isNull(), 1).otherwise(0))
            / F.count("*"), 4
        ).alias("oov_rate"),
    )


def bigram_logprob(df, text_col: str = "text", id_col: str = "doc_id",
                   lam: float = 0.75):
    """Per-document mean INTERPOLATED bigram log-probability under the
    corpus's own counts — the KenLM-shaped upgrade of
    :func:`unigram_logprob`:

        P(w2 | w1) = lam * c(w1,w2)/c(w1) + (1-lam) * c(w2)/N

    Documents scoring far below the corpus-typical value read as noise;
    far above as degenerate repetition (their own bigrams dominate the
    counts). Output: (id, n_bigrams, mean_logprob 4dp); docs with fewer
    than two tokens emit no row.

    Scale shape: positions come from one posexplode; the bigram stream
    is a per-doc ``lead`` window (partitioned by doc — parallel, the
    shuffle it pays is the same doc-key exchange the final mean needs).
    Two hash-aggs build the models (map-side combined, vocabulary- and
    bigram-vocabulary-sized). Scoring re-joins the bigram stream to the
    bigram model and to the unigram model twice (w1 for the conditional,
    w2 for the backoff) — token-key joins, the TF-IDF AQE skew-split
    story. N rides along as a broadcast one-row frame: one lazy plan,
    no driver action at build.

    r12 optimization note — MEASURED AND KEPT AS IS: the shuffle-free
    per-row stitch (``arrays_zip`` of two token-array slices, the
    native no-lambda form that WON inside :func:`collocation_pmi`) was
    built, proven oracle-identical, and measured SLOWER here at both
    sf0.1 (interleaved same-session A/B: window 1.06-1.18 s vs zip
    1.27-1.32 s) and a 200k-doc replicated corpus (4.1-5.0 s vs
    5.8-6.0 s): this operator consumes the bigram stream TWICE (bigram
    model + scoring probe), so the window's exchange is written once
    and REUSED while the zip's slice/zip/explode allocations re-run
    per consumer — the opposite trade from PMI's single-consumer
    stitch. The materialization-boundary follow-up was then ALSO
    measured and rejected (same-JVM 3-arm A/B, session 4): a
    lane_cache boundary on the bigram stream loses at BOTH tiers —
    sf0.1 window 0.98 s vs window+cache 1.26 / zip+cache 1.01 s; 200k
    docs 3.57 vs 4.67 / 4.33 s — the cache fill (write + InMemoryScan
    for two consumers) costs more than re-reading the reused exchange.
    This operator is closed: the naive window form is the measured
    optimum at every tier reachable locally."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("pos")
    tok = df.select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("pos", "w1")
    )
    big = (
        tok.withColumn("w2", F.lead("w1").over(w))
        .filter(F.col("w2").isNotNull())
    )
    uni = tok.groupBy(F.col("w1").alias("token")).agg(
        F.count("*").alias("cnt")
    )
    bi = big.groupBy("w1", "w2").agg(F.count("*").alias("cnt2"))
    total = uni.agg(F.sum("cnt").cast("double").alias("_total"))
    u1 = uni.select(F.col("token").alias("w1"), F.col("cnt").alias("c_w1"))
    u2 = uni.select(F.col("token").alias("w2"), F.col("cnt").alias("c_w2"))
    scored = (
        big.join(bi, ["w1", "w2"])
        .join(u1, "w1")
        .join(u2, "w2")
        .join(F.broadcast(total))
        .select(
            F.col(id_col),
            F.log(
                F.lit(lam) * F.col("cnt2") / F.col("c_w1")
                + F.lit(1.0 - lam) * F.col("c_w2") / F.col("_total")
            ).alias("lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.round(F.avg("lp"), 4).alias("mean_logprob"),
    )


#: hashed-classifier weight-table constants: a fixed multiplicative
#: hash spreads bucket ids over a prime modulus; every constant fits
#:  int64 (buckets < 2^20 keeps bucket*KNUTH < 2^52)
_CLS_KNUTH = 2654435761
_CLS_PRIME = 1_000_003


def hashed_token_bucket(token: Column, buckets: int = 1024) -> Column:
    """Feature-hash a token into [0, buckets) via the first 8 hex digits
    of md5 — the fastText-style hashing-trick bucket; delegates to
    sampling.hash_bucket so the engine-portable hashing idiom lives in
    one place."""
    from .sampling import hash_bucket

    return hash_bucket(token, buckets, hex_digits=8)


def classifier_weight(bucket: Column) -> Column:
    """Deterministic pseudo-random weight in (-1, 1) for a feature
    bucket: ``(bucket*KNUTH mod P)/P * 2 - 1``. A trained model drops in
    by replacing this expression with a broadcast-joined weight table —
    the surrounding plan (explode -> per-token weight -> doc-key mean)
    is exactly the serving shape of a linear text classifier."""
    return (
        ((bucket * _CLS_KNUTH) % _CLS_PRIME) / F.lit(float(_CLS_PRIME))
    ) * 2.0 - 1.0


def hashed_classifier_score(df, text_col: str = "text",
                            id_col: str = "doc_id", buckets: int = 1024,
                            bias: float = 0.0):
    """Serve a fastText-shaped linear classifier over hashed unigram
    features: score = sigmoid(mean over tokens of weight(bucket(token))
    + bias). The weight table here is a deterministic expression (see
    :func:`classifier_weight`) so the DuckDB oracle can verify the
    plumbing bit-for-bit; a real trained model is the same plan with a
    broadcast weight-table join instead of the inline expression.

    Output: (id, n_tokens, score 4dp); empty docs emit no row.

    Scale shape: explode tokens once, hash+weight at the top level of
    the projection (whole-stage codegen — not inside an array lambda,
    the CodegenFallback trap measured at 90x on MinHash), then one
    doc-key mean with map-side partial agg. The shuffle carries
    (id, one double) per token batch after partial combine — text never
    moves.
    """
    tok = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("token")
    )
    weighted = tok.select(
        F.col(id_col),
        classifier_weight(hashed_token_bucket(F.col("token"), buckets))
        .alias("w"),
    )
    return weighted.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.round(
            F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.avg("w") + F.lit(bias)))),
            4,
        ).alias("score"),
    )


def encoding_quality(c: Column | str):
    """Encoding/mojibake quality signals as a list of named columns:
    replacement-character count (U+FFFD — the scar a bad decode leaves),
    control-character count (C0 minus tab/LF/CR), NON-printable-ASCII
    ratio (fraction of characters outside 0x20-0x7E), digit ratio, and
    whitespace ratio. All are per-row regexp
    projections — scan speed, no shuffle — and every pattern is
    portable to DuckDB's RE2 for the oracle. Degenerate (all
    printable-ASCII) corpora score 0 counts and non_ascii_ratio 0.0 —
    the clean-corpus floor a curation gate alerts above.
    """
    t = _col(c)
    n = F.length(t)

    def ratio(pattern: str) -> Column:
        return F.when(
            n > 0,
            F.round((n - F.length(F.regexp_replace(t, pattern, ""))) / n, 4),
        ).otherwise(F.lit(0.0))

    return [
        F.length(F.regexp_replace(t, "[^�]", "")).cast("long")
        .alias("replacement_count"),
        F.length(
            F.regexp_replace(t, "[^\x00-\x08\x0b\x0c\x0e-\x1f]", "")
        ).cast("long").alias("control_count"),
        ratio("[^\x20-\x7e]").alias("non_ascii_ratio"),
        ratio("[0-9]").alias("digit_ratio"),
        ratio("[ \t\n\r]").alias("ws_ratio"),
    ]


def bpe_pair_counts(df, text_col: str = "text", top_k: int = 50):
    """One iteration of the BPE trainer's inner loop (Sennrich et al.
    2016, public paper): count every ADJACENT CHARACTER PAIR inside
    words across the corpus and return the ``top_k`` most frequent —
    the argmax pair is the next merge. The full trainer is a driver
    loop: apply the merge to the symbol sequences and re-run; each
    iteration is this same plan over the updated symbol table, so the
    per-iteration cost (the only thing that scales with corpus size)
    is what's measured here.

    Output: (pair, cnt, rank) — rank 1..top_k by (count DESC, pair
    ASC), a total order so the cut is deterministic.

    Scale shape: explode tokens, then explode pair POSITIONS
    (``sequence(1, len-1)``) and slice with substring at the top level
    of the projection — codegen'd, same idiom as exploded_shingles;
    never a per-row array-of-pairs lambda (CodegenFallback). The count
    is one hash-agg on the 2-char pair key (map-side combined: the
    shuffle carries at most |alphabet|^2 rows per task). The final
    top-k is a single-partition sort of |alphabet|^2 rows — bytes.
    """
    from pyspark.sql import Window

    tok = df.select(F.explode(tokens(text_col)).alias("token")).filter(
        F.length("token") >= 2
    )
    pairs = tok.select(
        F.explode(
            F.sequence(F.lit(1), F.length("token") - 1)
        ).alias("i"),
        "token",
    ).select(F.substring(F.col("token"), F.col("i"), F.lit(2)).alias("pair"))
    counts = pairs.groupBy("pair").agg(F.count("*").alias("cnt"))
    w = Window.orderBy(F.desc("cnt"), F.asc("pair"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= top_k)
    )


def bpe_train(df, text_col: str = "text", n_merges: int = 4):
    """Train ``n_merges`` BPE merges on the corpus (Sennrich et al.
    2016, public paper) and return the merge table: one row per merge,
    ``(merge_rank, pair, cnt)`` with ``pair`` = the two symbols joined
    by a space, picked by (weighted count DESC, pair ASC).

    Faithful to the classic trainer: train on the UNIQUE word table
    weighted by frequency (vocabulary-scale — corpus text is touched
    exactly once to build it), symbols start as characters, and each
    round merges the argmax adjacent pair GREEDILY LEFT-TO-RIGHT
    exactly as the reference implementation's re-scan does ("a a a a"
    under merge (a,a) -> "aa aa", not "aa a a"). Merge application is
    a string fold over the symbol array (:func:`_apply_bpe_merge`):
    when the accumulator's last symbol is ``x`` and the next symbol is
    ``y``, the pair collapses to ``xy`` — equivalent to the i+=2 scan
    because the merged symbol is textually distinct from ``x`` and so
    never re-matches. The same fold is expressible as DuckDB's
    list_reduce, so the oracle can unroll the loop stage for stage.

    Scale shape: the corpus-scale work is ONE token hash-agg (word
    frequencies). Every iteration then runs on the unique-word table:
    pair explode + map-side-combined weighted count, argmax collected
    driver-side (one row — BPE is inherently a driver loop), and a
    per-row replace. ``localCheckpoint`` cuts lineage each round (the
    iterative-loop rule from the components implementation: plans grow
    geometrically otherwise).
    """
    words = (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word").agg(F.count("*").alias("freq"))
    )
    seqs = words.select(
        "freq",
        F.array_join(
            F.filter(F.split(F.col("word"), ""), lambda x: x != ""), " "
        ).alias("seq"),
    ).localCheckpoint(eager=False)
    merges: list[tuple[int, str, int]] = []
    for rank in range(1, n_merges + 1):
        arr = F.split(F.col("seq"), " ")
        pairs = (
            # guard BEFORE the explode: sequence(1, 0) DESCENDS in
            # Spark (it is not empty), so single-symbol sequences must
            # be filtered out, not relied on to produce zero rows
            seqs.select("freq", arr.alias("_a"))
            .filter(F.size("_a") >= 2)
            .select(
                "freq", "_a",
                F.explode(
                    F.sequence(F.lit(1), F.size("_a") - 1)
                ).alias("i"),
            )
            .select(
                "freq",
                F.concat_ws(
                    " ",
                    F.element_at("_a", F.col("i")),
                    F.element_at("_a", F.col("i") + 1),
                ).alias("pair"),
            )
            .groupBy("pair").agg(F.sum("freq").alias("cnt"))
        )
        top = pairs.orderBy(F.desc("cnt"), F.asc("pair")).limit(1).collect()
        if not top:
            break
        pair, cnt = top[0]["pair"], int(top[0]["cnt"])
        merges.append((rank, pair, cnt))
        x, y = pair.split(" ")
        seqs = seqs.select(
            "freq", _apply_bpe_merge(F.col("seq"), x, y).alias("seq")
        ).localCheckpoint(eager=False)
    return df.sparkSession.createDataFrame(
        merges, "merge_rank long, pair string, cnt long"
    )


def _apply_bpe_merge(seq: Column, x: str, y: str) -> Column:
    """Apply one BPE merge (x, y) -> xy to a space-joined symbol
    sequence, greedy left-to-right non-overlapping (the classic
    trainer's scan). String fold: append each symbol to the
    accumulator, collapsing when the accumulator ends in symbol ``x``
    and the incoming symbol is ``y``. Runs per row of the
    vocabulary-scale word table — an interpreted HOF is fine here; the
    corpus-scale hot path never executes it."""
    m = x + y
    return F.aggregate(
        F.split(seq, " "),
        F.lit(""),
        lambda acc, s: (
            F.when(acc == "", s)
            .when(
                ((acc == x) | acc.endswith(" " + x)) & (s == y),
                F.concat(
                    F.substring(acc, 1, F.length(acc) - len(x)), F.lit(m)
                ),
            )
            .otherwise(F.concat(acc, F.lit(" "), s))
        ),
    )


def tokens_to_ids(df, vocab_size: int = 1000, text_col: str = "text",
                  id_col: str = "doc_id"):
    """Map every document to its vocabulary-id sequence — the
    "tokenize to ids" step a training pipeline runs last: vocabulary =
    the ``vocab_size`` most frequent tokens (count DESC, token ASC),
    id = 0-based rank; everything else maps to the OOV id
    (``vocab_size``). Output: (id, n_tokens, ids array<long> in
    document order).

    Scale shape: one token hash-agg builds the counts; the vocabulary
    is a distributed top-k (orderBy+limit -> TakeOrderedAndProject)
    FIRST, so the id-assignment window ranks at most ``vocab_size``
    rows — never a one-partition window over every distinct token (a
    web-scale corpus has billions; the truncated vocab is dim-scale by
    construction, same rule as oov_rate). Scoring left-joins the
    posexploded token stream to the vocab on the token key (broadcast
    when the vocab is bounded, as here; AQE skew-split otherwise) and
    reassembles per doc with one doc-key agg — the array is sorted by
    position inside the agg, not with a second window.
    """
    from pyspark.sql import Window

    tok = df.select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("pos", "token")
    )
    counts = tok.groupBy("token").agg(F.count("*").alias("cnt"))
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    vocab = (
        counts.orderBy(F.desc("cnt"), F.asc("token")).limit(vocab_size)
        .withColumn("vid", F.row_number().over(w).cast("long") - 1)
        .select("token", "vid")
    )
    scored = tok.join(F.broadcast(vocab), "token", "left").select(
        F.col(id_col), "pos",
        F.coalesce("vid", F.lit(int(vocab_size)).cast("long")).alias("vid"),
    )
    return scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "vid"))),
            lambda s: s["vid"],
        ).alias("ids"),
    )


def rolling_hash(c: Column | str) -> Column:
    """Polynomial rolling hash over the normalized character stream:
    ``h = (h*131 + ascii(ch)) mod 1e9+7``. Identical arithmetic is
    expressible in DuckDB's list_reduce, making the fingerprint
    engine-portable (unlike xxhash64/crc32)."""
    chars = F.split(normalize(c), "")
    return F.aggregate(
        F.filter(chars, lambda x: x != ""),
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * ROLLING_BASE + F.ascii(ch)) % ROLLING_MOD,
    )


def distinct_tokens_hll(df, text_col: str = "text",
                        group_col: str = "source",
                        rsd: float = 0.02):
    """Per-group distinct-token and distinct-bigram cardinality, three
    ways: exact count-distinct, an HLL++ sketch estimate
    (``approx_count_distinct``), and a boolean that the estimate landed
    inside the documented error envelope (|est-exact|/exact <= 5*rsd —
    generous vs the 2-3 sigma theory bound so the gate never flakes).

    At 100 TB the EXACT lane is the wrong tool: count(DISTINCT token)
    shuffles every (group, token) pair to a reducer. The HLL lane is
    the scale path — each task builds a fixed-size sketch and only
    sketches merge map-side and across the exchange, so the shuffle is
    O(groups x sketch_bytes) regardless of corpus size. Sketches are
    also mergeable ACROSS runs/shards, which is why corpus reports
    persist them. The exact lane exists here as the verification twin
    (and is what the DuckDB oracle computes); production reads the
    estimate columns.

    Output: (group, exact_tokens, hll_tokens, tokens_hll_ok,
    exact_bigrams, hll_bigrams, bigrams_hll_ok).

    Shape: unigrams and bigrams are per-row array projections (no
    window, no pre-aggregation shuffle — bigrams stitch inside the
    token array), each exploded into its OWN group agg, then a
    broadcast join on the dim-scale group key stitches the two
    one-row-per-group results. Deliberately NOT a union into one agg:
    two countDistinct over a union plans an Expand that re-doubles the
    already-doubled gram stream — measured 1.65x slower at sf0.1
    (2.31 s vs 1.40 s) for identical output.
    """
    base = df.select(F.col(group_col), tokens(text_col).alias("_t"))
    unig = base.select(group_col, F.explode("_t").alias("tok"))
    # sequence(1, 0) DESCENDS in Spark ([1, 0], not empty), so a doc
    # with <2 tokens would index element_at(_t, 2) and throw — guard
    # with F.when exactly like shingles (dedup.py) does; such docs
    # contribute no bigrams.
    big = base.select(
        group_col,
        F.explode(
            F.when(
                F.size("_t") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("_t") - 1),
                    lambda i: F.concat_ws(
                        " ", F.element_at("_t", i), F.element_at("_t", i + 1)
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bg"),
    )
    ua = unig.groupBy(group_col).agg(
        F.countDistinct("tok").cast("long").alias("exact_tokens"),
        F.approx_count_distinct("tok", rsd).alias("hll_tokens"),
    )
    ba = big.groupBy(group_col).agg(
        F.countDistinct("bg").cast("long").alias("exact_bigrams"),
        F.approx_count_distinct("bg", rsd).alias("hll_bigrams"),
    )
    # left join: a group whose docs are all single-token has no bigram
    # row but must still report (with 0 counts)
    agg = ua.join(F.broadcast(ba), group_col, "left").select(
        group_col, "exact_tokens", "hll_tokens",
        F.coalesce("exact_bigrams", F.lit(0).cast("long"))
        .alias("exact_bigrams"),
        F.coalesce("hll_bigrams", F.lit(0).cast("long"))
        .alias("hll_bigrams"),
    )

    def ok(est: str, exact: str) -> Column:
        return (
            F.abs(F.col(est) - F.col(exact))
            / F.greatest(F.col(exact), F.lit(1))
            <= 5 * rsd
        )

    return agg.select(
        group_col, "exact_tokens", "hll_tokens",
        ok("hll_tokens", "exact_tokens").alias("tokens_hll_ok"),
        "exact_bigrams", "hll_bigrams",
        ok("hll_bigrams", "exact_bigrams").alias("bigrams_hll_ok"),
    )


def length_quantiles_sketch(df, group_col: str = "source",
                            value_col: str = "n_chars",
                            qs: tuple = (0.25, 0.5, 0.75, 0.9, 0.99),
                            accuracy: int = 10_000):
    """Per-group percentile profile via ``percentile_approx`` — the
    sketch twin of the exact `percentile` lane (x_length_quantiles).
    Same column contract: (group, n_docs, p25..p99).

    Why the sketch is the 100 TB path: exact percentile SORTS every
    group's values on one reducer (the whole group's rows through one
    exchange); the approx aggregate keeps a fixed-size quantile summary
    per task that merges map-side and across shards/runs, so the
    shuffle is O(groups x summary) regardless of corpus size. The
    guarantee is a RANK error <= n/accuracy (Greenwald-Khanna-style
    bound), not a value error — the unit test checks it by rank, the
    way the bound is stated.
    """
    aggs = [F.count("*").cast("long").alias("n_docs")] + [
        F.percentile_approx(value_col, q, accuracy)
        .cast("double").alias(f"p{round(q * 100)}")
        for q in qs
    ]
    return df.groupBy(group_col).agg(*aggs)


def token_hll_shard_sketches(df, shard_col: Column | str,
                             group_col: str = "source",
                             text_col: str = "text",
                             lg_config_k: int = 14):
    """Per-(group, shard) HLL token sketches as PERSISTABLE state —
    ``hll_sketch_agg`` (Apache DataSketches HllSketch, Spark 3.5+)
    returns the sketch BYTES, not just an estimate, so a run can write
    its shard sketches to a table and a later run can merge them with
    sketches it never saw. This is the property the 100 TB corpus
    report is built on: each ingest run aggregates only its own shard
    (O(shard) work, fixed-size state), and the report is a cheap
    ``hll_union_agg`` over ALL runs' persisted sketches — no run ever
    re-reads another run's text. See :func:`hll_merge_estimate` for
    the merge side and tests/test_extensions.py for the cross-run
    round-trip proof.

    Output: (group, shard, sketch binary).
    """
    return (
        df.select(
            F.col(group_col), _col(shard_col).alias("shard"),
            F.explode(tokens(text_col)).alias("_tok"),
        )
        .groupBy(group_col, "shard")
        .agg(F.hll_sketch_agg("_tok", lg_config_k).alias("sketch"))
    )


def hll_merge_estimate(sketches, group_col: str = "source"):
    """Merge persisted HLL shard sketches into a per-group distinct
    estimate: ``hll_union_agg`` over the sketch bytes, then
    ``hll_sketch_estimate``. The input can union sketch frames from
    ANY number of runs/tables — merging is associative and lossless
    (union of HllSketches is exact over the sketch state), which is
    what makes the per-shard persistence in
    :func:`token_hll_shard_sketches` a durable incremental index
    rather than a one-shot aggregate.

    Output: (group, est_tokens long).
    """
    return sketches.groupBy(group_col).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch"))
        .cast("long").alias("est_tokens")
    )


def length_histogram_shard_sketches(df, shard_col: Column | str,
                                    group_col: str = "source",
                                    value_col: str = "n_chars",
                                    gamma: float = 1.1):
    """Per-(group, shard) log-bucketed length histograms as PERSISTABLE
    quantile state — the QUANTILE twin of
    :func:`token_hll_shard_sketches`. ``percentile_approx`` merges its
    GK summaries map-side within one job but never exposes the summary
    bytes, so it cannot carry quantile state ACROSS runs; a
    geometric-bucket histogram can. Bucket b holds values in
    [gamma^b, gamma^(b+1)); nonnegative values below 1 (doc length 0)
    land in bucket -1. The state is plain (group, shard, bucket, cnt)
    rows — parquet-persistable, and merging any number of runs is an
    EXACT operation (sum counts per bucket), so unlike a sketch the
    cross-run merge loses nothing relative to a single pass.

    Size bound: #buckets <= log_gamma(max_value) — 217 buckets cover
    values up to 1e9 at gamma=1.1 — so per-(group, shard) state is
    fixed-size regardless of row count, the property that lets a
    100 TB ingest run persist O(groups x shards x 217) rows and a
    later report merge them without re-reading any text.

    NULL values are ignored (the percentile-function convention —
    a NULL length is a missing measurement, not a zero-length doc);
    n_values downstream counts only non-NULL rows.

    The state carries the ``gamma`` it was bucketed with: bucket ids
    are meaningless under any other base, and nothing else in the
    (group, shard, bucket, cnt) rows could reveal a mismatch when a
    later run merges state from many tables —
    :func:`histogram_merge_quantiles` fails loudly on it instead of
    silently reinterpreting (the banded-key index has the same
    hazard and can only document it; see backfill_band_index).

    Output: (group, shard, bucket int, cnt long, gamma double).
    """
    v = F.col(value_col).cast("double")
    bucket = (
        F.when(v < 1, F.lit(-1))
        .otherwise(F.floor(F.log(v) / F.log(F.lit(float(gamma)))))
        .cast("int")
    )
    return (
        df.filter(v.isNotNull())
        .select(
            F.col(group_col), _col(shard_col).alias("shard"),
            bucket.alias("bucket"),
        )
        .groupBy(group_col, "shard", "bucket")
        .agg(F.count("*").cast("long").alias("cnt"))
        .withColumn("gamma", F.lit(float(gamma)))
    )


def histogram_merge_quantiles(hists, group_col: str = "source",
                              qs: tuple = (0.25, 0.5, 0.75, 0.9, 0.99),
                              gamma: float = 1.1):
    """Merge persisted length histograms (any union of
    :func:`length_histogram_shard_sketches` frames, across any number
    of runs/tables) into per-group quantiles. Merging sums counts per
    (group, bucket) — exact and associative, so the merged result is
    byte-identical to a single pass over the full corpus (pinned by
    tests/test_extensions.py::test_histogram_quantiles_merge_across_runs).

    The reported p-quantile is the geometric midpoint gamma^(b+0.5) of
    the bucket containing the true type-1 quantile, so the value-error
    contract is MULTIPLICATIVE: reported/true in (1/sqrt(gamma),
    sqrt(gamma)] — at gamma=1.1, within ~4.9% of the exact percentile,
    independent of corpus size. (Contrast percentile_approx's RANK
    error: here rank is exact, value is bucketized.)

    Shape: one (group, bucket) sum agg — O(groups x 217) rows — then a
    cumulative window per group over at most ~217 bucket rows (bounded
    by the bucket-count cap above, never by corpus size), then one
    conditional-min agg per group. Nothing here scales with rows.

    Bucket ids only mean anything under the gamma they were built
    with, so the merge REFUSES state bucketed at a different base:
    every input row's persisted ``gamma`` is checked (lazily, inside
    the plan via ``assert_true`` — one comparison per bucket-scale
    row) against this call's ``gamma``, and a mismatch fails the job
    rather than publishing percentiles that are silently off by
    gamma^delta.

    Output: (group, n_values long, p25..p99 double).
    """
    from pyspark.sql import Window

    g = float(gamma)
    # as a FILTER, not a projected-then-dropped column — Catalyst
    # prunes unused projections, which would optimize the check away;
    # a predicate the plan depends on cannot be pruned. assert_true
    # returns NULL when it passes, so isNull() keeps every row.
    guarded = hists.filter(
        F.assert_true(
            F.col("gamma") == g,
            F.concat(F.lit("histogram state bucketed at gamma="),
                     F.col("gamma"),
                     F.lit(f" cannot merge under gamma={g!r}")),
        ).isNull()
    )
    merged = guarded.groupBy(group_col, "bucket").agg(
        F.sum("cnt").alias("cnt")
    )
    # bounded window: partitions are per-group bucket lists (<= ~217
    # rows at gamma=1.1), never corpus-scale
    w = (
        Window.partitionBy(group_col).orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = merged.select(
        group_col, "bucket", "cnt", F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(Window.partitionBy(group_col)).alias("total"),
    )
    aggs = [F.max("total").cast("long").alias("n_values")] + [
        F.min(F.when(F.col("cum") >= F.lit(q) * F.col("total"),
                     F.col("bucket"))).alias(f"_b{round(q * 100)}")
        for q in qs
    ]
    out = cum.groupBy(group_col).agg(*aggs)

    def rep(b: str) -> Column:
        return F.when(F.col(b) < 0, F.lit(0.0)).otherwise(
            F.pow(F.lit(float(gamma)), F.col(b) + 0.5)
        )

    return out.select(
        group_col, "n_values",
        *[rep(f"_b{round(q * 100)}").alias(f"p{round(q * 100)}") for q in qs],
    )


def _winnow_numpy_kernel(k: int, w: int):
    """Per-document winnowing kernel, shared by :func:`winnow_fingerprints`
    and :func:`winnow_hash_sets`.

    Returns ``one(t) -> (n_chars, n_kgrams, codes)`` with ``codes`` a
    sorted-distinct int64 ndarray of ``pos*MOD+hash`` selections
    (empty for n_kgrams == 0; ``(None, 0, empty)`` for null text).
    The semantics are the engine's JVM ones, spelled out where a naive
    Python port diverges: Java's ``\\s`` is the ASCII class
    ``[ \\t\\n\\x0b\\f\\r]`` (Python's is Unicode-aware), Spark ``trim``
    strips ' ' only, and codepoints come from UTF-32 so an astral char
    is ONE element, matching Spark ``split``/``ascii`` and DuckDB
    ``substr``/``ascii``."""
    import re

    import numpy as np

    mod, base = ROLLING_MOD, ROLLING_BASE
    # Java \s — NOT python \s, which also matches unicode whitespace
    java_ws = re.compile("[ \t\n\x0b\f\r]+")
    sw = np.lib.stride_tricks.sliding_window_view
    empty = np.empty(0, dtype=np.int64)

    def one(t):
        if t is None:
            return None, 0, empty
        s = java_ws.sub(" ", t.lower()).strip(" ")
        cp = np.frombuffer(
            s.encode("utf-32-le"), dtype=np.uint32
        ).astype(np.int64)
        n = int(cp.size)
        m = n - k + 1
        if m < 1:
            return n, 0, empty
        h = np.zeros(m, dtype=np.int64)
        for j in range(k):
            np.multiply(h, base, out=h)
            np.add(h, cp[j:j + m], out=h)
            np.mod(h, mod, out=h)
        wins = h.reshape(1, m) if m <= w else sw(h, w)
        mn = wins.min(axis=1)
        # rightmost occurrence of the window min (1-based pos in h):
        # first hit in the reversed window = last hit from the left
        right0 = (wins.shape[1] - 1
                  - np.argmax(wins[:, ::-1] == mn[:, None], axis=1))
        pos = np.arange(1, wins.shape[0] + 1, dtype=np.int64) + right0
        return n, m, np.unique(pos * mod + mn)

    return one


def winnow_fingerprints(df, text_col: str = "text", id_col: str = "doc_id",
                        k: int = 4, w: int = 3):
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD'03 — the MOSS algorithm) over the normalized character
    stream: ``(id, n_chars, n_kgrams, n_fps, fps)`` with ``fps``
    serializing each selection as ``pos:hash`` in position order
    (atomic column — the driver's canonicalizer cannot hash arrays).

    Every k-gram of the :func:`normalize`-d text gets the portable
    polynomial hash (same ``(acc*131 + ascii) % 1e9+7`` arithmetic as
    :func:`rolling_hash`, so DuckDB replays it bit-for-bit); a window
    of ``w`` consecutive k-gram hashes slides over the stream and the
    RIGHTMOST minimum of each window is selected. Any substring match
    of length >= w + k - 1 between two documents is caught by at least
    one shared selected hash, while expected density is only 2/(w+1),
    so overlap detection is a (hash -> doc) posting-list equi-join over
    a bounded per-doc set (:func:`winnow_overlap_pairs`), never a
    text-to-text comparison.

    Each selection is the code ``pos * ROLLING_MOD + hash`` (1-based
    k-gram position): hash is strictly below ROLLING_MOD, so codes are
    collision-free, decode by div/mod, stay int64-safe for documents
    under ~9.2e9 chars, and sort by position.

    Degenerate inputs: n < k yields zero k-grams and ``fps = ''``;
    1 <= n_kgrams < w winnows a single window over all hashes; null
    text gives ``(id, null, 0, 0, '')``.

    One Arrow-batched pandas UDF runs :func:`_winnow_numpy_kernel`
    per document and receives only the text column; the result is a
    shuffle-free projection (``ArrowEvalPython``, plan-pinned) that
    composes into any scan."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    mod = ROLLING_MOD
    one = _winnow_numpy_kernel(k, w)

    def row(t):
        n, m, codes = one(t)
        if not codes.size:
            return (n, m, 0, "")
        ps, hv = np.divmod(codes, mod)
        return (
            n, m, int(codes.size),
            ",".join(map("%d:%d".__mod__, zip(ps.tolist(), hv.tolist()))),
        )

    @pandas_udf("struct<n_chars: long, n_kgrams: long, n_fps: long, "
                "fps: string>")
    def fp(texts: pd.Series) -> pd.DataFrame:
        return pd.DataFrame(
            [row(t) for t in texts],
            columns=["n_chars", "n_kgrams", "n_fps", "fps"],
        )

    res = df.select(id_col, fp(_col(text_col).cast("string")).alias("_fp"))
    return res.select(id_col, "_fp.n_chars", "_fp.n_kgrams", "_fp.n_fps",
                      "_fp.fps")


def winnow_hash_sets(df, text_col: str = "text", id_col: str = "doc_id",
                     k: int = 8, w: int = 4):
    """``(id, hv)``: each document's DISTINCT selected winnowing hash
    values as ``array<long>`` (codes mod ROLLING_MOD, positions
    dropped; empty for n < k and for null text) — the posting-list
    projection of :func:`winnow_overlap_pairs`."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    one = _winnow_numpy_kernel(k, w)
    mod = ROLLING_MOD

    @pandas_udf("array<long>")
    def hv(texts: pd.Series) -> pd.Series:
        return pd.Series([np.unique(one(t)[2] % mod).tolist() for t in texts])

    return df.select(
        F.col(id_col), hv(_col(text_col).cast("string")).alias("hv")
    )


def winnow_overlap_pairs(df, text_col: str = "text", id_col: str = "doc_id",
                         k: int = 8, w: int = 4, min_shared: int = 3,
                         max_df: int | None = None):
    """Cross-document overlap report over winnowing fingerprints (the
    MOSS comparison step): explode each doc's DISTINCT selected hash
    values (:func:`winnow_hash_sets`) into a (hash -> doc) posting
    list, self-join on the hash, and score each pair by
    shared-fingerprint count and containment (shared / smaller
    fingerprint set).

    Scale: text is hashed once; only (hash, id, n_fp) postings
    shuffle, never text. The pair generator is an equi-join on the
    hash value (AQE splits skewed buckets), and ``max_df`` is the
    production kill-switch for boilerplate fingerprints — a hash
    present in df docs (a site footer, a license header) generates
    df^2/2 pairs while carrying no overlap signal, so MOSS-style
    deployments drop top-df fingerprints before pairing. Under planted
    boilerplate the uncapped join's ANSWER is wrong, not just slow
    (every doc pair shares the footer's fingerprints), so ``max_df``
    is a correctness control; always set it at corpus scale
    (scripts/winnow_scale_run.py, scripts/winnow_skew_run.py,
    SCALE.md). ``min_shared`` suppresses incidental single-gram
    collisions. The hash-set frame is cached before the self-join so
    the Python kernel runs once per document, not once per consumer.

    The containment denominator is the distinct-hash-value set size
    (a position-repeated hash counts once), deliberately different
    from winnow_fingerprints' positional ``n_fps``.
    """
    fp = lane_cache(winnow_hash_sets(df, text_col, id_col, k, w))
    ex = fp.select(
        id_col, F.size("hv").alias("n_fp"), F.explode("hv").alias("h")
    )
    if max_df is not None:
        keep = (
            ex.groupBy("h").agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_df).select("h")
        )
        ex = ex.join(keep, "h")
    a, b = ex.alias("a"), ex.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.n_fp").alias("_na"),
            F.col("b.n_fp").alias("_nb"),
        )
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    return pairs.select(
        "id_a", "id_b", "n_shared",
        F.round(
            F.col("n_shared") / F.least("_na", "_nb"), 4
        ).alias("containment"),
    )


# ---------------------------------------------------------------------------
# count-min sketch: mergeable frequency state (heavy-hitter reports)
# ---------------------------------------------------------------------------

def _cms_bucket(token: Column, r: int, width: int) -> Column:
    """Row-r CMS bucket for ``token``: the portable md5-long family
    (same as minhash/bloom — DuckDB replays it bit-for-bit) mod width,
    salted per row so the depth rows are independent hash functions."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"cms{r}:"), token)), 1, 15),
            16, 10,
        ).cast("long") % width
    )


def token_cms_shard_sketches(df, shard_col: Column | str,
                             text_col: str = "text",
                             depth: int = 4, width: int = 1024):
    """Per-shard count-min sketch over the token stream as PERSISTABLE
    state: (shard, r, bucket, cnt) — depth*width counters per shard
    regardless of corpus size. The frequency twin of
    :func:`token_hll_shard_sketches`: HLL answers "how many distinct",
    CMS answers "how often is X" for any later candidate without
    re-reading text. Each ingest run sketches only its own shard;
    merging runs is EXACT counter addition (:func:`cms_merge`), so a
    100 TB corpus' token-frequency state accretes run over run at
    O(depth*width) rows per run.

    Estimate contract (:func:`cms_lookup`): est >= true count always
    (counters only ever add), and est <= true + eps*N with probability
    1-delta for eps = e/width, delta = e^-depth — the standard
    Cormode-Muthukrishnan bound.

    Build shape: ONE scan — tokens explode per row, then all depth
    (r, bucket) pairs explode from a single array projection (the
    bucket hashes sit at the top level of that projection, codegen'd;
    a union of depth selects would re-scan and re-tokenize the corpus
    depth times, since Spark does not dedupe common subplans across
    union branches — review fix, same shape as bloom_shard_blocks).
    The groupBy combines map-side into at most depth*width groups per
    shard.
    """
    toks = df.select(
        _col(shard_col).alias("shard"),
        F.explode(tokens(text_col)).alias("_tok"),
    )
    return (
        toks.select(
            "shard",
            F.explode(F.array(*[
                F.struct(
                    F.lit(r).alias("r"),
                    _cms_bucket(F.col("_tok"), r, width).alias("bucket"),
                )
                for r in range(depth)
            ])).alias("_rb"),
        )
        .groupBy("shard", F.col("_rb.r").alias("r"),
                 F.col("_rb.bucket").alias("bucket"))
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def cms_merge(sketches):
    """Merge CMS shard/run sketches: counter addition per (r, bucket).
    Input is any union of :func:`token_cms_shard_sketches` outputs —
    across shards, runs, or both; merging is exact (no estimate decay),
    associative, and commutative. Output drops the shard column."""
    return (
        sketches.groupBy("r", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def cms_lookup(cms, candidates, token_col: str = "tok",
               depth: int = 4, width: int = 1024):
    """Point-frequency estimates for candidate tokens against a merged
    CMS: min over the depth rows of the candidate's counter. An absent
    (r, bucket) counter means nothing ever hashed there -> 0.

    Scale shape: the sketch is depth*width rows — broadcast, so the
    lookup is exchange-free on the candidate side apart from the final
    per-candidate min re-group (carries one long per row). Candidates
    come from wherever the report wants them (exact top-k of a sample,
    an eval vocabulary, yesterday's heavy hitters) — the point of CMS
    is answering them WITHOUT rescanning the corpus.

    The candidate frame must not already carry columns named ``r``,
    ``bucket``, or ``cnt`` (the probe staging uses them). Probes
    explode from one array projection — a union of depth selects
    would re-execute the candidate plan (often itself an aggregate)
    depth times (review fix)."""
    stacked = candidates.select(
        "*",
        F.explode(F.array(*[
            F.struct(
                F.lit(r).alias("r"),
                _cms_bucket(F.col(token_col), r, width).alias("bucket"),
            )
            for r in range(depth)
        ])).alias("_rb"),
    ).select("*", F.col("_rb.r").alias("r"),
             F.col("_rb.bucket").alias("bucket")).drop("_rb")
    keep = [c for c in candidates.columns]
    return (
        stacked.join(F.broadcast(cms), ["r", "bucket"], "left")
        .groupBy(*keep)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0).cast("long")))
             .cast("long").alias("cms_est"))
    )


def collocation_pmi(df, text_col: str = "text", min_count: int = 5):
    """Bigram collocations scored by pointwise mutual information:
    PMI(x,y) = ln((c_xy/B) / ((c_x/N)(c_y/N))) over adjacent-token
    pairs — the association table tokenizer/vocab work reads to find
    multi-word units, and a quality signal (word-salad corpora score
    ~0 everywhere; real text has heavy collocation tails).

    Emits EVERY pair with c_xy >= min_count — no float top-k cut, so
    cross-engine ln ulp differences can never flip a rank across the
    cut; a production report adds its own cutoff (or orders by the
    exact integer triple (c_xy, c_x, c_y) if it needs a strict rank).
    All count products stay below 2^53 up to corpus sizes of ~10^8
    tokens per distinct token, so the double-math PMI input is EXACT
    and both engines round the same MAGNITUDE. The sign-of-zero
    channel is the one thing exact inputs + rounding do NOT close:
    for pmi in (-0.00005, 0), DuckDB's round() returns -0.0 while
    Spark's BigDecimal-backed round returns +0.0 (BigDecimal has no
    signed zero) — the oracle twin appends `+ 0` to normalize
    (IEEE: -0.0 + 0 = +0.0). Root cause of the r07 hash fail.

    Shape: unigram and pair counts are two map-side-combined hash aggs
    over per-row projections (the bigram stitch guards the
    sequence(1,0)-descends hazard like distinct_tokens_hll); the
    unigram table is vocab-scale -> broadcast twice (x side, y side);
    totals ride a one-row broadcast. Nothing fact-scale shuffles twice.

    Output: (x, y, c_xy long, pmi double rounded 4dp).
    """
    base = df.select(tokens(text_col).alias("_t"))
    unig = base.select(F.explode("_t").alias("tok"))
    # r12: native arrays_zip-of-slices stitch (whole-stage codegen)
    # instead of the interpreted transform/element_at lambda — same
    # bigram multiset, no per-element lambda evaluation; the same
    # sequence(1,0)-descends hazard guard stays via the F.when
    n = F.size("_t")
    pairs = base.select(
        F.explode(
            F.when(
                n >= 2,
                F.arrays_zip(
                    F.slice("_t", 1, n - 1).alias("x"),
                    F.slice("_t", 2, n - 1).alias("y"),
                ),
            ).otherwise(
                F.array().cast("array<struct<x:string,y:string>>")
            )
        ).alias("p")
    ).select("p.x", "p.y")

    uc = unig.groupBy("tok").agg(F.count("*").cast("long").alias("c"))
    bc = (
        pairs.groupBy("x", "y")
        .agg(F.count("*").cast("long").alias("c_xy"))
        .filter(F.col("c_xy") >= min_count)
    )
    totals = unig.agg(F.count("*").cast("long").alias("n_tok")).crossJoin(
        pairs.agg(F.count("*").cast("long").alias("n_big"))
    )
    ux = uc.select(F.col("tok").alias("x"), F.col("c").alias("c_x"))
    uy = uc.select(F.col("tok").alias("y"), F.col("c").alias("c_y"))
    return (
        bc.join(F.broadcast(ux), "x")
        .join(F.broadcast(uy), "y")
        .crossJoin(F.broadcast(totals))
        .select(
            "x", "y", "c_xy",
            F.round(
                F.log(
                    (F.col("c_xy").cast("double")
                     * F.col("n_tok") * F.col("n_tok"))
                    / (F.col("n_big").cast("double")
                       * F.col("c_x") * F.col("c_y"))
                ), 4
            ).alias("pmi"),
        )
    )


def classifier_calibration(df, text_col: str = "text",
                           id_col: str = "doc_id",
                           buckets: int = 1024,
                           n_bins: int = 10):
    """Calibration/threshold-tuning report over the hashed classifier:
    per score decile, document count, mean token count, and the
    score range actually observed — what you read before picking a
    quality cutoff (is the low tail short docs? is mass piling at one
    bin?). Bins are ``floor(score * n_bins)`` on the 4 dp-rounded
    score, clamped so score=1.0 lands in the top bin.

    Shape: the classifier's own plan (explode → codegen'd hash+weight
    → doc-key mean) plus one n_bins-group agg — nothing new shuffles
    at fact scale.

    Output: (bin long, n_docs, mean_tokens, min_score, max_score).
    """
    scored = hashed_classifier_score(df, text_col=text_col,
                                     id_col=id_col, buckets=buckets)
    b = F.least(
        F.floor(F.col("score") * n_bins), F.lit(n_bins - 1)
    ).cast("long")
    return (
        scored.groupBy(b.alias("bin"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(F.sum("n_tokens") / F.count("*"), 4)
            .alias("mean_tokens"),
            F.min("score").alias("min_score"),
            F.max("score").alias("max_score"),
        )
    )


def langid_confusion(df, lang_col: str = "lang",
                     text_col: str = "text"):
    """Confusion matrix of the stopword language-ID heuristic against
    a labeled lang column: (lang, lang_pred, n_docs, rate) with rate
    normalized per TRUE language — the accuracy artifact that decides
    whether the cheap heuristic is good enough per language or a
    model-based pass is needed.

    Shape: one (lang, pred)-key agg, then the per-lang totals join
    back via broadcast (the matrix is languages², dim-scale).

    Unlabeled docs (NULL lang) are kept as the 'unlabeled' row — a
    NULL key would silently vanish at the non-null-safe totals join
    and the matrix would under-report corpus coverage (review fix).
    """
    m = (
        df.select(
            F.coalesce(F.col(lang_col), F.lit("unlabeled")).alias("lang"),
            lang_id(text_col).alias("lang_pred"),
        )
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )
    totals = m.groupBy("lang").agg(F.sum("n_docs").alias("_total"))
    return (
        m.join(F.broadcast(totals), "lang")
        .select(
            "lang", "lang_pred", "n_docs",
            F.round(F.col("n_docs") / F.col("_total"), 4).alias("rate"),
        )
    )


def compression_signals(df, text_col: str = "text",
                        id_col: str = "doc_id", level: int = 6):
    """Per-document zlib compression ratio — the redundancy signal
    curation stacks use alongside Gopher rules (templated/boilerplate
    text compresses far below ~0.4; high-entropy garbage sits near
    1.0; natural prose lands between). DEFLATE level 6 is pinned: the
    byte stream is deterministic for a given zlib build, and the lane
    is registered rows-only because no SQL engine exposes zlib.

    Execution shape: an Arrow-batched pandas UDF; the per-row Python
    loop only drives C-speed zlib (same contract as the multimodal
    decoders) — ~100 MB/s/core, which a once-per-corpus scoring pass
    absorbs. NULL text yields NULL outputs; empty text compresses to
    the 8-byte zlib frame (ratio 8.0 against the 1-char floor) —
    upstream length gates drop both before this signal matters.

    Output: (id, n_bytes long, n_compressed long, ratio double 4 dp).
    """
    import zlib

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _comp_len(s: pd.Series) -> pd.Series:
        return s.map(
            lambda t: None if t is None
            else len(zlib.compress(t.encode("utf-8"), level))
        ).astype("Int64")

    n_bytes = F.octet_length(F.col(text_col)).cast("long")
    sized = df.select(
        F.col(id_col),
        n_bytes.alias("n_bytes"),
        _comp_len(F.col(text_col)).alias("n_compressed"),
    )
    return sized.select(
        id_col, "n_bytes", "n_compressed",
        F.round(
            F.col("n_compressed") / F.greatest(F.col("n_bytes"), F.lit(1)),
            4,
        ).alias("ratio"),
    )
