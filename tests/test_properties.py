"""Property-based tests (hypothesis) for the engine's core invariants:
the epoch-micros wire encoding round-trips any second-precision NTZ
timestamp, insert-only merge is a set union with target-wins, and AUTO
date parsing agrees across both accepted formats."""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

_TS = st.datetimes(
    min_value=dt.datetime(1900, 1, 1),
    max_value=dt.datetime(2199, 12, 31, 23, 59, 59),
).map(lambda d: d.replace(microsecond=0))

_SLOW = settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(st.lists(_TS, min_size=1, max_size=20))
@_SLOW
def test_epoch_micros_roundtrip(spark, tss):
    """encode(decode(ts)) == ts for any second-precision timestamp in
    [1900, 2200) — the VARIANT wire-format fidelity contract
    (SURVEY §7.3) without a formatter in the loop."""
    from snowflake_data_pipeline_demo_spark.functions.variant import (
        epoch_micros_to_ntz, ntz_to_epoch_micros,
    )

    df = spark.createDataFrame([(t,) for t in tss], "ts timestamp_ntz")
    out = df.select(
        "ts", epoch_micros_to_ntz(ntz_to_epoch_micros("ts")).alias("rt")
    ).collect()
    assert all(r["ts"] == r["rt"] for r in out)


@given(
    st.sets(st.integers(0, 50), max_size=12),
    st.sets(st.integers(0, 50), max_size=12),
)
@_SLOW
def test_insert_only_merge_is_target_wins_union(spark, target_keys, source_keys):
    """merge_result (the rows-to-append) == source \\ target on keys, so
    target ∪ result is a union where existing target rows keep their
    payload (no WHEN MATCHED branch anywhere in the reference)."""
    from snowflake_data_pipeline_demo_spark.operators.merge import merge_result

    schema = "k long, payload string"
    target = spark.createDataFrame([(k, f"t{k}") for k in target_keys], schema)
    source = spark.createDataFrame([(k, f"s{k}") for k in source_keys], schema)
    appended = {r["k"]: r["payload"]
                for r in merge_result(target, source, ["k"]).collect()}
    assert set(appended) == source_keys - target_keys
    assert all(appended[k] == f"s{k}" for k in appended)
    merged = {k: f"t{k}" for k in target_keys} | appended
    assert set(merged) == target_keys | source_keys
    assert all(merged[k] == f"t{k}" for k in target_keys)  # target wins


_KEYS = st.one_of(st.none(), st.integers(0, 12))


@given(
    st.lists(st.tuples(_KEYS, st.sampled_from("ab")), max_size=10),
    st.lists(st.tuples(_KEYS, st.sampled_from("ab")), max_size=16),
)
@_SLOW
def test_insert_only_merge_appends_merge_result(spark, tmp_path, target_rows,
                                                source_rows):
    """insert_only_merge (one dedupe job, driver anti-join) appends the
    rows of merge_result (dropDuplicates + Spark anti-join) when the
    source holds duplicate and NULL keys: the same keys, NULL ones
    included (a NULL key never matches), each with one of its source
    rows (merge_result keeps an arbitrary one per key)."""
    import uuid

    from pyspark.sql import types as T

    from snowflake_data_pipeline_demo_spark.operators.merge import (
        insert_only_merge, merge_result,
    )
    from snowflake_data_pipeline_demo_spark.sources.catalog import Table

    schema = T.StructType([T.StructField("k", T.LongType()),
                           T.StructField("payload", T.StringType())])
    table = Table(spark, str(tmp_path / uuid.uuid4().hex), schema)
    if target_rows:
        table.write_rows(target_rows)
    source = spark.createDataFrame(source_rows, schema)
    want = merge_result(table.read(), source, ["k"]).collect()
    n = insert_only_merge(table, source, ["k"])
    got = [tuple(r) for r in table.read().collect()]
    for r in target_rows:
        got.remove(r)

    def keys(rows):
        return sorted((r[0] is None, r[0] or 0) for r in rows)

    assert n == len(got)
    assert keys(got) == keys(want)
    assert set(got) <= set(source_rows)


@given(st.dates(min_value=dt.date(1900, 1, 1), max_value=dt.date(2199, 12, 31)))
@_SLOW
def test_to_date_auto_formats_agree(spark, d):
    """yyyy-MM-dd and M/d/yyyy parse to the same date (dp_demo.sql:115
    passes '01/10/2020' where setup uses ISO strings)."""
    from snowflake_data_pipeline_demo_spark.functions.scalars import to_date_auto

    iso = d.strftime("%Y-%m-%d")
    mdy = f"{d.month}/{d.day}/{d.year}"
    row = spark.range(1).select(
        to_date_auto(F.lit(iso)).alias("a"),
        to_date_auto(F.lit(mdy)).alias("b"),
    ).collect()[0]
    assert row["a"] == row["b"] == d


_TEXT = st.text(
    alphabet=st.sampled_from("abc XYZ012 .,-\n\té"), max_size=200
)


@given(st.lists(_TEXT, min_size=1, max_size=6))
@_SLOW
def test_chunking_covers_tokens_exactly(spark, texts):
    """Chunk invariants for arbitrary text (unicode, punctuation-only,
    empty): de-overlapped chunk concatenation reconstructs the token
    stream, every chunk is window-sized except possibly the tail, and
    empty docs emit nothing."""
    from snowflake_data_pipeline_demo_spark.operators.chunking import (
        chunk_by_tokens,
    )
    from snowflake_data_pipeline_demo_spark.operators.text import tokens

    window, stride = 8, 6
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string")
    toks = {
        r["doc_id"]: r["t"]
        for r in df.select("doc_id", tokens("text").alias("t")).collect()
    }
    chunks: dict = {}
    for r in chunk_by_tokens(df, window=window, stride=stride).collect():
        chunks.setdefault(r["doc_id"], []).append(r)
    for did, t in toks.items():
        got = sorted(chunks.get(did, []), key=lambda r: r["chunk_id"])
        if not t:
            assert got == []
            continue
        # reconstruct: first chunk whole, then the non-overlapped tail
        # of each subsequent chunk
        rebuilt = []
        for r in got:
            ch = r["chunk_text"].split(" ") if r["chunk_text"] else []
            assert len(ch) == r["n_chunk_tokens"] <= window
            rebuilt.extend(ch if not rebuilt else ch[window - stride:])
        assert rebuilt == t
        # every chunk starts at chunk_id*stride < len(t)
        assert all(r["chunk_id"] * stride < len(t) for r in got)


@given(st.lists(st.integers(0, 40), min_size=1, max_size=12))
@_SLOW
def test_pack_offsets_are_exclusive_prefix_sums(spark, sizes):
    """pack_sequences offsets equal the serial exclusive prefix sum for
    any chunk-size sequence, regardless of partitioning."""
    from snowflake_data_pipeline_demo_spark.operators.packing import (
        pack_sequences,
    )

    rows = [(i, 0, n) for i, n in enumerate(sizes)]
    df = spark.createDataFrame(
        rows, "doc_id long, chunk_id long, n_chunk_tokens long"
    ).repartition(4)
    got = {r["doc_id"]: r["token_offset"]
           for r in pack_sequences(df, seq_len=16).collect()}
    acc = 0
    for i, n in enumerate(sizes):
        assert got[i] == acc
        acc += n


@given(
    st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)),
        max_size=30,
    ),
)
@settings(
    max_examples=4, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_bigstar_components_match_union_find(spark, edges):
    """Both component algorithms must label every node with the true
    min-reachable id on arbitrary random graphs — checked against a
    driver-side union-find."""
    from snowflake_data_pipeline_demo_spark.operators.dedup import (
        components_from_pairs,
    )

    nodes = sorted({n for e in edges for n in e} | {0, 24})
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in nodes}

    ids = spark.createDataFrame([(n,) for n in nodes], "doc_id long")
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b] or [(0, 0)],
        "id_a long, id_b long",
    )
    got_big = {r["doc_id"]: r["component_id"]
               for r in components_from_pairs(
                   ids, pairs, algorithm="bigstar").collect()}
    assert got_big == want
    got_prop = {r["doc_id"]: r["component_id"]
                for r in components_from_pairs(ids, pairs).collect()}
    assert got_prop == want
    # r10: the escalate default must hold the same truth even when the
    # round budget is absurd — max_iter=1 leaves any multi-hop graph
    # unconverged, and the bigstar finish over the label-contracted
    # graph must still land every node on its true min (the property
    # generalization of the deterministic chain pin)
    got_esc = {r["doc_id"]: r["component_id"]
               for r in components_from_pairs(
                   ids, pairs, max_iter=1).collect()}
    assert got_esc == want


@given(
    st.lists(
        st.text(alphabet="ab .x", min_size=0, max_size=40),
        min_size=1, max_size=8,
    ),
)
@_SLOW
def test_repetition_agg_twin_matches_array_form(spark, texts):
    """The shuffle-side repetition operator must equal the per-doc
    n-gram arrays of the pure-Python replay on arbitrary degenerate
    inputs (tiny alphabet forces heavy n-gram repetition; '.'/' '
    exercise tokenizer edges)."""
    from oracle_utils import repetition_replay
    from snowflake_data_pipeline_demo_spark.operators import text as T

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    cols = ["dup_unigram_frac", "dup_bigram_frac", "dup_trigram_frac"]
    b = {r["doc_id"]: tuple(r[c] for c in cols)
         for r in T.repetition_metrics(df).collect()}
    assert b == {i: repetition_replay(t) for i, t in enumerate(texts)}


@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50)),
        min_size=1, max_size=40,
    ),
    st.integers(1, 5),
)
@_SLOW
def test_group_quota_topk_matches_naive_window(spark, rows, k):
    """The salted two-phase quota equals the naive per-group window for
    any (group, score) multiset and any k — the correctness claim the
    skew-proof rewrite rests on."""
    from pyspark.sql import Window

    from snowflake_data_pipeline_demo_spark.operators.sampling import (
        group_quota_topk,
    )

    df = spark.createDataFrame(
        [(i, f"g{g}", s) for i, (g, s) in enumerate(rows)],
        "doc_id long, source string, n_chars long",
    ).repartition(4)
    got = group_quota_topk(df, k=k, salt_buckets=3,
                           mode="salted").collect()
    w = Window.partitionBy("source").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    want = (
        df.withColumn("quota_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("quota_rank") <= k)
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


@given(st.lists(st.integers(0, 30), min_size=1, max_size=15))
@_SLOW
def test_shard_offsets_are_exclusive_prefix_sums(spark, sizes):
    from snowflake_data_pipeline_demo_spark.operators.packing import (
        shard_by_token_budget,
    )

    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(sizes)], "doc_id long, n long"
    ).repartition(3)
    got = {
        r["doc_id"]: (r["token_offset"], r["shard"])
        for r in shard_by_token_budget(
            df, budget=16, tokens_col="n"
        ).collect()
    }
    raw, acc = [], 0
    for n in sizes:
        raw.append(acc // 16)
        acc += n
    # shard ids are the DENSE rank of the floor bucket (an over-budget
    # doc may skip raw bucket values; directories must stay contiguous)
    rank = {v: i for i, v in enumerate(sorted(set(raw)))}
    acc = 0
    for i, n in enumerate(sizes):
        assert got[i] == (acc, rank[acc // 16])
        acc += n


@given(st.sets(st.integers(0, 10_000), min_size=1, max_size=40))
@_SLOW
def test_global_shuffle_permutation_property(spark, ids):
    from snowflake_data_pipeline_demo_spark.operators.sampling import (
        deterministic_global_shuffle,
    )

    df = spark.createDataFrame(
        [(i,) for i in ids], "doc_id long"
    ).repartition(4)
    got = deterministic_global_shuffle(df).collect()
    assert sorted(r["shuffle_rank"] for r in got) == list(range(len(ids)))
    # rank order == lexicographic md5 order
    by_rank = sorted(got, key=lambda r: r["shuffle_rank"])
    keys = [r["shuffle_key"] for r in by_rank]
    assert keys == sorted(keys)


@given(st.lists(st.text(alphabet="ab ", max_size=12), min_size=1, max_size=6))
@_SLOW
def test_chunk_dedup_keeps_each_chunk_exactly_once(spark, texts):
    """Every distinct chunk text survives exactly once corpus-wide, and
    each doc's reassembled text is the in-order concatenation of a
    subset of its original chunks."""
    from snowflake_data_pipeline_demo_spark.operators.chunking import (
        chunk_by_tokens,
    )
    from snowflake_data_pipeline_demo_spark.operators.dedup import (
        chunk_dedup_reassemble,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = chunk_dedup_reassemble(df, window=2).collect()
    chunks = chunk_by_tokens(df, window=2, stride=2).collect()
    distinct = {r["chunk_text"] for r in chunks}
    assert sum(r["kept_chunks"] for r in out) == len(distinct)
    orig = {
        d: [r["chunk_text"] for r in sorted(
            (c for c in chunks if c["doc_id"] == d),
            key=lambda c: c["chunk_id"],
        )]
        for d in {c["doc_id"] for c in chunks}
    }
    for r in out:
        # reassembled text = in-order concat of a subset of the doc's
        # chunks: strip chunks greedily left-to-right, nothing remains
        remaining = r["deduped_text"]
        for c in orig[r["doc_id"]]:
            if remaining == c or remaining.startswith(c + " "):
                remaining = remaining[len(c):].lstrip()
        assert remaining == ""


@given(
    st.lists(st.sampled_from(["a", "b", "ab", "aa"]), min_size=1, max_size=10),
    st.sampled_from([("a", "a"), ("a", "b"), ("b", "a"), ("aa", "b")]),
)
@_SLOW
def test_bpe_merge_fold_matches_classic_scan(spark, syms, pair):
    """The string-fold merge application equals the reference trainer's
    greedy left-to-right i+=2 scan for arbitrary symbol sequences."""
    from snowflake_data_pipeline_demo_spark.operators.text import (
        _apply_bpe_merge,
    )

    x, y = pair
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == x and syms[i + 1] == y:
            out.append(x + y)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    want = " ".join(out)
    df = spark.createDataFrame([(" ".join(syms),)], "seq string")
    got = df.select(_apply_bpe_merge(F.col("seq"), x, y).alias("m")) \
        .collect()[0]["m"]
    assert got == want, f"{syms} under {pair}: {got!r} != {want!r}"


@given(st.lists(
    st.lists(st.integers(0, 5), min_size=1, max_size=4),
    min_size=1, max_size=8,
))
@_SLOW
def test_paragraph_dedup_invariants(spark, doc_paras):
    """For any corpus built from a small paragraph pool: (1) every
    distinct normalized paragraph survives in EXACTLY one document,
    (2) the survivor is its first (doc, pos) occurrence, (3) per-doc
    counts are consistent and reassembly preserves original order."""
    from snowflake_data_pipeline_demo_spark.operators.dedup import (
        paragraph_dedup,
    )

    pool = [f"paragraph number {i} content" for i in range(6)]
    rows = [
        (d, "\n\n".join(pool[p] for p in paras))
        for d, paras in enumerate(doc_paras)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in paragraph_dedup(df).collect()}

    # replay the keep-first rule in plain python
    seen: set = set()
    for d, paras in enumerate(doc_paras):
        expect_kept = []
        for p in paras:
            if p not in seen:
                seen.add(p)
                expect_kept.append(pool[p])
        r = got[d]
        assert r["n_paragraphs"] == len(paras)
        assert r["kept_paragraphs"] == len(expect_kept)
        assert r["deduped_text"] == "\n\n".join(expect_kept)

    # global: every distinct paragraph appears exactly once
    all_kept = [
        p for r in got.values() if r["deduped_text"]
        for p in r["deduped_text"].split("\n\n")
    ]
    assert len(all_kept) == len(set(all_kept))
    assert set(all_kept) == {pool[p] for ps in doc_paras for p in ps}


@given(
    st.lists(st.integers(0, 10**9), min_size=1, max_size=25),
    st.integers(1, 5),
)
@_SLOW
def test_histogram_quantiles_match_type1_within_envelope(
    spark, vals, n_shards
):
    """For ANY nonnegative value list and ANY shard split: (a) the
    merged histogram quantile equals the single-shard one (bucket-sum
    merging is exact, sharding can never change the answer), and
    (b) every reported quantile sits within the documented
    multiplicative envelope (1/sqrt(gamma), sqrt(gamma)] of the exact
    type-1 quantile (0.0 exactly, when the true quantile is 0)."""
    import math

    from snowflake_data_pipeline_demo_spark.operators import text as T

    gamma = 1.1
    qs = (0.25, 0.5, 0.9)
    df = spark.createDataFrame(
        [(i, v, "g") for i, v in enumerate(vals)],
        "doc_id long, n_chars long, source string",
    )
    sharded = T.histogram_merge_quantiles(
        T.length_histogram_shard_sketches(
            df, (F.col("doc_id") % n_shards).cast("long"), gamma=gamma),
        qs=qs, gamma=gamma,
    ).collect()[0]
    single = T.histogram_merge_quantiles(
        T.length_histogram_shard_sketches(df, F.lit(0), gamma=gamma),
        qs=qs, gamma=gamma,
    ).collect()[0]
    assert sharded.asDict() == single.asDict()
    assert sharded["n_values"] == len(vals)

    ordered = sorted(vals)
    for q in qs:
        true = ordered[math.ceil(q * len(ordered)) - 1]
        got = sharded[f"p{int(q * 100)}"]
        if true == 0:
            assert got == 0.0
        else:
            r = got / true
            assert 1 / math.sqrt(gamma) < r <= math.sqrt(gamma) + 1e-9, (
                q, true, got)


@given(
    st.sets(st.text(st.characters(min_codepoint=33, max_codepoint=1000),
                    min_size=1, max_size=12), min_size=1, max_size=25),
    st.sets(st.text(st.characters(min_codepoint=33, max_codepoint=1000),
                    min_size=1, max_size=12), max_size=25),
)
@_SLOW
def test_bloom_never_false_negative(spark, members, probes):
    """For ANY key sets (unicode included), every built key probes
    true — the Bloom guarantee holds under arbitrary inputs, not just
    the fixture's ascii fingerprints. Probe keys outside the member
    set may collide (false positive) but must never crash."""
    from snowflake_data_pipeline_demo_spark.operators import dedup

    m = spark.createDataFrame(
        [(i, k) for i, k in enumerate(sorted(members))],
        "doc_id long, fp string")
    blocks = dedup.bloom_merge(dedup.bloom_shard_blocks(m, "fp"))
    got = dedup.bloom_probe(m, blocks, "fp").collect()
    assert all(r["maybe_member"] for r in got)
    p = spark.createDataFrame(
        [(i, k) for i, k in enumerate(sorted(members | probes))],
        "doc_id long, fp string")
    out = dedup.bloom_probe(p, blocks, "fp").collect()
    by_key = {r["fp"]: r["maybe_member"] for r in out}
    assert all(by_key[k] for k in members)


@given(st.lists(
    st.text(st.sampled_from("ab "), min_size=0, max_size=30),
    min_size=1, max_size=10,
))
@_SLOW
def test_cms_estimate_dominates_exact_count(spark, texts):
    """CMS one-sided guarantee under arbitrary tiny-alphabet corpora
    (maximal collisions): exact <= est <= exact + eps*N for every
    token, and cross-shard merge equals a single build exactly."""
    import math

    from snowflake_data_pipeline_demo_spark.operators import text as T

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    width, depth = 4, 3  # tiny: force heavy collisions
    merged = T.cms_merge(T.token_cms_shard_sketches(
        docs, (F.col("doc_id") % 3).cast("long"),
        depth=depth, width=width))
    exact = (
        docs.select(F.explode(T.tokens("text")).alias("tok"))
        .groupBy("tok").agg(F.count("*").cast("long").alias("exact_cnt"))
    )
    looked = T.cms_lookup(merged, exact, token_col="tok",
                          depth=depth, width=width).collect()
    n = sum(r["exact_cnt"] for r in looked)
    eps = math.e / width
    for r in looked:
        assert r["exact_cnt"] <= r["cms_est"] <= r["exact_cnt"] + eps * n


@given(st.lists(
    st.text(alphabet="ab \t\n", min_size=0, max_size=40),
    min_size=1, max_size=8,
), st.integers(min_value=1, max_value=20))
@_SLOW
def test_truncate_chars_matches_python_replay(spark, texts, budget):
    """A third engine for the truncation contract: replay the rule in
    plain Python over hypothesis-generated whitespace-heavy text
    (where the \\z-anchor review bug lived) and require byte equality.
    Rule: <=budget passes through; else cut at budget, drop the
    trailing non-whitespace run ONLY if the char after the cut is
    non-whitespace, then strip trailing whitespace."""
    import hashlib

    from snowflake_data_pipeline_demo_spark.operators import chunking

    def replay(t: str) -> str:
        if len(t) <= budget:
            return t
        p = t[:budget]
        if not t[budget].isspace():
            ws = [i for i, ch in enumerate(p) if ch.isspace()]
            p = p[:ws[-1] + 1] if ws else ""
        return p.rstrip(" \t\n")

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    rows = {r["doc_id"]: r for r in
            chunking.truncate_chars(df, budget=budget).collect()}
    for i, t in enumerate(texts):
        exp = replay(t)
        got = rows[i]
        assert got["fp_out"] == hashlib.md5(exp.encode()).hexdigest(), (
            repr(t), budget, repr(exp), got["n_chars_out"])
        assert got["n_chars_out"] == len(exp)


@given(
    st.sets(st.integers(0, 30), max_size=15),
    st.sets(st.integers(0, 30), max_size=15),
)
@_SLOW
def test_snapshot_diff_is_set_algebra(spark, old_ids, new_ids):
    """added/removed/kept must be exactly the set differences of the
    two snapshots' distinct contents."""
    from snowflake_data_pipeline_demo_spark.operators import curation

    def frame(ids):
        return spark.createDataFrame(
            [(i, "s", f"content {i}") for i in sorted(ids)] or
            [(None, None, None)],
            "doc_id long, source string, text string",
        ).filter(F.col("doc_id").isNotNull())

    rows = curation.snapshot_diff(frame(old_ids), frame(new_ids)).collect()
    if not (old_ids | new_ids):
        assert rows == []
        return
    [r] = rows
    assert r["n_old"] == len(old_ids)
    assert r["n_new"] == len(new_ids)
    assert r["n_added"] == len(new_ids - old_ids)
    assert r["n_removed"] == len(old_ids - new_ids)
    assert r["n_kept"] == len(old_ids & new_ids)


@given(st.lists(
    st.text(st.sampled_from("ab x"), min_size=0, max_size=60),
    min_size=1, max_size=6,
))
@_SLOW
def test_winnow_fingerprints_match_python_replay(spark, texts):
    """winnow_fingerprints equals a pure-Python Schleimer'03 replay for
    ANY tiny-alphabet text (maximal hash ties stress the rightmost-min
    tie-break; whitespace stresses normalization), and the selection
    satisfies the winnowing COVERAGE guarantee: every w-window of
    k-gram positions contains at least one selected position — the
    property that makes any >= w+k-1 char match detectable."""
    from oracle_utils import fps_pairs, winnow_replay

    from snowflake_data_pipeline_demo_spark.operators.text import (
        winnow_fingerprints,
    )

    k, w = 4, 3
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {r["doc_id"]: tuple(r)[1:]
           for r in winnow_fingerprints(df, k=k, w=w).collect()}
    for i, t in enumerate(texts):
        want = winnow_replay(t, k, w)
        assert got[i] == want, (t, got[i], want)
        # coverage guarantee over the replayed positions
        pos = {p for p, _ in fps_pairs(want[3])}
        n_k = want[1]
        if pos:
            for j in range(1, max(n_k - w + 1, 1) + 1):
                assert pos & set(range(j, j + w)), (t, j, sorted(pos))


@given(
    st.text(st.sampled_from("abc"), min_size=0, max_size=25),
    st.text(st.sampled_from("abc"), min_size=0, max_size=25),
    st.text(st.sampled_from("abcd"), min_size=6, max_size=20),
)
@_SLOW
def test_winnow_shared_substring_guarantees_shared_fingerprint(
        spark, prefix, suffix, shared):
    """The Schleimer'03 theorem the plagiarism lanes stand on: two
    documents sharing ANY substring of length >= w + k - 1 (in the
    normalized stream) select at least one common fingerprint HASH —
    under arbitrary surrounding text and a tiny alphabet (worst case
    for ties). k=4, w=3 -> shared >= 6 chars suffices."""
    from oracle_utils import fps_pairs

    from snowflake_data_pipeline_demo_spark.operators.text import (
        winnow_fingerprints,
    )

    k, w = 4, 3
    doc_a = prefix + shared
    doc_b = shared + suffix
    df = spark.createDataFrame(
        [(0, doc_a), (1, doc_b)], "doc_id long, text string")
    got = {r["doc_id"]: {h for _, h in fps_pairs(r["fps"])}
           for r in winnow_fingerprints(df, k=k, w=w).collect()}
    assert got[0] & got[1], (doc_a, doc_b, got)


@given(
    st.integers(min_value=1, max_value=10 ** 9),
    st.floats(min_value=1e-6, max_value=0.5),
)
@settings(max_examples=300, deadline=None)
def test_bloom_size_realizes_at_or_under_target(n, p):
    """bloom_size's at-or-under promise for ANY (n, fpr): the
    closed-form bound (1 - e^{-kn/m})^k at the returned size must not
    exceed the target (the r07 review found inputs where the
    power-of-two round-up alone did NOT provide enough slack and the
    doubling loop is required), m stays a power of two >= one 32-bit
    block, and k >= 1. Pure math — no Spark session."""
    import math

    from snowflake_data_pipeline_demo_spark.operators.dedup import (
        bloom_size,
    )

    m, k = bloom_size(n, p)
    assert m & (m - 1) == 0 and m >= 32
    assert k >= 1
    assert (1 - math.exp(-k * n / m)) ** k <= p * (1 + 1e-12), (n, p, m, k)


@given(st.lists(
    st.tuples(st.integers(0, 14), st.integers(0, 14)),
    min_size=0, max_size=25,
))
@_SLOW
def test_incremental_component_merge_equals_recompute(spark, all_edges):
    """merge_components_incremental == full recompute over the union
    graph, for ANY random edge set split into a 'history' half and a
    'batch' half: history collapses to its persisted (id -> label)
    star edges, the batch contributes its pairs, and the merged labels
    must equal components_from_pairs over ALL edges at once. This is
    the star-contraction equivalence the day-2 run-book stands on,
    held for arbitrary graphs rather than the oracle lane's fixture
    (hidden bridge nodes, self-loops, duplicate edges included)."""
    from snowflake_data_pipeline_demo_spark.operators.dedup import (
        components_from_pairs, merge_components_incremental,
    )

    ids = list(range(15))
    split = len(all_edges) // 2
    hist_edges, batch_edges = all_edges[:split], all_edges[split:]
    ids_df = spark.createDataFrame([(i,) for i in ids], "doc_id long")

    def pairs_df(edges):
        rows = [(min(a, b), max(a, b)) for a, b in edges if a != b]
        return spark.createDataFrame(
            rows or [], "id_a long, id_b long")

    hist = components_from_pairs(ids_df, pairs_df(hist_edges))
    merged = merge_components_incremental(
        hist, ids_df.limit(0), pairs_df(batch_edges))
    full = components_from_pairs(ids_df, pairs_df(all_edges))
    got = {r["doc_id"]: r["component_id"] for r in merged.collect()}
    want = {r["doc_id"]: r["component_id"] for r in full.collect()}
    assert got == want
