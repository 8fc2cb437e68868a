"""The local replica of the driver's t2 gate: every registry query with
an oracle must match DuckDB at sf0.001 (driver runs sf0.01)."""

from __future__ import annotations

import pytest

from conftest import SF_ORACLE
from oracle_utils import bigdecimal_round, midpoint_corpus


def _registry():
    from snowflake_data_pipeline_demo_spark.plans.queries import QUERIES

    return QUERIES


#: each lane's output schema as test_query_matches_oracle built it, so
#: test_registry_schema_is_driver_hashable checks it without a second
#: build of the lane
_SCHEMAS: dict = {}


@pytest.mark.parametrize("name", list(_registry().keys()))
def test_query_matches_oracle(spark, name):
    from oracle_utils import compare

    q = _registry()[name]
    df = q.builder(spark, SF_ORACLE)
    _SCHEMAS[name] = df.schema
    if q.oracle is None:
        assert df.count() >= 0  # rows-only check (driver's weaker gate)
        return
    problems = compare(df, q.oracle, SF_ORACLE)
    assert not problems, f"{name}: " + "; ".join(problems)


def test_entry_smoke(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"program_name", "acct", "num_trips"} <= set(df.columns)


@pytest.mark.parametrize("alias, lane", [
    ("x_semdedup_prod", "x_semdedup"),
    ("x_repetition_metrics_prod", "x_repetition_metrics"),
    ("x_embed_covariance_prod", "x_embed_covariance"),
    ("x_sim_lsh_ann_prod", "x_sim_lsh_ann"),
])
def test_deleted_arm_name_aliases_its_lane(alias, lane):
    """A deleted arm's lane name stays registered (the name set is a
    contract) as an alias of the surviving builder and its oracle; the
    registry keeps 129 names, 123 of them DuckDB-gated."""
    q = _registry()
    assert q[alias].builder.__wrapped__ is q[lane].builder.__wrapped__
    assert q[alias].oracle == q[lane].oracle is not None
    assert (len(q), sum(x.oracle is not None for x in q.values())) == (129, 123)


def test_minhash_xxhash_lane_matches_its_xxhash64_replay(spark):
    """x_dedup_minhash_xxhash stays rows-only in the registry (DuckDB has
    no xxhash64), so it is gated here: the pure-Python spark_xxhash64
    first equals Spark's xxhash64 on multi-byte and 32+ byte strings,
    then runs as a DuckDB function inside the md5 lane's oracle, and the
    lane must equal that oracle."""
    from duckdb.typing import BIGINT, INTEGER, VARCHAR
    from oracle_utils import compare, duckdb_conn, spark_xxhash64
    from pyspark.sql import functions as F

    from snowflake_data_pipeline_demo_spark.plans.oracle_round import (
        spark_round_oracle,
    )
    from snowflake_data_pipeline_demo_spark.plans.queries_ext import (
        _minhash_lsh_oracle,
    )

    words = ["", "a", "abc", "héllo wörld", "日本語のテキスト", "emoji 🙂 ok",
             "x" * 31, "y" * 32, "the quick brown fox jumps over the lazy dog"]
    df = spark.createDataFrame([(w,) for w in words], "s string")
    for i in (0, 7, 15):
        got = [r[0] for r in df.select(F.xxhash64(F.lit(i), "s")).collect()]
        assert got == [spark_xxhash64(i, w) for w in words], i

    con = duckdb_conn(SF_ORACLE)
    con.create_function("spark_xxhash64", spark_xxhash64, [INTEGER, VARCHAR], BIGINT)
    oracle = spark_round_oracle(
        _minhash_lsh_oracle("spark_xxhash64(CAST(h AS INTEGER), x)"))
    lane = _registry()["x_dedup_minhash_xxhash"].builder(spark, SF_ORACLE)
    assert con.execute(f"SELECT count(*) FROM ({oracle})").fetchone()[0] > 0
    problems = compare(lane, oracle, SF_ORACLE, con=con)
    assert not problems, problems


def test_oracle_keys_subset_of_queries():
    import __spark_entry__ as entrymod

    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert set(o) <= set(q)


@pytest.mark.parametrize("name", list(_registry().keys()))
def test_registry_schema_is_driver_hashable(spark, name):
    """The driver's canonicalizer (pandas sort_values over raw object
    columns) crashes on container values — every ORACLE-GATED registry
    query must emit only atomic columns (x_token_ids and
    x_pack_boundaries once shipped array<long> and crashed it). Rows-only
    queries are exempt: the driver never canonicalizes them. Reads the
    schema test_query_matches_oracle recorded; builds the lane only
    when that test did not run (a ``-k`` selection)."""
    from pyspark.sql import types as T

    q = _registry()[name]
    if q.oracle is None:
        return
    schema = _SCHEMAS.get(name) or q.builder(spark, SF_ORACLE).schema
    bad = [
        f.name for f in schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]
    assert not bad, (
        f"{name}: non-atomic columns {bad} would crash the driver's "
        "canonicalizer — serialize to string in query AND oracle"
    )


_ROWS_ONLY = [n for n, q in _registry().items() if q.oracle is None]


@pytest.mark.parametrize("name", _ROWS_ONLY)
def test_rows_only_lane_is_deterministic_across_invocations(spark, name):
    """Every no-oracle lane's driver check is rows-only, so its entire
    guarantee rests on DETERMINISM: two independent invocations (fresh
    temp tables / fresh k-means where applicable) must produce
    identical rows. Derandomized by construction (xxhash64 signatures,
    id-ordered batches and samples, farthest-point k-means init);
    this pin keeps the whole category that way."""
    from snowflake_data_pipeline_demo_spark.plans.queries import QUERIES

    b = QUERIES[name].builder
    sf = "/root/testdata/sf0.001"

    def run():
        return sorted(
            tuple(str(v) for v in row) for row in b(spark, sf).collect()
        )

    r1, r2 = run(), run()
    assert r1 == r2 and r1


class TestComparatorSignedZero:
    """Pins the r08 comparator hardening: the r07 hash-fail class
    (DuckDB round() -> -0.0 vs Spark BigDecimal round -> +0.0) shipped
    silently because the old 'bit-exact' check used IEEE `==`, which
    says -0.0 == 0.0. The hardened check compares float BIT patterns
    and must FAIL on the unfixed divergence; the negative-zero sweep
    must flag -0.0 even when both engines agree."""

    def test_signed_zero_divergence_is_caught(self):
        import pandas as pd
        from oracle_utils import float_column_problems

        a = pd.Series([1.5, 0.0, -2.25])
        b = pd.Series([1.5, -0.0, -2.25])
        probs = float_column_problems("pmi", a, b)
        assert probs, "old `==` blind spot: -0.0 vs +0.0 must be flagged"
        assert "signed-zero" in probs[0] and "WILL fail" in probs[0]

    def test_bit_identical_floats_pass(self):
        import pandas as pd
        from oracle_utils import float_column_problems

        a = pd.Series([1.5, 0.0, float("nan"), -2.25])
        b = pd.Series([1.5, 0.0, float("nan"), -2.25])
        assert float_column_problems("cov", a, b) == []

    def test_nan_mismatch_is_caught(self):
        import pandas as pd
        from oracle_utils import float_column_problems

        a = pd.Series([1.0, float("nan")])
        b = pd.Series([1.0, 0.0])
        assert float_column_problems("x", a, b)

    def test_negative_zero_sweep_flags_agreeing_neg_zero(self):
        import pandas as pd
        from oracle_utils import negative_zero_sweep

        df = pd.DataFrame({"cov": [0.5, -0.0], "n": [1, 2]})
        probs = negative_zero_sweep({"spark": df, "duckdb": df})
        assert len(probs) == 2  # flagged on BOTH sides
        assert all("negative-zero" in p for p in probs)

    def test_negative_zero_sweep_clean_on_positive_zero(self):
        import pandas as pd
        from oracle_utils import negative_zero_sweep

        df = pd.DataFrame({"cov": [0.0, 1.25], "name": ["a", "b"]})
        assert negative_zero_sweep({"spark": df, "duckdb": df}) == []

    def test_unfixed_pmi_covariance_oracles_would_fail(self):
        """End-to-end proof of the verdict's done-criterion: the
        PRE-FIX oracle SQL (no `+ 0`) run on DuckDB emits -0.0 at
        sf0.001+ scales where any rounded value lands in
        (-0.00005, 0); the FIXED oracle never does. Synthesized here
        engine-side so the pin holds even at SFs where the sf0.01
        corpus coincidence doesn't reproduce."""
        import duckdb

        con = duckdb.connect()
        unfixed, fixed = con.execute(
            "SELECT round(CAST(-0.00001 AS DOUBLE), 4),"
            "       round(CAST(-0.00001 AS DOUBLE), 4) + 0"
        ).fetchone()
        import math as m
        assert m.copysign(1, unfixed) < 0, "DuckDB round must emit -0.0"
        assert m.copysign(1, fixed) > 0, "`+ 0` must normalize to +0.0"

    def test_matching_infinities_pass(self):
        """r08 review pass 2: the vectorized closeness check must keep
        math.isclose's non-finite semantics — inf is close ONLY to the
        same-signed inf (inf - inf = nan and 1e-12 * inf = inf would
        otherwise misgrade both directions)."""
        import pandas as pd
        from oracle_utils import float_column_problems

        a = pd.Series([1.0, float("inf"), float("-inf")])
        b = pd.Series([1.0, float("inf"), float("-inf")])
        assert float_column_problems("x", a, b) == []

    def test_inf_vs_finite_is_a_value_mismatch(self):
        import pandas as pd
        from oracle_utils import float_column_problems

        a = pd.Series([float("inf")])
        b = pd.Series([1.0])
        probs = float_column_problems("x", a, b)
        assert probs and "value mismatches" in probs[0]

    def test_opposite_sign_infinities_mismatch(self):
        import pandas as pd
        from oracle_utils import float_column_problems

        a = pd.Series([float("inf")])
        b = pd.Series([float("-inf")])
        probs = float_column_problems("x", a, b)
        assert probs and "value mismatches" in probs[0]


class TestRoundConformance:
    """Pins the r08 rounding-conformance discovery (plans/
    oracle_round.py): DuckDB round(double, s) rounds the scaled BINARY
    value, Spark F.round rounds the shortest DECIMAL STRING — they
    diverge on every double whose repr is an exact s-dp midpoint
    (reachable as exact count ratios, e.g. 3/20000 = 0.00015), plus
    the signed-zero channel. The house macro replicates Spark's
    semantics in DuckDB; the @query decorator applies it to every
    oracle mechanically."""

    def test_duckdb_plain_round_diverges_on_midpoints(self):
        """The discovery pin: if this ever starts passing with 0
        divergences, DuckDB changed its rounding and the macro can be
        retired."""
        import duckdb
        import numpy as np
        import pandas as pd

        xs = midpoint_corpus()
        con = duckdb.connect()
        con.register("arr", pd.DataFrame({"x": xs}))
        d = con.execute(
            "SELECT round(x, 4) + 0 AS r FROM arr"
        ).fetchdf()["r"].to_numpy()
        ref = np.array([bigdecimal_round(x) for x in xs])
        assert (d.view("int64") != ref.view("int64")).sum() >= 10, (
            f"DuckDB {duckdb.__version__} no longer diverges from "
            "BigDecimal string rounding on exact midpoints — the "
            "ENVIRONMENT changed semantics (macro was pinned against "
            "an earlier DuckDB), the macro did not break. Re-measure: "
            "the oracle_round macro can likely be retired."
        )

    def test_macro_matches_bigdecimal_reference(self):
        """The fix pin: the house macro is bit-exact vs the reference
        on the midpoint corpus AND uniform random draws over the
        magnitude bands lanes emit."""
        import duckdb
        import numpy as np
        import pandas as pd

        from snowflake_data_pipeline_demo_spark.plans.oracle_round import (
            spark_round_oracle,
        )

        rng = np.random.default_rng(7)
        xs = (midpoint_corpus()
              + [float(v) for v in rng.uniform(-1, 1, 20000)]
              + [float(v) for v in rng.uniform(-1e-4, 1e-4, 20000)]
              + [float(v) for v in rng.uniform(-1e6, 1e6, 10000)])
        con = duckdb.connect()
        con.register("arr", pd.DataFrame({"x": xs}))
        sql = spark_round_oracle("SELECT round(x, 4) AS r FROM arr")
        d = con.execute(sql).fetchdf()["r"].to_numpy()
        ref = np.array([bigdecimal_round(x) for x in xs])
        neq = d.view("int64") != ref.view("int64")
        assert not neq.any(), (
            f"{int(neq.sum())} divergences; first: "
            f"{[repr(xs[i]) for i in np.flatnonzero(neq)[:3]]}"
        )

    def test_spark_round_matches_reference(self, spark):
        """The reference-validity pin: real PySpark F.round agrees
        with bigdecimal_round on the midpoint corpus + 5k randoms
        (r08 probe: 0 divergences over 40,384 cases)."""
        import numpy as np
        import pandas as pd
        from pyspark.sql import functions as F

        rng = np.random.default_rng(11)
        xs = (midpoint_corpus()
              + [float(v) for v in rng.uniform(-1, 1, 2500)]
              + [float(v) for v in rng.uniform(-1e-4, 1e-4, 2500)])
        df = spark.createDataFrame(pd.DataFrame({"x": xs}))
        out = df.select(
            (F.round("x", 4) + F.lit(0.0)).alias("r")
        ).toPandas()["r"].to_numpy()
        ref = np.array([bigdecimal_round(x) for x in xs])
        assert not (out.view("int64") != ref.view("int64")).any()

    def test_round4_matches_reference(self):
        """``similarity.round4``, the numpy F.round(x, 4) of the Arrow
        kernels, is bit-exact vs the reference on the midpoint corpus,
        the two shortest-repr midpoints a scaled-binary HALF_UP gets
        wrong (0.00145 -> 0.0015, 0.0018499999999999999 -> 0.0018),
        signed zero and random draws, in any array shape; NaN and inf
        pass through like Spark's."""
        import numpy as np

        from snowflake_data_pipeline_demo_spark.operators.similarity import (
            round4,
        )

        rng = np.random.default_rng(17)
        xs = (midpoint_corpus()
              + [0.00145, 0.0018499999999999999, -0.00003, -0.0, 0.0,
                 1e15 + 0.5, 12345678901.00005, 3e17]
              + [float(v) for v in rng.uniform(-1, 1, 20000)]
              + [float(v) for v in rng.uniform(-1e-4, 1e-4, 20000)]
              + [float(v) for v in rng.uniform(-1e6, 1e6, 10000)])
        ref = np.array([bigdecimal_round(x) for x in xs])
        got = round4(np.array(xs).reshape(-1, 2)).reshape(-1)
        neq = got.view("int64") != ref.view("int64")
        assert not neq.any(), (
            f"{int(neq.sum())} divergences; first: "
            f"{[repr(xs[i]) for i in np.flatnonzero(neq)[:3]]}"
        )
        odd = round4([float("nan"), float("inf"), float("-inf")])
        assert np.isnan(odd[0]) and list(odd[1:]) == [np.inf, -np.inf]

    def test_rewriter_mechanics(self):
        from snowflake_data_pipeline_demo_spark.plans.oracle_round import (
            spark_round_oracle as r,
        )

        # basic rewrite: guarded CASE, scale preserved
        out = r("round(x, 6) AS s")
        assert "DECIMAL(38,24)), 6) AS DOUBLE) + 0" in out
        assert out.startswith("CASE WHEN NOT isfinite(")
        assert out.endswith("END AS s")
        # single-arg -> scale 0
        assert "DECIMAL(38,24)), 0)" in r("round(a / b)")
        # nested round in the expr conforms too: every round( in the
        # output is the macro form (the outer guard CASE duplicates
        # the expr, so occurrence COUNTS aren't meaningful — bareness
        # is)
        import re as _re
        nested = r("round(MAX(round(c, 4)), 4)")
        assert all(
            nested[m.end():].startswith("CAST(CAST((")
            for m in _re.finditer(r"(?<![\w.])round\s*\(", nested)
        ) and "DECIMAL(38,24)" in nested
        # non-literal scale untouched
        assert r("round(x, s)") == "round(x, s)"
        # out-of-envelope scale untouched (enforcement then flags it)
        assert r("round(x, 7)") == "round(x, 7)"
        # comment occurrences untouched (unbalanced fragment must not
        # swallow SQL after the newline)
        sql = "SELECT a -- see round( discussion\nFROM t"
        assert r(sql) == sql
        # word-boundary: around( / f.round( style names untouched
        assert r("wrap_around(x, 4)") == "wrap_around(x, 4)"

    def test_rewriter_literal_awareness(self):
        """r08 review pass 3: the first cut's line-regex comment
        stripper treated '--' INSIDE a string literal as a comment
        (silently exempting any round( after it), and its paren scan
        counted parens inside literals (a '(' literal unbalanced the
        match and skipped the rewrite)."""
        from snowflake_data_pipeline_demo_spark.plans.oracle_round import (
            spark_round_oracle as r,
        )

        # '--' inside a literal is NOT a comment: the round rewrites
        out = r("SELECT '--sep' AS d, round(x, 4) AS r")
        assert "DECIMAL(38,24)" in out and "'--sep'" in out
        # parens/commas inside literals don't corrupt the scan
        out = r("SELECT round(length(replace(s, '(', '')), 4) AS n")
        assert "DECIMAL(38,24)" in out and "replace(s, '(', '')" in out
        # a comment INSIDE the argument span doesn't unbalance it
        out = r("round(x, -- see (note\n4)")
        assert "DECIMAL(38,24)" in out
        # '' escape inside literal
        sql = "SELECT 'it''s -- (fine' AS t FROM x"
        assert r(sql) == sql
        # r09 ADVICE: /* */ block comments are non-code — a round(
        # inside one stays bare, parens inside one don't corrupt the
        # scan, and code AFTER one still rewrites
        out = r("SELECT /* round( ( */ round(x, 4) AS r")
        assert "/* round( ( */" in out and "DECIMAL(38,24)" in out
        # unterminated block comment: everything to EOF is non-code
        sql = "SELECT a /* round(x, 4)"
        assert r(sql) == sql
        # double-quoted identifiers are non-code: a '--' or paren
        # inside one must not eat the rest of the statement
        out = r('SELECT "weird -- (name" AS c, round(x, 4) AS r')
        assert '"weird -- (name"' in out and "DECIMAL(38,24)" in out
        # "" escape inside identifier
        sql = 'SELECT "a""b -- (" AS c FROM t'
        assert r(sql) == sql

    def test_rewriter_rejects_nondeterministic_round(self):
        """r09 ADVICE: the macro evaluates the rounded expression once
        per guard plus once per payload — round(random()) would take
        different branches than it rounds. Registration must fail
        loudly, not ship a flaky oracle."""
        import pytest

        from snowflake_data_pipeline_demo_spark.plans.oracle_round import (
            spark_round_oracle as r,
        )

        with pytest.raises(ValueError, match="non-deterministic"):
            r("SELECT round(random(), 4) AS r")
        with pytest.raises(ValueError, match="non-deterministic"):
            r("SELECT round(x + now()::DOUBLE, 2) AS r")
        # ... but the same names inside literals/comments are fine,
        # and a non-rounded non-deterministic expr is not our concern
        ok = r("SELECT 'random()' AS lbl, round(x, 4) AS r -- now()")
        assert "DECIMAL(38,24)" in ok
        assert r("SELECT random() AS x") == "SELECT random() AS x"

    def test_rewriter_idempotent(self):
        """Composed oracles interpolate another lane's REGISTERED
        (already-rewritten) oracle text and pass through @query again
        — the macro must be recognized and wrapped exactly once (r08
        review pass 3: the first cut double-wrapped, relying on the
        DECIMAL round-trip being accidentally exact)."""
        from snowflake_data_pipeline_demo_spark.plans.oracle_round import (
            spark_round_oracle as r,
        )

        once = r("SELECT round(x, 4) AS r FROM t")
        assert r(once) == once
        assert r(r(once)) == once

    def test_macro_guards_nonfinite_tiny_huge(self):
        """r08 review pass 3: the unguarded macro CRASHED on NaN/inf
        (CAST('nan' AS DECIMAL) errors) and on |x| >= 1e14 (DECIMAL
        overflow) where Spark F.round passes all three through. The
        guarded CASE must match Spark: NaN->NaN, inf->inf, tiny->0.0,
        huge->identity."""
        import math

        import duckdb
        import pandas as pd

        from snowflake_data_pipeline_demo_spark.plans.oracle_round import (
            spark_round_oracle,
        )

        xs = [float("nan"), float("inf"), float("-inf"),
              1e-8, -1e-8, 5e13, -5e13, 1e15, 0.00015, 1e17]
        con = duckdb.connect()
        con.register("arr", pd.DataFrame({"x": xs}))
        sql = spark_round_oracle("SELECT round(x, 4) AS r FROM arr")
        got = con.execute(sql).fetchdf()["r"].tolist()
        # Spark semantics: pass-through for non-finite and huge,
        # +0.0 for tiny, string-HALF_UP for the midpoint
        assert math.isnan(got[0])
        assert got[1] == float("inf") and got[2] == float("-inf")
        assert got[3] == 0.0 and math.copysign(1, got[3]) > 0
        assert got[4] == 0.0 and math.copysign(1, got[4]) > 0
        assert got[5] == 5e13 and got[6] == -5e13 and got[7] == 1e15
        assert got[8] == 0.0002
        assert got[9] == 1e17

    def test_macro_large_values_small_scales(self):
        """r09 ADVICE fix: the old |x| >= 1e13 identity branch silently
        assumed no lane rounds values that large at s < 4 —
        10000000000000.5 is a representable double whose s=0 HALF_UP
        round is 10000000000001, not itself. The DECIMAL(38,22) branch
        must agree with the BigDecimal reference over [1e13, 1e16) for
        every scale in the envelope, and the >= 1e16 identity is exact
        (above 2^53 every double is an integer)."""
        import duckdb
        import numpy as np
        import pandas as pd

        from snowflake_data_pipeline_demo_spark.plans.oracle_round import (
            spark_round_oracle,
        )

        rng = np.random.default_rng(13)
        xs = [1e13 + 0.5, -(1e13 + 0.5), 12345678901234.5,
              9999999999999998.0, 1e16, 2**53 + 2.0, 1e13, 1e15 + 0.125]
        xs += [float(v) for v in rng.uniform(1e13, 1e16, 5000)]
        xs += [float(v) for v in rng.uniform(-1e16, -1e13, 5000)]
        con = duckdb.connect()
        con.register("arr", pd.DataFrame({"x": xs}))
        for s in (0, 1, 3, 4, 6):
            sql = spark_round_oracle(f"SELECT round(x, {s}) AS r FROM arr")
            d = con.execute(sql).fetchdf()["r"].to_numpy()
            ref = np.array([bigdecimal_round(x, s) for x in xs])
            neq = d.view("int64") != ref.view("int64")
            assert not neq.any(), (
                f"s={s}: {int(neq.sum())} divergences; first: "
                f"{[repr(xs[i]) for i in np.flatnonzero(neq)[:3]]}"
            )

    def test_registered_oracles_conform(self):
        """Every round( in every registered oracle (outside string
        literals and comments — the SAME projection the rewriter
        uses, so neither can be blind where the other isn't; and
        case-insensitive, like the rewriter's matcher) is the macro
        form — the registration rewrite actually fired."""
        import re

        import __spark_entry__ as entrymod
        from snowflake_data_pipeline_demo_spark.plans.oracle_round import (
            _MACRO_SIG, strip_noncode,
        )

        for name, sql in entrymod.oracle_sql().items():
            code = strip_noncode(sql)
            for m in re.finditer(r"(?<![\w.])round\s*\(", code,
                                 re.IGNORECASE):
                rest = code[m.end():m.end() + len(_MACRO_SIG)]
                assert rest == _MACRO_SIG, (
                    f"{name}: bare round( survived registration: "
                    f"...{code[max(0, m.start()-40):m.end()+40]}..."
                )
