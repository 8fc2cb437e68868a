"""Query registry: every implemented operator from SURVEY.md §2 as a
(Spark builder, DuckDB oracle SQL) pair.

The driver runs builder(spark, sf_dir) and the oracle SQL side-by-side
and compares row count + schema + order-insensitive value hash, so:

- every computed column is aliased identically in both,
- money aggregates go through DECIMAL(18,2) so both engines sum exactly
  (double summation order differs between engines; decimal doesn't),
- final decimals are cast to DOUBLE to normalize the output type.

Builders use pyspark.sql.functions (JVM/codegen path); a Python UDF
(Arrow-batched, never row-pickled) only where it is measured faster
than the JVM form, as the winnowing kernel in operators/text.py is.
"""

from __future__ import annotations

import functools

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import lane_cache, lane_tmpdir, release_lane_caches
from ..operators.merge import merge_result
from ..sources import testdata
from .citibike import (
    extract_trips, programs_from_raw, security_fixture, stations_from_raw,
    trip_docs, trips_projection,
)
from .oracle_round import spark_round_oracle
from .secure_view import consumer_report, secure_trips_view


@dataclass(frozen=True)
class Query:
    """One registry entry: Spark plan builder + DuckDB oracle (None ->
    non-SQL-expressible, driver records a rows-only check)."""
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    survey_ref: str  # SURVEY.md §2 operator ids this query covers


QUERIES: dict[str, Query] = {}


def query(name: str, oracle: str | None, survey_ref: str):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # drain the PREVIOUS lane's tracked caches (see caching.py:
            # every runner collects lane N before invoking lane N+1, so
            # nothing still needs them) — a full-registry sweep in one
            # JVM otherwise stacks ~130 lanes of cached partitions
            release_lane_caches()
            return fn(spark, sf_dir)

        # every round() in oracle SQL is mechanically rewritten to the
        # Spark-semantics macro (plans/oracle_round.py): DuckDB's
        # binary round diverges from Spark's BigDecimal string round
        # on exact s-dp midpoints AND on signed zero — conformance is
        # a registration invariant, not per-site diligence
        QUERIES[name] = Query(
            wrapped,
            None if oracle is None else spark_round_oracle(oracle),
            survey_ref,
        )
        return fn
    return deco


def _t(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: testdata.load(spark, sf_dir, n) for n in names}


# money-safe decimal cast (see module docstring)
def _dec(c: str) -> F.Column:
    return F.col(c).cast("decimal(18,2)")


def _materialize(df: DataFrame) -> DataFrame:
    """Materialization boundary for plans that fan out from a parsed
    VARIANT struct.

    ``from_json`` is a CodegenFallback expression, so projection collapse
    turns N downstream field-reads into N full re-parses — and re-runs
    the entire upstream doc-build chain per column (measured 142s vs 8s
    at sf0.1 for the stations union). In the real pipeline this boundary
    is the ``raw.trips_raw`` table write (dp_setup.sql:140); caching is
    its in-plan equivalent: one parse pass, columnar reuse after.
    """
    df = lane_cache(df)
    df.count()
    return df


def _dec1() -> F.Column:
    # built lazily — F.lit needs an active SparkContext
    return F.lit(1).cast("decimal(18,2)")


def _extract_boundary(raw: DataFrame) -> DataFrame:
    """The parsed-raw materialization boundary used by the batch slice.

    Parallelism note: the doc build and the Jackson parse — the two
    most CPU-expensive expressions in the slice — inherit the 32-way
    partitioning that ``testdata.load`` establishes right after the
    single-row-group scan, so no extra exchange is needed here."""
    return _materialize(extract_trips(raw))


def _dim_tables(ext: DataFrame) -> tuple[DataFrame, DataFrame]:
    """stations/programs as materialized dims (cached, like the real
    pipeline's MERGE'd ``modelled.stations``/``programs`` tables,
    dp_setup.sql:211-245).

    Without this, every broadcast of the station dim re-runs the
    union+distinct over the full parsed fact (stations is broadcast
    TWICE — start/end roles): measured 26.6s vs 4.2s for the secure
    report at sf0.1. Post-aggregation the dims are dim-scale (930/25
    rows), so the cache is a few KB regardless of fact size."""
    return (
        lane_cache(stations_from_raw(ext)),
        lane_cache(programs_from_raw(ext)),
    )


# ---------------------------------------------------------------------------
# Flagship: the full reference slice (S5 unload -> F5 object_construct ->
# F6 variant extraction -> J1-J3 star join -> G1-G3 secure view -> A5 report)
# ---------------------------------------------------------------------------

@query(
    "flagship_secure_report",
    oracle="""
    WITH fact AS (
      SELECT CAST(l_partkey % 25 AS INT) AS program_id
      FROM lineitem
    ), programs AS (
      SELECT CAST(n_nationkey AS INT) AS program_id, n_name AS program_name
      FROM nation
    ), security AS (
      SELECT r_name AS name, 'ACCT_' || r_name AS account,
             'NATION_' || CAST(r_regionkey AS VARCHAR) || '%' AS filter
      FROM region
      UNION ALL SELECT 'Publisher Account', 'PUBLISHER', '%'
    )
    SELECT p.program_name AS program_name, s.account AS acct,
           COUNT(*) AS num_trips
    FROM fact t
    JOIN programs p ON t.program_id = p.program_id
    JOIN security s ON s.account = 'ACCT_AMERICA'
                   AND p.program_name LIKE s.filter
    GROUP BY 1, 2
    """,
    survey_ref="S5,F5,F6,J1,J2,J3,J6,G1,G2,A5,O3",
)
def flagship_secure_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dp_demo.sql:267-270 consumer report through the whole batch slice:
    docs are built, JSON-serialized, re-extracted, then governed."""
    t = _t(spark, sf_dir, "lineitem", "supplier", "nation", "region")
    raw = trip_docs(t["lineitem"], t["supplier"], t["nation"])
    ext = _extract_boundary(raw)
    st, pr = _dim_tables(ext)
    view = secure_trips_view(
        trips_projection(ext), st, pr,
        security_fixture(spark, t["region"]), account="ACCT_AMERICA",
    )
    return consumer_report(view)


@query(
    "secure_view_masked_rows",
    oracle="""
    WITH sup AS (SELECT CAST(s_suppkey AS INT) AS station_id, s_name AS station_name FROM supplier),
    n_sup AS (SELECT COUNT(*) FROM supplier),
    fact AS (
      SELECT CAST(l_quantity AS INT) AS duration,
             CAST(l_suppkey AS INT) AS start_station_id,
             CAST((l_suppkey + l_linenumber) % (SELECT * FROM n_sup) AS INT) AS end_station_id,
             CAST(l_partkey % 25 AS INT) AS program_id
      FROM lineitem
    ), programs AS (
      SELECT CAST(n_nationkey AS INT) AS program_id, n_name AS program_name FROM nation
    ), security AS (
      SELECT r_name AS name, 'ACCT_' || r_name AS account,
             'NATION_' || CAST(r_regionkey AS VARCHAR) || '%' AS filter
      FROM region
      UNION ALL SELECT 'Publisher Account', 'PUBLISHER', '%'
    )
    SELECT p.program_name AS program_name, s.account AS acct,
           'REDACTED (' || md5(ss.station_name) || ')' AS start_station,
           'REDACTED (' || md5(es.station_name) || ')' AS end_station,
           t.duration AS duration
    FROM fact t
    JOIN sup ss ON t.start_station_id = ss.station_id
    JOIN sup es ON t.end_station_id = es.station_id
    JOIN programs p ON t.program_id = p.program_id
    JOIN security s ON s.account = 'ACCT_ASIA' AND p.program_name LIKE s.filter
    """,
    survey_ref="G1,G2,G3,F13,J6,P5",
)
def secure_view_masked_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level secure view output for a non-publisher account: station
    names MD5-masked (dp_demo.sql:226-229)."""
    t = _t(spark, sf_dir, "lineitem", "supplier", "nation", "region")
    raw = trip_docs(t["lineitem"], t["supplier"], t["nation"])
    ext = _extract_boundary(raw)
    st, pr = _dim_tables(ext)
    view = secure_trips_view(
        trips_projection(ext), st, pr,
        security_fixture(spark, t["region"]), account="ACCT_ASIA",
    )
    return view.drop("hour")


# ---------------------------------------------------------------------------
# §2.2 Projection / filter / predicates
# ---------------------------------------------------------------------------

@query(
    "p2_date_range_filter",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_shipdate,
           CAST(l_quantity AS INT) AS qty
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '1995-06-01'
      AND CAST(l_shipdate AS DATE) <= DATE '1996-06-01'
    """,
    survey_ref="P2,P1",
)
def p2_date_range_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """to_date range filter (dp_setup.sql:49-50) — pushed to the parquet
    scan by Catalyst."""
    li = testdata.load(spark, sf_dir, "lineitem")
    return li.filter(
        F.to_date("l_shipdate").between("1995-06-01", "1996-06-01")
    ).select(
        "l_orderkey", "l_linenumber", "l_shipdate",
        F.col("l_quantity").cast("int").alias("qty"),
    )


@query(
    "p6_in_subquery",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_nationkey IN (
      SELECT n_nationkey FROM nation
      WHERE n_regionkey IN (SELECT r_regionkey FROM region WHERE r_name = 'ASIA')
    )
    """,
    survey_ref="P6",
)
def p6_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN (subquery) predicate (dp_demo.sql:226-228) via Catalyst's
    nested IN-subquery support on SQL-registered views."""
    for n in ("customer", "nation", "region"):
        testdata.load(spark, sf_dir, n).createOrReplaceTempView(n)
    return spark.sql("""
      SELECT c_custkey, c_name FROM customer
      WHERE c_nationkey IN (
        SELECT n_nationkey FROM nation
        WHERE n_regionkey IN (SELECT r_regionkey FROM region WHERE r_name = 'ASIA')
      )
    """)


@query(
    "p7_distinct",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    survey_ref="P7",
)
def p7_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return testdata.load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus"
    ).distinct()


@query(
    "p8_iff_projection",
    oracle="""
    SELECT CASE WHEN o_totalprice > 150000 THEN 'BIG' ELSE 'SMALL' END AS bucket,
           COUNT(*) AS n
    FROM orders GROUP BY 1
    """,
    survey_ref="P8,F2,A1",
)
def p8_iff_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """iff() conditional projection (dp_setup.sql:46-47)."""
    from ..functions.scalars import iff
    o = testdata.load(spark, sf_dir, "orders")
    return (
        o.select(iff(F.col("o_totalprice") > 150000, F.lit("BIG"), F.lit("SMALL")).alias("bucket"))
        .groupBy("bucket").agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# §2.3 Joins
# ---------------------------------------------------------------------------

@query(
    "j1_star_join_revenue",
    oracle="""
    SELECT r_name, n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY 1, 2
    """,
    survey_ref="J1,J3,A1,F15",
)
def j1_star_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact x dims star join (dp_setup.sql:76-79 shape): dims broadcast,
    fact never shuffles before the (25-key) aggregation."""
    t = _t(spark, sf_dir, "lineitem", "orders", "customer", "nation", "region")
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(_dec("l_extendedprice") * (_dec1() - _dec("l_discount")))
            .cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "j2_role_playing_join",
    oracle="""
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation, COUNT(*) AS n
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    GROUP BY 1, 2
    """,
    survey_ref="J2",
)
def j2_role_playing_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same dim joined twice under two roles (stations ss/es pattern,
    dp_setup.sql:77-78) — here nation via customer and via supplier."""
    t = _t(spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation")
    cn = t["nation"].alias("cn")
    sn = t["nation"].alias("sn")
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn.n_nationkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn.n_nationkey"))
        .groupBy(
            F.col("cn.n_name").alias("cust_nation"),
            F.col("sn.n_name").alias("supp_nation"),
        )
        .agg(F.count("*").alias("n"))
    )


@query(
    "j4_computed_key_join",
    oracle="""
    SELECT o_orderkey, c_custkey, c_mktsegment
    FROM orders
    JOIN customer
      ON 'Customer#' || lpad(CAST(o_custkey AS VARCHAR), 9, '0') = c_name
    """,
    survey_ref="J4,F3",
)
def j4_computed_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join on a computed key (concat), the copy_history x stage
    listing join shape (dp_setup.sql:112-113)."""
    t = _t(spark, sf_dir, "orders", "customer")
    return (
        t["orders"]
        .join(
            t["customer"],
            F.format_string("Customer#%09d", F.col("o_custkey")) == F.col("c_name"),
        )
        .select("o_orderkey", "c_custkey", "c_mktsegment")
    )


@query(
    "j5_onless_inner_join",
    oracle="""
    SELECT r_name, COUNT(*) AS n_nations
    FROM nation, region
    WHERE n_regionkey = r_regionkey
    GROUP BY 1
    """,
    survey_ref="J5",
)
def j5_onless_inner_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ON-less INNER JOIN with predicates in WHERE
    (dp_demo.sql:230-239): cross join + filter; Catalyst rewrites the
    filtered cross product back into a hash join."""
    t = _t(spark, sf_dir, "nation", "region")
    return (
        t["nation"].crossJoin(t["region"])
        .filter(F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name").agg(F.count("*").alias("n_nations"))
    )


@query(
    "j6_theta_like_join",
    oracle="""
    WITH security AS (
      SELECT r_name AS name, 'ACCT_' || r_name AS account,
             'NATION_' || CAST(r_regionkey AS VARCHAR) || '%' AS filter
      FROM region
      UNION ALL SELECT 'Publisher Account', 'PUBLISHER', '%'
    )
    SELECT s.account, n.n_name AS program_name
    FROM nation n JOIN security s ON n.n_name LIKE s.filter
    """,
    survey_ref="J6,P5",
)
def j6_theta_like_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi LIKE join where the pattern comes from a column
    (dp_demo.sql:236) -> broadcast nested-loop join."""
    t = _t(spark, sf_dir, "nation", "region")
    sec = security_fixture(spark, t["region"]).alias("s")
    n = t["nation"].alias("n")
    return (
        n.join(F.broadcast(sec), F.expr("n.n_name LIKE s.filter"))
        .select(F.col("s.account").alias("account"), F.col("n.n_name").alias("program_name"))
    )


@query(
    "j7_merge_insert_only",
    oracle="""
    WITH source AS (
      SELECT DISTINCT CAST(l_partkey % 25 AS INT) AS program_id,
             'NATION_' || CAST(l_partkey % 25 AS VARCHAR) AS program_name
      FROM lineitem
    ), target AS (
      SELECT CAST(n_nationkey AS INT) AS program_id, n_name AS program_name
      FROM nation WHERE n_nationkey < 13
    )
    SELECT program_id, program_name FROM source
    WHERE program_id NOT IN (SELECT program_id FROM target)
    """,
    survey_ref="J7,J8",
)
def j7_merge_insert_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Insert-only MERGE (dp_setup.sql:211-219) as its pure-functional
    core: rows that WOULD be inserted = dedup(source) anti-join target."""
    t = _t(spark, sf_dir, "lineitem", "nation")
    source = t["lineitem"].select(
        (F.col("l_partkey") % 25).cast("int").alias("program_id"),
        F.concat(F.lit("NATION_"), (F.col("l_partkey") % 25).cast("string")).alias("program_name"),
    ).distinct()
    target = t["nation"].filter(F.col("n_nationkey") < 13).select(
        F.col("n_nationkey").cast("int").alias("program_id"),
        F.col("n_name").alias("program_name"),
    )
    return merge_result(target, source, ["program_id"])


# ---------------------------------------------------------------------------
# §2.6 Set operations
# ---------------------------------------------------------------------------

@query(
    "u1_union_distinct",
    oracle="""
    WITH n_sup AS (SELECT COUNT(*) FROM supplier),
    fact AS (
      SELECT CAST(l_suppkey AS INT) AS start_id,
             CAST((l_suppkey + l_linenumber) % (SELECT * FROM n_sup) AS INT) AS end_id
      FROM lineitem
    ), sup AS (SELECT CAST(s_suppkey AS INT) AS sid, s_name FROM supplier)
    SELECT station_id, station_name, station_comment FROM (
      SELECT ss.sid AS station_id, ss.s_name AS station_name,
             'Station at ' || ss.s_name AS station_comment
      FROM fact JOIN sup ss ON fact.start_id = ss.sid
      UNION
      SELECT es.sid, es.s_name, 'Station at ' || es.s_name
      FROM fact JOIN sup es ON fact.end_id = es.sid
    )
    """,
    survey_ref="U1,F3",
)
def u1_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snowflake UNION = UNION DISTINCT (dp_setup.sql:235): Spark union
    is UNION ALL, so the explicit distinct() is the operator under test.

    r13 boundary narrowing (guide §2.3 "project before the exchange" /
    §1.2 "don't compute things you throw away"): this lane consumes
    only the 8 station fields of the 17-field doc, so the parse
    boundary materializes a from_json STRUCT pinned to those 8 fields —
    Jackson skips the other 9 and the cache holds 8 columns, not 17.
    Parsing once into a struct also side-steps the CSE question the
    flattened form leans on (17 identical from_json trees merged by
    runtime subexpression elimination). Field values are identical to
    the full-schema parse (from_json ignores undeclared JSON fields).
    Measured (interleaved same-JVM A/B, 4 passes, steal shared):
    full flatten 3.77/4.23 s (min/med) -> narrowed struct 2.64/3.07 s.
    The SAME struct form measured a REGRESSION for flagship (its three
    ext consumers re-pay the field extraction + epoch decode per read:
    4.73/5.04 -> 5.00/6.19 s), so the flattened 17-column boundary
    stays for the full-slice lanes."""
    from ..functions.variant import extract_variant
    from ..sources.catalog import TRIP_DOC_SCHEMA
    from pyspark.sql import types as T

    station_fields = [
        "start_station_id", "start_station_name", "start_station_latitude",
        "start_station_longitude", "end_station_id", "end_station_name",
        "end_station_latitude", "end_station_longitude",
    ]
    schema8 = T.StructType([
        f for f in TRIP_DOC_SCHEMA.fields if f.name in station_fields
    ])
    t = _t(spark, sf_dir, "lineitem", "supplier", "nation")
    raw = trip_docs(t["lineitem"], t["supplier"], t["nation"])
    parsed = _materialize(raw.select(
        extract_variant("v", schema8).alias("_v")
    ))
    ext = parsed.select(*[
        F.col("_v").getField(n).alias(n) for n in station_fields
    ])
    return stations_from_raw(ext).select(
        "station_id", "station_name", "station_comment"
    )


# ---------------------------------------------------------------------------
# §2.4 Aggregations / §2.5 sorts & top-k
# ---------------------------------------------------------------------------

@query(
    "a2_count_distinct",
    oracle="""
    SELECT COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           COUNT(*) AS n_rows
    FROM lineitem
    """,
    survey_ref="A1,A2",
)
def a2_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = testdata.load(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n_rows"),
    )


@query(
    "a5_groupby_ordinals",
    oracle="""
    SELECT event_type, CAST(user_id % 10 AS BIGINT) AS cohort, COUNT(*) AS n
    FROM events GROUP BY 1, 2
    """,
    survey_ref="A5,O3",
)
def a5_groupby_ordinals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY 1,2 / ORDER BY 3 DESC by ordinal (dp_demo.sql:267-270);
    spark.sql.groupByOrdinal is on by default."""
    testdata.load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql("""
      SELECT event_type, CAST(user_id % 10 AS BIGINT) AS cohort, COUNT(*) AS n
      FROM events GROUP BY 1, 2 ORDER BY 3 DESC
    """)


@query(
    "a6_dashboard_subqueries",
    oracle="""
    SELECT (SELECT COUNT(*) FROM lineitem)  AS lineitem_rows,
           (SELECT COUNT(*) FROM orders)    AS orders_rows,
           (SELECT COUNT(*) FROM customer)  AS customer_rows,
           (SELECT COUNT(DISTINCT l_suppkey) FROM lineitem) AS active_suppliers,
           (SELECT strftime(MAX(l_shipdate), '%Y-%m-%d') FROM lineitem) AS latest_ship,
           (SELECT strftime(MIN(o_orderdate), '%Y-%m-%d') FROM orders)  AS first_order
    """,
    survey_ref="A6,A1,A2,A3,A4",
)
def a6_dashboard_subqueries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The monitoring dashboard shape (dp_demo.sql:127-142): independent
    scalar subqueries stitched into one row."""
    for n in ("lineitem", "orders", "customer"):
        testdata.load(spark, sf_dir, n).createOrReplaceTempView(n)
    return spark.sql("""
      SELECT (SELECT COUNT(*) FROM lineitem)  AS lineitem_rows,
             (SELECT COUNT(*) FROM orders)    AS orders_rows,
             (SELECT COUNT(*) FROM customer)  AS customer_rows,
             (SELECT COUNT(DISTINCT l_suppkey) FROM lineitem) AS active_suppliers,
             (SELECT date_format(MAX(l_shipdate), 'yyyy-MM-dd') FROM lineitem) AS latest_ship,
             (SELECT date_format(MIN(o_orderdate), 'yyyy-MM-dd') FROM orders)  AS first_order
    """)


@query(
    "a7_distinct_days",
    oracle="""
    SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS month
    FROM orders ORDER BY 1
    """,
    survey_ref="A7,F1,F3,O1",
)
def a7_distinct_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition enumeration driving the unload loop (dp_setup.sql:45-51)
    — the y||'-'||0||m||'-'||d idiom collapsed to date_format (month
    granularity here to keep the set small at every SF)."""
    o = testdata.load(spark, sf_dir, "orders")
    return (
        o.select(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .distinct().orderBy("month")
    )


@query(
    "o5_top16",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer ORDER BY c_acctbal DESC, c_custkey LIMIT 16
    """,
    survey_ref="O5,O3,O4",
)
def o5_top16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT TOP 16 ... ORDER BY DESC (dp_demo.sql:184-188) — Catalyst
    plans TakeOrderedAndProject (no global sort). Keyed tiebreak keeps
    the result set deterministic."""
    c = testdata.load(spark, sf_dir, "customer")
    return (
        c.select("c_custkey", "c_name", "c_acctbal")
        .orderBy(F.desc("c_acctbal"), "c_custkey").limit(16)
    )


# ---------------------------------------------------------------------------
# §2.7 Scalar functions
# ---------------------------------------------------------------------------

@query(
    "f_datetime_kit",
    oracle="""
    SELECT event_id,
           EXTRACT(year FROM ts)  AS y,
           EXTRACT(month FROM ts) AS m,
           EXTRACT(day FROM ts)   AS d,
           date_trunc('hour', ts) AS hr,
           ts + INTERVAL 2 HOUR   AS plus2h,
           CAST(date_diff('second', TIMESTAMP '2024-01-01', ts) AS BIGINT) AS secs_since
    FROM events
    """,
    survey_ref="F1,F8,F10,F11,F12",
)
def f_datetime_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """year/month/day (F1), dateadd (F10), timestampdiff (F11),
    date_trunc (F12) over event time."""
    from ..functions.scalars import dateadd, date_trunc_sf, timestampdiff
    e = testdata.load(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.year("ts").cast("long").alias("y"),
        F.month("ts").cast("long").alias("m"),
        F.dayofmonth("ts").cast("long").alias("d"),
        date_trunc_sf("hour", "ts").alias("hr"),
        dateadd("hour", 2, "ts").alias("plus2h"),
        timestampdiff("second", F.lit("2024-01-01").cast("timestamp"), F.col("ts"))
        .cast("long").alias("secs_since"),
    )


@query(
    "f6_variant_extract",
    oracle="""
    SELECT event_id, event_type,
           CAST(props->>'$.k' AS INT) AS k,
           value AS val
    FROM events
    """,
    survey_ref="F6,F7,F15",
)
def f6_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parse_json(str):path::type (dp_demo.sql:132) on the events props
    column — the trips_raw VARIANT analog."""
    from ..functions.variant import parse_json_path
    e = testdata.load(spark, sf_dir, "events")
    return e.select(
        "event_id", "event_type",
        parse_json_path("props", "k", "int").alias("k"),
        F.col("value").alias("val"),
    )


@query(
    "f7_variant_native",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(props->>'$.k' AS INT)) AS BIGINT) AS sum_k,
           CAST(MAX(CAST(props->>'$.k' AS INT)) AS INT) AS max_k
    FROM events GROUP BY 1
    """,
    survey_ref="F7,F15 (Spark 4 VariantType path)",
)
def f7_variant_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parse_json into a true VariantType value + variant_get path-cast
    (the schema-free VARIANT representation SURVEY §1.3 maps to on
    Spark 4), aggregated per event type."""
    from ..functions.variant import parse_json_variant, variant_get_native
    e = testdata.load(spark, sf_dir, "events")
    k = variant_get_native(parse_json_variant("props"), "k", "int")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


@query(
    "f5_object_construct_roundtrip",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(l_quantity AS INT) AS qty,
           l_returnflag AS flag,
           strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') AS ship_ts
    FROM lineitem
    """,
    survey_ref="F5,F6,F15",
)
def f5_object_construct_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """object_construct -> JSON text -> variant path-casts round trip
    (dp_setup.sql:58-75 then 193-202). The oracle computes the fields
    relationally; values must survive the JSON round trip bit-exact."""
    from ..functions.variant import extract_variant, object_construct_json
    from pyspark.sql import types as T
    li = testdata.load(spark, sf_dir, "lineitem")
    doc = object_construct_json({
        "l_orderkey": F.col("l_orderkey"),
        "l_linenumber": F.col("l_linenumber"),
        "qty": F.col("l_quantity").cast("int"),
        "flag": F.col("l_returnflag"),
        "ship": F.col("l_shipdate").cast("timestamp_ntz"),
    })
    schema = T.StructType([
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_linenumber", T.IntegerType()),
        T.StructField("qty", T.IntegerType()),
        T.StructField("flag", T.StringType()),
        T.StructField("ship", T.TimestampNTZType()),
    ])
    return li.select(doc.alias("v")).select(
        extract_variant("v", schema).alias("p")
    ).select(
        F.col("p.l_orderkey").alias("l_orderkey"),
        F.col("p.l_linenumber").alias("l_linenumber"),
        F.col("p.qty").alias("qty"),
        F.col("p.flag").alias("flag"),
        F.date_format("p.ship", "yyyy-MM-dd HH:mm:ss").alias("ship_ts"),
    )


@query(
    "f13_md5",
    oracle="SELECT c_custkey, md5(c_name) AS name_md5 FROM customer",
    survey_ref="F13",
)
def f13_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = testdata.load(spark, sf_dir, "customer")
    return c.select("c_custkey", F.md5("c_name").alias("name_md5"))


# ---------------------------------------------------------------------------
# §2.1 Stage round-trips (S5 unload -> S6 $1 read -> S7 metadata$filename)
# ---------------------------------------------------------------------------

def _tmp_stage(spark: SparkSession, tag: str):
    from ..sources.stage import Stage

    return Stage(spark, lane_tmpdir(f"{tag}_stage_"))


@query(
    "s6_stage_select",
    oracle="""
    SELECT l_orderkey, CAST(l_quantity AS INT) AS qty, l_returnflag AS flag
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) = DATE '1995-06-17'
    """,
    survey_ref="S2,S5,S6",
)
def s6_stage_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``SELECT $1 FROM @stage`` (dp_demo.sql:122): unload one day's rows
    as staged JSON (S5), read the files back as raw ``$1`` text (S6),
    re-type via the declared doc schema. The oracle recomputes the same
    rows relationally, so values must survive the stage round trip."""
    from pyspark.sql import types as T

    from ..functions.variant import extract_variant

    li = testdata.load(spark, sf_dir, "lineitem")
    day = li.filter(F.to_date("l_shipdate") == "1995-06-17").select(
        "l_orderkey",
        F.col("l_quantity").cast("int").alias("qty"),
        F.col("l_returnflag").alias("flag"),
    )
    stage = _tmp_stage(spark, "s6")
    stage.unload_json(day, "day1995-06-17")
    schema = T.StructType([
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("qty", T.IntegerType()),
        T.StructField("flag", T.StringType()),
    ])
    raw = stage.read_raw("day1995-06-17")
    return raw.select(extract_variant(F.col("$1"), schema).alias("p")).select(
        F.col("p.l_orderkey").alias("l_orderkey"),
        F.col("p.qty").alias("qty"),
        F.col("p.flag").alias("flag"),
    )


@query(
    "s7_metadata_filename",
    oracle="""
    SELECT strftime(CAST(l_shipdate AS DATE), '%Y-%m-%d') AS day,
           COUNT(*) AS n_rows, CAST(1 AS BIGINT) AS n_files
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1995-06-01' AND DATE '1995-06-10'
    GROUP BY 1
    """,
    survey_ref="S7,T11,A2,O2",
)
def s7_metadata_filename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``metadata$filename`` (dp_setup.sql:112): trickle-unload ten days
    one file per day (T11/stream_data), read the stage back raw, and
    group rows by the source-file pseudo-column. n_files=1 per day pins
    the reference's one-file-per-day unload contract."""
    from ..streaming.stream_data import stream_data

    t = _t(spark, sf_dir, "lineitem", "supplier", "nation")
    docs = trip_docs(t["lineitem"], t["supplier"], t["nation"])
    stage = _tmp_stage(spark, "s7")
    stream_data(docs, stage, "1995-06-01", "6/10/1995")
    raw = stage.read_raw()
    return (
        raw.select(
            F.regexp_extract(
                F.col("metadata$filename"), r"snowpipe_demo(\d{4}-\d{2}-\d{2})", 1
            ).alias("day"),
            F.col("metadata$filename").alias("f"),
        )
        .groupBy("day")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("f").alias("n_files"),
        )
    )


@query(
    "f4_to_date_auto",
    oracle="""
    SELECT DISTINCT strftime(CAST(l_shipdate AS DATE), '%Y-%m-%d') AS from_iso,
           strftime(CAST(l_shipdate AS DATE), '%Y-%m-%d') AS from_us
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1995-06-01' AND DATE '1995-06-10'
    """,
    survey_ref="F4",
)
def f4_to_date_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snowflake AUTO date parsing (dp_demo.sql:115 vs dp_setup.sql:45-47):
    render each day as both yyyy-MM-dd and M/d/yyyy, parse both back
    through to_date_auto, and show they agree with the original date."""
    from ..functions.scalars import to_date_auto

    li = testdata.load(spark, sf_dir, "lineitem")
    days = (
        li.filter(F.to_date("l_shipdate").between("1995-06-01", "1995-06-10"))
        .select(F.to_date("l_shipdate").alias("d")).distinct()
    )
    return days.select(
        F.date_format(to_date_auto(F.date_format("d", "yyyy-MM-dd")), "yyyy-MM-dd")
        .alias("from_iso"),
        F.date_format(to_date_auto(F.date_format("d", "M/d/yyyy")), "yyyy-MM-dd")
        .alias("from_us"),
    )


# extension queries (dedup / similarity / text / multimodal) register
# themselves into QUERIES on import — keep this at the bottom.
from . import queries_ext  # noqa: E402,F401
