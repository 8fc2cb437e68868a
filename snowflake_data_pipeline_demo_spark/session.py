"""SparkSession factory + session context.

Reference parity:
- warehouse create/resize (dp_setup.sql:134, dp_demo.sql:112-113) maps to
  executor/cluster sizing -> here a config shim (`local[N]` threads).
- ``alter session set simulated_data_sharing_consumer`` (dp_demo.sql:263)
  maps to the ``engine.current_account`` runtime conf read by
  :func:`current_account` (used by the secure view, SURVEY G6/F14).

Scale notes: on a real cluster the same builder runs with
``spark.sql.adaptive.enabled`` (runtime re-plan + skew-join splitting),
shuffle partitions sized to cluster cores, and broadcast threshold left
to Catalyst so star-join dims go broadcast automatically.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

logger = logging.getLogger(__name__)

CURRENT_ACCOUNT_CONF = "engine.current_account"

#: JVM locale pin. Spark's lower()/upper() on non-ASCII text go through
#: java.lang.String casing under the JVM DEFAULT locale, so e.g. a tr_TR
#: JVM lowercases 'I' to dotless-i. Pinning en-US on every JVM (driver
#: and executors) makes casing environment-independent, so JVM-side
#: text operators (operators/text.py:normalize) and the Python-side
#: winnowing kernel (locale-independent str.lower()) case text alike.
LOCALE_OPTS = "-Duser.language=en -Duser.country=US"


def jvm_opts() -> str:
    """extraJavaOptions for the driver and executor JVMs.

    GC: G1 measured 30.1s vs ParallelGC 31.8s on the headline bench at
    24g, and ParallelGC at 64g degenerates (full-GC stalls, 298s
    total), so the default keeps the JVM-default G1.
    ``SPARK_GRAFT_JVM_OPTS`` is the experiment hook: it replaces
    ``-XX:+UseG1GC`` and is appended to the locale pin, unless it sets
    ``-Duser.language`` itself, in which case it is used as given."""
    env = os.environ.get("SPARK_GRAFT_JVM_OPTS")
    if env is None:
        return f"-XX:+UseG1GC {LOCALE_OPTS}"
    if "-Duser.language" in env:
        return env
    return f"{LOCALE_OPTS} {env}"


_DEFAULTS = {
    # Local mode: one JVM; size shuffle partitions to cores, not 200.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    # local mode = driver-only JVM. Right-SIZED, not maximal: with a
    # 64g heap G1's collection phases produced erratic multi-second
    # stalls landing on arbitrary queries (headline bench 30-76s across
    # runs); at 16g the same bench holds 28-30s with no outliers and
    # flagship drops ~40%. The working set is far below 16g.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    "spark.driver.extraJavaOptions": jvm_opts(),
    "spark.executor.extraJavaOptions": jvm_opts(),
    # AQE: coalesce small shuffle partitions, split skewed ones at runtime.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Deterministic timestamps vs the DuckDB oracle (UTC-naive).
    "spark.sql.session.timeZone": "UTC",
    # Arrow for the pandas-UDF slow path and toPandas.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # testdata events.parquet stores ts as TIMESTAMP(NANOS); read as long
    # (ns since epoch) and convert in the loader (sources/testdata.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.enabled": "false",
    # Cap rendered plan strings at 8M chars (default is ~Int.MaxValue).
    # Deep iterative lineage makes the DRIVER render the plan per AQE
    # re-plan (AdaptiveSparkPlanExec.onUpdatePlan -> explainString)
    # even with the UI off; the r10 diameter stress OOM'd the 16g
    # heap inside PlanStringConcat on exactly that path. The loops
    # all cut lineage (localCheckpoint cadence, dedup.py), so no
    # legitimate plan here approaches 8M chars — this is the backstop
    # that turns a future deep-lineage mistake into a truncated
    # string instead of a dead driver.
    "spark.sql.maxPlanStringLength": "8388608",
}


def _env_extra_conf(env_var: str = "SPARK_GRAFT_EXTRA_CONF") -> dict[str, str]:
    """Experiment hook (r12): ';'-separated ``key=value`` pairs layered
    between the defaults and the caller's explicit ``extra_conf`` — lets
    a bench A/B flip one conf without editing code, e.g.
    ``SPARK_GRAFT_EXTRA_CONF="spark.sql.join.preferSortMergeJoin=false"``.
    Malformed fragments (no ``=``, or an empty key) are ignored; values
    keep embedded ``=`` signs intact."""
    pairs = (
        pair.split("=", 1)
        for pair in os.environ.get(env_var, "").split(";")
        if "=" in pair
    )
    return {k: v for k, v in pairs if k}


def get_spark(app_name: str = "snowflake_data_pipeline_demo_spark",
              master: str | None = None,
              **extra_conf: str) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a
    cluster, leave it unset and let spark-submit decide.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    env_conf = _env_extra_conf()
    if env_conf:
        # r12 ADVICE: a stray SPARK_GRAFT_EXTRA_CONF (e.g. flipping a
        # spark.sql.legacy.* / ansi conf) can change operator semantics
        # with nothing visible in output — make every applied override
        # loud so A/B runs and accidental leakage are both observable.
        logger.warning("SPARK_GRAFT_EXTRA_CONF overrides applied: %s",
                       env_conf)
    for k, v in {**_DEFAULTS, **env_conf, **extra_conf}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def set_current_account(spark: SparkSession, account: str | None) -> None:
    """``ALTER SESSION SET simulated_data_sharing_consumer`` analog
    (dp_demo.sql:263, 273; UNSET at 282 -> pass ``None``)."""
    if account is None:
        spark.conf.unset(CURRENT_ACCOUNT_CONF)
    else:
        spark.conf.set(CURRENT_ACCOUNT_CONF, account)


def current_account(spark: SparkSession) -> str:
    """Snowflake ``current_account()`` analog (dp_demo.sql:223,226,239)."""
    return spark.conf.get(CURRENT_ACCOUNT_CONF, "")


CURRENT_ROLE_CONF = "engine.current_role"


def use_role(spark: SparkSession, role: str) -> None:
    """``USE ROLE accountadmin`` shim (dp_demo.sql:8, SURVEY G5). Spark
    has no RBAC, so the role is session context only — recorded for
    introspection (``current_role``) and for governance hooks to read;
    it never gates anything, exactly like the documented G4 no-op
    grants."""
    spark.conf.set(CURRENT_ROLE_CONF, role.upper())


def current_role(spark: SparkSession) -> str:
    """Snowflake ``current_role()`` analog; defaults to ACCOUNTADMIN
    (the role the reference demo runs under)."""
    return spark.conf.get(CURRENT_ROLE_CONF, "ACCOUNTADMIN")


def current_account_col(spark: SparkSession) -> Column:
    """The session account as a literal column — resolved at plan-build
    time, exactly like the secure-view factory needs (SURVEY §2.10 G1)."""
    return F.lit(current_account(spark))
