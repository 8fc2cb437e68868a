"""``batch_lanes``: two DuckDB-gated registry lanes that run on
operators.text, .dedup and .similarity; read-only, noop sink, no
streaming.

Set-up ends with one cold pass of the lane chain that collects each
lane's result and checks it against its ``oracle_sql()``; the timed
phase is warm passes (noop sink) until the run's time is up.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd

from .metrics import LANE_SPANS as LANES

#: tables the lanes read
TABLES = ("region", "nation", "supplier", "lineitem", "documents", "embeddings")


def run_pass(ctx, span: str = "plans.queries") -> float:
    """One pass of the lane chain (bench.py's discipline: noop sink,
    tracked caches released after each lane, stray RDDs once per pass);
    each lane is timed as span ``<span>.<lane>``."""
    from snowflake_data_pipeline_demo_spark.caching import (
        release_lane_caches, release_stray_persistent_rdds,
    )
    from __spark_entry__ import queries

    plans = queries()
    spark, tracer = ctx.spark, ctx.tracer
    t0 = time.time()
    for name in LANES:
        ctx.attempt(1)
        try:
            with tracer.span(f"{span}.{name}", spark):
                plans[name](spark, ctx.data_dir).write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 - a failed lane is counted, the chain goes on
            ctx.fail(f"{name} raised {type(e).__name__}: {str(e)[:300]}")
        with tracer.span("caching.release", spark):
            release_lane_caches()
    with tracer.span("caching.release", spark):
        release_stray_persistent_rdds(spark)
    return time.time() - t0


def check_pass(ctx) -> float:
    """The first pass of the chain, collecting each lane's result and
    comparing it with DuckDB running the lane's oracle SQL over the same
    parquet files. Returns the Spark-side wall time (the cold pass)."""
    import duckdb

    from snowflake_data_pipeline_demo_spark.caching import release_lane_caches
    from __spark_entry__ import oracle_sql, queries

    plans, oracles = queries(), oracle_sql()
    spark, tracer = ctx.spark, ctx.tracer
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{ctx.data_dir}/{t}.parquet'")
    cold = 0.0
    for name in LANES:
        ctx.attempt(1)
        t0 = time.time()
        try:
            with tracer.span(f"plans.queries.{name}.cold", spark):
                got = plans[name](spark, ctx.data_dir).toPandas()
        except Exception as e:  # noqa: BLE001 - a failed lane is counted, the chain goes on
            ctx.fail(f"{name} raised {type(e).__name__}: {str(e)[:300]}")
            continue
        finally:
            cold += time.time() - t0
            release_lane_caches()
        with tracer.span("check.oracle"):
            problems = compare_frames(got, con.execute(oracles[name]).fetchdf())
        if problems:
            ctx.fail(f"{name} differs from its oracle: {problems[:3]}")
    con.close()
    return cold


def compare_frames(a: pd.DataFrame, b: pd.DataFrame) -> list[str]:
    """Row count, column names, then order-insensitive values (floats
    within 1e-9 relative)."""
    if sorted(a.columns) != sorted(b.columns):
        return [f"columns {sorted(a.columns)} != {sorted(b.columns)}"]
    if len(a) != len(b):
        return [f"rows {len(a)} != {len(b)}"]
    cols = sorted(a.columns)
    a, b = _canon(a[cols]), _canon(b[cols])
    problems = []
    for c in cols:
        x, y = a[c], b[c]
        if pd.api.types.is_float_dtype(x) or pd.api.types.is_float_dtype(y):
            xv, yv = x.to_numpy("float64"), y.to_numpy("float64")
            ok = np.isclose(xv, yv, rtol=1e-9, atol=1e-12, equal_nan=True)
        else:
            ok = ((x == y) | (x.isna() & y.isna())).to_numpy()
        if not ok.all():
            i = int(np.argmin(ok))
            problems.append(f"{c}: {int((~ok).sum())} mismatches, first {x.iloc[i]!r} vs {y.iloc[i]!r}")
    return problems


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif s.dtype == object:
            df[c] = s.map(lambda v: None if v is None else str(v))
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("int64")
    return df.sort_values(by=list(df.columns), ignore_index=True, na_position="first")


def setup(ctx) -> None:
    """Input generation, the cold pass, which doubles as the once-per-run
    oracle check (its DuckDB part is not set-up time), then untimed warm
    passes: after the cold pass alone, the first warm passes still sped
    up by ~10% each as the JIT settled (CPU per pass fell from ~9 to
    ~5.5 s over eight passes on 4 cores)."""
    from . import gen

    t0 = time.time()
    with ctx.tracer.span("gen.tables"):
        gen.make_tables(ctx.data_dir, ctx.seed, SF, with_corpus=True)
    ctx.cold_s = check_pass(ctx)
    for _ in range(WARMUP_PASSES):
        run_pass(ctx, span="lanes.warmup")
    ctx.setup_parts.append(time.time() - t0 - ctx.tracer.total("check.oracle"))


def attribute(ctx):
    """Main-thread jobs carry their lane's span name as job group."""
    lanes = {f"plans.queries.{n}" for n in LANES}

    def f(props: dict, t: float) -> str | None:
        group = props.get("spark.jobGroup.id")
        return group if group in lanes and ctx.timed_start <= t <= ctx.timed_end else None

    return f


def after_eventlog(ctx, counters) -> None:
    """Lane counters per warm pass, like the lane times."""
    for name in LANES:
        for k, v in counters.get(f"plans.queries.{name}", {}).items():
            ctx.layer[f"plans.queries.{name}.{k}"] = v / ctx.layer["lanes.warm_passes"]


def gap_name(ctx, a: float, b: float) -> str:
    return "main-thread Python between lane calls"


#: input scale: lineitem 120k rows, 1000 documents, 400 embeddings
SF = 0.02
#: nominal warm-pass time of the two lanes at SF on 4 cores (3-4.5 s
#: measured); the timed phase runs ``seconds / PASS_S`` passes, 5 at 15 s,
#: because single warm passes with no steal still varied by ~9%
PASS_S = 3.0
#: untimed warm passes in set-up
WARMUP_PASSES = 2


def run(ctx) -> None:
    """Timed phase: ``ctx.seconds`` worth of warm passes at the nominal
    pass time, and at least three. The count is fixed, not "until the
    time is up", because the passes still speed up as the JIT settles,
    so a run that fitted one more pass would read lower.
    ``latency_s`` is the median steal-adjusted pass (see metrics.py)."""
    from .trace import cpu_s, host_busy_steal_s

    ctx.timed_start = time.time()
    warm: list[float] = []
    cpu: list[float] = []
    for _ in range(max(3, round(ctx.seconds / PASS_S))):
        c0, (b0, s0) = cpu_s(ctx.jvm_pid), host_busy_steal_s()
        warm.append(run_pass(ctx))
        b1, s1 = host_busy_steal_s()
        cpu.append(cpu_s(ctx.jvm_pid) - c0)
        # the share of the CPU time the pass's busy CPUs wanted that the
        # hypervisor gave to other tenants instead
        ctx.samples.append((warm[-1], (s1 - s0) / max(1e-9, (b1 - b0) + (s1 - s0)), cpu[-1]))
    ctx.timed_end = time.time()

    # a pass with stolen share f took ~1 / (1 - f)^2 of its quiet time:
    # over 45 warm passes on the 4-vCPU host the benchmark was tuned on,
    # log(pass time) against -log(1 - f) had slope 1.86 (its CPU seconds,
    # which exclude steal, rose too: the CPUs this VM kept ran slower
    # while other tenants held the same cores)
    ctx.e2e(latency_s=statistics.median(w * (1.0 - stolen) ** 2 for w, stolen, _ in ctx.samples))
    ctx.layer["lanes_cold_s"] = ctx.cold_s
    ctx.layer["lanes.warm_passes"] = len(warm)
    ctx.layer["lanes.pass_s_p50"] = statistics.median(warm)
    ctx.layer["lanes.cpu_s_p50"] = statistics.median(cpu)
    ctx.layer["caching.release_s"] = ctx.tracer.total("caching.release")
    for name in LANES:
        ctx.layer[f"plans.queries.{name}_s"] = ctx.tracer.median(f"plans.queries.{name}")
