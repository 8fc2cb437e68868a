"""Pipeline benchmark: trickle freshness and batch-lane time, with a traced
per-layer split.

Run from the root of a checkout::

    python3 perfbench/run.py --workload trickle --seed 1 --seconds 15 --trace 0

Workloads (see ``BENCHMARK.json`` for why each exists):

- ``trickle`` (open loop, 1 file/s): one sf0.1-density day file (~240 rows)
  lands per second while the pipe (1-second trigger) and the 3 tasks
  (5-second schedule) run live; then the governed report runs for all 6
  accounts, plus one ``status()``.
- ``batch_lanes`` (closed loop, 1 client): warm passes of two DuckDB-gated
  registry lanes, read-only, noop sink.

Every run makes its inputs from ``--seed`` under a run directory inside
the checkout (``.perfbench_tmp/``), points ``TMPDIR``, ``SPARK_LOCAL_DIRS``
and the JVM's temp dir there, counts what the engine left behind as
``caching.leaked_tmp_entries`` and deletes it. The session is
``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this process may use).

Output: a facts line (seed, CPUs, steal, uncovered trace gaps), then, as
the last line, ``{"correct", "attempted", "failed", "metrics"}``; the
metrics are the end-to-end ones with ``--trace 0`` and the per-layer ones
with ``--trace 1``, which also turns on Spark's event log and writes the
run's spans to ``.perfbench_traces/<run id>.jsonl``. Metric
meanings are in ``perfbench/metrics.py``. Exits non-zero, printing no
result, when the engine package is not beside ``perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

ENGINE = "snowflake_data_pipeline_demo_spark"


class Ctx:
    """What one run shares between this module and a workload."""

    def __init__(self, args, run_dir: str):
        from .trace import Tracer

        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.run_dir = run_dir
        self.data_dir = f"{run_dir}/data"
        self.tracer = Tracer(run_id=f"{args.workload}-{args.seed}-{os.getpid()}",
                             traced=self.traced)
        self.spark = None
        self.attempted = 0
        self.failures: list[str] = []
        self.metrics: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.setup_parts: list[float] = []
        self.timed_start = self.timed_end = 0.0
        #: the samples behind latency_s (lanes: (pass wall, stolen share, CPU s))
        self.samples: list = []

    def attempt(self, n: int) -> None:
        self.attempted += n

    def fail(self, why: str) -> None:
        self.failures.append(why)
        print(f"FAILED: {why}", file=sys.stderr)

    def e2e(self, **values: float) -> None:
        self.metrics.update(values)


def _cpus() -> str:
    try:
        return str(len(os.sched_getaffinity(0)))
    except AttributeError:
        return str(os.cpu_count() or 1)


def _prepare_env(run_dir: str) -> None:
    tmp, local = f"{run_dir}/tmp", f"{run_dir}/spark-local"
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_CPUS", _cpus())
    tempfile.tempdir = None


def _redirect_stderr(path: str) -> int:
    """Send fd 2 (ours and the JVM's) to ``path``; returns the saved fd."""
    sys.stderr.flush()
    saved = os.dup(2)
    fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(fd, 2)
    os.close(fd)
    return saved


def _restore_stderr(saved: int, log_path: str, tail: int) -> int:
    """Restore fd 2, echo the log's last ``tail`` lines, return its
    WARN line count."""
    sys.stderr.flush()
    os.dup2(saved, 2)
    os.close(saved)
    with open(log_path, errors="replace") as f:
        lines = f.readlines()
    if tail:
        sys.stderr.writelines(lines[-tail:])
    sys.stderr.flush()
    return sum(1 for ln in lines if " WARN " in ln)


def _rounded(x):
    return round(x, 3) if isinstance(x, float) else [_rounded(v) for v in x]


def _stop_jvm() -> None:
    """End the session's JVM and wait for it: closing its stdin makes the
    gateway exit, and its shutdown hooks remove Spark's own temp dirs."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _run(ctx: Ctx, module) -> None:
    from . import trace
    from .trace import host_steal_s, peak_rss_mb

    steal0 = host_steal_s()
    t0 = time.time()
    with ctx.tracer.span("session.start"):
        from snowflake_data_pipeline_demo_spark.session import get_spark

        conf = trace.eventlog_conf(f"{ctx.run_dir}/eventlog") if ctx.traced else {}
        ctx.spark = get_spark("perfbench", **conf)
        ctx.spark.range(1).count()
    ctx.setup_parts.append(time.time() - t0)
    ctx.jvm_pid = jvm_pid = int(ctx.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    module.setup(ctx)
    module.run(ctx)
    ctx.layer["session.jvm_peak_rss_mb"] = peak_rss_mb(jvm_pid)
    ctx.spark.stop()
    ctx.layer["host.steal_s"] = host_steal_s() - steal0
    ctx.layer["session.start_s"] = ctx.tracer.total("session.start")
    ctx.e2e(setup_s=sum(ctx.setup_parts))
    if ctx.traced:
        counters = trace.fold_eventlog(f"{ctx.run_dir}/eventlog", module.attribute(ctx))
        for span, vals in counters.items():
            for k, v in vals.items():
                ctx.layer[f"{span}.{k}"] = v
        module.after_eventlog(ctx, counters)
    gaps = ctx.tracer.uncovered(ctx.timed_start, ctx.timed_end)
    ctx.layer["trace.uncovered_s"] = sum(b - a for a, b in gaps)
    ctx.gaps = [(round(a - ctx.timed_start, 3), round(b - a, 3),
                 module.gap_name(ctx, a, b)) for a, b in gaps if b - a >= 0.05]
    ctx.self_times = ctx.tracer.self_times()


def main(argv: list[str] | None = None) -> int:
    from .metrics import E2E, PER_LAYER, WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[n for n, _ in WORKLOADS])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, ENGINE, "__init__.py")):
        print(f"perfbench: no {ENGINE}/ package in {root}; run from a checkout root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    base = os.path.join(root, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=base)
    _prepare_env(run_dir)
    log_path = f"{run_dir}/stderr.log"
    saved = _redirect_stderr(log_path)

    from . import lanes, trickle

    module = {"trickle": trickle, "batch_lanes": lanes}[args.workload]
    ctx = Ctx(args, run_dir)
    crashed = None
    try:
        _run(ctx, module)
    except Exception:  # noqa: BLE001 - reported below, exit code 1
        crashed = traceback.format_exc()
    finally:
        try:
            if ctx.spark is not None:
                ctx.spark.stop()
                _stop_jvm()
        finally:
            warn_lines = _restore_stderr(saved, log_path, tail=0 if crashed is None else 80)
    if crashed is not None:
        print(crashed, file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 1

    if ctx.traced:
        os.makedirs(os.path.join(root, ".perfbench_traces"), exist_ok=True)
        ctx.tracer.dump(os.path.join(root, ".perfbench_traces", f"{ctx.tracer.run_id}.jsonl"))
    leaked = os.listdir(f"{run_dir}/tmp")
    ctx.layer["caching.leaked_tmp_entries"] = len(leaked)
    ctx.layer["log.warn_lines"] = warn_lines
    for k, v in ctx.metrics.items():
        ctx.layer[f"trace.{k}"] = v
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        os.rmdir(os.path.join(root, ".perfbench_tmp"))
    except OSError:
        pass  # another run's directory is still there

    facts = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "nproc": int(_cpus()), "steal_s": round(ctx.layer["host.steal_s"], 2),
        "leaked_tmp": sorted(leaked)[:20], "failures": ctx.failures[:20],
        "uncovered": ctx.gaps[:20], "samples": _rounded(ctx.samples),
        "self_s": {k: round(v, 3) for k, v in sorted(ctx.self_times.items())},
    }
    print(json.dumps({"facts": facts}))
    if args.trace:
        names = [(n, u) for n, u, _ in PER_LAYER]
        values = ctx.layer
    else:
        names = [(n, u) for n, u, _, _ in E2E]
        values = ctx.metrics
    result = {
        "correct": not ctx.failures,
        "attempted": max(1, ctx.attempted),
        "failed": len(ctx.failures),
        "metrics": {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in names},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from perfbench.run import main as _main

    sys.exit(_main())
