"""The repository's benchmark: one command, two workloads, end-to-end
metrics from untraced runs and per-layer metrics from traced ones.

Usage (from the repository root)::

    python3 perfbench/run.py --workload analytic_sf0.1 --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload social_oltp --seed 1 --seconds 10 --trace 1

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; a human-readable
table with units and sample counts goes to standard error. Metric and
workload definitions live in ``perfbench/README.md`` and
``perfbench/layers.py``.

Every file the run creates (fixtures, Spark temp and local dirs,
snapshot stores, materialized passes, stream sinks) lives under one
per-run directory inside ``.perfbench/`` that is deleted at exit.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "flat_file_social_media_database_engine_spark"

sys.path.insert(0, HERE)
from cputime import cpu_ticks, steal_share  # noqa: E402


def process_age_s() -> float:
    """Seconds since this process started (Linux /proc clock, 10 ms
    resolution), so set-up time includes interpreter start and imports."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class Run:
    """Per-run context: the session, the run directory, the optional
    tracer, and the metric/sample bookkeeping every workload reports
    through."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, base: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.base = base  # .perfbench/: per-checkout caches and trace dumps
        self.run_dir = tempfile.mkdtemp(prefix="run-", dir=base)
        self.cpus = len(os.sched_getaffinity(0))
        self.spark = None
        self.tracer = None
        self.metrics: dict[str, tuple[float, str, int]] = {}
        self.attempted = 0
        self.failed = 0
        self.ticks = cpu_ticks()  # host steal over the whole run, for the report

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def put(self, name: str, value: float, unit: str, samples: int = 1) -> None:
        self.metrics[name] = (float(value), unit, int(samples))

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: FAIL {what}", file=sys.stderr, flush=True)

    def start_session(self) -> None:
        from flat_file_social_media_database_engine_spark.session import build_session

        t = time.perf_counter()
        self.spark = build_session(f"perfbench-{self.workload}")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.put("session.build_s", time.perf_counter() - t, "s")

    def quiesce(self) -> None:
        """Collect garbage in both heaps outside any timed region."""
        self.spark.sparkContext._jvm.System.gc()
        gc.collect()

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and with it the Python
        workers it forked) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()  # PythonGatewayServer exits on EOF
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


def _environment(run_dir: str) -> None:
    """Point every temp/spill location at the run directory and make
    the package importable by the Python workers Spark forks."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = None  # re-read TMPDIR
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _report(run: Run, keys: list[str]) -> None:
    """Human-readable table on stderr: every metric measured (whether
    or not it is in this run's JSON), with unit and sample count."""
    err = sys.stderr
    load1, load5, load15 = os.getloadavg()
    print(
        f"perfbench: workload={run.workload} seed={run.seed} trace={int(run.trace)}"
        f" nproc={run.cpus} loadavg={load1:.2f},{load5:.2f},{load15:.2f}"
        f" steal={100.0 * steal_share(run.ticks, cpu_ticks()):.1f}%",
        file=err,
    )
    for name in sorted(run.metrics):
        value, unit, n = run.metrics[name]
        mark = "*" if name in keys else " "
        print(f"  {mark} {name:<48} {value:>16.6g} {unit:<8} n={n}", file=err)
    rate = run.failed / run.attempted if run.attempted else 1.0
    print(
        f"  error_rate {rate:.4f} ({run.failed}/{run.attempted} failed)",
        file=err,
        flush=True,
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import layers

    if args.workload not in layers.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    missing = [
        p for p in (os.path.join(ROOT, PKG, "engine.py"), os.path.join(ROOT, "tools", "selfcheck.py"))
        if not os.path.exists(p)
    ]
    if missing:
        print(f"perfbench: engine sources not found: {missing}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), base)
    try:
        _environment(run.run_dir)
        if args.workload == "social_oltp":
            import oltp as workload
        else:
            import analytic as workload
        workload.run(run, process_age_s)
        if run.trace:
            from spans import jvm_peak_rss_mb

            run.put("session.jvm_peak_rss_mb", jvm_peak_rss_mb(run.spark.sparkContext), "MB")
            run.tracer.dump(os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.jsonl"))
    finally:
        run.stop()
        shutil.rmtree(run.run_dir, ignore_errors=True)

    keys = [m["name"] for m in (layers.PER_LAYER if run.trace else layers.END_TO_END)]
    _report(run, keys)
    metrics = {}
    for name in keys:
        value, unit, _ = run.metrics.get(name, (0.0, layers.unit_of(name), 0))
        metrics[name] = {"value": value, "unit": unit}
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": max(1, run.attempted),
        "failed": run.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
