"""Benchmark command of memfuse_spark: one workload, one seed, one run.

    python3 perfbench/run.py --workload recall --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` into
``.perfbench_work/`` under the current directory (removed afterwards);
the program runs in-process on a local[4] Spark session. The last line
of standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics of BENCHMARK.json
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it is a ``perfbench-report`` JSON object with the host key, input
sizes, sample counts and every named metric of the workload.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time
import traceback

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), os.pardir))
CPUS = "4"
SF = 0.1


def _setup_env(work: str) -> None:
    """Environment the JVM and Python workers inherit: local[4], the repo on
    the workers' path, temporary files inside the run directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = CPUS
    os.environ["TMPDIR"] = tmp
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def _session(work: str, trace: bool):
    from memfuse_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": "2g",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        # A fixed-size heap, touched at start, so resident memory does not
        # follow heap growth; the client JIT compiler only, so the driver's
        # code is compiled within the first request and its latency does
        # not keep falling through the run (see README, "Set-up").
        "spark.driver.extraJavaOptions":
            f"-Xms2g -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={tmp}",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
        os.makedirs(conf["spark.eventLog.dir"], exist_ok=True)
    return get_spark(app_name="perfbench", extra_conf=conf)


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM process to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _hwm_mb(pid) -> float:
    """High-water resident set of process ``pid`` in MB (Linux /proc)."""
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _source_hash() -> str:
    """Digest of the program's source, for checkouts without git."""
    h = hashlib.sha1()
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for root, dirs, names in os.walk(os.path.join(ROOT, "memfuse_spark")):
        dirs.sort()
        files += [os.path.join(root, n) for n in sorted(names) if n.endswith(".py")]
    for f in files:
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def _git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def host_key(spark) -> dict:
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "spark_graft_cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "master": spark.sparkContext.master,
        "sf": SF,
        "pyspark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_commit": _git_commit(),
        "source_hash": _source_hash(),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from perfbench import datagen, metrics
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    try:
        import memfuse_spark  # noqa: F401 — the program under test
        from tools.runlock import acquire_run_lock
    except ImportError as e:
        print(f"perfbench: program not found next to the benchmark: {e}", file=sys.stderr)
        return 2
    work_root = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(work_root, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _setup_env(work)
    lock = acquire_run_lock(f"perfbench {args.workload}",
                            path=os.path.join(work_root, "run.lock"))
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _session(work, bool(args.trace))
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark.sparkContext, enabled=False)
        ctx = Ctx(spark=spark, tracer=tracer, seed=args.seed,
                  scale=datagen.Scale(SF), work=work)
        wl = WORKLOADS[args.workload]()
        phases = {"session_s": session_s}
        t0 = time.perf_counter()
        wl.setup(ctx)
        phases["setup_s"] = time.perf_counter() - t0
        if args.trace:
            metrics.install_wrappers(tracer)
            tracer.enabled = True
        t0 = time.perf_counter()
        wl.measure(ctx, args.seconds)
        phases["measure_s"] = time.perf_counter() - t0
        tracer.enabled = False
        tracer.unwrap_all()
        # before the checks: their DuckDB twins run in this process
        rss = _hwm_mb("self") + _hwm_mb(spark._jvm.ProcessHandle.current().pid())
        span_cost = metrics.span_cost_s(spark.sparkContext) if args.trace else 0.0
        t0 = time.perf_counter()
        wl.check(ctx)
        phases["check_s"] = time.perf_counter() - t0
        key = host_key(spark)
        t0 = time.perf_counter()
        _stop(spark)
        spark = None
        phases["stop_s"] = time.perf_counter() - t0
        events = None
        if args.trace:
            from perfbench.trace import read_event_logs

            events = read_event_logs(os.path.join(work, "eventlog"))
        report, e2e, layer = metrics.summarise(
            wl.name, ctx, session_s=session_s, peak_rss_mb=rss,
            events=events, span_cost=span_cost,
        )
        report["host"] = key
        report["phases"] = phases
        report["seed"] = args.seed
        report["seconds"] = args.seconds
        report["trace"] = args.trace
        print("perfbench-report " + json.dumps(report, sort_keys=True))
        ok = ctx.failed == 0 and ctx.attempted > 0
        print(json.dumps({
            "correct": ok,
            "attempted": ctx.attempted,
            "failed": ctx.failed,
            "metrics": layer if args.trace else e2e,
        }))
        return 0
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        if lock is not None:
            lock.close()


if __name__ == "__main__":
    sys.exit(main())
