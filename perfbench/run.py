"""Feature-store benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload publish --seed 1 --seconds 4 --trace 0

Run from the repository root. The inputs are generated from ``--seed``;
the program under test is the ``ml_feature_store_pipeline_spark`` package
next to this directory, reached only through its public functions. The
run prints a human-readable report, then, as its last line, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Scratch files live under ``.perfbench/`` and are removed on exit; a
traced run leaves its span dump in ``.perfbench/spans/``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "ml_feature_store_pipeline_spark"

def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0, help="input-size multiplier (tests)")
    return p.parse_args(argv)


def configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TZ"] = "UTC"  # collected timestamps are naive local times
    time.tzset()
    os.environ["TMPDIR"] = tmp
    # local[N] with N half the CPUs: the other half runs the Spark driver's
    # threads (the Python client, the JVM's scheduler, JIT and GC); on a
    # host shared with other tenants runs repeated better than with all
    # CPUs (README, "Steadiness")
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, len(os.sched_getaffinity(0)) // 2))
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.local.dir={os.path.join(work, 'spark-local')} "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "pyspark-shell"
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (it exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE}/ not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import workloads
    from layers import per_layer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    configure_env(work)
    from ml_feature_store_pipeline_spark.session import get_spark

    spark = None
    samples: dict[str, int] = {}
    try:
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        session_s = time.perf_counter() - t0
        run = workloads.Run(
            spark, seed=args.seed, seconds=args.seconds, trace=bool(args.trace), work=work, scale=args.scale
        )
        workloads.WORKLOADS[args.workload](run)
        run.tracer.enabled = False
        if args.trace:
            metrics = per_layer(run, session_s)
            spans_dir = os.path.join(state, "spans")
            os.makedirs(spans_dir, exist_ok=True)
            run.tracer.dump(os.path.join(spans_dir, f"{args.workload}-{args.seed}.jsonl"))
        else:
            # the report prints each with its sample count: setup_s is a
            # median over the repeated ready steps, request_p50_ms over the
            # timed requests
            metrics = {
                "setup_s": (run.setup_s(session_s), "s"),
                "request_p50_ms": (run.request_p50_ms(), "ms"),
                "driver_peak_rss_mb": (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, "MB"),
            }
            samples = {"setup_s": len(run.ready_s), "request_p50_ms": len(run.latency)}
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    print_report(args, run, metrics, samples, session_s)
    correct = bool(run.checks) and all(ok for _, ok, _ in run.checks) and bool(run.latency)
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


def print_report(args, run, metrics, samples, session_s: float) -> None:
    print(f"== perfbench {args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace}")
    for name, ok, detail in run.checks:
        if not ok or len(run.checks) < 40:
            print(f"check {'PASS' if ok else 'FAIL'} {name} {detail if not ok else ''}".rstrip())
    print(f"checks: {sum(ok for _, ok, _ in run.checks)}/{len(run.checks)} passed")
    print(f"op_failure_ratio {run.failed / max(run.attempted, 1):.4f} ratio (n={run.attempted})")
    print(f"session_s {session_s:.3f} s; prep_s {run.prep_s:.3f} s; ready_s {[round(x, 3) for x in run.ready_s]}")
    print(f"request_s {[round(x, 4) for x in run.latency][:50]}")
    for name, (value, unit, n) in run.report.items():
        print(f"{name} {value:.6g} {unit}" + (f" (n={n})" if n is not None else ""))
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}" + (f" (n={samples[name]})" if name in samples else ""))


if __name__ == "__main__":
    sys.exit(main())
