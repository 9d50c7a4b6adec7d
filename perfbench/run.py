"""Benchmark of pyspark_retention_pipeline_spark. Run from the repository root:

    python3 perfbench/run.py --workload churn_lifecycle --seed 1 --seconds 15 --trace 0

Workloads (see perfbench/README.md): ``churn_lifecycle`` and
``catalog_mix``. Inputs are generated from ``--seed``; the package only
ever sees the generated inputs. The run sets up, measures closed-loop
operations for ``--seconds``, checks every output outside the timed region
and prints one metric per line, then one JSON object as the last line:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` traces every
other step and reports the per-layer metrics, writing all spans to
``.perfbench/traces/<workload>-seed<seed>.json``. Exit code 1 means a check
failed; 2 means the run could not be set up.

All scratch data, Spark's local directories and the working directory live
in ``.perfbench/run-<pid>`` under the repository root and are removed at exit.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "pyspark_retention_pipeline_spark"
# Set-up steps that can run more than once are repeated and their median is
# reported, which keeps setup_s steady.
PREP_REPEATS = 2
CPUS = min(4, os.cpu_count() or 1)
# A fixed, pre-touched driver heap: the JVM's resident size then does not
# depend on when its collector chose to grow the heap, which keeps
# peak_rss_mb comparable between runs.
DRIVER_MEM = "1g"


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--scale",
        choices=("full", "tiny"),
        default="full",
        help="input size; 'tiny' is for the benchmark's own self-test",
    )
    return p.parse_args(argv)


def _isolate(work: str) -> None:
    """Keep everything the run writes under ``work`` and make the package
    importable by Spark's Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch' pyspark-shell"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Naive datetimes (the churn cutoff) convert through the process time
    # zone; pin it so inputs do not shift with the host's.
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.chdir(work)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    _isolate(work)
    try:
        return _run(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    import workloads
    from tracing import Tracer, median, vm_hwm_mb

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    from pyspark import SparkContext

    t0 = time.perf_counter()
    from pyspark_retention_pipeline_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}", shuffle_partitions=CPUS)
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        wl = workloads.WORKLOADS[args.workload](
            spark, tracer, os.path.join(work, "data"), args.seed, args.scale
        )
        prep = []
        for i in range(PREP_REPEATS):
            t = time.perf_counter()
            wl.prepare(i)
            prep.append(time.perf_counter() - t)
        check_s = wl.warm()
        # Process start to the first timed operation, less the checks and
        # the repeated preparations beyond their median.
        setup_s = time.perf_counter() - T_PROCESS - check_s - (sum(prep) - median(prep))

        report = wl.measure(args.seconds)
        errors = wl.check()
        rss_mb = vm_hwm_mb() + vm_hwm_mb(SparkContext._gateway.proc.pid)

        detail = wl.detail()
        detail["setup_s"] = (setup_s, "s")
        detail["peak_rss_mb"] = (rss_mb, "MB")
        detail["session.get_spark_s"] = (session_s, "s")
        if args.trace:
            metrics = wl.layer_metrics(session_s)
            detail.update(wl.layer_detail())
            tracer.dump(
                os.path.join(ROOT, ".perfbench", "traces", f"{args.workload}-seed{args.seed}.json")
            )
        else:
            metrics = wl.end_to_end(setup_s, rss_mb)
    finally:
        _stop(spark)

    for name, (value, unit) in sorted(detail.items()):
        print(f"{name} = {value} {unit}")
    for e in errors:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": not errors,
                "attempted": report.attempted,
                "failed": report.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        ),
        flush=True,
    )
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
