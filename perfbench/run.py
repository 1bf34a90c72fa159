"""Lakehouse benchmark: one workload, one seed, one JSON result line.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload serving_mix --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/workloads.py): ``medallion_incremental``,
``serving_mix`` and ``curation_fresh``.  A run generates its inputs from
``--seed``, starts a ``local[<cores>]`` session through the package's
``get_spark``, warms up on separately seeded inputs (all of that is
``setup_s``), then runs the workload's fixed number of cycles for
``--seconds`` — at least one — checking every cycle's output against the
DuckDB oracles outside the timed intervals.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
loop with spans around the package's layers and prints the per-layer
metrics, writing every span to ``.perfbench/traces/``.  The last stdout
line is ``{"correct", "attempted", "failed", "metrics"}``; ``attempted``
counts operations and ``failed`` counts failed operations plus failed
output checks.  Everything else the run writes lives under
``.perfbench/work-<pid>/`` and is removed before exit.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shlex
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEMORY = "2g"


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: str, cores: int) -> None:
    """Size the session and keep every temporary file inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # the JVM spark-submit runs first
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--driver-java-options", shlex.quote(java_opts),
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
            "pyspark-shell",
        ]
    )


def rss_mb(spark) -> dict:
    """Peak resident memory of this process and of the session's JVM."""
    driver = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    jvm = 0.0
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm = int(line.split()[1]) / 1024.0
    return {"driver": driver, "jvm": jvm}


def shutdown(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=120)


def measure(args, work: str, cores: int) -> dict:
    t0 = time.perf_counter()
    from bakery_big_data_spark import session
    # import every traced module before Tracer.install() walks their bindings
    from bakery_big_data_spark.pipeline import curation, medallion  # noqa: F401
    from bakery_big_data_spark.plans import REGISTRY  # noqa: F401
    from bakery_big_data_spark.sources import snapshots  # noqa: F401

    from perfbench import report, stats
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Context

    tracer = Tracer(enabled=bool(args.trace))
    tracer.install()
    with tracer.span("session.get_spark"):
        spark = session.get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        tracer.attach(spark)
        ctx = Context(spark, args.seed, work, tracer, args.seconds)
        wl = WORKLOADS[args.workload](ctx)
        wl.setup()
        setup_s = time.perf_counter() - t0
        cycles = [wl.cycle(k) for k in range(wl.n_cycles)]
        rss = rss_mb(spark)
    finally:
        tracer.uninstall()
        shutdown(spark)

    attempted = sum(c.ops for c in cycles)
    failed = sum(c.failed_ops + c.failed_checks for c in cycles)
    n_checks = sum(c.checks for c in cycles)
    op_s = [x for c in cycles for x in c.op_s]
    measured = sum(c.cycle_s for c in cycles)
    if args.trace:
        tracer.dump(os.path.join(ROOT, ".perfbench", "traces", f"{args.workload}-seed{args.seed}.jsonl"))
        metrics = report.per_layer(tracer, cycles, wl.input_bytes, cores, rss)
    else:
        metrics = report.end_to_end(setup_s, cycles)

    s = stats.summarize(op_s) if op_s else {"n": 0, "p50": 0.0, "tail_pct": None, "tail": None}
    tail = "none" if s["tail"] is None else f"p{s['tail_pct']:g} {s['tail'] * 1000:.1f} ms"
    print(
        f"# {args.workload} seed={args.seed} cores={cores} trace={args.trace}: "
        f"setup {setup_s:.2f} s; op p50 {s['p50'] * 1000:.1f} ms, tail {tail}, n={s['n']}; "
        f"{len(cycles)} cycles, {measured:.2f} s measured; "
        f"checks {n_checks - sum(c.failed_checks for c in cycles)}/{n_checks} passed; "
        f"failed {failed}/{attempted}"
    )
    return {
        "correct": failed == 0 and n_checks > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    configure_env(work, cores)
    sys.path.insert(0, ROOT)
    try:
        result = measure(args, work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
