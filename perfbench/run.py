"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload ingest_serve --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The package is imported from that
checkout and nowhere else. Inputs are generated from ``--seed``; every
op's output is checked; the last line of stdout is the JSON result
(``--trace 0``: end-to-end metrics; ``--trace 1``: per-layer metrics).
The line before it is a detail record: each timing's median, named
percentile and sample count, the traffic parameters and provenance.
All scratch state lives under ``.perfbench_work/`` and is removed at
exit; traces and detail records are kept under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time
from pathlib import Path

WORKLOADS = ("ingest_serve", "train_read", "corpus_curation")
SETUP_REPS = 3
DRIVER_MEMORY = "4g"
E2E_UNITS = {
    "setup_s": "s", "quality": "ratio", "main_cpu_ms": "ms", "iter_cpu_ms": "ms",
}


def _args():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _session_env(work: Path) -> None:
    """Size the session for this host and keep every file Spark, the
    JVM and Python write inside the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    # the short-lived launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        "--conf spark.ui.retainedJobs=100000",
        "--conf spark.ui.retainedStages=100000",
        f"--conf spark.sql.warehouse.dir={work / 'warehouse'}",
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
        "pyspark-shell",
    ])


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _provenance(spark) -> dict:
    import duckdb
    import numpy
    import pandas
    import pyarrow

    jvm = spark.sparkContext._jvm
    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "numpy": numpy.__version__,
        "duckdb": duckdb.__version__,
        "callers": 1,
        "loop": "closed",
    }


def _selfcheck(mod, seed: int, ctx) -> None:
    """Same seed, same inputs; another seed, other inputs."""
    a, b, c = (mod.inputs_digest(s) for s in (seed, seed, seed + 1))
    for ok, why in ((a == b, "same seed generated different inputs"),
                    (a != c, "different seeds generated the same inputs")):
        ctx.attempted += 1
        ctx.check(ok, why)


def main() -> int:
    args = _args()
    root = Path(__file__).resolve().parent.parent
    if not (root / "feature_store_api_spark" / "__init__.py").is_file():
        print(f"perfbench: no feature_store_api_spark package in {root}",
              file=sys.stderr)
        return 2
    work = root / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    out_dir = root / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    _session_env(work)
    sys.path.insert(0, str(root))
    try:
        return _run(args, root, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass  # another run's work dir is still there


def _run(args, root: Path, work: Path, out_dir: Path) -> int:
    import feature_store_api_spark as fsa

    if not Path(fsa.__file__).resolve().is_relative_to(root):
        print(f"perfbench: imported {fsa.__file__}, not the checkout's package",
              file=sys.stderr)
        return 2
    from perfbench import layers
    from perfbench.common import Ctx
    from perfbench.measure import median
    from perfbench.trace import NoTracer, Tracer

    mod = importlib.import_module(f"perfbench.{args.workload}")
    t0 = time.perf_counter()
    spark = fsa.get_spark("perfbench")
    spark_start_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark.sparkContext) if args.trace else NoTracer()
        ctx = Ctx(spark, args.seed, str(work), tracer)
        _selfcheck(mod, args.seed, ctx)
        if args.trace:
            layers.install_hooks(tracer)
            tracer.install()
        # inputs are generated and written once, outside the timer;
        # setup_s times only what the workload asks of the package
        pre = mod.prepare(ctx, SETUP_REPS)
        setup_times = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            st = mod.setup(ctx, pre, rep)
            setup_times.append(time.perf_counter() - t)
        t = time.perf_counter()
        mod.loop(ctx, st, args.seconds)
        loop_s = time.perf_counter() - t
        e2e, latency, detail = mod.results(ctx, st)
        tracer.uninstall()
        e2e["setup_s"] = median(setup_times)
        detail.update({
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "loop_s": loop_s, "spark_start_s": spark_start_s,
            "latency_ms": latency,
            "setup_s": {"median": e2e["setup_s"], "runs": setup_times},
            "attempted": ctx.attempted, "failed": ctx.failed,
            "failed_op_ratio": ctx.failed / max(ctx.attempted, 1),
            "ops": {k: len(v) for k, v in ctx.samples.items()},
            "errors": ctx.errors[:5],
            "provenance": _provenance(spark),
        })
        if args.trace:
            op_counts = {k: len(v) for k, v in ctx.samples.items()}
            per_layer = layers.compute(
                tracer, spark.sparkContext, op_counts, layers.span_cost(Tracer))
            per_layer.update({f"latency.{k}": v for k, v in latency.items()})
            metrics = {n: {"value": float(per_layer.get(n, 0.0)), "unit": u}
                       for n, u in layers.names()}
            detail["traced_e2e"] = e2e
            tracer.write(str(out_dir / f"trace-{args.workload}-{args.seed}.json"))
        else:
            metrics = {n: {"value": float(e2e[n]), "unit": u}
                       for n, u in E2E_UNITS.items()}
    finally:
        _stop(spark)
    name = f"result-{args.workload}-{args.seed}-trace{args.trace}.json"
    (out_dir / name).write_text(json.dumps(detail, indent=1, default=str))
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
