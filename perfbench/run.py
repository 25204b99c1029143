"""Benchmark of record for heapdumpstardiver-spark.

Usage (from the repository root):

    python3 perfbench/run.py --workload heap_triage --seed 1 --seconds 8 --trace 0

Generates (or reuses) the seeded inputs, starts a Spark session through
the engine's own ``session.get_spark`` on ``local[<cpus>]``, runs the
workload's closed loop for ``--seconds`` and prints, as the last line
of standard output, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. The line before it is a ``detail`` object:
the pinned environment, sample counts and the workload's own figures.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a traced run. Exit status is 1 when an output was
wrong and 2 when the engine package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
WORK = os.path.join(HERE, ".work")

#: Units of the end-to-end metrics (all workloads) and their meaning.
END_TO_END = {
    "setup_s": "s",      # engine start to the first timed operation
    "pass_s": "s",       # median wall time of one pass of the workload's batch work
    "op_p50_ms": "ms",   # median latency of one client operation
}


def pin_environment(work: str) -> dict:
    """Run on every core of this machine, let Spark's Python workers
    import the engine, and keep Spark's scratch files in *work*."""
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
        "pyspark-shell",
    ])
    sys.path[:0] = [ROOT]
    return {"SPARK_GRAFT_CPUS": cpus, "PYTHONPATH": os.environ["PYTHONPATH"],
            "master": f"local[{cpus}]"}


def driver_rss_mb(spark) -> float | None:
    """Peak resident memory (VmHWM) of the driver JVM."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        return None
    return None


def stop_spark(spark) -> None:
    """Stop the session and wait until the driver JVM has exited."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait()


def end_to_end(res: dict, setup_s: float) -> dict:
    from stats import median

    return {
        "setup_s": setup_s,
        "pass_s": median(res["passes"]),
        "op_p50_ms": median(res["ops_ms"]),
    }


def sample_counts(res: dict) -> dict:
    """Samples behind each end-to-end metric."""
    return {"setup_s": 1, "pass_s": len(res["passes"]), "op_p50_ms": len(res["ops_ms"])}


def workload_detail(res: dict, b, rss) -> dict:
    """The workload's own figures, under the names used in README.md."""
    from workloads import named

    return {"failed_op_ratio": named(b.failed / max(1, b.attempted), "ratio", b.attempted),
            "driver_peak_rss_mb": named(rss, "MB", 1), **res["named"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "heapdumpstardiver_spark", "__init__.py")):
        print(f"perfbench: engine package heapdumpstardiver_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    env = pin_environment(WORK)

    import inputs
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    kind, fn = workloads.WORKLOADS[args.workload]
    if kind == "heap":
        data, truth = inputs.heap_input(CACHE, args.seed)
    else:
        data, truth = inputs.corpus_input(CACHE, args.seed)

    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    t0 = time.perf_counter()
    from heapdumpstardiver_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}")
    b = workloads.Bench(spark, args.seconds, work, bool(args.trace))
    try:
        start_s = time.perf_counter() - t0
        if b.tracer is not None:
            b.tracer.record("session", "session.start", t0, t0 + start_s)
            b.start_tracing()
        res = fn(b, data, truth)
        setup_s = start_s + res["setup_s"]
        rss = driver_rss_mb(spark)
        if args.trace:
            import layers

            metrics = layers.per_layer_metrics(b, res)
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            b.tracer.dump(os.path.join(WORK, "traces", f"{args.workload}-{args.seed}.jsonl"))
        else:
            metrics = {k: {"value": v, "unit": END_TO_END[k]}
                       for k, v in end_to_end(res, setup_s).items()}
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "env": env, "samples": sample_counts(res),
        "setup_parts_s": {"session_start": start_s, "workload": res["setup_s"]},
        "pass_samples_s": res["passes"],
        "workload_metrics": workload_detail(res, b, rss),
        "failures": b.failures,
    }
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": b.failed == 0, "attempted": b.attempted,
                      "failed": b.failed, "metrics": metrics}))
    return 0 if b.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
