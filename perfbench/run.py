"""End-to-end benchmark of gpssbzd_spark.

    python3 perfbench/run.py --workload fleet_day --seed 1 --seconds 30 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed, drives the program through its public functions, checks the
outputs against computations made apart from the program, and prints
one JSON line last on stdout: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics, or with ``--trace 1`` the
per-layer ones). Workloads and metrics: perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
GPS = ("fleet_day", "dense_corridor")
INGEST = ("ingest_days",)
WORKLOADS = GPS + INGEST
MAX_HEAP_MB = 4096


def host_env(work: str) -> None:
    """The host settings the program reads from the environment."""
    with open("/proc/meminfo") as fh:
        total_mb = int(fh.readline().split()[1]) // 1024
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{min(MAX_HEAP_MB, total_mb // 4)}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT] + ([path] if path else []))


def warm(spark) -> None:
    """Run a job and start the Python workers."""
    df = spark.range(0, 64, numPartitions=int(os.environ["SPARK_GRAFT_CPUS"]))
    df.mapInPandas(lambda it: it, df.schema).count()


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait."""
    from pyspark import SparkContext

    from measure import process_tree

    gateway = SparkContext._gateway
    jvm = gateway.proc
    tree = process_tree(jvm.pid)
    spark.stop()
    gateway.shutdown()
    jvm.stdin.close()  # the JVM exits when its stdin closes
    try:
        jvm.wait(timeout=60)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()
    deadline = time.time() + 20
    for pid in tree[1:]:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main(argv=None) -> int:
    started = time.time()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + tuple(f"{w}-smoke" for w in WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep inputs, outputs and event log")
    args = ap.parse_args(argv)

    work = os.path.join(OUT, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    host_env(work)
    sys.path[:0] = [ROOT, HERE]
    try:
        import gpssbzd_spark
    except ImportError as exc:
        print(f"cannot import gpssbzd_spark from {ROOT}: {exc}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    import gps_chain
    import ingest_loop
    from measure import parse_eventlog, process_age_s

    age_at_start = process_age_s() - (time.time() - started)

    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    spark = gpssbzd_spark.get_session(extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{log_dir}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })
    try:
        warm(spark)
        setup_s = age_at_start + (time.time() - started)
        base = args.workload.removesuffix("-smoke")
        module = gps_chain if base in GPS else ingest_loop
        # A traced run also traces the other module's workload at its
        # smoke size, so that every per-layer metric is measured.
        parts = [(module, args.workload)]
        if args.trace:
            other = ingest_loop if module is gps_chain else gps_chain
            parts.append((other, ("ingest_days" if other is ingest_loop else "fleet_day") + "-smoke"))
        correct, attempted, to_metrics = True, 0, []
        try:
            for mod, workload in parts:
                sub = os.path.join(work, workload)
                os.makedirs(sub)
                result, fn = mod.run(spark, spark.sparkContext, workload, args.seed,
                                     args.seconds, bool(args.trace), sub)
                attempted += result["attempted"]
                to_metrics.append(fn)
                print(json.dumps({workload: result["summary"]}), file=sys.stderr)
        except AssertionError:
            traceback.print_exc()
            correct, attempted, to_metrics = False, 1, []
    finally:
        stop_spark(spark)

    usage = parse_eventlog(log_dir)
    metrics = {}
    for fn in reversed(to_metrics):  # the workload's own figures win
        metrics.update(fn(usage))
    if args.trace:
        layers = gps_chain.LAYERS + [x for x in ingest_loop.LAYERS if x not in gps_chain.LAYERS]
        metrics = {k: metrics.get(k, 0.0) for k in metrics_template(layers)}
        for _, workload in parts:
            spans = os.path.join(work, workload, "spans.json")
            if os.path.exists(spans):
                shutil.copy(spans, os.path.join(OUT, f"spans-{workload}-s{args.seed}.json"))
        units = {k: per_layer_unit(k) for k in metrics}
    else:
        metrics["setup_s"] = setup_s
        units = {"e2e_s": "s", "setup_s": "s", "executor_cpu_s": "s", "shuffle_write_mb": "MB"}
    if not args.keep:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": correct,
        "attempted": int(attempted),
        "failed": 0,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in sorted(metrics.items())},
    }))
    return 0


# Layers whose JVM GC time was above 0 in every traced run; the others
# read 0 on most runs and do not report it.
GC_LAYERS = ("plans.pattern_extraction", "dataprep.sigindex.match", "dataprep.sigindex.ingest",
             "dataprep.lshindex.append", "dataprep.ingest.compact")


def metrics_template(layers: list[str]) -> list[str]:
    names = [f"{layer}.{m}" for layer in layers for m in
             ("wall_s", "outside_jobs_s", "jobs", "cpu_s", "python_s",
              "shuffle_write_mb", "input_read_mb")]
    names += [f"{layer}.gc_s" for layer in layers if layer in GC_LAYERS]
    return names + ["chain.e2e_s", "chain.eager_jobs", "chain.input_scans",
                    "dataprep.ivfindex.query.p50_ms", "dataprep.lshindex.query.p50_ms"]


def per_layer_unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "ratio" if name.endswith("input_scans") else "count"


if __name__ == "__main__":
    sys.exit(main())
