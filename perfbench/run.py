#!/usr/bin/env python3
"""CDC engine benchmark: one workload per invocation.

    python3 perfbench/run.py --workload replay_large --seed 1 --seconds 15 --trace 0

Run from the repository root (the engine package ``etl_spark`` is imported
from the working directory). The process starts one Spark session on
``local[$SPARK_GRAFT_CPUS]`` (default: the number of CPUs), builds or reuses
its seeded inputs under ``perfbench/.cache``, sets up, measures for
``--seconds``, checks every result against the DuckDB oracle, and prints
one JSON line of detail followed by the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the engine's public calls are wrapped in spans and the metrics are the
per-layer ones. The exit code is 0 only when every check passed. See
perfbench/README.md for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)


def _load_config() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def host_health() -> dict:
    """memcpy bandwidth probe (the repository's scripts/health_gate.py,
    loaded by path) and load average; context for the reader only."""
    out: dict = {}
    try:
        spec = importlib.util.spec_from_file_location(
            "health_gate", os.path.join(ROOT, "scripts", "health_gate.py"))
        hg = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(hg)
        p = hg.probe()
        out["memcpy_gb_s"] = p["steady_state_gb_s"]
    except Exception as exc:  # context only: a missing probe must not fail the run
        out["probe_error"] = f"{type(exc).__name__}: {exc}"
    out["loadavg"] = [round(x, 2) for x in os.getloadavg()]
    return out


def start_spark(work: str):
    """One Spark session whose scratch files stay inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
        os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", "-XX:+UseParallelGC")
        + f" -XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    from etl_spark.session import get_spark

    return get_spark("perfbench", extra_conf={"spark.ui.showConsoleProgress": "false"})


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM that PySpark launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cfg = _load_config()
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; expected one of {sorted(workloads.WORKLOADS)}")
    if not os.path.isdir(os.path.join(ROOT, "etl_spark")):
        print("perfbench: run from a checkout of the engine (etl_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload == "replay_large":
        # read by the engine at import time: select the narrow strategy at
        # this workload's epoch size (see workloads.REPLAY_NARROW_MIN_MB)
        os.environ["ETL_SPARK_DEDUP_AUTO_MIN_MB"] = workloads.REPLAY_NARROW_MIN_MB

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    health = {"start": host_health()}
    spark = None
    try:
        t = time.perf_counter()
        spark = start_spark(work)
        session_s = time.perf_counter() - t
        tracer = None
        run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
        if args.trace:
            import tracing as tr

            tracer = tr.Tracer(spark, run_id)
            installed = tr.install(tracer)
        run = workloads.Run(spark, work, args.seed, args.seconds, tracer)
        res = workloads.WORKLOADS[args.workload](run)
        rss = jvm_peak_rss_mb(spark)
        e2e = dict(res.e2e)
        e2e["setup_s"] = session_s + e2e.pop("setup_pass_s")
        e2e["peak_rss_mb"] = rss
        detail = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                  "trace": args.trace, "end_to_end": e2e, "samples": res.samples,
                  "session_s": session_s, **res.detail}
        if tracer is not None:
            tracer.attach_stage_metrics()
            layers, tdetail = tr.layer_metrics(tracer, res.progress, workloads.table_facts(res.table))
            missing = sorted(set(res.expect_spans) - set(tdetail["span_counts"]))
            tdetail.update(missing_spans=missing, installed_spans=installed)
            os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
            tracer.dump(os.path.join(HERE, ".out", f"trace-{run_id}.json"))
            detail["trace_detail"] = tdetail
            metrics_out = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                           for m in cfg["per_layer"]}
            if missing:
                res.failed += 1
        else:
            metrics_out = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                           for m in cfg["end_to_end"]}
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    health["end"] = host_health()
    detail["host"] = {"nproc": os.cpu_count(),
                      "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"), **health}
    detail["error_rate"] = res.failed / max(1, res.attempted)
    correct = res.failed == 0
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({"correct": correct, "attempted": res.attempted, "failed": res.failed,
                      "metrics": metrics_out}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
