#!/usr/bin/env python3
"""Self-test of the benchmark itself.

    python3 perfbench/selftest.py [--seed 7] [--seconds 12] [--workloads a,b]

1. Oracle: builds a small table with the engine, checks that the oracle
   accepts it, then drops one delta entry from a copy of its ``_meta`` and
   checks that the oracle rejects the copy.
2. Tracing: runs every workload untraced and traced with the same seed.
   Each run must pass its checks; a traced run fails when a declared span
   did not fire. Prints the tracing overhead per end-to-end metric as
   traced minus untraced.

Exit code 0 only when everything held.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)


def oracle_selftest(seed: int) -> dict:
    import gen
    import oracle
    import run as bench

    work = os.path.join(HERE, ".work", f"selftest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = bench.start_spark(work)
    try:
        from etl_spark.cdc.engine import CdcEngine
        from etl_spark.lake.table import LakeTable

        log = os.path.join(work, "log")
        gen.write_log(log, seed, epochs=3, events_per_epoch=3_000, n_convs=100, evolve_from=2)
        eng = CdcEngine(spark, os.path.join(work, "table"))
        eng.replay(log)
        expected = oracle.live(oracle.winners(oracle.epoch_files(log)))
        good = oracle.mismatches(expected.copy(), eng.table.snapshot_df().toPandas())
        lineage = oracle.lineage_errors(eng.table_path, [0, 1, 2], 9_000)
        bad_path = oracle.corrupt_copy(eng.table_path, os.path.join(work, "corrupt"))
        bad = oracle.mismatches(expected.copy(),
                                LakeTable(spark, bad_path).snapshot_df().toPandas())
    finally:
        bench.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    return {"intact_mismatches": good, "intact_lineage_errors": lineage,
            "corrupted_mismatches": bad, "ok": good == 0 and not lineage and bad > 0}


def bench_run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if len(lines) < 2:
        return {"exit": p.returncode, "error": "no result line"}
    return {"exit": p.returncode, "detail": json.loads(lines[-2])["detail"],
            "result": json.loads(lines[-1])}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--workloads")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        cfg = json.load(f)
    seconds = args.seconds or cfg["run_seconds"]
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in cfg["workloads"]]

    report = {"oracle": oracle_selftest(args.seed), "workloads": {}}
    ok = report["oracle"]["ok"]
    for name in names:
        plain = bench_run(name, args.seed, seconds, 0)
        traced = bench_run(name, args.seed, seconds, 1)
        entry = {"untraced_exit": plain["exit"], "traced_exit": traced["exit"]}
        if "detail" in traced:
            entry["missing_spans"] = traced["detail"]["trace_detail"]["missing_spans"]
            entry["apply_identity_max_residual_s"] = \
                traced["detail"]["trace_detail"]["apply_identity_max_residual_s"]
        if "result" in plain and "detail" in traced:
            te = traced["detail"]["end_to_end"]
            entry["overhead"] = {
                m: {"untraced": v["value"], "traced": te[m], "traced_minus_untraced": te[m] - v["value"]}
                for m, v in plain["result"]["metrics"].items()}
        ok = ok and plain["exit"] == 0 and traced["exit"] == 0 and not entry.get("missing_spans")
        report["workloads"][name] = entry
    report["ok"] = ok
    os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
    with open(os.path.join(HERE, ".out", "selftest.json"), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report, indent=1))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
