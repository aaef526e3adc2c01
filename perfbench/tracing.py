"""Traced runs: spans around the engine's public calls, plus Spark stage
metrics and Structured Streaming progress for those spans.

Nothing here is imported by an untraced run. ``install`` replaces public
functions of the engine's modules with wrappers that open a span; it is
called once per traced process, before the workload runs, and the wrappers
live until the process exits.

A span records name, start, end, parent span and run id, and is kept in
memory until ``Tracer.dump`` writes all of them once. Each span that can
launch Spark jobs sets its own job group and restores the caller's group on
exit (a streaming micro-batch runs under the query's group), so every job is
attributed to the innermost span that launched it. Stage metrics for each
group are read after the run from the status store, which works with the UI
disabled.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._seq = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self.window: tuple[float, float] | None = None

    @contextmanager
    def span(self, name: str, spark_jobs: bool = True):
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"id": next(self._seq), "name": name, "run": self.run_id,
               "parent": stack[-1] if stack else None, "attrs": {}}
        prev = None
        if spark_jobs:
            rec["group"] = f"perfbench-{self.run_id}-{rec['id']}"
            prev = self.sc.getLocalProperty(GROUP_KEY)
            self.sc.setLocalProperty(GROUP_KEY, rec["group"])
        stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if spark_jobs:
                self.sc.setLocalProperty(GROUP_KEY, prev)
            with self._lock:
                self.spans.append(rec)

    # -- after the run ----------------------------------------------------

    def attach_stage_metrics(self) -> None:
        """Sum the stage metrics of each span's own jobs into ``rec['stages']``."""
        from py4j.protocol import Py4JJavaError

        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for rec in self.spans:
            if "group" not in rec:
                continue
            jobs = list(tracker.getJobIdsForGroup(rec["group"]))
            tot = {"jobs": len(jobs), "tasks": 0, "executor_run_s": 0.0, "executor_cpu_s": 0.0,
                   "gc_s": 0.0, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
                   "spill_bytes": 0, "bytes_out": 0}
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    try:
                        st = store.lastStageAttempt(sid)
                    except Py4JJavaError:  # a skipped stage never ran: no attempt exists
                        continue
                    tot["tasks"] += st.numTasks()
                    tot["executor_run_s"] += st.executorRunTime() / 1e3
                    tot["executor_cpu_s"] += st.executorCpuTime() / 1e9
                    tot["gc_s"] += st.jvmGcTime() / 1e3
                    tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    tot["shuffle_read_bytes"] += st.shuffleReadBytes()
                    tot["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    tot["bytes_out"] += st.outputBytes()
            rec["stages"] = tot

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "window": self.window, "spans": self.spans}, f)


class ProgressListener:
    """Collects Structured Streaming progress (per-trigger durations)."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                events.append({"batch": p.batchId, "rows": p.numInputRows,
                               "ms": dict(p.durationMs)})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _L()


def install(tracer: Tracer) -> list[str]:
    """Wrap the engine's public calls; returns the span names installed."""
    from etl_spark.cdc import apply as ap
    from etl_spark.cdc import engine as eng
    from etl_spark.cdc.lineage import LineageLog
    from etl_spark.lake.metastore import ConcurrentCommitError, PosixMetadataStore
    from etl_spark.lake.table import LakeTable

    names = []

    def wrap(fn, name, spark_jobs=True, on_result=None):
        names.append(name)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name, spark_jobs) as rec:
                try:
                    out = fn(*args, **kwargs)
                except ConcurrentCommitError:
                    rec["attrs"]["conflict"] = 1
                    raise
                if on_result is not None:
                    on_result(rec["attrs"], args, out)
                return out

        return traced

    def apply_result(attrs, _args, stats):
        attrs.update(rows_in=stats.rows_in, winners=stats.winners, skipped=stats.skipped)

    traced_apply = wrap(ap.apply_batch, "cdc.apply", on_result=apply_result)
    # the engine calls apply_batch through its own module global
    ap.apply_batch = traced_apply
    eng.apply_batch = traced_apply
    ap.resolve_dedup_strategy = wrap(
        ap.resolve_dedup_strategy, "cdc.apply.plan",
        on_result=lambda attrs, _a, out: attrs.update(strategy=out))
    eng.CdcEngine.replay = wrap(eng.CdcEngine.replay, "cdc.engine.replay")
    eng.CdcEngine.stream = wrap(eng.CdcEngine.stream, "cdc.engine.stream")
    for attr in ("refresh", "evolve_schema", "commit_delta", "compact", "lookup",
                 "snapshot_df", "changes_between"):
        setattr(LakeTable, attr, wrap(getattr(LakeTable, attr), f"lake.table.{attr}"))
    LakeTable.write_files = wrap(
        LakeTable.write_files, "lake.table.write_files",
        on_result=lambda attrs, args, rel: attrs.update(path=args[0].path, rel=rel))
    LakeTable.plan_file_sets = wrap(
        LakeTable.plan_file_sets, "lake.table.plan_file_sets", spark_jobs=False,
        on_result=lambda attrs, _a, out: attrs.update(file_sets=len(out[0])))
    PosixMetadataStore.publish_version = wrap(
        PosixMetadataStore.publish_version, "lake.metastore.publish", spark_jobs=False)
    PosixMetadataStore.read_version = wrap(
        PosixMetadataStore.read_version, "lake.metastore.read", spark_jobs=False)
    LineageLog.record = wrap(LineageLog.record, "cdc.lineage.record", spark_jobs=False)
    return names


# -- per-layer metrics ------------------------------------------------------


def _p50(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def layer_metrics(tracer: Tracer, progress: list[dict], table_facts: dict) -> tuple[dict, dict]:
    """Per-layer metrics over the spans that started in the timed window.

    Returns (metrics, detail): ``metrics`` maps each per-layer name to a
    number (0 when the layer did no work in this workload); ``detail``
    carries the per-epoch self-time identity and span counts."""
    from workloads import parquet_size

    lo, hi = tracer.window
    spans = [s for s in tracer.spans if lo <= s["start"] <= hi]
    by_id = {s["id"]: s for s in tracer.spans}
    kids: dict[int, list[dict]] = {}
    for s in tracer.spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)

    def named(name, parent=None):
        return [s for s in spans if s["name"] == name
                and (parent is None or by_id.get(s["parent"], {}).get("name") == parent)]

    def stage(s, k):
        return s.get("stages", {}).get(k, 0)

    def subtree(s):
        out = [s]
        for c in kids.get(s["id"], []):
            out.extend(subtree(c))
        return out

    m: dict[str, float] = {}

    # cdc.engine (stream): progress of the window's data batches. Spark
    # reports whole milliseconds, so these are means per batch: a median of
    # small integers would read the same on most runs.
    data = [e for e in progress if e["rows"] > 0]
    for key, name in (("triggerExecution", "trigger_s"), ("latestOffset", "latest_offset_s"),
                      ("addBatch", "add_batch_s"), ("walCommit", "wal_commit_s"),
                      ("commitOffsets", "commit_offsets_s")):
        ms = [e["ms"].get(key, 0) for e in data]
        m[f"cdc.engine.stream.{name}"] = sum(ms) / len(ms) / 1e3 if ms else 0.0
    m["cdc.engine.stream.batches"] = len(data)
    m["cdc.engine.stream.rows_per_batch"] = (
        sum(e["rows"] for e in data) / len(data) if data else 0.0)

    # cdc.apply: wall, self (wall minus direct children), planning, volumes
    applies = [s for s in named("cdc.apply") if not s["attrs"].get("skipped")]
    identity = []
    for s in applies:
        child = sum(_dur(c) for c in kids.get(s["id"], []))
        identity.append({"wall_s": _dur(s), "children_s": child, "self_s": _dur(s) - child,
                         "children": sorted({c["name"] for c in kids.get(s["id"], [])})})
    m["cdc.apply.wall_s"] = _p50(i["wall_s"] for i in identity)
    m["cdc.apply.self_s"] = _p50(i["self_s"] for i in identity)
    m["cdc.apply.plan_s"] = _p50(_dur(s) for s in named("cdc.apply.plan"))
    rows = sum(s["attrs"].get("rows_in", 0) for s in applies)
    wins = sum(s["attrs"].get("winners", 0) for s in applies)
    m["cdc.apply.rows_in"] = rows
    m["cdc.apply.winners"] = wins
    m["cdc.apply.winners_per_row"] = wins / rows if rows else 0.0
    strategies = [s["attrs"].get("strategy") for s in named("cdc.apply.plan")]
    for st in ("fused", "agg", "narrow", "narrow-sh"):
        m[f"cdc.apply.strategy.{st}"] = strategies.count(st)

    # delta writes (the scan+dedup+write job of each apply)
    writes = named("lake.table.write_files", parent="cdc.apply")
    m["lake.table.write_files_s"] = _p50(_dur(s) for s in writes)
    for k in ("executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_bytes",
              "shuffle_read_bytes", "spill_bytes", "tasks", "bytes_out"):
        m[f"lake.table.write_files.{k}"] = _p50(stage(s, k) for s in writes)

    # commit and maintenance
    for name in ("refresh", "evolve_schema", "commit_delta", "compact"):
        m[f"lake.table.{name}_s"] = _p50(_dur(s) for s in named(f"lake.table.{name}"))
    compacts = named("lake.table.compact")
    m["lake.table.compactions"] = len(compacts)
    rewritten = [w for c in compacts for w in kids.get(c["id"], [])
                 if w["name"] == "lake.table.write_files"]
    m["lake.table.compact_bytes_rewritten"] = sum(
        parquet_size(os.path.join(w["attrs"]["path"], w["attrs"]["rel"]))[0] for w in rewritten)
    m.update(table_facts)

    # metadata store and lineage
    pubs, reads = named("lake.metastore.publish"), named("lake.metastore.read")
    m["lake.metastore.publish_s"] = _p50(_dur(s) for s in pubs)
    m["lake.metastore.publishes"] = len(pubs)
    m["lake.metastore.read_s"] = _p50(_dur(s) for s in reads)
    m["lake.metastore.reads"] = len(reads)
    m["lake.metastore.conflicts"] = sum(s["attrs"].get("conflict", 0) for s in pubs)
    m["cdc.lineage.record_s"] = _p50(_dur(s) for s in named("cdc.lineage.record"))

    # reads: plan = inside the library call, exec = the caller's action
    for op, client_op, call in (("lookup", "lookup", "lake.table.lookup"),
                                ("snapshot", "scan", "lake.table.snapshot_df"),
                                ("diff", "diff", "lake.table.changes_between")):
        ops = named(f"op.{client_op}")
        plans = [c for o in ops for c in kids.get(o["id"], []) if c["name"] == call]
        execs = [c for o in ops for c in kids.get(o["id"], [])
                 if c["name"] == f"op.{client_op}.exec"]
        m[f"lake.table.{op}.plan_s"] = _p50(_dur(s) for s in plans)
        m[f"lake.table.{op}.exec_s"] = _p50(_dur(s) for s in execs)
        if op != "diff":
            m[f"lake.table.{op}.file_sets"] = _p50(
                sum(x["attrs"].get("file_sets", 0) for x in subtree(p)
                    if x["name"] == "lake.table.plan_file_sets") for p in plans)
    m["lake.table.lookup.jobs"] = _p50(
        sum(stage(x, "jobs") for x in subtree(o)) for o in named("op.lookup"))
    m["lake.table.snapshot.executor_cpu_s"] = _p50(
        sum(stage(x, "executor_cpu_s") for x in subtree(o)) for o in named("op.scan"))

    detail = {
        "apply_identity": identity,
        "apply_identity_max_residual_s": max(
            (abs(i["wall_s"] - i["children_s"] - i["self_s"]) for i in identity), default=0.0),
        "span_counts": {n: sum(1 for s in spans if s["name"] == n)
                        for n in sorted({s["name"] for s in spans})},
    }
    return m, detail
