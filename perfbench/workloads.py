"""The three workloads: bulk catch-up replay, a live stream tail, and
serving reads from the lake table.

Each workload function receives a ``Run`` (Spark session, work directory,
seed, measuring time, optional tracer) and returns a ``Result``. Set-up is
done ``SETUP_PASSES`` times and its median reported, the timed section runs
for the requested seconds, and the oracle check runs afterwards, untimed.
"""

from __future__ import annotations

import os
import random
import statistics
import threading
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import gen
import oracle
import pandas as pd

SETUP_PASSES = 3

# replay_large: two big epochs; the second adds ``lang`` (schema evolution).
# The engine's auto dispatch switches to the narrow dedup strategy above a
# byte crossover (256 MB by default); the benchmark lowers that crossover
# for its own process so that the narrow path runs at a size that fits the
# run budget, while stream_tail and read_serve keep the default (fused).
REPLAY_LOG = dict(epochs=2, events_per_epoch=400_000, n_convs=1000, evolve_from=1,
                  files_per_epoch=8)
REPLAY_WARM_LOG = dict(epochs=2, events_per_epoch=60_000, n_convs=200, evolve_from=1,
                       files_per_epoch=8)
REPLAY_NARROW_MIN_MB = "1"

# stream_tail: open loop, one epoch directory renamed into the tailed root
# every DROP_INTERVAL_S seconds. A micro-batch takes ~1 s on a 4-core VM, so
# each drop is normally its own commit; the epochs queued behind the
# compaction stall share one.
STREAM_EVENTS_PER_DROP = 2_000
STREAM_CONVS = 500
DROP_INTERVAL_S = 1.5
# the live stream commits PRIME_DROPS epochs before the timed window; the
# window's commits then hold exactly one compaction (at the 8th delta of
# every bucket), so the stall and the final layout repeat from run to run
PRIME_DROPS = 1
# each set-up pass streams these epochs, one commit each, into a fresh table
WARM_EPOCHS = [0, 1, 2, 3]

# read_serve: a table built by replaying READ_LOG with engine defaults.
# Four epochs against compact_threshold 8 leave four outstanding deltas
# per bucket, and the last epoch adds ``lang``, so every read folds deltas
# and unions two schema versions.
READ_LOG = dict(epochs=4, events_per_epoch=5_000, n_convs=300, evolve_from=3,
                files_per_epoch=1)
LOOKUPS_PER_CYCLE = 10
WINDOW = {"ts_min": "2025-01-01 06:00:00", "ts_max": "2025-01-01 12:00:00"}


@dataclass
class Run:
    spark: object
    work: str
    seed: int
    seconds: float
    tracer: object = None  # tracing.Tracer in a traced run


@dataclass
class Result:
    e2e: dict                       # end-to-end metric name -> value
    samples: dict                   # metric name -> sample count
    attempted: int
    failed: int
    detail: dict = field(default_factory=dict)
    table: object = None            # LakeTable left behind, for layer facts
    expect_spans: tuple = ()
    progress: list = field(default_factory=list)  # window's streaming progress, traced runs


def _span(run: Run, name: str):
    return run.tracer.span(name) if run.tracer else nullcontext()


def _open_window(run: Run):
    if run.tracer:
        run.tracer.window = (time.perf_counter(), None)


def _close_window(run: Run):
    if run.tracer:
        run.tracer.window = (run.tracer.window[0], time.perf_counter())


def parquet_size(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet files under ``path``."""
    total = files = 0
    for root, _d, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files


def table_bytes(table) -> tuple[int, int]:
    """(bytes, files) of the parquet files the current metadata references."""
    total = files = 0
    for slot in oracle.read_meta(table.path)["files"].values():
        base = slot.get("base") or []
        for entry in (base if isinstance(base, list) else [base]) + slot["deltas"]:
            b, n = parquet_size(os.path.join(table.path, entry["path"]))
            total, files = total + b, files + n
    return total, files


def table_facts(table) -> dict:
    table.refresh()
    counts = list(table.delta_counts().values()) or [0]
    nbytes, nfiles = table_bytes(table)
    meta_dir = os.path.join(table.path, "_meta")
    return {"lake.table.delta_count_max": max(counts),
            "lake.table.delta_count_mean": sum(counts) / len(counts),
            "lake.table.bytes": nbytes, "lake.table.files": nfiles,
            "lake.metastore.meta_bytes": os.path.getsize(
                os.path.join(meta_dir, f"v{table.version}.json"))}


def _median(xs):
    return float(statistics.median(xs))


# -- replay_large ---------------------------------------------------------------


def replay_large(run: Run) -> Result:
    from etl_spark.cdc.engine import CdcEngine

    warm = gen.cached_log("replay_warm", run.seed, **REPLAY_WARM_LOG)
    log = gen.cached_log("replay", run.seed, **REPLAY_LOG)
    n_events = REPLAY_LOG["epochs"] * REPLAY_LOG["events_per_epoch"]

    passes = []
    for p in range(SETUP_PASSES):
        t = time.perf_counter()
        CdcEngine(run.spark, os.path.join(run.work, f"warm{p}")).replay(warm)
        passes.append(time.perf_counter() - t)

    _open_window(run)
    reps, epoch_lat, attempted, failed = [], [], 0, 0
    start = time.perf_counter()
    eng = None
    while time.perf_counter() - start < run.seconds:
        eng = CdcEngine(run.spark, os.path.join(run.work, f"table{len(reps)}"))
        t0 = time.time()
        stats = eng.replay(log)
        reps.append(time.time() - t0)
        attempted += REPLAY_LOG["epochs"]
        failed += REPLAY_LOG["epochs"] - sum(1 for s in stats if not s.skipped)
        # per-epoch commit latency: replay start -> first commit, then
        # commit to commit, from the commit stamps in the table metadata
        stamps = [t0] + [s["committed_at"] for s in oracle.read_meta(eng.table_path)["snapshots"]
                         if s["kind"] == "delta"]
        epoch_lat += [b - a for a, b in zip(stamps, stamps[1:])]
    _close_window(run)

    # correctness, untimed: the last table against the oracle
    expected = oracle.live(oracle.winners(oracle.epoch_files(log)))
    actual = eng.table.snapshot_df().toPandas()
    bad = oracle.mismatches(expected, actual)
    errs = oracle.lineage_errors(eng.table_path, list(range(REPLAY_LOG["epochs"])), n_events)
    if bad or errs:
        failed += REPLAY_LOG["epochs"]
    nbytes, _files = table_bytes(eng.table)
    return Result(
        e2e={"throughput_per_s": n_events * len(reps) / sum(reps),
             "latency_p50_s": _median(epoch_lat),
             "setup_pass_s": _median(passes),
             "table_bytes_per_row": nbytes / max(1, len(actual))},
        samples={"throughput_per_s": len(reps), "latency_p50_s": len(epoch_lat),
                 "setup_s": len(passes)},
        attempted=attempted, failed=failed,
        detail={"events_per_s": n_events * len(reps) / sum(reps), "replays_s": reps,
                "epoch_commit_s": epoch_lat, "setup_passes_s": passes,
                "oracle_mismatched_keys": bad, "lineage_errors": errs,
                "live_rows": len(actual), "events_per_replay": n_events},
        table=eng.table,
        expect_spans=("cdc.engine.replay", "cdc.apply", "cdc.apply.plan", "lake.table.refresh",
                      "lake.table.evolve_schema", "lake.table.write_files",
                      "lake.table.commit_delta", "lake.metastore.publish",
                      "lake.metastore.read", "cdc.lineage.record"),
    )


# -- stream_tail ------------------------------------------------------------------


def _stage(src_log: str, epochs: list[int], stage: str) -> None:
    """Hard-link the given epoch directories of a cached log into ``stage``."""
    for e in epochs:
        s, d = os.path.join(src_log, f"epoch={e:05d}"), os.path.join(stage, f"epoch={e:05d}")
        os.makedirs(d)
        for n in os.listdir(s):
            os.link(os.path.join(s, n), os.path.join(d, n))


def _wait_rows(table_path: str, rows: int, timeout: float) -> bool:
    end = time.time() + timeout
    while time.time() < end:
        if sum(r["rows_in"] for r in oracle.read_lineage(table_path) if not r.get("skipped")) >= rows:
            return True
        time.sleep(0.02)
    return False


def _stream_pass(run: Run, name: str, log: str, epochs: list[int], feed: int):
    """Start a stream over a fresh root and feed it the first ``feed``
    epochs one at a time, each after the previous one committed. Returns
    (engine, query, stage dir, root dir) with the query still running."""
    from etl_spark.cdc.engine import CdcEngine

    base = os.path.join(run.work, name)
    stage, root = os.path.join(base, "stage"), os.path.join(base, "root")
    os.makedirs(root)
    _stage(log, epochs, stage)
    eng = CdcEngine(run.spark, os.path.join(base, "table"))
    q = None
    for i, e in enumerate(epochs[:feed]):
        os.rename(os.path.join(stage, f"epoch={e:05d}"), os.path.join(root, f"epoch={e:05d}"))
        if q is None:
            q = eng.stream(root, os.path.join(base, "ckpt"))
        if not _wait_rows(eng.table_path, (i + 1) * STREAM_EVENTS_PER_DROP, 120):
            q.stop()
            raise RuntimeError(f"stream {name} did not commit epoch {e}")
    return eng, q, stage, root


def stream_tail(run: Run) -> Result:
    n_drops = max(1, int(run.seconds / DROP_INTERVAL_S))
    log = gen.cached_log("stream", run.seed, epochs=PRIME_DROPS + n_drops,
                         events_per_epoch=STREAM_EVENTS_PER_DROP, n_convs=STREAM_CONVS)

    passes = []
    for p in range(SETUP_PASSES):
        t = time.perf_counter()
        _eng, q, _stage_dir, _root = _stream_pass(run, f"warm{p}", log, WARM_EPOCHS,
                                                  len(WARM_EPOCHS))
        q.stop()
        passes.append(time.perf_counter() - t)

    listener = None
    if run.tracer:
        from tracing import ProgressListener

        listener = ProgressListener()
        run.spark.streams.addListener(listener.listener)
    eng, q, stage, root = _stream_pass(run, "live", log, list(range(PRIME_DROPS + n_drops)),
                                       PRIME_DROPS)

    # open-loop generator: one thread renames epoch i into the root at its
    # due time, whatever the engine is doing
    t0 = time.time() + 0.2
    due = [t0 + i * DROP_INTERVAL_S for i in range(n_drops)]
    actual = [0.0] * n_drops

    def generate():
        for i in range(n_drops):
            delay = due[i] - time.time()
            if delay > 0:
                time.sleep(delay)
            e = PRIME_DROPS + i
            os.rename(os.path.join(stage, f"epoch={e:05d}"), os.path.join(root, f"epoch={e:05d}"))
            actual[i] = time.time()

    _open_window(run)
    g = threading.Thread(target=generate, name="perfbench-drops")
    g.start()
    g.join()
    total_rows = (PRIME_DROPS + n_drops) * STREAM_EVENTS_PER_DROP
    caught_up = _wait_rows(eng.table_path, total_rows, 60)
    _close_window(run)
    q.stop()
    if listener:
        time.sleep(0.5)  # progress events are delivered asynchronously
        run.spark.streams.removeListener(listener.listener)

    # freshness: due time -> first commit whose cumulative rows_in covers
    # every row dropped so far
    committed_at = {s["snapshot_id"]: s["committed_at"]
                    for s in oracle.read_meta(eng.table_path)["snapshots"]}
    cum, commits, timeline = 0, [], []
    for r in oracle.read_lineage(eng.table_path):
        if not r.get("skipped"):
            cum += r["rows_in"]
            commits.append((cum, committed_at[r["snapshot_id"]]))
            timeline.append([round(committed_at[r["snapshot_id"]] - t0, 3), r["rows_in"], r["wall_s"]])
    fresh, failed = [], 0
    for i in range(n_drops):
        need = (PRIME_DROPS + i + 1) * STREAM_EVENTS_PER_DROP
        at = next((t for c, t in commits if c >= need), None)
        if at is None:
            failed += 1
        else:
            fresh.append(at - due[i])
    lateness = [a - d for a, d in zip(actual, due)]
    last_commit = commits[-1][1] if commits else time.time()

    expected = oracle.live(oracle.winners(oracle.epoch_files(log)))
    actual_rows = eng.table.snapshot_df().toPandas()
    bad = oracle.mismatches(expected, actual_rows)
    errs = oracle.lineage_errors(eng.table_path, expect_rows=total_rows)
    if bad or errs or not caught_up:
        failed = n_drops
    nbytes, _files = table_bytes(eng.table)
    fresh_sorted = sorted(fresh) or [0.0]
    return Result(
        e2e={"throughput_per_s": n_drops * STREAM_EVENTS_PER_DROP / (last_commit - t0),
             "latency_p50_s": _median(fresh_sorted),
             "setup_pass_s": _median(passes),
             "table_bytes_per_row": nbytes / max(1, len(actual_rows))},
        samples={"throughput_per_s": n_drops, "latency_p50_s": len(fresh),
                 "setup_s": len(passes)},
        attempted=n_drops, failed=failed,
        detail={"freshness_p50_s": _median(fresh_sorted),
                "freshness_p80_s": fresh_sorted[int(0.8 * (len(fresh_sorted) - 1))],
                "freshness_max_s": fresh_sorted[-1],
                "drops": n_drops, "drop_interval_s": DROP_INTERVAL_S,
                "events_per_drop": STREAM_EVENTS_PER_DROP,
                "generator_late_p50_s": _median(lateness), "generator_late_max_s": max(lateness),
                "commits": len(commits), "setup_passes_s": passes,
                "commit_timeline": timeline, "drop_actual_s": [round(a - t0, 3) for a in actual],
                "oracle_mismatched_keys": bad, "lineage_errors": errs, "caught_up": caught_up,
                "live_rows": len(actual_rows)},
        table=eng.table,
        # the live query's first PRIME_DROPS batches ran before the window
        progress=[e for e in listener.events if e["batch"] >= PRIME_DROPS] if listener else [],
        expect_spans=("cdc.apply", "cdc.apply.plan", "lake.table.refresh",
                      "lake.table.write_files", "lake.table.commit_delta", "lake.table.compact",
                      "lake.metastore.publish", "lake.metastore.read", "cdc.lineage.record"),
    )


# -- read_serve -------------------------------------------------------------------------


def read_serve(run: Run) -> Result:
    from etl_spark.cdc.engine import CdcEngine

    log = gen.cached_log("read", run.seed, **READ_LOG)
    passes = []
    for p in range(SETUP_PASSES):
        t = time.perf_counter()
        eng = CdcEngine(run.spark, os.path.join(run.work, f"table{p}"))
        eng.replay(log)
        passes.append(time.perf_counter() - t)
    table = eng.table
    table.refresh()

    # the oracle's view of the served table, computed before the reads
    win = oracle.winners(oracle.epoch_files(log))
    lv = oracle.live(win)
    by_conv = lv.groupby("conv_id").size().sort_values(ascending=False)
    rng = random.Random(run.seed)
    hot = list(by_conv.index[:5])
    cold = rng.sample(list(by_conv.index[len(by_conv) // 2:]), min(50, len(by_conv) // 2))
    old_version = table.version - 3
    old_epoch = table.as_of(old_version).committed_epoch()
    old_win = oracle.winners(oracle.epoch_files(log, list(range(old_epoch + 1))))
    lo, hi = (pd.Timestamp(x, tz="UTC") for x in WINDOW.values())
    ts = pd.to_datetime(lv["ts"], utc=True)
    expect = {"scan": len(lv), "window": int(((ts >= lo) & (ts <= hi)).sum()),
              "diff": oracle.diff_counts(old_win, win)}

    def read(op, key=None):
        """One read operation through the public API, action included."""
        with _span(run, f"op.{op}"):
            if op == "lookup":
                df = table.lookup(key)
            elif op == "diff":
                df = table.changes_between(old_version)
            else:
                df = table.snapshot_df(**(WINDOW if op == "window" else {}))
            with _span(run, f"op.{op}.exec"):
                return df.collect() if op == "lookup" else df.count()

    # same-path warm-up: the builds ran the write path only
    t = time.perf_counter()
    for op, key in (("scan", None), ("window", None), ("diff", None),
                    ("lookup", hot[0]), ("lookup", cold[0])):
        read(op, key)
    warmup_s = time.perf_counter() - t

    cycle = ["scan", "lookup", "lookup", "window", "lookup", "lookup", "diff"] + \
        ["lookup"] * (LOOKUPS_PER_CYCLE - 4)
    lat = {"lookup": [], "scan": [], "window": [], "diff": []}
    looked_up, counts = [], {"scan": [], "window": [], "diff": []}
    _open_window(run)
    start = time.perf_counter()
    i = 0
    # closed loop for the window, and at least until every type ran once
    while time.perf_counter() - start < run.seconds or not all(lat.values()):
        op = cycle[i % len(cycle)]
        i += 1
        key = None
        if op == "lookup":
            n = len(looked_up)
            key = hot[n % len(hot)] if n % 2 == 0 else cold[n % len(cold)]
        t = time.perf_counter()
        out = read(op, key)
        lat[op].append(time.perf_counter() - t)
        if op == "lookup":
            looked_up.append((key, out))
        else:
            counts[op].append(out)
    _close_window(run)

    # correctness, untimed: every lookup and every count against the oracle
    failed = 0
    for key, rows in looked_up:
        exp = lv[lv["conv_id"] == key]
        got = pd.DataFrame([r.asDict() for r in rows], columns=list(exp.columns))
        failed += 1 if oracle.mismatches(exp.copy(), got) else 0
    for op, got in counts.items():
        failed += sum(1 for c in got if c != expect[op])
    attempted = sum(len(v) for v in lat.values())
    med = {op: _median(v) for op, v in lat.items()}
    cycle_s = sum(med[op] for op in cycle)
    nbytes, _files = table_bytes(table)
    return Result(
        e2e={"throughput_per_s": len(cycle) / cycle_s,
             "latency_p50_s": med["lookup"],
             "setup_pass_s": _median(passes) + warmup_s,
             "table_bytes_per_row": nbytes / max(1, len(lv))},
        samples={"throughput_per_s": attempted, "latency_p50_s": len(lat["lookup"]),
                 "setup_s": len(passes)},
        attempted=attempted, failed=failed,
        detail={"lookup_p50_s": med["lookup"],
                "lookup_p90_s": sorted(lat["lookup"])[int(0.9 * (len(lat["lookup"]) - 1))],
                "scan_p50_s": med["scan"], "window_p50_s": med["window"],
                "diff_p50_s": med["diff"],
                "op_samples": {op: len(v) for op, v in lat.items()},
                "hot_keys": hot, "diff_from_version": old_version, "expected_counts": expect,
                "outstanding_deltas": table.delta_counts(), "setup_passes_s": passes,
                "read_warmup_s": warmup_s,
                "live_rows": len(lv)},
        table=table,
        expect_spans=("op.lookup", "op.lookup.exec", "lake.table.lookup", "op.scan",
                      "op.scan.exec", "lake.table.snapshot_df", "op.window", "op.diff",
                      "lake.table.changes_between", "lake.table.plan_file_sets",
                      "lake.metastore.read"),
    )


WORKLOADS = {"replay_large": replay_large, "stream_tail": stream_tail, "read_serve": read_serve}
