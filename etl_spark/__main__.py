"""CLI for the engine — the spark-submit surface.

    spark-submit --py-files etl_spark.zip -m ... OR python -m etl_spark <cmd>

Commands:
  gen     --out DIR --events N [--convs N] [--epochs N] [--evolve-from K]
          write a deterministic CDC change log (one dir per epoch)
  replay  --log DIR --table DIR [--buckets N] [--stop-after K]
          batch-replay the change log into the LakeTable (resumable)
  stream  --log DIR --table DIR --checkpoint DIR [--buckets N]
          tail the change log via Structured Streaming (processes all
          available, then exits)
  show    --table DIR [--limit N]
          print table state summary + lineage tail
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="etl_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("gen")
    g.add_argument("--out", required=True)
    g.add_argument("--events", type=int, required=True)
    g.add_argument("--convs", type=int, default=1000)
    g.add_argument("--epochs", type=int, default=8)
    g.add_argument("--evolve-from", type=int, default=None)
    g.add_argument("--seed", type=int, default=42)

    r = sub.add_parser("replay")
    r.add_argument("--log", required=True)
    r.add_argument("--table", required=True)
    r.add_argument("--buckets", type=int, default=16)
    r.add_argument("--write-width", type=int, default=1,
                   help="writer tasks per bucket (table-creation time only)")
    r.add_argument("--stop-after", type=int, default=None)
    r.add_argument(
        "--meta-url", default=None,
        help="serve the table's commit metadata over HTTP conditional PUT "
        "at this base URL (object-store deployment; data files stay on "
        "the table path's filesystem). Default: POSIX _meta dir.",
    )
    r.add_argument(
        "--max-lag-s", type=float, default=None,
        help="ingest-freshness SLO: alert when a commit's ingest lag "
        "(wall clock minus newest applied op_ts) exceeds this many "
        "seconds (the reference's 8h DeadlineSensor analogue)",
    )
    r.add_argument(
        "--lag-level", choices=["optional", "mandatory"], default="optional",
        help="optional: breach alerts and proceeds; mandatory: breach "
        "alerts and stops the replay AFTER the epoch's commit",
    )
    r.add_argument(
        "--gate",
        choices=["none", "default"],
        default="none",
        help="quality gate per epoch: 'default' runs the stock transcript "
        "checks (mandatory violation blocks the commit and stops the replay)",
    )

    s = sub.add_parser("stream")
    s.add_argument("--log", required=True)
    s.add_argument("--table", required=True)
    s.add_argument("--checkpoint", required=True)
    s.add_argument("--buckets", type=int, default=16)
    s.add_argument("--wire-format", choices=["parquet", "debezium"], default="parquet",
                   help="debezium = newline-delimited JSON envelope files")

    w = sub.add_parser("show")
    w.add_argument("--table", required=True)
    w.add_argument("--limit", type=int, default=10)

    c = sub.add_parser("compact")
    c.add_argument("--table", required=True)
    c.add_argument("--all", action="store_true", help="compact every bucket, not just those past the delta threshold")

    x = sub.add_parser("expunge")
    x.add_argument("--table", required=True)
    x.add_argument("--before", required=True, help="drop tombstones with op_ts older than this (retention horizon)")

    rb = sub.add_parser(
        "rebucket",
        help="partition-spec evolution: full rewrite under a new bucket "
        "count (atomic; run without concurrent appliers — races fail "
        "loudly, never corrupt)",
    )
    rb.add_argument("--table", required=True)
    rb.add_argument("--num-buckets", type=int, required=True)

    v = sub.add_parser(
        "vacuum",
        help="remove unreferenced data dirs + old metadata versions; "
        "do NOT run concurrently with ingest unless --min-age-seconds "
        "comfortably exceeds the longest possible write+commit",
    )
    v.add_argument("--table", required=True)
    v.add_argument("--keep-meta-versions", type=int, default=3)
    v.add_argument(
        "--min-age-seconds",
        type=float,
        default=3600.0,
        help="orphan-age guard: only unreferenced dirs older than this are "
        "removed (protects in-flight writes and readers on recent versions)",
    )

    cp = sub.add_parser(
        "close-partitions",
        help="close day partitions the watermark has passed (or force-close "
        "stale ones) and report restatements into already-closed days",
    )
    cp.add_argument("--table", required=True)
    cp.add_argument("--allowed-lateness-hours", type=float, default=2.0)
    cp.add_argument("--force-close-after-hours", type=float, default=12.0)

    rr = sub.add_parser(
        "refresh-rollups",
        help="incrementally recompute daily/weekly/monthly rollups for "
        "closed (or restated) day partitions",
    )
    rr.add_argument("--table", required=True)
    rr.add_argument("--out", required=True, help="rollup dataset root")

    lk = sub.add_parser(
        "lookup", help="point-read one conversation (bucket-pruned, pushed-down)"
    )
    lk.add_argument("--table", required=True)
    lk.add_argument("--conv-id", required=True)

    df_ = sub.add_parser(
        "diff", help="change data feed: row-level diff between two table versions"
    )
    df_.add_argument("--table", required=True)
    df_.add_argument("--from-version", type=int, required=True)
    df_.add_argument("--to-version", type=int, default=None)
    df_.add_argument("--sample", type=int, default=0, help="print up to N change rows")

    mt = sub.add_parser(
        "maintain",
        help="one maintenance cycle: close partitions, compact, expunge "
             "tombstones past retention, age-guarded vacuum",
    )
    mt.add_argument("--table", required=True)
    mt.add_argument("--tombstone-retention-hours", type=float, default=72.0,
                    help="expunge tombstones older than watermark minus this")
    mt.add_argument("--vacuum-min-age-seconds", type=float, default=3600.0)
    mt.add_argument("--allowed-lateness-hours", type=float, default=2.0)
    mt.add_argument("--force-close-after-hours", type=float, default=12.0)

    sy = sub.add_parser(
        "sync", help="replicate: change-feed from --src applied exactly-once into --dst"
    )
    sy.add_argument("--src", required=True)
    sy.add_argument("--dst", required=True, help="created with src's schema if absent")

    d = sub.add_parser("gdpr-delete")
    d.add_argument("--table", required=True)
    d.add_argument("--conv-ids", required=True, help="comma-separated conversation ids to erase")
    d.add_argument("--request-id", type=int, required=True, help="idempotency key; replays are fenced")

    bs = sub.add_parser(
        "bootstrap", help="cold-start a table from a full source snapshot (parquet dir)"
    )
    bs.add_argument("--table", required=True)
    bs.add_argument("--snapshot", required=True, help="parquet dir of the source snapshot")
    bs.add_argument("--lsn", type=int, required=True, help="snapshot consistent-read LSN")
    bs.add_argument("--op-ts", required=True, help="snapshot consistent-read timestamp")
    bs.add_argument("--buckets", type=int, default=16)

    ex = sub.add_parser(
        "export", help="materialize the snapshot, globally ordered by key"
    )
    ex.add_argument("--table", required=True)
    ex.add_argument("--out", required=True)
    ex.add_argument("--format", default="parquet", choices=["parquet", "csv", "json"])
    ex.add_argument("--no-sort", action="store_true",
                    help="skip the range shuffle; bucket-layout order")

    rt = sub.add_parser(
        "route", help="fan a change log into per-value tables under --base"
    )
    rt.add_argument("--log", required=True)
    rt.add_argument("--base", required=True, help="destination dir; tables land at BASE/<value>")
    rt.add_argument("--by", default="role", help="route column (default role)")
    rt.add_argument("--stable", action="store_true",
                    help="immutable route column: skip cross-table move tombstones")
    rt.add_argument("--buckets", type=int, default=16)
    rt.add_argument("--rest", default="__rest__",
                    help="table name for NULL/unknown route values (default __rest__)")
    rt.add_argument("--no-rest", action="store_true",
                    help="no rest table: fail loudly on NULL-route non-delete rows")

    rv = sub.add_parser(
        "route-view",
        help="cross-table-consistent view of a routed fan-out: pin every "
        "destination to the newest COMPLETE epoch's marker and report "
        "per-table row counts (readers never see a torn epoch)",
    )
    rv.add_argument("--base", required=True)
    rv.add_argument("--source", default="router",
                    help="fencing source (default 'router' = route CLI / "
                    "route_replay; stream fan-outs use their "
                    "checkpoint-scoped namespace)")

    dw = sub.add_parser(
        "delete-where", help="row-level DELETE by SQL predicate (delta commit, fenced)"
    )
    dw.add_argument("--table", required=True)
    dw.add_argument("--where", required=True, help="SQL predicate over payload columns")
    dw.add_argument("--request-id", type=int, required=True, help="idempotency key; replays are fenced")

    uw = sub.add_parser(
        "update-where", help="row-level UPDATE by SQL predicate (delta commit, fenced)"
    )
    uw.add_argument("--table", required=True)
    uw.add_argument("--set", required=True, action="append", metavar="COL=EXPR",
                    help="assignment, repeatable; EXPR may read pre-image columns")
    uw.add_argument("--where", required=True, help="SQL predicate over payload columns")
    uw.add_argument("--request-id", type=int, required=True, help="idempotency key; replays are fenced")

    args = p.parse_args(argv)

    from etl_spark.session import get_spark

    spark = get_spark(f"etl_spark-{args.cmd}")

    if args.cmd == "gen":
        from etl_spark.datagen import write_change_log

        write_change_log(
            spark, args.out, args.events,
            n_convs=args.convs, n_epochs=args.epochs,
            evolve_from_epoch=args.evolve_from, seed=args.seed,
        )
        print(json.dumps({"written": args.out, "events": args.events, "epochs": args.epochs}))
        return 0

    from etl_spark.cdc.engine import CdcEngine

    if args.cmd == "replay":
        store = None
        if args.meta_url:
            from etl_spark.lake.metastore_http import HttpMetadataStore

            store = HttpMetadataStore(args.meta_url)
        eng = CdcEngine(spark, args.table, num_buckets=args.buckets,
                        write_width=args.write_width, store=store)
        gate = None
        if args.gate == "default":
            from etl_spark.quality import default_transcript_gate

            gate = default_transcript_gate()
        lag_slo = None
        if args.max_lag_s is not None:
            from etl_spark.quality import MANDATORY, OPTIONAL, LagSlo

            lag_slo = LagSlo(
                max_lag_s=args.max_lag_s,
                level=MANDATORY if args.lag_level == "mandatory" else OPTIONAL,
            )
        from etl_spark.quality import SloViolation

        slo_breach = None
        try:
            results = eng.replay(args.log, stop_after=args.stop_after,
                                 gate=gate, lag_slo=lag_slo)
        except SloViolation as e:
            # the breaching epoch committed before the stop — report every
            # applied epoch, then the breach, then a nonzero exit
            results = getattr(e, "results", [])
            slo_breach = e
        for st in results:
            print(json.dumps({
                "epoch": st.epoch, "snapshot_id": st.snapshot_id,
                "rows_in": st.rows_in, "winners": st.winners,
                "dirty_buckets": len(st.dirty_buckets),
                "schema_changes": st.schema_changes,
                "wall_s": round(st.wall_s, 2),
                "events_per_s": round(st.events_per_s, 1),
            }))
        print(json.dumps({
            "table_rows": eng.table.snapshot_df().count(),
            "committed_epoch": eng.table.committed_epoch(),
            "snapshot_id": eng.table.current_snapshot_id,
        }))
        if slo_breach is not None:
            print(json.dumps({"slo_violation": str(slo_breach)}))
            return 3
        return 0

    if args.cmd == "stream":
        eng = CdcEngine(spark, args.table, num_buckets=args.buckets)
        q = eng.stream(args.log, args.checkpoint, wire_format=args.wire_format)
        q.processAllAvailable()
        q.stop()
        print(json.dumps({
            "table_rows": eng.table.snapshot_df().count(),
            "batches": len(eng.lineage.rows()),
        }))
        return 0

    if args.cmd == "compact":
        eng = CdcEngine(spark, args.table)
        buckets = list(range(eng.table.num_buckets)) if args.all else None
        sid = eng.table.compact(buckets)
        print(json.dumps({"compacted": sid is not None, "snapshot_id": sid}))
        return 0

    if args.cmd == "rebucket":
        eng = CdcEngine(spark, args.table)
        sid = eng.table.rebucket(args.num_buckets)
        print(json.dumps({
            "rebucketed": sid is not None,
            "snapshot_id": sid,
            "num_buckets": eng.table.num_buckets,
        }))
        return 0

    if args.cmd == "expunge":
        from etl_spark.cdc.maintenance import expunge_tombstones

        eng = CdcEngine(spark, args.table)
        sid = expunge_tombstones(eng.table, args.before)
        print(json.dumps({"expunged": sid is not None, "snapshot_id": sid}))
        return 0

    if args.cmd == "close-partitions":
        from etl_spark.cdc.partitions import close_due_partitions, restatements

        eng = CdcEngine(spark, args.table)
        newly = close_due_partitions(
            eng.table,
            allowed_lateness_hours=args.allowed_lateness_hours,
            force_close_after_hours=args.force_close_after_hours,
        )
        print(json.dumps({
            "closed": [{k: m[k] for k in ("day", "mode", "watermark")} for m in newly],
            "restatements": [
                {"day": r["day"], "leaf": r["leaf"]} for r in restatements(eng.table)
            ],
        }))
        return 0

    if args.cmd == "refresh-rollups":
        from etl_spark.rollups import refresh_rollups

        eng = CdcEngine(spark, args.table)
        print(json.dumps(refresh_rollups(eng.table, args.out)))
        return 0

    if args.cmd == "lookup":
        eng = CdcEngine(spark, args.table)
        rows = eng.table.lookup(args.conv_id).orderBy("turn_idx").collect()
        for r in rows:
            print(json.dumps({k: str(v) for k, v in r.asDict().items()}))
        print(json.dumps({"conv_id": args.conv_id, "turns": len(rows)}))
        return 0

    if args.cmd == "diff":
        from pyspark.sql import functions as F

        eng = CdcEngine(spark, args.table)
        feed = eng.table.changes_between(args.from_version, args.to_version)
        counts = {
            r["_change_type"]: r["n"]
            for r in feed.groupBy("_change_type").agg(F.count("*").alias("n")).collect()
        }
        if args.sample:
            for r in feed.limit(args.sample).collect():
                print(json.dumps({k: str(v) for k, v in r.asDict().items()}))
        print(json.dumps({
            "from_version": args.from_version,
            "to_version": args.to_version if args.to_version is not None
            else eng.table.version,
            "changes": counts,
        }))
        return 0

    if args.cmd == "maintain":
        import datetime as _dt

        from etl_spark.cdc.maintenance import expunge_tombstones
        from etl_spark.cdc.partitions import close_due_partitions

        eng = CdcEngine(spark, args.table)
        t = eng.table
        closed = close_due_partitions(
            t,
            allowed_lateness_hours=args.allowed_lateness_hours,
            force_close_after_hours=args.force_close_after_hours,
        )
        compacted = t.buckets_needing_compaction()
        if compacted:
            t.compact(compacted)
        expunged = None
        wm = t.watermark_any()
        if wm is not None:
            horizon = _dt.datetime.fromisoformat(wm) - _dt.timedelta(
                hours=args.tombstone_retention_hours
            )
            expunged = expunge_tombstones(t, before_op_ts=horizon.isoformat(sep=" "))
        vac = t.vacuum(min_age_seconds=args.vacuum_min_age_seconds)
        print(json.dumps({
            "closed_partitions": len(closed),
            "compacted_buckets": compacted,
            "expunge_snapshot": expunged,
            "vacuum": vac,
            "version": t.version,
        }))
        return 0

    if args.cmd == "sync":
        from etl_spark.cdc.replicate import create_replica, sync_replica
        from etl_spark.lake.table import LakeTable

        src = LakeTable(spark, args.src)
        dst = (
            LakeTable(spark, args.dst)
            if LakeTable.exists(args.dst)
            else create_replica(src, args.dst)
        )
        s = sync_replica(src, dst)
        print(json.dumps({
            "src_version": s.src_version,
            "mode": s.mode,
            "rows": dst.snapshot_df().count(),
        }))
        return 0

    if args.cmd == "gdpr-delete":
        from etl_spark.cdc.maintenance import delete_conversations

        eng = CdcEngine(spark, args.table)
        ids = [s for s in args.conv_ids.split(",") if s]
        sid = delete_conversations(eng.table, ids, request_id=args.request_id)
        print(json.dumps({
            "deleted": sid is not None, "snapshot_id": sid,
            "conv_ids": len(ids),
            "rows": eng.table.snapshot_df().count(),
        }))
        return 0

    if args.cmd == "bootstrap":
        from etl_spark.sources import bootstrap_snapshot

        eng = CdcEngine(spark, args.table, num_buckets=args.buckets)
        st = bootstrap_snapshot(
            eng.table, spark.read.parquet(args.snapshot),
            snapshot_lsn=args.lsn, snapshot_op_ts=args.op_ts,
        )
        print(json.dumps({
            "bootstrapped": not st.skipped, "rows": st.rows_in,
            "snapshot_id": st.snapshot_id,
        }))
        return 0

    if args.cmd == "export":
        from etl_spark.export import export_snapshot

        eng = CdcEngine(spark, args.table)
        print(json.dumps(export_snapshot(
            eng.table, args.out, fmt=args.format, ordered=not args.no_sort,
        )))
        return 0

    if args.cmd == "route-view":
        from etl_spark.cdc.route_epochs import consistent_view

        try:
            epoch, views = consistent_view(spark, args.base, args.source)
        except FileNotFoundError as e:
            # no router epoch has completed yet: keep the JSON-line contract
            print(json.dumps({"error": "no_complete_epoch", "detail": str(e)}))
            return 1
        print(json.dumps({
            "epoch": epoch,
            "tables": {name: int(df.count()) for name, df in sorted(views.items())},
        }))
        return 0

    if args.cmd == "route":
        from etl_spark.cdc.router import route_replay

        for epoch, stats in route_replay(
            spark, args.log, args.base, route_col=args.by,
            stable_routes=args.stable, num_buckets=args.buckets,
            rest_name=None if args.no_rest else args.rest,
        ):
            print(json.dumps({
                "epoch": epoch,
                "tables": {
                    v: {"skipped": s.skipped, "winners": s.winners,
                        "snapshot_id": s.snapshot_id}
                    for v, s in stats.items()
                },
            }))
        return 0

    if args.cmd == "delete-where":
        from etl_spark.cdc.maintenance import delete_where

        eng = CdcEngine(spark, args.table)
        sid = delete_where(eng.table, args.where, request_id=args.request_id)
        print(json.dumps({
            "deleted": sid is not None, "snapshot_id": sid,
            "rows": eng.table.snapshot_df().count(),
        }))
        return 0

    if args.cmd == "update-where":
        from etl_spark.cdc.maintenance import update_where

        eng = CdcEngine(spark, args.table)
        sets = {}
        for a in args.set:
            col, _, expr = a.partition("=")
            if not _:
                raise SystemExit(f"--set expects COL=EXPR, got {a!r}")
            sets[col.strip()] = expr.strip()
        sid = update_where(eng.table, sets, args.where, request_id=args.request_id)
        print(json.dumps({
            "updated": sid is not None, "snapshot_id": sid,
            "rows": eng.table.snapshot_df().count(),
        }))
        return 0

    if args.cmd == "vacuum":
        eng = CdcEngine(spark, args.table)
        print(json.dumps(eng.table.vacuum(
            keep_meta_versions=args.keep_meta_versions,
            min_age_seconds=args.min_age_seconds,
        )))
        return 0

    if args.cmd == "show":
        from etl_spark.cdc.partitions import closed_partitions, list_days

        eng = CdcEngine(spark, args.table)
        df = eng.table.snapshot_df()
        print(json.dumps({
            "rows": df.count(),
            "schema": eng.table.schema().to_json(),
            "committed_epochs": eng.table._meta["committed_epochs"],
            "watermarks": eng.table._meta.get("watermarks", {}),
            "snapshot_id": eng.table.current_snapshot_id,
            "days": list_days(eng.table),
            "closed_partitions": {
                d: m["mode"] for d, m in closed_partitions(eng.table).items()
            },
            "outstanding_delta_commits": eng.table.delta_counts(),
        }, indent=1))
        for row in eng.lineage.rows()[-args.limit:]:
            print(json.dumps(row))
        return 0

    return 1


if __name__ == "__main__":
    sys.exit(main())
