"""Replication: change-feed → exactly-once apply into a replica table."""

import datetime as dt

from etl_spark.cdc.apply import apply_batch
from etl_spark.cdc.engine import CHANGE_SCHEMA, CdcEngine
from etl_spark.cdc.replicate import create_replica, sync_replica

T = lambda s: dt.datetime.fromisoformat(s)


def _batch(spark, rows):
    return spark.createDataFrame(rows, schema=CHANGE_SCHEMA)


def _state(t):
    return {
        (r.conv_id, r.turn_idx): (r.role, r.text) for r in t.snapshot_df().collect()
    }


def _mk_src(spark, tmp_path):
    eng = CdcEngine(spark, str(tmp_path / "src"), num_buckets=4)
    apply_batch(eng.table, _batch(spark, [
        ("I", "a", 0, "user", "a0", None, T("2025-01-01 00:00:00"), T("2025-01-01 00:00:01"), 1),
        ("I", "b", 0, "user", "b0", None, T("2025-01-01 00:00:00"), T("2025-01-01 00:00:02"), 2),
        ("I", "c", 0, "user", "c0", None, T("2025-01-01 00:00:00"), T("2025-01-01 00:00:03"), 3),
    ]), epoch=0)
    return eng.table


def test_initial_and_incremental_sync(spark, tmp_path):
    src = _mk_src(spark, tmp_path)
    dst = create_replica(src, str(tmp_path / "dst"))

    s1 = sync_replica(src, dst)
    assert s1.mode == "full"  # first sync is always a full copy
    assert _state(dst) == _state(src)

    # source advances: update, delete, insert
    apply_batch(src, _batch(spark, [
        ("U", "a", 0, "user", "a1", None, T("2025-01-01 00:00:00"), T("2025-01-01 01:00:00"), 4),
        ("D", "b", 0, None, None, None, T("2025-01-01 00:00:00"), T("2025-01-01 01:00:01"), 5),
        ("I", "d", 0, "user", "d0", None, T("2025-01-01 00:00:00"), T("2025-01-01 01:00:02"), 6),
    ]), epoch=1)
    s2 = sync_replica(src, dst)
    assert s2.mode == "incremental"
    assert _state(dst) == _state(src)
    assert ("b", 0) not in _state(dst)  # delete propagated

    # idempotent: nothing new -> noop, state unchanged
    s3 = sync_replica(src, dst)
    assert s3.mode == "noop"
    assert _state(dst) == _state(src)


def test_resync_after_vacuum_falls_back_to_full(spark, tmp_path):
    src = _mk_src(spark, tmp_path)
    dst = create_replica(src, str(tmp_path / "dst"))
    sync_replica(src, dst)

    # advance the source far enough that the synced version is vacuumed
    for i in range(5):
        apply_batch(src, _batch(spark, [
            ("U", "a", 0, "user", f"a{i + 1}", None, T("2025-01-01 00:00:00"),
             T(f"2025-01-01 0{i + 2}:00:00"), 10 + i)]), epoch=1 + i)
    src.vacuum(keep_meta_versions=2, min_age_seconds=0)

    s = sync_replica(src, dst)
    assert s.mode == "full"
    assert _state(dst) == _state(src)
    # convergent, not destructive: re-running stays a noop
    assert sync_replica(src, dst).mode == "noop"


def test_sync_survives_source_schema_evolution(spark, tmp_path):
    import pyspark.sql.types as T_

    src = _mk_src(spark, tmp_path)
    dst = create_replica(src, str(tmp_path / "dst"))
    sync_replica(src, dst)

    src.evolve_schema(T_.StructType([T_.StructField("lang", T_.StringType())]))
    nb = _batch(spark, [
        ("U", "c", 0, "user", "c1", None, T("2025-01-01 00:00:00"),
         T("2025-01-01 03:00:00"), 20)]).withColumn("lang",
        __import__("pyspark.sql.functions", fromlist=["lit"]).lit("en"))
    apply_batch(src, nb, epoch=1)
    sync_replica(src, dst)
    assert "lang" in dst.schema().names()
    got = {r.conv_id: r.lang for r in dst.snapshot_df().collect()}
    assert got["c"] == "en" and got["a"] is None


def test_expunged_delete_does_not_block_later_reinsert(spark, tmp_path):
    """An orderless delete (tombstone expunged before the sync observed
    it) is stamped just below the expunge horizon — NOT at the watermark.
    A watermark stamp can exceed in-flight legitimate traffic: the source
    accepts a re-insert at op_ts >= horizon while the replica's stamped
    tombstone (wm, 2^62) blocks it forever (probe that found the bug).
    With the horizon stamp the replica converges."""
    import datetime as dt

    from etl_spark.cdc.maintenance import expunge_tombstones

    B = dt.datetime(2025, 1, 1)
    S = lambda s: B + dt.timedelta(seconds=s)
    src = CdcEngine(spark, str(tmp_path / "src"), num_buckets=4).table
    dst = create_replica(src, str(tmp_path / "dst"))
    # K inserted; watermark pushed to t2 by another key; replica synced
    apply_batch(src, _batch(spark, [
        ("I", "k", 0, "user", "v0", None, B, S(0), 1),
        ("I", "x", 0, "user", "other", None, B, S(2), 2),
    ]), epoch=0)
    sync_replica(src, dst)
    # K deleted at t0.5; tombstone compacted + expunged (horizon t1 — the
    # operator guarantees nothing below t1 can still arrive)
    apply_batch(src, _batch(spark, [
        ("D", "k", 0, None, None, None, B, S(0.5), 3),
    ]), epoch=1)
    src.compact()
    expunge_tombstones(src, before_op_ts=str(S(1)))
    st = sync_replica(src, dst)
    assert st.mode == "incremental"  # the orderless-delete path, not a resync
    assert {r.conv_id for r in dst.snapshot_df().collect()} == {"x"}
    # legitimate re-insert at exactly the horizon: source accepts it...
    apply_batch(src, _batch(spark, [
        ("I", "k", 0, "user", "revived", None, B, S(1), 4),
    ]), epoch=2)
    sync_replica(src, dst)
    # ...and the replica must follow instead of staying blocked
    want = sorted((r.conv_id, r.turn_idx, r.text)
                  for r in src.snapshot_df().collect())
    got = sorted((r.conv_id, r.turn_idx, r.text)
                 for r in dst.snapshot_df().collect())
    assert want == [("k", 0, "revived"), ("x", 0, "other")]
    assert got == want


def test_malformed_expunge_horizon_skips_only_itself():
    """One unparseable expunge horizon next to valid ones must not throw
    away the valid ones: the orderless-delete stamp still comes from the
    newest PARSEABLE horizon (a watermark stamp could block a legitimate
    re-insert forever). Mixed naive/tz-aware stamps compare in UTC; the
    watermark fallback applies only when nothing parses."""
    from etl_spark.cdc.replicate import _newest_horizon

    snaps = [
        {"kind": "delta"},
        {"kind": "expunge", "before_op_ts": "2025-01-01 00:00:01"},
        {"kind": "expunge", "before_op_ts": "2025-1-1 0:0:9"},  # Spark-lax only
        {"kind": "expunge", "before_op_ts": "2025-01-01T00:00:05+01:00"},
        {"kind": "expunge"},
    ]
    assert _newest_horizon(snaps) == dt.datetime(2025, 1, 1, 0, 0, 1)
    snaps.append({"kind": "expunge", "before_op_ts": "2025-01-01 00:00:02"})
    assert _newest_horizon(snaps) == dt.datetime(2025, 1, 1, 0, 0, 2)
    assert _newest_horizon([{"kind": "expunge", "before_op_ts": "garbage"}]) is None
    assert _newest_horizon([]) is None
