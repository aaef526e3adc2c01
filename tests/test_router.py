"""Multi-table routing: one change stream fanned into per-value tables."""

import pytest
from pyspark.sql import functions as F

from etl_spark.cdc.engine import CdcEngine
from etl_spark.cdc.router import discover_route_values, route_batch
from etl_spark.datagen import gen_changes


@pytest.fixture()
def fanout(spark, tmp_path):
    changes = gen_changes(spark, 6_000, n_convs=60, n_epochs=2)
    spine = CdcEngine(spark, str(tmp_path / "spine"), num_buckets=4)
    vals = discover_route_values(changes, "role")
    dests = {
        v: CdcEngine(spark, str(tmp_path / f"by_role_{v}"), num_buckets=4).table
        for v in vals
    }
    return changes, spine, dests, vals


def test_route_union_equals_spine(spark, fanout):
    changes, spine, dests, vals = fanout
    for ep in (0, 1):
        batch = changes.where(F.col("epoch") == ep).drop("epoch")
        from etl_spark.cdc.apply import apply_batch

        apply_batch(spine.table, batch, ep)
        stats = route_batch(dests, batch, ep, route_col="role")
        assert all(not s.skipped for s in stats.values())

    spine_df = spine.table.snapshot_df()
    union = None
    for v, t in dests.items():
        df = t.snapshot_df()
        # every routed table holds only its value
        assert df.where(F.col("role") != v).count() == 0
        union = df if union is None else union.unionByName(df)
    assert union.count() == spine_df.count()
    assert union.exceptAll(spine_df).count() == 0
    assert spine_df.exceptAll(union).count() == 0


def test_route_epoch_fencing_per_table(spark, fanout):
    changes, _, dests, vals = fanout
    batch = changes.where(F.col("epoch") == 0).drop("epoch")
    route_batch(dests, batch, 0, route_col="role")
    # crash-and-resume: the whole epoch re-runs; every table self-fences
    stats = route_batch(dests, batch, 0, route_col="role")
    assert all(s.skipped for s in stats.values())
    # partial failure: one table missed the epoch (simulated by a fresh
    # table) — re-running applies ONLY to it
    fresh = CdcEngine(
        spark, dests[vals[0]].path + "_retry", num_buckets=4
    ).table
    dests2 = dict(dests)
    dests2[vals[0]] = fresh
    stats = route_batch(dests2, batch, 0, route_col="role")
    assert not stats[vals[0]].skipped
    assert all(s.skipped for v, s in stats.items() if v != vals[0])


def test_route_rest_catches_unknown_values(spark, tmp_path):
    changes = gen_changes(spark, 2_000, n_convs=20, n_epochs=1).drop("epoch")
    vals = discover_route_values(changes, "role")
    known = vals[:-1]
    dests = {
        v: CdcEngine(spark, str(tmp_path / f"d_{v}"), num_buckets=4).table
        for v in known
    }
    rest = CdcEngine(spark, str(tmp_path / "rest"), num_buckets=4).table
    route_batch(dests, changes, 0, route_col="role", rest=rest)
    got_rest = rest.snapshot_df()
    assert got_rest.count() > 0
    assert got_rest.where(F.col("role").isin(known)).count() == 0


def test_stable_routes_mode(spark, tmp_path):
    """With an immutable route column (reference's event-name case) the
    cheap mode routes only matching rows + NULL-payload deletes, and the
    union still reconstructs the spine."""
    changes = gen_changes(spark, 4_000, n_convs=40, n_epochs=1).drop("epoch")
    # stable by construction: a hash of the KEY, never of mutable payload
    changes = changes.withColumn(
        "shard", F.concat(F.lit("s"), (F.abs(F.xxhash64("conv_id")) % 2).cast("string"))
    )
    from etl_spark.cdc.apply import apply_batch

    spine = CdcEngine(spark, str(tmp_path / "spine"), num_buckets=4)
    apply_batch(spine.table, changes, 0)
    dests = {
        v: CdcEngine(spark, str(tmp_path / f"sh_{v}"), num_buckets=4).table
        for v in ("s0", "s1")
    }
    route_batch(dests, changes, 0, route_col="shard", stable_routes=True)
    union = dests["s0"].snapshot_df().unionByName(dests["s1"].snapshot_df())
    spine_df = spine.table.snapshot_df()
    assert union.count() == spine_df.count()
    assert union.exceptAll(spine_df).count() == 0


def test_general_mode_handles_moves(spark, tmp_path):
    """A key whose route value changes lands in the new table and is
    tombstoned out of the old one."""
    import datetime as dt

    T = lambda s: dt.datetime.fromisoformat(s)
    rows = [
        ("c1", 0, "tool", "v1", None, T("2025-01-01 00:00:00"), "I",
         T("2025-01-01 00:00:01"), 1),
        ("c1", 0, "assistant", "v2", None, T("2025-01-01 00:00:00"), "U",
         T("2025-01-01 00:00:02"), 2),
    ]
    schema = ("conv_id string, turn_idx int, role string, text string,"
              " tool string, ts timestamp, op string, op_ts timestamp, lsn long")
    dests = {
        v: CdcEngine(spark, str(tmp_path / f"r_{v}"), num_buckets=2).table
        for v in ("tool", "assistant")
    }
    # epoch 0: only the tool-row; epoch 1: the move
    route_batch(dests, spark.createDataFrame(rows[:1], schema), 0, route_col="role")
    assert dests["tool"].snapshot_df().count() == 1
    route_batch(dests, spark.createDataFrame(rows[1:], schema), 1, route_col="role")
    assert dests["tool"].snapshot_df().count() == 0
    got = dests["assistant"].snapshot_df().collect()
    assert len(got) == 1 and got[0]["text"] == "v2"


def test_route_replay_end_to_end(spark, tmp_path):
    """route_replay discovers values, creates tables lazily, fences
    re-runs, and its union reconstructs a plain replay of the same log."""
    import os

    from etl_spark.cdc.router import route_replay
    from etl_spark.datagen import write_change_log

    log = str(tmp_path / "log")
    write_change_log(spark, log, 4_000, n_convs=40, n_epochs=2)
    spine = CdcEngine(spark, str(tmp_path / "spine"), num_buckets=4)
    spine.replay(log)

    base = str(tmp_path / "routed")
    list(route_replay(spark, log, base, route_col="role", num_buckets=4))
    rerun = list(route_replay(spark, log, base, route_col="role", num_buckets=4))
    assert all(s.skipped for _, stats in rerun for s in stats.values())

    from etl_spark.lake.table import LakeTable

    union = None
    for v in sorted(set(os.listdir(base)) - {"_router_epochs"}):
        df = LakeTable(spark, os.path.join(base, v)).snapshot_df()
        union = df if union is None else union.unionByName(df)
    spine_df = spine.table.snapshot_df()
    assert union.count() == spine_df.count()
    assert union.exceptAll(spine_df).count() == 0


def test_stream_route(spark, tmp_path):
    """Streaming fan-out: tail a change log, route micro-batches into
    per-value tables; union reconstructs a batch replay of the same log."""
    from etl_spark.cdc.router import stream_route
    from etl_spark.datagen import write_change_log
    from etl_spark.lake.table import LakeTable
    import os

    log = str(tmp_path / "log")
    write_change_log(spark, log, 3_000, n_convs=30, n_epochs=3)
    q = stream_route(
        spark, log, str(tmp_path / "routed"), str(tmp_path / "ckpt"),
        route_col="role", num_buckets=4, max_files_per_trigger=4,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    spine = CdcEngine(spark, str(tmp_path / "spine"), num_buckets=4)
    spine.replay(log)
    union = None
    for v in sorted(set(os.listdir(str(tmp_path / "routed"))) - {"_router_epochs"}):
        df = LakeTable(spark, str(tmp_path / "routed" / v)).snapshot_df()
        union = df if union is None else union.unionByName(df)
    spine_df = spine.table.snapshot_df()
    assert union.count() == spine_df.count()
    assert union.exceptAll(spine_df).count() == 0


def test_route_replay_null_route_rows_land_in_rest(spark, tmp_path):
    """Non-delete rows with a NULL route value must not vanish: they land
    in the lazily-created __rest__ table, and the union of all routed
    snapshots (rest included) still equals the spine."""
    import os

    from etl_spark.cdc.router import route_replay
    from etl_spark.lake.table import LakeTable

    changes = gen_changes(spark, 3_000, n_convs=30, n_epochs=2)
    # NULL the route value on ~1/4 of non-delete rows (role is NULL on
    # deletes already; this adds NULL-route DATA rows)
    changes = changes.withColumn(
        "role",
        F.when(F.abs(F.xxhash64("conv_id", "turn_idx")) % 4 == 0, None)
        .otherwise(F.col("role")),
    )
    log = str(tmp_path / "log")
    for ep in (0, 1):
        changes.where(F.col("epoch") == ep).drop("epoch").write.parquet(
            os.path.join(log, f"epoch={ep:05d}")
        )
    spine = CdcEngine(spark, str(tmp_path / "spine"), num_buckets=4)
    spine.replay(log)

    base = str(tmp_path / "routed")
    list(route_replay(spark, log, base, route_col="role", num_buckets=4))
    names = sorted(set(os.listdir(base)) - {"_router_epochs"})
    assert "__rest__" in names
    rest = LakeTable(spark, os.path.join(base, "__rest__")).snapshot_df()
    assert rest.count() > 0
    assert rest.where(F.col("role").isNotNull()).count() == 0

    union = None
    for v in names:
        df = LakeTable(spark, os.path.join(base, v)).snapshot_df()
        union = df if union is None else union.unionByName(df)
    spine_df = spine.table.snapshot_df()
    assert union.count() == spine_df.count()
    assert union.exceptAll(spine_df).count() == 0


def test_route_value_colliding_with_rest_name_rejected(spark, tmp_path):
    """A literal route value equal to the rest table's name would create
    two handles on the same path — the second apply for the (source,
    epoch) epoch-fences into a silent skip and the rest rows vanish. The
    router must refuse instead, and a custom rest name keys the stats by
    its actual name."""
    import os

    import pytest as _pytest

    from etl_spark.cdc.router import route_batch, route_replay

    changes = gen_changes(spark, 1_000, n_convs=10, n_epochs=1).drop("epoch")
    # a) discovery path: route value literally equal to rest_name
    bad = changes.withColumn("role", F.lit("overflow"))
    log = str(tmp_path / "log")
    bad.write.parquet(os.path.join(log, "epoch=00000"))
    with _pytest.raises(ValueError, match="collides with the rest table name"):
        list(route_replay(spark, log, str(tmp_path / "routed"),
                          route_col="role", num_buckets=2, rest_name="overflow"))

    # b) direct route_batch with clashing table handles refuses too
    t = CdcEngine(spark, str(tmp_path / "t" / "user"), num_buckets=2).table
    rest_clash = CdcEngine(spark, str(tmp_path / "t" / "user"), num_buckets=2).table
    with _pytest.raises(ValueError, match="rest table's path"):
        route_batch({"user": t}, changes, 0, route_col="role", rest=rest_clash)

    # c) a custom-named rest table keys its stats by the ACTUAL name
    dest = CdcEngine(spark, str(tmp_path / "r" / "user"), num_buckets=2).table
    rest = CdcEngine(spark, str(tmp_path / "r" / "overflow"), num_buckets=2).table
    stats = route_batch({"user": dest}, changes, 0, route_col="role", rest=rest)
    assert set(stats) == {"user", "overflow"}

    # d) DISTINCT paths but a route value named like the rest table: the
    #    stats keys would silently overwrite each other — refuse loudly
    d2 = CdcEngine(spark, str(tmp_path / "d" / "overflow"), num_buckets=2).table
    rest2 = CdcEngine(spark, str(tmp_path / "e" / "overflow"), num_buckets=2).table
    with _pytest.raises(ValueError, match="collides with the rest table"):
        route_batch({"overflow": d2}, changes, 0, route_col="role", rest=rest2)


def test_route_replay_no_rest_fails_loudly(spark, tmp_path):
    """rest_name=None + NULL-route non-delete rows: raise, don't drop."""
    import os

    import pytest as _pytest

    from etl_spark.cdc.router import route_replay

    changes = gen_changes(spark, 1_000, n_convs=10, n_epochs=1)
    changes = changes.withColumn("role", F.lit(None).cast("string"))
    log = str(tmp_path / "log")
    changes.drop("epoch").write.parquet(os.path.join(log, "epoch=00000"))
    with _pytest.raises(ValueError, match="NULL or path-unsafe"):
        list(route_replay(spark, log, str(tmp_path / "routed"),
                          route_col="role", num_buckets=4, rest_name=None))


def test_route_replay_path_unsafe_values_land_in_rest(spark, tmp_path):
    """Route values are DATA. A crafted value like '../spine' or '' must
    never become a path component (it would MERGE routed rows — and, in
    general mode, tombstones for every other row — into an unrelated
    table). Unsafe values are unroutable: they land in the rest table,
    nothing is created outside base_path, and the union of routed
    snapshots still equals the spine."""
    import os

    from etl_spark.cdc.router import _ensure_tables, route_replay
    from etl_spark.lake.table import LakeTable

    changes = gen_changes(spark, 3_000, n_convs=30, n_epochs=2)
    evil = (
        F.when(F.abs(F.xxhash64("conv_id")) % 5 == 0, F.lit("../spine"))
        .when(F.abs(F.xxhash64("conv_id")) % 5 == 1, F.lit(""))
        .otherwise(F.col("role"))
    )
    changes = changes.withColumn(
        "role", F.when(F.col("op") == "D", F.col("role")).otherwise(evil)
    )
    log = str(tmp_path / "log")
    for ep in (0, 1):
        changes.where(F.col("epoch") == ep).drop("epoch").write.parquet(
            os.path.join(log, f"epoch={ep:05d}")
        )
    spine = CdcEngine(spark, str(tmp_path / "spine"), num_buckets=4)
    spine.replay(log)

    base = str(tmp_path / "routed")
    list(route_replay(spark, log, base, route_col="role", num_buckets=4))

    # nothing escaped base_path: tmp_path holds exactly log, spine, routed
    assert sorted(os.listdir(tmp_path)) == ["log", "routed", "spine"]
    names = sorted(set(os.listdir(base)) - {"_router_epochs"})
    assert "__rest__" in names
    assert all("/" not in n and n not in (".", "..") for n in names)

    rest = LakeTable(spark, os.path.join(base, "__rest__")).snapshot_df()
    # rest holds exactly the unroutable rows (crafted values and nothing
    # with a value that got its own table)
    routable = [n for n in names if n != "__rest__"]
    assert rest.count() > 0
    assert rest.where(F.col("role").isin(routable)).count() == 0
    assert rest.where(F.col("role") == "../spine").count() > 0

    union = None
    for v in names:
        df = LakeTable(spark, os.path.join(base, v)).snapshot_df()
        union = df if union is None else union.unionByName(df)
    spine_df = spine.table.snapshot_df()
    assert union.count() == spine_df.count()
    assert union.exceptAll(spine_df).count() == 0

    # defense in depth: a direct caller handing an unsafe value to
    # _ensure_tables fails loudly instead of joining the path
    with pytest.raises(ValueError, match="not a safe path component"):
        _ensure_tables(spark, base, {}, ["../oops"], 4, "__rest__")


def test_late_loser_after_lazy_table_creation_batch(spark, tmp_path):
    """A route value first sighted at epoch k gets a BACKFILLED table:
    a later event that loses the global LWW fold (older op_ts, higher
    lsn) must find the earlier epochs' move-tombstones there and lose —
    not resurrect its key in the new table (the test_property_router
    shrink that exposed the gap)."""
    import datetime as dt
    import os

    from etl_spark.cdc.engine import CHANGE_SCHEMA
    from etl_spark.cdc.router import route_replay
    from etl_spark.lake.table import LakeTable

    T = lambda s: dt.datetime(2025, 1, 1, 0, 0, s)
    log = str(tmp_path / "log")
    epochs = [
        [("I", "a", 0, "assistant", "win", None, T(0), T(1), 1)],
        # late loser: older op_ts, delivered later, first sight of "user"
        [("U", "a", 0, "user", "lose", None, T(0), T(0), 2)],
    ]
    for i, rows in enumerate(epochs):
        spark.createDataFrame(rows, schema=CHANGE_SCHEMA).coalesce(1) \
            .write.parquet(os.path.join(log, f"epoch={i:05d}"))

    base = str(tmp_path / "routed")
    list(route_replay(spark, log, base, route_col="role", num_buckets=4))

    rows = {
        v: LakeTable(spark, os.path.join(base, v)).snapshot_df().collect()
        for v in sorted(set(os.listdir(base)) - {"_router_epochs"})
    }
    assert [(r.conv_id, r.turn_idx, r.text) for r in rows["assistant"]] == \
        [("a", 0, "win")]
    assert rows.get("user", []) == []


def test_late_loser_after_lazy_table_creation_stream(spark, tmp_path):
    """Same guarantee on the streaming path: a table created mid-stream
    backfills from the visible change log before joining the stream."""
    import datetime as dt
    import os

    from etl_spark.cdc.engine import CHANGE_SCHEMA
    from etl_spark.cdc.router import stream_route
    from etl_spark.lake.table import LakeTable

    T = lambda s: dt.datetime(2025, 1, 1, 0, 0, s)
    log = str(tmp_path / "log")
    epochs = [
        [("I", "a", 0, "assistant", "win", None, T(0), T(1), 1)],
        [("U", "a", 0, "user", "lose", None, T(0), T(0), 2)],
    ]
    for i, rows in enumerate(epochs):
        spark.createDataFrame(rows, schema=CHANGE_SCHEMA).coalesce(1) \
            .write.parquet(os.path.join(log, f"epoch={i:05d}"))

    q = stream_route(
        spark, log, str(tmp_path / "routed"), str(tmp_path / "ckpt"),
        route_col="role", num_buckets=4, max_files_per_trigger=1,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    base = str(tmp_path / "routed")
    rows = {
        v: LakeTable(spark, os.path.join(base, v)).snapshot_df().collect()
        for v in sorted(set(os.listdir(base)) - {"_router_epochs"})
    }
    assert [(r.conv_id, r.turn_idx, r.text) for r in rows["assistant"]] == \
        [("a", 0, "win")]
    assert rows.get("user", []) == []


def test_stream_restart_does_not_rebackfill_established_tables(spark, tmp_path):
    """On a checkpoint restart the in-memory table map resets, so every
    on-disk destination looks 'newly discovered'. The backfill must run
    only for tables with no commits under either fence — an established
    table re-replaying the whole log on every restart would turn routine
    restarts into O(history) write storms. A value first sighted AFTER
    the restart still backfills."""
    import datetime as dt
    import os

    from etl_spark.cdc.engine import CHANGE_SCHEMA, fencing_namespace
    from etl_spark.cdc.router import stream_route
    from etl_spark.lake.table import LakeTable

    T = lambda s: dt.datetime(2025, 1, 1, 0, 0, s)
    log = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")
    base = str(tmp_path / "routed")

    def _write(i, rows):
        spark.createDataFrame(rows, schema=CHANGE_SCHEMA).coalesce(1) \
            .write.parquet(os.path.join(log, f"epoch={i:05d}"))

    _write(0, [("I", "a", 0, "user", "u0", None, T(0), T(1), 1)])
    q = stream_route(spark, log, base, ckpt, route_col="role", num_buckets=4,
                     max_files_per_trigger=1)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # second run over the same checkpoint: new file with a NEW value and
    # a late loser for the established table's key
    _write(1, [("I", "b", 0, "assistant", "a0", None, T(0), T(2), 2),
               ("U", "a", 0, "user", "late-loser", None, T(0), T(0), 3)])
    q = stream_route(spark, log, base, ckpt, route_col="role", num_buckets=4,
                     max_files_per_trigger=1)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    source = fencing_namespace(ckpt, "router")
    user = LakeTable(spark, os.path.join(base, "user"))
    assistant = LakeTable(spark, os.path.join(base, "assistant"))
    # established table: stream commits, NO backfill commit after restart
    assert user.committed_epoch(source) >= 0
    assert user.committed_epoch(f"{source}_backfill") == -1
    # mid-stream (post-restart) discovery: backfilled exactly once
    assert assistant.committed_epoch(f"{source}_backfill") >= 0
    # content converged: late loser lost, each key in its own table
    assert {(r.conv_id, r.text) for r in user.snapshot_df().collect()} == \
        {("a", "u0")}
    assert {(r.conv_id, r.text) for r in assistant.snapshot_df().collect()} == \
        {("b", "a0")}

def test_stream_restart_rest_backfill_respects_established_tables(spark, tmp_path):
    """ADVICE r4 (router.py): the rest-table backfill used to derive its
    'routed elsewhere' set from the IN-MEMORY table dict. After a stream
    restart that dict is empty, so a rest table created post-restart
    backfilled the whole log with known=[] — historical rows of
    established destinations landed in the rest table as live images
    whose source batches were already processed, so nothing ever
    tombstoned them: union != spine. Known must come from persistent
    state (existing table directories)."""
    import datetime as dt
    import os

    from etl_spark.cdc.engine import CHANGE_SCHEMA
    from etl_spark.cdc.router import stream_route
    from etl_spark.lake.table import LakeTable

    T = lambda s: dt.datetime(2025, 1, 1, 0, 0, s)
    log = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")
    base = str(tmp_path / "routed")

    def _write(i, rows):
        spark.createDataFrame(rows, schema=CHANGE_SCHEMA).coalesce(1) \
            .write.parquet(os.path.join(log, f"epoch={i:05d}"))

    _write(0, [("I", "a", 0, "user", "u0", None, T(0), T(1), 1)])
    q = stream_route(spark, log, base, ckpt, route_col="role", num_buckets=4,
                     max_files_per_trigger=1)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # restart: the only new file is a NULL-route row, so the in-memory
    # dict never re-learns 'user' before the rest table's creation
    _write(1, [("I", "n", 0, None, "norole", None, T(5), T(6), 2)])
    q = stream_route(spark, log, base, ckpt, route_col="role", num_buckets=4,
                     max_files_per_trigger=1)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    rest = LakeTable(spark, os.path.join(base, "__rest__"))
    assert {(r.conv_id, r.text) for r in rest.snapshot_df().collect()} == \
        {("n", "norole")}
    user = LakeTable(spark, os.path.join(base, "user"))
    assert {(r.conv_id, r.text) for r in user.snapshot_df().collect()} == \
        {("a", "u0")}


def test_stream_rest_backfill_excludes_future_values_stable_mode(spark, tmp_path):
    """ADVICE r4 (router.py), second leg: the whole-log prior read at
    rest-creation time contains NOT-YET-SIGHTED future route values.
    Under stable_routes=True the rest table never receives cross-table
    tombstones, so those images stayed in the rest table forever while
    the value's own table (created later, with its own backfill) also
    held them — the key appeared twice across the union. Every safe
    value anywhere in the log must count as 'routed elsewhere'."""
    import datetime as dt
    import os

    from etl_spark.cdc.engine import CHANGE_SCHEMA
    from etl_spark.cdc.router import stream_route
    from etl_spark.lake.table import LakeTable

    T = lambda s: dt.datetime(2025, 1, 1, 0, 0, s)
    log = str(tmp_path / "log")
    base = str(tmp_path / "routed")

    def _write(i, rows):
        spark.createDataFrame(rows, schema=CHANGE_SCHEMA).coalesce(1) \
            .write.parquet(os.path.join(log, f"epoch={i:05d}"))

    _write(0, [("I", "a", 0, "user", "u0", None, T(0), T(1), 1)])
    _write(1, [("I", "n", 0, None, "norole", None, T(5), T(6), 2)])
    _write(2, [("I", "b", 0, "assistant", "a0", None, T(8), T(9), 3)])

    q = stream_route(spark, log, base, str(tmp_path / "ckpt"),
                     route_col="role", num_buckets=4, max_files_per_trigger=1,
                     stable_routes=True)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    rows = {
        v: {(r.conv_id, r.text)
            for r in LakeTable(spark, os.path.join(base, v)).snapshot_df().collect()}
        for v in sorted(set(os.listdir(base)) - {"_router_epochs"})
    }
    assert rows["__rest__"] == {("n", "norole")}
    assert rows["user"] == {("a", "u0")}
    assert rows["assistant"] == {("b", "a0")}

def test_consistent_view_survives_torn_fanout(spark, tmp_path):
    """Round-5 verdict item 5 (option B): a crash mid-fan-out leaves the
    routed tables one epoch apart until replay resumes. The per-epoch
    completion marker bounds the reader-visible window to zero — a
    consumer through consistent_view() always sees EVERY table at the
    same completed epoch, even while a later epoch is half-applied —
    and the underlying live skew is itself bounded at one epoch."""
    import datetime as dt
    import os

    from etl_spark.cdc.route_epochs import consistent_view, latest_route_epoch
    from etl_spark.cdc.router import route_replay
    from etl_spark.cdc.engine import CHANGE_SCHEMA

    T = lambda s: dt.datetime(2025, 1, 1, 0, 0, s)
    log = str(tmp_path / "log")
    base = str(tmp_path / "routed")

    def _write(i, rows):
        spark.createDataFrame(rows, schema=CHANGE_SCHEMA).coalesce(1) \
            .write.parquet(os.path.join(log, f"epoch={i:05d}"))

    _write(0, [("I", "a", 0, "user", "u0", None, T(0), T(1), 1),
               ("I", "b", 0, "assistant", "a0", None, T(0), T(1), 2)])
    _write(1, [("U", "a", 0, "user", "u1", None, T(0), T(3), 3),
               ("U", "b", 0, "assistant", "a1", None, T(0), T(3), 4)])

    # full epoch 0, then a TORN epoch 1: only the 'user' table applies
    it = route_replay(spark, log, base, route_col="role")
    next(it)  # epoch 0 complete -> marker written
    m0 = latest_route_epoch(base, "router")
    assert m0["epoch"] == 0 and set(m0["tables"]) == {"assistant", "user"}

    from etl_spark.cdc.router import route_batch
    from etl_spark.lake.table import LakeTable

    user = LakeTable(spark, os.path.join(base, "user"))
    assistant = LakeTable(spark, os.path.join(base, "assistant"))
    e1 = spark.read.parquet(os.path.join(log, "epoch=00001"))
    route_batch({"user": user}, e1, 1, route_col="role")  # crash before 'assistant'

    # LIVE tables are torn (user at epoch 1, assistant at 0)...
    assert {r.text for r in user.snapshot_df().collect()} == {"u1"}
    assert {r.text for r in assistant.snapshot_df().collect()} == {"a0"}
    assert user.committed_epoch("router") - assistant.committed_epoch("router") == 1
    # ...but the consistent view pins BOTH to completed epoch 0
    ep, views = consistent_view(spark, base, "router")
    assert ep == 0
    assert {r.text for r in views["user"].collect()} == {"u0"}
    assert {r.text for r in views["assistant"].collect()} == {"a0"}

    # resume: a fresh replay re-runs epoch 1 (user fences, assistant
    # applies), the marker lands, and the view advances atomically
    for _ in route_replay(spark, log, base, route_col="role"):
        pass
    ep, views = consistent_view(spark, base, "router")
    assert ep == 1
    assert {r.text for r in views["user"].collect()} == {"u1"}
    assert {r.text for r in views["assistant"].collect()} == {"a1"}
    # re-running the whole replay again is marker-idempotent
    for _ in route_replay(spark, log, base, route_col="role"):
        pass
    assert latest_route_epoch(base, "router")["epoch"] == 1


def test_stream_route_writes_epoch_markers(spark, tmp_path):
    """The streaming fan-out publishes the same per-epoch completion
    markers under its checkpoint-scoped fencing source."""
    import datetime as dt
    import os

    from etl_spark.cdc.engine import CHANGE_SCHEMA, fencing_namespace
    from etl_spark.cdc.route_epochs import consistent_view
    from etl_spark.cdc.router import stream_route

    T = lambda s: dt.datetime(2025, 1, 1, 0, 0, s)
    log = str(tmp_path / "log")
    base = str(tmp_path / "routed")
    ckpt = str(tmp_path / "ckpt")
    rows = [("I", "a", 0, "user", "u0", None, T(0), T(1), 1),
            ("I", "b", 0, "assistant", "a0", None, T(0), T(1), 2)]
    spark.createDataFrame(rows, schema=CHANGE_SCHEMA).coalesce(1) \
        .write.parquet(os.path.join(log, "epoch=00000"))

    q = stream_route(spark, log, base, ckpt, route_col="role", num_buckets=4)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    source = fencing_namespace(ckpt, "router")
    ep, views = consistent_view(spark, base, source)
    assert ep == 0
    assert {r.text for r in views["user"].collect()} == {"u0"}
    assert {r.text for r in views["assistant"].collect()} == {"a0"}


def test_stream_restart_marker_keeps_established_tables(spark, tmp_path):
    """After a checkpoint restart, an epoch that routes only some values
    must still record every established destination in its marker:
    consistent_view reads the newest marker, and a table missing from it
    would silently vanish from the consistent view."""
    import datetime as dt
    import os

    from etl_spark.cdc.engine import CHANGE_SCHEMA, fencing_namespace
    from etl_spark.cdc.route_epochs import consistent_view, latest_route_epoch
    from etl_spark.cdc.router import stream_route

    T = lambda s: dt.datetime(2025, 1, 1, 0, 0, s)
    log = str(tmp_path / "log")
    base = str(tmp_path / "routed")
    ckpt = str(tmp_path / "ckpt")

    def _write(i, rows):
        spark.createDataFrame(rows, schema=CHANGE_SCHEMA).coalesce(1) \
            .write.parquet(os.path.join(log, f"epoch={i:05d}"))

    def _run():
        q = stream_route(spark, log, base, ckpt, route_col="role",
                         num_buckets=4, max_files_per_trigger=1)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    _write(0, [("I", "a", 0, "user", "u0", None, T(0), T(1), 1),
               ("I", "b", 0, "assistant", "a0", None, T(0), T(1), 2)])
    _run()
    # restart; the only new epoch routes 'user' alone
    _write(1, [("U", "a", 0, "user", "u1", None, T(0), T(3), 3)])
    _run()

    source = fencing_namespace(ckpt, "router")
    marker = latest_route_epoch(base, source)
    assert marker["epoch"] == 1
    assert set(marker["tables"]) == {"assistant", "user"}
    ep, views = consistent_view(spark, base, source)
    assert ep == 1
    assert {r.text for r in views["user"].collect()} == {"u1"}
    assert {r.text for r in views["assistant"].collect()} == {"a0"}


def test_stream_restart_tombstones_moves_out_of_established_tables(spark, tmp_path):
    """General mode after a checkpoint restart: a key whose route value
    moves away from an established table that the new epoch does not
    route to must still be tombstoned there, as in a run that never
    stopped — else the key is live in two tables and union != spine."""
    import datetime as dt
    import os

    from etl_spark.cdc.engine import CHANGE_SCHEMA
    from etl_spark.cdc.router import stream_route
    from etl_spark.lake.table import LakeTable

    T = lambda s: dt.datetime(2025, 1, 1, 0, 0, s)
    log = str(tmp_path / "log")
    base = str(tmp_path / "routed")
    ckpt = str(tmp_path / "ckpt")

    def _write(i, rows):
        spark.createDataFrame(rows, schema=CHANGE_SCHEMA).coalesce(1) \
            .write.parquet(os.path.join(log, f"epoch={i:05d}"))

    def _run():
        q = stream_route(spark, log, base, ckpt, route_col="role",
                         num_buckets=4, max_files_per_trigger=1)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    _write(0, [("I", "a", 0, "user", "u0", None, T(0), T(1), 1),
               ("I", "b", 0, "assistant", "a0", None, T(0), T(1), 2)])
    _run()
    # restart; 'b' moves from assistant to user
    _write(1, [("U", "b", 0, "user", "moved", None, T(0), T(3), 3)])
    _run()

    def texts(name):
        t = LakeTable(spark, os.path.join(base, name))
        return {(r.conv_id, r.text) for r in t.snapshot_df().collect()}

    assert texts("user") == {("a", "u0"), ("b", "moved")}
    assert texts("assistant") == set()


def test_route_epoch_source_dirname_is_safe_and_collision_free():
    """Fencing-source strings (checkpoint-lineage suffixed, arbitrary
    user content) become marker directory names — sanitization must
    never produce path-escaping components, and two distinct sources
    must never share a directory after sanitization (the hash suffix)."""
    from etl_spark.cdc.route_epochs import _source_dirname

    cases = ["router", "router@abc123", "../../evil", "a/b\\c", "",
             "x" * 200, "router@abc123 ", "röuter-🔥"]
    names = [_source_dirname(s) for s in cases]
    for n in names:
        assert "/" not in n and "\\" not in n and n not in (".", "..")
        assert len(n) <= 64
    assert len(set(names)) == len(cases)  # distinct sources, distinct dirs

def test_reserved_marker_name_route_value_lands_in_rest(spark, tmp_path):
    """A route VALUE spelled exactly like the epoch-marker directory
    (route_epochs.ROUTER_EPOCHS_DIR) must not become a table path — it
    would drop a LakeTable onto the marker tree. Reserved names divert
    to the rest table exactly like path-unsafe values."""
    import datetime as dt
    import os

    from etl_spark.cdc.engine import CHANGE_SCHEMA
    from etl_spark.cdc.route_epochs import ROUTER_EPOCHS_DIR
    from etl_spark.cdc.router import route_replay
    from etl_spark.lake.table import LakeTable

    T = lambda s: dt.datetime(2025, 1, 1, 0, 0, s)
    log = str(tmp_path / "log")
    base = str(tmp_path / "routed")
    rows = [("I", "a", 0, ROUTER_EPOCHS_DIR, "evil", None, T(0), T(1), 1),
            ("I", "b", 0, "user", "ok", None, T(0), T(1), 2)]
    spark.createDataFrame(rows, schema=CHANGE_SCHEMA).coalesce(1) \
        .write.parquet(os.path.join(log, "epoch=00000"))

    list(route_replay(spark, log, base, route_col="role"))
    # no table was created at the marker path; the row went to rest
    assert not os.path.isdir(os.path.join(base, ROUTER_EPOCHS_DIR, "_meta"))
    rest = LakeTable(spark, os.path.join(base, "__rest__"))
    assert {(r.conv_id, r.text) for r in rest.snapshot_df().collect()} == \
        {("a", "evil")}
    user = LakeTable(spark, os.path.join(base, "user"))
    assert {(r.conv_id, r.text) for r in user.snapshot_df().collect()} == \
        {("b", "ok")}
