"""Multi-table routing: one change stream fanned into per-value tables.

Reference analogue: the load layer's one-table-per-event-type shape —
`/root/reference/etl/dags/user_history/user_history/dag.py:41-48` loops
over `all_event_names` and lands each event's rows in its own
`_raw.<event>` table (`load/modules/mod_data_insert.sql:2-7`), while the
spine table keeps every event. Here the spine is the main transcripts
table (routed value kept in the payload) and the router materializes the
per-value tables from the same change stream.

Routing a CDC stream is harder than routing an append-only event stream:
the route value can CHANGE for a live key (the row "moves" between
tables) and a delete event may carry no payload at all (NULL route
value). Two modes:

  * default (mutable route column, fully general): every destination
    table sees the WHOLE batch, with ``op`` rewritten to ``'D'`` for
    rows routed elsewhere — a move lands the new image in its new table
    and an LWW-ordered tombstone in every other, and a NULL-payload
    delete tombstones everywhere. Exact: the union of routed snapshots
    always equals the spine. Cost: O(batch × fan-out) delta rows, most
    of them tombstones that expunge+compact reclaim — the price of
    never reading destination tables at apply time (apply stays
    O(batch), the engine's core invariant).
  * ``stable_routes=True`` (immutable route column — the reference's
    event-name case): each table sees only its matching rows, plus
    NULL-valued deletes fanned to every table (a tombstone for a key a
    table never held is exactly the delete-of-absent fence apply
    already implements). O(batch) total, no cross-table tombstones —
    but WRONG if the route value ever mutates for a live key.

Semantics shared by both modes:
  * each destination table is applied with the SAME (source, epoch)
    fencing as any CDC apply — exactly-once PER TABLE; a crash between
    table applies resumes by re-running the epoch, where already-applied
    tables fence themselves into no-ops;
  * there is deliberately NO cross-table atomicity at apply time (same
    as the reference, whose per-event INSERTs are separate BigQuery
    jobs): a reader joining the LIVE routed tables mid-replay can
    observe one at epoch k and the other at k-1. The skew is BOUNDED at
    one epoch (epoch k lands everywhere before any table sees k+1) and
    only spans a crash-to-resume window; readers who need cross-table
    consistency use ``route_epochs.consistent_view`` — per-epoch
    completion markers pin every table to the same completed epoch's
    metadata versions, an atomic visibility flip over the per-table
    commits (tested in test_router.py).

Scale shape: one filtered apply per destination; the route predicate
pushes to the parquet scan of the change batch (row-group skipping).
For very wide fan-out (hundreds of event types) localCheckpoint the
batch once before the loop — a knob, not a default.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .apply import ApplyStats, apply_batch
from ..lake.table import LakeTable


def _routed_view(
    changes: DataFrame, route_col: str, match: "F.Column", stable: bool
) -> DataFrame:
    if stable:
        # matching rows + NULL-payload deletes (routable nowhere, fanned
        # everywhere: delete-of-absent is fenced by apply)
        return changes.where(
            match | ((F.col("op") == "D") & F.col(route_col).isNull())
        )
    # general: non-matching rows become tombstones AT THE SAME LWW order,
    # so a move's old-table delete and new-table image can never interleave
    # wrongly with other changes to the key
    return changes.withColumn(
        "op", F.when(match, F.col("op")).otherwise(F.lit("D"))
    )


def route_batch(
    tables: dict[str, LakeTable],
    changes: DataFrame,
    epoch: int,
    route_col: str = "role",
    source: str = "router",
    rest: LakeTable | None = None,
    stable_routes: bool = False,
    rest_known: list[str] | None = None,
) -> dict[str, ApplyStats]:
    """Apply one micro-batch to every destination table (see module doc
    for the two routing modes). Returns per-destination ApplyStats
    (skipped=True where the epoch was already fenced).

    ``rest_known`` overrides the value set the rest table treats as
    "routed elsewhere" (default: ``tables``' keys). Backfill callers pass
    the FULL destination set while applying to only the newly-created
    tables — otherwise a historical row whose value belongs to an
    existing table would land its image in the rest table too."""
    stats: dict[str, ApplyStats] = {}
    known = list(tables) if rest_known is None else list(rest_known)
    if rest is not None:
        # a routed table sharing the rest table's path would be applied
        # TWICE under the same (source, epoch) — the second apply is
        # epoch-fenced into a silent skip, dropping the rest rows. Refuse.
        rest_path = os.path.normpath(rest.path)
        clash = [v for v, t in tables.items()
                 if os.path.normpath(t.path) == rest_path]
        if clash:
            raise ValueError(
                f"route value(s) {clash!r} resolve to the rest table's path "
                f"{rest_path!r} — rename the rest table (rest_name=) or the "
                f"route value; sharing a destination would epoch-fence the "
                f"rest rows away"
            )
        # distinct paths but a route value named like the rest table would
        # make the rest stats entry below silently overwrite the routed
        # table's — same policy as _ensure_tables: refuse loudly
        name_clash = os.path.basename(rest_path)
        if name_clash in tables:
            raise ValueError(
                f"route value {name_clash!r} collides with the rest table's "
                f"name — the per-destination stats would overwrite each "
                f"other; rename the rest table (rest_name=) or the route value"
            )
    for val, table in sorted(tables.items()):
        match = F.col(route_col) == F.lit(val)
        stats[val] = apply_batch(
            table, _routed_view(changes, route_col, match, stable_routes),
            epoch, source=source,
        )
    if rest is not None:
        # rest owns unknown AND NULL route values (a NULL on a non-delete
        # is still data — it must land somewhere); stats keyed by the rest
        # table's ACTUAL name, not a hardcoded label
        match = (
            F.coalesce(~F.col(route_col).isin(known), F.lit(True))
            if known
            else F.lit(True)
        )
        stats[os.path.basename(rest_path)] = apply_batch(
            rest, _routed_view(changes, route_col, match, stable_routes),
            epoch, source=source,
        )
    return stats


def discover_route_values(changes: DataFrame, route_col: str = "role") -> list[str]:
    """Distinct non-null route values of a batch (driver-side, bounded by
    the route-value cardinality — event-type-like, not key-like)."""
    return discover_routes(changes, route_col)[0]


def _safe_route_value(val: str) -> bool:
    """Is ``val`` usable as a table directory name under base_path?

    Route values are DATA — a crafted value like ``'../spine'`` or an
    empty string must never become a path component (``os.path.join``
    would escape base_path and MERGE-apply routed rows into an unrelated
    table). Unsafe values are not errors: they are simply unroutable and
    land in the rest table like unknown/NULL values do.

    ``route_epochs.ROUTER_EPOCHS_DIR`` is a RESERVED name: the epoch
    markers live in that directory under base_path, so a route value
    spelled exactly like it would drop a LakeTable onto the marker tree.
    Reserved like unsafe — diverted to the rest table."""
    from .route_epochs import ROUTER_EPOCHS_DIR

    return (
        bool(val)
        and val not in (".", "..", ROUTER_EPOCHS_DIR)
        and "/" not in val
        and "\\" not in val
        and "\x00" not in val
    )


def _is_table_dir(base_path: str, name: str) -> bool:
    return os.path.isdir(os.path.join(base_path, name, "_meta"))


def _persisted_routes(base_path: str, rest_name: str | None) -> list[str]:
    """Route values that already have a table under ``base_path``: the
    safe-named directories holding table metadata, minus the rest table."""
    try:
        names = os.listdir(base_path)
    except FileNotFoundError:
        return []
    return sorted(
        d for d in names
        if d != rest_name and _safe_route_value(d) and _is_table_dir(base_path, d)
    )


def discover_routes(
    changes: DataFrame, route_col: str = "role"
) -> tuple[list[str], bool]:
    """(distinct routable route values, does the batch carry a NON-delete
    row that no per-value table will match — NULL or path-unsafe route
    value). The flag rides the same single aggregation: such a row is
    DATA — it must land in a rest table or the fan-out loses it. Values
    failing :func:`_safe_route_value` are excluded from the table list
    (never used as a path component) and raise the flag instead."""
    rows = (
        changes.groupBy(route_col)
        .agg(F.max(F.when(F.col("op") != "D", 1).otherwise(0)).alias("_nd"))
        .collect()
    )
    nonnull = [r for r in rows if r[route_col] is not None]
    vals = sorted(r[route_col] for r in nonnull if _safe_route_value(r[route_col]))
    need_rest = any(r[route_col] is None and r["_nd"] == 1 for r in rows) or any(
        not _safe_route_value(r[route_col]) and r["_nd"] == 1 for r in nonnull
    )
    return vals, need_rest


def _ensure_tables(
    spark,
    base_path: str,
    tables: dict[str, LakeTable],
    vals: list[str],
    num_buckets: int,
    rest_name: str | None = None,
) -> None:
    from .engine import CdcEngine

    for val in vals:
        if not _safe_route_value(val):
            # defense in depth for direct callers — discover_routes already
            # diverts these to the rest table before they reach here
            raise ValueError(
                f"route value {val!r} is not a safe path component (empty, "
                f"'.', '..', or contains a separator) — it cannot name a "
                f"table directory under {base_path!r}"
            )
        if rest_name is not None and val == rest_name:
            raise ValueError(
                f"route value {val!r} collides with the rest table name — "
                f"pass a different rest_name= or clean the value upstream"
            )
        if val not in tables:
            tables[val] = CdcEngine(
                spark, os.path.join(base_path, val), num_buckets=num_buckets
            ).table


def _ensure_rest(
    spark,
    base_path: str,
    rest: LakeTable | None,
    need: bool,
    rest_name: str | None,
    num_buckets: int,
) -> LakeTable | None:
    """Create ``base_path/<rest_name>`` lazily, on the first batch that
    carries a non-delete row with a NULL route value. ``rest_name=None``
    disables the rest table — then such a row would be silently lost
    (general mode tombstones it everywhere; stable mode routes it
    nowhere), so that configuration FAILS LOUDLY instead."""
    from .engine import CdcEngine

    if rest is not None or not need:
        return rest
    if rest_name is None:
        raise ValueError(
            f"batch carries non-delete rows with a NULL or path-unsafe "
            f"route value and no rest table is configured — they would "
            f"vanish from every routed table. Pass rest_name= (default "
            f"'__rest__') or clean the values upstream."
        )
    return CdcEngine(
        spark, os.path.join(base_path, rest_name), num_buckets=num_buckets
    ).table


def route_replay(
    spark,
    change_log_dir: str,
    base_path: str,
    route_col: str = "role",
    stable_routes: bool = False,
    num_buckets: int = 16,
    rest_name: str | None = "__rest__",
):
    """Replay a change log, fanning each epoch into per-value tables
    under ``base_path/<value>`` (created on first sight of a value; the
    destination set can grow mid-log). Yields (epoch, {value: ApplyStats}).

    Non-delete rows with a NULL route value land in ``base_path/<rest_name>``
    (created lazily on first sight), keeping the invariant that the union
    of routed snapshots equals the spine. ``rest_name=None`` raises on the
    first such row instead of dropping it.

    A table created lazily at epoch k (a route value's first sight, or
    the rest table) is BACKFILLED with epochs 0..k-1's routed view before
    joining the stream. Without this, the new table misses the
    move-tombstones of earlier epochs, and a late-arriving event that
    LOSES the global LWW fold (older op_ts, delivered after the winner)
    would have nothing to lose to inside the new table — resurrecting its
    key there and breaking union-equals-spine (found by the
    test_property_router fuzz). The backfill replays the retained change
    log, so it is exact at every LWW order — an alternative seeding from
    the other tables' current winner sets was rejected because a
    synthetic tombstone at (or adjacent to) the winner's own (op_ts, lsn)
    can tie a genuine event's order and make the fold ambiguous. Cost:
    O(history) once per NEW destination — rare (a new event type), and
    the tombstones it writes are reclaimed by compact+expunge.

    Resumable like any replay: per-table epoch fencing turns re-run
    epochs (and re-run backfills) into no-ops, so a crash anywhere —
    including mid-backfill — converges on re-run.
    """
    from .engine import CdcEngine

    tables: dict[str, LakeTable] = {}
    rest: LakeTable | None = None
    history: list[tuple[int, str]] = []
    for epoch, path in CdcEngine.list_epochs(change_log_dir):
        changes = spark.read.parquet(path)
        vals, null_nondelete = discover_routes(changes, route_col)
        fresh_vals = [v for v in vals if v not in tables]
        _ensure_tables(spark, base_path, tables, vals, num_buckets, rest_name)
        had_rest = rest is not None
        rest = _ensure_rest(
            spark, base_path, rest, null_nondelete, rest_name, num_buckets
        )
        fresh = {v: tables[v] for v in fresh_vals}
        fresh_rest = rest if (rest is not None and not had_rest) else None
        if history and (fresh or fresh_rest is not None):
            for e_prev, p_prev in history:
                route_batch(
                    fresh, spark.read.parquet(p_prev), e_prev,
                    route_col=route_col, stable_routes=stable_routes,
                    rest=fresh_rest, rest_known=list(tables),
                )
        history.append((epoch, path))
        stats = route_batch(
            tables, changes, epoch, route_col=route_col,
            stable_routes=stable_routes, rest=rest,
        )
        # every destination committed (or fenced) this epoch: publish the
        # cross-table "epoch complete" marker — consumers who need a
        # consistent multi-table view pin to it (route_epochs.consistent_view)
        # instead of racing the per-table applies. A crash before this
        # line leaves the marker unwritten; the resumed replay re-runs the
        # epoch (per-table fencing no-ops) and writes it then.
        from .route_epochs import mark_route_epoch

        mark_route_epoch(base_path, "router", epoch, tables, rest=rest)
        yield epoch, stats


def stream_route(
    spark,
    change_log_dir: str,
    base_path: str,
    checkpoint_dir: str,
    route_col: str = "role",
    stable_routes: bool = False,
    num_buckets: int = 16,
    max_files_per_trigger: int | None = 8,
    schema=None,
    rest_name: str | None = "__rest__",
):
    """Structured-Streaming fan-out: tail the change log and route every
    micro-batch into per-value tables under ``base_path/<value>``
    (created lazily as values appear mid-stream). NULL-route non-delete
    rows land in a lazily-created ``base_path/<rest_name>`` table
    (``rest_name=None``: fail loudly instead — see route_replay).

    Exactly-once per table exactly like ``CdcEngine.stream``: the batch
    id is the fencing epoch, namespaced per checkpoint lineage
    (``fencing_namespace``) so a rebuilt checkpoint reprocesses under a
    fresh source instead of being fenced away. Call
    ``.processAllAvailable()`` / ``awaitTermination`` on the result.

    A destination created lazily mid-stream is backfilled like in
    ``route_replay`` — without it, a late LWW loser arriving after the
    table's creation resurrects its key there (see route_replay's
    docstring). Micro-batch boundaries aren't addressable after the
    fact, so the backfill applies the WHOLE change-log directory visible
    at creation time as one batch under the ``<source>_backfill`` fence.
    Rows of still-unprocessed files get applied early and then again in
    their real micro-batch — bit-identical duplicates that the LWW fold
    collapses, so this is exact (storage-only cost, reclaimed by
    compaction). Only genuinely NEW tables backfill (no commits under
    either fence), so a stream restart doesn't re-replay the log into
    established tables.
    """
    from .engine import CHANGE_SCHEMA, CdcEngine, fencing_namespace

    source = fencing_namespace(checkpoint_dir, "router")
    bf_source = f"{source}_backfill"
    # A restarted stream starts from PERSISTED state, not an empty map:
    # every destination a previous run created is open from the first
    # batch on, exactly as in a run that never stopped. Otherwise an
    # established table whose value has not recurred yet would get no
    # move tombstones, no place in the rest table's "routed elsewhere"
    # set, and no entry in the epoch marker (consistent_view would
    # silently drop it).
    tables: dict[str, LakeTable] = {}
    _ensure_tables(spark, base_path, tables, _persisted_routes(base_path, rest_name),
                   num_buckets, rest_name)
    rest_box: list[LakeTable | None] = [_ensure_rest(
        spark, base_path, None,
        rest_name is not None and _is_table_dir(base_path, rest_name),
        rest_name, num_buckets,
    )]

    reader = (
        spark.readStream.schema(schema or CHANGE_SCHEMA)
        .option("recursiveFileLookup", "true")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream_df = reader.parquet(change_log_dir)

    def _apply(batch_df, batch_id: int):
        vals, null_nondelete = discover_routes(batch_df, route_col)
        fresh_vals = [v for v in vals if v not in tables]
        _ensure_tables(spark, base_path, tables, vals, num_buckets, rest_name)
        had_rest = rest_box[0] is not None
        rest_box[0] = _ensure_rest(
            spark, base_path, rest_box[0], null_nondelete, rest_name, num_buckets
        )
        fresh = {
            v: tables[v] for v in fresh_vals
            if tables[v].committed_epoch(source) < 0
            and tables[v].committed_epoch(bf_source) < 0
        }
        fresh_rest = rest_box[0] if (rest_box[0] is not None and not had_rest
                                     and rest_box[0].committed_epoch(source) < 0
                                     and rest_box[0].committed_epoch(bf_source) < 0
                                     ) else None
        if int(batch_id) > 0 and (fresh or fresh_rest is not None):
            prior = (
                spark.read.schema(schema or CHANGE_SCHEMA)
                .option("recursiveFileLookup", "true")
                .parquet(change_log_dir)
            )
            rest_known = list(tables)
            if fresh_rest is not None:
                # The whole-log prior also carries not-yet-sighted FUTURE
                # values; without them in the rest backfill's "routed
                # elsewhere" set, historical rows would land in the rest
                # table as live images that (their source batches being
                # already processed, and stable mode writing no
                # cross-table tombstones) are never tombstoned, silently
                # breaking union-equals-spine. Known = every destination
                # (`tables` holds the persisted ones, see below) ∪ every
                # safe value anywhere in the prior log (each WILL get its
                # own table on first sight).
                rest_known = sorted(
                    set(tables) | set(discover_routes(prior, route_col)[0])
                )
            route_batch(
                fresh, prior, int(batch_id), route_col=route_col,
                source=bf_source, stable_routes=stable_routes,
                rest=fresh_rest, rest_known=rest_known,
            )
        route_batch(
            tables, batch_df, int(batch_id), route_col=route_col,
            source=source, stable_routes=stable_routes, rest=rest_box[0],
        )
        # cross-table "epoch complete" marker (see route_replay): written
        # only after every destination committed/fenced this batch
        from .route_epochs import mark_route_epoch

        mark_route_epoch(
            base_path, source, int(batch_id), tables, rest=rest_box[0]
        )

    return (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
