"""Table replication: change-feed out of one LakeTable, exactly-once
apply into another.

Closes the CDC loop the north rule implies: binlog → table (ingest) and
table → change feed → replica (emit). A replica is just another
LakeTable; the sync composes two existing verified pieces —
``changes_between`` (bucket-pruned row diff, pre-images on deletes) and
``apply_batch`` (LWW + epoch fencing) — so it inherits exactly-once
semantics for free: the source's metadata VERSION is the fencing epoch,
making every sync idempotent and crash-resumable (a re-run of a synced
version is skipped before any read).

Incremental by default: only the buckets touched since the last synced
version are read on either side. When the replica is so far behind that
the source's old metadata version has been vacuumed away, the sync falls
back to a FULL resync — the source snapshot applied as upserts, which the
LWW fold makes convergent (replica rows newer than the snapshot cannot be
overwritten backwards; stale rows are).

Delete ordering: a delete whose tombstone still exists on the source
carries the tombstone's own (op_ts, lsn). If the tombstone was expunged
before the replica saw it, the feed has no order key — those deletes are
stamped (newest expunge horizon − 1 µs, 2^62): below the horizon the
expunge precondition guarantees nothing can still arrive, so the stamp
beats exactly what the expunged tombstone beat and loses to every event
the source can still accept (a later legitimate re-insert replicates
instead of being blocked). Falls back to (source watermark, 2^62) — the
GDPR deletion-wins-ties convention — if metadata-log truncation dropped
every expunge snapshot.

Schema evolution: adds/widens on the source propagate automatically
(the apply's name-based evolution). A source-side RENAME does not — the
replica's field IDs are its own, so the feed's renamed column arrives as
a new name and evolution ADDS it (the old column stays, NULL from then
on). Mirror renames by calling ``dst.rename_column`` alongside the
source's — the next sync then lines up.

Reference parity: the reference's closest shape is the three-day
re-statement cascade that re-copies aggregate outputs between datasets
(DAG_external_source.py:132-224); a from-scratch engine gets true
incremental replication instead.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

from pyspark.sql import functions as F

from ..lake.table import LakeTable
from .apply import ApplyStats, apply_batch

_DELETE_LSN = 2**62  # deletion-wins-ties stamp, same as GDPR tombstones


@dataclass
class SyncStats:
    src_version: int
    mode: str  # "incremental" | "full" | "noop"
    apply: ApplyStats | None = None


def _source_tag(src: LakeTable) -> str:
    return f"replica:{src._meta['table_uuid']}"


def sync_replica(src: LakeTable, dst: LakeTable) -> SyncStats:
    """Bring ``dst`` up to date with ``src``. Idempotent per source
    version; safe to run on any schedule or after any crash."""
    src.refresh()
    dst.refresh()
    tag = _source_tag(src)
    last_v = dst.committed_epoch(tag)  # last synced src VERSION (-1 = never)
    cur_v = src.version
    if cur_v <= last_v:
        return SyncStats(src_version=cur_v, mode="noop")

    payload = src.schema().names()
    try:
        if last_v < 0:
            raise FileNotFoundError("never synced — full copy")
        feed = src.changes_between(last_v, cur_v, with_ordering=True)
        mode = "incremental"
    except FileNotFoundError:
        # source metadata for last_v vacuumed (or first sync): full resync.
        # Upserts only — replica keys deleted on the source stay deleted
        # IF their tombstones still exist (they ride snapshot_df's
        # absence + the replica's own earlier delete); a full resync
        # cannot observe expunged deletes, which is exactly the
        # tombstone-retention contract (expunge only beyond the horizon
        # every consumer has passed).
        snap = src.read_buckets(None, with_internal=True, fold=True)
        snap = snap.where(~F.coalesce(F.col("_tombstone"), F.lit(False)))
        feed = snap.select(
            *payload,
            F.lit("upsert").alias("_change_type"),
            F.col("_op_ts"),
            F.col("_lsn"),
        )
        mode = "full"

    # A delete whose tombstone was expunged before this sync observed it
    # arrives with NULL ordering. Stamp it 1 µs BELOW the newest expunge
    # horizon: the expunge precondition (no in-flight change below the
    # horizon can still arrive) then guarantees the stamp beats everything
    # the expunged tombstone legitimately beat — the replica's image of
    # the key predates that tombstone — while every event the source can
    # still accept (op_ts >= horizon) wins over it, so a later legitimate
    # re-insert replicates instead of being blocked forever (divergence
    # found by the test_property_replicate probe). Fall back to the
    # watermark (deletion-wins-ties, same as GDPR) only when no expunge
    # snapshot with a parseable horizon survives metadata-log truncation.
    newest = _newest_horizon(src.snapshots())
    if newest is not None:
        stamp = F.lit(newest - dt.timedelta(microseconds=1)).cast("timestamp")
    else:
        wm = src.watermark_any()
        stamp = (
            F.to_timestamp(F.lit(wm)) if wm else F.lit(None).cast("timestamp")
        )
    changes = feed.select(
        F.when(F.col("_change_type") == "delete", "D").otherwise("U").alias("op"),
        *payload,
        F.coalesce(F.col("_op_ts"), stamp).alias("op_ts"),
        F.coalesce(F.col("_lsn"), F.lit(_DELETE_LSN)).alias("lsn"),
    )
    stats = apply_batch(dst, changes, epoch=cur_v, source=tag)
    return SyncStats(src_version=cur_v, mode=mode, apply=stats)


def _newest_horizon(snapshots: list[dict]) -> dt.datetime | None:
    """Newest expunge horizon in the snapshot log, as a naive UTC
    datetime, or None when no expunge snapshot carries a parseable one.

    The horizon strings are whatever ``expunge_tombstones`` was handed
    (Spark's to_timestamp is laxer than fromisoformat), and distinct
    expunge snapshots may mix naive and tz-aware stamps. Each is parsed on
    its own and an unparseable one is skipped: one odd string must neither
    crash a sync nor discard the horizons that do parse."""
    parsed = []
    for s in snapshots:
        if s.get("kind") != "expunge" or "before_op_ts" not in s:
            continue
        try:
            d = dt.datetime.fromisoformat(str(s["before_op_ts"]))
        except (ValueError, TypeError):
            continue
        if d.tzinfo is not None:
            d = d.astimezone(dt.timezone.utc).replace(tzinfo=None)
        parsed.append(d)
    return max(parsed, default=None)


def create_replica(src: LakeTable, path: str) -> LakeTable:
    """Create an empty replica table with the source's schema and
    partitioning (buckets may differ on real deployments; here mirrored)."""
    return LakeTable.create(
        src.spark,
        path,
        src.schema().to_struct(),
        key_cols=src.key_cols,
        bucket_key=src.bucket_key,
        num_buckets=src.num_buckets,
        stats_col=src.stats_col,
    )
