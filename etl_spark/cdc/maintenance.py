"""Maintenance operations on a LakeTable: GDPR-style deletes and
tombstone retention.

Reference analogues: the GDPR delete-request transaction
(/root/reference/etl/dags/user_history/include/gdpr/
gdpr_delete_request.sql:6-68 — semi-join targets, transactional delete)
and delete-inactive (gdpr_delete_inactive.sql:7-73). In the engine both
become ordinary delta commits: idempotent (epoch-fenced per request id),
atomic (one metadata swap), and replayable.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..lake.table import LakeTable

# A delete request must beat every change already applied, while still
# being overridable by genuinely newer traffic. Tombstones are stamped at
# (current watermark, max applied lsn of the doomed keys + 1): they defeat
# everything applied so far, but a legitimate future change whose op_ts
# EQUALS the watermark and carries a higher lsn (common with
# coarse-granularity op_ts sources) still wins and re-creates the key —
# deletion does NOT swallow equal-op_ts later-lsn traffic. Fallback when
# no doomed rows exist (nothing to beat).
_REQUEST_LSN_FALLBACK = 1


def delete_conversations(
    table: LakeTable,
    conv_ids: list[str],
    request_id: int,
    source: str = "gdpr",
) -> int | None:
    """Tombstone every turn of the given conversations (GDPR erasure).

    Exactly-once per (source, request_id): replaying a crashed request is
    fenced exactly like a CDC epoch. Only the buckets holding the target
    conversations are read (bucket pruning) and only tombstone rows are
    written (O(deleted keys), not O(table)). The tombstones carry
    ``op_ts = current watermark`` and ``lsn = max applied lsn of the
    doomed keys + 1``, so they defeat everything already applied while
    post-deletion traffic at newer op_ts — or at the SAME op_ts with a
    higher lsn — re-creates keys (CDC semantics — the stream owns the
    truth; deletion never swallows genuinely newer changes).
    Returns the snapshot id, or None if fenced (already applied).

    Contract boundaries: erasure covers keys PRESENT at request time. A
    sub-watermark late event for a key the conversation never showed
    (e.g. a straggling turn 6 when turns 0-5 were erased) will insert —
    like the reference, erasure requests are re-issuable (new
    request_id) and retention jobs run periodically. Physical bytes
    disappear at ``expunge_tombstones`` + ``LakeTable.vacuum``.
    """
    table.refresh()
    if request_id <= table.committed_epoch(source):
        return None
    if not conv_ids:
        # complete by vacuity — but the request_id must still be FENCED
        # (a zero-file delta commit), or an orchestrator whose batch
        # filtered down to nothing retries the "failed" request forever
        return table.commit_delta(
            request_id, source, table.new_data_rel("delta"), [],
            stats={"kind": "gdpr_delete", "conv_ids": 0},
        )
    spark = table.spark
    ids = spark.createDataFrame([(c,) for c in conv_ids], ["conv_id"])
    buckets = sorted({table.bucket_of(c) for c in conv_ids})
    wm = table.watermark_any() or "1970-01-01 00:00:00"
    current = table.read_buckets(buckets, with_internal=True, fold=True)
    doomed = current.join(F.broadcast(ids), "conv_id", "left_semi")
    max_lsn = doomed.agg(F.max("_lsn")).first()[0]
    tomb_lsn = (int(max_lsn) + 1) if max_lsn is not None else _REQUEST_LSN_FALLBACK
    schema = table.schema()
    key_cols = set(table.key_cols)
    # erase the payload, keep key + event time: ts is retention/bookkeeping
    # metadata (not user content) and keeping it preserves the file-set
    # time stats that drive window pruning — a tombstone with NULL event
    # time would force every windowed read to scan its file set forever
    keep_cols = key_cols | ({table.stats_col} if table.stats_col else set())
    tomb = doomed.select(
        *[
            F.col(f.name) if f.name in keep_cols
            else F.lit(None).cast(f.type).alias(f.name)
            for f in schema.fields
        ],
        F.to_timestamp(F.lit(wm)).alias("_op_ts"),
        F.lit(tomb_lsn).cast("long").alias("_lsn"),
        F.lit(True).alias("_tombstone"),
        F.col("_bucket"),
    )
    rel = table.write_files(tomb, table.new_data_rel("delta"))
    return table.commit_delta(
        request_id, source, rel, buckets,
        stats={"kind": "gdpr_delete", "conv_ids": len(conv_ids)},
    )


def expunge_tombstones(table: LakeTable, before_op_ts: str) -> int | None:
    """Physically remove tombstones older than ``before_op_ts`` (retention
    horizon). Safe once no in-flight change below the horizon can still
    arrive (operator-chosen, e.g. watermark minus the max allowed
    lateness). Rewrites only buckets that actually hold old tombstones.
    Superseded files stop being REFERENCED here; they stop EXISTING after
    ``LakeTable.vacuum`` (delete → expunge → vacuum is the full GDPR
    path).
    """
    table.refresh()
    old_tomb = F.coalesce(F.col("_tombstone"), F.lit(False)) & (
        F.col("_op_ts") < F.to_timestamp(F.lit(before_op_ts))
    )
    # dirty detection on the RAW (unfolded) files: a plain filter scan with
    # no shuffle — may over-select a bucket whose old tombstone was since
    # superseded, which only costs a harmless rewrite of that bucket
    raw = table.read_buckets(None, with_internal=True, fold=False)
    dirty = sorted(
        r["_bucket"]
        for r in raw.where(old_tomb).select("_bucket").distinct().collect()
    )
    if not dirty:
        return None
    kept = table.read_buckets(dirty, with_internal=True, fold=True).where(~old_tomb)
    rel = table.new_data_rel("base")
    table.write_files(kept, rel)
    return table.commit_rebase(
        dirty, rel, kind="expunge", extra={"before_op_ts": before_op_ts}
    )


def _dml_targets(table: LakeTable, predicate: str):
    """Resolve a SQL predicate against the LIVE snapshot: the folded,
    tombstone-filtered rows it matches, the buckets they live in, and the
    (watermark, lsn) stamp a resulting DML delta must carry to beat every
    change applied so far (same stamping contract as GDPR deletes —
    genuinely newer stream traffic still wins)."""
    matched = (
        table.read_buckets(None, with_internal=True, fold=True)
        .where(~F.coalesce(F.col("_tombstone"), F.lit(False)))
        .where(F.expr(predicate))
    )
    wm = table.watermark_any() or "1970-01-01 00:00:00"
    agg = matched.agg(
        F.max("_lsn").alias("mx"),
        F.collect_set("_bucket").alias("bks"),
    ).first()
    max_lsn, buckets = agg["mx"], sorted(int(b) for b in (agg["bks"] or []))
    stamp_lsn = (int(max_lsn) + 1) if max_lsn is not None else _REQUEST_LSN_FALLBACK
    return matched, buckets, wm, stamp_lsn


def delete_where(
    table: LakeTable,
    predicate: str,
    request_id: int,
    source: str = "dml",
) -> int | None:
    """Row-level ``DELETE FROM t WHERE <predicate>`` as a delta commit
    (reference analogue: the delete leg of the delete+insert day
    re-statement, insert_user_history.sql:301-311 — generalized to any
    predicate).

    Same physics as a CDC delete: the matched keys get tombstones in a
    delta file set (O(matched), never a base rewrite), stamped to beat
    everything applied so far while losing to genuinely newer stream
    traffic. Exactly-once per (source, request_id); bytes disappear at
    expunge + vacuum. Returns the snapshot id, None if fenced, and 0
    matched rows commit an empty (fencing-only) delta so replaying the
    request stays a no-op.
    """
    table.refresh()
    if request_id <= table.committed_epoch(source):
        return None
    matched, buckets, wm, stamp_lsn = _dml_targets(table, predicate)
    schema = table.schema()
    keep_cols = set(table.key_cols) | (
        {table.stats_col} if table.stats_col else set()
    )
    tomb = matched.select(
        *[
            F.col(f.name) if f.name in keep_cols
            else F.lit(None).cast(f.type).alias(f.name)
            for f in schema.fields
        ],
        F.to_timestamp(F.lit(wm)).alias("_op_ts"),
        F.lit(stamp_lsn).cast("long").alias("_lsn"),
        F.lit(True).alias("_tombstone"),
        F.col("_bucket"),
    )
    rel = table.write_files(tomb, table.new_data_rel("delta")) if buckets else ""
    return table.commit_delta(
        request_id, source, rel, buckets,
        stats={"kind": "delete_where", "predicate": predicate},
    )


def update_where(
    table: LakeTable,
    set_exprs: dict[str, str],
    predicate: str,
    request_id: int,
    source: str = "dml",
) -> int | None:
    """Row-level ``UPDATE t SET col = expr, ... WHERE <predicate>`` as a
    delta commit (reference analogue: the targeted UPDATE legs of
    appsflyer/update_user_map.sql:208-269's MERGE).

    New row images (matched rows with the SET expressions applied) are
    appended as a delta and win the LWW fold by the same stamping
    contract as ``delete_where``; nothing is rewritten in place. SET
    expressions may reference any payload column of the pre-image. Key
    columns cannot be SET (that is a delete+insert, not an update), and
    the event-time stats column cannot be SET when time pruning is
    enabled (file-skipping stats must stay truthful).
    """
    table.refresh()
    if request_id <= table.committed_epoch(source):
        return None
    schema = table.schema()
    names = set(schema.names())
    forbidden = set(table.key_cols) | (
        {table.stats_col} if table.stats_col else set()
    )
    for c in set_exprs:
        if c not in names:
            raise ValueError(f"SET column {c!r} not in table schema")
        if c in forbidden:
            raise ValueError(
                f"SET column {c!r} is a key/event-time column — "
                "delete+insert instead"
            )
    matched, buckets, wm, stamp_lsn = _dml_targets(table, predicate)
    images = matched.select(
        *[
            F.expr(set_exprs[f.name]).cast(f.type).alias(f.name)
            if f.name in set_exprs
            else F.col(f.name)
            for f in schema.fields
        ],
        F.to_timestamp(F.lit(wm)).alias("_op_ts"),
        F.lit(stamp_lsn).cast("long").alias("_lsn"),
        F.lit(False).alias("_tombstone"),
        F.col("_bucket"),
    )
    rel = table.write_files(images, table.new_data_rel("delta")) if buckets else ""
    return table.commit_delta(
        request_id, source, rel, buckets,
        stats={"kind": "update_where", "predicate": predicate,
               "set": sorted(set_exprs)},
    )
