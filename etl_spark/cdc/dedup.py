"""Last-writer-wins dedup over (op_ts, lsn) per (conv_id, turn_idx).

Reference semantics: ROW_NUMBER() OVER (PARTITION BY unique_id,
event_fingerprint ORDER BY collector_tstamp, enricher_tstamp, load_tstamp)
keep rank=1 (/root/reference/etl/dags/user_history/include/load/modules/
mod_load_data_get_data.sql:10-32) — here with DESC order so the *last*
writer wins, per the north rule.

Two physical strategies:

* ``lww_dedup`` (default) — a single hash aggregation
  ``max(struct(op_ts, lsn, payload...))`` per key. Struct comparison is
  lexicographic, and (op_ts, lsn) is a strict total order per key, so the
  max struct IS the last writer. This is the scale-correct plan: partial
  aggregation combines duplicates map-side **before** the shuffle, so a hot
  conv_id that appears 10^6 times in a batch ships at most
  (#map partitions) pre-combined rows — hot-key skew is absorbed without
  salting, and there is no per-partition sort at all.

* ``lww_dedup_window`` — the reference-shaped salted two-phase window
  (row_number per (key, salt) → re-rank winners), kept for parity and for
  callers that need the full ranked stream rather than just winners.
  Window functions get NO help from AQE skew handling; the salt bounds the
  largest sort partition.

Every strategy returns exactly one row per key (key + payload +
(op_ts, lsn, op)) BY DEFAULT — including on corrupt input where rows tie
on the full (op_ts, lsn) order with differing payloads, which every
strategy resolves to the same lexicographic-max winner (the narrow/join
strategies expose ``exact_ties=False`` to opt out of the tie collapse
when the caller prefers a cheaper verbatim-only dedup and read-time
re-resolution).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..lake.schema import quote

KEY = ["conv_id", "turn_idx"]
ORDER = ["op_ts", "lsn"]


def lww_dedup(
    changes: DataFrame,
    key: list[str] | None = None,
    order: list[str] | None = None,
    extra_aggs: dict[str, "F.Column"] | None = None,
) -> DataFrame:
    """One winner per key by max (op_ts, lsn) — aggregation strategy.

    Plan shape: HashAggregate(partial) -> Exchange(key) -> HashAggregate(final).
    Map-side combine collapses duplicate keys before the shuffle → robust to
    arbitrary key skew, no sort, no window.

    ``extra_aggs`` ride the same aggregation (e.g. per-key dup counts /
    lsn ranges for lineage) so callers never need a second scan of the log.
    """
    key = key or KEY
    order = order or ORDER
    payload = [c for c in changes.columns if c not in key and c not in order]
    # order columns lead the struct => lexicographic max == last writer.
    # SQL strings, not Column chains: this fold is on every read plan, and
    # a Column per field costs py4j round trips per column.
    packed = F.expr(f"max(struct({', '.join(map(quote, order + payload))})) AS _w")
    extras = [expr.alias(name) for name, expr in (extra_aggs or {}).items()]
    out = changes.groupBy(*key).agg(packed, *extras)
    return out.selectExpr(*map(quote, key), "_w.*", *map(quote, extra_aggs or {}))


# 2^64 — shift for packing (op_ts_us, lsn) into one DECIMAL(38,0).
# Max timestamp micros (year 9999) ≈ 2.9e17; 2.9e17 * 2^64 ≈ 5.4e36 < 1e38,
# so the packed order fits DECIMAL(38,0) with room to spare.
_PACK_SHIFT = 18446744073709551616


def pack_order(op_ts, lsn) -> "F.Column":
    """(op_ts, lsn) → one DECIMAL(38,0) preserving lexicographic order.

    Requires lsn ∈ [0, 2^63) — true for binlog/WAL sequence numbers.
    A fixed-width order key is what lets the max() aggregate run as a
    HashAggregate: max over a struct containing strings has an immutable
    aggregation buffer, which silently downgrades the whole dedup to
    SortAggregate (full sort of every batch, map AND reduce side).
    """
    lsn = F.col(lsn) if isinstance(lsn, str) else lsn
    # 2^64 exceeds a Java long — ship the shift as a SQL decimal literal
    shift = F.expr(f"CAST({_PACK_SHIFT} AS DECIMAL(38,0))")
    return F.unix_micros(op_ts).cast("decimal(38,0)") * shift + lsn


def lww_dedup_join(
    changes: DataFrame,
    key: list[str] | None = None,
    order: list[str] | None = None,
    extra_aggs: dict[str, "F.Column"] | None = None,
    exact_ties: bool = True,
) -> DataFrame:
    """One winner per key — hash-only two-phase strategy (no sorts).

    Phase 1: ``max(packed_order)`` per key — a NARROW HashAggregate
    (fixed-width decimal buffer, map-side partial combine, tiny shuffle).
    Phase 2: join the winners' (key, packed) back against the batch to
    recover the payload, then collapse bit-identical duplicates (same
    key AND same (op_ts, lsn) can only be verbatim re-sends) with a
    pure-grouping HashAggregate (grouping keys may be var-length; only
    aggregation buffers must be fixed-width).

    Compared to ``lww_dedup`` (max-struct), this trades one extra narrow
    shuffle for eliminating BOTH full-row sorts — wins when rows are wide
    (transcript text) and dup factor is modest.

    The join-back is hinted SHUFFLE_HASH: without it Spark picks
    sort-merge and re-introduces exactly the two wide-row sorts this
    strategy exists to avoid (measured on a 40M-row epoch: sort-merge
    17.4 s vs shuffle-hash 9.5-11.1 s vs max-struct 13.5 s warm). The
    hash build side is the NARROW winners relation, bounded per
    partition by winners/partitions; when the winner set is small
    enough, AQE upgrades the exchange to a runtime broadcast (measured
    8.6 s) — set spark.sql.adaptive.autoBroadcastJoinThreshold to taste.

    Measured NEGATIVE at the full-pipeline level: inside apply_batch
    (align → observe → exchange-by-bucket → parquet write) the two
    strategies land at parity (11.1-11.6 s for the same 40M-event epoch,
    interleaved same-session A/B, byte-identical final state) — the
    isolated dedup win is absorbed by downstream stages. apply keeps the
    simpler max-struct plan; this strategy remains for wide-row callers
    whose pipeline IS the dedup.
    """
    key = key or KEY
    order = order or ORDER
    assert order == ORDER, "join strategy packs (op_ts, lsn) specifically"
    packed = changes.withColumn("_ord", pack_order(F.col("op_ts"), F.col("lsn")))
    aggs = [F.max("_ord").alias("_win")] + [
        expr.alias(name) for name, expr in (extra_aggs or {}).items()
    ]
    wins = packed.groupBy(*key).agg(*aggs)
    joined = packed.join(wins.hint("shuffle_hash"), key, "inner").where(
        F.col("_ord") == F.col("_win")
    )
    out = joined.drop("_ord", "_win")
    if exact_ties:
        # strict one-row-per-key default (same contract as lww_dedup_narrow):
        # lexicographic max-struct over the winner rows resolves corrupt
        # (op_ts, lsn)-tied payload variants identically to lww_dedup
        payload = [c for c in changes.columns if c not in key]
        extras = list(extra_aggs or {})
        non_key = (
            order + [c for c in payload if c not in order and c not in extras]
            + extras
        )
        return (
            out.groupBy(*key)
            .agg(F.max(F.struct(*[F.col(c) for c in non_key])).alias("_w"))
            .select(*key, *[F.col(f"_w.{c}").alias(c) for c in non_key])
        )
    # opt-out: verbatim duplicates only — dedup on ALL columns, which is a
    # pure-grouping HashAggregate (a subset-dropDuplicates would add
    # First() buffers over strings and fall back to SortAggregate); tied
    # corrupt variants all survive
    return out.dropDuplicates()


def lww_dedup_narrow(
    changes: DataFrame,
    key: list[str] | None = None,
    order: list[str] | None = None,
    extra_aggs: dict[str, "F.Column"] | None = None,
    winners_join: str = "broadcast",
    observe: tuple | None = None,
    exact_ties: bool = True,
) -> DataFrame:
    """One winner per key — two-scan, zero-wide-shuffle strategy.

    The batch is scanned twice, but the first scan is COLUMN-PRUNED to
    just (key, op_ts, lsn) — for transcript rows the payload (text) is
    ~95% of the bytes, so scan #1 reads ~5% of the batch:

      1. narrow winner agg: ``max(pack_order)`` per key over only the key
         and order columns — fixed-width DECIMAL buffer, map-side partial
         combine, narrow shuffle. ``extra_aggs`` (lineage counters) ride
         here and may reference ONLY key/order columns.
      2. full-width scan joined against the winners (``winners_join`` =
         ``broadcast`` or ``shuffle_hash``): non-winner rows drop at the
         join, so the batch's wide rows are NEVER shuffled by key at all.
      3. verbatim re-sends (bit-identical rows: same key AND same
         (op_ts, lsn) — at-least-once delivery inside one batch) collapse
         with a pure-grouping ``dropDuplicates`` over the winners only —
         a hash aggregate with no buffer, shuffling ~one row per key.

    Compared to ``lww_dedup`` (max-struct agg), which shuffles every
    pre-combined wide row by key AND allocates a full-row struct buffer
    per update: when the duplicate factor per map partition is low (dups
    spread across many input files — the steady state of a sharded
    binlog), map-side combine saves little, so max-struct moves ~the whole
    batch's text through shuffle memory. This strategy moves the text
    through nothing but the scan and the final bucket exchange.

    ``winners_join``: ``broadcast`` when the per-batch winner set fits the
    executors (keys × ~40 B; 10^7 keys ≈ 400 MB — switch below that), else
    ``shuffle_hash`` (narrow build side, wide probe side streams; still no
    wide aggregation buffers anywhere).

    ``extra_aggs`` (per-key lineage counters) ride the phase-1 agg and the
    join, widening the broadcast. When the caller only needs GLOBAL
    reductions of them (the apply path: sums/mins over the whole batch),
    pass ``observe=(Observation, [agg_col, ...])`` instead — the
    aggregates are observed during the phase-1 scan and the broadcast
    stays at ``(key, _win)``, the smallest possible driver round-trip.

    Tie contract (``exact_ties``, DEFAULT True): the final collapse is
    the same lexicographic max-struct as ``lww_dedup`` — exactly one row
    per key, byte-equal to the agg strategy even when rows tie on the
    full (op_ts, lsn) order with DIFFERING payloads. Such rows are
    CORRUPT input under the WAL contract (an lsn is a log sequence
    number — unique per key by construction), but the strict contract
    holds by default anyway so delta contents and ``winners`` lineage
    never depend on which physical strategy the dispatcher picked
    (round-5 hardening; reference analogue: the strict 3-level tie-break
    in mod_load_data_get_data.sql:16). Cost: a var-length aggregation
    buffer (SortAggregate) over the WINNER rows only — input is already
    ~1 row per key. Under a ``shuffle_hash`` winners join the join
    output is already partitioned by key, so the exact collapse reuses
    that exchange; under ``broadcast`` it costs the same one winner
    shuffle the opt-out dropDuplicates pays anyway (measured at the
    16M-event/320k-key point, local[32], interleaved A/B min-of-3:
    3.94 s opt-out vs 4.06 s strict — ~3%, inside the reps' overlap;
    see BASELINE.md round-5 tie-contract note).
    ``exact_ties=False`` opts out: a pure-grouping ``dropDuplicates``
    over ALL columns that only merges bit-identical re-sends — tied
    corrupt variants then ALL survive (>1 row per key) and a read-time
    LWW fold re-resolves them deterministically.
    """
    key = key or KEY
    order = order or ORDER
    assert order == ORDER, "narrow strategy packs (op_ts, lsn) specifically"
    ord_col = pack_order(F.col("op_ts"), F.col("lsn"))
    payload = [c for c in changes.columns if c not in key]
    extras = list(extra_aggs or {})
    narrow = changes.select(*key, *order)  # column pruning reaches the scan
    # Right-size the phase-1 map tasks: the narrow scan inherits the FULL-
    # WIDTH split planning (maxPartitionBytes against text-dominated files),
    # so its tasks are tiny and map-side combine barely combines — with
    # per-task rows ≈ batch keys, partial agg emits ~(tasks × keys) rows
    # (measured: 128 splits × 2.5M rows over 1.6M keys → 205M combined rows,
    # a 3.2 GB shuffle). Coalescing to 2×cores multiplies per-task dup
    # factor by splits/(2×cores) at identical scan bytes; the per-task hash
    # map stays bounded by the batch's key count. coalesce (not repartition):
    # a merge of co-planned splits, no shuffle, and at cluster scale
    # 2×total-cores is exactly the wave shape you want for an agg that
    # reduces 100:1.
    try:
        cores = changes.sparkSession.sparkContext.defaultParallelism
        narrow = narrow.coalesce(max(2 * cores, 1))
    except Exception:  # pragma: no cover - session without a live context
        pass
    if observe is not None:
        obs, agg_cols = observe
        narrow = narrow.observe(obs, *agg_cols)
    wins = narrow.groupBy(*key).agg(
        F.max(ord_col).alias("_win"),
        *[expr.alias(name) for name, expr in (extra_aggs or {}).items()],
    )
    if winners_join:
        wins = wins.hint(winners_join)
    out = (
        changes.withColumn("_ord", ord_col)
        .join(wins, on=list(key), how="inner")
        .where(F.col("_ord") == F.col("_win"))
        .drop("_ord", "_win")
    )
    if exact_ties:
        # same winner as lww_dedup on (op_ts, lsn) ties: lexicographic
        # max over (order, payload) — input is already ~1 row per key.
        # extra_aggs columns are key-constant (joined from phase 1), so
        # riding the struct can't change the winner.
        non_key = order + [c for c in payload if c not in order] + extras
        out = (
            out.groupBy(*key)
            .agg(F.max(F.struct(*[F.col(c) for c in non_key])).alias("_w"))
            .select(*key, *[F.col(f"_w.{c}").alias(c) for c in non_key])
        )
    else:
        out = out.dropDuplicates()  # pure-grouping hash agg over winners only
    return out.select(
        *key,
        *order,
        *[c for c in payload if c not in order],
        *extras,
    )


def lww_dedup_window(
    changes: DataFrame,
    key: list[str] | None = None,
    order: list[str] | None = None,
    salt_buckets: int = 32,
) -> DataFrame:
    """One winner per key — salted two-phase window strategy.

    Phase 1: row_number over (key, salt) keeps one candidate per salt
    bucket (each sort partition bounded to ~1/salt_buckets of the hottest
    key). Phase 2: re-rank the ≤salt_buckets candidates per key globally.

    Tie contract: the sort order appends the payload columns DESC after
    (op_ts, lsn), so corrupt input that ties on the full order with
    differing payloads resolves to the SAME single lexicographic-max
    winner as every other strategy (a bare row_number over the order
    columns would pick an arbitrary tied variant per run). Spark's
    ``desc`` is NULLS LAST, matching max-struct's null-is-smallest
    field comparison; tied rows hash to the same salt (the salt keys on
    the order columns), so both phases see every tied variant together.
    """
    key = key or KEY
    order = order or ORDER
    payload = [c for c in changes.columns if c not in key and c not in order]
    desc = [F.col(c).desc() for c in order] + [F.col(c).desc() for c in payload]
    salted = changes.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in order]), F.lit(salt_buckets))
    )
    w1 = Window.partitionBy(*key, "_salt").orderBy(*desc)
    cand = salted.withColumn("_rn", F.row_number().over(w1)).where(F.col("_rn") == 1).drop("_rn")
    w2 = Window.partitionBy(*key).orderBy(*desc)
    return (
        cand.withColumn("_rn", F.row_number().over(w2))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_salt")
    )
