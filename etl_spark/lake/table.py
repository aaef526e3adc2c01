"""LakeTable — a minimal Iceberg-style versioned table on parquet.

The sandbox image has no Iceberg/Delta jars, so the engine carries its own
lightweight ACID table format with exactly the properties the north rule
needs, built only on parquet + atomic metadata swaps:

  * **Snapshot isolation / atomic commits** — every commit writes a new
    immutable metadata file ``_meta/v{N}.json`` via write-temp-then-rename
    (atomic on POSIX), then flips ``_meta/version-hint.text``. Readers
    resolve the hint; a crash mid-commit leaves the previous version live
    and at worst an orphan data directory that no metadata references.
  * **Snapshot IDs + commit-epoch fencing** — metadata records, per source,
    the highest committed epoch (micro-batch id). Replayed epochs after a
    crash/restart are detected and skipped: the exactly-once sink
    (reference skip-guard: /root/reference/etl/dags/user_history/include/
    load/modules/mod_load_data_declare.sql:30-36; anti-join insert:
    mod_data_insert.sql:2-7).
  * **Merge-on-read deltas + auto-compaction** — data lives per bucket as
    one *base* file set plus a list of *delta* file sets (one per commit
    that touched the bucket). A CDC apply writes ONLY the batch winners as
    deltas (write amplification = O(batch), never O(table)); readers fold
    base ∪ deltas with the same LWW ``max(struct(order, payload))``
    aggregation the dedup path uses, so the visible state is always the
    argmax over ``(_op_ts, _lsn)`` per key. When a bucket accumulates more
    than ``compact_threshold`` deltas it is compacted (fold → new base) in
    a separate maintenance commit — read cost stays bounded while write
    cost stays proportional to the batch. At 100 TB this is the difference
    between an upsert engine and a table-rewrite-per-batch job.
  * **Tombstones** — deletes are rows with ``_tombstone=true``. They are
    retained through compaction (a late, older update must not resurrect a
    deleted key) and filtered only in ``snapshot_df``.
  * **Field-ID schema evolution** — see ``lake.schema``; each data
    directory records the schema version it was written with, and reads
    align every directory to the current schema (schema-on-read), so
    int→long widening never rewrites history.

Single-writer per table (like the reference's ``max_active_runs=1``,
/root/reference/etl/dags/user_history/DAG_user_history.py:45-51);
concurrent committers are detected by the version-file existence check.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .metastore import (  # noqa: F401 — _atomic_write_text re-exported
    ConcurrentCommitError,
    MetadataStore,
    PosixMetadataStore,
    _atomic_write_text,
    _fsync_dir,
)
from .schema import TableSchema, align, project_written, quote

META_DIR = "_meta"
HINT = "version-hint.text"

# distinguishes "cached None" (stats unavailable) from "not cached yet"
_MISSING = object()

# Engine-internal columns stored alongside the payload in every data file.
INTERNAL_COLS = ["_op_ts", "_lsn", "_tombstone", "_bucket"]
_INTERNAL_TYPES = {
    "_op_ts": T.TimestampType(),
    "_lsn": T.LongType(),
    "_tombstone": T.BooleanType(),
    "_bucket": T.IntegerType(),
}
# Filter keeping the rows of a folded read that are not tombstones.
_LIVE = "NOT coalesce(_tombstone, false)"
ORDER_COLS = ["_op_ts", "_lsn"]

# -- driver-side bucket hash ----------------------------------------------------
# Spark's ``xxhash64`` (seed 42) is standard XXH64 over the value's bytes:
# a string hashes its UTF-8 bytes, an int its 4 little-endian bytes, a
# bigint its 8, and NULL leaves the seed untouched. Evaluating it here
# instead of in a one-row DataFrame saves two Spark jobs per point lookup.
_M64 = (1 << 64) - 1
_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5
_HASH_SEED = 42


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def _xxh64(data: bytes, seed: int) -> int:
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed, (seed - _P1) & _M64]
        while i + 32 <= n:
            for j in range(4):
                v[j] = _round(v[j], int.from_bytes(data[i + 8 * j:i + 8 * j + 8], "little"))
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= int.from_bytes(data[i:i + 4], "little") * _P1 & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    for b in data[i:]:
        h ^= b * _P5 & _M64
        h = _rotl(h, 11) * _P1 & _M64
    h = (h ^ (h >> 33)) * _P2 & _M64
    h = (h ^ (h >> 29)) * _P3 & _M64
    return h ^ (h >> 32)


_INT_WIDTH = {"int": 4, "bigint": 8}


def bucket_of(value, key_type: str, num_buckets: int) -> int:
    """``pmod(xxhash64(value), num_buckets)`` computed on the driver —
    bit-identical to ``LakeTable.bucket_expr`` for a bucket key of Spark
    type ``key_type`` (``string``, ``int`` or ``bigint``)."""
    if value is None:
        h = _HASH_SEED
    elif key_type == "string":
        if not isinstance(value, str):
            raise TypeError(f"string bucket key needs a str, got {value!r}")
        h = _xxh64(value.encode("utf-8"), _HASH_SEED)
    elif key_type in _INT_WIDTH:
        width = _INT_WIDTH[key_type]
        if not isinstance(value, int) or isinstance(value, bool):
            raise TypeError(f"{key_type} bucket key needs an int, got {value!r}")
        try:
            data = value.to_bytes(width, "little", signed=True)
        except OverflowError:
            raise ValueError(f"{value} does not fit a {key_type} bucket key") from None
        h = _xxh64(data, _HASH_SEED)
    else:
        raise TypeError(
            f"driver-side bucket hash supports string/int/bigint bucket keys, "
            f"not {key_type!r}"
        )
    # Spark's xxhash64 is a signed long; Python's % with a positive
    # modulus already matches pmod
    signed = h - (1 << 64) if h >> 63 else h
    return signed % int(num_buckets)


# ConcurrentCommitError lives in metastore (the backend raises it from the
# version reservation); re-exported here so callers keep importing it from
# lake.table alongside its semantic subclasses below.


class CommitConflictError(ConcurrentCommitError):
    """A concurrent commit semantically conflicts with this one (same
    buckets rebased, or history needed to prove disjointness was
    truncated). The operation must be RECOMPUTED against the new table
    state, not blindly retried — e.g. re-run ``compact()`` so the fold
    includes the concurrent delta."""


class EpochFencedError(ConcurrentCommitError):
    """A concurrent writer committed this (source, epoch) first. The losing
    apply is a duplicate of work already done — callers treat it exactly
    like the pre-checked fence (skip, nothing to do)."""


class LakeTable:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        at_version: int | None = None,
        store: MetadataStore | None = None,
    ):
        self.spark = spark
        self.path = path.rstrip("/")
        # commit-protocol backend (see lake.metastore): POSIX by default;
        # object-store/catalog backends plug in here without touching any
        # commit logic
        self._store = store or PosixMetadataStore(
            os.path.join(self.path, META_DIR)
        )
        # Time travel: pin all reads to metadata version ``at_version``
        # (Iceberg ``VERSION AS OF``). A pinned table is read-only; write
        # paths are inherently fenced anyway (committing v+1 when v+1
        # already exists raises ConcurrentCommitError) but we fail earlier
        # with a clear message.
        self._pinned = at_version is not None
        # footer-stats cache: data dirs are immutable (uuid-suffixed per
        # write attempt), so stats never need re-reading; keyed by rel dir
        self._ts_stats_cache: dict[str, dict | None] = {}
        self._meta = self._load_meta(at_version)

    # -- creation / metadata ------------------------------------------------

    @staticmethod
    def create(
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        key_cols: list[str] | None = None,
        bucket_key: str = "conv_id",
        num_buckets: int = 16,
        compact_threshold: int = 8,
        if_not_exists: bool = False,
        stats_col: str | None = "ts",
        write_width: int = 1,
        store: MetadataStore | None = None,
    ) -> "LakeTable":
        store = store or PosixMetadataStore(os.path.join(path, META_DIR))
        if store.read_hint() is not None:
            if if_not_exists:
                return LakeTable(spark, path, store=store)
            raise FileExistsError(f"table already exists at {path}")
        ts = TableSchema.from_struct(schema)
        meta = {
            "format_version": 2,
            "table_uuid": str(uuid.uuid4()),
            "version": 0,
            "current_snapshot_id": 0,
            "partition": {
                "bucket_key": bucket_key,
                "num_buckets": num_buckets,
                "key_cols": key_cols or ["conv_id", "turn_idx"],
                "compact_threshold": compact_threshold,
                "stats_col": stats_col,
                "write_width": int(write_width),
            },
            "schemas": {"0": ts.to_json()},
            "current_schema_version": 0,
            "snapshots": [],
            "committed_epochs": {},
            # bucket(str) -> {"base": [entry,...]|None, "deltas": [entry,...]}
            # where entry = {"path": rel_dir (a _bucket=K or _bucket=K/_day=D
            # leaf), "schema_version": int, "ts_stats": {min,max,nulls,rows}|None}
            "files": {},
        }
        try:
            store.publish_json(0, meta)
        except ConcurrentCommitError:
            # lost the v0 reservation to a racing creator — the table now
            # exists; under if_not_exists that is success, not failure
            # (the read_hint() pre-check above is advisory only: two
            # creators can both see None before either publishes)
            if if_not_exists:
                # v0 is published but the winner may not have flipped the
                # hint yet — write it ourselves so the re-open below never
                # sees "no table". The hint is advisory (metastore contract
                # property 5): a duplicate or even regressed hint write is
                # healed by _load_meta's probe-forward.
                if store.read_hint() is None:
                    store.write_hint(0)
                return LakeTable(spark, path, store=store)
            raise FileExistsError(f"table already exists at {path}")
        store.write_hint(0)
        return LakeTable(spark, path, store=store)

    @staticmethod
    def exists(path: str, store: MetadataStore | None = None) -> bool:
        store = store or PosixMetadataStore(os.path.join(path, META_DIR))
        return store.read_hint() is not None

    def _load_meta(self, at_version: int | None = None) -> dict:
        if at_version is None:
            v = self._store.read_hint()
            if v is None:
                raise FileNotFoundError(f"no table at {self.path}")
            # the hint is advisory (metastore contract property 5): a
            # hint write lost after a successful version publish must not
            # wedge readers on stale metadata — probe forward to the true
            # latest (one extra exists-check in the common in-sync case)
            while self._store.version_exists(v + 1):
                v += 1
        else:
            v = int(at_version)
        try:
            return self._store.read_json(v)
        except FileNotFoundError:
            raise FileNotFoundError(
                f"metadata version {v} not found under {self.path}"
                + (" (expired by vacuum?)" if at_version is not None else "")
            )

    def refresh(self) -> None:
        if self._pinned:
            return  # time-travel reader stays pinned
        self._meta = self._load_meta()

    def as_of(self, version: int) -> "LakeTable":
        """Time-travel reader: the table as of metadata ``version``
        (Iceberg ``VERSION AS OF``). Every read API (``snapshot_df``,
        ``read_buckets``, ``lookup``, ``plan_file_sets``) resolves against
        that version's file sets and schema; writes raise. Versions live
        until ``vacuum`` retires them (``keep_meta_versions``) — a pruned
        version raises FileNotFoundError with an expiry hint."""
        return LakeTable(self.spark, self.path, at_version=version)

    @property
    def version(self) -> int:
        return self._meta["version"]

    @property
    def current_snapshot_id(self) -> int:
        return self._meta["current_snapshot_id"]

    @property
    def num_buckets(self) -> int:
        return self._meta["partition"]["num_buckets"]

    @property
    def bucket_key(self) -> str:
        return self._meta["partition"]["bucket_key"]

    @property
    def key_cols(self) -> list[str]:
        return list(self._meta["partition"]["key_cols"])

    @property
    def compact_threshold(self) -> int:
        return int(self._meta["partition"].get("compact_threshold", 8))

    @property
    def write_width(self) -> int:
        """Writer tasks PER BUCKET (default 1). Bucket count is a data-
        layout choice (read amplification, metadata size); write_width
        decouples write parallelism from it: a 1000-executor cluster
        ingesting into 64 buckets sets width so buckets*width ~ cores,
        and each (bucket, day) leaf gets at most `width` part files per
        write instead of one unbounded file from one unbounded task."""
        return int(self._meta["partition"].get("write_width", 1))

    @property
    def stats_col(self) -> str | None:
        """Event-time column tracked with per-file-set min/max stats (the
        time dimension for partition pruning). Defaults to ``ts`` when the
        schema has it. The pruning contract assumes event time is STABLE
        per key across updates (the reference's ``date_`` partition has
        the same property: date_ is derived from collector_tstamp and
        never restated — e.g. insert_user_history.sql:57,130)."""
        col = self._meta["partition"].get("stats_col", "ts")
        return col if col in self.schema().names() else None

    def schema(self) -> TableSchema:
        return TableSchema.from_json(
            self._meta["schemas"][str(self._meta["current_schema_version"])]
        )

    def written_schema(self, schema_version: int) -> TableSchema:
        """The schema a file set was written under (schema-on-read input)."""
        return TableSchema.from_json(self._meta["schemas"][str(schema_version)])

    def snapshots(self) -> list[dict]:
        return list(self._meta["snapshots"])

    def committed_epoch(self, source: str = "default") -> int:
        return int(self._meta["committed_epochs"].get(source, -1))

    def last_delta_stats(self, source: str = "default") -> dict | None:
        """Stats dict of this source's most recent delta commit (winners,
        rows_in, ...) — the stream's per-epoch evidence that the dedup
        dispatch uses to estimate the next batch's distinct-key count.
        Driver-side metadata scan, newest first."""
        for snap in reversed(self._meta["snapshots"]):
            if snap.get("kind") == "delta" and snap.get("source") == source:
                return snap.get("stats") or None
        return None

    def watermark(self, source: str = "default") -> str | None:
        """High-water mark: max op_ts committed for this source (ISO
        string, monotone). Events below it in later batches are LATE —
        flagged in lineage, never dropped (reference semantics:
        /root/reference/etl/dags/user_history/include/load/load_data.sql:10)."""
        return self._meta.get("watermarks", {}).get(source)

    @staticmethod
    def _base_entries(slot: dict) -> list[dict]:
        """Base file sets of a bucket slot as a list (a base spans one
        entry per ``_day`` leaf; pre-day-layout metadata stored a single
        dict — normalize both shapes)."""
        base = slot.get("base")
        if not base:
            return []
        return base if isinstance(base, list) else [base]

    def delta_counts(self) -> dict[int, int]:
        """Outstanding delta COMMITS per bucket (the compaction trigger).
        A single commit contributes one entry per day leaf; count distinct
        commit directories, not leaves, so multi-day batches don't trip
        compaction early."""
        return {
            int(b): len({d["path"].split("/_bucket=")[0] for d in e["deltas"]})
            for b, e in self._meta["files"].items()
        }

    # -- file statistics (time dimension) -------------------------------------

    def _dir_ts_stats(self, rel_dir: str) -> dict | None:
        """Footer-only min/max/null stats of ``stats_col`` for one
        ``_bucket=K`` directory — zero data read (the parquet footers
        already carry per-row-group statistics; this is the manifest-stats
        idea from the Iceberg spec, collected driver-side).

        Returns ``{"min": iso, "max": iso, "nulls": int, "rows": int}``,
        or None when the column/stats are unavailable (the file set is
        then never pruned — correctness beats pruning).

        Driver-side footer reads are O(files in ONE commit) — the delta
        write repartitions to one file per bucket, so a commit touches at
        most num_buckets footers. A multi-executor deployment at larger
        file counts would lift this into tasks (Iceberg collects the same
        stats in the writer); the metadata shape is identical either way.

        Results are cached per directory (data directories are immutable
        — every write attempt targets a fresh uuid-suffixed path, see
        ``new_data_rel``) so a rebased commit retry never re-reads
        footers, and ``_prefetch_ts_stats`` can warm the cache for a whole
        commit's leaves with a thread pool instead of one-at-a-time serial
        reads (pyarrow footer parsing releases the GIL).
        """
        cached = self._ts_stats_cache.get(rel_dir, _MISSING)
        if cached is not _MISSING:
            return cached
        out = self._dir_ts_stats_uncached(rel_dir)
        self._ts_stats_cache[rel_dir] = out
        return out

    def _prefetch_ts_stats(self, leaf_dirs: list[str]) -> None:
        """Warm ``_ts_stats_cache`` for many leaves concurrently. Footer
        reads are independent small-file I/O + GIL-releasing parquet
        metadata parses — a thread pool turns a per-commit serial
        O(buckets × days) driver stall into one parallel round."""
        todo = [d for d in leaf_dirs if d not in self._ts_stats_cache]
        if len(todo) <= 1:
            for d in todo:
                self._dir_ts_stats(d)
            return
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(16, len(todo))) as pool:
            for d, st in zip(todo, pool.map(self._dir_ts_stats_uncached, todo)):
                self._ts_stats_cache[d] = st

    def _prefetch_commit_stats(self, rel_path: str, buckets: list) -> None:
        """Enumerate every leaf a commit will reference across ALL its
        buckets and warm the footer-stats cache in one thread-pool round —
        the per-bucket loop in the commit builders then hits cache only."""
        leaves: list[str] = []
        for b in buckets:
            brel = f"{rel_path}/_bucket={int(b)}"
            try:
                days = [n for n in os.listdir(os.path.join(self.path, brel))
                        if n.startswith("_day=")]
            except FileNotFoundError:
                continue  # empty partition: Spark wrote no dir
            if days:
                leaves.extend(
                    f"{brel}/{d}" for d in days
                    if not d.endswith("__HIVE_DEFAULT_PARTITION__")
                )
            else:
                leaves.append(brel)
        self._prefetch_ts_stats(leaves)

    def _dir_ts_stats_uncached(self, rel_dir: str) -> dict | None:
        col = self.stats_col
        if col is None:
            return None
        try:
            import pyarrow.parquet as pq
        except ImportError:  # pragma: no cover
            return None
        mn = mx = None
        nulls = rows = 0
        found_any = False
        abs_dir = os.path.join(self.path, rel_dir)
        for root, _dirs, names in os.walk(abs_dir):
            for n in sorted(names):
                if not n.endswith(".parquet"):
                    continue
                try:
                    md = pq.ParquetFile(os.path.join(root, n)).metadata
                except Exception:
                    return None
                rows += md.num_rows
                idx = None
                for i in range(md.num_columns):
                    if md.schema.column(i).name == col:
                        idx = i
                        break
                if idx is None:
                    return None
                for rg in range(md.num_row_groups):
                    c = md.row_group(rg).column(idx)
                    st = c.statistics
                    if st is None or st.null_count is None:
                        return None  # unknown nulls → cannot prune safely
                    nulls += st.null_count
                    if not st.has_min_max:
                        if st.null_count < c.num_values:
                            return None  # real values without min/max
                        continue  # all-null row group
                    found_any = True
                    lo, hi = _ts_plain(st.min), _ts_plain(st.max)
                    mn = lo if mn is None or lo < mn else mn
                    mx = hi if mx is None or hi > mx else mx
        if not found_any and nulls == 0:
            return {"min": None, "max": None, "nulls": 0, "rows": rows}
        return {
            "min": mn.isoformat(sep=" ") if mn else None,
            "max": mx.isoformat(sep=" ") if mx else None,
            "nulls": int(nulls),
            "rows": int(rows),
        }

    @staticmethod
    def _entry_prunable(entry: dict, ts_min, ts_max) -> bool:
        """True if this file set provably holds no row relevant to the
        [ts_min, ts_max] time range. A set with NULL event times (e.g.
        tombstones, whose payload is nulled) is never pruned — deletions
        must always participate in the LWW fold."""
        st = entry.get("ts_stats")
        if st is None or st["nulls"] > 0:
            return False
        if st["rows"] == 0:
            return True
        if st["min"] is None or st["max"] is None:
            return False
        lo, hi = _parse_ts(st["min"]), _parse_ts(st["max"])
        if ts_min is not None and hi < ts_min:
            return True
        if ts_max is not None and lo > ts_max:
            return True
        return False

    def plan_file_sets(
        self, buckets: list[int] | None = None, ts_min=None, ts_max=None
    ) -> tuple[list[dict], list[dict]]:
        """Resolve the scan plan: (selected, pruned) file-set entries for
        the given buckets and time range. Exposed for tests/observability
        (the EXPLAIN of the table format)."""
        ts_min, ts_max = _parse_ts(ts_min), _parse_ts(ts_max)
        files = self._meta["files"]
        sel = {int(b): v for b, v in files.items() if buckets is None or int(b) in set(buckets)}
        entries = []
        for _b, e in sorted(sel.items()):
            entries.extend(self._base_entries(e))
            entries.extend(e["deltas"])
        chosen, pruned = [], []
        for entry in entries:
            (pruned if self._entry_prunable(entry, ts_min, ts_max) else chosen).append(entry)
        return chosen, pruned

    # -- reads ---------------------------------------------------------------

    def bucket_expr(self, col):
        """Deterministic bucket id for a key column (matches write path)."""
        return F.pmod(F.xxhash64(col), F.lit(self.num_buckets)).cast("int")

    def bucket_of(self, key_value) -> int:
        """Bucket id of one bucket-key value, hashed on the driver under the
        key's declared type — the same id ``bucket_expr`` gives its row."""
        key_type = {f.name: f.type for f in self.schema().fields}[self.bucket_key]
        return bucket_of(key_value, key_type, self.num_buckets)

    def _file_schema(self, schema_version: int) -> T.StructType:
        """Columns every data file written under ``schema_version`` holds:
        that version's payload plus the stored internals (``_bucket`` is a
        directory, not a column). Reads declare it instead of inferring it
        from footers, which would cost one Spark job per scan."""
        st = self.written_schema(schema_version).to_struct()
        for c in INTERNAL_COLS:
            if c != "_bucket":
                st = st.add(c, _INTERNAL_TYPES[c])
        return st

    def _empty(self, with_internal: bool) -> DataFrame:
        st = self.schema().to_struct()
        if with_internal:
            for c in INTERNAL_COLS:
                st = st.add(c, _INTERNAL_TYPES[c])
        return self.spark.createDataFrame([], st)

    def read_buckets(
        self,
        buckets: list[int] | None = None,
        with_internal: bool = True,
        fold: bool = True,
        ts_min=None,
        ts_max=None,
    ) -> DataFrame:
        """Scan current snapshot, pruned to ``buckets`` (None = all) and —
        when ``ts_min``/``ts_max`` are given — to file sets whose
        ``stats_col`` footer range intersects the window (time-dimension
        partition pruning, the reference's ``WHERE date_ =
        execution_date`` scan scoping).

        Reads every surviving file set (base + deltas), aligns each to the
        current table schema (directories are grouped by the schema
        version they were written with — schema-on-read), and, with
        ``fold=True``, LWW-folds to one row per key by max
        ``(_op_ts, _lsn)`` — the merge-on-read resolve. ``fold=False``
        returns the raw multi-version rows (compaction/debug path).

        Time pruning returns a candidate SUPERSET of the window (file-set
        granularity; tombstone/NULL sets always scan) — callers wanting
        exact bounds apply the residual row filter (``snapshot_df`` does).

        Planning launches no Spark job: each schema version's file sets are
        read with the columns the metadata declares for them
        (``_file_schema``), so no footer is sampled for schema inference.
        """
        entries, _pruned = self.plan_file_sets(buckets, ts_min, ts_max)
        if not entries:
            return self._empty(with_internal)

        schema = self.schema()
        internal = INTERNAL_COLS if with_internal or fold else []
        by_sv: dict[int, list[str]] = {}
        for entry in entries:
            by_sv.setdefault(entry["schema_version"], []).append(
                os.path.join(self.path, entry["path"])
            )
        parts = []
        for sv, paths in sorted(by_sv.items()):
            df = self.spark.read.schema(self._file_schema(sv)).parquet(*paths)
            # resolve by FIELD ID against the schema each file set was
            # written with: renames map, dropped-and-readded names NULL
            parts.append(project_written(df, self.written_schema(sv), schema,
                                         keep_extra=internal))
        out = reduce(lambda a, b: a.unionByName(b), parts)
        if internal:
            # _bucket is a partition directory on disk, not a stored column —
            # recompute it (same deterministic expr as bucket_expr)
            out = out.selectExpr("*", f"CAST(pmod(xxhash64({quote(self.bucket_key)}), "
                                      f"{self.num_buckets}) AS INT) AS _bucket")
        if fold:
            out = self._lww_fold(out)
            if not with_internal:
                out = out.drop(*INTERNAL_COLS)
        return out

    def _lww_fold(self, df: DataFrame) -> DataFrame:
        """One row per key: argmax over (_op_ts, _lsn) — delegates to the
        shared LWW aggregation (cdc.dedup.lww_dedup) so tie-break and
        plan-shape decisions live in exactly one place."""
        from ..cdc.dedup import lww_dedup

        return lww_dedup(df, key=self.key_cols, order=ORDER_COLS)

    def snapshot_df(
        self, buckets: list[int] | None = None, ts_min=None, ts_max=None
    ) -> DataFrame:
        """Logical table state (optionally pruned to ``buckets`` and to an
        event-time window): payload columns, tombstones filtered.

        With ``ts_min``/``ts_max``, file sets outside the window are
        skipped via footer stats and an exact residual filter on
        ``stats_col`` is applied on top — the two-level pruning a
        day-partitioned warehouse table gives the reference. Correct under
        the stable-event-time contract (see ``stats_col``); deletions
        always participate because tombstone file sets carry NULL event
        times and are never pruned.
        """
        df = self.read_buckets(buckets, with_internal=True, fold=True,
                               ts_min=ts_min, ts_max=ts_max)
        df = df.where(_LIVE)
        col = self.stats_col
        if col is not None:
            if ts_min is not None:
                df = df.where(F.col(col) >= F.lit(_parse_ts(ts_min)))
            if ts_max is not None:
                df = df.where(F.col(col) <= F.lit(_parse_ts(ts_max)))
        return df.selectExpr(*map(quote, self.schema().names()))

    def lookup(self, key_value) -> DataFrame:
        """Point lookup by bucket key (e.g. one conv_id): prunes to the
        key's single bucket, pushes the key equality below the LWW fold
        (it commutes with the per-key argmax) so the parquet scan skips
        row groups via dictionary/stats filters, then folds only the
        surviving rows. The read path a transcript-serving API would use —
        O(one bucket's matching row groups), never O(table).

        The bucket id is hashed on the driver (``bucket_of``) under the
        key's declared type, so building the frame runs no Spark job; the
        caller's action is the only one."""
        raw = self.read_buckets([self.bucket_of(key_value)], with_internal=True, fold=False)
        hit = raw.where(F.col(self.bucket_key) == F.lit(key_value))
        return self._lww_fold(hit).where(_LIVE).selectExpr(
            *map(quote, self.schema().names())
        )

    def changes_between(
        self,
        from_version: int,
        to_version: int | None = None,
        with_ordering: bool = False,
    ) -> DataFrame:
        """Change data feed (Delta-CDF / Iceberg-changelog style): the
        row-level logical diff between two committed metadata versions,
        for downstream incremental consumers — the emit side of CDC.

        Returns the current schema's payload columns plus ``_change_type``
        ∈ {insert, update_postimage, delete}; deletes carry the pre-image.

        Scale shape: the diff never scans the whole table when it can
        avoid it — dirty buckets are taken from the snapshot log's delta
        commits in the window (compaction/expunge commits rewrite bytes
        but change no logical state and are skipped), then both versions'
        folded states for ONLY those buckets are full-outer joined on the
        key. Cost is O(touched buckets), not O(table). Falls back to an
        all-bucket diff when the snapshot log was truncated past the
        window or an unknown commit kind appears (correct, just wider).
        Comparison is by the LWW order columns ``(_op_ts, _lsn)``, so a
        rewrite committing identical ordering is correctly silent, and
        the diff is stable under compaction. Schema evolution between the
        versions is resolved by field ID (renames map, readds stay NULL).

        ``with_ordering`` additionally emits ``_op_ts``/``_lsn`` — the
        change's LWW order key (the new side's; a delete whose tombstone
        was already expunged has no new side and emits NULL ordering —
        consumers needing a total order stamp those like GDPR tombstones,
        see ``cdc.replicate``).
        """
        self.refresh()
        old = self.as_of(from_version)
        new = self.as_of(to_version if to_version is not None else self.version)
        old_sid = old.current_snapshot_id

        ents = [s for s in new.snapshots() if s["snapshot_id"] > old_sid]
        known = {"delta", "compaction", "expunge"}
        if new.snapshots_truncated_before() > old_sid + 1 or any(
            s["kind"] not in known for s in ents
        ):
            buckets = None  # can't bound the window — diff everything
        else:
            buckets = sorted(
                {int(b) for s in ents if s["kind"] == "delta"
                 for b in s["dirty_buckets"]}
            )
            if not buckets:
                # build from the AS-OF table, not self: a rename/drop
                # committed after to_version would otherwise leave the
                # live-schema frame without the as-of names selected below
                empty = new._empty(with_ordering).select(
                    *new.schema().names(),
                    F.lit("").alias("_change_type"),
                    *([F.col("_op_ts"), F.col("_lsn")] if with_ordering else []),
                ).limit(0)
                return empty

        new_s = new.schema()
        o = old.read_buckets(buckets, with_internal=True, fold=True)
        o = project_written(o, old.schema(), new_s, keep_extra=INTERNAL_COLS)
        n = new.read_buckets(buckets, with_internal=True, fold=True)

        # renames, change type and column pick as SQL strings: one
        # selectExpr each instead of several py4j round trips per column
        o = o.selectExpr(*[f"{quote(c)} AS {quote('_o_' + c)}" for c in o.columns])
        n = n.selectExpr(*[f"{quote(c)} AS {quote('_n_' + c)}" for c in n.columns])
        cond = " AND ".join(
            f"{quote('_o_' + k)} = {quote('_n_' + k)}" for k in new.key_cols
        )
        j = o.join(n, F.expr(cond), "full_outer")

        live_o = "(_o__lsn IS NOT NULL AND NOT coalesce(_o__tombstone, false))"
        live_n = "(_n__lsn IS NOT NULL AND NOT coalesce(_n__tombstone, false))"
        bumped = "(_o__op_ts != _n__op_ts OR _o__lsn != _n__lsn)"
        is_del = f"{live_o} AND NOT {live_n}"
        change = (
            f"CASE WHEN NOT {live_o} AND {live_n} THEN 'insert' "
            f"WHEN {is_del} THEN 'delete' "
            f"WHEN {live_o} AND {live_n} AND {bumped} THEN 'update_postimage' END"
        )
        cols = [
            f"IF({is_del}, {quote('_o_' + c)}, {quote('_n_' + c)}) AS {quote(c)}"
            for c in new_s.names()
        ]
        extra = ["_n__op_ts AS _op_ts", "_n__lsn AS _lsn"] if with_ordering else []
        return j.selectExpr(*cols, f"{change} AS _change_type", *extra).where(
            "_change_type IS NOT NULL"
        )

    def watermark_any(self) -> str | None:
        """Max high-water mark across all sources (freshness stamp for
        derived views that don't care which source advanced)."""
        wms = list(self._meta.get("watermarks", {}).values())
        return max(wms) if wms else None

    # -- schema evolution ------------------------------------------------------

    def evolve_schema(self, incoming: T.StructType) -> list[str]:
        """Widen/extend the table schema so ``incoming`` rows fit (no commit
        of data; bumps metadata version). Returns human-readable change log."""
        for _attempt in range(self.MAX_COMMIT_RETRIES):
            new_schema, changes = self.schema().evolve_to_accept(incoming)
            if not changes:
                return []
            try:
                self._commit_schema(new_schema)
                return changes
            except ConcurrentCommitError:
                # Racing writer published first (a data commit or its own
                # evolution). Recompute the diff from fresh metadata —
                # idempotent: if the winner already made the schema accept
                # this batch, the next diff is empty.
                self.refresh()
        raise ConcurrentCommitError(
            f"schema evolution lost the metadata race "
            f"{self.MAX_COMMIT_RETRIES} times — giving up"
        )

    def _commit_schema(self, new_schema: TableSchema) -> None:
        meta = json.loads(json.dumps(self._meta))
        sv = meta["current_schema_version"] + 1
        meta["schemas"][str(sv)] = new_schema.to_json()
        meta["current_schema_version"] = sv
        self._commit_meta(meta)

    def rename_column(self, old: str, new: str) -> str:
        """Rename a column, keeping its field ID — all existing data files
        (written under any older schema version) resolve to the new name
        at read time via ``project_written``; no data is rewritten.
        Partition-role names (bucket key, LWW key columns, stats column)
        follow the rename so the table keeps functioning."""
        new_schema, change = self.schema().rename_column(old, new)
        meta = json.loads(json.dumps(self._meta))
        part = meta["partition"]
        if part["bucket_key"] == old:
            part["bucket_key"] = new
        part["key_cols"] = [new if c == old else c for c in part["key_cols"]]
        if part.get("stats_col") == old:
            part["stats_col"] = new
        sv = meta["current_schema_version"] + 1
        meta["schemas"][str(sv)] = new_schema.to_json()
        meta["current_schema_version"] = sv
        self._commit_meta(meta)
        return change

    def drop_column(self, name: str) -> str:
        """Drop a column (metadata-only; bytes die at next compaction /
        vacuum). Key, bucket, and stats columns cannot be dropped. The
        field ID is retired: re-adding ``name`` later allocates a fresh ID,
        and old files' bytes stay NULL under it (Iceberg semantics)."""
        part = self._meta["partition"]
        protected = set(part["key_cols"]) | {part["bucket_key"]}
        if part.get("stats_col"):
            protected.add(part["stats_col"])
        if name in protected:
            raise ValueError(f"cannot drop key/bucket/stats column {name!r}")
        new_schema, change = self.schema().drop_column(name)
        self._commit_schema(new_schema)
        return change

    # -- writes ----------------------------------------------------------------

    def new_data_rel(self, kind: str) -> str:
        """Fresh, attempt-unique data directory name (``kind`` ∈
        {delta, base}).

        The uuid suffix makes the path unique PER WRITE ATTEMPT, not per
        snapshot id: two racing writers that both loaded version V would
        otherwise target the same ``data/{kind}-{V+1}`` directory, and the
        loser's mode=overwrite write would clobber the winner's committed
        files before the metadata reservation detects the conflict. With
        unique paths the reservation fully arbitrates; the loser's orphan
        directory is reclaimed by ``vacuum``.
        """
        return f"data/{kind}-{self.current_snapshot_id + 1:08d}-{uuid.uuid4().hex[:8]}"

    def write_files(self, df: DataFrame, rel: str,
                    sort_cols: list[str] | None = None,
                    pre_partitioned: bool = False,
                    num_buckets: int | None = None) -> str:
        """Write one file set (delta or base), partitioned by
        ``(_bucket, _day)`` — the key dimension for co-located upserts and
        the time dimension for window pruning (the reference's
        ``PARTITION BY date_``, e.g. fact/insert_sessions.sql:4).

        ``_day`` derives from ``stats_col``; NULL event times land in the
        hive default partition, which is always scanned. The shuffle is
        on ``_bucket`` only (one task per bucket splits its rows across
        day directories), so adding the day dimension costs no extra
        shuffle.

        ``sort_cols`` clusters rows inside each written file (Iceberg
        write-order): point reads then skip row groups via parquet
        min/max + dictionary stats. Used by compaction (background, so
        the sort is off the ingest hot path); delta writes stay unsorted
        to keep apply latency flat.

        ``mode=overwrite`` makes a crash-replayed write of the same
        directory self-cleaning (the orphan from the failed attempt is
        replaced before it is ever referenced by metadata).
        """
        out = os.path.join(self.path, rel)
        n_buckets = self.num_buckets if num_buckets is None else int(num_buckets)
        part_cols = ["_bucket"]
        if self.stats_col is not None:
            df = df.withColumn("_day", F.to_date(F.col(self.stats_col)).cast("string"))
            part_cols.append("_day")
        width = self.write_width
        if pre_partitioned and width == 1:
            # caller guarantees df is already hash-partitioned by _bucket
            # (the fused apply plan rides its dedup exchange straight into
            # the write) — repartitioning again would re-shuffle the
            # winner set for nothing
            pass
        elif width > 1:
            # fan each bucket over `width` writer tasks; the split key is
            # the bucket KEY's hash (stable, even spread of conversations)
            # so all rows of one conversation still land in one file per
            # write. partitionBy directories are unaffected — tasks
            # sharing a leaf each write their own part file.
            split = F.pmod(F.xxhash64(F.col(self.bucket_key), F.lit(7)), F.lit(width))
            df = df.repartition(n_buckets * width, F.col("_bucket"), split)
        else:
            df = df.repartition(n_buckets, F.col("_bucket"))
        if sort_cols:
            df = df.sortWithinPartitions(*part_cols, *sort_cols)
        (
            df.write.mode("overwrite")
            .partitionBy(*part_cols)
            .parquet(out)
        )
        return rel

    def _leaf_entries(self, rel_path: str, bucket: int, schema_version: int) -> list[dict]:
        """Metadata entries for one just-written bucket directory: one per
        ``_day=`` leaf (tight per-day footer stats), or the bucket dir
        itself when there is no day dimension. The hive default partition
        (NULL event time) gets ``ts_stats: None`` — never pruned."""
        brel = f"{rel_path}/_bucket={int(bucket)}"
        bdir = os.path.join(self.path, brel)
        days = sorted(n for n in os.listdir(bdir) if n.startswith("_day="))
        self._prefetch_ts_stats(
            [f"{brel}/{d}" for d in days if not d.endswith("__HIVE_DEFAULT_PARTITION__")]
            if days else [brel]
        )
        if not days:
            return [{"path": brel, "schema_version": schema_version,
                     "ts_stats": self._dir_ts_stats(brel)}]
        out = []
        for d in days:
            rel = f"{brel}/{d}"
            null_day = d.endswith("__HIVE_DEFAULT_PARTITION__")
            out.append({
                "path": rel,
                "schema_version": schema_version,
                "ts_stats": None if null_day else self._dir_ts_stats(rel),
            })
        return out

    def commit_delta(
        self,
        epoch: int,
        source: str,
        delta_rel_path: str,
        dirty_buckets: list[int],
        stats: dict | None = None,
    ) -> int:
        """Atomically publish a delta commit: append one delta entry per
        dirty bucket, fence the epoch.

        Optimistic concurrency (Iceberg-style): losing the metadata-version
        race does NOT fail the commit. Delta entries are self-contained new
        files, so they rebase cleanly onto whatever the winner published —
        a concurrent delta (other source/epoch), compaction, expunge, or
        schema evolution — and the commit retries against fresh metadata.
        The one semantic conflict is a concurrent writer fencing the SAME
        (source, epoch): that is a duplicate apply and raises
        ``EpochFencedError`` (exactly-once holds under racing appliers).
        Files keep the schema version they were physically written with,
        captured before the race, so a concurrent evolution can't mislabel
        them (field-ID resolution then reads them correctly forever).
        """
        sv = self._meta["current_schema_version"]
        spec_n = self.num_buckets
        for _attempt in range(self.MAX_COMMIT_RETRIES):
            try:
                return self._build_delta_commit(
                    epoch, source, delta_rel_path, dirty_buckets, sv, stats
                )
            except EpochFencedError:
                raise
            except ConcurrentCommitError:
                self.refresh()
                if epoch <= self.committed_epoch(source):
                    raise EpochFencedError(
                        f"epoch {epoch} for source {source!r} was committed by a "
                        "concurrent writer"
                    )
                if self.num_buckets != spec_n:
                    # a concurrent rebucket changed the partition spec:
                    # this delta's files are bucketed under the OLD spec,
                    # so rebasing them into new-numbered slots would
                    # corrupt the table. Fail loudly; the epoch stays
                    # unfenced, so a replay recomputes under the new spec.
                    raise CommitConflictError(
                        f"delta commit for epoch {epoch} was bucketed under "
                        f"num_buckets={spec_n} but a concurrent rebucket moved "
                        f"the table to {self.num_buckets} — replay the batch"
                    )
        raise ConcurrentCommitError(
            f"delta commit for epoch {epoch} lost the metadata race "
            f"{self.MAX_COMMIT_RETRIES} times — giving up"
        )

    def _build_delta_commit(
        self,
        epoch: int,
        source: str,
        delta_rel_path: str,
        dirty_buckets: list[int],
        sv: int,
        stats: dict | None,
    ) -> int:
        meta = json.loads(json.dumps(self._meta))
        sid = meta["current_snapshot_id"] + 1
        self._prefetch_commit_stats(delta_rel_path, dirty_buckets)
        null_day_leaves: list[str] = []
        for b in dirty_buckets:
            bdir = os.path.join(self.path, delta_rel_path, f"_bucket={int(b)}")
            if not os.path.isdir(bdir):
                # Spark writes no dir for an empty partition; referencing it
                # would make every later read fail on a missing path
                continue
            slot = meta["files"].setdefault(str(int(b)), {"base": None, "deltas": []})
            entries = self._leaf_entries(delta_rel_path, b, sv)
            slot["deltas"].extend(entries)
            null_day_leaves.extend(
                e["path"] for e in entries
                if "_day=__HIVE_DEFAULT_PARTITION__" in e["path"]
            )
        if null_day_leaves:
            # Monotone record of every NULL-day delta leaf EVER committed.
            # Live metadata loses folded delta leaves to compaction/expunge,
            # but a NULL-day leaf holds payload-less deletes that can
            # tombstone a row in ANY day — restatement detection (rollups,
            # partitions.restatements) must diff against leaves ever
            # created, not leaves currently live, or a delete compacted
            # away between two refreshes leaves closed-day rollups stale
            # forever. Growth is bounded by the number of delta commits
            # that carry NULL-ts deletes (path strings only).
            log = meta.setdefault("null_day_delta_log", [])
            log.extend(p for p in null_day_leaves if p not in set(log))
        meta["snapshots"].append(
            {
                "snapshot_id": sid,
                "kind": "delta",
                "epoch": epoch,
                "source": source,
                "committed_at": time.time(),
                "dirty_buckets": sorted(int(b) for b in dirty_buckets),
                "stats": stats or {},
            }
        )
        meta["current_snapshot_id"] = sid
        meta["committed_epochs"][source] = max(epoch, self.committed_epoch(source))
        new_wm = (stats or {}).get("op_ts_max")
        if new_wm is not None:
            prev = self.watermark(source)
            meta.setdefault("watermarks", {})[source] = (
                max(prev, str(new_wm)) if prev else str(new_wm)
            )
        self._commit_meta(meta)
        return sid

    # -- compaction -------------------------------------------------------------

    def buckets_needing_compaction(self) -> list[int]:
        return sorted(
            b for b, n in self.delta_counts().items() if n >= self.compact_threshold
        )

    def compact(self, buckets: list[int] | None = None) -> int | None:
        """Fold base ∪ deltas of ``buckets`` into a fresh base (maintenance
        commit, not epoch-fenced). Tombstones are RETAINED so late older
        updates can never resurrect deleted keys. Returns snapshot id or
        None if nothing to do."""
        buckets = self.buckets_needing_compaction() if buckets is None else buckets
        if not buckets:
            return None
        # Snapshot the fold's basis BEFORE resolving the read plan: the
        # rebase commit may only auto-retry a lost metadata race if no
        # commit after this point touched these buckets.
        based_on = int(self._meta["current_snapshot_id"])
        folded = self.read_buckets(buckets, with_internal=True, fold=True)
        rel = self.new_data_rel("base")
        # NOTE(perf, measured): sort_cols=self.key_cols here was tried and
        # rejected at this layout — compact-all on a 4M-event table went
        # 3.9 s -> 5.5 s while mean point-lookup latency did NOT improve
        # (1.76 s -> 2.01 s): with (_bucket, _day) leaves, a conversation's
        # rows span many small day files, so every leaf is opened no
        # matter the in-file order and row-group pruning never engages.
        # Key-clustered writes pay off only when single files hold many
        # row groups (multi-GB buckets); callers at that scale can pass
        # sort_cols to write_files explicitly.
        self.write_files(folded, rel)
        return self.commit_rebase(buckets, rel, kind="compaction", based_on=based_on)

    def rebucket(self, new_num_buckets: int) -> int | None:
        """Partition-spec evolution: rewrite the table under a new bucket
        count, one atomic commit (Iceberg's bucket-spec evolution, done as
        a full rewrite since every row's bucket id changes).

        The operational reason this exists at 10^10-row scale: a table
        created with N buckets eventually outgrows them (per-bucket file
        sets too large for compaction to rewrite in one task) or wastes
        parallelism (tiny table, too many buckets). All per-source
        fencing state — committed epochs, watermarks, schema, lineage —
        carries over untouched; only the file layout and
        ``partition.num_buckets`` change, so ingest continues exactly
        where it left off.

        Concurrency: a maintenance op, safest run without concurrent
        appliers, but races are LOUD, never corrupting — this commit
        requires the snapshot id to be unchanged since the fold was
        computed (any concurrent commit ⇒ ``CommitConflictError``,
        recompute), its snapshot entry marks every bucket id of BOTH
        numberings dirty so any in-flight rebase conflicts on overlap,
        and ``commit_delta``/``commit_rebase`` refuse to rebase files
        bucketed under a superseded spec (their retry paths re-check
        ``num_buckets``). Old file sets become unreferenced; ``vacuum``
        reclaims them. Time travel keeps working: each metadata version
        carries its own partition spec, so ``as_of`` reads pre-rebucket
        snapshots under the old bucketing.

        Returns the new snapshot id, or None when the count is unchanged.
        """
        new_n = int(new_num_buckets)
        if new_n < 1:
            raise ValueError(f"num_buckets must be >= 1, got {new_n}")
        old_n = self.num_buckets
        if new_n == old_n:
            return None
        based_on = int(self._meta["current_snapshot_id"])
        folded = self.read_buckets(None, with_internal=True, fold=True)
        # read_buckets recomputed _bucket under the OLD spec; re-derive it
        # under the new one (same deterministic hash, new modulus)
        folded = folded.withColumn(
            "_bucket",
            F.pmod(F.xxhash64(F.col(self.bucket_key)), F.lit(new_n)).cast("int"),
        )
        rel = self.new_data_rel("base")
        self.write_files(folded, rel, num_buckets=new_n)
        for _attempt in range(self.MAX_COMMIT_RETRIES):
            if int(self._meta["current_snapshot_id"]) != based_on:
                raise CommitConflictError(
                    f"rebucket fold was computed at snapshot {based_on} but a "
                    f"concurrent commit moved the table to snapshot "
                    f"{self._meta['current_snapshot_id']} — recompute"
                )
            meta = json.loads(json.dumps(self._meta))
            sv = meta["current_schema_version"]
            sid = meta["current_snapshot_id"] + 1
            files: dict = {}
            for b in range(new_n):
                bdir = os.path.join(self.path, rel, f"_bucket={b}")
                files[str(b)] = {
                    "base": (
                        self._leaf_entries(rel, b, sv)
                        if os.path.isdir(bdir)
                        else None
                    ),
                    "deltas": [],
                }
            meta["files"] = files
            meta["partition"]["num_buckets"] = new_n
            meta["snapshots"].append(
                {
                    "snapshot_id": sid,
                    "kind": "rebucket",
                    "committed_at": time.time(),
                    # both numberings dirty: any concurrent rebase computed
                    # against either spec must see an overlap and conflict
                    "dirty_buckets": list(range(max(old_n, new_n))),
                    "from_num_buckets": old_n,
                    "to_num_buckets": new_n,
                }
            )
            meta["current_snapshot_id"] = sid
            try:
                self._commit_meta(meta)
                return sid
            except ConcurrentCommitError:
                # metadata-version race (e.g. a partition-close merge, a
                # hint writer) — refresh and re-check the snapshot basis
                self.refresh()
        raise ConcurrentCommitError(
            f"rebucket lost the metadata race {self.MAX_COMMIT_RETRIES} "
            "times — giving up"
        )

    def commit_rebase(
        self,
        buckets: list[int],
        rel_path: str,
        kind: str = "compaction",
        extra: dict | None = None,
        epoch: int | None = None,
        source: str | None = None,
        based_on: int | None = None,
    ) -> int:
        """Publish a maintenance commit: the given buckets' base becomes
        ``rel_path/_bucket=K`` and their delta lists clear (used by
        compaction, tombstone expunge, incremental-view refresh). When
        ``epoch``/``source`` are given the commit also fences that epoch
        (exactly-once for derived-table refreshes).

        Optimistic concurrency: ``based_on`` is the snapshot id the folded
        data was computed from (defaults to the current snapshot at call
        time). Losing the metadata race retries ONLY if every commit that
        landed since ``based_on`` touched disjoint buckets — a rebase
        replaces its buckets' entire file set, so an unseen concurrent
        delta on the same bucket would be silently erased. On overlap (or
        if the snapshot log was truncated past ``based_on``, making
        disjointness unprovable) raises ``CommitConflictError``: the
        caller must recompute its fold against fresh state."""
        if based_on is None:
            based_on = int(self._meta["current_snapshot_id"])
        sv = self._meta["current_schema_version"]
        spec_n = self.num_buckets
        bset = {int(b) for b in buckets}
        for _attempt in range(self.MAX_COMMIT_RETRIES):
            try:
                return self._build_rebase_commit(
                    buckets, rel_path, kind, extra, epoch, source, sv
                )
            except ConcurrentCommitError:
                self.refresh()
                if self.num_buckets != spec_n:
                    raise CommitConflictError(
                        f"{kind} commit computed under num_buckets={spec_n} "
                        f"but a concurrent rebucket moved the table to "
                        f"{self.num_buckets} — recompute against current state"
                    )
                if self.snapshots_truncated_before() > based_on + 1:
                    raise CommitConflictError(
                        f"{kind} commit based on snapshot {based_on} lost the "
                        "metadata race and the snapshot log no longer covers "
                        "the interval — recompute against current state"
                    )
                for s in self._meta["snapshots"]:
                    if int(s["snapshot_id"]) > based_on and bset & {
                        int(b) for b in s.get("dirty_buckets", [])
                    }:
                        raise CommitConflictError(
                            f"{kind} commit of buckets {sorted(bset)} based on "
                            f"snapshot {based_on} conflicts with concurrent "
                            f"{s.get('kind', 'delta')} snapshot "
                            f"{s['snapshot_id']} (dirty buckets "
                            f"{s.get('dirty_buckets')}) — recompute"
                        )
                if epoch is not None and source is not None:
                    if epoch <= self.committed_epoch(source):
                        raise EpochFencedError(
                            f"epoch {epoch} for source {source!r} was committed "
                            "by a concurrent writer"
                        )
        raise ConcurrentCommitError(
            f"{kind} commit lost the metadata race "
            f"{self.MAX_COMMIT_RETRIES} times — giving up"
        )

    def _build_rebase_commit(
        self,
        buckets: list[int],
        rel_path: str,
        kind: str,
        extra: dict | None,
        epoch: int | None,
        source: str | None,
        sv: int,
    ) -> int:
        meta = json.loads(json.dumps(self._meta))
        sid = meta["current_snapshot_id"] + 1
        self._prefetch_commit_stats(rel_path, buckets)
        for b in buckets:
            bdir = os.path.join(self.path, rel_path, f"_bucket={int(b)}")
            # Spark writes NO directory for an empty partition — a bucket
            # whose rows all vanished (e.g. every conversation deleted)
            # must become an empty bucket, not a dangling metadata path
            # that bricks every later read.
            meta["files"][str(int(b))] = {
                "base": (
                    self._leaf_entries(rel_path, int(b), sv)
                    if os.path.isdir(bdir)
                    else None
                ),
                "deltas": [],
            }
        meta["snapshots"].append(
            {
                "snapshot_id": sid,
                "kind": kind,
                "committed_at": time.time(),
                "dirty_buckets": sorted(int(b) for b in buckets),
                **(extra or {}),
            }
        )
        meta["current_snapshot_id"] = sid
        if source is not None and epoch is not None:
            meta["committed_epochs"][source] = max(epoch, self.committed_epoch(source))
        self._commit_meta(meta)
        return sid

    MAX_SNAPSHOT_LOG = 512
    # Optimistic-concurrency retry budget for the metadata-version race.
    # Each retry re-reads current metadata and re-publishes; contention at
    # this layer is driver-only (microseconds of work), so a small budget
    # covers realistic writer counts without masking livelock bugs.
    MAX_COMMIT_RETRIES = 5

    def _commit_meta(self, meta: dict) -> None:
        if self._pinned:
            raise RuntimeError("time-travel reader (as_of) is read-only")
        # bound the embedded snapshot log: per-commit metadata cost must be
        # O(1), not O(history) — a 10^6-epoch stream would otherwise
        # serialize an ever-growing document on every commit. Consumers of
        # dirty-bucket history (incremental view refresh) see
        # ``snapshots_truncated_before`` and fall back to a full pass.
        if len(meta["snapshots"]) > self.MAX_SNAPSHOT_LOG:
            dropped = meta["snapshots"][: -self.MAX_SNAPSHOT_LOG]
            meta["snapshots"] = meta["snapshots"][-self.MAX_SNAPSHOT_LOG:]
            meta["snapshots_truncated_before"] = max(
                int(meta.get("snapshots_truncated_before", 0)),
                max(s["snapshot_id"] for s in dropped) + 1,
            )
        new_v = meta["version"] + 1
        meta["version"] = new_v
        # the version reservation IS the commit: publish fails atomically
        # if a racing writer claimed v{N} first (backend-specific —
        # os.link EEXIST, object-store conditional PUT, catalog CAS)
        self._store.publish_json(new_v, meta)
        try:
            self._store.write_hint(new_v)
        except OSError:
            # the publish IS the commit; the hint is an advisory pointer
            # and readers probe forward past a stale one (_load_meta), so
            # a transiently failing hint store must not fail a commit
            # that already happened. The next commit re-advances it.
            pass
        self._meta = meta

    def snapshots_truncated_before(self) -> int:
        return int(self._meta.get("snapshots_truncated_before", 0))

    # -- storage reclamation ----------------------------------------------------

    def vacuum(self, keep_meta_versions: int = 3, min_age_seconds: float = 3600.0) -> dict:
        """Delete data directories no longer referenced by the CURRENT
        metadata, and metadata versions older than ``keep_meta_versions``.

        This is where superseded data physically stops existing on disk
        (the GDPR erasure endpoint: delete → expunge → vacuum).

        ``min_age_seconds`` is the Iceberg-style orphan-age guard: only
        unreferenced directories whose newest file mtime is older than the
        threshold are removed. That protects (a) a concurrent apply/compact
        that has written its delta but not yet committed the metadata, and
        (b) readers whose plan was resolved against a recent older
        metadata version. Pass 0 only when no writer or reader can be
        live (e.g. tests). GDPR note: the unreferenced-but-young bytes a
        nonzero threshold retains disappear on the next vacuum run after
        they age out — retention jobs run periodically.
        """
        import shutil

        if self._pinned:
            raise RuntimeError("time-travel reader (as_of) is read-only")
        self.refresh()
        now = time.time()

        def _old_enough(path: str) -> bool:
            newest = 0.0
            for dirpath, _dirnames, filenames in os.walk(path):
                for n in filenames:
                    try:
                        newest = max(newest, os.path.getmtime(os.path.join(dirpath, n)))
                    except OSError:
                        return False  # racing writer is touching it — skip
            newest = max(newest, os.path.getmtime(path))
            return (now - newest) >= min_age_seconds

        referenced: set[str] = set()
        for e in self._meta["files"].values():
            for entry in self._base_entries(e) + e["deltas"]:
                referenced.add(entry["path"])

        def _is_live(rel: str) -> bool:
            # entries reference either the bucket dir itself or _day leaves
            # under it — a bucket dir is live if anything under it is
            return rel in referenced or any(r.startswith(rel + "/") for r in referenced)

        removed = 0
        data_root = os.path.join(self.path, "data")
        if os.path.isdir(data_root):
            for snap_dir in sorted(os.listdir(data_root)):
                sd = os.path.join(data_root, snap_dir)
                if not os.path.isdir(sd):
                    continue
                for bucket_dir in sorted(os.listdir(sd)):
                    if not bucket_dir.startswith("_bucket="):
                        continue
                    bd = os.path.join(sd, bucket_dir)
                    if not _is_live(f"data/{snap_dir}/{bucket_dir}") and _old_enough(bd):
                        shutil.rmtree(bd, ignore_errors=True)
                        removed += 1
                if not any(n.startswith("_bucket=") for n in os.listdir(sd)):
                    shutil.rmtree(sd, ignore_errors=True)
        removed_meta = 0
        cur_v = self._meta["version"]
        for v in self._store.list_versions():
            if v <= cur_v - keep_meta_versions:
                self._store.delete_version(v)
                removed_meta += 1
        return {"removed_data_dirs": removed, "removed_meta_versions": removed_meta}


def _parse_ts(v):
    """Accept None, ISO string, date, or datetime → naive datetime."""
    import datetime as _dt

    if v is None or isinstance(v, _dt.datetime):
        return _ts_plain(v) if v is not None else None
    if isinstance(v, _dt.date):
        return _dt.datetime(v.year, v.month, v.day)
    return _dt.datetime.fromisoformat(str(v))


def _ts_plain(dt):
    """Strip tz (session is pinned UTC; footer stats may come tz-aware)."""
    return dt.replace(tzinfo=None) if getattr(dt, "tzinfo", None) is not None else dt


# _atomic_write_text / _fsync_dir live in lake.metastore (imported above
# and re-exported for callers that write checkpoint-local markers).
