"""Independent correctness oracle: DuckDB last-writer-wins over the change log.

The oracle never imports the engine. It folds the generated change log with
DuckDB (``row_number() over (partition by key order by op_ts desc, lsn
desc)``, keep the first row, then drop deletes) and compares the result
with what the engine returns, row for row. The table-side rows are passed
in as pandas frames that the caller collected through the engine's public
read API, so the comparison covers the read path as well as the writes.
"""

from __future__ import annotations

import glob
import json
import os

import duckdb
import pandas as pd

KEY = ["conv_id", "turn_idx"]


def epoch_files(log_dir: str, epochs: list[int] | None = None) -> list[str]:
    dirs = sorted(glob.glob(os.path.join(log_dir, "epoch=*")))
    if epochs is not None:
        want = set(epochs)
        dirs = [d for d in dirs if int(d.rsplit("=", 1)[1]) in want]
    return [f for d in dirs for f in sorted(glob.glob(os.path.join(d, "*.parquet")))]


def winners(files: list[str]) -> pd.DataFrame:
    """One row per key: the change with the greatest ``(op_ts, lsn)``,
    deletes included (``op`` = 'D'). Columns: payload, op, op_ts, lsn."""
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        return con.execute(
            """
            SELECT * EXCLUDE (rn) FROM (
              SELECT *, row_number() OVER (
                PARTITION BY conv_id, turn_idx ORDER BY op_ts DESC, lsn DESC) AS rn
              FROM read_parquet(?, union_by_name = true, hive_partitioning = false))
            WHERE rn = 1
            """,
            [files],
        ).df()
    finally:
        con.close()


def live(win: pd.DataFrame) -> pd.DataFrame:
    """Visible table state: winners that are not deletes."""
    return win[win["op"] != "D"].drop(columns=["op", "op_ts", "lsn"])


def _norm(df: pd.DataFrame, cols: list[str]) -> dict[tuple, tuple]:
    """key -> payload tuple, with timestamps as UTC epoch microseconds and
    missing values as None, so engine and oracle frames compare exactly."""
    out = df[cols].copy()
    for c in cols:
        s = out[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = pd.to_datetime(s, utc=True)
            out[c] = [None if pd.isna(v) else v.value // 1000 for v in s]
        else:
            out[c] = [None if (not isinstance(v, str) and pd.isna(v)) else v for v in s]
    k = [cols.index(c) for c in KEY]
    return {tuple(r[i] for i in k): r for r in out.itertuples(index=False, name=None)}


def mismatches(expected: pd.DataFrame, actual: pd.DataFrame) -> int:
    """Keys missing, extra, or with any differing payload column. A column
    only one frame has is added to the other as NULL (in place)."""
    cols = sorted(set(expected.columns) | set(actual.columns))
    for c in cols:
        for df in (expected, actual):
            if c not in df.columns:
                df[c] = None
    e, a = _norm(expected, cols), _norm(actual, cols)
    return sum(1 for k in e.keys() | a.keys() if e.get(k) != a.get(k))


def diff_counts(old_win: pd.DataFrame, new_win: pd.DataFrame) -> int:
    """Rows of the change feed between two states: keys inserted, deleted,
    or updated (both live, different ``(op_ts, lsn)``)."""
    o = old_win.set_index(KEY)[["op", "op_ts", "lsn"]]
    n = new_win.set_index(KEY)[["op", "op_ts", "lsn"]]
    j = o.join(n, how="outer", lsuffix="_o", rsuffix="_n")
    live_o = j["op_o"].notna() & (j["op_o"] != "D")
    live_n = j["op_n"].notna() & (j["op_n"] != "D")
    bumped = (j["op_ts_o"] != j["op_ts_n"]) | (j["lsn_o"] != j["lsn_n"])
    return int(((live_o != live_n) | (live_o & live_n & bumped)).sum())


def read_lineage(table_path: str) -> list[dict]:
    """The engine's lineage records, in commit order ([] before the first)."""
    path = os.path.join(table_path, "_lineage", "lineage.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def lineage_errors(table_path: str, expect_epochs: list[int] | None = None,
                   expect_rows: int | None = None) -> list[str]:
    """Exactly one lineage record per committed epoch (and, when given,
    exactly the expected epochs and total input rows)."""
    applied = [r for r in read_lineage(table_path) if not r.get("skipped")]
    errs = []
    keys = [(r["source"], r["epoch"]) for r in applied]
    if len(keys) != len(set(keys)):
        errs.append(f"duplicate lineage records: {len(keys) - len(set(keys))}")
    meta = read_meta(table_path)
    committed = {(s["source"], s["epoch"]) for s in meta["snapshots"] if s["kind"] == "delta"}
    if set(keys) != committed:
        errs.append(f"lineage epochs {len(set(keys))} != committed delta epochs {len(committed)}")
    if expect_epochs is not None and sorted(e for _s, e in keys) != sorted(expect_epochs):
        errs.append("lineage epochs differ from the replayed epochs")
    if expect_rows is not None and sum(r["rows_in"] for r in applied) != expect_rows:
        errs.append("lineage rows_in does not sum to the input rows")
    return errs


def read_meta(table_path: str) -> dict:
    meta_dir = os.path.join(table_path, "_meta")
    with open(os.path.join(meta_dir, "version-hint.text")) as f:
        v = int(f.read().strip())
    while os.path.exists(os.path.join(meta_dir, f"v{v + 1}.json")):
        v += 1
    with open(os.path.join(meta_dir, f"v{v}.json")) as f:
        return json.load(f)


def corrupt_copy(table_path: str, dest: str) -> str:
    """Copy of the table's metadata that forgets one delta file set: the
    newest metadata version loses the last delta entry of the first bucket
    that has one. Data directories are shared by symlink, so the copy is
    cheap; only ``_meta`` differs. Used by the self-test to prove the
    oracle catches a lost commit."""
    import shutil

    os.makedirs(dest)
    shutil.copytree(os.path.join(table_path, "_meta"), os.path.join(dest, "_meta"))
    os.symlink(os.path.abspath(os.path.join(table_path, "data")), os.path.join(dest, "data"))
    meta = read_meta(dest)
    for slot in meta["files"].values():
        if slot["deltas"]:
            slot["deltas"].pop()
            break
    else:
        raise ValueError("table has no delta entry to drop")
    with open(os.path.join(dest, "_meta", f"v{meta['version']}.json"), "w") as f:
        json.dump(meta, f)
    return dest
