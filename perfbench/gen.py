"""Seeded change-log generator for the benchmark, independent of the engine.

A change log is a directory of ``epoch=NNNNN/`` parquet directories in the
engine's change schema (op, conv_id, turn_idx, role, text, tool, ts, op_ts,
lsn; ``lang`` from the evolve epoch on). The fixture shape follows the
repository's FIXTURES.md: ops U/I/D at 70/20/10 %, ~5 % verbatim duplicates,
~5 % re-emissions with a newer lsn, ~5 % events late by 48 h, and Zipf-like
skew of conversations. ``lsn`` is unique per row except for verbatim copies,
which are bit-identical, so the last-writer-wins winner of every key is
unique and an oracle can compute it independently.

Logs are a pure function of their spec and seed, so they are written once
under ``perfbench/.cache/<key>/`` and reused.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

CACHE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")

SKEW_EXP = 3.5
TURNS_PER_CONV = 40
BASE_TS_US = 1_735_689_600 * 1_000_000  # 2025-01-01 00:00:00 UTC
LATE_US = 172_800 * 1_000_000
_VOCAB = np.array((
    "the quick spark stream merge upsert table scan filter window join "
    "group sort shuffle partition bucket salt skew epoch snapshot schema "
    "column row batch commit lineage offset replay checkpoint delta key "
    "value turn conversation agent tool user assistant system reply plan"
).split(), dtype=object)
_ROLES = np.array(["user", "assistant", "system", "tool"], dtype=object)
_LANGS = np.array(["en", "es", "de", "fr", "zh"], dtype=object)
_TOOLS = np.array([f"tool_{i:02d}" for i in range(20)], dtype=object)


def conv_id(rank) -> np.ndarray:
    return np.char.add("conv_", np.char.zfill(np.asarray(rank).astype(str), 8)).astype(object)


def _text(rng: np.random.Generator, n: int) -> pa.Array:
    nwords = rng.integers(2, 24, n)
    offsets = np.concatenate([[0], np.cumsum(nwords)]).astype(np.int32)
    words = pa.array(_VOCAB[rng.integers(0, len(_VOCAB), int(offsets[-1]))], pa.string())
    return pc.binary_join(pa.ListArray.from_arrays(pa.array(offsets), words), " ")


def _epoch_table(rng: np.random.Generator, lo: int, hi: int, n_convs: int,
                 with_lang: bool) -> pa.Table:
    """Rows ``lo..hi-1`` of the log; row ids are global lsns."""
    n = hi - lo
    ids = np.arange(lo, hi, dtype=np.int64)
    raw_dup = rng.integers(0, 20, n + 1)  # [i] describes row lo+i-1
    # the first row of an epoch never duplicates: its predecessor lives in
    # the previous epoch, whose attributes were drawn there
    is_dup = (raw_dup[1:] < 2) & (raw_dup[:-1] >= 2) & (ids > lo)
    verbatim = is_dup & (raw_dup[1:] == 0)
    # a duplicate copies the previous row's logical event: draw every
    # attribute for row i-1 and row i, then pick per row
    attrs = {
        "u": rng.random(n + 1),
        "turn": rng.integers(0, TURNS_PER_CONV, n + 1),
        "role": rng.integers(0, 4, n + 1),
        "tool": rng.integers(0, 20, n + 1),
        "op": rng.integers(0, 100, n + 1),
        "late": rng.integers(0, 100, n + 1) < 5,
    }
    src_pos = np.arange(1, n + 1) - is_dup  # index into the n+1 arrays
    a = {k: v[src_pos] for k, v in attrs.items()}
    src = ids - is_dup
    rank = np.floor(n_convs * a["u"] ** SKEW_EXP).astype(np.int64)
    op = np.where(a["op"] < 70, "U", np.where(a["op"] < 90, "I", "D"))
    delete = op == "D"
    ts = BASE_TS_US + (rank * 86_400 // n_convs + a["turn"] * 60) * 1_000_000
    op_ts = BASE_TS_US + src * 1_000_000 - np.where(a["late"], LATE_US, 0)
    lsn = np.where(verbatim, src, ids)
    # verbatim copies carry the original's text: draw text per source row
    text = _text(rng, n + 1).take(pa.array(src_pos))
    null = pa.array(delete)
    none = pa.scalar(None, pa.string())
    tool = pa.array(_TOOLS).take(pa.array(a["tool"]))
    cols = {
        "op": pa.array(op, pa.string()),
        "conv_id": pa.array(conv_id(np.arange(n_convs))).take(pa.array(rank)),
        "turn_idx": pa.array(a["turn"].astype(np.int32)),
        "role": pc.if_else(null, none, pa.array(_ROLES).take(pa.array(a["role"]))),
        "text": pc.if_else(null, none, text),
        "tool": pc.if_else(pa.array(delete | (a["role"] == 0)), none, tool),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "op_ts": pa.array(op_ts, pa.timestamp("us", tz="UTC")),
        "lsn": pa.array(lsn, pa.int64()),
    }
    if with_lang:
        # a stable per-conversation language
        lang_of_rank = pa.array(_LANGS[(np.arange(n_convs) * 2654435761 >> 7) % 5])
        cols["lang"] = pc.if_else(null, none, lang_of_rank.take(pa.array(rank)))
    schema = pa.schema([
        pa.field("op", pa.string(), nullable=False),
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32()),
        pa.field("role", pa.string()),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us", tz="UTC")),
        pa.field("op_ts", pa.timestamp("us", tz="UTC"), nullable=False),
        pa.field("lsn", pa.int64(), nullable=False),
    ] + ([pa.field("lang", pa.string())] if with_lang else []))
    return pa.table(cols, schema=schema)


def write_log(path: str, seed: int, epochs: int, events_per_epoch: int,
              n_convs: int, evolve_from: int | None = None,
              files_per_epoch: int = 1) -> None:
    """Write ``epochs`` epoch directories of ``events_per_epoch`` rows."""
    rng = np.random.default_rng(seed)
    for e in range(epochs):
        lo = e * events_per_epoch
        t = _epoch_table(rng, lo, lo + events_per_epoch, n_convs,
                         evolve_from is not None and e >= evolve_from)
        d = os.path.join(path, f"epoch={e:05d}")
        os.makedirs(d)
        step = -(-t.num_rows // files_per_epoch)
        for i in range(files_per_epoch):
            pq.write_table(t.slice(i * step, step), os.path.join(d, f"part-{i:05d}.parquet"),
                           compression="snappy")


def cached_log(name: str, seed: int, **spec) -> str:
    """Path of the log for (name, seed, spec), generating it on first use.
    A finished log is published by one rename, so a killed run never
    leaves a partial log under the key."""
    key = hashlib.sha256(json.dumps([name, seed, spec], sort_keys=True).encode()).hexdigest()[:16]
    path = os.path.join(CACHE_DIR, f"{name}-s{seed}-{key}")
    if not os.path.isdir(path):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        write_log(tmp, seed, **spec)
        try:
            os.rename(tmp, path)
        except OSError:
            if not os.path.isdir(path):
                raise
            shutil.rmtree(tmp)  # a concurrent run published the same log first
    return path
