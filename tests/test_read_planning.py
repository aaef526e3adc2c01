"""Read planning without Spark jobs.

A point lookup hashes its bucket on the driver (``lake.table.bucket_of``)
instead of evaluating ``xxhash64`` in a one-row DataFrame, and every scan
reads its file sets with the schema the metadata declares for them
instead of inferring it from parquet footers. These tests pin the two
contracts that makes safe: the driver hash is bit-identical to Spark's
bucket expression, and every committed file set's footer holds exactly the
declared columns and types.
"""

import datetime as dt
import os
import random
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_spark.cdc.apply import apply_batch
from etl_spark.cdc.engine import CHANGE_SCHEMA, TRANSCRIPT_SCHEMA, CdcEngine
from etl_spark.cdc.maintenance import (
    delete_conversations,
    expunge_tombstones,
    update_where,
)
from etl_spark.lake.table import LakeTable, bucket_of

TS = lambda s: dt.datetime.fromisoformat(s)
BUCKET_COUNTS = (1, 2, 7, 16, 97)


def _spark_buckets(spark, values, dtype):
    df = spark.createDataFrame([(v,) for v in values],
                               T.StructType([T.StructField("k", dtype)]))
    cols = [F.pmod(F.xxhash64("k"), F.lit(n)).cast("int").alias(f"b{n}")
            for n in BUCKET_COUNTS]
    return df.select("k", *cols).collect()


def _assert_parity(spark, values, dtype, key_type):
    rows = _spark_buckets(spark, values, dtype)
    assert len(rows) == len(values)
    for r in rows:
        for n in BUCKET_COUNTS:
            assert bucket_of(r["k"], key_type, n) == r[f"b{n}"], (r["k"], n)


def test_driver_hash_matches_spark_for_strings(spark):
    """Lengths 0-100 walk every XXH64 tail (32-byte stripes, then 8-, 4-
    and 1-byte steps); the alphabet mixes 1- to 4-byte UTF-8 sequences."""
    rnd = random.Random(11)
    alphabet = "abcXYZ019 _-/ßé中文🙂"
    values = ["".join(rnd.choice(alphabet) for _ in range(n)) for n in range(101)]
    values += ["conv-000042", "é" * 40, "🙂" * 9, None]
    _assert_parity(spark, values, T.StringType(), "string")


def test_driver_hash_matches_spark_for_ints(spark):
    rnd = random.Random(12)
    ints = [0, 1, -1, 2**31 - 1, -2**31] + [rnd.randint(-2**31, 2**31 - 1)
                                              for _ in range(60)] + [None]
    _assert_parity(spark, ints, T.IntegerType(), "int")
    longs = [0, 1, -1, 2**63 - 1, -2**63, 2**40] + [rnd.randint(-2**63, 2**63 - 1)
                                                   for _ in range(60)] + [None]
    _assert_parity(spark, longs, T.LongType(), "bigint")


def test_driver_hash_rejects_what_it_cannot_match():
    with pytest.raises(TypeError, match="not 'double'"):
        bucket_of(1.5, "double", 4)
    with pytest.raises(TypeError, match="needs a str"):
        bucket_of(7, "string", 4)
    with pytest.raises(TypeError, match="needs an int"):
        bucket_of("7", "int", 4)
    with pytest.raises(ValueError, match="does not fit"):
        bucket_of(2**31, "int", 4)


def test_int_bucket_key_lookup_finds_every_row(spark, tmp_path):
    """A table bucketed on an INT column: the write path hashes the key as
    4 bytes, so the lookup must too. Inferring the literal's type from the
    Python value (bigint, 8 bytes) sent most lookups to the wrong bucket."""
    t = LakeTable.create(spark, str(tmp_path / "tbl"), TRANSCRIPT_SCHEMA,
                         num_buckets=8, bucket_key="turn_idx")
    rows = [("I", "c", i, "user", f"t{i}", None, TS("2025-01-01 00:00:00"),
             TS("2025-01-01 00:00:01"), i) for i in range(50)]
    apply_batch(t, spark.createDataFrame(rows, schema=CHANGE_SCHEMA), epoch=0)
    assert len({t.bucket_of(i) for i in range(50)}) == 8
    for i in range(50):
        assert [r.text for r in t.lookup(i).collect()] == [f"t{i}"]


# -- the declared read schema --------------------------------------------------

_ARROW_TO_SPARK = [
    (pa.types.is_string, "string"), (pa.types.is_large_string, "string"),
    (pa.types.is_int8, "tinyint"), (pa.types.is_int16, "smallint"),
    (pa.types.is_int32, "int"), (pa.types.is_int64, "bigint"),
    (pa.types.is_float32, "float"), (pa.types.is_float64, "double"),
    (pa.types.is_boolean, "boolean"), (pa.types.is_date32, "date"),
]


def _spark_type(t: pa.DataType) -> str:
    if pa.types.is_timestamp(t):
        return "timestamp" if t.tz is not None else "timestamp_ntz"
    for pred, name in _ARROW_TO_SPARK:
        if pred(t):
            return name
    raise AssertionError(f"unmapped parquet type {t}")


def _assert_footers_match_declared(t: LakeTable) -> int:
    """Every parquet file of every live file set holds exactly the columns
    and types ``_file_schema`` declares for the entry's schema version."""
    t.refresh()
    checked = 0
    for slot in t._meta["files"].values():
        for entry in t._base_entries(slot) + slot["deltas"]:
            want = {f.name: f.dataType.simpleString()
                    for f in t._file_schema(entry["schema_version"]).fields}
            for root, _dirs, names in os.walk(os.path.join(t.path, entry["path"])):
                for n in names:
                    if not n.endswith(".parquet"):
                        continue
                    sch = pq.read_schema(os.path.join(root, n))
                    got = {f.name: _spark_type(f.type) for f in sch}
                    assert got == want, (entry["path"], entry["schema_version"])
                    checked += 1
    return checked


def test_committed_files_match_declared_schema(spark, tmp_path):
    """``read_buckets`` no longer infers a file set's schema, so every
    writer must leave footers that match the schema version its metadata
    entry names — through evolution, DML and every maintenance rewrite."""
    eng = CdcEngine(spark, str(tmp_path / "tbl"), num_buckets=4)
    t = eng.table
    base_ts = TS("2025-01-01 00:00:00")
    lsn = iter(range(1, 10_000))

    def batch(conv, n, extra=None, schema=CHANGE_SCHEMA, turn0=0):
        return spark.createDataFrame([
            ("I", f"{conv}{i % 5}", turn0 + i, "user", f"{conv}-{i}", None,
             base_ts + dt.timedelta(hours=i), base_ts + dt.timedelta(seconds=next(lsn)),
             next(lsn), *([extra] if extra is not None else []))
            for i in range(n)
        ], schema)

    def with_field(name, dtype, base=CHANGE_SCHEMA, replace=None):
        fields = [T.StructField(name, dtype, True) if f.name == replace else f
                  for f in base.fields]
        if replace is None:
            fields.append(T.StructField(name, dtype, True))
        return T.StructType(fields)

    epoch = iter(range(100))
    apply_batch(t, batch("a", 20), epoch=next(epoch))
    checks = [_assert_footers_match_declared(t)]

    # add a column
    lang = with_field("lang", T.StringType())
    apply_batch(t, batch("b", 20, extra="en", schema=lang), epoch=next(epoch))
    checks.append(_assert_footers_match_declared(t))

    # widen turn_idx int -> bigint
    wide = with_field("turn_idx", T.LongType(), base=lang, replace="turn_idx")
    apply_batch(t, batch("c", 10, extra="fr", schema=wide, turn0=2**40),
                epoch=next(epoch))
    checks.append(_assert_footers_match_declared(t))

    # rename, then write under the new name
    t.rename_column("tool", "tool_name")
    renamed = T.StructType([T.StructField("tool_name", f.dataType, f.nullable)
                            if f.name == "tool" else f for f in wide.fields])
    apply_batch(t, batch("d", 10, extra="de", schema=renamed), epoch=next(epoch))
    checks.append(_assert_footers_match_declared(t))

    # drop and re-add a column (fresh field id)
    t.drop_column("lang")
    apply_batch(t, batch("e", 10, extra="it", schema=renamed), epoch=next(epoch))
    checks.append(_assert_footers_match_declared(t))

    # DML, GDPR delete, compaction, expunge, rebucket
    update_where(t, {"role": "'assistant'"}, "conv_id = 'c0'", request_id=1)
    checks.append(_assert_footers_match_declared(t))
    delete_conversations(t, ["a0", "b1"], request_id=1)
    checks.append(_assert_footers_match_declared(t))
    t.compact(list(range(t.num_buckets)))
    checks.append(_assert_footers_match_declared(t))
    assert expunge_tombstones(t, "2100-01-01 00:00:00") is not None
    checks.append(_assert_footers_match_declared(t))
    t.rebucket(3)
    checks.append(_assert_footers_match_declared(t))

    assert all(n > 0 for n in checks), checks
    # the declared read still returns every live row with the right values
    got = {(r.conv_id, r.turn_idx): r.lang for r in t.snapshot_df().collect()}
    assert ("a0", 0) not in got and len(got) == 70 - 8
    assert got[("e0", 0)] == "it" and got[("b2", 2)] is None  # readd never resurrects


def _three_epoch_table(spark, path, evolve=False):
    """40 keys updated in three epochs; ``evolve`` adds a column in the last."""
    t = CdcEngine(spark, path, num_buckets=4).table
    for e in range(3):
        rows = [("U", f"c{i}", e, "user", f"v{e}", None, TS("2025-01-01 00:00:00"),
                 TS("2025-01-01 00:00:00") + dt.timedelta(minutes=e), e * 100 + i)
                for i in range(40)]
        df = spark.createDataFrame(rows, schema=CHANGE_SCHEMA)
        if evolve and e == 2:
            df = df.withColumn("lang", F.lit("en"))
        apply_batch(t, df, epoch=e)
    return t


def test_read_planning_launches_no_jobs(spark, tmp_path):
    """Building the frames of lookup / snapshot_df / changes_between runs
    no Spark job; the caller's action is the first."""
    t = _three_epoch_table(spark, str(tmp_path / "tbl"))
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    plans = {
        "lookup": lambda: t.lookup("c7"),
        "snapshot": lambda: t.snapshot_df(),
        "window": lambda: t.snapshot_df(ts_min="2025-01-01 00:00:00",
                                        ts_max="2025-01-02 00:00:00"),
        "diff": lambda: t.changes_between(t.version - 2),
    }
    try:
        for name, plan in plans.items():
            group = f"plan-{name}-{uuid.uuid4().hex[:8]}"
            sc.setJobGroup(group, name)
            df = plan()
            assert list(tracker.getJobIdsForGroup(group)) == [], name
            assert df.count() > 0
            assert list(tracker.getJobIdsForGroup(group)), name
    finally:
        sc.setJobGroup("", "")


# -- py4j round trips per plan -------------------------------------------------

# py4j round trips the calling thread makes to build each frame on a
# two-schema-version table. Measured on PySpark 4.1.2: lookup 121,
# snapshot_df 122, changes_between 255 — against 1 065, 1 046 and 3 180
# with call-site capture on and projections built as Column chains.
PY4J_BUDGET = {"lookup": 150, "snapshot": 150, "diff": 300}


def test_get_spark_turns_call_site_capture_off(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()


def test_read_plans_fit_py4j_budget(spark, tmp_path):
    import gc
    import threading

    t = _three_epoch_table(spark, str(tmp_path / "tbl"), evolve=True)
    assert len(t._meta["schemas"]) == 2
    plans = {
        "lookup": lambda: t.lookup("c7"),
        "snapshot": lambda: t.snapshot_df(),
        "diff": lambda: t.changes_between(t.version - 2),
    }
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = [0]
    builder = threading.get_ident()

    def counted(*args, **kwargs):
        # py4j's finalizer thread releases dead JVM references on its own
        # schedule; only the building thread's round trips are the plan's
        if threading.get_ident() == builder:
            calls[0] += 1
        return send(*args, **kwargs)

    used = {}
    for name, plan in plans.items():
        plan()  # warm the per-process caches (type parsing, JVM classes)
        gc.collect()  # release earlier frames outside the counted window
        gc.disable()
        client.send_command = counted
        try:
            calls[0] = 0
            df = plan()
            used[name] = calls[0]
        finally:
            client.send_command = send
            gc.enable()
        assert df.count() > 0, name
        del df
    assert all(used[n] <= PY4J_BUDGET[n] for n in plans), used


def test_submit_entry_point_session_takes_engine_conf(tmp_path):
    """The spark-submit entry point builds its own session. It must get the
    engine's SQL confs: int64-micros timestamps, whose footers carry the
    min/max that window pruning reads (legacy INT96 has none), and
    call-site capture off. Runs in a fresh process, because the flag is a
    static conf that only a session-creating builder can set."""
    import json
    import subprocess
    import sys
    import textwrap

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = str(tmp_path / "ts")
    probe = textwrap.dedent("""
        import datetime, importlib.util, json, sys
        from pyspark.errors.utils import is_debugging_enabled
        spec = importlib.util.spec_from_file_location("submit_replay", sys.argv[1])
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        spark = mod.session()
        spark.createDataFrame([(datetime.datetime(2025, 1, 1),)], "ts timestamp") \\
            .coalesce(1).write.parquet(sys.argv[2])
        print(json.dumps({
            "debugging": spark.conf.get("spark.python.sql.dataFrameDebugging.enabled"),
            "captures": is_debugging_enabled(),
        }))
        spark.stop()
    """)
    env = dict(os.environ, PYTHONPATH=repo,
               PYSPARK_SUBMIT_ARGS="--master local[1] --driver-memory 512m pyspark-shell")
    res = subprocess.run(
        [sys.executable, "-c", probe, os.path.join(repo, "scripts", "submit_replay.py"), out],
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    got = json.loads(res.stdout.strip().splitlines()[-1])
    assert got == {"debugging": "false", "captures": False}
    part = next(n for n in os.listdir(out) if n.endswith(".parquet"))
    meta = pq.ParquetFile(os.path.join(out, part)).metadata
    col = meta.schema.column(0)
    assert (col.physical_type, col.converted_type) == ("INT64", "TIMESTAMP_MICROS")
    assert meta.row_group(0).column(0).statistics.has_min_max


# -- coerce_expr's array branch ------------------------------------------------

def test_array_of_struct_evolution_reads_back(spark, tmp_path):
    """An ``array<struct<...>>`` column whose element gains a field and
    whose inner int widens to bigint. Rows written before the change read
    the new field as NULL and the widened one at the new type; a NULL
    array and a NULL element stay NULL — through the folded snapshot,
    a point lookup and a compacted base."""
    old_item = T.StructType([T.StructField("a", T.IntegerType()),
                             T.StructField("b", T.StringType())])
    new_item = T.StructType([T.StructField("a", T.LongType()),
                             T.StructField("b", T.StringType()),
                             T.StructField("c", T.StringType())])

    def schema(item):
        return T.StructType(CHANGE_SCHEMA.fields
                            + [T.StructField("items", T.ArrayType(item))])

    def row(conv, lsn, items):
        return ("I", conv, 0, "user", conv, None, TS("2025-01-01 00:00:00"),
                TS("2025-01-01 00:00:00") + dt.timedelta(seconds=lsn), lsn, items)

    t = CdcEngine(spark, str(tmp_path / "tbl"), num_buckets=4).table
    apply_batch(t, spark.createDataFrame([
        row("old", 1, [(1, "x"), None, (2, None)]),
        row("nul", 2, None),
        row("emp", 3, []),
    ], schema(old_item)), epoch=0)
    apply_batch(t, spark.createDataFrame([
        row("new", 4, [(2**40, "y", "z")]),
    ], schema(new_item)), epoch=1)
    assert dict((f.name, f.type) for f in t.schema().fields)["items"] == \
        "array<struct<a:bigint,b:string,c:string>>"

    want = {
        "old": [(1, "x", None), None, (2, None, None)],
        "nul": None,
        "emp": [],
        "new": [(2**40, "y", "z")],
    }

    def items(rows):
        return {r.conv_id: None if r["items"] is None else
                [None if e is None else (e.a, e.b, e.c) for e in r["items"]]
                for r in rows}

    def check():
        snap = t.snapshot_df()
        assert snap.schema["items"].dataType == T.ArrayType(new_item)
        assert items(snap.collect()) == want
        for conv in want:
            assert items(t.lookup(conv).collect()) == {conv: want[conv]}

    check()
    t.compact(list(range(t.num_buckets)))
    t.refresh()
    assert all(not slot["deltas"] for slot in t._meta["files"].values())
    check()
