"""Field-ID-based table schema with add/widen evolution.

Reproduces the reference's schema-evolution semantics — diff desired vs
live columns, add the missing ones, never narrow — from
/root/reference/etl/dags/user_history/include/user_history/
insert_user_history.sql:15-42 (UNNEST diff → ALTER TABLE ADD COLUMN) and
/root/reference/dataproc-appsflyer/spark_job_data_locker.py:283-312
(set(source) - set(dest) → append NULLABLE columns), generalized with
Iceberg-style stable field IDs so renames/readds can't silently remap data.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import lru_cache

from pyspark.sql import DataFrame
from pyspark.sql import types as T

# (from_type -> to_type) promotions that are lossless, per Iceberg's spec.
_WIDEN_OK = {
    ("int", "bigint"),
    ("smallint", "int"),
    ("smallint", "bigint"),
    ("tinyint", "smallint"),
    ("tinyint", "int"),
    ("tinyint", "bigint"),
    ("float", "double"),
    ("date", "timestamp"),
}


@dataclass(frozen=True)
class Field:
    id: int
    name: str
    type: str  # Spark DDL simpleString, e.g. "bigint", "string", "timestamp"
    nullable: bool = True

    def to_json(self) -> dict:
        return {"id": self.id, "name": self.name, "type": self.type, "nullable": self.nullable}

    @staticmethod
    def from_json(d: dict) -> "Field":
        return Field(d["id"], d["name"], d["type"], d.get("nullable", True))


@dataclass
class TableSchema:
    fields: list[Field]
    next_field_id: int

    @staticmethod
    def from_struct(st: T.StructType, start_id: int = 1) -> "TableSchema":
        fields = [
            Field(start_id + i, f.name, f.dataType.simpleString(), f.nullable)
            for i, f in enumerate(st.fields)
        ]
        return TableSchema(fields, start_id + len(fields))

    def to_struct(self) -> T.StructType:
        return T.StructType(
            [T.StructField(f.name, _parse_type(f.type), f.nullable) for f in self.fields]
        )

    def to_json(self) -> dict:
        return {"fields": [f.to_json() for f in self.fields], "next_field_id": self.next_field_id}

    @staticmethod
    def from_json(d: dict) -> "TableSchema":
        return TableSchema([Field.from_json(f) for f in d["fields"]], d["next_field_id"])

    def names(self) -> list[str]:
        return [f.name for f in self.fields]

    def by_id(self) -> dict[int, Field]:
        return {f.id: f for f in self.fields}

    def rename_column(self, old: str, new: str) -> tuple["TableSchema", str]:
        """Rename a column keeping its field ID (Iceberg-style): data files
        written under the old name keep resolving via the ID, and a later
        re-add of ``old`` gets a fresh ID that never remaps old bytes."""
        names = {f.name for f in self.fields}
        if old not in names:
            raise ValueError(f"no such column: {old!r}")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        fields = [
            Field(f.id, new, f.type, f.nullable) if f.name == old else f
            for f in self.fields
        ]
        f = next(f for f in self.fields if f.name == old)
        return TableSchema(fields, self.next_field_id), f"rename {old} -> {new} (id={f.id})"

    def drop_column(self, name: str) -> tuple["TableSchema", str]:
        """Drop a column (metadata-only). Its field ID is retired forever:
        a later add of the same name allocates a new ID, so old data files
        do NOT resurrect under the re-added column (Iceberg semantics)."""
        f = next((f for f in self.fields if f.name == name), None)
        if f is None:
            raise ValueError(f"no such column: {name!r}")
        return (
            TableSchema([x for x in self.fields if x.name != name], self.next_field_id),
            f"drop {name} (id={f.id})",
        )

    # -- evolution ---------------------------------------------------------

    def evolve_to_accept(self, incoming: T.StructType) -> tuple["TableSchema", list[str]]:
        """Return (new schema, change log) such that ``incoming`` rows fit.

        Adds unseen columns with fresh field IDs; widens existing columns
        along _WIDEN_OK; raises on any narrowing / incompatible change.
        Column identity is by name for incoming data (like the reference's
        name-based diff) but preserved by ID once in the table.
        """
        by_name = {f.name: f for f in self.fields}
        new_fields = list(self.fields)
        next_id = self.next_field_id
        changes: list[str] = []
        for inc in incoming.fields:
            t = inc.dataType.simpleString()
            if t == "void":
                # an all-NULL column (createDataFrame inference) fits any
                # existing type and carries no type to add a new column with
                continue
            cur = by_name.get(inc.name)
            if cur is None:
                new_fields.append(Field(next_id, inc.name, t, True))
                changes.append(f"add {inc.name}:{t} (id={next_id})")
                next_id += 1
            elif cur.type != t:
                if (cur.type, t) in _WIDEN_OK:
                    i = new_fields.index(cur)
                    new_fields[i] = Field(cur.id, cur.name, t, cur.nullable)
                    changes.append(f"widen {inc.name}: {cur.type} -> {t} (id={cur.id})")
                elif (t, cur.type) in _WIDEN_OK:
                    pass  # incoming is narrower — table type already covers it
                else:
                    w = widen_type(_parse_type(cur.type), inc.dataType)
                    if w is None:
                        raise ValueError(
                            f"incompatible schema change for column {inc.name!r}: "
                            f"table has {cur.type}, incoming has {t}"
                        )
                    wddl = w.simpleString()
                    if wddl != cur.type:
                        i = new_fields.index(cur)
                        new_fields[i] = Field(cur.id, cur.name, wddl, cur.nullable)
                        changes.append(
                            f"widen {inc.name}: {cur.type} -> {wddl} (id={cur.id})"
                        )
        return TableSchema(new_fields, next_id), changes


# Parsing goes through the JVM (one py4j round trip); a table has few
# distinct type strings and every read plan re-parses them per column.
@lru_cache(maxsize=1024)
def _parse_type(ddl: str) -> T.DataType:
    return T.StructType.fromDDL(f"`x` {ddl}")[0].dataType


def _leaf_widen_ok(cur: T.DataType, inc: T.DataType) -> bool:
    return (cur.simpleString(), inc.simpleString()) in _WIDEN_OK


def widen_type(cur: T.DataType, inc: T.DataType) -> T.DataType | None:
    """The narrowest type accepting both, or None if incompatible.

    Structs widen FIELD-WISE (the reference's embedded-context reality:
    SDK releases append fields inside ctx_* structs): matching inner
    fields widen recursively, fields unique to either side are kept
    (readers NULL-fill what a file lacks). Arrays widen element-wise.
    Leaf types follow _WIDEN_OK.
    """
    if cur == inc:
        return cur
    # void (all-NULL inference) widens to anything, in either direction:
    # a NullType inner field says nothing about the real type, so the
    # other side wins — mirrors the top-level evolve_to_accept void skip
    # and heals tables where an old void field later arrives typed.
    if isinstance(cur, T.NullType):
        return inc
    if isinstance(inc, T.NullType):
        return cur
    if isinstance(cur, T.StructType) and isinstance(inc, T.StructType):
        by_name = {f.name: f for f in inc.fields}
        out, seen = [], set()
        for f in cur.fields:
            g = by_name.get(f.name)
            if g is None:
                out.append(f)
            else:
                w = widen_type(f.dataType, g.dataType)
                if w is None:
                    return None
                out.append(T.StructField(f.name, w, True))
            seen.add(f.name)
        out.extend(
            # incoming-unique void fields carry no type information —
            # skip them rather than bake void into the table schema
            T.StructField(g.name, g.dataType, True)
            for g in inc.fields
            if g.name not in seen and not isinstance(g.dataType, T.NullType)
        )
        return T.StructType(out)
    if isinstance(cur, T.ArrayType) and isinstance(inc, T.ArrayType):
        w = widen_type(cur.elementType, inc.elementType)
        return None if w is None else T.ArrayType(w, True)
    if _leaf_widen_ok(cur, inc):
        return inc
    if _leaf_widen_ok(inc, cur):
        return cur
    return None


def quote(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _sql_string(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def coerce_expr(ref: str, src: T.DataType, dst: T.DataType, depth: int = 0) -> str:
    """Read-side coercion of a written column to the current type, as a
    SQL expression over the SQL reference ``ref`` (a quoted column).

    Plain CAST cannot EXTEND a struct (Spark requires equal field
    counts), so structs are rebuilt field-by-field — fields the file
    lacks become NULL, matching fields coerce recursively — while a
    NULL struct row stays NULL (a rebuilt struct of NULL fields is not
    the same thing). Arrays recurse through ``transform(x, e -> ...)``
    (``depth`` keeps nested lambda variables distinct). Everything else
    is an ordinary cast.

    Projections are built as SQL strings because building them as Column
    chains costs several py4j round trips per column and nested field.
    """
    if src == dst:
        return ref
    if isinstance(src, T.StructType) and isinstance(dst, T.StructType):
        by_name = {f.name: f for f in src.fields}
        parts = []
        for f in dst.fields:
            g = by_name.get(f.name)
            value = (
                f"CAST(NULL AS {f.dataType.simpleString()})" if g is None
                else coerce_expr(f"{ref}.{quote(f.name)}", g.dataType,
                                 f.dataType, depth)
            )
            parts.append(f"{_sql_string(f.name)}, {value}")
        return f"IF({ref} IS NULL, NULL, named_struct({', '.join(parts)}))"
    if isinstance(src, T.ArrayType) and isinstance(dst, T.ArrayType):
        x = f"_e{depth}"
        inner = coerce_expr(x, src.elementType, dst.elementType, depth + 1)
        return f"transform({ref}, {x} -> {inner})"
    return f"CAST({ref} AS {dst.simpleString()})"


def project_written(
    df: DataFrame,
    written: TableSchema,
    current: TableSchema,
    keep_extra: list[str] | None = None,
) -> DataFrame:
    """Read-side schema resolution BY FIELD ID (Iceberg-style name mapping).

    ``df`` holds rows of a data file set written under schema ``written``;
    project it onto ``current``: each current field resolves to the written
    column with the SAME FIELD ID (whatever it was named at write time),
    cast to the current (possibly widened) type. Current fields with no
    ID match in the written schema — added later, or dropped-and-readded
    under a recycled name — are NULL-filled, never name-matched, so a
    readd can't resurrect old bytes (the guarantee name-based alignment
    cannot give). ``keep_extra`` engine internals pass through by name.
    """
    have = set(df.columns)
    written_by_id = written.by_id()
    exprs = []
    for f in current.fields:
        w = written_by_id.get(f.id)
        if w is not None and w.name in have:
            e = coerce_expr(quote(w.name), _parse_type(w.type), _parse_type(f.type))
        else:
            e = f"CAST(NULL AS {f.type})"
        exprs.append(f"{e} AS {quote(f.name)}")
    return df.selectExpr(*exprs, *[quote(n) for n in keep_extra or [] if n in have])


def align(df: DataFrame, schema: TableSchema, keep_extra: list[str] | None = None) -> DataFrame:
    """Project ``df`` onto ``schema``: cast present columns, NULL-fill missing.

    ``keep_extra`` columns (engine internals like _op_ts/_lsn) pass through
    unchanged if present. This is the read-side of schema evolution — old
    data files keep their written schema; alignment happens at scan time
    (Iceberg-style schema-on-read).
    """
    have = {f.name: f.dataType for f in df.schema.fields}
    exprs = []
    for f in schema.fields:
        if f.name in have:
            e = coerce_expr(quote(f.name), have[f.name], _parse_type(f.type))
        else:
            e = f"CAST(NULL AS {f.type})"
        exprs.append(f"{e} AS {quote(f.name)}")
    return df.selectExpr(*exprs, *[quote(n) for n in keep_extra or [] if n in have])
