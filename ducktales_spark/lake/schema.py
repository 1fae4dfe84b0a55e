"""Versioned table schemas with field ids.

The reference evolves schemas transactionally (add column with default
``demos/03_schema_evolution/demo.py:118``, add+backfill ``:140-158``, drop
``:195``, rename ``:196``, ``SET NOT NULL`` ``:221``) and every snapshot
records a ``schema_version`` (``demos/03_schema_evolution/demo.py:233-243``).

We model a schema as an ordered list of :class:`Field` with stable integer
``field_id``s. Parquet resolves columns **by name**, so renames never rewrite
data files: each data file records the ``schema_version`` it was written
under, and the read path maps that version's stored names -> current names by
field id (SURVEY.md §1.3). Dropped columns are simply not selected; columns
added after a file was written are filled with the field's default.

Everything serializes to JSON for the catalog DB (one row per
(table, schema_version)).
"""

from __future__ import annotations

import base64
import datetime as _dt
import json
from dataclasses import dataclass, field as _field
from decimal import Decimal
from functools import lru_cache
from typing import Any

from pyspark.sql import Row
from pyspark.sql.types import DataType, StructField, StructType


@dataclass(frozen=True)
class Field:
    field_id: int
    name: str
    type: str  # Spark DDL type string, e.g. "int", "decimal(10,2)", "array<float>"
    nullable: bool = True
    # JSON-encodable default. Either a plain literal (value_to_json form) or
    # an expression marker {"$expr": "<sql>", "$frozen": <literal>}:
    # "$expr" is re-evaluated at every INSERT (DEFAULT CURRENT_TIMESTAMP gets
    # a fresh value per write — demos/05_catalog_portability/demo.py:224);
    # "$frozen" is the expression's value at DDL time, used to fill rows that
    # PREDATE the column (DuckDB ALTER ADD COLUMN evaluates the default once
    # for existing rows).
    default: Any = None


@dataclass(frozen=True)
class TableSchema:
    fields: tuple  # tuple[Field, ...]
    primary_key: tuple = ()  # column names (current names)
    # Clustering spec: writes range-repartition on these columns so each data
    # file covers a narrow min/max interval, which makes the catalog's
    # stats-based file skipping (stats.py) act as partition pruning — the
    # 100 TB analog of hive partitioning without encoding values in paths.
    partition_by: tuple = ()
    # Z-order spec (Delta's clustered-table analog): recorded by
    # optimize(..., zorder_by) / ALTER TABLE ... SET ZORDER BY so that
    # compact() and every later optimize() RE-APPLY the multi-dimensional
    # clustering instead of silently destroying it — an optimize is a
    # full-table rewrite; its effect must survive routine maintenance.
    zorder_by: tuple = ()

    # -- conversions ------------------------------------------------------
    def to_struct(self) -> StructType:
        return StructType(
            [
                StructField(f.name, ddl_type(f.type), f.nullable)
                for f in self.fields
            ]
        )

    @staticmethod
    def from_struct(st: StructType, primary_key=(), partition_by=()) -> "TableSchema":
        fields = tuple(
            Field(i + 1, f.name, f.dataType.simpleString(), f.nullable)
            for i, f in enumerate(st.fields)
        )
        return TableSchema(fields, tuple(primary_key), tuple(partition_by))

    def to_json(self) -> str:
        return json.dumps(
            {
                "fields": [
                    {
                        "id": f.field_id,
                        "name": f.name,
                        "type": f.type,
                        "nullable": f.nullable,
                        "default": f.default,
                    }
                    for f in self.fields
                ],
                "primary_key": list(self.primary_key),
                "partition_by": list(self.partition_by),
                "zorder_by": list(self.zorder_by),
            }
        )

    @staticmethod
    def from_json(s: str) -> "TableSchema":
        d = json.loads(s)
        return TableSchema(
            tuple(
                Field(f["id"], f["name"], f["type"], f["nullable"], f.get("default"))
                for f in d["fields"]
            ),
            tuple(d.get("primary_key", ())),
            tuple(d.get("partition_by", ())),
            tuple(d.get("zorder_by", ())),
        )

    # -- helpers ----------------------------------------------------------
    def field_by_name(self, name: str) -> Field:
        for f in self.fields:
            if f.name == name:
                return f
        raise KeyError(f"no column {name!r}")

    def names(self) -> list:
        return [f.name for f in self.fields]

    def max_field_id(self) -> int:
        return max((f.field_id for f in self.fields), default=0)

    # -- evolution (each returns a NEW TableSchema) -----------------------
    def add_column(
        self, name: str, type_: str, default: Any = None, field_id: int = None
    ) -> "TableSchema":
        """``field_id`` must be the max field id across ALL schema versions
        + 1 (the catalog passes it): reusing a DROPPED column's id would
        resurrect its data from old files under the new column's name.
        Defaults to max-over-live + 1 for fresh schemas with no history."""
        if name in self.names():
            raise ValueError(f"column {name!r} exists")
        nf = Field(
            field_id if field_id is not None else self.max_field_id() + 1,
            name, type_, True, default,
        )
        return TableSchema(
            self.fields + (nf,), self.primary_key, self.partition_by,
            self.zorder_by,
        )

    def drop_column(self, name: str) -> "TableSchema":
        self.field_by_name(name)
        if name in self.primary_key:
            raise ValueError(f"cannot drop primary-key column {name!r}")
        if name in self.partition_by:
            raise ValueError(f"cannot drop partitioning column {name!r}")
        if name in self.zorder_by:
            raise ValueError(
                f"cannot drop z-order column {name!r} "
                "(ALTER TABLE ... RESET ZORDER BY first)"
            )
        return TableSchema(
            tuple(f for f in self.fields if f.name != name),
            self.primary_key,
            self.partition_by,
            self.zorder_by,
        )

    def rename_column(self, old: str, new: str) -> "TableSchema":
        if new in self.names():
            raise ValueError(f"column {new!r} exists")
        f = self.field_by_name(old)
        nf = Field(f.field_id, new, f.type, f.nullable, f.default)
        return TableSchema(
            tuple(nf if g.field_id == f.field_id else g for g in self.fields),
            tuple(new if c == old else c for c in self.primary_key),
            tuple(new if c == old else c for c in self.partition_by),
            tuple(new if c == old else c for c in self.zorder_by),
        )

    def set_partition_by(self, cols) -> "TableSchema":
        """X2 re-clustering spec (DuckLake: ``ALTER TABLE ... SET
        PARTITIONED BY``): only FUTURE writes range-repartition on the new
        columns — existing files keep their stats and stay exactly as
        pruneable as they were; compaction re-clusters under the new
        spec."""
        cols = tuple(cols)
        for c in cols:
            self.field_by_name(c)  # KeyError -> unknown column
        return TableSchema(self.fields, self.primary_key, cols, self.zorder_by)

    def set_zorder_by(self, cols) -> "TableSchema":
        """Persisted z-order spec (Delta records its clustering columns the
        same way): metadata-only — no rewrite happens here; optimize()
        applies the clustering and compact() re-applies it so maintenance
        never silently destroys paid-for clustering. Empty ``cols`` =
        RESET ZORDER BY."""
        cols = tuple(cols)
        for c in cols:
            self.field_by_name(c)  # KeyError -> unknown column
        return TableSchema(self.fields, self.primary_key, self.partition_by, cols)

    def set_not_null(self, name: str) -> "TableSchema":
        f = self.field_by_name(name)
        nf = Field(f.field_id, f.name, f.type, False, f.default)
        return TableSchema(
            tuple(nf if g.field_id == f.field_id else g for g in self.fields),
            self.primary_key,
            self.partition_by,
            self.zorder_by,
        )

    def alter_column_type(
        self, name: str, new_type: str, force: bool = False
    ) -> "TableSchema":
        """D-family: ALTER COLUMN ... TYPE, WIDENING casts only (the
        reference claims type changes in its schema-evolution feature list,
        /root/reference/README.md:50). Old data files are never rewritten:
        each file keeps its written-under schema version and the read path
        casts stored -> current by field id (see catalog._project), exactly
        the add/drop/rename mechanism. Narrowing or lossy casts are
        rejected — a cast a 100-TB read path applies implicitly must never
        be able to truncate. ``force`` skips the widening gate for
        ENGINE-DRIVEN retypes (rollup sum state following its widened
        source column takes whatever type Spark's sum produces, e.g.
        bigint -> double); user-facing SQL never sets it."""
        f = self.field_by_name(name)
        if not force and not can_widen(f.type, new_type):
            raise ValueError(
                f"cannot ALTER COLUMN {name!r} from {f.type!r} to "
                f"{new_type!r}: only lossless widening casts are supported "
                "(int ranks upward, int->double where exact, float->double, "
                "decimal precision/scale growth)"
            )
        nf = Field(f.field_id, f.name, new_type.lower(), f.nullable, f.default)
        return TableSchema(
            tuple(nf if g.field_id == f.field_id else g for g in self.fields),
            self.primary_key,
            self.partition_by,
            self.zorder_by,
        )


@lru_cache(maxsize=1024)
def ddl_type(ddl: str) -> DataType:
    """``DataType.fromDDL`` memoized per type string. Each parse is a JVM
    round trip and one lake statement builds its table's StructType
    several times; the set of distinct type strings is small. Callers
    share the returned object, so it must not be mutated."""
    return DataType.fromDDL(ddl)


_INT_RANK = {"tinyint": 8, "smallint": 16, "int": 32, "bigint": 64}


def _decimal(t: str):
    import re as _re

    m = _re.fullmatch(r"decimal\((\d+),(\d+)\)", t.replace(" ", ""))
    return (int(m.group(1)), int(m.group(2))) if m else None


def can_widen(old: str, new: str) -> bool:
    """True iff every value of Spark DDL type ``old`` is exactly
    representable in ``new``: integer rank growth, integers whose full
    range fits a float/double mantissa (24 / 53 bits), float->double, and
    decimal growth that keeps scale and grows integral digits."""
    old, new = old.strip().lower(), new.strip().lower()
    if old == new:
        return True
    if old in _INT_RANK:
        if new in _INT_RANK:
            return _INT_RANK[new] > _INT_RANK[old]
        if new == "double":
            return _INT_RANK[old] <= 32  # ints through int32 fit 53 bits
        if new == "float":
            return _INT_RANK[old] <= 16  # through int16 fit 24 bits
        dn = _decimal(new)
        if dn is not None:
            # integral digits needed: bigint -> 19, int -> 10, ...
            digits = {8: 3, 16: 5, 32: 10, 64: 19}[_INT_RANK[old]]
            return dn[0] - dn[1] >= digits
        return False
    if old == "float":
        return new == "double"
    do = _decimal(old)
    dn = _decimal(new)
    if do is not None and dn is not None:
        return dn[1] >= do[1] and dn[0] - dn[1] >= do[0] - do[1]
    return False


# -- JSON row (de)serialization for inlined rows ---------------------------
# Inlined rows (README.md:62; demos/04_small_file_optimization/demo.py:314-368)
# live in the catalog DB as JSON keyed by field id, so they survive renames
# and schema evolution exactly like parquet files do.


def value_to_json(v: Any) -> Any:
    if isinstance(v, _dt.datetime):
        return {"$ts": v.isoformat()}
    if isinstance(v, _dt.date):
        return {"$d": v.isoformat()}
    if isinstance(v, Decimal):
        return {"$dec": str(v)}
    if isinstance(v, (bytes, bytearray)):
        return {"$b64": base64.b64encode(bytes(v)).decode()}
    if isinstance(v, Row):  # a STRUCT value: an object keyed by field
        return {k: value_to_json(x) for k, x in v.asDict().items()}
    if isinstance(v, dict):  # a MAP value
        return {k: value_to_json(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [value_to_json(x) for x in v]
    return v


def value_from_json(v: Any) -> Any:
    if isinstance(v, dict):
        if "$ts" in v:
            return _dt.datetime.fromisoformat(v["$ts"])
        if "$d" in v:
            return _dt.date.fromisoformat(v["$d"])
        if "$dec" in v:
            return Decimal(v["$dec"])
        if "$b64" in v:
            return base64.b64decode(v["$b64"])
        return {k: value_from_json(x) for k, x in v.items()}
    if isinstance(v, list):
        return [value_from_json(x) for x in v]
    return v


def default_expr(f: Field):
    """Insert-time SQL expression for an expression default, else None."""
    d = f.default
    if isinstance(d, dict) and "$expr" in d:
        return d["$expr"]
    return None


def default_fill(f: Field):
    """Read-time fill value for rows predating the field: the frozen
    DDL-time value for expression defaults, the literal otherwise."""
    d = f.default
    if isinstance(d, dict) and "$expr" in d:
        return value_from_json(d.get("$frozen"))
    return value_from_json(d)


def row_to_json(row: dict, schema: TableSchema) -> str:
    """Encode a {column_name: value} dict as {field_id: json_value}."""
    out = {}
    for f in schema.fields:
        if f.name in row:
            out[str(f.field_id)] = value_to_json(row[f.name])
    return json.dumps(out)


def row_from_json(
    s: str, schema: TableSchema
) -> "tuple":  # positional tuple in schema order
    d = json.loads(s)
    vals = []
    for f in schema.fields:
        if str(f.field_id) in d:
            vals.append(value_from_json(d[str(f.field_id)]))
        else:
            vals.append(default_fill(f))
    return tuple(vals)
