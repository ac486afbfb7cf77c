"""JSON type inference + precedence merge (reference ``pkg/util/types.go``).

Four scalar JSON types + null are inferred per column over a whole
NDJSON batch; mixed types resolve by precedence::

    string > undefined > float > int > bool        (all-null → string)

(``types.go:65-84``; "undefined" — anything non-scalar — also maps to
string). A number is ``int`` iff the raw token parses as an integer
with ``strconv.Atoi`` (types.go:44-50): ``1.0`` and ``1e3`` are float,
and so is an integer outside int64, where Atoi fails — a 20-digit
integer is stored as a double instead of cast to a NULL long.

Inference is strict and the one implementation every destination's
``insert_ndjson`` runs, once per batch: an unparseable line or a row
that is not a JSON object raises ``ValueError``, so a corrupt batch
fails its job (retry → dead-letter) before any row is written.

Physical mapping (SURVEY §1.2): string→StringType, int→LongType,
float→DoubleType, bool→BooleanType.

Schema evolution semantics (``duckdb/insert.go:12-26`` et al.): new
columns are ADDed with the batch's merged type; existing columns never
retype — mismatched later values are cast to the existing column type
on write (documented choice, matching the Postgres path which
stringifies everything, ``postgres/insert.go:123-125``).
"""

from __future__ import annotations

import json
from typing import Iterable

from pyspark.sql.types import (
    BooleanType,
    DataType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# jsontype precedence, strongest first (types.go:65-84)
_PRECEDENCE = ("string", "undefined", "float", "int", "bool")

SPARK_TYPES: dict[str, DataType] = {
    "string": StringType(),
    "int": LongType(),
    "float": DoubleType(),
    "bool": BooleanType(),
}

DUCKDB_TYPES = {"string": "STRING", "int": "BIGINT", "float": "DOUBLE", "bool": "BOOLEAN"}

_INT64_MIN, _INT64_MAX = -(1 << 63), (1 << 63) - 1


def classify_value(raw: object) -> str:
    """jsontype of one parsed JSON value (types.go:35-53)."""
    if raw is None:
        return "null"
    if isinstance(raw, str):
        return "string"
    if isinstance(raw, bool):  # bool before int: bool is an int subclass
        return "bool"
    if isinstance(raw, int):
        # strconv.Atoi fails past int64, so the reference types such a
        # token float; a long column would store it as NULL
        return "int" if _INT64_MIN <= raw <= _INT64_MAX else "float"
    if isinstance(raw, float):
        # json.loads produces float only for tokens with . / e; but a
        # whole-valued float token like 1.0 must stay float, matching
        # strconv.Atoi failing on "1.0". float(1.0) → float here.
        return "float"
    return "undefined"  # arrays/objects that survived flattening


def merge_type_counts(counts: dict[str, int]) -> str:
    """Resolve one column's type-count map by precedence."""
    for t in _PRECEDENCE:
        if counts.get(t, 0) > 0:
            return "string" if t == "undefined" else t
    return "string"  # all-null (types.go:80-82)


def infer_types(lines: Iterable[str]) -> dict[str, str]:
    """Scan an NDJSON batch → {column: jsontype}, columns in first-seen
    order. Raises ``ValueError`` on a line that does not parse or a
    row that is not an object."""
    counts: dict[str, dict[str, int]] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        obj = json.loads(line)
        if not isinstance(obj, dict):
            raise ValueError("NDJSON rows must be objects")
        for k, v in obj.items():
            c = counts.setdefault(k, {})
            t = classify_value(v)
            c[t] = c.get(t, 0) + 1
    return {k: merge_type_counts(c) for k, c in counts.items()}


def infer_types_file(path: str | list[str]) -> dict[str, str]:
    """Infer over one NDJSON file or a list of them."""
    paths = [path] if isinstance(path, str) else list(path)

    def _lines():
        for p in paths:
            with open(p, "r", encoding="utf-8") as f:
                yield from f

    return infer_types(_lines())


def to_struct(types: dict[str, str], row_id_col: str = "__row_id") -> StructType:
    """Spark schema for a batch; ``__row_id`` is always LongType."""
    fields = []
    for name, jt in types.items():
        if name == row_id_col:
            fields.append(StructField(name, LongType(), True))
        else:
            fields.append(StructField(name, SPARK_TYPES[jt], True))
    return StructType(fields)


def merge_schemas(existing: StructType, batch: StructType) -> StructType:
    """Additive merge: existing columns keep their type; new columns
    append in batch order (ALTER TABLE ADD COLUMN semantics, A8)."""
    have = {f.name for f in existing.fields}
    fields = list(existing.fields)
    for f in batch.fields:
        if f.name not in have:
            fields.append(StructField(f.name, f.dataType, True))
    return StructType(fields)


def conform_to_struct(df, struct: StructType):
    """Project ``df`` onto ``struct``'s fields by NAME: present
    columns ``try_cast`` to the declared type (the cast-on-write
    policy, A9 — malformed values become NULL, the column never
    retypes), absent columns become typed NULLs. Names are quoted, so
    a key such as ``a.b`` is one column, not a struct field. The single
    implementation behind bulk NDJSON load (engine.py, JDBC), cross-table
    copy (copy.py), and ``COPY … FROM`` (warehouse_dml.py)."""
    from pyspark.sql import functions as F

    return df.select(*[
        F.col("`" + f.name.replace("`", "``") + "`").try_cast(f.dataType).alias(f.name)
        if f.name in df.columns
        else F.lit(None).cast(f.dataType).alias(f.name)
        for f in struct.fields
    ])
