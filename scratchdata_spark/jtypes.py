"""JSON type inference + precedence merge (reference ``pkg/util/types.go``).

Four scalar JSON types + null are inferred per column over a whole
NDJSON batch; mixed types resolve by precedence::

    string > undefined > float > int > bool        (all-null → string)

(``types.go:65-84``; "undefined" — anything non-scalar — also maps to
string). A number is ``int`` iff the raw token parses as an integer
(``strconv.Atoi`` — so ``1.0`` is float, ``1`` is int; types.go:44-50).

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


def classify_value(raw: object) -> str:
    """jsontype of one parsed JSON value (types.go:35-53)."""
    if raw is None:
        return "null"
    if isinstance(raw, str):
        return "string"
    if isinstance(raw, bool):  # bool before int: bool is an int subclass
        return "bool"
    if isinstance(raw, int):
        return "int"
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


def infer_types(lines: Iterable[str], skip_malformed: bool = False) -> dict[str, str]:
    """Scan an NDJSON batch → {column: jsontype}.

    Strict by default, so a corrupt batch fails the job → retry →
    dead-letter (``create_columns``, ``insert_ndjson``).
    ``skip_malformed`` tolerates unparseable lines: a standalone
    ``insert_ndjson_file`` only lists which columns the batch carries,
    and its reader drops the same lines (DROPMALFORMED)."""
    counts: dict[str, dict[str, int]] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        try:
            obj = json.loads(line)
        except ValueError:
            if skip_malformed:
                continue
            raise
        if not isinstance(obj, dict):
            continue
        for k, v in obj.items():
            c = counts.setdefault(k, {})
            t = classify_value(v)
            c[t] = c.get(t, 0) + 1
    return {k: merge_type_counts(c) for k, c in counts.items()}


def infer_types_file(
    path: str | list[str], skip_malformed: bool = False
) -> dict[str, str]:
    """Infer over one NDJSON file or a list of them."""
    paths = [path] if isinstance(path, str) else list(path)

    def _lines():
        for p in paths:
            with open(p, "r", encoding="utf-8") as f:
                yield from f

    return infer_types(_lines(), skip_malformed)


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
    retypes), absent columns become typed NULLs. The single
    implementation behind bulk NDJSON load (engine.py, JDBC), cross-table
    copy (copy.py), and ``COPY … FROM`` (warehouse_dml.py)."""
    from pyspark.sql import functions as F

    return df.select(*[
        F.col(f.name).try_cast(f.dataType).alias(f.name)
        if f.name in df.columns
        else F.lit(None).cast(f.dataType).alias(f.name)
        for f in struct.fields
    ])
