"""The three JSON flatteners (ingest-path IR: flat one-level dicts).

Behavior parity with the reference (re-derived, not translated):

* horizontal — ``pkg/api/flattener.go:145-158`` (jeremywohl/flatten
  UnderscoreStyle): nested keys joined with ``_``; array elements get
  numeric path segments (``numbers`` → ``numbers_0`` …). One row out
  per row in.
* vertical — ``pkg/api/flattener.go:24-143``: arrays explode into
  rows; sibling arrays produce a cross product; each array element
  row carries ``__order_<path>`` (its index); the whole input document
  shares a ULID ``___document_id``; an empty array yields one row with
  a null column.
* multitable — ``pkg/api/flattener.go:160-230``: every nested object
  or array becomes rows in a table named after its key, linked by
  snowflake ``id`` / ``<parent>_id`` pairs; scalar array elements
  become ``{id, <table>: value, <parent>_id}`` rows.

These run in the HTTP ingest layer on small per-request documents, so
they are plain Python (the reference's are plain Go). The *bulk*
equivalents for already-loaded nested DataFrames are in
:mod:`scratchdata_spark.operators.nested` and use pure DataFrame ops
(``posexplode_outer`` etc.) so they scale on-cluster.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from scratchdata_spark.ids import SnowflakeGenerator, ulid


@dataclass
class JSONData:
    table: str
    row: dict[str, Any]


def _path_str(path: list[str]) -> str:
    return "_".join(path)


# ---------------------------------------------------------------- horizontal


def flatten_horizontal(table: str, doc: dict[str, Any]) -> list[JSONData]:
    """Collapse nesting into one wide row; arrays become indexed columns."""
    flat: dict[str, Any] = {}

    def walk(value: Any, path: list[str]) -> None:
        if isinstance(value, dict):
            if not value and path:
                return  # empty object contributes no keys
            for k, v in value.items():
                walk(v, path + [k])
        elif isinstance(value, list):
            if not value and path:
                return  # empty array contributes no keys
            for i, v in enumerate(value):
                walk(v, path + [str(i)])
        else:
            flat[_path_str(path)] = value

    walk(doc, [])
    return [JSONData(table, flat)]


# ------------------------------------------------------------------ vertical


def _cross_product(groups: list[list[dict[str, Any]]]) -> list[dict[str, Any]]:
    result: list[dict[str, Any]] = [{}]
    for group in groups:
        result = [{**lhs, **rhs} for lhs in result for rhs in group]
    return result


def _flatten_vertical(value: Any, path: list[str], use_indices: bool) -> list[dict[str, Any]]:
    if isinstance(value, list):
        if not value:
            return [{_path_str(path): None}]
        rows: list[dict[str, Any]] = []
        for i, item in enumerate(value):
            new_rows = _flatten_vertical(item, path, use_indices)
            if use_indices:
                for r in new_rows:
                    r["__order_" + _path_str(path)] = i
            rows.extend(new_rows)
        return rows
    if isinstance(value, dict):
        groups = [_flatten_vertical(v, path + [k], use_indices) for k, v in value.items()]
        return _cross_product(groups)
    return [{_path_str(path): value}]


def flatten_vertical(table: str, doc: dict[str, Any]) -> list[JSONData]:
    """Explode arrays to rows (sibling arrays → cross product)."""
    doc = {**doc, "___document_id": ulid()}
    return [JSONData(table, row) for row in _flatten_vertical(doc, [], True)]


# ---------------------------------------------------------------- multitable


def flatten_multitable(
    table: str,
    doc: Any,
    gen: SnowflakeGenerator | None = None,
) -> list[JSONData]:
    """Normalize nesting into parent/child tables with snowflake FKs."""
    gen = gen or SnowflakeGenerator()
    out: list[JSONData] = []

    def walk(tbl: str, value: Any, parent_table: str, parent_id: int) -> None:
        if isinstance(value, dict):
            oid = gen.next_id()
            row: dict[str, Any] = {"id": oid}
            if parent_table:
                row[parent_table + "_id"] = parent_id
            for k, v in value.items():
                if isinstance(v, (dict, list)):
                    walk(k, v, tbl, oid)
                else:
                    row[k] = v
            out.append(JSONData(tbl, row))
        elif isinstance(value, list):
            for item in value:
                walk(tbl, item, parent_table, parent_id)
        else:
            row = {"id": gen.next_id(), tbl: value}
            if parent_table:
                row[parent_table + "_id"] = parent_id
            out.append(JSONData(tbl, row))

    walk(table, doc, "", 0)
    return out


FLATTENERS = {
    "horizontal": flatten_horizontal,
    "vertical": flatten_vertical,
    "multitable": flatten_multitable,
}


def flatten(table: str, doc: dict[str, Any], style: str = "horizontal") -> list[JSONData]:
    """Dispatch like the reference's ``?flatten=`` param (data.go:114-123)."""
    if style == "vertical":
        return flatten_vertical(table, doc)
    if style == "multitable":
        return flatten_multitable(table, doc)
    # any other value falls back to horizontal, exactly like the
    # reference's else-branch (data.go:116-123 has no error path)
    return flatten_horizontal(table, doc)
