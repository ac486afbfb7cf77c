"""Property-based invariants (hypothesis) for the pure-Python core:
flatteners and the type-inference precedence merge. These are the
functions every ingested byte passes through — worth adversarial
inputs, not just examples."""

from __future__ import annotations

import json
import math

from hypothesis import example, given, settings
from hypothesis import strategies as st

from scratchdata_spark.flatten import (
    flatten_horizontal,
    flatten_multitable,
    flatten_vertical,
)
from scratchdata_spark.jtypes import (
    _PRECEDENCE,
    classify_value,
    infer_types,
    merge_type_counts,
)

# JSON scalar leaves; keys that stay distinct after path joining ('_'
# can alias paths — {"a":{"b":1}} vs {"a_b":2} — a reference-inherited
# ambiguity, so generated keys exclude '_')
_keys = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz", min_size=1, max_size=6
)
_leaves = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**53), max_value=2**53),
    st.floats(allow_nan=False, allow_infinity=False, width=32),
    st.text(max_size=20),
)
_docs = st.recursive(
    _leaves,
    lambda children: st.one_of(
        st.lists(children, max_size=4),
        st.dictionaries(_keys, children, max_size=4),
    ),
    max_leaves=25,
).filter(lambda v: isinstance(v, dict))


def _leaf_multiset(value, acc):
    if isinstance(value, dict):
        for v in value.values():
            if v == {} or v == []:
                continue  # empty containers contribute nothing
            _leaf_multiset(v, acc)
    elif isinstance(value, list):
        for v in value:
            _leaf_multiset(v, acc)
    else:
        acc.append(value)
    return acc


def _norm(v):
    if isinstance(v, float) and math.isfinite(v) and v == int(v):
        return ("num", int(v))
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, int):
        return ("num", v)
    return (type(v).__name__, v)


@settings(max_examples=200, deadline=None)
@given(_docs)
def test_horizontal_flatten_preserves_every_leaf(doc):
    """No leaf value is lost or invented, rows are JSON-serializable,
    and no nested containers survive."""
    rows = flatten_horizontal("t", doc)
    assert len(rows) == 1
    flat = rows[0].row
    json.dumps(flat)  # serializable
    assert not any(isinstance(v, (dict, list)) for v in flat.values())
    want = sorted(map(_norm, _leaf_multiset(doc, [])))
    got = sorted(map(_norm, flat.values()))
    assert got == want


@settings(max_examples=150, deadline=None)
@given(_docs)
def test_vertical_flatten_rows_cover_all_leaves(doc):
    """Every produced row is flat; the union of row values covers the
    document's leaf set (modulo the cross-product duplication and the
    injected ___document_id / __order_* bookkeeping)."""
    rows = flatten_vertical("t", doc)
    assert rows, "at least one row even for scalar-only docs"
    doc_ids = set()
    seen = []
    for r in rows:
        assert not any(isinstance(v, (dict, list)) for v in r.row.values())
        doc_ids.add(r.row["___document_id"])
        for k, v in r.row.items():
            if k == "___document_id" or k.startswith("__order_"):
                continue
            seen.append(v)
    assert len(doc_ids) == 1  # one shared ULID per input doc
    leaves = {(_norm(v)) for v in _leaf_multiset(doc, []) if v is not None}
    covered = {_norm(v) for v in seen if v is not None}
    assert leaves <= covered


@settings(max_examples=150, deadline=None)
@given(_docs)
def test_multitable_rows_are_flat_and_linked(doc):
    """Multitable output: flat rows only; every child table row carries
    a parent FK column."""
    rows = flatten_multitable("root", doc)
    tables = {}
    for r in rows:
        assert not any(isinstance(v, (dict, list)) for v in r.row.values())
        tables.setdefault(r.table, []).append(r.row)
    for name, trows in tables.items():
        if name == "root":
            continue
        assert all(
            any(k.endswith("_id") for k in row) for row in trows
        ), f"child table {name} missing FK"


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.dictionaries(
            _keys,
            st.one_of(
                st.none(), st.booleans(),
                st.integers(min_value=-(10**9), max_value=10**9),
                st.floats(allow_nan=False, allow_infinity=False, width=32),
                st.text(max_size=10),
            ),
            max_size=4,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_infer_types_matches_precedence_semantics(docs):
    """Batch inference must equal the per-value classification folded
    through the documented precedence (string > undefined > float >
    int > bool; all-null → string)."""
    lines = [json.dumps(d) for d in docs]
    got = infer_types(lines)
    counts: dict[str, dict[str, int]] = {}
    for d in docs:
        for k, v in d.items():
            t = classify_value(v)
            counts.setdefault(k, {})
            counts[k][t] = counts[k].get(t, 0) + 1
    want = {k: merge_type_counts(c) for k, c in counts.items()}
    assert got == want
    for t in got.values():
        assert t in ("string", "float", "int", "bool")


def test_precedence_order_is_the_documented_one():
    assert _PRECEDENCE == ("string", "undefined", "float", "int", "bool")


# ----------------------------------------------------- dialect scanner

_lit_body = st.text(
    # printable ASCII minus quote/backslash (those are injected
    # explicitly below via doubling, the escape both dialects share)
    alphabet=st.characters(
        codec="ascii", min_codepoint=32, max_codepoint=126,
        exclude_characters="'\\",
    ),
    max_size=40,
)


@given(_lit_body, _lit_body)
@settings(max_examples=200, deadline=None)
def test_dialect_rewrite_preserves_literals(a, b):
    """Whatever a string literal contains — rewrite trigger tokens
    (``//``, ``EXCLUDE``, ``list_sort(``, brackets), comment markers,
    placeholder bytes — the rewriter must never alter it, while still
    rewriting the code around it."""
    from scratchdata_spark.dialect import rewrite

    inner = (a + "'' // EXCLUDE ( [1] list_sort( /* -- " + b).replace(
        "'", "''"
    )
    sql = f"SELECT '{inner}' AS c, 4//2 FROM t"
    out = rewrite(sql)
    assert out == f"SELECT '{inner}' AS c, 4 DIV 2 FROM t"


# Ingest: the one-pass Service.insert against the per-document
# algorithm it replaced. Keys may be any text here (flatten's path aliasing is the
# same on both sides); leaves add unbounded ints and any finite or
# infinite double.
_insert_docs = st.recursive(
    st.one_of(
        _leaves,
        st.integers(min_value=-(2**80), max_value=2**80),
        st.floats(allow_nan=False),
    ),
    lambda children: st.one_of(
        st.lists(children, max_size=3),
        st.dictionaries(st.text(min_size=1, max_size=6), children, max_size=3),
    ),
    max_leaves=15,
).filter(lambda v: isinstance(v, dict))


class _RecordingSink:
    def __init__(self):
        self.writes = []

    def write_data(self, database, table, data):
        self.writes.append((database, table, data))


def _parent_insert_rows(flattened_docs):
    """The per-document ingest that Service.insert replaced: group
    the rows by table as NDJSON (the deleted ``flatten.to_ndjson``),
    split the payload, parse each line and fill a missing or null
    ``__row_id`` (here with None, where it drew a fresh id).
    Returns each table's rows across the request, in write order, as
    key/value pair lists."""
    by_table = {}
    for rows in flattened_docs:
        payloads = {}
        for r in rows:
            payloads.setdefault(r.table, []).append(json.dumps(r.row, default=str))
        for tbl, lines in payloads.items():
            for line in "\n".join(lines).strip().split("\n"):
                row = json.loads(line)
                row.setdefault("__row_id", None)
                by_table.setdefault(tbl, []).append(list(row.items()))
    return by_table


@settings(max_examples=150, deadline=None)
@given(st.lists(_insert_docs, min_size=1, max_size=4),
       st.sampled_from(["horizontal", "vertical", "multitable"]))
@example([{"__row_id": 7, "a": [1, 2]}, {"b": "é"}], "vertical")
@example([{"__row_id": None, "a": {"b": 1.5}}, {"a": 2**70}], "horizontal")
def test_insert_matches_per_document_algorithm(docs, style):
    """One pass over the request writes the same rows as the
    per-document round trip: same tables, rows in the same order, keys
    in the same order and equal values. ``__row_id`` keeps a supplied
    non-null value and is otherwise set and unique in the request.
    Each table gets exactly one write."""
    import copy
    from types import SimpleNamespace
    from unittest import mock

    from scratchdata_spark import api_server

    flattened = []
    real_flatten = api_server.flatten

    def recording_flatten(table, doc, flatten_style):
        rows = real_flatten(table, doc, flatten_style)
        flattened.append(copy.deepcopy(rows))
        return rows

    sink = _RecordingSink()
    service = api_server.Service(
        {}, sink, SimpleNamespace(depth=lambda: 0, dead_letters=lambda: []),
        SimpleNamespace(errors=[]), None, None,
    )
    body = json.dumps(docs, ensure_ascii=False).encode()
    with mock.patch.object(api_server, "flatten", recording_flatten):
        n = service.insert("db", "t", body, style)

    want = _parent_insert_rows(flattened)
    tables = [tbl for _, tbl, _ in sink.writes]
    assert sorted(tables) == sorted(want) and len(set(tables)) == len(tables)
    assert {db for db, _, _ in sink.writes} <= {"db"}
    generated = []
    for _, tbl, data in sink.writes:
        assert data.endswith(b"\n")
        got = [
            json.loads(line, object_pairs_hook=list)
            for line in data.decode().split("\n")[:-1]
        ]
        assert [[k for k, _ in r] for r in got] == [[k for k, _ in r] for r in want[tbl]]
        for g, w in zip(got, want[tbl]):
            g, w = dict(g), dict(w)
            if w["__row_id"] is None:
                assert isinstance(g["__row_id"], int)
                generated.append(g["__row_id"])
            else:
                assert g["__row_id"] == w["__row_id"]
            assert g == {**w, "__row_id": g["__row_id"]}
    assert len(set(generated)) == len(generated)
    assert n == sum(len(rows) for rows in want.values())
