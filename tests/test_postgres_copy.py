"""Postgres COPY-protocol bulk load (postgres_destination.py — parity
with ``postgres/insert.go:83-155`` and lib/pq's CopyIn): statement
shape, v3 CopyData/CopyDone frame framing, COPY TEXT escaping, the
all-values-as-strings semantics (insert.go:123-125), first-row key
projection, and the transaction call sequence.  No live server in this
container: a fake transport captures the wire (the
test_clickhouse_batch pattern)."""

from __future__ import annotations

import json
import struct

import pytest

from scratchdata_spark.postgres_destination import (
    COPY_DONE_FRAME,
    PostgresCopyDestination,
    copy_in_statement,
    encode_copy_text_row,
    frame_copy_data,
)


class FakeTransport:
    """Records the call sequence and every frame sent."""

    def __init__(self):
        self.calls: list[tuple] = []

    def begin(self):
        self.calls.append(("begin",))

    def start_copy(self, sql):
        self.calls.append(("start_copy", sql))

    def send(self, frame):
        self.calls.append(("send", frame))

    def end_copy(self):
        self.calls.append(("end_copy",))

    def commit(self):
        self.calls.append(("commit",))

    def rollback(self):
        self.calls.append(("rollback",))

    # -- helpers -------------------------------------------------------
    def frames(self):
        return [c[1] for c in self.calls if c[0] == "send"]

    def rows(self):
        """Decode the CopyData payloads back to text rows."""
        out = []
        for fr in self.frames():
            if fr[:1] != b"d":
                continue
            (n,) = struct.unpack(">I", fr[1:5])
            assert n == len(fr) - 1  # length includes itself, not tag
            out.append(fr[5:].decode("utf-8"))
        return out


class LocalDDL(PostgresCopyDestination):
    """Answers the JDBC DDL seams locally (the test_redshift pattern),
    so ``insert_ndjson``'s table and column steps need no server and
    only the COPY reaches the fake transport."""

    def _execute(self, sql):
        pass

    def columns(self, table):
        return []


@pytest.fixture()
def pg(spark):
    t = FakeTransport()
    return (
        LocalDDL(spark, "jdbc:postgresql://fake:5432/db", copy_transport=t),
        t,
    )


def _file(tmp_path, rows, name="batch.ndjson"):
    p = tmp_path / name
    p.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
    return str(p)


# ------------------------------------------------------- pure helpers


def test_copy_in_statement_matches_pq_copyinschema():
    assert (
        copy_in_statement("public", "events", ["a", "b"])
        == 'COPY "public"."events" ("a", "b") FROM STDIN'
    )


def test_copy_in_statement_refuses_injection():
    with pytest.raises(Exception):
        copy_in_statement("public", 'x"; DROP TABLE t; --', ["a"])
    with pytest.raises(Exception):
        copy_in_statement("public", "t", ['a", "b'])


def test_copy_text_escaping_matrix():
    # lib/pq appendEncodedText: backslash, tab, newline, CR escape;
    # everything else rides verbatim (utf-8)
    assert encode_copy_text_row(["plain", "tab\there"]) == b"plain\ttab\\there\n"
    assert encode_copy_text_row(["a\nb", "c\rd"]) == b"a\\nb\tc\\rd\n"
    assert encode_copy_text_row(["back\\slash"]) == b"back\\\\slash\n"
    assert encode_copy_text_row(["héllo"]) == "héllo\n".encode("utf-8")


def test_copy_data_frame_shape():
    fr = frame_copy_data(b"abc\n")
    assert fr[:1] == b"d"
    assert struct.unpack(">I", fr[1:5]) == (8,)  # 4 payload + 4 length
    assert fr[5:] == b"abc\n"
    assert COPY_DONE_FRAME == b"c\x00\x00\x00\x04"


# ---------------------------------------------------------- wire flow


def test_insert_flow_sequence_and_statement(pg, tmp_path):
    dest, t = pg
    path = _file(tmp_path, [{"a": 1, "b": "x"}, {"a": 2, "b": "y"}])
    dest.insert_ndjson("events", path)
    kinds = [c[0] for c in t.calls]
    assert kinds == [
        "begin", "start_copy", "send", "send", "send", "end_copy", "commit",
    ]
    assert t.calls[1][1] == 'COPY "public"."events" ("a", "b") FROM STDIN'
    assert t.frames()[-1] == COPY_DONE_FRAME
    assert t.rows() == ["1\tx\n", "2\ty\n"]


def test_all_values_sent_as_strings(pg, tmp_path):
    # insert.go:123-125: every value rides as gjson .String() text —
    # numbers as tokens, bools as true/false, null and MISSING as the
    # EMPTY STRING (never \N), nested JSON re-serialized
    dest, t = pg
    path = _file(
        tmp_path,
        [{"i": 7, "f": 1.5, "b": True, "n": None, "o": {"k": [1, 2]}}],
    )
    dest.insert_ndjson("t", path)
    assert t.rows() == ['7\t1.5\ttrue\t\t{"k":[1,2]}\n']


def test_first_row_keys_project_later_rows(pg, tmp_path):
    # insert.go:106-118: the first row fixes the column list; later
    # rows drop extra keys and send "" for missing ones
    dest, t = pg
    path = _file(
        tmp_path,
        [{"a": 1, "b": 2}, {"b": 20, "c": 99}, {"a": 3}],
    )
    dest.insert_ndjson("t", path)
    assert t.calls[1][1].endswith('("a", "b") FROM STDIN')
    assert t.rows() == ["1\t2\n", "\t20\n", "3\t\n"]


def test_unparsable_line_refused_before_txn(pg, tmp_path):
    # gjson would send "" per key of a garbage line; insert_ndjson's
    # strict inference refuses the batch before any transaction opens
    dest, t = pg
    p = tmp_path / "bad.ndjson"
    p.write_text('{"a": 1}\nnot json at all\n{"a": 2}\n')
    with pytest.raises(ValueError):
        dest.insert_ndjson("t", str(p))
    assert t.calls == []


def test_empty_file_is_noop(pg, tmp_path):
    dest, t = pg
    p = tmp_path / "empty.ndjson"
    p.write_text("\n\n")
    dest.insert_ndjson("t", str(p))
    assert t.calls == []  # no txn opened (divergence documented)


def test_keyless_first_row_raises_before_txn(pg, tmp_path):
    dest, t = pg
    p = tmp_path / "empty_obj.ndjson"
    p.write_text("{}\n")
    # an object with no keys passes inference and reaches the COPY
    # step, whose column list would be empty
    with pytest.raises(ValueError, match="no keys"):
        dest.insert_ndjson("t", str(p))
    assert t.calls == []


def test_line_cap_fails_insert_and_rolls_back(pg, tmp_path, monkeypatch):
    import scratchdata_spark.postgres_destination as P

    monkeypatch.setattr(P, "MAX_LINE_BYTES", 64)
    dest, t = pg
    path = _file(tmp_path, [{"a": 1}, {"a": "x" * 100}])
    with pytest.raises(ValueError, match="scanner cap"):
        dest.insert_ndjson("t", path)
    assert t.calls[-1] == ("rollback",)
    assert ("commit",) not in t.calls


def test_multiple_files_one_transaction_each(pg, tmp_path):
    dest, t = pg
    p1 = _file(tmp_path, [{"a": 1}], "f1.ndjson")
    p2 = _file(tmp_path, [{"a": 2}], "f2.ndjson")
    dest.insert_ndjson("t", [p1, p2])
    kinds = [c[0] for c in t.calls]
    assert kinds.count("begin") == 2 and kinds.count("commit") == 2


def test_schema_qualifies_ddl_and_copy(spark, tmp_path):
    t = FakeTransport()
    dest = LocalDDL(
        spark, "jdbc:postgresql://fake:5432/db",
        copy_transport=t, schema="ingest",
    )
    stmts = []
    dest._execute = stmts.append
    dest.create_empty_table("ev")
    assert stmts == ['CREATE TABLE IF NOT EXISTS "ingest"."ev" ("__row_id" BIGINT)']
    dest.insert_ndjson("ev", _file(tmp_path, [{"a": 1}]))
    assert t.calls[1][1].startswith('COPY "ingest"."ev" ')


def test_factory_onboards_postgres_copy(spark, tmp_path):
    """service.build_app's destination_factory wires type='postgres'
    with an injected copy-transport seam (the ClickHouse onboarding
    shape); a missing transport refuses loudly."""
    from scratchdata_spark.config import Config
    from scratchdata_spark.service import build_app

    app = build_app(spark, Config(admin_key="a"), str(tmp_path / "app"))
    t = FakeTransport()
    dest = app.service.destination_factory(
        "pg",
        "postgres",
        {
            "url": "jdbc:postgresql://h:5432/db",
            "copy_transport": t,
            "schema": "ingest",
        },
    )
    assert isinstance(dest, PostgresCopyDestination)
    assert dest._qualified("t") == '"ingest"."t"'
    with pytest.raises(ValueError, match="transport"):
        app.service.destination_factory(
            "pg2", "postgres", {"url": "jdbc:postgresql://h:5432/db"}
        )
