"""Postgres destination with the reference's COPY-protocol bulk load.

The generic :class:`~scratchdata_spark.jdbc_destination.JDBCDestination`
already serves Postgres for queries, DDL and batched JDBC appends; what
it lacked was the reference's bulk mechanics — the COPY wire protocol
(``postgres/insert.go:83-155`` InsertFromNDJsonFile): a bufio scanner
streams the NDJSON file, the FIRST row's keys (in document order,
gjson ``@keys``) become the COPY column list, and EVERY value is sent
as its gjson ``.String()`` text (``insert.go:123-125`` — all values as
strings over the wire; Postgres casts server-side on ingest).  The
statement is lib/pq's ``CopyInSchema`` shape and each row rides one
CopyData frame of the v3 frontend/backend protocol in COPY TEXT
format, exactly what lib/pq's ``stmt.Exec(values...)`` emits.

The wire sits behind an injected transport seam — the
test_clickhouse_batch / test_redshift pattern: tests drive a fake
transport and assert the statement text, the frame shapes and the
stringify semantics.  The PRODUCTION transport is
:class:`scratchdata_spark.pgwire.SocketCopyTransport` (r12): a
dependency-free v3-protocol client (startup, md5 + SCRAM-SHA-256
auth, simple query, COPY-in) unit-tested against a scripted server
byte-for-byte and env-gated live (SCRATCHDATA_POSTGRES_URL,
tests/test_pgwire.py) like the other destination integrations.
Frames pass through it verbatim, so the fake-transport assertions
hold for the real wire too.

Semantics notes (divergences loudly documented):

* JSON ``null`` and MISSING keys both send as the EMPTY STRING, not
  the COPY ``\\N`` null token — gjson ``Result.String()`` returns ""
  for both (insert.go:123-125), so the reference loads them as empty
  VARCHARs / cast errors, never as SQL NULL.  Parity wins.
* ``insert_ndjson`` infers the batch's types strictly first, so an
  unparsable line or a non-object row fails the batch before any
  transaction opens (where gjson would send "" for every key of such
  a line).
* An EMPTY file is a no-op here; the reference nil-pointer panics on
  it (``stmt.Exec()`` with ``stmt`` never prepared, insert.go:137) —
  reproducing a crash is not parity worth having.
* A first row with no keys (``{}``) raises: the
  reference would prepare ``COPY s.t () FROM STDIN`` and fail
  server-side with a syntax error; failing loudly client-side is the
  same outcome with a better message.
"""

from __future__ import annotations

import json
import logging
import struct

from pyspark.sql import SparkSession

# gjson Result.String() semantics, shared with the ClickHouse batch
# path (both references stringify through the same gjson call)
from scratchdata_spark.clickhouse_destination import _g_string
from scratchdata_spark.engine import _check_ident
from scratchdata_spark.jdbc_destination import JDBCDestination

_LOG = logging.getLogger(__name__)

# the reference's bufio scanner line cap (insert.go:91-93): a longer
# line fails the whole insert there (bufio.ErrTooLong), and here
MAX_LINE_BYTES = 50 * 1000000


def copy_in_statement(schema: str, table: str, columns: list[str]) -> str:
    """lib/pq ``pq.CopyInSchema(schema, table, columns...)`` parity
    (lib/pq copy.go): double-quoted identifiers, the column list in
    the given order, TEXT format (no WITH options)."""
    cols = ", ".join(f'"{_check_ident(c)}"' for c in columns)
    return (
        f'COPY "{_check_ident(schema)}"."{_check_ident(table)}" '
        f"({cols}) FROM STDIN"
    )


def encode_copy_text_row(values: list[str]) -> bytes:
    """COPY TEXT format for one row — lib/pq ``appendEncodedText``:
    fields joined by tab, row terminated by newline, and the four
    characters that would break the framing escaped (backslash, tab,
    newline, carriage return).  Every value is already a string by
    the reference's contract, so the ``\\N`` null token never occurs
    (see module notes)."""
    def enc(v: str) -> str:
        return (
            v.replace("\\", "\\\\")
            .replace("\t", "\\t")
            .replace("\n", "\\n")
            .replace("\r", "\\r")
        )

    return ("\t".join(enc(v) for v in values) + "\n").encode("utf-8")


def frame_copy_data(payload: bytes) -> bytes:
    """One v3-protocol CopyData message: ``'d'`` + int32 length
    (including the length field itself) + payload."""
    return b"d" + struct.pack(">I", len(payload) + 4) + payload


# CopyDone: 'c' + int32(4) — ends the COPY sub-protocol
COPY_DONE_FRAME = b"c" + struct.pack(">I", 4)


class PostgresCopyDestination(JDBCDestination):
    """JDBCDestination specialized to Postgres with the reference's
    COPY bulk-insert mechanics.  Queries/DDL still ride JDBC; bulk
    NDJSON loads stream through :meth:`_append` below.

    ``copy_transport`` is the wire seam; it must provide::

        begin()            -- open a transaction (txn.Begin)
        start_copy(sql)    -- enter COPY mode with the statement
        send(frame: bytes) -- one protocol frame (CopyData / CopyDone)
        end_copy()         -- leave COPY mode (stmt.Close)
        commit()           -- txn.Commit
        rollback()         -- on error (database/sql implicit abort)
    """

    def __init__(
        self,
        spark: SparkSession,
        url: str,
        *,
        copy_transport,
        schema: str = "public",
        **jdbc_kwargs,
    ):
        super().__init__(spark, url, engine="postgres", **jdbc_kwargs)
        self.transport = copy_transport
        self.schema = _check_ident(schema)

    # ------------------------------------------------------------ naming
    def _qualified(self, table: str) -> str:
        """``"schema"."table"`` — the reference prepends its Schema to
        ALTER and COPY targets (insert.go:35, 113)."""
        return f'"{self.schema}"."{_check_ident(table)}"'

    def _q_table(self, table: str) -> str:
        return self._qualified(table)

    def _dbtable(self, table: str) -> str:
        return f"{self.schema}.{_check_ident(table)}"

    # --------------------------------------------------------- mechanics
    @staticmethod
    def _first_row_keys(obj) -> list[str]:
        """gjson ``@keys`` on the first scanned row (insert.go:106-111):
        keys in DOCUMENT order (json.loads preserves it, as gjson
        does).  Raises when the row yields no keys — see module notes."""
        keys = list(obj) if isinstance(obj, dict) else []
        if not keys:
            raise ValueError(
                "postgres copy: first NDJSON row has no keys; the COPY"
                " column list comes from it (insert.go:106-118)"
            )
        return keys

    def _append(self, table: str, ndjson_path, batch_types: dict[str, str]) -> None:
        """InsertFromNDJsonFile (insert.go:83-155): stream the file
        line-by-line (bounded scanner), prepare COPY from the first
        row's keys, send every row as one CopyData frame with all
        values stringified, then CopyDone + commit — one transaction
        per file.  Later rows PROJECT onto the first row's keys:
        extra keys are dropped, missing keys send as "" (gjson
        ``line.Get(key).String()`` on a miss)."""
        paths = (
            [ndjson_path] if isinstance(ndjson_path, str) else list(ndjson_path)
        )
        for path in paths:
            self._copy_one_file(table, path)

    def _copy_one_file(self, table: str, path: str) -> None:
        t = self.transport
        keys: list[str] | None = None
        in_txn = False
        try:
            with open(path, "rb") as f:
                for raw in f:
                    if len(raw) > MAX_LINE_BYTES:
                        raise ValueError(
                            f"postgres copy: line exceeds {MAX_LINE_BYTES}"
                            " bytes (the reference's scanner cap,"
                            " insert.go:91-93)"
                        )
                    line = raw.rstrip(b"\r\n")
                    if not line.strip():
                        continue
                    obj = json.loads(line)
                    if keys is None:
                        keys = self._first_row_keys(obj)
                        in_txn = True
                        t.begin()
                        t.start_copy(
                            copy_in_statement(self.schema, table, keys)
                        )
                    vals = [_g_string(obj.get(k)) for k in keys]
                    t.send(frame_copy_data(encode_copy_text_row(vals)))
            if keys is None:
                return  # empty file: no-op (see module notes)
            t.send(COPY_DONE_FRAME)
            t.end_copy()
            t.commit()
        except Exception:
            if in_txn:
                try:
                    t.rollback()
                except Exception:  # pragma: no cover - best-effort abort
                    _LOG.exception("postgres copy: rollback failed")
            raise
