"""DuckDB destination — a second OLAP backend behind the same
Destination ABC, proving the multi-backend design (the reference
ships DuckDB/ClickHouse/Postgres/Redshift/BigQuery behind one
interface; we ship Spark as primary + DuckDB as the embedded
alternative, and cross-backend ``copy_data`` works between them).

Mirrors the reference's DuckDB driver behavior:
* CREATE TABLE IF NOT EXISTS t (__row_id BIGINT)   (duckdb/insert.go:72-76)
* ALTER TABLE ADD COLUMN per inferred jsontype     (duckdb/insert.go:12-26)
* INSERT ... BY NAME from read_ndjson              (duckdb/insert.go:56-70),
  each column read as the batch's inferred type
* JSON/NDJSON/CSV serialization                    (duckdb/query.go)
"""

from __future__ import annotations

import re
import threading

import duckdb

from scratchdata_spark.engine import Destination, RowSerializers, _check_ident
from scratchdata_spark.jtypes import DUCKDB_TYPES, infer_types_file


def motherduck_connection_string(database: str, token: str) -> str:
    """MotherDuck connection string, matching the reference's
    validation and format (duckdb/duckdb.go:58-68): neither the
    database nor the token may smuggle in ``saas_mode`` (it would
    flip the connection out of the restricted mode the server always
    requests), and the result is
    ``md:<db>?motherduck_saas_mode=true&motherduck_token=<token>``."""
    if "saas_mode" in database.lower():
        raise ValueError("db cannot be named saas_mode")
    if "saas_mode" in token.lower():
        raise ValueError("token cannot be named saas_mode")
    return f"md:{database}?motherduck_saas_mode=true&motherduck_token={token}"


class DuckDBDestination(RowSerializers, Destination):
    def __init__(self, path: str = ":memory:", export_root: str | None = None):
        self.conn = duckdb.connect(path)
        self._lock = threading.Lock()  # duckdb conn is not thread-safe
        # COPY … TO confinement, same contract as the Spark engine
        # (warehouse_dml._resolve_copy_target): DuckDB's native COPY
        # writes anywhere the process can, so a query API key on a
        # duckdb connection would otherwise be a filesystem-write
        # primitive. None = unconfined embedded/library use.
        self.export_root = export_root
        self._fs = None
        if export_root is not None:
            # ENGINE-LEVEL read/write confinement (round-6 advisor
            # finding: the statement-head deny-list gates COPY/ATTACH/
            # SET/…, but table functions inside plain SELECT — read_csv,
            # read_text, glob — bypassed it).  enable_external_access
            # kills every filesystem/extension/ATTACH surface inside
            # the engine, and lock_configuration makes it irreversible
            # for the lifetime of the database (the setting is one-way
            # in DuckDB 1.0 anyway).  The _DENY_HEAD statement gate
            # stays as defense in depth.  File I/O that IS allowed
            # (COPY TO/FROM under the export root, NDJSON bulk load)
            # runs on ``self._fs`` — a separate privileged staging
            # instance that only ever executes statements constructed
            # HERE with already-resolved, root-confined literal paths
            # (never raw user text); data crosses instances as Arrow
            # record batches.
            self.conn.execute("SET enable_external_access=false")
            self.conn.execute("SET lock_configuration=true")
            self._fs = duckdb.connect(":memory:")

    def _resolve_read_source(self, path: str) -> str:
        """Confine COPY FROM sources to the export root (reads, not
        just writes — with the engine locked down, the staging
        instance is the only reader, so an absolute out-of-root source
        here would reopen exactly the hole enable_external_access
        closed).  Shares the write boundary's confinement primitive —
        one definition for the security check (review finding)."""
        from scratchdata_spark.warehouse_dml import confine_path_under_root

        return confine_path_under_root(
            self.export_root, path, "COPY FROM source"
        )

    @classmethod
    def motherduck(cls, database: str, token: str) -> "DuckDBDestination":
        """Connect to MotherDuck instead of a local file/in-memory db
        (requires network + the motherduck extension at runtime)."""
        return cls(motherduck_connection_string(database, token))

    # Statement heads that reach the filesystem / extension dir /
    # settings outside the in-database surface.  duckdb.execute() runs
    # multi-statement strings, so the confined path must gate EVERY
    # statement, not regex-rewrite one shape: SET/RESET/PRAGMA are
    # denied so a query cannot flip enable_external_access or
    # temp_directory; ATTACH/EXPORT/IMPORT create files; INSTALL/LOAD
    # and FORCE INSTALL write the extension dir; CALL is a table-
    # function escape hatch nobody needs on the query API.
    _DENY_HEAD = re.compile(
        r"(COPY|EXPORT|IMPORT|ATTACH|DETACH|INSTALL|FORCE|LOAD"
        r"|SET|RESET|PRAGMA|CALL)\b",
        re.I,
    )

    def _confine(self, query: str) -> list[tuple]:
        """Split the submitted text into statements (comment- and
        literal-aware — duckdb's execute() runs multi-statement
        strings, so one anchored regex over the whole text is NOT a
        gate), then per statement: route a COPY … TO/FROM to the
        privileged staging instance with its export-root-resolved
        path (refusing escapes), and reject any other statement whose
        head could touch the filesystem or re-open it via settings —
        the engine itself is also locked (enable_external_access=
        false), so a table function inside a plain SELECT dies in
        DuckDB even if a future head slips this gate.  None
        export_root = unconfined embedded/library use, passed through
        untouched.  Returns dispatch actions for ``_rows``."""
        if self.export_root is None:
            return [("sql", query)]
        from scratchdata_spark.warehouse_dml import (
            _COPY_FROM_RE,
            _COPY_TO_RE,
            _resolve_copy_target,
            normalize,
            split_script,
        )

        out: list[tuple] = []
        for stmt in split_script(query):
            stmt = normalize(stmt).strip()
            if not stmt:
                continue
            m = _COPY_TO_RE.match(stmt)
            if m is not None:
                resolved = _resolve_copy_target(self, m.group(2), makedirs=True)
                out.append(("copy_to", m.group(1), resolved, m.group(3)))
                continue
            m = _COPY_FROM_RE.match(stmt)
            if m is not None:
                resolved = self._resolve_read_source(m.group(2))
                out.append(("copy_from", m.group(1), resolved, m.group(3)))
                continue
            head = self._DENY_HEAD.match(stmt)
            if head is not None:
                raise PermissionError(
                    f"{head.group(1).upper()} is not allowed on a"
                    " confined connection (export root is set);"
                    " only COPY TO/FROM relative paths under the"
                    " export root may touch the filesystem"
                )
            out.append(("sql", stmt))
        if not out:
            raise ValueError("empty query")
        return out

    def _staged_copy_to(self, source: str, resolved: str, opts_text):
        """Run a confined COPY TO: evaluate the source on the locked
        connection (pure compute — external access stays off), stream
        the result to the staging instance as Arrow record batches,
        and let DuckDB's own COPY write the root-confined path there
        (exact native format semantics: HEADER/DELIMITER/FORMAT/
        PER_THREAD_OUTPUT all behave as stock DuckDB)."""
        opts = f" ({opts_text})" if opts_text else ""
        reader = self.conn.execute(f"SELECT * FROM {source}").fetch_record_batch()
        self._fs.register("__stage_out", reader)
        try:
            res = self._fs.execute(f"COPY __stage_out TO '{resolved}'{opts}")
            return [d[0] for d in res.description], res.fetchall()
        finally:
            self._fs.unregister("__stage_out")

    def _staged_copy_from(self, table: str, resolved: str, opts_text):
        """Run a confined COPY FROM: clone the target table's schema
        into the staging instance (arrow zero-row slice), let DuckDB's
        native COPY load the root-confined file into that clone (exact
        positional/format semantics), then stream the loaded rows back
        into the locked connection's table."""
        opts = f" ({opts_text})" if opts_text else ""
        ident = _check_ident(table.strip().strip('"'))
        empty = self.conn.execute(f'SELECT * FROM "{ident}" LIMIT 0').arrow()
        self._fs.register("__stage_schema", empty)
        try:
            self._fs.execute(
                "CREATE OR REPLACE TEMP TABLE __stage_in AS"
                " SELECT * FROM __stage_schema"
            )
        finally:
            self._fs.unregister("__stage_schema")
        try:
            res = self._fs.execute(f"COPY __stage_in FROM '{resolved}'{opts}")
            cols, rows = [d[0] for d in res.description], res.fetchall()
            reader = self._fs.execute("SELECT * FROM __stage_in").fetch_record_batch()
            self.conn.register("__stage_load", reader)
            try:
                self.conn.execute(f'INSERT INTO "{ident}" SELECT * FROM __stage_load')
            finally:
                self.conn.unregister("__stage_load")
            return cols, rows
        finally:
            self._fs.execute("DROP TABLE IF EXISTS __stage_in")

    def _rows(self, text: str):
        with self._lock:
            out = None
            for action in self._confine(text):
                if action[0] == "copy_to":
                    out = self._staged_copy_to(*action[1:])
                elif action[0] == "copy_from":
                    out = self._staged_copy_from(*action[1:])
                else:
                    res = self.conn.execute(action[1])
                    out = ([d[0] for d in res.description], res.fetchall())
            return out

    def tables(self) -> list[str]:
        _, rows = self._rows("SELECT table_name FROM information_schema.tables ORDER BY 1")
        return [r[0] for r in rows]

    def columns(self, table: str) -> list[dict]:
        _, rows = self._rows(
            f"SELECT column_name, data_type FROM information_schema.columns"
            f" WHERE table_name = '{_check_ident(table)}' ORDER BY ordinal_position"
        )
        return [{"name": r[0], "type": r[1]} for r in rows]

    def create_empty_table(self, table: str) -> None:
        with self._lock:
            self._create_empty_table(_check_ident(table))

    def _create_empty_table(self, ident: str) -> None:
        self.conn.execute(f'CREATE TABLE IF NOT EXISTS "{ident}" (__row_id BIGINT)')

    def insert_ndjson(self, table: str, ndjson_path: str | list[str]) -> None:
        """Create the table, add the batch's columns with the types
        inferred once over the batch, then ``INSERT … BY NAME`` from a
        ``read_ndjson`` that reads each column as that type, so DuckDB
        never re-infers the file — one write under the connection
        lock."""
        ident = _check_ident(table)
        types = infer_types_file(ndjson_path)
        columns = {_check_ident(n): DUCKDB_TYPES[jt] for n, jt in types.items()}
        with self._lock:
            self._create_empty_table(ident)
            for name, sql_type in columns.items():
                self.conn.execute(
                    f'ALTER TABLE "{ident}" ADD COLUMN IF NOT EXISTS'
                    f' "{name}" {sql_type}'
                )
            if not columns:
                return  # an empty batch: no rows to load
            read = "SELECT * FROM read_ndjson(?, columns = ?)"
            if self._fs is not None:
                # Confined connection: the engine can't read files
                # (enable_external_access=false), so the bulk load
                # parses on the staging instance — ndjson_path is a
                # server-controlled spool file, not user input — and
                # streams across as Arrow.
                reader = self._fs.execute(
                    read, [ndjson_path, columns]
                ).fetch_record_batch()
                self.conn.register("__stage_ndjson", reader)
                try:
                    self.conn.execute(
                        f'INSERT INTO "{ident}" BY NAME'
                        " SELECT * FROM __stage_ndjson"
                    )
                finally:
                    self.conn.unregister("__stage_ndjson")
                return
            self.conn.execute(
                f'INSERT INTO "{ident}" BY NAME {read}', [ndjson_path, columns]
            )

    def close(self) -> None:
        self.conn.close()
        if self._fs is not None:
            self._fs.close()
