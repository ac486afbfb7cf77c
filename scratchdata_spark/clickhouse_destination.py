"""ClickHouse destination with the reference's batched bulk-insert path.

The generic :class:`~scratchdata_spark.jdbc_destination.JDBCDestination`
already serves ClickHouse for queries (including the read-side rich-type
matrix) and JDBC appends; what it lacks is the reference's insert
mechanics (``clickhouse/insert.go``), the only bulk path it ships:

1. **Type inference over the NDJSON batch** (insert.go:17-94): the
   shared ``jtypes`` ladder, string > undefined > float > int > bool
   (default string), which decides ``int`` vs ``float`` the way Go's
   ``strconv.Atoi`` does — ``1.0``, ``1e3`` and integers past int64
   are floats.  ``insert_ndjson`` runs it once per batch, and every
   file of the batch loads with that one column map.
2. **Column evolution** (insert.go:96-121): one ``ALTER TABLE`` with a
   comma-joined ``ADD COLUMN IF NOT EXISTS "col" Type`` list, mapping
   int→Int64, bool→Boolean, float→Float64, string→String.
3. **Remote type fetch** (insert.go:123-147): ``DESCRIBE TABLE "t"
   FORMAT JSON`` over the HTTP interface, yielding (name, type) pairs.
4. **Per-type value coercion** (insert.go:148-201 ``jsonToGoType``):
   every JSON value is coerced to the remote column's ClickHouse type
   — width-truncating integer casts, Float32 rounding, DateTime
   number-vs-string passthrough, big 128/256-bit integers from their
   decimal string, gjson zero-values for missing keys.
5. **One batched insert** (insert.go:203-276): the reference appends
   coerced rows to a native-protocol batch and sends once.  This repo
   speaks the public HTTP interface instead of the native TCP wire (no
   native client in this container): the same coerced rows are posted
   as one ``INSERT INTO "db"."t" (`c1`,`c2`) FORMAT JSONCompactEachRow``
   body — positional values in a fixed column order, one round trip
   per batch, the server parses and ingests in parallel.  Statement
   and coercion semantics match the reference; only the wire differs.

Semantics notes (divergences loudly documented):

* **Missing keys load as type zero-values, not NULL** — parity with
  the reference, where a missing key yields a gjson Null result and
  ``jsonToGoType`` coerces it to ``""``/``0``/``false`` (insert.go:
  253-257).  The columns the evolution step creates are non-Nullable,
  so this is also the only loadable value.  (The repo's own Spark
  engine keeps its missing→NULL contract; this applies to the
  ClickHouse destination only.)
* **Column order is deterministic first-seen order.**  The reference
  iterates a Go map (insert.go:205-210), which is randomized per run;
  values and column names still pair correctly there because the same
  slice drives both, so a stable order is a strict improvement, not a
  semantic change.
* Decimal values are serialized as JSON strings so the server parses
  them at full precision (the reference's shopspring decimal rides the
  native wire losslessly; a JSON float would not).
"""

from __future__ import annotations

import json
import logging
import math
import re
import struct
from decimal import Decimal

from pyspark.sql import SparkSession

_LOG = logging.getLogger(__name__)

from scratchdata_spark.engine import _check_ident
from scratchdata_spark.jdbc_destination import TYPE_MAPS, JDBCDestination

# ------------------------------------------------------------- coercion


def _g_string(v) -> str:
    """gjson ``Result.String()``: null → '', bools → 'true'/'false',
    numbers → their JSON token, strings unchanged, nested JSON values
    re-serialized as JSON (the reference returns the raw source
    substring; post-parse the closest faithful form is a compact
    canonical re-serialization — still valid JSON downstream, unlike
    a Python repr, r10 review catch)."""
    if v is None:
        return ""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float, Decimal)):
        return json.dumps(float(v) if isinstance(v, Decimal) else v)
    if isinstance(v, (dict, list)):
        return json.dumps(v, ensure_ascii=False, separators=(",", ":"))
    return str(v)


def _g_float(v) -> float:
    """gjson ``Result.Float()``: null → 0, true → 1 (the True case in
    gjson's switch — r10 review catch; also consistent with the Int
    path), strings via parse."""
    if v is None:
        return 0.0
    if isinstance(v, bool):
        return 1.0 if v else 0.0
    if isinstance(v, (int, float)):
        return float(v)
    try:
        return float(str(v))
    except ValueError:
        return 0.0


_GO_INT = re.compile(r"-?[0-9]+")


def _g_int(v) -> int:
    """gjson ``Result.Int()``: floats truncate toward zero, STRINGS
    parse as exact integers with the gjson grammar — optional '-'
    then ASCII digits only, never through float (a 17+ digit string
    would corrupt above 2^53) and never Python's lenient int() (which
    accepts whitespace/'+'/underscores/unicode digits Go rejects —
    r10 review catches), null/non-matching → 0."""
    if v is None or isinstance(v, bool):
        return 1 if v is True else 0
    if isinstance(v, int):
        return v
    if isinstance(v, float):
        if math.isnan(v) or math.isinf(v):
            return 0
        return int(v)
    s = str(v)
    return int(s, 10) if _GO_INT.fullmatch(s) else 0


def _g_bool(v) -> bool:
    """gjson ``Result.Bool()``: strings lowercase then go through
    Go's strconv.ParseBool, which accepts only 1/t/true (and the 0/f/
    false family) — 'yes' is an error → false (r10 review catch);
    numbers are true when nonzero."""
    if isinstance(v, bool):
        return v
    if v is None:
        return False
    if isinstance(v, (int, float)):
        return v != 0
    return str(v).lower() in {"true", "1", "t"}


def _wrap_uint(v, bits: int) -> int:
    return _g_int(v) & ((1 << bits) - 1)


def _wrap_int(v, bits: int) -> int:
    u = _g_int(v) & ((1 << bits) - 1)
    return u - (1 << bits) if u >= (1 << (bits - 1)) else u


_GO_BIG = re.compile(r"[+-]?[0-9]+")  # big.Int SetString base-10 grammar


def _big_int(v) -> int:
    """big.Int SetString on the decimal string (insert.go:163-166,
    178-181); an unparsable string leaves the zero value.  The grammar
    is enforced explicitly — Python's int() tolerates whitespace and
    underscores that Go rejects (r10 review catch on _g_int; same
    class here)."""
    s = _g_string(v)
    return int(s, 10) if _GO_BIG.fullmatch(s) else 0


_CH_BASE = re.compile(r"^([A-Za-z0-9]+)")


def json_to_ch_value(ch_type: str, v):
    """The write-side twin of the read-type matrix: coerce a parsed
    JSON value to the remote column's ClickHouse type, per
    ``clickhouse/insert.go:148-201`` (jsonToGoType).  DELIBERATE
    DIVERGENCE (r10 advisor): parameterized types dispatch on their
    base name here (``Decimal(18, 4)`` → Decimal, ``DateTime64(3)`` →
    DateTime64), whereas the reference's switch matches the exact
    DESCRIBE string, so those fall through to its data.String()
    default.  Base-name dispatch is strictly more typed than the
    reference's fallthrough; the server accepts both forms."""
    m = _CH_BASE.match(ch_type.strip())
    base = m.group(1) if m else ch_type
    if base in ("String", "FixedString"):
        return _g_string(v)
    if base == "Decimal":
        # shopspring decimal.NewFromFloat — via float, then exact text
        return str(Decimal(repr(_g_float(v))))
    if base in ("Bool", "Boolean"):
        return _g_bool(v)
    if base == "UInt8":
        return _wrap_uint(v, 8)
    if base == "UInt16":
        return _wrap_uint(v, 16)
    if base == "UInt32":
        return _wrap_uint(v, 32)
    if base == "UInt64":
        # data.Uint() parses the raw token as uint64; negatives → 0
        n = _g_int(v)
        return n if 0 <= n < (1 << 64) else (0 if n < 0 else n & ((1 << 64) - 1))
    if base in ("UInt128", "UInt256", "Int128", "Int256"):
        return _big_int(v)
    if base == "Int8":
        return _wrap_int(v, 8)
    if base == "Int16":
        return _wrap_int(v, 16)
    if base == "Int32":
        return _wrap_int(v, 32)
    if base == "Int64":
        return _wrap_int(v, 64)
    if base == "Float32":
        return struct.unpack("<f", struct.pack("<f", _g_float(v)))[0]
    if base == "Float64":
        return _g_float(v)
    if base in ("UUID", "Date", "Date32"):
        return _g_string(v)
    if base in ("DateTime", "DateTime64"):
        # JSON number → epoch int; anything else → its string form
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            return _g_int(v)
        return _g_string(v)
    if base == "Enum8":
        return _wrap_int(v, 8)
    if base == "Enum16":
        return _wrap_int(v, 16)
    return _g_string(v)


# ---------------------------------------------------------- destination


class ClickHouseHTTPClient:
    """The reference's ``httpQuery`` seam (clickhouse/clickhouse.go:
    91-124): POST the SQL (plus any FORMAT body) to the HTTP interface
    with the X-Clickhouse-* auth headers; non-200 raises with the
    server's error text.  Tests inject a fake with the same ``post``
    signature."""

    def __init__(
        self,
        base_url: str,
        user: str = "default",
        password: str = "",
        database: str = "default",
        timeout: float = 120.0,
    ):
        self.base_url = base_url.rstrip("/")
        self.user = user
        self.password = password
        self.database = database
        self.timeout = timeout

    def post(self, payload: bytes) -> bytes:
        import urllib.error
        import urllib.request

        req = urllib.request.Request(
            self.base_url, data=payload, method="POST"
        )
        req.add_header("X-Clickhouse-User", self.user)
        req.add_header("X-Clickhouse-Key", self.password)
        req.add_header("X-Clickhouse-Database", self.database)
        try:
            with urllib.request.urlopen(req, timeout=self.timeout) as resp:
                return resp.read()
        except urllib.error.HTTPError as e:  # non-200 → server text
            raise RuntimeError(
                f"clickhouse http {e.code}: {e.read().decode('utf-8', 'replace')}"
            ) from e


class ClickHouseBatchDestination(JDBCDestination):
    """JDBCDestination specialized to ClickHouse, with the reference's
    batched bulk-insert mechanics (``clickhouse/insert.go``) over the
    public HTTP interface.  Queries/DDL still ride JDBC (with the
    read-side type matrix available via :meth:`query_df_typed`); bulk
    NDJSON loads go through :meth:`_append` below."""

    def __init__(
        self,
        spark: SparkSession,
        url: str,
        *,
        http_client,
        database: str = "default",
        **jdbc_kwargs,
    ):
        super().__init__(spark, url, engine="clickhouse", **jdbc_kwargs)
        self.http = http_client
        self.database = _check_ident(database)

    # ------------------------------------------------------------ naming
    def _qualified(self, table: str) -> str:
        """``"db"."table"`` — the reference prepends its Database to
        ALTER and INSERT targets (insert.go:96, 217)."""
        return f'"{self.database}"."{_check_ident(table)}"'

    def _q_table(self, table: str) -> str:
        return self._qualified(table)

    def _dbtable(self, table: str) -> str:
        return f"{self.database}.{_check_ident(table)}"

    # --------------------------------------------------------- mechanics
    def _add_columns(self, table: str, types: dict[str, str]) -> None:
        """One ALTER with the comma-joined ADD COLUMN list
        (insert.go:96-121)."""
        if not types:
            return
        tmap = TYPE_MAPS["clickhouse"]
        parts = [
            f'ADD COLUMN IF NOT EXISTS "{_check_ident(n)}" {tmap[jt]}'
            for n, jt in types.items()
        ]
        self._execute(
            f"ALTER TABLE {self._qualified(table)} " + ", ".join(parts)
        )

    def clickhouse_types(self, table: str) -> dict[str, str]:
        """DESCRIBE over HTTP (insert.go:123-147; the reference does
        not db-qualify this statement — the X-Clickhouse-Database
        header scopes it, and so does ours)."""
        raw = self.http.post(
            f'DESCRIBE TABLE "{_check_ident(table)}" FORMAT JSON'.encode()
        )
        parsed = json.loads(raw)
        return {f["name"]: f["type"] for f in parsed.get("data", [])}

    def insert_data(
        self, table: str, lines, columns: dict[str, str]
    ) -> None:
        """Coerce every row to the remote types and send ONE batch
        (insert.go:203-276).  Wire format is JSONCompactEachRow —
        positional values in the INSERT's column order, the HTTP twin
        of batch.Append(vals...).  A row that fails to parse or coerce
        is logged and skipped while the rest of the batch still sends,
        matching the reference's per-row Append-error handling
        (insert.go:262-265); a SERVER-side rejection still fails the
        whole batch loudly — the analogue of batch.Send failing.
        ``lines`` may be any iterable (lazily consumed); the payload
        is accumulated once, so peak memory is ~1× the batch body."""
        col_names = list(columns)
        remote = self.clickhouse_types(table)
        cols_sql = ",".join(f"`{_check_ident(c)}`" for c in col_names)
        payload = bytearray(
            (
                f"INSERT INTO {self._qualified(table)} ({cols_sql}) "
                "FORMAT JSONCompactEachRow\n"
            ).encode("utf-8")
        )
        n_rows = 0
        for line in lines:
            if isinstance(line, bytes):
                line = line.decode("utf-8")
            if not line.strip():
                continue
            try:
                obj = json.loads(line)
                vals = [
                    json_to_ch_value(remote.get(c, "String"), obj.get(c))
                    for c in col_names
                ]
            except Exception as e:  # noqa: BLE001 — skip-and-log, ref parity
                _LOG.error("clickhouse: skipping unappendable row: %s", e)
                continue
            payload += json.dumps(vals, ensure_ascii=False).encode("utf-8")
            payload += b"\n"
            n_rows += 1
        if not n_rows:
            return
        self.http.post(bytes(payload))

    # ------------------------------------------------------------ insert
    def _append(self, table: str, ndjson_path, batch_types: dict[str, str]) -> None:
        """InsertBatchFromNDJson (insert.go:278-299), after
        ``insert_ndjson`` inferred the batch and evolved the table: one
        batched insert per file with the batch's columns.  Raw rows
        never ride the JDBC link.  Each file streams line-by-line (the
        reference's bounded scanner, insert.go:224-236) instead of
        materializing a line list, so peak memory is the single
        coerced batch body, not ~3× the spool file (r10 advisor
        catch)."""
        paths = (
            [ndjson_path] if isinstance(ndjson_path, str) else list(ndjson_path)
        )
        for path in paths:
            with open(path, "rb") as f:
                self.insert_data(
                    table, (line.rstrip(b"\n") for line in f), batch_types
                )
