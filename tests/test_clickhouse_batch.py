"""ClickHouse batched bulk insert (clickhouse_destination.py — parity
with ``clickhouse/insert.go``): the NDJSON type inference ladder it
shares with every destination (``jtypes``), one-ALTER
column evolution, DESCRIBE-over-HTTP type fetch, the jsonToGoType
coercion matrix, and the single-batch insert.  No live server in this
container: a fake HTTP client captures payloads and serves canned
DESCRIBE responses (the test_redshift / test_bigquery pattern)."""

from __future__ import annotations

import json
from decimal import Decimal

import pytest

from scratchdata_spark.clickhouse_destination import (
    ClickHouseBatchDestination,
    json_to_ch_value,
)
from scratchdata_spark.jtypes import infer_types


class FakeHTTP:
    """Captures posted payloads; answers DESCRIBE with canned types."""

    def __init__(self, types: dict[str, str] | None = None):
        self.types = dict(types or {})
        self.posts: list[bytes] = []

    def post(self, payload: bytes) -> bytes:
        self.posts.append(payload)
        if payload.startswith(b"DESCRIBE TABLE"):
            return json.dumps(
                {"data": [{"name": n, "type": t} for n, t in self.types.items()]}
            ).encode()
        return b""


class FakeCH(ClickHouseBatchDestination):
    """Captures JDBC-side DDL; mirrors ADD COLUMNs into the fake
    server's DESCRIBE state so evolution feeds the insert's types."""

    def __init__(self, spark, http, **kw):
        super().__init__(
            spark, "jdbc:clickhouse://fake:8123/db", http_client=http, **kw
        )
        self.stmts: list[str] = []

    def _execute(self, sql):
        self.stmts.append(sql)
        if "ADD COLUMN IF NOT EXISTS" in sql:
            for frag in sql.split("ADD COLUMN IF NOT EXISTS")[1:]:
                name, ctype = frag.strip().rstrip(",").split(None, 1)
                # IF NOT EXISTS: an existing column never retypes
                self.http.types.setdefault(
                    name.strip('"'), ctype.split(",")[0].strip()
                )


@pytest.fixture()
def ch(spark):
    http = FakeHTTP()
    return FakeCH(spark, http), http


def _lines(rows):
    return [json.dumps(r) for r in rows]


# ------------------------------------------------------------ inference


def test_inference_ladder_matches_reference():
    # string > undefined > float > int > bool (insert.go:70-93)
    lines = _lines(
        [
            {"s": "x", "mixed": 1, "f": 1.5, "i": 2, "b": True, "n": None},
            {"s": "y", "mixed": "one", "f": 2, "i": 3, "b": False, "n": None},
        ]
    )
    t = infer_types(lines)
    assert t == {
        "s": "string",
        "mixed": "string",  # any string wins over int
        "f": "float",  # float wins over int
        "i": "int",
        "b": "bool",
        "n": "string",  # all-null column defaults to string
    }


def test_inference_integral_float_token_stays_float():
    # Atoi rejects '1.0' and '1e3' → float even when integral
    t = infer_types(_lines([{"a": 1.0}, {"a": 3}]))
    assert t == {"a": "float"}


def test_inference_nested_is_undefined_then_string():
    t = infer_types(_lines([{"o": {"x": 1}, "a": [1, 2]}]))
    assert t == {"o": "string", "a": "string"}


def test_inference_first_seen_order_and_union_of_keys():
    t = infer_types(_lines([{"b": 1}, {"a": 2, "b": 3}]))
    assert list(t) == ["b", "a"]


def test_inference_rejects_non_object_rows():
    with pytest.raises(ValueError):
        infer_types(["[1,2]"])


# ------------------------------------------------------------- coercion


@pytest.mark.parametrize(
    "ch_type,value,expected",
    [
        ("String", "x", "x"),
        ("String", None, ""),  # gjson zero-value, NOT NULL
        ("String", 3, "3"),
        ("String", True, "true"),
        ("FixedString(4)", "abcd", "abcd"),
        ("Bool", True, True),
        ("Bool", "true", True),
        ("Bool", 0, False),
        ("Bool", None, False),
        ("UInt8", 300, 44),  # Go uint8() truncation
        ("UInt16", -1, 65535),
        ("UInt32", 2**32 + 7, 7),
        ("UInt64", 2**63, 2**63),
        ("UInt128", str(2**100), 2**100),  # big.Int from decimal string
        ("UInt256", "bogus", 0),  # SetString failure → zero value
        ("Int8", 200, -56),  # two's-complement wrap
        ("Int16", -40000, 25536),
        ("Int32", 2**31, -(2**31)),
        ("Int64", 5, 5),
        ("Int64", 5.9, 5),  # gjson Int() truncates toward zero
        ("Int128", str(-(2**100)), -(2**100)),
        ("Float64", 1.5, 1.5),
        ("Float64", None, 0.0),
        ("UUID", "ab-cd", "ab-cd"),
        ("Date", "2024-01-02", "2024-01-02"),
        ("Date32", None, ""),
        ("DateTime", 1700000000, 1700000000),  # number → epoch int
        ("DateTime", "2024-01-02 03:04:05", "2024-01-02 03:04:05"),
        ("DateTime64(3)", 1700000000123, 1700000000123),
        ("Enum8", 2, 2),
        ("Enum16", 70000, 4464),
        ("SomethingNew", 5, "5"),  # default branch → string
    ],
)
def test_json_to_ch_value_matrix(ch_type, value, expected):
    assert json_to_ch_value(ch_type, value) == expected


def test_float32_rounds_to_single_precision():
    v = json_to_ch_value("Float32", 0.1)
    assert v != 0.1 and abs(v - 0.1) < 1e-7


def test_decimal_serializes_exact_text():
    assert json_to_ch_value("Decimal(18, 4)", 1.5) == "1.5"
    assert isinstance(json_to_ch_value("Decimal(18, 4)", 1.5), str)


# ------------------------------------------------------------ evolution


def test_create_columns_single_alter_with_joined_adds(ch):
    dest, http = ch
    dest._add_columns(
        "events", {"a": "int", "b": "string", "c": "float", "d": "bool"}
    )
    alters = [s for s in dest.stmts if s.startswith("ALTER TABLE")]
    assert len(alters) == 1  # ONE statement, comma-joined (insert.go:96-121)
    a = alters[0]
    assert a.startswith('ALTER TABLE "default"."events" ')
    assert 'ADD COLUMN IF NOT EXISTS "a" Int64' in a
    assert 'ADD COLUMN IF NOT EXISTS "b" String' in a
    assert 'ADD COLUMN IF NOT EXISTS "c" Float64' in a
    assert 'ADD COLUMN IF NOT EXISTS "d" Boolean' in a


def test_create_columns_empty_is_noop(ch):
    dest, _ = ch
    dest._add_columns("events", {})
    assert dest.stmts == []


def test_identifiers_validated(ch):
    dest, _ = ch
    with pytest.raises(ValueError):
        dest._add_columns("ev;drop", {"a": "int"})
    with pytest.raises(ValueError):
        dest._add_columns("events", {'a" String --': "int"})


# --------------------------------------------------------------- insert


def test_insert_flow_one_batch_in_column_order(ch, tmp_path):
    dest, http = ch
    rows = [
        {"id": 1, "name": "a", "score": 1.5},
        {"name": "b", "id": 2},  # missing score → zero-value
        {"id": 3, "name": None, "score": 2},
    ]
    p = tmp_path / "b.ndjson"
    p.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
    dest.insert_ndjson("events", str(p))

    # evolution ran before the insert, with inferred types
    assert any("ADD COLUMN" in s for s in dest.stmts)
    inserts = [b for b in http.posts if b.startswith(b"INSERT INTO")]
    assert len(inserts) == 1  # one batch per file (batch.Send())
    text = inserts[0].decode()
    header, *body = text.splitlines()
    assert header == (
        'INSERT INTO "default"."events" (`id`,`name`,`score`) '
        "FORMAT JSONCompactEachRow"
    )
    assert [json.loads(x) for x in body] == [
        [1, "a", 1.5],
        [2, "b", 0.0],  # missing key → gjson zero-value (insert.go:253-257)
        [3, "", 2.0],  # null string → "" on a non-Nullable String
    ]


def test_insert_coerces_to_remote_types_not_inferred(ch, tmp_path):
    # remote column is UInt8 even though the batch infers int → Int64:
    # coercion follows the DESCRIBE types (insert.go:229-257)
    dest, http = ch
    http.types["n"] = "UInt8"
    p = tmp_path / "b.ndjson"
    p.write_text(json.dumps({"n": 300}) + "\n")
    dest.insert_ndjson("events", str(p))
    body = http.posts[-1].decode().splitlines()[1]
    assert json.loads(body) == [44]


def test_insert_empty_file_posts_nothing(ch, tmp_path):
    dest, http = ch
    p = tmp_path / "empty.ndjson"
    p.write_text("\n")
    dest.insert_ndjson("events", str(p))
    assert [b for b in http.posts if b.startswith(b"INSERT")] == []


def test_insert_multiple_files_one_batch_each(ch, tmp_path):
    dest, http = ch
    ps = []
    for i in range(2):
        p = tmp_path / f"b{i}.ndjson"
        p.write_text(json.dumps({"a": i}) + "\n")
        ps.append(str(p))
    dest.insert_ndjson("events", ps)
    assert len([b for b in http.posts if b.startswith(b"INSERT")]) == 2


def test_insert_ndjson_infers_a_two_file_batch_once(ch, tmp_path, monkeypatch):
    """One inference per batch: its column map drives one ALTER and
    every file's insert."""
    from scratchdata_spark import jdbc_destination

    calls = []
    infer = jdbc_destination.infer_types_file

    def spy(*args, **kwargs):
        calls.append(args)
        return infer(*args, **kwargs)

    monkeypatch.setattr(jdbc_destination, "infer_types_file", spy)
    dest, http = ch
    ps = []
    for i, row in enumerate([{"a": 1}, {"b": "x"}]):
        p = tmp_path / f"b{i}.ndjson"
        p.write_text(json.dumps(row) + "\n")
        ps.append(str(p))
    dest.insert_ndjson("events", ps)
    assert len(calls) == 1
    assert len([s for s in dest.stmts if s.startswith("ALTER TABLE")]) == 1
    inserts = [b.decode() for b in http.posts if b.startswith(b"INSERT")]
    assert [json.loads(b.splitlines()[1]) for b in inserts] == [[1, ""], [0, "x"]]


def test_describe_statement_shape(ch):
    dest, http = ch
    http.types["x"] = "String"
    types = dest.clickhouse_types("events")
    assert types == {"x": "String"}
    # unqualified, FORMAT JSON — insert.go:126's exact statement shape
    assert http.posts[0] == b'DESCRIBE TABLE "events" FORMAT JSON'


def test_unicode_rides_the_batch(ch, tmp_path):
    dest, http = ch
    p = tmp_path / "u.ndjson"
    p.write_text(json.dumps({"t": "héllo — ✓"}, ensure_ascii=False) + "\n")
    dest.insert_ndjson("events", str(p))
    assert "héllo — ✓" in http.posts[-1].decode("utf-8")


def test_decimal_values_ride_as_strings(ch, tmp_path):
    dest, http = ch
    http.types["d"] = "Decimal(18, 4)"
    p = tmp_path / "d.ndjson"
    p.write_text(json.dumps({"d": 2.5}) + "\n")
    dest.insert_ndjson("events", str(p))
    body = http.posts[-1].decode().splitlines()[1]
    assert json.loads(body) == ["2.5"]
    assert Decimal(json.loads(body)[0]) == Decimal("2.5")


def test_factory_onboards_clickhouse(spark, tmp_path):
    """service.build_app's destination_factory wires type='clickhouse'
    with an injected HTTP client seam (the Redshift onboarding shape)."""
    from scratchdata_spark.config import Config
    from scratchdata_spark.service import build_app

    app = build_app(spark, Config(admin_key="a"), str(tmp_path / "app"))
    http = FakeHTTP({"a": "String"})
    dest = app.service.destination_factory(
        "ch",
        "clickhouse",
        {
            "url": "jdbc:clickhouse://h:8123/db",
            "http_client": http,
            "database": "ingest",
        },
    )
    assert isinstance(dest, ClickHouseBatchDestination)
    assert dest.database == "ingest"
    assert dest._qualified("t") == '"ingest"."t"'
    assert dest.clickhouse_types("t") == {"a": "String"}


def test_real_http_client_headers_and_error(monkeypatch):
    """ClickHouseHTTPClient posts with the X-Clickhouse-* auth headers
    (clickhouse.go:103-105) and surfaces non-200 bodies as errors."""
    import urllib.request

    from scratchdata_spark.clickhouse_destination import ClickHouseHTTPClient

    captured = {}

    class FakeResp:
        def read(self):
            return b"ok"

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    def fake_urlopen(req, timeout=None):
        captured["url"] = req.full_url
        captured["headers"] = dict(req.header_items())
        captured["data"] = req.data
        return FakeResp()

    monkeypatch.setattr(urllib.request, "urlopen", fake_urlopen)
    c = ClickHouseHTTPClient(
        "http://h:8123/", user="u", password="p", database="db"
    )
    assert c.post(b"SELECT 1") == b"ok"
    assert captured["url"] == "http://h:8123"
    assert captured["headers"]["X-clickhouse-user"] == "u"
    assert captured["headers"]["X-clickhouse-key"] == "p"
    assert captured["headers"]["X-clickhouse-database"] == "db"
    assert captured["data"] == b"SELECT 1"


@pytest.mark.parametrize(
    "ch_type,value,expected",
    [
        # r10 review catches: exact int-string parse (never via float),
        ("Int64", str(2**63 - 1), 2**63 - 1),
        ("Int64", "5.9", 0),  # ParseInt rejects — gjson returns 0
        ("UInt64", str(2**53 + 1), 2**53 + 1),
        # gjson Float() True case → 1
        ("Float64", True, 1.0),
        # ParseBool rejects 'yes'
        ("Bool", "yes", False),
        ("Bool", "T", True),
    ],
)
def test_r10_review_coercion_fixes(ch_type, value, expected):
    assert json_to_ch_value(ch_type, value) == expected


def test_nested_values_serialize_as_json_not_repr():
    v = json_to_ch_value("String", {"a": True, "b": None, "s": "é"})
    assert v == '{"a":true,"b":null,"s":"é"}'
    assert json.loads(v) == {"a": True, "b": None, "s": "é"}
    assert json_to_ch_value("String", [1, "x"]) == '[1,"x"]'


# ----------------------------------------------- property-based ladder


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**62), max_value=2**62),
    st.floats(allow_nan=False, allow_infinity=False),
    st.text(max_size=8),
    st.lists(st.integers(), max_size=2),
)
_rows = st.lists(
    st.dictionaries(st.sampled_from(["a", "b", "c"]), _scalars, max_size=3),
    min_size=1,
    max_size=6,
)


# too_slow suppressed: the FIRST example draw occasionally takes >1 s
# on a box still JIT-warming the Spark JVM next door, tripping the
# health check spuriously (observed r13; passes in isolation).  The
# assertions themselves are unchanged.
@settings(suppress_health_check=[HealthCheck.too_slow])
@given(_rows)
def test_inference_ladder_properties(rows):
    """Invariants of the insert.go:70-93 ladder for arbitrary NDJSON:
    every column types to one of the four CH-mappable kinds; any
    string (or nested) occurrence forces string; float beats int;
    row order never matters."""
    lines = [json.dumps(r) for r in rows]
    t = infer_types(lines)
    assert set(t) == {k for r in rows for k in r}
    for col, kind in t.items():
        vals = [r[col] for r in rows if col in r]
        assert kind in ("string", "int", "float", "bool")
        if any(isinstance(v, (str, list, dict)) for v in vals):
            assert kind == "string"
        elif any(isinstance(v, float) for v in vals):
            assert kind == "float"
        elif any(isinstance(v, int) and not isinstance(v, bool) for v in vals):
            assert kind == "int"
        elif any(isinstance(v, bool) for v in vals):
            assert kind == "bool"
        else:
            assert kind == "string"  # all-null column
    # row order affects first-seen column ORDER only, never the kinds
    t2 = infer_types(list(reversed(lines)))
    assert dict(sorted(t2.items())) == dict(sorted(t.items()))


@pytest.mark.parametrize(
    "ch_type,value,expected",
    [
        # gjson parseInt grammar: digits with optional '-' ONLY —
        # Python leniencies (whitespace, '+', underscores) must not
        # parse (r10 second review catch)
        ("Int64", " 42 ", 0),
        ("Int64", "+42", 0),
        ("Int64", "1_000", 0),
        ("Int64", "-7", -7),
        # big.Int SetString: optional sign, digits, no underscores
        ("UInt128", "+123", 123),
        ("Int128", "1_0", 0),
        ("Int128", " 5", 0),
    ],
)
def test_go_integer_grammar_strictness(ch_type, value, expected):
    assert json_to_ch_value(ch_type, value) == expected


# ------------------------------------------- r10 advisor regressions


def test_inference_int64_overflow_counts_as_float():
    # strconv.Atoi fails past int64, so the reference's ladder calls a
    # 20-digit integer a float; Python's unbounded int must mirror it
    # or _wrap_int corrupts the value on insert (r10 advisor catch).
    t = infer_types(_lines([{"a": 99999999999999999999}]))
    assert t == {"a": "float"}
    t = infer_types(_lines([{"a": -(2**63) - 1}]))
    assert t == {"a": "float"}
    # the int64 boundary itself still parses via Atoi → int
    t = infer_types(_lines([{"lo": -(2**63), "hi": 2**63 - 1}]))
    assert t == {"lo": "int", "hi": "int"}


def test_insert_skips_unappendable_row_and_sends_rest(ch, caplog):
    dest, http = ch
    http.types = {"a": "Int64"}
    lines = ['{"a": 1}', "this is not json", '{"a": 3}']
    with caplog.at_level("ERROR"):
        dest.insert_data("t", lines, {"a": "int"})
    assert any("skipping unappendable row" in r.message for r in caplog.records)
    batch = [p for p in http.posts if p.startswith(b"INSERT")][-1]
    rows = batch.decode().splitlines()[1:]
    assert rows == ["[1]", "[3]"]  # bad row dropped, rest still sent


def test_insert_data_accepts_lazy_iterator(ch):
    dest, http = ch
    http.types = {"a": "Int64"}
    dest.insert_data("t", (f'{{"a": {i}}}' for i in range(3)), {"a": "int"})
    batch = [p for p in http.posts if p.startswith(b"INSERT")][-1]
    assert batch.decode().splitlines()[1:] == ["[0]", "[1]", "[2]"]
