"""BigQuery destination: staged-load shape against a fake client +
fake GCS (the SDK isn't in the container — same injection pattern as
test_blobstore.py), and MotherDuck connection-string building."""

from __future__ import annotations

import io
import json

import pytest

from scratchdata_spark.bigquery_destination import BigQueryDestination
from scratchdata_spark.blobstore import GCSBlobStore
from scratchdata_spark.duckdb_destination import motherduck_connection_string


class FakeBQClient:
    """Records DDL/LOAD SQL; answers queries from a canned result."""

    def __init__(self):
        self.queries: list[str] = []
        self.datasets: set[str] = set()
        self.result = ([], [])

    def query(self, sql: str):
        self.queries.append(sql)
        return self.result

    def create_dataset(self, name: str) -> None:
        self.datasets.add(name)

    def list_tables(self):
        return ["ds.t1", "ds.t2"]

    def table_schema(self, dataset: str, table: str):
        return [("__row_id", "INTEGER"), ("msg", "STRING")]


class FakeGCSBlob:
    def __init__(self, store, name):
        self.store, self.name = store, name

    def upload_from_filename(self, path):
        with open(path, "rb") as f:
            self.store.objects[self.name] = f.read()

    def download_to_filename(self, path):
        with open(path, "wb") as f:
            f.write(self.store.objects[self.name])

    def delete(self):
        del self.store.objects[self.name]


class FakeGCSBucket:
    def __init__(self):
        self.objects: dict[str, bytes] = {}

    def blob(self, name):
        return FakeGCSBlob(self, name)

    def list_blobs(self, prefix=""):
        return [
            FakeGCSBlob(self, k) for k in sorted(self.objects) if k.startswith(prefix)
        ]


@pytest.fixture()
def dest(tmp_path):
    bucket = FakeGCSBucket()
    store = GCSBlobStore("bkt", prefix="staged", bucket_obj=bucket)
    client = FakeBQClient()
    d = BigQueryDestination(client, store, "bkt")
    return d, client, bucket, tmp_path


def _ndjson(tmp_path, rows):
    p = tmp_path / "batch.ndjson"
    p.write_text("".join(json.dumps(r) + "\n" for r in rows))
    return str(p)


def test_create_empty_table_makes_dataset_and_row_id(dest):
    d, client, _, _ = dest
    d.create_empty_table("ds.events")
    assert "ds" in client.datasets
    assert client.queries == [
        "CREATE TABLE IF NOT EXISTS ds.events (__row_id BIGINT)"
    ]


def test_table_name_must_be_dataset_qualified(dest):
    d, _, _, _ = dest
    with pytest.raises(ValueError):
        d.create_empty_table("events")


def test_create_columns_adds_typed_columns(dest):
    d, client, _, tmp = dest
    path = _ndjson(tmp, [{"n": 1, "x": 1.5, "ok": True, "s": "hi"}])
    d.insert_ndjson("ds.events", path)
    stmts = sorted(q for q in client.queries if q.startswith("ALTER TABLE"))
    assert stmts == [
        "ALTER TABLE `ds.events` ADD COLUMN IF NOT EXISTS `n` INTEGER",
        "ALTER TABLE `ds.events` ADD COLUMN IF NOT EXISTS `ok` BOOLEAN",
        "ALTER TABLE `ds.events` ADD COLUMN IF NOT EXISTS `s` STRING",
        "ALTER TABLE `ds.events` ADD COLUMN IF NOT EXISTS `x` FLOAT",
    ]


def test_insert_stages_to_gcs_then_loads_then_deletes(dest):
    d, client, bucket, tmp = dest
    path = _ndjson(tmp, [{"n": 1}, {"n": 2}])
    d.insert_ndjson("ds.events", path)
    load = [q for q in client.queries if q.startswith("LOAD DATA")]
    assert len(load) == 1
    assert (
        load[0] == "LOAD DATA INTO ds.events (`n` INTEGER) FROM FILES "
        "( format = 'JSON', uris = "
        "['gs://bkt/staged/ds.events/batch.ndjson'] )"
    )
    # staged object deleted after a successful load (delete_from_gcs)
    assert bucket.objects == {}


def test_insert_keeps_staged_object_when_configured(dest):
    d, client, bucket, tmp = dest
    d.delete_from_gcs = False
    path = _ndjson(tmp, [{"n": 1}])
    d.insert_ndjson("ds.events", path)
    assert list(bucket.objects) == ["staged/ds.events/batch.ndjson"]


def test_query_serialization_formats(dest):
    d, client, _, _ = dest
    client.result = (["a", "b"], [(1, "x"), (2, None)])
    out = io.StringIO()
    d.query_json("SELECT * FROM ds.t;", out)
    assert json.loads(out.getvalue()) == [
        {"a": 1, "b": "x"}, {"a": 2, "b": None},
    ]
    out = io.StringIO()
    d.query_ndjson("SELECT * FROM ds.t", out)
    assert [json.loads(line) for line in out.getvalue().splitlines()] == [
        {"a": 1, "b": "x"}, {"a": 2, "b": None},
    ]
    out = io.StringIO()
    d.query_csv("SELECT * FROM ds.t", out)
    assert out.getvalue().splitlines()[0] == "a,b"
    assert out.getvalue().splitlines()[2] == "2,null"
    # trailing ';' trimmed before passthrough (sql.go:9-13 parity)
    assert client.queries[-3] == "SELECT * FROM ds.t"


def test_introspection(dest):
    d, _, _, _ = dest
    assert d.tables() == ["ds.t1", "ds.t2"]
    assert d.columns("ds.t1") == [
        {"name": "__row_id", "type": "INTEGER"},
        {"name": "msg", "type": "STRING"},
    ]


def test_motherduck_connection_string():
    s = motherduck_connection_string("mydb", "tok123")
    assert s == "md:mydb?motherduck_saas_mode=true&motherduck_token=tok123"
    with pytest.raises(ValueError):
        motherduck_connection_string("SAAS_MODE_db", "tok")
    with pytest.raises(ValueError):
        motherduck_connection_string("db", "xsaas_modey")


def test_malicious_column_and_table_names_rejected(dest, tmp_path):
    d, client, _, _ = dest
    with pytest.raises(ValueError):
        d.create_empty_table("ds.events; DROP TABLE x")
    evil = _ndjson(tmp_path, [{"x` STRING); DROP TABLE ds.events; --": 1}])
    with pytest.raises(ValueError):
        d.insert_ndjson("ds.events", evil)
    assert not [q for q in client.queries if q.startswith(("ALTER", "LOAD"))]


def test_insert_infers_types_once_per_file(dest, tmp_path, monkeypatch):
    d, client, _, _ = dest
    calls = []
    import scratchdata_spark.bigquery_destination as bq

    real = bq.infer_types_file

    def counting(path, *a, **k):
        calls.append(path)
        return real(path, *a, **k)

    monkeypatch.setattr(bq, "infer_types_file", counting)
    path = _ndjson(tmp_path, [{"n": 1}])
    d.insert_ndjson("ds.events", path)
    assert len(calls) == 1  # one map serves the ALTER and the LOAD


def test_insert_infers_each_file_of_a_batch_once(dest, tmp_path, monkeypatch):
    """A two-file batch: one inference per file, one ALTER per column
    of their union, and each LOAD lists its own file's columns."""
    d, client, _, _ = dest
    calls = []
    import scratchdata_spark.bigquery_destination as bq

    real = bq.infer_types_file

    def counting(path, *a, **k):
        calls.append(path)
        return real(path, *a, **k)

    monkeypatch.setattr(bq, "infer_types_file", counting)
    p1, p2 = tmp_path / "f1.ndjson", tmp_path / "f2.ndjson"
    p1.write_text(json.dumps({"n": 1}) + "\n")
    p2.write_text(json.dumps({"s": "x"}) + "\n")
    d.insert_ndjson("ds.events", [str(p1), str(p2)])
    assert calls == [str(p1), str(p2)]
    assert sorted(q for q in client.queries if q.startswith("ALTER")) == [
        "ALTER TABLE `ds.events` ADD COLUMN IF NOT EXISTS `n` INTEGER",
        "ALTER TABLE `ds.events` ADD COLUMN IF NOT EXISTS `s` STRING",
    ]
    loads = [q for q in client.queries if q.startswith("LOAD DATA")]
    assert [q.split(" FROM")[0] for q in loads] == [
        "LOAD DATA INTO ds.events (`n` INTEGER)",
        "LOAD DATA INTO ds.events (`s` STRING)",
    ]
