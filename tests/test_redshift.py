"""Redshift staged bulk load (redshift_destination.py — parity with
``redshift/insert.go:80-140``): S3 put + one ``COPY … FORMAT AS JSON
'auto'`` per file, schema-qualified targets, credential/IAM clauses,
staged-object cleanup, and column evolution before the load.  No live
cluster in this container: the java.sql seam captures statements (the
test_jdbc pattern) and a local blobstore stands in for S3 (the
test_bigquery pattern)."""

from __future__ import annotations

import json

import pytest

from scratchdata_spark.blobstore import LocalBlobStore
from scratchdata_spark.redshift_destination import RedshiftDestination


class FakeRedshift(RedshiftDestination):
    """Captures DDL/COPY statements; simulates remote column state."""

    def __init__(self, spark, store, **kw):
        kw.setdefault("access_key_id", "AKIAFAKE")
        kw.setdefault("secret_access_key", "sekret")
        super().__init__(
            spark,
            url="jdbc:redshift://fake:5439/db",
            blobstore=store,
            s3_bucket="stage-bucket",
            **kw,
        )
        self.stmts: list[str] = []
        self.remote_cols: list[tuple[str, str]] = []

    def _execute(self, sql):
        self.stmts.append(sql)
        if "CREATE TABLE" in sql and not self.remote_cols:
            self.remote_cols.append(("__row_id", "BIGINT"))
        if "ADD COLUMN" in sql:
            frag = sql.split("ADD COLUMN IF NOT EXISTS", 1)[1].strip()
            self.remote_cols.append(
                (frag.split()[0].strip('"'), frag.split(None, 1)[1])
            )

    def columns(self, table):
        return [{"name": n, "type": t.lower()} for n, t in self.remote_cols]


@pytest.fixture()
def rs(spark, tmp_path):
    store = LocalBlobStore(str(tmp_path / "s3"))
    return FakeRedshift(spark, store), store


def _ndjson(tmp_path, name, rows):
    p = tmp_path / name
    p.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
    return str(p)


def test_insert_stages_then_copies_then_deletes(rs, tmp_path):
    dest, store = rs
    dest.create_empty_table("events")
    path = _ndjson(tmp_path, "b1.ndjson", [{"a": 1, "b": "x"}])
    dest.insert_ndjson("events", path)
    copies = [s for s in dest.stmts if s.startswith("COPY ")]
    assert len(copies) == 1
    c = copies[0]
    # schema-qualified target, staged URI, reference CREDENTIALS form,
    # JSON auto mapping — insert.go:123's exact statement shape
    assert c.startswith('COPY "public"."events" FROM ')
    assert "'s3://stage-bucket/events/b1.ndjson'" in c
    assert (
        "CREDENTIALS 'aws_access_key_id=AKIAFAKE;"
        "aws_secret_access_key=sekret'" in c
    )
    assert c.endswith("FORMAT AS JSON 'auto'")
    # staged object deleted after the load (DeleteFromS3 default)
    assert store.list() == []


def test_insert_evolves_columns_before_copy(rs, tmp_path):
    dest, _ = rs
    dest.create_empty_table("t")
    path = _ndjson(tmp_path, "b.ndjson", [{"n": 1, "f": 1.5, "ok": True}])
    dest.insert_ndjson("t", path)
    adds = [s for s in dest.stmts if "ADD COLUMN" in s]
    # reference re-calls createColumns inside the insert (insert.go:84)
    assert any('"n" BIGINT' in s for s in adds)
    assert any('"f" DOUBLE PRECISION' in s for s in adds)
    assert any('"ok" BOOLEAN' in s for s in adds)
    assert all(s.startswith('ALTER TABLE "public"."t" ') for s in adds)
    copy_at = next(i for i, s in enumerate(dest.stmts) if s.startswith("COPY"))
    assert all(dest.stmts.index(s) < copy_at for s in adds)


def test_insert_keeps_staged_object_when_configured(spark, tmp_path):
    store = LocalBlobStore(str(tmp_path / "s3"))
    dest = FakeRedshift(spark, store, delete_from_s3=False)
    dest.create_empty_table("t")
    path = _ndjson(tmp_path, "keep.ndjson", [{"a": 1}])
    dest.insert_ndjson("t", path)
    assert store.list() == ["t/keep.ndjson"]


def test_iam_role_clause_and_blobstore_prefix(spark, tmp_path):
    store = LocalBlobStore(str(tmp_path / "s3"))
    store.prefix = "crawl/stage"  # S3BlobStore carries .prefix the same way
    dest = FakeRedshift(
        spark,
        store,
        access_key_id=None,
        secret_access_key=None,
        iam_role="arn:aws:iam::1:role/rs",
        schema="ingest",
    )
    dest.create_empty_table("t")
    dest.insert_ndjson("t", _ndjson(tmp_path, "x.ndjson", [{"a": 1}]))
    c = next(s for s in dest.stmts if s.startswith("COPY"))
    assert c.startswith('COPY "ingest"."t" FROM ')
    assert "'s3://stage-bucket/crawl/stage/t/x.ndjson'" in c
    assert "IAM_ROLE 'arn:aws:iam::1:role/rs'" in c
    assert "CREDENTIALS" not in c


def test_multi_file_insert_one_copy_each(rs, tmp_path):
    dest, _ = rs
    dest.create_empty_table("t")
    p1 = _ndjson(tmp_path, "p1.ndjson", [{"a": 1}])
    p2 = _ndjson(tmp_path, "p2.ndjson", [{"a": 2}])
    dest.insert_ndjson("t", [p1, p2])
    copies = [s for s in dest.stmts if s.startswith("COPY")]
    assert len(copies) == 2
    assert "p1.ndjson" in copies[0] and "p2.ndjson" in copies[1]


def test_auth_config_validation(spark, tmp_path):
    store = LocalBlobStore(str(tmp_path / "s3"))
    with pytest.raises(ValueError, match="go together"):
        FakeRedshift(spark, store, access_key_id="A", secret_access_key=None)
    with pytest.raises(ValueError, match="iam_role or an access key"):
        FakeRedshift(
            spark, store, access_key_id=None, secret_access_key=None
        )


def test_malicious_names_rejected(rs, tmp_path):
    dest, _ = rs
    path = _ndjson(tmp_path, "b.ndjson", [{"a": 1}])
    with pytest.raises(ValueError):
        dest.insert_ndjson('t"; DROP TABLE x; --', path)
    with pytest.raises(ValueError):
        FakeRedshift(dest.spark, dest.blobstore, schema='p"; --')


def test_factory_onboards_redshift(spark, tmp_path):
    """service.build_app's destination_factory wires type='redshift'
    with an injected S3 client seam (the BigQuery onboarding shape)."""
    from scratchdata_spark.config import Config
    from scratchdata_spark.service import build_app

    class FakeS3Client:
        def __init__(self):
            self.ops = []

        def upload_file(self, path, bucket, key):
            self.ops.append(("put", bucket, key))

        def delete_object(self, Bucket, Key):
            self.ops.append(("del", Bucket, Key))

    # build_app starts nothing (App.start does); no teardown needed
    app = build_app(spark, Config(admin_key="a"), str(tmp_path / "app"))
    s3 = FakeS3Client()
    dest = app.service.destination_factory(
        "rs",
        "redshift",
        {
            "url": "jdbc:redshift://h:5439/db",
            "s3_bucket": "bkt",  # >= 3 chars (AWS grammar, r10 validation)
            "s3_prefix": "pfx",
            "s3_client": s3,
            "iam_role": "arn:aws:iam::1:role/r",
            "schema": "ingest",
        },
    )
    assert isinstance(dest, RedshiftDestination)
    assert dest.blobstore.prefix == "pfx"
    assert dest._s3_uri(dest._s3_key("t", "/x/f.ndjson")) == (
        "s3://bkt/pfx/t/f.ndjson"
    )
    assert dest._auth_clause() == "IAM_ROLE 'arn:aws:iam::1:role/r'"


def test_auth_values_injection_rejected(spark, tmp_path):
    store = LocalBlobStore(str(tmp_path / "s3"))
    with pytest.raises(ValueError, match="iam_role"):
        FakeRedshift(
            spark, store,
            access_key_id=None, secret_access_key=None,
            iam_role="arn:aws:iam::1:role/r'; DROP TABLE x; --",
        )
    with pytest.raises(ValueError, match="secret_access_key"):
        FakeRedshift(spark, store, secret_access_key="se'kret")


def test_staged_object_cleaned_up_when_copy_fails(spark, tmp_path):
    """A failed COPY (routine: one uncastable value fails the load)
    must not leak the staged object when delete_from_s3=True."""
    store = LocalBlobStore(str(tmp_path / "s3"))

    class FailingCopy(FakeRedshift):
        def _execute(self, sql):
            super()._execute(sql)
            if sql.startswith("COPY"):
                raise RuntimeError("stl_load_errors: bad value")

    dest = FailingCopy(spark, store)
    dest.create_empty_table("t")
    path = _ndjson(tmp_path, "bad.ndjson", [{"a": 1}])
    with pytest.raises(RuntimeError, match="stl_load_errors"):
        dest.insert_ndjson("t", path)
    assert store.list() == []


def test_bucket_and_prefix_injection_rejected(spark, tmp_path):
    """s3_bucket and the blobstore prefix interpolate into the COPY
    statement's quoted URI literal — same treatment as credentials
    (r10 second review catch)."""
    from scratchdata_spark.redshift_destination import RedshiftDestination

    store = LocalBlobStore(str(tmp_path / "s3"))
    with pytest.raises(ValueError, match="bucket"):
        RedshiftDestination(
            spark, "jdbc:redshift://h:5439/db", blobstore=store,
            s3_bucket="b'; DROP TABLE x; --", iam_role="arn:aws:iam::1:role/r",
        )
    dest = FakeRedshift(spark, store)
    dest.blobstore.prefix = "ok/pre-fix_1"
    assert dest._s3_uri("t/f.ndjson").startswith("s3://stage-bucket/ok/")
    dest.blobstore.prefix = "p'; DROP TABLE x; --"
    with pytest.raises(ValueError, match="prefix"):
        dest._s3_uri("t/f.ndjson")


def test_key_basename_injection_rejected(rs, tmp_path):
    """The staged key's basename is the third component inside the
    COPY URI literal — same validation as bucket/prefix (r10 second
    review catch). Sink spool names (ULIDs) always pass."""
    dest, _ = rs
    dest.create_empty_table("t")
    bad = tmp_path / "x'; DROP TABLE y; --.ndjson"
    bad.write_text('{"a": 1}\n')
    with pytest.raises(ValueError, match="prefix"):
        dest.insert_ndjson("t", str(bad))
    assert not [s for s in dest.stmts if s.startswith("COPY")]
