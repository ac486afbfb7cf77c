"""Redshift destination with the reference's staged bulk-load path.

The generic :class:`~scratchdata_spark.jdbc_destination.JDBCDestination`
already serves Redshift for queries, DDL and batched JDBC appends; what
it lacks is the reference's insert mechanics — the only bulk path that
performs on a real cluster (``redshift/insert.go:80-140``
InsertFromNDJsonFile): upload the NDJSON file to S3, then issue one

    COPY schema.table FROM 's3://bucket/key'
    CREDENTIALS 'aws_access_key_id=..;aws_secret_access_key=..'
    FORMAT AS JSON 'auto'

so the cluster ingests the staged object itself in parallel across its
slices, instead of this process streaming rows through JDBC.  This
mirrors the staged treatment BigQuery already gets
(bigquery_destination.py: GCS put + LOAD DATA).

Semantics notes (divergences loudly documented):

* ``FORMAT AS JSON 'auto'`` matches JSON keys to columns BY NAME,
  missing keys load as NULL — the same by-name contract as the JDBC
  append path, but casting happens inside Redshift's COPY (a value the
  engine cannot cast fails the load with a ``stl_load_errors`` row)
  rather than this repo's try_cast→NULL projection.  That is exactly
  the reference's behavior, so parity wins here.
* ``iam_role`` is supported as the modern alternative to embedding
  key pairs in SQL text (``IAM_ROLE 'arn:..'``); the reference only
  ships the CREDENTIALS string form (insert.go:123).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

from scratchdata_spark.blobstore import BlobStore
from scratchdata_spark.engine import _check_ident
from scratchdata_spark.jdbc_destination import JDBCDestination

_AUTH_SAFE = re.compile(r"[A-Za-z0-9:/_+=,.@-]+")


def _check_auth(value: str, what: str) -> str:
    """Credential values interpolate into single-quoted SQL literals
    on the DDL connection; these arrive from the runtime onboarding
    API, so they get the same injection treatment as identifiers
    (review catch r10).  AWS key ids/secrets and role ARNs never need
    characters outside this set — in particular no quotes, spaces or
    semicolons."""
    if not _AUTH_SAFE.fullmatch(value):
        raise ValueError(f"redshift: invalid character in {what}")
    return value


# S3 bucket names: the AWS grammar (lowercase, digits, dots, hyphens).
_BUCKET_SAFE = re.compile(r"[a-z0-9.-]{3,63}")
# Key prefixes: AWS's key-safe characters MINUS the apostrophe — like
# the credentials, the prefix interpolates into the COPY statement's
# quoted S3 URI literal (r10 second review catch: bucket/prefix
# arrived from the same onboarding API as the credentials but skipped
# their treatment).
_PREFIX_SAFE = re.compile(r"[A-Za-z0-9!_.*()/-]*")


def _check_bucket(value: str) -> str:
    if not _BUCKET_SAFE.fullmatch(value):
        raise ValueError("redshift: invalid s3 bucket name")
    return value


def _check_prefix(value: str) -> str:
    if not _PREFIX_SAFE.fullmatch(value):
        raise ValueError("redshift: invalid character in s3 prefix")
    return value


class RedshiftDestination(JDBCDestination):
    """JDBCDestination specialized to Redshift, with S3-staged COPY
    inserts (``redshift/insert.go:80-140``).  ``blobstore`` is the
    injected S3 seam (an :class:`S3BlobStore` in production; tests
    inject a local fake — the test_bigquery pattern), and owns any
    key prefix (insert.go:107-110 applies S3FilePrefix the same way).
    """

    def __init__(
        self,
        spark: SparkSession,
        url: str,
        *,
        blobstore: BlobStore,
        s3_bucket: str,
        access_key_id: str | None = None,
        secret_access_key: str | None = None,
        iam_role: str | None = None,
        schema: str = "public",
        delete_from_s3: bool = True,
        **jdbc_kwargs,
    ):
        super().__init__(spark, url, engine="redshift", **jdbc_kwargs)
        if (access_key_id is None) != (secret_access_key is None):
            raise ValueError(
                "redshift: access_key_id and secret_access_key go together"
            )
        if iam_role is None and access_key_id is None:
            raise ValueError(
                "redshift: COPY needs iam_role or an access key pair"
            )
        self.blobstore = blobstore
        self.s3_bucket = _check_bucket(s3_bucket)
        self.access_key_id = (
            None if access_key_id is None
            else _check_auth(access_key_id, "access_key_id")
        )
        self.secret_access_key = (
            None if secret_access_key is None
            else _check_auth(secret_access_key, "secret_access_key")
        )
        self.iam_role = (
            None if iam_role is None else _check_auth(iam_role, "iam_role")
        )
        self.schema = _check_ident(schema)
        self.delete_from_s3 = delete_from_s3

    # ------------------------------------------------------------ naming
    def _qualified(self, table: str) -> str:
        """``"schema"."table"`` — the reference prepends its Schema to
        every DDL/COPY target (insert.go:32, 123)."""
        return f'"{self.schema}"."{_check_ident(table)}"'

    def _q_table(self, table: str) -> str:
        # base-class CREATE/ALTER land in the configured schema too
        return self._qualified(table)

    def _dbtable(self, table: str) -> str:
        return f"{self.schema}.{_check_ident(table)}"

    def _s3_key(self, table: str, path: str) -> str:
        """Store-relative key ``table/basename`` (insert.go:107-112);
        the blobstore applies any configured prefix itself.  The
        basename is the THIRD component interpolated into the COPY
        URI literal, so it gets the same character validation as the
        bucket and prefix (r10 second review catch — sink-generated
        spool names are ULIDs and always pass; a caller-supplied path
        with a quote must not reach the SQL text)."""
        return f"{_check_ident(table)}/{_check_prefix(os.path.basename(path))}"

    def _s3_uri(self, key: str) -> str:
        # the prefix lives on the injected blobstore, so validate at
        # the point it enters the SQL literal, not at construction
        prefix = _check_prefix(getattr(self.blobstore, "prefix", ""))
        full = f"{prefix}/{key}" if prefix else key
        return f"s3://{self.s3_bucket}/{full}"

    def _auth_clause(self) -> str:
        """COPY authorization: the reference's CREDENTIALS string
        (insert.go:123) or the IAM role form."""
        if self.iam_role is not None:
            return f"IAM_ROLE '{self.iam_role}'"
        return (
            "CREDENTIALS 'aws_access_key_id="
            f"{self.access_key_id};aws_secret_access_key="
            f"{self.secret_access_key}'"
        )

    # ------------------------------------------------------------ insert
    def _append(self, table: str, ndjson_path, batch_types: dict[str, str]) -> None:
        """Staged load, after ``insert_ndjson`` added the batch's
        columns (the reference re-calls CreateColumns inside its
        insert, insert.go:84): put each file on S3, one COPY per file,
        drop the staged object (insert.go:128-138).  The cluster reads
        the object directly — no rows ride this process or the JDBC
        link."""
        qualified = self._qualified(table)  # validates both parts
        paths = (
            [ndjson_path] if isinstance(ndjson_path, str) else list(ndjson_path)
        )
        for path in paths:
            key = self._s3_key(table, path)
            self.blobstore.put_file(path, key)
            try:
                self._execute(
                    f"COPY {qualified} FROM '{self._s3_uri(key)}'"
                    f" {self._auth_clause()} FORMAT AS JSON 'auto'"
                )
            finally:
                # clean up the staged object even when the COPY fails
                # (a load error is routine — stl_load_errors); the
                # reference leaks it on error (insert.go:128 returns
                # first), and a retry re-stages the same key anyway
                if self.delete_from_s3:
                    self.blobstore.delete(key)
