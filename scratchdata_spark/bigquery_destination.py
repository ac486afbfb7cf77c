"""BigQuery destination — the staged-load backend behind the same
Destination ABC.

Behavior parity (cited to the reference's BigQuery driver):

* table names are ``dataset.table``; the dataset is created on demand
  and the table starts as ``(__row_id BIGINT)``
  (pkg/destinations/bigquery/insert.go:33-62).
* schema evolution is ``ALTER TABLE .. ADD COLUMN IF NOT EXISTS`` per
  inferred jsontype (insert.go:64-107), with the jsontype →
  field-type map of insert.go:19-31.
* inserts are STAGED loads, not row streams: upload the NDJSON file
  to GCS, then run ``LOAD DATA INTO t (cols) FROM FILES (format =
  'JSON', uris = ['gs://...'])``, optionally deleting the staged
  object afterwards (insert.go:109-211 — UploadAndStream,
  streamDataToBigQuery).
* queries pass through verbatim; results serialize to JSON / NDJSON /
  CSV (query.go). Tables/columns come from dataset metadata
  (tables.go:14-62).

The Google SDK is not in this container, so the client is an injected
seam: anything with ``query(sql) -> (cols, rows)`` and
``create_dataset(name)`` works (the real adapter wraps
``google.cloud.bigquery.Client``; tests inject a fake — the same
pattern test_blobstore.py uses for S3/GCS).
"""

from __future__ import annotations

import os

from scratchdata_spark.blobstore import BlobStore
from scratchdata_spark.engine import Destination, RowSerializers, _check_ident
from scratchdata_spark.jtypes import infer_types_file

# insert.go:19-31 jsonTypeToBQType
BQ_TYPES = {
    "int": "INTEGER",
    "bool": "BOOLEAN",
    "float": "FLOAT",
    "string": "STRING",
}


def _split_table(table: str) -> tuple[str, str]:
    """Reference requires ``dataset.table`` (insert.go:36-40); both
    parts are identifier-validated — DDL and LOAD statements
    interpolate them into SQL text."""
    parts = table.split(".")
    if len(parts) != 2:
        raise ValueError("table name should be in the format dataset.table")
    return _check_ident(parts[0]), _check_ident(parts[1])


def _check_column(name: str) -> str:
    """Column names come from arbitrary JSON keys and are interpolated
    into backtick-quoted DDL — reject anything that could break out of
    the quoting (BigQuery itself only accepts [A-Za-z_][A-Za-z0-9_]*,
    so this refuses nothing loadable)."""
    import re

    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
        raise ValueError(f"invalid BigQuery column name: {name!r}")
    return name


class BigQueryDestination(RowSerializers, Destination):
    def __init__(
        self,
        client,
        blobstore: BlobStore,
        gcs_bucket: str,
        delete_from_gcs: bool = True,
    ):
        self.client = client
        self.blobstore = blobstore
        self.gcs_bucket = gcs_bucket
        self.delete_from_gcs = delete_from_gcs

    # ------------------------------------------------------------ query
    def _rows(self, text: str):
        return self.client.query(text)

    # ----------------------------------------------------- introspection
    def tables(self) -> list[str]:
        """Every dataset.table pair, as the reference enumerates
        (tables.go:41-62)."""
        return sorted(self.client.list_tables())

    def columns(self, table: str) -> list[dict]:
        dataset, name = _split_table(table)
        return [
            {"name": c[0], "type": c[1]}
            for c in self.client.table_schema(dataset, name)
        ]

    # -------------------------------------------------------------- DDL
    def create_empty_table(self, table: str) -> None:
        dataset, _ = _split_table(table)
        self.client.create_dataset(dataset)  # 409 Already Exists is a no-op
        # BIGINT is an INT64 alias in BigQuery SQL (insert.go:52-55)
        self.client.query(
            f"CREATE TABLE IF NOT EXISTS {table} (__row_id BIGINT)"
        )

    # ------------------------------------------------------------ insert
    def _gcs_key(self, table: str, path: str) -> str:
        """Store-relative key; the blobstore owns any bucket prefix
        (insert.go:127-131 applies GCSFilePrefix the same way)."""
        return f"{table}/{os.path.basename(path)}"

    def _gcs_uri(self, key: str) -> str:
        prefix = getattr(self.blobstore, "prefix", "")
        full = f"{prefix}/{key}" if prefix else key
        return f"gs://{self.gcs_bucket}/{full}"

    def insert_ndjson(self, table: str, ndjson_path: str | list[str]) -> None:
        """Staged load (insert.go:109-163): infer each file once, add
        the union of the files' columns, then per file put the NDJSON
        on GCS, run one LOAD job with that file's column list, and
        drop the staged object. At scale this is the shape that works
        — the LOAD executes inside BigQuery against columnar-converted
        staging, never streaming rows through this process."""
        self.create_empty_table(table)  # validates both parts
        paths = [ndjson_path] if isinstance(ndjson_path, str) else list(ndjson_path)
        file_types = [infer_types_file(p) for p in paths]
        union: dict[str, str] = {}
        for types in file_types:
            union.update(types)
        for col, jt in union.items():
            self.client.query(
                f"ALTER TABLE `{table}` ADD COLUMN IF NOT EXISTS"
                f" `{_check_column(col)}` {BQ_TYPES.get(jt, 'STRING')}"
            )
        for path, types in zip(paths, file_types):
            key = self._gcs_key(table, path)
            self.blobstore.put_file(path, key)
            columns = ", ".join(
                f"`{_check_column(c)}` {BQ_TYPES.get(t, 'STRING')}"
                for c, t in types.items()
            )
            uri = self._gcs_uri(key)
            self.client.query(
                f"LOAD DATA INTO {table} ({columns})"
                f" FROM FILES ( format = 'JSON', uris = ['{uri}'] )"
            )
            if self.delete_from_gcs:
                self.blobstore.delete(key)
