"""Warehouse layout + schema registry for dynamically-evolving tables.

The reference delegates table state to the backend (``CREATE TABLE IF
NOT EXISTS`` / ``ALTER TABLE ADD COLUMN`` per batch —
``duckdb/insert.go:12-26,72-76``). Here the backend is a directory of
Parquet per table plus an explicit JSON schema registry:

    <warehouse>/<database>/<table>/part-*.parquet      data
    <warehouse>/_catalog/<database>/<table>.json       schema

Why a registry instead of parquet-footer ``mergeSchema``: at 100 TB a
table has millions of files; schema-on-read footer merging is a full
file-listing job per query. The registry makes schema resolution O(1)
and lets every read pass an explicit schema (old files missing newer
columns read as NULL — Spark's parquet reader handles subsetting).

Writes append new parquet files only; per-table locks serialize
concurrent schema changes (the reference serializes per-(db,table)
too, ``filesystem.go:330-334``).

Commit point: every entry write (``TableCatalog._put``) stamps a fresh
random ``commit`` id, and every write that adds or removes a table's
files ends with one entry write, under the table lock after the files
are in place (``TableCatalog.commit``, a generation flip or
``replace_table``). A commit re-reads the entry, so a change another
instance made while the files were written is kept, not reverted.
A reader that reads the entry before listing the
files sees at least that commit's files, and any later write, by any
instance sharing the warehouse dir, changes the entry: comparing
entries is the whole freshness rule (``engine.PlanCache``,
``SparkDestination.register_views``); file timestamps play no part. A
writer that dies between its files and its commit leaves files that
new scans list but cached plans miss until the table's next commit.
"""

from __future__ import annotations

import json
import os
import threading
import uuid
from dataclasses import dataclass, field

from pyspark.sql.types import LongType, StructField, StructType

from scratchdata_spark.jtypes import SPARK_TYPES

ROW_ID = "__row_id"


@dataclass
class TableInfo:
    database: str
    name: str
    columns: list[dict]  # [{"name":..., "jsontype":...}] in ALTER order
    generation: int = 0  # compaction epoch: 0 = loose files in the
    #                      table root, N>0 = data lives in g<N>/
    partition_col: str | None = None  # hive-style directory partitioning
    # tombstones of DROP COLUMNed names: parquet files still carry the
    # old values, so re-ADDing the name would silently resurrect them
    # (DuckDB's drop removes the data) — re-ADD is refused instead
    dropped: list = field(default_factory=list)
    # declared PRIMARY KEY columns (from CREATE TABLE): the DEFAULT
    # conflict target for ON CONFLICT / INSERT OR IGNORE|REPLACE.
    # Not enforced on plain INSERT (parquet appends can't check
    # uniqueness cheaply; the upsert statements are the honest path)
    primary_key: list = field(default_factory=list)
    # declared DEFAULT expressions (SQL text per column, from CREATE
    # TABLE): applied when an INSERT omits the column — the one
    # declaration that changes DATA, so unlike the stripped
    # constraints it must not be silently dropped (r11 DML
    # differential probe catch)
    defaults: dict = field(default_factory=dict)
    # the id of the catalog write that made this entry: fresh and
    # random per write, so two instances' writes never share one
    commit: str = ""

    def struct(self) -> StructType:
        fields = []
        for c in self.columns:
            if c["name"] == ROW_ID:
                fields.append(StructField(ROW_ID, LongType(), True))
            elif "sparktype" in c:
                # full Spark DDL type (CTAS results carry timestamps,
                # arrays, decimals — beyond the four ingest jsontypes)
                dt = StructType.fromDDL(f"`x` {c['sparktype']}")[0].dataType
                fields.append(StructField(c["name"], dt, True))
            else:
                fields.append(StructField(c["name"], SPARK_TYPES[c["jsontype"]], True))
        return StructType(fields)


@dataclass
class TableCatalog:
    warehouse: str
    _locks: dict = field(default_factory=dict)
    _global: threading.Lock = field(default_factory=threading.Lock)

    # -- paths -----------------------------------------------------------
    def table_root(self, database: str, table: str) -> str:
        return os.path.join(self.warehouse, database, table)

    def data_dir(self, database: str, table: str) -> str:
        """Current-generation data directory. Readers and writers both
        resolve through this, so a compaction pointer flip (atomic
        JSON replace) redirects every subsequent scan and insert."""
        info = self.get(database, table)
        if info is None:
            return self.table_root(database, table)
        return self.data_dir_of(info)

    def data_dir_of(self, info: TableInfo) -> str:
        """The data directory of the generation ``info`` points at."""
        root = self.table_root(info.database, info.name)
        if info.generation == 0:
            return root
        return os.path.join(root, f"g{info.generation}")

    def _meta_path(self, database: str, table: str) -> str:
        return os.path.join(self.warehouse, "_catalog", database, f"{table}.json")

    def lock(self, database: str, table: str) -> threading.RLock:
        # held across a whole write: insert_ndjson's table creation,
        # column registration and append, or a warehouse statement's
        # schema change and file adoption. RLock: code holding it may
        # call into a helper that takes it again.
        with self._global:
            return self._locks.setdefault((database, table), threading.RLock())

    # -- schema registry -------------------------------------------------
    def get(self, database: str, table: str) -> TableInfo | None:
        path = self._meta_path(database, table)
        if not os.path.exists(path):
            return None
        with open(path, "r", encoding="utf-8") as f:
            meta = json.load(f)
        return TableInfo(
            database,
            table,
            meta["columns"],
            meta.get("generation", 0),
            meta.get("partition_col"),
            meta.get("dropped", []),
            meta.get("primary_key", []),
            meta.get("defaults", {}),
            meta.get("commit", ""),
        )

    def _put(self, info: TableInfo) -> None:
        info.commit = uuid.uuid4().hex
        path = self._meta_path(info.database, info.name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(
                {
                    "columns": info.columns,
                    "generation": info.generation,
                    "partition_col": info.partition_col,
                    "dropped": info.dropped,
                    "primary_key": info.primary_key,
                    "defaults": info.defaults,
                    "commit": info.commit,
                },
                f,
            )
        os.replace(tmp, path)

    def commit(self, database: str, table: str) -> None:
        """Commit the files a write has put in the table's data dir:
        write the entry, read afresh, under a new commit id. Call
        under the table lock, after the files are in place. The fresh
        read keeps any entry change made while the files were written
        (another instance's ALTER or generation flip)."""
        info = self.get(database, table)
        if info is None:
            raise KeyError(f"no such table: {database}.{table}")
        self._put(info)

    def set_partitioning(self, database: str, table: str, column: str | None) -> None:
        """Declare hive-style directory partitioning for a table. Only
        allowed while the table is empty — repartitioning existing data
        is a rewrite job, not a metadata flip."""
        info = self.get(database, table)
        if info is None:
            raise KeyError(f"no such table: {database}.{table}")
        d = self.data_dir(database, table)
        has_data = os.path.isdir(d) and any(
            f.endswith(".parquet")
            for _, _, names in os.walk(d)
            for f in names
        )
        if has_data:
            raise ValueError("cannot change partitioning of a non-empty table")
        info.partition_col = column
        self._put(info)

    def set_generation(self, database: str, table: str, generation: int) -> None:
        """Flip the compaction pointer (call under the table lock; the
        JSON replace itself is atomic)."""
        info = self.get(database, table)
        if info is None:
            raise KeyError(f"no such table: {database}.{table}")
        info.generation = generation
        self._put(info)

    def replace_table(
        self,
        database: str,
        table: str,
        columns: list[dict],
        generation: int,
    ) -> TableInfo:
        """CREATE OR REPLACE's crash-atomic adoption step: swap the
        table's ENTIRE definition — schema, generation pointer, and a
        reset of partitioning / tombstones / primary key (a replaced
        table is a brand-new table) — in ONE atomic meta write
        (os.replace in _put).  Until this call the old generation is
        the live table; after it the new one is.  There is no
        intermediate state a crash can expose (r10 DML review finding
        #10: the old drop-then-recreate sequence lost the table if
        the process died between the two steps)."""
        info = TableInfo(database, table, list(columns), generation)
        self._put(info)
        return info

    def create_empty_table(self, database: str, table: str) -> TableInfo:
        """CREATE TABLE IF NOT EXISTS t (__row_id BIGINT) — A7."""
        existing = self.get(database, table)
        if existing is not None:
            return existing
        info = TableInfo(database, table, [{"name": ROW_ID, "jsontype": "int"}])
        os.makedirs(self.data_dir(database, table), exist_ok=True)
        self._put(info)
        return info

    def add_columns(self, database: str, table: str, types: dict[str, str]) -> TableInfo:
        """ALTER TABLE ADD COLUMN IF NOT EXISTS per inferred column — A8.

        Existing columns never retype (reference semantics §1.2).
        """
        info = self.get(database, table) or self.create_empty_table(database, table)
        have = {c["name"] for c in info.columns}
        n = len(info.columns)
        for name, jt in types.items():
            # tombstoned names are SKIPPED, not refused: a producer
            # still posting the dropped field must not break ingest —
            # only the explicit ALTER ADD path refuses (warehouse_dml)
            if name not in have and name not in info.dropped:
                info.columns.append({"name": name, "jsontype": jt})
        if len(info.columns) > n:
            self._put(info)
        return info

    @staticmethod
    def check_not_dropped(info: TableInfo, name: str) -> None:
        """Refuse re-ADDing a tombstoned column (explicit DDL only)."""
        if name in info.dropped:
            raise ValueError(
                f"column {name!r} was dropped from {info.name}: the"
                " retained parquet files still carry its old values,"
                " so re-adding the name would resurrect them — use a"
                " new column name"
            )

    @staticmethod
    def check_droppable(info: TableInfo, name: str) -> None:
        """Refuse an ALTER TABLE DROP COLUMN that drop_column cannot
        make."""
        if name == ROW_ID:
            raise ValueError("__row_id is engine-internal")
        if not any(c["name"] == name for c in info.columns):
            raise ValueError(f"unknown column: {name}")
        if info.partition_col == name:
            raise ValueError("cannot drop the partition column")
        if name in info.primary_key:
            raise ValueError("cannot drop a PRIMARY KEY column")

    def set_defaults(self, database: str, table: str, defaults: dict) -> None:
        """Record per-column DEFAULT expressions (SQL text) from
        CREATE TABLE; INSERT fills omitted columns from them."""
        info = self.get(database, table)
        if info is None:
            raise KeyError(f"no such table: {table}")
        have = {c["name"] for c in info.columns}
        for c in defaults:
            if c not in have:
                raise ValueError(f"unknown DEFAULT column: {c}")
        info.defaults = dict(defaults)
        self._put(info)

    def set_primary_key(self, database: str, table: str, cols: list) -> None:
        info = self.get(database, table)
        if info is None:
            raise KeyError(f"no such table: {table}")
        have = {c["name"] for c in info.columns}
        for c in cols:
            if c not in have:
                raise ValueError(f"unknown PRIMARY KEY column: {c}")
        info.primary_key = list(cols)
        self._put(info)

    def drop_column(self, database: str, table: str, name: str) -> TableInfo:
        """ALTER TABLE DROP COLUMN: metadata-only — reads pass an
        explicit schema, so the column vanishes from every scan
        without rewriting a single parquet file (at 100 TB that IS
        the operation); the name is tombstoned, see TableInfo."""
        info = self.get(database, table)
        if info is None:
            raise KeyError(f"no such table: {table}")
        self.check_droppable(info, name)
        info.columns = [c for c in info.columns if c["name"] != name]
        info.dropped = sorted({*info.dropped, name})
        self._put(info)
        return info

    def add_spark_columns(
        self, database: str, table: str, types: dict[str, str]
    ) -> TableInfo:
        """ADD COLUMN with a full Spark DDL type string — the CTAS
        channel for types the ingest jsontypes cannot express.
        Same append-only, never-retype contract as add_columns."""
        info = self.get(database, table) or self.create_empty_table(database, table)
        have = {c["name"] for c in info.columns}
        n = len(info.columns)
        for name, ddl in types.items():
            if name not in have and name not in info.dropped:
                info.columns.append({"name": name, "sparktype": ddl})
        if len(info.columns) > n:
            self._put(info)
        return info

    # -------------------------------------------------- logical views
    def _views_dir(self, database: str) -> str:
        # a SUBDIR of the table-meta dir: tables() lists only *.json
        # files, so view storage can never masquerade as a table
        return os.path.join(self.warehouse, "_catalog", database, "__views")

    def create_view(
        self, database: str, name: str, sql: str, or_replace: bool = False
    ) -> None:
        """Persist a logical view: the SQL text, re-registered as a
        temp view in every session (engine.register_views) — the
        cross-session CREATE VIEW that Spark's session catalog cannot
        give (views there die with the session)."""
        d = self._views_dir(database)
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"{name}.json")
        if os.path.exists(path) and not or_replace:
            raise ValueError(f"view exists: {name}")
        if self.get(database, name) is not None:
            raise ValueError(f"table exists: {name}")
        tmp = path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump({"sql": sql}, f)
        os.replace(tmp, path)

    def views(self, database: str) -> dict[str, str]:
        d = self._views_dir(database)
        if not os.path.isdir(d):
            return {}
        out = {}
        for f in sorted(os.listdir(d)):
            if f.endswith(".json"):
                with open(os.path.join(d, f), "r", encoding="utf-8") as fh:
                    out[f[:-5]] = json.load(fh)["sql"]
        return out

    def drop_view(self, database: str, name: str) -> bool:
        path = os.path.join(self._views_dir(database), f"{name}.json")
        if not os.path.exists(path):
            return False
        os.remove(path)
        return True

    def tables(self, database: str) -> list[str]:
        d = os.path.join(self.warehouse, "_catalog", database)
        if not os.path.isdir(d):
            return []
        return sorted(f[:-5] for f in os.listdir(d) if f.endswith(".json"))

    def drop_table(self, database: str, table: str) -> None:
        import shutil

        path = self._meta_path(database, table)
        if os.path.exists(path):
            os.remove(path)
        # the WHOLE root, not just the current generation: retained
        # parent-generation files would silently resurrect into a
        # later CREATE of the same name (gen 0 reads the root dir)
        shutil.rmtree(self.table_root(database, table), ignore_errors=True)
