"""CREATE OR REPLACE crash-atomicity (warehouse_dml._plan_ctas — r10
DML review finding #10, closed r11): the staged replacement adopts as
the NEXT generation of the same table root and the schema + generation
pointer swap in ONE atomic catalog write, so a process killed at ANY
point mid-replace leaves the old table fully readable.  The tests
inject crashes between the stages (the sink.recover kill-point
pattern) and assert the old table survives each one, then that a
retried replace converges without pollution from the aborted attempt."""

from __future__ import annotations

import io
import json
import os

import pytest

import scratchdata_spark.warehouse_dml as W
from scratchdata_spark.catalog import TableCatalog
from scratchdata_spark.engine import SparkDestination


@pytest.fixture()
def dest(spark, tmp_path):
    cat = TableCatalog(str(tmp_path / "wh"))
    d = SparkDestination(spark.newSession(), cat, "dml")
    nd = "\n".join(json.dumps({"g": c, "v": i}) for i, c in enumerate("aabbcc"))
    p = tmp_path / "seed.ndjson"
    p.write_text(nd + "\n")
    d.insert_ndjson("t", str(p))
    return d


def run(dest, q):
    out = io.StringIO()
    dest.query_json(q, out)
    return json.loads(out.getvalue())


def _old_table_intact(dest):
    assert run(dest, "select sum(v) as s, count(*) as n from t") == [
        {"s": 15, "n": 6}
    ]
    cols = {c["name"] for c in dest.columns("t")}
    assert cols == {"__row_id", "g", "v"}


def test_crash_during_staged_write_keeps_old_table(dest):
    # the SELECT job itself dying (stage 1) must not touch the target
    with pytest.raises(Exception):
        run(dest, "create or replace table t as select assert_true(false) as x")
    _old_table_intact(dest)


def test_crash_between_staging_and_adoption_keeps_old_table(dest, monkeypatch):
    def boom(*a, **kw):
        raise RuntimeError("killed before adoption")

    monkeypatch.setattr(W, "_adopt_staged", boom)
    with pytest.raises(RuntimeError, match="killed before adoption"):
        run(dest, "create or replace table t as select 'x' as only_col")
    monkeypatch.undo()
    _old_table_intact(dest)
    # retry converges
    run(dest, "create or replace table t as select 'x' as only_col")
    assert run(dest, "select only_col from t") == [{"only_col": "x"}]


def test_crash_between_adoption_and_meta_write_keeps_old_table(
    dest, monkeypatch
):
    real = TableCatalog.replace_table

    def boom(self, *a, **kw):
        raise RuntimeError("killed before the pointer flip")

    monkeypatch.setattr(TableCatalog, "replace_table", boom)
    with pytest.raises(RuntimeError, match="pointer flip"):
        run(dest, "create or replace table t as select 1 as a union all select 2 as a")
    monkeypatch.setattr(TableCatalog, "replace_table", real)
    # the partial next-generation dir exists on disk, but the pointer
    # (and with it every read) still resolves to the old generation
    root = dest.catalog.table_root(dest.database, "t")
    gen = dest.catalog.get(dest.database, "t").generation
    assert os.path.isdir(os.path.join(root, f"g{gen + 1}"))
    _old_table_intact(dest)
    # the retry clears the aborted attempt's orphans: exactly 2 rows,
    # not 4 (adoption pre-clears g{N+1} before renaming staged files)
    assert run(dest, "create or replace table t as select 1 as a union all select 2 as a") == [
        {"count": 2}
    ]
    assert run(dest, "select count(*) as n, sum(a) as s from t") == [
        {"n": 2, "s": 3}
    ]


def test_replace_is_a_generation_flip_with_old_gen_retained(dest):
    gen0 = dest.catalog.get(dest.database, "t").generation
    run(dest, "create or replace table t as select g from t where g = 'a'")
    info = dest.catalog.get(dest.database, "t")
    assert info.generation == gen0 + 1
    # new definition fully adopted: schema swapped, PK/tombstones reset
    assert {c["name"] for c in info.columns} == {"__row_id", "g"}
    assert info.primary_key == [] and info.dropped == []
    assert run(dest, "select count(*) as n from t") == [{"n": 2}]
    # the pre-replace generation is retained like a compaction parent,
    # so readers in flight / time travel still reach the old rows
    # (read_generation reads through the CURRENT schema — documented
    # semantics — so only columns shared with the new definition show)
    old = dest.read_generation("t", gen0)
    assert old.count() == 6
    assert sorted(r["g"] for r in old.select("g").collect()) == list("aabbcc")


def test_replace_resets_primary_key_and_partitioning(dest):
    run(dest, "create table pkt (k int primary key, x int)")
    run(dest, "insert into pkt values (1, 10)")
    assert dest.catalog.get(dest.database, "pkt").primary_key == ["k"]
    run(dest, "create or replace table pkt as select 7 as y")
    info = dest.catalog.get(dest.database, "pkt")
    assert info.primary_key == [] and info.partition_col is None
    assert run(dest, "select y from pkt") == [{"y": 7}]
