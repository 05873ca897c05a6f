"""UPDATE over the snapshot log — copy-on-write (`update_where`) and
deletion-vector merge-on-read (`update_where_mor`).

Contract: standard SQL UPDATE row semantics (SET right-hand sides see
the pre-update row; NULL conditions don't match), minimal-rewrite for
CoW (only files holding a match), zero-rewrite for MOR (old versions
tombstoned by position, updated rows appended), and both paths
value-identical."""

from __future__ import annotations

import os

import pytest

from binance_etl_spark.operators import snapshots as SNAP


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "tbl")


def _df(spark, lo, hi, parts=4):
    return (
        spark.range(lo, hi)
        .selectExpr("id", "id * 2 AS v", "CAST(id % 3 AS STRING) AS grp")
        .repartitionByRange(parts, "id")
    )


def _as_rows(df):
    return {(r["id"], r["v"], r["grp"]) for r in df.collect()}


def test_cow_update_minimal_rewrite(spark, table):
    SNAP.write_version(_df(spark, 0, 1000), table)
    m1 = SNAP._load_manifest(table, 1)
    v = SNAP.update_where(spark, table, "id < 10", {"v": "v + 1000"})
    m2 = SNAP._load_manifest(table, v)
    assert m2["mode"] == "update"
    # ids < 10 live in ONE range file; the other three carry by name
    assert m2["rewrote"] == 1 and m2["carried"] == 3
    assert len(set(m1["files"]) & set(m2["files"])) == 3
    got = SNAP.read_version(spark, table)
    assert got.count() == 1000
    assert got.where("id < 10 AND v = id * 2 + 1000").count() == 10
    assert got.where("id >= 10 AND v <> id * 2").count() == 0
    # time travel: v1 unchanged
    assert SNAP.read_version(spark, table, 1).where("v <> id * 2").count() == 0


def test_update_rhs_sees_pre_update_row(spark, table):
    # swap two columns: both right-hand sides must read OLD values
    df = spark.createDataFrame([(1, 10, 20)], "id long, a long, b long")
    SNAP.write_version(df, table)
    SNAP.update_where(spark, table, "id = 1", {"a": "b", "b": "a"})
    r = SNAP.read_version(spark, table).collect()[0]
    assert (r["a"], r["b"]) == (20, 10)


def test_update_null_condition_no_match(spark, table):
    df = spark.sql(
        "SELECT * FROM VALUES (1, CAST(NULL AS INT)), (2, 5) AS t(id, x)"
    )
    SNAP.write_version(df, table)
    v = SNAP.update_where(spark, table, "x > 3", {"x": "x * 10"})
    got = {(r["id"], r["x"]) for r in SNAP.read_version(spark, table, v).collect()}
    assert got == {(1, None), (2, 50)}


def test_update_unknown_column_refused(spark, table):
    SNAP.write_version(_df(spark, 0, 10), table)
    with pytest.raises(ValueError, match="unknown columns"):
        SNAP.update_where(spark, table, "id = 1", {"nope": "1"})
    with pytest.raises(ValueError, match="unknown columns"):
        SNAP.update_where_mor(spark, table, "id = 1", {"nope": "1"})


def _claims(table):
    return sorted(
        n for n in os.listdir(os.path.join(table, "_manifests"))
        if n.startswith(".claim-v")
    )


def test_update_respects_check_expectations(spark, table):
    SNAP.write_version(
        _df(spark, 0, 100), table, expectations={"v_nonneg": "v >= 0"}
    )
    with pytest.raises(ValueError, match="expectations violated"):
        SNAP.update_where(spark, table, "id = 5", {"v": "-1"})
    # nothing published, and no version claim left behind: a leaked
    # claim stalls every later commit until its TTL
    assert SNAP.main_versions(table) == [1]
    assert _claims(table) == []
    with pytest.raises(ValueError, match="expectations violated"):
        SNAP.update_where_mor(spark, table, "id = 5", {"v": "-1"})
    assert SNAP.main_versions(table) == [1]
    assert _claims(table) == []
    # a MERGE whose source row violates the table's CHECK
    src = spark.createDataFrame(
        [(5, -7, "2")], "id long, v long, grp string"
    )
    with pytest.raises(ValueError, match="expectations violated"):
        SNAP.merge_into(spark, table, src, ["id"])
    assert SNAP.main_versions(table) == [1]
    assert _claims(table) == []


def test_mor_update_touches_no_data_files(spark, table):
    SNAP.write_version(_df(spark, 0, 1000), table)
    m1 = SNAP._load_manifest(table, 1)
    v = SNAP.update_where_mor(spark, table, "id % 100 = 7", {"v": "v + 1"})
    m2 = SNAP._load_manifest(table, v)
    # every original file still listed; only delta files added
    assert set(m1["files"]) <= set(m2["files"])
    assert m2["rewrote"] == 0
    assert m2["dv_rows"] == 10
    got = SNAP.read_version(spark, table)
    assert got.count() == 1000
    assert got.where("id % 100 = 7 AND v = id * 2 + 1").count() == 10
    assert got.where("id % 100 <> 7 AND v <> id * 2").count() == 0
    # metadata-only count unchanged by the update
    assert SNAP.count_rows(table) == 1000


def test_cow_and_mor_updates_value_identical(spark, table, tmp_path):
    t2 = str(tmp_path / "tbl2")
    SNAP.write_version(_df(spark, 0, 500), table)
    SNAP.write_version(_df(spark, 0, 500), t2)
    SNAP.update_where(spark, table, "grp = '1'", {"v": "v * 3"})
    SNAP.update_where_mor(spark, t2, "grp = '1'", {"v": "v * 3"})
    assert _as_rows(SNAP.read_version(spark, table)) == _as_rows(
        SNAP.read_version(spark, t2)
    )


def test_mor_update_cdc_is_delete_insert_pair(spark, table):
    SNAP.write_version(_df(spark, 0, 100), table)
    SNAP.update_where_mor(spark, table, "id = 42", {"v": "999"})
    ch = SNAP.read_changes(spark, table, 1, 2)
    rows = {(r["change_type"], r["id"], r["v"]) for r in ch.collect()}
    assert rows == {("delete", 42, 84), ("insert", 42, 999)}


def test_mor_update_then_compact_folds_everything(spark, table):
    SNAP.write_version(_df(spark, 0, 300), table)
    SNAP.update_where_mor(spark, table, "id < 30", {"v": "0"})
    v = SNAP.compact(spark, table, target_files=2)
    m = SNAP._load_manifest(table, v)
    assert "dv" not in m and len(m["files"]) == 2
    got = SNAP.read_version(spark, table, v)
    assert got.count() == 300
    assert got.where("id < 30 AND v <> 0").count() == 0


def test_chained_mor_update_on_updated_row(spark, table):
    SNAP.write_version(_df(spark, 0, 50), table)
    SNAP.update_where_mor(spark, table, "id = 5", {"v": "100"})
    # second MOR update must hit the UPDATED row (in the delta file),
    # not the tombstoned original
    SNAP.update_where_mor(spark, table, "id = 5", {"v": "v + 1"})
    got = SNAP.read_version(spark, table)
    assert got.where("id = 5").collect()[0]["v"] == 101
    assert got.count() == 50
