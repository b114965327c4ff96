"""MERGE clause matrix tests.

Modeled on /root/reference/tests/test_dataframes.py:658-837:
insert-only, update-all + not-matched-by-source-update,
not-matched-by-source-delete, with exact expected frames; plus
negative tests (no default cols, schema mismatch)."""

import pytest
from pyspark.sql import types as T

from local_lakehouse_spark import SchemaMismatchError, UnsupportedOperationError

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("v", T.StringType(), True),
        T.StructField("n", T.LongType(), True),
    ]
)


@pytest.fixture()
def target(unity, spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], schema=SCHEMA
    )
    unity.create_as_table(df, "unity", "default", "t", location=str(tmp_path / "t"))
    unity.set_table_default_merge_columns("unity", "default", "t", ["id"])
    return unity


def _rows(client):
    return sorted(
        tuple(r) for r in client.read_table("unity", "default", "t").collect()
    )


def test_merge_insert_only(target, spark):
    src = spark.createDataFrame([(3, "cc", 33), (4, "d", 40)], schema=SCHEMA)
    target.merge_table(src, "unity", "default", "t").when_not_matched_insert_all().execute()
    assert _rows(target) == [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40)]


def test_merge_update_all_and_by_source_update(target, spark):
    src = spark.createDataFrame([(2, "B", 200), (4, "d", 40)], schema=SCHEMA)
    (
        target.merge_table(src, "unity", "default", "t")
        .when_matched_update_all()
        .when_not_matched_by_source_update(updates={"n": "t.n + 1"})
        .execute()
    )
    assert _rows(target) == [(1, "a", 11), (2, "B", 200), (3, "c", 31)]


def test_merge_not_matched_by_source_delete(target, spark):
    src = spark.createDataFrame([(1, "a", 10)], schema=SCHEMA)
    (
        target.merge_table(src, "unity", "default", "t")
        .when_not_matched_by_source_delete()
        .execute()
    )
    assert _rows(target) == [(1, "a", 10)]


def test_merge_full_upsert(target, spark):
    src = spark.createDataFrame([(1, "A", 100), (9, "z", 90)], schema=SCHEMA)
    (
        target.merge_table(src, "unity", "default", "t")
        .when_matched_update_all()
        .when_not_matched_insert_all()
        .execute()
    )
    assert _rows(target) == [(1, "A", 100), (2, "b", 20), (3, "c", 30), (9, "z", 90)]


def test_merge_matched_delete_with_predicate(target, spark):
    src = spark.createDataFrame([(1, "x", 0), (2, "y", 0)], schema=SCHEMA)
    (
        target.merge_table(src, "unity", "default", "t")
        .when_matched_delete(predicate="t.n >= 20")
        .when_matched_update_all()
        .execute()
    )
    # id=2 deleted (n=20 >= 20); id=1 updated (n=10 < 20)
    assert _rows(target) == [(1, "x", 0), (3, "c", 30)]


def test_merge_without_default_cols_raises(unity, spark, tmp_path):
    df = spark.createDataFrame([(1, "a", 10)], schema=SCHEMA)
    unity.create_as_table(df, "unity", "default", "t2", location=str(tmp_path / "t2"))
    with pytest.raises(UnsupportedOperationError):
        unity.merge_table(df, "unity", "default", "t2")


def test_merge_schema_mismatch_raises(target, spark):
    bad = spark.createDataFrame([(1, "a")], "id long, v string")
    with pytest.raises(SchemaMismatchError):
        target.merge_table(bad, "unity", "default", "t")


def test_merge_custom_condition(target, spark):
    src = spark.createDataFrame([(100, "b", 777)], schema=SCHEMA)
    (
        target.merge_table(src, "unity", "default", "t", condition="s.v = t.v")
        .when_matched_update(updates={"n": "s.n"})
        .execute()
    )
    assert _rows(target) == [(1, "a", 10), (2, "b", 777), (3, "c", 30)]


def test_merge_ambiguous_source_rows_raises(target, spark):
    """Two source rows matching one target row + matched clause →
    MergeAmbiguityError (Delta parity), and the target is untouched."""
    from local_lakehouse_spark.exceptions import MergeAmbiguityError

    src = spark.createDataFrame(
        [(1, "dup1", 100), (1, "dup2", 200), (4, "d", 40)], schema=SCHEMA
    )
    with pytest.raises(MergeAmbiguityError):
        (
            target.merge_table(src, "unity", "default", "t")
            .when_matched_update_all()
            .execute()
        )
    assert _rows(target) == [(1, "a", 10), (2, "b", 20), (3, "c", 30)]


def test_merge_ambiguous_ok_for_insert_only(target, spark):
    """Without matched clauses, duplicate source matches are legal
    (delta semantics: ambiguity only matters for update/delete)."""
    src = spark.createDataFrame(
        [(1, "dup1", 100), (1, "dup2", 200), (4, "d", 40)], schema=SCHEMA
    )
    (
        target.merge_table(src, "unity", "default", "t")
        .when_not_matched_insert_all()
        .execute()
    )
    assert _rows(target) == [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40)]


def test_merge_enforces_check_constraints(target, spark):
    """A MERGE may not commit rows a write_table would reject."""
    from local_lakehouse_spark.exceptions import ConstraintViolationError

    target.add_table_constraint("unity", "default", "t", "n_nonneg", "n >= 0")
    src = spark.createDataFrame([(2, "bad", -5)], schema=SCHEMA)
    with pytest.raises(ConstraintViolationError):
        (
            target.merge_table(src, "unity", "default", "t")
            .when_matched_update_all()
            .execute()
        )
    assert _rows(target) == [(1, "a", 10), (2, "b", 20), (3, "c", 30)]


def test_merge_preserves_single_file_layout(unity, spark, tmp_path):
    """MERGE on a single-file parquet table must not silently convert
    it into a directory (observable by external readers)."""
    import os

    loc = str(tmp_path / "sf.parquet")
    df = spark.createDataFrame([(1, "a", 10), (2, "b", 20)], schema=SCHEMA)
    unity.create_as_table(df, "unity", "default", "sf", location=loc)
    assert os.path.isfile(loc)
    src = spark.createDataFrame([(2, "B", 200), (3, "c", 30)], schema=SCHEMA)
    (
        unity.merge_table(src, "unity", "default", "sf", condition="s.id = t.id")
        .when_matched_update_all()
        .when_not_matched_insert_all()
        .execute()
    )
    assert os.path.isfile(loc), "single-file table became a directory"
    got = sorted(tuple(r) for r in unity.read_table("unity", "default", "sf").collect())
    assert got == [(1, "a", 10), (2, "B", 200), (3, "c", 30)]


# -- SQL MERGE INTO surface --------------------------------------------------


def _mk(unity, spark, tmp_path, name, rows, schema="id long, k string, v double"):
    df = spark.createDataFrame(rows, schema)
    unity.create_as_table(df, "unity", "default", name,
                          location=f"file://{tmp_path}/{name}")
    return df


def test_sql_merge_update_all_insert_all(unity, spark, tmp_path):
    _mk(unity, spark, tmp_path, "mt", [(1, "a", 10.0), (2, "b", 20.0)])
    _mk(unity, spark, tmp_path, "ms", [(2, "B", 99.0), (3, "c", 30.0)])
    unity.sql(
        "MERGE INTO unity.default.mt AS t USING unity.default.ms AS s "
        "ON s.id = t.id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    out = {(r.id, r.k, r.v) for r in unity.read_table("unity", "default", "mt").collect()}
    assert out == {(1, "a", 10.0), (2, "B", 99.0), (3, "c", 30.0)}


def test_sql_merge_subquery_source_and_predicates(unity, spark, tmp_path):
    _mk(unity, spark, tmp_path, "mt2", [(1, "a", 10.0), (2, "b", 20.0)])
    _mk(unity, spark, tmp_path, "ms2", [(2, "B", 5.0), (9, "z", 1.0)])
    unity.sql(
        "MERGE INTO unity.default.mt2 t "
        "USING (SELECT id, k, v * 10 AS v FROM unity.default.ms2) s "
        "ON s.id = t.id "
        "WHEN MATCHED AND s.v > 40 THEN UPDATE SET v = s.v, k = concat(t.k, '!') "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE"
    )
    out = {(r.id, r.k, r.v) for r in unity.read_table("unity", "default", "mt2").collect()}
    # id1 deleted (not matched by source); id2 updated (50 > 40)
    assert out == {(2, "b!", 50.0)}


def test_sql_merge_insert_columns_values_and_delete(unity, spark, tmp_path):
    _mk(unity, spark, tmp_path, "mt3", [(1, "a", 10.0), (2, "b", 20.0)])
    _mk(unity, spark, tmp_path, "ms3", [(2, "x", 0.0), (5, "e", 50.0)])
    unity.sql(
        "MERGE INTO unity.default.mt3 t USING unity.default.ms3 s ON s.id = t.id "
        "WHEN MATCHED THEN DELETE "
        "WHEN NOT MATCHED THEN INSERT (id, k, v) VALUES (s.id, upper(s.k), s.v + 0.5)"
    )
    out = {(r.id, r.k, r.v) for r in unity.read_table("unity", "default", "mt3").collect()}
    assert out == {(1, "a", 10.0), (5, "E", 50.5)}


def test_sql_merge_requires_on_and_when(unity, spark, tmp_path):
    import pytest as _pytest

    from local_lakehouse_spark import UnsupportedOperationError

    _mk(unity, spark, tmp_path, "mt4", [(1, "a", 10.0)])
    _mk(unity, spark, tmp_path, "ms4", [(1, "a", 10.0)])
    with _pytest.raises(UnsupportedOperationError, match="ON"):
        unity.sql("MERGE INTO unity.default.mt4 t USING unity.default.ms4 s "
                  "WHEN MATCHED THEN DELETE")
    with _pytest.raises(UnsupportedOperationError, match="WHEN"):
        unity.sql("MERGE INTO unity.default.mt4 t USING unity.default.ms4 s "
                  "ON s.id = t.id")


# ---------------------------------------------------------------------------
# DV-backed MERGE on DELTA tables (the low-shuffle merge path)
# ---------------------------------------------------------------------------


def _delta_target(unity, spark, tmp_path, name="dvm", n=10, files=2):
    from local_lakehouse_spark.sources.delta_py import write_delta

    path = str(tmp_path / name)
    df = spark.createDataFrame(
        [(i, chr(ord("a") + i), float(i)) for i in range(n)],
        "id long, k string, v double",
    ).repartitionByRange(files, "id")
    write_delta(spark, df, path)
    unity.register_as_table("unity", "default", name, "DELTA", path)
    unity.set_table_default_merge_columns("unity", "default", name, ["id"])
    return path


def test_dv_merge_touches_only_matched_files(unity, spark, tmp_path):
    """A merge hitting rows in ONE of two files must leave every
    original file byte-identical, DV exactly that file, and append
    only the rewritten/inserted rows."""
    from local_lakehouse_spark.sources.delta_py import (
        BATCH_READ_FEATURES,
        DeltaLog,
    )

    path = _delta_target(unity, spark, tmp_path)
    pre = DeltaLog(path).snapshot().adds
    assert len(pre) == 2
    src = spark.createDataFrame(
        [(9, "Z", 99.0), (100, "new", 1.0)], "id long, k string, v double"
    )
    (
        unity.merge_table(src, "unity", "default", "dvm")
        .when_matched_update_all()
        .when_not_matched_insert_all()
        .execute()
    )
    snap = DeltaLog(path).snapshot(allow=BATCH_READ_FEATURES)
    for rel, a in pre.items():  # no in-place rewrites, ever
        assert snap.adds[rel]["size"] == a["size"]
    assert len(snap.dv_adds) == 1  # only the file holding id=9
    rows = {
        r.id: (r.k, r.v)
        for r in unity.read_table("unity", "default", "dvm").collect()
    }
    assert rows[9] == ("Z", 99.0) and rows[100] == ("new", 1.0)
    assert rows[0] == ("a", 0.0) and len(rows) == 11
    assert DeltaLog(path).history()[0]["operation"] == "MERGE"


def test_dv_merge_matched_delete_marks_positions(unity, spark, tmp_path):
    from local_lakehouse_spark.sources.delta_py import (
        BATCH_READ_FEATURES,
        DeltaLog,
    )

    path = _delta_target(unity, spark, tmp_path, name="dvd", n=5, files=1)
    src = spark.createDataFrame(
        [(1, "x", 0.0), (2, "x", 0.0)], "id long, k string, v double"
    )
    (
        unity.merge_table(src, "unity", "default", "dvd")
        .when_matched_delete()
        .execute()
    )
    snap = DeltaLog(path).snapshot(allow=BATCH_READ_FEATURES)
    assert snap.dv_adds  # delete-only merge: bitmaps, no appends
    ids = sorted(
        r.id for r in unity.read_table("unity", "default", "dvd").collect()
    )
    assert ids == [0, 3, 4]


def test_dv_merge_never_resurrects_deleted_rows(unity, spark, tmp_path):
    """A row removed by a prior DV DELETE is NOT 'matched' — a merge
    on its key takes the insert branch (the position-bearing read is
    DV-aware), and the old tombstone survives."""
    from local_lakehouse_spark.sources.delta_py import delete_where

    path = _delta_target(unity, spark, tmp_path, name="dvr", n=5, files=1)
    delete_where(spark, path, "id = 2")
    src = spark.createDataFrame(
        [(2, "reborn", 22.0)], "id long, k string, v double"
    )
    (
        unity.merge_table(src, "unity", "default", "dvr")
        .when_matched_update_all()
        .when_not_matched_insert_all()
        .execute()
    )
    rows = {
        r.id: (r.k, r.v)
        for r in unity.read_table("unity", "default", "dvr").collect()
    }
    assert rows[2] == ("reborn", 22.0)  # via INSERT, not resurrection
    assert len(rows) == 5


def test_dv_merge_then_purge_and_time_travel(unity, spark, tmp_path):
    """The DV merge composes with the rest of the lifecycle: purge
    materializes its bitmaps, and time travel still sees the
    pre-merge contents."""
    from local_lakehouse_spark.sources.delta_py import (
        BATCH_READ_FEATURES,
        DeltaLog,
        purge,
        read_delta,
    )

    path = _delta_target(unity, spark, tmp_path, name="dvp", n=6, files=2)
    pre_version = DeltaLog(path).snapshot().version
    src = spark.createDataFrame([(0, "U", 0.5)], "id long, k string, v double")
    (
        unity.merge_table(src, "unity", "default", "dvp")
        .when_matched_update_all()
        .execute()
    )
    snap = purge(spark, path)
    assert not snap.dv_adds
    assert {
        (r.id, r.k) for r in read_delta(spark, path, version=pre_version).collect()
    } == {(i, chr(ord("a") + i)) for i in range(6)}
    rows = {r.id: r.k for r in read_delta(spark, path).collect()}
    assert rows[0] == "U" and len(rows) == 6


def test_sql_merge_on_delta_table_commits_version(unity, spark, tmp_path):
    """SQL MERGE over a DELTA-format table lands as a log commit."""
    from local_lakehouse_spark.sources.delta_py import DeltaLog

    df = spark.createDataFrame([(1, "a", 1.0)], "id long, k string, v double")
    unity.create_as_table(df, "unity", "default", "dmt", file_type="delta",
                          location=f"file://{tmp_path}/dmt")
    _mk(unity, spark, tmp_path, "dms", [(1, "A", 2.0), (2, "b", 3.0)])
    unity.sql(
        "MERGE INTO unity.default.dmt t USING unity.default.dms s ON s.id = t.id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    out = {(r.id, r.k) for r in unity.read_table("unity", "default", "dmt").collect()}
    assert out == {(1, "A"), (2, "b")}
    h = DeltaLog(str(tmp_path / "dmt")).history()
    assert h[0]["operation"] == "MERGE"


def test_dv_merge_respects_append_only(unity, spark, tmp_path):
    """An append-only table refuses merges with update/delete clauses
    BEFORE any join or bitmap work; insert-only merges still land."""
    from local_lakehouse_spark.sources.delta_py import set_properties

    path = _delta_target(unity, spark, tmp_path, name="dvao", n=4, files=1)
    set_properties(path, {"delta.appendOnly": "true"})
    src = spark.createDataFrame(
        [(0, "U", 0.0), (100, "new", 1.0)], "id long, k string, v double"
    )
    with pytest.raises(UnsupportedOperationError, match="append-only"):
        (
            unity.merge_table(src, "unity", "default", "dvao")
            .when_matched_update_all()
            .when_not_matched_insert_all()
            .execute()
        )
    (
        unity.merge_table(src, "unity", "default", "dvao")
        .when_not_matched_insert_all()
        .execute()
    )
    rows = {
        r.id: r.k
        for r in unity.read_table("unity", "default", "dvao").collect()
    }
    assert rows[100] == "new" and rows[0] == "a" and len(rows) == 5


def test_merge_into_iceberg_merge_on_read(unity, spark, tmp_path):
    """MERGE INTO an ICEBERG table (round 9): merge-on-read — the
    change set's dead rows become a position-delete file and the
    rewritten/inserted rows new data files, ONE 'overwrite' snapshot
    (apply_iceberg_row_changes); untouched rows stay in their files,
    original files survive for time travel, and a streaming reader
    must fail-or-skip the snapshot."""
    from local_lakehouse_spark.models import FileType
    from local_lakehouse_spark.sources import iceberg_py

    tgt = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, s string"
    )
    src = spark.createDataFrame(
        [(2, "B"), (3, None), (4, "D")], "id long, s string"
    )
    loc = str(tmp_path / "mice")
    unity.create_as_table(
        tgt, "unity", "default", "mice",
        file_type=FileType.ICEBERG, location=loc,
    )
    unity.create_as_table(
        src, "unity", "default", "msrc",
        file_type=FileType.PARQUET, location=str(tmp_path / "msrc"),
    )
    unity.sql(
        "MERGE INTO unity.default.mice AS t "
        "USING unity.default.msrc AS s ON t.id = s.id "
        "WHEN MATCHED AND s.s IS NULL THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET s = s.s "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    out = sorted(
        (r.id, r.s)
        for r in unity.read_table("unity", "default", "mice").collect()
    )
    assert out == [(1, "a"), (2, "B"), (4, "D")]
    meta = iceberg_py.table_metadata(loc)
    assert [s["summary"]["operation"] for s in meta["snapshots"]] == [
        "append",
        "overwrite",
    ]
    # merge-on-read: a position-delete file committed, original data
    # files still live (time travel reads the pre-merge rows)
    snap = iceberg_py._select_snapshot(meta)
    _d, pos, _e = iceberg_py._snapshot_files(meta, snap, loc)
    assert len(pos) >= 1
    pre = meta["snapshots"][0]["snapshot-id"]
    assert (
        iceberg_py.read_iceberg(spark, loc, snapshot_id=pre).count()
        == 3
    )


def test_merge_schema_evolution_refused_without_flag(target, spark):
    src = spark.createDataFrame(
        [(2, "B", 200, 9.5)], "id long, v string, n long, score double"
    )
    with pytest.raises(SchemaMismatchError):
        target.merge_table(src, "unity", "default", "t")


def test_merge_with_schema_evolution(target, spark):
    """delta-spark withSchemaEvolution parity: a NEW source column
    evolves the target (nullable); untouched/old rows read it back
    NULL; the metastore columns reconcile after execute; overlapping
    column type mismatches still refuse."""
    src = spark.createDataFrame(
        [(2, "B", 200, 9.5), (4, "d", 40, 4.0)],
        "id long, v string, n long, score double",
    )
    (
        target.merge_table(
            src, "unity", "default", "t", schema_evolution=True
        )
        .when_matched_update_all()
        .when_not_matched_insert_all()
        .execute()
    )
    got = sorted(
        tuple(r)
        for r in target.read_table("unity", "default", "t").collect()
    )
    assert got == [
        (1, "a", 10, None),
        (2, "B", 200, 9.5),
        (3, "c", 30, None),
        (4, "d", 40, 4.0),
    ]
    cols = [
        c.name for c in target.get_table("unity", "default", "t").columns
    ]
    assert cols == ["id", "v", "n", "score"]
    # overlapping type mismatch refuses even with evolution on
    bad = spark.createDataFrame(
        [(1, 5, 10, 1.0)], "id long, v long, n long, score double"
    )
    with pytest.raises(SchemaMismatchError, match="overlapping"):
        target.merge_table(
            bad, "unity", "default", "t", schema_evolution=True
        )


def test_merge_schema_evolution_delta_column_mapped(
    unity, spark, tmp_path
):
    """The column-mapped half: evolution assigns a fresh column id +
    physical name; the pre-merge version still reads the OLD schema;
    the DV merge leaves untouched rows in their files."""
    from local_lakehouse_spark.sources import delta_py

    loc = str(tmp_path / "mapped")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
    )
    delta_py.write_delta(
        spark, base, loc, mode="overwrite", column_mapping="name"
    )
    unity.register_as_table(
        "unity", "default", "mapped", "DELTA", loc
    )
    src = spark.createDataFrame(
        [(2, "B", "x"), (9, "z", "y")], "id long, v string, tag string"
    )
    (
        unity.merge_table(
            src, "unity", "default", "mapped",
            condition="s.id = t.id", schema_evolution=True,
        )
        .when_matched_update_all()
        .when_not_matched_insert_all()
        .execute()
    )
    got = sorted(
        tuple(r)
        for r in unity.read_table("unity", "default", "mapped").collect()
    )
    assert got == [
        (1, "a", None),
        (2, "B", "x"),
        (3, "c", None),
        (9, "z", "y"),
    ]
    snap = delta_py.DeltaLog(loc).snapshot(
        allow=delta_py.BATCH_READ_FEATURES
    )
    tag = next(f for f in snap.schema.fields if f.name == "tag")
    assert (tag.metadata or {}).get("delta.columnMapping.id")
    assert delta_py.read_delta(spark, loc, version=0).columns == [
        "id", "v",
    ]


# ---------------------------------------------------------------------------
# MERGE semantics on every format with deletes outstanding
# ---------------------------------------------------------------------------


@pytest.fixture(params=["DELTA", "ICEBERG"])
def deleted_target(request, unity, spark, tmp_path):
    """Table ``unity.default.t`` in one data file holding ids 1..4,
    with id 4 already deleted by a deletion vector (DELTA) or a
    position delete (ICEBERG)."""
    from local_lakehouse_spark.models import FileType
    from local_lakehouse_spark.sources import iceberg_py

    loc = str(tmp_path / "dt")
    df = spark.createDataFrame(
        [(i, chr(ord("a") + i), 10 * i) for i in range(1, 5)], schema=SCHEMA
    ).coalesce(1)
    unity.create_as_table(
        df, "unity", "default", "t",
        file_type=FileType[request.param], location=loc,
    )
    if request.param == "DELTA":
        assert unity.delete_from("unity", "default", "t", "id = 4") == 1
    else:
        iceberg_py.delete_iceberg_where(spark, loc, "id = 4")
    assert _rows(unity) == [(1, "b", 10), (2, "c", 20), (3, "d", 30)]
    return unity


def test_merge_ambiguity_in_file_with_deletes(deleted_target, spark):
    """Two source rows matching one target row of a file that already
    carries deletes raise, with or without a matched-clause predicate
    that holds for them, and leave the table as it was; without
    matched clauses the duplicates are legal."""
    from local_lakehouse_spark.exceptions import MergeAmbiguityError

    src = spark.createDataFrame(
        [(1, "x", 1), (1, "y", 2), (9, "z", 90)], schema=SCHEMA
    )
    for predicate in (None, "s.n > 1000"):
        with pytest.raises(MergeAmbiguityError):
            (
                deleted_target.merge_table(
                    src, "unity", "default", "t", condition="s.id = t.id"
                )
                .when_matched_update_all(predicate=predicate)
                .when_not_matched_insert_all()
                .execute()
            )
        assert _rows(deleted_target) == [(1, "b", 10), (2, "c", 20), (3, "d", 30)]
    (
        deleted_target.merge_table(src, "unity", "default", "t", condition="s.id = t.id")
        .when_not_matched_insert_all()
        .execute()
    )
    assert _rows(deleted_target) == [
        (1, "b", 10), (2, "c", 20), (3, "d", 30), (9, "z", 90),
    ]


def test_merge_ambiguity_against_deleted_row_is_not_a_match(deleted_target, spark):
    """Source duplicates of a row that a delete already removed match
    nothing: they insert, and the deleted row stays deleted."""
    src = spark.createDataFrame([(4, "x", 1), (4, "y", 2)], schema=SCHEMA)
    (
        deleted_target.merge_table(src, "unity", "default", "t", condition="s.id = t.id")
        .when_matched_update_all()
        .when_not_matched_insert_all()
        .execute()
    )
    assert _rows(deleted_target) == [
        (1, "b", 10), (2, "c", 20), (3, "d", 30), (4, "x", 1), (4, "y", 2),
    ]


def test_dv_merge_not_matched_by_source_sees_every_file(unity, spark, tmp_path):
    """A NOT MATCHED BY SOURCE clause reaches rows in files the source
    never matches."""
    path = _delta_target(unity, spark, tmp_path, n=10, files=3)
    src = spark.createDataFrame([(0, "A", 0.5)], "id long, k string, v double")
    (
        unity.merge_table(src, "unity", "default", "dvm")
        .when_matched_update_all()
        .when_not_matched_by_source_update({"v": "t.v + 100"}, predicate="t.id >= 8")
        .when_not_matched_by_source_delete(predicate="t.id BETWEEN 4 AND 5")
        .execute()
    )
    from local_lakehouse_spark.sources.delta_py import (
        BATCH_READ_FEATURES,
        DeltaLog,
    )

    assert len(DeltaLog(path).snapshot(allow=BATCH_READ_FEATURES).adds) > 3
    rows = sorted(
        (r.id, r.k, r.v)
        for r in unity.read_table("unity", "default", "dvm").collect()
    )
    assert rows == [
        (0, "A", 0.5), (1, "b", 1.0), (2, "c", 2.0), (3, "d", 3.0),
        (6, "g", 6.0), (7, "h", 7.0), (8, "i", 108.0), (9, "j", 109.0),
    ]
