"""DELTA execution paths + AVRO execution.

Both formats always run on the package's pure-Python implementations
of the public container formats — the Avro object container codec
(sources/avro_py.py, tests/test_avro_codec.py) and the Delta
transaction log (sources/delta_py.py, tests/test_delta_py.py); there
is no JVM Delta or spark-avro source to select. The tests here pin
the client-level AVRO and DELTA lifecycle. The delta-specific
*semantics* (replaceWhere, partition_filters, schema modes, MERGE,
time travel) are additionally pinned parquet-natively by
tests/test_dataframes.py and tests/test_merge.py, mirroring the
reference's delta test scenarios row-for-row.
"""

from __future__ import annotations

import os

import pytest

from local_lakehouse_spark import UnsupportedOperationError
from local_lakehouse_spark.io import read_format_path
from local_lakehouse_spark.models import FileType


# -- AVRO --------------------------------------------------------------------
# Positive coverage lives in tests/test_avro_codec.py (codec + client
# lifecycle).


def test_avro_always_executable(unity, random_df, tmp_path):
    """AVRO writes and reads through the Python codec."""
    df = random_df(3)
    unity.create_as_table(
        df, "unity", "default", "av_gate", file_type="avro",
        location=f"file://{tmp_path}/t.avro",
    )
    assert unity.read_table("unity", "default", "av_gate").count() == 3


def test_avro_missing_file_raises_not_found(spark, tmp_path):
    with pytest.raises(Exception, match="[Nn]o.*[Aa]vro|PATH_NOT_FOUND"):
        read_format_path(spark, FileType.AVRO, str(tmp_path / "x.avro"))


# -- DELTA -------------------------------------------------------------------
# Log-level protocol behavior lives in tests/test_delta_py.py; here
# the client-level lifecycle, matching the reference's delta usage
# (/root/reference/tests/test_dataframes.py:658-837).


def test_delta_read_missing_table_raises(spark, tmp_path):
    from local_lakehouse_spark.exceptions import DoesNotExistError

    with pytest.raises((DoesNotExistError, Exception), match="[Dd]elta"):
        read_format_path(spark, FileType.DELTA, str(tmp_path / "d"))


def test_delta_create_read_append_time_travel(unity, random_df, tmp_path):
    """Full DELTA lifecycle through the client: CTAS writes version 0
    with a real _delta_log, append commits version 1, and version=0
    time travel replays the log."""
    df = random_df(3)
    loc = f"file://{tmp_path}/d"
    unity.create_as_table(
        df, "unity", "default", "dt", file_type="delta", location=loc
    )
    assert os.path.isdir(tmp_path / "d" / "_delta_log")
    assert unity.read_table("unity", "default", "dt").count() == 3
    unity.write_table(
        random_df(2), "unity", "default", "dt", mode="append"
    )
    assert unity.read_table("unity", "default", "dt").count() == 5
    assert unity.read_table("unity", "default", "dt", version=0).count() == 3


def test_delta_helpers(unity, random_df, tmp_path):
    """get_delta_table + sync_delta_properties (PyDeltaTable facade
    over the python log)."""
    unity.create_as_table(
        random_df(3), "unity", "default", "dt2", file_type="delta",
        location=f"file://{tmp_path}/d2",
    )
    dt = unity.get_delta_table("unity", "default", "dt2")
    assert dt.toDF().count() == 3
    assert dt.history().count() >= 1
    assert dt.detail().collect()[0]["numFiles"] >= 1
    unity.sync_delta_properties("unity", "default", "dt2")


def test_delta_table_helper_requires_delta_format(unity, random_df, tmp_path):
    """get_delta_table on a non-DELTA table raises regardless of the
    package (parity /root/reference/uchelper/client.py:323-330)."""
    unity.create_as_table(
        random_df(2), "unity", "default", "pq",
        location=f"file://{tmp_path}/pq",
    )
    with pytest.raises(UnsupportedOperationError, match="not a DELTA"):
        unity.get_delta_table("unity", "default", "pq")


def test_delta_merge_commits_log_version(unity, spark, tmp_path):
    """MERGE on a DELTA table executes through the python log: the
    upsert lands as a new commit and old versions stay readable."""
    base = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, val string"
    )
    unity.create_as_table(
        base, "unity", "default", "dm", file_type="delta",
        location=f"file://{tmp_path}/dm",
    )
    src = spark.createDataFrame([(2, "B"), (3, "c")], "id long, val string")
    (
        unity.merge_table(src, "unity", "default", "dm", condition="s.id = t.id")
        .when_matched_update_all()
        .when_not_matched_insert_all()
        .execute()
    )
    out = {
        (r.id, r.val)
        for r in unity.read_table("unity", "default", "dm").collect()
    }
    assert out == {(1, "a"), (2, "B"), (3, "c")}
    v0 = {
        (r.id, r.val)
        for r in unity.read_table("unity", "default", "dm", version=0).collect()
    }
    assert v0 == {(1, "a"), (2, "b")}


def test_delta_replace_where(unity, spark, tmp_path):
    """replaceWhere on DELTA: predicate rows replaced, rest kept,
    committed as one new version."""
    base = spark.createDataFrame(
        [(1, "x", 10.0), (2, "y", 20.0), (3, "x", 30.0)],
        "id long, k string, v double",
    )
    unity.create_as_table(
        base, "unity", "default", "drw", file_type="delta",
        location=f"file://{tmp_path}/drw",
    )
    new = spark.createDataFrame([(9, "x", 99.0)], "id long, k string, v double")
    unity.write_table(
        new, "unity", "default", "drw", mode="overwrite",
        replace_where="k = 'x'",
    )
    out = {
        (r.id, r.k) for r in unity.read_table("unity", "default", "drw").collect()
    }
    assert out == {(9, "x"), (2, "y")}


def test_client_convert_to_delta_and_restore(unity, spark, tmp_path):
    """Client-level CONVERT TO DELTA + Delta RESTORE round trip."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    unity.create_as_table(
        df, "unity", "default", "cv", location=f"file://{tmp_path}/cv"
    )
    tbl = unity.convert_table_to_delta("unity", "default", "cv")
    assert tbl.file_type.value == "DELTA"
    assert unity.read_table("unity", "default", "cv").count() == 2
    unity.write_table(
        spark.createDataFrame([(3, "c")], "id long, s string"),
        "unity", "default", "cv", mode="append",
    )
    assert unity.table_history("unity", "default", "cv") == [0, 1]
    unity.restore_table("unity", "default", "cv", version=0)
    assert unity.read_table("unity", "default", "cv").count() == 2
