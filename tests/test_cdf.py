"""Protocol Change Data Feed (delta.enableChangeDataFeed): DML
commits record exact change rows under _change_data/ via cdc
actions; appends/overwrites DERIVE from the data files already on
disk (never double-written); the reader replays a version range as
table columns + _change_type/_commit_version/_commit_timestamp.

delta-spark parity target: spark.read.format("delta")
.option("readChangeFeed","true") with startingVersion/endingVersion
(both inclusive). Beyond the reference (delta-rs 0.18 has no CDF
write support).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from local_lakehouse_spark.exceptions import UnsupportedOperationError
from local_lakehouse_spark.sources import delta_py
from local_lakehouse_spark.sources.delta_py import (
    DeltaLog,
    apply_row_changes,
    delete_where,
    read_change_feed,
    read_delta,
    read_delta_with_positions,
    set_properties,
    update_where,
    write_delta,
)


@pytest.fixture()
def tbl(tmp_path):
    return str(tmp_path / "t")


def _cdf_table(spark, tbl, n=10):
    df = spark.createDataFrame(
        [(i, chr(ord("a") + i % 26), i % 3) for i in range(n)],
        "id long, s string, grp int",
    ).coalesce(2)
    write_delta(spark, df, tbl)
    set_properties(tbl, {"delta.enableChangeDataFeed": "true"})


def _commit_actions(tbl, v):
    fname = os.path.join(tbl, "_delta_log", f"{v:020d}.json")
    with open(fname) as f:
        return [json.loads(ln) for ln in f if ln.strip()]


def test_requires_property(spark, tbl):
    df = spark.createDataFrame([(1, "a", 0)], "id long, s string, grp int")
    write_delta(spark, df, tbl)
    with pytest.raises(UnsupportedOperationError, match="ChangeDataFeed"):
        read_change_feed(spark, tbl)


def test_delete_records_cdc_and_replays(spark, tbl):
    _cdf_table(spark, tbl)
    delete_where(spark, tbl, "id >= 7")  # version 2
    acts = _commit_actions(tbl, 2)
    cdc = [a["cdc"] for a in acts if "cdc" in a]
    assert cdc, "CDF-enabled DELETE must write cdc actions"
    for c in cdc:
        assert c["path"].startswith("_change_data/")
        assert c["dataChange"] is False
        assert os.path.exists(os.path.join(tbl, c["path"]))
    # protocol carries the CDF writer feature next to deletionVectors
    protos = [a["protocol"] for a in acts if "protocol" in a]
    assert protos and "changeDataFeed" in protos[0]["writerFeatures"]
    feed = read_change_feed(spark, tbl, 2, 2)
    rows = sorted(
        (r.id, r._change_type, r._commit_version) for r in feed.collect()
    )
    assert rows == [(7, "delete", 2), (8, "delete", 2), (9, "delete", 2)]
    assert feed.schema["_commit_timestamp"].dataType == T.TimestampType()


def test_update_records_pre_and_postimage(spark, tbl):
    _cdf_table(spark, tbl)
    update_where(spark, tbl, "id = 3", {"s": "'Z'"})  # version 2
    feed = read_change_feed(spark, tbl, 2, 2)
    rows = sorted((r.id, r.s, r._change_type) for r in feed.collect())
    assert rows == [
        (3, "Z", "update_postimage"),
        (3, "d", "update_preimage"),
    ]


def test_merge_records_delete_insert_pairs(spark, tbl):
    _cdf_table(spark, tbl, n=5)
    snap, target = read_delta_with_positions(spark, tbl)
    dead = target.filter("id = 1").select(
        F.col("__llh_fn").alias("file_name"),
        F.col("__llh_ri").alias("row_index"),
    )
    new_rows = spark.createDataFrame(
        [(1, "NEW", 9), (50, "ins", 9)], "id long, s string, grp int"
    )
    apply_row_changes(spark, tbl, snap, dead, new_rows, "MERGE")
    feed = read_change_feed(spark, tbl, 2, 2)
    rows = sorted((r.id, r.s, r._change_type) for r in feed.collect())
    assert rows == [
        (1, "NEW", "insert"),
        (1, "b", "delete"),
        (50, "ins", "insert"),
    ]


def test_appends_and_initial_version_derive_as_inserts(spark, tbl):
    _cdf_table(spark, tbl, n=4)
    extra = spark.createDataFrame(
        [(100, "x", 0)], "id long, s string, grp int"
    )
    write_delta(spark, extra, tbl, mode="append")  # version 2
    acts = _commit_actions(tbl, 2)
    assert not any("cdc" in a for a in acts), "appends derive, never write cdc"
    feed = read_change_feed(spark, tbl, 0)
    rows = sorted((r.id, r._change_type, r._commit_version) for r in feed.collect())
    assert (100, "insert", 2) in rows
    # the initial write surfaces as version-0 inserts
    assert [r for r in rows if r[2] == 0] == [
        (0, "insert", 0),
        (1, "insert", 0),
        (2, "insert", 0),
        (3, "insert", 0),
    ]


def test_overwrite_derives_deletes_dv_aware(spark, tbl):
    """Overwrite of a DV-bearing table: the derived deletes must
    anti-join the deletion vector the removed file carried — rows a
    previous DELETE already removed never re-surface as deletes."""
    _cdf_table(spark, tbl, n=6)
    delete_where(spark, tbl, "id <= 1")  # version 2, DVs + cdc
    repl = spark.createDataFrame([(99, "n", 0)], "id long, s string, grp int")
    write_delta(spark, repl, tbl, mode="overwrite")  # version 3
    feed = read_change_feed(spark, tbl, 3, 3)
    rows = sorted((r.id, r._change_type) for r in feed.collect())
    assert rows == [
        (2, "delete"),
        (3, "delete"),
        (4, "delete"),
        (5, "delete"),
        (99, "insert"),
    ]


def test_optimize_contributes_nothing(spark, tbl):
    from local_lakehouse_spark.sources.delta_py import compact

    _cdf_table(spark, tbl, n=4)
    for i in (10, 11):
        write_delta(
            spark,
            spark.createDataFrame(
                [(i, "x", 0)], "id long, s string, grp int"
            ).coalesce(1),
            tbl,
            mode="append",
        )
    v_before = DeltaLog(tbl).versions()[-1]
    metrics = compact(spark, tbl, target_file_bytes=1 << 20)
    assert metrics["numFilesRemoved"] >= 2
    v = DeltaLog(tbl).versions()[-1]
    assert v == v_before + 1
    assert read_change_feed(spark, tbl, v, v).count() == 0


def test_dv_commit_without_cdf_refuses(spark, tbl):
    """A DV DELETE from before CDF was enabled cannot be replayed —
    the reader refuses that version loudly instead of guessing."""
    df = spark.createDataFrame(
        [(i, "x", 0) for i in range(6)], "id long, s string, grp int"
    ).coalesce(1)
    write_delta(spark, df, tbl)
    delete_where(spark, tbl, "id = 0")  # version 1, NO cdc recorded
    set_properties(tbl, {"delta.enableChangeDataFeed": "true"})  # v2
    with pytest.raises(UnsupportedOperationError, match="not active"):
        read_change_feed(spark, tbl, 0).collect()
    # a range starting after the unrecorded commit works
    assert read_change_feed(spark, tbl, 2).count() == 0


def test_cdf_on_column_mapped_table(spark, tbl):
    """CDF change rows land under PHYSICAL names in _change_data and
    read back under logical names."""
    import pyarrow.parquet as pq

    df = spark.createDataFrame(
        [(i, f"n{i}") for i in range(8)], "id long, name string"
    ).coalesce(2)
    write_delta(spark, df, tbl, column_mapping=True)
    set_properties(tbl, {"delta.enableChangeDataFeed": "true"})
    snap = delete_where(spark, tbl, "id % 4 = 1")  # version 2
    assert snap.dv_adds
    acts = _commit_actions(tbl, 2)
    cdc = [a["cdc"] for a in acts if "cdc" in a]
    assert cdc
    names = pq.read_schema(os.path.join(tbl, cdc[0]["path"])).names
    assert "_change_type" in names and "id" not in names
    feed = read_change_feed(spark, tbl, 2, 2)
    rows = sorted((r.id, r.name, r._change_type) for r in feed.collect())
    assert rows == [(1, "n1", "delete"), (5, "n5", "delete")]


def test_client_read_change_feed(spark, unity, tmp_path):
    loc = str(tmp_path / "cdf_tbl")
    df = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 1)], "id long, s string, grp int"
    )
    unity.create_as_table(
        df, "unity", "default", "cdftbl",
        file_type="DELTA", location=f"file://{loc}",
    )
    set_properties(loc, {"delta.enableChangeDataFeed": "true"})
    delete_where(spark, loc, "id = 2")
    feed = unity.read_change_feed("unity", "default", "cdftbl", 2, 2)
    assert [(r.id, r._change_type) for r in feed.collect()] == [
        (2, "delete")
    ]
    # the feed equals the live diff: survivors unchanged
    assert {r.id for r in read_delta(spark, loc).collect()} == {1}


def test_vacuum_reclaims_old_cdc_files(spark, tbl):
    from local_lakehouse_spark.sources.delta_py import vacuum

    _cdf_table(spark, tbl, n=4)
    delete_where(spark, tbl, "id = 0")
    acts = _commit_actions(tbl, 2)
    rel = next(a["cdc"]["path"] for a in acts if "cdc" in a)
    # cdc files are never in the live add set, so a 0-retention
    # vacuum reclaims them (delta's CDF retention trade-off)
    gone = vacuum(tbl, retain_hours=0.0)
    assert rel in gone
    assert not os.path.exists(os.path.join(tbl, rel))


def test_streaming_change_feed(spark, tbl, tmp_path):
    """pydelta streaming with readChangeFeed=true (delta-spark's
    streaming CDC): microbatches carry table columns + the three CDF
    meta columns, DML commits replay from their cdc files, appends
    derive as inserts, and a derived delete of a DV-bearing file
    anti-joins the prior DV in the executor."""
    from local_lakehouse_spark.sources.pydelta_source import register

    register(spark)
    _cdf_table(spark, tbl, n=6)            # v0 create, v1 property
    delete_where(spark, tbl, "id = 1")     # v2: cdc delete
    update_where(spark, tbl, "id = 2", {"s": "'U'"})  # v3: cdc pre/post
    write_delta(
        spark,
        spark.createDataFrame([(50, "x", 0)], "id long, s string, grp int"),
        tbl,
        mode="append",
    )                                       # v4: derived insert
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        spark.readStream.format("pydelta")
        .option("readChangeFeed", "true")
        .option("startingVersion", 2)
        .load(tbl)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    rows = sorted(
        (r.id, r.s, r._change_type, r._commit_version)
        for r in got.collect()
    )
    assert rows == [
        (1, "b", "delete", 2),
        (2, "U", "update_postimage", 3),
        (2, "c", "update_preimage", 3),
        (50, "x", "insert", 4),
    ]
    # the timestamp column is a real timestamp matching the commit
    ts = {r._commit_version: r._commit_timestamp for r in got.collect()}
    log = DeltaLog(tbl)
    for v, t_ in ts.items():
        assert abs(t_.timestamp() * 1000 - log.commit_timestamp(v)) < 1
    # refusal without the property
    plain = str(tmp_path / "plain")
    write_delta(
        spark, spark.createDataFrame([(1, "a", 0)], "id long, s string, grp int"), plain
    )
    with pytest.raises(Exception, match="enableChangeDataFeed"):
        (
            spark.readStream.format("pydelta")
            .option("readChangeFeed", "true")
            .load(plain)
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "c3"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination(60)
        )


def test_batch_and_stream_change_feeds_agree(spark, tbl, tmp_path):
    """The change feed has two executors by design: pooled JVM frames
    (read_change_feed) and per-file Arrow partitions (the
    readChangeFeed stream). Both classify the range through
    commit_changes and must return the same change rows for a cdc
    commit, a derived insert and derived deletes that include a
    DV-bearing file."""
    from local_lakehouse_spark.sources.pydelta_source import register

    register(spark)
    _cdf_table(spark, tbl, n=6)  # v0 create, v1 property
    delete_where(spark, tbl, "id = 1")  # v2: DV + cdc
    row = "id long, s string, grp int"
    write_delta(
        spark, spark.createDataFrame([(50, "x", 0)], row), tbl,
        mode="append",
    )  # v3: derived insert
    prior = DeltaLog(tbl).snapshot(allow=delta_py.BATCH_READ_FEATURES)
    write_delta(
        spark, spark.createDataFrame([(60, "y", 1)], row), tbl,
        mode="overwrite",
    )  # v4: derived deletes
    v4 = _commit_actions(tbl, 4)
    removed = [a["remove"]["path"] for a in v4 if "remove" in a]
    assert any(prior.adds[p].get("deletionVector") for p in removed)
    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("pydelta")
        .option("readChangeFeed", "true")
        .option("startingVersion", 2)
        .load(tbl)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    cols = ["id", "s", "grp", "_change_type", "_commit_version"]

    def rows(df):
        return sorted(tuple(r) for r in df.select(cols).collect())

    batch = rows(read_change_feed(spark, tbl, 2, 4))
    assert batch == rows(spark.read.parquet(out))
    assert sorted((r[0], r[3], r[4]) for r in batch) == [
        (0, "delete", 4),
        (1, "delete", 2),
        (2, "delete", 4),
        (3, "delete", 4),
        (4, "delete", 4),
        (5, "delete", 4),
        (50, "delete", 4),
        (50, "insert", 3),
        (60, "insert", 4),
    ]


def test_timestamp_bounds(spark, tbl):
    """startingTimestamp resolves to the earliest commit at-or-after,
    endingTimestamp to the latest at-or-before (delta-spark's CDF
    option pair), on the same canonicalized-monotone commit times
    TIMESTAMP AS OF uses."""
    from datetime import datetime, timezone

    _cdf_table(spark, tbl, n=6)
    delete_where(spark, tbl, "id = 0")  # version 2
    update_where(spark, tbl, "id = 1", {"s": "'U'"})  # version 3
    log = DeltaLog(tbl)
    t2 = log.commit_timestamp(2)

    def iso(ms):
        return datetime.fromtimestamp(
            ms / 1000, tz=timezone.utc
        ).strftime("%Y-%m-%d %H:%M:%S.%f")

    feed = read_change_feed(
        spark, tbl, starting_version=None, starting_timestamp=iso(t2),
        ending_timestamp=iso(t2),
    )
    assert sorted((r.id, r._change_type) for r in feed.collect()) == [
        (0, "delete")
    ]
    with pytest.raises(ValueError, match="not both"):
        read_change_feed(
            spark, tbl, starting_version=2, starting_timestamp=iso(t2)
        )


def test_streaming_starting_timestamp(spark, tbl, tmp_path):
    from datetime import datetime, timezone

    from local_lakehouse_spark.sources.pydelta_source import register

    register(spark)
    _cdf_table(spark, tbl, n=4)
    delete_where(spark, tbl, "id = 0")  # version 2
    t2 = DeltaLog(tbl).commit_timestamp(2)
    iso = datetime.fromtimestamp(t2 / 1000, tz=timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S.%f"
    )
    out, ckpt = str(tmp_path / "o"), str(tmp_path / "c")
    q = (
        spark.readStream.format("pydelta")
        .option("readChangeFeed", "true")
        .option("startingTimestamp", iso)
        .load(tbl)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = [(r.id, r._change_type) for r in spark.read.parquet(out).collect()]
    assert rows == [(0, "delete")]
