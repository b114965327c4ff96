"""Deletion-vector + column-mapping READ support for the pure-Python
Delta reader (sources/delta_dv.py + delta_py.py + pydelta_source.py).

Reference parity: the reference reads DV-bearing / column-mapped
tables through delta-rs (reference uchelper/dataframe.py:198-199);
round 6 upgrades our round-6-early detect-and-refuse into actual
batch-read support. Operations that cannot honor the features
(streaming replay, CDC diffing, physical-name-blind writes) must
STILL refuse loudly.
"""

from __future__ import annotations

import json
import os
import re
from urllib.parse import unquote

import numpy as np
import pytest
from pyspark.sql import types as T

from local_lakehouse_spark.exceptions import UnsupportedOperationError
from local_lakehouse_spark.sources import delta_dv, delta_py
from local_lakehouse_spark.sources.delta_py import (
    BATCH_READ_FEATURES,
    DeltaLog,
    read_delta,
    restore,
    write_delta,
)


@pytest.fixture()
def tbl(tmp_path):
    return str(tmp_path / "t")


# ---------------------------------------------------------------------------
# Codec
# ---------------------------------------------------------------------------


def test_z85_roundtrip_and_alphabet():
    data = bytes(range(16))
    enc = delta_dv.z85_encode(data)
    assert len(enc) == 20
    assert delta_dv.z85_decode(enc) == data
    with pytest.raises(ValueError):
        delta_dv.z85_encode(b"abc")  # not a multiple of 4
    with pytest.raises(ValueError):
        delta_dv.z85_decode("~~~~~")  # not in the Z85 alphabet


@pytest.mark.parametrize(
    "indices",
    [
        [],
        [0],
        [5, 1, 99999],
        list(range(70000)),  # forces a bitset container
        [2**33, 2**33 + 5, 7],  # multiple 32-bit bitmaps (64-bit split)
        [2**32 - 1, 2**32],  # bitmap boundary
    ],
)
def test_roaring_roundtrip(indices):
    enc = delta_dv.encode_roaring_bitmap_array(indices)
    out = delta_dv.decode_roaring_bitmap_array(enc)
    assert list(out) == sorted(set(indices))


def test_roaring_run_container_decode():
    """Foreign writers may emit RUN containers (SERIAL_COOKIE 12347);
    hand-build one and check the decoder expands it."""
    import struct

    # one container, key 0, run-flag set, runs [(10, len 4), (100, 0)]
    cookie = delta_dv._SERIAL_COOKIE | ((1 - 1) << 16)
    rb = (
        struct.pack("<I", cookie)
        + b"\x01"  # run flag bitset for 1 container
        + struct.pack("<HH", 0, 6 - 1)  # key, cardinality-1
        + struct.pack("<H", 2)  # n_runs
        + struct.pack("<HHHH", 10, 4, 100, 0)
    )
    blob = struct.pack("<iQ", delta_dv._MAGIC_PORTABLE, 1) + rb
    out = delta_dv.decode_roaring_bitmap_array(blob)
    assert list(out) == [10, 11, 12, 13, 14, 100]


def test_dv_file_crc_is_checked(tmp_path):
    d = str(tmp_path)
    desc = delta_dv.write_dv_file(d, [1, 2, 3])
    rel = delta_dv.dv_relative_path(desc["pathOrInlineDv"])
    fpath = os.path.join(d, rel)
    blob = bytearray(open(fpath, "rb").read())
    blob[-6] ^= 0xFF  # corrupt a payload byte
    open(fpath, "wb").write(bytes(blob))
    with pytest.raises(ValueError, match="CRC-32"):
        delta_dv.load_dv_indices(desc, d)


def test_dv_cardinality_is_checked(tmp_path):
    d = str(tmp_path)
    desc = delta_dv.write_dv_file(d, [1, 2, 3])
    desc["cardinality"] = 99
    with pytest.raises(ValueError, match="cardinality"):
        delta_dv.load_dv_indices(desc, d)


# ---------------------------------------------------------------------------
# Foreign DV tables — batch reads apply the DV
# ---------------------------------------------------------------------------

_DV_PROTOCOL = {
    "minReaderVersion": 3,
    "minWriterVersion": 7,
    "readerFeatures": ["deletionVectors"],
    "writerFeatures": ["deletionVectors"],
}


def _single_file_table(spark, tbl, n=10):
    """One data file whose row i is (i, letter_i) at file position i."""
    rows = [(i, chr(ord("a") + i)) for i in range(n)]
    df = spark.createDataFrame(rows, "id long, s string").coalesce(1)
    write_delta(spark, df, tbl)
    snap = DeltaLog(tbl).snapshot()
    assert len(snap.adds) == 1
    return next(iter(snap.adds))


def _attach_dv(tbl, rel, indices, inline=False):
    """Simulate a foreign engine's DELETE: same data file re-added
    with a deletion vector + protocol upgrade."""
    log = DeltaLog(tbl)
    snap = log.snapshot(allow=BATCH_READ_FEATURES)
    add = dict(snap.adds[rel])
    add["deletionVector"] = (
        delta_dv.inline_dv_descriptor(indices)
        if inline
        else delta_dv.write_dv_file(tbl, indices)
    )
    log.commit(
        snap.version + 1, [{"protocol": _DV_PROTOCOL}, {"add": add}]
    )
    return snap.version


@pytest.mark.parametrize("inline", [False, True])
def test_read_applies_deletion_vector(spark, tbl, inline):
    rel = _single_file_table(spark, tbl)
    pre = _attach_dv(tbl, rel, [1, 3, 7], inline=inline)
    got = sorted(r.id for r in read_delta(spark, tbl).collect())
    assert got == [0, 2, 4, 5, 6, 8, 9]
    # time travel to before the foreign DELETE sees every row
    assert read_delta(spark, tbl, version=pre).count() == 10


def test_read_mixed_dv_and_plain_files(spark, tbl):
    _single_file_table(spark, tbl)
    extra = spark.createDataFrame(
        [(100, "x"), (101, "y")], "id long, s string"
    ).coalesce(1)
    write_delta(spark, extra, tbl, mode="append")
    snap = DeltaLog(tbl).snapshot()
    rel = next(
        r
        for r in snap.adds
        if json.loads(snap.adds[r]["stats"])["minValues"]["id"] == 0
    )
    _attach_dv(tbl, rel, [0, 9])
    got = sorted(r.id for r in read_delta(spark, tbl).collect())
    assert got == [1, 2, 3, 4, 5, 6, 7, 8, 100, 101]


def test_executor_side_decode_path(spark, tbl, monkeypatch):
    """Above the broadcast threshold the positions decode in
    executors (mapInPandas) and the anti-join shuffles — same rows."""
    rel = _single_file_table(spark, tbl)
    _attach_dv(tbl, rel, [2, 4])
    monkeypatch.setattr(delta_py, "_DV_BROADCAST_MAX_ROWS", -1)
    got = sorted(r.id for r in read_delta(spark, tbl).collect())
    assert got == [0, 1, 3, 5, 6, 7, 8, 9]


def test_append_and_overwrite_on_dv_table(spark, tbl):
    rel = _single_file_table(spark, tbl)
    _attach_dv(tbl, rel, [0, 1, 2, 3, 4, 5, 6, 7])  # keep 8, 9
    more = spark.createDataFrame([(50, "z")], "id long, s string")
    write_delta(spark, more, tbl, mode="append")
    got = sorted(r.id for r in read_delta(spark, tbl).collect())
    assert got == [8, 9, 50]
    # overwrite removes the DV-bearing adds wholesale
    write_delta(spark, more, tbl, mode="overwrite")
    assert [r.id for r in read_delta(spark, tbl).collect()] == [50]
    assert not DeltaLog(tbl).snapshot().dv_adds


def test_replace_where_rewrite_reads_through_dv(spark, tbl):
    rel = _single_file_table(spark, tbl)
    _attach_dv(tbl, rel, [0])  # id=0 deleted
    new = spark.createDataFrame([(5, "NEW")], "id long, s string")
    write_delta(spark, new, tbl, mode="overwrite", replace_where="id = 5")
    rows = {r.id: r.s for r in read_delta(spark, tbl).collect()}
    assert 0 not in rows  # the DV-deleted row must NOT resurrect
    assert rows[5] == "NEW"
    assert len(rows) == 9


def test_restore_across_dv_attach(spark, tbl):
    """RESTORE to a pre-DELETE version must bring deleted rows back
    even though the data file PATH never changed — the add action is
    value-compared, not path-compared."""
    rel = _single_file_table(spark, tbl)
    pre = _attach_dv(tbl, rel, [1, 3])
    assert read_delta(spark, tbl).count() == 8
    restore(spark, tbl, pre)
    assert read_delta(spark, tbl).count() == 10


def test_checkpoint_preserves_deletion_vector(spark, tbl):
    rel = _single_file_table(spark, tbl)
    _attach_dv(tbl, rel, [0, 5])
    log = DeltaLog(tbl)
    log.write_checkpoint()
    # replay FROM the checkpoint (no json beyond it): the DV must
    # round-trip through the parquet checkpoint schema
    snap = log.snapshot(allow=BATCH_READ_FEATURES)
    dv = snap.adds[rel].get("deletionVector")
    assert dv and dv["cardinality"] == 2
    assert read_delta(spark, tbl).count() == 8


def test_dv_capable_but_dv_free_version_reads_everywhere(spark, tbl):
    """A protocol listing deletionVectors whose snapshot carries NONE
    reads like a plain table — including on strict paths."""
    rel = _single_file_table(spark, tbl)
    log = DeltaLog(tbl)
    snap = log.snapshot()
    log.commit(snap.version + 1, [{"protocol": _DV_PROTOCOL}])
    assert log.snapshot().version == snap.version + 1  # strict path OK
    assert read_delta(spark, tbl).count() == 10


def test_strict_paths_still_refuse_dv_snapshots(spark, tbl):
    """snapshot() without allow= (streaming replay, CDC diffing, any
    future caller) keeps the hard refusal on a DV-bearing version."""
    rel = _single_file_table(spark, tbl)
    _attach_dv(tbl, rel, [1])
    with pytest.raises(UnsupportedOperationError, match="deletionVectors"):
        DeltaLog(tbl).snapshot()


def test_vacuum_keeps_dv_files(spark, tbl):
    rel = _single_file_table(spark, tbl)
    _attach_dv(tbl, rel, [1])
    deleted = delta_py.vacuum(tbl, retain_hours=0.0)
    assert deleted == []
    assert read_delta(spark, tbl).count() == 9


def test_pydelta_source_applies_dv(spark, tbl):
    from local_lakehouse_spark.sources import pydelta_source

    pydelta_source.register(spark)
    rel = _single_file_table(spark, tbl)
    _attach_dv(tbl, rel, [0, 2, 4, 6, 8])
    got = sorted(
        r.id for r in spark.read.format("pydelta").load(tbl).collect()
    )
    assert got == [1, 3, 5, 7, 9]


# ---------------------------------------------------------------------------
# Column mapping (name/id modes) — batch reads translate physical names
# ---------------------------------------------------------------------------


def _mapped_field(name, dtype, cid, phys):
    return T.StructField(
        name,
        dtype,
        True,
        metadata={
            "delta.columnMapping.id": cid,
            "delta.columnMapping.physicalName": phys,
        },
    )


def _make_mapped_table(tbl, partitioned=False):
    """Hand-build what delta-spark writes under columnMapping.mode=
    name: physical-named parquet + logical schemaString with mapping
    metadata. Includes a nested struct (renamed recursively)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    inner = T.StructType(
        [
            T.StructField(
                "city",
                T.StringType(),
                True,
                metadata={
                    "delta.columnMapping.id": 3,
                    "delta.columnMapping.physicalName": "col-c3",
                },
            )
        ]
    )
    schema = T.StructType(
        [
            _mapped_field("id", T.LongType(), 1, "col-c1"),
            _mapped_field("name", T.StringType(), 2, "col-c2"),
            _mapped_field("addr", inner, 4, "col-c4"),
        ]
    )
    part_cols: list[str] = []
    adds = []
    os.makedirs(tbl, exist_ok=True)
    phys = pa.table(
        {
            "col-c1": pa.array([1, 2, 3], pa.int64()),
            "col-c2": pa.array(["ann", "bob", "cyd"]),
            "col-c4": pa.array(
                [{"col-c3": "rome"}, {"col-c3": "oslo"}, {"col-c3": "kyiv"}],
                pa.struct([("col-c3", pa.string())]),
            ),
        }
    )
    if partitioned:
        # hive layout under the PHYSICAL partition-column name
        schema = T.StructType(
            list(schema.fields)
            + [_mapped_field("region", T.StringType(), 5, "col-c5")]
        )
        part_cols = ["col-c5"]
        rel = "col-c5=eu/part-0.parquet"
        os.makedirs(os.path.join(tbl, "col-c5=eu"), exist_ok=True)
        pq.write_table(phys, os.path.join(tbl, rel))
        adds.append((rel, {"col-c5": "eu"}))
    else:
        rel = "part-0.parquet"
        pq.write_table(phys, os.path.join(tbl, rel))
        adds.append((rel, {}))
    log = DeltaLog(tbl)
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {
            "metaData": {
                "id": "mapped-test",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema.json(),
                "partitionColumns": part_cols,
                "configuration": {
                    "delta.columnMapping.mode": "name",
                    "delta.columnMapping.maxColumnId": "5",
                },
                "createdTime": 0,
            }
        },
    ]
    for rel, parts in adds:
        actions.append(delta_py._add_action(tbl, rel, parts))
    log.commit(0, actions)
    return schema


def test_column_mapped_read_returns_logical_names(spark, tbl):
    _make_mapped_table(tbl)
    df = read_delta(spark, tbl)
    assert df.columns == ["id", "name", "addr"]
    rows = {r.id: (r.name, r.addr.city) for r in df.collect()}
    assert rows == {1: ("ann", "rome"), 2: ("bob", "oslo"), 3: ("cyd", "kyiv")}
    # nested field name is the LOGICAL one after the positional cast
    assert df.schema["addr"].dataType.fields[0].name == "city"


def test_column_mapped_partitioned_read(spark, tbl):
    _make_mapped_table(tbl, partitioned=True)
    df = read_delta(spark, tbl)
    assert df.columns == ["id", "name", "addr", "region"]
    assert {r.region for r in df.collect()} == {"eu"}


def test_column_mapped_filter_skipping_translates_names(spark, tbl):
    """read_delta(filters=) prunes by the PHYSICAL stats keys while
    the caller speaks logical names."""
    _make_mapped_table(tbl)
    # no file satisfies id > 100 → zero files enter the scan
    df = read_delta(spark, tbl, filters=[("id", ">", 100)])
    assert df.count() == 0
    df = read_delta(spark, tbl, filters=[("id", "<=", 100)])
    assert df.count() == 3


def test_column_mapped_append_roundtrip(spark, tbl):
    """Pure appends on a column-mapped table: caller speaks logical
    names, data files land under physical names, and the read path
    translates back — the full logical->physical->logical cycle."""
    schema = _make_mapped_table(tbl)
    extra = spark.createDataFrame(
        [(4, "dee", ("lima",))],
        T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("name", T.StringType()),
                T.StructField(
                    "addr",
                    T.StructType([T.StructField("city", T.StringType())]),
                ),
            ]
        ),
    )
    write_delta(spark, extra, tbl, mode="append")
    df = read_delta(spark, tbl)
    assert df.columns == ["id", "name", "addr"]
    rows = {r.id: (r.name, r.addr.city) for r in df.collect()}
    assert rows[4] == ("dee", "lima")
    assert len(rows) == 4
    # the appended parquet itself is PHYSICAL-named
    import pyarrow.parquet as pq

    snap = DeltaLog(tbl).snapshot(allow=delta_py.BATCH_READ_FEATURES)
    new_rels = [p for p in snap.adds if p != "part-0.parquet"]
    assert new_rels
    for rel in new_rels:
        cols = pq.read_schema(os.path.join(tbl, rel)).names
        assert "col-c1" in cols and "id" not in cols
    # stats keyed by physical name -> logical-name filters still prune
    assert read_delta(spark, tbl, filters=[("id", ">", 3)]).count() == 1


def test_column_mapped_partitioned_append(spark, tbl):
    _make_mapped_table(tbl, partitioned=True)
    extra = spark.createDataFrame(
        [(4, "dee", ("lima",), "sa")],
        T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("name", T.StringType()),
                T.StructField(
                    "addr",
                    T.StructType([T.StructField("city", T.StringType())]),
                ),
                T.StructField("region", T.StringType()),
            ]
        ),
    )
    write_delta(spark, extra, tbl, mode="append")
    df = read_delta(spark, tbl)
    assert {r.region for r in df.collect()} == {"eu", "sa"}
    # partitionValues keys and hive dirs use the PHYSICAL name
    snap = DeltaLog(tbl).snapshot(allow=delta_py.BATCH_READ_FEATURES)
    new = [a for p, a in snap.adds.items() if p.startswith("col-c5=sa/")]
    assert len(new) == 1
    assert new[0]["partitionValues"] == {"col-c5": "sa"}


def test_column_mapped_missing_column_appends_null(spark, tbl):
    _make_mapped_table(tbl)
    extra = spark.createDataFrame(
        [(9, "zed")],
        T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("name", T.StringType()),
            ]
        ),
    )
    write_delta(spark, extra, tbl, mode="append")
    rows = {r.id: r.addr for r in read_delta(spark, tbl).collect()}
    assert rows[9] is None


def test_column_mapped_strict_paths_refuse(spark, tbl):
    """Operations that cannot honor the mapping still refuse at the
    snapshot choke point (physical-name-blind callers pass no
    allow-set)."""
    _make_mapped_table(tbl)
    with pytest.raises(UnsupportedOperationError, match="columnMapping"):
        DeltaLog(tbl).snapshot()


def test_column_mapped_overwrite_and_replace_where(spark, tbl):
    """Round 7 write parity: plain overwrite and replaceWhere on a
    mapped table — survivors read back through the mapping, the
    rewrite lands under physical names, mapping metadata intact."""
    import pyarrow.parquet as pq

    _make_mapped_table(tbl)
    df = read_delta(spark, tbl)  # logical names
    write_delta(
        spark,
        df.filter("id >= 2"),
        tbl,
        mode="append",
        replace_where="id >= 2",
    )
    rows = {r.id: r.name for r in read_delta(spark, tbl).collect()}
    assert rows == {1: "ann", 2: "bob", 3: "cyd"}
    write_delta(
        spark, df.filter("id = 1"), tbl, mode="overwrite"
    )
    rows = {r.id: (r.name, r.addr.city) for r in read_delta(spark, tbl).collect()}
    assert rows == {1: ("ann", "rome")}
    snap = DeltaLog(tbl).snapshot(allow=delta_py.BATCH_READ_FEATURES)
    assert snap.column_mapping_mode == "name"
    for rel in snap.adds:
        names = pq.read_schema(os.path.join(tbl, rel)).names
        assert "col-c1" in names and "id" not in names


def test_column_mapped_merge_schema_assigns_fresh_ids(spark, tbl):
    """mergeSchema on a mapped table: the new column gets a fresh
    columnMapping.id past maxColumnId and a random col-<uuid>
    physical name; old rows surface NULL for it; the bumped
    maxColumnId is committed in the configuration."""
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    _make_mapped_table(tbl)
    extra = spark.createDataFrame(
        [(9, "zoe", 42.5)],
        T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("name", T.StringType()),
                T.StructField("score", T.DoubleType()),
            ]
        ),
    )
    write_delta(spark, extra, tbl, mode="append", merge_schema=True)
    snap = DeltaLog(tbl).snapshot(allow=delta_py.BATCH_READ_FEATURES)
    f = snap.schema["score"]
    assert f.metadata["delta.columnMapping.id"] == 6
    pname = f.metadata["delta.columnMapping.physicalName"]
    assert pname.startswith("col-") and len(pname) > 8
    assert snap.configuration["delta.columnMapping.maxColumnId"] == "6"
    rows = {r.id: r.score for r in read_delta(spark, tbl).collect()}
    assert rows == {1: None, 2: None, 3: None, 9: 42.5}
    # the new data file carries the random physical name, not "score"
    new_rels = [p for p in snap.adds if p != "part-0.parquet"]
    assert new_rels
    for rel in new_rels:
        names = pq.read_schema(os.path.join(tbl, rel)).names
        assert pname in names and "score" not in names


def test_column_mapped_overwrite_schema_remaps(spark, tbl):
    """overwriteSchema on a mapped table re-maps every column with
    fresh ids (old files are removed wholesale, so fresh physical
    names are safe); time travel to the pre-overwrite version still
    reads through the OLD mapping."""
    from pyspark.sql import types as T

    _make_mapped_table(tbl)
    repl = spark.createDataFrame(
        [(100, "x")],
        T.StructType(
            [
                T.StructField("k", T.LongType()),
                T.StructField("v", T.StringType()),
            ]
        ),
    )
    write_delta(
        spark, repl, tbl, mode="overwrite", overwrite_schema=True
    )
    snap = DeltaLog(tbl).snapshot(allow=delta_py.BATCH_READ_FEATURES)
    assert [f.name for f in snap.schema.fields] == ["k", "v"]
    ids = [
        f.metadata["delta.columnMapping.id"] for f in snap.schema.fields
    ]
    assert ids == [6, 7]
    assert snap.configuration["delta.columnMapping.maxColumnId"] == "7"
    assert {r.k for r in read_delta(spark, tbl).collect()} == {100}
    old = read_delta(spark, tbl, version=0)
    assert {r.id: r.name for r in old.collect()} == {
        1: "ann",
        2: "bob",
        3: "cyd",
    }


def test_column_mapped_optimize_where_translates_partitions(spark, tbl):
    """OPTIMIZE ... WHERE speaks logical partition names on a mapped
    table; the conjuncts translate to the physical partitionValues
    keys. A non-partition column still refuses with the LOGICAL
    names in the message."""
    from pyspark.sql import types as T

    from local_lakehouse_spark.sources.delta_py import compact

    _make_mapped_table(tbl, partitioned=True)
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField(
                "addr",
                T.StructType([T.StructField("city", T.StringType())]),
            ),
            T.StructField("region", T.StringType()),
        ]
    )
    for i in (10, 11):
        extra = spark.createDataFrame(
            [(i, f"n{i}", (f"c{i}",), "eu")], schema
        )
        write_delta(spark, extra.coalesce(1), tbl, mode="append")
    metrics = compact(spark, tbl, where="region = 'eu'", target_file_bytes=1 << 20)
    assert metrics["numFilesRemoved"] >= 2
    rows = {r.id for r in read_delta(spark, tbl).collect()}
    assert rows == {1, 2, 3, 10, 11}
    with pytest.raises(UnsupportedOperationError, match="region"):
        compact(spark, tbl, where="id = 1")


def test_column_mapped_stream_reader_translates(spark, tbl):
    """The pydelta stream reader (round 7) scans column-mapped files
    under physical names and relabels the Arrow batches to logical
    names — construction succeeds and the replayed batches carry the
    logical schema (full end-to-end stream covered in
    test_pydelta_source.py)."""
    from local_lakehouse_spark.sources.pydelta_source import (
        _PyDeltaStreamReader,
    )

    _make_mapped_table(tbl)
    schema = read_delta(spark, tbl).schema
    rdr = _PyDeltaStreamReader({"path": tbl}, schema)
    assert rdr._phys == {"id": "col-c1", "name": "col-c2", "addr": "col-c4"}
    parts = rdr.partitions({"version": -1}, {"version": 0})
    batches = [b for p in parts for b in rdr.read(p)]
    assert batches and batches[0].schema.names == ["id", "name", "addr"]
    assert (
        batches[0].column(2).type.field(0).name == "city"
    )  # nested rename

# ---------------------------------------------------------------------------
# delete_where — OUR writer producing deletion vectors (DELETE FROM)
# ---------------------------------------------------------------------------


def test_delete_where_drops_rows_without_rewrite(spark, tbl):
    from local_lakehouse_spark.sources.delta_py import delete_where

    _single_file_table(spark, tbl)
    before = {rel: a["size"] for rel, a in DeltaLog(tbl).snapshot().adds.items()}
    delete_where(spark, tbl, "id % 3 = 0")  # drops 0,3,6,9
    got = sorted(r.id for r in read_delta(spark, tbl).collect())
    assert got == [1, 2, 4, 5, 7, 8]
    snap = DeltaLog(tbl).snapshot(allow=BATCH_READ_FEATURES)
    # same files, same sizes — nothing was rewritten, only DVs added
    assert {rel: a["size"] for rel, a in snap.adds.items()} == before
    assert all(a.get("deletionVector") for a in snap.adds.values())
    proto = snap.protocol
    assert "deletionVectors" in (proto.get("readerFeatures") or [])


def test_delete_where_unions_with_existing_dv(spark, tbl):
    from local_lakehouse_spark.sources.delta_py import delete_where

    rel = _single_file_table(spark, tbl)
    _attach_dv(tbl, rel, [0, 1])  # foreign delete of 0,1
    delete_where(spark, tbl, "id >= 8 OR id = 1")  # ours: 1 (again), 8, 9
    got = sorted(r.id for r in read_delta(spark, tbl).collect())
    assert got == [2, 3, 4, 5, 6, 7]
    snap = DeltaLog(tbl).snapshot(allow=BATCH_READ_FEATURES)
    assert snap.adds[rel]["deletionVector"]["cardinality"] == 4


def test_delete_where_full_file_removes_the_add(spark, tbl):
    from local_lakehouse_spark.sources.delta_py import delete_where

    _single_file_table(spark, tbl)
    extra = spark.createDataFrame([(100, "x")], "id long, s string").coalesce(1)
    write_delta(spark, extra, tbl, mode="append")
    delete_where(spark, tbl, "id < 50")  # wipes the whole first file
    snap = DeltaLog(tbl).snapshot(allow=BATCH_READ_FEATURES)
    assert len(snap.adds) == 1  # fully-deleted file dropped, not DV'd
    assert not snap.dv_adds
    assert [r.id for r in read_delta(spark, tbl).collect()] == [100]


def test_delete_where_no_match_commits_nothing(spark, tbl):
    from local_lakehouse_spark.sources.delta_py import delete_where

    _single_file_table(spark, tbl)
    v = DeltaLog(tbl).snapshot().version
    out = delete_where(spark, tbl, "id > 1000")
    assert out.version == v  # no empty commit
    assert read_delta(spark, tbl).count() == 10


def test_delete_then_time_travel_and_restore(spark, tbl):
    from local_lakehouse_spark.sources.delta_py import delete_where

    _single_file_table(spark, tbl)
    v_pre = DeltaLog(tbl).snapshot().version
    delete_where(spark, tbl, "id < 5")
    assert read_delta(spark, tbl).count() == 5
    assert read_delta(spark, tbl, version=v_pre).count() == 10
    restore(spark, tbl, v_pre)
    assert read_delta(spark, tbl).count() == 10


def test_pydelta_table_delete_facade(spark, tbl):
    from local_lakehouse_spark.sources.delta_py import PyDeltaTable

    _single_file_table(spark, tbl)
    dt = PyDeltaTable(spark, tbl)
    dt.delete("id = 7")
    assert sorted(r.id for r in dt.toDF().collect()) == [
        0, 1, 2, 3, 4, 5, 6, 8, 9,
    ]
    ops = [r.operation for r in dt.history().collect()]
    assert ops[0] == "DELETE"


def test_table_changes_sees_dv_deletes(spark, tmp_path):
    """CDC needs no special DV handling: table_changes diffs two
    DV-aware SNAPSHOT reads, so rows a deletion vector removed
    between versions surface as `delete` changes automatically."""
    from local_lakehouse_spark.client import LakehouseClient
    from local_lakehouse_spark.models import Catalog, Schema
    from local_lakehouse_spark.sources.delta_py import delete_where

    client = LakehouseClient(
        metastore_path=str(tmp_path / "ms.json"), spark=spark
    )
    client.create_catalog(Catalog(name="unity"))
    client.create_schema(Schema(name="default", catalog_name="unity"))
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "id long, s string"
    ).coalesce(1)
    tbl_path = str(tmp_path / "t")
    write_delta(spark, df, tbl_path)
    client.register_as_table("unity", "default", "t", "DELTA", tbl_path)
    pre = DeltaLog(tbl_path).snapshot().version
    delete_where(spark, tbl_path, "id % 2 = 0")
    ch = client.table_changes("unity", "default", "t", from_version=pre)
    rows = sorted((r.id, r._change_type) for r in ch.collect())
    assert rows == [(i, "delete") for i in (0, 2, 4, 6, 8)]


# ---------------------------------------------------------------------------
# update_where — DV-enabled UPDATE (mark deleted + append rewrites)
# ---------------------------------------------------------------------------


def test_update_where_rewrites_only_matched_rows(spark, tbl):
    from local_lakehouse_spark.sources.delta_py import update_where

    _single_file_table(spark, tbl)
    before = set(DeltaLog(tbl).snapshot().adds)
    update_where(spark, tbl, "id >= 8", {"s": "concat(s, '!')"})
    rows = {r.id: r.s for r in read_delta(spark, tbl).collect()}
    assert rows[8] == "i!" and rows[9] == "j!"
    assert rows[0] == "a" and len(rows) == 10
    snap = DeltaLog(tbl).snapshot(allow=BATCH_READ_FEATURES)
    # original file still present (DV'd), plus >=1 appended rewrite file
    assert before < set(snap.adds)
    assert all(
        snap.adds[rel].get("deletionVector") for rel in before
    )


def test_update_where_never_resurrects_deleted_rows(spark, tbl):
    from local_lakehouse_spark.sources.delta_py import (
        delete_where,
        update_where,
    )

    _single_file_table(spark, tbl)
    delete_where(spark, tbl, "id = 9")
    # predicate also matches the deleted row 9 in the RAW file — the
    # rewrite must come from the LIVE read, so 9 stays gone
    update_where(spark, tbl, "id >= 8", {"s": "'UP'"})
    rows = {r.id: r.s for r in read_delta(spark, tbl).collect()}
    assert 9 not in rows
    assert rows[8] == "UP" and len(rows) == 9


def test_update_where_is_idempotent_with_guarded_predicate(spark, tbl):
    from local_lakehouse_spark.sources.delta_py import update_where

    _single_file_table(spark, tbl)
    pred = "id < 3 AND s <> 'X'"
    update_where(spark, tbl, pred, {"s": "'X'"})
    v1 = DeltaLog(tbl).snapshot(allow=BATCH_READ_FEATURES).version
    out = update_where(spark, tbl, pred, {"s": "'X'"})
    assert out.version == v1  # second run: no live match, no commit
    rows = {r.id: r.s for r in read_delta(spark, tbl).collect()}
    assert [rows[i] for i in range(4)] == ["X", "X", "X", "d"]


def test_update_where_partitioned_table(spark, tbl):
    from local_lakehouse_spark.sources.delta_py import update_where

    df = spark.createDataFrame(
        [(i, "even" if i % 2 == 0 else "odd", i * 10) for i in range(10)],
        "id long, par string, v long",
    )
    write_delta(spark, df, tbl, partition_by=["par"])
    update_where(spark, tbl, "id = 4", {"v": "v + 1"})
    rows = {r.id: (r.par, r.v) for r in read_delta(spark, tbl).collect()}
    assert rows[4] == ("even", 41)  # partition column survives the append
    assert rows[6] == ("even", 60)
    assert len(rows) == 10


def test_update_where_unknown_column_raises(spark, tbl):
    from local_lakehouse_spark.sources.delta_py import update_where

    _single_file_table(spark, tbl)
    with pytest.raises(ValueError, match="not in the table"):
        update_where(spark, tbl, "id = 1", {"nope": "1"})


def test_pydelta_table_update_facade(spark, tbl):
    from local_lakehouse_spark.sources.delta_py import PyDeltaTable

    _single_file_table(spark, tbl)
    dt = PyDeltaTable(spark, tbl)
    dt.update("id = 0", {"s": "'zero'"})
    assert {r.s for r in dt.toDF().filter("id = 0").collect()} == {"zero"}
    assert [r.operation for r in dt.history().collect()][0] == "UPDATE"


def test_vacuum_reclaims_superseded_dv_files(spark, tbl):
    """A second DELETE supersedes the first DELETE's DV file (union
    bitmap, new uuid); vacuum keeps the live DV and reclaims the
    orphan — while never touching live data or live DVs."""
    from local_lakehouse_spark.sources.delta_py import (
        delete_where,
        vacuum,
    )

    _single_file_table(spark, tbl)
    delete_where(spark, tbl, "id = 0")
    delete_where(spark, tbl, "id = 1")  # union DV, new .bin file
    bins = [
        n for n in os.listdir(tbl) if n.startswith("deletion_vector_")
    ]
    assert len(bins) == 2
    gone = vacuum(tbl, retain_hours=0.0)
    assert len(gone) == 1 and gone[0].startswith("deletion_vector_")
    # reads stay correct: the live DV survived
    assert sorted(r.id for r in read_delta(spark, tbl).collect()) == list(
        range(2, 10)
    )


# ---------------------------------------------------------------------------
# purge — REORG TABLE ... APPLY (PURGE): materialize deletion vectors
# ---------------------------------------------------------------------------


def _two_file_table(spark, tbl):
    """Two data files: ids 0-9 ('a'..'j') and ids 10-19 ('z')."""
    df1 = spark.createDataFrame(
        [(i, chr(ord("a") + i)) for i in range(10)], "id long, s string"
    ).coalesce(1)
    write_delta(spark, df1, tbl)
    df2 = spark.createDataFrame(
        [(i, "z") for i in range(10, 20)], "id long, s string"
    ).coalesce(1)
    write_delta(spark, df2, tbl, mode="append")


def test_purge_rewrites_only_dv_files(spark, tbl):
    from local_lakehouse_spark.sources.delta_py import delete_where, purge

    _two_file_table(spark, tbl)
    delete_where(spark, tbl, "id IN (1, 3)")  # DVs only the first file
    pre = DeltaLog(tbl).snapshot(allow=BATCH_READ_FEATURES)
    untouched = {
        rel: a["size"]
        for rel, a in pre.adds.items()
        if not a.get("deletionVector")
    }
    assert untouched and pre.dv_adds
    snap = purge(spark, tbl)
    assert not snap.dv_adds  # every DV materialized away
    for rel, size in untouched.items():
        assert snap.adds[rel]["size"] == size  # DV-free file untouched
    assert set(pre.dv_adds) & set(snap.adds) == set()  # purged replaced
    assert sorted(r.id for r in read_delta(spark, tbl).collect()) == [
        i for i in range(20) if i not in (1, 3)
    ]
    hist = DeltaLog(tbl).history()
    assert hist[0]["operation"] == "REORG"


def test_purge_without_dvs_is_a_noop(spark, tbl):
    from local_lakehouse_spark.sources.delta_py import purge

    _single_file_table(spark, tbl)
    v = DeltaLog(tbl).snapshot().version
    snap = purge(spark, tbl)
    assert snap.version == v  # no commit


def test_purge_commit_is_invisible_to_cdc(spark, tmp_path):
    """REORG is dataChange=false: the logical row set is identical, so
    the change feed between pre-purge and post-purge is empty."""
    from local_lakehouse_spark.client import LakehouseClient
    from local_lakehouse_spark.models import Catalog, Schema
    from local_lakehouse_spark.sources.delta_py import delete_where, purge

    client = LakehouseClient(
        metastore_path=str(tmp_path / "ms.json"), spark=spark
    )
    client.create_catalog(Catalog(name="unity"))
    client.create_schema(Schema(name="default", catalog_name="unity"))
    tbl_path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "id long, s string"
    ).coalesce(1)
    write_delta(spark, df, tbl_path)
    client.register_as_table("unity", "default", "t", "DELTA", tbl_path)
    delete_where(spark, tbl_path, "id % 2 = 0")
    pre = DeltaLog(tbl_path).snapshot(allow=BATCH_READ_FEATURES)
    snap = purge(spark, tbl_path)
    for a in snap.adds.values():  # every purge-written add is no-change
        if a["path"] not in pre.adds:
            assert a.get("dataChange") is False
    ch = client.table_changes(
        "unity", "default", "t", from_version=pre.version
    )
    assert ch.count() == 0


def test_purge_partitioned_table(spark, tbl):
    from local_lakehouse_spark.sources.delta_py import delete_where, purge

    df = spark.createDataFrame(
        [(i, "even" if i % 2 == 0 else "odd", i * 10) for i in range(10)],
        "id long, par string, v long",
    )
    write_delta(spark, df, tbl, partition_by=["par"])
    delete_where(spark, tbl, "id IN (2, 3)")
    snap = purge(spark, tbl)
    assert not snap.dv_adds
    for a in snap.adds.values():
        assert a["partitionValues"].get("par") in ("even", "odd")
    rows = {r.id: (r.par, r.v) for r in read_delta(spark, tbl).collect()}
    assert set(rows) == {0, 1, 4, 5, 6, 7, 8, 9}
    assert rows[4] == ("even", 40)


def test_purge_drops_fully_deleted_file(spark, tbl):
    """A foreign full-cover DV (every row deleted) purges to nothing:
    the file is removed and NO empty replacement is added."""
    from local_lakehouse_spark.sources.delta_py import purge

    rel = _single_file_table(spark, tbl)
    _attach_dv(tbl, rel, list(range(10)))
    snap = purge(spark, tbl)
    assert snap.adds == {}
    assert read_delta(spark, tbl).count() == 0


def test_purge_then_vacuum_reclaims_data_and_dv_files(spark, tbl):
    from local_lakehouse_spark.sources.delta_py import (
        delete_where,
        purge,
        vacuum,
    )

    rel = _single_file_table(spark, tbl)
    delete_where(spark, tbl, "id < 5")
    purge(spark, tbl)
    gone = sorted(vacuum(tbl, retain_hours=0.0))
    assert rel in gone  # superseded data file reclaimed
    assert any(g.startswith("deletion_vector_") for g in gone)
    assert sorted(r.id for r in read_delta(spark, tbl).collect()) == [
        5, 6, 7, 8, 9,
    ]


def test_sql_reorg_purge_route(spark, tmp_path):
    from local_lakehouse_spark.client import LakehouseClient
    from local_lakehouse_spark.models import Catalog, Schema
    from local_lakehouse_spark.sources.delta_py import delete_where

    client = LakehouseClient(
        metastore_path=str(tmp_path / "ms.json"), spark=spark
    )
    client.create_catalog(Catalog(name="unity"))
    client.create_schema(Schema(name="default", catalog_name="unity"))
    tbl_path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "id long, s string"
    ).coalesce(1)
    write_delta(spark, df, tbl_path)
    client.register_as_table("unity", "default", "t", "DELTA", tbl_path)
    delete_where(spark, tbl_path, "id > 7")
    out = client.sql("REORG TABLE unity.default.t APPLY (PURGE)")
    assert out.collect()[0].files_purged == 1
    assert not DeltaLog(tbl_path).snapshot(
        allow=BATCH_READ_FEATURES
    ).dv_adds
    # second run: nothing left to purge
    out = client.sql("REORG TABLE unity.default.t APPLY (PURGE)")
    assert out.collect()[0].files_purged == 0


def test_sql_delete_update_take_dv_path_on_delta(spark, tmp_path):
    """client.sql DELETE/UPDATE on a DELTA table must commit deletion
    vectors (zero rewrites), not a copy-on-write rewrite."""
    from local_lakehouse_spark.client import LakehouseClient
    from local_lakehouse_spark.models import Catalog, Schema

    client = LakehouseClient(
        metastore_path=str(tmp_path / "ms.json"), spark=spark
    )
    client.create_catalog(Catalog(name="unity"))
    client.create_schema(Schema(name="default", catalog_name="unity"))
    tbl_path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i * 10) for i in range(10)], "id long, v long"
    ).coalesce(1)
    write_delta(spark, df, tbl_path)
    client.register_as_table("unity", "default", "t", "DELTA", tbl_path)
    pre = {
        rel: a["size"] for rel, a in DeltaLog(tbl_path).snapshot().adds.items()
    }
    out = client.sql("DELETE FROM unity.default.t WHERE id >= 8")
    assert out.collect()[0].rows_affected == 2
    out = client.sql("UPDATE unity.default.t SET v = v + 1 WHERE id = 0")
    assert out.collect()[0].rows_affected == 1
    snap = DeltaLog(tbl_path).snapshot(allow=BATCH_READ_FEATURES)
    assert snap.dv_adds  # DV commits, not rewrites
    for rel, size in pre.items():
        assert snap.adds[rel]["size"] == size  # original file untouched
    rows = {r.id: r.v for r in read_delta(spark, tbl_path).collect()}
    assert rows[0] == 1 and 8 not in rows and 9 not in rows
    assert len(rows) == 8
    ops = [h["operation"] for h in DeltaLog(tbl_path).history()[:2]]
    assert ops == ["UPDATE", "DELETE"]


# ---------------------------------------------------------------------------
# Property-based codec round-trips (hypothesis)
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=2**40),
        max_size=500,
    )
)
def test_roaring_roundtrip_property(indices):
    enc = delta_dv.encode_roaring_bitmap_array(indices)
    assert list(delta_dv.decode_roaring_bitmap_array(enc)) == sorted(
        set(indices)
    )


@settings(max_examples=100, deadline=None)
@given(st.binary(min_size=0, max_size=64).filter(lambda b: len(b) % 4 == 0))
def test_z85_roundtrip_property(data):
    assert delta_dv.z85_decode(delta_dv.z85_encode(data)) == data


@settings(max_examples=30, deadline=None)
@given(
    st.sets(
        st.integers(min_value=0, max_value=200_000), max_size=5000
    )
)
def test_dense_roaring_roundtrip_property(idx_set):
    """Denser sets cross the array→bitset container boundary."""
    enc = delta_dv.encode_roaring_bitmap_array(idx_set)
    assert list(delta_dv.decode_roaring_bitmap_array(enc)) == sorted(idx_set)


def test_column_mapped_dv_delete_and_update(spark, tbl):
    """Round 7: the DV DML lifecycle works on column-mapped tables —
    the predicate scan projects physical -> logical before binding,
    stats pruning translates names, DELETE grows bitmaps (no file
    rewrite), and UPDATE post-images are renamed back to physical."""
    import pyarrow.parquet as pq

    from local_lakehouse_spark.sources.delta_py import (
        delete_where,
        update_where,
    )

    _make_mapped_table(tbl)
    snap = delete_where(spark, tbl, "id = 2")
    assert snap.column_mapping_mode == "name"
    assert snap.dv_adds, "partial-file delete must leave a DV"
    rows = {r.id: r.name for r in read_delta(spark, tbl).collect()}
    assert rows == {1: "ann", 3: "cyd"}
    # original data file untouched (bitmap-only commit)
    assert "part-0.parquet" in snap.adds
    update_where(spark, tbl, "id = 3", {"name": "'CYD'"})
    rows = {r.id: (r.name, r.addr.city) for r in read_delta(spark, tbl).collect()}
    assert rows == {1: ("ann", "rome"), 3: ("CYD", "kyiv")}
    # the post-image file is physical-named
    snap2 = DeltaLog(tbl).snapshot(allow=delta_py.BATCH_READ_FEATURES)
    new_rels = [p for p in snap2.adds if p != "part-0.parquet"]
    assert new_rels
    for rel in new_rels:
        names = pq.read_schema(os.path.join(tbl, rel)).names
        assert "col-c1" in names and "id" not in names


def test_column_mapped_purge_and_compact(spark, tbl):
    import pyarrow.parquet as pq

    from local_lakehouse_spark.sources.delta_py import (
        compact,
        delete_where,
        purge,
    )

    _make_mapped_table(tbl)
    delete_where(spark, tbl, "id = 2")
    snap = purge(spark, tbl)
    assert not snap.dv_adds, "purge must materialize every DV"
    rows = {r.id for r in read_delta(spark, tbl).collect()}
    assert rows == {1, 3}
    for rel in snap.adds:
        names = pq.read_schema(os.path.join(tbl, rel)).names
        assert "col-c1" in names and "id" not in names
    # several tiny appends, then a physical->physical bin-pack
    from pyspark.sql import types as T

    for i in (10, 11, 12):
        extra = spark.createDataFrame(
            [(i, f"n{i}")],
            T.StructType(
                [
                    T.StructField("id", T.LongType()),
                    T.StructField("name", T.StringType()),
                ]
            ),
        )
        write_delta(spark, extra.coalesce(1), tbl, mode="append")
    metrics = compact(spark, tbl, target_file_bytes=1 << 20)
    assert metrics["numFilesRemoved"] >= 2
    rows = {r.id for r in read_delta(spark, tbl).collect()}
    assert rows == {1, 3, 10, 11, 12}
    from local_lakehouse_spark.exceptions import UnsupportedOperationError

    with pytest.raises(UnsupportedOperationError, match="WHERE"):
        compact(spark, tbl, where="id = 1")


def test_column_mapped_dv_merge(spark, tbl):
    """DV MERGE machinery end-to-end on a mapped table: positional
    read surfaces logical names, the change set deletes one row and
    appends its post-image plus an insert, all renamed back to
    physical on write."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from local_lakehouse_spark.sources.delta_py import (
        apply_row_changes,
        read_delta_with_positions,
    )

    _make_mapped_table(tbl)
    snap, target = read_delta_with_positions(spark, tbl)
    assert target.columns == ["id", "name", "addr", "__llh_fn", "__llh_ri"]
    dead = target.filter("id = 1").select(
        F.col("__llh_fn").alias("file_name"),
        F.col("__llh_ri").alias("row_index"),
    )
    new_rows = spark.createDataFrame(
        [(1, "ANN", ("roma",)), (9, "zoe", ("lund",))],
        T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("name", T.StringType()),
                T.StructField(
                    "addr",
                    T.StructType([T.StructField("city", T.StringType())]),
                ),
            ]
        ),
    )
    apply_row_changes(spark, tbl, snap, dead, new_rows, "MERGE")
    rows = {r.id: (r.name, r.addr.city) for r in read_delta(spark, tbl).collect()}
    assert rows == {
        1: ("ANN", "roma"),
        2: ("bob", "oslo"),
        3: ("cyd", "kyiv"),
        9: ("zoe", "lund"),
    }


def test_column_mapped_cdc_fast_path(spark, unity, tbl):
    """table_changes' append-only log-replay fast path reads the
    appended files DIRECTLY — on a mapped table those files are
    physical-named, so the fast path must cast-rename like
    read_delta (binding the logical schema raw would return silent
    NULLs). The keyed/keyless diff path gets mapping for free via
    read_delta."""
    schema = _make_mapped_table(tbl)
    unity.register_as_table(
        "unity", "default", "cmcdc", "delta", f"file://{tbl}"
    )
    extra = spark.createDataFrame(
        [(4, "dee", ("lima",))],
        T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("name", T.StringType()),
                T.StructField(
                    "addr",
                    T.StructType([T.StructField("city", T.StringType())]),
                ),
            ]
        ),
    )
    write_delta(spark, extra.coalesce(1), tbl, mode="append")
    ch = unity.table_changes("unity", "default", "cmcdc", 0)
    rows = [(r.id, r.name, r.addr.city, r._change_type) for r in ch.collect()]
    assert rows == [(4, "dee", "lima", "insert")]


def test_create_column_mapped_table_natively(spark, tbl):
    """write_delta(column_mapping=True) at CREATE: every field
    (nested included) gets a fresh columnMapping.id + col-<uuid>
    physical name, partition dirs use the physical name, data files
    are physical-named, and the whole read/DML surface translates."""
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from local_lakehouse_spark.sources.delta_py import delete_where

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField(
                "addr",
                T.StructType([T.StructField("city", T.StringType())]),
            ),
            T.StructField("region", T.StringType()),
        ]
    )
    df = spark.createDataFrame(
        [
            (1, "ann", ("rome",), "eu"),
            (2, "bob", ("oslo",), "eu"),
            (3, "cyd", ("lima",), "sa"),
        ],
        schema,
    )
    write_delta(
        spark, df, tbl, partition_by=["region"], column_mapping=True
    )
    snap = DeltaLog(tbl).snapshot(allow=delta_py.BATCH_READ_FEATURES)
    assert snap.column_mapping_mode == "name"
    assert snap.configuration["delta.columnMapping.maxColumnId"] == "5"
    phys = delta_py._physical_names(snap.schema)
    assert all(p.startswith("col-") for p in phys.values())
    # nested struct field carries its own mapping metadata
    inner = snap.schema["addr"].dataType.fields[0]
    assert inner.metadata["delta.columnMapping.physicalName"].startswith(
        "col-"
    )
    # hive dirs + footers are physical-named
    assert snap.partition_columns == [phys["region"]]
    for rel in snap.adds:
        assert rel.startswith(f"{phys['region']}=")
        names = pq.read_schema(os.path.join(tbl, rel)).names
        assert phys["id"] in names and "id" not in names
    rows = {r.id: (r.name, r.addr.city, r.region) for r in read_delta(spark, tbl).collect()}
    assert rows == {
        1: ("ann", "rome", "eu"),
        2: ("bob", "oslo", "eu"),
        3: ("cyd", "lima", "sa"),
    }
    delete_where(spark, tbl, "id = 2")
    assert {r.id for r in read_delta(spark, tbl).collect()} == {1, 3}
    with pytest.raises(UnsupportedOperationError, match="CREATE"):
        write_delta(
            spark, df, tbl, mode="append", column_mapping=True
        )


# ---------------------------------------------------------------------------
# Column mapping mode=id (round 8): binding by parquet footer field id
# ---------------------------------------------------------------------------


def _make_id_mapped_table(tbl):
    """Hand-build what a FOREIGN id-mode writer produces: parquet
    whose footer column NAMES match neither the logical nor the
    physical names, but whose footer FIELD IDS match the schema's
    delta.columnMapping.id — the binding the id-mode protocol
    mandates. A physical-name-only reader returns silent NULLs here
    (the pre-round-8 gap)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = T.StructType(
        [
            _mapped_field("id", T.LongType(), 1, "col-p1"),
            _mapped_field("name", T.StringType(), 2, "col-p2"),
        ]
    )
    os.makedirs(tbl, exist_ok=True)
    foreign = pa.table(
        {
            "k": pa.array([1, 2, 3], pa.int64()),
            "v": pa.array(["ann", "bob", "cyd"]),
        },
        schema=pa.schema(
            [
                pa.field(
                    "k", pa.int64(),
                    metadata={b"PARQUET:field_id": b"1"},
                ),
                pa.field(
                    "v", pa.string(),
                    metadata={b"PARQUET:field_id": b"2"},
                ),
            ]
        ),
    )
    rel = "part-0.parquet"
    pq.write_table(foreign, os.path.join(tbl, rel))
    log = DeltaLog(tbl)
    log.commit(
        0,
        [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {
                "metaData": {
                    "id": "id-mapped-test",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema.json(),
                    "partitionColumns": [],
                    "configuration": {
                        "delta.columnMapping.mode": "id",
                        "delta.columnMapping.maxColumnId": "2",
                    },
                    "createdTime": 0,
                }
            },
            delta_py._add_action(tbl, rel, {}),
        ],
    )
    return schema


def test_id_mode_read_binds_by_field_id(spark, tbl):
    """read_delta on an id-mode table with MISMATCHED footer names:
    columns resolve by footer field id (Spark's native
    parquet.field.id scan metadata), not by name."""
    _make_id_mapped_table(tbl)
    df = read_delta(spark, tbl)
    assert df.columns == ["id", "name"]
    rows = {r.id: r.name for r in df.collect()}
    assert rows == {1: "ann", 2: "bob", 3: "cyd"}


def test_id_mode_pydelta_batch_read(spark, tbl):
    """The registered pydelta DataSource binds id-mode files per file
    by footer field id in the Arrow batch builder."""
    from local_lakehouse_spark.sources import pydelta_source

    pydelta_source.register(spark)
    _make_id_mapped_table(tbl)
    df = spark.read.format("pydelta").load(tbl)
    rows = {r.id: r.name for r in df.collect()}
    assert rows == {1: "ann", 2: "bob", 3: "cyd"}


def test_id_mode_append_writes_field_ids_and_reads_back(spark, tbl):
    """Our append to a foreign id-mode table writes footer field ids
    (the id-mode writer obligation — foreign readers resolve by id),
    and the mixed table reads back whole on both batch paths."""
    import pyarrow.parquet as pq

    from local_lakehouse_spark.sources import pydelta_source

    _make_id_mapped_table(tbl)
    extra = spark.createDataFrame([(4, "dee")], "id long, name string")
    write_delta(spark, extra.coalesce(1), tbl, mode="append")
    snap = DeltaLog(tbl).snapshot(allow=BATCH_READ_FEATURES)
    ours = [r for r in snap.adds if r != "part-0.parquet"]
    assert ours
    for rel in ours:
        sch = pq.read_schema(os.path.join(tbl, rel))
        ids = {
            f.name: (f.metadata or {}).get(b"PARQUET:field_id")
            for f in sch
        }
        # physical names AND footer field ids, like delta-spark
        assert ids == {"col-p1": b"1", "col-p2": b"2"}
    want = {1: "ann", 2: "bob", 3: "cyd", 4: "dee"}
    assert {
        r.id: r.name for r in read_delta(spark, tbl).collect()
    } == want
    pydelta_source.register(spark)
    assert {
        r.id: r.name
        for r in spark.read.format("pydelta").load(tbl).collect()
    } == want


def test_id_mode_arrow_fallback_to_physical_name(spark, tbl):
    """Arrow-path physical-name FALLBACK: a file in an id-mode table
    whose footer lacks field ids but carries the physical names still
    reads correctly through pydelta (binding falls back per file)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from local_lakehouse_spark.sources import pydelta_source

    _make_id_mapped_table(tbl)
    legacy = pa.table(
        {
            "col-p1": pa.array([9], pa.int64()),
            "col-p2": pa.array(["zoe"]),
        }
    )
    rel = "part-legacy.parquet"
    pq.write_table(legacy, os.path.join(tbl, rel))
    log = DeltaLog(tbl)
    log.commit(1, [delta_py._add_action(tbl, rel, {})])
    pydelta_source.register(spark)
    df = spark.read.format("pydelta").load(tbl)
    rows = {r.id: r.name for r in df.collect()}
    assert rows == {1: "ann", 2: "bob", 3: "cyd", 9: "zoe"}


# ---------------------------------------------------------------------------
# One planner, two executors: the JVM scan (read_delta and its
# position-bearing twin) and the Arrow per-file reader (pydelta) must
# return the same table, and the DV join must see only DV files.
# ---------------------------------------------------------------------------


def _two_write_table(spark, tbl, partitioned, mapped, dv):
    """12 rows in two appends (one file per partition per append);
    ``dv`` deletes one row through a deletion vector."""
    for i in range(2):
        df = spark.createDataFrame(
            [(i * 10 + j, f"k{j % 2}", f"s{j}") for j in range(6)],
            "id long, k string, s string",
        ).coalesce(1)
        delta_py.write_delta(
            spark,
            df,
            tbl,
            mode="append" if i else "overwrite",
            partition_by=["k"] if partitioned else None,
            column_mapping=mapped and i == 0,
        )
    if dv:
        delta_py.delete_where(spark, tbl, "id = 1")


@pytest.mark.parametrize(
    "partitioned,dv,mapping",
    [
        pytest.param(
            p, d, m,
            id=f"{'part' if p else 'flat'}-{'dv' if d else 'nodv'}-{m}",
        )
        for p in (False, True)
        for d in (False, True)
        for m in ("none", "name")
    ]
    + [pytest.param(False, False, "id", id="flat-nodv-id")],
)
def test_read_entry_points_agree(spark, tbl, partitioned, dv, mapping):
    from local_lakehouse_spark.sources import pydelta_source
    from local_lakehouse_spark.sources.delta_py import read_delta_with_positions

    if mapping == "id":
        _make_id_mapped_table(tbl)
        n = 3
    else:
        _two_write_table(spark, tbl, partitioned, mapping == "name", dv)
        n = 11 if dv else 12
    pydelta_source.register(spark)
    jvm = read_delta(spark, tbl)
    _snap, positioned = read_delta_with_positions(spark, tbl)
    arrow = spark.read.format("pydelta").load(tbl)
    with_pos = positioned.drop("__llh_fn", "__llh_ri")
    assert jvm.columns == with_pos.columns == arrow.columns
    rows = sorted(jvm.collect())
    assert len(rows) == n
    assert sorted(with_pos.collect()) == rows
    assert sorted(arrow.collect()) == rows
    pairs = positioned.select("__llh_fn", "__llh_ri").collect()
    assert len(set(pairs)) == len(pairs) == n


# two rows per file: 40 files, above
# spark.sql.sources.parallelPartitionDiscovery.threshold (32), where a
# listed read runs a distributed listing job
_MANY_ROWS = 80


def _listed_scan(spark, snap, base, actions, extra_fields=()):
    """The scan _file_scan replaced: Spark's DataFrameReader over the
    same files, schema and basePath, listing every file itself."""
    schema = T.StructType(list(snap.scan_schema.fields) + list(extra_fields))
    reader = spark.read.schema(schema)
    if snap.partition_columns:
        reader = reader.option("basePath", base)
    return reader.parquet(
        *sorted(os.path.join(base, unquote(a["path"])) for a in actions)
    )


def _small_files(spark, rows_per_file, write):
    spark.conf.set("spark.sql.files.maxRecordsPerFile", str(rows_per_file))
    try:
        write()
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")


@pytest.fixture(scope="module")
def many_file_table(spark, tmp_path_factory):
    """(partitioned, mapping) -> a table of two-row files; its latest
    version deletes ``id = 1`` through a deletion vector and
    the version before it has none. The partition value ``a:b c``
    needs escaping in a directory name and again in the log."""
    built = {}

    def get(partitioned, mapping):
        if (partitioned, mapping) not in built:
            tbl = str(tmp_path_factory.mktemp("many") / "t")
            df = spark.createDataFrame(
                [(i, "a:b c" if i % 2 else "x", f"s{i}")
                 for i in range(_MANY_ROWS)],
                "id long, k string, s string",
            )
            _small_files(spark, 2, lambda: delta_py.write_delta(
                spark, df, tbl,
                partition_by=["k"] if partitioned else None,
                column_mapping=mapping != "none",
            ))
            if mapping == "id":  # the written footers carry field ids
                log = DeltaLog(tbl)
                snap = log.snapshot(allow=BATCH_READ_FEATURES)
                conf = {**snap.configuration, "delta.columnMapping.mode": "id"}
                meta = {**snap.metadata, "configuration": conf}
                log.commit(snap.version + 1, [{"metaData": meta}])
            delta_py.delete_where(spark, tbl, "id = 1")
            built[(partitioned, mapping)] = tbl
        return built[(partitioned, mapping)]

    return get


@pytest.mark.parametrize("mapping", ["none", "name", "id"])
@pytest.mark.parametrize("dv", [False, True], ids=["nodv", "dv"])
@pytest.mark.parametrize("partitioned", [False, True], ids=["flat", "part"])
def test_log_file_index_matches_listed_scan(
    spark, many_file_table, monkeypatch, partitioned, dv, mapping
):
    """_file_scan, seeded from the log, plans and returns what Spark's
    own listed read of the same files does: rows, columns, file names
    and row positions, and the optimized plan."""
    tbl = many_file_table(partitioned, mapping)
    version = DeltaLog(tbl).snapshot(allow=BATCH_READ_FEATURES).version
    version -= 0 if dv else 1
    snap = DeltaLog(tbl).snapshot(version, allow=BATCH_READ_FEATURES)
    assert len(snap.adds) > 32 and bool(snap.dv_adds) == dv

    def positions(scan):
        return sorted(
            scan.select(
                "_metadata.file_name", "_metadata.row_index", *scan.columns
            ).collect()
        )

    def plan(df):
        text = df._jdf.queryExecution().optimizedPlan().toString()
        return re.sub(r"#\d+", "#", re.sub(r"Location: [^,]*", "", text))

    scans, reads = [], []
    for build in (delta_py._file_scan, _listed_scan):
        monkeypatch.setattr(delta_py, "_file_scan", build)
        scans.append(build(spark, snap, tbl, snap.adds.values()))
        reads.append(read_delta(spark, tbl, version=version))
    assert scans[0].columns == scans[1].columns
    assert positions(scans[0]) == positions(scans[1])
    assert reads[0].columns == reads[1].columns == ["id", "k", "s"]
    rows = sorted(reads[0].collect())
    assert len(rows) == _MANY_ROWS - dv
    assert rows == sorted(reads[1].collect())
    assert plan(reads[0]) == plan(reads[1])


def test_catalog_delta_read_launches_no_job(unity, spark, tmp_path):
    """Building a catalog read of a 40-file Delta table runs no Spark
    job (the log stands in for the listing); a cached read refreshed
    after a DELETE keeps only live rows; the change feed scans actions
    that carry no ``size``."""
    from local_lakehouse_spark import FileType

    df = spark.createDataFrame([(i, i % 3) for i in range(40)], "id long, g long")
    d = str(tmp_path / "d")
    _small_files(spark, 1, lambda: unity.create_as_table(
        df, "unity", "default", "d", file_type=FileType.DELTA, location=d))
    assert len(DeltaLog(d).snapshot().adds) == 40
    sc = spark.sparkContext
    sc.setJobGroup("plan-only", "build the DataFrame")
    q = unity.sql("SELECT g, count(*) AS n FROM unity.default.d GROUP BY g")
    sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("plan-only") == []
    assert sorted(q.collect()) == [(0, 14), (1, 13), (2, 13)]

    unity.sql("DELETE FROM unity.default.d WHERE id < 10")
    live = unity.sql("SELECT id FROM unity.default.d").cache()
    assert live.count() == 30
    spark.catalog.refreshByPath(d)
    assert sorted(r.id for r in live.collect()) == list(range(10, 40))
    live.unpersist()

    cdf = str(tmp_path / "cdf")
    delta_py.write_delta(spark, df.limit(4).coalesce(1), cdf)
    log0 = os.path.join(cdf, "_delta_log", f"{0:020d}.json")
    with open(log0) as f:
        acts = [json.loads(ln) for ln in f if ln.strip()]
    for a in acts:
        a.get("add", {}).pop("size", None)
    with open(log0, "w") as f:
        f.write("".join(json.dumps(a) + "\n" for a in acts))
    delta_py.set_properties(cdf, {"delta.enableChangeDataFeed": "true"})
    delta_py.write_delta(spark, df.limit(1), cdf, mode="overwrite")
    feed = delta_py.read_change_feed(spark, cdf, 2, 2)
    assert sorted((r.id, r._change_type) for r in feed.collect()) == [
        (0, "delete"), (0, "insert"), (1, "delete"), (2, "delete"), (3, "delete"),
    ]


def test_catalog_parquet_read_launches_no_job(unity, spark, tmp_path):
    """Building a catalog read of a 40-file partitioned PARQUET table
    runs no Spark job: the catalog columns stand in for footer
    inference."""
    from local_lakehouse_spark import FileType

    df = spark.createDataFrame([(i, i % 3) for i in range(40)], "id long, g long")
    p = str(tmp_path / "p")
    _small_files(spark, 1, lambda: unity.create_as_table(
        df, "unity", "default", "p", file_type=FileType.PARQUET, location=p,
        partition_cols=["g"]))
    assert sum(
        f.endswith(".parquet") for _, _, fs in os.walk(p) for f in fs
    ) == 40
    sc = spark.sparkContext
    sc.setJobGroup("plan-only", "build the DataFrame")
    q = unity.sql("SELECT g, count(*) AS n FROM unity.default.p GROUP BY g")
    sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("plan-only") == []
    assert sorted(q.collect()) == [(0, 14), (1, 13), (2, 13)]


def _jobs_and_scans(spark, group, fn):
    """Run ``fn`` under job group ``group``; return its Spark job count
    and the file scans its SQL executions ran, as (execution id, scan
    node) pairs: a scan node counts in an execution only when its
    "number of files read" was reported there, so a cached relation
    read again is not a scan."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList(max(0, store.executionsCount() - 50), 50)
    scans = set()
    for k in range(execs.size()):
        e = execs.apply(k)
        if e.description() != group:
            continue
        values = store.executionMetrics(e.executionId())
        for j in range(e.metrics().size()):
            m = e.metrics().apply(j)
            if m.name() == "number of files read" and values.get(
                m.accumulatorId()
            ).isDefined():
                scans.add((e.executionId(), m.accumulatorId()))
    return len(sc.statusTracker().getJobIdsForGroup(group)), scans


def test_dv_dml_and_merge_work_once(unity, spark, tmp_path):
    """Row-level DML on a small DELTA table stays within its job
    budget: a DV DELETE runs the one hit scan plus the bitmap gather
    (2 jobs; 4-5 while a count scan and a Python worker built the
    bitmaps), and an upsert MERGE reads the target once (10 jobs, one
    scan; 12 jobs and four scans while the ambiguity check and each
    write re-ran the join)."""
    from local_lakehouse_spark import FileType

    df = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(20)], "id long, g long, v double"
    ).repartition(4)
    unity.create_as_table(
        df, "unity", "default", "w", file_type=FileType.DELTA,
        location=str(tmp_path / "w"),
    )
    assert unity.delete_from("unity", "default", "w", "id = 7") == 1
    jobs, _ = _jobs_and_scans(
        spark, "dv-delete",
        lambda: unity.delete_from("unity", "default", "w", "g = 1"),
    )
    assert jobs <= 3
    src = spark.createDataFrame([(2, 9, 9.0), (100, 1, 1.0)], "id long, g long, v double")
    jobs, scans = _jobs_and_scans(
        spark, "upsert",
        lambda: unity.merge_table(src, "unity", "default", "w", condition="t.id = s.id")
        .when_matched_update_all()
        .when_not_matched_insert_all()
        .execute(),
    )
    assert jobs <= 11
    assert len(scans) == 1
    assert sorted(r.id for r in unity.read_table("unity", "default", "w").collect()) == [
        0, 2, 3, 5, 6, 8, 9, 11, 12, 14, 15, 17, 18, 100,
    ]


def test_dv_dml_counts_match_a_recount(unity, spark, tmp_path):
    """delete_from and update_rows on DELTA return the rows they
    changed, counted from the growth of the deletion vectors: equal to
    a recount, with a matching row already deleted, and 0 for a
    repeat. The counts land in the commit's operationMetrics."""
    from local_lakehouse_spark import FileType

    df = spark.createDataFrame(
        [(i, i % 3) for i in range(12)], "id long, g long"
    ).coalesce(1)
    loc = str(tmp_path / "c")
    unity.create_as_table(
        df, "unity", "default", "c", file_type=FileType.DELTA, location=loc
    )
    assert unity.delete_from("unity", "default", "c", "id = 0") == 1

    def recount(predicate):
        return unity.read_table("unity", "default", "c").filter(predicate).count()

    n = recount("g = 0")
    assert n == 3
    assert unity.update_rows("unity", "default", "c", {"id": "id + 100"}, "g = 0") == n
    assert recount("id >= 100") == n
    n = recount("g < 2")
    assert n == 7
    assert unity.delete_from("unity", "default", "c", "g < 2") == n
    assert unity.delete_from("unity", "default", "c", "g < 2") == 0
    assert recount("true") == 4
    metrics = [
        h.get("operationMetrics") for h in DeltaLog(loc).history()[:3]
    ]
    assert metrics == [
        {"numDeletedRows": "7"}, {"numUpdatedRows": "3"}, {"numDeletedRows": "1"},
    ]


@pytest.mark.parametrize(
    "dml, expected",
    [
        (lambda s, p: delta_py.delete_where(s, p, "tn <= '2024-01-01 00:00:00'"), [2]),
        (lambda s, p: delta_py.delete_where(s, p, "d >= '2024-1-1'"), []),
        (lambda s, p: delta_py.update_where(s, p, "d >= '2024-1-1'", {"id": "id + 100"}),
         [101, 102]),
    ],
    ids=["timestamp_ntz", "date-delete", "date-update"],
)
def test_dv_dml_stats_pruning_is_typed(spark, tmp_path, dml, expected):
    """The stats pruner compares dates and timestamps as values: the
    JSON stats write ``2024-01-01T00:00:00`` and a literal may say
    ``'2024-01-01 00:00:00'`` or ``'2024-1-1'`` (which Spark's cast
    reads as a date), and no matching file may be skipped."""
    import datetime

    p = str(tmp_path / "typed")
    delta_py.write_delta(
        spark,
        spark.createDataFrame(
            [
                (1, datetime.datetime(2024, 1, 1), datetime.date(2024, 1, 1)),
                (2, datetime.datetime(2024, 6, 1, 12), datetime.date(2024, 6, 1)),
            ],
            "id long, tn timestamp_ntz, d date",
        ).coalesce(1),
        p,
    )
    dml(spark, p)
    assert sorted(r.id for r in delta_py.read_delta(spark, p).collect()) == expected


def _plan_nodes(plan, kind):
    """Nodes of a JVM logical plan whose class is ``kind``, pre-order."""
    out = [plan] if plan.getClass().getSimpleName() == kind else []
    children = plan.children()
    for i in range(children.size()):
        out += _plan_nodes(children.apply(i), kind)
    return out


def test_read_delta_joins_only_dv_files(spark, tmp_path):
    tbl = str(tmp_path / "dv")
    _two_write_table(spark, tbl, partitioned=True, mapped=False, dv=True)
    snap = DeltaLog(tbl).snapshot(allow=BATCH_READ_FEATURES)
    dv_files = {os.path.basename(unquote(p)) for p in snap.dv_adds}
    assert dv_files and len(dv_files) < len(snap.adds)
    plan = read_delta(spark, tbl)._jdf.queryExecution().optimizedPlan()
    joins = _plan_nodes(plan, "Join")
    assert [j.joinType().toString() for j in joins] == ["LeftAnti"]
    scanned = set()
    for rel in _plan_nodes(joins[0].left(), "LogicalRelation"):
        roots = rel.relation().location().rootPaths()
        scanned |= {
            os.path.basename(roots.apply(i).toString())
            for i in range(roots.size())
        }
    assert scanned == dv_files

    plain = str(tmp_path / "plain")
    _two_write_table(spark, plain, partitioned=True, mapped=False, dv=False)
    text = read_delta(spark, plain)._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in text and "_metadata" not in text
