"""Correctness must not depend on who built the SparkSession.

Round-1 driver failure mode (CORRECTNESS_r01: q05, q32): the external
harness builds its own SparkSession without
spark.sql.legacy.parquet.nanosAsLong, and events.parquet stores
TIMESTAMP(NANOS) which Spark 4's vectorized reader rejects. Every
query entry point now applies the runtime-settable confs itself
(session.harden_runtime), so a conf-less session works.

These tests simulate the driver: a newSession() with the critical
confs explicitly unset/perturbed, then the query functions must still
run and produce the same result as the hardened session.
"""

from __future__ import annotations

import pytest
from pyspark.errors.exceptions.captured import AnalysisException

from local_lakehouse_spark import queries as Q
from local_lakehouse_spark.session import _RUNTIME_CONFS, harden_runtime

from conftest import SF_DIR


@pytest.fixture()
def bare_session(spark):
    """A session sharing the JVM but with its own SQLConf, stripped of
    every conf harden_runtime is responsible for (simulates the
    driver's SparkSession.builder.getOrCreate())."""
    s = spark.newSession()
    # conf.unset would fall back to the builder-time SparkConf (which
    # has our values) — explicitly set the Spark DEFAULTS instead,
    # which is what a plain builder.getOrCreate() session would have.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    # Perturb the timezone the way a non-UTC host would.
    s.conf.set("spark.sql.session.timeZone", "America/New_York")
    s.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    # field-id binding (id-mode column mapping / Iceberg) defaults OFF
    # in a bare session
    s.conf.set("spark.sql.parquet.fieldId.read.enabled", "false")
    s.conf.set("spark.sql.parquet.fieldId.write.enabled", "false")
    # variant shredding/annotation default ON in a bare Spark 4.1
    # session (harden_runtime turns both OFF — r11 VARIANT support,
    # commit fbb298f)
    s.conf.set("spark.sql.variant.writeShredding.enabled", "true")
    s.conf.set(
        "spark.sql.parquet.variant.annotateLogicalType.enabled", "true"
    )
    assert _RUNTIME_CONFS.keys() == {
        "spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.session.timeZone",
        "spark.sql.execution.arrow.pyspark.enabled",
        "spark.sql.parquet.fieldId.read.enabled",
        "spark.sql.parquet.fieldId.write.enabled",
        "spark.sql.variant.writeShredding.enabled",
        "spark.sql.parquet.variant.annotateLogicalType.enabled",
    }, "new runtime conf added — perturb it here too"
    return s


def _events_ts_unit() -> str:
    """The fixture's ts physical unit, read from the parquet footer —
    the driver has regenerated events.parquet with different units
    across rounds (NANOS in round 1, MICROS-NTZ in round 3)."""
    import pyarrow.parquet as pq

    lt = pq.ParquetFile(f"{SF_DIR}/events.parquet").metadata.schema.column(
        1
    ).logical_type
    return str(lt)


def test_bare_session_read_matches_fixture_unit(bare_session):
    """Unit-conditional premise: a NANOS fixture must be rejected by a
    bare session (that's what harden_runtime's nanosAsLong exists
    for); a MICROS fixture reads natively as a (ntz) timestamp. Either
    way events_table must normalize to a proper 'timestamp' column —
    asserted in test_events_table_on_bare_session."""
    unit = _events_ts_unit()
    if "nanoseconds" in unit:
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            bare_session.read.parquet(f"{SF_DIR}/events.parquet").schema
    else:
        dt = dict(
            bare_session.read.parquet(f"{SF_DIR}/events.parquet").dtypes
        )["ts"]
        assert dt in ("timestamp", "timestamp_ntz")


def test_nanos_fixture_roundtrip(spark, tmp_path):
    """Keep real TIMESTAMP(NANOS) coverage even while the driver's
    fixture stores MICROS: write a genuine nanos parquet, verify the
    hardened read surfaces int64 nanos, and that normalize_events_ts
    recovers the exact micros instants (integer DIV — no double
    round-trip precision loss at 1e18)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from local_lakehouse_spark.session import normalize_events_ts

    micros = [1704067207_179575, 1706659032_194062, 1704153600_000001]
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array([m * 1000 for m in micros], pa.timestamp("ns")),
        }
    )
    path = str(tmp_path / "nanos.parquet")
    pq.write_table(tbl, path, store_schema=False)
    col = pq.ParquetFile(path).metadata.schema.column(1).logical_type
    assert "nanoseconds" in str(col), "fixture did not store NANOS"

    df = harden_runtime(spark).read.parquet(path)
    assert dict(df.dtypes)["ts"] == "bigint"  # nanosAsLong surfaced it
    out = normalize_events_ts(df)
    assert dict(out.dtypes)["ts"] == "timestamp"
    got = {
        r.event_id: r.us
        for r in out.selectExpr("event_id", "unix_micros(ts) AS us").collect()
    }
    assert got == {1: micros[0], 2: micros[1], 3: micros[2]}


def test_int64_unit_ladder(spark):
    """normalize_events_ts must map int64 epochs of every unit
    (s/ms/us/ns) onto the same instant — the guard against the
    round-2 failure class (fixture unit flip ⇒ silently wrong
    timeline, in either direction)."""
    from local_lakehouse_spark.session import normalize_events_ts

    us = 1704067207_179575  # 2024-01-01T00:00:07.179575
    rows = [
        ("s", us // 1_000_000, us // 1_000_000 * 1_000_000),
        ("ms", us // 1000, us // 1000 * 1000),
        ("us", us, us),
        ("ns", us * 1000, us),
    ]
    df = spark.createDataFrame(
        [(u, v) for u, v, _ in rows], "unit string, ts long"
    )
    got = {
        r.unit: r.us
        for r in normalize_events_ts(df)
        .selectExpr("unit", "unix_micros(ts) AS us")
        .collect()
    }
    assert got == {u: want for u, _, want in rows}


def test_q05_on_bare_session(bare_session, spark):
    got = Q.q05(bare_session, SF_DIR).collect()
    want = Q.q05(harden_runtime(spark), SF_DIR).collect()
    assert got == want
    assert (
        bare_session.conf.get("spark.sql.legacy.parquet.nanosAsLong")
        == "true"
    )
    assert bare_session.conf.get("spark.sql.session.timeZone") == "UTC"


def test_q32_on_bare_session(bare_session, spark):
    got = Q.q32(bare_session, SF_DIR).collect()
    want = Q.q32(spark, SF_DIR).collect()
    assert got == want


def test_events_table_on_bare_session(bare_session):
    df = Q.events_table(bare_session, SF_DIR)
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert df.count() > 0


def test_date_query_timezone_independent(bare_session, spark):
    """q26 groups by date parts — its hash must not move with the
    host timezone."""
    got = Q.q26(bare_session, SF_DIR).collect()
    want = Q.q26(spark, SF_DIR).collect()
    assert got == want


def test_streaming_read_on_bare_session(bare_session, tmp_path):
    import os

    from local_lakehouse_spark.streaming.windows import read_events_stream

    stage = tmp_path / "events_stage"
    stage.mkdir()
    os.symlink(
        os.path.abspath(f"{SF_DIR}/events.parquet"),
        stage / "events.parquet",
    )
    stream = read_events_stream(bare_session, str(stage))
    assert stream.isStreaming
    assert dict(stream.dtypes)["ts"] == "timestamp"


def test_fixture_read_infers_once(spark, tmp_path):
    """A fixture file's schema is inferred by its first read only; a
    rewrite of the file (new size and mtime) is inferred again."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "f.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert Q.read_fixture(spark, path).columns == ["a"]
    sc = spark.sparkContext
    sc.setJobGroup("fixture-plan", "build the DataFrame")
    df = Q.read_fixture(spark, path)
    sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("fixture-plan") == []
    assert sorted(r.a for r in df.collect()) == [1, 2]
    pq.write_table(pa.table({"a": [3], "b": ["x"]}), path)
    assert Q.read_fixture(spark, path).collect() == [(3, "x")]
