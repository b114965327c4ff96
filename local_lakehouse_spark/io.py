"""Format dispatch: read / scan / write / merge per storage format.

Parity: /root/reference/uchelper/dataframe.py:191-488 (read_table,
scan_table, write_table, merge_table). The reference delegates to
Polars/delta-rs; here every path is a Spark DataFrame read/write so
Catalyst handles pushdown, pruning, and partition discovery.

Delta and Avro always run on the package's pure-Python
implementations: DELTA tables on the public Delta transaction-log
protocol (sources/delta_py.py — JSON commits, add/remove replay,
per-file stats, native time travel), AVRO on the object container
codec (sources/avro_py.py). The Delta-only row-level operations
(MERGE, replaceWhere, schema-evolving append) are ALSO implemented
natively over Parquet tables using an atomic directory-swap rewrite.

Scale notes (100 TB design):
- Reads are plain ``spark.read`` → full predicate pushdown + partition
  pruning; nothing materializes on the driver. A catalog read binds the
  scan to the catalog's columns, so building it runs no schema-inference
  job; only ``register_as_table`` (no columns yet) and a time-travel
  read of a retained PARQUET/ORC version infer from the files.
- ``replace_where``/merge rewrites are expressed as DataFrame plans
  (anti-join / filter + union) executed distributed, then committed by
  directory rename — the Spark-native analog of delta-rs's rewrite.
  On a real deployment these would target Delta/Iceberg for true ACID;
  the plan shape (partition-pruned rewrite of only affected data) is
  the same.
- Single-file layout (reference parity for CSV/Avro/unpartitioned
  parquet files) is only used when the table's storage location is a
  *file* path; directory locations keep full write parallelism.
"""

from __future__ import annotations

import os
import shutil
import uuid
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .exceptions import (
    DoesNotExistError,
    SchemaMismatchError,
    UnsupportedOperationError,
)
from .models import Column, FileType, SchemaEvolution, Table, WriteMode
from .types_map import (
    check_no_type_changes,
    check_schemas_equal,
    schemas_equal,
    spark_schema_to_uc_columns,
    uc_columns_to_spark_schema,
    uc_type_to_spark_type,
)

HAVE_DELTA = False  # no JVM Delta source; kept for callers that report it


def strip_file_scheme(path: str) -> str:
    """Parity: /root/reference/uchelper/dataframe.py:194-196."""
    return path.removeprefix("file://")


def _is_single_file(path: str) -> bool:
    """File-layout tables (foreign single .csv/.parquet/.avro files) get
    single-file write parity (SURVEY §7 risk 1); directories stay
    directories with full parallelism.
    """
    if os.path.isfile(path):
        return True
    if os.path.isdir(path):
        return False
    # Not yet existing: guess from extension.
    ext = os.path.splitext(path)[1].lower()
    return ext in (".csv", ".parquet", ".avro", ".json", ".orc")


# ---------------------------------------------------------------------------
# Read paths
# ---------------------------------------------------------------------------


def read_format_path(
    spark: SparkSession,
    file_type: FileType,
    path: str,
    columns: Optional[list[Column]] = None,
) -> DataFrame:
    """Read files at ``path`` as ``file_type`` into a (lazy) DataFrame.

    ``columns`` (the catalog entry's) bind the scan schema for every
    format that takes one: PARQUET, ORC, CSV, JSON and AVRO. Spark then
    reads no footer to infer a schema, and hive partition values parse
    as the catalog's types (a string partition ``k=07`` reads back as
    ``'07'``). Only a read without catalog columns infers the schema
    from the files: ``register_as_table`` (``columns=None``), and
    ``_retained_columns`` for a time-travel read of a PARQUET/ORC
    version.

    Parity: format dispatch of /root/reference/uchelper/dataframe.py:197-226.
    """
    from .session import harden_runtime

    harden_runtime(spark)
    path = strip_file_scheme(path)
    if file_type == FileType.DELTA:
        from .sources import delta_py

        return delta_py.read_delta(spark, path)
    if file_type in (FileType.PARQUET, FileType.ORC):
        # Parity: dataframe.py:205-213 pins hive partition types from the
        # catalog; here the whole catalog schema does, so nothing infers.
        fmt = _FORMAT_NAME[file_type]
        if not columns:
            return spark.read.format(fmt).load(path)
        schema = uc_columns_to_spark_schema(columns)
        # Spark puts partition columns last; select restores catalog order.
        return spark.read.schema(schema).format(fmt).load(path).select(*schema.names)
    if file_type == FileType.CSV:
        # Schema-enforced read when the catalog has columns, else infer.
        # Parity: dataframe.py:215-220.
        reader = spark.read.option("header", "true")
        if columns:
            reader = reader.schema(uc_columns_to_spark_schema(columns))
        else:
            reader = reader.option("inferSchema", "true")
        return reader.csv(path)
    if file_type == FileType.JSON:
        reader = spark.read
        if columns:
            reader = reader.schema(uc_columns_to_spark_schema(columns))
        return reader.json(path)
    if file_type == FileType.TEXT:
        return spark.read.text(path)
    if file_type == FileType.AVRO:
        from .sources import avro_py

        return avro_py.read_avro(
            spark, path,
            schema=uc_columns_to_spark_schema(columns) if columns else None,
        )
    if file_type == FileType.ICEBERG:
        from .sources import iceberg_py

        return iceberg_py.read_iceberg(spark, path)
    raise UnsupportedOperationError(f"Unsupported file type {file_type}")


def read_table(
    spark: SparkSession,
    table: Table,
    version: Optional[int] = None,
    timestamp: Optional[object] = None,
    ref: Optional[str] = None,
) -> DataFrame:
    """Catalog entry → DataFrame. Parity: dataframe.py:191-228.

    ``scan_table`` (dataframe.py:231-268) is identical because Spark
    DataFrames are always lazy (SURVEY §1.3) — the client exposes both
    names over this one function.

    ``version``: read a retained snapshot (time travel) instead of the
    current contents — see the snapshot section below. The snapshot
    keeps the table's full layout (incl. hive partition dirs), so the
    same reader dispatch applies.

    ``timestamp`` (DELTA only, exclusive with ``version``): Delta's
    ``TIMESTAMP AS OF`` — resolves to the latest commit at or before
    the given ISO string / epoch-ms value via commitInfo timestamps.
    """
    if not table.storage_location:
        raise UnsupportedOperationError(
            f"Table {table.full_name} has no storage location"
        )
    if version is not None and timestamp is not None:
        raise UnsupportedOperationError(
            "version and timestamp time travel are mutually exclusive"
        )
    if ref is not None and table.file_type != FileType.ICEBERG:
        raise UnsupportedOperationError(
            "ref (branch/tag) reads require an ICEBERG table; "
            f"{table.full_name} is {table.file_type.value}"
        )
    location = table.storage_location
    if table.file_type == FileType.DELTA:
        # Python Delta log: time travel is native log replay, not the
        # snapshot store (sources/delta_py.py).
        from .session import harden_runtime
        from .sources import delta_py

        harden_runtime(spark)
        return delta_py.read_delta(
            spark,
            strip_file_scheme(location),
            version=version,
            timestamp=timestamp,
        )
    if table.file_type == FileType.ICEBERG:
        # Iceberg time travel: ``version`` is a SNAPSHOT ID (the
        # format has no linear version counter), ``timestamp`` the
        # usual latest-at-or-before resolution over snapshot commit
        # times — Spark's own VERSION/TIMESTAMP AS OF mapping for
        # Iceberg catalog tables.
        from .session import harden_runtime
        from .sources import iceberg_py
        from .sources.delta_py import _ts_ms

        harden_runtime(spark)
        return iceberg_py.read_iceberg(
            spark,
            strip_file_scheme(location),
            snapshot_id=version,
            timestamp_ms=_ts_ms(timestamp) if timestamp is not None else None,
            ref=ref,
        )
    if timestamp is not None:
        raise UnsupportedOperationError(
            "TIMESTAMP AS OF requires a DELTA or ICEBERG table "
            f"(commit-log timestamps); {table.full_name} is "
            f"{table.file_type.value}"
        )
    columns = table.columns or None
    if version is not None:
        location = snapshot_path(location.removeprefix("file://"), version)
        if table.file_type in (FileType.PARQUET, FileType.ORC):
            columns = _retained_columns(spark, table, location)
    return read_format_path(spark, table.file_type, location, columns)


def _retained_columns(spark: SparkSession, table: Table, location: str) -> list[Column]:
    """Columns of the retained PARQUET/ORC version at ``location``.

    A version keeps the schema it was written with, which a later
    schema change may have left behind, so its data columns come from
    its files (one footer-inference job; a current read never pays it).
    Partition columns keep their catalog types: inference would read a
    string partition ``k=07`` as the integer 7. Columns the catalog
    knows come in catalog order, the others after them.
    """
    parts = {c.name: uc_type_to_spark_type(c) for c in table.partition_columns()}
    pos = {c.name: c.position for c in table.columns or []}
    files = spark.read.format(_FORMAT_NAME[table.file_type]).load(location).schema
    fields = sorted(files.fields, key=lambda f: pos.get(f.name, len(pos)))
    return spark_schema_to_uc_columns(
        T.StructType([T.StructField(f.name, parts.get(f.name, f.dataType)) for f in fields]),
        list(parts),
    )


# ---------------------------------------------------------------------------
# Write helpers
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# Snapshot versioning (time travel without a Delta log)
#
# Every FULL rewrite of a table (directory swap or single-file
# replace) retires the previous contents into a sibling
# ``<path>.__snapshots/v{N}`` instead of deleting them — renames
# only, no data copied, the same metadata-cost profile as Delta's
# log-retained versions. ``SNAPSHOT_KEEP`` bounds history (0
# disables). Coarse-grained by design: in-place mutations
# (directory-parquet append, dynamic partition overwrite) do not
# snapshot — that finer granularity is exactly what a commit log
# buys, and DELTA tables get it from their transaction log.
# ---------------------------------------------------------------------------

SNAPSHOT_KEEP = 3


def _snap_root(dest: str) -> str:
    return dest.rstrip("/") + ".__snapshots"


def snapshot_versions(dest: str) -> list[int]:
    """Retained version numbers for a table path, oldest first."""
    root = _snap_root(dest)
    if not os.path.isdir(root):
        return []
    return sorted(
        int(n[1:])
        for n in os.listdir(root)
        if n.startswith("v") and n[1:].isdigit()
    )


def snapshot_path(dest: str, version: int) -> str:
    """Path of a retained version; raises if not retained."""
    if version not in snapshot_versions(dest):
        raise DoesNotExistError(
            f"version {version} of {dest} is not retained "
            f"(have: {snapshot_versions(dest)})"
        )
    return os.path.join(_snap_root(dest), f"v{version}")


def _drop_path(p: str) -> None:
    if os.path.isdir(p):
        shutil.rmtree(p, ignore_errors=True)
    elif os.path.exists(p):
        os.unlink(p)


def _retire_version(old_path: str, dest: str) -> None:
    """Move a table's previous contents into the snapshot area and
    prune history beyond SNAPSHOT_KEEP. Pure renames."""
    if SNAPSHOT_KEEP <= 0:
        _drop_path(old_path)
        return
    root = _snap_root(dest)
    os.makedirs(root, exist_ok=True)
    versions = snapshot_versions(dest)
    nxt = (versions[-1] + 1) if versions else 1
    os.replace(old_path, os.path.join(root, f"v{nxt}"))
    for v in snapshot_versions(dest)[:-SNAPSHOT_KEEP]:
        _drop_path(os.path.join(root, f"v{v}"))


def vacuum_snapshots(dest: str, keep: int = 0) -> list[int]:
    """Drop retained versions beyond the newest ``keep``; returns the
    versions removed."""
    versions = snapshot_versions(dest)
    victims = versions if keep <= 0 else versions[:-keep]
    for v in victims:
        _drop_path(os.path.join(_snap_root(dest), f"v{v}"))
    if not snapshot_versions(dest) and os.path.isdir(_snap_root(dest)):
        shutil.rmtree(_snap_root(dest), ignore_errors=True)
    return victims


def _write_single_file(df: DataFrame, fmt: str, dest_file: str, **options) -> None:
    """Write df as ONE file at dest_file via temp dir + atomic rename.

    Reference parity: Polars writes single .csv/.avro/.parquet files
    (dataframe.py:392,403,416); Spark writes directories, so we
    coalesce(1) into a temp dir and move the part file into place
    (SURVEY §7 hard-part 1). Only used for file-layout tables.
    """
    tmp = dest_file + f".__tmp_{uuid.uuid4().hex}"
    writer = df.coalesce(1).write.mode("overwrite")
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.format(fmt).save(tmp)
    part = None
    for name in os.listdir(tmp):
        if name.startswith("part-"):
            part = os.path.join(tmp, name)
            break
    if part is None:  # pragma: no cover - defensive
        shutil.rmtree(tmp, ignore_errors=True)
        raise UnsupportedOperationError(f"No part file produced writing {dest_file}")
    if os.path.exists(dest_file):
        _retire_version(dest_file, dest_file)
    os.replace(part, dest_file)
    shutil.rmtree(tmp, ignore_errors=True)


def _atomic_swap_dir(write_tmp: str, dest: str) -> None:
    """Commit a rewritten table directory: old moved aside, new renamed in."""
    old = dest + f".__old_{uuid.uuid4().hex}"
    if os.path.exists(dest):
        os.replace(dest, old)
    try:
        os.replace(write_tmp, dest)
    except Exception:  # pragma: no cover - defensive rollback
        if os.path.exists(old):
            os.replace(old, dest)
        raise
    if os.path.exists(old):
        _retire_version(old, dest)


def _rewrite_table_dir(df: DataFrame, fmt: str, dest: str, partition_by=None, **options) -> None:
    """Full rewrite of a directory table with atomic commit.

    The new contents are computed and written DISTRIBUTED into a temp
    dir (df may reference the current contents of ``dest`` — Spark
    reads before the swap because the write action materializes the
    plan), then swapped in with a rename.
    """
    tmp = dest + f".__rw_{uuid.uuid4().hex}"
    writer = df.write.mode("overwrite")
    for k, v in options.items():
        writer = writer.option(k, v)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.format(fmt).save(tmp)
    _atomic_swap_dir(tmp, dest)


def _compile_partition_filters(filters: list[tuple[str, str, object]]) -> str:
    """delta-rs style ``[(col, op, val)]`` tuples → SQL conjunction.

    Parity: dataframe.py:332-335 partition_filters; compiled to a
    replaceWhere-style predicate (SURVEY §7 hard-part 4). Supported
    ops mirror pyarrow dataset filters: = == != > >= < <= in not in.
    """

    def lit(v: object) -> str:
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        return str(v)

    parts = []
    for col, op, val in filters:
        op = {"==": "=", "=": "=", "!=": "!="}.get(op, op)
        if op in ("in", "not in"):
            vals = ", ".join(lit(v) for v in val)  # type: ignore[union-attr]
            parts.append(f"{col} {'NOT IN' if op == 'not in' else 'IN'} ({vals})")
        elif op in ("=", "!=", ">", ">=", "<", "<="):
            parts.append(f"{col} {op} {lit(val)}")
        else:
            raise UnsupportedOperationError(f"Unsupported partition filter op {op!r}")
    return " AND ".join(parts)


_FORMAT_NAME = {
    FileType.PARQUET: "parquet",
    FileType.CSV: "csv",
    FileType.JSON: "json",
    FileType.ORC: "orc",
    FileType.AVRO: "avro",
    FileType.TEXT: "text",
}


# ---------------------------------------------------------------------------
# write_table — the (file_type, mode, evolution) matrix
# ---------------------------------------------------------------------------


def write_table(
    spark: SparkSession,
    df: DataFrame,
    table: Table,
    mode: WriteMode,
    schema_evolution: SchemaEvolution,
    partition_filters: Optional[list[tuple[str, str, object]]] = None,
    replace_where: Optional[str] = None,
) -> Optional[list[Column]]:
    """Write ``df`` into ``table``; returns the new column list if the
    table schema changed (caller pushes it to the metastore), else None.

    Parity: the guard/behavior matrix of
    /root/reference/uchelper/dataframe.py:271-445:
      - APPEND + evolution OVERWRITE rejected globally (dataframe.py:300-303)
      - partition_filters and replace_where mutually exclusive, OVERWRITE
        only (dataframe.py:324-331)
      - STRICT → pre-write schema check (dataframe.py:162-169)
      - append to unpartitioned parquet rejected (dataframe.py:358-361)
      - CSV/AVRO: overwrite-only, STRICT or evolution OVERWRITE
        (dataframe.py:401-425)
      - partitioned-parquet overwrite replaces only touched partitions
        (dynamic partition overwrite, dataframe.py:388)
    Extension beyond the reference: the Delta-only behaviors (MERGE
    evolution, replace_where) are also supported for directory PARQUET
    tables via distributed rewrite + atomic swap.
    """
    if mode == WriteMode.APPEND and schema_evolution == SchemaEvolution.OVERWRITE:
        raise UnsupportedOperationError(
            "APPEND with schema_evolution OVERWRITE is not supported"
        )
    if partition_filters is not None and replace_where is not None:
        raise UnsupportedOperationError(
            "partition_filters and replace_where are mutually exclusive"
        )
    if (partition_filters is not None or replace_where is not None) and (
        mode != WriteMode.OVERWRITE or schema_evolution != SchemaEvolution.STRICT
    ):
        raise UnsupportedOperationError(
            "partition_filters/replace_where require OVERWRITE mode with "
            "STRICT schema evolution"
        )

    path = strip_file_scheme(table.storage_location or "")
    if not path:
        raise UnsupportedOperationError(f"Table {table.full_name} has no location")
    ft = table.file_type
    part_cols = [c.name for c in table.partition_columns()]
    df_cols = spark_schema_to_uc_columns(df.schema, part_cols or None)

    if partition_filters is not None:
        replace_where = _compile_partition_filters(partition_filters)
        # Partition filters may only reference partition columns
        # (parity: delta-rs partition_filters semantics).
        for col, _, _ in partition_filters:
            if col not in part_cols:
                raise UnsupportedOperationError(
                    f"partition filter column {col} is not a partition column"
                )

    if ft == FileType.DELTA:
        return _write_delta(spark, df, table, mode, schema_evolution, replace_where, df_cols)
    if ft == FileType.PARQUET:
        return _write_parquet(
            spark, df, table, mode, schema_evolution, replace_where, df_cols, path, part_cols
        )
    if ft in (FileType.CSV, FileType.AVRO, FileType.JSON, FileType.ORC):
        return _write_flat(spark, df, table, mode, schema_evolution, df_cols, path, ft)
    if ft == FileType.ICEBERG:
        # Iceberg write surface (sources/iceberg_py.py):
        # create-on-first-write, APPEND snapshots, full-table
        # OVERWRITE as the spec's REPLACE shape (round 9 — status=2
        # removals preserving sequence numbers, time travel intact,
        # streams fail-or-skip), identity + transform partition
        # specs, MERGE = add-column evolution; row-level DML via
        # iceberg_py.delete_iceberg_where / update_iceberg_where.
        from .sources import iceberg_py

        exists = iceberg_py.is_iceberg_table(path)
        if schema_evolution == SchemaEvolution.OVERWRITE:
            raise UnsupportedOperationError(
                "ICEBERG writes support STRICT or MERGE schema "
                "evolution (MERGE = the spec's add-column path); "
                "OVERWRITE needs the full Delta matrix"
            )
        if schema_evolution == SchemaEvolution.STRICT and table.columns:
            check_schemas_equal(df_cols, table.columns)
        if replace_where is not None:
            # Filtered overwrite (replaceWhere / partition_filters,
            # both compiled to the predicate string by the guards
            # above): rows matching the predicate become position
            # deletes and df appends, ONE snapshot — the spec's
            # row-level overwrite. A fresh table has nothing to
            # replace, so it degrades to create.
            if exists:
                iceberg_py.overwrite_iceberg_where(
                    spark, path, replace_where, df
                )
                return None
            ice_mode = "create"
        elif not exists:
            ice_mode = "create"
        elif mode == WriteMode.APPEND:
            ice_mode = "append"
        else:
            ice_mode = "overwrite"
        iceberg_py.write_iceberg(
            spark,
            df,
            path,
            mode=ice_mode,
            merge_schema=schema_evolution == SchemaEvolution.MERGE,
            partition_by=part_cols or None,
        )
        return None
    raise UnsupportedOperationError(
        f"Writing file type {ft.value} is not supported"
    )


def _write_delta(
    spark, df, table, mode, schema_evolution, replace_where, df_cols
) -> Optional[list[Column]]:
    """Native Delta path. Parity dataframe.py:305-354: the
    (mode × evolution × replaceWhere) matrix through the pure-Python
    transaction log (sources/delta_py.py — public PROTOCOL.md subset)."""
    from .sources import delta_py

    path = strip_file_scheme(table.storage_location or "")
    part_cols = [c.name for c in table.partition_columns()]
    if schema_evolution == SchemaEvolution.STRICT:
        check_schemas_equal(df_cols, table.columns)
    snap = delta_py.write_delta(
        spark,
        df,
        path,
        mode=mode.value.lower(),
        partition_by=part_cols or None,
        replace_where=replace_where,
        merge_schema=schema_evolution == SchemaEvolution.MERGE,
        overwrite_schema=schema_evolution == SchemaEvolution.OVERWRITE,
    )
    new_cols = spark_schema_to_uc_columns(snap.schema, part_cols or None)
    return None if schemas_equal(new_cols, table.columns) else new_cols


def _write_parquet(
    spark, df, table, mode, schema_evolution, replace_where, df_cols, path, part_cols
) -> Optional[list[Column]]:
    single_file = _is_single_file(path)

    if replace_where is not None:
        # Row-level selective overwrite (reference: Delta-only,
        # dataframe.py:336-337). Spark-native: keep rows NOT matching
        # the predicate, add the new rows; distributed rewrite.
        check_schemas_equal(df_cols, table.columns)
        existing = read_table(spark, table)
        kept = existing.filter(~F.expr(replace_where) | F.expr(replace_where).isNull())
        new_df = kept.unionByName(df)
        if single_file:
            _write_single_file(new_df, "parquet", path)
        else:
            _rewrite_table_dir(new_df, "parquet", path, partition_by=part_cols or None)
        return None

    if mode == WriteMode.APPEND:
        if schema_evolution == SchemaEvolution.STRICT:
            if not part_cols and single_file:
                # Parity: append to single-file parquet rejected
                # (dataframe.py:358-361).
                raise UnsupportedOperationError(
                    "APPEND is not supported for single-file PARQUET tables"
                )
            check_schemas_equal(df_cols, table.columns)
            writer = df.write.mode("append")
            if part_cols:
                writer = writer.partitionBy(*part_cols)
            writer.parquet(path)
            return None
        # MERGE evolution append (reference: Delta-only; our extension
        # for directory-parquet): union-by-name rewrite.
        if single_file:
            raise UnsupportedOperationError(
                "APPEND with schema evolution is not supported for "
                "single-file PARQUET tables"
            )
        existing = read_table(spark, table)
        merged = existing.unionByName(df, allowMissingColumns=True)
        _rewrite_table_dir(merged, "parquet", path, partition_by=part_cols or None)
        new_cols = spark_schema_to_uc_columns(merged.schema, part_cols or None)
        return None if schemas_equal(new_cols, table.columns) else new_cols

    # OVERWRITE
    if schema_evolution == SchemaEvolution.STRICT:
        check_schemas_equal(df_cols, table.columns)
    schema_changed = not schemas_equal(df_cols, table.columns)
    if single_file:
        _write_single_file(df, "parquet", path)
    elif part_cols and not (
        schema_evolution == SchemaEvolution.OVERWRITE and schema_changed
    ):
        # Only touched partitions replaced — dynamic partition
        # overwrite, parity dataframe.py:388 + client.py:372 warning.
        # A schema overwrite replaces the whole table instead (Delta's
        # overwriteSchema): untouched partitions would keep files of
        # the old schema that the new catalog columns cannot read.
        # For the same reason a merge evolution may add columns here
        # but not change an existing column's type.
        if schema_evolution == SchemaEvolution.MERGE:
            check_no_type_changes(
                df_cols, table.columns, "partition OVERWRITE with MERGE evolution"
            )
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*part_cols)
            .parquet(path)
        )
    else:
        _rewrite_table_dir(df, "parquet", path, partition_by=part_cols or None)
    return df_cols if schema_changed else None


def _write_flat(
    spark, df, table, mode, schema_evolution, df_cols, path, ft
) -> Optional[list[Column]]:
    """CSV/AVRO (+JSON/ORC extension): overwrite-only single-file or dir.

    Parity: dataframe.py:401-425 — APPEND and MERGE evolution rejected.
    """
    if mode == WriteMode.APPEND:
        raise UnsupportedOperationError(
            f"APPEND is not supported for {ft.value} tables"
        )
    if schema_evolution == SchemaEvolution.MERGE:
        raise UnsupportedOperationError(
            f"Schema evolution MERGE is not supported for {ft.value} tables"
        )
    if schema_evolution == SchemaEvolution.STRICT:
        check_schemas_equal(df_cols, table.columns)
    fmt = _FORMAT_NAME[ft]
    options = {"header": "true"} if ft == FileType.CSV else {}
    if ft == FileType.AVRO:
        from .sources import avro_py

        if _is_single_file(path):
            # materialize to a temp name FIRST (df may read the current
            # file), then retire the old version and swap in the new
            tmp = path + f".__avro_{uuid.uuid4().hex}"
            avro_py.write_avro_single(df, tmp)
            if os.path.exists(path):
                _retire_version(path, path)
            os.replace(tmp, path)
        else:
            tmp = path + f".__rw_{uuid.uuid4().hex}"
            avro_py.write_avro_dir(df, tmp)
            _atomic_swap_dir(tmp, path)
    elif _is_single_file(path):
        _write_single_file(df, fmt, path, **options)
    else:
        _rewrite_table_dir(df, fmt, path, **options)
    if schema_evolution == SchemaEvolution.STRICT:
        return None
    return None if schemas_equal(df_cols, table.columns) else df_cols
