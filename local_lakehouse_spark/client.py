"""LakehouseClient — the user-facing facade.

Parity: /root/reference/uchelper/client.py:44-544 (``UCClient``: 25
public methods over catalog CRUD, table I/O, merge, and SQL). The
reference pairs a REST UC server with Polars + DuckDB; here one
SparkSession serves the DataFrame API, SQL (Catalyst), and all
storage formats, and the metastore is the local file-backed store.

SQL over three-level names: ``client.sql("SELECT ... FROM
unity.default.lineitem")`` resolves each known ``cat.sch.tbl`` name
against the metastore, registers the scan as a temp view, rewrites
the query, and hands it to ``spark.sql`` — Catalyst then owns
parse/optimize/execute (predicate pushdown reaches the parquet scan
because the view IS the lazy scan). Parity with the reference's
DuckDB ATTACH pass-through (client.py:537-544) without a server.
"""

from __future__ import annotations

import os
import re
from typing import Optional, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from . import io as _io
from . import sqlnames as _sqlnames
from .exceptions import (
    ConstraintViolationError,
    DoesNotExistError,
    SQLEngineSetupError,
    UnsupportedOperationError,
)
from .merge import merge_table as _merge_table
from .metastore import Metastore
from .models import (
    Catalog,
    Column,
    FileType,
    Schema,
    SchemaEvolution,
    Table,
    TableType,
    WriteMode,
)
from .session import get_spark
from .types_map import schemas_equal, spark_schema_to_uc_columns
from .utils import to_file_type, to_schema_evolution, to_table_type, to_write_mode


class LakehouseClient:
    """Facade over metastore + Spark I/O + SQL."""

    def __init__(
        self,
        metastore_path: str = "lakehouse_metastore.json",
        spark: Optional[SparkSession] = None,
    ) -> None:
        self.metastore = Metastore(metastore_path)
        try:
            self.spark = spark or get_spark()
        except Exception as exc:  # parity: degraded conn, client.py:79-81
            self.spark = None  # type: ignore[assignment]
            self._spark_error = exc

    def _require_spark(self) -> SparkSession:
        if self.spark is None:
            raise SQLEngineSetupError(
                "SparkSession was not set up correctly"
            )  # parity client.py:542-543
        return self.spark

    # -- catalog / schema / table CRUD (delegation to metastore) ------------
    # Parity: client.py:83-307 — thin pass-throughs with identical names.

    def health_check(self) -> bool:
        return self.metastore.health_check()

    def create_catalog(self, catalog: Catalog) -> Catalog:
        return self.metastore.create_catalog(catalog)

    def delete_catalog(self, name: str, force: bool = False) -> bool:
        return self.metastore.delete_catalog(name, force)

    def list_catalogs(self) -> list[Catalog]:
        return self.metastore.list_catalogs()

    def get_catalog(self, name: str) -> Catalog:
        return self.metastore.get_catalog(name)

    def update_catalog(self, name: str, catalog: Catalog) -> Catalog:
        return self.metastore.update_catalog(name, catalog)

    def create_schema(self, schema: Schema) -> Schema:
        return self.metastore.create_schema(schema)

    def delete_schema(self, catalog: str, schema: str, force: bool = False) -> bool:
        return self.metastore.delete_schema(catalog, schema, force)

    def get_schema(self, catalog: str, schema: str) -> Schema:
        return self.metastore.get_schema(catalog, schema)

    def list_schemas(self, catalog: str) -> list[Schema]:
        return self.metastore.list_schemas(catalog)

    def update_schema(self, catalog: str, schema_name: str, schema: Schema) -> Schema:
        return self.metastore.update_schema(catalog, schema_name, schema)

    def create_table(self, table: Table) -> Table:
        # MANAGED rejected; external locations must be absolute.
        # Parity: client.py:450-462.
        if table.table_type == TableType.MANAGED:
            raise UnsupportedOperationError("MANAGED tables are not supported")
        loc = _io.strip_file_scheme(table.storage_location or "")
        if not os.path.isabs(loc):
            raise UnsupportedOperationError(
                f"storage_location must be an absolute path, got {loc!r}"
            )
        return self.metastore.create_table(table)

    def delete_table(self, catalog: str, schema: str, table: str) -> None:
        self.metastore.delete_table(catalog, schema, table)

    def get_table(self, catalog: str, schema: str, table: str) -> Table:
        return self.metastore.get_table(catalog, schema, table)

    def list_tables(self, catalog: str, schema: str) -> list[Table]:
        return self.metastore.list_tables(catalog, schema)

    def update_table(
        self,
        catalog_or_table: "str | Table",
        schema: "str | None" = None,
        table: "Table | None" = None,
    ) -> Table:
        """Update a table's comment/properties.

        Accepts both the native 1-arg form ``update_table(table)``
        (the Table's own catalog_name/schema_name name the target)
        and the reference's positional form
        ``update_table(catalog, schema, table)`` (reference
        client.py:271-286), where the first two args name the update
        TARGET and ``table`` carries the new comment/properties — a
        drop-in caller needs no shim."""
        if isinstance(catalog_or_table, Table):
            if schema is not None or table is not None:
                raise TypeError(
                    "update_table(table) takes no extra arguments"
                )
            return self.metastore.update_table(catalog_or_table)
        if schema is None or table is None:
            raise TypeError(
                "update_table requires (catalog, schema, table) or (table)"
            )
        retargeted = table.model_copy(
            update={"catalog_name": catalog_or_table, "schema_name": schema}
        )
        return self.metastore.update_table(retargeted)

    def set_table_default_merge_columns(
        self, catalog: str, schema: str, table: str, merge_columns: list[str]
    ) -> Table:
        return self.metastore.set_table_default_merge_columns(
            catalog, schema, table, merge_columns
        )

    # -- Delta-specific helpers ---------------------------------------------

    def get_delta_table(self, catalog: str, schema: str, name: str):
        """Parity: client.py:323-330; raises unless format DELTA."""
        tbl = self.get_table(catalog, schema, name)
        if tbl.file_type != FileType.DELTA:
            raise UnsupportedOperationError(
                f"Table {tbl.full_name} is not a DELTA table"
            )
        # Pure-Python Delta log facade (sources/delta_py.py):
        # toDF/history/detail/vacuum over the real _delta_log.
        from .sources.delta_py import PyDeltaTable

        return PyDeltaTable(
            self._require_spark(),
            _io.strip_file_scheme(tbl.storage_location or ""),
        )

    def sync_delta_properties(self, catalog: str, schema: str, name: str) -> Table:
        """Replace all ``delta.*`` properties in the catalog with the ones
        from the Delta log. Parity: client.py:332-349,
        uc_api_wrapper.py:567-590.
        """
        tbl = self.get_table(catalog, schema, name)
        dt = self.get_delta_table(catalog, schema, name)
        config = dt.detail().collect()[0].asDict().get("properties") or {}
        props = {
            k: v
            for k, v in (tbl.properties or {}).items()
            if not k.startswith("delta.")
        }
        for k, v in config.items():
            if k.startswith("delta."):
                props[k] = v
        tbl.properties = props
        return self.update_table(tbl)

    # -- Table I/O -----------------------------------------------------------

    def read_table(
        self,
        catalog: str,
        schema: str,
        name: str,
        version: Optional[int] = None,
        timestamp: Optional[object] = None,
        ref: Optional[str] = None,
    ) -> DataFrame:
        """Parity: client.py:309-314. Lazy Spark DataFrame.

        ``version``: time travel — read a retained snapshot (created
        automatically by full rewrites; see ``table_history``).
        Beyond the reference, which has no versioning.

        ``timestamp`` (DELTA, exclusive with version): ``TIMESTAMP AS
        OF`` — ISO string or epoch ms, resolved to the latest commit
        at or before that time (Delta's semantics).

        ``ref`` (ICEBERG): read a named branch/tag head (iceberg's
        VERSION AS OF 'name').
        """
        tbl = self.get_table(catalog, schema, name)
        return _io.read_table(
            self._require_spark(),
            tbl,
            version=version,
            timestamp=timestamp,
            ref=ref,
        )

    def metadata_table(
        self,
        catalog: str,
        schema: str,
        name: str,
        kind: str,
        version: Optional[int] = None,
    ) -> DataFrame:
        """Iceberg inspection tables (iceberg-spark's
        ``db.table.snapshots`` / ``.files`` / ``.history`` /
        ``.refs`` / ``.manifests`` / ``.delete_files`` /
        ``.partitions``) as DataFrames; ``version`` pins the
        file-level kinds to a snapshot id. DataSource twin:
        ``spark.read.format("pyiceberg").option("metadata", kind)``."""
        from .sources import iceberg_py

        return iceberg_py.metadata_table(
            self._require_spark(),
            self._iceberg_path(catalog, schema, name, "metadata_table"),
            kind,
            snapshot_id=version,
        )

    def table_history(self, catalog: str, schema: str, name: str) -> list[int]:
        """Retained snapshot versions (oldest first) for time travel.
        Full rewrites retire the previous contents as renames only —
        the metadata-cost profile of Delta's log-retained versions;
        in-place mutations (partitioned append / dynamic partition
        overwrite) are not snapshotted (that granularity is what a
        commit log buys — DELTA tables list their log versions)."""
        tbl = self.get_table(catalog, schema, name)
        path = tbl.storage_location.removeprefix("file://")
        if tbl.file_type == FileType.DELTA:
            from .sources.delta_py import DeltaLog

            return DeltaLog(path).versions()
        if tbl.file_type == FileType.ICEBERG:
            from .sources import iceberg_py

            meta = iceberg_py.table_metadata(path)
            return [
                int(s["snapshot-id"])
                for s in sorted(
                    meta.get("snapshots") or [],
                    key=lambda s: int(s.get("sequence-number") or 0),
                )
            ]
        return _io.snapshot_versions(path)

    # -- WAP (write-audit-publish) branch facade (ICEBERG) ------------------

    def create_branch(
        self,
        catalog: str,
        schema: str,
        name: str,
        branch: str,
        version: Optional[int] = None,
    ) -> None:
        """Create a branch ref (WAP audit staging; SQL twin:
        ``ALTER TABLE c.s.t CREATE BRANCH b [AS OF VERSION v]``)."""
        from .sources import iceberg_py

        iceberg_py.create_iceberg_branch(
            self._iceberg_path(catalog, schema, name, "create_branch"),
            branch,
            snapshot_id=version,
        )

    def drop_branch(
        self, catalog: str, schema: str, name: str, branch: str
    ) -> None:
        from .sources import iceberg_py

        iceberg_py.drop_iceberg_ref(
            self._iceberg_path(catalog, schema, name, "drop_branch"),
            branch,
            expect_type="branch",
        )

    def create_tag(
        self,
        catalog: str,
        schema: str,
        name: str,
        tag: str,
        version: Optional[int] = None,
    ) -> None:
        """Create an immutable tag ref (SQL twin: ``ALTER TABLE
        c.s.t CREATE TAG t [AS OF VERSION v]``); readable via
        ``read_table(..., ref=t)``, pinned against expire."""
        from .sources import iceberg_py

        iceberg_py.create_iceberg_tag(
            self._iceberg_path(catalog, schema, name, "create_tag"),
            tag,
            snapshot_id=version,
        )

    def drop_tag(
        self, catalog: str, schema: str, name: str, tag: str
    ) -> None:
        from .sources import iceberg_py

        iceberg_py.drop_iceberg_ref(
            self._iceberg_path(catalog, schema, name, "drop_tag"),
            tag,
            expect_type="tag",
        )

    def stage_write(
        self,
        df: DataFrame,
        catalog: str,
        schema: str,
        name: str,
        wap_id: str,
    ) -> int:
        """Stage an append as a REF-LESS snapshot stamped with
        ``wap.id`` (iceberg-spark's ``spark.wap.id`` staged commit —
        the non-branch WAP flavor). Invisible to every reader —
        current, VERSION AS OF timestamps, the changelog — until
        :meth:`cherrypick_snapshot` publishes it onto main. Returns
        the staged snapshot id (the cherry-pick handle)."""
        from .sources import iceberg_py

        tbl = self.get_table(catalog, schema, name)
        self._check_constraints(df, tbl)
        meta = iceberg_py.stage_iceberg_append(
            self._require_spark(),
            df,
            self._iceberg_path(catalog, schema, name, "stage_write"),
            wap_id,
        )
        return int(meta["snapshots"][-1]["snapshot-id"])

    def write_table_branch(
        self,
        df: DataFrame,
        catalog: str,
        schema: str,
        name: str,
        branch: str,
    ) -> None:
        """Append ``df`` to an audit BRANCH — main readers never see
        the rows until :meth:`fast_forward` publishes them. The frame
        passes the same constraint gate as a main write."""
        from .sources import iceberg_py

        tbl = self.get_table(catalog, schema, name)
        self._check_constraints(df, tbl)
        iceberg_py.append_iceberg_branch(
            self._require_spark(),
            df,
            self._iceberg_path(
                catalog, schema, name, "write_table_branch"
            ),
            branch,
        )

    def fast_forward(
        self,
        catalog: str,
        schema: str,
        name: str,
        branch: str,
        to: str,
    ) -> None:
        """Publish: move ``branch`` to the head of ``to`` (allowed
        only for true fast-forwards — git semantics). SQL twin:
        ``ALTER TABLE c.s.t FAST FORWARD main TO audit``."""
        from .sources import iceberg_py

        iceberg_py.fast_forward_iceberg(
            self._iceberg_path(catalog, schema, name, "fast_forward"),
            branch,
            to,
        )

    def cherrypick_snapshot(
        self, catalog: str, schema: str, name: str, snapshot_id: int
    ) -> None:
        """Publish a divergent APPEND snapshot onto main, re-stamped
        at a new sequence (idempotent via the published-wap-id
        marker)."""
        from .sources import iceberg_py

        iceberg_py.cherrypick_iceberg_snapshot(
            self._iceberg_path(
                catalog, schema, name, "cherrypick_snapshot"
            ),
            int(snapshot_id),
        )

    def restore_table(
        self,
        catalog: str,
        schema: str,
        name: str,
        version: Optional[int] = None,
        timestamp: Optional[object] = None,
    ) -> None:
        """Make a retained snapshot the current table contents. The
        pre-restore contents are themselves retired as a new snapshot
        first, so a restore is always reversible.

        ``timestamp`` (DELTA only, exclusive with version): RESTORE
        TO TIMESTAMP AS OF — resolved through commitInfo timestamps
        like read-side time travel.

        Always a FULL rewrite — the OVERWRITE write matrix would take
        the dynamic-partition-overwrite branch for partitioned tables
        and leave partitions added after the snapshot in place, making
        the restore incomplete (ADVICE r1). Layout is preserved
        (single-file tables restore to a single file)."""
        tbl = self.get_table(catalog, schema, name)
        if (version is None) == (timestamp is None):
            raise UnsupportedOperationError(
                "restore_table takes exactly one of version/timestamp"
            )
        if tbl.file_type == FileType.ICEBERG:
            # Iceberg RESTORE = rollback_to_snapshot: metadata-only,
            # no rewrite; 'version' is a snapshot id (read-side time
            # travel's mapping), timestamp the usual at-or-before
            # resolution over snapshot commit times. The restored
            # contents still pass the catalog's constraint gate
            # (Delta-restore parity).
            from .sources import delta_py, iceberg_py

            path = _io.strip_file_scheme(tbl.storage_location or "")
            ts_ms = (
                delta_py._ts_ms(timestamp)
                if timestamp is not None
                else None
            )
            snap = iceberg_py._select_snapshot(
                iceberg_py.table_metadata(path), version, ts_ms
            )
            self._check_constraints(
                iceberg_py.read_iceberg(
                    self._require_spark(),
                    path,
                    snapshot_id=int(snap["snapshot-id"]),
                ),
                tbl,
            )
            iceberg_py.rollback_iceberg(
                path, snapshot_id=int(snap["snapshot-id"])
            )
            return
        if timestamp is not None:
            if tbl.file_type != FileType.DELTA:
                raise UnsupportedOperationError(
                    "RESTORE TO TIMESTAMP requires a DELTA table"
                )
            from .sources import delta_py

            version = delta_py.DeltaLog(
                _io.strip_file_scheme(tbl.storage_location or "")
            ).version_at_timestamp(delta_py._ts_ms(timestamp))
        df = self.read_table(catalog, schema, name, version=version)
        self._check_constraints(df, tbl)
        path = tbl.storage_location.removeprefix("file://")
        if tbl.file_type == FileType.DELTA:
            # Delta RESTORE is a metadata-only commit (files re-added
            # by reference) — no data rewrite at all.
            from .sources import delta_py

            delta_py.restore(self._require_spark(), path, version)
            return
        self._rewrite_contents(tbl, df)
        # the version's own schema comes back with its data, as Delta's
        # RESTORE restores the schema too
        self._sync_columns(tbl, df.schema)

    def _sync_columns(self, tbl: Table, written: StructType) -> None:
        """Set the catalog columns of ``tbl`` to the schema a write
        committed, when they differ."""
        cols = spark_schema_to_uc_columns(
            written, [c.name for c in tbl.partition_columns()]
        )
        if not schemas_equal(cols, tbl.columns):
            tbl.columns = cols
            self.metastore.overwrite_table(tbl)

    def validate_table(
        self,
        catalog: str,
        schema: str,
        name: str,
        expectations: dict[str, str],
    ) -> DataFrame:
        """Data-quality expectations report (the Delta Live Tables
        expectations pattern, beyond the reference): evaluate named
        SQL predicates over the table in ONE pass and return
        (expectation, n_pass, n_fail, pass_ratio) per predicate.

        Scale: a single scan with conditional-sum aggregates — no
        per-expectation jobs, no shuffle beyond the final 1-row agg.
        NULL predicate results count as failures (SQL three-valued
        logic would otherwise silently drop them).
        """
        df = self.read_table(catalog, schema, name)
        aggs = []
        for ename, pred in expectations.items():
            ok = F.when(F.expr(pred), 1).otherwise(0)
            aggs.append(F.sum(ok).alias(f"__p_{ename}"))
            aggs.append(F.count(F.lit(1)).alias(f"__n_{ename}"))
        row = df.agg(*aggs)
        spark = self._require_spark()
        out = []
        r = row.collect()[0]
        for ename in expectations:
            n_pass = int(r[f"__p_{ename}"] or 0)
            total = int(r[f"__n_{ename}"] or 0)
            out.append(
                (
                    ename,
                    n_pass,
                    total - n_pass,
                    (n_pass / total) if total else 1.0,
                )
            )
        return spark.createDataFrame(
            out,
            "expectation string, n_pass long, n_fail long, pass_ratio double",
        )

    def convert_table_to_delta(
        self, catalog: str, schema: str, name: str
    ) -> Table:
        """CONVERT TO DELTA: register a PARQUET directory table's
        existing files — or an ICEBERG table's current snapshot
        (delta-spark's iceberg CONVERT, round 8) — as Delta version 0
        (metadata-only, no data rewritten) and flip the catalog
        file_type. Reversible only by deleting ``_delta_log``;
        partition layout is preserved for PARQUET; delete-bearing
        ICEBERG sources refuse (iceberg_py.convert_iceberg_to_delta)."""
        from .sources import delta_py

        tbl = self.get_table(catalog, schema, name)
        if tbl.file_type == FileType.DELTA:
            raise UnsupportedOperationError(
                f"Table {tbl.full_name} is already DELTA"
            )
        if tbl.file_type == FileType.ICEBERG:
            from .sources import iceberg_py

            path = _io.strip_file_scheme(tbl.storage_location or "")
            # in place: the Delta log lands inside the Iceberg table
            # dir, adds referencing the snapshot's files absolutely
            iceberg_py.convert_iceberg_to_delta(
                self._require_spark(), path, path
            )
            return self.metastore.set_table_file_type(
                catalog, schema, name, FileType.DELTA
            )
        if tbl.file_type != FileType.PARQUET:
            raise UnsupportedOperationError(
                "CONVERT TO DELTA supports PARQUET and ICEBERG "
                f"tables, not {tbl.file_type.value}"
            )
        path = _io.strip_file_scheme(tbl.storage_location or "")
        if _io._is_single_file(path):
            raise UnsupportedOperationError(
                "CONVERT TO DELTA requires a directory table"
            )
        part_cols = [c.name for c in tbl.partition_columns()]
        delta_py.convert_to_delta(
            self._require_spark(), path, partition_by=part_cols or None
        )
        return self.metastore.set_table_file_type(
            catalog, schema, name, FileType.DELTA
        )

    def convert_table_to_iceberg(
        self, catalog: str, schema: str, name: str
    ) -> Table:
        """CONVERT TO ICEBERG (round 9 — the inverse of
        convert_table_to_delta): a DELTA table shallow-converts IN
        PLACE (iceberg_py.convert_delta_to_iceberg — metadata lands
        beside the Delta log referencing the snapshot's files, hive
        partition values become identity metadata values; DV /
        column-mapped sources refuse through the reader-feature
        gate), and a plain unpartitioned PARQUET directory registers
        via add_files (schema inferred, name mapping committed for
        the unstamped footers). The catalog file_type flips;
        reversible only by deleting ``metadata/``."""
        from .sources import iceberg_py

        tbl = self.get_table(catalog, schema, name)
        if tbl.file_type == FileType.ICEBERG:
            raise UnsupportedOperationError(
                f"Table {tbl.full_name} is already ICEBERG"
            )
        path = _io.strip_file_scheme(tbl.storage_location or "")
        spark = self._require_spark()
        if tbl.file_type == FileType.DELTA:
            iceberg_py.convert_delta_to_iceberg(spark, path, path)
        elif tbl.file_type == FileType.PARQUET:
            if _io._is_single_file(path):
                raise UnsupportedOperationError(
                    "CONVERT TO ICEBERG requires a directory table"
                )
            if tbl.partition_columns():
                raise UnsupportedOperationError(
                    "CONVERT TO ICEBERG of a hive-partitioned "
                    "PARQUET table is unsupported (the partition "
                    "columns live only in directory names; convert "
                    "to DELTA first, then to ICEBERG)"
                )
            iceberg_py.add_files(spark, path, path)
        else:
            raise UnsupportedOperationError(
                "CONVERT TO ICEBERG supports DELTA and PARQUET "
                f"tables, not {tbl.file_type.value}"
            )
        return self.metastore.set_table_file_type(
            catalog, schema, name, FileType.ICEBERG
        )

    def _rewrite_contents(self, tbl: Table, df: DataFrame) -> None:
        """Layout-preserving full rewrite (same commit path as
        restore_table): single-file tables stay single files,
        partitioned directories keep their partition columns."""
        path = tbl.storage_location.removeprefix("file://")
        fmt = _io._FORMAT_NAME[tbl.file_type]
        part_cols = [c.name for c in tbl.partition_columns()]
        if not part_cols and _io._is_single_file(path):
            _io._write_single_file(df, fmt, path)
        else:
            _io._rewrite_table_dir(df, fmt, path, partition_by=part_cols or None)

    def delete_from(
        self, catalog: str, schema: str, name: str, predicate: str
    ) -> int:
        """Row-level DELETE of rows matching ``predicate`` (SQL
        boolean over the table's columns). Returns the number of rows
        deleted. The previous contents stay time-travel reachable.

        Scale note: DELTA tables take the deletion-vector path
        (delta_py.delete_where) — a bitmap-per-touched-file commit,
        zero data rewritten. Other formats do the copy-on-write
        rewrite; partition-pruned predicates on partitioned tables
        rewrite only what the scan reads into the new layout.
        """
        tbl = self.get_table(catalog, schema, name)
        if tbl.file_type == FileType.DELTA:
            # DV fast path: bitmap-only commit, zero data rewritten;
            # the count is the growth of the deletion vectors
            from .sources import delta_py

            snap = delta_py.delete_where(
                self._require_spark(),
                _io.strip_file_scheme(tbl.storage_location or ""),
                predicate,
            )
            return int(snap.operation_metrics.get("numDeletedRows", 0))
        df = self.read_table(catalog, schema, name)
        deleted = df.filter(predicate).count()
        if deleted:
            self._rewrite_contents(tbl, df.filter(f"NOT ({predicate})"))
        return deleted

    def update_rows(
        self,
        catalog: str,
        schema: str,
        name: str,
        assignments: dict[str, str],
        predicate: str = "true",
    ) -> int:
        """Row-level UPDATE: SET col = <sql expr> for rows matching
        ``predicate``; other rows pass through unchanged. Returns the
        number of rows updated. The updated contents pass the same
        CHECK-constraint gate as write_table; the previous contents
        stay time-travel reachable.

        Scale note: DELTA tables take the deletion-vector path
        (delta_py.update_where) — matched rows are bitmap-deleted and
        only their post-images append; an update touching 0.1% of
        rows writes 0.1% of the data. Other formats rewrite.
        """
        tbl = self.get_table(catalog, schema, name)
        if tbl.file_type == FileType.DELTA:
            # DV fast path: matched rows are bitmap-deleted and only
            # their post-images append — untouched rows (already
            # gated at their own write) are never rewritten. The
            # gate sees exactly the post-images update_where writes
            # (a post-image may falsify its own predicate, e.g. SET
            # qty=-5 WHERE qty>0 under CHECK qty>=0), and the count
            # is the growth of the deletion vectors.
            from .sources import delta_py

            names = {c.name for c in tbl.columns or []}
            snap = delta_py.update_where(
                self._require_spark(),
                _io.strip_file_scheme(tbl.storage_location or ""),
                predicate,
                {c: e for c, e in assignments.items() if c in names},
                validate=lambda rows: self._check_constraints(rows, tbl),
            )
            return int(snap.operation_metrics.get("numUpdatedRows", 0))
        df = self.read_table(catalog, schema, name)
        updated = df.filter(predicate).count()
        if not updated:
            return 0
        cond = F.expr(predicate)
        out = df.select(
            *[
                F.when(cond, F.expr(assignments[c]).cast(df.schema[c].dataType))
                .otherwise(F.col(c))
                .alias(c)
                if c in assignments
                else F.col(c)
                for c in df.columns
            ]
        )
        self._check_constraints(out, tbl)
        self._rewrite_contents(tbl, out)
        return updated

    def read_change_feed(
        self,
        catalog: str,
        schema: str,
        name: str,
        starting_version: Optional[int] = 0,
        ending_version: Optional[int] = None,
        starting_timestamp: Optional[object] = None,
        ending_timestamp: Optional[object] = None,
    ) -> DataFrame:
        """Protocol Change Data Feed read (delta-spark's
        ``readChangeFeed`` with startingVersion/endingVersion, both
        INCLUSIVE, or the startingTimestamp/endingTimestamp pair):
        requires ``delta.enableChangeDataFeed=true`` on
        the DELTA table; DML commits record exact change rows under
        ``_change_data/`` (cdc actions), appends/overwrites derive
        from the data files already on disk. Returns the table's
        columns plus ``_change_type`` / ``_commit_version`` /
        ``_commit_timestamp``. For version-diff CDC without the CDF
        property, use :meth:`table_changes`."""
        from .sources import delta_py

        tbl = self.get_table(catalog, schema, name)
        if tbl.file_type != FileType.DELTA:
            raise UnsupportedOperationError(
                "read_change_feed requires a DELTA table "
                f"({tbl.full_name} is {tbl.file_type.name})"
            )
        spark = self._require_spark()
        path = _io.strip_file_scheme(tbl.storage_location or "")
        return delta_py.read_change_feed(
            spark,
            path,
            starting_version,
            ending_version,
            starting_timestamp=starting_timestamp,
            ending_timestamp=ending_timestamp,
        )

    def table_changes(
        self,
        catalog: str,
        schema: str,
        name: str,
        from_version: int,
        to_version: Optional[int] = None,
    ) -> DataFrame:
        """Row-level change feed between two retained versions (CDC) —
        Delta Change Data Feed semantics over the snapshot store,
        beyond the reference. Returns the table's columns plus
        ``_change_type``.

        With default merge columns set (the table's logical key),
        changes classify as insert / delete / update_preimage /
        update_postimage — the Delta CDF vocabulary. Without a key,
        row-identity is the whole row (multiset diff via exceptAll)
        and changes are insert/delete only.

        Scale: DELTA ranges that are PURE APPENDS take the log-replay
        fast path — the changes ARE the appended files, read directly
        as inserts (O(new data), Delta CDF's own answer for append
        commits). Otherwise: keyed diff is one full-outer join on the
        key columns; keyless diff is two exceptAll anti-multiset
        shuffles. All fully distributed — nothing materializes on the
        driver. ``to_version=None`` means the current contents.
        """
        tbl = self.get_table(catalog, schema, name)
        if tbl.file_type == FileType.DELTA:
            from .sources import delta_py

            fast = delta_py.appended_changes(
                self._require_spark(),
                _io.strip_file_scheme(tbl.storage_location or ""),
                from_version,
                to_version,
            )
            if fast is not None:
                return fast
        keys = tbl.default_merge_columns()
        if tbl.file_type == FileType.ICEBERG and not keys:
            # Iceberg fast path: NET changes from the changelog scan —
            # O(changed data) instead of two full-snapshot scans + an
            # exceptAll diff. Gross insert/delete rows net out by full
            # row (a row inserted then deleted inside the range
            # vanishes, matching the old-vs-new diff's semantics).
            # Equality-delete and deletion-vector snapshots
            # reconstruct row-level (r11); only ranges the changelog
            # cannot express (full overwrites / rewritten entries)
            # fall back to the generic diff — probed DRIVER-SIDE so
            # the failure cannot surface lazily at action time.
            fast = self._iceberg_net_changes(
                tbl, from_version, to_version
            )
            if fast is not None:
                return fast
        old = self.read_table(catalog, schema, name, version=from_version)
        new = self.read_table(catalog, schema, name, version=to_version)
        ct = "_change_type"
        if not keys:
            ins = new.exceptAll(old).withColumn(ct, F.lit("insert"))
            dels = old.exceptAll(new).withColumn(ct, F.lit("delete"))
            return ins.unionByName(dels)
        cols = new.columns
        non_keys = [c for c in cols if c not in keys]
        # explicit presence sentinels — key columns may themselves be
        # NULL, so key-null is not a valid "row absent" probe
        o = old.withColumn("__p", F.lit(True)).alias("o")
        n = new.withColumn("__p", F.lit(True)).alias("n")
        cond = [o[k].eqNullSafe(n[k]) for k in keys]
        joined = o.join(n, cond, "full_outer")
        o_here = o["__p"].isNotNull()
        n_here = n["__p"].isNotNull()
        differs = (
            F.lit(False)
            if not non_keys
            else ~F.struct(*[o[c] for c in non_keys]).eqNullSafe(
                F.struct(*[n[c] for c in non_keys])
            )
        )
        inserts = joined.filter(~o_here & n_here).select(
            *[n[c] for c in cols], F.lit("insert").alias(ct)
        )
        deletes = joined.filter(~n_here & o_here).select(
            *[o[c] for c in cols], F.lit("delete").alias(ct)
        )
        upd = joined.filter(o_here & n_here).filter(differs)
        pre = upd.select(
            *[o[c] for c in cols], F.lit("update_preimage").alias(ct)
        )
        post = upd.select(
            *[n[c] for c in cols], F.lit("update_postimage").alias(ct)
        )
        return inserts.unionByName(deletes).unionByName(pre).unionByName(post)

    def _iceberg_net_changes(
        self, tbl: Table, from_version: int, to_version: Optional[int]
    ) -> Optional[DataFrame]:
        """Changelog-backed CDC between two Iceberg snapshots, netted
        by full row; None when the range isn't changelog-expressible
        (caller falls back to the snapshot diff)."""
        from .sources import pyiceberg_source

        spark = self._require_spark()
        path = _io.strip_file_scheme(tbl.storage_location or "")
        opts = {"path": path, "startsnapshotid": str(from_version)}
        if to_version is not None:
            opts["endsnapshotid"] = str(to_version)
        try:
            # driver-side probe: the same planning the Spark workers
            # will redo — raises on overwrite/equality ranges HERE
            # instead of lazily inside a worker at action time
            pyiceberg_source._PyIcebergChangelogBatchReader(
                opts
            ).partitions()
        except UnsupportedOperationError:
            return None
        pyiceberg_source.register(spark)
        reader = (
            spark.read.format("pyiceberg")
            .option("changelog", "true")
            .option("startSnapshotId", str(from_version))
        )
        if to_version is not None:
            reader = reader.option("endSnapshotId", str(to_version))
        df = reader.load(path)
        cols = [
            c
            for c in df.columns
            if c
            not in (
                "_change_type",
                "_commit_snapshot_id",
                "_commit_timestamp",
            )
        ]
        sign = F.when(
            F.col("_change_type") == "insert", F.lit(1)
        ).otherwise(F.lit(-1))
        net = (
            df.groupBy(*cols)
            .agg(F.sum(sign).alias("__net"))
            .filter("__net != 0")
        )
        return net.select(
            *cols,
            F.when(F.col("__net") > 0, F.lit("insert"))
            .otherwise(F.lit("delete"))
            .alias("_change_type"),
            F.explode(
                F.sequence(F.lit(1), F.abs(F.col("__net")))
            ).alias("__i"),
        ).drop("__i")

    # -- Constraints & statistics (beyond the reference) --------------------

    CONSTRAINT_PREFIX = "llh.constraint."
    STATS_PROPERTY = "llh.stats"

    @staticmethod
    def _violations(df: DataFrame, predicate: str) -> DataFrame:
        from pyspark.sql import functions as F

        # SQL CHECK semantics: a row passes when the predicate is TRUE
        # or NULL; only FALSE is a violation.
        return df.filter(~F.coalesce(F.expr(predicate), F.lit(True)))

    def _check_constraints(self, df: DataFrame, tbl: Table) -> None:
        for key, predicate in (tbl.properties or {}).items():
            if not key.startswith(self.CONSTRAINT_PREFIX):
                continue
            bad = self._violations(df, predicate).limit(1).collect()
            if bad:
                raise ConstraintViolationError(
                    f"write to {tbl.full_name} violates CHECK constraint "
                    f"{key.removeprefix(self.CONSTRAINT_PREFIX)!r} "
                    f"({predicate}); example row: {bad[0].asDict()}"
                )

    def add_table_constraint(
        self, catalog: str, schema: str, name: str,
        constraint_name: str, predicate: str,
    ) -> Table:
        """Delta-style CHECK constraint for ANY format: stored as a
        table property, validated against existing data now and
        against every future write by the write matrix. The existing-
        data scan and per-write check are each one distributed filter
        with an early-out limit(1) — the same cost Delta pays."""
        tbl = self.get_table(catalog, schema, name)
        current = _io.read_table(self._require_spark(), tbl)
        bad = self._violations(current, predicate).limit(1).collect()
        if bad:
            raise ConstraintViolationError(
                f"existing data in {tbl.full_name} violates {predicate!r}; "
                f"example row: {bad[0].asDict()}"
            )
        if tbl.properties is None:
            tbl.properties = {}
        tbl.properties[self.CONSTRAINT_PREFIX + constraint_name] = predicate
        return self.update_table(tbl)

    def drop_table_constraint(
        self, catalog: str, schema: str, name: str, constraint_name: str
    ) -> Table:
        tbl = self.get_table(catalog, schema, name)
        (tbl.properties or {}).pop(self.CONSTRAINT_PREFIX + constraint_name, None)
        return self.update_table(tbl)

    def table_constraints(
        self, catalog: str, schema: str, name: str
    ) -> dict[str, str]:
        tbl = self.get_table(catalog, schema, name)
        return {
            k.removeprefix(self.CONSTRAINT_PREFIX): v
            for k, v in (tbl.properties or {}).items()
            if k.startswith(self.CONSTRAINT_PREFIX)
        }

    def analyze_table(
        self, catalog: str, schema: str, name: str, with_ndv: bool = True
    ) -> dict:
        """ANALYZE TABLE analog: one aggregation pass computes row
        count and per-column null count / min / max / approx NDV
        (HLL-based — mergeable, bounded memory at any scale), stored
        as a table property for planners and humans. Nested/binary
        columns get null counts only (not orderable)."""
        import json

        from pyspark.sql import functions as F

        tbl = self.get_table(catalog, schema, name)
        df = _io.read_table(self._require_spark(), tbl)
        plain = [
            (f.name, f.dataType.simpleString())
            for f in df.schema.fields
        ]
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for i, (c, dt) in enumerate(plain):
            aggs.append(F.count(F.col(c)).alias(f"__nn_{i}"))
            if not dt.startswith(("array", "map", "struct", "binary")):
                aggs.append(F.min(F.col(c)).alias(f"__mn_{i}"))
                aggs.append(F.max(F.col(c)).alias(f"__mx_{i}"))
                if with_ndv:
                    aggs.append(
                        F.approx_count_distinct(F.col(c)).alias(f"__nd_{i}")
                    )
        row = df.agg(*aggs).first().asDict()
        stats: dict = {"row_count": row["__rows"], "columns": {}}
        for i, (c, dt) in enumerate(plain):
            col_stats = {"null_count": row["__rows"] - row[f"__nn_{i}"]}
            if f"__mn_{i}" in row:
                col_stats["min"] = row[f"__mn_{i}"]
                col_stats["max"] = row[f"__mx_{i}"]
            if f"__nd_{i}" in row:
                col_stats["approx_ndv"] = row[f"__nd_{i}"]
            stats["columns"][c] = col_stats
        if tbl.properties is None:
            tbl.properties = {}
        tbl.properties[self.STATS_PROPERTY] = json.dumps(stats, default=str)
        self.update_table(tbl)
        return stats

    def table_stats(
        self, catalog: str, schema: str, name: str
    ) -> Optional[dict]:
        """Stats recorded by the last analyze_table run, or None."""
        import json

        tbl = self.get_table(catalog, schema, name)
        raw = (tbl.properties or {}).get(self.STATS_PROPERTY)
        return json.loads(raw) if raw else None

    def vacuum_table(
        self, catalog: str, schema: str, name: str, keep: int = 0
    ) -> list[int]:
        """Drop retained snapshots beyond the newest ``keep``;
        returns the versions removed (VACUUM analog)."""
        tbl = self.get_table(catalog, schema, name)
        return _io.vacuum_snapshots(
            tbl.storage_location.removeprefix("file://"), keep=keep
        )

    def scan_table(self, catalog: str, schema: str, name: str) -> DataFrame:
        """Parity: client.py:316-321 — Spark DataFrames are always lazy,
        so scan ≡ read (SURVEY §1.3); both names kept for API parity.
        """
        return self.read_table(catalog, schema, name)

    def write_table(
        self,
        df: DataFrame,
        catalog: str,
        schema: str,
        name: str,
        mode: Union[str, WriteMode] = WriteMode.APPEND,
        schema_evolution: Union[str, SchemaEvolution] = SchemaEvolution.STRICT,
        partition_filters: Optional[list[tuple[str, str, object]]] = None,
        replace_where: Optional[str] = None,
    ) -> None:
        """Parity: client.py:351-399 — write + post-write schema
        reconciliation into the metastore (client.py:394-399).
        """
        mode = to_write_mode(mode)
        schema_evolution = to_schema_evolution(schema_evolution)
        tbl = self.get_table(catalog, schema, name)
        self._check_constraints(df, tbl)
        new_cols = _io.write_table(
            self._require_spark(),
            df,
            tbl,
            mode,
            schema_evolution,
            partition_filters=partition_filters,
            replace_where=replace_where,
        )
        if new_cols is not None:
            tbl.columns = new_cols
            self.metastore.overwrite_table(tbl)

    def create_as_table(
        self,
        df: DataFrame,
        catalog: str,
        schema: str,
        name: str,
        file_type: Union[str, FileType] = FileType.PARQUET,
        table_type: Union[str, TableType] = TableType.EXTERNAL,
        location: Optional[str] = None,
        partition_cols: Optional[list[str]] = None,
    ) -> Table:
        """Infer schema → create catalog entry → write OVERWRITE.

        Parity: client.py:429-487 (CTAS).
        """
        file_type = to_file_type(file_type)
        table_type = to_table_type(table_type)
        if location is None:
            raise UnsupportedOperationError(
                "location is required (only EXTERNAL tables are supported)"
            )
        if partition_cols and file_type not in (FileType.DELTA, FileType.PARQUET):
            # Parity: client.py:464-467.
            raise UnsupportedOperationError(
                "Only DELTA and PARQUET tables support partitioning"
            )
        cols = spark_schema_to_uc_columns(df.schema, partition_cols)
        tbl = Table(
            name=name,
            catalog_name=catalog,
            schema_name=schema,
            table_type=table_type,
            file_type=file_type,
            columns=cols,
            storage_location=self._normalize_location(location),
        )
        created = self.create_table(tbl)
        try:
            self.write_table(
                df, catalog, schema, name, WriteMode.OVERWRITE, SchemaEvolution.STRICT
            )
        except Exception:
            self.metastore.delete_table(catalog, schema, name)
            raise
        return created

    def register_as_table(
        self,
        catalog: str,
        schema: str,
        name: str,
        file_type: Union[str, FileType],
        location: str,
        partition_cols: Optional[list[str]] = None,
    ) -> Table:
        """Register an EXISTING file/dir: infer schema by reading it, then
        create the catalog entry. Parity: client.py:489-535 (incl. bare
        path → file:// normalization at client.py:506-511 and the
        DELTA/PARQUET-only partition_cols guard at client.py:523-527).
        """
        file_type = to_file_type(file_type)
        if partition_cols and file_type not in (FileType.DELTA, FileType.PARQUET):
            raise UnsupportedOperationError(
                "Only DELTA and PARQUET tables support partitioning"
            )
        df = _io.read_format_path(
            self._require_spark(), file_type, location, None
        )
        cols = spark_schema_to_uc_columns(df.schema, partition_cols)
        tbl = Table(
            name=name,
            catalog_name=catalog,
            schema_name=schema,
            table_type=TableType.EXTERNAL,
            file_type=file_type,
            columns=cols,
            storage_location=self._normalize_location(location),
        )
        return self.create_table(tbl)

    def optimize_table(
        self,
        catalog: str,
        schema: str,
        name: str,
        target_files: Optional[int] = None,
        target_file_bytes: int = 128 * 1024 * 1024,
        zorder_by: Optional[list[str]] = None,
        where: Optional[str] = None,
    ) -> int:
        """Compact a table's small files (the OPTIMIZE / bin-packing
        analog — beyond the reference, which has no maintenance ops).

        Reads the table, coalesces to ``target_files`` (or an estimate
        from the table's on-disk size / ``target_file_bytes``), and
        rewrites it atomically via the overwrite path, preserving
        schema and hive partitioning. Returns the file count written.

        ``zorder_by``: cluster the rewrite along a Morton curve over
        the given columns (OPTIMIZE ZORDER BY analog — see
        operators/layout.py) so min/max file stats prune on every
        listed column, not just a lead sort key.

        Scale note: DELTA tables (default compaction, no zorder_by /
        explicit target_files) take delta_py.compact — true OPTIMIZE
        bin-packing that rewrites ONLY sub-target files per partition
        and commits dataChange=false, so the op is O(small files) and
        invisible to streaming/CDC readers. Other cases rewrite: at
        100 TB you run those per partition predicate (compact
        yesterday's partition), not table-wide. Uses coalesce
        (narrow — no shuffle) when shrinking file count without
        reclustering; zorder_by pays one range shuffle.
        """
        import glob as _glob

        tbl = self.get_table(catalog, schema, name)
        if tbl.file_type == FileType.ICEBERG:
            # Iceberg OPTIMIZE = rewrite_data_files: bin-pack, or the
            # 'sort' strategy when columns are named (lexicographic
            # multi-column sort — iceberg-spark's sort rewrite; the
            # Morton-curve variant stays the Delta/parquet path's).
            # Committed as one REPLACE snapshot; delete files absorb.
            if where is not None:
                raise UnsupportedOperationError(
                    "OPTIMIZE WHERE is not supported for ICEBERG "
                    "tables (run partition-scoped rewrites via "
                    "replaceWhere instead)"
                )
            from .sources import iceberg_py

            path = _io.strip_file_scheme(tbl.storage_location or "")
            meta = iceberg_py.compact_data_files(
                self._require_spark(),
                path,
                target_num_files=int(target_files or 1),
                sort_by=zorder_by,
            )
            snap = iceberg_py._select_snapshot(meta)
            data, _p, _e = iceberg_py._snapshot_files(
                meta, snap, path
            )
            return len(data)
        if tbl.file_type not in (FileType.PARQUET, FileType.DELTA):
            raise UnsupportedOperationError(
                "optimize_table supports PARQUET/DELTA/ICEBERG tables"
            )
        spark = self._require_spark()
        path = tbl.storage_location.removeprefix("file://")
        if (
            tbl.file_type == FileType.DELTA
            and not zorder_by
            and target_files is None
        ):
            # Real OPTIMIZE bin-packing: rewrite ONLY the small files,
            # commit dataChange=false (invisible to streaming/CDC),
            # keep time travel. A full rewrite is the wrong op at
            # 100 TB; this touches O(small files). ``where`` scopes
            # compaction to matching partitions.
            from .sources import delta_py

            delta_py.compact(
                spark, path,
                target_file_bytes=target_file_bytes,
                where=where,
            )
            return len(
                delta_py.DeltaLog(path)
                .snapshot(allow=delta_py.BATCH_READ_FEATURES)
                .adds
            )
        if where is not None:
            raise UnsupportedOperationError(
                "OPTIMIZE ... WHERE requires a DELTA table without "
                "zorder_by/target_files overrides"
            )
        if target_files is None:
            on_disk = sum(
                os.path.getsize(f)
                for f in _glob.glob(f"{path}/**/*.parquet", recursive=True)
            ) or os.path.getsize(path)
            target_files = max(1, on_disk // target_file_bytes)
        df = _io.read_table(spark, tbl)
        if zorder_by:
            from .operators.layout import zorder_layout

            df = zorder_layout(df, zorder_by, int(target_files))
        else:
            df = df.coalesce(int(target_files))
        self.write_table(
            df, catalog, schema, name,
            mode=WriteMode.OVERWRITE,
            schema_evolution=SchemaEvolution.STRICT,
        )
        return int(target_files)

    def clone_table(
        self,
        catalog: str,
        schema: str,
        name: str,
        src_catalog: str,
        src_schema: str,
        src_name: str,
        location: str,
    ) -> Table:
        """``CREATE TABLE c.s.t SHALLOW CLONE c2.s2.t2 LOCATION ...``
        — a zero-copy metadata-only snapshot of a DELTA table
        (delta_py.shallow_clone): the clone references the source's
        files by absolute path and evolves independently (appends, DV
        deletes, OPTIMIZE, time travel of its own). Registers the
        clone in the metastore and returns its Table."""
        src = self.get_table(src_catalog, src_schema, src_name)
        if src.file_type != FileType.DELTA:
            raise UnsupportedOperationError(
                "SHALLOW CLONE requires a DELTA table"
            )
        from .sources import delta_py

        dest = _io.strip_file_scheme(location)
        delta_py.shallow_clone(
            _io.strip_file_scheme(src.storage_location or ""), dest
        )
        return self.register_as_table(catalog, schema, name, "DELTA", dest)

    def purge_table(self, catalog: str, schema: str, name: str) -> int:
        """``REORG TABLE c.s.t APPLY (PURGE)`` — materialize deletion
        vectors by physically rewriting ONLY the DV-bearing files
        (delta_py.purge); DV-free files are untouched and the commit
        is ``dataChange=false`` (invisible to streaming/CDC readers).
        Returns the number of files purged (0 = no DVs, no commit).

        Completes the row-level lifecycle: ``delete_where``/
        ``update_where`` keep deletes metadata-speed, purge amortizes
        the rewrite into maintenance, ``vacuum`` reclaims the
        superseded data + DV files."""
        tbl = self.get_table(catalog, schema, name)
        if tbl.file_type != FileType.DELTA:
            raise UnsupportedOperationError(
                "REORG ... APPLY (PURGE) requires a DELTA table"
            )
        spark = self._require_spark()
        path = _io.strip_file_scheme(tbl.storage_location or "")
        from .sources import delta_py

        purged = len(
            delta_py.DeltaLog(path)
            .snapshot(allow=delta_py.BATCH_READ_FEATURES)
            .dv_adds
        )
        if purged:
            delta_py.purge(spark, path)
        return purged

    @staticmethod
    def _normalize_location(location: str) -> str:
        if location.startswith("file://"):
            return location
        return "file://" + os.path.abspath(location)

    def merge_table(
        self,
        df: DataFrame,
        catalog: str,
        schema: str,
        name: str,
        condition: Optional[str] = None,
        source_alias: str = "s",
        target_alias: str = "t",
        schema_evolution: bool = False,
    ):
        """Parity: client.py:401-427. Returns a chainable merger. The
        merged result passes the same CHECK-constraint gate as
        write_table before committing (ADVICE r1).
        ``schema_evolution`` = delta-spark's ``withSchemaEvolution()``
        (new source columns evolve the target, nullable)."""
        tbl = self.get_table(catalog, schema, name)
        merger = _merge_table(
            self._require_spark(), tbl, df, condition, source_alias, target_alias,
            validate=lambda result: self._check_constraints(result, tbl),
            schema_evolution=schema_evolution,
        )
        if schema_evolution:
            # post-execute schema reconciliation into the metastore,
            # the same contract write_table keeps (client.py:394-399).
            # The columns come from the schema the merge committed: a
            # read would bind to the catalog's old columns.
            orig_execute = merger.execute

            def _execute_and_sync() -> None:
                orig_execute()
                if merger.written_schema is not None:
                    self._sync_columns(
                        self.get_table(catalog, schema, name),
                        merger.written_schema,
                    )

            merger.execute = _execute_and_sync  # type: ignore[method-assign]
        return merger

    # -- SQL -----------------------------------------------------------------

    _IDENT = r'("[^"]+"|`[^`]+`|\w+)'
    _DELETE_RE = re.compile(
        r"^DELETE\s+FROM\s+"
        + rf"{_IDENT}\.{_IDENT}\.{_IDENT}"
        + r"(?:\s+WHERE\s+(.*))?$",
        re.IGNORECASE | re.DOTALL,
    )
    _UPDATE_RE = re.compile(
        r"^UPDATE\s+"
        + rf"{_IDENT}\.{_IDENT}\.{_IDENT}"
        + r"\s+SET\s+(.*)$",
        re.IGNORECASE | re.DOTALL,
    )
    _INSERT_RE = re.compile(
        r"^INSERT\s+(INTO|OVERWRITE)\s+"
        + rf"{_IDENT}\.{_IDENT}\.{_IDENT}\s+"
        + r"(SELECT|VALUES|WITH)\b(.*)$",
        re.IGNORECASE | re.DOTALL,
    )
    _MERGE_RE = re.compile(
        r"^MERGE\s+INTO\s+"
        + rf"{_IDENT}\.{_IDENT}\.{_IDENT}"
        + r"(?:\s+(?:AS\s+)?(?!USING\b)(\w+))?"
        + r"\s+USING\s+(.*)$",
        re.IGNORECASE | re.DOTALL,
    )
    _CLONE_RE = re.compile(
        r"^CREATE\s+TABLE\s+"
        + rf"{_IDENT}\.{_IDENT}\.{_IDENT}"
        + r"\s+SHALLOW\s+CLONE\s+"
        + rf"{_IDENT}\.{_IDENT}\.{_IDENT}"
        + r"\s+LOCATION\s+'([^']+)'\s*$",
        re.IGNORECASE,
    )
    _CTAS_RE = re.compile(
        r"^CREATE\s+TABLE\s+"
        + rf"{_IDENT}\.{_IDENT}\.{_IDENT}\s+"
        + r"(?:USING\s+(\w+)\s+)?"
        + r"(?:LOCATION\s+'([^']+)'\s+)?"
        + r"AS\s+(.*)$",
        re.IGNORECASE | re.DOTALL,
    )
    _RESTORE_RE = re.compile(
        r"^RESTORE\s+TABLE\s+"
        + rf"{_IDENT}\.{_IDENT}\.{_IDENT}"
        + r"\s+TO\s+(VERSION|TIMESTAMP)\s+AS\s+OF\s+(\d+|'[^']*')\s*$",
        re.IGNORECASE,
    )
    _CONVERT_RE = re.compile(
        r"^CONVERT\s+TO\s+DELTA\s+"
        + rf"{_IDENT}\.{_IDENT}\.{_IDENT}\s*$",
        re.IGNORECASE,
    )
    _CONVERT_ICE_RE = re.compile(
        r"^CONVERT\s+TO\s+ICEBERG\s+"
        + rf"{_IDENT}\.{_IDENT}\.{_IDENT}\s*$",
        re.IGNORECASE,
    )
    _VACUUM_RE = re.compile(
        r"^VACUUM\s+"
        + rf"{_IDENT}\.{_IDENT}\.{_IDENT}"
        + r"(?:\s+RETAIN\s+(\d+)\s+HOURS)?(?:\s+(DRY\s+RUN))?\s*$",
        re.IGNORECASE,
    )
    _HISTORY_RE = re.compile(
        r"^DESCRIBE\s+HISTORY\s+"
        + rf"{_IDENT}\.{_IDENT}\.{_IDENT}\s*$",
        re.IGNORECASE,
    )
    _DETAIL_RE = re.compile(
        r"^DESCRIBE\s+DETAIL\s+"
        + rf"{_IDENT}\.{_IDENT}\.{_IDENT}\s*$",
        re.IGNORECASE,
    )
    _OPTIMIZE_RE = re.compile(
        r"^OPTIMIZE\s+"
        + rf"{_IDENT}\.{_IDENT}\.{_IDENT}"
        + r"(?:\s+WHERE\s+(.+?))?"
        + r"(?:\s+ZORDER\s+BY\s+\(([^)]*)\))?\s*$",
        re.IGNORECASE | re.DOTALL,
    )
    _ALTER_PART_RE = re.compile(
        r"^ALTER\s+TABLE\s+"
        + rf"{_IDENT}\.{_IDENT}\.{_IDENT}"
        + r"\s+(ADD|DROP)\s+PARTITION\s+FIELD\s+(.+?)\s*$",
        re.IGNORECASE | re.DOTALL,
    )
    def _iceberg_path(
        self, cat: str, sch: str, tbl: str, op: str
    ) -> str:
        """Resolve + gate: the op needs an ICEBERG table; returns its
        scheme-stripped path."""
        table = self.get_table(cat, sch, tbl)
        if table.file_type != FileType.ICEBERG:
            raise UnsupportedOperationError(
                f"{op} requires an ICEBERG table; "
                f"{table.full_name} is {table.file_type.value}"
            )
        return _io.strip_file_scheme(table.storage_location or "")

    _BRANCH_RE = re.compile(
        r"^ALTER\s+TABLE\s+"
        + rf"{_IDENT}\.{_IDENT}\.{_IDENT}"
        + r"\s+(CREATE|DROP)\s+(BRANCH|TAG)\s+(\w+)"
        + r"(?:\s+AS\s+OF\s+VERSION\s+(\d+))?\s*$",
        re.IGNORECASE,
    )
    _ADD_COLUMN_RE = re.compile(
        r"^ALTER\s+TABLE\s+"
        + rf"{_IDENT}\.{_IDENT}\.{_IDENT}"
        + r"\s+ADD\s+COLUMN\s+(\w+)\s+(\w+)"
        + r"(?:\s+DEFAULT\s+('(?:[^']|'')*'|[-\d.]+|TRUE|FALSE))?"
        + r"\s*$",
        re.IGNORECASE,
    )
    _COLUMN_DEFAULT_RE = re.compile(
        r"^ALTER\s+TABLE\s+"
        + rf"{_IDENT}\.{_IDENT}\.{_IDENT}"
        + r"\s+ALTER\s+COLUMN\s+(\w+)\s+"
        + r"(?:SET\s+DEFAULT\s+(.+?)|(DROP\s+DEFAULT))\s*$",
        re.IGNORECASE | re.DOTALL,
    )
    _WRITE_ORDERED_RE = re.compile(
        r"^ALTER\s+TABLE\s+"
        + rf"{_IDENT}\.{_IDENT}\.{_IDENT}"
        + r"\s+WRITE\s+(?:ORDERED\s+BY\s+(.+?)|(UNORDERED))\s*$",
        re.IGNORECASE | re.DOTALL,
    )
    _RENAME_COLUMN_RE = re.compile(
        r"^ALTER\s+TABLE\s+"
        + rf"{_IDENT}\.{_IDENT}\.{_IDENT}"
        + r"\s+RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)\s*$",
        re.IGNORECASE,
    )
    _DROP_COLUMN_RE = re.compile(
        r"^ALTER\s+TABLE\s+"
        + rf"{_IDENT}\.{_IDENT}\.{_IDENT}"
        + r"\s+DROP\s+COLUMN\s+(\w+)\s*$",
        re.IGNORECASE,
    )
    _FAST_FORWARD_RE = re.compile(
        r"^ALTER\s+TABLE\s+"
        + rf"{_IDENT}\.{_IDENT}\.{_IDENT}"
        + r"\s+FAST\s+FORWARD\s+(\w+)\s+TO\s+(\w+)\s*$",
        re.IGNORECASE,
    )
    _ADD_CONSTRAINT_RE = re.compile(
        r"^ALTER\s+TABLE\s+"
        + rf"{_IDENT}\.{_IDENT}\.{_IDENT}"
        + r"\s+ADD\s+CONSTRAINT\s+(\w+)\s+CHECK\s*\((.*)\)\s*$",
        re.IGNORECASE | re.DOTALL,
    )
    _DROP_CONSTRAINT_RE = re.compile(
        r"^ALTER\s+TABLE\s+"
        + rf"{_IDENT}\.{_IDENT}\.{_IDENT}"
        + r"\s+DROP\s+CONSTRAINT\s+(\w+)\s*$",
        re.IGNORECASE,
    )
    _TBLPROPS_RE = re.compile(
        r"^ALTER\s+TABLE\s+"
        + rf"{_IDENT}\.{_IDENT}\.{_IDENT}"
        + r"\s+(SET|UNSET)\s+TBLPROPERTIES\s*\((.*)\)\s*$",
        re.IGNORECASE | re.DOTALL,
    )
    _REORG_RE = re.compile(
        r"^REORG\s+TABLE\s+"
        + rf"{_IDENT}\.{_IDENT}\.{_IDENT}"
        + r"\s+APPLY\s*\(\s*PURGE\s*\)\s*$",
        re.IGNORECASE,
    )
    _SHOW_RE = re.compile(
        r"^SHOW\s+(CATALOGS|SCHEMAS|TABLES)"
        + rf"(?:\s+IN\s+{_IDENT}(?:\.{_IDENT})?)?\s*$",
        re.IGNORECASE,
    )

    @staticmethod
    def _unquote_name(part: str) -> str:
        if part[:1] == '"' and part[-1:] == '"':
            return part[1:-1].replace('""', '"')
        if part[:1] == "`" and part[-1:] == "`":
            return part[1:-1].replace("``", "`")
        return part

    def sql(self, query: str) -> DataFrame:
        """Run SQL referencing ``catalog.schema.table`` names.

        Resolution: every three-part name that exists in the metastore
        is registered as a temp view over its (lazy) scan and the query
        text is rewritten to the view name; unknown names are left for
        Spark to resolve (error parity with the reference where DuckDB
        raises on unknown tables). Parity: client.py:537-544.

        The rewrite is tokenizer-based (sqlnames.py): names inside
        string literals, line/block comments, and quoted identifiers
        are never touched, and ``a.b.c.d`` chains are left intact.
        Both ANSI double-quote and Spark backtick quoting work.

        Beyond the reference (whose SQL surface is read-only,
        README.md:29-31): ``INSERT INTO|OVERWRITE c.s.t SELECT ...``,
        ``CREATE TABLE c.s.t [USING fmt] [LOCATION '...'] AS
        SELECT ...``, ``DELETE FROM``, ``UPDATE ... SET``, and the
        full ``MERGE INTO ... USING ... ON ... WHEN ...`` statement
        (_compile_merge) route through the governed write matrix
        (write_table / create_as_table / merge_table) — same schema
        checks, same constraint gate, same metastore bookkeeping as
        the DataFrame API, never a raw path write.
        """
        spark = self._require_spark()
        stmt = _sqlnames.strip_leading_trivia(query)

        m = self._DELETE_RE.match(stmt)
        if m:
            cat, sch, tbl, pred = m.groups()
            n = self.delete_from(
                self._unquote_name(cat),
                self._unquote_name(sch),
                self._unquote_name(tbl),
                pred if pred is not None else "true",
            )
            return spark.createDataFrame([(n,)], "rows_affected long")
        m = self._UPDATE_RE.match(stmt)
        if m:
            cat, sch, tbl, tail = m.groups()
            where_at = _sqlnames.find_top_level_keyword(tail, "WHERE")
            set_part, pred = (
                (tail[:where_at], tail[where_at + len("WHERE"):])
                if where_at >= 0
                else (tail, "true")
            )
            assignments: dict[str, str] = {}
            for piece in _sqlnames.split_top_level(set_part):
                col, _, expr = piece.partition("=")
                assignments[self._unquote_name(col.strip())] = expr.strip()
            n = self.update_rows(
                self._unquote_name(cat),
                self._unquote_name(sch),
                self._unquote_name(tbl),
                assignments,
                pred.strip(),
            )
            return spark.createDataFrame([(n,)], "rows_affected long")
        m = self._INSERT_RE.match(stmt)
        if m:
            verb, cat, sch, tbl, kw, rest = m.groups()
            df = self.sql(kw + rest)
            self.write_table(
                df,
                self._unquote_name(cat),
                self._unquote_name(sch),
                self._unquote_name(tbl),
                mode=WriteMode.APPEND
                if verb.upper() == "INTO"
                else WriteMode.OVERWRITE,
                schema_evolution=SchemaEvolution.STRICT,
            )
            return spark.createDataFrame([], "rows string")
        m = self._MERGE_RE.match(stmt)
        if m:
            return self._compile_merge(m)
        m = self._RESTORE_RE.match(stmt)
        if m:
            cat, sch, tbl, kind, lit = m.groups()
            cat, sch, tbl = (
                self._unquote_name(g) for g in (cat, sch, tbl)
            )
            if kind.upper() == "VERSION":
                self.restore_table(cat, sch, tbl, version=int(lit))
            else:
                self.restore_table(
                    cat, sch, tbl,
                    timestamp=lit.strip("'"),
                )
            return spark.createDataFrame([], "rows string")
        m = self._CONVERT_RE.match(stmt)
        if m:
            cat, sch, tbl = (self._unquote_name(g) for g in m.groups())
            self.convert_table_to_delta(cat, sch, tbl)
            return spark.createDataFrame([], "rows string")
        m = self._CONVERT_ICE_RE.match(stmt)
        if m:
            cat, sch, tbl = (self._unquote_name(g) for g in m.groups())
            self.convert_table_to_iceberg(cat, sch, tbl)
            return spark.createDataFrame([], "rows string")
        m = self._VACUUM_RE.match(stmt)
        if m:
            cat, sch, tbl, hours, dry = m.groups()
            table = self.get_table(
                self._unquote_name(cat),
                self._unquote_name(sch),
                self._unquote_name(tbl),
            )
            path = _io.strip_file_scheme(table.storage_location or "")
            if table.file_type == FileType.DELTA:
                from .sources import delta_py

                deleted = delta_py.vacuum(
                    path,
                    retain_hours=float(hours) if hours else 168.0,
                    dry_run=dry is not None,
                )
                if dry is not None:
                    # delta-spark DRY RUN shape: one row per candidate
                    return spark.createDataFrame(
                        [(p,) for p in deleted], "path string"
                    )
                return spark.createDataFrame(
                    [(len(deleted),)], "files_deleted long"
                )
            if table.file_type == FileType.ICEBERG:
                # Iceberg VACUUM = expire_snapshots + orphan cleanup:
                # drop snapshots older than the retention window and
                # delete files no surviving snapshot references.
                if dry is not None:
                    raise UnsupportedOperationError(
                        "VACUUM ... DRY RUN requires a DELTA table"
                    )
                import time as _time

                from .sources import iceberg_py

                res = iceberg_py.expire_snapshots(
                    path,
                    older_than_ms=int(
                        (
                            _time.time()
                            - (float(hours) if hours else 168.0)
                            * 3600
                        )
                        * 1000
                    ),
                )
                return spark.createDataFrame(
                    [
                        (
                            len(res["expired"]),
                            len(res["deleted_files"]),
                        )
                    ],
                    "snapshots_expired long, files_deleted long",
                )
            if dry is not None:
                raise UnsupportedOperationError(
                    "VACUUM ... DRY RUN requires a DELTA table"
                )
            removed = self.vacuum_table(
                self._unquote_name(cat),
                self._unquote_name(sch),
                self._unquote_name(tbl),
            )
            return spark.createDataFrame(
                [(len(removed),)], "versions_removed long"
            )
        m = self._HISTORY_RE.match(stmt)
        if m:
            cat, sch, tbl = (self._unquote_name(g) for g in m.groups())
            table = self.get_table(cat, sch, tbl)
            if table.file_type == FileType.DELTA:
                return self.get_delta_table(cat, sch, tbl).history()
            if table.file_type == FileType.ICEBERG:
                # the Iceberg `history` metadata-table shape
                from .sources import iceberg_py

                meta = iceberg_py.table_metadata(
                    _io.strip_file_scheme(
                        table.storage_location or ""
                    )
                )
                cur = meta.get("current-snapshot-id")
                chain = iceberg_py.current_ancestors(meta)
                rows = [
                    (
                        int(s["snapshot-id"]),
                        int(s.get("sequence-number") or 0),
                        int(s["timestamp-ms"]),
                        (s.get("summary") or {}).get("operation"),
                        (
                            int(s["parent-snapshot-id"])
                            if "parent-snapshot-id" in s
                            else None
                        ),
                        int(s["snapshot-id"]) == cur,
                        (
                            int(s["snapshot-id"]) in chain
                            if chain is not None
                            else True
                        ),
                    )
                    for s in sorted(
                        meta.get("snapshots") or [],
                        key=lambda s: int(
                            s.get("sequence-number") or 0
                        ),
                    )
                ]
                return spark.createDataFrame(
                    rows,
                    "snapshot_id long, sequence_number long, "
                    "made_current_at_ms long, operation string, "
                    "parent_id long, is_current boolean, "
                    "is_current_ancestor boolean",
                )
            return spark.createDataFrame(
                [(v,) for v in self.table_history(cat, sch, tbl)],
                "version long",
            )
        m = self._DETAIL_RE.match(stmt)
        if m:
            cat, sch, tbl = (self._unquote_name(g) for g in m.groups())
            table = self.get_table(cat, sch, tbl)
            if table.file_type == FileType.DELTA:
                return self.get_delta_table(cat, sch, tbl).detail()
            if table.file_type == FileType.ICEBERG:
                # live-snapshot stats from the MANIFESTS (metadata
                # only — a filesystem walk would count retired files)
                from .sources import iceberg_py

                path = _io.strip_file_scheme(
                    table.storage_location or ""
                )
                meta = iceberg_py.table_metadata(path)
                try:
                    snap = iceberg_py._select_snapshot(meta)
                    data, _p, _e = iceberg_py._snapshot_files(
                        meta, snap, path
                    )
                except DoesNotExistError:
                    data = []
                return spark.createDataFrame(
                    [
                        (
                            table.table_id,
                            "iceberg",
                            table.storage_location,
                            iceberg_py.current_partition_by(meta),
                            len(data),
                            sum(
                                int(d.get("file_size_in_bytes") or 0)
                                for d in data
                            ),
                            dict(meta.get("properties") or {}),
                        )
                    ],
                    "id string, format string, location string, "
                    "partitionColumns array<string>, numFiles long, "
                    "sizeInBytes long, properties map<string,string>",
                )
            import glob as _glob

            path = _io.strip_file_scheme(table.storage_location or "")
            files = (
                _glob.glob(f"{path}/**/*.parquet", recursive=True)
                if os.path.isdir(path)
                else [path]
            )
            return spark.createDataFrame(
                [
                    (
                        table.table_id,
                        table.file_type.value.lower(),
                        table.storage_location,
                        [c.name for c in table.partition_columns()],
                        len(files),
                        sum(os.path.getsize(f) for f in files),
                        table.properties,
                    )
                ],
                "id string, format string, location string, "
                "partitionColumns array<string>, numFiles long, "
                "sizeInBytes long, properties map<string,string>",
            )
        m = self._OPTIMIZE_RE.match(stmt)
        if m:
            cat, sch, tbl, where, zcols = m.groups()
            z = (
                [self._unquote_name(c.strip()) for c in zcols.split(",")]
                if zcols
                else None
            )
            n = self.optimize_table(
                self._unquote_name(cat),
                self._unquote_name(sch),
                self._unquote_name(tbl),
                zorder_by=z,
                where=where.strip() if where else None,
            )
            return spark.createDataFrame([(n,)], "target_files long")
        m = self._REORG_RE.match(stmt)
        if m:
            cat, sch, tbl = (self._unquote_name(g) for g in m.groups())
            n = self.purge_table(cat, sch, tbl)
            return spark.createDataFrame([(n,)], "files_purged long")
        m = self._ALTER_PART_RE.match(stmt)
        if m:
            cat, sch, tbl, action, entry = m.groups()
            cat, sch, tbl = (
                self._unquote_name(g) for g in (cat, sch, tbl)
            )
            table = self.get_table(cat, sch, tbl)
            if table.file_type != FileType.ICEBERG:
                raise UnsupportedOperationError(
                    "ADD/DROP PARTITION FIELD requires an ICEBERG "
                    f"table; {table.full_name} is "
                    f"{table.file_type.value}"
                )
            from .sources import iceberg_py
            from .sources import iceberg_transforms as _tr

            path = _io.strip_file_scheme(table.storage_location or "")
            meta = iceberg_py.table_metadata(path)
            current = iceberg_py.current_partition_by(meta)
            key = _tr.parse_partition_by(entry.strip())
            keyed = [(_tr.parse_partition_by(e), e) for e in current]
            if action.upper() == "ADD":
                if key in [k for k, _ in keyed]:
                    raise UnsupportedOperationError(
                        f"partition field {entry.strip()!r} is "
                        "already in the default spec"
                    )
                new_by = current + [entry.strip()]
            else:
                if key not in [k for k, _ in keyed]:
                    raise UnsupportedOperationError(
                        f"partition field {entry.strip()!r} is not "
                        "in the default spec"
                    )
                new_by = [e for k, e in keyed if k != key]
            meta = iceberg_py.evolve_iceberg_partition_spec(
                path, new_by
            )
            return spark.createDataFrame(
                [(int(meta["default-spec-id"]),)], "spec_id int"
            )
        m = self._BRANCH_RE.match(stmt)
        if m:
            cat, sch, tbl, action, kind, bname, version = m.groups()
            cat, sch, tbl = (
                self._unquote_name(g) for g in (cat, sch, tbl)
            )
            path = self._iceberg_path(cat, sch, tbl, "BRANCH DDL")
            from .sources import iceberg_py

            ref_type = kind.lower()
            if action.upper() == "CREATE":
                meta = iceberg_py.create_iceberg_branch(
                    path,
                    bname,
                    snapshot_id=(
                        int(version) if version is not None else None
                    ),
                    ref_type=ref_type,
                )
            else:
                meta = iceberg_py.drop_iceberg_ref(
                    path, bname, expect_type=ref_type
                )
            return spark.createDataFrame(
                [(bname, f"{action.upper()} {kind.upper()}")],
                "branch string, op string",
            )
        m = self._ADD_COLUMN_RE.match(stmt)
        if m:
            cat, sch, tbl, col, typ, default = m.groups()
            cat, sch, tbl = (
                self._unquote_name(g) for g in (cat, sch, tbl)
            )
            path = self._iceberg_path(cat, sch, tbl, "ADD COLUMN")
            from .sources import iceberg_py

            typ = typ.lower()
            dv = None
            if default is not None:
                if default.startswith("'"):
                    dv = default[1:-1].replace("''", "'")
                elif default.upper() in ("TRUE", "FALSE"):
                    dv = default.upper() == "TRUE"
                elif typ in ("int", "long"):
                    dv = int(default)
                else:
                    dv = float(default)
            # SQL DEFAULT sets BOTH defaults (iceberg-spark's ADD
            # COLUMN ... DEFAULT: existing rows read it, omitting
            # writers fill it)
            iceberg_py.add_iceberg_column(
                path,
                col,
                typ,
                initial_default=dv,
                write_default=dv,
            )
            return spark.createDataFrame(
                [(col, typ)], "column string, type string"
            )
        m = self._COLUMN_DEFAULT_RE.match(stmt)
        if m:
            cat, sch, tbl, col, default_sql, dropping = m.groups()
            cat, sch, tbl = (
                self._unquote_name(g) for g in (cat, sch, tbl)
            )
            table = self.get_table(cat, sch, tbl)
            if table.file_type != FileType.DELTA:
                raise UnsupportedOperationError(
                    "ALTER COLUMN ... SET/DROP DEFAULT requires a "
                    "DELTA table (allowColumnDefaults)"
                )
            from .sources import delta_py

            loc = _io.strip_file_scheme(table.storage_location or "")
            if dropping:
                delta_py.drop_delta_column_default(loc, col)
            else:
                delta_py.set_delta_column_default(
                    loc, col, default_sql.strip()
                )
            return spark.createDataFrame(
                [(col, "DROP" if dropping else "SET")],
                "column string, op string",
            )
        m = self._WRITE_ORDERED_RE.match(stmt)
        if m:
            cat, sch, tbl, fields_txt, unordered = m.groups()
            cat, sch, tbl = (
                self._unquote_name(g) for g in (cat, sch, tbl)
            )
            path = self._iceberg_path(
                cat, sch, tbl, "WRITE ORDERED BY"
            )
            from .sources import iceberg_py

            fields = (
                []
                if unordered
                else [
                    f.strip()
                    for f in fields_txt.split(",")
                    if f.strip()
                ]
            )
            meta = iceberg_py.set_iceberg_sort_order(path, fields)
            return spark.createDataFrame(
                [(int(meta.get("default-sort-order-id", 0)),)],
                "sort_order_id int",
            )
        m = self._RENAME_COLUMN_RE.match(stmt)
        if m:
            cat, sch, tbl, old, new = m.groups()
            cat, sch, tbl = (
                self._unquote_name(g) for g in (cat, sch, tbl)
            )
            path = self._iceberg_path(cat, sch, tbl, "RENAME COLUMN")
            from .sources import iceberg_py

            iceberg_py.rename_iceberg_column(path, old, new)
            return spark.createDataFrame(
                [(old, new)], "old string, new string"
            )
        m = self._DROP_COLUMN_RE.match(stmt)
        if m:
            cat, sch, tbl, col = m.groups()
            cat, sch, tbl = (
                self._unquote_name(g) for g in (cat, sch, tbl)
            )
            path = self._iceberg_path(cat, sch, tbl, "DROP COLUMN")
            from .sources import iceberg_py

            iceberg_py.drop_iceberg_column(path, col)
            return spark.createDataFrame(
                [(col,)], "column string"
            )
        m = self._FAST_FORWARD_RE.match(stmt)
        if m:
            cat, sch, tbl, bname, to = m.groups()
            cat, sch, tbl = (
                self._unquote_name(g) for g in (cat, sch, tbl)
            )
            path = self._iceberg_path(cat, sch, tbl, "FAST FORWARD")
            from .sources import iceberg_py

            meta = iceberg_py.fast_forward_iceberg(path, bname, to)
            return spark.createDataFrame(
                [
                    (
                        bname,
                        int(
                            (meta.get("refs") or {})
                            .get(bname, {})
                            .get("snapshot-id", -1)
                        ),
                    )
                ],
                "branch string, snapshot_id long",
            )
        m = self._ADD_CONSTRAINT_RE.match(stmt)
        if m:
            cat, sch, tbl, cname, pred = m.groups()
            cat, sch, tbl = (
                self._unquote_name(g) for g in (cat, sch, tbl)
            )
            table = self.get_table(cat, sch, tbl)
            if table.file_type == FileType.DELTA:
                # Delta-native: validate existing data, then commit the
                # constraint INTO the log (delta.constraints.<name>) so
                # it travels with the table and binds every writer.
                current = _io.read_table(spark, table)
                bad = self._violations(current, pred).limit(1).collect()
                if bad:
                    raise ConstraintViolationError(
                        f"existing data in {table.full_name} violates "
                        f"CHECK ({pred}); example row: {bad[0].asDict()}"
                    )
                from .sources import delta_py

                delta_py.set_properties(
                    _io.strip_file_scheme(table.storage_location or ""),
                    {f"delta.constraints.{cname}": pred.strip()},
                    allow_constraint_keys=True,
                )
                self.sync_delta_properties(cat, sch, tbl)
            else:
                self.add_table_constraint(cat, sch, tbl, cname, pred.strip())
            return spark.createDataFrame([], "rows string")
        m = self._DROP_CONSTRAINT_RE.match(stmt)
        if m:
            cat, sch, tbl, cname = m.groups()
            cat, sch, tbl = (
                self._unquote_name(g) for g in (cat, sch, tbl)
            )
            table = self.get_table(cat, sch, tbl)
            if table.file_type == FileType.DELTA:
                from .sources import delta_py

                delta_py.set_properties(
                    _io.strip_file_scheme(table.storage_location or ""),
                    {},
                    unset=[f"delta.constraints.{cname}"],
                    allow_constraint_keys=True,
                )
                self.sync_delta_properties(cat, sch, tbl)
            else:
                self.drop_table_constraint(cat, sch, tbl, cname)
            return spark.createDataFrame([], "rows string")
        m = self._TBLPROPS_RE.match(stmt)
        if m:
            cat, sch, tbl, verb, body = m.groups()
            cat, sch, tbl = (
                self._unquote_name(g) for g in (cat, sch, tbl)
            )
            table = self.get_table(cat, sch, tbl)
            if table.file_type != FileType.DELTA:
                raise UnsupportedOperationError(
                    "ALTER TABLE ... TBLPROPERTIES requires a DELTA table"
                )
            path = _io.strip_file_scheme(table.storage_location or "")

            def lit(s: str) -> str:
                s = s.strip()
                if s[:1] == "'" and s[-1:] == "'":
                    return s[1:-1].replace("''", "'")
                return s

            from .sources import delta_py

            if verb.upper() == "SET":
                props: dict[str, str] = {}
                for piece in _sqlnames.split_top_level(body):
                    k, _, v = piece.partition("=")
                    props[lit(k)] = lit(v)
                delta_py.set_properties(path, props)
            else:
                delta_py.set_properties(
                    path,
                    {},
                    unset=[
                        lit(p) for p in _sqlnames.split_top_level(body)
                    ],
                )
            self.sync_delta_properties(cat, sch, tbl)
            return spark.createDataFrame([], "rows string")
        m = self._SHOW_RE.match(stmt)
        if m:
            kind, a, b = m.groups()
            kind = kind.upper()
            if kind == "CATALOGS":
                rows = [(c.name,) for c in self.list_catalogs()]
                return spark.createDataFrame(rows, "catalog string")
            if kind == "SCHEMAS":
                if a is None:
                    raise UnsupportedOperationError(
                        "SHOW SCHEMAS requires IN <catalog>"
                    )
                rows = [
                    (s.name,)
                    for s in self.list_schemas(self._unquote_name(a))
                ]
                return spark.createDataFrame(rows, "schema string")
            if a is None or b is None:
                raise UnsupportedOperationError(
                    "SHOW TABLES requires IN <catalog>.<schema>"
                )
            rows = [
                (t.name,)
                for t in self.list_tables(
                    self._unquote_name(a), self._unquote_name(b)
                )
            ]
            return spark.createDataFrame(rows, "table string")
        m = self._CLONE_RE.match(stmt)
        if m:
            cat, sch, tbl, scat, ssch, stbl, loc = m.groups()
            self.clone_table(
                self._unquote_name(cat),
                self._unquote_name(sch),
                self._unquote_name(tbl),
                self._unquote_name(scat),
                self._unquote_name(ssch),
                self._unquote_name(stbl),
                location=loc,
            )
            return spark.createDataFrame([], "rows string")
        m = self._CTAS_RE.match(stmt)
        if m:
            cat, sch, tbl, fmt, loc, select = m.groups()
            df = self.sql(select)
            self.create_as_table(
                df,
                self._unquote_name(cat),
                self._unquote_name(sch),
                self._unquote_name(tbl),
                file_type=(fmt or "parquet").upper(),
                location=loc,
            )
            return spark.createDataFrame([], "rows string")

        def resolve(
            cat: str,
            sch: str,
            tbl: str,
            version: Optional[int],
            timestamp: Optional[str] = None,
        ) -> Optional[str]:
            try:
                table = self.get_table(cat, sch, tbl)
            except DoesNotExistError:
                return None
            view = "__llh_" + "_".join(
                re.sub(r"\W", "_", p) for p in (cat, sch, tbl)
            )
            if version is not None:
                view += f"_v{version}"
            elif timestamp is not None:
                view += "_t" + re.sub(r"\W", "_", timestamp)
            _io.read_table(
                spark, table, version=version, timestamp=timestamp
            ).createOrReplaceTempView(view)
            return view

        def resolve_meta(
            cat: str,
            sch: str,
            tbl: str,
            kind: str,
            version: Optional[int],
        ) -> Optional[str]:
            """``cat.sch.tbl.files`` etc. — iceberg-spark's
            metadata-table references; non-Iceberg tables and
            unknown kinds fall through untouched."""
            from .sources import iceberg_py

            if kind.lower() not in iceberg_py.METADATA_TABLE_KINDS:
                return None
            try:
                table = self.get_table(cat, sch, tbl)
            except DoesNotExistError:
                return None
            if table.file_type != FileType.ICEBERG:
                return None
            view = "__llh_md_" + "_".join(
                re.sub(r"\W", "_", p)
                for p in (cat, sch, tbl, kind.lower())
            )
            if version is not None:
                view += f"_v{version}"
            iceberg_py.metadata_table(
                spark,
                _io.strip_file_scheme(table.storage_location or ""),
                kind.lower(),
                snapshot_id=version,
            ).createOrReplaceTempView(view)
            return view

        return spark.sql(
            _sqlnames.rewrite_three_part_names(
                query, resolve, resolve_meta
            )
        )

    def _compile_merge(self, m: "re.Match[str]") -> DataFrame:
        """Compile ``MERGE INTO c.s.t [AS] t USING <src> [AS] s ON
        <cond> WHEN ... THEN ...`` to the chainable merger (Delta SQL
        MERGE surface over merge_table — same clause semantics,
        ambiguity guard, and constraint gate as the DataFrame API).

        Supported clauses (each with optional ``AND <pred>``):
        WHEN MATCHED THEN UPDATE SET * | UPDATE SET c=e,... | DELETE;
        WHEN NOT MATCHED [BY TARGET] THEN INSERT * |
        INSERT (cols) VALUES (exprs);
        WHEN NOT MATCHED BY SOURCE THEN UPDATE SET ... | DELETE.
        The source is a three-part table name or a parenthesized
        subquery (resolved through this same sql() pipeline).
        """
        spark = self._require_spark()
        cat, sch, tbl, t_alias, tail = m.groups()

        on_at = _sqlnames.find_top_level_keyword(tail, "ON")
        if on_at < 0:
            raise UnsupportedOperationError("MERGE INTO requires ON <condition>")
        source_txt = tail[:on_at].strip()
        rest = tail[on_at + 2:]
        whens = _sqlnames.find_all_top_level_keyword(rest, "WHEN")
        if not whens:
            raise UnsupportedOperationError(
                "MERGE INTO requires at least one WHEN clause"
            )
        condition = rest[: whens[0]].strip()

        s_alias = "s"
        if source_txt.startswith("("):
            depth, end = 0, -1
            for t in _sqlnames.tokenize(source_txt):
                if t.kind == "punct":
                    if t.text == "(":
                        depth += 1
                    elif t.text == ")":
                        depth -= 1
                        if depth == 0:
                            end = t.end
                            break
            if end < 0:
                raise UnsupportedOperationError("Unbalanced MERGE source subquery")
            src_df = self.sql(source_txt[1 : end - 1])
            alias_txt = source_txt[end:].strip()
        else:
            mm = re.match(
                rf"^{self._IDENT}\.{self._IDENT}\.{self._IDENT}(.*)$",
                source_txt,
                re.DOTALL,
            )
            if not mm:
                raise UnsupportedOperationError(
                    f"Unsupported MERGE source: {source_txt!r}"
                )
            sc, ss, st, alias_txt = mm.groups()
            src_df = self.read_table(
                self._unquote_name(sc),
                self._unquote_name(ss),
                self._unquote_name(st),
            )
            alias_txt = alias_txt.strip()
        if alias_txt:
            am = re.match(r"^(?:AS\s+)?(\w+)$", alias_txt, re.IGNORECASE)
            if not am:
                raise UnsupportedOperationError(
                    f"Unsupported MERGE source alias: {alias_txt!r}"
                )
            s_alias = am.group(1)

        t_alias = t_alias or "t"
        merger = self.merge_table(
            src_df,
            self._unquote_name(cat),
            self._unquote_name(sch),
            self._unquote_name(tbl),
            condition=condition,
            source_alias=s_alias,
            target_alias=t_alias,
        )

        def parse_assignments(rhs: str) -> dict[str, str]:
            out: dict[str, str] = {}
            for piece in _sqlnames.split_top_level(rhs):
                col, _, expr = piece.partition("=")
                col = self._unquote_name(col.strip())
                # a `t.col` target is the column itself
                if col.lower().startswith(t_alias.lower() + "."):
                    col = col[len(t_alias) + 1 :]
                out[col] = expr.strip()
            return out

        for i, start in enumerate(whens):
            endp = whens[i + 1] if i + 1 < len(whens) else len(rest)
            body = rest[start:endp].strip()[len("WHEN"):].strip()
            then_at = _sqlnames.find_top_level_keyword(body, "THEN")
            if then_at < 0:
                raise UnsupportedOperationError(f"WHEN without THEN in: {body!r}")
            head, action = body[:then_at].strip(), body[then_at + 4 :].strip()
            hm = re.match(
                r"^(MATCHED|NOT\s+MATCHED(?:\s+BY\s+TARGET)?"
                r"|NOT\s+MATCHED\s+BY\s+SOURCE)"
                r"(?:\s+AND\s+(.*))?$",
                head,
                re.IGNORECASE | re.DOTALL,
            )
            if not hm:
                raise UnsupportedOperationError(f"Bad WHEN head: {head!r}")
            kind = re.sub(r"\s+", " ", hm.group(1).upper()).replace(
                " BY TARGET", ""
            )
            pred = hm.group(2).strip() if hm.group(2) else None
            au = action.upper()
            if kind == "MATCHED":
                if au.startswith("UPDATE"):
                    um = re.match(
                        r"^UPDATE\s+SET\s+(.*)$", action, re.IGNORECASE | re.DOTALL
                    )
                    rhs = um.group(1).strip() if um else ""
                    if rhs == "*":
                        merger.when_matched_update_all(predicate=pred)
                    else:
                        merger.when_matched_update(
                            parse_assignments(rhs), predicate=pred
                        )
                elif au == "DELETE":
                    merger.when_matched_delete(predicate=pred)
                else:
                    raise UnsupportedOperationError(
                        f"Unsupported MATCHED action: {action!r}"
                    )
            elif kind == "NOT MATCHED":
                if au == "INSERT *":
                    merger.when_not_matched_insert_all(predicate=pred)
                elif au.startswith("INSERT"):
                    im = re.match(
                        r"^INSERT\s*\(([^)]*)\)\s*VALUES\s*\((.*)\)$",
                        action,
                        re.IGNORECASE | re.DOTALL,
                    )
                    if not im:
                        raise UnsupportedOperationError(
                            f"Unsupported INSERT form: {action!r}"
                        )
                    cols = [
                        self._unquote_name(c.strip())
                        for c in _sqlnames.split_top_level(im.group(1))
                    ]
                    vals = [
                        v.strip()
                        for v in _sqlnames.split_top_level(im.group(2))
                    ]
                    if len(cols) != len(vals):
                        raise UnsupportedOperationError(
                            "INSERT column/value count mismatch"
                        )
                    merger.when_not_matched_insert(
                        dict(zip(cols, vals)), predicate=pred
                    )
                else:
                    raise UnsupportedOperationError(
                        f"Unsupported NOT MATCHED action: {action!r}"
                    )
            else:  # NOT MATCHED BY SOURCE
                if au.startswith("UPDATE"):
                    um = re.match(
                        r"^UPDATE\s+SET\s+(.*)$", action, re.IGNORECASE | re.DOTALL
                    )
                    merger.when_not_matched_by_source_update(
                        parse_assignments(um.group(1).strip() if um else ""),
                        predicate=pred,
                    )
                elif au == "DELETE":
                    merger.when_not_matched_by_source_delete(predicate=pred)
                else:
                    raise UnsupportedOperationError(
                        f"Unsupported NOT MATCHED BY SOURCE action: {action!r}"
                    )
        merger.execute()
        return spark.createDataFrame([], "rows string")
