"""MERGE (upsert) — chainable merger with Delta-parity clause API.

Parity: /root/reference/uchelper/client.py:401-427 +
/root/reference/uchelper/dataframe.py:448-488 return a delta-rs
``TableMerger`` the caller chains clauses on; the clauses exercised by
the reference tests (tests/test_dataframes.py:658-837) are:
``when_not_matched_insert_all``, ``when_matched_update_all``,
``when_not_matched_by_source_update(updates=...)``,
``when_not_matched_by_source_delete``.

This implementation is Spark-native: one full-outer join classifies
every row as matched / not-matched-by-target / not-matched-by-source,
each clause maps to a projection over the join, and ``execute()``
commits the rewritten PARQUET table with an atomic directory swap;
DELTA tables commit deletion vectors plus appended rows through the
Python Delta log instead.

Scale notes: the join shuffles on the merge keys exactly like Delta's
own MERGE; small sources are broadcast automatically by AQE. No
driver-side row handling anywhere.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .exceptions import MergeAmbiguityError, UnsupportedOperationError
from .io import (
    _is_single_file,
    _rewrite_table_dir,
    _write_single_file,
    read_table,
    strip_file_scheme,
)
from .models import FileType, Table


def _union_all(dfs: list[DataFrame]) -> DataFrame:
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out


def default_merge_condition(table: Table, source_alias: str, target_alias: str) -> str:
    """AND-equality over the stored default merge columns.

    Parity: /root/reference/uchelper/dataframe.py:180-188, 475-478.
    """
    cols = table.default_merge_columns()
    if not cols:
        raise UnsupportedOperationError(
            f"Table {table.full_name} has no default merge columns set and "
            "no merge condition was given"
        )
    return " AND ".join(
        f"{source_alias}.{c} = {target_alias}.{c}" for c in cols
    )


class SparkMerger:
    """Chainable merge builder; mirrors delta-rs TableMerger clauses."""

    def __init__(
        self,
        spark: SparkSession,
        table: Table,
        source: DataFrame,
        condition: str,
        source_alias: str = "s",
        target_alias: str = "t",
        validate: Optional[Callable[[DataFrame], None]] = None,
    ) -> None:
        self._spark = spark
        self._table = table
        self._source = source
        self._condition = condition
        self._s = source_alias
        self._t = target_alias
        # Pre-commit hook over the merged result plan; the client wires
        # its CHECK-constraint validation here so MERGE cannot commit
        # rows that write_table would reject (ADVICE r1).
        self._validate = validate
        # Each clause: (kind, updates|None, predicate|None)
        self._matched: list[tuple[str, Optional[dict], Optional[str]]] = []
        self._not_matched: list[tuple[str, Optional[dict], Optional[str]]] = []
        self._not_matched_by_source: list[tuple[str, Optional[dict], Optional[str]]] = []
        self._evolve = False
        # Schema the last execute() committed, when it can change the
        # table's columns (DELTA, PARQUET); the client reconciles the
        # catalog from it after a schema-evolving merge.
        self.written_schema: Optional[T.StructType] = None

    def with_schema_evolution(self) -> "SparkMerger":
        """delta-spark's ``withSchemaEvolution()``: source columns
        absent from the target evolve the target schema (nullable)
        before the merge — existing rows read them back as NULL."""
        self._evolve = True
        return self

    def _new_source_fields(self) -> list:
        target_cols = {
            c.name for c in (self._table.columns or [])
        }
        return [
            f
            for f in self._source.schema.fields
            if f.name not in target_cols
        ]

    # -- clause builders (names match delta-rs / reference tests) ----------

    def when_matched_update_all(self, predicate: Optional[str] = None) -> "SparkMerger":
        self._matched.append(("update_all", None, predicate))
        return self

    def when_matched_update(self, updates: dict[str, str], predicate: Optional[str] = None) -> "SparkMerger":
        self._matched.append(("update", updates, predicate))
        return self

    def when_matched_delete(self, predicate: Optional[str] = None) -> "SparkMerger":
        self._matched.append(("delete", None, predicate))
        return self

    def when_not_matched_insert_all(self, predicate: Optional[str] = None) -> "SparkMerger":
        self._not_matched.append(("insert_all", None, predicate))
        return self

    def when_not_matched_insert(self, updates: dict[str, str], predicate: Optional[str] = None) -> "SparkMerger":
        self._not_matched.append(("insert", updates, predicate))
        return self

    def when_not_matched_by_source_update(self, updates: dict[str, str], predicate: Optional[str] = None) -> "SparkMerger":
        self._not_matched_by_source.append(("update", updates, predicate))
        return self

    def when_not_matched_by_source_delete(self, predicate: Optional[str] = None) -> "SparkMerger":
        self._not_matched_by_source.append(("delete", None, predicate))
        return self

    # -- execution ----------------------------------------------------------

    def _result_plan(self) -> DataFrame:
        """Build the merged DataFrame: full-outer join + per-class projection."""
        target = read_table(self._spark, self._table)
        if self._evolve:
            # evolution for log-less (PARQUET) targets: the rewrite
            # carries the new columns, existing rows surface NULL
            for f in self._source.schema.fields:
                if f.name not in target.columns:
                    target = target.withColumn(
                        f.name, F.lit(None).cast(f.dataType)
                    )
        out_cols = target.columns
        s, t = self._s, self._t

        tgt = target.withColumn("__t_present", F.lit(True)).alias(t)
        src = self._source.withColumn("__s_present", F.lit(True)).alias(s)
        joined = tgt.join(src, F.expr(self._condition), "full_outer")

        t_present = F.col(f"{t}.__t_present").isNotNull()
        s_present = F.col(f"{s}.__s_present").isNotNull()

        def proj(prefix: str) -> list:
            return [F.col(f"{prefix}.{c}").alias(c) for c in out_cols]

        def apply_updates(updates: dict[str, str]) -> list:
            cols = []
            for c in out_cols:
                if c in updates:
                    cols.append(F.expr(updates[c]).alias(c))
                else:
                    cols.append(F.col(f"{t}.{c}").alias(c))
            return cols

        branches: list[DataFrame] = []

        # Matched rows: first clause whose predicate holds wins
        # (delta-rs evaluates clauses in order; we implement the common
        # single-clause-per-class case plus ordered predicates).
        if self._matched:
            # 1:1 guaranteed here: execute() raises MergeAmbiguityError
            # when a target row has multiple source matches and matched
            # clauses exist, so joined matched rows don't fan out.
            matched = joined.filter(t_present & s_present)
            remaining = matched
            for kind, updates, predicate in self._matched:
                subset = remaining.filter(F.expr(predicate)) if predicate else remaining
                if kind == "update_all":
                    branches.append(subset.select(*proj(s)))
                elif kind == "update":
                    branches.append(subset.select(*apply_updates(updates or {})))
                elif kind == "delete":
                    pass  # drop
                if predicate:
                    remaining = remaining.filter(~F.expr(predicate) | F.expr(predicate).isNull())
                else:
                    remaining = remaining.limit(0)
            branches.append(remaining.select(*proj(t)))  # untouched matched rows
        else:
            # No matched clauses → matched target rows pass through
            # unchanged. Use a semi-join (one row per target row) so a
            # target row matched by SEVERAL source rows — legal without
            # matched clauses — is not duplicated by the outer join.
            branches.append(
                tgt.join(src, F.expr(self._condition), "left_semi")
                .select(*proj(t))
            )

        # Source-only rows (not matched by target): insert clauses.
        src_only = joined.filter(s_present & ~t_present)
        remaining = src_only
        for kind, updates, predicate in self._not_matched:
            subset = remaining.filter(F.expr(predicate)) if predicate else remaining
            if kind == "insert_all":
                branches.append(subset.select(*proj(s)))
            elif kind == "insert":
                branches.append(
                    subset.select(
                        *[
                            F.expr(updates[c]).alias(c) if c in (updates or {})
                            else F.lit(None).cast(dict(target.dtypes)[c]).alias(c)
                            for c in out_cols
                        ]
                    )
                )
            if predicate:
                remaining = remaining.filter(~F.expr(predicate) | F.expr(predicate).isNull())
            else:
                remaining = remaining.limit(0)
        # untouched source-only rows are NOT inserted (merge semantics)

        # Target-only rows (not matched by source).
        tgt_only = joined.filter(t_present & ~s_present)
        remaining = tgt_only
        for kind, updates, predicate in self._not_matched_by_source:
            subset = remaining.filter(F.expr(predicate)) if predicate else remaining
            if kind == "update":
                branches.append(subset.select(*apply_updates(updates or {})))
            elif kind == "delete":
                pass  # drop
            if predicate:
                remaining = remaining.filter(~F.expr(predicate) | F.expr(predicate).isNull())
            else:
                remaining = remaining.limit(0)
        branches.append(remaining.select(*proj(t)))  # untouched target-only rows

        out = branches[0]
        for b in branches[1:]:
            out = out.unionByName(b)
        return out

    def _check_ambiguous_matches(self) -> None:
        """Delta-parity guard: if any target row is matched by more
        than one source row while matched-clauses exist, the
        update/delete is nondeterministic — raise instead of silently
        duplicating the target row (ADVICE r1). One existence-check
        join with an early-out limit(1); the target row identity is a
        plan-local monotonic id (never persisted)."""
        target = read_table(self._spark, self._table).withColumn(
            "__t_id", F.monotonically_increasing_id()
        )
        dup = (
            target.alias(self._t)
            .join(self._source.alias(self._s), F.expr(self._condition), "inner")
            .groupBy("__t_id")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise MergeAmbiguityError(
                f"MERGE into {self._table.full_name}: {int(dup[0]['__n'])} "
                "source rows matched a single target row under condition "
                f"{self._condition!r}; matched-clause updates/deletes would "
                "be nondeterministic (Delta raises the same error)"
            )

    def _dv_change_set(
        self, target: DataFrame
    ) -> tuple[DataFrame, Optional[DataFrame]]:
        """Decompose the merge into its ROW-LEVEL change set over a
        position-bearing target read (read_delta_with_positions):
        (dead_positions, appended_rows). A target row hit by an
        update/delete clause contributes its (file, position) to the
        deletion vectors; updates and inserts contribute their
        post-image rows to the append. Untouched rows contribute
        NOTHING — they stay in their files, which is the whole point
        of a DV merge. Clause ordering/first-match-wins semantics are
        identical to _result_plan's."""
        out_cols = [
            c for c in target.columns if c not in ("__llh_fn", "__llh_ri")
        ]
        s, t = self._s, self._t
        tgt = target.withColumn("__t_present", F.lit(True)).alias(t)
        src = self._source.withColumn("__s_present", F.lit(True)).alias(s)
        joined = tgt.join(src, F.expr(self._condition), "full_outer")
        t_present = F.col(f"{t}.__t_present").isNotNull()
        s_present = F.col(f"{s}.__s_present").isNotNull()
        target_types = dict(target.dtypes)

        def proj(prefix: str) -> list:
            return [F.col(f"{prefix}.{c}").alias(c) for c in out_cols]

        def apply_updates(updates: dict[str, str]) -> list:
            return [
                F.expr(updates[c]).alias(c)
                if c in updates
                else F.col(f"{t}.{c}").alias(c)
                for c in out_cols
            ]

        def pos(df: DataFrame) -> DataFrame:
            return df.select(
                F.col(f"{t}.__llh_fn").alias("file_name"),
                F.col(f"{t}.__llh_ri").alias("row_index"),
            )

        dead: list[DataFrame] = []
        appended: list[DataFrame] = []

        if self._matched:
            remaining = joined.filter(t_present & s_present)
            for kind, updates, predicate in self._matched:
                subset = (
                    remaining.filter(F.expr(predicate))
                    if predicate
                    else remaining
                )
                dead.append(pos(subset))  # update rewrites = delete+append
                if kind == "update_all":
                    appended.append(subset.select(*proj(s)))
                elif kind == "update":
                    appended.append(
                        subset.select(*apply_updates(updates or {}))
                    )
                if predicate:
                    remaining = remaining.filter(
                        ~F.expr(predicate) | F.expr(predicate).isNull()
                    )
                else:
                    remaining = remaining.limit(0)

        remaining = joined.filter(s_present & ~t_present)
        for kind, updates, predicate in self._not_matched:
            subset = (
                remaining.filter(F.expr(predicate)) if predicate else remaining
            )
            if kind == "insert_all":
                appended.append(subset.select(*proj(s)))
            elif kind == "insert":
                appended.append(
                    subset.select(
                        *[
                            F.expr(updates[c]).alias(c)
                            if c in (updates or {})
                            else F.lit(None).cast(target_types[c]).alias(c)
                            for c in out_cols
                        ]
                    )
                )
            if predicate:
                remaining = remaining.filter(
                    ~F.expr(predicate) | F.expr(predicate).isNull()
                )
            else:
                remaining = remaining.limit(0)

        remaining = joined.filter(t_present & ~s_present)
        for kind, updates, predicate in self._not_matched_by_source:
            subset = (
                remaining.filter(F.expr(predicate)) if predicate else remaining
            )
            dead.append(pos(subset))
            if kind == "update":
                appended.append(subset.select(*apply_updates(updates or {})))
            if predicate:
                remaining = remaining.filter(
                    ~F.expr(predicate) | F.expr(predicate).isNull()
                )
            else:
                remaining = remaining.limit(0)

        dead_df = (
            _union_all(dead)
            if dead
            else self._spark.createDataFrame(
                [], "file_name string, row_index bigint"
            )
        )
        return dead_df, _union_all(appended) if appended else None

    def execute(self) -> None:
        """Materialize the merge and commit atomically, preserving the
        table's storage layout (single file stays single file).

        DELTA tables take the DV path (delta-spark's low-shuffle
        merge): touched rows are marked dead in their files' deletion
        vectors and only rewritten/inserted rows append as new files —
        a merge touching 0.1% of a 100 TB table commits bitmaps plus
        0.1% of the data, never a table rewrite. PARQUET tables (no
        log, no DV protocol) keep the full-rewrite commit."""
        if self._matched:
            self._check_ambiguous_matches()
        path = strip_file_scheme(self._table.storage_location or "")
        part_cols = [c.name for c in self._table.partition_columns()]
        if self._table.file_type == FileType.DELTA:
            from .sources import delta_py

            if self._evolve:
                # withSchemaEvolution: a metadata-only mergeSchema
                # commit BEFORE the positional read, so the evolved
                # columns flow through the DV change set like any
                # other (old files read them as NULL; column-mapped
                # tables get fresh ids/physical names)
                delta_py.evolve_delta_schema(
                    self._spark, path, list(self._source.schema.fields)
                )
            snap_probe = delta_py.DeltaLog(path).snapshot(
                allow=delta_py.BATCH_READ_FEATURES
            )
            if (
                snap_probe.configuration.get(
                    "delta.appendOnly", ""
                ).lower() == "true"
                and (self._matched or self._not_matched_by_source)
            ):
                # fail fast, before the join/DV work: matched and
                # not-matched-by-source clauses change existing rows
                raise UnsupportedOperationError(
                    f"Delta table at {path} is append-only "
                    "(delta.appendOnly=true): MERGE update/delete "
                    "clauses are not allowed (insert-only merges are)"
                )
            if snap_probe.adds:
                # DV MERGE handles column-mapped tables too (round
                # 7): the positional read surfaces logical names and
                # apply_row_changes renames appends back to physical.
                snap, target = delta_py.read_delta_with_positions(
                    self._spark, path
                )
                dead, appended = self._dv_change_set(target)
                if self._validate is not None and appended is not None:
                    # untouched rows passed the gate at their own
                    # write time; only the new/rewritten rows need it
                    self._validate(appended)
                self.written_schema = delta_py.apply_row_changes(
                    self._spark, path, snap, dead, appended,
                    operation="MERGE",
                    operation_parameters={"predicate": self._condition},
                ).schema
                return
            # empty table: nothing to DV — plain overwrite
            result = self._result_plan()
            if self._validate is not None:
                self._validate(result)
            self.written_schema = delta_py.write_delta(
                self._spark, result, path,
                mode="overwrite", partition_by=part_cols or None,
                operation="MERGE",
            ).schema
            return
        if self._table.file_type == FileType.ICEBERG:
            # merge-on-read MERGE, the Delta-DV shape on Iceberg
            # (round 9): the change set's dead rows become a
            # position-delete file and the rewritten/inserted rows
            # new data files, committed as ONE 'overwrite' snapshot
            # (apply_iceberg_row_changes) — untouched rows stay in
            # their files, so a merge touching 0.1% of a 100 TB
            # table commits positions + 0.1% of the data.
            from .sources import iceberg_py

            meta = iceberg_py.table_metadata(path)
            iceberg_py._require_v2(meta, "MERGE INTO")
            if self._evolve:
                known = {
                    f["name"]
                    for f in iceberg_py._current_schema(meta)["fields"]
                }
                fresh = [
                    f.name
                    for f in self._source.schema.fields
                    if f.name not in known
                ]
                if fresh:
                    raise UnsupportedOperationError(
                        "MERGE withSchemaEvolution is implemented for "
                        f"DELTA and PARQUET targets; Iceberg merge "
                        f"sources must drop the new columns {fresh} "
                        "or evolve via write_iceberg(merge_schema=True)"
                    )
            scan, data_files, _pos = iceberg_py._positional_scan(
                self._spark, meta, path
            )
            if scan is None:  # empty table: plain overwrite-create
                result = self._result_plan()
                if self._validate is not None:
                    self._validate(result)
                iceberg_py.write_iceberg(
                    self._spark, result, path, mode="overwrite"
                )
                return
            schema_cols = [
                f.name
                for f in iceberg_py.iceberg_schema_to_spark(
                    iceberg_py._current_schema(meta)
                ).fields
            ]
            target = scan.select(
                *[F.col(c) for c in schema_cols],
                F.col("__fn").alias("__llh_fn"),
                F.col("__ri").alias("__llh_ri"),
            )
            dead, appended = self._dv_change_set(target)
            if self._validate is not None and appended is not None:
                self._validate(appended)
            dead = dead.select(
                F.col("file_name"), F.col("row_index")
            )
            iceberg_py.apply_iceberg_row_changes(
                self._spark,
                path,
                meta,
                data_files,
                dead,
                appended,
                operation="overwrite",
            )
            return
        result = self._result_plan()
        if self._validate is not None:
            self._validate(result)
        if not part_cols and _is_single_file(path):
            _write_single_file(result, "parquet", path)
        else:
            _rewrite_table_dir(result, "parquet", path, partition_by=part_cols or None)
        self.written_schema = result.schema


def merge_table(
    spark: SparkSession,
    table: Table,
    source: DataFrame,
    condition: Optional[str] = None,
    source_alias: str = "s",
    target_alias: str = "t",
    validate: Optional[Callable[[DataFrame], None]] = None,
    schema_evolution: bool = False,
):
    """Entry point, parity /root/reference/uchelper/client.py:401-427:
    DELTA/PARQUET-only, exact schema match required, condition defaults
    to AND-equality over stored default merge columns, aliases default
    s/t. Returns a chainable merger.

    ``validate`` runs over the merged result plan before the PARQUET
    commit (the client passes its CHECK-constraint gate). The DELTA
    path returns delta-spark's own merger, which enforces Delta's
    native constraints itself.

    ``schema_evolution`` (delta-spark's ``withSchemaEvolution()``):
    source columns ABSENT from the target relax the exact-schema
    gate — overlapping columns still type-check — and evolve the
    target schema (nullable) at execute() time; existing rows read
    the new columns back as NULL."""
    from .types_map import check_schemas_equal, spark_schema_to_uc_columns

    if table.file_type not in (
        FileType.DELTA,
        FileType.PARQUET,
        FileType.ICEBERG,
    ):
        raise UnsupportedOperationError(
            f"MERGE is only supported for DELTA, PARQUET, and ICEBERG "
            f"tables, not {table.file_type.value}"
        )
    if schema_evolution:
        # overlapping columns must type-match exactly; new columns
        # ride along and evolve the target at execute() time
        from .exceptions import SchemaMismatchError

        t_types = {
            c.name: (c.data_type, c.type_precision, c.type_scale)
            for c in (table.columns or [])
        }
        mismatched = [
            c.name
            for c in spark_schema_to_uc_columns(source.schema)
            if c.name in t_types
            and (c.data_type, c.type_precision, c.type_scale)
            != t_types[c.name]
        ]
        if mismatched:
            raise SchemaMismatchError(
                "MERGE withSchemaEvolution: overlapping columns "
                f"{mismatched} do not match the table types"
            )
    else:
        # Exact schema match, parity dataframe.py:473.
        check_schemas_equal(
            spark_schema_to_uc_columns(source.schema), table.columns
        )
    if condition is None:
        condition = default_merge_condition(table, source_alias, target_alias)

    merger = SparkMerger(
        spark, table, source, condition, source_alias, target_alias,
        validate=validate,
    )
    if schema_evolution:
        merger = merger.with_schema_evolution()
    return merger
