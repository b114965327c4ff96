"""MERGE (upsert) — chainable merger with Delta-parity clause API.

Parity: /root/reference/uchelper/client.py:401-427 +
/root/reference/uchelper/dataframe.py:448-488 return a delta-rs
``TableMerger`` the caller chains clauses on; the clauses exercised by
the reference tests (tests/test_dataframes.py:658-837) are:
``when_not_matched_insert_all``, ``when_matched_update_all``,
``when_not_matched_by_source_update(updates=...)``,
``when_not_matched_by_source_delete``.

This implementation is Spark-native and reads the target once: one
join of a position-bearing target read with the source classifies
every joined row by the first clause that takes it, and the small
classified result is persisted for the commit. From it come the
ambiguity check, the dead target positions and the appended rows.
DELTA tables commit the dead positions as deletion vectors plus the
appended rows through the Python Delta log, Iceberg tables as a
position-delete file plus the appended rows, and PARQUET tables as
an atomic rewrite: the target minus the dead positions, plus the
appended rows.

Scale notes: the join keeps the target on its streamed side, so a
small source broadcasts and the target is never shuffled; only the
touched rows are cached. No row passes through the driver except the
dead positions, one touched file at a time, when a DELTA commit builds
its deletion vectors.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from contextlib import contextmanager
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

    def _with_new_columns(self, target: DataFrame) -> DataFrame:
        """``target`` plus a NULL column per source column it lacks:
        under schema evolution old rows read the new columns as NULL."""
        if not self._evolve:
            return target
        return target.withColumns(
            {
                f.name: F.lit(None).cast(f.dataType)
                for f in self._source.schema.fields
                if f.name not in target.columns
            }
        )

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

    @contextmanager
    def _change_set(
        self, target: DataFrame
    ) -> Iterator[tuple[DataFrame, Optional[DataFrame]]]:
        """The merge's row-level change set over a position-bearing
        target read (the table's columns, then ``__llh_fn`` file and
        ``__llh_ri`` row position): ``(dead, appended)``. ``dead``
        (file_name, row_index) holds every target row an update or
        delete clause hits; ``appended`` the post-images of updates
        and inserts (None when no clause writes rows). Untouched rows
        contribute NOTHING: they stay in their files.

        This is the one clause interpreter, and it reads the target
        ONCE: one join with the source, source-side (inner, or left
        outer with NOT MATCHED BY SOURCE clauses) so a small source
        broadcasts and the target is never shuffled. Per joined row
        one CASE picks the first clause of its class (matched / not
        matched by source) whose predicate holds, and one projection
        evaluates that clause's post-image. The classified rows
        (touched rows, plus every matched row) are persisted: the
        ambiguity check, the dead positions and the appended rows all
        read them. With NOT MATCHED clauses the source is persisted
        with a row id, and the rows to insert are the source rows
        whose id no matched row carries. Raises MergeAmbiguityError,
        like Delta, when matched clauses exist and a target row
        matches more than one source row, whether or not a clause
        predicate holds for them."""
        out_cols = [
            c for c in target.columns if c not in ("__llh_fn", "__llh_ri")
        ]
        s, t = self._s, self._t
        target_types = dict(target.dtypes)
        cached: list[DataFrame] = []
        source = self._source
        if self._not_matched:
            source = source.withColumn(
                "__sid", F.monotonically_increasing_id()
            ).persist()
            cached.append(source)
        joined = target.alias(t).join(
            source.withColumn("__s_present", F.lit(True)).alias(s),
            F.expr(self._condition),
            "left_outer" if self._not_matched_by_source else "inner",
        )
        matched = f"{s}.__s_present IS NOT NULL"

        def image(kind: str, updates: Optional[dict], c: str) -> str:
            if kind == "delete":
                return "NULL"
            if kind in ("update_all", "insert_all"):
                return f"{s}.{_q(c)}"
            if c in (updates or {}):
                return f"({updates[c]})"  # type: ignore[index]
            if kind == "insert":
                return f"CAST(NULL AS {target_types[c]})"
            return f"{t}.{_q(c)}"

        def classify(
            rows: DataFrame, classes: list, *carry: str
        ) -> tuple[DataFrame, Optional[str]]:
            """``rows`` classified in one projection: ``carry``,
            ``__c``, the index of the first clause of ``classes``
            [(class condition, clauses)] that takes the row (NULL:
            none does), and each column's post-image under that
            clause; and the SQL test that ``__c`` names a clause that
            writes a row (all but deletes; None: no clause does). The
            projection is SQL text: one call builds it, however many
            clauses and columns there are."""
            clauses = [
                (f"({cls}) AND ({p})" if p else cls, kind, updates)
                for cls, group in classes
                for kind, updates, p in group
            ]
            emit = [
                str(i) for i, (_c, kind, _u) in enumerate(clauses)
                if kind != "delete"
            ]
            return rows.selectExpr(
                *carry,
                _case([(cond, str(i)) for i, (cond, _k, _u) in enumerate(clauses)])
                + " AS __c",
                *[
                    _case([(cond, image(k, u, c)) for cond, k, u in clauses])
                    + f" AS {_q(c)}"
                    for c in (out_cols if emit else ())
                ],
            ), (f"__c IN ({', '.join(emit)})" if emit else None)

        classified, emits = classify(
            joined,
            [(matched, self._matched), (f"NOT ({matched})", self._not_matched_by_source)],
            f"{t}.__llh_fn AS file_name",
            f"{t}.__llh_ri AS row_index",
            f"{matched} AS __m",
            *([f"{s}.__sid"] if self._not_matched else []),
        )
        keep = "__c IS NOT NULL"
        if self._matched or self._not_matched:
            keep += " OR __m"
        classified = classified.filter(keep).persist()
        cached.append(classified)
        try:
            if self._matched:
                dup = (
                    classified.filter("__m")
                    .groupBy("file_name", "row_index")
                    .count()
                    .filter("count > 1")
                    .limit(1)
                    .collect()
                )
                if dup:
                    raise MergeAmbiguityError(
                        f"MERGE into {self._table.full_name}: "
                        f"{int(dup[0]['count'])} source rows matched a "
                        "single target row under condition "
                        f"{self._condition!r}; matched-clause "
                        "updates/deletes would be nondeterministic "
                        "(Delta raises the same error)"
                    )
            # every clause of a target row updates or deletes it
            dead = classified.filter("__c IS NOT NULL").select(
                "file_name", "row_index"
            )
            appended = [
                classified.filter(emits).select(*out_cols)
            ] if emits else []
            if self._not_matched:
                unmatched = source.join(
                    classified.filter("__m").select("__sid"),
                    "__sid",
                    "left_anti",
                ).alias(s)
                inserts, emits = classify(
                    unmatched, [("TRUE", self._not_matched)]
                )
                if emits:
                    appended.append(inserts.filter(emits).select(*out_cols))
            rows = _union(appended)
            part_cols = [c.name for c in self._table.partition_columns()]
            if rows is not None and part_cols:
                # one writer per partition value (delta-spark's
                # merge.repartitionBeforeWrite): one file per touched
                # partition, not one per partition per join task
                rows = rows.repartition(*part_cols)
            if rows is not None and self._validate is not None:
                # untouched rows passed the gate at their own write
                self._validate(rows)
            yield dead, rows
        finally:
            for df in cached:
                df.unpersist()

    def execute(self) -> None:
        """Classify the rows once (_change_set) and commit the change
        set atomically, preserving the table's storage layout.

        DELTA tables commit it as deletion vectors plus appended rows
        (delta-spark's low-shuffle merge); Iceberg as a position-delete
        file plus appended rows, one snapshot. A merge touching 0.1%
        of a 100 TB table commits bitmaps plus 0.1% of the data, never
        a table rewrite. PARQUET tables (no log, no DV protocol) keep
        the full rewrite: the target anti-joined with the dead
        positions, plus the appended rows, swapped in atomically.
        Only the appended rows pass the ``validate`` gate."""
        path = strip_file_scheme(self._table.storage_location or "")
        part_cols = [c.name for c in self._table.partition_columns()]
        if self._table.file_type == FileType.DELTA:
            from .sources import delta_py

            snap, target = delta_py.read_delta_with_positions(
                self._spark, path
            )
            if (
                snap.configuration.get(
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
            # the evolved schema commits only once the change set is
            # known to be unambiguous
            target = self._with_new_columns(target)
            with self._change_set(target) as (dead, appended):
                if self._evolve and delta_py.evolve_delta_schema(
                    self._spark, path, list(self._source.schema.fields)
                ):
                    # a metadata-only mergeSchema commit (fresh ids
                    # and physical names on column-mapped tables);
                    # the positions were read at the version below it
                    evolved = delta_py.DeltaLog(path).snapshot(
                        allow=delta_py.BATCH_READ_FEATURES
                    )
                    if evolved.version != snap.version + 1:
                        raise delta_py.ConcurrentModificationError(
                            f"MERGE into {path}: the table changed "
                            "while its schema evolved; retry the merge"
                        )
                    snap = evolved
                if snap.adds:
                    # DV MERGE handles column-mapped tables too: the
                    # positional read surfaces logical names and
                    # apply_row_changes renames appends back to
                    # physical.
                    self.written_schema = delta_py.apply_row_changes(
                        self._spark, path, snap, dead, appended,
                        operation="MERGE",
                        operation_parameters={"predicate": self._condition},
                    ).schema
                    return
                # empty table: nothing to DV — plain overwrite
                self.written_schema = delta_py.write_delta(
                    self._spark, _rows(appended, target), path,
                    mode="overwrite", partition_by=part_cols or None,
                    operation="MERGE",
                ).schema
            return
        if self._table.file_type == FileType.ICEBERG:
            # merge-on-read MERGE, the Delta-DV shape on Iceberg: the
            # dead rows become a position-delete file and the
            # rewritten/inserted rows new data files, committed as ONE
            # 'overwrite' snapshot (apply_iceberg_row_changes).
            from .sources import iceberg_py

            meta = iceberg_py.table_metadata(path)
            iceberg_py._require_v2(meta, "MERGE INTO")
            schema = iceberg_py.iceberg_schema_to_spark(
                iceberg_py._current_schema(meta)
            )
            if self._evolve:
                fresh = [
                    f.name
                    for f in self._source.schema.fields
                    if f.name not in schema.names
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
            if scan is None:
                target = self._spark.createDataFrame(
                    [], schema.add("__llh_fn", "string").add("__llh_ri", "long")
                )
            else:
                target = scan.select(
                    *schema.names,
                    F.col("__fn").alias("__llh_fn"),
                    F.col("__ri").alias("__llh_ri"),
                )
            with self._change_set(target) as (dead, appended):
                if scan is None:  # empty table: plain overwrite-create
                    iceberg_py.write_iceberg(
                        self._spark, _rows(appended, target), path,
                        mode="overwrite",
                    )
                    return
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
        # PARQUET: the rewrite carries any evolved columns
        target = self._with_new_columns(
            read_table(self._spark, self._table)
        ).withColumns(
            {
                "__llh_fn": F.col("_metadata.file_path"),
                "__llh_ri": F.col("_metadata.row_index"),
            }
        )
        with self._change_set(target) as (dead, appended):
            kept = target.join(
                dead.withColumnsRenamed(
                    {"file_name": "__llh_fn", "row_index": "__llh_ri"}
                ),
                ["__llh_fn", "__llh_ri"],
                "left_anti",
            )
            result = _rows(appended, kept)
            if not part_cols and _is_single_file(path):
                _write_single_file(result, "parquet", path)
            else:
                _rewrite_table_dir(
                    result, "parquet", path, partition_by=part_cols or None
                )
            self.written_schema = result.schema


def _case(branches: list[tuple[str, str]]) -> str:
    """``CASE WHEN cond THEN value ... END``: the value of the first
    branch whose condition holds (NULL when none does)."""
    if not branches:
        return "CAST(NULL AS INT)"
    return "CASE " + " ".join(f"WHEN {c} THEN {v}" for c, v in branches) + " END"


def _q(name: str) -> str:
    """``name`` as a quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _union(frames: list[DataFrame]) -> Optional[DataFrame]:
    """The union (by name) of ``frames``; None when there are none."""
    if not frames:
        return None
    out = frames[0]
    for df in frames[1:]:
        out = out.unionByName(df)
    return out


def _rows(appended: Optional[DataFrame], target: DataFrame) -> DataFrame:
    """The table's rows after the merge: ``target``'s rows (positions
    dropped) plus ``appended``."""
    kept = target.drop("__llh_fn", "__llh_ri")
    return kept if appended is None else kept.unionByName(appended)


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

    ``validate`` (the client's CHECK-constraint gate) runs over the
    rows the merge writes, the updated and inserted rows, before any
    format commits; untouched rows passed it at their own write.

    ``schema_evolution`` (delta-spark's ``withSchemaEvolution()``):
    source columns ABSENT from the target relax the exact-schema
    gate — overlapping columns still type-check — and evolve the
    target schema (nullable) at execute() time; existing rows read
    the new columns back as NULL."""
    from .types_map import (
        check_no_type_changes,
        check_schemas_equal,
        spark_schema_to_uc_columns,
    )

    if table.file_type not in (
        FileType.DELTA,
        FileType.PARQUET,
        FileType.ICEBERG,
    ):
        raise UnsupportedOperationError(
            f"MERGE is only supported for DELTA, PARQUET, and ICEBERG "
            f"tables, not {table.file_type.value}"
        )
    source_cols = spark_schema_to_uc_columns(source.schema)
    if schema_evolution:
        # overlapping columns must type-match exactly; new columns
        # ride along and evolve the target at execute() time
        check_no_type_changes(
            source_cols, table.columns, "MERGE withSchemaEvolution"
        )
    else:
        # Exact schema match, parity dataframe.py:473.
        check_schemas_equal(source_cols, table.columns)
    if condition is None:
        condition = default_merge_condition(table, source_alias, target_alias)

    merger = SparkMerger(
        spark, table, source, condition, source_alias, target_alias,
        validate=validate,
    )
    if schema_evolution:
        merger = merger.with_schema_evolution()
    return merger
