"""``spark.read.format("pydelta")`` — the pure-Python Delta log
(sources/delta_py.py) surfaced as a REGISTERED SPARK DATA SOURCE via
the Python Data Source API (public: SPARK-44076, pyspark.sql.datasource,
Spark 4.x), so Delta tables participate in Spark's native format
dispatch instead of only the client read_table path:

- batch read: one input partition PER DATA FILE (scan parallelism =
  file count), Arrow RecordBatch transfer (never row-at-a-time),
  ``versionAsOf`` time travel via option, and FILE SKIPPING wired
  into Catalyst's filter pushdown: ``pushFilters`` receives the
  compiled predicates and prunes the file list with the log's
  per-file min/max stats + partition values through
  delta_py.pruned_adds, the same pruning read_delta uses. All filters
  are returned as unhandled so Spark still applies exact row-level
  filtering — the pushdown is a monotone file-set reduction, never a
  correctness dependency.
- batch write and streaming sink: ``DataSourceArrowWriter`` /
  ``DataSourceStreamArrowWriter`` sharing one body — each task writes
  its Arrow batches as one parquet part file directly into the table
  directory, the driver-side ``commit`` turns the task messages into
  add actions (plus removes for overwrite, a ``txn`` for the stream)
  and lands them through delta_py.commit_actions, the committer every
  Delta write uses (append-only check, conflict rule, checkpoints),
  and ``abort`` deletes the orphan files. Both sinks refuse tables
  whose invariants a raw-add commit cannot keep: row-tracked tables
  (baseRowId assignment) and tables with CHECK constraints (the
  driver-side commit has no Spark session to evaluate them); use
  delta_py.write_delta for those.
- streaming read: ``DataSourceStreamReader`` — Delta-as-a-stream
  (the ``readStream.format("delta")`` analog): offsets are log
  versions, each microbatch reads the files ADDED in (start, end]
  with one input partition per file (executor-parallel, not
  driver-funneled), and a remove action inside the offset range
  raises (append-only source contract — Delta's own behavior without
  ``ignoreChanges``).

The reference reads/writes Delta through delta-rs behind a format
enum (/root/reference/uchelper/dataframe.py:197-204, 305-354); this
module is the Spark-native equivalent of that dispatch.
client.read_table reads through delta_py.read_delta, which keeps the
whole scan in the JVM parquet reader; this source is the
format-string API and the ONLY streaming read path for Delta tables
in this sandbox. Both plan from the same ``Snapshot``: its file list,
pruning (pruned_adds), deletion vectors and column mapping
(``physical_names`` / ``field_ids``); only the executor differs.

Scale notes: the per-file Python read adds Arrow (de)serialization
versus the JVM scan, so the 100 TB posture is: native path for bulk
batch scans, this source where format dispatch or streaming
semantics are required. File pruning happens on the DRIVER from log
metadata only — no data file is opened to plan the scan.
"""

from __future__ import annotations

import os
import time
import uuid
from typing import TYPE_CHECKING, Iterable, List, Optional, Sequence
from urllib.parse import unquote

from pyspark.sql import types as T

if TYPE_CHECKING:
    from pyspark.sql import SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)

from ..exceptions import UnsupportedOperationError
from .delta_py import (
    BATCH_READ_FEATURES,
    FEATURE_DELETION_VECTORS,
    PROTOCOL,
    WHOLE_TABLE,
    CommitChange,
    ConcurrentModificationError,
    DeltaLog,
    _HIVE_NULL,
    _add_action,
    _check_writer_support,
    _meta_action,
    _physical_type,
    cdf_enabled,
    commit_actions,
    commit_changes,
    first_change_version,
    pruned_adds,
    row_tracking_enabled,
)

# pushed Filter classes -> the comparison ops candidate_files prunes on
_OPS = {
    EqualTo: "=",
    GreaterThan: ">",
    GreaterThanOrEqual: ">=",
    LessThan: "<",
    LessThanOrEqual: "<=",
}


def _arrow_schema(spark_schema: T.StructType):
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(spark_schema)


def _relabel_array(arr, target):
    """Rename an Arrow array's (nested) field names to ``target``'s —
    the physical->logical step of a column-mapped read, pure metadata
    plus child re-assembly, no value conversion. Physical and logical
    types are structurally identical by construction (column mapping
    renames, never retypes), so positional matching is exact. Shapes
    beyond struct/list nesting that would need renaming raise loudly
    rather than bind wrong names."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.type.equals(target):
        return arr
    if pa.types.is_struct(arr.type) and pa.types.is_struct(target):
        children = [
            _relabel_array(arr.field(i), target.field(i).type)
            for i in range(target.num_fields)
        ]
        return pa.StructArray.from_arrays(
            children,
            fields=[target.field(i) for i in range(target.num_fields)],
            mask=pc.is_null(arr),
        )
    if pa.types.is_list(arr.type) and pa.types.is_list(target):
        values = _relabel_array(arr.values, target.value_type)
        return pa.ListArray.from_arrays(
            arr.offsets, values, mask=pc.is_null(arr)
        )
    if not _needs_relabel(arr.type, target):
        return arr.cast(target)
    raise UnsupportedOperationError(
        f"column-mapped read: cannot rename nested fields of arrow "
        f"type {arr.type} to {target}"
    )


def _needs_relabel(src, target) -> bool:
    import pyarrow as pa

    if pa.types.is_struct(src) or pa.types.is_struct(target):
        return True
    for t in (src, target):
        if pa.types.is_list(t) or pa.types.is_map(t):
            return True
    return False


def _read_file_as_batches(
    abs_path: str,
    spark_schema: T.StructType,
    part_values: dict,
    deleted=None,
    physical: "dict | None" = None,
    field_ids: "dict | None" = None,
    name_map: "dict | None" = None,
    keep_only=None,
    lineage: "tuple | None" = None,
    defaults: "dict | None" = None,
):
    """One data file → Arrow batches matching the FULL table schema:
    partition columns materialize as constants from partitionValues,
    columns missing from the file (pre-mergeSchema files) surface as
    NULL — Spark's own explicit-schema parquet semantics.

    ``deleted``: optional sorted int64 array of file row positions a
    deletion vector marks as removed — those rows are dropped before
    the batches leave the reader (executor-side, per file).

    ``keep_only``: the inverse — optional int64 array of positions;
    ONLY those rows leave the reader (changelog readers materialize
    a delete file's victim rows this way). Mutually exclusive with
    ``deleted``.

    ``physical``: top-level logical -> physical name map of a
    column-mapped table. File columns and partitionValues keys are
    then PHYSICAL names; each column is read by its physical name,
    cast to the physical arrow type, and relabeled to the logical
    field (nested struct names included) before leaving the reader —
    executor-side, no extra pass over the values.

    ``defaults``: optional {logical name: value} — Iceberg v3
    ``initial-default``: a column ABSENT from this file surfaces the
    default instead of NULL (spec column projection); columns
    present in the file keep their stored values, so
    post-evolution NULLs stay NULL.

    ``lineage``: optional ``(first_row_id | None, data_sequence)``
    for Iceberg v3 row lineage — appends ``_row_id`` (first_row_id +
    file position, computed BEFORE any delete filtering so survivors
    keep their ids; NULL when first_row_id is unknown) and
    ``_last_updated_sequence_number`` columns. The caller's
    spark_schema must already carry the two fields.

    ``field_ids``: top-level logical -> ``delta.columnMapping.id``,
    passed for ``delta.columnMapping.mode=id`` tables. Binding is
    then PER FILE by parquet footer field id (pyarrow surfaces them
    as ``PARQUET:field_id`` field metadata) — the id-mode protocol
    contract, since a foreign id-mode writer's footer names need not
    match the physical names — with physical-name fallback for files
    (or columns) lacking footer ids."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    target = _arrow_schema(spark_schema)
    phys = physical or {}
    phys_of = {f.name: phys.get(f.name, f.name) for f in spark_schema.fields}
    phys_arrow = (
        {
            f.name: _arrow_schema(
                T.StructType([T.StructField("c", _physical_type(f.dataType))])
            ).field(0).type
            for f in spark_schema.fields
        }
        if physical
        else {}
    )
    file_schema = pq.read_schema(abs_path)
    if field_ids:
        by_id = {}
        for fld in file_schema:
            fid = (fld.metadata or {}).get(b"PARQUET:field_id")
            if fid is not None:
                by_id[int(fid)] = fld.name
        for f in spark_schema.fields:
            fid = field_ids.get(f.name)
            if fid is not None and fid in by_id:
                phys_of[f.name] = by_id[fid]
        if name_map and not by_id:
            # Iceberg NAME MAPPING: a file without footer field ids
            # binds by its mapped candidate names (spec "Column
            # Projection"); candidates that miss surface as NULL via
            # the explicit-schema path below
            fnames = set(file_schema.names)
            for f in spark_schema.fields:
                cands = name_map.get(f.name) or []
                phys_of[f.name] = next(
                    (n for n in cands if n in fnames), phys_of[f.name]
                )
    wanted = set(phys_of.values())
    table = pq.read_table(
        abs_path,
        columns=[n for n in file_schema.names if n in wanted],
    )
    if lineage is not None:
        import numpy as np
        import pyarrow.compute as pc

        first, lseq = lineage
        inh_rid = (
            pa.array(
                np.arange(table.num_rows, dtype="int64") + int(first)
            )
            if first is not None
            else pa.nulls(table.num_rows, pa.int64())
        )
        inh_lus = pa.array(
            np.full(table.num_rows, int(lseq), dtype="int64")
        )
        # materialized lineage (a v3 compaction rewrite stored the
        # reserved columns in the file): per-row, the stored value
        # WINS and a null inherits — the spec read rule. The columns
        # land in `table` via the schema-driven read above; drop the
        # stored copies so the appended outputs are unambiguous.
        if "_row_id" in table.column_names:
            inh_rid = pc.coalesce(
                table.column("_row_id").cast(pa.int64()), inh_rid
            ).combine_chunks()
            table = table.drop_columns(["_row_id"])
        if "_last_updated_sequence_number" in table.column_names:
            inh_lus = pc.coalesce(
                table.column("_last_updated_sequence_number").cast(
                    pa.int64()
                ),
                inh_lus,
            ).combine_chunks()
            table = table.drop_columns(
                ["_last_updated_sequence_number"]
            )
        table = table.append_column("_row_id", inh_rid)
        table = table.append_column(
            "_last_updated_sequence_number", inh_lus
        )
    if deleted is not None and len(deleted):
        import numpy as np

        mask = np.ones(table.num_rows, dtype=bool)
        mask[deleted[deleted < table.num_rows]] = False
        table = table.filter(pa.array(mask))
    if keep_only is not None:
        import numpy as np

        keep = np.asarray(keep_only, dtype="int64")
        mask = np.zeros(table.num_rows, dtype=bool)
        mask[keep[keep < table.num_rows]] = True
        table = table.filter(pa.array(mask))
    n = table.num_rows
    cols = []
    for field in target:
        pname = phys_of[field.name]
        if pname in table.column_names:
            col = table.column(pname)
            if physical:
                col = _relabel_array(
                    col.cast(phys_arrow[field.name]), field.type
                )
            else:
                col = col.cast(field.type)
            cols.append(col)
        elif pname in part_values:
            raw = part_values[pname]
            if raw is None or raw == _HIVE_NULL:
                cols.append(pa.nulls(n, field.type))
            else:
                cols.append(
                    pa.array([raw] * n, type=pa.string()).cast(field.type)
                )
        elif defaults and field.name in defaults:
            cols.append(
                pa.array([defaults[field.name]] * n).cast(field.type)
            )
        else:
            cols.append(pa.nulls(n, field.type))
    out = pa.Table.from_arrays(cols, schema=target)
    yield from out.to_batches(max_chunksize=1 << 16)


class _PyDeltaReader(DataSourceReader):
    def __init__(self, options: dict):
        self._path = _required_path(options)
        v = options.get("versionasof")
        # batch reads apply deletion vectors per file in read() and
        # translate column-mapped physical names in the Arrow batch
        # builder (round 7 — matching delta_py.read_delta's JVM-side
        # translation)
        self._snap = DeltaLog(self._path).snapshot(
            int(v) if v is not None else None,
            allow=BATCH_READ_FEATURES,
        )
        self._schema = self._snap.schema
        self._adds = dict(self._snap.adds)
        self._phys = self._snap.physical_names
        # id mode binds per file by footer field id (physical-name
        # fallback) — the protocol's id-mode read contract
        self._fids = self._snap.field_ids

    def pushFilters(self, filters: List[Filter]) -> Iterable[Filter]:
        self._adds = pruned_adds(
            self._snap,
            [
                (f.attribute[0], _OPS[type(f)], f.value)
                for f in filters
                if type(f) in _OPS and len(f.attribute) == 1
            ],
        )
        # every filter is re-applied row-level by Spark: pruning is
        # an optimization, never the correctness mechanism
        return filters

    def partitions(self) -> Sequence[InputPartition]:
        if not self._adds:
            # zero files (empty table or everything pruned): the API
            # requires ≥1 partition, so emit one that yields nothing
            return [InputPartition({"file": None, "parts": {}})]
        return [
            InputPartition(
                {
                    "file": os.path.join(self._path, unquote(rel)),
                    "parts": dict(add.get("partitionValues") or {}),
                    "dv": add.get("deletionVector"),
                    "table": self._path,
                }
            )
            for rel, add in sorted(self._adds.items())
        ]

    def read(self, partition: InputPartition):
        if partition.value["file"] is None:
            return
        deleted = None
        if partition.value.get("dv"):
            from .delta_dv import load_dv_indices

            deleted = load_dv_indices(
                partition.value["dv"], partition.value["table"]
            )
        yield from _read_file_as_batches(
            partition.value["file"],
            self._schema,
            partition.value["parts"],
            deleted=deleted,
            physical=self._phys,
            field_ids=self._fids,
        )


class _FileCommit(WriterCommitMessage):
    def __init__(self, rel: str):
        self.rel = rel


class _PyDeltaSink:
    """The body both pydelta sinks share: N tasks write N part files
    into the table dir, ONE driver commit publishes them through
    delta_py.commit_actions. Unpartitioned tables only (partitioned
    writes go through delta_py.write_delta, which owns the
    hive-layout move)."""

    def __init__(self, options: dict, schema: T.StructType):
        self._path = _required_path(options)
        self._schema = schema

    def write(self, iterator) -> _FileCommit:
        import pyarrow as pa
        import pyarrow.parquet as pq

        batches = list(iterator)
        if not batches or sum(b.num_rows for b in batches) == 0:
            return _FileCommit("")
        rel = f"part-{uuid.uuid4().hex}.snappy.parquet"
        os.makedirs(self._path, exist_ok=True)
        pq.write_table(
            pa.Table.from_batches(batches),
            os.path.join(self._path, rel),
            compression="snappy",
        )
        return _FileCommit(rel)

    def abort(self, messages, batchId: "int | None" = None) -> None:
        for m in messages or []:
            if m is not None and m.rel:
                try:
                    os.unlink(os.path.join(self._path, m.rel))
                except FileNotFoundError:
                    pass

    def _base(self):
        """(log, snapshot or None for a new table), refusing tables
        whose invariants a raw-add commit cannot keep: unsupported
        writer features, row tracking (baseRowId ranges come from
        write_delta's rewrite paths), CHECK constraints (``commit``
        runs without the user's Spark session, so it cannot evaluate
        a SQL predicate) and hive partitioning. Appends and wholesale
        overwrites never read table data, so deletion vectors are
        fine; column-mapped tables stay refused by the snapshot gate
        (this sink writes logical column names raw)."""
        log = DeltaLog(self._path)
        if not log.versions():
            return log, None
        snap = log.snapshot(allow=frozenset({FEATURE_DELETION_VECTORS}))
        _check_writer_support(snap, self._path)
        conf = snap.configuration
        if row_tracking_enabled(conf):
            raise ValueError(
                "pydelta writer cannot assign baseRowId ranges on a "
                "row-tracked table; use delta_py.write_delta"
            )
        if any(k.startswith("delta.constraints.") for k in conf):
            raise ValueError(
                "pydelta writer cannot evaluate the CHECK constraints "
                "(delta.constraints.*) of this table; use "
                "delta_py.write_delta"
            )
        if snap.partition_columns:
            raise ValueError(
                "pydelta writer supports unpartitioned tables; "
                "partitioned writes go through delta_py.write_delta"
            )
        return log, snap

    def _actions(self, snap, messages, lead: list) -> list:
        """Table-creation actions when ``snap`` is None, then ``lead``,
        then one add per written part file."""
        create = (
            [
                {"protocol": dict(PROTOCOL)},
                _meta_action(self._schema, [], str(uuid.uuid4())),
            ]
            if snap is None
            else []
        )
        adds = [
            _add_action(self._path, m.rel, {})
            for m in messages
            if m is not None and m.rel
        ]
        return create + lead + adds


def _commit_info(operation: str, parameters: dict) -> dict:
    return {
        "commitInfo": {
            "timestamp": int(time.time() * 1000),
            "operation": operation,
            "operationParameters": parameters,
            "engineInfo": "local-lakehouse-spark pydelta",
        }
    }


class _PyDeltaWriter(_PyDeltaSink, DataSourceArrowWriter):
    """Distributed transactional batch write: append is a blind
    append (commutes with concurrent data commits), overwrite removes
    every live file and never retries past a concurrent commit."""

    def __init__(self, options: dict, schema: T.StructType, overwrite: bool):
        super().__init__(options, schema)
        self._overwrite = overwrite

    def commit(self, messages) -> None:
        log, snap = self._base()
        if snap is not None and self._schema.json() != snap.schema.json():
            raise ValueError(
                "schema mismatch with existing table (pydelta writer "
                "does not evolve schemas; use delta_py.write_delta)"
            )
        removes = []
        if self._overwrite and snap is not None:
            now_ms = int(time.time() * 1000)
            removes = [
                {
                    "remove": {
                        "path": rel,
                        "deletionTimestamp": now_ms,
                        "dataChange": True,
                    }
                }
                for rel in sorted(snap.adds)
            ]
        actions = self._actions(snap, messages, removes)
        actions.append(
            _commit_info(
                "WRITE",
                {
                    "mode": "OVERWRITE" if self._overwrite else "APPEND",
                    "partitionBy": "[]",
                },
            )
        )
        commit_actions(
            log, snap, actions, reads=WHOLE_TABLE if self._overwrite else set()
        )


class _PyDeltaStreamReader(DataSourceStreamReader):
    """Delta-as-a-stream: offset = log version. Microbatch (start,
    end] = the add actions of those commits, one input partition per
    file. ``startingVersion`` option (default: current latest at
    query start → only NEW commits stream; 0 → full history replay).
    A data-CHANGING commit inside the range (remove actions with
    ``dataChange=true``, or a deletion vector landing on a live
    file) raises — exactly Delta's append-only streaming contract —
    unless ``.option("skipChangeCommits", "true")`` is set, which
    skips the whole commit (delta-spark parity). Rearrangement
    commits (OPTIMIZE/PURGE, ``dataChange=false``) stream straight
    past: same rows, new packing. Column-mapped tables replay with
    the same physical->logical translation as batch reads (round
    7); DV-bearing snapshots stream whenever the replayed RANGE is
    append-only (the mutations live in history the stream never
    reads). Commits are classified by ``delta_py.commit_changes``,
    the reader every change read of a version range shares."""

    def __init__(self, options: dict, schema: T.StructType):
        self._path = _required_path(options)
        self._schema = schema
        self._log = DeltaLog(self._path)
        self._phys: dict = {}
        self._fids: dict = {}
        # delta-spark parity: .option("readChangeFeed", "true") turns
        # the stream into a CHANGE feed — each microbatch carries the
        # table's columns + _change_type/_commit_version/
        # _commit_timestamp, replayed per commit from cdc actions
        # (exact DML rows) or derived from dataChange adds/removes.
        self._cdf = (
            str(options.get("readchangefeed", "false")).lower() == "true"
        )
        vs = self._log.versions()
        if vs:
            # Capability gate: unknown reader features refuse loudly
            # here. Column mapping is translated per batch (below);
            # DV-bearing snapshots are fine because DV commits are
            # judged per commit (CommitChange.changes_rows).
            snap = self._log.snapshot(allow=BATCH_READ_FEATURES)
            self._phys = snap.physical_names
            self._fids = snap.field_ids
            if self._cdf and not cdf_enabled(snap.configuration):
                raise ValueError(
                    "readChangeFeed requires "
                    "delta.enableChangeDataFeed=true on the table"
                )
        # delta-spark parity: skipChangeCommits=true silently skips
        # whole commits that change existing data (removes, deletion
        # vectors) instead of failing the stream
        self._skip_change = (
            str(options.get("skipchangecommits", "false")).lower() == "true"
        )
        # replay from just before the first commit to stream; by
        # default that is the one after the latest at query start
        sv = options.get("startingversion")
        self._initial = (
            first_change_version(
                self._log,
                int(sv) if sv is not None else None,
                options.get("startingtimestamp"),
                default=vs[-1] + 1 if vs else 0,
            )
            - 1
        )

    def initialOffset(self) -> dict:
        return {"version": self._initial}

    def latestOffset(self) -> dict:
        vs = self._log.versions()
        return {"version": vs[-1] if vs else -1}

    def _part(self, path: str, values: Optional[dict], **consts) -> dict:
        """One input partition: a data file and the constant columns
        (partition values, CDF metadata) its rows carry."""
        return {
            "file": os.path.join(self._path, unquote(path)),
            "parts": {**(values or {}), **consts},
        }

    def _change_files(self, ch: CommitChange) -> list:
        """CDF planning of one commit: its cdc files carry their
        _change_type column; derived inserts / deletes get it (plus
        _commit_version/_commit_timestamp) as partition-value
        constants, and a derived delete of a DV-bearing file ships the
        PRIOR deletion vector so only live rows surface as deletes."""
        from datetime import datetime, timezone

        meta = {
            "_commit_version": str(ch.version),
            "_commit_timestamp": datetime.fromtimestamp(
                self._log.commit_timestamp(ch.version) / 1000,
                tz=timezone.utc,
            ).strftime("%Y-%m-%d %H:%M:%S.%f")
            + "Z",
        }
        if ch.cdc:
            return [self._part(c["path"], None, **meta) for c in ch.cdc]
        adds, deletes = ch.derived()
        return [
            self._part(
                a["path"], a.get("partitionValues"), **meta,
                _change_type="insert",
            )
            for a in adds
        ] + [
            {
                **self._part(
                    r["path"], prior.get("partitionValues"), **meta,
                    _change_type="delete",
                ),
                "dv": prior.get("deletionVector"),
            }
            for r, prior in deletes
        ]

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        """One partition per file of the commits in (start, end]: each
        commit's change files (readChangeFeed), else its appended
        files. All row work happens in executors."""
        plan: list = []
        for ch in commit_changes(
            self._log, start["version"], end["version"]
        ):
            if self._cdf:
                plan += self._change_files(ch)
            elif not ch.changes_rows:
                plan += [
                    self._part(a["path"], a.get("partitionValues"))
                    for a in ch.adds
                ]
            elif not self._skip_change:
                # re-emitting the adds of a data-CHANGING commit would
                # duplicate or resurrect rows (delta-spark's contract)
                what = "remove" if ch.removes else "deletion-vector"
                raise ValueError(
                    f"pydelta stream: version {ch.version} contains a "
                    f"{what} action; this source replays appends only "
                    "— pass .option('skipChangeCommits', 'true') to "
                    "skip data-changing commits (delta-spark parity)"
                )
        return [InputPartition(p) for p in plan]

    def read(self, partition: InputPartition):
        deleted = None
        if partition.value.get("dv"):
            from .delta_dv import load_dv_indices

            deleted = load_dv_indices(
                partition.value["dv"], self._path
            )
        yield from _read_file_as_batches(
            partition.value["file"],
            self._schema,
            partition.value["parts"],
            deleted=deleted,
            physical=self._phys,
            field_ids=self._fids,
        )

    def commit(self, end: dict) -> None:
        pass  # offsets are durable in the Delta log itself

    def stop(self) -> None:
        pass


class _PyDeltaStreamWriter(_PyDeltaSink, DataSourceStreamArrowWriter):
    """Streaming SINK: every microbatch commits one Delta version
    carrying a ``txn`` action ``{appId, version=batchId}`` — the
    protocol's transaction identifier. On restart, a replayed
    microbatch whose batchId is ≤ the appId's last committed version
    (``Snapshot.txns``, carried through checkpoints) is SKIPPED (its
    freshly written part files are deleted), which is exactly how
    Delta's own streaming sink achieves idempotent exactly-once
    appends on top of an at-least-once engine. Set
    ``.option("txnAppId", ...)`` to scope idempotency per query
    (default "pydelta-stream")."""

    def __init__(self, options: dict, schema: T.StructType):
        super().__init__(options, schema)
        self._app = options.get("txnappid", "pydelta-stream")

    def commit(self, messages, batchId: int) -> None:
        log, snap = self._base()
        if snap is not None and batchId <= snap.txns.get(self._app, -1):
            # replayed microbatch after restart: already committed —
            # drop the duplicate files, commit nothing
            self.abort(messages)
            return
        actions = self._actions(
            snap,
            messages,
            [{"txn": {"appId": self._app, "version": int(batchId)}}],
        )
        actions.append(
            _commit_info(
                "STREAMING UPDATE",
                {"outputMode": "Append", "epochId": int(batchId)},
            )
        )
        try:
            commit_actions(log, snap, actions, reads=set())
        except ConcurrentModificationError:
            # a concurrent commit of the same appId refuses the retry:
            # if it landed this very batch, the replay is a no-op
            newest = log.snapshot(allow=BATCH_READ_FEATURES)
            if batchId > newest.txns.get(self._app, -1):
                raise
            self.abort(messages)


def _required_path(options: dict) -> str:
    path = options.get("path")
    if not path:
        raise ValueError("pydelta requires a path: .load('/table/dir')")
    return path


class PyDeltaDataSource(DataSource):
    """``spark.dataSource.register(PyDeltaDataSource)`` then
    ``spark.read.format("pydelta").load(path)`` /
    ``df.write.format("pydelta").mode(...).save(path)`` /
    ``spark.readStream.format("pydelta").load(path)``."""

    @classmethod
    def name(cls) -> str:
        return "pydelta"

    def schema(self):
        v = self.options.get("versionasof")
        # metadata-only: the logical schema is feature-independent;
        # each reader (batch vs stream) enforces its own capability
        schema = DeltaLog(_required_path(self.options)).snapshot(
            int(v) if v is not None else None,
            allow=BATCH_READ_FEATURES,
        ).schema
        if (
            str(self.options.get("readchangefeed", "false")).lower()
            == "true"
        ):
            schema = T.StructType(
                list(schema.fields)
                + [
                    T.StructField("_change_type", T.StringType()),
                    T.StructField("_commit_version", T.LongType()),
                    T.StructField("_commit_timestamp", T.TimestampType()),
                ]
            )
        return schema

    def reader(self, schema: T.StructType) -> DataSourceReader:
        return _PyDeltaReader(self.options)

    def writer(self, schema: T.StructType, overwrite: bool):
        return _PyDeltaWriter(self.options, schema, overwrite)

    def streamReader(self, schema: T.StructType) -> DataSourceStreamReader:
        return _PyDeltaStreamReader(self.options, schema)

    def streamWriter(self, schema: T.StructType, overwrite: bool):
        if overwrite:
            raise ValueError(
                "pydelta stream sink is append-only (outputMode append)"
            )
        return _PyDeltaStreamWriter(self.options, schema)


def register(spark: "SparkSession") -> None:
    """Idempotent session-level registration of the pydelta format.

    Also enables ``spark.sql.python.filterPushdown.enabled``: because
    ``_PyDeltaReader`` implements ``pushFilters``, any session with
    the conf off fails every ``format('pydelta')`` read with
    DATA_SOURCE_PUSHDOWN_DISABLED — sessions built by
    ``session.get_spark`` already set it, but the format must work on
    arbitrary sessions too (it is a runtime conf, settable post-start).

    The conf is only set when it still holds its false DEFAULT — a
    session whose user EXPLICITLY set it to false (spark.conf.isModifiable
    runtime override) keeps their choice and pydelta reads fail with
    Spark's own clear DATA_SOURCE_PUSHDOWN_DISABLED error, rather than
    this call silently flipping a deliberate session-wide setting that
    also governs every other registered Python data source.
    """
    from .pushdown_conf import ensure_filter_pushdown

    ensure_filter_pushdown(spark)
    spark.dataSource.register(PyDeltaDataSource)
