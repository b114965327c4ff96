"""In-memory span tracer for the benchmark's traced runs.

Spans are recorded around calls into each layer's public functions.
The wrappers are installed from here, by replacing the functions and
methods on the already-imported ``local_lakehouse_spark`` modules; the
program's own files are not changed. Each span keeps its name, start,
end, parent and operation id. Spans stay in memory and are written
out as JSON lines when the run ends.

Terms used by :func:`layer_metrics`:

- *busy*: wall time inside a layer, counting only the outermost span of
  that layer (a layer calling itself is not counted twice);
- *self*: a span's duration minus the time its child spans cover.

All per-layer figures are divided by the number of workload
operations, so they compare across runs that complete different
numbers of operations.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

_PKG = "local_lakehouse_spark"


class Span:
    __slots__ = ("name", "start", "end", "parent", "op", "child_s")

    def __init__(self, name: str, start: float, parent: int, op: int) -> None:
        self.name = name
        self.start = start
        self.end = start
        self.parent = parent
        self.op = op
        self.child_s = 0.0


def layer_of(name: str) -> str:
    return name.split(".", 1)[0]


class Tracer:
    """Records spans and counters for one traced run."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.op = -1
        self.counters: dict[str, float] = defaultdict(float)
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.job_groups: dict[int, tuple[str, str]] = {}
        # Time the tracer spends on its own probes (file listings,
        # footer reads, Spark status queries), reported as overhead.
        self.probe_s = 0.0

    # -- spans --------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self.stack[-1] if self.stack else -1
        sp = Span(name, time.perf_counter(), parent, self.op)
        self.spans.append(sp)
        self.stack.append(idx)
        exec_group = name == "spark.execute"
        if exec_group:
            self._set_group(self.job_groups[self.op][1])
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self.stack.pop()
            if parent >= 0:
                self.spans[parent].child_s += sp.end - sp.start
            if exec_group:
                self._set_group(self.job_groups[self.op][0])

    def wrap(self, fn, name: str, after=None):
        """``fn`` with a span around every call. ``after(result, args,
        kwargs, span)`` runs outside the span and records counters."""
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name) as sp:
                result = fn(*args, **kwargs)
            if after is not None:
                t0 = time.perf_counter()
                after(result, args, kwargs, sp)
                tracer.probe_s += time.perf_counter() - t0
            return result

        traced.__wrapped_by_perfbench__ = True
        return traced

    def count(self, key: str, n: float = 1) -> None:
        self.counters[key] += n

    # -- operations and Spark job groups -------------------------------------

    def _set_group(self, group: str) -> None:
        self.spark.sparkContext.setJobGroup(group, group, False)

    def begin_op(self, op: int) -> None:
        self.op = op
        self.job_groups[op] = (f"perfbench-{op}", f"perfbench-{op}-exec")
        self._set_group(self.job_groups[op][0])

    def end_op(self) -> None:
        self.spark.sparkContext.setJobGroup("perfbench-idle", "", False)

    def spark_counts(self) -> dict[int, tuple[int, int, int]]:
        """op -> (jobs before the action, all jobs, tasks), read from
        ``statusTracker`` once the listener bus has drained."""
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        try:
            sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        except Exception:  # noqa: BLE001 - private API; counts may lag
            time.sleep(0.5)
        st = sc.statusTracker()
        out = {}
        for op, (plan_group, exec_group) in self.job_groups.items():
            before = list(st.getJobIdsForGroup(plan_group))
            jobs = before + list(st.getJobIdsForGroup(exec_group))
            tasks = 0
            for jid in jobs:
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    stage = st.getStageInfo(sid)
                    tasks += stage.numCompletedTasks if stage else 0
            out[op] = (len(before), len(jobs), tasks)
        self.probe_s += time.perf_counter() - t0
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, sp in enumerate(self.spans):
                fh.write(json.dumps({
                    "id": i, "name": sp.name, "start": sp.start,
                    "end": sp.end, "parent": sp.parent, "op": sp.op,
                }) + "\n")


# ---------------------------------------------------------------------------
# Installing the wrappers
# ---------------------------------------------------------------------------


def _replace_everywhere(orig, wrapped) -> None:
    """Point every reference to ``orig`` in the package's loaded
    modules at ``wrapped`` (covers ``from x import f`` copies)."""
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not (mod_name == _PKG or mod_name.startswith(_PKG + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, wrapped)


def _wrap_function(tracer: Tracer, module, attr: str, name: str, after=None) -> None:
    orig = getattr(module, attr)
    _replace_everywhere(orig, tracer.wrap(orig, name, after))


def _wrap_method(tracer: Tracer, cls, attr: str, name: str, after=None) -> None:
    orig = cls.__dict__[attr]
    setattr(cls, attr, tracer.wrap(orig, name, after))


def _tree_bytes(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size


def _parquet_files(path: str) -> set[str]:
    return {
        os.path.join(root, f)
        for root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet") and "_delta_log" not in root
    }


def install(tracer: Tracer) -> None:
    """Wrap the public entry points of every layer the workloads use."""
    from local_lakehouse_spark import client, io, merge, metastore, session, sqlnames
    from local_lakehouse_spark.sources import delta_py

    t = tracer

    # client: the facade every catalog and write operation enters by.
    for m in (
        "get_table", "read_table", "write_table", "merge_table",
        "delete_from", "update_rows", "optimize_table", "purge_table",
        "update_table", "create_as_table", "register_as_table",
    ):
        _wrap_method(t, client.LakehouseClient, m, f"client.{m}")

    def after_sql(_res, _a, _k, sp):
        t.samples["client.sql.resolve_s"].append(sp.end - sp.start)

    _wrap_method(t, client.LakehouseClient, "sql", "client.sql", after_sql)

    # sqlnames: count the names each statement resolves.
    orig_rewrite = sqlnames.rewrite_three_part_names

    def rewrite(query, resolve, *rest, **kw):
        names = [0]

        def counting_resolve(*a, **k):
            names[0] += 1
            return resolve(*a, **k)

        with t.span("sqlnames.rewrite"):
            out = orig_rewrite(query, counting_resolve, *rest, **kw)
        t.samples["sqlnames.names_per_stmt"].append(names[0])
        return out

    _replace_everywhere(orig_rewrite, functools.wraps(orig_rewrite)(rewrite))

    # metastore: every public method, plus the JSON loads and dumps.
    for m in (
        "get_table", "create_table", "update_table", "overwrite_table",
        "list_tables", "get_catalog", "get_schema", "create_catalog",
        "create_schema", "delete_table", "set_table_default_merge_columns",
    ):
        def after_meta(_res, _a, _k, sp, m=m):
            if m == "get_table":
                t.samples["metastore.get_table"].append(sp.end - sp.start)

        _wrap_method(t, metastore.Metastore, m, f"metastore.{m}", after_meta)
    orig_load = metastore.Metastore._load
    orig_dump = metastore.Metastore._dump

    def load(self):
        t.counters["metastore.bytes_loaded"] += os.path.getsize(self.path)
        return orig_load(self)

    def dump(self, state):
        t.counters["metastore.writes"] += 1
        return orig_dump(self, state)

    metastore.Metastore._load = load
    metastore.Metastore._dump = dump

    _wrap_function(t, session, "harden_runtime", "session.harden_runtime")

    # io: the read/write matrix; writes record files and bytes added.
    _wrap_function(t, io, "read_table", "io.read_table")
    _wrap_function(t, io, "read_format_path", "io.read_format_path")
    orig_write = io.write_table

    def write_table(spark, df, table, *a, **k):
        path = io.strip_file_scheme(table.storage_location or "")
        t0 = time.perf_counter()
        n0, b0 = _tree_bytes(path)
        t.probe_s += time.perf_counter() - t0
        with t.span("io.write_table"):
            out = orig_write(spark, df, table, *a, **k)
        t0 = time.perf_counter()
        n1, b1 = _tree_bytes(path)
        t.counters["io.files_written"] += max(0, n1 - n0)
        t.counters["io.bytes_written"] += max(0, b1 - b0)
        t.probe_s += time.perf_counter() - t0
        return out

    _replace_everywhere(orig_write, functools.wraps(orig_write)(write_table))

    # merge: construction and execution of the merger.
    _wrap_function(t, merge, "merge_table", "merge.merge_table")
    orig_execute = merge.SparkMerger.execute

    def execute(self):
        # rows in the data files this merge adds = rows it rewrote
        path = io.strip_file_scheme(self._table.storage_location or "")
        t0 = time.perf_counter()
        before = _parquet_files(path)
        t.probe_s += time.perf_counter() - t0
        with t.span("merge.execute"):
            out = orig_execute(self)
        t0 = time.perf_counter()
        import pyarrow.parquet as pq

        t.counters["merge.rows_written"] += sum(
            pq.ParquetFile(f).metadata.num_rows
            for f in _parquet_files(path) - before
        )
        t.probe_s += time.perf_counter() - t0
        return out

    merge.SparkMerger.execute = functools.wraps(orig_execute)(execute)

    # delta_py: log replay, commits, checkpoints, DML and maintenance.
    def after_snapshot(snap, args, _k, _sp):
        log = args[0]
        cps = [c for c in log.checkpoints() if c <= snap.version]
        start = cps[-1] if cps else -1
        replayed = [v for v in log.versions() if start < v <= snap.version]
        nbytes = sum(
            os.path.getsize(os.path.join(log.log_dir, f"{v:020d}.json"))
            for v in replayed
        )
        if cps:
            nbytes += sum(
                os.path.getsize(os.path.join(log.log_dir, f))
                for f in os.listdir(log.log_dir)
                if f.startswith(f"{start:020d}.checkpoint")
            )
        t.samples["delta_py.commits_replayed"].append(len(replayed))
        t.samples["delta_py.log_bytes_read"].append(nbytes)
        t.samples["delta_py.snapshot_adds"].append(len(snap.adds))

    _wrap_method(t, delta_py.DeltaLog, "snapshot", "delta_py.snapshot", after_snapshot)

    def after_checkpoint(*_):
        t.counters["delta_py.checkpoints_written"] += 1

    _wrap_method(
        t, delta_py.DeltaLog, "write_checkpoint", "delta_py.write_checkpoint",
        after_checkpoint,
    )
    orig_candidates = delta_py.candidate_files

    def candidate_files(snap, *a, **k):
        out = orig_candidates(snap, *a, **k)
        t.counters["delta_py.candidates_kept"] += len(out)
        t.counters["delta_py.candidates_total"] += len(snap.adds)
        return out

    _replace_everywhere(orig_candidates, candidate_files)

    def after_read_delta(_df, args, kwargs, _sp):
        # Unfiltered reads keep every file of the snapshot they
        # replayed; filtered reads are counted by candidate_files.
        adds = t.samples["delta_py.snapshot_adds"]
        if not (kwargs.get("filters") or len(args) > 4) and adds:
            t.counters["delta_py.candidates_kept"] += adds[-1]
            t.counters["delta_py.candidates_total"] += adds[-1]

    _wrap_function(t, delta_py, "read_delta", "delta_py.read_delta", after_read_delta)
    for f in (
        "write_delta", "delete_where", "update_where", "apply_row_changes",
        "compact", "purge",
    ):
        _wrap_function(t, delta_py, f, f"delta_py.{f}")


class NullTracer:
    """Stand-in for untraced runs: every hook is a no-op."""

    @contextmanager
    def span(self, name: str):
        yield None

    def begin_op(self, op: int) -> None:
        pass

    def end_op(self) -> None:
        pass

    def count(self, key: str, n: float = 1) -> None:
        pass


def _median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


# Layers whose self time is reported; "op" is the benchmark's own
# per-operation root span (time in no layer below it). Functions of
# ``operators`` are not wrapped: some run inside Spark's Python workers,
# where a wrapper would drag the tracer into the pickled closure; their
# time shows as the self time of ``queries``.
LAYERS = (
    "op", "client", "sqlnames", "metastore", "session", "io", "merge",
    "delta_py", "queries", "spark",
)


def layer_metrics(
    tr: Tracer, n_ops: int, query_names: list[str], spark_counts: dict
) -> dict[str, tuple[float, str]]:
    """Per-layer figures of one traced loop, as ``name -> (value, unit)``."""
    spans = tr.spans
    calls: dict[str, int] = defaultdict(int)
    self_s: dict[str, float] = defaultdict(float)
    busy: dict[str, float] = defaultdict(float)
    durations: dict[str, list[float]] = defaultdict(list)
    for sp in spans:
        d = sp.end - sp.start
        calls[sp.name] += 1
        layer = layer_of(sp.name)
        self_s[sp.name] += d - sp.child_s
        self_s[layer] += d - sp.child_s
        durations[sp.name].append(d)
        same_name = same_layer = False
        p = sp.parent
        while p >= 0:
            anc = spans[p]
            same_name = same_name or anc.name == sp.name
            same_layer = same_layer or layer_of(anc.name) == layer
            p = anc.parent
        if not same_name:
            busy[sp.name] += d
        if not same_layer:
            busy[layer] += d

    n = max(1, n_ops)

    def per_op(v: float) -> float:
        return v / n

    def layer_calls(layer: str) -> float:
        return per_op(sum(c for k, c in calls.items() if layer_of(k) == layer))

    c = tr.counters
    s = tr.samples
    counts = list(spark_counts.values())
    kept, total = c["delta_py.candidates_kept"], c["delta_py.candidates_total"]
    out: dict[str, tuple[float, str]] = {
        "metastore.calls": (layer_calls("metastore"), "1/op"),
        "metastore.busy_s": (per_op(busy["metastore"]), "s/op"),
        "metastore.get_table.p50_s": (_median(s["metastore.get_table"]), "s"),
        "metastore.bytes_loaded": (per_op(c["metastore.bytes_loaded"]), "B/op"),
        "metastore.writes": (per_op(c["metastore.writes"]), "1/op"),
        "client.sql.calls": (per_op(calls["client.sql"]), "1/op"),
        "client.sql.resolve_s": (_median(s["client.sql.resolve_s"]), "s"),
        "sqlnames.rewrite.self_s": (per_op(self_s["sqlnames.rewrite"]), "s/op"),
        "sqlnames.names_per_stmt": (
            float(statistics.fmean(s["sqlnames.names_per_stmt"]))
            if s["sqlnames.names_per_stmt"] else 0.0, "count",
        ),
        "session.harden_runtime.calls": (
            per_op(calls["session.harden_runtime"]), "1/op",
        ),
        "session.harden_runtime.busy_s": (
            per_op(busy["session.harden_runtime"]), "s/op",
        ),
        "io.read_table.calls": (per_op(calls["io.read_table"]), "1/op"),
        "io.read_table.self_s": (per_op(self_s["io.read_table"]), "s/op"),
        "spark.jobs_before_action": (
            per_op(sum(b for b, _j, _t in counts)), "1/op",
        ),
        "delta_py.snapshot.calls": (per_op(calls["delta_py.snapshot"]), "1/op"),
        "delta_py.snapshot.busy_s": (per_op(busy["delta_py.snapshot"]), "s/op"),
        "delta_py.commits_replayed_per_snapshot": (
            float(statistics.fmean(s["delta_py.commits_replayed"]))
            if s["delta_py.commits_replayed"] else 0.0, "count",
        ),
        "delta_py.log_bytes_read_per_snapshot": (
            float(statistics.fmean(s["delta_py.log_bytes_read"]))
            if s["delta_py.log_bytes_read"] else 0.0, "B",
        ),
        "delta_py.checkpoints_written": (
            per_op(c["delta_py.checkpoints_written"]), "1/op",
        ),
        "delta_py.files_kept_ratio": (kept / total if total else 0.0, "ratio"),
        "io.write_table.calls": (per_op(calls["io.write_table"]), "1/op"),
        "io.write_table.self_s": (per_op(self_s["io.write_table"]), "s/op"),
        "io.files_written": (per_op(c["io.files_written"]), "1/op"),
        "io.bytes_written": (per_op(c["io.bytes_written"]), "B/op"),
        "delta_py.write_delta.busy_s": (
            per_op(busy["delta_py.write_delta"]), "s/op",
        ),
        "delta_py.dv_files": (c["delta_py.dv_files"], "count"),
        "client.merge_table.busy_s": (
            per_op(busy["client.merge_table"]), "s/op",
        ),
        "merge.execute.busy_s": (per_op(busy["merge.execute"]), "s/op"),
        "merge.rows_changed_per_row_written": (
            c["merge.rows_changed"] / c["merge.rows_written"]
            if c["merge.rows_written"] else 0.0, "ratio",
        ),
    }
    for q in query_names:
        out[f"queries.{q}.p50_s"] = (_median(durations[f"queries.{q}"]), "s")
    out["spark.execute.busy_s"] = (per_op(busy["spark.execute"]), "s/op")
    out["spark.jobs_per_op"] = (per_op(sum(j for _b, j, _t in counts)), "1/op")
    out["spark.tasks_per_op"] = (per_op(sum(t for _b, _j, t in counts)), "1/op")
    for layer in LAYERS:
        out[f"{layer}.self_s"] = (per_op(self_s[layer]), "s/op")
    return out
