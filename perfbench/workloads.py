"""The benchmark's three workloads.

Each workload has the same life cycle, driven by ``run.py``:

``stage(dir)``
    Generate the input tables from the seed (the benchmark's own
    work, untimed); returns their paths.
``load(dir, paths)``
    Create and register the workload's tables through the program's
    API; the first (cold) load is part of ``setup_s``, a traced run
    loads once more into a fresh directory.
``make_ops()``
    Generate every statement, table pick and write batch from the
    seed, before timing starts.
``warm(state)``
    JVM code generation, Python worker start-up; part of ``setup_s``.
``verify_warm(state)`` (optional)
    Untimed checks of what the warm-up returned.
``run(state, op)``
    One closed-loop operation through the public API; timed.
``check(state, done)``
    Compare the outputs of the operations that ran with an
    independent DuckDB evaluation; returns the failed op indices.
"""

from __future__ import annotations

import math
import os
import re
from dataclasses import dataclass, field
from typing import Any

import duckdb
import numpy as np
import pyarrow as pa

import datagen


@dataclass
class Op:
    kind: str  # "read" or "write"
    name: str  # template or operation name, e.g. "lookup_orders", "merge"
    args: dict = field(default_factory=dict)
    # The loop may stop after this op (it ends the workload's unit).
    boundary: bool = True


def _cell(v: Any) -> Any:
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if hasattr(v, "asDict"):
        return tuple(_cell(x) for x in v)
    if isinstance(v, np.generic):
        return v.item()
    if type(v).__name__ == "Decimal":
        return float(v)
    return v


def _sort_key(row: tuple) -> tuple:
    return tuple(
        (x is None, round(x, 6) if isinstance(x, float) else str(x)) for x in row
    )


def rows_equal(got: list, want: list) -> bool:
    """Order-insensitive row comparison; floats match to 1e-9 relative."""
    if len(got) != len(want):
        return False
    g = sorted((tuple(_cell(c) for c in r) for r in got), key=_sort_key)
    w = sorted((tuple(_cell(c) for c in r) for r in want), key=_sort_key)
    for a, b in zip(g, w):
        if len(a) != len(b):
            return False
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None:
                    if x is not y:
                        return False
                elif not (
                    math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9)
                    or (math.isnan(x) and math.isnan(y))
                ):
                    return False
            elif x != y:
                return False
    return True


def dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def add_filler(client, d: str, n: int) -> None:
    """``n`` more table entries in schema ``archive``, never read: a
    metastore of realistic size for every name lookup to load."""
    from local_lakehouse_spark.models import FileType, Schema, Table, TableType

    client.create_schema(Schema(name="archive", catalog_name=_CAT))
    for i in range(n):
        client.create_table(Table(
            name=f"hist_{i:04d}", catalog_name=_CAT, schema_name="archive",
            table_type=TableType.EXTERNAL, file_type=FileType.PARQUET,
            storage_location=f"file://{d}/archive/hist_{i:04d}",
        ))


class Workload:
    name = ""
    scale = 0.01

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.seed = ctx.seed

    # Which measured loop the ops are for: 0, or 1 for the traced loop
    # that follows the untraced one on the same tables.
    loop = 0

    def rng(self, stream: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, stream + 100 * self.loop])


# ---------------------------------------------------------------------------
# catalog_sql
# ---------------------------------------------------------------------------


_CAT = "lake"
_FACTS = ("lineitem", "orders", "customer", "part")
_DIMS = ("supplier", "nation")

# Six read templates; every one runs against both storage formats.
# {o}, {l}, {c}, {p} are the three-part names picked for the statement.
_TEMPLATES = {
    "lookup_orders": (
        "SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority "
        "FROM {o} WHERE o_orderkey = {key}"
    ),
    "lookup_lineitem": (
        "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice "
        "FROM {l} WHERE l_orderkey = {key}"
    ),
    "agg_lineitem": (
        "SELECT l_returnflag, l_linestatus, count(*) AS n, "
        "sum(l_quantity) AS qty, sum(l_extendedprice) AS price "
        "FROM {l} WHERE l_shipdate >= TIMESTAMP '{d0}' "
        "AND l_shipdate < TIMESTAMP '{d1}' GROUP BY l_returnflag, l_linestatus"
    ),
    "agg_orders": (
        "SELECT o_orderpriority, count(*) AS n, sum(o_totalprice) AS total "
        "FROM {o} WHERE o_custkey BETWEEN {lo} AND {hi} GROUP BY o_orderpriority"
    ),
    "join_orders_customer": (
        "SELECT c.c_mktsegment, count(*) AS n, sum(o.o_totalprice) AS total "
        "FROM {o} o JOIN {c} c ON o.o_custkey = c.c_custkey "
        "WHERE o.o_orderdate >= TIMESTAMP '{d0}' "
        "AND o.o_orderdate < TIMESTAMP '{d1}' GROUP BY c.c_mktsegment"
    ),
    "join_lineitem_part": (
        "SELECT p.p_type, count(*) AS n, sum(l.l_extendedprice) AS price "
        "FROM {l} l JOIN {p} p ON l.l_partkey = p.p_partkey "
        "WHERE l.l_orderkey BETWEEN {lo} AND {hi} GROUP BY p.p_type"
    ),
}
_NAME_RE = re.compile(r"\blake\.t\d+\.(\w+?)(_d)?\b")


class CatalogSQL(Workload):
    """Short ``client.sql`` SELECTs over catalog names (scale 0.01).

    The metastore holds ``TENANTS`` schemas that each register the
    four fact tables twice -- PARQUET over the staged files and DELTA
    over delta_py tables -- plus the two dimensions, and ``FILLER``
    more table entries that are never read. Each statement picks its
    tenant with a Zipf skew; the template and format follow a fixed
    cycle so every seed runs the same mix. Every 13th operation is a
    catalog write (a table property update).
    """

    name = "catalog_sql"
    scale = 0.01
    TENANTS = 4
    FILLER = 160
    ZIPF_S = 1.2

    def stage(self, d: str) -> dict[str, str]:
        return datagen.stage(d, self.scale, self.seed, only=_FACTS + _DIMS)

    def load(self, d: str, paths: dict[str, str]):
        from local_lakehouse_spark.client import LakehouseClient
        from local_lakehouse_spark.models import Catalog, Schema

        client = LakehouseClient(os.path.join(d, "metastore.json"), self.spark)
        client.create_catalog(Catalog(name=_CAT))
        for t in range(self.TENANTS):
            client.create_schema(Schema(name=f"t{t}", catalog_name=_CAT))
        delta_dirs = {}
        for name in _FACTS:
            loc = os.path.join(d, "delta", name)
            df = self.spark.read.parquet(paths[name])
            if name == "lineitem":
                # three commits, so reads replay a log, not one file
                key = df.columns[0]
                client.create_as_table(
                    df.filter(f"{key} % 3 = 0"), _CAT, "t0", f"{name}_d",
                    "DELTA", location=loc,
                )
                for r in (1, 2):
                    client.write_table(
                        df.filter(f"{key} % 3 = {r}"), _CAT, "t0", f"{name}_d",
                        mode="APPEND",
                    )
            else:
                client.create_as_table(
                    df, _CAT, "t0", f"{name}_d", "DELTA", location=loc
                )
            delta_dirs[name] = loc
        for t in range(self.TENANTS):
            for name in _FACTS + _DIMS:
                client.register_as_table(
                    _CAT, f"t{t}", name, "PARQUET", paths[name]
                )
            if t:
                for name in _FACTS:
                    client.register_as_table(
                        _CAT, f"t{t}", f"{name}_d", "DELTA", delta_dirs[name]
                    )
        add_filler(client, d, self.FILLER)
        return {"client": client, "paths": paths, "delta": delta_dirs, "dir": d}

    def make_ops(self, n: int = 6000) -> list[Op]:
        rng = self.rng(1)
        rows = datagen.table_rows(self.scale)
        ranks = np.arange(1, self.TENANTS + 1, dtype=np.float64)
        zipf = ranks ** -self.ZIPF_S
        tenants = rng.choice(self.TENANTS, size=n, p=zipf / zipf.sum())
        cycle = [(t, fmt) for t in _TEMPLATES for fmt in ("", "_d")]
        ops = []
        for i in range(n):
            pos = i % (len(cycle) + 1)
            tenant = f"{_CAT}.t{tenants[i]}"
            if pos == len(cycle):
                ops.append(Op("write", "touch_table", {
                    "schema": f"t{tenants[i]}",
                    "table": str(rng.choice(_FACTS)),
                    "value": str(i),
                }))
                continue
            tpl, fmt = cycle[pos]
            day0 = int(rng.integers(0, 2300))
            days = int(rng.integers(20, 120))
            lo = int(rng.integers(0, rows["orders"] - 400))
            args = {
                "o": f"{tenant}.orders{fmt}",
                "l": f"{tenant}.lineitem{fmt}",
                "c": f"{tenant}.customer{fmt}",
                "p": f"{tenant}.part{fmt}",
                "key": int(rng.integers(0, rows["orders"])),
                "d0": str(np.datetime64("1995-01-01") + day0),
                "d1": str(np.datetime64("1995-01-01") + day0 + days),
                "lo": lo if tpl != "agg_orders" else lo % rows["customer"],
                "hi": lo + 300 if tpl != "agg_orders" else lo % rows["customer"] + 40,
            }
            ops.append(Op("read", f"{tpl}.{'delta' if fmt else 'parquet'}", {
                "sql": _TEMPLATES[tpl].format(**args),
            }, boundary=False))
        return ops

    def warm(self, state) -> None:
        for op in self.make_ops(len(_TEMPLATES) * 2 + 1):
            self.run(state, op)

    def run(self, state, op: Op):
        client = state["client"]
        tr = self.ctx.tracer
        if op.kind == "write":
            tbl = client.get_table(_CAT, op.args["schema"], op.args["table"])
            tbl.properties = {**(tbl.properties or {}), "perfbench.touch": op.args["value"]}
            client.update_table(tbl)
            return (op.args["schema"], op.args["table"], op.args["value"])
        df = client.sql(op.args["sql"])
        with tr.span("spark.execute"):
            return [tuple(r) for r in df.collect()]

    def check(self, state, done: list) -> set[int]:
        """DuckDB over the staged parquet re-runs a seeded sample of
        the statements; the last property written to each touched
        table must read back from the catalog."""
        failed = set()
        paths = state["paths"]
        con = duckdb.connect()
        reads = [i for i, (op, ok, _res) in enumerate(done) if ok and op.kind == "read"]
        rng = self.rng(2)
        sample = rng.choice(reads, size=min(40, len(reads)), replace=False) if reads else []
        for i in sample:
            op, _ok, got = done[int(i)]
            sql = _NAME_RE.sub(
                lambda m: f"read_parquet('{paths[m.group(1)]}')", op.args["sql"]
            )
            want = con.sql(sql).fetchall()
            if not rows_equal(got, want):
                failed.add(int(i))
        last = {}
        for i, (op, ok, res) in enumerate(done):
            if ok and op.kind == "write":
                last[res[:2]] = (i, res[2])
        client = state["client"]
        for (schema, table), (i, value) in last.items():
            props = client.get_table(_CAT, schema, table).properties or {}
            if props.get("perfbench.touch") != value:
                failed.add(i)
        con.close()
        return failed

    def stored_bytes(self, state) -> tuple[int, int]:
        user = sum(os.path.getsize(p) for p in state["paths"].values())
        stored = user + sum(dir_bytes(p) for p in state["delta"].values())
        return stored, user


# ---------------------------------------------------------------------------
# headline_queries
# ---------------------------------------------------------------------------


class HeadlineQueries(Workload):
    """The 19 HEADLINE queries of ``bench.py`` over raw parquet paths,
    materialized with the noop sink; whole passes in a fixed order."""

    name = "headline_queries"
    scale = 0.01

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        import __spark_entry__ as entry
        import bench

        self.names = list(bench.HEADLINE)
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.release = bench.release_persisted
        self.bad: set[str] = set()

    def stage(self, d: str) -> dict[str, str]:
        return datagen.stage(d, self.scale, self.seed)

    def load(self, d: str, paths: dict[str, str]):
        """Nothing to create: the queries read the staged files by path."""
        return {"dir": os.path.dirname(paths["lineitem"]), "paths": paths}

    PASSES_PER_UNIT = 2  # the loop stops only after an even pass

    def make_ops(self, passes: int = 200) -> list[Op]:
        last = len(self.names) - 1
        return [
            Op("read", name, {}, boundary=(
                j == last and p % self.PASSES_PER_UNIT == self.PASSES_PER_UNIT - 1
            ))
            for p in range(passes)
            for j, name in enumerate(self.names)
        ]

    def warm(self, state) -> None:
        """One collected pass, kept for ``verify_warm``."""
        state["collected"] = {}
        for name in self.names:
            self.release(self.spark)
            sdf = self.queries[name](self.spark, state["dir"])
            state["collected"][name] = (sdf.columns, [tuple(r) for r in sdf.collect()])

    def verify_warm(self, state) -> None:
        """Each query's warm-up result against its DuckDB oracle (row
        count and every value); a query that disagrees has all its
        timed operations counted as failed. Runs untimed before the
        loop, while the JVM finishes compiling what the warm-up ran."""
        con = duckdb.connect()
        for name, path in state["paths"].items():
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        for name in self.names:
            columns, got = state["collected"][name]
            rel = con.sql(self.oracles[name])
            want = rel.fetchall()
            s_cols = [c.lower() for c in columns]
            d_cols = [c[0].lower() for c in rel.description]
            if sorted(s_cols) == sorted(d_cols) and s_cols != d_cols:
                idx = [s_cols.index(c) for c in d_cols]
                got = [tuple(r[i] for i in idx) for r in got]
            if not rows_equal(got, want):
                self.bad.add(name)
        con.close()

    def run(self, state, op: Op):
        self.release(self.spark)
        with self.ctx.tracer.span(f"queries.{op.name}"):
            df = self.queries[op.name](self.spark, state["dir"])
            with self.ctx.tracer.span("spark.execute"):
                df.write.mode("overwrite").format("noop").save()
        return None

    def check(self, state, done: list) -> set[int]:
        return {i for i, (op, _ok, _r) in enumerate(done) if op.name in self.bad}

    def stored_bytes(self, state) -> tuple[int, int]:
        """The queries store nothing beyond their input files, so the
        ratio is 1 by definition; it is reported because every run
        reports every end-to-end metric."""
        n = sum(os.path.getsize(p) for p in state["paths"].values())
        return n, n


# ---------------------------------------------------------------------------
# delta_write_merge
# ---------------------------------------------------------------------------

_W_SCHEMA = "w"
_DELTA_T = "orders_delta"
_PARQ_T = "orders_parquet"
# The commit cycle: every seed runs the same sequence of operation
# kinds (the seed picks keys, batches and predicates), and the loop
# stops only at the end of a cycle, so every run measures whole cycles.
_CYCLE = (
    ("delta", "append"), ("delta", "merge"), ("parquet", "append"),
    ("delta", "update_rows"), ("delta", "delete_from"), ("parquet", "merge"),
    ("delta", "replace_where"), ("delta", "purge_table"), ("delta", "append"),
    ("delta", "optimize_table"),
)
_AGG_SQL = (
    "SELECT o_year, count(*) AS n, sum(o_totalprice) AS total "
    "FROM {t} GROUP BY o_year"
)
_LOOKUP_SQL = (
    "SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority "
    "FROM {t} WHERE o_orderkey = {key}"
)


def _with_year(tbl: pa.Table) -> pa.Table:
    years = tbl.column("o_orderdate").to_numpy().astype("datetime64[Y]")
    return tbl.append_column(
        "o_year", pa.array(years.astype(np.int64) + 1970, pa.int32())
    )


class DeltaWriteMerge(Workload):
    """A seeded commit stream against a partitioned DELTA table and a
    partitioned directory-PARQUET table of ``orders`` (scale 0.1,
    partitioned by order year). Each commit is followed by five reads
    through ``client.sql``: of the DELTA table an aggregate, a lookup
    of a key the commit wrote (where it wrote any, else of an existing
    key) and a lookup of an existing key; of the PARQUET table an
    aggregate and a lookup chosen the same way.

    DELTA reads slow down two- to four-fold while deletion vectors are
    outstanding (five to six commits of the cycle), so 15-18 of the 50
    reads are slow ones. The read median (rank 25) then falls among the
    fast reads and the tail (p80, rank 40) among the slow ones, each
    several ranks from the edge between them, where a run-to-run shift
    of one read would move the figure by half."""

    name = "delta_write_merge"
    scale = 0.1
    BATCH = 500  # rows per append / merge batch
    MATCHED = 0.1  # share of merge keys that already exist
    FILLER = 160

    def stage(self, d: str) -> dict[str, str]:
        return datagen.stage(d, self.scale, self.seed, only=("orders",))

    def load(self, d: str, paths: dict[str, str]):
        from local_lakehouse_spark.client import LakehouseClient
        from local_lakehouse_spark.models import Catalog, Schema

        client = LakehouseClient(os.path.join(d, "metastore.json"), self.spark)
        client.create_catalog(Catalog(name=_CAT))
        client.create_schema(Schema(name=_W_SCHEMA, catalog_name=_CAT))
        df = self.spark.read.parquet(paths["orders"]).selectExpr(
            "*", "CAST(year(o_orderdate) AS INT) AS o_year"
        )
        locs = {}
        for t, fmt in ((_DELTA_T, "DELTA"), (_PARQ_T, "PARQUET")):
            locs[t] = os.path.join(d, "tables", t)
            client.create_as_table(
                df, _CAT, _W_SCHEMA, t, fmt, location=locs[t],
                partition_cols=["o_year"],
            )
        add_filler(client, d, self.FILLER)
        schema = client.read_table(_CAT, _W_SCHEMA, _DELTA_T).schema
        user = os.path.getsize(paths["orders"]) * 2
        return {
            "client": client, "paths": paths, "locs": locs, "schema": schema,
            "user_bytes": user, "dir": d, "log": [],
        }

    def make_ops(
        self, commits: int = 10 * len(_CYCLE), key_base: int | None = None
    ) -> list[Op]:
        """The commit stream; new rows get keys from ``key_base`` up
        (by default a range of the measured loop's own)."""
        rng = self.rng(3)
        rows = datagen.table_rows(self.scale)
        next_key = 10_000_000 + 20_000_000 * self.loop if key_base is None else key_base
        ops: list[Op] = []
        for c in range(commits):
            table, kind = _CYCLE[c % len(_CYCLE)]
            args: dict = {"table": _DELTA_T if table == "delta" else _PARQ_T}
            if kind in ("append", "merge"):
                n_old = int(self.BATCH * self.MATCHED) if kind == "merge" else 0
                keys = np.concatenate([
                    rng.choice(rows["orders"], n_old, replace=False),
                    np.arange(next_key, next_key + self.BATCH - n_old),
                ])
                next_key += self.BATCH - n_old
                args["batch"] = _with_year(
                    datagen.order_batch(rng, keys, rows["customer"])
                )
            elif kind == "replace_where":
                year = int(rng.integers(1995, 2002))
                n = rows["orders"] // 7
                batch = _with_year(datagen.order_batch(
                    rng, np.arange(next_key, next_key + 3 * n), rows["customer"]
                ))
                batch = batch.filter(pa.compute.equal(batch["o_year"], year))
                next_key += 3 * n
                args.update(batch=batch, where=f"o_year = {year}")
            elif kind in ("delete_from", "update_rows"):
                args["where"] = f"o_custkey = {int(rng.integers(0, rows['customer']))}"
            ops.append(Op("write", kind, args, boundary=False))
            batch = args.get("batch")
            old = int(rng.integers(0, rows["orders"]))
            new = (
                int(batch["o_orderkey"][int(rng.integers(0, batch.num_rows))].as_py())
                if batch is not None and batch.num_rows
                else int(rng.integers(0, rows["orders"]))
            )
            delta, parquet = (f"{_CAT}.{_W_SCHEMA}.{t}" for t in (_DELTA_T, _PARQ_T))
            for name, sql, t in (
                ("aggregate", _AGG_SQL.format(t=delta), _DELTA_T),
                ("lookup", _LOOKUP_SQL.format(
                    t=delta, key=new if table == "delta" else old), _DELTA_T),
                ("lookup", _LOOKUP_SQL.format(t=delta, key=old), _DELTA_T),
                ("aggregate", _AGG_SQL.format(t=parquet), _PARQ_T),
                ("lookup", _LOOKUP_SQL.format(
                    t=parquet, key=new if table == "parquet" else old), _PARQ_T),
            ):
                ops.append(Op("read", name, {"sql": sql, "table": t}, boundary=False))
            ops[-1].boundary = c % len(_CYCLE) == len(_CYCLE) - 1
        return ops

    def prepare(self, state, op: Op) -> None:
        """Turn an Arrow batch into a Spark DataFrame with the table's
        exact schema (client-side input, not timed)."""
        batch = op.args.get("batch")
        if batch is not None and "df" not in op.args:
            import pyarrow.parquet as pq
            from pyspark.sql import functions as F

            buf = pa.BufferOutputStream()
            pq.write_table(batch, buf)
            state["batch_bytes"] = state.get("batch_bytes", 0) + buf.tell()

            sdf = self.spark.createDataFrame(batch.to_pandas())
            op.args["df"] = sdf.select(*[
                F.col(f.name).cast(f.dataType).alias(f.name)
                for f in state["schema"].fields
            ])

    def warm(self, state) -> None:
        """Each DELTA operation kind once, and each read of each table,
        with keys of their own. The ops are logged in the state, so
        ``check`` replays them before the measured ones."""
        seen = set()
        for op in self.make_ops(len(_CYCLE), key_base=50_000_000):
            key = (op.args["table"], op.name)
            if key not in seen and (op.kind == "read" or op.args["table"] == _DELTA_T):
                seen.add(key)
                self.prepare(state, op)
                state["log"].append((op, True, self.run(state, op)))

    def run(self, state, op: Op):
        client = state["client"]
        t = op.args["table"]
        a = op.args
        if op.kind == "read":
            df = client.sql(a["sql"])
            with self.ctx.tracer.span("spark.execute"):
                return [tuple(r) for r in df.collect()]
        if op.name == "append":
            client.write_table(a["df"], _CAT, _W_SCHEMA, t, mode="APPEND")
        elif op.name == "merge":
            self.ctx.tracer.count("merge.rows_changed", a["batch"].num_rows)
            merger = client.merge_table(
                a["df"], _CAT, _W_SCHEMA, t,
                condition="t.o_orderkey = s.o_orderkey",
            )
            merger.when_matched_update_all().when_not_matched_insert_all().execute()
        elif op.name == "replace_where":
            client.write_table(
                a["df"], _CAT, _W_SCHEMA, t, mode="OVERWRITE",
                replace_where=a["where"],
            )
        elif op.name == "delete_from":
            return client.delete_from(_CAT, _W_SCHEMA, t, a["where"])
        elif op.name == "update_rows":
            return client.update_rows(
                _CAT, _W_SCHEMA, t, {"o_totalprice": "o_totalprice + 1.5"},
                a["where"],
            )
        elif op.name == "optimize_table":
            client.optimize_table(_CAT, _W_SCHEMA, t)
        elif op.name == "purge_table":
            client.purge_table(_CAT, _W_SCHEMA, t)
        return None

    def check(self, state, done: list) -> set[int]:
        """Replay the executed op log (the warm-up's writes, then the
        measured ops) on a DuckDB model of both tables; every measured
        read and ``delete_from`` count, and the final table contents,
        must match the model."""
        failed = set()
        log = [entry for entry in state["log"] if entry[0].kind == "write"]
        con = duckdb.connect()
        src = state["paths"]["orders"]
        for t in (_DELTA_T, _PARQ_T):
            con.sql(
                f"CREATE TABLE {t} AS SELECT *, "
                f"CAST(year(o_orderdate) AS INTEGER) AS o_year "
                f"FROM read_parquet('{src}')"
            )
        for i, (op, ok, got) in enumerate(log + done, start=-len(log)):
            t = op.args["table"]
            if op.kind == "read":
                want = con.sql(re.sub(r"lake\.w\.", "", op.args["sql"])).fetchall()
                if not ok or not rows_equal(got, want):
                    failed.add(i)
                continue
            batch = op.args.get("batch")
            if batch is not None:
                con.register("batch", batch)
            if op.name == "append":
                con.sql(f"INSERT INTO {t} SELECT * FROM batch")
            elif op.name == "merge":
                con.sql(
                    f"DELETE FROM {t} WHERE o_orderkey IN "
                    f"(SELECT o_orderkey FROM batch)"
                )
                con.sql(f"INSERT INTO {t} SELECT * FROM batch")
            elif op.name == "replace_where":
                con.sql(f"DELETE FROM {t} WHERE {op.args['where']}")
                con.sql(f"INSERT INTO {t} SELECT * FROM batch")
            elif op.name == "delete_from":
                want_n = con.sql(
                    f"SELECT count(*) FROM {t} WHERE {op.args['where']}"
                ).fetchone()[0]
                con.sql(f"DELETE FROM {t} WHERE {op.args['where']}")
                if ok and got != want_n and i >= 0:
                    failed.add(i)
            elif op.name == "update_rows":
                con.sql(
                    f"UPDATE {t} SET o_totalprice = o_totalprice + 1.5 "
                    f"WHERE {op.args['where']}"
                )
            if batch is not None:
                con.unregister("batch")
            if not ok:
                failed.add(i)
        if done:
            client = state["client"]
            for t in (_DELTA_T, _PARQ_T):
                got = client.read_table(_CAT, _W_SCHEMA, t).toArrow()
                con.register("got", got)
                diff = con.sql(
                    f"SELECT (SELECT count(*) FROM (SELECT * FROM got "
                    f"EXCEPT ALL SELECT * FROM {t})) + (SELECT count(*) FROM "
                    f"(SELECT * FROM {t} EXCEPT ALL SELECT * FROM got))"
                ).fetchone()[0]
                con.unregister("got")
                if diff:
                    failed.add(len(done) - 1)
        con.close()
        return failed

    def stored_bytes(self, state) -> tuple[int, int]:
        stored = 0
        for loc in state["locs"].values():
            stored += dir_bytes(loc)
            snaps = loc.rstrip("/") + ".__snapshots"
            if os.path.isdir(snaps):
                stored += dir_bytes(snaps)
        user = state["user_bytes"] + state.get("batch_bytes", 0)
        return stored, user


WORKLOADS = {
    w.name: w for w in (CatalogSQL, HeadlineQueries, DeltaWriteMerge)
}
