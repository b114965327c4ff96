"""Lakehouse benchmark: one workload, one run, one JSON result line.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload catalog_sql --seed 1 --seconds 10 --trace 0

Workloads (see ``workloads.py`` and ``METRICS.md``):

- ``catalog_sql``: short ``client.sql`` SELECTs over three-part catalog
  names, PARQUET and DELTA tables, Zipf-skewed table picks;
- ``headline_queries``: the 19 HEADLINE queries of ``bench.py`` over
  raw parquet paths with the noop sink;
- ``delta_write_merge``: a seeded stream of appends, MERGE upserts,
  ``replace_where``, deletes, updates and maintenance against a DELTA
  and a PARQUET table, each commit followed by five reads.

One client thread issues every operation in a closed loop. Inputs are
generated from ``--seed`` inside ``.perfbench_work/`` in the checkout,
which is removed at exit. With ``--trace 0`` the last line holds the
end-to-end metrics; with ``--trace 1`` it holds the per-layer metrics
of a traced loop (spans around every layer's public functions), and
the tracing overhead against the untraced loop that runs before it on
the same tables, over the same kinds of operations. The line before it is a report with every figure,
including read/write latency split, error rate and host labels.

Exits non-zero without a result line when the program under test
(``local_lakehouse_spark``) is not in the checkout.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "2g"
CORES = 2  # Spark local[k]; capped at nproc


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--scale", type=float, default=None,
        help="override the workload's data scale (self-check uses 0.001)",
    )
    return p.parse_args(argv)


def tail(values: list[float]) -> tuple[float, float]:
    """(level, value) of the highest percentile with at least ten
    samples beyond it (nearest rank), never below the median."""
    if not values:
        return 0.0, 0.0
    xs = sorted(values)
    n = len(xs)
    level = max(0.5, 1.0 - 10.0 / n)
    rank = max(1, math.ceil(level * n))
    return level, max(xs[rank - 1], statistics.median(xs))


def _read_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _git_commit() -> str:
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def _steal_busy() -> tuple[int, int]:
    """(stolen, busy + stolen) jiffies summed over all CPUs."""
    try:
        with open("/proc/stat") as fh:
            v = [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0
    user, nice, system, _idle, _iowait, irq, softirq, steal = v
    return steal, user + nice + system + irq + softirq + steal


class Timer:
    """Time of an interval: its wall time less the share of the busy
    CPU time the hypervisor stole meanwhile (``/proc/stat`` steal).
    The busy time counts every process on the machine, of which the
    benchmark is taken to be the only busy one; the figure estimates
    what the interval would have taken had no CPU been stolen. Every
    time the benchmark reports is taken this way. Without it, runs of
    the same code on a host whose steal share moves between 0.05 and
    0.35 differ by a third (METRICS.md)."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.steal0, self.busy0 = _steal_busy()

    def stop(self) -> float:
        wall = time.perf_counter() - self.t0
        steal, busy = _steal_busy()
        share = (steal - self.steal0) / (busy - self.busy0) if busy > self.busy0 else 0.0
        return wall * (1.0 - share)


class Context:
    def __init__(self, spark, seed: int, tracer) -> None:
        self.spark = spark
        self.seed = seed
        self.tracer = tracer


def measure(ctx: Context, wl, state, ops, seconds: float) -> tuple[list, list, float]:
    """Closed loop: each op starts when the previous one returned, until
    ``seconds`` have passed and the op ends the workload's unit (a pass,
    a commit cycle). Returns the ops with their outcomes, each op's
    latency (see :class:`Timer`), and the share of busy CPU time the
    hypervisor stole during the whole loop (a label)."""
    done: list = []
    lat: list[float] = []
    steal0, busy0 = _steal_busy()
    tr = ctx.tracer
    deadline = time.perf_counter() + seconds
    errors = 0
    for i, op in enumerate(ops):
        if hasattr(wl, "prepare"):
            wl.prepare(state, op)
        tr.begin_op(i)
        timer = Timer()
        try:
            with tr.span(f"op.{op.kind}"):
                res, ok = wl.run(state, op), True
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            res, ok = None, False
            errors += 1
            if errors <= 3:
                traceback.print_exc(file=sys.stderr)
        lat.append(timer.stop())
        tr.end_op()
        done.append((op, ok, res))
        if op.boundary and time.perf_counter() >= deadline:
            break
    else:
        print("# op list exhausted before the deadline", file=sys.stderr)
    steal, busy = _steal_busy()
    return done, lat, (steal - steal0) / (busy - busy0) if busy > busy0 else 0.0


def loop_metrics(done, lat) -> dict:
    busy = sum(lat)
    reads = [d for (op, _ok, _r), d in zip(done, lat) if op.kind == "read"]
    writes = [d for (op, _ok, _r), d in zip(done, lat) if op.kind == "write"]
    rl, rt = tail(reads)
    by_name: dict[str, list[float]] = {}
    for (op, _ok, _r), d in zip(done, lat):
        by_name.setdefault(op.name, []).append(d)
    return {
        "read_p50_s": statistics.median(reads) if reads else 0.0,
        "read_tail_s": rt, "read_tail_level": rl, "read_samples": len(reads),
        "write_p50_s": statistics.median(writes) if writes else 0.0,
        "write_samples": len(writes),
        "ops_per_s": len(done) / busy if busy else 0.0,
        "ops": len(done),
        "p50_by_op": {
            name: statistics.median(v) for name, v in sorted(by_name.items())
        },
    }


def start_spark(work: str, cores: int):
    """Start Spark through the program's own session builder; the
    benchmark only points scratch space into its work dir and keeps
    job history for the traced run's status queries."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
        # -UsePerfData: no hsperfdata file outside the work dir
        f"-XX:ReservedCodeCacheSize=512m -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--conf spark.local.dir={os.path.join(work, 'spark-local')}",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf spark.ui.showConsoleProgress=false",
        "--conf spark.ui.retainedJobs=100000",
        "--conf spark.ui.retainedStages=100000",
        "--conf spark.sql.ui.retainedExecutions=100",
        "pyspark-shell",
    ])
    from local_lakehouse_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (
        os.path.isfile(os.path.join(ROOT, "local_lakehouse_spark", "__init__.py"))
        and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
    ):
        print(
            f"perfbench: program not found under {ROOT} "
            "(need local_lakehouse_spark/ and __spark_entry__.py)",
            file=sys.stderr,
        )
        return 2
    sys.path[:0] = [HERE, ROOT]
    os.environ["TZ"] = "UTC"
    time.tzset()
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    nproc = os.cpu_count() or 1
    cores = max(1, min(CORES, nproc))
    load_start = os.getloadavg()
    spark = None
    try:
        timer = Timer()
        spark = start_spark(work, cores)
        session_s = timer.stop()
        return run_workload(args, spark, work, cores, nproc, load_start, session_s)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def run_workload(args, spark, work, cores, nproc, load_start, session_s) -> int:
    import tracing
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    ctx = Context(spark, args.seed, tracing.NullTracer())
    wl = workloads.WORKLOADS[args.workload](ctx)
    if args.scale is not None:
        wl.scale = args.scale

    # Set-up, as a user meets it in a new process: the session start,
    # the program's first (cold) table creation and registration (a
    # load), and the warm-up on those tables. It runs once per process;
    # its spread is taken across runs. Generating the inputs is the
    # benchmark's own work and is not timed.
    t0 = time.perf_counter()
    paths = wl.stage(os.path.join(work, "data"))
    datagen_s = time.perf_counter() - t0
    timer = Timer()
    state = wl.load(os.path.join(work, "load0"), paths)
    load_s = timer.stop()
    timer = Timer()
    wl.warm(state)
    warm_s = timer.stop()
    setup_s = session_s + load_s + warm_s
    if hasattr(wl, "verify_warm"):
        wl.verify_warm(state)
    ops = wl.make_ops()
    # Start the loop from a collected heap on both sides.
    gc.collect()
    spark.sparkContext._jvm.java.lang.System.gc()

    overhead = None
    if args.trace:
        # Untraced loop on the warmed tables, then a traced loop of the
        # same kinds of operations, with inputs of its own, on the same
        # tables (the checks replay the untraced loop's ops first).
        base_done, base, _ = measure(ctx, wl, state, ops, args.seconds)
        state.setdefault("log", []).extend(base_done)
        tr = tracing.Tracer(spark)
        tracing.install(tr)
        ctx.tracer = tr
        wl.loop = 1
        ops = wl.make_ops()
        done, lat, steal = measure(ctx, wl, state, ops, args.seconds)
        n = min(len(base), len(lat))
        overhead = sum(lat[:n]) / sum(base[:n]) - 1.0 if n else 0.0
    else:
        done, lat, steal = measure(ctx, wl, state, ops, args.seconds)

    t0 = time.perf_counter()
    failed_ops = wl.check(state, done)
    failed_ops |= {i for i, (_op, ok, _r) in enumerate(done) if not ok}
    check_s = time.perf_counter() - t0
    stored, user = wl.stored_bytes(state)
    m = loop_metrics(done, lat)

    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    peak_kb = (
        resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        + _read_kb(jvm_pid, "VmHWM")
    )
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "read_p50_s": (m["read_p50_s"], "s"),
        "read_tail_s": (m["read_tail_s"], "s"),
        "ops_per_s": (m["ops_per_s"], "1/s"),
        "bytes_stored_per_user_byte": (stored / user if user else 0.0, "ratio"),
    }
    import duckdb
    import pyspark

    report = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": wl.scale,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in end_to_end.items()},
        "peak_rss_mb": {"value": peak_kb / 1024.0, "unit": "MB"},
        "write_p50_s": {"value": m["write_p50_s"], "unit": "s"},
        "error_rate": {
            "value": len(failed_ops) / len(done) if done else 1.0, "unit": "ratio",
        },
        "samples": {
            "ops": m["ops"], "reads": m["read_samples"], "writes": m["write_samples"],
            "read_tail_level": m["read_tail_level"],
        },
        "p50_by_op_s": m["p50_by_op"],
        "setup_parts_s": {"session_start": session_s, "load": load_s, "warm": warm_s},
        "labels": {
            "nproc": nproc, "k": cores, "driver_memory": DRIVER_MEM,
            "loadavg_start": list(load_start), "loadavg_end": list(os.getloadavg()),
            "git_commit": _git_commit(),
            "python": platform.python_version(),
            "pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
            "delta_path": _delta_path(),
            "datagen_s": datagen_s, "check_s": check_s, "steal_share": steal,
            "client": "1 thread, closed loop",
        },
    }
    if args.trace:
        import bench  # the HEADLINE names, reported on every workload

        metrics = tracing.layer_metrics(
            ctx.tracer, len(done), list(bench.HEADLINE),
            ctx.tracer.spark_counts(),
        )
        metrics["delta_py.dv_files"] = (float(_count_dv_files(state["dir"])), "count")
        metrics["write.p50_s"] = (m["write_p50_s"], "s")
        metrics["host.peak_rss_mb"] = (peak_kb / 1024.0, "MB")
        metrics["trace.overhead_ratio"] = (overhead, "ratio")
        metrics["trace.probe_s"] = (ctx.tracer.probe_s / max(1, len(done)), "s/op")
        report["per_layer"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        ctx.tracer.dump(
            os.path.join(out_dir, f"spans-{wl.name}-seed{args.seed}.jsonl")
        )
    else:
        metrics = end_to_end
    print(json.dumps(report))
    print(json.dumps({
        "correct": not failed_ops,
        "attempted": len(done),
        "failed": len(failed_ops),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _delta_path() -> str:
    from local_lakehouse_spark import io

    return "delta-spark (JVM)" if io.HAVE_DELTA else "delta_py (python log)"


def _count_dv_files(path: str) -> int:
    return sum(
        1
        for _root, _dirs, files in os.walk(path)
        for f in files
        if f.startswith("deletion_vector")
    )


if __name__ == "__main__":
    sys.exit(main())
