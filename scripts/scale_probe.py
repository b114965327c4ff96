"""Parallel-scaling probe at 10x data (judge r12 #9).

The driver's 8-vs-32-core scaling block at sf0.1 reads <1 for every
query — the dataset is too small for core count to matter, so
parallelism claims were untestable. This probe builds the same
shape-preserving 10x dataset as scripts/scale_rehearsal.py (scratch
dir, never /root/testdata) and times a heavy-query subset at
local[8] vs local[32] in FRESH subprocesses (one JVM per core count,
bench-style noop sink + warmup via scripts/time_query.py), writing
the medians + ratios to a JSON evidence artifact.

Nothing here feeds bench.py or any query result: the scaled dataset
is an input fixture for this probe only.

Usage:
    python scripts/scale_probe.py [--work /tmp/llh_scale10]
        [--out plans/r13/scaling_10x.json] [--passes 3]
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import re
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

QUERIES = [
    # x-series heavies whose inputs are replicated 10x by _replicate
    "x02_dedup_ngram_jaccard",
    "x03_dedup_minhash_lsh",
    "x66_pagerank",
    "x81_cdc_chunk_dedup",
    "x49_corpus_pipeline",
    # one scan-agg control from the q-series
    "q16_tpch_q1_agg",
]

UNSCALED_COPY = [
    # tables the probe queries (and the q06 warmup) read but the
    # replicator does not scale — copied 1x so the dir is complete
    "customer",
    "nation",
    "region",
    "embeddings",
]


def _load_rehearsal():
    spec = importlib.util.spec_from_file_location(
        "scale_rehearsal", os.path.join(REPO, "scripts", "scale_rehearsal.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def build_dataset(src: str, work: str) -> None:
    if os.path.isdir(work) and os.path.exists(
        os.path.join(work, "lineitem.parquet")
    ):
        print(f"# reusing scaled dataset at {work}")
        return
    reh = _load_rehearsal()
    from local_lakehouse_spark.session import get_spark

    spark = get_spark(app_name="scale-probe-build")
    reh._replicate(spark, src, work, replicas=10)
    for name in UNSCALED_COPY:
        s = os.path.join(src, f"{name}.parquet")
        d = os.path.join(work, f"{name}.parquet")
        if os.path.exists(s) and not os.path.exists(d):
            if os.path.isdir(s):
                shutil.copytree(s, d)
            else:
                shutil.copy(s, d)
    spark.stop()


def run_at(cpus: int, work: str, passes: int) -> dict[str, float]:
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    out = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "scripts", "time_query.py"),
            "--passes",
            str(passes),
            work,
            *QUERIES,
        ],
        env=env,
        capture_output=True,
        text=True,
        cwd=REPO,
    )
    meds: dict[str, float] = {}
    for line in out.stdout.splitlines():
        m = re.match(r"(\S+): median=([\d.]+)", line)
        if m:
            meds[m.group(1)] = float(m.group(2))
    if len(meds) != len(QUERIES):
        sys.stderr.write(out.stdout[-2000:] + "\n" + out.stderr[-4000:])
        raise SystemExit(f"cpus={cpus}: expected {len(QUERIES)} medians, got {meds}")
    return meds


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--work", default="/tmp/llh_scale10")
    ap.add_argument("--out", default="plans/r13/scaling_10x.json")
    ap.add_argument("--passes", type=int, default=3)
    args = ap.parse_args()

    build_dataset(args.src, args.work)
    print("# timing at local[8] ...", flush=True)
    t8 = run_at(8, args.work, args.passes)
    print("# timing at local[32] ...", flush=True)
    t32 = run_at(32, args.work, args.passes)
    result = {
        "dataset": "shape-preserving 10x of sf0.1 (scale_rehearsal._replicate)",
        "passes": args.passes,
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "sec_local8": t8,
        "sec_local32": t32,
        "speedup_8_to_32": {
            q: round(t8[q] / t32[q], 2) for q in QUERIES if t32.get(q)
        },
    }
    if os.path.dirname(args.out):
        os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(result, fh, indent=2)
    print(json.dumps(result["speedup_8_to_32"], indent=2))
    print(f"wrote {args.out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
