"""Quick self-check of the benchmark at scale 0.001.

Runs every workload once untraced and once traced (one second of
measuring each) and asserts that:

- the last output line is the result object with exactly the keys
  ``correct``, ``attempted``, ``failed`` and ``metrics``, all checks pass;
- the untraced run emits every ``end_to_end`` metric of
  ``BENCHMARK.json`` and the traced run every ``per_layer`` metric, each
  with the declared unit, and every name and unit is well-formed.

Usage (from the root of a checkout; takes a few minutes):

    python3 perfbench/selfcheck.py
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
WORKLOADS = ("catalog_sql", "headline_queries", "delta_write_merge")


def run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [
            sys.executable, os.path.join(HERE, "run.py"),
            "--workload", workload, "--seed", "7", "--seconds", "1",
            "--trace", str(trace), "--scale", "0.001",
        ],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if proc.returncode != 0:
        raise AssertionError(
            f"{workload} trace={trace} exited {proc.returncode}:\n"
            + proc.stderr[-3000:]
        )
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check(result: dict, declared: list[dict], where: str) -> None:
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise AssertionError(f"{where}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        raise AssertionError(f"{where}: outputs failed their checks: {result}")
    got = result["metrics"]
    want = {m["name"]: m["unit"] for m in declared}
    if set(got) != set(want):
        raise AssertionError(
            f"{where}: missing {sorted(set(want) - set(got))}, "
            f"unexpected {sorted(set(got) - set(want))}"
        )
    for name, m in got.items():
        if not NAME_RE.match(name) or not UNIT_RE.match(m["unit"]):
            raise AssertionError(f"{where}: malformed {name!r} / {m['unit']!r}")
        if m["unit"] != want[name]:
            raise AssertionError(f"{where}: {name} unit {m['unit']} != {want[name]}")
        if not isinstance(m["value"], (int, float)):
            raise AssertionError(f"{where}: {name} value {m['value']!r}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for workload in WORKLOADS:
        check(run(workload, 0), bench["end_to_end"], f"{workload} untraced")
        check(run(workload, 1), bench["per_layer"], f"{workload} traced")
        print(f"ok {workload}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
