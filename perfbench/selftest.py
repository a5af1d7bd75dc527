#!/usr/bin/env python3
"""Self-test of the benchmark itself, on tiny (sf0.001-sized) inputs.

    python3 perfbench/selftest.py [--workload NAME]

For each workload it runs one smoke pass untraced and traced, and checks that
the result line has exactly the contract's keys and every metric named in
``BENCHMARK.json`` with its unit, and that no operation failed. It then runs
a smoke pass with ``--corrupt`` (one output row dropped before the check) and
requires ``failed > 0``. Finally it copies only ``BENCHMARK.json`` and the
benchmark directory into an empty directory and requires a non-zero exit
without a result line.
"""

from __future__ import annotations

import argparse
import json
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(cwd: Path, workload: str, *extra: str) -> subprocess.CompletedProcess:
    cmd = [*SPEC["command"], "--workload", workload, "--seed", "1",
           "--seconds", "0", "--smoke", *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def result_of(p: subprocess.CompletedProcess) -> dict:
    if p.returncode != 0:
        raise AssertionError(f"exit {p.returncode}: {p.stderr[-2000:]}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise AssertionError(f"result keys {sorted(res)}")
    if not isinstance(res["attempted"], int) or res["attempted"] < 1:
        raise AssertionError(f"attempted {res['attempted']!r}")
    return res


def expect_metrics(res: dict, spec_key: str) -> None:
    want = {m["name"]: m["unit"] for m in SPEC[spec_key]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want:
        raise AssertionError(f"{spec_key} metrics/units differ: {got} != {want}")
    for k, v in res["metrics"].items():
        if not isinstance(v["value"], float):
            raise AssertionError(f"{k} value {v['value']!r} is not a number")
        if spec_key == "end_to_end" and v["value"] <= 0:
            raise AssertionError(f"end-to-end metric {k} is {v['value']}")


def main() -> int:
    names = [w["name"] for w in SPEC["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=names, action="append")
    args = ap.parse_args()
    for w in args.workload or names:
        for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
            res = result_of(run(ROOT, w, "--trace", trace))
            expect_metrics(res, key)
            if not res["correct"] or res["failed"]:
                raise AssertionError(f"{w} trace={trace}: {res['failed']} operations failed")
            print(f"ok  {w} trace={trace}: {len(res['metrics'])} metrics, "
                  f"{res['attempted']} operations checked", flush=True)
        res = result_of(run(ROOT, w, "--trace", "0", "--corrupt"))
        if res["correct"] or res["failed"] < 1:
            raise AssertionError(f"{w}: a dropped output row went unnoticed")
        print(f"ok  {w} corrupt: {res['failed']}/{res['attempted']} operations failed", flush=True)

    bare = ROOT / ".perfbench_work" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    try:
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        for p in SPEC["paths"]:
            shutil.copytree(ROOT / p, bare / p, ignore=shutil.ignore_patterns("__pycache__"))
        p = run(bare, names[0], "--trace", "0")
        if p.returncode == 0 or p.stdout.strip():
            raise AssertionError("benchmark ran without the engine sources")
        print(f"ok  bare checkout: exit {p.returncode}, no result line")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
