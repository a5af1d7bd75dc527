#!/usr/bin/env python3
"""Regenerate the committed per-layer ledger: one traced run per workload.

    python3 perfbench/ledger.py [--seed N] [--out perfbench/ledger_4core.json]

Each workload's entry holds the per-layer metrics, the per-pass Spark runtime
and driver split, the median of every span, and the spans themselves.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", default=str(BENCH / "ledger_4core.json"))
    args = ap.parse_args()
    ledger = {}
    for w in (x["name"] for x in spec["workloads"]):
        part = ROOT / ".perfbench_work" / f"ledger-{w}.json"
        part.parent.mkdir(exist_ok=True)
        cmd = [*spec["command"], "--workload", w, "--seed", str(args.seed),
               "--seconds", str(spec["run_seconds"]), "--trace", "1", "--ledger", str(part)]
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        if p.returncode != 0:
            print(p.stderr[-3000:], file=sys.stderr)
            return p.returncode
        ledger[w] = json.loads(part.read_text())
        ledger[w]["result"] = json.loads(p.stdout.strip().splitlines()[-1])
        part.unlink()
        print(f"{w}: traced run ok, correct={ledger[w]['result']['correct']}", flush=True)
    Path(args.out).write_text(json.dumps(ledger, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
