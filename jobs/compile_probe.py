#!/usr/bin/env python
"""Where a perfbench pass spends its compile budget.

Runs ``perfbench/run.py`` unchanged, with the same arguments, and wraps its
``Run.one_pass`` to print one ``{"probe": ...}`` JSON line per pass:

- ``codegen_compiles``: Janino compiles (``CodegenMetrics`` compilation-time
  histogram count; a generated-class cache hit does not compile);
- ``janino_ms``: Spark's ``CodeGenerator.compileTime`` over the pass;
- ``jvm_cpu_s``: driver-JVM CPU by thread class (``c1``, ``c2``, ``task``
  for executor task threads, ``gc_vm``, ``other``; ``other`` also holds the
  CPU of threads that exited between two samples), from
  ``/proc/<jvm>/task/*/stat`` thread names sampled every 0.5 s;
- ``pyworker_cpu_s``: CPU of the JVM's Python worker processes (the
  ``pyspark.daemon`` and its forked workers, reaped ones included).

Run it from the root of a checkout:

    python jobs/compile_probe.py --workload text_curation --seed 7 \\
        --seconds 10 --trace 0 [--probe-out probe.json]

perfbench's own two stdout lines (run detail, result) still come last;
``--probe-out`` also writes the per-pass probes and the result to a file.
The sampler reads ``/proc`` from the driver process, so a probed run costs
a little more driver CPU than a plain one: compare probes with probes.
"""

from __future__ import annotations

import json
import os
import sys
import threading
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO / "perfbench"))

import run  # noqa: E402

HZ = os.sysconf("SC_CLK_TCK")
SAMPLE_S = 0.5
CLASSES = ("c1", "c2", "task", "gc_vm", "other")
GC_VM = (
    "GC Thread", "G1 ", "VM Thread", "VM Periodic", "Sweeper", "Service Thread",
    "Monitor Deflati", "Reference Handl", "Finalizer", "Common-Cleaner",
    "Signal Dispatch",
)


def thread_class(name: str) -> str:
    if name.startswith("C1 CompilerThre"):
        return "c1"
    if name.startswith("C2 CompilerThre"):
        return "c2"
    if name.startswith("Executor task l"):
        return "task"
    if name.startswith(GC_VM):
        return "gc_vm"
    return "other"


def _stat(path: str) -> tuple[str, list[str]]:
    """(comm, fields after comm) of a /proc stat file."""
    text = Path(path).read_text()
    head, rest = text.rsplit(")", 1)
    return head.split("(", 1)[1], rest.split()


def _cpu(fields: list[str], children: bool = False) -> float:
    # fields[0] is state (stat field 3); utime/stime are fields 14/15,
    # cutime/cstime 16/17
    ticks = int(fields[11]) + int(fields[12])
    if children:
        ticks += int(fields[13]) + int(fields[14])
    return ticks / HZ


class JvmProbe:
    """Per-thread-class CPU of one JVM and of its Python workers."""

    def __init__(self, pid: int):
        self.pid = pid
        self.threads: dict[str, tuple[str, float]] = {}  # tid -> (class, cpu)
        self.lock = threading.Lock()
        self.stop = threading.Event()
        threading.Thread(target=self._loop, daemon=True).start()

    def _loop(self) -> None:
        while not self.stop.wait(SAMPLE_S):
            self.sample()

    def sample(self) -> None:
        seen = {}
        try:
            tids = os.listdir(f"/proc/{self.pid}/task")
        except OSError:  # the JVM is gone
            self.stop.set()
            return
        for tid in tids:
            try:
                name, fields = _stat(f"/proc/{self.pid}/task/{tid}/stat")
            except OSError:
                continue
            seen[tid] = (thread_class(name), _cpu(fields))
        with self.lock:
            self.threads.update(seen)

    def process_cpu(self) -> float:
        return _cpu(_stat(f"/proc/{self.pid}/stat")[1])

    def pyworker_cpu(self) -> float:
        """CPU of the JVM's child processes and of their live children
        (reaped workers are in their parent's cutime/cstime)."""
        kids: dict[int, list[int]] = {}
        stats: dict[int, list[str]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    _, fields = _stat(f"/proc/{d}/stat")
                except OSError:
                    continue
                stats[int(d)] = fields
                kids.setdefault(int(fields[1]), []).append(int(d))
        total, todo = 0.0, list(kids.get(self.pid, []))
        while todo:
            p = todo.pop()
            total += _cpu(stats[p], children=True)
            todo.extend(kids.get(p, []))
        return total

    def snapshot(self) -> dict:
        self.sample()
        with self.lock:
            threads = dict(self.threads)
        return {"threads": threads, "jvm": self.process_cpu(), "py": self.pyworker_cpu()}

    @staticmethod
    def delta(a: dict, b: dict) -> dict:
        out = dict.fromkeys(CLASSES, 0.0)
        for tid, (cls, cpu) in b["threads"].items():
            before = a["threads"].get(tid, (cls, 0.0))[1]
            out[cls] += cpu - before if cpu >= before else cpu  # a reused tid
        out["other"] += (b["jvm"] - a["jvm"]) - sum(out.values())
        out = {k: round(v, 2) for k, v in out.items()}
        out["total"] = round(b["jvm"] - a["jvm"], 2)
        return out


class CompileProbe:
    def __init__(self):
        self.jvm_probe: JvmProbe | None = None
        self.passes: list[dict] = []

    def codegen(self, spark) -> tuple[int, float]:
        jvm = spark.sparkContext._jvm
        hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        gen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        return hist.getCount(), gen.compileTime() / 1e6

    def wrap(self, one_pass):
        probe = self

        def wrapped(self_run, spark, wl, tr, pass_id, traced):
            if probe.jvm_probe is None:
                pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
                probe.jvm_probe = JvmProbe(int(pid))
            n0, ms0 = probe.codegen(spark)
            s0 = probe.jvm_probe.snapshot()
            out = one_pass(self_run, spark, wl, tr, pass_id, traced)
            s1 = probe.jvm_probe.snapshot()
            n1, ms1 = probe.codegen(spark)
            row = {
                "workload": wl.name, "pass": pass_id, "traced": traced,
                "wall_s": round(out[1] - out[0], 2), "net_cpu_s": round(out[2], 2),
                "codegen_compiles": n1 - n0, "janino_ms": round(ms1 - ms0, 1),
                "jvm_cpu_s": JvmProbe.delta(s0, s1),
                "pyworker_cpu_s": round(s1["py"] - s0["py"], 2),
            }
            probe.passes.append(row)
            print(json.dumps({"probe": row}), flush=True)
            return out

        return wrapped


def main() -> int:
    argv = sys.argv[1:]
    out_path = None
    if "--probe-out" in argv:
        i = argv.index("--probe-out")
        out_path = argv[i + 1]
        del argv[i : i + 2]
    sys.argv = [str(REPO / "perfbench" / "run.py"), *argv]
    probe = CompileProbe()
    run.Run.one_pass = probe.wrap(run.Run.one_pass)
    run_main = run.Run.main
    outcome = {}

    def keep(self_run):
        outcome["result"], outcome["detail"] = run_main(self_run)
        return outcome["result"], outcome["detail"]

    run.Run.main = keep
    rc = run.main()
    if out_path is not None:
        Path(out_path).write_text(
            json.dumps({"args": argv, "passes": probe.passes, **outcome}, indent=1, default=str)
            + "\n"
        )
    return rc


if __name__ == "__main__":
    sys.exit(main())
