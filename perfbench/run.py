#!/usr/bin/env python3
"""Seeded catalog benchmark: one workload, one closed-loop client.

    python3 perfbench/run.py --workload catalog_build --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It stages the workload's inputs from
``--seed`` under ``.perfbench_work/`` in that checkout, starts Spark at
``local[<nproc>]``, and runs passes one after another:

- set-up, repeated ``SETUP_REPS`` times (Spark session start plus dimension
  prep; the first repetition also launches the JVM), reported as the median;
- one cold pass, timed and checked;
- measured passes until ``--seconds`` have elapsed (at least
  ``MIN_PASSES``, or ``TRACED_MIN_PASSES`` with ``--trace 1``).

The pass metrics are net CPU time: the busy CPU seconds of the whole
machine (/proc/stat) while a pass runs, minus ``STEAL_CHARGE`` times the
seconds the hypervisor stole from its CPUs. On a virtual machine whose host
is shared, steal stretches the wall clock by a different amount on every
run, and the busy time grows with it. Throughput is input rows per net CPU
second over all passes, the cold one included: the JIT compiles a different
share of the engine in the cold pass on every run, but about the same
amount in all passes together. The walls are in the run-detail line.

Every operation's output is checked after its pass, outside the timed
window. An operation fails if it raises or its check fails.

Flush policy between passes: ``spark.catalog.clearCache()`` and
``cache.release()``, and each pass writes its sinks to a fresh directory that
is removed after the pass, outside the timed window.

With ``--trace 1`` the Spark event log is on, measured passes alternate
between traced (spans with job groups) and plain, and the layers are then
forced one by one; ``--ledger PATH`` also writes the per-pass and per-span
detail. The last line of stdout is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before it
holds run details (host probe, pass walls, busy and stolen CPU per pass).
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

T_START = time.time()
BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SETUP_REPS = 7
# a fixed-size heap: its growth would otherwise depend on GC timing, and
# so would the peak RSS
HEAP = "1g"
MIN_PASSES = 2
TRACED_MIN_PASSES = 3  # traced, plain, traced
PR_SET_CHILD_SUBREAPER = 36
# the share of stolen CPU seconds taken off the busy ones: on a 4-core VM,
# 0.5 kept the net CPU of a run steadiest both when little was stolen and
# when a third of the CPU time was (0 and 1 were tried too; see README.md)
STEAL_CHARGE = 0.5

E2E_UNITS = {
    "setup_s": "s", "cold_pass_cpu_s": "cpu-s", "rows_per_cpu_s": "rows/cpu-s", "peak_rss_mb": "MB",
}


def layer_units() -> dict[str, str]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def box_probe() -> float:
    """``bench.py``'s single-thread host-health probe, in a child process so
    its arrays stay out of this process's peak RSS."""
    out = subprocess.run(
        [sys.executable, "-c", "import bench; print(bench.box_probe_sec())"],
        cwd=ROOT, capture_output=True, text=True, check=True,
    )
    return float(out.stdout.split()[-1])


def pin_environment(work: Path, cores: int) -> dict[str, str]:
    """Environment for the JVM and Python workers, set before Spark starts.
    Returns the matching Spark conf."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    env = {
        "PYTHONPATH": str(ROOT),
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "TMPDIR": str(tmp),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "SPARK_GRAFT_JAVA_OPTS": f"-Xms{HEAP} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    conf = {f"spark.executorEnv.{k}": v for k, v in env.items()}
    conf["spark.local.dir"] = str(work / "spark-local")
    return conf


def stop_jvm() -> None:
    """Close the JVM's stdin, which makes it exit, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def adopt_orphans() -> None:
    """Become the subreaper of every process this run starts: a process whose
    parent exits first (Spark's Python daemon when the JVM exits) is then
    re-parented here, where ``end_children`` finds and reaps it."""
    if ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def child_pids() -> list[int]:
    me, pids = os.getpid(), []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                stat = Path(f"/proc/{d}/stat").read_text()
            except OSError:  # it exited while we looked
                continue
            if int(stat.rsplit(")", 1)[1].split()[1]) == me:
                pids.append(int(d))
    return pids


def end_children(grace: float = 10.0) -> None:
    """Stop every child still running (SIGTERM, then SIGKILL after ``grace``
    seconds) and reap it, until this process has no child left."""
    deadline = time.time() + grace
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        sig = signal.SIGTERM if time.time() < deadline else signal.SIGKILL
        for pid in child_pids():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def cpu_s() -> tuple[float, float]:
    """(busy, stolen) CPU seconds of the whole machine so far, from the
    ``cpu`` line of /proc/stat."""
    user, nice, system, _idle, _iowait, irq, softirq, steal = (
        int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:9]
    )
    hz = os.sysconf("SC_CLK_TCK")
    return (user + nice + system + irq + softirq) / hz, steal / hz


def vm_hwm_mb(pid: int | str) -> float:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Run:
    def __init__(self, args):
        self.args = args
        self.cores = os.cpu_count() or 1
        self.work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.sink_sizes: list[dict[str, float]] = []
        self.cpu: list[tuple] = []  # (pass, wall, busy CPU, stolen CPU), in seconds

    # -- passes -------------------------------------------------------------
    def check_pass(self, wl, payloads: dict[str, object], pass_id: str) -> None:
        if self.args.corrupt:  # self-test: drop one row from every frame output
            for op, v in payloads.items():
                if hasattr(v, "iloc"):
                    payloads[op] = v.iloc[:-1]
        for op, payload in payloads.items():
            self.attempted += 1
            try:
                err = wl.check(op, payload)
            except Exception as exc:  # a crashing check is a failed operation
                err = f"check raised {exc!r}"
            if err:
                self.failed += 1
                self.errors.append(f"{pass_id}/{op}: {err}")

    def one_pass(self, spark, wl, tr, pass_id: str, traced: bool) -> tuple[float, float, float]:
        """Run, check and clean up one pass; returns its start and end time
        and the machine's net CPU seconds in between."""
        from stac_catalog_builder_spark import cache

        sink = self.work / "sink" / pass_id
        sink.mkdir(parents=True)
        spark.catalog.clearCache()
        cache.release()
        tr.pass_id, tr.enabled = pass_id, traced
        c0 = cpu_s()
        t0 = time.time()
        try:
            payloads = wl.run_pass(spark, sink, tr)
        except Exception as exc:  # every operation of the pass failed
            t1, c1 = time.time(), cpu_s()
            self.attempted += len(wl.OPS)
            self.failed += len(wl.OPS)
            self.errors.append(f"{pass_id}: pass raised {exc!r}")
        else:
            t1, c1 = time.time(), cpu_s()
            if traced:
                self.sink_sizes.append(_sink_sizes(sink))
            self.check_pass(wl, payloads, pass_id)
        self.cpu.append((pass_id, t1 - t0, c1[0] - c0[0], c1[1] - c0[1]))
        tr.enabled = False
        shutil.rmtree(sink, ignore_errors=True)
        return t0, t1, (c1[0] - c0[0]) - STEAL_CHARGE * (c1[1] - c0[1])

    # -- run ----------------------------------------------------------------
    def main(self) -> tuple[dict, dict]:
        try:
            return self._main()
        finally:
            end_children()
            shutil.rmtree(self.work, ignore_errors=True)

    def _main(self) -> tuple[dict, dict]:
        from workloads import WORKLOADS

        a = self.args
        probe_before = box_probe()
        conf = pin_environment(self.work, self.cores)
        if a.trace:
            (self.work / "eventlog").mkdir()
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = str(self.work / "eventlog")
        (self.work / "in").mkdir()
        wl = WORKLOADS[a.workload](self.work / "in", a.smoke)
        rows = wl.stage(a.seed)

        sys.path.insert(0, str(ROOT))
        from stac_catalog_builder_spark.session import get_spark

        starts, preps, spark = [], [], None
        for _ in range(1 if a.smoke else SETUP_REPS):
            if spark is not None:
                spark.stop()
            t0 = time.time()
            spark = get_spark(
                app=f"perfbench-{a.workload}", master=f"local[{self.cores}]", extra_conf=conf
            )
            t1 = time.time()
            wl.prepare(spark)
            starts.append(t1 - t0)
            preps.append(time.time() - t1)
        try:
            out = self._measure(spark, wl)
            out["rss_py"] = vm_hwm_mb("self")
            out["rss_jvm"] = vm_hwm_mb(
                spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
            )
            out["rss"] = out["rss_py"] + out["rss_jvm"]
        finally:
            spark.stop()
            stop_jvm()
        probe_after = box_probe()
        med = statistics.median
        detail = {
            "workload": a.workload, "seed": a.seed, "cores": self.cores, "input_rows": rows,
            "box_probe_s": [probe_before, probe_after], "setup_start_s": starts,
            "setup_prep_s": preps, "cold_pass_s": out["cold"],
            "rows_per_s": rows / med(out["walls"][False]),
            "pass_walls_s": out["walls"][False], "traced_pass_walls_s": out["walls"][True],
            "pass_wall_busy_steal_s": self.cpu,
            "errors": self.errors, "rss_py_mb": out["rss_py"], "rss_jvm_mb": out["rss_jvm"],
            "expect_s": out["expect_s"],
        }
        if not a.trace:
            metrics = {
                "setup_s": med(s + p for s, p in zip(starts, preps)),
                "cold_pass_cpu_s": out["cold_cpu"],
                "rows_per_cpu_s": rows * len(out["cpu"]) / sum(out["cpu"]),
                "peak_rss_mb": out["rss"],
            }
            units = E2E_UNITS
        else:
            from spans import EventLog, read_events

            ev = EventLog(read_events(self.work / "eventlog"))
            detail["eventlog_files"] = sorted(
                p.name for p in (self.work / "eventlog").rglob("*") if p.is_file()
            )
            metrics, ledger = self._layer_metrics(ev, wl, rows, out, starts, preps)
            units = layer_units()
            detail.update(ledger)
            if a.ledger:
                Path(a.ledger).write_text(json.dumps(detail, indent=1, sort_keys=True) + "\n")
        result = {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
        }
        return result, detail

    def _measure(self, spark, wl) -> dict:
        import stac_catalog_builder_spark
        from spans import Tracer

        a = self.args
        # the checkout under test must be what the driver and workers import
        worker_pkg = spark.sparkContext.parallelize([0], 1).map(
            lambda _: __import__("stac_catalog_builder_spark").__file__
        ).collect()[0]
        for p in (stac_catalog_builder_spark.__file__, worker_pkg):
            if ROOT not in Path(p).resolve().parents:
                raise RuntimeError(f"engine imported from {p}, not from {ROOT}")

        # expected outputs come from a child process, so the oracle's memory
        # stays out of this process's peak RSS
        t0 = time.time()
        want = self.work / "want.pkl"
        subprocess.run(
            [sys.executable, str(BENCH / "workloads.py"), wl.name, str(wl.in_dir), str(want)],
            cwd=ROOT, check=True,
        )
        wl.want = pickle.loads(want.read_bytes())
        expect_s = time.time() - t0
        tr = Tracer(spark)
        t0, t1, cpu = self.one_pass(spark, wl, tr, "cold", traced=False)
        out = {"cold": t1 - t0, "cold_cpu": cpu, "expect_s": expect_s, "cpu": [cpu],
               "walls": {False: [], True: []}, "windows": [], "tracer": tr}
        min_passes = TRACED_MIN_PASSES if a.trace else 1 if a.smoke else MIN_PASSES
        began = time.time()
        k = 0
        while k < min_passes or time.time() - began < a.seconds:
            # traced, plain, traced: a warm-up trend cancels out of the
            # traced-vs-plain overhead ratio
            traced = bool(a.trace) and k % 2 == 0
            t0, t1, cpu = self.one_pass(spark, wl, tr, f"p{k}", traced)
            out["walls"][traced].append(t1 - t0)
            if traced:
                out["windows"].append((f"p{k}", t0, t1))
            else:
                out["cpu"].append(cpu)
            k += 1
        out["direct"] = {}
        if a.trace:
            spark.catalog.clearCache()
            tr.pass_id, tr.enabled = "layers", True
            out["direct"] = wl.layers(spark, tr)
            tr.enabled = False
        return out

    def _layer_metrics(self, ev, wl, rows, out, starts, preps) -> tuple[dict, dict]:
        from spans import driver_split, runtime_totals

        med = statistics.median
        passes = []
        for pid, t0, t1 in out["windows"]:
            jobs = ev.jobs_in_window(t0, t1)
            rt = runtime_totals(jobs)
            rt["busy_ratio"] = rt["task_s"] / ((t1 - t0) * self.cores)
            ds = driver_split(jobs, t0, t1)
            row = {"pass": pid, "wall_s": t1 - t0}
            row.update({f"spark.{k}": v for k, v in rt.items()})
            row.update({f"driver.{k}": v for k, v in ds.items()})
            row["driver.reconcile_err"] = abs(sum(ds.values()) - (t1 - t0)) / (t1 - t0)
            passes.append(row)

        spans: dict[str, list[dict]] = {}
        for s in out["tracer"].spans:
            rt = runtime_totals(ev.jobs_in_group(s["group"]))
            spans.setdefault(s["name"], []).append(
                {"wall_s": s["end"] - s["start"], "jobs": rt["jobs"], "tasks": rt["tasks"],
                 "shuffle_write_bytes": rt["shuffle_write_bytes"]}
            )
        span_med = {n: {k: med(x[k] for x in v) for k in v[0]} for n, v in spans.items()}

        def S(name: str, key: str) -> float:
            return span_med.get(name, {}).get(key, 0.0)

        m = {k: 0.0 for k in layer_units()}
        for k in m:
            if k.startswith(("spark.", "driver.")) and passes:
                m[k] = med(p[k] for p in passes)
        sizes = {k: med(s[k] for s in self.sink_sizes) for k in self.sink_sizes[0]} if self.sink_sizes else {}
        m.update(sizes)
        m.update(
            {
                "session.start_s": starts[0],
                "synth.scan_tasks": S("force.images", "tasks"),
                "spatial_join.call_s": S("spatial_join.call", "wall_s"),
                "spatial_join.call_jobs": S("spatial_join.call", "jobs"),
                "grouping.shuffle_write_bytes": S("force.items", "shuffle_write_bytes"),
                "catalog.write_s": S("catalog.write", "wall_s"),
                "catalog.write_tasks": S("catalog.write", "tasks"),
                "checkpoint.write_s": S("checkpoint.write", "wall_s"),
                "checkpoint.pending_s": S("checkpoint.pending", "wall_s"),
                "checkpoint.jobs": S("checkpoint.write", "jobs") + S("checkpoint.pending", "jobs"),
                "knn.call_s": S("knn.call", "wall_s"),
                "knn.call_jobs": S("knn.call", "jobs"),
                "dedup.call_s": S("dedup.call", "wall_s"),
                "dedup.call_jobs": S("dedup.call", "jobs"),
                "graph.call_s": S("graph.call", "wall_s"),
                "graph.jobs": S("graph.call", "jobs") + S("force.groups", "jobs"),
                "sink.bytes_per_row": (sizes.get("catalog.bytes", 0) + sizes.get("checkpoint.bytes", 0)) / rows,
                "trace.overhead_ratio": med(out["walls"][True]) / med(out["walls"][False]) - 1.0,
                "check.fail_ratio": self.failed / max(self.attempted, 1),
            }
        )
        if wl.prep_layer:
            m[wl.prep_layer] = med(preps)
        m.update(out["direct"])
        return m, {"layer_metrics": m, "passes": passes, "spans": span_med,
                   "span_log": out["tracer"].spans}


def _sink_sizes(sink: Path) -> dict[str, float]:
    from workloads import dir_bytes

    files, items_b = dir_bytes(sink / "items")
    _, ckpt_b = dir_bytes(sink / "ckpt")
    return {"catalog.files": files, "catalog.bytes": items_b, "checkpoint.bytes": ckpt_b}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["catalog_build", "text_curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, one measured pass")
    ap.add_argument("--corrupt", action="store_true", help="drop one output row before each check")
    ap.add_argument("--ledger", help="with --trace 1, write the per-pass/per-span detail here")
    args = ap.parse_args()
    missing = [p for p in ("stac_catalog_builder_spark/__init__.py", "__spark_entry__.py", "bench.py")
               if not (ROOT / p).is_file()]
    if missing:
        print(f"perfbench: engine sources missing from {ROOT}: {missing}", file=sys.stderr)
        return 2
    adopt_orphans()
    # a terminated run still stops Spark, reaps its children and cleans up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    result, detail = Run(args).main()
    detail["run_wall_s"] = time.time() - T_START
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
