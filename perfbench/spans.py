"""Spans around layer calls, and Spark event-log accounting.

Spans are recorded from the benchmark's own code around calls into the
engine's public functions. Each span sets a Spark job group, so every job
the span triggers is tied to it in the event log. Spans stay in memory until
the run ends.

The event log is Spark's own (``spark.eventLog.enabled``). Spark 4 rolls it
into ``eventlog_v2_<app>/events_<n>_<app>.zstd`` files, which
``pyarrow.input_stream(..., compression="zstd")`` decodes.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """Span recorder. With ``enabled=False`` spans cost one clock read."""

    def __init__(self, spark, enabled: bool = False):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self.pass_id = "setup"

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        group = f"{self.pass_id}/{name}/{len(self.spans)}"
        self.sc.setJobGroup(group, name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self.sc.setJobGroup("", "")
            self.spans.append(
                {"name": name, "pass": self.pass_id, "group": group, "start": t0, "end": t1}
            )

    def timed(self, name: str, fn):
        """Run ``fn`` inside a span; return (result, wall seconds)."""
        t0 = time.time()
        with self.span(name):
            out = fn()
        return out, time.time() - t0


def read_events(log_dir: Path) -> list[dict]:
    """All events of the last application logged under ``log_dir``."""
    import pyarrow as pa

    apps = sorted(log_dir.glob("eventlog_v2_*"), key=lambda p: p.stat().st_mtime)
    if not apps:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    files = sorted(
        apps[-1].glob("events_*"), key=lambda p: int(p.name.split("_")[1])
    )
    events = []
    for f in files:
        comp = "zstd" if f.suffix == ".zstd" else None
        with pa.input_stream(str(f), compression=comp) as s:
            for line in s.read().decode().splitlines():
                if line:
                    events.append(json.loads(line))
    return events


class EventLog:
    """Jobs with their stage ids and per-task metrics, from one event log."""

    def __init__(self, events: list[dict]):
        self.jobs: dict[int, dict] = {}
        tasks_by_stage: dict[int, list[dict]] = {}
        for ev in events:
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                self.jobs[ev["Job ID"]] = {
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "group": props.get("spark.jobGroup.id") or "",
                    "stages": list(ev["Stage IDs"]),
                }
            elif kind == "SparkListenerJobEnd":
                self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                tasks_by_stage.setdefault(ev["Stage ID"], []).append(
                    {
                        "launch": ev["Task Info"]["Launch Time"] / 1000.0,
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "shuffle_read": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        "spill": m.get("Disk Bytes Spilled", 0),
                    }
                )
        # a stage id can be listed by several jobs (skipped in the later
        # ones); its tasks belong to the job whose window they launched in
        for job in self.jobs.values():
            lo = job["start"] - 0.001
            hi = (job["end"] if job["end"] is not None else float("inf")) + 0.001
            ran = {
                sid: [t for t in tasks_by_stage.get(sid, []) if lo <= t["launch"] <= hi]
                for sid in job["stages"]
            }
            job["tasks"] = [t for ts in ran.values() for t in ts]
            job["ran_stages"] = sum(1 for ts in ran.values() if ts)

    def jobs_in_window(self, t0: float, t1: float) -> list[dict]:
        return [j for j in self.jobs.values() if t0 - 0.001 <= j["start"] <= t1 + 0.001]

    def jobs_in_group(self, group: str) -> list[dict]:
        return [j for j in self.jobs.values() if j["group"] == group]


def runtime_totals(jobs: list[dict]) -> dict[str, float]:
    tasks = [t for j in jobs for t in j["tasks"]]
    return {
        "jobs": len(jobs),
        "stages": sum(j["ran_stages"] for j in jobs),
        "tasks": len(tasks),
        "task_s": sum(t["run_s"] for t in tasks),
        "gc_s": sum(t["gc_s"] for t in tasks),
        "shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        "shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
        "spill_bytes": sum(t["spill"] for t in tasks),
    }


def driver_split(jobs: list[dict], t0: float, t1: float) -> dict[str, float]:
    """Split a pass wall [t0, t1] into driver time before the first job,
    time with at least one job running, and driver gaps between and after
    jobs. The three are measured separately and should sum to the wall."""
    iv = sorted(
        (max(j["start"], t0), min(j["end"] if j["end"] is not None else t1, t1))
        for j in jobs
    )
    if not iv:
        return {"pre_job_s": t1 - t0, "gap_s": 0.0, "job_s": 0.0}
    merged: list[list[float]] = []
    for a, b in iv:
        if merged and a <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    job_s = sum(b - a for a, b in merged)
    gaps = sum(merged[i + 1][0] - merged[i][1] for i in range(len(merged) - 1))
    gaps += t1 - merged[-1][1]
    return {"pre_job_s": merged[0][0] - t0, "gap_s": gaps, "job_s": job_s}
