"""Spans around calls into the package, and what each span cost.

A span is opened by the benchmark around a call into one of the package's
public functions (`Tracer.wrap` replaces the module attribute the caller
looks up). Each span gets its own Spark job group, so the event log tells
which jobs ran inside it, and its process-tree CPU is read from /proc.

`read_event_log` is a standalone reader for Spark event logs: a plain file
or a Spark 4 rolling `eventlog_v2_*` directory. It returns per-job records
(group, wall interval, stage CPU, shuffle and spill bytes) that any tool
can aggregate.

Only the traced run installs spans; timed runs call the package directly.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")
GROUP_PREFIX = "perfbench-"


# --- /proc -------------------------------------------------------------------


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, cpu seconds incl. reaped children) for every process."""
    out = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                raw = fh.read()
        except OSError:
            continue  # exited while listing
        fields = raw[raw.rindex(")") + 2 :].split()
        # fields[1] is ppid; utime stime cutime cstime are fields 11..14
        out[int(stat.split("/")[2])] = (
            int(fields[1]),
            sum(int(x) for x in fields[11:15]) / _CLK_TCK,
        )
    return out


def _tree(table: dict, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(children.get(pid, ()))
    return pids


def tree_cpu_s() -> float:
    """CPU seconds of this process, the Spark JVM and its Python workers."""
    table = _proc_table()
    return sum(table[p][1] for p in _tree(table, os.getpid()) if p in table)


def peak_rss_mb() -> tuple[float, float]:
    """Peak RSS (VmHWM) of this Python driver and of the JVM(s) it started."""
    root = os.getpid()
    python = jvm = 0
    for pid in _tree(_proc_table(), root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                status = fh.read()
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
        except OSError:
            continue
        m = re.search(r"^VmHWM:\s+(\d+) kB", status, re.M)
        kb = int(m.group(1)) if m else 0
        if pid == root:
            python = kb
        elif comm == "java":
            jvm += kb
    return python / 1024.0, jvm / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat:
    the share the hypervisor gave to other guests."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


# --- spans -------------------------------------------------------------------


class Tracer:
    """Records spans; each span tags the Spark jobs it runs with a group."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple] = []

    @staticmethod
    def _set_group(span_id: int | None, name: str = "") -> None:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is None:
            return
        if span_id is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"{GROUP_PREFIX}{span_id}", name)

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "parent": parent, "name": name, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid, name)
        cpu0, t0 = tree_cpu_s(), time.time()
        try:
            yield rec
        finally:
            rec["start"], rec["end"] = t0, time.time()
            rec["cpu_s"] = tree_cpu_s() - cpu0
            self._stack.pop()
            self._set_group(parent, self.spans[parent]["name"] if parent is not None else "")

    def wrap(self, module, attr: str, name: str) -> None:
        """Route calls through `module.attr` into a span named `name`."""
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(module, attr, traced)
        self._patched.append((module, attr, original))

    def unwrap_all(self) -> None:
        for module, attr, original in reversed(self._patched):
            setattr(module, attr, original)
        self._patched.clear()


# --- event log ---------------------------------------------------------------


def _event_files(log_dir: str) -> list[str]:
    """Every event-log file under `log_dir`, rolling parts in index order."""
    files = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path) and entry.startswith("eventlog_v2_"):
            parts = glob.glob(os.path.join(path, "events_*"))
            files += sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
        elif os.path.isfile(path) and not entry.endswith(".inprogress"):
            files.append(path)
    return files


def read_event_log(log_dir: str) -> list[dict]:
    """Per-job records from every application log under `log_dir`.

    Each record: group (job group id or None), start/end (epoch seconds),
    stage_cpu_s, shuffle_bytes (written), spill_bytes (memory + disk),
    input_bytes and stages (completed stage count).
    """
    jobs: list[dict] = []
    for path in _event_files(log_dir):
        open_jobs: dict[int, dict] = {}
        stage_job: dict[int, dict] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job = {
                        "group": ev.get("Properties", {}).get("spark.jobGroup.id"),
                        "start": ev.get("Submission Time", 0) / 1000.0,
                        "end": None,
                        "stage_cpu_s": 0.0,
                        "shuffle_bytes": 0,
                        "spill_bytes": 0,
                        "input_bytes": 0,
                        "stages": 0,
                    }
                    open_jobs[ev["Job ID"]] = job
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, job)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    job = stage_job.get(info["Stage ID"])
                    if job is None:
                        continue
                    acc = {a.get("Name"): a.get("Value") for a in info.get("Accumulables", [])}
                    num = lambda k: int(acc.get(k) or 0)  # noqa: E731
                    job["stages"] += 1
                    job["stage_cpu_s"] += num("internal.metrics.executorCpuTime") / 1e9
                    job["shuffle_bytes"] += num("internal.metrics.shuffle.write.bytesWritten")
                    job["spill_bytes"] += num("internal.metrics.memoryBytesSpilled") + num(
                        "internal.metrics.diskBytesSpilled"
                    )
                    job["input_bytes"] += num("internal.metrics.input.bytesRead")
                elif kind == "SparkListenerJobEnd":
                    job = open_jobs.pop(ev["Job ID"], None)
                    if job is not None:
                        job["end"] = ev.get("Completion Time", 0) / 1000.0
                        jobs.append(job)
    return jobs


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, covered_to = 0.0, float("-inf")
    for start, end in sorted(intervals):
        if end > covered_to:
            total += end - max(start, covered_to)
            covered_to = end
    return total


def span_layer_records(spans: list[dict], jobs: list[dict]) -> list[dict]:
    """Per-span layer metrics, inclusive of child spans.

    wall_s, jobs, job_wall_s (time covered by the span's jobs), driver_gap_s
    (wall minus that), cpu_s (process tree, from /proc), stage_cpu_s,
    shuffle_bytes, spill_bytes, input_bytes.
    """
    by_group: dict[str, list[dict]] = {}
    for job in jobs:
        group = job["group"] or ""
        if not group.startswith(GROUP_PREFIX):
            # jobs whose thread sets its own group (a streaming query does)
            # go to the innermost span open when they started; spans run
            # one at a time, so that span issued them
            open_at = [s for s in spans if s["start"] <= job["start"] <= s["end"]]
            if not open_at:
                continue
            group = f"{GROUP_PREFIX}{max(open_at, key=lambda s: s['start'])['id']}"
        by_group.setdefault(group, []).append(job)
    children: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s["id"])

    def subtree_jobs(sid: int) -> list[dict]:
        out = list(by_group.get(f"{GROUP_PREFIX}{sid}", ()))
        for child in children.get(sid, ()):
            out += subtree_jobs(child)
        return out

    records = []
    for s in spans:
        mine = subtree_jobs(s["id"])
        wall = s["end"] - s["start"]
        job_wall = _covered([(j["start"], j["end"]) for j in mine])
        records.append({
            **{k: v for k, v in s.items() if k not in ("start", "end")},
            "wall_s": wall,
            "jobs": len(mine),
            "job_wall_s": job_wall,
            "driver_gap_s": max(0.0, wall - job_wall),
            "stage_cpu_s": sum(j["stage_cpu_s"] for j in mine),
            "shuffle_bytes": sum(j["shuffle_bytes"] for j in mine),
            "spill_bytes": sum(j["spill_bytes"] for j in mine),
            "input_bytes": sum(j["input_bytes"] for j in mine),
        })
    return records
