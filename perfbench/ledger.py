"""Tracing for the benchmark's per-layer run: Spark stage ledger from the
event log, Python spans, and process-tree memory.

Everything here runs in the benchmark process and reads only what Spark and
``/proc`` already expose; nothing is patched inside the package except the
module attributes that :class:`Spans` wraps for the length of a traced run.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict

# Job group ids are "<op index>|<phase>"; the harness sets them around every
# call it makes and around the package functions it wraps.
SEP = "|"


def group_id(op: int, phase: str) -> str:
    return f"{op}{SEP}{phase}"


def read_event_log(log_dir: str) -> list[dict]:
    """All events of every application logged under ``log_dir`` in Spark's
    uncompressed rolling layout, in file order."""
    files = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
                   key=lambda f: (os.path.dirname(f),
                                  int(os.path.basename(f).split("_")[1])))
    events = []
    for path in files:
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def stage_ledger(events: list[dict]) -> list[dict]:
    """One row per completed stage: job group, call site, wall time, summed
    executor run time, tasks, task time spread, records, shuffle and spill
    bytes."""
    job_of_stage: dict[int, dict] = {}
    task_ms: dict[int, list[int]] = defaultdict(list)
    rows = []
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job = {
                "job": e["Job ID"],
                "group": props.get("spark.jobGroup.id") or "",
                "call_site": props.get("callSite.short") or "",
            }
            for sid in e["Stage IDs"]:
                job_of_stage[sid] = job
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            task_ms[e["Stage ID"]].append(info["Finish Time"] - info["Launch Time"])
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            acc = {a["Name"]: a.get("Value") for a in si.get("Accumulables", [])}

            def num(name: str) -> int:
                try:
                    return int(acc.get(name) or 0)
                except (TypeError, ValueError):
                    return 0

            job = job_of_stage.get(si["Stage ID"], {})
            scopes = []
            for r in si.get("RDD Info", []):
                try:
                    scopes.append(json.loads(r["Scope"])["name"])
                except (KeyError, ValueError):
                    pass
            durations = sorted(task_ms.pop(si["Stage ID"], []))
            rows.append({
                "stage": si["Stage ID"],
                "job": job.get("job"),
                "group": job.get("group", ""),
                "call_site": job.get("call_site") or si.get("Stage Name", ""),
                "scopes": scopes,
                "wall_s": ((si.get("Completion Time") or 0)
                           - (si.get("Submission Time") or 0)) / 1000.0,
                "task_s": num("internal.metrics.executorRunTime") / 1000.0,
                "tasks": si["Number of Tasks"],
                "task_max_over_median": (
                    durations[-1] / max(statistics.median(durations), 1)
                    if durations else 0.0),
                "records_in": num("internal.metrics.input.recordsRead"),
                "shuffle_records": num("internal.metrics.shuffle.write.recordsWritten"),
                "shuffle_bytes": num("internal.metrics.shuffle.write.bytesWritten"),
                "spill_bytes": (num("internal.metrics.memoryBytesSpilled")
                                + num("internal.metrics.diskBytesSpilled")),
            })
    return rows


def job_ledger(events: list[dict]) -> list[dict]:
    """One row per finished job: group, SQL plan text and wall time."""
    plans: dict[str, str] = {}
    started: dict[int, dict] = {}
    rows = []
    for e in events:
        kind = e["Event"]
        if kind.endswith("SparkListenerSQLExecutionStart"):
            plans[str(e["executionId"])] = e.get("physicalPlanDescription", "")
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            started[e["Job ID"]] = {
                "job": e["Job ID"],
                "group": props.get("spark.jobGroup.id") or "",
                "sql_id": props.get("spark.sql.execution.id"),
                "t0": e["Submission Time"],
            }
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in started:
            j = started.pop(e["Job ID"])
            j["wall_s"] = (e["Completion Time"] - j.pop("t0")) / 1000.0
            j["plan"] = plans.get(str(j.pop("sql_id")), "")
            rows.append(j)
    return rows


def split_group(group: str) -> tuple[int | None, str]:
    op, sep, phase = group.partition(SEP)
    if not sep:
        return None, group
    return int(op), phase


def timed(row: dict) -> bool:
    """Whether a ledger row belongs to an op of the timed phase (set-up
    runs as op -1, checks outside any op)."""
    op, _ = split_group(row["group"])
    return op is not None and op >= 0


def per_op(rows: list[dict], phase: str, key: str) -> list[float]:
    """Sum of ``key`` over the timed rows of one phase, one value per op."""
    by_op: dict[int, list[float]] = defaultdict(list)
    for r in rows:
        op, ph = split_group(r["group"])
        if timed(r) and ph == phase:
            by_op[op].append(r[key])
    return [sum(v) for _, v in sorted(by_op.items())]


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


class Spans:
    """Wall-time spans and counters around wrapped callables.

    ``wrap(owner, attr, name)`` replaces ``owner.attr`` with a timing
    wrapper until :meth:`restore`; nested spans are recorded as they run,
    so a parent's total includes its children's."""

    def __init__(self) -> None:
        self.total_s: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self.counts: dict[str, int] = defaultdict(int)
        self._saved: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, name: str, on_result=None,
             before=None, after=None) -> None:
        """Time every call of ``owner.attr`` under ``name``.  ``before()``
        runs ahead of each call, ``after(seconds)`` when it returns or
        raises, ``on_result(value)`` when it returns."""
        inner = getattr(owner, attr)
        spans = self

        def timed(*args, **kwargs):
            if before is not None:
                before()
            t0 = time.perf_counter()
            try:
                out = inner(*args, **kwargs)
            finally:
                secs = time.perf_counter() - t0
                spans.total_s[name] += secs
                spans.calls[name] += 1
                if after is not None:
                    after(secs)
            if on_result is not None:
                on_result(out)
            return out

        self._saved.append((owner, attr, vars(owner).get(attr, _MISSING)))
        setattr(owner, attr, timed)

    def count(self, name: str, n: int = 1) -> None:
        self.counts[name] += n

    def restore(self) -> None:
        for owner, attr, old in reversed(self._saved):
            if old is _MISSING:
                delattr(owner, attr)
            else:
                setattr(owner, attr, old)
        self._saved.clear()


_MISSING = object()


def _proc_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """(parent -> children, pid -> VmRSS kB) for every process in /proc."""
    children: dict[int, list[int]] = defaultdict(list)
    rss: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/status") as f:
                ppid, kb = 0, 0
                for line in f:
                    if line.startswith("PPid:"):
                        ppid = int(line.split()[1])
                    elif line.startswith("VmRSS:"):
                        kb = int(line.split()[1])
        except (OSError, ValueError, IndexError):
            continue  # the process ended while being read
        children[ppid].append(int(entry))
        rss[int(entry)] = kb
    return children, rss


def descendants(root_pid: int) -> list[int]:
    children, _ = _proc_table()
    out, todo = [], list(children.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _tree_rss_kb(root_pid: int) -> int:
    """Summed VmRSS of ``root_pid`` and all its descendants."""
    _, rss = _proc_table()
    return rss.get(root_pid, 0) + sum(rss.get(p, 0) for p in descendants(root_pid))


def cpu_ticks() -> tuple[int, int]:
    """Machine-wide ``(busy, steal)`` time from /proc/stat, in clock ticks,
    summed over the vCPUs.  Busy is time a vCPU ran (user, nice, system,
    irq, softirq); steal is time the hypervisor ran other guests while a
    vCPU of this one wanted to run."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


CLK_TCK = os.sysconf("SC_CLK_TCK")


class PeakRss:
    """Background sampler of the process tree's peak resident memory
    (this process, the JVM and the Python workers it forks)."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
