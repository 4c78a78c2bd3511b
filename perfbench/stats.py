"""Summary helpers: cycle-time statistics, span self time, Spark
event-log totals and process-tree memory."""

from __future__ import annotations

import json
import os
import statistics


def tail(samples: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile with at least ``beyond`` samples above it.

    Returns (value, percentile, sample count).  With ``beyond`` samples
    or fewer there is no such percentile, so the maximum is returned and
    labelled the 100th.
    """
    s = sorted(samples)
    n = len(s)
    if n <= beyond:
        return s[-1], 100.0, n
    k = n - beyond - 1  # s[k+1:] holds exactly `beyond` samples
    return s[k], 100.0 * (k + 1) / n, n


def drift(samples: list[float]) -> float:
    """Median of the last fifth of ``samples`` over that of the first
    fifth (at least one sample each), in run order."""
    f = max(1, len(samples) // 5)
    return statistics.median(samples[-f:]) / statistics.median(samples[:f])


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> its duration minus the time its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - _covered(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


#: per-layer Spark totals taken from the event log
SPARK_FIELDS = ("jobs", "tasks", "task_run_s", "shuffle_bytes", "spill_bytes")


def parse_event_log(lines) -> dict[str, dict[str, float]]:
    """Job description -> Spark totals, from event-log JSON lines.

    A job carries the description set with ``setJobDescription`` when it
    started; its stages' tasks add executor run time, shuffle bytes
    written and bytes spilled (memory + disk).  Jobs without a
    description are grouped under ``""``.
    """
    stage_desc: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def acc(desc: str) -> dict[str, float]:
        return out.setdefault(desc, dict.fromkeys(SPARK_FIELDS, 0))

    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
            acc(desc)["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_desc[sid] = desc
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            t = acc(stage_desc.get(ev.get("Stage ID"), ""))
            t["tasks"] += 1
            t["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            t["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0)
    return out


def process_tree(pid: int) -> list[int]:
    """``pid`` and all its descendants (from each process's parent id)."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def cpu_ticks() -> tuple[int, int]:
    """The machine's (steal, total) CPU ticks so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the CPU ticks between two ``cpu_ticks`` readings that the
    hypervisor gave to other guests."""
    return (after[0] - before[0]) / max(1, after[1] - before[1])


def _hwm_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError):
        pass
    return 0


def peak_rss_bytes() -> int:
    """Sum of the kernel-kept peak resident set (VmHWM) of this process
    and its live descendants: the driver, the JVM and the Python workers.

    Read once, so nothing polls while the benchmark measures: a sampling
    thread in the driver competes for the interpreter lock with the
    driver's py4j calls and slowed poll cycles by a quarter.  The sum of
    per-process peaks can exceed their peak at any one moment."""
    return sum(_hwm_bytes(p) for p in process_tree(os.getpid()))
