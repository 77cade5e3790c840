"""Measurement helpers for the perfbench benchmark.

Nothing here imports Spark: order statistics, a ``/proc``-only process-tree
sampler (CPU-seconds and resident memory of the benchmark, its JVM and the
Python workers the JVM forks), host CPU-steal accounting, in-memory spans
and the Spark UI REST reads that attribute stage metrics to spans.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_SIZE = os.sysconf("SC_PAGE_SIZE")


# ------------------------------------------------------------ statistics
def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def tail_percentile(samples: list[float]) -> dict | None:
    """The highest percentile that has at least ten samples beyond it.

    Nearest-rank: with ``n`` sorted samples the value of rank ``r`` has
    ``n - r`` samples above it, so the highest admissible rank is
    ``n - 10`` and its percentile is ``100 * r / n``. Fewer than 11
    samples admit no such percentile and give ``None``.
    """
    n = len(samples)
    if n < 11:
        return None
    r = n - 10
    return {"pct": 100.0 * r / n, "value": sorted(samples)[r - 1], "n": n}


def summarize(samples: list[float]) -> dict:
    """Median, tail (see :func:`tail_percentile`) and count of a sample."""
    return {
        "n": len(samples),
        "p50": median(samples) if samples else None,
        "tail": tail_percentile(samples),
    }


# ------------------------------------------------------------ /proc
def parse_proc_stat(text: str) -> tuple[int, int, int, int]:
    """``(pid, ppid, cpu_ticks, rss_pages)`` from one ``/proc/<pid>/stat``.

    ``cpu_ticks`` is utime + stime + cutime + cstime: a process's own CPU
    plus that of the children it has reaped. Summed over the live processes
    of a tree this stays monotone as workers exit, because an exited worker's
    time moves into its (live, in-tree) parent's cutime/cstime when reaped.
    The command name may hold spaces and parentheses, so fields are split
    after the last ``)``.
    """
    rp = text.rindex(")")
    pid = int(text[: text.index(" ")])
    f = text[rp + 2 :].split()
    # f[0] is field 3 (state); field k of proc(5) is f[k - 3]
    ppid = int(f[1])
    ticks = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return pid, ppid, ticks, int(f[21])


def parse_cpu_line(text: str) -> dict[str, int]:
    """The aggregate ``cpu`` line of ``/proc/stat`` as named tick counters."""
    for line in text.splitlines():
        if line.startswith("cpu "):
            names = ["user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"]
            vals = [int(v) for v in line.split()[1:]]
            out = dict(zip(names, vals))
            # guest/guest_nice are already inside user/nice
            out["total"] = sum(vals[: len(names)])
            return out
    raise ValueError("no aggregate cpu line in /proc/stat")


def steal_share(before: dict[str, int], after: dict[str, int]) -> float:
    """Share of host CPU ticks stolen by the hypervisor between two reads."""
    total = after["total"] - before["total"]
    return (after["steal"] - before["steal"]) / total if total > 0 else 0.0


def proc_table(proc_dir: str = "/proc") -> dict[int, tuple[int, int, int]]:
    """``pid -> (ppid, cpu_ticks, rss_pages)`` for every live process."""
    stats: dict[int, tuple[int, int, int]] = {}
    for name in os.listdir(proc_dir):
        if not name.isdigit():
            continue
        try:
            with open(f"{proc_dir}/{name}/stat") as fh:
                pid, ppid, ticks, rss = parse_proc_stat(fh.read())
        except (OSError, ValueError, IndexError):
            continue  # exited between listdir and open
        stats[pid] = (ppid, ticks, rss)
    return stats


def tree_pids(stats: dict[int, tuple[int, int, int]], root_pid: int) -> list[int]:
    """``root_pid`` (if live) and all its live descendants."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(pid)
            todo.extend(children.get(pid, []))
    return out


def tree_usage(root_pid: int, proc_dir: str = "/proc") -> tuple[float, int, int]:
    """``(cpu_seconds, rss_bytes, n_processes)`` of ``root_pid`` and all its
    live descendants, read from ``/proc`` alone. RSS is summed per process,
    so pages a forked worker shares with its parent count once per process."""
    stats = proc_table(proc_dir)
    pids = tree_pids(stats, root_pid)
    ticks = sum(stats[p][1] for p in pids)
    rss = sum(stats[p][2] for p in pids)
    return ticks / CLK_TCK, rss * PAGE_SIZE, len(pids)


# HotSpot names its JIT compiler threads "C1 CompilerThread<n>" and
# "C2 CompilerThread<n>"; comm keeps the first 15 characters
JIT_THREAD_PREFIXES = ("C1 CompilerThre", "C2 CompilerThre")


def jit_ticks(pids: list[int], proc_dir: str = "/proc") -> int:
    """CPU ticks (utime + stime) of the live JIT compiler threads of ``pids``.

    A thread that has exited keeps its ticks in its process's total but
    drops out of this sum, so the JVM must keep its compiler threads for its
    whole life (``-XX:-UseDynamicNumberOfCompilerThreads``)."""
    total = 0
    for pid in pids:
        try:
            tids = os.listdir(f"{proc_dir}/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"{proc_dir}/{pid}/task/{tid}/comm") as fh:
                    if not fh.read().startswith(JIT_THREAD_PREFIXES):
                        continue
                with open(f"{proc_dir}/{pid}/task/{tid}/stat") as fh:
                    text = fh.read()
            except OSError:
                continue
            f = text[text.rindex(")") + 2 :].split()
            total += int(f[11]) + int(f[12])
    return total


class TreeSampler:
    """Background sampler of the process tree's resident memory; CPU is read
    synchronously with :meth:`sample` at section boundaries."""

    def __init__(self, root_pid: int | None = None, interval_s: float = 0.5):
        self.root_pid = root_pid or os.getpid()
        self.interval_s = interval_s
        self.peak_rss = 0
        self.max_procs = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="tree-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def sample(self) -> float:
        """Update the peaks and return the tree's CPU-seconds so far."""
        cpu, rss, n = tree_usage(self.root_pid)
        self.peak_rss = max(self.peak_rss, rss)
        self.max_procs = max(self.max_procs, n)
        return cpu

    def jit_cpu(self) -> float:
        """CPU-seconds the tree's JIT compiler threads have used so far."""
        return jit_ticks(tree_pids(proc_table(), self.root_pid)) / CLK_TCK

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def calibration_s(n: int = 2_000_000) -> float:
    """Wall time of a fixed single-threaded Python loop: a probe of how fast
    the host runs at the moment, recorded beside the steal share."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc ^= i * 2654435761 & 0xFFFFFFFF
    return time.perf_counter() - t0


def read_meminfo_kib(key: str = "MemTotal", path: str = "/proc/meminfo") -> int:
    with open(path) as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise ValueError(f"{key} not in {path}")


def du_bytes(path: str) -> int:
    """Bytes of the regular files under ``path`` (Spark's ``.crc`` and
    ``_SUCCESS`` bookkeeping excluded)."""
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if not f.endswith(".crc") and f != "_SUCCESS":
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


# ------------------------------------------------------------ spans
class Tracer:
    """In-memory spans: name, start, end, parent and run id.

    With a SparkContext attached, the jobs a span issues are tagged with a
    job group ``<run_id>:<span id>`` so the Spark UI REST API can attribute
    stage CPU, shuffle, spill and GC to it afterwards. A disabled tracer
    records nothing and tags nothing.
    """

    def __init__(self, run_id: str, enabled: bool = True, sc=None):
        self.run_id = run_id
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    def group_of(self, span_id: int) -> str:
        return f"{self.run_id}:{span_id}"

    def _tag(self) -> None:
        if self.sc is None:
            return
        if self._stack:
            sid = self._stack[-1]
            self.sc.setJobGroup(self.group_of(sid), self.spans[sid]["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter() - self._t0,
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._tag()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            self._tag()


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)`` pairs."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(spans: list[dict], span_id: int) -> float:
    """A span's duration minus the part of it its child spans cover."""
    sp = spans[span_id]
    kids = [
        (max(c["start"], sp["start"]), min(c["end"], sp["end"]))
        for c in spans
        if c["parent"] == span_id and c["end"] is not None
    ]
    return (sp["end"] - sp["start"]) - union_length([k for k in kids if k[1] > k[0]])


def span_descendants(spans: list[dict], span_id: int) -> list[int]:
    out, todo = [], [span_id]
    while todo:
        sid = todo.pop()
        out.append(sid)
        todo.extend(c["id"] for c in spans if c["parent"] == sid)
    return out


def coverage(spans: list[dict], parent_ids: list[int]) -> float:
    """Share of the listed spans' wall that their direct children cover."""
    wall = sum(spans[p]["end"] - spans[p]["start"] for p in parent_ids)
    covered = sum(
        (spans[p]["end"] - spans[p]["start"]) - self_time(spans, p) for p in parent_ids
    )
    return covered / wall if wall > 0 else 0.0


# ------------------------------------------------------------ Spark UI REST
_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_sql_metric(value: str) -> float:
    """Total of a SQL plan metric as the REST ``/sql`` endpoint prints it.

    Plain counts read ``"1,234"``; timing and size metrics read
    ``"total (min, med, max (stageId: taskId))\\n1.2 s (...)"`` and the total
    is the first quantity after the header, returned in seconds or bytes.
    """
    text = value.split("\n", 1)[1] if "\n" in value else value
    m = re.match(r"\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?", text)
    if not m:
        raise ValueError(f"unparsed SQL metric {value!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME:
        return num * _TIME[unit]
    return num


class SparkRest:
    """Reads of the Spark UI REST API of the benchmark's own application,
    over localhost only."""

    def __init__(self, sc):
        port = sc.uiWebUrl.rsplit(":", 1)[1].split("/")[0]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.loads(resp.read())

    def snapshot(self) -> dict:
        return {
            "jobs": self.get("/jobs"),
            "stages": self.get("/stages"),
            "sql": self.get("/sql?details=true&planDescription=false&offset=0&length=100000"),
        }


def span_spark_metrics(snap: dict, groups: set[str]) -> dict:
    """Jobs, stage totals and SQL plan metrics of the jobs in ``groups``."""
    jobs = [j for j in snap["jobs"] if j.get("jobGroup") in groups]
    job_ids = {j["jobId"] for j in jobs}
    stage_ids = {s for j in jobs for s in j.get("stageIds", [])}
    stages = [
        s for s in snap["stages"] if s["stageId"] in stage_ids and s.get("status") == "COMPLETE"
    ]
    tot = lambda k: sum(s.get(k, 0) for s in stages)  # noqa: E731
    sql_nodes = [
        n
        for e in snap["sql"]
        if job_ids & set(e.get("successJobIds", []) + e.get("failedJobIds", []) + e.get("runningJobIds", []))
        for n in e.get("nodes", [])
    ]
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": tot("numTasks"),
        "cpu_s": tot("executorCpuTime") / 1e9,
        "run_s": tot("executorRunTime") / 1e3,
        "gc_s": tot("jvmGcTime") / 1e3,
        "input_bytes": tot("inputBytes"),
        "input_records": tot("inputRecords"),
        "output_bytes": tot("outputBytes"),
        "shuffle_write_bytes": tot("shuffleWriteBytes"),
        "shuffle_write_records": tot("shuffleWriteRecords"),
        "spill_bytes": tot("memoryBytesSpilled") + tot("diskBytesSpilled"),
        "sql_nodes": sql_nodes,
    }


def sql_metric_total(nodes: list[dict], name: str, node_pred=lambda n: True) -> float:
    return sum(
        parse_sql_metric(m["value"])
        for n in nodes
        if node_pred(n)
        for m in n.get("metrics", [])
        if m["name"] == name
    )
