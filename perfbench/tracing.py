"""Measurement plumbing: spans, process-tree CPU/RSS from /proc, and Spark
stage metrics read back per job group.

Nothing here is imported by the program; it observes the program from
outside (the calls the benchmark makes into it, the processes it runs,
and Spark's own status store).
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import urllib.request
import uuid

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# ------------------------------------------------------------------ spans


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written as JSON
    once, when the run ends."""

    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._local = threading.local()  # per-thread stack of open span ids
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f, indent=1)


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict) -> None:
        self.t, self.name, self.attrs = tracer, name, attrs

    def __enter__(self) -> dict:
        t = self.t
        stack = t._stack()
        with t._lock:
            self.rec = {
                "id": len(t.spans),
                "name": self.name,
                "parent": stack[-1] if stack else None,
                "run_id": t.run_id,
                "start": time.perf_counter(),
                "end": None,
                **self.attrs,
            }
            t.spans.append(self.rec)
        stack.append(self.rec["id"])
        return self.rec

    def __exit__(self, *exc) -> None:
        self.rec["end"] = time.perf_counter()
        self.t._stack().pop()


def prefix_self_times(prefix_walls: list[tuple[str, float]]) -> dict[str, float]:
    """Cumulative prefix walls -> per-layer self time: prefix(k) - prefix(k-1).
    The self times telescope, so they sum to the last prefix's wall."""
    out, prev = {}, 0.0
    for name, wall in prefix_walls:
        out[name] = wall - prev
        prev = wall
    return out


def fixed_cost_share(t_sub: float, n_sub: int, t_full: float, n_full: int) -> float:
    """Share of a full pass's wall that does not grow with its input, from a
    straight line T(n) = a + b*n through a subset pass and a full pass:
    a / T(n_full)."""
    b = (t_full - t_sub) / (n_full - n_sub)
    return (t_sub - b * n_sub) / t_full


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty sample."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values)


# ------------------------------------------------------- process tree


def _proc_table() -> dict[int, tuple[int, str, int, int]]:
    """pid -> (ppid, comm, cpu ticks incl. reaped children, rss pages)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        # comm may contain spaces: split after the closing paren
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        fields = raw[raw.rindex(")") + 2 :].split()
        # fields[0] is state (stat field 3); utime..cstime are 14..17, rss 24
        ticks = sum(int(x) for x in fields[11:15])
        out[int(name)] = (int(fields[1]), comm, ticks, int(fields[21]))
    return out


def _descendants(table: dict, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        if p in table:
            out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _jvm_shell_out(table: dict, pid: int) -> bool:
    """A JVM child other than the Python worker daemon is a short shell-out
    (Hadoop's local file system runs chmod). Between fork and exec it
    reports the JVM's resident pages as its own, so its RSS is left out."""
    ppid = table[pid][0]
    return ppid in table and table[ppid][1] == "java" and not table[pid][1].startswith("python")


class ProcTree:
    """CPU seconds and RSS of this process and every process it started
    (the Spark driver JVM and any Python workers it forks)."""

    def __init__(self, root: int | None = None) -> None:
        self.root = root or os.getpid()

    def sample(self) -> dict:
        table = _proc_table()
        pids = _descendants(table, self.root)
        cpu = sum(table[p][2] for p in pids) / _TICK
        rss = sum(table[p][3] for p in pids if not _jvm_shell_out(table, p)) * _PAGE
        # Python workers: python processes below the JVM (not this process)
        py = sum(
            table[p][2]
            for p in pids
            if p != self.root and table[p][1].startswith("python")
        ) / _TICK
        return {"cpu_s": cpu, "rss_bytes": rss, "py_worker_cpu_s": py}


class PeakRss:
    """Background sampler of the tree's RSS while a `with` block runs.
    `own_cpu_s` is the sampler thread's own CPU time, which belongs to the
    benchmark, not to the program, and is taken out of CPU figures."""

    def __init__(self, tree: ProcTree, interval: float = 0.1) -> None:
        self.tree, self.interval = tree, interval
        self.peak = 0
        self.own_cpu_s = 0.0
        self._stop = threading.Event()

    def __enter__(self) -> "PeakRss":
        self._thr = threading.Thread(target=self._run, daemon=True)
        self._thr.start()
        return self

    def _run(self) -> None:
        c0 = time.thread_time()
        while not self._stop.is_set():
            self.peak = max(self.peak, self.tree.sample()["rss_bytes"])
            self._stop.wait(self.interval)
        self.own_cpu_s = time.thread_time() - c0

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thr.join(timeout=5)
        self.peak = max(self.peak, self.tree.sample()["rss_bytes"])


def host_steal() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host from /proc/stat: the share
    of CPU time the hypervisor gave to other guests, for reading a run's
    timings (a busy neighbour slows every wall-clock metric)."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


# -------------------------------------------------- Spark status store


class SparkStats:
    """Stage/SQL metrics per job group, read from the driver's status REST
    API on localhost (the traced run enables the UI server for this)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)

    def group(self, group: str) -> dict:
        """Totals over the completed stages of every job in `group`."""
        self.settle()
        jobs = [j for j in self._get("/jobs") if j.get("jobGroup") == group]
        job_ids = {j["jobId"] for j in jobs}
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [
            s for s in self._get("/stages?status=complete") if s["stageId"] in stage_ids
        ]
        tot = {
            "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / 1e6,
            "fetch_wait_s": sum(s["shuffleFetchWaitTime"] for s in stages) / 1e3,
            "spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages) / 1e6,
            "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "failed_tasks": sum(s["numFailedTasks"] for s in stages),
            "output_mb": sum(s["outputBytes"] for s in stages) / 1e6,
            "task_skew": 0.0,
            "broadcast_mb": 0.0,
        }
        # skew of the write stage: the completed stage that wrote output
        writers = [s for s in stages if s["outputBytes"] > 0]
        if writers:
            w = max(writers, key=lambda s: s["executorRunTime"])
            q = self._get(
                f"/stages/{w['stageId']}/{w['attemptId']}/taskSummary?quantiles=0.5,1.0"
            )["executorRunTime"]
            tot["task_skew"] = q[1] / q[0] if q[0] > 0 else 1.0
        # the listing is paged (20 by default); fetch details only for the
        # executions that ran this group's jobs
        for ex in self._get("/sql?details=false&offset=0&length=1000000"):
            if not job_ids & set(ex.get("successJobIds", []) + ex.get("failedJobIds", [])):
                continue
            ex = self._get(f"/sql/{ex['id']}?details=true&planDescription=false")
            for node in ex["nodes"]:
                if node["nodeName"] == "BroadcastExchange":
                    for m in node["metrics"]:
                        if m["name"] == "data size":
                            tot["broadcast_mb"] += parse_size_mb(m["value"])
        return tot

    def persisted_mb(self) -> float:
        return sum(r["memoryUsed"] + r["diskUsed"] for r in self._get("/storage/rdd")) / 1e6


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def parse_size_mb(text: str) -> float:
    """'3.1 KiB' or 'total (min, med, max)\\n64.0 MiB (...)' -> MB."""
    for line in text.splitlines():
        parts = line.strip().split()
        if len(parts) >= 2 and parts[1] in _UNITS:
            try:
                return float(parts[0].replace(",", "")) * _UNITS[parts[1]] / 1e6
            except ValueError:
                continue
    return 0.0
