"""Process-tree sampling, spans, and Spark job attribution.

- :class:`ProcTree` reads ``/proc`` for the benchmark's own process
  tree: the client, the JVM it launched and the JVM's Python workers.
- :class:`Tracer` records spans (name, start, end, parent) around calls
  into the engine's layers. Each span runs its Spark jobs under its own
  job group; after the op, outside its timing, :meth:`Tracer.op_stats`
  reads those jobs back from ``statusTracker()`` and the status store.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields after it start at index 2 (state)
    return raw[raw.rindex(")") + 2 :].split()


def process_start_epoch() -> float:
    """Wall-clock time at which this process was started."""
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + int(_stat(os.getpid())[19]) / _TICK


def cpu_times() -> tuple[int, int]:
    """(steal ticks, total ticks) over all CPUs since boot."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v[:8])


class ProcTree:
    """The benchmark's process tree, sampled for peak RSS in a thread."""

    def __init__(self, interval: float = 0.1) -> None:
        self.root = os.getpid()
        self.interval = interval
        self.peak_mb = 0.0
        self.jvm_peak_mb = 0.0
        self._workers_seen: set[int] = set()
        self._lock = threading.Lock()  # the sampler thread adds to _workers_seen
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def members(self) -> dict[int, tuple[int, list[str]]]:
        """pid -> (ppid, stat fields) for the root and its descendants."""
        procs = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    procs[int(name)] = (int(st[1]), st)
        tree, frontier = {}, [self.root]
        while frontier:
            p = frontier.pop()
            if p in procs:
                tree[p] = procs[p]
                frontier.extend(c for c, (pp, _) in procs.items() if pp == p)
        return tree

    def roles(self, tree: dict) -> tuple[list[int], list[int]]:
        """(JVM pids, Python worker pids): the client's java children,
        and the Python processes below them."""
        jvms = [p for p, (pp, _) in tree.items() if pp == self.root and _comm(p) == "java"]
        workers = [p for p, (pp, _) in tree.items() if p != self.root and p not in jvms]
        return jvms, workers

    def cpu_s(self) -> tuple[float, float]:
        """(JVM CPU seconds, Python worker CPU seconds incl. reaped children)."""
        tree = self.members()
        jvms, workers = self.roles(tree)
        jvm = sum(int(tree[p][1][11]) + int(tree[p][1][12]) for p in jvms)
        py = sum(sum(int(x) for x in tree[p][1][11:15]) for p in workers)
        return jvm / _TICK, py / _TICK

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            tree = self.members()
            jvms, workers = self.roles(tree)
            rss = {p: int(st[21]) * _PAGE / 2**20 for p, (_, st) in tree.items()}
            self.peak_mb = max(self.peak_mb, sum(rss.values()))
            self.jvm_peak_mb = max(self.jvm_peak_mb, sum(rss[p] for p in jvms))
            with self._lock:
                self._workers_seen.update(workers)

    def workers_seen(self) -> set[int]:
        """Python worker pids seen by the sampler so far."""
        with self._lock:
            return set(self._workers_seen)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class Tracer:
    """Spans around layer calls; jobs attributed by job group."""

    def __init__(self, spark, enabled: bool) -> None:  # type: ignore[no-untyped-def]
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):  # type: ignore[no-untyped-def]
        """Time a call into a layer; when enabled, tag its jobs."""
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        if self.enabled:
            self.sc.setJobGroup(f"graftbench-{sid}", name)
        self._stack.append(sid)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.enabled:
                parent = self._stack[-1] if self._stack else None
                if parent is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    self.sc.setJobGroup(f"graftbench-{parent}", self.spans[parent]["name"])

    def _subtree(self, sid: int) -> list[int]:
        out = [sid]
        for s in self.spans[sid + 1 :]:
            if s["parent"] in out:
                out.append(s["id"])
        return out

    def _jobs(self, sid: int) -> list[int]:
        tracker = self.sc.statusTracker()
        jobs = []
        for s in self._subtree(sid):
            jobs.extend(tracker.getJobIdsForGroup(f"graftbench-{s}"))
        return sorted(set(jobs))

    def _settle(self, jobs: list[int], timeout: float = 10.0) -> None:
        """Wait (bounded) until the listener bus has recorded every job's end."""
        store = self.sc._jsc.sc().statusStore()
        deadline = time.time() + timeout
        for j in jobs:
            while time.time() < deadline:
                if str(store.job(j).status()) != "RUNNING":
                    break
                time.sleep(0.02)

    def job_count(self, sid: int) -> int:
        return len(self._jobs(sid))

    def op_stats(self, sid: int, cores: int) -> dict:
        """Per-op Spark execution figures for span ``sid`` and its children."""
        jobs = self._jobs(sid)
        self._settle(jobs)
        store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        no_tasks = gw.jvm.java.util.ArrayList()
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        span = self.spans[sid]
        intervals, stage_ids = [], set()
        for j in jobs:
            jd = store.job(j)
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                intervals.append((
                    jd.submissionTime().get().getTime() / 1000.0,
                    jd.completionTime().get().getTime() / 1000.0,
                ))
            ids = jd.stageIds()
            stage_ids.update(int(ids.apply(i)) for i in range(ids.length()))
        run_ms = gc_ms = shuffle_b = spill_b = 0
        stages = tasks = 0
        skews = []
        for s in sorted(stage_ids):
            attempts = store.stageData(s, False, no_tasks, False, gw.new_array(gw.jvm.double, 0))
            for k in range(attempts.length()):
                sd = attempts.apply(k)
                if str(sd.status()) != "COMPLETE":
                    continue  # skipped (reused shuffle output) or failed
                stages += 1
                tasks += sd.numCompleteTasks()
                run_ms += sd.executorRunTime()
                gc_ms += sd.jvmGcTime()
                shuffle_b += sd.shuffleWriteBytes()
                spill_b += sd.diskBytesSpilled()
                if sd.numCompleteTasks() >= 2:
                    dist = store.taskSummary(s, sd.attemptId(), q)
                    if dist.isDefined():
                        rt = dist.get().executorRunTime()
                        med, mx = rt.apply(0), rt.apply(1)
                        if med > 0:
                            skews.append((sd.executorRunTime(), mx / med))
        wall = span["end"] - span["start"]
        return {
            "jobs": len(jobs),
            "stages": stages,
            "tasks": tasks,
            "busy_frac": run_ms / 1000.0 / (wall * cores),
            "driver_gap_s": wall - _covered(intervals, span["start"], span["end"]),
            "task_skew": (
                sum(w * r for w, r in skews) / sum(w for w, _ in skews) if skews else 1.0
            ),
            "shuffle_bytes": shuffle_b,
            "spill_bytes": spill_b,
            "gc_frac": gc_ms / run_ms if run_ms else 0.0,
        }

    def span_seconds(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and "end" in s]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
