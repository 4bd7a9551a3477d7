"""Measurement from outside the engine.

- ``ProcTree``: CPU and resident memory (PSS) of this process and every
  descendant (the Spark JVM and the pyspark Python workers), read from
  ``/proc``; a sampler thread keeps the peak.
- ``Tracer``: spans around public calls.  Each span tags the Spark jobs
  issued inside it with a job group named after its layer; spans are kept
  in memory and written with the run record.
- ``fold_event_log``: sums ``SparkListenerTaskEnd`` metrics per job group
  from an uncompressed Spark event log.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name (field 2) may hold spaces; fields resume after ')'
    return raw[raw.rindex(")") + 2:].split()


class ProcTree:
    """This process and its descendants."""

    def __init__(self):
        self.root = os.getpid()
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    children.setdefault(int(st[1]), []).append(int(name))
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def cpu_s(self, pids: list[int] | None = None) -> float:
        """User + system CPU, including reaped children, summed over the
        tree (or over ``pids``)."""
        total = 0
        for pid in self.pids() if pids is None else pids:
            st = _stat(pid)
            if st is not None:
                # utime, stime, cutime, cstime are fields 14-17
                total += sum(int(x) for x in st[11:15])
        return total / _TICK

    def python_worker_pids(self) -> list[int]:
        """pyspark's Python daemon and worker processes."""
        out = []
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    cmd = f.read()
            except OSError:
                continue
            # forked workers keep the daemon's command line
            if b"pyspark.daemon" in cmd:
                out.append(pid)
        return out

    def rss_mb(self) -> float:
        """Resident memory of the tree, each page shared between processes
        (the forked pyspark workers) counted once: the summed PSS."""
        total_kb = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total_kb += int(line.split()[1])
                            break
            except OSError:
                continue  # the process ended
        return total_kb / 1024

    # -- peak sampler ----------------------------------------------------
    def start(self, period_s: float = 0.05) -> None:
        def loop():
            while not self._stop.wait(period_s):
                self.sample()

        self._thread = threading.Thread(target=loop, name="proc-sampler", daemon=True)
        self._thread.start()

    def sample(self) -> None:
        rss = self.rss_mb()
        with self._lock:
            self._peak = max(self._peak, rss)

    def reset_peak(self) -> None:
        with self._lock:
            self._peak = 0
        self.sample()

    def peak_mb(self) -> float:
        self.sample()
        with self._lock:
            return self._peak

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()


class Tracer:
    """Span recorder.  A disabled tracer records nothing and tags nothing,
    so the untraced run issues exactly the engine's own jobs."""

    def __init__(self, enabled: bool, procs: ProcTree, run_id: str):
        self.enabled = enabled
        self.procs = procs
        self.run_id = run_id
        self.spark = None
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _tag(self, layer: str | None, sid: int | None) -> None:
        sc = self.spark.sparkContext
        if layer is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(layer, f"{layer} span {sid}")

    @contextmanager
    def span(self, layer: str):
        """One public call into ``layer`` and the action that forces it."""
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        rec = {"id": sid, "name": layer, "parent": parent, "run": self.run_id}
        if layer == "sources.ingest":
            workers = self.procs.python_worker_pids()
            rec["py_cpu0"] = self.procs.cpu_s(workers)
        self.spans.append(rec)
        self._stack.append(sid)
        self._tag(layer, sid)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            up = self._stack[-1] if self._stack else None
            self._tag(self.spans[up]["name"] if up is not None else None, up)
            if "py_cpu0" in rec:
                # workers forked during the span count from zero
                rec["py_cpu_s"] = (
                    self.procs.cpu_s(self.procs.python_worker_pids())
                    - rec.pop("py_cpu0")
                )

    def self_walls(self) -> dict[str, float]:
        """Per layer: span time not covered by child spans."""
        out: dict[str, float] = {}
        for s in self.spans:
            wall = s["end"] - s["start"]
            for c in self.spans:
                if c["parent"] == s["id"]:
                    wall -= c["end"] - c["start"]
            out[s["name"]] = out.get(s["name"], 0.0) + wall
        return out

    def top_level_s(self) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["parent"] is None)


def fold_event_log(path: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, failed tasks, executor CPU, GC, shuffle and
    spill totals, from every job of the application in ``path``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def acc(group: str) -> dict[str, float]:
        return out.setdefault(
            group,
            dict(jobs=0, failed_tasks=0, exec_cpu_s=0.0, gc_s=0.0,
                 shuffle_read_mb=0.0, shuffle_write_mb=0.0, spill_mb=0.0),
        )

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is None:
                    continue
                acc(group)["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                if group is None:
                    continue
                a = acc(group)
                if ev["Task End Reason"]["Reason"] != "Success":
                    a["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                rd = m.get("Shuffle Read Metrics") or {}
                wr = m.get("Shuffle Write Metrics") or {}
                a["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                a["shuffle_read_mb"] += (
                    rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                ) / 2**20
                a["shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / 2**20
                a["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
    return out
