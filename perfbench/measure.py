"""What the benchmark reads from outside the program.

- :func:`host_steal_ticks` — time the hypervisor gave this machine's
  virtual CPUs to others (context for a slow repetition, not a metric).
- :class:`ProcTree` — CPU seconds and resident memory of this process
  and all its descendants (driver, JVM, Python workers), from ``/proc``.
  Spark's ``executorCpuTime`` misses the Python workers, which is where
  the UDF kernels run.
- :class:`RssSampler` — a background thread sampling the tree's RSS,
  keeping the peak.
- :class:`SparkStats` — task metrics summed over jobs, from Spark's
  live status store (always kept; reading it adds no work to the run).
- :class:`Tracer` — spans recorded around calls into the engine, with
  the Spark jobs each span started labelled by ``setJobDescription``.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time
from dataclasses import dataclass, field

__all__ = ["host_steal_ticks", "ProcTree", "RssSampler", "SparkStats", "Tracer", "Span"]

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def host_steal_ticks() -> tuple[int, int]:
    """-> (steal, all) clock ticks of the host's CPUs since boot, from
    the first line of ``/proc/stat``."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7] if len(ticks) == 8 else 0, sum(ticks)


class ProcTree:
    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def cpu_by_role(self) -> dict[str, float]:
        """User+system seconds of the live tree plus its reaped children,
        split into this process (``driver``), the JVM (``jvm``: the
        driver's direct children) and everything below it (``workers``:
        the Python worker daemon and its forks)."""
        out = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
        for pid in self.pids():
            st = _stat(pid)
            if st is None:
                continue
            # utime, stime, cutime, cstime (stat fields 14-17)
            ticks = sum(int(x) for x in st[11:15])
            if pid == self.root:
                # reaped children are the JVM's, not the driver's
                out["driver"] += int(st[11]) + int(st[12])
                out["jvm"] += int(st[13]) + int(st[14])
            elif int(st[1]) == self.root:
                out["jvm"] += int(st[11]) + int(st[12])
                out["workers"] += int(st[13]) + int(st[14])
            else:
                out["workers"] += ticks
        return {k: v / _TICK for k, v in out.items()}

    def cpu_s(self) -> float:
        return sum(self.cpu_by_role().values())

    @staticmethod
    def rss_bytes(pids: list[int]) -> dict[int, int]:
        """-> resident bytes per pid (pids that have exited are left out)."""
        out = {}
        for pid in pids:
            try:
                with open(f"/proc/{pid}/statm", "rb") as f:
                    out[pid] = int(f.read().split()[1]) * _PAGE
            except OSError:
                pass
        return out


class RssSampler:
    """Samples the tree's RSS every ``interval`` seconds while started;
    the process list is refreshed every ``refresh`` seconds."""

    def __init__(self, tree: ProcTree, interval: float = 0.05, refresh: float = 0.5):
        self.tree, self.interval, self.refresh = tree, interval, refresh
        self.peak = 0
        self.peak_by_pid: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        pids, next_refresh = [], 0.0
        while not self._stop.is_set():
            now = time.monotonic()
            if now >= next_refresh:
                pids, next_refresh = self.tree.pids(), now + self.refresh
            by_pid = ProcTree.rss_bytes(pids)
            total = sum(by_pid.values())
            if total > self.peak:
                self.peak, self.peak_by_pid = total, by_pid
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self.peak = 0
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


_STAGE_FIELDS = {
    "shuffle_bytes": "shuffleWriteBytes",
    "disk_spill_bytes": "diskBytesSpilled",
    "fetch_wait_ms": "shuffleFetchWaitTime",
    "failed_tasks": "numFailedTasks",
    # JVM task CPU only (Python worker time is not in it)
    "executor_cpu_ns": "executorCpuTime",
    "input_records": "inputRecords",
    "output_records": "outputRecords",
}


# SQL metrics of the Python-runner plan nodes (sizes are reported
# formatted, e.g. "3.4 MiB", so they carry about three digits)
_PY_METRICS = {
    "data sent to Python workers": "py_bytes_in",
    "data returned from Python workers": "py_bytes_out",
}
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _parse_size(text: str) -> float:
    """Total of a formatted SQL size metric: the first value of its last
    line, e.g. ``"total (min, med, max ...)\n3.4 MiB (...)"`` -> 3565158."""
    num, unit = text.strip().splitlines()[-1].split()[:2]
    return float(num.replace(",", "")) * _SIZE_UNITS[unit]


class SparkStats:
    """Task metrics of finished jobs, read from the live status store."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the jobs that just returned."""
        self._jsc.listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def jobs(self, job_ids: list[int]) -> list[tuple[int, str, dict]]:
        """-> [(job id, job description, summed stage metrics)] per job."""
        from py4j.protocol import Py4JJavaError

        store = self._jsc.statusStore()
        out = []
        for jid in job_ids:
            job = store.job(jid)
            desc = job.description()
            desc = desc.get() if desc.isDefined() else ""
            m = dict.fromkeys(_STAGE_FIELDS, 0)
            it = job.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # the store no longer holds the stage
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                for k, getter in _STAGE_FIELDS.items():
                    m[k] += getattr(st, getter)()
            out.append((jid, desc, m))
        return out

    def python_io(self, job_owner: dict[int, int]) -> dict[int, dict]:
        """-> ``{owner: {"py_bytes_in", "py_bytes_out"}}``: bytes sent to
        and returned from Python workers by the SQL executions whose jobs
        ``job_owner`` maps (job id -> owner id)."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        out: dict[int, dict] = {}
        it = store.executionsList().iterator()
        while it.hasNext():
            ex = it.next()
            jobs = ex.jobs().keys().iterator()
            owner = None
            while owner is None and jobs.hasNext():
                owner = job_owner.get(jobs.next())
            if owner is None:
                continue
            values = store.executionMetrics(ex.executionId())
            seen = set()
            metrics = ex.metrics().iterator()
            while metrics.hasNext():
                m = metrics.next()
                key = _PY_METRICS.get(m.name())
                # a plan node can be listed once per adaptive re-plan
                if key is None or m.accumulatorId() in seen:
                    continue
                seen.add(m.accumulatorId())
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    d = out.setdefault(owner, {})
                    d[key] = d.get(key, 0) + _parse_size(v.get())
        return out

    def totals(self, group: str) -> dict:
        self.drain()
        tot = dict.fromkeys(_STAGE_FIELDS, 0)
        for _, _, m in self.jobs(self.job_ids(group)):
            for k, v in m.items():
                tot[k] += v
        tot["jobs"] = len(self.job_ids(group))
        return tot


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    cpu0: float = 0.0
    cpu_s: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def s(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans around calls into the engine, kept in memory.

    Each span sets the Spark job description to ``perfbench#<id>`` so the
    jobs it starts can be matched back to it; on exit the parent's
    description is restored. CPU per span comes from :class:`ProcTree`.
    """

    def __init__(self, spark, tree: ProcTree):
        self.sc = spark.sparkContext
        self.tree = tree
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1].sid if self._stack else None
        sp = Span(len(self.spans), name, parent, time.perf_counter(), cpu0=self.tree.cpu_s())
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobDescription(f"perfbench#{sp.sid}")
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.perf_counter()
            sp.cpu_s = self.tree.cpu_s() - sp.cpu0
            self.sc.setJobDescription(f"perfbench#{self._stack[-1].sid}" if self._stack else None)

    def self_time(self, sp: Span) -> tuple[float, float]:
        """-> (seconds, cpu seconds) of ``sp`` not covered by its children."""
        kids = [c for c in self.spans if c.parent == sp.sid]
        return sp.s - sum(c.s for c in kids), sp.cpu_s - sum(c.cpu_s for c in kids)
