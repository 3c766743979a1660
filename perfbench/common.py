"""Shared pieces of the benchmark: statistics, host-drift sentinels,
peak memory, Spark counters read per job group, and the span tracer.

Nothing here imports pyspark at module level, so ``run.py`` can set the
Spark environment first and fail fast when the program is missing.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import time
from contextlib import contextmanager

# --------------------------------------------------------------- stats


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else float("nan")


# ------------------------------------------------------ host sentinels


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice];
    # guest time is already counted inside user/nice
    return fields[7], sum(fields[:8])


def calib_loop() -> float:
    """Wall time of a fixed CPU-bound loop that touches none of the code
    under test: md5-chaining 50k times.  A slow host phase moves it; a
    code change cannot."""
    h = b"perfbench"
    t0 = time.perf_counter()
    for _ in range(50_000):
        h = hashlib.md5(h).digest()
    return time.perf_counter() - t0


class HostSentinels:
    """Steal share over the timed phase plus the calibration loop timed
    at its start, middle and end (median of 3 loops each time).  Call
    ``tick()`` between operations; it takes the middle reading once half
    of ``seconds`` has passed."""

    def __init__(self, seconds: float):
        self.seconds = seconds
        self.calib: list[float] = []
        self._j0: tuple[int, int] | None = None
        self._j1: tuple[int, int] | None = None
        self._t0 = 0.0

    def mark(self) -> None:
        self.calib.append(median(calib_loop() for _ in range(3)))

    def start(self) -> None:
        self.mark()
        self._j0 = cpu_jiffies()
        self._t0 = time.perf_counter()

    def tick(self) -> None:
        if len(self.calib) == 1 and time.perf_counter() - self._t0 >= self.seconds / 2:
            self.mark()

    def stop(self) -> None:
        if len(self.calib) == 1:
            self.mark()
        self._j1 = cpu_jiffies()
        self.mark()

    def metrics(self) -> dict[str, float]:
        steal = total = 0
        if self._j0 and self._j1:
            steal = self._j1[0] - self._j0[0]
            total = self._j1[1] - self._j0[1]
        med = median(self.calib)
        return {
            "host.steal_share": steal / total if total else 0.0,
            "host.calib_s": med,
            "host.calib_spread": (max(self.calib) - min(self.calib)) / med if med else 0.0,
        }


# --------------------------------------------------------------- memory


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # field 4 (ppid) follows the parenthesised command name
                if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                    out.append(int(d))
        except (OSError, IndexError, ValueError):
            continue
    return out


def peak_rss_mb() -> tuple[float, float]:
    """Peak resident set (VmHWM) of this Python driver and of the Spark
    JVM it launched, in MiB.  Python workers are not counted."""
    me = os.getpid()
    jvms = []
    for pid in _children(me):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"java" in f.read():
                    jvms.append(pid)
        except OSError:
            continue
    return _hwm_kb(me) / 1024.0, sum(_hwm_kb(p) for p in jvms) / 1024.0


# ------------------------------------------------------ Spark counters

COUNTERS = (
    "jobs",
    "stages",
    "skipped_stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
)


class SparkCounters:
    """Per-job-group counters from ``statusTracker()`` and the status
    store (works with the UI disabled).  A skipped stage has no attempt
    in the store; it is counted as skipped and contributes no tasks."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.tracker = sc.statusTracker()
        self.store = sc._jsc.sc().statusStore()
        self.bus = sc._jsc.sc().listenerBus()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store holds the final metrics of the jobs that just ended."""
        self.bus.waitUntilEmpty()

    def read(self, group: str) -> dict:
        out = {k: 0.0 for k in COUNTERS}
        spans: list[tuple[float, float]] = []
        for jid in self.tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            job = self.store.job(jid)
            sub, end = job.submissionTime(), job.completionTime()
            if sub.isDefined() and end.isDefined():
                spans.append((sub.get().getTime() / 1000.0, end.get().getTime() / 1000.0))
            info = self.tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                out["stages"] += 1
                try:
                    st = self.store.lastStageAttempt(int(sid))
                except Exception:  # py4j error: a skipped stage has no attempt
                    out["skipped_stages"] += 1
                    continue
                if str(st.status()) == "SKIPPED":
                    out["skipped_stages"] += 1
                    continue
                out["tasks"] += st.numTasks()
                out["executor_run_s"] += st.executorRunTime() / 1000.0
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
                out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
        out["job_spans"] = spans
        return out


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# ---------------------------------------------------------------- tracer


class Tracer:
    """In-memory spans recorded around calls into the program's layers.

    A span holds name, start, end, parent index and request id.  Each
    span runs under its own Spark job group, so the Spark counters of
    the jobs it launched (children excluded) are read per span after the
    unit of work ends.  With ``enabled=False`` every method is a no-op
    and nothing touches Spark."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._request = None
        self.bookkeeping_s = 0.0
        self.counters = SparkCounters(spark) if enabled else None
        self._sc = spark.sparkContext if enabled else None

    def _group(self, idx: int) -> str:
        return f"perfbench-span-{idx}"

    @contextmanager
    def span(self, name: str, request=None):
        if not self.enabled:
            yield
            return
        t = time.perf_counter()
        if request is not None:
            self._request = request
        idx = len(self.spans)
        self.spans.append(
            {
                "name": name,
                "start": time.time(),
                "end": None,
                "parent": self._stack[-1] if self._stack else None,
                "request": self._request,
            }
        )
        self._stack.append(idx)
        self._sc.setJobGroup(self._group(idx), name)
        self.bookkeeping_s += time.perf_counter() - t
        try:
            yield
        finally:
            t = time.perf_counter()
            self.spans[idx]["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self._sc.setJobGroup(self._group(self._stack[-1]), self.spans[self._stack[-1]]["name"])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            self.bookkeeping_s += time.perf_counter() - t

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span called ``name``."""
        if not self.enabled:
            return fn

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def collect_counters(self) -> None:
        """Attach Spark counters to every finished span that has none
        yet.  Call between units of work, never inside one."""
        if not self.enabled:
            return
        t = time.perf_counter()
        self.counters.drain()
        for idx, sp in enumerate(self.spans):
            if sp["end"] is not None and "spark" not in sp:
                sp["spark"] = self.counters.read(self._group(idx))
        self.bookkeeping_s += time.perf_counter() - t

    # -- span arithmetic --------------------------------------------

    def children(self, idx: int) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s["parent"] == idx]

    def duration(self, idx: int) -> float:
        s = self.spans[idx]
        return s["end"] - s["start"]

    def self_time(self, idx: int) -> float:
        return self.duration(idx) - sum(self.duration(c) for c in self.children(idx))

    def subtree(self, idx: int) -> list[int]:
        out = [idx]
        for c in self.children(idx):
            out.extend(self.subtree(c))
        return out

    def tree_counters(self, idx: int) -> dict:
        """Spark counters summed over a span and all its descendants,
        plus the wall time the tree's jobs cover and the delay from the
        span's start to its first job."""
        tot = {k: 0.0 for k in COUNTERS}
        jobs: list[tuple[float, float]] = []
        for i in self.subtree(idx):
            sp = self.spans[i].get("spark") or {}
            for k in COUNTERS:
                tot[k] += sp.get(k, 0.0)
            jobs.extend(sp.get("job_spans", []))
        s = self.spans[idx]
        tot["jobs_wall_s"] = covered(jobs, s["start"], s["end"])
        tot["to_first_job_s"] = (min(a for a, _ in jobs) - s["start"]) if jobs else (s["end"] - s["start"])
        return tot

    def dump(self, path: str) -> None:
        import json

        os.makedirs(os.path.dirname(path), exist_ok=True)
        spans = [{k: v for k, v in s.items()} for s in self.spans]
        for s in spans:
            if "spark" in s:
                s["spark"] = {k: v for k, v in s["spark"].items() if k != "job_spans"}
        with open(path, "w") as f:
            json.dump({"spans": spans}, f)


def unit_layer_metrics(tracer: Tracer, units: list[int], prefix: str = "unit") -> dict[str, float]:
    """Medians over units of work (each unit one span tree): traced
    wall time, the part no Spark job covers (driver side), the part jobs
    cover, the delay to the first job, and the Spark counters."""
    rows = [tracer.tree_counters(i) for i in units]
    durs = [tracer.duration(i) for i in units]
    out = {
        "traced_s": median(durs),
        "driver_s": median(d - r["jobs_wall_s"] for d, r in zip(durs, rows)),
        "jobs_wall_s": median(r["jobs_wall_s"] for r in rows),
        "to_first_job_s": median(r["to_first_job_s"] for r in rows),
        "samples": float(len(units)),
    }
    for k in COUNTERS:
        out[k] = median(r[k] for r in rows)
    return {f"{prefix}.{k}": v for k, v in out.items()}


def generic_layers(tracer: Tracer, units: list[int], sides: list[int], cold: list[int]) -> dict[str, float]:
    """The per-layer metrics every workload reports: its main unit of
    work (``unit.*``), its secondary operation (``side.*``), its cold
    start (``cold.*``) and the tracing bookkeeping share."""
    cold_rows = [tracer.tree_counters(i) for i in cold]
    roots = sum(tracer.duration(i) for i, s in enumerate(tracer.spans) if s["parent"] is None)
    return {
        **unit_layer_metrics(tracer, units, "unit"),
        **unit_layer_metrics(tracer, sides, "side"),
        "cold.traced_s": sum(tracer.duration(i) for i in cold),
        "cold.jobs": sum(r["jobs"] for r in cold_rows),
        "cold.tasks": sum(r["tasks"] for r in cold_rows),
        "trace.bookkeeping_share": tracer.bookkeeping_s / roots if roots else 0.0,
    }


# ------------------------------------------------------ result compare


def frames_equal(a, b) -> bool:
    """Order-insensitive exact equality of two pandas frames, with the
    cell normalisation of the repository's oracle tests."""
    from tests.compare import to_rows

    return sorted(a.columns) == sorted(b.columns) and to_rows(a) == to_rows(b)
