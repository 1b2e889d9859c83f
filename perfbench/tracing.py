"""Measurement helpers: spans with Spark job counts, process-tree RSS,
percentiles.

Everything here observes the program from outside: spans time the
benchmark's own calls into the program's public functions, and job,
stage and task counts come from Spark's public ``statusTracker``.
"""

from __future__ import annotations

import math
import os
import signal
import statistics
import threading
import time
from contextlib import contextmanager

_SETTLE_TIMEOUT_S = 2.0
_SETTLE_POLL_S = 0.02


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile ``q`` in [0, 100] of a non-empty list."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


def supported_percentile(n: int, q: float, beyond: int = 10) -> bool:
    """True when at least ``beyond`` of ``n`` samples lie above the ``q``-th percentile."""
    return n * (1.0 - q / 100.0) >= beyond


def median(values: list[float]) -> float:
    return statistics.median(values)


# ---- process tree -------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # comm may hold spaces; fields after the closing parenthesis are fixed
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[tuple[int, int]]:
    """(pid, parent pid) of every process below ``pid``."""
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        parent = todo.pop()
        for c in kids.get(parent, []):
            out.append((c, parent))
            todo.append(c)
    return out


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed RSS of this process and all its descendants
    (the Spark JVM and the Python workers it forks) on a thread."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_kb = 0
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        total = _rss_kb(me)
        for pid, parent in descendants(me):
            self.seen.add(pid)
            # The JVM starts processes by spawning a child that shares its
            # address space until it execs; counting that child would count
            # the JVM twice. (A forked Python worker has its own pages.)
            exe = _exe(pid)
            if not (exe.endswith("/java") and exe == _exe(parent)):
                total += _rss_kb(pid)
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def start(self) -> RssSampler:
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak in MiB."""
        self._stop.set()
        self._thread.join()
        self._sample()
        return self.peak_kb / 1024.0


def reap(pids: set[int], timeout_s: float = 30.0) -> None:
    """Wait until every pid in ``pids`` has exited; kill what outlives the timeout."""
    deadline = time.monotonic() + timeout_s
    alive = set(pids)
    while alive:
        alive = {p for p in alive if os.path.exists(f"/proc/{p}") and _state(p) != "Z"}
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5.0
        time.sleep(0.05)


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return "Z"


# ---- spans ----------------------------------------------------------------


class Tracer:
    """Records spans around calls into the program.

    With ``enabled`` set, each span runs under its own Spark job group and,
    on exit, counts the jobs it fired: its group's jobs, its child spans'
    jobs, and any new ungrouped jobs (where actions from helper threads
    land), with their stages and tasks. Spans nest per thread; a child
    restores its parent's group on exit. Disabled, a span only reads the
    clock, so untraced runs pay nothing for the counting.
    """

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self._n = 0
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _settled_jobs(self, group: str, before_ungrouped: set[int]) -> set[int]:
        """Job ids of a finished span once the status store has caught up
        (its listener bus is asynchronous): poll until two reads agree and
        every job has reached a terminal state."""
        st = self.sc.statusTracker()
        deadline = time.monotonic() + _SETTLE_TIMEOUT_S
        last: set[int] | None = None
        while True:
            cur = set(st.getJobIdsForGroup(group))
            cur |= set(st.getJobIdsForGroup(None)) - before_ungrouped
            done = all(
                (info := st.getJobInfo(j)) is not None and info.status in ("SUCCEEDED", "FAILED")
                for j in cur
            )
            if (cur == last and done) or time.monotonic() > deadline:
                return cur
            last = cur
            time.sleep(_SETTLE_POLL_S)

    def job_counts(self, job_ids: set[int]) -> dict[str, int]:
        """Jobs, and the stages that ran and their tasks. A stage whose
        shuffle output was already there is skipped and not counted."""
        st = self.sc.statusTracker()
        stage_ids = set()
        for j in job_ids:
            info = st.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        stages = tasks = 0
        for s in stage_ids:
            sinfo = st.getStageInfo(s)
            if sinfo is not None and sinfo.numCompletedTasks + sinfo.numFailedTasks > 0:
                stages += 1
                tasks += sinfo.numTasks
        return {"jobs": len(job_ids), "stages": stages, "tasks": tasks}

    def _set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, group)

    @contextmanager
    def span(self, layer: str, **attrs):
        """Time the body; yields the record, filled in on exit."""
        rec = {"layer": layer, **attrs}
        frame = {"job_ids": set()}
        stack = self._stack()
        if self.enabled:
            with self._lock:
                self._n += 1
                frame["group"] = f"perfbench-{self._n}"
            frame["before"] = set(self.sc.statusTracker().getJobIdsForGroup(None))
            self._set_group(frame["group"])
        stack.append(frame)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            stack.pop()
            if self.enabled:
                self._set_group(stack[-1]["group"] if stack else None)
                ids = frame["job_ids"] | self._settled_jobs(frame["group"], frame["before"])
                rec.update(self.job_counts(ids))
                if stack:
                    stack[-1]["job_ids"] |= ids
