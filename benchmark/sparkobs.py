"""Observation from outside the engine: Spark job counts, the event log,
the search profile JSONL, process memory and directory sizes.

The benchmark tags each phase and batch with ``setJobGroup`` and reads
everything else after the fact; nothing here runs inside the engine.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from dataclasses import dataclass, field


class JobGroups:
    """Tags driver actions with a Spark job group and counts the jobs,
    stages and tasks each group ran, through the status tracker."""

    def __init__(self, sc):
        self.sc = sc

    def set(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def clear(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the jobs just run."""
        from py4j.protocol import Py4JError

        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Py4JError:  # a private[spark] member, reached through py4j
            time.sleep(1.0)

    def counts(self, group: str) -> tuple[int, int, int]:
        """(jobs, stages run, tasks completed) of one group. A stage that
        Spark skipped because its shuffle output was reused is not run."""
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        seen: set[int] = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                si = st.getStageInfo(sid)
                if si is not None and si.numCompletedTasks > 0:
                    stages += 1
                    tasks += si.numCompletedTasks
        return len(jobs), stages, tasks


@dataclass
class Task:
    group: str | None
    stage: int
    start: float  # seconds, driver perf_counter clock
    end: float
    run_s: float
    deser_s: float
    gc_s: float
    sched_delay_s: float
    shuffle_write_bytes: int
    input_records: int


def read_event_log(log_dir: str, wall_to_perf: float) -> list[Task]:
    """Every finished task in the event log under ``log_dir``, tagged with
    the job group of the job that ran its stage. ``wall_to_perf`` is
    ``perf_counter() - time()`` sampled on the driver: it moves the
    log's epoch-millisecond times onto the driver's span clock."""
    stage_group: dict[int, str | None] = {}
    tasks: list[Task] = []
    # Spark 4 writes one directory per application (event log v2) holding
    # numbered ``events_<n>_...`` files; older layouts write one file
    paths = sorted(
        glob.glob(os.path.join(log_dir, "*", "events_*"))
        + [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)],
        key=lambda p: (os.path.dirname(p), _event_file_index(p)),
    )
    for path in paths:
        with open(path, encoding="utf-8", errors="replace") as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, grp)
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    launch = info.get("Launch Time", 0) / 1000.0
                    finish = info.get("Finish Time", 0) / 1000.0
                    run = m.get("Executor Run Time", 0) / 1000.0
                    deser = m.get("Executor Deserialize Time", 0) / 1000.0
                    rser = m.get("Result Serialization Time", 0) / 1000.0
                    getting = info.get("Getting Result Time", 0) / 1000.0
                    sw = (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    inp = (m.get("Input Metrics") or {}).get("Records Read", 0)
                    sid = ev.get("Stage ID")
                    tasks.append(Task(
                        group=stage_group.get(sid), stage=sid,
                        start=launch + wall_to_perf,
                        end=finish + wall_to_perf,
                        run_s=run, deser_s=deser,
                        gc_s=m.get("JVM GC Time", 0) / 1000.0,
                        sched_delay_s=max(
                            0.0, (finish - launch) - run - deser - rser - getting),
                        shuffle_write_bytes=int(sw),
                        input_records=int(inp),
                    ))
    return tasks


def _event_file_index(path: str) -> int:
    parts = os.path.basename(path).split("_")
    return int(parts[1]) if len(parts) > 1 and parts[1].isdigit() else 0


def read_profile(profile_dir: str) -> list[dict]:
    """All search-profile records the workers appended (one per task or
    Arrow batch); ``t0`` is on the host-wide monotonic clock."""
    out: list[dict] = []
    for path in sorted(glob.glob(os.path.join(profile_dir, "*.jsonl"))):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    out.append(json.loads(line))
    return out


def tree_stats(root: str) -> tuple[int, int]:
    """(bytes, files) under ``root``; zeros if absent."""
    total = files = 0
    if not os.path.isdir(root):
        return 0, 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(dirpath, n))
                files += 1
            except OSError:
                pass
    return total, files


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def descendants_rss(pid: int) -> tuple[int, int]:
    """(JVM, Python) summed RSS of every descendant of ``pid``, not
    ``pid`` itself: here the JVM and the Python workers it forked."""
    kids = _children_map()
    jvm = py = 0
    stack = list(kids.get(pid, []))
    while stack:
        p = stack.pop()
        if _comm(p).startswith("python"):
            py += _rss_bytes(p)
        else:
            jvm += _rss_bytes(p)
        stack.extend(kids.get(p, []))
    return jvm, py


@dataclass
class RssSampler:
    """Background sampler of :func:`descendants_rss` for this process;
    ``peak`` holds the largest sum seen."""

    interval: float = 0.25
    peak: int = 0
    peak_jvm: int = 0
    peak_python: int = 0
    _stop: threading.Event = field(default_factory=threading.Event)
    _thread: threading.Thread | None = None

    def __enter__(self) -> "RssSampler":
        pid = os.getpid()

        def loop() -> None:
            while not self._stop.is_set():
                jvm, py = descendants_rss(pid)
                self.peak = max(self.peak, jvm + py)
                self.peak_jvm = max(self.peak_jvm, jvm)
                self.peak_python = max(self.peak_python, py)
                self._stop.wait(self.interval)

        self._thread = threading.Thread(target=loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
