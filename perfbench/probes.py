"""Measurement probes: process-tree CPU and memory from ``/proc``, Spark
work attributed by job tag from the status store, and in-memory spans."""

from __future__ import annotations

import contextlib
import json
import math
import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 100]: an observed value, so a
    small sample does not interpolate between unlike operations."""
    ranked = sorted(values)
    return ranked[max(0, math.ceil(q / 100 * len(ranked)) - 1)]


class ProcTree:
    """CPU seconds and resident memory of ``root`` and its descendants,
    skipping the subtrees of ``excluded`` pids (the simulator)."""

    def __init__(self, root: int, excluded: set[int]) -> None:
        self.root = root
        self.excluded = excluded

    def _stats(self) -> dict[int, tuple[int, float, int]]:
        """pid -> (ppid, cpu seconds incl. reaped children, rss bytes)."""
        out = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat", "rb") as fh:
                    raw = fh.read()
            except OSError:  # the process ended while we looked
                continue
            fields = raw[raw.rindex(b")") + 2 :].split()
            ticks = sum(int(f) for f in fields[11:15])  # utime..cstime
            out[int(entry)] = (int(fields[1]), ticks / _TICK, int(fields[21]) * _PAGE)
        return out

    def _tree(self) -> dict[int, tuple[int, float, int]]:
        stats = self._stats()
        children: dict[int, list[int]] = {}
        for pid, (ppid, _, _) in stats.items():
            children.setdefault(ppid, []).append(pid)
        todo, members = [self.root], {}
        while todo:
            pid = todo.pop()
            if pid in self.excluded or pid not in stats:
                continue
            members[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
        return members

    def pids(self) -> list[int]:
        return list(self._tree())

    def cpu_s(self) -> float:
        return sum(cpu for _, cpu, _ in self._tree().values())

    def rss_mb(self) -> float:
        return sum(rss for _, _, rss in self._tree().values()) / 2**20


class PeakRss:
    """Samples the tree's resident memory every ``period`` seconds while
    active; ``peak_mb`` is the largest sample."""

    def __init__(self, tree: ProcTree, period: float = 0.25) -> None:
        self.tree = tree
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self.peak_mb = max(self.peak_mb, self.tree.rss_mb())

    def __enter__(self) -> PeakRss:
        self.peak_mb = self.tree.rss_mb()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, self.tree.rss_mb())


@contextlib.contextmanager
def job_tag(spark, tag: str):
    """Tag every Spark job this thread starts inside the block."""
    sc = spark.sparkContext
    sc.addJobTag(tag)
    try:
        yield
    finally:
        sc.removeJobTag(tag)


def tag_work(spark, tag: str) -> dict[str, float]:
    """Jobs, stages, tasks, executor run time, shuffle and spill of every
    job that carried ``tag``, read from the driver's status store once the
    listener bus has delivered every event."""
    jsc = spark.sparkContext._jsc.sc()  # noqa: SLF001 — no Python API
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    job_ids = list(jsc.statusTracker().getJobIdsForTag(tag))
    stage_ids: set[int] = set()
    for job_id in job_ids:
        ids = store.job(job_id).stageIds()
        stage_ids.update(ids.apply(k) for k in range(ids.size()))
    out = dict.fromkeys(
        ("jobs", "stages", "tasks", "executor_run_s", "shuffle_bytes", "spill_bytes"),
        0.0,
    )
    out["jobs"] = len(job_ids)
    for stage_id in stage_ids:
        stage = store.lastStageAttempt(stage_id)
        if stage.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += stage.numTasks()
        out["executor_run_s"] += stage.executorRunTime() / 1000
        out["shuffle_bytes"] += stage.shuffleWriteBytes()
        out["spill_bytes"] += stage.memoryBytesSpilled() + stage.diskBytesSpilled()
    return out


class Tracer:
    """Spans (name, start, end, parent) kept in memory and written out as
    JSON at the end of a run.  ``wrap`` replaces a module attribute by a
    span-recording wrapper until ``restore``."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        record = {
            "name": name,
            "parent": stack[-1]["name"] if stack else None,
            "thread": threading.get_ident(),
            "start": time.monotonic(),
        }
        stack.append(record)
        try:
            yield record
        finally:
            stack.pop()
            record["end"] = time.monotonic()
            with self._lock:
                self.spans.append(record)

    def wrap(self, module, attr: str, name: str) -> None:
        original = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(module, attr, traced)
        self._patched.append((module, attr, original))

    def restore(self) -> None:
        while self._patched:
            module, attr, original = self._patched.pop()
            setattr(module, attr, original)

    def total(self, name: str, since: float = 0.0) -> float:
        """Summed duration of the spans called ``name`` started after
        ``since``."""
        with self._lock:
            return sum(
                s["end"] - s["start"]
                for s in self.spans
                if s["name"] == name and s["start"] >= since
            )

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.spans, fh)
