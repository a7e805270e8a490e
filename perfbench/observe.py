"""Observation from outside the program: Spark scheduler counts, peak
memory, per-layer call timing and a host calibration loop.

Nothing here changes what the program does; the traced run calls these
between ops (never inside one) so the untraced op timings stay clean.
"""

from __future__ import annotations

import os
import time

import numpy as np


def host_calib_s() -> float:
    """A fixed single-thread numpy loop. It is not program work: it lets a
    reader tell a slow host window from a slow change."""
    rng = np.random.default_rng(0)
    a = rng.random(1 << 18)
    t0 = time.perf_counter()
    for _ in range(40):
        np.sort(a)
        np.cumsum(a * 1.0001)
    return time.perf_counter() - t0


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process from /proc, in MB; 0.0 when
    the kernel does not expose it."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


class SchedulerCounter:
    """Per-op Spark jobs, stages, tasks and failed tasks via the status
    tracker: the delta of jobs submitted with no job group, plus every job
    of the streaming runs (a streaming query runs its jobs under its
    ``runId`` group)."""

    def __init__(self, spark):
        self.tracker = spark.sparkContext.statusTracker()
        self.busy_s = 0.0
        self._before: set[int] = set()

    def begin(self) -> None:
        t0 = time.perf_counter()
        self._before = set(self.tracker.getJobIdsForGroup(None))
        self.busy_s += time.perf_counter() - t0

    def end(self, stream_run_ids=()) -> dict:
        t0 = time.perf_counter()
        jobs = set(self.tracker.getJobIdsForGroup(None)) - self._before
        for run_id in stream_run_ids:
            jobs |= set(self.tracker.getJobIdsForGroup(str(run_id)))
        stages = tasks = failed = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                st = self.tracker.getStageInfo(s)
                if st is None:  # skipped stage: planned, never run
                    continue
                stages += 1
                tasks += st.numTasks
                failed += st.numFailedTasks
        self.busy_s += time.perf_counter() - t0
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
                "failed_tasks": failed}


def timed(fn, *args, **kwargs):
    """(seconds, result) of one call."""
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out


def noop_sink_s(df) -> float:
    """Wall of materializing every column of ``df`` on ONE partition into
    Spark's noop sink (no I/O; nothing Catalyst can prune)."""
    t0 = time.perf_counter()
    df.coalesce(1).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def dir_files_bytes(paths) -> tuple[int, int]:
    """(data files, bytes) under the given directories; Spark's hidden
    and marker files (``_SUCCESS``, ``.crc``) are not data."""
    files = size = 0
    for root in paths:
        for d, _, names in os.walk(root):
            for n in names:
                if n.startswith((".", "_")):
                    continue
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def band_candidates(id_bands) -> int:
    """Distinct unordered id pairs sharing at least one band hash, from
    (id, [band hashes]) rows; band position is part of the key."""
    buckets: dict[tuple[int, int], list[int]] = {}
    for i, bands in id_bands:
        for b, h in enumerate(bands):
            buckets.setdefault((b, h), []).append(i)
    pairs = set()
    for ids in buckets.values():
        if len(ids) > 1:
            ids = sorted(ids)
            pairs.update((ids[x], ids[y]) for x in range(len(ids))
                         for y in range(x + 1, len(ids)))
    return len(pairs)


def cross_candidates(query_bands, corpus_bands) -> int:
    """Distinct (query, corpus) pairs sharing at least one band hash."""
    index: dict[tuple[int, int], list[int]] = {}
    for i, bands in corpus_bands:
        for b, h in enumerate(bands):
            index.setdefault((b, h), []).append(i)
    total = 0
    for q, bands in query_bands:
        hits = set()
        for b, h in enumerate(bands):
            hits.update(index.get((b, h), ()))
        hits.discard(q)
        total += len(hits)
    return total
