"""Counters read from outside the program: Spark's status REST API per
job group, and CPU / resident memory of the driver's process tree from
``/proc``.

Every read either returns a complete answer or raises
``MeasurementError``; a caller never gets a zero standing in for a
counter it could not read.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from typing import Callable

MB = 1024.0 * 1024.0
_FINISHED_JOB = {"SUCCEEDED", "FAILED"}
_SETTLED_STAGE = {"COMPLETE", "SKIPPED", "FAILED"}


class MeasurementError(RuntimeError):
    """A counter could not be read; the run that needed it has failed."""


# ---------------------------------------------------------------------------
# Spark status REST API
# ---------------------------------------------------------------------------


class SparkRest:
    def __init__(self, ui_url: str | None, app_id: str, timeout_s: float = 10.0):
        if not ui_url:
            raise MeasurementError("Spark UI is disabled: no REST endpoint to read")
        self.base = f"{ui_url.rstrip('/')}/api/v1/applications/{app_id}"
        self.timeout_s = timeout_s

    def get(self, path: str):
        try:
            with urllib.request.urlopen(f"{self.base}/{path}", timeout=self.timeout_s) as r:
                return json.load(r)
        except (OSError, ValueError) as exc:  # URLError is an OSError
            raise MeasurementError(f"REST read {path!r} failed: {exc}") from exc

    def settled(self, groups: set[str], expect_jobs: int, timeout_s: float = 30.0) -> tuple[list, list]:
        """(jobs, stages) once every job of ``groups`` has finished and
        each of their stages is complete, skipped or failed.

        ``expect_jobs`` is the job count Spark's status tracker gave for
        the groups; the listener that feeds the REST view runs
        asynchronously, so the view is polled until it has them all."""
        deadline = time.monotonic() + timeout_s
        while True:
            jobs = [j for j in self.get("jobs") if j.get("jobGroup") in groups]
            stages = self.get("stages")
            wanted = {sid for j in jobs for sid in j.get("stageIds", [])}
            ok = (
                len(jobs) >= expect_jobs
                and all(j.get("status") in _FINISHED_JOB for j in jobs)
                and all(
                    s.get("status") in _SETTLED_STAGE
                    for s in stages
                    if s.get("stageId") in wanted
                )
            )
            if ok:
                return jobs, stages
            if time.monotonic() > deadline:
                raise MeasurementError(
                    f"REST view of groups {sorted(groups)} did not settle in "
                    f"{timeout_s:.0f}s ({len(jobs)}/{expect_jobs} jobs)"
                )
            time.sleep(0.1)

    def task_durations_ms(self, stage: dict) -> list[float]:
        sid, att = stage["stageId"], stage["attemptId"]
        n = int(stage.get("numTasks", 0)) + int(stage.get("numFailedTasks", 0)) + 16
        tasks = self.get(f"stages/{sid}/{att}/taskList?length={n}")
        return [float(t["duration"]) for t in tasks if t.get("status") == "SUCCESS"]


def stage_owner(jobs: list[dict]) -> dict[int, dict]:
    """stageId -> the job that ran it.

    A stage reused from an earlier job is listed (as skipped) by every
    later job that reads its shuffle output; it ran in the earliest job
    that lists it."""
    owner: dict[int, dict] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in j.get("stageIds", []):
            owner.setdefault(sid, j)
    return owner


def aggregate_groups(jobs: list[dict], stages: list[dict], groups: list[str]) -> dict[str, dict]:
    """Per job group: jobs, executor CPU/run seconds, shuffle and spill MB,
    failed tasks, and the stage attempts it owns."""
    out = {
        g: {"jobs": 0, "cpu_s": 0.0, "run_s": 0.0, "shuffle_mb": 0.0,
            "spill_mb": 0.0, "failed_tasks": 0, "stages": []}
        for g in groups
    }
    for j in jobs:
        g = j.get("jobGroup")
        if g in out:
            out[g]["jobs"] += 1
    owner = stage_owner([j for j in jobs if j.get("jobGroup") in out])
    for s in stages:
        job = owner.get(s.get("stageId"))
        if job is None:
            continue
        a = out[job["jobGroup"]]
        a["cpu_s"] += s.get("executorCpuTime", 0) / 1e9
        a["run_s"] += s.get("executorRunTime", 0) / 1e3
        a["shuffle_mb"] += (s.get("shuffleReadBytes", 0) + s.get("shuffleWriteBytes", 0)) / MB
        a["spill_mb"] += s.get("diskBytesSpilled", 0) / MB
        a["failed_tasks"] += s.get("numFailedTasks", 0)
        if s.get("status") != "SKIPPED":
            a["stages"].append(s)
    return out


def task_skew(durations: list[float]) -> float:
    """max / median task duration; 0.0 when no task ran."""
    if not durations:
        return 0.0
    s = sorted(durations)
    mid = len(s) // 2
    med = s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2.0
    return s[-1] / med if med > 0 else float(s[-1] > 0)


def group_counters(rest: SparkRest, groups: list[str], expect_jobs: int) -> dict[str, dict]:
    jobs, stages = rest.settled(set(groups), expect_jobs)
    return aggregate_groups(jobs, stages, groups)


# ---------------------------------------------------------------------------
# /proc: CPU and RSS of a process tree
# ---------------------------------------------------------------------------

_TICK = float(os.sysconf("SC_CLK_TCK"))
_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / MB


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def proc_cpu_s(root: int) -> dict[tuple[int, str], float]:
    """CPU seconds of each process in the tree (its own plus its reaped
    children's), keyed by (pid, start time) so that a reused pid is a
    new process."""
    out = {}
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is not None:
            out[(pid, st[19])] = sum(int(x) for x in st[11:15]) / _TICK
    return out


class TreeCpu:
    """CPU seconds a process tree spends while the ``with`` block runs:
    ``result`` returns (``root`` itself, its descendants).

    The root's own counters cover all its threads.  Descendants are
    sampled on a thread: Spark's Python daemon ignores SIGCHLD, so a
    worker that exits is never added to its parent's counters and
    counts up to its last sample instead.  A process that started
    inside the block counts from zero."""

    def __init__(self, root: int, interval_s: float = 0.2,
                 read: Callable[[int], dict] = proc_cpu_s):
        self.root, self.interval_s, self.read = root, interval_s, read
        self.first: dict = {}
        self.last: dict = {}
        self.error: BaseException | None = None
        self._halt = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        try:
            while not self._halt.wait(self.interval_s):
                self.last.update(self.read(self.root))
        except BaseException as exc:  # reported by result()
            self.error = exc

    def __enter__(self) -> "TreeCpu":
        self.first = self.read(self.root)
        self.last = dict(self.first)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._halt.set()
        self._thread.join()
        if self.error is None:
            self.last.update(self.read(self.root))

    def result(self) -> tuple[float, float]:
        if self.error is not None:
            raise MeasurementError(f"CPU sampling failed: {self.error}") from self.error
        own = rest = 0.0
        seen_root = False
        for key, cpu in self.last.items():
            used = cpu - self.first.get(key, 0.0)
            if key[0] == self.root:
                own, seen_root = own + used, True
            else:
                rest += used
        if not seen_root:
            raise MeasurementError(f"no CPU counters readable for process {self.root}")
        return own, rest


def tree_rss_mb(root: int) -> tuple[float, float]:
    """Resident MB of (``root`` itself, its descendants summed)."""
    own = rest = 0.0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                mb = int(f.read().split()[1]) * _PAGE_MB
        except OSError:  # the process ended between listing and reading
            continue
        if pid == root:
            own = mb
        else:
            rest += mb
    if own == 0.0:
        raise MeasurementError(f"no RSS readable for process {root}")
    return own, rest


class PeakRss:
    """Samples the tree's summed RSS on a thread while the ``with`` block
    runs; ``result`` returns the peak, ``peak_parts`` its (root,
    descendants) split."""

    def __init__(self, root: int, interval_s: float = 0.2,
                 read: Callable[[int], tuple[float, float]] = tree_rss_mb):
        self.root, self.interval_s, self.read = root, interval_s, read
        self.peak = 0.0
        self.peak_parts = (0.0, 0.0)
        self.error: BaseException | None = None
        self._halt = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        try:
            while True:
                parts = self.read(self.root)
                if sum(parts) > self.peak:
                    self.peak, self.peak_parts = sum(parts), parts
                if self._halt.wait(self.interval_s):
                    return
        except BaseException as exc:  # reported by result()
            self.error = exc

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._halt.set()
        self._thread.join()

    def result(self) -> float:
        if self.error is not None:
            raise MeasurementError(f"RSS sampling failed: {self.error}") from self.error
        if self.peak <= 0.0:
            raise MeasurementError("RSS sampler took no sample")
        return self.peak
