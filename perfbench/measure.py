"""Measurement helpers that live beside the benchmark, not in the program:
a /proc RSS sampler for this process's tree, span recording around
layer calls, and an event-log reader that attributes Spark jobs to spans
by job group."""

from __future__ import annotations

import json
import math
import os
import threading
import time
from dataclasses import dataclass, field

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        # the command name may hold spaces: fields resume after the last ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class RssSampler:
    """One background thread sampling the process tree's RSS; ``window()``
    returns the peak since the previous call."""

    def __init__(self, interval_s: float = 0.1):
        self._interval = interval_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            rss = tree_rss_bytes(root)
            with self._lock:
                self._peak = max(self._peak, rss)
            self._stop.wait(self._interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def window(self) -> float:
        """Peak MB since the last call (sampling restarts from now)."""
        rss = tree_rss_bytes(os.getpid())
        with self._lock:
            peak, self._peak = max(self._peak, rss), 0
        return peak / 2**20


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile (q in (0, 1])."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


# -- spans ---------------------------------------------------------------------


@dataclass
class Span:
    layer: str
    group: str
    start: float
    end: float = 0.0
    rows_out: int = 0


@dataclass
class Tracer:
    """Records one span per layer call. Each span's Spark jobs carry the
    span's job group, so the event log can attribute them afterwards."""

    sc: object
    spans: list[Span] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)

    def run(self, layer: str, thunk):
        """Run ``thunk`` inside a span; it returns (result, rows_out)."""
        span = Span(layer, f"span-{len(self.spans):04d}-{layer}", time.time())
        self.sc.setJobGroup(span.group, layer)
        try:
            result, span.rows_out = thunk()
        finally:
            span.end = time.time()
            self.sc.setJobGroup("untraced", "")
            self.spans.append(span)
        return result

    def materialize(self, layer: str, build):
        """Span around ``build()`` plus one eager materialization of its
        result; rows_out is the materialized row count."""

        def thunk():
            df = build().localCheckpoint(eager=True)
            return df, df.count()

        return self.run(layer, thunk)

    def add(self, name: str, value: float) -> None:
        self.counters[name] = self.counters.get(name, 0) + value


# -- event log -----------------------------------------------------------------


@dataclass
class JobStats:
    group: str
    start: float
    end: float = 0.0
    task_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0


def read_event_log(log_dir: str) -> list[JobStats]:
    """Jobs of every application log in ``log_dir``, with their group and
    summed task metrics (tasks attributed to the job that submitted their
    stage)."""
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    # Spark 4 writes <dir>/eventlog_v2_<app>/events_<n>_<app> (plus an
    # empty appstatus marker); older versions one file per application
    files = sorted(os.path.join(d, n) for d, _, names in os.walk(log_dir)
                   for n in names if not n.startswith(("appstatus", ".")))
    for path in files:
        with open(path) as f:
            for line in f:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = JobStats(
                        props.get("spark.jobGroup.id") or "untraced",
                        ev["Submission Time"] / 1000,
                    )
                    for sid in ev.get("Stage IDs", ()):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                    m = ev.get("Task Metrics")
                    if job is None or not m:
                        continue
                    job.task_s += m.get("Executor Run Time", 0) / 1000
                    job.shuffle_bytes += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    job.spill_bytes += m.get("Disk Bytes Spilled", 0)
    return list(jobs.values())


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
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


LAYER_COUNTERS = ("wall_s", "jobs", "task_s", "gap_s", "shuffle_mb", "spill_mb",
                  "rows_out")


def layer_metrics(spans: list[Span], jobs: list[JobStats],
                  layers: tuple[str, ...]) -> dict[str, float]:
    """Per-layer sums of the LAYER_COUNTERS over every span of each layer."""
    by_group: dict[str, list[JobStats]] = {}
    for j in jobs:
        by_group.setdefault(j.group, []).append(j)
    out = {f"{layer}.{c}": 0.0 for layer in layers for c in LAYER_COUNTERS}
    for sp in spans:
        mine = by_group.get(sp.group, [])
        wall = sp.end - sp.start
        busy = _covered([(j.start, j.end) for j in mine], sp.start, sp.end)
        p = sp.layer + "."
        out[p + "wall_s"] += wall
        out[p + "jobs"] += len(mine)
        out[p + "task_s"] += sum(j.task_s for j in mine)
        out[p + "gap_s"] += wall - busy
        out[p + "shuffle_mb"] += sum(j.shuffle_bytes for j in mine) / 2**20
        out[p + "spill_mb"] += sum(j.spill_bytes for j in mine) / 2**20
        out[p + "rows_out"] += sp.rows_out
    return out


def dir_stats(path: str) -> tuple[float, int]:
    """(MB, file count) of the regular files under ``path``."""
    size, files = 0, 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size / 2**20, files
