"""Measurement from outside the program: spans, stage boundaries, Spark
job counts and process-tree memory."""

from __future__ import annotations

import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from llmxmapreduce_spark.operators.stage_metrics import StageMetrics


class Tracer:
    """In-memory spans ``(id, name, start, end, parent, request)``; written
    out once, when the run ends."""

    def __init__(self):
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, request: str | None = None) -> int:
        sid = len(self.spans)
        self.spans.append({"id": sid, "name": name, "start": start, "end": end,
                           "parent": parent, "request": request})
        return sid

    @contextmanager
    def span(self, name: str, request: str):
        """Yields the new span's id; its end is stamped on exit."""
        sid = self.add(name, time.perf_counter(), float("nan"), request=request)
        try:
            yield sid
        finally:
            self.spans[sid]["end"] = time.perf_counter()

    def self_times(self) -> dict[str, dict]:
        """Per span name: count, total and self seconds, where self time is
        the span's duration minus the part its children cover."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        table: dict[str, dict] = {}
        for s in self.spans:
            covered, last = 0.0, s["start"]
            for a, b in sorted(children[s["id"]]):
                a, b = max(a, last), min(b, s["end"])
                if b > a:
                    covered += b - a
                    last = b
            dur = s["end"] - s["start"]
            row = table.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            row["count"] += 1
            row["total_s"] += dur
            row["self_s"] += dur - covered
        return table


class StageClock(StageMetrics):
    """StageMetrics that stamps every ``materialized()`` call.

    The pipelines call ``materialized(stage)`` right after each eager stage
    boundary, so consecutive stamps tile a run: each interval belongs to
    the stage whose boundary closes it, and the interval after the last
    stamp belongs to the final, lazy stage (V1 reduce, V2 decode).  The
    parent's ``wall_s`` is not used: it measures from a stage's first
    telemetry attachment, which V2 never makes for ``refine`` (0.0) and
    it is never stamped for ``decode`` under default knobs (None).
    """

    def __init__(self, spark, start: float):
        super().__init__(spark)
        self.stamps: list[tuple[str, float]] = [("start", start)]

    def materialized(self, name: str) -> None:
        super().materialized(name)
        self.stamps.append((name, time.perf_counter()))

    def intervals(self, end: float, tail: str) -> list[tuple[str, float, float]]:
        marks = self.stamps + [(tail, end)]
        return [(marks[i + 1][0], marks[i][1], marks[i + 1][1])
                for i in range(len(marks) - 1)]


def job_stats(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages run, tasks run) of one job group, from the status
    tracker.  Skipped stages (reused shuffle output) run no task and are
    not counted."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in (info.stageIds if info else []):
            si = st.getStageInfo(sid)
            if si is not None and si.numCompletedTasks > 0:
                stages += 1
                tasks += si.numCompletedTasks
    return len(jobs), stages, tasks


def _tree_rss_bytes(root: int, page: int) -> int:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    # the command name may hold spaces: ppid follows the ')'
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    total = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers), sampled every quarter second while
    running."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, _tree_rss_bytes(os.getpid(), self._page))
            if self._stop.wait(0.25):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
