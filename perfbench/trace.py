"""Spans around calls into the package's public functions, and Spark's own
counters read through its monitoring REST API (traced runs only; the UI is
off in untraced runs)."""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import time
import urllib.parse
import urllib.request


class Spans:
    """In-memory spans: (name, start, end) in wall-clock seconds. Disabled
    recorders cost one attribute test per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple[str, float, float]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.time()))

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span called ``name``."""

        def timed(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return timed

    def durations(self, name: str) -> list[float]:
        return [e - s for n, s, e in self.spans if n == name]

    def intervals(self, name: str) -> list[tuple[float, float]]:
        return [(s, e) for n, s, e in self.spans if n == name]


def iso_s(text: str) -> float:
    """Spark's ISO timestamps ('...T15:15:24.513Z' or '...513GMT') as epoch s."""
    text = text.replace("GMT", "Z").replace("Z", "+00:00")
    return dt.datetime.fromisoformat(text).timestamp()


class SparkRest:
    """Spark's monitoring REST API on this application's own UI."""

    def __init__(self, spark):
        sc = spark.sparkContext
        url = urllib.parse.urlparse(sc.uiWebUrl)
        self.base = f"http://127.0.0.1:{url.port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def jobs(self) -> list[dict]:
        return self.get("/jobs")

    def stages(self) -> list[dict]:
        return self.get("/stages?status=complete")


def jobs_in(jobs: list[dict], start: float, end: float) -> list[dict]:
    return [j for j in jobs if start <= iso_s(j["submissionTime"]) <= end]


def stage_totals(stages: list[dict], stage_ids: set[int] | None = None) -> dict:
    """Task count, shuffle write, spill, GC and executor run time summed
    over completed stages (all of them, or those in ``stage_ids``)."""
    tot = {"tasks": 0, "shuffle_write_mb": 0.0, "spill_mb": 0.0, "gc_s": 0.0, "executor_run_s": 0.0}
    for s in stages:
        if stage_ids is not None and s["stageId"] not in stage_ids:
            continue
        tot["tasks"] += s.get("numCompleteTasks", 0)
        tot["shuffle_write_mb"] += s.get("shuffleWriteBytes", 0) / 1e6
        tot["spill_mb"] += (s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)) / 1e6
        tot["gc_s"] += s.get("jvmGcTime", 0) / 1e3
        tot["executor_run_s"] += s.get("executorRunTime", 0) / 1e3
    return tot
