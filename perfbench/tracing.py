"""Traced-run instrumentation, kept in the benchmark's own files.

Each call into the library is a span (name, start, end, parent request
id). Its Spark jobs are the jobs submitted between a job-id watermark
taken before the call and the end of the call; the run is one
closed-loop client, so no other caller submits jobs meanwhile. Jobs,
stages, tasks, executor run time, shuffle and GC come from the Spark
REST API, which the session exposes when ``SPARK_GRAFT_UI=1``.
"""

from __future__ import annotations

import json
import time
import urllib.request
from datetime import datetime

from stats import driver_gap

_TERMINAL = {"SUCCEEDED", "FAILED"}


def _epoch(stamp: str) -> float:
    return datetime.strptime(stamp.replace("GMT", "+0000"),
                             "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class Tracer:
    """Spans plus per-call Spark counters. When ``enabled`` is false
    every method is a no-op and no REST call is made."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled and bool(spark.sparkContext.uiWebUrl)
        if enabled and not self.enabled:
            raise RuntimeError("tracing needs the Spark UI (SPARK_GRAFT_UI=1)")
        self.spans: list[dict] = []
        self.bookkeeping_s = 0.0
        if self.enabled:
            sc = spark.sparkContext
            self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self._base}/{path}", timeout=10) as r:
            return json.load(r)

    def watermark(self) -> int:
        if not self.enabled:
            return -1
        t0 = time.perf_counter()
        jobs = self._get("jobs")
        self.bookkeeping_s += time.perf_counter() - t0
        return max((j["jobId"] for j in jobs), default=-1)

    def record(self, name: str, request: str, start: float, end: float,
               mark: int) -> dict:
        """Add a span for a call that ran from ``start`` to ``end`` (epoch
        seconds) and return its counters: jobs, tasks, executor_s,
        shuffle_mb, driver_gap_s."""
        span = {"name": name, "request": request, "start": start, "end": end}
        self.spans.append(span)
        if not self.enabled:
            return span
        t0 = time.perf_counter()
        deadline = time.monotonic() + 5.0
        while True:
            jobs = [j for j in self._get("jobs") if j["jobId"] > mark]
            if all(j["status"] in _TERMINAL for j in jobs) or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        stage_ids = {s for j in jobs for s in j.get("stageIds", [])}
        stages = [s for s in self._get("stages")
                  if s["stageId"] in stage_ids and s["status"] != "SKIPPED"]
        intervals = [(_epoch(j["submissionTime"]), _epoch(j["completionTime"]))
                     for j in jobs if "submissionTime" in j and "completionTime" in j]
        span.update(
            jobs=len(jobs),
            tasks=sum(s.get("numCompleteTasks", 0) for s in stages),
            executor_s=sum(s.get("executorRunTime", 0) for s in stages) / 1000.0,
            shuffle_mb=sum(s.get("shuffleWriteBytes", 0) for s in stages) / 1e6,
            driver_gap_s=driver_gap(start, end, intervals),
        )
        self.bookkeeping_s += time.perf_counter() - t0
        return span

    def gc_ms(self) -> float:
        """Cumulative JVM GC time of the driver/executor, from the REST API."""
        if not self.enabled:
            return 0.0
        return float(sum(e.get("totalGCTime", 0) for e in self._get("executors")))

    def heap_peak_mb(self) -> float:
        """Peak JVM heap use: the REST executor peak when reported, else the
        JVM's own per-pool peak usage."""
        if not self.enabled:
            return 0.0
        peaks = [e.get("peakMemoryMetrics", {}).get("JVMHeapMemory", 0)
                 for e in self._get("executors")]
        if max(peaks, default=0) > 0:
            return max(peaks) / 1e6
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        heap = [p for p in mf.getMemoryPoolMXBeans() if str(p.getType()) == "Heap memory"]
        return sum(p.getPeakUsage().getUsed() for p in heap) / 1e6

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for span in self.spans:
                fh.write(json.dumps(span) + "\n")
