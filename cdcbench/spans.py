"""Spans around the benchmark's calls into the engine, plus Spark counters.

A span is one call into a layer's public function, timed from outside:
name, start, end, parent span and run id. Spans live in memory for the whole
run. In a traced run, the Spark status store is read once after the timed
phase and each span gets the jobs and stages submitted inside it, so the
timed phase pays nothing for the counters. The benchmark drives the engine
from one thread, one call at a time, so attributing a job to the innermost
span that was open when Spark submitted it is exact.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

COUNTERS = ("jobs", "stages", "executor_run_s", "shuffle_write_bytes",
            "shuffle_read_bytes", "failed_tasks")


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[dict] = []

    def _new(self, name: str, start: float, attrs: dict) -> dict:
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1]["id"] if self._open else None,
            "run_id": self.run_id,
            "start": start,
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(s)
        return s

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        s = self._new(name, time.time(), attrs)
        self._open.append(s)
        try:
            yield s
        except Exception as e:
            s["attrs"]["error"] = f"{type(e).__name__}: {e}"
            raise
        finally:
            s["end"] = time.time()
            self._open.pop()

    def add(self, name: str, start: float, end: float, **attrs) -> dict:
        """Record an already finished span as a child of the open one."""
        s = self._new(name, start, attrs)
        s["end"] = end
        return s

    def named(self, name: str, within: dict | None = None) -> list[dict]:
        """Finished spans called `name`, optionally only those that started
        inside span `within`."""
        return [
            s for s in self.spans
            if s["name"] == name and s["end"] is not None
            and (within is None or within["start"] <= s["start"] <= within["end"])
        ]

    def attach_spark_counters(self, spark) -> None:
        """Give every span the Spark jobs and stages submitted while it was
        the innermost open span, summed into its own and its ancestors'
        counters. Reads the status store, which Spark keeps with the UI off."""
        jobs, stages = _status_store(spark)
        for s in self.spans:
            s["spark"] = dict.fromkeys(COUNTERS, 0)
        by_id = {s["id"]: s for s in self.spans}

        def depth(s: dict) -> int:
            return 0 if s["parent"] is None else 1 + depth(by_id[s["parent"]])

        def charge(t: float, values: dict) -> None:
            inside = [s for s in self.spans
                      if s["end"] is not None and s["start"] <= t <= s["end"]]
            owner = max(inside, key=lambda s: (depth(s), s["start"]), default=None)
            while owner is not None:
                for k, v in values.items():
                    owner["spark"][k] += v
                owner = by_id.get(owner["parent"])

        for t in jobs:
            charge(t, {"jobs": 1})
        for t, run_ms, sw, sr, failed in stages:
            charge(t, {"stages": 1, "executor_run_s": run_ms / 1000.0,
                       "shuffle_write_bytes": sw, "shuffle_read_bytes": sr,
                       "failed_tasks": failed})

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")


def _status_store(spark):
    """(job submit times, stage tuples) from Spark's status store. Stages
    that never ran (skipped, shared with an earlier job) have no submission
    time and are left out."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jobs = []
    it = store.jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        t = j.submissionTime()
        if not t.isEmpty():
            jobs.append(t.get().getTime() / 1000.0)
    gw = sc._gateway
    stages = []
    it = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None).iterator()
    while it.hasNext():
        s = it.next()
        t = s.submissionTime()
        if not t.isEmpty():
            stages.append((
                t.get().getTime() / 1000.0, s.executorRunTime(),
                s.shuffleWriteBytes(), s.shuffleReadBytes(), s.numFailedTasks(),
            ))
    return jobs, stages


def totals(spans: list[dict]) -> dict:
    """Wall seconds and summed Spark counters over a list of spans."""
    out = dict.fromkeys(COUNTERS, 0)
    out["wall_s"] = sum(s["end"] - s["start"] for s in spans)
    for s in spans:
        for k, v in s.get("spark", {}).items():
            out[k] += v
    return out
