"""Layer tracing from outside the program.

``Tracer.wrap`` replaces a public layer function (a module attribute or a
class method) with a wrapper that opens a span and tags every Spark job the
call launches with a job group ``op<i>|<span path>``. Spans live in memory
(name, start, end, parent, op) and are written out once, at the end of the
run. After each op, ``op_metrics`` joins the spans with the per-job and
per-stage metrics of Spark's local status REST API (the UI server on
localhost) into one row of per-layer numbers for that op.

Wrappers stay installed for the whole traced run; ``enabled`` switches
them to plain pass-through, so the run can interleave traced and untraced
ops and measure the tracing overhead in one process.
"""

from __future__ import annotations

import calendar
import contextlib
import datetime as dt
import functools
import json
import time
import urllib.request


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._op: int | None = None
        self.counters: dict[str, float] = {}
        self._api = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"

    # -- spans ---------------------------------------------------------------

    def _group(self) -> str | None:
        if not self._stack:
            return None
        return f"op{self._op}|" + "/".join(s["name"] for s in self._stack)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1]["id"] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "op": self._op,
               "parent": parent, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(self._group(), name)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            group = self._group()
            if group is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(group, self._stack[-1]["name"])

    def count(self, name: str, n: float) -> None:
        if self.enabled:
            self.counters[name] = self.counters.get(name, 0) + n

    def wrap(self, owner, attr: str, name: str) -> None:
        """Trace every call of ``owner.attr`` as span ``name``."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    @contextlib.contextmanager
    def op(self, i: int, traced: bool):
        """Run op ``i`` under a root span ``op``; ``traced=False`` runs it
        with every wrapper passing through."""
        self.enabled, self._op, self.counters = traced, i, {}
        try:
            with self.span("op"):
                yield
        finally:
            self.enabled = False

    # -- per-op metrics ------------------------------------------------------

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self._api}/{path}", timeout=30) as r:
            return json.load(r)

    def op_metrics(self, i: int) -> dict[str, float]:
        """Spark and span totals of traced op ``i``: job/stage/task counts,
        executor time, shuffle and spill bytes, the op's wall time covered
        by no job (driver gap), per-span self seconds, and the jobs launched
        under a ``queries.build`` span."""
        # the status store is fed asynchronously by the listener bus; drain
        # it so every job of the op is visible and complete
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        spans = [s for s in self.spans if s["op"] == i]
        root = next(s for s in spans if s["parent"] is None)
        prefix = f"op{i}|"
        jobs = [j for j in self._get("jobs")
                if (j.get("jobGroup") or "").startswith(prefix)]
        stage_ids = {sid for j in jobs for sid in j["stageIds"]}
        stages = [s for s in self._get("stages?status=complete")
                  if s["stageId"] in stage_ids]
        out = {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(s["numCompleteTasks"] for s in stages),
            "spark.executor_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "spark.executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "spark.jvm_gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1e3,
            "spark.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "spark.spill_bytes": sum(
                s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages
            ),
        }
        intervals = sorted(
            (max(_epoch(j["submissionTime"]), root["start"]),
             min(_epoch(j.get("completionTime")) or root["end"], root["end"]))
            for j in jobs if "submissionTime" in j
        )
        covered, reach = 0.0, root["start"]
        for lo, hi in intervals:
            lo = max(lo, reach)
            if hi > lo:
                covered += hi - lo
                reach = hi
        out["spark.driver_gap_s"] = (root["end"] - root["start"]) - covered
        # self time: a span's duration minus its children's (children of one
        # span run one after another on the client thread)
        child = {}
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        for s in spans:
            key = f"self_s:{s['name']}"
            out[key] = out.get(key, 0.0) + (s["end"] - s["start"]) - child.get(s["id"], 0.0)
        out["jobs_under:queries.build"] = sum(
            1 for j in jobs if "/queries.build" in j["jobGroup"]
        )
        out.update(self.counters)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _epoch(stamp: str | None) -> float | None:
    """Seconds since the epoch of a status-API time like
    ``2026-01-01T08:00:00.123GMT``."""
    if not stamp:
        return None
    t = dt.datetime.strptime(stamp[:-3], "%Y-%m-%dT%H:%M:%S.%f")
    return calendar.timegm(t.timetuple()) + t.microsecond / 1e6
