"""Tracing for the benchmark's traced run: in-memory spans around calls
into the package's public functions, and Spark's own stage and SQL
metrics read through the REST API per job group.

Spans are recorded from the benchmark's side only. ``Tracer.patched``
swaps a module attribute for a wrapper that opens a span around each
call, and puts the original back on exit; the package itself carries no
instrumentation.
"""

from __future__ import annotations

import contextlib
import functools
import json
import re
import time
import urllib.request


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory until
    ``dump``. Times are ``time.perf_counter`` seconds."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextlib.contextmanager
    def patched(self, targets: list[tuple[object, str, str]]):
        """Wrap ``module.attr`` for each ``(module, attr, span_name)``
        while the block runs."""
        saved = []
        for module, attr, name in targets:
            original = getattr(module, attr)
            saved.append((module, attr, original))
            setattr(module, attr, self._wrap(original, name))
        try:
            yield
        finally:
            for module, attr, original in reversed(saved):
                setattr(module, attr, original)

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def durations(self, name: str, parent_name: str | None = None) -> list[float]:
        """Durations of the spans called ``name``; with ``parent_name``,
        only those whose parent span has that name."""
        by_id = {s["id"]: s for s in self.spans}
        out = []
        for s in self.spans:
            if s["name"] != name or s["end"] is None:
                continue
            if parent_name is not None:
                parent = by_id.get(s["parent"])
                if parent is None or parent["name"] != parent_name:
                    continue
            out.append(s["end"] - s["start"])
        return out

    def child_sums(self, name: str, parent_name: str) -> list[float]:
        """For each span called ``parent_name``, the summed durations of
        its direct children called ``name``."""
        sums = {s["id"]: 0.0 for s in self.spans if s["name"] == parent_name}
        for s in self.spans:
            if s["name"] == name and s["parent"] in sums and s["end"] is not None:
                sums[s["parent"]] += s["end"] - s["start"]
        return list(sums.values())

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)


# Spark renders SQL metrics as text: "1,600", "43 ms", "6.1 s",
# "64.0 KiB", or, for per-task metrics, "total (min, med, max ...)\n
# 6.1 s (1.2 s, ...)" whose first figure is the total.
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """Seconds for durations, bytes for sizes, the number for counts."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text)
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class SparkRest:
    """Reads the driver's REST API (``/api/v1``) for one application."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=60) as r:
            return json.load(r)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store behind the API holds the jobs just run."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def group_totals(self, groups: set[str]) -> dict:
        """Totals over the jobs of ``groups``: job/stage/task counts,
        executor run, CPU and GC seconds, shuffle and spill bytes, and the
        SQL node metrics of their executions, summed per
        ``(node name, metric name)``."""
        self.drain()
        jobs = [j for j in self._get("jobs") if j.get("jobGroup") in groups]
        job_ids = {j["jobId"] for j in jobs}
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [
            s for s in self._get("stages")
            if s["stageId"] in stage_ids and s["status"] in ("COMPLETE", "FAILED")
        ]
        totals = {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in stages),
            "executor_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "spill_disk_bytes": sum(s["diskBytesSpilled"] for s in stages),
        }
        nodes: dict[tuple[str, str], float] = {}
        executions = self._get("sql?details=true&planDescription=false&offset=0&length=100000")
        for ex in executions:
            ids = set(ex.get("successJobIds", ())) | set(ex.get("failedJobIds", ()))
            if not ids & job_ids:
                continue
            for node in ex.get("nodes", ()):
                for metric in node.get("metrics", ()):
                    key = (node["nodeName"], metric["name"])
                    nodes[key] = nodes.get(key, 0.0) + parse_sql_metric(metric["value"])
        totals["sql"] = nodes
        return totals
