"""Spans around the benchmark's calls into daft_spark, attributed to
Spark jobs through job groups.

A span is (id, name, start, end, parent, run id). While a span is open
its ``name#id`` is the Spark job group of the driver thread, so every
job Spark runs inside it is tagged; after the run, Spark's status REST
API (``/api/v1/applications/<id>/{jobs,stages}``) gives each job's
stages and their executor time, shuffle and spill bytes, which are
summed per span. Spans live in memory and are written out at the end.

``NullTracer`` has the same interface and does nothing: the untraced
run, which gives the end-to-end numbers, uses it.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import time
import urllib.request


class NullTracer:
    def span(self, name: str):
        return contextlib.nullcontext()


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.heap_peak_bytes = 0

    # -- spans -------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self._sample_heap()

    def _set_group(self, sid: int | None) -> None:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is None:
            return
        if sid is None:
            sc._jsc.clearJobGroup()
        else:
            sc.setJobGroup(f"{self.spans[sid]['name']}#{sid}", self.spans[sid]["name"])

    def _sample_heap(self) -> None:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is None:
            return
        rt = sc._jvm.java.lang.Runtime.getRuntime()
        self.heap_peak_bytes = max(self.heap_peak_bytes, rt.totalMemory() - rt.freeMemory())

    # -- wrapping layer functions ----------------------------------------------
    def wrap(self, module, attr: str, span_name: str) -> None:
        """Replace ``module.attr`` with a spanned wrapper, in every loaded
        daft_spark module that bound the same function object (``from x
        import f`` copies the binding, and callers resolve it at call
        time)."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(span_name):
                return orig(*args, **kwargs)

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").split(".")[0] != "daft_spark":
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, key, traced)

    # -- attribution --------------------------------------------------------------
    def attribute(self, sc, timeout_s: float = 30.0) -> None:
        """Fetch every job and stage from the status REST API and add each
        span's own Spark counters to it under ``"spark"``."""
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"
        jobs = _settled_jobs(base, timeout_s)
        stages = _get(base + "/stages")
        owner: dict[int, dict] = {}
        for job in sorted(jobs, key=lambda j: j["jobId"]):
            for st in job.get("stageIds", []):
                owner.setdefault(st, job)
        for rec in self.spans:
            rec["spark"] = _zero()
        for job in jobs:
            sid = _span_of(job)
            if sid is not None and sid < len(self.spans):
                self.spans[sid]["spark"]["jobs"] += 1
        for st in stages:
            if st.get("status") == "SKIPPED":
                continue
            sid = _span_of(owner.get(st["stageId"], {}))
            if sid is None or sid >= len(self.spans):
                continue
            m = self.spans[sid]["spark"]
            m["stages"] += 1
            m["tasks"] += st.get("numCompleteTasks", 0)
            m["executor_run_s"] += st.get("executorRunTime", 0) / 1e3
            m["executor_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
            m["gc_s"] += st.get("jvmGcTime", 0) / 1e3
            m["result_mb"] += st.get("resultSize", 0) / 2**20
            m["input_mb"] += st.get("inputBytes", 0) / 2**20
            m["input_rows"] += st.get("inputRecords", 0)
            m["shuffle_write_mb"] += st.get("shuffleWriteBytes", 0) / 2**20
            m["shuffle_read_mb"] += st.get("shuffleReadBytes", 0) / 2**20
            m["spill_mem_mb"] += st.get("memoryBytesSpilled", 0) / 2**20
            m["spill_disk_mb"] += st.get("diskBytesSpilled", 0) / 2**20

    # -- views ----------------------------------------------------------------------
    def children(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = {r["id"]: [] for r in self.spans}
        for r in self.spans:
            if r["parent"] is not None:
                kids[r["parent"]].append(r["id"])
        return kids

    def subtree(self, sid: int, kids: dict[int, list[int]]) -> list[dict]:
        out, todo = [], [sid]
        while todo:
            s = todo.pop()
            out.append(self.spans[s])
            todo.extend(kids[s])
        return out

    def write(self, path: str, extra: dict) -> None:
        kids = self.children()
        for r in self.spans:
            dur = r["end"] - r["start"]
            r["self_s"] = dur - sum(self.spans[k]["end"] - self.spans[k]["start"] for k in kids[r["id"]])
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans, **extra}, f)


def _zero() -> dict:
    keys = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s", "result_mb",
            "input_mb", "input_rows", "shuffle_write_mb", "shuffle_read_mb", "spill_mem_mb",
            "spill_disk_mb")
    return dict.fromkeys(keys, 0)


def _span_of(job: dict) -> int | None:
    group = job.get("jobGroup") or ""
    _, sep, sid = group.rpartition("#")
    return int(sid) if sep and sid.isdigit() else None


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


def _settled_jobs(base: str, timeout_s: float) -> list[dict]:
    """The listener bus updates the status store asynchronously: poll
    until no job is running and two reads agree."""
    deadline = time.monotonic() + timeout_s
    prev = None
    while True:
        jobs = _get(base + "/jobs")
        key = sorted((j["jobId"], j["status"]) for j in jobs)
        if key == prev and all(j["status"] != "RUNNING" for j in jobs):
            return jobs
        if time.monotonic() > deadline:
            raise TimeoutError("Spark status store did not settle")
        prev = key
        time.sleep(0.3)
