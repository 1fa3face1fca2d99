"""Traced mode: spans around the program's public calls, and Spark's own counts.

The wrappers are installed from here, around calls into each layer; no
file of the program changes. A span records its name, start, end,
parent span and request id, and is kept in memory until the run writes
all spans to ``perfbench/trace-out/`` at its end.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time

from measure import REQ_HEADER


class Tracer:
    def __init__(self) -> None:
        #: [name, t0, t1, parent index, request id, attrs]
        self.spans: list[list] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current_name(self) -> str | None:
        st = self._stack()
        return self.spans[st[-1]][0] if st else None

    def begin(self, name: str, req: str | None = None, **attrs) -> int:
        st = self._stack()
        parent = st[-1] if st else None
        if req is None and parent is not None:
            req = self.spans[parent][4]
        with self._lock:
            self.spans.append([name, time.time(), None, parent, req, attrs])
            idx = len(self.spans) - 1
        st.append(idx)
        return idx

    def end(self, idx: int, **attrs) -> None:
        span = self.spans[idx]
        span[2] = time.time()
        span[5].update(attrs)
        st = self._stack()
        if st and st[-1] == idx:
            st.pop()

    def wrap(self, owner, attr: str, name: str, only_under: str | None = None,
             on_exit=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span around it.
        ``only_under``: record only when the caller's span has that name.
        ``on_exit(result, attrs)``: add attributes from the result."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if only_under is not None and self.current_name() != only_under:
                return fn(*args, **kwargs)
            idx = self.begin(name)
            extra: dict = {}
            try:
                out = fn(*args, **kwargs)
                if on_exit is not None:
                    on_exit(out, extra)
                return out
            finally:
                self.end(idx, **extra)

        setattr(owner, attr, wrapper)

    def dump(self, path: str, jobs: list[dict]) -> None:
        """Write the spans, then Spark's jobs, one JSON object a line."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for name, t0, t1, parent, req, attrs in self.spans:
                f.write(json.dumps({"name": name, "start": t0, "end": t1,
                                    "parent": parent, "req": req, **attrs}) + "\n")
            for job in jobs:
                f.write(json.dumps({"job": job}) + "\n")


def install(tracer: Tracer) -> None:
    """Wrap the public calls of each layer. Call before the service exists."""
    import pyspark.sql.classic.dataframe as classic_df

    import graphouse_spark.api.http as http_mod
    import graphouse_spark.api.service as service_mod
    import graphouse_spark.streaming.ingest as ingest_mod
    from graphouse_spark.tree_index import MetricTree
    from measure import rss_mb

    # api.http: one span per handled request, tagged with the client's id
    make_handler = http_mod.make_handler

    def traced_make_handler(service):
        base = make_handler(service)

        class Traced(base):
            def _traced(self, method):
                idx = tracer.begin("http.handle", req=self.headers.get(REQ_HEADER))
                try:
                    method()
                finally:
                    tracer.end(idx)

            def do_GET(self):
                self._traced(super().do_GET)

            def do_POST(self):
                self._traced(super().do_POST)

        return Traced

    http_mod.make_handler = traced_make_handler

    class TracedJson:
        """The handler's json module, with ``dumps`` timed (render serialization)."""

        def __getattr__(self, item):
            return getattr(json, item)

        @staticmethod
        def dumps(*args, **kwargs):
            idx = tracer.begin("http.json")
            try:
                return json.dumps(*args, **kwargs)
            finally:
                tracer.end(idx)

    http_mod.json = TracedJson()

    # api.service
    svc_cls = service_mod.GraphouseService
    for meth in ("metric_data_json", "search", "search_cached", "find_nodes_json",
                 "modify"):
        tracer.wrap(svc_cls, meth, f"service.{meth}")
    tracer.wrap(svc_cls, "render", "service.render", on_exit=lambda out, a: a.update(
        points=sum(len(s["datapoints"]) for s in out)))
    tracer.wrap(svc_cls, "metric_data", "service.metric_data", on_exit=lambda out, a: a.update(
        points=sum(len(s["points"]) for s in out.values())))

    load_tree = svc_cls.load_tree

    def traced_load_tree(self):
        before = rss_mb()
        idx = tracer.begin("service.load_tree")
        n = None
        try:
            n = load_tree(self)
            return n
        finally:
            tracer.end(idx, names=n, rss_mb_before=before, rss_mb_after=rss_mb())

    svc_cls.load_tree = traced_load_tree
    # status rows written by /hide and /approve
    tracer.wrap(service_mod, "write_metrics", "tables.write_metrics")

    # tree_index
    tracer.wrap(MetricTree, "search", "tree.search",
                on_exit=lambda out, a: a.update(names=len(out)))
    tracer.wrap(MetricTree, "search_cached", "tree.search_cached",
                on_exit=lambda out, a: a.update(names=len(out)))
    tracer.wrap(MetricTree, "modify", "tree.modify", only_under="service.modify")

    # result collection on the driver
    tracer.wrap(classic_df.DataFrame, "collect", "spark.collect",
                on_exit=lambda out, a: a.update(rows=len(out)))

    # streaming.ingest: the foreachBatch body and its two writes
    tracer.wrap(ingest_mod, "ingest_batch", "ingest.batch")
    tracer.wrap(ingest_mod, "write_data", "ingest.write_data")
    tracer.wrap(ingest_mod, "write_metrics", "ingest.write_metrics")


# -- Spark's status store -----------------------------------------------------

def _opt(o):
    return o.get() if o.isDefined() else None


def spark_jobs(spark) -> list[dict]:
    """Every job the status store retains, with its stages' task metrics
    summed, and the job group it ran under."""
    jvm = spark.sparkContext._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    empty = jvm.java.util.ArrayList()
    stages: dict[int, dict] = {}
    seq = store.stageList(empty, False, False,
                          spark.sparkContext._gateway.new_array(jvm.double, 0),
                          jvm.java.util.ArrayList())
    for i in range(seq.size()):
        s = seq.apply(i)
        agg = stages.setdefault(s.stageId(), dict.fromkeys(
            ("tasks", "task_ms", "cpu_ns", "input_bytes", "input_records",
             "shuffle_bytes", "spill_bytes", "gc_ms"), 0))
        agg["tasks"] += s.numCompleteTasks()
        agg["task_ms"] += s.executorRunTime()
        agg["cpu_ns"] += s.executorCpuTime()
        agg["input_bytes"] += s.inputBytes()
        agg["input_records"] += s.inputRecords()
        agg["shuffle_bytes"] += s.shuffleReadBytes() + s.shuffleWriteBytes()
        agg["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        agg["gc_ms"] += s.jvmGcTime()
    # jobs of one SQL execution belong together: a broadcast runs under
    # its own job group, but in the execution of the request that needs it
    execution_of: dict[int, int] = {}
    ex = spark._jsparkSession.sharedState().statusStore().executionsList()
    for i in range(ex.size()):
        e = ex.apply(i)
        for j in filter(None, e.jobs().keys().mkString(",").split(",")):
            execution_of[int(j)] = e.executionId()
    jobs = []
    seq = store.jobsList(empty)
    for i in range(seq.size()):
        j = seq.apply(i)
        sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
        ids = [int(x) for x in filter(None, j.stageIds().mkString(",").split(","))]
        job = {"id": j.jobId(), "group": _opt(j.jobGroup()),
               "description": _opt(j.description()),
               "tags": j.jobTags().mkString(","),
               "submitted": sub.getTime() / 1000.0 if sub is not None else None,
               "completed": done.getTime() / 1000.0 if done is not None else None,
               "execution": execution_of.get(j.jobId()),
               "stages": len(ids)}
        for sid in ids:
            for k, v in stages.get(sid, {}).items():
                job[k] = job.get(k, 0) + v
        jobs.append(job)
    return jobs


def jobs_by_request(jobs: list[dict]) -> dict[str, list[dict]]:
    """Request id (the reqKey job group) -> its jobs, including the other
    jobs of the same SQL executions."""
    by_exec: dict[int, str] = {}
    for j in jobs:
        if j["group"] and j["execution"] is not None:
            by_exec[j["execution"]] = j["group"]
    out: dict[str, list[dict]] = {}
    for j in jobs:
        req = by_exec.get(j["execution"], j["group"])
        if req is not None:
            out.setdefault(req, []).append(j)
    return out
