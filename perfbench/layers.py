"""Per-layer metrics of a traced run, from its spans, Spark's status store
and the streaming query's progress reports.

Every metric is reported on every workload; a layer the workload does not
use reads 0. Time means are over the measured window's requests (or
micro-batches), unless the name says otherwise.
"""

from __future__ import annotations

import os
from datetime import datetime

from spans import jobs_by_request, spark_jobs

CORE_CALLS = ("service.render", "service.metric_data", "service.search",
              "service.search_cached", "service.find_nodes_json", "service.modify")

UNITS = {
    "http.overhead_ms": "ms", "http.response_kb": "KB",
    "service.call_ms": "ms", "service.post_ms": "ms", "service.serialize_ms": "ms",
    "tree_index.search_ms": "ms", "tree_index.names_per_search": "count",
    "tree_index.load_s": "s", "tree_index.bytes_per_name": "B",
    "tree_index.modify_ms": "ms", "tree_index.persist_ms": "ms",
    "plan.build_ms": "ms", "plan.jobs_per_req": "count", "plan.stages_per_req": "count",
    "spark.exec_ms": "ms", "spark.tasks_per_req": "count", "spark.task_ms_per_req": "ms",
    "spark.cpu_ms_per_req": "ms", "spark.input_kb_per_req": "KB",
    "spark.shuffle_kb_per_req": "KB", "spark.spill_kb_per_req": "KB",
    "spark.gc_ms_per_req": "ms",
    "tables.rows_scanned_per_point": "rows/point", "tables.data_files": "count",
    "tables.bytes_per_point": "B",
    "graphite_source.lines_received": "count", "graphite_source.backlog_lines_max": "count",
    "streaming.batches": "count", "streaming.rows_per_batch": "count",
    "streaming.trigger_wait_ms": "ms", "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.offsets_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "ingest.batch_ms": "ms", "ingest.status_resolve_ms": "ms",
    "ingest.write_data_ms": "ms", "ingest.write_metrics_ms": "ms",
    "ingest.new_names_per_batch": "count",
    "client.render_p50_ms": "ms", "client.metricdata_p50_ms": "ms",
    "client.req_p90_ms": "ms", "client.search_p50_ms": "ms", "client.find_p50_ms": "ms",
    "client.modify_p50_ms": "ms", "client.points_per_s": "points/s",
    "client.visible_p50_ms": "ms", "client.cpu_us_per_point": "us",
}


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def dur_ms(span) -> float:
    return (span[2] - span[1]) * 1000.0


def union_ms(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total * 1000.0


def collect(ctx, samples: list, client: dict, ingest=None) -> dict:
    spans = ctx.tracer.spans
    t_from = ctx.window_start
    in_window = [s for s in spans if s[1] >= t_from and s[2] is not None]
    children: dict[int, list] = {}
    for i, s in enumerate(spans):
        if s[3] is not None and s[2] is not None:
            children.setdefault(s[3], []).append(s)
    handler = {s[4]: i for i, s in enumerate(spans) if s[0] == "http.handle" and s[2]}

    jobs = ctx.jobs = spark_jobs(ctx.spark)
    by_req = jobs_by_request(jobs)
    m = dict.fromkeys(UNITS, 0.0)
    m.update(client)

    # api.http and api.service, per request of the window
    overhead, sizes, calls, serialize, post, build = [], [], [], [], [], []
    per_req_jobs = []
    points_returned, rows_scanned = 0, 0
    span_index = {id(s): i for i, s in enumerate(spans)}
    for smp in samples:
        h = handler.get(smp.req_id)
        if h is None:
            continue
        direct = children.get(h, [])
        overhead.append(smp.ms - sum(dur_ms(s) for s in direct))
        sizes.append(smp.size)
        tree_of = list(direct)
        for s in direct:
            tree_of += children.get(span_index[id(s)], [])
        core = [s for s in tree_of if s[0] in CORE_CALLS]
        if not core:
            continue
        call = core[-1]
        calls.append(dur_ms(call))
        outer = [s for s in tree_of if s[0] == "service.metric_data_json"]
        ser = [dur_ms(s) for s in tree_of if s[0] == "http.json"]
        if outer:
            serialize.append(dur_ms(outer[0]) - dur_ms(call))
        elif ser:
            serialize.append(sum(ser))
        rj = by_req.get(smp.req_id, [])
        if rj:
            per_req_jobs.append(rj)
            done = [j["completed"] for j in rj if j["completed"]]
            if done:
                post.append(max(0.0, (call[2] - max(done)) * 1000.0))
            build.append((min(j["submitted"] for j in rj) - spans[h][1]) * 1000.0)
            points_returned += call[5].get("points", 0)
            rows_scanned += sum(j.get("input_records", 0) for j in rj)
    m["http.overhead_ms"] = mean(overhead)
    m["http.response_kb"] = mean(sizes) / 1024.0
    m["service.call_ms"] = mean(calls)
    m["service.serialize_ms"] = mean(serialize)
    m["service.post_ms"] = mean(post)
    m["plan.build_ms"] = mean(build)

    # Spark execution, attributed by the reqKey job group
    if per_req_jobs:
        n = len(per_req_jobs)

        def per_req(key, scale=1.0):
            return sum(j.get(key, 0) for rj in per_req_jobs for j in rj) * scale / n

        m["plan.jobs_per_req"] = sum(len(rj) for rj in per_req_jobs) / n
        m["plan.stages_per_req"] = per_req("stages")
        m["spark.exec_ms"] = mean(union_ms((j["submitted"], j["completed"]) for j in rj
                                           if j["submitted"] and j["completed"])
                                  for rj in per_req_jobs)
        m["spark.tasks_per_req"] = per_req("tasks")
        m["spark.task_ms_per_req"] = per_req("task_ms")
        m["spark.cpu_ms_per_req"] = per_req("cpu_ns", 1e-6)
        m["spark.input_kb_per_req"] = per_req("input_bytes", 1 / 1024.0)
        m["spark.shuffle_kb_per_req"] = per_req("shuffle_bytes", 1 / 1024.0)
        m["spark.spill_kb_per_req"] = per_req("spill_bytes", 1 / 1024.0)
        m["spark.gc_ms_per_req"] = per_req("gc_ms")
    if points_returned:
        m["tables.rows_scanned_per_point"] = rows_scanned / points_returned

    # tree_index / globs
    searches = [s for s in in_window if s[0] in ("tree.search", "tree.search_cached")]
    m["tree_index.search_ms"] = mean(dur_ms(s) for s in searches)
    m["tree_index.names_per_search"] = mean(s[5].get("names", 0) for s in searches)
    loads = [s for s in spans if s[0] == "service.load_tree" and s[2]]
    m["tree_index.load_s"] = mean(dur_ms(s) / 1000.0 for s in loads)
    if loads and loads[0][5].get("names"):
        first = loads[0][5]
        m["tree_index.bytes_per_name"] = ((first["rss_mb_after"] - first["rss_mb_before"])
                                          * 1048576.0 / first["names"])
    m["tree_index.modify_ms"] = mean(dur_ms(s) for s in in_window if s[0] == "tree.modify")
    m["tree_index.persist_ms"] = mean(dur_ms(s) for s in in_window
                                      if s[0] == "tables.write_metrics")

    # sources.tables: the data table on disk at the end of the run
    data_files, data_bytes = 0, 0
    for root, _dirs, files in os.walk(ctx.data_path):
        for f in files:
            if f.endswith(".parquet"):
                data_files += 1
                data_bytes += os.path.getsize(os.path.join(root, f))
    m["tables.data_files"] = data_files
    if data_files:
        from graphouse_spark.sources.tables import read_data

        m["tables.bytes_per_point"] = data_bytes / read_data(ctx.spark, ctx.data_path).count()

    if ingest is not None:
        m.update(streaming_metrics(ingest, in_window, jobs))
    return {k: (v, UNITS[k]) for k, v in m.items()}


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def streaming_metrics(ingest, in_window: list, jobs: list) -> dict:
    progress, bursts, first_batch = ingest
    batches = [p for bid, p in sorted(progress.batches.items())
               if bid >= first_batch and p["numInputRows"] > 0]
    m = {}
    if not batches:
        return m
    rows = [p["numInputRows"] for p in batches]
    dur = [p["durationMs"] for p in batches]
    m["streaming.batches"] = len(batches)
    m["streaming.rows_per_batch"] = mean(rows)
    m["streaming.trigger_ms"] = mean(d.get("triggerExecution", 0) for d in dur)
    m["streaming.add_batch_ms"] = mean(d.get("addBatch", 0) for d in dur)
    m["streaming.offsets_ms"] = mean(d.get("latestOffset", 0) + d.get("commitOffsets", 0)
                                     for d in dur)
    m["streaming.wal_commit_ms"] = mean(d.get("walCommit", 0) for d in dur)
    starts = sorted(_epoch(p["timestamp"]) for p in batches)
    waits = []
    for b in bursts:
        later = [t for t in starts if t >= b["sent_wall"]]
        if later:
            waits.append((later[0] - b["sent_wall"]) * 1000.0)
    m["streaming.trigger_wait_ms"] = mean(waits)
    m["graphite_source.lines_received"] = sum(rows)
    m["graphite_source.backlog_lines_max"] = max(rows)

    batch_spans = [s for s in in_window if s[0] == "ingest.batch"]
    m["ingest.batch_ms"] = mean(dur_ms(s) for s in batch_spans)
    m["ingest.write_data_ms"] = mean(dur_ms(s) for s in in_window
                                     if s[0] == "ingest.write_data")
    m["ingest.write_metrics_ms"] = mean(dur_ms(s) for s in in_window
                                        if s[0] == "ingest.write_metrics")
    # the resolved statuses (latest_status over the metrics table) reach
    # the ban filter and the new-name anti-join as broadcasts: the jobs
    # tagged "broadcast exchange" inside the batch
    resolve = []
    for s in batch_spans:
        inside = [(j["submitted"], j["completed"]) for j in jobs
                  if j["submitted"] and j["completed"] and s[1] <= j["submitted"] <= s[2]
                  and "broadcast exchange" in j["tags"]]
        resolve.append(union_ms(inside))
    m["ingest.status_resolve_ms"] = mean(resolve)
    m["ingest.new_names_per_batch"] = sum(len(b["new"]) for b in bursts) / len(batches)
    return m

