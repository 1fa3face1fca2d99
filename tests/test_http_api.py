"""HTTP shell: the graphite-web wire contract over a live server."""

import json
import urllib.parse
import urllib.request

import pytest
from pyspark.sql import functions as F

from graphouse_spark.api.http import start_http_server
from graphouse_spark.api.service import GraphouseService
from graphouse_spark.retention import CombinedRetentionProvider, MetricRetention, MetricRetentionConfig
from graphouse_spark.sources.graphite import parse_lines
from graphouse_spark.streaming.ingest import IngestConfig, ingest_batch

BASE = 1_542_199_500


def post(port, path, **form):
    data = urllib.parse.urlencode(form).encode()
    req = urllib.request.Request(f"http://127.0.0.1:{port}{path}", data=data, method="POST")
    try:
        with urllib.request.urlopen(req, timeout=30) as resp:
            return resp.status, resp.read().decode()
    except urllib.error.HTTPError as e:
        return e.code, e.read().decode()


def get(port, path):
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}", timeout=30) as resp:
            return resp.status, resp.read().decode()
    except urllib.error.HTTPError as e:
        return e.code, e.read().decode()


@pytest.fixture(scope="module")
def server(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("http")
    cfg = IngestConfig(str(tmp / "data"), str(tmp / "metrics"), str(tmp / "ckpt"))
    lines = [f"one_min.srv{j}.cpu {v}.0 {BASE + i * 60}" for j in (1, 2) for i, v in enumerate([1, 2, 3])]
    raw = spark.createDataFrame([(l,) for l in lines], "value string")
    ingest_batch(parse_lines(raw, updated=F.lit(BASE)), cfg, known_names=None)
    provider = CombinedRetentionProvider(
        [MetricRetentionConfig(".*", True, MetricRetention("avg", {0: 60}))]
    )
    svc = GraphouseService(spark, cfg.data_path, cfg.metrics_path, provider)
    http = start_http_server(svc)
    port = http.server_address[1]
    yield svc, http, port
    http.shutdown()


def test_503_before_load_then_200(server):
    svc, http, port = server
    code, body = get(port, "/metricTreeState")
    assert code == 503
    code, _ = post(port, "/search", query="*")
    assert code == 503
    svc.load_tree()
    code, body = get(port, "/metricTreeState")
    assert (code, body) == (200, "LOADED")


def test_search_and_metric_data_wire_contract(server):
    svc, http, port = server
    if not svc._loaded:
        svc.load_tree()
    code, body = post(port, "/search", query="one_min.*")
    assert code == 200
    assert body == "one_min.srv1.\none_min.srv2."

    code, body = post(
        port, "/metricData",
        metrics="one_min.srv1.cpu,one_min.srv2.cpu",
        startSecond=str(BASE), endSecond=str(BASE + 180),
    )
    assert code == 200
    payload = json.loads(body)
    assert payload["one_min.srv1.cpu"]["points"] == [1.0, 2.0, 3.0]
    assert payload["one_min.srv1.cpu"]["step"] == 60


def test_ban_approve_flow(server):
    svc, http, port = server
    if not svc._loaded:
        svc.load_tree()
    # the servlet's parameter is "name" (MetricSearchServlet.java:116)
    code, body = post(port, "/ban", name="one_min.srv2.")
    assert (code, body) == (200, "one_min.srv2.")
    code, _ = post(port, "/ban")  # missing name -> 400
    assert code == 400
    _, body = post(port, "/search", query="one_min.*")
    assert body == "one_min.srv1."
    post(port, "/approve", metric="one_min.srv2.")
    _, body = post(port, "/search", query="one_min.*")
    assert body == "one_min.srv1.\none_min.srv2."


def test_plugin_wire_shape_start_end_in_query_string(server):
    """graphouse.py:78-88 sends start/end/reqKey as QUERY params and the
    metrics csv as the form body — the authoritative consumer shape."""
    svc, http, port = server
    if not svc._loaded:
        svc.load_tree()
    path = f"/metricData?start={BASE}&end={BASE + 180}&reqKey=test-123"
    code, body = post(port, path, metrics="one_min.srv1.cpu")
    assert code == 200
    payload = json.loads(body)
    assert payload["one_min.srv1.cpu"]["points"] == [1.0, 2.0, 3.0]

    code, _ = post(port, f"/metricData?start={BASE}&end={BASE + 60}")  # no metrics
    assert code == 400

    svc.max_metrics_per_query = 1
    try:
        code, body = post(port, f"/metricData?start={BASE}&end={BASE + 60}",
                          metrics="one_min.srv1.cpu,one_min.srv2.cpu")
        assert code == 413 and "max 1" in body
    finally:
        svc.max_metrics_per_query = -1


def test_get_search_and_multi_modify_report(server):
    svc, http, port = server
    if not svc._loaded:
        svc.load_tree()
    # GET /search mirrors POST (MetricSearchServlet serves both verbs)
    code, body = get(port, "/search?query=" + urllib.parse.quote("one_min.*"))
    assert code == 200 and "one_min.srv1." in body

    # multiHide emits the reference's report: header, names, total count
    code, body = get(port, "/multiHide?query=" + urllib.parse.quote("one_min.srv2.cpu"))
    assert code == 200
    assert body.startswith("Status changed to HIDDEN:\n\n")
    assert "one_min.srv2.cpu" in body
    assert body.rstrip().endswith("Total count: 1")
    _, visible = post(port, "/search", query="one_min.srv2.*")
    assert visible == ""

    # hidden nodes still appear in the cached (diagnostic) search
    code, body = get(port, "/searchCachedMetrics?query=" + urllib.parse.quote("one_min.srv2.*"))
    assert code == 200 and "one_min.srv2.cpu" in body

    code, body = get(port, "/multiBan")  # missing query
    assert code == 400
    post(port, "/multiApprove", query="one_min.srv2.cpu")  # restore visibility


def test_bad_requests(server):
    svc, http, port = server
    if not svc._loaded:
        svc.load_tree()
    code, _ = post(port, "/metricData", metrics="a.b.c")  # missing range
    assert code == 400
    code, _ = post(port, "/metricData", metrics="a.b.c", startSecond="x", endSecond="y")
    assert code == 400
    code, _ = get(port, "/nope")
    assert code == 404


def test_get_modify_routes(server):
    # the reference serves /ban /approve /hide over GET with the 'name'
    # query parameter (MetricSearchServlet.doGet)
    svc, http, port = server
    if not svc._loaded:
        svc.load_tree()
    code, body = get(port, "/ban?name=one_min.srv1.cpu")
    assert (code, body) == (200, "one_min.srv1.cpu")
    _, body = post(port, "/search", query="one_min.srv1.*")
    assert "one_min.srv1.cpu" not in body
    code, body = get(port, "/approve?name=one_min.srv1.cpu")
    assert (code, body) == (200, "one_min.srv1.cpu")
    _, body = post(port, "/search", query="one_min.srv1.*")
    assert "one_min.srv1.cpu" in body
    code, _ = get(port, "/hide?name=")
    assert code == 400


def test_req_key_scopes_spark_job_group(server, spark):
    """reqKey becomes the Spark job group for the request's jobs
    (cancellation parity with MetricDataServiceServlet); the local
    property is cleared afterwards and results are unaffected."""
    svc, http, port = server
    if not svc._loaded:
        svc.load_tree()
    with_key = svc.metric_data(["one_min.srv1.cpu"], BASE, BASE + 180,
                               req_key="rk-42")
    without = svc.metric_data(["one_min.srv1.cpu"], BASE, BASE + 180)
    assert with_key == without
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
    svc.cancel_request("rk-42")  # no-op on a finished group, must not raise

    # and over the wire
    path = f"/metricData?start={BASE}&end={BASE + 180}&reqKey=rk-43"
    code, body = post(port, path, metrics="one_min.srv1.cpu")
    assert code == 200
    assert json.loads(body)["one_min.srv1.cpu"]["points"] == [1.0, 2.0, 3.0]


def test_render_endpoint(server):
    """/render evaluates the full target expression engine-side and
    returns graphite's [{"target", "datapoints": [[v, ts], ...]}]."""
    svc, http, port = server
    if not svc._loaded:
        svc.load_tree()
    # raw series: both metrics, three points each
    code, body = get(port, f"/render?target=one_min.*.cpu&from={BASE}&until={BASE + 180}")
    assert code == 200
    out = json.loads(body)
    assert [s["target"] for s in out] == ["one_min.srv1.cpu", "one_min.srv2.cpu"]
    assert out[0]["datapoints"] == [[1.0, BASE], [2.0, BASE + 60], [3.0, BASE + 120]]
    # a function tree: sumSeries collapses both series into one
    tgt = urllib.parse.quote("sumSeries(one_min.*.cpu)")
    code, body = get(port, f"/render?target={tgt}&from={BASE}&until={BASE + 180}")
    assert code == 200
    out = json.loads(body)
    assert len(out) == 1 and out[0]["target"] == "sumSeries"
    assert out[0]["datapoints"] == [[2.0, BASE], [4.0, BASE + 60], [6.0, BASE + 120]]
    # multiple target params, graphite style
    code, body = get(
        port,
        f"/render?target=one_min.srv1.cpu&target={tgt}&from={BASE}&until={BASE + 180}",
    )
    assert code == 200
    assert [s["target"] for s in json.loads(body)] == ["one_min.srv1.cpu", "sumSeries"]
    # contract errors
    code, _ = get(port, f"/render?from={BASE}&until={BASE + 180}")
    assert code == 400
    code, _ = get(port, f"/render?target=x&from={BASE}&until={BASE + 180}&format=png")
    assert code == 400
    # unknown function names read as 400 (ValueError from the registry)
    bad = urllib.parse.quote("noSuchFn(one_min.srv1.cpu)")
    code, _ = get(port, f"/render?target={bad}&from={BASE}&until={BASE + 180}")
    assert code == 400


def test_render_brace_glob_targets(server):
    """A {a,b} brace group is one path: its comma lists alternatives,
    it does not split the call's arguments."""
    from graphouse_spark.functions.target import Call, Path, parse_target

    assert parse_target("one_min.{srv1,srv2}.cpu") == Path("one_min.{srv1,srv2}.cpu")
    assert parse_target("sumSeries(one_min.{srv1,srv2}.cpu)") == Call(
        "sumSeries", [Path("one_min.{srv1,srv2}.cpu")])
    svc, http, port = server
    if not svc._loaded:
        svc.load_tree()
    raw = svc.render("one_min.{srv1,srv2}.cpu", BASE, BASE + 180)
    assert [s["target"] for s in raw] == ["one_min.srv1.cpu", "one_min.srv2.cpu"]
    tgt = urllib.parse.quote("sumSeries(one_min.{srv1,srv2}.cpu)")
    code, body = get(port, f"/render?target={tgt}&from={BASE}&until={BASE + 180}")
    assert code == 200
    out = json.loads(body)
    assert len(out) == 1
    assert out[0]["datapoints"] == [[2.0, BASE], [4.0, BASE + 60], [6.0, BASE + 120]]


def test_metrics_find_endpoint(server):
    """/metrics/find serves the graphite-web finder JSON directly."""
    svc, http, port = server
    if not svc._loaded:
        svc.load_tree()
    code, body = get(port, "/metrics/find?query=one_min.*")
    assert code == 200
    nodes = json.loads(body)
    by_id = {n["id"]: n for n in nodes}
    assert "one_min.srv1" in by_id and by_id["one_min.srv1"]["leaf"] == 0
    assert by_id["one_min.srv1"]["expandable"] == 1
    assert by_id["one_min.srv1"]["text"] == "srv1"
    code, body = get(port, "/metrics/find?query=one_min.srv1.*")
    leaf = json.loads(body)
    assert [n["id"] for n in leaf] == ["one_min.srv1.cpu"]
    assert leaf[0]["leaf"] == 1 and leaf[0]["allowChildren"] == 0
    code, _ = get(port, "/metrics/find")
    assert code == 400


def test_render_relative_time_maxdatapoints_explain(server):
    svc, http, port = server
    if not svc._loaded:
        svc.load_tree()
    # relative from/until against a pinned now
    now = BASE + 180
    code, body = get(
        port, f"/render?target=one_min.srv1.cpu&from=-3min&until=now&now={now}"
    )
    assert code == 200
    out = json.loads(body)
    assert out[0]["datapoints"] == [[1.0, BASE], [2.0, BASE + 60], [3.0, BASE + 120]]
    # maxDataPoints consolidates in the engine: 3 points -> 2 buckets
    code, body = get(
        port,
        f"/render?target=one_min.srv1.cpu&from={BASE}&until={BASE + 180}&maxDataPoints=2",
    )
    assert code == 200
    pts = json.loads(body)[0]["datapoints"]
    assert len(pts) == 2
    assert pts[0][0] == 1.5  # avg(1, 2) in the first 120s bucket
    assert pts[1][0] == 3.0
    # bad time spec is a 400
    code, _ = get(port, "/render?target=x&from=yesterday&until=now")
    assert code == 400
    # /explain returns a formatted physical plan, not data
    code, body = get(
        port, f"/explain?target=sumSeries(one_min.*.cpu)&from={BASE}&until={BASE + 180}"
    )
    assert code == 200
    assert "Physical Plan" in body and "HashAggregate" in body


def test_render_csv_format(server):
    svc, http, port = server
    if not svc._loaded:
        svc.load_tree()
    code, body = get(
        port,
        f"/render?target=one_min.srv1.cpu&from={BASE}&until={BASE + 180}&format=csv",
    )
    assert code == 200
    lines = body.strip().split("\n")
    assert len(lines) == 3
    assert lines[0] == "one_min.srv1.cpu,2018-11-14 12:45:00,1.0"
    code, _ = get(port, f"/render?target=x&from={BASE}&until={BASE+60}&format=png")
    assert code == 400


def get_bytes(port, path):
    with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}", timeout=30) as resp:
        return resp.status, resp.read()


def test_render_pickle_remote_protocol(server):
    """format=pickle speaks graphite-web's CLUSTER_SERVERS member
    protocol: a pickled list of re-gridded
    (name, start, end, step, values) series dicts."""
    import pickle

    svc, http, port = server
    if not svc._loaded:
        svc.load_tree()
    code, raw = get_bytes(
        port,
        f"/render?target=one_min.srv1.cpu&from={BASE}&until={BASE + 180}&format=pickle",
    )
    assert code == 200
    [s] = pickle.loads(raw)
    assert s["name"] == "one_min.srv1.cpu"
    assert s["step"] == 60 and s["start"] == BASE and s["end"] == BASE + 180
    assert s["values"] == [1.0, 2.0, 3.0]
    assert (s["end"] - s["start"]) // s["step"] == len(s["values"])


def test_metrics_find_pickle_remote_protocol(server):
    import pickle

    svc, http, port = server
    if not svc._loaded:
        svc.load_tree()
    code, raw = get_bytes(port, "/metrics/find?query=one_min.*&format=pickle")
    assert code == 200
    nodes = pickle.loads(raw)
    assert {n["metric_path"] for n in nodes} == {"one_min.srv1", "one_min.srv2"}
    assert all(n["isLeaf"] is False and n["intervals"] == [] for n in nodes)
    code, raw = get_bytes(port, "/metrics/find?query=one_min.srv1.cpu&format=pickle")
    [leaf] = pickle.loads(raw)
    assert leaf["isLeaf"] is True and leaf["metric_path"] == "one_min.srv1.cpu"


def test_query_log_records_requests(server):
    """system.query_log analog: served and FAILED requests both log,
    with route/detail/duration/rows, readable over HTTP and as a
    DataFrame."""
    svc, http, port = server
    if not svc._loaded:
        svc.load_tree()
    before = len(svc.query_log.entries())
    code, _ = get(port, f"/render?target=one_min.srv1.cpu&from={BASE}&until={BASE + 180}")
    assert code == 200
    svc.metric_data(["one_min.*.cpu"], BASE, BASE + 180, now_seconds=BASE + 180)
    entries = svc.query_log.entries()
    assert len(entries) == before + 2
    render_e, md_e = entries[-2], entries[-1]
    assert render_e["route"] == "/render" and render_e["status"] == "ok"
    assert render_e["rows"] == 3 and render_e["duration_ms"] >= 0
    assert md_e["route"] == "/metricData" and md_e["rows"] == 2
    # failures log too, with the error class as status
    with pytest.raises(ValueError):
        svc.render(["bogusFunction(one_min.srv1.cpu)"], BASE, BASE + 180)
    assert svc.query_log.entries()[-1]["status"] == "ValueError"
    # HTTP view + limit
    code, body = get(port, "/query_log?limit=2")
    assert code == 200
    tail = json.loads(body)
    assert len(tail) == 2 and tail[-1]["status"] == "ValueError"
    # DataFrame lift keeps schema even when empty
    frame = svc.query_log.frame(svc.spark)
    assert frame.count() == len(svc.query_log.entries())
    from graphouse_spark.querylog import QueryLog
    empty = QueryLog().frame(svc.spark)
    assert empty.count() == 0 and "duration_ms" in empty.columns


def test_explain_estimate(server, spark, tmp_path):
    """CH EXPLAIN ESTIMATE parity: scan cost from the skip indexes
    without executing; honestly unknown when no index is built."""
    svc, http, port = server
    if not svc._loaded:
        svc.load_tree()
    # no index on the fixture service -> indexed: false over HTTP
    code, body = get(port, f"/explain?target=one_min.srv1.cpu&from={BASE}&until={BASE+180}&estimate=1")
    assert code == 200
    est = json.loads(body)
    assert est["indexed"] is False and est["series"] == 1
    assert est["rows_estimate"] is None

    # with zonemap + bloom built, the estimate prunes and bounds rows
    from graphouse_spark.api.service import GraphouseService
    from graphouse_spark.maintenance import run_bloom_update, run_index_update

    ip = str(tmp_path / "zm")
    run_index_update(spark, svc.data_path, ip)
    run_bloom_update(spark, svc.data_path, ip)
    svc2 = GraphouseService(spark, svc.data_path, svc.metrics_path,
                            svc.provider, index_path=ip)
    svc2.load_tree()
    est = svc2.estimate_target("one_min.srv1.cpu", BASE, BASE + 180)
    assert est["indexed"] is True
    assert 0 < est["files_scanned"] <= est["files_total"]
    assert est["rows_estimate"] >= 3  # upper bound covers the 3 real points
    # a ghost target estimates zero scan
    est0 = svc2.estimate_target("one_min.ghost.cpu", BASE, BASE + 180)
    assert est0["series"] == 0 and est0["files_scanned"] == 0
    assert est0["rows_estimate"] == 0


def test_ch_sql_http_interface(server):
    """CH HTTP-interface analog: ad-hoc CH-dialect SELECT over
    graphite.data / graphite.metrics, TSV and FORMAT JSON shapes,
    readonly guard, analyzer errors as 400 text."""
    svc, http, port = server
    if not svc._loaded:
        svc.load_tree()
    q = urllib.parse.quote(
        "SELECT metric, argMax(value, updated) AS v FROM graphite.data "
        f"WHERE timestamp = {BASE} GROUP BY metric ORDER BY metric")
    code, body = get(port, f"/query?query={q}")
    assert code == 200
    lines = body.strip().split("\n")
    assert lines[0].split("\t") == ["one_min.srv1.cpu", "1.0"]
    assert len(lines) == 2

    # CH scalar spellings resolve through the dialect shim
    q2 = urllib.parse.quote(
        "SELECT toStartOfFiveMinutes(timestamp) AS b, count(*) AS n "
        "FROM graphite.data GROUP BY b ORDER BY b")
    code, body = get(port, f"/query?query={q2}&default_format=JSON")
    assert code == 200
    payload = json.loads(body)
    assert payload["rows"] >= 1
    assert {m["name"] for m in payload["meta"]} == {"b", "n"}
    assert sum(r["n"] for r in payload["data"]) == 6

    # readonly guard + analyzer errors
    code, _ = get(port, "/query?query=" + urllib.parse.quote("DROP TABLE data"))
    assert code == 400
    code, _ = get(port, "/query?query=" + urllib.parse.quote("SELECT 1; SELECT 2"))
    assert code == 400
    code, body = get(port, "/query?query=" + urllib.parse.quote("SELECT nope FROM data"))
    assert code == 400
    # the served queries landed in the query log
    assert any(e["route"] == "/query" for e in svc.query_log.entries())


def test_ch_sql_post_raw_body(server):
    svc, http, port = server
    if not svc._loaded:
        svc.load_tree()
    sql = f"SELECT count(*) FROM graphite.data WHERE timestamp >= {BASE}"
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/query", data=sql.encode(), method="POST")
    with urllib.request.urlopen(req, timeout=30) as resp:
        assert resp.status == 200
        assert resp.read().decode().strip() == "6"


def test_render_query_cache(server):
    """CH use_query_cache analog: with a TTL set, an identical /render
    repeat serves from memory (query_log shows 'cached'), results are
    identical, and mutation of a served copy cannot poison the cache."""
    svc, http, port = server
    if not svc._loaded:
        svc.load_tree()
    svc.render_cache_ttl = 60
    try:
        svc._render_cache.clear()
        first = svc.render("sumSeries(one_min.*.cpu)", BASE, BASE + 600)
        second = svc.render("sumSeries(one_min.*.cpu)", BASE, BASE + 600)
        assert first == second
        assert svc.query_log.entries()[-1]["status"] == "cached"
        assert svc.query_log.entries()[-2]["status"] == "ok"
        # served copies are isolated from the cache
        second[0]["datapoints"].clear()
        third = svc.render("sumSeries(one_min.*.cpu)", BASE, BASE + 600)
        assert third == first
        # different window -> real execution
        svc.render("sumSeries(one_min.*.cpu)", BASE, BASE + 660)
        assert svc.query_log.entries()[-1]["status"] == "ok"
    finally:
        svc.render_cache_ttl = 0
        svc._render_cache.clear()


def test_render_post_form(server):
    """grafana's graphite datasource POSTs the render form (repeated
    target fields, urlencoded body) — same result as GET."""
    svc, http, port = server
    if not svc._loaded:
        svc.load_tree()
    body = urllib.parse.urlencode(
        [("target", "one_min.srv1.cpu"), ("target", "one_min.srv2.cpu"),
         ("from", str(BASE)), ("until", str(BASE + 180))])
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/render", data=body.encode(), method="POST",
        headers={"Content-Type": "application/x-www-form-urlencoded"})
    with urllib.request.urlopen(req, timeout=30) as resp:
        assert resp.status == 200
        series = json.loads(resp.read().decode())
    assert {s["target"] for s in series} == {"one_min.srv1.cpu", "one_min.srv2.cpu"}
    _, get_body = get(
        port,
        f"/render?target=one_min.srv1.cpu&target=one_min.srv2.cpu&from={BASE}&until={BASE + 180}")
    assert sorted(series, key=str) == sorted(json.loads(get_body), key=str)
    # missing targets in a POST body -> 400, not a crash
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/render", data=b"from=0", method="POST")
    try:
        urllib.request.urlopen(req, timeout=30)
        raised = False
    except urllib.error.HTTPError as e:
        raised = e.code == 400
    assert raised


def test_query_readonly_guard_plan_level(server, tmp_path):
    """The readonly guard validates the parsed plan, so the text-level
    bypasses are closed: CTE-prefixed DML, backtick-quoted reflect,
    backtick-quoted file-format tables, IDENTIFIER() smuggling — and
    string literals containing 'graphite.data' survive the rewrite."""
    svc, http, port = server
    if not svc._loaded:
        svc.load_tree()
    victim = tmp_path / "overwrite-target"
    attacks = [
        # CTE-prefixed DML passed the old SELECT/WITH head check
        "WITH t AS (SELECT metric FROM graphite.data) "
        f"INSERT OVERWRITE DIRECTORY '{victim}' USING parquet SELECT * FROM t",
        # backtick-quoted function dodged the unquoted-word regex
        "SELECT `reflect`('java.lang.System', 'getProperty', 'user.dir')",
        "SELECT `java_method`('java.lang.System', 'getProperty', 'user.dir')",
        # backtick-quoted file-format table dodged the format regex
        "SELECT * FROM `text`.`/etc/passwd`",
        "SELECT * FROM text.`/etc/passwd`",
        # IDENTIFIER() would smuggle a relation name through a literal
        "SELECT * FROM IDENTIFIER('text.`/etc/passwd`')",
        # any unregistered relation is refused outright
        "SELECT * FROM parquet.`/root/testdata/sf0.001/events.parquet`",
        "SELECT * FROM spark_catalog.default.whatever",
        # newline-in-backtick identifiers could forge plan-tree lines
        "SELECT `a\nCTE [x]` FROM graphite.data",
    ]
    for q in attacks:
        code, body = get(port, "/query?query=" + urllib.parse.quote(q))
        assert code == 400, (q, body)
    assert not victim.exists()

    # literals are no longer rewritten: WHERE metric = 'graphite.data.x'
    # must compare against the untouched literal (old code corrupted it
    # to 'data.x' and, with data matching, returned wrong rows)
    q = ("SELECT count(*) AS n FROM graphite.data "
         "WHERE metric = 'graphite.data.x'")
    code, body = get(port, f"/query?query={urllib.parse.quote(q)}")
    assert code == 200 and body.strip() == "0"

    # legitimate shapes still serve: CTEs, comments, argMax rewrite,
    # quoted identifiers, EXPLAIN
    q = ("WITH top AS (SELECT metric, argMax(value, updated) AS v "
         "FROM graphite.data GROUP BY metric) "
         "SELECT count(*) AS n FROM top -- trailing comment with 'quote")
    code, body = get(port, f"/query?query={urllib.parse.quote(q)}")
    assert code == 200 and int(body.strip()) >= 1
    q = "EXPLAIN SELECT metric FROM graphite.data WHERE value > 0"
    code, body = get(port, f"/query?query={urllib.parse.quote(q)}")
    assert code == 200 and "Physical Plan" in body


def test_ping_and_monitoring_endpoints(server):
    """MonitoringServlet parity: /ping serves 503 while MetricTreeInit
    is critical (pre-bootstrap) so load balancers keep the daemon out
    of rotation, 200 with the aggregate text after; /monitoring
    reports the same unit set and supports warnings (still 200)."""
    svc, _, _ = server
    # fresh service over the same lake -> guaranteed pre-bootstrap state
    svc2 = GraphouseService(svc.spark, svc.data_path, svc.metrics_path,
                            svc.provider)
    http2 = start_http_server(svc2)
    port2 = http2.server_address[1]
    try:
        code, body = get(port2, "/ping")
        assert code == 503 and body == "CRIT {MetricTreeInit: Initializing}"
        code, body = get(port2, "/monitoring")
        assert code == 503 and "MetricTreeInit" in body

        svc2.load_tree()
        code, body = get(port2, "/ping")
        assert (code, body) == (200, "OK")
        code, body = get(port2, "/monitoring")
        assert (code, body) == (200, "OK")

        # a WARNING unit degrades the text but keeps HTTP 200
        # (MonitoringServlet maps only CRITICAL to 503)
        from graphouse_spark.monitoring import MonitoringUnit

        lag = MonitoringUnit("TreeUpdateLag")
        lag.warning("updated 9m ago")
        svc2.monitoring.add_unit(lag)
        code, body = get(port2, "/monitoring")
        assert code == 200 and body == "WARN {TreeUpdateLag: updated 9m ago}"
        code, body = get(port2, "/ping")
        assert (code, body) == (200, "OK")  # ping monitoring unaffected
    finally:
        http2.shutdown()


def test_render_refuses_over_limit_glob(server):
    """A wide-glob /render that expands past max-metrics-per-query is
    REFUSED up front (HTTP 413, the reference's posture) instead of
    attempting an unbounded fetch-and-collect."""
    svc, _, _ = server
    svc2 = GraphouseService(svc.spark, svc.data_path, svc.metrics_path,
                            svc.provider, max_metrics_per_query=1)
    svc2.load_tree()
    http2 = start_http_server(svc2)
    port2 = http2.server_address[1]
    try:
        code, body = get(port2, "/render?target=one_min.*.cpu&from=0&until=2000000000")
        assert code == 413 and "Too many metrics" in body
        # glob inside /metricData patterns expands past the cap too,
        # even though the POSTed list itself is short
        code, body = post(port2, "/metricData?start=0&end=2000000000",
                          metrics="one_min.*.cpu")
        assert code == 413 and "Too many metrics" in body
        # a single series still renders fine under the cap
        code, body = get(port2, "/render?target=one_min.srv1.cpu"
                         f"&from={BASE - 60}&until={BASE + 600}")
        assert code == 200 and json.loads(body)[0]["target"] == "one_min.srv1.cpu"
    finally:
        http2.shutdown()


def test_on_record_cache_diagnostics(server):
    """OnRecordMetricCacheServlet parity: /checkOnRecordCache traces a
    metric's per-level write-path state (ban section + tree section);
    /printBannedCacheState reports node/ban totals; both 503 before
    bootstrap and 400 without the metricName parameter."""
    svc, _, _ = server
    svc2 = GraphouseService(svc.spark, svc.data_path, svc.metrics_path,
                            svc.provider)
    http2 = start_http_server(svc2)
    port2 = http2.server_address[1]
    try:
        code, _ = get(port2, "/checkOnRecordCache?metricName=one_min.srv1.cpu")
        assert code == 503
        code, _ = get(port2, "/printBannedCacheState")
        assert code == 503
        svc2.load_tree()
        code, body = get(port2, "/checkOnRecordCache")
        assert code == 400 and "Usage" in body
        code, body = get(port2, "/checkOnRecordCache?metricName=one_min.srv1.cpu")
        assert code == 200
        # earlier tests may have re-statused this metric in the shared
        # lake; assert the full per-level trace, not a specific status
        assert "Tree cache:" in body
        tree_part = body.split("Tree cache:")[1]
        assert "one_min. " in tree_part and "one_min.srv1. " in tree_part
        assert "one_min.srv1.cpu " in tree_part and "NOT_FOUND" not in tree_part
        code, body = get(port2, "/checkOnRecordCache?metricName=one_min.nope.cpu")
        assert code == 200 and "one_min.nope. NOT_FOUND" in body

        # ban a subtree: the trace's ban section reports the ancestor,
        # and the cache-state counters reflect it
        svc2.modify("one_min.srv2.", "BAN")
        code, body = get(port2, "/checkOnRecordCache?metricName=one_min.srv2.cpu")
        assert code == 200
        head = body.split("Tree cache:")[0]
        assert "one_min.srv2. BAN" in head
        code, body = get(port2, "/printBannedCacheState")
        assert code == 200
        assert body.startswith("Total nodes = ")
        import re as _re
        banned = int(_re.search(r"Banned metrics count = (\d+)", body).group(1))
        assert banned >= 1
    finally:
        http2.shutdown()


def test_load_tree_auto_selects_lazy_above_threshold(server):
    """Above AUTO_LAZY_THRESHOLD names, load_tree() switches to the
    lazy tree (O(1) bootstrap, dirs load on first touch) instead of
    collecting millions of rows driver-side — and still serves."""
    from graphouse_spark.tree_index import LazyMetricTree

    svc, _, _ = server
    svc2 = GraphouseService(svc.spark, svc.data_path, svc.metrics_path,
                            svc.provider)
    svc2.AUTO_LAZY_THRESHOLD = 1  # any real lake exceeds this
    n = svc2.load_tree()
    assert n > 1
    assert isinstance(svc2.tree, LazyMetricTree)
    assert svc2._loaded
    assert svc2.search("one_min.*").startswith("one_min.")
    # health endpoint reflects the completed bootstrap
    assert svc2.ping.http_response() == (200, "OK")

    # under the threshold: the eager tree as before
    svc3 = GraphouseService(svc.spark, svc.data_path, svc.metrics_path,
                            svc.provider)
    svc3.load_tree()
    assert not isinstance(svc3.tree, LazyMetricTree)


def test_query_serves_system_query_log(server):
    """CH admins query system.query_log with plain SQL; the /query
    surface serves the engine's ring through the same spelling."""
    svc, _, port = server
    if not svc._loaded:
        svc.load_tree()
    # generate at least one logged request
    get(port, "/query?query=" + urllib.parse.quote(
        "SELECT count(*) AS n FROM graphite.data"))
    q = ("SELECT route, count(*) AS n FROM system.query_log "
         "GROUP BY route ORDER BY n DESC")
    code, body = get(port, f"/query?query={urllib.parse.quote(q)}")
    assert code == 200
    routes = [line.split("\t")[0] for line in body.strip().splitlines()]
    assert "/query" in routes


def test_load_tree_counts_names_not_status_churn(spark, tmp_path_factory):
    """The metrics table is append-only (every status flip adds a
    row); the auto-lazy switch must compare the threshold against
    DISTINCT NAMES, or a churny deployment degrades to lazy serving
    far below the 10M-name envelope (round-4 advisory)."""
    import datetime

    from graphouse_spark.sources.tables import write_metrics
    from graphouse_spark.tree_index import LazyMetricTree

    tmp = tmp_path_factory.mktemp("churn")
    upd = datetime.datetime(2020, 1, 1)
    rows = []
    # 3 real names, 10 status-change appends each = 30 rows
    for name in ("a.x", "a.y", "a.z"):
        for i in range(10):
            status = "SIMPLE" if i % 2 == 0 else "BAN"
            rows.append((name, 2, "a.", status,
                         upd + datetime.timedelta(seconds=i)))
        rows.append(("a.", 1, "ROOT", "SIMPLE", upd))
    df = spark.createDataFrame(
        rows, "name string, level int, parent string, status string, "
              "updated timestamp")
    write_metrics(df, str(tmp / "metrics"), mode="overwrite")

    provider = CombinedRetentionProvider(
        [MetricRetentionConfig(".*", True, MetricRetention("avg", {0: 60}))]
    )
    svc = GraphouseService(spark, str(tmp / "data"), str(tmp / "metrics"),
                           provider)
    svc.AUTO_LAZY_THRESHOLD = 10  # 30 churn rows, only 6 real names
    svc.load_tree()
    assert not isinstance(svc.tree, LazyMetricTree)  # stayed eager


def test_query_final_and_with_fill(spark, tmp_path):
    """CH admin bread-and-butter spellings: ``FROM t FINAL`` resolves
    to the read-time LWW view (A1/W4 semantics — what FINAL means on
    the reference's Replacing tables) and ``ORDER BY ts WITH FILL``
    gap-fills the result with CH FillingTransform semantics; the
    readonly guard still rejects DML."""
    cfg = IngestConfig(str(tmp_path / "data"), str(tmp_path / "metrics"),
                       str(tmp_path / "ckpt"))

    def lines(rows, updated):
        raw = spark.createDataFrame([(l,) for l in rows], "value string")
        return parse_lines(raw, updated=F.lit(updated))

    ingest_batch(lines(["one_min.m.cpu 1.0 1000", "one_min.m.cpu 2.0 1120"], 100),
                 cfg, known_names=None)
    ingest_batch(lines(["one_min.m.cpu 9.0 1000"], 200), cfg, known_names=None)
    svc = GraphouseService(spark, cfg.data_path, cfg.metrics_path)

    # raw table keeps both versions; FINAL collapses to the LWW winner
    assert svc.sql("SELECT count(*) AS n FROM graphite.data "
                   "WHERE timestamp = 1000").strip() == "2"
    assert svc.sql("SELECT value FROM graphite.data FINAL "
                   "WHERE timestamp = 1000").strip() == "9.0"
    # alias forms both resolve
    assert svc.sql("SELECT d.value FROM graphite.data AS d FINAL "
                   "WHERE d.timestamp = 1000").strip() == "9.0"
    assert svc.sql("SELECT d.value FROM graphite.data FINAL d "
                   "WHERE d.timestamp = 1000").strip() == "9.0"
    # metrics FINAL: one resolved row per tree node
    assert svc.sql("SELECT count(*) AS n FROM graphite.metrics FINAL "
                   "WHERE name = 'one_min.m.cpu'").strip() == "1"

    # WITH FILL: missing grid points appear with type-default values
    out = svc.sql(
        "SELECT timestamp AS ts, max(value) AS v FROM graphite.data FINAL "
        "GROUP BY ts ORDER BY ts WITH FILL FROM 1000 TO 1240 STEP 60")
    assert out.splitlines() == [
        "1000\t9.0", "1060\t0.0", "1120\t2.0", "1180\t0.0"]
    # DESC fill between existing rows, no bounds
    out = svc.sql(
        "SELECT timestamp AS ts, max(value) AS v FROM graphite.data FINAL "
        "GROUP BY ts ORDER BY ts DESC WITH FILL STEP 60")
    assert out.splitlines() == ["1120\t2.0", "1060\t0.0", "1000\t9.0"]
    # LIMIT applies AFTER filling, as in CH
    out = svc.sql(
        "SELECT timestamp AS ts, max(value) AS v FROM graphite.data FINAL "
        "GROUP BY ts ORDER BY ts WITH FILL FROM 1000 TO 1240 STEP 60 LIMIT 2")
    assert out.splitlines() == ["1000\t9.0", "1060\t0.0"]
    # INTERPOLATE (col): fill rows carry the previous row's value
    out = svc.sql(
        "SELECT timestamp AS ts, max(value) AS v FROM graphite.data FINAL "
        "GROUP BY ts ORDER BY ts WITH FILL FROM 1000 TO 1240 STEP 60 "
        "INTERPOLATE (v)")
    assert out.splitlines() == [
        "1000\t9.0", "1060\t9.0", "1120\t2.0", "1180\t2.0"]
    # INTERPOLATE (col AS expr): CH expression form — evaluated over
    # the previous output row, chaining across consecutive fill rows
    out = svc.sql(
        "SELECT timestamp AS ts, max(value) AS v FROM graphite.data FINAL "
        "GROUP BY ts ORDER BY ts WITH FILL FROM 1000 TO 1240 STEP 60 "
        "INTERPOLATE (v AS v + 0.5)")
    assert out.splitlines() == [
        "1000\t9.0", "1060\t9.5", "1120\t2.0", "1180\t2.5"]
    # expression with a function call and a LIMIT after the clause
    out = svc.sql(
        "SELECT timestamp AS ts, max(value) AS v FROM graphite.data FINAL "
        "GROUP BY ts ORDER BY ts WITH FILL FROM 1000 TO 1300 STEP 60 "
        "INTERPOLATE (v AS round(v * 2, 1)) LIMIT 5")
    assert out.splitlines() == [
        "1000\t9.0", "1060\t18.0", "1120\t2.0", "1180\t4.0", "1240\t8.0"]
    # malformed entry is a user error, not a server fall-over
    with pytest.raises(ValueError, match="INTERPOLATE entries"):
        svc.sql("SELECT timestamp AS ts, max(value) AS v "
                "FROM graphite.data FINAL GROUP BY ts "
                "ORDER BY ts WITH FILL STEP 60 INTERPOLATE (1 + 2)")
    # a string literal mentioning the spelling is untouched (token-safe)
    out = svc.sql("SELECT 'ORDER BY ts WITH FILL' AS s")
    assert out.strip() == "ORDER BY ts WITH FILL"
    # guard posture unchanged
    with pytest.raises(ValueError):
        svc.sql("DROP TABLE data")
    with pytest.raises(ValueError):
        svc.sql("INSERT INTO data SELECT * FROM data "
                "ORDER BY timestamp WITH FILL")
    # INTERPOLATE expressions run through the SAME readonly guard as
    # the query body: JVM-reflection functions are rejected even when
    # spelled without string literals (concat(chr(...)) arguments),
    # and subqueries cannot reach unserved relations. Round-10 ADVICE.
    for bad in (
        "reflect(concat(chr(106)), concat(chr(97)))",
        "java_method(concat(chr(106)), concat(chr(97)))",
        "v + (SELECT count(*) FROM not_served)",
    ):
        with pytest.raises(ValueError,
                           match="not served|parse error"):
            svc.sql(
                "SELECT timestamp AS ts, max(value) AS v "
                "FROM graphite.data FINAL GROUP BY ts "
                "ORDER BY ts WITH FILL FROM 1000 TO 1240 STEP 60 "
                f"INTERPOLATE (v AS {bad})")
    # library-level defense-in-depth: gapfill itself bans the
    # reflection functions even when called without the HTTP guard
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)

    from graphouse_spark.operators.gapfill import stepped_fill_rows_expr

    _sch = StructType([StructField("ts", LongType()),
                       StructField("v", DoubleType())])
    with pytest.raises(ValueError, match="not served"):
        stepped_fill_rows_expr(
            spark, [(1000, 1.0), (1240, 2.0)], _sch,
            {"col": "ts", "desc": False, "from": None, "to": None,
             "step": 60, "interpolate": ["v"],
             "interpolate_exprs": {"v": "reflect(chr(106), chr(97))"},
             "limit": None})


def test_query_limit_by(spark, tmp_path):
    """CH ``LIMIT n BY col``: first n rows per distinct key in result
    order — the 'latest point per metric' admin spelling."""
    cfg = IngestConfig(str(tmp_path / "data"), str(tmp_path / "metrics"),
                       str(tmp_path / "ckpt"))
    rows = ["one_min.a.cpu 1.0 1000", "one_min.a.cpu 2.0 1060",
            "one_min.a.cpu 3.0 1120", "one_min.b.cpu 7.0 1000",
            "one_min.b.cpu 8.0 1060"]
    raw = spark.createDataFrame([(l,) for l in rows], "value string")
    ingest_batch(parse_lines(raw, updated=F.lit(100)), cfg, known_names=None)
    svc = GraphouseService(spark, cfg.data_path, cfg.metrics_path)

    out = svc.sql("SELECT metric, timestamp AS ts, value FROM graphite.data "
                  "ORDER BY metric, ts DESC LIMIT 2 BY metric")
    assert out.splitlines() == [
        "one_min.a.cpu\t1120\t3.0", "one_min.a.cpu\t1060\t2.0",
        "one_min.b.cpu\t1060\t8.0", "one_min.b.cpu\t1000\t7.0"]
    # trailing plain LIMIT applies AFTER the per-key cut
    out = svc.sql("SELECT metric, timestamp AS ts, value FROM graphite.data "
                  "ORDER BY metric, ts DESC LIMIT 1 BY metric LIMIT 1")
    assert out.splitlines() == ["one_min.a.cpu\t1120\t3.0"]
    # unknown key column -> clean error; literals stay untouched
    with pytest.raises(ValueError, match="LIMIT BY"):
        svc.sql("SELECT metric FROM graphite.data LIMIT 1 BY nope")
    assert svc.sql("SELECT 'x LIMIT 1 BY y' AS s").strip() == "x LIMIT 1 BY y"


def test_query_sample_clause(spark, tmp_path):
    """CH ``SAMPLE k``: fraction -> TABLESAMPLE PERCENT, integer ->
    TABLESAMPLE ROWS; composes with FINAL."""
    cfg = IngestConfig(str(tmp_path / "data"), str(tmp_path / "metrics"),
                       str(tmp_path / "ckpt"))
    rows = [f"one_min.s.cpu {i}.0 {1000 + 60 * i}" for i in range(50)]
    raw = spark.createDataFrame([(l,) for l in rows], "value string")
    ingest_batch(parse_lines(raw, updated=F.lit(100)), cfg, known_names=None)
    svc = GraphouseService(spark, cfg.data_path, cfg.metrics_path)

    n = int(svc.sql("SELECT count(*) AS n FROM graphite.data SAMPLE 5").strip())
    assert n == 5  # integer form: exactly n rows
    frac = int(svc.sql("SELECT count(*) AS n FROM graphite.data SAMPLE 0.5")
               .strip())
    assert 0 <= frac <= 50  # percent form: bernoulli sample
    combo = int(svc.sql("SELECT count(*) AS n FROM graphite.data FINAL "
                        "SAMPLE 10").strip())
    assert combo == 10
    assert svc.sql("SELECT 'data SAMPLE 5' AS s").strip() == "data SAMPLE 5"


def test_query_prewhere_and_format_clause(spark, tmp_path):
    """CH PREWHERE answers as WHERE (Catalyst owns the pushdown the CH
    hint requests); a trailing FORMAT <name> in the query text
    overrides the fmt parameter, as on the CH HTTP interface."""
    cfg = IngestConfig(str(tmp_path / "data"), str(tmp_path / "metrics"),
                       str(tmp_path / "ckpt"))
    raw = spark.createDataFrame(
        [("one_min.p.cpu 1.0 1000",), ("one_min.p.cpu 2.0 1060",)],
        "value string")
    ingest_batch(parse_lines(raw, updated=F.lit(100)), cfg, known_names=None)
    svc = GraphouseService(spark, cfg.data_path, cfg.metrics_path)

    out = svc.sql("SELECT value FROM graphite.data PREWHERE timestamp = 1060")
    assert out.strip() == "2.0"
    body = svc.sql("SELECT count(*) AS n FROM graphite.data FORMAT JSON")
    assert json.loads(body)["data"] == [{"n": 2}]
    assert svc.sql("SELECT count(*) AS n FROM graphite.data "
                   "FORMAT TabSeparated").strip() == "2"
    assert svc.sql("SELECT 'FORMAT JSON' AS s").strip() == "FORMAT JSON"


def test_query_combinator_aggregates(spark, tmp_path):
    """CH -If combinators and parameterized quantiles answer through
    /query: ``sumIf``/``countIf``/``avgIf`` become CASE-gated Spark
    aggregates, ``quantile(p)(x)``'s two-group syntax (unparseable by
    Spark) becomes percentile[_approx], ``uniqExact`` becomes
    count(DISTINCT ...). Literal contents never participate in the
    rewrite (token-masked scan)."""
    cfg = IngestConfig(str(tmp_path / "data"), str(tmp_path / "metrics"),
                       str(tmp_path / "ckpt"))
    rows = [f"one_min.c.cpu {float(i)} {1000 + 60 * i}" for i in range(10)]
    rows += [f"one_min.c.mem {float(100 + i)} {1000 + 60 * i}" for i in range(5)]
    raw = spark.createDataFrame([(l,) for l in rows], "value string")
    ingest_batch(parse_lines(raw, updated=F.lit(100)), cfg, known_names=None)
    svc = GraphouseService(spark, cfg.data_path, cfg.metrics_path)

    assert svc.sql("SELECT countIf(value >= 100) AS n "
                   "FROM graphite.data").strip() == "5"
    assert svc.sql("SELECT sumIf(value, metric = 'one_min.c.mem') AS s "
                   "FROM graphite.data").strip() == "510.0"
    # sumIf over zero matching rows is 0, as in CH — not NULL
    assert svc.sql("SELECT sumIf(value, metric = 'nope') AS s "
                   "FROM graphite.data").strip() == "0.0"
    assert svc.sql("SELECT avgIf(value, metric = 'one_min.c.mem') AS a "
                   "FROM graphite.data").strip() == "102.0"
    assert svc.sql("SELECT maxIf(value, value < 100) AS m "
                   "FROM graphite.data").strip() == "9.0"
    assert svc.sql("SELECT uniqExact(metric) AS u "
                   "FROM graphite.data").strip() == "2"
    assert svc.sql("SELECT uniqIf(metric, value >= 100) AS u "
                   "FROM graphite.data").strip() == "1"
    # exact median of 0..9 (rank interpolation) and exact p0/p100
    assert svc.sql("SELECT quantileExact(0.5)(value) AS q FROM graphite.data "
                   "WHERE value < 100").strip() == "4.5"
    out = svc.sql("SELECT quantilesExact(0.0, 1.0)(value) AS qs "
                  "FROM graphite.data WHERE value < 100").strip()
    assert out == "[0.0, 9.0]"
    # approximate family parses and answers
    q = float(svc.sql("SELECT quantile(0.5)(value) AS q FROM graphite.data "
                      "WHERE value < 100").strip())
    assert 3.0 <= q <= 6.0
    # weighted average: sum(x*w)/sum(w)
    assert svc.sql("SELECT avgWeighted(value, CAST(1 AS DOUBLE)) AS aw "
                   "FROM graphite.data WHERE value < 100").strip() == "4.5"
    # names inside string literals never rewrite
    assert svc.sql("SELECT 'countIf(x)' AS s").strip() == "countIf(x)"
    # arity errors surface as clear user errors
    with pytest.raises(ValueError, match="countIf"):
        svc.sql("SELECT countIf(value, metric) FROM graphite.data")


def test_query_with_totals(spark, tmp_path):
    """CH ``GROUP BY ... WITH TOTALS``: one GROUPING SETS pass computes
    grouped rows plus the totals row; TabSeparated frames totals after
    one empty line, FORMAT JSON carries a ``totals`` key — both the CH
    HTTP framings. A trailing LIMIT bounds data rows only."""
    cfg = IngestConfig(str(tmp_path / "data"), str(tmp_path / "metrics"),
                       str(tmp_path / "ckpt"))
    rows = ["one_min.t.a 1.0 1000", "one_min.t.a 2.0 1060",
            "one_min.t.b 10.0 1000"]
    raw = spark.createDataFrame([(l,) for l in rows], "value string")
    ingest_batch(parse_lines(raw, updated=F.lit(100)), cfg, known_names=None)
    svc = GraphouseService(spark, cfg.data_path, cfg.metrics_path)

    out = svc.sql("SELECT metric, sum(value) AS s FROM graphite.data "
                  "GROUP BY metric WITH TOTALS ORDER BY metric")
    assert out.splitlines() == [
        "one_min.t.a\t3.0", "one_min.t.b\t10.0", "", "\\N\t13.0"]
    body = json.loads(svc.sql(
        "SELECT metric, sum(value) AS s FROM graphite.data "
        "GROUP BY metric WITH TOTALS ORDER BY metric FORMAT JSON"))
    assert body["totals"] == {"metric": None, "s": 13.0}
    assert body["rows"] == 2
    assert [d["s"] for d in body["data"]] == [3.0, 10.0]
    # trailing LIMIT bounds the data rows; the totals row survives
    out = svc.sql("SELECT metric, sum(value) AS s FROM graphite.data "
                  "GROUP BY metric WITH TOTALS ORDER BY metric LIMIT 1")
    assert out.splitlines() == ["one_min.t.a\t3.0", "", "\\N\t13.0"]
    # composes with combinator rewrites and HAVING
    out = svc.sql("SELECT metric, countIf(value > 1.5) AS n "
                  "FROM graphite.data GROUP BY metric WITH TOTALS "
                  "HAVING n >= 0 ORDER BY metric")
    assert out.splitlines() == [
        "one_min.t.a\t1", "one_min.t.b\t1", "", "\\N\t2"]
    # literal text never triggers the clause
    assert svc.sql("SELECT 'WITH TOTALS' AS s").strip() == "WITH TOTALS"


def test_query_array_join(spark, tmp_path):
    """CH ``[LEFT] ARRAY JOIN expr AS name`` answers as LATERAL VIEW
    [OUTER] explode — the admin spelling for exploding metric paths."""
    cfg = IngestConfig(str(tmp_path / "data"), str(tmp_path / "metrics"),
                       str(tmp_path / "ckpt"))
    raw = spark.createDataFrame([("one_min.aj.cpu 1.0 1000",)],
                                "value string")
    ingest_batch(parse_lines(raw, updated=F.lit(100)), cfg, known_names=None)
    svc = GraphouseService(spark, cfg.data_path, cfg.metrics_path)

    out = svc.sql("SELECT part FROM graphite.data "
                  "ARRAY JOIN splitByChar('.', metric) AS part")
    assert out.splitlines() == ["one_min", "aj", "cpu"]
    # LEFT form keeps empty-array rows (NULL element)
    out = svc.sql("SELECT metric, x FROM graphite.data "
                  "LEFT ARRAY JOIN array() AS x")
    assert out.strip() == "one_min.aj.cpu\t\\N"
    # counts per exploded element compose with GROUP BY
    out = svc.sql("SELECT part, count(*) AS n FROM graphite.data "
                  "ARRAY JOIN splitByChar('.', metric) AS part "
                  "GROUP BY part ORDER BY part")
    assert out.splitlines() == ["aj\t1", "cpu\t1", "one_min\t1"]
    assert svc.sql("SELECT 'ARRAY JOIN a AS x' AS s").strip() == \
        "ARRAY JOIN a AS x"


def test_query_aggregate_renames(spark, tmp_path):
    """Mechanically-renameable CH aggregates answer through /query:
    any/anyLast -> any_value, groupArray -> collect_list,
    groupUniqArray -> collect_set, stddevPop/varPop -> the
    underscore spellings, groupBit* -> bit_*, sumDistinct ->
    sum(DISTINCT). Replacement text never re-triggers the rename
    (any_value stays put)."""
    cfg = IngestConfig(str(tmp_path / "data"), str(tmp_path / "metrics"),
                       str(tmp_path / "ckpt"))
    rows = ["one_min.r.a 1.0 1000", "one_min.r.a 1.0 1060",
            "one_min.r.a 3.0 1120"]
    raw = spark.createDataFrame([(l,) for l in rows], "value string")
    ingest_batch(parse_lines(raw, updated=F.lit(100)), cfg, known_names=None)
    svc = GraphouseService(spark, cfg.data_path, cfg.metrics_path)

    assert svc.sql("SELECT any(metric) AS m FROM graphite.data").strip() == \
        "one_min.r.a"
    assert svc.sql("SELECT anyLast(metric) AS m FROM graphite.data").strip() \
        == "one_min.r.a"
    out = svc.sql("SELECT groupArray(value) AS vs FROM graphite.data "
                  "WHERE timestamp <= 1060")
    assert out.strip() == "[1.0, 1.0]"
    out = svc.sql("SELECT sort_array(groupUniqArray(value)) AS vs "
                  "FROM graphite.data")
    assert out.strip() == "[1.0, 3.0]"
    assert svc.sql("SELECT sumDistinct(value) AS s "
                   "FROM graphite.data").strip() == "4.0"
    v = float(svc.sql("SELECT varPop(value) AS v FROM graphite.data").strip())
    assert abs(v - 8.0 / 9.0) < 1e-9
    s = float(svc.sql("SELECT stddevSamp(value) AS s "
                      "FROM graphite.data").strip())
    assert abs(s - (4.0 / 3.0) ** 0.5) < 1e-9
    assert svc.sql("SELECT groupBitOr(CAST(value AS BIGINT)) AS b "
                   "FROM graphite.data").strip() == "3"
    assert svc.sql("SELECT groupBitAnd(CAST(value AS BIGINT)) AS b "
                   "FROM graphite.data").strip() == "1"
    # uniq family longest-match: uniqCombined is not uniq + "Combined("
    assert svc.sql("SELECT uniqCombined(metric) AS u "
                   "FROM graphite.data").strip() == "1"


def test_render_raw_format(server):
    """graphite raw format: name,start,end,step|v1,v2,... — the
    scripting shape graphite-web's rawData renderer emits."""
    svc, http, port = server
    if not svc._loaded:
        svc.load_tree()
    code, body = get(
        port,
        f"/render?target=one_min.srv1.cpu&from={BASE}&until={BASE + 180}"
        "&format=raw",
    )
    assert code == 200
    line = body.strip()
    head, vals = line.split("|")
    name, s, e, st = head.rsplit(",", 3)
    assert name == "one_min.srv1.cpu"
    assert int(st) == 60
    assert int(e) - int(s) == 60 * len(vals.split(","))
    assert vals == "1.0,2.0,3.0"


def test_query_rollup_cube_grouping_sets(spark, tmp_path):
    """CH's WITH ROLLUP / WITH CUBE / GROUPING SETS spellings parse
    natively in Spark SQL — pin that the /query surface serves them
    unchanged (no rewrite involved)."""
    cfg = IngestConfig(str(tmp_path / "data"), str(tmp_path / "metrics"),
                       str(tmp_path / "ckpt"))
    rows = ["one_min.g.a 1.0 1000", "one_min.g.b 2.0 1000",
            "one_min.g.a 3.0 1060"]
    raw = spark.createDataFrame([(l,) for l in rows], "value string")
    ingest_batch(parse_lines(raw, updated=F.lit(100)), cfg, known_names=None)
    svc = GraphouseService(spark, cfg.data_path, cfg.metrics_path)

    out = svc.sql("SELECT metric, sum(value) AS s FROM graphite.data "
                  "GROUP BY metric WITH ROLLUP ORDER BY metric NULLS FIRST")
    assert out.splitlines() == ["\\N\t6.0", "one_min.g.a\t4.0",
                                "one_min.g.b\t2.0"]
    out = svc.sql("SELECT metric, timestamp AS ts, sum(value) AS s "
                  "FROM graphite.data GROUP BY metric, ts WITH CUBE "
                  "ORDER BY metric NULLS FIRST, ts NULLS FIRST LIMIT 3")
    assert out.splitlines() == ["\\N\t\\N\t6.0", "\\N\t1000\t3.0",
                                "\\N\t1060\t3.0"]
    out = svc.sql("SELECT metric, sum(value) AS s FROM graphite.data "
                  "GROUP BY GROUPING SETS ((metric), ()) "
                  "ORDER BY metric NULLS FIRST")
    assert out.splitlines()[0] == "\\N\t6.0"


def test_query_more_formats_and_numbers(spark, tmp_path):
    """CH JSONEachRow / CSV / CSVWithNames output formats and the
    numbers(n) table function (-> range with CH's `number` column)."""
    cfg = IngestConfig(str(tmp_path / "data"), str(tmp_path / "metrics"),
                       str(tmp_path / "ckpt"))
    raw = spark.createDataFrame(
        [("one_min.f.cpu 1.5 1000",), ("one_min.f.cpu 2.5 1060",)],
        "value string")
    ingest_batch(parse_lines(raw, updated=F.lit(100)), cfg, known_names=None)
    svc = GraphouseService(spark, cfg.data_path, cfg.metrics_path)

    out = svc.sql("SELECT metric, value FROM graphite.data "
                  "ORDER BY timestamp FORMAT JSONEachRow")
    assert out.splitlines() == [
        '{"metric": "one_min.f.cpu", "value": 1.5}',
        '{"metric": "one_min.f.cpu", "value": 2.5}']
    out = svc.sql("SELECT metric, value FROM graphite.data "
                  "ORDER BY timestamp FORMAT CSVWithNames")
    assert out.splitlines() == ["metric,value", "one_min.f.cpu,1.5",
                                "one_min.f.cpu,2.5"]
    out = svc.sql("SELECT value, NULL AS x FROM graphite.data "
                  "ORDER BY timestamp LIMIT 1 FORMAT CSV")
    assert out.splitlines() == ['1.5,\\N']
    # numbers(n) and numbers(offset, n), with CH's `number` column
    assert svc.sql("SELECT sum(number) AS s FROM numbers(10)").strip() == "45"
    assert svc.sql("SELECT count(*) AS n, min(number) AS lo "
                   "FROM numbers(5, 3)").strip() == "3\t5"
    # quoting: commas inside string values stay one CSV field
    assert svc.sql("SELECT 'a,b' AS s FORMAT CSV").strip() == '"a,b"'
    assert svc.sql("SELECT 'FORMAT CSV' AS s").strip() == "FORMAT CSV"


def test_query_with_totals_survives_having(spark, tmp_path):
    """The totals row must survive a HAVING that its OWN aggregate
    values would fail (under CH's default after_having_exclusive mode
    the () row is never filtered — it aggregates the passing groups,
    here all of them)."""
    cfg = IngestConfig(str(tmp_path / "data"), str(tmp_path / "metrics"),
                       str(tmp_path / "ckpt"))
    rows = ["one_min.h.a 1.0 1000", "one_min.h.a 2.0 1060",
            "one_min.h.b 10.0 1000"]
    raw = spark.createDataFrame([(l,) for l in rows], "value string")
    ingest_batch(parse_lines(raw, updated=F.lit(100)), cfg, known_names=None)
    svc = GraphouseService(spark, cfg.data_path, cfg.metrics_path)

    # the () row has n=3, which fails n < 3 — totals must still show
    out = svc.sql("SELECT metric, count(*) AS n FROM graphite.data "
                  "GROUP BY metric WITH TOTALS HAVING n < 3 "
                  "ORDER BY metric")
    assert out.splitlines() == ["one_min.h.a\t2", "one_min.h.b\t1",
                                "", "\\N\t3"]
    # HAVING on the grouped column (NULL on the totals row) likewise
    out = svc.sql("SELECT metric, sum(value) AS s FROM graphite.data "
                  "GROUP BY metric WITH TOTALS HAVING metric != 'zz' "
                  "ORDER BY metric")
    assert out.splitlines()[-1] == "\\N\t13.0"


def test_query_numbers_with_user_alias(spark, tmp_path):
    cfg = IngestConfig(str(tmp_path / "data"), str(tmp_path / "metrics"),
                       str(tmp_path / "ckpt"))
    raw = spark.createDataFrame([("one_min.n.x 1.0 1000",)], "value string")
    ingest_batch(parse_lines(raw, updated=F.lit(100)), cfg, known_names=None)
    svc = GraphouseService(spark, cfg.data_path, cfg.metrics_path)

    assert svc.sql("SELECT t.number FROM numbers(3) AS t "
                   "ORDER BY t.number LIMIT 1").strip() == "0"
    assert svc.sql("SELECT t.number FROM numbers(3) t "
                   "ORDER BY t.number DESC LIMIT 1").strip() == "2"
    # qualified default alias still works when none is given
    assert svc.sql("SELECT numbers.number FROM numbers(2) "
                   "ORDER BY 1 LIMIT 1").strip() == "0"
    # two aliased numbers() join
    assert svc.sql("SELECT count(*) AS n FROM numbers(3) a "
                   "CROSS JOIN numbers(4) b").strip() == "12"


def test_render_bad_regex_returns_error_not_hang(server):
    """A malformed user regex inside a render target answers with an
    HTTP error (graphite's 400/500), never a dropped connection."""
    svc, http, port = server
    if not svc._loaded:
        svc.load_tree()
    code, body = get(
        port,
        f"/render?target=seriesByTag('name=x','rack=~[')"
        f"&from={BASE}&until={BASE + 180}")
    assert code in (400, 500)
    assert "regex" in body.lower() or "error" in body.lower() or body
    # daemon still alive afterwards
    code, _ = get(port, "/metricTreeState")
    assert code == 200


def test_render_alias_query_concrete_pattern_prefetch(spark, tmp_path):
    """aliasQuery patterns that match only CONCRETE names (not the
    glob) still render: the server derives subquery names per head
    name at render time."""
    cfg = IngestConfig(str(tmp_path / "data"), str(tmp_path / "metrics"),
                       str(tmp_path / "ckpt"))
    lines = []
    for host, used, total in (("srv1", 30.0, 100.0), ("srv2", 60.0, 80.0)):
        for i in (0, 1):
            lines.append(f"one_min.{host}.used {used} {BASE + i * 60}")
            lines.append(f"one_min.{host}.total {total} {BASE + i * 60}")
    raw = spark.createDataFrame([(l,) for l in lines], "value string")
    ingest_batch(parse_lines(raw, updated=F.lit(BASE)), cfg, known_names=None)
    provider = CombinedRetentionProvider(
        [MetricRetentionConfig(".*", True, MetricRetention("avg", {0: 60}))])
    svc = GraphouseService(spark, cfg.data_path, cfg.metrics_path, provider)
    svc.load_tree()

    # '(srv\d+)\.used$' matches the concrete names but NOT the glob
    # 'one_min.*.used' — the static glob rewrite alone fetches nothing
    out = svc.render(
        r"aliasQuery(one_min.*.used, '(srv\d+)\.used$', '\1.total',"
        r" 'cap %d')",
        BASE - 10, BASE + 190)
    assert sorted(s["target"] for s in out) == ["cap 100", "cap 80"]


def test_query_totals_after_having(spark, tmp_path):
    """CH's default totals_mode is after_having_exclusive: the totals
    row aggregates ONLY groups that pass HAVING. Regression for the
    round-7 advisory (the old rewrite computed before-HAVING totals
    over all groups)."""
    cfg = IngestConfig(str(tmp_path / "data"), str(tmp_path / "metrics"),
                       str(tmp_path / "ckpt"))
    rows = ["one_min.ah.a 1.0 1000", "one_min.ah.a 2.0 1060",
            "one_min.ah.b 10.0 1000"]
    raw = spark.createDataFrame([(l,) for l in rows], "value string")
    ingest_batch(parse_lines(raw, updated=F.lit(100)), cfg, known_names=None)
    svc = GraphouseService(spark, cfg.data_path, cfg.metrics_path)

    # group b (n=1) fails HAVING n >= 2: excluded from data AND totals
    out = svc.sql("SELECT metric, count(*) AS n FROM graphite.data "
                  "GROUP BY metric WITH TOTALS HAVING n >= 2 "
                  "ORDER BY metric")
    assert out.splitlines() == ["one_min.ah.a\t2", "", "\\N\t2"]
    # value-level check: sum over passing groups only
    out = svc.sql("SELECT metric, sum(value) AS s FROM graphite.data "
                  "GROUP BY metric WITH TOTALS HAVING sum(value) < 5 "
                  "ORDER BY metric")
    assert out.splitlines() == ["one_min.ah.a\t3.0", "", "\\N\t3.0"]
    # composes with an existing WHERE (the semi-filter must AND in)
    out = svc.sql("SELECT metric, count(*) AS n FROM graphite.data "
                  "WHERE value < 100 "
                  "GROUP BY metric WITH TOTALS HAVING n >= 2 "
                  "ORDER BY metric")
    assert out.splitlines() == ["one_min.ah.a\t2", "", "\\N\t2"]
    # no HAVING: totals over all groups, unchanged
    out = svc.sql("SELECT metric, count(*) AS n FROM graphite.data "
                  "GROUP BY metric WITH TOTALS ORDER BY metric")
    assert out.splitlines() == ["one_min.ah.a\t2", "one_min.ah.b\t1",
                                "", "\\N\t3"]


def test_query_totals_having_group_by_select_alias(spark, tmp_path):
    """GROUP BY a SELECT alias (legal in CH and Spark via
    groupByAliases) + WITH TOTALS + HAVING: the injected semi-filter
    lands in WHERE scope where the alias can't resolve, so the rewrite
    must substitute the defining expression (round-8 advisory)."""
    cfg = IngestConfig(str(tmp_path / "data"), str(tmp_path / "metrics"),
                       str(tmp_path / "ckpt"))
    rows = ["one_min.ga.a 1.0 1000", "one_min.GA.a 2.0 1060",
            "one_min.gb.b 10.0 1000"]
    raw = spark.createDataFrame([(l,) for l in rows], "value string")
    ingest_batch(parse_lines(raw, updated=F.lit(100)), cfg, known_names=None)
    svc = GraphouseService(spark, cfg.data_path, cfg.metrics_path)

    # alias over an expression; group b (n=1) fails HAVING
    out = svc.sql("SELECT upper(metric) AS m, count(*) AS n "
                  "FROM graphite.data "
                  "GROUP BY m WITH TOTALS HAVING n >= 2 ORDER BY m")
    assert out.splitlines() == ["ONE_MIN.GA.A\t2", "", "\\N\t2"]
    # mixed alias + plain column keys
    out = svc.sql("SELECT upper(metric) AS m, timestamp % 2 AS par, "
                  "count(*) AS n FROM graphite.data "
                  "GROUP BY m, par WITH TOTALS HAVING n >= 1 "
                  "ORDER BY m, par")
    assert out.splitlines() == ["ONE_MIN.GA.A\t0\t2", "ONE_MIN.GB.B\t0\t1",
                                "", "\\N\t\\N\t3"]
    # alias + existing WHERE still ANDs in
    out = svc.sql("SELECT upper(metric) AS m, count(*) AS n "
                  "FROM graphite.data WHERE value < 100 "
                  "GROUP BY m WITH TOTALS HAVING n >= 2 ORDER BY m")
    assert out.splitlines() == ["ONE_MIN.GA.A\t2", "", "\\N\t2"]


def test_query_totals_having_alias_shadowing_base_column(spark, tmp_path):
    """When a SELECT alias SHADOWS a base column, Spark resolves GROUP
    BY to the base column (alias only when no column matches) — the
    semi-filter must group the same way, not substitute the alias
    expression (round-9 review finding)."""
    cfg = IngestConfig(str(tmp_path / "data"), str(tmp_path / "metrics"),
                       str(tmp_path / "ckpt"))
    rows = ["one_min.sh.a 1.0 1000", "one_min.sh.a 2.0 1060",
            "one_min.SH.a 3.0 1120"]
    raw = spark.createDataFrame([(l,) for l in rows], "value string")
    ingest_batch(parse_lines(raw, updated=F.lit(100)), cfg, known_names=None)
    svc = GraphouseService(spark, cfg.data_path, cfg.metrics_path)

    # GROUP BY metric = the BASE column: group one_min.sh.a (n=2)
    # passes, one_min.SH.a (n=1) fails — the totals row must aggregate
    # 2 rows, not 3 (alias-substituted grouping would admit all three)
    out = svc.sql("SELECT upper(metric) AS metric, count(*) AS n "
                  "FROM graphite.data "
                  "GROUP BY metric WITH TOTALS HAVING n >= 2 "
                  "ORDER BY metric")
    assert out.splitlines() == ["ONE_MIN.SH.A\t2", "", "\\N\t2"]


def test_query_array_join_as_scan_stops_at_clause(spark, tmp_path):
    """ARRAY JOIN with no AS before the next clause keyword must raise
    the rewriter's own message, not swallow a later clause's AS into
    explode() and surface a confusing Spark parse error."""
    from graphouse_spark.api import sqlguard

    cfg = IngestConfig(str(tmp_path / "data"), str(tmp_path / "metrics"),
                       str(tmp_path / "ckpt"))
    raw = spark.createDataFrame([("one_min.aj.x 1.0 1000",)], "value string")
    ingest_batch(parse_lines(raw, updated=F.lit(100)), cfg, known_names=None)
    svc = GraphouseService(spark, cfg.data_path, cfg.metrics_path)

    for bad in [
        # AS belongs to the JOIN alias, not the array
        "SELECT 1 FROM graphite.data ARRAY JOIN arr "
        "JOIN graphite.metrics AS m WHERE 1=1",
        # no AS at all before WHERE
        "SELECT 1 FROM graphite.data ARRAY JOIN arr WHERE 1=1",
    ]:
        with pytest.raises(ValueError, match="ARRAY JOIN needs"):
            svc.sql(bad)


def test_query_show_tables_describe_and_system_parts(spark, tmp_path):
    """CH admin introspection over /query: SHOW TABLES, DESCRIBE (the
    engine's real column types), and system.parts (table_stats: one
    row per live data file with partition/rows/bytes/minmax)."""
    cfg = IngestConfig(str(tmp_path / "data"), str(tmp_path / "metrics"),
                       str(tmp_path / "ckpt"))
    raw = spark.createDataFrame(
        [("one_min.sp.cpu 1.0 1000",), ("one_min.sp.cpu 2.0 87000",)],
        "value string")
    ingest_batch(parse_lines(raw, updated=F.lit(100)), cfg, known_names=None)
    svc = GraphouseService(spark, cfg.data_path, cfg.metrics_path)

    out = svc.sql("SHOW TABLES")
    assert out.splitlines() == ["data", "data_final", "metrics",
                                "metrics_final", "parts", "query_log"]
    out = svc.sql("DESCRIBE graphite.data")
    assert out.splitlines() == ["metric\tstring", "value\tdouble",
                                "timestamp\tbigint", "date\tdate",
                                "updated\tbigint"]
    # DESC shorthand + FORMAT tail + system. qualifier all compose
    out = svc.sql("DESC TABLE system.parts FORMAT JSONEachRow")
    names = [__import__("json").loads(l)["name"] for l in out.splitlines()]
    assert names == ["file", "date", "n_rows", "bytes", "min_metric",
                     "max_metric", "min_ts", "max_ts"]
    with pytest.raises(ValueError, match="unknown table"):
        svc.sql("DESCRIBE nope")

    # system.parts is queryable SQL: two dates -> two files, row counts
    out = svc.sql("SELECT count(*) AS n_files, sum(n_rows) AS rows_total "
                  "FROM system.parts")
    n_files, rows_total = out.strip().split("\t")
    assert int(rows_total) == 2 and int(n_files) >= 2
    out = svc.sql("SELECT min_metric FROM system.parts "
                  "ORDER BY date LIMIT 1")
    assert out.strip() == "one_min.sp.cpu"
    # still readonly: parts can't be abused as a write channel
    with pytest.raises(ValueError):
        svc.sql("INSERT INTO parts SELECT * FROM parts")


def test_query_pretty_vertical_tsvwithnames_formats(spark, tmp_path):
    """CH client formats: PrettyCompact (box table, numbers
    right-aligned), Vertical (the \\G inspection shape), and
    TSVWithNames — all composing with WITH TOTALS framing."""
    cfg = IngestConfig(str(tmp_path / "data"), str(tmp_path / "metrics"),
                       str(tmp_path / "ckpt"))
    raw = spark.createDataFrame(
        [("one_min.pf.a 1.5 1000",), ("one_min.pf.b 20.0 1060",)],
        "value string")
    ingest_batch(parse_lines(raw, updated=F.lit(100)), cfg, known_names=None)
    svc = GraphouseService(spark, cfg.data_path, cfg.metrics_path)

    out = svc.sql("SELECT metric, value FROM graphite.data "
                  "ORDER BY metric FORMAT PrettyCompact")
    assert out.splitlines() == [
        "┌─metric───────┬─value─┐",
        "│ one_min.pf.a │   1.5 │",
        "│ one_min.pf.b │  20.0 │",
        "└──────────────┴───────┘",
    ]
    out = svc.sql("SELECT metric, value FROM graphite.data "
                  "ORDER BY metric FORMAT Vertical")
    assert out.splitlines() == [
        "Row 1:", "──────",
        "metric: one_min.pf.a", " value: 1.5",
        "", "Row 2:", "──────",
        "metric: one_min.pf.b", " value: 20.0",
    ]
    out = svc.sql("SELECT metric, value FROM graphite.data "
                  "ORDER BY metric FORMAT TSVWithNames")
    assert out.splitlines() == ["metric\tvalue",
                                "one_min.pf.a\t1.5",
                                "one_min.pf.b\t20.0"]
    # Pretty aliases PrettyCompact; totals get their own block
    out = svc.sql("SELECT metric, count(*) AS n FROM graphite.data "
                  "GROUP BY metric WITH TOTALS ORDER BY metric "
                  "FORMAT Pretty")
    assert "Totals:" in out
    assert out.splitlines()[0].startswith("┌─metric")


def test_query_default_format_param_accepts_ch_spellings(spark, tmp_path):
    """default_format=Pretty / TabSeparatedWithNames over HTTP must
    select the named format, not silently degrade to TSV."""
    cfg = IngestConfig(str(tmp_path / "data"), str(tmp_path / "metrics"),
                       str(tmp_path / "ckpt"))
    raw = spark.createDataFrame([("one_min.df.a 1.0 1000",)], "value string")
    ingest_batch(parse_lines(raw, updated=F.lit(100)), cfg, known_names=None)
    svc = GraphouseService(spark, cfg.data_path, cfg.metrics_path)
    out = svc.sql("SELECT metric FROM graphite.data", fmt="Pretty")
    assert out.splitlines()[0].startswith("┌─metric")
    out = svc.sql("SELECT metric FROM graphite.data",
                  fmt="TabSeparatedWithNames")
    assert out.splitlines() == ["metric", "one_min.df.a"]
    # NULLs render the CH client spelling in both pretty shapes
    out = svc.sql("SELECT NULL AS x FORMAT PrettyCompact")
    assert "ᴺᵁᴸᴸ" in out
    out = svc.sql("SELECT NULL AS x FORMAT Vertical")
    assert "ᴺᵁᴸᴸ" in out
