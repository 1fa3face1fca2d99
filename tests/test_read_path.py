"""Read-path goldens ported from MetricDataRowCallbackHandlerTest.java:23-133.

The reference's golden JSON (bucket alignment, null gap-fill
before/between/after points, NaN -> null, empty result, full-null
series for matched-but-dataless metrics) is the contract for
``MetricDataService.get_data``.
"""

import json
import math

import pytest
from pyspark.sql import functions as F

from graphouse_spark.operators.dedup import dedup_points
from graphouse_spark.plans.metricdata import MetricDataService, metric_series
from graphouse_spark.queryparams import MetricDataQueryParams
from graphouse_spark.retention import CombinedRetentionProvider, MetricRetention, MetricRetentionConfig
from graphouse_spark.schemas import DATA_SCHEMA


def make_data(spark, rows):
    """rows: (metric, value, timestamp, updated) — date derived."""
    df = spark.createDataFrame(
        [(m, v, t, u) for (m, v, t, u) in rows],
        "metric string, value double, timestamp long, updated long",
    )
    return df.withColumn("date", F.to_date(F.from_unixtime("timestamp"))).select(
        "metric", "value", "timestamp", "date", "updated"
    )


@pytest.fixture()
def service():
    provider = CombinedRetentionProvider(
        [MetricRetentionConfig(".*", True, MetricRetention("avg", {0: 60}))]
    )
    return MetricDataService(provider)


def test_handler_golden(spark, service):
    # testHandler: the handler consumes already-bucketed rows; gap fill +
    # render must produce the reference's golden JSON.
    from graphouse_spark.plans.metricdata import render_series

    rows = [
        {"metric": "name1", "ts": 100, "value": 33.33},
        {"metric": "name1", "ts": 160, "value": 42.0},
        {"metric": "name2", "ts": 160, "value": 32.0},
        {"metric": "name2", "ts": 220, "value": 77.7},
    ]
    out = render_series(rows, [("avg", ["name1", "name2"], MetricDataQueryParams(100, 280, 60))])
    assert out == {
        "name1": {"start": 100, "end": 280, "step": 60, "points": [33.33, 42.0, None]},
        "name2": {"start": 100, "end": 280, "step": 60, "points": [None, 32.0, 77.7]},
    }


def test_full_pipeline_snapped(spark, service):
    # end-to-end: raw duplicated points -> dedup -> bucket -> gap fill,
    # with real (snapped) query params
    data = make_data(spark, [
        ("name1", 99.0, 105, 1),   # superseded by updated=2
        ("name1", 33.33, 105, 2),
        ("name1", 42.0, 160, 1),
        ("name2", 32.0, 165, 1),
        ("name2", 77.7, 220, 1),
    ])
    out = service.get_data(spark, data, ["name1", "name2"], 100, 280, now_seconds=280)
    # snapped: start 60, end 60 + 3*60 = 240 -> grid {60, 120, 180}
    assert out == {
        "name1": {"start": 60, "end": 240, "step": 60, "points": [33.33, 42.0, None]},
        "name2": {"start": 60, "end": 240, "step": 60, "points": [None, 32.0, 77.7]},
    }


def test_nan_to_null(spark):
    # testChNan: NaN value -> null point, bucket still advances
    provider = CombinedRetentionProvider(
        [MetricRetentionConfig(".*", True, MetricRetention("avg", {0: 1}))]
    )
    service = MetricDataService(provider)
    data = make_data(spark, [
        ("name1", 0.0, 0, 1),
        ("name1", float("nan"), 1, 1),
        ("name1", 2.0, 2, 1),
    ])
    out = service.get_data(spark, data, ["name1"], 0, 3, now_seconds=3)
    assert out == {"name1": {"start": 0, "end": 3, "step": 1, "points": [0.0, None, 2.0]}}


def test_empty(spark, service):
    out = service.get_data(spark, make_data(spark, []), [], 0, 3, now_seconds=3)
    assert out == {}


def test_empty_metric_filling(spark, service):
    # testEmptyMetricFilling: matched-but-dataless metrics emit full null series
    data = make_data(spark, [("name1", 33.33, 120, 1), ("name1", 42.0, 180, 1)])
    out = service.get_data(spark, data, ["name1", "name2", "name3"], 120, 300, now_seconds=300)
    assert out["name1"]["points"] == [33.33, 42.0, None]
    assert out["name2"]["points"] == [None, None, None]
    assert out["name3"] == {"start": 120, "end": 300, "step": 60, "points": [None, None, None]}


def test_lww_dedup(spark):
    # duplicate (metric, ts) with different updated -> max-updated wins
    data = make_data(spark, [
        ("m.a.x", 1.0, 100, 10),
        ("m.a.x", 2.0, 100, 20),
        ("m.a.x", 99.0, 100, 5),
    ])
    got = dedup_points(data).collect()
    assert len(got) == 1
    assert got[0]["value"] == 2.0
    assert got[0]["updated"] == 20


def test_bucket_functions(spark):
    data = make_data(spark, [
        ("m", 1.0, 0, 1), ("m", 3.0, 30, 1), ("m", 10.0, 60, 1),
    ])
    params = MetricDataQueryParams(0, 120, 60)

    def run(fn):
        frame = metric_series(spark, data, [(fn, ["m"], params)])
        return {r["ts"]: r["value"] for r in frame.collect()}

    assert run("avg") == {0: 2.0, 60: 10.0}
    assert run("max") == {0: 3.0, 60: 10.0}
    assert run("sum") == {0: 4.0, 60: 10.0}
    with pytest.raises(ValueError):
        run("median")


def test_multi_function_groups(spark):
    # metrics spanning two retention functions run as separate groups, same params
    provider = CombinedRetentionProvider([
        MetricRetentionConfig("max\\..*", False, MetricRetention("max", {0: 60})),
        MetricRetentionConfig(".*", True, MetricRetention("avg", {0: 60})),
    ])
    service = MetricDataService(provider)
    data = make_data(spark, [
        ("max.m", 1.0, 100, 1), ("max.m", 5.0, 110, 1),
        ("avg.m", 1.0, 100, 1), ("avg.m", 5.0, 110, 1),
    ])
    out = service.get_data(spark, data, ["max.m", "avg.m"], 100, 160, now_seconds=160)
    assert out["max.m"]["points"] == [5.0]
    assert out["avg.m"]["points"] == [3.0]


def test_filter_pushdown_shape(spark, tmp_path):
    # F1/F2/F3 must reach the parquet scan: PushedFilters + PartitionFilters
    from graphouse_spark.sources.tables import read_data, write_data

    import contextlib
    import io

    path = str(tmp_path / "data")
    write_data(make_data(spark, [("m.a.b", 1.0, 1542199500 + i, 1) for i in range(100)]), path)
    params = MetricDataQueryParams(1542199500, 1542199560, 60)
    df = metric_series(spark, read_data(spark, path), [("avg", ["m.a.b"], params)])
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    formatted = buf.getvalue()
    assert "PushedFilters" in formatted
    pushed = formatted.split("PushedFilters")[1]
    assert "timestamp" in pushed[:500] and "metric" in pushed[:500]
    assert "PartitionFilters" in formatted  # date predicate prunes partitions


def test_salted_aggregate_matches_plain(spark):
    """Salted two-phase agg must equal the direct aggregation exactly
    for decomposable functions (and reject non-decomposable ones)."""
    import pytest as _pytest

    from graphouse_spark.operators.skew import salted_aggregate

    # hot key: one metric holds 90% of rows
    rows = [("hot.metric.x", float(i % 13), 100 + i, 1) for i in range(900)]
    rows += [(f"cold.metric.{i}", float(i), 100 + i, 1) for i in range(100)]
    data = make_data(spark, rows)

    for fn in ["avg", "sum", "min", "max", "count"]:
        salted = {r["metric"]: r["value"] for r in salted_aggregate(data, ["metric"], "value", fn).collect()}
        if fn == "avg":
            plain = {r["metric"]: r["v"] for r in data.groupBy("metric").agg(F.avg("value").alias("v")).collect()}
            assert salted.keys() == plain.keys()
            for k in plain:
                assert abs(salted[k] - plain[k]) < 1e-9, (fn, k)
        else:
            agg = {"sum": F.sum, "min": F.min, "max": F.max, "count": lambda c: F.count(F.lit(1))}[fn]
            plain = {r["metric"]: r["v"] for r in data.groupBy("metric").agg(agg("value").alias("v")).collect()}
            assert salted == plain, fn

    with _pytest.raises(ValueError):
        salted_aggregate(data, ["metric"], "value", "median")


def test_utc_day_boundary_date_derivation(spark, tmp_path):
    """C11 analog of MetricsStreamCallbackTest.testTimeZones: the
    reference derives the date partition in the ClickHouse server TZ
    (Moscow in the golden: 1491771599 -> day 17265, 1491771601 ->
    17266); this engine pins UTC and documents the delta. The UTC
    boundary for those instants is 1491782400 (2017-04-10T00:00Z)."""
    import datetime

    from graphouse_spark.sources.tables import write_data

    rows = [
        ("m.a", 1.0, 1491771599, 1),  # Moscow flips here; UTC must NOT
        ("m.a", 2.0, 1491771601, 1),
        ("m.a", 3.0, 1491782399, 1),  # 2017-04-09T23:59:59Z
        ("m.a", 4.0, 1491782400, 1),  # 2017-04-10T00:00:00Z
    ]
    df = make_data(spark, rows)
    path = str(tmp_path / "tzdata")
    write_data(df, path)
    got = {r["timestamp"]: r["date"] for r in spark.read.parquet(path).collect()}
    d9, d10 = datetime.date(2017, 4, 9), datetime.date(2017, 4, 10)
    assert got[1491771599] == d9 and got[1491771601] == d9  # diverges from Moscow golden
    assert got[1491782399] == d9 and got[1491782400] == d10  # UTC boundary exact


def test_mixed_retention_per_group_params(spark):
    # MetricDataService.java:55-58: params are computed PER function group,
    # so a mixed-retention request renders the finer group at its own step
    # instead of the global max step.
    provider = CombinedRetentionProvider([
        MetricRetentionConfig("coarse\\..*", False, MetricRetention("max", {0: 300})),
        MetricRetentionConfig(".*", True, MetricRetention("avg", {0: 60})),
    ])
    service = MetricDataService(provider)
    data = make_data(spark, [
        ("coarse.m", 1.0, 30, 1), ("coarse.m", 5.0, 290, 1),
        ("fine.m", 2.0, 30, 1), ("fine.m", 4.0, 90, 1),
    ])
    out = service.get_data(spark, data, ["coarse.m", "fine.m"], 0, 600, now_seconds=600)
    assert out["coarse.m"]["step"] == 300
    assert out["fine.m"]["step"] == 60
    assert out["coarse.m"]["points"] == [5.0, None]
    assert out["fine.m"]["points"] == [2.0, 4.0] + [None] * 8


def test_infinity_to_null(spark):
    # Double.isFinite at render: Infinity must become null (bare Infinity
    # is not valid strict JSON), same as NaN.
    from graphouse_spark.plans.metricdata import render_series

    rows = [
        {"metric": "m", "ts": 0, "value": float("inf")},
        {"metric": "m", "ts": 60, "value": float("-inf")},
        {"metric": "m", "ts": 120, "value": 1.5},
    ]
    out = render_series(rows, [("avg", ["m"], MetricDataQueryParams(0, 180, 60))])
    assert out["m"]["points"] == [None, None, 1.5]
    assert "Infinity" not in json.dumps(out)


def test_register_corpus_sql_front_door(spark):
    """Every corpus table reachable from plain spark.sql, any ts encoding."""
    from graphouse_spark import register_corpus

    register_corpus(spark, "/root/testdata/sf0.001")
    n = spark.sql("SELECT count(*) AS n FROM lineitem").collect()[0]["n"]
    assert n > 0
    # events_sec normalizes the physical time encoding (nanos-bigint,
    # timestamp, or timestamp_ntz) to epoch seconds
    row = spark.sql(
        "SELECT count(*) AS n, min(ts_sec) AS first_sec FROM events_sec"
    ).collect()[0]
    assert row["n"] > 0 and row["first_sec"] >= 1704067200


def test_table_stats_and_compaction_candidates(spark, tmp_path):
    """system.parts analog: per-file rows/bytes/ranges; fragmented
    partitions surface as compaction candidates."""
    from graphouse_spark.sources.tables import (
        compaction_candidates,
        table_stats,
        write_data,
    )

    base = 1_542_199_500
    rows = [(f"m.{i % 3}", float(i), base + i * 60, base) for i in range(300)]
    df = spark.createDataFrame(rows, "metric string, value double, timestamp long, updated long")
    path = str(tmp_path / "parts")
    write_data(df, path, target_partitions=6)  # several small files
    stats = table_stats(spark, path).collect()
    assert len(stats) >= 1
    total_rows = sum(r["n_rows"] for r in stats)
    assert total_rows == 300
    for r in stats:
        assert r["bytes"] is not None and r["bytes"] > 0
        assert r["min_metric"] <= r["max_metric"]
        assert r["min_ts"] <= r["max_ts"]
        assert str(r["date"]) != ""
    cands = compaction_candidates(
        table_stats(spark, path), small_bytes=1 << 30, min_files=2
    ).collect()
    # every partition here is tiny -> all flagged at a 1 GiB threshold
    assert cands and all(c["n_small_files"] >= 2 for c in cands)
    assert sum(c["rows_affected"] for c in cands) == 300


# ------------------------------------------------ the one read statement
# metric_series against a plain-Python reference: LWW by max updated,
# epoch-aligned buckets, the retention function over the non-null
# values, one row per requested name and step, NaN -> null.

_REF_AGG = {
    "avg": lambda xs: sum(xs) / len(xs),
    "min": min,
    "max": max,
    "sum": sum,
    "any": lambda xs: xs[0],
    "last": lambda xs: xs[-1],
    "multiply": math.prod,
}


def reference_series(rows, function, names, params):
    """{(metric, bucket): value | None} for every grid cell."""
    start, step, n = params.start_time_seconds, params.step_seconds, params.num_points
    lww = {}
    for m, v, t, u in rows:
        if m in names and start <= t < start + n * step:
            if (m, t) not in lww or u > lww[(m, t)][1]:
                lww[(m, t)] = (v, u)
    buckets: dict = {}
    for (m, t), (v, _) in sorted(lww.items()):
        if v is not None:
            buckets.setdefault((m, t - t % step), []).append(v)
    out = {}
    for m in names:
        for k in range(n):
            xs = buckets.get((m, start + k * step))
            v = _REF_AGG[function](xs) if xs else None
            out[(m, start + k * step)] = None if v is not None and math.isnan(v) else v
    return out


def run_series(spark, rows, function, names, params):
    frame = metric_series(spark, make_data(spark, rows), [(function, names, params)])
    got = [(r["metric"], r["ts"], r["value"]) for r in frame.collect()]
    assert len(got) == len(set((m, t) for m, t, _ in got)), "one row per cell"
    return {(m, t): v for m, t, v in got}


def assert_same(got, want):
    assert got.keys() == want.keys()
    for k, v in want.items():
        if v is None or math.isinf(v):
            assert got[k] == v, k
        else:
            assert got[k] == pytest.approx(v, rel=1e-12), k


def test_read_statement_lww_stale_and_resubmitted(spark):
    # duplicates at a bucket start share the grid row's timestamp: the
    # grid row must never win, the max-updated real point always does
    rows = [
        ("m.a", 1.0, 120, 10), ("m.a", 2.0, 120, 20), ("m.a", 99.0, 120, 5),
        ("m.a", 4.0, 150, 7), ("m.a", 8.0, 150, 3),    # stale resubmission loses
        ("m.a", None, 200, 9), ("m.a", 6.0, 200, 1),   # newest value is null
        ("m.b", 5.0, 300, 1), ("m.b", 7.0, 300, 2),
        ("m.c", 1.0, 0, 1),                             # before the range
    ]
    params = MetricDataQueryParams(120, 420, 60)
    names = ["m.a", "m.b", "m.c"]
    for fn in ("avg", "sum", "max", "min"):
        assert_same(run_series(spark, rows, fn, names, params),
                    reference_series(rows, fn, names, params))
    got = run_series(spark, rows, "avg", names, params)
    assert got[("m.a", 120)] == 3.0      # (2 + 4) / 2
    assert got[("m.a", 180)] is None     # the only point in it is a null
    assert got[("m.b", 300)] == 7.0


def test_read_statement_nan_and_infinity(spark):
    rows = [
        ("m", float("nan"), 0, 1), ("m", 1.0, 10, 1),      # avg is NaN -> null
        ("m", float("inf"), 60, 1), ("m", 1.0, 70, 1),     # stays +inf
        ("m", float("-inf"), 120, 1),
        ("m", float("inf"), 180, 1), ("m", float("-inf"), 190, 1),  # NaN -> null
        ("m", 2.0, 240, 1),
    ]
    params = MetricDataQueryParams(0, 300, 60)
    got = run_series(spark, rows, "avg", ["m"], params)
    assert_same(got, reference_series(rows, "avg", ["m"], params))
    assert [got[("m", t)] for t in range(0, 300, 60)] == [
        None, float("inf"), float("-inf"), None, 2.0]
    # the JSON contract renders every non-finite value as null
    out = MetricDataService(CombinedRetentionProvider(
        [MetricRetentionConfig(".*", True, MetricRetention("avg", {0: 60}))]
    )).get_data(spark, make_data(spark, rows), ["m"], 0, 300, now_seconds=300)
    assert out["m"]["points"] == [None, None, None, None, 2.0]


def test_read_statement_all_null_bucket(spark):
    rows = [("m", None, 0, 1), ("m", None, 30, 1), ("m", 5.0, 60, 1)]
    params = MetricDataQueryParams(0, 180, 60)
    for fn in ("avg", "sum", "multiply", "any", "last"):
        got = run_series(spark, rows, fn, ["m", "dataless"], params)
        assert_same(got, reference_series(rows, fn, ["m", "dataless"], params))
        assert got[("m", 0)] is None and got[("m", 60)] == 5.0


def test_read_statement_any_last_multiply_over_gaps(spark):
    # one point per filled bucket, so any/last are deterministic; the
    # grid's null rows sit in every bucket and must never be picked
    rows = [("m", float(k + 1), k * 60 + 5 * (k % 3), 1) for k in range(0, 20, 2)]
    rows += [("p", 2.0, 0, 1), ("p", 3.0, 30, 1), ("p", 4.0, 120, 1)]
    params = MetricDataQueryParams(0, 1200, 60)
    for fn in ("any", "last", "multiply"):
        got = run_series(spark, rows, fn, ["m"], params)
        assert_same(got, reference_series(rows, fn, ["m"], params))
        assert sum(v is not None for v in got.values()) == 10
    got = run_series(spark, rows, "multiply", ["m", "p"], params)
    assert_same(got, reference_series(rows, "multiply", ["m", "p"], params))
    assert got[("p", 0)] == 6.0 and got[("p", 60)] is None


def test_read_statement_empty_range(spark):
    rows = [("m", 1.0, 0, 1)]
    assert run_series(spark, rows, "avg", ["m"], MetricDataQueryParams(0, 0, 60)) == {}
    assert metric_series(spark, make_data(spark, rows), []).collect() == []
    svc = MetricDataService(CombinedRetentionProvider(
        [MetricRetentionConfig(".*", True, MetricRetention("avg", {0: 60}))]))
    out = svc.get_data(spark, make_data(spark, rows), ["m"], 0, 30, now_seconds=30)
    assert out == {"m": {"start": 0, "end": 0, "step": 60, "points": []}}
    with pytest.raises(ValueError, match="multiple of step"):
        metric_series(spark, make_data(spark, rows),
                      [("avg", ["m"], MetricDataQueryParams(30, 150, 60))])


def test_read_statement_mixed_groups_one_statement(spark, monkeypatch):
    # three retention groups, three steps: one statement, one collect,
    # each group's rows routed to its own params
    from graphouse_spark.plans import metricdata

    provider = CombinedRetentionProvider([
        MetricRetentionConfig("max\\..*", False, MetricRetention("max", {0: 120})),
        MetricRetentionConfig("sum\\..*", False, MetricRetention("sum", {0: 300})),
        MetricRetentionConfig(".*", True, MetricRetention("avg", {0: 60})),
    ])
    rows = [(f"{g}.m{j}", float((i * 7 + j) % 11), i * 40, 1 + i % 2)
            for g in ("max", "sum", "avg") for j in range(2) for i in range(30)]
    rows += [("avg.m0", 100.0, 80, 0)]  # stale duplicate of (avg.m0, 80)
    names = [f"{g}.m{j}" for g in ("max", "sum", "avg") for j in range(2)]
    calls = []
    real = metricdata.metric_series
    monkeypatch.setattr(metricdata, "metric_series",
                        lambda *a, **k: calls.append(a) or real(*a, **k))
    service = MetricDataService(provider)
    out = service.get_data(spark, make_data(spark, rows), names, 0, 1200,
                           now_seconds=1200)
    assert len(calls) == 1 and len(calls[0][2]) == 3
    for fn, grid in (("max", 120), ("sum", 300), ("avg", 60)):
        params = MetricDataQueryParams(0, 1200, grid)
        group = [n for n in names if n.startswith(fn)]
        want = reference_series(rows, fn, group, params)
        for name in group:
            assert out[name]["step"] == grid
            assert out[name]["points"] == [want[(name, t)] for t in range(0, 1200, grid)]


def test_read_statement_quoted_names(spark):
    # names reach the SQL as bound parameters: quotes, backslashes and
    # format braces are data, never SQL or format syntax
    odd = ["it's.a", "back\\slash.b", "brace.{x}", "both'\\.c"]
    rows = [(n, float(i + 1), 60, 1) for i, n in enumerate(odd)]
    rows += [("it", 9.0, 60, 1), ("back\\\\slash.b", 9.0, 60, 1)]
    params = MetricDataQueryParams(0, 180, 60)
    got = run_series(spark, rows, "avg", odd, params)
    assert_same(got, reference_series(rows, "avg", odd, params))
    assert {m for m, _ in got} == set(odd)


def test_read_statement_plan_one_exchange_and_pushed_names(spark, tmp_path):
    import contextlib
    import io
    import re

    from graphouse_spark.sources.tables import read_data, write_data

    path = str(tmp_path / "data")
    write_data(make_data(spark, [(f"m.{i % 3}", float(i), 1542199500 + i * 10, 1)
                                 for i in range(300)]), path)
    params = MetricDataQueryParams(1542199500, 1542202500, 60)
    for names, pushed in ((["m.1"], "EqualTo(metric,m.1)"),
                          (["m.1", "m.2"], "In(metric, [m.1,m.2]")):
        df = metric_series(spark, read_data(spark, path), [("avg", names, params)])
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        exchanges = re.findall(r"^\(\d+\) (\w*Exchange)", plan, re.M)
        assert exchanges == ["Exchange"], plan
        assert "Join" not in plan
        assert pushed in plan, plan
        assert df.count() == len(names) * params.num_points
