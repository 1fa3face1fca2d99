"""Graphite round-8: linearRegression, real pow/logit, movingWindow,
generic sortBy family, percentile pruning, series-list pairwise
arithmetic, render-grid generators, consolidateBy tagging, and the
legend/display family — plus their render-target registry entries."""

import math

import pytest
from pyspark.sql import functions as F

from graphouse_spark.functions.target import collect_series_globs, evaluate_target
from graphouse_spark.functions.timeseries import (
    average_outside_percentile,
    cacti_style,
    consolidate_by,
    constant_line,
    holt_winters_confidence_area,
    legend_value,
    linear_regression_line,
    logit_series,
    moving_window,
    pow_series,
    remove_between_percentile,
    series_lists_op,
    sort_by,
    sort_by_minima,
    time_function,
    unique_series,
    use_series_above,
    CONSOLIDATE_COL,
)


def _mk(spark, rows):
    return spark.createDataFrame(rows, "metric string, ts long, value double")


@pytest.fixture()
def series(spark):
    rows = []
    for i, v in enumerate([1.0, 2.0, 3.0, 4.0]):
        rows.append(("s.a", 1000 + i * 60, v))
    for i, v in enumerate([10.0, 20.0, 30.0, 40.0]):
        rows.append(("s.b", 1000 + i * 60, v))
    for i, v in enumerate([100.0, 100.0, 100.0, 1.0]):
        rows.append(("s.c", 1000 + i * 60, v))
    return _mk(spark, rows)


def _metrics(df):
    return {r["metric"] for r in df.select("metric").distinct().collect()}


def _points(df, metric):
    return {
        r["ts"]: r["value"] for r in df.filter(F.col("metric") == metric).collect()
    }


# ---------------------------------------------------------------- fits


def test_linear_regression_exact_line(series):
    # s.a is exactly linear: v = 1 + i -> fitted values reproduce it
    got = _points(linear_regression_line(series), "s.a")
    assert got == {1000: 1.0, 1060: 2.0, 1120: 3.0, 1180: 4.0}


def test_linear_regression_flat_series(spark):
    df = _mk(spark, [("m", 0, 5.0), ("m", 60, 5.0), ("m", 120, 5.0)])
    assert set(_points(linear_regression_line(df), "m").values()) == {5.0}


def test_linear_regression_single_point_is_mean(spark):
    df = _mk(spark, [("m", 0, 7.0)])
    assert _points(linear_regression_line(df), "m") == {0: 7.0}


def test_linear_regression_least_squares(spark):
    # y = [0, 1, 1]: slope = 0.5, intercept = 1/6 (hand OLS over x=0,1,2)
    df = _mk(spark, [("m", 0, 0.0), ("m", 1, 1.0), ("m", 2, 1.0)])
    got = _points(linear_regression_line(df), "m")
    assert got[0] == pytest.approx(1 / 6, abs=1e-6)
    assert got[1] == pytest.approx(1 / 6 + 0.5, abs=1e-6)
    assert got[2] == pytest.approx(1 / 6 + 1.0, abs=1e-6)


# ---------------------------------------------------------------- scalars


def test_pow_real_exponent_and_domain(spark):
    df = _mk(spark, [("m", 0, 4.0), ("m", 1, -4.0), ("m", 2, 0.0)])
    got = _points(pow_series(df, 0.5), "m")
    assert got[0] == 2.0 and got[1] is None and got[2] == 0.0
    got = _points(pow_series(df, -1.0), "m")
    assert got[0] == 0.25 and got[1] == -0.25 and got[2] is None
    got = _points(pow_series(df, 3.0), "m")
    assert got[0] == 64.0 and got[1] == -64.0 and got[2] == 0.0


def test_logit_domain(spark):
    df = _mk(spark, [("m", 0, 0.5), ("m", 1, 0.75), ("m", 2, 1.0), ("m", 3, -0.5)])
    got = _points(logit_series(df), "m")
    assert got[0] == 0.0
    assert got[1] == pytest.approx(math.log(3), abs=1e-6)
    assert got[2] is None and got[3] is None


def test_moving_window_matches_named_variants(series):
    avg = _points(moving_window(series, 2, "average"), "s.b")
    assert avg == {1000: 10.0, 1060: 15.0, 1120: 25.0, 1180: 35.0}
    mx = _points(moving_window(series, 2, "max"), "s.b")
    assert mx[1180] == 40.0
    with pytest.raises(ValueError):
        moving_window(series, 2, "nope")


# ---------------------------------------------------------------- sorts


def test_sort_by_orders_series(series):
    got = sort_by(series, "average").select("metric").collect()
    order = list(dict.fromkeys(r["metric"] for r in got))
    assert order == ["s.a", "s.b", "s.c"]
    got = sort_by(series, "average", reverse=True).select("metric").collect()
    order = list(dict.fromkeys(r["metric"] for r in got))
    assert order == ["s.c", "s.b", "s.a"]


def test_sort_by_minima_filters_nonpositive_max(spark):
    rows = [("p", 0, 5.0), ("p", 60, 3.0), ("q", 0, 1.0), ("q", 60, 9.0),
            ("neg", 0, -5.0), ("neg", 60, -1.0)]
    got = sort_by_minima(_mk(spark, rows))
    order = list(dict.fromkeys(r["metric"] for r in got.collect()))
    assert order == ["q", "p"]  # min 1 < min 3; 'neg' dropped (max <= 0)


def test_unique_drops_duplicate_copies(series):
    doubled = series.unionByName(series)
    assert unique_series(doubled).count() == series.count()


# ------------------------------------------------------- percentile prune


def test_average_outside_percentile(spark):
    # averages 1..10; graphite rank band: lo = ceil(0.2*11) = rank 3
    # -> 3.0, hi = ceil(0.8*11) = rank 9 -> 9.0; boundary averages
    # (avg == lo or hi) survive: NOT (lo < avg < hi)
    rows = [(f"m{i:02d}", 0, float(i)) for i in range(1, 11)]
    got = _metrics(average_outside_percentile(_mk(spark, rows), 80))
    assert got == {"m01", "m02", "m03", "m09", "m10"}
    # n below 50 mirrors to 100-n (graphite rule)
    got2 = _metrics(average_outside_percentile(_mk(spark, rows), 20))
    assert got2 == got


def test_remove_between_percentile(spark):
    # per-ts values [0, 5, 5.5, 6, 100]; graphite rank band:
    # lo = ceil(0.2*6) = rank 2 -> 5.0, hi = rank 5 -> 100.0.
    # mid1 sits ON lo, and a boundary point is NOT strictly inside,
    # so mid1 survives; mid2/mid3 (strictly inside at every ts) drop.
    rows = []
    for t in (0, 60):
        rows += [("low", t, 0.0), ("mid1", t, 5.0), ("mid2", t, 5.5),
                 ("mid3", t, 6.0), ("high", t, 100.0)]
    got = _metrics(remove_between_percentile(_mk(spark, rows), 80))
    assert got == {"low", "mid1", "high"}


# ---------------------------------------------------------- series lists


def test_series_lists_pairwise_ops(spark):
    a = _mk(spark, [("a.x", 0, 10.0), ("a.x", 60, 20.0), ("a.y", 0, 9.0)])
    b = _mk(spark, [("b.x", 0, 2.0), ("b.x", 60, 4.0), ("b.y", 0, 3.0)])
    div = series_lists_op(a, b, "divide").collect()
    got = {(r["metric"], r["ts"]): r["value"] for r in div}
    assert got == {
        ("divideSeries(a.x,b.x)", 0): 5.0,
        ("divideSeries(a.x,b.x)", 60): 5.0,
        ("divideSeries(a.y,b.y)", 0): 3.0,
    }
    s = series_lists_op(a, b, "sum").collect()
    assert {(r["metric"], r["ts"]): r["value"] for r in s} == {
        ("sumSeries(a.x,b.x)", 0): 12.0,
        ("sumSeries(a.x,b.x)", 60): 24.0,
        ("sumSeries(a.y,b.y)", 0): 12.0,
    }


def test_series_lists_divide_by_zero_nulls(spark):
    a = _mk(spark, [("a.x", 0, 10.0)])
    b = _mk(spark, [("b.x", 0, 0.0)])
    [r] = series_lists_op(a, b, "divide").collect()
    assert r["value"] is None


def test_use_series_above(spark):
    reqs = [("reqs.w1", 0, 150.0), ("reqs.w1", 60, 120.0), ("reqs.w2", 0, 10.0)]
    lat = [("lat.w1", 0, 0.9), ("lat.w2", 0, 0.1)]
    base = _mk(spark, reqs + lat)
    sel = base.filter(F.col("metric").startswith("reqs."))
    got = use_series_above(sel, base, 100.0, "^reqs", "lat")
    assert _metrics(got) == {"lat.w1"}


# ------------------------------------------------------------- generators


def test_time_function_grid_from_base(series):
    got = time_function(series, "Time", 60)
    pts = _points(got, "Time")
    assert min(pts) == 1000 and max(pts) == 1180 and len(pts) == 4
    assert all(pts[t] == float(t) for t in pts)


def test_constant_line_three_points(series):
    got = constant_line(series, 42.0).collect()
    assert {r["ts"] for r in got} == {1000, 1090, 1180}
    assert all(r["value"] == 42.0 and r["metric"] == "42.0" for r in got)
    labeled = constant_line(series, 42.0, "limit").collect()
    assert all(r["metric"] == "limit" for r in labeled)


def test_generator_registry_entries(series):
    got = evaluate_target(series, "threshold(40, 'cap')")
    assert _metrics(got) == {"cap"}
    got = evaluate_target(series, "timeFunction('t', 120)")
    assert {r["ts"] for r in got.collect()} == {1000, 1120}
    # generators never contribute fetch globs
    assert collect_series_globs("threshold(40, 'cap')") == []
    assert collect_series_globs("group(s.a, identity(x))") == ["s.a"]


# ----------------------------------------------------------- consolidation


def test_consolidate_by_tags_frame(series):
    tagged = consolidate_by(series, "max")
    assert CONSOLIDATE_COL in tagged.columns
    assert tagged.select(CONSOLIDATE_COL).first()[0] == "max"
    with pytest.raises(ValueError):
        consolidate_by(series, "bogus")
    via_target = evaluate_target(series, "cumulative(s.a)")
    assert via_target.select(CONSOLIDATE_COL).first()[0] == "sum"


# ------------------------------------------------------------ legend family


def test_cacti_style_names(spark):
    df = _mk(spark, [("m", 0, 1.0), ("m", 60, 3.0)])
    [name] = _metrics(cacti_style(df))
    assert name == "m Current:3.00 Max:3.00 Min:1.00"


def test_legend_value_names(spark):
    df = _mk(spark, [("m", 0, 1.0), ("m", 60, 3.0)])
    [name] = _metrics(legend_value(df, "avg", "max"))
    assert name == "m (avg: 2.00) (max: 3.00)"
    with pytest.raises(ValueError):
        legend_value(df, "nope").collect()


def test_holt_winters_confidence_area_two_bands(spark):
    rows = [("m", i * 60, 10.0 + (i % 3)) for i in range(20)]
    got = holt_winters_confidence_area(_mk(spark, rows))
    ms = _metrics(got)
    assert ms == {"holtWintersConfidenceUpper(m)", "holtWintersConfidenceLower(m)"}
    assert got.count() == 40


# ----------------------------------------------------- registry round-trip


def test_round8_registry_entries(series):
    assert _metrics(evaluate_target(series, "sortByMinima(s.*)")) == {
        "s.a", "s.b", "s.c"}
    got = evaluate_target(series, "pow(s.a, 0.5)")
    assert _points(got, "s.a")[1180] == 2.0
    got = evaluate_target(series, "linearRegression(s.b)")
    assert _points(got, "s.b")[1180] == 40.0
    got = evaluate_target(series, "divideSeriesLists(s.a, s.b)")
    assert _metrics(got) == {"divideSeries(s.a,s.b)"}
    got = evaluate_target(series, "color(s.a, 'red')")
    assert _points(got, "s.a") == _points(series, "s.a")
    got = evaluate_target(series, "useSeriesAbove(s.c, 99, 'c$', 'a')")
    assert _metrics(got) == {"s.a"}
    got = evaluate_target(series, "averageOutsidePercentile(s.*, 90)")
    assert _metrics(got) == {"s.a", "s.c"}


# ------------------------------------------------- map/reduce/applyByNode


@pytest.fixture()
def disks(spark):
    rows = []
    for host, used, total in [("h1", 30.0, 100.0), ("h2", 60.0, 80.0)]:
        for t in (0, 60):
            rows.append((f"servers.{host}.disk.used", t, used))
            rows.append((f"servers.{host}.disk.total", t, total))
    return _mk(spark, rows)


def test_reduce_series_as_percent(disks):
    from graphouse_spark.functions.timeseries import reduce_series

    got = reduce_series(disks, "asPercent", 3, "used", "total")
    by = {(r["metric"], r["ts"]): r["value"] for r in got.collect()}
    assert by[("servers.h1.disk.reduce.asPercent", 0)] == 30.0
    assert by[("servers.h2.disk.reduce.asPercent", 60)] == 75.0
    assert len(by) == 4


def test_reduce_series_sum_and_errors(disks):
    from graphouse_spark.functions.timeseries import reduce_series

    got = reduce_series(disks, "sumSeries", 3, "used", "total")
    by = {(r["metric"], r["ts"]): r["value"] for r in got.collect()}
    assert by[("servers.h1.disk.reduce.sumSeries", 0)] == 130.0
    with pytest.raises(ValueError):
        reduce_series(disks, "nope", 3, "a", "b")
    with pytest.raises(ValueError):
        reduce_series(disks, "asPercent", 3, "only_one")


def test_reduce_series_via_target(disks):
    got = evaluate_target(
        disks,
        "reduceSeries(mapSeries(servers.*.disk.*, 1), 'divideSeries', 3, 'used', 'total')",
    )
    by = {(r["metric"], r["ts"]): r["value"] for r in got.collect()}
    assert by[("servers.h1.disk.reduce.divideSeries", 0)] == 0.3


def test_apply_by_node(disks):
    got = evaluate_target(
        disks,
        "applyByNode(servers.*.disk.used, 1, 'divideSeries(%.disk.used, %.disk.total)')",
    )
    by = {(r["metric"], r["ts"]): r["value"] for r in got.collect()}
    assert by[("divideSeries(servers.h1.disk.used, servers.h1.disk.total)", 0)] == 0.3
    assert by[("divideSeries(servers.h2.disk.used, servers.h2.disk.total)", 60)] == 0.75
    assert len(by) == 4


def test_apply_by_node_newname_and_globs(disks):
    got = evaluate_target(
        disks,
        "applyByNode(servers.*.disk.used, 1, 'divideSeries(%.disk.used, %.disk.total)', '%.pct')",
    )
    assert _metrics(got) == {"servers.h1.pct", "servers.h2.pct"}
    globs = collect_series_globs(
        "applyByNode(servers.*.disk.used, 1, 'divideSeries(%.disk.used, %.disk.total)')")
    assert globs == ["servers.*.disk.used", "servers.*.disk.total"]


# ----------------------------------------------------------- round 9 tail


def test_scale_to_seconds(spark):
    from graphouse_spark.functions.timeseries import scale_to_seconds

    # 60s-step series, rescale to per-second: value / 60
    df = _mk(spark, [("m", 0, 60.0), ("m", 60, 120.0), ("m", 120, 6.0)])
    got = _points(scale_to_seconds(df, 1), "m")
    assert got == {0: 1.0, 60: 2.0, 120: 0.1}
    # and to per-minute on a 300s-step series: value * 60/300
    df5 = _mk(spark, [("m", 0, 10.0), ("m", 300, 20.0)])
    assert _points(scale_to_seconds(df5, 60), "m") == {0: 2.0, 300: 4.0}


def test_aggregate_with_wildcards(spark):
    from graphouse_spark.functions.timeseries import aggregate_with_wildcards

    rows = [("a.h1.cpu", 0, 1.0), ("a.h2.cpu", 0, 3.0), ("a.h1.mem", 0, 10.0)]
    got = aggregate_with_wildcards(_mk(spark, rows), "sum", 1)
    by = {(r["metric"], r["ts"]): r["value"] for r in got.collect()}
    assert by == {("a.cpu", 0): 4.0, ("a.mem", 0): 10.0}
    with pytest.raises(ValueError):
        aggregate_with_wildcards(_mk(spark, rows), "nope", 1)


def test_pow_series_pairwise(spark):
    from graphouse_spark.functions.timeseries import pow_series_pairwise

    rows = [("a", 0, 2.0), ("b", 0, 3.0), ("a", 60, 4.0), ("b", 60, 0.5)]
    got = {r["ts"]: r["value"] for r in pow_series_pairwise(_mk(spark, rows)).collect()}
    assert got[0] == 8.0 and got[60] == 2.0
    # negative base under fractional exponent nulls (safePow)
    neg = [("a", 0, -4.0), ("b", 0, 0.5)]
    [r] = pow_series_pairwise(_mk(spark, neg)).collect()
    assert r["value"] is None


def test_sin_and_random_walk_generators(series):
    from graphouse_spark.functions.timeseries import (
        random_walk_function, sin_function)

    got = _points(sin_function(series, "s", 2.0, 60), "s")
    assert got[1000] == pytest.approx(2.0 * math.sin(1000), abs=1e-6)
    walk = random_walk_function(series, "w", 60)
    pts = _points(walk, "w")
    assert len(pts) == 4 and all(-2.0 < v < 2.0 for v in pts.values())
    # deterministic: a second evaluation replays identically
    assert _points(random_walk_function(series, "w", 60), "w") == pts
    via = evaluate_target(series, "randomWalk('w', 60)")
    assert _points(via, "w") == pts


def test_round9_registry(series):
    got = evaluate_target(series, "scaleToSeconds(s.a, 1)")
    assert _points(got, "s.a")[1060] == pytest.approx(2 / 60, abs=1e-6)
    got = evaluate_target(series, "aggregateWithWildcards(s.*, 'sum', 1)")
    assert _points(got, "s")[1000] == 111.0
    got = evaluate_target(series, "powSeries(s.a)")
    assert got.count() == 4


def test_alias_by_node_multi(spark):
    from graphouse_spark.functions.timeseries import alias_by_node

    df = _mk(spark, [("a.h1.cpu.user", 0, 1.0)])
    assert _metrics(alias_by_node(df, 1, 2)) == {"h1.cpu"}
    assert _metrics(alias_by_node(df, 1, -1)) == {"h1.user"}
    assert _metrics(evaluate_target(df, "aliasByNode(a.*.*.*, 1, 2)")) == {"h1.cpu"}


def test_aggregate_series_lists(spark):
    a = _mk(spark, [("a.x", 0, 10.0), ("a.y", 0, 8.0)])
    b = _mk(spark, [("b.x", 0, 2.0), ("b.y", 0, 4.0)])
    both = a.unionByName(b)

    def run(fn):
        got = evaluate_target(both, f"aggregateSeriesLists(a.*, b.*, '{fn}')")
        return {(r["metric"], r["ts"]): r["value"] for r in got.collect()}

    assert run("avg") == {("averageSeries(a.x,b.x)", 0): 6.0,
                          ("averageSeries(a.y,b.y)", 0): 6.0}
    assert run("diff")[("diffSeries(a.x,b.x)", 0)] == 8.0


def test_average_series_skips_gap_nulls(spark):
    # a gap-filled null is no value: averageSeries(a=3, b=null) is 3.0,
    # not 1.5, while countSeries still counts both series
    from graphouse_spark.functions.timeseries import stddev_series

    df = _mk(spark, [("g.a", 0, 3.0), ("g.b", 0, None),
                     ("g.a", 60, 2.0), ("g.b", 60, 4.0),
                     ("g.a", 120, None), ("g.b", 120, None)])
    got = evaluate_target(df, "averageSeries(g.*)")
    assert _points(got, "averageSeries") == {0: 3.0, 60: 3.0, 120: None}
    stats = {r["ts"]: r for r in stddev_series(df).collect()}
    assert stats[0]["stddev_value"] is None  # one non-null point
    assert stats[60]["stddev_value"] == pytest.approx(math.sqrt(2.0))
    assert [stats[t]["n_series"] for t in (0, 60, 120)] == [2, 2, 2]


# ------------------------------------------------------------------ LTTB


def _spiky(spark, n=400):
    import math as _m
    rows = []
    for i in range(n):
        v = round(10.0 + 2.0 * _m.sin(i / 7.0), 2)
        if i == 217:
            v = 99.0  # sharp spike LTTB must keep
        rows.append(("m", 1000 + i * 60, v))
    return _mk(spark, rows)


def test_lttb_parallel_keeps_shape(spark):
    from graphouse_spark.functions.timeseries import lttb_downsample

    src = _spiky(spark)
    got = lttb_downsample(src, 40).collect()
    ts = sorted(r["ts"] for r in got)
    vals = {r["ts"]: r["value"] for r in got}
    assert len(got) == 40
    assert ts[0] == 1000 and ts[-1] == 1000 + 399 * 60  # endpoints pinned
    assert 99.0 in vals.values()                         # spike survives
    orig = {(r["metric"], r["ts"], r["value"]) for r in src.collect()}
    assert all((r["metric"], r["ts"], r["value"]) in orig for r in got)
    with pytest.raises(ValueError):
        lttb_downsample(src, 2)


def test_lttb_exact_keeps_shape_and_bounds(spark):
    from graphouse_spark.functions.timeseries import lttb_downsample_exact

    src = _spiky(spark)
    got = lttb_downsample_exact(src, 40).collect()
    ts = sorted(r["ts"] for r in got)
    vals = {r["ts"]: r["value"] for r in got}
    assert len(got) == 40
    assert ts[0] == 1000 and ts[-1] == 1000 + 399 * 60
    assert 99.0 in vals.values()
    # short series pass through untouched
    short = _mk(spark, [("m", i * 60, float(i)) for i in range(5)])
    assert lttb_downsample_exact(short, 40).count() == 5


def test_lttb_small_buckets_and_multiseries(spark):
    from graphouse_spark.functions.timeseries import lttb_downsample

    rows = [("a", i * 60, float(i % 7)) for i in range(50)]
    rows += [("b", i * 60, float((i * 3) % 11)) for i in range(50)]
    got = lttb_downsample(_mk(spark, rows), 10)
    per = {m: c for m, c in got.groupBy("metric").count().collect()}
    assert per == {"a": 10, "b": 10}


# ------------------------------------------------- review-fix regressions


def test_generators_use_render_window_when_frame_empty(spark):
    """Through /render a generator-only target has an EMPTY selection
    frame; the evaluator must build the grid from start/end."""
    empty = _mk(spark, []) if False else spark.createDataFrame(
        [], "metric string, ts long, value double")
    got = evaluate_target(empty, "threshold(40, 'cap')", start=1000, end=1180)
    assert {r["ts"] for r in got.collect()} == {1000, 1090, 1180}
    got = evaluate_target(empty, "timeFunction('t', 60)", start=1000, end=1120)
    assert {r["ts"] for r in got.collect()} == {1000, 1060, 1120}


def test_use_series_above_globs_include_rewrite():
    globs = collect_series_globs(
        "useSeriesAbove(app.*.requests, 100, 'requests', 'latency')")
    assert globs == ["app.*.requests", "app.*.latency"]


def test_pow_series_pairwise_null_poisons(spark):
    from graphouse_spark.functions.timeseries import pow_series_pairwise

    rows = [("a", 0, None), ("b", 0, 5.0), ("a", 60, 2.0), ("b", 60, 3.0)]
    df = spark.createDataFrame(rows, "metric string, ts long, value double")
    got = {r["ts"]: r["value"] for r in pow_series_pairwise(df).collect()}
    assert got[0] is None   # gap in 'a' -> safePow(None, 5) -> None
    assert got[60] == 8.0   # untouched timestamps still fold


def test_group_aligns_consolidate_tag(series):
    got = evaluate_target(series, "group(cumulative(s.a), s.b)")
    assert got.count() == 8  # no AnalysisException from column mismatch


def test_reduce_series_deep_suffix_no_blowup(spark):
    rows = []
    for suffix, used, total in [("bytes", 30.0, 100.0), ("inodes", 5.0, 50.0)]:
        rows.append((f"srv.a.disk.used.{suffix}", 0, used))
        rows.append((f"srv.a.disk.total.{suffix}", 0, total))
    df = _mk(spark, rows)
    from graphouse_spark.functions.timeseries import reduce_series

    got = reduce_series(df, "asPercent", 3, "used", "total").collect()
    by = {r["metric"]: r["value"] for r in got}
    assert by == {
        "srv.a.disk.reduce.asPercent.bytes": 30.0,
        "srv.a.disk.reduce.asPercent.inodes": 10.0,
    }
    assert len(got) == 2  # one row per (group, suffix) — no cartesian


def test_series_with_wildcards_drop_semantics(spark):
    """graphite parity regression: *SeriesWithWildcards IGNORES the
    given positions (drops them from the name) — the earlier
    registration kept them (groupByNodes semantics) and produced wrong
    group keys entirely."""
    from graphouse_spark.functions.target import evaluate_target

    df = _mk(spark, [
        ("a.x.m", 0, 2.0), ("a.y.m", 0, 3.0), ("b.x.m", 0, 5.0),
    ])
    got = {(r["metric"], r["value"])
           for r in evaluate_target(df, "sumSeriesWithWildcards(*.*.m, 1)").collect()}
    assert got == {("a.m", 5.0), ("b.m", 5.0)}
    got = {(r["metric"], r["value"])
           for r in evaluate_target(df, "multiplySeriesWithWildcards(*.*.m, 1)").collect()}
    assert got == {("a.m", 6.0), ("b.m", 5.0)}
    got = {(r["metric"], r["value"])
           for r in evaluate_target(df, "averageSeriesWithWildcards(*.*.m, 1)").collect()}
    assert got == {("a.m", 2.5), ("b.m", 5.0)}


def test_keep_last_value_limit(spark):
    """graphite keepLastValue(series, limit): only gaps of <= limit
    consecutive nulls fill; a longer outage stays null."""
    from graphouse_spark.functions.target import evaluate_target

    rows = [("m", t, v) for t, v in
            [(0, 1.0), (60, None), (120, None), (180, 2.0),
             (240, None), (300, None), (360, None), (420, 3.0)]]
    df = spark.createDataFrame(rows, "metric string, ts long, value double")
    got = {r["ts"]: r["value"]
           for r in evaluate_target(df, "keepLastValue(m, 2)").collect()}
    assert got[60] == 1.0 and got[120] == 1.0          # 2-gap fills
    assert got[240] is None and got[300] is None and got[360] is None
    assert got[420] == 3.0
    # bare call still fills everything
    got = {r["ts"]: r["value"]
           for r in evaluate_target(df, "keepLastValue(m)").collect()}
    assert got[360] == 2.0


def test_sort_by_maxima_bare_call(spark):
    from graphouse_spark.functions.target import evaluate_target

    df = _mk(spark, [("a", 0, 1.0), ("b", 0, 9.0), ("c", 0, 5.0)])
    got = evaluate_target(df, "sortByMaxima(*)")
    assert {r["metric"] for r in got.collect()} == {"a", "b", "c"}


def test_weighted_average_node_pairing(spark):
    """weightedAverage(avg, weight, *nodes): series pair on the node
    positions, one output series per pairing key."""
    from graphouse_spark.functions.target import evaluate_target

    df = _mk(spark, [
        ("h1.cpu", 0, 10.0), ("h2.cpu", 0, 20.0),
        ("h1.reqs", 0, 1.0), ("h2.reqs", 0, 3.0),
    ])
    got = {(r["metric"], r["value"]) for r in
           evaluate_target(df, "weightedAverage(*.cpu, *.reqs, 0)").collect()}
    assert got == {("h1", 10.0), ("h2", 20.0)}
    # cross-host single group without nodes is the full-name pairing:
    # names differ (cpu vs reqs) so nothing pairs -> empty
    got = evaluate_target(df, "weightedAverage(*.cpu, *.reqs)")
    assert got.count() == 0


def test_duration_string_windows_and_intervals(spark):
    """graphite targets pass durations as strings ('5min', '1h') — the
    registry must accept both forms everywhere: moving windows switch
    to a trailing RANGE frame, interval functions parse to seconds."""
    from graphouse_spark.functions.target import evaluate_target

    rows = [("m", t * 60, float(t + 1)) for t in range(6)]
    df = spark.createDataFrame(rows, "metric string, ts long, value double")
    by_pts = {r["ts"]: r["value"]
              for r in evaluate_target(df, "movingAverage(m, 3)").collect()}
    by_dur = {r["ts"]: r["value"]
              for r in evaluate_target(df, "movingAverage(m, '3min')").collect()}
    # on a regular 60 s grid, 3 points == trailing 3 minutes
    assert by_pts == by_dur
    assert by_pts[300] == 5.0  # (4+5+6)/3

    got = {r["ts"]: r["value"]
           for r in evaluate_target(df, "summarize(m, '5min', 'sum')").collect()}
    assert got[0] == 1 + 2 + 3 + 4 + 5
    got2 = {r["ts"]: r["value"]
            for r in evaluate_target(df, "summarize(m, 300, 'sum')").collect()}
    assert got == got2

    s = {r["ts"]: r["value"]
         for r in evaluate_target(df, "movingSum(m, '2min')").collect()}
    assert s[120] == 2.0 + 3.0


def test_as_percent_total_forms(spark):
    from graphouse_spark.functions.target import evaluate_target

    df = _mk(spark, [("a.x", 0, 1.0), ("a.y", 0, 3.0), ("t.z", 0, 8.0)])
    # default: share of the selection
    got = {(r["metric"], r["value"])
           for r in evaluate_target(df, "asPercent(a.*)").collect()}
    assert got == {("a.x", 25.0), ("a.y", 75.0)}
    # constant total
    got = {(r["metric"], r["value"])
           for r in evaluate_target(df, "asPercent(a.*, 10)").collect()}
    assert got == {("a.x", 10.0), ("a.y", 30.0)}
    # series total: divide by the OTHER selection's per-ts sum
    got = {(r["metric"], r["value"])
           for r in evaluate_target(df, "asPercent(a.*, t.z)").collect()}
    assert got == {("a.x", 12.5), ("a.y", 37.5)}


def test_sort_by_total_bare_call(spark):
    from graphouse_spark.functions.target import evaluate_target

    df = _mk(spark, [("a", 0, 1.0), ("b", 0, 9.0)])
    got = evaluate_target(df, "sortByTotal(*)")
    assert {r["metric"] for r in got.collect()} == {"a", "b"}


def test_as_percent_pairs_equal_length_totals(spark):
    """graphite matchSeries: same-count total list pairs one-to-one by
    sorted name — asPercent(app.*.hits, app.*.requests) must divide
    each hits series by ITS OWN requests series, never the sum."""
    from graphouse_spark.functions.target import evaluate_target

    df = _mk(spark, [
        ("app.a.hits", 0, 1.0), ("app.b.hits", 0, 3.0),
        ("app.a.req", 0, 4.0), ("app.b.req", 0, 4.0),
    ])
    got = {(r["metric"], r["value"])
           for r in evaluate_target(
               df, "asPercent(app.*.hits, app.*.req)").collect()}
    assert got == {("app.a.hits", 25.0), ("app.b.hits", 75.0)}


def test_as_percent_mismatched_totals_raise(spark):
    from graphouse_spark.functions.timeseries import as_percent

    s = _mk(spark, [("a.x", 0, 1.0), ("a.y", 0, 3.0)])
    t = _mk(spark, [("t.1", 0, 1.0), ("t.2", 0, 1.0), ("t.3", 0, 1.0)])
    with pytest.raises(ValueError, match="same number"):
        as_percent(s, t)


def test_as_percent_nodes_grouping(spark):
    """asPercent(s, total, 1): series and totals group by node 1; each
    series divides by its key group's per-ts total sum."""
    from graphouse_spark.functions.timeseries import as_percent

    s = _mk(spark, [("s.a.hits", 0, 1.0), ("s.b.hits", 0, 2.0)])
    t = _mk(spark, [("t.a.req", 0, 4.0), ("t.b.req", 0, 8.0),
                    ("t2.b.req", 0, 8.0)])
    got = {(r["metric"], r["pct"]) for r in as_percent(s, t, nodes=(1,)).collect()}
    assert got == {("s.a.hits", 25.0), ("s.b.hits", 12.5)}


def test_as_percent_nodes_default_total(spark):
    from graphouse_spark.functions.timeseries import as_percent

    s = _mk(spark, [("s.a.x", 0, 1.0), ("s.a.y", 0, 3.0),
                    ("s.b.x", 0, 5.0)])
    got = {(r["metric"], r["pct"]) for r in as_percent(s, nodes=(1,)).collect()}
    assert got == {("s.a.x", 25.0), ("s.a.y", 75.0), ("s.b.x", 100.0)}


def test_as_percent_nodes_numeric_total_raises(spark):
    """graphite: asPercent(series, 100, 1) with nodes requires total
    to be None or a seriesList — clean ValueError, not an
    AttributeError on the float."""
    from graphouse_spark.functions.timeseries import as_percent

    df = spark.createDataFrame(
        [("s.a.x", 0, 1.0), ("s.a.y", 0, 3.0)],
        "metric string, ts long, value double")
    with pytest.raises(ValueError, match="nodes"):
        as_percent(df, total=100.0, nodes=[1])


# ----------------------------------------------------------- aliasQuery


def test_alias_query(disks):
    # graphite aliasQuery: rewrite each series NAME into a query,
    # evaluate it, %-format its last value into the alias
    # (graphite-web functions.py aliasQuery)
    got = evaluate_target(
        disks,
        r"aliasQuery(servers.*.disk.used, 'used$', 'total', '%d total')",
    )
    assert _metrics(got) == {"100 total", "80 total"}
    # values untouched — only names change
    by = {(r["metric"], r["ts"]): r["value"] for r in got.collect()}
    assert by[("100 total", 0)] == 30.0
    assert by[("80 total", 60)] == 60.0


def test_alias_query_float_format_and_backref(disks):
    got = evaluate_target(
        disks,
        r"aliasQuery(servers.*.disk.used, '(servers\..*)\.used', '\1.total', 'cap %.1f')",
    )
    assert _metrics(got) == {"cap 100.0", "cap 80.0"}


def test_alias_query_no_data_raises(disks):
    with pytest.raises(ValueError, match="no series found"):
        evaluate_target(
            disks,
            r"aliasQuery(servers.*.disk.used, 'used$', 'nope', '%d')",
        )


def test_alias_query_prefetch_globs():
    globs = collect_series_globs(
        r"aliasQuery(servers.*.disk.used, 'used$', 'total', '%d total')")
    assert globs == ["servers.*.disk.used", "servers.*.disk.total"]
