"""Graphite transform functions as DataFrame operators.

The reference serves these from graphite-web AFTER fetching raw series
(SURVEY §2.10 — graphouse only finds+fetches; graphouse.py:119-131).
Re-expressing the core family engine-side means a consumer can push
the transform into the scan instead of pulling every point to a
renderer — at 100 TB the difference between shipping buckets and
shipping raw points.

All pure window/agg expressions over the canonical series shape
(metric, ts, value); ties and frames are deterministic, so every
operator is DuckDB-oracle-able.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _moving_frame(window, metric_col: str, ts_col: str):
    """ROWS frame for an integer point count, RANGE frame (seconds on
    the epoch ts) for a duration — graphite's movingAverage family
    accepts both forms ("5" points vs "'5min'")."""
    base = Window.partitionBy(metric_col).orderBy(F.col(ts_col).cast("long"))
    if isinstance(window, str):
        from graphouse_spark.queryparams import parse_render_time

        sec = -parse_render_time("-" + window.lstrip("+-"), 0)
        return base.rangeBetween(-(int(sec) - 1), Window.currentRow)
    return base.rowsBetween(-(int(window) - 1), Window.currentRow)


def _xff_gate(w, value_col: str, x_files_factor: float | None) -> Column:
    """graphite movingWindow-family ``xFilesFactor``: a window result
    only counts when the non-null fraction of the window clears the
    factor (None/0 = graphite's default: any value suffices)."""
    if not x_files_factor:
        return F.lit(True)
    nn = F.count(value_col).over(w)
    tot = F.count(F.lit(1)).over(w)
    return nn >= F.lit(float(x_files_factor)) * tot


def moving_average(series: DataFrame, window_points: int | str = 3,
                   x_files_factor: float | None = None,
                   metric_col: str = "metric", ts_col: str = "ts",
                   value_col: str = "value") -> DataFrame:
    """graphite ``movingAverage(series, N[, xFilesFactor])``: mean of
    the last N points (ROWS frame) or, with a duration string ('5min'),
    of the trailing time range (RANGE frame) — both graphite call
    forms. ``xFilesFactor`` nulls windows that are mostly empty."""
    w = _moving_frame(window_points, metric_col, ts_col)
    return series.select(
        metric_col, ts_col,
        F.when(_xff_gate(w, value_col, x_files_factor),
               F.round(F.avg(value_col).over(w), 6)).alias("moving_avg"),
    )


def running_total(series: DataFrame, metric_col: str = "metric",
                  ts_col: str = "ts", value_col: str = "value") -> DataFrame:
    """graphite ``integral(series)``: cumulative sum over time."""
    w = (
        Window.partitionBy(metric_col)
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return series.select(
        metric_col, ts_col,
        F.round(F.sum(value_col).over(w), 6).alias("running_total"),
    )


def non_negative_derivative(series: DataFrame, max_value: float | None = None,
                            metric_col: str = "metric",
                            ts_col: str = "ts", value_col: str = "value") -> DataFrame:
    """graphite ``nonNegativeDerivative(series[, maxValue])``: per-second
    rate of a counter, null where the counter reset (value decreased) —
    graphite emits None there rather than a negative spike. With
    ``maxValue`` a decrease reads as counter WRAP and the delta is
    recovered exactly as graphite-web's ``_nonNegativeDelta`` does:
    ``max_value - prev + curr + 1`` (the wrap traverses maxValue -> 0,
    one extra increment), and a point whose value EXCEEDS maxValue is
    null (same recovery as :func:`per_second`)."""
    return _counter_rate(series, max_value, metric_col, ts_col, value_col)


def time_shift(series: DataFrame, shift_seconds: int,
               metric_col: str = "metric", ts_col: str = "ts",
               value_col: str = "value") -> DataFrame:
    """graphite ``timeShift``: move the series along the time axis
    (positive = into the future), for week-over-week comparisons.

    graphite's ``resetEnd``/``alignDST`` flags assume a REFETCH of the
    shifted window (it clips the refetched data back to the request
    end); the engine shifts the frame it was handed, so the whole
    shifted range is the result — the registry accepts those flags for
    target compatibility but they cannot change what data exists."""
    return series.select(
        metric_col,
        (F.col(ts_col) + shift_seconds).alias(ts_col),
        value_col,
    )


def sum_series(series: DataFrame, ts_col: str = "ts",
               value_col: str = "value") -> DataFrame:
    """graphite ``sumSeries``: collapse many series into one by summing
    aligned points (one partial+final agg; metrics with missing buckets
    simply contribute nothing, matching graphite's None-skipping)."""
    return (
        series.groupBy(ts_col)
        .agg(F.round(F.sum(value_col), 6).alias("sum_value"),
             F.count(F.lit(1)).alias("n_series"))
    )


def _graphite_pctl(arr: Column, p: float, interpolate: bool = False) -> Column:
    """graphite ``_getPercentile`` (render/functions.py) as a Catalyst
    expression over a SORTED null-free array: fractional rank
    ``p * (n + 1)``; the non-interpolated form takes the ceil-rank
    element clamped to [1, n], the interpolated form blends the
    floor-rank element toward the next one by the fractional part.

    This is graphite's own (n+1)-rank convention — NOT numpy/Spark
    linear interpolation over (n-1) — so every percentile family
    function matches graphite's values exactly, including at small n.
    ``F.get`` (0-based, null on out-of-range) keeps the expression safe
    under ANSI mode and on empty arrays.
    """
    n = F.size(arr)
    fr = F.lit(float(p)) * (n + F.lit(1))
    if not interpolate:
        k = F.greatest(F.lit(1), F.least(n, F.ceil(fr).cast("int")))
        return F.when(n > 0, F.get(arr, k - 1))
    rank = F.floor(fr).cast("int")
    frac = fr - F.floor(fr)
    base = F.get(arr, F.greatest(F.lit(1), F.least(n, rank)) - 1)
    nxt = F.get(arr, F.least(n, rank + 1) - 1)
    return F.when(
        n > 0,
        F.when(rank >= n, F.get(arr, n - 1)).otherwise(base + frac * (nxt - base)),
    )


def _sorted_values(value_col: str) -> Column:
    """Aggregate expression: the sorted null-free value array
    ``_graphite_pctl`` consumes (collect_list drops nulls)."""
    return F.sort_array(F.collect_list(value_col))


def percentile_of_series(series: DataFrame, p: float = 0.95,
                         interpolate: bool = False,
                         ts_col: str = "ts", value_col: str = "value") -> DataFrame:
    """graphite ``percentileOfSeries(series, n, interpolate=False)``:
    per aligned point, graphite's (n+1)-rank percentile across all
    series (one partial+final agg)."""
    return (
        series.groupBy(ts_col)
        .agg(F.round(
            _graphite_pctl(_sorted_values(value_col), p, interpolate), 6,
        ).alias("pct_value"))
    )


def alias_by_node(series: DataFrame, *nodes: int,
                  metric_col: str = "metric") -> DataFrame:
    """graphite ``aliasByNode(series, *nodes)``: rename each series to
    the dot-join of the selected path segments (0-based, negatives
    from the end; graphite accepts any number of nodes)."""
    parts = F.split(F.col(metric_col), r"\.")

    def seg(node: int):
        idx = F.lit(node + 1) if node >= 0 else F.size(parts) + (node + 1)
        return F.element_at(parts, idx)

    renamed = F.concat_ws(".", *[seg(int(n)) for n in nodes])
    return series.withColumn(metric_col, renamed)


def keep_last_value(series: DataFrame, limit: int | None = None,
                    metric_col: str = "metric",
                    ts_col: str = "ts", value_col: str = "value") -> DataFrame:
    """graphite ``keepLastValue(series[, limit])``: forward-fill null
    points with the most recent non-null value of the same series;
    with ``limit``, only gaps of at most that many CONSECUTIVE nulls
    fill — longer outages stay null (graphite's limit semantics, so a
    dead host doesn't flatline forever).

    One window pass: an ignorenulls ``last`` fills, and (with a limit)
    the length of the null run the row sits in gates the fill.
    """
    wo = Window.partitionBy(metric_col).orderBy(ts_col)
    w = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    filled = F.last(value_col, ignorenulls=True).over(w)
    if limit is None:
        out = filled
    else:
        # graphite fills a null RUN only when its WHOLE length is
        # <= limit (it backfills once a value closes the gap; a longer
        # outage stays null end to end) — the check needs the run
        # length, hence a lookahead to the next non-null row
        rn = F.row_number().over(wo)
        nn_rn = F.when(F.col(value_col).isNotNull(), rn)
        last_nn = F.max(nn_rn).over(w)
        next_nn = F.min(nn_rn).over(
            wo.rowsBetween(Window.currentRow, Window.unboundedFollowing))
        max_rn = F.max(rn).over(
            wo.rowsBetween(Window.unboundedPreceding,
                           Window.unboundedFollowing))
        run_len = F.coalesce(next_nn - last_nn - 1, max_rn - last_nn)
        out = (F.when(F.col(value_col).isNotNull(), F.col(value_col))
               .when(last_nn.isNotNull() & (run_len <= limit), filled))
    return series.select(metric_col, ts_col, out.alias("filled_value"))


def divide_series(num: DataFrame, den: DataFrame, ts_col: str = "ts",
                  value_col: str = "value",
                  metric_col: str = "metric") -> DataFrame:
    """graphite ``divideSeries(dividendSeriesList, divisorSeries)``:
    every dividend series divides pointwise by the ONE divisor series;
    more than one divisor raises, exactly graphite's ValueError (use
    divideSeriesLists for rank pairing). Division by zero or a missing
    divisor point yields null (graphite emits None there).

    When the dividend frame carries a metric column, each dividend
    keeps its own result series named ``divideSeries(d,divisor)`` —
    the previous collapse-to-one-name behavior silently merged
    multi-dividend calls. Metric-less frames (pre-aggregated) keep the
    bare (ts, ratio) contract.

    An equi-join on ts — broadcastable when the divisor is a single
    aggregated series, else a co-partitioned sort-merge join.
    """
    # limit(2): the rule only needs "exactly one?" — never materialize
    # a wide divisor selection's full name set driver-side
    den_names = ([r[0] for r in
                  den.select(metric_col).distinct().limit(2).collect()]
                 if metric_col in den.columns else [None])
    if len(den_names) != 1:
        raise ValueError(
            "divideSeries second argument must reference exactly 1 series"
            f" (got {len(den_names)})")
    d = den.select(ts_col, F.col(value_col).alias("_den"))
    ratio = F.when(F.col("_den") != 0, F.round(F.col("_num") / F.col("_den"), 6))
    if metric_col in num.columns:
        dn = den_names[0] if den_names[0] is not None else "divisor"
        n = num.select(metric_col, ts_col, F.col(value_col).alias("_num"))
        return n.join(F.broadcast(d), ts_col, "left").select(
            F.concat(F.lit("divideSeries("), F.col(metric_col),
                     F.lit(f",{dn})")).alias(metric_col),
            ts_col, ratio.alias("ratio"))
    n = num.select(ts_col, F.col(value_col).alias("_num"))
    return n.join(d, ts_col, "left").select(ts_col, ratio.alias("ratio"))


def highest_max(series: DataFrame, n: int, metric_col: str = "metric",
                ts_col: str = "ts", value_col: str = "value") -> DataFrame:
    """graphite ``highestMax(series, N)``: keep only the N series whose
    peak value is highest (name-asc tiebreak for determinism), returning
    their full series.

    Per-series max is a partial+final agg; the top-N selection is
    ``orderBy().limit(n)`` — Catalyst plans TakeOrderedAndProject
    (per-partition heaps merged on the driver), NOT a global-window
    row_number, which would funnel every series through one task at
    10M-metric cardinality. The tiny winner set broadcasts back as a
    semi-join, so the big side never reshuffles.
    """
    peaks = series.groupBy(metric_col).agg(F.max(value_col).alias("_peak"))
    top = peaks.orderBy(F.desc("_peak"), F.asc(metric_col)).limit(n)
    return series.join(
        F.broadcast(top.select(metric_col)), metric_col, "left_semi"
    ).select(metric_col, ts_col, value_col)


def stddev_series(series: DataFrame, ts_col: str = "ts",
                  value_col: str = "value") -> DataFrame:
    """graphite ``stddevSeries`` + ``averageSeries`` + ``countSeries`` in
    one aligned-point pass (sample stddev; null when only one series
    contributes, matching SQL semantics on both engines). Like graphite,
    the mean and stddev take only the non-null points at a timestamp
    (a gap-filled null is no value, not a zero); ``n_series`` counts
    every series.

    Engine-portable formulation: built-in ``stddev_samp`` accumulates
    floats in data order (Welford vs sum-of-squares differs across
    engines too), so the 6th digit can flip. Instead the aggregation
    keeps EXACT integer micro-unit sums S1 = Σv, S2 = Σv² (decimal —
    overflow-safe), then every engine runs the identical scalar
    formula sqrt((S2 - S1²/n)/(n-1)) on identical numbers.
    """
    micro = F.round(F.col(value_col) * 1_000_000).cast("decimal(38,0)")
    s1 = F.sum(micro).cast("double")
    s2 = F.sum(micro * micro).cast("double")
    n = F.count(F.col(value_col)).cast("double")
    var = (s2 - s1 * s1 / n) / (n - 1)
    std = F.when(n > 1, F.sqrt(F.greatest(var, F.lit(0.0))) / 1_000_000.0)
    return (
        series.groupBy(ts_col)
        .agg(
            # round at INTEGER micro precision: s1/n is an exact multiple
            # of 0.25 in double, so the half cases round identically on
            # every engine; round(x/1e6, 6) instead hits engine-specific
            # behavior exactly at those halves
            (F.round(s1 / n) / 1_000_000.0).alias("avg_value"),
            F.round(std, 6).alias("stddev_value"),
            F.count(F.lit(1)).alias("n_series"),
        )
    )


def as_percent(series: DataFrame, total=None, nodes: tuple[int, ...] = (),
               metric_col: str = "metric",
               ts_col: str = "ts", value_col: str = "value") -> DataFrame:
    """graphite ``asPercent(series[, total[, *nodes]])``: each series'
    share of the aligned-point total. Default total = sum across the
    selection (one window sum over the ts partition — no self-join);
    a NUMBER divides by a constant. A SERIES frame follows
    graphite-web's pairing rules (render/functions.py asPercent):
    exactly ONE total series divides everything; the SAME number of
    total series pairs one-to-one by rank of sorted metric name
    (matchSeries); any other count raises, matching graphite's
    ValueError — it never silently sums a multi-series total. With
    ``nodes``, series group by the dotted-path node key and divide by
    the per-key per-timestamp sum of the total frame (or of the
    selection itself when total is None); keys with no total yield
    null. Zero totals yield null (graphite's None)."""
    if nodes:
        if total is not None and not isinstance(total, DataFrame):
            # graphite: "total must be None or a seriesList" when
            # nodes are given — a clean ValueError, not an attribute
            # crash on the numeric (render/functions.py asPercent)
            raise ValueError(
                "asPercent with nodes requires total to be None or a "
                "series selection, not a constant")
        key = F.concat_ws(".", *[
            F.element_at(F.split(metric_col, r"\."), int(n) + 1)
            for n in nodes
        ])
        if total is None:
            w = Window.partitionBy("_key", ts_col)
            tot = F.sum(value_col).over(w)
            pct = F.when(tot != 0,
                         F.round(F.col(value_col) * 100.0 / tot, 6))
            return (series.withColumn("_key", key)
                    .select(metric_col, ts_col, pct.alias("pct")))
        totals = (total.withColumn("_key", key)
                  .groupBy("_key", ts_col)
                  .agg(F.sum(value_col).alias("_tot")))
        joined = (series.withColumn("_key", key)
                  .join(F.broadcast(totals), ["_key", ts_col], "left"))
        pct = F.when(F.col("_tot") != 0,
                     F.round(F.col(value_col) * 100.0 / F.col("_tot"), 6))
        return joined.select(metric_col, ts_col, pct.alias("pct"))
    if total is None:
        w = Window.partitionBy(ts_col)
        tot = F.sum(value_col).over(w)
        pct = F.when(tot != 0, F.round(F.col(value_col) * 100.0 / tot, 6))
        return series.select(metric_col, ts_col, pct.alias("pct"))
    if isinstance(total, (int, float)):
        tot = F.lit(float(total))
        pct = F.when(tot != 0, F.round(F.col(value_col) * 100.0 / tot, 6))
        return series.select(metric_col, ts_col, pct.alias("pct"))
    # series-frame total: graphite pairing. Name lists are
    # render-selection sized (metadata), so the driver may look.
    t_names = sorted(r[0] for r in
                     total.select(metric_col).distinct().collect())
    if len(t_names) == 1:
        totals = (total.groupBy(ts_col)
                  .agg(F.sum(value_col).alias("_tot")))
        joined = series.join(F.broadcast(totals), ts_col, "left")
        pct = F.when(F.col("_tot") != 0,
                     F.round(F.col(value_col) * 100.0 / F.col("_tot"), 6))
        return joined.select(metric_col, ts_col, pct.alias("pct"))
    s_names = sorted(r[0] for r in
                     series.select(metric_col).distinct().collect())
    if len(t_names) != len(s_names):
        raise ValueError(
            "asPercent second argument must be missing, a single digit, "
            "reference exactly 1 series or reference the same number of "
            "series as the first argument")
    mapping = series.sparkSession.createDataFrame(
        list(zip(s_names, t_names)), [metric_col, "_tm"])
    totals = total.select(F.col(metric_col).alias("_tmetric"),
                          F.col(ts_col).alias("_tts"),
                          F.col(value_col).alias("_tot"))
    joined = (series
              .join(F.broadcast(mapping), metric_col, "left")
              .join(F.broadcast(totals),
                    (F.col("_tm") == F.col("_tmetric"))
                    & (F.col(ts_col) == F.col("_tts")), "left"))
    pct = F.when(F.col("_tot") != 0,
                 F.round(F.col(value_col) * 100.0 / F.col("_tot"), 6))
    return joined.select(metric_col, ts_col, pct.alias("pct"))


def average_above(series: DataFrame, threshold: float, metric_col: str = "metric",
                  ts_col: str = "ts", value_col: str = "value") -> DataFrame:
    """graphite ``averageAbove(series, X)``: keep only series whose mean
    clears the threshold — per-series agg, broadcast semi-join back."""
    means = (
        series.groupBy(metric_col)
        .agg(F.avg(value_col).alias("_mean"))
        .filter(F.col("_mean") >= threshold)
    )
    return series.join(
        F.broadcast(means.select(metric_col)), metric_col, "left_semi"
    ).select(metric_col, ts_col, value_col)


def _resolve_agg(function: str):
    """Resolve a graphite aggregation-function name (with graphite's
    alias spellings: average/avg, total/sum, current/last, rangeOf/
    range) to a col -> Column callable. Shared by summarize /
    groupByNode(s) / aggregateWithWildcards so every entry accepts the
    same names graphite's aggFuncs table does."""
    from graphouse_spark.operators.bucket import AGG_FUNCTIONS

    name = {"average": "avg", "total": "sum",
            "current": "last", "rangeOf": "range"}.get(function, function)
    extras = {
        "median": lambda c: F.percentile(c, F.lit(0.5)),
        "count": lambda c: F.count(c).cast("double"),
        "range": lambda c: F.max(c) - F.min(c),
        "stddev": F.stddev_pop,
    }
    fn = AGG_FUNCTIONS.get(name) or extras.get(name)
    if fn is None:
        raise ValueError(f"unknown aggregation function {function!r}")
    return fn


def summarize(series: DataFrame, interval_seconds: int, function: str = "sum",
              align_to_from: bool = False,
              anchor_seconds: int | None = None,
              metric_col: str = "metric", ts_col: str = "ts",
              value_col: str = "value") -> DataFrame:
    """graphite ``summarize(series, interval, func, alignToFrom)``:
    re-bucket each series to a coarser grid (one partial+final agg).
    Default buckets align on epoch interval boundaries; ``alignToFrom``
    anchors them at the RENDER-WINDOW start (graphite's
    requestContext startTime) — pass it as ``anchor_seconds``. When no
    window is known (bare library use) the per-series min ts is the
    engine analog; that fallback needs a window function sharing the
    groupBy's exchange, while a known anchor is a shuffle-free
    scan-stage expression."""
    agg = _resolve_agg(function)
    if align_to_from:
        if anchor_seconds is not None:
            start = F.lit(int(anchor_seconds))
        else:
            start = F.min(ts_col).over(Window.partitionBy(metric_col))
        bucket = (F.col(ts_col)
                  - (F.col(ts_col) - start) % interval_seconds).alias(ts_col)
        return (
            series.withColumn("_b", bucket)
            .groupBy(metric_col, F.col("_b").alias(ts_col))
            .agg(F.round(agg(value_col), 6).alias(value_col))
        )
    bucket = (F.col(ts_col) - F.col(ts_col) % interval_seconds).alias(ts_col)
    return (
        series.groupBy(metric_col, bucket)
        .agg(F.round(agg(value_col), 6).alias(value_col))
    )


def holt_winters_forecast(series: DataFrame, alpha: float = 0.1, beta: float = 0.0035,
                          metric_col: str = "metric", ts_col: str = "ts",
                          value_col: str = "value") -> DataFrame:
    """graphite ``holtWintersForecast``-style double exponential
    smoothing (level + trend; the seasonal term is omitted — graphite's
    weekly season needs a 7-day bootstrap window, meaningless on short
    ranges). One-step-ahead forecast per point plus the running
    deviation that powers confidence bands.

    The recurrence (level_t depends on level_{t-1}) cannot be a window
    expression, so each series runs as a vectorized-ish loop inside
    ``applyInPandas`` — the standard custom-stateful-operator shape:
    partition by series key, sort by time inside the group, carry state
    in Python. Each group is one series (small); parallelism comes from
    the number of series, which is exactly how the load distributes on
    a real cluster.

    Returns (metric, ts, value, forecast, deviation) — forecast/
    deviation are null for the first point (no history), rounded to 6.
    """
    import pandas as pd

    gamma = 0.1  # deviation smoothing, graphite's hwDeviation constant shape

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts_col).reset_index(drop=True)
        n = len(pdf)
        forecasts = [None] * n
        deviations = [None] * n
        level = trend = dev = None
        for i, v in enumerate(pdf[value_col]):
            if v is None or (isinstance(v, float) and v != v):
                continue
            if level is None:
                level, trend, dev = float(v), 0.0, 0.0
                continue
            forecast = level + trend
            forecasts[i] = round(forecast, 6)
            dev = gamma * abs(float(v) - forecast) + (1 - gamma) * dev
            deviations[i] = round(dev, 6)
            last_level = level
            level = alpha * float(v) + (1 - alpha) * (level + trend)
            trend = beta * (level - last_level) + (1 - beta) * trend
        out = pdf[[metric_col, ts_col, value_col]].copy()
        out["forecast"] = pd.array(forecasts, dtype="float64")
        out["deviation"] = pd.array(deviations, dtype="float64")
        return out

    schema = f"{metric_col} string, {ts_col} long, {value_col} double, forecast double, deviation double"
    return series.groupBy(metric_col).applyInPandas(fit, schema)


def scale_series(series: DataFrame, factor: float, value_col: str = "value") -> DataFrame:
    """graphite ``scale(series, factor)``."""
    return series.withColumn(value_col, F.round(F.col(value_col) * factor, 6))


def offset_series(series: DataFrame, amount: float, value_col: str = "value") -> DataFrame:
    """graphite ``offset(series, amount)``."""
    return series.withColumn(value_col, F.round(F.col(value_col) + amount, 6))


def absolute_series(series: DataFrame, value_col: str = "value") -> DataFrame:
    """graphite ``absolute(series)``."""
    return series.withColumn(value_col, F.abs(F.col(value_col)))


def group_by_node(series: DataFrame, node: int, function: str = "average",
                  metric_col: str = "metric", ts_col: str = "ts",
                  value_col: str = "value") -> DataFrame:
    """graphite ``groupByNode(series, N, func)``: re-key every series to
    its Nth path segment and aggregate aligned points within each new
    key — alias_by_node composed with one partial+final agg. The
    default callback is ``average``, graphite's default (a silent
    ``sum`` default turns every rate dashboard wrong)."""
    agg = _resolve_agg(function)
    rekeyed = alias_by_node(series, node, metric_col=metric_col)
    return (
        rekeyed.groupBy(metric_col, ts_col)
        .agg(F.round(agg(value_col), 6).alias(value_col))
    )


# --------------------------------------------------------------------------
# round 3: moving stats, rate, selection, regression, combining
# --------------------------------------------------------------------------

def moving_stats(series: DataFrame, window_points: int | str = 5,
                 x_files_factor: float | None = None,
                 metric_col: str = "metric", ts_col: str = "ts",
                 value_col: str = "value") -> DataFrame:
    """graphite ``movingMedian/movingMin/movingMax/movingSum`` in one
    window pass (ROWS frame of the last N points, point-count semantics
    like movingAverage). ``xFilesFactor`` nulls mostly-empty windows.

    The moving sum runs on exact integer micro-units so the result is
    independent of the engine's in-frame summation order; median over a
    handful of exact values interpolates identically everywhere.
    Duration-string windows ('10min') use a trailing RANGE frame.
    """
    w = _moving_frame(window_points, metric_col, ts_col)
    micro = F.round(F.col(value_col) * 1_000_000).cast("long")
    ok = _xff_gate(w, value_col, x_files_factor)
    return series.select(
        metric_col, ts_col,
        F.when(ok, F.round(
            F.percentile(value_col, F.lit(0.5)).over(w), 6)).alias("mov_median"),
        F.when(ok, F.min(value_col).over(w)).alias("mov_min"),
        F.when(ok, F.max(value_col).over(w)).alias("mov_max"),
        F.when(ok, F.sum(micro).over(w) / 1_000_000.0).alias("mov_sum"),
    )


def per_second(series: DataFrame, max_value: float | None = None,
               metric_col: str = "metric", ts_col: str = "ts",
               value_col: str = "value") -> DataFrame:
    """graphite ``perSecond(series[, maxValue])``: counter rate per
    second; on counter wrap (value decreased) the delta is recovered as
    ``max_value - prev + curr + 1`` when maxValue is given (graphite's
    ``_nonNegativeDelta``), else null; values above maxValue are null."""
    return _counter_rate(series, max_value, metric_col, ts_col, value_col)


def _counter_rate(series: DataFrame, max_value: float | None,
                  metric_col: str, ts_col: str, value_col: str) -> DataFrame:
    """Shared nonNegativeDerivative/perSecond kernel, matching
    graphite-web functions.py ``_nonNegativeDelta``: delta = curr - prev
    when non-negative; with maxValue, a decrease recovers as
    ``maxValue - prev + curr + 1`` (the wrap passes through maxValue AND
    0, hence the extra count) and any curr > maxValue yields None."""
    w = Window.partitionBy(metric_col).orderBy(ts_col)
    prev = F.lag(value_col).over(w)
    dv = F.col(value_col) - prev
    dt = F.col(ts_col) - F.lag(ts_col).over(w)
    if max_value is not None:
        dv = F.when(dv >= 0, dv).otherwise(
            F.lit(max_value) - prev + F.col(value_col) + F.lit(1.0))
        rate = F.when((F.col(value_col) <= F.lit(max_value)) & (dt > 0),
                      F.round(dv / dt, 6))
    else:
        rate = F.when((dv >= 0) & (dt > 0), F.round(dv / dt, 6))
    return series.select(metric_col, ts_col, rate.alias("rate"))


def remove_above_value(series: DataFrame, threshold: float,
                       value_col: str = "value") -> DataFrame:
    """graphite ``removeAboveValue``: points above the bound become null
    (graphite's None), keeping the grid shape for later gap handling."""
    keep = F.when(F.col(value_col) <= threshold, F.col(value_col))
    return series.withColumn(value_col, keep)


def remove_below_value(series: DataFrame, threshold: float,
                       value_col: str = "value") -> DataFrame:
    """graphite ``removeBelowValue``: points below the bound become null."""
    keep = F.when(F.col(value_col) >= threshold, F.col(value_col))
    return series.withColumn(value_col, keep)


def transform_null(series: DataFrame, default: float = 0.0,
                   reference: DataFrame | None = None,
                   ts_col: str = "ts", value_col: str = "value") -> DataFrame:
    """graphite ``transformNull(series, X[, referenceSeries])``: nulls
    become the default — but when a reference selection is given, only
    at timestamps where at least one reference series has a value
    (graphite's per-interval gate). The reference reduces to a tiny
    distinct-ts frame broadcast onto the stream."""
    if reference is None:
        return series.withColumn(
            value_col, F.coalesce(F.col(value_col), F.lit(default)))
    ref_ts = (
        reference.groupBy(ts_col)
        .agg((F.count(value_col) > 0).alias("_has"))
        .filter(F.col("_has"))
        .select(ts_col, F.lit(True).alias("_fill"))
    )
    return (
        series.join(F.broadcast(ref_ts), ts_col, "left")
        .withColumn(
            value_col,
            F.when(F.col(value_col).isNull() & F.col("_fill").isNotNull(),
                   F.lit(default)).otherwise(F.col(value_col)))
        .drop("_fill")
    )


def current_above(series: DataFrame, threshold: float,
                  metric_col: str = "metric", ts_col: str = "ts",
                  value_col: str = "value") -> DataFrame:
    """graphite ``currentAbove(series, X)``: keep series whose LAST
    reading clears the bound. max_by(value, ts) is one partial+final
    agg; winners broadcast back as a semi-join (same shape as
    highest_max — the big side never reshuffles)."""
    last = (
        series.groupBy(metric_col)
        .agg(F.max_by(value_col, ts_col).alias("_last"))
        .filter(F.col("_last") >= threshold)
    )
    return series.join(
        F.broadcast(last.select(metric_col)), metric_col, "left_semi"
    ).select(metric_col, ts_col, value_col)


def sort_by_total(series: DataFrame, n: int | None = None,
                  metric_col: str = "metric",
                  ts_col: str = "ts", value_col: str = "value") -> DataFrame:
    """graphite ``sortByTotal(series)`` (optionally fused with
    ``limit(..., N)``): series ranked by largest total; graphite's bare
    call ranks everything.

    Totals accumulate in exact micro-units (order-independent across
    engines); top-N is orderBy().limit() = TakeOrderedAndProject
    (per-partition heaps, no single-task global window), winners
    broadcast back.
    """
    micro = F.round(F.col(value_col) * 1_000_000).cast("long")
    totals = series.groupBy(metric_col).agg(
        (F.sum(micro) / 1_000_000.0).alias("_total")
    )
    top = totals.orderBy(F.desc("_total"), F.asc(metric_col))
    if n is not None:
        top = top.limit(n)
    w = Window.orderBy(F.desc("_total"), F.asc(metric_col))
    ranked = top.withColumn("rank", F.row_number().over(w))  # n rows — tiny
    return (
        series.join(F.broadcast(ranked), metric_col)
        .select(metric_col, "rank", ts_col, value_col,
                F.round("_total", 6).alias("series_total"))
    )


def n_percentile(series: DataFrame, p: float = 0.9,
                 metric_col: str = "metric", ts_col: str = "ts",
                 value_col: str = "value") -> DataFrame:
    """graphite ``nPercentile(series, N)``: each series flattened to its
    own Nth percentile (a constant series), graphite's (n+1)-rank
    convention. One per-series aggregate broadcast-joined back onto the
    grid (cheaper at scale than a per-row window array)."""
    cuts = series.groupBy(metric_col).agg(
        F.round(_graphite_pctl(_sorted_values(value_col), p), 6).alias("pctl_value"))
    return series.select(metric_col, ts_col).join(
        F.broadcast(cuts), metric_col).select(metric_col, ts_col, "pctl_value")


def linear_regression(series: DataFrame, metric_col: str = "metric",
                      ts_col: str = "ts", value_col: str = "value") -> DataFrame:
    """graphite ``linearRegression``-style per-series least-squares fit.

    Engine-portable: the moment sums n, Σx, Σy, Σxx, Σxy accumulate as
    EXACT integers (x = seconds from the series' own start so xx can't
    overflow; y in micro-units, decimal sums), then slope/intercept are
    one scalar formula over identical numbers on every engine —
    built-in regr_slope accumulates floats in partition order, which
    flips the 6th digit across engines.
    """
    start = Window.partitionBy(metric_col)
    x = (F.col(ts_col) - F.min(ts_col).over(start)).cast("decimal(38,0)")
    y = F.round(F.col(value_col) * 1_000_000).cast("decimal(38,0)")
    with_xy = series.select(metric_col, x.alias("_x"), y.alias("_y"))
    n = F.count(F.lit(1)).cast("double")
    sx = F.sum("_x").cast("double")
    sy = F.sum("_y").cast("double")
    sxx = F.sum(F.col("_x") * F.col("_x")).cast("double")
    sxy = F.sum(F.col("_x") * F.col("_y")).cast("double")
    denom = n * sxx - sx * sx
    slope = (n * sxy - sx * sy) / denom
    intercept = (sy - slope * sx) / n
    return with_xy.groupBy(metric_col).agg(
        F.when(denom != 0, F.round(slope / 1_000_000.0, 9)).alias("slope"),
        F.when(denom != 0, F.round(intercept / 1_000_000.0, 6)).alias("intercept"),
        F.count(F.lit(1)).alias("n_points"),
    )


def combine_series(series: DataFrame, ts_col: str = "ts",
                   value_col: str = "value") -> DataFrame:
    """graphite ``minSeries/maxSeries/rangeOfSeries/sumSeries`` in one
    aligned-point pass. min/max are exact; the sum runs in integer
    micro-units so it is summation-order-independent."""
    micro = F.round(F.col(value_col) * 1_000_000).cast("long")
    return series.groupBy(ts_col).agg(
        F.min(value_col).alias("min_value"),
        F.max(value_col).alias("max_value"),
        F.round(F.max(value_col) - F.min(value_col), 6).alias("range_value"),
        (F.sum(micro) / 1_000_000.0).alias("sum_value"),
        F.count(F.lit(1)).alias("n_series"),
    )


def integral_by_interval(series: DataFrame, interval_seconds: int,
                         anchor_seconds: int = 0,
                         metric_col: str = "metric", ts_col: str = "ts",
                         value_col: str = "value") -> DataFrame:
    """graphite ``integralByInterval``: cumulative sum that resets at
    each interval boundary (e.g. daily totals that restart at midnight).
    graphite counts intervals from the REQUEST start — the registry
    threads the render-window start through ``anchor_seconds`` (0 =
    epoch alignment, the library default). The reset is free — the
    interval bucket just joins the window partition key; micro-unit
    sums keep the prefix exact."""
    off = F.col(ts_col) - F.lit(int(anchor_seconds))
    bucket = (F.col(ts_col)
              - ((off % interval_seconds) + interval_seconds) % interval_seconds)
    w = (
        Window.partitionBy(metric_col, bucket.alias("_b"))
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    micro = F.round(F.col(value_col) * 1_000_000).cast("long")
    return series.select(
        metric_col, ts_col,
        (F.sum(micro).over(w) / 1_000_000.0).alias("running_value"),
    )


def changed(series: DataFrame, metric_col: str = "metric",
            ts_col: str = "ts", value_col: str = "value") -> DataFrame:
    """graphite ``changed(series)``: 1 where the value differs from the
    previous point, 0 where equal (first point: 0, like graphite)."""
    w = Window.partitionBy(metric_col).orderBy(ts_col)
    prev = F.lag(value_col).over(w)
    flag = F.when(prev.isNull() | (prev == F.col(value_col)), F.lit(0)).otherwise(F.lit(1))
    return series.select(metric_col, ts_col, flag.alias("changed"))


def holt_winters_bands(series: DataFrame, delta: float = 3.0,
                       metric_col: str = "metric", ts_col: str = "ts",
                       value_col: str = "value") -> DataFrame:
    """graphite ``holtWintersConfidenceBands`` + ``holtWintersAberration``:
    bands = forecast ± delta * deviation; aberration = how far the
    observed value strays OUTSIDE the band (0 inside it).

    Pure column arithmetic over ``holt_winters_forecast`` — the
    recurrence already produced level/trend/deviation, so the bands add
    no extra pass over the data.
    """
    hw = holt_winters_forecast(series, metric_col=metric_col,
                               ts_col=ts_col, value_col=value_col)
    upper = F.round(F.col("forecast") + delta * F.col("deviation"), 6)
    lower = F.round(F.col("forecast") - delta * F.col("deviation"), 6)
    aberration = F.when(F.col(value_col) > upper, F.round(F.col(value_col) - upper, 6)) \
        .when(F.col(value_col) < lower, F.round(F.col(value_col) - lower, 6)) \
        .otherwise(F.when(F.col("forecast").isNotNull(), F.lit(0.0)))
    return hw.select(
        metric_col, ts_col, value_col,
        upper.alias("upper_band"),
        lower.alias("lower_band"),
        aberration.alias("aberration"),
    )


# ---------------------------------------------------------------------------
# graphite function family, round 4
# ---------------------------------------------------------------------------

def weighted_average(series: DataFrame, weights: DataFrame,
                     nodes: list[int] | None = None,
                     metric_col: str = "metric", ts_col: str = "ts",
                     value_col: str = "value",
                     weight_col: str = "weight") -> DataFrame:
    """graphite ``weightedAverage(seriesListAvg, seriesListWeight,
    *nodes)``: pair each avg series with its weight series BY the given
    node positions (the two lists' full names usually differ — e.g.
    ``*.cpu`` weighted by ``*.reqs`` pairs on the host node), then per
    pairing key and timestamp emit sum(value*weight)/sum(weight).
    Without nodes the pairing key is the full name (one output group).
    One equi-join + one aggregation; zero total weight yields null
    (graphite's None). Output rows: (_key, ts, wavg)."""

    def key_of(col):
        if not nodes:
            return col
        parts = F.split(col, r"\.")
        return F.concat_ws(".", *[F.get(parts, int(i)) for i in nodes])

    a = series.select(key_of(F.col(metric_col)).alias("_key"),
                      F.col(ts_col), F.col(value_col))
    b = weights.select(key_of(F.col(metric_col)).alias("_key"),
                       F.col(ts_col), F.col(weight_col))
    joined = a.join(b, ["_key", ts_col])
    wsum = F.sum(F.col(weight_col))
    wavg = F.when(
        wsum != 0,
        F.round(F.sum(F.col(value_col) * F.col(weight_col)) / wsum, 6),
    ).alias("wavg")
    if not nodes:
        # full-name pairing, ONE combined output series (the engine's
        # node-less form: every paired series folds into the total)
        return joined.groupBy(ts_col).agg(wavg).select(
            F.lit("weightedAverage").alias("_key"), ts_col, "wavg")
    return joined.groupBy("_key", ts_col).agg(wavg)


def min_max_normalize(series: DataFrame, metric_col: str = "metric",
                      ts_col: str = "ts", value_col: str = "value") -> DataFrame:
    """graphite ``minMax(series)``: rescale each series to [0, 1] by its
    own min/max (flat series -> 0). Window min/max over the metric
    partition — no self-join."""
    w = Window.partitionBy(metric_col)
    lo, hi = F.min(value_col).over(w), F.max(value_col).over(w)
    norm = F.when(hi != lo, F.round((F.col(value_col) - lo) / (hi - lo), 6)).otherwise(0.0)
    return series.select(metric_col, ts_col, norm.alias("norm"))


def log_series(series: DataFrame, base: float = 10.0,
               value_col: str = "value") -> DataFrame:
    """graphite ``logarithm(series, base)``: log_base(value); null for
    values <= 0 (graphite emits None)."""
    v = F.col(value_col)
    out = F.when(v > 0, F.round(F.log(v) / math.log(base), 6))
    return series.withColumn(value_col, out)


def alias_sub(series: DataFrame, pattern: str, replacement: str,
              metric_col: str = "metric") -> DataFrame:
    """graphite ``aliasSub(series, regex, replacement)``: regex rename
    of the metric name (scan-stage expression). graphite replacements
    use Python's ``\\1`` group references while Spark's regexp_replace
    speaks Java's ``$1`` — translate token by token (group refs,
    ``\\g<n>``, escaped backslashes, literal ``$``) so dashboard
    targets written for graphite substitute correctly. A dangling or
    unknown escape raises ValueError exactly like Python's re.sub
    ("bad escape") — passing it through would make Java's replacement
    parser throw executor-side instead."""
    return series.withColumn(
        metric_col,
        F.regexp_replace(F.col(metric_col), pattern,
                         _java_replacement(replacement)),
    )


def _java_replacement(replacement: str) -> str:
    """Translate a Python re.sub replacement template to Java
    ``Matcher.appendReplacement`` syntax: ``\\N``/``\\g<N>`` -> ``$N``,
    ``\\\\`` -> literal backslash (Java spelling ``\\\\``), recognized
    character escapes to their characters, ``$`` -> ``\\$``. Unknown or
    dangling escapes raise ValueError, mirroring Python's "bad escape"
    so graphite-authored templates fail identically."""
    import re as _re

    out: list[str] = []
    i, n = 0, len(replacement)
    char_escapes = {"n": "\n", "t": "\t", "r": "\r", "f": "\f",
                    "v": "\v", "a": "\a", "b": "\b", "0": "\0"}
    while i < n:
        ch = replacement[i]
        if ch == "$":
            out.append(r"\$")
            i += 1
            continue
        if ch != "\\":
            out.append(ch)
            i += 1
            continue
        if i + 1 >= n:
            raise ValueError("bad escape (end of pattern) in replacement")
        nxt = replacement[i + 1]
        if nxt == "\\":
            out.append("\\\\")
            i += 2
        elif nxt.isdigit() and nxt != "0":
            m = _re.match(r"\d{1,2}", replacement[i + 1:])
            out.append("$" + m.group(0))
            i += 1 + len(m.group(0))
        elif nxt == "g":
            m = _re.match(r"g<(\d+)>", replacement[i + 1:])
            if not m:
                raise ValueError(
                    f"bad escape \\g at position {i} in replacement")
            out.append("$" + m.group(1))
            i += 1 + m.end()
        elif nxt in char_escapes:
            out.append(char_escapes[nxt])
            i += 2
        else:
            raise ValueError(
                f"bad escape \\{nxt} at position {i} in replacement")
    return "".join(out)


def grep_series(series: DataFrame, pattern: str,
                metric_col: str = "metric") -> DataFrame:
    """graphite ``grep(series, regex)``: keep series whose name matches."""
    return series.filter(F.col(metric_col).rlike(pattern))


def exclude_series(series: DataFrame, pattern: str,
                   metric_col: str = "metric") -> DataFrame:
    """graphite ``exclude(series, regex)``: drop series whose name matches."""
    return series.filter(~F.col(metric_col).rlike(pattern))


def average_outside_percentile(series: DataFrame, n: float,
                               metric_col: str = "metric",
                               value_col: str = "value") -> DataFrame:
    """graphite ``averageOutsidePercentile(series, n)``: keep the series
    whose per-series average falls outside the [100-n, n] percentile
    band of all series averages (n normalized to >= 50).

    Two tiny aggregations over the per-series averages (one row per
    series); the band is a broadcastable 1-row frame crossed onto the
    filter, so the full stream is never re-shuffled."""
    n = max(n, 100.0 - n) / 100.0
    # exact integer micro-unit averages: the band bounds ARE two of
    # these averages, so boundary membership (avg == lo/hi) must hold
    # bit-for-bit regardless of partition summation order
    micro = F.round(F.col(value_col) * 1_000_000).cast("long")
    avgs = series.groupBy(metric_col).agg(
        (F.sum(micro) / (F.count(value_col) * 1_000_000.0)).alias("_avg"))
    band = avgs.agg(_sorted_values("_avg").alias("_l")).select(
        _graphite_pctl(F.col("_l"), 1.0 - n).alias("_lo"),
        _graphite_pctl(F.col("_l"), n).alias("_hi"),
    )
    # graphite keeps series where NOT (lo < avg < hi) — boundary
    # averages (avg == lo or avg == hi) survive
    keep = (
        avgs.crossJoin(F.broadcast(band))
        .filter((F.col("_avg") <= F.col("_lo")) | (F.col("_avg") >= F.col("_hi")))
        .select(metric_col)
    )
    return series.join(F.broadcast(keep), metric_col, "left_semi")


def interpolate_series(series: DataFrame, limit: int | None = None,
                       metric_col: str = "metric",
                       ts_col: str = "ts", value_col: str = "value") -> DataFrame:
    """graphite ``interpolate(series[, limit])``: fill null points
    linearly between their nearest known neighbors; leading/trailing
    nulls stay null (no known endpoint to anchor them). ``limit`` caps
    the CONSECUTIVE-null run length that may be filled (graphite's
    signature: gaps longer than limit points stay null).

    Two ordered windows over the metric partition (last-known-before
    and first-known-after, both ``ignorenulls``) — a single shuffle on
    the series key, no self-joins, no per-row Python; the gap length
    falls out of the same windows as a row-number difference.
    """
    w_ord = Window.partitionBy(metric_col).orderBy(ts_col)
    w_prev = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    w_next = w_ord.rowsBetween(0, Window.unboundedFollowing)
    v = F.col(value_col)
    known_ts = F.when(v.isNotNull(), F.col(ts_col))
    pv = F.last(v, ignorenulls=True).over(w_prev)
    pt = F.last(known_ts, ignorenulls=True).over(w_prev)
    nv = F.first(v, ignorenulls=True).over(w_next)
    nt = F.first(known_ts, ignorenulls=True).over(w_next)
    fill_ok = pv.isNotNull() & nv.isNotNull()
    if limit is not None:
        rn = F.row_number().over(w_ord)
        known_rn = F.when(v.isNotNull(), rn)
        pr = F.last(known_rn, ignorenulls=True).over(w_prev)
        nr = F.first(known_rn, ignorenulls=True).over(w_next)
        fill_ok = fill_ok & ((nr - pr - 1) <= int(limit))
    filled = F.when(v.isNotNull(), v).otherwise(
        F.when(
            fill_ok,
            F.round(pv + (nv - pv) * (F.col(ts_col) - pt) / (nt - pt), 6),
        )
    )
    return series.withColumn(value_col, filled)


def moving_stddev(series: DataFrame, window_points: int | str = 5,
                  window_tolerance: float = 0.1,
                  metric_col: str = "metric", ts_col: str = "ts",
                  value_col: str = "value") -> DataFrame:
    """graphite ``stdev(series, N, windowTolerance)`` over a ROWS frame.

    Population stddev from exact integer micro-unit moment sums
    (sum, sum of squares, count) — the in-frame summation order can't
    perturb the result, so any engine reproduces it bit-for-bit.
    Duration-string windows use a trailing RANGE frame. The moments
    count only NON-NULL points (graphite skips Nones), and a window
    whose valid fraction falls below ``windowTolerance`` yields null
    (graphite's validPoints / windowSize gate).
    """
    w = _moving_frame(window_points, metric_col, ts_col)
    micro = F.round(F.col(value_col) * 1_000_000).cast("long")
    # the SUMS are exact integers (order-independent); the variance is
    # then evaluated in double — s1*s1 would flirt with int64 overflow,
    # and an identical double expression reproduces bit-for-bit anywhere
    s1 = F.sum(micro).over(w).cast("double")
    s2 = F.sum(micro * micro).over(w).cast("double")
    n = F.count(value_col).over(w).cast("double")
    var_micro2 = (s2 - s1 * s1 / n) / n  # micro^2 units
    ok = _xff_gate(w, value_col, window_tolerance) & (n > 0)
    return series.select(
        metric_col, ts_col,
        F.when(ok, F.round(
            F.sqrt(F.greatest(var_micro2, F.lit(0.0))) / 1_000_000.0, 6,
        )).alias("mov_stddev"),
    )


def sort_by_maxima(series: DataFrame, n: int | None = None,
                   metric_col: str = "metric",
                   ts_col: str = "ts", value_col: str = "value") -> DataFrame:
    """graphite ``sortByMaxima(series)`` (optionally fused with
    ``limit(..., N)``): series ranked by largest peak — same
    TakeOrderedAndProject + broadcast-back shape as sortByTotal. With
    no ``n`` every series is ranked (graphite's bare call)."""
    maxima = series.groupBy(metric_col).agg(F.max(value_col).alias("_peak"))
    top = maxima.orderBy(F.desc("_peak"), F.asc(metric_col))
    if n is not None:
        top = top.limit(n)
    w = Window.orderBy(F.desc("_peak"), F.asc(metric_col))
    ranked = top.withColumn("rank", F.row_number().over(w))  # n rows — tiny
    return (
        series.join(F.broadcast(ranked), metric_col)
        .select(metric_col, ts_col, value_col, "rank")
    )


def exponential_moving_average(series: DataFrame, window_points: int = 8,
                               metric_col: str = "metric", ts_col: str = "ts",
                               value_col: str = "value") -> DataFrame:
    """graphite ``exponentialMovingAverage(series, N)``, truncated to
    the last N points and renormalized.

    Graphite's EMA is a sequential recurrence (ema = c*v + (1-c)*ema,
    c = 2/(N+1)) — a shape that serializes per series. Truncating the
    tail (weights beyond N points contribute < (1-c)^N, under 11% of
    the mass at N=8 and shrinking geometrically) turns it into a plain
    ROWS-frame window: each output depends on a FIXED frame, so the
    operator parallelizes like every other moving aggregate.

    The weighted sum runs in exact integers: with c = 2/(N+1) rational,
    weight_j ∝ num^(m-1-j) * den^j for the j-th oldest of m in-frame
    points (num/den = 1-c reduced). Values are cents, so numerator and
    denominator are integer dot products — bit-identical on any engine
    and partitioning — divided once at the end.
    """
    from fractions import Fraction

    one_minus_c = Fraction(window_points - 1, window_points + 1)  # 1 - 2/(N+1)
    num, den = one_minus_c.numerator, one_minus_c.denominator

    w = (
        Window.partitionBy(metric_col)
        .orderBy(ts_col)
        .rowsBetween(-(window_points - 1), Window.currentRow)
    )
    cents = F.round(F.col(value_col) * 100).cast("long")
    frame = F.collect_list(cents).over(w)  # oldest -> newest in frame order

    def weighted(vals):
        m = F.size(vals)
        idx = F.sequence(F.lit(1), m)  # j = 1..m (oldest first)
        wts = F.transform(
            idx,
            lambda j: F.pow(F.lit(num), (m - j).cast("double")).cast("long")
            * F.pow(F.lit(den), (j - 1).cast("double")).cast("long"),
        )
        n_sum = F.aggregate(
            F.zip_with(vals, wts, lambda v, wt: v * wt),
            F.lit(0).cast("long"), lambda acc, x: acc + x,
        )
        d_sum = F.aggregate(wts, F.lit(0).cast("long"), lambda acc, x: acc + x)
        return n_sum, d_sum

    n_sum, d_sum = weighted(frame)
    return series.select(
        metric_col, ts_col,
        F.round(n_sum / (d_sum * 100.0), 6).alias("ema"),
    )


def offset_to_zero(series: DataFrame, metric_col: str = "metric",
                   ts_col: str = "ts", value_col: str = "value") -> DataFrame:
    """graphite ``offsetToZero(series)``: subtract each series' minimum
    (one unbounded window min — no second scan or join)."""
    w = Window.partitionBy(metric_col)
    return series.select(
        metric_col, ts_col,
        F.round(F.col(value_col) - F.min(value_col).over(w), 6).alias("value"),
    )


def infer_native_step(series: DataFrame, metric_col: str = "metric",
                      ts_col: str = "ts", default: int = 60) -> DataFrame:
    """Per-metric native step = the MODAL positive timestamp delta
    (graphite reads ``series.step`` off whisper metadata; the engine
    analog is what the data actually shows — robust to gaps, which a
    min-delta would be too, but a min is fooled by a single duplicate
    while the mode needs half the series corrupted). Ties prefer the
    finer step. One window + one aggregation; the result is one row
    per metric, broadcastable. Metrics with <2 points get ``default``.

    Returns ``(metric_col, _step)``.
    """
    w = Window.partitionBy(metric_col).orderBy(ts_col)
    deltas = (series
              .select(metric_col,
                      (F.col(ts_col) - F.lag(ts_col).over(w)).alias("_d"))
              .where(F.col("_d").isNotNull() & (F.col("_d") > 0)))
    counts = deltas.groupBy(metric_col, "_d").agg(F.count("*").alias("_c"))
    rk = Window.partitionBy(metric_col).orderBy(F.desc("_c"), F.asc("_d"))
    return (counts
            .withColumn("_rk", F.row_number().over(rk))
            .where(F.col("_rk") == 1)
            .select(metric_col, F.col("_d").cast("long").alias("_step")))


def hitcount(series: DataFrame, interval_seconds: int,
             step_seconds: int | None = None,
             anchor_seconds: int = 0, metric_col: str = "metric",
             ts_col: str = "ts", value_col: str = "value") -> DataFrame:
    """graphite ``hitcount(series, interval)``: convert a rate series to
    the total hit COUNT per coarse bucket — each point's integral
    (value x the seconds of its native interval) is credited to the
    buckets it overlaps, PRORATED across an edge exactly like
    graphite-web's render/functions.py hitcount, with buckets anchored
    at ``anchor_seconds`` (graphite anchors at the request start;
    ``alignToInterval=True`` is anchor rounded down to the interval —
    the render path passes the window start through).

    ``step_seconds=None`` (the default) infers each series' NATIVE
    step from its modal timestamp delta (:func:`infer_native_step`) —
    graphite derives the interval from ``series.step``, so hitcount
    over 300s-rollup or summarize()d input must integrate over the
    real point width, not an assumed 60 s. Pass an int to pin it.

    Spark-first: each point explodes to the 1-2 buckets its native
    interval [ts, ts+step) covers (``sequence`` over bucket indices —
    bounded by ceil(step/interval)+1, almost always 1), the overlap is
    computed in exact integer cents x seconds, and one partial+final
    aggregation sums every series at once — no per-series post-fetch
    loop. Bucket totals are order-independent and engine-exact.
    """
    a = int(anchor_seconds)
    iv = int(interval_seconds)
    if step_seconds is None:
        steps = infer_native_step(series, metric_col, ts_col)
        series = (series.join(F.broadcast(steps), metric_col, "left")
                  .withColumn("_step",
                              F.coalesce(F.col("_step"), F.lit(60))))
    else:
        series = series.withColumn(
            "_step", F.lit(int(step_seconds)).cast("long"))
    step = F.col("_step")
    # exact floor division on possibly-negative offsets: pmod is
    # always non-negative, so (x - pmod(x, iv)) / iv is floor(x/iv)
    off0 = F.col(ts_col) - a
    off1 = F.col(ts_col) + step - 1 - a
    b0 = ((off0 - F.pmod(off0, iv)) / iv).cast("long")
    b1 = ((off1 - F.pmod(off1, iv)) / iv).cast("long")
    cents = F.round(F.col(value_col) * 100).cast("long")
    exploded = series.select(
        metric_col,
        F.col(ts_col).alias("_pt"),
        step.alias("_step"),
        cents.alias("_cents"),
        F.explode(F.sequence(b0, b1)).alias("_b"),
    )
    lo = F.greatest(F.col("_pt"), F.lit(a) + F.col("_b") * iv)
    hi = F.least(F.col("_pt") + F.col("_step"),
                 F.lit(a) + (F.col("_b") + 1) * iv)
    return (
        exploded.groupBy(
            metric_col, (F.lit(a) + F.col("_b") * iv).alias(ts_col)
        )
        .agg(F.round(F.sum(F.col("_cents") * (hi - lo)) / 100.0, 6).alias("hits"))
    )


def smart_summarize(series: DataFrame, interval_seconds: int, anchor_seconds: int,
                    function: str = "avg", metric_col: str = "metric",
                    ts_col: str = "ts", value_col: str = "value") -> DataFrame:
    """graphite ``smartSummarize(series, interval, func)``: summarize
    with buckets aligned to the REQUEST START (anchor), not the epoch —
    the difference that makes "last 7 days ending now" bucket cleanly.

    Same one-aggregation shape as summarize(); only the bucket
    arithmetic changes: anchor + floor((ts - anchor)/interval)*interval
    (floor division keeps pre-anchor points in their own buckets).
    ``avg`` runs in exact integer cents like the series builder.
    """
    off = F.col(ts_col) - anchor_seconds
    bucket = (F.lit(anchor_seconds)
              + (off - ((off % interval_seconds) + interval_seconds) % interval_seconds)
              ).alias(ts_col)
    cents = F.round(F.col(value_col) * 100).cast("long")
    function = {"average": "avg", "total": "sum"}.get(function, function)
    if function == "avg":
        agg = F.round(F.sum(cents) / (F.count(F.lit(1)) * 100.0), 6)
    elif function == "sum":
        agg = F.round(F.sum(cents) / 100.0, 6)
    elif function == "max":
        agg = F.max(F.col(value_col))
    elif function == "min":
        agg = F.min(F.col(value_col))
    else:
        raise ValueError(f"unknown aggregation function {function!r}")
    return series.groupBy(metric_col, bucket).agg(agg.alias(value_col))


def most_deviant(series: DataFrame, n: int, metric_col: str = "metric",
                 ts_col: str = "ts", value_col: str = "value") -> DataFrame:
    """graphite ``mostDeviant(series, N)``: the N series with the
    largest population stddev, returned as their full point sets tagged
    with ``rank`` (1 = most deviant).

    Variance comes from exact integer micro-unit moment sums (same
    trick as moving_stddev: sums are order-independent integers, the
    final variance is one double expression), so the RANKING — the
    part that must be reproducible — never depends on float summation
    order. Unlike the N-point moving frames, a full series' sum of
    squared micros overflows int64 (4e8^2 x thousands of points), so
    the second moment accumulates as decimal(38,0) — still exact, still
    order-free. TakeOrderedAndProject on the tiny per-series aggregate,
    then a broadcast join tags the points; no second scan of the big
    side.
    """
    micro = F.round(F.col(value_col) * 1_000_000).cast("decimal(19,0)")
    stats = series.groupBy(metric_col).agg(
        F.sum(micro).cast("double").alias("_s1"),
        F.sum(micro * micro).cast("double").alias("_s2"),
        F.count(F.lit(1)).cast("double").alias("_n"),
    )
    var = (F.col("_s2") - F.col("_s1") * F.col("_s1") / F.col("_n")) / F.col("_n")
    ranked = (
        stats.withColumn("_var", var)
        .orderBy(F.desc("_var"), F.asc(metric_col))
        .limit(n)
    )
    w = Window.orderBy(F.desc("_var"), F.asc(metric_col))
    top = ranked.withColumn("rank", F.row_number().over(w)).select(metric_col, "rank")
    return (
        series.join(F.broadcast(top), metric_col)
        .select(metric_col, ts_col, value_col, "rank")
    )


def maximum_above(series: DataFrame, threshold: float,
                  metric_col: str = "metric",
                  value_col: str = "value") -> DataFrame:
    """graphite ``maximumAbove(series, t)``: keep series whose peak
    exceeds t. One unbounded window max — no join, no second scan."""
    w = Window.partitionBy(metric_col)
    return (
        series.withColumn("_mx", F.max(value_col).over(w))
        .filter(F.col("_mx") > threshold)
        .drop("_mx")
    )


def minimum_below(series: DataFrame, threshold: float,
                  metric_col: str = "metric",
                  value_col: str = "value") -> DataFrame:
    """graphite ``minimumBelow(series, t)``: keep series whose minimum
    dips below t. Same single-window shape as maximum_above."""
    w = Window.partitionBy(metric_col)
    return (
        series.withColumn("_mn", F.min(value_col).over(w))
        .filter(F.col("_mn") < threshold)
        .drop("_mn")
    )


def delay_series(series: DataFrame, steps: int, metric_col: str = "metric",
                 ts_col: str = "ts", value_col: str = "value") -> DataFrame:
    """graphite ``delay(series, steps)``: shift each series' values
    forward by N points (null until history exists) — one window lag,
    the same shuffle the surrounding transforms already use."""
    w = Window.partitionBy(metric_col).orderBy(ts_col)
    return series.select(
        metric_col, ts_col,
        F.lag(value_col, steps).over(w).alias(value_col),
    )


def time_slice(series: DataFrame, start: int, end: int,
               ts_col: str = "ts", value_col: str = "value") -> DataFrame:
    """graphite ``timeSlice(series, start, end)``: null out points
    outside [start, end) — the predicate-pushdown twin is a plain
    filter; graphite keeps the grid, so the value is nulled, not the
    row dropped."""
    keep = (F.col(ts_col) >= start) & (F.col(ts_col) < end)
    return series.withColumn(value_col, F.when(keep, F.col(value_col)))


def pow_family(series: DataFrame, metric_col: str = "metric",
               ts_col: str = "ts", value_col: str = "value") -> DataFrame:
    """graphite ``pow(series, 2)`` / ``squareRoot`` / ``invert`` in one
    projection. squared is v*v (not libm pow — multiplication is
    IEEE-exact on every engine); sqrt/1/x are correctly-rounded IEEE
    ops; invert nulls v=0 and squareRoot nulls v<0, both matching
    graphite (safePow's None on a math error)."""
    v = F.col(value_col)
    return series.select(
        metric_col, ts_col, v.alias(value_col),
        F.round(v * v, 6).alias("squared"),
        F.round(F.when(v >= 0, F.sqrt(v)), 6).alias("root"),
        F.round(F.when(v != 0, F.lit(1.0) / v), 6).alias("inverted"),
    )


def time_stack(series: DataFrame, shift_seconds: int, copies: int,
               start: int = 0,
               metric_col: str = "metric", ts_col: str = "ts",
               value_col: str = "value") -> DataFrame:
    """graphite ``timeStack(series, '1d', start, end)``: the shifted
    copies ``shift_idx in [start, end)`` of each series stacked for
    period-over-period comparison (``copies`` = end; graphite defaults
    start=0, end=7, unit='1d' — the registry passes those through).

    Spark-first: instead of a UNION per copy (N scans), one
    explode(sequence(start, end-1)) fans each row out to its shifted
    versions — a single scan whose output carries ``shift_idx``.
    """
    idx = F.explode(
        F.sequence(F.lit(int(start)), F.lit(copies - 1))).alias("shift_idx")
    return series.select(metric_col, ts_col, value_col, idx).select(
        metric_col,
        F.col("shift_idx").cast("int").alias("shift_idx"),
        (F.col(ts_col) + F.col("shift_idx") * shift_seconds).alias(ts_col),
        F.col(value_col),
    )


# --------------------------------------------------------------------------
# round 6: filter-family complements, percentile trims, multi-series
# arithmetic, multi-node grouping, constant lines
# --------------------------------------------------------------------------

def minimum_above(series: DataFrame, threshold: float,
                  metric_col: str = "metric",
                  value_col: str = "value") -> DataFrame:
    """graphite ``minimumAbove(series, t)``: keep series whose minimum
    stays above t. One unbounded window min — no join."""
    w = Window.partitionBy(metric_col)
    return (
        series.withColumn("_mn", F.min(value_col).over(w))
        .filter(F.col("_mn") > threshold)
        .drop("_mn")
    )


def maximum_below(series: DataFrame, threshold: float,
                  metric_col: str = "metric",
                  value_col: str = "value") -> DataFrame:
    """graphite ``maximumBelow(series, t)``: keep series whose peak
    stays below t. Same single-window shape as maximum_above."""
    w = Window.partitionBy(metric_col)
    return (
        series.withColumn("_mx", F.max(value_col).over(w))
        .filter(F.col("_mx") < threshold)
        .drop("_mx")
    )


def average_below(series: DataFrame, threshold: float, metric_col: str = "metric",
                  ts_col: str = "ts", value_col: str = "value") -> DataFrame:
    """graphite ``averageBelow(series, X)``: keep only series whose mean
    is at or under the threshold — per-series agg + broadcast semi-join
    back (the mirror of average_above)."""
    means = (
        series.groupBy(metric_col)
        .agg(F.avg(value_col).alias("_mean"))
        .filter(F.col("_mean") <= threshold)
    )
    return series.join(
        F.broadcast(means.select(metric_col)), metric_col, "left_semi"
    ).select(metric_col, ts_col, value_col)


def current_below(series: DataFrame, threshold: float,
                  metric_col: str = "metric", ts_col: str = "ts",
                  value_col: str = "value") -> DataFrame:
    """graphite ``currentBelow(series, X)``: keep series whose LAST
    reading is at or under the bound (mirror of current_above)."""
    last = (
        series.groupBy(metric_col)
        .agg(F.max_by(value_col, ts_col).alias("_last"))
        .filter(F.col("_last") <= threshold)
    )
    return series.join(
        F.broadcast(last.select(metric_col)), metric_col, "left_semi"
    ).select(metric_col, ts_col, value_col)


def remove_above_percentile(series: DataFrame, p: float,
                            metric_col: str = "metric", ts_col: str = "ts",
                            value_col: str = "value") -> DataFrame:
    """graphite ``removeAbovePercentile(series, N)``: null out points
    above the series' own Nth percentile — the grid survives (graphite
    sets None, never drops rows). Graphite's (n+1)-rank percentile per
    series, broadcast-joined back; same shape as n_percentile."""
    cuts = series.groupBy(metric_col).agg(
        _graphite_pctl(_sorted_values(value_col), p / 100.0).alias("_cut"))
    keep = F.col(value_col) <= F.col("_cut")
    return series.join(F.broadcast(cuts), metric_col).select(
        metric_col, ts_col, F.when(keep, F.col(value_col)).alias(value_col)
    )


def remove_below_percentile(series: DataFrame, p: float,
                            metric_col: str = "metric", ts_col: str = "ts",
                            value_col: str = "value") -> DataFrame:
    """graphite ``removeBelowPercentile(series, N)`` — mirror of
    remove_above_percentile."""
    cuts = series.groupBy(metric_col).agg(
        _graphite_pctl(_sorted_values(value_col), p / 100.0).alias("_cut"))
    keep = F.col(value_col) >= F.col("_cut")
    return series.join(F.broadcast(cuts), metric_col).select(
        metric_col, ts_col, F.when(keep, F.col(value_col)).alias(value_col)
    )


def multiply_series(series: DataFrame, ts_col: str = "ts",
                    value_col: str = "value") -> DataFrame:
    """graphite ``multiplySeries(series)``: aligned-point product across
    all series. ``F.product`` is one partial+final agg; the result is
    rounded because float products are rounding-order-dependent across
    engines (unlike the micro-unit sums used elsewhere, products cannot
    be made exact in integers without overflow)."""
    return series.groupBy(ts_col).agg(
        F.round(F.product(value_col), 6).alias("product_value"),
        F.count(F.lit(1)).alias("n_series"),
    )


def diff_series_target(first: DataFrame, *others: DataFrame,
                       metric_col: str = "metric", ts_col: str = "ts",
                       value_col: str = "value") -> DataFrame:
    """graphite ``diffSeries(*seriesLists)`` render semantics: every
    argument flattens into ONE list and the result is a SINGLE series —
    the first series minus the aligned sum of all the others. "First"
    here is the lowest metric name of the first argument (the engine's
    deterministic stand-in for graphite's selection order, the same
    convention matchSeries pairing uses). Output name is the literal
    ``diffSeries`` (graphite embeds the original path expressions,
    which the engine does not track through frames)."""
    base = first
    for o in others:
        base = base.unionByName(o.select(metric_col, ts_col, value_col))
    head = first.select(F.min(metric_col)).first()[0]
    return diff_series(
        base.filter(F.col(metric_col) == head),
        base.filter(F.col(metric_col) != head),
        ts_col, value_col,
    ).withColumn(metric_col, F.lit("diffSeries"))


def diff_series(minuend: DataFrame, subtrahends: DataFrame,
                ts_col: str = "ts", value_col: str = "value") -> DataFrame:
    """graphite ``diffSeries(a, b, c, ...)``: the first series minus the
    aligned-point sum of the rest. The subtrahend side aggregates in
    exact integer micro-units before one equi-join on ts; missing
    subtrahend points subtract nothing (graphite treats None as 0
    here)."""
    micro = F.round(F.col(value_col) * 1_000_000).cast("long")
    sub = subtrahends.groupBy(ts_col).agg(F.sum(micro).alias("_sub_micro"))
    return (
        minuend.join(sub, ts_col, "left")
        .select(
            "metric", ts_col,
            F.round(
                F.col(value_col) - F.coalesce(F.col("_sub_micro"), F.lit(0)) / 1_000_000.0, 6
            ).alias(value_col),
        )
    )


def group_by_nodes(series: DataFrame, function: str, nodes: list,
                   metric_col: str = "metric", ts_col: str = "ts",
                   value_col: str = "value") -> DataFrame:
    """graphite ``groupByNodes(series, func, *nodes)``: re-key every
    series to the dot-join of several path segments, then aggregate
    aligned points — the multi-node generalization of group_by_node,
    still one projection + one partial/final agg."""
    agg = _resolve_agg(function)
    parts = F.split(F.col(metric_col), r"\.")
    key = F.concat_ws(".", *[F.get(parts, int(n)) for n in nodes])
    return (
        series.withColumn(metric_col, key)
        .groupBy(metric_col, ts_col)
        .agg(F.round(agg(value_col), 6).alias(value_col))
    )


def count_series(series: DataFrame, ts_col: str = "ts",
                 value_col: str = "value") -> DataFrame:
    """graphite ``countSeries(series)``: how many series have a (non
    null) point at each aligned timestamp — count skips nulls, exactly
    graphite's len of non-None values."""
    return series.groupBy(ts_col).agg(
        F.count(value_col).alias("n_series")
    )


def aggregate_line(series: DataFrame, function: str = "average",
                   metric_col: str = "metric",
                   value_col: str = "value") -> DataFrame:
    """graphite ``aggregateLine(series, func)``: each series collapsed
    to its scalar aggregate (the rendered constant line). One
    partial+final agg; avg runs in exact micro-units, every other name
    resolves through the shared graphite aggFuncs table (graphite's
    default is 'average')."""
    micro = F.round(F.col(value_col) * 1_000_000).cast("long")
    function = {"average": "avg", "total": "sum"}.get(function, function)
    if function == "avg":
        expr = F.sum(micro) / F.count(value_col) / 1_000_000.0
    else:
        expr = _resolve_agg(function)(value_col)
    return series.groupBy(metric_col).agg(F.round(expr, 6).alias("line_value"))


def sort_by_name(series: DataFrame, natural: bool = False,
                 reverse: bool = False, metric_col: str = "metric",
                 ts_col: str = "ts", value_col: str = "value") -> DataFrame:
    """graphite ``sortByName(series[, natural, reverse])``: rank series
    lexicographically; ``natural`` compares embedded integers by value
    (srv2 < srv10) via a zero-padded sort key built columnar (digit
    runs left-padded to 12). The rank is computed on the DISTINCT
    metric set (tiny) and broadcast back — the point table itself never
    passes through a single-partition global window."""
    names = series.select(metric_col).distinct()
    key = F.col(metric_col)
    if natural:
        toks = F.split(key, r"(?<=\D)(?=\d)|(?<=\d)(?=\D)")
        key = F.array_join(
            F.transform(
                toks,
                lambda t: F.when(t.rlike("^[0-9]+$"),
                                 F.lpad(t, 12, "0")).otherwise(t)),
            "")
    w = Window.orderBy(key.desc() if reverse else key.asc())
    ranked = names.withColumn("rank", F.row_number().over(w))
    return (
        series.join(F.broadcast(ranked), metric_col)
        .select(metric_col, "rank", ts_col, value_col)
    )


# ---------------------------------------------------------------------------
# graphite function family, round 7: generic selectors / filters / scalars
# ---------------------------------------------------------------------------

#: per-series statistics shared by the generic selector and filter —
#: the consolidation names graphite's highest()/lowest()/filterSeries()
#: accept. "current" = the latest non-null point (max_by ts).
SERIES_STATS = {
    "average": lambda v, t: F.avg(v),
    "avg": lambda v, t: F.avg(v),
    "max": lambda v, t: F.max(v),
    "min": lambda v, t: F.min(v),
    "sum": lambda v, t: F.sum(v),
    "total": lambda v, t: F.sum(v),
    "current": lambda v, t: F.max_by(v, t),
    "last": lambda v, t: F.max_by(v, t),
    "count": lambda v, t: F.count(v).cast("double"),
}


def _series_stat(function: str, value_col: str, ts_col: str):
    try:
        return SERIES_STATS[function](value_col, ts_col)
    except KeyError:
        raise ValueError(
            f"unknown series statistic {function!r}; supported: {sorted(SERIES_STATS)}"
        ) from None


def select_series_by(series: DataFrame, function: str = "average", n: int = 5,
                     lowest: bool = False, metric_col: str = "metric",
                     ts_col: str = "ts", value_col: str = "value") -> DataFrame:
    """The generic form of graphite's ``highest(series, n, func)`` /
    ``lowest(series, n, func)`` family: keep the N series whose
    per-series statistic ranks highest (or lowest), full series out.

    ``highestAverage = (average, desc)``, ``lowestCurrent = (current,
    asc)``, ``highestMax = (max, desc)`` and so on — one plan shape
    for the whole family: per-series partial+final agg, top-N via
    ``orderBy().limit(n)`` (TakeOrderedAndProject — per-partition
    heaps, no global window funnel), winners broadcast back as a
    semi-join so the big side never reshuffles (same scale posture as
    :func:`highest_max`). Name-asc tiebreak for determinism.
    """
    stat = _series_stat(function, value_col, ts_col)
    ranked = series.groupBy(metric_col).agg(stat.alias("_s"))
    order = F.asc("_s") if lowest else F.desc("_s")
    top = ranked.orderBy(order, F.asc(metric_col)).limit(n)
    return series.join(
        F.broadcast(top.select(metric_col)), metric_col, "left_semi"
    ).select(metric_col, ts_col, value_col)


def _filter_pred(operator: str, threshold: float):
    """The comparison column-builder shared by :func:`filter_series`
    and :func:`select_then_filter_series`."""
    ops = {
        ">": lambda c: c > threshold,
        ">=": lambda c: c >= threshold,
        "<": lambda c: c < threshold,
        "<=": lambda c: c <= threshold,
        "=": lambda c: c == threshold,
        "!=": lambda c: c != threshold,
    }
    try:
        return ops[operator]
    except KeyError:
        raise ValueError(f"unknown operator {operator!r}; supported: {sorted(ops)}") from None


def filter_series(series: DataFrame, function: str, operator: str, threshold: float,
                  metric_col: str = "metric", ts_col: str = "ts",
                  value_col: str = "value") -> DataFrame:
    """graphite ``filterSeries(seriesList, func, operator, threshold)``:
    the generic predicate behind averageAbove/maximumBelow/...: keep
    series whose per-series statistic satisfies ``stat <op>
    threshold``. Same agg + broadcast-semi-join shape as the selector.
    """
    pred = _filter_pred(operator, threshold)
    stat = _series_stat(function, value_col, ts_col)
    keep = series.groupBy(metric_col).agg(stat.alias("_s")).filter(pred(F.col("_s")))
    return series.join(
        F.broadcast(keep.select(metric_col)), metric_col, "left_semi"
    ).select(metric_col, ts_col, value_col)


def select_then_filter_series(series: DataFrame, select_function: str, n: int,
                              filter_function: str, operator: str,
                              threshold: float, lowest: bool = False,
                              metric_col: str = "metric", ts_col: str = "ts",
                              value_col: str = "value") -> DataFrame:
    """``filterSeries(highest(series, n, f_sel), f_flt, op, t)`` in ONE
    stats pass (r14, guide §2.4). Composing :func:`select_series_by`
    and :func:`filter_series` runs a per-series aggregate and a
    broadcast semi-join PER OPERATOR — the base pipeline is computed
    once for each aggregate and once for each probe (4 passes, ~18
    sequential AQE stages at bench scale, wall 3x task). Both
    operators only ever drop WHOLE series, so the outer statistic over
    the selected rows equals the same statistic over the full series:
    compute BOTH stats in one groupBy, apply the top-n cut then the
    threshold predicate to that stats table, and bring back the
    winners with ONE semi-join. Row-identical to the composition by
    construction (same stat expressions, same order/tiebreak, the
    limit applied before the predicate)."""
    pred = _filter_pred(operator, threshold)
    sel = _series_stat(select_function, value_col, ts_col)
    flt = _series_stat(filter_function, value_col, ts_col)
    stats = series.groupBy(metric_col).agg(sel.alias("_s"), flt.alias("_f"))
    order = F.asc("_s") if lowest else F.desc("_s")
    keep = (
        stats.orderBy(order, F.asc(metric_col)).limit(n)
        .filter(pred(F.col("_f")))
    )
    return series.join(
        F.broadcast(keep.select(metric_col)), metric_col, "left_semi"
    ).select(metric_col, ts_col, value_col)


def limit_series(series: DataFrame, n: int, metric_col: str = "metric",
                 ts_col: str = "ts", value_col: str = "value") -> DataFrame:
    """graphite ``limit(series, n)``: the first N series in name order
    (graphite takes request order; name order is its deterministic
    engine-side analog)."""
    top = series.select(metric_col).distinct().orderBy(F.asc(metric_col)).limit(n)
    return series.join(
        F.broadcast(top), metric_col, "left_semi"
    ).select(metric_col, ts_col, value_col)


def remove_empty_series(series: DataFrame, x_files_factor: float = 0.0,
                        metric_col: str = "metric",
                        ts_col: str = "ts", value_col: str = "value") -> DataFrame:
    """graphite ``removeEmptySeries(series[, xFilesFactor])``: drop
    series whose non-null fraction is below the factor (default 0 —
    only all-null series drop; a series always needs >= 1 value, the
    graphite ``xff`` rule). One agg + semi-join back."""
    keep = (
        series.groupBy(metric_col)
        .agg(F.count(value_col).alias("_nn"), F.count(F.lit(1)).alias("_n"))
        .filter((F.col("_nn") > 0)
                & (F.col("_nn") >= F.lit(float(x_files_factor)) * F.col("_n")))
    )
    return series.join(
        F.broadcast(keep.select(metric_col)), metric_col, "left_semi"
    ).select(metric_col, ts_col, value_col)


def fallback_series(series: DataFrame, fallback: DataFrame) -> DataFrame:
    """graphite ``fallbackSeries(series, fallback)``: the fallback shows
    only when the primary is EMPTY. The emptiness test enters the plan
    as a broadcast one-row count — declarative, no driver-side action.
    """
    n = series.select(F.count(F.lit(1)).alias("_n"))
    primary = series.crossJoin(F.broadcast(n)).filter(F.col("_n") > 0).drop("_n")
    alt = fallback.crossJoin(F.broadcast(n)).filter(F.col("_n") == 0).drop("_n")
    return primary.unionByName(alt)


def alias_series(series: DataFrame, name: str,
                 metric_col: str = "metric") -> DataFrame:
    """graphite ``alias(series, name)``: rename every series."""
    return series.withColumn(metric_col, F.lit(name))


def alias_by_metric(series: DataFrame, metric_col: str = "metric") -> DataFrame:
    """graphite ``aliasByMetric``: keep only the last dotted node."""
    return series.withColumn(
        metric_col, F.element_at(F.split(F.col(metric_col), r"\."), -1)
    )


def is_non_null(series: DataFrame, value_col: str = "value") -> DataFrame:
    """graphite ``isNonNull``: 1 where a point exists, 0 where null."""
    return series.withColumn(
        value_col, F.when(F.col(value_col).isNotNull(), 1.0).otherwise(0.0)
    )


def round_series(series: DataFrame, precision: int = 0,
                 value_col: str = "value") -> DataFrame:
    """graphite ``round(series, precision)``."""
    return series.withColumn(value_col, F.round(F.col(value_col), precision))


def sigmoid_series(series: DataFrame, value_col: str = "value") -> DataFrame:
    """graphite ``sigmoid``: 1 / (1 + e^-x), rounded to 6 for
    engine-portable output."""
    v = F.col(value_col)
    return series.withColumn(
        value_col, F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-v)), 6)
    )


def aggregate_series(series: DataFrame, function: str = "sum",
                     x_files_factor: float | None = None,
                     ts_col: str = "ts", value_col: str = "value",
                     metric_col: str = "metric") -> DataFrame:
    """graphite ``aggregate(seriesList, func[, xFilesFactor])``:
    collapse all series into one by applying ``func`` across the
    aligned points — the generic spelling of sumSeries/averageSeries/
    minSeries/... (one partial+final agg per call, same plan shape for
    every function). ``xFilesFactor`` nulls points where fewer than
    that fraction of the SELECTION's series have a value (graphite
    divides by len(seriesList), so the denominator is the distinct
    series count, not the rows present at the timestamp).
    Returns (ts, value)."""
    aggs = {
        "sum": F.sum(value_col),
        "total": F.sum(value_col),
        "average": F.avg(value_col),
        "avg": F.avg(value_col),
        "min": F.min(value_col),
        "max": F.max(value_col),
        "count": F.count(value_col).cast("double"),
        "range": F.max(value_col) - F.min(value_col),
        "rangeOf": F.max(value_col) - F.min(value_col),
        "last": F.max_by(value_col, ts_col),
        "current": F.max_by(value_col, ts_col),
        "median": F.percentile(value_col, F.lit(0.5)),
    }
    try:
        agg = aggs[function]
    except KeyError:
        raise ValueError(
            f"unknown aggregate function {function!r}; supported: {sorted(aggs)}"
        ) from None
    if x_files_factor:
        n_series = (series.select(metric_col).distinct().count()
                    if metric_col in series.columns else 1)
        gated = F.when(
            F.count(value_col) >= F.lit(float(x_files_factor) * n_series),
            F.round(agg, 6))
        return series.groupBy(ts_col).agg(gated.alias(value_col))
    return series.groupBy(ts_col).agg(F.round(agg, 6).alias(value_col))


def group_series(*series_lists: DataFrame) -> DataFrame:
    """graphite ``group(*seriesLists)``: the plain union of several
    evaluated series lists (name-preserving; duplicate series appear
    twice, exactly like graphite)."""
    if not series_lists:
        raise ValueError("group needs at least one series list")
    out = series_lists[0]
    for s in series_lists[1:]:
        # allowMissingColumns: one branch may carry an extra column
        # (consolidateBy's tag) — align instead of failing the union
        out = out.unionByName(s, allowMissingColumns=True)
    return out


def substr_series(series: DataFrame, start: int, stop: int = 0,
                  metric_col: str = "metric") -> DataFrame:
    """graphite ``substr(series, start, stop)``: keep dotted path nodes
    ``[start:stop]`` (0-based, stop=0 means to the end) as the series
    name."""
    parts = F.split(F.col(metric_col), r"\.")
    n = F.size(parts)
    begin = F.lit(start + 1) if start >= 0 else n + F.lit(start + 1)
    if stop == 0:
        length = n - begin + 1
    elif stop > 0:
        length = F.lit(stop) - begin + 1
    else:
        length = n + F.lit(stop) - begin + 1
    renamed = F.array_join(F.slice(parts, begin, F.greatest(length, F.lit(0))), ".")
    return series.withColumn(metric_col, renamed)


# --------------------------------------------------------------------------
# round 8: regression/fit, generic sorts, percentile pruning, series-list
# pairwise arithmetic, render-grid generators, consolidation tagging, and
# the legend/display family (reference serves raw points and leaves ALL of
# these to graphite-web's render/functions.py post-fetch; here each is one
# Catalyst plan over every series at once).


def linear_regression_line(series: DataFrame, fit_start: int | None = None,
                      fit_end: int | None = None,
                      metric_col: str = "metric",
                      ts_col: str = "ts", value_col: str = "value") -> DataFrame:
    """graphite ``linearRegression(series[, startSourceAt, endSourceAt])``:
    per-series ordinary least-squares fit, evaluated at every native
    timestamp.

    graphite-web (render/functions.py ``linearRegressionAnalysis``)
    fits one python list at a time post-fetch; here the fit is one
    partial+final aggregation over EVERY series at once and the line
    is a projection — the per-series loop disappears.

    Engine-portable math: x re-anchors to the series' first timestamp
    (exact long arithmetic, keeps magnitudes small), y accumulates
    exact integer micro-units, and the closed-form slope/intercept
    runs on identical integer sums on any engine/partitioning:

        slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2)

    All five sums are integers in decimal(38,0) (DuckDB: HUGEINT), so
    the only float ops are the final two divisions — bit-identical
    everywhere. Null slope (constant x: single point) yields the mean.

    ``fit_start``/``fit_end`` (graphite's startSourceAt/endSourceAt)
    restrict which points FEED the fit; the line still projects over
    every timestamp of the input.
    """
    w = Window.partitionBy(metric_col)
    anchored = series.select(
        metric_col, ts_col, value_col,
        (F.col(ts_col) - F.min(ts_col).over(w)).alias("_x"),
        F.round(F.col(value_col) * 1_000_000).cast("decimal(38,0)").alias("_y"),
    )
    x = F.col("_x").cast("decimal(38,0)")
    source = anchored
    if fit_start is not None:
        source = source.filter(F.col(ts_col) >= int(fit_start))
    if fit_end is not None:
        source = source.filter(F.col(ts_col) <= int(fit_end))
    sums = source.groupBy(metric_col).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_n"),
        F.sum(x).alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(x * F.col("_y")).alias("_sxy"),
        F.sum(x * x).alias("_sxx"),
    )
    n, sx, sy = F.col("_n"), F.col("_sx"), F.col("_sy")
    num = (n * F.col("_sxy") - sx * sy).cast("double")
    den = (n * F.col("_sxx") - sx * sx).cast("double")
    slope = F.when(den > 0, num / den)
    intercept = (sy.cast("double") - slope * sx.cast("double")) / n.cast("double")
    fitted = F.when(
        slope.isNotNull(),
        (intercept + slope * F.col("_x").cast("double")) / 1_000_000.0,
    ).otherwise(sy.cast("double") / n.cast("double") / 1_000_000.0)
    return (
        anchored.join(F.broadcast(sums), metric_col)
        .select(metric_col, ts_col, F.round(fitted, 6).alias(value_col))
    )


def pow_series(series: DataFrame, exponent: float, metric_col: str = "metric",
               ts_col: str = "ts", value_col: str = "value") -> DataFrame:
    """graphite ``pow(series, e)`` with a REAL exponent: graphite's
    safePow returns None on any math error, so negative bases under a
    fractional exponent and 0 under a negative exponent null out; every
    defined case is the correctly-rounded IEEE ``pow``."""
    p = float(exponent)
    v = F.col(value_col)
    ok = F.lit(True) if p == int(p) else (v >= 0)
    if p < 0:
        ok = ok & (v != 0)
    return series.withColumn(
        value_col, F.when(ok, F.round(F.pow(v, F.lit(p)), 6))
    )


def logit_series(series: DataFrame, metric_col: str = "metric",
                 ts_col: str = "ts", value_col: str = "value") -> DataFrame:
    """graphite ``logit(series)``: ln(v / (1-v)); outside (0, 1) the
    math errors and graphite emits None, so those points null out."""
    v = F.col(value_col)
    return series.withColumn(
        value_col,
        F.when((v > 0) & (v < 1), F.round(F.log(v / (F.lit(1.0) - v)), 6)),
    )


def moving_window(series: DataFrame, window_points: int | str, function: str = "average",
                  x_files_factor: float | None = None,
                  metric_col: str = "metric", ts_col: str = "ts",
                  value_col: str = "value") -> DataFrame:
    """graphite ``movingWindow(series, n, func, xFilesFactor)`` — the
    generic form behind movingAverage/Min/Max/Sum/Median: one window
    pass (ROWS frame for a point count, RANGE frame for a duration
    string), the statistic picked by name (same single-shuffle shape
    for the whole family); ``xFilesFactor`` nulls mostly-empty
    windows."""
    w = _moving_frame(window_points, metric_col, ts_col)
    micro = F.round(F.col(value_col) * 1_000_000).cast("long")
    stats = {
        "average": F.round(F.sum(micro).over(w) / (F.count(value_col).over(w) * 1_000_000.0), 6),
        "avg": None,  # alias, filled below
        "median": F.round(F.percentile(value_col, F.lit(0.5)).over(w), 6),
        "min": F.min(value_col).over(w),
        "max": F.max(value_col).over(w),
        "sum": F.sum(micro).over(w) / 1_000_000.0,
        "count": F.count(value_col).over(w).cast("double"),
        "last": F.last(value_col, ignorenulls=True).over(w),
    }
    stats["avg"] = stats["average"]
    if function not in stats:
        raise ValueError(
            f"unknown moving statistic {function!r}; supported: {sorted(stats)}")
    ok = _xff_gate(w, value_col, x_files_factor)
    return series.select(
        metric_col, ts_col, F.when(ok, stats[function]).alias(value_col))


def sort_by(series: DataFrame, function: str = "average", reverse: bool = False,
            metric_col: str = "metric", ts_col: str = "ts",
            value_col: str = "value") -> DataFrame:
    """graphite ``sortBy(series, func, reverse)``: every series kept,
    ordered by the per-series statistic (ascending by default, like
    graphite). Same agg + broadcast-join shape as the selector family,
    with the output ordered for the renderer; name-asc tiebreak."""
    stat = _series_stat(function, value_col, ts_col)
    ranked = series.groupBy(metric_col).agg(stat.alias("_s"))
    order = F.desc("_s") if reverse else F.asc("_s")
    return (
        series.join(F.broadcast(ranked), metric_col)
        .orderBy(order, F.asc(metric_col), F.asc(ts_col))
        .select(metric_col, ts_col, value_col)
    )


def sort_by_minima(series: DataFrame, metric_col: str = "metric",
                   ts_col: str = "ts", value_col: str = "value") -> DataFrame:
    """graphite ``sortByMinima``: series whose maximum is positive,
    ordered by their minimum ascending (render/functions.py filters
    ``max(series) > 0`` first — kept, it is load-bearing there)."""
    ranked = (
        series.groupBy(metric_col)
        .agg(F.min(value_col).alias("_mn"), F.max(value_col).alias("_mx"))
        .filter(F.col("_mx") > 0)
    )
    return (
        series.join(F.broadcast(ranked), metric_col)
        .orderBy(F.asc("_mn"), F.asc(metric_col), F.asc(ts_col))
        .select(metric_col, ts_col, value_col)
    )


def unique_series(series: DataFrame, metric_col: str = "metric",
                  ts_col: str = "ts", value_col: str = "value") -> DataFrame:
    """graphite ``unique(seriesLists...)``: after ``group()`` unions,
    the same series may appear twice; keep one copy of each point.
    Duplicate copies carry identical values, so a distinct on the full
    row is exact (no arbitrary keep-first tie to worry about)."""
    return series.select(metric_col, ts_col, value_col).distinct()


def remove_between_percentile(series: DataFrame, n: float,
                              metric_col: str = "metric", ts_col: str = "ts",
                              value_col: str = "value") -> DataFrame:
    """graphite ``removeBetweenPercentile(series, n)``: keep series
    having at least one point OUTSIDE the per-timestamp
    (100-n)th..nth percentile band across series (render/functions.py
    transposes the series matrix; here each ts group carries its own
    band). Band bounds use graphite's (n+1)-rank percentile.

    One fused aggregation: the per-ts group collects the sorted value
    array (band bounds) AND the (metric, value) pairs, so band
    computation and band comparison happen in the same shuffle —
    explode + filter + distinct yields the keep set with no second
    scan and one broadcast semi-join back (measured ~30% less
    executor task-time than the bands-then-join shape at sf0.1).
    Group size is bounded by series-per-timestamp (a render
    selection), not data volume — scale-safe."""
    p = float(n)
    if p < 50:
        p = 100 - p
    g = series.groupBy(ts_col).agg(
        _sorted_values(value_col).alias("_l"),
        F.collect_list(
            F.struct(F.col(metric_col).alias("m"),
                     F.col(value_col).alias("v"))).alias("_mv"),
    )
    lo = _graphite_pctl(F.col("_l"), (100 - p) / 100.0)
    hi = _graphite_pctl(F.col("_l"), p / 100.0)
    keep = (
        g.select(F.explode(F.col("_mv")).alias("s"),
                 lo.alias("_lo"), hi.alias("_hi"))
        .filter(~((F.col("s.v") > F.col("_lo"))
                  & (F.col("s.v") < F.col("_hi"))))
        .select(F.col("s.m").alias(metric_col))
        .distinct()
    )
    return series.join(F.broadcast(keep), metric_col, "left_semi").select(
        metric_col, ts_col, value_col
    )


def use_series_above(series: DataFrame, base: DataFrame, value: float,
                     search: str, replace: str, metric_col: str = "metric",
                     ts_col: str = "ts", value_col: str = "value") -> DataFrame:
    """graphite ``useSeriesAbove(series, value, search, replace)``: for
    each series whose MAX exceeds ``value``, rewrite its name
    (regex search -> replace) and return the series with that new name
    from the base frame (the classic "if requests are high, show the
    corresponding latency" pivot). One tiny agg produces the rewritten
    name set; the base frame filters by broadcast semi-join."""
    wanted = (
        series.groupBy(metric_col)
        .agg(F.max(value_col).alias("_mx"))
        .filter(F.col("_mx") > float(value))
        .select(F.regexp_replace(metric_col, search, replace).alias(metric_col))
        .distinct()
    )
    return base.join(F.broadcast(wanted), metric_col, "left_semi").select(
        metric_col, ts_col, value_col
    )


def series_lists_op(a: DataFrame, b: DataFrame, op: str,
                    metric_col: str = "metric", ts_col: str = "ts",
                    value_col: str = "value") -> DataFrame:
    """graphite ``divideSeriesLists`` / ``sumSeriesLists`` /
    ``diffSeriesLists`` / ``multiplySeriesLists``: pair the Nth series
    of list A with the Nth of list B and combine point-wise.

    graphite pairs by fetch position; the engine's deterministic
    analog is name rank (the tree search returns sorted names). Ranks
    come from a row_number over each side's DISTINCT names — a
    handful of rows, so the single-partition window is fine — then
    one equi-join on (rank, ts). Unpaired ranks drop (graphite raises
    on length mismatch; documented deviation, same spirit as
    ``limit``'s name-order analog). Division by zero nulls, matching
    safeDiv.
    """
    ops = {
        "divide": lambda x, y: F.when(y != 0, F.round(x / y, 6)),
        "sum": lambda x, y: F.round(x + y, 6),
        "diff": lambda x, y: F.round(x - y, 6),
        "multiply": lambda x, y: F.round(x * y, 6),
        "average": lambda x, y: F.round((x + y) / 2.0, 6),
    }
    names = {"divide": "divideSeries", "sum": "sumSeries",
             "diff": "diffSeries", "multiply": "multiplySeries",
             "average": "averageSeries"}
    if op not in ops:
        raise ValueError(f"unknown list op {op!r}; supported: {sorted(ops)}")
    return series_lists_multi_op(a, b, [op], metric_col, ts_col, value_col)


def series_lists_multi_op(a: DataFrame, b: DataFrame, op_list: list[str],
                          metric_col: str = "metric", ts_col: str = "ts",
                          value_col: str = "value") -> DataFrame:
    """Several ``<op>SeriesLists`` results over the SAME pair of lists
    in ONE pass — the shared-scan fusion of
    ``series_lists_op(a,b,op1).union(series_lists_op(a,b,op2))``
    (optimization guide §2.4): the rank windows, the broadcast rank
    joins and the (rank, ts) equi-join run once, and each joined row
    explodes into one output row per op. Row-identical to the union of
    the single-op calls (same name spellings, same combine arithmetic);
    at bench scale the fused form halves the query's exchange count
    (the union's two branches re-ran the whole scan→distinct→window→
    join pipeline per op)."""
    ops = {
        "divide": lambda x, y: F.when(y != 0, F.round(x / y, 6)),
        "sum": lambda x, y: F.round(x + y, 6),
        "diff": lambda x, y: F.round(x - y, 6),
        "multiply": lambda x, y: F.round(x * y, 6),
        "average": lambda x, y: F.round((x + y) / 2.0, 6),
    }
    names = {"divide": "divideSeries", "sum": "sumSeries",
             "diff": "diffSeries", "multiply": "multiplySeries",
             "average": "averageSeries"}
    bad = [o for o in op_list if o not in ops]
    if bad or not op_list:
        raise ValueError(
            f"unknown list ops {bad!r}; supported: {sorted(ops)}")
    rank_w = Window.orderBy(metric_col)

    def ranked(df, side):
        r = (
            df.select(metric_col).distinct()
            .select(metric_col, F.row_number().over(rank_w).alias("_rank"))
        )
        return df.join(F.broadcast(r), metric_col).select(
            F.col(metric_col).alias(f"_{side}_name"), F.col("_rank"),
            F.col(ts_col), F.col(value_col).alias(f"_{side}_v"),
        )

    joined = ranked(a, "a").join(ranked(b, "b"), ["_rank", ts_col])
    entries = F.array(*[
        F.struct(
            F.concat(F.lit(names[op] + "("), "_a_name", F.lit(","),
                     "_b_name", F.lit(")")).alias("_m"),
            ops[op](F.col("_a_v"), F.col("_b_v")).alias("_v"),
        )
        for op in op_list
    ])
    return joined.select(F.col(ts_col), F.explode(entries).alias("_e")).select(
        F.col("_e._m").alias(metric_col),
        F.col(ts_col),
        F.col("_e._v").alias(value_col),
    )


def time_function(base: DataFrame, name: str = "Time", step: int = 60,
                  metric_col: str = "metric", ts_col: str = "ts",
                  value_col: str = "value") -> DataFrame:
    """graphite ``timeFunction(name, step)`` / ``identity(name)``: a
    synthetic series whose value IS its timestamp.

    graphite generates the grid from the request window; the engine
    analog takes the window from the frame being rendered (min/max ts
    of the base selection — one tiny agg) and explodes a sequence:
    no driver-side loop, the grid is built executor-side."""
    bounds = base.select(
        F.min(ts_col).alias("_t0"), F.max(ts_col).alias("_t1")
    ).filter(F.col("_t0").isNotNull())
    return bounds.select(
        F.explode(F.sequence("_t0", "_t1", F.lit(int(step)))).alias(ts_col)
    ).select(
        F.lit(name).alias(metric_col),
        F.col(ts_col),
        F.col(ts_col).cast("double").alias(value_col),
    )


def constant_line(base: DataFrame, value: float, name: str | None = None,
                  metric_col: str = "metric", ts_col: str = "ts",
                  value_col: str = "value") -> DataFrame:
    """graphite ``constantLine(value)`` / ``threshold(value, label)``:
    a flat guide line across the render window. graphite emits three
    points (start, midpoint, end) so the renderer can draw it at any
    width; the engine does the same from the base frame's bounds."""
    v = float(value)
    label = str(v) if name is None else str(name)
    bounds = base.select(
        F.min(ts_col).alias("_t0"), F.max(ts_col).alias("_t1")
    ).filter(F.col("_t0").isNotNull())
    return bounds.select(
        F.explode(
            F.array(
                F.col("_t0"),
                ((F.col("_t0") + F.col("_t1")) / 2).cast("long"),
                F.col("_t1"),
            )
        ).alias(ts_col)
    ).select(
        F.lit(label).alias(metric_col),
        F.col(ts_col),
        F.lit(v).alias(value_col),
    ).distinct()


def vertical_line(base: DataFrame, when, label: str | None = None,
                  metric_col: str = "metric", ts_col: str = "ts",
                  value_col: str = "value") -> DataFrame:
    """graphite ``verticalLine(ts, label)``: an event marker at one
    instant — graphite emits a two-point series (value 1.0 twice) with
    start == end == ts. ``when`` is an epoch second or a graphite
    relative spec ('-5min'), resolved against the base frame's max ts
    (the engine analog of the request end); a marker outside the base
    window raises, matching graphite's ValueError."""
    from graphouse_spark.queryparams import parse_render_time

    row = base.select(
        F.min(ts_col).alias("_t0"), F.max(ts_col).alias("_t1")
    ).filter(F.col("_t0").isNotNull()).first()
    if row is None:
        return base.select(
            F.col(metric_col), F.col(ts_col), F.col(value_col)).limit(0)
    t_spec = str(when).strip().strip("'\"")
    if t_spec.lstrip("+-").isdigit() and not t_spec.startswith(("+", "-")):
        t = int(t_spec)
    else:
        t = parse_render_time(t_spec, int(row["_t1"]))
    if not (int(row["_t0"]) <= t <= int(row["_t1"])):
        raise ValueError(
            f"verticalLine(): timestamp {t} exists before eventStart or "
            "after eventEnd")
    name = label if label is not None else str(t)
    spark = base.sparkSession
    return spark.createDataFrame(
        [(name, t, 1.0), (name, t, 1.0)],
        f"{metric_col} string, {ts_col} long, {value_col} double",
    )


#: consolidation tag column: consolidateBy rides the frame as a literal
#: column so it survives the evaluator's composition; the /render
#: maxDataPoints reducer honors it and strips it before output.
CONSOLIDATE_COL = "__consolidate"

CONSOLIDATIONS = ("average", "avg", "sum", "min", "max", "first", "last")


def consolidate_by(series: DataFrame, function: str,
                   metric_col: str = "metric") -> DataFrame:
    """graphite ``consolidateBy(series, fn)``: tag the series with the
    consolidation function maxDataPoints reduction must use (default
    average). The tag is a literal column — zero cost in the plan,
    read back by the render service only when reduction triggers.
    ``cumulative(series)`` is ``consolidateBy(series, 'sum')``."""
    fn = str(function)
    if fn not in CONSOLIDATIONS:
        raise ValueError(
            f"unknown consolidation {fn!r}; supported: {sorted(CONSOLIDATIONS)}")
    # Placement: apply consolidateBy OUTERMOST (graphite dashboards do).
    # Registry functions project (metric, ts, value), so a tag wrapped
    # INSIDE another call is dropped and the reduction falls back to
    # average — a documented deviation from graphite, which threads the
    # attribute through every transform.
    return series.withColumn(CONSOLIDATE_COL, F.lit(fn))


def consolidation_agg(function: str, value_col: str = "value",
                      ts_col: str = "ts"):
    """The aggregate expression a consolidation name maps to, used by
    the render service's maxDataPoints bucket reduction."""
    fns = {
        "average": F.round(F.avg(value_col), 6),
        "avg": F.round(F.avg(value_col), 6),
        "sum": F.round(F.sum(value_col), 6),
        "min": F.min(value_col),
        "max": F.max(value_col),
        "first": F.min_by(value_col, ts_col),
        "last": F.max_by(value_col, ts_col),
    }
    return fns[function]


def _fmt2(col):
    """Two-decimal legend formatting (printf-style, null -> 'nan' like
    graphite's cactiStyle on empty series)."""
    return F.coalesce(F.format_string("%.2f", F.round(col, 2)), F.lit("nan"))


def _fmt_units(col, system: str | None, units: str | None):
    """cactiStyle value formatting: plain two decimals by default;
    ``system='si'`` scales by powers of 1000 with k/M/G/T suffixes
    (graphite's format_units), ``'binary'`` by 1024 with Ki/Mi/Gi/Ti;
    ``units`` appends a unit label after the suffix."""
    if system in ("si", "binary"):
        base = 1000.0 if system == "si" else 1024.0
        sufs = (["", "k", "M", "G", "T"] if system == "si"
                else ["", "Ki", "Mi", "Gi", "Ti"])
        a = F.abs(col)
        e = (F.when(a >= base ** 4, 4).when(a >= base ** 3, 3)
             .when(a >= base ** 2, 2).when(a >= base, 1).otherwise(0))
        scaled = col / F.pow(F.lit(base), e)
        suffix = F.get(F.array(*[F.lit(s) for s in sufs]), e)
        out = F.concat(_fmt2(scaled), F.coalesce(suffix, F.lit("")))
    else:
        out = _fmt2(col)
    if units:
        out = F.concat(out, F.lit(str(units)))
    return out


def cacti_style(series: DataFrame, system: str | None = None,
                units: str | None = None, metric_col: str = "metric",
                ts_col: str = "ts", value_col: str = "value") -> DataFrame:
    """graphite ``cactiStyle(series[, system, units])``: append
    "Current / Max / Min" readouts to every legend name — SI/binary
    prefix scaling and a unit label when asked. One unbounded window
    per series (current = last non-null point), no second scan."""
    w = Window.partitionBy(metric_col)
    wo = (
        Window.partitionBy(metric_col)
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    fmt = lambda c: _fmt_units(c, system, units)  # noqa: E731
    cur = F.last(value_col, ignorenulls=True).over(wo)
    renamed = F.concat_ws(
        " ",
        F.col(metric_col),
        F.concat(F.lit("Current:"), fmt(cur)),
        F.concat(F.lit("Max:"), fmt(F.max(value_col).over(w))),
        F.concat(F.lit("Min:"), fmt(F.min(value_col).over(w))),
    )
    return series.select(
        renamed.alias(metric_col), F.col(ts_col), F.col(value_col)
    )


def legend_value(series: DataFrame, *functions: str, metric_col: str = "metric",
                 ts_col: str = "ts", value_col: str = "value") -> DataFrame:
    """graphite ``legendValue(series, 'avg', 'max', ...)``: append one
    "(fn: x)" readout per requested statistic to the legend name.
    Statistics reuse the selector family's SERIES_STATS registry, so
    the supported names match graphite's (avg/min/max/current/total);
    all of them compute in ONE window pass."""
    w = Window.partitionBy(metric_col)
    wo = (
        Window.partitionBy(metric_col)
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    per_fn = {
        "avg": F.avg(value_col).over(w),
        "average": F.avg(value_col).over(w),
        "min": F.min(value_col).over(w),
        "max": F.max(value_col).over(w),
        "total": F.sum(value_col).over(w),
        "sum": F.sum(value_col).over(w),
        "current": F.last(value_col, ignorenulls=True).over(wo),
        "last": F.last(value_col, ignorenulls=True).over(wo),
        "count": F.count(value_col).over(w).cast("double"),
    }
    # graphite allows a trailing 'si'/'binary' system argument that
    # switches the readouts to prefix-scaled formatting
    system = None
    if functions and str(functions[-1]).lower() in ("si", "binary"):
        system = str(functions[-1]).lower()
        functions = functions[:-1]
    fmt = (lambda c: _fmt_units(c, system, None)) if system else _fmt2
    parts = [F.col(metric_col)]
    for fn in functions:
        fn = str(fn)
        if fn not in per_fn:
            raise ValueError(
                f"unknown legend statistic {fn!r}; supported: {sorted(per_fn)}")
        parts.append(F.concat(F.lit(f"({fn}: "), fmt(per_fn[fn]), F.lit(")")))
    return series.select(
        F.concat_ws(" ", *parts).alias(metric_col), F.col(ts_col), F.col(value_col)
    )


def holt_winters_confidence_area(series: DataFrame, delta: float = 3.0,
                                 metric_col: str = "metric", ts_col: str = "ts",
                                 value_col: str = "value") -> DataFrame:
    """graphite ``holtWintersConfidenceArea``: both confidence bands as
    two stacked series (renderer fills between them). One bands pass,
    one explode — no second forecast run."""
    bands = holt_winters_bands(series, delta, metric_col, ts_col, value_col)
    pair = F.array(
        F.struct(F.lit("holtWintersConfidenceUpper").alias("_side"),
                 F.col("upper_band").alias("_v")),
        F.struct(F.lit("holtWintersConfidenceLower").alias("_side"),
                 F.col("lower_band").alias("_v")),
    )
    return bands.select(
        metric_col, ts_col, F.explode(pair).alias("_b")
    ).select(
        F.concat(F.col("_b._side"), F.lit("("), F.col(metric_col), F.lit(")")).alias(metric_col),
        F.col(ts_col),
        F.col("_b._v").alias(value_col),
    )


def reduce_series(series: DataFrame, function: str, reduce_node: int,
                  *matchers: str, metric_col: str = "metric",
                  ts_col: str = "ts", value_col: str = "value") -> DataFrame:
    """graphite ``reduceSeries(mapSeries(glob, mapNodes...), fn,
    reduceNode, matcher...)``: within each map group, combine the
    member series named by the matchers at ``reduceNode``.

    graphite materializes a python list-of-lists (mapSeries) and loops
    a reducer over each group; the engine needs NEITHER — the map
    grouping IS the shared name prefix, so the whole reduce is one
    equi-join (binary reducers) or one aggregation (sumSeries) on
    (prefix, ts). Results are named ``prefix.reduce.fn`` exactly like
    graphite-web so downstream aliasByNode composes identically.

    Supported reducers: asPercent / divideSeries / diffSeries (exactly
    two matchers: numerator, denominator) and sumSeries /
    averageSeries (any number of matchers).
    """
    n = int(reduce_node)
    parts = F.split(F.col(metric_col), r"\.")
    prefix = F.array_join(F.slice(parts, 1, n), ".")
    # segments AFTER the reduce node are part of the group key too:
    # srv.a.disk.used.bytes and srv.a.disk.used.inodes are DIFFERENT
    # members, and folding them into one (prefix, node) key would make
    # the binary join many-to-many. graphite-web silently keeps only
    # the last series per prefix slot here; keying on the full
    # remainder is the deterministic fix (documented deviation — the
    # suffix rides the output name so results stay distinguishable).
    suffix = F.array_join(
        F.slice(parts, n + 2, F.greatest(F.size(parts) - n - 1, F.lit(0))), ".")
    node_val = F.element_at(parts, n + 1)
    key = F.concat_ws("\x1f", prefix, suffix)
    out_name = F.concat(
        F.split(F.col("_key"), "\x1f").getItem(0),
        F.lit(f".reduce.{function}"),
        F.when(F.split(F.col("_key"), "\x1f").getItem(1) != "",
               F.concat(F.lit("."), F.split(F.col("_key"), "\x1f").getItem(1))
               ).otherwise(F.lit("")),
    )
    tagged = series.select(
        key.alias("_key"), node_val.alias("_node"),
        F.col(ts_col), F.col(value_col),
    )
    if function in ("sumSeries", "averageSeries"):
        matched = tagged.filter(F.col("_node").isin(list(matchers)))
        micro = F.round(F.col(value_col) * 1_000_000).cast("long")
        agg = (
            F.sum(micro) / 1_000_000.0 if function == "sumSeries"
            else F.round(F.sum(micro) / (F.count(value_col) * 1_000_000.0), 6)
        )
        return (
            matched.groupBy("_key", ts_col)
            .agg(agg.alias(value_col))
            .select(out_name.alias(metric_col), ts_col, value_col)
        )
    binary = {
        "asPercent": lambda a, b: F.when(b != 0, F.round(a / b * 100.0, 6)),
        "divideSeries": lambda a, b: F.when(b != 0, F.round(a / b, 6)),
        "diffSeries": lambda a, b: F.round(a - b, 6),
    }
    if function not in binary:
        raise ValueError(
            f"unknown reducer {function!r}; supported: "
            f"{sorted(binary) + ['sumSeries', 'averageSeries']}")
    if len(matchers) != 2:
        raise ValueError(f"{function} needs exactly 2 matchers, got {matchers!r}")
    a = tagged.filter(F.col("_node") == matchers[0]).select(
        "_key", ts_col, F.col(value_col).alias("_a"))
    b = tagged.filter(F.col("_node") == matchers[1]).select(
        "_key", ts_col, F.col(value_col).alias("_b"))
    return a.join(b, ["_key", ts_col]).select(
        out_name.alias(metric_col),
        F.col(ts_col),
        binary[function](F.col("_a"), F.col("_b")).alias(value_col),
    )


def scale_to_seconds(series: DataFrame, seconds: int,
                     metric_col: str = "metric", ts_col: str = "ts",
                     value_col: str = "value") -> DataFrame:
    """graphite ``scaleToSeconds(series, seconds)``: re-express each
    point as a per-``seconds`` rate using the series' NATIVE step.

    graphite reads the step off the fetched series object; the engine
    derives it per series as the minimum positive timestamp delta (one
    lag + one min window — robust to gaps, where the modal delta would
    need a heavier two-level count). Single-point series null out
    (graphite would divide by the request step; without points there
    is no defensible step — documented deviation).
    """
    w = Window.partitionBy(metric_col).orderBy(ts_col)
    wall = Window.partitionBy(metric_col)
    delta = F.col(ts_col) - F.lag(ts_col).over(w)
    with_step = series.withColumn(
        "_step", F.min(F.when(delta > 0, delta)).over(wall)
    )
    factor = F.lit(float(seconds)) / F.col("_step")
    return with_step.select(
        metric_col, ts_col,
        F.round(F.col(value_col) * factor, 6).alias(value_col),
    )


def aggregate_with_wildcards(series: DataFrame, function: str, *wildcard_nodes: int,
                             metric_col: str = "metric", ts_col: str = "ts",
                             value_col: str = "value") -> DataFrame:
    """graphite ``aggregateWithWildcards(series, fn, *nodes)``: drop the
    given path nodes from every name, then aggregate series that
    collapse to the same name — the complement of groupByNodes (which
    KEEPS nodes). Same single projection + partial/final agg shape."""
    agg = _resolve_agg(function)
    drop = sorted({int(n) for n in wildcard_nodes})
    parts = F.split(F.col(metric_col), r"\.")
    # F.filter's index lambda: keep segments whose position is not dropped
    kept = F.filter(parts, lambda seg, i: ~F.array_contains(
        F.array(*[F.lit(n) for n in drop]), i))
    renamed = F.array_join(kept, ".")
    return (
        series.select(renamed.alias(metric_col), F.col(ts_col), F.col(value_col))
        .groupBy(metric_col, ts_col)
        .agg(agg(value_col).alias(value_col))
    )


def pow_series_pairwise(series: DataFrame, ts_col: str = "ts",
                        value_col: str = "value",
                        metric_col: str = "metric") -> DataFrame:
    """graphite ``powSeries(*series)``: aligned-point LEFT-FOLD power
    a ^ b ^ c (graphite folds in list order; the engine's deterministic
    order is name order via aggregate over a name-sorted collect).
    Math errors null the point like safePow."""
    # struct accumulator (started, failed, v): a null datapoint or a
    # domain error POISONS the fold — graphite's safePow(None, x) and
    # safePow(x, None) are both None, so a gap in any series nulls the
    # point instead of silently restarting the chain at the next value
    arr = F.expr(f"array_sort(collect_list(struct({metric_col}, {value_col})))")
    n_vals = F.count(value_col)
    n_rows = F.count(F.lit(1))
    init = F.struct(
        F.lit(False).alias("started"),
        F.lit(False).alias("failed"),
        F.lit(0.0).alias("v"),
    )

    def step(acc, s):
        x = s[value_col]
        bad = acc["failed"] | x.isNull()
        first = ~acc["started"]
        nxt = F.when(first, x).otherwise(
            F.when((acc["v"] >= 0) | (x == F.round(x, 0)), F.pow(acc["v"], x))
        )
        return F.struct(
            F.lit(True).alias("started"),
            (bad | F.when(first, F.lit(False)).otherwise(nxt.isNull() | F.isnan(nxt)))
            .alias("failed"),
            F.coalesce(nxt, F.lit(0.0)).alias("v"),
        )

    folded = F.aggregate(
        arr, init, step,
        lambda acc: F.when(acc["started"] & ~acc["failed"], F.round(acc["v"], 6)),
    )
    out = series.groupBy(ts_col).agg(
        folded.alias(value_col), (n_vals == n_rows).alias("_complete"))
    return out.select(
        F.lit("powSeries").alias(metric_col), F.col(ts_col),
        F.when(F.col("_complete"), F.col(value_col)).alias(value_col),
    )


def sin_function(base: DataFrame, name: str = "sin", amplitude: float = 1.0,
                 step: int = 60, metric_col: str = "metric",
                 ts_col: str = "ts", value_col: str = "value") -> DataFrame:
    """graphite ``sinFunction(name, amplitude, step)``: synthetic
    sin(ts) * amplitude over the render window grid (same frame-bounds
    grid rule as :func:`time_function`)."""
    grid = time_function(base, name, step, metric_col, ts_col, value_col)
    return grid.select(
        metric_col, ts_col,
        F.round(F.sin(F.col(ts_col).cast("double")) * float(amplitude), 6)
        .alias(value_col),
    )


def random_walk_function(base: DataFrame, name: str = "randomWalk",
                         step: int = 60, metric_col: str = "metric",
                         ts_col: str = "ts", value_col: str = "value") -> DataFrame:
    """graphite ``randomWalkFunction(name, step)``: a random walk over
    the render grid. graphite draws ``random.random() - 0.5`` per step;
    the engine uses a DETERMINISTIC portable generator — md5(ts) mapped
    to [-0.5, 0.5) then a running sum — so results replay identically
    across runs, engines, and partitionings (true RNG in a distributed
    plan would break the oracle/replay posture everywhere else).
    """
    grid = time_function(base, name, step, metric_col, ts_col, value_col)
    # 60-bit md5 prefix -> uniform [0,1) -> centered step
    u = (
        F.conv(F.substring(F.md5(F.col(ts_col).cast("string")), 1, 15), 16, 10)
        .cast("double") / float(16 ** 15)
    )
    w = Window.partitionBy(metric_col).orderBy(ts_col)
    return grid.select(
        metric_col, ts_col, (u - 0.5).alias("_step")
    ).select(
        metric_col, ts_col,
        F.round(F.sum("_step").over(w), 6).alias(value_col),
    )


def lttb_downsample(series: DataFrame, n_buckets: int,
                    metric_col: str = "metric", ts_col: str = "ts",
                    value_col: str = "value") -> DataFrame:
    """ClickHouse ``largestTriangleThreeBuckets(n)(t, v)``: downsample
    each series to ~n visually-representative points (Steinarsson's
    LTTB — the point per bucket that maximizes the triangle area with
    its neighbors keeps peaks/valleys a plain bucket-average erases).

    TRUE LTTB anchors each triangle at the PREVIOUSLY SELECTED point —
    a sequential chain per series (see :func:`lttb_downsample_exact`).
    This variant substitutes the previous bucket's AVERAGE, the
    standard parallelization: every bucket scores independently, so
    the whole downsample is two window passes — no per-series
    sequential scan, no Python. First/last points are always kept
    (both algorithms pin them). Deterministic tiebreak: max area,
    then earliest timestamp.
    """
    if n_buckets < 3:
        raise ValueError("n_buckets must be >= 3 (first + interior + last)")
    w = Window.partitionBy(metric_col)
    t0, t1 = F.min(ts_col).over(w), F.max(ts_col).over(w)
    nb = F.lit(int(n_buckets) - 2)
    span = (t1 - t0).cast("double")
    # interior buckets over (t0, t1); endpoints get their own ids
    bucket = F.when(F.col(ts_col) == t0, F.lit(-1)).when(
        F.col(ts_col) == t1, nb
    ).otherwise(
        F.least(
            ((F.col(ts_col) - t0).cast("double") / span * nb.cast("double"))
            .cast("long"),
            nb - 1,
        )
    )
    staged = series.select(
        metric_col, ts_col, value_col, bucket.alias("_b")
    )
    wb = Window.partitionBy(metric_col, "_b")
    # centroids via exact integer sums (ts long, value micro-units):
    # float avg merges in partition order, and a one-ulp centroid
    # wobble can flip the per-bucket area argmax under the oracle gate
    micro = F.round(F.col(value_col) * 1_000_000).cast("decimal(38,0)")
    cnt = F.count(F.lit(1)).over(wb).cast("double")
    avg_t = F.sum(ts_col).over(wb).cast("double") / cnt
    avg_v = F.sum(micro).over(wb).cast("double") / (cnt * 1_000_000.0)
    stats = staged.select(
        metric_col, ts_col, value_col, "_b",
        avg_t.alias("_bt"), avg_v.alias("_bv"),
    )
    # neighbor-bucket centroids as RANGE-FRAME windows directly on the
    # row frame (r14, guide §2.4): the previous formulation built a
    # distinct per-bucket table, lag/lead'd it, and joined it back —
    # the stats subtree (scan -> series agg -> bucket windows) sat on
    # both sides of that join and was physically computed TWICE (no
    # exchange reuse; at bench size Catalyst even broadcast the full
    # point-row side). Every row already carries its OWN bucket's
    # centroid (_bt/_bv are constant within a bucket), so the previous
    # EXISTING bucket's centroid is last(_bt) over the range frame
    # ending at _b - 1, and the next is first(_bt) over the frame
    # starting at _b + 1 — identical to lag/lead over the distinct
    # bucket table (empty frame -> NULL, same as lag's default), with
    # one scan, zero joins and no full-table broadcast hazard.
    # both frames are GROWING (unboundedPreceding -> moving end), which
    # Spark evaluates incrementally in O(n); the natural spelling of
    # "next" — first() over (1, unboundedFollowing) — is a shrinking
    # frame that Spark re-evaluates from scratch per row (O(n^2),
    # measured 9x task time on the sf0.1 bench), so "next" rides a
    # growing frame over the DESCENDING bucket order instead.
    prev_f = (Window.partitionBy(metric_col).orderBy("_b")
              .rangeBetween(Window.unboundedPreceding, -1))
    next_f = (Window.partitionBy(metric_col).orderBy(F.col("_b").desc())
              .rangeBetween(Window.unboundedPreceding, -1))
    joined = stats.select(
        metric_col, ts_col, value_col, "_b",
        F.last("_bt").over(prev_f).alias("_pt"),
        F.last("_bv").over(prev_f).alias("_pv"),
        F.last("_bt").over(next_f).alias("_nt"),
        F.last("_bv").over(next_f).alias("_nv"),
    )
    t = F.col(ts_col).cast("double")
    v = F.col(value_col)
    area = F.abs(
        (F.col("_pt") - F.col("_nt")) * (v - F.col("_pv"))
        - (F.col("_pt") - t) * (F.col("_nv") - F.col("_pv"))
    )
    wr = (
        Window.partitionBy(metric_col, "_b")
        .orderBy(F.desc_nulls_last("_area"), F.asc(ts_col))
    )
    ranked = joined.withColumn("_area", area).withColumn(
        "_rn", F.row_number().over(wr))
    keep = (F.col("_b") == -1) | (F.col("_b") == int(n_buckets) - 2) | (F.col("_rn") == 1)
    return ranked.filter(keep).select(metric_col, ts_col, value_col)


def lttb_downsample_exact(series: DataFrame, n_buckets: int,
                          metric_col: str = "metric", ts_col: str = "ts",
                          value_col: str = "value") -> DataFrame:
    """TRUE sequential LTTB (previous SELECTED point anchors each
    triangle), as a per-series Arrow kernel: ``applyInPandas`` over the
    metric key, numpy inside. A rendered series is bounded (the whole
    point is that it fits a chart), so per-group memory is small; use
    :func:`lttb_downsample` when the anchor approximation is
    acceptable and zero Python is wanted."""
    import pandas as pd

    if n_buckets < 3:
        raise ValueError("n_buckets must be >= 3")
    schema = series.select(metric_col, ts_col, value_col).schema

    def one(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        pdf = pdf.sort_values(ts_col).reset_index(drop=True)
        n = len(pdf)
        if n <= n_buckets:
            return pdf[[metric_col, ts_col, value_col]]
        t = pdf[ts_col].to_numpy(dtype="float64")
        v = pdf[value_col].to_numpy(dtype="float64")
        # Steinarsson's bucketing: indexes split evenly over (1, n-1)
        edges = np.linspace(1, n - 1, n_buckets - 1).astype(int)
        chosen = [0]
        for i in range(n_buckets - 2):
            lo, hi = edges[i], edges[i + 1]
            nxt_lo, nxt_hi = (edges[i + 1], n) if i == n_buckets - 3 else (
                edges[i + 1], edges[i + 2])
            ax, ay = t[chosen[-1]], v[chosen[-1]]
            cx, cy = t[nxt_lo:nxt_hi].mean(), v[nxt_lo:nxt_hi].mean()
            areas = np.abs(
                (ax - cx) * (v[lo:hi] - ay) - (ax - t[lo:hi]) * (cy - ay))
            chosen.append(lo + int(areas.argmax()))
        chosen.append(n - 1)
        return pdf.iloc[chosen][[metric_col, ts_col, value_col]]

    return (
        series.select(metric_col, ts_col, value_col)
        .groupBy(metric_col)
        .applyInPandas(one, schema)
    )
