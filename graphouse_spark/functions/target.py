"""Graphite render-target parser: evaluate ``func(path.glob, args)`` engine-side.

The reference serves RAW series and lets graphite-web apply transform
functions post-fetch (`src/main/pySources/graphouse.py` is a plain
fetch adapter). This engine implements the function family natively
(`functions/timeseries.py`), so a render target like

    movingAverage(keepLastValue(events.click), 5)

can be evaluated INSIDE the engine: the whole pipeline becomes one
Catalyst plan over the pruned scan instead of shipping every raw point
to a python webapp. This module is the front door: a recursive-descent
parser for the graphite target grammar (nested calls, int/float/string
literals, metric globs) and an evaluator that binds names to the
DataFrame implementations.

Grammar (the subset every dashboard uses):
    target  := call | path
    call    := NAME '(' arg (',' arg)* ')'
    arg     := target | NUMBER | STRING
    path    := glob chars [A-Za-z0-9._*?{}[]!-]+ ; a {a,b} group keeps its commas
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphouse_spark.globs import glob_to_regex
from graphouse_spark import tags as tg
from graphouse_spark.functions import timeseries as ts

_TOKEN = re.compile(
    r"\s*(?:(?P<lpar>\()|(?P<rpar>\))|(?P<comma>,)"
    r"|(?P<string>'[^']*'|\"[^\"]*\")"
    r"|(?P<number>-?\d+\.\d+|-?\d+)"
    r"|(?P<atom>[A-Za-z_][A-Za-z0-9_]*(?=\s*\())"  # function name (lookahead '(')
    # a {..} brace group is one path piece, so its commas list
    # alternatives instead of separating arguments
    r"|(?P<path>(?:\{[^{}()\s]*\}|[A-Za-z0-9._\-*?{}\[\]!])+))"
)


@dataclass
class Call:
    name: str
    args: list


@dataclass
class Path:
    glob: str


def parse_target(s: str):
    """Parse a render target into a Call/Path/literal tree."""
    tokens = []
    pos = 0
    while pos < len(s):
        m = _TOKEN.match(s, pos)
        if not m or m.end() == pos:
            raise ValueError(f"bad target at {pos}: {s[pos:pos + 20]!r}")
        pos = m.end()
        kind = m.lastgroup
        text = m.group(kind)
        tokens.append((kind, text))
    tokens.append(("end", ""))

    i = 0

    def peek():
        return tokens[i]

    def eat(kind):
        nonlocal i
        k, t = tokens[i]
        if k != kind:
            raise ValueError(f"expected {kind}, got {k} {t!r} in {s!r}")
        i += 1
        return t

    def expr():
        k, t = peek()
        if k == "atom":
            name = eat("atom")
            eat("lpar")
            args = []
            if peek()[0] != "rpar":  # zero-arg calls: events(), time()
                args.append(expr())
                while peek()[0] == "comma":
                    eat("comma")
                    args.append(expr())
            eat("rpar")
            return Call(name, args)
        if k == "path":
            return Path(eat("path"))
        if k == "number":
            t = eat("number")
            return float(t) if "." in t else int(t)
        if k == "string":
            return eat("string")[1:-1]
        raise ValueError(f"unexpected {k} {t!r} in {s!r}")

    out = expr()
    if peek()[0] != "end":
        raise ValueError(f"trailing input in {s!r}")
    return out


def _flag(v) -> bool:
    """graphite boolean argument: accepts True/'true'/'1' (targets spell
    booleans as bare identifiers, which reach the registry as strings)."""
    return str(v).lower() in ("true", "1")


def _fn_named(df: DataFrame, fn_name: str, value_from: str) -> DataFrame:
    """Canonicalize and rename each series to ``fn(original)`` — the
    graphite convention for functions that wrap their input name
    (holtWinters family)."""
    return df.select(
        F.concat(F.lit(fn_name + "("), F.col("metric"), F.lit(")")).alias("metric"),
        F.col("ts"),
        F.col(value_from).alias("value"),
    )


def _at_time(df: DataFrame, spec) -> int | None:
    """Resolve a graphite at-time argument: None passes through, a bare
    epoch int passes through, a relative spec ('-7d') resolves against
    the frame's max ts (the engine analog of the request 'now'). The
    bounds read is one metadata-sized row."""
    if spec is None:
        return None
    t = str(spec).strip().strip("'\"")
    if t.lstrip("+-").isdigit() and not t.startswith(("+", "-")):
        return int(t)
    from graphouse_spark.queryparams import parse_render_time

    row = df.select(F.max("ts").alias("_t1")).first()
    now = 0 if row is None or row["_t1"] is None else int(row["_t1"])
    return parse_render_time(t, now)


def _aggregate_line(df: DataFrame, fn: str, keep) -> DataFrame:
    """graphite ``aggregateLine(series, func, keepStep)``: per-series
    scalar aggregate rendered as a flat line named
    ``aggregateLine(name, value)``. keepStep=false (default) emits the
    3-point start/mid/end guide line graphite draws; keepStep=true
    keeps the series' own grid. The per-series scalars are a tiny
    frame, so both shapes broadcast."""
    lines = ts.aggregate_line(df, fn)
    name = F.concat(
        F.lit("aggregateLine("), F.col("metric"), F.lit(", "),
        F.coalesce(F.col("line_value").cast("string"), F.lit("nan")),
        F.lit(")"),
    ).alias("metric")
    if _flag(keep):
        return df.select("metric", "ts").join(
            F.broadcast(lines), "metric").select(
            name, "ts", F.col("line_value").alias("value"))
    bounds = df.select(F.min("ts").alias("_t0"), F.max("ts").alias("_t1"))
    pts = bounds.select(F.explode(F.array(
        F.col("_t0"), ((F.col("_t0") + F.col("_t1")) / 2).cast("long"),
        F.col("_t1"))).alias("ts")).distinct()
    return lines.crossJoin(F.broadcast(pts)).select(
        name, "ts", F.col("line_value").alias("value"))


def _canon(df: DataFrame, value_from: str, metric: str | None = None) -> DataFrame:
    """Normalize a function's output to the canonical (metric, ts, value)
    shape so every registry entry composes with every other."""
    cols = [
        F.lit(metric).alias("metric") if metric is not None else F.col("metric"),
        F.col("ts"),
        F.col(value_from).alias("value"),
    ]
    return df.select(*cols)


def _derivative(df: DataFrame) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("metric").orderBy("ts")
    return df.select(
        "metric", "ts",
        F.round(F.col("value") - F.lag("value").over(w), 6).alias("value"),
    )


def _shift_seconds(spec) -> int:
    """graphite timeShift interval -> the engine's signed data shift.

    Raw numbers pass through (engine-native: positive moves data into
    the future). Graphite strings invert: a bare ``'1d'`` (graphite
    defaults it negative) shows YESTERDAY's data at today's
    timestamps — i.e. the data itself moves +86400; an explicit
    ``'+1d'`` shows tomorrow's data, data moves -86400.
    """
    if isinstance(spec, (int, float)):
        return int(spec)
    from graphouse_spark.queryparams import parse_render_time

    s = str(spec).strip()
    if s.startswith("+"):
        return parse_render_time("-" + s[1:], 0)  # future view: data backward
    if not s.startswith("-"):
        s = "-" + s
    return -parse_render_time(s, 0)  # past view: data forward


def _win(spec):
    """Window argument in either graphite form: bare int = points,
    duration string ('5min') = trailing time range."""
    t = str(spec).strip().strip("'\"")
    return int(t) if re.fullmatch(r"\d+", t) else t


def _ema_points(spec) -> int:
    """EMA window: graphite accepts a point count or a duration string;
    the EMA weights need a POINT count, so durations convert at the
    engine's 60s native step (graphite divides by the series step)."""
    w = _win(spec)
    return w if isinstance(w, int) else max(1, _secs(w) // 60)


def _secs(spec) -> int:
    """Interval argument: bare int = seconds, else a duration string
    ('1h', '30min' — the form graphite targets actually use)."""
    t = str(spec).strip().strip("'\"")
    if re.fullmatch(r"\d+", t):
        return int(t)
    from graphouse_spark.queryparams import parse_render_time

    return -parse_render_time("-" + t.lstrip("+-"), 0)


#: name -> callable (series_df, *literal_args) -> canonical frame — the
#: engine side of graphite-web's function registry. Every entry returns
#: (metric, ts, value) so arbitrary nesting composes.
_REGISTRY = {
    "movingAverage": lambda df, n, xff=None: _canon(ts.moving_average(
        df, _win(n), None if xff is None else float(xff)), "moving_avg"),
    "movingMedian": lambda df, n, xff=None: _canon(ts.moving_stats(
        df, _win(n), None if xff is None else float(xff)), "mov_median"),
    "sumSeries": lambda df: _canon(ts.sum_series(df), "sum_value", "sumSeries"),
    "averageSeries": lambda df: _canon(ts.stddev_series(df), "avg_value", "averageSeries"),
    "keepLastValue": lambda df, limit=None: _canon(
        ts.keep_last_value(df, None if limit is None else int(limit)),
        "filled_value"),
    "derivative": _derivative,
    "nonNegativeDerivative": lambda df, mv=None: _canon(
        ts.non_negative_derivative(df, None if mv is None else float(mv)), "rate"),
    "perSecond": lambda df: _canon(ts.per_second(df), "rate"),
    "scale": lambda df, k: ts.scale_series(df, float(k)),
    "offset": lambda df, k: ts.offset_series(df, float(k)),
    "offsetToZero": lambda df: ts.offset_to_zero(df),
    "absolute": lambda df: ts.absolute_series(df),
    # resetEnd/alignDST accepted for target compatibility; they assume
    # a refetch of the shifted window, which the engine's frame-shift
    # analog has no data for (see time_shift docstring)
    "timeShift": lambda df, spec, reset_end="true", align_dst="false":
        ts.time_shift(df, _shift_seconds(spec)),
    "highestMax": lambda df, n: ts.highest_max(df, int(n)).select("metric", "ts", "value"),
    "removeAboveValue": lambda df, v: ts.remove_above_value(df, float(v)),
    "removeBelowValue": lambda df, v: ts.remove_below_value(df, float(v)),
    "transformNull": lambda df, v=0.0, ref=None: ts.transform_null(
        df, float(v), ref),
    "aliasByNode": lambda df, *ns: ts.alias_by_node(df, *[int(n) for n in ns]),
    # graphite accepts a point count OR a duration string ('1h'); the
    # duration form converts at the engine's 60s native step
    "exponentialMovingAverage": lambda df, n: _canon(
        ts.exponential_moving_average(df, _ema_points(n)), "ema"),
    "logarithm": lambda df, base=10.0: ts.log_series(df, float(base)),
    "interpolate": lambda df, limit=None: ts.interpolate_series(
        df, None if limit is None else int(limit)),
    # graphite's default callback is AVERAGE (render/functions.py
    # groupByNode signature), not sum
    "groupByNode": lambda df, n, fn="average": ts.group_by_node(df, int(n), str(fn)),
    # round 6: filter-family complements, percentile trims, multi-series
    # arithmetic, multi-node grouping, sorts — plus registrations for
    # functions that existed engine-side but weren't reachable from a
    # render target yet
    "maximumAbove": lambda df, t: ts.maximum_above(df, float(t)),
    "maximumBelow": lambda df, t: ts.maximum_below(df, float(t)),
    "minimumAbove": lambda df, t: ts.minimum_above(df, float(t)),
    "minimumBelow": lambda df, t: ts.minimum_below(df, float(t)),
    "averageAbove": lambda df, t: ts.average_above(df, float(t)),
    "averageBelow": lambda df, t: ts.average_below(df, float(t)),
    "currentAbove": lambda df, t: ts.current_above(df, float(t)),
    "currentBelow": lambda df, t: ts.current_below(df, float(t)),
    "removeAbovePercentile": lambda df, p: ts.remove_above_percentile(df, float(p)),
    "removeBelowPercentile": lambda df, p: ts.remove_below_percentile(df, float(p)),
    "multiplySeries": lambda df: _canon(
        ts.multiply_series(df), "product_value", "multiplySeries"),
    # graphite flattens every argument into ONE list: the first series
    # minus the aligned sum of ALL others (multi-series minuend frames
    # contribute their non-first series to the subtrahend side too)
    "diffSeries": lambda a, *rest: ts.diff_series_target(a, *rest),
    # per-dividend results named divideSeries(d,divisor); >1 divisor
    # raises like graphite (rank pairing is divideSeriesLists)
    "divideSeries": lambda a, b: _canon(ts.divide_series(a, b), "ratio"),
    "countSeries": lambda df: _canon(
        ts.count_series(df).select("ts", F.col("n_series").cast("double").alias("n")),
        "n", "countSeries"),
    "groupByNodes": lambda df, fn, *nodes: ts.group_by_nodes(df, str(fn), list(nodes)),
    # tag family (ENGINE EXTENSION — the reference's model is the
    # dotted tree, search/tree/MetricTree.java; tags.py adds the
    # graphite 1.1 tagged-series semantics over the same frame)
    "aliasByTags": lambda df, *tags: tg.alias_by_tags(
        df, [str(t) for t in tags]),
    "groupByTags": lambda df, fn, *tags: tg.group_by_tags(
        df, str(fn), [str(t) for t in tags]),
    "sortByName": lambda df, natural="false", rev="false": ts.sort_by_name(
        df, _flag(natural), _flag(rev)).select("metric", "ts", "value"),
    "sortByTotal": lambda df, n=None: ts.sort_by_total(
        df, None if n is None else int(n)).select("metric", "ts", "value"),
    "sortByMaxima": lambda df, n=None: ts.sort_by_maxima(
        df, None if n is None else int(n)).select("metric", "ts", "value"),
    "mostDeviant": lambda df, n: ts.most_deviant(df, int(n)).select("metric", "ts", "value"),
    "nPercentile": lambda df, p: _canon(ts.n_percentile(df, float(p) / 100.0), "pctl_value"),
    "integral": lambda df: _canon(ts.running_total(df), "running_total"),

    # graphite signature timeSlice(series, startSliceAt, endSliceAt=
    # 'now') — at-time specs resolve against the frame's max ts; the
    # end bound is made exclusive-compatible by +1 on 'now'/absolute
    "timeSlice": lambda df, a, b="now": ts.time_slice(
        df, _at_time(df, a), _at_time(df, b) + 1),
    # graphite signature: timeStack(series, unit='1d', start=0, end=7)
    "timeStack": lambda df, unit="1d", s=0, e=7: ts.time_stack(
        df, _secs(unit), int(e), start=int(s)).select(
        F.concat_ws("#", "metric", F.col("shift_idx").cast("string")).alias("metric"),
        "ts", "value"),
    "delay": lambda df, n: ts.delay_series(df, int(n)),
    "squareRoot": lambda df: _canon(ts.pow_family(df), "root"),
    "invert": lambda df: _canon(ts.pow_family(df), "inverted"),
    # real exponent (round 8): pow(series, 2.5) obeys safePow's
    # math-error -> None domain rule, not just the squared fast path
    "pow": lambda df, p=2: ts.pow_series(df, float(p)),
    "grep": lambda df, pat: ts.grep_series(df, str(pat)),
    "exclude": lambda df, pat: ts.exclude_series(df, str(pat)),
    "aliasSub": lambda df, pat, rep: ts.alias_sub(df, str(pat), str(rep)),
    "asPercent": lambda df, total=None, *nodes: _canon(
        ts.as_percent(df, float(total)
                      if isinstance(total, (int, float, str)) and total is not None
                      else total,
                      nodes=tuple(int(n) for n in nodes)), "pct"),
    "changed": lambda df: _canon(ts.changed(df), "changed"),
    # graphite shape: a flat guide line named aggregateLine(name, v) —
    # 3 points over the window (keepStep=false) or the original grid
    "aggregateLine": lambda df, fn="average", keep="false":
        _aggregate_line(df, str(fn), keep),
    "minSeries": lambda df: _canon(ts.combine_series(df), "min_value", "minSeries"),
    "maxSeries": lambda df: _canon(ts.combine_series(df), "max_value", "maxSeries"),
    "rangeOfSeries": lambda df: _canon(
        ts.combine_series(df), "range_value", "rangeOfSeries"),
    # the *WithWildcards family DROPS the wildcarded positions from the
    # name and aggregates series that collapse together (graphite
    # "categorizes by ignoring the given positions" — the complement of
    # groupByNodes, which KEEPS positions; an earlier registration
    # wrongly used the keep semantics)
    "sumSeriesWithWildcards": lambda df, *nodes: ts.aggregate_with_wildcards(
        df, "sum", *[int(n) for n in nodes]),
    "averageSeriesWithWildcards": lambda df, *nodes:
        ts.aggregate_with_wildcards(df, "avg", *[int(n) for n in nodes]),
    "multiplySeriesWithWildcards": lambda df, *nodes:
        ts.aggregate_with_wildcards(df, "multiply", *[int(n) for n in nodes]),
    # round 7: generic selector/filter family + scalar transforms
    "alias": lambda df, name: ts.alias_series(df, str(name)),
    "aliasByMetric": lambda df: ts.alias_by_metric(df),
    "highest": lambda df, n=1, fn="average": ts.select_series_by(df, str(fn), int(n)),
    "lowest": lambda df, n=1, fn="average": ts.select_series_by(
        df, str(fn), int(n), lowest=True),
    "highestAverage": lambda df, n: ts.select_series_by(df, "average", int(n)),
    "lowestAverage": lambda df, n: ts.select_series_by(df, "average", int(n), lowest=True),
    "highestCurrent": lambda df, n: ts.select_series_by(df, "current", int(n)),
    "lowestCurrent": lambda df, n: ts.select_series_by(df, "current", int(n), lowest=True),
    "filterSeries": lambda df, fn, op, t: ts.filter_series(df, str(fn), str(op), float(t)),
    "limit": lambda df, n: ts.limit_series(df, int(n)),
    "removeEmptySeries": lambda df, xff=0.0: ts.remove_empty_series(
        df, float(xff)),
    "fallbackSeries": lambda df, alt: ts.fallback_series(df, alt),
    "isNonNull": lambda df: ts.is_non_null(df),
    "round": lambda df, p=0: ts.round_series(df, int(p)),
    "sigmoid": lambda df: ts.sigmoid_series(df),
    "add": lambda df, c: ts.offset_series(df, float(c)),
    "percentileOfSeries": lambda df, p, interp="false": _canon(
        ts.percentile_of_series(df, float(p) / 100.0, _flag(interp)),
        "pct_value", "percentileOfSeries"),
    "stdev": lambda df, n, tol=0.1: _canon(
        ts.moving_stddev(df, _win(n), float(tol)), "mov_stddev"),
    "minMax": lambda df: _canon(ts.min_max_normalize(df), "norm"),
    "weightedAverage": lambda avg_df, w_df, *nodes: ts.weighted_average(
        avg_df,
        w_df.select("metric", "ts", F.col("value").alias("weight")),
        [int(n) for n in nodes] if nodes else None,
    ).select(F.col("_key").alias("metric"), "ts",
             F.col("wavg").alias("value")),
    # graphite renames holtWinters results to fn(original)
    "holtWintersForecast": lambda df: _fn_named(
        ts.holt_winters_forecast(df), "holtWintersForecast", "forecast"),
    "holtWintersConfidenceUpper": lambda df: _fn_named(
        ts.holt_winters_bands(df), "holtWintersConfidenceUpper", "upper_band"),
    "holtWintersConfidenceLower": lambda df: _fn_named(
        ts.holt_winters_bands(df), "holtWintersConfidenceLower", "lower_band"),
    "holtWintersConfidenceBands": lambda df: (lambda b: (
        _fn_named(b, "holtWintersConfidenceUpper", "upper_band")
        .unionByName(_fn_named(b, "holtWintersConfidenceLower", "lower_band"))
    ))(ts.holt_winters_bands(df)),
    "holtWintersAberration": lambda df: _fn_named(
        ts.holt_winters_bands(df), "holtWintersAberration", "aberration"),
    "movingMin": lambda df, n, xff=None: _canon(ts.moving_stats(
        df, _win(n), None if xff is None else float(xff)), "mov_min"),
    "movingMax": lambda df, n, xff=None: _canon(ts.moving_stats(
        df, _win(n), None if xff is None else float(xff)), "mov_max"),
    "movingSum": lambda df, n, xff=None: _canon(ts.moving_stats(
        df, _win(n), None if xff is None else float(xff)), "mov_sum"),
    "aggregate": lambda df, fn="sum", xff=None: _canon(
        ts.aggregate_series(df, str(fn),
                            None if xff is None else float(xff)).select(
            "ts", F.col("value")), "value", "aggregate"),
    "group": lambda *dfs: ts.group_series(*dfs),
    "substr": lambda df, a=0, b=0: ts.substr_series(df, int(a), int(b)),
    # round 8: regression/fit, generic sorts/moving window, percentile
    # pruning, series-list pairwise arithmetic, generators, consolidation
    # tagging, legend decoration, display pass-throughs
    # startSourceAt/endSourceAt restrict the FIT window (at-time specs
    # resolve against the frame's max ts, the engine's "now")
    "linearRegression": lambda df, a=None, b=None: ts.linear_regression_line(
        df, _at_time(df, a), _at_time(df, b)),
    "logit": lambda df: ts.logit_series(df),
    "movingWindow": lambda df, n, fn="average", xff=None: _canon(
        ts.moving_window(df, _win(n), str(fn),
                         None if xff is None else float(xff)), "value"),
    "sortBy": lambda df, fn="average", rev=False: ts.sort_by(
        df, str(fn), str(rev).lower() in ("true", "1")),
    "sortByMinima": lambda df: ts.sort_by_minima(df),
    "unique": lambda df: ts.unique_series(df),
    "averageOutsidePercentile": lambda df, n: ts.average_outside_percentile(df, float(n)),
    "removeBetweenPercentile": lambda df, n: ts.remove_between_percentile(df, float(n)),
    "stddevSeries": lambda df: _canon(
        ts.stddev_series(df), "stddev_value", "stddevSeries"),
    "divideSeriesLists": lambda a, b: ts.series_lists_op(a, b, "divide"),
    "sumSeriesLists": lambda a, b: ts.series_lists_op(a, b, "sum"),
    "diffSeriesLists": lambda a, b: ts.series_lists_op(a, b, "diff"),
    "multiplySeriesLists": lambda a, b: ts.series_lists_op(a, b, "multiply"),
    "aggregateSeriesLists": lambda a, b, fn="sum": ts.series_lists_op(
        a, b, {"sum": "sum", "diff": "diff", "multiply": "multiply",
               "divide": "divide", "avg": "average",
               "average": "average"}[str(fn)]),
    "consolidateBy": lambda df, fn: ts.consolidate_by(df, str(fn)),
    "cumulative": lambda df: ts.consolidate_by(df, "sum"),
    "cactiStyle": lambda df, system=None, units=None: ts.cacti_style(
        df, None if system is None else str(system),
        None if units is None else str(units)),
    "legendValue": lambda df, *fns: ts.legend_value(df, *[str(f) for f in fns]),
    "holtWintersConfidenceArea": lambda df, delta=3.0:
        ts.holt_winters_confidence_area(df, float(delta)),
    # display-attribute pass-throughs: color/line style/axis placement
    # are renderer concerns — the engine returns the data unchanged so
    # dashboard targets that use them still compile to one plan. The
    # literal args are accepted and discarded (graphite-web consumes
    # them at draw time, after the data pipeline this engine replaces).
    "color": lambda df, c: df.select("metric", "ts", "value"),
    "alpha": lambda df, a: df.select("metric", "ts", "value"),
    "lineWidth": lambda df, w: df.select("metric", "ts", "value"),
    "dashed": lambda df, n=5: df.select("metric", "ts", "value"),
    "drawAsInfinite": lambda df: df.select("metric", "ts", "value"),
    "secondYAxis": lambda df: df.select("metric", "ts", "value"),
    "stacked": lambda df, name=None: df.select("metric", "ts", "value"),
    "areaBetween": lambda df: df.select("metric", "ts", "value"),
    "setXFilesFactor": lambda df, x: df.select("metric", "ts", "value"),
    "xFilesFactor": lambda df, x: df.select("metric", "ts", "value"),
    # mapSeries is a pass-through: graphite materializes a python
    # list-of-lists; here the map grouping IS the shared name prefix,
    # so reduceSeries reads it straight off the names (one equi-join /
    # aggregation — see timeseries.reduce_series)
    "mapSeries": lambda df, *nodes: df.select("metric", "ts", "value"),
    "reduceSeries": lambda df, fn, node, *ms: ts.reduce_series(
        df, str(fn), int(node), *[str(m) for m in ms]),
    # round 9: the native-step rate rescale, the node-dropping
    # aggregate, and the pairwise power fold
    "scaleToSeconds": lambda df, sec: ts.scale_to_seconds(df, int(sec)),
    # ClickHouse largestTriangleThreeBuckets surfaced for dashboards:
    # the shape-preserving alternative to maxDataPoints' average
    "lttb": lambda df, n: ts.lttb_downsample(df, int(n)),
    "aggregateWithWildcards": lambda df, fn, *nodes:
        ts.aggregate_with_wildcards(df, str(fn), *[int(n) for n in nodes]),
    # graphite powSeries(*seriesLists): every argument flattens into
    # one list before the aligned-point power fold
    "powSeries": lambda df, *more: ts.pow_series_pairwise(
        df if not more else ts.group_series(df, *more)),
}

#: functions whose FIRST argument is a literal, not a series: the
#: evaluator injects the base selection frame so the generator can

def _smart_anchor(wstart, align_to) -> int:
    """graphite smartSummarize bucket origin: the request start,
    truncated (UTC) to the ``alignTo`` unit boundary when given
    ('hours'/'1d'/'weeks'/...). Epoch when the window is unknown
    (library use) — which then degrades to plain epoch alignment."""
    import datetime as dt

    a = 0 if wstart is None else int(wstart)
    if align_to is None:
        return a
    u = str(align_to).strip().strip("'\"").lstrip("0123456789").lower()
    t = dt.datetime.fromtimestamp(a, dt.timezone.utc)
    if u.startswith("s"):
        t = t.replace(microsecond=0)
    elif u.startswith("min"):
        t = t.replace(second=0, microsecond=0)
    elif u.startswith("h"):
        t = t.replace(minute=0, second=0, microsecond=0)
    elif u.startswith("d"):
        t = t.replace(hour=0, minute=0, second=0, microsecond=0)
    elif u.startswith("w"):
        # graphite truncates weeks to SUNDAY (render/attime.py uses
        # isoweekday() % 7 days back), not python's Monday weekday()
        t = (t - dt.timedelta(days=(t.weekday() + 1) % 7)).replace(
            hour=0, minute=0, second=0, microsecond=0)
    elif u.startswith("mon"):
        t = t.replace(day=1, hour=0, minute=0, second=0, microsecond=0)
    elif u.startswith("y"):
        t = t.replace(month=1, day=1, hour=0, minute=0, second=0,
                      microsecond=0)
    else:
        raise ValueError(f"unknown smartSummarize alignTo unit {align_to!r}")
    return int(t.timestamp())


def _hitcount_anchor(wstart, interval: int, align) -> int:
    """graphite hitcount bucket origin: the request start, rounded down
    to the interval when alignToInterval is truthy; epoch when the
    window is unknown (library use)."""
    a = 0 if wstart is None else int(wstart)
    if str(align).lower() in ("true", "1"):
        a -= a % interval
    return a


#: functions whose graphite semantics depend on the render window
#: (requestContext.startTime): called as fn(head, window_start, *args).
_NEEDS_WINDOW = {
    # alignToFrom anchors buckets at the request start (graphite's
    # requestContext startTime); windowless library use falls back to
    # each series' own min ts inside ts.summarize
    "summarize": lambda df, wstart, sec, fn="sum", align="false": ts.summarize(
        df, _secs(sec), str(fn), _flag(align), anchor_seconds=wstart),
    # step=None -> infer each series' native step from its modal ts
    # delta (graphite uses series.step; hardcoding 60 mis-scales every
    # bucket integral over rolled-up or summarize()d input)
    "hitcount": lambda df, wstart, sec, align="false", step=None: _canon(
        ts.hitcount(df, _secs(sec), None if step is None else int(step),
                    anchor_seconds=_hitcount_anchor(wstart, _secs(sec), align)),
        "hits"),
    # graphite signature smartSummarize(series, interval, func='sum',
    # alignTo=None): buckets anchor at the request start (truncated to
    # the alignTo unit), NOT at an explicit anchor argument
    "smartSummarize": lambda df, wstart, sec, fn="sum", align_to=None: _canon(
        ts.smart_summarize(df, _secs(sec), _smart_anchor(wstart, align_to),
                           str(fn)), "value"),
    # graphite counts intervals from the request start (epoch when the
    # window is unknown — library default)
    "integralByInterval": lambda df, wstart, sec: _canon(
        ts.integral_by_interval(
            df, _secs(sec),
            anchor_seconds=0 if wstart is None else int(wstart)),
        "running_value"),
}

#: derive the render window (graphite uses requestContext start/end;
#: the engine analog is the frame's ts bounds).
_GENERATORS = {
    "constantLine": lambda base, v: ts.constant_line(base, float(v)),
    "threshold": lambda base, v, label=None: ts.constant_line(
        base, float(v), None if label is None else str(label)),
    "identity": lambda base, name="identity", step=60: ts.time_function(
        base, str(name), int(step)),
    "time": lambda base, name="Time", step=60: ts.time_function(
        base, str(name), int(step)),
    "timeFunction": lambda base, name="Time", step=60: ts.time_function(
        base, str(name), int(step)),
    "sinFunction": lambda base, name="sin", amplitude=1.0, step=60:
        ts.sin_function(base, str(name), float(amplitude), int(step)),
    "randomWalk": lambda base, name="randomWalk", step=60:
        ts.random_walk_function(base, str(name), int(step)),
    "randomWalkFunction": lambda base, name="randomWalk", step=60:
        ts.random_walk_function(base, str(name), int(step)),
    "verticalLine": lambda base, t, label=None: ts.vertical_line(
        base, t, None if label is None else str(label)),
}

#: functions needing the BASE frame in addition to their evaluated head
#: (they fetch series the head selection did not include).
_NEEDS_BASE = {
    "useSeriesAbove": lambda head, base, v, search, replace:
        ts.use_series_above(head, base, float(v), str(search), str(replace)),
}


def evaluate_target(series: DataFrame, target: str,
                    metric_col: str = "metric",
                    start: int | None = None,
                    end: int | None = None,
                    events: DataFrame | None = None) -> DataFrame:
    """Evaluate a render target against the (metric, ts, value) frame.

    A bare path selects matching series (glob filter — pushed to the
    scan); a call applies the registered function to its evaluated
    first argument, passing remaining literals through. Unknown
    function -> ValueError listing what IS supported (graphite-web can
    still post-process those: the raw-series contract is unchanged).

    ``start``/``end`` are the render window (graphite's
    requestContext): generators (constantLine/timeFunction/...) build
    their grid from them, so a generator-only target renders even when
    the selection frame is empty. Without them the generators fall
    back to the frame's own ts bounds (library/test use).
    """
    tree = parse_target(target)
    gen_base = series
    if start is not None and end is not None:
        gen_base = series.sparkSession.createDataFrame(
            [(int(start),), (int(end),)], "ts long")

    def ev(node):
        if isinstance(node, Path):
            rx = glob_to_regex(node.glob)  # anchored pattern string, or None
            if rx is None:
                return series.filter(F.lit(False))
            return series.filter(F.col(metric_col).rlike(rx))
        if isinstance(node, Call):
            if node.name == "applyByNode":
                # graphite applyByNode(series, n, template[, newName]):
                # evaluate the template once per distinct node-prefix.
                # The prefix set is collected to the driver — BOUNDED by
                # the number of series in the render selection (graphite
                # runs the identical per-series python loop post-fetch);
                # each prefix contributes one branch to a single union
                # plan, so execution stays fully distributed.
                head = ev(node.args[0])
                n = int(node.args[1])
                template = node.args[2].glob if isinstance(node.args[2], Path) \
                    else str(node.args[2])
                newname = None
                if len(node.args) > 3:
                    newname = node.args[3].glob if isinstance(node.args[3], Path) \
                        else str(node.args[3])
                prefix = F.array_join(
                    F.slice(F.split(F.col(metric_col), r"\."), 1, n + 1), ".")
                prefixes = sorted(
                    r["_p"] for r in
                    head.select(prefix.alias("_p")).distinct().collect()
                )
                outs = []
                for p in prefixes:
                    sub = ev(parse_target(template.replace("%", p)))
                    label = (newname or template).replace("%", p)
                    outs.append(sub.select(
                        F.lit(label).alias("metric"), "ts", "value"))
                if not outs:
                    return series.filter(F.lit(False)).select(
                        F.col(metric_col).alias("metric"), "ts", "value")
                out = outs[0]
                for s in outs[1:]:
                    out = out.unionByName(s)
                return out
            if node.name == "events":
                # graphite events(*tags) (ENGINE EXTENSION, events.py):
                # 1.0 at each matching event marker; needs the events
                # store passed by the caller (the /render path wires it
                # when --events is configured)
                from graphouse_spark import events as ev_mod

                if events is None:
                    raise ValueError(
                        "events() needs an events store (serve with "
                        "--events <path>)")
                etags = [a.glob if isinstance(a, Path) else str(a)
                         for a in node.args]
                return ev_mod.events_series(events, etags, start, end)
            if node.name == "seriesByTag":
                # graphite 1.1 tag selection (ENGINE EXTENSION — see
                # tags.py): every argument is a tag term, the frame is
                # the BASE selection; a name= equality term becomes a
                # sargable metric prefix range at the scan
                exprs = [a.glob if isinstance(a, Path) else str(a)
                         for a in node.args]
                return tg.series_by_tag(series, exprs, metric_col)
            if node.name == "aliasQuery" and len(node.args) >= 4:
                # graphite aliasQuery(series, search, replace, newName):
                # rewrite each series NAME into a new query, evaluate
                # it, take the last non-null value of its first series,
                # and %-format it into the alias
                # (graphite-web functions.py aliasQuery; the reference
                # serves these via its graphite-web plugin,
                # src/main/pySources/graphouse.py). Names collect to
                # the driver — bounded by the render selection, exactly
                # the per-series python loop graphite itself runs —
                # then ALL subqueries evaluate as one union plan: one
                # job for the last-values, however many series.
                head = ev(node.args[0])
                search, replace, newname = (
                    a.glob if isinstance(a, Path) else str(a)
                    for a in node.args[1:4])
                names = sorted(
                    r[0] for r in head.select(metric_col).distinct().collect())
                if not names:
                    return head
                subs = []
                for nm in names:
                    try:
                        q = re.sub(search, replace, nm)
                    except re.error as exc:
                        raise ValueError(
                            f"aliasQuery: bad pattern {search!r}: {exc}")
                    sub = ev(parse_target(q))
                    subs.append(sub.select(
                        F.lit(nm).alias("_src"),
                        F.col(metric_col).alias("_sub"),
                        "ts", "value"))
                u = subs[0]
                for s in subs[1:]:
                    u = u.unionByName(s)
                per_series = u.filter(F.col("value").isNotNull()).groupBy(
                    "_src", "_sub").agg(
                        F.max_by("value", "ts").alias("_last")).collect()
                # graphite takes newSeriesList[0]: first series of the
                # sub-result — lexicographic first for determinism
                firsts: dict[str, tuple[str, float]] = {}
                for r in per_series:
                    cur = firsts.get(r["_src"])
                    if cur is None or r["_sub"] < cur[0]:
                        firsts[r["_src"]] = (r["_sub"], r["_last"])
                mapping = {}
                for nm in names:
                    if nm not in firsts:
                        raise ValueError(
                            "aliasQuery: no series found with query "
                            f"{re.sub(search, replace, nm)!r}")
                    try:
                        mapping[nm] = newname % firsts[nm][1]
                    except TypeError:
                        mapping[nm] = newname
                label = F.col(metric_col)
                for nm, lab in mapping.items():
                    label = F.when(F.col(metric_col) == nm, F.lit(lab)) \
                        .otherwise(label)
                return head.withColumn(metric_col, label)
            if node.name in _GENERATORS:
                # literal-first generators: the series frame they see is
                # the BASE selection (render-window bounds), args pass
                # through as literals (a bare identifier is a string)
                lits = [
                    a.glob if isinstance(a, Path) else a for a in node.args
                ]
                return _GENERATORS[node.name](gen_base, *lits)
            if (node.name not in _REGISTRY and node.name not in _NEEDS_BASE
                    and node.name not in _NEEDS_WINDOW):
                raise ValueError(
                    f"unsupported function {node.name!r}; engine-side set: "
                    f"{sorted(set(_REGISTRY) | set(_GENERATORS) | set(_NEEDS_BASE) | set(_NEEDS_WINDOW))}"
                )
            if not node.args:
                raise ValueError(f"{node.name} needs a series argument")
            head = ev(node.args[0])
            # non-head Path args: a BARE single-segment identifier (no
            # dots, no glob chars) is a keyword like the ``sum`` in
            # ``summarize(x, 3600, sum)`` — graphite accepts it
            # unquoted — and passes through as a string; anything
            # dotted/globbed is a real series argument (diffSeries) and
            # evaluates. A top-level single-segment target still reads
            # as a series (this branch only covers argument positions).
            rest = [
                a.glob if isinstance(a, Path) and re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", a.glob)
                else ev(a) if isinstance(a, (Call, Path))
                else a
                for a in node.args[1:]
            ]
            if node.name in _NEEDS_BASE:
                return _NEEDS_BASE[node.name](head, series, *rest)
            if node.name in _NEEDS_WINDOW:
                return _NEEDS_WINDOW[node.name](head, start, *rest)
            return _REGISTRY[node.name](head, *rest)
        raise ValueError(f"a literal {node!r} is not a series")

    return ev(tree)


def collect_alias_query_rewrites(target: str):
    """``(head_globs, search, replace)`` per aliasQuery call.

    The static glob rewrite in :func:`collect_series_globs` only helps
    when search/replace rewrites literal glob segments; a pattern that
    matches only CONCRETE names (``srv(\\d+)\\.disk\\.used$``) leaves
    the glob untouched and the subquery series unfetched. The server
    closes the gap at render time: expand each head glob to concrete
    names, apply the rewrite per name, and fetch the results too."""
    tree = parse_target(target)
    out: list[tuple[list[str], str, str]] = []

    def head_globs(node) -> list[str]:
        gs: list[str] = []

        def w(n, head: bool):
            if isinstance(n, Path):
                if head or not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*",
                                            n.glob):
                    gs.append(n.glob)
                return
            if isinstance(n, Call):
                if n.name in _GENERATORS or n.name == "seriesByTag":
                    return
                for i, a in enumerate(n.args):
                    if isinstance(a, (Call, Path)):
                        w(a, i == 0)

        w(node, True)
        return gs

    def walk(node):
        if isinstance(node, Call):
            if node.name == "aliasQuery" and len(node.args) >= 4:
                search, replace = (
                    a.glob if isinstance(a, Path) else str(a)
                    for a in node.args[1:3])
                out.append((head_globs(node.args[0]), search, replace))
            for a in node.args:
                if isinstance(a, (Call, Path)):
                    walk(a)

    walk(tree)
    return out


def collect_tag_selections(target: str) -> list[list[str]]:
    """Every ``seriesByTag(...)`` term-list in the target — the tag
    twin of :func:`collect_series_globs`: the server resolves each
    selection against the data table (name= equality -> metric prefix
    range) before :func:`evaluate_target` runs."""
    tree = parse_target(target)
    out: list[list[str]] = []

    def walk(node):
        if isinstance(node, Call):
            if node.name == "seriesByTag":
                out.append([a.glob if isinstance(a, Path) else str(a)
                            for a in node.args])
                return
            for a in node.args:
                if isinstance(a, (Call, Path)):
                    walk(a)

    walk(tree)
    return out


def collect_series_globs(target: str) -> list[str]:
    """Every path glob the target will evaluate as a SERIES — the set a
    server must fetch before :func:`evaluate_target` can run. Mirrors
    the evaluator's argument rule exactly: the head argument of a call
    is always a series; a later bare single-segment identifier is a
    keyword, not a series; the top-level node always is one.
    """
    tree = parse_target(target)
    out: list[str] = []

    def walk(node, head: bool):
        if isinstance(node, Path):
            if head or not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", node.glob):
                if node.glob not in out:
                    out.append(node.glob)
            return
        if isinstance(node, Call):
            if node.name in _GENERATORS:
                return  # literal-first: no arg is ever a series
            if node.name == "useSeriesAbove" and len(node.args) >= 4:
                # the pivoted series come from the search->replace
                # rewrite of the head names; applying it to the head
                # GLOB is the static prefetch derivation (the canonical
                # 'requests'->'latency' usage rewrites literal segments)
                walk(node.args[0], head=True)
                if isinstance(node.args[0], Path) and isinstance(node.args[2], str) \
                        and isinstance(node.args[3], str):
                    try:
                        g = re.sub(node.args[2], node.args[3], node.args[0].glob)
                    except re.error:
                        g = None
                    if g and g not in out:
                        out.append(g)
                return
            if node.name == "aliasQuery" and len(node.args) >= 4:
                # the subqueries come from the search->replace rewrite
                # of the head names; applying it to the head GLOB is
                # the static prefetch derivation, as for useSeriesAbove
                walk(node.args[0], head=True)
                if isinstance(node.args[0], Path) and isinstance(node.args[1], str) \
                        and isinstance(node.args[2], str):
                    try:
                        g = re.sub(node.args[1], node.args[2], node.args[0].glob)
                    except re.error:
                        g = None
                    if g and g not in out:
                        out.append(g)
                return
            if node.name == "applyByNode" and len(node.args) >= 3:
                # the template's series come from substituting the head
                # glob's node prefix for '%' — statically derivable, so
                # the server can prefetch them like any other glob
                walk(node.args[0], head=True)
                if isinstance(node.args[0], Path):
                    n = int(node.args[1])
                    pfx = ".".join(node.args[0].glob.split(".")[: n + 1])
                    template = node.args[2].glob if isinstance(node.args[2], Path) \
                        else str(node.args[2])
                    try:
                        walk(parse_target(template.replace("%", pfx)), head=True)
                    except ValueError:
                        pass  # malformed template surfaces at evaluate time
                return
            for i, a in enumerate(node.args):
                if isinstance(a, (Call, Path)):
                    walk(a, head=(i == 0))

    walk(tree, head=True)
    return out
