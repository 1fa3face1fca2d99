"""The /metricData and /render series read — the flagship query plan.

Parity: MetricDataService.java:45-98 + MetricDataRowCallbackHandler
golden JSON. Pipeline (SURVEY §3.1):

    glob expansion (tree)            -> metric name list
    group metrics by retention func  -> one (function, names, params)
                                        group each
    ONE spark.sql statement, one UNION ALL branch per group:
      F1 IN-list ∧ F2 ts-range ∧ F3 date partition prune (the scan)
      UNION ALL the gap-fill grid: one (metric, bucket start, NULL,
        NULL) row per requested name x step, generated by explode
      REPARTITION(metric, bucket) — the branch's only exchange
      A1 LWW dedup  max_by(value, updated) GROUP BY metric, bucket, ts
      A2 bucket agg <func>(value) GROUP BY metric, bucket, NaN -> NULL
    one collect -> JSON {metric: {start, end, step, points}}

How the grid replaces a join: a grid row carries a NULL ``updated``,
which ``max_by`` never picks over a real point, and a NULL value,
which every retention aggregate skips — so every bucket exists and a
real point always wins, with no join and no second shuffle.

Scale notes:
- the names are bound parameters, so the IN-list reaches the Parquet
  scan as a pushed ``In``/``EqualTo`` filter; with the (metric,
  timestamp)-sorted layout the scan touches only matching row groups;
- the redundant ``date`` predicate (F3) is derived from the ts range
  exactly like the reference adds it for ClickHouse partition pruning
  (MetricDataService.java:75) — here it prunes parquet partitions;
- both aggregations group by a superset of the exchange keys, so they
  run on its clustering; keying the exchange on (metric, bucket) and
  not on metric alone keeps one long series spread over many tasks.
"""

from __future__ import annotations

import math
from collections import defaultdict
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession

from graphouse_spark.queryparams import MetricDataQueryParams
from graphouse_spark.retention import CombinedRetentionProvider, DefaultRetentionProvider

#: retention function -> SQL aggregate over the deduped value ``v``.
#: Every one skips NULLs, so grid rows never change a bucket's value.
_SQL_AGG = {
    "avg": "avg(v)",
    "min": "min(v)",
    "max": "max(v)",
    "sum": "sum(v)",
    "any": "first(v, true)",
    "last": "last(v, true)",
    # graphite aggregate()/\*WithWildcards 'multiply' (SQL has no
    # product aggregate; collect_list drops NULLs like the others)
    "multiply": "IF(count(v) = 0, NULL, "
                "aggregate(collect_list(v), 1D, (acc, x) -> acc * x))",
}

#: one retention group: (function, metric names, snapped params)
SeriesGroup = tuple[str, list[str], MetricDataQueryParams]

_BRANCH = """
SELECT metric, b AS ts, nanvl({agg}, CAST(NULL AS DOUBLE)) AS value FROM (
  SELECT metric, b, max_by(value, updated) AS v FROM (
    SELECT /*+ REPARTITION(metric, b) */ * FROM (
      SELECT metric, timestamp - timestamp % {step}L AS b, timestamp, value, updated
      FROM {{data}}
      WHERE metric IN ({names}) AND timestamp >= {start}L AND timestamp < {stop}L
        AND date >= to_date(from_unixtime({start}L))
        AND date <= to_date(from_unixtime({stop}L))
      UNION ALL
      SELECT metric, b, b, CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT)
      FROM (SELECT explode(array({names})) AS metric)
      LATERAL VIEW explode(sequence({start}L, {last}L, {step}L)) grid AS b
    )
  ) GROUP BY metric, b, timestamp
) GROUP BY metric, b"""

_EMPTY = ("SELECT CAST(NULL AS STRING) AS metric, CAST(NULL AS BIGINT) AS ts, "
          "CAST(NULL AS DOUBLE) AS value WHERE false")


def metric_series(spark: SparkSession, data: DataFrame,
                  groups: Sequence[SeriesGroup]) -> DataFrame:
    """Gap-filled (metric, ts, value) rows for every group, one statement.

    Each group yields exactly one row per requested name and grid step
    ``start, start+step, ... < start + num_points*step``; a bucket with
    no point, or whose aggregate is NaN, has a NULL value. ``start``
    must sit on the step grid (snapped params always do). Names reach
    the SQL only as bound parameters.
    """
    args: dict[str, str] = {}
    branches = []
    for function, names, params in groups:
        try:
            agg = _SQL_AGG[function]
        except KeyError:
            raise ValueError(f"unknown retention function {function!r}") from None
        start, step = int(params.start_time_seconds), int(params.step_seconds)
        if start % step:
            raise ValueError(f"start {start} is not a multiple of step {step}")
        if not names or params.num_points <= 0:
            continue
        keys = [f"n{len(args) + i}" for i in range(len(names))]
        args.update(zip(keys, names))
        last = start + (params.num_points - 1) * step
        branches.append(_BRANCH.format(
            agg=agg, names=", ".join(f":{k}" for k in keys), start=start,
            step=step, last=last, stop=last + step))
    if not branches:
        return spark.sql(_EMPTY)
    return spark.sql("\nUNION ALL\n".join(branches), args, data=data)


def render_series(rows, groups: Sequence[SeriesGroup]) -> dict:
    """Serialize gap-filled (metric, ts, value) rows to the JSON contract.

    Parity with MetricDataRowCallbackHandler.java:37-105: every
    requested metric gets a full [start, end) series on its group's
    step grid; missing buckets and non-finite values are null; metrics
    with zero rows still emit an all-null series. Each row is routed by
    its metric to the params of the group that requested it.
    """
    result: dict[str, dict] = {}
    route: dict[str, tuple[int, int, list]] = {}
    for _, names, params in groups:
        for name in names:
            points = [None] * params.num_points
            result[name] = {
                "start": params.start_time_seconds,
                "end": params.end_time_seconds,
                "step": params.step_seconds,
                "points": points,
            }
            route[name] = (params.start_time_seconds, params.step_seconds, points)
    for row in rows:
        target = route.get(row["metric"])
        if target is None:
            continue
        start, step, points = target
        offset = row["ts"] - start
        idx = offset // step
        if offset < 0 or idx >= len(points):
            continue
        v = row["value"]
        # Double.isFinite check in MetricDataRowCallbackHandler: NaN and
        # +/-Infinity both serialize as null (bare Infinity is not JSON).
        points[idx] = None if v is None or not math.isfinite(v) else v
    return result


class MetricDataService:
    """Multi-metric read: per-function grouping + params + JSON contract."""

    def __init__(self, provider: CombinedRetentionProvider | None = None,
                 max_points_per_metric: int = -1,
                 data_path: str | None = None,
                 index_path: str | None = None) -> None:
        self.provider = provider or DefaultRetentionProvider()
        self.max_points_per_metric = max_points_per_metric
        # zonemap wiring (install.md:181-184 analog): when both paths
        # are configured and the index exists, get_data swaps the full
        # table scan for an index-pruned file list (sources/skipping.py)
        self.data_path = data_path
        self.index_path = index_path

    def query_params(self, metric_names: list[str], start: int, end: int,
                     now_seconds: int | None = None) -> MetricDataQueryParams:
        retentions = [self.provider.get_retention(m) for m in metric_names]
        return MetricDataQueryParams.create(
            retentions, start, end, self.max_points_per_metric, now_seconds
        )

    def get_data(self, spark: SparkSession, data: DataFrame, metric_names: list[str],
                 start: int, end: int, now_seconds: int | None = None,
                 params: MetricDataQueryParams | None = None) -> dict:
        """Gap-filled series dict, matching the reference JSON contract.

        ``{name: {"start": s, "end": e, "step": st, "points": [v|None, ...]}}``
        (MetricDataRowCallbackHandler.java:96-105; consumed by
        graphouse.py:119-131). Metrics with no rows still emit full
        null series; an empty metric list -> {}. One statement, one
        collect, whatever the number of retention groups.
        """
        groups, data = self._read_plan(spark, data, metric_names, start, end,
                                       now_seconds, params)
        return render_series(metric_series(spark, data, groups).collect(), groups)

    def _read_plan(self, spark: SparkSession, data: DataFrame,
                   metric_names: list[str], start: int, end: int,
                   now_seconds: int | None,
                   params: MetricDataQueryParams | None = None,
                   ) -> tuple[list[SeriesGroup], DataFrame]:
        """Retention groups of a read, and the frame to scan for them."""
        # per-function grouping (MetricDataService.java:45-52); params are
        # derived PER GROUP from that group's retentions only
        # (MetricDataService.java:55-58), so a mixed-retention request
        # renders each group at its own step, not the global max.
        by_function: dict[str, list[str]] = defaultdict(list)
        for name in metric_names:
            by_function[self.provider.get_retention(name).function].append(name)
        groups = [
            (fn, names, params if params is not None
             else self.query_params(names, start, end, now_seconds))
            for fn, names in by_function.items()
        ]
        if groups:
            # zonemap prune (sources/skipping.py): swap the full-table
            # scan for the index-surviving file list, using the WIDEST
            # aligned range across groups so every group's predicate is
            # a subset of what the pruned frame may contain. Falls back
            # transparently (None) when no index is configured/built.
            pruned = self._pruned_source(
                spark, metric_names,
                min(p.start_time_seconds for _, _, p in groups),
                max(p.end_time_seconds for _, _, p in groups),
            )
            if pruned is not None:
                data = pruned
        return groups, data

    def _pruned_source(self, spark: SparkSession, metric_names: list[str],
                       start: int, end: int) -> DataFrame | None:
        """Index-pruned scan, or None when the zonemap can't be used."""
        if not self.data_path or not self.index_path:
            return None
        from graphouse_spark.sources.skipping import read_pruned_data

        return read_pruned_data(
            spark, self.data_path, self.index_path, metric_names, start, end
        )

    def base_series(self, spark: SparkSession, data: DataFrame,
                    metric_names: list[str], start: int, end: int,
                    now_seconds: int | None = None) -> DataFrame:
        """Gap-filled canonical (metric, ts, value) frame — the base a
        render-function tree evaluates over (/render serving path).

        The same statement as :meth:`get_data`, left uncollected:
        graphite datapoints carry their own timestamps, so mixed
        per-group steps coexist in a single result.
        """
        groups, data = self._read_plan(spark, data, metric_names, start, end,
                                       now_seconds)
        return metric_series(spark, data, groups)
