"""Time-bucket (tumbling-window) aggregation.

Parity: ``<func>(value) GROUP BY metric, intDiv(toUInt32(ts), step)*step``
(MetricDataService.java:71-82). The bucket expression is epoch-aligned
``floor(ts/step)*step`` — identical semantics to a tumbling window of
width ``step`` (W1) but kept as integer arithmetic so the whole plan
stays in whole-stage codegen.

The per-metric aggregation *function* comes from retention rules. The
read path (``plans/metricdata.py``) writes its per-group aggregate in
its own SQL statement; :func:`bucket_aggregate_multi` is the
single-pass variant for rollup, where a ``function`` column drives
conditional aggregation — one shuffle instead of N.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: retention function name -> Spark aggregate over a value column
AGG_FUNCTIONS = {
    "avg": F.avg,
    "min": F.min,
    "max": F.max,
    "sum": F.sum,
    "any": F.first,
    "last": F.last,
    # graphite aggregate()/\*WithWildcards 'multiply' — null points skip,
    # matching the engine's None-skipping posture everywhere else
    "multiply": F.product,
}


def bucket_ts(ts: Column, step: int) -> Column:
    """Epoch-aligned tumbling bucket: ``ts div step * step``."""
    return (ts.cast("long") - (ts.cast("long") % F.lit(step))).alias("ts")


def bucket_aggregate_multi(points: DataFrame, step: int, function_col: str = "function",
                           ts_col: str = "timestamp", value_col: str = "value") -> DataFrame:
    """Single-pass variant: each row carries its retention ``function``.

    One shuffle for all function groups: aggregate every function
    conditionally, then pick the row's own via CASE. At 100 TB this
    beats N filtered passes over the same scan.
    """
    v = F.col(value_col)
    fn = F.col(function_col)
    grouped = points.groupBy(
        F.col("metric"), bucket_ts(F.col(ts_col), step), fn.alias("function")
    ).agg(
        F.avg(v).alias("_avg"),
        F.min(v).alias("_min"),
        F.max(v).alias("_max"),
        F.sum(v).alias("_sum"),
        F.first(v).alias("_any"),
        F.last(v).alias("_last"),
    )
    value = (
        F.when(F.col("function") == "avg", F.col("_avg"))
        .when(F.col("function") == "min", F.col("_min"))
        .when(F.col("function") == "max", F.col("_max"))
        .when(F.col("function") == "sum", F.col("_sum"))
        .when(F.col("function") == "any", F.col("_any"))
        .otherwise(F.col("_last"))
    )
    return grouped.select("metric", "ts", value.alias("value"))
