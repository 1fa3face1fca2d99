"""Last-writer-wins dedup — read-time finalization of Replacing semantics.

Parity:
- points:  ``argMax(value, updated) GROUP BY metric, timestamp``
  (MetricDataService.java:73-76) -> ``max_by(value, updated)``.
- tree:    ``argMax(status, updated) GROUP BY name``
  (MetricSearch.java:320-324).

Scale notes: a single hash-aggregate shuffle on the group keys;
Catalyst plans partial (map-side) + final aggregation automatically,
so duplicate-heavy partitions shrink before the shuffle. The series
read writes its own LWW into one SQL statement (plans/metricdata.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_points(data: DataFrame) -> DataFrame:
    """One row per (metric, timestamp): the value with the max ``updated``."""
    return data.groupBy("metric", "timestamp").agg(
        F.max_by("value", "updated").alias("value"),
        F.max("updated").alias("updated"),
    )


def dedup_points_ranked(data: DataFrame) -> DataFrame:
    """Window-rank formulation of :func:`dedup_points` (W4).

    Same result; useful when all original columns must survive.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("metric", "timestamp").orderBy(F.desc("updated"))
    return (
        data.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def latest_status(metrics: DataFrame) -> DataFrame:
    """One row per tree node: latest (status, level, parent) by ``updated``."""
    return metrics.groupBy("name").agg(
        F.max_by("status", "updated").alias("status"),
        F.max_by("level", "updated").alias("level"),
        F.max_by("parent", "updated").alias("parent"),
        F.max("updated").alias("updated"),
    )
