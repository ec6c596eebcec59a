"""KPI aggregates (SURVEY §2.4 A1-A3, A12).

All are single declarative aggregations — partial (map-side) aggregation and
spill come free from Spark; at 100 TB these are one shuffle of tiny partial
states, never of raw rows. ``signal_stats``, which every dashboard KPI
request builds twice, writes its aggregates as parsed SQL over the quoted
value column (see :mod:`..functions.sql`): one ``selectExpr`` call instead
of several py4j round trips per Column-API node.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.sql import ident

__all__ = ["signal_stats", "windowed_kpis", "grouped_stats"]


def signal_stats(df: DataFrame, value: str = "value") -> DataFrame:
    """A1/A2 (viz.py:165-176, 768-780): max/min/avg/stddev of a signal.

    pandas ``.std()`` is sample stddev (n-1) -> ``stddev_samp`` exactly.
    A select of aggregates with no grouping is the same global aggregate
    ``df.agg`` builds.
    """
    v = ident(value)
    return df.selectExpr(
        f"max({v}) AS max_value",
        f"min({v}) AS min_value",
        f"avg({v}) AS avg_value",
        f"stddev_samp({v}) AS std_value",
        f"count({v}) AS n",
    )


def windowed_kpis(df: DataFrame, ts: str = "timestamp", window_seconds: int = 60,
                  value: str = "value") -> DataFrame:
    """A3 (viz.py:783-803): stats over the trailing ``window_seconds`` ending
    at the max observed timestamp. Batch analog of the streaming sliding
    window (T5); computed as a self-contained plan: the max-ts subquery is a
    scalar aggregate Catalyst evaluates first, then the range filter pushes
    into the scan."""
    bounds = df.agg(F.max(ts).alias("max_ts"))
    recent = df.join(F.broadcast(bounds)).filter(
        F.col(ts) >= F.col("max_ts") - F.expr(f"INTERVAL {window_seconds} SECONDS")
    )
    return signal_stats(recent, value)


def grouped_stats(df: DataFrame, keys: list[str], value: str = "value") -> DataFrame:
    """Per-group variant (feeds the per-time-range KPI table, viz.py:1063-1146)."""
    return df.groupBy(*keys).agg(
        F.max(value).alias("max_value"),
        F.min(value).alias("min_value"),
        F.avg(value).alias("avg_value"),
        F.stddev_samp(value).alias("std_value"),
        F.count(value).alias("n"),
    )
