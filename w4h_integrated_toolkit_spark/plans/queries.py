"""The driver-facing query registry (SURVEY §2 coverage).

Each entry pairs a Spark DataFrame plan (built from the operator library)
with an ANSI-SQL oracle DuckDB runs on the same parquet tables. Conventions
that make the hash-compare deterministic across engines:

- every computed column is aliased identically on both sides;
- floating aggregates are rounded in-query (2 dp for large money sums,
  5-6 dp for means/ratios) so last-ulp summation-order differences vanish;
- timestamps stay naive-UTC (session TZ pinned; oracle avoids TIMESTAMPTZ
  producers like to_timestamp) or are emitted as epoch BIGINTs;
- epoch seconds always come from ``CAST(ts AS DOUBLE)`` / ``epoch(ts)``
  (microsecond precision on both engines);
- integer sums are CAST to BIGINT in DuckDB (its sum(int) is INT128);
- DuckDB regexp_replace always gets the 'g' flag (Spark's is global).

Literals (dates, thresholds) are chosen to be meaningful at every sf
(lineitem shipdates span 1995-2001; events span 2024-01).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import ensure_min_partitions, read_parquet
from ..functions import time_of_day_between
from ..operators import dedup as D
from ..operators import kpi as K
from ..operators import multimodal as MM
from ..operators import ranking as RK
from ..operators import similarity as SIM
from ..operators import sketches as SK
from ..operators import text as TX
from ..operators import timeseries as TS
from ..operators import graph as G
from ..operators.cohort import FilterSpec, cohort_anti_join, cohort_semi_join, filter_users
from ..operators.dedup import _perm_params
from ..operators.etl import (
    blocked_edit_distance_pairs,
    debounce_events,
    melt,
    scd2_apply,
    scd2_intervals,
    table_diff,
    weighted_priority_sample,
)
from ..operators.interval import asof_join, interval_join
from ..operators.safeband import alerts as sb_alerts
from ..operators.safeband import breach_histogram, safe_band
from ..operators.safeband import fixed_point_band as sb_fixed_point_band
from ..session import prepare_session

QueryFn = Callable[[SparkSession, str], DataFrame]


def _table_plan_cache(spark: SparkSession) -> dict:
    # Session-scoped TABLE-RESOLUTION cache (catalog metadata, r16): keyed on
    # the session object itself so it dies with the session. It holds only
    # UNEXECUTED scan plans of the immutable bench tables — no rows, no
    # computed intermediates; every action on a cached handle still scans the
    # parquet inputs from scratch. What it removes is the per-builder-call
    # re-resolution cost (pyarrow footer read + Spark schema inference + the
    # ensure_min_partitions physical probe + session-conf re-pinning), the
    # same metadata caching Spark itself does per-session for file listings
    # (spark.sql.hive.filesourcePartitionFileCacheSize) and a catalog does
    # for table schemas.
    return spark.__dict__.setdefault("_w4h_table_plans", {})


def _table_sig(path: str) -> tuple:
    """File-level signature of a parquet path (names, mtimes, sizes via one
    os.scandir — microseconds, no JVM round-trips). Part of the cache key so
    a table REWRITTEN at the same path (write → query → rewrite → query, the
    pattern several operator tests use) misses the cache and re-resolves
    instead of serving a stale file listing; the immutable bench tables hit
    every time. Missing path → empty signature (the read itself will raise
    the actionable error)."""
    try:
        with os.scandir(path) as it:
            return tuple(
                sorted(
                    (e.name, e.stat().st_mtime_ns, e.stat().st_size)
                    for e in it
                    if not e.name.startswith((".", "_"))
                )
            )
    except NotADirectoryError:
        st = os.stat(path)
        return ((path, st.st_mtime_ns, st.st_size),)
    except FileNotFoundError:
        return ()


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    cache = _table_plan_cache(spark)
    path = f"{sf_dir}/{name}.parquet"
    key = (path, "narrow", _table_sig(path))
    df = cache.get(key)
    if df is None:
        prepare_session(spark)
        df = read_parquet(spark, path)
        cache[key] = df
    return df


def _tw(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table read for CPU-dense consumers (per-token hashing, shingling):
    ``ensure_min_partitions`` redistributes a degenerate single-file scan so
    the hash-heavy map stage uses every core; on a real cluster the scan is
    already wide and this is a no-op (no exchange added)."""
    cache = _table_plan_cache(spark)
    path = f"{sf_dir}/{name}.parquet"
    key = (path, "wide", _table_sig(path))
    df = cache.get(key)
    if df is None:
        df = ensure_min_partitions(_t(spark, sf_dir, name))
        cache[key] = df
    return df


def _r(c, n):
    """Portable rounding: scale, round at integer, unscale.

    ``round(x, n)`` diverges across engines when x is a *decimal* half that
    has no exact binary representation (e.g. avg over a power-of-2 count:
    50.9034375 → Spark .903437, DuckDB .903438). Scaling first makes both
    engines round the *same* double, and integer-adjacent halves ARE exactly
    representable, where both round half-away-from-zero. The oracle SQL gets
    the same rewrite via :func:`_portable_round_sql`.
    """
    scale = F.lit(float(10**n))
    return F.round(c * scale, 0) / scale


def _savg(col, n):
    """Rounded order-independent mean (see operators.timeseries.stable_mean):
    float avg() is summation-order-dependent, so a parallel Spark sum and a
    serial DuckDB sum can straddle a rounding boundary when the true mean is
    an exact decimal (common: 2-decimal data over power-of-2 counts)."""
    return _r(TS.stable_mean(col, 6), n)


def _savg_sql(col: str, n: int) -> str:
    return (
        f"round(CAST(sum(CAST(round({col}*1e6) AS BIGINT)) AS DOUBLE)/1e6 / count({col}), {n})"
    )


def _fsum(c, n=2):
    """Exact fixed-point sum: round each row to a µ-scaled long (the per-row
    double is IEEE-identical across engines), sum as integers (order-
    independent — a float sum() is partial-sum-order-dependent and can
    straddle a rounding boundary between Spark's parallel and DuckDB's
    serial fold), render back as a rounded double. Scaled-long range bounds
    per-GROUP sums at ~9.2e12 in value units — far above any per-key group;
    switch to sum(decimal) only for single-group planetary totals."""
    return _r(
        F.sum(F.round(c * F.lit(1e6), 0).cast("long")).cast("double") / F.lit(1e6), n
    )


def _fsum_sql(expr: str, n: int = 2) -> str:
    """DuckDB twin of :func:`_fsum` (same scale, same rounding)."""
    return (
        f"round(CAST(sum(CAST(round(({expr})*1e6) AS BIGINT)) AS DOUBLE)/1e6, {n})"
    )


def _portable_round_sql(sql: str) -> str:
    """Rewrite every ``round(expr, n)`` in an oracle SQL string to the
    portable ``round((expr) * 1en) / 1en`` form (see :func:`_r`)."""
    idx = sql.find("round(")
    if idx == -1:
        return sql
    k = idx + len("round(")
    start, depth, last_comma = k, 0, None
    while True:
        ch = sql[k]
        if ch == "(":
            depth += 1
        elif ch == ")":
            if depth == 0:
                break
            depth -= 1
        elif ch == "," and depth == 0:
            last_comma = k
        k += 1
    if last_comma is None:  # round(x) without scale: leave as-is
        return sql[: k + 1] + _portable_round_sql(sql[k + 1 :])
    expr = _portable_round_sql(sql[start:last_comma])
    n = int(sql[last_comma + 1 : k].strip())
    repl = f"round(({expr}) * 1e{n}) / 1e{n}"
    return sql[:idx] + repl + _portable_round_sql(sql[k + 1 :])


# --------------------------------------------------------------------------
# 1. Relational spine (scan / filter / join / agg / sort) — SURVEY §2.1-2.4
# --------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H-Q1-shaped grouped aggregate (A1/A2 family). One scan,
    map-side partial aggs, 2-key hash agg; filter pushed to parquet."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _fsum(F.col("l_quantity")).alias("sum_qty"),
            _fsum(F.col("l_extendedprice")).alias("sum_base_price"),
            _fsum(disc).alias("sum_disc_price"),
            _fsum(disc * (1 + F.col("l_tax"))).alias("sum_charge"),
            _savg("l_quantity", 6).alias("avg_qty"),
            _savg("l_extendedprice", 6).alias("avg_price"),
            _savg("l_discount", 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
       round(CAST(sum(CAST(round((l_quantity)*1e6) AS BIGINT)) AS DOUBLE)/1e6, 2) AS sum_qty,
       round(CAST(sum(CAST(round((l_extendedprice)*1e6) AS BIGINT)) AS DOUBLE)/1e6, 2) AS sum_base_price,
       round(CAST(sum(CAST(round((l_extendedprice*(1-l_discount))*1e6) AS BIGINT)) AS DOUBLE)/1e6, 2) AS sum_disc_price,
       round(CAST(sum(CAST(round((l_extendedprice*(1-l_discount)*(1+l_tax))*1e6) AS BIGINT)) AS DOUBLE)/1e6, 2) AS sum_charge,
       round(CAST(sum(CAST(round(l_quantity*1e6) AS BIGINT)) AS DOUBLE)/1e6 / count(l_quantity), 6) AS avg_qty,
       round(CAST(sum(CAST(round(l_extendedprice*1e6) AS BIGINT)) AS DOUBLE)/1e6 / count(l_extendedprice), 6) AS avg_price,
       round(CAST(sum(CAST(round(l_discount*1e6) AS BIGINT)) AS DOUBLE)/1e6 / count(l_discount), 6) AS avg_disc,
       count(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: date-bounded predicate-pushdown scan (viz.py:140-153)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between(F.lit("1996-01-01"), F.lit("1996-12-31"))
    )
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        _fsum(F.col("l_extendedprice")).alias("sum_price"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
    )


_SQL_RANGE_SCAN = """
SELECT count(*) AS n_rows, round(CAST(sum(CAST(round((l_extendedprice)*1e6) AS BIGINT)) AS DOUBLE)/1e6, 2) AS sum_price,
       min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship
FROM lineitem
WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
"""


def q_cohort_kpi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.1 spine: typed null-tolerant attribute filters (F4) -> broadcast
    semi join (J1) -> grouped KPIs. The engine's main SELECT path."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    cohort = filter_users(
        cust,
        [
            FilterSpec("c_mktsegment", "string", ["BUILDING", "MACHINERY"]),
            FilterSpec("c_acctbal", "float", (0.0, 5000.0)),
        ],
    ).select(F.col("c_custkey").alias("o_custkey"))
    facts = cohort_semi_join(orders, cohort, "o_custkey")
    return facts.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _fsum(F.col("o_totalprice")).alias("sum_total"),
        _savg("o_totalprice", 6).alias("avg_total"),
    )


_SQL_COHORT_KPI = """
SELECT o_orderpriority, count(*) AS n_orders,
       round(CAST(sum(CAST(round((o_totalprice)*1e6) AS BIGINT)) AS DOUBLE)/1e6, 2) AS sum_total,
       round(CAST(sum(CAST(round(o_totalprice*1e6) AS BIGINT)) AS DOUBLE)/1e6 / count(o_totalprice), 6) AS avg_total
FROM orders
WHERE o_custkey IN (
    SELECT c_custkey FROM customer
    WHERE (c_mktsegment IN ('BUILDING','MACHINERY') OR c_mktsegment IS NULL)
      AND (c_acctbal BETWEEN 0.0 AND 5000.0 OR c_acctbal IS NULL))
GROUP BY o_orderpriority
"""


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: customers that never ordered (w4h_db_utils.py:160-173's set diff)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return cohort_anti_join(cust.select("c_custkey"), orders, "c_custkey")


_SQL_ANTI_JOIN = """
-- NOT EXISTS (not NOT IN): matches Spark left_anti semantics even if the
-- subquery key column ever contained NULLs
SELECT c_custkey FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


def q_mets_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/C4: broadcast dim lookup with default (viz.py:71-78 METs): weight
    from the dim when present, 70 kg otherwise; kcal->kJ->METs arithmetic."""
    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey"),
        (F.lit(50) + F.col("c_custkey") % 50).cast("double").alias("weight_kg"),
    )
    joined = ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey, "left")
    mets_col = (F.col("value") * 4.186) / F.coalesce(F.col("weight_kg"), F.lit(70.0))
    return joined.groupBy("user_id").agg(
        _r(F.avg(mets_col), 6).alias("avg_mets"), F.count(F.lit(1)).alias("n")
    )


_SQL_METS_LOOKUP = """
SELECT e.user_id,
       round(avg(e.value * 4.186 / coalesce(CAST(50 + c.c_custkey % 50 AS DOUBLE), 70.0)), 6) AS avg_mets,
       count(*) AS n
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
GROUP BY e.user_id
"""


def q_widget_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6: filter-widget domain discovery (viz.py:335-365): min/max of numeric
    attrs, distinct cardinality of categorical ones."""
    cust = _t(spark, sf_dir, "customer")
    return cust.agg(
        _r(F.min("c_acctbal"), 2).alias("min_acctbal"),
        _r(F.max("c_acctbal"), 2).alias("max_acctbal"),
        F.countDistinct("c_mktsegment").alias("n_segments"),
        F.countDistinct("c_nationkey").alias("n_nations"),
    )


_SQL_WIDGET_DOMAINS = """
SELECT round(min(c_acctbal),2) AS min_acctbal, round(max(c_acctbal),2) AS max_acctbal,
       count(DISTINCT c_mktsegment) AS n_segments,
       count(DISTINCT c_nationkey) AS n_nations
FROM customer
"""


def q_like_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7: LIKE pattern filter (viz.py:60-68 user_id LIKE %pattern%)."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_name").like("%1%"))
    return cust.agg(
        F.count(F.lit(1)).alias("n"), F.min("c_custkey").alias("min_key"),
        F.max("c_custkey").alias("max_key"),
    )


_SQL_LIKE_FILTER = """
SELECT count(*) AS n, min(c_custkey) AS min_key, max(c_custkey) AS max_key
FROM customer WHERE c_name LIKE '%1%'
"""


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5/O6: union + except (pd.concat / set-difference analogs)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    high = orders.filter(F.col("o_totalprice") > 300000).select(
        F.col("o_custkey").alias("custkey")
    )
    recent = orders.filter(F.col("o_orderdate") >= F.lit("2000-01-01")).select(
        F.col("o_custkey").alias("custkey")
    )
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    return high.union(recent).distinct().subtract(building)


_SQL_SET_OPS = """
SELECT custkey FROM (
  SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000
  UNION
  SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01')
EXCEPT
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
"""


def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k by value with deterministic tiebreak (limit after total order)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", _r(F.col("o_totalprice"), 2).alias("total"))
    )


_SQL_TOPK = """
SELECT o_orderkey, o_custkey, round(o_totalprice,2) AS total
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""


def q_first_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5-style row_number alignment: first event per user by time."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts")
    )


_SQL_FIRST_PER_USER = """
SELECT user_id, event_id, ts FROM (
  SELECT user_id, event_id, ts,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events) WHERE rn = 1
"""


def q_cohort_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6/A12: subject-vs-control KPI deltas (viz.py:850-921) — two scalar
    aggregates, 1x1 broadcast cross join, delta arithmetic."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    cohort = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("o_custkey")
    )
    subj = cohort_semi_join(orders, cohort, "o_custkey").agg(
        TS.stable_mean("o_totalprice").alias("avg_total"), F.count(F.lit(1)).alias("n")
    )
    ctrl = orders.agg(
        TS.stable_mean("o_totalprice").alias("avg_total"), F.count(F.lit(1)).alias("n")
    )
    s = subj.select(
        F.col("avg_total").alias("subject_avg"), F.col("n").alias("n_subject")
    )
    c = ctrl.select(
        F.col("avg_total").alias("control_avg"), F.col("n").alias("n_control")
    )
    return s.crossJoin(F.broadcast(c)).select(
        _r(F.col("subject_avg"), 6).alias("subject_avg"),
        _r(F.col("control_avg"), 6).alias("control_avg"),
        _r(F.col("subject_avg") - F.col("control_avg"), 6).alias("delta_avg"),
        "n_subject",
        "n_control",
    )


_SQL_COHORT_COMPARE = """
WITH subj AS (
  SELECT CAST(sum(CAST(round(o_totalprice*1e6) AS BIGINT)) AS DOUBLE)/1e6/count(o_totalprice) AS a,
         count(*) AS n FROM orders
  WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')),
ctrl AS (SELECT CAST(sum(CAST(round(o_totalprice*1e6) AS BIGINT)) AS DOUBLE)/1e6/count(o_totalprice) AS a,
         count(*) AS n FROM orders)
SELECT round(subj.a,6) AS subject_avg, round(ctrl.a,6) AS control_avg,
       round(subj.a - ctrl.a,6) AS delta_avg,
       subj.n AS n_subject, ctrl.n AS n_control
FROM subj, ctrl
"""


# --------------------------------------------------------------------------
# 2. GeoMTS time-series semantics on the events table — SURVEY §2.4/2.5
# --------------------------------------------------------------------------


def q_activity_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: per-user [first,last] activity timestamps (viz.py:765-766)."""
    return TS.activity_span(_t(spark, sf_dir, "events"), "user_id", "ts")


_SQL_ACTIVITY_SPAN = """
SELECT user_id, min(ts) AS start_date, max(ts) AS end_date FROM events GROUP BY user_id
"""


def q_resample_1min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: 1-minute mean downsample (data_preproc.ipynb cell 7)."""
    out = TS.resample_mean(
        _t(spark, sf_dir, "events"), "1 minute", "user_id", "ts", "value",
        stable_decimals=6,
    )
    return out.select(
        "user_id", "bucket_start", _r(F.col("mean_value"), 6).alias("mean_value")
    )


_SQL_RESAMPLE = """
SELECT user_id, date_trunc('minute', ts) AS bucket_start,
       round(CAST(sum(CAST(round(value*1e6) AS BIGINT)) AS DOUBLE)/1e6 / count(value), 6) AS mean_value
FROM events GROUP BY 1, 2
"""


def q_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5+W1-W3 (viz.py:80-96): per-user baseline scaling, elapsed days,
    lead-gap masking (null when gap to NEXT reading > 0.5 day)."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    out = TS.calibrate(ev, "user_id", "ts", "value", gap_days=0.5, stable_decimals=6)
    return out.select(
        "event_id",
        "user_id",
        _r(F.col("days_since_start"), 6).alias("days_since_start"),
        _r(F.col("scaled_value"), 6).alias("scaled_value"),
    )


_SQL_CALIBRATION = """
WITH base AS (
  SELECT event_id, user_id, value,
         epoch(ts) AS e,
         min(epoch(ts)) OVER (PARTITION BY user_id) AS e0,
         CAST(sum(CAST(round(value*1e6) AS BIGINT)) OVER (PARTITION BY user_id) AS DOUBLE)/1e6\n           / count(value) OVER (PARTITION BY user_id) AS mu,
         lead(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS e_next
  FROM events)
SELECT event_id, user_id,
       round((e - e0)/86400.0, 6) AS days_since_start,
       CASE WHEN (e_next - e)/86400.0 > 0.5 THEN NULL
            ELSE round(value/mu, 6) END AS scaled_value
FROM base
"""


def q_gap_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3/W4 standalone: 12 h lead-gap masking (viz.py:93)."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    out = TS.gap_mask(ev, 12 * 3600.0, "user_id", "ts", "value")
    return out.select(
        "event_id", "user_id", _r(F.col("masked_value"), 6).alias("masked_value")
    )


_SQL_GAP_MASK = """
SELECT event_id, user_id,
       CASE WHEN lead(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts) - epoch(ts)
                 > 43200.0 THEN NULL ELSE round(value,6) END AS masked_value
FROM events
"""


def q_safe_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: mean ± 2·stddev_samp band (viz.py:192-196)."""
    out = safe_band(_t(spark, sf_dir, "events"), "value")
    return out.select(
        _r(F.col("band_lo"), 6).alias("band_lo"), _r(F.col("band_hi"), 6).alias("band_hi")
    )


_SQL_SAFE_BAND = """
SELECT round(avg(value) - 2*stddev_samp(value),6) AS band_lo,
       round(avg(value) + 2*stddev_samp(value),6) AS band_hi
FROM events
"""


def q_breach_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 (viz.py:237-258): ≤600 buckets (≥30 s), per-bucket unsafe ratio and
    opacity ramp."""
    out = breach_histogram(_t(spark, sf_dir, "events"), "ts", "value")
    return out.select(
        "bucket",
        "n_total",
        "n_unsafe",
        _r(F.col("unsafe_ratio"), 6).alias("unsafe_ratio"),
        _r(F.col("opacity"), 6).alias("opacity"),
    )


_SQL_BREACH_HISTOGRAM = """
WITH s AS (
  SELECT min(epoch(ts)) AS t0, max(epoch(ts)) AS t1,
         avg(value) - 2*stddev_samp(value) AS lo,
         avg(value) + 2*stddev_samp(value) AS hi
  FROM events),
w AS (SELECT *, greatest((t1 - t0)/600, 30.0) AS bw FROM s)
SELECT CAST(floor((epoch(e.ts) - w.t0)/w.bw) AS BIGINT) AS bucket,
       count(*) AS n_total,
       CAST(sum(CASE WHEN e.value < w.lo OR e.value > w.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_unsafe,
       round(sum(CASE WHEN e.value < w.lo OR e.value > w.hi THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS unsafe_ratio,
       round(0.7 * (sum(CASE WHEN e.value < w.lo OR e.value > w.hi THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)) + 0.2, 6) AS opacity
FROM events e CROSS JOIN w
GROUP BY 1
"""


def q_time_of_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10: overnight-wrapping time-of-day slice 20:00 -> 04:45
    (viz.py:542-547, 1074) — compiles to the two-arm OR."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(time_of_day_between(F.col("ts"), 20 * 3600, 4 * 3600 + 45 * 60))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), _savg("value", 6).alias("avg_value"))
    )


_SQL_TIME_OF_DAY = """
SELECT event_type, count(*) AS n,
       round(CAST(sum(CAST(round(value*1e6) AS BIGINT)) AS DOUBLE)/1e6 / count(value), 6) AS avg_value
FROM events
WHERE (CAST(floor(epoch(ts)) AS BIGINT) % 86400) >= 72000
   OR (CAST(floor(epoch(ts)) AS BIGINT) % 86400) <= 17100
GROUP BY event_type
"""


def q_dedup_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: composite-key dedup (w4h_db_utils.py:192) expressed as the
    deterministic keep-min-id variant."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id", "event_type").agg(
        F.min("event_id").alias("keep_id"), F.count(F.lit(1)).alias("n")
    )


_SQL_DEDUP_COMPOSITE = """
SELECT user_id, event_type, min(event_id) AS keep_id, count(*) AS n
FROM events GROUP BY user_id, event_type
"""


def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 batch analog: 10-minute windows sliding by 5 (viz.py:783-803's
    recomputed trailing KPIs, as proper hopping windows)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), _savg("value", 6).alias("avg_value"))
        .select(F.col("w.start").cast("long").alias("window_start_epoch"), "n", "avg_value")
    )


_SQL_SLIDING_WINDOW = """
WITH assigned AS (
  SELECT CAST(floor(epoch(ts)/300)*300 AS BIGINT) AS w_start, value FROM events
  UNION ALL
  SELECT CAST(floor(epoch(ts)/300)*300 - 300 AS BIGINT) AS w_start, value FROM events)
SELECT w_start AS window_start_epoch, count(*) AS n,
       round(CAST(sum(CAST(round(value*1e6) AS BIGINT)) AS DOUBLE)/1e6 / count(value), 6) AS avg_value
FROM assigned GROUP BY 1
"""


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C14: JSON decode of the props payload + aggregate."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("total_k"), F.count(F.lit(1)).alias("n")
    )


_SQL_JSON_EXTRACT = """
SELECT event_type,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS total_k,
       count(*) AS n
FROM events GROUP BY event_type
"""


# --------------------------------------------------------------------------
# 3. ETL (melt / unpivot) — SURVEY §3.3
# --------------------------------------------------------------------------


def q_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide->narrow unpivot via stack() (w4h_db_utils.py:184-189 loop)."""
    return melt(_t(spark, sf_dir, "part"), ["p_partkey"], ["p_retailprice", "p_size"])


_SQL_MELT = """
SELECT p_partkey, 'p_retailprice' AS feature, CAST(p_retailprice AS DOUBLE) AS value FROM part
UNION ALL
SELECT p_partkey, 'p_size' AS feature, CAST(p_size AS DOUBLE) AS value FROM part
"""


# --------------------------------------------------------------------------
# 4. Text analysis + dedup + similarity (north-star training-data ops)
# --------------------------------------------------------------------------


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: md5 + portable 32-bit rolling hash + md5-prefix
    hash (the exact-dedup / LSH primitives)."""
    return TX.fingerprint(_t(spark, sf_dir, "documents"))


_SQL_FINGERPRINT = """
SELECT doc_id, md5(text) AS md5_fp,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
                      [CAST(ascii(c) AS BIGINT) for c in string_split(text, '')]),
         (a, b) -> (a*31 + b) % 2147483647) AS rolling_fp,
       list_reduce(
         [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
          for c in string_split(substr(md5(text), 1, 8), '')],
         (a, b) -> a*16 + b) AS fp32
FROM documents
"""


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups by content hash (keep min doc_id)."""
    return D.exact_dedup(_t(spark, sf_dir, "documents"))


_SQL_EXACT_DEDUP = """
SELECT md5(text) AS content_key, min(doc_id) AS keep_id, count(*) AS n_dups
FROM documents GROUP BY md5(text)
"""


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document surface stats (token counting, ratios)."""
    out = TX.text_stats(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        _r(F.col("mean_token_len"), 6).alias("mean_token_len"),
        _r(F.col("punct_ratio"), 6).alias("punct_ratio"),
        _r(F.col("digit_ratio"), 6).alias("digit_ratio"),
    )


_SQL_TEXT_STATS = r"""
WITH base AS (
  SELECT doc_id, text,
         length(text) AS n_chars,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
         length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS n_punct,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
         length(text) - length(regexp_replace(text, '\s', '', 'g')) AS n_space
  FROM documents)
SELECT doc_id, n_chars, n_tokens,
       round(CAST(n_chars - n_space AS DOUBLE)/n_tokens, 6) AS mean_token_len,
       round(CAST(n_punct AS DOUBLE)/n_chars, 6) AS punct_ratio,
       round(CAST(n_digit AS DOUBLE)/n_chars, 6) AS digit_ratio
FROM base
"""


def _marker_hits_sql(words: list[str]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return (
        f"CAST(len(list_filter(toks, x -> list_contains([{lst}], x))) AS BIGINT)"
    )


def _langid_sql() -> str:
    from ..operators.text import _LANG_MARKERS

    score_exprs = [
        _marker_hits_sql(words) + f" AS score_{lang}"
        for lang, words in _LANG_MARKERS.items()
    ]
    langs = list(_LANG_MARKERS)
    best = "greatest(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    case = "CASE " + " ".join(
        f"WHEN score_{lang} = best AND best > 0 THEN '{lang}'" for lang in langs
    ) + " ELSE 'und' END"
    return rf"""
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
  FROM documents),
scored AS (SELECT doc_id, {', '.join(score_exprs)} FROM tok),
ranked AS (SELECT doc_id, {best} AS best, * FROM scored)
SELECT doc_id, {case} AS lang_pred, best AS best_score FROM ranked
"""


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic stopword-marker language ID."""
    return TX.language_id(_tw(spark, sf_dir, "documents"))


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite document quality score."""
    out = TX.quality_score(_t(spark, sf_dir, "documents"))
    return out.select("doc_id", _r(F.col("quality"), 6).alias("quality"))


def _quality_sql() -> str:
    from ..operators.text import _LANG_MARKERS

    en_parts = _marker_hits_sql(_LANG_MARKERS["en"])
    return rf"""
WITH base AS (
  SELECT doc_id, text,
         regexp_split_to_array(lower(trim(text)), '\s+') AS toks,
         length(text) AS n_chars,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
         length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS n_punct,
         length(text) - length(regexp_replace(text, '\s', '', 'g')) AS n_space
  FROM documents),
feat AS (
  SELECT doc_id,
         {en_parts} AS en_hits,
         n_tokens,
         CAST(n_chars - n_space AS DOUBLE)/n_tokens AS mean_token_len,
         CAST(n_punct AS DOUBLE)/n_chars AS punct_ratio
  FROM base)
SELECT doc_id,
       round(greatest(least(
         0.4 * least(n_tokens/50.0, 1.0)
       + 0.3 * least(CAST(en_hits AS DOUBLE)/greatest(n_tokens*0.02, 1.0), 1.0)
       + 0.3 * (CASE WHEN mean_token_len BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END)
       - least(punct_ratio*2.0, 0.5), 1.0), 0.0), 6) AS quality
FROM feat
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact Jaccard over word-5-gram shingles (inverted-
    index self-join; hot-shingle cap is OFF here for oracle equivalence)."""
    out = D.ngram_jaccard_pairs(_tw(spark, sf_dir, "documents"), n=5, threshold=0.2)
    return out.select("id_a", "id_b", _r(F.col("jaccard"), 6).alias("jaccard"))


_SQL_NGRAM_JACCARD = r"""
WITH words AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
sh AS (
  SELECT doc_id,
         unnest(list_distinct([array_to_string(w[i:i+4], ' ') for i in range(1, len(w) - 3)])) AS shingle
  FROM words WHERE len(w) >= 5),
sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       round(n_common / CAST(sa.set_size + sb.set_size - n_common AS DOUBLE), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE n_common / CAST(sa.set_size + sb.set_size - n_common AS DOUBLE) >= 0.2
"""


_ROLLING_IN_SQL = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "[CAST(ascii(c) AS BIGINT) for c in string_split({s}, '')]), "
    "(a, b) -> (a*31 + b) % 2147483647)"
)

# MD5-prefix portable hashes (functions.portable_hash32/31): JVM-fast on the
# Spark side, exact-reproducible in DuckDB via a hex-literal cast.
_MD5H32_IN_SQL = "CAST('0x' || substr(md5({s}), 1, 8) AS BIGINT)"
_MD5H31_IN_SQL = "(CAST('0x' || substr(md5({s}), 1, 8) AS BIGINT) % 2147483647)"


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (8 perms over word-3-gram shingles) — the LSH
    dedup primitive, fully portable hash family."""
    return D.minhash_signatures(_tw(spark, sf_dir, "documents"), n=3, num_perm=8)


def _shingle_hash_ctes() -> str:
    """words -> sh (each doc's word-3-gram shingles) -> h (their portable
    MD5-prefix hashes): the CTE chain every MinHash oracle starts from."""
    rolling = _MD5H31_IN_SQL.format(s="s")
    return rf"""words AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
sh AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 3
              THEN [array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]
              ELSE [] END AS shingles
  FROM words),
h AS (SELECT doc_id, [{rolling} for s in shingles] AS hs FROM sh)"""


def _minhash_cols(num_perm: int) -> str:
    return ", ".join(
        f"coalesce(list_min([({pa}*h + {pb}) % 2147483647 for h in hs]), 2147483647) AS mh_{i}"
        for i, (pa, pb) in enumerate(_perm_params(num_perm))
    )


def _minhash_sql(num_perm: int = 8) -> str:
    return f"""
WITH {_shingle_hash_ctes()}
SELECT doc_id, {_minhash_cols(num_perm)} FROM h
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprints from word MD5-prefix hashes."""
    return D.simhash32(_tw(spark, sf_dir, "documents"))


def _simhash_sql() -> str:
    rolling = _MD5H32_IN_SQL.format(s="word")
    votes = ", ".join(
        f"CAST(sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS v{b}"
        for b in range(32)
    )
    fp = " + ".join(f"(CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)" for b in range(32))
    return rf"""
WITH wrds AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS word FROM documents),
wh AS (SELECT doc_id, {rolling} AS h FROM wrds),
votes AS (SELECT doc_id, {votes} FROM wh GROUP BY doc_id)
SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM votes
"""


def q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-5 for query vectors (vec_id < 8):
    broadcast queries, each (query, corpus) pair scored in the
    ``similarity._cosine_batch`` pandas UDF, deterministic tiebreaks."""
    emb = _t(spark, sf_dir, "embeddings")
    out = SIM.cosine_topk(emb, emb.filter(F.col("vec_id") < 8), k=5)
    return out.select(
        "query_id", "neighbor_id", "rank", _r(F.col("cos"), 5).alias("cos")
    )


_SQL_KNN = """
WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 8),
c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
s AS (SELECT qid, nid,
             list_dot_product(qv, cv) /
             (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos
      FROM q CROSS JOIN c WHERE qid <> nid),
r AS (SELECT qid AS query_id, nid AS neighbor_id, cos,
             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
      FROM s)
SELECT query_id, neighbor_id, rank, round(cos, 5) AS cos FROM r WHERE rank <= 5
"""


# --------------------------------------------------------------------------
# 4b. Second wave: percentiles, rollup/pivot, sessionization, alignment,
#     pagination, string ops, distinct counts (SURVEY §2.4/2.6/2.7)
# --------------------------------------------------------------------------


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (A13's exact counterpart; the approx
    variant is q_approx_aggregates). Spark percentile() and DuckDB
    quantile_cont both use linear interpolation."""
    orders = _t(spark, sf_dir, "orders")
    return orders.agg(
        _r(F.expr("percentile(o_totalprice, 0.25)"), 4).alias("p25"),
        _r(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
        _r(F.expr("percentile(o_totalprice, 0.75)"), 4).alias("p75"),
        _r(F.expr("percentile(o_totalprice, 0.95)"), 4).alias("p95"),
    )


_SQL_PERCENTILES = """
SELECT round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
       round(quantile_cont(o_totalprice, 0.5), 4)  AS p50,
       round(quantile_cont(o_totalprice, 0.75), 4) AS p75,
       round(quantile_cont(o_totalprice, 0.95), 4) AS p95
FROM orders
"""


def q_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: exact distinct cardinalities across fact/dim tables."""
    ev = _t(spark, sf_dir, "events")
    orders = _t(spark, sf_dir, "orders")
    a = ev.agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("event_type").alias("n_event_types"),
    )
    b = orders.agg(F.countDistinct("o_custkey").alias("n_ordering_custs"))
    return a.crossJoin(F.broadcast(b))


_SQL_DISTINCT_COUNTS = """
SELECT (SELECT count(DISTINCT user_id) FROM events) AS n_users,
       (SELECT count(DISTINCT event_type) FROM events) AS n_event_types,
       (SELECT count(DISTINCT o_custkey) FROM orders) AS n_ordering_custs
"""


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup hierarchy totals (orderstatus -> priority -> grand total)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), _fsum(F.col("o_totalprice")).alias("sum_total")
    )


_SQL_ROLLUP = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       round(CAST(sum(CAST(round((o_totalprice)*1e6) AS BIGINT)) AS DOUBLE)/1e6, 2) AS sum_total
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event_type into per-user count columns (explicit value list so
    the plan is a single hash agg, no distinct-discovery pass)."""
    ev = _t(spark, sf_dir, "events")
    out = ev.groupBy("user_id").pivot("event_type", _EVENT_TYPES).count()
    return out.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in _EVENT_TYPES],
    )


_SQL_PIVOT = """
SELECT user_id,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
FROM events GROUP BY user_id
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: a >1 h silence starts a new session (lag + running
    sum of session-start flags over the per-user time order)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
    new_sess = F.when(gap.isNull() | (gap > 3600.0), 1).otherwise(0)
    sess = ev.withColumn(
        "session_id",
        F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.max("n_events").alias("max_session_events"),
    )


_SQL_SESSIONIZE = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts)
                   > 3600.0
              OR lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events),
sess AS (
  SELECT user_id,
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM flagged),
per_session AS (
  SELECT user_id, session_id, count(*) AS n_events FROM sess GROUP BY 1, 2)
SELECT user_id, count(*) AS n_sessions, max(n_events) AS max_session_events
FROM per_session GROUP BY user_id
"""


def q_align_by_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: positional 1:1 alignment of two per-user streams (the trajectory
    generator pairs heart-rate timestamps with generated points by position,
    augment_with_trajectories.ipynb cell 4): i-th click joined to i-th view."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .withColumn("rn", F.row_number().over(w))
        .select("user_id", "rn", F.col("event_id").alias("click_id"))
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .withColumn("rn", F.row_number().over(w))
        .select("user_id", "rn", F.col("event_id").alias("view_id"))
    )
    return clicks.join(views, ["user_id", "rn"])


_SQL_ALIGN = """
WITH clicks AS (
  SELECT user_id, event_id AS click_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events WHERE event_type = 'click'),
views AS (
  SELECT user_id, event_id AS view_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events WHERE event_type = 'view')
SELECT user_id, rn, click_id, view_id FROM clicks JOIN views USING (user_id, rn)
"""


def q_offset_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3: offset/limit pagination over a total order (stream_sim.py:52-58's
    cursor batching, batch analog).

    Uses native offset()+limit() (Spark >=3.4): the sort stays
    range-partitioned and only offset+limit rows reach the driver-side
    CollectLimit. The previous row_number() over an unpartitioned Window
    funneled the WHOLE table through one task — correct at sf0.01, fatal
    at 100x (tests/test_plans.py asserts no partitionBy-less Window
    remains in this plan)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select("event_id", "user_id", "event_type")
        .orderBy("event_id")
        .offset(100)
        .limit(100)
    )


_SQL_OFFSET_BATCH = """
SELECT event_id, user_id, event_type
FROM events ORDER BY event_id LIMIT 100 OFFSET 100
"""


def q_string_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8/C10: string normalize/tokenize/capitalize (import_hub_main.py:14-31
    pipeline) on part names — portable first-letter capitalization."""
    part = _t(spark, sf_dir, "part")
    norm = F.lower(F.regexp_replace(F.col("p_name"), "_", " "))
    toks = F.split(F.trim(norm), r"\s+")
    cap = F.concat(
        F.upper(F.substring(norm, 1, 1)), F.substring(norm, 2, 1000000)
    )
    return part.select(
        "p_partkey",
        norm.alias("norm_name"),
        F.size(toks).alias("n_tokens"),
        cap.alias("cap_name"),
    )


_SQL_STRING_NORMALIZE = r"""
SELECT p_partkey,
       lower(replace(p_name, '_', ' ')) AS norm_name,
       len(regexp_split_to_array(trim(lower(replace(p_name, '_', ' '))), '\s+')) AS n_tokens,
       upper(substr(lower(replace(p_name, '_', ' ')), 1, 1))
         || substr(lower(replace(p_name, '_', ' ')), 2) AS cap_name
FROM part
"""


def q_fuzzy_column_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9: fuzzy column auto-mapping as a relational query — candidate
    columns x canonical hints, Levenshtein-ratio scored, argmax per target
    with the 60-point threshold (import_hub_main.py:34-55)."""
    from pyspark.sql import Window

    cands = ["patient email", "start time", "heart rate bpm", "calorie burn", "junk col"]
    targets = [
        ("user_id", "user id email patient"),
        ("timestamp", "time timestamp date start"),
        ("heart_rates", "heart rate value bpm"),
        ("calories", "calories value burn"),
    ]
    cand_df = spark.createDataFrame([(c,) for c in cands], "candidate string")
    tgt_df = spark.createDataFrame(targets, "target string, hint string")
    scored = tgt_df.crossJoin(F.broadcast(cand_df)).withColumn(
        "score",
        _r(
            100.0
            * (
                1
                - F.levenshtein("candidate", "hint")
                / F.greatest(F.length("candidate"), F.length("hint"))
            ),
            4,
        ),
    )
    w = Window.partitionBy("target").orderBy(F.col("score").desc(), F.col("candidate"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "target",
            F.when(F.col("score") >= 60.0, F.col("candidate")).alias("best_candidate"),
            "score",
        )
    )


_SQL_FUZZY_MAPPING = """
WITH cands(candidate) AS (VALUES ('patient email'), ('start time'),
                                 ('heart rate bpm'), ('calorie burn'), ('junk col')),
tgts(target, hint) AS (VALUES ('user_id', 'user id email patient'),
                              ('timestamp', 'time timestamp date start'),
                              ('heart_rates', 'heart rate value bpm'),
                              ('calories', 'calories value burn')),
scored AS (
  SELECT target, candidate,
         round(100.0 * (1 - levenshtein(candidate, hint)
               / CAST(greatest(length(candidate), length(hint)) AS DOUBLE)), 4) AS score
  FROM tgts CROSS JOIN cands),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY target ORDER BY score DESC, candidate) AS rk
  FROM scored)
SELECT target,
       CASE WHEN score >= 60.0 THEN candidate END AS best_candidate,
       score
FROM ranked WHERE rk = 1
"""


def q_value_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7: conditional bucketing (when/otherwise) + grouped counts."""
    ev = _t(spark, sf_dir, "events")
    tier = (
        F.when(F.col("value") < 50, "low")
        .when(F.col("value") < 150, "mid")
        .otherwise("high")
    )
    return ev.groupBy(tier.alias("tier")).agg(
        F.count(F.lit(1)).alias("n"), _savg("value", 6).alias("avg_value")
    )


_SQL_VALUE_TIERS = """
SELECT CASE WHEN value < 50 THEN 'low' WHEN value < 150 THEN 'mid'
            ELSE 'high' END AS tier,
       count(*) AS n,
       round(CAST(sum(CAST(round(value*1e6) AS BIGINT)) AS DOUBLE)/1e6 / count(value), 6) AS avg_value
FROM events GROUP BY 1
"""


def q_trailing_window_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 (viz.py:783-803): KPIs over the trailing 24 h ending at the max
    observed timestamp (batch analog of the real-time window)."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(F.max("ts").alias("max_ts"))
    recent = ev.join(F.broadcast(bounds)).filter(
        F.col("ts").cast("double") >= F.col("max_ts").cast("double") - 86400.0
    )
    return recent.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        _savg("value", 6).alias("avg_value"),
    )


_SQL_TRAILING_WINDOW = """
SELECT count(*) AS n, min(value) AS min_value, max(value) AS max_value,
       round(CAST(sum(CAST(round(value*1e6) AS BIGINT)) AS DOUBLE)/1e6 / count(value), 6) AS avg_value
FROM events
WHERE epoch(ts) >= (SELECT max(epoch(ts)) FROM events) - 86400.0
"""


def q_approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13: approximate aggregates (approx_count_distinct/percentile_approx,
    the built-in counterparts of the reference's fft_approximate extension).

    Driver-gatable shape: sketch ESTIMATES are engine-specific, so the row
    emits the exact twin values (hashable in any engine) plus 1/0
    within-bound flags computed Spark-side; the DuckDB oracle computes the
    same exact values and asserts every flag is 1. A broken sketch flips a
    flag to 0 and the driver hash goes red — the approximate path is now
    externally verified, not just run-checked. Bounds: HLL++ default
    rsd=0.05, flag at 3σ (15%); percentile_approx (accuracy 10⁴) must land
    between the exact 45th and 55th percentiles."""
    ev = _t(spark, sf_dir, "events")
    est = ev.agg(
        F.approx_count_distinct("user_id").alias("_au"),
        F.approx_count_distinct("event_id").alias("_ae"),
        F.percentile_approx("value", 0.5).alias("_am"),
        F.countDistinct("user_id").alias("exact_users"),
        F.countDistinct("event_id").alias("exact_events"),
        F.expr("percentile(value, 0.45)").alias("_lo"),
        F.expr("percentile(value, 0.55)").alias("_hi"),
    )
    def _within(e, x, tol):
        return (F.abs(e - x) <= F.lit(tol) * x).cast("long")
    return est.select(
        "exact_users",
        "exact_events",
        _within(F.col("_au"), F.col("exact_users"), 0.15).alias(
            "users_within_bound"
        ),
        _within(F.col("_ae"), F.col("exact_events"), 0.15).alias(
            "events_within_bound"
        ),
        F.col("_am")
        .between(F.col("_lo"), F.col("_hi"))
        .cast("long")
        .alias("median_within_bound"),
    )


_SQL_APPROX_AGGREGATES = """
SELECT (SELECT count(DISTINCT user_id) FROM events) AS exact_users,
       (SELECT count(DISTINCT event_id) FROM events) AS exact_events,
       CAST(1 AS BIGINT) AS users_within_bound,
       CAST(1 AS BIGINT) AS events_within_bound,
       CAST(1 AS BIGINT) AS median_within_bound
"""


# --------------------------------------------------------------------------
# 5. Non-SQL-expressible: streaming + LSH variants (rows-only checks)
# --------------------------------------------------------------------------


def q_stream_window_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5/T8 as an actual Structured Streaming job: file replay of the events
    table -> watermark -> 10-minute tumbling window KPIs -> memory sink.
    Oracle-checked: the streaming result must equal the batch tumbling-window
    aggregation (stream-batch unification is the correctness claim)."""
    from ..streaming.replay import run_windowed_kpis_batchmode

    prepare_session(spark)
    return run_windowed_kpis_batchmode(spark, f"{sf_dir}/events.parquet")


_SQL_STREAM_WINDOW = """
SELECT CAST(floor(epoch(ts)/600)*600 AS BIGINT) AS window_start_epoch,
       count(*) AS n,
       round(CAST(sum(CAST(round(value*1e6) AS BIGINT)) AS DOUBLE)/1e6 / count(value), 6) AS avg_value,
       min(value) AS min_value,
       max(value) AS max_value
FROM events GROUP BY 1
"""


def q_stream_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-users windows (the reference dashboard's "active
    subjects" panel) through the REAL streaming engine: watermarked HLL
    sketch aggregate per 1-hour window (exact countDistinct is illegal in
    streaming — per-window state must stay bounded).

    Driver-gatable via the within-bound pattern: the row carries the exact
    per-window countDistinct twin (computed batch-side over the same
    parquet) plus a 1/0 flag that the streaming sketch estimate lands
    within max(3, 5%) of it; the oracle computes the exact side and
    asserts flag=1."""
    from ..streaming.replay import (
        drain_memory_sink,
        file_stream,
        windowed_distinct_stream,
    )

    prepare_session(spark)
    ev = _t(spark, sf_dir, "events")
    stream, stage = file_stream(
        spark, f"{sf_dir}/events.parquet", prefix="w4h_distinct_stream_"
    )
    out = windowed_distinct_stream(
        stream, ts="ts", key="user_id", window="1 hour", watermark="2 hours"
    )
    # drain localizes the (bounded: one row per 1-hour window) sink and
    # cleans up the temp view + staging dir
    got = drain_memory_sink(
        out, "complete", name_prefix="w4h_distinct_stream_", stage_dir=stage
    ).select(
        F.col("w.start").cast("long").alias("window_start_epoch"),
        "n",
        "approx_distinct",
    )
    exact = ev.groupBy(
        F.window("ts", "1 hour")["start"].cast("long").alias("window_start_epoch")
    ).agg(F.countDistinct("user_id").alias("exact_users"))
    return (
        got.join(exact, "window_start_epoch")
        .select(
            "window_start_epoch",
            "n",
            "exact_users",
            (
                F.abs(F.col("approx_distinct") - F.col("exact_users"))
                <= F.greatest(F.lit(3.0), F.lit(0.05) * F.col("exact_users"))
            )
            .cast("long")
            .alias("within_bound"),
        )
        .orderBy("window_start_epoch")
    )


_SQL_STREAM_DISTINCT_USERS = """
SELECT CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS window_start_epoch,
       count(*) AS n,
       count(DISTINCT user_id) AS exact_users,
       CAST(1 AS BIGINT) AS within_bound
FROM events GROUP BY 1 ORDER BY 1
"""


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs verified by exact Jaccard (threshold 0.5).
    Oracle replicates the full pipeline — portable hash family, banding,
    candidate join, exact-Jaccard verification — in DuckDB SQL."""
    return D.minhash_lsh_pairs(
        _tw(spark, sf_dir, "documents"), n=3, num_perm=8, bands=4, threshold=0.5
    ).select("id_a", "id_b", _r(F.col("jaccard"), 6).alias("jaccard"))


def _lsh_bucket_ctes(num_perm: int, bands: int) -> str:
    """The shingle-hash chain, then sig (the MinHash signature) and
    buckets (one (doc_id, band, key) row per band): the candidate side
    of the LSH oracles."""
    rpb = num_perm // bands
    band_selects = "\n  UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {key} AS key FROM sig".format(
            b=b,
            key=" || '_' || ".join(
                f"CAST(mh_{b * rpb + r} AS VARCHAR)" for r in range(rpb)
            ),
        )
        for b in range(bands)
    )
    return f"""{_shingle_hash_ctes()},
sig AS (SELECT doc_id, {_minhash_cols(num_perm)} FROM h),
buckets AS (
  {band_selects})"""


def _shingle_set_ctes() -> str:
    """shx (each doc's distinct shingles) and sizes (their count): the
    exact-Jaccard side of the LSH oracles."""
    return """shx AS (SELECT doc_id, unnest(list_distinct(shingles)) AS shingle FROM sh),
sizes AS (SELECT doc_id, count(*) AS set_size FROM shx GROUP BY doc_id)"""


def _minhash_lsh_sql(num_perm: int = 8, bands: int = 4, threshold: float = 0.5) -> str:
    return f"""
WITH {_lsh_bucket_ctes(num_perm, bands)},
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM buckets a JOIN buckets b USING (band, key) WHERE a.doc_id < b.doc_id),
{_shingle_set_ctes()},
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM shx a JOIN shx b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT c.id_a, c.id_b,
       round(n_common / CAST(sa.set_size + sb.set_size - n_common AS DOUBLE), 6) AS jaccard
FROM cand c
JOIN common USING (id_a, id_b)
JOIN sizes sa ON sa.doc_id = c.id_a
JOIN sizes sb ON sb.doc_id = c.id_b
WHERE n_common / CAST(sa.set_size + sb.set_size - n_common AS DOUBLE) >= {threshold}
"""


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion dedup: the documents table split deterministically
    into an existing corpus (doc_id % 5 != 0) and a new ingest batch
    (doc_id % 5 == 0); output = batch docs near-dup (exact Jaccard >= 0.5,
    MinHash-LSH candidates) to something already in the corpus. The corpus
    never self-joins; the batch's band index broadcasts
    (operators.dedup.incremental_neardup_pairs)."""
    docs = _tw(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    increment = docs.filter(F.col("doc_id") % 5 == 0)
    return D.incremental_neardup_pairs(
        corpus, increment, n=3, num_perm=8, bands=4, threshold=0.5
    ).select("new_id", "corpus_id", _r(F.col("jaccard"), 6).alias("jaccard"))


def q_streaming_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming ingest dedup gate through the REAL streaming engine
    (file source -> row-local MinHash -> stream-static join against the
    corpus index -> memory sink, availableNow). Same corpus/increment
    split and threshold as `incremental_dedup`, and the SAME DuckDB oracle
    — so the driver externally verifies stream == batch-incremental,
    value-for-value (previously only a local equivalence test)."""
    from ..streaming.dedup_stream import run_streaming_neardup_batchmode

    prepare_session(spark)
    out = run_streaming_neardup_batchmode(
        spark,
        f"{sf_dir}/documents.parquet",
        split_mod=5,
        n=3,
        num_perm=8,
        bands=4,
        threshold=0.5,
    )
    return out.select(
        "new_id", "corpus_id", _r(F.col("jaccard"), 6).alias("jaccard")
    )


def _incremental_dedup_sql(
    num_perm: int = 8, bands: int = 4, threshold: float = 0.5
) -> str:
    """Oracle: replay the LSH pipeline with the corpus/increment split; the
    candidate join crosses sides only (corpus band rows x increment band
    rows), verification is exact Jaccard over distinct shingles."""
    return f"""
WITH {_lsh_bucket_ctes(num_perm, bands)},
cand AS (
  SELECT DISTINCT i.doc_id AS new_id, c.doc_id AS corpus_id
  FROM buckets c JOIN buckets i USING (band, key)
  WHERE c.doc_id % 5 <> 0 AND i.doc_id % 5 = 0),
{_shingle_set_ctes()},
common AS (
  SELECT i.doc_id AS new_id, c.doc_id AS corpus_id, count(*) AS n_common
  FROM shx c JOIN shx i USING (shingle)
  WHERE c.doc_id % 5 <> 0 AND i.doc_id % 5 = 0 GROUP BY 1, 2)
SELECT cd.new_id, cd.corpus_id,
       round(n_common / CAST(si.set_size + sc.set_size - n_common AS DOUBLE), 6) AS jaccard
FROM cand cd
JOIN common USING (new_id, corpus_id)
JOIN sizes si ON si.doc_id = cd.new_id
JOIN sizes sc ON sc.doc_id = cd.corpus_id
WHERE n_common / CAST(si.set_size + sc.set_size - n_common AS DOUBLE) >= {threshold}
"""


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via sign-LSH blocking
    (seeded hyperplanes → sign buckets, exact cosine ≥ 0.35 verification —
    the synthetic corpus' top-similarity tail; real near-dup corpora use
    ≥0.9 with more planes). One bucket-key shuffle replaces the O(n²)
    cross join; the oracle replicates bucketing with the same inlined
    plane literals."""
    return SIM.neardup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.35, dim=64, n_planes=2,
        # the oracle models UNCAPPED bucketing; pin the guard off so
        # the parity law stays exact (r14 review #2 — at >4096-row
        # buckets the capped default would sub-split and drop pairs
        # the SQL keeps). Uncapped + n_planes=2 means one kernel group
        # holds ~n/4 vectors, so this GATE's domain is driver scale
        # factors (≤ sf0.1, 2k vectors) by construction — its oracle
        # replicates the same per-bucket quadratic in SQL and stops
        # being runnable at the same point. Production callers keep
        # the capped default and more planes.
        max_bucket=None,
    ).select("id_a", "id_b", _r(F.col("cos"), 5).alias("cos"))


def _embedding_neardup_sql(
    threshold: float = 0.35, dim: int = 64, n_planes: int = 2, seed: int = 42
) -> str:
    """Oracle for q_embedding_neardup: same hyperplane literals (repr
    round-trips doubles exactly in both engines), same bucket/verify plan."""
    planes = SIM.hyperplanes(dim, n_planes, seed)
    bit = (
        "(CASE WHEN list_dot_product(ev, [{p}]) >= 0 THEN '1' ELSE '0' END)"
    )
    bucket = " || ".join(
        bit.format(p=", ".join(repr(x) for x in plane)) for plane in planes
    )
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
b AS (SELECT vec_id, ev, {bucket} AS bucket FROM v),
p AS (SELECT a.vec_id AS id_a, c.vec_id AS id_b,
             list_dot_product(a.ev, c.ev) /
             (sqrt(list_dot_product(a.ev, a.ev)) * sqrt(list_dot_product(c.ev, c.ev))) AS cos
      FROM b a JOIN b c USING (bucket) WHERE a.vec_id < c.vec_id)
SELECT id_a, id_b, round(cos, 5) AS cos FROM p WHERE cos >= {threshold}
"""


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload metadata projection: documents carried as opaque
    binary + typed meta struct; length/digest/frame-count stay JVM-side
    (the blob never crosses into Python). Docs are ASCII so the oracle's
    char offsets equal byte offsets."""
    payloads = MM.attach_payload(_t(spark, sf_dir, "documents"))
    return MM.payload_meta(payloads)


_SQL_MULTIMODAL_META = """
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_bytes,
       md5(text) AS payload_md5,
       CAST(ceil(length(text) / 64.0) AS BIGINT) AS n_frames
FROM documents
"""


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every-4th 64-byte frame per payload with digest: sequence + explode
    + binary substring, map-side only (frame sampling without Python or
    shuffle)."""
    payloads = MM.attach_payload(_t(spark, sf_dir, "documents"))
    return MM.frame_sample(payloads, every=4)


_SQL_FRAME_SAMPLE = """
SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
       md5(substr(text, CAST(i * 64 + 1 AS INT), 64)) AS frame_md5
FROM documents,
     unnest(range(0, CAST(ceil(length(text) / 64.0) AS BIGINT), 4)) AS t(i)
"""


def q_byte_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads (mapInPandas +
    NumPy bincount): long-form byte-bucket histogram, exact counts."""
    payloads = MM.attach_payload(_t(spark, sf_dir, "documents"))
    return MM.byte_histogram_features(payloads, n_buckets=16)


_SQL_BYTE_HISTOGRAM = """
SELECT doc_id, CAST(ord(substr(text, CAST(i AS INT), 1)) // 16 AS INT) AS bucket,
       count(*) AS n_bytes
FROM documents, unnest(range(1, length(text) + 1)) AS t(i)
GROUP BY 1, 2
"""


def q_stream_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T9 alert thresholding (ALERT_TIMEOUT semantics, viz.py:38): 10-minute
    event-time windows where >50% of readings breach the mean±2σ safe band.
    Broadcast scalar band + one hash aggregate; the same operator runs on a
    watermarked stream (safeband.alerts).

    The band edges are computed bit-identically by construction
    (safeband.fixed_point_band): exact integer sum + sum-of-squares, then one
    fixed sequence of correctly-rounded double ops. Plain float avg/stddev
    are summation-order-dependent, and post-hoc rounding cannot fix a value
    that straddles the rounding boundary itself (round-1/2 hash mismatch)."""
    ev = _t(spark, sf_dir, "events")
    band = sb_fixed_point_band(ev, value="value", k=2.0)
    out = sb_alerts(ev, ts="ts", window_seconds=600, ratio_threshold=0.5, band=band)
    return out.select(
        "window_start_epoch",
        "n_total",
        "n_unsafe",
        _r(F.col("unsafe_ratio"), 6).alias("unsafe_ratio"),
    )


_SQL_STREAM_ALERTS = """
WITH s AS (
  SELECT count(value) AS n,
         sum(CAST(round(value*1e6) AS HUGEINT)) AS s1,
         sum(CAST(round(value*1e6) AS HUGEINT) * CAST(round(value*1e6) AS HUGEINT)) AS s2
  FROM events),
band AS (
  SELECT CAST(s1 AS DOUBLE)/CAST(n AS DOUBLE)/1e6
           - 2*sqrt(CAST(n*s2 - s1*s1 AS DOUBLE)/(CAST(n AS DOUBLE)*(CAST(n AS DOUBLE)-1.0))/1e12) AS lo,
         CAST(s1 AS DOUBLE)/CAST(n AS DOUBLE)/1e6
           + 2*sqrt(CAST(n*s2 - s1*s1 AS DOUBLE)/(CAST(n AS DOUBLE)*(CAST(n AS DOUBLE)-1.0))/1e12) AS hi
  FROM s),
w AS (SELECT CAST(floor(epoch(ts)/600)*600 AS BIGINT) AS window_start_epoch,
             count(*) AS n_total,
             CAST(sum(CASE WHEN value < lo OR value > hi THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_unsafe
      FROM events, band GROUP BY 1)
SELECT window_start_epoch, n_total, n_unsafe,
       round(CAST(n_unsafe AS DOUBLE)/n_total, 6) AS unsafe_ratio
FROM w WHERE CAST(n_unsafe AS DOUBLE)/n_total > 0.5
"""


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: customer⋈orders⋈lineitem with selective filters on
    both sides of the big join. Date predicates push into both parquet
    scans; the customer side (post-filter) broadcasts; revenue is a single
    hash aggregate and top-10 is a TakeOrderedAndProject (no global sort)."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15")
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1995-03-15"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            _fsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    )


_SQL_SHIPPING_PRIORITY = """
SELECT l_orderkey, round(CAST(sum(CAST(round((l_extendedprice*(1-l_discount))*1e6) AS BIGINT)) AS DOUBLE)/1e6, 2) AS revenue, o_orderdate
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey LIMIT 10
"""


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: six-way join (fact + 5 dims) with a region filter.
    All dimension sides broadcast (nation/region tiny, supplier/customer
    small at any SF relative to lineitem) so the only shuffle is the final
    per-nation aggregate — the join tree is one map-side pipeline over
    lineitem."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            _fsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )


_SQL_LOCAL_SUPPLIER_VOLUME = """
SELECT n_name, round(CAST(sum(CAST(round((l_extendedprice*(1-l_discount))*1e6) AS BIGINT)) AS DOUBLE)/1e6, 2) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
              JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


def q_trajectories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C12/T7 trajectory assembly (viz.py:814-821): per-user time-ordered
    path as a WKT LINESTRING. Points are a deterministic integer grid
    derived from the event value (the events table has no geo columns);
    first 20 points per user via row_number. One shuffle (user window);
    the path string is exact-comparable across engines."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql import Window

    lon = F.pmod(F.floor(F.col("value") * 100), F.lit(360)).cast("long")
    lat = F.pmod(F.floor(F.col("value") * 100), F.lit(180)).cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pts = (
        ev.select(
            "user_id",
            F.concat_ws(" ", lon, lat).alias("pt"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 20)
    )
    ordered = F.transform(
        F.sort_array(F.collect_list(F.struct("rn", "pt"))), lambda s: s["pt"]
    )
    return pts.groupBy("user_id").agg(
        F.concat(
            F.lit("LINESTRING ("), F.array_join(ordered, ", "), F.lit(")")
        ).alias("traj"),
        F.count(F.lit(1)).alias("n_points"),
    )


_SQL_TRAJECTORIES = """
WITH p AS (
  SELECT user_id,
         -- ((x % m) + m) % m matches Spark's pmod (non-negative result) even
         -- for negative values; DuckDB's plain % keeps the dividend's sign
         (((CAST(floor(value*100) AS BIGINT) % 360) + 360) % 360) || ' ' ||
         (((CAST(floor(value*100) AS BIGINT) % 180) + 180) % 180) AS pt,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events)
SELECT user_id,
       'LINESTRING (' || string_agg(pt, ', ' ORDER BY rn) || ')' AS traj,
       count(*) AS n_points
FROM p WHERE rn <= 20 GROUP BY user_id
"""


def q_stable_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split by portable content hash (the
    stable-split idiom of training-data pipelines: membership depends only
    on doc_id, never on partitioning, sampling order, or engine). 80/10/10
    by hash bucket; per-split counts + token totals in one pass."""
    from ..functions import portable_hash32

    docs = _t(spark, sf_dir, "documents")
    bucket = portable_hash32(F.col("doc_id").cast("string")) % 10
    split = (
        F.when(bucket < 8, "train").when(bucket < 9, "val").otherwise("test")
    )
    return (
        docs.withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(TX.token_count(F.col("text")).cast("long")).alias("total_tokens"),
        )
    )


_SQL_STABLE_SPLIT = r"""
WITH b AS (
  SELECT doc_id, text,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10 AS bucket
  FROM documents)
SELECT CASE WHEN bucket < 8 THEN 'train' WHEN bucket < 9 THEN 'val' ELSE 'test' END AS split,
       count(*) AS n_docs,
       CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS total_tokens
FROM b GROUP BY 1
"""


def q_asof_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (kdb+ aj / DuckDB ASOF): each click event paired with the
    user's most recent purchase at or before it. One (user, ts) shuffle via
    the union trick (operators.interval.asof_join) — no range probe, no
    join explosion."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    j = asof_join(clicks, purchases, on="user_id", ts="ts", right_cols=["value"])
    return j.select(
        "event_id",
        "user_id",
        _r(F.col("value"), 5).alias("click_value"),
        _r(F.col("asof_value"), 5).alias("purchase_value"),
        F.floor(F.col("ts").cast("double") - F.col("asof_ts").cast("double"))
        .cast("long")
        .alias("secs_since_purchase"),
    )


_SQL_ASOF_PURCHASE = """
WITH c AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'),
p AS (
  SELECT user_id, ts, max(value) AS pvalue
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
SELECT c.event_id, c.user_id,
       round(c.value, 5) AS click_value,
       round(p.pvalue, 5) AS purchase_value,
       CAST(floor(epoch(c.ts) - epoch(p.ts)) AS BIGINT) AS secs_since_purchase
FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
"""


def q_incident_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi interval join: every error event opens a 10-minute incident
    window; count and average the non-error events falling inside each —
    with NO equi key, via bucket binning (operators.interval.interval_join)
    instead of the O(points x intervals) cartesian a naive BETWEEN join
    plans."""
    ev = _t(spark, sf_dir, "events")
    incidents = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"),
        F.col("ts").alias("start"),
        F.expr("ts + INTERVAL 600 SECONDS").alias("end"),
    )
    points = ev.filter(F.col("event_type") != "error").select("ts", "value")
    j = interval_join(points, incidents, bucket_seconds=600)
    return j.groupBy("incident_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        _savg(F.col("value"), 5).alias("avg_value"),
    )


_SQL_INCIDENT_INTERVAL = f"""
WITH i AS (
  SELECT event_id AS incident_id, ts AS s, ts + INTERVAL 600 SECOND AS e
  FROM events WHERE event_type = 'error'),
p AS (SELECT ts, value FROM events WHERE event_type <> 'error')
SELECT incident_id, count(*) AS n_events,
       {_savg_sql('p.value', 5)} AS avg_value
FROM p JOIN i ON p.ts >= i.s AND p.ts < i.e
GROUP BY incident_id
"""


def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbors: deterministic coarse centroids
    (vec_id % 50 = 0), map-side cell assignment, nprobe=3 probing — the
    corpus never shuffles (similarity.ivf_topk)."""
    emb = _t(spark, sf_dir, "embeddings")
    out = SIM.ivf_topk(
        emb, emb.filter(F.col("vec_id") < 8), k=5, centroid_stride=50, nprobe=3
    )
    return out.select(
        "query_id", "neighbor_id", "rank", _r(F.col("cos"), 5).alias("cos")
    )


_COS_SQL = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)

_SQL_KNN_IVF = f"""
WITH cent AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id % 50 = 0),
corp AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ac AS (
  SELECT nid, v, cid, {_COS_SQL.format(a='v', b='cv')} AS cs
  FROM corp CROSS JOIN cent),
assigned AS (
  SELECT nid, v, cid AS cell FROM (
    SELECT nid, v, cid,
           row_number() OVER (PARTITION BY nid ORDER BY cs DESC, cid) AS rn
    FROM ac) WHERE rn = 1),
q AS (
  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 8),
qc AS (
  SELECT qid, qv, cid, {_COS_SQL.format(a='qv', b='cv')} AS cs
  FROM q CROSS JOIN cent),
probes AS (
  SELECT qid, qv, cid AS cell FROM (
    SELECT qid, qv, cid,
           row_number() OVER (PARTITION BY qid ORDER BY cs DESC, cid) AS rn
    FROM qc) WHERE rn <= 3),
s AS (
  SELECT qid, nid, {_COS_SQL.format(a='qv', b='v')} AS cos
  FROM probes JOIN assigned USING (cell)
  WHERE qid <> nid),
r AS (
  SELECT qid AS query_id, nid AS neighbor_id, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
  FROM s)
SELECT query_id, neighbor_id, rank, round(cos, 5) AS cos FROM r WHERE rank <= 5
"""


def q_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume orders): aggregate lineitem once,
    HAVING-filter to big orders, then join orders + customer. The lineitem
    aggregate runs BEFORE any join (partial-agg reduces the fact table to
    one row per order), and the filtered big-order set joins broadcast-side
    into orders — never a fact-to-fact shuffle join. Top-20 by totalprice
    with deterministic orderkey tiebreak."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 200)
    )
    j = (
        orders.join(
            F.broadcast(big), orders["o_orderkey"] == big["l_orderkey"]
        )
        .join(F.broadcast(customer), orders["o_custkey"] == customer["c_custkey"])
    )
    return (
        j.select(
            "c_name",
            "o_orderkey",
            F.unix_timestamp(F.col("o_orderdate")).alias("orderdate_epoch"),
            _r(F.col("o_totalprice"), 2).alias("total_price"),
            _r(F.col("total_qty"), 2).alias("total_qty"),
        )
        .orderBy(F.col("total_price").desc(), F.col("o_orderkey").asc())
        .limit(20)
    )


_SQL_BIG_ORDERS = """
WITH big AS (
  SELECT l_orderkey, sum(l_quantity) AS total_qty
  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 200)
SELECT c.c_name, o.o_orderkey,
       CAST(floor(epoch(o.o_orderdate)) AS BIGINT) AS orderdate_epoch,
       round(o.o_totalprice, 2) AS total_price,
       round(big.total_qty, 2) AS total_qty
FROM orders o
JOIN big ON o.o_orderkey = big.l_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
ORDER BY total_price DESC, o.o_orderkey ASC
LIMIT 20
"""


def q_retention_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by first-activity week, then
    distinct active users per (cohort week, week offset) — the
    cohort-vs-control generalization (SURVEY §2.3 J6) every analytics stack
    needs. Plan: per-user min (one user shuffle) broadcast back, distinct +
    count in one cascade."""
    ev = _t(spark, sf_dir, "events")
    wk = lambda c: F.floor(c.cast("double") / 604800).cast("long")  # noqa: E731
    first = ev.groupBy("user_id").agg(wk(F.min("ts")).alias("cohort_week"))
    return (
        ev.join(F.broadcast(first), "user_id")
        .select(
            "user_id",
            "cohort_week",
            (wk(F.col("ts")) - F.col("cohort_week")).alias("week_offset"),
        )
        .distinct()
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active_users"))
    )


_SQL_RETENTION = """
WITH f AS (
  SELECT user_id, CAST(floor(epoch(min(ts)) / 604800) AS BIGINT) AS cohort_week
  FROM events GROUP BY 1),
a AS (
  SELECT DISTINCT e.user_id, f.cohort_week,
         CAST(floor(epoch(e.ts) / 604800) AS BIGINT) - f.cohort_week AS week_offset
  FROM events e JOIN f USING (user_id))
SELECT cohort_week, week_offset, count(*) AS n_active_users
FROM a GROUP BY 1, 2
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering: MinHash-LSH near-dup pairs -> connected components
    (iterative min-label propagation, operators.dedup.connected_components)
    -> one row per cluster with its canonical keeper (min doc id) and size.
    The oracle replays the LSH pipeline in SQL and closes the pair graph
    with a recursive CTE."""
    docs = _tw(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, n=3, num_perm=8, bands=4, threshold=0.5)
    comp = D.connected_components(pairs)
    return comp.groupBy(F.col("component").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )


def _dedup_clusters_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS (
  SELECT id_a, id_b FROM ({_minhash_lsh_sql()})),
e AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b, id_a FROM pairs),
reach(u, v) AS (
  SELECT u, v FROM e
  UNION
  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
comp AS (
  SELECT u AS node, least(u, min(v)) AS component FROM reach GROUP BY u)
SELECT component AS cluster_id, count(*) AS n_docs FROM comp GROUP BY 1
"""


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection: the step after dedup clustering in a
    training-data pipeline — per near-dup cluster, KEEP the
    highest-quality member (not the min-id one): LSH pairs -> connected
    components -> join quality_score -> per-cluster argmax by
    (quality, id). Ties and float stability: ranking runs on the
    1e-6-scaled integer quality (the same resolution the quality_score
    entry is gated at), tie-broken by doc id. The reference's pipeline
    has no analogue; this is the `dedup_clusters` -> curation handoff."""
    from pyspark.sql import Window

    docs = _tw(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, n=3, num_perm=8, bands=4, threshold=0.5)
    comp = D.connected_components(pairs)
    # r16 (guide §2-3): join-then-score. comp is O(near-dup nodes) — a
    # vanishing corpus fraction at scale by LSH's design — and quality
    # depends only on the row's text, so scoring AFTER the broadcast
    # inner join is output-identical while the regex/length quality
    # arithmetic runs only on cluster members instead of the whole
    # corpus. Same join count as scoring first (the r15 plan
    # SortMergeJoined the corpus-sized scored side; broadcasting comp
    # fixed that earlier this round). The join side reads the NARROW
    # table (_t, not _tw): the widened scan is for the shingle pass, and
    # keeping it here round-robin-shuffled every document body below the
    # join — the narrow read drops that corpus-wide exchange (per-row
    # work post-join is |cluster members|, which needs no fan-out).
    # connected_components hints its driver-path result for broadcast
    # (provably <= driver_threshold rows); a distributed component
    # relation stays unhinted and the planner/AQE picks the strategy
    docs_narrow = _t(spark, sf_dir, "documents")
    j = TX.quality_score(
        docs_narrow.join(comp, docs_narrow["doc_id"] == comp["node"]).select(
            "doc_id", "text", "component"
        ),
        keep=("component",),
    ).select(
        "component",
        F.col("doc_id").alias("node"),
        F.round(F.col("quality") * F.lit(1e6)).cast("long").alias("qs"),
    )
    w = Window.partitionBy("component").orderBy(F.col("qs").desc(), F.col("node"))
    ranked = j.select(
        "component",
        "node",
        "qs",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("component")).alias("n_docs"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        F.col("component").alias("cluster_id"),
        F.col("node").alias("keep_doc_id"),
        "n_docs",
        (F.col("qs") / F.lit(1e6)).alias("keep_quality"),
    )


def _dedup_keep_best_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS (
  SELECT id_a, id_b FROM ({_minhash_lsh_sql()})),
e AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b, id_a FROM pairs),
reach(u, v) AS (
  SELECT u, v FROM e
  UNION
  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
comp AS (
  SELECT u AS node, least(u, min(v)) AS component FROM reach GROUP BY u),
qual AS (
  SELECT doc_id AS node, CAST(round(quality * 1e6) AS BIGINT) AS qs
  FROM ({_quality_sql()})),
ranked AS (
  SELECT c.component, c.node, q.qs,
         row_number() OVER (PARTITION BY c.component
                            ORDER BY q.qs DESC, c.node) AS rn,
         count(*) OVER (PARTITION BY c.component) AS n_docs
  FROM comp c JOIN qual q USING (node))
SELECT component AS cluster_id, node AS keep_doc_id, n_docs,
       qs / 1e6 AS keep_quality
FROM ranked WHERE rn = 1
"""


# query terms drawn from the synthetic documents' vocabulary so every sf
# has matches; disjunctive query, k=10
_BM25_TERMS = ("spark", "data", "window")


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 for a 3-term disjunctive query (ranked retrieval
    for corpus curation). Plan: map-side term filter before the only
    (doc, term) shuffle; df/N/avgdl broadcast. Scores are summed in
    integer space (1e-9) so the result is partitioning-independent; the
    oracle replicates the identical IEEE arithmetic."""
    out = RK.bm25_topk(_tw(spark, sf_dir, "documents"), _BM25_TERMS, k=10)
    return out.select(
        "doc_id", _r(F.col("score_scaled") / F.lit(1e9), 6).alias("bm25")
    )


def _bm25_sql(terms: tuple[str, ...] = _BM25_TERMS, k: int = 10) -> str:
    in_list = ", ".join(f"'{t}'" for t in terms)
    return rf"""
WITH base AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
  FROM documents),
dl AS (SELECT doc_id, len(toks) AS dl FROM base),
stats AS (
  SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_len FROM dl),
hits AS (
  SELECT doc_id, unnest(toks) AS term FROM base),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM hits
  WHERE term IN ({in_list}) GROUP BY doc_id, term),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         CAST(round(
           ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0)
           * (tf.tf * 2.2)
           / (tf.tf + 1.2 * (0.25 + 0.75 * d.dl
                             / (CAST(s.total_len AS DOUBLE) / s.n_docs)))
           * 1e9) AS BIGINT) AS score_scaled
  FROM tf
  JOIN dfreq f USING (term)
  JOIN dl d USING (doc_id)
  CROSS JOIN stats s),
agg AS (
  SELECT doc_id, CAST(sum(score_scaled) AS BIGINT) AS score_scaled
  FROM scored GROUP BY doc_id)
SELECT doc_id, round(score_scaled / 1e9, 6) AS bm25
FROM agg ORDER BY score_scaled DESC, doc_id LIMIT {k}
"""


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms (document fingerprinting / topic
    tagging). The per-doc window is PARTITIONED (never global); scores
    rank on the 1e-9-scaled integer."""
    out = RK.tfidf_top_terms(_tw(spark, sf_dir, "documents"), top_n=3)
    return out.select(
        "doc_id",
        "term",
        F.col("rank").cast("long").alias("rank"),
        _r(F.col("tfidf_scaled") / F.lit(1e9), 6).alias("tfidf"),
    )


_SQL_TFIDF_TOP_TERMS = r"""
WITH base AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
  FROM documents),
terms AS (SELECT doc_id, unnest(toks) AS term FROM base),
tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
stats AS (SELECT count(*) AS n_docs FROM base),
scored AS (
  SELECT tf.doc_id, tf.term,
         CAST(round(tf.tf * ln(CAST(s.n_docs AS DOUBLE) / f.df) * 1e9)
              AS BIGINT) AS tfidf_scaled
  FROM tf JOIN dfreq f USING (term) CROSS JOIN stats s),
ranked AS (
  SELECT doc_id, term, tfidf_scaled,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf_scaled DESC, term) AS rank
  FROM scored)
SELECT doc_id, term, CAST(rank AS BIGINT) AS rank,
       round(tfidf_scaled / 1e9, 6) AS tfidf
FROM ranked WHERE rank <= 3
"""


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids in long format (label, dim, n,
    centroid) — the corpus-statistics primitive behind cluster quality
    checks, IVF coarse-quantizer seeding, and per-source drift
    monitoring. Plan: posexplode to (label, dim, val) then ONE hash
    aggregate; partial map-side combine collapses the x64 explode
    blow-up to labels x dims rows per partition before the exchange, so
    the shuffle is tiny at any corpus size. Means use the scaled-integer
    stable pattern (order-independent, engine-exact)."""
    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select("label", F.posexplode("embedding").alias("dim", "val"))
    return e.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n"),
        _savg(F.col("val").cast("double"), 6).alias("centroid"),
    )


_SQL_EMBEDDING_CENTROIDS = f"""
WITH e AS (
  SELECT label, unnest(embedding) AS val,
         generate_subscripts(embedding, 1) - 1 AS dim
  FROM embeddings)
SELECT label, dim, count(*) AS n, {_savg_sql("val", 6)} AS centroid
FROM e GROUP BY label, dim
"""


def q_quality_filter_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based quality curation: KEEP the top half of documents per
    language by quality score (rn <= ceil(n/2) — rank math on the
    1e-6-scaled integer quality, so the kept set is deterministic and
    engine-exact; quantile thresholds via percentile_approx would be
    neither). The per-language window is partitioned — never global."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    # r16: quality_score is a pure projection now — carrying `lang`
    # through it replaces the docs ⋈ qual self-join (two corpus scans
    # and a join for columns that live on the same row).
    j = TX.quality_score(docs, keep=("lang",)).select(
        "doc_id",
        "lang",
        F.round(F.col("quality") * F.lit(1e6)).cast("long").alias("qs"),
    )
    w = Window.partitionBy("lang").orderBy(F.col("qs").desc(), F.col("doc_id"))
    ranked = j.select(
        "doc_id",
        "lang",
        "qs",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("cnt"),
    )
    return ranked.filter(F.col("rn") * 2 <= F.col("cnt") + 1).select(
        "doc_id", "lang", (F.col("qs") / F.lit(1e6)).alias("quality")
    )


def _quality_filter_sql() -> str:
    return f"""
WITH qual AS (
  SELECT doc_id, CAST(round(quality * 1e6) AS BIGINT) AS qs
  FROM ({_quality_sql()})),
j AS (
  SELECT d.doc_id, d.lang, q.qs
  FROM documents d JOIN qual q USING (doc_id)),
ranked AS (
  SELECT doc_id, lang, qs,
         row_number() OVER (PARTITION BY lang ORDER BY qs DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY lang) AS cnt
  FROM j)
SELECT doc_id, lang, qs / 1e6 AS quality
FROM ranked WHERE 2 * rn <= cnt + 1
"""


def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense per-user minute grid with LOCF forward fill over one day of
    events for a 1-in-10 user sample (the slice bounds the grid: gridding
    unbounded history is the anti-pattern the operator docstring warns
    about — the day predicate pushes into the scan). Missing minutes
    carry the last observed stable minute-mean; is_observed separates
    real readings from fill."""
    ev = _t(spark, sf_dir, "events").filter(
        (F.col("ts") >= F.lit("2024-01-05 00:00:00").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-06 00:00:00").cast("timestamp"))
        & (F.col("user_id") % 10 == 0)
    )
    return TS.gap_fill_minutes(ev, ts="ts", value="value", key="user_id")


_SQL_GAP_FILL = """
WITH ev AS (
  SELECT user_id, ts, value FROM events
  WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
    AND ts <  TIMESTAMP '2024-01-06 00:00:00'
    AND user_id % 10 = 0),
mm AS (
  SELECT user_id, CAST(floor(epoch(ts)/60.0) AS BIGINT) AS m,
         round(CAST(sum(CAST(round(value*1e6) AS BIGINT)) AS DOUBLE)/1e6 / count(value), 6) AS v
  FROM ev GROUP BY 1, 2),
bounds AS (SELECT user_id, min(m) AS lo, max(m) AS hi FROM mm GROUP BY 1),
grid AS (SELECT user_id, unnest(range(lo, hi + 1)) AS m FROM bounds),
j AS (
  SELECT g.user_id, g.m, mm.v
  FROM grid g LEFT JOIN mm ON mm.user_id = g.user_id AND mm.m = g.m)
SELECT user_id, m * 60 AS minute_epoch,
       last_value(v IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY m
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
       CAST(v IS NOT NULL AS BIGINT) AS is_observed
FROM j
"""


def q_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shift report: top-10 terms by |KL(A ‖ B) contribution|
    between the English slice and the rest of the corpus (add-one
    smoothing; one conditional aggregate — both sides counted in a single
    corpus pass). The curation drift monitor between corpus snapshots."""
    out = RK.term_drift(
        _tw(spark, sf_dir, "documents"), F.col("lang") == "en", top_n=10
    )
    return out.select(
        "term", "ca", "cb", _r(F.col("drift_scaled") / F.lit(1e12), 9).alias("kl_term")
    )


_SQL_CORPUS_DRIFT = r"""
WITH toks AS (
  SELECT (lang = 'en') AS in_a,
         unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
  FROM documents),
counts AS (
  SELECT term,
         CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM toks GROUP BY term),
stats AS (
  SELECT CAST(sum(ca) AS BIGINT) AS ta, CAST(sum(cb) AS BIGINT) AS tb,
         count(*) AS v
  FROM counts),
scored AS (
  SELECT term, ca, cb,
         CAST(round(((ca + 1) / (s.ta + s.v))
                    * ln(((ca + 1) / (s.ta + s.v)) / ((cb + 1) / (s.tb + s.v)))
                    * 1e12) AS BIGINT) AS drift_scaled
  FROM counts CROSS JOIN stats s)
SELECT term, ca, cb, round(drift_scaled / 1e12, 9) AS kl_term
FROM scored ORDER BY abs(drift_scaled) DESC, term LIMIT 10
"""


def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (F.session_window, 1-hour gap): one row per
    user session with start epoch, event count, and duration. This is the
    engine primitive streaming sessionization runs on (state-store merged
    windows); the batch oracle is the lag + cumulative-sum formulation.
    Boundary semantics: a gap of EXACTLY the threshold starts a new session
    (session_window merges only while next < prev + gap), hence >= in the
    oracle — unlike `sessionize`, which uses strict >."""
    ev = _t(spark, sf_dir, "events")
    sw = ev.groupBy("user_id", F.session_window("ts", "1 hour")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("_first"),
        F.max("ts").alias("_last"),
    )
    return sw.select(
        "user_id",
        F.floor(F.col("_first").cast("double")).cast("long").alias("session_start_epoch"),
        "n_events",
        F.floor(F.col("_last").cast("double") - F.col("_first").cast("double"))
        .cast("long")
        .alias("duration_secs"),
    )


_SQL_SESSION_WINDOWS = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(epoch(ts)) OVER w IS NULL
                   OR epoch(ts) - lag(epoch(ts)) OVER w >= 3600.0
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
sess AS (
  SELECT user_id, ts,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged)
SELECT user_id,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start_epoch,
       count(*) AS n_events,
       CAST(floor(epoch(max(ts)) - epoch(min(ts))) AS BIGINT) AS duration_secs
FROM sess GROUP BY user_id, sid
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: 10 docs per (lang, source) stratum
    by portable hash priority — identical membership on every run, engine,
    and partitioning (operators.etl.stratified_sample)."""
    from ..operators.etl import stratified_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return stratified_sample(docs, ["lang", "source"], k=10)


_SQL_STRATIFIED_SAMPLE = """
WITH p AS (
  SELECT doc_id, lang, source,
         CAST('0x' || substr(md5('w4h' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
           AS pri
  FROM documents),
r AS (
  SELECT doc_id, lang, source,
         row_number() OVER (PARTITION BY lang, source ORDER BY pri, doc_id) AS rn
  FROM p)
SELECT doc_id, lang, source FROM r WHERE rn <= 10
"""


def q_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate cascade: minute/hour/day
    rollups per event type, each coarser level folded from the finer one's
    partials (sum-of-sums / min-of-mins), so raw rows are scanned and
    shuffled exactly once (operators.timeseries.rollup_cascade)."""
    ev = _t(spark, sf_dir, "events")
    out = TS.rollup_cascade(
        ev, [60, 3600, 86400], keys=["event_type"], ts="ts", value="value"
    )
    return out.select(
        "resolution_seconds",
        "event_type",
        "bucket_start_epoch",
        "n",
        _r(F.col("vsum"), 5).alias("vsum"),
        _r(F.col("vmin"), 5).alias("vmin"),
        _r(F.col("vmax"), 5).alias("vmax"),
        _r(F.col("vavg"), 5).alias("vavg"),
    )


_SQL_ROLLUP_CASCADE = """
WITH l0 AS (
  SELECT event_type, CAST(floor(epoch(ts) / 60) * 60 AS BIGINT) AS b,
         count(*) AS n, sum(CAST(round(value * 1e6) AS BIGINT)) AS ssum,
         min(value) AS vmin, max(value) AS vmax
  FROM events GROUP BY 1, 2),
l1 AS (
  SELECT event_type, CAST(floor(b / 3600.0) * 3600 AS BIGINT) AS b,
         sum(n) AS n, sum(ssum) AS ssum, min(vmin) AS vmin, max(vmax) AS vmax
  FROM l0 GROUP BY 1, 2),
l2 AS (
  SELECT event_type, CAST(floor(b / 86400.0) * 86400 AS BIGINT) AS b,
         sum(n) AS n, sum(ssum) AS ssum, min(vmin) AS vmin, max(vmax) AS vmax
  FROM l1 GROUP BY 1, 2),
u AS (
  SELECT CAST(60 AS BIGINT) AS resolution_seconds, * FROM l0
  UNION ALL SELECT CAST(3600 AS BIGINT), * FROM l1
  UNION ALL SELECT CAST(86400 AS BIGINT), * FROM l2)
SELECT resolution_seconds, event_type, b AS bucket_start_epoch,
       CAST(n AS BIGINT) AS n,
       round(CAST(ssum AS DOUBLE) / 1e6, 5) AS vsum,
       round(vmin, 5) AS vmin, round(vmax, 5) AS vmax,
       round(CAST(ssum AS DOUBLE) / 1e6 / n, 5) AS vavg
FROM u
"""


def q_user_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-normalized time-series similarity top-3 per user (Pearson r over a
    shared 6-hour resample grid; r = cosine of the z-normalized series).
    Resample bounds pair cost; the self-join is grid-cell-local."""
    from ..operators.tsim import user_similarity_topk

    # n_chunks=None → shape-adaptive chunk count (r16 verdict order #7):
    # the chunk choice only partitions work — rounded outputs are
    # chunk-invariant (law-tested), so the oracle hash is unaffected
    out = user_similarity_topk(
        _t(spark, sf_dir, "events"), k=3, bucket_seconds=21600, min_common=8,
        n_chunks=None,
    )
    return out.select(
        "user_a", "user_b", "rank", _r(F.col("r"), 5).alias("r"), "n_common"
    )


_SQL_USER_SIMILARITY = """
WITH g AS (
  SELECT user_id AS k, CAST(floor(epoch(ts)/21600) AS BIGINT) AS bucket,
         CAST(sum(CAST(round(value*1e6) AS BIGINT)) AS DOUBLE)/1e6/count(value) AS v
  FROM events GROUP BY 1, 2),
pairs AS (
  SELECT a.k AS user_a, b.k AS user_b, corr(a.v, b.v) AS r, count(*) AS n_common
  FROM g a JOIN g b USING (bucket)
  WHERE a.k <> b.k
  GROUP BY 1, 2),
ranked AS (
  SELECT user_a, user_b, r, n_common,
         row_number() OVER (PARTITION BY user_a ORDER BY r DESC, user_b) AS rank
  FROM pairs WHERE n_common >= 8 AND r IS NOT NULL)
SELECT user_a, user_b, rank, round(r, 5) AS r, n_common
FROM ranked WHERE rank <= 3
"""


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting both ways (whitespace + BPE-ish pre-tokenizer regex):
    the LLM-budget estimate, one regexp_count pass per document."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.token_count(F.col("text")).alias("ws_tokens"),
        TX.subword_count(F.col("text")).alias("bpe_tokens"),
    )


_SQL_TOKEN_COUNTS = r"""
SELECT doc_id,
       len(regexp_split_to_array(trim(text), '\s+')) AS ws_tokens,
       len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+')) AS bpe_tokens
FROM documents
"""


def q_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate list: word bigrams in >5% of documents
    (dedup.boilerplate_ngrams). One gram-df aggregate; corpus size
    broadcast."""
    docs = _t(spark, sf_dir, "documents")
    return D.boilerplate_ngrams(docs, n=2, min_doc_frac=0.05)


_SQL_BOILERPLATE = r"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
g AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(w, CAST(i AS INT), CAST(i AS INT) + 1), ' ') AS gram
  FROM w, unnest(range(1, len(w))) AS t(i) WHERE len(w) >= 2),
tot AS (SELECT count(*) AS n FROM documents),
dfq AS (SELECT gram, CAST(count(*) AS BIGINT) AS df FROM g GROUP BY 1)
SELECT gram AS shingle, df FROM dfq WHERE df > 0.05 * (SELECT n FROM tot)
"""


def q_corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-card composition report over the documents table's lang/source
    dimensions: doc and token counts per cell plus corpus-wide token share
    (global total as a broadcast scalar — no single-partition window)."""
    docs = _t(spark, sf_dir, "documents")
    by = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(TX.token_count(F.col("text")).cast("long")).alias("n_tokens"),
    )
    total = by.agg(F.sum("n_tokens").alias("_tot"))
    return by.join(F.broadcast(total)).select(
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        _r(F.col("n_tokens") / F.col("_tot"), 6).alias("token_share"),
    )


_SQL_CORPUS_MIXTURE = r"""
WITH by_cell AS (
  SELECT lang, source, count(*) AS n_docs,
         CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1, 2),
tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS t FROM by_cell)
SELECT lang, source, n_docs, n_tokens,
       round(n_tokens / (SELECT t FROM tot), 6) AS token_share
FROM by_cell
"""


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture rebalancing: deterministic per-group rate sampling
    (keep 100% urgent / 50% high / 25% medium / 10% rest) by portable hash
    — map-side filter, membership engine- and partitioning-independent;
    the only exchange is the result count aggregate."""
    from ..operators.etl import mixture_sample

    orders = _t(spark, sf_dir, "orders")
    samp = mixture_sample(
        orders,
        "o_orderpriority",
        {"1-URGENT": 1.0, "2-HIGH": 0.5, "3-MEDIUM": 0.25},
        default_rate=0.1,
        id_col="o_orderkey",
        salt="mix",
    )
    return samp.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_kept"))


_SQL_MIXTURE_SAMPLE = """
WITH h AS (
  SELECT o_orderpriority,
         CAST('0x' || substr(md5('mix' || CAST(o_orderkey AS VARCHAR)), 1, 8) AS BIGINT)
           % 1000000 AS pri,
         CASE o_orderpriority WHEN '1-URGENT' THEN 1.0 WHEN '2-HIGH' THEN 0.5
              WHEN '3-MEDIUM' THEN 0.25 ELSE 0.1 END AS rate
  FROM orders)
SELECT o_orderpriority, count(*) AS n_kept
FROM h WHERE pri < rate * 1000000.0 GROUP BY 1
"""


def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition (duplicate word-bigram fraction, the
    Gopher-style boilerplate/spam signal). Map-side only: gram array +
    array_distinct per row — zero shuffles at any scale."""
    docs = _t(spark, sf_dir, "documents")
    out = TX.repetition_ratio(docs, n=2)
    return out.select(
        "doc_id", "n_grams", "n_distinct", _r(F.col("dup_ratio"), 6).alias("dup_ratio")
    )


_SQL_REPETITION = r"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
g AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 2 THEN list_transform(range(1, len(w)),
              i -> array_to_string(list_slice(w, CAST(i AS INT), CAST(i AS INT) + 1), ' '))
              ELSE [] END AS grams
  FROM w)
SELECT doc_id,
       CAST(len(grams) AS BIGINT) AS n_grams,
       CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
       round(CASE WHEN len(grams) > 0
                  THEN 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)
                  ELSE 0.0 END, 6) AS dup_ratio
FROM g
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing any word 3-gram with
    the held-out slice (doc_id % 100 == 0 stands in for an eval set).
    Benchmark gram set broadcasts; corpus-side per-doc distinct grams are
    map-side array_distinct (one row per doc — no shuffle to dedup); the
    only exchange is the per-doc hit-count aggregate."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 100 == 0)
    corpus = docs.filter(F.col("doc_id") % 100 != 0)
    return D.contamination(corpus, bench, n=3)


_SQL_DECONTAMINATE = r"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
g AS (
  SELECT doc_id,
         array_to_string(list_slice(w, CAST(i AS INT), CAST(i AS INT) + 2), ' ') AS gram
  FROM w, unnest(range(1, len(w) - 1)) AS t(i) WHERE len(w) >= 3),
bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 100 = 0),
corpus AS (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id % 100 <> 0)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
FROM corpus JOIN bench USING (gram) GROUP BY doc_id
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy contiguous sequence packing (pre-training batch assembly):
    each doc lands in the 512-token bin its first token falls in, packed
    per shard (doc_id % 8) so the running sum is a per-shard window, not a
    global ordered cumsum."""
    docs = _t(spark, sf_dir, "documents")
    return TX.pack_sequences(docs, budget=512, n_shards=8)


_SQL_PACK_SEQUENCES = r"""
WITH t AS (
  SELECT doc_id, doc_id % 8 AS shard,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
  FROM documents)
SELECT doc_id, shard, n_tokens,
       CAST(floor((sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) / 512.0)
            AS BIGINT) AS bin
FROM t
"""


def q_fft_range_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 custom path: per-user FFT sketch (256 buckets -> 32 coefficients,
    ~8x compression) answering an approximate mid-January range sum without
    rescanning the series.

    Driver-gatable shape: every sketch answer carries its DETERMINISTIC
    Cauchy–Schwarz error bound (``err_bound = sqrt(|W|)·resid_l2``, from
    the Parseval norm of the dropped spectrum — see operators/approx.py),
    valid for the bucket-aligned range the sketch actually answers. The
    query recomputes the exact bucket-aligned per-user sum with the SAME
    IEEE grid math (t0/w from min/max epoch, floor-bucketing with the
    255-clamp), emits it fixed-point (hashable) plus a 1/0 flag asserting
    |approx − exact| ≤ err_bound (+0.05 fixed-point slack); the DuckDB
    oracle reproduces the identical grid arithmetic — both engines floor
    the same doubles — and asserts flag=1. The mathematical guarantee of
    the sketch, not a hand-tuned tolerance, is what the driver verifies."""
    from ..operators.approx import approx_range_sum, build_fft_sketch

    ev = _t(spark, sf_dir, "events")
    nb = 256
    sketch = build_fft_sketch(ev, ts="ts", key="user_id", n_buckets=nb, n_coeffs=32)
    # events span 2024-01-01..01-30 (TESTDATA, seed=42); query the middle third
    start = 1704067200.0 + 10 * 86400  # 2024-01-11
    end = 1704067200.0 + 20 * 86400  # 2024-01-21
    approx = approx_range_sum(sketch, start, end).select(
        F.col("key").alias("user_id"), "approx_sum", "err_bound"
    )
    e = F.col("ts").cast("double")
    span = ev.agg(F.min(e).alias("t0"), F.max(e).alias("t1")).withColumn(
        "w", (F.col("t1") - F.col("t0")) / nb + F.lit(1e-9)
    )
    b = F.least(F.floor((e - F.col("t0")) / F.col("w")).cast("int"), F.lit(nb - 1))
    lo = F.greatest(
        F.floor((F.lit(start) - F.col("t0")) / F.col("w")).cast("int"), F.lit(0)
    )
    hi = F.least(
        F.ceil((F.lit(end) - F.col("t0")) / F.col("w")).cast("int"), F.lit(nb)
    )
    exact = (
        ev.join(F.broadcast(span))
        .filter((b >= lo) & (b < hi))
        .groupBy("user_id")
        .agg(_fsum(F.col("value"), 2).alias("exact_sum"))
    )
    return approx.join(exact, "user_id").select(
        "user_id",
        "exact_sum",
        (
            F.abs(F.col("approx_sum") - F.col("exact_sum"))
            <= F.col("err_bound") + F.lit(0.05)
        )
        .cast("long")
        .alias("within_bound"),
    )


_SQL_FFT_RANGE_SUM = f"""
WITH g AS (SELECT min(epoch(ts)) AS t0, max(epoch(ts)) AS t1 FROM events),
r AS (SELECT t0, w,
             greatest(CAST(floor(({1704067200.0 + 10 * 86400!r} - t0)/w) AS INTEGER), 0) AS lo,
             least(CAST(ceil(({1704067200.0 + 20 * 86400!r} - t0)/w) AS INTEGER), 256) AS hi
      FROM (SELECT t0, (t1 - t0)/256 + 1e-9 AS w FROM g))
SELECT user_id,
       {_fsum_sql("value", 2)} AS exact_sum,
       CAST(1 AS BIGINT) AS within_bound
FROM events, r
WHERE least(CAST(floor((epoch(ts) - r.t0)/r.w) AS INTEGER), 255) >= r.lo
  AND least(CAST(floor((epoch(ts) - r.t0)/r.w) AS INTEGER), 255) < r.hi
GROUP BY user_id
"""


def q_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking): orders with at least one
    lineitem shipped after the order date, counted per priority. The
    EXISTS becomes a LEFT SEMI join on the order key with the non-equi
    ship-after-order residual evaluated inside the join — the probe side
    (lineitem) is never aggregated or deduplicated first, and each order
    row emits at most once regardless of how many lineitems match. The
    date filter on orders prunes the build side before the shuffle."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (orders["o_orderkey"] == li["l_orderkey"])
            & (li["l_shipdate"] > orders["o_orderdate"]),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


_SQL_LATE_SHIPMENT = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
GROUP BY 1 ORDER BY 1
"""


def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): how many
    customers placed exactly N orders, including N=0. Aggregate orders to
    one row per customer FIRST (the fact table collapses to O(customers)
    before any join), then a LEFT join from customer fills in the
    zero-order customers via coalesce — the raw orders table never crosses
    the join. Both relations are keyed by custkey, so at scale this is one
    fact aggregate + one co-partitioned join + one tiny histogram
    aggregate."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    per_cust = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("_n"))
    return (
        cust.join(per_cust, cust["c_custkey"] == per_cust["o_custkey"], "left")
        .select(F.coalesce(F.col("_n"), F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("n_custs"))
        .orderBy(F.col("n_custs").desc(), F.col("c_count").desc())
    )


_SQL_CUSTOMER_ORDER_DIST = """
WITH pc AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON o_custkey = c_custkey
  GROUP BY 1)
SELECT c_count, count(*) AS n_custs FROM pc
GROUP BY 1 ORDER BY n_custs DESC, c_count DESC
"""


def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): promo revenue as a percentage of
    all revenue for one ship-month. part broadcasts into the date-pruned
    lineitem scan; the month predicate pushes to parquet. Both sums use the
    exact scaled-integer pattern (round(rev*1e6) summed as BIGINT): per-row
    doubles are IEEE-identical across engines and integer sums are
    order-independent, so the ratio is bit-identical no matter the
    partitioning — float sum() here would be summation-order-dependent and
    can flip the last rounded digit between engines (the round-1
    stream_alerts lesson)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-04-01"))
        & (F.col("l_shipdate") < F.lit("1996-05-01"))
    )
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    as_fixed = lambda c: F.round(c * 1e6, 0).cast("long")  # noqa: E731
    j = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    return j.agg(
        _r(
            F.lit(100.0)
            * F.sum(
                as_fixed(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)))
            ).cast("double")
            / F.sum(as_fixed(rev)).cast("double"),
            6,
        ).alias("promo_share_pct")
    )


_SQL_PROMO_SHARE = """
SELECT round(
  100.0 * CAST(sum(CAST(round(CASE WHEN p_type = 'PROMO'
                   THEN l_extendedprice*(1-l_discount) ELSE 0.0 END * 1e6) AS BIGINT)) AS DOUBLE)
        / CAST(sum(CAST(round(l_extendedprice*(1-l_discount) * 1e6) AS BIGINT)) AS DOUBLE),
  6) AS promo_share_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-04-01' AND l_shipdate < TIMESTAMP '1996-05-01'
"""


def q_brand_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): distinct suppliers
    able to ship each (brand, type, size) combination, excluding one brand
    and one type family. The part filter evaluates BEFORE the broadcast
    (only surviving parts ship to executors); count(DISTINCT) runs as
    Spark's two-phase distinct aggregate — partial dedup of (group, supp)
    map-side, so the exchange carries distinct pairs, not raw lineitem.
    Top-20 with a total-order tiebreak."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & (~F.col("p_type").startswith("MEDIUM"))
        & (F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49))
    )
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(),
            F.col("p_brand"),
            F.col("p_type"),
            F.col("p_size"),
        )
        .limit(20)
    )


_SQL_BRAND_SUPPLIER = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#45' AND p_type NOT LIKE 'MEDIUM%'
  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
LIMIT 20
"""


def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue, OR-of-ANDs): revenue from three
    disjoint (brand, quantity-range) clauses. The disjunction can't push
    into the parquet scan whole, but its quantity envelope (1 <= qty <= 30)
    is clause-independent and DOES push down, pruning the fact scan before
    the broadcast-join against part; the full disjunction evaluates
    post-join. Exact scaled-integer revenue sum (see
    q_promo_revenue_share)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity").between(1, 30))
    part = _t(spark, sf_dir, "part")
    clause = (
        ((F.col("p_brand") == "Brand#12") & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("l_quantity").between(20, 30))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .filter(clause)
        .agg(
            _r(
                F.sum(F.round(rev * 1e6, 0).cast("long")).cast("double") / F.lit(1e6),
                2,
            ).alias("revenue")
        )
    )


_SQL_DISJUNCTIVE_REVENUE = """
SELECT round(CAST(sum(CAST(round(l_extendedprice*(1-l_discount) * 1e6) AS BIGINT)) AS DOUBLE) / 1e6,
             2) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND l_quantity BETWEEN 20 AND 30)
"""


def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global-customer-sales): customers with
    above-average balance and no orders since 2000, per nation. The global
    average-balance threshold is ONE row — computed with the exact
    scaled-integer mean (order-independent, reproducible cross-engine at
    the > comparison; a float avg() can straddle the threshold for a
    balance within an ulp of it) and broadcast via crossJoin; the
    no-recent-order predicate is a LEFT ANTI join on custkey against the
    date-pruned orders scan. Per-nation balance sums use the same
    fixed-point pattern."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01")
    )
    fixed = lambda c: F.round(c * 100, 0).cast("long")  # noqa: E731
    thr = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(
            (
                F.sum(fixed(F.col("c_acctbal"))).cast("double")
                / F.lit(100.0)
                / F.count(F.lit(1))
            ).alias("_thr")
        )
    )
    return (
        cust.crossJoin(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("_thr"))
        .join(orders, cust["c_custkey"] == orders["o_custkey"], "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            (
                F.sum(fixed(F.col("c_acctbal"))).cast("double") / F.lit(100.0)
            ).alias("total_bal"),
        )
        .orderBy("c_nationkey")
    )


_SQL_IDLE_RICH = """
WITH thr AS (
  SELECT CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0
         / count(*) AS t
  FROM customer WHERE c_acctbal > 0)
SELECT c_nationkey, count(*) AS n_custs,
       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_bal
FROM customer, thr
WHERE c_acctbal > thr.t
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c_custkey
                  AND o.o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY 1 ORDER BY 1
"""


def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): bilateral trade revenue between two
    nations by ship year. The nation dimension filters to the TWO nations of
    interest BEFORE broadcasting, so the supplier and customer broadcasts
    carry only rows from those nations and prune lineitem/orders map-side;
    the cross-pair residual ((A,B) or (B,A)) evaluates post-join. The only
    shuffle is lineitem ⋈ orders on orderkey plus the final tiny aggregate.
    Fixed-point revenue sums (order-independent, cross-engine exact)."""
    n_pair = ("NATION_12", "NATION_11")
    nation = _t(spark, sf_dir, "nation").filter(F.col("n_name").isin(*n_pair))
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nation.select(F.col("n_nationkey").alias("_sn"),
                                  F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("_sn"),
    )
    cust = _t(spark, sf_dir, "customer").join(
        F.broadcast(nation.select(F.col("n_nationkey").alias("_cn"),
                                  F.col("n_name").alias("cust_nation"))),
        F.col("c_nationkey") == F.col("_cn"),
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    orders = _t(spark, sf_dir, "orders")
    a, b = n_pair
    fixed = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1e6, 0
    ).cast("long")
    return (
        li.join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .filter(
            ((F.col("supp_nation") == a) & (F.col("cust_nation") == b))
            | ((F.col("supp_nation") == b) & (F.col("cust_nation") == a))
        )
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            (_r(F.sum(fixed).cast("double") / F.lit(1e6), 2)).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


_SQL_VOLUME_SHIPPING = """
WITH j AS (
 SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        CAST(year(l_shipdate) AS BIGINT) AS l_year,
        CAST(round(l_extendedprice*(1-l_discount)*1e6) AS BIGINT) AS f
 FROM lineitem JOIN orders ON o_orderkey = l_orderkey
   JOIN supplier ON s_suppkey = l_suppkey
   JOIN customer ON c_custkey = o_custkey
   JOIN nation n1 ON s_nationkey = n1.n_nationkey
   JOIN nation n2 ON c_nationkey = n2.n_nationkey
 WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
   AND ((n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_11')
     OR (n1.n_name = 'NATION_11' AND n2.n_name = 'NATION_12')))
SELECT supp_nation, cust_nation, l_year,
       round(CAST(sum(f) AS DOUBLE)/1e6, 2) AS revenue
FROM j GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): one supplier nation's share
    of PROMO-part revenue sold into one region, by order year. Eight-way
    join where every dimension side broadcasts (region filters nation,
    nation prunes customer — only in-region customers ship to executors);
    numerator and denominator ride ONE aggregate over the joined fact as a
    conditional fixed-point sum, so the share needs no second pass or
    self-join."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cust_nation = (
        nation.join(F.broadcast(region),
                    nation["n_regionkey"] == region["r_regionkey"])
        .select(F.col("n_nationkey").alias("_cn"))
    )
    supp_nation = nation.select(
        F.col("n_nationkey").alias("_sn"), F.col("n_name").alias("supp_nation")
    )
    fixed = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1e6, 0
    ).cast("long")
    j = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("_sn"))
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(
            F.broadcast(
                _t(spark, sf_dir, "customer").join(
                    F.broadcast(cust_nation), F.col("c_nationkey") == F.col("_cn")
                )
            ),
            orders["o_custkey"] == F.col("c_custkey"),
        )
    )
    return (
        j.groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            _r(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", fixed).otherwise(
                        F.lit(0).cast("long")
                    )
                ).cast("double")
                / F.sum(fixed).cast("double"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


_SQL_MARKET_SHARE = """
WITH j AS (
 SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        n1.n_name AS supp_nation,
        CAST(round(l_extendedprice*(1-l_discount)*1e6) AS BIGINT) AS f
 FROM lineitem JOIN orders ON o_orderkey = l_orderkey
   JOIN part ON p_partkey = l_partkey
   JOIN supplier ON s_suppkey = l_suppkey
   JOIN customer ON c_custkey = o_custkey
   JOIN nation n1 ON s_nationkey = n1.n_nationkey
   JOIN nation n2 ON c_nationkey = n2.n_nationkey
   JOIN region ON n2.n_regionkey = r_regionkey
 WHERE r_name = 'ASIA' AND p_type = 'PROMO')
SELECT o_year,
       round(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN f ELSE 0 END) AS DOUBLE)
             / CAST(sum(f) AS DOUBLE), 6) AS mkt_share
FROM j GROUP BY 1 ORDER BY 1
"""


def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): profit by supplier nation and
    order year for one part family, with cost proxied by retail price (the
    test schema has no partsupp/supplycost). The part name LIKE filter
    evaluates before the broadcast; per-row profit is computed in ONE
    arithmetic expression with a fixed left-to-right operation order so
    both engines produce bit-identical doubles before the fixed-point
    rounding."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("widget"))
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("n_name", F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            _r(
                F.sum(F.round(profit * 100, 0).cast("long")).cast("double")
                / F.lit(100.0),
                2,
            ).alias("profit")
        )
        .orderBy(F.col("n_name"), F.col("o_year").desc())
    )


_SQL_PRODUCT_PROFIT = """
SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       round(CAST(sum(CAST(round((l_extendedprice*(1-l_discount)
                     - 0.6*p_retailprice*l_quantity)*100) AS BIGINT)) AS DOUBLE)
             / 100.0, 2) AS profit
FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  JOIN part ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2 ORDER BY 1, 2 DESC
"""


def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): top-20 customers by lost
    revenue from returned lineitems in one quarter. The order-date filter
    prunes the orders side before its shuffle join with lineitem; the
    returnflag filter prunes lineitem at the scan (both push to parquet).
    customer/nation broadcast. Revenue is a fixed-point sum, so the DESC
    sort key is exact and the top-20 cut is deterministic cross-engine
    (custkey tiebreak)."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01"))
        & (F.col("o_orderdate") < F.lit("1996-10-01"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    fixed = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1e6, 0
    ).cast("long")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy(
            "c_custkey", "c_name",
            _r(F.col("c_acctbal"), 2).alias("acctbal"), "n_name",
        )
        .agg(
            _r(F.sum(fixed).cast("double") / F.lit(1e6), 2).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


_SQL_RETURNED_ITEMS = """
SELECT c_custkey, c_name,
       round(CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*1e6) AS BIGINT)) AS DOUBLE)/1e6,
             2) AS revenue,
       round(c_acctbal, 2) AS acctbal, n_name
FROM customer JOIN orders ON o_custkey = c_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1996-10-01'
  AND l_returnflag = 'R'
GROUP BY 1, 2, 4, 5 ORDER BY revenue DESC, c_custkey LIMIT 20
"""


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): supplier(s) achieving the maximum
    quarterly revenue, ties included. Revenue per supplier is ONE fact
    aggregate; the global max is a 1-row broadcast crossJoin; the equality
    compare happens on the exact scaled-long revenue, never the rounded
    double (a float == at the max is the classic cross-engine tie bug).
    supplier joins AFTER the aggregate, so it sees O(suppliers) rows, not
    lineitem."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    supp = _t(spark, sf_dir, "supplier")
    fixed = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1e6, 0
    ).cast("long")
    rev = li.groupBy("l_suppkey").agg(F.sum(fixed).alias("_f"))
    mx = rev.agg(F.max("_f").alias("_mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("_f") == F.col("_mx"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp["s_suppkey"])
        .select(
            "s_suppkey", "s_name",
            _r(F.col("_f").cast("double") / F.lit(1e6), 2).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


_SQL_TOP_SUPPLIER = """
WITH r AS (
  SELECT l_suppkey, sum(CAST(round(l_extendedprice*(1-l_discount)*1e6) AS BIGINT)) AS f
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY 1)
SELECT s_suppkey, s_name, round(CAST(f AS DOUBLE)/1e6, 2) AS total_revenue
FROM r JOIN supplier ON s_suppkey = l_suppkey
WHERE f = (SELECT max(f) FROM r) ORDER BY s_suppkey
"""


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): yearly-averaged
    revenue from lineitems whose quantity is below 20% of their part's mean
    quantity, for one brand. The correlated subquery becomes a broadcast
    join against the per-part aggregate (O(parts-of-one-brand) rows). The
    threshold compare is EXACT integer arithmetic — qty < 0.2·avg(qty)
    rewritten as 5·qi·cnt < Σqi on centi-scaled longs — so no division and
    no float threshold to straddle cross-engine."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    li = _t(spark, sf_dir, "lineitem")
    f = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .select(
            "l_partkey",
            F.round(F.col("l_quantity") * 100, 0).cast("long").alias("_qi"),
            "l_extendedprice",
        )
    )
    t = f.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.sum("_qi").alias("_s"), F.count(F.lit(1)).alias("_cnt")
    )
    return (
        f.join(F.broadcast(t), f["l_partkey"] == t["_pk"])
        .filter(F.col("_qi") * 5 * F.col("_cnt") < F.col("_s"))
        .agg(
            _r(
                F.sum(F.round(F.col("l_extendedprice") * 1e6, 0).cast("long"))
                .cast("double") / F.lit(1e6) / F.lit(7.0),
                2,
            ).alias("avg_yearly")
        )
    )


_SQL_SMALL_QTY = """
WITH f AS (
  SELECT l_partkey, CAST(round(l_quantity*100) AS BIGINT) AS qi, l_extendedprice
  FROM lineitem JOIN part ON p_partkey = l_partkey WHERE p_brand = 'Brand#3'),
t AS (SELECT l_partkey, sum(qi) AS s, count(*) AS cnt FROM f GROUP BY 1)
SELECT round(CAST(sum(CAST(round(l_extendedprice*1e6) AS BIGINT)) AS DOUBLE)/1e6/7.0,
             2) AS avg_yearly
FROM f JOIN t USING (l_partkey) WHERE qi*5*cnt < s
"""


def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting), adapted to the
    test schema (no commit/receipt dates): for finalized orders with
    multiple suppliers where EXACTLY ONE supplier shipped late (>60 days
    after the order date), count such orders per that sole late supplier.
    The textbook triple self-join (EXISTS + NOT EXISTS over lineitem)
    collapses into ONE per-order aggregate — distinct suppliers, distinct
    late suppliers, and the sole late supplier via max(when) — so lineitem
    is shuffled once on orderkey instead of three times."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    per_o = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy(li["l_orderkey"])
        .agg(
            F.countDistinct("l_suppkey").alias("_ns"),
            F.countDistinct(F.when(late, F.col("l_suppkey"))).alias("_nl"),
            F.max(F.when(late, F.col("l_suppkey"))).alias("_sole"),
        )
        .filter((F.col("_ns") > 1) & (F.col("_nl") == 1))
    )
    return (
        per_o.groupBy("_sole")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(supp), F.col("_sole") == supp["s_suppkey"])
        .select("s_name", "numwait")
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(20)
    )


_SQL_WAITING_SUPPLIERS = """
WITH j AS (
  SELECT l_orderkey, l_suppkey,
         (l_shipdate > o_orderdate + INTERVAL 60 DAY) AS late
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  WHERE o_orderstatus = 'F'),
per_o AS (
  SELECT l_orderkey, count(DISTINCT l_suppkey) AS ns,
         count(DISTINCT CASE WHEN late THEN l_suppkey END) AS nl,
         max(CASE WHEN late THEN l_suppkey END) AS sole
  FROM j GROUP BY 1)
SELECT s_name, count(*) AS numwait
FROM per_o JOIN supplier ON s_suppkey = sole
WHERE ns > 1 AND nl = 1
GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20
"""


def q_distinct_users_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9's scale path: distinct users per event type over the first two
    weeks, answered from a mergeable HLL sketch cube (one cell per
    event_type × day) — the time filter prunes CELLS and the rollup merges
    sketches; raw events are scanned once at cube-build, never at query
    time.

    Driver-gatable shape: the HLL estimate itself is engine-specific, so
    the row emits the exact countDistinct twin (hashable) plus a 1/0
    within-bound flag (lg_k=12 → ~1.6% σ; flag at 10%, ≥6σ) computed
    Spark-side; the oracle computes the exact side and asserts flag=1.
    n_rows is exact and rides the cube — it cross-checks that cell pruning
    by bucket_start selects exactly the rows `ts < 2024-01-15` does (day
    buckets align to UTC midnight; session tz pinned in prepare_session)."""
    ev = _t(spark, sf_dir, "events")
    cube = SK.hll_cube(ev, ["event_type"], "user_id", ts="ts", bucket="1 day")
    jan = cube.filter(F.col("bucket_start") < F.lit("2024-01-15"))
    roll = SK.hll_rollup(jan, ["event_type"])
    exact = (
        ev.filter(F.col("ts") < F.lit("2024-01-15"))
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    return (
        roll.join(F.broadcast(exact), "event_type")
        .select(
            "event_type",
            "n_rows",
            "exact_users",
            (
                F.abs(F.col("approx_distinct") - F.col("exact_users"))
                <= F.lit(0.10) * F.col("exact_users")
            )
            .cast("long")
            .alias("within_bound"),
        )
        .orderBy("event_type")
    )


_SQL_DISTINCT_USERS_SKETCH = """
SELECT event_type,
       count(*) AS n_rows,
       count(DISTINCT user_id) AS exact_users,
       CAST(1 AS BIGINT) AS within_bound
FROM events
WHERE ts < TIMESTAMP '2024-01-15'
GROUP BY event_type ORDER BY event_type
"""


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (north-star privacy pass): emails / IPv4 / phone-like
    runs → typed placeholders, one map-side regexp_replace chain (zero
    shuffles). The synthetic corpus has no PII, so the query PLANTS a
    deterministic email+IP+phone per document from its id and redacts the
    combined text — making the oracle a cross-engine regex-equivalence
    check (patterns live in the Java∩RE2 common subset)."""
    docs = _t(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@mail.example.com at 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".17 or +1 (555) 01"), (F.col("doc_id") % 90 + 10).cast("string"),
    )
    return docs.select(
        "doc_id", TX.redact_pii(planted).alias("clean_text")
    )


_SQL_PII = r"""
SELECT doc_id,
  regexp_replace(
    regexp_replace(
      regexp_replace(
        text || ' contact user' || CAST(doc_id AS VARCHAR)
             || '@mail.example.com at 10.0.' || CAST(doc_id % 256 AS VARCHAR)
             || '.17 or +1 (555) 01' || CAST(doc_id % 90 + 10 AS VARCHAR),
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g'),
    '\+?[0-9][0-9().\- ]{6,}[0-9]', '<PHONE>', 'g') AS clean_text
FROM documents
"""


# Geofence polygons for q_geofence_count (lon 0..359, lat 0..179 — the
# integer grid q_trajectories derives from event values). The oracle SQL
# unrolls the SAME vertices into the same even-odd crossing expression.
_GEO_BOX = [(50.0, 20.0), (150.0, 20.0), (150.0, 80.0), (50.0, 80.0)]
_GEO_PENT = [
    (200.0, 30.0),
    (260.0, 30.0),
    (280.0, 90.0),
    (230.0, 130.0),
    (180.0, 90.0),
]


def q_geofence_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial join (north-star; the reference only draws trajectories):
    points-in-geofence counts via `geo.geofence_join` — grid-cell broadcast
    index + JVM-side even-odd ring test (`F.aggregate` over the edge list,
    no UDF). The fact side never shuffles: cell assignment and the ring
    test are map-side against the broadcast cell index; the only exchange
    is the final per-polygon count."""
    from ..operators.geo import geofence_join

    ev = _t(spark, sf_dir, "events")
    m = F.floor(F.col("value") * 100).cast("long")
    pts = ev.select(
        F.pmod(m, F.lit(360)).cast("double").alias("lon"),
        F.pmod(m, F.lit(180)).cast("double").alias("lat"),
    )
    polys = spark.createDataFrame(
        [("box", _GEO_BOX), ("pent", _GEO_PENT)],
        "polygon_id string, ring array<struct<lon double, lat double>>",
    )
    return (
        geofence_join(pts, polys, cell_deg=20.0)
        .groupBy("polygon_id")
        .agg(F.count(F.lit(1)).alias("n_points"))
        .orderBy("polygon_id")
    )


def _pip_sql(verts: list[tuple[float, float]]) -> str:
    """Even-odd crossing test over fixed vertices, unrolled to SQL — the
    identical IEEE expression `geo.point_in_polygon` folds with
    F.aggregate, so the engines agree bit-for-bit."""
    n = len(verts)
    terms = []
    for i in range(n):
        ax, ay = verts[i]
        bx, by = verts[(i + 1) % n]
        terms.append(
            f"(CASE WHEN (({ay} > lat) <> ({by} > lat)) "
            f"AND lon < {ax} + ({bx} - {ax})*(lat - {ay})/({by} - {ay}) "
            "THEN 1 ELSE 0 END)"
        )
    return "((" + " + ".join(terms) + ") % 2) = 1"


_SQL_GEOFENCE = f"""
WITH pts AS (
  SELECT CAST(((CAST(floor(value*100) AS BIGINT) % 360) + 360) % 360 AS DOUBLE) AS lon,
         CAST(((CAST(floor(value*100) AS BIGINT) % 180) + 180) % 180 AS DOUBLE) AS lat
  FROM events)
SELECT 'box' AS polygon_id, count(*) AS n_points FROM pts WHERE {_pip_sql(_GEO_BOX)}
UNION ALL
SELECT 'pent' AS polygon_id, count(*) AS n_points FROM pts WHERE {_pip_sql(_GEO_PENT)}
ORDER BY polygon_id
"""


def q_value_quantiles_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 scale path for percentiles: per-event-type value quantiles
    answered from a mergeable KLL sketch cube (one cell per event_type ×
    day). Any (slice × time range) quantile question is a cell merge —
    exact `percentiles` needs a full value shuffle per query; the cube
    reads raw data once at build.

    Driver-gatable shape: a KLL estimate is a RANK guarantee, so the flag
    checks each sketch quantile q lands between the exact (q−0.05) and
    (q+0.05) quantiles (k=200 → rank ε≈1.2% at 1σ; 0.05 is ≥4σ). The row
    emits the exact interpolated median (the same portable-rounded form
    `percentiles` hashes green with) plus n_rows and the 1/0 flag; the
    oracle computes the exact side and asserts flag=1."""
    ev = _t(spark, sf_dir, "events")
    cube = SK.kll_cube(ev, ["event_type"], "value", ts="ts", bucket="1 day")
    roll = SK.kll_rollup(cube, ["event_type"])  # q_250 q_500 q_750 q_950 q_990
    eps = 0.05
    qs = (0.25, 0.5, 0.75, 0.95, 0.99)
    lo_hi = []
    for q in qs:
        name = f"q_{int(round(q * 1000)):03d}"
        lo_hi.append(
            F.expr(f"percentile(value, {max(q - eps, 0.0)})").alias(f"_lo_{name}")
        )
        lo_hi.append(
            F.expr(f"percentile(value, {min(q + eps, 1.0)})").alias(f"_hi_{name}")
        )
    exact = ev.groupBy("event_type").agg(
        _r(F.expr("percentile(value, 0.5)"), 4).alias("exact_p50"), *lo_hi
    )
    within = None
    for q in qs:
        name = f"q_{int(round(q * 1000)):03d}"
        c = F.col(name).between(F.col(f"_lo_{name}"), F.col(f"_hi_{name}"))
        within = c if within is None else (within & c)
    return (
        roll.join(F.broadcast(exact), "event_type")
        .select(
            "event_type",
            "n_rows",
            "exact_p50",
            within.cast("long").alias("within_bound"),
        )
        .orderBy("event_type")
    )


_SQL_VALUE_QUANTILES_SKETCH = """
SELECT event_type,
       count(*) AS n_rows,
       round(quantile_cont(value, 0.5), 4) AS exact_p50,
       CAST(1 AS BIGINT) AS within_bound
FROM events
GROUP BY event_type ORDER BY event_type
"""


def q_user_overlap_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set algebra: per event type, how many users were active
    in week 1, week 2, both (intersection), and only one of the two —
    answered entirely from per-day sketches. HLL can only union; Theta's
    intersection/difference make retention/overlap questions cube-answerable
    at 100 TB (the exact form joins two distinct key universes).

    Driver-gatable shape: the row emits the exact set-op twins (per-user
    week flags → integer sums, engine-independent) plus a single 1/0 flag
    asserting all six theta estimates (|A|, |B|, |A∪B|, |A∩B|, |A\\B|,
    |B\\A|) land within 10% of |A∪B| plus 0.5 absolute of their exact
    values (one shared bound because intersection/difference error is
    relative to the UNION size in theta sketches; the +0.5 absorbs
    integer-boundary rounding); the oracle computes the exact side and
    asserts flag=1."""
    ev = _t(spark, sf_dir, "events")
    cube = SK.theta_cube(ev, ["event_type"], "user_id", ts="ts", bucket="1 day")
    wk1 = SK.theta_rollup(
        cube.filter(F.col("bucket_start") < F.lit("2024-01-08")), ["event_type"]
    )
    wk2 = SK.theta_rollup(
        cube.filter(
            (F.col("bucket_start") >= F.lit("2024-01-08"))
            & (F.col("bucket_start") < F.lit("2024-01-15"))
        ),
        ["event_type"],
    )
    ov = SK.theta_overlap(wk1, wk2, ["event_type"])
    flags = (
        ev.filter(F.col("ts") < F.lit("2024-01-15"))
        .groupBy("event_type", "user_id")
        .agg(
            F.max((F.col("ts") < F.lit("2024-01-08")).cast("int")).alias("_w1"),
            F.max((F.col("ts") >= F.lit("2024-01-08")).cast("int")).alias("_w2"),
        )
    )
    exact = flags.groupBy("event_type").agg(
        F.sum("_w1").alias("exact_a"),
        F.sum("_w2").alias("exact_b"),
        F.count(F.lit(1)).alias("exact_union"),
        F.sum(F.col("_w1") * F.col("_w2")).alias("exact_both"),
        F.sum(F.col("_w1") * (1 - F.col("_w2"))).alias("exact_only_a"),
        F.sum(F.col("_w2") * (1 - F.col("_w1"))).alias("exact_only_b"),
    )
    j = ov.join(F.broadcast(exact), "event_type")
    tol = F.lit(0.10) * F.col("exact_union") + F.lit(0.5)

    def _ok(est, ex):
        return F.abs(F.col(est) - F.col(ex)) <= tol

    within = (
        _ok("n_a", "exact_a")
        & _ok("n_b", "exact_b")
        & _ok("n_union", "exact_union")
        & _ok("n_intersection", "exact_both")
        & _ok("n_only_a", "exact_only_a")
        & _ok("n_only_b", "exact_only_b")
    )
    return j.select(
        "event_type",
        "exact_a",
        "exact_b",
        "exact_union",
        "exact_both",
        "exact_only_a",
        "exact_only_b",
        within.cast("long").alias("within_bound"),
    ).orderBy("event_type")


_SQL_USER_OVERLAP_SKETCH = """
WITH f AS (
  SELECT event_type, user_id,
         max(CASE WHEN ts < TIMESTAMP '2024-01-08' THEN 1 ELSE 0 END) AS w1,
         max(CASE WHEN ts >= TIMESTAMP '2024-01-08' THEN 1 ELSE 0 END) AS w2
  FROM events
  WHERE ts < TIMESTAMP '2024-01-15'
  GROUP BY event_type, user_id)
SELECT event_type,
       CAST(sum(w1) AS BIGINT) AS exact_a,
       CAST(sum(w2) AS BIGINT) AS exact_b,
       count(*) AS exact_union,
       CAST(sum(w1 * w2) AS BIGINT) AS exact_both,
       CAST(sum(w1 * (1 - w2)) AS BIGINT) AS exact_only_a,
       CAST(sum(w2 * (1 - w1)) AS BIGINT) AS exact_only_b,
       CAST(1 AS BIGINT) AS within_bound
FROM f GROUP BY event_type ORDER BY event_type
"""


# --------------------------------------------------------------------------
# 4g. Round-6 wave 2: funnel / transitions / RFM / Q6 / semantic dedup
# --------------------------------------------------------------------------


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecast revenue change): ONE scan-aggregate, no
    join, no groupBy — all four predicates (shipdate year, discount band,
    quantity cap) push into the parquet scan and the per-row
    extendedprice*discount product folds map-side into a single
    fixed-point sum. The cheapest possible plan at any scale: the only
    exchange is the final 1-row partial-agg merge."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(_fsum(F.col("l_extendedprice") * F.col("l_discount"), 2).alias("revenue"))


_SQL_FORECAST_REVENUE = f"""
SELECT {_fsum_sql("l_extendedprice * l_discount", 2)} AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered event funnel (signup → click → purchase): per user, the
    first signup, the first click at-or-after it, and the first purchase
    at-or-after that; the summary row counts users surviving each step
    plus step-to-step conversion rates. The reference's cohort dashboards
    answer "how many subjects progressed" with pandas passes per stage
    (viz.py garmin funnels); here the three chained conditional mins are
    window aggregates over ONE hash partitioning on user_id — a single
    exchange however many steps the funnel has, then a 1-row global agg."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    e = (
        ev.withColumn(
            "t1",
            F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w),
        )
        .withColumn(
            "t2",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") >= F.col("t1")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t3",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") >= F.col("t2")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    n1 = F.countDistinct(F.when(F.col("t1").isNotNull(), F.col("user_id")))
    n2 = F.countDistinct(F.when(F.col("t2").isNotNull(), F.col("user_id")))
    n3 = F.countDistinct(F.when(F.col("t3").isNotNull(), F.col("user_id")))
    return e.agg(
        F.countDistinct("user_id").alias("n_users"),
        n1.alias("n_signup"),
        n2.alias("n_signup_click"),
        n3.alias("n_full_funnel"),
        F.when(n1 > 0, _r(n2.cast("double") / n1, 6)).alias("click_rate"),
        F.when(n2 > 0, _r(n3.cast("double") / n2, 6)).alias("purchase_rate"),
    )


_SQL_FUNNEL_CONVERSION = """
WITH w1 AS (
  SELECT user_id, ts, event_type,
         min(CASE WHEN event_type = 'signup' THEN ts END)
           OVER (PARTITION BY user_id) AS t1
  FROM events),
w2 AS (
  SELECT *, min(CASE WHEN event_type = 'click' AND ts >= t1 THEN ts END)
              OVER (PARTITION BY user_id) AS t2
  FROM w1),
w3 AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts >= t2 THEN ts END)
              OVER (PARTITION BY user_id) AS t3
  FROM w2),
agg AS (
  SELECT count(DISTINCT user_id) AS n_users,
         count(DISTINCT CASE WHEN t1 IS NOT NULL THEN user_id END) AS n_signup,
         count(DISTINCT CASE WHEN t2 IS NOT NULL THEN user_id END) AS n_signup_click,
         count(DISTINCT CASE WHEN t3 IS NOT NULL THEN user_id END) AS n_full_funnel
  FROM w3)
SELECT n_users, n_signup, n_signup_click, n_full_funnel,
       CASE WHEN n_signup > 0
            THEN round(CAST(n_signup_click AS DOUBLE) / n_signup, 6) END AS click_rate,
       CASE WHEN n_signup_click > 0
            THEN round(CAST(n_full_funnel AS DOUBLE) / n_signup_click, 6) END AS purchase_rate
FROM agg
"""


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition matrix (Markov bigrams): for each
    consecutive (prev → next) pair inside a user's timeline, the count and
    the per-source transition probability. Lag over (user, ts, event_id) —
    the event_id tiebreak makes simultaneous events deterministic — is ONE
    exchange on user_id; the bigram count and the per-source normalizing
    window both run on the tiny |types|² aggregate."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "user_id",
        F.col("event_type").alias("dst"),
        F.lag("event_type").over(w).alias("src"),
    ).filter(F.col("src").isNotNull())
    c = s.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    wsrc = Window.partitionBy("src")
    return c.withColumn(
        "p", _r(F.col("n").cast("double") / F.sum("n").over(wsrc), 6)
    )


_SQL_EVENT_TRANSITIONS = """
WITH s AS (
  SELECT user_id, event_type AS dst,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
  FROM events),
c AS (
  SELECT src, dst, count(*) AS n
  FROM s WHERE src IS NOT NULL GROUP BY src, dst)
SELECT src, dst, n,
       round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY src), 6) AS p
FROM c
"""


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per-customer recency (last order epoch) /
    frequency (order count) / monetary (fixed-point spend), each scored
    1-4 against its own quartile cut points, then segment-level counts and
    average spend. Scale shape: one groupBy(custkey) pass, one 1-row exact
    percentile aggregate (swap in approx_percentile at petabyte counts)
    broadcast back as literals, scoring map-side, final agg over ≤64
    segments. NO global-order window — quantile scoring via value cuts
    keeps every stage partition-parallel, where ntile() would funnel all
    customers through one partition. Cuts are µ-rounded so the engines'
    percentile interpolations agree bit-for-bit (recency/frequency cuts
    interpolate exact integers and are error-free; monetary at 1e-11)."""
    orders = _t(spark, sf_dir, "orders")
    per = orders.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("double")).alias("rec"),
        F.count(F.lit(1)).alias("freq"),
        _fsum(F.col("o_totalprice"), 2).alias("mon"),
    )
    cuts = per.agg(
        *[
            _r(F.expr(f"percentile({m}, {q})"), 6).alias(f"{m}_c{i}")
            for m in ("rec", "freq", "mon")
            for i, q in ((1, 0.25), (2, 0.5), (3, 0.75))
        ]
    )

    def score(m: str):
        s = F.lit(1)
        for i in (1, 2, 3):
            s = s + (F.col(m) > F.col(f"{m}_c{i}")).cast("int")
        return s.cast("long").alias(f"{m[0]}_score")

    scored = per.crossJoin(F.broadcast(cuts)).select(
        "o_custkey", "mon", score("rec"), score("freq"), score("mon")
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers"),
        _savg(F.col("mon"), 2).alias("avg_monetary"),
    )


_SQL_RFM_SEGMENTS = f"""
WITH per AS (
  SELECT o_custkey, epoch(max(o_orderdate)) AS rec,
         count(*) AS freq,
         {_fsum_sql("o_totalprice", 2)} AS mon
  FROM orders GROUP BY o_custkey),
cuts AS (
  SELECT round(quantile_cont(rec, 0.25), 6) AS rec_c1,
         round(quantile_cont(rec, 0.5), 6)  AS rec_c2,
         round(quantile_cont(rec, 0.75), 6) AS rec_c3,
         round(quantile_cont(freq, 0.25), 6) AS freq_c1,
         round(quantile_cont(freq, 0.5), 6)  AS freq_c2,
         round(quantile_cont(freq, 0.75), 6) AS freq_c3,
         round(quantile_cont(mon, 0.25), 6) AS mon_c1,
         round(quantile_cont(mon, 0.5), 6)  AS mon_c2,
         round(quantile_cont(mon, 0.75), 6) AS mon_c3
  FROM per),
scored AS (
  SELECT o_custkey, mon,
         CAST(1 + (rec > rec_c1)::INT + (rec > rec_c2)::INT
                + (rec > rec_c3)::INT AS BIGINT) AS r_score,
         CAST(1 + (freq > freq_c1)::INT + (freq > freq_c2)::INT
                + (freq > freq_c3)::INT AS BIGINT) AS f_score,
         CAST(1 + (mon > mon_c1)::INT + (mon > mon_c2)::INT
                + (mon > mon_c3)::INT AS BIGINT) AS m_score
  FROM per CROSS JOIN cuts)
SELECT r_score, f_score, m_score, count(*) AS n_customers,
       {_savg_sql("mon", 2)} AS avg_monetary
FROM scored GROUP BY r_score, f_score, m_score
"""


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embedding corpus: within each label cluster, every
    ≥0.30-cosine near-duplicate group keeps only its member closest to the
    cluster centroid (the synthetic corpus' top ~1%% similarity tail; real
    pipelines run ≥0.9 on k-means cells). One cluster-key shuffle, BLAS
    Gram kernel per cluster — see operators.similarity.semantic_dedup."""
    emb = _t(spark, sf_dir, "embeddings")
    # max_cluster=None: the oracle models the paper's whole-cluster
    # semantics; the capped default would sub-split a >4096-row cluster
    # and change keep/drop decisions the SQL cannot see (r14 review #2)
    out = SIM.semantic_dedup(emb, threshold=0.3, max_cluster=None)
    return out.select("vec_id", "label", _r(F.col("cc"), 6).alias("cc"), "kept")


def _semantic_dedup_sql(threshold: float = 0.3) -> str:
    """Oracle for q_semantic_dedup: same scaled-integer centroid, same
    µ-rounded cosine comparisons, same closer-to-centroid keep rule."""
    thr_i = int(round(threshold * 1e6))
    return f"""
WITH v AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
e AS (
  SELECT vec_id, label, unnest(ev) AS val,
         generate_subscripts(ev, 1) AS dim
  FROM v),
cent AS (
  SELECT label, dim,
         CAST(sum(CAST(round(val*1e6) AS BIGINT)) AS DOUBLE) / (1e6 * count(*)) AS c
  FROM e GROUP BY label, dim),
carr AS (SELECT label, list(c ORDER BY dim) AS cv FROM cent GROUP BY label),
cc AS (
  SELECT v.vec_id, v.label,
         CAST(round(list_dot_product(ev, cv)
              / (sqrt(list_dot_product(ev, ev)) * sqrt(list_dot_product(cv, cv)))
              * 1e6) AS BIGINT) AS cci
  FROM v JOIN carr USING (label)),
pairs AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib
  FROM v a JOIN v b ON a.label = b.label AND a.vec_id <> b.vec_id
  WHERE round(list_dot_product(a.ev, b.ev)
              / (sqrt(list_dot_product(a.ev, a.ev)) * sqrt(list_dot_product(b.ev, b.ev)))
              * 1e6) >= {thr_i}),
dropped AS (
  SELECT DISTINCT p.ib AS vec_id
  FROM pairs p
  JOIN cc ca ON ca.vec_id = p.ia
  JOIN cc cb ON cb.vec_id = p.ib
  WHERE ca.cci > cb.cci OR (ca.cci = cb.cci AND ca.vec_id < cb.vec_id))
SELECT c.vec_id, c.label, round(c.cci / 1e6, 6) AS cc,
       CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
FROM cc c LEFT JOIN dropped d ON d.vec_id = c.vec_id
"""


# --------------------------------------------------------------------------
# 4h. Round-6 wave 3: time-weighted avg / anomaly z / unigram NLL / overlap
# --------------------------------------------------------------------------


def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user per-day time-weighted average of the sensor value
    (trapezoidal over consecutive same-day samples) — the correct daily
    average for irregular sampling; see
    operators.timeseries.time_weighted_avg."""
    ev = _t(spark, sf_dir, "events")
    return TS.time_weighted_avg(
        ev, ts="ts", value="value", key="user_id", order_tiebreak="event_id"
    )


_SQL_TIME_WEIGHTED_AVG = """
WITH seg AS (
  SELECT user_id, ts, value AS v1,
         lead(ts) OVER w AS ts2, lead(value) OVER w AS v2
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
f AS (
  SELECT user_id,
         CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS bucket_epoch,
         CAST(round((epoch(ts2) - epoch(ts)) * (v1 + v2) / 2.0 * 1e6) AS BIGINT) AS num,
         CAST(round((epoch(ts2) - epoch(ts)) * 1e6) AS BIGINT) AS den
  FROM seg
  WHERE ts2 IS NOT NULL AND date_trunc('day', ts) = date_trunc('day', ts2)),
g AS (
  SELECT user_id, bucket_epoch, count(*) AS n_segments,
         CAST(sum(num) AS BIGINT) AS sn, CAST(sum(den) AS BIGINT) AS sd
  FROM f GROUP BY user_id, bucket_epoch)
SELECT user_id, bucket_epoch, n_segments,
       round(CAST(sn AS DOUBLE) / CAST(sd AS DOUBLE), 6) AS twa
FROM g WHERE sd > 0
"""


def q_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-20-sample anomaly flags (|z| > 3 against the per-user
    preceding baseline, min 5 predecessors) — see
    operators.timeseries.rolling_zscore for the integer-exact baseline
    construction."""
    ev = _t(spark, sf_dir, "events")
    return TS.rolling_zscore(
        ev, lookback=20, min_periods=5, threshold=3.0
    )


_SQL_ROLLING_ZSCORE = """
WITH s AS (
  SELECT user_id, event_id, ts, value,
         CAST(round(value * 1e3) AS BIGINT) AS vi
  FROM events WHERE value IS NOT NULL),
w AS (
  SELECT user_id, event_id, ts, value,
         sum(vi) OVER win AS s1, sum(vi * vi) OVER win AS s2,
         count(vi) OVER win AS n
  FROM s
  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
z AS (
  SELECT user_id, event_id, ts, value, CAST(n AS BIGINT) AS n_baseline,
         round((value - CAST(s1 AS DOUBLE) / (1e3 * CAST(n AS DOUBLE)))
               / (sqrt((CAST(s2 AS DOUBLE)
                        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                       / (CAST(n AS DOUBLE) - 1.0)) / 1e3), 4) AS z
  FROM w WHERE n >= 5 AND n * s2 > s1 * s1)
SELECT user_id, event_id, ts, value, z, n_baseline
FROM z WHERE abs(z) > 3.0
"""


def q_unigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean negative log-likelihood under the corpus'
    add-one-smoothed unigram model (self-model here; production scores
    ingests against a frozen snapshot model) — the perplexity-style
    quality score; see operators.ranking.unigram_nll."""
    docs = _tw(spark, sf_dir, "documents")
    return RK.unigram_nll(docs)


_SQL_UNIGRAM_NLL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
counts AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY term),
stats AS (SELECT CAST(sum(c) AS BIGINT) AS t, count(*) AS v FROM counts),
model AS (
  SELECT term, CAST(round(ln((c + 1) / (s.t + s.v)) * 1e9) AS BIGINT) AS lnp
  FROM counts CROSS JOIN stats s),
sc AS (
  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         CAST(sum(tf * lnp) AS BIGINT) AS ss
  FROM tf JOIN model USING (term) GROUP BY doc_id)
SELECT doc_id, n_tokens,
       round(-CAST(ss AS DOUBLE) / 1e9 / n_tokens, 6) AS nll
FROM sc
"""


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise word-bigram Jaccard between the 20 document sources —
    slice-level content-overlap matrix for mixture design and leakage
    checks; see operators.dedup.source_ngram_overlap."""
    docs = _tw(spark, sf_dir, "documents")
    return D.source_ngram_overlap(docs, n=2)


_SQL_SOURCE_OVERLAP = r"""
WITH w AS (
  SELECT source, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
g AS (
  SELECT DISTINCT source,
         array_to_string(list_slice(w, CAST(i AS INT), CAST(i AS INT) + 1), ' ') AS shingle
  FROM w, unnest(range(1, len(w))) AS t(i) WHERE len(w) >= 2),
sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY source),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(count(*) AS BIGINT) AS inter_grams
  FROM g a JOIN g b USING (shingle) WHERE a.source < b.source
  GROUP BY a.source, b.source)
SELECT source_a, source_b, inter_grams,
       sa.n + sb.n - inter_grams AS union_grams,
       round(CAST(inter_grams AS DOUBLE)
             / CAST(sa.n + sb.n - inter_grams AS DOUBLE), 6) AS jaccard
FROM inter
JOIN sz sa ON sa.source = inter.source_a
JOIN sz sb ON sb.source = inter.source_b
"""


# --------------------------------------------------------------------------
# 4i. Round-6 wave 4: shipping latency / daily bands / streaming anomalies
# --------------------------------------------------------------------------


def q_shipping_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency distribution per order priority: count, mean,
    and exact p50/p90 of (l_shipdate − o_orderdate) in days. The honest
    BIG-BIG join shape (lineitem ⋈ orders on the order key — no tiny
    side); at warehouse scale both sides bucket on the order key
    (catalog.write_bucketed) and the join is exchange-free — here the
    plan is whatever AQE picks for the sizes at hand. Day lags are exact
    integers, so the mean is an integer ratio and the engine-pair
    percentile interpolation is error-free."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "o_orderpriority",
        F.datediff("l_shipdate", "o_orderdate").alias("_lag"),
    )
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        _r(F.sum("_lag").cast("double") / F.count(F.lit(1)), 6).alias("mean_days"),
        _r(F.expr("percentile(_lag, 0.5)"), 4).alias("p50_days"),
        _r(F.expr("percentile(_lag, 0.9)"), 4).alias("p90_days"),
    )


_SQL_SHIPPING_LATENCY = """
WITH j AS (
  SELECT o.o_orderpriority,
         datediff('day', o.o_orderdate, l.l_shipdate) AS lag
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
SELECT o_orderpriority, count(*) AS n_items,
       round(CAST(CAST(sum(lag) AS BIGINT) AS DOUBLE) / count(*), 6) AS mean_days,
       round(quantile_cont(lag, 0.5), 4) AS p50_days,
       round(quantile_cont(lag, 0.9), 4) AS p90_days
FROM j GROUP BY o_orderpriority
"""


def q_daily_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(event_type, day) P50/P95 bands of the sensor value — the
    dashboard ribbon behind every "normal range" plot (the reference
    draws safe bands from static config, safeband.py; these are the
    empirical ones). One grouped aggregate; exact percentiles swap for
    approx_percentile at petabyte group sizes."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type",
        F.date_trunc("day", "ts").cast("double").cast("long").alias("day_epoch"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        _savg(F.col("value"), 4).alias("mean_value"),
        _r(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        _r(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
    )


_SQL_DAILY_VALUE_BANDS = f"""
SELECT event_type,
       CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_epoch,
       count(*) AS n,
       {_savg_sql("value", 4)} AS mean_value,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.95), 4) AS p95
FROM events GROUP BY event_type, date_trunc('day', ts)
"""


def q_streaming_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rolling z-score anomaly detector through the REAL streaming
    engine: applyInPandasWithState keeps each user's trailing-20 tail as
    bounded keyed state and emits flags as readings arrive. Oracled by
    the BATCH formulation's SQL — on this availableNow replay the
    streaming output equals the batch operator exactly (the equality law
    tests/test_streaming.py asserts directly)."""
    from ..streaming.replay import (
        drain_memory_sink,
        file_stream,
        python_state_partitions,
    )
    from ..streaming.stateful import streaming_anomaly_flags

    prepare_session(spark)
    stream, stage = file_stream(
        spark,
        f"{sf_dir}/events.parquet",
        prefix="w4h_anomaly_stream_",
        # Python-stateful op: cores-sized state partitions (see
        # replay.python_state_partitions for the measured trade)
        state_partitions=python_state_partitions(spark),
    )
    out = streaming_anomaly_flags(
        stream, lookback=20, min_periods=5, threshold=3.0
    )
    return drain_memory_sink(
        out, "append", name_prefix="w4h_anomaly_stream_", stage_dir=stage
    )


def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 cosine neighbors via sign-LSH bucketing (the
    third ANN arm next to brute-force `knn_cosine_topk` and inverted-file
    `knn_ivf_topk`): queries probe ONE bucket instead of the corpus.
    Recall < 1 by design; the deterministic seeded hyperplanes make the
    index — and therefore the whole answer — oracle-reproducible."""
    emb = _t(spark, sf_dir, "embeddings")
    out = SIM.lsh_topk(emb, emb.filter(F.col("vec_id") < 8), k=5, n_planes=4)
    return out.select(
        "query_id", "neighbor_id", "rank", _r(F.col("cos"), 5).alias("cos")
    )


def _knn_lsh_sql(dim: int = 64, n_planes: int = 4, seed: int = 42) -> str:
    """Oracle for q_knn_lsh: identical inlined hyperplane literals, same
    bucket/probe/rank plan."""
    planes = SIM.hyperplanes(dim, n_planes, seed)
    bit = "(CASE WHEN list_dot_product(ev, [{p}]) >= 0 THEN '1' ELSE '0' END)"
    bucket = " || ".join(
        bit.format(p=", ".join(repr(x) for x in plane)) for plane in planes
    )
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
b AS (SELECT vec_id, ev, {bucket} AS bucket FROM v),
s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_dot_product(q.ev, c.ev) /
             (sqrt(list_dot_product(q.ev, q.ev)) * sqrt(list_dot_product(c.ev, c.ev))) AS cos
      FROM b q JOIN b c USING (bucket)
      WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id),
r AS (SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      FROM s)
SELECT query_id, neighbor_id, rank, round(cos, 5) AS cos FROM r WHERE rank <= 5
"""


def q_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit (the ETL validation gate, J4 as a
    runnable report): lineitems whose order key has no parent order
    (orphans — must be 0 on healthy data, and the count PROVES the scan
    ran), orders with no lineitems (childless — legitimate, counted),
    plus the total parent/child row counts for context. One pass over
    each table: the childless/orphan sides are a single full outer join
    of the two key aggregates."""
    li = _t(spark, sf_dir, "lineitem").groupBy(
        F.col("l_orderkey").alias("k")
    ).agg(F.count(F.lit(1)).alias("n_items"))
    o = _t(spark, sf_dir, "orders").groupBy(
        F.col("o_orderkey").alias("k")
    ).agg(F.count(F.lit(1)).alias("n_orders"))
    j = li.join(o, "k", "full_outer")
    return j.agg(
        F.sum(F.when(F.col("n_orders").isNull(), F.col("n_items"))
              .otherwise(F.lit(0))).cast("long").alias("orphan_lineitems"),
        F.sum(F.when(F.col("n_items").isNull(), 1).otherwise(0))
        .cast("long").alias("childless_orders"),
        F.sum(F.coalesce(F.col("n_items"), F.lit(0))).cast("long").alias("n_lineitems"),
        F.sum(F.coalesce(F.col("n_orders"), F.lit(0))).cast("long").alias("n_orders"),
    )


_SQL_FK_INTEGRITY = """
WITH li AS (SELECT l_orderkey AS k, count(*) AS n_items FROM lineitem GROUP BY 1),
o AS (SELECT o_orderkey AS k, count(*) AS n_orders FROM orders GROUP BY 1),
j AS (SELECT li.n_items, o.n_orders FROM li FULL OUTER JOIN o USING (k))
SELECT CAST(sum(CASE WHEN n_orders IS NULL THEN n_items ELSE 0 END) AS BIGINT) AS orphan_lineitems,
       CAST(sum(CASE WHEN n_items IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS childless_orders,
       CAST(sum(coalesce(n_items, 0)) AS BIGINT) AS n_lineitems,
       CAST(sum(coalesce(n_orders, 0)) AS BIGINT) AS n_orders
FROM j
"""


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric column profiling of the events table (the data-import
    validation report: row counts, null rates, cardinalities, ranges —
    what the reference's import flow eyeballs per upload). Long format
    via a map-side stack (unpivot) feeding ONE grouped aggregate — the
    table is scanned once however many columns are profiled."""
    ev = _t(spark, sf_dir, "events")
    stacked = ev.select(
        F.expr(
            "stack(3, 'event_id', CAST(event_id AS DOUBLE), "
            "'user_id', CAST(user_id AS DOUBLE), "
            "'value', CAST(value AS DOUBLE)) AS (col_name, v)"
        )
    )
    return stacked.groupBy("col_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("v").isNull(), 1).otherwise(0))
        .cast("long").alias("n_null"),
        F.countDistinct("v").alias("n_distinct"),
        F.min("v").alias("min_val"),
        F.max("v").alias("max_val"),
    )


_SQL_TABLE_PROFILE = """
WITH stacked AS (
  SELECT 'event_id' AS col_name, CAST(event_id AS DOUBLE) AS v FROM events
  UNION ALL
  SELECT 'user_id', CAST(user_id AS DOUBLE) FROM events
  UNION ALL
  SELECT 'value', CAST(value AS DOUBLE) FROM events)
SELECT col_name, count(*) AS n_rows,
       CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       count(DISTINCT v) AS n_distinct,
       min(v) AS min_val, max(v) AS max_val
FROM stacked GROUP BY col_name
"""


def q_cube_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (orderstatus, priority): all four grouping-set levels in
    one pass (rollup's sibling — `rollup_totals` pins the hierarchy
    direction, this pins the full lattice). Spark's Expand produces every
    grouping set from a single scan + one exchange."""
    orders = _t(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        _fsum(F.col("o_totalprice")).alias("sum_total"),
    )


_SQL_CUBE_TOTALS = f"""
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       {_fsum_sql("o_totalprice", 2)} AS sum_total
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming sessionization (state-store merged session
    windows) through the REAL engine, drained complete-mode on a bounded
    replay — emits exactly the batch `session_windows` rows, so the same
    lag+cumsum SQL oracles both (see streaming.replay.sessionized_stream
    for the append-mode finalization caveat)."""
    from ..streaming.replay import (
        drain_memory_sink,
        file_stream,
        sessionized_stream,
    )

    prepare_session(spark)
    stream, stage = file_stream(
        spark, f"{sf_dir}/events.parquet", prefix="w4h_sessions_stream_"
    )
    out = sessionized_stream(stream, ts="ts", key="user_id", gap="1 hour")
    got = drain_memory_sink(
        out, "complete", name_prefix="w4h_sessions_stream_", stage_dir=stage
    )
    return got.select(
        "user_id",
        F.floor(F.col("_first").cast("double")).cast("long").alias("session_start_epoch"),
        "n_events",
        F.floor(F.col("_last").cast("double") - F.col("_first").cast("double"))
        .cast("long")
        .alias("duration_secs"),
    )


def q_heavy_hitters_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy hitters over event types, driver-gated via the
    within-bound pattern: the row carries the CM estimate, the exact
    count twin, and flags for the CM guarantees (never under; over by at
    most ceil(eps*N) — here eps*N is sub-1 so estimates are EXACT). The
    oracle computes the exact side and asserts both flags."""
    ev = _t(spark, sf_dir, "events")
    est = SK.count_min_estimates(ev, "event_type", eps=1e-3, confidence=0.99)
    exact = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("exact_n"))
    n_total = ev.count()
    import math

    slack = int(math.ceil(1e-3 * n_total))
    return est.join(exact, "event_type").select(
        "event_type",
        "estimate",
        "exact_n",
        (F.col("estimate") >= F.col("exact_n")).cast("long").alias("never_under"),
        (F.col("estimate") <= F.col("exact_n") + F.lit(slack))
        .cast("long")
        .alias("within_bound"),
    )


_SQL_HEAVY_HITTERS = """
SELECT event_type,
       count(*) AS estimate,
       count(*) AS exact_n,
       CAST(1 AS BIGINT) AS never_under,
       CAST(1 AS BIGINT) AS within_bound
FROM events GROUP BY event_type
"""


def q_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands coverage: each event opens a 10-minute activity
    interval; overlapping intervals merge so concurrent activity counts
    once (the double-counting the reference's summed session lengths
    suffer from, viz.py activity panels). Exact integer µs end to end;
    one (user, start) exchange drives both window passes and both
    rollups (see operators/interval.py merge_intervals)."""
    from ..operators.interval import interval_coverage

    ev = _t(spark, sf_dir, "events")
    s = F.round(F.col("ts").cast("double") * 1e6, 0).cast("long")
    iv = ev.select(
        "user_id",
        s.alias("start_us"),
        (s + F.lit(600_000_000)).alias("end_us"),
    )
    return interval_coverage(iv, key="user_id", start="start_us", end="end_us")


_SQL_INTERVAL_COVERAGE = """
WITH iv AS (
  SELECT user_id, CAST(round(epoch(ts)*1e6) AS BIGINT) AS s,
         CAST(round(epoch(ts)*1e6) AS BIGINT) + 600000000 AS e
  FROM events),
m AS (
  SELECT user_id, s, e,
         max(e) OVER (PARTITION BY user_id ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
  FROM iv),
fl AS (
  SELECT user_id, s, e,
         CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS ni
  FROM m),
isl AS (
  SELECT user_id, s, e,
         sum(ni) OVER (PARTITION BY user_id ORDER BY s, e
                       ROWS UNBOUNDED PRECEDING) AS island
  FROM fl),
g AS (SELECT user_id, island, min(s) AS i_s, max(e) AS i_e
      FROM isl GROUP BY user_id, island)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
       CAST(sum(i_e - i_s) AS BIGINT) AS covered_us
FROM g GROUP BY user_id
"""


def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user CUSUM mean-shift detection: the peak of the cumulative
    deviation path and the first timestamp attaining it, via the
    integer-domain statistic n·P_k − k·S (see operators/timeseries.py
    cusum_changepoint — argmax and ties are integer-exact, so DuckDB
    reproduces the full row including the changepoint timestamp)."""
    ev = _t(spark, sf_dir, "events")
    return TS.cusum_changepoint(
        ev, ts="ts", value="value", key="user_id", order_tiebreak="event_id"
    )


_SQL_CUSUM = """
WITH v AS (
  SELECT user_id, ts, event_id,
         CAST(round(value*1e3) AS BIGINT) AS vi,
         CAST(round(epoch(ts)*1e6) AS BIGINT) AS tus
  FROM events WHERE value IS NOT NULL),
r AS (
  SELECT user_id, tus,
         sum(vi) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS p,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS k,
         sum(vi) OVER (PARTITION BY user_id) AS s,
         count(vi) OVER (PARTITION BY user_id) AS n
  FROM v),
d AS (SELECT user_id, tus, n, abs(n*p - k*s) AS absd FROM r WHERE n >= 8),
mx AS (SELECT user_id, max(absd) AS mabs, max(n) AS ns FROM d GROUP BY user_id)
SELECT d.user_id, CAST(mx.ns AS BIGINT) AS n_samples,
       round(CAST(mx.mabs AS DOUBLE) / (CAST(mx.ns AS DOUBLE) * 1e3), 4)
         AS cusum_max,
       CAST(min(d.tus) AS BIGINT) AS changepoint_epoch_us
FROM d JOIN mx ON d.user_id = mx.user_id AND d.absd = mx.mabs
GROUP BY d.user_id, mx.ns, mx.mabs
"""


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (64-token windows, stride 48) with
    MD5-prefix chunk fingerprints — the context-window prep pass; all
    map-side, zero shuffles (operators/text.py chunk_documents)."""
    docs = _tw(spark, sf_dir, "documents")
    return TX.chunk_documents(docs, chunk_tokens=64, stride=48)


_SQL_DOC_CHUNKS = r"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
c AS (
  SELECT doc_id, CAST(i AS INT) AS chunk_idx, w
  FROM w, unnest(range(0,
       1 + CAST(ceil(greatest(len(w) - 64, 0) / 48.0) AS BIGINT))) AS t(i)),
s AS (
  SELECT doc_id, chunk_idx, chunk_idx * 48 AS chunk_start,
         list_slice(w, chunk_idx * 48 + 1, chunk_idx * 48 + 64) AS chunk
  FROM c)
SELECT doc_id, chunk_idx, chunk_start,
       CAST(len(chunk) AS INT) AS n_chunk_tokens,
       CAST('0x' || substr(md5(array_to_string(chunk, ' ')), 1, 8) AS BIGINT)
         AS chunk_fp
FROM s
"""


def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination (the plan that scales past broadcast
    gram sets): benchmark grams fold into a 1 Mbit bitmap, corpus probes
    it with pure map-side bit math — no join in the probe stage at all.
    Driver-gatable via the within-bound pattern: the row carries the
    exact-side twins (corpus size, exact contaminated-doc count — DuckDB
    recomputes both) plus flags asserting the Bloom filter's contract on
    this data: zero false negatives (superset of the exact result,
    per-doc counts included) and false-positive DOCS bounded by
    max(10, 10% of the clean docs) — a loose envelope around the
    theoretical per-gram (1-e^(-kn/m))^k rate, sized so flag flips mean
    the filter broke, not that the data wiggled.

    Gate-cost shape (r7): the exact twin and the Bloom probe each run
    ONCE — all four output counts fold out of a single full-outer join
    of the two per-doc frames plus one gram-free corpus row count. The
    r6 formulation's crossJoin branches re-derived the shingle explosion
    per branch (exact 3x, bloom 2x) and put this entry at 11.4 s sf0.1;
    this shape is the same oracle contract at roughly a third the work."""
    docs = _tw(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 100 == 0)
    corpus = docs.filter(F.col("doc_id") % 100 != 0)
    m_bits, k = 1 << 20, 4
    bitmap = D.gram_bloom_bitmap(bench, n=3, m_bits=m_bits, k=k)
    # r16: fused single-gram-pass form — row-identical to
    # contamination(...) FULL OUTER JOIN bloom_contamination(...) but
    # assembles the corpus grams once and plans no sort-merge join
    # (operators/dedup.py contamination_with_bloom)
    per_doc = D.contamination_with_bloom(
        corpus, bench, bitmap, m_bits, k=k, n=3
    )
    folded = per_doc.agg(
        F.count("n_hits").alias("n_exact_contaminated"),
        F.count("n_bloom_hits").alias("_n_flagged"),
        F.coalesce(
            F.sum(
                (
                    F.col("n_hits").isNotNull()
                    & (
                        F.col("n_bloom_hits").isNull()
                        | (F.col("n_bloom_hits") < F.col("n_hits"))
                    )
                ).cast("long")
            ),
            F.lit(0).cast("long"),
        ).alias("n_viol"),
    )
    counts = corpus.agg(
        F.count_distinct("doc_id").alias("n_corpus_docs")
    ).crossJoin(folded)
    clean = F.col("n_corpus_docs") - F.col("n_exact_contaminated")
    fp_allow = F.greatest(F.lit(10).cast("long"), (clean / 10).cast("long"))
    return counts.select(
        "n_corpus_docs",
        "n_exact_contaminated",
        (F.col("n_viol") == 0).cast("long").alias("no_false_negatives"),
        (
            (F.col("_n_flagged") - F.col("n_exact_contaminated")) <= fp_allow
        )
        .cast("long")
        .alias("fp_bound_ok"),
    )


_SQL_BLOOM_DECONTAMINATE = r"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
g AS (
  SELECT doc_id,
         array_to_string(list_slice(w, CAST(i AS INT), CAST(i AS INT) + 2), ' ') AS gram
  FROM w, unnest(range(1, len(w) - 1)) AS t(i) WHERE len(w) >= 3),
bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 100 = 0),
corpus AS (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id % 100 <> 0),
hits AS (SELECT DISTINCT doc_id FROM corpus JOIN bench USING (gram))
SELECT
  (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) FROM documents
   WHERE doc_id % 100 <> 0) AS n_corpus_docs,
  (SELECT CAST(count(*) AS BIGINT) FROM hits) AS n_exact_contaminated,
  CAST(1 AS BIGINT) AS no_false_negatives,
  CAST(1 AS BIGINT) AS fp_bound_ok
"""


def q_quantized_knn_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantized brute-force kNN, gated against the exact float path
    (within-bound pattern): per query the row carries the exact top-5
    neighbor list (rank order, DuckDB recomputes it with the same
    score-then-id tiebreak as the green knn_cosine_topk entry) plus a
    flag that quantized recall@5 ≥ 0.6 — int8 cosine on real embedding
    distributions loses ≲1/254 per component, so sub-0.6 recall means
    the quantizer, not the data, broke."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = SIM.cosine_topk(emb, queries, k=5)
    quant = SIM.quantized_topk(emb, queries, k=5)
    # both top-k outputs are k·|queries| rows by construction — broadcast
    # so the recall join never plans a shuffle off row-count guesses
    hits = (
        exact.join(F.broadcast(quant), ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("_hits"))
    )
    # identical aggregate built as one parsed SQL expression instead of the
    # nested Column-lambda chain (r16 construction pass — same analyzed
    # expression tree, one py4j round-trip instead of dozens)
    per_q = exact.groupBy("query_id").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(rank, "
            "neighbor_id))), x -> CAST(x.neighbor_id AS STRING)), ',') "
            "AS exact_neighbors"
        )
    )
    return per_q.join(F.broadcast(hits), "query_id", "left").select(
        "query_id",
        "exact_neighbors",
        F.expr("CAST(coalesce(_hits, 0) >= 3 AS BIGINT) AS recall_ok"),
    )


_SQL_QUANT_RECALL = """
WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 8),
c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
s AS (SELECT qid, nid,
             list_dot_product(qv, cv) /
             (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos
      FROM q CROSS JOIN c WHERE qid <> nid),
r AS (SELECT qid AS query_id, nid AS neighbor_id,
             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
      FROM s)
SELECT query_id,
       string_agg(CAST(neighbor_id AS VARCHAR), ',' ORDER BY rank)
         AS exact_neighbors,
       CAST(1 AS BIGINT) AS recall_ok
FROM r WHERE rank <= 5 GROUP BY query_id
"""


def q_spearman_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user monotonic-drift detection: Spearman rank correlation of
    value against time, with integer-exact average ranks (2·avgrank =
    2·rank + ties − 1) so DuckDB reproduces every rank, tie split, and
    moment sum bit-for-bit (operators/timeseries.py spearman_trend)."""
    ev = _t(spark, sf_dir, "events")
    return TS.spearman_trend(ev, ts="ts", value="value", key="user_id")


_SQL_SPEARMAN = """
WITH b AS (
  SELECT user_id, CAST(round(epoch(ts)*1e6) AS BIGINT) AS x, value AS y
  FROM events WHERE value IS NOT NULL),
r AS (
  SELECT user_id,
         2*rank() OVER (PARTITION BY user_id ORDER BY x)
           + count(*) OVER (PARTITION BY user_id, x) - 1 AS rx,
         2*rank() OVER (PARTITION BY user_id ORDER BY y)
           + count(*) OVER (PARTITION BY user_id, y) - 1 AS ry
  FROM b),
g AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_samples,
         CAST(sum(rx) AS BIGINT) AS sx, CAST(sum(ry) AS BIGINT) AS sy,
         CAST(sum(rx*rx) AS BIGINT) AS sxx, CAST(sum(ry*ry) AS BIGINT) AS syy,
         CAST(sum(rx*ry) AS BIGINT) AS sxy
  FROM r GROUP BY user_id),
d AS (
  SELECT user_id, n_samples,
         CAST(n_samples AS DOUBLE)*CAST(sxy AS DOUBLE)
           - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE) AS num,
         CAST(n_samples AS DOUBLE)*CAST(sxx AS DOUBLE)
           - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE) AS dx,
         CAST(n_samples AS DOUBLE)*CAST(syy AS DOUBLE)
           - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE) AS dy
  FROM g)
SELECT user_id, n_samples,
       round(num / (sqrt(dx) * sqrt(dy)), 5) AS spearman_rho
FROM d WHERE n_samples >= 8 AND dx > 0 AND dy > 0
"""


def q_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour activity heatmap (the reference's dashboard
    heatmap panels as one grouped aggregate). Day-of-week comes from
    engine-neutral epoch arithmetic — floor(epoch/86400 + 4) % 7, Sunday
    = 0 — rather than each engine's dayofweek() convention (Spark is
    1-based Sunday, DuckDB 0-based: the classic silent off-by-one).
    One exchange; at scale the 7×24-cell result makes this the textbook
    map-side-combine aggregate."""
    ev = _t(spark, sf_dir, "events")
    ep = F.col("ts").cast("double")
    day = F.floor(ep / F.lit(86400.0)).cast("long")
    return (
        ev.groupBy(
            ((day + F.lit(4)) % F.lit(7)).alias("dow"),
            F.floor((ep - day * F.lit(86400.0)) / F.lit(3600.0))
            .cast("long")
            .alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _savg(F.col("value"), 5).alias("avg_value"),
        )
    )


_SQL_DOW_HOUR = f"""
WITH b AS (
  SELECT CAST(floor(epoch(ts)/86400) AS BIGINT) AS day, epoch(ts) AS ep, value
  FROM events)
SELECT (day + 4) % 7 AS dow,
       CAST(floor((ep - day*86400.0)/3600.0) AS BIGINT) AS hour,
       CAST(count(*) AS BIGINT) AS n_events,
       {_savg_sql("value", 5)} AS avg_value
FROM b GROUP BY 1, 2
"""


def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval self-join as an actual Structured Streaming
    job: view events paired with same-user purchases within 2 hours,
    watermarked on both sides so the join buffers evict (see
    streaming/replay.py interval_pair_stream). Oracle-checked: the
    streaming matches must equal the batch range join exactly (INNER
    stream-stream joins emit on match, so the bounded availableNow replay
    emits every pair)."""
    from ..streaming.replay import run_interval_pair_batchmode

    prepare_session(spark)
    return run_interval_pair_batchmode(spark, f"{sf_dir}/events.parquet")


_SQL_STREAM_STREAM_JOIN = """
SELECT l.user_id,
       l.event_id AS left_event_id,
       r.event_id AS right_event_id,
       CAST(round(epoch(r.ts)*1e6) AS BIGINT)
         - CAST(round(epoch(l.ts)*1e6) AS BIGINT) AS lag_us
FROM events l
JOIN events r
  ON l.user_id = r.user_id
 AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 2 HOUR
WHERE l.event_type = 'view' AND r.event_type = 'purchase'
"""


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dups over word-5-gram shingles: |A∩B|/min(|A|,|B|)
    — the snippet-inclusion semantic Jaccard misses (a short doc quoted
    inside a long one scores ~0 Jaccard, ~1 containment). Same
    one-shingle-exchange plan as the Jaccard entry
    (operators/dedup.py ngram_containment_pairs)."""
    out = D.ngram_containment_pairs(
        _tw(spark, sf_dir, "documents"), n=5, threshold=0.5
    )
    return out.select(
        "id_a", "id_b", _r(F.col("containment"), 6).alias("containment")
    )


_SQL_CONTAINMENT = r"""
WITH words AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
sh AS (
  SELECT doc_id,
         unnest(list_distinct([array_to_string(w[i:i+4], ' ') for i in range(1, len(w) - 3)])) AS shingle
  FROM words WHERE len(w) >= 5),
sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       round(n_common / CAST(least(sa.set_size, sb.set_size) AS DOUBLE), 6) AS containment
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE n_common / CAST(least(sa.set_size, sb.set_size) AS DOUBLE) >= 0.5
"""


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering audit: quantize (l_partkey, l_suppkey) to a
    256×256 cell grid (max-relative, so the grid fills at EVERY sf),
    Morton-interleave the cells, split the 16-bit z-space into 64 coarse
    buckets, and report each bucket's row count and per-dimension cell
    bounding box — each bucket is a quad-tree cell (top 3 bits of each
    dim fixed), so both cell ranges are ≤32-wide: the property that
    makes z-clustered files prunable on EITHER dimension.
    catalog.zorder_key / write_zordered apply the same key as a physical
    file layout (file-level pruning test in test_operators.py)."""
    from ..catalog import zorder_key

    li = _t(spark, sf_dir, "lineitem")
    mx = li.agg(
        F.max("l_partkey").alias("_mx"), F.max("l_suppkey").alias("_my")
    )

    def cell(col, mcol):
        return F.least(
            F.floor(col.cast("double") * 256.0 / (mcol + F.lit(1)).cast("double")),
            F.lit(255),
        ).cast("long")

    cells = li.crossJoin(F.broadcast(mx)).select(
        cell(F.col("l_partkey"), F.col("_mx")).alias("cx"),
        cell(F.col("l_suppkey"), F.col("_my")).alias("cy"),
    )
    zk = zorder_key(F.col("cx"), F.col("cy"), 8)
    return (
        cells.groupBy(F.shiftright(zk, 10).alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("cx").alias("min_cx"),
            F.max("cx").alias("max_cx"),
            F.min("cy").alias("min_cy"),
            F.max("cy").alias("max_cy"),
        )
    )


def _zorder_sql_expr(x: str, y: str, bits: int = 16) -> str:
    """DuckDB twin of catalog.zorder_key: identical shift/and bit
    interleave (disjoint bit positions, so OR == sum)."""
    terms = []
    for b in range(bits):
        terms.append(f"((({x} >> {b}) & 1) << {2 * b})")
        terms.append(f"((({y} >> {b}) & 1) << {2 * b + 1})")
    return " | ".join(terms)


_SQL_ZORDER = f"""
WITH m AS (SELECT max(l_partkey) AS mx, max(l_suppkey) AS my FROM lineitem),
c AS (
  SELECT CAST(least(floor(CAST(l_partkey AS DOUBLE) * 256.0
                          / CAST(mx + 1 AS DOUBLE)), 255) AS BIGINT) AS cx,
         CAST(least(floor(CAST(l_suppkey AS DOUBLE) * 256.0
                          / CAST(my + 1 AS DOUBLE)), 255) AS BIGINT) AS cy
  FROM lineitem, m)
SELECT (({_zorder_sql_expr("cx", "cy", 8)}) >> 10) AS z_bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       min(cx) AS min_cx, max(cx) AS max_cx,
       min(cy) AS min_cy, max(cy) AS max_cy
FROM c GROUP BY 1
"""


def q_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent activity per user (+1/−1 boundary sweep over
    1-day activity windows opened by each event) and the first instant
    attaining it — half-open semantics, exact integer µs, one key
    exchange (operators/interval.py max_concurrency)."""
    from ..operators.interval import max_concurrency

    ev = _t(spark, sf_dir, "events")
    s = F.round(F.col("ts").cast("double") * 1e6, 0).cast("long")
    iv = ev.select(
        "user_id",
        s.alias("start_us"),
        (s + F.lit(86_400_000_000)).alias("end_us"),
    )
    return max_concurrency(iv, key="user_id", start="start_us", end="end_us")


_SQL_MAX_CONCURRENCY = """
WITH iv AS (
  SELECT user_id, CAST(round(epoch(ts)*1e6) AS BIGINT) AS s,
         CAST(round(epoch(ts)*1e6) AS BIGINT) + 86400000000 AS e
  FROM events),
b AS (
  SELECT user_id, s AS t, 1 AS d FROM iv
  UNION ALL
  SELECT user_id, e AS t, -1 AS d FROM iv),
r AS (
  SELECT user_id, t,
         sum(d) OVER (PARTITION BY user_id ORDER BY t, d
                      ROWS UNBOUNDED PRECEDING) AS opn
  FROM b),
mx AS (SELECT user_id, max(opn) AS pk FROM r GROUP BY user_id)
SELECT r.user_id, CAST(mx.pk AS BIGINT) AS peak_concurrency,
       CAST(min(r.t) AS BIGINT) AS peak_at_us
FROM r JOIN mx ON r.user_id = mx.user_id AND r.opn = mx.pk
GROUP BY r.user_id, mx.pk
"""


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier census per event type: median + median absolute
    deviation (both exact interpolated percentiles, rounded portably
    BEFORE dependent math so each stage is engine-identical), and the
    count of readings beyond 3 MADs — the outlier rule that, unlike
    mean±kσ, a handful of extreme readings cannot drag toward
    themselves. Two grouped aggregates + a 5-row broadcast back; exact
    percentile swaps for approx_percentile at petabyte group sizes."""
    ev = _t(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.count("value").alias("n"),
        _r(F.expr("percentile(value, 0.5)"), 6).alias("med"),
    )
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            F.max("med").alias("med"),
            _r(F.expr("percentile(abs(value - med), 0.5)"), 6).alias("mad"),
        )
    )
    return (
        ev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            F.max("med").alias("med"),
            F.max("mad").alias("mad"),
            F.sum(
                (F.abs(F.col("value") - F.col("med")) > 3 * F.col("mad")).cast(
                    "long"
                )
            ).alias("n_outliers"),
        )
    )


_SQL_MAD_OUTLIERS = """
WITH med AS (
  SELECT event_type, CAST(count(value) AS BIGINT) AS n,
         round(quantile_cont(value, 0.5), 6) AS med
  FROM events GROUP BY 1),
mad AS (
  SELECT e.event_type, max(m.n) AS n, max(m.med) AS med,
         round(quantile_cont(abs(e.value - m.med), 0.5), 6) AS mad
  FROM events e JOIN med m USING (event_type) GROUP BY 1)
SELECT e.event_type, CAST(max(d.n) AS BIGINT) AS n, max(d.med) AS med,
       max(d.mad) AS mad,
       CAST(sum(CASE WHEN abs(e.value - d.med) > 3 * d.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM events e JOIN mad d USING (event_type)
GROUP BY 1
"""


def q_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour heavy-hitter sketches as an actual streaming job: one
    mergeable Count-Min sketch per window (bounded state however many
    distinct users a window sees), drained and interrogated for a
    bounded watchlist (user_id < 8). Within-bound gate: the row carries
    the exact per-(window, user) count (DuckDB recomputes it) plus the
    CM contract flag — estimate never under, over by at most
    max(1, ⌈eps·N_window⌉) (deterministic given the fixed seed)."""
    from ..streaming.replay import run_windowed_heavy_hitters_batchmode

    prepare_session(spark)
    return run_windowed_heavy_hitters_batchmode(
        spark, f"{sf_dir}/events.parquet", candidates=list(range(8))
    )


_SQL_STREAM_HEAVY_HITTERS = """
SELECT CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS window_start_epoch,
       user_id, CAST(count(*) AS BIGINT) AS exact_n,
       CAST(1 AS BIGINT) AS within_bound
FROM events WHERE user_id < 8
GROUP BY 1, 2
"""


def q_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-total analytics (Oracle's RATIO_TO_REPORT, as a
    partitioned window over a pre-aggregated relation): each nation's
    revenue share within its region. The window runs on the
    25-row nation aggregate, never the raw fact — the fact pays one
    grouped aggregate (map-side partials) and the share math is free.
    Fixed-point sums keep the shares engine-identical."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(
                F.round(
                    li["l_extendedprice"] * (1 - li["l_discount"]) * 1e6, 0
                ).cast("long")
            ).alias("_rev_u")
        )
    )
    from pyspark.sql import Window as W

    total = F.sum("_rev_u").over(W.partitionBy("r_name"))
    return rev.select(
        "r_name",
        "n_name",
        _r(F.col("_rev_u").cast("double") / 1e6, 2).alias("revenue"),
        _r(F.col("_rev_u").cast("double") / total.cast("double"), 6).alias(
            "share"
        ),
    )


_SQL_RATIO_TO_REPORT = """
WITH rev AS (
  SELECT r_name, n_name,
         sum(CAST(round(l_extendedprice * (1 - l_discount) * 1e6) AS BIGINT))
           AS rev_u
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY 1, 2)
SELECT r_name, n_name,
       round(CAST(rev_u AS DOUBLE) / 1e6, 2) AS revenue,
       round(CAST(rev_u AS DOUBLE) /
             CAST(sum(rev_u) OVER (PARTITION BY r_name) AS DOUBLE), 6) AS share
FROM rev
"""


def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit (data-quality family, alongside
    fk_integrity/table_profile): the leading-digit distribution of
    order totals vs Benford's log10(1+1/d) expectation, with a flag on
    digits whose observed share deviates >5 percentage points —
    fabricated or unit-mangled numeric columns jump out here before
    they poison a pipeline. One map-side digit extraction (string, not
    float log — exact) + one 9-row aggregate."""
    orders = _t(spark, sf_dir, "orders")
    d = F.substring(
        F.regexp_replace(
            F.format_number(F.abs(F.col("o_totalprice")), 10), r"[0.,]", ""
        ),
        1,
        1,
    ).cast("int")
    n_tot = orders.count()
    import math

    benford = {dd: math.log10(1 + 1 / dd) for dd in range(1, 10)}
    bmap = F.create_map(
        *[x for dd, p in benford.items() for x in (F.lit(dd), F.lit(round(p, 6)))]
    )
    return (
        orders.select(d.alias("digit"))
        .filter(F.col("digit") >= 1)
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "digit",
            "n",
            _r(F.col("n").cast("double") / F.lit(float(n_tot)), 6).alias(
                "observed"
            ),
            bmap[F.col("digit")].alias("expected"),
            (
                F.abs(
                    F.col("n").cast("double") / F.lit(float(n_tot))
                    - bmap[F.col("digit")]
                )
                > 0.05
            )
            .cast("long")
            .alias("deviates"),
        )
    )


def _benford_sql() -> str:
    import math

    cases = " ".join(
        f"WHEN {d} THEN {round(math.log10(1 + 1 / d), 6)!r}" for d in range(1, 10)
    )
    return f"""
WITH t AS (SELECT CAST(count(*) AS DOUBLE) AS n_tot FROM orders),
d AS (
  SELECT CAST(substr(regexp_replace(format('{{:.10f}}', abs(o_totalprice)),
                                    '[0.,]', '', 'g'), 1, 1) AS INT) AS digit
  FROM orders),
g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d
      WHERE digit >= 1 GROUP BY 1)
SELECT digit, n,
       round(CAST(n AS DOUBLE) / n_tot, 6) AS observed,
       CAST(CASE digit {cases} END AS DOUBLE) AS expected,
       CAST(CASE WHEN abs(CAST(n AS DOUBLE) / n_tot -
                          CAST(CASE digit {cases} END AS DOUBLE)) > 0.05
                 THEN 1 ELSE 0 END AS BIGINT) AS deviates
FROM g, t
"""


def q_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew audit (the planning input for salting / AQE skew
    thresholds at scale): per candidate join key, the key cardinality,
    top-1 / top-10 frequency shares (via TakeOrdered, never a global
    sort or unpartitioned window), and the Herfindahl concentration
    index Σ(cᵢ/N)² — chosen over Gini precisely because it needs NO
    ordering (one aggregate over integer counts: Σc² / (Σc)²), so the
    whole report is per-key aggregates + scalar math. HHI ~ 1/n_keys
    means uniform; a key whose HHI ≫ 1/n_keys needs skew handling
    before it anchors a shuffle join."""
    # r16: a localCheckpoint barrier on each per-table `counts` (it feeds
    # both the totals aggregate and the top-10 TakeOrdered) was measured
    # SLOWER at sf0.1 (0.7-0.85 s -> 0.95-1.2 s interleaved A/B): three
    # eager checkpoints serialize the per-table jobs the lazy plan runs
    # concurrently, and the duplicated branch is a single count aggregate
    # (the nll-barrier lesson, not the classification_metrics one).
    reports = []
    for table, keycol in (
        ("orders", "o_custkey"),
        ("lineitem", "l_partkey"),
        ("events", "user_id"),
    ):
        counts = (
            _t(spark, sf_dir, table)
            .groupBy(F.col(keycol).alias("k"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        totals = counts.agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("c").alias("n_rows"),
            F.sum(F.col("c") * F.col("c")).alias("_sum_c2"),
            F.max("c").alias("_top1"),
        )
        top10 = (
            counts.orderBy(F.desc("c"), F.asc("k"))
            .limit(10)
            .agg(F.sum("c").alias("_top10"))
        )
        nd = F.col("n_rows").cast("double")
        reports.append(
            totals.crossJoin(F.broadcast(top10)).select(
                F.lit(f"{table}.{keycol}").alias("key"),
                "n_keys",
                "n_rows",
                _r(F.col("_top1").cast("double") / nd, 6).alias("top1_share"),
                _r(F.col("_top10").cast("double") / nd, 6).alias("top10_share"),
                _r(F.col("_sum_c2").cast("double") / (nd * nd), 6).alias("hhi"),
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


def _key_skew_sql() -> str:
    parts = []
    for table, keycol in (
        ("orders", "o_custkey"),
        ("lineitem", "l_partkey"),
        ("events", "user_id"),
    ):
        parts.append(f"""
SELECT '{table}.{keycol}' AS key,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(c) AS BIGINT) AS n_rows,
       round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS top1_share,
       round((SELECT CAST(sum(c) AS DOUBLE) FROM
                (SELECT c FROM (SELECT {keycol} AS k, count(*) AS c
                                FROM {table} GROUP BY 1)
                 ORDER BY c DESC, k LIMIT 10))
             / CAST(sum(c) AS DOUBLE), 6) AS top10_share,
       round(CAST(sum(c*c) AS DOUBLE) /
             (CAST(sum(c) AS DOUBLE) * CAST(sum(c) AS DOUBLE)), 6) AS hhi
FROM (SELECT {keycol} AS k, count(*) AS c FROM {table} GROUP BY 1)
""")
    return " UNION ALL ".join(parts)


def q_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deseasonalized anomaly census: a reading is judged against ITS
    OWN (user, hour-of-day) slice — "abnormal for this subject at this
    time of day" — the circadian-aware check neither the trailing
    z-score (recent history, any hour) nor the MAD census (whole-type
    distribution) makes. Per slice: integer moment sums via a
    partition-only window, the same n·Σv² > (Σv)² integer variance
    guard as rolling_zscore, flag at mean±2σ, then ONE (user, hour)
    exchange serves both the window and the final rollup
    (hash(user, hour) satisfies its own grouping). Hour comes from
    engine-neutral epoch math (see dow_hour_heatmap)."""
    ev = _t(spark, sf_dir, "events")
    ep = F.col("ts").cast("double")
    hour = (
        F.floor((ep - F.floor(ep / F.lit(86400.0)) * F.lit(86400.0)) / F.lit(3600.0))
        .cast("long")
        .alias("hour")
    )
    vi = F.round(F.col("value") * 1e3, 0).cast("long")
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id", "hour")
    b = ev.filter(F.col("value").isNotNull()).select(
        "user_id", hour, "value", vi.alias("_vi")
    )
    base = b.select(
        "user_id",
        "hour",
        "value",
        F.sum("_vi").over(w).alias("_s1"),
        F.sum(F.col("_vi") * F.col("_vi")).over(w).alias("_s2"),
        F.count(F.lit(1)).over(w).alias("_n"),
    )
    s1d = F.col("_s1").cast("double")
    s2d = F.col("_s2").cast("double")
    nd = F.col("_n").cast("double")
    dev = F.abs(F.col("value") - s1d / (F.lit(1e3) * nd))
    band = F.lit(2.0) * (
        F.sqrt((s2d - s1d * s1d / nd) / (nd - F.lit(1.0))) / F.lit(1e3)
    )
    flag = (
        (F.col("_n") >= 5)
        & (F.col("_n") * F.col("_s2") > F.col("_s1") * F.col("_s1"))
        & (dev > band)
    )
    return (
        base.groupBy("user_id", "hour")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("_s1").alias("_ms1"),
            F.max("_n").alias("_mn"),
            F.sum(flag.cast("long")).alias("n_anomalies"),
        )
        .select(
            "user_id",
            "hour",
            "n",
            _r(
                F.col("_ms1").cast("double")
                / (F.lit(1e3) * F.col("_mn").cast("double")),
                5,
            ).alias("baseline"),
            "n_anomalies",
        )
    )


_SQL_SEASONAL_ANOMALIES = """
WITH b AS (
  SELECT user_id,
         CAST(floor((epoch(ts) - floor(epoch(ts)/86400)*86400)/3600) AS BIGINT)
           AS hour,
         value, CAST(round(value*1e3) AS BIGINT) AS vi
  FROM events WHERE value IS NOT NULL),
w AS (
  SELECT user_id, hour, value,
         sum(vi) OVER (PARTITION BY user_id, hour) AS s1,
         sum(vi*vi) OVER (PARTITION BY user_id, hour) AS s2,
         count(*) OVER (PARTITION BY user_id, hour) AS n
  FROM b)
SELECT user_id, hour, CAST(count(*) AS BIGINT) AS n,
       round(CAST(max(s1) AS DOUBLE) / (1e3 * CAST(max(n) AS DOUBLE)), 5)
         AS baseline,
       CAST(sum(CASE WHEN n >= 5 AND n*s2 > s1*s1
                AND abs(value - CAST(s1 AS DOUBLE)/(1e3 * CAST(n AS DOUBLE)))
                    > 2 * (sqrt((CAST(s2 AS DOUBLE)
                                 - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)
                                   / CAST(n AS DOUBLE))
                                / (CAST(n AS DOUBLE) - 1)) / 1e3)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
FROM w GROUP BY 1, 2
"""


def q_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test between event type and value tier
    (do event types draw from different value distributions?): the
    contingency table is one grouped aggregate over the fact; margins
    and N are |types|- and |tiers|-row relations broadcast back onto
    the ≤15-cell table, so everything after the first aggregate is
    driver-trivial. Per-cell (O−E)²/E contributions are nano-scaled
    longs before the final sum — a float sum over cells would be
    partial-order-dependent and engine-divergent at the last ulp.
    Emits the statistic, dof = (r−1)(c−1), and cell count."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    tier = (
        F.when(F.col("value") < 50, "low")
        .when(F.col("value") < 150, "mid")
        .otherwise("high")
    )
    observed = (
        ev.groupBy(F.col("event_type"), tier.alias("tier"))
        .agg(F.count(F.lit(1)).alias("o"))
        # r16: the contingency table feeds FOUR consumers (row margins,
        # col margins, N, and the full-grid left join) — un-materialized,
        # each re-ran the whole events scan + aggregate (12 scans in the
        # before plan). The table is <= |types|x|tiers| rows, so one
        # eager checkpoint replaces three redundant corpus passes.
        .localCheckpoint(eager=True)
    )
    rowt = observed.groupBy("event_type").agg(F.sum("o").alias("row_n"))
    colt = observed.groupBy("tier").agg(F.sum("o").alias("col_n"))
    tot = observed.agg(F.sum("o").alias("n_tot"))
    # the FULL r x c grid: a groupBy only materializes observed combos,
    # and a missing cell's (0-E)^2/E = E contribution is NOT zero —
    # dropping empty cells silently understates the statistic (caught by
    # the perfectly-dependent 2x2 hand model, chi2 8 instead of N=16)
    cells = (
        rowt.select("event_type")
        .crossJoin(colt.select("tier"))
        .join(observed, ["event_type", "tier"], "left")
        .withColumn("o", F.coalesce(F.col("o"), F.lit(0).cast("long")))
    )
    e = (
        F.col("row_n").cast("double")
        * F.col("col_n").cast("double")
        / F.col("n_tot").cast("double")
    )
    contrib = (F.col("o").cast("double") - e) * (F.col("o").cast("double") - e) / e
    j = (
        cells.join(F.broadcast(rowt), "event_type")
        .join(F.broadcast(colt), "tier")
        .crossJoin(F.broadcast(tot))
    )
    return j.agg(
        (
            F.round(
                F.sum(F.round(contrib * F.lit(1e9), 0).cast("long")).cast("double")
                / F.lit(1e9)
                * F.lit(1e4),
                0,
            )
            / F.lit(1e4)
        ).alias("chi2"),
        (
            (F.count_distinct("event_type") - 1)
            * (F.count_distinct("tier") - 1)
        ).alias("dof"),
        F.count(F.lit(1)).alias("n_cells"),
    )


_SQL_CHI2 = """
WITH observed AS (
  SELECT event_type,
         CASE WHEN value < 50 THEN 'low'
              WHEN value < 150 THEN 'mid' ELSE 'high' END AS tier,
         CAST(count(*) AS BIGINT) AS o
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
rowt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS row_n
         FROM observed GROUP BY 1),
colt AS (SELECT tier, CAST(sum(o) AS BIGINT) AS col_n FROM observed GROUP BY 1),
tot AS (SELECT CAST(sum(o) AS BIGINT) AS n_tot FROM observed),
cells AS (
  SELECT r.event_type, c.tier, coalesce(ob.o, 0) AS o
  FROM (SELECT event_type FROM rowt) r
  CROSS JOIN (SELECT tier FROM colt) c
  LEFT JOIN observed ob USING (event_type, tier)),
j AS (
  SELECT o,
         CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
           / CAST(n_tot AS DOUBLE) AS e,
         event_type, tier
  FROM cells JOIN rowt USING (event_type) JOIN colt USING (tier), tot)
SELECT round(CAST(sum(CAST(round((CAST(o AS DOUBLE) - e)
                                 * (CAST(o AS DOUBLE) - e) / e * 1e9)
                          AS BIGINT)) AS DOUBLE) / 1e9, 4) AS chi2,
       CAST((count(DISTINCT event_type) - 1)
            * (count(DISTINCT tier) - 1) AS BIGINT) AS dof,
       CAST(count(*) AS BIGINT) AS n_cells
FROM j
"""


# --------------------------------------------------------------------------
# 9. Wave 4 (round 7): linkage / weighted sampling / debounce / entropy /
#    fixed-point PageRank / spatial grid / EWMA / conversion lag
# --------------------------------------------------------------------------


def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc unigram Shannon entropy (information-density quality
    signal; complements repetition_ratio's adjacency-only view). The
    Σ c·log2(c) core is a µ-scaled integer sum inside the operator, so
    the value is partition/engine-deterministic; gate rounds at 4 dp."""
    docs = _tw(spark, sf_dir, "documents")
    out = TX.token_entropy(docs)
    return out.select(
        "doc_id",
        "n_tokens",
        "n_distinct_tokens",
        _r(F.col("token_entropy"), 4).alias("token_entropy"),
    )


_SQL_TOKEN_ENTROPY = r"""
WITH t AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
  FROM documents WHERE trim(text) <> ''),
c AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY doc_id, tok)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_distinct_tokens,
       round(log2(CAST(sum(c) AS DOUBLE))
             - (CAST(sum(CAST(round(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))
                                    * 1e6) AS BIGINT)) AS DOUBLE) / 1e6)
               / CAST(sum(c) AS DOUBLE), 4) AS token_entropy
FROM c GROUP BY doc_id
"""


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weight-biased top-100 corpus sample (per-ROW
    weights = n_chars; cf. mixture_sample's per-group rates). Priority is
    integer-hash / weight — IEEE division is correctly rounded, so the
    ranking is bit-identical in any engine, unlike pow/log A-Res keys."""
    docs = _t(spark, sf_dir, "documents")
    out = weighted_priority_sample(docs, "n_chars", 100)
    return out.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("weight"),
        _r(F.col("priority"), 6).alias("priority"),
    )


_SQL_WEIGHTED_SAMPLE = """
WITH w AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
         CAST(CAST('0x' || substr(md5('wsample|' || CAST(doc_id AS VARCHAR)),
                        1, 8) AS BIGINT) % 2147483647 AS DOUBLE)
           / CAST(n_chars AS DOUBLE) AS pri
  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)
SELECT doc_id, weight, round(pri, 6) AS priority
FROM w ORDER BY pri, doc_id LIMIT 100
"""


def q_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event debouncing (burst suppression): keep first-of-key or >=300s
    after the previous event of the same (user, type) — one lag window,
    exact integer-µs gaps."""
    ev = _t(spark, sf_dir, "events")
    kept = debounce_events(ev, cooldown_seconds=300)
    return kept.select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.col("ts").cast("double") * 1e6, 0).cast("long").alias("ts_us"),
    )


_SQL_DEBOUNCE = """
WITH x AS (
  SELECT event_id, user_id, event_type,
         CAST(round(epoch(ts) * 1e6) AS BIGINT) AS t_us,
         lag(CAST(round(epoch(ts) * 1e6) AS BIGINT)) OVER (
           PARTITION BY user_id, event_type ORDER BY ts, event_id) AS p
  FROM events)
SELECT event_id, user_id, event_type, t_us AS ts_us
FROM x WHERE p IS NULL OR t_us - p >= 300000000
"""


def q_streaming_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The debounce rule as a REAL stateful streaming job
    (applyInPandasWithState, O(1) state: last seen ts per key; availableNow
    + update-mode memory sink). Same oracle as the batch entry — the
    streaming/batch equality law is test-asserted."""
    from ..streaming.replay import run_debounce_batchmode

    prepare_session(spark)
    return run_debounce_batchmode(spark, f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type", "ts_us"
    )


def q_name_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage candidate pairs: distinct part names within a
    blocking key (last token — the noun of 'adjective noun' names) at
    Levenshtein distance <= 3. Blocking is the contract, not a hint:
    the self-join is per-block, never corpus x corpus."""
    part = _t(spark, sf_dir, "part")
    return blocked_edit_distance_pairs(part, "p_name", max_dist=3).select(
        "name_a", "name_b", F.col("edit_dist").cast("long").alias("edit_dist")
    )


_SQL_NAME_MATCH = r"""
WITH n AS (SELECT DISTINCT p_name AS nm FROM part WHERE p_name IS NOT NULL),
b AS (
  SELECT nm,
         list_extract(regexp_split_to_array(trim(nm), '\s+'),
                      len(regexp_split_to_array(trim(nm), '\s+'))) AS blk
  FROM n)
SELECT a.nm AS name_a, c.nm AS name_b,
       CAST(levenshtein(a.nm, c.nm) AS BIGINT) AS edit_dist
FROM b a JOIN b c ON a.blk = c.blk AND a.nm < c.nm
WHERE levenshtein(a.nm, c.nm) <= 3
"""


def q_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Finite-horizon EWMA (alpha=1/2, 8 lags) per user in event order —
    dyadic weights and a fixed fold order make the smoothed value
    bit-identical across engines (see operators.timeseries.ewma_smooth)."""
    ev = _t(spark, sf_dir, "events")
    out = TS.ewma_smooth(ev, horizon=8)
    return out.select(
        "user_id",
        "event_id",
        F.round(F.col("ts").cast("double") * 1e6, 0).cast("long").alias("ts_us"),
        "value",
        _r(F.col("ewma"), 6).alias("ewma"),
    )


def _ewma_sql(horizon: int = 8) -> str:
    num = ["0.0"]
    den = ["0.0"]
    for i in range(horizon):
        x = "value" if i == 0 else f"lag(value, {i}) OVER w"
        wgt = repr(2.0 ** -(i + 1))
        num.append(f"coalesce(({x}) * {wgt}, 0.0)")
        den.append(f"CASE WHEN ({x}) IS NOT NULL THEN {wgt} ELSE 0.0 END")
    ns = " + ".join(num)
    ds = " + ".join(den)
    return f"""
SELECT user_id, event_id,
       CAST(round(epoch(ts) * 1e6) AS BIGINT) AS ts_us, value,
       CASE WHEN ({ds}) > 0 THEN round(({ns}) / ({ds}), 6) END AS ewma
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def q_streaming_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dyadic EWMA as a REAL stateful streaming job
    (applyInPandasWithState; O(horizon) state = trailing values per key;
    availableNow + update-mode memory sink). Same oracle as the batch
    entry — the stream==batch equality is BIT-exact and test-asserted
    (dyadic weights, identical IEEE fold order)."""
    from ..streaming.replay import run_streaming_ewma_batchmode

    prepare_session(spark)
    out = run_streaming_ewma_batchmode(
        spark, f"{sf_dir}/events.parquet", horizon=8
    )
    return out.select(
        "user_id",
        "event_id",
        "ts_us",
        "value",
        _r(F.col("ewma"), 6).alias("ewma"),
    )


def q_event_type_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the event-type transition graph by 3 unrolled power
    iterations in INTEGER fixed point (scale 1e12) — associative integer
    arithmetic end-to-end, so the iterative result is exactly oracle-able
    (a float power iteration's partial-sum order is not)."""
    ev = _t(spark, sf_dir, "events")
    edges = G.edges_from_event_sequence(ev)
    return (
        G.pagerank_fixed_point(edges, iterations=3)
        .select(F.col("node").alias("event_type"), "rank_fp")
    )


def _pagerank_sql(iterations: int = 3) -> str:
    head = """
WITH pairs AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS src,
         event_type AS dst
  FROM events),
e AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w
      FROM pairs WHERE src IS NOT NULL GROUP BY src, dst),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
o AS (SELECT src, CAST(sum(w) AS BIGINT) AS outw FROM e GROUP BY src),
c AS (SELECT count(*) AS n FROM nodes),
i0 AS (SELECT node, CAST(1000000000000 // n AS BIGINT) AS r,
              CAST(150000000000 // n AS BIGINT) AS tele
       FROM nodes, c)"""
    steps = []
    for k in range(1, iterations + 1):
        prev = f"i{k - 1}"
        steps.append(f"""
i{k} AS (
  SELECT {prev}.node, {prev}.tele,
         CAST({prev}.tele + (85 * coalesce(x.cin, 0)) // 100 AS BIGINT) AS r
  FROM {prev} LEFT JOIN (
    SELECT e.dst AS node, CAST(sum((p.r * e.w) // o.outw) AS BIGINT) AS cin
    FROM e JOIN o ON e.src = o.src JOIN {prev} p ON p.node = e.src
    GROUP BY e.dst) x ON x.node = {prev}.node)""")
    return (
        head
        + ","
        + ",".join(steps)
        + f"\nSELECT node AS event_type, r AS rank_fp FROM i{iterations}"
    )


def q_grid_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial hotspot grid: synthesize lon/lat the same way the geofence
    entry does, bucket into 10-degree cells, top-20 densest with distinct
    users — one hash aggregate + TakeOrderedAndProject, integer keys."""
    from ..operators.geo import grid_density

    ev = _t(spark, sf_dir, "events")
    m = F.floor(F.col("value") * 100).cast("long")
    pts = ev.select(
        (F.pmod(m, F.lit(360)) - F.lit(180)).cast("double").alias("lon"),
        (F.pmod(F.col("user_id") * F.lit(37), F.lit(180)) - F.lit(90))
        .cast("double")
        .alias("lat"),
        "user_id",
    )
    return grid_density(
        pts,
        cell_deg=10.0,
        k=20,
        extra_aggs={"n_users": F.count_distinct("user_id")},
    ).select("cell_x", "cell_y", "n_points", "n_users")


_SQL_GRID_DENSITY = """
WITH p AS (
  SELECT ((CAST(floor(value * 100) AS BIGINT) % 360 + 360) % 360) - 180
           AS lon,
         ((user_id * 37) % 180 + 180) % 180 - 90 AS lat,
         user_id
  FROM events),
g AS (SELECT CAST(floor(lon / 10.0) AS BIGINT) AS cell_x,
             CAST(floor(lat / 10.0) AS BIGINT) AS cell_y,
             CAST(count(*) AS BIGINT) AS n_points,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM p GROUP BY 1, 2)
SELECT cell_x, cell_y, n_points, n_users
FROM g ORDER BY n_points DESC, cell_x, cell_y LIMIT 20
"""


def q_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel latency: per purchase, the µs since the user's most recent
    prior 'view'; per purchase-day, exact discrete p50/p90 of that lag.
    Percentiles via rank-at-ceil(p*n) — a DAY-partitioned window, never a
    global sort, and integer µs so the quantile is engine-exact."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    t_us = F.round(F.col("ts").cast("double") * 1e6, 0).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    base = ev.select(
        "user_id",
        "event_type",
        "event_id",
        t_us.alias("t_us"),
        F.last(
            F.when(F.col("event_type") == "view", t_us), ignorenulls=True
        )
        .over(w)
        .alias("lv"),
    )
    p = base.filter(
        (F.col("event_type") == "purchase") & F.col("lv").isNotNull()
    ).select(
        (F.expr("t_us DIV 86400000000") * F.lit(86400)).alias("day_epoch"),
        "event_id",
        (F.col("t_us") - F.col("lv")).alias("lag_us"),
    )
    wd = Window.partitionBy("day_epoch").orderBy("lag_us", "event_id")
    wn = Window.partitionBy("day_epoch")
    r = p.select(
        "day_epoch",
        "lag_us",
        F.row_number().over(wd).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return r.groupBy("day_epoch").agg(
        F.max("n").alias("n_pairs"),
        F.max(
            F.when(F.col("rn") == F.expr("(n + 1) DIV 2"), F.col("lag_us"))
        ).alias("p50_lag_us"),
        F.max(
            F.when(F.col("rn") == F.expr("(9 * n + 9) DIV 10"), F.col("lag_us"))
        ).alias("p90_lag_us"),
    )


_SQL_CONVERSION_LAG = """
WITH b AS (
  SELECT user_id, event_type, event_id,
         CAST(round(epoch(ts) * 1e6) AS BIGINT) AS t_us,
         last_value(CASE WHEN event_type = 'view'
                         THEN CAST(round(epoch(ts) * 1e6) AS BIGINT) END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lv
  FROM events),
p AS (SELECT (t_us // 86400000000) * 86400 AS day_epoch, event_id,
             t_us - lv AS lag_us
      FROM b WHERE event_type = 'purchase' AND lv IS NOT NULL),
r AS (SELECT day_epoch, lag_us,
             row_number() OVER (PARTITION BY day_epoch
                                ORDER BY lag_us, event_id) AS rn,
             count(*) OVER (PARTITION BY day_epoch) AS n
      FROM p)
SELECT day_epoch, CAST(max(n) AS BIGINT) AS n_pairs,
       CAST(max(CASE WHEN rn = (n + 1) // 2 THEN lag_us END) AS BIGINT)
         AS p50_lag_us,
       CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN lag_us END) AS BIGINT)
         AS p90_lag_us
FROM r GROUP BY day_epoch
"""


# --------------------------------------------------------------------------
# 10. Wave 5 (round 7): snapshot diff / SCD2 / survivorship / percentile
#     rank / PMI collocations / fixed-point k-means
# --------------------------------------------------------------------------


def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot reconciliation summary: orders vs a
    deterministically-churned copy (keys %97 removed, %53 price-bumped,
    %89 re-keyed as additions) — per change_type key counts and total
    column changes. The operator's full-outer diff is |churn|-sized."""
    old = _t(spark, sf_dir, "orders")
    base = old.select("o_orderkey", "o_orderstatus", "o_totalprice")
    new = (
        base.filter(F.col("o_orderkey") % 97 != 0)
        .withColumn(
            "o_totalprice",
            F.col("o_totalprice")
            + F.when(F.col("o_orderkey") % 53 == 0, F.lit(1.0)).otherwise(
                F.lit(0.0)
            ),
        )
        .unionByName(
            base.filter(F.col("o_orderkey") % 89 == 0).select(
                (F.col("o_orderkey") + F.lit(1_000_000_000)).alias(
                    "o_orderkey"
                ),
                "o_orderstatus",
                "o_totalprice",
            )
        )
    )
    d = table_diff(
        base, new, ["o_orderkey"], ["o_orderstatus", "o_totalprice"]
    )
    return (
        d.groupBy("change_type")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("n_changed_cols").alias("n_col_changes"),
        )
        .orderBy("change_type")
    )


_SQL_TABLE_DIFF = """
WITH newt AS (
  SELECT o_orderkey, o_orderstatus,
         o_totalprice + CASE WHEN o_orderkey % 53 = 0 THEN 1.0 ELSE 0.0 END
           AS o_totalprice
  FROM orders WHERE o_orderkey % 97 <> 0
  UNION ALL
  SELECT o_orderkey + 1000000000, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 89 = 0),
d AS (
  SELECT CASE WHEN n.o_orderkey IS NULL THEN 'removed'
              WHEN o.o_orderkey IS NULL THEN 'added'
              WHEN (o.o_orderstatus IS DISTINCT FROM n.o_orderstatus)
                OR (o.o_totalprice IS DISTINCT FROM n.o_totalprice)
                THEN 'changed' END AS change_type,
         CASE WHEN o.o_orderkey IS NOT NULL AND n.o_orderkey IS NOT NULL
              THEN CAST(o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                        AS INT)
                 + CAST(o.o_totalprice IS DISTINCT FROM n.o_totalprice
                        AS INT)
              ELSE 0 END AS nc
  FROM orders o FULL OUTER JOIN newt n ON o.o_orderkey = n.o_orderkey)
SELECT change_type, CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(nc) AS BIGINT) AS n_col_changes
FROM d WHERE change_type IS NOT NULL
GROUP BY change_type
"""


def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history build: per-user event_type runs collapsed to
    [valid_from, valid_to) validity intervals with version ordinals —
    one key exchange for change-detection lag + interval lead + cumsum."""
    ev = _t(spark, sf_dir, "events")
    return scd2_intervals(ev, "user_id", "event_type")


_SQL_SCD2 = """
WITH x AS (
  SELECT user_id, event_type, event_id,
         CAST(round(epoch(ts) * 1e6) AS BIGINT) AS t_us,
         lag(event_type) OVER w AS prev,
         lag(1) OVER w AS marker
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
c AS (SELECT user_id, event_type, t_us, event_id FROM x
      WHERE marker IS NULL OR prev IS DISTINCT FROM event_type)
SELECT user_id, event_type, t_us AS valid_from_us,
       lead(t_us) OVER (PARTITION BY user_id ORDER BY t_us, event_id)
         AS valid_to_us,
       CAST(row_number() OVER (PARTITION BY user_id ORDER BY t_us, event_id)
            AS BIGINT) AS version
FROM c
"""


def q_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship merge: per exact-duplicate content cluster, elect the
    golden row (longest text, then lowest id) plus membership stats —
    one content-hash exchange, window election, no join-back."""
    docs = _t(spark, sf_dir, "documents")
    return D.golden_record(docs, rank_cols=("n_chars",))


_SQL_GOLDEN_RECORD = """
WITH k AS (SELECT md5(text) AS content_key, doc_id, n_chars FROM documents),
r AS (SELECT content_key, doc_id, n_chars,
             row_number() OVER (PARTITION BY content_key
                                ORDER BY n_chars DESC, doc_id) AS rn,
             count(*) OVER (PARTITION BY content_key) AS nm,
             min(doc_id) OVER (PARTITION BY content_key) AS mn,
             max(doc_id) OVER (PARTITION BY content_key) AS mx
      FROM k)
SELECT content_key, doc_id AS golden_id, CAST(nm AS BIGINT) AS n_members,
       mn AS min_id, mx AS max_id, n_chars
FROM r WHERE rn = 1
"""


def q_value_percentile_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-group empirical CDF: percent_rank of each reading against
    its event_type's distribution — (rank−1)/(n−1) is pure integer math
    divided once, so it is engine-exact; the window is TYPE-partitioned,
    never global."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value")
    return ev.select(
        "event_id",
        "event_type",
        "value",
        _r(F.percent_rank().over(w), 6).alias("pct_rank"),
    )


_SQL_PCT_RANK = """
SELECT event_id, event_type, value,
       round(percent_rank() OVER (
         PARTITION BY event_type ORDER BY value), 6) AS pct_rank
FROM events
"""


def q_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by document-level PMI over the top-32 vocabulary
    (bounded pair expansion — the scale contract); integer (d_ab, a, b)
    ranking, PMI itself portably rounded."""
    docs = _tw(spark, sf_dir, "documents")
    out = RK.pmi_pairs(docs, vocab_size=32, min_cooc=5, k=50)
    return out.select(
        "a", "b", "d_ab", "d_a", "d_b", _r(F.col("pmi"), 4).alias("pmi")
    )


_SQL_PMI = r"""
WITH toks AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
    FROM documents) WHERE tok <> ''),
dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM toks GROUP BY tok),
vocab AS (SELECT tok, df FROM dfreq ORDER BY df DESC, tok LIMIT 32),
iv AS (SELECT t.doc_id, t.tok FROM toks t JOIN vocab v ON t.tok = v.tok),
pr AS (SELECT a.tok AS a, b.tok AS b
       FROM iv a JOIN iv b ON a.doc_id = b.doc_id AND a.tok < b.tok),
cooc AS (SELECT a, b, CAST(count(*) AS BIGINT) AS d_ab FROM pr GROUP BY a, b),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT a, b, d_ab, va.df AS d_a, vb.df AS d_b,
       round(log2(CAST(d_ab AS DOUBLE)) + log2(CAST(n_docs AS DOUBLE))
             - log2(CAST(va.df AS DOUBLE)) - log2(CAST(vb.df AS DOUBLE)), 4)
         AS pmi
FROM cooc
JOIN vocab va ON cooc.a = va.tok
JOIN vocab vb ON cooc.b = vb.tok
CROSS JOIN n
WHERE d_ab >= 5
ORDER BY d_ab DESC, a, b LIMIT 50
"""


def q_kmeans_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One integer fixed-point Lloyd step: first 8 vectors seed the
    centroids, every vector assigns by exact integer squared distance
    (ties to lowest centroid id), updated centroids emitted as
    floor-divided per-dimension integer means — an ITERATIVE ML
    primitive the gate can hash exactly (see similarity.kmeans_iteration
    for why float Lloyd steps cannot be)."""
    emb = _t(spark, sf_dir, "embeddings")
    seeds = emb.filter(F.col("vec_id") < 8)
    return SIM.kmeans_iteration(emb, seeds)


_SQL_KMEANS = """
WITH u AS (
  SELECT vec_id,
         CAST(round(embedding[CAST(i AS INT)] * 1e6) AS BIGINT) AS qi,
         CAST(i - 1 AS BIGINT) AS dim
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
c AS (SELECT vec_id AS cid, qi, dim FROM u WHERE vec_id < 8),
d AS (SELECT u.vec_id, c.cid, sum((u.qi - c.qi) * (u.qi - c.qi)) AS dist
      FROM u JOIN c ON u.dim = c.dim GROUP BY u.vec_id, c.cid),
a AS (SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cid) AS rn
        FROM d) WHERE rn = 1),
m AS (SELECT a.cid, u.dim, CAST(sum(u.qi) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS n
      FROM u JOIN a ON u.vec_id = a.vec_id GROUP BY a.cid, u.dim)
SELECT cid AS centroid_id, dim,
       CAST(CASE WHEN s >= 0 THEN s // n
                 ELSE -((-s + n - 1) // n) END AS BIGINT) AS q_value,
       n AS n_members
FROM m
"""


# --------------------------------------------------------------------------
# 11. Wave 6 (round 7): skew-safe aggregation / journey paths /
#     time-constrained funnel / dense-rank group top-k
# --------------------------------------------------------------------------


def q_salted_hot_key_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation on an EXTREMELY skewed key (5 event
    types over the whole table — the pathological case where a plain
    groupBy funnels each hot key through one reducer). Results are
    identical to the plain aggregate by construction (operators.skew
    two_stage_agg: decomposable aggs only), which is exactly what the
    oracle asserts: the plain SQL GROUP BY. Value sums run in µ-scaled
    integers so the two-stage merge order cannot move a float bit."""
    ev = _t(spark, sf_dir, "events")
    from ..operators.skew import two_stage_agg

    scaled = ev.withColumn(
        "v_us", F.round(F.col("value") * 1e6, 0).cast("long")
    )
    out = two_stage_agg(
        scaled,
        ["event_type"],
        [
            ("v_us", "sum", "sum_v_us"),
            ("v_us", "count", "n"),
            ("value", "min", "min_v"),
            ("value", "max", "max_v"),
        ],
        salt=32,
    )
    return out.select(
        "event_type",
        F.col("sum_v_us").cast("long").alias("sum_v_us"),
        F.col("n").cast("long").alias("n"),
        "min_v",
        "max_v",
    )


_SQL_SALTED_AGG = """
SELECT event_type,
       CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS sum_v_us,
       CAST(count(value) AS BIGINT) AS n,
       min(value) AS min_v, max(value) AS max_v
FROM events GROUP BY event_type
"""


def q_salted_join_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted large⋈large equi-join (operators.skew.salted_join, salt=8:
    build side replicated map-side, probe side salt-routed) proving the
    equivalence contract the operator documents: the output is
    row-identical to the plain join — which is exactly what the oracle
    asserts via the unsalted SQL JOIN. Post-join aggregate keeps the
    gate row-count bounded; quantity sums are integer-exact."""
    from ..operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    j = salted_join(li, orders, on="o_orderkey", salt=8)
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("qty").alias("sum_qty"),
        )
        .orderBy("o_orderpriority")
    )


_SQL_SALTED_JOIN = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top journey trigrams: the 10 most frequent 3-step event_type
    paths across per-user timelines — ONE key exchange for the two lag
    windows, one path aggregate, TakeOrdered top-k with integer-then-
    lexicographic tie order."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = ev.select(
        F.lag("event_type", 2).over(w).alias("_a"),
        F.lag("event_type", 1).over(w).alias("_b"),
        F.col("event_type").alias("_c"),
    ).filter(F.col("_a").isNotNull())
    return (
        p.groupBy(
            F.concat_ws(">", "_a", "_b", "_c").alias("path")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "path")
        .limit(10)
    )


_SQL_EVENT_PATHS = """
WITH p AS (
  SELECT lag(event_type, 2) OVER w AS a,
         lag(event_type, 1) OVER w AS b,
         event_type AS c
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT a || '>' || b || '>' || c AS path, CAST(count(*) AS BIGINT) AS n
FROM p WHERE a IS NOT NULL
GROUP BY path ORDER BY n DESC, path LIMIT 10
"""


def q_windowed_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-constrained funnel (view → click → purchase, each step
    within 24h of the previous): the chained conditional-min windows of
    funnel_conversion plus per-step deadlines, all in exact integer µs —
    still ONE user_id exchange however many steps, then a 1-row agg."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    day_us = 24 * 3600 * 1_000_000
    w = Window.partitionBy("user_id")
    t_us = F.round(F.col("ts").cast("double") * 1e6, 0).cast("long")
    e = ev.select("user_id", "event_type", t_us.alias("t_us"))
    e = e.withColumn(
        "t1",
        F.min(F.when(F.col("event_type") == "view", F.col("t_us"))).over(w),
    )
    e = e.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("t_us") >= F.col("t1"))
                & (F.col("t_us") <= F.col("t1") + F.lit(day_us)),
                F.col("t_us"),
            )
        ).over(w),
    )
    e = e.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("t_us") >= F.col("t2"))
                & (F.col("t_us") <= F.col("t2") + F.lit(day_us)),
                F.col("t_us"),
            )
        ).over(w),
    )
    n = F.countDistinct("user_id")
    n1 = F.countDistinct(F.when(F.col("t1").isNotNull(), F.col("user_id")))
    n2 = F.countDistinct(F.when(F.col("t2").isNotNull(), F.col("user_id")))
    n3 = F.countDistinct(F.when(F.col("t3").isNotNull(), F.col("user_id")))
    return e.agg(
        n.alias("n_users"),
        n1.alias("n_view"),
        n2.alias("n_view_click_24h"),
        n3.alias("n_full_funnel_24h"),
    )


_SQL_WINDOWED_FUNNEL = """
WITH b AS (
  SELECT user_id, event_type,
         CAST(round(epoch(ts) * 1e6) AS BIGINT) AS t_us
  FROM events),
s1 AS (SELECT *,
         min(CASE WHEN event_type = 'view' THEN t_us END)
           OVER (PARTITION BY user_id) AS t1
       FROM b),
s2 AS (SELECT *,
         min(CASE WHEN event_type = 'click' AND t_us >= t1
                   AND t_us <= t1 + 86400000000 THEN t_us END)
           OVER (PARTITION BY user_id) AS t2
       FROM s1),
s3 AS (SELECT *,
         min(CASE WHEN event_type = 'purchase' AND t_us >= t2
                   AND t_us <= t2 + 86400000000 THEN t_us END)
           OVER (PARTITION BY user_id) AS t3
       FROM s2)
SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(count(DISTINCT CASE WHEN t1 IS NOT NULL THEN user_id END)
            AS BIGINT) AS n_view,
       CAST(count(DISTINCT CASE WHEN t2 IS NOT NULL THEN user_id END)
            AS BIGINT) AS n_view_click_24h,
       CAST(count(DISTINCT CASE WHEN t3 IS NOT NULL THEN user_id END)
            AS BIGINT) AS n_full_funnel_24h
FROM s3
"""


def q_brand_top_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand revenue top-2 with dense_rank TIES KEPT (the rank-based
    sibling of the row_number top-k entries: equal-revenue parts share a
    rank and all survive). Revenue in exact µ-scaled integers so rank
    ties are engine-identical; broadcast dim join, one brand-partitioned
    window over the pre-aggregated (brand, part) frame — never the raw
    fact."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev_us = F.sum(
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1e6, 0
        ).cast("long")
    )
    per = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_partkey")
        .agg(rev_us.alias("rev_us"))
    )
    w = Window.partitionBy("p_brand").orderBy(F.desc("rev_us"))
    return (
        per.withColumn("rnk", F.dense_rank().over(w).cast("long"))
        .filter(F.col("rnk") <= 2)
        .select("p_brand", "p_partkey", "rev_us", "rnk")
    )


_SQL_BRAND_TOP_PARTS = """
WITH per AS (
  SELECT p_brand, p_partkey,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 1e6)
                       AS BIGINT)) AS BIGINT) AS rev_us
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand, p_partkey)
SELECT p_brand, p_partkey, rev_us,
       CAST(dense_rank() OVER (PARTITION BY p_brand ORDER BY rev_us DESC)
            AS BIGINT) AS rnk
FROM per QUALIFY rnk <= 2
"""


# --------------------------------------------------------------------------
# Registry
# --------------------------------------------------------------------------
# wave 7 (round 8): dense linear algebra, n-gram LM, hashing-trick
# features, vocab fit, robust rolling stats, equal-frequency binning,
# label balance, engine-native streaming dedup
# --------------------------------------------------------------------------


def q_embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-quantized upper-triangular Gram matrix XᵀX of the corpus
    embeddings — the PCA/whitening/covariance seed aggregate; see
    operators.linalg.embedding_gram (per-Arrow-batch exact int64 BLAS
    partials, one d²/2-row merge exchange; the corpus never shuffles)."""
    from ..operators.linalg import embedding_gram

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_gram(emb)


_SQL_EMBEDDING_GRAM = """
WITH q AS (
  SELECT vec_id,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS qx,
         generate_subscripts(embedding, 1) - 1 AS i
  FROM embeddings
  WHERE embedding IS NOT NULL
    AND len(list_filter(embedding, x -> x IS NULL)) = 0)
SELECT a.i AS i, b.i AS j, CAST(sum(a.qx * b.qx) AS BIGINT) AS g
FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i
GROUP BY a.i, b.i
"""


def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension quantized min/max/sum/mean of the embedding corpus —
    the feature-normalization statistics pass; see
    operators.linalg.embedding_dim_stats (ONE decomposable dim-keyed
    aggregate, floor-toward−inf integer mean)."""
    from ..operators.linalg import embedding_dim_stats

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_dim_stats(emb)


_SQL_EMBEDDING_DIM_STATS = """
WITH q AS (
  SELECT CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS qx,
         generate_subscripts(embedding, 1) - 1 AS dim
  FROM embeddings
  WHERE embedding IS NOT NULL
    AND len(list_filter(embedding, x -> x IS NULL)) = 0)
SELECT dim, CAST(count(*) AS BIGINT) AS n,
       min(qx) AS min_q, max(qx) AS max_q,
       CAST(sum(qx) AS BIGINT) AS sum_q,
       CAST(CASE WHEN sum(qx) >= 0 THEN sum(qx) // count(*)
                 ELSE -((-sum(qx) + count(*) - 1) // count(*)) END
            AS BIGINT) AS mean_q
FROM q GROUP BY dim
"""


def q_feature_hash_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization (operators.text.feature_hashing,
    256 buckets over the portable MD5 hash family) rolled up to the
    bucket histogram: how many documents and token instances each
    feature bucket carries — the collision-load check run before
    committing a hashed feature width."""
    from ..operators.text import feature_hashing

    docs = _tw(spark, sf_dir, "documents")
    feats = feature_hashing(docs, n_buckets=256)
    return feats.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("cnt").cast("long").alias("total_cnt"),
    )


_SQL_FEATURE_HASH = rf"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                            x -> x <> '')) AS t
  FROM documents WHERE trim(text) <> ''),
b AS (SELECT doc_id,
             {_MD5H31_IN_SQL.format(s="t")} % 256 AS bucket
      FROM toks),
pb AS (SELECT doc_id, bucket, count(*) AS cnt FROM b GROUP BY doc_id, bucket)
SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(cnt) AS BIGINT) AS total_cnt
FROM pb GROUP BY bucket
"""


def q_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean NLL under the corpus' add-one-smoothed bigram
    model — the next rung of the perplexity quality-filter ladder above
    unigram_nll; see operators.ranking.bigram_nll (ln p once per
    DISTINCT bigram into 1e9-scaled longs; integer folds throughout)."""
    docs = _tw(spark, sf_dir, "documents")
    return RK.bigram_nll(docs)


_SQL_BIGRAM_NLL = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS l
  FROM documents),
bi AS (
  SELECT doc_id, unnest(l[1:len(l)-1]) AS a, unnest(l[2:len(l)]) AS b
  FROM toks WHERE len(l) >= 2),
tf AS (SELECT doc_id, a, b, count(*) AS tf FROM bi GROUP BY doc_id, a, b),
cab AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab FROM bi GROUP BY a, b),
ca AS (SELECT a, CAST(sum(c_ab) AS BIGINT) AS c_a FROM cab GROUP BY a),
v AS (SELECT count(DISTINCT t) AS v
      FROM (SELECT unnest(l) AS t FROM toks)),
model AS (
  SELECT cab.a, cab.b,
         CAST(round(ln((c_ab + 1) / CAST(c_a + v.v AS DOUBLE)) * 1e9)
              AS BIGINT) AS lnp
  FROM cab JOIN ca ON cab.a = ca.a CROSS JOIN v),
sc AS (
  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
         CAST(sum(tf * lnp) AS BIGINT) AS ss
  FROM tf JOIN model ON tf.a = model.a AND tf.b = model.b
  GROUP BY doc_id)
SELECT doc_id, n_bigrams,
       round(-CAST(ss AS DOUBLE) / 1e9 / n_bigrams, 6) AS nll
FROM sc
"""


def q_vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source out-of-vocabulary rate against the corpus' own top-500
    token vocabulary (deterministic count-then-token tie order) — the
    tokenizer-fit signal; see operators.ranking.vocab_oov_rate (one
    token aggregate, k-row TakeOrdered vocab broadcast back, one group
    aggregate; integer ppm)."""
    docs = _tw(spark, sf_dir, "documents")
    return RK.vocab_oov_rate(docs, vocab_k=500)


_SQL_VOCAB_OOV = r"""
WITH inst AS (
  SELECT source AS grp,
         unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
  FROM documents),
inst2 AS (SELECT * FROM inst WHERE t <> ''),
counts AS (SELECT t, count(*) AS c FROM inst2 GROUP BY t),
vocab AS (SELECT t, TRUE AS in_vocab FROM counts ORDER BY c DESC, t LIMIT 500)
SELECT grp AS source, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN in_vocab IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       CAST((sum(CASE WHEN in_vocab IS NULL THEN 1 ELSE 0 END) * 1000000)
            // count(*) AS BIGINT) AS oov_ppm
FROM inst2 LEFT JOIN vocab USING (t)
GROUP BY grp
"""


def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing-5 rolling median of each user's readings (discrete
    lower-median on µ-scaled longs — robust denoising, engine-exact);
    see operators.timeseries.rolling_median (one key exchange, O(k)
    rows-bounded window state)."""
    from ..operators.timeseries import rolling_median

    ev = _t(spark, sf_dir, "events")
    out = rolling_median(ev, k=5)
    return out.select(
        "user_id",
        "event_id",
        "n_in_window",
        "median_us",
    )


_SQL_ROLLING_MEDIAN = """
WITH v AS (
  SELECT user_id, event_id, ts,
         CAST(round(value * 1e6) AS BIGINT) AS v_us
  FROM events),
w AS (
  SELECT user_id, event_id,
         list_filter(
           list(v_us) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
           x -> x IS NOT NULL) AS vals
  FROM v)
SELECT user_id, event_id,
       CAST(len(vals) AS BIGINT) AS n_in_window,
       list_sort(vals)[(len(vals) + 1) // 2] AS median_us
FROM w
"""


def q_equi_depth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency quartile binning of readings per event_type
    (feature bucketing / monotone binning for model inputs): ntile(4)
    over the TOTAL (value, event_id) order — deterministic bin edges,
    engine-identical remainder distribution. The window is
    TYPE-partitioned (same shape precedent as value_percentile_rank),
    never global; bin summaries are one decomposable aggregate after."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    v_us = F.round(F.col("value") * 1e6, 0).cast("long")
    b = ev.select(
        "event_type",
        F.ntile(4).over(w).alias("bin"),
        v_us.alias("v_us"),
    )
    return b.groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("v_us").alias("lo_us"),
        F.max("v_us").alias("hi_us"),
    ).select("event_type", F.col("bin").cast("long").alias("bin"), "n", "lo_us", "hi_us")


_SQL_EQUI_DEPTH_BINS = """
WITH b AS (
  SELECT event_type,
         ntile(4) OVER (PARTITION BY event_type ORDER BY value, event_id)
           AS bin,
         CAST(round(value * 1e6) AS BIGINT) AS v_us
  FROM events WHERE value IS NOT NULL)
SELECT event_type, CAST(bin AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n,
       min(v_us) AS lo_us, max(v_us) AS hi_us
FROM b GROUP BY event_type, bin
"""


def q_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-balance report over the document corpus: per-language count,
    integer-ppm share, and 1e9-scaled surprisal −ln(share) — the class
    imbalance audit before sampling weights are chosen. One decomposable
    aggregate plus a broadcast 1-row total; integer share math."""
    docs = _t(spark, sf_dir, "documents")
    per = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("_n"))
    total = per.agg(F.sum("_n").alias("_t"))
    return per.crossJoin(F.broadcast(total)).select(
        "lang",
        F.col("_n").cast("long").alias("n_docs"),
        F.expr("_n * 1000000 DIV _t").alias("share_ppm"),
        F.round(
            F.log(F.col("_t").cast("double") / F.col("_n").cast("double"))
            * F.lit(1e9),
            0,
        )
        .cast("long")
        .alias("surprisal_1e9"),
    )


_SQL_CLASS_BALANCE = """
WITH per AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
t AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM per)
SELECT lang, CAST(n AS BIGINT) AS n_docs,
       CAST((n * 1000000) // t.t AS BIGINT) AS share_ppm,
       CAST(round(ln(CAST(t.t AS DOUBLE) / CAST(n AS DOUBLE)) * 1e9)
            AS BIGINT) AS surprisal_1e9
FROM per CROSS JOIN t
"""


def q_stream_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-native streaming exact dedup through the REAL streaming
    engine (file source → md5 key → dropDuplicatesWithinWatermark →
    append memory sink, availableNow): the emitted distinct content-key
    set equals SELECT DISTINCT md5(text) — which is the oracle. See
    streaming.dedup_stream.run_streaming_window_dedup_batchmode."""
    from ..streaming.dedup_stream import run_streaming_window_dedup_batchmode

    prepare_session(spark)
    return run_streaming_window_dedup_batchmode(
        spark, f"{sf_dir}/documents.parquet"
    )


_SQL_STREAM_WINDOW_DEDUP = """
SELECT DISTINCT md5(text) AS content_key FROM documents
"""


# --------------------------------------------------------------------------
# wave 8 (round 8): autocorrelation, k-fold CV assignment, top-p quality
# selection, dataset card
# --------------------------------------------------------------------------


def q_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson autocorrelation at lags 1-3 minutes of each event_type's
    per-minute floor-mean series — the seasonality probe; see
    operators.timeseries.autocorrelation (exact int64 sufficient
    statistics over ONE equi lag join; the final r is a fixed double
    sequence over identical integers, so it is engine-exact)."""
    from ..operators.timeseries import autocorrelation

    ev = _t(spark, sf_dir, "events")
    m = ev.groupBy(
        "event_type",
        F.floor(F.col("ts").cast("double") / 60).cast("long").alias("m"),
    ).agg(
        F.expr(
            "CAST(sum(CAST(round(value * 1e3) AS BIGINT)) DIV count(*) "
            "AS BIGINT)"
        ).alias("x")
    )
    out = autocorrelation(m, lags=(1, 2, 3))
    return out.select(
        "event_type", "lag", "n_pairs", _r(F.col("acf"), 9).alias("acf")
    )


_SQL_ACF_LAGS = """
WITH m AS (
  SELECT event_type, CAST(floor(epoch(ts) / 60) AS BIGINT) AS m,
         CAST(CAST(sum(CAST(round(value * 1e3) AS BIGINT)) AS BIGINT)
              // count(*) AS BIGINT) AS x
  FROM events GROUP BY event_type, 2),
p AS (
  SELECT a.event_type, l.lag, a.x AS x, b.x AS y
  FROM m a
  CROSS JOIN (VALUES (1), (2), (3)) l(lag)
  JOIN m b ON b.event_type = a.event_type AND b.m = a.m + l.lag),
s AS (
  SELECT event_type, lag, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM p GROUP BY event_type, lag)
SELECT event_type, CAST(lag AS BIGINT) AS lag, n AS n_pairs,
       round(CASE WHEN n >= 2
                   AND (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
                   AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
             THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                         * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
             END, 9) AS acf
FROM s
"""


def q_kfold_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold CV assignment (portable-hash fold per doc —
    stable across runs/engines/corpus growth; see
    operators.etl.kfold_assignment) rolled up per (fold, lang): the
    balance check run before trusting a split."""
    from ..operators.etl import kfold_assignment

    docs = _t(spark, sf_dir, "documents")
    return (
        kfold_assignment(docs, k=5)
        .groupBy("fold", "lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


_SQL_KFOLD = """
SELECT CAST('0x' || substr(md5('kfold|' || CAST(doc_id AS VARCHAR)), 1, 8)
            AS BIGINT) % 5 AS fold,
       lang, CAST(count(*) AS BIGINT) AS n_docs
FROM documents GROUP BY 1, 2
"""


def q_quality_top_p(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-p (nucleus-style) quality selection per source: keep the
    highest-quality documents until the kept set holds half the source's
    total quality mass — the mass-targeted sibling of the count-targeted
    quality_filter_per_lang. All membership math is integer (µ-scaled
    quality, strict cum-before < total/2), so the kept set is
    deterministic and engine-exact; windows are SOURCE-partitioned."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    # r16: same join elimination as quality_filter_per_lang — `source`
    # rides the quality projection instead of a corpus self-join.
    j = TX.quality_score(docs, keep=("source",)).select(
        "doc_id",
        "source",
        F.round(F.col("quality") * F.lit(1e6)).cast("long").alias("qs"),
    )
    w = Window.partitionBy("source").orderBy(F.col("qs").desc(), F.col("doc_id"))
    ranked = j.select(
        "source",
        "doc_id",
        "qs",
        F.sum("qs").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("qs").over(Window.partitionBy("source")).alias("tot"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("cnt"),
    )
    kept_flag = (F.col("cum") - F.col("qs")) * 2 < F.col("tot")
    return ranked.groupBy("source").agg(
        F.max("cnt").cast("long").alias("n_docs"),
        F.sum(F.when(kept_flag, 1).otherwise(0)).cast("long").alias("n_kept"),
        F.expr(
            "CAST(sum(CASE WHEN (cum - qs) * 2 < tot THEN qs ELSE 0 END) "
            "* 1000000 DIV max(tot) AS BIGINT)"
        ).alias("kept_mass_ppm"),
    )


def _quality_top_p_sql() -> str:
    return f"""
WITH qual AS (
  SELECT doc_id, CAST(round(quality * 1e6) AS BIGINT) AS qs
  FROM ({_quality_sql()})),
j AS (
  SELECT d.doc_id, d.source, q.qs
  FROM documents d JOIN qual q USING (doc_id)),
rw AS (
  SELECT source, doc_id, qs,
         sum(qs) OVER (PARTITION BY source ORDER BY qs DESC, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         sum(qs) OVER (PARTITION BY source) AS tot,
         count(*) OVER (PARTITION BY source) AS cnt
  FROM j)
SELECT source, CAST(max(cnt) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN (cum - qs) * 2 < tot THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
       CAST(CASE WHEN max(tot) > 0 THEN
              CAST(sum(CASE WHEN (cum - qs) * 2 < tot THEN qs ELSE 0 END)
                   AS BIGINT) * 1000000 // CAST(max(tot) AS BIGINT)
            END AS BIGINT) AS kept_mass_ppm
FROM rw GROUP BY source
"""


def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dataset card: corpus size, label/source cardinalities,
    token and character totals — the header block of a data card, as one
    decomposable aggregate over the corpus."""
    docs = _t(spark, sf_dir, "documents")
    return docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count_distinct("lang").cast("long").alias("n_langs"),
        F.count_distinct("source").cast("long").alias("n_sources"),
        F.sum(TX.token_count(F.col("text"))).cast("long").alias("total_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


_SQL_DATASET_CARD = r"""
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
         AS total_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
"""


# --------------------------------------------------------------------------
# wave 9 (round 8): market-basket affinity, m-estimate shrinkage
# --------------------------------------------------------------------------


def q_basket_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity over (user, day) baskets of event types:
    for each unordered type pair, basket co-occurrence support and lift
    = (support_ab · N) / (support_a · support_b) — the association
    signal behind recommendation and next-event models.

    Engine-exactness: supports are exact integer counts; lift is ONE
    double division of exact integer products (N·s_ab ≤ ~1e10 · 1e5 —
    in range, and exactly representable well past 2^53 is not needed:
    the PRODUCTS are < 2^63 and converted once). Scale shape: baskets
    are distinct (user, day, type) rows — the pair expansion is bounded
    by |types|² per basket (type vocabulary is small by definition,
    same contract as pmi_pairs); one (user, day) self-join exchange,
    per-type and pair aggregates, N broadcast as one row."""
    ev = _t(spark, sf_dir, "events")
    b = (
        ev.select(
            "user_id",
            F.floor(F.col("ts").cast("double") / 86400).cast("long").alias("day"),
            "event_type",
        )
        .distinct()
        # r16: the basket relation feeds FOUR consumers (N, per-type
        # supports, and both self-join sides) — un-materialized, each
        # re-ran the events scan + the distinct's full shuffle. One
        # eager checkpoint of the post-distinct rows (<= corpus size,
        # spillable) replaces three redundant scan+distinct passes;
        # measured 0.77 -> 0.68 s at sf0.1, outputs exact-equal.
        .localCheckpoint(eager=True)
    )
    n_baskets = b.select("user_id", "day").distinct().agg(
        F.count(F.lit(1)).alias("_n")
    )
    per_type = b.groupBy("event_type").agg(F.count(F.lit(1)).alias("_s"))
    a = b.select("user_id", "day", F.col("event_type").alias("type_a"))
    c = b.select("user_id", "day", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(c, ["user_id", "day"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("_sab"))
    )
    out = (
        pairs.join(
            F.broadcast(per_type.select(F.col("event_type").alias("type_a"),
                                        F.col("_s").alias("_sa"))),
            "type_a",
        )
        .join(
            F.broadcast(per_type.select(F.col("event_type").alias("type_b"),
                                        F.col("_s").alias("_sb"))),
            "type_b",
        )
        .crossJoin(F.broadcast(n_baskets))
    )
    return out.select(
        "type_a",
        "type_b",
        F.col("_sab").cast("long").alias("support"),
        _r(
            (F.col("_sab") * F.col("_n")).cast("double")
            / (F.col("_sa") * F.col("_sb")).cast("double"),
            6,
        ).alias("lift"),
    )


_SQL_BASKET_AFFINITY = """
WITH b AS (
  SELECT DISTINCT user_id, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         event_type
  FROM events),
n AS (SELECT CAST(count(*) AS BIGINT) AS n
      FROM (SELECT DISTINCT user_id, day FROM b)),
pt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS s
       FROM b GROUP BY event_type),
p AS (
  SELECT a.event_type AS type_a, c.event_type AS type_b,
         CAST(count(*) AS BIGINT) AS sab
  FROM b a JOIN b c ON a.user_id = c.user_id AND a.day = c.day
                    AND a.event_type < c.event_type
  GROUP BY 1, 2)
SELECT type_a, type_b, sab AS support,
       round(CAST(sab * n.n AS DOUBLE) / CAST(sa.s * sb.s AS DOUBLE), 6)
         AS lift
FROM p
JOIN pt sa ON sa.event_type = p.type_a
JOIN pt sb ON sb.event_type = p.type_b
CROSS JOIN n
"""


def q_shrunk_group_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m-estimate (Bayesian-shrinkage) per-type means: small groups pull
    toward the global mean with pseudo-count m=100 — the smoothing every
    ranking/rating feed applies before trusting sparse groups. All in
    integer µ-space with floor division: shrunk_us = (sum + m·g) DIV
    (n + m) where g is the floor global mean — deterministic and
    engine-exact, no float accumulation anywhere."""
    ev = _t(spark, sf_dir, "events")
    v_us = F.round(F.col("value") * 1e6, 0).cast("long")
    per = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("_n"), F.sum(v_us).alias("_sum")
    )
    glob = per.agg(
        F.expr("CAST(sum(_sum) DIV sum(_n) AS BIGINT)").alias("_g")
    )
    m = 100
    return per.crossJoin(F.broadcast(glob)).select(
        "event_type",
        F.col("_n").cast("long").alias("n"),
        F.expr("CAST(_sum DIV _n AS BIGINT)").alias("raw_mean_us"),
        F.expr(f"CAST((_sum + {m} * _g) DIV (_n + {m}) AS BIGINT)").alias(
            "shrunk_mean_us"
        ),
    )


_SQL_SHRUNK_MEANS = """
WITH per AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS s
  FROM events GROUP BY event_type),
g AS (SELECT CAST(CAST(sum(s) AS BIGINT) // CAST(sum(n) AS BIGINT) AS BIGINT)
        AS g FROM per)
SELECT event_type, n, CAST(s // n AS BIGINT) AS raw_mean_us,
       CAST((s + 100 * g.g) // (n + 100) AS BIGINT) AS shrunk_mean_us
FROM per CROSS JOIN g
"""


def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-view-maintenance equivalence: per-type aggregate state
    built by folding the events table in THREE chronological increments
    (operators.etl.agg_state_from_batch / merge_agg_state — exact
    integer mergeable state), rendered with the floor mean. The oracle
    is the ONE-SHOT GROUP BY — fold(batches) == rescan is the IVM
    contract, the same equivalence-as-oracle pattern as
    salted_hot_key_agg. At 100 TB this is how a rolling aggregate
    absorbs a daily increment without rescanning history."""
    from ..operators.etl import agg_state_from_batch, merge_agg_state

    ev = _t(spark, sf_dir, "events")
    day = F.floor(F.col("ts").cast("double") / 86400).cast("long")
    bucketed = ev.withColumn("_b", day % 3)
    state = None
    for b in range(3):
        inc = agg_state_from_batch(
            bucketed.filter(F.col("_b") == b), ["event_type"], "value"
        )
        state = merge_agg_state(state, inc)
    return state.select(
        "event_type",
        "n",
        "sum_us",
        "min_us",
        "max_us",
        F.expr("CAST(sum_us DIV n AS BIGINT)").alias("mean_us"),
    )


_SQL_INCREMENTAL_AGG = """
WITH s AS (
  SELECT event_type, CAST(count(value) AS BIGINT) AS n,
         CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS sum_us,
         min(CAST(round(value * 1e6) AS BIGINT)) AS min_us,
         max(CAST(round(value * 1e6) AS BIGINT)) AS max_us
  FROM events GROUP BY event_type)
SELECT event_type, n, sum_us, min_us, max_us,
       CAST(sum_us // n AS BIGINT) AS mean_us
FROM s
"""


# --------------------------------------------------------------------------
# wave 10 (round 8): model-evaluation family — confusion matrix,
# per-class metrics, forecast backtest
# --------------------------------------------------------------------------


def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the language-ID heuristic against the corpus'
    ground-truth lang labels — the evaluation counterpart of the
    `language_id` scoring entry (every classifier shipped over a corpus
    gets this audit). One broadcast-size join on doc_id, one (actual,
    predicted) aggregate."""
    docs = _t(spark, sf_dir, "documents")
    pred = TX.language_id(docs).select("doc_id", "lang_pred")
    return (
        docs.select("doc_id", F.col("lang").alias("actual"))
        .join(pred, "doc_id")
        .groupBy("actual", F.col("lang_pred").alias("predicted"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def _langid_confusion_sql() -> str:
    return f"""
WITH pred AS (SELECT doc_id, lang_pred FROM ({_langid_sql()}))
SELECT d.lang AS actual, p.lang_pred AS predicted,
       CAST(count(*) AS BIGINT) AS n
FROM documents d JOIN pred p USING (doc_id)
GROUP BY d.lang, p.lang_pred
"""


def q_classification_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall/F1 (integer ppm) of the language-ID
    heuristic over the ACTUAL label classes — F1 computed exactly as
    2·TP·10⁶ DIV (2·TP + FP + FN), no float ratios anywhere. The
    matrix is corpus-aggregated first (|classes|² rows), so the metric
    math runs on a frame of trivial size."""
    docs = _t(spark, sf_dir, "documents")
    pred = TX.language_id(docs).select("doc_id", "lang_pred")
    m = (
        docs.select("doc_id", F.col("lang").alias("actual"))
        .join(pred, "doc_id")
        .groupBy("actual", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
        # r16: the matrix feeds THREE consumers (tp / per_actual /
        # per_pred) and each reference re-ran the corpus scan +
        # language_id scoring + join + aggregate. One |classes|²-row
        # materialization runs that pass once (measured ~2.6 s → ~1.5 s
        # deep-warm at sf0.1; values unchanged — integer counts)
        .localCheckpoint(eager=True)
    )
    tp = m.filter(F.col("actual") == F.col("lang_pred")).select(
        F.col("actual").alias("cls"), F.col("n").alias("tp")
    )
    per_actual = m.groupBy("actual").agg(F.sum("n").alias("n_actual"))
    per_pred = m.groupBy("lang_pred").agg(F.sum("n").alias("n_pred"))
    j = (
        per_actual.select(F.col("actual").alias("cls"), "n_actual")
        .join(F.broadcast(tp), "cls", "left")
        .join(
            F.broadcast(per_pred.select(F.col("lang_pred").alias("cls"), "n_pred")),
            "cls",
            "left",
        )
        .select(
            "cls",
            F.coalesce("tp", F.lit(0)).alias("tp"),
            "n_actual",
            F.coalesce("n_pred", F.lit(0)).alias("n_pred"),
        )
    )
    return j.select(
        "cls",
        F.col("tp").cast("long").alias("tp"),
        F.col("n_actual").cast("long").alias("n_actual"),
        F.col("n_pred").cast("long").alias("n_pred"),
        F.expr(
            "CAST(CASE WHEN n_pred > 0 THEN tp * 1000000 DIV n_pred END "
            "AS BIGINT)"
        ).alias("precision_ppm"),
        F.expr("CAST(tp * 1000000 DIV n_actual AS BIGINT)").alias("recall_ppm"),
        F.expr(
            "CAST(CASE WHEN 2 * tp + (n_pred - tp) + (n_actual - tp) > 0 "
            "THEN 2 * tp * 1000000 DIV "
            "(2 * tp + (n_pred - tp) + (n_actual - tp)) ELSE 0 END AS BIGINT)"
        ).alias("f1_ppm"),
    )


def _classification_metrics_sql() -> str:
    return f"""
WITH pred AS (SELECT doc_id, lang_pred FROM ({_langid_sql()})),
m AS (
  SELECT d.lang AS actual, p.lang_pred, count(*) AS n
  FROM documents d JOIN pred p USING (doc_id)
  GROUP BY d.lang, p.lang_pred),
tp AS (SELECT actual AS cls, CAST(n AS BIGINT) AS tp FROM m
       WHERE actual = lang_pred),
pa AS (SELECT actual AS cls, CAST(sum(n) AS BIGINT) AS n_actual
       FROM m GROUP BY actual),
pp AS (SELECT lang_pred AS cls, CAST(sum(n) AS BIGINT) AS n_pred
       FROM m GROUP BY lang_pred)
SELECT pa.cls, coalesce(tp.tp, 0) AS tp, pa.n_actual,
       coalesce(pp.n_pred, 0) AS n_pred,
       CAST(CASE WHEN coalesce(pp.n_pred, 0) > 0
                 THEN coalesce(tp.tp, 0) * 1000000 // pp.n_pred END
            AS BIGINT) AS precision_ppm,
       CAST(coalesce(tp.tp, 0) * 1000000 // pa.n_actual AS BIGINT)
         AS recall_ppm,
       CAST(CASE WHEN 2 * coalesce(tp.tp, 0)
                      + (coalesce(pp.n_pred, 0) - coalesce(tp.tp, 0))
                      + (pa.n_actual - coalesce(tp.tp, 0)) > 0
                 THEN 2 * coalesce(tp.tp, 0) * 1000000
                      // (2 * coalesce(tp.tp, 0)
                          + (coalesce(pp.n_pred, 0) - coalesce(tp.tp, 0))
                          + (pa.n_actual - coalesce(tp.tp, 0)))
                 ELSE 0 END AS BIGINT) AS f1_ppm
FROM pa
LEFT JOIN tp ON tp.cls = pa.cls
LEFT JOIN pp ON pp.cls = pa.cls
"""


def q_ewma_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-step-ahead forecast backtest of the dyadic EWMA: predict each
    reading with the PREVIOUS row's smoothed value (lag of the rounded
    ewma in event order) and report corpus-wide MAE and RMSE — the eval
    loop a forecasting pipeline runs before trusting a smoother. Error
    sums are exact integers (µ for MAE, milli² for the squared sum —
    overflow headroom documented in autocorrelation's convention); the
    final RMSE is one sqrt over identical integers."""
    from pyspark.sql import Window

    from ..operators.timeseries import ewma_smooth

    ev = _t(spark, sf_dir, "events")
    sm = ewma_smooth(ev, horizon=8).select(
        "user_id", "ts", "event_id", "value", _r(F.col("ewma"), 6).alias("ewma_r")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    bt = sm.select(
        "value", F.lag("ewma_r").over(w).alias("pred")
    ).filter(F.col("pred").isNotNull() & F.col("value").isNotNull())
    diff_us = F.round((F.col("value") - F.col("pred")) * 1e6, 0).cast("long")
    diff_ms = F.round((F.col("value") - F.col("pred")) * 1e3, 0).cast("long")
    agg = bt.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.abs(diff_us)).alias("sae_us"),
        F.sum(diff_ms * diff_ms).alias("ssq_ms2"),
    )
    return agg.select(
        F.col("n").cast("long").alias("n_forecasts"),
        F.expr("CAST(sae_us DIV n AS BIGINT)").alias("mae_us"),
        F.col("ssq_ms2").cast("long").alias("ssq_ms2"),
        _r(
            F.sqrt(F.col("ssq_ms2").cast("double") / F.col("n").cast("double")),
            6,
        ).alias("rmse_ms"),
    )


def _ewma_backtest_sql() -> str:
    return f"""
WITH sm AS (
  SELECT user_id, ts_us, event_id, value, ewma AS ewma_r
  FROM ({_ewma_sql(8)})),
bt AS (
  SELECT value,
         lag(ewma_r) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
           AS pred
  FROM sm),
d AS (
  SELECT value, pred,
         CAST(round((value - pred) * 1e6) AS BIGINT) AS diff_us,
         CAST(round((value - pred) * 1e3) AS BIGINT) AS diff_ms
  FROM bt WHERE pred IS NOT NULL AND value IS NOT NULL)
SELECT CAST(count(*) AS BIGINT) AS n_forecasts,
       CAST(CASE WHEN count(*) > 0 THEN
              CAST(sum(abs(diff_us)) AS BIGINT) // count(*)
            END AS BIGINT) AS mae_us,
       CAST(sum(diff_ms * diff_ms) AS BIGINT) AS ssq_ms2,
       round(CASE WHEN count(*) > 0 THEN
               sqrt(CAST(CAST(sum(diff_ms * diff_ms) AS BIGINT) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE))
             END, 6) AS rmse_ms
FROM d
"""


def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the (lang, source) quasi-identifier pair:
    equivalence-class sizes plus an at-risk flag for classes smaller
    than k=5 — the re-identification check a governance pass runs before
    releasing a slice (a 1-document (lang, source) class identifies its
    author's upload). ONE decomposable aggregate; the flag is integer.
    The PII complement of the redaction operator (operators.text
    redact_pii removes direct identifiers; this measures the indirect
    ones)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            "lang",
            "source",
            "n",
            (F.col("n") < 5).cast("long").alias("at_risk"),
        )
    )


_SQL_K_ANONYMITY = """
SELECT lang, source, CAST(count(*) AS BIGINT) AS n,
       CAST(CASE WHEN count(*) < 5 THEN 1 ELSE 0 END AS BIGINT) AS at_risk
FROM documents GROUP BY lang, source
"""


def q_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time attribution against the SCD2 history: every event is
    assigned the dimension VERSION valid at its (ts, event_id) instant,
    rolled up to per-(user, version) event counts — the AS-OF dimension
    lookup every warehouse fact load runs against a type-2 dimension.

    Partially-independent oracle: Spark computes the version WITHOUT
    any join — a running count of attribute changes over ONE
    user-ordered window (version_at(t) ≡ #changes ≤ t, exact under the
    composite (ts, event_id) tie order) — while the DuckDB oracle
    materializes the SCD2 intervals and performs the literal range join
    on lexicographic (t_us, event_id) boundaries. Equal output proves
    the window shortcut == the interval semantics. Caveat (r8 advice):
    BOTH sides derive change points from the same lag(event_type) rule
    (true first row — a lag-over-literal marker, NOT prev IS NULL — or
    prev IS DISTINCT FROM current, so consecutive NULL event_types are
    genuinely ONE version opened by the first NULL), so only the
    assignment half (window cumsum vs interval join) is independently
    formulated; a shared misconception in change DETECTION would pass
    parity. The change rule itself is cross-checked elsewhere:
    scd2_intervals carries its own driver-gated oracle over the same
    rule, test_scd2_lookup_matches_interval_model brute-forces the
    assignment against a row-by-row interval model, and the scd2_apply
    fold law exercises NULL runs end-to-end against the rebuild.
    Plan: one key exchange, no join, no interval explosion."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    first = F.lag(F.lit(1)).over(w).isNull()
    chg = (first | ~prev.eqNullSafe(F.col("event_type"))).cast("long")
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    versioned = ev.select(
        "user_id", F.sum(chg).over(wcum).alias("version")
    )
    return versioned.groupBy("user_id", "version").agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )


_SQL_SCD2_LOOKUP = """
WITH x AS (
  SELECT user_id, event_type, event_id,
         CAST(round(epoch(ts) * 1e6) AS BIGINT) AS t_us,
         lag(event_type) OVER w AS prev,
         lag(1) OVER w AS marker
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
c AS (
  SELECT user_id, t_us AS from_us, event_id AS from_eid,
         lead(t_us) OVER w2 AS to_us,
         lead(event_id) OVER w2 AS to_eid,
         row_number() OVER w2 AS version
  FROM x WHERE marker IS NULL OR prev IS DISTINCT FROM event_type
  WINDOW w2 AS (PARTITION BY user_id ORDER BY t_us, event_id))
SELECT e.user_id, CAST(c.version AS BIGINT) AS version,
       CAST(count(*) AS BIGINT) AS n_events
FROM x e JOIN c ON e.user_id = c.user_id
  AND (e.t_us > c.from_us
       OR (e.t_us = c.from_us AND e.event_id >= c.from_eid))
  AND (c.to_us IS NULL OR e.t_us < c.to_us
       OR (e.t_us = c.to_us AND e.event_id < c.to_eid))
GROUP BY e.user_id, c.version
"""


def q_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 merge-apply (the write half of the dimension load): build
    the dimension from PRE-cutoff history with scd2_intervals, then fold
    the POST-cutoff events in with scd2_apply — expire + insert in one
    pass, closed history untouched.

    Rebuild-from-scratch oracle (fully independent of the apply
    mechanics): the DuckDB side is the one-shot SCD2 build over ALL
    events (_SQL_SCD2 verbatim). Equality proves the incremental fold
    reproduces the full rebuild bit-for-bit — the IVM law for the
    dimension-load operator, same style as incremental_agg."""
    ev = _t(spark, sf_dir, "events")
    cutoff = F.expr("timestamp'2024-01-20 00:00:00'")
    hist = ev.filter(F.col("ts") < cutoff)
    batch = ev.filter(F.col("ts") >= cutoff)
    dim = scd2_intervals(hist, "user_id", "event_type")
    return scd2_apply(dim, batch, "user_id", "event_type")


def q_kmeans_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full k-means fit (k=8, TWO Lloyd iterations) in integer fixed
    point: deterministic lowest-id seeding, exact integer argmin
    assignment, floor-divided centroid means — the convergence loop
    around the oracled single step (similarity.kmeans_fit). The oracle
    unrolls both iterations in SQL, so equality proves the CHAINING
    (cells → arrays → next step) is bit-exact, not just one step.
    early_stop stays on: Lloyd at a fixed point is a no-op, so it
    cannot change the fixed-iteration result."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.kmeans_fit(emb, k=8, iterations=2)


# CTE chain shared by the kmeans_fit oracle and the fitted-IVF oracle
# (knn_ivf_fitted): two unrolled integer Lloyd iterations ending in the
# `cells` relation (centroid_id, dim, q_value, n_members).
_KMEANS_CELLS_CTE = """u AS (
  SELECT vec_id,
         CAST(round(embedding[CAST(i AS INT)] * 1e6) AS BIGINT) AS qi,
         CAST(i - 1 AS BIGINT) AS dim
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
c0 AS (SELECT vec_id AS cid, qi AS qc, dim FROM u
       WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 8)),
d1 AS (SELECT u.vec_id, c0.cid, sum((u.qi - c0.qc) * (u.qi - c0.qc)) AS dist
       FROM u JOIN c0 ON u.dim = c0.dim GROUP BY u.vec_id, c0.cid),
a1 AS (SELECT vec_id, cid FROM (
         SELECT vec_id, cid,
                row_number() OVER (PARTITION BY vec_id
                                   ORDER BY dist, cid) AS rn
         FROM d1) WHERE rn = 1),
m1 AS (SELECT a1.cid, u.dim, CAST(sum(u.qi) AS BIGINT) AS s,
              CAST(count(*) AS BIGINT) AS n
       FROM u JOIN a1 ON u.vec_id = a1.vec_id GROUP BY a1.cid, u.dim),
c1 AS (SELECT cid, dim,
              CAST(CASE WHEN s >= 0 THEN s // n
                   ELSE -((-s + n - 1) // n) END AS BIGINT) AS qc
       FROM m1),
d2 AS (SELECT u.vec_id, c1.cid, sum((u.qi - c1.qc) * (u.qi - c1.qc)) AS dist
       FROM u JOIN c1 ON u.dim = c1.dim GROUP BY u.vec_id, c1.cid),
a2 AS (SELECT vec_id, cid FROM (
         SELECT vec_id, cid,
                row_number() OVER (PARTITION BY vec_id
                                   ORDER BY dist, cid) AS rn
         FROM d2) WHERE rn = 1),
m2 AS (SELECT a2.cid, u.dim, CAST(sum(u.qi) AS BIGINT) AS s,
              CAST(count(*) AS BIGINT) AS n
       FROM u JOIN a2 ON u.vec_id = a2.vec_id GROUP BY a2.cid, u.dim),
cells AS (
  SELECT cid AS centroid_id, dim,
         CAST(CASE WHEN s >= 0 THEN s // n
              ELSE -((-s + n - 1) // n) END AS BIGINT) AS q_value,
         n AS n_members
  FROM m2)"""

_SQL_KMEANS_FIT = (
    "WITH "
    + _KMEANS_CELLS_CTE
    + "\nSELECT centroid_id, dim, q_value, n_members FROM cells"
)


def q_knn_ivf_fitted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over a REAL fitted coarse quantizer — the end-to-end
    composition kmeans_fit → centroid_arrays → ivf_topk(centroids=...)
    (r9 verdict order #5): two integer Lloyd iterations fit k=8
    centroids, the adapter rebuilds them as double arrays, and the IVF
    probe (nprobe=2) runs against them with the corpus never shuffling —
    identical plan shape to `knn_ivf_topk`, but the index is learned
    instead of the %-stride subset. The oracle chains the unrolled
    two-iteration kmeans CTEs (shared with `kmeans_fit`) straight into
    the IVF assignment/probe SQL, so the gate hashes the WHOLE
    composition: fit, adapter layout (dim-ordered, /1e6), assignment,
    probing, and final ranking."""
    emb = _t(spark, sf_dir, "embeddings")
    cells = SIM.kmeans_fit(emb, k=8, iterations=2)
    cents = SIM.centroid_arrays(cells)
    out = SIM.ivf_topk(
        emb, emb.filter(F.col("vec_id") < 8), k=5, nprobe=2, centroids=cents
    )
    return out.select(
        "query_id", "neighbor_id", "rank", _r(F.col("cos"), 5).alias("cos")
    )


_SQL_KNN_IVF_FITTED = (
    "WITH "
    + _KMEANS_CELLS_CTE
    + f""",
cent AS (
  SELECT centroid_id AS cid,
         list(CAST(q_value AS DOUBLE) / 1e6 ORDER BY dim) AS cv
  FROM cells GROUP BY centroid_id),
corp AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ac AS (
  SELECT nid, v, cid, {_COS_SQL.format(a='v', b='cv')} AS cs
  FROM corp CROSS JOIN cent),
assigned AS (
  SELECT nid, v, cid AS cell FROM (
    SELECT nid, v, cid,
           row_number() OVER (PARTITION BY nid ORDER BY cs DESC, cid) AS rn
    FROM ac) WHERE rn = 1),
q AS (
  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 8),
qcs AS (
  SELECT qid, qv, cid, {_COS_SQL.format(a='qv', b='cv')} AS cs
  FROM q CROSS JOIN cent),
probes AS (
  SELECT qid, qv, cid AS cell FROM (
    SELECT qid, qv, cid,
           row_number() OVER (PARTITION BY qid ORDER BY cs DESC, cid) AS rn
    FROM qcs) WHERE rn <= 2),
s AS (
  SELECT qid, nid, {_COS_SQL.format(a='qv', b='v')} AS cos
  FROM probes JOIN assigned USING (cell)
  WHERE qid <> nid),
r AS (
  SELECT qid AS query_id, nid AS neighbor_id, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
  FROM s)
SELECT query_id, neighbor_id, rank, round(cos, 5) AS cos FROM r WHERE rank <= 5
"""
)


def q_knn_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over a PERSISTED coarse quantizer — `knn_ivf_fitted` with
    the fit and the probe decoupled through the model store (r10 verdict
    order #5, the production shape at 100 TB where the nightly fit job
    and the many inference jobs are different processes): kmeans_fit's
    centroid cells are published via sources/models.save_model (one
    atomic versioned snapshot, (k, iterations, scale) stamped) and the
    probe loads them back with load_model(expect_params=...) — a
    stale-hyperparameter quantizer raises at load instead of probing
    silently wrong — then runs centroid_arrays → ivf_topk with the
    corpus never shuffling. Results are identical to the in-job
    composition (store round-trip exactness is separately test-pinned),
    so the oracle is `knn_ivf_fitted`'s unchanged: the gate hashes the
    whole persisted chain — fit, publish, load, adapter, assignment,
    probe, ranking."""
    import tempfile

    from ..sources.models import load_model, save_model

    emb = _t(spark, sf_dir, "embeddings")
    params = {"k": 8, "iterations": 2, "scale": 10**6}
    cells = SIM.kmeans_fit(emb, k=8, iterations=2)
    # ivf_topk COLLECTS the centroids while building the plan, so the
    # returned DataFrame never scans the store — the temp store can be
    # deleted on block exit (gate/bench/parity call this repeatedly;
    # leaked /tmp stores would otherwise accumulate per run)
    with tempfile.TemporaryDirectory(
        prefix="w4h_centroid_model_", ignore_cleanup_errors=True
    ) as store:
        save_model(spark, store, cells, params)
        loaded, _ = load_model(spark, store, expect_params=params)
        out = SIM.ivf_topk(
            emb,
            emb.filter(F.col("vec_id") < 8),
            k=5,
            nprobe=2,
            centroids=SIM.centroid_arrays(loaded),
        )
    return out.select(
        "query_id", "neighbor_id", "rank", _r(F.col("cos"), 5).alias("cos")
    )


def _synthetic_url() -> F.Column:
    """Deterministic URL built from documents columns (the table has no
    URL field): varies scheme, userinfo, a www{k} subdomain, single- vs
    multi-part public suffix, and an explicit port by doc_id residues —
    every branch of the host parser and the eTLD+1 heuristic gets
    exercised. Mirrored verbatim in _SQL_URL_CTE."""
    d = F.col("doc_id")
    return F.concat(
        F.when(d % 3 == 0, F.lit("https")).otherwise(F.lit("http")),
        F.lit("://"),
        F.when(d % 5 == 0, F.lit("crawler@")).otherwise(F.lit("")),
        F.lit("www"),
        (d % 7).cast("string"),
        F.lit("."),
        F.col("source"),
        F.element_at(
            F.array(
                F.lit(".com"), F.lit(".co.uk"), F.lit(".org"), F.lit(".com.au")
            ),
            (d % 4 + 1).cast("int"),
        ),
        F.when(d % 6 == 0, F.lit(":8443")).otherwise(F.lit("")),
        F.lit("/"),
        F.col("lang"),
        F.lit("/doc/"),
        d.cast("string"),
    )


_SQL_URL_CTE = """
u AS (
  SELECT doc_id, lang, source, n_chars,
         (CASE WHEN doc_id % 3 = 0 THEN 'https' ELSE 'http' END) || '://' ||
         (CASE WHEN doc_id % 5 = 0 THEN 'crawler@' ELSE '' END) ||
         'www' || CAST(doc_id % 7 AS VARCHAR) || '.' || source ||
         (CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN '.com' WHEN 1 THEN '.co.uk'
               WHEN 2 THEN '.org' ELSE '.com.au' END) ||
         (CASE WHEN doc_id % 6 = 0 THEN ':8443' ELSE '' END) ||
         '/' || lang || '/doc/' || CAST(doc_id AS VARCHAR) AS url
  FROM documents),
h AS (
  SELECT doc_id, n_chars,
         lower(NULLIF(regexp_extract(url,
           '^[a-z]+://(?:[^/@]*@)?([^/:?#]+)', 1), '')) AS host
  FROM u),
hs AS (
  -- shost: trailing root dots (FQDN form, incl. malformed repeats)
  -- stripped before label splitting, mirroring registrable_domain (the
  -- emitted host stays unstripped; synthetic URLs never carry one —
  -- kept aligned with the operator)
  SELECT doc_id, n_chars, host, regexp_replace(host, '\\.+$', '') AS shost
  FROM h),
d AS (
  SELECT doc_id, n_chars, host,
         CASE WHEN shost IS NULL THEN NULL
              WHEN len(string_split(shost, '.')) <= 2 THEN shost
              WHEN (string_split(shost, '.')[-2] || '.' ||
                    string_split(shost, '.')[-1]) IN
                   ('co.uk','org.uk','ac.uk','gov.uk','me.uk','net.uk',
                    'com.au','net.au','org.au','edu.au','gov.au',
                    'co.jp','or.jp','ne.jp','ac.jp','go.jp',
                    'co.in','net.in','org.in','gen.in','firm.in',
                    'co.nz','net.nz','org.nz',
                    'com.br','net.br','org.br',
                    'com.cn','net.cn','org.cn','gov.cn',
                    'com.mx','com.sg','com.tr','com.tw','com.hk',
                    'co.za','co.kr','or.kr')
              THEN string_split(shost, '.')[-3] || '.' ||
                   string_split(shost, '.')[-2] || '.' ||
                   string_split(shost, '.')[-1]
              ELSE string_split(shost, '.')[-2] || '.' ||
                   string_split(shost, '.')[-1] END AS domain
  FROM hs)
"""


def q_domain_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL → host → registrable-domain extraction (web.url_host /
    registrable_domain over a deterministic synthetic URL), rolled up to
    per-(domain, host) document counts — the very first groupBy a web
    corpus pipeline runs. Pure JVM expressions (try_parse_url + split);
    the DuckDB oracle re-derives the host with a regexp and the eTLD+1
    with list indexing — an independent formulation of both halves."""
    from ..operators import web as WEB

    docs = _t(spark, sf_dir, "documents")
    with_url = docs.withColumn("url", _synthetic_url())
    return (
        with_url.select(
            WEB.registrable_domain(WEB.url_host(F.col("url"))).alias("domain"),
            WEB.url_host(F.col("url")).alias("host"),
        )
        .groupBy("domain", "host")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


_SQL_DOMAIN_EXTRACT = (
    "WITH "
    + _SQL_URL_CTE
    + """
SELECT domain, host, CAST(count(*) AS BIGINT) AS n_docs
FROM d GROUP BY domain, host
"""
)


# Suffix table for the broadcast-PSL gate entry: the vendored file plus
# two synthetic-corpus depth-3 rules so LONGEST-match beats the co.uk /
# com.au depth-2 rules on some hosts (src{k} are documents.source values)
_PSL_SUFFIX_CACHE: list[str] | None = None


def _psl_query_suffixes() -> list[str]:
    # read the vendored file ONCE (it is consumed both at registry build
    # and inside q_registrable_domain_psl)
    global _PSL_SUFFIX_CACHE
    if _PSL_SUFFIX_CACHE is None:
        from ..operators.web import load_public_suffixes

        _PSL_SUFFIX_CACHE = load_public_suffixes() + [
            "src7.com.au",
            "src3.co.uk",
        ]
    return list(_PSL_SUFFIX_CACHE)


def q_wav_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio binary-column round-trip through the REAL pure-stdlib WAV
    codec (operators/audiocodec.py): deterministic PCM per document
    (channels/rate/frame-count/bit-depth vary by doc_id residues, bit
    depths 16/24/32 all exercised) is ENCODED to RIFF/WAVE bytes and
    DECODED back inside Arrow kernels, emitting exact per-channel
    integer stats (n, peak, Σ|s|, Σs², first/last sample). The DuckDB
    oracle never sees WAV bytes — it re-derives every sample from the
    same integer recurrence — so a green hash proves the encoder's
    chunk layout, alignment, interleaving and width handling and the
    decoder's parsing are jointly bit-exact. Map-side end to end."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    wav = MM.attach_audio_payload(docs)
    return MM.decode_audio_stats(wav)


_SQL_WAV_SYNTH = """
p AS (
  SELECT doc_id, 1 + doc_id % 2 AS ch,
         CAST(8000 + 1000 * (doc_id % 4) AS INT) AS rate,
         64 + doc_id % 64 AS nf
  FROM documents),
smp AS (
  SELECT p.doc_id, p.ch, p.rate, p.nf, ff.f AS f, cc.c AS c,
         (p.doc_id * 7919 + (ff.f * p.ch + cc.c) * 104729) % 65536
           - 32768 AS s
  FROM p, unnest(range(0, p.nf)) AS ff(f), unnest([0, 1]) AS cc(c)
  WHERE cc.c < p.ch)
"""

_SQL_WAV_STATS = (
    "WITH "
    + _SQL_WAV_SYNTH
    + """
SELECT doc_id, CAST(c AS INT) AS channel, rate AS sample_rate,
       CAST(nf AS BIGINT) AS n_samples,
       CAST(max(abs(s)) AS BIGINT) AS peak,
       CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
       CAST(sum(s * s) AS BIGINT) AS sum_sq,
       CAST(max(CASE WHEN f = 0 THEN s END) AS BIGINT) AS first_s,
       CAST(max(CASE WHEN f = nf - 1 THEN s END) AS BIGINT) AS last_s
FROM smp GROUP BY doc_id, c, rate, nf
"""
)


def q_audio_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed audio energy (Σs² over 16-frame windows, channels
    summed) over decoded WAV payloads — the VAD/silence-trim feature
    pass, run through the same encode→decode round-trip as
    `wav_decode_stats` (same formula-derived oracle pattern: DuckDB
    recomputes window energies straight from the PCM recurrence). The
    tail window's true frame count is emitted, so short-tail handling
    is gated too."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    wav = MM.attach_audio_payload(docs)
    return MM.audio_frame_energy(wav, window_frames=16)


_SQL_AUDIO_ENERGY = (
    "WITH "
    + _SQL_WAV_SYNTH
    + """
SELECT doc_id, CAST(f // 16 AS BIGINT) AS window_idx,
       CAST(count(DISTINCT f) AS BIGINT) AS n_frames,
       CAST(sum(s * s) AS BIGINT) AS energy
FROM smp GROUP BY doc_id, f // 16
"""
)


def q_video_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video binary-column round-trip through the REAL pure-stdlib Y4M
    codec (operators/videocodec.py): deterministic planar frames per
    document (dimensions/frame-count/colorspace vary by doc_id
    residues; even docs are Cmono, odd C420jpeg, so both plane layouts
    are exercised) are ENCODED to a YUV4MPEG2 stream and DECODED back
    inside Arrow kernels, emitting exact per-frame integer stats (luma
    sum/sum-sq/min/max + chroma plane sums). The DuckDB oracle never
    sees Y4M bytes — it re-derives every pixel from the same integer
    recurrence — so a green hash proves the encoder's header/FRAME
    layout and plane ordering and the decoder's parsing are jointly
    bit-exact. Map-side end to end; completes the image/audio/VIDEO
    multimodal triple."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    vid = MM.attach_video_payload(docs)
    return MM.video_frame_stats(vid)


_SQL_VIDEO_SYNTH = """
p AS (
  SELECT doc_id, 16 + 4 * (doc_id % 3) AS w, 12 + 2 * (doc_id % 5) AS h,
         3 + doc_id % 5 AS n, doc_id % 2 = 1 AS has_chroma
  FROM documents),
ypx AS (
  SELECT p.doc_id, p.w, p.h, ff.f,
         (p.doc_id * 31 + ff.f * 7919 + rr.r * 13 + cc.c * 3) % 256 AS y
  FROM p,
       unnest(range(0, p.n)) AS ff(f),
       unnest(range(0, p.h)) AS rr(r),
       unnest(range(0, p.w)) AS cc(c)),
cpx AS (
  SELECT p.doc_id, ff.f,
         (p.doc_id * 17 + ff.f * 104729 + rr.r * 11 + cc.c * 5) % 256 AS cb,
         (p.doc_id * 23 + ff.f * 7 + rr.r * 19 + cc.c * 29) % 256 AS cr
  FROM p,
       unnest(range(0, p.n)) AS ff(f),
       unnest(range(0, p.h // 2)) AS rr(r),
       unnest(range(0, p.w // 2)) AS cc(c)
  WHERE p.has_chroma)
"""

_SQL_VIDEO_STATS = (
    "WITH "
    + _SQL_VIDEO_SYNTH
    + """
SELECT y.doc_id, CAST(y.f AS INT) AS frame_idx,
       CAST(max(y.w) AS INT) AS width, CAST(max(y.h) AS INT) AS height,
       CAST(sum(y.y) AS BIGINT) AS y_sum,
       CAST(sum(y.y * y.y) AS BIGINT) AS y_sq,
       CAST(min(y.y) AS INT) AS y_min, CAST(max(y.y) AS INT) AS y_max,
       CAST(coalesce(max(c.cb_sum), 0) AS BIGINT) AS cb_sum,
       CAST(coalesce(max(c.cr_sum), 0) AS BIGINT) AS cr_sum
FROM ypx y
LEFT JOIN (
  SELECT doc_id, f, sum(cb) AS cb_sum, sum(cr) AS cr_sum
  FROM cpx GROUP BY doc_id, f
) c ON y.doc_id = c.doc_id AND y.f = c.f
GROUP BY y.doc_id, y.f
"""
)


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML→text extraction (web.html_extract — pure JVM regexp Column
    pipeline, zero Python, one codegen stage): each document's text is
    entity-ESCAPED and wrapped into a full deterministic page (head +
    title, style and script blocks that must vanish, a comment, heading
    and body paragraphs, an entity-bearing paragraph covering all six
    decoded entities, three countable anchors — one split by a newline,
    one self-closing ``<a/>`` — plus a DECOY anchor inside the script
    block that block-drop-aware counting must ignore) and the extractor
    must recover the title, the anchor count, and the exact visible
    text. The DuckDB oracle never parses HTML — it computes the
    EXPECTED extraction straight from the raw text column — so a green
    hash proves block-dropping, tag-stripping, single-pass entity
    decoding (&amp; last) and whitespace collapsing jointly invert the
    page construction."""
    from ..operators import web as WEB

    docs = _t(spark, sf_dir, "documents")
    esc = F.replace(F.col("text"), F.lit("&"), F.lit("&amp;"))
    esc = F.replace(esc, F.lit("<"), F.lit("&lt;"))
    esc = F.replace(esc, F.lit(">"), F.lit("&gt;"))
    sid = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<html>\n <head>\n  <title> Doc '), sid, F.lit("\n</title>"),
        F.lit('<style type="text/css">p { margin: 0; }</style></head>'),
        F.lit("<body><!-- auto\n generated -->"),
        F.lit('<h1 class="t">Doc '), sid, F.lit("</h1><p>"), esc,
        F.lit('</p><script>var s = "<p>hidden</p> <a href=/x>no</a>";</script>'),
        F.lit("<p>R&amp;D &lt;ok&gt; A&nbsp;B &#39;q&#39; &quot;z&quot;</p>"),
        F.lit('<a href="https://ex.com/'), sid, F.lit('">first</a> <a\nhref="#">second</a><a/>'),
        F.lit("</body></html>"),
    )
    pages = docs.select(F.col("doc_id"), html.alias("html"))
    return WEB.html_extract(pages)


def q_replay_wraparound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O7 wrap-around replay (stream_sim.py:60-61's loop flag, r10
    verdict order #6 — the last local-only streaming behavior gets a
    driver hash): a day-coarsened ReplaySource over events (30 distinct
    stamps, batch_size=7, loop=True) is driven ceil(D/7)+3 batches —
    strictly PAST end-of-data — and each real batch DataFrame the
    cursor emits is aggregated to (rows, distinct stamps, first/last
    day). The final cycle ends in a SHORT batch (D mod 7 stamps) and
    the next batch restarts at day 1, so the hash pins both the
    truncate-at-end and the wrap-to-zero semantics. The DuckDB oracle
    is pure modular arithmetic over the ranked distinct days: batch i
    covers ranks [(i mod ceil(D/7))·7, +min(7, D−start)) — it never
    sees the cursor. Driver traffic is the O(D) day index; each batch
    is a pushed-down range filter on the parquet scan."""
    from ..streaming.replay import ReplaySource

    ev = _t(spark, sf_dir, "events")
    # DATE cursor (DuckDB's date_trunc('day') is a DATE — keep types
    # aligned so the driver hash compares like with like)
    evd = ev.withColumn("_day", F.col("ts").cast("date"))
    src = ReplaySource(evd, ts_col="_day", batch_size=7, loop=True)
    cycle = -(-len(src) // 7)
    parts = []
    for i, b in enumerate(src.batches(limit=cycle + 3)):
        parts.append(
            b.agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.countDistinct("_day").cast("long").alias("n_stamps"),
                F.min("_day").alias("first_day"),
                F.max("_day").alias("last_day"),
            ).withColumn("batch_idx", F.lit(i).cast("int"))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select("batch_idx", "n_rows", "n_stamps", "first_day", "last_day")


_SQL_REPLAY_WRAP = """
WITH days AS (
  SELECT date_trunc('day', ts) AS d, count(*) AS n
  FROM events GROUP BY 1),
idx AS (
  SELECT d, n, row_number() OVER (ORDER BY d) - 1 AS r FROM days),
p AS (SELECT count(*) AS dd, (count(*) + 6) // 7 AS cyc FROM days),
b AS (
  SELECT CAST(t.i AS INT) AS batch_idx,
         (t.i % p.cyc) * 7 AS start,
         least(7, p.dd - (t.i % p.cyc) * 7) AS cnt
  FROM p, unnest(range(0, p.cyc + 3)) AS t(i))
SELECT b.batch_idx,
       CAST(sum(idx.n) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_stamps,
       min(idx.d) AS first_day,
       max(idx.d) AS last_day
FROM b JOIN idx ON idx.r >= b.start AND idx.r < b.start + b.cnt
GROUP BY b.batch_idx
"""


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + URL-level dedup rollup
    (web.canonicalize_url / url_dedup_groups) — the normalization a
    crawl runs before its frontier dedup: deterministic NOISY urls
    (case-varied hosts, credentials, scheme-consistent default /
    non-default / INVALID ports, doubled slashes + trailing slash,
    percent-encoded unreserved and reserved octets, tracking params in
    shuffled order with a content-bearing 'ref' survivor, fragments —
    all varying by doc_id residues and deliberately COLLIDING across
    docs once canonicalized) group under their canonical key with the
    lowest doc_id kept; invalid-port docs group under the NULL key. The
    DuckDB oracle re-derives canonicalization INDEPENDENTLY — regexp
    part extraction instead of try_parse_url, list_filter/list_sort
    instead of Column array ops, strpos-in-hex-alphabet arithmetic +
    chr() instead of conv/char for the percent pass — so a green hash
    proves the normalization semantics, not the parser."""
    from ..operators import web as WEB

    noisy = _t(spark, sf_dir, "documents").select(
        F.col("doc_id"), _noisy_crawl_url().alias("url")
    )
    return WEB.url_dedup_groups(noisy)


def _noisy_crawl_url() -> F.Column:
    """The deterministic noisy-URL generator shared by
    `url_canonicalize` (batch frontier rollup) and `stream_url_frontier`
    (streaming frontier dedup) — mirrored verbatim in the oracle's `nu`
    CTE (_URL_CANON_CTE)."""
    d = F.col("doc_id")
    return F.concat(
        F.when(d % 3 == 0, F.lit("https")).otherwise(F.lit("http")),
        F.lit("://"),
        F.when(d % 5 == 0, F.lit("crawler:pw@")).otherwise(F.lit("")),
        F.when(d % 2 == 0, F.lit("WWW.Src")).otherwise(F.lit("www.src")),
        (d % 4).cast("string"),
        F.lit(".com"),
        F.when((d % 3 == 0) & (d % 2 == 0), F.lit(":443"))
        .when((d % 3 != 0) & (d % 5 == 1), F.lit(":80"))
        .when((d % 3 != 0) & (d % 11 == 3), F.lit(":99999"))
        .when((d % 3 != 0) & (d % 7 == 2), F.lit(":8080"))
        .otherwise(F.lit("")),
        F.lit("/p"),
        (d % 5).cast("string"),
        F.when(d % 4 == 0, F.lit("//x/")).otherwise(F.lit("/x")),
        # percent matrix: %41≡A and %7e≡~ decode (unreserved), %2f
        # uppercases to %2F but stays encoded — residue pairs collide
        # exactly when the normalized forms agree
        F.element_at(
            F.array(
                F.lit("/%41"),
                F.lit("/A"),
                F.lit("/%7e"),
                F.lit("/~"),
                F.lit("/a%2fb"),
                F.lit("/a%2Fb"),
            ),
            (d % 6 + 1).cast("int"),
        ),
        # query matrix: variants 1, 2 and 5 collide once utm_* drops
        # and %32 decodes to '2'; variant 4 keeps its content-bearing
        # 'ref' param (bare ref is NOT in the default strip set)
        F.element_at(
            F.array(
                F.lit("?utm_source=f&b=2&a=1"),
                F.lit("?b=2&a=1"),
                F.lit(""),
                F.lit("?ref=m&b=2&a=1&utm_x=1"),
                F.lit("?b=%32&a=1"),
            ),
            (d % 7 % 5 + 1).cast("int"),
        ),
        F.when(d % 2 == 0, F.lit("#s")).otherwise(F.lit("")),
    )


def _pct_sql(col: str) -> str:
    """DuckDB re-derivation of web._pct_normalize for the oracle —
    deliberately a DIFFERENT mechanism: strpos-in-hex-alphabet
    arithmetic + chr() over split segments instead of Spark's
    conv/char, so a green hash proves the normalization semantics
    rather than echoing one implementation."""
    code = (
        "((strpos('0123456789ABCDEF', upper(x[1:1])) - 1) * 16 + "
        "(strpos('0123456789ABCDEF', upper(x[2:2])) - 1))"
    )
    # both coalesces matter: string_split('')[1] is NULL, and DuckDB's
    # array_to_string([], '') is NULL (not '')
    return f"""(coalesce(string_split({col}, '%')[1], '')
  || coalesce(array_to_string(list_transform(string_split({col}, '%')[2:], x ->
    CASE WHEN regexp_matches(x, '^[0-9A-Fa-f]{{2}}')
      THEN CASE WHEN ({code} BETWEEN 48 AND 57)
                  OR ({code} BETWEEN 65 AND 90)
                  OR ({code} BETWEEN 97 AND 122)
                  OR {code} IN (45, 46, 95, 126)
        THEN chr(CAST({code} AS INT)) || x[3:]
        ELSE '%' || upper(x[1:2]) || x[3:] END
      ELSE '%' || x END), ''), ''))"""


# Shared oracle derivation for url_canonicalize / stream_url_frontier:
# per-doc canonical_url, independently re-derived (see _pct_sql).
_URL_CANON_CTE = f"""
WITH nu AS (
  SELECT doc_id,
    (CASE WHEN doc_id % 3 = 0 THEN 'https' ELSE 'http' END) || '://' ||
    (CASE WHEN doc_id % 5 = 0 THEN 'crawler:pw@' ELSE '' END) ||
    (CASE WHEN doc_id % 2 = 0 THEN 'WWW.Src' ELSE 'www.src' END) ||
    CAST(doc_id % 4 AS VARCHAR) || '.com' ||
    (CASE WHEN doc_id % 3 = 0 AND doc_id % 2 = 0 THEN ':443'
          WHEN doc_id % 3 <> 0 AND doc_id % 5 = 1 THEN ':80'
          WHEN doc_id % 3 <> 0 AND doc_id % 11 = 3 THEN ':99999'
          WHEN doc_id % 3 <> 0 AND doc_id % 7 = 2 THEN ':8080'
          ELSE '' END) ||
    '/p' || CAST(doc_id % 5 AS VARCHAR) ||
    (CASE WHEN doc_id % 4 = 0 THEN '//x/' ELSE '/x' END) ||
    (['/%41', '/A', '/%7e', '/~', '/a%2fb', '/a%2Fb'
     ])[CAST(doc_id % 6 AS INT) + 1] ||
    (['?utm_source=f&b=2&a=1', '?b=2&a=1', '', '?ref=m&b=2&a=1&utm_x=1',
      '?b=%32&a=1'])[CAST(doc_id % 7 % 5 AS INT) + 1] ||
    (CASE WHEN doc_id % 2 = 0 THEN '#s' ELSE '' END) AS url
  FROM documents),
parts AS (
  SELECT doc_id,
    lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS proto,
    regexp_replace(regexp_extract(url,
        '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1), '^[^@]*@', '') AS hostport,
    regexp_extract(url,
        '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS rawpath,
    regexp_extract(url, '^[^#]*\\?([^#]*)', 1) AS rawq
  FROM nu),
pn AS (
  SELECT doc_id, proto, hostport,
    {_pct_sql('rawpath')} AS dpath,
    {_pct_sql('rawq')} AS dq
  FROM parts),
p2 AS (
  SELECT doc_id, proto,
    regexp_replace(lower(regexp_replace(hostport, ':[0-9]+$', '')),
                   '\\.+$', '') AS host,
    regexp_extract(hostport, ':([0-9]+)$', 1) AS rawport,
    TRY_CAST(regexp_extract(hostport, ':0*([0-9]{{1,5}})$', 1) AS INT) AS port,
    CASE WHEN regexp_replace(regexp_replace(dpath, '/{{2,}}', '/', 'g'),
                             '/$', '') = ''
         THEN '/'
         ELSE regexp_replace(regexp_replace(dpath, '/{{2,}}', '/', 'g'),
                             '/$', '') END AS path,
    array_to_string(list_sort(list_filter(string_split(dq, '&'),
      x -> x <> '' AND NOT regexp_matches(regexp_extract(x, '^([^=]*)', 1),
        '(?i)^(utm_[a-z0-9_]+|gclid|fbclid|msclkid|dclid|mc_eid|mc_cid|igshid|ref_src|_ga|yclid)$'
      ))), '&') AS query
  FROM pn),
canon AS (
  SELECT doc_id,
    CASE WHEN rawport <> ''
              AND (port IS NULL OR port < 1 OR port > 65535)
         THEN NULL
         ELSE proto || '://' || host ||
           (CASE WHEN port IS NOT NULL
                      AND NOT ((proto = 'http' AND port = 80)
                               OR (proto = 'https' AND port = 443))
                 THEN ':' || CAST(port AS VARCHAR) ELSE '' END) ||
           path ||
           (CASE WHEN query <> '' THEN '?' || query ELSE '' END)
    END AS canonical_url
  FROM p2)
"""

_SQL_URL_CANON = _URL_CANON_CTE + """
SELECT canonical_url,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS keep_id
FROM canon GROUP BY 1
"""

# streaming frontier twin: dropDuplicatesWithinWatermark emits one row
# per distinct canonical key (which duplicate wins is micro-batch-order
# dependent, so only the KEY SET is projected — the stream_window_dedup
# oracle pattern)
_SQL_STREAM_URL_FRONTIER = _URL_CANON_CTE + """
SELECT DISTINCT canonical_url FROM canon
"""


def q_stream_url_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming URL-frontier dedup through the REAL streaming engine
    (file source → canonicalize_url as the frontier key →
    dropDuplicatesWithinWatermark → append memory sink, availableNow):
    the emitted distinct canonical-key set equals the batch DISTINCT of
    the independently re-derived canonicalization — which is the
    oracle. Ties the r11 web-curation work to the streaming stack; see
    streaming.dedup_stream.run_streaming_url_frontier_batchmode."""
    from ..streaming.dedup_stream import run_streaming_url_frontier_batchmode

    prepare_session(spark)
    return run_streaming_url_frontier_batchmode(
        spark, f"{sf_dir}/documents.parquet", _noisy_crawl_url()
    )


def q_ranking_model_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-NLL quality scoring against a PERSISTED reference model —
    the 'nightly fit, many scorers' production shape (r11 verdict order
    #6): the add-one-smoothed term-count model is built on the TRUSTED
    SNAPSHOT slice only (doc_id % 3 == 0), published through the model
    store (sources/models.save_model — atomic versioned snapshot with
    the tokenizer/smoothing hyperparameters stamped), and the ingest
    slice (doc_id % 3 != 0) is scored by a DIFFERENT logical job that
    loads it back with load_model(expect_params=...) — a scorer pointed
    at a model fitted under different hyperparameters RAISES at load
    instead of scoring silently wrong. The oracle rebuilds the snapshot
    model and the ingest scores from scratch in SQL, so the gate hashes
    the whole persisted chain: build, publish, load, validate, score.
    Out-of-vocabulary ingest terms drop via the inner model join both
    sides (documents made only of unseen terms vanish — the scorer's
    contract, documented at operators.ranking.unigram_nll)."""
    import tempfile

    from ..sources.models import load_model, save_model

    docs = _tw(spark, sf_dir, "documents")
    snapshot = docs.filter(F.col("doc_id") % 3 == 0)
    ingest = docs.filter(F.col("doc_id") % 3 != 0)
    params = {
        "kind": "unigram_counts",
        "smoothing": "add_one",
        "tokenizer": "ws_lower",
    }
    counts = (
        snapshot.select(
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("term")
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    with tempfile.TemporaryDirectory(
        prefix="w4h_ranking_model_", ignore_cleanup_errors=True
    ) as store:
        save_model(spark, store, counts, params)
        loaded, _ = load_model(spark, store, expect_params=params)
        # pin the vocab-sized model in memory so the returned plan never
        # scans the (about-to-be-deleted) temp store — the same
        # lifetime discipline as q_knn_ivf_persisted's collected
        # centroids
        frozen = loaded.localCheckpoint(eager=True)
    return RK.unigram_nll(ingest, term_counts=frozen)


def _attach_warc_payload(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, content: binary) with a REAL encoded WARC blob per row
    (sources/warc.py): a warcinfo record plus 1 + id%3 HTTP response
    records whose URI/status/content-type/body all derive from integer
    formulas of (id, record index); even ids gzip each record into its
    own member (the Common Crawl layout), odd ids stay plain — one pass
    exercises both container layouts, mixed record types, and the HTTP
    payload split. The multimodal attach_audio_payload pattern applied
    to the crawl-archive container."""
    from pyspark.sql import types as T

    from ..sources import warc as W

    schema = T.StructType(
        [docs.schema[id_col], T.StructField("content", T.BinaryType())]
    )

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for d in pdf[id_col]:
                d = int(d)
                recs = [
                    W.encode_warc_record(
                        "warcinfo",
                        b"software: w4h-spark\r\n",
                        content_type="application/warc-fields",
                    )
                ]
                for r in range(1, 1 + d % 3 + 1):
                    body = b"x" * (10 + (d * 31 + r * 17) % 50)
                    status = 200 if (d + r) % 7 else 404
                    ct = "text/html" if r % 2 == 1 else "text/plain"
                    http = (
                        f"HTTP/1.1 {status} OK\r\nContent-Type: {ct}\r\n"
                        f"Content-Length: {len(body)}\r\n\r\n"
                    ).encode() + body
                    recs.append(
                        W.encode_warc_record(
                            "response",
                            http,
                            target_uri=f"http://d{d % 100}.example/p{r}",
                            content_type="application/http;msgtype=response",
                        )
                    )
                rows.append(
                    (d, W.encode_warc(recs, gzip_members=(d % 2 == 0)))
                )
            yield pd.DataFrame(rows, columns=[id_col, "content"])

    return docs.select(id_col).mapInPandas(synth, schema)


def q_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC crawl-archive extraction through the REAL pure-stdlib codec
    (sources/warc.py — encode → parse round-trip inside Arrow kernels,
    plain AND per-record-gzip layouts, warcinfo + HTTP response records,
    status/content-type lift and body split): the formula-derived-oracle
    pattern the media codecs use — DuckDB never sees WARC bytes, it
    re-derives every record's URI, status, content type, body length
    and body md5 from the same integer formulas, so a green hash proves
    record framing, gzip member chaining, header parsing and the HTTP
    payload split are jointly exact. Map-side end to end."""
    from ..sources import warc as W

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    recs = W.warc_records(_attach_warc_payload(docs))
    return recs.select(
        "doc_id",
        "record_idx",
        "warc_type",
        "target_uri",
        "http_status",
        F.col("http_content_type").alias("content_type"),
        F.col("n_payload_bytes").alias("body_len"),
        F.md5("payload").alias("body_md5"),
    )


_SQL_WARC_EXTRACT = r"""
WITH p AS (SELECT doc_id, 1 + doc_id % 3 AS nrec FROM documents),
resp AS (
  SELECT doc_id, CAST(r AS INT) AS record_idx,
         'response' AS warc_type,
         'http://d' || CAST(doc_id % 100 AS VARCHAR) || '.example/p'
           || CAST(r AS VARCHAR) AS target_uri,
         CAST(CASE WHEN (doc_id + r) % 7 <> 0 THEN 200 ELSE 404 END
              AS INT) AS http_status,
         CASE WHEN r % 2 = 1 THEN 'text/html' ELSE 'text/plain' END
           AS content_type,
         CAST(10 + (doc_id * 31 + r * 17) % 50 AS BIGINT) AS body_len,
         md5(repeat('x', CAST(10 + (doc_id * 31 + r * 17) % 50 AS INT)))
           AS body_md5
  FROM p, unnest(range(1, nrec + 1)) AS t(r)),
info AS (
  SELECT doc_id, CAST(0 AS INT) AS record_idx, 'warcinfo' AS warc_type,
         CAST(NULL AS VARCHAR) AS target_uri,
         CAST(NULL AS INT) AS http_status,
         CAST(NULL AS VARCHAR) AS content_type,
         CAST(21 AS BIGINT) AS body_len,
         md5('software: w4h-spark' || chr(13) || chr(10)) AS body_md5
  FROM documents)
SELECT * FROM info UNION ALL SELECT * FROM resp
"""


_SQL_RANKING_MODEL_SCORES = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
  FROM documents),
counts AS (
  SELECT term, CAST(count(*) AS BIGINT) AS c
  FROM toks WHERE doc_id % 3 = 0 GROUP BY term),
stats AS (SELECT CAST(sum(c) AS BIGINT) AS t, count(*) AS v FROM counts),
model AS (
  SELECT term, CAST(round(ln((c + 1) / (s.t + s.v)) * 1e9) AS BIGINT) AS lnp
  FROM counts CROSS JOIN stats s),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM toks WHERE doc_id % 3 <> 0 GROUP BY doc_id, term),
sc AS (
  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         CAST(sum(tf * lnp) AS BIGINT) AS ss
  FROM tf JOIN model USING (term) GROUP BY doc_id)
SELECT doc_id, n_tokens,
       round(-CAST(ss AS DOUBLE) / 1e9 / n_tokens, 6) AS nll
FROM sc
"""


# IDNA gate vectors: (unicode host, publicly documented punycode form).
# The oracle maps each literal to its KNOWN ASCII form via CASE — the
# formula-derived-oracle pattern the media codecs use: DuckDB cannot
# punycode, and it doesn't need to, because the expected values are
# pinned by the RFC/IANA record (xn--bcher-kva is RFC 3492's sample,
# xn--zckzah the IANA Japanese test TLD, xn--p1ai the real .рф ccTLD,
# xn--mnchen-3ya.de widely documented), not recomputed by the code
# under test.
_IDNA_VECTORS: list[tuple[str, str | None]] = [
    ("bücher.example", "xn--bcher-kva.example"),
    ("例え.テスト", "xn--r8jz45g.xn--zckzah"),
    ("www.BÜCHER.example.", "www.xn--bcher-kva.example"),
    ("münchen.de", "xn--mnchen-3ya.de"),
    ("кто.рф", "xn--j1ail.xn--p1ai"),
    ("plain.example.com", "plain.example.com"),
    ("xn--bcher-kva.example", "xn--bcher-kva.example"),  # idempotent
    ("a" * 64 + ".com", None),  # over-long label -> NULL
    # every label legal (63 octets) but the joined name breaks RFC
    # 1035's 253-octet hostname cap (4*63 + 3 dots = 255) -> NULL
    (".".join(c * 63 for c in "abcd"), None),
]


def q_idna_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDNA/punycode host normalization (web.idna_ascii_hosts — the
    Arrow-batched stdlib-idna kernel) driver-gated over fixed published
    vectors: each document picks one of the _IDNA_VECTORS hosts by doc_id
    residue (unicode, mixed-label, FQDN-dotted, already-punycode,
    pure-ASCII, and an over-long-label host that must map to NULL), the
    kernel normalizes, and the result rolls up per (host, ascii_host).
    A green hash proves lowercase/dot-strip/per-label encode/rejection
    semantics against the RFC-pinned expected forms."""
    from ..operators import web as WEB

    hosts = _t(spark, sf_dir, "documents").select(
        F.col("doc_id"),
        F.element_at(
            F.array(*[F.lit(h) for h, _ in _IDNA_VECTORS]),
            (F.col("doc_id") % len(_IDNA_VECTORS) + 1).cast("int"),
        ).alias("host"),
    )
    out = WEB.idna_ascii_hosts(hosts)
    return out.groupBy("host", "ascii_host").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


# robots.txt politeness gate vectors (r13; the idna_hosts fixed-vector
# pattern): literal robots bodies whose verdicts are derived BY HAND
# from RFC 9309 — the oracle CASE-maps each (host, path) combination to
# its RFC-derived verdict and never parses robots.txt, so a green hash
# proves group selection (exact product token beats '*'), longest-match
# precedence with the allow tie-break, '$' anchoring against
# path+query, '*' wildcards, percent-encoding equivalence (a raw-é URL
# must hit a %-spelled rule), the empty-body/NULL-body/no-row
# trichotomy, and the crawl-delay lift — against hand-derived truth.
_ROBOTS_GATE_HOSTS: list[tuple[str, str | None]] = [
    # longest-match + allow-beats-disallow + '*'-group crawl-delay
    # fallback for an exact-token caller
    (
        "a.com",
        "User-agent: *\nDisallow: /private/\nAllow: /private/pub/\n"
        "Crawl-delay: 2.5\n",
    ),
    # percent-spelled rule vs raw-é URL, wildcard-query rule, '$' anchor
    # that must NOT match once a query string is present
    (
        "b.com",
        "User-agent: *\nDisallow: /caf%c3%a9\nDisallow: /*?sid=\n"
        "Disallow: /exact$\n",
    ),
    # empty body: the RFC's allow-everything statement (NOT default_allow)
    ("c.com", ""),
    # NULL body: failed fetch, rules UNKNOWN -> caller's default_allow
    ("d.com", None),
    # exact product-token group wins over '*' (which would allow), and
    # the exact group's crawl-delay beats the '*' one
    (
        "e.com",
        "User-agent: w4hbot\nDisallow: /\nCrawl-delay: 7\n\n"
        "User-agent: *\nAllow: /\nCrawl-delay: 1\n",
    ),
    # f.example carries NO robots row at all (absent from the table)
]
_ROBOTS_GATE_PATHS = [
    "/",
    "/private/pub/x",
    "/private/x",
    "/café",
    "/exact?sid=9",
]


def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 robots politeness filter (web.robots_filter — per-host
    bodies parsed once by an Arrow kernel, rule arrays broadcast onto
    the URL stream, verdict = pure-Column longest-match fold) gated
    over fixed hand-derived vectors: each document synthesizes one URL
    from a (host, path) residue pair over _ROBOTS_GATE_HOSTS ×
    _ROBOTS_GATE_PATHS (plus the no-robots-row host f.example), and the
    filter runs as crawler ``w4hbot`` with the crawl-delay lift. The
    oracle maps each combination to its RFC-derived verdict via CASE —
    it never parses robots.txt."""
    from ..operators import web as WEB

    hosts = [h for h, _ in _ROBOTS_GATE_HOSTS] + ["f.example"]
    urls = _t(spark, sf_dir, "documents").select(
        F.col("doc_id"),
        F.concat(
            F.lit("http://"),
            F.element_at(
                F.array(*[F.lit(h) for h in hosts]),
                (F.col("doc_id") % len(hosts) + 1).cast("int"),
            ),
            F.element_at(
                F.array(*[F.lit(pth) for pth in _ROBOTS_GATE_PATHS]),
                (F.col("doc_id") % len(_ROBOTS_GATE_PATHS) + 1).cast("int"),
            ),
        ).alias("url"),
    )
    robots = spark.createDataFrame(
        _ROBOTS_GATE_HOSTS, "host string, robots_txt string"
    )
    out = WEB.robots_filter(
        urls, robots, user_agent="w4hbot", delay_col="crawl_delay"
    )
    return out.select(
        "doc_id",
        "url",
        F.col("allowed").cast("long").alias("allowed_i"),
        F.col("crawl_delay"),
    )


def _robots_gate_sql() -> str:
    hosts = [h for h, _ in _ROBOTS_GATE_HOSTS] + ["f.example"]
    bad = [x for x in hosts + _ROBOTS_GATE_PATHS if "'" in x]
    if bad:
        raise ValueError(f"robots gate vectors unsafe for SQL: {bad!r}")
    harr = ", ".join(f"'{h}'" for h in hosts)
    parr = ", ".join(f"'{pth}'" for pth in _ROBOTS_GATE_PATHS)
    # the verdict table, BY HAND from RFC 9309 (hi = host index, pi =
    # path index; crawler token w4hbot):
    #  hi 0 a.com   — blocks only pi 2 (/private/x): /private/ matches;
    #                 pi 1 is saved by the LONGER Allow: /private/pub/;
    #                 delay 2.5 from the '*' group (token fallback)
    #  hi 1 b.com   — blocks pi 3 (/café ≡ /caf%c3%a9 after the shared
    #                 percent-normalization) and pi 4 (/*?sid= wildcard
    #                 reaches into the query; /exact$ must NOT match
    #                 because the target carries ?sid=9); no delay
    #  hi 2 c.com   — empty body: allow everything, no delay
    #  hi 3 d.com   — NULL body: rules unknown -> default_allow=True
    #  hi 4 e.com   — exact w4hbot group (Disallow: /) beats the '*'
    #                 Allow group: block EVERYTHING; delay 7 (exact
    #                 group's, not the '*' group's 1)
    #  hi 5 f.example — no robots row: default_allow=True, no delay
    return f"""
WITH u AS (
  SELECT doc_id,
         CAST(doc_id % {len(hosts)} AS INT) AS hi,
         CAST(doc_id % {len(_ROBOTS_GATE_PATHS)} AS INT) AS pi
  FROM documents)
SELECT doc_id,
       'http://' || ([{harr}])[hi + 1] || ([{parr}])[pi + 1] AS url,
       CAST(CASE
              WHEN hi = 0 THEN CASE WHEN pi = 2 THEN 0 ELSE 1 END
              WHEN hi = 1 THEN CASE WHEN pi IN (3, 4) THEN 0 ELSE 1 END
              WHEN hi = 4 THEN 0
              ELSE 1
            END AS BIGINT) AS allowed_i,
       CAST(CASE WHEN hi = 0 THEN 2.5 WHEN hi = 4 THEN 7.0 END
            AS DOUBLE) AS crawl_delay
FROM u
"""


def _idna_sql(vectors: list[tuple[str, str | None]]) -> str:
    bad = [h for h, a in vectors if "'" in h or (a and "'" in a)]
    if bad:
        raise ValueError(f"IDNA vectors unsafe for SQL literals: {bad!r}")
    arr = ", ".join(f"'{h}'" for h, _ in vectors)
    cases = "\n".join(
        f"        WHEN '{h}' THEN " + (f"'{a}'" if a is not None else "NULL")
        for h, a in vectors
    )
    return f"""
WITH hx AS (
  SELECT doc_id,
         ([{arr}])[CAST(doc_id % {len(vectors)} AS INT) + 1] AS host
  FROM documents),
m AS (
  SELECT doc_id, host,
      CASE host
{cases}
      END AS ascii_host
  FROM hx)
SELECT host, ascii_host, CAST(count(*) AS BIGINT) AS n_docs
FROM m GROUP BY host, ascii_host
"""


_SQL_HTML_EXTRACT = """
WITH exp AS (
  SELECT doc_id,
         trim(regexp_replace(
           'Doc ' || doc_id || ' ' || text ||
           ' R&D <ok> A B ''q'' "z" first second',
           '\\s+', ' ', 'g')) AS text
  FROM documents)
SELECT doc_id, 'Doc ' || doc_id AS title, CAST(3 AS INT) AS n_links,
       text, CAST(length(text) AS BIGINT) AS n_chars
FROM exp
"""


def q_registrable_domain_psl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """eTLD+1 via the BROADCAST public-suffix lookup arm
    (web.registrable_domain_psl over the vendored PSL subset plus two
    depth-3 rules): candidate tail suffixes join a broadcast rule table
    per depth, longest listed rule wins, unlisted TLDs fall back to
    last-two-labels — the production path when the rule table is too
    big for an `isin` literal. Rolled up to per-(domain, host) counts
    like `domain_extract`, whose literal-arm results this refines. The
    DuckDB oracle re-derives the match from the SAME rule list with a
    genuinely different shape: lateral-unnest candidate depths, join on
    (suffix, depth), take max depth per doc, then window-free CASE
    arithmetic on label slices."""
    from ..operators import web as WEB

    docs = _t(spark, sf_dir, "documents")
    hosts = docs.select(
        F.col("doc_id"),
        WEB.url_host(_synthetic_url()).alias("host"),
    )
    out = WEB.registrable_domain_psl(hosts, suffixes=_psl_query_suffixes())
    return out.groupBy("domain", "host").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


def _psl_sql(suffixes: list[str]) -> str:
    # suffixes are spliced into SQL literals; guard against a future PSL
    # entry breaking the oracle string (an explicit raise, not assert —
    # the guard must survive python -O)
    bad = [s for s in suffixes if "'" in s or "\\" in s]
    if bad:
        raise ValueError(f"PSL suffixes unsafe for SQL literals: {bad!r}")
    values = ", ".join(f"('{s}')" for s in suffixes)
    return (
        "WITH "
        + _SQL_URL_CTE
        + f""",
sfx AS (
  SELECT lower(s) AS sfx, len(string_split(lower(s), '.')) AS d
  FROM (VALUES {values}) AS t(s)
  WHERE len(string_split(s, '.')) BETWEEN 2 AND 5
  GROUP BY 1, 2),
hb AS (
  SELECT doc_id, host, shost, string_split(shost, '.') AS ls,
         len(string_split(shost, '.')) AS n
  FROM hs),
cand AS (
  SELECT hb.doc_id, dd.d AS d,
         array_to_string(ls[n - dd.d + 1:n], '.') AS sufcand
  FROM hb, unnest([2, 3, 4, 5]) AS dd(d)
  WHERE shost IS NOT NULL AND n >= dd.d),
mt AS (
  SELECT c.doc_id, CAST(max(c.d) AS INT) AS dd
  FROM cand c JOIN sfx ON c.sufcand = sfx.sfx AND c.d = sfx.d
  GROUP BY c.doc_id),
dom AS (
  SELECT hb.doc_id, hb.host,
         CASE WHEN hb.host IS NULL THEN NULL
              WHEN n <= 2 THEN shost
              WHEN mt.dd IS NULL THEN array_to_string(ls[n - 1:n], '.')
              WHEN n >= mt.dd + 1 THEN array_to_string(ls[n - mt.dd:n], '.')
              ELSE shost END AS domain
  FROM hb LEFT JOIN mt ON hb.doc_id = mt.doc_id)
SELECT domain, host, CAST(count(*) AS BIGINT) AS n_docs
FROM dom GROUP BY domain, host
"""
    )


def q_domain_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain rate cap (web.domain_cap_sample): at most 3 documents
    per registrable domain, highest n_chars first, ties to the lowest
    doc_id — run through the SALTED two-stage top-k (salt_buckets=4) so
    the exactness law 'salted == unsalted' is itself driver-gated: the
    oracle is the plain one-window formulation."""
    from ..operators import web as WEB

    docs = _t(spark, sf_dir, "documents")
    with_url = docs.withColumn("url", _synthetic_url())
    return WEB.domain_cap_sample(
        with_url,
        url_col="url",
        quality_col="n_chars",
        cap=3,
        id_col="doc_id",
        salt_buckets=4,
    ).select("doc_id", "domain", "domain_rank", "n_chars")


_SQL_DOMAIN_CAP = (
    "WITH "
    + _SQL_URL_CTE
    + """
SELECT doc_id, domain, CAST(rn AS BIGINT) AS domain_rank, n_chars
FROM (SELECT doc_id, domain, n_chars,
             row_number() OVER (PARTITION BY domain
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM d)
WHERE rn <= 3
"""
)


def q_ols_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user OLS trend slope of readings against event rank — the
    parametric twin of spearman_trend (that one asks "is there a
    monotone trend", this one "how steep is the linear one"). Sufficient
    statistics (n, Σx, Σy, Σxy, Σx²) are exact int64 over rank-indexed
    milli-scaled values; the slope is a fixed double sequence over
    identical integers (autocorrelation's convention). Degenerate keys
    (n < 2 or zero x-variance) emit NULL. ONE key exchange shared by
    the rank window and the aggregate."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    xy = ev.select(
        "user_id",
        (F.row_number().over(w) - 1).cast("long").alias("_x"),
        F.round(F.col("value") * 1e3, 0).cast("long").alias("_y"),
    )
    agg = xy.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_x").alias("sx"),
        F.sum("_y").alias("sy"),
        F.sum(F.col("_x") * F.col("_y")).alias("sxy"),
        F.sum(F.col("_x") * F.col("_x")).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ).cast("double")
    den = nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ).cast("double")
    slope = F.when((F.col("n") >= 2) & (den > 0), num / den)
    return agg.select(
        "user_id",
        F.col("n").cast("long").alias("n"),
        _r(slope, 9).alias("slope_m_per_step"),
    )


_SQL_OLS_SLOPE = """
WITH xy AS (
  SELECT user_id,
         CAST(row_number() OVER (
           PARTITION BY user_id ORDER BY ts, event_id) - 1 AS BIGINT) AS x,
         CAST(round(value * 1e3) AS BIGINT) AS y
  FROM events),
s AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM xy GROUP BY user_id)
SELECT user_id, n,
       round(CASE WHEN n >= 2
                   AND (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
             THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             END, 9) AS slope_m_per_step
FROM s
"""


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the top-4 BPE merges from the documents corpus
    (operators/bpe.py — the tokenizer-training op of an LLM data
    pipeline). Spark applies each merge with a sequential FOLD over the
    word's symbol array (F.aggregate, shuffle-free); the DuckDB oracle
    unrolls all 4 steps with a genuinely different closed form for the
    greedy non-overlap rule (gaps-and-islands over match streaks: a
    streak of consecutive matches only arises when left==right, and
    greedy keeps the odd offsets) — equal merge tables prove the fold
    == the interval semantics through FOUR chained vocabulary rewrites,
    not just one step. One corpus-sized shuffle total (the word-count
    vocab); every later stage is vocabulary-sized."""
    from ..operators.bpe import bpe_learn

    return bpe_learn(_t(spark, sf_dir, "documents"), n_merges=4)


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with its own fitted BPE merges — the ENCODE
    half of the tokenizer (q_bpe_merges is the fit): fit 4 merges, apply
    all of them to the word-frequency vocabulary, and emit the top-50
    subword token frequencies (ties broken by token, so the cut is
    deterministic and SQL-replayable). The oracle rewrites the
    vocabulary through the same 4 chained steps with the independent
    gaps-and-islands closed form, then aggregates tokens — so the fold's
    OUTPUT SEQUENCES (not just the merge table) are externally gated.
    Same scale profile as the fit: one corpus shuffle, then
    vocabulary-sized stages only."""
    from ..operators.bpe import bpe_encode

    return bpe_encode(_t(spark, sf_dir, "documents"), n_merges=4, k=50)


# Fixed inference-time merge table for q_bpe_segment: plausible English
# subword merges, deliberately CHAINED (step 2 consumes step 1's output
# symbol) so the oracle proves table-order application, not just
# independent single merges.
_SEGMENT_MERGES: list[tuple[str, str]] = [
    ("t", "h"),
    ("th", "e"),
    ("i", "n"),
    ("a", "n"),
    ("e", "r"),
]


def q_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment every document under a FIXED merge table — the
    apply-at-inference half of the tokenizer (operators/bpe.py
    bpe_segment; bpe_learn ships the table, this consumes it). Emits one
    row per document with a word: token count, the first three tokens,
    and the last token — order-sensitive projections, so the gate hashes
    the Arrow kernel's per-word segmentation AND the positional
    reassembly join, not just a bag of token counts. The DuckDB oracle
    chains the same five merges through the gaps-and-islands closed form
    with CONSTANT pair CTEs (no pair counting), segments the distinct
    word dictionary, and re-joins the per-document word stream by
    position — independently re-deriving both halves of the operator's
    scale shape (dictionary-sized kernel, corpus-sized order-restoring
    join). Reference analog: the tokenize-on-read hooks of
    import_hub_main.py's mapping pipeline (script/import_hub_main.py:34),
    re-expressed as a corpus operator.

    The merge table travels through the MODEL STORE (r10 verdict order
    #5): it is published via sources/models.save_model (one atomic
    versioned snapshot, params stamped) and read back with
    load_model(expect_params=...) before segmenting — the production
    shape where the fit job ships the table and tokenize-on-read jobs
    consume it across sessions; the gate therefore hashes the persisted
    path, not an in-memory list. The oracle is unchanged: the store
    round-trips the table exactly (fit→save→load→apply equivalence is
    separately test-pinned)."""
    import tempfile

    from ..operators.bpe import MERGES_SCHEMA, bpe_segment
    from ..sources.models import load_model, save_model

    # the table is COLLECTED inside the block, so the plan never scans
    # the store — it is deleted on exit (this entry runs 3× per bench)
    with tempfile.TemporaryDirectory(
        prefix="w4h_bpe_model_", ignore_cleanup_errors=True
    ) as store:
        save_model(
            spark,
            store,
            spark.createDataFrame(
                [(i + 1, l, r, 0) for i, (l, r) in enumerate(_SEGMENT_MERGES)],
                MERGES_SCHEMA,
            ),
            {"n_merges": len(_SEGMENT_MERGES)},
        )
        loaded, _ = load_model(
            spark, store, expect_params={"n_merges": len(_SEGMENT_MERGES)}
        )
        table = [
            (r["left_sym"], r["right_sym"])
            for r in loaded.orderBy("merge_rank").collect()
        ]
    seg = bpe_segment(_t(spark, sf_dir, "documents"), table)
    return seg.select(
        "doc_id",
        F.size("tokens").cast("long").alias("n_tokens"),
        F.concat_ws(" ", F.slice("tokens", 1, 3)).alias("head_tokens"),
        F.element_at("tokens", -1).alias("last_token"),
    )


def _bpe_segment_sql(merges: list[tuple[str, str]]) -> str:
    """Fixed-table segmentation oracle: the distinct-word dictionary is
    rewritten through ``len(merges)`` chained constant-pair steps (same
    gaps-and-islands CTEs as the fit oracles, argmax replaced by the
    shipped table), then joined back to the per-document positional word
    stream and flattened in reading order."""
    n = len(merges)
    return (
        _bpe_cte(_bpe_steps(n, fixed=merges))
        + f""",
dw AS (
  SELECT doc_id, unnest([{{'pos': i, 'word': ws[i]}}
                         for i in range(1, len(ws) + 1)]) AS e
  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
        FROM documents)),
dwp AS (SELECT doc_id, e.pos AS pos, e.word AS word FROM dw),
fl AS (
  SELECT d.doc_id, flatten(list(v.syms ORDER BY d.pos)) AS toks
  FROM dwp d JOIN v{n} v ON d.word = v.word
  GROUP BY d.doc_id)
SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       array_to_string(toks[1:3], ' ') AS head_tokens,
       toks[-1] AS last_token
FROM fl"""
    )


def _bpe_sql(n: int) -> str:
    """Unrolled n-step BPE fit: per step, pair counts over the current
    vocabulary → deterministic argmax (count DESC, pair lex) → greedy
    merge application via the windowed closed form (see q_bpe_merges)."""
    union = " UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS merge_rank, l AS left_sym, "
        f"r AS right_sym, s AS pair_count FROM b{k}"
        for k in range(1, n + 1)
    )
    return _bpe_cte(_bpe_steps(n)) + union


def _bpe_encode_sql(n: int, k: int) -> str:
    """Unrolled n-step BPE fit + encode: rewrite the vocabulary through
    all n merges (same chained CTEs as :func:`_bpe_sql`), then aggregate
    the final symbol sequences into the top-``k`` token frequencies."""
    return (
        _bpe_cte(_bpe_steps(n))
        + f"""
SELECT sym AS token, CAST(sum(cnt) AS BIGINT) AS n
FROM (SELECT cnt, unnest(syms) AS sym FROM v{n})
GROUP BY sym
ORDER BY n DESC, token
LIMIT {k}"""
    )


def _bpe_steps(
    n: int, fixed: list[tuple[str, str]] | None = None
) -> list[str]:
    """One chained-merge CTE block per step k: pair counts over v{k-1} →
    deterministic argmax b{k} → gaps-and-islands greedy rewrite → v{k}.

    ``fixed`` replaces the learned argmax with a CONSTANT merge table
    (one (left, right) pair per step) — the apply-at-inference form the
    `bpe_segment` oracle uses: no pair counting, just the chained greedy
    rewrites under a table the caller ships.

    Pair exhaustion: when a step finds no pairs (every word reduced to a
    single symbol), b{k} is EMPTY — the rewrite joins it with ``LEFT
    JOIN ... ON TRUE`` so v{k} carries v{k-1} forward unchanged (mt
    coalesces to FALSE against the all-NULL b columns), matching the
    operator's early stop. A CROSS JOIN here would annihilate the
    vocabulary and silently empty every downstream stage (caught by
    review; pinned by the exhaustion parity test)."""
    steps = []
    for k in range(1, n + 1):
        if fixed is not None:
            left, right = fixed[k - 1]
            assert "'" not in left + right, "merge symbols must be quote-free"
            picker = f"""
b{k} AS (SELECT '{left}' AS l, '{right}' AS r),"""
        else:
            picker = f"""
praw{k} AS (
  SELECT cnt, unnest([{{'l': syms[i], 'r': syms[i+1]}}
                      for i in range(1, len(syms))]) AS p
  FROM v{k - 1}),
p{k} AS (SELECT p.l AS l, p.r AS r, CAST(sum(cnt) AS BIGINT) AS s
         FROM praw{k} GROUP BY p.l, p.r),
b{k} AS (SELECT l, r, s FROM p{k} ORDER BY s DESC, l, r LIMIT 1),"""
        steps.append(picker + f"""
pos{k} AS (
  SELECT word, cnt, e.pos AS pos, e.sym AS sym
  FROM (SELECT word, cnt, unnest([{{'pos': i, 'sym': syms[i]}}
                                  for i in range(1, len(syms) + 1)]) AS e
        FROM v{k - 1})),
m{k} AS (
  SELECT word, cnt, pos, sym,
         coalesce(sym = b.l AND lead(sym) OVER (
           PARTITION BY word ORDER BY pos) = b.r, FALSE) AS mt
  FROM pos{k} LEFT JOIN b{k} b ON TRUE),
g{k} AS (
  SELECT word, cnt, pos, sym, mt,
         CASE WHEN mt THEN pos - row_number() OVER (
           PARTITION BY word, mt ORDER BY pos) END AS isl
  FROM m{k}),
kk{k} AS (
  SELECT word, cnt, pos, sym,
         CASE WHEN mt THEN (row_number() OVER (
           PARTITION BY word, isl ORDER BY pos)) % 2 = 1
              ELSE FALSE END AS keepm
  FROM g{k}),
e{k} AS (
  SELECT word, cnt, pos, sym, keepm,
         coalesce(lag(keepm) OVER (
           PARTITION BY word ORDER BY pos), FALSE) AS consumed
  FROM kk{k}),
v{k} AS (
  SELECT word, any_value(cnt) AS cnt,
         list(CASE WHEN keepm THEN b.l || b.r ELSE sym END
              ORDER BY pos) AS syms
  FROM e{k} LEFT JOIN b{k} b ON TRUE
  WHERE NOT consumed
  GROUP BY word)""")
    return steps


def _bpe_cte(steps: list[str]) -> str:
    """Shared WITH-clause prefix for the BPE oracles: corpus → word-count
    vocabulary v0, then one chained merge rewrite per step (see
    :func:`_bpe_sql` for the per-step CTEs)."""
    return (
        """
WITH w AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
  FROM documents),
v0 AS (
  SELECT word, CAST(count(*) AS BIGINT) AS cnt,
         string_split(word, '') AS syms
  FROM w GROUP BY word),"""
        + ",".join(steps)
        + "\n"
    )


# ---------------------------------------------------------------------------
# LATE ENTRIES AND GATE CANDIDATES — each ships its Spark query and
# DuckDB oracle when it is built. gopher_flags, duplicated_spans,
# dsir_resample and audio_fingerprint_pairs are registered (see QUERIES
# below); the rest wait in GATE_CANDIDATES, where
# tests/test_gate_candidates.py runs the same canonical compare as the
# registered parity sweep, so promoting one is a one-line registry move.
# ---------------------------------------------------------------------------


def q_gopher_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published Gopher rule set over documents (paper thresholds;
    operators.text.gopher_quality_flags): every statistic the rules read,
    the sorted fail_reasons attribution (joined to one string — portable
    across engines), and the composite verdict."""
    out = TX.gopher_quality_flags(_tw(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        "n_words",
        _r(F.col("mean_word_len"), 6).alias("mean_word_len"),
        _r(F.col("symbol_word_ratio"), 6).alias("symbol_word_ratio"),
        _r(F.col("bullet_line_frac"), 6).alias("bullet_line_frac"),
        _r(F.col("ellipsis_line_frac"), 6).alias("ellipsis_line_frac"),
        _r(F.col("alpha_word_frac"), 6).alias("alpha_word_frac"),
        "stopword_hits",
        _r(F.col("dup_line_frac"), 6).alias("dup_line_frac"),
        _r(F.col("dup_line_char_frac"), 6).alias("dup_line_char_frac"),
        F.array_join(F.array_sort("fail_reasons"), ",").alias("fail_reasons"),
        "passes",
    )


# rules evaluate on RAW stats; rounding happens only at projection (the
# Spark side does the same). Empty-list footguns: list_sum([]) and
# array_to_string([]) are NULL in DuckDB — every one is coalesced.
_SQL_GOPHER_FLAGS = r"""
WITH base AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(text, '^\s+', ''), '\s+$', '') AS t,
         list_filter(
           list_transform(string_split(text, chr(10)),
             x -> regexp_replace(regexp_replace(x, '^\s+', ''), '\s+$', '')),
           x -> x <> '') AS lines
  FROM documents),
w AS (
  SELECT doc_id, t, lines,
         list_filter(regexp_split_to_array(t, '\s+'), x -> x <> '') AS ws,
         list_sort(lines) AS s
  FROM base),
stats AS (
  SELECT doc_id,
    CAST(len(ws) AS BIGINT) AS n_words,
    CASE WHEN len(ws) > 0
         THEN CAST(length(regexp_replace(t, '\s', '', 'g')) AS DOUBLE) / len(ws)
         ELSE 0.0 END AS mean_word_len,
    CASE WHEN len(ws) > 0
         THEN CAST(length(t) - length(replace(t, '#', ''))
                   + len(regexp_extract_all(t, '\.\.\.|…')) AS DOUBLE) / len(ws)
         ELSE 0.0 END AS symbol_word_ratio,
    CASE WHEN len(lines) > 0
         THEN CAST(len(list_filter(lines, x -> regexp_matches(x, '^[•‣▪●*-]'))) AS DOUBLE) / len(lines)
         ELSE 0.0 END AS bullet_line_frac,
    CASE WHEN len(lines) > 0
         THEN CAST(len(list_filter(lines, x -> regexp_matches(x, '(\.\.\.|…)$'))) AS DOUBLE) / len(lines)
         ELSE 0.0 END AS ellipsis_line_frac,
    CASE WHEN len(ws) > 0
         THEN CAST(len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(ws)
         ELSE 0.0 END AS alpha_word_frac,
    CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
           x -> list_contains(list_transform(ws, y -> lower(y)), x))) AS BIGINT)
      AS stopword_hits,
    CASE WHEN len(lines) > 0
         THEN CAST(len(list_filter(s, (x, i) -> i > 1 AND x = s[i-1])) AS DOUBLE) / len(lines)
         ELSE 0.0 END AS dup_line_frac,
    CASE WHEN coalesce(list_sum(list_transform(lines, x -> length(x))), 0) > 0
         THEN CAST(coalesce(list_sum(list_transform(s,
                (x, i) -> CASE WHEN i > 1 AND x = s[i-1] THEN length(x) ELSE 0 END)), 0) AS DOUBLE)
              / list_sum(list_transform(lines, x -> length(x)))
         ELSE 0.0 END AS dup_line_char_frac
  FROM w),
flagged AS (
  SELECT *,
    list_sort(list_filter([
      CASE WHEN NOT (n_words BETWEEN 50 AND 100000) THEN 'word_count' END,
      CASE WHEN NOT (mean_word_len BETWEEN 3.0 AND 10.0) THEN 'mean_word_len' END,
      CASE WHEN NOT (symbol_word_ratio <= 0.1) THEN 'symbol_word_ratio' END,
      CASE WHEN NOT (bullet_line_frac <= 0.9) THEN 'bullet_lines' END,
      CASE WHEN NOT (ellipsis_line_frac <= 0.3) THEN 'ellipsis_lines' END,
      CASE WHEN NOT (alpha_word_frac >= 0.8) THEN 'alpha_words' END,
      CASE WHEN NOT (stopword_hits >= 2) THEN 'stopwords' END,
      CASE WHEN NOT (dup_line_frac <= 0.3) THEN 'dup_lines' END,
      CASE WHEN NOT (dup_line_char_frac <= 0.2) THEN 'dup_line_chars' END
    ], x -> x IS NOT NULL)) AS reasons
  FROM stats)
SELECT doc_id, n_words,
       round(mean_word_len, 6) AS mean_word_len,
       round(symbol_word_ratio, 6) AS symbol_word_ratio,
       round(bullet_line_frac, 6) AS bullet_line_frac,
       round(ellipsis_line_frac, 6) AS ellipsis_line_frac,
       round(alpha_word_frac, 6) AS alpha_word_frac,
       stopword_hits,
       round(dup_line_frac, 6) AS dup_line_frac,
       round(dup_line_char_frac, 6) AS dup_line_char_frac,
       coalesce(array_to_string(reasons, ','), '') AS fail_reasons,
       len(reasons) = 0 AS passes
FROM flagged
"""


def q_duplicated_spans_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional ExactSubstr span dedup (k=10, exact mode) over the
    documents table — the duplicated_spans operator end-to-end; the
    oracle rebuilds windows from STRINGS (hash-free) so the hash-based
    plan is checked against content-defined ground truth."""
    return D.duplicated_spans(_tw(spark, sf_dir, "documents"), k=10)


_SQL_DUPLICATED_SPANS = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS w
  FROM documents),
pos AS (
  SELECT doc_id, p, array_to_string(w[p:p+9], ' ') AS win
  FROM toks, UNNEST(generate_series(1, len(w) - 9)) AS g(p)
  WHERE len(w) >= 10),
dup AS (
  SELECT win FROM pos GROUP BY win HAVING min(doc_id) <> max(doc_id)),
m AS (
  SELECT doc_id, p FROM pos WHERE win IN (SELECT win FROM dup)),
isl AS (
  SELECT doc_id, p,
         SUM(CASE WHEN p - lagp > 10 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY p) AS island
  FROM (SELECT doc_id, p,
               LAG(p) OVER (PARTITION BY doc_id ORDER BY p) AS lagp
        FROM m))
SELECT doc_id,
       MIN(p) - 1 AS start_tok,
       MAX(p) - 1 + 10 AS end_tok,
       CAST(COUNT(*) AS BIGINT) AS n_matched
FROM isl GROUP BY doc_id, island
"""


def q_hashed_clf_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashed NB classifier chain end-to-end: fit log-odds weights on
    the doc_id<250 slice under the deterministic pseudo-label
    (doc_id % 3 == 0), then score EVERY document in raw-count NB mode.
    Weights are snapped to the 1e-9 grid before scoring (both engines'
    ln() agree to ~1 ulp; the snap makes the downstream integer-weighted
    sums bit-identical — the bigram_nll discipline)."""
    docs = _tw(spark, sf_dir, "documents")
    sample = docs.filter(F.col("doc_id") < 250).withColumn(
        "label", F.col("doc_id") % 3 == 0
    )
    w = TX.fit_hashed_logodds(sample, n_buckets=64)
    w9 = w.select(
        "bucket",
        (F.round(F.col("weight") * 1e9, 0).cast("long") / 1e9).alias("weight"),
    )
    out = TX.hashed_linear_score(docs, w9, n_buckets=64, normalize=False)
    return out.select("doc_id", "n_tokens", _r(F.col("z"), 6).alias("z"))


_SQL_HASHED_CLF = rf"""
WITH lab AS (
  SELECT doc_id, (doc_id % 3 = 0) AS y FROM documents WHERE doc_id < 250),
stoks AS (
  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                    x -> x <> '')) AS t
  FROM documents WHERE doc_id < 250 AND trim(text) <> ''),
sc AS (
  SELECT doc_id, {_MD5H31_IN_SQL.format(s="t")} % 64 AS bucket, count(*) AS cnt
  FROM stoks GROUP BY doc_id, bucket),
cc AS (
  SELECT bucket,
         sum(CASE WHEN y THEN cnt ELSE 0 END) AS cp,
         sum(CASE WHEN NOT y THEN cnt ELSE 0 END) AS cn
  FROM sc JOIN lab USING (doc_id) GROUP BY bucket),
tot AS (SELECT coalesce(sum(cp), 0) AS tp, coalesce(sum(cn), 0) AS tn FROM cc),
nd AS (SELECT sum(CASE WHEN y THEN 1 ELSE 0 END) AS np,
              sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS nn FROM lab),
wts AS (
  SELECT r.range AS bucket,
         CAST(round((ln((coalesce(cc.cp, 0) + 1.0) / (tot.tp + 64.0))
                     - ln((coalesce(cc.cn, 0) + 1.0) / (tot.tn + 64.0))) * 1e9)
              AS BIGINT) / 1e9 AS weight
  FROM range(64) r LEFT JOIN cc ON r.range = cc.bucket, tot),
bias AS (
  SELECT CAST(round(ln((np + 1.0) / (nn + 1.0)) * 1e9) AS BIGINT) / 1e9 AS b
  FROM nd),
atoks AS (
  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                    x -> x <> '')) AS t
  FROM documents WHERE trim(text) <> ''),
ac AS (
  SELECT doc_id, {_MD5H31_IN_SQL.format(s="t")} % 64 AS bucket, count(*) AS cnt
  FROM atoks GROUP BY doc_id, bucket),
dots AS (
  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
         sum(cnt * coalesce(weight, 0)) AS d
  FROM ac LEFT JOIN wts USING (bucket) GROUP BY doc_id)
SELECT doc_id, n_tokens, round(bias.b + d, 6) AS z
FROM dots, bias
"""


def q_phash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-dedup pairing gate: the pHash → Hamming chain's ONLY
    oracle-able form. Image bytes can't be oracled cross-engine (DuckDB
    has no decoder), so the gate synthesizes a deterministic 64-bit
    hash column from documents — an md5-derived base per
    (lang, doc_id div 2) pair-group with two index-flipped bits, the
    exact shape phash64_frames emits for rescaled near-copies — and
    runs dedup.hamming_neardup_pairs (pigeonhole banding + exact
    bit_count verify) over it. The oracle is HASH-FREE of the banding:
    an all-pairs popcount join IS ground truth, and banding has 100%
    recall by pigeonhole, so the banded plan must equal it exactly
    (distances 2 and 4 both present — the max_distance boundary is
    exercised)."""
    docs = _tw(spark, sf_dir, "documents")
    ph = F.expr(
        "CAST(conv(substring(md5(concat(lang, '|', "
        "CAST(doc_id div 2 AS STRING))), 1, 15), 16, 10) AS BIGINT)"
        " ^ shiftleft(1L, CAST(doc_id % 60 AS INT))"
        " ^ shiftleft(1L, CAST((doc_id div 3) % 60 AS INT))"
    )
    hashes = docs.select("doc_id", ph.alias("phash"))
    # hash_bits=60: the synthesized hash occupies bits 0-59 (15 hex
    # digits), so declaring 64 would leave the top band with only 8
    # effective bits — its buckets then exceed max_bucket at large
    # corpora and banding would silently lose the pairs that agree only
    # there (r14 review #4). At 60 every band carries 12 real bits.
    # max_bucket=None: gate queries pin guards OFF — the parity law
    # needs uncapped semantics (r14 review pass 2). The gate's domain
    # is driver scale factors by construction: its ORACLE is an
    # all-pairs O(n²) join, infeasible long before any bucket floods.
    return D.hamming_neardup_pairs(
        hashes, max_distance=4, hash_bits=60, max_bucket=None
    ).select(
        "id_a", "id_b", F.col("distance").cast("int").alias("distance")
    )


_SQL_PHASH_HAMMING = """
WITH h AS (
  SELECT doc_id,
         xor(xor(CAST('0x' || substr(md5(lang || '|' ||
                     CAST(doc_id // 2 AS VARCHAR)), 1, 15) AS BIGINT),
                 (1::BIGINT << CAST(doc_id % 60 AS INT))),
             (1::BIGINT << CAST((doc_id // 3) % 60 AS INT))) AS ph
  FROM documents)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.ph, b.ph)) AS INT) AS distance
FROM h a JOIN h b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.ph, b.ph)) <= 4
"""


def q_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR chain end-to-end (Xie et al. 2023, the r14 oracle
    sketch built out): fit hashed-unigram importance log-ratios with
    the en slice as TARGET and the even-doc_id slice as the RAW pool
    sample, then Gumbel-top-k resample k=25 documents from the whole
    corpus. Selection is engine-exactly deterministic: the per-doc dot
    runs on 1e-9-scaled INTEGER weights (associative integer sum — no
    float accumulation-order hazard) and the Gumbel uniform is the
    portable MD5 hash of (seed, id), so the same k ids come out of any
    engine or partition count. The only double steps (ln in the fit,
    ln(−ln(u)) in the key) agree across engines to ~1 ulp; the fit
    snaps to the 1e-9 grid inside dsir_resample and the emitted
    logw/key are portably rounded to 6 dp (the hashed_clf_scores
    discipline)."""
    docs = _tw(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    raw = docs.filter(F.col("doc_id") % 2 == 0)
    w = TX.fit_dsir_logratios(target, raw, n_buckets=64)
    out = TX.dsir_resample(docs, w, k=25, n_buckets=64)
    return out.select(
        "doc_id",
        "n_tokens",
        _r(F.col("logw"), 6).alias("logw"),
        _r(F.col("key"), 6).alias("key"),
    )


# the oracle rebuilds the WHOLE chain: two bucket-count CTEs (target
# slice / raw pool sample) -> Laplace log-ratio weights snapped to the
# 1e-9 integer grid -> per-doc integer dot -> Gumbel key from the
# md5-uniform -> ORDER BY key DESC with id tie-break, LIMIT k. Integer
# sums are CAST to BIGINT (the HUGEINT trap); u = (h+1)/2^31 is a
# dyadic rational both engines divide exactly, and h <= 2^31-2 keeps
# u < 1 so -ln(u) is never 0 (no ln(0) divergence: Spark yields NULL,
# DuckDB -inf).
_SQL_DSIR = rf"""
WITH ttoks AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                            x -> x <> '')) AS t
  FROM documents WHERE lang = 'en' AND trim(text) <> ''),
tb AS (
  SELECT {_MD5H31_IN_SQL.format(s="t")} % 64 AS bucket,
         CAST(count(*) AS BIGINT) AS ct
  FROM ttoks GROUP BY bucket),
rtoks AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                            x -> x <> '')) AS t
  FROM documents WHERE doc_id % 2 = 0 AND trim(text) <> ''),
rb AS (
  SELECT {_MD5H31_IN_SQL.format(s="t")} % 64 AS bucket,
         CAST(count(*) AS BIGINT) AS cr
  FROM rtoks GROUP BY bucket),
tot AS (
  SELECT (SELECT CAST(coalesce(sum(ct), 0) AS BIGINT) FROM tb) AS st,
         (SELECT CAST(coalesce(sum(cr), 0) AS BIGINT) FROM rb) AS sr),
wts AS (
  SELECT r.range AS bucket,
         CAST(round((ln((coalesce(tb.ct, 0) + 1.0) / (tot.st + 64.0))
                     - ln((coalesce(rb.cr, 0) + 1.0) / (tot.sr + 64.0)))
                    * 1e9) AS BIGINT) AS wi
  FROM range(64) r LEFT JOIN tb ON r.range = tb.bucket
                   LEFT JOIN rb ON r.range = rb.bucket, tot),
atoks AS (
  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                    x -> x <> '')) AS t
  FROM documents WHERE trim(text) <> ''),
ac AS (
  SELECT doc_id, {_MD5H31_IN_SQL.format(s="t")} % 64 AS bucket,
         CAST(count(*) AS BIGINT) AS cnt
  FROM atoks GROUP BY doc_id, bucket),
dots AS (
  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
         CAST(sum(cnt * wi) AS BIGINT) AS di
  FROM ac JOIN wts USING (bucket) GROUP BY doc_id),
keyed AS (
  SELECT doc_id, n_tokens,
         CAST(di AS DOUBLE) / 1e9 AS logw,
         CAST(di AS DOUBLE) / 1e9
           - ln(-ln(({_MD5H31_IN_SQL.format(
               s="'dsir42|' || CAST(doc_id AS VARCHAR)")} + 1)
                    / 2147483648.0)) AS key
  FROM dots)
SELECT doc_id, n_tokens, round(logw, 6) AS logw, round(key, 6) AS key
FROM keyed ORDER BY key DESC, doc_id LIMIT 25
"""


# Pinned Haitsma–Kalker fingerprints for the audio gate: 6 classes x 4
# frames, computed by the INDEPENDENT numpy re-derivation of the
# published definition (the test_audio_fingerprint_matches_python_model
# model, run offline) over class signals
# rng(1000+c).integers(-8000, 8000, n=6144)*2 at the operator defaults
# (frame 2048, hop 1024, 33 bands). Platform robustness is MEASURED,
# not hoped: the smallest relative |d2| margin behind any pinned bit is
# 5.1e-4 of the band-energy scale — nine orders above accumulated FFT
# ulp noise, so no SIMD/FFT implementation difference can flip a bit.
# (Pure sinusoids are the wrong input class here: an integer-frequency
# tone at hop = period/2 has an IDENTICAL magnitude spectrum every
# frame, so every time-difference bit collapses to 0 — the class
# signals are seeded noise for that reason.)
_AUDIO_GATE_FPS = {
    0: {1: 1186171297, 2: 2338669731, 3: 3032265581, 4: 1112844596},
    1: {1: 3718067498, 2: 309517677, 3: 2755045050, 4: 1267545643},
    2: {1: 2907550507, 2: 1301434197, 3: 4189215981, 4: 3849171628},
    3: {1: 2762484438, 2: 1286687049, 3: 2442341929, 4: 895833750},
    4: {1: 1184255033, 2: 3877172153, 3: 1498788262, 4: 1789535465},
    5: {1: 2910426797, 2: 2589350563, 3: 1990940122, 4: 3078328999},
}


def q_audio_fingerprint_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audio near-dup arm end-to-end: synthesize deterministic WAV
    tracks from the documents slice (doc_id % 10 = 0; class
    c = (doc_id/10) % 6 picks one of six seeded-noise signals, every
    other class cycle is an exactly-representable half-gain copy — the
    fingerprint's invariance arm), run
    multimodal.audio_fingerprint_frames (frame 2048 / hop 1024 / 33
    bands -> 32 bits x 4 frames per track), plant two index-flipped
    bits per doc (the phash_hamming_pairs shape — distances 0..4
    exercise the max_distance boundary), and pair with
    dedup.hamming_neardup_pairs(hash_bits=32) under any-frame MIN
    semantics. The oracle NEVER runs an FFT: it joins the pinned
    per-(class, frame) fingerprint constants (independent numpy
    re-derivation, margin-verified — see _AUDIO_GATE_FPS) and computes
    the all-pairs popcount MIN itself, so the Spark kernel's bits, the
    gain invariance, the bit-flip Columns, the banding recall and the
    MIN-verify are all checked against FFT-free ground truth.
    max_bucket=None: gate queries pin guards off (the parity law needs
    uncapped semantics; the oracle is itself all-pairs)."""
    import numpy as np

    docs = _tw(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0
    ).select("doc_id")

    n = 2048 * 3
    id_field = docs.schema["doc_id"].dataType

    def synth(batches):
        import pandas as pd

        from ..operators import audiocodec as AC

        base = {
            c: np.random.default_rng(1000 + c).integers(
                -8000, 8000, size=n, endpoint=False
            )
            * 2
            for c in range(6)
        }
        wavs = {c: bytearray(AC.encode_wav(sig, 8000)) for c, sig in base.items()}
        half = {
            c: bytearray(AC.encode_wav(sig // 2, 8000))
            for c, sig in base.items()
        }
        for pdf in batches:
            m = pdf["doc_id"] // 10
            payload = [
                (half if (mi % 12) >= 6 else wavs)[int(mi % 6)]
                for mi in m
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payload})

    import pyspark.sql.types as T

    tracks = docs.mapInPandas(
        synth,
        schema=T.StructType(
            [
                T.StructField("doc_id", id_field),
                T.StructField("payload", T.BinaryType()),
            ]
        ),
    )
    fp = MM.audio_fingerprint_frames(tracks)
    flipped = fp.select(
        "doc_id",
        F.col("fp")
        .bitwiseXOR(F.expr("shiftleft(1L, CAST(doc_id % 32 AS INT))"))
        .bitwiseXOR(F.expr("shiftleft(1L, CAST((doc_id div 3) % 32 AS INT))"))
        .alias("fp"),
    )
    # r16: hamming_neardup_pairs consumes its input THREE times (band
    # bucketing + both sides of the hash-set verify join), and here the
    # input subtree is the WAV-synth + FFT fingerprint kernel — the
    # query's only expensive pass. Materialize the (id, 32-bit fp) rows
    # once (track-frame-sized at any scale) so the kernel runs 1x, not
    # 3x. Local wall is within noise at sf0.1 (the three evaluations
    # overlap on idle cores); at scale the saved passes are the point.
    flipped = flipped.localCheckpoint(eager=True)
    return D.hamming_neardup_pairs(
        flipped, max_distance=4, hash_bits=32, max_bucket=None,
        hash_col="fp",
    ).select("id_a", "id_b", F.col("distance").cast("int").alias("distance"))


_SQL_AUDIO_PAIRS = (
    "WITH fps(c, frame_idx, fp) AS (VALUES "
    + ", ".join(
        f"({c}, {fi}, {v}::BIGINT)"
        for c, frames in _AUDIO_GATE_FPS.items()
        for fi, v in frames.items()
    )
    + """),
ids AS (
  SELECT doc_id, CAST((doc_id // 10) % 6 AS INT) AS c
  FROM documents WHERE doc_id % 10 = 0),
h AS (
  SELECT doc_id, frame_idx,
         xor(xor(fp, 1::BIGINT << CAST(doc_id % 32 AS INT)),
             1::BIGINT << CAST((doc_id // 3) % 32 AS INT)) AS fp
  FROM ids JOIN fps USING (c)),
d AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         min(bit_count(xor(a.fp, b.fp))) AS dist
  FROM h a JOIN h b ON a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT id_a, id_b, CAST(dist AS INT) AS distance FROM d WHERE dist <= 4
"""
)


# ---------------------------------------------------------------------------
# Gate candidate: unigram-LM Viterbi segmentation
# ---------------------------------------------------------------------------
# PINNED scoring model for the gate: all 26 single chars (coverage — the
# oracle never needs an UNK arm) at index-graded log-probs plus a
# multi-char piece set targeted at the documents vocabulary, with
# deliberate traps (e.g. "ke" scores WORSE than k+e while "key" beats
# both — the DP must discriminate, not greedy-longest). Integer
# 1e-9-grid scores make the best path engine-exact; probabilities need
# not normalize (Viterbi only compares sums — documented).
_UNIGRAM_GATE_PIECES: list[tuple[str, int]] = [
    *[
        (chr(97 + i), -(3_000_000_000 + 10_000_000 * i))
        for i in range(26)
    ],
    ("ta", -4_500_000_000),
    ("ab", -4_600_000_000),
    ("le", -4_400_000_000),
    ("tab", -6_500_000_000),
    ("ble", -5_000_000_000),
    ("er", -4_300_000_000),
    ("or", -4_350_000_000),
    ("ar", -4_450_000_000),
    ("st", -4_250_000_000),
    ("ro", -4_550_000_000),
    ("an", -4_480_000_000),
    ("in", -4_320_000_000),
    ("me", -4_470_000_000),
    ("ue", -4_510_000_000),
    ("ha", -4_530_000_000),
    ("sh", -4_490_000_000),
    ("ow", -4_520_000_000),
    ("al", -4_560_000_000),
    ("um", -4_570_000_000),
    ("at", -4_460_000_000),
    ("ch", -4_540_000_000),
    ("sc", -4_580_000_000),
    ("row", -6_000_000_000),
    ("key", -6_100_000_000),
    ("val", -6_200_000_000),
    ("spa", -6_300_000_000),
    ("que", -6_400_000_000),
    ("dow", -6_450_000_000),
    ("ke", -7_500_000_000),  # trap: worse than k+e, but "key" beats both
]


def q_unigram_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viterbi-segment every 10th document under a FIXED pinned unigram
    model (operators/unigram.py unigram_segment — the apply-at-inference
    half of the SentencePiece-style tokenizer; unigram_fit ships the
    model, this consumes it). Emits (doc_id, n_tokens, tokens_str): the
    FULL space-joined token stream, so the gate hashes the integer-score
    DP, its deterministic score→fewer-tokens→lexicographic tie-break,
    AND the positional reassembly join. The model travels through the
    MODEL STORE with the UNIGRAM_MODEL_VERSION stamp validated at load
    (the q_bpe_segment production shape — fit job ships, tokenize-on-
    read jobs consume across sessions). The DuckDB oracle re-derives the
    segmentation INDEPENDENTLY: a recursive CTE enumerates every
    segmentation path over the pinned piece table per DISTINCT word
    (bounded — gate words are ≤8 chars over a ~31-word vocabulary),
    picks the best by the same total-score/ntok/lex ordering (space <
    every [a-z] byte, so string comparison of the joined paths IS the
    token-list comparison), and re-joins by word position. Reference
    analog: none (training-data layer; SURVEY §2 north-star)."""
    import tempfile

    from ..operators.unigram import (
        MODEL_SCHEMA,
        UNIGRAM_MODEL_VERSION,
        unigram_segment,
    )
    from ..sources.models import load_model, save_model

    params = {
        "kind": "unigram_lm",
        "unigram_model_version": UNIGRAM_MODEL_VERSION,
        "n_pieces": len(_UNIGRAM_GATE_PIECES),
    }
    # pieces are COLLECTED inside the block, so the plan never scans the
    # deleted temp store (the q_bpe_segment lifetime discipline)
    with tempfile.TemporaryDirectory(
        prefix="w4h_unigram_model_", ignore_cleanup_errors=True
    ) as store:
        save_model(
            spark,
            store,
            spark.createDataFrame(
                [(p, lp, 0) for p, lp in _UNIGRAM_GATE_PIECES], MODEL_SCHEMA
            ),
            params,
        )
        loaded, _ = load_model(spark, store, expect_params=params)
        pieces = [(r["piece"], r["logp_1e9"]) for r in loaded.collect()]
    seg = unigram_segment(
        _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0),
        pieces,
    )
    return seg.select(
        "doc_id",
        F.size("tokens").cast("long").alias("n_tokens"),
        F.concat_ws(" ", "tokens").alias("tokens_str"),
    )


_SQL_UNIGRAM_SEGMENT = (
    "WITH RECURSIVE pieces(piece, lp) AS (VALUES "
    + ", ".join(
        f"('{p}', CAST({lp} AS BIGINT))" for p, lp in _UNIGRAM_GATE_PIECES
    )
    + """),
docs AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
  FROM documents WHERE doc_id % 10 = 0),
dw AS (
  SELECT doc_id, unnest([{'pos': i, 'word': ws[i]}
                         for i in range(1, len(ws) + 1)]) AS e
  FROM docs),
dwp AS (SELECT doc_id, e.pos AS pos, e.word AS word FROM dw),
w AS (SELECT DISTINCT word FROM dwp),
paths(word, pos, score, ntok, toks) AS (
  SELECT word, 0, CAST(0 AS BIGINT), 0, CAST('' AS VARCHAR) FROM w
  UNION ALL
  SELECT pa.word, pa.pos + length(p.piece), pa.score + p.lp, pa.ntok + 1,
         CASE WHEN pa.toks = '' THEN p.piece
              ELSE pa.toks || ' ' || p.piece END
  FROM paths pa JOIN pieces p
    ON substr(pa.word, pa.pos + 1, length(p.piece)) = p.piece
  WHERE pa.pos < length(pa.word)),
best AS (
  SELECT word, toks, ntok, row_number() OVER (
           PARTITION BY word
           ORDER BY score DESC, ntok ASC, toks ASC) AS rn
  FROM paths WHERE pos = length(word)),
seg AS (SELECT word, toks, ntok FROM best WHERE rn = 1),
out AS (
  SELECT d.doc_id, CAST(sum(s.ntok) AS BIGINT) AS n_tokens,
         string_agg(s.toks, ' ' ORDER BY d.pos) AS tokens_str
  FROM dwp d JOIN seg s ON d.word = s.word
  GROUP BY d.doc_id)
SELECT doc_id, n_tokens, tokens_str FROM out
"""
)


# candidate registry: same (fn, sql) shape as QUERIES, same portable
# rounding rewrite — registering is moving an entry into QUERIES.
GATE_CANDIDATES = {
    "hashed_clf_scores": (
        q_hashed_clf_scores,
        _portable_round_sql(_SQL_HASHED_CLF),
    ),
    "phash_hamming_pairs": (
        q_phash_hamming_pairs,
        _portable_round_sql(_SQL_PHASH_HAMMING),
    ),
    "unigram_segment": (
        q_unigram_segment,
        _portable_round_sql(_SQL_UNIGRAM_SEGMENT),
    ),
}


# ---------------------------------------------------------------------------
# THE REGISTRY — name -> (Spark builder, DuckDB oracle SQL or None)
# ---------------------------------------------------------------------------
QUERIES: dict[str, tuple[QueryFn, str | None]] = {
    # real stateful streaming job (applyInPandasWithState EWMA); oracle =
    # the batch dyadic-lag SQL, bit-exact equality law in
    # tests/test_streaming.py
    "streaming_ewma": (q_streaming_ewma, _ewma_sql(8)),
    # real streaming job (engine-native dropDuplicatesWithinWatermark);
    # oracle = DISTINCT md5(text) — the emitted key SET is deterministic
    "stream_window_dedup": (q_stream_window_dedup, _SQL_STREAM_WINDOW_DEDUP),
    "value_percentile_rank": (q_value_percentile_rank, _SQL_PCT_RANK),
    "grid_density": (q_grid_density, _SQL_GRID_DENSITY),
    "bloom_decontaminate": (q_bloom_decontaminate, _SQL_BLOOM_DECONTAMINATE),
    "event_type_pagerank": (q_event_type_pagerank, _pagerank_sql(3)),
    "dedup_keep_best": (q_dedup_keep_best, _dedup_keep_best_sql()),
    "chi2_independence": (q_chi2_independence, _SQL_CHI2),
    "source_overlap": (q_source_overlap, _SQL_SOURCE_OVERLAP),
    "pmi_pairs": (q_pmi_pairs, _SQL_PMI),
    "unigram_nll": (q_unigram_nll, _SQL_UNIGRAM_NLL),
    # real stateful streaming job (applyInPandasWithState debounce);
    # oracle = the batch lag rule, equality law in tests/test_streaming.py
    "streaming_debounce": (q_streaming_debounce, _SQL_DEBOUNCE),
    "streaming_anomaly": (q_streaming_anomaly, _SQL_ROLLING_ZSCORE),
    "salted_hot_key_agg": (q_salted_hot_key_agg, _SQL_SALTED_AGG),
    "event_paths": (q_event_paths, _SQL_EVENT_PATHS),
    "brand_top_parts": (q_brand_top_parts, _SQL_BRAND_TOP_PARTS),
    # salted_join equivalence contract: oracle = the UNSALTED join
    "salted_join_equiv": (q_salted_join_equiv, _SQL_SALTED_JOIN),
    "embedding_gram": (q_embedding_gram, _SQL_EMBEDDING_GRAM),
    "embedding_dim_stats": (q_embedding_dim_stats, _SQL_EMBEDDING_DIM_STATS),
    "feature_hash_histogram": (q_feature_hash_histogram, _SQL_FEATURE_HASH),
    "bigram_nll": (q_bigram_nll, _SQL_BIGRAM_NLL),
    "vocab_oov_rate": (q_vocab_oov_rate, _SQL_VOCAB_OOV),
    "rolling_median": (q_rolling_median, _SQL_ROLLING_MEDIAN),
    "equi_depth_bins": (q_equi_depth_bins, _SQL_EQUI_DEPTH_BINS),
    "class_balance": (q_class_balance, _SQL_CLASS_BALANCE),
    "acf_lags": (q_acf_lags, _SQL_ACF_LAGS),
    "kfold_report": (q_kfold_report, _SQL_KFOLD),
    "quality_top_p": (q_quality_top_p, _quality_top_p_sql()),
    "dataset_card": (q_dataset_card, _SQL_DATASET_CARD),
    "basket_affinity": (q_basket_affinity, _SQL_BASKET_AFFINITY),
    "shrunk_group_means": (q_shrunk_group_means, _SQL_SHRUNK_MEANS),
    # IVM contract: oracle = the ONE-SHOT aggregate over all increments
    "incremental_agg": (q_incremental_agg, _SQL_INCREMENTAL_AGG),
    "langid_confusion": (q_langid_confusion, _langid_confusion_sql()),
    "classification_metrics": (
        q_classification_metrics,
        _classification_metrics_sql(),
    ),
    "ewma_backtest": (q_ewma_backtest, _ewma_backtest_sql()),
    "k_anonymity_audit": (q_k_anonymity_audit, _SQL_K_ANONYMITY),
    # independent-formulation oracle: window cumsum vs literal range join
    "scd2_lookup": (q_scd2_lookup, _SQL_SCD2_LOOKUP),
    "ols_trend_slope": (q_ols_trend_slope, _SQL_OLS_SLOPE),
    # real streaming job; oracle = its batch twin's (equality law in
    # tests/test_streaming.py)
    "streaming_neardup": (q_streaming_neardup, _incremental_dedup_sql()),
    "stream_distinct_users": (q_stream_distinct_users, _SQL_STREAM_DISTINCT_USERS),
    "byte_histogram": (q_byte_histogram, _SQL_BYTE_HISTOGRAM),
    "token_counts": (q_token_counts, _SQL_TOKEN_COUNTS),
    "trajectories": (q_trajectories, _SQL_TRAJECTORIES),
    "user_similarity_topk": (q_user_similarity, _SQL_USER_SIMILARITY),
    "stable_split": (q_stable_split, _SQL_STABLE_SPLIT),
    "asof_latest_purchase": (q_asof_purchase, _SQL_ASOF_PURCHASE),
    "incident_interval_join": (q_incident_interval, _SQL_INCIDENT_INTERVAL),
    "knn_ivf_topk": (q_knn_ivf, _SQL_KNN_IVF),
    "rollup_cascade": (q_rollup_cascade, _SQL_ROLLUP_CASCADE),
    "stratified_sample": (q_stratified_sample, _SQL_STRATIFIED_SAMPLE),
    # persisted-model IVF: fit -> save_model -> load_model -> probe;
    # results identical to knn_ivf_fitted, so its oracle is REUSED —
    # the gate hashes the whole persisted chain
    "knn_ivf_persisted": (q_knn_ivf_persisted, _SQL_KNN_IVF_FITTED),
    # O7 wrap-around replay: modular-arithmetic oracle over ranked
    # distinct days; pins truncate-at-end AND wrap-to-zero
    "replay_wraparound": (q_replay_wraparound, _SQL_REPLAY_WRAP),
    "table_diff": (q_table_diff, _SQL_TABLE_DIFF),
    "scd2_intervals": (q_scd2_intervals, _SQL_SCD2),
    "golden_record": (q_golden_record, _SQL_GOLDEN_RECORD),
    "token_entropy": (q_token_entropy, _SQL_TOKEN_ENTROPY),
    "weighted_sample": (q_weighted_sample, _SQL_WEIGHTED_SAMPLE),
    "name_match_pairs": (q_name_match_pairs, _SQL_NAME_MATCH),
    "conversion_lag_daily": (q_conversion_lag, _SQL_CONVERSION_LAG),
    "windowed_funnel": (q_windowed_funnel, _SQL_WINDOWED_FUNNEL),
    "first_per_user": (q_first_per_user, _SQL_FIRST_PER_USER),
    "cohort_compare": (q_cohort_compare, _SQL_COHORT_COMPARE),
    "activity_span": (q_activity_span, _SQL_ACTIVITY_SPAN),
    "safe_band": (q_safe_band, _SQL_SAFE_BAND),
    "time_of_day_overnight": (q_time_of_day, _SQL_TIME_OF_DAY),
    "dedup_composite_key": (q_dedup_composite, _SQL_DEDUP_COMPOSITE),
    "json_extract": (q_json_extract, _SQL_JSON_EXTRACT),
    "melt_unpivot": (q_melt, _SQL_MELT),
    "doc_fingerprint": (q_fingerprint, _SQL_FINGERPRINT),
    "exact_dedup": (q_exact_dedup, _SQL_EXACT_DEDUP),
    "text_stats": (q_text_stats, _SQL_TEXT_STATS),
    "language_id": (q_language_id, _langid_sql()),
    "quality_score": (q_quality_score, _quality_sql()),
    "minhash_signatures": (q_minhash_signatures, _minhash_sql(8)),
    "percentiles": (q_percentiles, _SQL_PERCENTILES),
    "distinct_counts": (q_distinct_counts, _SQL_DISTINCT_COUNTS),
    "rollup_totals": (q_rollup, _SQL_ROLLUP),
    "pivot_event_types": (q_pivot, _SQL_PIVOT),
    "sessionize": (q_sessionize, _SQL_SESSIONIZE),
    "align_by_position": (q_align_by_position, _SQL_ALIGN),
    "offset_batch": (q_offset_batch, _SQL_OFFSET_BATCH),
    "string_normalize": (q_string_normalize, _SQL_STRING_NORMALIZE),
    "fuzzy_column_mapping": (q_fuzzy_column_mapping, _SQL_FUZZY_MAPPING),
    "value_tiers": (q_value_tiers, _SQL_VALUE_TIERS),
    "trailing_window_kpis": (q_trailing_window_kpis, _SQL_TRAILING_WINDOW),
    "shipping_priority": (q_shipping_priority, _SQL_SHIPPING_PRIORITY),
    "local_supplier_volume": (q_local_supplier_volume, _SQL_LOCAL_SUPPLIER_VOLUME),
    "gap_mask": (q_gap_mask, _SQL_GAP_MASK),
    "resample_1min": (q_resample_1min, _SQL_RESAMPLE),
    "sliding_window": (q_sliding_window, _SQL_SLIDING_WINDOW),
    "knn_cosine_topk": (q_knn_cosine, _SQL_KNN),
    "embedding_neardup_pairs": (q_embedding_neardup, _embedding_neardup_sql()),
    "calibration": (q_calibration, _SQL_CALIBRATION),
    "minhash_lsh_pairs": (q_minhash_lsh_pairs, _minhash_lsh_sql()),
    "frame_sample": (q_frame_sample, _SQL_FRAME_SAMPLE),
    "stream_window_kpis": (q_stream_window_kpis, _SQL_STREAM_WINDOW),
    # URL canonicalization + URL-level dedup. Oracle re-derives the
    # normalization independently (regexp parts + list ops, no parser).
    "url_canonicalize": (q_url_canonicalize, _SQL_URL_CANON),
    # IDNA/punycode hosts over RFC/IANA-pinned vectors: the oracle maps
    # each fixed host to its PUBLISHED punycode form, never computing it.
    "idna_hosts": (q_idna_hosts, _idna_sql(_IDNA_VECTORS)),
    "dsir_resample": (q_dsir_resample, _SQL_DSIR),
    "audio_fingerprint_pairs": (q_audio_fingerprint_pairs, _SQL_AUDIO_PAIRS),
    "shipping_latency": (q_shipping_latency, _SQL_SHIPPING_LATENCY),
    "daily_value_bands": (q_daily_value_bands, _SQL_DAILY_VALUE_BANDS),
    "knn_lsh_topk": (q_knn_lsh, _knn_lsh_sql()),
    "fk_integrity": (q_fk_integrity, _SQL_FK_INTEGRITY),
    "table_profile": (q_table_profile, _SQL_TABLE_PROFILE),
    "cube_totals": (q_cube_totals, _SQL_CUBE_TOTALS),
    "heavy_hitters_sketch": (q_heavy_hitters_sketch, _SQL_HEAVY_HITTERS),
    "interval_coverage": (q_interval_coverage, _SQL_INTERVAL_COVERAGE),
    "cusum_changepoint": (q_cusum_changepoint, _SQL_CUSUM),
    "doc_chunks": (q_doc_chunks, _SQL_DOC_CHUNKS),
    "quantized_knn_recall": (q_quantized_knn_recall, _SQL_QUANT_RECALL),
    "spearman_trend": (q_spearman_trend, _SQL_SPEARMAN),
    "dow_hour_heatmap": (q_dow_hour_heatmap, _SQL_DOW_HOUR),
    "containment_pairs": (q_containment_pairs, _SQL_CONTAINMENT),
    "zorder_layout": (q_zorder_layout, _SQL_ZORDER),
    "max_concurrency": (q_max_concurrency, _SQL_MAX_CONCURRENCY),
    "mad_outliers": (q_mad_outliers, _SQL_MAD_OUTLIERS),
    "ratio_to_report": (q_ratio_to_report, _SQL_RATIO_TO_REPORT),
    "benford_audit": (q_benford_audit, _benford_sql()),
    "key_skew_report": (q_key_skew_report, _key_skew_sql()),
    "seasonal_anomalies": (q_seasonal_anomalies, _SQL_SEASONAL_ANOMALIES),
    "approx_aggregates": (q_approx_aggregates, _SQL_APPROX_AGGREGATES),
    "distinct_users_sketch": (q_distinct_users_sketch, _SQL_DISTINCT_USERS_SKETCH),
    "value_quantiles_sketch": (
        q_value_quantiles_sketch,
        _SQL_VALUE_QUANTILES_SKETCH,
    ),
    "pricing_summary": (q_pricing_summary, _SQL_PRICING),
    "range_scan": (q_range_scan, _SQL_RANGE_SCAN),
    "anti_join_new_users": (q_anti_join, _SQL_ANTI_JOIN),
    "mets_broadcast_lookup": (q_mets_lookup, _SQL_METS_LOOKUP),
    "widget_domains": (q_widget_domains, _SQL_WIDGET_DOMAINS),
    "like_filter": (q_like_filter, _SQL_LIKE_FILTER),
    "set_ops": (q_set_ops, _SQL_SET_OPS),
    "topk_orders": (q_topk_orders, _SQL_TOPK),
    # tokenizer inference: fixed-table segment with order-sensitive
    # per-document projections
    "bpe_segment": (q_bpe_segment, _bpe_segment_sql(_SEGMENT_MERGES)),
    # fitted-quantizer IVF: the kmeans_fit -> centroid_arrays -> ivf_topk
    # composition, oracled end-to-end by chaining the kmeans CTEs into
    # the IVF probe SQL
    "knn_ivf_fitted": (q_knn_ivf_fitted, _SQL_KNN_IVF_FITTED),
    # broadcast-PSL eTLD+1: externalized rule table, longest-match join
    "registrable_domain_psl": (
        q_registrable_domain_psl,
        _psl_sql(_psl_query_suffixes()),
    ),
    # audio arm: WAV encode->decode round-trips gated against a
    # formula-derived oracle that never parses bytes
    "wav_decode_stats": (q_wav_decode_stats, _SQL_WAV_STATS),
    "audio_frame_energy": (q_audio_frame_energy, _SQL_AUDIO_ENERGY),
    # video arm: Y4M encode->decode round-trip gated against a
    # formula-derived oracle that never parses bytes (the video twin of
    # wav_decode_stats; completes the image/audio/video triple)
    "video_frame_stats": (q_video_frame_stats, _SQL_VIDEO_STATS),
    # HTML->text extraction: oracle computes the EXPECTED extraction
    # from the raw text column, never parsing HTML
    "html_extract": (q_html_extract, _SQL_HTML_EXTRACT),
    "debounce_events": (q_debounce, _SQL_DEBOUNCE),
    "ewma_smooth": (q_ewma_smooth, _ewma_sql(8)),
    "kmeans_iteration": (q_kmeans_iteration, _SQL_KMEANS),
    "duplicated_spans": (q_duplicated_spans_gate, _SQL_DUPLICATED_SPANS),
    "gopher_flags": (q_gopher_flags, _SQL_GOPHER_FLAGS),
    "pack_sequences": (q_pack_sequences, _SQL_PACK_SEQUENCES),
    "late_shipment_priority": (q_late_shipment_priority, _SQL_LATE_SHIPMENT),
    "customer_order_distribution": (
        q_customer_order_distribution,
        _SQL_CUSTOMER_ORDER_DIST,
    ),
    "promo_revenue_share": (q_promo_revenue_share, _SQL_PROMO_SHARE),
    "brand_supplier_counts": (q_brand_supplier_counts, _SQL_BRAND_SUPPLIER),
    "disjunctive_revenue": (q_disjunctive_revenue, _SQL_DISJUNCTIVE_REVENUE),
    "idle_rich_customers": (q_idle_rich_customers, _SQL_IDLE_RICH),
    "geofence_count": (q_geofence_count, _SQL_GEOFENCE),
    "pii_redaction": (q_pii_redaction, _SQL_PII),
    "volume_shipping": (q_volume_shipping, _SQL_VOLUME_SHIPPING),
    "market_share": (q_market_share, _SQL_MARKET_SHARE),
    "product_profit": (q_product_profit, _SQL_PRODUCT_PROFIT),
    "returned_items": (q_returned_items, _SQL_RETURNED_ITEMS),
    "top_supplier": (q_top_supplier, _SQL_TOP_SUPPLIER),
    "small_qty_revenue": (q_small_qty_revenue, _SQL_SMALL_QTY),
    "waiting_suppliers": (q_waiting_suppliers, _SQL_WAITING_SUPPLIERS),
    "cohort_kpi": (q_cohort_kpi, _SQL_COHORT_KPI),
    "breach_histogram": (q_breach_histogram, _SQL_BREACH_HISTOGRAM),
    "ngram_jaccard_pairs": (q_ngram_jaccard, _SQL_NGRAM_JACCARD),
    "simhash": (q_simhash, _simhash_sql()),
    "multimodal_meta": (q_multimodal_meta, _SQL_MULTIMODAL_META),
    "stream_alerts": (q_stream_alerts, _SQL_STREAM_ALERTS),
    "fft_range_sum": (q_fft_range_sum, _SQL_FFT_RANGE_SUM),
    "user_overlap_sketch": (q_user_overlap_sketch, _SQL_USER_OVERLAP_SKETCH),
    "semantic_dedup": (q_semantic_dedup, _semantic_dedup_sql()),
    "rfm_segments": (q_rfm_segments, _SQL_RFM_SEGMENTS),
    "time_weighted_avg": (q_time_weighted_avg, _SQL_TIME_WEIGHTED_AVG),
    # SCD2 merge-apply; oracle = full rebuild
    "scd2_apply": (q_scd2_apply, _SQL_SCD2),
    # two-iteration fit; oracle unrolls both Lloyd steps
    "kmeans_fit": (q_kmeans_fit, _SQL_KMEANS_FIT),
    # URL/domain curation pair: host+eTLD+1 extraction (independent
    # regexp/list-index oracle) and the salted per-domain cap (oracle =
    # the unsalted one-window form, gating the salted==unsalted law)
    "domain_extract": (q_domain_extract, _SQL_DOMAIN_EXTRACT),
    "domain_cap_sample": (q_domain_cap_sample, _SQL_DOMAIN_CAP),
    # tokenizer training; oracle = 4-step unroll with an independent
    # windowed closed form for greedy merging
    "bpe_merges": (q_bpe_merges, _bpe_sql(4)),
    "bpe_encode": (q_bpe_encode, _bpe_encode_sql(4, 50)),
    # native streaming sessionization, gated by the batch formulation's
    # oracle (complete-mode drain == batch exactly; equality law in
    # tests/test_streaming.py)
    "streaming_sessions": (q_streaming_sessions, _SQL_SESSION_WINDOWS),
    # real streaming job (stream-stream watermarked self-join), gated by
    # the batch range-join oracle; equality law in tests/test_streaming.py
    "stream_stream_join": (q_stream_stream_join, _SQL_STREAM_STREAM_JOIN),
    # real streaming job (windowed Count-Min), within-bound oracle
    "stream_heavy_hitters": (q_stream_heavy_hitters, _SQL_STREAM_HEAVY_HITTERS),
    "bm25_topk": (q_bm25_topk, _bm25_sql()),
    "tfidf_top_terms": (q_tfidf_top_terms, _SQL_TFIDF_TOP_TERMS),
    "embedding_centroids": (q_embedding_centroids, _SQL_EMBEDDING_CENTROIDS),
    "quality_filter_per_lang": (q_quality_filter_per_lang, _quality_filter_sql()),
    "corpus_drift": (q_corpus_drift, _SQL_CORPUS_DRIFT),
    "gap_fill": (q_gap_fill, _SQL_GAP_FILL),
    "forecast_revenue": (q_forecast_revenue, _SQL_FORECAST_REVENUE),
    "funnel_conversion": (q_funnel_conversion, _SQL_FUNNEL_CONVERSION),
    "event_transitions": (q_event_transitions, _SQL_EVENT_TRANSITIONS),
    "rolling_zscore": (q_rolling_zscore, _SQL_ROLLING_ZSCORE),
    # RFC 9309 robots politeness over hand-derived fixed vectors
    "robots_filter": (q_robots_filter, _robots_gate_sql()),
    "session_windows": (q_session_windows, _SQL_SESSION_WINDOWS),
    "dedup_clusters": (q_dedup_clusters, _dedup_clusters_sql()),
    "incremental_dedup": (q_incremental_dedup, _incremental_dedup_sql()),
    "retention_matrix": (q_retention_matrix, _SQL_RETENTION),
    "big_orders": (q_big_orders, _SQL_BIG_ORDERS),
    "boilerplate_ngrams": (q_boilerplate_ngrams, _SQL_BOILERPLATE),
    "corpus_mixture": (q_corpus_mixture, _SQL_CORPUS_MIXTURE),
    "mixture_sample": (q_mixture_sample, _SQL_MIXTURE_SAMPLE),
    "repetition_ratio": (q_repetition_ratio, _SQL_REPETITION),
    "decontaminate": (q_decontaminate, _SQL_DECONTAMINATE),
    # persisted ranking model: snapshot-built unigram counts published
    # through the model store, ingest scored by a separate load with
    # expect_params validation; oracle rebuilds the whole chain
    "ranking_model_scores": (q_ranking_model_scores, _SQL_RANKING_MODEL_SCORES),
    # streaming URL-frontier dedup: canonicalize_url as the frontier
    # key under dropDuplicatesWithinWatermark; oracle = batch DISTINCT
    # of the independently re-derived canonical key
    "stream_url_frontier": (q_stream_url_frontier, _SQL_STREAM_URL_FRONTIER),
    # WARC crawl-archive extraction (pure-stdlib codec, encode->parse
    # round trip, plain + gzip-member layouts); formula-derived oracle
    # never parses bytes — the media-codec gate pattern
    "warc_extract": (q_warc_extract, _SQL_WARC_EXTRACT),
}

# apply the portable-rounding rewrite to every oracle
QUERIES = {
    name: (fn, _portable_round_sql(sql) if sql is not None else None)
    for name, (fn, sql) in QUERIES.items()
}

# The driver's correctness gate hashes the first 50 entries only. One
# rule over its CORRECTNESS_r*.json records picks them: rows that would
# exceed ceil(len(QUERIES) / 50) rounds of staleness next round lead,
# then explicit re-gates, then the stalest rows in record order, with
# never-gated entries in the last slots.
# tests/test_plans.py::test_gate_window_recomputed_from_driver_records
# recomputes this list and prints the next one.
GATE_WINDOW = [
    "streaming_ewma",
    "stream_window_dedup",
    "value_percentile_rank",
    "grid_density",
    "bloom_decontaminate",
    "event_type_pagerank",
    "dedup_keep_best",
    "chi2_independence",
    "source_overlap",
    "pmi_pairs",
    "unigram_nll",
    "streaming_debounce",
    "streaming_anomaly",
    "salted_hot_key_agg",
    "event_paths",
    "brand_top_parts",
    "salted_join_equiv",
    "embedding_gram",
    "embedding_dim_stats",
    "feature_hash_histogram",
    "bigram_nll",
    "vocab_oov_rate",
    "rolling_median",
    "equi_depth_bins",
    "class_balance",
    "acf_lags",
    "kfold_report",
    "quality_top_p",
    "dataset_card",
    "basket_affinity",
    "shrunk_group_means",
    "incremental_agg",
    "langid_confusion",
    "classification_metrics",
    "ewma_backtest",
    "k_anonymity_audit",
    "scd2_lookup",
    "ols_trend_slope",
    "streaming_neardup",
    "stream_distinct_users",
    "byte_histogram",
    "token_counts",
    "trajectories",
    "user_similarity_topk",
    "stable_split",
    "asof_latest_purchase",
    "incident_interval_join",
    "knn_ivf_topk",
    "rollup_cascade",
    "stratified_sample",
]
QUERIES = {name: QUERIES[name] for name in GATE_WINDOW} | QUERIES


def queries() -> dict[str, QueryFn]:
    return {name: fn for name, (fn, _) in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in QUERIES.items() if sql is not None}
