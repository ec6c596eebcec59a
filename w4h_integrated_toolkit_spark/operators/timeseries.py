"""Per-user time-series operators (SURVEY §2.4 A4-A6, §2.5 W1-W5).

The reference runs these as per-group pandas pipelines (viz.py:80-96); here
they are native window functions over a single
``Window.partitionBy(user).orderBy(ts)`` — one shuffle on ``user_id`` serves
the whole chain (first-ts, baseline mean, elapsed days, lead-gap masking),
and with user-bucketed storage (catalog.write_fact_table) even that shuffle
disappears.

``calibrate_pandas`` is the applyInPandas parity variant kept for testing
exact pandas semantics (SURVEY §2.9 U3).

``resample_mean`` and ``calibrate`` (the dashboard's time-series panel) write
their expressions as parsed SQL over quoted identifiers, with literals
rendered to the types ``F.lit`` gives (:mod:`..functions.sql`): a few py4j
round trips per call instead of several per Column-API node.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.sql import ident, literal

__all__ = [
    "activity_span",
    "stable_mean",
    "resample_mean",
    "rollup_cascade",
    "calibrate",
    "calibrate_pandas",
    "gap_fill_minutes",
    "gap_mask",
    "time_weighted_avg",
    "rolling_zscore",
    "cusum_changepoint",
    "spearman_trend",
    "ewma_smooth",
    "rolling_median",
    "autocorrelation",
]


def stable_mean(value, decimals: int = 6):
    """Order-independent mean for fixed-point data (≤``decimals`` fractional
    digits): exact scaled-integer summation, then double division.

    Float sums depend on partial-aggregation order, which in Spark varies
    with partitioning — so ``avg(double)`` is not run-to-run deterministic on
    a cluster. Sensor values are fixed-point decimals; summing them as
    scaled BIGINTs is exact, making the mean bit-identical regardless of
    partition count (and reproducible by any other engine). Long sums stay
    in whole-stage codegen (measured ~2x faster than the DECIMAL
    accumulator, same speed as plain avg()).

    Overflow bound: requires sum(|x|·10^decimals) < 2^63, i.e. ~9·10^12 of
    absolute value at 6 decimals — ample for per-group means; switch the
    cast to ``decimal(38,6)`` for whole-table sums beyond that.
    """
    c = F.col(value) if isinstance(value, str) else value
    scale = F.lit(float(10**decimals))
    return (
        F.sum(F.round(c * scale, 0).cast("long")).cast("double") / scale / F.count(c)
    )


def activity_span(df: DataFrame, user: str = "user_id", ts: str = "timestamp") -> DataFrame:
    """A4 (viz.py:765-766): per-user [first, last] activity timestamps."""
    return df.groupBy(user).agg(
        F.min(ts).alias("start_date"), F.max(ts).alias("end_date")
    )


def resample_mean(
    df: DataFrame,
    duration: str = "1 minute",
    user: str = "user_id",
    ts: str = "timestamp",
    value: str = "value",
    stable_decimals: int | None = None,
) -> DataFrame:
    """A6 (data_preproc.ipynb cell 7): per-user fixed-bucket mean downsample.

    ``F.window`` tumbling buckets == pandas ``resample('1T').mean().dropna()``
    (empty buckets simply don't exist in groupBy output, matching dropna).
    ``stable_decimals`` switches to the order-independent decimal mean.
    """
    u, d = ident(user), literal(duration)
    return (
        df.groupBy(u, F.expr(f"window({ident(ts)}, {d}, {d}, '0 second') AS w"))
        .agg(F.expr(f"{_mean_sql(ident(value), stable_decimals)} AS mean_value"))
        .selectExpr(u, "w.start AS bucket_start", "mean_value")
    )


def _mean_sql(v: str, stable_decimals: int | None, over: str = "") -> str:
    """SQL of ``avg(v)``, or of :func:`stable_mean` when ``stable_decimals``
    is set, with the same IEEE operation order; ``over`` (e.g.
    ``" OVER (PARTITION BY u)"``) turns both aggregates into windows."""
    if stable_decimals is None:
        return f"avg({v}){over}"
    sc = literal(float(10**stable_decimals))
    return (
        f"CAST(sum(CAST(round({v} * {sc}, 0) AS BIGINT)){over} AS DOUBLE)"
        f" / {sc} / count({v}){over}"
    )


def gap_fill_minutes(
    df: DataFrame,
    ts: str = "ts",
    value: str = "value",
    key: str = "user_id",
    round_decimals: int | None = 6,
) -> DataFrame:
    """Dense per-key minute grid with forward-filled gaps — the sensor
    gap-filling step a dashboard or model-feature pipeline runs before
    anything that assumes regular sampling (the reference instead lets
    pandas reindex per request, viz.py's resample path; here the grid is
    computed once, distributed).

    Per key: every minute from the key's first to last observed minute;
    observed minutes carry the stable (order-independent) mean of their
    readings, missing minutes the last observed mean (LOCF). Emits
    (key, minute_epoch, filled_value, is_observed). The first grid minute
    is observed by construction, so filled_value is never null.

    Plan shape: one (key, minute) aggregate, a bounds aggregate feeding a
    per-key ``sequence`` explode (grid rows are generated distributed,
    never collected), a left join back, and ONE partitioned window for
    the fill — all keyed exchanges, no global ordering anywhere. The
    grid's size is bounded by key-activity spans, so callers slice the
    time range FIRST (predicate pushes into the scan) rather than
    gridding unbounded history."""
    from pyspark.sql import Window

    minute = F.floor(F.col(ts).cast("double") / F.lit(60.0)).cast("long")
    mean = stable_mean(value, 6)
    if round_decimals is not None:
        scale = F.lit(float(10**round_decimals))
        mean = F.round(mean * scale, 0) / scale
    mm = (
        df.select(F.col(key), minute.alias("m"), F.col(value).alias(value))
        .groupBy(key, "m")
        .agg(mean.alias("v"))
    )
    bounds = mm.groupBy(key).agg(F.min("m").alias("lo"), F.max("m").alias("hi"))
    grid = bounds.select(F.col(key), F.explode(F.sequence("lo", "hi")).alias("m"))
    j = grid.join(mm, [key, "m"], "left")
    w = (
        Window.partitionBy(key)
        .orderBy("m")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return j.select(
        F.col(key),
        (F.col("m") * F.lit(60)).alias("minute_epoch"),
        F.last("v", ignorenulls=True).over(w).alias("filled_value"),
        F.col("v").isNotNull().cast("long").alias("is_observed"),
    )


def rollup_cascade(
    df: DataFrame,
    resolutions_seconds: list[int] | None = None,
    keys: list[str] | None = None,
    ts: str = "ts",
    value: str = "value",
    decimals: int = 6,
) -> DataFrame:
    """Hypertable-style multi-resolution rollup (continuous-aggregate
    cascade): epoch-aligned buckets at each resolution, where every coarser
    level is computed FROM the next finer level's partials — sum of sums,
    sum of counts, min of mins, max of maxs — never from raw rows.

    ``resolutions_seconds`` must be coarsening multiples (default minute →
    hour → day). The raw table is scanned and shuffled ONCE: each level is
    materialized (eager localCheckpoint — persist level 0 and refresh
    coarser levels from it is exactly the continuous-aggregate
    discipline) before the next folds it, because the union otherwise
    references every finer level's subtree once per coarser branch and
    Spark re-plans the raw aggregation per branch (exchange reuse across
    union arms is canonicalization-dependent — not something to bet a
    100 TB scan on). Level cardinalities shrink ~bucket_width-fold per
    step, so everything past level 0 is negligible.

    The mean is derived at the end from exact scaled-long sums
    (see :func:`stable_mean`), so it is identical whether computed at the
    fine or coarse level — float partial-mean averaging would not be.

    Output: one row per (resolution_seconds, *keys, bucket_start_epoch)
    with n, vsum (rounded back to ``decimals``), vmin, vmax, vavg.
    """
    resolutions = resolutions_seconds or [60, 3600, 86400]
    for fine, coarse in zip(resolutions, resolutions[1:]):
        if coarse % fine:
            raise ValueError(f"{coarse}s is not a multiple of {fine}s")
    keys = keys or []
    scale = F.lit(float(10**decimals))
    finest = resolutions[0]
    level = (
        df.groupBy(
            *keys,
            (F.floor(F.col(ts).cast("double") / finest) * finest)
            .cast("long")
            .alias("bucket_start_epoch"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col(value) * scale, 0).cast("long")).alias("_ssum"),
            F.min(value).alias("vmin"),
            F.max(value).alias("vmax"),
        )
        .localCheckpoint(eager=True)
    )
    levels = [level.withColumn("resolution_seconds", F.lit(finest).cast("long"))]
    for res in resolutions[1:]:
        level = (
            level.groupBy(
                *keys,
                (F.floor(F.col("bucket_start_epoch") / res) * res)
                .cast("long")
                .alias("bucket_start_epoch"),
            )
            .agg(
                F.sum("n").alias("n"),
                F.sum("_ssum").alias("_ssum"),
                F.min("vmin").alias("vmin"),
                F.max("vmax").alias("vmax"),
            )
            .localCheckpoint(eager=True)
        )
        levels.append(level.withColumn("resolution_seconds", F.lit(res).cast("long")))
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out.select(
        "resolution_seconds",
        *keys,
        "bucket_start_epoch",
        "n",
        (F.col("_ssum").cast("double") / scale).alias("vsum"),
        "vmin",
        "vmax",
        (F.col("_ssum").cast("double") / scale / F.col("n")).alias("vavg"),
    )


def calibrate(
    df: DataFrame,
    user: str = "user_id",
    ts: str = "timestamp",
    value: str = "value",
    gap_days: float = 0.5,
    stable_decimals: int | None = None,
) -> DataFrame:
    """The METs calibration pipeline (viz.py:80-96) as native windows:

    - baseline = 1 / per-user mean (A5, viz.py:88-90) -> scaled value
    - days_since_start from per-user first timestamp (W1-W2, viz.py:92)
    - null out a reading when the gap to the NEXT reading exceeds
      ``gap_days`` (lead, not lag — viz.py:93's diff().shift(-1))

    ``stable_decimals`` makes the per-user baseline mean order-independent
    (see :func:`stable_mean`).
    """
    u, t, v = ident(user), ident(ts), ident(value)
    w_user = f" OVER (PARTITION BY {u})"
    # cast-to-double keeps sub-second precision (unix_timestamp truncates)
    e = f"CAST({t} AS DOUBLE)"
    out = df.withColumns({
        "days_since_start": F.expr(f"({e} - min({e}){w_user}) / {literal(86400.0)}"),
        "scaled_value": F.expr(f"{v} / ({_mean_sql(v, stable_decimals, w_user)})"),
    })
    gap_to_next = (
        f"lead(days_since_start, 1) OVER (PARTITION BY {u} ORDER BY {t})"
        " - days_since_start"
    )
    return out.withColumn(
        "scaled_value",
        F.expr(
            f"CASE WHEN {gap_to_next} > {literal(gap_days)} THEN NULL "
            "ELSE scaled_value END"
        ),
    )


def calibrate_pandas(df: DataFrame, gap_days: float = 0.5) -> DataFrame:
    """Exact-pandas-parity variant of :func:`calibrate` via applyInPandas
    (U3 escape hatch) — used in tests to pin the native-window version to the
    reference's pandas semantics (viz.py:80-96)."""
    schema = (
        "user_id string, timestamp timestamp, value double, "
        "days_since_start double, scaled_value double"
    )

    def _one_user(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("timestamp").reset_index(drop=True)
        first = pdf["timestamp"].iloc[0]
        pdf["days_since_start"] = (pdf["timestamp"] - first).dt.total_seconds() / 86400.0
        baseline = 1.0 / pdf["value"].mean()
        scaled = pdf["value"] * baseline
        gap_next = pdf["days_since_start"].diff().shift(-1)
        pdf["scaled_value"] = scaled.where(~(gap_next > gap_days), other=None)
        return pdf

    return df.groupBy("user_id").applyInPandas(_one_user, schema)


def gap_mask(
    df: DataFrame,
    gap_seconds: float,
    user: str = "user_id",
    ts: str = "timestamp",
    value: str = "value",
    out: str = "masked_value",
) -> DataFrame:
    """W3/W4 standalone: null a reading when the next reading (per user, time
    order) is more than ``gap_seconds`` away (viz.py:93; 2 h variant
    viz.py:944)."""
    w = Window.partitionBy(user).orderBy(ts)
    gap = F.lead(F.col(ts).cast("double"), 1).over(w) - F.col(ts).cast("double")
    return df.withColumn(
        out, F.when(gap > gap_seconds, F.lit(None)).otherwise(F.col(value))
    )


def time_weighted_avg(
    df: DataFrame,
    ts: str = "ts",
    value: str = "value",
    key: str = "user_id",
    order_tiebreak: str = "event_id",
    bucket: str = "day",
) -> DataFrame:
    """Time-weighted average over irregularly sampled readings: per
    (key, bucket), the trapezoidal integral of the value between
    consecutive samples divided by the covered time span — the correct
    "average heart rate today" when samples arrive at uneven intervals
    (a plain mean over-weights burst periods; the reference's pandas
    dashboards resample to a grid first, viz.py, which distorts exactly
    this). Segments are consecutive same-key sample pairs whose BOTH
    endpoints fall in the same bucket; boundary-crossing segments are
    excluded (so a bucket's answer never depends on a neighbor's data —
    the property that makes the computation embarrassingly parallel).

    Plan: ONE exchange on the key for the lead() window, then a hash
    aggregate on (key, bucket) — segment contributions are fixed-point
    µ-scaled longs (each segment's trapezoid area is an IEEE-identical
    per-row product in any engine; the SUM is integer-exact in any
    order), so results are partition-count-invariant and
    oracle-reproducible. Buckets with zero covered span (all samples
    simultaneous, or a single sample) produce no row.
    """
    # the explicit tiebreak makes simultaneous samples pair deterministically
    # — ties are NOT harmless here: which neighbor a tied sample pairs with
    # changes the trapezoid endpoints, not just a zero-width segment
    w = Window.partitionBy(key).orderBy(ts, order_tiebreak)
    e1 = F.col(ts).cast("double")
    seg = (
        df.select(
            key,
            F.col(ts),
            F.col(value).alias("_v1"),
            F.lead(ts).over(w).alias("_ts2"),
            F.lead(value).over(w).alias("_v2"),
        )
        .filter(
            F.col("_ts2").isNotNull()
            & (F.date_trunc(bucket, ts) == F.date_trunc(bucket, "_ts2"))
        )
        .select(
            key,
            F.date_trunc(bucket, ts).cast("double").cast("long").alias("bucket_epoch"),
            F.round(
                (F.col("_ts2").cast("double") - e1)
                * (F.col("_v1") + F.col("_v2"))
                / F.lit(2.0)
                * F.lit(1e6),
                0,
            )
            .cast("long")
            .alias("_num"),
            F.round((F.col("_ts2").cast("double") - e1) * F.lit(1e6), 0)
            .cast("long")
            .alias("_den"),
        )
    )
    g = seg.groupBy(key, "bucket_epoch").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum("_num").alias("_sn"),
        F.sum("_den").alias("_sd"),
    )
    return g.filter(F.col("_sd") > 0).select(
        key,
        "bucket_epoch",
        "n_segments",
        (F.round(F.col("_sn").cast("double") / F.col("_sd").cast("double") * 1e6, 0) / 1e6).alias("twa"),
    )


def rolling_zscore(
    df: DataFrame,
    ts: str = "ts",
    value: str = "value",
    key: str = "user_id",
    order_tiebreak: str = "event_id",
    lookback: int = 20,
    min_periods: int = 5,
    threshold: float = 3.0,
) -> DataFrame:
    """Trailing-window anomaly detection: flag readings whose z-score
    against the PRECEDING ``lookback`` same-key samples exceeds
    ``threshold`` — the streaming-friendly "is this value abnormal for
    this subject" check (the current row is excluded from its own
    baseline, so a spike can't mask itself). Rows with fewer than
    ``min_periods`` predecessors or a degenerate (zero-variance) baseline
    are never flagged.

    Plan: ONE exchange on the key; mean/variance come from integer
    window sums of milli-scaled values (sum and sum-of-squares over the
    frame), so the baseline is bit-identical in any engine and any
    partitioning — including the strict variance>0 guard, which is an
    INTEGER comparison (n·Σv² > (Σv)²) immune to float cancellation.
    The z expression itself is then a fixed sequence of IEEE ops over
    integer-exact inputs. Scaling bounds: |value| ≤ ~9e6 at milli
    precision before Σv² risks int64 overflow at lookback 20 — far above
    any physiological or telemetry signal this targets.
    """
    w = (
        Window.partitionBy(key)
        .orderBy(ts, order_tiebreak)
        .rowsBetween(-lookback, -1)
    )
    vi = F.round(F.col(value) * 1e3, 0).cast("long")
    base = df.filter(F.col(value).isNotNull()).select(
        key,
        order_tiebreak,
        ts,
        value,
        F.sum(vi).over(w).alias("_s1"),
        F.sum(vi * vi).over(w).alias("_s2"),
        F.count(vi).over(w).alias("_n"),
    )
    s1d = F.col("_s1").cast("double")
    s2d = F.col("_s2").cast("double")
    nd = F.col("_n").cast("double")
    mean = s1d / (F.lit(1e3) * nd)
    std = F.sqrt((s2d - s1d * s1d / nd) / (nd - F.lit(1.0))) / F.lit(1e3)
    z = (F.col(value) - mean) / std
    return (
        base.filter(
            (F.col("_n") >= min_periods)
            & (F.col("_n") * F.col("_s2") > F.col("_s1") * F.col("_s1"))
        )
        .withColumn("z", F.round(z * F.lit(1e4), 0) / F.lit(1e4))
        .filter(F.abs(F.col("z")) > threshold)
        .select(key, order_tiebreak, ts, value, "z", F.col("_n").alias("n_baseline"))
    )


def cusum_changepoint(
    df: DataFrame,
    ts: str = "ts",
    value: str = "value",
    key: str = "user_id",
    order_tiebreak: str = "event_id",
    min_samples: int = 8,
) -> DataFrame:
    """Single most likely mean-shift changepoint per key, by the classic
    CUSUM statistic: with per-key samples v_1..v_n (time order) and mean
    m, the cumulative deviation path C_k = Σ_{i<=k}(v_i - m) returns to 0
    at k=n; a sustained level shift makes |C_k| peak at the shift point.
    Emits per key the peak magnitude (mean absolute deviation units,
    ``cusum_max``) and the timestamp of the FIRST sample attaining it.

    Exactness: work in the integer domain D_k = n·P_k − k·S (P_k =
    prefix sum of milli-scaled values, S = their total) — equal to
    n·1000·C_k, so argmax/ties/comparisons are integer-exact in any
    engine and any partitioning; the only float op is the final
    normalization D_max/(n·1000), rounded portably. Overflow bound:
    |D_k| ≤ 2·n·Σ|v_i|·10³, safe in int64 up to ~n²·v̄ ≈ 9·10¹⁵ —
    ~3·10⁶ samples per key at v̄~10³; beyond that, switch the two
    products to decimal(38,0).

    Plan: ONE exchange on the key — the ordered prefix-sum window, the
    unbounded total/count windows, and the final per-key argmax aggregate
    all share hash(key) clustering. The argmax is a one-pass
    max-of-struct (peak, earliest-ts) — no second scan, no join-back.
    """
    w = Window.partitionBy(key).orderBy(ts, order_tiebreak)
    wall = Window.partitionBy(key)
    vi = F.round(F.col(value) * 1e3, 0).cast("long")
    rows = df.filter(F.col(value).isNotNull()).select(
        key,
        F.col(ts),
        F.sum(vi).over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("_p"),
        F.row_number().over(w).alias("_k"),
        F.sum(vi).over(wall).alias("_s"),
        F.count(vi).over(wall).alias("_n"),
    )
    d = F.col("_n") * F.col("_p") - F.col("_k") * F.col("_s")
    scored = rows.filter(F.col("_n") >= min_samples).select(
        key,
        F.col(ts),
        F.col("_n"),
        F.abs(d).alias("_absd"),
    )
    # max struct: largest |D|, then earliest ts (negated µs so max = first)
    peak = F.max(
        F.struct(
            F.col("_absd"),
            (-F.round(F.col(ts).cast("double") * 1e6, 0).cast("long")).alias(
                "_neg_ts"
            ),
        )
    )
    g = scored.groupBy(key).agg(
        peak.alias("_peak"), F.max("_n").alias("n_samples")
    )
    return g.select(
        key,
        "n_samples",
        (
            F.round(
                F.col("_peak._absd").cast("double")
                / (F.col("n_samples").cast("double") * F.lit(1e3))
                * F.lit(1e4),
                0,
            )
            / F.lit(1e4)
        ).alias("cusum_max"),
        (-F.col("_peak._neg_ts")).alias("changepoint_epoch_us"),
    )


def spearman_trend(
    df: DataFrame,
    ts: str = "ts",
    value: str = "value",
    key: str = "user_id",
    min_samples: int = 8,
    decimals: int = 5,
) -> DataFrame:
    """Per-key Spearman rank correlation between time and value — the
    robust "is this subject's signal drifting monotonically" detector
    (rho ~ +1 sustained rise, ~ -1 decline, ~0 stationary; unlike Pearson
    it ignores the drift's shape and any outlier magnitude).

    Exactness: average ranks are kept in the INTEGER domain as
    2·avgrank = 2·rank + ties − 1, so every rank, tie split, and moment
    sum (Sx, Sy, Sxx, Syy, Sxy) is integer-exact in any engine/
    partitioning; rho then evaluates as one fixed IEEE expression over
    those exact integers, rounded portably. Degenerate keys (all values
    tied — zero rank variance) are excluded by a denominator>0 guard
    that is itself deterministic (0.0 exactly when degenerate).
    Overflow bound: Σ(2r)² ≤ 4n³ per key — int64-safe to ~10⁶ samples
    per key; switch the moment sums to decimal(38,0) beyond.

    Plan: ONE exchange on the key; the four rank windows (two orders ×
    rank/tie-count) re-sort within the same hash(key) partitioning —
    tie-count windows cluster on (key, x) which hash(key) satisfies —
    and the final moment aggregate rides the same exchange.
    """
    kx = Window.partitionBy(key)
    tus = F.round(F.col(ts).cast("double") * 1e6, 0).cast("long")
    base = df.filter(F.col(value).isNotNull()).select(
        key, tus.alias("_x"), F.col(value).alias("_y")
    )
    def r2(col):
        rnk = F.rank().over(Window.partitionBy(key).orderBy(col))
        ties = F.count(F.lit(1)).over(Window.partitionBy(key, col))
        return 2 * rnk + ties - 1

    ranked = base.select(
        key, r2(F.col("_x")).alias("_rx"), r2(F.col("_y")).alias("_ry")
    )
    g = ranked.groupBy(key).agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.sum("_rx").alias("_sx"),
        F.sum("_ry").alias("_sy"),
        F.sum(F.col("_rx") * F.col("_rx")).alias("_sxx"),
        F.sum(F.col("_ry") * F.col("_ry")).alias("_syy"),
        F.sum(F.col("_rx") * F.col("_ry")).alias("_sxy"),
    )
    nd = F.col("n_samples").cast("double")
    num = nd * F.col("_sxy").cast("double") - F.col("_sx").cast(
        "double"
    ) * F.col("_sy").cast("double")
    dx = nd * F.col("_sxx").cast("double") - F.col("_sx").cast(
        "double"
    ) * F.col("_sx").cast("double")
    dy = nd * F.col("_syy").cast("double") - F.col("_sy").cast(
        "double"
    ) * F.col("_sy").cast("double")
    scale = F.lit(float(10**decimals))
    return (
        g.filter((F.col("n_samples") >= min_samples) & (dx > 0) & (dy > 0))
        .select(
            key,
            "n_samples",
            (F.round(num / (F.sqrt(dx) * F.sqrt(dy)) * scale, 0) / scale).alias(
                "spearman_rho"
            ),
        )
    )


def ewma_smooth(
    df: DataFrame,
    ts: str = "ts",
    value: str = "value",
    key: str = "user_id",
    horizon: int = 8,
    order_tiebreak: str = "event_id",
) -> DataFrame:
    """Finite-horizon exponentially-weighted moving average (α = 1/2) per
    key in event order: ewma_t = Σ_{i<horizon} 2^{-(i+1)} · x_{t−i},
    renormalized over the weights actually present (sequence starts and
    null samples contribute nothing rather than dragging toward 0).

    NaN samples are normalized to NULL up front (``nanvl``) and thus
    skipped by the renormalizing fold exactly like NULLs — the same
    convention the streaming twin applies via ``pd.isna`` (whose Arrow
    round-trip also surfaces NaN as NULL), so the stream==batch
    bit-equality law holds on NaN-bearing inputs too instead of the
    batch side silently poisoning the window with NaN arithmetic.

    α is FIXED at 1/2 by design, not a parameter: dyadic weights are
    exact in binary floating point (each term is an exponent shift of
    x), the Σ w·x fold is written as one fixed left-to-right chain, and
    the final renormalizing division is IEEE-exact — so the smoothed
    value is bit-identical in any engine, which is what lets the gate
    hash it. An arbitrary α (or the classic recursive EWMA) reintroduces
    libm/associativity drift; the infinite-tail mass beyond ``horizon``
    is ≤ 2^-horizon of the total (0.4% at 8), i.e. the truncation is
    smaller than sensor noise.

    Plan: ONE exchange on the key; the ``horizon`` lags share the same
    window sort, the weighted fold is a map-side expression after it.
    """
    if not 1 <= horizon <= 32:
        raise ValueError(f"horizon must be in [1, 32], got {horizon}")
    w = Window.partitionBy(key).orderBy(ts, order_tiebreak)
    v = F.nanvl(F.col(value).cast("double"), F.lit(None).cast("double"))
    num = F.lit(0.0)
    den = F.lit(0.0)
    for i in range(horizon):
        x = v if i == 0 else F.lag(v, i).over(w)
        weight = 2.0 ** -(i + 1)
        num = num + F.coalesce(x * F.lit(weight), F.lit(0.0))
        den = den + F.when(x.isNotNull(), F.lit(weight)).otherwise(F.lit(0.0))
    return df.select(
        key,
        F.col(ts),
        F.col(order_tiebreak),
        v.alias(value),
        F.when(den > 0, num / den).alias("ewma"),
    )


def rolling_median(
    df: DataFrame,
    k: int = 5,
    ts: str = "ts",
    value: str = "value",
    key: str = "user_id",
    order_tiebreak: str = "event_id",
) -> DataFrame:
    """Exact trailing-``k`` rolling median per key in event order — the
    robust denoising twin of the mean-based trailing KPIs (one spiked
    sample moves a k=5 mean by 20% of the spike and the median not at
    all). The DISCRETE lower-median convention (element ⌈n/2⌉ of the
    sorted window, n = rows actually present) keeps the result a value
    that occurred — and, computed on µ-scaled longs, bit-exact in any
    engine, where interpolated medians inherit float division drift.
    NULL samples are absent from the window (n shrinks, same convention
    as ewma_smooth's renormalization); a window of all-NULLs yields a
    NULL median.

    Plan: ONE exchange on the key; the window is rows-bounded (k−1
    preceding), so state per row is O(k) — collect_list + array_sort on
    a ≤k array is a codegen'd expression, not a Python path. k is
    bounded [1, 64] to keep the per-row sort trivially cheap.
    """
    if not 1 <= k <= 64:
        raise ValueError(f"k must be in [1, 64], got {k}")
    w = (
        Window.partitionBy(key)
        .orderBy(ts, order_tiebreak)
        .rowsBetween(-(k - 1), 0)
    )
    v_us = F.round(F.col(value).cast("double") * 1e6, 0).cast("long")
    arr = F.array_sort(F.collect_list(v_us).over(w))
    n = F.size(arr)
    # an all-NULL window leaves an empty array — element_at(_, 0) raises,
    # so the median must gate on n (the documented NULL-window contract)
    med = F.when(n > 0, F.element_at(arr, ((n + 1) / 2).cast("int")))
    return df.select(
        key,
        F.col(order_tiebreak),
        F.col(ts),
        n.cast("long").alias("n_in_window"),
        med.alias("median_us"),
    )


def autocorrelation(
    series: DataFrame,
    lags: tuple[int, ...] = (1, 2, 3),
    key: str = "event_type",
    idx: str = "m",
    value: str = "x",
) -> DataFrame:
    """Pearson autocorrelation of a regular integer series at the given
    lags, per key — the seasonality probe (strong ACF at lag 60/1440
    minutes = hourly/daily structure) a pipeline runs before choosing
    window sizes or seasonal baselines. ``series`` must carry an integer
    grid index ``idx``, UNIQUE per (key, idx) — duplicate grid rows
    would cross-join in the lag match — and an INTEGER-QUANTIZED value
    ``value`` (the registry entry feeds floor-mean per-minute
    aggregates, unique by construction; any exact integer series
    works).

    Engine-exactness: all six sufficient statistics (n, Σx, Σy, Σxy,
    Σx², Σy²) are exact int64 sums over the lag pairs; the final r
    combines them in DOUBLE as a fixed sequence of correctly-rounded
    ops on identical integers, so both engines compute the identical
    float. Overflow bound: requires n·max(x)² < 2⁶³ — at milli-scaled
    values ≤1e6 that allows ~9·10⁶ grid points per key (document the
    coarser quantization escape hatch beyond that, same convention as
    linalg.embedding_gram).

    Plan: the lag set explodes the left side ×|lags| map-side, then ONE
    equi join on (key, idx+lag) — never a non-equi range join — and one
    (key, lag) aggregate. Keys with fewer than 2 pairs or zero variance
    emit NULL r (undefined, not 0).
    """
    if not lags or any(l <= 0 for l in lags):
        raise ValueError(f"lags must be positive, got {lags}")
    a = series.select(
        F.col(key).alias("_k"),
        F.col(idx).alias("_m"),
        F.col(value).cast("long").alias("_x"),
        F.explode(F.array(*[F.lit(int(l)) for l in lags])).alias("lag"),
    ).withColumn("_mj", F.col("_m") + F.col("lag"))
    b = series.select(
        F.col(key).alias("_k"),
        F.col(idx).alias("_mj"),
        F.col(value).cast("long").alias("_y"),
    )
    pairs = a.join(b, ["_k", "_mj"])
    agg = pairs.groupBy("_k", "lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_x").alias("sx"),
        F.sum("_y").alias("sy"),
        F.sum(F.col("_x") * F.col("_y")).alias("sxy"),
        F.sum(F.col("_x") * F.col("_x")).alias("sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ).cast("double")
    vx = nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ).cast("double")
    vy = nd * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col(
        "sy"
    ).cast("double")
    r = F.when((F.col("n") >= 2) & (vx > 0) & (vy > 0), num / F.sqrt(vx * vy))
    return agg.select(
        F.col("_k").alias(key),
        F.col("lag").cast("long").alias("lag"),
        F.col("n").cast("long").alias("n_pairs"),
        r.alias("acf"),
    )
