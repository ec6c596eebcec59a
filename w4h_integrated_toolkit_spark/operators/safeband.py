"""Safe-band + breach histogram (SURVEY §2.4 A7/A8; viz.py:179-258).

The reference computes the band client-side then loops over ≤600 buckets in
Python; here both are two declarative aggregations: one scalar agg for the
band/span, one bucketized groupBy. The scalar frame is broadcast — the big
fact scan happens once, map-side, no driver loop.

``safe_band`` and ``breach_histogram`` write their expressions as parsed SQL
over quoted identifiers, with literals rendered to the types ``F.lit`` gives
(:mod:`..functions.sql`), so building a dashboard request costs a few py4j
round trips instead of several per Column-API node.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.sql import ident, literal

__all__ = ["safe_band", "fixed_point_band", "breach_histogram", "alerts"]


def _band_sql(v: str, k: float) -> tuple[str, str]:
    # ``avg - k * stddev`` in the Column API is avg - (stddev * k)
    sd = f"stddev_samp({v}) * {literal(k)}"
    return f"avg({v}) - {sd} AS band_lo", f"avg({v}) + {sd} AS band_hi"


def safe_band(df: DataFrame, value: str = "value", k: float = 2.0) -> DataFrame:
    """A8 (viz.py:192-196): band = mean ± k·stddev (sample) over ALL users."""
    return df.selectExpr(*_band_sql(ident(value), k))


def fixed_point_band(
    df: DataFrame, value: str = "value", k: float = 2.0, scale: float = 1e6
) -> DataFrame:
    """A8 band computed **bit-identically by construction** across engines.

    A plain float ``avg``/``stddev`` is partial-sum-order-dependent: Spark's
    parallel fold and a serial engine's fold can differ in the last ulp, and
    a band edge that lands next to a reading then classifies that reading
    differently — no amount of post-hoc rounding fixes a value that straddles
    the rounding boundary itself. Instead we make every step deterministic:

    1. per-row fixed-point quantize ``round(value*scale)`` (a correctly
       rounded double op — identical everywhere),
    2. exact integer sum S1 and sum-of-squares S2 (decimal(38,0) here,
       HUGEINT in the DuckDB twin — order-independent by exactness),
    3. one fixed sequence of correctly-rounded double ops:
       ``mean = S1/n/scale``;
       ``var = (n*S2 - S1²)/(n*(n-1))/scale²``;  ``band = mean ∓ k·sqrt(var)``.

    IEEE-754 guarantees each individual op (cast, /, sqrt, *, -) is
    correctly rounded, so identical inputs + identical op order ⇒ identical
    bits on any engine. SQL twin: ``_SQL_BAND_CTE`` in plans/queries.py.
    """
    sv = F.round(F.col(value) * F.lit(scale), 0).cast("decimal(38,0)")
    # count(value), not count(*): the sums skip NULL readings, so n must
    # count only the rows that contributed — count(*) would deflate both
    # mean and sigma whenever NULLs exist (matching avg/stddev_samp's
    # NULL-skipping, and count(value) in the SQL twin)
    s = df.agg(
        F.count(F.col(value)).alias("n"),
        F.sum(sv).alias("s1"),
        F.sum(sv * sv).alias("s2"),
    )
    n = F.col("n").cast("double")
    mean = F.col("s1").cast("double") / n / F.lit(scale)
    num = (
        F.col("n").cast("decimal(38,0)") * F.col("s2") - F.col("s1") * F.col("s1")
    ).cast("double")
    var = num / (n * (n - F.lit(1.0))) / F.lit(scale * scale)
    std = F.sqrt(var)
    return s.select(
        (mean - k * std).alias("band_lo"), (mean + k * std).alias("band_hi")
    )


def breach_histogram(
    df: DataFrame,
    ts: str = "timestamp",
    value: str = "value",
    max_buckets: int = 600,
    min_bucket_seconds: float = 30.0,
    k: float = 2.0,
) -> DataFrame:
    """A7 (viz.py:237-258): split the observed time span into at most
    ``max_buckets`` buckets of at least ``min_bucket_seconds``; per bucket,
    the fraction of readings outside the safe band, and the reference's
    opacity ramp ``0.7*ratio + 0.2`` (viz.py:254).

    Plan shape: one scalar aggregate (span + band) cross-joined broadcast
    into the fact scan, then a hash aggregate on the bucket index.
    """
    # cast keeps sub-second precision and matches DuckDB's epoch() exactly
    e, v = f"CAST({ident(ts)} AS DOUBLE)", ident(value)
    scalars = df.selectExpr(
        f"min({e}) AS t0",
        *_band_sql(v, k),
        f"greatest((max({e}) - min({e})) / {literal(max_buckets)}, "
        f"{literal(min_bucket_seconds)}) AS bucket_w",
    )
    return (
        df.join(scalars.hint("broadcast"))
        .groupBy(F.expr(f"CAST(FLOOR(({e} - t0) / bucket_w) AS BIGINT) AS bucket"))
        .agg(
            F.expr("count(1) AS n_total"),
            F.expr(
                f"sum(CASE WHEN ({v} < band_lo) OR ({v} > band_hi) "
                "THEN 1 ELSE 0 END) AS n_unsafe"
            ),
        )
        .selectExpr(
            "*",
            "n_unsafe / n_total AS unsafe_ratio",
            "n_unsafe / n_total * 0.7D + 0.2D AS opacity",
        )
    )


def alerts(
    df: DataFrame,
    ts: str = "timestamp",
    value: str = "value",
    window_seconds: int = 60,
    ratio_threshold: float = 0.5,
    k: float = 2.0,
    band: DataFrame | None = None,
) -> DataFrame:
    """T9 (viz.py:38, ALERT_TIMEOUT=60): alert windows — fixed event-time
    windows where the fraction of readings outside the safe band exceeds
    ``ratio_threshold``.

    Same broadcast-scalars + hash-aggregate shape as breach_histogram, with
    epoch-aligned tumbling windows so the streaming variant (groupBy
    F.window) emits identical window keys. Output is the alert sink's
    schema: (window_start_epoch, n_total, n_unsafe, unsafe_ratio).

    Streaming: pass ``band`` precomputed from historical data (one scalar
    row) — a stream can't aggregate itself into its own predicate; the
    stream-static broadcast join is the standard calibration pattern.
    """
    e = F.col(ts).cast("double")
    if band is None:
        band = df.selectExpr(*_band_sql(ident(value), k))
    unsafe = (F.col(value) < F.col("band_lo")) | (F.col(value) > F.col("band_hi"))
    return (
        df.join(F.broadcast(band))
        .withColumn(
            "window_start_epoch",
            (F.floor(e / window_seconds) * window_seconds).cast("long"),
        )
        .groupBy("window_start_epoch")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(unsafe, 1).otherwise(0)).alias("n_unsafe"),
        )
        .withColumn("unsafe_ratio", F.col("n_unsafe") / F.col("n_total"))
        .filter(F.col("unsafe_ratio") > F.lit(ratio_threshold))
    )
