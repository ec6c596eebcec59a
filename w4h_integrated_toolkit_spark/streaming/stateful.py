"""Custom stateful streaming operators (SURVEY §2.8 T6/T7).

The reference accumulates *all* streamed rows into client-side session
frames and recomputes running KPIs and per-user trajectory paths each tick
(viz.py:737-821) — unbounded memory by design. The Spark-native shape is
keyed state in the state store: per-key state is O(counters + tail), not
O(rows seen), and it is partitioned across executors (the client-frame
approach can never leave one machine).

- :func:`running_user_stats` — T6: running n/mean/min/max per user,
  emitted every micro-batch (the "entire-so-far KPIs" the reference
  recomputes from the full frame each tick). Its state is four
  aggregates, so it is a native streaming aggregation: the state lives in
  the JVM state store and no Python worker runs per trigger.
- :func:`trajectory_tails` — T7: per-user trajectory tail (last K points,
  time-ordered), the map-polyline state, bounded at K points per user.
  This and the other operators below keep state no built-in aggregate
  can express, so they run ``applyInPandasWithState`` with an explicit
  Spark SQL state schema (the state store serializes exactly those
  columns).

All emit per micro-batch (update semantics).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

__all__ = [
    "running_user_stats",
    "trajectory_tails",
    "streaming_exact_dedup",
    "streaming_dedup_within_watermark",
    "streaming_anomaly_flags",
    "streaming_debounce",
    "streaming_ewma",
]

# ``n`` and ``total`` are never NULL (a count, and a sum coalesced to 0.0)
_STATS_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n", T.LongType(), nullable=False),
        T.StructField("total", T.DoubleType(), nullable=False),
        T.StructField("mean", T.DoubleType()),
        T.StructField("min_value", T.DoubleType()),
        T.StructField("max_value", T.DoubleType()),
    ]
)


def running_user_stats(
    events: DataFrame, user: str = "user_id", value: str = "value"
) -> DataFrame:
    """Running per-user KPIs (``_STATS_OUT``: user_id, n, total, mean,
    min_value, max_value) over a streaming or a batch DataFrame.

    A native ``groupBy().agg(count, sum, min, max)``: on a stream the
    four aggregates per user are the state, kept in the JVM state store
    and hash-partitioned by key — constant-size state however long the
    stream runs (vs the reference's grow-forever frames), and no Python
    worker on the trigger path. In update mode each micro-batch emits
    one row per user it touched, with that user's totals so far; on a
    batch frame the same plan gives the one-shot answer.

    NULL and NaN values are skipped (NaN is mapped to NULL first, as
    pandas skips it). ``n`` counts the values kept, ``total`` is 0.0 and
    ``mean`` NULL while ``n`` is 0, and a user whose values are all
    NULL/NaN gets NULL ``min_value``/``max_value``.
    """
    from pyspark.sql import functions as F

    v = F.col(value).cast("double")
    kept = F.when(~F.isnan(v), v)
    stats = events.groupBy(F.col(user).cast("long").alias("user_id")).agg(
        F.count(kept).alias("n"),
        F.coalesce(F.sum(kept), F.lit(0.0)).alias("total"),
        F.min(kept).alias("min_value"),
        F.max(kept).alias("max_value"),
    )
    return stats.select(
        "user_id",
        "n",
        "total",
        F.when(F.col("n") > 0, F.col("total") / F.col("n")).alias("mean"),
        "min_value",
        "max_value",
    )


_DEDUP_OUT = T.StructType(
    [
        T.StructField("content_key", T.StringType()),
        T.StructField("keep_id", T.LongType()),
    ]
)
_DEDUP_STATE = T.StructType(
    [
        T.StructField("keep_id", T.LongType()),
        T.StructField("n_seen", T.LongType()),
    ]
)


def streaming_exact_dedup(
    docs: DataFrame, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Streaming exact dedup: each distinct content is emitted exactly once,
    on first arrival (ties within one micro-batch break to the min id) —
    the incremental counterpart of :func:`..operators.dedup.exact_dedup`
    for a continuously-ingested corpus.

    Keyed state is ONE (keep_id, n_seen) row per distinct content — O(1)
    per key however long the stream runs, hash-partitioned across
    executors by the state store. Later duplicates update the counter and
    emit nothing, so the sink only ever receives first-seen documents
    (append semantics downstream).

    The key is the content MD5, computed JVM-side before the state
    operator, so the Python worker only ever sees (key, id) pairs — the
    document bodies never cross into Python.
    """
    from pyspark.sql import functions as F

    keyed = docs.select(
        F.md5(F.col(text)).alias("content_key"), F.col(id_col).alias("_id")
    )

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        total, mn = 0, None
        for pdf in pdfs:
            total += len(pdf)
            m = int(pdf["_id"].min())
            mn = m if mn is None else min(mn, m)
        if state.exists:
            keep, n = state.get
            state.update((keep, n + total))
            return  # duplicate content: count it, emit nothing
        state.update((mn, total))
        yield pd.DataFrame({"content_key": [key[0]], "keep_id": [mn]})

    return keyed.groupBy("content_key").applyInPandasWithState(
        update,
        outputStructType=_DEDUP_OUT,
        stateStructType=_DEDUP_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_TRAJ_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_points", T.LongType()),
        T.StructField("path", T.ArrayType(T.ArrayType(T.DoubleType()))),
    ]
)
_TRAJ_STATE = T.StructType(
    [
        T.StructField("lats", T.ArrayType(T.DoubleType())),
        T.StructField("lons", T.ArrayType(T.DoubleType())),
        T.StructField("n_total", T.LongType()),
    ]
)


def trajectory_tails(
    events: DataFrame,
    tail: int = 100,
    user: str = "user_id",
    ts: str = "ts",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Per-user trajectory tail: last ``tail`` [lat, lon] points in event-time
    order (the reference's map polyline, viz.py:814-821, with bounded state).

    Replay delivers batches time-ordered (stream_sim.py:147), so within-key
    ordering only needs a per-batch sort; state truncates to the tail.
    A point with a NULL or NaN coordinate counts in ``n_points`` but never
    enters the path: it has no position to draw, and a NULL inside the
    emitted ``path`` array fails the JVM read of the Python output."""

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            lats, lons, n_total = state.get
            lats, lons = list(lats), list(lons)
        else:
            lats, lons, n_total = [], [], 0
        for pdf in pdfs:
            n_total += len(pdf)
            pdf = pdf.dropna(subset=[lat, lon]).sort_values(ts)
            lats.extend(float(x) for x in pdf[lat])
            lons.extend(float(x) for x in pdf[lon])
        lats, lons = lats[-tail:], lons[-tail:]
        state.update((lats, lons, n_total))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_points": [n_total],
                "path": [[[la, lo] for la, lo in zip(lats, lons)]],
            }
        )

    return events.groupBy(user).applyInPandasWithState(
        update,
        outputStructType=_TRAJ_OUT,
        stateStructType=_TRAJ_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_dedup_within_watermark(
    docs: DataFrame,
    event_time: str = "ts",
    horizon: str = "1 hour",
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming dedup with WATERMARK-BOUNDED state: duplicates arriving
    within ``horizon`` of each other are suppressed; state for a key is
    evicted once the watermark passes it.

    The complement of :func:`streaming_exact_dedup`, whose state grows with
    the number of distinct contents forever — correct, but on an unbounded
    corpus the state store itself becomes a 100 TB problem. Ingestion
    duplicates are overwhelmingly temporally close (at-least-once sources,
    retries, replayed batches), so bounding the dedup window bounds state
    at O(arrival rate x horizon) regardless of stream lifetime. Engine-
    native (``dropDuplicatesWithinWatermark``): no Python in the path, and
    the document body never leaves the JVM (the key is the MD5 computed in
    the same projection).

    Emits append-mode rows (content_key, doc id, event time); first
    arrival wins within a micro-batch per Spark's dedup semantics.
    """
    from pyspark.sql import functions as F

    keyed = docs.select(
        F.md5(F.col(text)).alias("content_key"),
        F.col(id_col),
        F.col(event_time),
    )
    return keyed.withWatermark(event_time, horizon).dropDuplicatesWithinWatermark(
        ["content_key"]
    )


_ANOM_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("z", T.DoubleType()),
        T.StructField("n_baseline", T.LongType()),
    ]
)
_ANOM_STATE = T.StructType([T.StructField("tail", T.ArrayType(T.LongType()))])


def streaming_anomaly_flags(
    events: DataFrame,
    user: str = "user_id",
    value: str = "value",
    ts: str = "ts",
    order_tiebreak: str = "event_id",
    lookback: int = 20,
    min_periods: int = 5,
    threshold: float = 3.0,
) -> DataFrame:
    """Streaming twin of :func:`operators.timeseries.rolling_zscore`: flag
    readings whose z-score against the key's trailing ``lookback`` samples
    exceeds ``threshold``, as rows arrive — the live "abnormal reading"
    alert the reference recomputes from full client-side frames each tick
    (viz.py:737-821). Per-key state is ONE bounded array (the last
    ``lookback`` milli-scaled values), not the history.

    Equality law (tested): on a per-key time-ordered replay the emitted
    flags equal the batch operator's exactly — the baseline sums are
    integer arithmetic over the same tail, and the z expression is the
    SAME IEEE op sequence (including the half-away-from-zero 1e-4
    rounding; Python's round() is banker's and is avoided). Ordering
    caveat: state sees rows batch-by-batch; rows are sorted within each
    batch, so cross-batch equality holds when the source replays in key
    order (availableNow over a sorted file, or ReplaySource) — the same
    contract trajectory_tails documents.
    """
    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        def _away(x, scale):
            return np.sign(x) * np.floor(np.abs(x) * scale + 0.5)

        tail = (
            np.asarray(state.get[0], dtype=np.int64)
            if state.exists
            else np.zeros(0, dtype=np.int64)
        )
        frames: list[pd.DataFrame] = []
        for pdf in pdfs:
            pdf = pdf.dropna(subset=[value]).sort_values([ts, order_tiebreak])
            if not len(pdf):
                continue
            v = pdf[value].to_numpy(dtype=np.float64)
            vi = _away(v, 1e3).astype(np.int64)
            comb = np.concatenate([tail, vi])
            # prefix sums in int64: bounded by lookback·|v·1e3|² per step and
            # batch-length·|v·1e3|² overall (~3e16 at 1e5 rows of |v|≤561 —
            # far inside int64; re-derive if values exceed ~1e6)
            cs1 = np.concatenate([[0], np.cumsum(comb)])
            cs2 = np.concatenate([[0], np.cumsum(comb * comb)])
            pos = np.arange(len(tail), len(comb))
            lo = np.maximum(0, pos - lookback)
            n = pos - lo
            s1 = cs1[pos] - cs1[lo]
            s2 = cs2[pos] - cs2[lo]
            ok = (n >= min_periods) & (n * s2 > s1 * s1)
            if ok.any():
                nd = n[ok].astype(np.float64)
                s1d = s1[ok].astype(np.float64)
                s2d = s2[ok].astype(np.float64)
                # the batch operator's EXACT IEEE op sequence (incl. the
                # half-away-from-zero 1e-4 rounding; np.round is banker's)
                mean = s1d / (1e3 * nd)
                std = np.sqrt((s2d - s1d * s1d / nd) / (nd - 1.0)) / 1e3
                z = (v[ok] - mean) / std
                z = _away(z, 1e4) / 1e4
                flag = np.abs(z) > threshold
                if flag.any():
                    sel = pdf.iloc[np.flatnonzero(ok)[flag]]
                    frames.append(
                        pd.DataFrame(
                            {
                                "user_id": key[0],
                                "event_id": sel[order_tiebreak].to_numpy(),
                                "ts": sel[ts].to_numpy(),
                                "value": v[ok][flag],
                                "z": z[flag],
                                "n_baseline": n[ok][flag],
                            }
                        )
                    )
            tail = comb[-lookback:] if len(comb) > lookback else comb
        state.update(([int(x) for x in tail],))
        if frames:
            yield pd.concat(frames, ignore_index=True)

    return events.groupBy(user).applyInPandasWithState(
        update,
        outputStructType=_ANOM_OUT,
        stateStructType=_ANOM_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_DEBOUNCE_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts_us", T.LongType()),
    ]
)
_DEBOUNCE_STATE = T.StructType([T.StructField("last_us", T.LongType())])


def streaming_debounce(
    events: DataFrame,
    cooldown_seconds: int = 300,
    user: str = "user_id",
    type_col: str = "event_type",
    ts: str = "ts",
    order_tiebreak: str = "event_id",
) -> DataFrame:
    """Streaming twin of :func:`..operators.etl.debounce_events`: emit an
    event iff it is the first of its (user, type) group or at least
    ``cooldown_seconds`` after the PREVIOUS event of that group — burst
    suppression as a standing query. Per-key state is ONE int64 (the last
    seen event-time µs), the O(1)-state payoff of the lag formulation
    over "gap from last KEPT" (which needs the same single int64, but
    diverges from the batch window twin; see the batch docstring).

    Equality law (tested): on a per-key time-ordered replay the kept set
    equals the batch operator's exactly — the gap comparison is the same
    integer µs arithmetic, applied in the same (ts, tiebreak) order
    (rows are sorted within each micro-batch; cross-batch order is the
    replay contract documented on trajectory_tails).
    """
    from pyspark.sql import functions as F

    cooldown_us = int(cooldown_seconds) * 1_000_000
    keyed = events.select(
        F.col(user).alias("user_id"),
        F.col(type_col).alias("event_type"),
        F.col(order_tiebreak).alias("event_id"),
        F.round(F.col(ts).cast("double") * 1e6, 0).cast("long").alias("ts_us"),
    )

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        frames = [f for f in pdfs if len(f)]
        if not frames:
            return
        pdf = frames[0] if len(frames) == 1 else pd.concat(
            frames, ignore_index=True
        )
        pdf = pdf.sort_values(["ts_us", "event_id"], ignore_index=True)
        # gap measures from the previous EVENT, kept or not — so keep is
        # a pure integer diff against the previous row (vectorized; the
        # first row diffs against the stored last-seen µs, or is always
        # kept when the key is new). Exact int64 math, no fold needed.
        import numpy as np

        ts_arr = pdf["ts_us"].to_numpy(dtype="int64")
        if state.exists:
            prepend = np.int64(state.get[0])
            keep = np.diff(ts_arr, prepend=prepend) >= cooldown_us
        else:
            keep = np.empty(len(ts_arr), dtype=bool)
            keep[0] = True
            keep[1:] = np.diff(ts_arr) >= cooldown_us
        state.update((int(ts_arr[-1]),))
        out = pdf[keep]
        if len(out):
            yield out
    return keyed.groupBy("user_id", "event_type").applyInPandasWithState(
        update,
        outputStructType=_DEBOUNCE_OUT,
        stateStructType=_DEBOUNCE_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_EWMA_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts_us", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("ewma", T.DoubleType()),
    ]
)
_EWMA_STATE = T.StructType(
    [T.StructField("tail", T.ArrayType(T.DoubleType()))]
)


def streaming_ewma(
    events: DataFrame,
    horizon: int = 8,
    user: str = "user_id",
    value: str = "value",
    ts: str = "ts",
    order_tiebreak: str = "event_id",
) -> DataFrame:
    """Streaming twin of :func:`..operators.timeseries.ewma_smooth`
    (α = 1/2, finite horizon): per arriving row, the renormalized dyadic
    EWMA over the key's last ``horizon`` samples. Per-key state is ONE
    bounded array (the trailing ``horizon − 1`` values, nulls included
    as placeholders so gaps renormalize identically to the batch lag
    formulation) — O(horizon) however long the stream runs.

    Equality law (tested): on a per-key time-ordered replay the emitted
    rows equal the batch operator's exactly — the weighted fold is the
    SAME IEEE op sequence (dyadic weights, fixed left-to-right order),
    so not even a float bit differs (same contract as
    streaming_anomaly_flags vs rolling_zscore).
    """
    from pyspark.sql import functions as F

    if not 1 <= horizon <= 32:
        raise ValueError(f"horizon must be in [1, 32], got {horizon}")
    keyed = events.select(
        F.col(user).alias("user_id"),
        F.col(order_tiebreak).alias("event_id"),
        F.round(F.col(ts).cast("double") * 1e6, 0).cast("long").alias("ts_us"),
        F.col(value).cast("double").alias("value"),
    )

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        frames = [f for f in pdfs if len(f)]
        if not frames:
            return
        pdf = frames[0] if len(frames) == 1 else pd.concat(
            frames, ignore_index=True
        )
        pdf = pdf.sort_values(["ts_us", "event_id"], ignore_index=True)
        tail: list = list(state.get[0]) if state.exists else []
        # Vectorized across the batch's rows, SEQUENTIAL across lags, so
        # each element's accumulation is the batch operator's exact IEEE
        # op sequence: num starts 0.0 and adds lag-0*w1, lag-1*w2, … in
        # order, SKIPPING null lags (np.where keeps num untouched — not
        # "+ 0.0", which would flip a -0.0 accumulator). nan marks null.
        vals = pdf["value"].to_numpy(dtype=np.float64, na_value=np.nan)
        tail_arr = np.asarray(
            [np.nan if x is None else float(x) for x in tail],
            dtype=np.float64,
        )
        arr = np.concatenate([tail_arr, vals])
        pos = np.arange(len(tail_arr), len(arr))
        num = np.zeros(len(pos))
        den = np.zeros(len(pos))
        for i in range(horizon):
            idx = pos - i
            in_range = idx >= 0
            xi = arr[np.maximum(idx, 0)]
            w = 2.0 ** -(i + 1)
            m = in_range & ~np.isnan(xi)
            num = np.where(m, num + xi * w, num)
            den = np.where(m, den + w, den)
        covered = den > 0
        ewma = np.divide(
            num, den, out=np.full(len(pos), np.nan), where=covered
        )
        new_tail = arr[-(horizon - 1):] if horizon > 1 else arr[:0]
        state.update(
            ([None if np.isnan(x) else float(x) for x in new_tail],)
        )
        res = pdf.copy()
        # object column with real None for uncovered rows — the same
        # null signalling the scalar fold emitted (nan is only a null
        # sentinel for rows the mask proved covered)
        res["ewma"] = ewma
        if not covered.all():
            res["ewma"] = res["ewma"].astype(object).where(
                pd.Series(covered, index=res.index), None
            )
        yield res
    return keyed.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_EWMA_OUT,
        stateStructType=_EWMA_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
