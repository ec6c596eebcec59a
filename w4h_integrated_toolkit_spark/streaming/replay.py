"""Replay streaming (SURVEY §2.8 T1-T9).

The reference simulates near-real-time analytics by replaying historical
tables through a Flask endpoint at a pacing knob (stream_sim.py:42-83):
batches of BATCH distinct timestamps every TIMEOUT seconds, with seek-to-
start, fast-forward, and loop-around. Structured Streaming gives us the
execution substrate; this module supplies the replay semantics:

- :class:`ReplaySource` — batch-driven replay: deterministic micro-batches
  of N distinct timestamps from a static DataFrame, with seek (T3), pacing
  (T1), fast-forward scale (T2) and loop (O7). Drives ``foreachBatch``-style
  consumers and tests without wall-clock waits.
- :func:`windowed_kpis_stream` — the standing streaming query: event-time
  tumbling/hopping window aggregates with a watermark (T5, T8).
- :func:`run_windowed_kpis_batchmode` — runs that exact streaming query over
  a file source with ``availableNow`` + memory sink, synchronously; used by
  the driver-facing registry so the streaming path is exercised in batch
  test environments.

Scale notes: the replay cursor is data-defined (distinct event times), so a
production deployment swaps the file source for Kafka with no change to the
windowed query; watermark bounds state (the reference instead accumulates
client frames unboundedly, viz.py:742-747).
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Iterator
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "ReplaySource",
    "windowed_kpis_stream",
    "windowed_distinct_stream",
    "sessionized_stream",
    "drain_memory_sink",
    "run_windowed_kpis_batchmode",
    "file_stream",
    "python_state_partitions",
    "interval_pair_stream",
    "run_interval_pair_batchmode",
    "windowed_heavy_hitters_stream",
    "run_windowed_heavy_hitters_batchmode",
    "run_debounce_batchmode",
    "run_streaming_ewma_batchmode",
]


class ReplaySource:
    """Deterministic micro-batch replay of a static event-time DataFrame.

    Semantics mirror stream_sim.py: ``seek(start)`` clamps to the data span
    and positions the cursor at the first distinct timestamp >= start
    (stream_sim.py:65-83); ``next_batch()`` returns all rows carrying the
    next ``batch_size`` distinct timestamps (stream_sim.py:42-62);
    ``loop=True`` wraps the cursor at end-of-data (stream_sim.py:60-61).

    The distinct-timestamp index is collected once (timestamps only — tiny
    relative to the data); each batch is a range filter on the cached source
    so Spark prunes/pushes down per batch.

    ``max_index_size`` bounds that driver-side collect: the simulator's
    intended inputs have few distinct stamps (the reference's demo replays
    13.5 days at 15 s cadence ≈ 78k stamps), but pointed at
    high-resolution event-time data the index would be unbounded. Above
    the cap we raise with the fix spelled out (coarsen the cursor with
    ``date_trunc`` or drive the real streaming path, windowed_kpis_stream)
    rather than silently OOM-ing the driver.
    """

    def __init__(
        self,
        df: DataFrame,
        ts_col: str = "timestamp",
        batch_size: int = 1,
        loop: bool = False,
        max_index_size: int = 1_000_000,
    ):
        self.df = df
        self.ts_col = ts_col
        self.batch_size = batch_size
        self.loop = loop
        # one job: the cap probe IS the index collect (limit cap+1 rows)
        rows = (
            df.select(ts_col)
            .distinct()
            .orderBy(ts_col)
            .limit(max_index_size + 1)
            .collect()
        )
        if len(rows) > max_index_size:
            raise ValueError(
                f"ReplaySource: >{max_index_size:,} distinct {ts_col!r} values; "
                "the driver-side replay cursor is for simulator-scale data. "
                "Coarsen the cursor (e.g. date_trunc('second', ts)) or use "
                "the streaming path (windowed_kpis_stream) instead."
            )
        self._stamps: list[datetime] = [r[0] for r in rows]
        self._pos = 0

    def __len__(self) -> int:
        """Number of distinct timestamps in the replay index."""
        return len(self._stamps)

    @property
    def span(self) -> tuple[datetime, datetime]:
        return self._stamps[0], self._stamps[-1]

    def seek(self, start: datetime) -> datetime:
        """Position at first timestamp >= start, clamped to span; returns the
        actual start (the reference returns it to the client too)."""
        lo, hi = self.span
        start = max(lo, min(start, hi))
        import bisect

        self._pos = bisect.bisect_left(self._stamps, start)
        return self._stamps[self._pos]

    def next_batch(self) -> DataFrame | None:
        """Rows of the next ``batch_size`` distinct timestamps; None at end
        (or wraps when loop=True)."""
        if self._pos >= len(self._stamps):
            if not self.loop:
                return None
            self._pos = 0
        take = self._stamps[self._pos : self._pos + self.batch_size]
        self._pos += len(take)
        lo, hi = take[0], take[-1]
        c = F.col(self.ts_col)
        return self.df.filter((c >= F.lit(lo)) & (c <= F.lit(hi)))

    def batches(self, limit: int | None = None) -> Iterator[DataFrame]:
        n = 0
        while limit is None or n < limit:
            b = self.next_batch()
            if b is None:
                return
            yield b
            n += 1


def windowed_kpis_stream(
    events: DataFrame,
    ts: str = "ts",
    value: str = "value",
    window: str = "10 minutes",
    slide: str | None = None,
    watermark: str = "30 minutes",
    keys: list[str] | None = None,
):
    """The standing streaming aggregation (T5 + T8): event-time windows with
    a watermark so state is GC'd — works identically on batch DataFrames."""
    from ..operators.timeseries import stable_mean

    grouped_keys = [F.window(ts, window, slide).alias("w")] + [
        F.col(k) for k in (keys or [])
    ]
    return (
        events.withWatermark(ts, watermark)
        .groupBy(*grouped_keys)
        .agg(
            F.count(F.lit(1)).alias("n"),
            # order-independent mean: exact decimal sum, so results are
            # bit-identical whatever the micro-batch/partition split
            stable_mean(value).alias("avg_value"),
            F.min(value).alias("min_value"),
            F.max(value).alias("max_value"),
        )
    )


def windowed_distinct_stream(
    events: DataFrame,
    ts: str = "ts",
    key: str = "user_id",
    window: str = "10 minutes",
    slide: str | None = None,
    watermark: str = "30 minutes",
    lg_k: int = 12,
):
    """Streaming distinct-cardinality windows: how many distinct ``key``
    values were active per event-time window — the reference dashboard's
    "active subjects right now" panel (stream_sim.py feeds per-batch user
    sets to viz.py), as a standing watermarked aggregation.

    Exact ``countDistinct`` is not supported in streaming aggregations
    (per-window key sets would be unbounded state); the HLL sketch
    aggregate IS streaming-legal — per-window state is one 2^lg_k-register
    sketch regardless of key cardinality, merged incrementally across
    micro-batches. Emits the window, the exact row count, and the sketch
    estimate (``approx_distinct``). lg_k=12 → ~1.6% σ, the same cube
    parameter as `operators.sketches.hll_cube`; works identically on batch
    DataFrames (stream-batch unification, pinned by test).

    State-eviction caveat: Spark GCs window state via the watermark only
    in ``append``/``update`` output modes — a standing production query
    should use one of those. The registry entry
    (``stream_distinct_users``) instead runs a bounded ``availableNow``
    replay in ``complete`` mode (every window re-emitted at termination,
    needed for the deterministic gate result); there, state is bounded by
    the finite input, not by watermark eviction."""
    grouped = events.withWatermark(ts, watermark).groupBy(
        F.window(ts, window, slide).alias("w")
    )
    return grouped.agg(
        F.count(F.lit(1)).alias("n"),
        F.hll_sketch_estimate(
            F.hll_sketch_agg(F.col(key), F.lit(lg_k))
        ).alias("approx_distinct"),
    )


# State-partition sizing for BOUNDED availableNow replays. Streaming is
# the one place AQE cannot right-size a shuffle: the state-partition
# count is fixed at the first checkpoint and every micro-batch pays a
# per-partition fixed cost (state-store open/commit/maintenance — a
# stream-stream join keeps FOUR stores per partition; an
# applyInPandasWithState op a Python worker round-trip per partition).
# Measured on local[32] at sf0.1: stream_stream_join 6.1 s → 2.6 s and
# sessionization 5.3 s → 4.5 s going 32 → 8 state partitions, with
# bit-identical results (state operators are key-hash partitioned, so
# the partition count never changes WHAT is computed). A STANDING
# production query should size this to its state volume (pass ``None``
# to inherit the session/cluster setting); the bounded replays behind
# the gate/bench/oracle surface carry driver-sized state by contract,
# so a small fixed count is the right default there.
BOUNDED_REPLAY_STATE_PARTITIONS = 8


def python_state_partitions(spark: SparkSession, cap: int = 32) -> int:
    """State-partition count for bounded replays whose stateful operator
    round-trips a PYTHON worker per key group (``applyInPandasWithState``).

    The 8-partition default above is sized to the JVM state-store fixed
    cost (open/commit/maintenance per store per micro-batch), which is
    the right trade for engine-native stateful operators. A Python
    stateful operator has a different cost profile — measured r17 at
    sf0.1/local[32]: per-GROUP Python overhead (serializer round-trip +
    pandas assembly, ~2-4 ms/group) dominates the state-store fixed
    cost, and the groups in one partition are processed sequentially by
    one Python worker. Parallelism should therefore track cores:
    debounce (7,500 groups) measured 4.2 s at 8 partitions → 2.6 s at
    32; ewma/anomaly (1,500 groups) 2.2/2.4 s → ~1.7-2.0 s at 16-32.
    JVM-state ops measured the OPPOSITE direction (stream-stream join
    2.8 s at 8 → 7.0 s at 32 — four stores per partition), so this
    helper is only for Python-stateful drains. Scale-adaptive by
    construction: an 8-core run derives 8.

    ``stateful.running_user_stats`` is no longer Python-stateful: it is a
    native streaming aggregation with JVM state, so this count is not
    sized for it (a caller that still passes it gets a cores-sized JVM
    state store)."""
    return max(1, min(cap, spark.sparkContext.defaultParallelism))


def _ephemeral_checkpoint_dir(master: str | None = None) -> str | None:
    """A fresh checkpoint dir for ONE bounded availableNow replay, on a
    RAM-backed filesystem when one is available (``$W4H_EPHEMERAL_CKPT``
    overrides; ``/dev/shm`` default when ``master`` is ``local[...]``;
    None → engine temp-dir behavior). Returns a plain local path: the
    caller hands Spark its ``file://`` URI (a scheme-less path would
    resolve against ``fs.defaultFS``, e.g. HDFS) and removes the plain
    path afterwards.

    ``/dev/shm`` is node-local, so it is only a default when the driver
    and every executor share the node: on a cluster master the
    checkpoint is left to the engine unless ``$W4H_EPHEMERAL_CKPT``
    names a location explicitly.

    The bounded replays behind the gate/bench/oracle surface return
    their result synchronously and their checkpoint is deleted before
    the call returns — the checkpoint's durability guarantees buy
    nothing, so its fsync/IO cost is pure overhead (same reasoning as
    the ``localCheckpoint`` sink localization). Measured r17: the WAL +
    offset/commit-log + state-store-delta writes cost ~0.1-0.2 s per
    replay on /tmp (disk). A STANDING production query must pass its
    own durable ``checkpointLocation`` and never route through this."""
    import tempfile

    base = os.environ.get("W4H_EPHEMERAL_CKPT")
    if (
        base is None
        and (master or "").startswith("local")
        and os.path.isdir("/dev/shm")
        and os.access("/dev/shm", os.W_OK)
    ):
        base = "/dev/shm"
    if not base:
        return None
    try:
        return tempfile.mkdtemp(prefix="w4h_ckpt_", dir=base)
    except OSError:
        return None


def bounded_replay_session(
    spark: SparkSession,
    state_partitions: int | None = BOUNDED_REPLAY_STATE_PARTITIONS,
    ns_long: bool = False,
) -> SparkSession:
    """Dedicated session for a bounded replay: shares the SparkContext
    and table cache with ``spark`` but owns a PRIVATE SQLConf. It is the
    ONE place a replay's state-partition count is decided: the pin (and
    the parquet ns-timestamp toggle) is baked into the clone, so it never
    mutates the shared session, and :func:`drain_memory_sink` never
    touches a conf — a streaming query snapshots the SQLConf of the
    session its stream was built on at ``start()``.

    The clone is the JVM ``cloneSession()``: one call that copies the
    parent's runtime SQLConf (session timezone, AQE toggles, test shuffle
    sweeps …), the isolation Spark's own ``StreamExecution`` gives each
    query. The pin is then applied on top; ``state_partitions=None``
    inherits the parent's count (a standing query sized to its state
    volume). ``ns_long=True`` sets ``spark.sql.legacy.parquet.nanosAsLong``
    on the clone (``file_stream``'s ns-timestamp sources) and never on the
    parent. A fresh clone per call costs ~2-4 ms (4 vCPU), so nothing is
    cached.
    """
    clone = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
    if state_partitions is not None:
        clone.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    if ns_long:
        clone.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return clone


def drain_memory_sink(
    out: DataFrame,
    output_mode: str,
    name_prefix: str = "w4h_sink_",
    stage_dir: str | None = None,
) -> DataFrame:
    """Run a streaming DataFrame to completion (``availableNow`` trigger)
    through a memory sink and return the result LOCALIZED as a fresh batch
    DataFrame: the uuid-named sink temp view is dropped and the optional
    symlink-staging dir removed before returning. Without this, every
    invocation (driver gate, parity sweep, bench) accumulated one
    in-memory sink table + one mkdtemp dir for the life of the session.

    Localization is an eager ``localCheckpoint`` — the sink rows are
    copied into executor-side storage blocks and the returned DataFrame
    scans those, never the (dropped) sink view. This keeps the result
    distributed instead of round-tripping it through the driver as
    Python ``Row`` objects (a 91k-row sessionization result measured
    4.5 s → 1.2 s end-to-end). Memory-sink results are driver-sized by
    construction (windowed aggregates / verified candidate pairs), so
    the blocks are small; they are freed by the context cleaner when the
    returned DataFrame is garbage-collected.

    A micro-batch over more than 32 new files (a catch-up replay of a
    backlog) resolves its files with a Spark listing job; the session's
    ``parallelPartitionDiscovery.parallelism`` (pinned to the cores by
    ``session.get_spark``/``prepare_session``) bounds that job to the
    core count rather than one task per file.

    The drain reads and writes no conf: the query runs with the SQLConf
    of the session ``out`` was built on, state-partition count included.
    Streams opened by :func:`file_stream` carry the bounded-replay pin of
    their :func:`bounded_replay_session`; a stream built directly on a
    caller's session runs at that session's
    ``spark.sql.shuffle.partitions``."""
    import shutil

    spark = out.sparkSession
    name = name_prefix + uuid.uuid4().hex[:8]
    # per-drain ephemeral checkpoint (RAM-backed when available): fresh
    # mkdtemp per start so a prior run's checkpoint can never be resumed
    # (a resume would skip reprocessing — the opposite of the bounded
    # replay contract), removed in the finally below
    ckpt_dir = None
    try:
        ckpt_dir = _ephemeral_checkpoint_dir(spark.sparkContext.master)
        writer = (
            out.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
        )
        if ckpt_dir is not None:
            writer = writer.option(
                "checkpointLocation", "file://" + os.path.abspath(ckpt_dir)
            )
        q = writer.start()
        q.awaitTermination()
        # eager: materialize the blocks BEFORE the finally drops the view
        result = spark.table(name).localCheckpoint(eager=True)
    finally:
        # cleanup also on a failed start/replay — a crashing stream must
        # not leak its staging dir or half-registered sink view either
        try:
            spark.catalog.dropTempView(name)
        except Exception:
            pass
        if stage_dir is not None:
            shutil.rmtree(stage_dir, ignore_errors=True)
        if ckpt_dir is not None:
            shutil.rmtree(ckpt_dir, ignore_errors=True)
    return result


def run_windowed_kpis_batchmode(spark: SparkSession, events_path: str) -> DataFrame:
    """Execute the streaming windowed-KPI query end-to-end synchronously:
    parquet file source -> watermark -> window agg -> memory sink
    (availableNow). Returns the sink contents as a DataFrame."""
    stream, stage = file_stream(spark, events_path)
    agg = windowed_kpis_stream(stream, ts="ts", value="value", window="10 minutes")
    # complete mode so every window is emitted at termination (append would
    # hold back windows the final watermark hasn't passed yet)
    out = drain_memory_sink(
        agg, "complete", name_prefix="w4h_stream_kpis_", stage_dir=stage
    )
    scale = F.lit(1e6)
    return out.select(
        F.col("w.start").cast("long").alias("window_start_epoch"),
        "n",
        (F.round(F.col("avg_value") * scale, 0) / scale).alias("avg_value"),
        F.col("min_value"),
        F.col("max_value"),
    )


def sessionized_stream(
    events: DataFrame,
    ts: str = "ts",
    key: str = "user_id",
    gap: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming sessionization via the engine's native session windows:
    ``F.session_window`` merges per-key state-store windows as events
    arrive — the streaming twin of the batch `session_windows` entry
    (same gap semantics: a gap of EXACTLY the threshold starts a new
    session), one row per finalized (key, session).

    Output-mode semantics (same caveat family as
    :func:`windowed_distinct_stream`): in ``append`` mode a session is
    emitted only once the watermark passes its close — on a bounded
    availableNow replay the last sessions per key are never finalized
    and stay in state. The registry entry therefore drains in
    ``complete`` mode, where the bounded input (not watermark eviction)
    bounds state and the emitted set equals the batch computation
    exactly. A standing production query would run append mode and
    accept close-delayed emission.
    """
    from pyspark.sql import functions as F

    return (
        events.withWatermark(ts, watermark)
        .groupBy(key, F.session_window(ts, gap).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(ts).alias("_first"),
            F.max(ts).alias("_last"),
        )
    )


def file_stream(
    spark: SparkSession,
    path: str,
    prefix: str = "w4h_stream_",
    state_partitions: int | None = BOUNDED_REPLAY_STATE_PARTITIONS,
) -> tuple[DataFrame, str | None]:
    """Open a parquet file/dir as a file-source stream with the same
    normalization as the batch reader (ns->µs truncation), staging a bare
    file behind a symlink dir (the file source requires a directory).
    Returns (stream, stage_dir) — pass stage_dir to
    :func:`drain_memory_sink` so it is removed even on failure.

    The ONE constructor of a bounded replay's stream. It is built on a
    :func:`bounded_replay_session` clone, so neither the ns-timestamp
    toggle nor the replay state-partition pin ever mutates the caller's
    session conf. Downstream transformations stay on the clone
    automatically (they derive from the returned DataFrame). A
    stream-static join builds its static side on ``stream.sparkSession``
    so both sides share the clone's SQLConf; the streaming query plans
    that side inside each micro-batch with the clone's settings either
    way.

    A micro-batch that picks up more than 32 files is listed by a Spark
    job bounded to the cores: the clone inherits the parent's
    ``parallelPartitionDiscovery.parallelism`` (see ``session.py``),
    so a catch-up batch of ~650 small files costs a few listing tasks,
    not one per file. Batches of 32 files or fewer are listed on the
    driver.

    ``state_partitions`` is baked into the clone (default: the module's
    JVM-state-store-sized constant); drains whose stateful operator is a
    PYTHON worker round-trip should pass
    :func:`python_state_partitions` instead (see its docstring for the
    measured trade)."""
    import tempfile

    from ..catalog import ns_timestamp_columns

    ns_cols = ns_timestamp_columns(path)
    # ns-timestamp sources need the nanosAsLong toggle; it is set on the
    # private clone only, never on the caller's session
    spark = bounded_replay_session(
        spark, state_partitions=state_partitions, ns_long=bool(ns_cols)
    )
    schema = spark.read.parquet(path).schema
    stage = None
    if os.path.isfile(path):
        stage = tempfile.mkdtemp(prefix=prefix)
        os.symlink(path, os.path.join(stage, os.path.basename(path)))
    stream = spark.readStream.schema(schema).parquet(stage or path)
    for c in ns_cols:
        stream = stream.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` DIV 1000")))
    return stream, stage


def interval_pair_stream(
    events: DataFrame,
    ts: str = "ts",
    key: str = "user_id",
    type_col: str = "event_type",
    left_type: str = "view",
    right_type: str = "purchase",
    max_lag: str = "2 hours",
    watermark: str = "4 hours",
    id_col: str = "event_id",
) -> DataFrame:
    """Stream-stream interval self-join (T-surface extension): pair each
    ``left_type`` event with every same-key ``right_type`` event landing
    in ``[left.ts, left.ts + max_lag]`` — attribution / conversion-lag
    matching as a STANDING query (the reference recomputes such funnels
    per dashboard request over the full history; viz.py funnel panels).

    State story (the part that matters for an unbounded run): both sides
    carry a watermark and the join condition bounds event-time distance,
    so Spark derives a state watermark and evicts both join buffers —
    state is O(events inside the lag+watermark horizon), not O(history).
    INNER join results emit as soon as they match (append mode; no
    watermark-close wait — that caveat applies to outer joins only).

    Works identically on batch inputs (the oracle/equality twin: one
    key-equi range join, broadcast/shuffle chosen by the planner).
    """
    is_stream = events.isStreaming
    l = events.filter(F.col(type_col) == left_type).select(
        F.col(key).alias("l_key"),
        F.col(ts).alias("l_ts"),
        F.col(id_col).alias("left_event_id"),
    )
    r = events.filter(F.col(type_col) == right_type).select(
        F.col(key).alias("r_key"),
        F.col(ts).alias("r_ts"),
        F.col(id_col).alias("right_event_id"),
    )
    if is_stream:
        l = l.withWatermark("l_ts", watermark)
        r = r.withWatermark("r_ts", watermark)
    joined = l.join(
        r,
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {max_lag}")),
        "inner",
    )
    lag_us = (
        F.round(F.col("r_ts").cast("double") * 1e6, 0).cast("long")
        - F.round(F.col("l_ts").cast("double") * 1e6, 0).cast("long")
    )
    return joined.select(
        F.col("l_key").alias(key),
        "left_event_id",
        "right_event_id",
        lag_us.alias("lag_us"),
    )


def run_interval_pair_batchmode(spark: SparkSession, events_path: str) -> DataFrame:
    """Execute the stream-stream pair join end-to-end synchronously
    (file source -> watermarked self-join -> append-mode memory sink,
    availableNow) and return the localized matches."""
    stream, stage = file_stream(spark, events_path, prefix="w4h_pairjoin_")
    out = interval_pair_stream(stream)
    return drain_memory_sink(out, "append", name_prefix="w4h_pairs_", stage_dir=stage)


def windowed_heavy_hitters_stream(
    events: DataFrame,
    ts: str = "ts",
    key: str = "user_id",
    window: str = "1 hour",
    watermark: str = "2 hours",
    eps: float = 0.01,
    confidence: float = 0.99,
    seed: int = 42,
) -> DataFrame:
    """Per-window Count-Min sketches as a standing query — "who are the
    heavy users this hour" over an unbounded stream with BOUNDED state:
    one mergeable CM sketch (width ~2/eps counters) + one count per
    window, regardless of how many distinct keys the window saw (the
    exact windowed groupBy(key) alternative holds keys×windows state).
    Same output-mode caveat family as windowed_distinct_stream: the
    registry's bounded availableNow replay drains in ``complete`` mode;
    a standing append-mode query relies on the watermark for state GC.
    Interrogate the emitted sketches downstream against a bounded
    watchlist (see run_windowed_heavy_hitters_batchmode)."""
    return (
        events.withWatermark(ts, watermark)
        .groupBy(F.window(ts, window).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_min_sketch(
                key, F.lit(float(eps)), F.lit(float(confidence)), F.lit(seed)
            ).alias("sk"),
        )
    )


def run_windowed_heavy_hitters_batchmode(
    spark: SparkSession,
    events_path: str,
    candidates: list,
    key: str = "user_id",
    eps: float = 0.01,
) -> DataFrame:
    """Execute the windowed CM stream synchronously and interrogate each
    window's sketch for the (bounded) candidate watchlist. Returns one
    row per (window, candidate) that actually occurred, carrying the
    exact batch count as the oracle twin and a flag asserting the CM
    contract on this data: estimate ≥ exact (never under — counter
    additivity) and ≤ exact + max(1, 2·⌈eps·N_window⌉). The overshoot
    side of the one-sided Markov bound only holds with probability
    ``confidence`` (0.99) PER probe, so a many-probe gate run can
    legitimately see a rare excursion; doubling the eps·N slack makes
    the flag a break-detector rather than a per-probe tail lottery.
    The DuckDB twin hardcodes the flag to 1 — deterministic for the
    pinned seed and green at all three sfs, but re-validate this slack
    if the test data or seed ever changes. Driver work is
    O(windows × candidates) sketch probes — bounded by construction."""
    stream, stage = file_stream(spark, events_path, prefix="w4h_cm_stream_")
    agg = windowed_heavy_hitters_stream(stream, key=key, eps=eps)
    sk_rows = drain_memory_sink(
        agg, "complete", name_prefix="w4h_cm_", stage_dir=stage
    ).collect()

    from datetime import timezone

    from ..operators.sketches import cm_probe_longs

    cand = [int(c) for c in candidates]
    est_rows = []
    for r in sk_rows:
        # pure-numpy probe: one py4j readFrom + estimateCount PER
        # (window, candidate) measured ~2.5 s for 720 windows x 8
        # candidates; parsing the sketch bytes driver-side is ~10 ms
        ests = cm_probe_longs(bytes(r["sk"]), cand)
        # naive datetimes from the UTC-pinned session are UTC wall times;
        # force the zone so the host's local tz can't shift the epoch
        w_epoch = int(r["w"].start.replace(tzinfo=timezone.utc).timestamp())
        n_w = int(r["n"])
        est_rows.extend(
            (w_epoch, c, e, n_w) for c, e in zip(cand, ests)
        )
    est = spark.createDataFrame(
        est_rows, f"window_start_epoch long, {key} long, est long, n_window long"
    )

    from ..catalog import read_parquet

    ev = read_parquet(spark, events_path)
    exact = (
        ev.filter(F.col(key).isin([int(c) for c in candidates]))
        .groupBy(
            F.window("ts", "1 hour")["start"]
            .cast("long")
            .alias("window_start_epoch"),
            key,
        )
        .agg(F.count(F.lit(1)).alias("exact_n"))
    )
    slack = F.greatest(
        F.lit(1).cast("long"),
        F.lit(2) * F.ceil(F.col("n_window") * F.lit(float(eps))).cast("long"),
    )
    return exact.join(F.broadcast(est), ["window_start_epoch", key]).select(
        "window_start_epoch",
        key,
        "exact_n",
        (
            (F.col("est") >= F.col("exact_n"))
            & (F.col("est") <= F.col("exact_n") + slack)
        )
        .cast("long")
        .alias("within_bound"),
    )


def run_debounce_batchmode(
    spark: SparkSession,
    events_path: str,
    cooldown_seconds: int = 300,
) -> DataFrame:
    """Execute the stateful streaming debounce end-to-end synchronously
    (file source -> applyInPandasWithState -> update-mode memory sink,
    availableNow) and return the kept events. Oracle twin: the batch lag
    rule (operators.etl.debounce_events) — equality is test-asserted."""
    from .stateful import streaming_debounce

    stream, stage = file_stream(
        spark,
        events_path,
        prefix="w4h_debounce_",
        # Python-stateful op (one worker round-trip per (user, type)
        # group): size state partitions to cores, not to the JVM
        # state-store default — see python_state_partitions
        state_partitions=python_state_partitions(spark),
    )
    out = streaming_debounce(stream, cooldown_seconds=cooldown_seconds)
    return drain_memory_sink(
        out, "update", name_prefix="w4h_debounced_", stage_dir=stage
    )


def run_streaming_ewma_batchmode(
    spark: SparkSession,
    events_path: str,
    horizon: int = 8,
) -> DataFrame:
    """Execute the stateful streaming EWMA end-to-end synchronously
    (file source -> applyInPandasWithState -> update-mode memory sink,
    availableNow). Oracle twin: the batch dyadic-weight lag formulation
    (operators.timeseries.ewma_smooth) — bit-exact equality is
    test-asserted."""
    from .stateful import streaming_ewma

    stream, stage = file_stream(
        spark,
        events_path,
        prefix="w4h_ewma_",
        # Python-stateful op: per-group worker overhead dominates —
        # cores-sized state partitions (python_state_partitions)
        state_partitions=python_state_partitions(spark),
    )
    out = streaming_ewma(stream, horizon=horizon)
    return drain_memory_sink(
        out, "update", name_prefix="w4h_ewma_out_", stage_dir=stage
    )
