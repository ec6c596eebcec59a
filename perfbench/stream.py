"""``stream``: open loop at a fixed rate of 4 files per second.

A generator thread drops one parquet file per tick into a source dir. The
files follow the reference's stream_sim replay with ``BATCH = 1``: tick k
carries every heart-rate reading at the k-th distinct timestamp of one hour
of data for 50 subjects (about 5 s of event time and 5 readings a tick),
with a seeded share of late, out-of-order readings. The reference ticks
every 5 s; here a tick is 0.25 s, 20 times faster. Two standing queries
consume the files through ``file_stream``: ``windowed_kpis_stream`` (60 s
windows, JVM state) and ``stateful.running_user_stats`` (Python state), each
into a ``foreachBatch`` sink. A file's freshness, per query, runs from its
scheduled drop time to the commit of the batch that consumed it, so a stall
is charged to every later file. After the live phase the rest of the hour
is dropped at once and a catch-up phase drains the whole hour through
``drain_memory_sink`` (availableNow). No other workload touches micro-batch
commit, state stores or the bounded-replay machinery.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time

import duckdb

import inputs as I
from common import Ops, rows_match
from w4h_integrated_toolkit_spark.streaming.replay import (
    drain_memory_sink,
    file_stream,
    python_state_partitions,
    windowed_kpis_stream,
)
from w4h_integrated_toolkit_spark.streaming.stateful import running_user_stats

TICK_S = 0.25
WARM_S = 1.0  # files dropped in the first second warm the queries up, untimed
WINDOW, WATERMARK = "60 seconds", "2 minutes"


class Generator(threading.Thread):
    """Drops file k of the hour at ``t0 + k * TICK_S`` until ``seconds``
    have passed; file 0 is dropped before the queries start, and is due at
    ``t0``."""

    def __init__(self, seed: int, src: str, seconds: float):
        super().__init__(daemon=True)
        self.src, self.seconds = src, seconds
        self.files = I.stream_hour(seed)
        self.t0 = 0.0
        self.due: dict[str, float] = {}
        self.lateness: list[float] = []
        self.events = 0
        self.error: BaseException | None = None

    def drop(self, k: int) -> str:
        name = f"part-{k:05d}.parquet"
        tmp = os.path.join(self.src, "_" + name)  # hidden from the file source
        df = self.files[k]
        I.write_parquet(df, tmp)
        os.rename(tmp, os.path.join(self.src, name))
        self.events += len(df)
        return name

    def begin(self) -> None:
        self.t0 = time.perf_counter()
        self.due["part-00000.parquet"] = self.t0
        self.start()

    def run(self) -> None:
        try:
            k = 1
            while ((due := self.t0 + k * TICK_S) < self.t0 + self.seconds
                   and k < len(self.files)):
                time.sleep(max(0.0, due - time.perf_counter()))
                self.due[self.drop(k)] = due
                self.lateness.append(time.perf_counter() - due)
                k += 1
        except BaseException as e:  # surfaced by the main thread after join
            self.error = e


class Sink:
    """foreachBatch sink: keeps the latest row per key and each batch's
    commit time."""

    def __init__(self, key: str):
        self.key = key
        self.rows: dict = {}
        self.commit: dict[int, float] = {}
        self.lock = threading.Lock()

    def __call__(self, df, batch_id: int) -> None:
        rows = df.collect()
        with self.lock:
            for r in rows:
                self.rows[r[self.key]] = r
            self.commit[batch_id] = time.perf_counter()


def _file_batches(ckpt: str) -> dict[str, int]:
    """File name -> id of the micro-batch that consumed it.

    The file source numbers only its own batches, the ones that found new
    files, while the query also runs batches without new data (a stateful
    query does when its watermark moves). So the source's log is mapped
    onto micro-batch ids through the query's offset log: a file the source
    logged in its batch n is read by the first micro-batch whose offset
    reaches n."""
    source = {}
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(p) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    source[os.path.basename(e["path"])] = e["batchId"]
    reach = []
    for p in glob.glob(os.path.join(ckpt, "offsets", "*")):
        if os.path.basename(p).isdigit():
            with open(p) as f:
                lines = f.read().splitlines()
            reach.append((int(os.path.basename(p)), json.loads(lines[2])["logOffset"]))
    reach.sort()
    out = {}
    for name, n in source.items():
        b = next((b for b, offset in reach if offset >= n), None)
        if b is not None:
            out[name] = b
    return out


def _progress(q) -> dict:
    ps = [json.loads(p.json) for p in q.recentProgress]
    data = [p for p in ps if p.get("numInputRows", 0) > 0]
    d = lambda k: [p["durationMs"].get(k, 0) for p in data]  # noqa: E731
    st = (ps[-1].get("stateOperators") or [{}])[0] if ps else {}
    dropped = sum((p.get("stateOperators") or [{}])[0].get("numRowsDroppedByWatermark", 0)
                  for p in ps)
    return {
        "batches": len(data),
        "trigger_ms_p50": statistics.median(d("triggerExecution")) if data else 0,
        "add_batch_ms": statistics.fmean(d("addBatch")) if data else 0,
        "wal_commit_ms": statistics.fmean(d("walCommit")) if data else 0,
        "query_planning_ms": statistics.fmean(d("queryPlanning")) if data else 0,
        "state_rows": st.get("numRowsTotal", 0),
        "state_memory_bytes": st.get("memoryUsedBytes", 0),
        "rows_dropped_by_watermark": dropped,
    }


def _kpis(stream):
    return windowed_kpis_stream(stream, ts="ts", value="value", window=WINDOW,
                                watermark=WATERMARK)


def _kpi_rows(rows) -> list:
    return [(r["w"]["start"], r["n"], r["avg_value"], r["min_value"], r["max_value"])
            for r in rows]


def run(ctx) -> dict:
    spark = ctx.spark
    base = os.path.join(ctx.run_dir, "stream")
    src = os.path.join(base, "src")
    os.makedirs(src)
    gen = Generator(ctx.seed, src, WARM_S + ctx.seconds)
    gen.drop(0)
    fs_times = []
    t = time.perf_counter()
    kpi_stream, _ = file_stream(spark, src)
    user_stream, _ = file_stream(spark, src,
                                 state_partitions=python_state_partitions(spark))
    fs_times.append((time.perf_counter() - t) / 2)
    sinks = {"replay": Sink("w"), "stateful": Sink("user_id")}
    frames = {"replay": _kpis(kpi_stream), "stateful": running_user_stats(user_stream)}
    queries = {}
    try:
        for name, df in frames.items():
            queries[name] = (df.writeStream.outputMode("update")
                             .foreachBatch(sinks[name])
                             .option("checkpointLocation", os.path.join(base, "ckpt", name))
                             .start())
        # both queries have committed the batch holding file 0
        while not all(0 in s.commit for s in sinks.values()):
            for q in queries.values():
                if q.exception() is not None:
                    raise RuntimeError(str(q.exception()))
            time.sleep(0.01)
        gen.begin()
        time.sleep(WARM_S)
        ctx.timed_start()
        gen.join(WARM_S + ctx.seconds + 60)
        stop = time.perf_counter()
        if gen.is_alive() or gen.error is not None:
            raise RuntimeError(f"generator failed: {gen.error!r}")
        for q in queries.values():
            q.processAllAvailable()
        progress = {n: _progress(q) for n, q in queries.items()}
    finally:
        for q in queries.values():
            q.stop()

    # an op is one file reaching one standing query's sink
    ops = Ops(ctx.seconds)
    consumed = {n: _file_batches(os.path.join(base, "ckpt", n)) for n in queries}
    backlog = set()
    for name, due in sorted(gen.due.items()):
        if due < gen.t0 + WARM_S:
            continue
        for qn in queries:
            b = consumed[qn].get(name)
            commit = sinks[qn].commit.get(b) if b is not None else None
            if commit is None:
                ops.record(qn, 0.0, False, f"{name} never committed")
                continue
            if commit > stop:
                backlog.add(name)
            ops.record(qn, commit - due, False)
    backlog = len(backlog)

    # the rest of the hour arrives at once; the catch-up drains all of it
    live = sorted(gen.due)
    for k in range(len(live), len(gen.files)):
        gen.drop(k)

    # catch-up: drain the whole history; alternate traced/untraced drains
    drain_s, traced_s, untraced_s, drained = [], [], [], None
    for j in range(2 if ctx.trace else 1):
        ctx.tracer.enabled = traced = ctx.trace and j % 2 == 0
        t = time.perf_counter()
        with ctx.tracer.span("streaming.replay", "file_stream", j):
            stream, stage = file_stream(spark, src)
        fs_times.append(time.perf_counter() - t)
        with ctx.tracer.span("streaming.replay", "drain_memory_sink", j):
            out = drain_memory_sink(_kpis(stream), "complete", stage_dir=stage)
            drained = out.collect()
        dt = time.perf_counter() - t
        drain_s.append(dt)
        (traced_s if traced else untraced_s).append(dt)
    ctx.tracer.enabled = ctx.trace

    n_events = gen.events
    _check(src, live, sinks, drained, ops)
    ctx.detail.update({
        "live_files": len(live), "files": len(gen.files), "events": n_events,
        "backlog_files_end": backlog, "drain_s": drain_s,
        "rows_dropped_by_watermark": {n: p["rows_dropped_by_watermark"]
                                      for n, p in progress.items()},
        "generator_lateness_p90_s":
            sorted(gen.lateness)[int(0.9 * (len(gen.lateness) - 1))] if gen.lateness else 0,
        "inputs": {"hash": I.content_hash(gen.files)},
    })
    L = ctx.layers
    for qn, p in progress.items():
        for k, v in p.items():
            L[f"streaming.{qn}.{k}"] = v
    L["streaming.replay.backlog_files_end"] = backlog
    L["streaming.replay.file_stream_s"] = statistics.fmean(fs_times)
    L["streaming.replay.drain_memory_sink_s"] = statistics.fmean(drain_s)
    if traced_s and untraced_s:
        L["bench.trace_overhead_s"] = statistics.fmean(traced_s) - statistics.fmean(untraced_s)
    return ops.result(items=n_events, busy_s=statistics.median(drain_s))


def _check(src: str, live: list[str], sinks: dict, drained, ops: Ops) -> None:
    """The live sinks equal the batch computation over every event of the
    live phase, and the catch-up drain the one over the whole hour."""
    kpi = ("SELECT time_bucket(INTERVAL 60 SECOND, ts) AS w, count(*), "
           "CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 / count(value), "
           "min(value), max(value) FROM {} GROUP BY 1")
    files = ", ".join(f"'{os.path.join(src, n)}'" for n in live)
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        con.execute(f"CREATE VIEW ev AS SELECT * FROM read_parquet([{files}])")
        con.execute(f"CREATE VIEW hour AS SELECT * FROM read_parquet('{src}/*.parquet')")
        want_live = con.sql(kpi.format("ev")).fetchall()
        want_hour = con.sql(kpi.format("hour")).fetchall()
        want_users = con.sql(
            "SELECT user_id, count(*), sum(value), min(value), max(value) "
            "FROM ev GROUP BY 1").fetchall()
    finally:
        con.close()
    for what, got, want in (
            ("live windowed KPIs", _kpi_rows(sinks["replay"].rows.values()), want_live),
            ("catch-up drain", _kpi_rows(drained), want_hour)):
        why = rows_match(got, want)
        if why:
            ops.fail(what, why)
    got = [(r["user_id"], r["n"], r["total"], r["min_value"], r["max_value"])
           for r in sinks["stateful"].rows.values()]
    why = rows_match(got, want_users)
    if why:
        ops.fail("live running user stats", why)


def layers(ctx) -> None:
    """Per-layer numbers come from query progress, filled in by ``run``."""
