"""``dashboard``: one analyst, closed loop, no think time.

Stages seeded GeoMTS tables once through ``catalog.write_fact_table``, then
issues seeded cohort-vs-control requests with fresh literals and collects
each result as the UI would. Half the requests read one day (the ``dt``
partition prunes the scan), half the full two weeks, so one workload shows
both the driver-side floor and the scan/shuffle-bound path.
"""

from __future__ import annotations

import os
import statistics
import time

import duckdb
from pyspark.sql import functions as F

import inputs as I
from common import Deadline, Ops, rows_match
from spans import rollup
from w4h_integrated_toolkit_spark import catalog
from w4h_integrated_toolkit_spark.operators import cohort as C
from w4h_integrated_toolkit_spark.operators import geo as G
from w4h_integrated_toolkit_spark.operators import kpi as K
from w4h_integrated_toolkit_spark.operators import safeband as S
from w4h_integrated_toolkit_spark.operators import timeseries as TS

FACTS = ("heart_rates", "calories", "locations")
# a cycle issues every kind once, two of them on one day and two on the full
# span; kinds differ in cost far more than the two spans do, so the median
# and p90 of a cycle are the same requests' latencies from run to run
CYCLE = len(I.KINDS)
POLY_SCHEMA = "polygon_id int, ring array<struct<lon:double,lat:double>>"


def _stage(ctx) -> dict:
    """Generate the tables, write the raw inputs, stage them through the
    catalog, and return the staged paths (plus the raw ones the checks read)."""
    spark, tr = ctx.spark, ctx.tracer
    data = I.dashboard_tables(ctx.seed)
    base = os.path.join(ctx.run_dir, "dashboard")
    os.makedirs(os.path.join(base, "raw"))
    raw = {t: os.path.join(base, "raw", f"{t}.parquet") for t in ("users", *FACTS)}
    sizes = {t: I.write_parquet(data[t], raw[t]) for t in raw}
    tables = {t: os.path.join(base, "tables", t) for t in FACTS}
    for t in FACTS:
        with tr.span("catalog", "write_fact_table"):
            catalog.write_fact_table(catalog.read_parquet(spark, raw[t]), tables[t])
    ctx.detail["inputs"] = {"rows": {t: len(data[t]) for t in raw},
                            "raw_bytes": sizes, "hash": I.content_hash(data)}
    # the dashboard opens its tables once per session, as a UI server would;
    # users is a small dimension read as generated; catalog.read_parquet
    # only opens flat dirs, not the dt-partitioned layout write_fact_table
    # produces, so fact tables are opened the way the engine's own import
    # example reads them back
    with tr.span("catalog", "table_read"):
        frames = {"users": catalog.read_parquet(spark, raw["users"]),
                  **{t: spark.read.parquet(tables[t]) for t in FACTS}}
    return {"raw": raw, "frames": frames, "users": data["users"],
            "polygons": spark.createDataFrame(data["polygons"], POLY_SCHEMA),
            "polys": data["polygons"]}


def _request(ctx, st: dict, req: dict) -> list:
    """Build one request's frames through the operators and collect them."""
    tr, i, kind = ctx.tracer, req["i"], req["kind"]
    need = {"kpi": ("heart_rates",), "safeband": ("heart_rates",),
            "timeseries": ("heart_rates", "calories"), "geo": ("locations",)}[kind]
    users = st["frames"]["users"]
    facts = {t: st["frames"][t] for t in need}
    lo, hi = F.to_date(F.lit(req["start"])), F.to_date(F.lit(req["end"]))
    facts = {t: df.filter(F.col("dt").between(lo, hi)) for t, df in facts.items()}
    specs = [C.FilterSpec("age", "int", tuple(req["age"])),
             C.FilterSpec("state_of_residence", "string", req["states"])]
    with tr.span("operators.cohort", "filter_users", i):
        cohort = C.filter_users(users, specs)
    main = facts[need[0]]
    with tr.span("operators.cohort", "cohort_semi_join", i):
        subj = C.cohort_semi_join(main, cohort)
    if kind == "kpi":
        with tr.span("operators.kpi", "signal_stats", i):
            s_stats, c_stats = K.signal_stats(subj), K.signal_stats(main)
        with tr.span("operators.cohort", "cohort_compare", i):
            frames = [C.cohort_compare(s_stats, c_stats,
                                       ["avg_value", "max_value", "min_value", "n"])]
    elif kind == "safeband":
        with tr.span("operators.safeband", "safe_band", i):
            band = S.safe_band(subj, k=req["k"])
        with tr.span("operators.safeband", "breach_histogram", i):
            hist = S.breach_histogram(subj, k=req["k"])
        frames = [band, hist.select("bucket", "n_total", "n_unsafe")]
    elif kind == "timeseries":
        with tr.span("operators.timeseries", "resample_mean", i):
            res = TS.resample_mean(subj, "1 hour")
        panel = facts["calories"].filter(F.col("user_id").isin(req["panel_users"]))
        with tr.span("operators.timeseries", "calibrate", i):
            cal = TS.calibrate(panel.select("user_id", "timestamp", "value"))
        frames = [res, cal.select("user_id", "timestamp", "days_since_start",
                                  "scaled_value")]
    else:
        with tr.span("operators.geo", "trajectories", i):
            traj = G.trajectories(subj)
        with tr.span("operators.geo", "geofence_join", i):
            fence = G.geofence_join(subj, st["polygons"]).groupBy("polygon_id").agg(
                F.count(F.lit(1)).alias("n_points"),
                F.countDistinct("user_id").alias("n_users"))
        frames = [traj, fence]
    with tr.span(f"operators.{kind}", "execute", i):
        return [[tuple(r) for r in f.collect()] for f in frames]


# DuckDB twins -------------------------------------------------------------

def _twin(con, st: dict, req: dict) -> list:
    lo_age, hi_age = req["age"]
    states = ", ".join(f"'{s}'" for s in req["states"])
    cohort = (f"SELECT user_id FROM users WHERE (age BETWEEN {lo_age} AND {hi_age} "
              f"OR age IS NULL) AND (state_of_residence IN ({states}) "
              "OR state_of_residence IS NULL)")
    rng_pred = (f"CAST(timestamp AS DATE) BETWEEN DATE '{req['start']}' "
                f"AND DATE '{req['end']}'")
    main = {"geo": "locations"}.get(req["kind"], "heart_rates")
    base = (f"WITH c AS ({cohort}), m AS (SELECT * FROM {main} WHERE {rng_pred}), "
            "s AS (SELECT * FROM m WHERE user_id IN (SELECT user_id FROM c)) ")
    q = lambda sql: con.sql(base + sql).fetchall()  # noqa: E731
    kind, k = req["kind"], req["k"]
    if kind == "kpi":
        cols = ("avg(value)", "max(value)", "min(value)", "count(value)")
        sel = ", ".join([f"a{j}" for j in range(4)] + [f"b{j}" for j in range(4)]
                        + [f"a{j} - b{j}" for j in range(4)])
        sub = ", ".join(f"{c} AS a{j}" for j, c in enumerate(cols))
        ctl = ", ".join(f"{c} AS b{j}" for j, c in enumerate(cols))
        return [q(f"SELECT {sel} FROM (SELECT {sub} FROM s), (SELECT {ctl} FROM m)")]
    if kind == "safeband":
        band = q(f"SELECT avg(value) - {k} * stddev_samp(value), "
                 f"avg(value) + {k} * stddev_samp(value) FROM s")
        hist = q(f""", sc AS (SELECT min(epoch(timestamp)) AS t0,
                   max(epoch(timestamp)) AS t1,
                   avg(value) - {k} * stddev_samp(value) AS blo,
                   avg(value) + {k} * stddev_samp(value) AS bhi FROM s),
                 b AS (SELECT *, greatest((t1 - t0) / 600, 30.0) AS w FROM sc)
                 SELECT CAST(floor((epoch(timestamp) - t0) / w) AS BIGINT) AS bucket,
                        count(*), sum(CASE WHEN value < blo OR value > bhi THEN 1 ELSE 0 END)
                 FROM s, b GROUP BY 1""")
        return [band, hist]
    if kind == "timeseries":
        res = q("SELECT user_id, date_trunc('hour', timestamp), avg(value) FROM s GROUP BY 1, 2")
        users = ", ".join(f"'{u}'" for u in req["panel_users"])
        cal = con.sql(f"""
            WITH p AS (SELECT * FROM calories WHERE {rng_pred} AND user_id IN ({users})),
            d AS (SELECT user_id, timestamp, value,
                    (epoch(timestamp) - min(epoch(timestamp)) OVER (PARTITION BY user_id))
                      / 86400.0 AS days,
                    value / avg(value) OVER (PARTITION BY user_id) AS scaled FROM p)
            SELECT user_id, timestamp, days,
              CASE WHEN lead(days) OVER (PARTITION BY user_id ORDER BY timestamp) - days > 0.5
                   THEN NULL ELSE scaled END
            FROM d""").fetchall()
        return [res, cal]
    traj = q("SELECT user_id, list([lat, lon] ORDER BY timestamp) FROM s GROUP BY 1")
    arms = []
    for p in st["polys"]:
        ring, n = p["ring"], len(p["ring"])
        cross = []
        for j in range(n):
            a, b = ring[j], ring[(j + 1) % n]
            ax, ay, bx, by = (repr(float(x)) for x in (a["lon"], a["lat"], b["lon"], b["lat"]))
            cross.append(f"CASE WHEN (({ay} > lat) <> ({by} > lat)) AND (lon < {ax} + "
                         f"({bx} - {ax}) * (lat - {ay}) / ({by} - {ay})) THEN 1 ELSE 0 END")
        arms.append(f"SELECT {p['polygon_id']} AS pid, user_id FROM s "
                    f"WHERE ({' + '.join(cross)}) % 2 = 1")
    fence = q(f", f AS ({' UNION ALL '.join(arms)}) "
              "SELECT pid, count(*), count(DISTINCT user_id) FROM f GROUP BY 1")
    return [traj, fence]


def _check(st: dict, sampled: list, ops: Ops) -> None:
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        for t, p in st["raw"].items():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        for req, got in sampled:
            want = _twin(con, st, req)
            for g, w in zip(got, want):
                why = rows_match(g, w)
                if why:
                    ops.fail(f"request {req['i']} ({req['kind']})", why)
                    break
    finally:
        con.close()


def run(ctx) -> dict:
    st = _stage(ctx)
    # warm-up: one request per kind, on the span the first timed cycle does
    # not use, with literals the timed requests never use
    for j in range(CYCLE, 2 * CYCLE):
        _request(ctx, st, {**I.dashboard_request(ctx.seed, 10**6 + j, st["users"]),
                           "i": -1 - j})
    ctx.timed_start()

    ops, sampled, seen, by_span = Ops(ctx.seconds), [], {}, {}
    # a traced run times both spans of every kind, traced and untraced:
    # cycles 0 and 1 traced, 2 and 3 untraced
    deadline, i, cycle_s = Deadline(ctx.seconds, 4 if ctx.trace else 1), 0, 0.0
    while deadline.another(cycle_s):
        t_cycle = time.perf_counter()
        for _ in range(CYCLE):
            req = I.dashboard_request(ctx.seed, i, st["users"])
            traced = ctx.trace and (i // CYCLE) % 4 < 2
            ctx.tracer.enabled = traced
            t = time.perf_counter()
            err = got = None
            try:
                got = _request(ctx, st, req)
            except Exception as e:  # a failed request is counted, the loop goes on
                err = f"{type(e).__name__}: {e}"[:300]
            lat = time.perf_counter() - t
            ops.record(f"{req['kind']} {req['span']}", lat, traced, err)
            by_span.setdefault(req["kind"], {}).setdefault(req["span"], []).append(lat)
            # a DuckDB twin checks the first request of each kind: kpi and
            # timeseries on one day, safeband and geo on the full span
            if got is not None and req["kind"] not in seen:
                seen[req["kind"]] = True
                sampled.append((req, got))
            i += 1
        cycle_s = time.perf_counter() - t_cycle
    ctx.tracer.enabled = ctx.trace
    _check(st, sampled, ops)
    ctx.detail["checked_requests"] = len(sampled)
    # one-day (partition-pruned) against full-span latency, per kind
    ctx.detail["p50_s_by_span"] = {
        k: {sp: round(statistics.median(v), 4) for sp, v in d.items()}
        for k, d in by_span.items()}
    ctx.layers["bench.trace_overhead_s"] = ops.trace_overhead_s()
    return ops.result(items=len(ops.latencies), busy_s=sum(ops.latencies))


def layers(ctx) -> None:
    L = ctx.layers
    wft = rollup(ctx.tracer.spans, lambda s: s["name"] == "write_fact_table")
    L["catalog.write_fact_table_s"] = wft["s"]
    # timed requests only: warm-up requests have negative ids
    spans = [s for s in ctx.tracer.spans if s["req"] is not None and s["req"] >= 0]
    n_req = max(1, len({s["req"] for s in spans}))
    L["catalog.table_read_s"] = rollup(
        ctx.tracer.spans, lambda s: s["name"] == "table_read")["s"]
    L["catalog.bytes_read"] = rollup(spans, lambda s: True)["bytes_read"] / n_req
    for mod in ("cohort", "kpi", "safeband", "timeseries", "geo"):
        c = rollup(spans, lambda s: s["layer"] == f"operators.{mod}"
                   and s["name"] != "execute")
        L[f"operators.{mod}.construct_s"] = c["s"] / max(1, c["n"])
        L[f"operators.{mod}.construct_jobs"] = c["jobs"] / max(1, c["n"])
    for kind in I.KINDS:
        x = rollup(spans, lambda s: s["layer"] == f"operators.{kind}"
                   and s["name"] == "execute")
        n = max(1, x["n"])
        L[f"operators.{kind}.execute_s"] = x["s"] / n
        for k in ("jobs", "tasks", "task_s", "shuffle_write_bytes"):
            L[f"operators.{kind}.{k}"] = x[k] / n
