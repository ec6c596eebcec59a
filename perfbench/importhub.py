"""``import``: one importer, closed loop.

Feeds seeded wide CSV uploads with vendor headers through
``sources.read_csv`` -> ``etl.fuzzy_map_columns`` -> ``melt`` ->
``ingest_fact`` -> ``sources.upsert_parquet`` (key ``(user_id, timestamp)``,
partitioned by day) plus ``upsert_users``. Each upload opens a new day and
corrects rows of one earlier day, which forces that partition's
copy-on-write while the other days are carried by the manifest; after every
upload a read-your-write KPI runs over ``read_versioned``, whose scan union
grows with the partitions. This is the write side of storage: a write-side
gain that costs reads or space shows here.
"""

from __future__ import annotations

import json
import os
import time

import pandas as pd
from pyspark.sql import functions as F

import inputs as I
from common import Deadline, Ops
from spans import rollup
from w4h_integrated_toolkit_spark.operators import etl
from w4h_integrated_toolkit_spark.sources import (
    list_versions,
    read_csv,
    read_versioned,
    upsert_parquet,
)

FEATURES = ("heart_rates", "calories")
KEY = ["user_id", "timestamp"]
UPLOADS_PER_PASS = 3


def _tables(base: str, lake: str) -> dict:
    return {t: os.path.join(base, lake, t) for t in (*FEATURES, "users")}


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under a table dir."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return size, files


def _batch(ctx, i: int, csv: str, tables: dict) -> None:
    """Import one upload into the versioned tables."""
    spark, tr = ctx.spark, ctx.tracer
    with tr.span("sources", "read_csv", i):
        wide = read_csv(spark, csv)
    with tr.span("operators.etl", "fuzzy_map_columns", i):
        m = etl.fuzzy_map_columns(wide.columns, I.IMPORT_TARGETS)
    if None in m.values():
        raise ValueError(f"unmapped columns: {m}")
    with tr.span("operators.etl", "melt_ingest", i):
        canon = wide.select(
            F.col(f"`{m['user_id']}`").alias("user_id"),
            F.to_timestamp(F.col(f"`{m['timestamp']}`")).alias("timestamp"),
            *(F.col(f"`{m[f]}`").cast("double").alias(f) for f in FEATURES))
        narrow = etl.melt(canon, ["user_id", "timestamp"], list(FEATURES))
        per_feature = {
            f: etl.ingest_fact(narrow.filter(F.col("feature") == f).drop("feature"))
            .withColumn("dt", F.to_date("timestamp").cast("string"))
            for f in FEATURES}
        if os.path.exists(tables["users"]):
            existing = read_versioned(spark, tables["users"])
        else:
            existing = spark.createDataFrame([], "user_id string")
        new_users = etl.upsert_users(canon, existing)
    for f, df in per_feature.items():
        with tr.span("sources", "upsert_parquet", i):
            upsert_parquet(spark, tables[f], df, KEY, partition_col="dt")
    with tr.span("sources", "upsert_parquet", i):
        upsert_parquet(spark, tables["users"], new_users, "user_id")


def _layout(table: str) -> dict:
    """Versions, partitions, and partitions rewritten and carried by
    manifest over all upserts, from the table's version manifests."""
    out = {"versions": 0, "partitions": 0, "rewritten": 0, "carried": 0}
    for v in list_versions(table):
        with open(os.path.join(table, "_manifests", f"v{v}.json")) as f:
            m = json.load(f)
        out["versions"] += 1
        out["partitions"] = len(m["partitions"])
        out["rewritten"] += len(m["affected"])
        out["carried"] += len(m["partitions"]) - len(m["affected"])
    return out


def _read_your_write(ctx, i: int, table: str) -> tuple:
    """The KPI an importer reads back after an upload: rows, mean, latest."""
    with ctx.tracer.span("sources", "read_versioned", i):
        df = read_versioned(ctx.spark, table)
        row = df.agg(F.count(F.lit(1)), F.avg("value"), F.max("timestamp")).collect()[0]
    return tuple(row)


def _latest_wins(history: list[pd.DataFrame]) -> pd.DataFrame:
    allrows = pd.concat(history, ignore_index=True)
    return allrows.drop_duplicates(KEY, keep="last")


def run(ctx) -> dict:
    base = os.path.join(ctx.run_dir, "import")
    os.makedirs(os.path.join(base, "uploads"))
    # warm-up: one upload the timed passes never see, of one subject's day,
    # into a scratch lake
    warm = I.import_batch(ctx.seed, 10**6, 0, None, n_users=1)[0]
    wcsv = os.path.join(base, "uploads", "warm.csv")
    warm.to_csv(wcsv, index=False)
    warm_tables = _tables(base, "warm")
    _batch(ctx, -1, wcsv, warm_tables)
    for f in FEATURES:
        _read_your_write(ctx, -1, warm_tables[f])
    ctx.timed_start()

    # an op is one table read back after an upload: its latency is the
    # read-your-write KPI; the upload's rows count toward commit throughput.
    # Each pass imports UPLOADS_PER_PASS uploads into a fresh lake, so every
    # run reads the same range of version counts.
    ops = Ops(ctx.seconds)
    csv_bytes = rows = size = bytes_w = files_w = 0
    busy, pass_s, p, op = 0.0, 0.0, 0, 0
    hashes = []
    deadline = Deadline(ctx.seconds, 2 if ctx.trace else 1)
    while deadline.another(pass_s):
        t_pass = time.perf_counter()
        tables = _tables(base, f"pass{p}")
        history: list[pd.DataFrame] = []
        for i in range(UPLOADS_PER_PASS):
            wide, header = I.import_batch(
                ctx.seed, p, i, _latest_wins(history) if history else None)
            csv = os.path.join(base, "uploads", f"pass{p}-{i}.csv")
            wide.to_csv(csv, index=False)
            csv_bytes += os.path.getsize(csv)
            canon = I.canonical(wide, header)
            history.append(canon)
            traced = ctx.trace and p % 2 == 0
            ctx.tracer.enabled = traced
            err, t = None, time.perf_counter()
            try:
                _batch(ctx, op, csv, tables)
                busy += time.perf_counter() - t
                rows += len(FEATURES) * len(canon.drop_duplicates(KEY))
            except Exception as e:  # a failed upload is counted, the loop goes on
                err = f"{type(e).__name__}: {e}"[:300]
            want = len(_latest_wins(history))
            for f in FEATURES:  # read back every table the upload wrote
                ferr, t = err, time.perf_counter()
                if ferr is None:
                    try:
                        n = _read_your_write(ctx, op, tables[f])[0]
                        if n != want:
                            ferr = f"read-your-write saw {n} rows, want {want}"
                    except Exception as e:
                        ferr = f"{type(e).__name__}: {e}"[:300]
                ops.record(f, time.perf_counter() - t, traced, ferr)
            op += 1
        ctx.tracer.enabled = ctx.trace
        pass_s = time.perf_counter() - t_pass
        _check(ctx, tables, history, ops)
        size += sum(_dir_stats(tables[f])[0] for f in FEATURES)
        for t in tables.values():
            b, f = _dir_stats(t)
            bytes_w, files_w = bytes_w + b, files_w + f
        hashes.append(I.content_hash(history))
        layout = _layout(tables["heart_rates"])
        p += 1

    ctx.detail.update({"passes": p, "uploads": op, "narrow_rows": rows,
                       "per_pass_layout": layout,
                       "csv_bytes": csv_bytes, "write_amp": size / max(1, csv_bytes),
                       "inputs": {"hash": I.content_hash(hashes)}})
    L = ctx.layers
    L["bench.trace_overhead_s"] = ops.trace_overhead_s()
    L["sources.write_amp"] = size / max(1, csv_bytes)
    L["sources.bytes_written"] = bytes_w / p
    L["sources.files_written"] = files_w / p
    return ops.result(items=rows, busy_s=busy)


def _check(ctx, tables: dict, history: list[pd.DataFrame], ops: Ops) -> None:
    """The versioned tables equal latest-wins over every upload imported."""
    want = _latest_wins(history)
    for f in FEATURES:
        got = read_versioned(ctx.spark, tables[f]).select(*KEY, "value").toPandas()
        exp = want[[*KEY, f]].rename(columns={f: "value"})
        if len(got) != len(exp):
            ops.fail(f"final {f}", f"{len(got)} rows, want {len(exp)}")
            continue
        g = got.sort_values(KEY).reset_index(drop=True)
        e = exp.sort_values(KEY).reset_index(drop=True)
        g["timestamp"] = pd.to_datetime(g["timestamp"]).dt.tz_localize(None)
        same = (g["user_id"].equals(e["user_id"])
                and (g["timestamp"].values == e["timestamp"].values).all()
                and (g["value"].round(6).values == e["value"].round(6).values).all())
        if not same:
            ops.fail(f"final {f}", "content differs from latest-wins")


def layers(ctx) -> None:
    spans = [s for s in ctx.tracer.spans if s["req"] is not None and s["req"] >= 0]
    L = ctx.layers
    n_batches = max(1, len({s["req"] for s in spans}))
    rc = rollup(spans, lambda s: s["name"] == "read_csv")
    L["sources.read_csv_s"] = rc["s"] / max(1, rc["n"])
    up = rollup(spans, lambda s: s["name"] == "upsert_parquet")
    L["sources.upsert_parquet_s"] = up["s"] / max(1, up["n"])
    L["sources.upsert_jobs"] = up["jobs"] / max(1, up["n"])
    rv = rollup(spans, lambda s: s["name"] == "read_versioned")
    L["sources.read_versioned_s"] = rv["s"] / max(1, rv["n"])
    fz = rollup(spans, lambda s: s["name"] == "fuzzy_map_columns")
    L["operators.etl.fuzzy_map_columns_s"] = fz["s"] / n_batches
    mi = rollup(spans, lambda s: s["name"] == "melt_ingest")
    L["operators.etl.melt_ingest_s"] = mi["s"] / n_batches
