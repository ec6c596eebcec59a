"""``curation``: closed loop of full pipeline passes over one corpus.

Writes a seeded ``documents.parquet`` in the testdata schema (planted
near-duplicate clusters of 2-5, a language and length mix), then runs the
registry's curation entries over it through ``plans.queries()[name](spark,
dir)`` and collects each result. Without this workload
``operators.dedup/text/ranking`` go unmeasured: they are the job-chain-heavy
builders, which the other three workloads never touch.
"""

from __future__ import annotations

import os
import time

import duckdb

import inputs as I
from common import CURATION_ENTRIES, Deadline, Ops, rows_match
from spans import rollup
from w4h_integrated_toolkit_spark.plans.queries import oracle_sql, queries


def _entry(ctx, docs_dir: str, name: str, k: int) -> tuple:
    """Build one registry entry (eager jobs included) and collect it."""
    tr = ctx.tracer
    with tr.span("plans.queries", name, k):
        with tr.span("plans.queries.construct", name, k):
            df = queries()[name](ctx.spark, docs_dir)
        with tr.span("plans.queries.execute", name, k):
            return df.columns, df.collect()


def run(ctx) -> dict:
    docs_dir = os.path.join(ctx.run_dir, "corpus")
    os.makedirs(docs_dir)
    docs = I.curation_documents(ctx.seed)
    path = os.path.join(docs_dir, "documents.parquet")
    size = I.write_parquet(docs, path)
    ctx.detail["inputs"] = {"docs": len(docs), "bytes": size,
                            "hash": I.content_hash(docs)}
    # no warm-up: a curation pass is a batch job, and a batch job pays the
    # engine's start-up costs (first jobs, Python workers, code generation)
    # on every run, as a fresh application does
    ctx.timed_start()

    # an op is one entry run (built and collected); the loop runs whole
    # passes; the oracles check the first, later ones must reproduce it. A
    # traced run traces the warm passes 1, 3, ... against the untraced warm
    # passes 2, 4, ..., so the per-layer figures describe warm execution and
    # the cold first pass stays out of the trace overhead
    ops, passes, pass_s, busy, first = Ops(ctx.seconds), 0, 0.0, 0.0, {}
    deadline = Deadline(ctx.seconds, 3 if ctx.trace else 1)
    while deadline.another(pass_s):
        traced = ctx.trace and passes % 2 == 1
        ctx.tracer.enabled = traced
        t_pass = time.perf_counter()
        for name in CURATION_ENTRIES:
            t = time.perf_counter()
            err = None
            try:
                cols, rows = _entry(ctx, docs_dir, name, passes)
                if name in first:
                    err = rows_match(rows, first[name][1], rel=0.0)
                else:
                    first[name] = (cols, rows)
            except Exception as e:  # a failed entry is counted, the loop goes on
                err = f"{type(e).__name__}: {e}"[:300]
            cold = ctx.trace and passes == 0
            ops.record(f"cold {name}" if cold else name, time.perf_counter() - t, traced, err)
        pass_s = time.perf_counter() - t_pass
        busy += pass_s
        passes += 1
    ctx.tracer.enabled = ctx.trace
    _check(path, first, ops)  # an entry that never ran is already a failure
    ctx.detail["passes"] = passes
    ctx.layers["bench.trace_overhead_s"] = ops.trace_overhead_s()
    return ops.result(items=len(docs) * passes, busy_s=busy)


def _check(path: str, got: dict, ops: Ops) -> None:
    """Each entry's result equals its registry oracle run through DuckDB on
    the same documents.parquet, compared the way the parity tests compare."""
    oracles = oracle_sql()
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        for name in (n for n in CURATION_ENTRIES if n in got):
            rel = con.sql(oracles[name])
            cols, rows = got[name]
            order = [cols.index(c) for c in rel.columns]
            why = rows_match([tuple(r[j] for j in order) for r in rows],
                             rel.fetchall(), rel=0.0)
            if why:
                ops.fail(f"oracle {name}", why)
    finally:
        con.close()


def layers(ctx) -> None:
    spans = [s for s in ctx.tracer.spans if s["req"] is not None and s["req"] >= 0]
    n = max(1, len({s["req"] for s in spans}))
    L = ctx.layers
    for name in CURATION_ENTRIES:
        c = rollup(spans, lambda s: s["layer"] == "plans.queries.construct"
                   and s["name"] == name)
        x = rollup(spans, lambda s: s["layer"] == "plans.queries.execute"
                   and s["name"] == name)
        both = rollup(spans, lambda s: s["layer"].startswith("plans.queries.")
                      and s["name"] == name)
        p = f"plans.queries.{name}"
        L[f"{p}.construct_s"] = c["s"] / n
        L[f"{p}.construct_jobs"] = c["jobs"] / n
        L[f"{p}.execute_s"] = x["s"] / n
        L[f"{p}.execute_jobs"] = x["jobs"] / n
        for k in ("stages", "shuffle_write_bytes", "spill_bytes", "gc_s"):
            L[f"{p}.{k}"] = both[k] / n
