#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 3 --trace 0

Run from the repository root. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
The line before it carries the run's detail (sample counts, input sizes and
hash, box-noise witness, failures). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import resource
import shutil
import signal
import sys
import tempfile
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = {"dashboard": "dashboard", "import": "importhub",
             "stream": "stream", "curation": "curation"}

END_TO_END = {"op_p50_s": "s", "op_p90_s": "s", "items_per_s": "1/s", "setup_s": "s"}


def _per_layer() -> dict[str, str]:
    m = {"session.get_spark_s": "s", "session.peak_rss_mb": "MB",
         "catalog.write_fact_table_s": "s", "catalog.table_read_s": "s",
         "catalog.bytes_read": "bytes"}
    for mod in ("cohort", "kpi", "safeband", "timeseries", "geo"):
        m[f"operators.{mod}.construct_s"] = "s"
        m[f"operators.{mod}.construct_jobs"] = "count"
    for kind in ("kpi", "safeband", "timeseries", "geo"):
        m.update({f"operators.{kind}.execute_s": "s", f"operators.{kind}.jobs": "count",
                  f"operators.{kind}.tasks": "count", f"operators.{kind}.task_s": "s",
                  f"operators.{kind}.shuffle_write_bytes": "bytes"})
    m.update({"sources.read_csv_s": "s", "sources.upsert_parquet_s": "s",
              "sources.upsert_jobs": "count", "sources.bytes_written": "bytes",
              "sources.files_written": "count", "sources.read_versioned_s": "s",
              "sources.write_amp": "count",
              "operators.etl.fuzzy_map_columns_s": "s",
              "operators.etl.melt_ingest_s": "s"})
    from common import CURATION_ENTRIES

    for e in CURATION_ENTRIES:
        p = f"plans.queries.{e}"
        m.update({f"{p}.construct_s": "s", f"{p}.construct_jobs": "count",
                  f"{p}.execute_s": "s", f"{p}.execute_jobs": "count",
                  f"{p}.stages": "count", f"{p}.shuffle_write_bytes": "bytes",
                  f"{p}.spill_bytes": "bytes", f"{p}.gc_s": "s"})
    for q in ("replay", "stateful"):
        p = f"streaming.{q}"
        m.update({f"{p}.batches": "count", f"{p}.trigger_ms_p50": "ms",
                  f"{p}.add_batch_ms": "ms", f"{p}.wal_commit_ms": "ms",
                  f"{p}.query_planning_ms": "ms", f"{p}.state_rows": "count",
                  f"{p}.state_memory_bytes": "bytes",
                  f"{p}.rows_dropped_by_watermark": "count"})
    m.update({"streaming.replay.backlog_files_end": "count",
              "streaming.replay.file_stream_s": "s",
              "streaming.replay.drain_memory_sink_s": "s",
              "bench.trace_overhead_s": "s"})
    return m


class Context:
    """What a workload gets: the session, the tracer, its seed and time
    budget, a private scratch dir, and where it reports layers and detail."""

    def __init__(self, spark, tracer, seed: int, seconds: int, run_dir: str):
        self.spark, self.tracer, self.trace = spark, tracer, tracer.enabled
        self.seed, self.seconds, self.run_dir = seed, seconds, run_dir
        self.setup_s: float | None = None
        self.layers: dict[str, float] = {}
        self.detail: dict = {}

    def timed_start(self) -> None:
        """Mark the first timed operation: set-up is everything before it
        (imports, get_spark, staging the inputs, warm-up)."""
        self.setup_s = time.perf_counter() - T_START


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1])."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def box_noise() -> dict:
    """Steal and total jiffies from /proc/stat, and the 1-minute loadavg."""
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    with open("/proc/loadavg") as f:
        load = float(f.read().split()[0])
    return {"steal": cpu[7] if len(cpu) > 7 else 0, "total": sum(cpu), "load1": load}


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def isolate_temp(run_dir: str) -> None:
    """Point every temp location the engine or Spark uses into the run dir,
    so a run writes only inside its checkout and leaves nothing behind."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["W4H_EPHEMERAL_CKPT"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # every JVM the launcher starts: no /tmp/hsperfdata, temp files here
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = tmp


def start_spark(run_dir: str, cpus: int, trace: bool):
    from w4h_integrated_toolkit_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    }
    if trace:
        os.makedirs(os.path.join(run_dir, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", cpus=cpus, shuffle_partitions=cpus,
                     driver_memory="2g", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM the session launched and wait for
    it: the JVM exits when its stdin pipe closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            with contextlib.suppress(Exception):  # a broken py4j link still ends
                gateway.shutdown()
            proc.stdin.close()
            proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # unwinds through the cleanup below


def main(argv: list[str] | None = None) -> int:
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    os.environ["TZ"] = "UTC"  # collected timestamps convert in the process zone
    time.tzset()
    run_dir = os.path.join(ROOT, ".perfbench_tmp",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    isolate_temp(run_dir)
    cpus = max(1, min(4, len(os.sched_getaffinity(0))))
    noise0 = box_noise()
    spark = None
    try:
        workload = importlib.import_module(WORKLOADS[args.workload])
        from spans import Tracer

        t = time.perf_counter()
        spark = start_spark(run_dir, cpus, bool(args.trace))
        get_spark_s = time.perf_counter() - t
        ctx = Context(spark, Tracer(spark, bool(args.trace)), args.seed,
                      args.seconds, run_dir)
        res = workload.run(ctx)
        t_run = time.perf_counter() - T_START
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss_kb = (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
                  + _vm_hwm_kb(int(jvm_pid)))
        stop_spark(spark)
        spark = None
        t_stop = time.perf_counter() - T_START
        noise1 = box_noise()
        if args.trace:
            ctx.tracer.attribute(os.path.join(run_dir, "eventlog"))
            workload.layers(ctx)
            out = os.path.join(ROOT, ".perfbench_out",
                               f"spans-{args.workload}-{args.seed}.jsonl")
            ctx.tracer.write(out)
            ctx.detail["spans_file"] = os.path.relpath(out, ROOT)
            ctx.detail["self_s"] = {k: round(v, 6)
                                    for k, v in ctx.tracer.self_times().items()}
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
            with contextlib.suppress(OSError):  # other runs may share it
                os.rmdir(os.path.dirname(run_dir))

    lat = res["latencies"]
    e2e = {
        "op_p50_s": quantile(lat, 0.5),
        "op_p90_s": quantile(lat, 0.9),
        "items_per_s": res["items"] / res["busy_s"],
        "setup_s": ctx.setup_s,
    }
    d_steal = noise1["steal"] - noise0["steal"]
    d_total = max(1, noise1["total"] - noise0["total"])
    detail = {
        "perfbench": 1, "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "cpus": cpus,
        "samples": len(lat), "op_latencies_s": [round(x, 4) for x in lat],
        "items": res["items"], "busy_s": res["busy_s"],
        "get_spark_s": get_spark_s, "peak_rss_mb": rss_kb / 1024.0,
        # wall-clock marks since process start: first timed op, end of the
        # timed loop and checks, session stopped
        "marks_s": {"setup": round(ctx.setup_s, 2), "run": round(t_run, 2),
                    "stopped": round(t_stop, 2)},
        "noise": {"steal_pct": 100.0 * d_steal / d_total,
                  "load1_start": noise0["load1"], "load1_end": noise1["load1"]},
        "failures": res["failures"][:10],
        **ctx.detail,
    }
    if args.trace:
        ctx.layers["session.get_spark_s"] = get_spark_s
        ctx.layers["session.peak_rss_mb"] = rss_kb / 1024.0
        metrics = {k: {"value": float(ctx.layers.get(k, 0.0)), "unit": u}
                   for k, u in _per_layer().items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    failed = min(len(res["failures"]), res["attempted"])
    print(json.dumps(detail, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
