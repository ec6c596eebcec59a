"""Heavy-row spot-bench at a larger scale factor.

sf0.1 can no longer resolve shuffle-shape wins: ~20 of 35 headline rows
sit at the fixed-overhead floor (32-vs-8-core scaling ratio <= 1), so
§2/§3 optimizations on the heavy rows need a bigger lens. This harness
materializes a deterministic "sf0.4-equivalent" directory by salted
replication of the sf0.1 tables (factor 4 by default — replicas are
token-disjoint via replicate_salted below, so near-dup / feature mass
grows LINEARLY) and times the top wall-clock queries at two core counts.
It is the repo's one scale harness: to measure another entry at factor
N, add it to QUERIES_TO_RUN.

Each row is timed by bench.timed_row, the bench's own row timer:
median of 3, re-measured (at most 2 extra runs, 3 fastest kept) while the
runs spread over 2x or the row's own steal window exceeds 3%. The
committed plans/r17/spotbench_baseline.tsv predates that and was taken
as a plain median of 3.

This is a measurement harness, not a gate: outputs are timings only,
nothing here feeds the oracle or bench artifacts the driver reads.

Usage:
  python scripts/spotbench.py gen [factor]      # materialize tables
  python scripts/spotbench.py run [cpus ...]    # default: 32 8
  (env W4H_SPOT_DIR overrides the data dir, default /dev/shm/w4h_spot)
"""
from __future__ import annotations

import functools
import os
import string
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import bench  # noqa: E402

SRC = "/root/testdata/sf0.1"
SPOT_DIR = os.environ.get("W4H_SPOT_DIR", "/dev/shm/w4h_spot")

# the r16 verdict's top-10 wall-clock list + the r17 restructure targets
QUERIES_TO_RUN = [
    "minhash_lsh_pairs",
    "dedup_clusters",
    "bloom_decontaminate",
    "ngram_jaccard_pairs",
    "user_similarity_topk",
    "quantized_knn_recall",
    "simhash",
    "bm25_topk",
    "dsir_resample",
    "audio_fingerprint_pairs",
    # r17 restructure targets (verdict orders #4, #5, #10)
    "pmi_pairs",
    "bigram_nll",
    "unigram_nll",
    "table_diff",
    "fk_integrity",
    "scd2_apply",
]


def _union(parts):
    return functools.reduce(DataFrame.unionByName, parts)


def replicate_salted(df, factor):
    """``factor`` copies of a documents frame with disjoint doc ids, every
    token of copy i prefixed with a copy-unique two-letter salt. The salt
    MUST be letters-only: a digit prefix glues onto numeric tokens and
    changes their tokenization class, so copies stop being token-disjoint
    and near-dup mass grows quadratically instead of linearly."""

    def salt(i: int) -> str:
        a, b = divmod(i, 26)
        return "q" + string.ascii_lowercase[a] + string.ascii_lowercase[b]

    return _union(
        df.withColumn("doc_id", F.col("doc_id") + F.lit(i * 1_000_000))
        .withColumn(
            "text", F.regexp_replace(F.col("text"), r"(\S+)", f"{salt(i)}$1")
        )
        for i in range(factor)
    )


def gen(factor: int) -> None:
    from w4h_integrated_toolkit_spark.catalog import read_parquet
    from w4h_integrated_toolkit_spark.session import get_spark

    spark = get_spark("spotgen", cpus=16, shuffle_partitions=16,
                      driver_memory="24g")
    os.makedirs(SPOT_DIR, exist_ok=True)
    docs = read_parquet(spark, f"{SRC}/documents.parquet")
    replicate_salted(docs, factor).withColumn(
        "n_chars", F.length("text").cast("long")
    ).coalesce(8).write.mode("overwrite").parquet(f"{SPOT_DIR}/documents.parquet")

    emb = read_parquet(spark, f"{SRC}/embeddings.parquet")
    _union(
        emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * 1_000_000))
        for i in range(factor)
    ).coalesce(4).write.mode("overwrite").parquet(
        f"{SPOT_DIR}/embeddings.parquet"
    )

    ev = read_parquet(spark, f"{SRC}/events.parquet")
    _union(
        ev.withColumn("event_id", F.col("event_id") + F.lit(i * 1_000_000_000))
        .withColumn("user_id", F.col("user_id") + F.lit(i * 10_000_000))
        for i in range(factor)
    ).coalesce(8).write.mode("overwrite").parquet(f"{SPOT_DIR}/events.parquet")

    # relational tables for the SMJ quartet: key-shifted coherent copies
    # (orders/lineitem shift orderkey together; customer keys shift with
    # orders' custkey so joins keep the same selectivity per replica)
    o = read_parquet(spark, f"{SRC}/orders.parquet")
    li = read_parquet(spark, f"{SRC}/lineitem.parquet")
    cu = read_parquet(spark, f"{SRC}/customer.parquet")
    o_parts, li_parts, cu_parts = [], [], []
    for i in range(factor):
        ok = F.lit(i * 100_000_000)
        ck = F.lit(i * 10_000_000)
        o_parts.append(
            o.withColumn("o_orderkey", F.col("o_orderkey") + ok)
            .withColumn("o_custkey", F.col("o_custkey") + ck)
        )
        li_parts.append(
            li.withColumn("l_orderkey", F.col("l_orderkey") + ok)
        )
        cu_parts.append(cu.withColumn("c_custkey", F.col("c_custkey") + ck))
    for name, ps in (("orders", o_parts), ("lineitem", li_parts),
                     ("customer", cu_parts)):
        _union(ps).coalesce(8).write.mode("overwrite").parquet(
            f"{SPOT_DIR}/{name}.parquet"
        )
    # small dims pass through unchanged
    import shutil

    for t in ("nation", "region", "supplier", "part"):
        dst = f"{SPOT_DIR}/{t}.parquet"
        shutil.rmtree(dst, ignore_errors=True)
        if os.path.isdir(f"{SRC}/{t}.parquet"):
            shutil.copytree(f"{SRC}/{t}.parquet", dst)
        else:
            shutil.copy(f"{SRC}/{t}.parquet", dst)
    print(f"# generated factor-{factor} tables under {SPOT_DIR}")
    spark.stop()


def run(cpus: int) -> dict[str, dict]:
    from w4h_integrated_toolkit_spark.catalog import read_parquet
    from w4h_integrated_toolkit_spark.session import get_spark

    spark = get_spark(f"spotbench-{cpus}", cpus=cpus,
                      shuffle_partitions=cpus, driver_memory="24g",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    for t in ("documents", "embeddings", "events", "lineitem", "orders"):
        read_parquet(spark, f"{SPOT_DIR}/{t}.parquet").write.format(
            "noop"
        ).mode("overwrite").save()
    spark.range(cpus * 4).repartition(cpus).groupBy("id").applyInPandas(
        lambda p: p, "id long"
    ).count()

    out: dict[str, dict] = {}
    for name in QUERIES_TO_RUN:
        med, evidence = bench.timed_row(spark, SPOT_DIR, name, 3)
        out[name] = {"median": med, **evidence}
        print(f"# cpus={cpus} {name}: {med:.3f}s {evidence}", file=sys.stderr)
    spark.stop()
    return out


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "run"
    if mode == "gen":
        gen(int(sys.argv[2]) if len(sys.argv) > 2 else 4)
        return
    cpu_list = [int(x) for x in sys.argv[2:]] or [32, 8]
    results = {c: run(c) for c in cpu_list}
    print("name\t" + "\t".join(
        f"cpus{c}_med\tcpus{c}_steal" for c in cpu_list
    ) + "\tscaling")
    for name in QUERIES_TO_RUN:
        cells = []
        for c in cpu_list:
            r = results[c][name]
            cells.append(f"{r['median']}\t{r['steal_pct']}")
        ratio = (
            round(results[cpu_list[-1]][name]["median"]
                  / max(results[cpu_list[0]][name]["median"], 1e-9), 2)
            if len(cpu_list) > 1 else ""
        )
        print(f"{name}\t" + "\t".join(cells) + f"\t{ratio}")


if __name__ == "__main__":
    main()
