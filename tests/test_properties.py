"""Property-based tests (hypothesis): semantic invariants that example
tests can't sweep — wrap-around predicates, partition-count invariance,
serialization round-trips."""

from __future__ import annotations

import datetime as dt

from hypothesis import given, settings, strategies as st

from pyspark.sql import Row
from pyspark.sql import functions as F

from w4h_integrated_toolkit_spark.functions import time_of_day_between
from w4h_integrated_toolkit_spark.operators.etl import normalize_name, _ratio
from w4h_integrated_toolkit_spark.operators.cohort import FilterSpec
from w4h_integrated_toolkit_spark.plans.history import specs_from_json
import json
from dataclasses import asdict

from tests.reference_models import (
    bpe_model,
    c4_model,
    gopher_model,
    kmeans_model,
    pagerank_model,
    spans_model,
)


# ---- driver-side properties (no Spark jobs, run many examples) ----------

@given(st.text(max_size=40))
def test_normalize_name_idempotent(s):
    once = normalize_name(s)
    assert normalize_name(once) == once


@given(st.text(max_size=20), st.text(max_size=20))
def test_fuzzy_ratio_symmetric_bounded(a, b):
    r = _ratio(a, b)
    assert 0.0 <= r <= 100.0
    assert abs(r - _ratio(b, a)) < 1e-9
    assert _ratio(a, a) == 100.0 or a == ""


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["int", "float", "string", "boolean"]),
            st.booleans(),
        ),
        max_size=5,
    )
)
def test_filterspec_json_roundtrip(kinds):
    specs = []
    for i, (t, ig) in enumerate(kinds):
        value = {
            "int": (0, 10),
            "float": (0.5, 2.5),
            "string": ["a", "b"],
            "boolean": True,
        }[t]
        specs.append(FilterSpec(name=f"c{i}", type=t, value=value, ignore_nulls=ig))
    payload = json.dumps({"filters": [asdict(s) for s in specs], "extra": {}})
    back, _ = specs_from_json(payload)
    assert back == specs


# ---- Spark-side properties (few examples, one job each) -----------------

@settings(max_examples=12, deadline=None)
@given(
    st.integers(0, 86399),  # range start (seconds of day)
    st.integers(0, 86399),  # range end — start > end means overnight wrap
    st.lists(st.integers(0, 86399), min_size=1, max_size=20),
)
def test_time_of_day_matches_python_model(spark, start, end, tods):
    base = dt.datetime(2016, 8, 1, tzinfo=dt.timezone.utc)
    rows = [Row(i=i, ts=base + dt.timedelta(seconds=tod)) for i, tod in enumerate(tods)]
    df = spark.createDataFrame(rows, "i long, ts timestamp")
    got = {
        r["i"]
        for r in df.filter(time_of_day_between(F.col("ts"), start, end)).collect()
    }
    def model(tod: int) -> bool:
        if start <= end:
            return start <= tod <= end
        return tod >= start or tod <= end  # overnight wrap

    assert got == {i for i, tod in enumerate(tods) if model(tod)}


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.integers(-(10**6), 10**6).map(lambda c: c / 100.0),  # 2-decimal fixed point
        min_size=1,
        max_size=60,
    )
)
def test_stable_mean_partition_invariant(spark, values):
    from w4h_integrated_toolkit_spark.operators.timeseries import stable_mean

    df = spark.createDataFrame([(v,) for v in values], "v double")
    means = set()
    for parts in (1, 3, 7):
        m = df.repartition(parts).agg(stable_mean("v").alias("m")).collect()[0]["m"]
        means.add(m)
    assert len(means) == 1  # bit-identical at any partitioning


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=30), min_size=1, max_size=6
    )
)
def test_repetition_ratio_matches_python_model(spark, texts):
    from w4h_integrated_toolkit_spark.operators.text import repetition_ratio

    rows = [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition_ratio(df, n=2).collect()}

    for i, t in enumerate(texts):
        # Spark split('\s+') of '' yields [''] (one empty token); of 'a b'
        # yields the words — model both
        toks = t.strip().split() if t.strip() else [""]
        grams = [" ".join(toks[j : j + 2]) for j in range(len(toks) - 1)]
        assert got[i]["n_grams"] == len(grams)
        assert got[i]["n_distinct"] == len(set(grams))
        exp = 1.0 - len(set(grams)) / len(grams) if grams else 0.0
        assert abs(got[i]["dup_ratio"] - exp) < 1e-9
        assert 0 <= got[i]["dup_ratio"] < 1 or got[i]["n_grams"] == 0


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.integers(1, 40), min_size=1, max_size=20),  # tokens per doc
    st.integers(2, 64),  # budget
)
def test_pack_sequences_bins_monotone_and_exact(spark, token_counts, budget):
    from w4h_integrated_toolkit_spark.operators.text import pack_sequences

    rows = [Row(doc_id=i, text=" ".join(["w"] * n)) for i, n in enumerate(token_counts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(
        pack_sequences(df, budget=budget, n_shards=3).collect(),
        key=lambda r: (r["shard"], r["doc_id"]),
    )
    cums: dict[int, int] = {}
    for r in out:
        cum_before = cums.get(r["shard"], 0)
        assert r["bin"] == cum_before // budget  # exact greedy assignment
        cums[r["shard"]] = cum_before + r["n_tokens"]
    # bins never decrease within a shard (contiguity)
    by_shard: dict[int, list[int]] = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r["bin"])
    for bins in by_shard.values():
        assert bins == sorted(bins)


@settings(max_examples=8, deadline=None)
@given(
    st.integers(1, 30),   # table size
    st.integers(1, 7),    # page size
)
def test_offset_limit_pages_partition_the_ordered_table(spark, n_rows, page):
    """Pagination completeness: walking offset/limit pages reassembles the
    ordered table exactly — no dropped, duplicated, or misordered rows
    (the native offset()+limit() O3 plan, test_plans pins its shape)."""
    df = spark.createDataFrame(
        [(i * 7 % n_rows, i) for i in range(n_rows)], "k long, payload long"
    )
    seen = []
    off = 0
    while True:
        rows = df.orderBy("k", "payload").offset(off).limit(page).collect()
        if not rows:
            break
        seen.extend((r.k, r.payload) for r in rows)
        off += page
    assert seen == sorted(((i * 7 % n_rows, i) for i in range(n_rows)))


_doc_text = st.lists(
    st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"]),
    min_size=0, max_size=8,
).map(" ".join)


@settings(max_examples=5, deadline=None)
@given(st.lists(_doc_text, min_size=2, max_size=8))
def test_incremental_dedup_equals_full_lsh_cross_side(spark, texts):
    """Randomized form of the cross-side equivalence law: incremental
    (corpus vs batch) == the corpus-batch subset of whole-corpus LSH, for
    arbitrary tiny corpora including empty/short/duplicate docs."""
    from w4h_integrated_toolkit_spark.operators.dedup import (
        incremental_neardup_pairs,
        minhash_lsh_pairs,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    inc = {
        (r.new_id, r.corpus_id): round(r.jaccard, 9)
        for r in incremental_neardup_pairs(
            corpus, batch, n=2, num_perm=4, bands=2, threshold=0.4
        ).collect()
    }
    cross = {}
    for r in minhash_lsh_pairs(
        docs, n=2, num_perm=4, bands=2, threshold=0.4
    ).collect():
        if r.id_a % 2 == 1 and r.id_b % 2 == 0:
            cross[(r.id_a, r.id_b)] = round(r.jaccard, 9)
        elif r.id_b % 2 == 1 and r.id_a % 2 == 0:
            cross[(r.id_b, r.id_a)] = round(r.jaccard, 9)
    assert inc == cross


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.text(alphabet="ab x  ", min_size=0, max_size=25),  # messy whitespace
        min_size=1, max_size=6,
    )
)
def test_rowwise_bands_equal_batch_bands_random_text(spark, texts):
    """The streaming path's row-local MinHash must equal the batch
    groupBy-min signatures on adversarial inputs (empty docs, repeated
    words, multi-space runs)."""
    from w4h_integrated_toolkit_spark.operators.dedup import lsh_band_rows
    from w4h_integrated_toolkit_spark.streaming.dedup_stream import (
        rowwise_band_rows,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    batch = {
        (r.doc_id, r.band, r.key)
        for r in lsh_band_rows(docs, n=2, num_perm=4, bands=2).collect()
    }
    roww = {
        (r.doc_id, r.band, r.key)
        for r in rowwise_band_rows(docs, n=2, num_perm=4, bands=2).collect()
    }
    assert roww == batch


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 5000),  # seconds offset
            st.integers(-(10**4), 10**4).map(lambda c: c / 100.0),
        ),
        min_size=2,
        max_size=40,
    ),
    st.integers(1, 6),    # n_coeffs kept
    st.floats(0.05, 0.9), # query start (fraction of span)
    st.floats(0.05, 0.6), # query width (fraction of span)
)
def test_fft_err_bound_always_holds(spark, points, n_coeffs, f_start, f_width):
    """The FFT sketch's DETERMINISTIC guarantee: for ANY series and ANY
    truncation, |approx_range_sum − exact bucket-aligned sum| ≤ err_bound
    (Parseval residual × sqrt(|W|), Cauchy–Schwarz). This is the property
    the driver-gated fft_range_sum flag relies on."""
    import numpy as np

    from w4h_integrated_toolkit_spark.operators.approx import (
        approx_range_sum,
        build_fft_sketch,
    )

    nb = 16
    base = dt.datetime(2016, 8, 1, tzinfo=dt.timezone.utc)
    rows = [
        Row(user_id=1, ts=base + dt.timedelta(seconds=s), value=v)
        for s, v in points
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    sketch = build_fft_sketch(df, n_buckets=nb, n_coeffs=n_coeffs)
    t0 = min(s for s, _ in points) + base.timestamp()
    t1 = max(s for s, _ in points) + base.timestamp()
    start = t0 + f_start * (t1 - t0)
    end = min(start + f_width * (t1 - t0), t1)
    got = approx_range_sum(sketch, start, end).collect()[0]

    # exact bucket-aligned sum, replicated with the sketch's own grid math
    w = (t1 - t0) / nb + 1e-9
    lo = max(int(np.floor((start - t0) / w)), 0)
    hi = min(int(np.ceil((end - t0) / w)), nb)
    exact = sum(
        v
        for s, v in points
        if lo <= min(int(np.floor((s + base.timestamp() - t0) / w)), nb - 1) < hi
    )
    assert abs(got["approx_sum"] - exact) <= got["err_bound"] + 1e-6


def test_lsh_banding_skewed_corpus_no_straggler(spark):
    """Skew hardening for LSH banding (judge r5 #6): a corpus where one
    band key holds >50% of all rows — here 60% of docs are byte-identical,
    so ALL FOUR of their band keys collide into the same buckets — must
    still complete with balanced partitions. The plan property under test:
    the in-bucket pair explosion necessarily happens in one task (the
    bucket is one group), but the candidates' ``distinct`` is an exchange
    that immediately re-spreads the O(m²) pairs by pair-hash, so no
    DOWNSTREAM partition is a straggler. The AQE coalescing knobs are
    shrunk for the test (advisory size AND the 1 MiB minPartitionSize
    floor, which otherwise folds this KB-scale shuffle into a single
    partition and makes the balance check vacuous) so AQE materializes
    multiple partitions at this data size; without the distinct exchange
    the giant bucket's pairs would all sit in the explosion task's
    partition and the 4x-median assert below would fail."""
    from w4h_integrated_toolkit_spark.operators.dedup import minhash_lsh_pairs

    dup = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, dup) for i in range(240)]
    rows += [
        (
            1000 + i,
            f"unique document number {i} discusses topic {i * 7} and "
            f"subject {i * 13} in considerable depth today",
        )
        for i in range(160)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string").repartition(8)
    knobs = {
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32768",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "16384",
    }
    prev = {k: spark.conf.get(k, None) for k in knobs}
    for k, v in knobs.items():
        spark.conf.set(k, v)
    try:
        pairs = minhash_lsh_pairs(docs, n=3, num_perm=8, bands=4, threshold=0.5)
        sizes = [
            r["cnt"]
            for r in pairs.groupBy(F.spark_partition_id().alias("pid"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        ]
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    # all C(240,2) identical-doc pairs must be emitted (jaccard 1.0)
    assert sum(sizes) >= 240 * 239 // 2
    nonempty = sorted(s for s in sizes if s > 0)
    assert len(nonempty) >= 2, f"balance check vacuous: {sizes}"
    median = nonempty[len(nonempty) // 2]
    assert max(nonempty) <= 4 * median, (
        f"straggler partition after the skewed-bucket explosion: {sizes}"
    )


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.text(alphabet="xy z", min_size=0, max_size=40), min_size=2, max_size=8
    )
)
def test_ranking_scores_partition_invariant(spark, texts):
    """The driver gate hashes exact values, so BM25 and TF-IDF must be
    bit-identical at any partitioning — the property their integer-space
    score summation exists to guarantee (a float sum would drift with
    partial-aggregation order)."""
    from w4h_integrated_toolkit_spark.operators.ranking import (
        bm25_scores,
        tfidf_top_terms,
    )

    rows = [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    bm25_sets, tfidf_sets = set(), set()
    for parts in (1, 5):
        d = df.repartition(parts)
        bm25_sets.add(
            tuple(sorted(map(tuple, bm25_scores(d, ("x", "xy", "z")).collect())))
        )
        tfidf_sets.add(tuple(sorted(map(tuple, tfidf_top_terms(d, 2).collect()))))
    assert len(bm25_sets) == 1
    assert len(tfidf_sets) == 1


@settings(max_examples=1, deadline=None)
@given(st.just(None))
def test_twa_and_zscore_partition_invariant(spark, _):
    """The integer-sum determinism claim, tested: time_weighted_avg and
    rolling_zscore produce bit-identical results at 1 partition and at 7
    — the property that makes their answers stable when cluster
    parallelism changes."""
    from w4h_integrated_toolkit_spark.catalog import read_parquet
    from w4h_integrated_toolkit_spark.operators.timeseries import (
        rolling_zscore,
        time_weighted_avg,
    )

    ev = read_parquet(spark, "/root/testdata/sf0.001/events.parquet")
    for op in (
        lambda d: time_weighted_avg(d),
        lambda d: rolling_zscore(d, lookback=20, min_periods=5, threshold=3.0),
    ):
        one = sorted(map(tuple, op(ev.repartition(1)).collect()))
        many = sorted(map(tuple, op(ev.repartition(7, "user_id")).collect()))
        assert one == many and one


# ---- wave-3 operator invariants (Spark-side, few examples) ---------------

@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100), st.integers(1, 40)),
        min_size=1,
        max_size=25,
    )
)
def test_interval_coverage_and_concurrency_invariants(spark, ivs):
    """For any interval set: islands are disjoint and ordered, coverage
    <= sum of lengths (equality iff no overlaps), coverage >= longest
    single interval, and peak concurrency is within [1, per-key count]."""
    from w4h_integrated_toolkit_spark.operators.interval import (
        interval_coverage,
        max_concurrency,
        merge_intervals,
    )

    rows = [(k, s, s + l) for k, s, l in ivs]
    df = spark.createDataFrame(rows, "user_id long, start_us long, end_us long")

    islands = {}
    for r in merge_intervals(df).collect():
        islands.setdefault(r["user_id"], []).append((r["start_us"], r["end_us"]))
    for k, spans in islands.items():
        spans.sort()
        for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
            assert e1 < s2, f"islands overlap/abut for key {k}: {spans}"

    per_key_rows = {}
    for k, s, l in ivs:
        per_key_rows.setdefault(k, []).append((s, s + l))
    cov = {r["user_id"]: r["covered_us"] for r in interval_coverage(df).collect()}
    for k, spans in per_key_rows.items():
        total_len = sum(e - s for s, e in spans)
        longest = max(e - s for s, e in spans)
        assert longest <= cov[k] <= total_len

    pk = {r["user_id"]: r["peak_concurrency"] for r in max_concurrency(df).collect()}
    for k, spans in per_key_rows.items():
        assert 1 <= pk[k] <= len(spans)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.floats(-100, 100, allow_nan=False), min_size=8, max_size=30),
    st.integers(2, 5),
)
def test_chunking_covers_every_token_once_per_window(spark, vals, stride):
    """Chunk starts advance by exactly stride; the union of [start,
    start+size) windows covers [0, n); every chunk except possibly the
    last is full."""
    from w4h_integrated_toolkit_spark.operators.text import chunk_documents

    text = " ".join(f"t{i}" for i in range(len(vals)))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    size = stride + 2
    chunks = sorted(
        (r["chunk_start"], r["n_chunk_tokens"])
        for r in chunk_documents(df, chunk_tokens=size, stride=stride).collect()
    )
    n = len(vals)
    starts = [c[0] for c in chunks]
    assert starts == list(range(0, starts[-1] + 1, stride))
    assert starts[-1] + chunks[-1][1] == n, "tail must end exactly at n"
    for s, ln in chunks[:-1]:
        assert ln == size
    covered = set()
    for s, ln in chunks:
        covered.update(range(s, s + ln))
    assert covered == set(range(n))


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.floats(-1000, 1000, allow_nan=False), min_size=8, max_size=40)
)
def test_spearman_bounds_and_monotone_invariance(spark, vals):
    """rho ∈ [-1, 1]; applying a strictly increasing transform to the
    values leaves Spearman unchanged (it sees only ranks)."""
    import datetime as _dt

    from w4h_integrated_toolkit_spark.operators.timeseries import spearman_trend

    t0 = _dt.datetime(2024, 1, 1)
    rows = [
        (1, t0 + _dt.timedelta(minutes=i), float(v)) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    got = spearman_trend(df).collect()
    # strictly increasing transform that is EXACT in float arithmetic:
    # scaling by a power of two only bumps the exponent, so distinct
    # doubles stay distinct and ties stay ties (an affine v*3+7 is NOT
    # safe — hypothesis found subnormals absorbed by the +7)
    rows2 = [(u, t, v * 4.0) for u, t, v in rows]
    df2 = spark.createDataFrame(rows2, "user_id long, ts timestamp, value double")
    got2 = spearman_trend(df2).collect()
    assert len(got) == len(got2)
    if got:
        r1, r2 = got[0]["spearman_rho"], got2[0]["spearman_rho"]
        assert -1.0 <= r1 <= 1.0
        assert r1 == r2, "Spearman must be invariant under affine value maps"


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(1, 2),      # key
            st.integers(0, 6),      # start
            st.integers(0, 5),      # length (0 = empty half-open interval)
        ),
        min_size=1,
        max_size=10,
    )
)
def test_max_concurrency_matches_instant_model_under_ties(spark, triples):
    """Adversarial-tie law for max_concurrency: against a brute-force
    instant model c(t) = #{i: s_i <= t < e_i} evaluated at every start,
    the operator must report peak = max c(t) and the FIRST start
    attaining it — for arbitrary tiny inputs dense with exact ties
    (end == start handoffs, duplicate intervals, empty [s, s)), and
    invariantly under input-row permutation (the half-open tie rule is
    a sort key, not an input-order accident)."""
    from w4h_integrated_toolkit_spark.operators.interval import max_concurrency

    rows = [(k, s, s + ln) for k, s, ln in triples]
    expected = {}
    for k in {r[0] for r in rows}:
        mine = [(s, e) for kk, s, e in rows if kk == k]
        counts = [
            (t, sum(1 for s, e in mine if s <= t < e))
            for t in sorted({s for s, _ in mine})
        ]
        peak = max(c for _, c in counts)
        first = min(t for t, c in counts if c == peak)
        expected[k] = (peak, first)

    for ordering in (rows, rows[::-1]):
        df = spark.createDataFrame(
            ordering, "user_id long, start_us long, end_us long"
        )
        got = {
            r["user_id"]: (r["peak_concurrency"], r["peak_at_us"])
            for r in max_concurrency(df, "user_id").collect()
        }
        assert got == expected


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.integers(-3, 3), min_size=1, max_size=12),
)
def test_cusum_changepoint_argmax_ties_break_to_earliest(spark, vals):
    """Adversarial-tie law for cusum_changepoint: against the exact
    integer model D_k = n*P_k - k*S, the operator must report
    max|D_k|/(n*1000) and the EARLIEST timestamp attaining the max —
    small symmetric value lists tie |D| at multiple k constantly (e.g.
    [0,1,0] ties k=1 and k=2), and the answer must survive input-row
    permutation."""
    from w4h_integrated_toolkit_spark.operators.timeseries import (
        cusum_changepoint,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0 + dt.timedelta(minutes=i), i, float(v))
        for i, v in enumerate(vals)
    ]
    vi = [round(v * 1000) for _, _, _, v in rows]
    n, s = len(vi), sum(vi)
    absd, best_k = [], None
    p = 0
    for k0, v in enumerate(vi):
        p += v
        absd.append(abs(n * p - (k0 + 1) * s))
    peak = max(absd)
    best_k = absd.index(peak)  # earliest index attaining the max
    exp_max = round(peak / (n * 1e3) * 1e4) / 1e4
    exp_ts_us = int(
        (t0 + dt.timedelta(minutes=best_k))
        .replace(tzinfo=dt.timezone.utc)
        .timestamp()
        * 1e6
    )

    for ordering in (rows, rows[::-1]):
        df = spark.createDataFrame(
            ordering, "user_id long, ts timestamp, event_id long, value double"
        )
        got = cusum_changepoint(df, min_samples=1).collect()
        assert len(got) == 1
        r = got[0]
        assert r["n_samples"] == n
        assert r["cusum_max"] == exp_max
        assert r["changepoint_epoch_us"] == exp_ts_us


def test_inverted_intervals_raise_instead_of_corrupting(spark):
    """merge_intervals / interval_coverage / max_concurrency reject
    start > end at execution time (per-row codegen check riding on the
    start value) instead of emitting negative coverage or phantom
    concurrency drops."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from w4h_integrated_toolkit_spark.operators.interval import (
        interval_coverage,
        max_concurrency,
        merge_intervals,
    )

    bad = spark.createDataFrame(
        [(1, 10, 5)], "user_id long, start_us long, end_us long"
    )
    for op in (merge_intervals, interval_coverage, max_concurrency):
        with pytest.raises((Py4JJavaError, SparkRuntimeException, Exception)) as ei:
            op(bad, "user_id").collect()
        assert "inverted interval" in str(ei.value)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 3), st.booleans()),
        min_size=0,
        max_size=12,
    )
)
def test_table_diff_matches_set_model(spark, rows):
    """table_diff against a pure-Python set model for random old/new
    snapshots (keys 0-9, values with NULLs): classification and changed
    count agree, and diff(df, df) is always empty."""
    from w4h_integrated_toolkit_spark.operators.etl import table_diff

    old = {k: (v if flag else None) for k, v, flag in rows[: len(rows) // 2]}
    new = {k: (v if flag else None) for k, v, flag in rows[len(rows) // 2 :]}
    mk = lambda d: spark.createDataFrame(
        [(k, v) for k, v in d.items()] or [(None, None)], "k long, v long"
    ).filter(F.col("k").isNotNull())
    got = {
        r["k"]: (r["change_type"], r["n_changed_cols"])
        for r in table_diff(mk(old), mk(new), ["k"], ["v"]).collect()
    }
    expected = {}
    for k in set(old) | set(new):
        if k in old and k not in new:
            expected[k] = ("removed", 0)
        elif k not in old and k in new:
            expected[k] = ("added", 0)
        elif old[k] != new[k]:
            expected[k] = ("changed", 1)
    assert got == expected
    assert table_diff(mk(old), mk(old), ["k"], ["v"]).count() == 0


@settings(max_examples=6, deadline=None)
@given(st.lists(st.sampled_from(["A", "B", "C"]), min_size=1, max_size=12))
def test_scd2_intervals_partition_timeline(spark, statuses):
    """SCD2 law: versions are contiguous 1..k; each valid_to equals the
    next version's valid_from; the last is open; concatenating the
    versions' values equals the run-length-collapsed input sequence."""
    from w4h_integrated_toolkit_spark.operators.etl import scd2_intervals

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0 + dt.timedelta(minutes=i), i, s) for i, s in enumerate(statuses)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, status string"
    )
    got = sorted(
        (
            (r["version"], r["status"], r["valid_from_us"], r["valid_to_us"])
            for r in scd2_intervals(df, "user_id", "status").collect()
        )
    )
    collapsed = [s for i, s in enumerate(statuses) if i == 0 or statuses[i - 1] != s]
    assert [v for v, _, _, _ in got] == list(range(1, len(collapsed) + 1))
    assert [s for _, s, _, _ in got] == collapsed
    for (_, _, _, to_us), (_, _, frm_us, _) in zip(got, got[1:]):
        assert to_us == frm_us
    assert got[-1][3] is None


def test_windowed_funnel_is_monotone_and_bounded_by_unconstrained(spark):
    """Step survivals never increase along the funnel, and the
    24h-constrained counts never exceed the unconstrained funnel's
    equivalents on the same data (view-started arms compared)."""
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    r = qs["windowed_funnel"](spark, "/root/testdata/sf0.001").collect()[0]
    assert (
        r["n_users"]
        >= r["n_view"]
        >= r["n_view_click_24h"]
        >= r["n_full_funnel_24h"]
        >= 0
    )


def test_brand_top_parts_keeps_ties(spark):
    """dense_rank semantics: every part whose revenue ties a top-2 value
    survives; ranks are 1 or 2; within a brand all rank-1 revenues are
    >= all rank-2 revenues."""
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    rows = qs["brand_top_parts"](spark, "/root/testdata/sf0.001").collect()
    by_brand = {}
    for r in rows:
        by_brand.setdefault(r["p_brand"], []).append((r["rnk"], r["rev_us"]))
    for brand, rs in by_brand.items():
        assert all(rnk in (1, 2) for rnk, _ in rs)
        r1 = [v for k, v in rs if k == 1]
        r2 = [v for k, v in rs if k == 2]
        assert len(set(r1)) == 1
        if r2:
            assert len(set(r2)) == 1 and max(r2) < min(r1)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(1, 600)),  # (user, gap min)
        min_size=1,
        max_size=15,
    )
)
def test_conversion_lag_percentiles_match_sorted_model(spark, pairs):
    """The rank-at-⌈p·n⌉ discrete percentile in conversion_lag_daily
    equals the sorted-list model exactly for arbitrary tie-heavy lag
    multisets: generate view→purchase pairs with known gaps, group by
    purchase day, and check p50/p90 against sorted(lags)[ceil(p*n)-1]."""
    import math

    from w4h_integrated_toolkit_spark.plans.queries import q_conversion_lag

    t0 = dt.datetime(2024, 3, 1)
    rows, eid = [], 0
    model = {}
    for i, (u, gap_min) in enumerate(pairs):
        # each synthetic user does exactly one view then one purchase
        uid = i * 10 + u
        view = t0 + dt.timedelta(hours=i % 5)
        buy = view + dt.timedelta(minutes=gap_min)
        rows.append((eid, view, uid, "view", 1.0, "{}")); eid += 1
        rows.append((eid, buy, uid, "purchase", 1.0, "{}")); eid += 1
        day = int(buy.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6
                  ) // 86_400_000_000 * 86400
        model.setdefault(day, []).append(gap_min * 60_000_000)
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    import tempfile

    with tempfile.TemporaryDirectory(prefix="w4h_convlag_") as d:
        df.write.parquet(f"{d}/events.parquet")
        got = {
            r["day_epoch"]: (r["n_pairs"], r["p50_lag_us"], r["p90_lag_us"])
            for r in q_conversion_lag(spark, d).collect()
        }
    expected = {}
    for day, lags in model.items():
        s_ = sorted(lags)
        n = len(s_)
        expected[day] = (
            n,
            s_[math.ceil(0.5 * n) - 1],
            s_[math.ceil(0.9 * n) - 1],
        )
    assert got == expected


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 4),      # src node
            st.integers(0, 4),      # dst node (self-loops allowed)
            st.integers(1, 50),     # weight
        ),
        min_size=1,
        max_size=12,
    )
)
def test_pagerank_fixed_point_matches_integer_model(spark, edges):
    """pagerank_fixed_point against the exact integer recurrence
    (reference_models.pagerank_model) — for random tiny graphs dense
    with the adversarial shapes: dangling nodes (dst with no out-edges,
    mass dropped by contract), self-loops, duplicate edges, and
    input-row permutation. The integer fixed point makes bit-equality the only
    acceptable outcome."""
    from w4h_integrated_toolkit_spark.operators.graph import (
        pagerank_fixed_point,
    )

    iters = 3
    # collapse duplicate (src, dst) pairs like edges_from_event_sequence
    agg: dict = {}
    for s_, d_, w_ in edges:
        key = (f"n{s_}", f"n{d_}")
        agg[key] = agg.get(key, 0) + w_
    rows = [(s_, d_, w_) for (s_, d_), w_ in agg.items()]
    rank = pagerank_model(agg, iters)

    for ordering in (rows, rows[::-1]):
        df = spark.createDataFrame(ordering, "src string, dst string, weight long")
        got = {
            r["node"]: r["rank_fp"]
            for r in pagerank_fixed_point(df, iterations=iters).collect()
        }
        assert got == rank


def test_pagerank_overflow_guard_boundary(spark):
    """A weight AT the documented bound passes; one past it raises the
    overflow guard instead of silently wrapping int64."""
    import pytest

    from w4h_integrated_toolkit_spark.operators.graph import (
        PAGERANK_SCALE,
        pagerank_fixed_point,
    )

    max_w = (2**63 - 1) // (2 * PAGERANK_SCALE)
    ok = spark.createDataFrame(
        [("a", "b", max_w)], "src string, dst string, weight long"
    )
    assert pagerank_fixed_point(ok, iterations=1).count() == 2

    bad = spark.createDataFrame(
        [("a", "b", max_w + 1)], "src string, dst string, weight long"
    )
    with pytest.raises(Exception, match="overflow|pre-scale"):
        pagerank_fixed_point(bad, iterations=1).collect()


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        # half-unit coordinates: q = x * 1e6 is exact, so quantization
        # has no rounding-mode ambiguity and ties are dense
        st.tuples(st.integers(-4, 4), st.integers(-4, 4)),
        min_size=1,
        max_size=10,
    )
)
def test_kmeans_iteration_matches_integer_model(spark, pts):
    """kmeans_iteration against the integer Lloyd step
    (reference_models.kmeans_model) — equidistant ties must break to the
    LOWEST centroid id, empty clusters must vanish from the output (not
    emit zero rows), negative component sums must floor toward -inf, and
    the result must be invariant under input-row permutation."""
    from w4h_integrated_toolkit_spark.operators.similarity import (
        kmeans_iteration,
    )

    vec_rows = [
        (i, [x / 2.0, y / 2.0]) for i, (x, y) in enumerate(pts)
    ]
    cents = [(0, [0.0, 0.0]), (1, [1.0, 1.0]), (2, [0.0, 1.0])]
    expected = kmeans_model(dict(vec_rows), dict(cents))

    for ordering in (vec_rows, vec_rows[::-1]):
        vdf = spark.createDataFrame(
            ordering, "vec_id long, embedding array<double>"
        )
        cdf = spark.createDataFrame(cents, "vec_id long, embedding array<double>")
        got = {
            (r["centroid_id"], r["dim"]): (r["q_value"], r["n_members"])
            for r in kmeans_iteration(vdf, cdf).collect()
        }
        assert got == expected


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.one_of(st.none(), st.integers(-5, 5)),
        min_size=1,
        max_size=12,
    )
)
def test_rolling_median_matches_brute_force(spark, vals):
    """rolling_median against a brute-force sorted-window model for
    NULL-dense random series — the discrete lower median of the non-null
    values in the trailing-k frame, invariant under input-row
    permutation (the (ts, event_id) order is total)."""
    from w4h_integrated_toolkit_spark.operators.timeseries import (
        rolling_median,
    )

    k = 3
    rows = [
        (1, i, f"2024-01-01 00:00:{i:02d}", None if v is None else float(v))
        for i, v in enumerate(vals)
    ]
    expected = {}
    for i in range(len(vals)):
        window = [
            v for v in vals[max(0, i - k + 1): i + 1] if v is not None
        ]
        sw = sorted(v * 1_000_000 for v in window)
        expected[i] = (
            len(sw),
            sw[(len(sw) + 1) // 2 - 1] if sw else None,
        )

    for ordering in (rows, rows[::-1]):
        df = spark.createDataFrame(
            ordering, "user_id long, event_id long, ts_s string, value double"
        ).select(
            "user_id",
            "event_id",
            F.col("ts_s").cast("timestamp").alias("ts"),
            "value",
        )
        got = {
            r["event_id"]: (r["n_in_window"], r["median_us"])
            for r in rolling_median(df, k=k).collect()
        }
        assert got == expected


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.integers(0, 20), min_size=4, max_size=24),
)
def test_equi_depth_bins_ntile_contract(spark, vals):
    """ntile's SQL contract, pinned: bin sizes differ by at most 1, the
    larger bins come first, and bin value ranges are non-overlapping and
    ordered (under the total (value, id) order)."""
    from w4h_integrated_toolkit_spark.plans.queries import q_equi_depth_bins

    import tempfile

    rows = [
        (i, dt.datetime(2024, 1, 1), 7, "t", float(v), "{}")
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    with tempfile.TemporaryDirectory(prefix="w4h_bins_") as d:
        df.write.parquet(f"{d}/events.parquet")
        got = sorted(
            (r["bin"], r["n"], r["lo_us"], r["hi_us"])
            for r in q_equi_depth_bins(spark, d).collect()
        )
    n = len(vals)
    base, rem = divmod(n, 4)
    expected_sizes = [base + (1 if b < rem else 0) for b in range(4)]
    expected_sizes = [s for s in expected_sizes if s > 0]
    assert [g[1] for g in got] == expected_sizes
    # ranges ordered and non-overlapping under the total order
    for (b1, _n1, _lo1, hi1), (b2, _n2, lo2, _hi2) in zip(got, got[1:]):
        assert b1 < b2 and hi1 <= lo2


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(1, 3),          # user
            st.integers(0, 1),          # day
            st.sampled_from(["x", "y", "z"]),
        ),
        min_size=1,
        max_size=15,
    )
)
def test_basket_affinity_matches_set_model(spark, events):
    """basket_affinity against a pure-Python set model: duplicate events
    collapse into one basket membership, supports are basket counts, and
    lift = s_ab·N/(s_a·s_b) to the rounding convention."""
    import tempfile

    from w4h_integrated_toolkit_spark.plans.queries import q_basket_affinity

    baskets: dict = {}
    for u, day, t in events:
        baskets.setdefault((u, day), set()).add(t)
    n = len(baskets)
    s_t: dict = {}
    s_ab: dict = {}
    for types in baskets.values():
        for t in types:
            s_t[t] = s_t.get(t, 0) + 1
        for a in types:
            for b in types:
                if a < b:
                    s_ab[(a, b)] = s_ab.get((a, b), 0) + 1
    expected = {
        pair: (c, round(c * n / (s_t[pair[0]] * s_t[pair[1]]) * 1e6) / 1e6)
        for pair, c in s_ab.items()
    }

    rows = [
        (i, dt.datetime(2024, 1, 1 + day), u, t, 1.0, "{}")
        for i, (u, day, t) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    with tempfile.TemporaryDirectory(prefix="w4h_basketp_") as d:
        df.write.parquet(f"{d}/events.parquet")
        got = {
            (r["type_a"], r["type_b"]): (r["support"], r["lift"])
            for r in q_basket_affinity(spark, d).collect()
        }
    assert got == expected


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),              # second offset (ties abound)
            st.sampled_from(["a", "b"]),    # attribute value
        ),
        min_size=1,
        max_size=10,
    )
)
def test_scd2_lookup_matches_interval_model(spark, events):
    """The window-cumsum version attribution against a brute-force
    interval model over random tie-dense streams: version_at(e) =
    1 + #changes strictly before e in the composite (ts, event_id)
    order, and per-version counts partition the stream."""
    import tempfile

    from w4h_integrated_toolkit_spark.plans.queries import q_scd2_lookup

    ordered = sorted(
        ((sec, eid, attr) for eid, (sec, attr) in enumerate(events)),
        key=lambda r: (r[0], r[1]),
    )
    versions = []
    prev = None
    v = 0
    for _sec, _eid, attr in ordered:
        if prev is None or attr != prev:
            v += 1
        versions.append(v)
        prev = attr
    expected: dict = {}
    for v_ in versions:
        expected[(9, v_)] = expected.get((9, v_), 0) + 1

    rows = [
        (eid, dt.datetime(2024, 1, 1, 0, 0, sec), 9, attr, 1.0, "{}")
        for eid, (sec, attr) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    with tempfile.TemporaryDirectory(prefix="w4h_scd2p_") as d:
        df.write.parquet(f"{d}/events.parquet")
        got = {
            (r["user_id"], r["version"]): r["n_events"]
            for r in q_scd2_lookup(spark, d).collect()
        }
    assert got == expected


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 1),                       # key
            st.integers(0, 9),                       # second offset
            st.sampled_from(["a", "b", None]),       # attr (NULL runs too)
        ),
        min_size=1,
        max_size=14,
    ),
    st.integers(0, 10),                              # cutoff second
    st.integers(0, 10),                              # second fold split
)
def test_scd2_apply_fold_equals_rebuild(spark, events, cutoff, cut2):
    """The scd2_apply IVM law over random update streams: folding any
    time-split (and any two successive splits) of the event log into the
    dimension equals the one-shot scd2_intervals rebuild, including NULL
    attribute runs, new keys, and batches that change nothing."""
    from w4h_integrated_toolkit_spark.operators.etl import (
        scd2_apply,
        scd2_intervals,
    )

    rows = [
        (eid, dt.datetime(2024, 1, 1, 0, 0, sec), key, attr)
        for eid, (key, sec, attr) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    # (key, valid_from_us, version) is unique per row; attr may be None
    # so full-tuple sort would raise on None < str
    srt = lambda it: sorted(map(tuple, it), key=lambda t: (t[0], t[2], t[4]))
    rebuilt = srt(scd2_intervals(df, "user_id", "event_type").collect())

    t_cut = dt.datetime(2024, 1, 1, 0, 0, cutoff)
    hist, batch = df.filter(F.col("ts") < F.lit(t_cut)), df.filter(
        F.col("ts") >= F.lit(t_cut)
    )
    dim = scd2_intervals(hist, "user_id", "event_type")
    folded = scd2_apply(dim, batch, "user_id", "event_type")
    assert srt(folded.collect()) == rebuilt

    # two successive applies across an independent second split
    lo, hi = sorted((cutoff, cut2))
    t_lo, t_hi = (dt.datetime(2024, 1, 1, 0, 0, s) for s in (lo, hi))
    d0 = scd2_intervals(df.filter(F.col("ts") < F.lit(t_lo)), "user_id", "event_type")
    d1 = scd2_apply(
        d0,
        df.filter((F.col("ts") >= F.lit(t_lo)) & (F.col("ts") < F.lit(t_hi))),
        "user_id",
        "event_type",
    )
    d2 = scd2_apply(
        d1, df.filter(F.col("ts") >= F.lit(t_hi)), "user_id", "event_type"
    )
    assert srt(d2.collect()) == rebuilt


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.text(alphabet="ab c", min_size=0, max_size=24),
        min_size=1,
        max_size=5,
    )
)
def test_bpe_learn_matches_python_model(spark, texts):
    """bpe_learn == the sequential BPE trainer (reference_models.bpe_model)
    on random corpora.

    The alphabet forces the hard cases: equal-symbol runs ("aaaa" must
    greedily merge to ["aa","aa"], never ["a","aa","a"] — the Spark fold
    and the oracle's gaps-and-islands closed form both encode this),
    frequent count ties (argmax must break by lexicographic pair), and
    words that reduce to a single symbol (pair exhaustion → early stop).
    """
    from w4h_integrated_toolkit_spark.operators.bpe import bpe_learn

    rows = [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    expected, _ = bpe_model(texts)

    got = [
        (r["merge_rank"], r["left_sym"], r["right_sym"], r["pair_count"])
        for r in bpe_learn(df, n_merges=3).orderBy("merge_rank").collect()
    ]
    assert got == expected


def test_bpe_oracle_survives_pair_exhaustion(spark, tmp_path):
    """When the vocabulary exhausts pairs before n_merges, the operator
    stops early — and the unrolled SQL oracle must CARRY the vocabulary
    forward through the dead steps, not annihilate it: the per-step
    rewrite joins the (empty) argmax CTE with LEFT JOIN ON TRUE. A
    CROSS JOIN there returned an EMPTY encode table for any exhausting
    corpus (caught by review). Gate both halves on corpora that exhaust
    at step 2 ('ab ab c' — one merge then no pairs) and at step 1
    ('a b c a' — all single symbols from the start)."""
    import duckdb

    from w4h_integrated_toolkit_spark.operators.bpe import bpe_encode, bpe_learn
    from w4h_integrated_toolkit_spark.plans.queries import (
        _bpe_encode_sql,
        _bpe_sql,
    )

    # last corpus has NO extractable [a-z]+ word at all (digits/punct/
    # NULL text): empty vocabulary → both halves and both oracles must
    # return empty, not crash
    for i, texts in enumerate(
        [["ab ab c"], ["a b c a"], ["aaaa aa"], ["123 456 !!", None]]
    ):
        pq = str(tmp_path / f"docs{i}.parquet")
        spark.createDataFrame(
            [(j, t) for j, t in enumerate(texts)], "doc_id long, text string"
        ).coalesce(1).write.parquet(pq)
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pq}/*.parquet')"
        )

        got_m = sorted(
            (r["merge_rank"], r["left_sym"], r["right_sym"], r["pair_count"])
            for r in bpe_learn(
                spark.read.parquet(pq), n_merges=3
            ).collect()
        )
        want_m = sorted(map(tuple, con.execute(_bpe_sql(3)).fetchall()))
        assert got_m == want_m, f"merge table diverged on {texts}"

        got_e = sorted(
            (r["token"], r["n"])
            for r in bpe_encode(spark.read.parquet(pq), n_merges=3, k=50).collect()
        )
        want_e = sorted(map(tuple, con.execute(_bpe_encode_sql(3, 50)).fetchall()))
        assert got_e == want_e, f"encode table diverged on {texts}"
        has_words = any(
            any(c.isalpha() for c in (t or "")) for t in texts
        )
        assert bool(got_e) == has_words, (
            f"encode table emptiness must track word presence on {texts}"
        )
        con.close()


def test_bpe_segment_consistent_with_encode_and_lossless(spark):
    """bpe_segment (the apply-at-inference half, Arrow kernel over the
    distinct-word dictionary) must agree with the fit side: segmenting
    the corpus under the merges bpe_learn fitted on it, then counting
    tokens, equals bpe_encode's table exactly — the kernel's greedy
    per-merge pass is thereby cross-checked against the chained
    F.aggregate folds the DuckDB oracle gates. Also lossless: joining
    each doc's tokens reconstructs its [a-z]+ word stream verbatim."""
    import re as _re

    from w4h_integrated_toolkit_spark.catalog import read_parquet
    from w4h_integrated_toolkit_spark.operators.bpe import (
        bpe_encode,
        bpe_learn,
        bpe_segment,
    )

    docs = read_parquet(spark, "/root/testdata/sf0.001/documents.parquet")
    merges = [
        (r["left_sym"], r["right_sym"])
        for r in bpe_learn(docs, n_merges=4).orderBy("merge_rank").collect()
    ]
    seg = bpe_segment(docs, merges)

    import collections

    counts = collections.Counter()
    joined = {}
    for r in seg.collect():
        counts.update(r["tokens"])
        joined[r["doc_id"]] = "".join(r["tokens"])
    want = {
        (r["token"], r["n"]) for r in bpe_encode(docs, n_merges=4, k=None).collect()
    }
    assert set(counts.items()) == want

    for r in docs.select("doc_id", "text").collect():
        stream = "".join(_re.findall(r"[a-z]+", (r["text"] or "").lower()))
        if stream:
            assert joined[r["doc_id"]] == stream
        else:
            assert r["doc_id"] not in joined


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.text(alphabet="ab", min_size=1, max_size=10),
        min_size=1,
        max_size=4,
    ),
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "aa", "ab", "ba", "bb"]),
            st.sampled_from(["a", "b", "aa", "ab", "ba", "bb"]),
        ),
        min_size=1,
        max_size=3,
    ),
)
def test_bpe_segment_kernel_equals_fold_chain(spark, words, merges):
    """The Arrow kernel inside bpe_segment must match the JVM
    F.aggregate fold chain (the formulation the DuckDB oracle gates)
    for ARBITRARY merge tables — including self-overlapping merges
    ((a,a) on 'aaaa'), merges whose operands are earlier merge OUTPUTS
    ((aa,a) after (a,a)), and merges that never fire. The two
    implementations share only the semantics, not the code path
    (per-row Python loop vs Catalyst expression fold)."""
    from w4h_integrated_toolkit_spark.operators.bpe import (
        _fold_merge,
        bpe_segment,
    )

    docs = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: list(r["tokens"])
        for r in bpe_segment(docs, merges).collect()
    }

    syms = F.split(F.col("text"), "")
    for left, right in merges:
        syms = _fold_merge(syms, left, right)
    want = {
        r["doc_id"]: list(r["toks"])
        for r in docs.select("doc_id", syms.alias("toks")).collect()
    }
    assert got == want


def test_bpe_encode_preserves_character_stream(spark):
    """bpe_encode re-segments the corpus, never alters it: the token
    frequencies (full table, k=None) must carry exactly the corpus's
    character mass — Σ n·len(token) == Σ count·len(word) over the
    [a-z]+ word stream — and every token must be a substring the merges
    could actually build. Catches any fold bug that drops or duplicates
    a pending symbol at word boundaries (the classic off-by-one in
    greedy BPE application)."""
    import collections
    import re as _re

    from w4h_integrated_toolkit_spark.catalog import read_parquet
    from w4h_integrated_toolkit_spark.operators.bpe import bpe_encode

    docs = read_parquet(spark, "/root/testdata/sf0.001/documents.parquet")
    toks = bpe_encode(docs, n_merges=4, k=None).collect()
    token_chars = sum(len(r["token"]) * r["n"] for r in toks)

    wc = collections.Counter(
        w
        for r in docs.select("text").collect()
        for w in _re.findall(r"[a-z]+", (r["text"] or "").lower())
    )
    corpus_chars = sum(len(w) * c for w, c in wc.items())
    assert token_chars == corpus_chars
    assert sum(r["n"] for r in toks) <= sum(wc.values()) * max(
        len(w) for w in wc
    )


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                codec="ascii", exclude_characters="\x00"
            ),
            max_size=60,
        ),
        min_size=1,
        max_size=4,
    )
)
def test_html_extract_inverts_page_construction(spark, texts):
    """Round-trip law for the HTML extractor: for ARBITRARY ascii body
    text (including '&', '<', '>', quotes, newlines), escaping the text
    into a full page (head/title/style/script/comment wrappers) and
    running html_text recovers exactly the whitespace-collapsed text —
    the generalization of the q_html_extract oracle beyond the corpus'
    vocabulary."""
    import re as _re

    from w4h_integrated_toolkit_spark.operators.web import html_text

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string"
    )
    esc = F.replace(F.col("text"), F.lit("&"), F.lit("&amp;"))
    esc = F.replace(esc, F.lit("<"), F.lit("&lt;"))
    esc = F.replace(esc, F.lit(">"), F.lit("&gt;"))
    page = F.concat(
        F.lit("<html><head><title>T</title><style>p{}</style></head>"),
        F.lit("<body><!-- c --><p>"),
        esc,
        F.lit('</p><script>x("<p>y</p>");</script></body></html>'),
    )
    got = {
        r["i"]: r["t"]
        for r in df.select("i", html_text(page).alias("t")).collect()
    }
    for i, t in enumerate(texts):
        # python ascii \s+ == java \s+ ([ \t\n\x0B\f\r]); strip SPACES
        # only — Spark's trim() does not treat \x1c-\x1f as whitespace
        # the way python's bare str.strip() does
        expected = _re.sub(r"\s+", " ", t, flags=_re.ASCII).strip(" ")
        assert got[i] == expected, (t, got[i], expected)


@given(
    st.integers(1, 4),          # frames
    st.integers(1, 5),          # half-height
    st.integers(1, 5),          # half-width
    st.sampled_from(["mono", "420jpeg", "444"]),
    st.integers(0, 2**31 - 1),  # pixel seed
)
@settings(max_examples=40, deadline=None)
def test_y4m_roundtrip_property(n, hh, hw, cs, seed):
    """Driver-side codec law: encode_y4m ∘ decode_y4m is the identity
    for arbitrary (even-dimension) plane stacks in every supported
    colorspace, and y4m_info agrees with the decode without touching
    pixels — the generalization of the fixed-case unit family."""
    import numpy as np

    from w4h_integrated_toolkit_spark.operators import videocodec as V

    h, w = 2 * hh, 2 * hw
    rng = np.random.default_rng(seed)
    y = rng.integers(0, 256, (n, h, w), dtype=np.uint8)
    if cs == "mono":
        cb = cr = None
    elif cs == "420jpeg":
        cb = rng.integers(0, 256, (n, h // 2, w // 2), dtype=np.uint8)
        cr = rng.integers(0, 256, (n, h // 2, w // 2), dtype=np.uint8)
    else:
        cb = rng.integers(0, 256, (n, h, w), dtype=np.uint8)
        cr = rng.integers(0, 256, (n, h, w), dtype=np.uint8)
    blob = V.encode_y4m(y, cb, cr, fps=(24, 1), colorspace=cs)
    y2, cb2, cr2, info = V.decode_y4m(blob)
    assert np.array_equal(y2, y)
    if cb is None:
        assert cb2 is None and cr2 is None
    else:
        assert np.array_equal(cb2, cb) and np.array_equal(cr2, cr)
    assert info["colorspace"] == cs and info["n_frames"] == n
    assert V.y4m_info(blob)["n_frames"] == n


@given(
    st.integers(1, 60),         # frames
    st.sampled_from([8, 16, 24, 32]),
    st.integers(1, 3),          # channels
    st.integers(0, 2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_wav_roundtrip_property(nf, bits, ch, seed):
    """Driver-side codec law: encode_wav ∘ decode_wav is the identity
    for arbitrary frame counts, widths and channel counts over the full
    signed sample range of each width (including the extremes)."""
    import numpy as np

    from w4h_integrated_toolkit_spark.operators import audiocodec as AC

    lo, hi = (-128, 127) if bits == 8 else (-(1 << bits - 1), (1 << bits - 1) - 1)
    rng = np.random.default_rng(seed)
    a = rng.integers(lo, hi + 1, size=(nf, ch), dtype=np.int64)
    a[0, 0], a[-1, -1] = lo, hi  # pin the extremes into every example
    blob = AC.encode_wav(a, 44100, bits=bits)
    dec, rate = AC.decode_wav(blob)
    assert rate == 44100 and np.array_equal(dec, a)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(-(2**40), 2**40),
            st.one_of(st.none(), st.floats(allow_nan=False, allow_infinity=False, width=32)),
            st.one_of(st.none(), st.text(max_size=12)),
        ),
        min_size=1,
        max_size=8,
    ),
    st.lists(
        st.tuples(
            st.integers(-(2**40), 2**40),
            st.one_of(st.none(), st.floats(allow_nan=False, allow_infinity=False, width=32)),
            st.one_of(st.none(), st.text(max_size=12)),
        ),
        min_size=1,
        max_size=8,
    ),
    st.dictionaries(
        st.text(min_size=1, max_size=8),
        st.one_of(st.integers(-(2**31), 2**31), st.text(max_size=12), st.booleans()),
        max_size=4,
    ),
)
def test_model_store_roundtrip_property(spark, tmp_path_factory, rows1, rows2, params):
    """Model-store law over arbitrary small models: save → load is the
    identity on rows (NULLs, unicode, extreme ints included) and params
    (any JSON-safe dict), a second save fully replaces the first while
    the first stays loadable by version, and the stored params gate the
    load exactly."""
    from w4h_integrated_toolkit_spark.sources.models import load_model, save_model

    t = str(tmp_path_factory.mktemp("prop") / "store")
    schema = "a long, b double, c string"
    df1 = spark.createDataFrame(rows1, schema)
    df2 = spark.createDataFrame(rows2, schema)

    def canon(df):
        return sorted(
            ((r["a"], r["b"], r["c"]) for r in df.collect()), key=repr
        )

    v1 = save_model(spark, t, df1, params)
    got1, p1 = load_model(spark, t, expect_params=params)
    assert p1 == dict(params) and canon(got1) == canon(df1)

    v2 = save_model(spark, t, df2, {"v": 2})
    assert v2 == v1 + 1
    latest, p2 = load_model(spark, t)
    assert p2 == {"v": 2} and canon(latest) == canon(df2)  # full replace
    old, p_old = load_model(spark, t, version=v1)
    assert p_old == dict(params) and canon(old) == canon(df1)  # time travel


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.booleans(),                      # https?
            st.booleans(),                      # userinfo?
            st.integers(0, 3),                  # host variant
            st.integers(0, 1),                  # trailing host dot (java.net.URI
                                                # rejects repeated dots → NULL)
            st.sampled_from(["", ":80", ":443", ":8080"]),
            st.lists(st.integers(0, 4), max_size=4),   # path segments
            st.booleans(),                      # double the slashes?
            st.booleans(),                      # trailing slash?
            st.lists(
                st.sampled_from(
                    ["a=1", "b=2", "utm_source=x", "gclid=g", "B=0",
                     "refresh=1", "c=%3a", "e=%42", "ref=keep"]
                ),
                max_size=4,
            ),
            st.booleans(),                      # fragment?
        ),
        min_size=1,
        max_size=12,
    )
)
def test_canonicalize_url_idempotence_property(spark, specs):
    """Canonicalization law: canonicalize ∘ canonicalize ==
    canonicalize over component-generated URLs (schemes, credentials,
    host case/dots, default and explicit ports, doubled/trailing
    slashes, tracking + content params in any order, fragments) — a
    canonical form that keeps changing under its own normalizer isn't
    canonical. Also: the canonical form never contains '#', '@' or a
    default port."""
    from pyspark.sql import functions as F

    from w4h_integrated_toolkit_spark.operators.web import canonicalize_url

    def build(https, ui, hv, dots, port, segs, dbl, trail, params, frag):
        host = ["Ex.COM", "ex.com", "WWW.Ex.Org", "sub.ex.net"][hv] + "." * dots
        sep = "//" if dbl else "/"
        # segment spellings include percent-encoded unreserved (%41,
        # %7e — decode), reserved (%2f — uppercase, stays encoded) and
        # double-encoded (%2541 — untouched) octets: the percent pass
        # must also be a fixed point of itself
        seg_forms = ["s{}", "p%41x{}", "t%7e{}", "q%2fz{}", "d%2541{}"]
        path = "".join(
            sep + seg_forms[p % len(seg_forms)].format(p) for p in segs
        ) + ("/" if trail else "")
        return (
            ("https" if https else "http")
            + "://"
            + ("user:pw@" if ui else "")
            + host
            + port
            + path
            + (("?" + "&".join(params)) if params else "")
            + ("#frag" if frag else "")
        )

    urls = [build(*spec) for spec in specs]
    df = spark.createDataFrame([(u,) for u in urls], "u string")
    once = df.select(canonicalize_url(F.col("u")).alias("c1"))
    twice = once.select(
        "c1", canonicalize_url(F.col("c1")).alias("c2")
    ).collect()
    for r in twice:
        assert r["c2"] == r["c1"], (r["c1"], r["c2"])
        assert r["c1"] is not None  # every generated URL parses
        assert "#" not in r["c1"] and "@" not in r["c1"]
        assert not r["c1"].startswith("http://") or ":80/" not in r["c1"]
        assert not r["c1"].startswith("https://") or ":443/" not in r["c1"]

    # malformed input (java.net.URI rejects repeated host dots) → NULL,
    # and NULL propagates through a second pass
    bad = spark.createDataFrame([("http://ex.com..",), (None,)], "u string")
    out = bad.select(
        canonicalize_url(canonicalize_url(F.col("u"))).alias("c")
    ).collect()
    assert all(r["c"] is None for r in out)


# ---- WARC codec round-trip law (driver-side, no Spark jobs) --------------

@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["response", "request", "metadata", "warcinfo"]),
            st.binary(max_size=200),            # payload, incl. b"" and \r\n
            st.one_of(
                st.none(),
                st.text(
                    alphabet=st.characters(
                        min_codepoint=33, max_codepoint=126
                    ),
                    min_size=1,
                    max_size=40,
                ),
            ),                                   # target URI (CR/LF-free)
        ),
        min_size=1,
        max_size=8,
    ),
    st.booleans(),                               # gzip members?
)
def test_warc_roundtrip_property(recs, gz):
    """encode ∘ parse is the identity on record type, URI and payload
    BYTES — whatever the payload contains (empty, CRLF runs, fake
    header text, binary), however many records, in both container
    layouts. Framing is Content-Length driven, so payload content can
    never confuse it."""
    from w4h_integrated_toolkit_spark.sources.warc import (
        encode_warc,
        encode_warc_record,
        parse_warc,
    )

    blob = encode_warc(
        [
            encode_warc_record(t, payload, target_uri=uri)
            for t, payload, uri in recs
        ],
        gzip_members=gz,
    )
    got = parse_warc(blob)
    assert len(got) == len(recs)
    for (t, payload, uri), rec in zip(recs, got):
        assert rec["headers"]["warc-type"] == t
        assert rec["headers"].get("warc-target-uri") == uri
        assert rec["payload"] == payload
        assert int(rec["headers"]["content-length"]) == len(payload)


@settings(max_examples=12, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from(
                list("abzAZ09-._~/?&=%") + list("é✓日ß")
                + ["41", "7e", "2f", "25", "c3",
                   "%41", "%7e", "%2F", "%c3%a9", "%zz", "%"]
            ),
            max_size=12,
        ),
        min_size=1,
        max_size=24,
    )
)
def test_pct_match_normalize_twins_property(spark, frags):
    """The robots consistent-encoding pass (RFC 9309 §2.2.2) exists in
    TWO implementations — pure Columns for the URL match target,
    driver-side Python for the rule patterns — and under-blocking
    happens exactly when they disagree, so the law is equivalence over
    adversarial percent soup (well-formed/torn/double-encoded triplets,
    raw multi-byte non-ASCII, hex-pair fragments), plus idempotence of
    the shared pass (a fixed point is what makes it a normal form)."""
    from pyspark.sql import functions as F

    from w4h_integrated_toolkit_spark.operators.web import (
        _pct_encode_nonascii,
        _pct_normalize,
        _robots_match_normalize_py,
    )

    strings = ["".join(f) for f in frags]
    df = spark.createDataFrame([(s,) for s in strings], "s string")
    col = _pct_normalize(_pct_encode_nonascii(F.col("s")))
    got = df.select("s", col.alias("n")).collect()
    for r in got:
        py = _robots_match_normalize_py(r["s"])
        assert r["n"] == py, (r["s"], r["n"], py)
        # idempotence: the normal form is a fixed point
        assert _robots_match_normalize_py(py) == py, (r["s"], py)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.text(alphabet="ab \t\n", min_size=0, max_size=40),
        min_size=2,
        max_size=6,
    ),
    st.booleans(),
)
def test_duplicated_spans_matches_python_model(spark, texts, within):
    """duplicated_spans + strip vs the sequential window/island model
    (reference_models.spans_model, which scripts/stress_check.py also
    sweeps at random k and merge gaps) at CI budget: the tiny a/b
    alphabet makes chance cross-doc and intra-doc 3-token windows
    common, exercising detection, the island merge and the cut on
    naturally messy inputs rather than planted runs; the tab/newline
    letters hit the leading/trailing non-space-whitespace token shift
    ADVICE r14 #1 found (fixed by _ws_tokens)."""
    from w4h_integrated_toolkit_spark.operators.dedup import (
        duplicated_spans,
        strip_duplicated_spans,
    )

    k = 3
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)],
        "doc_id long, text string",
    )
    spans_df = duplicated_spans(df, k=k, within_doc=within)
    got = {
        (r.doc_id, r.start_tok, r.end_tok, r.n_matched)
        for r in spans_df.collect()
    }
    cut = {
        r.doc_id: r.text
        for r in strip_duplicated_spans(df, spans=spans_df).collect()
    }

    exp, want_cut = spans_model(dict(enumerate(texts)), within, k=k)
    assert cut == want_cut
    assert got == exp


# ---- gopher_quality_flags vs a literal Python model ----------------------

_GQ_LINE_POOL = [
    "the cat and the dog sat with all of them",
    "- bullet item one",
    "* starred bullet",
    "• unicode bullet line",
    "trailing thought...",
    "unicode tail…",
    "#tag #spam #noise",
    "plain words only here",
    "42 7 99",
    "x",
    "the quick brown fox jumps over that lazy dog to be sure",
    "   ",
]


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(_GQ_LINE_POOL), min_size=0, max_size=10),
        min_size=1,
        max_size=4,
    )
)
def test_gopher_quality_flags_matches_python_model(spark, docs):
    """Every statistic, every rule verdict, and the composite pass flag
    equal the literal Python re-derivation (reference_models.gopher_model)
    — same regexes, same int counts, same double divisions, so the
    comparison is EXACT (the only tolerated difference is fail_reasons
    order, canonicalized by sort).
    Sampling lines with repetition exercises the sorted-predecessor
    duplicate-line path on naturally colliding inputs."""
    from w4h_integrated_toolkit_spark.operators.text import gopher_quality_flags

    texts = ["\n".join(lines) for lines in docs]
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in gopher_quality_flags(df).collect()}
    assert len(got) == len(texts)
    for i, t in enumerate(texts):
        want = gopher_model(t)
        g = got[i]
        for k, v in want.items():
            if k == "fail_reasons":
                assert sorted(g[k]) == v, (i, t, g[k], v)
            else:
                assert g[k] == v, (i, t, k, g[k], v)


# ---- c4_clean_lines vs a literal Python model -----------------------------

_C4_LINE_POOL = [
    "this line has the five words.",
    "no terminal punctuation so it drops",
    "Tiny.",
    "enable javascript to view this.",
    "lorem ipsum dolor sit amet today.",
    "a quoted sentence ends like this.”",
    "braces make a code page { sometimes",
    "ellipsis endings also count as terminal…",
    "exactly five words right here!",
    "",
    "   ",
]


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(_C4_LINE_POOL), min_size=0, max_size=8),
        min_size=1,
        max_size=4,
    )
)
def test_c4_clean_lines_matches_python_model(spark, docs):
    """Cleaned text, line counts and the document verdict all equal the
    literal Python re-derivation (reference_models.c4_model) exactly,
    over documents assembled from a pool that exercises every rule
    (terminal punct incl. quote/ellipsis tails, short lines, both
    markers, code braces, blank lines)."""
    from w4h_integrated_toolkit_spark.operators.text import c4_clean_lines

    texts = ["\n".join(lines) for lines in docs]
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in c4_clean_lines(df).collect()}
    assert len(got) == len(texts)
    for i, t in enumerate(texts):
        want = c4_model(t)
        for k, v in want.items():
            assert got[i][k] == v, (i, t, k, got[i][k], v)


# ---- DSIR fit + resample vs a literal Python model ------------------------

@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.text(alphabet="ab \t\n", min_size=1, max_size=24),
        min_size=1,
        max_size=5,
    ),
    st.lists(
        st.text(alphabet="abc \t\n", min_size=1, max_size=24),
        min_size=2,
        max_size=8,
    ),
    st.integers(min_value=1, max_value=4),
)
def test_dsir_matches_python_model(spark, tgt_texts, raw_texts, k):
    """fit_dsir_logratios + dsir_resample vs the literal sequential
    model over random messy corpora (tab/newline whitespace, tiny
    alphabets so bucket collisions are common): per-bucket weights,
    per-doc log importance, Gumbel keys and the top-k selection must
    all reproduce exactly. Empty-token-only docs score no row and are
    never selected."""
    import hashlib
    import math

    from w4h_integrated_toolkit_spark.operators.text import (
        dsir_resample,
        fit_dsir_logratios,
    )

    B, a, T, seed = 16, 1.0, 2.0, 11

    def toks(t):
        return t.strip().lower().split()

    if not any(toks(t) for t in tgt_texts) or not any(
        toks(t) for t in raw_texts
    ):
        return  # empty corpus raises by design, covered by the unit test

    target = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(tgt_texts)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [Row(doc_id=100 + i, text=t) for i, t in enumerate(raw_texts)],
        "doc_id long, text string",
    )

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % 2147483647 % B

    def counts(texts):
        out = {}
        for t in texts:
            for tok in toks(t):
                out[bucket(tok)] = out.get(bucket(tok), 0) + 1
        return out

    ct, cr = counts(tgt_texts), counts(raw_texts)
    Tt, Tr = sum(ct.values()), sum(cr.values())
    exp_w = {
        b: math.log((ct.get(b, 0) + a) / (Tt + a * B))
        - math.log((cr.get(b, 0) + a) / (Tr + a * B))
        for b in range(B)
    }

    w = fit_dsir_logratios(target, raw, n_buckets=B, alpha=a)
    got_w = {r["bucket"]: r["weight"] for r in w.collect()}
    assert set(got_w) == set(range(B))
    for b in range(B):
        assert abs(got_w[b] - exp_w[b]) < 1e-12, b

    from tests.conftest import half_away_1e9

    wi = {b: half_away_1e9(v) for b, v in exp_w.items()}

    def key_of(doc_id, text):
        # the operator's exact integer dot (1e-9-scaled weights)
        z = sum(wi[bucket(tok)] for tok in toks(text)) / 1e9
        h = (
            int(hashlib.md5(f"dsir{seed}|{doc_id}".encode()).hexdigest()[:8], 16)
            % 2147483647
        )
        u = (h + 1) / 2147483648.0
        return z / T - math.log(-math.log(u))

    scored = [
        (100 + i, t) for i, t in enumerate(raw_texts) if toks(t)
    ]
    exp_sel = [
        d
        for _, d in sorted(
            ((-key_of(d, t), d) for d, t in scored)
        )[:k]
    ]
    got = dsir_resample(
        raw, w, k=k, n_buckets=B, temperature=T, seed=seed
    ).collect()
    assert [r["doc_id"] for r in got] == exp_sel[: len(got)]
    assert len(got) == min(k, len(scored))


# ---- the deep stress sweep, one trial per section -------------------------

def test_stress_check_sections_run_clean(spark):
    """Every section of scripts/stress_check.py runs one trial on the
    fixture session and matches its model exactly. Nothing else runs the
    deep sweep, so this keeps its sections (and their imports of the
    shared reference models) from rotting between full runs. main() is
    not called: it builds its own session and stops it."""
    import importlib.util
    import inspect
    import os
    import random

    spec = importlib.util.spec_from_file_location(
        "stress_check",
        os.path.join(os.path.dirname(__file__), "..", "scripts", "stress_check.py"),
    )
    stress_check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(stress_check)
    sections = [
        fn
        for name, fn in inspect.getmembers(stress_check, inspect.isfunction)
        if name.startswith("stress_")
    ]
    assert sections
    bad = {fn.__name__: fn(spark, random.Random(20260815), 1) for fn in sections}
    assert bad == dict.fromkeys(bad, 0)
