"""Unit tests for the operator library on W4H-shaped in-memory fixtures
(SURVEY §5: the pandas-quirk semantics the TPC-H-ish oracle tables can't
exercise — calibration parity, null-tolerant filters, overnight ranges,
geometry codecs, ETL mapping)."""

from __future__ import annotations

import datetime as dt
import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from w4h_integrated_toolkit_spark.catalog import (
    DEFAULT_GEOMTS_CONFIG,
    FACT_SCHEMA,
    struct_type_for_users,
)
from w4h_integrated_toolkit_spark.functions import (
    mets,
    rolling_hash,
    time_of_day_between,
    word_shingles,
)
from w4h_integrated_toolkit_spark.operators.cohort import (
    FilterSpec,
    cohort_semi_join,
    filter_users,
)
from w4h_integrated_toolkit_spark.operators.etl import (
    fuzzy_map_columns,
    melt,
    normalize_name,
    upsert_users,
)
from w4h_integrated_toolkit_spark.operators.geo import (
    haversine_m,
    trajectories,
    wkb_hex_decode,
    wkt_decode_lat,
    wkt_decode_lon,
    wkt_point,
)
from w4h_integrated_toolkit_spark.operators.timeseries import (
    calibrate,
    calibrate_pandas,
    gap_mask,
)

T0 = dt.datetime(2016, 8, 1, 12, 0, 0)


def _ts(hours):
    return T0 + dt.timedelta(hours=hours)


@pytest.fixture(scope="module")
def hr_df(spark):
    """Two users; u2 has a >12 h gap after its 2nd reading (viz.py:93 case)."""
    rows = [
        ("u1", _ts(0), 70.0),
        ("u1", _ts(1), 80.0),
        ("u1", _ts(2), 90.0),
        ("u2", _ts(0), 50.0),
        ("u2", _ts(1), 60.0),
        ("u2", _ts(20), 70.0),  # 19 h gap from previous
    ]
    return spark.createDataFrame(rows, FACT_SCHEMA)


def test_calibrate_matches_pandas_replica(spark, hr_df):
    """Native-window calibration == applyInPandas replica of viz.py:80-96."""
    native = {
        (r["user_id"], r["timestamp"]): (r["days_since_start"], r["scaled_value"])
        for r in calibrate(hr_df).collect()
    }
    replica = {
        (r["user_id"], r["timestamp"]): (r["days_since_start"], r["scaled_value"])
        for r in calibrate_pandas(hr_df).collect()
    }
    assert native.keys() == replica.keys()
    for k in native:
        dn, sn = native[k]
        dr, sr = replica[k]
        assert dn == pytest.approx(dr, abs=1e-9)
        if sn is None or sr is None:
            assert sn is None and sr is None, k
        else:
            assert sn == pytest.approx(sr, abs=1e-9)


def test_calibrate_gap_masks_lead_not_lag(spark, hr_df):
    """The reading BEFORE a long gap is nulled (diff().shift(-1) semantics),
    not the one after."""
    out = {
        (r["user_id"], r["timestamp"]): r["scaled_value"]
        for r in calibrate(hr_df).collect()
    }
    assert out[("u2", _ts(1))] is None  # gap to next reading = 19 h > 12 h
    assert out[("u2", _ts(20))] is not None  # reading after the gap survives


def test_gap_mask_threshold(spark, hr_df):
    out = {
        (r["user_id"], r["timestamp"]): r["masked_value"]
        for r in gap_mask(hr_df, gap_seconds=2 * 3600.0).collect()
    }
    # 1 h gaps survive a 2 h threshold; the 19 h gap doesn't
    assert out[("u1", _ts(0))] == 70.0
    assert out[("u2", _ts(1))] is None


def test_filter_users_null_tolerant(spark):
    users = spark.createDataFrame(
        [("u1", 30), ("u2", None), ("u3", 70)], "user_id string, age int"
    )
    got = {
        r["user_id"]
        for r in filter_users(users, [FilterSpec("age", "int", (20, 40))]).collect()
    }
    assert got == {"u1", "u2"}  # null passes (viz.py:417)
    got2 = {
        r["user_id"]
        for r in filter_users(
            users, [FilterSpec("age", "int", (20, 40), ignore_nulls=False)]
        ).collect()
    }
    assert got2 == {"u1"}


def test_filter_users_empty_multiselect_means_all(spark):
    users = spark.createDataFrame(
        [("u1", "CA"), ("u2", None)], "user_id string, state string"
    )
    got = filter_users(users, [FilterSpec("state", "string", [])]).count()
    assert got == 2  # empty selection = no restriction (viz.py:388-390)


def test_cohort_semi_join(spark, hr_df):
    cohort = spark.createDataFrame([("u1",)], "user_id string")
    assert cohort_semi_join(hr_df, cohort).count() == 3


def test_time_of_day_wraparound(spark):
    rows = [
        ("a", dt.datetime(2024, 1, 1, 21, 0)),  # in (evening)
        ("b", dt.datetime(2024, 1, 1, 3, 0)),  # in (early morning)
        ("c", dt.datetime(2024, 1, 1, 12, 0)),  # out
        ("d", dt.datetime(2024, 1, 1, 4, 45)),  # boundary in
        ("e", dt.datetime(2024, 1, 1, 4, 46)),  # just out
    ]
    df = spark.createDataFrame(rows, "id string, ts timestamp")
    got = {
        r["id"]
        for r in df.filter(
            time_of_day_between(F.col("ts"), 20 * 3600, 4 * 3600 + 45 * 60)
        ).collect()
    }
    assert got == {"a", "b", "d"}


def test_mets_default_weight(spark):
    df = spark.createDataFrame([(100.0, 50.0), (100.0, None)], "cal double, w double")
    out = df.select(mets(F.col("cal"), F.col("w")).alias("m")).collect()
    assert out[0]["m"] == pytest.approx(100 * 4.186 / 50)
    assert out[1]["m"] == pytest.approx(100 * 4.186 / 70)  # default 70 kg


def test_wkt_roundtrip(spark):
    df = spark.createDataFrame([(-118.2851, 34.0224)], "lon double, lat double")
    enc = df.select(wkt_point(F.col("lon"), F.col("lat")).alias("wkt"))
    assert enc.collect()[0]["wkt"] == "POINT(-118.2851 34.0224)"
    dec = enc.select(
        wkt_decode_lon(F.col("wkt")).alias("lon"), wkt_decode_lat(F.col("wkt")).alias("lat")
    ).collect()[0]
    assert dec["lon"] == pytest.approx(-118.2851)
    assert dec["lat"] == pytest.approx(34.0224)


def test_wkb_hex_decode(spark):
    # little-endian WKB POINT(1.5 2.5); EWKB with SRID 4326 flag
    import struct as st

    plain = (b"\x01" + st.pack("<I", 1) + st.pack("<dd", 1.5, 2.5)).hex()
    ewkb = (
        b"\x01" + st.pack("<I", 1 | 0x20000000) + st.pack("<I", 4326)
        + st.pack("<dd", 1.5, 2.5)
    ).hex()
    df = spark.createDataFrame([(plain,), (ewkb,), (None,)], "h string")
    out = df.select(wkb_hex_decode(F.col("h")).alias("p")).collect()
    assert out[0]["p"]["lon"] == 1.5 and out[0]["p"]["lat"] == 2.5
    assert out[1]["p"]["lon"] == 1.5 and out[1]["p"]["lat"] == 2.5
    assert out[2]["p"] is None or out[2]["p"]["lon"] is None


def test_haversine(spark):
    # USC to ~1 degree east at equator-ish latitude: sanity magnitude check
    df = spark.createDataFrame([(0.0, 0.0, 1.0, 0.0)], "a double, b double, c double, d double")
    m = df.select(haversine_m(F.col("a"), F.col("b"), F.col("c"), F.col("d")).alias("m")).collect()[0]["m"]
    assert m == pytest.approx(111194.9, rel=1e-3)  # 1° of longitude at equator


def test_trajectories_ordered(spark):
    rows = [
        ("u1", _ts(1), -118.0, 34.1),
        ("u1", _ts(0), -118.2, 34.0),
        ("u2", _ts(0), -117.0, 33.0),
    ]
    df = spark.createDataFrame(rows, "user_id string, timestamp timestamp, lon double, lat double")
    out = {r["user_id"]: r["path"] for r in trajectories(df).collect()}
    assert out["u1"] == [[34.0, -118.2], [34.1, -118.0]]  # time-ordered [lat, lon]
    assert out["u2"] == [[33.0, -117.0]]


def test_melt(spark):
    df = spark.createDataFrame([("u1", T0, 72.0, 1.5)],
                               "user_id string, ts timestamp, hr double, cal double")
    out = melt(df, ["user_id", "ts"], ["hr", "cal"])
    got = {(r["feature"], r["value"]) for r in out.collect()}
    assert got == {("hr", 72.0), ("cal", 1.5)}


def test_fuzzy_map_columns():
    cols = ["Patient Email", "Start_Time", "Heart Rate (bpm)", "calorie_burn", "Wt", "junk_col"]
    mapping = fuzzy_map_columns(
        cols,
        {
            "user_id": "patient email",
            "timestamp": "start time timestamp date",
            "heart_rates": "heart rate bpm",
            "calories": "calorie burn",
            "weight": "wt weight",
        },
        threshold=60.0,
    )
    assert mapping["user_id"] == "Patient Email"
    assert mapping["timestamp"] == "Start_Time"
    assert mapping["heart_rates"] == "Heart Rate (bpm)"
    assert mapping["calories"] == "calorie_burn"
    assert normalize_name("Heart_Rate (bpm)") == "heart rate bpm"


def test_fuzzy_unmapped_below_threshold():
    mapping = fuzzy_map_columns(["zzzzz"], {"user_id": "patient email"}, threshold=60.0)
    assert mapping["user_id"] is None


def test_upsert_users(spark):
    incoming = spark.createDataFrame([("u1",), ("u9",), ("u9",)], "user_id string")
    existing = spark.createDataFrame([("u1",)], "user_id string")
    got = [r["user_id"] for r in upsert_users(incoming, existing).collect()]
    assert got == ["u9"]


def test_struct_type_from_config():
    st = struct_type_for_users(DEFAULT_GEOMTS_CONFIG)
    names = [f.name for f in st.fields]
    assert names[0] == "user_id" and not st.fields[0].nullable
    assert st["age"].dataType.typeName() == "integer"
    assert st["data_collection_start_date"].dataType.typeName() == "timestamp"
    assert st["consent"].dataType.typeName() == "boolean"


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",)], "t string")
    out = df.select(word_shingles(F.col("t"), 3).alias("s")).collect()
    assert out[0]["s"] == ["a b c", "b c d"]
    assert out[1]["s"] == []


def test_rolling_hash_known_value(spark):
    # h("ab") = (0*31+97)*31 + 98 = 3105
    df = spark.createDataFrame([("ab",)], "t string")
    assert df.select(rolling_hash(F.col("t")).alias("h")).collect()[0]["h"] == 97 * 31 + 98


# --------------------------------------------------------------------------
# Multimodal binary-payload operators
# --------------------------------------------------------------------------

def _mm_docs(spark):
    from w4h_integrated_toolkit_spark.operators import multimodal as MM

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="a" * 100), Row(doc_id=2, text="xyz " * 40)],
        "doc_id long, text string",
    )
    return MM, MM.attach_payload(docs)


def test_multimodal_meta_schema_and_frames(spark):
    MM, payloads = _mm_docs(spark)
    assert dict(payloads.dtypes)["payload"] == "binary"
    meta = {r["doc_id"]: r for r in MM.payload_meta(payloads).collect()}
    assert meta[1]["n_bytes"] == 100 and meta[1]["n_frames"] == 2  # ceil(100/64)
    assert meta[2]["n_bytes"] == 160 and meta[2]["n_frames"] == 3


def test_frame_sample_every_k(spark):
    MM, payloads = _mm_docs(spark)
    rows = MM.frame_sample(payloads, every=2).collect()
    # doc1: frames {0}, sampled every 2 from 2 frames -> idx 0; doc2: 3 frames -> 0,2
    assert sorted((r["doc_id"], r["frame_idx"]) for r in rows) == [(1, 0), (2, 0), (2, 2)]


def test_repetition_ratio_known_values(spark):
    from w4h_integrated_toolkit_spark.operators.text import repetition_ratio

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b a b a"),  # bigrams: ab ba ab ba -> 4 total, 2 distinct
            Row(doc_id=2, text="x y z"),  # xy yz -> no dups
            Row(doc_id=3, text="solo"),  # < n words -> 0 grams
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_ratio(df, n=2).collect()}
    assert (out[1]["n_grams"], out[1]["n_distinct"]) == (4, 2)
    assert out[1]["dup_ratio"] == pytest.approx(0.5)
    assert out[2]["dup_ratio"] == 0.0 and out[2]["n_grams"] == 2
    assert (out[3]["n_grams"], out[3]["dup_ratio"]) == (0, 0.0)


def test_contamination_counts_distinct_shared_grams(spark):
    from w4h_integrated_toolkit_spark.operators.dedup import contamination

    bench = spark.createDataFrame(
        [Row(doc_id=100, text="the quick brown fox jumps")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            # shares "the quick brown" and "quick brown fox"; the repeat of
            # "the quick brown" must count ONCE (distinct grams per doc)
            Row(doc_id=1, text="the quick brown fox the quick brown"),
            Row(doc_id=2, text="totally unrelated words here"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["n_hits"] for r in contamination(corpus, bench, n=3).collect()}
    # doc 1 distinct grams: {the quick brown, quick brown fox, brown fox the,
    # fox the quick}; bench grams: {the quick brown, quick brown fox,
    # brown fox jumps}; shared = 2. Doc 2 is clean and absent from output.
    assert out == {1: 2}


def test_pack_sequences_bins_by_cumulative_budget(spark):
    from w4h_integrated_toolkit_spark.operators.text import pack_sequences

    # one shard (n_shards=1): docs of 3,4,2 tokens, budget 5
    df = spark.createDataFrame(
        [Row(doc_id=0, text="a b c"), Row(doc_id=1, text="a b c d"), Row(doc_id=2, text="a b")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in pack_sequences(df, budget=5, n_shards=1).collect()}
    # cum_before: 0, 3, 7 -> bins 0, 0, 1
    assert [out[i]["bin"] for i in range(3)] == [0, 0, 1]
    assert [out[i]["n_tokens"] for i in range(3)] == [3, 4, 2]


def test_lsh_tiny_docs_never_pair(spark):
    """Docs shorter than n words share the sentinel signature; they must be
    excluded before banding (skew guard), and real near-dups still pair."""
    from w4h_integrated_toolkit_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [Row(doc_id=i, text="ab") for i in range(10)]
        + [
            Row(doc_id=100, text="x y z w v u t s"),
            Row(doc_id=101, text="x y z w v u t s"),
        ],
        "doc_id long, text string",
    )
    pairs = minhash_lsh_pairs(docs, n=3, num_perm=8, bands=4, threshold=0.5).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(100, 101)}


def test_mixture_sample_nested_deterministic(spark):
    from w4h_integrated_toolkit_spark.operators.etl import mixture_sample

    df = spark.createDataFrame(
        [Row(doc_id=i, g="a" if i % 2 else "b") for i in range(200)],
        "doc_id long, g string",
    )
    lo = {r["doc_id"] for r in mixture_sample(df, "g", {"a": 0.3, "b": 0.1}).collect()}
    hi = {r["doc_id"] for r in mixture_sample(df, "g", {"a": 0.6, "b": 0.5}).collect()}
    assert lo <= hi  # raising rates strictly grows the sample (nested)
    again = {r["doc_id"] for r in mixture_sample(df, "g", {"a": 0.3, "b": 0.1}).collect()}
    assert lo == again  # membership is a pure function of (salt, id, rates)
    assert mixture_sample(df, "g", {}).count() == 0  # default rate 0 drops all
    # repartitioning must not change membership
    reparted = {
        r["doc_id"]
        for r in mixture_sample(df.repartition(7), "g", {"a": 0.3, "b": 0.1}).collect()
    }
    assert reparted == lo


def test_temperature_mixture_rates_math_and_composition(spark):
    """Temperature-scaled mixture rates (the mT5 rule): the rates match
    the literal q_g ∝ p_g^(1/T) hand model with the most-upweighted
    group pinned at 1.0, T=1 keeps natural proportions (every rate 1.0
    — nothing to rebalance), large T flattens toward uniform kept
    counts, NULL keys are excluded, and the dict composes with
    mixture_sample into the expected kept proportions."""
    from w4h_integrated_toolkit_spark.operators.etl import (
        mixture_sample,
        temperature_mixture_rates,
    )

    # groups: a=800, b=150, c=50 (+ NULLs that must not claim a share)
    rows = [
        Row(doc_id=i, g="a" if i < 800 else ("b" if i < 950 else "c"))
        for i in range(1000)
    ] + [Row(doc_id=1000 + i, g=None) for i in range(7)]
    df = spark.createDataFrame(rows, "doc_id long, g string")

    # T=1: natural proportions — q_g/n_g is constant, every rate 1.0
    assert temperature_mixture_rates(df, "g", 1.0) == {
        "a": 1.0, "b": 1.0, "c": 1.0,
    }

    # hand model at T=2: q_g ∝ sqrt(p_g); r_g = (q_g/n_g) normalized so
    # the max (the smallest group) is 1.0
    import math

    n = {"a": 800, "b": 150, "c": 50}
    tot = sum(n.values())
    q = {g: math.sqrt(v / tot) for g, v in n.items()}
    z = sum(q.values())
    q = {g: v / z for g, v in q.items()}
    scale = max(q[g] / n[g] for g in n)
    expect = {g: min(1.0, (q[g] / n[g]) / scale) for g in n}
    got = temperature_mixture_rates(df, "g", 2.0)
    assert got.keys() == expect.keys()
    for g in expect:
        assert got[g] == pytest.approx(expect[g], abs=1e-12)
    assert got["c"] == 1.0  # smallest group keeps everything
    assert got["a"] < got["b"] < 1.0  # big groups downsample hardest

    # composition: kept counts land near q-share proportions (hash
    # sampling is Bernoulli per row — allow counting noise)
    kept = mixture_sample(df.filter(F.col("g").isNotNull()), "g", got)
    by = {r["g"]: r["cnt"] for r in kept.groupBy("g").agg(
        F.count(F.lit(1)).alias("cnt")).collect()}
    assert by["c"] == 50  # rate 1.0 keeps all
    # expected kept: n_g * r_g; Bernoulli sd ~ sqrt(n*r*(1-r)) ≤ ~11
    for g in ("a", "b"):
        assert abs(by[g] - n[g] * got[g]) < 40

    # very large T: kept counts approach uniform (everyone ≈ the
    # smallest group's 50)
    flat = temperature_mixture_rates(df, "g", 1e9)
    for g, r in flat.items():
        assert abs(n[g] * r - 50) < 1e-6 * 50 + 1e-6

    # guards
    with pytest.raises(ValueError, match="temperature"):
        temperature_mixture_rates(df, "g", 0.0)
    with pytest.raises(ValueError, match="distinct"):
        temperature_mixture_rates(df, "doc_id", 2.0, max_groups=10)
    empty = spark.createDataFrame([], "doc_id long, g string")
    with pytest.raises(ValueError, match="no non-NULL"):
        temperature_mixture_rates(empty, "g", 2.0)


def test_frame_sample_empty_payload(spark):
    """n_frames=0 must yield zero frames, not a sequence(0,-1) runtime error."""
    from pyspark.sql import Row

    from w4h_integrated_toolkit_spark.operators import multimodal as MM

    docs = spark.createDataFrame(
        [Row(doc_id=1, text=""), Row(doc_id=2, text="abcd")],
        "doc_id long, text string",
    )
    rows = MM.frame_sample(MM.attach_payload(docs), every=1).collect()
    assert sorted((r["doc_id"], r["frame_idx"]) for r in rows) == [(2, 0)]


def test_byte_histogram_exact_counts(spark):
    MM, payloads = _mm_docs(spark)
    rows = MM.byte_histogram_features(payloads, n_buckets=16).collect()
    by_doc = {(r["doc_id"], r["bucket"]): r["n_bytes"] for r in rows}
    # 'a' = 97 -> bucket 6 (97//16); doc1 all 100 bytes there
    assert by_doc[(1, 6)] == 100
    # doc2: 'x','y','z' = 120,121,122 -> bucket 7 (x3 * 40), ' ' = 32 -> bucket 2
    assert by_doc[(2, 7)] == 120 and by_doc[(2, 2)] == 40


def test_decode_frames_fake_codec_and_stub(spark):
    MM, payloads = _mm_docs(spark)
    rows = MM.decode_frames(payloads, codec="fake").collect()
    means = {(r["doc_id"], r["frame_idx"]): r["mean_byte"] for r in rows}
    assert means[(1, 0)] == 97.0 and means[(1, 1)] == 97.0
    assert len(means) == 5  # 2 + 3 frames
    with pytest.raises(NotImplementedError):
        MM.decode_frames(payloads, codec="real")


# --------------------------------------------------------------------------
# Embedding near-duplicate pairs (sign-LSH blocking)
# --------------------------------------------------------------------------

def test_neardup_pairs_finds_identical_vectors(spark):
    from w4h_integrated_toolkit_spark.operators.similarity import neardup_pairs

    v1 = [1.0, 0.0, 0.0, 0.0]
    v2 = [0.99, 0.01, 0.0, 0.0]   # nearly identical
    v3 = [-1.0, 0.5, 0.0, 0.0]    # far away
    df = spark.createDataFrame(
        [Row(vec_id=1, embedding=v1), Row(vec_id=2, embedding=v2), Row(vec_id=3, embedding=v3)],
        "vec_id long, embedding array<double>",
    )
    pairs = neardup_pairs(df, threshold=0.9, dim=4, n_planes=2).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]
    assert pairs[0]["cos"] > 0.99


def _diverse_vectors(n, dim=8, planted=()):
    """n diverse vectors with no dominant coordinate (so the Rademacher
    sub-split bits actually vary across rows), plus optional planted
    exact-duplicate copies appended at the end."""
    import math

    vecs = [
        (i, [math.sin(1.0 + i * 0.7 + 1.3 * j) for j in range(dim)])
        for i in range(n)
    ]
    nxt = n
    for src in planted:
        vecs.append((nxt, list(vecs[src][1])))
        nxt += 1
    return vecs


def test_neardup_pairs_max_bucket_subsplits_degenerate_bucket(spark):
    """The r13 verdict's 'What's wrong #1': a mega-bucket must not
    funnel the O(b²·d) Gram kernel into one task. _subsplit_oversized
    over a 64-row constant-key group at cap=8 yields content-defined
    sub-groups each bounded near the cap, and through the operator a
    planted exact-duplicate pair is still found (identical vectors can
    never be separated by the content-defined split)."""
    from w4h_integrated_toolkit_spark.operators.similarity import (
        _subsplit_oversized,
        neardup_pairs,
    )
    from pyspark.sql import functions as F

    vecs = _diverse_vectors(64, planted=(3,))
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=v) for i, v in vecs],
        "vec_id long, embedding array<double>",
    )
    b = df.select(
        F.col("vec_id").alias("vid"), F.col("embedding").alias("v")
    ).withColumn("bucket", F.lit("x"))  # one degenerate mega-bucket

    # the sub-split bounds every kernel group
    split = _subsplit_oversized(b, ["bucket"], "v", 8, 42)
    sizes = [
        r["n"]
        for r in split.groupBy("bucket", "_sub")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    assert len(sizes) >= 4  # genuinely split
    assert max(sizes) <= 24  # bounded near the cap (content split, not exact)
    assert sum(sizes) == 65  # row-preserving

    pairs = {
        (r["id_a"], r["id_b"])
        for r in neardup_pairs(
            df, threshold=0.999, dim=8, n_planes=1, max_bucket=8
        ).collect()
    }
    assert (3, 64) in pairs  # the planted duplicate survives the split


def test_neardup_pairs_max_bucket_unchanged_on_non_degenerate_data(spark):
    """With no bucket over the cap, the guarded plan returns EXACTLY the
    unguarded pairs (the guard must be a no-op on healthy data)."""
    from w4h_integrated_toolkit_spark.operators.similarity import neardup_pairs

    vecs = _diverse_vectors(24, planted=(1, 5))
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=v) for i, v in vecs],
        "vec_id long, embedding array<double>",
    )
    kw = dict(threshold=0.9, dim=8, n_planes=2)
    unguarded = {
        (r["id_a"], r["id_b"], round(r["cos"], 9))
        for r in neardup_pairs(df, max_bucket=None, **kw).collect()
    }
    guarded = {
        (r["id_a"], r["id_b"], round(r["cos"], 9))
        for r in neardup_pairs(df, max_bucket=4096, **kw).collect()
    }
    assert guarded == unguarded and len(unguarded) >= 2


def test_neardup_pairs_identical_flood_skipped_not_oom(spark):
    """An exact-duplicate flood (unsplittable by any content-defined
    function) is skipped by the kernel rather than pairing O(b²):
    flood pairs are absent, pairs outside the flood survive, and the
    counted form returns the skip so a recall-contractual caller can
    tell "no near-dups" from "flood skipped"."""
    from w4h_integrated_toolkit_spark.operators.similarity import (
        neardup_pairs_counted,
    )

    flood = [[7.0] + [1.0] * 7] * 30
    rows = [Row(vec_id=100 + i, embedding=v) for i, v in enumerate(flood)]
    rows += [
        Row(vec_id=1, embedding=[5.0, -3.0, 2.0, 1.0, 0.0, 0.0, 1.0, -1.0]),
        Row(vec_id=2, embedding=[5.0, -3.0, 2.0, 1.0, 0.0, 0.0, 1.0, -1.0]),
    ]
    schema = "vec_id long, embedding array<double>"
    kw = dict(threshold=0.999, dim=8, n_planes=1, max_bucket=8)

    out, skipped = neardup_pairs_counted(spark.createDataFrame(rows, schema), **kw)
    try:
        assert skipped >= 1
        pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
        assert (1, 2) in pairs
        assert not any(a >= 100 and b >= 100 for a, b in pairs)
        # the count is a return value, so chaining keeps it
        chained = out.filter("id_a < id_b")
        assert (1, 2) in {(r["id_a"], r["id_b"]) for r in chained.collect()}
    finally:
        out.unpersist()

    # clean data: zero skips
    ok, skipped = neardup_pairs_counted(
        spark.createDataFrame(rows[-2:], schema), **kw
    )
    try:
        assert skipped == 0
        assert {(r["id_a"], r["id_b"]) for r in ok.collect()} == {(1, 2)}
    finally:
        ok.unpersist()


def test_semantic_dedup_max_cluster_subsplit_and_flood_raise(spark):
    """semantic_dedup's guard: a diverse mega-cluster sub-splits (one
    output row per input, bounded kernels, guard a no-op under the
    cap), an exact-duplicate flood raises with the remedy."""
    from w4h_integrated_toolkit_spark.operators.similarity import semantic_dedup

    vecs = _diverse_vectors(60)
    df = spark.createDataFrame(
        [Row(vec_id=i, label=1, embedding=v) for i, v in vecs],
        "vec_id long, label long, embedding array<double>",
    )
    out = semantic_dedup(df, threshold=0.99, max_cluster=8).collect()
    assert len(out) == 60  # row-preserving through the split
    assert {r["label"] for r in out} == {1}

    # under the cap the guard changes nothing
    base = {
        (r["vec_id"], r["kept"], round(r["cc"], 9))
        for r in semantic_dedup(df, threshold=0.3, max_cluster=None).collect()
    }
    same = {
        (r["vec_id"], r["kept"], round(r["cc"], 9))
        for r in semantic_dedup(df, threshold=0.3, max_cluster=4096).collect()
    }
    assert base == same

    flood = spark.createDataFrame(
        [Row(vec_id=i, label=1, embedding=[3.0, 1.0, 1.0, 1.0]) for i in range(40)],
        "vec_id long, label long, embedding array<double>",
    )
    with pytest.raises(Exception, match="exact-duplicate embedding flood"):
        semantic_dedup(flood, threshold=0.3, max_cluster=8).collect()

    # NULL cluster keys survive the guard's size join (null-safe): the
    # guarded run keeps every row, matching the unguarded one
    withnull = spark.createDataFrame(
        [
            Row(vec_id=i, label=(1 if i % 2 else None), embedding=v)
            for i, v in _diverse_vectors(10)
        ],
        "vec_id long, label long, embedding array<double>",
    )
    gu = {
        (r["vec_id"], r["kept"])
        for r in semantic_dedup(withnull, threshold=0.3, max_cluster=None).collect()
    }
    gg = {
        (r["vec_id"], r["kept"])
        for r in semantic_dedup(withnull, threshold=0.3, max_cluster=8).collect()
    }
    assert gg == gu and len(gg) == 10


# --------------------------------------------------------------------------
# FFT-approximate range aggregates (A13)
# --------------------------------------------------------------------------

def test_fft_sketch_exact_when_full_spectrum(spark):
    """Keeping the whole spectrum must reconstruct range sums to float
    precision (pure DFT round-trip)."""
    from w4h_integrated_toolkit_spark.operators.approx import (
        approx_range_sum,
        build_fft_sketch,
    )

    rows = [
        Row(user_id=u, ts=dt.datetime(2016, 8, 1) + dt.timedelta(minutes=m), value=float((u * 7 + m) % 23))
        for u in (1, 2)
        for m in range(256)
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    sketch = build_fft_sketch(df, n_buckets=64, n_coeffs=33)  # rfft(64) -> 33 coeffs
    t0 = dt.datetime(2016, 8, 1).timestamp()
    got = {
        r["key"]: r["approx_sum"]
        for r in approx_range_sum(sketch, t0, t0 + 256 * 60).collect()
    }
    exact = {
        r["user_id"]: r["s"]
        for r in df.groupBy("user_id").agg(F.sum("value").alias("s")).collect()
    }
    for u in (1, 2):
        assert abs(got[u] - exact[u]) < 1e-6


def test_fft_sketch_bounded_error_truncated(spark):
    """Truncated spectrum: approximate range sums within a modest relative
    error on a smooth (diurnal-ish) signal, at 8x compression."""
    import math

    from w4h_integrated_toolkit_spark.operators.approx import (
        approx_range_sum,
        build_fft_sketch,
    )

    rows = [
        Row(user_id=1, ts=dt.datetime(2016, 8, 1) + dt.timedelta(minutes=m),
            value=100.0 + 30.0 * math.sin(2 * math.pi * m / 96.0))
        for m in range(512)
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    sketch = build_fft_sketch(df, n_buckets=128, n_coeffs=8)
    t0 = dt.datetime(2016, 8, 1).timestamp()
    start, end = t0 + 100 * 60, t0 + 400 * 60
    got = approx_range_sum(sketch, start, end).collect()[0]["approx_sum"]
    exact = (
        df.filter((F.col("ts").cast("double") >= start) & (F.col("ts").cast("double") < end))
        .agg(F.sum("value"))
        .collect()[0][0]
    )
    assert abs(got - exact) / exact < 0.05


# --------------------------------------------------------------------------
# Query-history store (S12)
# --------------------------------------------------------------------------

def test_query_history_roundtrip(spark, tmp_path):
    from w4h_integrated_toolkit_spark.plans.history import (
        latest_specs,
        load_history,
        save_query,
    )

    path = str(tmp_path / "history")
    specs = [
        FilterSpec(name="age", type="int", value=(30, 50)),
        FilterSpec(name="state_of_residence", type="string", value=["CA"]),
    ]
    save_query(spark, path, "alice", "cohort1", specs, extra={"range": "morning"})
    save_query(spark, path, "alice", "cohort1",
               [FilterSpec(name="age", type="int", value=(40, 60))])
    save_query(spark, path, "bob", "other", [])

    hist = load_history(spark, path, "alice")
    assert hist.count() == 2

    got, extra = latest_specs(spark, path, "alice", "cohort1")
    assert len(got) == 1 and got[0].value == (40, 60)   # latest wins
    assert extra == {}
    assert latest_specs(spark, path, "alice", "nope") is None


def test_query_history_replay_end_to_end(spark, tmp_path):
    """The reference's replay path (viz.py:1238-1241) re-executes a saved
    session: the history store must round-trip a cohort query so that the
    REPLAYED run produces bit-identical results to the original, not just
    equal specs. Save the cohort_kpi filter specs, reload them through
    latest_specs, re-compile and re-run the identical pipeline from the
    reloaded specs, and compare full sorted result sets."""
    from w4h_integrated_toolkit_spark.catalog import read_parquet
    from w4h_integrated_toolkit_spark.operators.cohort import (
        cohort_semi_join,
        filter_users,
    )
    from w4h_integrated_toolkit_spark.plans.history import (
        latest_specs,
        save_query,
    )

    sf_dir = "/root/testdata/sf0.001"
    cust = read_parquet(spark, f"{sf_dir}/customer.parquet")
    orders = read_parquet(spark, f"{sf_dir}/orders.parquet")

    def run_cohort_kpi(specs):
        cohort = filter_users(cust, specs).select(
            F.col("c_custkey").alias("o_custkey")
        )
        facts = cohort_semi_join(orders, cohort, "o_custkey")
        return sorted(
            (r["o_orderpriority"], r["n_orders"], r["sum_total"])
            for r in facts.groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(30,2)"))
                .cast("double")
                .alias("sum_total"),
            )
            .collect()
        )

    original_specs = [
        FilterSpec("c_mktsegment", "string", ["BUILDING", "MACHINERY"]),
        FilterSpec("c_acctbal", "float", (0.0, 5000.0)),
    ]
    original = run_cohort_kpi(original_specs)
    assert original, "cohort query returned no rows — fixture data problem"

    path = str(tmp_path / "history")
    save_query(spark, path, "alice", "segment-kpi", original_specs,
               extra={"sf_dir": sf_dir})
    reloaded_specs, extra = latest_specs(spark, path, "alice", "segment-kpi")
    assert extra == {"sf_dir": sf_dir}

    replayed = run_cohort_kpi(reloaded_specs)
    assert replayed == original


# --------------------------------------------------------------------------
# Skew utilities (salted agg / salted join)
# --------------------------------------------------------------------------

def test_two_stage_agg_matches_plain(spark):
    from w4h_integrated_toolkit_spark.operators.skew import two_stage_agg

    rows = [("hot", float(i % 7)) for i in range(500)] + [("cold", 3.0)]
    df = spark.createDataFrame(rows, "k string, v double")
    got = {
        r["k"]: (r["s"], r["n"], r["mn"], r["mx"])
        for r in two_stage_agg(
            df, ["k"], [("v", "sum", "s"), ("v", "count", "n"), ("v", "min", "mn"), ("v", "max", "mx")],
            salt=8,
        ).collect()
    }
    exp = {
        r["k"]: (r["s"], r["n"], r["mn"], r["mx"])
        for r in df.groupBy("k").agg(
            F.sum("v").alias("s"), F.count("v").alias("n"),
            F.min("v").alias("mn"), F.max("v").alias("mx"),
        ).collect()
    }
    assert got == exp
    with pytest.raises(ValueError):
        two_stage_agg(df, ["k"], [("v", "avg", "a")])


def test_salted_join_matches_plain(spark):
    from w4h_integrated_toolkit_spark.operators.skew import salted_join

    probe = spark.createDataFrame(
        [("hot", i) for i in range(200)] + [("rare", 0), ("miss", 1)],
        "k string, pv int",
    )
    build = spark.createDataFrame(
        [("hot", "H"), ("rare", "R"), ("other", "O")], "k string, bv string"
    )
    got = sorted((r["k"], r["pv"], r["bv"]) for r in salted_join(probe, build, "k", salt=4).collect())
    exp = sorted((r["k"], r["pv"], r["bv"]) for r in probe.join(build, "k").collect())
    assert got == exp
    left = sorted(
        (r["k"], r["pv"], r["bv"])
        for r in salted_join(probe, build, "k", salt=4, how="left").collect()
    )
    exp_left = sorted((r["k"], r["pv"], r["bv"]) for r in probe.join(build, "k", "left").collect())
    assert left == exp_left


# --------------------------------------------------------------------------
# Z-normalized time-series similarity (tsim)
# --------------------------------------------------------------------------

def test_user_similarity_ranks_correlated_first(spark):
    """u2 tracks u1 exactly (r=1), u3 is anti-correlated (r=-1): top-1 for
    u1 must be u2, and u3 must rank below it."""
    from w4h_integrated_toolkit_spark.operators.tsim import user_similarity_topk

    base = dt.datetime(2024, 1, 1)
    rows = []
    for h in range(24):
        t = base + dt.timedelta(hours=h)
        sig = float((h * 13) % 7)
        rows += [
            Row(user_id=1, ts=t, value=10.0 + sig),
            Row(user_id=2, ts=t, value=50.0 + 2.0 * sig),   # affine copy -> r = 1
            Row(user_id=3, ts=t, value=30.0 - sig),          # negated -> r = -1
        ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = user_similarity_topk(df, k=2, bucket_seconds=3600, min_common=8)
    got = {(r["user_a"], r["rank"]): (r["user_b"], round(r["r"], 6)) for r in out.collect()}
    assert got[(1, 1)] == (2, 1.0)
    assert got[(1, 2)] == (3, -1.0)
    assert got[(3, 1)][1] == -1.0  # u3's best is still an anti-correlated peer


def _planted_correlation_families(n_families=3, members=6, width=40):
    """Time-series fixture for the LSH-block equivalence law: families
    of positively-correlated users over temporally DISJOINT bucket
    ranges, so cross-family pairs share zero buckets and are dropped by
    min_common in BOTH arms — the unblocked candidate set is exactly
    the per-family all-pairs set, which blocking must reproduce."""
    import numpy as np

    base_t = dt.datetime(2024, 1, 1)
    rng = np.random.default_rng(7)
    rows = []
    for f in range(n_families):
        sig = rng.normal(0.0, 1.0, size=width)
        for m in range(members):
            # noise is 0.5% of the base signal: a plane's family-level
            # dot is O(sqrt(width)) while the member-noise contribution
            # is O(0.005*sqrt(width)), so a member-flipped sign bit
            # needs a family dot within 0.5% of zero — not hit by this
            # seed (deterministic; re-tune the seed if the hash family
            # ever changes)
            noise = rng.normal(0.0, 0.005, size=width)
            for b in range(width):
                rows.append(
                    Row(
                        user_id=100 * f + m,
                        ts=base_t + dt.timedelta(hours=f * 1000 + b),
                        value=float(10.0 * (m + 1) + sig[b] + noise[b]),
                    )
                )
    return rows


def test_user_similarity_lsh_blocking_equivalence_and_keys(spark):
    """The blocked arm (block_planes=) must return EXACTLY the
    unblocked result on planted-correlation families: blocking only
    filters candidate pairs, and here every surviving candidate pair is
    within-family (cross-family pairs share zero buckets), with family
    members agreeing on every sign bit w.h.p. (tiny noise vs the base
    signal). Also pins user_block_keys directly: one key per user,
    within-family keys identical, at least two distinct keys across
    the three families (the planes actually separate work)."""
    from w4h_integrated_toolkit_spark.operators.tsim import (
        resample_grid,
        user_block_keys,
        user_similarity_topk,
    )

    rows = _planted_correlation_families()
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, value double"
    )
    kw = dict(k=3, bucket_seconds=3600, min_common=8, n_chunks=4)
    unblocked = {
        (r["user_a"], r["rank"]): (r["user_b"], round(r["r"], 9), r["n_common"])
        for r in user_similarity_topk(df, **kw).collect()
    }
    blocked = {
        (r["user_a"], r["rank"]): (r["user_b"], round(r["r"], 9), r["n_common"])
        for r in user_similarity_topk(df, block_planes=4, **kw).collect()
    }
    assert blocked == unblocked and len(unblocked) == 18 * 3  # 18 users x k=3

    g = resample_grid(df, bucket_seconds=3600)
    keys = {r["k"]: r["lsh"] for r in user_block_keys(g, 4).collect()}
    assert len(keys) == 18
    fam_keys = [
        {keys[100 * f + m] for m in range(6)} for f in range(3)
    ]
    assert all(len(s) == 1 for s in fam_keys)  # families never split
    assert len(set().union(*fam_keys)) >= 2    # and blocking separates work

    # bits are partition-count-invariant (exact integer sign identity —
    # a float-summed dot near zero could flip with the shuffle layout)
    k1 = {
        r["k"]: r["lsh"]
        for r in user_block_keys(g.repartition(1), 4).collect()
    }
    k7 = {
        r["k"]: r["lsh"]
        for r in user_block_keys(g.repartition(7), 4).collect()
    }
    assert k1 == k7 == keys

    with pytest.raises(ValueError, match="block_planes"):
        user_similarity_topk(df, block_planes=0, **kw)


# --------------------------------------------------------------------------
# MERGE upsert into date-partitioned fact tables
# --------------------------------------------------------------------------

def test_merge_upsert_incoming_wins_and_partitions_survive(spark, tmp_path):
    from w4h_integrated_toolkit_spark.operators.etl import merge_upsert

    path = str(tmp_path / "hr")
    d1, d2 = dt.datetime(2016, 8, 1, 10), dt.datetime(2016, 8, 2, 10)
    base = spark.createDataFrame(
        [("u1", d1, 70.0), ("u1", d2, 71.0), ("u2", d1, 80.0)],
        "user_id string, timestamp timestamp, value double",
    )
    merge_upsert(spark, path, base)

    # increment: conflicts on (u1, d1), adds (u3, d1); day 2 untouched
    inc = spark.createDataFrame(
        [("u1", d1, 99.0), ("u3", d1, 60.0)],
        "user_id string, timestamp timestamp, value double",
    )
    merge_upsert(spark, path, inc)

    rows = {
        (r["user_id"], r["timestamp"]): r["value"]
        for r in spark.read.parquet(path).collect()
    }
    assert rows[("u1", d1)] == 99.0       # incoming wins the conflict
    assert rows[("u2", d1)] == 80.0       # same-partition non-conflict kept
    assert rows[("u3", d1)] == 60.0       # insert
    assert rows[("u1", d2)] == 71.0       # untouched partition intact
    assert len(rows) == 4

    # idempotent: replaying the increment changes nothing
    merge_upsert(spark, path, inc)
    assert spark.read.parquet(path).count() == 4


def test_partitioned_layout_prunes(spark, tmp_path):
    """write_fact_table's dt layout must show partition pruning (not data
    filters) for a date predicate."""
    from w4h_integrated_toolkit_spark.catalog import write_fact_table

    path = str(tmp_path / "facts")
    days = [dt.datetime(2016, 8, d, 12) for d in (1, 2, 3)]
    df = spark.createDataFrame(
        [("u1", d, float(i)) for i, d in enumerate(days)],
        "user_id string, timestamp timestamp, value double",
    )
    write_fact_table(df, path)
    scan = spark.read.parquet(path).filter(F.col("dt") == "2016-08-02")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = scan._jdf.queryExecution().explainString(mode)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "dt" in pf[0]           # predicate prunes directories...
    assert scan.count() == 1              # ...and reads one day only

    # files_per_day spreads a day over several writer tasks without
    # changing the data (the 100 TB straggler/file-size knob)
    path2 = str(tmp_path / "facts_spread")
    many = spark.createDataFrame(
        [(f"u{i}", days[0], float(i)) for i in range(20)],
        "user_id string, timestamp timestamp, value double",
    )
    write_fact_table(many, path2, files_per_day=4)
    back = spark.read.parquet(path2)
    assert back.count() == 20
    assert back.select("user_id").distinct().count() == 20


def test_read_parquet_opens_fact_table_layout(spark, tmp_path):
    """catalog.read_parquet opens write_fact_table's dt-partitioned tree
    (it inspects the first data file, past _SUCCESS and the dt= dirs):
    every row and the dt column come back."""
    from w4h_integrated_toolkit_spark.catalog import read_parquet, write_fact_table

    days = [dt.datetime(2016, 8, d, h) for d in (1, 2, 3) for h in (0, 12)]
    rows = [(f"u{i % 3}", ts, float(i)) for i, ts in enumerate(days)]
    df = spark.createDataFrame(rows, "user_id string, timestamp timestamp, value double")
    path = str(tmp_path / "facts")
    write_fact_table(df, path)
    back = read_parquet(spark, path)
    assert set(back.columns) == {"user_id", "timestamp", "value", "dt"}
    got = sorted(
        (r["user_id"], r["timestamp"], r["value"], r["dt"]) for r in back.collect()
    )
    assert got == sorted((u, ts, v, ts.date()) for u, ts, v in rows)


def test_rollup_cascade_matches_direct_aggregation(spark):
    """The cascade invariant: every coarser level, folded from finer
    partials, equals aggregating the raw rows at that resolution
    directly."""
    from w4h_integrated_toolkit_spark.catalog import read_parquet
    from w4h_integrated_toolkit_spark.operators.timeseries import rollup_cascade

    ev = read_parquet(spark, "/root/testdata/sf0.001/events.parquet")
    out = rollup_cascade(ev, [60, 3600, 86400], keys=["event_type"])
    hour = out.filter(F.col("resolution_seconds") == 3600)
    direct = (
        ev.groupBy(
            "event_type",
            (F.floor(F.col("ts").cast("double") / 3600) * 3600)
            .cast("long")
            .alias("bucket_start_epoch"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
        )
    )
    got = {
        (r["event_type"], r["bucket_start_epoch"]): (r["n"], r["vmin"], r["vmax"])
        for r in hour.collect()
    }
    want = {
        (r["event_type"], r["bucket_start_epoch"]): (r["n"], r["vmin"], r["vmax"])
        for r in direct.collect()
    }
    assert got == want and len(got) > 0
    # totals conserved across every resolution
    n_by_res = {
        r["resolution_seconds"]: r["total"]
        for r in out.groupBy("resolution_seconds").agg(F.sum("n").alias("total")).collect()
    }
    assert len(set(n_by_res.values())) == 1


def test_rollup_cascade_rejects_non_multiple_resolutions(spark):
    from w4h_integrated_toolkit_spark.catalog import read_parquet
    from w4h_integrated_toolkit_spark.operators.timeseries import rollup_cascade

    ev = read_parquet(spark, "/root/testdata/sf0.001/events.parquet")
    with pytest.raises(ValueError, match="not a multiple"):
        rollup_cascade(ev, [60, 90])


def test_connected_components_chain_and_islands(spark):
    """A 5-node chain (multi-round propagation), a 2-node island, and ties —
    every node must label with the component's min id, identically on the
    driver union-find fast path and the distributed iteration."""
    from w4h_integrated_toolkit_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (4, 5), (10, 11)], "id_a long, id_b long"
    )
    want = {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}
    for thresh in (100_000, 0):  # driver fast path, then forced distributed
        got = {
            r["node"]: r["component"]
            for r in connected_components(pairs, driver_threshold=thresh).collect()
        }
        assert got == want, f"threshold={thresh}"


def test_connected_components_driver_path_hints_broadcast(spark):
    """The driver union-find result is provably <= driver_threshold rows,
    so connected_components hints it for broadcast at the producer:
    createDataFrame's LogicalRDD reports Long.MaxValue size stats, and an
    unhinted join would broadcast the OTHER (documents) side. With the
    hint, documents.join(components) broadcasts the component side
    (BuildRight). The distributed path (driver_threshold=0) carries no
    hint — its size is unknown."""
    from tests.conftest import SF_DIR
    from w4h_integrated_toolkit_spark.catalog import read_parquet
    from w4h_integrated_toolkit_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )

    docs = read_parquet(spark, f"{SF_DIR}/documents.parquet")
    pairs = minhash_lsh_pairs(docs, n=3, num_perm=8, bands=4, threshold=0.5)
    comp = connected_components(pairs)
    joined = docs.join(comp, docs["doc_id"] == comp["node"])
    plan = joined._sc._jvm.PythonSQLUtils.explainString(
        joined._jdf.queryExecution(), "simple"
    )
    assert "BroadcastHashJoin" in plan and "BuildRight" in plan, plan

    dist = connected_components(pairs, driver_threshold=0)
    analyzed = dist._jdf.queryExecution().analyzed().toString()
    assert "strategy=broadcast" not in analyzed, analyzed
    assert "strategy=broadcast" in comp._jdf.queryExecution().analyzed().toString()


def test_hll_cube_estimate_within_sketch_error(spark):
    """Sketch estimates must land within HLL error bounds of the exact
    distinct count, and the exact n_rows rollup must match count(*)."""
    from w4h_integrated_toolkit_spark.catalog import read_parquet
    from w4h_integrated_toolkit_spark.operators.sketches import hll_cube, hll_rollup

    ev = read_parquet(spark, "/root/testdata/sf0.001/events.parquet")
    cube = hll_cube(ev, ["event_type"], "user_id", ts="ts", bucket="1 day")
    roll = hll_rollup(cube, ["event_type"])
    exact = {
        r["event_type"]: (r["d"], r["n"])
        for r in ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("d"), F.count(F.lit(1)).alias("n")
        )
        .collect()
    }
    got = {r["event_type"]: (r["approx_distinct"], r["n_rows"]) for r in roll.collect()}
    assert set(got) == set(exact)
    for et, (approx, n_rows) in got.items():
        d, n = exact[et]
        assert n_rows == n, et
        # lg_k=12 -> sigma ~1.6%; 5 sigma leaves no flake room at these counts
        assert abs(approx - d) <= max(3, 0.08 * d), (et, approx, d)


def test_hll_rollup_of_daily_cells_matches_untimed_cube(spark):
    """Merge identity: union of per-day cell sketches must estimate the same
    as one sketch built over the whole range — the property that makes the
    cube answer arbitrary time slices without raw rescans."""
    from w4h_integrated_toolkit_spark.catalog import read_parquet
    from w4h_integrated_toolkit_spark.operators.sketches import hll_cube, hll_rollup

    ev = read_parquet(spark, "/root/testdata/sf0.001/events.parquet")
    daily = hll_rollup(
        hll_cube(ev, ["event_type"], "user_id", ts="ts", bucket="1 day"),
        ["event_type"],
    )
    whole = hll_rollup(hll_cube(ev, ["event_type"], "user_id", ts=None), ["event_type"])
    a = {r["event_type"]: r["approx_distinct"] for r in daily.collect()}
    b = {r["event_type"]: r["approx_distinct"] for r in whole.collect()}
    assert set(a) == set(b)
    for et in a:
        # same lg_k registers merged by max: estimates agree to ~sketch noise
        assert abs(a[et] - b[et]) <= max(2, 0.02 * b[et]), (et, a[et], b[et])


def test_hll_cube_single_exchange(spark):
    """The cube build is one hash aggregate: map-side partial sketches, one
    exchange of partials — the same shape as any rollup build."""
    import re

    from w4h_integrated_toolkit_spark.catalog import read_parquet
    from w4h_integrated_toolkit_spark.operators.sketches import hll_cube

    ev = read_parquet(spark, "/root/testdata/sf0.001/events.parquet")
    cube = hll_cube(ev, ["event_type"], "user_id", ts="ts", bucket="1 day")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = cube._jdf.queryExecution().explainString(mode)
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1
    assert "partial_hll_sketch_agg" in plan


def test_kll_cube_quantiles_within_rank_error(spark):
    """KLL rollup quantiles must be near exact percentiles: a k=200 sketch
    has single-rank error ~1.65/sqrt(200) ≈ 1.2%; merged cells stay
    bounded. Assert each estimated quantile's TRUE rank is within 5% of the
    requested rank (rank error is the KLL guarantee — value error is not)."""
    from w4h_integrated_toolkit_spark.catalog import read_parquet
    from w4h_integrated_toolkit_spark.operators.sketches import kll_cube, kll_rollup

    ev = read_parquet(spark, "/root/testdata/sf0.001/events.parquet")
    cube = kll_cube(ev, ["event_type"], "value", ts="ts", bucket="1 day")
    roll = kll_rollup(cube, ["event_type"], quantiles=(0.25, 0.5, 0.95))
    vals = {
        et: sorted(
            r["value"]
            for r in ev.filter(F.col("event_type") == et).select("value").collect()
        )
        for et in [r["event_type"] for r in roll.select("event_type").collect()]
    }
    import bisect

    for r in roll.collect():
        xs = vals[r["event_type"]]
        assert r["n_rows"] == len(xs)
        for q, col in ((0.25, "q_250"), (0.5, "q_500"), (0.95, "q_950")):
            true_rank = bisect.bisect_right(xs, r[col]) / len(xs)
            assert abs(true_rank - q) <= 0.05, (r["event_type"], q, r[col], true_rank)


def test_kll_merged_daily_cells_match_untimed_sketch(spark):
    """Merge identity: quantiles from merged per-day cells must agree with a
    single whole-range sketch to within rank error — the property that lets
    the cube answer arbitrary time slices."""
    from w4h_integrated_toolkit_spark.catalog import read_parquet
    from w4h_integrated_toolkit_spark.operators.sketches import kll_cube, kll_rollup

    ev = read_parquet(spark, "/root/testdata/sf0.001/events.parquet")
    daily = kll_rollup(
        kll_cube(ev, ["event_type"], "value", ts="ts", bucket="1 day"),
        ["event_type"], quantiles=(0.5,),
    )
    whole = kll_rollup(
        kll_cube(ev, ["event_type"], "value", ts=None), ["event_type"],
        quantiles=(0.5,),
    )
    a = {r["event_type"]: r["q_500"] for r in daily.collect()}
    b = {r["event_type"]: r["q_500"] for r in whole.collect()}
    assert set(a) == set(b)
    spread = {
        r["event_type"]: (r["mx"] - r["mn"])
        for r in ev.groupBy("event_type")
        .agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
        .collect()
    }
    for et in a:
        # medians of near-uniform values: rank error ~2.4% maps to ~a few
        # percent of the value range
        assert abs(a[et] - b[et]) <= 0.1 * spread[et], (et, a[et], b[et])


def test_theta_overlap_matches_exact_set_ops(spark):
    """Theta intersection/difference estimates must land within sketch
    error of the exact per-event-type week1/week2 user-set algebra."""
    from w4h_integrated_toolkit_spark.catalog import read_parquet
    from w4h_integrated_toolkit_spark.operators.sketches import (
        theta_cube,
        theta_overlap,
        theta_rollup,
    )

    ev = read_parquet(spark, "/root/testdata/sf0.001/events.parquet")
    cube = theta_cube(ev, ["event_type"], "user_id", ts="ts", bucket="1 day")
    wk1c = F.col("bucket_start") < F.lit("2024-01-08")
    wk2c = (F.col("bucket_start") >= F.lit("2024-01-08")) & (
        F.col("bucket_start") < F.lit("2024-01-15")
    )
    got = {
        r["event_type"]: r
        for r in theta_overlap(
            theta_rollup(cube.filter(wk1c), ["event_type"]),
            theta_rollup(cube.filter(wk2c), ["event_type"]),
            ["event_type"],
        ).collect()
    }
    t1 = F.col("ts") < F.lit("2024-01-08")
    t2 = (F.col("ts") >= F.lit("2024-01-08")) & (F.col("ts") < F.lit("2024-01-15"))
    exact = {}
    for r in (
        ev.filter(t1 | t2)
        .select(
            "event_type", "user_id",
            F.max(F.when(t1, 1).otherwise(0)).over(
                __import__("pyspark").sql.Window.partitionBy("event_type", "user_id")
            ).alias("in1"),
            F.max(F.when(t2, 1).otherwise(0)).over(
                __import__("pyspark").sql.Window.partitionBy("event_type", "user_id")
            ).alias("in2"),
        )
        .distinct()
        .groupBy("event_type")
        .agg(
            F.sum("in1").alias("n_a"),
            F.sum("in2").alias("n_b"),
            F.count(F.lit(1)).alias("n_union"),
            F.sum(F.when((F.col("in1") == 1) & (F.col("in2") == 1), 1).otherwise(0)).alias("n_intersection"),
        )
        .collect()
    ):
        exact[r["event_type"]] = r
    assert set(got) == set(exact)
    for et, g in got.items():
        e = exact[et]
        for fld in ("n_a", "n_b", "n_union", "n_intersection"):
            assert abs(g[fld] - e[fld]) <= max(3, 0.05 * e[fld]), (et, fld, g[fld], e[fld])
        assert g["n_only_a"] == g["n_a"] - g["n_intersection"] or abs(
            g["n_only_a"] - (e["n_a"] - e["n_intersection"])
        ) <= max(3, 0.05 * max(1, e["n_a"] - e["n_intersection"]))


def test_sketch_cubes_single_exchange(spark):
    """KLL and Theta cube builds are one hash aggregate each: map-side
    partial sketches, one exchange of partials."""
    import re

    from w4h_integrated_toolkit_spark.catalog import read_parquet
    from w4h_integrated_toolkit_spark.operators.sketches import kll_cube, theta_cube

    ev = read_parquet(spark, "/root/testdata/sf0.001/events.parquet")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    for cube in (
        kll_cube(ev, ["event_type"], "value", ts="ts", bucket="1 day"),
        theta_cube(ev, ["event_type"], "user_id", ts="ts", bucket="1 day"),
    ):
        plan = cube._jdf.queryExecution().explainString(mode)
        assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1


def test_point_in_polygon_known_points(spark):
    """Even-odd ring test against hand-checked points; open and closed
    rings must classify identically (the wrap edge closes open rings)."""
    from w4h_integrated_toolkit_spark.operators.geo import point_in_polygon

    sq = [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)]
    tri = [(20.0, 0.0), (30.0, 0.0), (25.0, 8.0)]
    cases = [
        (5.0, 5.0, sq, True),
        (-1.0, 5.0, sq, False),
        (15.0, 5.0, sq, False),
        (25.0, 1.0, tri, True),
        (24.5, 6.9, tri, True),   # just inside the left edge at y=6.9
        (20.5, 7.0, tri, False),  # far outside the left edge (wrap-edge bug trap)
        (25.0, 9.0, tri, False),  # above the apex
    ]
    for ring in (lambda r: r, lambda r: r + [r[0]]):  # open, closed
        df = spark.createDataFrame(
            [(lon, lat, ring(r), want) for lon, lat, r, want in cases],
            "lon double, lat double, ring array<struct<lon double, lat double>>, want boolean",
        )
        got = df.select(
            "want", point_in_polygon(F.col("lon"), F.col("lat"), F.col("ring")).alias("got")
        ).collect()
        assert all(r["got"] == r["want"] for r in got), got


def test_geofence_join_broadcasts_cell_index(spark):
    """The spatial join must be an EQUI broadcast hash join on the grid
    cell — never a nested loop over (point, polygon) pairs — and the fact
    side must reach it without an exchange."""
    import re

    from w4h_integrated_toolkit_spark.operators.geo import geofence_join

    pts = spark.range(100).select(
        (F.col("id") % 37).cast("double").alias("lon"),
        (F.col("id") % 19).cast("double").alias("lat"),
    )
    polys = spark.createDataFrame(
        [("sq", [(2.0, 2.0), (12.0, 2.0), (12.0, 12.0), (2.0, 12.0)])],
        "polygon_id string, ring array<struct<lon double, lat double>>",
    )
    out = geofence_join(pts, polys, cell_deg=5.0)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = out._jdf.queryExecution().explainString(mode)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 0
    # spot-check the membership itself (edge points may classify inside —
    # even-odd boundary semantics are deterministic, not exclusive)
    rows = out.select("lon", "lat").collect()
    assert rows and all(
        2.0 <= r["lon"] <= 12.0 and 2.0 <= r["lat"] <= 12.0 for r in rows
    )


def test_redact_pii_known_cases(spark):
    from w4h_integrated_toolkit_spark.operators.text import redact_pii

    cases = [
        ("mail john.doe+spam@sub.domain.co now", "mail <EMAIL> now"),
        ("server 192.168.1.254 port 80", "server <IP> port 80"),
        ("call +1 (555) 010-9932 today", "call <PHONE> today"),
        ("plain text stays untouched", "plain text stays untouched"),
        # email host is not half-eaten by the IP rule (email runs first)
        ("x 10.2.3.4@example.com y", "x <EMAIL> y"),
    ]
    df = spark.createDataFrame(cases, "t string, want string")
    got = df.select("want", redact_pii(F.col("t")).alias("got")).collect()
    assert all(r["got"] == r["want"] for r in got), [
        (r["want"], r["got"]) for r in got if r["got"] != r["want"]
    ]


def test_point_in_polygon_random_convex_vs_halfplane(spark):
    """Randomized cross-validation on convex polygons: the even-odd fold
    must agree with an INDEPENDENT algorithm (all-edges-same-side half-plane
    test, computed in Python). Convex polygons make the reference exact;
    points are kept away from edges (strict margin) so float tie-breaking
    cannot flake."""
    import numpy as np

    rng = np.random.default_rng(42)
    rows = []
    for _ in range(60):
        k = int(rng.integers(3, 9))
        # convex polygon: random radii/angles sorted around the origin
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        rad = rng.uniform(5, 10)
        cx, cy = rng.uniform(-50, 50, 2)
        verts = [(cx + rad * np.cos(a), cy + rad * np.sin(a)) for a in ang]
        for _ in range(5):
            px, py = cx + rng.uniform(-15, 15), cy + rng.uniform(-15, 15)
            # half-plane reference: inside iff every edge cross product has
            # the same sign (counter-clockwise vertex order)
            crosses = []
            for i in range(k):
                ax, ay = verts[i]
                bx, by = verts[(i + 1) % k]
                crosses.append((bx - ax) * (py - ay) - (by - ay) * (px - ax))
            margin = min(abs(c) for c in crosses)
            if margin < 1e-6:  # too close to an edge: skip the tie case
                continue
            want = all(c > 0 for c in crosses)
            rows.append((float(px), float(py), [(float(x), float(y)) for x, y in verts], bool(want)))
    from w4h_integrated_toolkit_spark.operators.geo import point_in_polygon

    df = spark.createDataFrame(
        rows,
        "lon double, lat double, ring array<struct<lon double, lat double>>, want boolean",
    )
    got = df.select(
        "want",
        point_in_polygon(F.col("lon"), F.col("lat"), F.col("ring")).alias("got"),
    ).collect()
    bad = [(r["want"], r["got"]) for r in got if r["got"] != r["want"]]
    assert not bad, f"{len(bad)}/{len(got)} disagreements: {bad[:5]}"


def test_sql_literal_parses_to_lit_type_and_value(spark):
    """functions.sql.literal(v) parses to the Spark type and value
    F.lit(v) gives, over a table of edge values; non-finite numbers raise."""
    from decimal import Decimal

    import numpy as np

    from w4h_integrated_toolkit_spark.functions.sql import literal

    values = [
        None, True, False,
        0, 1, -1, 2**31 - 1, -(2**31), 2**31, -(2**31) - 1, 2**63 - 1, -(2**63),
        0.0, -0.0, 1.5, -2.5, 0.1, 1e16, -1e-05, 1e-300, 5e-324,
        1.7976931348623157e308,
        "", "abc", "it's", "back\\slash", "\\'", "new\nline", "tab\t",
        "é ∑ 😀", "a`b", "%_",
        dt.date(2016, 8, 1), dt.date(1970, 1, 1), dt.date(9999, 12, 31),
        dt.datetime(2016, 8, 1, 12, 0), dt.datetime(2016, 8, 1, 12, 0, 0, 123456),
        dt.datetime(1969, 12, 31, 23, 59, 59, 999999),
        dt.datetime(2016, 8, 1, 12, tzinfo=dt.timezone.utc),
        dt.datetime(2016, 8, 1, 12, tzinfo=dt.timezone(dt.timedelta(hours=-7))),
        Decimal("2.5"), Decimal("-0.001"), Decimal("1E+3"), Decimal("0"),
        Decimal("123456789012345678901234567890"),
        np.int8(-3), np.int16(300), np.int32(-7), np.int64(2**40),
        np.float32(0.1), np.float64(-2.5), np.bool_(True), np.str_("np"),
    ]
    df = spark.range(1).select(
        *[F.expr(literal(v)).alias(f"e{i}") for i, v in enumerate(values)],
        *[F.lit(v).alias(f"l{i}") for i, v in enumerate(values)],
    )
    row = df.collect()[0]
    for i, v in enumerate(values):
        got, want = df.schema[f"e{i}"].dataType, df.schema[f"l{i}"].dataType
        assert got == want, (v, literal(v), got, want)
        a, b = row[f"e{i}"], row[f"l{i}"]
        assert (type(a), repr(a)) == (type(b), repr(b)), (v, literal(v), a, b)
    for bad in (math.nan, math.inf, -math.inf, np.float64("nan"),
                np.float32("inf"), Decimal("NaN"), Decimal("-Infinity"), 2**63):
        with pytest.raises(ValueError):
            literal(bad)
    with pytest.raises(TypeError):
        literal(object())


def test_sql_ident_quotes_any_name(spark):
    """functions.sql.ident resolves exactly the named column, whatever
    characters the name holds."""
    from w4h_integrated_toolkit_spark.functions.sql import ident

    names = ["plain", "with space", "odd`name", "a.b", "``", "sum(x)"]
    df = spark.createDataFrame([tuple(range(len(names)))], [*names])
    out = df.selectExpr(*(f"{ident(n)} + 10 AS {ident(n + '!')}" for n in names))
    assert out.columns == [n + "!" for n in names]
    assert list(out.collect()[0]) == [10 + i for i in range(len(names))]


# Pure-Python twin of the even-odd rule, in Spark's comparison semantics:
# NULL compares to NULL (the CASE then yields 0) and NaN sorts above every
# number. IEEE operation order is the one geo.point_in_polygon has always
# used: ax + (bx - ax) * (lat - ay) / (by - ay).
def _spark_gt(a, b):
    if a is None or b is None:
        return None
    if math.isnan(a):
        return not math.isnan(b)
    if math.isnan(b):
        return False
    return a > b


def _pip_reference(lon, lat, ring):
    count = 0
    for i, a in enumerate(ring):
        b = ring[(i + 1) % len(ring)]
        above_a, above_b = _spark_gt(a[1], lat), _spark_gt(b[1], lat)
        if above_a is None or above_b is None or above_a == above_b:
            continue
        if None in (a[0], b[0], lon):
            continue
        xcross = a[0] + (b[0] - a[0]) * (lat - a[1]) / (b[1] - a[1])
        if _spark_gt(xcross, lon):
            count += 1
    return count % 2 == 1


def _cell_range(vals, cell):
    """Spark's cells for one ring axis: sequence(floor(array_min / c),
    floor(array_max / c)) with NULLs skipped, NaN the largest value and
    FLOOR(NaN) = 0; sequence runs downwards when start > stop."""
    vals = [v for v in vals if v is not None]
    nan = [v for v in vals if math.isnan(v)]
    finite = [v for v in vals if not math.isnan(v)]
    lo = min(finite) if finite else math.nan
    hi = math.nan if nan else max(finite)
    f = lambda v: 0 if math.isnan(v) else math.floor(v / cell)  # noqa: E731
    return min(f(lo), f(hi)), max(f(lo), f(hi))


_GEO_RINGS = {
    "square_open": [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)],
    "tri_closed": [(20.0, 0.0), (30.0, 0.0), (25.0, 8.0), (20.0, 0.0)],
    # concave, straddles the prime meridian, with a horizontal edge
    "meridian": [(-3.5, 40.1), (2.25, 39.9), (1.0, 41.3), (0.0, 40.5),
                 (-0.75, 40.5), (-1.75, 41.7)],
    # hugs the antimeridian from both sides (planar rings, not wrapping)
    "east_180": [(179.2, -16.8), (179.999999, -16.1), (179.7, -15.2),
                 (179.31, -15.9), (179.2, -16.8)],
    "west_180": [(-179.999999, 10.0), (-179.1, 10.3), (-179.5, 11.0)],
    # a NaN and a NULL vertex: the longitude band must stand aside
    "nan_vertex": [(1.0, -9.0), (5.0, -9.0), (math.nan, -7.0), (5.0, -5.0),
                   (1.0, -5.0)],
    "null_vertex": [(11.0, -9.0), (15.0, -9.0), (None, -7.0), (15.0, -5.0),
                    (11.0, -5.0)],
}


def _geo_adversarial_points():
    """Every vertex, points on every edge, on and just past every bbox
    side, on the horizontal through every vertex, plus NaN/NULL points."""
    pts = []
    for ring in _GEO_RINGS.values():
        good = [(x, y) for x, y in ring if x is not None and not math.isnan(x)]
        xs, ys = [x for x, _ in good], [y for _, y in ring]
        x0, x1, y0, y1 = min(xs), max(xs), min(ys), max(ys)
        pts += good
        for (ax, ay), (bx, by) in zip(ring, ring[1:] + ring[:1]):
            if ax is None or bx is None or math.isnan(ax) or math.isnan(bx):
                continue
            pts += [(ax + (bx - ax) * t, ay + (by - ay) * t) for t in (0.5, 1 / 3, 0.9)]
        for t in (0.0, 0.2, 0.5, 0.7, 1.0):
            x, y = x0 + (x1 - x0) * t, y0 + (y1 - y0) * t
            pts += [(x, y0), (x, y1), (x0, y), (x1, y)]
            pts += [(math.nextafter(x0, -math.inf), y), (math.nextafter(x1, math.inf), y),
                    (x0 - 1e-12, y), (x1 + 1e-12, y),
                    (x, math.nextafter(y0, -math.inf)), (x, math.nextafter(y1, -math.inf))]
        for vy in ys:
            pts += [(x0 + (x1 - x0) * t, vy) for t in (0.1, 0.45, 0.8)]
    pts += [(math.nan, 5.0), (5.0, math.nan), (math.nan, math.nan),
            (None, 5.0), (5.0, None), (None, None)]
    return [(i, x, y) for i, (x, y) in enumerate(pts)]


def test_point_in_polygon_matches_even_odd_reference(spark):
    """point_in_polygon agrees row for row with the Python twin of the
    even-odd formula on adversarial points: vertices, edges, bbox sides,
    vertex horizontals, NaN and NULL coordinates; open and closed rings,
    rings at longitude 0 and at ±180, rings with a NaN or NULL vertex."""
    from w4h_integrated_toolkit_spark.operators.geo import point_in_polygon

    pts = _geo_adversarial_points()
    rows = [(pid, rid, x, y, [(a, b) for a, b in ring])
            for rid, ring in _GEO_RINGS.items() for pid, x, y in pts]
    df = spark.createDataFrame(
        rows,
        "pid int, rid string, lon double, lat double, "
        "ring array<struct<lon double, lat double>>",
    )
    got = {
        (r["pid"], r["rid"]): r["inside"]
        for r in df.select(
            "pid", "rid",
            point_in_polygon(F.col("lon"), F.col("lat"), F.col("ring")).alias("inside"),
        ).collect()
    }
    want = {
        (pid, rid): _pip_reference(x, y, ring)
        for rid, ring in _GEO_RINGS.items() for pid, x, y in pts
    }
    bad = {k: (got[k], want[k]) for k in want if got[k] != want[k]}
    assert not bad, f"{len(bad)}/{len(want)} disagreements: {list(bad.items())[:5]}"
    assert sum(want.values()) > 50  # the set exercises the inside branch


def test_geofence_join_filter_and_refine_is_exact(spark):
    """geofence_join's bbox bands never change an answer: the joined pairs
    are exactly the (point, polygon) pairs that share a grid cell and pass
    the Python twin of the even-odd formula — including the points on and
    a hair past each bbox side that the padded longitude band lets through
    to the exact test."""
    from w4h_integrated_toolkit_spark.operators.geo import geofence_join

    cell = 2.0
    pts = _geo_adversarial_points()
    points = spark.createDataFrame(pts, "pid int, lon double, lat double")
    polys = spark.createDataFrame(
        [(rid, ring) for rid, ring in _GEO_RINGS.items()],
        "polygon_id string, ring array<struct<lon double, lat double>>",
    )
    out = geofence_join(points, polys, cell_deg=cell)
    assert out.columns == ["pid", "lon", "lat", "polygon_id"]
    got = sorted((r["pid"], r["polygon_id"]) for r in out.collect())
    want = []
    for rid, ring in _GEO_RINGS.items():
        cx = _cell_range([v[0] for v in ring], cell)
        cy = _cell_range([v[1] for v in ring], cell)
        for pid, x, y in pts:
            if x is None or y is None:
                continue
            px = 0 if math.isnan(x) else math.floor(x / cell)
            py = 0 if math.isnan(y) else math.floor(y / cell)
            if (cx[0] <= px <= cx[1] and cy[0] <= py <= cy[1]
                    and _pip_reference(x, y, ring)):
                want.append((pid, rid))
    assert got == sorted(want)
    assert {rid for _, rid in want} == set(_GEO_RINGS)  # every ring hit


def test_fuzzy_token_sort_reordered_names():
    """C9 fidelity: fuzzywuzzy's WRatio (the reference matcher,
    import_hub_main.py:34-55) scores token-reordered names ~100 via its
    token-sort arm; plain Levenshtein alone leaves 'rate heart bpm' vs
    'heart rate bpm' near the 60 threshold. The reordered name must map
    identically to the in-order one."""
    from w4h_integrated_toolkit_spark.operators.etl import _ratio, fuzzy_map_columns

    assert _ratio("rate heart bpm", "heart rate bpm") == 100.0
    in_order = fuzzy_map_columns(
        ["Heart Rate (bpm)"], {"heart_rates": "heart rate bpm"}, threshold=60.0
    )
    reordered = fuzzy_map_columns(
        ["Rate Heart (bpm)"], {"heart_rates": "heart rate bpm"}, threshold=60.0
    )
    assert in_order["heart_rates"] == "Heart Rate (bpm)"
    assert reordered["heart_rates"] == "Rate Heart (bpm)"


def test_spec_from_nl_payload_roundtrip(spark):
    """U4 plug point: the payload shape the reference's LLM prompt pins
    (script/utils.py:112-133 — selected_users/_control, state, age/weight/
    height ranges, start/end_date) maps onto compilable FilterSpecs."""
    from w4h_integrated_toolkit_spark.operators.cohort import (
        filter_users,
        spec_from_nl_payload,
    )

    payload = {  # shape per the reference prompt's key list
        "selected_users": [],
        "selected_state_of_residence": ["CA", "WA"],
        "selected_age_range": [30, 50],
        "selected_weight_range": [60.0, 90.0],
        "selected_height_range": None,
        "selected_users_control": ["u9"],
        "selected_state_of_residence_control": [],
        "selected_age_range_control": [20, 80],
        "selected_weight_range_control": None,
        "selected_height_range_control": None,
        "start_date": "2016-08-01",
        "end_date": "2016-08-14",
    }
    spec = spec_from_nl_payload(payload)
    assert spec.start_date == "2016-08-01" and spec.end_date == "2016-08-14"
    # empty selected_users list -> "all" -> still a spec, compiles to TRUE
    names = {(s.name, s.type) for s in spec.subject_filters}
    assert ("state_of_residence", "string") in names
    assert ("age", "int") in names and ("weight", "float") in names
    # height_range None -> omitted entirely
    assert not any(s.name == "height" for s in spec.subject_filters)

    users = spark.createDataFrame(
        [
            ("u1", 40, 70.0, "CA"),
            ("u2", 55, 70.0, "CA"),   # age out of range
            ("u3", 40, 70.0, "TX"),   # state not selected
            ("u4", None, None, None),  # null-tolerant: passes
            ("u9", 25, 100.0, "NY"),
        ],
        "user_id string, age int, weight double, state_of_residence string",
    )
    subjects = filter_users(users, spec.subject_filters)
    assert sorted(r.user_id for r in subjects.collect()) == ["u1", "u4"]
    # u4's null age passes (null-tolerant), but its non-null user_id fails
    # the explicit id-list membership — id selection is a hard filter
    # (viz.py:619-639), unlike attribute filters
    controls = filter_users(users, spec.control_filters)
    assert sorted(r.user_id for r in controls.collect()) == ["u9"]


def test_fixed_point_band_bit_equality_large_magnitudes(spark, tmp_path):
    """The bit-identical-by-construction guarantee must hold where the
    exact integer numerator n*S2-S1^2 exceeds 64 bits (here S2 alone
    ~2.6e21 > 2^64): Spark converts decimal(38,0)->double via BigDecimal
    (correctly rounded); DuckDB converts HUGEINT->double as
    double(lower) + double(upper)*2^64 — a potential double-rounding.
    Pin exact output bits so any 1-ulp divergence surfaces here, not as a
    driver hash mismatch. NULL readings included: n must be count(value),
    not count(*), in BOTH engines or mean/sigma deflate."""
    import struct

    import duckdb
    from pyspark.sql import functions as F

    from w4h_integrated_toolkit_spark.operators.safeband import fixed_point_band

    df = spark.range(150_000).select(
        F.when(F.col("id") % 100 == 0, F.lit(None).cast("double"))
        .otherwise(100.0 + (F.col("id") % 997) / 997.0 * 100.0)
        .alias("value")
    )
    p = str(tmp_path / "vals")
    df.coalesce(2).write.parquet(p)
    sb = fixed_point_band(spark.read.parquet(p), "value").collect()[0]

    band_sql = f"""
    WITH s AS (
      SELECT count(value) AS n,
             sum(CAST(round(value*1e6) AS HUGEINT)) AS s1,
             sum(CAST(round(value*1e6) AS HUGEINT)
                 * CAST(round(value*1e6) AS HUGEINT)) AS s2
      FROM read_parquet('{p}/*.parquet'))
    SELECT CAST(s1 AS DOUBLE)/CAST(n AS DOUBLE)/1e6
             - 2*sqrt(CAST(n*s2 - s1*s1 AS DOUBLE)
                      /(CAST(n AS DOUBLE)*(CAST(n AS DOUBLE)-1.0))/1e12),
           CAST(s1 AS DOUBLE)/CAST(n AS DOUBLE)/1e6
             + 2*sqrt(CAST(n*s2 - s1*s1 AS DOUBLE)
                      /(CAST(n AS DOUBLE)*(CAST(n AS DOUBLE)-1.0))/1e12)
    FROM s
    """
    lo, hi = duckdb.connect().execute(band_sql).fetchone()
    assert struct.pack("<d", sb.band_lo) == struct.pack("<d", lo), (
        f"band_lo bits differ: spark {sb.band_lo!r} vs duckdb {lo!r}"
    )
    assert struct.pack("<d", sb.band_hi) == struct.pack("<d", hi), (
        f"band_hi bits differ: spark {sb.band_hi!r} vs duckdb {hi!r}"
    )


def test_kll_rollup_rejects_colliding_quantile_names(spark):
    """Per-mille quantile column naming (0.25 -> q_250) must refuse
    quantiles that collide beyond 3 decimals instead of emitting duplicate
    column names (0.25 and 0.2501 both -> q_250)."""
    import pytest

    from w4h_integrated_toolkit_spark.operators.sketches import kll_rollup

    cube = spark.createDataFrame([], "g string, sketch binary, n_rows long")
    with pytest.raises(ValueError, match="collide"):
        kll_rollup(cube, ["g"], quantiles=(0.25, 0.2501))


def test_incremental_neardup_pairs(spark):
    """Continuous-ingestion dedup: a new batch is checked against the
    corpus only — corpus-corpus duplicates must NOT appear; a stored band
    index (corpus_bands) must give identical results to re-hashing."""
    from w4h_integrated_toolkit_spark.operators.dedup import (
        incremental_neardup_pairs,
        lsh_band_rows,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    corpus = spark.createDataFrame(
        [
            (1, base),                      # near-dup target
            (2, base + " again and again"), # corpus-corpus near-dup of 1
            (3, "completely different text about spark physical plans and shuffles"),
        ],
        "doc_id long, text string",
    )
    increment = spark.createDataFrame(
        [
            (10, base),  # exact dup of corpus doc 1 (and near 2)
            (11, "unrelated fresh document with novel content entirely its own words"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.new_id, r.corpus_id): r.jaccard
        for r in incremental_neardup_pairs(
            corpus, increment, n=3, num_perm=8, bands=4, threshold=0.5
        ).collect()
    }
    assert (10, 1) in got and got[(10, 1)] == 1.0  # exact dup found
    assert all(nid == 10 for nid, _ in got)        # 11 is a keeper
    assert not any(a in (1, 2, 3) for a, _ in got)  # no corpus-corpus pairs

    stored = lsh_band_rows(corpus, n=3, num_perm=8, bands=4)
    via_index = {
        (r.new_id, r.corpus_id): r.jaccard
        for r in incremental_neardup_pairs(
            corpus, increment, n=3, num_perm=8, bands=4, threshold=0.5,
            corpus_bands=stored,
        ).collect()
    }
    assert via_index == got


def test_incremental_dedup_equals_cross_side_subset_of_full_lsh(spark):
    """Equivalence law: incremental (corpus vs batch) pairs == the
    cross-side subset of whole-corpus minhash_lsh_pairs over the union —
    same candidates, same exact-Jaccard verification."""
    from w4h_integrated_toolkit_spark.catalog import read_parquet
    from w4h_integrated_toolkit_spark.operators.dedup import (
        incremental_neardup_pairs,
        minhash_lsh_pairs,
    )

    docs = read_parquet(spark, "/root/testdata/sf0.001/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    increment = docs.filter(F.col("doc_id") % 5 == 0)

    inc_pairs = {
        (r.new_id, r.corpus_id): round(r.jaccard, 9)
        for r in incremental_neardup_pairs(
            corpus, increment, n=3, num_perm=8, bands=4, threshold=0.5
        ).collect()
    }
    full = minhash_lsh_pairs(docs, n=3, num_perm=8, bands=4, threshold=0.5)
    cross = {}
    for r in full.collect():
        a_inc, b_inc = r.id_a % 5 == 0, r.id_b % 5 == 0
        if a_inc and not b_inc:
            cross[(r.id_a, r.id_b)] = round(r.jaccard, 9)
        elif b_inc and not a_inc:
            cross[(r.id_b, r.id_a)] = round(r.jaccard, 9)
    assert inc_pairs == cross and len(inc_pairs) > 0


def test_resize_frames_fake_codec_and_stub(spark):
    """Resize transform: every-factor-th byte per frame (fake codec), one
    row per frame, binary output with consistent size metadata; the real
    codec is a documented stub."""
    from w4h_integrated_toolkit_spark.operators import multimodal as MM

    docs = spark.createDataFrame(
        [(1, "abcdefgh" * 32)], "doc_id long, text string"
    )
    payloads = MM.attach_payload(docs)
    out = MM.resize_frames(payloads, factor=4, codec="fake").collect()
    assert len(out) > 0
    meta = payloads.select("meta.frame_bytes", "meta.n_frames").first()
    assert len(out) == meta.n_frames
    for r in out:
        assert r.n_bytes == len(r.frame)
        assert r.n_bytes <= -(-meta.frame_bytes // 4)  # ceil(fb/4)
    with pytest.raises(NotImplementedError):
        MM.resize_frames(payloads, codec="real")


# --------------------------------------------------------------------------
# Real-codec import probe + injectable kernels (multimodal)
# --------------------------------------------------------------------------

class _FakeImg:
    """Minimal stand-in for a decoded PIL image (size/resize/save/convert)."""

    def __init__(self, raw: bytes):
        self._raw = raw
        self.size = (8, 4)

    def resize(self, wh):
        self._wh = wh
        return self

    def save(self, buf, format=None):
        buf.write(b"PNG!" + bytes(self._wh))

    def convert(self, mode):
        import numpy as np

        # deterministic "pixels": the frame's own bytes as one row
        return np.frombuffer(self._raw, dtype=np.uint8).reshape(1, -1)


class _FakeImageModule:
    @staticmethod
    def open(buf):
        return _FakeImg(buf.read())


def test_real_codec_probe_lights_up_with_pil(spark, monkeypatch):
    """codec='real' must raise the actionable stub error only while PIL is
    absent: with an importable PIL module the call-time probe passes and a
    lazy DataFrame with the right schema comes back (the kernel itself is
    exercised directly below — executors would re-import PIL)."""
    import sys
    import types

    from w4h_integrated_toolkit_spark.operators import multimodal as MM

    _, payloads = _mm_docs(spark)
    with pytest.raises(NotImplementedError, match="[Pp]illow"):
        MM.resize_frames(payloads, codec="real")
    with pytest.raises(NotImplementedError, match="[Pp]illow"):
        MM.decode_frames(payloads, codec="real")
    with pytest.raises(ValueError, match="unknown codec"):
        MM.decode_frames(payloads, codec="webp")

    fake_pil = types.ModuleType("PIL")
    fake_pil.Image = _FakeImageModule
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    rdf = MM.resize_frames(payloads, codec="real")
    assert [f.name for f in rdf.schema.fields] == [
        "doc_id", "frame_idx", "frame", "n_bytes",
    ]
    ddf = MM.decode_frames(payloads, codec="real")
    assert [f.name for f in ddf.schema.fields] == [
        "doc_id", "frame_idx", "mean_byte",
    ]


def test_real_codec_kernels_via_injected_module():
    """The codec='real' kernels, driven directly with an injected image
    module (what executors resolve as PIL.Image): resize halves dimensions
    through resize()+save(), decode emits the grayscale mean."""
    import pandas as pd

    from w4h_integrated_toolkit_spark.operators.multimodal import (
        _real_decode_rows,
        _real_resize_rows,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": [1],
            "payload": [bytes(range(20, 28)) * 2],  # 2 frames x 8 bytes
            "frame_bytes": [8],
            "n_frames": [2],
        }
    )
    out = _real_resize_rows(pdf, factor=2, id_col="doc_id", image_mod=_FakeImageModule)
    assert list(out["frame_idx"]) == [0, 1]
    # _FakeImg.size is (8, 4); factor 2 -> resize((4, 2)) -> b"PNG!\x04\x02"
    assert list(out["frame"]) == [b"PNG!\x04\x02"] * 2
    assert list(out["n_bytes"]) == [6, 6]

    dec = _real_decode_rows(pdf, id_col="doc_id", image_mod=_FakeImageModule)
    assert list(dec["frame_idx"]) == [0, 1]
    assert dec["mean_byte"].tolist() == [23.5, 23.5]  # mean(20..27)


def test_ivf_centroid_collect_cap(spark):
    """An IVF quantizer larger than max_centroids must fail fast with the
    actionable error (single limit-probe job), not materialize an
    unbounded driver array."""
    from tests.conftest import SF_DIR
    from w4h_integrated_toolkit_spark.catalog import read_parquet
    from w4h_integrated_toolkit_spark.operators.similarity import ivf_topk

    emb = read_parquet(spark, f"{SF_DIR}/embeddings.parquet")
    with pytest.raises(ValueError, match="max_centroids"):
        ivf_topk(emb, emb.limit(2), centroid_stride=1, max_centroids=10)


def test_hll_cube_incremental_append_equals_rebuild(spark):
    """The cube's incremental-maintenance contract: a daily ingest APPENDS
    cells (built only from the new data) instead of rebuilding the cube —
    and because hll_union_agg is associative, rollup over the appended
    cube equals rollup over a full rebuild EXACTLY, even when the append
    boundary falls mid-bucket (two partial cells for one (dims, day) —
    the union merges them). This is what makes yesterday's 100 TB cube
    reusable today."""
    from w4h_integrated_toolkit_spark.catalog import read_parquet
    from w4h_integrated_toolkit_spark.operators.sketches import hll_cube, hll_rollup

    ev = read_parquet(spark, "/root/testdata/sf0.001/events.parquet")
    # split mid-day (noon Jan 20): the Jan-20 bucket exists on BOTH sides
    split = "2024-01-20 12:00:00"
    old = ev.filter(F.col("ts") < split)
    new = ev.filter(F.col("ts") >= split)
    appended = hll_cube(old, ["event_type"], "user_id", ts="ts").union(
        hll_cube(new, ["event_type"], "user_id", ts="ts")
    )
    # the appended cube really does carry duplicate (event_type, day) cells
    dup = (
        appended.groupBy("event_type", "bucket_start")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup > 0
    rebuilt = hll_cube(ev, ["event_type"], "user_id", ts="ts")
    a = {
        r["event_type"]: (r["approx_distinct"], r["n_rows"])
        for r in hll_rollup(appended, ["event_type"]).collect()
    }
    b = {
        r["event_type"]: (r["approx_distinct"], r["n_rows"])
        for r in hll_rollup(rebuilt, ["event_type"]).collect()
    }
    assert a == b  # exact equality: same registers, max-merged


# --------------------------------------------------------------------------
# Ranked retrieval (BM25 / TF-IDF)
# --------------------------------------------------------------------------

def test_bm25_matches_hand_computed_score(spark):
    """BM25 against the textbook formula computed in Python for a corpus
    small enough to verify by hand; also pins the ranking invariants
    (more matching occurrences => higher score; non-matching docs
    absent)."""
    import math

    from w4h_integrated_toolkit_spark.operators.ranking import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "spark spark spark engine"),
            (2, "spark engine engine engine"),
            (3, "row table batch scan"),
            (4, "spark data data window table"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in bm25_topk(docs, ("spark", "data"), k=10).collect()}
    assert 3 not in out  # no query term -> never scored
    assert set(out) == {1, 2, 4}

    # textbook recomputation
    k1, b = 1.2, 0.75
    n_docs, total_len = 4, 4 + 4 + 4 + 5
    avgdl = total_len / n_docs
    tf = {1: {"spark": 3}, 2: {"spark": 1}, 4: {"spark": 1, "data": 2}}
    dl = {1: 4, 2: 4, 4: 5}
    df = {"spark": 3, "data": 1}

    def score(d):
        s = 0
        for t, f in tf[d].items():
            idf = math.log((n_docs - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
            s += round(
                idf * (f * (k1 + 1.0)) / (f + k1 * (1 - b + b * dl[d] / avgdl)) * 1e9
            )
        return s / 1e9

    for d in (1, 2, 4):
        assert abs(out[d]["bm25"] - score(d)) < 1e-9, (d, out[d])
    # doc 4 matches the rare term twice -> beats both spark-only docs
    assert out[4]["bm25"] > out[1]["bm25"] > out[2]["bm25"]


def test_tfidf_top_terms_and_persisted_df_table(spark):
    """A term unique to one document must be its top TF-IDF term; terms
    present in every document carry idf=ln(1)=0. Passing a persisted
    doc-frequency table (the 100 TB probe-many shape) must give
    bit-identical output to the inline two-pass plan."""
    from w4h_integrated_toolkit_spark.operators.ranking import (
        doc_frequencies,
        tfidf_top_terms,
    )

    docs = spark.createDataFrame(
        [
            (1, "shared shared unicorn shared"),
            (2, "shared dragon dragon shared"),
            (3, "shared griffin shared shared"),
        ],
        "doc_id long, text string",
    )
    inline = tfidf_top_terms(docs, top_n=2)
    rows = {r["doc_id"]: r for r in inline.filter(F.col("rank") == 1).collect()}
    assert rows[1]["term"] == "unicorn"
    assert rows[2]["term"] == "dragon"
    assert rows[3]["term"] == "griffin"
    # 'shared' appears in all 3 docs: idf = ln(3/3) = 0 exactly
    shared = [r for r in inline.collect() if r["term"] == "shared"]
    assert shared and all(r["tfidf_scaled"] == 0 for r in shared)

    persisted = tfidf_top_terms(docs, top_n=2, doc_freq=doc_frequencies(docs))
    assert sorted(map(tuple, persisted.collect())) == sorted(
        map(tuple, inline.collect())
    )


def test_term_drift_matches_hand_computed_kl(spark):
    """KL(A||B) per-term contributions against the textbook add-one
    formula on a corpus small enough to verify by hand; the full-vocab
    contribution sum must be non-negative (Gibbs' inequality) and a term
    over-represented in A must carry positive drift."""
    import math

    from w4h_integrated_toolkit_spark.operators.ranking import term_drift

    docs = spark.createDataFrame(
        [
            (1, "en", "spark spark spark table"),
            (2, "en", "spark table row"),
            (3, "de", "zeile tabelle table"),
            (4, "de", "tabelle tabelle row row"),
        ],
        "doc_id long, lang string, text string",
    )
    out = {
        r["term"]: r
        for r in term_drift(docs, F.col("lang") == "en", top_n=100).collect()
    }

    ca = {"spark": 4, "table": 2, "row": 1, "zeile": 0, "tabelle": 0}
    cb = {"spark": 0, "table": 1, "row": 2, "zeile": 1, "tabelle": 3}
    ta, tb, v = sum(ca.values()), sum(cb.values()), len(ca)

    total = 0.0
    for t in ca:
        pa = (ca[t] + 1) / (ta + v)
        pb = (cb[t] + 1) / (tb + v)
        expected = round(pa * math.log(pa / pb) * 1e12)
        assert out[t]["ca"] == ca[t] and out[t]["cb"] == cb[t]
        assert out[t]["drift_scaled"] == expected, (t, out[t])
        total += expected / 1e12
    assert total >= 0.0  # Gibbs
    assert out["spark"]["drift_scaled"] > 0 > out["tabelle"]["drift_scaled"]


def test_gap_fill_minutes_hand_model(spark):
    """Explicit-gap fixture: minutes 0,1,4 observed (minute 1 has TWO
    readings -> stable mean), minutes 2-3 forward-filled from minute 1,
    grid ends at the last observed minute, second user independent."""
    import datetime as dt

    from w4h_integrated_toolkit_spark.operators.timeseries import gap_fill_minutes

    t0 = dt.datetime(2024, 1, 5, 0, 0, 0)

    def at(minute, sec=0):
        return t0 + dt.timedelta(minutes=minute, seconds=sec)

    rows = [
        (1, at(0), 10.0),
        (1, at(1, 10), 20.0),
        (1, at(1, 50), 21.0),  # same minute -> mean 20.5
        (1, at(4), 40.0),
        (2, at(7), 7.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    got = {
        (r["user_id"], r["minute_epoch"]): (r["filled_value"], r["is_observed"])
        for r in gap_fill_minutes(df).collect()
    }
    base = int(t0.replace(tzinfo=dt.timezone.utc).timestamp())
    assert got == {
        (1, base + 0 * 60): (10.0, 1),
        (1, base + 1 * 60): (20.5, 1),
        (1, base + 2 * 60): (20.5, 0),  # filled
        (1, base + 3 * 60): (20.5, 0),  # filled
        (1, base + 4 * 60): (40.0, 1),
        (2, base + 7 * 60): (7.0, 1),
    }


def test_semantic_dedup_hand_model(spark):
    """Hand-built clusters: two near-identical vectors (cos ~1) where the
    one closer to the centroid survives, an orthogonal vector untouched,
    and a second cluster with no in-threshold pair keeps everything."""
    from w4h_integrated_toolkit_spark.operators.similarity import semantic_dedup

    rows = [
        # cluster 0: v1 ~ v2 (near-dup), v3 orthogonal
        Row(vec_id=1, label=0, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=2, label=0, embedding=[0.999, 0.01, 0.0]),
        Row(vec_id=3, label=0, embedding=[0.0, 0.0, 1.0]),
        # cluster 1: two orthogonal vectors — nothing dropped
        Row(vec_id=4, label=1, embedding=[0.0, 1.0, 0.0]),
        Row(vec_id=5, label=1, embedding=[1.0, 0.0, 0.0]),
    ]
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(
            spark.createDataFrame(rows), threshold=0.9
        ).collect()
    }
    assert len(out) == 5
    kept = {k for k, r in out.items() if r["kept"] == 1}
    # v1/v2 form the only >= 0.9 pair; the winner is whichever sits closer
    # to the centroid mean([v1,v2,v3]) — that is v2 (its 0.01 y-component
    # leans toward nothing, but the centroid tilts toward v1/v2's x-axis
    # mass; assert the decision matches the operator's own cc output)
    assert (out[1]["kept"], out[2]["kept"]).count(1) == 1
    winner = 1 if out[1]["kept"] else 2
    loser = 2 if winner == 1 else 1
    assert (out[winner]["cc"], -winner) > (out[loser]["cc"], -loser)
    assert {3, 4, 5} <= kept


def test_semantic_dedup_no_surviving_neardup_pair(spark):
    """Pair-level invariant on the real corpus: no two KEPT vectors in the
    same cluster may meet the threshold, and every cluster's
    closest-to-centroid vector is always kept."""
    import itertools

    import numpy as np

    from w4h_integrated_toolkit_spark.catalog import read_parquet
    from w4h_integrated_toolkit_spark.operators.similarity import semantic_dedup

    emb = read_parquet(spark, "/root/testdata/sf0.001/embeddings.parquet")
    out = semantic_dedup(emb, threshold=0.3).collect()
    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }
    by_label: dict[int, list] = {}
    for r in out:
        by_label.setdefault(r["label"], []).append(r)
    for label, rows in by_label.items():
        best = max(rows, key=lambda r: (r["cc"], -r["vec_id"]))
        assert best["kept"] == 1, f"cluster {label}: centroid-closest dropped"
        kept = [r for r in rows if r["kept"] == 1]
        for a, b in itertools.combinations(kept, 2):
            va, vb = vecs[a["vec_id"]], vecs[b["vec_id"]]
            cos = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
            assert round(cos, 6) < 0.3, (
                f"kept near-dup pair {a['vec_id']},{b['vec_id']} cos={cos}"
            )


def test_time_weighted_avg_hand_model(spark):
    """Known trapezoids: uneven sampling where the plain mean and the TWA
    disagree, a midnight-crossing segment that must NOT contribute, and a
    simultaneous-sample tie whose pairing is fixed by the tiebreak."""
    from w4h_integrated_toolkit_spark.operators.timeseries import time_weighted_avg

    t0 = dt.datetime(2024, 3, 1, 10, 0, 0)

    def row(i, minutes, v, uid=1):
        return Row(
            user_id=uid, event_id=i,
            ts=t0 + dt.timedelta(minutes=minutes), value=float(v),
        )

    rows = [
        # day 1 segments: 600s@avg10, 600s@avg30, 48900s@avg75
        row(1, 0, 10.0), row(2, 10, 10.0), row(3, 20, 50.0),
        # late-night sample whose successor is next day: excluded segment
        row(4, 13 * 60 + 55, 100.0),        # 23:55
        row(5, 14 * 60 + 10, 200.0),        # next day 00:10 — crosses midnight
    ]
    out = {
        (r["user_id"], r["bucket_epoch"]): r
        for r in time_weighted_avg(spark.createDataFrame(rows)).collect()
    }
    day1 = (1, int(dt.datetime(2024, 3, 1).timestamp()))
    assert set(out) == {day1}  # the midnight-crossing pair contributes nowhere
    assert out[day1]["n_segments"] == 3
    # trapezoids: (600*10 + 600*30 + 48900*75) / (600+600+48900) — the long
    # 10:20→23:55 stretch dominates; a plain mean of the 4 day-1 samples
    # (42.5) badly under-weights it
    assert out[day1]["twa"] == round((600 * 10 + 600 * 30 + 48900 * 75) / 50100, 6)


def test_time_weighted_avg_tie_pairing_deterministic(spark):
    """Two samples at the SAME timestamp: the event_id tiebreak decides
    which one chains to the successor — permuting input row order must not
    change the answer."""
    from w4h_integrated_toolkit_spark.operators.timeseries import time_weighted_avg

    t0 = dt.datetime(2024, 3, 1, 10, 0, 0)
    rows = [
        Row(user_id=1, event_id=1, ts=t0, value=0.0),
        Row(user_id=1, event_id=2, ts=t0, value=100.0),  # tie on ts
        Row(user_id=1, event_id=3, ts=t0 + dt.timedelta(minutes=10), value=100.0),
    ]
    a = time_weighted_avg(spark.createDataFrame(rows)).collect()
    b = time_weighted_avg(spark.createDataFrame(rows[::-1])).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # order by event_id: 1→2 zero-width, then 2→3 at avg 100
    assert a[0]["twa"] == 100.0


def test_rolling_zscore_hand_model(spark):
    """A spike after a stable baseline is flagged; the same spike after a
    CONSTANT baseline is not (zero-variance guard), and early rows with
    fewer than min_periods predecessors never flag."""
    from w4h_integrated_toolkit_spark.operators.timeseries import rolling_zscore

    t0 = dt.datetime(2024, 3, 1, 0, 0, 0)

    def series(uid, vals):
        return [
            Row(user_id=uid, event_id=i, ts=t0 + dt.timedelta(minutes=i),
                value=float(v))
            for i, v in enumerate(vals)
        ]

    # user 1: mild variation then a huge spike; user 2: constant then spike
    rows = series(1, [10, 11, 9, 10, 11, 9, 10, 500]) + series(
        2, [10, 10, 10, 10, 10, 10, 10, 500]
    )
    out = rolling_zscore(
        spark.createDataFrame(rows), lookback=20, min_periods=5, threshold=3.0
    ).collect()
    flagged = {(r["user_id"], r["event_id"]) for r in out}
    assert (1, 7) in flagged          # spike against a live baseline
    assert all(u != 2 for u, _ in flagged)  # zero variance never flags
    assert all(e >= 5 for _, e in flagged)  # warm-up rows never flag
    z = [r["z"] for r in out if r["user_id"] == 1][0]
    assert z > 100  # (500 - 10) / std(~0.8)


def test_unigram_nll_hand_model_and_frozen_model(spark):
    """Two-doc corpus checked against a hand-computed smoothed unigram
    NLL, plus the frozen-model path: scoring against persisted counts
    must equal the self-model when the counts are the same."""
    import math as m

    from w4h_integrated_toolkit_spark.operators.ranking import unigram_nll

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="a a b"), Row(doc_id=2, text="b c")]
    )
    out = {r["doc_id"]: r for r in unigram_nll(docs).collect()}
    # counts: a=2 b=2 c=1, T=5, V=3 → p(a)=3/8, p(b)=3/8, p(c)=2/8
    lp = {t: round(m.log(p) * 1e9) for t, p in (("a", 3 / 8), ("b", 3 / 8), ("c", 1 / 4))}
    nll1 = -(2 * lp["a"] + lp["b"]) / 1e9 / 3
    nll2 = -(lp["b"] + lp["c"]) / 1e9 / 2
    assert out[1]["n_tokens"] == 3 and out[2]["n_tokens"] == 2
    assert abs(out[1]["nll"] - nll1) < 1e-6
    assert abs(out[2]["nll"] - nll2) < 1e-6
    # frozen-model path
    counts = spark.createDataFrame(
        [Row(term="a", c=2), Row(term="b", c=2), Row(term="c", c=1)]
    )
    frozen = {r["doc_id"]: r for r in unigram_nll(docs, term_counts=counts).collect()}
    assert frozen[1]["nll"] == out[1]["nll"]
    assert frozen[2]["nll"] == out[2]["nll"]


def test_source_ngram_overlap_hand_model(spark):
    """Three tiny slices with known bigram sets: exact intersection /
    union / Jaccard, pair orientation (a < b), and absence of
    zero-intersection pairs."""
    from w4h_integrated_toolkit_spark.operators.dedup import source_ngram_overlap

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, source="s1", text="x y z"),      # {x y, y z}
            Row(doc_id=2, source="s1", text="x y"),        # dup gram within slice
            Row(doc_id=3, source="s2", text="y z w"),      # {y z, z w}
            Row(doc_id=4, source="s3", text="p q"),        # {p q} — disjoint
        ]
    )
    out = {
        (r["source_a"], r["source_b"]): r
        for r in source_ngram_overlap(docs, n=2).collect()
    }
    assert set(out) == {("s1", "s2")}  # s3 shares nothing → no row
    r = out[("s1", "s2")]
    assert r["inter_grams"] == 1        # {y z}
    assert r["union_grams"] == 3        # {x y, y z, z w}
    assert abs(r["jaccard"] - round(1 / 3, 6)) < 1e-9


def test_lsh_topk_finds_planted_neighbors_and_bounds_candidates(spark):
    """Planted near-duplicates (no hyperplane separates a tight pair at
    these magnitudes) must be each other's rank-1 LSH neighbor, and every
    returned neighbor must share the query's sign bucket — the candidate
    set really is bucket-bounded."""
    import numpy as np

    from w4h_integrated_toolkit_spark.operators.similarity import (
        hyperplanes,
        lsh_topk,
    )

    rng = np.random.default_rng(7)
    base = rng.normal(size=(20, 64))
    rows = []
    for i, v in enumerate(base):
        rows.append(Row(vec_id=i, embedding=[float(x) for x in v]))
        # planted near-dup: tiny perturbation of vector i
        rows.append(
            Row(vec_id=100 + i, embedding=[float(x) for x in v + 1e-6])
        )
    emb = spark.createDataFrame(rows)
    out = lsh_topk(emb, emb.filter(F.col("vec_id") < 20), k=1, n_planes=4)
    got = {r["query_id"]: r["neighbor_id"] for r in out.collect()}
    assert got == {i: 100 + i for i in range(20)}
    # bucket-bounded: neighbors share the query's bucket by construction
    planes = hyperplanes(64, 4, 42)
    vecs = {r["vec_id"]: np.asarray(r["embedding"]) for r in rows}

    def bucket(v):
        return "".join(
            "1" if float(v @ np.asarray(p)) >= 0 else "0" for p in planes
        )

    for q, n in got.items():
        assert bucket(vecs[q]) == bucket(vecs[n])


def test_count_min_guarantees_on_wide_domain(spark):
    """CM one-sided guarantee under real collision pressure: sketch the
    1.5k-value user_id domain at a coarse eps so counters DO collide —
    every estimate must be >= the exact count, and the (eps·N,
    confidence) overshoot bound must hold for at least `confidence` of
    the values. Also: a watchlist `candidates` relation restricts output,
    and an unbounded domain trips the cap with an actionable error."""
    import math

    import pytest as _pytest

    from w4h_integrated_toolkit_spark.catalog import read_parquet
    from w4h_integrated_toolkit_spark.operators.sketches import (
        count_min_estimates,
    )

    ev = read_parquet(spark, "/root/testdata/sf0.01/events.parquet")
    n_total = ev.count()
    eps = 0.01  # width ~ e/eps ≈ 272 counters << 1.5k keys → collisions
    est = {
        r["user_id"]: r["estimate"]
        for r in count_min_estimates(ev, "user_id", eps=eps).collect()
    }
    exact = {r["user_id"]: r["n"] for r in
             ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(est) == set(exact)
    assert all(est[k] >= exact[k] for k in exact), "CM must never undercount"
    slack = math.ceil(eps * n_total)
    frac_ok = sum(est[k] <= exact[k] + slack for k in exact) / len(exact)
    assert frac_ok >= 0.99  # the confidence parameter's bound

    # watchlist candidates restrict the interrogated set
    watch = ev.select("user_id").distinct().limit(5)
    got = count_min_estimates(ev, "user_id", candidates=watch).collect()
    assert len(got) == 5

    # unbounded domain trips the cap fast
    with _pytest.raises(ValueError, match="max_candidates"):
        count_min_estimates(ev, "event_id", max_candidates=100)


def test_cm_probe_longs_matches_jvm_estimate(spark):
    """cm_probe_longs (the no-py4j probe behind stream_heavy_hitters'
    per-window interrogation) must be BIT-IDENTICAL to the JVM's
    estimateCount over the full signed-64 item domain: the wire parse
    (big-endian v1 layout) and the wrapping signed Carter-Wegman hash
    (h = a*x; h += h >> 32, arithmetic shift) are both re-implemented,
    so exercise negative hash products, negative items, and the int64
    boundaries — any divergence in shift/overflow semantics shows here."""
    import random

    from w4h_integrated_toolkit_spark.operators.sketches import cm_probe_longs

    jvm = spark._jvm
    rnd = random.Random(20260814)
    sk = jvm.org.apache.spark.util.sketch.CountMinSketch.create(0.005, 0.999, 7)
    inserted = [rnd.randrange(-(2**62), 2**62) for _ in range(2000)]
    for it in inserted:
        sk.addLong(it, rnd.randrange(1, 5))
    bos = jvm.java.io.ByteArrayOutputStream()
    sk.writeTo(bos)
    raw = bytes(bos.toByteArray())

    probes = (
        inserted[:200]
        + [rnd.randrange(-(2**63), 2**63 - 1) for _ in range(200)]
        + [0, 1, -1, 2**63 - 1, -(2**63)]
    )
    got = cm_probe_longs(raw, probes)
    want = [int(sk.estimateCount(p)) for p in probes]
    assert got == want


def test_cusum_changepoint_hand_model(spark):
    """A clean level shift: 4 samples at 10 then 4 at 20. The CUSUM peak
    sits at the last pre-shift sample: C_k = k*10 - k*15 = -5k for k<=4,
    so |C| peaks at k=4 with value 20 -> cusum_max = 20/n... verified
    against the exact closed form |D_4|/(n*1e3) with n=8:
    D_4 = 8*40000 - 4*120000 = -160000 -> 160000/8000 = 20.0."""
    import datetime as _dt

    from w4h_integrated_toolkit_spark.operators.timeseries import cusum_changepoint

    t0 = _dt.datetime(2024, 1, 1)
    rows = [
        (1, i, t0 + _dt.timedelta(minutes=i), 10.0 if i < 4 else 20.0)
        for i in range(8)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double"
    )
    got = cusum_changepoint(df, min_samples=8).collect()
    assert len(got) == 1
    r = got[0]
    assert r["n_samples"] == 8
    assert r["cusum_max"] == 20.0
    # peak attained first at k=4 -> the 4th sample (minute 3)
    want_us = int((t0 + _dt.timedelta(minutes=3)).timestamp() * 1e6)
    assert r["changepoint_epoch_us"] == want_us

    # below min_samples: no row
    assert cusum_changepoint(df, min_samples=9).count() == 0


def test_chunk_documents_hand_model(spark):
    """10 tokens, chunk 4 / stride 3 -> 3 chunks at starts 0/3/6; every
    token covered; the tail chunk is ragged (4 tokens: t7..t10). A doc
    shorter than one window yields exactly one chunk."""
    import pytest as _pytest

    from w4h_integrated_toolkit_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(1, 11))), (2, "a b")],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, chunk_tokens=4, stride=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    assert [(r["chunk_start"], r["n_chunk_tokens"]) for r in c1] == [
        (0, 4),
        (3, 4),
        (6, 4),
    ]
    assert len(by_doc[2]) == 1 and by_doc[2][0]["n_chunk_tokens"] == 2
    # identical chunk text -> identical fingerprint (t7..t10 vs a twin doc)
    fps = {r["chunk_start"]: r["chunk_fp"] for r in c1}
    assert len(set(fps.values())) == 3  # all distinct here

    with _pytest.raises(ValueError, match="stride"):
        chunk_documents(docs, chunk_tokens=4, stride=5)


def test_gram_bloom_no_false_negatives_and_param_guards(spark):
    """Bloom contract on real data: every exact contamination hit is
    bloom-flagged with at least the exact hit count; mismatched
    (bitmap, m_bits) and oversize/ragged m_bits raise."""
    import pytest as _pytest

    from w4h_integrated_toolkit_spark.catalog import read_parquet
    from w4h_integrated_toolkit_spark.operators import dedup as D

    docs = read_parquet(spark, "/root/testdata/sf0.001/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    m, k = 1 << 16, 4
    bitmap = D.gram_bloom_bitmap(bench, n=3, m_bits=m, k=k)
    bloom = {
        r["doc_id"]: r["n_bloom_hits"]
        for r in D.bloom_contamination(corpus, bitmap, m, k=k, n=3).collect()
    }
    exact = {
        r["doc_id"]: r["n_hits"]
        for r in D.contamination(corpus, bench, n=3).collect()
    }
    assert exact, "test split must actually contaminate something"
    for did, n_hits in exact.items():
        assert bloom.get(did, 0) >= n_hits, f"false negative on doc {did}"

    with _pytest.raises(ValueError, match="m_bits"):
        D.gram_bloom_bitmap(bench, m_bits=100)  # not a multiple of 64
    with _pytest.raises(ValueError, match="same"):
        D.bloom_contamination(corpus, bitmap, m_bits=1 << 17, k=k)


def test_contamination_with_bloom_matches_composed_full_outer(spark):
    """r16 fused single-pass operator ≡ the composed shape it replaced:
    contamination(corpus, bench) FULL OUTER JOIN bloom_contamination(
    corpus, bitmap) on doc_id, row for row including the NULL-count
    semantics (absent side → NULL, never 0)."""
    from w4h_integrated_toolkit_spark.catalog import read_parquet
    from w4h_integrated_toolkit_spark.operators import dedup as D

    docs = read_parquet(spark, "/root/testdata/sf0.001/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    m, k = 1 << 16, 4
    bitmap = D.gram_bloom_bitmap(bench, n=3, m_bits=m, k=k)

    fused = {
        r["doc_id"]: (r["n_hits"], r["n_bloom_hits"])
        for r in D.contamination_with_bloom(
            corpus, bench, bitmap, m, k=k, n=3
        ).collect()
    }
    composed = {
        r["doc_id"]: (r["n_hits"], r["n_bloom_hits"])
        for r in D.contamination(corpus, bench, n=3)
        .join(D.bloom_contamination(corpus, bitmap, m, k=k, n=3), "doc_id", "full")
        .collect()
    }
    assert fused == composed and len(fused) > 0
    # NULL semantics preserved: bloom-only docs carry n_hits IS NULL
    # (false positives exist at this m/k on this data or not — either
    # way no count may collapse to 0)
    assert all(
        (eh is None or eh >= 1) and (bh is None or bh >= 1)
        for eh, bh in fused.values()
    )


def test_quantize_int8_and_recall(spark):
    """Quantization invariants: values within [-127,127], zero vector
    stays zero with scale 1, reconstruction error <= scale/2 per
    component; quantized top-k recall vs the exact float path is high on
    the real embedding table."""
    from w4h_integrated_toolkit_spark.catalog import read_parquet
    from w4h_integrated_toolkit_spark.operators.similarity import (
        cosine_topk,
        quantize_int8,
        quantized_topk,
    )

    toy = spark.createDataFrame(
        [(1, [3.0, -1.5, 0.75]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    q = {r["vec_id"]: r for r in quantize_int8(toy).collect()}
    assert q[1]["qvec"] == [127, -64, 32]  # scale = 3/127
    assert q[2]["qvec"] == [0, 0, 0] and q[2]["q_scale"] == 1.0
    assert all(abs(v) <= 127 for r in q.values() for v in r["qvec"])

    emb = read_parquet(spark, "/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    quant = {
        (r["query_id"], r["neighbor_id"])
        for r in quantized_topk(emb, queries, k=5).collect()
    }
    recall = len(exact & quant) / len(exact)
    assert recall >= 0.8, f"int8 recall collapsed: {recall}"


def test_spearman_trend_hand_model(spark):
    """Closed forms: strictly rising -> rho=1, strictly falling -> -1,
    tie-heavy series matches the hand-computed average-rank value, and a
    constant (zero-variance) series is excluded."""
    import datetime as _dt

    from w4h_integrated_toolkit_spark.operators.timeseries import spearman_trend

    t0 = _dt.datetime(2024, 1, 1)
    rows = []
    for i in range(8):
        rows.append((1, t0 + _dt.timedelta(minutes=i), float(i)))        # rising
        rows.append((2, t0 + _dt.timedelta(minutes=i), float(-i)))       # falling
        rows.append((3, t0 + _dt.timedelta(minutes=i), 5.0))             # constant
        # ties: 0,0,1,1,2,2,3,3 -> still perfectly monotone in avg-rank
        rows.append((4, t0 + _dt.timedelta(minutes=i), float(i // 2)))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    got = {r["user_id"]: r["spearman_rho"] for r in spearman_trend(df).collect()}
    assert got[1] == 1.0
    assert got[2] == -1.0
    assert 3 not in got, "zero rank variance must be excluded, not NaN"
    # hand value for the tied series: ranks x=(1..8)*2-ish, y avg-ranks
    # (1.5,1.5,3.5,3.5,5.5,5.5,7.5,7.5) -> rho = 12*sum((x-4.5)(y-4.5)) ...
    # computed offline = 0.97590 at 5dp
    assert abs(got[4] - 0.9759) < 1e-3


def test_containment_vs_jaccard_semantics(spark):
    """A short doc quoted verbatim inside a long doc: containment ~1,
    Jaccard far below — the semantic split that justifies the second
    metric."""
    from w4h_integrated_toolkit_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    snippet = " ".join(f"s{i}" for i in range(10))
    filler = " ".join(f"f{i}" for i in range(200))
    docs = spark.createDataFrame(
        [(1, snippet), (2, filler + " " + snippet)],
        "doc_id long, text string",
    )
    cont = ngram_containment_pairs(docs, n=5, threshold=0.8).collect()
    assert len(cont) == 1 and cont[0]["containment"] == 1.0
    jac = ngram_jaccard_pairs(docs, n=5, threshold=0.2).collect()
    assert jac == [], "Jaccard must NOT flag the snippet-inclusion pair"


def test_zorder_key_interleave_and_layout_prunes_both_dims(spark, tmp_path):
    """Bit-exact interleave check (x=10, y=6, 4 bits -> 108), then the
    physical claim on a square 256x256 grid: with file-level min/max
    stats, a point predicate on EITHER dimension skips most z-ordered
    files, while the x-sorted layout can prune only on x — every file
    spans the full y domain. (Area alone is the wrong metric: on a
    skewed-aspect domain a 1-D sort matches z-order's box area while
    still being unprunable on y.)"""
    from w4h_integrated_toolkit_spark.catalog import write_zordered, zorder_key

    df = spark.createDataFrame([(10, 6)], "x long, y long")
    assert df.select(zorder_key(F.col("x"), F.col("y"), 4).alias("z")).head()["z"] == 108

    grid = spark.range(256 * 256).select(
        (F.col("id") % 256).alias("x"), (F.col("id") / 256).cast("long").alias("y")
    )

    def hit_fractions(path):
        files = (
            spark.read.parquet(path)
            .groupBy(F.input_file_name().alias("f"))
            .agg(
                F.min("x").alias("x0"), F.max("x").alias("x1"),
                F.min("y").alias("y0"), F.max("y").alias("y1"),
            )
            .collect()
        )
        assert len(files) > 8, "layout must actually produce multiple files"
        probes = [32, 96, 160, 224]
        fx = sum(
            sum(1 for r in files if r["x0"] <= p <= r["x1"]) for p in probes
        ) / (len(probes) * len(files))
        fy = sum(
            sum(1 for r in files if r["y0"] <= p <= r["y1"]) for p in probes
        ) / (len(probes) * len(files))
        return fx, fy

    zpath = str(tmp_path / "zorder")
    npath = str(tmp_path / "natural")
    write_zordered(grid, zpath, "x", "y", bits=8, n_files=16)
    (
        grid.repartitionByRange(16, "x")
        .sortWithinPartitions("x")
        .write.parquet(npath)
    )
    zfx, zfy = hit_fractions(zpath)
    nfx, nfy = hit_fractions(npath)
    assert nfy > 0.99, f"x-sorted layout should be unprunable on y ({nfy})"
    # z-order: a point predicate on either dimension must skip >=40% of files
    assert zfx <= 0.6 and zfy <= 0.6, (zfx, zfy, nfx, nfy)


def test_zorder_buckets_are_quad_cells(spark):
    """Each coarse z-bucket (top 6 interleaved bits of the 16-bit key)
    fixes the top 3 bits of BOTH cell coordinates — so every bucket's
    bounding box is at most 32 cells wide in each dimension. This is the
    pruning invariant the registry entry's numbers exhibit."""
    from w4h_integrated_toolkit_spark.plans import QUERIES

    fn, _ = QUERIES["zorder_layout"]
    rows = fn(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) >= 8, "grid must spread across multiple buckets"
    for r in rows:
        assert r["max_cx"] - r["min_cx"] < 32, r
        assert r["max_cy"] - r["min_cy"] < 32, r


def test_mad_outliers_hand_model(spark):
    """Known series 1..9 plus a wild 1000: median 5.5, MAD 2.5 (within
    the clean points), and only the wild point exceeds 3 MADs — the
    robustness property (mean±3σ would be dragged by the outlier)."""
    import datetime as _dt

    from w4h_integrated_toolkit_spark.plans.queries import q_mad_outliers

    # hand check via the registry fn requires parquet; model the math
    # directly instead with the same expression pipeline
    vals = [float(v) for v in range(1, 10)] + [1000.0]
    df = spark.createDataFrame(
        [("a", v) for v in vals], "event_type string, value double"
    )
    med = df.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    row = (
        df.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("med").alias("med"),
            F.expr("percentile(abs(value - med), 0.5)").alias("mad"),
        )
        .head()
    )
    assert row["med"] == 5.5 and row["mad"] == 2.5
    n_out = (
        df.join(F.broadcast(med), "event_type")
        .filter(F.abs(F.col("value") - F.col("med")) > 3 * 2.5)
        .count()
    )
    assert n_out == 1


def test_chunk_address_rematerializes_text(spark):
    """The (doc_id, chunk_start, n_chunk_tokens) triple is a real
    address: re-slicing the parent document's tokens at it reproduces
    the exact chunk fingerprint — the contract that lets chunk rows
    travel fingerprint-only."""
    from w4h_integrated_toolkit_spark.functions import portable_hash32
    from w4h_integrated_toolkit_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        [(7, " ".join(f"w{i}" for i in range(100)))], "doc_id long, text string"
    )
    chunks = chunk_documents(docs, chunk_tokens=16, stride=12)
    re_sliced = chunks.join(docs, "doc_id").select(
        "chunk_fp",
        portable_hash32(
            F.array_join(
                F.slice(
                    F.split(F.trim(F.col("text")), r"\s+"),
                    F.col("chunk_start") + 1,
                    F.col("n_chunk_tokens"),
                ),
                " ",
            )
        ).alias("refp"),
    )
    rows = re_sliced.collect()
    assert rows and all(r["chunk_fp"] == r["refp"] for r in rows)


def test_chi2_independence_hand_model(spark, tmp_path):
    """Closed forms: a perfectly independent 2x2 table gives chi2 = 0;
    a perfectly dependent one (diagonal) gives chi2 = N."""
    import shutil

    from w4h_integrated_toolkit_spark.plans.queries import q_chi2_independence

    def run(rows):
        d = str(tmp_path / "ev")
        shutil.rmtree(d, ignore_errors=True)
        spark.createDataFrame(
            rows, "event_type string, value double, ts timestamp, user_id long, event_id long, props string"
        ).write.parquet(d + "/events.parquet")
        return q_chi2_independence(spark, d).head()

    # independent: each type has the same low/high mix (value 10 vs 200)
    ind = []
    for t in ("a", "b"):
        ind += [(t, 10.0, None, 1, 1, "")] * 4 + [(t, 200.0, None, 1, 1, "")] * 4
    r = run(ind)
    assert r["chi2"] == 0.0 and r["dof"] == 1 and r["n_cells"] == 4

    # fully dependent: type determines tier -> chi2 == N (=16 here)
    dep = [("a", 10.0, None, 1, 1, "")] * 8 + [("b", 200.0, None, 1, 1, "")] * 8
    r = run(dep)
    # the empty (a,high)/(b,low) cells MUST contribute their E each —
    # n_cells is the full 2x2 grid, not just observed combos
    assert r["chi2"] == 16.0 and r["dof"] == 1 and r["n_cells"] == 4


def test_wave3_entries_tolerate_empty_tables(spark, tmp_path):
    """Degenerate-input contract: every wave-3 registry entry must run
    (not crash) against schema-correct but EMPTY tables — fresh
    deployments, fully-filtered partitions, and cold ingest directories
    all present exactly this shape. Outputs may be empty or carry
    null/zero audit rows; raising is the only failure."""
    from w4h_integrated_toolkit_spark.catalog import TESTDATA_TABLES
    from w4h_integrated_toolkit_spark.plans import QUERIES

    d = str(tmp_path / "empty_sf")
    for t in TESTDATA_TABLES:
        (
            spark.read.parquet(f"/root/testdata/sf0.001/{t}.parquet")
            .limit(0)
            .write.parquet(f"{d}/{t}.parquet")
        )
    wave3 = [
        "interval_coverage", "cusum_changepoint", "doc_chunks",
        "bloom_decontaminate", "quantized_knn_recall", "spearman_trend",
        "dow_hour_heatmap", "stream_stream_join", "containment_pairs",
        "zorder_layout", "max_concurrency", "mad_outliers",
        "stream_heavy_hitters", "ratio_to_report", "benford_audit",
        "key_skew_report", "seasonal_anomalies", "chi2_independence",
    ]
    for name in wave3:
        fn, _ = QUERIES[name]
        assert fn(spark, d).count() >= 0, name


# ---------------------------------------------------------------------------
# wave 4 (round 7)
# ---------------------------------------------------------------------------


def test_token_entropy_hand_model(spark):
    """Closed form: "a a b" -> n=3, distinct=2, H = log2(3) - (2*1)/3
    (only the c=2 term contributes c*log2(c)); uniform text -> H=log2(n);
    single-token and empty docs behave (empty excluded entirely)."""
    import math

    from w4h_integrated_toolkit_spark.operators.text import token_entropy

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "x y z w"), (3, "same"), (4, "   ")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in token_entropy(df).collect()}
    assert set(got) == {1, 2, 3}
    assert (got[1]["n_tokens"], got[1]["n_distinct_tokens"]) == (3, 2)
    assert abs(got[1]["token_entropy"] - (math.log2(3) - 2.0 / 3)) < 1e-6
    assert abs(got[2]["token_entropy"] - 2.0) < 1e-12  # uniform: log2(4)
    assert got[3]["token_entropy"] == 0.0


def test_weighted_priority_sample_monotone_and_partition_invariant(spark):
    """A row with overwhelming weight is always selected; zero/negative
    weights are excluded; the selected set is identical at 1 and 8
    partitions (priority depends only on (salt, id, weight))."""
    import pytest

    from w4h_integrated_toolkit_spark.operators.etl import (
        weighted_priority_sample,
    )

    rows = [(i, 10) for i in range(50)] + [(99, 10_000_000), (100, 0), (101, -5)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    sel = {r["doc_id"] for r in weighted_priority_sample(df, "w", 10).collect()}
    assert 99 in sel, "heaviest row must win a slot"
    assert 100 not in sel and 101 not in sel
    sel8 = {
        r["doc_id"]
        for r in weighted_priority_sample(df.repartition(8), "w", 10).collect()
    }
    assert sel == sel8
    with pytest.raises(ValueError):
        weighted_priority_sample(df, "w", 0)


def test_debounce_events_burst_hand_model(spark):
    """A 4-event burst 1s apart collapses to its first event; an event
    exactly cooldown after the previous one is KEPT (>= boundary); other
    (user, type) groups are independent."""
    import datetime as dt

    from w4h_integrated_toolkit_spark.operators.etl import debounce_events

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, 1, "click", t0),
        (2, 1, "click", t0 + dt.timedelta(seconds=1)),
        (3, 1, "click", t0 + dt.timedelta(seconds=2)),
        (4, 1, "click", t0 + dt.timedelta(seconds=3)),
        (5, 1, "click", t0 + dt.timedelta(seconds=303)),   # 300s after #4
        (6, 1, "view", t0 + dt.timedelta(seconds=1)),      # other type
        (7, 2, "click", t0 + dt.timedelta(seconds=2)),     # other user
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    kept = {r["event_id"] for r in debounce_events(df, cooldown_seconds=300).collect()}
    assert kept == {1, 5, 6, 7}


def test_blocked_edit_distance_pairs_blocking_and_threshold(spark):
    """Pairs form only within a block (same last token); the distance
    threshold filters; duplicates of the same name never self-pair."""
    from w4h_integrated_toolkit_spark.operators.etl import (
        blocked_edit_distance_pairs,
    )

    df = spark.createDataFrame(
        [
            (1, "red bolt"),
            (2, "red bolt"),       # duplicate name: one distinct node
            (3, "old bolt"),       # lev("red bolt","old bolt")=2 <= 2
            (4, "red gear"),       # different block: never compared
            (5, "crimson bolt"),   # lev to "red bolt" = 6 > 2
        ],
        "id long, nm string",
    )
    got = {
        (r["name_a"], r["name_b"]): r["edit_dist"]
        for r in blocked_edit_distance_pairs(df, "nm", max_dist=2).collect()
    }
    assert got == {("old bolt", "red bolt"): 2}


def test_ewma_smooth_hand_model_and_null_renormalization(spark):
    """Closed form at horizon 2: first row -> x1 (weights renormalize),
    second -> (x2*0.5 + x1*0.25)/0.75; a NULL current value yields the
    lagged contribution only."""
    import datetime as dt

    from w4h_integrated_toolkit_spark.operators.timeseries import ewma_smooth

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 1, 8.0),
        (1, t0 + dt.timedelta(minutes=1), 2, 4.0),
        (1, t0 + dt.timedelta(minutes=2), 3, None),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, value double"
    )
    got = {r["event_id"]: r["ewma"] for r in ewma_smooth(df, horizon=2).collect()}
    assert got[1] == 8.0
    assert abs(got[2] - (4.0 * 0.5 + 8.0 * 0.25) / 0.75) < 1e-12
    assert abs(got[3] - 4.0) < 1e-12  # only lag-1 weight present
    import pytest

    with pytest.raises(ValueError):
        ewma_smooth(df, horizon=0)


def test_pagerank_fixed_point_two_node_closed_form(spark):
    """2-node cycle a->b, b->a, 1 iteration from uniform start: each node
    receives exactly its teleport + 85% of the other's full rank (single
    out-edge). Integer model computed by hand at scale 1e12."""
    from w4h_integrated_toolkit_spark.operators.graph import (
        pagerank_fixed_point,
    )

    e = spark.createDataFrame(
        [("a", "b", 1), ("b", "a", 1)], "src string, dst string, weight long"
    )
    got = {r["node"]: r["rank_fp"] for r in pagerank_fixed_point(e, iterations=1).collect()}
    scale = 10**12
    tele = (15 * scale // 100) // 2
    r0 = scale // 2
    expected = tele + (85 * (r0 * 1 // 1)) // 100
    assert got == {"a": expected, "b": expected}
    # 3 iterations conserve the <= scale bound (mass never grows)
    got3 = {r["node"]: r["rank_fp"] for r in pagerank_fixed_point(e, iterations=3).collect()}
    assert all(0 < v <= scale for v in got3.values())


def test_pagerank_rejects_overflowing_weights(spark):
    import pytest

    from w4h_integrated_toolkit_spark.operators.graph import (
        pagerank_fixed_point,
    )

    e = spark.createDataFrame(
        [("a", "b", 2**62), ("b", "a", 1)], "src string, dst string, weight long"
    )
    with pytest.raises(Exception) as ei:
        pagerank_fixed_point(e, iterations=1).collect()
    assert "overflow" in str(ei.value)


def test_pagerank_node_set_guard_raises_never_drops(spark):
    """Pins the invariant the r16 node-set optimization rests on (r16
    verdict watch item #4): for iterations > 1 the node set derives from
    the CHECKPOINTED edge aggregate, which is only sound because the
    weight guard RAISES on a would-be-excluded row — if the guard ever
    silently dropped it instead, a node reachable only through that edge
    would vanish from the node set with no error anywhere. Two pins:
    (a) an over-bound edge raises on the multi-iteration path too (the
    eager checkpoint inside the builder must not swallow it), and (b) on
    a frame where one node appears ONLY as the dst of a single edge,
    the iterations=1 (raw-edge) and iterations=3 (checkpointed) node
    sets are identical."""
    import pytest

    from w4h_integrated_toolkit_spark.operators.graph import (
        pagerank_fixed_point,
    )

    bad = spark.createDataFrame(
        [("a", "b", 2**62), ("b", "a", 1)],
        "src string, dst string, weight long",
    )
    with pytest.raises(Exception) as ei:
        # iterations > 1 takes the checkpointed-edge node-set path; the
        # eager localCheckpoint executes the guard during CONSTRUCTION,
        # so the raise may surface from the builder call itself
        pagerank_fixed_point(bad, iterations=3).collect()
    assert "overflow" in str(ei.value)

    # "leaf" appears only as a dst — dropping its edge would remove it
    ok = spark.createDataFrame(
        [("a", "b", 3), ("b", "a", 2), ("a", "leaf", 1)],
        "src string, dst string, weight long",
    )
    nodes1 = {r["node"] for r in pagerank_fixed_point(ok, iterations=1).collect()}
    nodes3 = {r["node"] for r in pagerank_fixed_point(ok, iterations=3).collect()}
    assert nodes1 == nodes3 == {"a", "b", "leaf"}


def test_grid_density_hand_model(spark):
    """Cells bucket by floor(coord/cell); ranking is count-desc with
    deterministic tie order; extra aggregates ride the same pass."""
    import pyspark.sql.functions as F

    from w4h_integrated_toolkit_spark.operators.geo import grid_density

    pts = spark.createDataFrame(
        [(5.0, 5.0, 1), (9.9, 3.0, 2), (15.0, 5.0, 1), (-0.1, 0.0, 3)],
        "lon double, lat double, user_id long",
    )
    got = [
        (r["cell_x"], r["cell_y"], r["n_points"], r["n_users"])
        for r in grid_density(
            pts, cell_deg=10.0, k=2,
            extra_aggs={"n_users": F.count_distinct("user_id")},
        ).collect()
    ]
    # cell (0,0) holds 2 points/2 users; (-1,0) and (1,0) hold 1 — tie
    # breaks to the smaller cell_x
    assert got == [(0, 0, 2, 2), (-1, 0, 1, 1)]


# ---------------------------------------------------------------------------
# wave 5 (round 7)
# ---------------------------------------------------------------------------


def test_table_diff_hand_model(spark):
    """added/removed/changed classification with null-safe semantics:
    NULL->value and value->NULL are changes, NULL->NULL is not; unchanged
    keys are absent from the output."""
    from w4h_integrated_toolkit_spark.operators.etl import table_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", None), (3, "c", 30.0), (4, None, 40.0)],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (4, None, 41.0), (5, "e", 50.0)],
        "k long, s string, v double",
    )
    got = {
        r["k"]: (r["change_type"], r["n_changed_cols"], r["changed_cols"])
        for r in table_diff(old, new, ["k"], ["s", "v"]).collect()
    }
    assert got == {
        2: ("changed", 1, "v"),     # NULL -> 20.0 is a change
        3: ("removed", 0, None),
        4: ("changed", 1, "v"),     # s: NULL -> NULL is NOT a change
        5: ("added", 0, None),
    }
    import pytest

    with pytest.raises(ValueError):
        table_diff(old, new, [], ["v"])


def test_table_diff_null_keys(spark):
    """A NULL key component is an ordinary key value: NULL-keyed rows
    match across snapshots (null-safe join) and classify as
    added/removed/changed — never as a phantom 'changed' row with a
    missing side."""
    from w4h_integrated_toolkit_spark.operators.etl import table_diff

    old = spark.createDataFrame(
        [(None, "x", 1.0), (1, "a", 10.0)], "k long, s string, v double"
    )
    # NULL key changed on one column
    new = spark.createDataFrame(
        [(None, "x", 2.0), (1, "a", 10.0)], "k long, s string, v double"
    )
    got = {
        r["k"]: (r["change_type"], r["n_changed_cols"], r["changed_cols"])
        for r in table_diff(old, new, ["k"], ["s", "v"]).collect()
    }
    assert got == {None: ("changed", 1, "v")}

    # NULL key present only in old -> removed (not 'changed')
    new2 = spark.createDataFrame([(1, "a", 10.0)], "k long, s string, v double")
    got2 = {
        r["k"]: (r["change_type"], r["n_changed_cols"])
        for r in table_diff(old, new2, ["k"], ["s", "v"]).collect()
    }
    assert got2 == {None: ("removed", 0)}

    # NULL key present only in new -> added
    got3 = {
        r["k"]: (r["change_type"], r["n_changed_cols"])
        for r in table_diff(new2, old, ["k"], ["s", "v"]).collect()
    }
    assert got3 == {None: ("added", 0)}


def test_scd2_intervals_hand_model(spark):
    """Consecutive same values collapse into one version; a change opens
    a new interval starting at the changing event; the last version is
    open (NULL valid_to); A->B->A yields three versions."""
    import datetime as dt

    from w4h_integrated_toolkit_spark.operators.etl import scd2_intervals

    t0 = dt.datetime(2024, 1, 1)
    us = lambda m: int((t0 + dt.timedelta(minutes=m)).replace(
        tzinfo=dt.timezone.utc).timestamp() * 1e6)
    rows = [
        (1, t0, 1, "A"),
        (1, t0 + dt.timedelta(minutes=1), 2, "A"),
        (1, t0 + dt.timedelta(minutes=2), 3, "B"),
        (1, t0 + dt.timedelta(minutes=3), 4, "A"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, status string"
    )
    got = sorted(
        (r["version"], r["status"], r["valid_from_us"], r["valid_to_us"])
        for r in scd2_intervals(df, "user_id", "status").collect()
    )
    assert got == [
        (1, "A", us(0), us(2)),
        (2, "B", us(2), us(3)),
        (3, "A", us(3), None),
    ]


def test_golden_record_election_deterministic(spark):
    """Highest rank column wins; rank ties break to LOWEST id; cluster
    stats cover all members."""
    from w4h_integrated_toolkit_spark.operators.dedup import golden_record

    df = spark.createDataFrame(
        [
            (1, "same text", 10),
            (2, "same text", 30),
            (3, "same text", 30),   # ties doc 2 on n_chars -> 2 wins (lower id)
            (4, "other", 5),
        ],
        "doc_id long, text string, n_chars long",
    )
    got = {
        r["golden_id"]: (r["n_members"], r["min_id"], r["max_id"], r["n_chars"])
        for r in golden_record(df).collect()
    }
    assert got == {2: (3, 1, 3, 30), 4: (1, 4, 4, 5)}


def test_golden_record_null_text_singletons(spark):
    """Rows with NULL text never cluster together: each passes through as
    its own singleton (content_key NULL, n_members 1) instead of one
    being elected golden over unrelated contentless documents."""
    from w4h_integrated_toolkit_spark.operators.dedup import golden_record

    df = spark.createDataFrame(
        [
            (1, None, 0),
            (2, None, 0),
            (3, "real", 4),
            (4, "real", 4),
        ],
        "doc_id long, text string, n_chars long",
    )
    rows = golden_record(df).collect()
    got = {
        r["golden_id"]: (r["content_key"], r["n_members"]) for r in rows
    }
    assert set(got) == {1, 2, 3}
    assert got[1] == (None, 1)
    assert got[2] == (None, 1)
    assert got[3][1] == 2          # the real duplicates still cluster


def test_pmi_pairs_hand_model(spark):
    """Tokens always co-occurring get PMI = log2(N/df) relative to their
    marginals; pair generation is bounded to the vocabulary and a < b."""
    import math

    from w4h_integrated_toolkit_spark.operators.ranking import pmi_pairs

    # x and y co-occur in all 4 docs; z appears alone in 2 of 8 docs
    docs = [(i, "x y") for i in range(4)] + [(i + 4, "z") for i in range(2)]
    docs += [(6, "x q1 q2"), (7, "y q3 q4")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["a"], r["b"]): (r["d_ab"], r["d_a"], r["d_b"], r["pmi"])
        for r in pmi_pairs(df, vocab_size=4, min_cooc=2, k=10).collect()
    }
    d_ab, d_a, d_b, pmi = got[("x", "y")]
    assert (d_ab, d_a, d_b) == (4, 5, 5)
    assert abs(pmi - (math.log2(4) + math.log2(8) - 2 * math.log2(5))) < 1e-9
    assert all(a < b for (a, b) in got)


def test_kmeans_iteration_hand_model(spark):
    """Two well-separated 1-D-ish clusters: vectors assign to the nearby
    seed, updated centroid = floor mean of member components (including
    the seed itself); negative component floors toward -inf."""
    from w4h_integrated_toolkit_spark.operators.similarity import (
        kmeans_iteration,
    )

    vecs = spark.createDataFrame(
        [
            (0, [0.0, 0.0]),
            (1, [10.0, 10.0]),
            (2, [0.1, -0.1]),     # -> centroid 0
            (3, [9.9, 10.1]),     # -> centroid 1
        ],
        "vec_id long, embedding array<float>",
    )
    seeds = vecs.filter("vec_id < 2")
    got = {
        (r["centroid_id"], r["dim"]): (r["q_value"], r["n_members"])
        for r in kmeans_iteration(vecs, seeds).collect()
    }
    # cluster 0: members {0, 2}; dim0 mean = (0 + 100000)/2, dim1 =
    # (0 - 100000)/2 = -50000 exactly
    assert got[(0, 0)] == (50000, 2)
    assert got[(0, 1)] == (-50000, 2)
    # cluster 1: members {1, 3}; dim0 = (10000000 + 9900000)/2
    assert got[(1, 0)] == (9950000, 2)
    assert got[(1, 1)] == (10050000, 2)


def test_kmeans_iteration_floor_division_negative(spark):
    """Floor (not truncate-toward-zero) on a negative odd sum: members
    -1.0 and -2.0 within one cluster -> mean q = floor(-3e6/2) = -1500000
    exactly; with a truncating DIV it would be -1500000 too — use a sum
    that is odd in quantized space to expose the difference."""
    from w4h_integrated_toolkit_spark.operators.similarity import (
        kmeans_iteration,
    )

    vecs = spark.createDataFrame(
        [(0, [-1.0]), (1, [-2.000001])],
        "vec_id long, embedding array<float>",
    )
    seeds = vecs.filter("vec_id < 1")
    got = {
        (r["centroid_id"], r["dim"]): r["q_value"]
        for r in kmeans_iteration(vecs, seeds).collect()
    }
    # sum = -(1000000 + 2000001) = -3000001; floor(-3000001/2) = -1500001
    assert got[(0, 0)] == -1500001


def test_kmeans_fit_one_iteration_equals_single_step(spark):
    """kmeans_fit(iterations=1) with k lowest-id seeds reproduces
    kmeans_iteration over the same seeds cell-for-cell — the fit loop
    adds chaining, not new single-step arithmetic."""
    from w4h_integrated_toolkit_spark.operators.similarity import (
        kmeans_fit,
        kmeans_iteration,
    )

    vecs = spark.createDataFrame(
        [(i, [float(i % 5), float((i * 3) % 7) - 3.0]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    step = sorted(
        map(tuple, kmeans_iteration(vecs, vecs.filter("vec_id < 3")).collect())
    )
    fit = sorted(map(tuple, kmeans_fit(vecs, k=3, iterations=1).collect()))
    assert fit == step


def test_kmeans_fit_early_stop_preserves_fixed_iteration_result(spark):
    """Lloyd at a fixed point is a no-op, so early_stop=True must give
    the identical cells as running every iteration — on a dataset that
    converges after the first step (two tight separated clusters)."""
    from w4h_integrated_toolkit_spark.operators.similarity import kmeans_fit

    vecs = spark.createDataFrame(
        [
            (0, [0.0, 0.0]),
            (1, [10.0, 10.0]),
            (2, [0.1, -0.1]),
            (3, [9.9, 10.1]),
        ],
        "vec_id long, embedding array<float>",
    )
    full = sorted(
        map(tuple, kmeans_fit(vecs, k=2, iterations=6, early_stop=False).collect())
    )
    stopped = sorted(
        map(tuple, kmeans_fit(vecs, k=2, iterations=6, early_stop=True).collect())
    )
    assert stopped == full


def test_kmeans_fit_warm_start_continuation_law(spark, tmp_path):
    """Warm-start is exact continuation: kmeans_fit(init=fit(n), m more
    iterations) equals fit(n+m) integer-for-integer — each iteration is
    a pure function of the previous cells, so seeding from them resumes
    the identical trajectory. Also pinned THROUGH the model store (the
    production refit loop: publish → load → continue), and the
    missing-column guard raises."""
    import pytest as _pytest

    from w4h_integrated_toolkit_spark.operators.similarity import kmeans_fit
    from w4h_integrated_toolkit_spark.sources.models import load_model, save_model

    vecs = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 11) / 3.0 for j in range(3)]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    two = kmeans_fit(vecs, k=4, iterations=2, early_stop=False)
    resumed = kmeans_fit(vecs, iterations=1, early_stop=False, init=two)
    three = kmeans_fit(vecs, k=4, iterations=3, early_stop=False)
    assert sorted(map(tuple, resumed.collect())) == sorted(
        map(tuple, three.collect())
    )

    # through the store: yesterday's published fit continues today
    t = str(tmp_path / "warm")
    save_model(spark, t, two, {"k": 4, "iterations": 2})
    loaded, _ = load_model(spark, t, expect_params={"k": 4})
    via_store = kmeans_fit(vecs, iterations=1, early_stop=False, init=loaded)
    assert sorted(map(tuple, via_store.collect())) == sorted(
        map(tuple, three.collect())
    )

    with _pytest.raises(ValueError, match="centroid-cell column"):
        kmeans_fit(vecs, init=two.drop("q_value"))

    # k conflicting with init's centroid count raises (fail-loud, like
    # load_model's expect_params); a MATCHING explicit k is accepted
    with _pytest.raises(ValueError, match="conflicts with init"):
        kmeans_fit(vecs, k=8, iterations=1, init=two)
    ok = kmeans_fit(vecs, k=4, iterations=1, early_stop=False, init=two)
    assert sorted(map(tuple, ok.collect())) == sorted(
        map(tuple, three.collect())
    )


def test_kmeans_fit_drops_empty_clusters(spark):
    """Duplicate seed vectors: the distance-0 tie breaks to the lowest
    centroid id, so the higher duplicate seed attracts no members and is
    DROPPED (documented k-may-shrink policy) — k=3 with two identical
    seeds yields 2 surviving centroids."""
    from w4h_integrated_toolkit_spark.operators.similarity import kmeans_fit

    vecs = spark.createDataFrame(
        [
            (0, [0.0, 0.0]),
            (1, [0.0, 0.0]),     # identical to seed 0 -> starves
            (2, [10.0, 10.0]),
            (3, [10.1, 9.9]),
        ],
        "vec_id long, embedding array<float>",
    )
    cells = kmeans_fit(vecs, k=3, iterations=2).collect()
    assert {r["centroid_id"] for r in cells} == {0, 2}
    got = {(r["centroid_id"], r["dim"]): r["n_members"] for r in cells}
    assert got[(0, 0)] == 2 and got[(2, 0)] == 2


def test_ivf_with_kmeans_centroids_full_probe_equals_exact(spark):
    """IVF seeded from REAL kmeans_fit centroids (via centroid_arrays):
    probing every cell (nprobe >= k_cells) makes the candidate set the
    whole corpus, so ranked neighbors must equal exact cosine_topk."""
    from w4h_integrated_toolkit_spark.operators.similarity import (
        centroid_arrays,
        cosine_topk,
        ivf_topk,
        kmeans_fit,
    )

    vecs = spark.createDataFrame(
        [
            (i, [math.cos(i * 0.7) + 2.0, math.sin(i * 1.3) + 2.0, 0.5 * (i % 3)])
            for i in range(24)
        ],
        "vec_id long, embedding array<float>",
    )
    cents = centroid_arrays(kmeans_fit(vecs, k=4, iterations=2))
    queries = vecs.filter("vec_id < 3")
    got = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in ivf_topk(
            vecs, queries, k=3, nprobe=4, centroids=cents
        ).collect()
    )
    exact = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in cosine_topk(vecs, queries, k=3).collect()
    )
    assert got == exact


# ---------------------------------------------------------------------------
# wave 7 (round 8)
# ---------------------------------------------------------------------------


def test_embedding_gram_hand_model(spark):
    """2-vector, 3-dim hand model: G = q1 q1ᵀ + q2 q2ᵀ exactly, upper
    triangle only, invariant under repartitioning (integer partials
    merge associatively)."""
    from w4h_integrated_toolkit_spark.operators.linalg import embedding_gram

    df = spark.createDataFrame(
        [(1, [1.0, -2.0, 0.5]), (2, [0.0, 3.0, -1.0])],
        "vec_id long, embedding array<double>",
    )
    s = 10**6
    q1 = [1 * s, -2 * s, s // 2]
    q2 = [0, 3 * s, -1 * s]
    expected = {
        (i, j): q1[i] * q1[j] + q2[i] * q2[j]
        for i in range(3)
        for j in range(3)
        if i <= j
    }
    for parts in (1, 7):
        got = {
            (r["i"], r["j"]): r["g"]
            for r in embedding_gram(df.repartition(parts)).collect()
        }
        assert got == expected


def test_embedding_dim_stats_negative_floor(spark):
    """mean_q floors toward -inf for negative sums (−3/2 → −2, not −1);
    min/max/sum are the exact quantized integers."""
    from w4h_integrated_toolkit_spark.operators.linalg import (
        embedding_dim_stats,
    )

    df = spark.createDataFrame(
        [(1, [-1.0, 2.0]), (2, [-2.0, 3.0])],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["dim"]: (r["n"], r["min_q"], r["max_q"], r["sum_q"], r["mean_q"])
        for r in embedding_dim_stats(df, scale=1).collect()
    }
    assert got == {
        0: (2, -2, -1, -3, -2),   # -3 DIV 2 floors to -2
        1: (2, 2, 3, 5, 2),
    }


def test_feature_hashing_matches_python_replica(spark):
    """Bucket assignment equals the portable MD5 hash family computed in
    pure Python; per-(doc, bucket) counts aggregate token multiplicity."""
    import hashlib

    from w4h_integrated_toolkit_spark.operators.text import feature_hashing

    def bucket(tok, n=8):
        h = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % 2147483647
        return h % n

    docs = [(1, "a b a"), (2, "b  c")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    expected = {}
    for did, text in docs:
        for t in text.lower().split():
            k = (did, bucket(t))
            expected[k] = expected.get(k, 0) + 1
    got = {
        (r["doc_id"], r["bucket"]): r["cnt"]
        for r in feature_hashing(df, n_buckets=8).collect()
    }
    assert got == expected

    import pytest

    with pytest.raises(ValueError):
        feature_hashing(df, n_buckets=0)


def test_bigram_nll_hand_model(spark):
    """Tiny corpus where the bigram model is computable by hand: scores
    match the add-one-smoothed P(b|a) = (c(a,b)+1)/(c(a·)+V) fold to the
    rounding convention; sub-2-token docs are absent."""
    import math

    from w4h_integrated_toolkit_spark.operators.ranking import bigram_nll

    # bigrams: d1: (x,y), (y,x); d2: (x,y); d3 has none
    df = spark.createDataFrame(
        [(1, "x y x"), (2, "x y"), (3, "z")], "doc_id long, text string"
    )
    # c(x,y)=2, c(y,x)=1; c(x·)=2, c(y·)=1; V = |{x,y,z}| = 3
    def lnp(cab, ca):
        return round(math.log((cab + 1) / (ca + 3)) * 1e9)

    s1 = lnp(2, 2) + lnp(1, 1)          # doc1: one (x,y) + one (y,x)
    s2 = lnp(2, 2)                      # doc2: one (x,y)
    exp = {
        1: (2, round(-s1 / 1e9 / 2 * 1e6) / 1e6),
        2: (1, round(-s2 / 1e9 / 1 * 1e6) / 1e6),
    }
    got = {
        r["doc_id"]: (r["n_bigrams"], r["nll"])
        for r in bigram_nll(df).collect()
    }
    assert got == exp


def test_vocab_oov_rate_hand_model(spark):
    """Top-k vocab is (count DESC, token ASC) deterministic; OOV ppm is
    exact integer math; ties at the k-th slot resolve alphabetically."""
    from w4h_integrated_toolkit_spark.operators.ranking import vocab_oov_rate

    df = spark.createDataFrame(
        [
            (1, "a a a b b c", "s1"),
            (2, "a b z", "s2"),
        ],
        "doc_id long, text string, source string",
    )
    # counts: a=4, b=3, c=1, z=1 -> vocab_k=3 keeps a, b, c (tie c<z)
    got = {
        r["source"]: (r["n_tokens"], r["n_oov"], r["oov_ppm"])
        for r in vocab_oov_rate(df, vocab_k=3).collect()
    }
    assert got == {
        "s1": (6, 0, 0),
        "s2": (3, 1, 333333),
    }

    import pytest

    with pytest.raises(ValueError):
        vocab_oov_rate(df, vocab_k=0)


def test_rolling_median_hand_model(spark):
    """Discrete lower median over the trailing-k window; NULL samples
    shrink the window; k guard enforced."""
    import pytest

    from w4h_integrated_toolkit_spark.operators.timeseries import (
        rolling_median,
    )

    rows = [
        (1, 1, "2024-01-01 00:00:01", 5.0),
        (1, 2, "2024-01-01 00:00:02", 1.0),
        (1, 3, "2024-01-01 00:00:03", None),
        (1, 4, "2024-01-01 00:00:04", 9.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts_s string, value double"
    ).select("user_id", "event_id", F.col("ts_s").cast("timestamp").alias("ts"), "value")
    got = {
        r["event_id"]: (r["n_in_window"], r["median_us"])
        for r in rolling_median(df, k=3).collect()
    }
    assert got == {
        1: (1, 5_000_000),
        2: (2, 1_000_000),          # lower median of {1, 5}
        3: (2, 1_000_000),          # NULL drops out, window = {5, 1}
        4: (2, 1_000_000),          # window rows 2..4 -> {1, 9}
    }

    with pytest.raises(ValueError):
        rolling_median(df, k=0)


def test_autocorrelation_closed_forms(spark):
    """Closed-form ACF checks: a linear ramp has r = 1 at every lag; a
    perfect alternation has r = -1 at lag 1 and +1 at lag 2; degenerate
    windows (zero variance, < 2 pairs) emit NULL."""
    import pytest

    from w4h_integrated_toolkit_spark.operators.timeseries import (
        autocorrelation,
    )

    ramp = [("r", i, i * 10) for i in range(8)]
    alt = [("a", i, 5 if i % 2 == 0 else -5) for i in range(8)]
    flat = [("f", i, 3) for i in range(8)]
    short = [("s", 0, 1), ("s", 1, 2)]
    df = spark.createDataFrame(
        ramp + alt + flat + short, "event_type string, m long, x long"
    )
    got = {
        (r["event_type"], r["lag"]): (r["n_pairs"], r["acf"])
        for r in autocorrelation(df, lags=(1, 2)).collect()
    }
    assert got[("r", 1)] == (7, 1.0)
    assert got[("r", 2)] == (6, 1.0)
    assert got[("a", 1)] == (7, -1.0)
    assert got[("a", 2)] == (6, 1.0)
    assert got[("f", 1)][1] is None          # zero variance
    assert got[("s", 1)][0] == 1 and got[("s", 1)][1] is None  # 1 pair

    with pytest.raises(ValueError):
        autocorrelation(df, lags=())
    with pytest.raises(ValueError):
        autocorrelation(df, lags=(0,))


def test_kfold_assignment_stable_and_bounded(spark):
    """Folds are in [0, k); the assignment of an id never changes when
    other rows are added (hash membership, not position); k guard."""
    import pytest

    from w4h_integrated_toolkit_spark.operators.etl import kfold_assignment

    df = spark.createDataFrame([(i,) for i in range(50)], "doc_id long")
    f1 = {r["doc_id"]: r["fold"] for r in kfold_assignment(df, k=5).collect()}
    assert all(0 <= v < 5 for v in f1.values())
    assert len(set(f1.values())) > 1          # not degenerate

    bigger = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    f2 = {r["doc_id"]: r["fold"] for r in kfold_assignment(bigger, k=5).collect()}
    assert all(f2[i] == f1[i] for i in f1)    # growth never moves old rows

    # a different salt draws an independent assignment
    f3 = {
        r["doc_id"]: r["fold"]
        for r in kfold_assignment(df, k=5, salt="other").collect()
    }
    assert f3 != f1

    with pytest.raises(ValueError):
        kfold_assignment(df, k=1)


def test_quality_top_p_keeps_half_the_mass(spark):
    """The kept set per source is the minimal quality-desc prefix holding
    >= half the total quality mass; kept_mass_ppm reflects it."""
    import tempfile

    from w4h_integrated_toolkit_spark.plans.queries import q_quality_top_p

    # one source; qualities engineered via text lengths are awkward — use
    # the real op end-to-end on a tiny corpus and check the invariant
    docs = [
        (i, ("the and of to is " * (i + 1)).strip(), "en", "s0", 1)
        for i in range(4)
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory(prefix="w4h_topp_") as d:
        df.write.parquet(f"{d}/documents.parquet")
        rows = q_quality_top_p(spark, d).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_docs"] == 4
    assert 1 <= r["n_kept"] <= 4
    assert r["kept_mass_ppm"] >= 500_000      # at least half the mass kept


def test_quality_score_single_projection_no_join(spark):
    """r16 optimization pin: quality_score is ONE map-side projection —
    no join, no exchange, single scan of the input — and keep= carries
    input columns through unchanged. The score arithmetic itself is
    oracle-gated (quality_score parity); this pins the plan shape and
    the passthrough contract."""
    from w4h_integrated_toolkit_spark.operators.text import quality_score

    df = spark.createDataFrame(
        [(1, "the and of to is fine text here", "en", "s0"),
         (2, "zz qq", "und", "s1")],
        "doc_id long, text string, lang string, source string",
    )
    out = quality_score(df, keep=("lang", "source"))
    assert out.columns == ["doc_id", "lang", "source", "quality"]
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "Join" not in plan and "Exchange" not in plan
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["lang"] == "en" and rows[2]["source"] == "s1"
    # keep= does not perturb the score: same values as the bare call
    bare = {r["doc_id"]: r["quality"] for r in quality_score(df).collect()}
    assert all(rows[i]["quality"] == bare[i] for i in bare)


def test_dedup_keep_best_join_then_score_shape(spark):
    """r16 optimization pin: dedup_keep_best scores AFTER the broadcast
    component join (quality arithmetic over cluster members only), on
    the narrow table read. Executed-plan shape: ONE parquet scan, a
    BroadcastHashJoin, no SortMergeJoin, and no corpus-wide round-robin
    exchange below the join. Values are oracle-gated (dedup_keep_best
    parity); equivalence with score-then-join additionally holds because
    quality depends only on the row's text and the join is inner.

    DRIVER-PATH DEPENDENCY (r16 ADVICE): these shape assertions hold
    only because connected_components takes the driver union-find path
    at this fixture size (pairs <= driver_threshold=100k) and returns a
    lineage-truncated local relation it hints for broadcast. A
    larger fixture would flip to the distributed path, re-introduce the
    widened corpus scan under the (now un-hinted) join, and fail this
    test WITHOUT any code regression — the pair-count assertion below
    makes that failure mode self-explanatory instead of mysterious."""
    from tests.conftest import SF_DIR
    from w4h_integrated_toolkit_spark.operators import dedup as D
    from w4h_integrated_toolkit_spark.plans.queries import _tw, q_dedup_keep_best

    n_pairs = D.minhash_lsh_pairs(
        _tw(spark, SF_DIR, "documents"), n=3, num_perm=8, bands=4,
        threshold=0.5,
    ).count()
    assert n_pairs <= 100_000, (
        f"fixture grew past driver_threshold ({n_pairs} pairs): "
        "connected_components now takes the distributed path and the "
        "single-scan/broadcast shape pins below no longer apply"
    )

    out = q_dedup_keep_best(spark, SF_DIR)
    out.write.format("noop").mode("overwrite").save()
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    import re

    # formatted explain prints each node twice (tree line + detail
    # header); count the "(N) Scan parquet" detail headers
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "RoundRobinPartitioning" not in plan


def test_basket_affinity_hand_model(spark):
    """Closed-form lift on 3 hand baskets: always-together pair has
    lift = N/(s_a·s_b)·s_ab computed exactly; never-together pairs are
    absent (support 0 rows are not emitted)."""
    import datetime as dt
    import tempfile

    from w4h_integrated_toolkit_spark.plans.queries import q_basket_affinity

    d0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # basket (u1, day0): {x, y}; (u2, day0): {x, y}; (u3, day0): {x, z}
    for u, types in ((1, ["x", "y"]), (2, ["x", "y"]), (3, ["x", "z"])):
        for t in types:
            rows.append((eid, d0, u, t, 1.0, "{}"))
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    with tempfile.TemporaryDirectory(prefix="w4h_basket_") as d:
        df.write.parquet(f"{d}/events.parquet")
        got = {
            (r["type_a"], r["type_b"]): (r["support"], r["lift"])
            for r in q_basket_affinity(spark, d).collect()
        }
    # N=3 baskets; s_x=3, s_y=2, s_z=1; s_xy=2, s_xz=1; (y,z) never co-occur
    assert got == {
        ("x", "y"): (2, round(2 * 3 / (3 * 2), 6)),
        ("x", "z"): (1, round(1 * 3 / (3 * 1), 6)),
    }


def test_shrunk_group_means_pulls_small_groups(spark):
    """m-estimate contract: a 1-row outlier group shrinks almost to the
    global mean; a large group barely moves; exact integer floor math."""
    import datetime as dt
    import tempfile

    from w4h_integrated_toolkit_spark.plans.queries import q_shrunk_group_means

    d0 = dt.datetime(2024, 1, 1)
    rows = [(i, d0, 1, "big", 10.0, "{}") for i in range(1000)]
    rows.append((1000, d0, 1, "tiny", 1000.0, "{}"))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    with tempfile.TemporaryDirectory(prefix="w4h_shrink_") as d:
        df.write.parquet(f"{d}/events.parquet")
        got = {
            r["event_type"]: (r["n"], r["raw_mean_us"], r["shrunk_mean_us"])
            for r in q_shrunk_group_means(spark, d).collect()
        }
    g = (1000 * 10_000_000 + 1_000_000_000) // 1001     # global floor mean
    assert got["big"][1] == 10_000_000
    assert got["tiny"][1] == 1_000_000_000
    assert got["tiny"][2] == (1_000_000_000 + 100 * g) // 101
    assert got["big"][2] == (1000 * 10_000_000 + 100 * g) // 1100
    # the tiny group moved nearly to g; the big one stayed near its raw mean
    assert abs(got["tiny"][2] - g) < abs(got["tiny"][1] - g) // 10
    assert abs(got["big"][2] - got["big"][1]) < 2_000_000


def test_merge_agg_state_fold_order_invariant(spark):
    """The IVM contract: folding increments in any order/batching yields
    the identical state, equal to the one-shot aggregate."""
    from w4h_integrated_toolkit_spark.operators.etl import (
        agg_state_from_batch,
        merge_agg_state,
    )

    import pytest

    df = spark.createDataFrame(
        [(i % 3, float(i)) for i in range(30)], "k long, value double"
    )
    parts = [df.filter(F.col("value") % 4 == i) for i in range(4)]

    def fold(order):
        state = None
        for p_ in order:
            state = merge_agg_state(state, agg_state_from_batch(p_, ["k"], "value"))
        return sorted(
            (r["k"], r["n"], r["sum_us"], r["min_us"], r["max_us"])
            for r in state.collect()
        )

    oneshot = sorted(
        (r["k"], r["n"], r["sum_us"], r["min_us"], r["max_us"])
        for r in agg_state_from_batch(df, ["k"], "value").collect()
    )
    assert fold(parts) == oneshot
    assert fold(parts[::-1]) == oneshot

    with pytest.raises(ValueError):
        agg_state_from_batch(df, [], "value")


def test_merge_agg_state_key_validation(spark):
    """r8 advice: a key column sharing a metric name must raise instead
    of being silently folded as a metric; explicit keys must exactly
    partition the state columns."""
    import pytest

    from w4h_integrated_toolkit_spark.operators.etl import (
        agg_state_from_batch,
        merge_agg_state,
    )

    df = spark.createDataFrame(
        [(i % 3, float(i)) for i in range(12)], "k long, value double"
    )
    s1 = agg_state_from_batch(df.filter(F.col("value") < 6), ["k"], "value")
    s2 = agg_state_from_batch(df.filter(F.col("value") >= 6), ["k"], "value")

    # explicit keys == inference on a well-named state
    explicit = sorted(map(tuple, merge_agg_state(s1, s2, keys=["k"]).collect()))
    inferred = sorted(map(tuple, merge_agg_state(s1, s2).collect()))
    assert explicit == inferred

    # explicit key colliding with a metric field name
    with pytest.raises(ValueError, match="collide with metric"):
        merge_agg_state(s1, s2, keys=["n"])
    # explicit keys not partitioning state.columns
    with pytest.raises(ValueError, match="exactly partition"):
        merge_agg_state(s1, s2, keys=["k", "extra"])
    # state missing a metric column entirely
    with pytest.raises(ValueError, match="missing metric"):
        merge_agg_state(s1.drop("min_us"), s2)
    # increment schema drift
    with pytest.raises(ValueError, match="increment columns"):
        merge_agg_state(s1, s2.withColumnRenamed("k", "kk"))

    # the advice's exact scenario: a grouping column literally named "n".
    # agg_state_from_batch then emits two columns named "n"; inference
    # drops both from the key set and raises instead of producing a
    # wrongly-grouped merge with no error.
    bad = agg_state_from_batch(df.withColumnRenamed("k", "n"), ["n"], "value")
    with pytest.raises(ValueError, match="no grouping keys"):
        merge_agg_state(bad, bad)


def test_embedding_gram_cross_batch_overflow_detected(spark):
    """r8 advice: partials that each pass the per-batch guard but whose
    int64 merge wraps must raise at runtime (double-shadow check), not
    return a silently-wrong Gram. 16 one-row partitions of q=2^30 give
    per-batch partials of 2^60 (< the 2^62 per-batch bound) summing to
    2^64, which wraps to 0 in non-ANSI int64 sum."""
    import pytest

    from w4h_integrated_toolkit_spark.operators.linalg import embedding_gram

    q = float(2**30)
    big = spark.createDataFrame(
        [(i, [q]) for i in range(16)], "vec_id long, embedding array<double>"
    ).repartition(16)
    # under ANSI (this repo's session default) the int64 sum itself
    # raises; the shadow check is the net for non-ANSI deployments
    with pytest.raises(Exception, match="overflowed int64|ARITHMETIC_OVERFLOW"):
        embedding_gram(big, scale=1).collect()
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    try:
        spark.conf.set("spark.sql.ansi.enabled", "false")
        with pytest.raises(Exception, match="overflowed int64"):
            embedding_gram(big, scale=1).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    # same magnitudes at a coarser scale stay exact and in-bound
    ok = embedding_gram(big, scale=1 / 2**15)  # q' = 2^15
    [row] = ok.collect()
    assert (row["i"], row["j"], row["g"]) == (0, 0, 16 * (2**15) ** 2)


def test_embedding_gram_overflow_guard(spark):
    """A batch whose q magnitudes could wrap int64 raises the guard
    instead of silently wrapping (numpy matmul gives no overflow
    signal)."""
    import pytest

    from w4h_integrated_toolkit_spark.operators.linalg import embedding_gram

    big = spark.createDataFrame(
        [(1, [1.0e9, 0.0]), (2, [1.0e9, 0.0])],
        "vec_id long, embedding array<double>",
    )
    # q = 1e15 at the default 1e6 scale; q² · rows >> 2^62
    with pytest.raises(Exception, match="overflow|lower `scale`"):
        embedding_gram(big).collect()
    # the documented escape hatch: coarser scale passes
    assert embedding_gram(big, scale=1).count() == 3


def test_bigram_nll_frozen_model_arm(spark):
    """model_docs freezes the LM: scoring the same docs against
    themselves equals the self-model path bit-for-bit, and scoring new
    docs against a frozen model uses the MODEL's counts (an ingest-only
    bigram is absent — inner model join)."""
    from w4h_integrated_toolkit_spark.operators.ranking import bigram_nll

    corpus = spark.createDataFrame(
        [(1, "x y x"), (2, "x y")], "doc_id long, text string"
    )
    self_scores = sorted(
        (r["doc_id"], r["n_bigrams"], r["nll"])
        for r in bigram_nll(corpus).collect()
    )
    frozen_same = sorted(
        (r["doc_id"], r["n_bigrams"], r["nll"])
        for r in bigram_nll(corpus, model_docs=corpus).collect()
    )
    assert self_scores == frozen_same

    ingest = spark.createDataFrame(
        [(10, "x y q"), (11, "q q")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["n_bigrams"]
        for r in bigram_nll(ingest, model_docs=corpus).collect()
    }
    # doc 10 has bigrams (x,y) [in model] and (y,q) [not]; doc 11's (q,q)
    # is unknown to the model entirely
    assert got == {10: 1}


def test_embedding_ops_skip_null_vectors(spark):
    """NULL vectors and vectors with NULL components are excluded (they
    would crash the int64 matmul / poison the stats), real rows still
    aggregate."""
    from w4h_integrated_toolkit_spark.operators.linalg import (
        embedding_dim_stats,
        embedding_gram,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, None), (3, [None, 4.0])],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r["i"], r["j"]): r["g"] for r in embedding_gram(df, scale=1).collect()
    }
    assert got == {(0, 0): 1, (0, 1): 2, (1, 1): 4}
    stats = {r["dim"]: r["n"] for r in embedding_dim_stats(df, scale=1).collect()}
    assert stats == {0: 1, 1: 1}


def test_classification_metrics_hand_model(spark):
    """Precision/recall/F1 on an engineered 3-doc corpus where the
    language-ID heuristic's behavior is known exactly: English markers
    predict en; marker-free text predicts und."""
    import tempfile

    from w4h_integrated_toolkit_spark.plans.queries import (
        q_classification_metrics,
        q_langid_confusion,
    )

    docs = [
        (1, "the cat and the dog", "en", "s", 1),     # -> en (correct)
        (2, "zzz qqq www", "en", "s", 1),             # -> und (miss)
        (3, "el que la de los", "es", "s", 1),        # -> es (correct)
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory(prefix="w4h_clsmet_") as d:
        df.write.parquet(f"{d}/documents.parquet")
        conf = {
            (r["actual"], r["predicted"]): r["n"]
            for r in q_langid_confusion(spark, d).collect()
        }
        mets = {
            r["cls"]: (
                r["tp"], r["n_actual"], r["n_pred"],
                r["precision_ppm"], r["recall_ppm"], r["f1_ppm"],
            )
            for r in q_classification_metrics(spark, d).collect()
        }
    assert conf == {("en", "en"): 1, ("en", "und"): 1, ("es", "es"): 1}
    # en: TP=1, FN=1 (the und miss), FP=0 -> P=1, R=1/2, F1=2/3
    assert mets["en"] == (1, 2, 1, 1_000_000, 500_000, 666_666)
    # es: perfect
    assert mets["es"] == (1, 1, 1, 1_000_000, 1_000_000, 1_000_000)
    # 'und' is not an ACTUAL class -> absent by contract
    assert "und" not in mets


def test_ewma_backtest_hand_model(spark):
    """One-step-ahead EWMA backtest on a 1-user series with hand-checked
    predictions (pred_t = rounded ewma at t-1)."""
    import datetime as dt
    import math
    import tempfile

    from w4h_integrated_toolkit_spark.plans.queries import q_ewma_backtest

    t0 = dt.datetime(2024, 1, 1)
    vals = [4.0, 8.0, 2.0]
    rows = [
        (i, t0 + dt.timedelta(seconds=i), 1, "t", v, "{}")
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    with tempfile.TemporaryDirectory(prefix="w4h_bt_") as d:
        df.write.parquet(f"{d}/events.parquet")
        r = q_ewma_backtest(spark, d).collect()[0]
    # ewma: t0 -> 4.0; t1 -> (8/2 + 4/4)/(3/4) = 20/3; preds: t1<-4.0, t2<-20/3
    p2 = round(20 / 3 * 1e6) / 1e6
    d1_us, d2_us = round((8.0 - 4.0) * 1e6), round((2.0 - p2) * 1e6)
    d1_ms, d2_ms = round((8.0 - 4.0) * 1e3), round((2.0 - p2) * 1e3)
    assert r["n_forecasts"] == 2
    assert r["mae_us"] == (abs(d1_us) + abs(d2_us)) // 2
    assert r["ssq_ms2"] == d1_ms**2 + d2_ms**2
    assert r["rmse_ms"] == round(
        math.sqrt((d1_ms**2 + d2_ms**2) / 2) * 1e6
    ) / 1e6


def test_scd2_lookup_tie_at_version_boundary(spark):
    """The adversarial instant: two events share the SAME timestamp and
    the second opens a new version. The composite (ts, event_id) order
    must attribute the first to the OLD version and the second to the
    new one — a naive t_us-only range join would put both in the new."""
    import datetime as dt
    import tempfile

    from w4h_integrated_toolkit_spark.plans.queries import q_scd2_lookup

    t0 = dt.datetime(2024, 1, 1)
    t1 = t0 + dt.timedelta(seconds=10)
    rows = [
        (1, t0, 7, "a", 1.0, "{}"),
        (2, t1, 7, "a", 1.0, "{}"),   # same instant as the change below
        (3, t1, 7, "b", 1.0, "{}"),   # opens version 2 AT t1
        (4, t1 + dt.timedelta(seconds=5), 7, "b", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    with tempfile.TemporaryDirectory(prefix="w4h_scd2lk_") as d:
        df.write.parquet(f"{d}/events.parquet")
        got = {
            (r["user_id"], r["version"]): r["n_events"]
            for r in q_scd2_lookup(spark, d).collect()
        }
    assert got == {(7, 1): 2, (7, 2): 2}


def test_ols_trend_slope_closed_forms(spark):
    """A perfect ramp has exactly its slope; a constant series has slope
    0; a single-event user emits NULL."""
    import datetime as dt
    import tempfile

    from w4h_integrated_toolkit_spark.plans.queries import q_ols_trend_slope

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for i in range(5):          # user 1: value = 2.5 * rank
        rows.append((eid, t0 + dt.timedelta(seconds=i), 1, "t", 2.5 * i, "{}"))
        eid += 1
    for i in range(4):          # user 2: constant
        rows.append((eid, t0 + dt.timedelta(seconds=i), 2, "t", 7.0, "{}"))
        eid += 1
    rows.append((eid, t0, 3, "t", 9.0, "{}"))   # user 3: single event
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    with tempfile.TemporaryDirectory(prefix="w4h_ols_") as d:
        df.write.parquet(f"{d}/events.parquet")
        got = {
            r["user_id"]: (r["n"], r["slope_m_per_step"])
            for r in q_ols_trend_slope(spark, d).collect()
        }
    assert got[1] == (5, 2500.0)      # 2.5/step in milli units
    assert got[2] == (4, 0.0)
    assert got[3] == (1, None)


# ---------------------------------------------------------------------------
# wave 13 (round 9): web-corpus URL/domain operators
# ---------------------------------------------------------------------------


def test_url_host_and_registrable_domain_hand_cases(spark):
    """Host extraction strips scheme/userinfo/port/path and lowercases;
    eTLD+1 keeps three labels on multi-part suffixes, two otherwise,
    passes <=2-label hosts through, and NULLs malformed input."""
    from w4h_integrated_toolkit_spark.operators.web import (
        registrable_domain,
        url_host,
    )

    cases = [
        ("https://crawler@WWW3.Example.CO.UK:8443/a/b?q=1#f",
         "www3.example.co.uk", "example.co.uk"),
        ("http://www2.example.com/x", "www2.example.com", "example.com"),
        ("https://example.org", "example.org", "example.org"),
        ("http://a.b.site.com.au:80/", "a.b.site.com.au", "site.com.au"),
        ("not a url", None, None),
        (None, None, None),
    ]
    df = spark.createDataFrame([(u,) for u, _, _ in cases], "url string")
    got = df.select(
        url_host(F.col("url")).alias("h"),
        registrable_domain(url_host(F.col("url"))).alias("d"),
    ).collect()
    for (u, eh, ed), r in zip(cases, got):
        assert (r["h"], r["d"]) == (eh, ed), u


def test_registrable_domain_extra_suffixes(spark):
    """extra_suffixes extends the multi-part set per call."""
    from w4h_integrated_toolkit_spark.operators.web import registrable_domain

    df = spark.createDataFrame([("www.x.web.zz",)], "host string")
    base = df.select(registrable_domain(F.col("host")).alias("d")).first()["d"]
    ext = df.select(
        registrable_domain(F.col("host"), ("web.zz",)).alias("d")
    ).first()["d"]
    assert base == "web.zz"
    assert ext == "x.web.zz"


def test_domain_cap_sample_salted_equals_unsalted(spark):
    """EXACTNESS of the two-stage top-k: any salt bucket count yields the
    identical capped set and ranks as the single-window form; caps are
    respected and order is (quality desc, id asc)."""
    from w4h_integrated_toolkit_spark.operators.web import domain_cap_sample

    rows = [
        (i, f"http://www{i % 3}.dom{i % 4}.com/p", float((i * 7) % 11))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, quality double")
    base = sorted(
        (r["doc_id"], r["domain"], r["domain_rank"])
        for r in domain_cap_sample(
            df, "url", "quality", cap=4, salt_buckets=0
        ).collect()
    )
    assert len(base) == 16          # 4 domains x cap 4
    for s in (1, 3, 8):
        salted = sorted(
            (r["doc_id"], r["domain"], r["domain_rank"])
            for r in domain_cap_sample(
                df, "url", "quality", cap=4, salt_buckets=s
            ).collect()
        )
        assert salted == base, s
    ranks = {}
    for did, dom, rk in base:
        ranks.setdefault(dom, []).append(rk)
    assert all(sorted(v) == [1, 2, 3, 4] for v in ranks.values())


def test_registrable_domain_trailing_root_dot(spark):
    """FQDN trailing root dot is stripped before label splitting (r9
    advice): 'example.com.' yields 'example.com', not 'com.'."""
    from w4h_integrated_toolkit_spark.operators.web import registrable_domain

    cases = [
        ("example.com.", "example.com"),
        ("www.example.co.uk.", "example.co.uk"),
        ("com.", "com"),
        ("example.com", "example.com"),
        # r10 advice: REPEATED trailing dots strip wholesale too —
        # 'example.com..' must not degrade to 'com.'
        ("example.com..", "example.com"),
        ("www.example.co.uk...", "example.co.uk"),
    ]
    df = spark.createDataFrame([(h,) for h, _ in cases], "host string")
    got = df.select(registrable_domain(F.col("host")).alias("d")).collect()
    for (h, want), r in zip(cases, got):
        assert r["d"] == want, h


def test_registrable_domain_psl_equivalence_and_loader(spark):
    """The broadcast-PSL arm reproduces the literal arm EXACTLY when fed
    the same multi-part suffix set (the r9 verdict's equivalence law),
    including trailing-dot, NULL, and <=2-label hosts; longest-match
    beats shorter listed rules; the loader rejects wildcard/exception
    rules and strips comments."""
    import pytest as _pytest

    from w4h_integrated_toolkit_spark.operators.web import (
        MULTI_PART_SUFFIXES,
        load_public_suffixes,
        registrable_domain,
        registrable_domain_psl,
    )

    hosts = [
        "www3.example.co.uk", "www2.example.com", "example.org",
        "a.b.site.com.au", "EXAMPLE.Com.", "co.uk", "x", None,
        "foo.bar.unknowntld", "deep.a.b.c.d.gov.cn", "n.co.nz.",
        "example.com..", "w.example.co.uk...",
    ]
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    lit = df.select(
        "host", registrable_domain(F.col("host")).alias("want")
    )
    got = registrable_domain_psl(df, suffixes=list(MULTI_PART_SUFFIXES))
    joined = {r["host"]: r["domain"] for r in got.collect()}
    for r in lit.collect():
        assert joined[r["host"]] == r["want"], r["host"]

    # longest listed suffix wins over a shorter one covering the same tail
    deep = spark.createDataFrame(
        [("a.schools.nsw.edu.au",), ("b.nsw.edu.au",), ("c.edu.au",)],
        "host string",
    )
    out = {
        r["host"]: r["domain"]
        for r in registrable_domain_psl(
            deep, suffixes=["edu.au", "nsw.edu.au", "schools.nsw.edu.au"]
        ).collect()
    }
    assert out == {
        "a.schools.nsw.edu.au": "a.schools.nsw.edu.au",
        "b.nsw.edu.au": "b.nsw.edu.au",
        "c.edu.au": "c.edu.au",
    }

    # vendored file loads, is multi-part only, and covers the literal set
    loaded = load_public_suffixes()
    assert set(MULTI_PART_SUFFIXES) <= set(loaded)
    assert all("." in s for s in loaded)

    import tempfile

    with tempfile.NamedTemporaryFile("w", suffix=".txt", delete=False) as fh:
        fh.write("// c\n# c2\n\nco.uk\n*.ck\n")
        p = fh.name
    with _pytest.raises(ValueError, match="wildcard"):
        load_public_suffixes(p)

    # r10 advice: an input that already carries a __w4h_psl_* column
    # would be silently clobbered by the join scratch space — raise
    tainted = spark.createDataFrame(
        [("a.example.com", 1)], "host string, __w4h_psl_h int"
    )
    with _pytest.raises(ValueError, match="__w4h_psl_"):
        registrable_domain_psl(tainted, suffixes=list(MULTI_PART_SUFFIXES))


def test_idna_ascii_hosts_known_vectors(spark):
    """IDNA host normalization against published vectors: the RFC 3492
    'bücher' sample, a Japanese IDN, mixed ascii/unicode labels,
    pure-ASCII and already-punycode pass-through (idempotence),
    trailing-dot strip and case fold, NULL/empty/over-long → NULL. The
    chain into registrable_domain_psl consumes the ASCII form (the real
    PSL ships punycode rules)."""
    from w4h_integrated_toolkit_spark.operators.web import (
        _host_to_ascii,
        idna_ascii_hosts,
        registrable_domain_psl,
    )

    cases = [
        ("bücher.example", "xn--bcher-kva.example"),
        ("例え.テスト", "xn--r8jz45g.xn--zckzah"),
        ("www.BÜCHER.example.", "www.xn--bcher-kva.example"),
        ("plain.example.com", "plain.example.com"),
        ("xn--bcher-kva.example", "xn--bcher-kva.example"),  # idempotent
        ("EX.COM", "ex.com"),
        (None, None),
        ("", None),
        ("a" * 64 + ".com", None),  # over-long label
        # every label legal (63 each) but the joined name breaks RFC
        # 1035's 253-octet hostname cap (4×63 + 3 dots = 255)
        (".".join(c * 63 for c in "abcd"), None),
        ("a" * 63 + "." + "b" * 63 + "." + "c" * 63 + "." + "d" * 61,
         "a" * 63 + "." + "b" * 63 + "." + "c" * 63 + "." + "d" * 61),
    ]
    # scalar kernel
    for h, want in cases:
        assert _host_to_ascii(h) == want, h
    # idempotence over the encodable outputs
    for _, want in cases:
        if want is not None:
            assert _host_to_ascii(want) == want

    # Arrow-batched column arm preserves input columns and appends —
    # and the dict (distinct+join) and rowwise strategies agree
    # row-for-row (duplicated hosts included: i % len(cases) repeats
    # each vector, the Zipfian shape the dict pass amortizes)
    df = spark.createDataFrame(
        [(i, cases[i % len(cases)][0]) for i in range(3 * len(cases))],
        "i long, host string",
    )
    for strategy in ("dict", "rowwise"):
        got = {
            r["i"]: r["ascii_host"]
            for r in idna_ascii_hosts(df, strategy=strategy).collect()
        }
        for i in range(3 * len(cases)):
            assert got[i] == cases[i % len(cases)][1], (strategy, i)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="strategy"):
        idna_ascii_hosts(df, strategy="bogus")

    # streaming frames: default resolves to the streaming-legal rowwise
    # kernel (plan builds without error); explicitly requesting the
    # distinct+join dict pass raises HERE, not at query start
    stream = (
        spark.readStream.format("rate")
        .load()
        .select(F.lit("bücher.example").alias("host"))
    )
    assert idna_ascii_hosts(stream).isStreaming
    with _pytest.raises(ValueError, match="streaming"):
        idna_ascii_hosts(stream, strategy="dict")

    # composition: PSL domain logic over the ASCII form
    idn = spark.createDataFrame(
        [("bücher.example.co.uk",), ("www.例え.テスト",)], "host string"
    )
    ascii_df = idna_ascii_hosts(idn).select(
        F.col("ascii_host").alias("host")
    )
    doms = {
        r["host"]: r["domain"]
        for r in registrable_domain_psl(
            ascii_df, suffixes=["co.uk", "xn--r8jz45g.xn--zckzah"]
        ).collect()
    }
    assert doms["xn--bcher-kva.example.co.uk"] == "example.co.uk"
    assert doms["www.xn--r8jz45g.xn--zckzah"] == "www.xn--r8jz45g.xn--zckzah"


def test_canonicalize_url_edge_matrix(spark):
    """canonicalize_url against hand-built URLs: case folding, userinfo
    and fragment drop, default-port strip (scheme-aware), non-default
    port keep, INVALID port → whole-URL NULL (one policy for :0,
    :99999 and :123456 alike), slash collapse + trailing-slash strip,
    empty path → '/', percent-normalization (unreserved octets decode,
    reserved hex uppercases, double-encoding untouched), tracking-param
    strip by NAME (utm_*, gclid, ...; content-bearing 'ref' and
    'refresh' survive), bytewise param sort, emptied query loses its
    '?', trailing host dots strip, NULL and malformed → NULL."""
    from pyspark.sql import functions as F

    from w4h_integrated_toolkit_spark.operators.web import canonicalize_url

    cases = [
        (
            "HTTP://u:p@WWW.Ex.COM:80//a//b/?utm_source=x&b=2&a=1#frag",
            "http://www.ex.com/a/b?a=1&b=2",
        ),
        ("https://ex.com:443/p", "https://ex.com/p"),
        ("http://ex.com:443/p", "http://ex.com:443/p"),  # not http's default
        ("http://ex.com:8443/p?a=1", "http://ex.com:8443/p?a=1"),
        # ports compare and emit NUMERICALLY: ':080' is http's default,
        # ':08080' normalizes to ':8080'
        ("http://ex.com:080/p", "http://ex.com/p"),
        ("http://ex.com:08080/p", "http://ex.com:8080/p"),
        # zero-padding past 5 digits is still the same VALID port — the
        # 0*-strip runs before the significant-digit extract
        ("http://ex.com:000080/p", "http://ex.com/p"),
        ("http://ex.com:0008080/p", "http://ex.com:8080/p"),
        # invalid ports NULL the whole URL — same policy whether the
        # digit run overflows the extract (:123456) or casts out of
        # range (:99999, :0); malformed-port variants never mint or
        # join a canonical key
        ("http://ex.com:99999/p", None),
        ("http://ex.com:123456/p", None),
        ("http://ex.com:0/p", None),
        ("http://ex.com:00000/p", None),  # zero stays port 0 however padded
        ("http://ex.com", "http://ex.com/"),
        ("http://ex.com./x/", "http://ex.com/x"),
        ("http://ex.com/?gclid=z&fbclid=y", "http://ex.com/"),
        # 'refresh' is NOT a tracking name; '_ga' goes; content-bearing
        # bare 'ref' (e.g. ?ref=branch) SURVIVES while ref_src goes
        ("http://ex.com/p?refresh=1&_ga=2.1", "http://ex.com/p?refresh=1"),
        ("http://ex.com/p?ref=main&ref_src=tw", "http://ex.com/p?ref=main"),
        # percent-normalization: %41→'A', %7e→'~' (unreserved decode);
        # %2f stays encoded but uppercases; %2541 is double-encoded and
        # left alone; query octets normalize before the bytewise sort
        ("http://ex.com/%41b/x", "http://ex.com/Ab/x"),
        ("http://ex.com/%7euser", "http://ex.com/~user"),
        ("http://ex.com/a%2fb", "http://ex.com/a%2Fb"),
        ("http://ex.com/%2541", "http://ex.com/%2541"),
        ("http://ex.com/p?a=%3a&b=%42", "http://ex.com/p?a=%3A&b=B"),
        # decoded names feed the tracking filter: utm%5Fsource is
        # utm_source once '_' (%5F, unreserved) decodes
        ("http://ex.com/p?utm%5Fsource=x&a=1", "http://ex.com/p?a=1"),
        # bytewise sort: 'B=1' (0x42) precedes 'a=2' (0x61)
        ("http://ex.com/p?a=2&B=1", "http://ex.com/p?B=1&a=2"),
        ("http://ex.com/p?", "http://ex.com/p"),
        ("not a url", None),
        (None, None),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "i long, u string"
    )
    got = {
        r["i"]: r["c"]
        for r in df.select("i", canonicalize_url(F.col("u")).alias("c")).collect()
    }
    for i, (u, want) in enumerate(cases):
        assert got[i] == want, (u, got[i])


def test_rekey_canonical_urls_v2_to_v3_law(spark):
    """The rekey law: re-canonicalizing a stored v2 key equals fresh v3
    canonicalization of the original raw URL — the v2→v3 break only
    ADDED the non-ASCII percent-encoding pass, so the stored key still
    carries everything v3 needs. v1 (lossy: ref stripped) and unknown
    versions raise; same-version is a no-op passthrough."""
    from w4h_integrated_toolkit_spark.operators.web import (
        CANONICALIZER_VERSION,
        canonicalize_url,
        rekey_canonical_urls,
    )

    # (raw URL, its v2 key — hand-derived: every v3 pass EXCEPT
    # non-ASCII percent-encoding, so raw é/ü survive in a v2 key)
    cases = [
        ("http://Ex.com:80/café/x?b=2&a=1&utm_source=z",
         "http://ex.com/café/x?a=1&b=2"),
        ("https://host.org/straße?q=%61bc",
         "https://host.org/straße?q=abc"),
        # all-ASCII: v2 key == v3 key, rekey must be byte-identical
        ("HTTP://A.com/p%2Fq?x=%7E&fbclid=f",
         "http://a.com/p%2Fq?x=~"),
        ("https://b.net:8443/a//b/", "https://b.net:8443/a/b"),
    ]
    raw = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "i long, u string"
    )
    fresh = {
        r["i"]: r["c"]
        for r in raw.select(
            "i", canonicalize_url(F.col("u")).alias("c")
        ).collect()
    }
    stored = spark.createDataFrame(
        [(i, k) for i, (_, k) in enumerate(cases)],
        "i long, canonical_url string",
    )
    # sanity: the hand-derived v2 keys really are what v2 would emit
    # (fresh v3 differs from them exactly on the non-ASCII rows)
    assert fresh[2] == cases[2][1] and fresh[3] == cases[3][1]
    assert fresh[0] != cases[0][1] and fresh[1] != cases[1][1]

    rekeyed = {
        r["i"]: r["canonical_url"]
        for r in rekey_canonical_urls(stored, stored_version=2).collect()
    }
    assert rekeyed == fresh

    # same-version: identity (same plan object, not just same rows)
    assert rekey_canonical_urls(stored, CANONICALIZER_VERSION) is stored
    with pytest.raises(ValueError, match="lossy"):
        rekey_canonical_urls(stored, stored_version=1)
    with pytest.raises(ValueError, match="unknown"):
        rekey_canonical_urls(stored, stored_version=99)
    with pytest.raises(ValueError, match="not in"):
        rekey_canonical_urls(stored.withColumnRenamed(
            "canonical_url", "k"), stored_version=2)


def test_load_frontier_rekeys_stored_v2_keys(spark, tmp_path, caplog):
    """The frontier LOAD path calls the rekey helper (r14 verdict order
    #6): a parquet frontier stamped canonicalizer_version=2 comes back
    with v3 keys and a refreshed stamp plus one INFO log line; a
    current-version table passes through with keys untouched; a
    mixed-stamp table and a stampless table without stored_version fail
    loud."""
    import logging

    from w4h_integrated_toolkit_spark.operators.web import (
        CANONICALIZER_VERSION,
        canonicalize_url,
        load_frontier,
    )

    raw = "http://Ex.com:80/café/x?b=2&a=1&utm_source=z"
    v2_key = "http://ex.com/café/x?a=1&b=2"
    v3_key = spark.createDataFrame([(raw,)], "u string").select(
        canonicalize_url(F.col("u")).alias("c")
    ).collect()[0]["c"]
    assert v3_key != v2_key  # the non-ASCII row really migrates

    path = str(tmp_path / "frontier_v2")
    spark.createDataFrame(
        [(v2_key, 2), ("http://a.com/p", 2)],
        "canonical_url string, canonicalizer_version int",
    ).write.parquet(path)

    with caplog.at_level(
        logging.INFO, logger="w4h_integrated_toolkit_spark.operators.web"
    ):
        out = load_frontier(spark, path)
        rows = {
            r["canonical_url"]: r["canonicalizer_version"]
            for r in out.collect()
        }
    assert rows == {
        v3_key: CANONICALIZER_VERSION,
        "http://a.com/p": CANONICALIZER_VERSION,
    }
    assert any(
        "rekeyed" in rec.message and "v2" in rec.message
        for rec in caplog.records
    )

    # current-version table: keys byte-identical, no migration log
    cur = str(tmp_path / "frontier_v3")
    spark.createDataFrame(
        [(v3_key, CANONICALIZER_VERSION)],
        "canonical_url string, canonicalizer_version int",
    ).write.parquet(cur)
    caplog.clear()
    got = load_frontier(spark, cur).collect()
    assert [r["canonical_url"] for r in got] == [v3_key]
    assert not any("rekeyed" in rec.message for rec in caplog.records)

    # explicit stored_version covers pre-stamp tables
    nostamp = str(tmp_path / "frontier_nostamp")
    spark.createDataFrame(
        [(v2_key,)], "canonical_url string"
    ).write.parquet(nostamp)
    got2 = load_frontier(spark, nostamp, stored_version=2).collect()
    assert got2[0]["canonical_url"] == v3_key
    assert got2[0]["canonicalizer_version"] == CANONICALIZER_VERSION
    with pytest.raises(ValueError, match="stamp"):
        load_frontier(spark, nostamp)

    # mixed stamps: corrupted by an unversioned append — fail loud
    mixed = str(tmp_path / "frontier_mixed")
    spark.createDataFrame(
        [(v2_key, 2), (v3_key, 3)],
        "canonical_url string, canonicalizer_version int",
    ).write.parquet(mixed)
    with pytest.raises(ValueError, match="mixed"):
        load_frontier(spark, mixed)

    # an explicit stored_version contradicting a PRESENT stamp fails
    # loud instead of silently skipping the rekey (review r15)
    with pytest.raises(ValueError, match="disagree"):
        load_frontier(spark, path, stored_version=3)

    # NULL stamps mark an unversioned append: an explicit version must
    # not sail past them and restamp the corruption uniform (review r15
    # pass 2)
    nullstamp = str(tmp_path / "frontier_nullstamp")
    spark.createDataFrame(
        [(v3_key, 3), (v2_key, None)],
        "canonical_url string, canonicalizer_version int",
    ).write.parquet(nullstamp)
    with pytest.raises(ValueError, match="disagree"):
        load_frontier(spark, nullstamp, stored_version=3)
    with pytest.raises(ValueError, match="mixed"):
        load_frontier(spark, nullstamp)

    # a zero-row stamped frontier is a legitimate first-run load, not
    # corruption: comes back empty with the schema intact (review r15)
    empty = str(tmp_path / "frontier_empty")
    spark.createDataFrame(
        [], "canonical_url string, canonicalizer_version int"
    ).write.parquet(empty)
    out_empty = load_frontier(spark, empty)
    assert out_empty.count() == 0
    assert "canonicalizer_version" in out_empty.columns


def test_url_dedup_groups_collapses_variants(spark):
    """Tracking/fragment/order variants of one page group under one
    canonical key with the lowest id kept; a genuinely different query
    stays separate; malformed URLs land under the NULL key."""
    from w4h_integrated_toolkit_spark.operators.web import url_dedup_groups

    rows = [
        (1, "http://ex.com/a?b=2&a=1"),
        (2, "HTTP://ex.com:80/a/?a=1&b=2#x"),
        (3, "http://u@ex.com//a?utm_source=f&a=1&b=2"),
        (4, "http://ex.com/a?a=1&b=3"),  # different content param value
        (5, "::nope::"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {
        r["canonical_url"]: (r["n_docs"], r["keep_id"])
        for r in url_dedup_groups(df).collect()
    }
    assert got["http://ex.com/a?a=1&b=2"] == (3, 1)
    assert got["http://ex.com/a?a=1&b=3"] == (1, 4)
    assert got[None] == (1, 5)


def test_domain_cap_sample_malformed_policy(spark):
    """Malformed-URL handling is a caller decision: 'cap' (default)
    bounds the NULL pseudo-domain like any other, 'keep' passes NULL
    rows through uncapped with a NULL rank, 'drop' filters them."""
    import pytest as _pytest

    from w4h_integrated_toolkit_spark.operators.web import domain_cap_sample

    rows = [(i, f"http://www.good{i % 2}site.com/p", float(i)) for i in range(8)]
    rows += [(100 + i, "not a url", float(i)) for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, url string, quality double")

    def null_and_good(out):
        nulls = [r for r in out if r["domain"] is None]
        good = [r for r in out if r["domain"] is not None]
        return nulls, good

    capped = domain_cap_sample(df, "url", "quality", cap=2).collect()
    nulls, good = null_and_good(capped)
    assert len(nulls) == 2 and all(r["domain_rank"] in (1, 2) for r in nulls)
    assert len(good) == 4  # 2 good domains x cap 2

    kept = domain_cap_sample(df, "url", "quality", cap=2, malformed="keep").collect()
    nulls, good = null_and_good(kept)
    assert len(nulls) == 5 and all(r["domain_rank"] is None for r in nulls)
    assert sorted(r["doc_id"] for r in nulls) == [100, 101, 102, 103, 104]
    assert len(good) == 4

    dropped = domain_cap_sample(df, "url", "quality", cap=2, malformed="drop").collect()
    nulls, good = null_and_good(dropped)
    assert not nulls and len(good) == 4

    # the capped GOOD set is policy-invariant
    g0 = sorted((r["doc_id"], r["domain_rank"]) for r in null_and_good(capped)[1])
    for out in (kept, dropped):
        assert sorted((r["doc_id"], r["domain_rank"]) for r in null_and_good(out)[1]) == g0

    with _pytest.raises(ValueError, match="malformed"):
        domain_cap_sample(df, "url", "quality", cap=2, malformed="bogus")


# ---------------------------------------------------------------------------
# vendored pure-stdlib WAV/PCM codec (round 10): real audio decode without
# soundfile/librosa
# ---------------------------------------------------------------------------


def test_audiocodec_roundtrip_all_widths():
    """encode_wav -> decode_wav is the identity for 8/16/24/32-bit PCM at
    1-3 channels with exact sample values; wav_info reads the header
    without touching sample bytes."""
    import numpy as np

    from w4h_integrated_toolkit_spark.operators import audiocodec as AC

    rng = np.random.default_rng(7)
    for bits in (8, 16, 24, 32):
        lo, hi = (-128, 127) if bits == 8 else (-(1 << bits - 1), (1 << bits - 1) - 1)
        for ch in (1, 2, 3):
            a = rng.integers(lo, hi + 1, size=(37, ch), dtype=np.int64)
            blob = AC.encode_wav(a, 8000, bits=bits)
            dec, rate = AC.decode_wav(blob)
            assert rate == 8000 and dec.shape == (37, ch)
            assert np.array_equal(dec, a), (bits, ch)
            assert AC.wav_info(blob) == {
                "sample_rate": 8000,
                "n_channels": ch,
                "bits": bits,
                "n_frames": 37,
            }


def test_audiocodec_alignment_chunks_and_errors():
    """Odd-sized data chunks get a pad byte (RIFF word alignment),
    unknown chunks (LIST) are skipped per spec, and out-of-range
    samples / non-RIFF input / float-WAV format tags raise instead of
    corrupting."""
    import struct

    import numpy as np
    import pytest as _pytest

    from w4h_integrated_toolkit_spark.operators import audiocodec as AC

    a = np.array([1, -2, 3], dtype=np.int64)  # odd byte count at 8-bit
    blob = AC.encode_wav(a, 123, bits=8)
    assert len(blob) % 2 == 0
    dec, rate = AC.decode_wav(blob)
    assert rate == 123 and np.array_equal(dec[:, 0], a)

    # splice an odd-sized LIST chunk before fmt/data: still decodes
    chunks = blob[12:]
    listc = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    spliced = (
        b"RIFF"
        + struct.pack("<I", 4 + len(listc) + len(chunks))
        + b"WAVE"
        + listc
        + chunks
    )
    dec2, _ = AC.decode_wav(spliced)
    assert np.array_equal(dec2[:, 0], a)

    with _pytest.raises(ValueError, match="out of range"):
        AC.encode_wav(np.array([200]), 8000, bits=8)
    with _pytest.raises(ValueError, match="RIFF"):
        AC.decode_wav(b"RIFX" + bytes(20))
    # float WAV (format tag 3) is refused with an actionable message
    f32 = bytearray(AC.encode_wav(a, 123, bits=8))
    fmt_off = bytes(f32).index(b"fmt ") + 8
    struct.pack_into("<H", f32, fmt_off, 3)
    with _pytest.raises(ValueError, match="format tag 1"):
        AC.decode_wav(bytes(f32))


def test_audio_payload_kernels_end_to_end(spark):
    """attach_audio_payload -> decode_audio_stats round-trips the
    synthetic PCM recipe exactly (checked against a literal python
    re-derivation), and audio_frame_energy emits exact windowed Σs²
    including the short tail window."""
    import numpy as np

    from w4h_integrated_toolkit_spark.operators import multimodal as MM
    from w4h_integrated_toolkit_spark.operators.multimodal import _synth_samples

    docs = spark.createDataFrame([(d,) for d in range(12)], "doc_id long")
    wav = MM.attach_audio_payload(docs)
    metas = {r["doc_id"]: r["meta"] for r in wav.collect()}
    for d in range(12):
        arr, rate, bits = _synth_samples(d)
        m = metas[d]
        assert (m["sample_rate"], m["bits"], m["n_channels"], m["n_frames"]) == (
            rate, bits, arr.shape[1], arr.shape[0]
        )

    stats = MM.decode_audio_stats(MM.attach_audio_payload(docs)).collect()
    for r in stats:
        arr, rate, _bits = _synth_samples(r["doc_id"])
        col = arr[:, r["channel"]].astype(np.int64)
        assert r["sample_rate"] == rate
        assert r["n_samples"] == len(col)
        assert r["peak"] == int(np.abs(col).max())
        assert r["sum_sq"] == int((col * col).sum())
        assert (r["first_s"], r["last_s"]) == (int(col[0]), int(col[-1]))

    en = MM.audio_frame_energy(MM.attach_audio_payload(docs), window_frames=16)
    got = {(r["doc_id"], r["window_idx"]): (r["n_frames"], r["energy"]) for r in en.collect()}
    for d in range(12):
        arr, _, _ = _synth_samples(d)
        sq = (arr.astype(np.int64) ** 2).sum(axis=1)
        for w in range(0, len(sq), 16):
            chunk = sq[w : w + 16]
            assert got[(d, w // 16)] == (len(chunk), int(chunk.sum()))


def test_audio_stats_exact_at_full_scale_32bit(spark):
    """r10 advice (medium): Σs² must stay exact for full-scale 32-bit
    PCM, where naive int64 products wrap after two samples. A payload
    whose true Σs² fits int64 comes back exactly (via the Python-int
    fallback path — the worst-case guard fails for these samples); one
    whose true Σs² exceeds int64 raises instead of emitting a wrapped
    value."""
    import numpy as np
    import pytest as _pytest

    from w4h_integrated_toolkit_spark.operators import audiocodec, multimodal as MM

    full = -(1 << 31)  # most negative 32-bit sample: s² = 2^62
    ok = np.array([[full], [1]], dtype=np.int64)  # Σs² = 2^62 + 1, fits
    blob_ok = audiocodec.encode_wav(ok, 8000, bits=32)
    df = spark.createDataFrame(
        [(0, bytearray(blob_ok))], "doc_id long, payload binary"
    )
    row = MM.decode_audio_stats(df).collect()[0]
    assert row["sum_sq"] == (1 << 62) + 1  # exact, not wrapped
    assert row["sum_abs"] == (1 << 31) + 1
    assert row["peak"] == 1 << 31

    # windowed energy over the same payload: exact per-window values
    en = {
        r["window_idx"]: r["energy"]
        for r in MM.audio_frame_energy(df, window_frames=2).collect()
    }
    assert en == {0: (1 << 62) + 1}

    bad = np.array([[full]] * 3, dtype=np.int64)  # Σs² = 3·2^62 > int64
    blob_bad = audiocodec.encode_wav(bad, 8000, bits=32)
    df_bad = spark.createDataFrame(
        [(1, bytearray(blob_bad))], "doc_id long, payload binary"
    )
    with _pytest.raises(Exception, match="exceeds int64"):
        MM.decode_audio_stats(df_bad).collect()
    with _pytest.raises(Exception, match="exceeds int64"):
        MM.audio_frame_energy(df_bad, window_frames=4).collect()
    # a bounded window keeps even this payload representable
    en_bad = MM.audio_frame_energy(df_bad, window_frames=1).collect()
    assert all(r["energy"] == 1 << 62 for r in en_bad)


def _wav_doc(doc_id, samples):
    import numpy as np

    from w4h_integrated_toolkit_spark.operators import audiocodec as AC

    return Row(
        doc_id=doc_id,
        payload=bytearray(AC.encode_wav(np.asarray(samples), 8000)),
    )


def test_audio_fingerprint_gain_invariance_and_pairing(spark):
    """The Haitsma-Kalker fingerprint's defining property: a
    gain-changed copy (here exactly-representable halving of even
    samples — energies scale by the power-of-two 0.25, so every sign
    comparison is bit-exactly preserved) fingerprints IDENTICALLY, and
    the multi-hash Hamming pairing finds the copy pair at distance 0
    while unrelated audio pairs with nothing. Deterministic: a second
    run returns the same rows."""
    import numpy as np

    from w4h_integrated_toolkit_spark.operators import multimodal as MM
    from w4h_integrated_toolkit_spark.operators.dedup import (
        hamming_neardup_pairs,
    )

    n = 2048 * 3
    t = np.arange(n)
    sig = np.round(
        4000 * np.sin(2 * np.pi * 13 * t / 2048)
        + 2500 * np.sin(2 * np.pi * 151 * t / 2048)
        + 900 * np.sin(2 * np.pi * 431 * t / 2048)
    ).astype(np.int64)
    sig = sig * 2  # even, so // 2 is an exact gain change
    other = np.random.default_rng(17).integers(-8000, 8000, size=n)
    df = spark.createDataFrame(
        [_wav_doc(1, sig), _wav_doc(2, sig // 2), _wav_doc(3, other)],
        "doc_id long, payload binary",
    )
    fp = MM.audio_fingerprint_frames(df)
    rows = fp.collect()
    by = {}
    for r in rows:
        by.setdefault(r["doc_id"], {})[r["frame_idx"]] = r["fp"]
    # frames start at 1; (n - frame)//hop + 1 = 5 frames -> 4 fp rows
    assert set(by[1]) == {1, 2, 3, 4}
    assert all(0 <= v < (1 << 32) for v in by[1].values())
    assert by[1] == by[2]  # exact gain invariance
    assert by[1] != by[3]

    # second run: deterministic
    again = {}
    for r in MM.audio_fingerprint_frames(df).collect():
        again.setdefault(r["doc_id"], {})[r["frame_idx"]] = r["fp"]
    assert again == by

    pairs = {
        (r["id_a"], r["id_b"]): r["distance"]
        for r in hamming_neardup_pairs(
            fp, max_distance=4, hash_bits=32, hash_col="fp"
        ).collect()
    }
    assert pairs.get((1, 2)) == 0
    assert not any(3 in p for p in pairs)

    # plan: one map-side Arrow kernel, blobs never shuffle
    plan = fp._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "MapInPandas" in plan
    assert "Exchange" not in plan

    # too-short audio yields no row; parameter guards raise
    short = spark.createDataFrame(
        [_wav_doc(9, np.zeros(100, dtype=np.int64))],
        "doc_id long, payload binary",
    )
    assert MM.audio_fingerprint_frames(short).count() == 0
    with pytest.raises(ValueError, match="n_bands"):
        MM.audio_fingerprint_frames(df, n_bands=1)
    with pytest.raises(ValueError, match="32-bit"):
        MM.audio_fingerprint_frames(df, n_bands=40)
    with pytest.raises(ValueError, match="frame_samples"):
        MM.audio_fingerprint_frames(df, frame_samples=32)
    with pytest.raises(ValueError, match="distinct log-spaced"):
        MM.audio_fingerprint_frames(df, frame_samples=66)


def test_audio_fingerprint_version_stamp_guards_stored_tables(spark, tmp_path):
    """AUDIO_FP_VERSION is the persisted-fingerprint format guard (the
    PHASH_VERSION / FEATURE_HASH_VERSION discipline, r15 verdict #4):
    a fingerprint table stored with the stamp loads only when the
    reader expects the SAME format version — a stale stamp fails loud
    at load instead of silently joining drifted bits at small Hamming
    distances. Also pins v1 itself: a band/FFT change that alters the
    emitted bits without bumping the constant must break here."""
    import numpy as np

    from w4h_integrated_toolkit_spark.operators import multimodal as MM
    from w4h_integrated_toolkit_spark.sources.models import (
        load_model,
        save_model,
    )

    assert MM.AUDIO_FP_VERSION == 1

    n = 2048 * 3
    rng = np.random.default_rng(23)
    df = spark.createDataFrame(
        [_wav_doc(1, rng.integers(-8000, 8000, size=n))],
        "doc_id long, payload binary",
    )
    fp = MM.audio_fingerprint_frames(df)
    params = {
        "kind": "audio_fp_index",
        "frame_samples": 2048,
        "hop": 1024,
        "n_bands": 33,
        "audio_fp_version": MM.AUDIO_FP_VERSION,
    }
    store = str(tmp_path / "audio_fp_index")
    save_model(spark, store, fp, params)
    loaded, stored = load_model(spark, store, expect_params=params)
    assert stored["audio_fp_version"] == MM.AUDIO_FP_VERSION
    assert sorted(tuple(r) for r in loaded.collect()) == sorted(
        tuple(r) for r in fp.collect()
    )

    # fingerprints persisted under an older (or newer) bit format must
    # fail loud at load — rebuild from source audio, never rekey
    with pytest.raises(ValueError, match="audio_fp_version"):
        load_model(
            spark,
            store,
            expect_params={**params, "audio_fp_version": MM.AUDIO_FP_VERSION + 1},
        )


def test_audio_fingerprint_chunking_law(spark):
    """The memory-bounding chunk loop is bit-invisible: fingerprints at
    chunk_frames=1/2/3 equal the one-shot computation frame-for-frame
    (the carried d1 row makes every chunk boundary seamless)."""
    import numpy as np

    from w4h_integrated_toolkit_spark.operators import multimodal as MM

    sig = np.random.default_rng(5).integers(-9000, 9000, size=2048 + 1024 * 9)
    df = spark.createDataFrame(
        [_wav_doc(7, sig)], "doc_id long, payload binary"
    )

    def fps(chunk):
        return {
            r["frame_idx"]: r["fp"]
            for r in MM.audio_fingerprint_frames(
                df, chunk_frames=chunk
            ).collect()
        }

    one_shot = fps(10**9)
    assert len(one_shot) == 9  # 10 frames -> 9 fingerprints
    for c in (1, 2, 3, 7):
        assert fps(c) == one_shot, c
    with pytest.raises(ValueError, match="chunk_frames"):
        MM.audio_fingerprint_frames(df, chunk_frames=0)


def test_audio_fingerprint_matches_python_model(spark):
    """Fingerprint bits vs a literal numpy re-derivation of the
    published definition (frames, |FFT|^2, reduceat band energies,
    double difference, sign) — computed independently here, frame by
    frame."""
    import numpy as np

    from w4h_integrated_toolkit_spark.operators import multimodal as MM

    rng = np.random.default_rng(3)
    sig = rng.integers(-8000, 8000, size=2048 * 2 + 1024)
    df = spark.createDataFrame(
        [_wav_doc(5, sig)], "doc_id long, payload binary"
    )
    got = {
        r["frame_idx"]: r["fp"]
        for r in MM.audio_fingerprint_frames(df).collect()
    }

    F_, H, B = 2048, 1024, 33
    n_bins = F_ // 2
    edges = np.unique(
        np.round(np.logspace(np.log10(4.0), np.log10(n_bins - 1), B + 1))
    ).astype(np.int64)[: B + 1]
    mono = sig.astype(np.float64)  # 1 channel: mean == the samples
    n_frames = (len(mono) - F_) // H + 1
    exp = {}
    prev = None
    for f in range(n_frames):
        frame = mono[f * H : f * H + F_]
        spec = np.abs(np.fft.rfft(frame)) ** 2
        E = np.add.reduceat(spec[:n_bins], edges[:-1])
        d1 = E[:-1] - E[1:]
        if prev is not None:
            bits = (d1 - prev) > 0
            v = 0
            for b in bits:
                v = (v << 1) | int(b)
            exp[f] = v
        prev = d1
    assert got == exp


def test_audio_fingerprint_string_ids_round_trip_to_pairing(spark):
    """ADVICE r15 #1: audio_fingerprint_frames names the id field by
    id_col AND carries the input id dtype (the phash64_frames schema
    discipline) — a string track id must round-trip through the kernel
    and join cleanly in hamming_neardup_pairs instead of crashing at an
    int() coercion."""
    import numpy as np

    from w4h_integrated_toolkit_spark.operators import multimodal as MM
    from w4h_integrated_toolkit_spark.operators.dedup import (
        hamming_neardup_pairs,
    )

    n = 2048 * 3
    t = np.arange(n)
    sig = (
        np.round(
            4000 * np.sin(2 * np.pi * 13 * t / 2048)
            + 2500 * np.sin(2 * np.pi * 151 * t / 2048)
        ).astype(np.int64)
        * 2
    )
    other = np.random.default_rng(23).integers(-8000, 8000, size=n)
    rows = [
        Row(track_id="trk/a", payload=_wav_doc(0, sig).payload),
        Row(track_id="trk/a-copy", payload=_wav_doc(0, sig // 2).payload),
        Row(track_id="trk/b", payload=_wav_doc(0, other).payload),
    ]
    df = spark.createDataFrame(rows, "track_id string, payload binary")
    fp = MM.audio_fingerprint_frames(df, id_col="track_id")
    assert dict(fp.dtypes)["track_id"] == "string"
    got = {r["track_id"] for r in fp.collect()}
    assert got == {"trk/a", "trk/a-copy", "trk/b"}
    pairs = {
        (r["id_a"], r["id_b"]): r["distance"]
        for r in hamming_neardup_pairs(
            fp, max_distance=4, hash_bits=32,
            id_col="track_id", hash_col="fp",
        ).collect()
    }
    assert pairs.get(("trk/a", "trk/a-copy")) == 0
    assert not any("trk/b" in p for p in pairs)


# ---------------------------------------------------------------------------
# vendored pure-stdlib image codec (round 9): real decode without Pillow
# ---------------------------------------------------------------------------


def _ppm_frame(w, h, seed):
    """Deterministic P6 PPM test image with a FIXED-length header, so
    every frame is the same byte size (the multimodal framing contract)."""
    import numpy as np

    rgb = np.zeros((h, w, 3), dtype=np.uint8)
    for y in range(h):
        for x in range(w):
            rgb[y, x] = ((x * 31 + seed) % 256, (y * 57 + seed) % 256, (x + y) % 256)
    header = f"P6\n{w} {h}\n255\n".encode()
    return header + rgb.tobytes(), rgb


def test_imagecodec_ppm_roundtrip_and_convert():
    """P6 decode recovers the exact pixel array; PGM roundtrips; L
    conversion applies the ITU-R 601-2 integer luma; comments and
    arbitrary header whitespace parse."""
    import io

    import numpy as np

    from w4h_integrated_toolkit_spark.operators import imagecodec as IC

    blob, rgb = _ppm_frame(6, 4, seed=9)
    img = IC.open(io.BytesIO(blob))
    assert img.size == (6, 4) and img.mode == "RGB"
    assert np.array_equal(np.asarray(img), rgb)

    commented = b"P6 # magic\n# a comment line\n 6\t4 # dims\n255\n" + rgb.tobytes()
    assert np.array_equal(np.asarray(IC.open(io.BytesIO(commented))), rgb)

    gray = img.convert("L")
    a = rgb.astype(np.uint32)
    expect = ((a[..., 0] * 299 + a[..., 1] * 587 + a[..., 2] * 114) // 1000).astype(
        np.uint8
    )
    assert np.array_equal(np.asarray(gray), expect)

    buf = io.BytesIO()
    gray.save(buf, format="PGM")
    assert np.array_equal(np.asarray(IC.open(buf.getvalue())), expect)


def test_imagecodec_netpbm_separator_validation():
    """The single byte after maxval must be whitespace (r9 advice): a
    CRLF-separated header ('255\r\n') decodes unshifted, and a
    non-whitespace separator raises instead of silently shifting the
    raster by one byte."""
    import io

    import numpy as np

    from w4h_integrated_toolkit_spark.operators import imagecodec as IC

    _, rgb = _ppm_frame(6, 4, seed=3)
    crlf = b"P6\r\n6 4\r\n255\r\n" + rgb.tobytes()
    assert np.array_equal(np.asarray(IC.open(io.BytesIO(crlf))), rgb)

    # truncation right after maxval: the separator byte is missing
    with pytest.raises(ValueError, match="separator"):
        IC.open(io.BytesIO(b"P6\n6 4\n255"))


def test_imagecodec_png_roundtrip_and_resize():
    """PNG encode→decode is the identity for RGB and gray; the decoder
    reverses every standard filter type; nearest-neighbor resize picks
    exact source pixels."""
    import io

    import numpy as np

    from w4h_integrated_toolkit_spark.operators import imagecodec as IC

    _, rgb = _ppm_frame(8, 5, seed=3)
    png = IC.encode_png(rgb)
    assert png[:8] == b"\x89PNG\r\n\x1a\n"
    assert np.array_equal(IC.decode_png(png), rgb)
    gray = rgb[..., 0]
    assert np.array_equal(IC.decode_png(IC.encode_png(gray)), gray)

    # all five filter types, via a hand-built PNG (encoder emits only 0)
    import struct
    import zlib

    rows = np.arange(5 * 4 * 3, dtype=np.uint8).reshape(5, 12)
    stride, nch = 12, 3
    raw = bytearray()
    prev = np.zeros(stride, dtype=np.int32)
    for y, ftype in enumerate([0, 1, 2, 3, 4]):
        cur = rows[y].astype(np.int32)
        enc = cur.copy()
        for i in range(stride):
            a = cur[i - nch] if i >= nch else 0
            b = prev[i]
            c = prev[i - nch] if i >= nch else 0
            if ftype == 1:
                enc[i] = (cur[i] - a) % 256
            elif ftype == 2:
                enc[i] = (cur[i] - b) % 256
            elif ftype == 3:
                enc[i] = (cur[i] - ((a + b) >> 1)) % 256
            elif ftype == 4:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[i] = (cur[i] - pred) % 256
        raw += bytes([ftype]) + bytes(enc.astype(np.uint8))
        prev = cur
    sig = b"\x89PNG\r\n\x1a\n"

    def chunk(tag, payload):
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    hand = (
        sig
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 5, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(IC.decode_png(hand), rows.reshape(5, 4, 3))

    small = IC.open(png).resize((4, 2))
    assert small.size == (4, 2)
    got = np.asarray(small)
    # nearest-neighbor: row y maps to src (y*5)//2, col x to (x*8)//4
    for y in range(2):
        for x in range(4):
            assert (got[y, x] == rgb[(y * 5) // 2, (x * 8) // 4]).all()


def test_real_kernel_end_to_end_with_vendored_codec(spark):
    """The codec='real' kernel path executes END TO END in-sandbox with
    NO Pillow: real P6 PPM frames flow through Spark mapInPandas into
    _real_resize_rows (decode→resize→re-encode PNG) and
    _real_decode_rows (decode→luma mean); outputs verified by decoding
    the emitted PNGs with the vendored decoder."""
    import numpy as np

    from w4h_integrated_toolkit_spark.operators import imagecodec as IC
    from w4h_integrated_toolkit_spark.operators import multimodal as MM

    frames = [_ppm_frame(8, 4, seed=s) for s in (1, 2, 3)]
    fb = len(frames[0][0])
    assert all(len(b) == fb for b, _ in frames)
    payload = b"".join(b for b, _ in frames)
    df = spark.createDataFrame(
        [(7, payload, ("image/ppm", len(payload), fb, 3))],
        "doc_id long, payload binary, "
        "meta struct<format:string, n_bytes:bigint, frame_bytes:int, n_frames:bigint>",
    )

    out = {r["frame_idx"]: r for r in MM.resize_frames(df, factor=2, codec="ppm").collect()}
    assert sorted(out) == [0, 1, 2]
    for k, (_, rgb) in enumerate(frames):
        png = bytes(out[k]["frame"])
        dec = IC.decode_png(png)
        assert dec.shape == (2, 4, 3)
        # nearest-neighbor downsample of the source pixels
        for y in range(2):
            for x in range(4):
                assert (dec[y, x] == rgb[(y * 4) // 2, (x * 8) // 4]).all()

    means = {
        r["frame_idx"]: r["mean_byte"]
        for r in MM.decode_frames(df, codec="ppm").collect()
    }
    for k, (_, rgb) in enumerate(frames):
        a = rgb.astype(np.uint32)
        luma = (a[..., 0] * 299 + a[..., 1] * 587 + a[..., 2] * 114) // 1000
        assert means[k] == float(luma.astype(np.uint8).mean())


# ---------------------------------------------------------------------------
# vendored pure-stdlib Y4M video codec + html extraction (round 10)
# ---------------------------------------------------------------------------


def test_videocodec_roundtrip_all_colorspaces():
    """encode_y4m -> decode_y4m is the identity for Cmono, C420jpeg and
    C444 with exact pixel values; y4m_info walks frame headers without
    touching pixel bytes."""
    import numpy as np

    from w4h_integrated_toolkit_spark.operators import videocodec as V

    rng = np.random.default_rng(11)
    n, h, w = 5, 12, 16
    y = rng.integers(0, 256, (n, h, w), dtype=np.uint8)
    cases = [
        (None, None, "mono"),
        (
            rng.integers(0, 256, (n, h // 2, w // 2), dtype=np.uint8),
            rng.integers(0, 256, (n, h // 2, w // 2), dtype=np.uint8),
            "420jpeg",
        ),
        (
            rng.integers(0, 256, (n, h, w), dtype=np.uint8),
            rng.integers(0, 256, (n, h, w), dtype=np.uint8),
            "444",
        ),
    ]
    for cb, cr, cs in cases:
        blob = V.encode_y4m(y, cb, cr, fps=(30, 1))
        y2, cb2, cr2, info = V.decode_y4m(blob)
        assert np.array_equal(y2, y), cs
        if cb is None:
            assert cb2 is None and cr2 is None
        else:
            assert np.array_equal(cb2, cb) and np.array_equal(cr2, cr)
        assert info["colorspace"] == cs
        assert V.y4m_info(blob) == {
            "width": w,
            "height": h,
            "fps": (30, 1),
            "colorspace": cs,
            "n_frames": n,
        }


def test_videocodec_header_tolerance_and_errors():
    """Unknown X-extension and I/A tags are skipped per spec; tag order
    is free; non-Y4M input, truncated frames, odd C420 dimensions and
    unknown colorspaces raise instead of decoding shifted planes."""
    import numpy as np
    import pytest as _pytest

    from w4h_integrated_toolkit_spark.operators import videocodec as V

    y = np.arange(2 * 4 * 6, dtype=np.uint8).reshape(2, 4, 6)
    blob = V.encode_y4m(y)
    # rewrite the header with shuffled/extra tags: still decodes
    body = blob.split(b"\n", 1)[1]
    hacked = b"YUV4MPEG2 Cmono XSPARK=1 F25:1 H4 Ip A1:1 W6\n" + body
    y2, _, _, info = V.decode_y4m(hacked)
    assert np.array_equal(y2, y) and info["fps"] == (25, 1)

    with _pytest.raises(ValueError, match="YUV4MPEG2"):
        V.decode_y4m(b"JUNK" + bytes(40))
    with _pytest.raises(ValueError, match="truncated"):
        V.decode_y4m(blob[:-3])
    with _pytest.raises(ValueError, match="FRAME"):
        V.decode_y4m(blob[: blob.index(b"FRAME")] + b"FRUME\n" + bytes(24))
    with _pytest.raises(ValueError, match="colorspace"):
        V.decode_y4m(b"YUV4MPEG2 W6 H4 F25:1 C422\n")
    with _pytest.raises(ValueError, match="divisible"):
        V.decode_y4m(b"YUV4MPEG2 W5 H4 F25:1 C420jpeg\n")
    odd = np.zeros((1, 5, 6), np.uint8)
    with _pytest.raises(ValueError, match="chroma shape"):
        V.encode_y4m(odd, np.zeros((1, 2, 3), np.uint8), np.zeros((1, 2, 3), np.uint8))
    with _pytest.raises(ValueError, match="given together"):
        V.encode_y4m(y, np.zeros((2, 2, 3), np.uint8), None)


def test_video_payload_kernels_end_to_end(spark):
    """attach_video_payload -> video_frame_stats round-trips the synthetic
    plane recipe exactly (checked against a literal python
    re-derivation), covering both the mono and 420 layouts; stride
    sampling keeps every stride-th frame only."""
    import numpy as np

    from w4h_integrated_toolkit_spark.operators import multimodal as MM
    from w4h_integrated_toolkit_spark.operators.multimodal import _synth_frames

    docs = spark.createDataFrame([(d,) for d in range(10)], "doc_id long")
    vid = MM.attach_video_payload(docs)
    metas = {r["doc_id"]: r["meta"] for r in vid.collect()}
    for d in range(10):
        y, cb, _cr = _synth_frames(d)
        m = metas[d]
        assert (m["width"], m["height"], m["n_frames"]) == (
            y.shape[2], y.shape[1], y.shape[0]
        )
        assert m["colorspace"] == ("mono" if cb is None else "420jpeg")
        assert m["format"] == "video/x-y4m"

    stats = MM.video_frame_stats(MM.attach_video_payload(docs)).collect()
    seen = set()
    for r in stats:
        y, cb, cr = _synth_frames(r["doc_id"])
        f = r["frame_idx"]
        yf = y[f].astype(np.int64)
        assert r["y_sum"] == int(yf.sum())
        assert r["y_sq"] == int((yf * yf).sum())
        assert (r["y_min"], r["y_max"]) == (int(yf.min()), int(yf.max()))
        if cb is None:
            assert (r["cb_sum"], r["cr_sum"]) == (0, 0)
        else:
            assert r["cb_sum"] == int(cb[f].astype(np.int64).sum())
            assert r["cr_sum"] == int(cr[f].astype(np.int64).sum())
        seen.add((r["doc_id"], f))
    assert len(seen) == sum(_synth_frames(d)[0].shape[0] for d in range(10))

    strided = MM.video_frame_stats(MM.attach_video_payload(docs), stride=2)
    got = {(r["doc_id"], r["frame_idx"]) for r in strided.collect()}
    want = {
        (d, f)
        for d in range(10)
        for f in range(0, _synth_frames(d)[0].shape[0], 2)
    }
    assert got == want


def test_html_extraction_edges(spark):
    """html_text/html_title/html_link_count against hand-built pages:
    the head block (title+style) vanishes from body text while
    html_title still reads it, script blocks containing tags vanish
    wholesale, comments vanish, entities decode single-pass
    ('&amp;lt;' stays the literal text '&lt;'), whitespace collapses,
    NULL propagates, and anchors split across newlines still count."""
    from pyspark.sql import functions as F

    from w4h_integrated_toolkit_spark.operators import web as WEB

    cases = [
        # (html, text, title, n_links)
        (
            '<html><head><title> A  B </title><style>p{c:red}</style></head>'
            '<body><p class="x" data-v=\'1\'>hi <b>there</b></p>'
            '<script>if (1<2) { document.write("<p>no</p>"); }</script>'
            "</body></html>",
            "hi there",
            "A B",
            0,
        ),
        (
            "<p>R&amp;D &lt;tag&gt; &amp;lt; A&nbsp;&nbsp;B &#39;q&#39; &quot;z&quot;</p>",
            "R&D <tag> &lt; A B 'q' \"z\"",
            None,
            0,
        ),
        (
            '<a href="/x">one</a><A HREF="#">two</A><a\nhref="y">three</a><abbr>not</abbr>',
            "one two three not",
            None,
            3,
        ),
        ("<!-- <p>gone</p> -->visible", "visible", None, 0),
        (None, None, None, 0),
        # r10 advice: anchors inside DROPPED blocks never count; a
        # self-closing <a/> does
        (
            '<script>var s = "<a href=/x>no</a>";</script>'
            "<style>a { color: red; }</style>"
            '<!-- <a href="y">gone</a> --><a/>ok <a href="z">yes</a>',
            "ok yes",
            None,
            2,
        ),
    ]
    df = spark.createDataFrame(
        [(i, h) for i, (h, *_rest) in enumerate(cases)], "i long, html string"
    )
    rows = {
        r["i"]: r
        for r in df.select(
            "i",
            WEB.html_text(F.col("html")).alias("t"),
            WEB.html_title(F.col("html")).alias("ti"),
            WEB.html_link_count(F.col("html")).alias("n"),
        ).collect()
    }
    for i, (_h, text, title, n_links) in enumerate(cases):
        assert rows[i]["t"] == text, (i, rows[i]["t"])
        assert rows[i]["ti"] == title, (i, rows[i]["ti"])
        assert rows[i]["n"] == n_links, (i, rows[i]["n"])


def test_netpbm_cr_separator_vs_crlf_padding():
    """Review fix: a spec-valid '\\r'-separated netpbm whose FIRST pixel
    byte is 0x0A must decode unshifted (the LF is data, not padding);
    a genuinely CRLF-separated header is still tolerated."""
    import numpy as np

    from w4h_integrated_toolkit_spark.operators import imagecodec as IC

    w, h = 4, 2
    px = np.arange(w * h, dtype=np.uint8).reshape(h, w)
    px[0, 0] = 10  # first raster byte == LF
    body = px.tobytes()
    cr_only = f"P5\n{w} {h}\n255".encode() + b"\r" + body
    dec = IC._decode_netpbm(cr_only)
    assert np.array_equal(dec, px), "CR-separated image shifted"

    crlf = f"P5\n{w} {h}\n255".encode() + b"\r\n" + body
    dec2 = IC._decode_netpbm(crlf)
    assert np.array_equal(dec2, px), "CRLF padding not consumed"

    # second-pass review fix: CRLF padding must still be consumed when
    # the encoder leaves trailing bytes (e.g. a final newline) — the
    # exact-length-only heuristic regressed this
    crlf_trailing = crlf + b"\n"
    dec3 = IC._decode_netpbm(crlf_trailing)
    assert np.array_equal(dec3, px), "CRLF + trailing bytes shifted"


def test_videocodec_rejects_unknown_mono_colorspace():
    """Review fix: encode_y4m must reject a colorspace its own decoder
    does not know instead of emitting an undecodable stream."""
    import numpy as np
    import pytest as _pytest

    from w4h_integrated_toolkit_spark.operators import videocodec as V

    y = np.zeros((1, 4, 6), np.uint8)
    with _pytest.raises(ValueError, match="unsupported Y4M colorspace"):
        V.encode_y4m(y, colorspace="Mono")


def test_registrable_domain_psl_tolerates_caller_temp_columns(spark):
    """Review fix: internal working columns are collision-proof — a
    caller frame already carrying '_h' / '_c2' style names keeps them
    intact in the returned frame."""
    from pyspark.sql import functions as F

    from w4h_integrated_toolkit_spark.operators import web as WEB

    df = spark.createDataFrame(
        [("www.example.co.uk", "keepme", 7)], "host string, _h string, _c2 int"
    )
    out = WEB.registrable_domain_psl(df).collect()[0]
    assert out["domain"] == "example.co.uk"
    assert out["_h"] == "keepme" and out["_c2"] == 7


def test_parse_robots_rfc9309_semantics():
    """RFC 9309 group selection and rule compilation: EXACT
    case-insensitive product-token match, ALL matching groups merge
    (specific and '*' alike), version-suffixed agents fall back to '*',
    multiple UA lines share a group, empty Disallow emits no rule,
    empty User-agent values are ignored (a zero-length token would
    match everything), a leading BOM is stripped, comments and unknown
    directives are ignored, '*' wildcards and '$' anchors compile to
    anchored regexes, NULL/empty text and out-of-group rules yield no
    rules."""
    import re as _re

    from w4h_integrated_toolkit_spark.operators.web import parse_robots

    txt = """
# politeness file
User-agent: examplebot
Disallow: /private/
Allow: /private/ok$

User-agent: example
Disallow: /semi/

User-agent: *
User-agent: legacy
Disallow: /all*.pdf
Disallow:
Crawl-delay: 10
Sitemap: http://ex.com/sitemap.xml
"""
    rules = parse_robots(txt, "ExampleBot")  # exact token, case folded
    assert [(a, p) for a, p, _ in rules] == [
        (False, r"^/private/"),
        (True, r"^/private/ok$"),
    ]
    assert [n for _, _, n in rules] == [9, 12]
    assert [p for _, p, _ in parse_robots(txt, "example")] == [r"^/semi/"]
    # version-suffixed token is NOT the product token: falls to '*'
    # (same as an unknown agent); empty Disallow dropped
    for agent in ("examplebot/2.1", "otherbot", "legacy"):
        star = parse_robots(txt, agent)
        assert len(star) == 1, agent
        allow, rx, plen = star[0]
        assert allow is False and plen == len("/all*.pdf")
        assert _re.match(rx, "/all-reports.pdf")
        assert not _re.match(rx, "/allowed.html")
        assert not _re.match(rx, "/allXpdf")  # escaped dot

    # the RFC's MUST: multiple groups for the same token merge
    merged = parse_robots(
        "User-agent: bot\nDisallow: /a\n\nUser-agent: bot\nDisallow: /b\n",
        "bot",
    )
    assert [p for _, p, _ in merged] == [r"^/a", r"^/b"]

    # RFC 2.2.1: a MATCHED group wins over '*' even when it carries no
    # rules — the classic whitelist file must leave goodbot free
    whitelist = "User-agent: goodbot\nDisallow:\n\nUser-agent: *\nDisallow: /\n"
    assert parse_robots(whitelist, "goodbot") == []
    assert [p for _, p, _ in parse_robots(whitelist, "otherbot")] == [r"^/"]

    # longest-match precedence counts OCTETS of the NORMALIZED pattern
    # (non-ASCII percent-encodes to upper-hex UTF-8 triplets first), so
    # the equivalent spellings '/café' and '/caf%c3%a9' carry EQUAL
    # precedence — RFC 9309 §2.2.2's consistent-encoding requirement
    assert parse_robots("User-agent: *\nAllow: /café\n", "bot")[0][2] == 10
    assert (
        parse_robots("User-agent: *\nAllow: /caf%c3%a9\n", "bot")[0][2] == 10
    )
    assert (
        parse_robots("User-agent: *\nAllow: /café\n", "bot")[0][1]
        == parse_robots("User-agent: *\nAllow: /caf%c3%a9\n", "bot")[0][1]
    )

    # an empty User-agent value must not become a match-everything
    # token that preempts '*'
    tricky = "User-agent:\nDisallow: /\n\nUser-agent: *\nAllow: /ok\n"
    assert [(a, p) for a, p, _ in parse_robots(tricky, "bot")] == [
        (True, r"^/ok")
    ]

    # BOM-prefixed body still parses its first directive
    bom = "﻿User-agent: *\nDisallow: /x\n"
    assert [p for _, p, _ in parse_robots(bom, "bot")] == [r"^/x"]

    assert parse_robots(None) == [] and parse_robots("") == []
    # RFC 9309: rules outside any user-agent group MUST be ignored
    assert parse_robots("Disallow: /x\n", "bot") == []
    assert parse_robots("# only comments\n", "bot") == []


def test_robots_filter_longest_match_and_defaults(spark):
    """robots_filter end-to-end: longest-match precedence (allow wins
    ties), matching against path+'?'+query, per-host rule isolation,
    case-insensitive host join, the RFC's implicit allow when rules
    exist but none match (NOT default_allow), default_allow only for
    hosts with no robots row (and malformed URLs), and duplicate URL
    rows pass through untouched (no collapse — the verdict is a
    map-side fold, not a groupBy)."""
    from w4h_integrated_toolkit_spark.operators.web import robots_filter

    robots = spark.createDataFrame(
        [
            (
                "a.com",
                "User-agent: *\nDisallow: /private/\nAllow: /private/pub/\n",
            ),
            ("b.com", "User-agent: *\nDisallow: /$\n"),
            ("c.com", "User-agent: *\n"),  # group with no rules
            (
                "d.com",
                "User-agent: *\nDisallow: /*?sessionid=\nDisallow: /exact$\n",
            ),
            ("UPPER.com", "User-agent: *\nDisallow: /\n"),
            ("failed.com", None),  # fetch failed: rules UNKNOWN
            # duplicate host spellings fold to one broadcast row (no
            # URL fan-out); allow wins the equal-length tie after merge
            ("Dup.com", "User-agent: *\nDisallow: /x\n"),
            ("dup.com", "User-agent: *\nAllow: /x\n"),
        ],
        "host string, robots_txt string",
    )
    urls = spark.createDataFrame(
        [
            (1, "http://a.com/private/x"),        # disallowed
            (2, "http://a.com/private/pub/x"),    # allow wins (longer)
            (3, "http://a.com/open"),             # rules exist, none match
            (4, "http://b.com/"),                 # anchored: exactly '/'
            (5, "http://b.com/page"),             # anchor doesn't match
            (6, "http://c.com/x"),                # empty rule set
            (7, "http://nobody.example/x"),       # no robots row
            (8, "::bad::"),                       # malformed URL
            (8, "::bad::"),                       # duplicate row preserved
            (9, "http://d.com/page?sessionid=1"), # query participates
            (10, "http://d.com/exact"),           # $ matches bare path
            (11, "http://d.com/exact?x=1"),       # $ must NOT match w/query
            (12, "http://upper.com/x"),           # host case-insensitive
            (13, "http://failed.com/x"),          # NULL body -> default
            (14, "http://dup.com/x"),             # merged dup hosts
        ],
        "doc_id long, url string",
    )
    out = robots_filter(urls, robots).collect()
    assert len(out) == 15  # duplicates preserved, no join fan-out
    got = {}
    for r in out:
        got.setdefault((r["doc_id"], r["url"]), []).append(r["allowed"])
    assert got[(1, "http://a.com/private/x")] == [False]
    assert got[(2, "http://a.com/private/pub/x")] == [True]
    assert got[(3, "http://a.com/open")] == [True]
    assert got[(4, "http://b.com/")] == [False]
    assert got[(5, "http://b.com/page")] == [True]
    assert got[(6, "http://c.com/x")] == [True]
    assert got[(7, "http://nobody.example/x")] == [True]
    assert got[(8, "::bad::")] == [True, True]
    assert got[(9, "http://d.com/page?sessionid=1")] == [False]
    assert got[(10, "http://d.com/exact")] == [False]
    assert got[(11, "http://d.com/exact?x=1")] == [True]
    assert got[(12, "http://upper.com/x")] == [False]
    assert got[(13, "http://failed.com/x")] == [True]  # default_allow
    assert got[(14, "http://dup.com/x")] == [True]  # allow wins the tie

    # strict default: ONLY unknown-rules cases flip — no robots row
    # (7), malformed URL (8), NULL body (13); implicit allow (3, 6) and
    # explicit verdicts are unchanged
    strict = {
        (r["doc_id"], r["allowed"])
        for r in robots_filter(urls, robots, default_allow=False).collect()
        if r["doc_id"] in (3, 6, 7, 8, 13)
    }
    assert strict == {(3, True), (6, True), (7, False), (8, False),
                      (13, False)}

    # plan shape: the ONLY exchange is the dictionary-sized per-host
    # rule fold on the broadcast side; the URL side is a broadcast join
    # + array fold (no window, no shuffle, no fan-out)
    import re as _re

    plan = robots_filter(urls, robots)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "Window" not in plan
    assert len(_re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan[:800]

    # reserved internal names are rejected up front (a '__w4h_rb_delay'
    # input column used to slip past the guard and emerge as TWO
    # duplicate-named output columns when delay_col was set)
    with pytest.raises(ValueError, match="__w4h_rb_delay"):
        robots_filter(
            urls.withColumn("__w4h_rb_delay", F.lit(1.0)), robots
        )


def test_robots_sitemaps_and_sitemap_urls(spark):
    """Crawl discovery: Sitemap: lines collect file-wide (outside UA
    groups, deduped, order kept); sitemap_urls explodes <urlset> pages
    and <sitemapindex> children with trimmed, entity-decoded <loc>s and
    optional <lastmod>, flags index blobs, and yields nothing for
    locless/junk/NULL XML — all pure Column ops (plan has no Python and
    no exchange)."""
    from w4h_integrated_toolkit_spark.operators.web import (
        robots_sitemaps,
        sitemap_urls,
    )

    txt = (
        "Sitemap: http://ex.com/a.xml\n"
        "User-agent: *\nDisallow: /x\n"
        "Sitemap: http://ex.com/b.xml\n"
        "sitemap: http://ex.com/a.xml\n"  # dup (case-insensitive name)
        "Sitemap:\n"  # empty value ignored
    )
    assert robots_sitemaps(txt) == [
        "http://ex.com/a.xml",
        "http://ex.com/b.xml",
    ]
    assert robots_sitemaps(None) == [] and robots_sitemaps("") == []

    urlset = (
        '<?xml version="1.0"?><urlset>'
        "<url><loc>  http://ex.com/p?a=1&amp;b=2 </loc>"
        "<lastmod>2024-01-02</lastmod></url>"
        "<url><loc>http://ex.com/q</loc></url>"
        "<url><changefreq>daily</changefreq></url>"  # locless: dropped
        "</urlset>"
    )
    index = (
        "<sitemapindex>"
        "<sitemap><loc>http://ex.com/a.xml</loc></sitemap>"
        "<sitemap><loc>http://ex.com/b.xml</loc></sitemap>"
        "</sitemapindex>"
    )
    df = spark.createDataFrame(
        [(1, urlset), (2, index), (3, "not xml at all"), (4, None)],
        "doc_id long, sitemap_xml string",
    )
    rows = sitemap_urls(df).collect()
    got = {(r["doc_id"], r["loc"]): (r["lastmod"], r["is_index"]) for r in rows}
    assert got == {
        (1, "http://ex.com/p?a=1&b=2"): ("2024-01-02", False),
        (1, "http://ex.com/q"): (None, False),
        (2, "http://ex.com/a.xml"): (None, True),
        (2, "http://ex.com/b.xml"): (None, True),
    }

    plan = sitemap_urls(df)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "Exchange" not in plan and "Join" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_robots_percent_normalization_both_sides(spark):
    """RFC 9309 §2.2.2 consistent percent-encoding (r12 ADVICE): the
    Column match-target normalization and the Python pattern-compile
    normalization are TWINS (pinned over an adversarial vector:
    raw non-ASCII, upper/lower hex, unreserved decode, double-encoding,
    encoded slash, malformed triplets), so every percent-spelling of a
    rule meets every percent-spelling of a URL."""
    from w4h_integrated_toolkit_spark.operators.web import (
        _pct_encode_nonascii,
        _pct_encode_nonascii_py,
        _pct_normalize,
        _pct_normalize_py,
        robots_filter,
    )

    vec = [
        "/a/b", "/café", "/caf%C3%A9", "/caf%c3%a9", "/%41bc", "/%2541",
        "/a%2Fb", "/x%zz", "/%", "", "/q?x=%7e&y=é", "/✓%e2%9c%93",
    ]
    df = spark.createDataFrame([(s,) for s in vec], "s string")
    got = df.select(
        "s", _pct_normalize(_pct_encode_nonascii(F.col("s"))).alias("n")
    ).collect()
    for r in got:
        assert r["n"] == _pct_normalize_py(_pct_encode_nonascii_py(r["s"])), (
            r["s"]
        )

    # end-to-end: a rule written raw blocks every encoded spelling of
    # the URL, and a rule written encoded (either hex case) blocks the
    # raw spelling — under-blocking across spellings was the finding
    robots = spark.createDataFrame(
        [
            ("a.com", "User-agent: *\nDisallow: /café\n"),
            ("b.com", "User-agent: *\nDisallow: /caf%c3%a9\n"),
        ],
        "host string, robots_txt string",
    )
    urls = spark.createDataFrame(
        [
            (1, "http://a.com/caf%C3%A9"),
            (2, "http://a.com/caf%c3%a9"),
            (3, "http://a.com/café"),
            (4, "http://a.com/cafe"),  # different path: stays allowed
            (5, "http://b.com/café"),
            (6, "http://b.com/caf%C3%A9"),
        ],
        "doc_id long, url string",
    )
    verdicts = {
        r["doc_id"]: r["allowed"] for r in robots_filter(urls, robots).collect()
    }
    assert verdicts == {1: False, 2: False, 3: False, 4: True,
                        5: False, 6: False}


def test_parse_crawl_delay_and_delay_col(spark):
    """Crawl-delay (de-facto politeness directive): group selection
    mirrors the RFC rule selection (exact token beats '*'), max wins
    across merged groups, junk/non-positive values are ignored, and
    the directive never perturbs RFC rule GROUPING. robots_filter's
    delay_col lifts it to a per-host column from the same single parse
    of the body (NULL when absent / no robots row)."""
    from w4h_integrated_toolkit_spark.operators.web import (
        parse_crawl_delay,
        parse_robots,
        robots_filter,
    )

    body = (
        "User-agent: bot\nCrawl-delay: 7\nDisallow: /x\n\n"
        "User-agent: *\nCrawl-delay: 2.5\nDisallow: /y\n\n"
        "User-agent: bot\nDisallow: /z\nCrawl-delay: 3\n"
    )
    assert parse_crawl_delay(body, "bot") == 7.0  # merged groups: max
    assert parse_crawl_delay(body, "other") == 2.5  # '*' fallback
    # exact-token masking mirrors rule selection EXACTLY (review
    # finding): a group naming the crawler with NO delay masks the '*'
    # throttle — the site addressed this crawler and asked for none
    assert parse_crawl_delay(
        "User-agent: w4hbot\nDisallow: /x\n\n"
        "User-agent: *\nCrawl-delay: 600\n",
        "w4hbot",
    ) is None
    assert parse_crawl_delay("User-agent: *\nDisallow: /x\n") is None
    assert parse_crawl_delay("User-agent: *\nCrawl-delay: fast\n") is None
    assert parse_crawl_delay("User-agent: *\nCrawl-delay: -1\n") is None
    # non-finite delays are rejected — an Infinity delay would silently
    # blackhole the host in the fetch scheduler (review finding)
    assert parse_crawl_delay("User-agent: *\nCrawl-delay: inf\n") is None
    assert parse_crawl_delay("User-agent: *\nCrawl-delay: 1e999\n") is None
    assert parse_crawl_delay(None) is None and parse_crawl_delay("") is None
    # a Crawl-delay line outside any group is dropped (mirrors the
    # RFC's rules-outside-groups MUST)
    assert parse_crawl_delay("Crawl-delay: 9\nUser-agent: *\n") is None
    # the directive is grouping-NEUTRAL (RFC 9309 §2.2.4: other records
    # must not interfere): rule selection is identical with and without
    # the line, both mid-run and BETWEEN UA lines of a run — the
    # between-UA case is the review-caught regression where closing the
    # run would have handed agent 'a' an empty matched group and
    # un-blocked a host the site meant to Disallow
    with_delay = "User-agent: a\nUser-agent: b\nCrawl-delay: 4\nDisallow: /x\n"
    without = "User-agent: a\nUser-agent: b\nDisallow: /x\n"
    assert parse_robots(with_delay, "b") == parse_robots(without, "b")
    split_run = "User-agent: a\nCrawl-delay: 10\nUser-agent: b\nDisallow: /\n"
    for agent in ("a", "b"):
        rules = parse_robots(split_run, agent)
        assert [(al, rx) for al, rx, _ in rules] == [(False, "^/")], agent
    # delay attribution SNAPSHOTS the agents declared above the delay
    # line: a (declared before it) gets 10, b (declared after) does not
    assert parse_crawl_delay(split_run, "a") == 10.0
    assert parse_crawl_delay(split_run, "b") is None
    # the dominant real-world shape (second review pass): rules-less
    # per-bot delay stanzas merge into ONE rule group under grouping
    # neutrality, but each stanza's delay must stay with ITS bots —
    # final-merged-list attribution would throttle the fleet to the
    # slowest bot's delay
    fleet = (
        "User-agent: slowbot\nCrawl-delay: 60\n\n"
        "User-agent: fastbot\nCrawl-delay: 1\n\n"
        "User-agent: *\nDisallow: /private\n"
    )
    assert parse_crawl_delay(fleet, "slowbot") == 60.0
    assert parse_crawl_delay(fleet, "fastbot") == 1.0
    assert parse_crawl_delay(fleet, "anyoneelse") is None
    # ...and in EVERY stanza order (third review pass: a declared-so-far
    # snapshot gave fastbot 60 when the slow stanza came second — the
    # stanza binding is order-independent)
    fleet_rev = (
        "User-agent: fastbot\nCrawl-delay: 1\n\n"
        "User-agent: slowbot\nCrawl-delay: 60\n\n"
        "User-agent: *\nDisallow: /private\n"
    )
    assert parse_crawl_delay(fleet_rev, "fastbot") == 1.0
    assert parse_crawl_delay(fleet_rev, "slowbot") == 60.0
    assert parse_crawl_delay(fleet_rev, "anyoneelse") is None
    # a multi-UA stanza binds its delay to ALL its agents
    assert parse_crawl_delay(
        "User-agent: a\nUser-agent: b\nCrawl-delay: 4\nDisallow: /x\n", "b"
    ) == 4.0

    robots = spark.createDataFrame(
        [
            ("a.com", "User-agent: *\nCrawl-delay: 2.5\nDisallow: /x\n"),
            ("b.com", "User-agent: *\nDisallow: /y\n"),
        ],
        "host string, robots_txt string",
    )
    urls = spark.createDataFrame(
        [(1, "http://a.com/x"), (2, "http://b.com/z"),
         (3, "http://nobody.example/q")],
        "doc_id long, url string",
    )
    out = robots_filter(urls, robots, delay_col="crawl_delay")
    assert dict(out.dtypes)["crawl_delay"] == "double"
    rows = {r["doc_id"]: (r["allowed"], r["crawl_delay"])
            for r in out.collect()}
    assert rows == {1: (False, 2.5), 2: (True, None), 3: (True, None)}


def test_robots_filter_broadcast_false_fallback(spark):
    """broadcast=False (r12 ADVICE: a web-scale rules table can't be
    force-broadcast): the hint disappears from the plan and verdicts
    are identical — the politeness semantics never depend on the join
    strategy."""
    from w4h_integrated_toolkit_spark.operators.web import robots_filter

    robots = spark.createDataFrame(
        [("a.com", "User-agent: *\nDisallow: /x\n")],
        "host string, robots_txt string",
    )
    urls = spark.createDataFrame(
        [(1, "http://a.com/x"), (2, "http://a.com/ok")],
        "doc_id long, url string",
    )
    hinted = robots_filter(urls, robots)
    unhinted = robots_filter(urls, robots, broadcast=False)
    assert "ResolvedHint" not in unhinted._jdf.queryExecution().logical().toString()
    assert "ResolvedHint" in hinted._jdf.queryExecution().logical().toString()
    a = {(r["doc_id"], r["allowed"]) for r in hinted.collect()}
    b = {(r["doc_id"], r["allowed"]) for r in unhinted.collect()}
    assert a == b == {(1, False), (2, True)}


def test_expand_sitemap_index_bounded_recursion(spark):
    """expand_sitemap_index closes the index→sitemap chain without
    caller loops: pages accumulate across levels (id lineage kept),
    unfetchable indices and indices deeper than max_depth come back
    still flagged is_index=true, NULL-blob fetch rows count as
    unfetched, and depth 0 means explode-only."""
    from w4h_integrated_toolkit_spark.operators.web import (
        expand_sitemap_index,
    )

    def urlset(*locs):
        return "<urlset>" + "".join(
            f"<url><loc>{u}</loc></url>" for u in locs
        ) + "</urlset>"

    def index(*locs):
        return "<sitemapindex>" + "".join(
            f"<sitemap><loc>{u}</loc></sitemap>" for u in locs
        ) + "</sitemapindex>"

    # root index -> {a.xml (pages), idx2.xml (nested index), gone.xml
    # (not in the archive), broken.xml (archived as NULL)}; idx2 ->
    # b.xml (pages). A second root doc is a plain urlset.
    root = index(
        "http://ex.com/a.xml",
        "http://ex.com/idx2.xml",
        "http://ex.com/gone.xml",
        "http://ex.com/broken.xml",
    )
    archive = {
        "http://ex.com/a.xml": urlset("http://ex.com/p1", "http://ex.com/p2"),
        "http://ex.com/idx2.xml": index("http://ex.com/b.xml"),
        "http://ex.com/b.xml": urlset("http://ex.com/p3"),
        "http://ex.com/broken.xml": None,
    }
    arc_df = spark.createDataFrame(
        list(archive.items()), "loc string, blob string"
    )
    df = spark.createDataFrame(
        [(1, root), (2, urlset("http://ex.com/q1"))],
        "doc_id long, sitemap_xml string",
    )

    def fetch(locs):
        return locs.join(arc_df, on="loc", how="inner").select(
            "doc_id", "loc", F.col("blob").alias("sitemap_xml")
        )

    def snap(out):
        return {
            (r["doc_id"], r["loc"], r["is_index"]) for r in out.collect()
        }

    full = snap(expand_sitemap_index(df, fetch, max_depth=2))
    assert full == {
        (1, "http://ex.com/p1", False),
        (1, "http://ex.com/p2", False),
        (1, "http://ex.com/p3", False),          # two levels deep
        (1, "http://ex.com/gone.xml", True),     # not in the archive
        (1, "http://ex.com/broken.xml", True),   # NULL blob = unfetched
        (2, "http://ex.com/q1", False),
    }

    # depth 1: idx2 is OPENED at the one fetch round, so b.xml is
    # discovered but not yet fetched — reported as a pending index
    shallow = snap(expand_sitemap_index(df, fetch, max_depth=1))
    assert (1, "http://ex.com/b.xml", True) in shallow
    assert (1, "http://ex.com/p3", False) not in shallow
    assert (1, "http://ex.com/p1", False) in shallow

    # depth 0: explode-only, every index loc reported unopened
    zero = snap(expand_sitemap_index(df, fetch, max_depth=0))
    assert zero == {
        (1, "http://ex.com/a.xml", True),
        (1, "http://ex.com/idx2.xml", True),
        (1, "http://ex.com/gone.xml", True),
        (1, "http://ex.com/broken.xml", True),
        (2, "http://ex.com/q1", False),
    }

    with pytest.raises(ValueError, match="max_depth"):
        expand_sitemap_index(df, fetch, max_depth=-1)


def test_canonicalize_url_v3_nonascii_collapse(spark):
    """CANONICALIZER_VERSION 3: raw non-ASCII in path/query
    percent-encodes to upper-hex UTF-8 triplets, so every spelling of
    the same page (raw é, lower-hex, upper-hex) yields ONE all-ASCII
    canonical key — the double-fetch the v2 frontier would have paid.
    Hosts stay un-percent-encoded (IDNA's job)."""
    from w4h_integrated_toolkit_spark.operators.web import (
        CANONICALIZER_VERSION,
        canonicalize_url,
    )

    assert CANONICALIZER_VERSION == 3
    urls = [
        "http://ex.com/café?x=é",
        "http://ex.com/caf%C3%A9?x=%C3%A9",
        "http://ex.com/caf%c3%a9?x=%c3%a9",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    keys = [
        r["k"]
        for r in df.select(canonicalize_url(F.col("url")).alias("k")).collect()
    ]
    assert keys == ["http://ex.com/caf%C3%A9?x=%C3%A9"] * 3
    assert all(k.isascii() for k in keys)


def test_robots_published_match_examples():
    """The RFC 9309 / Google robots.txt spec's own PUBLISHED matching
    examples, table-driven against parse_robots' compiled patterns and
    the longest-match/allow-ties precedence fold — the same public
    vectors every conformant crawler is checked against. Driver-side
    (no Spark): the Column fold is equivalence-pinned elsewhere; this
    pins the COMPILER against published truth."""
    import re as _re

    from w4h_integrated_toolkit_spark.operators.web import parse_robots

    def verdict(rules, target):
        # the robots_filter fold in Python: among matching rules take
        # max (octets, allow); no match -> implicit allow
        hits = [(plen, allow) for allow, rx, plen in rules
                if _re.match(rx, target)]
        if not hits:
            return True
        return max(hits)[1]

    def rules_for(*lines):
        return parse_robots(
            "User-agent: *\n" + "".join(f"{ln}\n" for ln in lines), "bot"
        )

    # --- published path-matching examples (one Disallow rule each:
    # matched target => blocked) ---
    matrix = [
        ("/fish", {
            "/fish": False, "/fish.html": False, "/fishheads": False,
            "/fish/salmon.html": False, "/fish.php?id=anything": False,
            "/Fish.asp": True, "/catfish": True, "/?id=fish": True,
        }),
        ("/fish*", {   # equivalent to /fish per the spec
            "/fish": False, "/fishheads/yummy.html": False,
            "/Fish.PHP": True, "/desert/fish": True,
        }),
        ("/fish/", {
            "/fish/": False, "/fish/salmon.htm": False,
            "/fish/?id=anything": False,
            "/fish": True, "/fish.html": True, "/Fish/Salmon.asp": True,
        }),
        ("/*.php", {
            "/index.php": False, "/filename.php": False,
            "/folder/filename.php": False,
            "/folder/filename.php?parameters": False,
            "/folder/any.php.file.html": False, "/filename.php/": False,
            "/": True, "/windows.PHP": True,
        }),
        ("/*.php$", {
            "/filename.php": False, "/folder/filename.php": False,
            "/filename.php?parameters": True, "/filename.php/": True,
            "/filename.php5": True, "/windows.PHP": True,
        }),
        ("/fish*.php", {
            "/fish.php": False, "/fishheads/catfish.php?parameters": False,
            "/Fish.PHP": True,
        }),
    ]
    for pattern, targets in matrix:
        rules = rules_for(f"Disallow: {pattern}")
        for target, allowed in targets.items():
            assert verdict(rules, target) is allowed, (pattern, target)

    # --- published order-of-precedence examples ---
    prec = [
        (["Allow: /p", "Disallow: /"], "/page", True),
        (["Allow: /folder", "Disallow: /folder"], "/folder/page", True),
        (["Allow: /page", "Disallow: /*.htm"], "/page.htm", False),
        (["Allow: /$", "Disallow: /"], "/", True),
        (["Allow: /$", "Disallow: /"], "/page.htm", False),
    ]
    for lines, target, allowed in prec:
        assert verdict(rules_for(*lines), target) is allowed, (lines, target)


def test_schedule_frontier_politeness_offsets(spark):
    """schedule_frontier: per-host fetch offsets honor each host's
    crawl-delay ((k-1)×delay within a host, deterministic ordering),
    case-variant host spellings share ONE ladder whose delay is the
    host's strictest (max) across rows — two t+0 fetches at one server
    and a NULL-delay row undercutting the published spacing were both
    review-caught — NULL delay falls to the default floor everywhere,
    NULL host gets a NULL offset (unfetchable), priority ordering flips
    with ascending=False, and the plan carries exactly ONE exchange
    (the two same-partitioning windows share it)."""
    import re as _re

    from w4h_integrated_toolkit_spark.operators.web import schedule_frontier

    df = spark.createDataFrame(
        [
            ("u1", "a.com", 2.5, 10),
            ("u2", "A.COM", None, 30),  # case variant + NULL delay: one
                                        # ladder, strictest delay wins
            ("u3", "a.com", 2.5, 20),
            ("v1", "b.com", None, 1),   # no published delay -> default
            ("v2", "b.com", None, 2),
            ("w1", None, None, 5),      # malformed URL: no host
        ],
        "url string, host string, crawl_delay double, prio long",
    )
    out = schedule_frontier(df)
    got = {r["url"]: r["fetch_offset_s"] for r in out.collect()}
    assert got == {"u1": 0.0, "u2": 2.5, "u3": 5.0,
                   "v1": 0.0, "v2": 1.0, "w1": None}

    # priority ordering: highest prio fetches first with ascending=False
    by_prio = schedule_frontier(df, order_col="prio", ascending=False)
    got2 = {r["url"]: r["fetch_offset_s"] for r in by_prio.collect()}
    assert got2["u2"] == 0.0 and got2["u3"] == 2.5 and got2["u1"] == 5.0

    with pytest.raises(ValueError, match="already exists"):
        schedule_frontier(out)

    # fresh frame: an executed AQE plan prints Final + Initial and
    # double-counts the exchange
    plan = schedule_frontier(df)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert len(_re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan[:800]
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_duplicated_spans_cross_doc_exact_intervals(spark):
    """duplicated_spans: the shared 30-token run is reported as ONE merged
    interval per doc covering exactly the copied region (start at each
    doc's own offset, end exclusive = start + 30, n_matched = 30-k+1
    overlapping window starts), the fully-unique doc emits nothing, and a
    doc shorter than k emits nothing. within_doc=False must NOT flag the
    intra-doc repeated run; within_doc=True adds both copies as separate
    islands (they sit > k unique tokens apart)."""
    from w4h_integrated_toolkit_spark.operators.dedup import duplicated_spans

    shared = " ".join(f"s{i}" for i in range(30))
    rep = " ".join(f"r{i}" for i in range(25))
    df = spark.createDataFrame(
        [
            (1, "a1 a2 a3 a4 a5 " + shared + " z1 z2"),
            (2, "b1 b2 " + shared + " y1 y2 y3"),
            (3, " ".join(f"u{i}" for i in range(40))),  # unique
            (4, rep + " " + " ".join(f"m{i}" for i in range(30)) + " " + rep),
            (5, "t1 t2 t3"),  # shorter than k
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.start_tok, r.end_tok, r.n_matched)
        for r in duplicated_spans(df, k=20).collect()
    }
    assert got == {(1, 5, 35, 11), (2, 2, 32, 11)}

    got_w = {
        (r.doc_id, r.start_tok, r.end_tok, r.n_matched)
        for r in duplicated_spans(df, k=20, within_doc=True).collect()
    }
    assert got_w == {
        (1, 5, 35, 11),
        (2, 2, 32, 11),
        (4, 0, 25, 6),
        (4, 55, 80, 6),
    }


def test_strip_duplicated_spans_cuts_only_the_copied_region(spark):
    """strip_duplicated_spans: affected docs lose exactly the duplicated
    tokens (unique prefix/suffix survive in order, single-space-joined);
    unaffected docs keep their text BYTE-FOR-BYTE (including original
    whitespace — the rewrite touches only what it cuts); re-running
    detection on the stripped corpus finds nothing; and a precomputed
    spans frame is honored (policy-filtered subset strips only itself)."""
    from w4h_integrated_toolkit_spark.operators.dedup import (
        duplicated_spans,
        strip_duplicated_spans,
    )

    shared = " ".join(f"s{i}" for i in range(30))
    df = spark.createDataFrame(
        [
            (1, "a1 a2 a3 a4 a5 " + shared + " z1 z2"),
            (2, "b1 b2 " + shared + " y1 y2 y3"),
            (3, "u1  u2\tu3"),  # unaffected: odd whitespace must survive
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.text for r in strip_duplicated_spans(df, k=20).collect()}
    assert out[1] == "a1 a2 a3 a4 a5 z1 z2"
    assert out[2] == "b1 b2 y1 y2 y3"
    assert out[3] == "u1  u2\tu3"
    assert duplicated_spans(strip_duplicated_spans(df, k=20), k=20).count() == 0

    # precomputed-spans path: filter to doc 1 only -> doc 2 untouched
    spans = duplicated_spans(df, k=20).filter("doc_id = 1")
    out2 = {
        r.doc_id: r.text
        for r in strip_duplicated_spans(df, spans=spans).collect()
    }
    assert out2[1] == "a1 a2 a3 a4 a5 z1 z2"
    assert out2[2] == "b1 b2 " + shared + " y1 y2 y3"


def test_duplicated_spans_stride_sampling_still_finds_long_runs(spark):
    """stride > 1 (content-defined 1/stride position sampling): a LONG
    shared run (120 tokens, 101 windows at k=20) is still detected in
    both docs — content-defined selection keeps the same relative offsets
    in both copies even though the copies sit at different absolute
    offsets (a fixed positional stride would miss misaligned copies) —
    and the reported interval covers the bulk of the true copied region
    (edges are window-quantized under sampling). Deterministic: selection
    depends only on the fixed token content."""
    from w4h_integrated_toolkit_spark.operators.dedup import duplicated_spans

    run = " ".join(f"s{i}" for i in range(120))
    pre1 = " ".join(f"a{i}" for i in range(7))
    pre2 = " ".join(f"b{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, pre1 + " " + run), (2, pre2 + " " + run + " z1")],
        "doc_id long, text string",
    )
    rows = duplicated_spans(df, k=20, stride=4).collect()
    by_doc = {r.doc_id: r for r in rows}
    assert set(by_doc) == {1, 2}
    true_start = {1: 7, 2: 10}
    for doc, r in by_doc.items():
        lo, hi = true_start[doc], true_start[doc] + 120
        assert lo <= r.start_tok and r.end_tok <= hi, (doc, r)
        assert (r.end_tok - r.start_tok) >= 100, (doc, r)


def test_duplicated_spans_plan_is_jvm_only_three_exchanges(spark):
    """Plan pin: detection is pure JVM (no MapInPandas/BatchEvalPython),
    no CartesianProduct, and exactly THREE exchanges pre-AQE — the
    position-row sort for the semi join, the skew-proof (h1, h2) stats
    aggregate, and the per-doc island window; the final (id, island)
    aggregate must REUSE the window's hash-partitioning (grouping on a
    superset of the partition key adds no exchange). Validation raises on
    nonsense k/stride."""
    import re as _re

    import pytest as _pytest

    from w4h_integrated_toolkit_spark.operators.dedup import duplicated_spans

    df = spark.createDataFrame(
        [(1, "w1 w2 w3 w4 w5"), (2, "w1 w2 w3 w4 w6")],
        "doc_id long, text string",
    )
    plan = duplicated_spans(df, k=3)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert len(_re.findall(r"\(\d+\) Exchange\b", plan)) == 3, plan[:1500]
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # the island-merge aggregate pair sits directly on the Window output:
    # no Exchange between the Window and the final HashAggregate
    nodes = _re.findall(r"\(\d+\) (\w+)", plan)
    last_window = max(i for i, n in enumerate(nodes) if n == "Window")
    assert "Exchange" not in nodes[last_window:], nodes[last_window:]

    with _pytest.raises(ValueError, match="k must be"):
        duplicated_spans(df, k=0)
    with _pytest.raises(ValueError, match="stride must be"):
        duplicated_spans(df, k=3, stride=0)

    from w4h_integrated_toolkit_spark.operators.dedup import (
        strip_duplicated_spans,
    )

    with _pytest.raises(ValueError, match="_ivs"):
        strip_duplicated_spans(df.withColumn("_ivs", df.doc_id), k=3)


# --------------------------------------------------------------------------
# gopher_quality_flags — the published Gopher rule set (Rae et al. 2021)
# --------------------------------------------------------------------------

def test_gopher_flags_hand_model_stats(spark):
    from w4h_integrated_toolkit_spark.operators.text import gopher_quality_flags

    # "the cat\nthe cat\nbird x": 6 words, 17 non-space chars, one
    # duplicated line ("the cat" x2, second occurrence = 7 dup chars of
    # 20 line chars), stopword hits = {the} = 1
    df = spark.createDataFrame(
        [Row(doc_id=1, text="the cat\nthe cat\nbird x")],
        "doc_id long, text string",
    )
    r = gopher_quality_flags(df).collect()[0]
    assert r["n_words"] == 6
    assert r["mean_word_len"] == pytest.approx(17 / 6)
    assert r["symbol_word_ratio"] == 0.0
    assert r["bullet_line_frac"] == 0.0
    assert r["ellipsis_line_frac"] == 0.0
    assert r["alpha_word_frac"] == 1.0
    assert r["stopword_hits"] == 1
    assert r["dup_line_frac"] == pytest.approx(1 / 3)
    assert r["dup_line_char_frac"] == pytest.approx(7 / 20)
    # every violated rule named: 6 < 50 words, mean 2.83 < 3, 1 stop word,
    # dup_line_frac 0.33 > 0.3, dup_char_frac 0.35 > 0.2
    assert sorted(r["fail_reasons"]) == [
        "dup_line_chars",
        "dup_lines",
        "mean_word_len",
        "stopwords",
        "word_count",
    ]
    assert r["passes"] is False


def test_gopher_flags_clean_doc_passes(spark):
    from w4h_integrated_toolkit_spark.operators.text import gopher_quality_flags

    # 60 distinct-ish words over 4 distinct lines, plenty of stop words
    lines = [
        "the quick brown fox jumps over and over with great speed today",
        "that old dog would have slept through most of the long morning",
        "every word here carries letters and the mean length stays sane",
        "numbers like 42 appear rarely so alpha fraction remains high up",
        "finally one more line of plain text to clear the word minimum",
    ]
    df = spark.createDataFrame(
        [Row(doc_id=1, text="\n".join(lines))], "doc_id long, text string"
    )
    r = gopher_quality_flags(df).collect()[0]
    assert r["n_words"] >= 50
    assert r["fail_reasons"] == []
    assert r["passes"] is True


def test_gopher_flags_rule_attribution(spark):
    from w4h_integrated_toolkit_spark.operators.text import gopher_quality_flags

    filler = (
        "the quick brown fox jumps over and over with great speed today "
        "that old dog would have slept through most of the long morning "
        "every word here carries letters and the mean length stays sane "
        "more plain words follow to keep every other rule clearly green"
    )
    df = spark.createDataFrame(
        [
            # all lines bulleted (lines kept distinct: dup rules stay green)
            Row(doc_id=1, text="\n".join(f"- {filler} {i}" for i in range(3))),
            # every line ends with an ellipsis (both spellings, distinct)
            Row(
                doc_id=2,
                text=f"{filler} one...\n{filler} two…\n{filler} three...",
            ),
            # same line repeated: dup_line_frac 2/3, dup chars 2/3
            Row(doc_id=3, text=f"{filler}\n{filler}\n{filler}"),
            # symbol spam: '#' per word
            Row(
                doc_id=4,
                text=" ".join(f"#{w}" for w in filler.split()),
            ),
            # empty doc: guards, no div-by-zero
            Row(doc_id=5, text="   "),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in gopher_quality_flags(df).collect()}
    assert out[1]["fail_reasons"] == ["bullet_lines"]
    assert out[1]["bullet_line_frac"] == 1.0
    assert out[2]["fail_reasons"] == ["ellipsis_lines"]
    assert out[2]["ellipsis_line_frac"] == 1.0
    assert sorted(out[3]["fail_reasons"]) == ["dup_line_chars", "dup_lines"]
    assert out[3]["dup_line_frac"] == pytest.approx(2 / 3)
    assert out[3]["dup_line_char_frac"] == pytest.approx(2 / 3)
    assert "symbol_word_ratio" in out[4]["fail_reasons"]
    assert out[4]["symbol_word_ratio"] == pytest.approx(1.0)
    assert out[5]["n_words"] == 0 and out[5]["passes"] is False
    assert "word_count" in out[5]["fail_reasons"]


def test_gopher_flags_zero_shuffle_plan(spark):
    import re as _re

    from w4h_integrated_toolkit_spark.operators.text import gopher_quality_flags

    df = spark.createDataFrame(
        [(1, "a b c")], "doc_id long, text string"
    )
    plan = gopher_quality_flags(df)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "Exchange" not in plan, plan[:1500]
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_gopher_flags_quoted_column_and_numeric_thresholds(spark):
    """The text column is quoted as an identifier (a name with a space
    or a backtick still resolves) and every threshold renders as a finite
    DOUBLE literal, whatever real number type it arrives as."""
    from decimal import Decimal

    import numpy as np

    from w4h_integrated_toolkit_spark.operators.text import gopher_quality_flags

    text = "the cat\nthe cat\nbird x"
    plain = gopher_quality_flags(
        spark.createDataFrame([(1, text)], "doc_id long, text string")
    ).collect()
    for name in ("body text", "odd`name"):
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        got = gopher_quality_flags(df.withColumnRenamed("text", name), text=name)
        assert got.collect() == plain
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    for kw in (
        {"min_mean_word_len": np.float64(2.5), "max_dup_line_frac": np.float64(0.5)},
        {"min_mean_word_len": Decimal("2.5"), "max_dup_line_frac": np.float32(0.5)},
    ):
        r = gopher_quality_flags(df, min_words=np.int64(6), **kw).collect()[0]
        # 6 words, mean 2.83 >= 2.5 and 1/3 dup lines <= 0.5 now pass;
        # stop words and dup chars still fail
        assert sorted(r["fail_reasons"]) == ["dup_line_chars", "stopwords"]
    for bad in (float("nan"), float("inf"), np.float64("-inf")):
        with pytest.raises(ValueError, match="max_symbol_word_ratio"):
            gopher_quality_flags(df, max_symbol_word_ratio=bad)


# --------------------------------------------------------------------------
# c4_clean_lines — the published C4 cleaning pass (Raffel et al. 2020)
# --------------------------------------------------------------------------

def test_c4_clean_lines_hand_vectors(spark):
    from w4h_integrated_toolkit_spark.operators.text import c4_clean_lines

    good = "this line has the five words."
    df = spark.createDataFrame(
        [
            # 3 surviving lines -> kept doc; bad lines surgically removed
            Row(
                doc_id=1,
                text=(
                    f"{good}\n"
                    "no terminal punctuation here so dropped\n"
                    "Short line.\n"  # < 5 words
                    "enable JavaScript to view this content.\n"  # marker
                    f"{good.upper()}\n"
                    'a quoted ending also counts now."\n'
                    f"{good}"  # no newline at end
                ),
            ),
            # only 2 survivors -> doc dropped, cleaned text still emitted
            Row(doc_id=2, text=f"{good}\n{good}\nnope"),
            # lorem ipsum anywhere kills the page even if lines are fine
            Row(doc_id=3, text=f"{good}\n{good}\nLorem Ipsum dolor sit amet."),
            # code page: '{' kills it
            Row(doc_id=4, text=f"{good}\n{good}\nvar x = {{a: 1}}; done now."),
            Row(doc_id=5, text=""),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in c4_clean_lines(df).collect()}
    assert out[1]["doc_kept"] is True
    assert out[1]["n_lines_kept"] == 4 and out[1]["n_lines_dropped"] == 3
    assert out[1]["text"].split("\n") == [
        good,
        good.upper(),
        'a quoted ending also counts now."',
        good,
    ]
    assert out[2]["doc_kept"] is False and out[2]["n_lines_kept"] == 2
    assert out[2]["text"] == f"{good}\n{good}"
    assert out[3]["doc_kept"] is False and out[3]["n_lines_kept"] == 3
    assert out[4]["doc_kept"] is False
    assert out[5]["doc_kept"] is False and out[5]["text"] == ""

    with pytest.raises(ValueError, match="min_line_words"):
        c4_clean_lines(df, min_line_words=-1)


def test_c4_clean_lines_zero_shuffle_plan(spark):
    from w4h_integrated_toolkit_spark.operators.text import c4_clean_lines

    df = spark.createDataFrame([(1, "a b.")], "doc_id long, text string")
    plan = c4_clean_lines(df)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "Exchange" not in plan, plan[:1500]
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


# --------------------------------------------------------------------------
# duplicate_paragraphs / strip_duplicate_paragraphs (CCNet/Dolma shape)
# --------------------------------------------------------------------------

def _para_docs(spark):
    return spark.createDataFrame(
        [
            Row(doc_id=1, text="unique one\nBOILERPLATE\nunique two"),
            Row(doc_id=2, text="BOILERPLATE\nother text"),
            # trim-matched copy: leading/trailing whitespace never
            # distinguishes paragraphs
            Row(doc_id=3, text="  BOILERPLATE \nmore stuff"),
            Row(doc_id=4, text="totally unrelated"),
        ],
        "doc_id long, text string",
    )


def test_duplicate_paragraphs_flags_cross_doc_copies(spark):
    from w4h_integrated_toolkit_spark.operators.dedup import duplicate_paragraphs

    out = {
        (r["doc_id"], r["para_idx"]): r
        for r in duplicate_paragraphs(_para_docs(spark)).collect()
    }
    # exactly the three BOILERPLATE occurrences, nothing else
    assert sorted(out) == [(1, 1), (2, 0), (3, 0)]
    assert all(r["n_copies"] == 3 for r in out.values())
    # canonical first = minimum (doc_id, para_idx)
    assert out[(1, 1)]["is_first"] is True
    assert out[(2, 0)]["is_first"] is False
    assert out[(3, 0)]["is_first"] is False


def test_duplicate_paragraphs_within_doc_and_min_chars(spark):
    from w4h_integrated_toolkit_spark.operators.dedup import duplicate_paragraphs

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="dup\nx\ndup"),
            Row(doc_id=2, text="x\ny"),
        ],
        "doc_id long, text string",
    )
    # cross-doc only: 'dup' is intra-doc, 'x' is cross-doc
    cross = {
        (r["doc_id"], r["para_idx"])
        for r in duplicate_paragraphs(df).collect()
    }
    assert cross == {(1, 1), (2, 0)}
    # within_doc adds the intra-doc 'dup' pair
    within = {
        (r["doc_id"], r["para_idx"])
        for r in duplicate_paragraphs(df, within_doc=True).collect()
    }
    assert within == {(1, 0), (1, 1), (1, 2), (2, 0)}
    # min_chars=2 drops every 1-char unit from consideration
    mc = {
        (r["doc_id"], r["para_idx"])
        for r in duplicate_paragraphs(df, min_chars=2, within_doc=True).collect()
    }
    assert mc == {(1, 0), (1, 2)}

    with pytest.raises(ValueError, match="min_chars"):
        duplicate_paragraphs(df, min_chars=0)


def test_strip_duplicate_paragraphs_keep_first_policy(spark):
    from w4h_integrated_toolkit_spark.operators.dedup import (
        strip_duplicate_paragraphs,
    )

    df = _para_docs(spark)
    kept = {
        r["doc_id"]: r["text"]
        for r in strip_duplicate_paragraphs(df).collect()
    }
    # doc 1 holds the canonical first occurrence -> byte-identical
    assert kept[1] == "unique one\nBOILERPLATE\nunique two"
    assert kept[2] == "other text"
    assert kept[3] == "more stuff"
    assert kept[4] == "totally unrelated"

    # decontamination policy: every occurrence cut
    all_cut = {
        r["doc_id"]: r["text"]
        for r in strip_duplicate_paragraphs(df, keep_first=False).collect()
    }
    assert all_cut[1] == "unique one\nunique two"
    assert all_cut[2] == "other text"


def test_strip_duplicate_paragraphs_preserves_blank_structure(spark):
    from w4h_integrated_toolkit_spark.operators.dedup import (
        strip_duplicate_paragraphs,
    )

    df = spark.createDataFrame(
        [
            Row(doc_id=5, text="a b c d.\n\nDUP PARA HERE\nend bit."),
            Row(doc_id=6, text="DUP PARA HERE\nc"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["text"]
        for r in strip_duplicate_paragraphs(df).collect()
    }
    # doc 5 holds the first occurrence: byte-identical incl. blank line
    assert out[5] == "a b c d.\n\nDUP PARA HERE\nend bit."
    assert out[6] == "c"

    with pytest.raises(ValueError, match="_drop_idx"):
        strip_duplicate_paragraphs(df.withColumn("_drop_idx", df.doc_id))


def test_duplicate_paragraphs_plan_jvm_only(spark):
    from w4h_integrated_toolkit_spark.operators.dedup import duplicate_paragraphs

    plan = duplicate_paragraphs(_para_docs(spark))._jdf.queryExecution(
    ).explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    # paragraph bodies never reach an exchange: every Exchange moves only
    # id/idx/hash/count columns, no string column
    import re as _re

    for m in _re.finditer(r"\(\d+\) Exchange\b.*?\nInput \[\d+\]: \[([^\]]*)\]", plan):
        assert "_t" not in m.group(1) and "_p" not in m.group(1), m.group(0)


# --------------------------------------------------------------------------
# fit_hashed_logodds / hashed_linear_score — the hashed linear classifier
# --------------------------------------------------------------------------

def _clf_corpus(spark):
    rows = []
    for i in range(8):
        rows.append(Row(doc_id=i, text="good solid prose here", label=True))
        rows.append(
            Row(doc_id=100 + i, text="spam junk noise tokens", label=False)
        )
    # mixed doc so both classes share some mass
    rows.append(Row(doc_id=50, text="good junk", label=True))
    return spark.createDataFrame(
        rows, "doc_id long, text string, label boolean"
    )


def test_fit_hashed_logodds_matches_nb_model(spark):
    import math

    from w4h_integrated_toolkit_spark.operators.text import (
        feature_hashing,
        fit_hashed_logodds,
        hashed_linear_score,
    )

    df = _clf_corpus(spark)
    B, a = 64, 1.0
    w = fit_hashed_logodds(df, n_buckets=B, alpha=a)
    rows = w.collect()
    # n_buckets weight rows + exactly one bias row
    assert len(rows) == B + 1
    weights = {r["bucket"]: r["weight"] for r in rows}
    # literal NB re-derivation from the (gated) feature_hashing output
    feats = feature_hashing(df, B).collect()
    lab = {r["doc_id"]: r["label"] for r in df.collect()}
    cp, cn = {}, {}
    for r in feats:
        tgt = cp if lab[r["doc_id"]] else cn
        tgt[r["bucket"]] = tgt.get(r["bucket"], 0) + r["cnt"]
    Tp, Tn = sum(cp.values()), sum(cn.values())
    npos = sum(1 for v in lab.values() if v)
    nneg = len(lab) - npos
    for b in range(B):
        exp = math.log((cp.get(b, 0) + a) / (Tp + a * B)) - math.log(
            (cn.get(b, 0) + a) / (Tn + a * B)
        )
        assert weights[b] == pytest.approx(exp, rel=1e-12), b
    assert weights[-1] == pytest.approx(
        math.log((npos + a) / (nneg + a)), rel=1e-12
    )

    # normalize=False scoring == the literal NB log posterior odds
    scored = {
        r["doc_id"]: r
        for r in hashed_linear_score(df, w, n_buckets=B, normalize=False).collect()
    }
    for d in (0, 100, 50):
        toks = {r["bucket"]: r["cnt"] for r in feats if r["doc_id"] == d}
        exp_z = weights[-1] + sum(c * weights[b] for b, c in toks.items())
        assert scored[d]["z"] == pytest.approx(exp_z, rel=1e-12)
        assert scored[d]["p"] == pytest.approx(
            1.0 / (1.0 + math.exp(-exp_z)), rel=1e-12
        )
    # separability: every positive doc outscores every negative doc
    zs_pos = [scored[i]["z"] for i in range(8)]
    zs_neg = [scored[100 + i]["z"] for i in range(8)]
    assert min(zs_pos) > max(zs_neg)

    with pytest.raises(ValueError, match="n_buckets"):
        fit_hashed_logodds(df, n_buckets=0)
    with pytest.raises(ValueError, match="alpha"):
        fit_hashed_logodds(df, alpha=0.0)


def test_hashed_logodds_model_store_round_trip(spark, tmp_path):
    from w4h_integrated_toolkit_spark.operators.text import (
        fit_hashed_logodds,
        hashed_linear_score,
    )
    from w4h_integrated_toolkit_spark.sources.models import (
        load_model,
        save_model,
    )

    from w4h_integrated_toolkit_spark.operators.text import (
        FEATURE_HASH_VERSION,
    )

    df = _clf_corpus(spark)
    B = 32
    params = {
        "kind": "hashed_logodds",
        "n_buckets": B,
        "alpha": 1.0,
        "feature_hash_version": FEATURE_HASH_VERSION,
    }
    w = fit_hashed_logodds(df, n_buckets=B)
    store = str(tmp_path / "quality_clf")
    save_model(spark, store, w, params)
    loaded, stored = load_model(spark, store, expect_params=params)
    direct = {
        r["doc_id"]: r["z"]
        for r in hashed_linear_score(df, w, n_buckets=B).collect()
    }
    via_store = {
        r["doc_id"]: r["z"]
        for r in hashed_linear_score(df, loaded, n_buckets=B).collect()
    }
    assert via_store == direct

    # a model fitted under a different hash width must fail loud
    with pytest.raises(ValueError, match="n_buckets"):
        load_model(
            spark, store, expect_params={"kind": "hashed_logodds", "n_buckets": 64}
        )

    # a model persisted under an OLDER feature-hash format (tokenizer/
    # hash family) must fail loud at load, not score drifted — the
    # ADVICE r15 #4 stamp; v1 is the phantom-''-token tokenizer
    with pytest.raises(ValueError, match="feature_hash_version"):
        load_model(
            spark,
            store,
            expect_params={**params, "feature_hash_version": 1},
        )


def test_hashed_linear_score_broadcasts_model(spark):
    from w4h_integrated_toolkit_spark.operators.text import (
        fit_hashed_logodds,
        hashed_linear_score,
    )

    df = _clf_corpus(spark)
    w = fit_hashed_logodds(df, n_buckets=16)
    plan = hashed_linear_score(df, w, n_buckets=16)._jdf.queryExecution(
    ).explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan

    # two bias rows must be rejected
    import pyspark.sql.functions as SF

    bad = w.unionByName(
        spark.createDataFrame([(-1, 0.5)], "bucket long, weight double")
    )
    with pytest.raises(ValueError, match="bias rows"):
        hashed_linear_score(df, bad, n_buckets=16)


def test_classifier_fail_loud_guards(spark):
    from w4h_integrated_toolkit_spark.operators.text import (
        fit_hashed_logodds,
        hashed_linear_score,
    )

    # NULL label: the fit must refuse, not silently drop labeled docs
    df = spark.createDataFrame(
        [(1, "a b c", True), (2, "d e f", None), (3, "g h", False)],
        "doc_id long, text string, label boolean",
    )
    with pytest.raises(ValueError, match="NULL 'label'"):
        fit_hashed_logodds(df, n_buckets=8)

    # duplicate bucket rows: the score must refuse, not double-count
    ok = df.filter("label is not null")
    w = fit_hashed_logodds(ok, n_buckets=8)
    dup = w.unionByName(
        spark.createDataFrame([(3, 0.1)], "bucket long, weight double")
    )
    with pytest.raises(ValueError, match="duplicate bucket"):
        hashed_linear_score(ok, dup, n_buckets=8)


# --------------------------------------------------------------------------
# DSIR — fit_dsir_logratios / dsir_resample (Xie et al. 2023)
# --------------------------------------------------------------------------

def _py_bucket(tok, B):
    import hashlib

    return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % 2147483647 % B


def _dsir_corpora(spark):
    target = spark.createDataFrame(
        [(i, "physics theorem proof lemma") for i in range(4)]
        + [(4, "theorem proof")],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [(100 + i, "casino jackpot spins bonus") for i in range(6)]
        + [(200 + i, "physics theorem discussion") for i in range(2)]
        + [(300, "proof lemma casino")],
        "doc_id long, text string",
    )
    return target, raw


def test_fit_dsir_logratios_matches_python_model(spark):
    """The DSIR fit law vs a literal Python re-derivation: per-bucket
    smoothed log count-ratios between the target and raw unigram
    models, exactly n_buckets rows, and hashed_linear_score with
    normalize=False reproduces the per-doc log importance weight."""
    import math

    from w4h_integrated_toolkit_spark.operators.text import (
        dsir_resample,
        fit_dsir_logratios,
        hashed_linear_score,
    )

    target, raw = _dsir_corpora(spark)
    B, a = 32, 1.0
    w = fit_dsir_logratios(target, raw, n_buckets=B, alpha=a)
    rows = w.collect()
    assert len(rows) == B  # no bias bucket
    got = {r["bucket"]: r["weight"] for r in rows}

    def counts(df):
        out = {}
        for r in df.collect():
            for t in r["text"].strip().lower().split():
                b = _py_bucket(t, B)
                out[b] = out.get(b, 0) + 1
        return out

    ct, cr = counts(target), counts(raw)
    Tt, Tr = sum(ct.values()), sum(cr.values())
    for b in range(B):
        exp = math.log((ct.get(b, 0) + a) / (Tt + a * B)) - math.log(
            (cr.get(b, 0) + a) / (Tr + a * B)
        )
        assert got[b] == pytest.approx(exp, rel=1e-12), b

    # per-doc log importance == sum_b cnt_b * w_b (bias 0: no -1 bucket)
    pool = raw  # score the raw pool, the DSIR setting
    scored = {
        r["doc_id"]: r["z"]
        for r in hashed_linear_score(
            pool, w, n_buckets=B, normalize=False
        ).collect()
    }
    for r in pool.collect():
        toks = r["text"].strip().lower().split()
        exp_z = sum(got[_py_bucket(t, B)] for t in toks)
        assert scored[r["doc_id"]] == pytest.approx(exp_z, rel=1e-12)

    # target-like raw docs carry HIGHER importance than off-target ones
    assert min(scored[200], scored[201]) > max(
        scored[100 + i] for i in range(6)
    )

    with pytest.raises(ValueError, match="n_buckets"):
        fit_dsir_logratios(target, raw, n_buckets=0)
    with pytest.raises(ValueError, match="alpha"):
        fit_dsir_logratios(target, raw, alpha=0.0)
    empty = spark.createDataFrame([], "doc_id long, text string")
    with pytest.raises(Exception, match="empty corpus"):
        fit_dsir_logratios(empty, raw, n_buckets=B)
    with pytest.raises(ValueError, match="k must be"):
        dsir_resample(raw, w, k=0, n_buckets=B)
    with pytest.raises(ValueError, match="temperature"):
        dsir_resample(raw, w, k=1, n_buckets=B, temperature=0.0)


def test_dsir_resample_gumbel_topk_matches_python_model(spark):
    """The Gumbel top-k selection is DETERMINISTIC and reproduces the
    literal Python computation key-for-key: u from the portable MD5
    hash of (seed, id), key = logw/T - ln(-ln(u)), top-k by key with id
    tie-break — same selection at any partition count."""
    import hashlib
    import math

    from w4h_integrated_toolkit_spark.operators.text import (
        dsir_resample,
        fit_dsir_logratios,
    )

    target, raw = _dsir_corpora(spark)
    B, T, seed, k = 32, 1.5, 7, 4
    w = fit_dsir_logratios(target, raw, n_buckets=B)
    got = dsir_resample(
        raw, w, k=k, n_buckets=B, temperature=T, seed=seed
    ).collect()
    assert len(got) == k

    from tests.conftest import half_away_1e9

    # the operator runs the dot on 1e-9-scaled integer weights (exact
    # partition invariance); the model mirrors HALF_UP rounding
    wi = {r["bucket"]: half_away_1e9(r["weight"]) for r in w.collect()}

    def key_of(doc_id, text):
        di = sum(
            wi[_py_bucket(t, B)] for t in text.strip().lower().split()
        )
        z = di / 1e9
        h = (
            int(
                hashlib.md5(f"dsir{seed}|{doc_id}".encode()).hexdigest()[:8],
                16,
            )
            % 2147483647
        )
        u = (h + 1) / 2147483648.0
        return z / T - math.log(-math.log(u)), z

    exp = sorted(
        (
            (-key_of(r["doc_id"], r["text"])[0], r["doc_id"])
            for r in raw.collect()
        )
    )[:k]
    exp_ids = [d for _, d in exp]
    assert [r["doc_id"] for r in got] == exp_ids
    for r in got:
        ek, ez = key_of(r["doc_id"], None or _raw_text(raw, r["doc_id"]))
        assert r["key"] == pytest.approx(ek, rel=1e-12)
        assert r["logw"] == pytest.approx(ez, rel=1e-12)

    # repartition invariance: same selection under a different layout
    got7 = dsir_resample(
        raw.repartition(7), w, k=k, n_buckets=B, temperature=T, seed=seed
    ).collect()
    assert [r["doc_id"] for r in got7] == exp_ids


def _raw_text(df, doc_id):
    return {r["doc_id"]: r["text"] for r in df.collect()}[doc_id]


def test_dsir_resample_bias_model_and_overflow_guard(spark):
    """A bias-bearing model (fit_hashed_logodds) resamples correctly:
    logw equals hashed_linear_score's z up to the 1e-9 quantization
    (the bias rides as a scaled-integer constant, never a dead row);
    and a document long enough to threaten int64 headroom raises with
    the remedy instead of wrapping silently."""
    from w4h_integrated_toolkit_spark.operators.text import (
        dsir_resample,
        fit_hashed_logodds,
        hashed_linear_score,
    )

    df = _clf_corpus(spark)
    B = 32
    w = fit_hashed_logodds(df, n_buckets=B)
    sel = dsir_resample(df, w, k=5, n_buckets=B, seed=3).collect()
    assert len(sel) == 5
    zs = {
        r["doc_id"]: r["z"]
        for r in hashed_linear_score(
            df, w, n_buckets=B, normalize=False
        ).collect()
    }
    for r in sel:
        assert abs(r["logw"] - zs[r["doc_id"]]) < 1e-8, r

    # overflow guard: a model with a huge weight shrinks the token cap
    # far below this doc's count -> fail loud, never a wrapped key
    big = spark.createDataFrame(
        [(0, float(1e8))] + [(b, 0.0) for b in range(1, B)],
        "bucket long, weight double",
    )
    long_doc = spark.createDataFrame(
        [(1, " ".join(["tok"] * 200_000))], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="exceed int64"):
        dsir_resample(long_doc, big, k=1, n_buckets=B).collect()


def test_dsir_resample_plan_no_global_sort(spark):
    """Selection compiles to TakeOrderedAndProject (per-partition k-heaps)
    — never a global Sort + single-partition Exchange; scoring keeps the
    broadcast model join."""
    from w4h_integrated_toolkit_spark.operators.text import (
        dsir_resample,
        fit_dsir_logratios,
    )

    target, raw = _dsir_corpora(spark)
    w = fit_dsir_logratios(target, raw, n_buckets=16)
    plan = dsir_resample(raw, w, k=3, n_buckets=16)._jdf.queryExecution(
    ).explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


# --------------------------------------------------------------------------
# phash64_frames / hamming_neardup_pairs — perceptual image dedup
# --------------------------------------------------------------------------

def _phash_fixture(spark):
    import numpy as np

    from w4h_integrated_toolkit_spark.operators import imagecodec as IC

    base = np.fromfunction(
        lambda y, x, c: (x * 3 + y * 2 + c * 40) % 256, (48, 64, 3)
    ).astype(np.uint8)
    near = base.copy()
    near[0:4, 0:4] = 255  # small local edit
    far = (255 - base).astype(np.uint8)  # inversion flips AC signs
    rows = [
        Row(doc_id=1, frame_idx=0, frame=bytearray(IC.encode_png(base))),
        Row(doc_id=2, frame_idx=0, frame=bytearray(IC.encode_png(near))),
        Row(doc_id=3, frame_idx=0, frame=bytearray(IC.encode_png(far))),
        # same pixels as doc 1, different container: hash must be equal
        Row(doc_id=4, frame_idx=0, frame=bytearray(IC.encode_ppm(base))),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, frame_idx long, frame binary"
    )
    return df, base


def test_phash_dct_is_the_unnormalized_dct2():
    """The kernel's DCT matrix must be the UNNORMALIZED DCT-II (what
    scipy.fftpack.dct computes by default and ImageHash applies) —
    pinned against an INDEPENDENT derivation via the even-extension FFT
    trick, not against the same cosine formula. An orthonormal variant
    (the pre-r14 bug) scales row 0 differently and fails this at the
    first row."""
    import numpy as np

    n = 32
    rng = np.random.default_rng(7)
    x = rng.uniform(0, 255, size=n)

    # kernel's matrix (same construction as _phash_rows)
    k = np.arange(n)
    M = 2.0 * np.cos(np.pi * (2.0 * k[None, :] + 1.0) * k[:, None] / (2 * n))
    got = M @ x

    # independent path: DCT-II via FFT of the interleaved even extension
    # y[i] = x[2i], y[N-1-i] = x[2i+1]; DCT2[k] = 2*Re(e^{-i pi k/2N} FFT(y)[k])
    y = np.empty(n)
    y[: (n + 1) // 2] = x[::2]
    y[(n + 1) // 2:] = x[1::2][::-1]
    Y = np.fft.fft(y)
    exp = 2.0 * np.real(np.exp(-1j * np.pi * np.arange(n) / (2 * n)) * Y)
    assert np.allclose(got, exp, atol=1e-8)

    # and the orthonormal variant really is DIFFERENT (bug regression)
    Mo = np.sqrt(2.0 / n) * np.cos(
        np.pi * (2.0 * k[None, :] + 1.0) * k[:, None] / (2 * n)
    )
    Mo[0] /= np.sqrt(2.0)
    assert not np.allclose(Mo @ x, exp)


def test_phash64_known_relations_and_kernel_equality(spark):
    import pandas as pd

    from w4h_integrated_toolkit_spark.operators import imagecodec as IC
    from w4h_integrated_toolkit_spark.operators.multimodal import (
        _phash_rows,
        phash64_frames,
    )

    df, base = _phash_fixture(spark)
    got = {r["doc_id"]: r["phash"] for r in phash64_frames(df).collect()}
    assert len(got) == 4

    # Spark result == the kernel run directly (same codec, same math)
    local = _phash_rows(
        pd.DataFrame(
            {
                "doc_id": [1],
                "frame_idx": [0],
                "frame": [IC.encode_png(base)],
            }
        ),
        "doc_id",
        IC,
        8,
        4,
    )
    assert got[1] == local["phash"][0]

    def hd(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    # container-invariant: PNG and PPM of the same pixels hash identically
    assert got[1] == got[4]
    # small edit -> small distance; inversion -> large distance
    assert 0 <= hd(got[1], got[2]) <= 10
    assert hd(got[1], got[3]) >= 20

    with pytest.raises(ValueError, match="hash_size"):
        phash64_frames(df, hash_size=9)
    with pytest.raises(ValueError, match="codec"):
        phash64_frames(df, codec="bogus")


def test_hamming_pairs_finds_exactly_the_close_images(spark):
    from w4h_integrated_toolkit_spark.operators.dedup import (
        hamming_neardup_pairs,
    )
    from w4h_integrated_toolkit_spark.operators.multimodal import (
        phash64_frames,
    )

    df, _ = _phash_fixture(spark)
    hashes = phash64_frames(df).select("doc_id", "phash")
    pairs = {
        (r["id_a"], r["id_b"]): r["distance"]
        for r in hamming_neardup_pairs(hashes, max_distance=10).collect()
    }
    # 1 == 4 exactly; 2 near both; 3 (inverted) near nothing
    assert (1, 4) in pairs and pairs[(1, 4)] == 0
    assert (1, 2) in pairs and (2, 4) in pairs
    assert not any(3 in p for p in pairs)


def test_hamming_pairs_pigeonhole_and_guards(spark):
    from w4h_integrated_toolkit_spark.operators.dedup import (
        hamming_neardup_pairs,
    )

    # hand-built hashes: b differs from a in exactly 3 bits (spread so no
    # single band can hold them all at d=2), c identical to a
    a = 0x0123456789ABCDEF
    b = a ^ (1 << 0) ^ (1 << 30) ^ (1 << 62)
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, a)], "doc_id long, phash long"
    )
    at3 = {
        (r["id_a"], r["id_b"]): r["distance"]
        for r in hamming_neardup_pairs(df, max_distance=3).collect()
    }
    assert at3[(1, 2)] == 3 and at3[(2, 3)] == 3 and at3[(1, 3)] == 0
    at2 = {
        (r["id_a"], r["id_b"])
        for r in hamming_neardup_pairs(df, max_distance=2).collect()
    }
    assert at2 == {(1, 3)}  # the 3-bit pair must NOT survive verification

    # exact-duplicate flood: bucket cap drops the degenerate bucket
    flood = spark.createDataFrame(
        [(i, a) for i in range(40)], "doc_id long, phash long"
    )
    assert (
        hamming_neardup_pairs(flood, max_distance=2, max_bucket=20).count()
        == 0
    )
    # max_distance=0 full-width band edge (the (1<<64)-1 mask case)
    d0 = {
        (r["id_a"], r["id_b"])
        for r in hamming_neardup_pairs(df, max_distance=0).collect()
    }
    assert d0 == {(1, 3)}

    with pytest.raises(ValueError, match="max_distance"):
        hamming_neardup_pairs(df, max_distance=-1)
    with pytest.raises(ValueError, match="hash_bits"):
        hamming_neardup_pairs(df, hash_bits=0)
    with pytest.raises(ValueError, match="bands"):
        hamming_neardup_pairs(df, max_distance=40, hash_bits=32)


def test_hamming_pairs_multi_hash_ids_any_frame_semantics(spark):
    """ADVICE r14 #4: phash64_frames emits one row per (doc_id,
    frame_idx), so the pairing stage must tolerate duplicate ids —
    no id_a == id_b self-pairs, ONE row per distinct pair, and the
    distance is the MINIMUM over all frame-hash combinations."""
    from w4h_integrated_toolkit_spark.operators.dedup import (
        hamming_neardup_pairs,
    )

    a = 0x0123456789ABCDEF
    rows = [
        # doc 1: two frames — one far from doc 2, one 2 bits away
        (1, a ^ 0xFF00FF00),
        (1, a ^ (1 << 5) ^ (1 << 40)),
        # doc 2: two frames, one exactly `a` (dup hash within the doc)
        (2, a),
        (2, a),
        # doc 3: near nothing
        (3, ~a & ((1 << 63) - 1)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, phash long")
    got = hamming_neardup_pairs(df, max_distance=4).collect()
    assert all(r["id_a"] != r["id_b"] for r in got)
    assert len(got) == 1
    r = got[0]
    assert (r["id_a"], r["id_b"], r["distance"]) == (1, 2, 2)

    # exact semantics vs the all-pairs python model (min over combos)
    def hd(x, y):
        return bin((x ^ y) & ((1 << 64) - 1)).count("1")

    best: dict[tuple, int] = {}
    for i, (da, ha) in enumerate(rows):
        for db, hb in rows[i + 1:]:
            if da == db:
                continue
            k = (min(da, db), max(da, db))
            best[k] = min(best.get(k, 65), hd(ha, hb))
    exp = {k: v for k, v in best.items() if v <= 4}
    assert {(r["id_a"], r["id_b"]): r["distance"] for r in got} == exp


def test_hamming_pairs_plan_jvm_only_after_kernel(spark):
    from w4h_integrated_toolkit_spark.operators.dedup import (
        hamming_neardup_pairs,
    )

    df = spark.createDataFrame(
        [(1, 7), (2, 7)], "doc_id long, phash long"
    )
    plan = hamming_neardup_pairs(df, max_distance=4)._jdf.queryExecution(
    ).explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_simhash_pairs_via_hamming_neardup(spark):
    """The simhash32 -> hamming_neardup_pairs(hash_bits=32) composition:
    the generic pairing stage serves the TEXT near-dup family too, not
    just pHash — near-identical docs pair at small distance, unrelated
    docs don't."""
    from w4h_integrated_toolkit_spark.operators.dedup import (
        hamming_neardup_pairs,
        simhash32,
    )

    base = (
        "the quick brown fox jumps over the lazy dog and keeps running "
        "through the quiet field toward the old stone bridge every day"
    )
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text=base),
            Row(doc_id=2, text=base + " tonight"),  # one-word edit
            Row(
                doc_id=3,
                text=(
                    "completely different subject matter entirely numbers "
                    "42 17 99 metrics dashboards quarterly revenue report"
                ),
            ),
        ],
        "doc_id long, text string",
    )
    hashes = simhash32(df)
    pairs = {
        (r["id_a"], r["id_b"]): r["distance"]
        for r in hamming_neardup_pairs(
            hashes, max_distance=6, hash_bits=32, hash_col="simhash"
        ).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] <= 6
    assert not any(3 in p for p in pairs)
