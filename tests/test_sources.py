"""Sources/sinks: CSV round-trip, JSON micro-batch decode, GeoJSON polygons,
config-driven DDL (SURVEY §2.1 S5/S6/S9/S11/S13/S14)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from w4h_integrated_toolkit_spark.sources import (
    create_instance,
    ddl_for_config,
    list_tables,
    read_csv,
    read_geojson_polygons,
    sensor_batch_from_json,
    write_csv,
)
from tests.conftest import jobs_in


def test_csv_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [("u1", 10.5), ("u2", 20.0)], "user_id string, value double"
    )
    out = str(tmp_path / "export")
    write_csv(df, out, single_file=True)
    schema = T.StructType(
        [
            T.StructField("user_id", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    back = read_csv(spark, out, schema=schema)
    assert sorted((r.user_id, r.value) for r in back.collect()) == [
        ("u1", 10.5),
        ("u2", 20.0),
    ]


def test_sensor_batch_from_json(spark):
    payload = json.dumps(
        {
            "heart_rates": [
                {"user_id": "u1", "timestamp": "2016-08-01 12:00:00", "value": "71.0"}
            ],
            "calories": [
                {"user_id": "u1", "timestamp": "2016-08-01 12:00:00", "value": "1.2"}
            ],
            "coordinates": [
                {
                    "user_id": "u1",
                    "timestamp": "2016-08-01 12:00:00",
                    "value": "0101000020E610000000000000008052C00000000000004140",
                }
            ],
        }
    )
    payloads = spark.createDataFrame([(payload,)], "payload string")
    batches = sensor_batch_from_json(spark, payloads)
    hr = batches["heart_rates"].collect()
    assert len(hr) == 1 and hr[0]["value"] == 71.0
    assert dict(batches["heart_rates"].dtypes)["value"] == "double"
    assert dict(batches["coordinates"].dtypes)["value"] == "string"  # WKB hex kept
    assert batches["calories"].collect()[0]["timestamp"].year == 2016


def test_geojson_polygons(spark, tmp_path):
    gj = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "properties": {"name": "University Park"},
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [
                        [[-118.29, 34.02], [-118.28, 34.02], [-118.28, 34.03], [-118.29, 34.02]]
                    ],
                },
            }
        ],
    }
    p = tmp_path / "hoods.geojson"
    p.write_text(json.dumps(gj))
    rows = read_geojson_polygons(spark, str(p)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["name"] == "University Park" and r["geometry_type"] == "Polygon"
    assert r["ring"][0]["lon"] == -118.29 and r["ring"][0]["lat"] == 34.02
    assert r["wkt"].startswith("POLYGON ((-118.29 34.02,")


def test_ddl_generation_and_instance(spark):
    stmts = ddl_for_config(database="w4h_test")
    assert stmts[0].startswith("CREATE DATABASE")
    assert any("geomts_users" in s for s in stmts)
    assert any("heart_rates" in s and "PARTITIONED BY (dt)" in s for s in stmts)
    # unknown type in config must be rejected, not silently stringified
    bad = {
        "subject_table": {"name": "x", "attributes": {"user_id": "uuid"}},
        "series_tables": [],
    }
    with pytest.raises(ValueError):
        ddl_for_config(bad)

    create_instance(spark, database="w4h_test")
    tables = list_tables(spark, "w4h_test")
    assert "geomts_users" in tables and "locations" in tables
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS w4h_test.{t}")
    spark.sql("DROP DATABASE IF EXISTS w4h_test")


def test_write_sorted_files_have_disjoint_ranges(spark, tmp_path):
    """Range-clustered layout: every output file must own a disjoint
    sort-key range (tight non-overlapping footer min/max), which is what
    makes range predicates prune at file granularity."""
    import pyarrow.parquet as pq

    from w4h_integrated_toolkit_spark.catalog import read_parquet, write_sorted

    ev = read_parquet(spark, "/root/testdata/sf0.001/events.parquet")
    dest = str(tmp_path / "sorted")
    write_sorted(ev, dest, "ts", n_files=8)
    files = sorted(str(p) for p in (tmp_path / "sorted").glob("*.parquet"))
    assert len(files) == 8
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index("ts")
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"file ranges overlap: {hi1} > {lo2}"
    n = read_parquet(spark, dest).count()
    assert n == ev.count()


def test_compact_small_files_reduces_file_count(spark, tmp_path):
    """Compaction must hit the byte-targeted file count and preserve rows."""
    from w4h_integrated_toolkit_spark.catalog import compact_small_files, read_parquet

    ev = read_parquet(spark, "/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "fragmented")
    ev.repartition(50).write.parquet(src)
    n_in = sum(1 for p in (tmp_path / "fragmented").glob("*.parquet"))
    assert n_in == 50
    dest = str(tmp_path / "compacted")
    n_out = compact_small_files(spark, src, dest, target_file_mb=256)
    assert n_out == 1  # sf0.001 events << 256 MB
    assert read_parquet(spark, dest).count() == ev.count()


def test_compact_with_sort_restores_clustering(spark, tmp_path):
    """sort_col compaction routes through the range-sorted writer: output is
    both compacted and range-clustered."""
    import pyarrow.parquet as pq

    from w4h_integrated_toolkit_spark.catalog import compact_small_files, read_parquet

    ev = read_parquet(spark, "/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "frag2")
    ev.repartition(20).write.parquet(src)
    dest = str(tmp_path / "compact2")
    n_out = compact_small_files(spark, src, dest, target_file_mb=256, sort_col="ts")
    assert n_out == 1
    f = next(str(p) for p in (tmp_path / "compact2").glob("*.parquet"))
    md = pq.ParquetFile(f).metadata
    idx = md.schema.names.index("ts")
    prev_max = None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        if prev_max is not None:
            assert st.min >= prev_max  # row groups internally ordered
        prev_max = st.max


def test_geojson_feeds_geofence_join(spark, tmp_path):
    """End-to-end: GeoJSON polygons -> geofence_join -> point membership.
    The source's ring schema composes directly with the spatial join."""
    from w4h_integrated_toolkit_spark.operators.geo import geofence_join

    gj = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "properties": {"name": "campus"},
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [
                        [[-118.30, 34.01], [-118.27, 34.01],
                         [-118.27, 34.04], [-118.30, 34.04], [-118.30, 34.01]]
                    ],
                },
            }
        ],
    }
    p = tmp_path / "fence.geojson"
    p.write_text(json.dumps(gj))
    polys = read_geojson_polygons(spark, str(p)).select(
        F.col("name").alias("polygon_id"), "ring"
    )
    pts = spark.createDataFrame(
        [("inside", -118.285, 34.022), ("north", -118.285, 34.05),
         ("east", -118.26, 34.02)],
        "pid string, lon double, lat double",
    )
    got = {r["pid"] for r in geofence_join(pts, polys, cell_deg=0.05).collect()}
    assert got == {"inside"}


# ---------------------------------------------------------------------------
# JDBC arm of S1/S7 (reference storage layer is PostgreSQL: viz.py:68 reads,
# w4h_db_utils.py:173 appends). Exercised against Derby, the embedded JDBC
# database Spark ships in its own jars — a real driver, real SQL round-trip.
# ---------------------------------------------------------------------------

DERBY_URL = "jdbc:derby:memory:w4htest;create=true"
DERBY_DRIVER = "org.apache.derby.iapi.jdbc.AutoloadedDriver"


def test_jdbc_roundtrip_and_pushdown(spark):
    from w4h_integrated_toolkit_spark.catalog import read_jdbc, write_jdbc

    df = spark.createDataFrame(
        [("u1", 10.5), ("u2", 20.0), ("u3", 30.25)],
        "user_id string, value double",
    )
    write_jdbc(
        df, DERBY_URL, "readings", mode="overwrite", driver=DERBY_DRIVER,
        num_partitions=1,
    )
    back = read_jdbc(spark, DERBY_URL, "readings", driver=DERBY_DRIVER)
    got = back.filter(F.col("value") > 15.0)
    # the filter must reach the JDBC source (server-side WHERE), not run
    # as a Spark-side post-scan filter
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "value" in plan.split("PushedFilters")[1][:120]
    assert sorted((r.user_id, r.value) for r in got.collect()) == [
        ("u2", 20.0),
        ("u3", 30.25),
    ]


def test_jdbc_predicate_partitioned_read(spark):
    from w4h_integrated_toolkit_spark.catalog import read_jdbc, write_jdbc

    df = spark.createDataFrame(
        [("u%d" % i, float(i)) for i in range(10)], "user_id string, value double"
    )
    write_jdbc(
        df, DERBY_URL, "readings2", mode="overwrite", driver=DERBY_DRIVER,
        num_partitions=1,
    )
    back = read_jdbc(
        spark,
        DERBY_URL,
        "readings2",
        driver=DERBY_DRIVER,
        # predicates are passed verbatim to the database, so they are
        # written in ITS dialect — Derby needs quotes to match the
        # lowercase column names Spark's writer created
        predicates=['"value" < 5', '"value" >= 5'],
    )
    # one scan task per predicate — the parallel-read path for non-numeric
    # strides (e.g. one day per task)
    assert back.rdd.getNumPartitions() == 2
    assert back.count() == 10


def test_jdbc_options_range_partitioning():
    from w4h_integrated_toolkit_spark.catalog import jdbc_options

    opts = jdbc_options(
        "jdbc:postgresql://host/db",
        "heart_rates",
        partition_column="user_id",
        lower_bound=0,
        upper_bound=100000,
        num_partitions=64,
        fetchsize=5000,
    )
    assert opts["partitionColumn"] == "user_id"
    assert opts["numPartitions"] == "64"
    assert opts["fetchsize"] == "5000"
    with pytest.raises(ValueError):
        jdbc_options("u", "t", partition_column="x")


def test_jdbc_range_partitioned_read(spark):
    """The numeric-stride parallel read: partitionColumn/bounds/
    numPartitions produce one task per stride against a real database."""
    from w4h_integrated_toolkit_spark.catalog import read_jdbc, write_jdbc

    df = spark.createDataFrame(
        [(i, float(i) * 1.5) for i in range(20)], "id bigint, value double"
    )
    write_jdbc(
        df, DERBY_URL, "readings3", mode="overwrite", driver=DERBY_DRIVER,
        num_partitions=1,
    )
    back = read_jdbc(
        spark,
        DERBY_URL,
        '(SELECT * FROM readings3) t',
        driver=DERBY_DRIVER,
        partition_column='"id"',
        lower_bound=0,
        upper_bound=20,
        num_partitions=4,
    )
    assert back.rdd.getNumPartitions() == 4
    assert back.count() == 20
    assert back.agg(F.sum("value")).first()[0] == sum(i * 1.5 for i in range(20))


def test_examples_importable():
    """The examples/ scripts must at least import cleanly (API-name rot
    guard); they are run end-to-end manually / in review, not per-suite,
    to keep the suite fast."""
    import importlib.util
    import pathlib

    ex_dir = pathlib.Path(__file__).parent.parent / "examples"
    mods = sorted(ex_dir.glob("*.py"))
    assert len(mods) >= 3
    for p in mods:
        spec = importlib.util.spec_from_file_location(f"example_{p.stem}", p)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        assert callable(getattr(mod, "main", None)), p.name


def test_jdbc_pushdown_through_both_parallel_arms(spark):
    """Filter pushdown must survive BOTH parallel-read arms: a Catalyst
    filter on a predicates= read and on a partitionColumn= ranged read
    compiles into the external SQL (PushedFilters on the JDBC scan node),
    so each task's query carries its stride AND the user's predicate —
    only matching rows cross the wire."""
    from w4h_integrated_toolkit_spark.catalog import read_jdbc, write_jdbc

    df = spark.createDataFrame(
        [(i, float(i) * 2.0) for i in range(12)], "id bigint, value double"
    )
    write_jdbc(
        df, DERBY_URL, "readings4", mode="overwrite", driver=DERBY_DRIVER,
        num_partitions=1,
    )

    pred = read_jdbc(
        spark, DERBY_URL, "readings4", driver=DERBY_DRIVER,
        predicates=['"id" < 6', '"id" >= 6'],
    ).filter(F.col("value") > 10.0)
    plan = pred._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan, plan
    assert "value" in plan.split("PushedFilters")[1][:120], plan
    assert pred.rdd.getNumPartitions() == 2
    assert pred.count() == 6  # value>10 -> id in 6..11

    ranged = read_jdbc(
        spark, DERBY_URL, "(SELECT * FROM readings4) t", driver=DERBY_DRIVER,
        partition_column='"id"', lower_bound=0, upper_bound=12, num_partitions=3,
    ).filter(F.col("value") > 10.0)
    plan = ranged._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan, plan
    assert "value" in plan.split("PushedFilters")[1][:120], plan
    assert "numPartitions=3" in plan, plan
    assert ranged.rdd.getNumPartitions() == 3
    assert ranged.count() == 6


def test_jdbc_isolated_write_roundtrip(spark):
    """isolate_write=True takes the repartition (shuffle-barrier) path —
    upstream parallelism is preserved while the write still runs at
    num_partitions tasks; the written rows are identical."""
    from w4h_integrated_toolkit_spark.catalog import read_jdbc, write_jdbc

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(8)], "id bigint, value double"
    )
    write_jdbc(
        df, DERBY_URL, "readings5", mode="overwrite", driver=DERBY_DRIVER,
        num_partitions=2, isolate_write=True,
    )
    back = read_jdbc(spark, DERBY_URL, "readings5", driver=DERBY_DRIVER)
    assert sorted(r.id for r in back.collect()) == list(range(8))


def test_orc_source_roundtrip_with_pushdown(spark, tmp_path):
    """S-family format arm: the same relational pipeline over ORC (bundled
    with Spark) — write events out as ORC, read back, and verify both the
    values (vs the parquet original) and that predicates reach the ORC
    scan (PushedFilters), i.e. the engine treats the format as a
    first-class pushdown source."""
    from w4h_integrated_toolkit_spark.catalog import read_parquet

    ev = read_parquet(spark, "/root/testdata/sf0.001/events.parquet")
    dst = str(tmp_path / "events_orc")
    ev.write.orc(dst)
    back = spark.read.orc(dst)

    agg = lambda df: sorted(
        map(
            tuple,
            df.filter(F.col("value") > 10.0)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.round(F.col("value") * 1e6, 0).cast("long")).alias("sv"))
            .collect(),
        )
    )
    assert agg(back) == agg(ev)

    plan = (
        back.filter(F.col("value") > 10.0)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "value" in plan


def test_versioned_upsert_latest_wins_and_time_travel(spark, tmp_path):
    """Keyed upsert on plain parquet: latest-wins merge, snapshot
    isolation (old versions stay readable bit-for-bit), atomic pointer."""
    from w4h_integrated_toolkit_spark.sources.versioned import (
        list_versions,
        read_versioned,
        upsert_parquet,
    )

    t = str(tmp_path / "tbl")
    v1 = upsert_parquet(
        spark,
        t,
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, val string"),
        key="id",
    )
    v2 = upsert_parquet(
        spark,
        t,
        spark.createDataFrame([(2, "B2"), (3, "c")], "id long, val string"),
        key="id",
    )
    assert (v1, v2) == (1, 2) and list_versions(t) == [1, 2]
    latest = {r["id"]: r["val"] for r in read_versioned(spark, t).collect()}
    assert latest == {1: "a", 2: "B2", 3: "c"}  # 2 replaced, 1 carried, 3 new
    old = {r["id"]: r["val"] for r in read_versioned(spark, t, version=1).collect()}
    assert old == {1: "a", 2: "b"}  # time travel: pre-upsert snapshot intact


def test_versioned_upsert_partition_cow_shares_untouched_files(spark, tmp_path):
    """Partition-level copy-on-write: an upsert touching one partition
    must NOT rewrite the others — their manifest entries (and so their
    files) are byte-identical references to the previous version."""
    import json
    import os

    from w4h_integrated_toolkit_spark.sources.versioned import (
        read_versioned,
        upsert_parquet,
    )

    t = str(tmp_path / "tbl")
    rows = [(i, f"d{i % 3}", float(i)) for i in range(30)]
    upsert_parquet(
        spark,
        t,
        spark.createDataFrame(rows, "id long, dt string, v double"),
        key="id",
        partition_col="dt",
    )
    upsert_parquet(
        spark,
        t,
        spark.createDataFrame([(0, "d0", 999.0)], "id long, dt string, v double"),
        key="id",
        partition_col="dt",
    )
    with open(os.path.join(t, "_manifests", "v1.json")) as f:
        m1 = json.load(f)["partitions"]
    with open(os.path.join(t, "_manifests", "v2.json")) as f:
        m2 = json.load(f)["partitions"]
    assert m2["d1"] == m1["d1"] and m2["d2"] == m1["d2"]  # shared, zero IO
    assert m2["d0"] != m1["d0"]                            # rewritten
    got = {r["id"]: r["v"] for r in read_versioned(spark, t).collect()}
    assert got[0] == 999.0 and len(got) == 30
    # partition restore: pruning predicate works as a column filter
    assert read_versioned(spark, t).filter(F.col("dt") == "d1").count() == 10


def test_versioned_vacuum_keeps_retained_versions_working(spark, tmp_path):
    """Vacuum drops old manifests and any data dirs only they reference;
    every retained version must still read correctly afterwards —
    including retained versions that SHARE files with dropped ones."""
    import os

    from w4h_integrated_toolkit_spark.sources.versioned import (
        list_versions,
        read_versioned,
        upsert_parquet,
        vacuum_versions,
    )

    t = str(tmp_path / "tbl")
    for i in range(4):
        upsert_parquet(
            spark,
            t,
            spark.createDataFrame(
                [(i, f"d{i % 2}", float(i))], "id long, dt string, v double"
            ),
            key="id",
            partition_col="dt",
        )
    dropped = vacuum_versions(t, keep=2)
    assert dropped == [1, 2] and list_versions(t) == [3, 4]
    assert read_versioned(spark, t, version=3).count() == 3
    assert read_versioned(spark, t, version=4).count() == 4
    # v3/v4 share d0/d1 dirs first written in v1/v2 — those must survive
    data_dirs = os.listdir(os.path.join(t, "data"))
    assert len(data_dirs) >= 2


def _three_partition_table(spark, t):
    """Three versions over dt partitions d0..d2; the third write widens
    ``v`` from int to long, so the carried partitions keep int files."""
    from w4h_integrated_toolkit_spark.sources.versioned import upsert_parquet

    upsert_parquet(
        spark,
        t,
        spark.createDataFrame(
            [(i, f"d{i % 2}", i) for i in range(10)], "id long, dt string, v int"
        ),
        key="id",
        partition_col="dt",
    )
    upsert_parquet(
        spark,
        t,
        spark.createDataFrame([(0, "d0", 100)], "id long, dt string, v int"),
        key="id",
        partition_col="dt",
    )
    upsert_parquet(
        spark,
        t,
        spark.createDataFrame(
            [(20, "d2", 2**40), (21, "d2", 7)], "id long, dt string, v long"
        ),
        key="id",
        partition_col="dt",
    )
    return {**{i: i for i in range(10)}, 0: 100, 20: 2**40, 21: 7}


def test_versioned_read_launches_no_job(spark, tmp_path):
    """Opening a version pins every scan to the manifest's recorded
    schema: no schema-inference job per partition."""
    from w4h_integrated_toolkit_spark.sources.versioned import read_versioned

    t = str(tmp_path / "tbl")
    want = _three_partition_table(spark, t)
    df, jobs = jobs_in(spark, lambda: read_versioned(spark, t))
    assert jobs == [], f"read_versioned launched jobs {jobs}"
    _, jobs = jobs_in(spark, lambda: read_versioned(spark, t, version=1))
    assert jobs == []
    assert {r["id"]: r["v"] for r in df.collect()} == want
    assert dict(df.dtypes)["v"] == "bigint"


def test_versioned_manifest_schema_matches_every_partition(spark, tmp_path):
    """The schema recorded for each partition's write batch is exactly
    what an inferred parquet read of that data dir returns — including
    carried partitions written before a later write widened a type."""
    from w4h_integrated_toolkit_spark.sources.versioned import list_versions

    t = str(tmp_path / "tbl")
    _three_partition_table(spark, t)
    checked = 0
    for v in list_versions(t):
        with open(os.path.join(t, "_manifests", f"v{v}.json")) as f:
            m = json.load(f)
        batches = {rel.split(os.sep)[1] for rel in m["partitions"].values()}
        assert set(m["schema"]) == batches  # no stale batches carried
        for rel in m["partitions"].values():
            recorded = T.StructType.fromJson(m["schema"][rel.split(os.sep)[1]])
            assert recorded == spark.read.parquet(os.path.join(t, rel)).schema
            checked += 1
    assert checked == 2 + 2 + 3
    with open(os.path.join(t, "_manifests", "v3.json")) as f:
        schemas = json.load(f)["schema"]
    assert sorted(
        dict((fl["name"], fl["type"]) for fl in s["fields"])["v"]
        for s in schemas.values()
    ) == ["integer", "integer", "long"]


def test_versioned_manifests_without_schema_fall_back_to_inference(
    spark, tmp_path
):
    """Manifests written before schemas were recorded read back
    row-for-row the same, and an upsert on top of them works (its new
    batch is recorded, the carried legacy batches still infer)."""
    import shutil

    from w4h_integrated_toolkit_spark.sources.versioned import (
        list_versions,
        read_versioned,
        upsert_parquet,
    )

    t = str(tmp_path / "tbl")
    legacy = str(tmp_path / "legacy")
    _three_partition_table(spark, t)
    shutil.copytree(t, legacy)
    for v in list_versions(legacy):
        path = os.path.join(legacy, "_manifests", f"v{v}.json")
        with open(path) as f:
            m = json.load(f)
        del m["schema"]
        with open(path, "w") as f:
            json.dump(m, f)

    def rows(table, version=None):
        df = read_versioned(spark, table, version)
        return df.schema, sorted(df.collect())

    for v in list_versions(t):
        assert rows(legacy, v) == rows(t, v)

    upd = spark.createDataFrame([(1, "d1", 5)], "id long, dt string, v long")
    for table in (t, legacy):
        upsert_parquet(spark, table, upd, key="id", partition_col="dt")
    assert rows(legacy) == rows(t)
    with open(os.path.join(legacy, "_manifests", "v4.json")) as f:
        assert len(json.load(f)["schema"]) == 1  # only the new batch


def test_model_store_replace_params_and_time_travel(spark, tmp_path):
    """save_model/load_model contract: each save FULLY replaces the
    previous model's rows (a refit with fewer rows must not leak stale
    ones), params round-trip and mismatches raise with the stored value,
    old fits stay loadable by version, and reserved stamp columns are
    rejected."""
    import pytest

    from w4h_integrated_toolkit_spark.sources.models import load_model, save_model

    t = str(tmp_path / "model")
    m1 = spark.createDataFrame([(i, float(i)) for i in range(8)], "cid long, v double")
    v1 = save_model(spark, t, m1, {"k": 8, "scale": 10**6})
    m2 = spark.createDataFrame([(i, float(i) * 2) for i in range(5)], "cid long, v double")
    v2 = save_model(spark, t, m2, {"k": 5, "scale": 10**6})
    assert (v1, v2) == (1, 2)

    got, params = load_model(spark, t, expect_params={"k": 5})
    assert params == {"k": 5, "scale": 10**6}
    rows = {r["cid"]: r["v"] for r in got.collect()}
    assert rows == {i: float(i) * 2 for i in range(5)}  # no stale k=8 rows
    assert set(got.columns) == {"cid", "v"}  # stamps dropped

    # time travel: the k=8 fit is still pinnable
    old, old_params = load_model(spark, t, version=1)
    assert old.count() == 8 and old_params["k"] == 8

    # hyperparameter mismatch raises with both values
    with pytest.raises(ValueError, match="stored=5 expected=8"):
        load_model(spark, t, expect_params={"k": 8})
    # extra stored params the caller doesn't list are fine
    load_model(spark, t, expect_params={"scale": 10**6})

    with pytest.raises(ValueError, match="reserved"):
        save_model(
            spark, t, m1.withColumn("_w4h_model", F.lit("x")), {"k": 8}
        )
    # a plain versioned table is not a model store
    from w4h_integrated_toolkit_spark.sources.versioned import upsert_parquet

    plain = str(tmp_path / "plain")
    upsert_parquet(spark, plain, m1, key="cid")
    with pytest.raises(ValueError, match="not a model store"):
        load_model(spark, plain)

    # review fix: an EMPTY model must be refused — the constant-key
    # anti-join would carry every previous row forward (a "new" version
    # that silently republishes the OLD model), and an empty FIRST save
    # would create an unloadable version
    with pytest.raises(ValueError, match="no rows"):
        save_model(spark, t, m1.limit(0), {"k": 0})
    got2, params2 = load_model(spark, t)
    assert params2 == {"k": 5, "scale": 10**6}  # latest model untouched
    assert got2.count() == 5


def test_model_store_registry_queries_leave_no_tmp_stores(spark):
    """Review fix: the registry entries that round-trip the model store
    (q_bpe_segment, q_knn_ivf_persisted) run on every gate/bench/parity
    cycle — they must delete their temp store after collecting the model
    (the returned plan never scans the store, so deletion is safe)."""
    import glob
    import tempfile

    from tests.conftest import SF_DIR
    from w4h_integrated_toolkit_spark.plans.queries import QUERIES

    tmp = tempfile.gettempdir()

    def stores():
        return set(glob.glob(f"{tmp}/w4h_bpe_model_*")) | set(
            glob.glob(f"{tmp}/w4h_centroid_model_*")
        )

    before = stores()
    QUERIES["bpe_segment"][0](spark, SF_DIR).collect()
    QUERIES["knn_ivf_persisted"][0](spark, SF_DIR).collect()
    assert stores() == before, "registry queries leaked model store dirs"


def test_kmeans_fit_save_load_apply_equivalence(spark, tmp_path):
    """fit -> save_model -> load_model (fresh session) -> centroid_arrays
    -> ivf_topk returns EXACTLY the in-job composition's results — the
    production shape where fit and apply are different jobs. The load
    validates (k, iterations, scale) so an inference job can never probe
    with a stale-hyperparameter quantizer."""
    from w4h_integrated_toolkit_spark.operators import similarity as SIM
    from w4h_integrated_toolkit_spark.sources.models import load_model, save_model

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 11) / 11 for j in range(4)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    params = {"k": 6, "iterations": 2, "scale": 10**6}
    cells = SIM.kmeans_fit(emb, k=6, iterations=2)
    t = str(tmp_path / "centroids")
    save_model(spark, t, cells, params)

    def probe(cents):
        out = SIM.ivf_topk(
            emb, emb.filter(F.col("vec_id") < 5), k=3, nprobe=2, centroids=cents
        )
        return sorted(
            (r["query_id"], r["neighbor_id"], r["rank"], round(r["cos"], 9))
            for r in out.collect()
        )

    in_job = probe(SIM.centroid_arrays(cells))
    # apply in a DIFFERENT session: the store is path-based, nothing
    # session-local survives into the load
    s2 = spark.newSession()
    loaded, stored = load_model(s2, t, expect_params=params)
    assert probe(SIM.centroid_arrays(loaded)) == in_job
    assert stored == params


def test_bpe_fit_save_load_segment_equivalence(spark, tmp_path):
    """bpe_learn -> save_model -> load_model -> bpe_segment equals
    segmenting with the in-memory merge list (rank order restored from
    the stored table), and the merge-count param gates the load."""
    import pytest

    from w4h_integrated_toolkit_spark.operators.bpe import bpe_learn, bpe_segment
    from w4h_integrated_toolkit_spark.sources.models import load_model, save_model

    docs = spark.createDataFrame(
        [(i, "the theme thesis then anthem " * (1 + i % 3)) for i in range(10)],
        "doc_id long, text string",
    )
    merges_df = bpe_learn(docs, n_merges=4)
    in_mem = [
        (r["left_sym"], r["right_sym"])
        for r in merges_df.orderBy("merge_rank").collect()
    ]
    t = str(tmp_path / "bpe")
    save_model(spark, t, merges_df, {"n_merges": 4})

    loaded, _ = load_model(spark, t, expect_params={"n_merges": 4})
    from_store = [
        (r["left_sym"], r["right_sym"])
        for r in loaded.orderBy("merge_rank").collect()
    ]
    assert from_store == in_mem

    def toks(table):
        return sorted(
            (r["doc_id"], tuple(r["tokens"]))
            for r in bpe_segment(docs, table).collect()
        )

    assert toks(from_store) == toks(in_mem)
    with pytest.raises(ValueError, match="different params"):
        load_model(spark, t, expect_params={"n_merges": 8})


def test_frozen_ranking_models_through_the_store(spark, tmp_path):
    """The ranking module's frozen-model arms compose with the model
    store: doc_frequencies / the unigram term-count model published via
    save_model and loaded back score IDENTICALLY to the self-built arms
    — the build-on-snapshot / score-every-ingest production shape, with
    the model travelling through the registry instead of an ad-hoc
    parquet path."""
    from pyspark.sql import functions as F

    from w4h_integrated_toolkit_spark.operators.ranking import (
        doc_frequencies,
        tfidf_top_terms,
        unigram_nll,
    )
    from w4h_integrated_toolkit_spark.sources.models import load_model, save_model

    docs = spark.createDataFrame(
        [(i, f"alpha beta {'gamma ' * (i % 4)}delta e{i % 5}") for i in range(24)],
        "doc_id long, text string",
    )

    df_store = str(tmp_path / "doc_freq")
    save_model(spark, df_store, doc_frequencies(docs), {"snapshot": "s1"})
    loaded_df, _ = load_model(spark, df_store, expect_params={"snapshot": "s1"})
    self_built = sorted(map(tuple, tfidf_top_terms(docs, top_n=2).collect()))
    via_store = sorted(
        map(tuple, tfidf_top_terms(docs, top_n=2, doc_freq=loaded_df).collect())
    )
    assert via_store == self_built

    tc_store = str(tmp_path / "term_counts")
    tc = (
        docs.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    save_model(spark, tc_store, tc, {"snapshot": "s1"})
    loaded_tc, _ = load_model(spark, tc_store)
    self_nll = sorted(map(tuple, unigram_nll(docs).collect()))
    via_nll = sorted(
        map(tuple, unigram_nll(docs, term_counts=loaded_tc).collect())
    )
    assert via_nll == self_nll


def test_compact_parquet_merges_small_files_and_preserves_data(spark, tmp_path):
    """20 tiny files compact to the size-targeted count; row set is
    byte-identical before/after; re-running on the compacted table is a
    no-op-sized rewrite; empty dir and bad target raise."""
    import pytest

    from w4h_integrated_toolkit_spark.sources.maintenance import (
        compact_parquet,
        parquet_file_stats,
    )

    path = str(tmp_path / "t")
    df = spark.range(2000).selectExpr("id", "id * 2 AS v")
    df.repartition(20).write.parquet(path)
    assert parquet_file_stats(path)["n_files"] == 20
    before = sorted((r["id"], r["v"]) for r in spark.read.parquet(path).collect())

    report = compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert report["files_before"] == 20
    assert report["files_after"] == 1 == report["target_files"]
    after = sorted((r["id"], r["v"]) for r in spark.read.parquet(path).collect())
    assert after == before
    # idempotent: a second pass keeps the single file
    report2 = compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert report2["files_after"] == 1

    with pytest.raises(ValueError):
        compact_parquet(spark, path, target_file_bytes=0)
    with pytest.raises(ValueError):
        compact_parquet(spark, str(tmp_path / "missing"))


def test_compact_parquet_crash_recovery_and_uri_guard(spark, tmp_path):
    """A crash between the two rename swaps (data parked in
    .__compact_old__, nothing at `path`) is repaired on the next run; a
    remote URI scheme is rejected up front."""
    import pytest

    from w4h_integrated_toolkit_spark.sources.maintenance import (
        compact_parquet,
        parquet_file_stats,
    )

    path = str(tmp_path / "t")
    spark.range(500).selectExpr("id", "id * 3 AS v").repartition(
        8
    ).write.parquet(path)
    before = sorted((r["id"], r["v"]) for r in spark.read.parquet(path).collect())

    # simulate the crash window: old moved aside, tmp never moved in
    os.rename(path, path + ".__compact_old__")
    assert not os.path.exists(path)

    report = compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert report["files_before"] == 8 and report["files_after"] == 1
    assert not os.path.exists(path + ".__compact_old__")
    after = sorted((r["id"], r["v"]) for r in spark.read.parquet(path).collect())
    assert after == before
    assert parquet_file_stats(path)["n_files"] == 1

    with pytest.raises(ValueError, match="local paths"):
        compact_parquet(spark, "s3://bucket/table")


def test_orc_roundtrip_and_pushdown(spark, tmp_path):
    """ORC write -> read roundtrips byte-identical values; a range
    predicate reaches the ORC scan as a pushed filter and the projection
    prunes the read schema (same plan contract as the parquet path)."""
    from w4h_integrated_toolkit_spark.sources.columnar import read_orc, write_orc

    src = spark.range(1000).selectExpr(
        "id", "id * 2 AS v", "CAST(id % 7 AS STRING) AS tag"
    )
    path = str(tmp_path / "t_orc")
    write_orc(src, path)

    back = read_orc(spark, path, schema=src.schema)
    assert sorted((r["id"], r["v"], r["tag"]) for r in back.collect()) == sorted(
        (r["id"], r["v"], r["tag"]) for r in src.collect()
    )

    q = back.filter(F.col("id") >= 900).select("v")
    plan = q._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "id" in pushed[0], "range predicate must reach the ORC scan"
    schema_line = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "v" in schema_line and "tag" not in schema_line


# ---------------------------------------------------------------------------
# WARC source (round 12): pure-stdlib crawl-archive record codec
# ---------------------------------------------------------------------------


def _sample_warc_records():
    from w4h_integrated_toolkit_spark.sources.warc import encode_warc_record

    body = b"<html><body>hello <b>crawl</b></body></html>"
    http = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
        + b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n" + body
    )
    return [
        encode_warc_record(
            "warcinfo", b"software: w4h-spark\r\n",
            content_type="application/warc-fields",
        ),
        encode_warc_record(
            "response", http, target_uri="http://ex.com/a",
            content_type="application/http;msgtype=response",
        ),
        encode_warc_record(
            "request", b"GET /a HTTP/1.1\r\nHost: ex.com\r\n\r\n",
            target_uri="http://ex.com/a",
        ),
    ], body


def test_warc_roundtrip_plain_and_gzip_members():
    """encode -> parse round-trip in both layouts: record framing,
    header fields, payload bytes and the gzip member chain all survive
    intact; the gzip and plain parses are record-for-record equal."""
    from w4h_integrated_toolkit_spark.sources.warc import (
        encode_warc,
        parse_warc,
    )

    recs, body = _sample_warc_records()
    for gz in (False, True):
        blob = encode_warc(recs, gzip_members=gz)
        got = parse_warc(blob)
        assert [r["headers"]["warc-type"] for r in got] == [
            "warcinfo", "response", "request",
        ]
        assert got[1]["headers"]["warc-target-uri"] == "http://ex.com/a"
        assert got[1]["payload"].endswith(body)
        assert got[0]["version"] == "WARC/1.0"
        assert all(
            int(r["headers"]["content-length"]) == len(r["payload"])
            for r in got
        )


def test_warc_http_split_and_malformed_framing():
    """split_http_response lifts status/headers/body; non-HTTP payloads
    pass through whole; torn framing (truncated payload, broken gzip
    chain, missing Content-Length, junk header line) raises instead of
    yielding silently partial records."""
    import pytest as _pytest

    from w4h_integrated_toolkit_spark.sources.warc import (
        encode_warc,
        encode_warc_record,
        parse_warc,
        split_http_response,
    )

    recs, body = _sample_warc_records()
    parsed = parse_warc(encode_warc(recs))
    status, headers, got_body = split_http_response(parsed[1]["payload"])
    assert status == 200 and got_body == body
    assert headers["content-type"] == "text/html; charset=utf-8"
    s2, h2, b2 = split_http_response(b"not http at all")
    assert s2 is None and h2 == {} and b2 == b"not http at all"

    # in-payload HTTP damage NEVER aborts the record (LF-only headers,
    # garbage status line, Unicode digit-alikes, out-of-range numeric
    # runs that would overflow the int32 status column): pass-through
    # with NULL status, per contract
    assert split_http_response(b"HTTP/1.1 200 OK\nA: b\n\nbody")[0] is None
    assert split_http_response(b"HTTP/1.1 ??? \r\n\r\nx")[0] is None
    assert split_http_response("HTTP/1.1 ² OK\r\n\r\nx".encode())[0] is None
    assert split_http_response(b"HTTP/1.1 99999999999 OK\r\n\r\nx")[0] is None
    assert split_http_response(b"HTTP/1.1 42 OK\r\n\r\nx")[0] is None
    # obs-fold continuation in HTTP headers folds into the value
    s3, h3, _ = split_http_response(
        b"HTTP/1.1 200 OK\r\nContent-Type: multipart/mixed;\r\n"
        b" boundary=x\r\n\r\nbody"
    )
    assert s3 == 200 and h3["content-type"] == "multipart/mixed; boundary=x"

    blob = encode_warc(recs)
    with _pytest.raises(ValueError, match="truncated|unterminated"):
        parse_warc(blob[:-30])
    gz = encode_warc(recs, gzip_members=True)
    with _pytest.raises(ValueError, match="gzip"):
        parse_warc(gz[:2] + b"junk" + gz[2:])
    # truncated FINAL member: cut inside the deflate stream and inside
    # the 8-byte trailer — both must raise, not silently drop/pass
    # records (zlib reports eof only after the verified trailer)
    for cut in (20, 4):
        with _pytest.raises(ValueError, match="truncated|corrupt"):
            parse_warc(gz[:-cut])
    bad = encode_warc_record("metadata", b"x" * 4).replace(
        b"Content-Length: 4\r\n", b""
    )
    with _pytest.raises(ValueError, match="Content-Length"):
        parse_warc(bad)
    with _pytest.raises(ValueError, match="malformed WARC header"):
        parse_warc(b"WARC/1.0\r\nnocolonhere\r\nContent-Length: 0\r\n\r\n\r\n\r\n")

    # header-value line breaks can't smuggle framing through the encoder
    with _pytest.raises(ValueError, match="line break"):
        encode_warc_record(
            "response", b"", target_uri="http://x/\r\nContent-Length: 0"
        )


def test_warc_folded_and_repeated_headers():
    """Spec-legal LWS continuation lines fold into the previous field's
    value; repeated fields (WARC-Concurrent-To) preserve every value
    comma-joined instead of silently keeping the last; a continuation
    with no preceding field raises."""
    import pytest as _pytest

    from w4h_integrated_toolkit_spark.sources.warc import parse_warc

    blob = (
        b"WARC/1.0\r\n"
        b"WARC-Type: metadata\r\n"
        b"WARC-Target-URI: http://ex.com/very\r\n"
        b"  /long/path\r\n"
        b"WARC-Concurrent-To: <urn:uuid:aaa>\r\n"
        b"WARC-Concurrent-To: <urn:uuid:bbb>\r\n"
        b"Content-Length: 2\r\n\r\nok\r\n\r\n"
    )
    (rec,) = parse_warc(blob)
    assert rec["headers"]["warc-target-uri"] == "http://ex.com/very /long/path"
    assert rec["headers"]["warc-concurrent-to"] == "<urn:uuid:aaa>, <urn:uuid:bbb>"
    assert rec["payload"] == b"ok"

    with _pytest.raises(ValueError, match="continuation"):
        parse_warc(
            b"WARC/1.0\r\n  floating\r\nContent-Length: 0\r\n\r\n\r\n\r\n"
        )

    # a REPEATED Content-Length makes the record boundary ambiguous —
    # contextual fail-loud (byte offset + the offending value), never a
    # bare int() error or a silently guessed boundary
    dup_cl = (
        b"WARC/1.0\r\nWARC-Type: metadata\r\n"
        b"Content-Length: 2\r\nContent-Length: 2\r\n\r\nok\r\n\r\n"
    )
    with _pytest.raises(ValueError, match="non-integer Content-Length"):
        parse_warc(dup_cl)


def test_warc_records_explodes_blobs_and_chains_into_curation(spark):
    """The DataFrame op: one row per blob in, one row per record out,
    HTTP response bodies lifted with typed status/content-type, other
    records passed through whole; and the extracted body chains
    straight into the HTML->text curation step (the crawl ingest
    bridge)."""
    from w4h_integrated_toolkit_spark.operators.web import html_text
    from w4h_integrated_toolkit_spark.sources.warc import (
        encode_warc,
        warc_records,
    )

    recs, body = _sample_warc_records()
    rows = [
        (1, bytearray(encode_warc(recs))),
        (2, bytearray(encode_warc(recs, gzip_members=True))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, content binary")

    # a NULL blob is a file-level decision: fail loud with context
    import pytest as _pytest

    nul = spark.createDataFrame(
        [(9, None)], "doc_id long, content binary"
    )
    with _pytest.raises(Exception, match="NULL WARC blob"):
        warc_records(nul).collect()

    out = warc_records(df).collect()
    assert len(out) == 6  # 3 records x 2 blobs
    by_key = {(r["doc_id"], r["record_idx"]): r for r in out}
    for d in (1, 2):
        resp = by_key[(d, 1)]
        assert resp["warc_type"] == "response"
        assert resp["http_status"] == 200
        assert resp["http_content_type"] == "text/html; charset=utf-8"
        assert bytes(resp["payload"]) == body
        assert resp["n_payload_bytes"] == len(body)
        info = by_key[(d, 0)]
        assert info["warc_type"] == "warcinfo"
        assert info["http_status"] is None
        assert bytes(info["payload"]) == b"software: w4h-spark\r\n"

    # crawl bridge: WARC body -> html_text -> clean text
    texts = (
        warc_records(df)
        .filter(F.col("warc_type") == "response")
        .select(
            "doc_id",
            html_text(F.col("payload").cast("string")).alias("text"),
        )
        .collect()
    )
    assert all(r["text"] == "hello crawl" for r in texts)
