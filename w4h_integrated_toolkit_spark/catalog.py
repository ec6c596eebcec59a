"""Config-driven catalog.

Two halves:

1. **GeoMTS catalog** — the reference's best architectural idea is that the
   logical schema is *declared in config*, not code (reference
   ``conf/config.yaml:1-46``; DDL generated from it at
   ``script/w4h_db_utils.py:19-55``). We keep that: a YAML-shaped dict maps to
   Spark ``StructType``s and table registrations. The reference's type table
   (``conf/config.yaml:41-46``) maps to Spark types per SURVEY §1.3.

2. **Test-table loader** — the driver's TPC-H-ish parquet tables
   (``/root/testdata/sf*/``), registered as temp views so both the DataFrame
   and ``spark.sql()`` surfaces work.

Scale posture: fact tables written through :func:`write_fact_table` are
partitioned by date (``partitionBy(dt)``) so time-range scans prune
partitions, and sorted within partitions by ``(user_id, timestamp)`` so the
dominant per-user window operators read nearly-clustered data. At 100 TB the
date partition bounds each scan to the queried range and the user bucketing
keeps semi-joins/windows shuffle-light.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

__all__ = [
    "TESTDATA_TABLES",
    "DEFAULT_GEOMTS_CONFIG",
    "spark_type_for",
    "struct_type_for_users",
    "FACT_SCHEMA",
    "GEO_SCHEMA",
    "load_tables",
    "jdbc_options",
    "read_jdbc",
    "write_jdbc",
    "write_fact_table",
    "write_sorted",
    "write_bucketed",
    "compact_small_files",
]

# Tables the driver generates at each scale factor (TESTDATA.md).
TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Mirrors the *shape* of reference conf/config.yaml (mapping, tables, types).
# The reference builds PostgreSQL DDL from this by string-eval of SQLAlchemy
# types (w4h_db_utils.py:34-36); we build StructTypes instead.
DEFAULT_GEOMTS_CONFIG: dict[str, Any] = {
    "mapping": {"user_id": "user_id", "timestamp": "timestamp", "value": "value"},
    "subject_table": {
        "name": "geomts_users",
        "attributes": {
            "user_id": "string",
            "age": "int",
            "height": "float",
            "weight": "float",
            "state_of_residence": "string",
            "data_collection_start_date": "datetime",
            "consent": "boolean",
            "device": "string",
            "email": "string",
        },
    },
    "series_tables": ["heart_rates", "calories", "distances", "steps", "sleep", "weight"],
    "geo_tables": ["locations"],
}

# Reference type table conf/config.yaml:41-46 -> Spark types (SURVEY §1.3).
_TYPE_MAP: dict[str, T.DataType] = {
    "int": T.IntegerType(),
    "float": T.DoubleType(),
    "string": T.StringType(),
    "datetime": T.TimestampType(),
    "boolean": T.BooleanType(),
}


def spark_type_for(conf_type: str) -> T.DataType:
    """Reference attribute type name -> Spark DataType."""
    try:
        return _TYPE_MAP[conf_type]
    except KeyError:
        raise ValueError(f"unknown GeoMTS attribute type: {conf_type!r}") from None


def struct_type_for_users(config: dict[str, Any] | None = None) -> T.StructType:
    """Subject-table StructType from config (cf. w4h_db_utils.py:33-36).

    ``user_id`` is the PK (non-nullable); everything else nullable — attribute
    filters are null-tolerant by design (viz.py:417).
    """
    config = config or DEFAULT_GEOMTS_CONFIG
    attrs = config["subject_table"]["attributes"]
    fields = [
        T.StructField(name, spark_type_for(t), nullable=(name != "user_id"))
        for name, t in attrs.items()
    ]
    return T.StructType(fields)


# Narrow time-series fact schema (w4h_db_utils.py:40-45): composite PK
# (user_id, timestamp) — enforced at write time via dropDuplicates, Spark has
# no constraint system.
FACT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.StringType(), False),
        T.StructField("timestamp", T.TimestampType(), False),
        T.StructField("value", T.DoubleType(), True),
    ]
)

# Geo fact table (w4h_db_utils.py:48-53): PostGIS POINT becomes the canonical
# struct-free pair (lon, lat) + optional WKT string (SURVEY §1.3 geometry row).
GEO_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.StringType(), False),
        T.StructField("timestamp", T.TimestampType(), False),
        T.StructField("lon", T.DoubleType(), True),
        T.StructField("lat", T.DoubleType(), True),
        T.StructField("wkt", T.StringType(), True),
    ]
)


def _first_data_file(path: str) -> str | None:
    """``path`` itself if it is a file, else the first data file under it in
    name order, descending through partition directories (``dt=.../``).
    Names starting with ``_`` or ``.`` (``_SUCCESS``, ``_manifests``,
    ``.crc`` files) are metadata, as Spark treats them; None if no data file."""
    import os

    if not os.path.isdir(path):
        return path
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        data = sorted(f for f in files if not f.startswith(("_", ".")))
        if data:
            return os.path.join(root, data[0])
    return None


def ns_timestamp_columns(path: str) -> list[str]:
    """Names of TIMESTAMP(NANOS) columns in a parquet file (footer-only read).

    ``path`` may be a file, a flat directory of parquet files or a
    partitioned directory tree such as :func:`write_fact_table` writes; a
    directory is inspected through its first data file.

    Spark refuses INT64 TIMESTAMP(NANOS) parquet columns outright; DuckDB
    truncates them to microseconds. We match DuckDB: read them as longs
    (``spark.sql.legacy.parquet.nanosAsLong``) and truncate-convert.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    first = path if "*" in path else _first_data_file(path)
    if first is None:  # no data file: Spark reports the empty table itself
        return []
    schema = pq.read_schema(first)
    return [
        f.name
        for f in schema
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    ]


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Normalizing parquet reader: ns-timestamps -> µs TimestampType.

    The conversion is a cheap projection fused into the scan stage; the
    footer inspection reads metadata only (no data IO) so this stays O(1)
    per table at any scale.
    """
    from pyspark.sql import functions as F

    ns_cols = ns_timestamp_columns(path)
    if ns_cols:
        # The conf is consulted when the relation is created (schema
        # conversion), not at action time, so restoring it immediately is
        # safe — and keeps later direct spark.read.parquet calls in the same
        # session on default semantics.
        key = "spark.sql.legacy.parquet.nanosAsLong"
        prev = spark.conf.get(key, None)
        spark.conf.set(key, "true")
        try:
            df = spark.read.parquet(path)
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
    else:
        df = spark.read.parquet(path)
    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` DIV 1000")))
    return df


def ensure_min_partitions(df: DataFrame, target: int | None = None) -> DataFrame:
    """Guard against pathologically under-partitioned scans feeding CPU-dense
    operators (hashing/shingling), where one small single-row-group file
    would serialize the whole map stage on one core.

    No-op when the physical scan already has >= ``target`` partitions — the
    normal case on a real cluster, where a 100 TB table is thousands of
    splits and adding a round-robin exchange would only burn network. The
    repartition fires ONLY for degenerate inputs (a few tiny files), where
    the redistributed bytes are by construction small and the alternative is
    a serial stage. ``target`` defaults to the session's default parallelism.

    **Scan inputs only.** The partition probe is ``df.rdd.getNumPartitions()``,
    which forces RDD conversion/physical planning and — for inputs that
    contain shuffles under AQE — can eagerly materialize upstream stages.
    That is safe and cheap for the plain file scans this wraps; do not apply
    it to arbitrary derived DataFrames.
    """
    spark = df.sparkSession
    if target is None:
        target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def load_tables(
    spark: SparkSession,
    sf_dir: str,
    tables: list[str] | None = None,
    register: bool = True,
) -> dict[str, DataFrame]:
    """Load the driver's parquet tables and (optionally) register temp views.

    Catalyst pushes filters/projections into the scan, so callers should
    express predicates declaratively and never pre-filter here.
    """
    out: dict[str, DataFrame] = {}
    for name in tables or TESTDATA_TABLES:
        df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
        if register:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out


def jdbc_options(
    url: str,
    table: str,
    *,
    driver: str | None = None,
    fetchsize: int | None = None,
    batchsize: int | None = None,
    partition_column: str | None = None,
    lower_bound: Any | None = None,
    upper_bound: Any | None = None,
    num_partitions: int | None = None,
    properties: dict[str, str] | None = None,
) -> dict[str, str]:
    """Build the option map for Spark's JDBC source/sink (pure, testable).

    ``table`` may be a bare table name or a parenthesized pushdown subquery
    (``"(SELECT ... WHERE ...) t"``) — the reference's storage layer issues
    exactly such server-side-filtered scans (viz.py:140-153).
    """
    opts: dict[str, str] = {"url": url, "dbtable": table}
    if driver:
        opts["driver"] = driver
    if fetchsize is not None:
        opts["fetchsize"] = str(fetchsize)
    if batchsize is not None:
        opts["batchsize"] = str(batchsize)
    if partition_column is not None:
        if lower_bound is None or upper_bound is None or num_partitions is None:
            raise ValueError(
                "partition_column requires lower_bound, upper_bound and "
                "num_partitions"
            )
        opts["partitionColumn"] = partition_column
        opts["lowerBound"] = str(lower_bound)
        opts["upperBound"] = str(upper_bound)
        opts["numPartitions"] = str(num_partitions)
    if properties:
        opts.update({k: str(v) for k, v in properties.items()})
    return opts


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    *,
    predicates: list[str] | None = None,
    driver: str | None = None,
    fetchsize: int = 10_000,
    partition_column: str | None = None,
    lower_bound: Any | None = None,
    upper_bound: Any | None = None,
    num_partitions: int | None = None,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """S1's real-database arm: scan a JDBC table as a DataFrame.

    The reference's entire storage layer is PostgreSQL read via
    ``pd.read_sql`` (viz.py:68; stream_sim.py:101-113) — single connection,
    single cursor, whole result in client memory. This wrapper keeps that
    capability but Spark-shaped:

    - **Filter/projection pushdown is automatic**: ``.filter``/``.select``
      on the returned DataFrame compile into the generated SQL (visible as
      ``PushedFilters`` on the JDBCRelation scan node), so only matching
      rows cross the wire — the reference's hand-written WHERE clauses
      (viz.py:140-153) come free from Catalyst here.
    - **Parallel scan**: pass ``partition_column``/bounds/``num_partitions``
      for range-partitioned reads (one executor task per stride), or
      ``predicates`` (one task per WHERE clause — e.g. one per day) when
      the stride isn't numeric. Without either, JDBC reads are a SINGLE
      task; at any real scale always provide one.
    - ``fetchsize`` keeps the per-task cursor streaming instead of
      buffering the whole partition (Postgres defaults to all-rows).
    """
    if predicates:
        if partition_column is not None:
            raise ValueError("predicates and partition_column are exclusive")
        props = {"fetchsize": str(fetchsize), **(properties or {})}
        if driver:
            props["driver"] = driver
        return spark.read.jdbc(url, table, predicates=predicates, properties=props)
    opts = jdbc_options(
        url,
        table,
        driver=driver,
        fetchsize=fetchsize,
        partition_column=partition_column,
        lower_bound=lower_bound,
        upper_bound=upper_bound,
        num_partitions=num_partitions,
        properties=properties,
    )
    return spark.read.format("jdbc").options(**opts).load()


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    *,
    mode: str = "append",
    driver: str | None = None,
    batchsize: int = 10_000,
    num_partitions: int | None = None,
    properties: dict[str, str] | None = None,
    isolate_write: bool = False,
) -> None:
    """S7's real-database arm: append/overwrite a DataFrame to a JDBC table
    (the reference's ``df.to_sql(..., if_exists='append')``,
    w4h_db_utils.py:173,200,232).

    Each task opens one connection and inserts its partition in
    ``batchsize``-row batches; ``num_partitions`` caps write concurrency so
    a wide cluster doesn't open thousands of connections against one
    database. Composite-PK dedup stays the caller's job (write_fact_table),
    exactly as in the reference's ingest (w4h_db_utils.py:192).

    CAUTION — ``num_partitions`` uses ``coalesce``, and coalesce PROPAGATES
    UPSTREAM to the previous shuffle boundary: a small N doesn't just cap
    the write, it collapses the whole preceding computation stage to N
    tasks (num_partitions=1 → the entire upstream map stage runs on one
    core). When the upstream computation is expensive, either cache/
    checkpoint the DataFrame first, or pass ``isolate_write=True`` to
    insert a ``repartition`` instead — one extra shuffle of the written
    rows, in exchange for upstream stages keeping their full parallelism.
    """
    if num_partitions is not None:
        if isolate_write:
            # shuffle barrier: upstream keeps its parallelism; only the
            # written rows move to N output tasks
            df = df.repartition(num_partitions)
        else:
            # coalesce never increases partition count, so no partition
            # probe needed (df.rdd.getNumPartitions() would force physical
            # planning on arbitrary derived DataFrames — see
            # ensure_min_partitions); see the upstream-collapse caution
            df = df.coalesce(num_partitions)
    opts = jdbc_options(
        url, table, driver=driver, batchsize=batchsize, properties=properties
    )
    df.write.format("jdbc").options(**opts).mode(mode).save()


def write_fact_table(
    df: DataFrame, path: str, mode: str = "append", files_per_day: int = 1
) -> None:
    """Scale-ready fact-table sink: date-partitioned, user/time-sorted parquet.

    Mirrors the reference's append path (w4h_db_utils.py:200) with the
    composite-PK dedup it performs (w4h_db_utils.py:192), plus a physical
    layout chosen for the 100 TB case: ``dt`` partition pruning for the
    date-bounded scans (viz.py:140-153) and within-file clustering on
    ``(user_id, timestamp)`` for per-user windows.

    ``files_per_day`` bounds file size AND write parallelism: with the
    default 1, each date is a single task (fine for test volumes); at fleet
    scale set it so one file ≈ a few hundred MB — the extra repartition key
    is a user hash, so a day's users spread over ``files_per_day`` tasks
    while every user's rows stay clustered in one file (per-user window
    reads still touch one file per day).
    """
    from pyspark.sql import functions as F

    staged = df.dropDuplicates(["user_id", "timestamp"]).withColumn(
        "dt", F.to_date("timestamp")
    )
    part_cols = [F.col("dt")]
    if files_per_day > 1:
        part_cols.append(F.pmod(F.hash("user_id"), F.lit(files_per_day)))
    (
        staged.repartition(*part_cols)
        .sortWithinPartitions("user_id", "timestamp")
        .write.mode(mode)
        .partitionBy("dt")
        .parquet(path)
    )


def write_sorted(
    df: DataFrame,
    path: str,
    sort_col: str,
    n_files: int = 32,
    mode: str = "overwrite",
) -> None:
    """Range-clustered parquet layout: globally range-partition on
    ``sort_col`` (each output file owns a disjoint value range) and sort
    within files. Parquet footers then carry tight, non-overlapping
    min/max stats per file and per row group, so any range predicate on
    ``sort_col`` prunes to the few files that can contain it — the layout
    that turns "scan 100 TB" into "scan the queried slice". This is the
    single-dimension complement to :func:`write_fact_table` (which
    partitions by date for directory-level pruning); use this for the
    within-partition clustering dimension, e.g. time inside a device
    partition, or pure time-series tables queried only by range.

    ``repartitionByRange`` samples the column to build balanced range
    bounds, so skewed value distributions still yield even file sizes.
    """
    (
        df.repartitionByRange(n_files, sort_col)
        .sortWithinPartitions(sort_col)
        .write.mode(mode)
        .parquet(path)
    )


def compact_small_files(
    spark: SparkSession,
    src: str,
    dest: str,
    target_file_mb: int = 256,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    size-targeted files, returning the output file count.

    Streaming sinks and fine-grained partitioned appends accumulate
    thousands of tiny files; at fleet scale the scan's task-scheduling and
    footer overhead then dominates IO, and the NameNode/object-store
    listing itself becomes a bottleneck. Compaction reads the actual byte
    size from the filesystem (not a row-count guess), targets
    ``target_file_mb`` per output file, and rewrites in one job —
    ``coalesce`` (no shuffle) when shrinking file count, with an optional
    ``sort_col`` to restore range clustering (which forces the shuffle
    path of :func:`write_sorted` instead).

    Writes to ``dest`` rather than in place: an in-place rewrite that
    fails midway destroys the source; callers swap directories after the
    job succeeds (the same two-phase pattern every table format's compactor
    uses).
    """
    import math

    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(src)
    fs = p.getFileSystem(conf)
    total_bytes = fs.getContentSummary(p).getLength()
    n_files = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))
    df = read_parquet(spark, src)
    if sort_col is not None:
        write_sorted(df, dest, sort_col, n_files=n_files, mode=mode)
    else:
        df.coalesce(n_files).write.mode(mode).parquet(dest)
    out = jvm.org.apache.hadoop.fs.Path(dest)
    return sum(
        1
        for f in fs.listStatus(out)
        if f.getPath().getName().endswith(".parquet")
    )


def write_bucketed(
    df: DataFrame,
    name: str,
    key: str | list[str],
    n_buckets: int = 32,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Bucketed (co-located) table write — the 100 TB fact-fact join layout.

    Tables bucketed on the same key(s) with the same bucket count join and
    aggregate on those keys with NO exchange: the shuffle is paid once at
    write time and amortized over every downstream join (Spark reads each
    bucket pair task-locally). A compound ``key`` list buckets on the
    column tuple — the layout for joins on composite keys like an LSH
    index's (band, key). ``sort`` additionally orders rows within each
    bucket file so merge joins skip their sort when bucket files are
    single-filed. Registered via ``saveAsTable`` (bucketing metadata lives
    in the catalog, not parquet), read back with ``spark.table(name)``.
    """
    keys = [key] if isinstance(key, str) else list(key)
    w = df.write.format("parquet").mode(mode).bucketBy(n_buckets, *keys)
    if sort:
        w = w.sortBy(*keys)
    w.saveAsTable(name)


def zorder_key(x, y, bits: int = 16):
    """Morton / Z-order key: interleave the low ``bits`` of two
    non-negative integer columns (x bits at even positions, y at odd) —
    the multi-dimensional clustering complement of :func:`write_sorted`:
    range-clustering BY the z-key gives every file a tight bounding box
    in BOTH dimensions simultaneously, so parquet min/max stats prune
    scans for predicates on x alone, y alone, or both (one dimension's
    sort order is not sacrificed to the other — the Delta/Iceberg
    OPTIMIZE ZORDER technique, re-derived as a pure column expression).

    Pure JVM bit math (shift/and/or terms, 2·bits of them) in one
    codegen'd expression; engine-portable (DuckDB reproduces it with the
    same shifts — see the registry oracle). Inputs must be in
    [0, 2^bits); callers quantize first (e.g. ``value % (1<<bits)`` or a
    range-scaled cell index).
    """
    from pyspark.sql import functions as F

    z = F.lit(0).cast("long")
    xi = x.cast("long")
    yi = y.cast("long")
    for b in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(xi, b).bitwiseAND(F.lit(1)), 2 * b)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(yi, b).bitwiseAND(F.lit(1)), 2 * b + 1)
        )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    x: str,
    y: str,
    bits: int = 16,
    n_files: int = 32,
    mode: str = "overwrite",
) -> None:
    """Two-dimensional data-skipping layout: cluster files by the Morton
    key of (x, y). Files own disjoint z-ranges; because a z-range is a
    union of quad-tree cells, each file's (x, y) bounding box is tight —
    a selective predicate on EITHER column prunes most files (verified
    file-by-file in tests/test_sources.py). ``repartitionByRange``
    samples the z-key for balanced file sizes under skew; the helper
    column is dropped before writing so the layout is invisible to
    readers."""
    from pyspark.sql import functions as F

    zk = zorder_key(F.col(x), F.col(y), bits)
    (
        df.withColumn("_zk", zk)
        .repartitionByRange(n_files, "_zk")
        .sortWithinPartitions("_zk")
        .drop("_zk")
        .write.mode(mode)
        .parquet(path)
    )
