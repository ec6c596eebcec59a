"""Snapshot-versioned keyed upsert on plain parquet (lakehouse-lite sink).

The reference's import flow upserts subjects and appends facts into
Postgres (`w4h_db_utils.py:192-200` — dedup, left-anti insert-if-absent,
append); a transactional RDBMS gives it snapshot isolation for free. On a
parquet lake there is no such engine, so this module supplies the three
properties a mutable keyed table needs, Spark-first and without any
external table format:

- **Latest-wins upsert** (`upsert_parquet`): incoming rows replace
  same-key rows; everything else is carried over.
- **Snapshot isolation + time travel** (`read_versioned`): every upsert
  writes a NEW immutable version; readers resolve a manifest once and
  are never affected by concurrent writes; any retained version remains
  readable by number.
- **Partition-level copy-on-write**: with a `partition_col`, an upsert
  rewrites ONLY the partitions containing updated keys — untouched
  partitions' files are *shared* between versions by manifest reference
  (the property that makes a 100 TB table cheap to patch: a one-key fix
  costs one partition's rewrite, not a table scan-and-rewrite).

Layout (all immutable except the two atomically-replaced pointer files)::

    table/
      _manifests/v{N}.json   # {"partitions": {part_value: data_rel_path},
                             #  "schema": {write_uuid: spark_schema_json}}
      _LATEST                # "N" — os.replace'd, atomic on POSIX
      data/{write_uuid}/...  # parquet, partitionBy(partition_col) dirs

``schema`` holds, for every write batch the version references, the
schema of that batch's data files exactly as a parquet read returns it
(partition column left out, every field nullable). Each scan opens with
``spark.read.schema(...)``, so resolving a version launches no Spark job:
an inferred parquet scan runs one schema-inference job per path. Keying by
write batch keeps the record exact when a later write widens a column type
while older partitions are carried. Manifests written before the field
existed, and batches they carried, have no entry and fall back to
inference.

Scale notes: the manifest is O(partitions) JSON — thousands of date
partitions is a few hundred KB; the read plan unions one parquet scan per
partition, with the partition value restored as a literal column.
`vacuum_versions` deletes data dirs referenced only by dropped manifests.
Concurrent WRITERS are not arbitrated (single-writer assumption, like
Delta without a lock service); concurrent readers are always safe.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["upsert_parquet", "read_versioned", "list_versions", "vacuum_versions"]

_ALL = "__all__"  # pseudo-partition for unpartitioned tables


def _manifest_dir(table: str) -> str:
    return os.path.join(table, "_manifests")


def _latest_path(table: str) -> str:
    return os.path.join(table, "_LATEST")


def _load_manifest(table: str, version: int) -> dict:
    with open(os.path.join(_manifest_dir(table), f"v{version}.json")) as f:
        return json.load(f)


def _write_batch(rel: str) -> str:
    """``data/<write_uuid>[/<col>=<value>]`` -> ``<write_uuid>``."""
    return rel.split(os.sep)[1]


def _nullable(t: T.DataType) -> T.DataType:
    """``t`` with every field, element and value nullable: Spark writes
    parquet that way, so it is the type a read of the files returns."""
    if isinstance(t, T.StructType):
        return T.StructType([
            T.StructField(f.name, _nullable(f.dataType), True, f.metadata)
            for f in t.fields
        ])
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_nullable(t.elementType), True)
    if isinstance(t, T.MapType):
        return T.MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


def _scan(spark: SparkSession, table: str, rel: str, schemas: dict) -> DataFrame:
    """One parquet scan of a manifest data path: with the schema recorded
    for its write batch when there is one, else inferred."""
    schema = schemas.get(_write_batch(rel))
    reader = spark.read if schema is None else spark.read.schema(
        T.StructType.fromJson(schema)
    )
    return reader.parquet(os.path.join(table, rel))


def latest_version(table: str) -> int | None:
    try:
        with open(_latest_path(table)) as f:
            return int(f.read().strip())
    except FileNotFoundError:
        return None


def list_versions(table: str) -> list[int]:
    try:
        names = os.listdir(_manifest_dir(table))
    except FileNotFoundError:
        return []
    return sorted(int(n[1:-5]) for n in names if n.startswith("v") and n.endswith(".json"))


def upsert_parquet(
    spark: SparkSession,
    table: str,
    updates: DataFrame,
    key: str | list[str],
    partition_col: str | None = None,
) -> int:
    """Latest-wins upsert of ``updates`` into ``table``; returns the new
    version number. First call creates the table (schema = updates').

    One Spark job per upsert: carried-over rows of AFFECTED partitions
    anti-join the update keys, union the updates, and write
    ``partitionBy(partition_col)`` under a fresh write uuid; unaffected
    partitions are carried by manifest reference only (zero IO). The
    version becomes visible with one atomic ``os.replace`` of _LATEST —
    a reader sees the old complete version or the new complete version,
    never a mix. With ``partition_col``, updates must not move a key
    between partitions (enforced per-partition by the anti-join shape:
    a moved key would survive in its old partition; callers migrating
    keys should delete-then-insert explicitly).
    """
    keys = [key] if isinstance(key, str) else list(key)
    if partition_col is not None and partition_col in keys:
        raise ValueError("partition_col cannot be part of the upsert key")

    os.makedirs(_manifest_dir(table), exist_ok=True)
    cur_version = latest_version(table)
    cur = _load_manifest(table, cur_version) if cur_version is not None else {}
    cur_parts: dict[str, str] = dict(cur.get("partitions", {}))
    cur_schemas: dict[str, dict] = cur.get("schema", {})

    write_id = uuid.uuid4().hex[:12]
    out_dir = os.path.join(table, "data", write_id)

    if partition_col is None:
        affected = [_ALL]
        merged = updates
        if _ALL in cur_parts:
            current = _scan(spark, table, cur_parts[_ALL], cur_schemas)
            merged = updates.unionByName(
                current.join(updates.select(*keys).distinct(), keys, "left_anti")
            )
        merged.write.parquet(out_dir)
        new_parts = {**cur_parts, _ALL: os.path.join("data", write_id)}
    else:
        part_vals = [
            str(r[0])
            for r in updates.select(partition_col).distinct().collect()
        ]
        affected = part_vals
        old_paths = [
            os.path.join(table, cur_parts[p]) for p in part_vals if p in cur_parts
        ]
        merged = updates
        if old_paths:
            # one scan over the affected partitions only (shared basePath per
            # batch is not needed here: these are leaf partition dirs, the
            # partition column is re-derived from the manifest keys)
            currents = []
            for p in part_vals:
                if p in cur_parts:
                    currents.append(
                        _scan(spark, table, cur_parts[p], cur_schemas)
                        .withColumn(partition_col, F.lit(p))
                    )
            current = currents[0]
            for c in currents[1:]:
                current = current.unionByName(c)
            upd_keys = updates.select(partition_col, *keys).distinct()
            merged = updates.unionByName(
                current.join(upd_keys, [partition_col, *keys], "left_anti")
            )
        merged.repartition(F.col(partition_col)).write.partitionBy(
            partition_col
        ).parquet(out_dir)
        new_parts = dict(cur_parts)
        for p in part_vals:
            new_parts[p] = os.path.join(
                "data", write_id, f"{partition_col}={p}"
            )

    written = _nullable(T.StructType(
        [f for f in merged.schema.fields if f.name != partition_col]
    ))
    schemas = {**cur_schemas, write_id: written.jsonValue()}
    referenced = {_write_batch(rel) for rel in new_parts.values()}
    new_version = (cur_version or 0) + 1
    manifest = {
        "version": new_version,
        "key": keys,
        "partition_col": partition_col,
        "write_id": write_id,
        "affected": affected,
        "partitions": new_parts,
        "schema": {w: s for w, s in schemas.items() if w in referenced},
    }
    mpath = os.path.join(_manifest_dir(table), f"v{new_version}.json")
    tmp = mpath + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, mpath)  # manifest first, pointer second
    tmp = _latest_path(table) + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(new_version))
    os.replace(tmp, _latest_path(table))
    return new_version


def read_versioned(
    spark: SparkSession, table: str, version: int | None = None
) -> DataFrame:
    """Snapshot read: resolves the manifest ONCE (version pinned at call
    time — concurrent upserts cannot shift this reader), then unions one
    parquet scan per partition. Partition values are restored from the
    manifest, so partition-pruning filters work as column predicates.
    Scans open with the manifest's recorded schema, so this launches no
    Spark job (see the module docstring for the fallback)."""
    v = latest_version(table) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no versions at {table}")
    m = _load_manifest(table, v)
    partition_col = m["partition_col"]
    schemas = m.get("schema", {})
    if partition_col is None:
        return _scan(spark, table, m["partitions"][_ALL], schemas)
    dfs = [
        _scan(spark, table, rel, schemas).withColumn(partition_col, F.lit(p))
        for p, rel in sorted(m["partitions"].items())
    ]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def vacuum_versions(table: str, keep: int = 2) -> list[int]:
    """Drop all but the newest ``keep`` versions: delete their manifests,
    then delete data dirs no retained manifest references. Returns the
    versions removed. Never touches the retained versions' files — a
    reader holding an OLD retained version keeps working; a reader
    holding a dropped version races deletion exactly as it would with
    any retention policy (pick ``keep`` ≥ longest reader)."""
    import shutil

    versions = list_versions(table)
    drop, hold = versions[:-keep] if keep else versions, versions[-keep:] if keep else []
    if not drop:
        return []
    kept_dirs: set[str] = set()
    for v in hold:
        for rel in _load_manifest(table, v)["partitions"].values():
            # data/<write_id>/... -> data/<write_id>
            parts = rel.split(os.sep)
            kept_dirs.add(os.path.join(*parts[:2]))
    dropped_dirs: set[str] = set()
    for v in drop:
        for rel in _load_manifest(table, v)["partitions"].values():
            parts = rel.split(os.sep)
            dropped_dirs.add(os.path.join(*parts[:2]))
    for d in dropped_dirs - kept_dirs:
        shutil.rmtree(os.path.join(table, d), ignore_errors=True)
    for v in drop:
        os.remove(os.path.join(_manifest_dir(table), f"v{v}.json"))
    return drop
