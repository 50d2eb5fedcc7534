"""Snapshot-versioned control tables — time travel over the bucketed
MERGE (SURVEY.md §2.3 extension; the capability class of Delta/Iceberg
`VERSION AS OF`, parquet-native so it runs on the baked-in stack).

Where sources/merge.py overwrites affected buckets in place (one live
version, `_COMMIT` marker for crash visibility), this module never
mutates a written file — COPY-ON-WRITE at bucket granularity:

  layout    {path}/v={N}/bucket={B}/part-*.parquet   (immutable once written)
  manifest  {path}/_manifests/{N}.json  = for every bucket, the version
            directory holding its CURRENT files — {"buckets": {B: ver}}.
            Size is bounded by n_buckets (a layout constant), never by
            data or history size.
  latest    {path}/_manifests/_LATEST  (tmp + atomic rename, swapped LAST)

A merge writes ONLY the affected buckets into a fresh v={N+1} directory
and records every other bucket's unchanged pointer in manifest N+1 — the
Iceberg snapshot idea with the manifest flattened to one bucket->version
map. Readers resolve one manifest and read exactly the files it names:

  - snapshot isolation: a reader holding manifest N sees version N's
    bytes forever — no overlapping writer can disturb it (merge.py's
    token-recheck dance is unnecessary here);
  - time travel: snapshot_read(version=K) reproduces any retained
    version bit-exactly;
  - crash safety: v-dir first, manifest second, _LATEST swap LAST. A
    crash anywhere before the swap leaves orphan files that no manifest
    references and the OLD version current; the next merge re-derives
    N+1 from the last committed manifest and overwrites the orphans.

Same single-writer contract as merge.py (no lock; serialize writers
externally). Update semantics are merge.py's exactly — the merged
relation is built by the SHARED merge.merged_relation (non-NULL update
wins, NULL preserves, unmatched keys insert, additive schema evolution).

Cost at 100 TB: a merge touching u keys reads+writes min(u, B) buckets
regardless of table size or history depth; a snapshot read opens B
directories (one listing each); vacuum deletes whole version dirs that
no retained manifest references. History cost is bounded by
(versions retained) x (buckets rewritten per version) — the same bound
a Delta log compaction gives, without the log.

The column names `v` and `bucket` are reserved by the layout (they come
back as partition columns and are dropped on read).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from citydata_etl_spark.sources.merge import (
    _fs_and_path,
    bucket_expr,
    merged_relation,
    read_small_file as _read_small_file,
    write_small_file as _write_small_file,
)

_MANIFESTS = "_manifests"
_LATEST = "_LATEST"


def _hpath(spark: SparkSession, p: str):
    return spark._jvm.org.apache.hadoop.fs.Path(p)


def _manifest_path(path: str, version: int) -> str:
    return f"{path}/{_MANIFESTS}/{version}.json"


def _load_manifest(
    spark: SparkSession, path: str, version: int | None
) -> dict:
    """Manifest for `version` (None = the committed latest)."""
    if version is None:
        raw = _read_small_file(spark, f"{path}/{_MANIFESTS}/{_LATEST}")
        if raw is None:
            raise RuntimeError(
                f"snapshot table at {path} has no committed version"
            )
        version = int(raw.decode("ascii"))
    raw = _read_small_file(spark, _manifest_path(path, version))
    if raw is None:
        raise RuntimeError(
            f"snapshot table at {path} has no manifest for version "
            f"{version} (never written, or vacuumed away)"
        )
    return json.loads(raw.decode("utf-8"))


def _union_schema_json(prior_json: str, new_schema) -> str:
    """The table's TRUE schema after a merge: the merged working set's
    schema plus any prior-manifest column the merge's buckets never
    touched. Without the union, a merge that misses the buckets holding
    a previously-evolved column would commit a manifest whose `schema`
    omits it, and typed-empty reads (zero-bucket snapshot, empty change
    feed) would come back narrower than what mergeSchema reconciles
    from the files. Types are taken as-is on name match — drop/retype
    is unsupported by the layout (merge.py module docstring)."""
    from pyspark.sql.types import StructType

    prior = StructType.fromJson(json.loads(prior_json))
    have = {f.name for f in new_schema.fields}
    out = StructType(list(new_schema.fields))
    for f in prior.fields:
        if f.name not in have:
            out.add(f)
    return out.json()


def _commit(spark: SparkSession, path: str, manifest: dict) -> None:
    """Manifest file first, `_LATEST` pointer swap LAST."""
    v = manifest["version"]
    _write_small_file(
        spark,
        _manifest_path(path, v),
        json.dumps(manifest, sort_keys=True).encode("utf-8"),
    )
    _write_small_file(
        spark, f"{path}/{_MANIFESTS}/{_LATEST}", str(v).encode("ascii")
    )


def _write_version(
    df: DataFrame, path: str, version: int
) -> list[int]:
    """Write `df` (carrying a bucket column) as the immutable v-dir for
    `version`; returns the bucket ids written (bounded by n_buckets).

    No checkpoint and ONE action: v-dirs are immutable, so this write
    never overwrites files its own plan reads, and the written-bucket
    list comes from a directory listing of the fresh v-dir (bounded by
    n_buckets) instead of a second pass over the data — an init of an
    arbitrarily large table stays one job.

    Overwrite mode is pinned STATIC for the write: a crashed previous
    writer may have left a partial v-dir for this same version, and
    static overwrite truncates the whole directory first — under a
    session-level dynamic mode those orphan buckets would survive, be
    picked up by the listing below, and get committed into the new
    manifest as stale data."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
        (
            df.repartition("bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(f"{path}/v={version}")
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    fs, _ = _fs_and_path(spark, path)
    out = []
    for st in fs.listStatus(_hpath(spark, f"{path}/v={version}")):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("bucket="):
            out.append(int(name.split("=", 1)[1]))
    return sorted(out)


def snapshot_init(
    df: DataFrame, path: str, key_col: str, n_buckets: int = 16
) -> int:
    """Create version 1 of a snapshot table from `df`. Returns 1."""
    reserved = {"v", "bucket"} & set(df.columns)
    if reserved:
        raise ValueError(
            f"column names {sorted(reserved)} are reserved by the snapshot "
            "layout (they return as partition columns) — rename them"
        )
    spark = df.sparkSession
    with_bucket = df.withColumn("bucket", bucket_expr(key_col, n_buckets))
    buckets = _write_version(with_bucket, path, 1)
    _commit(
        spark,
        path,
        {
            "version": 1,
            "key_col": key_col,
            "n_buckets": n_buckets,
            "buckets": {str(b): 1 for b in buckets},
            # data schema (bucket excluded) — lets a zero-bucket
            # snapshot (empty init, or all rows deleted upstream) read
            # back as a typed empty relation instead of a scan error
            "schema": df.schema.json(),
        },
    )
    return 1


def snapshot_merge(
    spark: SparkSession, path: str, updates: DataFrame, key_col: str
) -> int:
    """MERGE `updates` into the snapshot table as a NEW version; every
    prior version stays readable. Returns the new version number.

    Only buckets containing an updated key are read (from the exact
    files the latest manifest names) and written (into the new v-dir);
    the manifest carries every other bucket's pointer forward. merge
    semantics are shared with merge_upsert via merged_relation."""
    man = _load_manifest(spark, path, None)
    if key_col != man["key_col"]:
        raise ValueError(
            f"snapshot table at {path} is keyed by {man['key_col']!r}, "
            f"not {key_col!r}"
        )
    reserved = {"v", "bucket"} & set(updates.columns)
    if reserved:
        raise ValueError(
            f"update column names {sorted(reserved)} are reserved by the "
            "snapshot layout — rename them"
        )
    n_buckets = int(man["n_buckets"])
    upd = updates.withColumn("bucket", bucket_expr(key_col, n_buckets))
    affected = sorted(
        r["bucket"] for r in upd.select("bucket").distinct().collect()
    )
    if not affected:
        return int(man["version"])
    cur = [
        f"{path}/v={man['buckets'][str(b)]}/bucket={b}"
        for b in affected
        if str(b) in man["buckets"]
    ]
    if cur:
        existing = (
            spark.read.option("basePath", path)
            .option("mergeSchema", "true")
            .parquet(*cur)
            .drop("v")
        )
    else:  # every affected bucket is brand new — pure insert
        existing = spark.createDataFrame([], upd.schema)
    merged = merged_relation(existing, upd, key_col)
    new_version = int(man["version"]) + 1
    written = _write_version(merged, path, new_version)
    buckets = dict(man["buckets"])
    buckets.update({str(b): new_version for b in written})
    _commit(
        spark,
        path,
        {
            "version": new_version,
            "key_col": key_col,
            "n_buckets": n_buckets,
            "buckets": buckets,
            "schema": _union_schema_json(
                man["schema"], merged.drop("bucket").schema
            ),
        },
    )
    return new_version


def snapshot_read(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read the snapshot table AS OF `version` (None = committed
    latest) — exactly the files that version's manifest names, so the
    result is immune to concurrent/later writers."""
    man = _load_manifest(spark, path, version)
    paths = [
        f"{path}/v={ver}/bucket={b}" for b, ver in man["buckets"].items()
    ]
    if not paths:  # zero-bucket snapshot (e.g. empty init): typed empty
        from pyspark.sql.types import StructType

        return spark.createDataFrame(
            [], StructType.fromJson(json.loads(man["schema"]))
        )
    return (
        spark.read.option("basePath", path)
        .option("mergeSchema", "true")
        .parquet(*paths)
        .drop("v", "bucket")
    )


def snapshot_versions(spark: SparkSession, path: str) -> list[int]:
    """Committed, still-retained version numbers, ascending."""
    fs, _ = _fs_and_path(spark, path)
    d = _hpath(spark, f"{path}/{_MANIFESTS}")
    if not fs.exists(d):
        return []
    out = []
    for st in fs.listStatus(d):
        name = st.getPath().getName()
        if name.endswith(".json"):
            out.append(int(name[:-5]))
    return sorted(out)


def snapshot_vacuum(
    spark: SparkSession, path: str, keep_last: int = 2
) -> list[int]:
    """Drop history: retain the latest `keep_last` manifests, delete
    every v-dir no retained manifest references (and the expired
    manifests). Returns the deleted version-dir numbers.

    Deletion order is safe-by-construction: expired MANIFESTS go first,
    so a crash mid-vacuum can only leave unreferenced v-dirs behind
    (re-run to finish), never a manifest pointing at deleted files.

    Candidate v-dirs come from the DIRECTORY listing, not the surviving
    manifests: a version whose manifest an earlier vacuum expired
    (while its files were still referenced) must still be deletable
    once later rewrites drop the last reference — deriving candidates
    from manifests would leak that directory forever."""
    raw = _read_small_file(spark, f"{path}/{_MANIFESTS}/{_LATEST}")
    if raw is None:
        raise RuntimeError(
            f"snapshot table at {path} has no committed version"
        )
    latest = int(raw.decode("ascii"))
    versions = snapshot_versions(spark, path)
    # keep = the latest keep_last SURVIVING manifests (plus any orphan
    # manifests above _LATEST from a crashed writer — never collect
    # those), not a version-number threshold: manifest numbering can
    # have gaps (prior vacuums, restores), and `v > latest - keep_last`
    # would then retain FEWER manifests than keep_last promises.
    committed = [v for v in versions if v <= latest]
    keep = sorted(set(committed[-keep_last:]) |
                  {v for v in versions if v > latest})
    referenced: set[int] = set()
    for v in keep:
        man = _load_manifest(spark, path, v)
        referenced.update(int(x) for x in man["buckets"].values())
    fs, root = _fs_and_path(spark, path)
    for v in versions:
        if v not in keep:
            fs.delete(_hpath(spark, _manifest_path(path, v)), False)
    vdirs = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("v="):
            vdirs.append(int(name.split("=", 1)[1]))
    dropped = []
    for v in sorted(vdirs):
        if v not in referenced and v <= latest:
            fs.delete(_hpath(spark, f"{path}/v={v}"), True)
            dropped.append(v)
    return dropped


def snapshot_changes(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int,
) -> DataFrame:
    """Change data feed between two committed snapshots (the Delta CDF /
    Iceberg changelog capability): one row per key whose content
    differs, labeled `_change` = 'insert' or 'update', with the full
    before/after images as `old_<col>` / `new_<col>`.

    The manifest diff makes this CHEAP: a bucket whose pointer is the
    same in both manifests holds byte-identical files (v-dirs are
    immutable), so only buckets REWRITTEN somewhere in (from, to] are
    read from either side — diff cost is bounded by the rewritten
    buckets' size, never the table's. Unchanged keys inside a rewritten
    bucket are dropped by a null-safe column comparison. 'delete' never
    occurs today (snapshot_merge only upserts) but the label is emitted
    for forward compatibility should a keyed delete land.
    """
    man_a = _load_manifest(spark, path, from_version)
    man_b = _load_manifest(spark, path, to_version)
    key_col = man_b["key_col"]
    a_buckets, b_buckets = man_a["buckets"], man_b["buckets"]
    changed = sorted(
        b
        for b in set(a_buckets) | set(b_buckets)
        if a_buckets.get(b) != b_buckets.get(b)
    )

    def _side(buckets: dict) -> DataFrame | None:
        paths = [
            f"{path}/v={buckets[b]}/bucket={b}"
            for b in changed
            if b in buckets
        ]
        if not paths:
            return None
        return (
            spark.read.option("basePath", path)
            .option("mergeSchema", "true")
            .parquet(*paths)
            .drop("v", "bucket")
        )

    new = _side(b_buckets)
    old = _side(a_buckets)
    if new is None and old is None:  # no rewritten buckets at all
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(man_b["schema"]))
        empty = spark.createDataFrame([], schema)
        new, old = empty, empty
    elif new is None:
        new = spark.createDataFrame([], old.schema)
    elif old is None:
        old = spark.createDataFrame([], new.schema)
    # data_cols is the UNION of both sides' columns: after a restore
    # re-publishes an older, narrower schema, a column can exist only on
    # the OLD side — diffing new.columns alone would compare such rows
    # equal and silently drop them from the feed. Whichever side lacks a
    # column is backfilled with a typed NULL from the other's schema.
    new_cols = [c for c in new.columns if c != key_col]
    data_cols = new_cols + [
        c for c in old.columns if c != key_col and c not in new_cols
    ]
    o = old.select(
        F.col(key_col),
        F.lit(1).alias("__in_old"),
        *[F.col(c).alias(f"old_{c}") for c in old.columns
          if c != key_col],
    )
    n = new.select(
        F.col(key_col),
        F.lit(1).alias("__in_new"),
        *[F.col(c).alias(f"new_{c}") for c in new_cols],
    )
    j = o.join(n, key_col, "full_outer")
    for c in data_cols:  # schema evolution / restore: either side may lack c
        if f"old_{c}" not in j.columns:
            j = j.withColumn(f"old_{c}", F.lit(None).cast(
                new.schema[c].dataType
            ))
        if f"new_{c}" not in j.columns:
            j = j.withColumn(f"new_{c}", F.lit(None).cast(
                old.schema[c].dataType
            ))
    differs = F.lit(False)
    for c in data_cols:
        differs = differs | ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
    change = (
        F.when(F.col("__in_old").isNull(), F.lit("insert"))
        .when(F.col("__in_new").isNull(), F.lit("delete"))
        .when(differs, F.lit("update"))
    )
    return (
        j.withColumn("_change", change)
        .filter(F.col("_change").isNotNull())
        .select(
            key_col,
            "_change",
            *[F.col(f"old_{c}") for c in data_cols],
            *[F.col(f"new_{c}") for c in data_cols],
        )
    )


def snapshot_restore(
    spark: SparkSession, path: str, version: int
) -> int:
    """Roll the table back to `version` by committing its bucket map as
    a NEW version (Delta RESTORE): zero data movement — the restored
    version's manifest pointers are re-published under version N+1, so
    the rollback itself stays in the history (a restore of a restore is
    well-defined, and the bad intermediate versions remain readable
    until vacuumed). Returns the new version number."""
    src = _load_manifest(spark, path, version)
    cur = _load_manifest(spark, path, None)
    new_version = int(cur["version"]) + 1
    _commit(
        spark,
        path,
        {
            "version": new_version,
            "key_col": cur["key_col"],
            "n_buckets": int(cur["n_buckets"]),
            "buckets": dict(src["buckets"]),
            "schema": src["schema"],
        },
    )
    return new_version
