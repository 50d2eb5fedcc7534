"""Keyed MERGE (upsert) and DELETE for control tables (SURVEY.md §2.3).

The reference's signature write is a keyed point update applied by
rewriting the WHOLE control CSV through one writer (reference
lambda/update-control.py:29-36, lambda/collect-data.py:111-135) — a
single-writer full-table rewrite that cannot scale past one bounded table.
This module is the at-scale form SURVEY §2.3 calls for (Delta MERGE INTO
semantics, parquet-native so it runs on the baked-in stack). The table is
partitioned by bucket = pmod(xxhash64(key), B), one `bucket=b` directory
per bucket, and both writes — merge_upsert and delete_keys — are the same
staged bucket swap (_rewrite_buckets), differing only in the relation
that builds an affected bucket's new rows:

  1. heal a swap an earlier writer left pending (_heal_swap)
  2. bucket the input and collect the affected bucket ids (bounded by B,
     a layout constant, never by data size)
  3. read ONLY the affected buckets (partition pruning on the bucket
     filter); untouched buckets are neither read nor rewritten
  4. stage the new rows under the hidden `.delete_staging` directory,
     fully on disk before any live file is touched
  5. write the typed `_AFFECTED` manifest: `b:s` (rows staged) or `b:e`
     (bucket fully erased — only a delete produces these)
  6. drop `_COMMIT`
  7. per affected bucket, by atomic renames only: the live directory
     steps aside into `.delete_trash`, the staged one renames into place
  8. delete trash and staging, write a fresh `_COMMIT` token

Crash contract (every crash point either works or fails loudly):
  - before step 6 the live table is the committed pre-write state; the
    next writer discards the stale staging;
  - from step 6 on the table is VISIBLY uncommitted (read_bucketed_control
    refuses) and the next merge_upsert or delete_keys FIRST finishes the
    swap from the manifest (steps 7-8), so no crash window loses a row:
    each bucket's new rows sit in staging until the rename that publishes
    them, and a live directory is never deleted, only renamed aside. The
    manifest's type decides a bucket with no staged directory: `e` means
    erased (the live copy goes), `s` means already published (left alone);
  - a crash after step 8's staging delete but before the marker leaves the
    complete new state without a marker; re-running the same write
    re-commits it (both writes are idempotent: coalesce(update, stored)
    applied twice is the same row, and deleting an absent key is a no-op).

Consistency contract (narrower than Delta's — stated, not implied):
  - SINGLE WRITER. There is no commit log or lock; two concurrent writers
    on one path can interleave swaps and lose one writer's changes.
    Serialize writers externally (the reference's Lambda is effectively
    single-writer too).
  - `_COMMIT` tokens give readers a consistent-view guard WITHOUT a Delta
    log: capture read_commit_token before a read, re-check after, retry
    on mismatch. Renames are atomic on local FS and HDFS; on S3-style
    stores a rename is copy+delete and the guard weakens to
    read-after-write.

Cost per write is O(|affected buckets| + |input|), independent of total
table size once B spreads keys: point updates touch ~1 bucket, a batch of
u keys at most min(u, B). CSV compatibility (write_control_csv) remains
the export sink; this is the system of record.

Update semantics match the reference's column-wise point update: a
non-NULL update value replaces the stored value; NULL preserves it
(collect-data.py writes whole rows, but its updates always carry values —
the NULL-preserves rule is what MERGE ... WHEN MATCHED THEN UPDATE SET
col = coalesce(u.col, t.col) expresses). Unmatched update keys INSERT.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def bucket_expr(key_col: str, n_buckets: int) -> Column:
    """Deterministic bucket id for a key: pmod(xxhash64(key), n_buckets)."""
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")


_COMMIT = "_COMMIT"


def _fs_and_path(spark: SparkSession, path: str):
    """Hadoop FileSystem + Path for `path` — works for any scheme the
    session's Hadoop conf resolves (file://, hdfs://, s3a://, ...)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def write_small_file(spark: SparkSession, path: str, data: bytes) -> None:
    """Write a bounded metadata file via tmp + rename, ATOMICALLY
    replacing any live copy: the rename goes through FileContext with
    Options.Rename.OVERWRITE (atomic on local FS and HDFS), so no
    reader or crash can observe a missing-file window during a swap.
    Stores without FileContext bindings fall back to delete + rename —
    a read-after-write window no smaller primitive exists for there
    (S3A's rename is copy + delete regardless)."""
    jvm = spark._jvm
    fs, _ = _fs_and_path(spark, path)
    tmp = jvm.org.apache.hadoop.fs.Path(path + ".tmp")
    final = jvm.org.apache.hadoop.fs.Path(path)
    out = fs.create(tmp, True)
    out.write(bytearray(data))
    out.close()
    try:
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            final.toUri(), spark._jsc.hadoopConfiguration()
        )
        arr = spark.sparkContext._gateway.new_array(
            jvm.org.apache.hadoop.fs.Options.Rename, 1
        )
        arr[0] = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
        fc.rename(tmp, final, arr)
    except Exception as fc_err:
        if fs.exists(final):
            fs.delete(final, False)
        # fs.rename signals failure by RETURN VALUE, not exception — a
        # silently-failed rename here would leave the marker missing
        # (readers see an uncommitted table) with no error surfaced.
        if not fs.rename(tmp, final):
            raise IOError(
                f"atomic-replace fallback failed: rename {path}.tmp -> "
                f"{path} returned false after the live copy was deleted "
                f"(FileContext path failed with: {fc_err})"
            ) from fc_err


def read_small_file(spark: SparkSession, path: str) -> bytes | None:
    """Read a bounded metadata file through the Hadoop FS API (scheme-
    portable), or None if absent; streamed via IOUtils into one gateway
    transfer, not byte-at-a-time py4j calls."""
    jvm = spark._jvm
    fs, _ = _fs_and_path(spark, path)
    p = jvm.org.apache.hadoop.fs.Path(path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        buf = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, buf, 65536, False)
        return bytes(buf.toByteArray())
    finally:
        stream.close()


def write_commit_marker(spark: SparkSession, path: str) -> str:
    """Swap the table's `_COMMIT` marker with a fresh token, LAST in the
    write protocol (atomic replace — see write_small_file). Returns the
    token written."""
    import uuid

    token = uuid.uuid4().hex
    write_small_file(spark, f"{path}/{_COMMIT}", token.encode("ascii"))
    return token


def read_commit_token(spark: SparkSession, path: str) -> str | None:
    """The current `_COMMIT` token, or None when the table has never
    completed a write (or a writer crashed mid-commit)."""
    raw = read_small_file(spark, f"{path}/{_COMMIT}")
    return None if raw is None else raw.decode("ascii")


def write_bucketed_control(
    df: DataFrame, path: str, key_col: str, n_buckets: int = 64
) -> None:
    """Initialize (or fully replace) a bucket-partitioned control table;
    the `_COMMIT` marker is swapped last."""
    (
        df.withColumn("bucket", bucket_expr(key_col, n_buckets))
        .repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )
    write_commit_marker(df.sparkSession, path)


def read_bucketed_control(
    spark: SparkSession, path: str, require_commit: bool = True
) -> DataFrame:
    """Read the control table back without the physical bucket column.

    require_commit=True (default) refuses a table with no `_COMMIT`
    marker — either initialization never finished or a writer crashed
    mid-swap (re-run the same merge or delete: it finishes the swap and
    rewrites the marker). For an overlap-detection guard, capture
    read_commit_token before and re-check after materializing."""
    if require_commit and read_commit_token(spark, path) is None:
        raise RuntimeError(
            f"bucketed control table at {path} has no {_COMMIT} marker — "
            "initialization incomplete or a writer crashed mid-commit; "
            "re-run the same merge or delete to heal, or pass "
            "require_commit=False to read the possibly-inconsistent state"
        )
    # mergeSchema reconciles buckets written before an additive schema
    # evolution (merge_upsert widening) with buckets written after it:
    # old files simply lack the new columns and read back as NULL.
    return (
        spark.read.option("mergeSchema", "true").parquet(path).drop("bucket")
    )


def merged_relation(
    existing: DataFrame, upd: DataFrame, key_col: str
) -> DataFrame:
    """The MERGE output relation shared by merge_upsert and the
    snapshot writer (sources/snapshots.py): `existing` and `upd` both
    carry a `bucket` column; matched keys take each non-NULL update
    value (NULL preserves the stored one), unmatched keys insert.

    SCHEMA EVOLUTION (additive): update columns absent from the stored
    table widen it — existing rows in the affected buckets backfill
    NULL, untouched buckets keep their old files and reconcile at read
    time via mergeSchema (read_bucketed_control sets it). Dropping or
    retyping columns is NOT supported here: a type change would make
    old and new bucket files irreconcilable under parquet mergeSchema,
    so it must go through a full-table rewrite instead.

    A data column absent from the update set is an implicit NULL —
    "preserve the stored value" under the coalesce rule. This is what
    lets callers send PARTIAL updates (just the columns they touch)
    instead of whole rows, the reference's actual event shape
    (update-control.py events carry only status/date_completed)."""
    data_cols = [c for c in existing.columns if c not in (key_col, "bucket")]
    upd_data = [c for c in upd.columns if c not in (key_col, "bucket")]
    new_cols = [c for c in upd_data if c not in data_cols]
    for c in new_cols:
        existing = existing.withColumn(
            c, F.lit(None).cast(upd.schema[c].dataType)
        )
    data_cols += new_cols
    upd_sel = upd.select(
        F.col(key_col),
        F.col("bucket").alias("__u_bucket"),
        *[
            (
                F.col(c)
                if c in upd_data
                else F.lit(None).cast(existing.schema[c].dataType)
            ).alias(f"__u_{c}")
            for c in data_cols
        ],
        F.lit(1).alias("__is_upd"),
    )
    return (
        existing.join(upd_sel, key_col, "full_outer")
        .select(
            F.col(key_col),
            # insert rows have no existing bucket; recompute = same expr
            F.coalesce(F.col("bucket"), F.col("__u_bucket")).alias("bucket"),
            *[
                F.when(
                    F.col("__is_upd").isNotNull(),
                    F.coalesce(F.col(f"__u_{c}"), F.col(c)),
                )
                .otherwise(F.col(c))
                .alias(c)
                for c in data_cols
            ],
        )
    )


_STAGING, _TRASH = ".delete_staging", ".delete_trash"


def _rename(fs, src, dst) -> None:
    # FileSystem.rename reports failure by return value, not exception;
    # going on after a failed rename could nest the staged dir inside
    # a live one that never stepped aside
    if not fs.rename(src, dst):
        raise IOError(f"bucket swap: rename {src} -> {dst} failed")


def _finish_swap(spark: SparkSession, path: str) -> None:
    """Steps 7-8 of the staged bucket swap (module docstring), driven
    by the `_AFFECTED` manifest plus any staged bucket directory it
    does not name (an untyped or missing line reads as `s`, the
    non-destructive state). Run by the writer itself right after it
    drops `_COMMIT`, and by _heal_swap after a crash; idempotent, since
    a bucket whose staged copy already published is left alone and
    trash only ever holds superseded content."""
    fs, p = _fs_and_path(spark, path)
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    staging, trash = hpath(p, _STAGING), hpath(p, _TRASH)
    states: dict[str, str] = {}
    raw = read_small_file(spark, f"{path}/{_STAGING}/_AFFECTED")
    for line in (raw or b"").decode().split():
        bucket, _, state = line.partition(":")
        states[f"bucket={bucket}"] = state or "s"
    if fs.exists(staging):
        for st in fs.listStatus(staging):
            if st.getPath().getName().startswith("bucket="):
                states.setdefault(st.getPath().getName(), "s")
    for name, state in sorted(states.items()):
        src, dst = hpath(staging, name), hpath(p, name)
        aside = hpath(trash, name)
        staged = state == "s" and fs.exists(src)
        if (state == "e" or staged) and fs.exists(dst):
            fs.mkdirs(trash)
            fs.delete(aside, True)  # stale trash from a healed prior crash
            _rename(fs, dst, aside)  # atomic: the live copy steps aside
        if staged:
            _rename(fs, src, dst)  # atomic: the new rows publish in one op
    fs.delete(trash, True)
    fs.delete(staging, True)
    write_commit_marker(spark, path)


def _heal_swap(spark: SparkSession, path: str) -> None:
    """Step 1: with staging or trash left behind and `_COMMIT` absent, a
    writer crashed mid-swap — finish it. With `_COMMIT` present the
    crash came before the swap began, so the leftovers are stale."""
    fs, p = _fs_and_path(spark, path)
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    staging, trash = hpath(p, _STAGING), hpath(p, _TRASH)
    if not (fs.exists(staging) or fs.exists(trash)):
        return
    if fs.exists(hpath(p, _COMMIT)):
        fs.delete(staging, True)
        fs.delete(trash, True)
    else:
        _finish_swap(spark, path)


def _rewrite_buckets(
    spark: SparkSession,
    path: str,
    keyed: DataFrame,
    key_col: str,
    n_buckets: int,
    new_rows,
) -> None:
    """The one staged bucket swap behind merge_upsert and delete_keys
    (steps 1-8 of the module docstring). `new_rows(existing, keyed)`
    maps the affected buckets' stored rows and the bucketed input to
    the buckets' complete new content; a bucket it leaves empty is
    erased."""
    _heal_swap(spark, path)
    keyed = keyed.withColumn("bucket", bucket_expr(key_col, n_buckets))
    affected = [
        r["bucket"] for r in keyed.select("bucket").distinct().collect()
    ]
    if not affected:
        return
    existing = spark.read.parquet(path).filter(F.col("bucket").isin(affected))
    staging = f"{path}/{_STAGING}"
    # staged fully on disk, not cached: a recompute after the swap began
    # would read renamed-away files
    (
        new_rows(existing, keyed)
        .repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(staging)
    )
    fs, _ = _fs_and_path(spark, staging)
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    # typed NOW, while knowable: after a partial swap a missing staged
    # directory is ambiguous (erased vs already published)
    lines = [
        f"{b}:{'s' if fs.exists(hpath(f'{staging}/bucket={b}')) else 'e'}"
        for b in affected
    ]
    write_small_file(spark, f"{staging}/_AFFECTED", "\n".join(lines).encode())
    fs.delete(hpath(f"{path}/{_COMMIT}"), False)
    _finish_swap(spark, path)


def merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_col: str,
    n_buckets: int = 64,
) -> None:
    """MERGE `updates` into the bucket-partitioned control table at `path`.

    Matched keys: each non-NULL update column replaces the stored value
    (NULL preserves — see module docstring). Unmatched keys insert.
    Only buckets containing an updated key are read and rewritten,
    through the staged bucket swap; every other bucket's files are
    untouched. A swap a crashed writer left pending is finished first.
    """
    _rewrite_buckets(
        spark, path, updates, key_col, n_buckets,
        lambda existing, upd: merged_relation(existing, upd, key_col),
    )


def delete_keys(
    spark: SparkSession,
    path: str,
    keys: DataFrame,
    key_col: str,
    n_buckets: int = 64,
) -> None:
    """Hard-DELETE the given keys from the bucket-partitioned table —
    the GDPR/right-to-erasure primitive. Only buckets containing a
    requested key are read and rewritten (an ANTI join against the key
    set), through the staged bucket swap, so the cost scales with the
    delete set's bucket spread, never the table size. A bucket whose
    every row is deleted loses its directory entirely (the `e` manifest
    state). A swap a crashed writer left pending is finished first.
    """
    _rewrite_buckets(
        spark, path, keys.select(key_col).distinct(), key_col, n_buckets,
        lambda existing, k: existing.join(
            k.select(key_col), key_col, "left_anti"
        ),
    )
