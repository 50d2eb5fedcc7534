"""Merge-on-read deletes via DELETION VECTORS — the complement of the
copy-on-write delete in sources/merge.py:delete_keys (u6).

Copy-on-write rewrites every affected bucket at delete time: reads stay
pure scans but a wide delete rewrites much of the table. Merge-on-read
inverts the trade: a delete APPENDS the deleted keys to a small
tombstone sidecar and the base data files are NEVER touched; readers
subtract the tombstones at scan time. This is the layout decision
behind Delta/Iceberg deletion vectors / position deletes, expressed
with plain parquet + an anti-join — at 100 TB a GDPR-sized delete
becomes a kilobyte append instead of a table rewrite, and the rewrite
cost is deferred to a compaction that can run whenever it is cheap.

A merge-on-read table is a ONE-TABLE transaction root
(sources/transactions.py), so it shares that module's version pointer,
crash contract and vacuum:

    {root}/base-v{N}/   immutable base data files for version N
    {root}/_dv-v{N}/    append-only tombstone sidecar FOR version N
    {root}/_TXN         the transaction pointer naming the live N

Readers resolve the pointer once and read a CONSISTENT (base, sidecar)
pair; `purge_deletions` commits a folded version, so there is NO
reader-visible missing-path window. Old version dirs are retained for
in-flight readers and reclaimed by `vacuum_txn_versions`. Every path
goes through the Hadoop FileSystem API, so a root may be a URI.

Contracts:
  - the sidecar is append-only; repeated appends of the same key are
    harmless (readers apply tombstones with set semantics) but callers
    should guard replays to keep the sidecar bounded;
  - readers broadcast the tombstone set while it is small (the normal
    regime — purge folds it back before it grows); if a sidecar
    outgrows the broadcast threshold Spark's planner falls back to a
    shuffle anti-join on the key — correct either way;
  - WRITERS serialize (single-writer maintenance contract, as for
    snapshots/merge): a delete appended to v{N}'s sidecar while a
    purge is folding v{N} is silently absent from v{N+1}. Readers
    never serialize and never observe a partial state;
  - purge crash points are commit_txn's: dying during the v{N+1}
    write leaves the pointer at N (the staged dir is garbage; a retry
    overwrites it); dying after the pointer swap leaves v{N} dirs as
    garbage for vacuum. No crash point loses committed deletes or
    exposes partial data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from citydata_etl_spark.sources.merge import _fs_and_path
from citydata_etl_spark.sources.transactions import (
    _committed_version,
    _table_dir,
    commit_txn,
    read_txn_table,
)


def write_mor_table(df: DataFrame, root: str) -> None:
    """Create the table: base files as immutable version 0, pointer
    swapped LAST (commit_txn), so a crash mid-write leaves no
    committed table rather than a committed partial one. Deletes never
    touch these files again (the test asserts the file listing is
    byte-identical across delete waves)."""
    commit_txn(df.sparkSession, root, {"base": df})


def append_deletion_vector(keys: DataFrame, root: str) -> None:
    """Record a delete: append the (single-column) key DataFrame to the
    LIVE version's tombstone sidecar. No base file is read, listed, or
    written — the cost is proportional to the DELETE SET, never the
    table."""
    v = _committed_version(keys.sparkSession, root)
    keys.write.mode("append").parquet(_table_dir(root, "_dv", v))


def read_mor_table(spark: SparkSession, root: str, key: str) -> DataFrame:
    """Scan-time view: base rows minus tombstoned keys, from the
    CONSISTENT (base-v{N}, _dv-v{N}) pair named by one pointer read —
    a racing purge flips the pointer atomically, so a reader sees
    either the old pair or the new pair, never a mix or a missing
    path. The sidecar is deduplicated (set semantics — replayed
    appends don't change results) and broadcast into a LEFT ANTI join;
    filters and column pruning on the result still push down to the
    base scan because the anti-join only references the key column."""
    v = _committed_version(spark, root)
    base = read_txn_table(spark, root, "base", v)
    fs, dv_path = _fs_and_path(spark, _table_dir(root, "_dv", v))
    if not fs.exists(dv_path):
        return base
    dv = read_txn_table(spark, root, "_dv", v).select(key).distinct()
    return base.join(F.broadcast(dv), key, "left_anti")


def purge_deletions(spark: SparkSession, root: str, key: str) -> None:
    """Compaction: fold the live sidecar into a NEW base version (one
    rewrite of the visible rows) and atomically flip the pointer to
    it. Visible rows are unchanged (pinned by test). The new version
    starts with no sidecar — truncation is implicit in the version
    bump, so no delete ever sits on the read path's critical section.

    Readers racing the purge are safe at every instant: the pointer
    flip is commit_txn's atomic rename, and the superseded v{N} dirs
    stay on disk for in-flight readers until `vacuum_txn_versions`.
    WRITERS must serialize with the purge (module contract): a
    tombstone appended to v{N} after the fold started is not reflected
    in v{N+1}."""
    commit_txn(spark, root, {"base": read_mor_table(spark, root, key)})
