"""Atomic transactions over plain parquet — one version pointer that
gives a table, or a GROUP of tables, one commit point.

A reader joining TWO tables that each commit on their own can see
table A at version n and table B at version n-1 — the classic
cross-table anomaly (Iceberg/Delta have the same gap at the table
level; engines close it with a catalog-level transaction pointer,
which is what this module builds). The same pointer serves a single
table: sources/deletion.py's merge-on-read tables are one-table
transaction roots holding `base` and `_dv`.

Layout:

    {root}/{table}-v{N}/   immutable data dirs, one per table per txn
    {root}/_TXN            pointer file naming the committed version N
                           (tmp + atomic FileContext Rename.OVERWRITE
                           via merge.py:write_small_file, swapped LAST)

Every path goes through the Hadoop FileSystem API, so a root may be a
plain path or any URI the session's Hadoop conf resolves (file://,
hdfs://, s3a://).

Protocol: `stage_txn` writes EVERY table's v{N+1} dir, `publish_txn`
flips the single pointer, and `commit_txn` is the two in a row — so
all tables become visible together, or none do. Crash points: dying
during any table write leaves the pointer at N (all staged dirs are
garbage; retry overwrites them); dying after the swap leaves the v{N}
dirs as garbage for `vacuum_txn_versions`. A reader resolves the
pointer ONCE and reads a consistent table set — there is no instant
where a join can mix versions. WRITERS serialize (single-writer
contract, as everywhere in this repo's layouts); READERS never do.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from citydata_etl_spark.sources.merge import (
    _fs_and_path,
    read_small_file as _read_small_file,
    write_small_file as _write_small_file,
)

_POINTER = "_TXN"


def _table_dir(root: str, table: str, version: int) -> str:
    return f"{root}/{table}-v{version}"


def txn_version(spark: SparkSession, root: str) -> int | None:
    raw = _read_small_file(spark, f"{root}/{_POINTER}")
    return None if raw is None else int(raw.decode("ascii"))


def _committed_version(spark: SparkSession, root: str) -> int:
    """The committed version; raises when the root has none (no
    commit ever ran, or its pointer swap did not)."""
    version = txn_version(spark, root)
    if version is None:
        raise RuntimeError(
            f"transaction root at {root} has no committed version"
        )
    return version


def commit_txn(
    spark: SparkSession, root: str, tables: dict[str, DataFrame]
) -> int:
    """Atomically publish a new version of EVERY table in `tables`:
    all data dirs first (overwrite mode — a retry after a partial
    crash heals), the one pointer swap LAST. Returns the committed
    version. All-or-nothing across the whole table set by the
    atomicity of the single rename."""
    return publish_txn(spark, root, stage_txn(spark, root, tables))


def stage_txn(
    spark: SparkSession, root: str, tables: dict[str, DataFrame]
) -> int:
    """WRITE half of write-audit-publish: write every table's next
    v-dir but do NOT flip the pointer — the staged version is
    invisible to every pointer-resolving reader until publish_txn.
    Returns the staged version number. Audits read the staged dirs
    directly via read_staged_table; a staged version that fails its
    audit is simply never published (retry overwrites the dirs, and
    vacuum after the NEXT successful publish reclaims them).

    SINGLE-WRITER contract (same as commit_txn): the staged version
    is derived from the current pointer, so two concurrent stagers —
    or a stager racing a committer — compute the same version and
    silently overwrite each other's staged dirs. One staging pipeline
    per root at a time; external coordination (a scheduler lock, a
    catalog lease) is the caller's job, exactly as it is for every
    filesystem-pointer table format without a locking service."""
    cur = txn_version(spark, root)
    nxt = 0 if cur is None else cur + 1
    for name, df in tables.items():
        df.write.mode("overwrite").parquet(_table_dir(root, name, nxt))
    return nxt


def read_staged_table(
    spark: SparkSession, root: str, table: str, version: int
) -> DataFrame:
    """Read a STAGED (unpublished) table version — the audit's view.
    Ordinary readers must keep using read_txn_table, which only ever
    sees published versions."""
    return spark.read.parquet(_table_dir(root, table, version))


def publish_txn(spark: SparkSession, root: str, version: int) -> int:
    """PUBLISH half of write-audit-publish: flip the pointer to an
    already-staged version (one atomic rename — the commit point of
    commit_txn too). Refuses to publish backwards or a version whose
    predecessor isn't the current pointer, so a stale audit can never
    resurrect an old staging.

    SINGLE-WRITER contract: the read-check-then-write of the pointer
    is TOCTOU under concurrent publishers — the guard catches STALE
    stagings deterministically (single-driver), not races. See
    stage_txn's contract prose; one publisher per root at a time."""
    cur = txn_version(spark, root)
    expect = 0 if cur is None else cur + 1
    if version != expect:
        raise RuntimeError(
            f"publish_txn: staged version {version} does not follow "
            f"committed {cur!r} (expected {expect}) — stale staging"
        )
    _write_small_file(
        spark, f"{root}/{_POINTER}", str(version).encode("ascii")
    )
    return version


def read_txn_table(
    spark: SparkSession, root: str, table: str,
    version: int | None = None,
) -> DataFrame:
    """Read one table at the committed transaction version (or a pinned
    earlier version for time travel — versions are immutable until
    vacuumed). Callers joining several tables resolve the version ONCE
    and pass it to every read, which is what makes the join
    cross-table consistent:

        v = txn_version(spark, root)
        a = read_txn_table(spark, root, "a", v)
        b = read_txn_table(spark, root, "b", v)
    """
    if version is None:
        version = _committed_version(spark, root)
    return spark.read.parquet(_table_dir(root, table, version))


def vacuum_txn_versions(spark: SparkSession, root: str) -> list[int]:
    """Reclaim every superseded version's table dirs, keeping the live
    transaction. MAINTENANCE OP: run it after in-flight readers of old
    versions drain — a pinned time-travel reader loses its files here,
    never to a commit. Refuses a root with no committed pointer: every
    dir there belongs to an in-flight FIRST commit. Returns the
    versions removed."""
    live = _committed_version(spark, root)
    fs, p = _fs_and_path(spark, root)
    removed = set()
    for st in fs.listStatus(p):
        m = re.fullmatch(r".+-v(\d+)", st.getPath().getName())
        if m and int(m.group(1)) != live:
            fs.delete(st.getPath(), True)
            removed.add(int(m.group(1)))
    return sorted(removed)
