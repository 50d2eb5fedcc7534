"""Incremental pipeline patterns (SURVEY.md §2.7 T1-T4).

  - incremental_pending_run: Trigger.AvailableNow micro-batch over newly
    arrived control rows — the streaming form of the periodic re-scrape
    (T1/T2): state lives in the control table itself, each micro-batch is
    the P1 pending filter, exactly the reference's incremental contract
    (reference lambda/collect-data.py:166) without its lost-update race.
  - foreach_batch_promote: the curated-zone promotion (S9/T3) as a
    foreachBatch sink — per-batch exactly-once via the write-commit
    protocol plus checkpointed offsets.
  - with_retry: bounded retries with fixed interval — the Step Functions
    retry policy (reference stepfunction/definition.json:13-23: 10
    attempts, 30 s, backoff rate 1) as driver-side logic.
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def incremental_pending_run(
    spark: SparkSession,
    control_path: str,
    schema: T.StructType,
    process_batch: Callable[[DataFrame, int], None],
    checkpoint: str,
    query_name: str = "pending_scan",
) -> None:
    """Process pending control rows incrementally: stream the control CSV
    directory, filter P1 per micro-batch, hand each batch to
    process_batch(df, epoch). AvailableNow drains what exists and stops —
    rerunning later picks up only new files (checkpointed offsets)."""
    from citydata_etl_spark.operators.relational import pending_work

    stream = (
        spark.readStream.schema(schema)
        .option("header", True)
        .csv(control_path)
    )

    def handle(df: DataFrame, epoch: int) -> None:
        process_batch(pending_work(df), epoch)

    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .queryName(query_name)
        .start()
    )
    q.awaitTermination()


def foreach_batch_promote(
    spark: SparkSession,
    staging_path: str,
    staging_schema: T.StructType,
    curated_path: str,
    checkpoint: str,
    now=None,
) -> None:
    """T3: stream staging arrivals into the curated partitioned layout.
    Each micro-batch runs the batch promotion (etl/staging.py:promote) —
    partition values are processing-time, matching the reference's
    wall-clock-at-move semantics (process-staging.py:14-18). Pass `now`
    (a timestamp Column) to inject the clock for deterministic tests and
    oracle-checked runs."""
    from citydata_etl_spark.etl.staging import promote

    stream = (
        spark.readStream.schema(staging_schema)
        .option("header", True)
        .csv(staging_path)
    )

    def handle(df: DataFrame, epoch: int) -> None:
        promote(df, curated_path, now=now)

    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def with_retry(
    fn: Callable[[], None],
    attempts: int = 10,
    interval_seconds: float = 30.0,
    backoff_rate: float = 1.0,
) -> None:
    """T4: the Step Functions retry policy as driver-side control flow."""
    delay = interval_seconds
    for attempt in range(1, attempts + 1):
        try:
            fn()
            return
        except Exception:
            if attempt == attempts:
                raise
            time.sleep(delay)
            delay *= backoff_rate


def foreach_batch_upsert(
    spark: SparkSession,
    feed_path: str,
    feed_schema: T.StructType,
    table_path: str,
    checkpoint: str,
    key_col: str = "id",
    version_col: str = "version",
    n_buckets: int = 16,
    max_files_per_trigger: int = 1,
) -> None:
    """Streaming CDC UPSERT: each micro-batch is reduced to its latest
    change per key (max_by on the version column — map-side combinable),
    then MERGEd into the bucket-partitioned table (sources/merge.py:
    merge_upsert — only affected buckets rewritten through the staged
    bucket swap, _COMMIT marker last).  This is the lakehouse
    streaming-upsert loop: an unbounded change feed continuously folded
    into a keyed table, with per-batch cost proportional to the batch's
    key spread, not the table size.

    The checkpoint makes re-invocation incremental (processed files are
    never re-merged).  A batch whose merge crashed is re-run by the
    restarted query; the merge first finishes any swap the crash left
    pending, and re-applying a batch is idempotent (latest version per
    key, coalesce semantics), so each batch lands once in effect.
    Readers see no partial batch: the marker is absent from the swap's
    start until its end.  Batches apply in file order, so a feed
    whose later files carry higher versions (every CDC log does) folds
    to latest-version-wins.
    """
    from citydata_etl_spark.sources.merge import merge_upsert

    stream = (
        spark.readStream.schema(feed_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(feed_path)
    )
    data_cols = [
        f.name
        for f in feed_schema.fields
        if f.name not in (key_col, version_col)
    ]

    def handle(df: DataFrame, epoch: int) -> None:
        latest = df.groupBy(key_col).agg(
            F.max(version_col).alias(version_col),
            *[
                F.expr(f"max_by({c}, {version_col})").alias(c)
                for c in data_cols
            ],
        )
        merge_upsert(spark, table_path, latest, key_col, n_buckets=n_buckets)

    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
