"""Structured Streaming window operators (SURVEY.md §2.7 T1-T5).

The batch catalog (plans/queries_time.py) and these streaming twins share
semantics: tests run the same events through both and assert identical
results. Watermarks bound state: at 100 TB/day the state store holds only
windows newer than (max event time - watermark), which is what makes
event-time aggregation feasible on an unbounded stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from citydata_etl_spark import schemas


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over events-shaped parquet.

    maxFilesPerTrigger paces micro-batches — the streaming analog of the
    reference's scrape_interval cadence (reference config.json:7,13).
    """
    import hashlib
    import os

    from citydata_etl_spark.util import session_tmpdir

    # the file stream source requires a directory; wrap a single parquet
    # file in a temp dir (symlink — no copy). Session-scoped and keyed by
    # the target path so a bench sweep re-running the query reuses one
    # dir instead of leaking a fresh mkdtemp per invocation.
    if os.path.isfile(path):
        tag = hashlib.md5(os.path.abspath(path).encode()).hexdigest()[:12]
        d = session_tmpdir(f"events_stream_{tag}")
        link = os.path.join(d, "part-0.parquet")
        if not os.path.exists(link):
            os.symlink(os.path.abspath(path), link)
        path = d

    nanos = (
        spark.read.parquet(path).schema["ts"].dataType.simpleString() == "bigint"
    )
    schema = (
        "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, "
        "value DOUBLE, props STRING"
        if nanos
        else schemas.EVENTS
    )
    df = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )
    if nanos:
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def tumbling_counts(
    events: DataFrame, width: str = "10 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """T5: watermarked tumbling event-time aggregation. Late rows beyond
    the watermark are dropped; state for closed windows is evicted."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def session_counts(
    events: DataFrame, gap: str = "5 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """T5: session windows (gap-based) per user — the streaming twin of the
    batch lag+cumsum sessionization (operators/aggregates.py:sessionize)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("session_window.start")).alias("session_start"),
            F.unix_timestamp(F.col("session_window.end")).alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def run_to_completion(
    stream_df: DataFrame, query_name: str, output_mode: str = "append"
) -> DataFrame:
    """Drive a streaming DataFrame over a bounded file source to completion
    via the memory sink; returns the materialized result as a batch
    DataFrame. Test/driver helper — production uses a real sink with
    checkpointing + foreachBatch (streaming/pipeline.py)."""
    spark = stream_df.sparkSession
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {query_name}")
