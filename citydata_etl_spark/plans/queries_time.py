"""Event-time window queries (SURVEY.md §2.7 T5 [north-star]) in their
batch-equivalent form — the same window semantics Structured Streaming
applies incrementally (streaming/windows.py runs these as readStream
queries; tests assert batch == streaming output).

Window starts are emitted as epoch seconds (BIGINT): engine-native window
types (Spark's window struct, DuckDB's tz-aware to_timestamp) don't compare
portably, epoch integers do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from citydata_etl_spark.operators.aggregates import dec_sum, sessionize
from citydata_etl_spark.plans.catalog import register
from citydata_etl_spark.sources.readers import read_testdata
from citydata_etl_spark.util import session_tmpdir


@register(
    "t5_tumbling_window",
    oracle="""
    SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS window_start,
           event_type,
           count(*) AS n,
           CAST(sum(CAST(floor((value) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
    FROM events GROUP BY window_start, event_type
    """,
    doc="T5: 10-minute tumbling event-time windows over events "
    "(BASELINE.json north-star; cadence grounding: scrape_interval "
    "reference config.json:7,13). Spark side uses window('ts','10 minutes') "
    "— the exact construct the streaming twin runs incrementally.",
)
def t5_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_testdata(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count("*").alias("n"), dec_sum("value", "total_value"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


@register(
    "t5_sliding_window",
    oracle="""
    WITH grid AS (
      SELECT event_id, value,
             unnest([CAST(floor(epoch(ts) / 300) * 300 AS BIGINT),
                     CAST(floor(epoch(ts) / 300) * 300 - 300 AS BIGINT)])
               AS window_start
      FROM events)
    SELECT window_start, count(*) AS n,
           CAST(sum(CAST(floor((value) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
    FROM grid GROUP BY window_start
    """,
    doc="T5: sliding windows (10 min length, 5 min slide) — each event in "
    "exactly two windows. Oracle expands the two candidate starts "
    "explicitly; Spark's window(ts, len, slide) does the same internally.",
)
def t5_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_testdata(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "10 minutes", "5 minutes"))
        .agg(F.count("*").alias("n"), dec_sum("value", "total_value"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("window_start"),
            "n",
            "total_value",
        )
    )


from citydata_etl_spark.plans.queries_agg import (  # noqa: E402
    ATTRIBUTION_ORACLE as _ATTRIBUTION_ORACLE,
)

_STREAM_SEQ = iter(range(1_000_000))

_session_tmpdir = session_tmpdir  # shared helper (citydata_etl_spark.util)


@register(
    "t1_streaming_tumbling",
    oracle="""
    SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS window_start,
           event_type,
           count(*) AS n,
           CAST(sum(CAST(floor((value) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
    FROM events GROUP BY window_start, event_type
    """,
    doc="T1/T5: the SAME tumbling aggregation as t5_tumbling_window executed "
    "as a genuine Structured Streaming query — file-source readStream over "
    "events, Trigger.AvailableNow (the incremental-batch analog of the "
    "reference's scrape_interval cadence, config.json:7,13), complete-mode "
    "memory sink. Hash-matching the batch oracle proves the streaming and "
    "batch paths agree bit-for-bit. The watermarked append-mode variant "
    "(bounded state for unbounded streams) runs in tests/test_streaming.py.",
)
def t1_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citydata_etl_spark.streaming.windows import read_events_stream

    # defensive confs for the driver's plain session (nanos events schema)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    agg = (
        stream.groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count("*").alias("n"), dec_sum("value", "total_value"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )
    name = f"t1_streaming_tumbling_{next(_STREAM_SEQ)}"
    _await_with_state_partitions(
        spark,
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name),
    )
    return spark.sql(f"SELECT * FROM {name}")


@register(
    "t5_watermarked_append",
    oracle="""
    SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS window_start,
           event_type,
           count(*) AS n,
           CAST(sum(CAST(floor((value) * 100 + 0.5) AS BIGINT)) AS DOUBLE)
             / 100.0 AS total_value
    FROM events GROUP BY window_start, event_type
    HAVING window_start + 600 <=
           (SELECT max(epoch(ts)) - 3600 FROM events)
    """,
    doc="T5 (watermark + APPEND): the late-data contract under the oracle "
    "— the same tumbling aggregation as t1_streaming_tumbling but with a "
    "1-hour watermark and append output mode, so ONLY windows whose end "
    "the final watermark (max event time - 1h) has passed are emitted; "
    "the open tail stays in state. This is the bounded-state form an "
    "unbounded stream requires (streaming/windows.py:tumbling_counts); "
    "the oracle reproduces the emission rule exactly: window_end <= "
    "max(ts) - watermark.",
)
def t5_watermarked_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citydata_etl_spark.streaming.windows import read_events_stream

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    # same shape as streaming/windows.py:tumbling_counts, with the
    # catalog's exact-decimal sum convention for the value column
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count("*").alias("n"), dec_sum("value", "total_value"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )
    name = f"t5_watermarked_append_{next(_STREAM_SEQ)}"
    _await_with_state_partitions(
        spark,
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name),
    )
    return spark.sql(f"SELECT * FROM {name}")


@register(
    "t3_cdc_promote",
    oracle=r"""
    WITH k AS (
      SELECT CASE WHEN o_orderkey % 7 = 0
                  THEN 'manual/orders_' || o_orderkey || '.csv'
                  ELSE 'web/sales/orders/'
                       || CASE WHEN o_orderkey % 2 = 0
                               THEN 'initial' ELSE 'cdc' END
                       || '/' || o_orderkey || '.txt'
             END AS key
      FROM orders),
    p AS (SELECT key, string_split(key, '/') AS parts FROM k),
    d AS (SELECT key, parts, parts[1] = 'manual' AS is_manual,
                 regexp_replace(parts[len(parts)], '\.[^.]+$', '') AS stem
          FROM p)
    SELECT CASE WHEN is_manual THEN 'manual' ELSE parts[1] END AS source,
           CASE WHEN is_manual THEN 'misc' ELSE parts[2] END AS schema_name,
           CASE WHEN is_manual THEN stem ELSE parts[3] END AS table_name,
           CASE WHEN is_manual THEN 'initial' ELSE parts[4] END AS load,
           count(*) AS n_objects
    FROM d GROUP BY source, schema_name, table_name, load
    """,
    doc="T3 (CDC promotion, end-to-end): staging keys stream through a "
    "checkpointed foreachBatch sink that runs the batch promotion per "
    "micro-batch (streaming/pipeline.py:foreach_batch_promote -> "
    "etl/staging.py:promote) into the curated partitioned parquet layout "
    "(source/schema/table/load/y/m/d/h — reference "
    "process-staging.py:32-44); the query reads the CURATED ZONE back and "
    "audits object counts per partition path. Clock injected for "
    "determinism; manual/ drop-ins route to the fixed misc schema. The "
    "catalog's only entry whose result passed through a foreachBatch "
    "file sink.",
)
def t3_cdc_promote(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pyspark.sql import types as T

    from citydata_etl_spark.plans.queries_core import order_staging_keys
    from citydata_etl_spark.streaming.pipeline import foreach_batch_promote

    keys = order_staging_keys(read_testdata(spark, sf_dir, "orders"))
    # session-scoped working dir keyed by the input: re-invocations reuse
    # the checkpoint, so the promotion is incremental (no new staging
    # files -> no-op) and the curated read-back is stable. Staging is
    # written once — an overwrite would mint new part-file names, which
    # the file source would treat as NEW arrivals and double-promote.
    d = _session_tmpdir(f"t3_cdc_{os.path.basename(os.path.normpath(sf_dir))}")
    staging = os.path.join(d, "staging")
    curated = os.path.join(d, "curated")
    ckpt = os.path.join(d, "ckpt")
    staged_done = os.path.join(d, ".staging_done")
    if not os.path.exists(staged_done):
        # marker AFTER the write: a partial fixture must not be served
        # (overwrite on retry is safe — promotion has not run yet)
        keys.coalesce(2).write.mode("overwrite").option(
            "header", True
        ).csv(staging)
        open(staged_done, "w").close()
    foreach_batch_promote(
        spark,
        staging,
        T.StructType([T.StructField("key", T.StringType())]),
        curated,
        ckpt,
        now=F.to_timestamp(F.lit("2026-08-13 14:30:00")),
    )
    back = spark.read.parquet(curated)
    return back.groupBy(
        "source", "schema_name", "table_name", "load"
    ).agg(F.count("*").cast("bigint").alias("n_objects"))


@register(
    "t2_streaming_dedup",
    oracle="""
    SELECT min(doc_id) AS doc_id, text, sha256(text) AS content_sha
    FROM documents GROUP BY text
    """,
    doc="T2/D4: custom STATEFUL streaming operator — exact dedup over a "
    "document stream via applyInPandasWithState (per-shard seen-hash "
    "state, first occurrence passes; streaming/stateful.py:"
    "streaming_exact_dedup). On the bounded single-file stream the result "
    "equals batch min-id-per-text, which the oracle checks exactly; the "
    "cross-micro-batch state path is exercised in tests/test_streaming.py.",
)
def t2_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from citydata_etl_spark.streaming.stateful import streaming_exact_dedup

    # defensive confs + package shipping for the driver's plain session
    from citydata_etl_spark.sources.readers import read_testdata as _rt

    _rt(spark, sf_dir, "documents")  # side effects only (confs, ship)
    d = _session_tmpdir(
        f"docs_stream_{os.path.basename(os.path.normpath(sf_dir))}"
    )
    link = os.path.join(d, "part-0.parquet")
    if not os.path.exists(link):
        os.symlink(os.path.abspath(f"{sf_dir}/documents.parquet"), link)
    stream = spark.readStream.schema("doc_id LONG, text STRING").parquet(d)
    out = streaming_exact_dedup(stream)
    name = f"t2_streaming_dedup_{next(_STREAM_SEQ)}"
    _await_with_state_partitions(
        spark,
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(name),
    )
    return spark.sql(f"SELECT * FROM {name}")


@register(
    "t5_session_window",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN floor(epoch(ts)) - lag(floor(epoch(ts))) OVER w > 300
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sessions AS (
      SELECT user_id, event_id, value, ts,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
               AS BIGINT) AS session_id
      FROM ordered)
    SELECT user_id, session_id, count(*) AS n_events,
           CAST(min(floor(epoch(ts))) AS BIGINT) AS session_start,
           CAST(max(floor(epoch(ts))) AS BIGINT) AS session_end,
           CAST(sum(CAST(floor((value) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
    FROM sessions GROUP BY user_id, session_id
    """,
    doc="T5/sessionization: 5-minute-gap sessions per user — batch form is "
    "lag+cumsum (one shuffle on user_id); the streaming twin is "
    "session_window(ts, '5 minutes') — tests assert both produce identical "
    "sessions.",
)
def t5_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_testdata(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    s = sessionize(events, key="user_id", ts="ts", gap_seconds=300,
                   order_tiebreak="event_id")
    return s.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min(F.col("ts").cast("long")).alias("session_start"),
        F.max(F.col("ts").cast("long")).alias("session_end"),
        dec_sum("value", "total_value"),
    )


@register(
    "t6_stream_enrich",
    oracle="""
    SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS window_start,
           c_mktsegment AS segment,
           count(*) AS n,
           CAST(sum(CAST(floor((value) * 100 + 0.5) AS BIGINT)) AS DOUBLE)
             / 100.0 AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY window_start, segment
    """,
    doc="T6 (stream-static join, extension): the standard streaming-enrichment shape — "
    "file-source readStream over events, INNER JOIN a static broadcast "
    "dimension (customer segment), then a tumbling event-time aggregation "
    "per segment; Trigger.AvailableNow, complete-mode memory sink. The "
    "static side is re-read per micro-batch and broadcast (no shuffle on "
    "the stream side); hash-matching the batch SQL oracle proves the "
    "enriched streaming path agrees bit-for-bit.",
)
def t6_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citydata_etl_spark.streaming.windows import read_events_stream

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    dim = (
        read_testdata(spark, sf_dir, "customer")
        .select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    agg = (
        stream.join(F.broadcast(dim), "user_id")
        .groupBy(F.window("ts", "10 minutes"), "segment")
        .agg(F.count("*").alias("n"), dec_sum("value", "total_value"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("window_start"),
            "segment",
            "n",
            "total_value",
        )
    )
    name = f"t6_stream_enrich_{next(_STREAM_SEQ)}"
    _await_with_state_partitions(
        spark,
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name),
    )
    return spark.sql(f"SELECT * FROM {name}")


#: Spark's on-disk state-store backend (bundled rocksdbjni) — the scale
#: choice for stateful streaming. The default HDFSBackedStateStoreProvider
#: keeps every partition's state map ON HEAP and snapshots whole files;
#: RocksDB keeps state native + off-heap with incremental changelog
#: checkpoints, which is what survives stream-stream joins buffering both
#: sides of a watermark window (hours of events per partition at 100 TB).
ROCKSDB_STATE_STORE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


#: Measured keys-per-partition knee for bounded AvailableNow runs on
#: local[32] (SCALE_REHEARSAL_r15.json): ~1.5k active keys saturate 4
#: state partitions (t10), and the same load at 100x keys (150k) costs
#: 5x when partitions stay fixed at 4 — so partitions scale with
#: active-key cardinality at this ratio until the 2-4x-cores ceiling.
_KEYS_PER_STATE_PARTITION = 375


def state_partitions_for(
    est_active_keys: int, cores: int, per_group_python: bool = False,
) -> int:
    """Derive the state-partition count from estimated active-key
    cardinality — the r15 rehearsal's sizing guidance made SELF-ACTING
    (r16 VERDICT task 6) instead of a call-site comment.

    Inputs: `est_active_keys` — the expected distinct state keys in
    flight (catalog entries pass their fixture cardinality; a
    deployment passes table stats); `cores` — total executor cores
    (the clamp ceiling, 4x cores, per the written guidance);
    `per_group_python` — True when the query runs a real Python kernel
    per group per batch (buffered sessionizers), which moves the knee
    from store-commit overhead to kernel parallelism — measured 4x
    (t12: 4 -> ~8.3 s, 16 -> ~4.9 s at the same ~1.5k keys where the
    built-in aggregations' knee is 4).

    Derivation: clamp(ceil(keys / 375) [* 4 if per-group Python],
    4, 4 * cores). Reproduces the measured knees — 4 for t10's ~1.5k
    keys, 16 for t12's Python sessionizer — and moves right with
    key cardinality exactly as SCALE_REHEARSAL_r15.json measured (at
    10x keys the t12 knee moved 16 -> 32+; at 100x keys fixed-4 cost
    377 s vs 72 s) — while never exceeding 4x cores, past which
    store-commit machinery wins again. (t19 deliberately stays
    hand-pinned at 16: its state keys are TIME SLOTS whose per-group
    kernel is tiny, and the r17 sweep MEASURED that regime —
    SCALE_REHEARSAL_r17_T19.json: 16 within noise of best at 8k
    slots and best by 3.4x at 80k, while this formula's 64 ran
    1.6-1.7x worse at both scales; for cheap-per-group state the
    knee saturates near 16 and does not move with key count, so the
    formula intentionally does not model it — its call site carries
    the numbers.)
    Partition count never changes
    RESULTS (state is keyed), only where the knee lands, so every
    oracle stays byte-identical; it must be set before the first
    checkpoint, which is why the estimate is an input, not something
    discovered mid-stream."""
    base = max(4, -(-est_active_keys // _KEYS_PER_STATE_PARTITION))
    if per_group_python:
        base *= 4
    return max(4, min(4 * cores, base))


def _est_event_users(sf_dir: str) -> int:
    """The events table's active-key (user_id) cardinality by scale
    factor — TESTDATA.md: 15 users at sf0.001, 150 at sf0.01, 1500 at
    sf0.1, i.e. 15000 * sf. The fixture-cardinality estimate catalog
    entries hand to state_partitions_for, standing in for the
    table-stats lookup a deployment would do."""
    import re

    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else 0.01
    return max(1, int(round(15000 * sf)))


def _await_with_state_partitions(
    spark: SparkSession, writer, n_partitions: int | None = None,
    state_store_provider: str | None = None,
    est_active_keys: int | None = None,
    per_group_python: bool = False,
) -> None:
    """Start + await a bounded streaming query with the two state-sizing
    levers every stateful query must pin:

    - n_partitions: shuffle partitions at the FIRST micro-batch fix the
      number of state stores for the checkpoint's lifetime. Every store
      pays commit machinery per batch (a stream-stream join commits FOUR
      per partition), which is pure fixed overhead on a bounded run —
      the catalog defaults to 4, measured as the knee for these loads.
      Since r16 the MEASURED-knee callers (t10, t12) pass
      `est_active_keys` (+ `per_group_python` for buffered Python
      sessionizers) instead of a hand-pinned count, and
      state_partitions_for derives the knee from key cardinality —
      see its docstring for the derivation (t10/t12 derive today's
      4 / 16 exactly; t19 stays hand-pinned, rationale at its call
      site).
      At real scale this is sized UP to key cardinality / executor count
      (2-4x total cores), never lowered — and it cannot be changed after
      the first checkpoint. That guidance is now MEASURED, not advisory
      (SCALE_REHEARSAL_r15.json): at 100x the sf0.1 key cardinality
      (150k users), 4 partitions cost t10 377 s where t12 at 16 costs
      72 s — the fixed-4 default is a per-load knee for ~1.5k keys on
      32 cores and scales badly past keys >> cores; per-key state
      stays bounded either way (t10's store held 5-int rows flat at
      0.64 MB across 100x event volume).
    - state_store_provider: state backend for the query. Defaults to the
      session's (HDFS-backed, on-heap); pass ROCKSDB_STATE_STORE_PROVIDER
      once per-partition state outgrows tens of MB (large watermark
      windows, stream-stream joins). Also settable session-wide via env
      SPARK_GRAFT_STATE_PROVIDER=rocksdb — bounded catalog runs stay on
      the heap provider (right for MB-scale state; RocksDB pays JNI +
      disk per batch).
    """
    import os

    if n_partitions is None:
        if est_active_keys is not None:
            n_partitions = state_partitions_for(
                est_active_keys,
                spark.sparkContext.defaultParallelism,
                per_group_python,
            )
        else:
            n_partitions = 4
    if state_store_provider is None and (
        os.environ.get("SPARK_GRAFT_STATE_PROVIDER", "").lower() == "rocksdb"
    ):
        state_store_provider = ROCKSDB_STATE_STORE_PROVIDER
    conf_sets = {"spark.sql.shuffle.partitions": str(n_partitions)}
    if state_store_provider is not None:
        conf_sets["spark.sql.streaming.stateStore.providerClass"] = (
            state_store_provider
        )
    prev = {k: spark.conf.get(k, None) for k in conf_sets}
    for k, v in conf_sets.items():
        spark.conf.set(k, v)
    try:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@register(
    "t7_stream_stream_join",
    oracle="""
    SELECT v.user_id,
           v.event_id AS view_id,
           p.event_id AS purchase_id,
           CAST(floor(epoch(p.ts)) - floor(epoch(v.ts)) AS BIGINT)
             AS delay_s
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
    """,
    doc="T7 (stream-stream interval join, extension): view->purchase "
    "attribution per user within 30 minutes — two watermarked streams "
    "over the same events source, inner-joined on user with an event-time "
    "range condition. The time bound + 1h watermarks are what let the "
    "state store evict buffered rows once the other side can no longer "
    "match (the unbounded-state hazard of stream-stream joins); inner "
    "joins emit on match, so the bounded AvailableNow run equals the "
    "batch SQL exactly.",
)
def t7_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    views, purchases = _attribution_streams(spark, sf_dir)
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr("INTERVAL 30 MINUTES")
        ),
    ).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "purchase_id",
        (
            F.col("purchase_ts").cast("long")
            - F.col("view_ts").cast("long")
        ).alias("delay_s"),
    )
    name = f"t7_stream_stream_join_{next(_STREAM_SEQ)}"
    # 4 state partitions: a stream-stream join commits FOUR stores per
    # partition per batch, so the store-commit overhead dominates this
    # bounded run — halving partitions from 8 cut ~0.8 s with identical
    # results. At real scale this is sized UP to key cardinality.
    _await_with_state_partitions(
        spark,
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(name),
        n_partitions=4,
    )
    return spark.sql(f"SELECT * FROM {name}")


def _attribution_streams(spark: SparkSession, sf_dir: str):
    """The two watermarked sides of the view->purchase attribution join."""
    from citydata_etl_spark.streaming.windows import read_events_stream

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    views = (
        read_events_stream(spark, f"{sf_dir}/events.parquet")
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    purchases = (
        read_events_stream(spark, f"{sf_dir}/events.parquet")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    return views, purchases


@register(
    "t7_stream_left_outer_join",
    oracle="""
    WITH w AS (
      SELECT min(m) - INTERVAL 1 HOUR AS wm FROM (
        SELECT max(ts) AS m FROM events WHERE event_type = 'view'
        UNION ALL
        SELECT max(ts) FROM events WHERE event_type = 'purchase') t),
    m AS (
      SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
             CAST(floor(epoch(p.ts)) - floor(epoch(v.ts)) AS BIGINT)
               AS delay_s
      FROM events v JOIN events p
        ON v.user_id = p.user_id
       AND v.event_type = 'view' AND p.event_type = 'purchase'
       AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE),
    u AS (
      SELECT v.user_id, v.event_id AS view_id,
             CAST(NULL AS BIGINT) AS purchase_id,
             CAST(NULL AS BIGINT) AS delay_s
      FROM events v, w
      WHERE v.event_type = 'view'
        AND NOT EXISTS (
          SELECT 1 FROM events p
          WHERE p.user_id = v.user_id AND p.event_type = 'purchase'
            AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE)
        AND v.ts + INTERVAL 30 MINUTE < w.wm)
    SELECT * FROM m UNION ALL SELECT * FROM u
    """,
    doc="T7b (stream-stream LEFT OUTER interval join): same attribution "
    "join, null-extending views with no purchase — the subtle contract is "
    "WHEN the null row may emit: only once the global watermark (min over "
    "both streams of max event time, minus 1h) passes the view's last "
    "possible match time (view_ts + 30min, strict <), because until then "
    "a matching purchase could still arrive. The oracle reproduces that "
    "eviction rule exactly; views whose match window is still open at "
    "stream end are withheld (state, not output).",
)
def t7_stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    views, purchases = _attribution_streams(spark, sf_dir)
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr("INTERVAL 30 MINUTES")
        ),
        "left_outer",
    ).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "purchase_id",
        (
            F.col("purchase_ts").cast("long")
            - F.col("view_ts").cast("long")
        ).alias("delay_s"),
    )
    name = f"t7_stream_left_outer_join_{next(_STREAM_SEQ)}"
    _await_with_state_partitions(
        spark,
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(name),
        n_partitions=4,  # same sizing rationale as t7_stream_stream_join
    )
    return spark.sql(f"SELECT * FROM {name}")


@register(
    "t8_stream_dedup_watermark",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
    doc="T8 (built-in streaming dedup): dropDuplicatesWithinWatermark on "
    "(user_id, event_type) — Spark's native bounded-state streaming "
    "dedup, complementing the custom applyInPandasWithState operator "
    "(t2_streaming_dedup): per-key state is DROPPED once the watermark "
    "passes first-seen + delay, so state is bounded by the key-arrival "
    "rate x the dedup horizon, never by stream length — the only form "
    "that survives an unbounded 100 TB/day stream. Output is the KEY SET "
    "(payload projected away), which is order-invariant, so the oracle "
    "is exact whenever every duplicate lands within the horizon — true "
    "here by construction (the horizon exceeds the bounded input's span); "
    "the expiry path (a key RE-EMITS after its state ages out) is pinned "
    "by tests/test_streaming.py::test_drop_duplicates_within_watermark_expiry.",
)
def t8_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citydata_etl_spark.streaming.windows import read_events_stream

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    dd = (
        stream.withWatermark("ts", "30 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    name = f"t8_stream_dedup_{next(_STREAM_SEQ)}"
    _await_with_state_partitions(
        spark,
        dd.writeStream.outputMode("append").format("memory").queryName(name),
    )
    return spark.sql(f"SELECT * FROM {name}")


@register(
    "t9_streaming_upsert",
    oracle="""
    SELECT o_orderkey % 3000 AS id,
           max(o_orderkey) AS version,
           arg_max(o_orderstatus, o_orderkey) AS status,
           CAST(floor(arg_max(o_totalprice, o_orderkey) * 100 + 0.5)
                AS BIGINT) AS price_cents
    FROM orders GROUP BY id
    """,
    doc="T9 (streaming CDC upsert): the lakehouse streaming-upsert loop — "
    "a change feed (orders re-keyed to id = orderkey % 3000, version = "
    "orderkey, split into three ascending-version files) streams through "
    "foreachBatch; each micro-batch folds to its latest change per key "
    "(max_by on version) and MERGEs into the bucket-partitioned table "
    "(only affected buckets rewritten, _COMMIT marker last — "
    "streaming/pipeline.py:foreach_batch_upsert). The checkpointed "
    "re-run is a no-op, so the read-back is stable across bench reps; "
    "the oracle states the fold's fixpoint: per key, the "
    "highest-version change wins. Per-batch cost scales with the "
    "batch's key spread, never the table size — the property that "
    "matters when the table is 100 TB and the batch is a minute of CDC.",
)
def t9_streaming_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pyspark.sql import types as T

    from citydata_etl_spark.sources.merge import (
        read_bucketed_control,
        write_bucketed_control,
    )
    from citydata_etl_spark.streaming.pipeline import foreach_batch_upsert

    d = _session_tmpdir(
        f"t9_upsert_{os.path.basename(os.path.normpath(sf_dir))}"
    )
    feed, table, ckpt = (
        os.path.join(d, "feed"),
        os.path.join(d, "table"),
        os.path.join(d, "ckpt"),
    )
    orders = read_testdata(spark, sf_dir, "orders")
    cdc = orders.select(
        (F.col("o_orderkey") % 3000).alias("id"),
        F.col("o_orderkey").alias("version"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    feed_done = feed + ".done"
    if not os.path.exists(feed_done):
        # three ascending-version slices, written in feed order (a CDC
        # log's later files always carry higher versions); marker AFTER
        # the writes so a partial feed is rebuilt, not served
        hi = orders.agg(F.max("o_orderkey")).first()[0]
        cut1, cut2 = hi // 3, 2 * hi // 3
        slices = [
            cdc.filter(F.col("version") <= cut1),
            cdc.filter(
                (F.col("version") > cut1) & (F.col("version") <= cut2)
            ),
            cdc.filter(F.col("version") > cut2),
        ]
        for i, sl in enumerate(slices, start=1):
            # coalesce(1) CONTRACT (same as sources/sinks.py's CSV
            # sink): this writes a BOUNDED fixture-scale feed slice —
            # test/bench scaffolding simulating a CDC log file, never
            # an operator output path — and one file per slice is the
            # point (a log's files arrive whole). Payload-scale data
            # must never route through a coalesce(1).
            sl.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(feed, f"b{i}")
            )
        open(feed_done, "w").close()
    if not os.path.exists(table):
        # initial table state: every key unseen (version -1)
        init = cdc.select("id").distinct().select(
            "id",
            F.lit(-1).cast("bigint").alias("version"),
            F.lit("init").alias("status"),
            F.lit(None).cast("double").alias("price"),
        )
        write_bucketed_control(init, table, "id", n_buckets=16)
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("version", T.LongType()),
            T.StructField("status", T.StringType()),
            T.StructField("price", T.DoubleType()),
        ]
    )
    foreach_batch_upsert(
        spark,
        os.path.join(feed, "*", ""),
        schema,
        table,
        ckpt,
        key_col="id",
        version_col="version",
        n_buckets=16,
    )
    back = read_bucketed_control(spark, table)
    return back.filter(F.col("version") >= 0).select(
        "id",
        "version",
        "status",
        F.floor(F.col("price") * 100 + 0.5)
        .cast("bigint")
        .alias("price_cents"),
    )


#: The dynamic-gap sessionization contract stated ONCE in SQL — the
#: single source of truth the batch entry (t5) and BOTH streaming
#: twins (t10 zero-delay, t12 buffered late-data) must equal;
#: editing one entry's contract without the others is impossible
#: by construction.
_DYN_SESSION_ORACLE = """
    WITH o AS (
      SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
             CASE WHEN event_type = 'error' THEN 300 ELSE 1800 END AS thr
      FROM events),
    l AS (
      SELECT *,
             lag(tsec) OVER w AS prev_ts,
             lag(thr) OVER w AS prev_thr
      FROM o WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id)),
    m AS (
      SELECT *,
             CASE WHEN prev_ts IS NULL OR tsec - prev_ts > prev_thr
                  THEN 1 ELSE 0 END AS is_new
      FROM l),
    s AS (
      SELECT user_id, event_id, tsec,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY tsec,
                                    event_id ROWS UNBOUNDED PRECEDING) - 1
                  AS BIGINT) AS session_id
      FROM m)
    SELECT user_id, session_id,
           count(*) AS n_events,
           min(tsec) AS session_start, max(tsec) AS session_end
    FROM s GROUP BY user_id, session_id
    """


@register(
    "t5_dynamic_gap_session",
    oracle=_DYN_SESSION_ORACLE,
    doc="T5 (dynamic-gap sessionization): per-user sessions whose idle "
    "timeout depends on the PREVIOUS event — 5 minutes after an "
    "'error', 30 minutes otherwise "
    "(operators/aggregates.py:sessionize_dynamic), the batch twin of "
    "Structured Streaming's session_window(ts, gap_expression). Same "
    "one-shuffle lag+cumsum topology as the fixed-gap t5_session_window "
    "(the gap threshold rides the lag window as a second lagged "
    "column); the oracle replays the identical state machine in SQL. "
    "Fixed timeouts mis-split real traffic — bursty flows need short "
    "gaps, browsing flows long ones; the dynamic form is what "
    "production sessionization actually ships.",
)
def t5_dynamic_gap_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citydata_etl_spark.operators.aggregates import sessionize_dynamic

    events = read_testdata(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.floor(F.col("ts").cast("double")).cast("long").alias("tsec"),
        F.when(F.col("event_type") == "error", 300)
        .otherwise(1800)
        .alias("thr"),
    )
    s = sessionize_dynamic(events, "user_id", "tsec", F.col("thr"), "event_id")
    return s.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("tsec").alias("session_start"),
        F.max("tsec").alias("session_end"),
    )


def _events_dir_with_sentinel(spark: SparkSession, sf_dir: str) -> str:
    """A session-scoped stream-feed directory holding the events table
    plus ONE far-future sentinel row (user_id = -1, schema-identical,
    written via pyarrow with the same TIMESTAMP(NANOS) physical type).

    The sentinel is the bounded-run analog of time passing on an
    unbounded stream: it advances the event-time watermark past every
    open session's horizon, so the final timeout micro-batch flushes
    ALL trailing sessions — without it, a user whose last event sits
    near the global max would stay open when the run ends (correct
    stream semantics, but not end-to-end checkable)."""
    import hashlib
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    # keyed by the TARGET PATH hash, not the dir basename — two corpora
    # named sf0.1 under different roots must not share one feed (the
    # read_events_stream wrapper made the same choice)
    src_path = os.path.abspath(f"{sf_dir}/events.parquet")
    tag = hashlib.md5(src_path.encode()).hexdigest()[:12]
    d = _session_tmpdir(f"events_dynsess_{tag}")
    link = os.path.join(d, "part-0.parquet")
    if not os.path.exists(link):
        os.symlink(src_path, link)
    sentinel = os.path.join(d, "part-1-sentinel.parquet")
    if not os.path.exists(sentinel):
        src = pq.read_table(src_path)
        row = src.slice(0, 1).to_pylist()[0]
        max_ts = pa.compute.max(src["ts"]).as_py()
        import datetime

        if isinstance(max_ts, datetime.datetime):
            far = max_ts + datetime.timedelta(days=3650)
        else:  # physical int64 nanos
            far = max_ts + 3650 * 86400 * 10**9
        row["ts"] = far
        row["user_id"] = -1
        row["event_id"] = -1
        # write-then-rename: the guard above must never see (and then
        # forever serve) a partially-written sentinel
        tmp = sentinel + ".tmp"
        pq.write_table(pa.Table.from_pylist([row], schema=src.schema), tmp)
        os.replace(tmp, sentinel)
    return d


@register(
    "t10_stream_dynamic_sessions",
    # identical contract to the batch twin: on the sentinel-closed bounded
    # stream, every session flushes (in-data closure or event-time
    # timeout), so the streaming operator must reproduce batch
    # sessionization EXACTLY
    oracle=_DYN_SESSION_ORACLE,
    doc="T10 (streaming dynamic-gap sessionization): the STREAMING twin "
    "of t5_dynamic_gap_session via a second applyInPandasWithState "
    "operator with EVENT-TIME timeouts (streaming/stateful.py:"
    "streaming_dynamic_gap_sessions; the processing-time companion is "
    "t2's dedup). A session emits the moment it provably closed: a "
    "later in-order event opened the next one, or the watermark passed "
    "session_end + the previous event's gap ('error' 300 s, else "
    "1800 s) — so per-user state is ONE open session (5 ints), bounded "
    "by active users, never by history. The bounded feed carries a "
    "far-future sentinel row (filtered from the output) that advances "
    "the watermark past every horizon — the bounded-run analog of time "
    "passing — making the stream output equal batch sessionization "
    "EXACTLY, which the oracle checks; the cross-micro-batch state "
    "path (sessions spanning batches) is pinned in "
    "tests/test_streaming.py.",
)
def t10_stream_dynamic_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citydata_etl_spark.sources.readers import read_testdata as _rt
    from citydata_etl_spark.streaming.stateful import (
        N_SHARDS,
        streaming_dynamic_gap_sessions,
    )
    from citydata_etl_spark.streaming.windows import read_events_stream

    _rt(spark, sf_dir, "events")  # side effects only (confs, ship)
    d = _events_dir_with_sentinel(spark, sf_dir)
    stream = read_events_stream(spark, d, max_files_per_trigger=2)
    out = streaming_dynamic_gap_sessions(
        stream.select("event_id", "ts", "user_id", "event_type")
    )
    name = f"t10_stream_dynsess_{next(_STREAM_SEQ)}"
    # State is SHARD-keyed (stateful.N_SHARDS shards), so the state
    # key space is the fixed shard count, not user cardinality, and the
    # partition count derives from it: state_partitions_for(N_SHARDS, cores)
    # = 4 (the per-shard kernel is a light 5-int fold per user — no
    # per_group_python factor, same rationale as before sharding), and
    # the post-shard sweep measured 4/8/16 flat within noise
    # (1.98/1.92/1.93 s best-of-3 warm at sf0.1). Scale note: a
    # deployment grows SHARDS with key cardinality, so this derivation
    # is stable at any corpus.
    _await_with_state_partitions(
        spark,
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(name),
        est_active_keys=N_SHARDS,
    )
    return spark.sql(f"SELECT * FROM {name} WHERE user_id >= 0")


@register(
    "t11_stream_geofence",
    oracle="""
    WITH pts AS (
      SELECT event_id, ts, user_id,
             CAST((event_id * 2654435761) % 2147483648 % 120000 - 60000
                  AS DOUBLE) / 1000.0 AS e_lat,
             CAST((event_id * 40503 + 7) % 2147483648 % 360000 - 180000
                  AS DOUBLE) / 1000.0 AS e_lng
      FROM events),
    fences AS (
      SELECT r_name AS fence,
             CAST(r_regionkey * 20 - 40 AS DOUBLE) AS f_lat,
             CAST(r_regionkey * 60 - 120 AS DOUBLE) AS f_lng
      FROM region),
    hits AS (
      SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS window_start,
             fence, user_id
      FROM pts, fences
      WHERE round(2 * 6371.0 * asin(sqrt(
              pow(sin(radians(f_lat - e_lat) / 2), 2)
              + cos(radians(e_lat)) * cos(radians(f_lat))
                * pow(sin(radians(f_lng - e_lng) / 2), 2))), 4) <= 1000.0)
    SELECT window_start, fence, count(*) AS n_hits
    FROM hits GROUP BY window_start, fence
    """,
    doc="T11 (streaming geofence, extension): per-window counts of "
    "events inside each geofence — the location-alerting shape "
    "(asset tracking, store-visit attribution): file-source readStream "
    "over events with LCG-synthesized coordinates (codegen, zero "
    "Python), a stream-static join against the BROADCAST fence table "
    "on the rounded-haversine radius predicate, then a tumbling "
    "event-time aggregate per fence. The fence side is a "
    "broadcast-nested-loop by construction — correct here because the "
    "inner side is the bounded fence dimension (5 rows at any data "
    "scale; the same rationale as range_join's band table). At real "
    "fence cardinality swap in the j11 grid-cell blocking before the "
    "exact predicate. Radius applies to the ROUNDED distance (the "
    "transcendental convention) so stream and oracle agree bit-exactly "
    "in complete mode over Trigger.AvailableNow.",
)
def t11_stream_geofence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citydata_etl_spark.functions.scalar import haversine_km
    from citydata_etl_spark.streaming.windows import read_events_stream

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    eid = F.col("event_id")
    pts = stream.select(
        "event_id", "ts", "user_id",
        (((eid * 2654435761) % 2147483648 % 120000 - 60000).cast("double")
         / 1000.0).alias("e_lat"),
        (((eid * 40503 + 7) % 2147483648 % 360000 - 180000).cast("double")
         / 1000.0).alias("e_lng"),
    )
    fences = read_testdata(spark, sf_dir, "region").select(
        F.col("r_name").alias("fence"),
        (F.col("r_regionkey") * 20 - 40).cast("double").alias("f_lat"),
        (F.col("r_regionkey") * 60 - 120).cast("double").alias("f_lng"),
    )
    dist = F.round(
        haversine_km(
            F.col("e_lat"), F.col("e_lng"), F.col("f_lat"), F.col("f_lng")
        ),
        4,
    )
    agg = (
        pts.join(F.broadcast(fences), dist <= 1000.0)
        .groupBy(F.window("ts", "10 minutes"), "fence")
        .agg(F.count("*").alias("n_hits"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("window_start"),
            "fence",
            "n_hits",
        )
    )
    name = f"t11_geofence_{next(_STREAM_SEQ)}"
    _await_with_state_partitions(
        spark,
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name),
    )
    return spark.sql(f"SELECT * FROM {name}")


def _events_dir_late_blocks(
    spark: SparkSession, sf_dir: str, n_blocks: int = 5,
    straggler_mod: int = 5,
) -> tuple[str, int]:
    """A stream-feed directory that delivers the events table GENUINELY
    OUT OF ORDER with bounded lateness, plus the far-future sentinel:
    events split into `n_blocks` time blocks (one file each, arrival
    order forced by ascending names AND mtimes), with every
    `straggler_mod`-th event DEFERRED one file — it arrives a whole
    block later than its event time, the shape multi-region collectors
    and retried uploads produce (the reference's Step Functions retries,
    stepfunction/definition.json:13-23). Returns (dir, block_span_s):
    lateness is bounded by one block span, so a watermark delay of
    block_span + slack admits every straggler.
    """
    import hashlib
    import os

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src_path = os.path.abspath(f"{sf_dir}/events.parquet")
    # parameters are part of the key: two consumers with different block
    # layouts must not share (and half-trust) one cached feed
    tag = hashlib.md5(
        f"{src_path}|{n_blocks}|{straggler_mod}".encode()
    ).hexdigest()[:12]
    d = _session_tmpdir(f"events_late_{tag}")
    marker = os.path.join(d, ".done")
    if os.path.exists(marker):
        # the marker carries the computed span: a warm call must not
        # re-read the whole events table just to recompute it
        with open(marker) as f:
            return d, int(f.read().strip())
    src = pq.read_table(src_path)
    ts = src["ts"].cast(pa.int64())  # physical nanos
    t0 = pc.min(ts).as_py()
    t1 = pc.max(ts).as_py()
    span_ns = max(t1 - t0, 1)
    block_span_s = span_ns // n_blocks // 10**9 + 1
    block = pc.floor(
        pc.divide(
            pc.subtract(ts, pa.scalar(t0, pa.int64())).cast(
                pa.float64()
            ),
            float(block_span_s * 10**9),
        )
    ).cast(pa.int64())
    block = pc.min_element_wise(
        block, pa.scalar(n_blocks - 1, pa.int64())
    )
    # stragglers: event_id % straggler_mod == 0, deferred one block
    rem = pc.subtract(
        src["event_id"],
        pc.multiply(
            pc.floor(
                pc.divide(
                    src["event_id"].cast(pa.float64()),
                    float(straggler_mod),
                )
            ).cast(pa.int64()),
            pa.scalar(straggler_mod, pa.int64()),
        ),
    )
    deferred = pc.add(block, pa.scalar(1, pa.int64()))
    deferred = pc.min_element_wise(
        deferred, pa.scalar(n_blocks - 1, pa.int64())
    )
    arrival = pc.if_else(
        pc.equal(rem, pa.scalar(0, pa.int64())), deferred, block
    )
    now = 1_700_000_000
    for b in range(n_blocks):
        part = src.filter(pc.equal(arrival, pa.scalar(b, pa.int64())))
        f = os.path.join(d, f"part-{b:03d}.parquet")
        tmp = f + ".tmp"
        pq.write_table(part, tmp)
        os.rename(tmp, f)
        os.utime(f, (now + b, now + b))
    # sentinel: one schema-identical far-future row, arriving LAST
    row = src.slice(0, 1).to_pylist()[0]
    mx = pc.max(src["ts"]).as_py()
    import datetime

    if isinstance(mx, datetime.datetime):
        row["ts"] = mx + datetime.timedelta(days=3650)
    else:
        row["ts"] = mx + 3650 * 86400 * 10**9
    row["user_id"] = -1
    row["event_id"] = -1
    sent = os.path.join(d, f"part-{n_blocks:03d}-sentinel.parquet")
    tmp = sent + ".tmp"
    pq.write_table(pa.Table.from_pylist([row], schema=src.schema), tmp)
    os.rename(tmp, sent)
    os.utime(sent, (now + n_blocks, now + n_blocks))
    tmpm = marker + ".tmp"
    with open(tmpm, "w") as f:
        f.write(str(int(block_span_s)))
    os.rename(tmpm, marker)
    return d, int(block_span_s)


@register(
    "t12_stream_late_sessions",
    oracle=_DYN_SESSION_ORACLE,
    doc="T12 (late-data sessionization): dynamic-gap sessions computed "
    "CORRECTLY over an out-of-order stream — the buffered-state "
    "operator streaming_dynamic_gap_sessions' zero-delay contract "
    "points to (streaming/stateful.py:streaming_late_sessions). The "
    "feed genuinely reorders: every 5th event arrives one time-block "
    "late (bounded lateness, the multi-region-collector / retry shape "
    "— the reference's own Step Functions retries produce exactly "
    "this), one file per micro-batch; a positive watermark delay "
    "admits the stragglers, they land in a per-user EVENT BUFFER in "
    "the state store, sort into place, and sessions emit only once "
    "the watermark passes their gap horizon (provably final — no "
    "admissible event can extend or split them). Every event is "
    "eventually admitted and the sentinel flushes the tail, so the "
    "stream equals the batch twin EXACTLY — the oracle is the same "
    "SQL as t5_dynamic_gap_session; the driver hash-checks an "
    "out-of-order stateful streaming computation against batch "
    "semantics. State per user is bounded by the delay + gap window "
    "(the price of reordering); the cross-batch straggler path is "
    "additionally pinned in tests/test_streaming.py. Honest cost note: "
    "array-state serialization plus per-batch buffer folds over every "
    "active user IS the buffering price (~5 s warm at sf0.1 with state "
    "partitions sized to the Python load — see the call-site comment; "
    "still the sweep's priciest entry alongside t10); pay it only "
    "where upstream delivery is genuinely out of order.",
)
def t12_stream_late_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citydata_etl_spark.sources.readers import read_testdata as _rt
    from citydata_etl_spark.streaming.stateful import (
        streaming_late_sessions,
    )
    from citydata_etl_spark.streaming.windows import read_events_stream

    _rt(spark, sf_dir, "events")  # side effects only (confs, ship)
    d, block_span_s = _events_dir_late_blocks(spark, sf_dir)
    # two files per trigger still crosses micro-batch boundaries with
    # late data (stragglers deferred one FILE land in the next TRIGGER
    # at every odd file boundary) at half the state-machinery passes;
    # the delay slack is just past the admission bound (>= block span)
    # — a fatter slack only keeps buffers larger for longer
    stream = read_events_stream(spark, d, max_files_per_trigger=2)
    out = streaming_late_sessions(
        stream.select("event_id", "ts", "user_id", "event_type"),
        watermark_delay=f"{block_span_s + 60} seconds",
    )
    name = f"t12_late_sess_{next(_STREAM_SEQ)}"
    # Partition history: the per-USER-group form's knee was key-
    # cardinality-dependent (r15 rehearsal: 16 at 1.5k keys, moving
    # right with keys; state_partitions_for encoded it). r18: state is
    # SHARD-keyed (stateful.N_SHARDS shards), so the key space is the
    # fixed shard count and the old derivation no longer applies; the
    # post-shard sweep at sf0.1 measured 4/8/16/32 -> 3.36/3.07/3.48/
    # 4.55 s (best-of-3 warm, twice, same ordering both times): 8 = one
    # store per 8 shards balances the buffered Python kernels' spread
    # (>= 2 shards per task even when AQE halves) against store-commit
    # count. Hand-pinned with the measurement, like t19's: the shard
    # count is a constant of the operator, so the pin is scale-stable
    # (a deployment grows SHARDS with key cardinality, and this knee
    # rides shard count, not keys).
    _await_with_state_partitions(
        spark,
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(name),
        n_partitions=8,
    )
    return spark.sql(f"SELECT * FROM {name} WHERE user_id >= 0")


@register(
    "t13_gap_fill",
    oracle="""
    WITH b AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 900) * 900 AS BIGINT) AS bucket_ts,
             event_id, value
      FROM events),
    obs AS (
      SELECT event_type, bucket_ts, count(*) AS n_events,
             arg_max(value, event_id) AS obs_value
      FROM b GROUP BY event_type, bucket_ts),
    span AS (
      SELECT event_type, min(bucket_ts) AS lo, max(bucket_ts) AS hi
      FROM b GROUP BY event_type),
    grid AS (
      SELECT event_type, unnest(range(lo, hi + 900, 900)) AS bucket_ts
      FROM span)
    SELECT g.event_type, g.bucket_ts,
           coalesce(o.n_events, 0) AS n_events,
           last_value(o.obs_value IGNORE NULLS) OVER (
             PARTITION BY g.event_type ORDER BY g.bucket_ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
           o.obs_value IS NULL AS is_filled
    FROM grid g LEFT JOIN obs o USING (event_type, bucket_ts)
    """,
    doc="T13 (time-series extension): gap-filled 15-minute resample of the "
    "event stream with last-observation-carried-forward — the hypertable "
    "`time_bucket_gapfill + locf` operation (TimescaleDB; InfluxDB "
    "fill(previous)), the standard dashboarding/feature-engineering shape "
    "for irregular telemetry like the reference's scrape cadence "
    "(operators/aggregates.py:resample_locf; reference "
    "lambda/collect-data.py polls on a timer, so its series has exactly "
    "these holes). ~50% of grid buckets are genuinely empty at this "
    "cadence, so the LOCF path is exercised, not decorative. One "
    "map-side-combined aggregate + a distributed sequence-explode grid + "
    "one per-key running window; the carried value is the stored double "
    "untouched by arithmetic, so the result is hash-exact.",
)
def t13_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citydata_etl_spark.operators.aggregates import resample_locf

    events = read_testdata(spark, sf_dir, "events")
    return resample_locf(
        events, key="event_type", ts="ts", value="value",
        tiebreak="event_id", step_s=900,
    )


@register(
    "t14_stream_ohlc",
    oracle="""
    WITH e AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS bar_ts,
             CAST(floor(epoch(ts)) AS BIGINT) AS tsec, event_id,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
      FROM events),
    w AS (
      SELECT event_type, bar_ts, vc,
             row_number() OVER (PARTITION BY event_type, bar_ts
                                ORDER BY tsec, event_id) AS rf,
             row_number() OVER (PARTITION BY event_type, bar_ts
                                ORDER BY tsec DESC, event_id DESC) AS rl
      FROM e)
    SELECT event_type, bar_ts,
           CAST(max(CASE WHEN rf = 1 THEN vc END) AS BIGINT) AS open_c,
           CAST(max(vc) AS BIGINT) AS high_c,
           CAST(min(vc) AS BIGINT) AS low_c,
           CAST(max(CASE WHEN rl = 1 THEN vc END) AS BIGINT) AS close_c,
           CAST(count(*) AS BIGINT) AS n_events
    FROM w GROUP BY event_type, bar_ts
    """,
    doc="T14 (streaming OHLC): the STREAMING twin of a18_ohlc_bars — "
    "candlestick downsampling as an incremental aggregation: open = "
    "min_by(value, (tsec, event_id)), close = max_by over the same "
    "TOTAL order, high/low/count as plain aggregates. Every piece is "
    "a declarative, MERGEABLE aggregate (min_by keeps one (key, "
    "value) pair of state per bar), so the bars update per "
    "micro-batch with O(bars) state and NO event buffer — compare "
    "t12, which must buffer events because sessions are not "
    "mergeable. The oracle is a18's closed form verbatim: the driver "
    "proves the incremental stream state-fold equals the batch "
    "window computation bit-exactly, the equivalence that lets one "
    "codebase serve both the backfill and the live dashboard.",
)
def t14_stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citydata_etl_spark.streaming.windows import read_events_stream

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    e = stream.select(
        "event_type",
        (F.floor(F.unix_timestamp("ts") / 3600) * 3600)
        .cast("bigint")
        .alias("bar_ts"),
        F.floor(F.unix_timestamp("ts")).cast("bigint").alias("tsec"),
        "event_id",
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("vc"),
    )
    order = F.struct("tsec", "event_id")
    agg = e.groupBy("event_type", "bar_ts").agg(
        F.min_by("vc", order).cast("bigint").alias("open_c"),
        F.max("vc").cast("bigint").alias("high_c"),
        F.min("vc").cast("bigint").alias("low_c"),
        F.max_by("vc", order).cast("bigint").alias("close_c"),
        F.count("*").cast("bigint").alias("n_events"),
    )
    name = f"t14_stream_ohlc_{next(_STREAM_SEQ)}"
    _await_with_state_partitions(
        spark,
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name),
    )
    return spark.sql(f"SELECT * FROM {name}")


@register(
    "t15_stream_snapshot_enrich",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS id, o_orderstatus AS status
      FROM orders WHERE o_orderkey % 100 < 10),
    v2 AS (
      SELECT id, CASE WHEN id % 7 = 0 THEN 'V2' ELSE status END AS status
      FROM base)
    SELECT v2.status,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM events e
    JOIN v2 ON v2.id = 9900 + e.user_id % 100
    GROUP BY v2.status
    """,
    doc="T15 (stream x versioned dim): a streaming join whose STATIC "
    "side is a PINNED SNAPSHOT VERSION of the copy-on-write store — "
    "snapshot_read(version=2) of u8's shared table — so the enrichment "
    "is immune to the dim's concurrent writers for the whole run (the "
    "dim-consistency problem Delta solves with time travel on the "
    "static side of stream-static joins; a live-table join would "
    "observe different dim states across micro-batches). Events map "
    "onto the dim's key space deterministically (9900 + user_id %% "
    "100 — all keys %% 100 < 10 land in the table by construction); "
    "the oracle states version 2 in closed form, so a result that "
    "leaked version-3 statuses (V3/NEW) hash-fails. Broadcast static "
    "side, complete-mode counts; per-batch cost is the broadcast "
    "probe, state is the 6-row aggregate.",
)
def t15_stream_snapshot_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citydata_etl_spark.plans.queries_core import _u8_snapshot_table
    from citydata_etl_spark.sources.snapshots import snapshot_read
    from citydata_etl_spark.streaming.windows import read_events_stream

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    table = _u8_snapshot_table(spark, sf_dir)
    dim = snapshot_read(spark, table, 2).select("id", "status")
    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    # exact distinct users under streaming: distinct is not directly
    # mergeable, so the stream aggregates at (status, user_id) grain —
    # mergeable counts — and the final projection folds to per-status
    # (n_events, n_users) after the run
    agg = (
        stream.withColumn("id", 9900 + F.col("user_id") % 100)
        .join(F.broadcast(dim), "id")
        .groupBy("status", "user_id")
        .agg(F.count("*").alias("n"))
    )
    name = f"t15_snapshot_enrich_{next(_STREAM_SEQ)}"
    _await_with_state_partitions(
        spark,
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name),
    )
    return (
        spark.sql(f"SELECT * FROM {name}")
        .groupBy("status")
        .agg(
            F.sum("n").cast("bigint").alias("n_events"),
            F.count("*").cast("bigint").alias("n_users"),
        )
    )


def _t17_quarantine_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os

    tag = "t17_quarantine_" + hashlib.sha256(sf_dir.encode()).hexdigest()[:12]
    root = session_tmpdir(tag)
    src, clean, quar, ckpt = (
        os.path.join(root, d) for d in ("src", "clean", "quarantine", "ckpt")
    )
    os.makedirs(src, exist_ok=True)
    # pre-create both sinks: at an SF where no event violates any rule
    # (or all do) one side receives zero appends and the summary read
    # below would raise on the missing path; an empty dir + explicit
    # schema reads as an empty bucket instead
    os.makedirs(clean, exist_ok=True)
    os.makedirs(quar, exist_ok=True)

    events = read_testdata(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    staged = os.path.join(src, "all")
    staged_done = os.path.join(root, ".staged_done")
    if not os.path.exists(staged_done):
        # marker AFTER the write: a bare exists(dir) check would let a
        # partially-staged source feed the checkpointed stream forever;
        # overwrite mode heals the partial directory on retry
        events.write.mode("overwrite").parquet(staged)
        open(staged_done, "w").close()

    rule = (
        F.when(F.col("event_type") == "error", F.lit("blocked_type"))
        .when(F.col("value") > 100, F.lit("value_cap"))
        .when(F.pmod(F.col("user_id"), F.lit(97)) == 13,
              F.lit("blocked_user"))
    )

    def route(batch: DataFrame, _bid: int) -> None:
        # one evaluation of the rule column serves both sinks; persist
        # so the two writes don't re-read the micro-batch from source
        b = batch.withColumn("rule", rule).persist()
        try:
            b.filter(F.col("rule").isNull()).drop("rule").write.mode(
                "append"
            ).parquet(clean)
            b.filter(F.col("rule").isNotNull()).write.mode(
                "append"
            ).parquet(quar)
        finally:
            b.unpersist()

    stream = spark.readStream.schema(
        "event_id LONG, user_id LONG, event_type STRING, value DOUBLE"
    ).parquet(os.path.join(src, "*"))
    q = (
        stream.writeStream.foreachBatch(route)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    sch = "event_id LONG, user_id LONG, event_type STRING, value DOUBLE"
    cents = F.floor(F.col("value") * 100 + 0.5).cast("bigint")
    good = (
        spark.read.schema(sch)
        .parquet(clean)
        .select(F.lit("clean").alias("bucket"), "event_id", cents.alias("c"))
    )
    bad = (
        spark.read.schema(sch + ", rule STRING")
        .parquet(quar)
        .select(F.col("rule").alias("bucket"), "event_id", cents.alias("c"))
    )
    return good.unionByName(bad).groupBy("bucket").agg(
        F.count("*").alias("n"),
        F.sum("c").cast("bigint").alias("total_cents"),
        F.sum("event_id").cast("bigint").alias("id_sum"),
    )


@register(
    "t17_stream_quarantine",
    oracle="""
    SELECT CASE WHEN event_type = 'error' THEN 'blocked_type'
                WHEN value > 100 THEN 'value_cap'
                WHEN user_id % 97 = 13 THEN 'blocked_user'
                ELSE 'clean' END AS bucket,
           count(*) AS n,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS total_cents,
           CAST(sum(event_id) AS BIGINT) AS id_sum
    FROM events GROUP BY bucket
    """,
    doc="T17 (streaming contract gate): the a13 data-contract idea on "
    "the LIVE path — every micro-batch is routed through one "
    "evaluation of the ordered rule column (blocked event type, then "
    "value cap, then user blocklist; first violation names the row's "
    "quarantine bucket) inside foreachBatch: violating rows land in a "
    "rule-attributed quarantine sink, passing rows in the clean sink, "
    "both from a single source read (the batch is persisted across "
    "the two writes, not re-read). Checkpointed availableNow; the "
    "oracle states the disposition of EVERY event in closed form, so "
    "a row that is dropped, duplicated, or routed under the wrong "
    "rule hash-fails — the per-bucket id_sum catches substitutions "
    "counts alone would mask. Disclosed race (as for u9/t3): "
    "foreachBatch is at-least-once — a crash between the clean append "
    "and the quarantine append re-runs the batch and duplicates rows; "
    "exactly-once needs an idempotent sink (MERGE on event_id or "
    "batch-id-named files), which u8_merge_upsert demonstrates. At "
    "100 TB the gate is one codegen predicate pass per micro-batch, "
    "no shuffle before the sinks; quarantine stays append-only "
    "parquet for replay/audit, the operational pattern for "
    "poisoned-record isolation.",
)
def t17_stream_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t17_quarantine_summary(spark, sf_dir)


@register(
    "t16_stream_restart",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS total_cents,
           CAST(sum(event_id) AS BIGINT) AS id_sum
    FROM events GROUP BY event_type
    """,
    doc="T16 (exactly-once RESTART): checkpointed recovery across TWO "
    "separate availableNow runs of the SAME query — the crash/redeploy "
    "contract every production stream lives by. Half the events "
    "(event_id%2=0) are staged as source files and streamed through a "
    "checkpointed parquet sink; then the second half arrives and a "
    "FRESH query object with the SAME checkpointLocation resumes from "
    "the recorded offsets. The oracle states the per-type counts, "
    "exact cent sums, and event_id sums over ALL events in closed "
    "form, so a micro-batch replayed after restart (duplicated rows) "
    "or an offset skipped (dropped rows) hash-fails — the id_sum also "
    "catches substitutions that counts alone would mask. Source "
    "staging is existence-guarded and the checkpoint persists per "
    "process, so re-invocations (bench runs each query repeatedly) "
    "are incremental no-ops, exactly like a resumed production "
    "pipeline. Builds on tests/test_streaming.py:"
    "test_checkpointed_restart_is_exactly_once.",
)
def t16_stream_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os

    tag = "t16_restart_" + hashlib.sha256(
        sf_dir.encode()
    ).hexdigest()[:12]
    root = session_tmpdir(tag)
    src, sink, ckpt = (os.path.join(root, d) for d in
                       ("src", "sink", "ckpt"))
    os.makedirs(src, exist_ok=True)

    events = read_testdata(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )

    def stage(name, cond):
        # existence-guarded: the file-source tracks files by PATH, so
        # re-writing (new part-file names) would look like new data
        out = os.path.join(src, name)
        if not os.path.exists(out):
            events.filter(cond).write.mode("overwrite").parquet(out)

    def run_once():
        stream = spark.readStream.schema(
            "event_id LONG, event_type STRING, value DOUBLE"
        ).parquet(os.path.join(src, "*"))
        q = (
            stream.withColumn(
                "cents",
                F.floor(F.col("value") * 100 + 0.5).cast("bigint"),
            )
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    stage("half1", F.col("event_id") % 2 == 0)
    run_once()
    stage("half2", F.col("event_id") % 2 != 0)
    run_once()  # fresh query, same checkpoint: must resume, not replay

    return (
        spark.read.schema(
            "event_id LONG, event_type STRING, value DOUBLE, cents BIGINT"
        )
        .parquet(sink)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("cents").cast("bigint").alias("total_cents"),
            F.sum("event_id").cast("bigint").alias("id_sum"),
        )
    )


@register(
    "t18_stream_attribution",
    # identical contract to the batch twin a22_attribution: on a
    # per-user time-monotone bounded feed the two-timestamp state
    # reproduces the RANGE-frame running max exactly
    oracle=_ATTRIBUTION_ORACLE,
    doc="T18 (streaming attribution): the STREAMING twin of "
    "a22_attribution — every purchase is credited the moment it "
    "arrives, against per-user state of exactly TWO int64s (latest "
    "click ts, latest view ts), via applyInPandasWithState "
    "(streaming/stateful.py:streaming_last_touch_attribution). The "
    "batch form scans history with a RANGE-frame running max; the "
    "stream carries the same two values across micro-batches, with "
    "the RANGE tie semantics preserved (touches AT a timestamp absorb "
    "before purchases AT it attribute, click beats a tied view), so "
    "the bounded replay equals the batch twin EXACTLY and the SAME "
    "oracle SQL checks both. State is bounded by users ever seen — "
    "never by event history — which is what lets attribution run "
    "forever; the cross-micro-batch state path is pinned in "
    "tests/test_streaming.py. Contract (stated, not approximated): "
    "per-user monotone admission AND equal-timestamp peers in one "
    "micro-batch — a tie straddling a batch boundary attributes "
    "against pre-tie state where the batch RANGE frame would see the "
    "tied click; feeds that can straddle ties need the buffered "
    "variant. The bounded single-file replay here satisfies both.",
)
def t18_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citydata_etl_spark.streaming.stateful import (
        streaming_last_touch_attribution,
    )
    from citydata_etl_spark.streaming.windows import read_events_stream

    read_testdata(spark, sf_dir, "events")  # side effects only
    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    prepared = stream.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_type"),
        F.unix_micros("ts").alias("tus"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    out = streaming_last_touch_attribution(prepared)
    name = f"t18_stream_attrib_{next(_STREAM_SEQ)}"
    _await_with_state_partitions(
        spark,
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(name),
    )
    return (
        spark.sql(f"SELECT * FROM {name}")
        .groupBy("attribution")
        .agg(
            F.count("*").alias("n"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
    )


@register(
    "t19_stream_sliding_kmv",
    oracle="""
    WITH e AS (
      SELECT DISTINCT
             CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS slot,
             (1103515245 * (user_id % 2147483647) + 12345)
             % 2147483647 AS hv
      FROM events),
    slot_buf AS (
      SELECT slot, hv FROM (
        SELECT slot, hv,
               row_number() OVER (PARTITION BY slot ORDER BY hv) AS rn
        FROM e) WHERE rn <= 64),
    merged AS (
      SELECT DISTINCT slot - 300 * o.o AS window_start, hv
      FROM slot_buf, (SELECT unnest([0, 1]) AS o) o
      WHERE slot - 300 * o.o >= 0),
    wbuf AS (
      SELECT window_start, CAST(max(hv) AS BIGINT) AS kth_hash,
             count(*) AS n_buf
      FROM (
        SELECT window_start, hv,
               row_number() OVER (PARTITION BY window_start
                                  ORDER BY hv) AS rn
        FROM merged) WHERE rn <= 64
      GROUP BY window_start)
    SELECT window_start, CAST(n_buf AS BIGINT) AS n_buf, kth_hash,
           CAST(CASE WHEN n_buf < 64 THEN n_buf
                ELSE (CAST(63 AS BIGINT) * 2147483647)
                     // greatest(kth_hash, 1)
           END AS BIGINT) AS kmv_est
    FROM wbuf
    """,
    doc="T19 (streaming sliding-window distinct sketch): the STREAMING "
    "twin of a23_sliding_kmv — per-SLOT state is AT MOST k=64 int64 "
    "hashes regardless of slot cardinality (streaming/stateful.py:"
    "streaming_slot_kmv), where exact streaming distinct state grows "
    "with true cardinality; that bound is what lets the sketch run "
    "forever at 100 TB. Truncating state to the k smallest per batch "
    "is lossless for the final buffer by the same pigeonhole as the "
    "batch twin's slot-merge (the k smallest ever seen lie within "
    "the union of the k-smallest-so-far and the new batch), so the "
    "streamed slot buffers equal the batch ones bit-for-bit and the "
    "window merge downstream (k-row buffers -> union -> re-rank -> "
    "(k-1)*M div kth estimate) shares its oracle form with "
    "a23_sliding_kmv minus the exact-count column (an exact rider "
    "would defeat the bounded-state point). Each micro-batch emits "
    "the slot's current buffer stamped with an update sequence; the "
    "reader keeps each slot's latest emission — so a restart or "
    "replay changes upd stamps, never the surviving buffer.",
)
def t19_stream_sliding_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from citydata_etl_spark.operators.similarity import lcg_pick
    from citydata_etl_spark.streaming.stateful import streaming_slot_kmv
    from citydata_etl_spark.streaming.windows import read_events_stream

    K, SL = 64, 300
    read_testdata(spark, sf_dir, "events")  # side effects only
    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    # NULL keys excluded before hashing — same contract (and reason)
    # as the batch twin: a NULL hash would rank first and occupy a
    # buffer slot the oracle's NULLS-LAST order never sees
    prepared = stream.filter(F.col("user_id").isNotNull()).select(
        (F.floor(F.unix_timestamp("ts") / SL) * SL)
        .cast("bigint").alias("slot"),
        lcg_pick(F.col("user_id")).alias("hv"),
    )
    out = streaming_slot_kmv(prepared, k=K)
    name = f"t19_stream_kmv_{next(_STREAM_SEQ)}"
    # 16 state partitions — MEASURED. Per-slot-group era (r17,
    # SCALE_REHEARSAL_r17_T19.json): 16 within noise of best at 8k
    # slots, best by 3.4x at 80k, with state_partitions_for's would-be
    # 64 1.6-1.7x worse (tiny per-group kernels: partitions bought no
    # kernel parallelism, only store commits). r18: state is SHARD-
    # keyed (stateful.N_SHARDS shards), which
    # removed the per-group machinery that sweep was probing; the
    # post-shard re-sweep at sf0.1 read 4/8/16 -> 2.00/1.95/2.00 s
    # (best-of-3 warm, flat within noise), so 16 stands. The shard
    # count, not slot count, now sets the regime — scale-stable.
    _await_with_state_partitions(
        spark,
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(name),
        n_partitions=16,
    )
    # keep each slot's LATEST emission (update-mode memory sink keeps
    # every generation); one window avoids a self-join on the sink
    slot_buf = spark.sql(
        f"""SELECT slot, hv FROM (
              SELECT slot, upd, hv,
                     max(upd) OVER (PARTITION BY slot) AS m
              FROM {name}) WHERE upd = m"""
    )
    # the window merge + estimator is the SAME implementation the
    # batch twin uses (operators/aggregates.py:merge_slot_kmv) — one
    # Spark-side estimator expression, never hand-copied
    from citydata_etl_spark.operators.aggregates import merge_slot_kmv

    return merge_slot_kmv(slot_buf, slide_s=SL, n_slots=2, k=K)
