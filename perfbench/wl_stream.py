"""The stream_sessions phase of the ingest workload: the only place in
which ``streaming`` runs.

A seeded feed of Zipf-skewed user events, split into ordered files with a
seeded share of events deferred one file (bounded lateness) and closed by
a far-future sentinel, is drained with availableNow through three
operators, run as three concurrent queries, whose watermark delay admits
every straggler: late-data sessionization, per-slot KMV buffers, and
tumbling counts.
"""

from __future__ import annotations

import json
import time

from perfbench import gen
from perfbench.harness import Ctx, check, median, tail
from perfbench.trace import catalyst_ms

#: a drain costs ~2 s per micro-batch whatever its size, so the feed is
#: kept to two batches per operator (files 0-1, then 2 and the sentinel)
N_EVENTS, N_USERS, N_FILES = 10_000, 300, 3
#: files per micro-batch: stragglers deferred one file still cross a
#: trigger boundary at every other file boundary
FILES_PER_TRIGGER = 2
KMV_K, SLOT_S = 64, 300
OPS = ("late_sessions", "slot_kmv", "tumbling")


def _progress(q) -> list[dict]:
    out = []
    for p in q.recentProgress:
        out.append(json.loads(p.json) if hasattr(p, "json") else p)
    return out


def _build(op: str, stream, delay: str):
    from pyspark.sql import functions as F

    from citydata_etl_spark.operators.similarity import lcg_pick
    from citydata_etl_spark.streaming.stateful import (
        streaming_late_sessions,
        streaming_slot_kmv,
    )
    from citydata_etl_spark.streaming.windows import tumbling_counts

    if op == "late_sessions":
        return streaming_late_sessions(
            stream.select("event_id", "ts", "user_id", "event_type"),
            watermark_delay=delay,
        ), "append"
    if op == "slot_kmv":
        prepared = stream.select(
            (F.floor(F.unix_timestamp("ts") / SLOT_S) * SLOT_S)
            .cast("bigint").alias("slot"),
            lcg_pick(F.col("user_id")).alias("hv"),
        )
        return streaming_slot_kmv(prepared, k=KMV_K), "update"
    return tumbling_counts(stream, watermark=delay), "append"


def drain(ctx: Ctx, feed: gen.Feed, d: int, sp) -> dict:
    """One pass of the whole feed through the three operators: the three
    queries run concurrently, each to completion into a memory sink, then
    each sink is counted."""
    from citydata_etl_spark.streaming.windows import read_events_stream

    spark = ctx.spark
    delay = f"{feed.block_span_s + 60} seconds"
    res = {"progress": {}, "catalyst_ms": 0.0}
    b0 = time.perf_counter()
    writers = {}
    for op in OPS:
        with sp(f"streaming.{op}.build"):
            stream = read_events_stream(spark, feed.path, FILES_PER_TRIGGER)
            out, mode = _build(op, stream, delay)
            writers[op] = (out.writeStream.outputMode(mode).format("memory")
                           .queryName(f"{op}_{d}")
                           .option("checkpointLocation",
                                   ctx.dir("chk", f"{op}_{d}"))
                           .trigger(availableNow=True))
    res["build_s"] = time.perf_counter() - b0
    with sp("streaming.run"):
        queries = {op: w.start() for op, w in writers.items()}
        for q in queries.values():
            q.awaitTermination()
    for op, q in queries.items():
        with sp("spark.sink_count"):
            c = spark.table(f"{op}_{d}").groupBy().count()
            res[op] = c.collect()[0][0]
        res["catalyst_ms"] += catalyst_ms(c)
        res["progress"][op] = _progress(q)
    return res


def _check(ctx: Ctx, feed: gen.Feed, d: int, progress) -> None:
    """Untimed: each streaming output equals its batch twin."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from citydata_etl_spark.operators.aggregates import sessionize_dynamic
    from citydata_etl_spark.operators.similarity import lcg_pick

    spark = ctx.spark
    ev = spark.read.parquet(feed.path)
    real = ev.filter(F.col("user_id") >= 0)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    # late sessions == batch dynamic-gap sessionization
    b = real.select(
        "user_id", "event_id",
        F.floor(F.unix_timestamp("ts")).cast("long").alias("tsec"),
        F.when(F.col("event_type") == "error", 300).otherwise(1800)
        .alias("thr"),
    )
    want = sessionize_dynamic(b, "user_id", "tsec", F.col("thr"), "event_id")
    want = want.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"), F.min("tsec").alias("session_start"),
        F.max("tsec").alias("session_end"))
    cols = ["user_id", "session_id", "n_events", "session_start",
            "session_end"]
    got = spark.table(f"late_sessions_{d}").filter("user_id >= 0")
    check(rows(got.select(cols)) == rows(want.select(cols)),
          "late sessions differ from sessionize_dynamic")

    # slot buffers == per-slot k smallest distinct hashes
    p = ev.select((F.floor(F.unix_timestamp("ts") / SLOT_S) * SLOT_S)
                  .cast("bigint").alias("slot"),
                  lcg_pick(F.col("user_id")).alias("hv")).distinct()
    want = p.withColumn("rn", F.row_number().over(
        Window.partitionBy("slot").orderBy("hv"))).filter(
        F.col("rn") <= KMV_K).select("slot", "hv")
    got = spark.table(f"slot_kmv_{d}")
    got = got.withColumn("m", F.max("upd").over(Window.partitionBy("slot")))
    got = got.filter(F.col("upd") == F.col("m")).select("slot", "hv")
    check(rows(got) == rows(want), "slot KMV buffers differ from batch")

    # tumbling counts == batch groupBy over the real events
    want = real.groupBy(F.window("ts", "10 minutes"), "event_type").agg(
        F.count("*").alias("n"), F.sum("value").alias("total_value"),
    ).select(F.unix_timestamp("window.start").alias("window_start"),
             "event_type", "n", "total_value")
    got = spark.table(f"tumbling_{d}")
    check(rows(got) == rows(want), "tumbling counts differ from batch")

    for op in OPS:
        dropped = sum(s.get("numRowsDroppedByWatermark", 0)
                      for p in progress[op] for s in p.get("stateOperators", []))
        check(dropped == 0, f"{op}: {dropped} rows dropped as late")


def op_layers(progress: list[dict]) -> dict:
    """Per-operator accounting from recentProgress, summed over batches
    (state sizes: maxima)."""
    def dur(k):
        return sum(p.get("durationMs", {}).get(k, 0) for p in progress)

    state = [s for p in progress for s in p.get("stateOperators", [])]
    return {
        "add_batch_ms": dur("addBatch"),
        "query_planning_ms": dur("queryPlanning"),
        "latest_offset_ms": dur("latestOffset"),
        "commit_ms": dur("commitOffsets"),
        "state_rows_max": max((s.get("numRowsTotal", 0) for s in state),
                              default=0),
        "state_bytes_max": max((s.get("memoryUsedBytes", 0) for s in state),
                               default=0),
        "rows_dropped_late": sum(s.get("numRowsDroppedByWatermark", 0)
                                 for s in state),
        "n_batches": len(progress),
    }


def prepare(ctx: Ctx) -> gen.Feed:
    """Before set-up: the generated event feed."""
    return gen.write_event_feed(ctx.dir("feed"), ctx.seed, N_EVENTS,
                                N_USERS, N_FILES)


def measure(ctx: Ctx, tracer, feed: gen.Feed, seconds: float) -> dict:
    """The drain loop (at least two drains, four when traced, and at
    least `seconds`), then the untimed check."""
    drains, ops = [], []
    # traced run: drain 0 (cold) untraced, then untraced and traced
    # drains alternate, ending untraced, so a traced drain is compared
    # with the mean of the drains just before and after it
    min_ops = 4 if ctx.trace else 2
    t_start = time.perf_counter()
    d = 0
    while True:
        traced = ctx.trace and d % 2 == 0 and d > 0
        ctx.attempted += 1
        e0, t0 = time.time(), time.perf_counter()
        with tracer.span("drain", run_id=f"drain{d}", record=traced):
            res = drain(ctx, feed, d, tracer.span)
        res["wall"] = time.perf_counter() - t0
        res["traced"] = traced
        drains.append(res)
        if traced:
            ops.append({"run_id": f"drain{d}", "root": "drain", "d": d,
                        "t0": e0, "t1": time.time(), "wall": res["wall"],
                        "build_s": res["build_s"],
                        "catalyst_ms": res["catalyst_ms"], "released": 0})
        d += 1
        if (time.perf_counter() - t_start >= seconds and d >= min_ops
                and not traced):
            break
    measured_s = time.perf_counter() - t_start

    last = d - 1
    _check(ctx, feed, last, drains[last]["progress"])
    for r in drains:
        check(all(r[op] == drains[last][op] for op in OPS),
              "sink row counts differ between drains")
    walls = [r["wall"] for r in drains]
    for op in ops:
        op["untraced_wall"] = (walls[op["d"] - 1] + walls[op["d"] + 1]) / 2
    warm = [r["wall"] for r in drains[1:] if not r["traced"]]
    batch_ms = [p["durationMs"]["triggerExecution"] for r in drains
                for op in OPS for p in r["progress"][op]]
    layers = {}
    for op in OPS:
        per = [op_layers(r["progress"][op]) for r in drains]
        for k in per[0]:
            layers[f"streaming.{op}.{k}"] = median([x[k] for x in per])
    return {
        "work_s": median(warm),
        "cold_s": walls[0],
        "items": feed.n_events * len(drains),
        "measured_s": measured_s,
        "ops": ops,
        "released": [],
        "layers": layers,
        "report": {
            "drain_s_p50 [s]": round(median(warm), 4),
            "drains": len(drains),
            "events_per_s [1/s]": round(feed.n_events / median(warm), 1),
            "batch_ms_p50 [ms]": median(batch_ms),
            "batch_ms_tail [ms]": tail(batch_ms),
            "sink_rows": {op: drains[last][op] for op in OPS},
            "streaming": layers,
        },
    }
