"""Streaming-twin tests (SURVEY.md §2.7): the batch window queries and
their Structured Streaming counterparts must agree on the same events."""

from __future__ import annotations

import tempfile

import pytest

from pyspark.sql import functions as F

from citydata_etl_spark.streaming import pipeline as P
from citydata_etl_spark.streaming import windows as SW
from tests.conftest import SF_ORACLE


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.fixture(scope="module")
def events_stream_path():
    return f"{SF_ORACLE}/events.parquet"


def test_tumbling_stream_matches_batch(spark, events_stream_path):
    # complete mode emits ALL window state at termination, so a bounded
    # stream must agree with the batch query exactly
    stream = SW.read_events_stream(spark, events_stream_path)
    out = SW.run_to_completion(
        SW.tumbling_counts(stream), "tumbling_t", output_mode="complete"
    )
    from citydata_etl_spark.sources.readers import read_testdata

    batch = (
        read_testdata(spark, SF_ORACLE, "events")
        .groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.unix_timestamp("window.start").alias("window_start"),
            "event_type",
            "n",
        )
    )
    assert _rows(out, ["window_start", "event_type", "n"]) == _rows(
        batch, ["window_start", "event_type", "n"]
    )


def test_tumbling_append_emits_only_closed_windows(spark, events_stream_path):
    """Append mode + watermark: only windows older than
    (max event time - watermark) are flushed; the tail stays in state.
    Every emitted row must match batch, and the held-back rows must all be
    within the final watermark+window horizon."""
    stream = SW.read_events_stream(spark, events_stream_path)
    out = SW.run_to_completion(
        SW.tumbling_counts(stream), "tumbling_append_t", output_mode="append"
    )
    from citydata_etl_spark.sources.readers import read_testdata

    events = read_testdata(spark, SF_ORACLE, "events")
    batch = (
        events.groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.unix_timestamp("window.start").alias("window_start"),
            "event_type",
            "n",
        )
    )
    got = _rows(out, ["window_start", "event_type", "n"])
    want = _rows(batch, ["window_start", "event_type", "n"])
    assert set(got) <= set(want)
    max_ts = events.agg(F.max(F.unix_timestamp("ts"))).first()[0]
    horizon = max_ts - 3600 - 600  # watermark 1h + window width
    held_back = [r for r in want if r not in set(got)]
    assert all(r[0] >= horizon for r in held_back)
    assert len(held_back) < len(want)  # most windows did flush


def test_session_stream_matches_batch_sessionize(spark, events_stream_path):
    from citydata_etl_spark.operators.aggregates import sessionize
    from citydata_etl_spark.sources.readers import read_testdata

    stream = SW.read_events_stream(spark, events_stream_path)
    out = SW.run_to_completion(
        SW.session_counts(stream), "session_t", output_mode="complete"
    )
    events = read_testdata(spark, SF_ORACLE, "events")
    batch = (
        sessionize(
            events.select("user_id", "ts", "event_id", "value"),
            key="user_id", ts="ts", gap_seconds=300, order_tiebreak="event_id",
        )
        .groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n_events"))
    )
    # session row counts per user must agree between the two formulations
    a = _rows(
        out.groupBy("user_id").agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        ),
        ["user_id", "n_sessions", "n_events"],
    )
    b = _rows(
        batch.groupBy("user_id").agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        ),
        ["user_id", "n_sessions", "n_events"],
    )
    assert a == b


def test_incremental_pending_run(spark):
    """T1/T2: AvailableNow over a control directory processes pending rows
    once, then picks up only newly arrived files on rerun."""
    import os

    from citydata_etl_spark import schemas
    from tests import fixtures

    workdir = tempfile.mkdtemp(prefix="inc_")
    ctl_dir = os.path.join(workdir, "control")
    ckpt = os.path.join(workdir, "ckpt")
    os.makedirs(ctl_dir)

    ctl = fixtures.citydata_control(spark)
    ctl.limit(40).toPandas().to_csv(
        os.path.join(ctl_dir, "batch1.csv"), index=False
    )

    seen: list[int] = []

    def process(df, epoch):
        seen.append(df.count())

    P.incremental_pending_run(
        spark, ctl_dir, schemas.CITYDATA_CONTROL, process, ckpt
    )
    first_total = sum(seen)
    assert first_total > 0

    # second batch of rows arrives; rerun processes ONLY the new file
    ctl.toPandas().iloc[40:60].to_csv(
        os.path.join(ctl_dir, "batch2.csv"), index=False
    )
    seen.clear()
    P.incremental_pending_run(
        spark, ctl_dir, schemas.CITYDATA_CONTROL, process, ckpt
    )
    second_total = sum(seen)
    assert 0 < second_total <= 20


def test_retry_policy():
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("transient")

    P.with_retry(flaky, attempts=5, interval_seconds=0.01)
    assert calls["n"] == 3

    def always_fails():
        raise RuntimeError("permanent")

    calls["n"] = 0
    try:
        P.with_retry(always_fails, attempts=2, interval_seconds=0.01)
        raise AssertionError("should have raised")
    except RuntimeError:
        pass


def test_streaming_exact_dedup_stateful(spark):
    """applyInPandasWithState dedup: duplicates across micro-batches are
    suppressed by state; each distinct text is emitted exactly once with
    the batch-1 min-id winning for batch-1 texts."""
    import os

    from citydata_etl_spark.streaming.stateful import streaming_exact_dedup

    d = tempfile.mkdtemp(prefix="dedup_stream_")
    spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma"), (3, "alpha beta")],
        "doc_id LONG, text STRING",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "b1"))
    spark.createDataFrame(
        [(4, "alpha beta"), (5, "delta"), (6, "gamma")],
        "doc_id LONG, text STRING",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "b2"))

    stream = (
        spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(d, "*", ""))
    )
    out = streaming_exact_dedup(stream)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_stateful_t")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql(
        "SELECT doc_id, text FROM dedup_stateful_t"
    ).collect()
    got = {r["text"]: r["doc_id"] for r in rows}
    assert len(rows) == len(got) == 3          # one row per distinct text
    assert got["alpha beta"] == 1              # min-id within first batch
    assert got["gamma"] == 2
    assert got["delta"] == 5


class _FakeGroupState:
    """Minimal GroupState stand-in for driving make_dedup_group directly."""

    def __init__(self, value=None, timed_out=False, now_ms=0):
        self._value = value
        self.hasTimedOut = timed_out
        self.removed = False
        self.timeout_set = None
        self.now_ms = now_ms

    def getCurrentProcessingTimeMs(self):
        return self.now_ms

    @property
    def exists(self):
        return self._value is not None

    @property
    def get(self):
        return self._value

    def update(self, v):
        self._value = v

    def remove(self):
        self.removed = True
        self._value = None

    def setTimeoutDuration(self, ms):
        self.timeout_set = ms


def test_dedup_state_is_truncated_and_bounded():
    """State entries are truncated hashes (bounded width), the seen-set
    holds one entry per distinct content (bounded by distinct count), and
    re-sent content adds nothing."""
    import hashlib

    import pandas as pd

    from citydata_etl_spark.streaming.stateful import make_dedup_group

    def batch(rows):
        return pd.DataFrame(
            [
                {
                    "doc_id": i,
                    "text": t,
                    "content_sha": hashlib.sha256(t.encode()).hexdigest(),
                    "shard": "aa",
                }
                for i, t in rows
            ]
        )

    fn = make_dedup_group(state_hash_chars=16, ttl_ms=5000)
    state = _FakeGroupState()
    out1 = list(fn(("aa",), iter([batch([(1, "x"), (2, "y"), (3, "x")])]), state))
    assert sum(len(o) for o in out1) == 2
    stored, stamps = state.get
    assert len(stored) == len(stamps) == 2
    assert all(len(h) == 16 for h in stored), "state must hold truncated hashes"
    assert state.timeout_set == 5000, "TTL must be armed on every update"

    # duplicates in a later batch add no state and emit nothing
    out2 = list(fn(("aa",), iter([batch([(9, "x"), (10, "y")])]), state))
    assert sum(len(o) for o in out2) == 0
    assert len(state.get[0]) == 2


def test_dedup_state_prunes_entries_on_active_shard():
    """Per-entry TTL: a shard that KEEPS receiving data still prunes
    entries unseen for ttl_ms (the group timeout alone never fires for an
    active shard), and a sighting of suppressed duplicate content
    refreshes that entry's stamp."""
    import hashlib

    import pandas as pd

    from citydata_etl_spark.streaming.stateful import make_dedup_group

    def batch(rows):
        return pd.DataFrame(
            [
                {
                    "doc_id": i,
                    "text": t,
                    "content_sha": hashlib.sha256(t.encode()).hexdigest(),
                    "shard": "aa",
                }
                for i, t in rows
            ]
        )

    def short(t):
        return hashlib.sha256(t.encode()).hexdigest()[:16]

    fn = make_dedup_group(state_hash_chars=16, ttl_ms=5000)
    state = _FakeGroupState(now_ms=0)
    list(fn(("aa",), iter([batch([(1, "x"), (2, "y")])]), state))

    # t=4s: "y" re-sighted (suppressed, stamp refreshed); "x" untouched
    state.now_ms = 4_000
    out = list(fn(("aa",), iter([batch([(3, "y"), (4, "z")])]), state))
    assert sum(len(o) for o in out) == 1  # only "z" is fresh
    assert set(state.get[0]) == {short("x"), short("y"), short("z")}

    # t=6s: "x" is 6s old -> pruned even though the shard is active;
    # "y" (refreshed at 4s) and "z" survive, so "x" re-emits as fresh
    state.now_ms = 6_000
    out = list(fn(("aa",), iter([batch([(5, "x"), (6, "y")])]), state))
    assert sum(len(o) for o in out) == 1
    assert out[0]["text"].tolist() == ["x"]
    assert set(state.get[0]) == {short("x"), short("y"), short("z")}


def test_dedup_state_ttl_expiry_drops_shard():
    """A timed-out shard removes its state wholesale and emits nothing."""
    from citydata_etl_spark.streaming.stateful import make_dedup_group

    fn = make_dedup_group(state_hash_chars=16, ttl_ms=5000)
    state = _FakeGroupState(value=(["deadbeefdeadbeef"],), timed_out=True)
    assert list(fn(("aa",), iter([]), state)) == []
    assert state.removed


def test_streaming_dedup_with_ttl_runs(spark):
    """End-to-end: the ProcessingTimeTimeout configuration must run as a
    real streaming query and (within one TTL window) dedup identically."""
    import os

    from citydata_etl_spark.streaming.stateful import streaming_exact_dedup

    d = tempfile.mkdtemp(prefix="dedup_ttl_")
    spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")],
        "doc_id LONG, text STRING",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "b1"))
    stream = spark.readStream.schema("doc_id LONG, text STRING").parquet(
        os.path.join(d, "*", "")
    )
    out = streaming_exact_dedup(stream, ttl_ms=60_000)
    # NOTE: with ProcessingTimeTimeout the query keeps running state-
    # cleanup batches until the TTL fires, so neither awaitTermination()
    # nor processAllAvailable() returns promptly — poll the sink for the
    # expected rows, then stop.
    import time

    expected = {(1, "alpha"), (2, "beta")}
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_ttl_t")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        rows: set = set()
        deadline = time.time() + 90
        while time.time() < deadline and rows != expected:
            rows = {
                (r["doc_id"], r["text"])
                for r in spark.sql(
                    "SELECT doc_id, text FROM dedup_ttl_t"
                ).collect()
            }
            time.sleep(1)
    finally:
        q.stop()
    assert rows == expected


def test_checkpointed_restart_is_exactly_once(spark, tmp_path):
    """Checkpoint + file sink across TWO availableNow runs: the second run
    (a fresh query object, same checkpointLocation) must resume from the
    recorded offsets — every input row lands in the sink exactly once,
    none dropped, none duplicated."""
    import os

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def write_batch(name, lo, hi):
        spark.createDataFrame(
            [(i, f"doc {i}") for i in range(lo, hi)],
            "doc_id LONG, text STRING",
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(src, name)
        )

    def run_once():
        stream = spark.readStream.schema("doc_id LONG, text STRING").parquet(
            os.path.join(src, "*", "")
        )
        q = (
            stream.withColumn("n_chars", F.length("text"))
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    write_batch("b1", 0, 50)
    run_once()
    first = spark.read.parquet(sink)
    assert first.count() == 50

    write_batch("b2", 50, 80)
    run_once()  # fresh query, same checkpoint: resumes, no reprocessing
    rows = spark.read.parquet(sink).collect()
    ids = sorted(r["doc_id"] for r in rows)
    assert ids == list(range(80)), "rows dropped or duplicated on restart"


def test_rocksdb_state_store_provider_matches_default(spark, events_stream_path):
    """The scale state-backend knob: the same watermarked tumbling
    aggregation through _await_with_state_partitions with
    ROCKSDB_STATE_STORE_PROVIDER must produce the identical result as
    the default on-heap provider — proving the RocksDB wiring works in
    this build (bundled rocksdbjni) and restores session conf after."""
    from citydata_etl_spark.plans.queries_time import (
        ROCKSDB_STATE_STORE_PROVIDER,
        _await_with_state_partitions,
    )

    def run(provider):
        stream = SW.read_events_stream(spark, events_stream_path)
        agg = SW.tumbling_counts(stream)
        name = f"rocksdb_probe_{'rdb' if provider else 'dflt'}"
        _await_with_state_partitions(
            spark,
            agg.writeStream.outputMode("append").format("memory")
            .queryName(name),
            state_store_provider=provider,
        )
        return spark.sql(f"SELECT * FROM {name}")

    base = _rows(run(None), ["window_start", "event_type", "n"])
    rdb = _rows(
        run(ROCKSDB_STATE_STORE_PROVIDER),
        ["window_start", "event_type", "n"],
    )
    assert rdb == base and len(base) > 0
    # the provider conf must not leak into the session
    assert (
        spark.conf.get(
            "spark.sql.streaming.stateStore.providerClass",
            "unset",
        )
        == "unset"
    )


def test_drop_duplicates_within_watermark_expiry(spark):
    """dropDuplicatesWithinWatermark contract (t8): a duplicate arriving
    while the key's state lives is suppressed, but once the watermark
    passes first-seen + delay the state is evicted and the key RE-EMITS —
    the bounded-state trade every unbounded dedup must make."""
    import os

    d = tempfile.mkdtemp(prefix="dd_wm_")
    mk = lambda rows, sub: spark.createDataFrame(
        rows, "user_id LONG, ts TIMESTAMP"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, sub))
    ts = lambda s: __import__("datetime").datetime.fromisoformat(s)
    # b1: first sighting of K
    mk([(7, ts("2026-01-01 00:00:00"))], "b1")
    # b2: duplicate of K within the 2-minute horizon (suppressed) + a
    # filler event far ahead that drags the watermark past K's expiry
    mk(
        [(7, ts("2026-01-01 00:00:30")), (99, ts("2026-01-01 10:00:00"))],
        "b2",
    )
    # b3: filler batch — the advanced watermark becomes effective and the
    # eviction sweep actually drops K's aged-out state
    mk([(98, ts("2026-01-01 10:00:10"))], "b3")
    # b4: K again, after its state aged out -> re-emitted
    mk([(7, ts("2026-01-01 10:00:30"))], "b4")

    stream = (
        spark.readStream.schema("user_id LONG, ts TIMESTAMP")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(d, "*", ""))
    )
    out = (
        stream.withWatermark("ts", "2 minutes")
        .dropDuplicatesWithinWatermark(["user_id"])
        .select("user_id", "ts")
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dd_wm_t")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT user_id, ts FROM dd_wm_t ORDER BY ts").collect()
    emitted = [(r["user_id"], str(r["ts"])) for r in rows]
    assert emitted == [
        (7, "2026-01-01 00:00:00"),   # first sighting
        (99, "2026-01-01 10:00:00"),  # filler
        (98, "2026-01-01 10:00:10"),  # filler
        (7, "2026-01-01 10:00:30"),   # re-emitted after state expiry
    ], emitted


def test_streaming_dynamic_sessions_across_microbatches(spark, tmp_path):
    """Sessions spanning micro-batch boundaries must merge through state:
    feed the events in FOUR time-ordered files (maxFilesPerTrigger=1 ->
    four batches) plus a far-future sentinel, and require exact equality
    with the batch dynamic-gap sessionizer. This is the path the
    single-file catalog entry cannot exercise."""
    import os
    import time

    import pyarrow.parquet as pq

    from citydata_etl_spark.plans.queries_time import (
        _await_with_state_partitions,
    )
    from citydata_etl_spark.streaming.stateful import (
        streaming_dynamic_gap_sessions,
    )
    from citydata_etl_spark.streaming.windows import read_events_stream

    # time-ordered quarter files: a user's session can span several
    sorted_tbl = _oracle_events()
    n = sorted_tbl.num_rows
    d = str(tmp_path / "feed")
    os.makedirs(d)
    base = time.time() - 1000
    for i in range(4):
        part = sorted_tbl.slice(i * n // 4, (i + 1) * n // 4 - i * n // 4)
        p = os.path.join(d, f"part-{i}.parquet")
        pq.write_table(part, p)
        # strictly increasing mtimes pin the file-source processing order
        # (it sorts by modification time): data files in time order, the
        # sentinel last
        os.utime(p, (base + i, base + i))
    sentinel_path = os.path.join(d, "part-9-sentinel.parquet")
    pq.write_table(_sentinel(sorted_tbl), sentinel_path)
    os.utime(sentinel_path, (base + 9, base + 9))

    stream = read_events_stream(spark, d, max_files_per_trigger=1)
    out = streaming_dynamic_gap_sessions(
        stream.select("event_id", "ts", "user_id", "event_type")
    )
    name = "t10_xbatch_test"
    _await_with_state_partitions(
        spark,
        out.writeStream.outputMode("append").format("memory")
        .queryName(name),
    )
    got = _session_tuples(spark.sql(f"SELECT * FROM {name}").collect())
    assert got == _batch_twin_sessions(spark)


def test_dynamic_gap_sessions_rejects_positive_watermark_delay(spark):
    """A positive watermark delay admits out-of-order events behind the
    stored session end, which one-open-session state cannot sessionize
    correctly — the operator must refuse loudly, not silently diverge
    from its batch twin."""
    import pytest

    from citydata_etl_spark.streaming.stateful import (
        streaming_dynamic_gap_sessions,
    )

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr(
            "value AS event_id", "timestamp AS ts", "value AS user_id",
            "'view' AS event_type",
        )
    )
    with pytest.raises(ValueError, match="watermark_delay"):
        streaming_dynamic_gap_sessions(stream, watermark_delay="10 minutes")


def test_buffered_session_group_merges_late_event():
    """The buffered sessionizer's core contract, driven directly on a
    one-user shard: a LATE event arriving a batch later must merge into
    the session it belongs to by EVENT time (splitting what naive
    one-open-session state would have already decided), sessions emit
    only once the watermark passes their gap horizon, and ids stay
    sequential."""
    from citydata_etl_spark.streaming.stateful import (
        _BUFFERED_SESSIONS,
        _FAR_MS,
    )

    fn = _BUFFERED_SESSIONS
    state = _FakeShardState()

    # batch 1: two events 4000s apart -> would fold to two sessions, but
    # nothing is final yet (watermark 0)
    out = _emitted(fn, state, [(7, 1000, 1, 1800), (7, 5000, 2, 1800)])
    assert out == []
    (sid, _gc), (ts_buf, _, _) = _user_state(state, 7)
    assert sid == -1
    assert len(ts_buf) == 2

    # batch 2: a LATE event at t=2000 arrives; watermark has advanced to
    # 4000s. Sorted buffer folds (1000,2000)(5000): the late event MERGED
    # into session 0, whose horizon 2000+1800 < 4000 makes it final.
    state.wm_ms = 4000 * 1000
    out = _emitted(fn, state, [(7, 2000, 3, 1800)])
    assert out == [(7, 0, 2, 1000, 2000)]
    # trailing session still buffered
    assert list(_user_state(state, 7)[1][0]) == [5000]
    # timeout armed at the remaining session's horizon
    assert state.timeout_ts == (5000 + 1800) * 1000

    # batch 3: a data-less invocation past the horizon flushes the tail
    # with the NEXT sequential id
    state.wm_ms = 10_000 * 1000
    out = _emitted(fn, state, [])
    assert out == [(7, 1, 1, 5000, 5000)]
    # tombstone keeps the counter
    (sid, _gc), (ts_buf, _, _) = _user_state(state, 7)
    assert list(ts_buf) == []
    assert sid == 1

    # batch 4: once the watermark passes the tombstone's far deadline
    # with no new events -> full gc (without it, per-user state would
    # re-arm and leak forever on an unbounded stream)
    state.wm_ms = 10_000 * 1000 + _FAR_MS + 1
    out = _emitted(fn, state, [])
    assert out == []
    assert state.get is None and state.removed


def test_buffered_session_state_bound_under_adversarial_lateness():
    """Adversarial state-growth test for the t12/t10 buffered
    sessionizer (r13 VERDICT task 7): the per-user event buffer is the
    engine's only state whose bound depends on DATA BEHAVIOR, so feed
    it a late-heavy stream 10x the t12 fixture scale — 2000 events in
    200 closing sessions, every arrival displaced by up to the full
    watermark delay via a deterministic LCG shuffle — and assert after
    EVERY batch that the retained buffer obeys the documented bound:
    only events of sessions whose gap horizon the watermark has not
    passed remain, i.e. every retained event's ts >= watermark -
    (gap + session span), and the retained COUNT never exceeds the
    events that window can contain (vs 2000 processed). Then flush with
    a far watermark and assert the emitted sessions equal the batch
    fold exactly — late-heavy delivery must change NOTHING about the
    output, only the (bounded) buffering cost."""
    from citydata_etl_spark.streaming.stateful import _BUFFERED_SESSIONS

    GAP = 300          # every event's gap threshold
    SPAN = 54          # burst span: 10 events, 6 s apart
    DELAY = 120        # watermark delay the arrival shuffle saturates
    N_BURSTS, PER = 200, 10

    # event-time structure: 200 bursts of 10 events, bursts 400 s apart
    # (silence 346 s > GAP, so every burst is its own session)
    events = []
    eid = 0
    for b in range(N_BURSTS):
        t0 = 1000 + b * 400
        for i in range(PER):
            events.append((t0 + 6 * i, eid))
            eid += 1
    # adversarial arrival order: displacement uniform in [0, DELAY]
    # from a fixed LCG — stragglers up to the full admissible lateness
    def disp(e):
        return (e * 2654435761 + 17) % 2147483647 % (DELAY + 1)

    arrivals = sorted(events, key=lambda te: (te[0] + disp(te[1]), te[1]))

    fn = _BUFFERED_SESSIONS
    state = _FakeShardState()
    emitted = []
    max_retained = 0
    BATCH = 50
    wm_s = 0
    for i in range(0, len(arrivals), BATCH):
        chunk = arrivals[i:i + BATCH]
        state.wm_ms = wm_s * 1000
        emitted += _emitted(
            fn, state, [(7, ts, e, GAP) for ts, e in chunk]
        )
        # Spark semantics: next batch's watermark = this batch's max
        # event time minus the delay (non-decreasing)
        wm_s = max(wm_s, max(ts for ts, _ in chunk) - DELAY)
        ts_ret = _user_state(state, 7)[1][0]
        max_retained = max(max_retained, len(ts_ret))
        if len(ts_ret):
            # documented window invariant: a retained event belongs to
            # a session whose horizon >= watermark, so its ts can be no
            # older than wm - (gap + span)
            assert ts_ret.min() >= state.wm_ms // 1000 - (GAP + SPAN)
    # flush the tail with a watermark past every horizon
    state.wm_ms = (events[-1][0] + GAP + DELAY + 1) * 1000
    emitted += _emitted(fn, state, [])

    # the bound, quantified: the retention window (gap + span), plus
    # the watermark lag (delay), plus the event-time width of one
    # micro-batch (the watermark is computed from the PREVIOUS batch,
    # so the current batch's events sit in the buffer un-finalized —
    # Spark's own semantics; here 50 arrivals span ~5 bursts = 2000 s).
    # State never grows with the 2000-event stream length.
    batch_span = BATCH // PER * 400
    window_bursts = (GAP + SPAN + DELAY + batch_span) // 400 + 2
    assert max_retained <= window_bursts * PER, max_retained
    assert max_retained < len(events) // 10  # sub-linear sanity

    # exactness under lateness: output == the batch fold (200 sessions
    # of 10, sequential ids, exact bounds)
    expected = [
        (7, b, PER, 1000 + b * 400, 1000 + b * 400 + 6 * (PER - 1))
        for b in range(N_BURSTS)
    ]
    assert emitted == expected


def test_late_feed_is_genuinely_out_of_order(spark):
    """The t12 feed must actually deliver stragglers late: some file k+1
    must contain an event OLDER than file k's maximum event time (else
    the buffered path is never exercised and the entry proves nothing)."""
    import glob
    import os

    import pyarrow.parquet as pq

    from citydata_etl_spark.plans.queries_time import (
        _events_dir_late_blocks,
    )

    d, span = _events_dir_late_blocks(spark, SF_ORACLE)
    parts = sorted(
        p for p in glob.glob(os.path.join(d, "part-*.parquet"))
        if "sentinel" not in p
    )
    assert len(parts) >= 3
    reordered = 0
    prev_max = None
    import pyarrow.compute as pc

    for p in parts:
        t = pq.read_table(p)
        if t.num_rows == 0:
            continue
        ts = t["ts"].cast("int64")
        lo, hi = pc.min(ts).as_py(), pc.max(ts).as_py()
        if prev_max is not None and lo < prev_max:
            reordered += 1
            # lateness bounded by one block span (the watermark-delay
            # contract the catalog entry relies on)
            assert prev_max - lo <= (span + 1) * 10**9
        prev_max = hi if prev_max is None else max(prev_max, hi)
    assert reordered >= 1


def test_resample_locf_semantics(spark):
    """LOCF carry across consecutive empty buckets, deterministic
    max_by(tiebreak) pick inside a multi-event bucket, and the
    observed-by-construction first bucket per key."""
    from citydata_etl_spark.operators.aggregates import resample_locf

    rows = [
        ("a", 0, 1, 10.0),
        ("a", 5, 2, 20.0),   # same bucket as id=1; tiebreak keeps 20.0
        ("a", 31, 3, 30.0),  # two empty buckets in between
        ("b", 12, 4, 5.0),
    ]
    df = spark.createDataFrame(
        rows, "k string, tsec long, id long, value double"
    ).select(
        "k", F.timestamp_seconds("tsec").alias("ts"), "id", "value"
    )
    out = [
        tuple(r)
        for r in resample_locf(df, "k", "ts", "value", "id", 10)
        .orderBy("k", "bucket_ts")
        .collect()
    ]
    assert out == [
        ("a", 0, 2, 20.0, False),
        ("a", 10, 0, 20.0, True),
        ("a", 20, 0, 20.0, True),
        ("a", 30, 1, 30.0, False),
        ("b", 10, 1, 5.0, False),
    ]


def test_streaming_attribution_state_across_microbatches(spark, tmp_path):
    """Last-touch state must carry across micro-batch boundaries: the
    touches (click/view) arrive in batch 1, the purchases in batch 2
    (maxFilesPerTrigger=1, time-ordered files), so every attribution
    decision in batch 2 depends ONLY on state. Also pins the RANGE tie
    semantics (a click tied with the purchase wins over an earlier
    view) and the horizon cutoff. Touch rows carry NULL cents (their
    cents are never consumed) — the kernel must fill, not crash, on
    the whole-column int64 conversion (ADVICE r10)."""
    import os

    from pyspark.sql import functions as F

    from citydata_etl_spark.plans.queries_time import (
        _await_with_state_partitions,
    )
    from citydata_etl_spark.streaming.stateful import (
        streaming_last_touch_attribution,
    )

    H = 3_600_000_000
    d = str(tmp_path / "feed")
    os.makedirs(d)
    early = [
        # user 1: click then view (view more recent -> view wins later)
        (1, "click", 0, None),
        (1, "view", 1 * H // 4, None),
        # user 2: click long ago (outside horizon at purchase time)
        (2, "click", 0, None),
        # user 3: view only
        (3, "view", 1 * H // 2, None),
    ]
    late = [
        # purchases: all in a LATER file/batch
        (1, "purchase", H // 2, 100),        # view at H/4 wins
        (2, "purchase", 2 * H, 200),         # click aged out -> organic
        (3, "purchase", H, 300),             # tied click wins (RANGE:
        (3, "click", H, None),               # peers at a tus are visible
        (3, "purchase", H, 400),             # to EVERY purchase at it)
        (4, "purchase", H, 500),             # no touch ever -> organic
    ]
    for name, rows in (("a_early", early), ("b_late", late)):
        spark.createDataFrame(
            rows, "user_id LONG, event_type STRING, tus LONG, cents LONG"
        ).coalesce(1).write.parquet(os.path.join(d, name))

    stream = (
        spark.readStream.schema(
            "user_id LONG, event_type STRING, tus LONG, cents LONG"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(d, "*", ""))
    )
    out = streaming_last_touch_attribution(stream)
    _await_with_state_partitions(
        spark,
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("t18_xbatch"),
    )
    got = {
        (r["user_id"], r["cents"]): r["attribution"]
        for r in spark.sql("SELECT * FROM t18_xbatch").collect()
    }
    assert got == {
        (1, 100): "view",
        (2, 200): "organic",
        (3, 300): "click",    # RANGE peers: intra-tus order is not a
        (3, 400): "click",    # thing in the batch twin either
        (4, 500): "organic",
    }, got


def test_streaming_kmv_state_across_microbatches(spark, tmp_path):
    """The per-slot k-min buffer must carry across micro-batch
    boundaries AND truncate losslessly: hashes arrive in two
    time-ordered files with k=3, and the final buffer must equal the
    k smallest distinct hashes over BOTH batches — including the case
    where a batch-2 value displaces a batch-1 survivor. The reader
    keeps only each slot's latest emission, so superseded generations
    must not leak into the result."""
    import os

    from pyspark.sql import functions as F

    from citydata_etl_spark.plans.queries_time import (
        _await_with_state_partitions,
    )
    from citydata_etl_spark.streaming.stateful import streaming_slot_kmv

    d = str(tmp_path / "feed")
    os.makedirs(d)
    early = [(0, 50), (0, 10), (0, 90), (300, 7)]
    late = [(0, 5), (0, 70), (0, 10), (300, 3)]  # 5 displaces 50; 10 dup
    for name, rows in (("a_early", early), ("b_late", late)):
        spark.createDataFrame(rows, "slot LONG, hv LONG").coalesce(
            1
        ).write.parquet(os.path.join(d, name))
    stream = (
        spark.readStream.schema("slot LONG, hv LONG")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(d, "*", ""))
    )
    out = streaming_slot_kmv(stream, k=3)
    _await_with_state_partitions(
        spark,
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("t19_xbatch"),
    )
    final = spark.sql(
        """SELECT slot, hv FROM (
             SELECT slot, upd, hv, max(upd) OVER (PARTITION BY slot) AS m
             FROM t19_xbatch) WHERE upd = m"""
    ).collect()
    got = {}
    for r in final:
        got.setdefault(r["slot"], []).append(r["hv"])
    assert sorted(got[0]) == [5, 10, 50]  # k smallest distinct of union
    assert sorted(got[300]) == [3, 7]     # under-full buffer: all values


def test_state_partitions_sizing_function():
    """r16 VERDICT task 6: state_partitions_for derives the measured
    knees from key cardinality instead of hand-pinned counts — 4 for
    t10's ~1.5k light keys, 16 for t12/t19's per-group-Python load at
    the same cardinality — scales with keys at 10x/100x exactly as
    SCALE_REHEARSAL_r15.json measured the direction, clamps at
    4 x cores, and floors at 4. Also pins the fixture-cardinality
    helper the catalog entries pass (15/150/1500 by SF)."""
    from citydata_etl_spark.plans.queries_time import (
        _est_event_users,
        state_partitions_for,
    )

    # today's measured knees reproduce exactly (oracles byte-identical)
    for keys in (15, 150, 1500):  # every driver SF
        assert state_partitions_for(keys, 32) == 4
        assert state_partitions_for(keys, 32, per_group_python=True) == 16
    # 10x keys: moves right (t12's measured 16 -> 32+ direction)
    assert state_partitions_for(15_000, 32) == 40
    assert state_partitions_for(15_000, 32, per_group_python=True) == 128
    # 100x keys: the rehearsal's 5x-cost case — clamped at 4 x cores
    assert state_partitions_for(150_000, 32) == 128
    assert state_partitions_for(150_000, 32, per_group_python=True) == 128
    # monotone non-decreasing in keys; floor 4; cores ceiling moves
    prev = 0
    for keys in (1, 100, 1_000, 10_000, 100_000, 1_000_000):
        cur = state_partitions_for(keys, 32)
        assert cur >= max(prev, 4)
        prev = cur
    assert state_partitions_for(1_000_000, 256) == 1024  # 4 x cores
    assert _est_event_users("/root/testdata/sf0.001") == 15
    assert _est_event_users("/root/testdata/sf0.01") == 150
    assert _est_event_users("/root/testdata/sf0.1") == 1500


class _FakeShardState:
    """Minimal GroupState stand-in for driving the shard kernels
    (streaming/stateful.py:_ShardKernel) without Spark."""

    def __init__(self):
        self._value = None
        self.wm_ms = 0
        self.timeout_ts = None
        self.removed = False

    @property
    def exists(self):
        return self._value is not None

    @property
    def get(self):
        return self._value

    def update(self, v):
        self._value = v
        self.removed = False

    def remove(self):
        self._value = None
        self.removed = True

    def getCurrentWatermarkMs(self):
        return self.wm_ms

    def setTimeoutTimestamp(self, ts):
        self.timeout_ts = ts


def _emitted(fn, state, rows):
    """One invocation of a sessionizer shard kernel over the
    (user_id, tsec, event_id, thr) `rows` — none: a data-less
    (timeout) invocation — returning the emitted rows."""
    import pandas as pd

    cols = ["user_id", "tsec", "event_id", "thr"]
    pdfs = [pd.DataFrame(rows, columns=cols)] if rows else []
    return [
        tuple(r)
        for df in fn((0,), iter(pdfs), state)
        for r in df.itertuples(index=False)
    ]


def _user_state(state, user):
    """One key's (fixed ints, buffers) record from a shard blob."""
    from citydata_etl_spark.streaming.stateful import _unpack

    return _unpack(state.get[0])[user]


def _batch_sessions(rows):
    """The batch dynamic-gap fold over (user_id, tsec, event_id, thr)
    rows, per user in (tsec, event_id) order: sorted
    (user_id, session_id, n_events, session_start, session_end)."""
    want = []
    for user in sorted({r[0] for r in rows}):
        sid, start, end, prev_thr, n = -1, None, None, None, 0
        for _, t, _, thr in sorted(r for r in rows if r[0] == user):
            if start is None or t - end > prev_thr:
                if start is not None:
                    want.append((user, sid, n, start, end))
                sid += 1
                start, n = t, 0
            end = t
            n += 1
            prev_thr = thr
        want.append((user, sid, n, start, end))
    return sorted(want)


def test_session_shard_group_multi_user_flush_and_gc():
    """The shard-keyed zero-delay sessionizer, driven directly: two
    users share one shard blob; an in-data gap closes a session exactly
    like the batch fold; the flush emits an open session only once the
    watermark STRICTLY passes its horizon (becoming a counter-preserving
    tombstone), and an expired tombstone gc's while the other user's
    state survives."""
    from citydata_etl_spark.streaming.stateful import (
        _FAR_MS,
        _OPEN_SESSIONS,
        _unpack,
    )

    fn = _OPEN_SESSIONS
    state = _FakeShardState()

    # user 1: events 4000s apart -> first session closes IN-DATA;
    # user 2: one error event -> open session only
    out = _emitted(
        fn, state, [(1, 1000, 1, 1800), (1, 5000, 2, 1800), (2, 1200, 3, 300)]
    )
    assert out == [(1, 0, 1, 1000, 1000)]
    # open: user1 (start 5000, thr 1800 -> horizon 6800), user2 (1200,
    # error thr 300 -> horizon 1500). Shard timeout = min horizon.
    assert state.timeout_ts == 1500 * 1000

    # the watermark AT user2's horizon is not past it: nothing flushes
    state.wm_ms = 1_500_000
    assert _emitted(fn, state, []) == []

    # watermark passes user2's horizon only: user2 flushes, user1 stays
    state.wm_ms = 1_500_001
    out = _emitted(fn, state, [])
    assert [(r[0], r[1]) for r in out] == [(2, 0)]
    assert state.timeout_ts == 6800 * 1000

    # watermark passes user1's horizon; user2 is now a tombstone whose
    # far deadline is ~1000 days out -> survives, preserving its sid
    state.wm_ms = 6_800_001
    out = _emitted(fn, state, [])
    assert [(r[0], r[1]) for r in out] == [(1, 1)]

    # a returning user 2 continues its counter (no id reuse)
    out = _emitted(fn, state, [(2, 7000, 9, 1800)])
    assert out == []  # reopened, nothing final
    state.wm_ms = (7000 + 1800) * 1000 + 1
    out = _emitted(fn, state, [])
    assert [(r[0], r[1]) for r in out] == [(2, 1)]

    # past user1's tombstone deadline only: user1 gc's, user2 survives
    state.wm_ms = 6_800_001 + _FAR_MS + 1
    assert _emitted(fn, state, []) == []
    assert set(_unpack(state.get[0])) == {2}
    assert _user_state(state, 2)[0][0] == 1


def test_buffered_session_shard_group_equals_per_user_reference():
    """Equivalence pin for the shard-keyed buffered sessionizer: a
    genuinely reordered multi-user feed, stepped through a watermark
    schedule (invoking the shard without data only once its timeout is
    due, as the engine does), must emit exactly the per-user batch fold
    of the same events — including straggler merges across batches and
    final-flush ordering."""
    from citydata_etl_spark.streaming.stateful import _BUFFERED_SESSIONS

    # (user, tsec, event_id, thr) per batch, genuinely reordered
    batches = [
        [(1, 1000, 1, 1800), (2, 1100, 2, 1800), (1, 9000, 3, 1800)],
        [(1, 2000, 4, 300), (2, 1200, 5, 1800), (3, 50, 6, 1800)],
        [(2, 9999, 7, 1800), (1, 9100, 8, 1800)],
        [],  # pure watermark-advance batch
    ]
    wms = [0, 3_000_000, 9_500_000, 100_000_000_000]

    st = _FakeShardState()
    emitted = []
    for b, wm in zip(batches, wms):
        st.wm_ms = wm
        if b or (st.exists and st.timeout_ts < wm):
            emitted += _emitted(_BUFFERED_SESSIONS, st, b)
    want = _batch_sessions([r for b in batches for r in b])
    assert sorted(emitted) == want
    assert len(want) >= 4  # the schedule genuinely closes sessions


def test_kmv_shard_group_per_slot_buffers():
    """The shard-keyed KMV kernel: per-slot buffers inside one shard
    blob must merge/truncate exactly like the per-slot form — distinct
    union, k smallest, per-slot upd bumped only when the slot receives
    data — across two batches."""
    import pandas as pd

    from citydata_etl_spark.streaming.stateful import _kmv_kernel

    fn = _kmv_kernel(k=3)
    st = _FakeShardState()

    def run(rows):
        pdf = pd.DataFrame(rows, columns=["slot", "hv"])
        out = {}
        for df in fn((0,), iter([pdf]), st):
            for r in df.itertuples(False):
                out.setdefault((r.slot, r.upd), []).append(r.hv)
        return out

    out1 = run([(0, 50), (0, 10), (0, 90), (300, 7)])
    assert sorted(out1[(0, 1)]) == [10, 50, 90]
    assert sorted(out1[(300, 1)]) == [7]
    out2 = run([(0, 5), (0, 70), (0, 10)])  # 5 displaces 90; 10 dup
    assert sorted(out2[(0, 2)]) == [5, 10, 50]
    assert (300, 2) not in out2  # no data for slot 300: no emission


def test_shard_state_rejects_changed_shard_count(monkeypatch):
    """Restart with another shard count must fail loudly, naming both
    counts: every key would otherwise be read from (and rewritten to)
    the wrong shard's blob, silently splitting sessions."""
    from citydata_etl_spark.streaming import stateful

    state = _FakeShardState()
    monkeypatch.setattr(stateful, "N_SHARDS", 16)
    _emitted(stateful._BUFFERED_SESSIONS, state, [(7, 1000, 1, 1800)])
    monkeypatch.undo()
    with pytest.raises(ValueError, match=r"16 shards.*N_SHARDS=64"):
        _emitted(stateful._BUFFERED_SESSIONS, state, [(7, 2000, 2, 1800)])


def test_shard_state_rejects_headerless_blob():
    """A blob in the earlier headerless layout (t12's
    [n | uid | sid | gc | buflen | buffers], no layout word) must raise,
    never be misread as the current layout."""
    import numpy as np

    from citydata_etl_spark.streaming.stateful import _BUFFERED_SESSIONS

    state = _FakeShardState()
    state.update((np.array([1, 7, 0, 0, 1, 1000, 1, 1800], "<i8").tobytes(),))
    with pytest.raises(ValueError, match="layout header"):
        _emitted(_BUFFERED_SESSIONS, state, [(7, 2000, 2, 1800)])


def _restart_union(spark, tmp_path, runs, build, mode="append"):
    """Two availableNow runs of `build(stream)` on ONE checkpoint over an
    events feed: `runs` holds each run's new parquet parts (pyarrow
    tables, in arrival order) — the second run sees the first run's
    files plus its own. Returns every row either run wrote (the union
    of the sink rows)."""
    import os

    import pyarrow.parquet as pq

    from citydata_etl_spark.plans.queries_time import (
        _await_with_state_partitions,
    )
    from citydata_etl_spark.streaming.windows import read_events_stream

    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    ckpt = str(tmp_path / "ckpt")
    rows = []
    base = 1_700_000_000
    for r, parts in enumerate(runs):
        for i, tbl in enumerate(parts):
            p = os.path.join(feed, f"part-{r}-{i:02d}.parquet")
            pq.write_table(tbl, p)
            # the file source orders by modification time
            os.utime(p, (base + 100 * r + i,) * 2)
        stream = read_events_stream(spark, feed, max_files_per_trigger=1)
        _await_with_state_partitions(
            spark,
            build(stream).writeStream.outputMode(mode)
            .option("checkpointLocation", ckpt)
            .foreachBatch(lambda df, _id: rows.extend(df.collect())),
        )
    return rows


def _sentinel(tbl):
    """One schema-identical far-future event (user_id = -1): advances the
    watermark past every session horizon, the bounded-feed analog of
    time passing."""
    import datetime

    import pyarrow as pa
    import pyarrow.compute as pc

    row = tbl.slice(0, 1).to_pylist()[0]
    row["ts"] = pc.max(tbl["ts"]).as_py() + datetime.timedelta(days=3650)
    row["user_id"] = row["event_id"] = -1
    return pa.Table.from_pylist([row], schema=tbl.schema)


def _session_tuples(rows):
    return sorted(
        (r["user_id"], r["session_id"], r["n_events"], r["session_start"],
         r["session_end"])
        for r in rows if r["user_id"] >= 0
    )


def _batch_twin_sessions(spark):
    """operators.aggregates.sessionize_dynamic over the oracle events,
    as sorted (user_id, session_id, n_events, start, end) rows."""
    from citydata_etl_spark.operators.aggregates import sessionize_dynamic
    from citydata_etl_spark.sources.readers import read_testdata

    events = read_testdata(spark, SF_ORACLE, "events").select(
        "user_id", "event_id",
        F.floor(F.col("ts").cast("double")).cast("long").alias("tsec"),
        F.when(F.col("event_type") == "error", 300).otherwise(1800)
        .alias("thr"),
    )
    s = sessionize_dynamic(events, "user_id", "tsec", F.col("thr"),
                           "event_id")
    return _session_tuples(
        s.groupBy("user_id", "session_id").agg(
            F.count("*").alias("n_events"),
            F.min("tsec").alias("session_start"),
            F.max("tsec").alias("session_end"),
        ).collect()
    )


def _oracle_events():
    import pyarrow.parquet as pq

    return pq.read_table(f"{SF_ORACLE}/events.parquet").sort_by(
        [("ts", "ascending"), ("event_id", "ascending")]
    )


def test_dynamic_gap_sessions_restart_equals_batch(spark, tmp_path):
    """t10 across a restart: a time-ordered feed split in two, the
    second availableNow run resuming from the first run's checkpoint
    (open sessions live only in the restored shard state) — the union
    of both runs' sessions must equal the batch twin."""
    from citydata_etl_spark.streaming.stateful import (
        streaming_dynamic_gap_sessions,
    )

    ev = _oracle_events()
    half = ev.num_rows // 2
    got = _restart_union(
        spark, tmp_path,
        [[ev.slice(0, half)], [ev.slice(half), _sentinel(ev)]],
        lambda s: streaming_dynamic_gap_sessions(
            s.select("event_id", "ts", "user_id", "event_type")
        ),
    )
    assert _session_tuples(got) == _batch_twin_sessions(spark)


def test_late_sessions_restart_equals_batch(spark, tmp_path):
    """t12 across a restart: the out-of-order late-block feed, its first
    half in one availableNow run and the rest (stragglers of the first
    half included) in a second run on the same checkpoint — buffered
    events and session counters survive only in the restored state, and
    the union of both runs' sessions must equal the batch twin."""
    import glob
    import os

    import pyarrow.parquet as pq

    from citydata_etl_spark.plans.queries_time import (
        _events_dir_late_blocks,
    )
    from citydata_etl_spark.streaming.stateful import (
        streaming_late_sessions,
    )

    d, _ = _events_dir_late_blocks(spark, SF_ORACLE)
    parts = [pq.read_table(p)
             for p in sorted(glob.glob(os.path.join(d, "part-*.parquet")))]
    # stragglers arrive one of the feed's 5 time blocks late; the delay
    # must admit that (the helper's span is the block width only for
    # nanosecond timestamps)
    ts = _oracle_events()["ts"]
    block_s = int((ts[-1].as_py() - ts[0].as_py()).total_seconds()) // 5 + 1
    half = len(parts) // 2
    got = _restart_union(
        spark, tmp_path, [parts[:half], parts[half:]],
        lambda s: streaming_late_sessions(
            s.select("event_id", "ts", "user_id", "event_type"),
            watermark_delay=f"{block_s + 60} seconds",
        ),
    )
    assert _session_tuples(got) == _batch_twin_sessions(spark)


def test_attribution_restart_equals_batch(spark, tmp_path):
    """t18 across a restart: each user's events split at the first
    purchase whose preceding event is a touch inside the horizon, so
    that purchase is attributed in the second run from state restored
    out of the checkpoint. The union of both runs' purchases must equal
    the a22_attribution batch form."""
    import collections

    import pyarrow as pa
    import pyarrow.compute as pc

    from citydata_etl_spark.plans.queries_agg import a22_attribution
    from citydata_etl_spark.streaming.stateful import (
        streaming_last_touch_attribution,
    )

    H = 3_600_000_000
    ev = _oracle_events()
    cut = {}  # user -> first index (in time order) that goes to run 2
    seen: dict = {}
    for i, (u, et, ts) in enumerate(zip(
        ev["user_id"].to_pylist(), ev["event_type"].to_pylist(),
        ev["ts"].cast("int64").to_pylist(),
    )):
        prev = seen.get(u)
        if (u not in cut and et == "purchase" and prev is not None
                and prev[0] in ("click", "view") and ts - prev[1] <= H):
            cut[u] = ts
        seen[u] = (et, ts)
    assert cut, "no purchase depends on a touch before the split"
    far = 2**62
    in_run2 = pc.greater_equal(
        ev["ts"].cast("int64"),
        pa.array([cut.get(u, far) for u in ev["user_id"].to_pylist()]),
    )
    got = _restart_union(
        spark, tmp_path,
        [[ev.filter(pc.invert(in_run2))], [ev.filter(in_run2)]],
        lambda s: streaming_last_touch_attribution(s.select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("event_type"),
            F.unix_micros("ts").alias("tus"),
            F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
        )),
    )
    agg = collections.defaultdict(lambda: [0, 0])
    for r in got:
        agg[r["attribution"]][0] += 1
        agg[r["attribution"]][1] += r["cents"]
    want = {
        r["attribution"]: [r["n"], r["revenue_cents"]]
        for r in a22_attribution(spark, SF_ORACLE).collect()
    }
    assert dict(agg) == want


def test_slot_kmv_restart_equals_batch(spark, tmp_path):
    """t19 across a restart: every day-slot receives hashes in both runs
    (feed split by event_id parity), so each slot's final buffer mixes
    values restored from the checkpoint with new ones; the latest
    emission per slot must be the k smallest distinct hashes of the
    whole feed, with the update sequence continuing across the restart."""
    import pyarrow.compute as pc

    from citydata_etl_spark.operators.similarity import lcg_pick
    from citydata_etl_spark.sources.readers import read_testdata
    from citydata_etl_spark.streaming.stateful import streaming_slot_kmv

    K, SL = 3, 86400

    def slot_hv(df):
        return df.select(
            (F.floor(F.unix_timestamp("ts") / SL) * SL)
            .cast("bigint").alias("slot"),
            lcg_pick(F.col("user_id")).alias("hv"),
        )

    ev = _oracle_events()
    odd = pc.equal(pc.bit_wise_and(ev["event_id"], 1), 1)
    got = _restart_union(
        spark, tmp_path, [[ev.filter(odd)], [ev.filter(pc.invert(odd))]],
        lambda s: streaming_slot_kmv(slot_hv(s), k=K), mode="update",
    )
    latest: dict = {}
    for r in got:
        upd, hvs = latest.get(r["slot"], (0, []))
        if r["upd"] > upd:
            latest[r["slot"]] = (r["upd"], [r["hv"]])
        elif r["upd"] == upd:
            hvs.append(r["hv"])
    want: dict = {}
    for r in slot_hv(read_testdata(spark, SF_ORACLE, "events")).collect():
        want.setdefault(r["slot"], set()).add(r["hv"])
    assert {s: sorted(h) for s, (_, h) in latest.items()} == {
        s: sorted(h)[:K] for s, h in want.items()
    }
    assert max(u for u, _ in latest.values()) == 2  # upd survived
