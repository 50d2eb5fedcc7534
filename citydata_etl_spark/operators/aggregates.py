"""Aggregations, windows, sorts, set ops (SURVEY.md §2.5 A1-A7).

Determinism conventions (driver's DuckDB-oracle hash compare):
  - Money-like double sums go through integer cents: floor(x*100 + 0.5) is
    the same IEEE double expression in any engine (unlike double->decimal
    casts, whose tie-rounding differs between Spark's HALF_UP and DuckDB),
    and integer addition is exact and associative — so the sum is
    bit-identical no matter how Spark partitions the data or in which
    order DuckDB sums. Double summation order would not be.
  - Averages are cent-sum / 100.0 / count (exact double divisions).
  - Every ranking has a total-order tie-break (unique key last).
All of this is also the right call at 100 TB: partial aggregation
(map-side combine) is automatic for all of these, and integer sums make
results stable across AQE re-partitioning.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def cents(col: Column | str) -> Column:
    """Round a money-like double to integer cents with an engine-portable
    expression: floor(x*100 + 0.5) — pure IEEE double ops + floor, identical
    everywhere (double->decimal casts are NOT: tie-rounding modes differ)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * 100 + F.lit(0.5))


def dec_sum(col: Column | str, alias: str) -> Column:
    """Exact, order-insensitive sum of a money-like double column:
    sum integer cents, divide once. Oracle-SQL twin:
    CAST(sum(CAST(floor(x*100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0"""
    return (F.sum(cents(col)).cast("double") / 100.0).alias(alias)


def dec_avg(col: Column | str, alias: str) -> Column:
    """Deterministic average: exact cent sum, two double divisions.
    Oracle twin: CAST(sum(...cents...) AS DOUBLE) / 100.0 / count(x)"""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(cents(col)).cast("double") / 100.0 / F.count(c)).alias(alias)


def rollup_agg(
    df: DataFrame, keys: Sequence[str], aggs: Sequence[Column]
) -> DataFrame:
    """A3 — hierarchical rollup (state -> city drilldowns)."""
    return df.rollup(*keys).agg(*aggs)


def cube_agg(
    df: DataFrame, keys: Sequence[str], aggs: Sequence[Column]
) -> DataFrame:
    """A3 — full cube."""
    return df.cube(*keys).agg(*aggs)


def topk_per_group(
    df: DataFrame,
    group: Sequence[str],
    order: Sequence[Column],
    k: int,
    rank_alias: str = "rnk",
) -> DataFrame:
    """A4 — top-k rows per group via row_number over a total order.

    Callers MUST include a unique column in `order` so the ranking is a
    total order (deterministic under any partitioning).
    """
    w = W.partitionBy(*group).orderBy(*order)
    return (
        df.withColumn(rank_alias, F.row_number().over(w))
        .filter(F.col(rank_alias) <= k)
    )


def topk_global(df: DataFrame, order: Sequence[Column], k: int) -> DataFrame:
    """A6 — global top-k; Spark plans TakeOrderedAndProject (no full sort:
    each partition keeps k, the driver merges k*num_partitions rows)."""
    return df.orderBy(*order).limit(k)


def sessionize(
    df: DataFrame,
    key: str,
    ts: str,
    gap_seconds: int,
    order_tiebreak: str,
) -> DataFrame:
    """Batch sessionization: split a per-key event sequence where the gap
    from the previous event exceeds `gap_seconds`.

    Classic lag+cumsum: one shuffle on `key`, two window passes, no state
    store needed in batch. (The streaming twin is session_window +
    watermark — streaming/windows.py.)

    Adds columns: session_id (0-based per key).
    """
    w_order = W.partitionBy(key).orderBy(ts, order_tiebreak)
    gap = F.col(ts).cast("long") - F.lag(F.col(ts).cast("long")).over(w_order)
    is_new = F.when(gap.isNull() | (gap > gap_seconds), 1).otherwise(0)
    w_run = w_order.rowsBetween(W.unboundedPreceding, W.currentRow)
    return df.withColumn("__new", is_new).withColumn(
        "session_id", F.sum("__new").over(w_run) - 1
    ).drop("__new")


def key_skew_profile(df: DataFrame, key_col: str, top_k: int = 20) -> DataFrame:
    """Heavy-hitter / shuffle-skew diagnostic: the top-k hottest keys with
    their exact row counts, corpus share (exact integer ppm), and
    multiple-of-average — the numbers that decide whether a join on this
    key needs salting or AQE skew splitting BEFORE the 100 TB run hits a
    straggler.

    Plan shape: one hash aggregate on the key (map-side partial combine
    does the heavy lifting — the shuffle carries one row per distinct
    key, not per input row), a 1-row global total broadcast back over the
    counts, and TakeOrderedAndProject for the top-k (no global sort).
    Shares are exact integer arithmetic (ppm via integer division), so
    the result is bit-stable under any partitioning.
    """
    counts = df.groupBy(key_col).agg(F.count("*").alias("n_rows"))
    tot = counts.agg(
        F.sum("n_rows").alias("_total"),
        F.count("*").alias("n_keys"),
    )
    enriched = counts.crossJoin(F.broadcast(tot)).select(
        key_col,
        "n_rows",
        F.expr("(n_rows * 1000000) div _total").alias("share_ppm"),
        F.expr("(n_rows * n_keys * 100) div _total").alias("x_avg_pct"),
    )
    return enriched.orderBy(
        F.desc("n_rows"), F.col(key_col)
    ).limit(top_k)


def funnel_stages(
    events: DataFrame,
    steps: Sequence[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    order_col: str = "event_id",
) -> DataFrame:
    """Ordered-funnel analysis: for each user, the timestamp at which
    each successive step first completed, where step k must occur
    STRICTLY AFTER step k-1 (a purchase before the first view does not
    count).  The sequential dependency is what makes this more than a
    pivot — step k's qualifying window depends on step k-1's result.

    Plan shape: ONE shuffle (groupBy user), then a codegen fold —
    sort_array over the user's (ts, order, type) structs gives a total
    event order, and F.aggregate threads the per-step timestamps through
    it; no joins, no window functions, no Python.  The per-user list is
    bounded by that user's event count in the analyzed window; for
    pathological single-user volumes, cascade min-aggregate joins
    per step instead (same semantics, k shuffles on the same key).

    Output: (user, <step>_ts epoch-second BIGINT per step — NULL once
    the funnel broke, stage = number of completed steps).  Users who
    never completed step 1 are excluded (they are the complement of the
    funnel's entry population).
    """
    ev = events.filter(F.col(type_col).isin(*steps)).select(
        user_col, ts_col, order_col, type_col
    )
    seq = ev.groupBy(user_col).agg(
        F.sort_array(
            F.collect_list(F.struct(ts_col, order_col, type_col))
        ).alias("_seq")
    )

    nil = F.lit(None).cast("timestamp")
    acc0 = F.struct(*[nil.alias(f"t{i}") for i in range(len(steps))])

    def step_fold(acc, e):
        fields = []
        for i, step in enumerate(steps):
            t_i = acc[f"t{i}"]
            ready = (
                F.lit(True) if i == 0 else acc[f"t{i-1}"].isNotNull()
            )
            after = (
                F.lit(True)
                if i == 0
                else e[ts_col] > acc[f"t{i-1}"]
            )
            fields.append(
                F.when(
                    t_i.isNull()
                    & ready
                    & (e[type_col] == step)
                    & after,
                    e[ts_col],
                )
                .otherwise(t_i)
                .alias(f"t{i}")
            )
        return F.struct(*fields)

    folded = seq.select(
        user_col, F.aggregate("_seq", acc0, step_fold).alias("_f")
    ).filter(F.col("_f.t0").isNotNull())

    stage = F.lit(1)
    for i in range(1, len(steps)):
        stage = stage + F.col(f"_f.t{i}").isNotNull().cast("int")
    return folded.select(
        user_col,
        *[
            F.unix_timestamp(F.col(f"_f.t{i}")).alias(f"{s}_ts")
            for i, s in enumerate(steps)
        ],
        stage.alias("stage"),
    )


def sessionize_dynamic(
    df: DataFrame,
    key: str,
    ts: str,
    gap_col: Column,
    order_tiebreak: str,
) -> DataFrame:
    """Sessionization with a DATA-DEPENDENT gap: the allowed idle time
    before the next event depends on the PREVIOUS event (e.g. an 'error'
    ends its session after 5 minutes of silence, a 'view' allows 30) —
    the dynamic-gap form Structured Streaming exposes as
    session_window(ts, gap_expression), here in its batch shape.

    Same lag+cumsum topology as sessionize (ONE shuffle on the key, two
    window passes over it): a new session starts when the gap since the
    previous event exceeds THAT event's own threshold.  `gap_col` is the
    per-row allowed-gap in seconds (any deterministic expression of the
    row).  Adds session_id (0-based per key).
    """
    w_order = W.partitionBy(key).orderBy(ts, order_tiebreak)
    prev_ts = F.lag(F.col(ts).cast("long")).over(w_order)
    prev_thr = F.lag(gap_col.cast("long")).over(w_order)
    gap = F.col(ts).cast("long") - prev_ts
    is_new = F.when(gap.isNull() | (gap > prev_thr), 1).otherwise(0)
    w_run = w_order.rowsBetween(W.unboundedPreceding, W.currentRow)
    return df.withColumn("__new", is_new).withColumn(
        "session_id", F.sum("__new").over(w_run) - 1
    ).drop("__new")


def resample_locf(
    df: DataFrame,
    key: str,
    ts: str,
    value: str,
    tiebreak: str,
    step_s: int,
) -> DataFrame:
    """Resample an irregular event series onto a fixed `step_s`-second
    grid per key, filling empty buckets by LAST-OBSERVATION-CARRIED-
    FORWARD — the hypertable `time_bucket_gapfill + locf` shape
    (TimescaleDB / InfluxDB `fill(previous)`), which neither Spark nor
    the reference exposes as a builtin.

    Per bucket the representative observation is max_by(value, tiebreak)
    (`tiebreak` must be unique per row, so the pick is total-order
    deterministic); the carried value is the stored double itself — no
    arithmetic touches it, so results are hash-exact across engines.
    Output: (key, bucket_ts epoch-seconds, n_events, value, is_filled).

    Topology (and why it holds at 100 TB): one map-side-combined
    aggregate to (key, bucket) — the only corpus-sized shuffle; the grid
    is exploded DISTRIBUTEDLY from a per-key [min, max] span (sequence +
    explode — grid size rows, never collected); one left join on
    (key, bucket) between two relations already small relative to the
    input; one running window per key for the carry. The window's
    partition is a whole key's grid — at 100 TB with multi-year spans,
    range-chunk the grid (coarse time bucket in the partition key) and
    carry across chunks with a second pass over per-chunk LAST values,
    the same two-pass trick the pipeline's pack/water-fill operators use.
    First grid bucket per key is observed by construction (the span's
    min), so no leading-NULL seed is needed.
    """
    b = (F.floor(F.unix_timestamp(F.col(ts)) / step_s) * step_s).cast(
        "bigint"
    )
    obs = df.groupBy(F.col(key), b.alias("bucket_ts")).agg(
        F.count("*").alias("n_events"),
        F.max_by(value, tiebreak).alias("__obs"),
    )
    span = df.groupBy(key).agg(
        F.min(b).alias("__lo"),
        F.max(b).alias("__hi"),
    )
    grid = span.select(
        key,
        F.explode(
            F.sequence(F.col("__lo"), F.col("__hi"), F.lit(step_s).cast("bigint"))
        ).alias("bucket_ts"),
    )
    w = (
        W.partitionBy(key)
        .orderBy("bucket_ts")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        grid.join(obs, [key, "bucket_ts"], "left")
        .select(
            key,
            "bucket_ts",
            F.coalesce("n_events", F.lit(0).cast("bigint")).alias("n_events"),
            F.last("__obs", ignorenulls=True).over(w).alias(value),
            F.col("__obs").isNull().alias("is_filled"),
        )
    )


def _histogram_level(v: DataFrame, level: int, *bucket_cols: str) -> DataFrame:
    """One equi-width histogram level of histogram_order_statistics:
    per-bucket (count, min, max) over the value column `c` — a
    parameter-bounded mergeable sketch (<= n_buckets rows per target),
    never data. Factored out so the plan test asserts the map-side-
    combine shape on the operator's REAL aggregation subtree
    (tests/test_plans.py::test_a21_quantiles_no_global_data_sort)
    instead of a hand-built replica."""
    i = str(level)
    return v.groupBy(*bucket_cols).agg(
        F.count("*").alias("cnt" + i),
        F.min("c").alias("mn" + i),
        F.max("c").alias("mx" + i),
    )


def histogram_order_statistics(
    vals: DataFrame, percents: Sequence[int], n_buckets: int = 128
) -> DataFrame:
    """GLOBAL order statistics (k = ceil(q*n/100)-th smallest) of a
    single non-null BIGINT column `c` without a global sort — TWO
    histogram recursion levels, so the final rank window is bounded
    ~n/n_buckets^2 even under adversarial skew (one level degrades
    toward the global sort it exists to avoid when >90% of rows share
    a bucket; the skewed-fixture property test pins level 2).

    Level 1 (one map-side-combined pass over ALL rows): an equi-width
    histogram carrying per-bucket (cnt, mn, mx). Level 2 (one pass
    over ONLY target-bucket rows): re-histogram the target buckets'
    rows on their own [mn1, mx1] ranges. Final: a rank window over
    only the target (b1, b2) sub-buckets' rows. DEGENERATE
    SHORT-CIRCUIT at both levels: a single-value bucket (mn == mx) IS
    its own order statistic for any residual rank, answered with no
    scan — the truly adversarial input (all rows one value) never
    reaches a window at all.

    COORDINATION IS DRIVER-SIDE (r17 optimization): each histogram is
    PARAMETER-BOUNDED (≤ n_buckets rows per level per target — a
    mergeable sketch, never data) and is collected; the cumulative
    rank walk, bucket location, and residual ranks are a few hundred
    integer ops in Python, exactly like the engine's other bounded
    collects (k-row seed picks, bucket lists). The previous
    all-relational form located buckets through broadcast-join chains
    over these same ≤128-row tables and spent ~70% of its wall time
    in 33 jobs of driver/AQE coordination (3.1 s warm for a 3-row
    output; eventlog attribution in OPTIMIZATION_r17.md). DATA never
    reaches the driver: the full-table passes (bucketize, both
    histogram aggregations, the final bounded rank window) are
    unchanged and fully distributed, so the 100 TB posture is
    identical — per-level sketch size is a parameter, not a function
    of input size.

    Output: (q, est, exact, n) — est is the level-1 bucket's CEIL
    upper edge (the mergeable-sketch estimate that rides along), exact
    the true order statistic. Everything is integer arithmetic stated
    identically by the SQL oracle (div, ceil-as-div, unique-value
    tie-free rank: row_number over c within a sub-bucket is
    deterministic because equal c values are interchangeable for the
    k-th smallest VALUE); the Python side uses the same non-negative
    floor divisions, so the located buckets and residual ranks are
    bit-identical to the oracle's relational statement.

    EAGER-EXECUTION CONTRACT (r17 ADVICE): this operator runs Spark
    jobs at DataFrame-CONSTRUCTION time (the min/max/count probe and
    the two <= n_buckets-row histogram collects) and bakes the
    collected constants into the returned plan — calling it is an
    action, not a lazy plan build, and a plan-only consumer
    (explain/dry-run) triggers those bounded jobs. The INPUT IS PINNED
    first (scoped_persist of the projected value column), so the
    driver-side targets and the distributed rank window both read the
    SAME materialization: if the underlying source changes after the
    call, the returned DataFrame keeps answering for the pinned
    snapshot (until the scoped cache is released, at which point it
    recomputes consistently from source — constants and all — only by
    calling the operator again). Re-derive, don't re-execute, after a
    source update.
    """
    from citydata_etl_spark.caching import scoped_persist

    NB = n_buckets
    spark = vals.sparkSession
    out_schema = "q LONG, est LONG, exact LONG, n LONG"
    # pin the snapshot BEFORE the first driver-side probe: every
    # collected constant below and the final distributed rank window
    # must read one materialization (see the contract paragraph above)
    vals = scoped_persist(vals)
    srow = vals.agg(
        F.min("c").alias("lo"),
        F.max("c").alias("hi"),
        F.count("*").cast("bigint").alias("n"),
    ).first()
    lo, hi, n = srow["lo"], srow["hi"], srow["n"]
    if not n or not percents:
        return spark.createDataFrame([], out_schema)
    width1 = hi - lo + 1

    def est_of(b1: int) -> int:
        # the bucket's CEIL upper edge — same integer form as the oracle
        return lo + ((b1 + 1) * width1 + NB - 1) // NB - 1

    def locate(rows, k):
        """Smallest bucket whose cumulative count reaches k ->
        (bucket, mn, mx, residual rank). rows: (bucket, cnt, mn, mx)
        ascending by bucket; k <= sum(cnt) by construction."""
        cum = 0
        for b, cnt, mn, mx in rows:
            cum += cnt
            if cum >= k:
                return b, mn, mx, k - (cum - cnt)
        raise AssertionError("rank beyond histogram total")

    # b1 is one arithmetic projection over the pinned snapshot — no
    # second cache needed (the r17 form persisted vals+b1 together;
    # pinning the input moved the cache one node down)
    v = vals.withColumn(
        "b1", F.expr(f"((c - ({lo})) * {NB}) div {width1}")
    )
    h1 = sorted(
        (r["b1"], r["cnt1"], r["mn1"], r["mx1"])
        for r in _histogram_level(v, 1, "b1").collect()
    )

    answers: list[tuple[int, int, int]] = []  # (q, est, exact) literals
    t1n = []  # (q, b1, mn1, mx1, k2) — non-degenerate level-1 targets
    for q in percents:
        k = (q * n + 99) // 100
        if k < 1 or k > n:
            # out-of-range percentile (q <= 0 or q > 100): the pre-r17
            # relational form produced no row for it; mirror that
            # instead of walking the histogram past its total (r17
            # ADVICE — locate() would raise)
            continue
        b1, mn1, mx1, k2 = locate(h1, k)
        if mn1 == mx1:  # single-value bucket IS the answer
            answers.append((int(q), est_of(b1), int(mn1)))
        else:
            t1n.append((int(q), int(b1), int(mn1), int(mx1), int(k2)))

    branches = []
    if answers:
        branches.append(
            spark.createDataFrame(
                [(q, e, x, int(n)) for q, e, x in answers], out_schema
            )
        )
    if t1n:
        tb1 = sorted({(b1, mn1, mx1) for _, b1, mn1, mx1, _ in t1n})
        v2 = scoped_persist(
            v.join(
                F.broadcast(
                    spark.createDataFrame(
                        tb1, "b1 LONG, mn1 LONG, mx1 LONG"
                    )
                ),
                "b1",
            ).withColumn(
                "b2", F.expr(f"((c - mn1) * {NB}) div (mx1 - mn1 + 1)")
            )
        )
        h2 = {}
        for r in sorted(
            _histogram_level(v2, 2, "b1", "b2").collect(),
            key=lambda r: (r["b1"], r["b2"]),
        ):
            h2.setdefault(r["b1"], []).append(
                (r["b2"], r["cnt2"], r["mn2"], r["mx2"])
            )
        lit2: list[tuple[int, int, int]] = []
        t2n = []  # (q, b1, b2, k3, est) — final rank-window targets
        for q, b1, mn1, mx1, k2 in t1n:
            b2, mn2, mx2, k3 = locate(h2[b1], k2)
            if mn2 == mx2:
                lit2.append((q, est_of(b1), int(mn2)))
            else:
                t2n.append((q, int(b1), int(b2), int(k3), est_of(b1)))
        if lit2:
            branches.append(
                spark.createDataFrame(
                    [(q, e, x, int(n)) for q, e, x in lit2], out_schema
                )
            )
        if t2n:
            pairs = sorted({(b1, b2) for _, b1, b2, _, _ in t2n})
            ranked = v2.join(
                F.broadcast(
                    spark.createDataFrame(pairs, "b1 LONG, b2 LONG")
                ),
                ["b1", "b2"],
            ).withColumn(
                "rnk",
                F.row_number().over(
                    W.partitionBy("b1", "b2").orderBy("c")
                ),
            )
            targets = spark.createDataFrame(
                t2n, "q LONG, b1 LONG, b2 LONG, k3 LONG, est LONG"
            )
            branches.append(
                ranked.join(F.broadcast(targets), ["b1", "b2"])
                .filter(F.col("rnk") == F.col("k3"))
                .select(
                    F.col("q").cast("bigint").alias("q"),
                    F.col("est").cast("bigint").alias("est"),
                    F.col("c").cast("bigint").alias("exact"),
                    F.lit(int(n)).cast("bigint").alias("n"),
                )
            )
    if not branches:  # every requested q was out of range
        return spark.createDataFrame([], out_schema)
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


def sliding_kmv_distinct(
    events: DataFrame, slide_s: int = 300, n_slots: int = 2, k: int = 64,
    ts_col: str = "ts", key_col: str = "user_id",
) -> DataFrame:
    """Sliding-window approximate distinct via MERGEABLE integer-KMV
    sketches (Bar-Yossef et al. 2002) — the scale form of the exact
    Expand+count_distinct sliding window: each slide-width SLOT builds
    one k-minimum-values buffer (the k smallest distinct LCG hashes of
    the key), and each window of n_slots consecutive slots MERGES its
    slots' buffers. The merge is LOSSLESS relative to sketching the
    window directly: every one of the union's k smallest hashes is
    within its own slot's k smallest, so re-ranking the union of
    buffers reproduces the direct window sketch bit-for-bit (the
    property test pins this). Estimate = (k-1)*M DIV kth_smallest —
    exact integer division, engine-portable; when a window's buffer
    holds fewer than k hashes the estimate IS the exact count.

    Output per window_start: n_exact (exact distinct, riding along for
    the dashboard's sketch-vs-truth column), n_buf, kth_hash, kmv_est
    — all BIGINT.

    At 100 TB: each event is hashed into exactly ONE slot sketch
    (map-side distinct shrinks first), the window fan-out explodes
    k-row buffers instead of raw events, and per-window state is k
    hashes regardless of true cardinality — the win over the exact
    plan whenever |keys| >> k within a ~2/sqrt(k) error band.

    NULL keys are excluded BEFORE hashing: lcg_pick(NULL) is a NULL
    hash that would rank first (NULLS FIRST) and occupy a buffer
    slot, while countDistinct and the oracle's ORDER BY (NULLS LAST)
    both ignore it — the filter keeps sketch, exact rider, and
    oracle consistent."""
    from citydata_etl_spark.operators.similarity import lcg_pick

    nn = events.filter(F.col(key_col).isNotNull())
    slot = (
        F.floor(F.unix_timestamp(F.col(ts_col)) / slide_s) * slide_s
    ).cast("bigint")
    hashed = nn.select(
        slot.alias("slot"), lcg_pick(F.col(key_col)).alias("hv")
    ).distinct()
    slot_rn = F.row_number().over(W.partitionBy("slot").orderBy("hv"))
    slot_buf = hashed.withColumn("rn", slot_rn).filter(
        F.col("rn") <= k
    ).select("slot", "hv")
    wbuf = merge_slot_kmv(slot_buf, slide_s, n_slots, k)
    offs = F.array(*[F.lit(i * slide_s) for i in range(n_slots)])
    exact = (
        nn.select(
            F.explode(offs).alias("o"), slot.alias("slot"),
            F.col(key_col).alias("key"),
        )
        .select((F.col("slot") - F.col("o")).alias("window_start"), "key")
        .filter(F.col("window_start") >= 0)
        .groupBy("window_start")
        .agg(F.countDistinct("key").alias("n_exact"))
    )
    return exact.join(wbuf, "window_start").select(
        "window_start",
        F.col("n_exact").cast("bigint").alias("n_exact"),
        "n_buf",
        "kth_hash",
        "kmv_est",
    )


def merge_slot_kmv(
    slot_buf: DataFrame, slide_s: int, n_slots: int, k: int
) -> DataFrame:
    """The ONE window-merge + estimate stage shared by the batch
    (sliding_kmv_distinct) and streaming (t19) sliding-KMV twins —
    factored so the estimator expression exists in exactly one
    Spark-side place (the lcg_pick hand-copy lesson). Input: per-slot
    k-min buffers as (slot, hv) rows. Output per window_start:
    (window_start, n_buf BIGINT, kth_hash BIGINT, kmv_est BIGINT) —
    union the window's slot buffers, re-rank, keep the k smallest
    (lossless by pigeonhole), estimate = (k-1)*M DIV kth_smallest
    with under-full buffers exact by construction."""
    m = 2147483647
    offs = F.array(*[F.lit(i * slide_s) for i in range(n_slots)])
    merged = (
        slot_buf.select(F.explode(offs).alias("o"), "slot", "hv")
        .select((F.col("slot") - F.col("o")).alias("window_start"), "hv")
        .filter(F.col("window_start") >= 0)
        .distinct()
    )
    win_rn = F.row_number().over(
        W.partitionBy("window_start").orderBy("hv")
    )
    wbuf = (
        merged.withColumn("rn", win_rn)
        .filter(F.col("rn") <= k)
        .groupBy("window_start")
        .agg(
            F.max("hv").cast("bigint").alias("kth_hash"),
            F.count("*").alias("n_buf"),
        )
    )
    est = F.when(F.col("n_buf") < k, F.col("n_buf")).otherwise(
        F.expr(f"({k - 1} * {m}L) div greatest(kth_hash, 1)")
    )
    return wbuf.select(
        "window_start",
        F.col("n_buf").cast("bigint").alias("n_buf"),
        "kth_hash",
        est.cast("bigint").alias("kmv_est"),
    )
