"""The etl_cycle phase of the ingest workload: the reference's own job.

Each cycle takes the next batch of pending rows of one id-keyed control
table (city-data or usa, picked by the seed) and runs, in order: read the
control
table; collect (fetch through the seeded transport) and write the raw
payloads; MERGE the statuses into the bucketed control table; apply a few
point events (including the greatschools no-id path); promote the
cycle's staging objects; score the collected cities.
"""

from __future__ import annotations

import os
import time

import numpy as np

from perfbench import gen
from perfbench.harness import Ctx, check, median, tail
from perfbench.trace import catalyst_ms

#: pending rows collected per cycle
BATCH = 256
#: point events per cycle on the id-keyed table (plus one greatschools)
N_EVENTS = 2
#: buckets of the MERGE-target control tables (~7k rows each)
N_BUCKETS = 4
PROMOTE_AT = "2024-05-01 10:00:00"


def transport_factory(seed: int, fetches):
    """One transport per partition; counts every fetch in a Spark
    accumulator so a recompute that re-hits URLs shows."""

    def factory():
        def fetch(url: str):
            fetches.add(1)
            return gen.page_for(seed, url)

        return fetch

    return factory


def _pending(status) -> bool:
    return status is None or status == ""


class Plan:
    """The generator's expectation, replayed cycle by cycle in pandas."""

    def __init__(self, seed: int):
        self.seed = seed
        self.frames = gen.control_frames(seed)
        self.status = {
            s: dict(zip(df["id"], df["status"])) for s, df in
            self.frames.items() if s != "greatschools"
        }
        self.gs_status = list(self.frames["greatschools"]["status"])
        rng = np.random.default_rng([seed, 99])
        self.targets = {}
        for s in gen.SITES:
            df = self.frames[s]
            done = df[~df["status"].map(_pending)]
            order = rng.permutation(len(done))
            self.targets[s] = done.iloc[order][["state", "city"]].values.tolist()
        gs = self.frames["greatschools"]
        pairs = gs[["state_id", "city"]].drop_duplicates().values.tolist()
        self.gs_targets = [pairs[i] for i in rng.permutation(len(pairs))]
        self.n_fetch = self.n_raw = self.n_curated = 0
        self.scores: dict[tuple, float] = {}
        # the id-keyed table this run cycles over: the seed picks it, so
        # across seeds both schemas run, and within a run every warm cycle
        # repeats the same plans (a site's first cycle is ~2x a later one)
        self.site = gen.SITES[seed % 2]

    def events(self, c: int) -> tuple[list[dict], dict]:
        site = self.site
        t = self.targets[site]
        date = f"2024-02-{c % 28 + 1:02d}T12-00-00"
        evs = []
        for i in range(N_EVENTS):
            state, city = t[(N_EVENTS * c + i) % len(t)]
            evs.append({"site": site, "state": state, "city": city,
                        "status": "completed", "date_completed": date})
        sid, city = self.gs_targets[c % len(self.gs_targets)]
        gs = {"site": "greatschools", "state_id": sid, "city": city,
              "status": "completed", "date_completed": date}
        return evs, gs

    def apply(self, c: int) -> int:
        """Replay cycle c; returns the control rows it transitions."""
        site = self.site
        st = self.status[site]
        batch = sorted(i for i, s in st.items() if _pending(s))[:BATCH]
        df = self.frames[site].set_index("id")
        ok = []
        for i in batch:
            m = gen.page_metrics(self.seed, df.at[i, "url"])
            st[i] = "error" if m is None else "completed"
            if m is not None:
                ok.append((df.at[i, "state"], df.at[i, "city"], m))
        self.n_fetch += len(batch)
        self.last_batch = len(batch)
        self.n_raw += len(ok)
        self.n_curated += len(ok) + 1
        x = np.array([m for _, _, m in ok], dtype=np.float64)
        lo, hi = x.min(axis=0), x.max(axis=0)
        span = np.where(hi > lo, hi - lo, 1.0)
        norm = np.where(hi > lo, (x - lo) / span, 0.0)
        for (state, city, _), row in zip(ok, norm):
            s = 0.0
            for w, v in zip(gen.WEIGHTS, row):
                s = s + w * v
            self.scores[(c, state, city)] = s
        evs, gs = self.events(c)
        by_pair = dict(zip(zip(df["state"], df["city"]), df.index))
        for e in evs:
            st[by_pair[(e["state"], e["city"])]] = e["status"]
        g = self.frames["greatschools"]
        hit = ((g["state_id"] == gs["state_id"]) & (g["city"] == gs["city"]))
        for i in np.nonzero(hit.values)[0]:
            self.gs_status[i] = gs["status"]
        return len(batch) + len(evs) + int(hit.sum())


def _files(path: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(d, n)
                out[p] = os.path.getsize(p)
    return out


def _rewritten(before: dict[str, int], path: str) -> tuple[int, int]:
    """(bucket directories holding new files, bytes of new files) after
    a MERGE: its write amplification."""
    new = {p: n for p, n in _files(path).items() if p not in before}
    return len({os.path.dirname(p) for p in new}), sum(new.values())


def score_frame(raw):
    """Per collected city: the five metrics parsed from the page's
    <div id="content">, min-max normalized over the batch and weighted
    (the a8_city_score shape)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from citydata_etl_spark.functions.html import extract_text_by_id

    m = raw.select("state", "city",
                   extract_text_by_id("payload", "content").alias("t"))
    for name in gen.METRICS:
        m = m.withColumn(
            name, F.regexp_extract("t", rf"{name}=(\d+)", 1).cast("double")
        )
    w = Window.partitionBy()
    score = F.lit(0.0)
    for wt, name in zip(gen.WEIGHTS, gen.METRICS):
        lo, hi = F.min(name).over(w), F.max(name).over(w)
        norm = F.when(hi > lo, (F.col(name) - lo) / (hi - lo)).otherwise(0.0)
        score = score + F.lit(wt) * norm
    return m.select("state", "city", score.alias("score"))


def prepare(ctx: Ctx) -> dict:
    """Before set-up: the generated control inputs and their replay."""
    data = ctx.dir("etl")
    return {"data": data, "plan": Plan(ctx.seed),
            "csvs": gen.write_control_inputs(f"{data}/csv", ctx.seed)}


def measure(ctx: Ctx, tracer, inputs: dict, seconds: float) -> dict:
    """The cycle loop (at least two cycles, four when traced, and at
    least `seconds`), then the untimed check."""
    from pyspark.sql import functions as F

    from citydata_etl_spark import schemas
    from citydata_etl_spark.caching import release_caches
    from citydata_etl_spark.etl.collect import collect_run
    from citydata_etl_spark.etl.control import apply_control_update
    from citydata_etl_spark.etl.staging import promote
    from citydata_etl_spark.operators.relational import pending_work
    from citydata_etl_spark.sources.merge import (
        merge_upsert,
        write_bucketed_control,
    )
    from citydata_etl_spark.sources.readers import (
        read_control_csv,
        read_parquet_table,
    )
    from citydata_etl_spark.sources.sinks import (
        write_control_csv,
        write_raw_partitioned,
    )

    data, csvs, plan = inputs["data"], inputs["csvs"], inputs["plan"]
    spark = ctx.spark

    # untimed preparation: the bucketed system-of-record control table
    site = plan.site
    ctl = f"{data}/control/{site}"
    write_bucketed_control(
        read_control_csv(spark, csvs[site], schemas.CONTROL_TABLES[site]),
        ctl, "id", N_BUCKETS)
    # greatschools stays a CSV table rewritten whole, as in the reference;
    # cycle c reads gs_paths[0] (c == 0) or the one cycle c-1 wrote
    gs_paths = [csvs["greatschools"], f"{data}/gs/0", f"{data}/gs/1"]
    raw_path, curated = f"{data}/raw", f"{data}/curated"
    fetches = spark.sparkContext.accumulator(0)
    factory = transport_factory(ctx.seed, fetches)
    now = F.to_timestamp(F.lit(PROMOTE_AT))

    def config(site):
        if site == "greatschools":
            return (read_control_csv(spark, csvs["api_config"],
                                     schemas.API_CONFIG)
                    .withColumnRenamed("api", "site"))
        return read_control_csv(spark, csvs["scraper_config"],
                                schemas.SCRAPER_CONFIG)

    cycles, ops, scores, released, rows = [], [], [], [], 0
    # traced run: cycle 0 is cold and untraced; after it cycles go
    # untraced, traced, untraced, ... ending untraced. The JVM keeps
    # warming for several cycles, so a traced cycle is compared with the
    # mean of the untraced cycles just before and after it
    min_ops = 4 if ctx.trace else 2
    sp = tracer.span
    t_start = time.perf_counter()
    c = 0
    while True:
        evs, gs_ev = plan.events(c)
        traced = ctx.trace and c > 0 and c % 2 == 0
        gs_in = gs_paths[0] if c == 0 else gs_paths[1 + (c - 1) % 2]
        ctx.attempted += 1
        e0, t0 = time.time(), time.perf_counter()
        with sp("cycle", run_id=f"cycle{c}", record=traced):
            with sp("sources.readers.read"):
                control = read_parquet_table(spark, ctl).drop("bucket")
                cfg = config(site)
            with sp("operators.relational.pending_work"):
                batch = pending_work(control).orderBy("id").limit(BATCH)
            with sp("etl.collect.run"):
                raw, updated = collect_run(batch, factory, gen.DATA_SOURCE,
                                           site)
            build_s = time.perf_counter() - t0
            with sp("sources.sinks.write_raw"):
                # one run prefix per cycle: steps 5 and 6 read the cycle's
                # objects back from the sink (the MERGE below overwrites
                # the control table, which invalidates every cached plan
                # over it, so reusing `raw` would re-fetch)
                write_raw_partitioned(raw, f"{raw_path}/cycle={c}")
            if traced:
                with sp("perfbench.bookkeeping"):
                    files0 = _files(ctl)
            with sp("sources.merge.upsert"):
                merge_upsert(spark, ctl,
                             updated.select("id", "status", "date_completed"),
                             "id", N_BUCKETS)
            if traced:
                with sp("perfbench.bookkeeping"):
                    rewritten = _rewritten(files0, ctl)
            with sp("etl.control.update"):
                after = read_parquet_table(spark, ctl).drop("bucket")
                for e in evs:
                    after = apply_control_update(after, cfg, e)
                # the rows this cycle's events set (no other row carries
                # their date), so the MERGE below needs no table diff
                changed = after.filter(
                    F.col("date_completed") == evs[0]["date_completed"]
                ).select("id", "status", "date_completed")
                gs_out = apply_control_update(
                    read_control_csv(spark, gs_in,
                                     schemas.GREATSCHOOLS_CONTROL),
                    config("greatschools"), gs_ev)
            with sp("sources.merge.upsert"):
                merge_upsert(spark, ctl, changed, "id", N_BUCKETS)
            with sp("sources.sinks.write_control_csv"):
                write_control_csv(gs_out, gs_paths[1 + c % 2])
            with sp("sources.readers.read"):
                objs = read_parquet_table(spark, f"{raw_path}/cycle={c}")
            with sp("etl.staging.promote"):
                keys = objs.select(F.concat_ws(
                    "/", F.lit(site), F.lit("public"), F.lit("city_profile"),
                    F.lit("cdc"),
                    F.concat("state", F.lit("_"), "city", F.lit(".html")),
                ).alias("key")).union(
                    spark.createDataFrame([(f"manual/cycle{c}.csv",)],
                                          "key STRING"))
                promote(keys, curated, now=now)
            with sp("functions.html.score"):
                sdf = score_frame(objs)
                got = sdf.collect()
            with sp("caching.release"):
                released.append(release_caches())
        dt = time.perf_counter() - t0
        n_rows = plan.apply(c)
        rows += n_rows
        scores.extend((c, r["state"], r["city"], r["score"]) for r in got)
        cycles.append({"wall": dt, "traced": traced})
        if traced:
            ops.append({"run_id": f"cycle{c}", "root": "cycle", "c": c,
                        "t0": e0, "t1": time.time(), "wall": dt,
                        "build_s": build_s, "catalyst_ms": catalyst_ms(sdf),
                        "released": released[-1],
                        "sources.merge.buckets_rewritten": rewritten[0],
                        "sources.merge.bytes_rewritten_per_row_updated":
                            rewritten[1] / plan.last_batch})
        c += 1
        if (time.perf_counter() - t_start >= seconds and c >= min_ops
                and not cycles[-1]["traced"]):
            break
    measured_s = time.perf_counter() - t_start

    _check(ctx, plan, ctl, gs_paths[1 + (c - 1) % 2], raw_path, curated,
           fetches.value, scores)
    walls = [x["wall"] for x in cycles]
    for op in ops:
        op["untraced_wall"] = (walls[op["c"] - 1] + walls[op["c"] + 1]) / 2
    warm = [x["wall"] for x in cycles[1:] if not x["traced"]]
    per_row = fetches.value / plan.n_fetch
    return {
        "work_s": median(warm),
        "cold_s": walls[0],
        "items": rows,
        "measured_s": measured_s,
        "ops": ops,
        "released": released,
        "layers": {
            "etl.collect.fetches_per_pending_row": per_row,
            **{k: median([op[k] for op in ops]) for k in (
                "sources.merge.buckets_rewritten",
                "sources.merge.bytes_rewritten_per_row_updated") if ops},
        },
        "report": {
            "cycle_s_p50 [s]": round(median(warm), 4),
            "cycle_s_tail [s]": tail(warm),
            "cycles": len(cycles),
            "cycle_s_all [s]": [round(w, 4) for w in walls],
            "rows_per_s [1/s]": round(rows / measured_s, 2),
            "rows_transitioned": rows,
            "etl.collect.fetches_per_pending_row": per_row,
        },
    }


def _check(ctx, plan: Plan, ctl, gs_path, raw_path, curated, n_fetch,
           scores) -> None:
    """Untimed: final statuses, raw/curated row counts, fetch count and
    scores against the replayed expectation."""
    from citydata_etl_spark import schemas
    from citydata_etl_spark.sources.readers import (
        read_control_csv,
        read_parquet_table,
    )

    spark = ctx.spark
    site = plan.site
    got = dict(read_parquet_table(spark, ctl).select("id", "status").collect())
    want = plan.status[site]
    check(len(got) == len(want),
          f"{site}: {len(got)} control rows, want {len(want)}")
    bad = [i for i in want if (got[i] or "") != (want[i] or "")]
    check(not bad, f"{site}: {len(bad)} wrong statuses, e.g. ids {bad[:3]}")
    gs = read_control_csv(spark, gs_path, schemas.GREATSCHOOLS_CONTROL)
    got = sorted(r[0] or "" for r in gs.select("status").collect())
    want = sorted(s or "" for s in plan.gs_status)
    check(got == want, "greatschools: final status counts differ")
    n_raw = read_parquet_table(spark, raw_path).count()
    check(n_raw == plan.n_raw, f"raw rows {n_raw} != {plan.n_raw}")
    n_cur = read_parquet_table(spark, curated).count()
    check(n_cur == plan.n_curated,
          f"curated rows {n_cur} != {plan.n_curated}")
    check(n_fetch == plan.n_fetch,
          f"fetches {n_fetch} != pending rows collected {plan.n_fetch}")
    got = {(c, s, ct): v for c, s, ct, v in scores}
    check(got.keys() == plan.scores.keys(), "scored city set differs")
    worst = max(abs(got[k] - plan.scores[k]) for k in got)
    check(worst <= 1e-12, f"scores differ from pandas by up to {worst}")
