"""query_mix: read-only analytics over eight catalog entries, one per
``operators`` module.

The relational half (q18, j6, a1) is bound by planning and driver gap; the
corpus half (d4/d6) by Python, text, ANN and decode work. Each query gets
one cold execution through the catalog wrapper and warm executions through
``__wrapped__``, each forced by a count; every cache is released between
queries, so no query inherits another's persisted relations.

One query per module, the cheapest of the module's candidates, keeps a run
(set-up, one pass, oracle check) within the benchmark's per-run budget;
README.md lists the entries left out.
"""

from __future__ import annotations

import hashlib
import random
import time

from perfbench import gen
from perfbench.harness import Ctx, check, cpus, median, setup, warmup_jobs
from perfbench.trace import catalyst_ms

#: catalog scale of the generated tables (lineitem 60,000 rows)
SF = 0.01
#: warm executions per query and pass; warm_s takes their median
N_WARM = 2

#: query -> the operators module that does its work
QUERIES = {
    "q18_large_orders": "relational",
    "j6_asof_join": "joins",
    "a1_pricing_summary": "aggregates",
    "d4_minhash_lsh": "dedup",
    "d4_ann_ivf_rank": "similarity",
    "d4_tfidf_topk": "text",
    # decodes its media block with operators.multimodal.bmp_pixel_stats
    "d6_dataset_card": "multimodal",
    "d6_shard_stats": "pipeline",
}
OPERATOR_MODULES = tuple(QUERIES.values())


def force(df):
    """The count that forces a query, built so the executed
    QueryExecution stays readable afterwards."""
    c = df.groupBy().count()
    return c.collect()[0][0], c


def table_digest(tbl) -> tuple[int, int]:
    """(rows, order-insensitive hash) of an Arrow result: columns sorted
    by name, tz-aware timestamps as UTC-naive, each row hashed by the
    repr of its values, hashes summed mod 2**64."""
    df = tbl.to_pandas()
    for col in df.columns:
        if getattr(df[col].dtype, "tz", None) is not None:
            df[col] = df[col].dt.tz_convert("UTC").dt.tz_localize(None)
    df = df[sorted(df.columns)]
    total = 0
    for row in df.itertuples(index=False, name=None):
        vals = tuple(
            tuple(v.tolist()) if hasattr(v, "tolist") and not
            isinstance(v, (int, float)) else v
            for v in row
        )
        h = hashlib.blake2b(repr(vals).encode(), digest_size=8).digest()
        total = (total + int.from_bytes(h, "big")) % (1 << 64)
    return len(df), total


def oracle_digests(ctx: Ctx, data_dir: str, names) -> dict[str, tuple]:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {cpus()}")
        for t in gen._TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'"
            )
        return {
            q: table_digest(con.execute(ctx.catalog[q].oracle)
                            .fetch_arrow_table())
            for q in names
        }
    finally:
        con.close()


def run(ctx: Ctx, tracer) -> dict:
    from citydata_etl_spark.caching import release_caches

    data = ctx.dir("data")
    gen.write_tables(data, ctx.seed, SF)
    setup(ctx, lambda s: warmup_jobs(s, f"{data}/region.parquet"))
    spark = ctx.spark
    order = list(QUERIES)
    random.Random(ctx.seed).shuffle(order)
    release_caches()

    passes, ops, digests, untimed = [], [], {}, 0.0
    t_start = time.perf_counter()
    while True:
        rec = {}
        for i, q in enumerate(order):
            fn = ctx.catalog[q].spark_fn
            ctx.attempted += 1
            t0 = time.perf_counter()
            n_cold, _ = force(fn(spark, data))
            cold = time.perf_counter() - t0
            warm, counts = [], [n_cold]
            run_id = f"{q}/warm"
            # warm: N_WARM untraced executions (a single one is often 2x
            # off), and in the first pass of a traced run one more traced
            # through the same code, first or last by turns, since later
            # executions tend to run faster
            trace_now = ctx.trace and not passes
            modes = [False] * N_WARM
            if trace_now:
                modes.insert(0 if i % 2 else N_WARM, True)
            for traced in modes:
                ctx.attempted += 1
                e0, t0 = time.time(), time.perf_counter()
                with tracer.span("query", run_id=run_id, record=traced):
                    with tracer.span("plans.build"):
                        df = fn.__wrapped__(spark, data)
                    b = time.perf_counter() - t0
                    with tracer.span("spark.execute"):
                        n, c = force(df)
                dt = time.perf_counter() - t0
                counts.append(n)
                if not traced:
                    warm.append(dt)
                    continue
                ops.append({
                    "name": q, "run_id": run_id, "root": "query",
                    "t0": e0, "t1": time.time(), "wall": dt,
                    "build_s": b, "catalyst_ms": catalyst_ms(c),
                })
            if trace_now:
                ops[-1]["untraced_wall"] = median(warm)
            if q not in digests:  # untimed: the result digest, once a run
                t0 = time.perf_counter()
                digests[q] = table_digest(df.toArrow())
                untimed += time.perf_counter() - t0
            released = release_caches()
            rec[q] = {"cold_s": cold, "warm_s": warm, "counts": counts,
                      "released": released}
        passes.append(rec)
        elapsed = time.perf_counter() - t_start
        if elapsed + elapsed / len(passes) > ctx.seconds:
            break
    measured_s = time.perf_counter() - t_start - untimed

    # correctness: every execution's count and the collected result's
    # digest against the DuckDB oracle on the same generated tables
    oracle = oracle_digests(ctx, data, order)
    for q in order:
        check(digests[q] == oracle[q],
              f"{q}: result (rows, hash) {digests[q]} != oracle {oracle[q]}")
        for rec in passes:
            check(all(n == oracle[q][0] for n in rec[q]["counts"]),
                  f"{q}: counts {rec[q]['counts']} != oracle rows "
                  f"{oracle[q][0]}")

    per_q_warm = {q: median([w for r in passes for w in r[q]["warm_s"]])
                  for q in order}
    per_q_cold = {q: median([r[q]["cold_s"] for r in passes]) for q in order}
    warm_s = sum(per_q_warm.values())
    cold_s = sum(per_q_cold.values())
    by_module = {}
    for m in OPERATOR_MODULES:
        qs = [q for q in order if QUERIES[q] == m]
        by_module[f"operators.{m}.warm_s"] = sum(per_q_warm[q] for q in qs)
        by_module[f"operators.{m}.cold_s"] = sum(per_q_cold[q] for q in qs)
    released = [r[q]["released"] for r in passes for q in order]
    return {
        "end_to_end": {
            "work_s": warm_s,
            "cold_s": cold_s,
            "items_per_s": ctx.attempted / measured_s,
        },
        "ops": ops,
        "reduce": sum,
        "released_per_op": sum(released) / len(released),
        "extra_layers": by_module,
        "report": {
            "warm_s [s]": round(warm_s, 4),
            "cold_s [s]": round(cold_s, 4),
            "passes": len(passes),
            "per_query_warm_s": {q: round(v, 4) for q, v in per_q_warm.items()},
            "per_query_cold_s": {q: round(v, 4) for q, v in per_q_cold.items()},
            "caching.released_per_query": {
                q: [r[q]["released"] for r in passes] for q in order
            },
        },
    }
