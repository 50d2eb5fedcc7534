"""ingest: every write path of the engine in one process.

Two phases share one set-up: the etl_cycle phase (control-table
collection cycles, the reference's own job; ``wl_etl``) and then the
stream_sessions phase (the event feed drained through three stateful
streaming operators; ``wl_stream``). Each phase gets half of the run's
seconds and starts with its own cold operation.

The phases share a process because a fresh JVM costs ~15 s, and the
benchmark's whole set of runs has a fixed time budget.

End to end, one warm round is one cycle plus one drain: ``work_s`` is the
median warm cycle plus the median warm drain, ``cold_s`` the first cycle
plus the first drain, and ``items_per_s`` counts control rows
transitioned and feed events drained per second of both loops.
"""

from __future__ import annotations

from perfbench import wl_etl, wl_stream
from perfbench.harness import Ctx, median, setup, warmup_jobs


def run(ctx: Ctx, tracer) -> dict:
    etl_inputs = wl_etl.prepare(ctx)
    feed = wl_stream.prepare(ctx)
    setup(ctx, lambda s: warmup_jobs(s, f"{feed.path}/part-000.parquet"))
    phases = (wl_etl.measure(ctx, tracer, etl_inputs, ctx.seconds / 2),
              wl_stream.measure(ctx, tracer, feed, ctx.seconds / 2))
    released = [n for p in phases for n in p["released"]]
    return {
        "end_to_end": {
            "work_s": sum(p["work_s"] for p in phases),
            "cold_s": sum(p["cold_s"] for p in phases),
            "items_per_s": (sum(p["items"] for p in phases)
                            / sum(p["measured_s"] for p in phases)),
        },
        "ops": [op for p in phases for op in p["ops"]],
        "reduce": median,
        "released_per_op": sum(released) / len(released),
        "extra_layers": {k: v for p in phases for k, v in p["layers"].items()},
        "report": {k: v for p in phases for k, v in p["report"].items()},
    }
