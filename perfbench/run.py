#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,query_mix}
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Inputs are generated from --seed into
.perfbench_work/ (inside the checkout); the last stdout line is one JSON
object {"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones (see perfbench/README.md).
Exits 1 on a wrong answer or a failed operation, 2 outside a checkout.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402
from perfbench.harness import CheckFailed, Ctx  # noqa: E402
from perfbench.trace import (  # noqa: E402
    Tracer,
    layer_table,
    parse_eventlog,
    window_stats,
)

WORKLOADS = ("ingest", "query_mix")
UNITS = {"setup_s": "s", "work_s": "s", "cold_s": "s", "items_per_s": "1/s"}
SPARK_KEYS = ("spark.n_jobs", "spark.n_stages", "spark.jobs_s",
              "spark.driver_gap_s", "spark.shuffle_bytes", "spark.spill_bytes")
LAYER_UNITS = {
    "session.start_s": "s", "session.catalog_load_s": "s",
    "session.warmup_s": "s", "session.driver_peak_rss_mb": "MB",
    "plans.build_s": "s", "spark.catalyst_ms": "ms", "spark.jobs_s": "s",
    "spark.driver_gap_s": "s", "spark.n_jobs": "count",
    "spark.n_stages": "count", "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes", "caching.released_per_op": "count",
    "trace.layer_sum_ratio": "ratio", "trace.overhead_s": "s",
}


def _workload(name: str):
    if name == "ingest":
        from perfbench import wl_ingest as m
    else:
        from perfbench import wl_query as m
    return m


def layer_metrics(ctx: Ctx, tracer: Tracer, out: dict, rss_mb: float) -> dict:
    """The traced run's per-layer metrics: session set-up components,
    span self-times and Spark's event-log accounting per operation
    (query, cycle or drain), reduced over each kind of operation the way
    the workload's work_s is (sum over queries, median over cycles and
    over drains) and added over kinds."""
    jobs, stages = parse_eventlog(ctx.eventlog_dir)
    layers = layer_table(tracer.spans)
    ops = out["ops"]
    for op in ops:
        op.update(window_stats(jobs, stages, op["t0"], op["t1"]))
        row = layers.get(op["run_id"], {})
        op["layers"] = {k: v for k, v in row.items() if k != "_wall"}
        op["layer_sum_s"] = sum(
            v for k, v in op["layers"].items() if k != op["root"]
        )
        op["layer_sum_ratio"] = op["layer_sum_s"] / op["untraced_wall"]

    def red(values):
        kinds: dict[str, list] = {}
        for op, v in zip(ops, values):
            kinds.setdefault(op["root"], []).append(v)
        return sum(out["reduce"](vs) for vs in kinds.values())

    m = {k: ctx.setup[k] for k in
         ("session.start_s", "session.catalog_load_s", "session.warmup_s")}
    m["session.driver_peak_rss_mb"] = rss_mb
    m["plans.build_s"] = red([op["build_s"] for op in ops])
    m["spark.catalyst_ms"] = red([op["catalyst_ms"] for op in ops])
    for k in SPARK_KEYS:
        m[k] = red([op[k] for op in ops])
    m["caching.released_per_op"] = out["released_per_op"]
    m["trace.layer_sum_ratio"] = (
        sum(op["layer_sum_s"] for op in ops)
        / sum(op["untraced_wall"] for op in ops)
    )
    m["trace.overhead_s"] = (
        red([op["wall"] for op in ops]) - red([op["untraced_wall"] for op in ops])
    )
    # self time of each layer span the workload records
    names = sorted({k for op in ops for k in op["layers"] if k != op["root"]})
    for k in names:
        m[f"{k}_s"] = red([op["layers"].get(k, 0.0) for op in ops])
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(harness.ROOT, "citydata_etl_spark")):
        print("perfbench: citydata_etl_spark/ not found next to perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2

    harness.adopt_descendants()
    # a termination request unwinds through the finally below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        return run(args)
    finally:
        harness.stop_processes()


def run(args) -> int:
    run_dir = harness.prepare_env(args.workload, args.seed)
    ctx = Ctx(args.workload, args.seed, args.seconds, bool(args.trace),
              run_dir)
    tracer = Tracer(ctx.trace)
    load_before = os.getloadavg()[0]
    out, correct, failed = None, False, 0
    try:
        out = _workload(args.workload).run(ctx, tracer)
        correct = True
    except CheckFailed as ex:
        print(f"perfbench: WRONG ANSWER in {args.workload}: {ex}",
              file=sys.stderr)
    except Exception:  # an operation raised: count it, report, exit 1
        traceback.print_exc()
        failed = 1
        if ctx.spark is None:
            raise
    detail = {"stamps": harness.stamps(ctx), "setup": ctx.setup}
    rss_mb = harness.driver_peak_rss_mb(ctx.spark)
    harness.stop_processes()  # also flushes the event log
    detail["stamps"]["load_1m_before"] = load_before
    detail["stamps"]["load_1m_after"] = os.getloadavg()[0]
    attempted = max(ctx.attempted, 1)
    report = {"failed_ratio": failed / attempted,
              "setup_s [s]": round(ctx.setup["setup_s"], 4)}

    if not correct:
        metrics = {}
    elif ctx.trace:
        lm = layer_metrics(ctx, tracer, out, rss_mb)
        metrics = {k: {"value": lm[k], "unit": u}
                   for k, u in LAYER_UNITS.items()}
        lm.update(out["extra_layers"])
        report["per_layer"] = {k: round(v, 4) for k, v in sorted(lm.items())}
        report["per_op_self_s"] = {
            op["run_id"]: {k: round(v, 4) for k, v in op["layers"].items()}
            for op in out["ops"]
        }
        report["per_op_layer_sum_ratio"] = {
            op["run_id"]: round(op["layer_sum_ratio"], 3) for op in out["ops"]
        }
        detail["ops"] = out["ops"]
    else:
        e2e = dict(out["end_to_end"], setup_s=ctx.setup["setup_s"])
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in UNITS.items()}
    if out:
        report.update(out["report"])
    report["stamps"] = detail["stamps"]
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    harness.emit(ctx, result, {**detail, "report": report})
    if ctx.trace:
        tracer.write_jsonl(os.path.join(
            harness.WORK, "results",
            f"{ctx.workload}-seed{ctx.seed}-spans.jsonl"))
    shutil.rmtree(run_dir, ignore_errors=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
