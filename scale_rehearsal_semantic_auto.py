"""r15 VERDICT task 5 re-measurement: with semantic_dedup's default
quantizer now 'auto' (literal below SEMANTIC_DEDUP_BROADCAST_K=64
clusters, broadcast at or above), re-run the r14 rehearsal's 10x row —
the point where k~sqrt(n)=141 made the literal-seed plan constant
dominate (14.98 s vs broadcast 1.38 s, SCALE_REHEARSAL_r14.json) — and
show the crossover is gone: the DEFAULT call now tracks the broadcast
time, while quantizer='literal' still shows the old cost.

Appends a `semantic_auto_10x` section to SCALE_REHEARSAL_r15.json.
Solo-host measured job.
"""
from __future__ import annotations

import json
import math
import os
import sys
import time


def _replicated_emb(spark, sf_dir: str, mult: int):
    """The embeddings corpus replicated mult times under fresh ids; each
    copy after the first flips signs per (copy, dim) by an LCG — an
    isometry per copy, with ~0 cosine across copies for dense vectors."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet(
        os.path.join(sf_dir, "embeddings.parquet")
    ).select("vec_id", "embedding")
    off = 10_000_000
    parts = []
    for k in range(mult):
        if k == 0:
            flipped = F.col("embedding")
        else:
            flipped = F.transform(
                "embedding",
                lambda v, i: v * (
                    1 - 2 * ((i * 2654435761 + F.lit(k) * 40503 + 11)
                             % 2147483647 % 2)
                ).cast("float"),
            )
        parts.append(
            emb.select(
                (F.col("vec_id") + F.lit(k * off)).alias("vec_id"),
                flipped.alias("embedding"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from citydata_etl_spark.operators import similarity as S

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("scale-rehearsal-semantic-auto")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    emb = _replicated_emb(spark, sf_dir, 10).persist()
    n = emb.count()
    k = max(8, round(math.sqrt(n)))
    out = {"n_vectors": n, "k_sqrt": k,
           "broadcast_threshold": S.SEMANTIC_DEDUP_BROADCAST_K,
           "load_1min": round(os.getloadavg()[0], 2)}
    # warmup (worker pool + codegen) on a small k through BOTH
    # assignment paths, so no timed run pays session startup or the
    # first-mapInPandas numpy import (the first probe run measured
    # 5.04 s for auto vs 1.5 s for the same broadcast plan timed
    # third — pure warmup order, fixed here)
    for q in ("literal", "broadcast"):
        S.semantic_dedup(emb, n_clusters=8, epsilon=0.3, quantizer=q) \
            .agg(F.count("*")).collect()
    for label, kwargs in (
        ("default_auto_sec", {}),
        ("literal_sec", {"quantizer": "literal"}),
        ("broadcast_sec", {"quantizer": "broadcast"}),
    ):
        t0 = time.time()
        S.semantic_dedup(emb, n_clusters=k, epsilon=0.3, **kwargs).agg(
            F.count("*")).collect()
        out[label] = round(time.time() - t0, 2)
    emb.unpersist()
    print(json.dumps(out))
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "SCALE_REHEARSAL_r15.json",
    )
    data = json.load(open(path)) if os.path.exists(path) else {}
    data["semantic_auto_10x"] = out
    with open(path, "w") as f:
        json.dump(data, f, indent=1)


if __name__ == "__main__":
    main()
