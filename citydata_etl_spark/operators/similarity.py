"""Similarity search over embedding columns (SURVEY.md §2.8 D4 [north-star]).

brute_force_topk is the exact cosine top-k (blocked distributed matmul),
the baseline every ANN path's recall is measured against. The ANN top-k
family runs one train -> assign -> probe -> rerank pipeline, each stage
written once:

  - train: integer-LCG hyperplanes (_int_hyperplanes), LCG seed
    centroids with optional integer Lloyd rounds (_distexact_centroids),
    or float k-means (_coarse_centroids);
  - assign/probe: the integer argmax probe (_int_probe), or the float
    mapInPandas tag for the Lloyd-trained quantizers; inverted lists
    optionally capped (_cap_lists);
  - rerank: exact cosine over candidate pairs (_rerank_pairs), then the
    (score DESC, neighbor_id) rank window (_top_k).

Five public top-k functions compose those stages: lsh_bucket_topk
(hyperplane LSH, tables and multi-probe), ivf_topk (float IVF),
ivf_topk_exact (integer IVF, 0 or more Lloyd rounds, optional list cap),
pq_topk (float IVF-PQ with ADC arrays) and pq_topk_exactseed (integer
relational IVF-PQ). Like brute_force_topk, the family assumes unique
ids: a vector has one row, so one home list, and a query's probes are
distinct lists, which makes every (query_id, neighbor_id) pair unique
without a dedup stage (only multi-table LSH, where one pair can share
a bucket in several tables, deduplicates).

Arithmetic notes: embeddings are float32; products of float32 values are
EXACT in double (24-bit mantissas), so the dot product differs from any
other engine only by addition-order rounding (~1e-15) — rounded to 4
decimals for oracle comparison. Hyperplane components are integer-LCG
derived (exact in any engine).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from citydata_etl_spark.caching import scoped_persist

# semantic_dedup(quantizer='auto') switches from plan-literal seed folding
# to the broadcast mapInPandas assignment at this cluster count: the r14
# scale rehearsal (SCALE_REHEARSAL_r14.json) measured the literal path's
# per-k constant (k-row collect + k*dim literal codegen) dominating the
# whole job by k=141, so the switch sits safely below that knee while
# keeping oracle-scale runs (k<=8 in the catalog) on the exact-literal path.
SEMANTIC_DEDUP_BROADCAST_K = 64


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def with_norm2(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Attach the squared L2 norm (exact double arithmetic)."""
    v = _as_double(F.col(vec_col))
    return df.withColumn("norm2", _dot(v, v))


def _blocked_grid(
    emb: DataFrame, id_col: str, vec_col: str,
    q_blocks: int, c_blocks: int,
) -> tuple[DataFrame, DataFrame]:
    """2D block decomposition for distributed all-pairs matmuls: the query
    side is hash-assigned to one of q_blocks row-blocks and replicated to
    every candidate block; the candidate side symmetric. Cogrouping on
    (qb, cb) hands each task one bounded (Q-block x C-block) tile — the
    standard blocked matmul, fully distributed, NO driver participation.

    Replication factor is c_blocks for queries / q_blocks for candidates
    (the classic sqrt-replication tradeoff); block counts size each tile to
    executor memory — n_rows/blocks * dim * 8 bytes per side.
    """
    q = (
        emb.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
        .withColumn(
            "qb", F.pmod(F.xxhash64("qid"), F.lit(q_blocks)).cast("int")
        )
        .withColumn(
            "cb",
            F.explode(
                F.sequence(F.lit(0), F.lit(c_blocks - 1)).cast("array<int>")
            ),
        )
    )
    c = (
        emb.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
        .withColumn(
            "cb", F.pmod(F.xxhash64("cid"), F.lit(c_blocks)).cast("int")
        )
        .withColumn(
            "qb",
            F.explode(
                F.sequence(F.lit(0), F.lit(q_blocks - 1)).cast("array<int>")
            ),
        )
    )
    return q, c


def _tile_sims(left, right, scale):
    """Shared tile kernel: (rounded cosine matrix, qids, cids) for one
    (Q-block x C-block) cogroup tile — one BLAS matmul in float64."""
    import numpy as np

    Q = np.stack([np.asarray(v, dtype=np.float64) for v in left["qv"]])
    C = np.stack([np.asarray(v, dtype=np.float64) for v in right["cv"]])
    qn = np.sqrt((Q * Q).sum(axis=1))
    cn = np.sqrt((C * C).sum(axis=1))
    sims = (Q @ C.T) / (qn[:, None] * cn[None, :])
    sims = np.floor(sims * scale + 0.5) / scale
    return (
        sims,
        left["qid"].to_numpy(dtype=np.int64),
        right["cid"].to_numpy(dtype=np.int64),
    )


def brute_force_topk(
    emb: DataFrame, k: int = 5, id_col: str = "vec_id",
    vec_col: str = "embedding", round_digits: int = 4,
    q_blocks: int = 4, c_blocks: int = 4,
) -> DataFrame:
    """Exact cosine top-k neighbors for every vector (self-excluded).

    Physical strategy: 2D-blocked distributed matmul (_blocked_grid) — a
    cogroup on (query-block, candidate-block) hands each task one bounded
    tile, scored with one float64 BLAS matmul; each tile emits its local
    top-k per query and a final window merges the per-tile partials into
    the global top-k. Nothing is ever collected to the driver and no tile
    exceeds (n/q_blocks + n/c_blocks) rows — at 100 TB you raise the block
    counts and the same plan holds. (The old shape — collect + broadcast
    the full candidate matrix — OOMs the driver past bounded inputs.)

    Output: (query_id, neighbor_id, cos_sim, rnk) — ranked by
    (rounded cos desc, neighbor_id), a total order.

    Numeric contract: float32 inputs promoted to float64; products are
    exact, sums differ from sequential evaluation only by addition order
    (~1e-15) — invisible at round_digits=4. Rounding is floor(x*1e4+0.5)
    (half-up), matching the SQL oracle's convention. Block assignment
    cannot affect values: every (q, c) dot product spans the full
    dimension regardless of which tile computes it.
    """
    import numpy as np
    import pandas as pd

    scale = 10.0 ** round_digits
    empty = pd.DataFrame(
        {
            "query_id": np.array([], dtype=np.int64),
            "neighbor_id": np.array([], dtype=np.int64),
            "cos_sim": np.array([], dtype=np.float64),
        }
    )

    def tile_topk(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0 or len(right) == 0:
            return empty
        sims, qids, cids = _tile_sims(left, right, scale)
        out_q, out_n, out_s = [], [], []
        for row in range(len(qids)):
            mask = cids != qids[row]
            s, n = sims[row][mask], cids[mask]
            order = np.lexsort((n, -s))[:k]
            out_q.extend([qids[row]] * len(order))
            out_n.extend(n[order])
            out_s.extend(s[order])
        return pd.DataFrame(
            {
                "query_id": np.array(out_q, dtype=np.int64),
                "neighbor_id": np.array(out_n, dtype=np.int64),
                "cos_sim": np.array(out_s, dtype=np.float64),
            }
        )

    q, c = _blocked_grid(emb, id_col, vec_col, q_blocks, c_blocks)
    partials = q.groupBy("qb", "cb").cogroup(c.groupBy("qb", "cb")).applyInPandas(
        tile_topk,
        schema="query_id BIGINT, neighbor_id BIGINT, cos_sim DOUBLE",
    )
    return _top_k(partials, k)


def cosine_neardup_pairs(
    emb: DataFrame, threshold: float = 0.35, id_col: str = "vec_id",
    vec_col: str = "embedding", round_digits: int = 4,
    q_blocks: int = 4, c_blocks: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a < id_b) with rounded
    cosine >= threshold — the dedup-by-embedding primitive (pair list feeds
    a connected-components / min-id canonicalization downstream).

    Physical strategy mirrors brute_force_topk: the same 2D-blocked
    cogroup matmul (no driver collect, no broadcast of a corpus-sized
    matrix); the threshold filter runs inside each tile so only qualifying
    pairs are ever materialized, and no merge window is needed (the tiles
    partition the pair space). Scale path: this exact kernel is also the
    VERIFY stage behind an LSH/IVF candidate generator (lsh_bucket_topk /
    ivf_topk) — candidates shrink from O(n^2) to near-linear, the verify
    matmul is unchanged.

    Emits each pair once (id_a < id_b). The threshold compares the ROUNDED
    similarity (floor(x*1e4+0.5) half-up, same as the SQL oracle), so the
    boundary is engine-independent.
    """
    import numpy as np
    import pandas as pd

    scale = 10.0 ** round_digits
    empty = pd.DataFrame(
        {
            "id_a": np.array([], dtype=np.int64),
            "id_b": np.array([], dtype=np.int64),
            "cos_sim": np.array([], dtype=np.float64),
        }
    )

    def tile_pairs(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0 or len(right) == 0:
            return empty
        sims, qids, cids = _tile_sims(left, right, scale)
        keep = (sims >= threshold) & (qids[:, None] < cids[None, :])
        qi, ci = np.nonzero(keep)
        return pd.DataFrame(
            {
                "id_a": qids[qi],
                "id_b": cids[ci],
                "cos_sim": sims[qi, ci],
            }
        )

    q, c = _blocked_grid(emb, id_col, vec_col, q_blocks, c_blocks)
    return q.groupBy("qb", "cb").cogroup(c.groupBy("qb", "cb")).applyInPandas(
        tile_pairs,
        schema="id_a BIGINT, id_b BIGINT, cos_sim DOUBLE",
    )


def _safe_cos(dot: Column, qn2: Column, cn2: Column,
              round_digits: int) -> Column:
    """Rounded cosine with a zero-norm guard, for the ANN candidate
    paths: a zero-norm vector scores 0 against everything instead of
    raising DIVIDE_BY_ZERO under ANSI mode (consistent with _unit_rows'
    treatment on the numpy side). The oracle-checked exact kernels keep
    plain division — cosine is defined only for nonzero vectors there,
    same as the SQL oracle."""
    denom = F.sqrt(qn2) * F.sqrt(cn2)
    return F.round(
        F.when(denom == F.lit(0.0), F.lit(0.0)).otherwise(dot / denom),
        round_digits,
    )


def _vecs(emb: DataFrame, id_col: str, vec_col: str, *extra) -> DataFrame:
    """(id, v, norm2, *extra): the relation every rerank side reads."""
    return with_norm2(emb, vec_col).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), "norm2",
        *extra,
    )


def _side(rel: DataFrame, role: str, *keys) -> DataFrame:
    """One side of a rerank join over an (id, v, norm2, ...) relation:
    role 'q' gives (query_id, qv, qn, *keys), 'c' gives (neighbor_id,
    cv, cn, *keys)."""
    i, v, n = (
        ("query_id", "qv", "qn") if role == "q"
        else ("neighbor_id", "cv", "cn")
    )
    return rel.select(
        F.col("id").alias(i), F.col("v").alias(v), F.col("norm2").alias(n),
        *keys,
    )


def _rerank_pairs(
    q: DataFrame, c: DataFrame, on, round_digits: int,
    score: str = "cos_sim",
) -> DataFrame:
    """The exact rerank stage of the ANN family: join the query side to
    the candidate side (both shaped by _side) on `on`, drop self-pairs,
    and score each pair's exact double cosine rounded to round_digits
    (_safe_cos)."""
    dot = _dot(_as_double(F.col("qv")), _as_double(F.col("cv")))
    return (
        q.join(c, on)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            score, _safe_cos(dot, F.col("qn"), F.col("cn"), round_digits)
        )
    )


def _top_k(
    rows: DataFrame, k: int, score: str | Column = "cos_sim",
    cols: tuple | None = None, part: str = "query_id",
    tie: str = "neighbor_id", desc: bool = True,
) -> DataFrame:
    """The rank stage of every top-k path: keep each `part` group's first
    k rows ordered by score (DESC, or ASC with desc=False) then `tie` —
    a total order for unique ids — with rnk their 1-based position.
    Output columns: cols, by default (part, tie, score, rnk)."""
    key = F.col(score) if isinstance(score, str) else score
    w = W.partitionBy(part).orderBy(key.desc() if desc else key, F.col(tie))
    return (
        rows.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(*(cols or (part, tie, score, "rnk")))
    )


def _cap_lists(
    c: DataFrame, max_list_len: int | None, key: Column
) -> DataFrame:
    """Cap every inverted list of a candidate side (neighbor_id, ...,
    cluster) at its max_list_len members with the smallest (key,
    neighbor_id): a deterministic uniform subsample, one window keyed by
    the cluster the lists already partition on. Queries are never
    capped, so per-query candidates stay <= n_probe * max_list_len at
    any corpus size. None leaves the lists whole."""
    if max_list_len is None:
        return c
    return _top_k(
        c, max_list_len, key, tuple(c.columns), part="cluster", desc=False
    )


def _unit_rows(X):
    """Row-normalize a matrix with a zero-norm guard: an all-zero
    embedding keeps norm 1 (its codes/similarities become 0) instead of
    emitting NaN rows that silently poison every candidate in its
    cluster. (The exact kernels define cosine only for nonzero vectors —
    same as the SQL oracle.)"""
    import numpy as np

    n = np.linalg.norm(X, axis=1, keepdims=True)
    return X / np.where(n == 0.0, 1.0, n)


def _unit(v):
    """1-D zero-norm-guarded normalize (centroid re-normalization)."""
    import numpy as np

    n = np.linalg.norm(v)
    return v / (n if n != 0.0 else 1.0)


def _train_sample_matrix(
    emb: DataFrame, id_col: str, vec_col: str, n: int
):
    """Bounded, deterministic, scale-unbiased quantizer training sample:
    the n rows with the smallest (xxhash64(id), id) — a uniform
    pseudo-random draw over the WHOLE corpus, reproducible across runs
    and partitionings.

    SAMPLING CONTRACT: the previous orderBy(id).limit(n) trained on the
    id-prefix of the corpus — at 100 TB that is whatever shard was
    ingested first, a biased codebook. Hash-ordering removes the bias at
    identical cost: physically a TakeOrderedAndProject (each partition
    keeps a bounded n-row heap, the driver merges n rows per partition —
    no full sort, no shuffle). n should give >= ~40 rows per trained
    centroid (k<=16 with n=4096 gives ~256).

    Returns the row-normalized float64 matrix (zero-norm guarded).
    """
    import numpy as np

    rows = (
        emb.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
        .withColumn("__h", F.xxhash64("__id"))
        .orderBy("__h", "__id")
        .limit(n)
        .select("__v")
        .collect()
    )
    X = np.array([r[0] for r in rows], dtype=np.float64)
    return _unit_rows(X)


def _kmeans_sample(X, n_centroids: int, n_iter: int):
    """Spherical Lloyd iterations over a driver-side sample matrix
    (rows already unit-normalized); init = first n_centroids rows."""
    C = X[:n_centroids].copy()
    for _ in range(n_iter):
        assign = (X @ C.T).argmax(axis=1)
        for c in range(n_centroids):
            m = assign == c
            if m.any():
                C[c] = _unit(X[m].mean(axis=0))
    return C


def _kmeans_distributed(
    emb: DataFrame, C0, n_iter: int, vec_col: str,
):
    """Spherical Lloyd's k-means over the FULL corpus — the scale-honest
    trainer for when even an unbiased sample is statistically thin:

    per iteration, ONE Spark job:
      1. broadcast the current k x dim centroid matrix (tiny model);
      2. mapInPandas: each Arrow batch assigns its vectors to argmax-
         cosine centroids and emits AT MOST k partial rows
         (cluster, [sum_vector..., count]) — the count rides as an extra
         trailing array element so sums and counts tree-aggregate in one
         pass;
      3. posexplode + groupBy (cluster, dim): partial sums combine
         map-side, the shuffle carries k*(dim+1) rows per partition;
      4. the driver collects k*(dim+1) doubles — bounded by the MODEL
         size, never the corpus — renormalizes, loops.

    Total driver traffic: n_iter * k * (dim+1) doubles. No corpus
    collect at any scale. Returns the trained centroid matrix.
    """
    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    k, dim = C0.shape
    base = _spread(emb.select(vec_col))
    C = C0.copy()
    for _ in range(n_iter):
        bc = spark.sparkContext.broadcast(C)

        def partial(batches, _bc=bc):
            Cm = _bc.value
            for pdf in batches:
                Q = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
                )
                a = (_unit_rows(Q) @ Cm.T).argmax(axis=1)
                rows = []
                for c in np.unique(a):
                    m = a == c
                    s = _unit_rows(Q)[m].sum(axis=0)
                    rows.append((int(c), [*s.tolist(), float(m.sum())]))
                yield pd.DataFrame(rows, columns=["cluster", "s"])

        sums = (
            base.mapInPandas(partial, schema="cluster INT, s ARRAY<DOUBLE>")
            .select("cluster", F.posexplode("s").alias("dim", "v"))
            .groupBy("cluster", "dim")
            .agg(F.sum("v").alias("v"))
            .collect()
        )
        bc.destroy()
        S = np.zeros((k, dim))
        N = np.zeros(k)
        for r in sums:
            if r["dim"] == dim:
                N[r["cluster"]] = r["v"]
            else:
                S[r["cluster"], r["dim"]] = r["v"]
        for c in range(k):
            if N[c] > 0:
                C[c] = _unit(S[c] / N[c])
    return C


def _coarse_centroids(
    emb: DataFrame, n_centroids: int, n_iter: int, id_col: str,
    vec_col: str, train_sample: int, train_mode: str, X=None,
):
    """Coarse-quantizer training dispatch shared by ivf_topk / pq_topk:
    'sample' = Lloyd over the unbiased hash-drawn sample (the default —
    right when the sample covers the distribution); 'distributed' =
    full-corpus tree-aggregated Lloyd (_kmeans_distributed — the 100 TB
    form, one job per iteration, driver traffic bounded by model size).
    Both share the same deterministic init (first k rows of the hash
    sample), so they converge to comparable codebooks. Pass X to reuse
    an already-collected sample matrix."""
    if X is None:
        X = _train_sample_matrix(emb, id_col, vec_col, train_sample)
    if train_mode == "sample":
        return _kmeans_sample(X, n_centroids, n_iter)
    if train_mode == "distributed":
        return _kmeans_distributed(
            emb, X[:n_centroids].copy(), n_iter, vec_col
        )
    raise ValueError(f"unknown train_mode: {train_mode!r}")


def _spread(queries: DataFrame, rows_per_task: int = 256) -> DataFrame:
    """Fan a small input out before a per-row Python kernel — see
    citydata_etl_spark.util.spread_small_input (file-size-based probe, no
    RDD conversion on the build path)."""
    from citydata_etl_spark.util import spread_small_input

    return spread_small_input(queries)


def _corpus_dim(emb: DataFrame, vec_col: str) -> int:
    """Embedding dimensionality, probed from one corpus row at plan-build
    time. This is a deliberate bounded job (a 1-row limit scan, never a
    full pass) — the LSH/IVF/PQ builders need `dim` to synthesize the
    hyperplane/codebook tables before the plan exists. An empty corpus
    (or a NULL vector in row one) raises a clear ValueError instead of
    the bare `TypeError: None[0]` the naive probe gave."""
    row = emb.select(vec_col).first()
    if row is None or row[0] is None:
        raise ValueError(
            f"cannot infer embedding dim: corpus is empty or {vec_col!r} "
            "is NULL in its first row; pass a non-empty corpus"
        )
    return len(row[0])


def _int_hyperplanes(spark, n_planes: int, dim: int) -> DataFrame:
    """Integer-LCG hyperplanes: component (p, d) =
    ((1103515245*(p*dim+d) + 12345) mod 2147483647) - 1073741823, a
    centered BIGINT. Boundedness: this multiply runs in PYTHON
    (arbitrary-precision int, no overflow exists) over p*dim+d <
    n_planes*dim — not a Spark column, so the lcg_pick mod-m-reduction
    rule does not apply; the oracle restates the same unreduced
    product, exact in BIGINT because the index is tiny."""
    m = 2147483647
    rows = []
    for p in range(n_planes):
        comps = [
            ((1103515245 * (p * dim + d) + 12345) % m) - 1073741823
            for d in range(dim)
        ]
        rows.append((p, comps))
    return spark.createDataFrame(rows, "plane INT, comps ARRAY<BIGINT>")


def lsh_bucket_topk(
    emb: DataFrame, k: int = 5, n_planes: int = 8, id_col: str = "vec_id",
    vec_col: str = "embedding", round_digits: int = 4,
    n_probe_bits: int = 0, n_tables: int = 1,
) -> DataFrame:
    """ANN cosine top-k: random-hyperplane sign buckets, exact rerank
    within bucket. Recall < 1 by construction; tests measure it against
    brute force. Scale shape: one broadcast of n_tables*n_planes plane
    rows, one shuffle on (table, bucket), candidate cost follows bucket
    occupancy.

    The signs are EXACT INTEGER arithmetic: embedding components
    quantized to micros (_micros) dotted with the integer-LCG plane
    components in BIGINT (_idot), so the bucket of every vector is a
    pure integer function any SQL engine states bit-for-bit, with no
    addition-order edge where a double projection could flip a sign.
    Table t's bucket is sum((proj_j > 0) << (j mod n_planes)) over its
    own planes j = t*n_planes .. t*n_planes + n_planes-1 of one global
    plane stream, so n_tables=1 is the plain single-table topology.

    Two recall levers:
      - n_tables > 1 (MULTI-TABLE, Indyk–Motwani's L independent
        tables; Gionis et al. 1999): a true neighbor only needs to
        collide in ONE table, so the miss probability decays as
        (1 - p^P)^L. A pair sharing buckets in several tables is
        deduplicated after the rerank.
      - n_probe_bits=1 (MULTI-PROBE): each query also probes the
        n_planes buckets at hamming distance 1 from its own code,
        trading a (1 + n_planes)x candidate fan-out for recall. Probed
        buckets are distinct, so a single table generates no pair
        twice.
    """
    dim = _corpus_dim(emb, vec_col)
    planes = _int_hyperplanes(emb.sparkSession, n_tables * n_planes, dim)
    base = _int_base(emb, id_col, vec_col)
    signed = (
        base.crossJoin(F.broadcast(planes))
        .withColumn("proj", _idot(F.col("vi"), F.col("comps")))
        .withColumn("tbl", F.expr(f"plane div {n_planes}"))
        .withColumn(
            "bit",
            F.when(
                F.col("proj") > 0,
                F.expr(f"shiftleft(1, plane % {n_planes})").cast("bigint"),
            ).otherwise(F.lit(0).cast("bigint")),
        )
        .groupBy("id", "tbl")
        .agg(F.sum("bit").alias("bucket"))
    )
    bucketed = base.drop("vi").join(signed, "id")
    q = _side(bucketed, "q", "tbl", "bucket")
    if n_probe_bits >= 1:
        probes = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << p)).cast("bigint")
                for p in range(n_planes)
            ],
        )
        q = q.withColumn("bucket", F.explode(probes))
    pairs = _rerank_pairs(
        q, _side(bucketed, "c", "tbl", "bucket"), ["tbl", "bucket"],
        round_digits,
    )
    if n_tables > 1:
        pairs = pairs.dropDuplicates(["query_id", "neighbor_id"])
    return _top_k(pairs, k)


#: Measured n_probe escalation factor for the capped-occupancy IVF
#: regime (r17, SCALE_REHEARSAL_r17.json): the finer capped partition
#: dilutes per-probe coverage, so n_probe doubles; the phase-2 sweep
#: measured p8 as the knee (recall 0.9791 vs 0.9797 at p16 for 1.7x
#: the shuffle). Escalating n_probe under the COARSE cap instead was
#: measured exactly flat (recall 0.5611 at p4 AND p8) — a vector
#: trimmed from its single home list is unreachable at any n_probe.
IVF_PROBE_ESCALATION = 2

#: Measured occupancy headroom for the capped regime (r17 phase 2):
#: sizing lists to the cap itself (mean occupancy == cap) still
#: clipped skewed lists' overflow and plateaued recall at 0.824
#: regardless of probes; halving mean occupancy (headroom 2) leaves
#: clipping to >2x-mean outlier lists only and measured recall 0.9791
#: / pair agreement 0.9784 vs the uncapped reference at 100x — at
#: 1.8x less wall and -33% shuffle (232.6 s / 3626 MB vs 422 s /
#: 5394 MB).
IVF_OCCUPANCY_HEADROOM = 2


def ivf_posture_for(
    n_vectors: int, max_list_len: int = 256, base_probe: int = 4,
) -> tuple[int, int]:
    """Derive (n_centroids, n_probe) for the capped-IVF production
    posture from corpus size — self-acting the way
    queries_time.state_partitions_for is, so the sizing tracks the
    workload instead of a hand-pin.

    Regimes (measured in SCALE_REHEARSAL_r16/r17.json at the sf0.1
    embeddings x100 = 200k-vector occupancy point, exact-sample
    ground truth):

    - SQRT regime (n <= max_list_len**2): the classic n_centroids ~
      sqrt(n) sizing keeps mean occupancy sqrt(n) <= cap, so the
      max_list_len window is a measured no-op (r16: pair agreement
      1.0 at 1x/10x, cap window costs ~3%); probes stay at
      base_probe.
    - CAPPED regime (n > max_list_len**2): sqrt sizing would push
      occupancy past the cap and the uniform-subsample trim then
      silently drops a CONSTANT FRACTION of every list (r16/r17:
      recall 0.5611 at occupancy ~447 vs cap 256) — unrecoverable by
      probing, because each vector lives in exactly one list
      (measured flat: p8 == p4). The levers, both measured r17:
      n_centroids grows to ceil(n / (max_list_len /
      IVF_OCCUPANCY_HEADROOM)) — mean occupancy at HALF the cap, so
      the trim only clips >2x-mean outlier lists (sizing lists AT
      the cap plateaued at recall 0.824) — and n_probe escalates by
      IVF_PROBE_ESCALATION to restore the coverage the finer
      partition dilutes (p8 the measured knee). Result at 100x:
      recall 0.9791 / agreement 0.9784 vs uncapped at 1.8x less wall
      and -33% shuffle. Per-query candidates stay bounded at
      base_probe * IVF_PROBE_ESCALATION * max_list_len regardless of
      n — total probe shuffle O(n), the r14 rehearsal's requirement.
    """
    import math

    if n_vectors <= 0:
        return 8, base_probe
    # the regime gate is n <= cap^2 EXACTLY (not round(sqrt(n)) <=
    # cap, whose rounding admits a boundary window — e.g. n = 65700
    # with cap 256 — where mean occupancy creeps past the cap and the
    # uniform trim silently re-enters; r17 review finding)
    if n_vectors <= max_list_len ** 2:
        return max(8, round(math.sqrt(n_vectors))), base_probe
    return (
        int(math.ceil(
            n_vectors / (max_list_len / IVF_OCCUPANCY_HEADROOM))),
        base_probe * IVF_PROBE_ESCALATION,
    )


def ivf_topk(
    emb: DataFrame, k: int = 5, n_centroids: int = 16, n_probe: int = 4,
    n_iter: int = 5, train_sample: int = 4096, id_col: str = "vec_id",
    vec_col: str = "embedding", round_digits: int = 4,
    train_mode: str = "sample", max_list_len: int | None = None,
) -> DataFrame:
    """ANN cosine top-k via an IVF (inverted-file) coarse quantizer.

    Topology (the scale path for billion-vector corpora):
      1. TRAIN: k-means — train_mode='sample' (default) runs Lloyd on a
         bounded driver-side sample of train_sample rows drawn by
         smallest xxhash64(id) (_train_sample_matrix: deterministic AND
         uniform over the corpus, no ingestion-order prefix bias);
         train_mode='distributed' runs full-corpus tree-aggregated Lloyd
         (_kmeans_distributed: one job per iteration, driver traffic
         bounded by k*(dim+1) doubles — the form for corpora whose
         distribution a 4096-row sample cannot cover). Either way the
         centroid matrix is a tiny broadcast model.
      2. ASSIGN: one mapInPandas pass tags every vector with its nearest
         centroid (cluster = inverted list id). At scale this is the
         partition key: lists are written `partitionBy(cluster)`.
      3. PROBE: each query expands to its n_probe nearest centroids
         (explode), then a JVM equi-join on cluster pulls ONLY the probed
         lists — the scan is pruned to n_probe/n_centroids of the corpus.
      4. RERANK: exact cosine inside the probed candidates (zip_with/
         aggregate builtins), window top-k with a total-order tie-break.

    Recall < 1 by construction (cross-cluster neighbors are missed when
    not probed); tests measure recall against brute force.

    `max_list_len` (r14, the scale rehearsal's candidate-volume lever):
    with sqrt(n)-sized lists and a FIXED n_probe, per-query candidates
    grow ~sqrt(n), i.e. probe shuffle ~n^1.5 — measured as the
    7.4 MB -> 212 MB -> 5.39 GB ramp across 1x/10x/100x
    (SCALE_REHEARSAL_r14.json). Setting max_list_len caps every
    inverted list at that many members — kept by smallest
    xxhash64(id), a deterministic uniform subsample of the list, the
    same draw rule as the trainer's sample — bounding per-query
    candidates at n_probe * max_list_len regardless of corpus size.
    The cost is recall on queries whose true neighbors were evicted
    (FAISS-style quantizer imbalance trimming trades the same way);
    the test pins both the bound and graceful recall degradation.
    """
    import numpy as np

    spark = emb.sparkSession
    C = _coarse_centroids(
        emb, n_centroids, n_iter, id_col, vec_col, train_sample, train_mode
    )
    bc = spark.sparkContext.broadcast(C)

    def tag(batches):
        import pandas as pd

        cm = bc.value
        for pdf in batches:
            Q = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            Qn = _unit_rows(Q)
            sims = Qn @ cm.T
            order = np.argsort(-sims, axis=1)
            out = pdf[[id_col, vec_col]].copy()
            out["cluster"] = order[:, 0]
            out["probes"] = [row[:n_probe].tolist() for row in order]
            yield out

    tagged = _spread(emb.select(id_col, vec_col)).mapInPandas(
        tag,
        schema=f"{id_col} BIGINT, {vec_col} ARRAY<FLOAT>, "
        "cluster INT, probes ARRAY<INT>",
    )
    base = _vecs(tagged, id_col, vec_col, "cluster", "probes")
    q = _side(base, "q", F.explode("probes").alias("cluster"))
    c = _cap_lists(
        _side(base, "c", "cluster"), max_list_len, F.xxhash64("neighbor_id")
    )
    return _top_k(_rerank_pairs(q, c, "cluster", round_digits), k)


def _micros(col: Column) -> Column:
    """Quantize a float array to integer micros — floor(x*1e6 + 0.5) per
    component, the engine's exact-arithmetic convention (float32 values
    convert to double exactly, so the quantization is bit-identical in
    any IEEE engine; there is no division or sqrt on this path)."""
    return F.transform(
        _as_double(col), lambda x: F.floor(x * 1000000 + 0.5).cast("bigint")
    )


def _idot(a: Column, b: Column) -> Column:
    """Exact BIGINT dot product of two integer arrays (left fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def lcg_pick(col: Column) -> Column:
    """The engine's deterministic uniform-draw key for seed/query picks:
    (1103515245 * pmod(col, m) + 12345) mod m, m = 2147483647. The id is
    reduced mod m BEFORE the multiply so the product is bounded by
    1103515245 * (m-1) ~ 2.4e18 < int64 max for ANY id — without the
    reduction the multiply overflows (raising under Spark 4 ANSI) once
    ids exceed ~8.36e9, a budget 100 TB corpora blow through. pmod == %
    here because ids are non-negative by contract; every oracle states
    the identical reduced form. ONE definition — the overflow fix had
    to touch ten call sites when this expression was hand-copied."""
    m = F.lit(2147483647)
    return (F.lit(1103515245) * F.pmod(col, m) + F.lit(12345)) % m


def _lcg_seed_rows(
    emb: DataFrame, n: int, id_col: str, vec_col: str
) -> DataFrame:
    """The n corpus vectors with the smallest
    ((1103515245 * (id mod 2147483647) + 12345) mod 2147483647, id),
    indexed 0..n-1 and micros-quantized — the deterministic
    SQL-stateable seed pick shared by the integer ANN paths.
    The overflow-proof reduced form lives in lcg_pick (one
    definition). TakeOrderedAndProject (bounded per-partition heap);
    the row_number window runs over the already-limited n rows."""
    lcg = lcg_pick(F.col("sid"))
    seeds = (
        emb.select(F.col(id_col).alias("sid"), F.col(vec_col).alias("sv"))
        .withColumn("lcg", lcg)
        .orderBy("lcg", "sid")
        .limit(n)
    )
    sw = W.orderBy("lcg", "sid")
    return (
        seeds.withColumn("cidx", F.row_number().over(sw) - 1)
        .withColumn("ci", _micros(F.col("sv")))
        .select("cidx", "ci")
    )


def _int_base(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, v, norm2, vi) — the raw vector plus its integer-micros
    quantization, the input of the integer sign and probe stages."""
    return _vecs(emb, id_col, vec_col).withColumn("vi", _micros(F.col("v")))


def _int_probe(
    base: DataFrame, cents: DataFrame, n_probe: int, key: str = "id"
) -> DataFrame:
    """The integer assign/probe stage: every `base` row (micros `vi`)
    against every row of the small (cidx, ci: ARRAY<BIGINT>) centroid
    table (one broadcast fan-out), scored by the exact BIGINT dot idot.
    Keeps each vector's n_probe best centroids as prnk 1..n_probe, ties
    to the smaller cidx (one per-`key` window); prnk 1 is the vector's
    home list. Embeddings are unit-normalized, so dot-argmax is
    cosine-argmax up to quantization, and |x|<=1 with dim<=64 keeps
    every product-sum far inside int64."""
    pw = W.partitionBy(key).orderBy(F.col("idot").desc(), F.col("cidx"))
    return (
        base.crossJoin(F.broadcast(cents))
        .withColumn("idot", _idot(F.col("vi"), F.col("ci")))
        .withColumn("prnk", F.row_number().over(pw))
        .filter(F.col("prnk") <= n_probe)
    )


def ivf_topk_exact(
    emb: DataFrame, k: int = 5, n_centroids: int = 16, n_probe: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding",
    round_digits: int = 4, n_iter: int = 0,
    max_list_len: int | None = None,
) -> DataFrame:
    """Oracle-exact IVF top-k: the assign -> probe -> pruned-join ->
    exact-rerank topology of ivf_topk, but every step that decides WHICH
    list a vector lands in is pure integer arithmetic, so the whole
    pipeline is SQL-stateable bit-for-bit and the external oracle
    verifies the IVF structure itself, not just its recall.

      1. TRAIN (_distexact_centroids): the n_centroids corpus vectors
         with the smallest ((1103515245*(id mod m) + 12345) mod m, id) —
         the engine's integer-LCG stream as a deterministic uniform draw
         (the float trainer's xxhash64 sample ordering restated in a
         form any SQL engine evaluates identically), micros-quantized.
         n_iter=0 uses these seeds as the centroids; n_iter > 0 runs
         that many CHAINED full-corpus integer Lloyd rounds — the
         integer restatement of the DISTRIBUTED trainer
         (_kmeans_distributed), so even the training loop is
         SQL-stateable. A double Lloyd mean/argmax would sit one
         addition-reorder ulp from an assignment flip.
      2. ASSIGN + PROBE (_int_probe): cluster = argmax BIGINT dot of
         the micros vector and centroid (ties to the smaller centroid
         index); probes = the n_probe best. One broadcast of
         n_centroids rows, one bounded x n_centroids fan-out, one tiny
         per-vector window, persisted because both join sides read it.
      3. RERANK (_rerank_pairs, _top_k): exact double cosine within the
         probed lists, rounded to round_digits, row_number with a
         total-order tie-break.

    `max_list_len` (the capped PRODUCTION posture made oracle-exact):
    caps every inverted list at that many members, kept by smallest
    (lcg_pick(id), id) — ivf_topk's smallest-xxhash64 uniform-subsample
    rule restated in the engine's integer LCG, so the truncated
    candidate SET is SQL-stateable. Per-query candidates stay <=
    n_probe * max_list_len regardless of corpus size (the lever the r14
    scale rehearsal's ~n^1.5 probe-shuffle ramp requires).

    Scale shape is ivf_topk's: the seed pick is a TakeOrderedAndProject
    (n_centroids rows to the driver, never the corpus), the probe join
    is an equi-join on cluster scanning only n_probe/n_centroids of the
    corpus; each Lloyd round adds one corpus pass and one posexploded
    shuffle with map-side combine, with zero driver collects.
    """
    base = _int_base(emb, id_col, vec_col)
    if n_iter > 0:
        # the Lloyd rounds and the probe both read base
        base = scoped_persist(base)
    cents = _distexact_centroids(
        base, emb, n_centroids, id_col, vec_col, n_iter
    )
    pr = scoped_persist(
        _int_probe(base, cents, n_probe)
        .select("id", "v", "norm2", "cidx", "prnk")
    )
    q = _side(pr, "q", F.col("cidx").alias("cluster"))
    c = _cap_lists(
        _side(
            pr.filter(F.col("prnk") == 1), "c", F.col("cidx").alias("cluster")
        ),
        max_list_len, lcg_pick(F.col("neighbor_id")),
    )
    return _top_k(_rerank_pairs(q, c, "cluster", round_digits), k)


def distexact_centroids(
    emb: DataFrame, n_centroids: int = 16,
    id_col: str = "vec_id", vec_col: str = "embedding", n_iter: int = 2,
) -> DataFrame:
    """The trained (cidx, ci: ARRAY<BIGINT>) centroid table of
    ivf_topk_exact's integer Lloyd loop, exposed for direct
    property-testing of the training step (pure integers — no float
    anywhere, so a Python reference model can assert bit-equality on
    arbitrary corpora)."""
    return _distexact_centroids(
        _int_base(emb, id_col, vec_col), emb, n_centroids, id_col,
        vec_col, n_iter,
    )


def _distexact_centroids(
    base: DataFrame, emb: DataFrame, n_centroids: int,
    id_col: str, vec_col: str, n_iter: int,
) -> DataFrame:
    """LCG seed centroids (_lcg_seed_rows) followed by n_iter CHAINED
    integer Lloyd iterations, unrolled into one plan (the
    g1_host_pagerank playbook). Each round re-assigns the corpus to its
    argmax-BIGINT-dot centroid and replaces every non-empty cluster's
    centroid with the floored integer mean of its members' micros —
    posexplode + groupBy(cluster, d) SUM/COUNT, whose map-side partial
    aggregation is the tree-aggregated partial-sum topology of
    _kmeans_distributed, but the model never touches the driver: the
    trained table stays a DataFrame broadcast into the next round.
    Integer sums are associative, so the result is independent of
    partitioning; the floored mean is (s - pmod(s, n)) div n, which
    any SQL engine evaluates identically for negative sums. Empty
    clusters carry the PREVIOUS round's centroid. Iteration k's
    assignment reads iteration k-1's trained table, so the oracle must
    state the whole chain, not one step. Deliberate deviation from the
    float trainer: no per-round re-normalization (sqrt is not
    integer-stateable), so this is Lloyd-on-dot rather than spherical
    Lloyd. Integer budget: |micros| <= ~1e6, so a per-(cluster, dim)
    member sum stays inside int64 up to ~9e12 members per cluster, and
    Spark's ANSI sum raises rather than wraps past it."""
    cents = _lcg_seed_rows(emb, n_centroids, id_col, vec_col)
    for _ in range(n_iter):
        members = _int_probe(base, cents, 1).select(
            F.col("cidx").alias("cluster"), "vi"
        )
        sums = (
            members.select("cluster", F.posexplode("vi").alias("d", "x"))
            .groupBy("cluster", "d")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
        )
        trained = (
            sums.withColumn("c", F.expr("(s - pmod(s, n)) div n"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("d", "c"))),
                    lambda r: r["c"],
                ).alias("tc")
            )
        )
        # both sides are n_centroids rows — broadcast the trained table
        # so the carry join never plans exchanges.
        # scoped_persist each iteration's trained table (r17): iteration
        # k's cents feeds TWO consumers of iteration k+1 (the broadcast
        # assignment AND the carry join), so the un-persisted lazy chain
        # re-executed every earlier iteration's full corpus assignment
        # once per consumer — 2^k growth in corpus passes. The persist
        # is O(n_centroids) rows and keeps the CacheManager identity-
        # match that makes re-executions serve the whole training from
        # cache. (A per-iteration localCheckpoint was also tried and
        # REVERTED: it truncates the plan 66 KB -> 12 KB but executes
        # eagerly OUTSIDE the CacheManager, so every warm rerun
        # re-trained from scratch — measured ~3.0 -> 4.5+ s warm.)
        cents = scoped_persist(
            cents.join(
                F.broadcast(trained),
                cents["cidx"] == trained["cluster"], "left",
            )
            .select("cidx", F.coalesce("tc", "ci").alias("ci"))
        )
    return cents


def pq_topk_exactseed(
    emb: DataFrame, k: int = 5, n_centroids: int = 16, n_probe: int = 4,
    m_subspaces: int = 4, id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Oracle-exact twin of pq_topk (IVF-PQ, Jégou et al. 2011): the
    SAME coarse-probe -> PQ-encode -> ADC-score -> rank topology, in
    PURE INTEGER arithmetic end to end — there is no float anywhere in
    this operator's output, so every byte is SQL-stateable:

      - one LCG seed pick serves BOTH roles: seed c's full vector is
        coarse centroid c, and seed c's j-th subvector is subspace j's
        codeword c (n_centroids == ks == number of seeds);
      - coarse assignment/probing: exact BIGINT micros dot, as
        ivf_topk_exact;
      - PQ encode: per (vector, subspace), the codeword with the
        smallest exact integer squared-L2 distance (ties to the
        smaller code);
      - ADC: the approximate distance of (query, candidate) is the sum
        over subspaces of the QUERY's precomputed integer d2 to the
        CANDIDATE's codeword — the candidate's raw vector is never
        touched in the pair path, exactly the PQ contract.

    The relational ADC table (id, subspace, code, d2) has corpus x
    (m*ks) rows — the SQL-stateable form of the per-query ADC array
    pq_topk builds inside mapInPandas; joins on (query, subspace,
    code) replace the array lookups. Production keeps the Lloyd-trained
    float codebooks and the in-batch ADC arrays (rows-only +
    recall-tested); this twin exists so the driver verifies the IVF-PQ
    STRUCTURE bit-for-bit. Output: (query_id, neighbor_id, adc_d2,
    rnk), adc_d2 ascending (it is a distance).
    """
    ks = n_centroids  # one seed set, two roles
    dim = _corpus_dim(emb, vec_col)
    if dim % m_subspaces != 0:
        raise ValueError(
            f"pq_topk_exactseed: dim {dim} not divisible by "
            f"m_subspaces {m_subspaces}"
        )
    sub = dim // m_subspaces
    seeds = _lcg_seed_rows(emb, ks, id_col, vec_col)
    base = emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).withColumn("vi", _micros(F.col("v"))).drop("v")

    # coarse probe (ivf_topk_exact's rule); persisted: the query and
    # candidate join sides both read it
    pr = scoped_persist(
        _int_probe(base, seeds, n_probe).select("id", "cidx", "prnk")
    )

    # (id, subspace j, code, exact integer squared-L2 to the codeword):
    # the relational ADC table, built once for every vector — it serves
    # as the query-side lookup AND (via its per-(id,j) argmin) the
    # candidate-side PQ code
    def sub_d2(j):
        qs = F.slice(F.col("vi"), j * sub + 1, sub)
        cs = F.slice(F.col("ci"), j * sub + 1, sub)
        return F.aggregate(
            F.zip_with(qs, cs, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    # persisted: read once as the per-(id,j) argmin (candidate codes)
    # and once as the query-side ADC lookup
    qd = scoped_persist(
        base.crossJoin(
            F.broadcast(seeds.select(F.col("cidx").alias("code"), "ci"))
        )
        .select(
            "id", "code",
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(j).alias("j"), sub_d2(j).alias("d2")
                    )
                    for j in range(m_subspaces)
                ])
            ).alias("s"),
        )
        .select("id", "code", F.col("s.j").alias("j"),
                F.col("s.d2").alias("d2"))
    )
    ncode = (
        qd.groupBy("id", "j")
        .agg(F.min(F.struct("d2", "code")).alias("m"))
        .select("id", "j", F.col("m.code").alias("code"))
    )

    q = pr.select(
        F.col("id").alias("query_id"), F.col("cidx").alias("cluster")
    )
    c = pr.filter(F.col("prnk") == 1).select(
        F.col("id").alias("neighbor_id"), F.col("cidx").alias("cluster")
    )
    pairs = q.join(c, "cluster").filter(
        F.col("query_id") != F.col("neighbor_id")
    ).select("query_id", "neighbor_id")
    adc = (
        pairs.join(
            ncode.select(
                F.col("id").alias("neighbor_id"), "j", "code"
            ),
            "neighbor_id",
        )
        .join(
            qd.select(
                F.col("id").alias("query_id"), "j", "code", "d2"
            ),
            ["query_id", "j", "code"],
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d2").cast("bigint").alias("adc_d2"))
    )
    return _top_k(adc, k, "adc_d2", desc=False).withColumn(
        "rnk", F.col("rnk").cast("bigint")
    )


def pq_topk(
    emb: DataFrame, k: int = 5, n_centroids: int = 16, n_probe: int = 4,
    m_subspaces: int = 4, ks: int = 16, n_iter: int = 5,
    train_sample: int = 4096, id_col: str = "vec_id",
    vec_col: str = "embedding", round_digits: int = 4,
    rerank_factor: int = 0, train_mode: str = "sample",
) -> DataFrame:
    """ANN cosine top-k via IVF-PQ (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search") — the billion-vector path
    where even the IVF-probed candidates are too wide to scan: vectors
    are stored as m_subspaces small codes (here m bytes vs 4*dim), and
    similarity is approximated by ADC (asymmetric distance computation)
    table lookups, never touching the raw candidate vector.

    Topology:
      1. TRAIN (driver, bounded train_sample rows drawn by smallest
         xxhash64(id) — uniform over the corpus, no prefix bias;
         _train_sample_matrix): the IVF coarse quantizer (k-means, as
         ivf_topk) PLUS one k-means codebook of ks centroids per
         subspace over the residual-free normalized sample.
         Model size: n_centroids*dim + m_subspaces*ks*(dim/m_subspaces)
         doubles — a tiny broadcast.
      2. ENCODE: one mapInPandas pass per vector emits (coarse cluster,
         probe list, PQ code array, and the query's OWN ADC table:
         adc[j*ks + c] = dot(q_subspace_j, codebook[j][c])). The code
         array is the stored form; the ADC table is query-side only.
      3. PROBE + SCORE: JVM equi-join on cluster pulls probed lists; the
         approximate cosine of (query, candidate) is
         sum_j adc[j*ks + code[j]] — m_subspaces array lookups inside
         codegen (zip_with + aggregate), NO vector math in the pair path.
      4. Top-k by approximate score, total-order tie-break.

    rerank_factor > 0 adds the standard REFINE stage (FAISS
    IndexRefineFlat): the top rerank_factor*k candidates by ADC score are
    re-scored with the EXACT cosine (raw vectors joined back by id for
    the shortlist only — at scale this touches k*factor vectors per
    query, not the probed lists), and the final top-k ranks by exact
    similarity. This recovers quantization-error recall at the cost of
    one narrow join; coarse-pruning misses remain.

    Recall < 1 twice over (coarse pruning + quantization error); tests
    measure recall against brute force and that reranking recovers the
    quantization loss. Output: (query_id, neighbor_id, approx_sim, rnk);
    with rerank, approx_sim is the exact rounded cosine.
    """
    import numpy as np

    spark = emb.sparkSession
    X = _train_sample_matrix(emb, id_col, vec_col, train_sample)
    dim = X.shape[1]
    if dim % m_subspaces != 0:
        raise ValueError(
            f"pq_topk: dim {dim} not divisible by m_subspaces {m_subspaces}"
        )
    sub = dim // m_subspaces

    # coarse quantizer (identical shape to ivf_topk's); PQ codebooks
    # below always train on the sample — their per-subspace statistics
    # stabilize at far fewer rows than the coarse partition does, and the
    # hash-drawn sample is unbiased (train_mode affects the coarse stage)
    C = _coarse_centroids(
        emb, n_centroids, n_iter, id_col, vec_col, train_sample,
        train_mode, X=X,
    )

    # per-subspace PQ codebooks: deterministic init = first ks sample rows
    books = np.empty((m_subspaces, ks, sub), dtype=np.float64)
    for j in range(m_subspaces):
        Sj = X[:, j * sub:(j + 1) * sub]
        B = Sj[:ks].copy()
        for _ in range(n_iter):
            d2 = ((Sj[:, None, :] - B[None, :, :]) ** 2).sum(axis=2)
            a = d2.argmin(axis=1)
            for c in range(ks):
                msk = a == c
                if msk.any():
                    B[c] = Sj[msk].mean(axis=0)
        books[j] = B
    bc = spark.sparkContext.broadcast((C, books))

    def tag(batches):
        Cm, Bm = bc.value
        for pdf in batches:
            Q = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            Qn = _unit_rows(Q)
            order = np.argsort(-(Qn @ Cm.T), axis=1)
            codes, adcs = [], []
            for row in Qn:
                code = []
                adc = []
                for j in range(m_subspaces):
                    rs = row[j * sub:(j + 1) * sub]
                    d2 = ((rs[None, :] - Bm[j]) ** 2).sum(axis=1)
                    code.append(int(d2.argmin()))
                    adc.extend((Bm[j] @ rs).tolist())
                codes.append(code)
                adcs.append(adc)
            out = pdf[[id_col]].copy()
            out["cluster"] = order[:, 0]
            out["probes"] = [row[:n_probe].tolist() for row in order]
            out["code"] = codes
            out["adc"] = adcs
            yield out

    tagged = _spread(emb.select(id_col, vec_col)).mapInPandas(
        tag,
        schema=f"{id_col} BIGINT, cluster INT, probes ARRAY<INT>, "
        "code ARRAY<INT>, adc ARRAY<DOUBLE>",
    )
    tagged = scoped_persist(tagged)
    q = tagged.select(
        F.col(id_col).alias("query_id"), F.col("adc").alias("qadc"),
        F.explode("probes").alias("cluster"),
    )
    c = tagged.select(
        F.col(id_col).alias("neighbor_id"), F.col("code").alias("ccode"),
        "cluster",
    )
    # ADC score: sum_j qadc[j*ks + ccode[j]] — array lookups in codegen;
    # element_at is 1-based
    jidx = F.sequence(F.lit(0), F.lit(m_subspaces - 1))
    score = F.aggregate(
        F.zip_with(
            F.col("ccode"), jidx,
            lambda code, j: F.element_at(
                F.col("qadc"), (j * ks + code + 1).cast("int")
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = (
        q.join(c, "cluster")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("approx_sim", F.round(score, round_digits))
    )
    if rerank_factor <= 0:
        return _top_k(pairs, k, "approx_sim")
    shortlist = _top_k(
        pairs, k * rerank_factor, "approx_sim", ("query_id", "neighbor_id")
    )
    vecs = _vecs(emb, id_col, vec_col)
    exact = _rerank_pairs(
        _side(vecs, "q").join(shortlist, "query_id"), _side(vecs, "c"),
        "neighbor_id", round_digits, "approx_sim",
    )
    return _top_k(exact, k, "approx_sim")


def label_centroids(
    emb: DataFrame, vec_col: str = "embedding", label_col: str = "label",
    round_scale: int = 4,
) -> DataFrame:
    """Per-label centroid in long form: (label, dim, centroid, n_vecs) —
    the class-centroid primitive behind IVF coarse quantizers, cluster QA,
    and nearest-class-mean classification.

    Long form (one row per dimension) keeps the output hash-comparable
    across engines — array columns don't compare portably. One posexplode
    + one groupBy on the bounded (label, dim) key; partial aggregation
    makes the shuffle carry only per-partition (sum, count) pairs, so the
    cost at 100 TB is one map-side-combined shuffle of labels x dims rows.
    float32 inputs are exact in double; the mean is rounded to absorb
    addition-order ulps (same rule as the cosine kernels).
    """
    exploded = emb.select(
        F.col(label_col).alias("label"),
        F.posexplode(_as_double(F.col(vec_col))).alias("dim", "v"),
    )
    return (
        exploded.groupBy("label", "dim")
        .agg(
            F.round(F.avg("v"), round_scale).alias("centroid"),
            F.count("*").alias("n_vecs"),
        )
        .select(
            "label",
            F.col("dim").cast("bigint").alias("dim"),
            "centroid",
            "n_vecs",
        )
    )


def semantic_dedup(
    emb: DataFrame, n_clusters: int = 8, epsilon: float = 0.5,
    id_col: str = "vec_id", vec_col: str = "embedding",
    round_digits: int = 4, n_pair_blocks: int = 4,
    quantizer: str = "auto",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    the embeddings with a coarse quantizer, compare pairs ONLY within a
    cluster, and inside every semantic-duplicate pair (rounded cosine >=
    epsilon) keep the example LESS similar to its cluster centroid (the
    paper's keep-farthest-from-centroid rule; ties broken by lower id).

    Deterministic variant for oracle parity: centroids are the n_clusters
    lowest-id embeddings (seed medoids, no Lloyd iterations — swap in
    ivf_topk's trained k-means when bit-reproducibility across engines is
    not required), and a vector is dropped iff SOME same-cluster neighbor
    with cosine >= epsilon dominates it (higher centroid similarity, or
    equal and lower id) — the greedy pairwise form of the paper's
    keep-one-per-group rule.

    Output: (vec_id, cluster, centroid_sim, keep) for every vector.

    Scale shape: the k seed vectors ride the plan as a LITERAL array —
    the per-vector cluster candidates come from one posexplode, no join,
    no broadcast exchange, no createDataFrame (the collect is a k-row
    point lookup; embedding k*dim literal floats costs k py4j calls);
    the argmax over clusters is ONE map-side-combinable max_by aggregate
    (k rows per vector collapse before the exchange — no window sort);
    the pairwise stage self-joins on (cluster, block) — candidate cost
    follows cluster occupancy like every IVF-bucketed kernel, never
    all-pairs, and the n_pair_blocks sub-key splits each cluster's
    quadratic verify across k*n_pair_blocks tasks instead of k (a
    cluster is ONE join key — with few clusters the verify would
    otherwise bottleneck on k cores; the y-side replication factor is
    n_pair_blocks, the 1-D form of the blocked-matmul tradeoff). All JVM
    builtins (zip_with/aggregate dot products), no Python in the row
    path.

    Sizing n_clusters: cluster occupancy is ~n/k, and the pairwise stage
    is quadratic IN THE CLUSTER, so k must grow with the corpus — k ~
    sqrt(n) equalizes the pairwise work per cluster with the number of
    clusters; the SemDeDup paper uses ~1e5 clusters for ~1e9 examples.
    The default k=8 is an oracle-test scale, not a production setting.

    `quantizer` picks the ASSIGNMENT mechanism, not the semantics:
    'literal' (oracle-exact) folds the k seed vectors into the plan as
    literals — zero joins, but the plan itself grows with k*dim, which
    the r14 scale rehearsal measured as the dominant cost by k~sqrt(n)
    at 2e5 rows (SCALE_REHEARSAL_r14.json); 'broadcast' assigns
    clusters in one Arrow-batched mapInPandas against a broadcast seed
    matrix (one BLAS matmul per batch, plan size O(1) in k — the
    ivf_topk tag shape) and then computes centroid_sim with the SAME
    Spark expressions via a broadcast join on the k-row seed table, so
    downstream values are identical except on exact decimal-rounding
    boundaries of the argmax tie-break (see below). 'auto' (default)
    picks literal for k < SEMANTIC_DEDUP_BROADCAST_K and broadcast at
    or above it — the r14 rehearsal measured the literal path's per-k
    constant (k-row collect + k*dim literal codegen) dominating by
    k=141 (k~sqrt(n) at n=2e4), so the threshold sits safely below
    that knee;
    the two modes are pinned equal on real data by
    test_semantic_dedup_quantizer_modes_agree. Both paths break
    argmax ties on the HALF_UP-ROUNDED cosine with the lower cluster
    winning. The numpy side reproduces the rounding as
    sign*floor(|x|*10^d + 0.5), which matches Spark's F.round
    (BigDecimal HALF_UP on the shortest-decimal repr) on every vector
    in the equality tests but is NOT the same function on all doubles:
    a double whose shortest-decimal HALF_UP disagrees with the
    scaled-floor form could assign differently between modes (without
    the matched rounding, 2/2000 vectors assigned differently at
    k=45 — the rounding shrinks the divergence set to those exact
    boundary doubles, it does not prove it empty).
    """
    if n_clusters < 1:
        # fail loudly: before r15 this misconfiguration crashed during
        # analysis; the empty-seed guard below must not convert it
        # into a silent 0-row result on non-empty input
        raise ValueError("semantic_dedup requires n_clusters >= 1")
    if quantizer == "auto":
        quantizer = (
            "broadcast"
            if n_clusters >= SEMANTIC_DEDUP_BROADCAST_K
            else "literal"
        )
    # seed medoids: the n_clusters lowest-id embeddings, enumerated on the
    # driver — bounded by the n_clusters PARAMETER (exactly like ivf_topk's
    # train sample), so the collect is a k-row point lookup, not a data
    # dependence. The seed vectors are folded into the plan as literals:
    # posexplode(array(lit(seed_0), ...)) yields (cluster, sv) per vector
    # with zero joins and keeps the plan free of unpartitioned windows.
    seed_rows = (
        emb.orderBy(id_col).limit(n_clusters)
        .select(F.col(id_col).alias("seed_id"), F.col(vec_col).alias("sv"))
        .collect()
    )
    if not seed_rows:
        # degenerate input: no seeds means no clusters. Short-circuit
        # BOTH modes to the same empty (id, cluster, centroid_sim, keep)
        # frame — the broadcast path would otherwise raise on
        # np.stack([]) and the literal path on posexplode(array()) (a
        # zero-element array() literal is VOID-typed), so without the
        # guard behavior diverged by mode (r14 ADVICE finding)
        return emb.select(
            F.col(id_col),
            F.lit(None).cast("bigint").alias("cluster"),
            F.lit(None).cast("double").alias("centroid_sim"),
            F.lit(None).cast("bigint").alias("keep"),
        ).limit(0)
    seed_dot = _dot(_as_double(F.col("v")), F.col("sv"))
    seed_norm2 = _dot(F.col("sv"), F.col("sv"))
    if quantizer == "broadcast":
        # production-k assignment: one Arrow-batched mapInPandas pass
        # against a broadcast unit-normalized seed matrix (plan size
        # O(1) in k), then centroid_sim via a broadcast join on the
        # k-row seed table using the SAME Spark expressions as the
        # literal path — identical downstream values
        import numpy as np

        spark = emb.sparkSession
        S = np.stack(
            [np.asarray(r["sv"], dtype=np.float64) for r in seed_rows]
        )
        sn = np.sqrt((S * S).sum(axis=1, keepdims=True))
        sn[sn == 0] = 1.0
        bc = spark.sparkContext.broadcast(S / sn)

        scale = float(10 ** round_digits)

        def tag(batches):
            cm = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    # Arrow can hand an empty batch; np.stack([]) raises
                    out = pdf[["id", "v"]].copy()
                    out["cluster"] = np.empty(0, dtype="int32")
                    yield out
                    continue
                Q = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in pdf["v"]]
                )
                qn = np.sqrt((Q * Q).sum(axis=1, keepdims=True))
                qn[qn == 0] = 1.0
                sims = (Q / qn) @ cm.T
                # argmax over the HALF_UP-rounded cosine, first-max =
                # lowest cluster — the literal path's exact tie-break
                # (max_by on (rounded sim, -cluster)); without the
                # rounding, a rounded tie that differs beyond
                # round_digits would assign differently (observed on
                # real data: 2/2000 rows at k=45, d=4)
                rounded = np.sign(sims) * np.floor(
                    np.abs(sims) * scale + 0.5
                )
                out = pdf[["id", "v"]].copy()
                out["cluster"] = rounded.argmax(axis=1).astype("int32")
                yield out

        seeds_df = spark.createDataFrame(
            [
                (i, [float(x) for x in r["sv"]])
                for i, r in enumerate(seed_rows)
            ],
            schema="cluster INT, sv ARRAY<DOUBLE>",
        )
        # the pass-through schema PRESERVES the input types — a
        # hardcoded ARRAY<FLOAT> silently truncated double embeddings
        # (r14 review finding), and a hardcoded BIGINT id would
        # narrow/break string or int id columns the literal path keeps
        vtype = emb.schema[vec_col].dataType.simpleString()
        itype = emb.schema[id_col].dataType.simpleString()
        tagged = emb.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("v")
        ).mapInPandas(tag, schema=f"id {itype}, v {vtype}, cluster INT")
        assigned = scoped_persist(
            with_norm2(tagged, "v")
            .join(F.broadcast(seeds_df), "cluster")
            .withColumn(
                "centroid_sim",
                F.round(
                    seed_dot / (F.sqrt("norm2") * F.sqrt(seed_norm2)),
                    round_digits,
                ),
            )
            .select("id", "v", "norm2", "cluster", "centroid_sim")
        )
    else:
        seed_lits = F.array(
            *[F.lit([float(x) for x in r["sv"]]) for r in seed_rows]
        )
        base = with_norm2(emb, vec_col).select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("v"), "norm2"
        )
        sims = (
            base.select(
                "*", F.posexplode(seed_lits).alias("cluster", "sv")
            )
            .withColumn("cluster", F.col("cluster").cast("int"))
            .withColumn(
                "centroid_sim",
                F.round(
                    seed_dot / (F.sqrt("norm2") * F.sqrt(seed_norm2)),
                    round_digits,
                ),
            )
        )
        # argmax over the k candidate clusters as a max_by aggregate:
        # the ordering key (centroid_sim, -cluster) is unique per
        # (id, cluster), so this reproduces row_number(desc sim, asc
        # cluster) == 1 exactly — but as a partial-aggregable groupBy
        # (k rows collapse map-side) instead of a window sort over
        # k*n rows
        assigned = scoped_persist(
            sims.groupBy("id")
            .agg(
                F.max_by(
                    F.struct("v", "norm2", "cluster", "centroid_sim"),
                    F.struct(
                        F.col("centroid_sim"),
                        (-F.col("cluster")).alias("nc"),
                    ),
                ).alias("__m")
            )
            .select(
                "id", F.col("__m.v").alias("v"),
                F.col("__m.norm2").alias("norm2"),
                F.col("__m.cluster").alias("cluster"),
                F.col("__m.centroid_sim").alias("centroid_sim"),
            )
        )
    x = assigned.select(
        F.col("id").alias("id_x"), F.col("v").alias("vx"),
        F.col("norm2").alias("nx"), "cluster",
        F.col("centroid_sim").alias("cs_x"),
        F.pmod(F.xxhash64("id"), F.lit(n_pair_blocks)).cast("int")
        .alias("blk"),
    )
    y = assigned.select(
        F.col("id").alias("id_y"), F.col("v").alias("vy"),
        F.col("norm2").alias("ny"), "cluster",
        F.col("centroid_sim").alias("cs_y"),
    ).withColumn(
        "blk",
        F.explode(
            F.sequence(F.lit(0), F.lit(n_pair_blocks - 1)).cast("array<int>")
        ),
    )
    pair_cos = F.round(
        _dot(_as_double(F.col("vx")), _as_double(F.col("vy")))
        / (F.sqrt("nx") * F.sqrt("ny")),
        round_digits,
    )
    dominated = (
        x.join(y, ["cluster", "blk"])
        .filter(F.col("id_x") != F.col("id_y"))
        .filter(pair_cos >= epsilon)
        .filter(
            (F.col("cs_y") < F.col("cs_x"))
            | (
                (F.col("cs_y") == F.col("cs_x"))
                & (F.col("id_y") < F.col("id_x"))
            )
        )
        .select(F.col("id_x").alias("id"))
        .distinct()
    )
    return (
        assigned.join(dominated.withColumn("__drop", F.lit(1)), "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("cluster").cast("bigint").alias("cluster"),
            "centroid_sim",
            F.when(F.col("__drop").isNull(), F.lit(1))
            .otherwise(F.lit(0)).cast("bigint").alias("keep"),
        )
    )


def quantize_embeddings(
    emb: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Symmetric int8 scalar quantization of an embedding column — the
    standard storage/transport compression for embedding corpora (4x
    smaller than float32, recall-neutral for retrieval at int8): per
    vector, scale = max |x| and code_i = round(x_i / scale * 127), codes
    in [-127, 127].

    Output is the EXPLODED long form (id, scale_ppm, dim_idx, code) so
    the result is engine-portable and oracle-hashable; a deployment
    would keep the packed array form instead. All arithmetic is
    element-order-deterministic IEEE double (array_max of exact
    float->double casts; round via floor(x + 0.5), the engine-stable
    convention) so codes are bit-identical in any engine. Zero vectors
    quantize through scale=1 (all-zero codes) rather than dividing by
    zero — the same guard ivf/pq train uses.

    Scale shape: ONE codegen projection + posexplode, zero exchanges,
    nothing driver-side; quantization is embarrassingly parallel at any
    corpus size.
    """
    xd = F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double")))
    raw = F.array_max(xd)
    scale = F.when(raw == F.lit(0.0), F.lit(1.0)).otherwise(raw)
    base = emb.select(
        F.col(id_col),
        F.col(vec_col),
        scale.alias("_scale"),
    )
    exploded = base.select(
        id_col,
        F.floor(F.col("_scale") * 1000000.0 + 0.5)
        .cast("bigint")
        .alias("scale_ppm"),
        "_scale",
        F.posexplode(vec_col).alias("_pos", "_x"),
    )
    return exploded.select(
        id_col,
        "scale_ppm",
        F.col("_pos").cast("bigint").alias("dim_idx"),
        F.floor(F.col("_x").cast("double") / F.col("_scale") * 127.0 + 0.5)
        .cast("bigint")
        .alias("code"),
    )


def project_embeddings(
    emb: DataFrame, k: int = 8,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """Deterministic sparse sign random projection (Achlioptas 2003,
    "Database-friendly random projections"): y_j = sum_i x_i * s(i, j)
    with s(i, j) in {+1, -1} drawn from an integer LCG of (i, j) — the
    Johnson-Lindenstrauss dimensionality reduction used to cheapen
    downstream ANN / clustering (distances preserved within 1±eps at
    k = O(log n / eps^2)), with NO stored projection matrix: the sign is
    recomputed from (i, j) wherever the vector lands, so a 1000-executor
    job needs zero coordination or broadcast to agree on the projection.

    Values are projected in integer micros (floor(x*1e6 + 0.5)) so the
    accumulation is exact integer arithmetic — order-free, hence
    bit-identical in any engine (oracle-exact) AND invariant to Spark's
    partition-order nondeterminism; a double accumulation would be
    neither. Output: (id, proj_idx, y_micros) long form.

    Scale shape: per-row codegen (transform + aggregate over the array,
    one posexplode of the k results), ZERO exchanges, nothing
    driver-side — embarrassingly parallel like quantize_embeddings.
    """
    P = 2147483647
    # Materialize the micros conversion ONCE in its own Project below the
    # k aggregate lambdas: Catalyst does not common-subexpression-
    # eliminate inside HOF lambdas (the shingles() lesson), so inlining
    # the conversion would re-run floor(x*1e6+0.5) k times per element.
    base = emb.select(
        F.col(id_col),
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") * 1000000.0 + 0.5)
            .cast("bigint"),
        ).alias("__xi"),
    )
    xi = F.col("__xi")

    def proj(j: int):
        # s(i,j) = 1 - 2*(((i*2654435761 + j*40503 + 7) mod P) mod 2)
        return F.aggregate(
            F.transform(
                xi,
                lambda v, i: v
                * (
                    F.lit(1).cast("bigint")
                    - 2
                    * (
                        (
                            i.cast("bigint") * 2654435761
                            + F.lit(j * 40503 + 7)
                        )
                        % P
                        % 2
                    )
                ),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        )

    ys = F.array(*[proj(j) for j in range(k)])
    return base.select(
        F.col(id_col), F.posexplode(ys).alias("proj_idx", "y_micros")
    ).select(
        id_col,
        F.col("proj_idx").cast("bigint").alias("proj_idx"),
        "y_micros",
    )


def mmr_topk_exactseed(
    emb: DataFrame, k: int = 3, n_cand: int = 16,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998) over the candidate set of one deterministic query — the
    retrieval-side diversification step a RAG pipeline runs after ANN:
    pick k results that are RELEVANT to the query but not REDUNDANT
    with each other. Greedy MMR with lambda = 1/2, stated at 2x scale
    so the objective stays integer: pick 1 maximizes rel(i) =
    <q, d_i>; pick t maximizes mmr2(i) = rel(i) - max_{s in picked}
    <d_i, d_s> (== 2 * [lambda*rel - (1-lambda)*redundancy]).

    Everything that decides a pick is exact BIGINT arithmetic on
    micros-quantized vectors (the ANN rank-twin playbook), so the
    whole greedy chain is SQL-stateable bit-for-bit:

      - query = the corpus vector with the smallest
        ((1103515245 * (id mod m) + 12345) mod m, id) — the shared
        overflow-proof LCG pick;
      - candidates = top-n_cand by (rel DESC, id)
        (TakeOrderedAndProject: bounded per-partition heap, no global
        sort);
      - the n_cand^2 candidate pair-dot table and each pick are
        persisted one-row/bounded broadcasts — the k-step greedy loop
        is UNROLLED into the plan (the g1/g3/BPE iteration playbook):
        no collect, no driver-side loop state;
      - ties everywhere break on the smaller id.

    At 100 TB the corpus-sized work is the one candidate scan
    (broadcast 1-row query, map-side top-n_cand heap); everything
    after runs on n_cand rows. Batch MMR over MANY queries reuses this
    exact per-candidate-set recurrence inside one applyInPandas over
    query_id groups (bounded: n_cand vectors per group); this entry
    states the single-query plan so the external oracle can verify the
    greedy chain itself.

    Output: (rnk 1..k in pick order, neighbor_id, rel_dot, mmr2);
    mmr2 of pick 1 = its rel_dot (no redundancy term yet) by
    convention, stated identically in the oracle.
    """
    base = emb.select(
        F.col(id_col).alias("id"), _micros(F.col(vec_col)).alias("vi")
    )
    lcg = lcg_pick(F.col("id"))
    q = (
        base.withColumn("lcg", lcg)
        .orderBy("lcg", "id")
        .limit(1)
        .select(F.col("id").alias("qid"), F.col("vi").alias("qi"))
    )
    cand = scoped_persist(
        base.join(F.broadcast(q), F.col("id") != F.col("qid"))
        .withColumn("rel", _idot(F.col("vi"), F.col("qi")))
        .orderBy(F.desc("rel"), "id")
        .limit(n_cand)
        .select("id", "vi", "rel")
    )
    a = cand.select(F.col("id").alias("ia"), F.col("vi").alias("va"))
    b = cand.select(F.col("id").alias("ib"), F.col("vi").alias("vb"))
    pair_dots = scoped_persist(
        a.join(F.broadcast(b), F.col("ia") != F.col("ib")).select(
            "ia", "ib", _idot(F.col("va"), F.col("vb")).alias("pdot")
        )
    )
    picks = scoped_persist(
        cand.orderBy(F.desc("rel"), "id")
        .limit(1)
        .select(
            F.lit(1).cast("bigint").alias("rnk"),
            F.col("id").alias("neighbor_id"),
            F.col("rel").alias("rel_dot"),
            F.col("rel").alias("mmr2"),
        )
    )
    for step in range(2, k + 1):
        sel = picks.select(F.col("neighbor_id").alias("sid"))
        red = (
            pair_dots.join(F.broadcast(sel), F.col("ib") == F.col("sid"))
            .groupBy("ia")
            .agg(F.max("pdot").alias("maxred"))
        )
        nxt = (
            cand.join(
                F.broadcast(sel), cand["id"] == F.col("sid"), "left_anti"
            )
            .join(red, cand["id"] == red["ia"])
            .select(
                F.lit(step).cast("bigint").alias("rnk"),
                F.col("id").alias("neighbor_id"),
                F.col("rel").alias("rel_dot"),
                (F.col("rel") - F.col("maxred")).alias("mmr2"),
            )
            .orderBy(F.desc("mmr2"), "neighbor_id")
            .limit(1)
        )
        picks = scoped_persist(picks.unionByName(nxt))
    return picks


def mmr_batch(
    emb: DataFrame, queries: DataFrame, k: int = 3, n_cand: int = 16,
    id_col: str = "vec_id", vec_col: str = "embedding",
    query_col: str = "query_id",
) -> DataFrame:
    """Batch MMR over MANY queries — the production shape whose greedy
    recurrence the single-query twin (mmr_topk_exactseed) states for
    the external oracle. Same integer arithmetic, same tie-breaks,
    same lambda=1/2 objective at 2x scale; the engine-side agreement
    test pins batch == twin on the twin's query.

    Plan: candidate generation is ONE relational pass — every
    (query, corpus) rel dot, cut to top-n_cand per query by a
    rank window PARTITIONED BY QUERY (each query's heap is
    independent; at 100 TB you replace this exact-rel cut with an ANN
    probe feeding the same group schema) — then the greedy selection
    runs per query inside ONE applyInPandas group kernel: n_cand
    micros vectors per group, pairwise dots and k greedy argmaxes in
    int64 numpy. Group state is bounded by n_cand*dim int64s
    regardless of corpus size; queries parallelize across executors.

    `queries` carries one column of query ids (query_col). CONTRACT:
    query ids must be EXISTING corpus ids — the query vector is looked
    up by an inner join on id_col, so an id absent from `emb` produces
    no candidate group and is silently absent from the output (no
    error for a typo'd id; callers that need the distinction
    anti-join their ids against the output's query_id). Duplicate
    incoming ids are deduplicated here so they cannot duplicate output
    groups. Output: (query_id, rnk 1..k, neighbor_id, rel_dot, mmr2),
    mmr2 of pick 1 = rel_dot by the twin's convention.
    """
    base = emb.select(
        F.col(id_col).alias("nid"), _micros(F.col(vec_col)).alias("vi")
    )
    qv = base.join(
        queries.select(F.col(query_col).alias("qid")).distinct(),
        F.col("nid") == F.col("qid"),
    ).select("qid", F.col("vi").alias("qi"))
    pairs = (
        base.join(F.broadcast(qv), F.col("nid") != F.col("qid"))
        .withColumn("rel", _idot(F.col("vi"), F.col("qi")))
    )
    return _mmr_pick(pairs, k, n_cand)


def _mmr_pick(pairs: DataFrame, k: int, n_cand: int) -> DataFrame:
    """The shared greedy-MMR group kernel over a candidate-pair table
    (qid, nid, vi: ARRAY<BIGINT> micros, rel: BIGINT): each query's
    candidates are cut to its top-n_cand by (rel DESC, nid) (_top_k),
    then one applyInPandas group per query runs the greedy picks —
    state bounded by n_cand*dim int64s, identical integer arithmetic
    and tie-breaks to the unrolled twin (mmr_topk_exactseed). Shared by
    the exact-candidate mmr_batch and the IVF-probed mmr_batch_ann, so
    the candidate SOURCE is the only thing that differs between them."""
    import pandas as pd

    out_schema = (
        "query_id BIGINT, rnk BIGINT, neighbor_id BIGINT, "
        "rel_dot BIGINT, mmr2 BIGINT"
    )

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        qid = int(pdf["qid"].iloc[0])
        # deterministic candidate order: (rel DESC, id ASC), matching
        # the twin's tie-breaks
        pdf = pdf.sort_values(
            ["rel", "nid"], ascending=[False, True], ignore_index=True
        )
        ids = pdf["nid"].to_numpy(dtype=np.int64)
        rel = pdf["rel"].to_numpy(dtype=np.int64)
        vecs = np.array(list(pdf["vi"]), dtype=np.int64)
        pd_dots = vecs @ vecs.T  # n_cand^2 int64 pair dots
        rows = []
        picked: list[int] = []
        for step in range(1, k + 1):
            if len(picked) >= len(ids):
                break
            if not picked:
                score = rel.astype(np.int64)
            else:
                score = rel - pd_dots[:, picked].max(axis=1)
            score = score.copy()
            mask = np.zeros(len(ids), dtype=bool)
            mask[picked] = True
            # argmax with (score DESC, id ASC): ids are sorted ASC only
            # within equal rel, so order by (-score, id) explicitly
            order = np.lexsort((ids, -score))
            best = next(i for i in order if not mask[i])
            picked.append(int(best))
            rows.append(
                (qid, step, int(ids[best]), int(rel[best]),
                 int(score[best]))
            )
        return pd.DataFrame(
            rows,
            columns=["query_id", "rnk", "neighbor_id", "rel_dot", "mmr2"],
        )

    cand = _top_k(
        pairs, n_cand, "rel", ("qid", "nid", "vi", "rel"), part="qid",
        tie="nid",
    )
    return cand.groupBy("qid").applyInPandas(pick, out_schema)


def mmr_batch_ann(
    emb: DataFrame, queries: DataFrame, k: int = 3, n_cand: int = 16,
    n_centroids: int = 16, n_probe: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding",
    query_col: str = "query_id",
) -> DataFrame:
    """MMR diversification composed OVER an ANN probe — the 100 TB
    shape mmr_batch's doc promises: candidate generation is
    ivf_topk_exact's assign -> probe topology (LCG seed
    centroids, integer-micros dot assignment with ties to the smaller
    centroid index) instead of an exact (query x corpus) rel pass, and
    the greedy selection is the SAME _mmr_pick group kernel, so the
    two paths differ ONLY in where candidates come from. With
    n_probe == n_centroids every cluster is probed and the candidate
    set equals the exact path's — the agreement test pins
    mmr_batch_ann == mmr_batch there.

    Everything that decides candidate membership and ordering is
    integer arithmetic (assignment dots, rel dots, (rel DESC, id)
    cut), so the composition stays DRIVER-ORACLED bit-for-bit.

    Scale shape: one broadcast of n_centroids rows against the corpus
    (ivf_topk_exact's assignment pass), a probe equi-join on cluster that
    scans only ~n_probe/n_centroids of the corpus per query, the
    per-query top-n_cand window, then the bounded group kernel.
    Same contract as mmr_batch: query ids must be existing corpus ids
    (deduplicated here; missing ids silently absent)."""
    seeds = _lcg_seed_rows(emb, n_centroids, id_col, vec_col)
    base = scoped_persist(
        emb.select(
            F.col(id_col).alias("nid"), _micros(F.col(vec_col)).alias("vi")
        )
    )
    # persist the probe table NARROW — (nid, cidx, prnk) only: carrying
    # the vector through all n_probe rows would cache ~n_probe copies
    # of the corpus; vectors re-join from the single persisted `base`
    # where actually consumed (the prnk==1 assign rows and the handful
    # of query rows)
    pr = scoped_persist(
        _int_probe(base, seeds, n_probe, "nid").select("nid", "cidx", "prnk")
    )
    assign = pr.filter(F.col("prnk") == 1).select("nid", "cidx").join(
        base, "nid"
    )
    qids = queries.select(F.col(query_col).alias("qid")).distinct()
    probes = (
        pr.join(qids, F.col("nid") == F.col("qid"))
        .join(base, "nid")
        .select("qid", F.col("vi").alias("qi"), "cidx")
    )
    pairs = (
        assign.join(F.broadcast(probes), "cidx")
        .filter(F.col("nid") != F.col("qid"))
        .withColumn("rel", _idot(F.col("vi"), F.col("qi")))
    )
    return _mmr_pick(pairs, k, n_cand)


def recall_vs_exact(
    emb: DataFrame, ann: DataFrame, k: int = 5,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Shared recall@k counter against exact cosine top-k for ANY ANN
    picks table (query_id, neighbor_id), so every ANN family (LSH, IVF,
    PQ) gets the same driver-checkable measurement. Output per query:
    n_exact, n_ann, n_hit (all BIGINT); recall@k = n_hit / n_exact."""
    exact = brute_force_topk(
        emb, k=k, id_col=id_col, vec_col=vec_col
    ).select("query_id", "neighbor_id")
    ann = ann.select("query_id", "neighbor_id")
    hits = exact.join(
        ann.withColumn("hit", F.lit(1)),
        ["query_id", "neighbor_id"],
        "left",
    ).groupBy("query_id").agg(
        F.count("*").cast("bigint").alias("n_exact"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0)))
        .cast("bigint").alias("n_hit"),
    )
    ann_n = ann.groupBy("query_id").agg(
        F.count("*").cast("bigint").alias("n_ann")
    )
    return hits.join(ann_n, "query_id", "left").select(
        "query_id",
        "n_exact",
        F.coalesce(F.col("n_ann"), F.lit(0).cast("bigint")).alias("n_ann"),
        "n_hit",
    )
