"""Deduplication operators for training-data pipelines (SURVEY.md §2.8 D4).

All-builtin implementations (no Python in the row path):
  - exact_dedup: hash-groupBy on the content column.
  - ngram_jaccard_pairs: exact n-gram Jaccard via shingle explode +
    self-join on shared shingles — the exact (quadratic-in-collisions)
    baseline.
  - minhash_lsh_pairs: MinHash signatures + LSH banding — the scale path:
    cost is linear in corpus size + band-bucket collisions, never all-pairs.
  - simhash_fingerprints / simhash_pairs: 31-bit SimHash + hamming filter.

Determinism: token ids come from a dense rank over the global vocabulary and
hash functions are integer LCGs mod a Mersenne-ish prime — pure integer
arithmetic reproduces bit-identically in any engine (this is what lets the
DuckDB oracle verify MinHash-LSH exactly). The rank is computed WITHOUT a
single-partition sort (see _global_rank): range-partition on the key,
rank within partitions, add the exclusive prefix-sum of partition counts —
per-partition parallelism at any vocabulary size. At extreme scale
xxhash64(token) remains the zero-coordination alternative (same banding
topology, trades oracle-exactness).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from citydata_etl_spark.caching import scoped_persist

HASH_PRIME = 2147483647  # 2^31 - 1

#: Sanity ceiling on the bucket-offsets relation (see _global_rank /
#: ranked_tokens). The offsets are computed DISTRIBUTED (a cumulative-sum
#: window over the per-bucket counts), so there is no driver collect to
#: protect any more — but that window is deliberately unpartitioned (the
#: offsets relation is per-BUCKET, bounded by key granularity, never by
#: corpus size), so a pathological key distribution that ballooned bucket
#: cardinality would serialize it. The cap fails fast inside the plan
#: (raise_error on the bucket rank) instead of silently degrading; coarsen
#: prefix_chars or switch to xxhash64 ids past it.
MAX_RANK_BUCKETS = 100_000


def exact_dedup(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: one row per distinct text with the canonical
    (minimum) id and the duplicate count. A shuffle on the text hash; at
    scale, group on sha2(text) instead of raw text to shrink shuffle width.
    """
    return docs.groupBy(text_col).agg(
        F.min(id_col).alias("canonical_id"),
        F.count("*").alias("n_dups"),
    )


def _spread_small_input(docs: DataFrame) -> DataFrame:
    """Fan a small input out before the per-doc explode — see
    citydata_etl_spark.util.spread_small_input (file-size-based probe, no
    RDD conversion on the build path)."""
    from citydata_etl_spark.util import spread_small_input

    return spread_small_input(docs)


def tokens(docs: DataFrame, text_col: str = "text",
           id_col: str = "doc_id", distinct: bool = True) -> DataFrame:
    """(id, token) pairs from whitespace tokenization."""
    t = _spread_small_input(docs).select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("token")
    ).filter(F.col("token") != "")
    return t.distinct() if distinct else t


def _null_guarded(msg: str):
    """Column wrapper raising `msg` at execution when the value is NULL —
    a vectorized per-row branch, deliberately INSIDE the expression so the
    equi-join's inferred IsNotNull pushdown cannot prune the row before
    the guard evaluates."""
    def wrap(c: str):
        return F.when(
            F.col(c).isNull(), F.raise_error(F.lit(msg))
        ).otherwise(F.col(c))

    return wrap


def _global_rank(
    df: DataFrame, order_cols: list[str], out_col: str,
    prefix_chars: int = 2,
) -> DataFrame:
    """Deterministic 0-based global rank over rows UNIQUE on order_cols,
    with no single-partition sort over the DATA and no driver-side state:

      1. bucket every row by a MONOTONE coarsening of its order key — the
         leading order columns exactly plus a prefix_chars prefix of the
         final (string) column. Monotone means bucket(a) < bucket(b)
         implies a < b, so global rank = rank within bucket + count of
         rows in earlier buckets;
      2. row_number within each bucket (windows partitioned by bucket —
         parallelism follows bucket granularity, never 1);
      3. exclusive prefix-sum of bucket counts, computed by a cumulative
         window over the per-BUCKET count relation — bounded by bucket
         cardinality (a granularity knob: 26^prefix_chars x leading-key
         values), never by corpus size, so its unpartitioned sort touches
         a tiny relation — joined back on the bucket key (AQE broadcasts
         the offsets side).

    The whole rank is ONE lazy plan — no eager collect job, no
    createDataFrame, no Python-side sorting: every step is a
    deterministic Spark expression of the data, safe to recompute, and
    cross-bucket ordering uses Spark's own binary string ordering
    (prefix-monotone by construction, so it always agrees with the
    within-bucket orderBy).

    Guards fire INSIDE the plan via raise_error over the offsets
    relation: NULL bucket keys (the equi-join would silently drop them)
    and bucket cardinality past MAX_RANK_BUCKETS (past the cap the
    unpartitioned offsets window is no longer "tiny" — coarsen
    prefix_chars or switch to hash ids).
    """
    *head, last = order_cols
    b_names = [f"__rbkt{i}" for i in range(len(head) + 1)]
    # NULL guard rides the bucket EXPRESSION (a per-row branch, not a
    # separate check): the inner offsets equi-join makes Catalyst infer
    # IsNotNull on the bucket key and push it below any guard projection,
    # which would silently drop NULL-key rows before a standalone check
    # could see them — raising inside the expression cannot be pruned.
    nn = _null_guarded(
        "_global_rank: NULL values in order_cols are not supported "
        "(the offsets equi-join would drop them) — filter or coalesce "
        "the key columns first"
    )
    b_exprs = [
        nn(c).alias(n) for c, n in zip(head, b_names)
    ] + [F.substring(nn(last), 1, prefix_chars).alias(b_names[-1])]

    inp = scoped_persist(df.select("*", *b_exprs))
    counts = inp.groupBy(*b_names).agg(F.count("*").alias("__cnt"))
    w_b = W.orderBy(*b_names)
    off = (
        F.when(
            F.row_number().over(w_b) > MAX_RANK_BUCKETS,
            F.raise_error(F.lit(
                f"_global_rank: rank buckets exceed the {MAX_RANK_BUCKETS} "
                "cap — coarsen prefix_chars or switch to hash (xxhash64) "
                "ids for this key distribution")),
        )
        .otherwise(F.coalesce(
            F.sum("__cnt").over(w_b.rowsBetween(W.unboundedPreceding, -1)),
            F.lit(0),
        ))
    )
    offsets = counts.select(*b_names, off.cast("bigint").alias("__off"))
    w = W.partitionBy(*b_names).orderBy(*order_cols)
    return (
        inp.withColumn("__local", F.row_number().over(w) - 1)
        .join(offsets, b_names)
        .withColumn(out_col, (F.col("__local") + F.col("__off")).cast("bigint"))
        .drop(*b_names, "__local", "__off")
    )


def ranked_tokens(
    tok: DataFrame, token_col: str = "token", out_col: str = "tid",
    prefix_chars: int = 2,
) -> DataFrame:
    """Attach the global dense lexicographic rank of token_col to EVERY
    input row in place — the fused form of `join with vocabulary(tok)`:

      1. bucket each row by a prefix_chars prefix of the token (monotone
         coarsening, as in _global_rank);
      2. dense_rank within the bucket (window partitioned by bucket —
         duplicate tokens share a rank, so no distinct pass is needed);
      3. add the exclusive prefix-sum of per-bucket DISTINCT-token counts,
         computed by a cumulative window over the per-BUCKET count
         relation (bounded by 26^prefix_chars buckets, never corpus size)
         and joined back on the bucket key (tiny — AQE broadcasts it).

    vs. the vocabulary()+join shape this removes one corpus-wide distinct
    shuffle and the two-sided vocabulary equi-join — the corpus is
    exchanged ONCE (on the bucket key) and the ids are identical. The
    whole rank is ONE lazy plan: no eager collect job, no
    createDataFrame, no driver-side sorting (this was previously an
    eager bucket-count collect — a full extra materialization of the
    tokenize pipeline before the main query could start).
    Tokens must be non-NULL (callers filter empties; a NULL bucket
    raises inside the plan); rank is 0-based. The caller should persist
    `tok` — the bucket-count branch and the ranking branch each scan it.
    """
    nn = _null_guarded("ranked_tokens: NULL tokens are not supported")
    bucketed = tok.withColumn(
        "__rbkt", F.substring(nn(token_col), 1, prefix_chars)
    )
    counts = bucketed.groupBy("__rbkt").agg(
        F.count_distinct(token_col).alias("__cnt")
    )
    w_b = W.orderBy("__rbkt")
    off = (
        F.when(
            F.row_number().over(w_b) > MAX_RANK_BUCKETS,
            F.raise_error(F.lit(
                f"ranked_tokens: rank buckets exceed the {MAX_RANK_BUCKETS} "
                "cap — coarsen prefix_chars")),
        )
        .otherwise(F.coalesce(
            F.sum("__cnt").over(w_b.rowsBetween(W.unboundedPreceding, -1)),
            F.lit(0),
        ))
    )
    offsets = counts.select("__rbkt", off.cast("bigint").alias("__off"))
    w = W.partitionBy("__rbkt").orderBy(token_col)
    return (
        bucketed.withColumn("__dr", F.dense_rank().over(w))
        .join(offsets, "__rbkt")
        .withColumn(
            out_col, (F.col("__dr") - 1 + F.col("__off")).cast("bigint")
        )
        .drop("__rbkt", "__dr", "__off")
    )


def vocabulary(tok: DataFrame) -> DataFrame:
    """Dense token ids by global lexicographic rank — computed by
    _global_rank (range-partitioned, no single-partition window), so the
    vocabulary can grow with the corpus (shingle vocabularies do; Heaps'
    law does not bound n-grams) without a serialization point."""
    return _global_rank(tok.select("token").distinct(), ["token"], "tid")


def shingles(docs: DataFrame, n: int, text_col: str = "text",
             id_col: str = "doc_id", distinct: bool = True) -> DataFrame:
    """Word n-gram shingles per doc: (id, shingle) — distinct by default
    (set-semantics for Jaccard/MinHash); distinct=False keeps every
    occurrence (bag-semantics for tf-style counting).

    Each gram is built from O(n) get() lookups (constant-time on Spark's
    array layout; null-safe past the end, unlike ANSI element_at) — NOT
    slice(words, i, n) with a column start, which is O(len) per position
    and turns the doc into an O(len^2) expression. The token array is
    materialized in its own Project below the Generate: Catalyst does not
    common-subexpression-eliminate inside HOF lambdas, so inlining `words`
    would re-run split+filter for every one of the n+1 references per gram
    element."""
    toks = F.col("__toks")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))

    def gram(i):
        # concat_ws skips the trailing NULLs a short doc produces — same
        # output as array_join over a truncated slice
        return F.concat_ws(" ", *[F.get(toks, i + j) for j in range(n)])

    out = (
        _spread_small_input(docs)
        .select(
            F.col(id_col),
            F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
            .alias("__toks"),
        )
        .select(F.col(id_col), F.explode(F.transform(idx, gram)).alias("shingle"))
        .filter(F.col("shingle") != "")
    )
    return out.distinct() if distinct else out


def jaccard_bitmap_allpairs(
    sh: DataFrame, threshold: float, id_col: str = "doc_id",
    q_blocks: int = 4, c_blocks: int = 4, max_vocab: int = 4096,
    id_rel: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard pairs >= threshold for the SMALL-VOCABULARY regime —
    the case where prefix filtering (ngram_jaccard_pairs' default)
    degenerates: when the distinct-shingle vocabulary is SMALLER than
    the corpus (boilerplate-heavy crawls, template pages), even the
    globally-rarest prefix shingles are shared by ~n/|vocab| documents,
    so the candidate join materializes millions of pairs that the
    verify stage then grinds through array_intersect (measured: 7.9M
    candidates for 256 true pairs on the 5000-doc fixture, ~65 s).
    The right plan flips representation: dense-rank the vocabulary,
    hold each document's shingle set as a |vocab|-wide 0/1 indicator
    row, and sweep ALL pairs inside a 2D-blocked cogroup
    (brute_force_topk's distributed-tile pattern) where each tile's
    intersection counts are ONE BLAS sgemm, |A ∩ B| = A @ B.T — exact
    in float32 because every count is < 2^24 and bounded by max_vocab.
    (Earlier form: packed uint8 bitmaps + LUT popcount — r11 replaced
    it with the matmul, which does the same arithmetic in one
    memory pass instead of three and cut the sf0.1 sweep ~3x; the
    property test pinning equality to the prefix plan carried across
    unchanged.) NOTHING is lost because the sweep is exhaustive.
    Scale contract — ENFORCED, not advisory: the vocabulary is
    counted (one scan of the persisted rank/id relation) and a corpus
    whose distinct-shingle count exceeds `max_vocab` (default 4096,
    the indicator width) raises ValueError pointing at the
    prefix-filtered plan; large-vocabulary corpora keep that plan —
    the two regimes are complementary and the property test pins them
    equal.

    Input: the (id_col, shingle) SET relation, or — via `id_rel` — a
    precomputed dense (id_col, tid) relation shared with other
    consumers (any dense id permutation yields identical output:
    i and u are set sizes). Output: (doc_a, doc_b, i, u) integer
    intersection/union sizes for pairs with i/u >= threshold,
    doc_a < doc_b; callers derive jaccard with the SAME round
    expression as the prefix path so the two strategies are
    bit-identical."""
    import numpy as np
    import pandas as pd

    from citydata_etl_spark.operators.similarity import _blocked_grid

    if id_rel is not None:
        # precomputed DENSE-id (id, tid) relation, persisted by its
        # provider and shared with other consumers in the sweep (e.g.
        # the minhash side of d4_lsh_pair_recall) — any dense id
        # assignment works: (i, u) are SET SIZES, invariant under id
        # permutation, so the output is bit-identical to the
        # freq-ranked path. Vocab size = max id + 1 (dense contract).
        ids = id_rel.select(F.col(id_col), F.col("tid").alias("rid"))
        # Assert the dense 0-based contract instead of trusting it: a
        # 1-based or hash-mode (sparse) relation would silently widen
        # the indicator matrices and void the max_vocab guard. One
        # aggregate checks max, min, and distinct count together.
        mx, mn, nd = ids.agg(
            F.max("rid"), F.min("rid"), F.countDistinct("rid")
        ).collect()[0]
        if mx is None:
            n_vocab = 0
        elif int(mn) != 0 or int(nd) != int(mx) + 1:
            raise ValueError(
                "jaccard_bitmap_allpairs: id_rel is not a dense "
                f"0-based tid relation (min={mn}, max={mx}, "
                f"distinct={nd}); pass a rank-assigned relation "
                "(id_mode='rank'), not hash-mode ids"
            )
        else:
            n_vocab = int(mx) + 1
    else:
        freq = sh.groupBy("shingle").agg(F.count("*").alias("freq"))
        ranked = _global_rank(freq, ["freq", "shingle"], "rid").select(
            "shingle", "rid"
        )
        ranked = scoped_persist(ranked)
        n_vocab = ranked.count()
        ids = sh.join(ranked, "shingle").select(id_col, "rid")
    # ENFORCE the documented regime, don't trust the caller: a
    # large-vocabulary corpus would silently build |vocab|-bit bitmaps
    # per document and sweep quadratic tiles over them. The count is
    # one scan of the (persisted) vocabulary relation — trivial next
    # to the sweep it guards.
    if n_vocab > max_vocab:
        raise ValueError(
            f"jaccard_bitmap_allpairs: vocabulary has {n_vocab} "
            f"distinct shingles > max_vocab={max_vocab}; the bitmap "
            "all-pairs sweep is the SMALL-vocabulary tool — use the "
            "prefix-filtered plan (strategy='prefix') for this corpus"
        )
    arr = ids.groupBy(id_col).agg(F.collect_list("rid").alias("rids"))
    q, c = _blocked_grid(arr, id_col, "rids", q_blocks, c_blocks)

    def tile(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "doc_a": np.array([], dtype=np.int64),
                "doc_b": np.array([], dtype=np.int64),
                "i": np.array([], dtype=np.int64),
                "u": np.array([], dtype=np.int64),
            }
        )
        if len(left) == 0 or len(right) == 0:
            return empty
        width = 0
        for col, pdf in (("qv", left), ("cv", right)):
            for r in pdf[col]:
                if len(r):
                    width = max(width, int(max(r)) + 1)
        width = max(width, 1)

        # DENSE 0/1 float32 indicator matrices + one BLAS sgemm per
        # tile: |A ∩ B| = A @ B.T — exact in float32 (counts < 2^24,
        # vocab <= max_vocab << 2^24), and an order of magnitude
        # faster than the previous uint8-LUT popcount sweep, which
        # made three memory passes over a (q, c, vocab/8) AND tensor.
        # The dense form is affordable precisely because this is the
        # enforced SMALL-vocabulary regime (width <= max_vocab).
        def dense(pdf, col):
            lens = pdf[col].map(len).to_numpy(dtype=np.int64)
            m = np.zeros((len(pdf), width), dtype=np.float32)
            if int(lens.sum()):
                rows = np.repeat(
                    np.arange(len(pdf), dtype=np.int64), lens
                )
                cols = np.concatenate(
                    [np.asarray(r, dtype=np.int64) for r in pdf[col]]
                )
                # duplicate (row, col) writes are idempotent here (set
                # semantics: the cell is 1 either way) — unlike the
                # old packed-byte OR, no unbuffered-ufunc care needed
                m[rows, cols] = 1.0
            return m

        A = dense(left, "qv")
        B = dense(right, "cv")
        ida = left["qid"].to_numpy(dtype=np.int64)
        idb = right["cid"].to_numpy(dtype=np.int64)
        sza = np.rint(A.sum(axis=1)).astype(np.int64)
        szb = np.rint(B.sum(axis=1)).astype(np.int64)
        out_a, out_b, out_i, out_u = [], [], [], []
        # chunk the q side so the product matrix stays ~tens of MB
        step = max(1, (64 << 20) // max(len(idb) * 4, 1))
        for s in range(0, len(ida), step):
            e = min(s + step, len(ida))
            inter = np.rint(A[s:e] @ B.T).astype(np.int64)
            union = sza[s:e, None] + szb[None, :] - inter
            jac = inter / union
            mask = (jac >= threshold) & (ida[s:e, None] < idb[None, :])
            qi, ci = np.nonzero(mask)
            out_a.extend(ida[s + qi])
            out_b.extend(idb[ci])
            out_i.extend(inter[qi, ci])
            out_u.extend(union[qi, ci])
        return pd.DataFrame(
            {
                "doc_a": np.array(out_a, dtype=np.int64),
                "doc_b": np.array(out_b, dtype=np.int64),
                "i": np.array(out_i, dtype=np.int64),
                "u": np.array(out_u, dtype=np.int64),
            }
        )

    return q.groupBy("qb", "cb").cogroup(c.groupBy("qb", "cb")).applyInPandas(
        lambda left, right: tile(left, right),
        schema="doc_a BIGINT, doc_b BIGINT, i BIGINT, u BIGINT",
    )


def ngram_jaccard_pairs(
    docs: DataFrame, n: int = 3, threshold: float = 0.5,
    text_col: str = "text", id_col: str = "doc_id",
    prefix_filter: bool = True, shingle_rel: DataFrame | None = None,
    strategy: str = "prefix", id_rel: DataFrame | None = None,
    bitmap_blocks: tuple[int, int] = (4, 4),
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs above a threshold.
    Output: (doc_a, doc_b, jaccard) with doc_a < doc_b.

    prefix_filter=True (default) is the LOSSLESS scale plan — prefix
    filtering (Chaudhuri/Bayardo, the AllPairs/PPJoin family):
      1. rank shingles globally by ascending frequency (rarest first);
      2. each doc's PREFIX is its first |d| - ceil(t*|d|) + 1 shingles in
         that order — two docs with Jaccard >= t MUST share a prefix
         shingle (pigeonhole on the overlap bound), so candidate pairs
         come from an inverted index over prefixes only, where frequent
         shingles never appear;
      3. verify candidates exactly with one array_intersect per pair over
         the persisted per-doc sorted shingle-id arrays.
    On a boilerplate-heavy corpus (hot shingles shared by thousands of
    docs) this collapses the candidate join from sum(freq^2) rows to
    nearly-linear, without losing a single pair.

    prefix_filter=False keeps the naive full inverted-index join —
    quadratic in per-shingle frequency; used in tests to cross-check the
    filtered plan's exactness.
    """
    sh = (
        shingle_rel  # precomputed SET relation, provider-persisted
        if shingle_rel is not None
        else scoped_persist(shingles(docs, n, text_col, id_col))
    )
    if strategy == "bitmap":
        iu = jaccard_bitmap_allpairs(
            sh, threshold, id_col=id_col, id_rel=id_rel,
            q_blocks=bitmap_blocks[0], c_blocks=bitmap_blocks[1],
        )
        # the SAME division + round expression as the prefix path, so
        # the two strategies are bit-identical
        return iu.withColumn(
            "jaccard",
            F.round(
                F.col("i").cast("double")
                / F.col("u").cast("double"), 6),
        ).select("doc_a", "doc_b", "jaccard")
    if not prefix_filter:
        sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
        a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
        b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
        inter = (
            a.join(b, "shingle")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("i"))
        )
        sz_a = sizes.select(
            F.col(id_col).alias("doc_a"), F.col("sz").alias("sz_a")
        )
        sz_b = sizes.select(
            F.col(id_col).alias("doc_b"), F.col("sz").alias("sz_b")
        )
        jac = (
            inter.join(sz_a, "doc_a")
            .join(sz_b, "doc_b")
            .withColumn(
                "jaccard",
                F.col("i").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("i")),
            )
        )
        return jac.filter(F.col("jaccard") >= threshold).select(
            "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
        )

    # --- prefix-filtered plan ---
    # global rarity rank over the DISTINCT shingle vocabulary, computed
    # per-partition + offset (no single-partition window — the shingle
    # vocabulary grows with the corpus). Plain equi-join on shingle, no
    # broadcast hint: the rank table is corpus-dependent, so AQE decides
    # (it will broadcast only when the vocabulary actually is small).
    freq = sh.groupBy("shingle").agg(F.count("*").alias("freq"))
    ranked = _global_rank(freq, ["freq", "shingle"], "rid").select(
        "shingle", "rid"
    )
    shr = sh.join(ranked, "shingle").select(id_col, "rid")
    # per-doc sorted shingle-id array, reused by prefix AND verify stages
    arr = scoped_persist(
        shr.groupBy(id_col)
        .agg(F.array_sort(F.collect_list("rid")).alias("rids"))
        .withColumn("sz", F.size("rids"))
    )
    prefix_len = (F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1)
    pref = arr.select(
        F.col(id_col),
        F.explode(F.slice("rids", 1, prefix_len.cast("int"))).alias("rid"),
    )
    cand = (
        pref.select(F.col(id_col).alias("doc_a"), "rid")
        .join(pref.select(F.col(id_col).alias("doc_b"), "rid"), "rid")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    a_side = arr.select(
        F.col(id_col).alias("doc_a"),
        F.col("rids").alias("rids_a"),
        F.col("sz").alias("sz_a"),
    )
    b_side = arr.select(
        F.col(id_col).alias("doc_b"),
        F.col("rids").alias("rids_b"),
        F.col("sz").alias("sz_b"),
    )
    ver = (
        cand.join(a_side, "doc_a")
        .join(b_side, "doc_b")
        .withColumn(
            "i", F.size(F.array_intersect("rids_a", "rids_b"))
        )
        .withColumn(
            "jaccard",
            F.col("i").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("i")),
        )
    )
    return ver.filter(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
    )


def containment_pairs(
    docs: DataFrame, n: int = 3, threshold: float = 0.6,
    text_col: str = "text", id_col: str = "doc_id",
    shingle_rel: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram set-CONTAINMENT pairs: |A ∩ B| / min(|A|, |B|) >= t,
    output (doc_a, doc_b, containment) with doc_a < doc_b.

    Containment is the ASYMMETRIC dedup signal Jaccard misses: a short
    quote or boilerplate block fully embedded in a much longer document
    has near-zero Jaccard but containment ~1 — it's the measure behind
    quote detection and subset-document screening (Broder 1997 defines
    both; containment is his C(A,B)).

    Blocking is lossless by pigeonhole on the SMALLER side: overlap >=
    t * min(|A|,|B|) = t * |S| forces S to share one of its
    |S| - ceil(t*|S|) + 1 globally-rarest shingles, so candidates come
    from joining every doc's rarity PREFIX against the FULL inverted
    index (not prefix x prefix as in ngram_jaccard_pairs — inherent to
    containment, since the long side's own prefix bound only covers
    t * |L|, which a small overlap never reaches). Verification is one
    array_intersect over the persisted per-doc sorted shingle-id arrays.
    Cost: prefix x full-index candidate rows, bounded by per-shingle
    document frequency over the prefix vocabulary, where hot shingles
    never appear.
    """
    sh = (
        shingle_rel
        if shingle_rel is not None
        else scoped_persist(shingles(docs, n, text_col, id_col))
    )
    freq = sh.groupBy("shingle").agg(F.count("*").alias("freq"))
    ranked = _global_rank(freq, ["freq", "shingle"], "rid").select(
        "shingle", "rid"
    )
    # persisted: shr embeds the frequency aggregate + global-rank window
    # and feeds BOTH the arr aggregate and the candidate-join inverted
    # index — without the pin that sort-heavy stage executes twice
    shr = scoped_persist(sh.join(ranked, "shingle").select(id_col, "rid"))
    arr = scoped_persist(
        shr.groupBy(id_col)
        .agg(F.array_sort(F.collect_list("rid")).alias("rids"))
        .withColumn("sz", F.size("rids"))
    )
    prefix_len = (F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1)
    pref = arr.select(
        F.col(id_col).alias("p_id"),
        F.explode(F.slice("rids", 1, prefix_len.cast("int"))).alias("rid"),
    )
    cand = (
        pref.join(shr.select(F.col(id_col).alias("f_id"), "rid"), "rid")
        .filter(F.col("p_id") != F.col("f_id"))
        .select(
            F.least("p_id", "f_id").alias("doc_a"),
            F.greatest("p_id", "f_id").alias("doc_b"),
        )
        .distinct()
    )
    a_side = arr.select(
        F.col(id_col).alias("doc_a"),
        F.col("rids").alias("rids_a"),
        F.col("sz").alias("sz_a"),
    )
    b_side = arr.select(
        F.col(id_col).alias("doc_b"),
        F.col("rids").alias("rids_b"),
        F.col("sz").alias("sz_b"),
    )
    ver = (
        cand.join(a_side, "doc_a")
        .join(b_side, "doc_b")
        .withColumn("i", F.size(F.array_intersect("rids_a", "rids_b")))
        .withColumn(
            "containment",
            F.col("i").cast("double") / F.least("sz_a", "sz_b"),
        )
    )
    return ver.filter(F.col("containment") >= threshold).select(
        "doc_a", "doc_b", F.round("containment", 6).alias("containment")
    )


def _hash_params(num_hashes: int) -> list[tuple[int, int, int]]:
    """num_hashes integer LCG hash functions h_i(x) = (a_i*x + b_i) mod P
    — driver-side constants folded into the plan as literals."""
    return [
        (i, (i * 2654435761 + 1) % HASH_PRIME, (i * 40503 + 7) % HASH_PRIME)
        for i in range(num_hashes)
    ]


def _doc_token_id_rows(
    docs: DataFrame, text_col: str, id_col: str, shingle_n: int = 1,
    id_mode: str = "rank", shingle_rel: DataFrame | None = None,
    token_rel: DataFrame | None = None,
) -> DataFrame:
    """(id, tid) rows: distinct token/shingle ids per doc.

    id_mode='rank' (default): dense lexicographic rank — ORACLE-EXACT
    (reproducible in any engine), at the cost of one bounded bucket-count
    job and a partitioned rank window (ranked_tokens).
    id_mode='hash': tid = pmod(xxhash64(token), HASH_PRIME) — the
    ZERO-COORDINATION production mode the module docstring names: a pure
    codegen projection, no extra job, no window, no driver state; same
    banding topology downstream, trades engine-reproducibility (and a
    ~n_tokens^2/2^31 birthday collision allowance inside the prime
    domain, which only ever MERGES two tokens — LSH recall is unaffected
    at any realistic vocabulary).

    shingle_n > 1 hashes word n-grams instead of unigrams — essential when
    the unigram vocabulary is small relative to the corpus (every doc then
    contains nearly every token and all unigram set-signatures collide).
    """
    if id_mode not in ("rank", "hash"):
        raise ValueError(f"unknown id_mode: {id_mode!r}")
    pre_persisted = False
    if shingle_n > 1:
        if shingle_rel is not None:
            # precomputed SET-semantics (id, shingle) relation, already
            # persisted by its provider (caching.keyed_persist) — shared
            # across every shingle consumer in a sweep
            tok = shingle_rel.withColumnRenamed("shingle", "token")
            pre_persisted = True
        else:
            tok = shingles(
                docs, shingle_n, text_col, id_col
            ).withColumnRenamed("shingle", "token")
    elif token_rel is not None:
        # precomputed SET-semantics (id, token) relation, already
        # persisted by its provider (readers.read_doc_token_set)
        tok = token_rel
        pre_persisted = True
    else:
        tok = tokens(docs, text_col, id_col)
    if id_mode == "hash":
        return tok.select(
            id_col,
            F.pmod(F.xxhash64("token"), F.lit(HASH_PRIME))
            .cast("bigint")
            .alias("tid"),
        )
    # persist: tok feeds BOTH the bucket-count pass and the ranking pass of
    # ranked_tokens — without the cache the corpus explode runs twice
    # (skipped when the provider already persisted the relation)
    if not pre_persisted:
        tok = scoped_persist(tok)
    # fused vocabulary: the dense lexicographic token rank is computed IN
    # PLACE on the (id, token) rows (dense_rank within prefix bucket +
    # distinct-count offsets) — no separate distinct pass and no two-sided
    # vocabulary equi-join; ids are identical to vocabulary()'s
    return ranked_tokens(tok).select(
        id_col, F.col("tid").cast("bigint").alias("tid")
    )


def minhash_signature_arrays(
    docs: DataFrame, num_hashes: int = 16, shingle_n: int = 2,
    text_col: str = "text", id_col: str = "doc_id",
    id_mode: str = "rank", shingle_rel: DataFrame | None = None,
    id_rows: DataFrame | None = None,
) -> DataFrame:
    """(id, sigs ARRAY<BIGINT>): sigs[i] = min over shingle ids of
    (a_i*tid + b_i) mod P.

    All num_hashes minima are ONE hash aggregate over the (id, tid) rows —
    min is map-side combinable, so each shuffle partition ships one
    num_hashes-wide row per doc instead of the doc's whole tid array
    (the previous collect_list shape serialized every array through the
    exchange, then folded per row — no partial aggregation, and the wide
    fold expressions compiled slowly). a_i*tid < 2^62 for any realistic
    vocabulary, so BIGINT arithmetic never overflows.
    """
    tt = (
        # precomputed (id, tid) rows, persisted by the provider and
        # shared across the sweep's consumers (one rank job, not two)
        id_rows
        if id_rows is not None
        else _doc_token_id_rows(
            docs, text_col, id_col, shingle_n, id_mode, shingle_rel
        )
    )
    params = _hash_params(num_hashes)
    mins = tt.groupBy(id_col).agg(
        *[
            F.min(
                (F.col("tid") * F.lit(a) + F.lit(b)) % HASH_PRIME
            ).alias(f"__h{i}")
            for i, a, b in params
        ]
    )
    sigs = F.array(*[F.col(f"__h{i}") for i, _a, _b in params])
    return mins.select(F.col(id_col), sigs.alias("sigs"))


def minhash_lsh_pairs(
    docs: DataFrame, num_hashes: int = 16, band_size: int = 4,
    shingle_n: int = 2, text_col: str = "text", id_col: str = "doc_id",
    id_mode: str = "rank", shingle_rel: DataFrame | None = None,
    id_rows: DataFrame | None = None,
) -> DataFrame:
    """LSH candidate pairs: docs whose minhash signatures agree on every row
    of at least one band. Output: (doc_a, doc_b), doc_a < doc_b.

    Plan shape: per-doc signature array -> band slices (codegen, no
    shuffle) -> explode to (id, band, sig, sigs) -> self-join on
    (band, sig). Cost follows bucket collisions, not corpus^2. Skewed
    buckets (boilerplate text) are the known hazard; AQE skew-join or a
    bucket-size cap handles them.

    Pair dedup costs NO exchange: a pair agreeing on several bands emits
    only at its FIRST agreeing band — both docs' full signature arrays
    ride the band rows (num_hashes bigints, fixed width), so "no earlier
    band agrees" is an inline slice comparison. The alternative — distinct
    over the candidate pairs — re-shuffles the one relation that scales
    with bucket collisions rather than corpus size.
    """
    arr = minhash_signature_arrays(
        docs, num_hashes, shingle_n, text_col, id_col, id_mode,
        shingle_rel, id_rows
    )
    n_bands = num_hashes // band_size
    bands = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.array_join(
                    F.transform(
                        F.slice("sigs", bi * band_size + 1, band_size),
                        lambda h: h.cast("string"),
                    ),
                    ",",
                ).alias("sig"),
            )
            for bi in range(n_bands)
        ]
    )
    sig = arr.select(
        F.col(id_col), "sigs", F.explode(bands).alias("bs")
    ).select(
        id_col, "sigs",
        F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"),
    )
    # the band table feeds BOTH sides of the self-join: without persist the
    # whole tokenize->rank->signature pipeline executes twice
    sig = scoped_persist(sig)
    a = sig.select(
        F.col(id_col).alias("doc_a"), F.col("sigs").alias("sa"), "band", "sig"
    )
    b = sig.select(
        F.col(id_col).alias("doc_b"), F.col("sigs").alias("sb"), "band", "sig"
    )
    first_band = F.lit(True)
    for bi in range(n_bands):
        earlier_differs = (
            F.slice("sa", bi * band_size + 1, band_size)
            != F.slice("sb", bi * band_size + 1, band_size)
        )
        first_band = first_band & F.when(
            F.col("band") > bi, earlier_differs
        ).otherwise(F.lit(True))
    return (
        a.join(b, ["band", "sig"])
        .filter((F.col("doc_a") < F.col("doc_b")) & first_band)
        .select("doc_a", "doc_b")
    )


def simhash_fingerprints(
    docs: DataFrame, bits: int = 31,
    text_col: str = "text", id_col: str = "doc_id",
    id_mode: str = "rank", token_rel: DataFrame | None = None,
) -> DataFrame:
    """31-bit SimHash from token-id LCG hashes: bit j of the fingerprint is
    set iff sum over tokens of (2*bit_j(h(tid)) - 1) > 0.

    Integer-only → oracle-reproducible. Output: (id, fingerprint BIGINT).

    Plan shape: ONE hash aggregate over the (id, tid) rows — per bit j a
    sum of bit_j(h), plus the token count; the ±1 vote is recovered as
    2*s_j - n, so bit j is set iff 2*s_j > n. All `bits` sums partially
    aggregate map-side (each shuffle partition ships one bits-wide row
    per doc). The previous shape — collect_list to a per-doc array, then
    `bits` independent fold expressions — shipped whole arrays through
    the exchange and compiled a pathologically large codegen method.
    """
    tt = _doc_token_id_rows(
        docs, text_col, id_col, id_mode=id_mode, token_rel=token_rel
    )
    h = (F.col("tid") * F.lit(2654435761) + F.lit(104729)) % HASH_PRIME
    votes = tt.groupBy(id_col).agg(
        F.count("*").alias("__n"),
        *[
            F.sum(F.shiftright(h, j).bitwiseAND(F.lit(1))).alias(f"__s{j}")
            for j in range(bits)
        ],
    )
    fingerprint = None
    for j in range(bits):
        term = F.when(
            F.col(f"__s{j}") * 2 > F.col("__n"), F.lit(1 << j).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
        fingerprint = term if fingerprint is None else fingerprint + term
    return votes.select(F.col(id_col), fingerprint.alias("fingerprint"))


def _fingerprint_chunks(bits: int, n_chunks: int) -> list[tuple[int, int]]:
    """(shift, width) for n_chunks disjoint bit-chunks covering [0, bits),
    widths as even as possible (low chunks get the remainder)."""
    base, extra = divmod(bits, n_chunks)
    out, shift = [], 0
    for i in range(n_chunks):
        width = base + (1 if i < extra else 0)
        out.append((shift, width))
        shift += width
    return out


def hamming_pairs_blocked(
    fp: DataFrame, max_hamming: int, bits: int = 31,
    id_col: str = "doc_id", fp_col: str = "fingerprint",
) -> DataFrame:
    """Pairs of fingerprints with hamming distance <= max_hamming via
    PIGEONHOLE CHUNK-BLOCKING (the standard SimHash index, Manku et al.
    2007 "Detecting Near-Duplicates for Web Crawling"): split the `bits`
    fingerprint into max_hamming+1 disjoint chunks — at most max_hamming
    differing bits cannot touch every chunk, so two qualifying
    fingerprints agree EXACTLY on at least one chunk. Candidates come
    from an equi-join on (chunk_idx, chunk_value); verify is one
    bit_count(xor). Lossless, never a cross join: candidate cost follows
    chunk-bucket collisions (fan-out is a fixed max_hamming+1 per row),
    which is what survives a corpus where all-pairs is n^2.

    Output: (doc_a, doc_b, hamming), doc_a < doc_b, each pair once.
    """
    n_chunks = max_hamming + 1
    chunk_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("ci"),
                F.shiftright(F.col(fp_col), shift)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("cv"),
            )
            for i, (shift, width) in enumerate(
                _fingerprint_chunks(bits, n_chunks)
            )
        ]
    )
    ch = fp.select(
        F.col(id_col), F.col(fp_col), F.explode(chunk_arr).alias("c")
    ).select(
        id_col, fp_col, F.col("c.ci").alias("ci"), F.col("c.cv").alias("cv")
    )
    a = ch.select(
        F.col(id_col).alias("doc_a"), F.col(fp_col).alias("fa"), "ci", "cv"
    )
    b = ch.select(
        F.col(id_col).alias("doc_b"), F.col(fp_col).alias("fb"), "ci", "cv"
    )
    # dedup WITHOUT a distinct exchange: a pair colliding on several
    # chunks emits once, at its FIRST agreeing chunk — both fingerprints
    # ride the join row, so "no earlier chunk agrees" is an inline bit
    # test (xor has a set bit inside every chunk below ci), not a shuffle
    xor = F.col("fa").bitwiseXOR(F.col("fb"))
    chunks = _fingerprint_chunks(bits, n_chunks)
    first_agree = F.lit(True)
    for i, (shift, width) in enumerate(chunks):
        earlier_disagree = (
            xor.bitwiseAND(F.lit(((1 << width) - 1) << shift)) != 0
        )
        first_agree = first_agree & F.when(
            F.col("ci") > i, earlier_disagree
        ).otherwise(F.lit(True))
    cand = (
        a.join(b, ["ci", "cv"])
        .filter((F.col("doc_a") < F.col("doc_b")) & first_agree)
        .select("doc_a", "doc_b", "fa", "fb")
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def simhash_pairs(
    docs: DataFrame, max_hamming: int = 3,
    text_col: str = "text", id_col: str = "doc_id",
    bits: int = 31, blocked: bool = True, id_mode: str = "rank",
    token_rel: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= max_hamming.

    blocked=True (default) is the scale path: pigeonhole chunk-blocking
    (hamming_pairs_blocked) — an equi-join on (chunk_idx, chunk_value)
    with a bit_count verify, lossless and never all-pairs. blocked=False
    keeps the naive crossJoin for exactness cross-checks in tests.
    """
    fp = scoped_persist(
        simhash_fingerprints(
            docs, bits, text_col=text_col, id_col=id_col, id_mode=id_mode,
            token_rel=token_rel,
        )
    )
    if blocked:
        return hamming_pairs_blocked(fp, max_hamming, bits, id_col)
    a = fp.select(F.col(id_col).alias("doc_a"), F.col("fingerprint").alias("fa"))
    b = fp.select(F.col(id_col).alias("doc_b"), F.col("fingerprint").alias("fb"))
    return (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def dedup_groups(
    pairs: DataFrame, a_col: str = "doc_a", b_col: str = "doc_b",
    max_iter: int = 50, checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over near-dup pair edges: (doc_id, group_id)
    with group_id = the minimum doc id reachable through the pair graph —
    the canonical-representative assignment that turns pair lists (LSH,
    Jaccard, embedding near-dup) into actual dedup decisions.

    Distributed min-label propagation: each round, every node takes the
    min of its label and its neighbors' labels — one join + one groupBy
    per round, O(graph diameter) rounds (near-dup clusters are shallow).
    Convergence is detected by the (monotonically decreasing) label sum.
    Each round's label relation is TRUNCATED (util.plan_truncator,
    local_mode="checkpoint"; a fault-tolerant checkpoint_dir survives
    executor loss on long runs): the round count is the DATA-dependent
    graph diameter and each round references the previous labels twice,
    so retained lineage grows exponentially — the r17 persist-only
    experiment blew d6_curation_pipeline's plan to ~1.8M formatted
    lines and flipped its label join to SortMergeJoin (see the
    plan_truncator docstring). The loop-INVARIANT edge set IS persisted
    (r17's win, kept): every per-round truncation job and every
    re-execution reads the pair-mining result from cache instead of
    re-running it. At extreme scale, swap for the
    large-star/small-star formulation (Kiveris et al.) — same per-round
    primitives, fewer rounds.
    """
    from citydata_etl_spark.caching import scoped_persist
    from citydata_etl_spark.util import plan_truncator

    truncate = plan_truncator(
        pairs.sparkSession, checkpoint_dir, local_mode="checkpoint"
    )
    edges = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).union(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
    edges = (
        scoped_persist(edges) if checkpoint_dir is None else truncate(edges)
    )
    labels = truncate(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    prev_sum = labels.agg(F.sum("label")).first()[0]
    for _ in range(max_iter):
        prop = (
            edges.join(labels, edges.src == labels.id)
            .groupBy("dst")
            .agg(F.min("label").alias("nlabel"))
        )
        labels = truncate(
            labels.join(prop, labels.id == prop.dst, "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce("nlabel", "label")
                ).alias("label"),
            )
        )
        cur_sum = labels.agg(F.sum("label")).first()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("group_id")
    )


def dup_passage_stats(docs: DataFrame, n: int = 4, text_col: str = "text",
                      id_col: str = "doc_id",
                      shingle_rel: DataFrame | None = None) -> DataFrame:
    """ExactSubstr-inspired duplicated-passage signals (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better" — there a
    suffix array marks character spans that recur anywhere in the corpus;
    here the word-n-gram bag approximates the same signal with pure
    relational ops): per doc, the fraction of n-gram occurrences whose gram
    appears >= 2 times corpus-wide (in another doc OR repeated within this
    one).

    Output: (doc_id, n_grams, n_dup_grams, dup_passage_frac).

    Scale shape: bag-semantics shingle explode -> (doc, gram) count (one
    shuffle, map-side combined), gram totals (second shuffle on gram,
    map-side combined because (doc,gram) is already unique), join the
    per-doc-gram counts with the gram totals on gram (co-partitioned with
    the total's shuffle), reduce per doc. No windows, no arrays held per
    doc, no driver participation — every stage is a hash agg or hash join
    on a key the data is already partitioned by at 100 TB.

    shingle_rel, when given, is a precomputed BAG-semantics (id, shingle)
    relation for the same (docs, n) — typically a caching.keyed_persist
    shared with other shingle consumers so the explode runs once per
    sweep instead of once per query.
    """
    grams = (
        shingle_rel
        if shingle_rel is not None
        else shingles(docs, n, text_col, id_col, distinct=False)
    )
    # persist: `per` feeds BOTH the gram-total aggregate and the join probe
    # side — without it Spark re-runs the whole shingle explode per branch
    per = scoped_persist(
        grams.groupBy(id_col, "shingle")
        .agg(F.count("*").alias("cnt"))
    )
    tot = per.groupBy("shingle").agg(F.sum("cnt").alias("corpus_cnt"))
    return (
        per.join(tot, "shingle")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").cast("bigint").alias("n_grams"),
            F.sum(
                F.when(F.col("corpus_cnt") >= 2, F.col("cnt")).otherwise(0)
            ).cast("bigint").alias("n_dup_grams"),
        )
        .select(
            id_col,
            "n_grams",
            "n_dup_grams",
            # half-up fixed-point on BOTH engines: integer-ratio quotients
            # can be exactly dyadic (e.g. k/128 * 1e6 is a representable
            # half-integer), where round() ties break differently between
            # Spark (half-up) and DuckDB (half-even)
            (
                F.floor(
                    F.col("n_dup_grams")
                    / F.col("n_grams").cast("double") * 1000000
                    + 0.5
                ) / 1000000
            ).alias("dup_passage_frac"),
        )
    )


def exactsubstr_cut(docs: DataFrame, n: int = 4, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """ExactSubstr REMOVAL form (Lee et al. 2021 §4.1 — the DECISION
    the paper actually ships: cut the duplicated spans, keep the
    remainders): a token position is CUT iff some n-gram occurrence
    covering it appears >= 2 times corpus-wide (the same duplication
    signal dup_passage_stats only measures). Deterministic and purely
    relational, so a SQL oracle restates it end-to-end.

    Output per doc: (doc_id, n_tokens, n_cut, n_kept, kept_text) with
    kept_text the space-joined uncovered tokens in original order —
    conservation (n_kept + n_cut == n_tokens, and kept + cut tokens
    re-interleave to the original document) is pinned by a hypothesis
    test against a Python model with planted duplications.

    Scale shape: gram bag explode -> corpus gram counts (one shuffle,
    map-side combined) -> duplicated gram STARTS (join on gram) ->
    covered positions (bounded fan-out n per start, distinct) ->
    one left join against the token relation on (doc, pos) -> per-doc
    fold. Every join key is (doc_id, pos) or gram — co-partitioned
    hash joins; no windows over whole docs, no driver participation.
    Docs shorter than n tokens have no grams, so nothing is cut."""
    toks = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    base = scoped_persist(
        _spread_small_input(docs).select(
            F.col(id_col), toks.alias("toks")
        )
    )
    # gram starts s in [0, L-n]; guard the descending-sequence edge
    # (sequence(0, -1) yields [0, -1]) with an empty array
    starts = base.select(
        id_col,
        F.explode(
            F.when(
                F.size("toks") >= n,
                F.sequence(F.lit(0), F.size("toks") - n),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("s"),
        "toks",
    ).select(
        id_col, "s",
        F.concat_ws(
            " ", F.slice("toks", F.col("s") + 1, F.lit(n))
        ).alias("gram"),
    )
    cnt = starts.groupBy("gram").agg(F.count("*").alias("c"))
    dup_starts = (
        starts.join(cnt, "gram")
        .filter(F.col("c") >= 2)
        .select(id_col, "s")
    )
    covered = dup_starts.select(
        id_col,
        F.explode(
            F.sequence(F.col("s"), F.col("s") + (n - 1))
        ).alias("p"),
    ).distinct()
    tok_rel = base.select(
        id_col, F.posexplode("toks").alias("p", "tok")
    )
    marked = tok_rel.join(
        covered.withColumn("cut", F.lit(1)), [id_col, "p"], "left"
    )
    agg = marked.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.sum(F.coalesce(F.col("cut"), F.lit(0)))
        .cast("bigint").alias("n_cut"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("cut").isNull(),
                            F.struct("p", "tok"),
                        )
                    )
                ),
                lambda st: st["tok"],
            ),
        ).alias("kept_text"),
    )
    return base.select(id_col).join(agg, id_col, "left").select(
        id_col,
        F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
        F.coalesce("n_cut", F.lit(0)).cast("bigint").alias("n_cut"),
        (
            F.coalesce("n_tokens", F.lit(0)) - F.coalesce("n_cut", F.lit(0))
        ).cast("bigint").alias("n_kept"),
        F.coalesce("kept_text", F.lit("")).alias("kept_text"),
    )


def incremental_exact_dedup(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup an INCOMING batch against an EXISTING corpus — the shape
    every production ingest actually runs (a new crawl arrives; the
    100 TB corpus is already deduped; re-deduping the union from scratch
    would re-shuffle the whole corpus per batch).

    Both sides are canonicalized + digested (text.normalize_text: the
    sha2 of the normalized form), then:
      1. within-batch collapse: groupBy digest, keep min(id) — shuffle
         sized by the BATCH, not the corpus;
      2. cross-corpus screen: LEFT ANTI join of batch digests against
         corpus digests — with the corpus digest table stored
         bucketed/sorted on the digest this is a one-sided shuffle of
         the (small) batch; plain AQE otherwise.  The corpus is never
         re-aggregated: ``corpus`` here is the digest projection, which
         a real deployment persists as its dedup index.

    Output: one row per NEW distinct document — (norm_sha, keep id,
    batch-copy count).
    """
    from citydata_etl_spark.operators.text import normalize_text

    b = normalize_text(batch, text_col=text_col, id_col=id_col).select(
        id_col, "norm_sha"
    )
    collapsed = b.groupBy("norm_sha").agg(
        F.min(id_col).alias("keep_doc_id"),
        F.count("*").alias("n_batch_copies"),
    )
    corpus_digests = normalize_text(
        corpus, text_col=text_col, id_col=id_col
    ).select("norm_sha")
    return collapsed.join(corpus_digests, "norm_sha", "left_anti")


def incremental_minhash_neardup(
    batch: DataFrame,
    corpus: DataFrame,
    num_hashes: int = 16,
    band_size: int = 4,
    shingle_n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """NEAR-dup screening of an incoming batch against an existing
    corpus — the production companion to incremental_exact_dedup: a new
    crawl drop is checked for near-duplicates of the already-ingested
    100 TB WITHOUT re-pairing the corpus against itself.

    ids are ALWAYS hash mode (pmod(xxhash64(shingle), P)): cross-batch
    stability is the whole point — rank-mode ids depend on the
    vocabulary of the dataframe they were computed over, so a batch
    ranked alone and a corpus ranked alone disagree, while hashed ids
    are a pure function of the shingle text.  A real deployment
    PERSISTS the corpus's (band, sig) table as its near-dup index and
    only computes signatures for the batch; here both sides derive
    fresh, but the join topology is the deployment's: batch bands JOIN
    corpus bands on (band, sig) — cost is the batch's signature
    pipeline plus one equi-join against the index, never corpus x
    corpus.  Within-batch pairs are minhash_lsh_pairs(batch) — batch-
    sized.  Output: (batch_id, corpus_id) candidate pairs, distinct.

    Equivalence: the cross pairs equal minhash_lsh_pairs(batch UNION
    corpus, id_mode='hash') restricted to (batch, corpus) pairs —
    pinned by tests/test_dedup_similarity.py.
    """
    def bands_of(docs: DataFrame, out_id: str) -> DataFrame:
        arr = minhash_signature_arrays(
            docs, num_hashes, shingle_n, text_col, id_col, id_mode="hash"
        )
        n_bands = num_hashes // band_size
        bands = F.array(
            *[
                F.struct(
                    F.lit(bi).alias("band"),
                    F.array_join(
                        F.transform(
                            F.slice("sigs", bi * band_size + 1, band_size),
                            lambda h: h.cast("string"),
                        ),
                        ",",
                    ).alias("sig"),
                )
                for bi in range(n_bands)
            ]
        )
        return arr.select(
            F.col(id_col).alias(out_id), F.explode(bands).alias("bs")
        ).select(out_id, F.col("bs.band").alias("band"),
                 F.col("bs.sig").alias("sig"))

    b = bands_of(batch, "batch_id")
    c = bands_of(corpus, "corpus_id")
    return (
        b.join(c, ["band", "sig"])
        .select("batch_id", "corpus_id")
        .distinct()
    )


def update_dedup_index(
    spark,
    index_path: str,
    batch: DataFrame,
    batch_no: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 16,
) -> None:
    """Maintain the PERSISTED exact-dedup digest index on disk — the
    deployment shape incremental_exact_dedup's docstring describes, made
    real: the index is a bucketed control table (sources/merge.py —
    xxhash64 buckets, `_COMMIT` marker, partial rewrites) keyed on the
    normalized-content digest, holding one row per distinct content ever
    ingested: (norm_sha, keep_doc_id, first_seen_batch).

    Per ingest: normalize+digest the batch (codegen projection),
    collapse it on the digest (shuffle sized by the batch), LEFT ANTI
    against the index's digest column (one-sided — only index buckets
    containing batch digests are read, via the bucket equi-join inside
    merge_upsert's partial rewrite), and MERGE exactly the genuinely-new
    digests in. First-arrival-wins: a digest already indexed is never
    touched again, so rewrite cost per drop follows the NEW content in
    the batch, never the index size — the property that makes per-crawl
    dedup affordable against a 100 TB corpus.
    """
    from citydata_etl_spark.operators.text import normalize_text
    from citydata_etl_spark.sources import merge as M

    b = normalize_text(batch, text_col=text_col, id_col=id_col).select(
        id_col, "norm_sha"
    )
    collapsed = b.groupBy("norm_sha").agg(
        F.min(id_col).alias("keep_doc_id")
    ).withColumn("first_seen_batch", F.lit(batch_no).cast("bigint"))
    # scheme-agnostic probes (file://, hdfs://, s3a://). An absent
    # marker means "never initialized" ONLY when the directory holds no
    # table data. Over existing buckets it is a crashed prior ingest:
    # a merge that died mid-swap left its staged buckets pending, and
    # the merge's own heal finishes that swap (re-committing the
    # crashed batch), after which this batch proceeds normally. With no
    # swap pending this function cannot tell a complete index from a
    # partial one, and re-initializing would OVERWRITE the whole index
    # (silently losing every earlier batch's digests), so it refuses.
    if M.read_commit_token(spark, index_path) is None:
        M._heal_swap(spark, index_path)
    if M.read_commit_token(spark, index_path) is None:
        fs, p = M._fs_and_path(spark, index_path)
        has_data = fs.exists(p) and any(
            st.getPath().getName().startswith("bucket=")
            for st in fs.listStatus(p)
        )
        if has_data:
            raise RuntimeError(
                f"dedup index at {index_path} has bucket data but no "
                "_COMMIT marker and no pending bucket swap — the first "
                "batch's initialization crashed, or a merge crashed after "
                "its swap but before re-committing. Inspect it with "
                "read_bucketed_control(spark, path, require_commit=False):"
                " if it holds every earlier batch, re-commit it with "
                "sources.merge.write_commit_marker and retry; otherwise "
                "delete the index and re-ingest every batch in order. "
                "Initializing here would overwrite the index and lose "
                "every earlier batch's digests."
            )
        M.write_bucketed_control(
            collapsed, index_path, "norm_sha", n_buckets=n_buckets
        )
        return
    existing = M.read_bucketed_control(spark, index_path).select("norm_sha")
    new = collapsed.join(existing, "norm_sha", "left_anti")
    M.merge_upsert(spark, index_path, new, "norm_sha", n_buckets=n_buckets)


def dedup_lines(docs: DataFrame, words_per_line: int = 4,
                text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Corpus-level duplicate-LINE removal with document reassembly — the
    CCNet/RefinedWeb line-dedup stage (Wenzek et al. 2020 §4.1; Penedo et
    al. 2023 run it before MinHash): every occurrence of a line beyond its
    first across the WHOLE corpus is dropped, and surviving lines are
    stitched back into per-document text.

    Lines here are fixed `words_per_line` word windows (the fixtures' text
    has no newlines); a real corpus splits on '\\n' instead — everything
    after segmentation is identical. First-occurrence is deterministic:
    the minimum (id, position) per distinct line wins, via ONE
    row_number window partitioned by the line itself. Cost at 100 TB: one
    segmentation explode (codegen), one shuffle on the line hash for the
    window, one shuffle back on doc id for reassembly — the same
    two-exchange shape as the dup-passage profiler, with no joins. Docs
    whose every line is a duplicate still emit (n_kept = 0, empty text):
    the aggregation is over ALL segments, so the output is total over
    input docs.
    """
    words = F.split(F.col(text_col), " ")
    n_lines = F.ceil(F.size(words) / F.lit(words_per_line)).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.array_join(
            F.slice(words, i * words_per_line + 1, words_per_line), " "
        ),
    )
    seg = _spread_small_input(docs).select(
        F.col(id_col), F.posexplode(lines).alias("pos", "line")
    )
    first = W.partitionBy("line").orderBy(id_col, "pos")
    flagged = seg.withColumn("_keep", F.row_number().over(first) == 1)
    kept_struct = F.when(
        F.col("_keep"), F.struct(F.col("pos"), F.col("line"))
    )
    return flagged.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_lines"),
        F.sum(F.when(F.col("_keep"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("kept_text"),
    )


def edit1_pairs(df: DataFrame, key_col: str = "key") -> DataFrame:
    """All DISTINCT key pairs at Levenshtein distance exactly 1, found
    by SymSpell-style DELETION-NEIGHBORHOOD blocking (Garbe's SymSpell:
    block on every string obtainable by deleting one character, plus
    the string itself) — never all-pairs.

    Completeness for lev <= 1 (argued, and proved lossless against the
    naive quadratic join by a hypothesis property test): an
    insertion/deletion pair (b = a minus one char) shares b itself as
    a block key (b is a member of a's deletion neighborhood and of its
    own trivial neighborhood); a substitution pair shares the deletion
    at the differing position. The final levenshtein()==1 verify
    discards blocking false positives (distance-2 strings can share a
    deletion variant, e.g. 'aab'/'abb' both contain 'ab').

    Scale shape: the explode factor is length+1 on the DISTINCT key
    vocabulary (bounded), candidates come from an equi-join on the
    variant key whose cost is the sum of block occupancies — for
    identifier-like keys a block holds the handful of keys differing
    at one position, so candidate volume stays linear-ish in the
    vocabulary where the naive join is quadratic. The empty string is
    handled (its only variant is itself; a length-1 key's deletion
    neighborhood reaches it).
    """
    keys = df.select(F.col(key_col).alias("t")).distinct()
    dels = (
        "CASE WHEN length(t) >= 1 THEN "
        "transform(sequence(1, length(t)), "
        "i -> concat(substr(t, 1, i-1), substr(t, i+1))) "
        "ELSE array() END"
    )
    # array_distinct: repeated characters make duplicate deletion
    # variants ('aaaa' -> 'aaa' four times); emitting each (key, variant)
    # once keeps block occupancy — and the candidate join volume —
    # proportional to DISTINCT variants, with no change in results
    from citydata_etl_spark.caching import scoped_persist

    # persisted: both sides of the candidate self-join read the variant
    # table; without the persist the explode chain runs twice
    var = scoped_persist(
        keys.select(
            "t",
            F.explode(
                F.array_distinct(F.concat(F.array(F.col("t")), F.expr(dels)))
            ).alias("v"),
        )
    )
    a = var.select(F.col("t").alias("key_a"), "v")
    b = var.select(F.col("t").alias("key_b"), "v")
    cand = (
        a.join(b, "v")
        .filter(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b")
        .distinct()
    )
    return cand.filter(F.levenshtein("key_a", "key_b") == 1)
