"""Algorithmic property tests for the LLM-pipeline operators: LSH recall
vs exact Jaccard, SimHash hamming vs similarity, ANN recall vs brute
force — on synthetic corpora with planted near-duplicates."""

from __future__ import annotations

import random

import pytest

from pyspark.sql import functions as F

from citydata_etl_spark.operators import dedup as D
from citydata_etl_spark.operators import similarity as S


@pytest.fixture(scope="module")
def planted_docs(spark):
    """60 docs: 20 bases, each with a near-duplicate (1 token changed) and
    one unrelated doc, from a 200-word vocabulary."""
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(200)]
    rows = []
    doc_id = 0
    for b in range(20):
        base = [rng.choice(vocab) for _ in range(30)]
        near = list(base)
        near[rng.randrange(30)] = rng.choice(vocab)
        unrelated = [rng.choice(vocab) for _ in range(30)]
        for toks in (base, near, unrelated):
            rows.append((doc_id, " ".join(toks)))
            doc_id += 1
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def test_exact_dedup_identity(spark, planted_docs):
    dup = planted_docs.union(planted_docs.limit(5))  # 5 exact dups
    out = D.exact_dedup(dup).collect()
    n_dups = sum(r["n_dups"] - 1 for r in out)
    assert n_dups == 5
    assert all(r["n_dups"] >= 1 for r in out)


def test_minhash_lsh_recall(spark, planted_docs):
    """Every planted near-dup pair (jaccard >= ~0.85) must be an LSH
    candidate; candidates are a superset of high-jaccard pairs."""
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in D.ngram_jaccard_pairs(
            planted_docs, n=1, threshold=0.8
        ).collect()
    }
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in D.minhash_lsh_pairs(planted_docs).collect()
    }
    assert exact, "fixture must contain high-jaccard pairs"
    recall = len(exact & cand) / len(exact)
    assert recall >= 0.9, f"LSH recall too low: {recall}"


def test_simhash_separates(spark, planted_docs):
    """Near-dup pairs must have smaller hamming distance than unrelated
    pairs on average."""
    fp = {r["doc_id"]: r["fingerprint"]
          for r in D.simhash_fingerprints(planted_docs).collect()}

    def ham(a, b):
        return bin(fp[a] ^ fp[b]).count("1")

    near = [ham(3 * i, 3 * i + 1) for i in range(20)]
    far = [ham(3 * i, 3 * i + 2) for i in range(20)]
    assert sum(near) / len(near) < sum(far) / len(far)


def test_ngram_jaccard_bounds(spark, planted_docs):
    out = D.ngram_jaccard_pairs(planted_docs, n=2, threshold=0.5).collect()
    assert all(0.5 <= r["jaccard"] <= 1.0 for r in out)
    assert all(r["doc_a"] < r["doc_b"] for r in out)


@pytest.fixture(scope="module")
def clustered_vecs(spark):
    """10 clusters x 10 vectors, tight within-cluster cosine."""
    rng = random.Random(11)
    rows = []
    vid = 0
    for c in range(10):
        center = [rng.gauss(0, 1) for _ in range(16)]
        for _ in range(10):
            v = [x + rng.gauss(0, 0.05) for x in center]
            rows.append((vid, [float(x) for x in v], c))
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<FLOAT>, label INT"
    )


def test_brute_force_topk_finds_cluster(spark, clustered_vecs):
    out = S.brute_force_topk(clustered_vecs, k=5)
    labels = {r["vec_id"]: r["label"] for r in clustered_vecs.collect()}
    rows = out.collect()
    assert len(rows) == 100 * 5
    same = sum(labels[r["query_id"]] == labels[r["neighbor_id"]] for r in rows)
    assert same / len(rows) > 0.95  # neighbors come from the same cluster


def test_ann_lsh_recall_vs_brute(spark, clustered_vecs):
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in S.brute_force_topk(clustered_vecs, k=3).collect()
    }
    ann = {
        (r["query_id"], r["neighbor_id"])
        for r in S.lsh_bucket_topk(clustered_vecs, k=3, n_planes=4).collect()
    }
    recall = len(brute & ann) / len(brute)
    assert recall >= 0.5, f"ANN recall vs brute force too low: {recall}"


def _lsh_model(rows, k, n_planes, n_probe_bits=0):
    """Independent Python model of lsh_bucket_topk's single-table
    contract: integer-LCG centered planes, micros-quantized embeddings,
    exact integer sign bits, hamming-1 probes when n_probe_bits=1, exact
    cosine rerank (HALF_UP at 4 digits), (cos DESC, id) ranks."""
    import math

    import numpy as np

    ids = [r["vec_id"] for r in rows]
    V = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
         for r in rows}
    mic = {i: [int(x) for x in np.floor(V[i] * 1e6 + 0.5)] for i in ids}
    dim = len(mic[ids[0]])
    m = 2147483647
    planes = [
        [((1103515245 * (p * dim + d) + 12345) % m) - 1073741823
         for d in range(dim)]
        for p in range(n_planes)
    ]
    bucket = {
        i: sum(
            1 << p for p in range(n_planes)
            if sum(x * c for x, c in zip(mic[i], planes[p])) > 0
        )
        for i in ids
    }

    def cos(a, b):
        d = float(V[a] @ V[b]) / (
            math.sqrt(float(V[a] @ V[a])) * math.sqrt(float(V[b] @ V[b]))
        )
        return math.copysign(math.floor(abs(d) * 1e4 + 0.5) / 1e4, d)

    expect = set()
    for q in ids:
        probes = {bucket[q]}
        if n_probe_bits:
            probes |= {bucket[q] ^ (1 << p) for p in range(n_planes)}
        cands = [n for n in ids if n != q and bucket[n] in probes]
        ranked = sorted(cands, key=lambda n: (-cos(q, n), n))[:k]
        for rnk, n in enumerate(ranked, 1):
            expect.add((q, n, cos(q, n), rnk))
    return expect


def test_ann_lsh_exactsign_recall_and_sign_agreement(spark, clustered_vecs):
    """lsh_bucket_topk's integer signs must (a) keep recall vs brute
    force on the clustered corpus, with multi-probe only widening, and
    (b) agree BIT-FOR-BIT with an independent Python model of the
    integer-sign contract (_lsh_model), single-bucket and hamming-1
    multi-probe, on the diffuse sf0.001 embeddings at the catalog's
    8 planes (there the buckets decide the answer), so the Spark
    pipeline and the DuckDB oracle are two of three independent
    statements of the same function."""
    from tests.conftest import SF_SMOKE

    from citydata_etl_spark.sources.readers import read_testdata

    def picks(emb, **kw):
        return {
            (r["query_id"], r["neighbor_id"], r["cos_sim"], r["rnk"])
            for r in S.lsh_bucket_topk(emb, **kw).collect()
        }

    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in S.brute_force_topk(clustered_vecs, k=3).collect()
    }
    got = picks(clustered_vecs, k=3, n_planes=4)
    recall = len(brute & {(q, n) for q, n, _, _ in got}) / len(brute)
    assert recall >= 0.5, f"exact-sign ANN recall too low: {recall}"
    got_mp = picks(clustered_vecs, k=3, n_planes=4, n_probe_bits=1)
    assert len(got_mp) >= len(got)  # probing only widens

    emb = read_testdata(spark, SF_SMOKE, "embeddings")
    rows = emb.collect()
    for bits in (0, 1):
        assert picks(emb, k=5, n_planes=8, n_probe_bits=bits) == _lsh_model(
            rows, k=5, n_planes=8, n_probe_bits=bits
        ), f"n_probe_bits={bits}"


def test_lsh_multitable_lifts_recall(spark, clustered_vecs):
    """The L-table lever must (a) strictly widen recall over the
    single-table topology at the same total plane budget (a true
    neighbor only needs ONE collision), and (b) reach high recall on
    clustered data at a SMALL candidate fraction — the claim the
    d4_ann_multitable_recall entry doc makes. A pair colliding in
    several tables must still be ranked once."""
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in S.brute_force_topk(clustered_vecs, k=3).collect()
    }

    def recall(picks):
        got = {(r["query_id"], r["neighbor_id"]) for r in picks}
        return len(brute & got) / len(brute)

    single = recall(
        S.lsh_bucket_topk(clustered_vecs, k=3, n_planes=8).collect()
    )
    picks = S.lsh_bucket_topk(
        clustered_vecs, k=3, n_tables=2, n_planes=4
    ).collect()
    multi = recall(picks)
    assert multi >= single, f"multi-table lowered recall: {multi} < {single}"
    assert multi >= 0.8, f"clustered multi-table recall too low: {multi}"
    pairs = [(r["query_id"], r["neighbor_id"]) for r in picks]
    assert len(pairs) == len(set(pairs))


def test_mmr_batch_ann_full_probe_equals_exact(spark):
    """mmr_batch_ann with n_probe == n_centroids probes every list, so
    its candidate set — and therefore every greedy pick — must equal
    the exact-candidate mmr_batch bit-for-bit: the probe is the ONLY
    divergence between the two paths. Also checks that the real probe
    (n_probe < n_centroids) still yields k picks per query."""
    from pyspark.sql import functions as F

    from citydata_etl_spark.operators.similarity import (
        lcg_pick,
        mmr_batch,
        mmr_batch_ann,
    )
    from citydata_etl_spark.sources.readers import read_testdata

    emb = read_testdata(spark, "/root/testdata/sf0.001", "embeddings")
    queries = (
        emb.select("vec_id")
        .withColumn("lcg", lcg_pick(F.col("vec_id")))
        .orderBy("lcg", "vec_id").limit(3)
        .select(F.col("vec_id").alias("query_id"))
    )
    exact = sorted(
        tuple(r) for r in mmr_batch(emb, queries, k=3, n_cand=16).collect()
    )
    full = sorted(
        tuple(r)
        for r in mmr_batch_ann(
            emb, queries, k=3, n_cand=16, n_centroids=16, n_probe=16
        ).collect()
    )
    assert full == exact
    probed = mmr_batch_ann(
        emb, queries, k=3, n_cand=16, n_centroids=16, n_probe=4
    ).collect()
    by_q = {}
    for r in probed:
        by_q.setdefault(r["query_id"], []).append(r["rnk"])
    assert all(sorted(v) == [1, 2, 3] for v in by_q.values())
    assert len(by_q) == 3


def test_ann_recall_at_k_counts_and_cross_check(spark, clustered_vecs):
    """recall_vs_exact's integer counters over lsh_bucket_topk's picks
    must be internally consistent
    (n_hit <= min(n_exact, n_ann), n_exact <= k) and must reproduce the
    set-overlap recall computed independently from the two constituent
    operators; on the clustered corpus the aggregate recall@3 is high
    (same bound as the constituent recall tests)."""
    out = {
        r["query_id"]: (r["n_exact"], r["n_ann"], r["n_hit"])
        for r in S.recall_vs_exact(
            clustered_vecs,
            S.lsh_bucket_topk(clustered_vecs, k=3, n_planes=4),
            k=3,
        ).collect()
    }
    assert set(out) == {r["vec_id"] for r in clustered_vecs.collect()}
    for q, (n_exact, n_ann, n_hit) in out.items():
        assert 0 < n_exact <= 3, (q, n_exact)
        assert 0 <= n_hit <= min(n_exact, n_ann), (q, n_exact, n_ann, n_hit)
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in S.brute_force_topk(clustered_vecs, k=3).collect()
    }
    ann = {
        (r["query_id"], r["neighbor_id"])
        for r in S.lsh_bucket_topk(clustered_vecs, k=3, n_planes=4).collect()
    }
    assert sum(h for _, _, h in out.values()) == len(brute & ann)
    recall = sum(h for _, _, h in out.values()) / sum(
        e for e, _, _ in out.values()
    )
    assert recall >= 0.5, f"aggregate recall@3 too low: {recall}"


def test_ann_ivf_exactseed_recall_and_model_agreement(spark, clustered_vecs):
    """The oracle-exact IVF twin must (a) keep recall vs brute force, and
    (b) agree BIT-FOR-BIT with an independent Python model of its
    contract — LCG seed pick, integer-micros dot assignment/probes,
    exact cosine rerank — so the Spark pipeline and the DuckDB oracle
    are two of three independent statements of the same function."""
    import math

    import numpy as np

    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in S.brute_force_topk(clustered_vecs, k=3).collect()
    }
    out = S.ivf_topk_exact(
        clustered_vecs, k=5, n_centroids=16, n_probe=4, n_iter=0
    ).collect()
    got = {(r["query_id"], r["neighbor_id"], r["cos_sim"], r["rnk"])
           for r in out}
    top3 = {(r["query_id"], r["neighbor_id"]) for r in out if r["rnk"] <= 3}
    recall = len(brute & top3) / len(brute)
    assert recall >= 0.5, f"exact-seed IVF recall too low: {recall}"

    rows = clustered_vecs.collect()
    ids = [r["vec_id"] for r in rows]
    V = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
         for r in rows}
    mic = {i: np.floor(V[i] * 1e6 + 0.5).astype(np.int64) for i in ids}
    seeds = sorted(
        ids, key=lambda i: ((1103515245 * (i % 2147483647) + 12345) % 2147483647, i)
    )[:16]

    def centroid_order(i):
        dots = [int(mic[i] @ mic[s]) for s in seeds]
        return sorted(range(16), key=lambda c: (-dots[c], c))

    assign = {i: centroid_order(i)[0] for i in ids}
    probes = {i: set(centroid_order(i)[:4]) for i in ids}

    def cos(a, b):
        d = float(V[a] @ V[b]) / (
            math.sqrt(float(V[a] @ V[a])) * math.sqrt(float(V[b] @ V[b]))
        )
        # HALF_UP at 4 digits (Spark/DuckDB round semantics)
        return math.copysign(math.floor(abs(d) * 1e4 + 0.5) / 1e4, d)

    expect = set()
    for qid in ids:
        cands = [n for n in ids if n != qid and assign[n] in probes[qid]]
        ranked = sorted(cands, key=lambda n: (-cos(qid, n), n))[:5]
        for rnk, n in enumerate(ranked, 1):
            expect.add((qid, n, cos(qid, n), rnk))
    assert got == expect


def test_ann_ivf_distexact_matches_model(spark, clustered_vecs):
    """The distributed-trainer twin vs an independent Python model of its
    contract: LCG seed init, then TWO chained Lloyd iterations —
    integer-dot assignment, floored integer-mean centroid update
    (Python // is the same floor division as the engine's
    (s - pmod(s,n)) div n), empty clusters carrying the previous
    centroid — then assignment/probes against the final centroids and
    exact cosine rerank. Also: each iteration must actually move at
    least one centroid, so the test can't pass vacuously on the
    n_iter=0 (seed-centroid) topology or on a single-iteration trainer."""
    import math

    import numpy as np

    out = S.ivf_topk_exact(
        clustered_vecs, k=5, n_centroids=16, n_probe=4, n_iter=2
    ).collect()
    got = {(r["query_id"], r["neighbor_id"], r["cos_sim"], r["rnk"])
           for r in out}
    rows = clustered_vecs.collect()
    ids = [r["vec_id"] for r in rows]
    V = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
         for r in rows}
    mic = {i: [int(x) for x in np.floor(V[i] * 1e6 + 0.5).astype(np.int64)]
           for i in ids}
    seeds = sorted(
        ids, key=lambda i: ((1103515245 * (i % 2147483647) + 12345) % 2147483647, i)
    )[:16]
    dim = len(mic[ids[0]])

    def idot(a, b):
        return sum(x * y for x, y in zip(a, b))

    def lloyd_step(cents):
        members = {}
        for i in ids:
            c = min(range(16), key=lambda c: (-idot(mic[i], cents[c]), c))
            members.setdefault(c, []).append(i)
        nxt, moved = [], 0
        for c in range(16):
            ms = members.get(c)
            if not ms:
                nxt.append(cents[c])
                continue
            trained = [
                sum(mic[i][d] for i in ms) // len(ms) for d in range(dim)
            ]
            moved += trained != cents[c]
            nxt.append(trained)
        return nxt, moved

    cents = [mic[s] for s in seeds]
    for it in range(2):
        cents, moved = lloyd_step(cents)
        assert moved > 0, f"iteration {it}: no centroid moved"

    def order1(i):
        dots = [idot(mic[i], cents[c]) for c in range(16)]
        return sorted(range(16), key=lambda c: (-dots[c], c))

    assign = {i: order1(i)[0] for i in ids}
    probes = {i: set(order1(i)[:4]) for i in ids}

    def cos(a, b):
        d = float(V[a] @ V[b]) / (
            math.sqrt(float(V[a] @ V[a])) * math.sqrt(float(V[b] @ V[b]))
        )
        return math.copysign(math.floor(abs(d) * 1e4 + 0.5) / 1e4, d)

    expect = set()
    for qid in ids:
        cands = [n for n in ids if n != qid and assign[n] in probes[qid]]
        ranked = sorted(cands, key=lambda n: (-cos(qid, n), n))[:5]
        for rnk, n in enumerate(ranked, 1):
            expect.add((qid, n, cos(qid, n), rnk))
    assert got == expect


def test_ann_pq_exactseed_matches_model(spark, clustered_vecs):
    """The fully-integer IVF-PQ twin vs an independent Python model of
    its contract: LCG seeds as coarse centroids AND subspace codebooks,
    BIGINT dot coarse probing, squared-L2 integer code assignment, and
    the integer ADC pair score. Also sanity: ADC top-3 still finds
    mostly same-cluster neighbors (quantization is lossy but not
    random)."""
    import numpy as np

    m, sub = 4, 4  # 16-dim fixture
    out = S.pq_topk_exactseed(
        clustered_vecs, k=5, n_centroids=16, n_probe=4, m_subspaces=m
    ).collect()
    got = {(r["query_id"], r["neighbor_id"], r["adc_d2"], r["rnk"])
           for r in out}

    rows = clustered_vecs.collect()
    ids = [r["vec_id"] for r in rows]
    V = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
         for r in rows}
    mic = {i: np.floor(V[i] * 1e6 + 0.5).astype(np.int64) for i in ids}
    seeds = sorted(
        ids, key=lambda i: ((1103515245 * (i % 2147483647) + 12345) % 2147483647, i)
    )[:16]

    def coarse_order(i):
        dots = [int(mic[i] @ mic[s]) for s in seeds]
        return sorted(range(16), key=lambda c: (-dots[c], c))

    assign = {i: coarse_order(i)[0] for i in ids}
    probes = {i: set(coarse_order(i)[:4]) for i in ids}

    def d2(i, j, code):
        a = mic[i][j * sub:(j + 1) * sub]
        b = mic[seeds[code]][j * sub:(j + 1) * sub]
        return int(((a - b) ** 2).sum())

    ncode = {
        (i, j): min(range(16), key=lambda c: (d2(i, j, c), c))
        for i in ids for j in range(m)
    }
    expect = set()
    for qid in ids:
        cands = [n for n in ids if n != qid and assign[n] in probes[qid]]
        scored = sorted(
            ((sum(d2(qid, j, ncode[(n, j)]) for j in range(m)), n)
             for n in cands)
        )[:5]
        for rnk, (dist, n) in enumerate(scored, 1):
            expect.add((qid, n, dist, rnk))
    assert got == expect

    labels = {r["vec_id"]: r["label"] for r in rows}
    top3 = [(r["query_id"], r["neighbor_id"]) for r in out if r["rnk"] <= 3]
    same = sum(labels[q] == labels[n] for q, n in top3)
    assert same / len(top3) > 0.6


def test_ann_lsh_multiprobe_improves_recall(spark, clustered_vecs):
    """Hamming-distance-1 multi-probe must dominate single-bucket recall
    (it strictly widens each query's candidate set)."""
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in S.brute_force_topk(clustered_vecs, k=3).collect()
    }

    def recall(n_probe_bits):
        ann = {
            (r["query_id"], r["neighbor_id"])
            for r in S.lsh_bucket_topk(
                clustered_vecs, k=3, n_planes=4, n_probe_bits=n_probe_bits
            ).collect()
        }
        return len(brute & ann) / len(brute)

    r0, r1 = recall(0), recall(1)
    assert r1 >= r0, f"multi-probe lowered recall: {r1} < {r0}"
    assert r1 >= 0.7, f"multi-probe recall too low: {r1}"


def test_cosine_neardup_pairs_cluster_structure(spark, clustered_vecs):
    """High threshold pairs up exactly the planted clusters: every pair is
    intra-cluster, each id_a < id_b appears once, and the pair set covers
    (nearly) all intra-cluster pairs."""
    out = S.cosine_neardup_pairs(clustered_vecs, threshold=0.95).collect()
    labels = {r["vec_id"]: r["label"] for r in clustered_vecs.collect()}
    assert out, "no near-dup pairs found at threshold 0.95"
    seen = set()
    for r in out:
        assert r["id_a"] < r["id_b"]
        assert (r["id_a"], r["id_b"]) not in seen
        seen.add((r["id_a"], r["id_b"]))
        assert r["cos_sim"] >= 0.95
        assert labels[r["id_a"]] == labels[r["id_b"]], "cross-cluster pair"
    # 10 clusters x C(10,2)=45 intra pairs; tight clusters -> near-full
    assert len(seen) >= 0.9 * 10 * 45


def test_dedup_groups_components(spark):
    """Label propagation finds exact components: two chains and a triangle,
    each labeled by its minimum id; a long chain needs several rounds."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),      # chain 1-5
         (10, 11), (11, 12),                   # chain 10-12
         (20, 21), (21, 22), (20, 22)],        # triangle
        "doc_a LONG, doc_b LONG",
    )
    got = {r["doc_id"]: r["group_id"] for r in D.dedup_groups(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 12: 10,
                   20: 20, 21: 20, 22: 20}


def test_iterative_ops_reliable_checkpoint(spark, tmp_path):
    """The checkpoint_dir knob must switch pagerank and dedup_groups
    from executor-local localCheckpoint to RELIABLE checkpoint() —
    identical results, and checkpoint files actually land in the given
    fault-tolerant directory (the 1000-executor posture where a lost
    executor must not rerun the whole iteration chain)."""
    import os

    from citydata_etl_spark.operators.dedup import dedup_groups
    from citydata_etl_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (10, 11), (20, 20)], "src LONG, dst LONG"
    )
    ckpt = str(tmp_path / "ckpt")
    pr_local = {r.node: r.pr for r in pagerank(edges, n_iter=3).collect()}
    pr_rel = {
        r.node: r.pr
        for r in pagerank(edges, n_iter=3, checkpoint_dir=ckpt).collect()
    }
    assert pr_rel == pr_local
    assert any(os.scandir(ckpt)), "no reliable checkpoint files written"

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], "doc_a LONG, doc_b LONG"
    )
    ckpt2 = str(tmp_path / "ckpt2")
    g_local = {
        r.doc_id: r.group_id for r in dedup_groups(pairs).collect()
    }
    g_rel = {
        r.doc_id: r.group_id
        for r in dedup_groups(pairs, checkpoint_dir=ckpt2).collect()
    }
    assert g_rel == g_local == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}
    assert any(os.scandir(ckpt2))


def test_salted_join_matches_plain_join(spark):
    """Salting must not change join semantics: a skewed fact (one hot key)
    joined to a dim gives identical results salted and unsalted."""
    from citydata_etl_spark.operators.joins import salted_join

    fact = spark.createDataFrame(
        [(1, i) for i in range(500)] + [(k, 0) for k in range(2, 12)],
        "k LONG, v LONG",
    )
    dim = spark.createDataFrame(
        [(k, f"d{k}") for k in range(1, 12)], "k LONG, name STRING"
    )
    plain = {(r["k"], r["v"], r["name"])
             for r in fact.join(dim, "k").collect()}
    salted = {(r["k"], r["v"], r["name"])
              for r in salted_join(fact, dim, "k", n_salts=8).collect()}
    assert salted == plain and len(plain) == 510


def test_ivf_recall_vs_brute(spark, clustered_vecs):
    """IVF with enough probes recovers most true neighbors on clustered
    data; with all clusters probed it is exact."""
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in S.brute_force_topk(clustered_vecs, k=3).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in S.ivf_topk(
            clustered_vecs, k=3, n_centroids=8, n_probe=3
        ).collect()
    }
    recall = len(brute & ivf) / len(brute)
    assert recall >= 0.8, f"IVF recall too low: {recall}"
    full = {
        (r["query_id"], r["neighbor_id"])
        for r in S.ivf_topk(
            clustered_vecs, k=3, n_centroids=4, n_probe=4
        ).collect()
    }
    assert full == brute, "probing every cluster must be exact"


def test_ivf_max_list_len_caps_candidates(spark, clustered_vecs):
    """max_list_len (r14, the rehearsal's candidate-volume lever)
    bounds per-query candidates at n_probe * cap regardless of corpus
    size. Pins: (a) the cap is a SUBSET rule — every capped result
    pair also appears when running against only the kept members, by
    construction of the deterministic smallest-xxhash64 draw (checked
    via result-set equality with a manually pre-capped corpus as the
    candidate side is the only thing trimmed); (b) recall degrades
    gracefully, not to zero; (c) a cap larger than every list is a
    no-op (bit-identical to uncapped); (d) no query returns more than
    k rows and ranks stay 1..k dense."""
    uncapped = S.ivf_topk(
        clustered_vecs, k=3, n_centroids=4, n_probe=4)
    capped_big = S.ivf_topk(
        clustered_vecs, k=3, n_centroids=4, n_probe=4,
        max_list_len=10 ** 6)
    a = {tuple(r) for r in uncapped.collect()}
    b = {tuple(r) for r in capped_big.collect()}
    assert a == b  # (c)

    out = S.ivf_topk(
        clustered_vecs, k=3, n_centroids=4, n_probe=2, max_list_len=8
    ).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append(r["rnk"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) and len(v) <= 3
               for v in per_q.values())  # (d)
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in S.brute_force_topk(clustered_vecs, k=3).collect()
    }
    got = {(r["query_id"], r["neighbor_id"]) for r in out}
    recall = len(brute & got) / len(brute)
    assert 0.05 < recall < 1.0, recall  # (b): degraded, not dead


def test_ivf_posture_for_derivation():
    """r17 VERDICT task 1: the capped-IVF sizing is SELF-ACTING (the
    state_partitions_for pattern) — (n_centroids, n_probe) derive from
    corpus size so mean occupancy never exceeds the list cap and the
    r16 silent-recall-loss mode (uniform trim of every list at
    occupancy > cap, agreement 0.557 at 100x) cannot occur. Pins the
    regime boundary, the occupancy invariant, the constant per-query
    candidate bound in the capped regime, and the floors."""
    import math

    # sqrt regime (n <= cap^2): classic sqrt sizing, base probes
    assert S.ivf_posture_for(2_000) == (45, 4)
    assert S.ivf_posture_for(20_000) == (141, 4)
    assert S.ivf_posture_for(256 ** 2) == (256, 4)  # boundary inclusive
    # capped regime: mean occupancy held at cap/headroom (the measured
    # phase-2 posture: occupancy AT the cap plateaued at recall 0.824
    # from imbalance clipping; headroom 2 measured 0.9791), probes
    # escalated by the measured factor (SCALE_REHEARSAL_r17.json)
    nc, npr = S.ivf_posture_for(200_000)
    assert nc == math.ceil(200_000 * S.IVF_OCCUPANCY_HEADROOM / 256)
    assert nc == 1563  # the phase-2 measured arm
    assert npr == 4 * S.IVF_PROBE_ESCALATION
    # regime-boundary window (r17 review finding): round(sqrt(n))
    # rounding must not admit occupancy past the cap just above cap^2
    assert S.ivf_posture_for(65_700)[0] == math.ceil(65_700 / 128)
    assert S.ivf_posture_for(72, max_list_len=8) == (18, 8)
    prev_nc = 0
    for n in (100, 10 ** 4, 65_600, 10 ** 5, 10 ** 6, 10 ** 8):
        nc, npr = S.ivf_posture_for(n)
        assert n / nc <= 256 + 1e-9  # occupancy never exceeds the cap
        if n > 256 ** 2:  # capped regime: headroom invariant
            assert n / nc <= 256 / S.IVF_OCCUPANCY_HEADROOM + 1e-9
        assert nc >= prev_nc  # monotone in corpus size
        prev_nc = nc
        # per-query candidates bounded by a constant independent of n
        assert npr * 256 <= 4 * S.IVF_PROBE_ESCALATION * 256
    # floors and custom cap
    assert S.ivf_posture_for(0) == (8, 4)
    assert S.ivf_posture_for(10) == (8, 4)
    nc, npr = S.ivf_posture_for(200, max_list_len=8)
    assert nc == 50 and npr == 4 * S.IVF_PROBE_ESCALATION


def test_ivf_exactseed_cap_matches_reference(spark, clustered_vecs):
    """r16 VERDICT task 1: the capped production posture under an
    oracle-exact statement. ivf_topk_exact(max_list_len=m) must
    agree BIT-FOR-BIT with an independent Python model of the capped
    contract — LCG seed pick, integer-dot assign/probe, lists
    truncated to their m members with the smallest (LCG(id), id),
    exact cosine rerank — with the cap verifiably ACTIVE (some list
    over occupancy, result != uncapped) and the per-query candidate
    bound n_probe * m holding. Also asserts the catalog entry's
    configuration (16 lists, cap 16) is ACTIVE on the driver's sf0.01
    embeddings: mean occupancy ~31 > 16, so the driver row exercises
    the truncated candidate set, not a no-op flag."""
    import math

    import numpy as np

    cap = 3
    out = S.ivf_topk_exact(
        clustered_vecs, k=5, n_centroids=16, n_probe=4, max_list_len=cap
    ).collect()
    got = {(r["query_id"], r["neighbor_id"], r["cos_sim"], r["rnk"])
           for r in out}

    rows = clustered_vecs.collect()
    ids = [r["vec_id"] for r in rows]
    V = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
         for r in rows}
    mic = {i: np.floor(V[i] * 1e6 + 0.5).astype(np.int64) for i in ids}

    def lcg(i):
        return (1103515245 * (i % 2147483647) + 12345) % 2147483647

    seeds = sorted(ids, key=lambda i: (lcg(i), i))[:16]

    def centroid_order(i):
        dots = [int(mic[i] @ mic[s]) for s in seeds]
        return sorted(range(16), key=lambda c: (-dots[c], c))

    assign = {i: centroid_order(i)[0] for i in ids}
    probes = {i: set(centroid_order(i)[:4]) for i in ids}
    lists: dict[int, list] = {}
    for i in ids:
        lists.setdefault(assign[i], []).append(i)
    # the cap must be ACTIVE on this corpus
    assert max(len(v) for v in lists.values()) > cap
    kept = {
        i
        for members in lists.values()
        for i in sorted(members, key=lambda i: (lcg(i), i))[:cap]
    }

    def cos(a, b):
        d = float(V[a] @ V[b]) / (
            math.sqrt(float(V[a] @ V[a])) * math.sqrt(float(V[b] @ V[b]))
        )
        return math.copysign(math.floor(abs(d) * 1e4 + 0.5) / 1e4, d)

    expect = set()
    for qid in ids:
        cands = [n for n in kept
                 if n != qid and assign[n] in probes[qid]]
        assert len(cands) <= 4 * cap  # the production bound
        ranked = sorted(cands, key=lambda n: (-cos(qid, n), n))[:5]
        for rnk, n in enumerate(ranked, 1):
            expect.add((qid, n, cos(qid, n), rnk))
    assert got == expect

    # the cap changed the answer (not a no-op on this corpus)
    uncapped = {
        tuple(r)
        for r in S.ivf_topk_exact(
            clustered_vecs, k=5, n_centroids=16, n_probe=4
        ).collect()
    }
    assert {tuple(r) for r in out} != uncapped

    # the catalog entry's cap (16 lists, max_list_len=16) is ACTIVE at
    # the driver's sf0.01: occupancy exceeds the cap
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    occ = (
        S._int_probe(
            S._int_base(emb, "vec_id", "embedding"),
            S._lcg_seed_rows(emb, 16, "vec_id", "embedding"), 1,
        )
        .groupBy("cidx").count()
        .agg(F.max("count")).collect()[0][0]
    )
    assert occ > 16, f"cap inactive at sf0.01: max occupancy {occ}"


def test_semantic_dedup_matches_numpy_reference(spark):
    """semantic_dedup vs an independent numpy re-implementation of the
    deterministic SemDeDup rule (seed medoids, argmax assignment, pairwise
    domination) on the sf0.001 embeddings — every cluster/centroid_sim/keep
    value must agree."""
    import numpy as np

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = {
        r["vec_id"]: r
        for r in S.semantic_dedup(emb, n_clusters=8, epsilon=0.3).collect()
    }

    rows = sorted(
        (r["vec_id"], np.asarray(r["embedding"], dtype=np.float64))
        for r in emb.select("vec_id", "embedding").collect()
    )
    ids = np.array([i for i, _ in rows])
    M = np.stack([v for _, v in rows])
    norms = np.sqrt((M * M).sum(axis=1))
    seeds = M[:8]
    seed_norms = norms[:8]
    cs = np.floor(
        (M @ seeds.T) / (norms[:, None] * seed_norms[None, :]) * 1e4 + 0.5
    ) / 1e4
    # argmax with (sim desc, cluster asc) tie-break
    cluster = np.array(
        [max(range(8), key=lambda j: (cs[i, j], -j)) for i in range(len(ids))]
    )
    csim = cs[np.arange(len(ids)), cluster]
    pair = np.floor(
        (M @ M.T) / (norms[:, None] * norms[None, :]) * 1e4 + 0.5
    ) / 1e4
    n_keep = 0
    for i in range(len(ids)):
        same = (cluster == cluster[i]) & (ids != ids[i])
        dominated = same & (pair[i] >= 0.3) & (
            (csim < csim[i]) | ((csim == csim[i]) & (ids < ids[i]))
        )
        keep = 0 if dominated.any() else 1
        r = out[int(ids[i])]
        assert r["cluster"] == cluster[i]
        assert r["centroid_sim"] == csim[i]
        assert r["keep"] == keep
        n_keep += keep
    assert 0 < n_keep < len(ids)  # non-degenerate at this epsilon


def test_semantic_dedup_keeps_cluster_minimum(spark, planted_docs):
    """The vector with the lexicographically smallest (centroid_sim, id) in
    each cluster can never be dominated — it must survive any epsilon."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = S.semantic_dedup(emb, n_clusters=8, epsilon=-1.0).collect()
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r["cluster"], []).append(r)
    for rows in by_cluster.values():
        lo = min(rows, key=lambda r: (r["centroid_sim"], r["vec_id"]))
        assert lo["keep"] == 1
        # eps=-1: every pair is a duplicate, so exactly the minimum survives
        assert sum(r["keep"] for r in rows) == 1


def test_pii_scrub_redacts_everything(spark):
    """After the scrub no digits and no @ survive, and the trailer count
    matches the deterministic augmentation."""
    from citydata_etl_spark.operators.text import pii_scrub

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = pii_scrub(docs).collect()
    assert len(out) == docs.count()
    for r in out:
        assert "@" not in r["scrubbed"]
        assert not any(c.isdigit() for c in r["scrubbed"])
        assert r["n_emails"] == 1 + r["doc_id"] % 3
        assert r["n_numbers"] == 1 + r["doc_id"] % 3
        assert "<EMAIL>" in r["scrubbed"] and "<NUM>" in r["scrubbed"]


def test_simhash_pairs_blocked_matches_naive(spark, planted_docs):
    """Pigeonhole chunk-blocking is LOSSLESS: the blocked pairing must
    return exactly the naive all-pairs result at every max_hamming — the
    chunk equi-join is a candidate superset of qualifying pairs (at most
    h differing bits cannot touch all h+1 chunks) and the bit_count
    verify removes nothing that qualifies."""

    def pairs(blocked, h):
        return {
            (r["doc_a"], r["doc_b"], r["hamming"])
            for r in D.simhash_pairs(
                planted_docs, max_hamming=h, blocked=blocked
            ).collect()
        }

    for h in (1, 3, 6):
        naive, fast = pairs(False, h), pairs(True, h)
        assert fast == naive, f"blocked!=naive at max_hamming={h}"
    assert pairs(True, 6), "fixture must produce at least one near-dup pair"


def test_semantic_dedup_quantizer_modes_agree(spark):
    """The r14 broadcast quantizer (mapInPandas against a broadcast
    seed matrix, plan size O(1) in k — added after the scale
    rehearsal measured the literal-seed plan cost dominating by
    k~sqrt(n)) must produce IDENTICAL rows to the oracle-exact
    literal path: same cluster (both tie-break on the HALF_UP-rounded
    cosine with the lower cluster winning — the numpy side reproduces
    Spark's rounding as sign*floor(|x|*10^d+0.5), the exact case that
    diverged on 2/2000 real vectors before the match), same rounded
    centroid_sim (computed by the SAME Spark expressions via a
    broadcast seed join), same keep decisions. Random embeddings at
    several k, plus a planted exact-tie pair (two identical seeds, so
    every vector ties between clusters 0 and 1 and must land in 0)."""
    import random

    rng = random.Random(23)
    dim = 12
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(dim)])
        for i in range(300)
    ]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    for k in (4, 17):
        a = S.semantic_dedup(emb, n_clusters=k, epsilon=0.3) \
            .orderBy("vec_id").collect()
        b = S.semantic_dedup(emb, n_clusters=k, epsilon=0.3,
                             quantizer="broadcast") \
            .orderBy("vec_id").collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b], k

    # planted exact tie: seeds 0 and 1 identical -> every vector's
    # cosine to both is bit-equal, both modes must pick cluster 0
    tied = [(0, [1.0] + [0.0] * (dim - 1)),
            (1, [1.0] + [0.0] * (dim - 1))] + [
        (i, [rng.uniform(-1, 1) for _ in range(dim)])
        for i in range(2, 40)
    ]
    temb = spark.createDataFrame(
        tied, "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    for q in ("literal", "broadcast"):
        out = S.semantic_dedup(temb, n_clusters=2, epsilon=0.99,
                               quantizer=q).collect()
        clusters = {r["vec_id"]: r["cluster"] for r in out}
        assert clusters[0] == 0 and clusters[1] == 0, q


def test_semantic_dedup_auto_quantizer_and_degenerate_inputs(spark):
    """r15: quantizer='auto' (the new default) must pick the broadcast
    assignment at k >= SEMANTIC_DEDUP_BROADCAST_K and the oracle-exact
    literal path below it — pinned by equality against each explicit
    mode. Degenerate inputs must not diverge by mode (r14 ADVICE): an
    empty embedding table previously crashed the broadcast path on
    np.stack([]) while the literal path returned empty; both must
    return an empty frame with the same schema. Non-bigint id columns
    (string ids) must survive the broadcast path's mapInPandas schema
    (previously hardcoded id BIGINT)."""
    import random

    rng = random.Random(7)
    dim = 6
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(120)
    ]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    # auto == literal below the threshold, broadcast at/above it
    lo = S.semantic_dedup(emb, n_clusters=4, epsilon=0.3).orderBy("vec_id")
    lo_lit = S.semantic_dedup(
        emb, n_clusters=4, epsilon=0.3, quantizer="literal"
    ).orderBy("vec_id")
    assert [tuple(r) for r in lo.collect()] == [
        tuple(r) for r in lo_lit.collect()
    ]
    k_hi = S.SEMANTIC_DEDUP_BROADCAST_K
    hi = S.semantic_dedup(emb, n_clusters=k_hi, epsilon=0.3) \
        .orderBy("vec_id")
    hi_bc = S.semantic_dedup(
        emb, n_clusters=k_hi, epsilon=0.3, quantizer="broadcast"
    ).orderBy("vec_id")
    assert [tuple(r) for r in hi.collect()] == [
        tuple(r) for r in hi_bc.collect()
    ]

    # n_clusters < 1 on NON-empty input fails loudly — the empty-seed
    # guard must not convert a caller bug into silent total data loss
    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_clusters"):
        S.semantic_dedup(emb, n_clusters=0, epsilon=0.3)

    # empty input: both modes return empty with identical schema
    empty = spark.createDataFrame([], "vec_id LONG, embedding ARRAY<DOUBLE>")
    for q in ("literal", "broadcast"):
        out = S.semantic_dedup(empty, n_clusters=4, epsilon=0.3, quantizer=q)
        assert out.count() == 0, q
        assert [f.name for f in out.schema.fields] == [
            "vec_id", "cluster", "centroid_sim", "keep"
        ], q

    # string ids survive the broadcast mapInPandas schema
    srows = [(f"doc-{i:03d}", v) for i, v in rows[:60]]
    semb = spark.createDataFrame(
        srows, "vec_id STRING, embedding ARRAY<DOUBLE>"
    )
    a = S.semantic_dedup(semb, n_clusters=5, epsilon=0.3,
                         quantizer="literal").orderBy("vec_id").collect()
    b = S.semantic_dedup(semb, n_clusters=5, epsilon=0.3,
                         quantizer="broadcast").orderBy("vec_id").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert a and isinstance(a[0]["vec_id"], str)


def test_semantic_dedup_two_k_cluster_agreement(spark):
    """k is a knob that must grow with n (paper-scale ~1e5 clusters): for
    a cluster whose MEMBERSHIP is identical under two k values, the
    deterministic seed/argmax/domination rule must produce identical
    keep-decisions — k changes candidate scoping, never the within-cluster
    rule. Seeds are the k lowest-id embeddings, so cluster j shares its
    centroid across both runs for j < min(k1, k2); planting 4 orthogonal
    groups with ids 0..3 one-per-group makes group B exactly cluster 1
    under BOTH k=2 and k=4 (B-members have sim ~1 to seed 1 and ~0
    elsewhere), while groups C/D migrate between runs."""
    import random

    rng = random.Random(11)
    dim, groups, per_group = 8, 4, 6
    rows = []
    # ids 0..3: one clean axis vector per group (the k=4 seeds; ids 0,1
    # are the k=2 seeds)
    for g in range(groups):
        v = [0.0] * dim
        v[g] = 1.0
        rows.append((g, v))
    # remaining members: axis + small noise, ids interleaved after seeds
    vid = groups
    for g in range(groups):
        for _ in range(per_group - 1):
            v = [rng.uniform(-0.05, 0.05) for _ in range(dim)]
            v[g] += 1.0
            if g != 1:
                # small positive axis-0 bias: under k=2 the C/D groups
                # deterministically prefer seed 0 over seed 1 (their own
                # axis has no seed there), keeping cluster 1 = group B
                v[0] += 0.2
            rows.append((vid, v))
            vid += 1
    emb = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    out2 = S.semantic_dedup(emb, n_clusters=2, epsilon=0.9).collect()
    out4 = S.semantic_dedup(emb, n_clusters=4, epsilon=0.9).collect()

    def cluster_members(rows_, j):
        return {r["vec_id"]: r["keep"] for r in rows_ if r["cluster"] == j}

    b2, b4 = cluster_members(out2, 1), cluster_members(out4, 1)
    assert set(b2) == set(b4) and len(b2) == per_group, (
        "group B must be exactly cluster 1 under both k"
    )
    assert b2 == b4, "keep-decisions differ on an identical cluster"
    # non-degenerate: the tight group B contains dominated members
    assert 0 < sum(b2.values()) < per_group


def test_ranked_tokens_matches_vocabulary_join(spark, planted_docs):
    """The fused in-place rank (ranked_tokens) must assign EXACTLY the ids
    of the vocabulary()+join shape it replaced — same dense lexicographic
    rank, one less corpus shuffle."""
    tok = D.tokens(planted_docs)
    fused = {
        (r["doc_id"], r["token"], r["tid"])
        for r in D.ranked_tokens(tok).collect()
    }
    vocab = D.vocabulary(tok)
    joined = {
        (r["doc_id"], r["token"], r["tid"])
        for r in tok.join(vocab, "token").collect()
    }
    assert fused == joined


def test_global_rank_rejects_null_keys(spark):
    """NULL order keys would be dropped by the offsets equi-join — the
    in-plan raise_error guard fails the job instead (the guards moved
    from an eager driver collect into the lazy plan when the offsets
    became a distributed cumulative sum)."""
    df = spark.createDataFrame(
        [("aa",), (None,), ("bb",)], "token STRING"
    )
    with pytest.raises(Exception, match="NULL tokens"):
        D.ranked_tokens(df).collect()


def test_global_rank_bucket_cap_fails_fast(spark, planted_docs, monkeypatch):
    """A degenerate key distribution cannot balloon the unpartitioned
    offsets window: past MAX_RANK_BUCKETS the in-plan guard raises at
    execution instead of silently serializing."""
    monkeypatch.setattr(D, "MAX_RANK_BUCKETS", 3)
    tok = D.tokens(planted_docs)  # 200-word vocab -> far more than 3 buckets
    with pytest.raises(Exception, match="buckets exceed"):
        D.ranked_tokens(tok).collect()
    with pytest.raises(Exception, match="buckets exceed"):
        D.vocabulary(tok).collect()


def test_domain_cap_invariants(spark, planted_docs):
    """Cap respected per source, ranks dense from 1, keeps are exactly the
    top-cap ranked docs, and every input doc comes back."""
    from citydata_etl_spark.operators.pipeline import domain_cap

    docs = planted_docs.withColumn(
        "source",
        (F.col("doc_id") % 3).cast("string"),
    )
    cap = 5
    out = domain_cap(docs, cap=cap).collect()
    assert len(out) == docs.count()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    for rows in by_src.values():
        ranks = sorted(r["domain_rank"] for r in rows)
        assert ranks == list(range(1, len(rows) + 1))
        kept = [r for r in rows if r["keep"] == 1]
        assert len(kept) == min(cap, len(rows))
        assert all(r["domain_rank"] <= cap for r in kept)
        # keep set = lexicographic top-cap by (quality desc, id asc)
        order = sorted(rows, key=lambda r: (-r["quality"], r["doc_id"]))
        assert {r["doc_id"] for r in kept} == {
            r["doc_id"] for r in order[:cap]
        }


def test_domain_mix_apply_matches_rates(spark, planted_docs):
    """The materialized sample is consistent with the plan: keep flags are
    the deterministic id-hash coin (re-runnable), and the binding source
    (keep_rate == 1.0) keeps everything."""
    from citydata_etl_spark.operators.pipeline import (
        HASH_PRIME, _SPLIT_A, _SPLIT_B, domain_mix, domain_mix_apply,
    )

    docs = planted_docs.withColumn(
        "source", (F.col("doc_id") % 3).cast("string")
    )
    out = {r["doc_id"]: r for r in domain_mix_apply(docs).collect()}
    rates = {
        r["source"]: r["keep_rate"] for r in domain_mix(docs).collect()
    }
    assert len(out) == docs.count()
    for vid, r in out.items():
        thr = int(r["keep_rate"] * 1_000_000 + 0.5)
        coin = ((vid * _SPLIT_A + _SPLIT_B) % HASH_PRIME) % 1_000_000
        assert r["keep"] == (1 if coin < thr else 0)
        assert r["keep_rate"] == rates[r["source"]]
    binding = [s for s, kr in rates.items() if kr == 1.0]
    assert binding, "water-fill must have a binding source"
    for s in binding:
        assert all(
            r["keep"] == 1 for r in out.values() if r["source"] == s
        )


def test_pq_recall_and_rerank_recovers_quantization(spark, clustered_vecs):
    """IVF-PQ with ADC-only scoring loses recall to quantization noise;
    the exact-rerank refine stage over the same candidate sets must
    recover it (candidates are identical, only scoring differs)."""
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in S.brute_force_topk(clustered_vecs, k=3).collect()
    }

    def recall(rf):
        ann = {
            (r["query_id"], r["neighbor_id"])
            for r in S.pq_topk(
                clustered_vecs, k=3, rerank_factor=rf
            ).collect()
        }
        return len(brute & ann) / len(brute)

    r_adc, r_refined = recall(0), recall(4)
    assert r_refined >= r_adc, "refine must never lower recall"
    assert r_refined >= 0.7, f"refined PQ recall too low: {r_refined}"


def test_domain_cap_prefilter_matches_exact(spark, planted_docs):
    """The quantile-prefiltered scale form must keep EXACTLY the docs the
    exact audit form keeps (ranks included) — the 2x-margin approximate
    cut can only remove rows that provably cannot reach the cap."""
    from citydata_etl_spark.operators.pipeline import domain_cap

    docs = planted_docs.withColumn(
        "source", (F.col("doc_id") % 2).cast("string")
    )
    # planted_docs has 30 docs per source; the small-source gate covers
    # caps where n <= 2*cap/0.1, the cut path needs a bigger fixture
    for cap in (1, 3, 10, 100):
        exact = {
            (r["doc_id"], r["domain_rank"])
            for r in domain_cap(docs, cap=cap).collect()
            if r["keep"] == 1
        }
        fast = {
            (r["doc_id"], r["domain_rank"])
            for r in domain_cap(docs, cap=cap, prefilter=True).collect()
        }
        assert fast == exact, f"prefilter diverged at cap={cap}"


def test_minhash_hash_id_mode_recall(spark, planted_docs):
    """id_mode='hash' (zero-coordination xxhash64 ids — no rank jobs, no
    driver state) must preserve LSH behavior: every planted high-jaccard
    pair is still a candidate. Signatures differ from rank mode (different
    id space), but the banding topology and recall contract are the same."""
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in D.ngram_jaccard_pairs(
            planted_docs, n=1, threshold=0.8
        ).collect()
    }
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in D.minhash_lsh_pairs(
            planted_docs, id_mode="hash"
        ).collect()
    }
    recall = len(exact & cand) / len(exact)
    assert recall >= 0.9, f"hash-id LSH recall too low: {recall}"


def test_simhash_hash_id_mode_separates(spark, planted_docs):
    """Hash-id SimHash keeps the separation property: planted near-dup
    pairs average a smaller hamming distance than unrelated pairs."""
    fp = {
        r["doc_id"]: r["fingerprint"]
        for r in D.simhash_fingerprints(
            planted_docs, id_mode="hash"
        ).collect()
    }

    def ham(a, b):
        return bin(fp[a] ^ fp[b]).count("1")

    near = [ham(3 * i, 3 * i + 1) for i in range(20)]
    far = [ham(3 * i, 3 * i + 2) for i in range(20)]
    assert sum(near) / len(near) < sum(far) / len(far)


def test_train_sample_is_order_and_partition_invariant(spark, clustered_vecs):
    """The quantizer training sample is a deterministic function of the
    DATA (smallest xxhash64(id)), not of ingestion order or partitioning
    — the scale-honesty contract that replaced the prefix-biased
    orderBy(id).limit(n) sample."""
    import numpy as np

    a = S._train_sample_matrix(clustered_vecs, "vec_id", "embedding", 32)
    shuffled = clustered_vecs.orderBy(F.desc("vec_id")).repartition(7)
    b = S._train_sample_matrix(shuffled, "vec_id", "embedding", 32)
    assert a.shape == b.shape == (32, 16)
    assert np.array_equal(a, b)


def test_zero_norm_embedding_does_not_poison_ann(spark, clustered_vecs):
    """An all-zero embedding row must not emit NaN scores that silently
    poison its cluster's candidates (ADVICE round 3): the normalize paths
    guard zero norms, so IVF and IVF-PQ stay NaN-free and every other
    vector still gets k neighbors."""
    import math

    poisoned = clustered_vecs.union(
        spark.createDataFrame(
            [(999, [0.0] * 16, 0)],
            "vec_id LONG, embedding ARRAY<FLOAT>, label INT",
        )
    )
    for fn in (
        lambda: S.ivf_topk(poisoned, k=3, n_centroids=8, n_probe=3),
        lambda: S.pq_topk(poisoned, k=3, n_centroids=8, n_probe=3,
                          rerank_factor=0),
    ):
        rows = fn().collect()
        score_col = "cos_sim" if "cos_sim" in rows[0] else "approx_sim"
        assert all(not math.isnan(r[score_col]) for r in rows)
        per_query = {}
        for r in rows:
            per_query.setdefault(r["query_id"], 0)
            per_query[r["query_id"]] += 1
        # every real vector keeps a full k neighbors
        assert all(
            n == 3 for q, n in per_query.items() if q != 999
        ), per_query
        # unique ids give unique pairs without a dedup stage: no
        # (query, neighbor) repeats and every query's ranks are dense
        pairs = [(r["query_id"], r["neighbor_id"]) for r in rows]
        assert len(pairs) == len(set(pairs))
        ranks = {}
        for r in rows:
            ranks.setdefault(r["query_id"], []).append(r["rnk"])
        assert all(
            sorted(v) == list(range(1, len(v) + 1)) for v in ranks.values()
        )


def test_distributed_kmeans_matches_numpy_full_corpus(spark, clustered_vecs):
    """_kmeans_distributed (tree-aggregated partial sums, one job per
    iteration) must reproduce a driver-side numpy Lloyd run over the FULL
    corpus from the same init — the partials differ only by addition
    order (~1e-12)."""
    import numpy as np

    X0 = S._train_sample_matrix(clustered_vecs, "vec_id", "embedding", 4096)
    k, n_iter = 8, 4
    ref = S._kmeans_sample(X0, k, 0)  # init only
    got = S._kmeans_distributed(
        clustered_vecs, ref.copy(), n_iter, "embedding"
    )
    # numpy reference over the full (sampled == full here) corpus
    C = ref.copy()
    for _ in range(n_iter):
        a = (X0 @ C.T).argmax(axis=1)
        for c in range(k):
            m = a == c
            if m.any():
                C[c] = S._unit(X0[m].mean(axis=0))
    assert np.allclose(got, C, atol=1e-9)


def test_ivf_distributed_training_recall(spark, clustered_vecs):
    """train_mode='distributed' must match sample-mode recall on a corpus
    the sample fully covers (identical init -> identical centroids here)."""
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in S.brute_force_topk(clustered_vecs, k=3).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in S.ivf_topk(
            clustered_vecs, k=3, n_centroids=8, n_probe=3,
            train_mode="distributed",
        ).collect()
    }
    recall = len(brute & ivf) / len(brute)
    assert recall >= 0.8, f"distributed-trained IVF recall too low: {recall}"


def test_quantize_embeddings_reconstruction_bound(spark):
    """int8 quantization invariants against a numpy reference: codes in
    [-127,127], per-element reconstruction error <= scale/254 (half a
    quantization step), zero vectors quantize to all-zero codes."""
    import numpy as np
    from pyspark.sql import functions as F

    from citydata_etl_spark.operators.similarity import quantize_embeddings
    from citydata_etl_spark.sources.readers import read_testdata
    from tests.conftest import SF_SMOKE

    emb = read_testdata(spark, SF_SMOKE, "embeddings").limit(50)
    # add one all-zero vector to exercise the scale=0 guard
    dim = len(emb.first()["embedding"])
    zero = spark.createDataFrame(
        [(999_999, [0.0] * dim, 0)], "vec_id long, embedding array<float>, label int"
    )
    out = quantize_embeddings(emb.unionByName(zero)).toPandas()

    assert out["code"].between(-127, 127).all()
    zrows = out[out.vec_id == 999_999]
    assert len(zrows) == dim
    assert (zrows["code"] == 0).all() and (zrows["scale_ppm"] == 1_000_000).all()

    raw = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
           for r in emb.collect()}
    for vid, grp in out[out.vec_id != 999_999].groupby("vec_id"):
        x = raw[vid]
        scale = np.abs(x).max()
        grp = grp.sort_values("dim_idx")
        recon = grp["code"].to_numpy() * scale / 127.0
        assert np.abs(recon - x).max() <= scale / 254.0 + 1e-12
        # scale is faithfully reported (ppm rounding only)
        assert abs(grp["scale_ppm"].iloc[0] - round(scale * 1e6)) <= 1


def test_incremental_minhash_matches_full_corpus_cross_pairs(spark):
    """Incremental near-dup contract: screening a batch against a corpus
    must find EXACTLY the cross (batch, corpus) candidate pairs the
    full-union LSH run finds — hash-mode ids make signatures a pure
    function of text, so split-computation changes nothing."""
    from pyspark.sql import functions as F

    from citydata_etl_spark.operators.dedup import (
        incremental_minhash_neardup,
        minhash_lsh_pairs,
    )
    from citydata_etl_spark.sources.readers import read_testdata
    from tests.conftest import SF_ORACLE

    docs = read_testdata(spark, SF_ORACLE, "documents")
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)

    got = {
        (r["batch_id"], r["corpus_id"])
        for r in incremental_minhash_neardup(batch, corpus).collect()
    }
    full = minhash_lsh_pairs(docs, id_mode="hash")
    want = set()
    for r in full.collect():
        a, b = r["doc_a"], r["doc_b"]
        if (a % 5 == 0) != (b % 5 == 0):  # cross pairs only
            want.add((a, b) if a % 5 == 0 else (b, a))
    assert got == want
    assert want, "fixture produced no cross near-dup pairs — test is vacuous"


def test_crossdomain_lm_oov_branch(spark):
    """The OOV branch the catalog corpus can't reach (its 31-word
    vocabulary is fully covered by the reference subset): unseen tokens
    take the literal integer penalty and are counted per doc."""
    from citydata_etl_spark.operators.text import (
        OOV_PENALTY_MICROS,
        crossdomain_lm_score,
    )

    train = spark.createDataFrame(
        [(1, "aa bb aa cc")], "doc_id LONG, text STRING"
    )
    score = spark.createDataFrame(
        [(10, "aa zz"), (11, "qq rr ss")], "doc_id LONG, text STRING"
    )
    out = {r["doc_id"]: r for r in crossdomain_lm_score(train, score).collect()}

    import math

    lp_aa = math.floor(math.log(2 / 4) * 1_000_000 + 0.5)
    r10 = out[10]
    assert (r10["n_tokens"], r10["n_oov"]) == (2, 1)
    assert r10["logprob_micros"] == lp_aa + OOV_PENALTY_MICROS
    r11 = out[11]
    assert (r11["n_tokens"], r11["n_oov"]) == (3, 3)
    assert r11["logprob_micros"] == 3 * OOV_PENALTY_MICROS


def test_project_embeddings_matches_numpy_and_preserves_geometry(spark):
    """The sign projection must equal a numpy replay of the same LCG
    matrix exactly (integer micros), and JL geometry must hold loosely:
    projected squared norms concentrate around k/dim * micros-norm for
    random-ish vectors."""
    import numpy as np

    from citydata_etl_spark.operators.similarity import project_embeddings

    rng = np.random.RandomState(7)
    dim, k, n = 16, 4, 12
    vecs = rng.randn(n, dim).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    got = {
        (r["vec_id"], r["proj_idx"]): r["y_micros"]
        for r in project_embeddings(df, k=k).collect()
    }
    P = 2147483647
    signs = np.array(
        [
            [1 - 2 * (((i * 2654435761 + j * 40503 + 7) % P) % 2)
             for i in range(dim)]
            for j in range(k)
        ]
    )
    xi = np.floor(vecs.astype("float64") * 1e6 + 0.5).astype("int64")
    want = xi @ signs.T  # (n, k)
    for i in range(n):
        for j in range(k):
            assert got[(i, j)] == want[i, j], (i, j)


def test_update_dedup_index_incremental_semantics(spark, tmp_path):
    """The persisted digest index must (a) equal first-arrival-wins
    semantics across successive ingests, (b) be IDEMPOTENT under batch
    replay (a crashed-and-retried drop adds nothing), and (c) leave
    untouched buckets' files alone when a batch brings no new content
    for them."""
    import glob
    import os

    from citydata_etl_spark.operators.dedup import update_dedup_index
    from citydata_etl_spark.sources.merge import read_bucketed_control

    path = str(tmp_path / "idx")
    docs = spark.createDataFrame(
        [
            (1, "alpha beta"),
            (2, "Alpha  beta!"),     # normalizes to the same as doc 1
            (3, "gamma"),
            (4, "delta"),
            (5, "gamma"),            # dup of 3, later batch
            (6, "epsilon"),
        ],
        "doc_id LONG, text STRING",
    )
    update_dedup_index(spark, path, docs.filter("doc_id <= 2"), batch_no=0)
    update_dedup_index(
        spark, path, docs.filter("doc_id IN (3, 4)"), batch_no=1
    )
    files_after_b1 = set(glob.glob(os.path.join(path, "bucket=*", "*")))
    update_dedup_index(
        spark, path, docs.filter("doc_id IN (5, 6)"), batch_no=2
    )
    idx = {
        r["keep_doc_id"]: r["first_seen_batch"]
        for r in read_bucketed_control(spark, path).collect()
    }
    # 1&2 collapse in batch 0 (keeper 1); 3 wins over 5; 4 and 6 new
    assert idx == {1: 0, 3: 1, 4: 1, 6: 2}

    # replaying batch 1 must change nothing (pure no-op merge)
    update_dedup_index(
        spark, path, docs.filter("doc_id IN (3, 4)"), batch_no=1
    )
    idx2 = {
        r["keep_doc_id"]: r["first_seen_batch"]
        for r in read_bucketed_control(spark, path).collect()
    }
    assert idx2 == idx

    # batch 2 brought one new digest -> only ITS bucket was rewritten:
    # every pre-batch-2 file not in that bucket must still exist
    files_now = set(glob.glob(os.path.join(path, "bucket=*", "*")))
    untouched = files_after_b1 & files_now
    assert len(untouched) >= len(files_after_b1) - 1


def test_update_dedup_index_retry_heals_mid_swap_crash(spark, tmp_path):
    """A batch whose merge crashed mid-swap — `_COMMIT` dropped, an
    affected bucket's live directory renamed aside, its merged copy
    still staged — heals on the retry of that batch: the merge's heal
    finishes the swap and the index is first-arrival-wins. An absent
    marker with NO pending swap still refuses, and the recovery the
    refusal names (re-commit a complete index) works."""
    import os
    import shutil

    import pytest

    from citydata_etl_spark.operators.dedup import update_dedup_index
    from citydata_etl_spark.sources import merge as M

    docs = spark.createDataFrame(
        [
            (1, "alpha beta"),
            (2, "Alpha  beta!"),
            (3, "gamma"),
            (4, "delta"),
            (5, "gamma"),
            (6, "epsilon"),
        ],
        "doc_id LONG, text STRING",
    )
    batches = [
        docs.filter("doc_id <= 2"),
        docs.filter("doc_id IN (3, 4)"),
        docs.filter("doc_id IN (5, 6)"),
    ]
    path, ref = str(tmp_path / "idx"), str(tmp_path / "ref")
    # one bucket: batch 2's affected bucket already has a live directory
    for no, batch in enumerate(batches):
        update_dedup_index(spark, ref, batch, batch_no=no, n_buckets=1)
        if no < 2:
            update_dedup_index(spark, path, batch, batch_no=no, n_buckets=1)

    def rows(p):
        return {
            tuple(r) for r in spark.read.parquet(p)
            .select("norm_sha", "keep_doc_id", "first_seen_batch", "bucket")
            .collect()
        }

    affected = sorted({r[3] for r in rows(ref) - rows(path)})
    assert affected == [0]  # batch 2 brings new content ("epsilon")

    # batch 2's crash: merged buckets staged (the reference run's copy),
    # typed manifest written, marker dropped, the live bucket aside
    staging = os.path.join(path, ".delete_staging")
    for b in affected:
        shutil.copytree(
            os.path.join(ref, f"bucket={b}"),
            os.path.join(staging, f"bucket={b}"),
        )
    with open(os.path.join(staging, "_AFFECTED"), "w") as f:
        f.write("\n".join(f"{b}:s" for b in affected))
    os.remove(os.path.join(path, M._COMMIT))
    os.makedirs(os.path.join(path, ".delete_trash"))
    shutil.move(
        os.path.join(path, f"bucket={affected[0]}"),
        os.path.join(path, ".delete_trash", f"bucket={affected[0]}"),
    )

    update_dedup_index(  # the retry
        spark, path, batches[2], batch_no=2, n_buckets=1
    )

    def index(p):
        return {
            r["keep_doc_id"]: r["first_seen_batch"]
            for r in M.read_bucketed_control(spark, p).collect()
        }

    assert index(path) == index(ref) == {1: 0, 3: 1, 4: 1, 6: 2}
    assert not os.path.exists(staging)

    # no swap pending: still a loud refusal, naming a working recovery
    os.remove(os.path.join(path, M._COMMIT))
    with pytest.raises(RuntimeError, match="write_commit_marker"):
        update_dedup_index(spark, path, batches[2], batch_no=2, n_buckets=1)
    M.write_commit_marker(spark, path)
    update_dedup_index(spark, path, batches[2], batch_no=2, n_buckets=1)
    assert index(path) == {1: 0, 3: 1, 4: 1, 6: 2}


def test_winnowing_matches_python_reference(spark):
    """winnowing_fingerprints equals a direct Python transcription of
    robust winnowing (rightmost minimal hash per window) on synthetic
    docs, including the shared-prefix edit-locality sanity check."""
    from citydata_etl_spark.operators.text import (
        FINGERPRINT_MOD,
        winnowing_fingerprints,
    )

    k, w = 4, 8
    texts = {
        1: "the quick brown fox jumps over the lazy dog again and again",
        2: "the quick brown fox jumps over the lazy dog again and AGAIN",
        3: "aaaaaaaaaaaaaaaaaaaa",          # degenerate: all grams equal
        4: "short",                          # < k + w - 1: no window
        5: "abcdefghijk",                    # exactly k + w - 1 chars
    }

    def py_hash(g: str) -> int:
        acc = 0
        for c in g.encode("utf-8").hex().upper():
            acc = (acc * 31 + ord(c)) % FINGERPRINT_MOD
        return acc

    def py_winnow(t: str):
        n = len(t) - k + 1
        if len(t) < k + w - 1:
            return set()
        hs = [py_hash(t[i:i + k]) for i in range(n)]
        sel = set()
        for j in range(w - 1, n):
            window = hs[j - w + 1:j + 1]
            m = min(window)
            # rightmost minimal
            for off in range(w - 1, -1, -1):
                if window[off] == m:
                    sel.add((m, j - w + 1 + off + 1))  # 1-based pos
                    break
        return sel

    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id LONG, text STRING"
    )
    got = {
        r.doc_id: (r.n_fps, r.fp_sum, r.pos_sum)
        for r in winnowing_fingerprints(df, k=k, w=w).collect()
    }
    for i, t in texts.items():
        want = py_winnow(t)
        if not want:
            assert i not in got
            continue
        assert got[i] == (
            len(want),
            sum(h for h, _ in want),
            sum(p for _, p in want),
        ), f"doc {i}"
    # edit locality: docs 1 and 2 differ only in the tail, so their
    # fingerprint sets agree on every selection positioned well before
    # the edit point
    s1, s2 = py_winnow(texts[1]), py_winnow(texts[2])
    edit = len(texts[1]) - 5
    early1 = {x for x in s1 if x[1] + k + w - 1 < edit}
    assert early1 <= s2


def test_ann_ivf_distexact_training_not_vacuous(spark):
    """On the real embeddings corpus ivf_topk_exact with n_iter=2 must
    produce a DIFFERENT top-k set than with n_iter=0 (seed centroids) —
    otherwise the two chained Lloyd iterations would be dead weight and
    the dist-trainer oracle would be re-verifying the seed topology.
    (On the tight synthetic cluster fixture the two can legitimately
    coincide; the sf0.001 testdata is diffuse enough that training
    reshuffles roughly two-thirds of the pairs.)"""
    from tests.conftest import SF_SMOKE

    from citydata_etl_spark.sources.readers import read_testdata

    emb = read_testdata(spark, SF_SMOKE, "embeddings")
    seeded = {
        tuple(r)
        for r in S.ivf_topk_exact(
            emb, k=5, n_centroids=16, n_probe=4, n_iter=0
        ).collect()
    }
    trained = {
        tuple(r)
        for r in S.ivf_topk_exact(
            emb, k=5, n_centroids=16, n_probe=4, n_iter=2
        ).collect()
    }
    assert seeded and trained
    assert trained != seeded, (
        "trained twin equals the seed twin — training is vacuous"
    )


def test_mmr_batch_agrees_with_exactseed_twin(spark):
    """mmr_batch (applyInPandas group kernel, many queries) must
    reproduce mmr_topk_exactseed (the unrolled relational twin the
    external oracle verifies) exactly on the twin's LCG query — same
    picks, same scores, same tie-breaks — and produce k picks for
    every other query too."""
    from pyspark.sql import functions as F

    from citydata_etl_spark.operators.similarity import (
        mmr_batch,
        mmr_topk_exactseed,
    )
    from citydata_etl_spark.sources.readers import read_testdata

    emb = read_testdata(spark, "/root/testdata/sf0.001", "embeddings")
    twin = {
        r["rnk"]: (r["neighbor_id"], r["rel_dot"], r["mmr2"])
        for r in mmr_topk_exactseed(emb, k=3, n_cand=16).collect()
    }
    # the three LOWEST-LCG vec_ids (the same pick rule d4_mmr_batch
    # uses): ids adjacent to the minimum (qid+1, qid+2) are not
    # guaranteed to exist in the fixture, and mmr_batch's inner join
    # would silently drop a missing query — a spurious failure
    from citydata_etl_spark.operators.similarity import lcg_pick

    qids = [
        r[0]
        for r in emb.select("vec_id")
        .withColumn("lcg", lcg_pick(F.col("vec_id")))
        .orderBy("lcg", "vec_id").limit(3).collect()
    ]
    qid = qids[0]
    queries = spark.createDataFrame([(q,) for q in qids], "query_id LONG")
    batch = mmr_batch(emb, queries, k=3, n_cand=16).collect()
    got = {
        r["rnk"]: (r["neighbor_id"], r["rel_dot"], r["mmr2"])
        for r in batch if r["query_id"] == qid
    }
    assert got == twin
    by_q = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append(r["rnk"])
    assert set(by_q) == set(qids)
    for q, rnks in by_q.items():
        assert sorted(rnks) == [1, 2, 3], (q, rnks)


def test_knn_label_recovers_cluster_labels(spark, clustered_vecs):
    """On a corpus with real structure, kNN label propagation must
    recover the true labels: each vector's 3 nearest neighbors are
    overwhelmingly same-cluster (pinned elsewhere), so the majority
    vote agrees with the vector's own label >90% of the time. Also
    pins the deterministic tie-break (more votes, then smallest
    label)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    nn = S.brute_force_topk(clustered_vecs, k=3).select(
        "query_id", "neighbor_id"
    )
    labels = clustered_vecs.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").cast("string").alias("lang"),
    )
    votes = nn.join(labels, "neighbor_id").groupBy("query_id", "lang").agg(
        F.count("*").alias("n_votes")
    )
    rw = W.partitionBy("query_id").orderBy(F.desc("n_votes"), "lang")
    win = (
        votes.withColumn("rn", F.row_number().over(rw))
        .filter(F.col("rn") == 1)
    )
    truth = {
        r["vec_id"]: str(r["label"]) for r in clustered_vecs.collect()
    }
    got = {r["query_id"]: r["lang"] for r in win.collect()}
    assert set(got) == set(truth)
    agree = sum(got[q] == truth[q] for q in got) / len(got)
    assert agree > 0.9, f"kNN label propagation agreement too low: {agree}"


def test_bitmap_allpairs_enforces_vocab_bound(spark):
    """The bitmap all-pairs sweep is the SMALL-vocabulary tool; a
    corpus whose distinct-shingle count exceeds max_vocab must raise
    (pointing at the prefix plan), not silently build |vocab|-bit
    bitmaps with quadratic tile sweeps (ADVICE r10)."""
    rows = [(i, f"tok{i} tok{i + 1}") for i in range(30)]
    sh = spark.createDataFrame(
        rows, "doc_id LONG, text STRING"
    ).select(
        "doc_id", F.explode(F.split("text", " ")).alias("shingle")
    )
    with pytest.raises(ValueError, match="max_vocab"):
        D.jaccard_bitmap_allpairs(sh, 0.5, max_vocab=10).collect()
    # within the bound the sweep still runs
    small = sh.filter(F.col("doc_id") < 4)
    D.jaccard_bitmap_allpairs(small, 0.5, max_vocab=10).collect()


def test_bitmap_allpairs_asserts_dense_id_rel(spark):
    """The id_rel fast path promises a DENSE 0-based tid relation; a
    1-based or sparse (hash-mode) relation must raise — it would
    silently widen the indicator matrices and void the max_vocab
    guard (ADVICE r11) — while a genuinely dense permuted relation is
    accepted and matches the self-ranked path bit-for-bit."""
    rows = [(0, "a"), (0, "b"), (1, "b"), (1, "c"), (2, "a"), (2, "c")]
    sh = spark.createDataFrame(rows, "doc_id LONG, shingle STRING")

    def rel(mapping):
        return spark.createDataFrame(
            [(d, s, mapping[s]) for d, s in rows],
            "doc_id LONG, shingle STRING, tid LONG",
        ).select("doc_id", "tid")

    with pytest.raises(ValueError, match="dense"):
        D.jaccard_bitmap_allpairs(
            sh, 0.0, id_rel=rel({"a": 1, "b": 2, "c": 3})
        ).collect()  # 1-based
    with pytest.raises(ValueError, match="dense"):
        D.jaccard_bitmap_allpairs(
            sh, 0.0, id_rel=rel({"a": 0, "b": 5, "c": 9})
        ).collect()  # sparse hash-mode
    dense = sorted(
        tuple(r) for r in D.jaccard_bitmap_allpairs(
            sh, 0.0, id_rel=rel({"a": 2, "b": 0, "c": 1})
        ).collect()
    )
    ranked = sorted(
        tuple(r) for r in
        D.jaccard_bitmap_allpairs(sh, 0.0).collect()
    )
    assert dense == ranked and len(dense) == 3


def test_dsir_importance_matches_numpy_reference(spark):
    """dsir_importance (r15) vs an independent pure-Python re-derivation
    of the whole chain — bigrams, dense gram rank, LCG bucketing,
    Laplace-smoothed per-bucket log-ratio micros, per-doc weight sums,
    seeded-Gumbel keys, top-k selection — on a planted corpus where the
    target distribution is skewed (target docs repeat 'alpha beta', so
    candidates echoing that bigram must out-weigh candidates made of
    off-target grams). Also pins: exactly min(k, n) selected; docs with
    < 2 tokens excluded; selection invariant to partitioning."""
    import math
    import random

    from citydata_etl_spark.operators import pipeline as P

    rng = random.Random(42)
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
    target_rows = [
        (1000 + i, "alpha beta " * 4 + "gamma", "src0")
        for i in range(6)
    ]
    cand_rows = []
    for i in range(40):
        if i % 4 == 0:
            txt = "alpha beta " * 3 + "delta"
        else:
            txt = " ".join(rng.choice(words[2:]) for _ in range(9))
        cand_rows.append((i, txt, "src9"))
    cand_rows.append((777, "solo", "src9"))  # 1 token: no bigrams
    docs = spark.createDataFrame(
        target_rows + cand_rows, "doc_id LONG, text STRING, source STRING"
    )
    tgt = docs.filter(docs.source == "src0")
    cand = docs.filter(docs.source != "src0")
    k = 10
    out = {
        r["doc_id"]: r.asDict()
        for r in P.dsir_importance(
            tgt, cand, n_buckets=256, k=k, seed=7
        ).collect()
    }

    # independent reference
    def bigrams(txt):
        t = [w for w in txt.split(" ") if w]
        return [f"{a} {b}" for a, b in zip(t, t[1:])] if len(t) >= 2 else []

    tg = [bigrams(t) for _, t, _ in target_rows]
    cg = {d: bigrams(t) for d, t, _ in cand_rows}
    vocab = sorted({g for gs in tg for g in gs}
                   | {g for gs in cg.values() for g in gs})
    tid = {g: i for i, g in enumerate(vocab)}
    B = 256
    bkt = {g: (tid[g] * 2654435761 + 11) % 2147483647 % B for g in vocab}
    ct, cr = [0] * B, [0] * B
    for gs in tg:
        for g in gs:
            ct[bkt[g]] += 1
    for gs in cg.values():
        for g in gs:
            cr[bkt[g]] += 1
    tt, tr = sum(ct), sum(cr)
    w = [
        math.floor(
            (math.log(ct[b] + 1) - math.log(tt + B)
             - math.log(cr[b] + 1) + math.log(tr + B)) * 1e6 + 0.5
        )
        for b in range(B)
    ]
    ref = {}
    for d, gs in cg.items():
        if not gs:
            continue
        wm = sum(w[bkt[g]] for g in gs)
        u = ((d * 2654435761 + 7 * 40503 + 11) % 2147483647 + 1) \
            / 2147483649.0
        key = wm + math.floor(-math.log(-math.log(u)) * 1e6 + 0.5)
        ref[d] = (len(gs), wm, key)
    top = set(sorted(ref, key=lambda d: (-ref[d][2], d))[:k])
    assert set(out) == set(ref)  # 777 excluded (no bigrams)
    for d, (ng, wm, key) in ref.items():
        got = out[d]
        assert (got["n_grams"], got["weight_micros"],
                got["key_micros"]) == (ng, wm, key), d
        assert got["selected"] == (1 if d in top else 0), d
    assert sum(r["selected"] for r in out.values()) == k
    # the skew shows: on-target candidates out-weigh off-target ones
    on = [out[d]["weight_micros"] for d in out if d % 4 == 0]
    off = [out[d]["weight_micros"] for d in out if d % 4 != 0]
    assert min(on) > max(off)

    # partition-invariance of the full output
    out2 = {
        r["doc_id"]: tuple(r)
        for r in P.dsir_importance(
            tgt.repartition(7), cand.repartition(5),
            n_buckets=256, k=k, seed=7
        ).collect()
    }
    assert out2 == {d: tuple(v.values()) for d, v in out.items()}


def test_dsir_gumbel_seed_survives_huge_and_negative_ids(spark):
    """r16 ADVICE fix: the Gumbel seed LCG folds the id mod 2^31-1
    BEFORE the Knuth multiply. Pre-fix, ids >= ~3.47e9 wrapped int64
    (non-ANSI) or raised (ANSI), and NEGATIVE ids gave a negative
    modulus -> u <= 0 -> NaN -ln(-ln(u)) -> a null key_micros that
    desc-sorts last (the doc silently never selected). Plant both id
    classes and check every key is non-null and equals the reduced-
    form reference; in-range ids must be bit-identical to the
    unreduced r15 arithmetic (the fold is the identity there)."""
    import math

    from citydata_etl_spark.operators import pipeline as P

    tgt = spark.createDataFrame(
        [(1, "alpha beta alpha beta")], "doc_id LONG, text STRING"
    )
    ids = [5, 12, 2**40 + 3, 2**62 // 3, -5, -(2**35)]
    cand = spark.createDataFrame(
        [(d, "alpha beta gamma delta") for d in ids],
        "doc_id LONG, text STRING",
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in P.dsir_importance(
            tgt, cand, n_buckets=64, k=3, seed=7
        ).collect()
    }
    assert set(out) == set(ids)
    m = 2147483647
    for d in ids:
        key = out[d]["key_micros"]
        assert key is not None, d
        um = ((d % m + m) % m * 2654435761 + 7 * 40503 + 11) % m
        u = (um + 1) / 2147483649.0
        want = out[d]["weight_micros"] + math.floor(
            -math.log(-math.log(u)) * 1e6 + 0.5
        )
        assert key == want, d
        if 0 <= d < m:  # identity on the fixture range
            assert um == (d * 2654435761 + 7 * 40503 + 11) % m
    assert sum(r["selected"] for r in out.values()) == 3


def test_dsir_feature_modes_overlap(spark):
    """r16 VERDICT task 5: feature_mode='hash' (corpus-scale xxhash64
    bucketing, no vocabulary rank) and the oracle-exact 'rank' mode
    are two bucketings of the SAME importance-resampling chain, so on
    planted data with a strongly skewed target distribution they must
    (a) produce identical schemas and eligible-doc sets, (b) both put
    every on-target candidate above every off-target one, and (c)
    select heavily overlapping top sets. Also pins that the hash
    mode's plan contains NO vocabulary window/rank exchange — the
    point of the mode."""
    import random

    from citydata_etl_spark.operators import pipeline as P

    rng = random.Random(7)
    words = ["gamma", "delta", "eps", "zeta", "theta", "iota"]
    tgt = spark.createDataFrame(
        [(1000 + i, "alpha beta " * 5) for i in range(8)],
        "doc_id LONG, text STRING",
    )
    cand_rows = []
    for i in range(60):
        if i % 3 == 0:
            txt = "alpha beta " * 4 + "gamma"
        else:
            txt = " ".join(rng.choice(words) for _ in range(11))
        cand_rows.append((i, txt))
    cand = spark.createDataFrame(cand_rows, "doc_id LONG, text STRING")

    k = 15
    outs = {}
    for mode in ("rank", "hash"):
        df = P.dsir_importance(
            tgt, cand, n_buckets=512, k=k, seed=7, feature_mode=mode
        )
        outs[mode] = {r["doc_id"]: r.asDict() for r in df.collect()}
        assert sorted(df.columns) == [
            "doc_id", "key_micros", "n_grams", "selected", "weight_micros"
        ]
    assert set(outs["rank"]) == set(outs["hash"])  # (a)
    for mode in ("rank", "hash"):
        on = [v["weight_micros"] for d, v in outs[mode].items()
              if d % 3 == 0]
        off = [v["weight_micros"] for d, v in outs[mode].items()
               if d % 3 != 0]
        assert min(on) > max(off), mode  # (b)
        assert sum(v["selected"] for v in outs[mode].values()) == k
    sel_rank = {d for d, v in outs["rank"].items() if v["selected"]}
    sel_hash = {d for d, v in outs["hash"].items() if v["selected"]}
    # 20 on-target docs dominate both weightings; with k=15 both top
    # sets draw from that pool, so the overlap is structural, not
    # probabilistic luck on bucket collisions
    assert len(sel_rank & sel_hash) >= 12, (sel_rank, sel_hash)  # (c)

    # (no-rank plan) the point of the mode: the hash path buckets off
    # the gram bytes (xxhash64 in the plan) and pays NO vocabulary
    # distinct + global dense rank (no rank window anywhere — the
    # rest of the DSIR chain is windowless by design)
    plan = P.dsir_importance(
        tgt, cand, n_buckets=512, k=k, seed=7, feature_mode="hash"
    )._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64" in plan
    assert "dense_rank" not in plan and "row_number" not in plan
