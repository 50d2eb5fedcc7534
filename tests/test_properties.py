"""Property-based tests (hypothesis): engine operators vs pure-Python
reference implementations on randomized inputs. Few examples, small data —
each example is a Spark job — but randomized structure catches boundary
semantics (gap edges, tie-breaks, short docs) that fixtures miss.
"""

from __future__ import annotations

import itertools

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from citydata_etl_spark.operators.aggregates import sessionize
from citydata_etl_spark.operators.dedup import ngram_jaccard_pairs

SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),       # user_id
            st.integers(min_value=0, max_value=3600),    # ts offset sec
        ),
        min_size=1,
        max_size=20,
    )
)
def test_sessionize_matches_reference(spark, rows):
    events = [
        (uid, i, float(ts))  # (user_id, event_id, epoch seconds)
        for i, (uid, ts) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        [(u, e, __import__("datetime").datetime.utcfromtimestamp(t))
         for u, e, t in events],
        "user_id LONG, event_id LONG, ts TIMESTAMP",
    )
    out = sessionize(df, key="user_id", ts="ts", gap_seconds=300,
                     order_tiebreak="event_id")
    got = {
        (r["user_id"], r["event_id"]): r["session_id"]
        for r in out.collect()
    }
    # reference: sort per user by (ts, event_id); new session when the gap
    # from the previous event exceeds 300 s
    want = {}
    by_user = itertools.groupby(
        sorted(events, key=lambda x: (x[0], x[2], x[1])), key=lambda x: x[0]
    )
    for uid, evs in by_user:
        sid, prev = -1, None
        for _u, eid, ts in evs:
            if prev is None or ts - prev > 300:
                sid += 1
            want[(uid, eid)] = sid
            prev = ts
    assert got == want


@settings(**SETTINGS)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d"]),
            min_size=1,
            max_size=6,
        ),
        min_size=2,
        max_size=8,
    )
)
def test_ngram_jaccard_matches_reference(spark, docs):
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, n=2, threshold=0.0).collect()
    }

    def grams(toks):
        if len(toks) == 1:
            return {toks[0]}
        return {" ".join(toks[i:i + 2]) for i in range(len(toks) - 1)}

    for (ia, ta), (ib, tb) in itertools.combinations(rows, 2):
        ga, gb = grams(ta.split(" ")), grams(tb.split(" "))
        inter = len(ga & gb)
        if inter == 0:
            assert (ia, ib) not in out  # inverted index emits no pair
        else:
            want = round(inter / len(ga | gb), 6)
            assert abs(out[(ia, ib)] - want) < 1e-9


@settings(**SETTINGS)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d", "e"]),
            min_size=1,
            max_size=8,
        ),
        min_size=2,
        max_size=10,
    ),
    st.sampled_from([0.3, 0.5, 0.8]),
)
@example([["a", "a", "b"], ["a", "b", "b"], ["a", "b"]], 0.3)
def test_prefix_filter_is_lossless(spark, docs, threshold):
    """The prefix-filtered Jaccard join AND the small-vocab bitmap
    all-pairs sweep must each return EXACTLY the naive inverted-index
    join's pairs — pruning/representation changes, never loss. The
    tiny alphabet makes duplicate rids share bitmap BYTES, the case
    where a buffered fancy-index OR silently drops bits (the r10
    numpy `m[i] |= v` falsifier family — pinned by the @example's
    repeated-token documents so it can never regress silently)."""
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    fast = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in ngram_jaccard_pairs(
            df, n=2, threshold=threshold, prefix_filter=True
        ).collect()
    }
    naive = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in ngram_jaccard_pairs(
            df, n=2, threshold=threshold, prefix_filter=False
        ).collect()
    }
    assert fast == naive
    bitmap = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in ngram_jaccard_pairs(
            df, n=2, threshold=threshold, strategy="bitmap"
        ).collect()
    }
    assert bitmap == naive


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=15),
            st.integers(min_value=0, max_value=15),
        ).filter(lambda p: p[0] != p[1]),
        min_size=1,
        max_size=25,
    )
)
def test_dedup_groups_matches_union_find(spark, edges):
    from citydata_etl_spark.operators.dedup import dedup_groups

    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "doc_a LONG, doc_b LONG"
    )
    got = {r["doc_id"]: r["group_id"] for r in dedup_groups(pairs).collect()}

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    want = {}
    for members in comp.values():
        m = min(members)
        for n in members:
            want[n] = m
    assert got == want


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=60),   # doc_id
            st.integers(min_value=1, max_value=40),   # n_tokens
        ),
        min_size=1,
        max_size=25,
        unique_by=lambda t: t[0],
    ),
    st.integers(min_value=4, max_value=32),           # ctx_len
)
def test_pack_sequences_matches_reference(spark, rows, ctx_len):
    from citydata_etl_spark.operators.pipeline import pack_sequences

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in rows], "doc_id LONG, text STRING"
    )
    got = {
        r["doc_id"]: (r["shard"], r["n_tokens"], r["pack_id"], r["offset"])
        for r in pack_sequences(docs, ctx_len=ctx_len, n_shards=4).collect()
    }

    # pure-Python concat-and-split reference
    want = {}
    streams = {}
    for i, n in sorted(rows):
        shard = i % 4
        start = streams.get(shard, 0)
        want[i] = (shard, n, start // ctx_len, start % ctx_len)
        streams[shard] = start + n
    assert got == want


def test_domain_mix_weighted_water_fill(spark):
    """Explicit-weights path (not oracle-covered): the binding source keeps
    everything (rate 1.0), every realized mix share equals its target
    weight, and kept-token mass is maximal given the caps."""
    from citydata_etl_spark.operators.pipeline import domain_mix

    rows = [
        # (doc_id, text, source): srcA 12 tokens total, srcB 4, srcC 20
        (1, "a b c d e f", "srcA"), (2, "g h i j k l", "srcA"),
        (3, "m n o p", "srcB"),
        (4, " ".join(["t%d" % i for i in range(20)]), "srcC"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    weights = {"srcA": 0.5, "srcB": 0.25, "srcC": 0.25}
    out = {
        r["source"]: r
        for r in domain_mix(docs, weights=weights).collect()
    }
    # N = min(12/.5, 4/.25, 20/.25) = min(24, 16, 80) = 16
    assert out["srcB"]["keep_rate"] == 1.0          # binding source
    assert out["srcA"]["keep_rate"] == round(16 * 0.5 / 12, 6)
    assert out["srcC"]["keep_rate"] == round(16 * 0.25 / 20, 6)
    for s, w in weights.items():
        kept = out[s]["keep_rate"] * out[s]["total_tokens"]
        # keep_rate is rounded to 6 dp, so realized mass can be off by
        # total_tokens * 5e-7
        assert abs(kept - 16 * w) <= out[s]["total_tokens"] * 5e-7 + 1e-9
        assert out[s]["target_weight"] == w


@settings(**SETTINGS)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "dd"]),
            min_size=0, max_size=8,
        ),
        min_size=1, max_size=6,
    )
)
def test_repetition_stats_matches_reference(spark, docs):
    """repetition_stats vs a pure-Python bigram-bag reference, including
    short-doc edge cases (0 tokens -> absent; 1 token -> one degenerate
    unigram shingle, matching shingles() semantics)."""
    from collections import Counter

    from citydata_etl_spark.operators.text import repetition_stats

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    sdf = repetition_stats(
        spark.createDataFrame(rows, ["doc_id", "text"]), n=2
    )
    got = {r["doc_id"]: r for r in sdf.collect()}

    for i, toks in enumerate(docs):
        if not toks:
            assert i not in got
            continue
        if len(toks) == 1:
            grams = [toks[0]]          # shingles() emits the lone token
        else:
            grams = [
                " ".join(toks[j:j + 2]) for j in range(len(toks) - 1)
            ]
        c = Counter(grams)
        r = got[i]
        assert r["n_grams"] == len(grams)
        assert r["n_distinct"] == len(c)
        assert r["top_count"] == max(c.values())
        assert r["dup_ngram_frac"] == round(1.0 - len(c) / len(grams), 6)
        assert r["top_ngram_share"] == round(max(c.values()) / len(grams), 6)


@settings(**SETTINGS)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "dd"]),
            min_size=0, max_size=10,
        ),
        min_size=1, max_size=6,
    )
)
def test_dup_passage_matches_reference(spark, docs):
    """dup_passage_stats vs a pure-Python 4-gram-bag reference, including
    the short-doc degenerate gram (len < n -> one whole-doc shingle)."""
    from collections import Counter

    from citydata_etl_spark.operators.dedup import dup_passage_stats

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    sdf = dup_passage_stats(
        spark.createDataFrame(rows, ["doc_id", "text"]), n=4
    )
    got = {r["doc_id"]: r for r in sdf.collect()}

    grams_by_doc = {}
    corpus = Counter()
    for i, toks in enumerate(docs):
        if not toks:
            continue
        grams = [
            " ".join(toks[j:j + 4])
            for j in range(max(len(toks) - 4, 0) + 1)
        ]
        grams_by_doc[i] = grams
        corpus.update(grams)

    for i, toks in enumerate(docs):
        if not toks:
            assert i not in got
            continue
        grams = grams_by_doc[i]
        n_dup = sum(1 for g in grams if corpus[g] >= 2)
        r = got[i]
        assert r["n_grams"] == len(grams)
        assert r["n_dup_grams"] == n_dup
        import math
        assert r["dup_passage_frac"] == (
            math.floor(n_dup / len(grams) * 1000000 + 0.5) / 1000000
        )


@settings(**SETTINGS)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["the", "a", "zq", "b", "xx"]),
            min_size=0, max_size=24,
        ),
        min_size=1, max_size=8,
    )
)
def test_quality_funnel_matches_reference(spark, docs):
    """quality_funnel vs a pure-Python reference of the cumulative stage
    logic (including 0-token docs, which must fail stage 0 but still count
    in the scan)."""
    from citydata_etl_spark.operators.pipeline import quality_funnel

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    out = {
        r["stage"]: r
        for r in quality_funnel(
            spark.createDataFrame(rows, ["doc_id", "text"])
        ).collect()
    }

    surv = [0] * 5
    toks_surv = [0] * 5
    sw = {"the", "a", "of", "and", "to", "in", "is", "that", "it", "for"}
    for toks in docs:
        n = len(toks)
        text = " ".join(toks)
        n_chars = len(text)
        n_spaces = text.count(" ")
        conds = [n >= 1, n >= 16]
        if n:
            mean_len = (n_chars - n_spaces) / n
            conds.append(2.0 <= mean_len <= 12.0)
            conds.append(sum(1 for t in toks if t in sw) / n >= 0.05)
            conds.append(len(set(toks)) / n > 0.3)
        else:
            conds += [False, False, False]
        ok = True
        for i, c in enumerate(conds):
            ok = ok and c
            if ok:
                surv[i] += 1
                toks_surv[i] += n
    names = ["non_empty", "min_length", "word_shape", "stopword_en",
             "repetition"]
    assert len(out) == 5
    for i in range(5):
        assert out[i]["stage_name"] == names[i]
        assert out[i]["n_surviving"] == surv[i]
        assert out[i]["tokens_surviving"] == toks_surv[i]


def test_temperature_mix_limits(spark):
    """alpha=1 reproduces the natural distribution (every source keeps
    everything: keep_rate == 1), and alpha < 1 upweights low-resource
    sources (the smallest source's target weight strictly exceeds its
    natural share)."""
    from citydata_etl_spark.operators.pipeline import temperature_mix

    sizes = {0: 5, 1: 40, 2: 200}  # tokens per doc, by source
    docs = spark.createDataFrame(
        [(i, "w " * sizes[i % 3], f"s{i % 3}") for i in range(90)],
        "doc_id LONG, text STRING, source STRING",
    )
    nat = {r["source"]: r for r in temperature_mix(docs, alpha=1.0).collect()}
    assert all(abs(r["keep_rate"] - 1.0) < 1e-6 for r in nat.values())
    total = sum(r["total_tokens"] for r in nat.values())
    cool = {r["source"]: r for r in temperature_mix(docs, alpha=0.3).collect()}
    smallest = min(nat, key=lambda s: nat[s]["total_tokens"])
    assert (
        cool[smallest]["target_weight"]
        > nat[smallest]["total_tokens"] / total
    )


def test_normalize_text_idempotent_and_collides_reformats(spark):
    """Normalization is idempotent (normalize(normalize(x)) is a fixed
    point) and makes trivially-reformatted duplicates collide on the
    digest — the property exact-dedup relies on downstream."""
    from citydata_etl_spark.operators.text import normalize_text

    docs = spark.createDataFrame(
        [
            (1, "Hello,   World! 42"),
            (2, "  hello world 42  "),
            (3, "HELLO *** world ... 42"),
            (4, "something else"),
        ],
        "doc_id LONG, text STRING",
    )
    once = normalize_text(docs)
    rows = {r["doc_id"]: r for r in once.collect()}
    assert rows[1]["norm_text"] == rows[2]["norm_text"] == "hello world 42"
    shas = {r["norm_sha"] for i, r in rows.items() if i in (1, 2, 3)}
    assert len(shas) == 1  # reformatted duplicates collide
    assert rows[4]["norm_sha"] not in shas
    from pyspark.sql import functions as SF

    twice = normalize_text(
        once.select("doc_id", SF.col("norm_text").alias("text"))
    )
    again = {r["doc_id"]: r["norm_text"] for r in twice.collect()}
    assert all(again[i] == rows[i]["norm_text"] for i in rows)


def test_blocklist_filter_drops_exactly_blocked_sources(spark):
    """The catalog blocklist entry must drop src3/src7/src11 and nothing
    else."""
    from citydata_etl_spark.plans.catalog import load_all

    out = load_all()["d6_blocklist_filter"].spark_fn(
        spark, "/root/testdata/sf0.001"
    )
    kept = {r["source"] for r in out.collect()}
    assert not kept & {"src3", "src7", "src11"}
    assert "src0" in kept and "src1" in kept


def test_funnel_stages_ordering_edges(spark):
    """Funnel strictness contract: steps must occur STRICTLY after the
    previous step — purchase-before-view doesn't count, a click at
    exactly the view's timestamp doesn't count, and row arrival order is
    irrelevant (the fold sorts by (ts, event_id))."""
    import datetime as dt

    from citydata_etl_spark.operators.aggregates import funnel_stages

    t = lambda s: dt.datetime.fromisoformat(f"2026-01-01 {s}")
    rows = [
        # u1: clean view -> click -> purchase (inserted out of order)
        (30, t("00:30:00"), 1, "purchase"),
        (10, t("00:10:00"), 1, "view"),
        (20, t("00:20:00"), 1, "click"),
        # u2: purchase BEFORE first view -> stage stops at view
        (40, t("00:05:00"), 2, "purchase"),
        (50, t("00:10:00"), 2, "view"),
        # u3: click at EXACTLY the view ts -> not strictly after
        (60, t("00:10:00"), 3, "view"),
        (61, t("00:10:00"), 3, "click"),
        (62, t("00:20:00"), 3, "purchase"),
        # u4: never views -> excluded from the funnel population
        (70, t("00:01:00"), 4, "click"),
    ]
    events = spark.createDataFrame(
        rows, "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING"
    )
    out = {
        r["user_id"]: r
        for r in funnel_stages(
            events, ["view", "click", "purchase"]
        ).collect()
    }
    assert set(out) == {1, 2, 3}
    assert out[1]["stage"] == 3
    assert out[2]["stage"] == 1 and out[2]["click_ts"] is None
    # same-ts click rejected, so the later purchase can't qualify either
    assert out[3]["stage"] == 1
    assert out[3]["click_ts"] is None and out[3]["purchase_ts"] is None


@given(
    st.lists(st.integers(min_value=0, max_value=60), min_size=1, max_size=8),
    st.tuples(
        st.integers(min_value=2, max_value=12),
        st.integers(min_value=1, max_value=12),
    ).filter(lambda t: t[1] <= t[0]),
)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_chunk_documents_coverage(spark, lengths, wincfg):
    """Chunking invariants vs a pure-Python reference: exact chunk count
    max(ceil((n-w)/s)+1, 1), every chunk non-empty, stride-aligned
    starts, and concatenating each chunk's non-overlapping suffix
    reconstructs the document exactly."""
    import math

    from citydata_etl_spark.operators.pipeline import chunk_documents

    window, stride = wincfg
    docs = spark.createDataFrame(
        [(i, " ".join(f"t{j}" for j in range(n)))
         for i, n in enumerate(lengths)],
        "doc_id LONG, text STRING",
    )
    out = chunk_documents(docs, window=window, stride=stride)
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r["doc_id"], []).append(r)

    for i, n in enumerate(lengths):
        toks = [f"t{j}" for j in range(n)]
        chunks = sorted(by_doc[i], key=lambda r: r["chunk_idx"])
        want_nc = max(math.ceil(max(n - window, 0) / stride) + 1, 1)
        assert len(chunks) == want_nc, (n, window, stride)
        rebuilt = []
        for r in chunks:
            got = r["chunk_text"].split(" ") if r["chunk_text"] else []
            start = r["chunk_idx"] * stride
            assert got == toks[start:start + window]
            assert r["n_tokens"] == len(got)
            assert len(got) > 0 or n == 0  # empty only for empty docs
            new = got[len(rebuilt) - start:] if start < len(rebuilt) else got
            rebuilt.extend(new)
        assert rebuilt == toks


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=500),
            st.integers(min_value=0, max_value=120),
        ),
        min_size=0,
        max_size=20,
    ),
    st.integers(min_value=1, max_value=200),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_interval_overlap_binned_equals_naive(spark, raw, cell):
    """The grid-binned overlap join must emit EXACTLY the naive
    all-pairs result, each pair once, for any cell size — the canonical
    cell attribution cannot drop or duplicate a pair."""
    from citydata_etl_spark.operators.joins import interval_overlap_pairs

    rows = [(i, s, s + ln) for i, (s, ln) in enumerate(raw)]
    want = {
        (a[0], b[0])
        for ai, a in enumerate(rows)
        for b in rows[ai + 1:]
        if a[1] <= b[2] and b[1] <= a[2]
    }
    df = spark.createDataFrame(
        rows, "id LONG, start LONG, end LONG"
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in interval_overlap_pairs(df, cell_size=cell).collect()
    }
    assert got == want


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["site.com", "WWW.Site.COM", "a.b.example"]),
            st.sampled_from(["", ":443", ":8080"]),
            st.sampled_from(["/", "/p", "/p/q.html"]),
            st.lists(
                st.sampled_from(
                    ["a=1", "z=9", "utm_source=x", "utm_medium=y", "b="]
                ),
                max_size=4,
            ),
            st.sampled_from(["", "#frag", "#a/b?c=1"]),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_canonicalize_url_idempotent_and_matches_reference(spark, parts):
    """canonicalize_url must be IDEMPOTENT (a canonical URL canonicalizes
    to itself — the property that makes it usable as a frontier key) and
    agree with a pure-Python reference on randomized host/port/path/
    query/fragment combinations."""
    from urllib.parse import urlsplit

    from citydata_etl_spark.functions.scalar import canonicalize_url

    def ref(url):
        sp = urlsplit(url)
        auth = sp.netloc.lower()
        if auth.startswith("www."):
            auth = auth[4:]
        if auth.endswith(":443"):
            auth = auth[:-4]
        params = sorted(
            p for p in sp.query.split("&")
            if p != "" and not p.startswith("utm_")
        )
        q = "&".join(params)
        return f"https://{auth}{sp.path}" + (f"?{q}" if q else "")

    urls = [
        f"https://{h}{port}{path}"
        + (("?" + "&".join(qs)) if qs else "")
        + frag
        for h, port, path, qs, frag in parts
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url STRING")
    got = [
        r["c"]
        for r in df.select(canonicalize_url("url").alias("c")).collect()
    ]
    assert got == [ref(u) for u in urls]
    # idempotence: canonical(canonical(u)) == canonical(u)
    df2 = spark.createDataFrame([(c,) for c in got], "url STRING")
    got2 = [
        r["c"]
        for r in df2.select(canonicalize_url("url").alias("c")).collect()
    ]
    assert got2 == got


@settings(**SETTINGS)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d", "e"]),
            min_size=1,
            max_size=8,
        ),
        min_size=2,
        max_size=10,
    ),
    st.sampled_from([0.4, 0.6, 0.9]),
)
def test_containment_blocking_is_lossless(spark, docs, threshold):
    """The prefix-vs-full-index containment join must return EXACTLY the
    pairs a pure-Python all-pairs reference finds — the smaller-side
    pigeonhole blocking prunes, never loses (including total-containment
    pairs where one doc's grams are a strict subset of the other's)."""
    from citydata_etl_spark.operators.dedup import containment_pairs

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in containment_pairs(df, n=2, threshold=threshold).collect()
    }

    def grams(toks):
        if len(toks) == 1:
            return {toks[0]}
        return {" ".join(toks[i:i + 2]) for i in range(len(toks) - 1)}

    want = {}
    for (ia, ta), (ib, tb) in itertools.combinations(rows, 2):
        ga, gb = grams(ta.split(" ")), grams(tb.split(" "))
        c = len(ga & gb) / min(len(ga), len(gb))
        if c >= threshold:
            want[(ia, ib)] = round(c, 6)
    assert got.keys() == want.keys()
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=7),
            st.integers(min_value=0, max_value=7),
        ),
        min_size=0,
        max_size=24,
    )
)
def test_triangle_counts_match_bruteforce(spark, raw_edges):
    """Degree-oriented wedge counting equals brute-force triangle
    enumeration on random multigraphs with self-loops and duplicate /
    reversed edges."""
    from citydata_etl_spark.operators.graph import triangle_counts

    und = {tuple(sorted(e)) for e in raw_edges if e[0] != e[1]}
    nodes = {n for e in und for n in e}
    want = dict.fromkeys(nodes, 0)
    for tri in itertools.combinations(sorted(nodes), 3):
        a, b, c = tri
        if (
            (a, b) in und and (a, c) in und and (b, c) in und
        ):
            for n in tri:
                want[n] += 1

    if not raw_edges:
        raw_edges = [(0, 0)]  # createDataFrame needs >= 1 row
    df = spark.createDataFrame(raw_edges, "src LONG, dst LONG")
    got = {
        r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()
    }
    assert got == want


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),
            st.integers(min_value=0, max_value=5),
        ),
        min_size=1,
        max_size=15,
    ),
    st.integers(min_value=1, max_value=3),
)
def test_pagerank_matches_python_reference(spark, raw_edges, n_iter):
    """The distributed PageRank recurrence equals a pure-Python integer
    implementation of the same stated formula on random graphs —
    including dangling nodes and mass-leak flooring."""
    from citydata_etl_spark.operators.graph import pagerank

    edges = {(s, d) for s, d in raw_edges if s != d}
    if not edges:
        return
    nodes = sorted({n for e in edges for n in e})
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    n = len(nodes)
    base = (1_000_000 * 15 // 100) // n
    pr = {v: 1_000_000 // n for v in nodes}
    for _ in range(n_iter):
        nxt = {}
        for v in nodes:
            s = sum(
                pr[u] // outdeg[u] for (u, w) in edges if w == v
            )
            nxt[v] = base + (85 * s) // 100
        pr = nxt

    df = spark.createDataFrame(sorted(edges), "src LONG, dst LONG")
    got = {
        r["node"]: r["pr"] for r in pagerank(df, n_iter=n_iter).collect()
    }
    assert got == pr


# pure-Python state-machine simulation — no Spark job per example, so it
# can afford two orders of magnitude more examples than the Spark-backed
# properties (a 2000-example stress run also passed during development)
@settings(**{**SETTINGS, "max_examples": 300})
@given(
    st.lists(  # (tsec in a small range, is_error) — dense ties + gaps
        st.tuples(
            st.integers(min_value=0, max_value=12000),
            st.booleans(),
        ),
        min_size=1,
        max_size=20,
    ),
    st.integers(min_value=0, max_value=3000),   # watermark delay (s)
    st.integers(min_value=1, max_value=4),      # number of batches
)
def test_buffered_sessions_equal_batch_fold_under_reordering(
    events, delay_s, n_batches
):
    """Pure state-machine simulation of the buffered sessionizer's shard
    kernel on one user: events are dealt into arrival batches
    ARBITRARILY (any order), the watermark advances as the engine's
    would (max event time seen - delay, never retreating), late events
    BELOW the watermark are dropped exactly as the engine drops them,
    and a final far-future watermark flushes the tail. The concatenated
    emissions must equal the batch dynamic-gap fold over the admitted
    events — for every random interleaving."""
    from citydata_etl_spark.streaming.stateful import _BUFFERED_SESSIONS
    from tests.test_streaming import (
        _FakeShardState,
        _batch_sessions,
        _emitted,
    )

    rows = [
        (1, t, i, 300 if err else 1800)
        for i, (t, err) in enumerate(events)
    ]
    # deal rows round-robin into arrival batches (arbitrary disorder)
    batches = [rows[i::n_batches] for i in range(n_batches)]
    state = _FakeShardState()
    emitted = []
    admitted = []
    wm_s = 0
    for b in batches:
        # engine contract: rows at/after the watermark are admitted; the
        # watermark then advances to max(event time) - delay AFTER the
        # batch, never retreating
        live = [r for r in b if r[1] >= wm_s]
        admitted += live
        state.wm_ms = wm_s * 1000
        if live:
            emitted += _emitted(_BUFFERED_SESSIONS, state, live)
        wm_s = max([wm_s] + [r[1] - delay_s for r in b])
    # final flush: watermark far past every horizon
    state.wm_ms = 10**9 * 1000
    emitted += _emitted(_BUFFERED_SESSIONS, state, [])

    # reference: batch fold over the admitted events in (tsec, id) order
    want = _batch_sessions(admitted)
    assert emitted == want


@settings(**SETTINGS)
@given(
    base=st.dictionaries(
        st.integers(0, 9),
        st.tuples(st.sampled_from("AB"), st.integers(0, 99)),
        min_size=1,
        max_size=8,
    ),
    batches=st.lists(
        st.dictionaries(
            st.integers(0, 14),
            st.tuples(
                st.one_of(st.none(), st.sampled_from("CD")),
                st.one_of(st.none(), st.integers(100, 199)),
            ),
            min_size=1,
            max_size=5,
        ),
        min_size=1,
        max_size=3,
    ),
)
def test_snapshot_history_equals_model_fold(spark, tmp_path_factory, base, batches):
    """Random merge sequences against a pure-Python fold: the latest
    snapshot equals the folded state, and EVERY earlier version still
    reads back as the state it was committed with (isolation under
    later writes). NULL update fields preserve stored values; unmatched
    keys insert."""
    from citydata_etl_spark.sources.snapshots import (
        snapshot_init,
        snapshot_merge,
        snapshot_read,
    )

    path = str(tmp_path_factory.mktemp("snapprop") / "tbl")
    state = {k: (s, v) for k, (s, v) in base.items()}
    history = [dict(state)]
    snapshot_init(
        spark.createDataFrame(
            [(k, s, v) for k, (s, v) in sorted(base.items())],
            "k long, status string, val long",
        ),
        path,
        "k",
        n_buckets=4,
    )
    for batch in batches:
        for k, (s, v) in batch.items():
            if k in state:
                cs, cv = state[k]
                state[k] = (s if s is not None else cs,
                            v if v is not None else cv)
            else:
                state[k] = (s, v)
        history.append(dict(state))
        snapshot_merge(
            spark,
            path,
            spark.createDataFrame(
                [(k, s, v) for k, (s, v) in sorted(batch.items())],
                "k long, status string, val long",
            ),
            "k",
        )
    for i, expect in enumerate(history):
        got = {
            r.k: (r.status, r.val)
            for r in snapshot_read(spark, path, i + 1).collect()
        }
        assert got == expect, f"version {i + 1} diverged"


@settings(max_examples=300, deadline=None)
@given(blob=st.binary(max_size=220))
def test_binary_parsers_are_total_on_fuzz(blob):
    """Every byte-level parser must be TOTAL on arbitrary input — None,
    never an exception — including inputs that start with the right
    magic and then lie about lengths (crawl triage over 100 TB of
    untrusted bytes cannot abort a job on one malformed blob)."""
    from citydata_etl_spark.operators.multimodal import (
        _parse_jpeg_sof,
        _parse_mp4_mvhd,
    )

    for prefix in (b"", b"\xff\xd8", b"\x00\x00\x00\x14ftypisom"):
        for parser in (_parse_jpeg_sof, _parse_mp4_mvhd):
            out = parser(prefix + blob)
            assert out is None or isinstance(out, tuple)


@settings(**SETTINGS)
@given(
    dim=st.lists(
        st.tuples(
            st.sampled_from("pq"),            # key
            st.integers(0, 8),                # version slot
            st.integers(1, 4),                # duration in slots
            st.one_of(st.none(), st.sampled_from("AB")),  # attr (can be NULL)
        ),
        min_size=1,
        max_size=6,
    ),
    facts=st.lists(
        st.tuples(st.sampled_from("pqr"), st.integers(-5, 130)),
        min_size=1,
        max_size=12,
    ),
)
def test_temporal_join_equals_model_lookup(spark, dim, facts):
    """temporal_join vs a brute-force Python lookup over random
    non-overlapping SCD2 versions (last one per key open-ended) and
    random fact times — including NULL dimension attributes, which the
    row-atomic as-of carry must NOT backfill from older versions."""
    from citydata_etl_spark.operators.joins import temporal_join

    # build non-overlapping versions per key from (slot, duration) runs;
    # the LAST version per key becomes open-ended (valid_to NULL)
    rows = []
    by_key: dict[str, list] = {}
    for k, slot, dur, attr in dim:
        by_key.setdefault(k, []).append((slot, dur, attr))
    for k, vs in by_key.items():
        t = 0
        for i, (slot, dur, attr) in enumerate(
            sorted(vs, key=lambda v: (v[0], v[1]))
        ):
            start = t + slot * 10
            end = start + dur * 10
            rows.append(
                (k, start, None if i == len(vs) - 1 else end, attr)
            )
            t = end
    dimdf = spark.createDataFrame(
        rows, "k string, valid_from long, valid_to long, attr string"
    )
    factdf = spark.createDataFrame(
        [(k, i, ts) for i, (k, ts) in enumerate(facts)],
        "k string, fid long, ts long",
    )

    def model(k, ts):
        best = None
        for rk, vf, vt, attr in rows:
            if rk == k and vf <= ts and (vt is None or ts < vt):
                best = attr
        return best

    got = {
        r.fid: r.dim_attr
        for r in temporal_join(factdf, dimdf, "k", "ts", ["attr"]).collect()
    }
    want = {i: model(k, ts) for i, (k, ts) in enumerate(facts)}
    assert got == want


@settings(**SETTINGS)
@given(
    docs=st.lists(
        st.lists(
            st.text(alphabet="abc", min_size=1, max_size=6),
            min_size=1, max_size=8,
        ).map(" ".join),
        min_size=1,
        max_size=6,
    )
)
def test_bpe_merge_steps_equals_python_bpe(spark, docs):
    """bpe_merge_steps (F.aggregate fold merge + broadcast winner) vs a
    pure-Python greedy left-to-right BPE trainer on random tiny-alphabet
    corpora — the alphabet is deliberately 3 letters so self-pairs
    ('a','a'), overlapping runs ('aaaa'), and tie-breaks all occur."""
    from collections import Counter

    from citydata_etl_spark.operators.text import bpe_merge_steps

    df = spark.createDataFrame(
        list(enumerate(docs)), "doc_id LONG, text STRING"
    )
    got = {
        (r["step"], r["pa"], r["pb"]): (r["n"], r["rnk"])
        for r in bpe_merge_steps(df, n_steps=3, k=5).collect()
    }

    toks = Counter(t for d in docs for t in d.split(" ") if t)
    corpus = {tok: list(tok) for tok in toks}

    def pair_counts():
        c = Counter()
        for tok, syms in corpus.items():
            for i in range(len(syms) - 1):
                c[(syms[i], syms[i + 1])] += toks[tok]
        return c

    def merge(pair):
        a, b = pair
        for tok, syms in corpus.items():
            out = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            corpus[tok] = out

    expect = {}
    for step in (1, 2, 3, 4):
        pc = pair_counts()
        top = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
        for rnk, ((pa, pb), n) in enumerate(top, 1):
            expect[(step, pa, pb)] = (n, rnk)
        if step < 4 and top:
            merge(top[0][0])
    assert got == expect


@settings(**SETTINGS)
@given(
    docs=st.lists(
        st.lists(
            st.text(alphabet="abc", min_size=1, max_size=6),
            min_size=1, max_size=8,
        ).map(" ".join),
        min_size=1,
        max_size=6,
    )
)
def test_bpe_encode_equals_python_bpe(spark, docs):
    """bpe_encode (train 3 merges on the vocab, encode the vocab, join
    per-doc occurrences) vs a pure-Python train-then-encode on the same
    tiny-alphabet corpora — asserts the per-document token budget row
    (n_words, n_chars, n_bpe_tokens, saved_bp) exactly, so a training
    divergence, a fold bug, or a join dropping a token all fail."""
    from collections import Counter

    from citydata_etl_spark.operators.text import bpe_encode

    df = spark.createDataFrame(
        list(enumerate(docs)), "doc_id LONG, text STRING"
    )
    rows = bpe_encode(df, n_steps=3).collect()
    got = {
        r["doc_id"]: (
            r["n_words"], r["n_chars"], r["n_bpe_tokens"], r["saved_bp"]
        )
        for r in rows
    }
    # conservation: detokenized symbols reproduce every token exactly
    assert all(r["n_decode_errors"] == 0 for r in rows)

    toks = Counter(t for d in docs for t in d.split(" ") if t)
    corpus = {tok: list(tok) for tok in toks}

    def pair_counts():
        c = Counter()
        for tok, syms in corpus.items():
            for i in range(len(syms) - 1):
                c[(syms[i], syms[i + 1])] += toks[tok]
        return c

    def merge(pair):
        a, b = pair
        for tok, syms in corpus.items():
            out = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            corpus[tok] = out

    for _ in range(3):
        pc = pair_counts()
        if not pc:
            break
        merge(min(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0])

    expect = {}
    for i, d in enumerate(docs):
        words = [t for t in d.split(" ") if t]
        if not words:
            continue
        n_chars = sum(len(t) for t in words)
        n_bpe = sum(len(corpus[t]) for t in words)
        expect[i] = (
            len(words), n_chars, n_bpe,
            ((n_chars - n_bpe) * 10000) // n_chars,
        )
    assert got == expect


@settings(**SETTINGS)
@given(
    vecs=st.lists(
        st.lists(
            st.integers(min_value=-2, max_value=2).map(lambda x: x / 2.0),
            min_size=4, max_size=4,
        ),
        min_size=2, max_size=10,
    )
)
def test_mmr_diversify_equals_python_model(spark, vecs):
    """mmr_topk_exactseed (unrolled greedy picks as one-row broadcasts)
    vs a pure-Python greedy MMR on random low-dim vectors drawn from a
    coarse value grid — the grid forces exact dot TIES, so the
    (score DESC, id ASC) tie-break is exercised at the query pick, the
    candidate cut, and every greedy step."""
    from citydata_etl_spark.operators.similarity import mmr_topk_exactseed

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    got = [
        (r["rnk"], r["neighbor_id"], r["rel_dot"], r["mmr2"])
        for r in sorted(
            mmr_topk_exactseed(df, k=3, n_cand=4).collect(),
            key=lambda r: r["rnk"],
        )
    ]

    M = 2147483647
    q = min(range(len(vecs)),
            key=lambda i: ((1103515245 * (i % M) + 12345) % M, i))
    mic = [[int(__import__("math").floor(x * 1e6 + 0.5)) for x in v]
           for v in vecs]

    def dot(a, b):
        return sum(x * y for x, y in zip(a, b))

    rel = {i: dot(mic[i], mic[q]) for i in range(len(vecs)) if i != q}
    cand = sorted(rel, key=lambda i: (-rel[i], i))[:4]
    expect = []
    picked = []
    for step in (1, 2, 3):
        rest = [i for i in cand if i not in picked]
        if not rest:
            break
        if step == 1:
            best = min(rest, key=lambda i: (-rel[i], i))
            score = rel[best]
        else:
            def mmr2(i):
                return rel[i] - max(dot(mic[i], mic[s]) for s in picked)
            best = min(rest, key=lambda i: (-mmr2(i), i))
            score = mmr2(best)
        picked.append(best)
        expect.append((step, best, rel[best], score))
    assert got == expect


@settings(**SETTINGS)
@given(
    keys=st.lists(
        st.integers(min_value=0, max_value=5000),
        min_size=1,
        max_size=400,
    ),
    k=st.sampled_from([8, 32, 256]),
)
def test_kmv_sketch_matches_model_and_bound(spark, keys, k):
    """The KMV distinct estimator vs a pure-Python model of the same
    contract (LCG hash, k smallest distinct values, integer-division
    estimate) on random key multisets — including the underfull-buffer
    exact mode — plus the ~3/sqrt(k) KMV error band when the buffer
    is full."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    M = 2147483647
    df = spark.createDataFrame(
        [(x,) for x in keys], "l_orderkey LONG"
    ).withColumn("l_returnflag", F.lit("G"))

    hv = (
        F.lit(1103515245) * F.pmod(F.col("l_orderkey"), F.lit(M))
        + F.lit(12345)
    ) % F.lit(M)
    dh = df.select("l_returnflag", hv.alias("hv")).distinct()
    rn = F.row_number().over(
        Window.partitionBy("l_returnflag").orderBy("hv")
    )
    buf = (
        dh.withColumn("rn", rn).filter(F.col("rn") <= k)
        .groupBy("l_returnflag")
        .agg(F.max("hv").alias("kth"), F.count("*").alias("n_buf"))
        .collect()[0]
    )
    got = (
        buf["n_buf"] if buf["n_buf"] < k
        else ((k - 1) * M) // max(buf["kth"], 1)
    )

    hs = sorted({(1103515245 * (x % M) + 12345) % M for x in keys})
    want = (
        len(hs) if len(hs) < k else ((k - 1) * M) // max(hs[k - 1], 1)
    )
    assert got == want
    exact = len(set(keys))
    if len(hs) >= k:
        assert abs(got / exact - 1) <= 3 / (k ** 0.5) + 0.05


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=500),          # vec_id pool
            st.lists(
                st.sampled_from([-2.0, -1.0, -0.5, 0.0, 0.5, 1.0, 2.0]),
                min_size=4, max_size=4,
            ),
        ),
        min_size=2, max_size=25,
        unique_by=lambda t: t[0],
    )
)
def test_distexact_trainer_matches_reference(spark, rows):
    """The integer Lloyd trainer (distexact_centroids, two chained
    iterations) vs a pure-Python reference on randomized corpora —
    bit-equality on the trained centroid table itself (no float
    anywhere). The coarse value grid forces integer-dot ties (broken
    by cidx), negative component sums (the (s - pmod) div floor path),
    duplicate vectors, zero vectors, and corpora small enough that
    clusters go empty and carry the previous iteration's centroid."""
    from citydata_etl_spark.operators import similarity as S

    n_cent = 4
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    got = {
        r["cidx"]: list(r["ci"])
        for r in S.distexact_centroids(
            df, n_centroids=n_cent, n_iter=2
        ).collect()
    }

    ids = [i for i, _ in rows]
    mic = {
        i: [int((x * 1000000 + 0.5) // 1) for x in v] for i, v in rows
    }
    seeds = sorted(
        ids, key=lambda i: ((1103515245 * (i % 2147483647) + 12345) % 2147483647, i)
    )[: n_cent]

    def idot(a, b):
        return sum(x * y for x, y in zip(a, b))

    cents = [mic[s] for s in seeds]
    for _ in range(2):
        members = {}
        for i in ids:
            c = min(range(len(seeds)),
                    key=lambda c: (-idot(mic[i], cents[c]), c))
            members.setdefault(c, []).append(i)
        cents = [
            [sum(mic[i][d] for i in members[c]) // len(members[c])
             for d in range(4)]
            if c in members else cents[c]
            for c in range(len(seeds))
        ]
    assert got == {c: cents[c] for c in range(len(seeds))}


@settings(**SETTINGS)
@given(
    keys=st.lists(
        st.integers(min_value=0, max_value=40), min_size=1, max_size=60
    )
)
def test_countmin_matches_model_and_never_undercounts(spark, keys):
    """The a20 Count-Min construction vs a pure-Python sketch on random
    key streams dense enough to force cell collisions: the estimate
    must equal the model's bit-for-bit AND satisfy CMS's one-sided
    guarantee (estimate >= exact for every probed key)."""
    D, WIDTH, M = 3, 32, 2147483647
    df = spark.createDataFrame([(k,) for k in keys], "user_id LONG")
    # reuse the registered query's construction on a temp view by
    # rebuilding it inline (the catalog entry reads parquet; the
    # construction under test is the hash/sketch/probe math)
    from pyspark.sql import functions as F

    def cell_py(j, u):
        return (((1103515245 + 2 * j) * (u % M)) % M
                + (12345 + j * 40503)) % M % WIDTH

    def cell(j, key):
        return (
            (F.lit(1103515245 + 2 * j) * F.pmod(key, F.lit(M))) % M
            + F.lit(12345 + j * 40503)
        ) % M % WIDTH

    rows = df.select(
        F.explode(F.array(*[
            F.struct(F.lit(j).alias("j"),
                     cell(j, F.col("user_id")).alias("cell"))
            for j in range(D)
        ])).alias("p")
    )
    cells = rows.groupBy("p.j", "p.cell").agg(F.count("*").alias("n"))
    ex = df.groupBy("user_id").agg(F.count("*").alias("exact_n"))
    cand = ex.orderBy(F.desc("exact_n"), "user_id").limit(10)
    probes = cand.select(
        "user_id", "exact_n",
        F.explode(F.array(*[
            F.struct(F.lit(j).alias("j"),
                     cell(j, F.col("user_id")).alias("cell"))
            for j in range(D)
        ])).alias("q"),
    )
    got = {
        r["user_id"]: (r["exact_n"], r["cms_est"])
        for r in F.broadcast(probes)
        .join(cells, (F.col("q.j") == F.col("j"))
              & (F.col("q.cell") == F.col("cell")))
        .groupBy("user_id", "exact_n")
        .agg(F.min("n").alias("cms_est"))
        .collect()
    }

    from collections import Counter
    exact = Counter(keys)
    sketch = {}
    for u, n in exact.items():
        for j in range(D):
            c = (j, cell_py(j, u))
            sketch[c] = sketch.get(c, 0) + n
    cand_py = sorted(exact, key=lambda u: (-exact[u], u))[:10]
    expect = {
        u: (exact[u], min(sketch[(j, cell_py(j, u))] for j in range(D)))
        for u in cand_py
    }
    assert got == expect
    for u, (ex_n, est) in got.items():
        assert est >= ex_n  # CMS one-sided error


@settings(**SETTINGS)
@given(
    cents=st.lists(
        st.integers(min_value=0, max_value=50), min_size=1, max_size=60
    )
)
@example(cents=[7])       # r10 falsifier: single-value corpus, hi==lo
@example(cents=[0, 1])    # width < NB: the ceil bucket-edge boundary
def test_histogram_quantiles_match_sorted_model(spark, cents):
    """The a21 two-level selection (operators/aggregates.py:
    histogram_order_statistics) vs a plain sorted-list order statistic
    on random duplicate-heavy integers: exact must be the
    ceil(q*n/100)-th smallest for every q, and est must be its level-1
    bucket's upper edge — including the degenerate hi==lo corpus
    (every value identical: the level-1 short-circuit answers with no
    window at all)."""
    from citydata_etl_spark.operators.aggregates import (
        histogram_order_statistics,
    )

    NB = 128
    df = spark.createDataFrame([(c,) for c in cents], "c LONG")
    got = {
        r["q"]: (r["est"], r["exact"], r["n"])
        for r in histogram_order_statistics(
            df, [50, 95, 99], n_buckets=NB
        ).collect()
    }

    s = sorted(cents)
    lo, hi, n = min(cents), max(cents), len(cents)
    expect = {}
    for q in (50, 95, 99):
        k = (q * n + 99) // 100
        exact = s[k - 1]
        b = ((exact - lo) * NB) // (hi - lo + 1)
        est = lo + ((b + 1) * (hi - lo + 1) + NB - 1) // NB - 1
        expect[q] = (est, exact, n)
    assert got == expect
    for q, (est, exact, _n) in got.items():
        assert est >= exact  # upper-edge estimate never undershoots


def test_histogram_quantiles_adversarial_skew(spark):
    """One level-1 bucket holds >90% of the rows (the case where a
    single-level recursion degrades toward the global sort): values
    are packed so densely into one bucket's range that level 2 must
    re-split them, and the answers must still equal the sorted-list
    model. Mix in a single-value cluster (its own level-1 bucket, so
    the mn==mx short-circuit fires) alongside the level-2 re-split and
    final rank window in the same run."""
    from citydata_etl_spark.operators.aggregates import (
        histogram_order_statistics,
    )

    # range [0, 128000): bucket width 1000. 950 distinct-ish values in
    # [5000, 5999] = one bucket (>90%), 30 identical at 77777, a few
    # outliers spreading lo/hi.
    vals = [0, 127999, 64000]
    vals += [5000 + (i * 7) % 1000 for i in range(950)]
    vals += [77777] * 30
    df = spark.createDataFrame([(v,) for v in vals], "c LONG")

    NB = 128
    got = {
        r["q"]: (r["est"], r["exact"], r["n"])
        for r in histogram_order_statistics(
            df, [1, 50, 95, 97, 99], n_buckets=NB
        ).collect()
    }
    s = sorted(vals)
    lo, hi, n = min(vals), max(vals), len(vals)
    assert len(
        [v for v in vals if ((v - lo) * NB) // (hi - lo + 1)
         == ((5000 - lo) * NB) // (hi - lo + 1)]
    ) > 0.9 * n  # the fixture really is skewed
    expect = {}
    for q in (1, 50, 95, 97, 99):
        k = (q * n + 99) // 100
        exact = s[k - 1]
        b = ((exact - lo) * NB) // (hi - lo + 1)
        est = lo + ((b + 1) * (hi - lo + 1) + NB - 1) // NB - 1
        expect[q] = (est, exact, n)
    assert got == expect
    # p97 lands in the single-value 77777 bucket: the short-circuit path
    assert got[97][1] == 77777


@settings(**SETTINGS)
@given(
    words=st.lists(
        st.text(alphabet="ab", min_size=0, max_size=4),
        min_size=1, max_size=12, unique=True,
    )
)
def test_edit1_blocking_is_lossless(spark, words):
    """Deletion-neighborhood blocking must return EXACTLY the naive
    quadratic Levenshtein join's distance-1 pairs — blocking is
    pruning, never loss. Tiny two-letter alphabet forces repeated
    characters (shared deletion variants, the false-positive case) and
    includes the empty string and length-1 keys (the insertion edge)."""
    import itertools

    from citydata_etl_spark.operators.dedup import edit1_pairs

    df = spark.createDataFrame([(w,) for w in words], "key STRING")
    got = {
        (r["key_a"], r["key_b"])
        for r in edit1_pairs(df, key_col="key").collect()
    }

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    want = {
        (min(a, b), max(a, b))
        for a, b in itertools.combinations(words, 2)
        if lev(a, b) == 1
    }
    assert got == want


@settings(**SETTINGS)
@given(
    vecs=st.lists(
        st.lists(
            st.integers(min_value=-2, max_value=2).map(lambda x: x / 2.0),
            min_size=4, max_size=4,
        ),
        min_size=3, max_size=10,
    )
)
def test_mmr_batch_matches_python_model_all_queries(spark, vecs):
    """mmr_batch vs a pure-Python greedy MMR run independently for
    EVERY query id (not just the twin's) on tie-heavy low-dim vectors —
    pins the group kernel's candidate ordering, redundancy max, and
    (score DESC, id ASC) argmax per query."""
    import math

    from citydata_etl_spark.operators.similarity import mmr_batch

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    qids = list(range(len(vecs)))
    queries = spark.createDataFrame([(q,) for q in qids], "query_id LONG")
    got = {}
    for r in mmr_batch(df, queries, k=3, n_cand=4).collect():
        got.setdefault(r["query_id"], {})[r["rnk"]] = (
            r["neighbor_id"], r["rel_dot"], r["mmr2"]
        )

    mic = [[int(math.floor(x * 1e6 + 0.5)) for x in v] for v in vecs]

    def dot(a, b):
        return sum(x * y for x, y in zip(a, b))

    expect = {}
    for q in qids:
        rel = {i: dot(mic[i], mic[q]) for i in qids if i != q}
        cand = sorted(rel, key=lambda i: (-rel[i], i))[:4]
        picked, out = [], {}
        for step in (1, 2, 3):
            rest = [i for i in cand if i not in picked]
            if not rest:
                break
            if step == 1:
                best = min(rest, key=lambda i: (-rel[i], i))
                score = rel[best]
            else:
                def mmr2(i):
                    return rel[i] - max(
                        dot(mic[i], mic[s]) for s in picked
                    )
                best = min(rest, key=lambda i: (-mmr2(i), i))
                score = mmr2(best)
            picked.append(best)
            out[step] = (best, rel[best], score)
        if out:
            expect[q] = out
    assert got == expect


@settings(**SETTINGS)
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),      # user
            st.integers(min_value=0, max_value=9),      # coarse time unit
            st.sampled_from(["click", "view", "purchase", "error"]),
            st.integers(min_value=0, max_value=300),    # cents
        ),
        min_size=1, max_size=25,
    )
)
def test_attribution_matches_python_model(spark, events):
    """a22's last-touch attribution vs a pure-Python model on random
    streams where TIMESTAMP COLLISIONS are likely (10 coarse time
    units): the RANGE frame must make equal-ts peers visible to each
    other deterministically, click must beat view on an exact tie,
    and the 1-unit horizon must exclude older touches."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    H = 3_600_000_000
    rows = [
        (u, t * H, et, c / 100.0) for u, t, et, c in events
    ]
    df = spark.createDataFrame(
        rows, "user_id LONG, tus LONG, event_type STRING, value DOUBLE"
    )
    w = (W.partitionBy("user_id").orderBy("tus")
         .rangeBetween(W.unboundedPreceding, 0))
    lc = F.max(F.when(F.col("event_type") == "click", F.col("tus"))).over(w)
    lv = F.max(F.when(F.col("event_type") == "view", F.col("tus"))).over(w)
    pur = (df.withColumn("lc", lc).withColumn("lv", lv)
           .filter(F.col("event_type") == "purchase"))
    att = (
        F.when(F.col("lc").isNotNull()
               & (F.col("lc") >= F.col("tus") - H)
               & (F.col("lv").isNull() | (F.col("lc") >= F.col("lv"))),
               F.lit("click"))
        .when(F.col("lv").isNotNull() & (F.col("lv") >= F.col("tus") - H),
              F.lit("view"))
        .otherwise(F.lit("organic"))
    )
    got = {
        r["attribution"]: (r["n"], r["cents"])
        for r in pur.groupBy(att.alias("attribution")).agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("bigint"))
            .alias("cents"),
        ).collect()
    }

    from collections import defaultdict
    model = defaultdict(lambda: [0, 0])
    for u, t, et, c in events:
        if et != "purchase":
            continue
        tus = t * H
        lc_m = max((tt * H for uu, tt, ee, _ in events
                    if uu == u and ee == "click" and tt * H <= tus),
                   default=None)
        lv_m = max((tt * H for uu, tt, ee, _ in events
                    if uu == u and ee == "view" and tt * H <= tus),
                   default=None)
        if lc_m is not None and lc_m >= tus - H and (
                lv_m is None or lc_m >= lv_m):
            k = "click"
        elif lv_m is not None and lv_m >= tus - H:
            k = "view"
        else:
            k = "organic"
        model[k][0] += 1
        model[k][1] += c
    assert got == {k: tuple(v) for k, v in model.items()}


@settings(**SETTINGS)
@given(
    rects=st.lists(
        st.tuples(
            st.integers(min_value=-50, max_value=40),
            st.integers(min_value=-50, max_value=40),
            st.integers(min_value=1, max_value=30),
            st.integers(min_value=1, max_value=30),
        ),
        min_size=1, max_size=4,
    ),
    pts=st.lists(
        st.tuples(st.integers(min_value=-60, max_value=60),
                  st.integers(min_value=-60, max_value=60)),
        min_size=1, max_size=20,
    ),
)
def test_point_in_polygon_matches_python_ray_caster(spark, rects, pts):
    """point_in_polygon_join vs a pure-Python ray caster stating the
    SAME half-open rule, on random integer rectangles (always simple
    polygons) and random points — small coordinate ranges make
    on-edge and on-vertex collisions common, which is exactly where a
    convention mismatch or an expression bug would show."""
    from citydata_etl_spark.operators.joins import point_in_polygon_join

    polys = [
        (i, [x0, x0 + w, x0 + w, x0], [y0, y0, y0 + h, y0 + h])
        for i, (x0, y0, w, h) in enumerate(rects)
    ]
    pdf = spark.createDataFrame(
        polys, "poly_id LONG, xs ARRAY<BIGINT>, ys ARRAY<BIGINT>"
    )
    tdf = spark.createDataFrame(
        [(j, x, y) for j, (x, y) in enumerate(pts)],
        "pt_id LONG, px LONG, py LONG",
    )
    got = {
        (r["pt_id"], r["poly_id"])
        for r in point_in_polygon_join(tdf, pdf).collect()
    }

    def inside(px, py, xs, ys):
        n = len(xs)
        c = 0
        for k in range(n):
            x1, y1 = xs[k], ys[k]
            x2, y2 = xs[(k + 1) % n], ys[(k + 1) % n]
            if (y1 <= py) != (y2 <= py):
                t = (x2 - x1) * (py - y1) - (px - x1) * (y2 - y1)
                if (t > 0) == (y2 > y1):
                    c += 1
        return c % 2 == 1

    want = {
        (j, i)
        for j, (x, y) in enumerate(pts)
        for i, xs, ys in polys
        if inside(x, y, xs, ys)
    }
    assert got == want
    # sanity on the rule itself: a strictly interior point of any
    # non-thin rectangle must test inside
    x0, y0, w, h = rects[0]
    if w >= 2 and h >= 2:
        assert inside(x0 + 1, y0 + 1, polys[0][1], polys[0][2])


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(),
                      st.integers(min_value=0, max_value=40)),  # user_id
            st.integers(min_value=0, max_value=1800),  # epoch seconds
        ),
        min_size=1,
        max_size=60,
    )
)
@example([(None, 0), (None, 10), (3, 20), (3, 400)])  # r11 falsifier family
def test_sliding_kmv_merge_equals_direct_sketch(spark, rows):
    """The engine builds per-SLOT k-min buffers and merges them per
    window; a Python model sketches each WINDOW directly from raw
    events. KMV mergeability says the two are IDENTICAL (every one of
    the union's k smallest hashes is within its own slot's k
    smallest) — kth_hash, n_buf, and the estimate must all match
    bit-for-bit, with a small k so buffers actually truncate.

    NULL user_ids are generated too (the r11 ADVICE falsifier family,
    pinned by the @example): the engine excludes NULL keys BEFORE
    hashing — a NULL hash would rank first and occupy a buffer slot
    the exact rider never counts — so the model skips them entirely,
    and a slot fed only NULL events produces no window row at all."""
    import datetime

    from citydata_etl_spark.operators.aggregates import (
        sliding_kmv_distinct,
    )

    K, M, SL = 4, 2147483647, 300
    df = spark.createDataFrame(
        [
            (u, datetime.datetime.fromtimestamp(
                t, tz=datetime.timezone.utc))
            for u, t in rows
        ],
        "user_id LONG, ts TIMESTAMP",
    )
    rows = [(u, t) for u, t in rows if u is not None]
    got = {
        r["window_start"]: (r["n_buf"], r["kth_hash"], r["kmv_est"],
                            r["n_exact"])
        for r in sliding_kmv_distinct(
            df, slide_s=SL, n_slots=2, k=K
        ).collect()
    }

    # direct per-window model from raw events (no slot stage)
    from collections import defaultdict
    win_users = defaultdict(set)
    for u, t in rows:
        slot = t // SL * SL
        for o in (0, SL):
            if slot - o >= 0:
                win_users[slot - o].add(u)
    want = {}
    for ws, users in win_users.items():
        hs = sorted({(1103515245 * (u % M) + 12345) % M for u in users})
        buf = hs[:K]
        kth = buf[-1]
        est = len(buf) if len(buf) < K else (K - 1) * M // max(kth, 1)
        want[ws] = (len(buf), kth, est, len(users))
    assert got == want


def test_sliding_kmv_error_band_large_cardinality(spark):
    """With |users| >> k the estimator branch engages; the estimate
    must land inside the ~2/sqrt(k) KMV band (deterministic: the LCG
    hash fixes the sketch). One slot of 2000 distinct users, k=64."""
    import datetime

    from citydata_etl_spark.operators.aggregates import (
        sliding_kmv_distinct,
    )

    K = 64
    base = datetime.datetime.fromtimestamp(0, tz=datetime.timezone.utc)
    df = spark.createDataFrame(
        [(u, base) for u in range(2000)], "user_id LONG, ts TIMESTAMP"
    )
    rows = sliding_kmv_distinct(df, slide_s=300, n_slots=2, k=K).collect()
    assert len(rows) == 1  # slot 0 only feeds window 0
    r = rows[0]
    assert r["n_exact"] == 2000 and r["n_buf"] == K
    rel = abs(r["kmv_est"] / 2000 - 1)
    assert rel <= 2.5 / (K ** 0.5), (r["kmv_est"], rel)


@settings(**SETTINGS)
@given(
    st.lists(
        st.lists(
            st.sampled_from(list("abcdefgh")), min_size=0, max_size=12
        ),
        min_size=2,
        max_size=8,
    ),
    st.integers(min_value=0, max_value=5),
)
def test_exactsubstr_cut_conservation(spark, docs, plant_len):
    """The removal form must satisfy CONSERVATION: n_kept + n_cut ==
    n_tokens, kept_text is exactly the uncovered tokens in original
    order, and the cut set matches a direct Python model (every
    position covered by a corpus-duplicated 4-gram occurrence). A
    duplicated passage of plant_len+4 tokens is planted into the
    first two docs so real cross-doc duplication always occurs."""
    from citydata_etl_spark.operators.dedup import exactsubstr_cut

    N = 4
    planted = [f"p{i}" for i in range(N + plant_len)]
    toks = [list(d) for d in docs]
    toks[0] = toks[0][:3] + planted + toks[0][3:]
    toks[1] = planted + toks[1]
    rows = [(i, " ".join(t)) for i, t in enumerate(toks)]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {r["doc_id"]: r for r in exactsubstr_cut(df, n=N).collect()}

    # python model
    from collections import Counter
    grams = Counter()
    for t in toks:
        for s in range(len(t) - N + 1):
            grams[tuple(t[s:s + N])] += 1
    for i, t in enumerate(toks):
        cut = set()
        for s in range(len(t) - N + 1):
            if grams[tuple(t[s:s + N])] >= 2:
                cut.update(range(s, s + N))
        kept = [t[p] for p in range(len(t)) if p not in cut]
        r = got[i]
        assert r["n_tokens"] == len(t)
        assert r["n_cut"] == len(cut)
        assert r["n_kept"] + r["n_cut"] == r["n_tokens"]
        assert r["kept_text"] == " ".join(kept), (i, r["kept_text"], kept)
        # the planted passage itself must be gone from both carriers
        if i in (0, 1) and len(t) >= N:
            assert " ".join(planted) not in (" " + r["kept_text"] + " ")


@settings(**SETTINGS)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["hash", "join", "filter", "scan", "agg"]),
            min_size=1,
            max_size=12,
        ),
        min_size=2,
        max_size=10,
    )
)
def test_bm25_matches_python_model(spark, docs):
    """BM25 scores, ranks, and tie-breaks must match a direct Python
    model bit-for-bit (same idf form, same parenthesization, same
    micros rounding) on random corpora over the query vocabulary."""
    import math

    from citydata_etl_spark.operators.text import bm25_topk

    Q = ["hash", "join"]
    rows = [(i, " ".join(d)) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = [
        (r["rank"], r["doc_id"], r["score_micros"], r["n_hits"])
        for r in bm25_topk(df, Q, k=5).collect()
    ]

    N = float(len(docs))
    T = float(sum(len(d) for d in docs))
    dfreq = {t: float(sum(t in d for d in docs)) for t in Q}
    scores = {}
    for i, d in enumerate(docs):
        s, hits = 0, 0
        for t in Q:
            tf = float(d.count(t))
            if tf == 0:
                continue
            hits += 1
            idf = math.log(1.0 + (N - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            dl = float(len(d))
            c = idf * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl * N / T))))
            s += math.floor(c * 1000000 + 0.5)
        if hits:
            scores[i] = (s, hits)
    want = sorted(scores.items(), key=lambda kv: (-kv[1][0], kv[0]))[:5]
    want = [
        (rk + 1, doc, s, h) for rk, (doc, (s, h)) in enumerate(want)
    ]
    assert got == want, (got, want)


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),    # user
            st.sampled_from(["click", "view", "purchase"]),
            st.integers(min_value=0, max_value=7200), # seconds
            st.integers(min_value=-500, max_value=999),  # cents
        ),
        min_size=1,
        max_size=25,
    )
)
def test_linear_attribution_conserves_cents(spark, rows):
    """Every purchase's split credits must sum to EXACTLY its cents
    (integer division + remainder-to-latest-touch), and the channel
    totals must match a direct Python model with the same horizon,
    RANGE-peer, and tie rules. Negative-value events (refund
    semantics) are generated too: the entry ENFORCES its
    non-negative-cents division precondition by excluding them — as
    purchases AND as touches — so the model does the same (ADVICE
    r11: Spark div truncates, DuckDB // floors; they diverge on
    negatives, which must therefore never reach the division)."""
    import datetime

    from citydata_etl_spark.plans.queries_agg import (
        a24_linear_attribution,
    )

    # build a parquet events fixture the entry reads
    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="a24_")
    data = [
        (
            u,
            et,
            datetime.datetime.fromtimestamp(
                t, tz=datetime.timezone.utc
            ),
            c / 100.0,
            i,
        )
        for i, (u, et, t, c) in enumerate(rows)
    ]
    spark.createDataFrame(
        data,
        "user_id LONG, event_type STRING, ts TIMESTAMP, value DOUBLE,"
        " event_id LONG",
    ).write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    got = {
        r["attribution"]: (r["n_purchases"], r["credit_cents"])
        for r in a24_linear_attribution(spark, d).collect()
    }

    H = 3600
    from collections import defaultdict
    want = defaultdict(lambda: [0, 0])
    total_purchase_cents = 0
    for u, et, t, c in rows:
        if et != "purchase" or c < 0:
            continue
        cents = int(
            __import__("math").floor((c / 100.0) * 100 + 0.5)
        )
        total_purchase_cents += cents
        touches = [
            (t2, et2) for (u2, et2, t2, c2) in rows
            if u2 == u and et2 in ("click", "view")
            and c2 >= 0 and t - H <= t2 <= t
        ]
        nc = sum(1 for _t2, e2 in touches if e2 == "click")
        nv = len(touches) - nc
        n = nc + nv
        if n == 0:
            if cents > 0:
                want["organic"][0] += 1
                want["organic"][1] += cents
            continue
        lc = max((t2 for t2, e2 in touches if e2 == "click"),
                 default=None)
        lv = max((t2 for t2, e2 in touches if e2 == "view"),
                 default=None)
        latest = (
            "click" if nc > 0 and (lv is None or lc >= lv) else "view"
        )
        cc, cv = cents * nc // n, cents * nv // n
        rem = cents - cc - cv
        if latest == "click":
            cc += rem
        else:
            cv += rem
        assert cc + cv == cents  # conservation, by construction
        if cc > 0:
            want["click"][0] += 1
            want["click"][1] += cc
        if cv > 0:
            want["view"][0] += 1
            want["view"][1] += cv
    assert got == {k: tuple(v) for k, v in want.items()}, (got, want)
    # global conservation: all credited cents == all purchase cents
    assert sum(v[1] for v in got.values()) == total_purchase_cents
