"""Seeded input generators. Everything the program under test reads comes
from here, and the same seed always yields byte-identical files.

Three input families, one per workload:

- ``write_tables``: the ten TPC-H-ish tables the query catalog scans
  (region ... lineitem, events, documents, embeddings), with the catalog
  testdata's column types and value shapes at a chosen scale factor.
- ``write_control_inputs``: three reference-shaped control tables of
  28,338 rows each (city-data, usa, greatschools) with the reference
  snapshot's status mix, plus the scraper/API config tables. The
  transport that serves their URLs is ``page_for``.
- ``write_event_feed``: an ordered file feed of Zipf-skewed user events
  in which a seeded share of events arrives one file late, closed by a
  far-future sentinel file.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# ----------------------------------------------------------- catalog tables

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = (
    "join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window a spark "
    "part group big sort query fast the"
).split()

_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _rng(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, named stream): adding a table
    never shifts the draws of another."""
    tag = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:4], "big")
    return np.random.default_rng([seed, tag])


def _days(rng, n, start: str, n_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]")


def _cents(rng, n, lo: float, hi: float) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def catalog_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten catalog tables as Arrow tables (sizes scale with sf: at
    sf=0.01 lineitem has 60,000 rows, as in the catalog testdata)."""
    n_cust = max(100, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1000, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(50, int(15_000 * sf))
    n_docs, n_vecs, dim = 500, 500, 64
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, i32),
    })
    r = _rng(seed, "customer")
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), i32),
        "c_acctbal": _cents(r, n_cust, -999.99, 9999.99),
        "c_mktsegment": r.choice(SEGMENTS, n_cust),
    })
    r = _rng(seed, "supplier")
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), i32),
        "s_acctbal": _cents(r, n_supp, -999.99, 9999.99),
    })
    r = _rng(seed, "part")
    keys = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys, i64),
        "p_name": [
            f"{a} {b}"
            for a, b in zip(r.choice(PART_ADJ, n_part),
                            r.choice(PART_NOUN, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": r.choice(PART_TYPES, n_part),
        "p_size": pa.array(r.integers(1, 51, n_part), i32),
        "p_retailprice": 900.0 + (keys % 1000) / 10.0,
    })
    r = _rng(seed, "orders")
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": r.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _cents(r, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _days(r, n_ord, "1995-01-01", 2404),
        "o_orderpriority": r.choice(PRIORITIES, n_ord),
    })
    r = _rng(seed, "lineitem")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), i32),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _cents(r, n_line, 901.0, 104_999.0),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": r.choice(["A", "N", "R"], n_line),
        "l_linestatus": r.choice(["F", "O"], n_line),
        "l_shipdate": _days(r, n_line, "1995-01-02", 2498),
    })
    r = _rng(seed, "events")
    span_us = 30 * 86400 * 10**6
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": np.datetime64("2024-01-01", "us")
        + np.sort(r.integers(0, span_us, n_ev)).astype("timedelta64[us]"),
        "user_id": pa.array(r.integers(0, n_users, n_ev), i64),
        "event_type": r.choice(EVENT_TYPES, n_ev),
        "value": np.round(r.exponential(49.6, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    })
    r = _rng(seed, "documents")
    texts = []
    for n_words in r.integers(8, 100, n_docs):
        texts.append(" ".join(r.choice(VOCAB, n_words)))
    # planted near-duplicates: a shared passage in every 25th document
    passage = " ".join(r.choice(VOCAB, 24))
    for i in range(0, n_docs, 25):
        texts[i] = f"{passage} dup {texts[i]}"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": texts,
        "lang": r.choice(LANGS, n_docs),
        "source": [f"src{s}" for s in r.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(x) for x in texts], i64),
    })
    r = _rng(seed, "embeddings")
    labels = r.integers(0, 10, n_vecs)
    centers = r.standard_normal((10, dim))
    x = r.standard_normal((n_vecs, dim)) + 0.15 * centers[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), i64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return t


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the catalog tables as `{out_dir}/{name}.parquet`; returns
    row counts by table."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in catalog_tables(seed, sf).items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


# ------------------------------------------------------- ETL control inputs

CONTROL_ROWS = 28_338
#: the reference snapshot's status mix (PAPER.md §1.1)
N_COMPLETED, N_ERROR = 1_031, 5
N_STATES = 50
SITES = ("city-data", "usa")
DATA_SOURCE = "web"
FAIL_EVERY = 200  # ~0.5% of URLs fail at the transport
METRICS = ("population", "median_income", "crime_index", "school_rating",
           "walk_score")
WEIGHTS = (0.3, 0.25, 0.2, 0.15, 0.1)


def _url(site: str, state: str, city: str) -> str:
    if site == "city-data":
        return f"https://www.city-data.com/city/{city}-{state}.html"
    return f"http://www.usa.com/{city}-{state}.htm"


def _statuses(rng, n: int) -> tuple[list, list]:
    """Reference status mix at seeded positions: pending rows are '' or
    NULL (both spellings occur), completed rows carry either timestamp
    format (at-rest vs code-written)."""
    kind = np.zeros(n, np.int8)  # 0 pending, 1 completed, 2 error
    pos = rng.permutation(n)
    kind[pos[:N_COMPLETED]] = 1
    kind[pos[N_COMPLETED:N_COMPLETED + N_ERROR]] = 2
    null_pending = rng.random(n) < 0.15
    status, done = [], []
    for i in range(n):
        if kind[i] == 1:
            status.append("completed")
            done.append("2021-04-24 17:03:38" if i % 2 else
                        "2021-04-24T17-03-51")
        elif kind[i] == 2:
            status.append("error")
            done.append(None)
        else:
            status.append(None if null_pending[i] else "")
            done.append(None)
    return status, done


def control_frames(seed: int) -> dict[str, pd.DataFrame]:
    """The three control tables, with the per-source schema drift:
    usa adds state_id; greatschools has no id/url and packs zips."""
    n = CONTROL_ROWS
    out = {}
    for site in SITES:
        r = _rng(seed, f"control-{site}")
        ids = np.arange(1, n + 1)
        st = r.integers(0, N_STATES, n)
        states = [f"State{s:02d}" for s in st]
        cities = [f"Town{i}" for i in ids]
        status, done = _statuses(r, n)
        cols = {"id": ids, "state": states}
        if site == "usa":
            cols["state_id"] = [f"S{s:02d}" for s in st]
        cols.update({
            "city": cities,
            "status": status,
            "date_completed": done,
            "url": [_url(site, s, c) for s, c in zip(states, cities)],
        })
        out[site] = pd.DataFrame(cols)
    r = _rng(seed, "control-greatschools")
    st = r.integers(0, N_STATES, n)
    # ~3% of (state_id, city) pairs repeat: without an id, one point
    # update must hit every matching row
    city_no = np.arange(n)
    dup = r.random(n) < 0.03
    city_no[dup] = np.maximum(city_no[dup] - 1, 0)
    st[dup] = st[np.maximum(np.nonzero(dup)[0] - 1, 0)]
    status, done = _statuses(r, n)
    n_zips = np.minimum(r.geometric(0.3, n), 60)
    out["greatschools"] = pd.DataFrame({
        "city": [f"Town{c}" for c in city_no],
        "state_id": [f"S{s:02d}" for s in st],
        "state_name": [f"State{s:02d}" for s in st],
        "county_name": [f"County{c}" for c in r.integers(0, 400, n)],
        "lat": np.round(r.uniform(25.0, 49.0, n), 6),
        "lng": np.round(r.uniform(-124.0, -67.0, n), 6),
        "zips": [
            " ".join(str(10000 + 37 * i + z) for z in range(k))
            for i, k in enumerate(n_zips)
        ],
        "status": status,
        "date_completed": done,
    })
    return out


def _csv_field(v) -> str:
    if v is None:
        return ""  # NULL: empty unquoted field
    s = str(v)
    if s == "" or any(c in s for c in ',"\n'):
        return '"' + s.replace('"', '""') + '"'  # '' stays a quoted ""
    return s


def _write_csv(df: pd.DataFrame, path: str, bom: bool = False) -> None:
    """Reference-style CSV (optionally with a UTF-8 BOM): header row, ''
    written as a quoted empty string, NULL as an empty unquoted field."""
    enc = "utf-8-sig" if bom else "utf-8"
    with open(path, "w", newline="", encoding=enc) as f:
        f.write(",".join(df.columns) + "\n")
        for row in df.itertuples(index=False):
            f.write(",".join(_csv_field(v) for v in row) + "\n")


def write_control_inputs(out_dir: str, seed: int) -> dict[str, str]:
    """Write the control CSVs and config tables; returns paths by name."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for site, df in control_frames(seed).items():
        p = os.path.join(out_dir, f"{site}_control.csv")
        _write_csv(df, p)
        paths[site] = p
    cfg = pd.DataFrame({
        "site": list(SITES),
        "url": ["https://www.city-data.com/city/{}.html",
                "http://www.usa.com/{}.htm"],
        "element_id": ["content", "content"],
        "s3_directory": ["state, city", "state, city"],
    })
    paths["scraper_config"] = os.path.join(out_dir, "scraper_config.csv")
    _write_csv(cfg, paths["scraper_config"], bom=True)
    api = pd.DataFrame({
        "api": ["greatschools"],
        "endpoint": ["https://gs-api.greatschools.org/schools"],
        "parameters": ["state,zip"],
        "s3_directory": ["state_id, city"],
    })
    paths["api_config"] = os.path.join(out_dir, "api_config.csv")
    _write_csv(api, paths["api_config"], bom=True)
    return paths


def _url_hash(seed: int, url: str) -> bytes:
    return hashlib.blake2b(f"{seed}|{url}".encode(), digest_size=24).digest()


def page_metrics(seed: int, url: str) -> tuple[int, ...] | None:
    """The five city metrics served for `url`, or None for a failing URL."""
    h = _url_hash(seed, url)
    if int.from_bytes(h[:4], "big") % FAIL_EVERY == 0:
        return None
    v = [int.from_bytes(h[4 + 4 * i:8 + 4 * i], "big") for i in range(5)]
    return (1_000 + v[0] % 900_000, 20_000 + v[1] % 130_000, v[2] % 1_000,
            10 + v[3] % 91, v[4] % 101)


def page_for(seed: int, url: str) -> str | None:
    """Zero-sleep deterministic transport: seeded HTML with the metrics
    inside <div id="content"> (nested and void tags included, as on a
    real page), or None for the seeded ~0.5% of failing URLs."""
    m = page_metrics(seed, url)
    if m is None:
        return None
    body = "; ".join(f"{k}={v}" for k, v in zip(METRICS, m))
    return (
        "<html><head><title>city</title></head><body>"
        '<div id="nav"><a href="/">home</a></div>'
        f'<div id="content"><span>{body}</span><br></div>'
        "<div id=\"footer\">(c)</div></body></html>"
    )


# -------------------------------------------------------- streaming feed


@dataclass(frozen=True)
class Feed:
    path: str
    n_events: int
    n_users: int
    n_files: int
    block_span_s: int


def feed_table(seed: int, n_events: int, n_users: int) -> pa.Table:
    """Zipf-skewed user events in event-time order; values are exact
    multiples of 0.25 so sums are independent of summation order."""
    r = _rng(seed, "feed")
    p = 1.0 / np.arange(1, n_users + 1) ** 1.1
    users = r.permutation(n_users)[r.choice(n_users, n_events, p=p / p.sum())]
    span_us = 2 * 86400 * 10**6
    ts = np.sort(r.integers(0, span_us, n_events))
    return pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": np.datetime64("2024-03-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": pa.array(users, pa.int64()),
        "event_type": r.choice(EVENT_TYPES, n_events, p=[.3, .1, .1, .1, .4]),
        "value": r.integers(1, 2000, n_events) * 0.25,
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_events)],
    })


def write_event_feed(out_dir: str, seed: int, n_events: int, n_users: int,
                     n_files: int, late_share: float = 0.2) -> Feed:
    """Split the feed into `n_files` time blocks, defer a seeded
    `late_share` of events by one file (bounded lateness), and append a
    far-future sentinel file that flushes every open window/session.
    File mtimes increase with file order, which is the order the file
    stream source reads them in."""
    os.makedirs(out_dir, exist_ok=True)
    src = feed_table(seed, n_events, n_users)
    r = _rng(seed, "feed-late")
    ts_us = src["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
    lo, hi = ts_us.min(), ts_us.max() + 1
    block = ((ts_us - lo) * n_files // (hi - lo)).astype(np.int64)
    late = r.random(n_events) < late_share
    arrival = np.where(late, np.minimum(block + 1, n_files - 1), block)
    now = 1_700_000_000
    for b in range(n_files):
        f = os.path.join(out_dir, f"part-{b:03d}.parquet")
        _write(src.filter(pa.array(arrival == b)), f)
        os.utime(f, (now + b, now + b))
    sentinel = src.slice(0, 1).to_pylist()[0]
    sentinel.update(
        event_id=-1, user_id=-1,
        ts=src["ts"][-1].as_py() + pd.Timedelta(days=3650),
    )
    f = os.path.join(out_dir, f"part-{n_files:03d}-sentinel.parquet")
    _write(pa.Table.from_pylist([sentinel], schema=src.schema), f)
    os.utime(f, (now + n_files, now + n_files))
    block_span_s = int(-(-(hi - lo) // n_files) // 10**6) + 1
    return Feed(out_dir, n_events, n_users, n_files, block_span_s)
