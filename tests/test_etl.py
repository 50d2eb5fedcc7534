"""ETL lifecycle tests on reference-shaped fixtures (SURVEY.md §3, §5):
the control-table quirks (empty vs null status, dual timestamp formats,
schema drift) exercised end-to-end through the three pipelines."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from citydata_etl_spark.etl.collect import collect_run
from citydata_etl_spark.etl.control import (
    apply_control_update,
    filter_columns_for_site,
)
from citydata_etl_spark.etl.staging import derive_curated_columns
from citydata_etl_spark.functions.scalar import dual_format_ts
from citydata_etl_spark.operators.relational import pending_work
from tests import fixtures


def fake_transport_factory():
    def fetch(url: str):
        if "City13" in url:  # deterministic failure
            return None
        return f"<html><div id='content'>payload for {url}</div></html>"

    return fetch


def test_pending_semantics(spark):
    ctl = fixtures.citydata_control(spark)
    pend = pending_work(ctl)
    # pending = empty-string OR null status (both spellings), id non-null
    statuses = {r["status"] for r in pend.select("status").distinct().collect()}
    assert statuses <= {None, ""}
    total = ctl.count()
    done = ctl.filter(F.col("status").isin("completed", "error")).count()
    assert pend.count() == total - done


def test_dual_timestamp_parse(spark):
    ctl = fixtures.citydata_control(spark)
    parsed = ctl.filter(F.col("date_completed").isNotNull()).select(
        dual_format_ts("date_completed").alias("ts")
    )
    assert parsed.filter(F.col("ts").isNull()).count() == 0


def test_collect_run_batches_updates(spark):
    ctl = fixtures.citydata_control(spark)
    raw, updated = collect_run(
        ctl, fake_transport_factory, "website", "city-data"
    )
    n_pending = pending_work(ctl).count()
    raw_rows = raw.collect()
    # every pending row either produced a payload or an error mark
    upd = updated.collect()
    completed = [r for r in upd if r["status"] == "completed"]
    errors = [r for r in upd if r["status"] == "error"]
    assert len(raw_rows) == n_pending - 1  # City13 fails
    # one new error (City13) joined the pre-existing error rows
    pre_err = ctl.filter(F.col("status") == "error").count()
    assert len(errors) == pre_err + 1
    # all new completions are stamped with the write-side format
    stamped = [
        r for r in completed if r["date_completed"] and "T" in r["date_completed"]
    ]
    assert len(stamped) >= len(raw_rows)
    # control row count is invariant (update, not append)
    assert len(upd) == ctl.count()


def test_control_update_dynamic_filter(spark):
    ctl = fixtures.citydata_control(spark)
    cfg = fixtures.scraper_config(spark)
    assert filter_columns_for_site(cfg, "city-data") == ["state", "city"]
    event = {
        "site": "city-data",
        "state": "State1",
        "city": "City1",
        "status": "completed",
        "date_completed": "2024-06-01T12-00-00",
    }
    out = apply_control_update(ctl, cfg, event)
    hit = out.filter(
        (F.col("state") == "State1") & (F.col("city") == "City1")
    ).first()
    assert hit["status"] == "completed"
    assert hit["date_completed"] == "2024-06-01T12-00-00"
    # only the first-matched id is updated; total rows invariant
    assert out.count() == ctl.count()


def test_control_update_no_id_schema(spark):
    ctl = fixtures.greatschools_control(spark)
    cfg = fixtures.scraper_config(spark)
    event = {
        "site": "usa",
        "state": "n/a",
        "city": "n/a",
        "status": "completed",
    }
    # greatschools has no state/... wait: it has state_name not state;
    # dynamic filter on missing column must raise cleanly
    import pytest
    from pyspark.errors.exceptions.base import AnalysisException

    with pytest.raises(Exception):
        apply_control_update(ctl, cfg, event).collect()


def test_staging_key_derivation(spark):
    keys = fixtures.staging_keys(spark)
    now = F.to_timestamp(F.lit("2024-06-01 13:45:00"))
    out = derive_curated_columns(keys, now=now).collect()
    by_key = {r["key"]: r for r in out}
    m = by_key["manual/cities.csv"]
    # reference process-staging.py:38: manual drop-ins land under the fixed
    # 'misc' schema partition (manual/misc/{table}/initial/...)
    assert (m["source"], m["schema_name"], m["table_name"], m["load"]) == (
        "manual", "misc", "cities", "initial",
    )
    s = by_key["city-data/public/crime/cdc/part-1.txt"]
    assert (s["source"], s["schema_name"], s["table_name"], s["load"]) == (
        "city-data", "public", "crime", "cdc",
    )
    assert (s["year"], s["month"], s["day"], s["hour"]) == (2024, 6, 1, 13)


def test_zips_explode(spark):
    from citydata_etl_spark.functions.scalar import zips_array

    gs = fixtures.greatschools_control(spark)
    exploded = gs.select(
        "city", F.explode(zips_array("zips")).alias("zip")
    )
    # every zip is 5 digits; fan-out matches the packed list sizes
    assert exploded.filter(~F.col("zip").rlike(r"^\d{5}$")).count() == 0
    total = gs.select(F.size(zips_array("zips")).alias("n")).agg(
        F.sum("n")
    ).first()[0]
    assert exploded.count() == total


def test_schema_drift_union(spark):
    ctl_a = fixtures.citydata_control(spark)
    ctl_b = ctl_a.withColumn("state_id", F.lit("XX"))  # usa-shaped
    merged = ctl_a.unionByName(ctl_b, allowMissingColumns=True)
    assert merged.count() == ctl_a.count() * 2
    assert "state_id" in merged.columns


def test_partitioned_raw_sink_roundtrip(spark):
    from citydata_etl_spark.sources.sinks import write_raw_partitioned

    ctl = fixtures.citydata_control(spark)
    raw, _ = collect_run(ctl, fake_transport_factory, "website", "city-data")
    tmp = tempfile.mkdtemp(prefix="raw_sink_")
    write_raw_partitioned(raw, tmp)
    back = spark.read.parquet(tmp)
    assert back.count() == raw.count()
    # partition pruning columns survive
    assert {"data_source", "source_name", "state"} <= set(back.columns)


def test_merge_upsert_semantics_and_partial_rewrite(spark, tmp_path):
    """MERGE semantics (non-NULL replaces, NULL preserves, unmatched
    inserts) AND the partial-rewrite contract: only buckets containing
    updated keys are rewritten — untouched bucket partitions keep their
    exact files."""
    import glob
    import os

    from citydata_etl_spark.sources.merge import (
        bucket_expr,
        merge_upsert,
        read_bucketed_control,
        write_bucketed_control,
    )

    path = str(tmp_path / "control")
    base = spark.range(0, 200).select(
        "id", (F.col("id") * 2).alias("v"), F.lit("old").alias("tag")
    )
    write_bucketed_control(base, path, "id", n_buckets=8)

    def listing():
        return {
            p
            for p in glob.glob(os.path.join(path, "bucket=*", "*.parquet"))
        }

    before = listing()
    upd = spark.createDataFrame(
        [
            (3, None, "upd"),     # v NULL -> preserved, tag replaced
            (5, 999, None),       # v replaced, tag preserved
            (1000, 7, "new"),     # unmatched key -> insert
        ],
        "id LONG, v LONG, tag STRING",
    )
    merge_upsert(spark, path, upd, "id", n_buckets=8)

    rows = {
        r["id"]: (r["v"], r["tag"])
        for r in read_bucketed_control(spark, path).collect()
    }
    assert len(rows) == 201
    assert rows[3] == (6, "upd")      # NULL v preserved old 2*3
    assert rows[5] == (999, "old")    # NULL tag preserved
    assert rows[1000] == (7, "new")   # inserted
    assert rows[42] == (84, "old")    # untouched row intact

    after = listing()
    affected = {
        r["b"]
        for r in upd.select(bucket_expr("id", 8).alias("b")).distinct().collect()
    }
    untouched_dirs = {
        f"bucket={b}" for b in range(8) if b not in affected
    }
    for d in untouched_dirs:
        b_files = {p for p in before if f"/{d}/" in p}
        a_files = {p for p in after if f"/{d}/" in p}
        assert b_files == a_files, f"{d} was rewritten but had no updates"
    # affected buckets DID change files
    changed = {p for p in after - before}
    assert changed, "no bucket was rewritten"


def test_html_extract_by_id(spark):
    from citydata_etl_spark.functions.html import extract_text_by_id

    df = spark.createDataFrame(
        [
            (1, '<div id="x">hello <b>world</b></div>'),
            (2, '<div id="y">nope</div>'),
            (3, '<div id="x">outer <span id="x">inner</span></div>'),
            (4, None),
        ],
        "id LONG, html STRING",
    )
    got = {
        r["id"]: r["t"]
        for r in df.select(
            "id", extract_text_by_id("html", "x").alias("t")
        ).collect()
    }
    assert got[1] == "hello world"          # tags stripped, text joined
    assert got[2] is None                   # id absent
    assert got[3] == "outer inner"          # first match wins, nested kept
    assert got[4] is None                   # null payload


def test_html_extract_void_elements_do_not_break_depth(spark):
    """Void elements (<br>, <img>, <hr>, ...) never emit an end tag; they
    must not count toward nesting depth or the extractor captures the rest
    of the document after the target closes."""
    from citydata_etl_spark.functions.html import extract_text_by_id

    df = spark.createDataFrame(
        [
            (1, '<div id="x">line1<br>line2</div><p>AFTER</p>'),
            (2, '<div id="x">pic<img src="a.png">cap</div><p>TAIL</p>'),
            (3, '<div id="x">a<br/>b</div><p>NO</p>'),     # self-closed form
            (4, '<body><img id="x"><p>REST</p></body>'),   # void target
        ],
        "id LONG, html STRING",
    )
    got = {
        r["id"]: r["t"]
        for r in df.select(
            "id", extract_text_by_id("html", "x").alias("t")
        ).collect()
    }
    assert got[1] == "line1line2"
    assert got[2] == "piccap"
    assert got[3] == "ab"
    assert got[4] == ""                     # void target: empty text


def test_asof_join_rejects_unorderable_ts(spark):
    """RANGE-frame ordering needs numeric/timestamp/date ts — a string ts
    must fail fast with a clear TypeError, not deep in analysis."""
    import pytest

    from citydata_etl_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00")], "k LONG, ts STRING"
    )
    right = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 7.0)], "k LONG, ts STRING, v DOUBLE"
    )
    with pytest.raises(TypeError, match="timestamp"):
        asof_join(left, right, key="k", right_cols=["v"])


def test_asof_nearest_exact_at_large_int64(spark):
    """'nearest' tie-breaking on integral event times is exact bigint
    arithmetic: at ts ~ 2^60 a double comparison would round both
    candidate distances to equal and could pick the wrong side."""
    from citydata_etl_spark.operators.joins import asof_join

    base = 1 << 60
    left = spark.createDataFrame([(1, base)], "k LONG, ts LONG")
    # backward candidate is 2 closer than forward; both deltas collapse
    # to the same double at this magnitude (ulp(2^60) = 256)
    right = spark.createDataFrame(
        [(1, base - 127, 1.0), (1, base + 129, 2.0)],
        "k LONG, ts LONG, v DOUBLE",
    )
    out = asof_join(
        left, right, key="k", right_cols=["v"], direction="nearest"
    ).collect()
    assert out[0]["right_v"] == 1.0


def test_merge_commit_marker_crash_recovery(spark, tmp_path, monkeypatch):
    """The _COMMIT marker protocol: a writer that dies after overwriting
    buckets but before the marker swap leaves the table VISIBLY
    uncommitted (read refuses); re-running the same merge heals the data
    and restores the marker."""
    import pytest as _pytest

    from citydata_etl_spark.sources import merge as M

    path = str(tmp_path / "ctl")
    base = spark.createDataFrame(
        [(i, "pending", i * 10) for i in range(50)],
        "id LONG, status STRING, total LONG",
    )
    M.write_bucketed_control(base, path, "id", n_buckets=8)
    tok0 = M.read_commit_token(spark, path)
    assert tok0

    upd = spark.createDataFrame(
        [(1, "completed", None), (100, "new", 5)],
        "id LONG, status STRING, total LONG",
    )
    real_marker = M.write_commit_marker

    def crash(*a, **kw):
        raise RuntimeError("simulated crash before marker swap")

    monkeypatch.setattr(M, "write_commit_marker", crash)
    with _pytest.raises(RuntimeError, match="simulated crash"):
        M.merge_upsert(spark, path, upd, "id", n_buckets=8)
    # marker was dropped before the bucket writes and never restored
    assert M.read_commit_token(spark, path) is None
    with _pytest.raises(RuntimeError, match="no _COMMIT"):
        M.read_bucketed_control(spark, path)
    # the possibly-inconsistent state is still reachable explicitly
    assert M.read_bucketed_control(
        spark, path, require_commit=False
    ).count() == 51

    # re-running the SAME merge heals (idempotent) and recommits
    monkeypatch.setattr(M, "write_commit_marker", real_marker)
    M.merge_upsert(spark, path, upd, "id", n_buckets=8)
    tok1 = M.read_commit_token(spark, path)
    assert tok1 and tok1 != tok0
    rows = {
        r["id"]: (r["status"], r["total"])
        for r in M.read_bucketed_control(spark, path).collect()
    }
    assert len(rows) == 51
    assert rows[1] == ("completed", 10)   # NULL total preserved
    assert rows[100] == ("new", 5)        # inserted


def test_delete_keys_semantics_and_partial_rewrite(spark, tmp_path):
    """delete_keys: requested keys vanish, survivors (including ones
    co-bucketed with deleted keys) are untouched, unaffected buckets'
    files are byte-identical (partial rewrite), and a repeat delete is
    an idempotent no-op on the data."""
    import glob
    import os

    from citydata_etl_spark.sources import merge as M

    path = str(tmp_path / "ctl")
    base = spark.createDataFrame(
        [(i, "pending", i * 10) for i in range(200)],
        "id LONG, status STRING, total LONG",
    )
    M.write_bucketed_control(base, path, "id", n_buckets=8)

    dels = spark.createDataFrame([(i,) for i in range(0, 200, 5)], "id LONG")
    affected = {
        r[0]
        for r in dels.withColumn("b", M.bucket_expr("id", 8))
        .select("b").distinct().collect()
    }
    untouched = set(range(8)) - affected
    before = {
        b: sorted(
            (os.path.basename(f), os.path.getsize(f))
            for f in glob.glob(f"{path}/bucket={b}/*.parquet")
        )
        for b in untouched
    }

    M.delete_keys(spark, path, dels, "id", n_buckets=8)
    back = M.read_bucketed_control(spark, path)
    ids = {r["id"] for r in back.select("id").collect()}
    assert ids == {i for i in range(200) if i % 5 != 0}
    for b in untouched:
        after = sorted(
            (os.path.basename(f), os.path.getsize(f))
            for f in glob.glob(f"{path}/bucket={b}/*.parquet")
        )
        assert after == before[b], f"untouched bucket {b} was rewritten"

    # repeat delete: no-op on data
    M.delete_keys(spark, path, dels, "id", n_buckets=8)
    assert M.read_bucketed_control(spark, path).count() == len(ids)


def test_delete_keys_empties_whole_bucket(spark, tmp_path):
    """The fully-emptied-bucket edge: deleting EVERY key of a bucket must
    actually drop its files (dynamic partition overwrite would silently
    keep them — the staged swap handles it)."""
    import glob

    from citydata_etl_spark.sources import merge as M

    path = str(tmp_path / "ctl")
    base = spark.createDataFrame(
        [(i, i * 10) for i in range(100)], "id LONG, total LONG"
    )
    M.write_bucketed_control(base, path, "id", n_buckets=4)
    # erase bucket 2 completely (plus nothing else)
    victims = base.withColumn("b", M.bucket_expr("id", 4)).filter(
        "b = 2"
    ).select("id")
    n_victims = victims.count()
    assert n_victims > 0

    M.delete_keys(spark, path, victims, "id", n_buckets=4)
    assert glob.glob(f"{path}/bucket=2/*.parquet") == []
    back = M.read_bucketed_control(spark, path)
    assert back.count() == 100 - n_victims
    got_buckets = {
        r[0]
        for r in back.withColumn("b", M.bucket_expr("id", 4))
        .select("b").distinct().collect()
    }
    assert 2 not in got_buckets


def test_delete_keys_crash_recovery(spark, tmp_path, monkeypatch):
    """A delete that dies before the marker swap leaves the table VISIBLY
    uncommitted; re-running the SAME delete heals and completes the
    erasure."""
    import pytest as _pytest

    from citydata_etl_spark.sources import merge as M

    path = str(tmp_path / "ctl")
    base = spark.createDataFrame(
        [(i, i * 10) for i in range(100)], "id LONG, total LONG"
    )
    M.write_bucketed_control(base, path, "id", n_buckets=8)
    dels = spark.createDataFrame([(i,) for i in range(0, 100, 3)], "id LONG")

    real_marker = M.write_commit_marker

    def crash(*a, **kw):
        raise RuntimeError("simulated crash before marker swap")

    monkeypatch.setattr(M, "write_commit_marker", crash)
    with _pytest.raises(RuntimeError, match="simulated crash"):
        M.delete_keys(spark, path, dels, "id", n_buckets=8)
    assert M.read_commit_token(spark, path) is None
    with _pytest.raises(RuntimeError, match="no _COMMIT"):
        M.read_bucketed_control(spark, path)

    monkeypatch.setattr(M, "write_commit_marker", real_marker)
    M.delete_keys(spark, path, dels, "id", n_buckets=8)
    back = M.read_bucketed_control(spark, path)
    ids = {r["id"] for r in back.select("id").collect()}
    assert ids == {i for i in range(100) if i % 3 != 0}


def test_contract_violations_counts_and_null_semantics(spark):
    """Contract gate semantics: violation counts are exact, a NULL rule
    result counts as a violation (unevaluable expectation is not met),
    and duplicated keys count ROWS carrying a duplicate, not groups."""
    from pyspark.sql import functions as F

    from citydata_etl_spark.operators.relational import (
        contract_violations,
        unique_key_violations,
    )

    df = spark.createDataFrame(
        [
            (1, "O", 10.0),
            (2, "X", -5.0),     # bad status, bad price
            (3, None, 7.0),     # NULL status -> domain rule unevaluable
            (None, "F", None),  # null key; NULL price -> violation
            (1, "P", 1.0),      # duplicate key 1
        ],
        "id LONG, status STRING, price DOUBLE",
    )
    out = {
        r["rule"]: (r["n_violations"], r["n_rows"])
        for r in contract_violations(
            df,
            [
                ("key_not_null", F.col("id").isNull()),
                ("status_domain", ~F.col("status").isin("O", "F", "P")),
                ("price_positive", ~(F.col("price") > 0)),
            ],
        ).collect()
    }
    assert out == {
        "key_not_null": (1, 5),
        "status_domain": (2, 5),   # 'X' plus the NULL status
        "price_positive": (2, 5),  # -5.0 plus the NULL price
    }

    u = unique_key_violations(df, ["id"]).collect()[0]
    # key 1 appears twice -> 2 rows carry a duplicated key
    assert (u["rule"], u["n_violations"], u["n_rows"]) == ("unique_key", 2, 5)

    # empty input: zero everywhere, not NULL
    empty = spark.createDataFrame([], "id LONG, status STRING, price DOUBLE")
    u0 = unique_key_violations(empty, ["id"]).collect()[0]
    assert (u0["n_violations"], u0["n_rows"]) == (0, 0)


def test_referential_violations_orphans_and_null_fk(spark):
    """FK check semantics: unmatched keys count, NULL FKs count as
    orphans, duplicate parent keys don't inflate the row count."""
    from citydata_etl_spark.operators.relational import referential_violations

    child = spark.createDataFrame(
        [(1,), (2,), (2,), (9,), (None,)], "fk LONG"
    )
    parent = spark.createDataFrame(
        [(1,), (2,), (2,), (3,)], "pk LONG"  # dup parent key
    )
    r = referential_violations(child, parent, "fk", "pk", "fk_check").collect()[0]
    # orphans: 9 (no parent) and NULL -> 2; duplicate child fk=2 rows both
    # match ONCE each (distinct parent keys), so n_rows stays 5
    assert (r["rule"], r["n_violations"], r["n_rows"]) == ("fk_check", 2, 5)


def _write_after_crash(spark, path, writer):
    """The write that runs after a crashed bucket swap and must heal it
    first: a delete of an absent key, or an unrelated merge (a new
    total for key 1, which every crash test here keeps). Neither
    changes the table's id set."""
    from citydata_etl_spark.sources import merge as M

    if writer == "delete_keys":
        M.delete_keys(
            spark, path,
            spark.createDataFrame([(999_999,)], "id LONG"), "id", n_buckets=4,
        )
    else:
        M.merge_upsert(
            spark, path,
            spark.createDataFrame([(1, -1)], "id LONG, total LONG"), "id",
            n_buckets=4,
        )


@pytest.mark.parametrize("writer", ["delete_keys", "merge_upsert"])
def test_delete_keys_mid_swap_crash_recovers_survivors(
    spark, tmp_path, writer
):
    """The worst crash window: a bucket's live directory was deleted but
    its staged survivors were not yet renamed in. The next write —
    delete_keys or merge_upsert, which share the swap — must FIRST
    complete the swap from .delete_staging — no survivor is ever
    lost."""
    import os
    import shutil

    from citydata_etl_spark.sources import merge as M

    path = str(tmp_path / "ctl")
    base = spark.createDataFrame(
        [(i, i * 10) for i in range(100)], "id LONG, total LONG"
    )
    M.write_bucketed_control(base, path, "id", n_buckets=4)
    dels = spark.createDataFrame([(i,) for i in range(0, 100, 4)], "id LONG")
    M.delete_keys(spark, path, dels, "id", n_buckets=4)
    survivors = {r["id"] for r in
                 M.read_bucketed_control(spark, path).select("id").collect()}

    # simulate the crash: pick a bucket, move its live dir INTO staging
    # (as if staged but not yet swapped), drop the marker
    b = next(d for d in os.listdir(path) if d.startswith("bucket="))
    os.makedirs(os.path.join(path, ".delete_staging"), exist_ok=True)
    shutil.move(
        os.path.join(path, b), os.path.join(path, ".delete_staging", b)
    )
    os.remove(os.path.join(path, M._COMMIT))

    # a later (disjoint, even empty-effect) write must heal first
    _write_after_crash(spark, path, writer)
    healed = {r["id"] for r in
              M.read_bucketed_control(spark, path).select("id").collect()}
    assert healed == survivors
    assert not os.path.exists(os.path.join(path, ".delete_staging"))


def test_delete_keys_partial_live_dir_heals_from_staging(spark, tmp_path):
    """The window the rename protocol exists for: a crash mid-removal
    leaves a bucket's live directory PRESENT but PARTIAL (fs.delete is
    non-atomic on local FS / S3A) while staging still holds the full
    survivor copy. A presence-based heal would keep the partial live dir
    and discard staging — silent survivor loss. The heal must prefer the
    staged copy whenever the marker is absent."""
    import glob
    import os
    import shutil

    from citydata_etl_spark.sources import merge as M

    path = str(tmp_path / "ctl")
    base = spark.createDataFrame(
        [(i, i * 10) for i in range(100)], "id LONG, total LONG"
    )
    M.write_bucketed_control(base, path, "id", n_buckets=4)
    survivors = set(range(100))

    # simulate: survivors fully staged for one bucket, then a crash
    # mid-delete of the live dir — copy live to staging, then remove ONE
    # parquet file from live so it is present-but-partial
    b = next(d for d in os.listdir(path) if d.startswith("bucket="))
    os.makedirs(os.path.join(path, ".delete_staging"), exist_ok=True)
    shutil.copytree(
        os.path.join(path, b), os.path.join(path, ".delete_staging", b)
    )
    victim = glob.glob(os.path.join(path, b, "*.parquet"))[0]
    os.remove(victim)
    os.remove(os.path.join(path, M._COMMIT))

    M.delete_keys(
        spark,
        path,
        spark.createDataFrame([(999_999,)], "id LONG"),
        "id",
        n_buckets=4,
    )
    healed = {r["id"] for r in
              M.read_bucketed_control(spark, path).select("id").collect()}
    assert healed == survivors
    assert not os.path.exists(os.path.join(path, ".delete_staging"))
    assert not os.path.exists(os.path.join(path, ".delete_trash"))


def test_with_metrics_rides_the_action(spark):
    """Observation metrics must report the rows that flowed through the
    observed node during the SAME action — no extra job, correct values
    after a downstream filter is applied upstream of the observation."""
    from pyspark.sql import functions as F

    from citydata_etl_spark.util import with_metrics

    df = spark.range(1000).withColumn("v", F.col("id") * 2)
    kept = df.filter(F.col("id") % 4 == 0)
    out, obs = with_metrics(
        kept, "acct", n=F.count(F.lit(1)), total=F.sum("v")
    )
    n_jobs_before = len(
        spark.sparkContext.statusTracker().getJobIdsForGroup() or []
    )
    assert out.count() == 250
    got = obs.get
    assert got["n"] == 250
    assert got["total"] == sum(i * 2 for i in range(0, 1000, 4))
    n_jobs_after = len(
        spark.sparkContext.statusTracker().getJobIdsForGroup() or []
    )
    assert n_jobs_after - n_jobs_before <= 2  # the count's own job(s) only


def test_canonicalize_url_noise_classes(spark):
    """Every noise class collapses; distinct resources stay distinct."""
    from citydata_etl_spark.functions.scalar import canonicalize_url

    urls = [
        ("https://WWW.Site.COM:443/a/b?z=1&utm_source=x&a=2#frag",
         "https://site.com/a/b?a=2&z=1"),
        ("https://site.com/a/b?a=2&z=1",
         "https://site.com/a/b?a=2&z=1"),
        # non-default port preserved; no query -> no '?'
        ("https://site.com:8080/a?utm_campaign=s#x",
         "https://site.com:8080/a"),
        ("https://other.com/a/b?a=2&z=1",
         "https://other.com/a/b?a=2&z=1"),
        # utm must match as a PREFIX of the param, not anywhere
        ("https://site.com/p?xutm_source=1&b=2",
         "https://site.com/p?b=2&xutm_source=1"),
    ]
    df = spark.createDataFrame(urls, "url STRING, want STRING")
    rows = df.select(
        canonicalize_url("url").alias("got"), "want"
    ).collect()
    for r in rows:
        assert r["got"] == r["want"], (r["got"], r["want"])


@pytest.mark.parametrize("writer", ["delete_keys", "merge_upsert"])
def test_delete_keys_heal_completes_fully_erased_bucket(
    spark, tmp_path, writer
):
    """A fully-erased bucket stages NO survivor directory; only the
    `_AFFECTED` manifest records that its live directory must go. A crash
    before that bucket's removal used to leave its deleted keys live —
    and the heal then re-committed them. The heal must honor the
    manifest: staged buckets swap, manifest-only buckets are erased."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from citydata_etl_spark.sources import merge as M

    path = str(tmp_path / "ctl")
    base = spark.createDataFrame(
        [(i, i * 10) for i in range(100)], "id LONG, total LONG"
    )
    M.write_bucketed_control(base, path, "id", n_buckets=4)

    # pick a victim bucket to fully erase and another to partially erase
    with_b = base.withColumn("b", M.bucket_expr("id", 4))
    by_bucket = {
        r["b"]: r["ids"]
        for r in with_b.groupBy("b")
        .agg(F.collect_list("id").alias("ids"))
        .collect()
    }
    full_b = min(by_bucket)                       # erase every key
    part_b = max(by_bucket)                       # erase one key
    erased = set(by_bucket[full_b]) | {by_bucket[part_b][0]}

    # simulate the crashed swap state by hand: survivors of part_b staged,
    # manifest listing BOTH buckets, marker absent, live dirs untouched
    staging = os.path.join(path, ".delete_staging")
    os.makedirs(staging)
    kept_ids = [i for i in by_bucket[part_b] if i not in erased]
    kept = base.filter(F.col("id").isin(kept_ids)).toPandas()
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.join(staging, f"bucket={part_b}"))
    pq.write_table(
        pa.Table.from_pandas(kept, preserve_index=False),
        os.path.join(staging, f"bucket={part_b}", "part-0.parquet"),
    )
    with open(os.path.join(staging, "_AFFECTED"), "w") as f:
        f.write(f"{full_b}:e\n{part_b}:s\n")
    os.remove(os.path.join(path, M._COMMIT))

    # any later write must heal first
    _write_after_crash(spark, path, writer)
    back = {r["id"] for r in
            M.read_bucketed_control(spark, path).select("id").collect()}
    assert back == set(range(100)) - erased
    assert not os.path.exists(os.path.join(path, f"bucket={full_b}"))


def test_merge_upsert_schema_evolution_and_partial_updates(spark, tmp_path):
    """An update batch may carry a brand-new column (additive evolution:
    rewritten buckets get it, untouched buckets reconcile to NULL via
    mergeSchema at read) and may OMIT existing columns (implicit NULL =
    preserve stored value)."""
    from pyspark.sql import functions as F

    from citydata_etl_spark.sources.merge import (
        merge_upsert,
        read_bucketed_control,
        write_bucketed_control,
    )

    path = str(tmp_path / "ctl")
    base = spark.createDataFrame(
        [(i, "old", i * 10) for i in range(40)],
        "id LONG, status STRING, amount LONG",
    )
    write_bucketed_control(base, path, "id", n_buckets=8)
    updates = spark.createDataFrame(
        [(3, "new", "n3"), (7, "new", "n7"), (999, "ins", "n999")],
        "id LONG, status STRING, note STRING",
    )
    merge_upsert(spark, path, updates, "id", n_buckets=8)
    out = {r["id"]: r for r in read_bucketed_control(spark, path).collect()}
    assert len(out) == 41
    assert out[3]["status"] == "new" and out[3]["note"] == "n3"
    assert out[3]["amount"] == 30          # omitted column preserved
    assert out[999]["status"] == "ins" and out[999]["amount"] is None
    untouched = [r for i, r in out.items() if i not in (3, 7, 999)]
    assert all(r["status"] == "old" and r["note"] is None for r in untouched)


def test_delete_keys_heal_keeps_already_published_bucket(spark, tmp_path):
    """The window the TYPED manifest closes: a crash AFTER one bucket's
    swap completed (staged dir renamed into place, so it is absent from
    staging) but before the marker re-write. That bucket's live dir now
    IS the survivors; a presence-based heal that read 'in manifest, no
    staged dir' as 'fully erased' would trash it — permanent loss of
    every surviving row in the bucket."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from citydata_etl_spark.sources import merge as M

    path = str(tmp_path / "ctl")
    base = spark.createDataFrame(
        [(i, i * 10) for i in range(100)], "id LONG, total LONG"
    )
    M.write_bucketed_control(base, path, "id", n_buckets=4)

    with_b = base.withColumn("b", M.bucket_expr("id", 4))
    by_bucket = {
        r["b"]: r["ids"]
        for r in with_b.groupBy("b")
        .agg(F.collect_list("id").alias("ids"))
        .collect()
    }
    b1, b2 = sorted(by_bucket)[:2]
    # delete one key from each of two buckets
    erased = {by_bucket[b1][0], by_bucket[b2][0]}

    # run the REAL delete to get a correct end state, then rewind to the
    # mid-crash point: restore the marker-absent, b1-published,
    # b2-still-staged state by hand
    M.delete_keys(
        spark, path,
        spark.createDataFrame([(i,) for i in erased], "id LONG"),
        "id", n_buckets=4,
    )
    survivors = {r["id"] for r in
                 M.read_bucketed_control(spark, path).select("id").collect()}
    assert survivors == set(range(100)) - erased

    staging = os.path.join(path, ".delete_staging")
    os.makedirs(staging)
    # b2's post-delete content goes BACK to staging (swap not yet done
    # for it); its live dir reverts to "whatever was there" — here we
    # just copy it, content irrelevant since the heal must replace it
    shutil.copytree(
        os.path.join(path, f"bucket={b2}"),
        os.path.join(staging, f"bucket={b2}"),
    )
    # b1 stays published: in the manifest as staged, NOT in staging
    with open(os.path.join(staging, "_AFFECTED"), "w") as f:
        f.write(f"{b1}:s\n{b2}:s\n")
    os.remove(os.path.join(path, M._COMMIT))

    M.delete_keys(
        spark, path,
        spark.createDataFrame([(999_999,)], "id LONG"), "id", n_buckets=4,
    )
    healed = {r["id"] for r in
              M.read_bucketed_control(spark, path).select("id").collect()}
    assert healed == survivors          # b1's survivors NOT trashed
    assert not os.path.exists(staging)


def _snapshot_base(spark):
    return spark.createDataFrame(
        [(i, "A", i * 10) for i in range(20)],
        "k long, status string, val long",
    )


def test_snapshot_time_travel_semantics(spark, tmp_path):
    """Every committed version stays bit-exactly readable after later
    merges: partial updates preserve untouched columns, NULL preserves
    the stored value, unmatched keys insert (possibly into brand-new
    buckets)."""
    from citydata_etl_spark.sources.snapshots import (
        snapshot_init,
        snapshot_merge,
        snapshot_read,
        snapshot_versions,
    )

    path = str(tmp_path / "tbl")
    assert snapshot_init(_snapshot_base(spark), path, "k", n_buckets=4) == 1
    u2 = spark.createDataFrame(
        [(i, "B") for i in range(0, 20, 7)], "k long, status string"
    )
    assert snapshot_merge(spark, path, u2, "k") == 2
    u3 = spark.createDataFrame(
        [(3, "C", None), (100, "NEW", 999)],
        "k long, status string, val long",
    )
    assert snapshot_merge(spark, path, u3, "k") == 3
    assert snapshot_versions(spark, path) == [1, 2, 3]

    def snap(v):
        return {
            r.k: (r.status, r.val)
            for r in snapshot_read(spark, path, v).collect()
        }

    s1, s2, s3 = snap(1), snap(2), snap(3)
    assert s1[7] == ("A", 70) and len(s1) == 20
    assert s2[7] == ("B", 70) and s2[3] == ("A", 30)
    # NULL val in u3 preserved the stored 30; insert landed
    assert s3[3] == ("C", 30) and s3[100] == ("NEW", 999) and len(s3) == 21
    assert snap(None) == s3


def test_snapshot_crash_before_latest_swap_is_invisible(spark, tmp_path):
    """A writer that dies after writing its v-dir and manifest but
    BEFORE the _LATEST swap leaves the old version current; the next
    merge re-derives the same version number and overwrites the
    orphans."""
    from citydata_etl_spark.sources import snapshots as S

    path = str(tmp_path / "tbl")
    S.snapshot_init(_snapshot_base(spark), path, "k", n_buckets=4)
    # simulate the crash: do everything snapshot_merge does except the
    # final _LATEST swap
    man = S._load_manifest(spark, path, None)
    orphan = dict(man, version=2)
    bad = _snapshot_base(spark).withColumn(
        "bucket", F.lit(0)
    ).limit(1).withColumn("status", F.lit("ORPHAN"))
    S._write_version(bad, path, 2)
    S._write_small_file(
        spark, S._manifest_path(path, 2),
        __import__("json").dumps(orphan).encode(),
    )
    # reader still sees version 1
    cur = {r.k: r.status for r in S.snapshot_read(spark, path).collect()}
    assert set(cur.values()) == {"A"}
    # the next merge claims version 2 for itself and commits over the orphan
    u = spark.createDataFrame([(0, "B")], "k long, status string")
    assert S.snapshot_merge(spark, path, u, "k") == 2
    cur = {r.k: r.status for r in S.snapshot_read(spark, path).collect()}
    assert cur[0] == "B" and "ORPHAN" not in cur.values()


def test_snapshot_vacuum_drops_only_unreferenced(spark, tmp_path):
    """Vacuum deletes v-dirs no retained manifest references: v1 files
    survive (untouched buckets still point there) while a fully
    superseded v2 is dropped; expired versions refuse to read."""
    import pytest

    from citydata_etl_spark.sources.snapshots import (
        snapshot_init,
        snapshot_merge,
        snapshot_read,
        snapshot_vacuum,
    )

    path = str(tmp_path / "tbl")
    snapshot_init(_snapshot_base(spark), path, "k", n_buckets=4)
    one = spark.createDataFrame([(0, "B")], "k long, status string")
    snapshot_merge(spark, path, one, "k")                      # v2: bucket of k=0
    snapshot_merge(
        spark, path, one.withColumn("status", F.lit("C")), "k"
    )                                                          # v3: same bucket
    dropped = snapshot_vacuum(spark, path, keep_last=1)
    assert dropped == [2]  # v1 still referenced for untouched buckets
    s3 = {r.k: r.status for r in snapshot_read(spark, path, 3).collect()}
    assert s3[0] == "C" and s3[7] == "A" and len(s3) == 20
    for gone in (1, 2):
        with pytest.raises(RuntimeError, match="vacuumed|no manifest"):
            snapshot_read(spark, path, gone)


def test_snapshot_reserved_columns_refused(spark, tmp_path):
    import pytest

    from citydata_etl_spark.sources.snapshots import snapshot_init

    df = spark.createDataFrame([(1, 2)], "k long, v long")
    with pytest.raises(ValueError, match="reserved"):
        snapshot_init(df, str(tmp_path / "t"), "k")


def test_snapshot_merge_refuses_reserved_update_columns(spark, tmp_path):
    import pytest

    from citydata_etl_spark.sources.snapshots import (
        snapshot_init,
        snapshot_merge,
    )

    path = str(tmp_path / "tbl")
    snapshot_init(_snapshot_base(spark), path, "k", n_buckets=4)
    bad = spark.createDataFrame([(1, 5)], "k long, v long")
    with pytest.raises(ValueError, match="reserved"):
        snapshot_merge(spark, path, bad, "k")


def test_snapshot_vacuum_reclaims_after_manifest_expiry(spark, tmp_path):
    """A v-dir whose manifest an earlier vacuum expired (files still
    referenced then) must still be reclaimed once later rewrites drop
    the last reference — candidates come from the directory listing,
    not surviving manifests."""
    from citydata_etl_spark.sources.snapshots import (
        snapshot_init,
        snapshot_merge,
        snapshot_read,
        snapshot_vacuum,
    )

    path = str(tmp_path / "tbl")
    snapshot_init(_snapshot_base(spark), path, "k", n_buckets=4)
    one = spark.createDataFrame([(0, "B")], "k long, status string")
    snapshot_merge(spark, path, one, "k")                     # v2
    # expires manifest 1; v1 files survive (still referenced by v2)
    assert snapshot_vacuum(spark, path, keep_last=1) == []
    # v3 rewrites EVERY bucket -> nothing references v1 or v2 anymore
    allk = _snapshot_base(spark).select(
        "k", F.lit("C").alias("status")
    )
    snapshot_merge(spark, path, allk, "k")                    # v3
    assert snapshot_vacuum(spark, path, keep_last=1) == [1, 2]
    s3 = {r.k: (r.status, r.val) for r in snapshot_read(spark, path).collect()}
    assert len(s3) == 20 and s3[5] == ("C", 50)


def test_snapshot_empty_init_reads_typed_and_accepts_merge(spark, tmp_path):
    from citydata_etl_spark.sources.snapshots import (
        snapshot_init,
        snapshot_merge,
        snapshot_read,
    )

    path = str(tmp_path / "tbl")
    empty = spark.createDataFrame([], "k long, status string")
    snapshot_init(empty, path, "k", n_buckets=4)
    out = snapshot_read(spark, path)
    assert out.columns == ["k", "status"] and out.count() == 0
    snapshot_merge(
        spark, path,
        spark.createDataFrame([(1, "A")], "k long, status string"),
        "k",
    )
    assert [tuple(r) for r in snapshot_read(spark, path).collect()] == [
        (1, "A")
    ]


def test_snapshot_recovery_under_dynamic_overwrite_mode(spark, tmp_path):
    """Crash recovery must not commit a failed writer's orphan buckets:
    even when the SESSION sets partitionOverwriteMode=dynamic, the
    version write pins static so the retried version's directory is
    truncated whole."""
    from citydata_etl_spark.sources import snapshots as S

    path = str(tmp_path / "tbl")
    S.snapshot_init(_snapshot_base(spark), path, "k", n_buckets=4)
    # crashed writer: a v=2 dir with data in SOME bucket, no commit
    orphan = _snapshot_base(spark).limit(3).withColumn(
        "status", F.lit("ORPHAN")
    ).withColumn("bucket", F.lit(3))
    S._write_version(orphan, path, 2)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        one = spark.createDataFrame([(0, "B")], "k long, status string")
        assert S.snapshot_merge(spark, path, one, "k") == 2
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    cur = {r.status for r in S.snapshot_read(spark, path).collect()}
    assert "ORPHAN" not in cur
    man = S._load_manifest(spark, path, None)
    # only the genuinely rewritten bucket points at v2
    assert sorted(set(man["buckets"].values())) in ([1, 2], [2])
    assert sum(1 for v in man["buckets"].values() if v == 2) >= 1


def test_snapshot_changes_feed(spark, tmp_path):
    """Change data feed between versions: updates carry before/after
    images, inserts old-NULL, unchanged keys inside rewritten buckets
    are excluded, transitive diffs compose, and a self-diff is empty."""
    from citydata_etl_spark.sources.snapshots import (
        snapshot_changes,
        snapshot_init,
        snapshot_merge,
    )

    path = str(tmp_path / "tbl")
    snapshot_init(_snapshot_base(spark), path, "k", n_buckets=4)
    snapshot_merge(
        spark, path,
        spark.createDataFrame(
            [(i, "B") for i in range(0, 20, 7)], "k long, status string"
        ),
        "k",
    )
    snapshot_merge(
        spark, path,
        spark.createDataFrame(
            [(3, "C", None), (100, "NEW", 999)],
            "k long, status string, val long",
        ),
        "k",
    )

    def feed(a, b):
        return {
            r.k: (r._change, r.old_status, r.old_val, r.new_status, r.new_val)
            for r in snapshot_changes(spark, path, a, b).collect()
        }

    c12 = feed(1, 2)
    assert set(c12) == {0, 7, 14}
    assert c12[7] == ("update", "A", 70, "B", 70)
    c23 = feed(2, 3)
    assert c23 == {
        3: ("update", "A", 30, "C", 30),
        100: ("insert", None, None, "NEW", 999),
    }
    c13 = feed(1, 3)
    assert set(c13) == {0, 7, 14, 3, 100}
    assert feed(2, 2) == {}


def test_snapshot_restore_rolls_back_without_data_movement(spark, tmp_path):
    """RESTORE re-publishes an old manifest as a new version: the table
    reads as the restored state, the rollback is itself a version, and
    no v-dir is written (zero data movement)."""
    from citydata_etl_spark.sources import snapshots as S

    path = str(tmp_path / "tbl")
    S.snapshot_init(_snapshot_base(spark), path, "k", n_buckets=4)
    S.snapshot_merge(
        spark, path,
        spark.createDataFrame([(0, "BAD")], "k long, status string"),
        "k",
    )
    fs, root = S._fs_and_path(spark, path)
    dirs_before = sorted(
        st.getPath().getName() for st in fs.listStatus(root)
        if st.getPath().getName().startswith("v=")
    )
    assert S.snapshot_restore(spark, path, 1) == 3
    dirs_after = sorted(
        st.getPath().getName() for st in fs.listStatus(root)
        if st.getPath().getName().startswith("v=")
    )
    assert dirs_after == dirs_before  # no new v-dir
    cur = {r.k: r.status for r in S.snapshot_read(spark, path).collect()}
    assert cur[0] == "A" and len(cur) == 20
    # the bad version stays readable until vacuumed; a merge on top of
    # the restore builds on the restored state
    bad = {r.k: r.status for r in S.snapshot_read(spark, path, 2).collect()}
    assert bad[0] == "BAD"
    S.snapshot_merge(
        spark, path,
        spark.createDataFrame([(1, "X")], "k long, status string"),
        "k",
    )
    cur = {r.k: r.status for r in S.snapshot_read(spark, path).collect()}
    assert cur[0] == "A" and cur[1] == "X"


def test_snapshot_manifest_schema_survives_untouching_merge(spark, tmp_path):
    """ADVICE r5: a merge that does NOT touch the buckets holding a
    previously-evolved column must still commit a manifest whose
    `schema` carries that column — the manifest schema is the union of
    the merged working set and the prior manifest, so typed-empty reads
    and the change feed's empty fallback never narrow."""
    import json

    from citydata_etl_spark.sources import snapshots as S

    path = str(tmp_path / "tbl")
    S.snapshot_init(_snapshot_base(spark), path, "k", n_buckets=4)
    # v2 evolves the schema: `note` lands only in key 0's bucket
    S.snapshot_merge(
        spark, path,
        spark.createDataFrame([(0, "n0")], "k long, note string"),
        "k",
    )
    # v3 touches a DIFFERENT bucket and carries no `note`
    S.snapshot_merge(
        spark, path,
        spark.createDataFrame([(1, "B")], "k long, status string"),
        "k",
    )
    man = S._load_manifest(spark, path, 3)
    fields = {f["name"] for f in json.loads(man["schema"])["fields"]}
    assert "note" in fields, "manifest schema narrowed by an untouching merge"
    # and the live read still reconciles the column
    assert "note" in S.snapshot_read(spark, path).columns


def test_snapshot_changes_sees_old_side_only_columns(spark, tmp_path):
    """ADVICE r5: after a restore re-publishes an older, NARROWER
    schema, a row whose only difference is in a column absent from the
    to-side must still appear in the change feed (diff columns are the
    union of both sides, with typed-NULL backfill on whichever side
    lacks one)."""
    from citydata_etl_spark.sources import snapshots as S

    path = str(tmp_path / "tbl")
    S.snapshot_init(_snapshot_base(spark), path, "k", n_buckets=4)
    # v2: key 5 gains a value in a brand-new column ONLY (status/val kept)
    S.snapshot_merge(
        spark, path,
        spark.createDataFrame([(5, "added")], "k long, note string"),
        "k",
    )
    # v3 = restore to v1 (narrow schema, no `note`)
    assert S.snapshot_restore(spark, path, 1) == 3
    feed = {
        r.k: r._change
        for r in S.snapshot_changes(spark, path, 2, 3).collect()
    }
    # key 5's only v2->v3 difference lives in the old-side-only column
    assert feed.get(5) == "update"
    chg = S.snapshot_changes(spark, path, 2, 3)
    row = chg.filter(chg.k == 5).collect()[0]
    assert row.old_note == "added" and row.new_note is None


def test_snapshot_vacuum_keeps_last_k_surviving_manifests(spark, tmp_path):
    """ADVICE r5: vacuum retains the latest keep_last SURVIVING
    manifests, not 'version number > latest - keep_last' — with a gap
    in manifest numbering (crashed prior vacuum) the threshold rule
    would retain fewer than keep_last promises."""
    from citydata_etl_spark.sources import snapshots as S

    path = str(tmp_path / "tbl")
    S.snapshot_init(_snapshot_base(spark), path, "k", n_buckets=4)
    for v in (2, 3, 4):
        S.snapshot_merge(
            spark, path,
            spark.createDataFrame([(0, f"S{v}")], "k long, status string"),
            "k",
        )
    # simulate a crashed earlier vacuum that expired manifest 3 only
    fs, _ = S._fs_and_path(spark, path)
    fs.delete(S._hpath(spark, S._manifest_path(path, 3)), False)
    assert S.snapshot_versions(spark, path) == [1, 2, 4]
    S.snapshot_vacuum(spark, path, keep_last=2)
    # latest 2 SURVIVING manifests are 2 and 4 — both stay readable
    assert S.snapshot_versions(spark, path) == [2, 4]
    assert {r.k: r.status for r in
            S.snapshot_read(spark, path, 2).collect()}[0] == "S2"
    assert {r.k: r.status for r in
            S.snapshot_read(spark, path, 4).collect()}[0] == "S4"


def test_temporal_join_scd2_lookup(spark):
    """Point-in-time semantics: before-first-version and coverage-hole
    facts get NULL, closed versions match half-open [from, to), the
    open current version matches onward, and boundary facts land on
    the NEW version (valid_to exclusive)."""
    from citydata_etl_spark.operators.joins import temporal_join

    dim = spark.createDataFrame(
        [
            ("x", 100, 200, "v1"),   # closed
            ("x", 300, None, "v2"),  # hole [200,300), then current
            ("y", 50, 80, "w1"),     # closed, never superseded
        ],
        "k string, valid_from long, valid_to long, attr string",
    )
    facts = spark.createDataFrame(
        [
            ("x", 1, 90),    # before first version
            ("x", 2, 100),   # inclusive lower bound of v1
            ("x", 3, 199),   # last covered second of v1
            ("x", 4, 200),   # valid_to exclusive -> hole
            ("x", 5, 250),   # hole
            ("x", 6, 300),   # v2 starts
            ("x", 7, 9999),  # open version continues
            ("y", 8, 85),    # past w1's close, no successor
            ("z", 9, 10),    # key never in dim
        ],
        "k string, fid long, ts long",
    )
    out = {
        r.fid: r.dim_attr
        for r in temporal_join(
            facts, dim, "k", "ts", ["attr"]
        ).collect()
    }
    assert out == {
        1: None, 2: "v1", 3: "v1", 4: None, 5: None,
        6: "v2", 7: "v2", 8: None, 9: None,
    }


def test_asof_join_carries_matched_rows_null_attribute(spark):
    """The as-of carry is row-atomic: when the matched right row's
    attribute is genuinely NULL, the join must yield NULL — not borrow
    the attribute from an older right row (the per-column ignorenulls
    trap temporal_join's open-ended valid_to would fall into)."""
    from citydata_etl_spark.operators.joins import asof_join

    right = spark.createDataFrame(
        [("k", 10, "old"), ("k", 20, None)],
        "g string, ts long, attr string",
    )
    left = spark.createDataFrame([("k", 25)], "g string, ts long")
    out = asof_join(
        left, right, "g", left_ts="ts", right_ts="ts",
        right_cols=["attr"], direction="backward",
    ).collect()
    assert len(out) == 1 and out[0]["right_attr"] is None
    # nearest must also pick the row atomically
    out = asof_join(
        left, right, "g", left_ts="ts", right_ts="ts",
        right_cols=["attr"], direction="nearest",
    ).collect()
    assert out[0]["right_attr"] is None


def test_asof_tolerance_boundary(spark):
    """tolerance gate: a match exactly AT the horizon is kept
    (inclusive), one past it is NULLed, and rows with no match at all
    are unchanged — across backward and nearest directions."""
    from citydata_etl_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 100), (2, 200), (3, 300)], "id long, ts long"
    )
    right = spark.createDataFrame(
        [(1, 90, "a"), (2, 150, "b")], "id long, ts long, v string"
    )
    out = {
        r.id: r.right_v
        for r in asof_join(
            left, right, key="id", right_cols=["v"], tolerance=10
        ).collect()
    }
    assert out == {1: "a", 2: None, 3: None}  # 10 kept, 50 gated, no match
    out2 = {
        r.id: r.right_v
        for r in asof_join(
            left, right, key="id", right_cols=["v"],
            direction="nearest", tolerance=50,
        ).collect()
    }
    assert out2 == {1: "a", 2: "b", 3: None}


def test_deletion_vectors_never_touch_base_files(spark, tmp_path):
    """The merge-on-read claim itself, proved from the filesystem: two
    delete waves leave every base data file byte-identical (same
    names, sizes, mtimes), visible rows equal base minus tombstones
    (replayed appends included — set semantics), and purge_deletions
    folds the sidecar into a NEW version WITHOUT changing visible
    rows. Also pins the atomic-pointer swap contract: a reader plan
    built BEFORE the purge (pointer already resolved to v0) still
    collects correctly AFTER it (old version retained), and only
    vacuum_txn_versions reclaims the superseded dirs."""
    import glob
    import os

    from pyspark.sql import functions as F

    from citydata_etl_spark.sources.deletion import (
        append_deletion_vector,
        purge_deletions,
        read_mor_table,
        write_mor_table,
    )
    from citydata_etl_spark.sources.transactions import (
        txn_version,
        vacuum_txn_versions,
    )

    root = str(tmp_path / "mor")
    df = spark.range(0, 500).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    write_mor_table(df, root)

    def base_listing(version):
        return sorted(
            (p, os.path.getsize(p), os.path.getmtime(p))
            for p in glob.glob(os.path.join(root, f"base-v{version}", "*"))
            if not os.path.basename(p).startswith(("_", "."))
        )

    before = base_listing(0)
    dels1 = df.filter(F.col("k") % 10 == 3).select("k")
    append_deletion_vector(dels1, root)
    append_deletion_vector(dels1, root)  # replay: must not change reads
    dels2 = df.filter(F.col("k") % 25 == 0).select("k")
    append_deletion_vector(dels2, root)
    assert base_listing(0) == before  # base untouched by any wave

    visible = read_mor_table(spark, root, "k")
    want = df.filter((F.col("k") % 10 != 3) & (F.col("k") % 25 != 0))
    assert visible.count() == want.count()
    assert visible.exceptAll(want).count() == 0

    # "concurrently-ish" reader across the swap: this plan resolved the
    # pointer to v0 at build time; the purge below must not break it
    pre_swap_reader = read_mor_table(spark, root, "k")
    purge_deletions(spark, root, "k")
    assert pre_swap_reader.count() == want.count()  # v0 still on disk

    assert txn_version(spark, root) == 1
    assert not os.path.exists(os.path.join(root, "_dv-v1"))  # fresh side
    after = read_mor_table(spark, root, "k")
    assert after.count() == want.count()
    assert after.exceptAll(want).count() == 0

    assert vacuum_txn_versions(spark, root) == [0]
    assert not os.path.exists(os.path.join(root, "base-v0"))
    assert not os.path.exists(os.path.join(root, "_dv-v0"))
    assert read_mor_table(spark, root, "k").count() == want.count()


def test_deletion_vector_purge_crash_points(spark, tmp_path):
    """Every purge crash point leaves a readable, correct table: (a) a
    partially-staged next version (garbage in base-v1, pointer still
    0) is invisible to readers and healed by the purge retry's
    overwrite; (b) dying between the staged write and the pointer swap
    keeps serving v0; the retried purge commits. The pointer file
    itself is the atomic unit — there is no instant with a missing
    live path, which was the reader-visible window of the old
    two-rename swap."""
    import os

    from pyspark.sql import functions as F

    from citydata_etl_spark.sources.deletion import (
        append_deletion_vector,
        purge_deletions,
        read_mor_table,
        write_mor_table,
    )
    from citydata_etl_spark.sources.transactions import txn_version

    root = str(tmp_path / "mor")
    df = spark.range(0, 200).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("v")
    )
    write_mor_table(df, root)
    append_deletion_vector(df.filter(F.col("k") % 4 == 1).select("k"), root)
    want = df.filter(F.col("k") % 4 != 1)

    # crash point (a): garbage staged dir, pointer untouched
    os.makedirs(os.path.join(root, "base-v1"))
    open(os.path.join(root, "base-v1", "part-junk.parquet"), "wb").write(
        b"\x00garbage"
    )
    assert read_mor_table(spark, root, "k").count() == want.count()

    # crash point (b): staged write completed, pointer swap never ran —
    # readers still on v0 with tombstones applied
    read_mor_table(spark, root, "k").write.mode("overwrite").parquet(
        os.path.join(root, "base-v1")
    )
    assert txn_version(spark, root) == 0
    assert read_mor_table(spark, root, "k").count() == want.count()

    # the retried purge heals both: overwrites the staged dir, swaps
    purge_deletions(spark, root, "k")
    assert txn_version(spark, root) == 1
    got = read_mor_table(spark, root, "k")
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0


def test_multi_table_txn_atomicity_and_crash_points(spark, tmp_path):
    """The cross-table pointer swap: (a) a reader that resolved the
    version before a commit still reads the OLD consistent pair after
    it (old dirs retained); (b) a writer dying mid-commit — some new
    table dirs written, pointer untouched — leaves the old version
    fully live and a joined read consistent; (c) the retried commit
    heals and flips both tables together; (d) vacuum reclaims only
    superseded versions."""
    import os

    from pyspark.sql import functions as F

    from citydata_etl_spark.sources.transactions import (
        commit_txn,
        read_txn_table,
        txn_version,
        vacuum_txn_versions,
    )

    root = str(tmp_path / "txn")
    os.makedirs(root)
    a0 = spark.range(0, 100).select(F.col("id").alias("k"))
    b0 = a0.select("k", (F.col("k") % 7).alias("v"))
    assert commit_txn(spark, root, {"a": a0, "b": b0}) == 0
    assert txn_version(spark, root) == 0

    # pinned reader at v0
    v0 = txn_version(spark, root)

    # crash point (b): stage table a's v1 dir only, no pointer swap
    a1 = a0.filter(F.col("k") % 2 == 0)
    a1.write.mode("overwrite").parquet(os.path.join(root, "a-v1"))
    assert txn_version(spark, root) == 0
    pair = read_txn_table(spark, root, "a").join(
        read_txn_table(spark, root, "b"), "k"
    )
    assert pair.count() == 100  # still the v0 pair, never a mix

    # (c): retried full commit overwrites the stale staged dir
    b1 = b0.filter(F.col("k") % 2 == 0)
    assert commit_txn(spark, root, {"a": a1, "b": b1}) == 1
    v = txn_version(spark, root)
    got = read_txn_table(spark, root, "a", v).join(
        read_txn_table(spark, root, "b", v), "k"
    )
    assert got.count() == 50

    # (a): the pinned v0 reader still works after the commit
    old = read_txn_table(spark, root, "a", v0).join(
        read_txn_table(spark, root, "b", v0), "k"
    )
    assert old.count() == 100

    # (d): vacuum removes v0 only
    assert vacuum_txn_versions(spark, root) == [0]
    assert not os.path.exists(os.path.join(root, "a-v0"))
    assert read_txn_table(spark, root, "a").count() == 50

    # (e) ADVICE r10: a root with staged dirs but NO committed pointer
    # is an in-flight FIRST commit — vacuum must refuse, not delete
    # every staged dir (int(None-as-live) != dir would match all)
    fresh = str(tmp_path / "txn_fresh")
    os.makedirs(fresh)
    a0.write.parquet(os.path.join(fresh, "a-v0"))
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="no committed version"):
        vacuum_txn_versions(spark, fresh)
    assert os.path.exists(os.path.join(fresh, "a-v0"))


def test_mor_and_txn_round_trips_on_uri_roots(spark, tmp_path):
    """A merge-on-read table and a transaction root may be named by a
    URI (file://...), as every Hadoop-FS path may: tombstoned keys are
    invisible, purge folds them into v1, and vacuum reclaims v0; a
    two-table transaction commits, reads at one version and vacuums
    the same way."""
    from citydata_etl_spark.sources.deletion import (
        append_deletion_vector,
        purge_deletions,
        read_mor_table,
        write_mor_table,
    )
    from citydata_etl_spark.sources.transactions import (
        commit_txn,
        read_txn_table,
        txn_version,
        vacuum_txn_versions,
    )

    df = spark.range(0, 100).select(F.col("id").alias("k"))
    want = {i for i in range(100) if i % 10 != 0}
    mor = (tmp_path / "mor").as_uri()
    assert mor.startswith("file:")

    def visible():
        return {r["k"] for r in read_mor_table(spark, mor, "k").collect()}

    write_mor_table(df, mor)
    append_deletion_vector(df.filter(F.col("k") % 10 == 0), mor)
    assert visible() == want
    purge_deletions(spark, mor, "k")
    assert txn_version(spark, mor) == 1
    assert visible() == want
    assert vacuum_txn_versions(spark, mor) == [0]
    assert not (tmp_path / "mor" / "base-v0").exists()
    assert not (tmp_path / "mor" / "_dv-v0").exists()
    assert visible() == want

    txn = (tmp_path / "txn").as_uri()
    assert commit_txn(spark, txn, {"a": df, "b": df}) == 0
    half = df.filter(F.col("k") < 50)
    assert commit_txn(spark, txn, {"a": half, "b": half}) == 1
    v = txn_version(spark, txn)
    pair = read_txn_table(spark, txn, "a", v).join(
        read_txn_table(spark, txn, "b", v), "k"
    )
    assert pair.count() == 50
    assert vacuum_txn_versions(spark, txn) == [0]
    assert not (tmp_path / "txn" / "a-v0").exists()
    assert read_txn_table(spark, txn, "b").count() == 50


def test_sniff_csv_dialect_trap_and_precedence(spark):
    """Dialect detection must (a) beat the European-decimal trap — in a
    semicolon file whose amounts contain ',', the comma splits every
    line consistently into FEWER fields, so consistency alone picks
    the wrong dialect; (b) detect tab; (c) report sub-10000
    consistency for a ragged file; (d) flag headers by the
    digit-free-line rule."""
    from citydata_etl_spark.operators.relational import sniff_csv_dialect

    rows = [
        # file 1: the trap — ';' dialect, ',' inside every amount
        (1, "id;status;amount;day"),
        (1, "10;O;12,50;2024-01-01"),
        (1, "11;F;9,99;2024-01-02"),
        # file 2: tab dialect, no header
        (2, "20\tO\t5.00\t2024-02-01"),
        (2, "21\tP\t6.25\t2024-02-02"),
        # file 3: comma dialect with ONE ragged line
        (3, "30,O,1.00,2024-03-01"),
        (3, "31,F,2.00,2024-03-02"),
        (3, "32,F,3.00"),
        (3, "33,O,4.00,2024-03-04"),
    ]
    df = spark.createDataFrame(rows, "file_id LONG, line STRING")
    got = {
        r["file_id"]: (
            r["delimiter"], r["n_fields"], r["consistency_bp"],
            r["has_header"],
        )
        for r in sniff_csv_dialect(df).collect()
    }
    assert got[1] == (";", 4, 10000, True)    # not ',' despite 10000
    assert got[2] == ("\t", 4, 10000, False)
    assert got[3] == (",", 4, 7500, False)    # 3 of 4 lines modal


def test_wap_stage_audit_publish_protocol(spark, tmp_path):
    """Write-audit-publish over the txn store: (a) a staged version is
    invisible to pointer-resolving readers; (b) a failed audit leaves
    the pointer untouched; (c) the retry overwrites the rejected dirs
    at the SAME version number; (d) publish flips atomically; (e) a
    stale publish (version not following the pointer) is refused."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from citydata_etl_spark.sources.transactions import (
        commit_txn,
        publish_txn,
        read_staged_table,
        read_txn_table,
        stage_txn,
        txn_version,
    )

    root = str(tmp_path / "wap")
    os.makedirs(root)
    base = spark.range(0, 50).select(
        F.col("id"), (F.col("id") * 10).alias("cents")
    )
    assert commit_txn(spark, root, {"t": base}) == 0

    # (a)+(b): stage a bad batch — readers still see v0
    bad = base.withColumn(
        "cents",
        F.when(F.col("id") % 5 == 0, -F.col("cents"))
        .otherwise(F.col("cents")),
    )
    v = stage_txn(spark, root, {"t": bad})
    assert v == 1
    assert read_staged_table(spark, root, "t", v).filter(
        "cents < 0"
    ).count() > 0  # the audit's view sees the violations
    assert txn_version(spark, root) == 0
    assert read_txn_table(spark, root, "t").filter(
        "cents < 0"
    ).count() == 0

    # (c): the fixed batch re-stages at the SAME version
    good = base.withColumn("cents", F.col("cents") + 1)
    assert stage_txn(spark, root, {"t": good}) == 1

    # (e): publishing a version that doesn't follow the pointer fails
    with _pytest.raises(RuntimeError, match="stale staging"):
        publish_txn(spark, root, 2)
    assert txn_version(spark, root) == 0

    # (d): clean publish flips, readers see the fixed batch only
    assert publish_txn(spark, root, 1) == 1
    got = read_txn_table(spark, root, "t")
    assert got.filter("cents < 0").count() == 0
    assert got.filter("cents % 10 = 1").count() == 50


def test_wap_crash_point_walk(spark, tmp_path, monkeypatch):
    """Crash-point enumeration for write-audit-publish (r11 VERDICT
    task 7, the txn-store twin of the r9 snapshot crash tests): kill
    the protocol at EVERY boundary — mid-stage between two tables'
    dir writes, after stage before audit, after audit before publish,
    during publish before the pointer rename — and assert after each
    kill that (i) the pointer is untouched, (ii) a reader resolving
    the pointer once sees the OLD version of BOTH tables (no mixed-
    version join, the anomaly the module exists to prevent), and
    (iii) the documented recovery (re-stage at the same version /
    publish the intact staging / retry the publish) completes and
    flips both tables together. After success, vacuum reclaims the
    superseded dirs and time travel to them dies — but the live
    version survives."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from citydata_etl_spark.sources import transactions as TX

    root = str(tmp_path / "wapcrash")
    os.makedirs(root)
    a0 = spark.range(0, 20).select("id", (F.col("id") * 2).alias("v"))
    b0 = spark.range(0, 10).select("id", (F.col("id") + 100).alias("w"))
    assert TX.commit_txn(spark, root, {"a": a0, "b": b0}) == 0

    a1 = a0.withColumn("v", F.col("v") + 1)
    b1 = b0.withColumn("w", F.col("w") + 1)

    def assert_old_world():
        # one pointer resolution, both tables at that version: the
        # cross-table consistency contract under every crash
        v = TX.txn_version(spark, root)
        assert v == 0
        assert TX.read_txn_table(spark, root, "a", v).filter(
            "v % 2 = 1").count() == 0
        assert TX.read_txn_table(spark, root, "b", v).filter(
            "w - id = 101").count() == 0

    # --- crash point 1: mid-stage, between table a and table b ---
    class CrashAfterFirst:
        def items(self):
            yield "a", a1
            raise RuntimeError("simulated crash mid-stage")

    with _pytest.raises(RuntimeError, match="mid-stage"):
        TX.stage_txn(spark, root, CrashAfterFirst())
    assert os.path.isdir(os.path.join(root, "a-v1"))       # orphan dir
    assert not os.path.isdir(os.path.join(root, "b-v1"))
    assert_old_world()
    # recovery: the retry re-stages BOTH tables at the same version,
    # overwriting the orphan
    assert TX.stage_txn(spark, root, {"a": a1, "b": b1}) == 1
    assert_old_world()  # staged, still invisible

    # --- crash point 2: after stage, before audit (process death is
    # a no-op here: staging is inert state) ---
    assert TX.read_staged_table(spark, root, "a", 1).filter(
        "v % 2 = 1").count() == 20  # audit sees the staged batch
    assert_old_world()

    # --- crash point 3: after audit, before publish; then the
    # publish itself dies before the pointer rename ---
    real_write = TX._write_small_file

    def crash_write(*args, **kwargs):
        raise RuntimeError("simulated crash during publish")

    monkeypatch.setattr(TX, "_write_small_file", crash_write)
    with _pytest.raises(RuntimeError, match="during publish"):
        TX.publish_txn(spark, root, 1)
    monkeypatch.setattr(TX, "_write_small_file", real_write)
    assert_old_world()  # pointer rename never happened

    # recovery: the staged dirs are intact, the retry just publishes
    assert TX.publish_txn(spark, root, 1) == 1
    v = TX.txn_version(spark, root)
    assert v == 1
    assert TX.read_txn_table(spark, root, "a", v).filter(
        "v % 2 = 1").count() == 20
    assert TX.read_txn_table(spark, root, "b", v).filter(
        "w - id = 101").count() == 10

    # --- after success: vacuum reclaims v0, keeps the live txn ---
    removed = TX.vacuum_txn_versions(spark, root)
    assert 0 in removed and 1 not in removed
    assert TX.read_txn_table(spark, root, "a").count() == 20
    with _pytest.raises(Exception):
        TX.read_txn_table(spark, root, "a", 0).count()


def test_policy_versioned_read_replays_old_rules(spark, tmp_path):
    """The audit-replay property behind u16: a governed read pinned at
    policy v1 must be IDENTICAL before and after v2 commits — masks
    derive from the joined policy row, so the old read replays
    bit-for-bit from the immutable v1 manifest."""
    import os

    from pyspark.sql import functions as F

    from citydata_etl_spark.sources.snapshots import (
        snapshot_init,
        snapshot_merge,
        snapshot_read,
    )

    table = os.path.join(str(tmp_path), "policy")
    v1 = spark.createDataFrame(
        [("analyst", 16)], "role STRING, plen INT"
    )
    snapshot_init(v1, table, "role", n_buckets=1)
    data = spark.createDataFrame(
        [(i, f"name-{i}") for i in range(20)], "id LONG, name STRING"
    )

    def governed(version):
        pol = snapshot_read(spark, table, version)
        return sorted(
            r["m"]
            for r in data.crossJoin(F.broadcast(pol)).select(
                F.expr("substring(sha2(name, 256), 1, plen)").alias("m")
            ).collect()
        )

    before = governed(1)
    assert {len(m) for m in before} == {16}
    snapshot_merge(
        spark, table,
        spark.createDataFrame([("analyst", 8)], "role STRING, plen INT"),
        "role",
    )
    assert governed(1) == before          # replay: bit-identical
    assert {len(m) for m in governed(2)} == {8}
    # shortening the prefix can only merge masks, never split them
    assert {m[:8] for m in before} == set(governed(2))
