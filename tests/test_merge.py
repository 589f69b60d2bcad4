"""Row-level table changes: Iceberg-style copy-on-write MERGE / DELETE.

Covers `Table.merge_upsert` / `Table.delete_where` (file-SET-level
pruning: only sets containing matched rows are rewritten), and the
rewrites of the append-only `BucketedLog`: snapshot reads, bucket-aligned
files, and compaction with rollback, time travel and expiry.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from legislation_scraper_spark.tables import (
    BucketedLog,
    ConcurrentCommitError,
    Snapshot,
    Table,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def table(spark, tmp_path):
    t = Table(spark, str(tmp_path), "docs")
    t.append(spark.createDataFrame(
        [(1, "a", "old1"), (2, "b", "old2")], "id int, k string, v string"))
    t.append(spark.createDataFrame(
        [(3, "c", "old3"), (4, "d", "old4")], "id int, k string, v string"))
    t.append(spark.createDataFrame(
        [(5, "e", "old5")], "id int, k string, v string"))
    return t


def test_merge_updates_and_inserts(spark, table):
    src = spark.createDataFrame(
        [(3, "c", "NEW3"), (9, "z", "NEW9")], "id int, k string, v string")
    v0 = table.current_version()
    v = table.merge_upsert(src, ["id"])
    assert v == v0 + 1
    got = _rows(table.read())
    assert got == [
        (1, "a", "old1"), (2, "b", "old2"), (3, "c", "NEW3"),
        (4, "d", "old4"), (5, "e", "old5"), (9, "z", "NEW9"),
    ]
    assert table.approx_rows() == 6 == table.read().count()


def test_merge_rewrites_only_touched_sets(spark, table):
    before = table.snapshot()
    src = spark.createDataFrame([(3, "c", "NEW3")],
                                "id int, k string, v string")
    table.merge_upsert(src, ["id"])
    after = table.snapshot()
    carried = set(before.file_sets) & set(after.file_sets)
    # id=3 lives only in the second set: sets 1 and 3 must carry over
    # as the SAME directories (zero data movement), set 2 is replaced
    assert len(carried) == 2
    assert len(after.file_sets) == 3
    replaced = set(before.file_sets) - carried
    assert len(replaced) == 1
    # the replaced set held ids 3,4 — survivor 4 must still be present
    assert (4, "d", "old4") in _rows(table.read())


def test_merge_pure_insert_is_append_shaped(spark, table):
    before = table.snapshot()
    src = spark.createDataFrame([(100, "q", "new")],
                                "id int, k string, v string")
    table.merge_upsert(src, ["id"])
    after = table.snapshot()
    # no matched keys → every old set carries over, one new set appended
    assert set(before.file_sets) <= set(after.file_sets)
    assert len(after.file_sets) == len(before.file_sets) + 1
    assert table.approx_rows() == 6


def test_merge_time_travel_preserved(spark, table):
    v0 = table.current_version()
    src = spark.createDataFrame([(1, "a", "NEW1")],
                                "id int, k string, v string")
    table.merge_upsert(src, ["id"])
    old = _rows(table.read(version=v0))
    assert (1, "a", "old1") in old and len(old) == 5


def test_merge_schema_evolution(spark, table):
    src = spark.createDataFrame([(1, "a", "NEW1", 7)],
                                "id int, k string, v string, extra int")
    table.merge_upsert(src, ["id"])
    df = table.read()
    assert "extra" in df.columns
    got = {r["id"]: r["extra"] for r in df.collect()}
    assert got[1] == 7 and got[2] is None


def test_merge_conflict_detected(spark, table):
    stale = table.snapshot()
    table.append(spark.createDataFrame([(50, "x", "late")],
                                       "id int, k string, v string"))
    merged = table.read(version=stale.version).limit(1)
    with pytest.raises(ConcurrentCommitError):
        table._swap_sets(stale, [stale.file_sets[0]], merged, None)
    # failed swap must not leave a stray set claimable by later commits
    live = {s for v in table.versions()
            for s in table.snapshot(v).file_sets}
    on_disk = {os.path.join(table.data_dir, d)
               for d in os.listdir(table.data_dir)}
    assert on_disk == live


def test_delete_where(spark, table):
    v = table.delete_where(F.col("id").isin(3, 5))
    assert v is not None
    got = _rows(table.read())
    assert [r[0] for r in got] == [1, 2, 4]
    assert table.approx_rows() == 3 == table.read().count()


def test_delete_prunes_untouched_sets(spark, table):
    before = table.snapshot()
    table.delete_where("id = 5")  # third set only
    after = table.snapshot()
    carried = set(before.file_sets) & set(after.file_sets)
    assert len(carried) == 2
    # set 3 held only id=5 → its replacement is empty: zero-row parquet
    # dirs are dropped by footer lineage, so file_sets may be 2 or 3
    assert table.read().count() == 4


def test_delete_no_match_is_noop(spark, table):
    v0 = table.current_version()
    assert table.delete_where("id = 999") is None
    assert table.current_version() == v0


def test_delete_null_predicate_rows_kept(spark, tmp_path):
    t = Table(spark, str(tmp_path), "nulls")
    t.append(spark.createDataFrame(
        [(1, "x"), (2, None), (3, "kill")], "id int, tag string"))
    t.delete_where(F.col("tag") == "kill")
    got = _rows(t.read())
    assert [r[0] for r in got] == [1, 2]  # NULL-tag row survives


# -- BucketedLog ------------------------------------------------------------


@pytest.fixture()
def blog(spark, tmp_path):
    lg = BucketedLog(spark, str(tmp_path), "state",
                     bucket_col="url", n_buckets=8)
    urls = [(f"https://h{i % 5}.leg.br/doc/{i}", i, "seen")
            for i in range(64)]
    lg.append(spark.createDataFrame(urls, "url string, n int, st string"))
    return lg


def test_blog_read_launches_no_job(spark, blog):
    """A second read of a log, its bucketed scan over the snapshot's
    commit dirs, infers no schema: it launches no Spark job."""
    blog.read()
    sc = spark.sparkContext
    sc.setJobGroup("blog-second-read", "second read of a log")
    try:
        df = blog.read()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("blog-second-read") == []
    assert sorted(df.columns) == ["n", "st", "url"]


def _jobs_and_plan(spark, read, group):
    """Spark jobs that ``read()`` launches, and its physical plan."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "snapshot read")
    try:
        df = read()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sc.statusTracker().getJobIdsForGroup(group), plan, df


def test_snapshot_reads_are_one_scan_without_jobs(spark, tmp_path, blog):
    """A 3-commit partitioned table and a historical bucketed-log
    snapshot each read as ONE schema-supplied FileScan: no schema
    inference job, no Union of per-commit scans."""
    t = Table(spark, str(tmp_path), "parts")
    for i in range(3):
        t.append(spark.createDataFrame(
            [(i, f"k{i % 2}", "v")], "id int, k string, v string"),
            partition_cols=["k"])
    jobs, plan, df = _jobs_and_plan(spark, t.read, "table-read")
    assert jobs == []
    assert plan.count("FileScan") == 1 and "Union" not in plan
    assert _rows(df) == [(0, "v", "k0"), (1, "v", "k1"), (2, "v", "k0")]

    v1 = blog.current_version()
    blog.append(spark.createDataFrame(
        [("https://h9.leg.br/x", 1, "seen")], "url string, n int, st string"))
    jobs, plan, df = _jobs_and_plan(
        spark, lambda: blog.read(v1), "blog-historical-read")
    assert jobs == []
    assert plan.count("FileScan") == 1 and "Union" not in plan
    assert df.count() == 64


def test_rewrites_keep_partitioning(spark, tmp_path):
    """delete_where and compact rewrite in the table's partition layout:
    the rows and columns read back unchanged, and the lineage of each
    rewrite is per partition, not one unpartitioned ``__all__``."""
    t = Table(spark, str(tmp_path), "pages")
    schema = "id int, kind string, v string"
    t.append(spark.createDataFrame([(1, "a", "x"), (2, "b", "y")], schema),
             partition_cols=["kind"])
    t.append(spark.createDataFrame([(3, "a", "z"), (4, "b", "w")], schema),
             partition_cols=["kind"])
    cols = t.read().columns
    assert t.delete_where("id = 4") is not None
    assert t.snapshot().lineage == {"a": 1}
    assert t.compact() is not None
    assert t.snapshot().lineage == {"a": 2, "b": 1}
    df = t.read()
    assert df.columns == cols
    assert _rows(df) == [(1, "x", "a"), (2, "y", "b"), (3, "z", "a")]


def test_blog_files_hold_their_buckets_rows(spark, tmp_path):
    """A bucket file's name comes from its rows.  An append of a frame
    already hash-partitioned on the bucket column at n_buckets
    partitions (a groupBy on it, with as many shuffle partitions as
    buckets) lets Spark drop the append's own repartition, and AQE may
    then coalesce the shuffle left into fewer tasks than buckets.  The
    bucketed writer still puts only its bucket's rows in each file, and
    a bucketed groupBy over this and an earlier append counts each key
    once."""
    n = 4
    conf = {"spark.sql.adaptive.enabled": "true",
            "spark.sql.shuffle.partitions": str(n)}
    prior = {k: spark.conf.get(k) for k in conf}
    log = BucketedLog(spark, str(tmp_path), "grouped", "k", n)
    keys = spark.range(200).select(
        (F.col("id") % 50).cast("string").alias("k"))
    log.append(keys.distinct().select("k", F.lit(1).alias("n")))
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        log.append(keys.groupBy("k").agg(F.count("*").cast("int").alias("n")))
    finally:
        for k, v in prior.items():
            spark.conf.set(k, v)
    files = sorted(
        os.path.join(d, f) for d in log.snapshot().file_sets
        for f in os.listdir(d) if f.endswith(".parquet")
    )
    assert len(files) > 1
    for f in files:
        want = int(os.path.basename(f).partition(".")[0].rsplit("_", 1)[1])
        got = spark.read.parquet(f).select(
            F.pmod(F.hash("k"), F.lit(n)).alias("b")).distinct().collect()
        assert {r["b"] for r in got} == {want}, f
    grouped = log.read().groupBy("k").agg(F.sum("n").alias("n")).collect()
    assert len(grouped) == 50
    assert {r["n"] for r in grouped} == {5}


def test_randomized_merge_delete_matches_model(spark, tmp_path):
    """Randomized op-sequence equivalence: a seeded stream of
    append / merge_upsert / delete_where calls against `Table` must
    match a straight-line dict model (key → row) applying the same
    SQL semantics (MERGE = upsert by key; DELETE drops rows where the
    predicate is TRUE, keeps NULL/false).  Exercises set pruning,
    pure-insert append shape, all-matched deletes, and version
    monotonicity across 12 mixed commits."""
    import random

    rng = random.Random(0xC0FFEE)
    t = Table(spark, str(tmp_path), "rand")
    model: dict[int, tuple[int, str, int]] = {}
    versions = [0]

    def mk(ids):
        rows = []
        for i in ids:
            v = rng.randrange(1000)
            rows.append((i, f"s{v % 7}", v))
        return rows

    # seed
    first = mk(range(0, 12))
    t.append(spark.createDataFrame(first, "id int, k string, v int"))
    model.update({r[0]: r for r in first})
    for step in range(12):
        op = rng.choice(["append", "merge", "merge", "delete"])
        if op == "append":
            ids = [rng.randrange(100, 200) + 200 * step for _ in range(3)]
            rows = mk(set(ids))
            t.append(spark.createDataFrame(rows, "id int, k string, v int"))
            model.update({r[0]: r for r in rows})
        elif op == "merge":
            pool = list(model) or [0]
            ids = {rng.choice(pool) for _ in range(4)}
            ids |= {rng.randrange(1000, 2000)}  # at least one insert
            rows = mk(ids)
            t.merge_upsert(
                spark.createDataFrame(rows, "id int, k string, v int"),
                ["id"],
            )
            model.update({r[0]: r for r in rows})
        else:
            cut = rng.randrange(1000)
            committed = t.delete_where(F.col("v") < cut)
            survivors = {
                i: r for i, r in model.items() if not (r[2] < cut)
            }
            # no matching row → no commit (documented no-op contract)
            assert (committed is None) == (survivors == model)
            model = survivors
        got = _rows(t.read()) if model else []
        assert got == sorted(model.values()), f"step {step} ({op})"
        assert t.current_version() >= versions[-1]
        versions.append(t.current_version())


def test_blog_rewrites_keep_rollback_and_time_travel(spark, tmp_path):
    """Crash-resume across a rewrite: a BucketedLog compaction writes a
    new commit dir and leaves the replaced ones in place, so (a) a
    historical read below the rewrite still works, (b) rollback to a
    checkpointed version reads its rows again, and (c)
    expire_snapshots reclaims the replaced dirs once no surviving
    manifest references them.  A crash between a round's compaction
    and its checkpoint must not leave resume pointing at deleted
    files (PATH_NOT_FOUND)."""
    log = BucketedLog(spark, str(tmp_path), "log", "k", 4)
    for i in range(3):
        log.append(spark.createDataFrame(
            [(f"u{i}-{j}", i) for j in range(10)], "k string, r int"))
    pre = log.current_version()
    log.compact()
    # (a) time travel below the compaction
    assert log.read(version=pre).count() == 30
    # (b) rollback below the compaction (crash-resume path)
    log.rollback(pre)
    assert log.read().count() == 30
    # (c) a fresh rewrite boundary lets expiry drop old manifests AND
    # the commit dirs they referenced
    replaced = set(log.snapshot().file_sets)
    log.compact()
    assert all(os.path.isdir(d) for d in replaced)
    log.expire_snapshots(keep_last=1)
    assert not [d for d in replaced if os.path.exists(d)]
    assert sorted(os.path.join(log.data_dir, d)
                  for d in os.listdir(log.data_dir)) == log.snapshot().file_sets
    assert log.read().count() == 30


def test_blog_historical_read_joins_without_exchange(spark, tmp_path):
    """A snapshot below a compaction reads as a bucketed scan like the
    current one: its anti-join with another bucketed log on the bucket
    column plans no Exchange, with broadcasts and AQE off."""
    import re

    a = BucketedLog(spark, str(tmp_path), "a", "k", 4)
    b = BucketedLog(spark, str(tmp_path), "b", "k", 4)
    for i in range(3):
        a.append(spark.createDataFrame(
            [(f"u{i}-{j}", i) for j in range(10)], "k string, r int"))
    b.append(spark.createDataFrame(
        [(f"u0-{j}",) for j in range(10)], "k string"))
    pre = a.current_version()
    a.compact()
    conf = {"spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.enabled": "false"}
    prior = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        df = a.read(pre).join(b.read(), "k", "left_anti")
        plan = df._jdf.queryExecution().executedPlan().toString()
        n = df.count()
    finally:
        for k, v in prior.items():
            spark.conf.set(k, v)
    assert plan.count("Bucketed: true") == 2, plan
    assert not re.findall(r"\bExchange\b", plan), plan
    assert n == 20


def test_blog_cached_read_survives_reads_and_appends(spark, blog):
    """Reading or appending to a log does not un-cache a frame cached
    over an earlier read of it."""
    df = blog.read().cache()
    try:
        assert df.count() == 64
        cm = spark._jsparkSession.sharedState().cacheManager()
        assert cm.lookupCachedData(df._jdf).isDefined()
        blog.read()
        blog.append(spark.createDataFrame(
            [("https://h9.leg.br/x", 1, "seen")],
            "url string, n int, st string"))
        assert cm.lookupCachedData(df._jdf).isDefined()
        assert df.count() == 64 and blog.read().count() == 65
    finally:
        df.unpersist()


def test_blog_empty_append_adds_no_set(spark, blog):
    """An append of no rows commits a version that names no new commit
    dir, so it leaves the read and the compaction trigger as they
    were."""
    before = blog.snapshot()
    v = blog.append(spark.createDataFrame([], "url string, n int, st string"))
    assert v == before.version + 1
    assert blog.snapshot().file_sets == before.file_sets
    assert sorted(os.listdir(blog.data_dir)) == sorted(
        os.path.basename(d) for d in before.file_sets)
    assert blog.read().count() == 64


def test_blog_manifest_naming_files_is_refused(spark, tmp_path):
    """A bucketed-log manifest whose sets are bare bucket-file names
    (the layout before logs wrote commit dirs) is refused, naming the
    table, instead of read from the wrong paths."""
    import json

    log = BucketedLog(spark, str(tmp_path), "old", "k", 4)
    with open(os.path.join(log.snap_dir, "v00001.json"), "w") as f:
        json.dump({"version": 1, "lineage": {"__all__": 1}, "metrics": {},
                   "total_rows": 1, "vintages": [{
                       "ops": 0, "partition_cols": [],
                       "sets": ["part-00000-x_00001.parquet"],
                       "schema": {"type": "struct", "fields": [
                           {"name": "k", "type": "string",
                            "nullable": True, "metadata": {}}]}}]}, f)
    with pytest.raises(ValueError, match="table old: .*rebuild"):
        log.read()
