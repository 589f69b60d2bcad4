"""Checkpoint/resume: kill after round k (including torn mid-round
state), restart from the catalog, and the final tables must equal an
uninterrupted run's (SURVEY.md §5 test 3)."""

from __future__ import annotations

import collections
import os
import threading

import pyspark.sql.functions as F
import pytest

from legislation_scraper_spark.plans.crawl import CrawlConfig, CrawlEngine
from legislation_scraper_spark.synth import synth_world
from legislation_scraper_spark.tables import Catalog

CFG = CrawlConfig(n_shards=8, fetch_partitions=4)


@pytest.fixture(scope="module")
def world(spark):
    w = synth_world(
        spark, seed=11, docs_per_source=12, skew=2, n_sources=3,
        partitions=4, budget_base=5,
    )
    return {k: v.cache() for k, v in w.items()}


def _manifests(root):
    """(table, manifest file) for every committed snapshot under root."""
    return {
        (os.path.basename(os.path.dirname(d)), f)
        for d, _, files in os.walk(root)
        if os.path.basename(d) == "snapshots"
        for f in files
        if f.endswith(".json")
    }


@pytest.fixture(scope="module")
def reference(spark, world, tmp_path_factory):
    """An uninterrupted crawl, run round by round, with the tables each
    round committed to."""
    root = str(tmp_path_factory.mktemp("reference"))
    eng = _mk_engine(spark, world, root)
    eng.bootstrap()
    rounds = []
    for r in range(40):
        before = _manifests(root)
        classes = _codegen_classes(spark)
        m = eng.round(r)
        if m["selected"] == 0:
            return eng, rounds
        m["commits"] = collections.Counter(
            t for t, _ in _manifests(root) - before
        )
        m["codegen_classes"] = _codegen_classes(spark) - classes
        rounds.append(m)
    pytest.fail("reference crawl did not drain in 40 rounds")


def _codegen_classes(spark) -> int:
    """Classes Spark's code generator has compiled in this JVM (its
    cache misses)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _mk_engine(spark, world, root):
    return CrawlEngine(
        spark, Catalog(spark, root),
        world["pages_raw"], world["seeds"], world["robots"], CFG,
    )


def _table_rows(eng, name, cols):
    # the seen set is a view over crawl_log, not a table of its own
    df = eng.seen.df() if name == "seen" else eng.catalog.table(name).read()
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def test_resume_equals_uninterrupted(spark, world, reference, tmp_path):
    # Uninterrupted reference run
    a, _ = reference

    # Interrupted run: 3 rounds, then a *torn* extra commit (crash mid
    # round: pages appended but checkpoint never written), then resume.
    b1 = _mk_engine(spark, world, str(tmp_path / "b"))
    b1.bootstrap()
    for r in range(3):
        b1.round(r)
    junk = world["pages_raw"].limit(5).select(
        F.col("url").alias("document_url"),
        F.lit("junk").alias("source"),
        F.lit("t").alias("title"),
        F.lit(0).alias("year"),
        F.lit("Lei").alias("type"),
        F.lit("x").alias("situation"),
        F.lit("s").alias("summary"),
        F.lit("torn").alias("text_markdown"),
        F.lit(99).alias("fetched_round"),
    )
    b1.pages.append(junk, partition_cols=["type", "situation"])

    b2 = _mk_engine(spark, world, str(tmp_path / "b"))
    start = b2.resume()
    # checkpoints 0..3 survive (bootstrap + rounds 0-2) → next round is 3
    assert start == 3
    # torn append rolled back
    assert b2.pages.read().filter(
        F.col("text_markdown") == "torn"
    ).count() == 0
    b2.run(max_rounds=40)

    for name, cols in [
        ("pages", ("document_url", "text_markdown", "type", "situation")),
        ("seen", ("canon_url",)),
        ("crawl_log", ("round", "host", "host_rank", "canon_url", "fetched")),
        ("crawl_log", ("canon_url", "round", "error")),
    ]:
        assert _table_rows(a, name, cols) == _table_rows(b2, name, cols), name


def test_bucketed_overwrite_crash_safety(spark, tmp_path):
    """BucketedLog.overwrite orders rename-in BEFORE delete-old (r3
    ADVICE): a lost manifest claim rolls the renames back and leaves
    the previous snapshot byte-identical; stray un-manifested files
    (the crash-between-rename-and-claim window) are invisible to
    read()."""
    import os

    from legislation_scraper_spark.tables import Catalog

    cat = Catalog(spark, str(tmp_path / "store"))
    log = cat.bucketed_log("t", "k", 4)
    df1 = spark.range(100).select(
        F.col("id").cast("string").alias("k"), F.lit("v1").alias("val")
    )
    log.append(df1)
    before_files = sorted(log._data_files())
    before_rows = sorted(
        (r.k, r.val) for r in log.read().collect()
    )

    df2 = spark.range(50).select(
        F.col("id").cast("string").alias("k"), F.lit("v2").alias("val")
    )

    # lost claim → overwrite must raise AND roll its renames back
    real_claim = log._claim_version
    log._claim_version = lambda *a, **kw: (_ for _ in ()).throw(
        RuntimeError("claim lost")
    )
    with pytest.raises(RuntimeError, match="claim lost"):
        log.overwrite(df2)
    log._claim_version = real_claim

    assert sorted(log._data_files()) == before_files, "renames not rolled back"
    assert sorted((r.k, r.val) for r in log.read().collect()) == before_rows

    # crash window: files renamed in, claim never happened — simulate
    # by dropping a stray parquet into data_dir; read() must ignore it
    stray = os.path.join(log.data_dir, "part-99999-deadbeef_00001.parquet")
    df2.limit(1).write.mode("overwrite").parquet(str(tmp_path / "stray"))
    src = next(
        f for f in os.listdir(str(tmp_path / "stray"))
        if f.startswith("part-")
    )
    os.rename(str(tmp_path / "stray" / src), stray)
    assert sorted((r.k, r.val) for r in log.read().collect()) == before_rows
    os.remove(stray)

    # successful overwrite replaces content and prunes replaced files
    log.overwrite(df2)
    assert sorted((r.k, r.val) for r in log.read().collect()) == sorted(
        (str(i), "v2") for i in range(50)
    )
    assert not (set(before_files) & log._data_files()), "old files not pruned"


# --- crash anywhere in a round, then resume -----------------------------

ROUND_TABLES = ("pages", "frontier_log", "crawl_log", "seen_filters")
COMPARED = [
    ("pages", ("document_url", "text_markdown", "type", "situation")),
    ("seen", ("canon_url",)),
    ("crawl_log", ("round", "host", "host_rank", "canon_url", "fetched",
                   "status", "attempts", "url_hash", "shard", "error")),
    ("frontier_log", ("url", "canon_url", "host", "depth",
                      "discovered_round")),
    # a leaked delta bitmap never changes a result (false positives
    # only), so compare the filter log itself
    ("seen_filters", ("shard", "n_keys", "bitmap")),
]


def test_round_commits_each_table_once(reference):
    """One attempts log: a round with pages and errors commits exactly
    four tables, once each, and no `seen`, `visited` or `fetch_errors`
    table exists."""
    eng, rounds = reference
    full = [m for m in rounds if m["pages"] and m["errors"]]
    assert full, "the world must have a round with pages and errors"
    for m in full:
        assert m["commits"] == {t: 1 for t in ROUND_TABLES}, m["round"]
    assert "seen" not in os.listdir(eng.catalog.root)
    assert "visited" not in os.listdir(eng.catalog.root)
    assert "fetch_errors" not in os.listdir(eng.catalog.root)
    # every checkpoint, bootstrap's included, names every table
    for tag in eng.catalog.checkpoints():
        versions = eng.catalog.load_checkpoint(tag)["versions"]
        assert set(versions) == set(ROUND_TABLES), tag


class _Crash(RuntimeError):
    pass


def _arm_crash(monkeypatch, eng, point):
    """Make ``eng``'s next round die at ``point``:

    - ``"before_sinks"``: no sink commits;
    - a table name: that sink commits, every other sink dies before
      committing (they wait for it, so the torn state is exactly one
      table);
    - ``"before_checkpoint"``: every sink commits, the checkpoint is
      never written."""
    if point == "before_checkpoint":
        def save_checkpoint(*a, **kw):
            raise _Crash(point)

        monkeypatch.setattr(eng.catalog, "save_checkpoint", save_checkpoint)
        return
    committed = threading.Event()
    if point == "before_sinks":
        committed.set()
    for name, table in eng.owned_tables().items():
        if name == point:
            def append(*a, _real=table.append, **kw):
                try:
                    _real(*a, **kw)
                finally:
                    committed.set()
                raise _Crash(point)
        else:
            def append(*a, **kw):
                committed.wait(timeout=120)
                raise _Crash(point)
        monkeypatch.setattr(table, "append", append)


def test_round_plans_are_static(spark, world, reference, tmp_path):
    """Rounds after the first reuse their generated code: round 3
    compiles at most a handful of classes (a round's plans compile ~110
    when class names carry their stage ids or the codegen cache holds
    fewer entries than a round generates).  A round runs without AQE
    and gives the session its prior setting back, whether it raises or
    returns."""
    _, rounds = reference
    assert len(rounds) > 3
    assert rounds[3]["codegen_classes"] <= 10, [
        m["codegen_classes"] for m in rounds
    ]
    key = "spark.sql.adaptive.enabled"
    eng = _mk_engine(spark, world, str(tmp_path / "store"))
    eng.bootstrap()
    during = []
    real_pending = eng.pending

    def pending():
        during.append(spark.conf.get(key))
        return real_pending()

    try:
        for prior in ("true", "false"):
            spark.conf.set(key, prior)
            assert eng.resume() == 0
            with pytest.MonkeyPatch.context() as mp:
                mp.setattr(eng, "pending", pending)
                _arm_crash(mp, eng, "before_checkpoint")
                with pytest.raises(_Crash):
                    eng.round(0)
            assert spark.conf.get(key) == prior
        assert eng.resume() == 0
        assert eng.round(0)["selected"] > 0
        assert spark.conf.get(key) == "false"
    finally:
        spark.conf.set(key, "true")
    assert during == ["false", "false"]


def test_round_raises_on_task_failure(spark, world, tmp_path):
    """A task that fails while the round first builds an input the
    caller cached (under AQE, as the session runs) makes round() raise,
    and promptly: the round's own caches are built without AQE, and
    such a failure inside one of their broadcasts would otherwise
    deadlock the driver on Spark's cache locks."""
    def fail(html):
        raise RuntimeError("injected task failure")

    pages = (
        world["pages_raw"]
        .withColumn("html", F.udf(fail, "binary")("html"))
        .repartition(4)
        .cache()
    )
    eng = _mk_engine(
        spark, {**world, "pages_raw": pages}, str(tmp_path / "store")
    )
    eng.bootstrap()
    raised = []

    def run():
        try:
            eng.round(0)
        except Exception as e:  # noqa: BLE001 — asserted below
            raised.append(e)

    t = threading.Thread(target=run, daemon=True)
    try:
        t.start()
        t.join(timeout=180)
        assert not t.is_alive(), "round() hung on a failed task"
        (e,) = raised
        assert "injected task failure" in str(e)
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    finally:
        pages.unpersist()


def _rows_at(eng, tag, name, cols):
    """Rows of table ``name`` as checkpoint ``tag`` recorded it (the
    seen set is crawl_log's canon_url column)."""
    src = "crawl_log" if name == "seen" else name
    v = eng.catalog.load_checkpoint(tag)["versions"][src]
    df = eng.catalog.table(src).read(v) if v else None
    if df is None:
        return []
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


@pytest.mark.parametrize("crash_round,sinks", [
    # round 0 fetches only the seed search pages: no pages, one error
    # (crawl_log carries it)
    (0, ("frontier_log", "crawl_log", "seen_filters")),
    # round 1 has pages but no errors, after a round that wrote no pages
    (1, ("pages", "frontier_log", "crawl_log", "seen_filters")),
], ids=["round0", "round1"])
def test_crash_anywhere_then_resume_equals_uninterrupted(
    spark, world, reference, tmp_path, crash_round, sinks
):
    """Exactly-once resume: round ``crash_round`` crashes before its
    sinks, after each single sink, and before its checkpoint.  Each
    time resume() rolls every table back to the last checkpoint, and
    redoing the round leaves every table equal to the uninterrupted
    crawl's at the same checkpoint (from there the crawl is the same
    deterministic function of those tables; the full run is compared in
    test_resume_equals_uninterrupted)."""
    ref, rounds = reference
    m = rounds[crash_round]
    if crash_round == 0:
        assert m["pages"] == 0 and m["errors"] > 0
    else:
        assert m["pages"] > 0 and m["errors"] == 0
    root = str(tmp_path / "store")
    eng = _mk_engine(spark, world, root)
    eng.bootstrap()
    for r in range(crash_round):
        eng.round(r)
    tag = crash_round + 1
    want = {name: _rows_at(ref, tag, name, cols) for name, cols in COMPARED}
    for point in ("before_sinks", *sinks, "before_checkpoint"):
        if point in ROUND_TABLES:
            assert m["commits"][point] == 1, f"{point} writes in this round"
        crashed = _mk_engine(spark, world, root)
        assert crashed.resume() == crash_round
        with pytest.MonkeyPatch.context() as mp:
            _arm_crash(mp, crashed, point)
            with pytest.raises(_Crash):
                crashed.round(crash_round)
        eng = _mk_engine(spark, world, root)
        assert eng.resume() == crash_round, point
        eng.round(crash_round)
        for name, cols in COMPARED:
            assert _rows_at(eng, tag, name, cols) == want[name], (point, name)
        # un-finish the round so the next point crashes it again
        os.remove(os.path.join(eng.catalog.ckpt_dir, f"c{tag:06d}.json"))
