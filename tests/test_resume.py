"""Checkpoint/resume: kill after round k (including torn mid-round
state), restart from the catalog, and the final tables must equal an
uninterrupted run's (SURVEY.md §5 test 3)."""

from __future__ import annotations

import collections
import contextlib
import dataclasses
import os
import threading

import pyspark.sql.functions as F
import pytest

from legislation_scraper_spark.plans import crawl
from legislation_scraper_spark.plans.crawl import CrawlConfig, CrawlEngine
from legislation_scraper_spark.synth import synth_world
from legislation_scraper_spark.tables import Catalog, Table

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
        with _py4j_commands() as sent:
            m = eng.round(r)
        if m["selected"] == 0:
            return eng, rounds
        m["commits"] = collections.Counter(
            t for t, _ in _manifests(root) - before
        )
        m["codegen_classes"] = _codegen_classes(spark) - classes
        m["py4j_commands"] = sent
        rounds.append(m)
    pytest.fail("reference crawl did not drain in 40 rounds")


@contextlib.contextmanager
def _py4j_commands():
    """Count the py4j commands this process sends the JVM inside the
    block, from any thread, by kind: the command's first letter (``c``
    call, ``r`` reflection, ``i`` constructor, ``m`` memory)."""
    from py4j.clientserver import ClientServerConnection

    sent: collections.Counter = collections.Counter()
    lock = threading.Lock()
    real = ClientServerConnection.send_command

    def send_command(conn, command):
        with lock:
            sent[command[:1]] += 1
        return real(conn, command)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(ClientServerConnection, "send_command", send_command)
        yield sent


def _codegen_classes(spark) -> int:
    """Classes Spark's code generator has compiled in this JVM (its
    cache misses)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _mk_engine(spark, world, root, cfg=CFG):
    return CrawlEngine(
        spark, Catalog(spark, root),
        world["pages_raw"], world["seeds"], world["robots"], cfg,
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
    """A BucketedLog overwrite whose manifest claim is lost raises and
    leaves reads equal to the previous snapshot; a stray commit dir or
    bucket file no manifest names (the crash-between-write-and-claim
    window) is invisible to read()."""
    import os

    from legislation_scraper_spark.tables import Catalog

    cat = Catalog(spark, str(tmp_path / "store"))
    log = cat.bucketed_log("t", "k", 4)
    df1 = spark.range(100).select(
        F.col("id").cast("string").alias("k"), F.lit("v1").alias("val")
    )
    log.append(df1)
    before_sets = log.snapshot().file_sets
    before_rows = sorted(
        (r.k, r.val) for r in log.read().collect()
    )

    df2 = spark.range(50).select(
        F.col("id").cast("string").alias("k"), F.lit("v2").alias("val")
    )

    # lost claim → overwrite must raise; the snapshot stays the prior one
    real_claim = log._claim_version
    log._claim_version = lambda *a, **kw: (_ for _ in ()).throw(
        RuntimeError("claim lost")
    )
    with pytest.raises(RuntimeError, match="claim lost"):
        log.overwrite(df2)
    log._claim_version = real_claim

    assert log.snapshot().file_sets == before_sets, "snapshot moved"
    assert sorted((r.k, r.val) for r in log.read().collect()) == before_rows

    # crash window: a commit dir written, claim never happened, and a
    # stray bucket file in data_dir; read() must ignore both
    df2.limit(1).write.mode("overwrite").parquet(str(tmp_path / "stray"))
    src = next(
        f for f in os.listdir(str(tmp_path / "stray"))
        if f.startswith("part-")
    )
    stray_set = os.path.join(log.data_dir, "set=deadbeef")
    stray = os.path.join(log.data_dir, "part-99999-deadbeef_00001.parquet")
    os.makedirs(stray_set)
    os.link(str(tmp_path / "stray" / src), os.path.join(
        stray_set, "part-99999-deadbeef_00001.parquet"))
    os.link(str(tmp_path / "stray" / src), stray)
    assert sorted((r.k, r.val) for r in log.read().collect()) == before_rows

    # successful overwrite replaces content; expiry prunes replaced dirs
    log.overwrite(df2)
    assert sorted((r.k, r.val) for r in log.read().collect()) == sorted(
        (str(i), "v2") for i in range(50)
    )
    log.expire_snapshots(keep_last=1)
    assert not [d for d in before_sets if os.path.exists(d)], \
        "old dirs not pruned"
    assert not os.path.exists(stray_set) and not os.path.exists(stray)


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


# py4j commands other than "m" sent by each reference round from round 1
# on (the fewest of them) when a round rebuilt all of its column
# expressions and PySpark captured the Python call site of each
ROUND_COMMANDS_REBUILT = 4942


def test_round_sends_few_py4j_commands(reference):
    """A round reuses the columns that depend only on configuration and
    captures no call sites, so it sends at most 40% of the synchronous
    py4j commands a round sent while it rebuilt them.  ``m`` commands
    (the deletes py4j's finalizer sends) do not block a round and are
    not counted."""
    _, rounds = reference
    sync = [
        sum(n for k, n in m["py4j_commands"].items() if k != "m")
        for m in rounds
    ]
    assert max(sync[1:]) <= 0.4 * ROUND_COMMANDS_REBUILT, sync


def test_column_builders_are_memoized(spark, reference):
    """Each memoized column builder returns the very same object on a
    second call, also when its parameters are equal but new instances
    (frozen dataclasses hash by value)."""
    from legislation_scraper_spark import functions, tables
    from legislation_scraper_spark.functions.text import slug_of
    from legislation_scraper_spark.operators import fetch, politeness, seen

    def params():
        return seen.BloomParams.for_capacity(
            CFG.filter_keys_per_shard, crawl.BLOOM_FPP
        )

    marker = CFG.search_marker
    builders = {
        "functions.cols": lambda: functions.cols(("host", "canon_url")),
        "text.slug_of": lambda: slug_of("rec.type"),
        "seen.url_key_columns": lambda: seen.url_key_columns(
            "url", CFG.n_shards
        ),
        "seen._positions": lambda: seen._positions(params()),
        "seen._build_columns": lambda: seen._build_columns(params()),
        "seen._maybe_seen": lambda: seen._maybe_seen(params()),
        "seen._or_merge": lambda: seen._or_merge(params().n_words),
        "fetch._transport_exprs": lambda: fetch._transport_exprs(
            fetch.FetchPolicy()
        ),
        "fetch._resolve_columns": fetch._resolve_columns,
        "politeness._robots_columns": lambda: politeness._robots_columns(
            CFG.round_window_ms
        ),
        "politeness._salted_key": lambda: politeness._salted_key(
            CFG.salt_buckets
        ),
        "politeness._rank_columns": politeness._rank_columns,
        "crawl._first_per_url_columns": lambda: (
            crawl._first_per_url_columns(("found",))
        ),
        "crawl._parse_columns": lambda: crawl._parse_columns(
            marker, spark.sparkContext
        ),
        "crawl._round_columns": lambda: crawl._round_columns(marker),
        "tables._jvm_members": lambda: tables._jvm_members(spark._jvm),
    }
    for name, build in builders.items():
        assert build() is build(), name


class _Crash(RuntimeError):
    pass


def _arm_crash(monkeypatch, eng, point):
    """Make ``eng``'s next round die at ``point``:

    - ``"before_sinks"``: no sink commits;
    - a table name: that sink commits, every other sink dies before
      committing (they wait for it, so the torn state is exactly one
      table);
    - ``"before_checkpoint"``: every sink commits, the checkpoint is
      never written;
    - ``"compact"``: the round-start compaction of ``frontier_log``
      commits, then the round dies;
    - ``"compact_filters"``: ``SeenSet.compact_filters`` commits its
      folded bitmaps, then dies before returning;
    - ``"expire_all"``: ``Catalog.expire_all`` trims the checkpoints
      and expires its first table, then dies."""
    maintenance = {
        "compact": (eng.frontier, "compact"),
        "compact_filters": (eng.seen.filters_table, "overwrite"),
        "expire_all": (Table, "expire_snapshots"),
    }
    if point in maintenance:
        owner, attr = maintenance[point]

        def commit_then_crash(*a, _real=getattr(owner, attr), **kw):
            _real(*a, **kw)
            raise _Crash(point)

        monkeypatch.setattr(owner, attr, commit_then_crash)
        return
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
    real_filter = eng.seen.filter_unseen

    def filter_unseen(*a, **kw):
        during.append(spark.conf.get(key))
        return real_filter(*a, **kw)

    try:
        for prior in ("true", "false"):
            spark.conf.set(key, prior)
            assert eng.resume() == 0
            with pytest.MonkeyPatch.context() as mp:
                mp.setattr(eng.seen, "filter_unseen", filter_unseen)
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


def test_rounds_share_sink_threads_and_read_frontier_once(
    spark, world, tmp_path
):
    """Consecutive rounds run their sinks on the engine's kept threads
    (a new thread opens its own py4j connection and JVM thread): a pool
    that keeps its threads starts one only when none is idle, so two
    rounds together append from no more threads than one round has
    sinks (one per owned table).  Each round reads ``frontier_log``
    once: pending() and the admission anti-join share the read."""
    eng = _mk_engine(spark, world, str(tmp_path / "store"))
    eng.bootstrap()
    threads, reads = set(), []
    real_read = eng.frontier.read

    def read(*a, **kw):
        reads[-1] += 1
        return real_read(*a, **kw)

    def on_thread(real):
        def append(*a, **kw):
            threads.add(threading.current_thread())
            return real(*a, **kw)

        return append

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(eng.frontier, "read", read)
        for table in eng.owned_tables().values():
            mp.setattr(table, "append", on_thread(table.append))
        for r in range(2):
            reads.append(0)
            assert eng.round(r)["selected"] > 0
    assert reads == [1, 1]
    assert threading.current_thread() not in threads
    assert 0 < len(threads) <= len(eng.owned_tables()), threads


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


def test_crash_in_maintenance_then_resume_equals_uninterrupted(
    spark, world, reference, tmp_path, monkeypatch
):
    """Round 2 crashes inside its round-start maintenance: after the
    compaction of a bucketed log commits, inside the Bloom filter fold,
    and inside snapshot expiry.  Each time resume() rolls back to
    checkpoint 2 by dropping manifests alone (no file moves back), and
    redoing the round gives the tables of the same crawl run straight
    through, whose rows equal the reference crawl's (maintenance
    changes no row; the folded filter log is compared to the straight
    run's).  Compaction here fires at more than one commit set."""
    ref, _ = reference
    monkeypatch.setattr(crawl, "MAX_SETS", 1)
    cfg = dataclasses.replace(CFG, expire_every_rounds=2,
                              expire_keep_snapshots=1)
    root = str(tmp_path / "store")
    eng = _mk_engine(spark, world, root, cfg)
    eng.bootstrap()
    for r in range(3):
        eng.round(r)
    # round 2 rewrote every commit set checkpoint 2 named in each log
    for name in ("frontier_log", "crawl_log", "seen_filters"):
        t = eng.catalog.table(name)
        v2, v3 = (eng.catalog.load_checkpoint(c)["versions"][name]
                  for c in (2, 3))
        assert not set(t.snapshot(v2).file_sets) & set(
            t.snapshot(v3).file_sets), name
    want = {name: _rows_at(eng, 3, name, cols) for name, cols in COMPARED}
    for name, cols in COMPARED:
        if name != "seen_filters":
            assert want[name] == _rows_at(ref, 3, name, cols), name
    for point in ("compact", "compact_filters", "expire_all"):
        # un-finish round 2 so this point crashes it again
        os.remove(os.path.join(eng.catalog.ckpt_dir, f"c{3:06d}.json"))
        crashed = _mk_engine(spark, world, root, cfg)
        assert crashed.resume() == 2, point
        with pytest.MonkeyPatch.context() as mp:
            _arm_crash(mp, crashed, point)
            with pytest.raises(_Crash):
                crashed.round(2)
        eng = _mk_engine(spark, world, root, cfg)
        assert eng.resume() == 2, point
        eng.round(2)
        for name, cols in COMPARED:
            assert _rows_at(eng, 3, name, cols) == want[name], (point, name)


def test_crawl_registers_no_catalog_table(spark, reference):
    """The bucketed logs are read from their manifests alone: a crawl
    leaves no table in the session catalog."""
    assert not [t.name for t in spark.catalog.listTables()
                if t.name.startswith("lss_")]
