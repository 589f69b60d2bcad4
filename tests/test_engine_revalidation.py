"""Engine wiring for the validator tier and conditional recrawl rounds
(RFC 9110 §13): every attempt in crawl_log carries its validators, the
engine's url_state() view is each URL's latest validated attempt, and
CrawlEngine.revalidation_round() re-checks the stalest URLs against
the live web — a 304 costs zero fetch/parse/page work and is logged as
an attempt under the round's checkpoint, changed URLs are refetched
through the normal round.

The reference refetches everything on every run
(/root/reference/src/scraper/main.py has no validator handling); at a
10^10-URL frontier the 304 tier is most of the recrawl bandwidth.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from legislation_scraper_spark.plans.crawl import CrawlConfig, CrawlEngine
from legislation_scraper_spark.synth import synth_world
from legislation_scraper_spark.tables import Catalog

N_SOURCES = 3
DOCS = 8


@pytest.fixture(scope="module")
def world(spark):
    w = synth_world(
        spark, seed=23, docs_per_source=DOCS, skew=2,
        n_sources=N_SOURCES, partitions=8, budget_base=50,
    )
    return {k: v.cache() for k, v in w.items()}


def _crawl(spark, world, tmp_path_factory, pages_raw=None):
    cat = Catalog(spark, str(tmp_path_factory.mktemp("revalstore")))
    eng = CrawlEngine(
        spark, cat,
        pages_raw if pages_raw is not None else world["pages_raw"],
        world["seeds"], world["robots"],
        CrawlConfig(n_shards=8, fetch_partitions=4),
    )
    eng.bootstrap()
    r = 0
    while True:
        m = eng.round(r)
        if m["selected"] == 0:
            break
        r += 1
    return eng, r


def test_url_state_tracks_latest_fetch(spark, world, tmp_path_factory):
    """After a drained crawl, url_state holds exactly one row per
    successfully fetched URL, digest == md5(live body), and the version
    is recorded in the round checkpoints."""
    eng, _ = _crawl(spark, world, tmp_path_factory)
    st = eng.url_state()
    vis = eng.crawl_log.read().filter(F.col("fetched"))
    assert st.count() == st.select("canon_url").distinct().count()
    assert st.count() == vis.select("canon_url").distinct().count()
    live = world["pages_raw"].select(
        F.col("url").alias("canon_url"), F.md5("html").alias("want")
    )
    j = st.join(live, "canon_url")
    assert j.filter(F.col("digest") != F.col("want")).count() == 0
    # strong-validator contract: etag mirrors the digest
    assert st.filter(F.col("etag") != F.col("digest")).count() == 0
    tags = eng.catalog.checkpoints()
    # the validators are checkpointed with the attempts that carry them
    v = eng.catalog.load_checkpoint(max(tags))["versions"]["crawl_log"]
    assert v == eng.crawl_log.current_version()
    assert eng.crawl_log.read(v).filter(
        F.col("fetched") & F.col("digest").isNull()
    ).count() == 0


def test_revalidation_all_304_when_unchanged(spark, world,
                                             tmp_path_factory):
    """Unchanged web → every revalidated URL earns a 304: no new pages,
    positive saved_bytes, url_state last_round touched."""
    eng, rounds = _crawl(spark, world, tmp_path_factory)
    pages_v = eng.pages.current_version()
    budget = 5
    m = eng.revalidation_round(rounds + 1, budget)
    assert m["revalidated"] == budget
    assert m["not_modified"] == budget
    assert m["refetched"] == 0
    assert m["saved_bytes"] > 0
    assert eng.pages.current_version() == pages_v
    touched = eng.url_state().filter(
        F.col("last_round") == rounds + 1
    )
    assert touched.count() == budget
    assert touched.filter(F.col("last_status") != 304).count() == 0


def test_revalidation_refetches_changed_urls(spark, world,
                                             tmp_path_factory):
    """Mutate some live bodies: those URLs (and only those, among the
    picks) are refetched through the normal round; url_state carries
    their NEW digests afterwards; unchanged picks still 304."""
    eng, rounds = _crawl(spark, world, tmp_path_factory)
    st0 = eng.url_state()
    # revalidation picks the stalest `budget` URLs deterministically:
    # compute the pick set the same way, then mutate half of it
    budget = 6
    picks = [
        r["canon_url"]
        for r in st0.orderBy(
            F.col("last_round").asc(), F.col("canon_url")
        ).limit(budget).collect()
    ]
    changed_urls = set(picks[: budget // 2])
    mutated = world["pages_raw"].withColumn(
        "html",
        F.when(
            F.col("url").isin(*changed_urls),
            F.concat(F.col("html"), F.lit(b"<!--rev-->")),
        ).otherwise(F.col("html")),
    )
    eng.pages_raw = mutated
    m = eng.revalidation_round(rounds + 1, budget)
    assert m["revalidated"] == budget
    assert m["not_modified"] == budget - len(changed_urls)
    assert m["refetched"] == len(changed_urls)
    assert m["saved_bytes"] > 0
    # exactly the changed URLs went through the normal fetch path (the
    # stalest picks are round-0 seeds, i.e. search pages — they produce
    # links, not page rows, so assert on the crawl log)
    logged = {
        r["canon_url"]
        for r in eng.crawl_log.read()
        .filter((F.col("round") == rounds + 1) & F.col("fetched"))
        .collect()
    }
    assert logged == changed_urls
    # url_state now carries the NEW digest for changed URLs
    live = mutated.select(
        F.col("url").alias("canon_url"), F.md5("html").alias("want")
    )
    st1 = eng.url_state().join(live, "canon_url")
    bad = st1.filter(
        F.col("canon_url").isin(*changed_urls)
        & (F.col("digest") != F.col("want"))
    )
    assert bad.count() == 0
    assert st1.filter(
        F.col("canon_url").isin(*changed_urls)
        & (F.col("last_round") != rounds + 1)
    ).count() == 0


# --- revalidation inside the round's checkpoint ---------------------------


@pytest.fixture(scope="module")
def drained(spark, world, tmp_path_factory):
    """One drained crawl the tests below revalidate from: its store
    root and last checkpoint tag."""
    eng, _ = _crawl(spark, world, tmp_path_factory)
    return eng.catalog.root, max(eng.catalog.checkpoints())


def _from_drained(spark, world, drained, pages_raw=None):
    """An engine over the drained store, rolled back to the drained
    crawl's last checkpoint (later checkpoints are deleted first)."""
    root, tag = drained
    cat = Catalog(spark, root)
    for t in cat.checkpoints():
        if t > tag:
            os.remove(os.path.join(cat.ckpt_dir, f"c{t:06d}.json"))
    eng = CrawlEngine(
        spark, cat,
        pages_raw if pages_raw is not None else world["pages_raw"],
        world["seeds"], world["robots"],
        CrawlConfig(n_shards=8, fetch_partitions=4),
    )
    assert eng.resume() == tag
    return eng


def _attempts_and_state(eng):
    def rows(df):
        return sorted(map(tuple, df.collect()), key=repr)

    return rows(eng.crawl_log.read()), rows(eng.url_state())


@pytest.mark.parametrize("n_changed", [0, 2], ids=["all_304", "refetch"])
def test_revalidation_crash_before_checkpoint_resumes_exactly_once(
    spark, world, drained, n_changed
):
    """A revalidation round that crashes after its 304 rows commit and
    before its checkpoint is rolled back whole by resume(): re-running
    it gives the crawl_log and url_state() rows of an uninterrupted
    revalidation round.  With every pick unchanged the round selects
    nothing and the checkpoint is revalidation_round's own; with some
    changed it is the refetch round's."""
    tag = drained[1]
    r, budget = tag + 1, 5
    picks = [
        row["canon_url"]
        for row in _from_drained(spark, world, drained).url_state()
        .orderBy("last_round", "canon_url").limit(budget).collect()
    ]
    pages = world["pages_raw"].withColumn(
        "html",
        F.when(
            F.col("url").isin(*picks[:n_changed]),
            F.concat(F.col("html"), F.lit(b"<!--rev-->")),
        ).otherwise(F.col("html")),
    )
    eng = _from_drained(spark, world, drained, pages)
    m = eng.revalidation_round(r, budget)
    assert m["not_modified"] == budget - n_changed
    assert m["refetched"] == n_changed
    want = _attempts_and_state(eng)

    crashed = _from_drained(spark, world, drained, pages)
    log_v = crashed.crawl_log.current_version()
    real_append = crashed.crawl_log.append
    appended = []

    def append(df, *a, **kw):
        appended.append(df.filter(F.col("status") == 304).count())
        return real_append(df, *a, **kw)

    def save_checkpoint(*a, **kw):
        raise RuntimeError("crash before the checkpoint")

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(crashed.crawl_log, "append", append)
        mp.setattr(crashed.catalog, "save_checkpoint", save_checkpoint)
        with pytest.raises(RuntimeError, match="before the checkpoint"):
            crashed.revalidation_round(r, budget)
    # the 304 rows had committed, first
    assert appended[0] == budget - n_changed
    assert crashed.crawl_log.current_version() > log_v

    eng = _from_drained(spark, world, drained, pages)
    assert eng.crawl_log.current_version() == log_v
    assert eng.crawl_log.read().filter(F.col("round") == r).count() == 0
    eng.revalidation_round(r, budget)
    assert _attempts_and_state(eng) == want


def test_all_304_round_checkpoints_its_rows(spark, world, drained):
    """A revalidation round whose picks all earn a 304 selects nothing
    to refetch, and still leaves checkpoint r + 1, which covers its 304
    rows in crawl_log: unfetched attempts with the prior validators."""
    tag = drained[1]
    r, budget = tag + 1, 4
    eng = _from_drained(spark, world, drained)
    m = eng.revalidation_round(r, budget)
    assert m["not_modified"] == budget and m["refetched"] == 0
    assert max(eng.catalog.checkpoints()) == r + 1
    v = eng.catalog.load_checkpoint(r + 1)["versions"]["crawl_log"]
    assert v == eng.crawl_log.current_version()
    rows = eng.crawl_log.read(v).filter(F.col("round") == r)
    assert rows.count() == budget
    assert rows.filter(
        (F.col("status") != 304) | F.col("fetched")
        | F.col("error").isNotNull() | F.col("digest").isNull()
    ).count() == 0
    assert eng.resume() == r + 1
    state = {
        row["canon_url"]: row["state"]
        for row in eng.frontier_state().collect()
    }
    assert {state[row["canon_url"]] for row in rows.collect()} == {"fetched"}
