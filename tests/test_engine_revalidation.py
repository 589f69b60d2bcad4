"""Engine wiring for the url_state validator table and conditional
recrawl rounds (RFC 9110 §13): with CrawlConfig.track_url_state the
engine maintains a BucketedLog of the latest per-URL fetch record
(content digest + validators) via bucket-pruned merge_upsert, and
CrawlEngine.revalidation_round() re-checks the stalest URLs against
the live web — 304s cost zero fetch/parse/page work, changed URLs are
refetched through the normal round.

The reference refetches everything on every run
(/root/reference/src/scraper/main.py has no validator handling); at a
10^10-URL frontier the 304 tier is most of the recrawl bandwidth.
"""

from __future__ import annotations

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
        CrawlConfig(n_shards=8, fetch_partitions=4, track_url_state=True),
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
    st = eng.url_state.read()
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
    assert "url_state" in eng.catalog.load_checkpoint(max(tags))["versions"]


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
    touched = eng.url_state.read().filter(
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
    st0 = eng.url_state.read()
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
    st1 = eng.url_state.read().join(live, "canon_url")
    bad = st1.filter(
        F.col("canon_url").isin(*changed_urls)
        & (F.col("digest") != F.col("want"))
    )
    assert bad.count() == 0
    assert st1.filter(
        F.col("canon_url").isin(*changed_urls)
        & (F.col("last_round") != rounds + 1)
    ).count() == 0
