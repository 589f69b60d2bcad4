"""End-to-end crawl engine tests: ordering parity vs the straight-line
simulator, URL-seen set equality, byte-identical extracted pages,
error routing, robots refusal, and no-URL-fetched-twice."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from legislation_scraper_spark.operators.seen import with_url_key
from legislation_scraper_spark.plans.crawl import CrawlConfig, CrawlEngine
from legislation_scraper_spark.plans.simulator import SimWorld, simulate
from legislation_scraper_spark.synth import (
    DISALLOWED_SOURCE,
    host_of,
    synth_world,
)
from legislation_scraper_spark.tables import Catalog

N_SOURCES = 6
DOCS = 25


@pytest.fixture(scope="module")
def world(spark):
    w = synth_world(
        spark, seed=7, docs_per_source=DOCS, skew=3,
        n_sources=N_SOURCES, partitions=8, budget_base=6,
    )
    return {k: v.cache() for k, v in w.items()}


@pytest.fixture(scope="module")
def sim_result(world):
    pages = {
        r["url"]: bytes(r["html"])
        for r in world["pages_raw"].select("url", "html").collect()
    }
    robots = {
        r["host"]: {"allow": r["allow"], "max_parallel": r["max_parallel"]}
        for r in world["robots"].collect()
    }
    seeds = [r.asDict() for r in world["seeds"].collect()]
    return simulate(SimWorld(pages, robots, seeds), max_rounds=60)


@pytest.fixture(scope="module")
def engine_result(spark, world, tmp_path_factory):
    cat = Catalog(spark, str(tmp_path_factory.mktemp("crawlstore")))
    eng = CrawlEngine(
        spark, cat, world["pages_raw"], world["seeds"], world["robots"],
        CrawlConfig(n_shards=16, fetch_partitions=8),
    )
    rounds = eng.run(max_rounds=60)
    return eng, rounds


def test_visit_order_matches_simulator(engine_result, sim_result):
    eng, _ = engine_result
    log = eng.crawl_log.read()
    got = sorted(
        (r["round"], r["host"], r["host_rank"], r["canon_url"], r["fetched"])
        for r in log.collect()
    )
    want = sorted(sim_result.visit_log)
    assert len(got) == len(want), f"{len(got)} visits vs {len(want)}"
    assert got == want


def test_seen_set_matches_simulator(engine_result, sim_result):
    eng, _ = engine_result
    seen = {
        r["canon_url"] for r in eng.seen.df().select("canon_url").collect()
    }
    assert seen == sim_result.seen


def test_extracted_pages_byte_identical(engine_result, sim_result, world):
    eng, _ = engine_result
    pages = eng.pages.read()
    got = {
        r["document_url"]: r["text_markdown"]
        for r in pages.select("document_url", "text_markdown").collect()
    }
    assert got == sim_result.pages
    # and equal to the golden text column per URL
    gold = dict(
        world["pages_raw"].filter(~F.col("url").contains("/busca"))
        .select("url", "text").collect()
    )
    for u, t in got.items():
        assert gold[u] == t


def test_errors_match_simulator(engine_result, sim_result):
    eng, _ = engine_result
    errs = eng.crawl_log.read().filter(F.col("error").isNotNull())
    got = {r["canon_url"]: r["error"] for r in errs.collect()}
    assert got == sim_result.errors


def test_seen_filters_one_file_per_commit(engine_result):
    """Each commit of the Bloom filter log is one file.  The bitmaps
    come out of a shuffle on ``shard`` and the round runs without AQE's
    partition coalescing, so the write is sized from the bitmaps' bytes,
    not from the shuffle's partition count."""
    eng, rounds = engine_result
    t = eng.seen.filters_table
    assert len(t.versions()) >= len([m for m in rounds if m["selected"]])
    seen_sets: set[str] = set()
    for v in t.versions():
        for s in set(t.snapshot(v).file_sets) - seen_sets:
            files = [f for f in os.listdir(s) if f.endswith(".parquet")]
            assert len(files) == 1, (v, files)
            seen_sets.add(s)


def test_no_url_fetched_twice(engine_result):
    eng, _ = engine_result
    log = eng.crawl_log.read()
    dup = (
        log.groupBy("canon_url").count().filter(F.col("count") > 1).count()
    )
    assert dup == 0


def test_robots_disallowed_never_fetched(engine_result):
    eng, _ = engine_result
    bad_host = host_of(DISALLOWED_SOURCE)
    log = eng.crawl_log.read()
    assert log.filter(F.col("host") == bad_host).count() == 0


def test_frontier_drained(engine_result, world):
    """Every allowed URL in the world ends up attempted exactly once."""
    eng, rounds = engine_result
    assert rounds[-1]["selected"] == 0
    state = eng.frontier_state()
    n_pending = state.filter(F.col("state") == "pending").count()
    # only disallowed-host URLs may remain pending
    bad_host = host_of(DISALLOWED_SOURCE)
    leftovers = state.filter(
        (F.col("state") == "pending") & (F.col("host") != bad_host)
    ).count()
    assert leftovers == 0, f"{n_pending} pending, {leftovers} not disallowed"


def test_lineage_recorded(engine_result):
    eng, _ = engine_result
    snap = eng.pages.snapshot()
    assert snap is not None and snap.lineage, "pages lineage missing"
    # lineage keys are 'type|situation' partition values
    assert any("|" in k for k in snap.lineage)


def test_error_cooldown_excludes_then_readmits(spark, world, tmp_path_factory):
    """C5 host back-off: a host crossing the error threshold in round k
    is excluded from selection while the cooldown window covers k, and
    becomes selectable again once the window ages out."""
    from pyspark.sql import functions as F

    cat = Catalog(spark, str(tmp_path_factory.mktemp("cooldownstore")))
    eng = CrawlEngine(
        spark, cat, world["pages_raw"], world["seeds"], world["robots"],
        CrawlConfig(
            n_shards=16, fetch_partitions=8,
            error_cooldown_rounds=2, cooldown_error_threshold=1,
        ),
    )
    eng.bootstrap()
    eng.round(0)
    # inject a block signal: host H errored hard in round 0 (H is a host
    # whose seed page was fetched, so it has discovered work)
    visited = eng.crawl_log.read()
    h = visited.filter("fetched").orderBy("host").first()["host"]
    blocked = spark.createDataFrame(
        [(0, h, 1, f"https://{h}/blocked", 0, False, "synthetic", 503, 5,
          "blocked", None, None)],
        "round int, host string, host_rank int, url string, priority int, "
        "fetched boolean, source string, status int, attempts int, "
        "error string, digest string, warc_ts timestamp",
    )
    eng.crawl_log.append(
        with_url_key(blocked, "url", eng.cfg.n_shards).select(*visited.columns)
    )
    # the exclusion must be meaningful: the host has pending work
    assert eng.pending().filter(F.col("host") == h).count() > 0
    # rounds 1..2: window (round >= r-2) still covers round 0 → excluded
    for r in (1, 2):
        eng.round(r)
        logged = eng.crawl_log.read().filter(
            (F.col("round") == r) & (F.col("host") == h)
        )
        assert logged.count() == 0, f"host {h} selected during cooldown round {r}"
    # round 3: round 0 errors fall outside the window (round >= 1) →
    # the host must be readmitted (its URLs were held back, not dropped)
    assert eng.pending().filter(F.col("host") == h).count() > 0
    eng.round(3)
    logged = eng.crawl_log.read().filter(
        (F.col("round") == 3) & (F.col("host") == h)
    )
    assert logged.count() > 0, f"host {h} not readmitted after cooldown"


def test_scope_rules_gate_frontier_admission(spark, tmp_path):
    """An engine configured with a deny rule for one source's /norma
    subtree crawls its search pages (seeds are scope-exempt, as in
    Heritrix) but admits none of its document URLs to the frontier;
    every other source is unaffected relative to an unscoped crawl."""
    world = synth_world(spark, seed=11, docs_per_source=12, n_sources=3)

    def run(cfg, store):
        cat = Catalog(spark, str(store))
        eng = CrawlEngine(
            spark, cat, world["pages_raw"], world["seeds"],
            world["robots"], cfg,
        )
        eng.run(max_rounds=30)
        return eng

    def visited_urls(eng):
        return {
            r["canon_url"] for r in eng.crawl_log.read().collect()
        }

    plain = run(CrawlConfig(n_shards=8, fetch_partitions=4),
                tmp_path / "plain")
    pv = visited_urls(plain)
    # pick a source whose /norma subtree the unscoped crawl reaches
    # (a seed can die on a simulated permanent 503 — skip those)
    src0 = sorted(
        u.split("www.")[1].split(".leg.br")[0]
        for u in pv
        if "/norma/" in u
    )[0]
    scoped = run(
        CrawlConfig(
            n_shards=8,
            fetch_partitions=4,
            scope_rules=((f"br,leg,{src0})/norma", False),),
            scope_default_allow=True,
        ),
        tmp_path / "scoped",
    )
    sv = visited_urls(scoped)
    denied = {u for u in pv if f"www.{src0}.leg.br/norma/" in u}
    assert denied, "unscoped crawl must visit the denied subtree"
    assert not {u for u in sv if f"www.{src0}.leg.br/norma/" in u}
    # search pages of src0 (seeds + their pagination) are still crawled
    assert {u for u in sv if f"www.{src0}.leg.br/busca" in u}
    # all other sources are untouched by the rule
    others_p = {u for u in pv if f"www.{src0}.leg.br" not in u}
    others_s = {u for u in sv if f"www.{src0}.leg.br" not in u}
    assert others_p == others_s
