"""Engine wiring for global budget allocation, TrustRank-weighted
quotas, and recrawl rounds (r3 VERDICT item 6): round budgets come from
operators.politeness.allocate_budgets over (trust-weighted) backlog,
and a recrawl round consumes operators.revisit.revisit_priorities.

The reference re-runs every scraper unconditionally and throttles only
per-site (main.py:65,108); these are the scale replacements: a
cluster-wide fetch quota split proportionally across hosts, and
staleness-driven re-fetch instead of full recrawl.
"""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
import pytest

from legislation_scraper_spark.operators.politeness import allocate_budgets
from legislation_scraper_spark.operators.revisit import (
    change_rates,
    revisit_priorities,
)
from legislation_scraper_spark.plans.crawl import CrawlConfig, CrawlEngine
from legislation_scraper_spark.synth import synth_world
from legislation_scraper_spark.tables import Catalog

N_SOURCES = 4
DOCS = 12


@pytest.fixture(scope="module")
def world(spark):
    w = synth_world(
        spark, seed=11, docs_per_source=DOCS, skew=3,
        n_sources=N_SOURCES, partitions=8, budget_base=6,
    )
    return {k: v.cache() for k, v in w.items()}


def _engine(spark, world, tmp_path_factory, cfg):
    cat = Catalog(spark, str(tmp_path_factory.mktemp("budgetstore")))
    return CrawlEngine(
        spark, cat, world["pages_raw"], world["seeds"], world["robots"], cfg
    )


def test_global_budget_caps_round(spark, world, tmp_path_factory):
    """With a global quota B, a round selects exactly the
    allocate_budgets outcome: per host min(robots_budget, allocated),
    never more than B total."""
    B = 7
    eng = _engine(
        spark, world, tmp_path_factory,
        CrawlConfig(n_shards=8, fetch_partitions=4, global_round_budget=B),
    )
    eng.bootstrap()

    # independent expectation from the operators themselves
    pending = eng.pending()
    robots = {r["host"]: r.asDict() for r in world["robots"].collect()}

    def host_cap(h: int) -> int:
        rr = robots.get(h)
        if rr is None:
            return 4  # apply_robots default budget
        if not rr["allow"]:
            return 0
        return rr["max_parallel"] if rr["max_parallel"] is not None else 4

    # the engine allocates over ABSORBABLE backlog: weight =
    # min(backlog, robots capacity), disallowed hosts excluded
    counts = {
        r["host"]: r["n"]
        for r in pending.groupBy("host")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    weights = [
        (h, float(min(n, host_cap(h))))
        for h, n in counts.items()
        if host_cap(h) > 0
    ]
    backlog = spark.createDataFrame(weights, "host string, weight double")
    alloc = {
        r["host"]: r["budget"]
        for r in allocate_budgets(backlog, B).collect()
    }

    expected = sum(
        min(alloc.get(h, 0), host_cap(h), n) for h, n in counts.items()
    )

    m = eng.round(0)
    assert m["selected"] == expected
    assert m["selected"] <= B

    # per-host: selection never exceeds the allocation
    log = eng.crawl_log.read()
    per_host = {
        r["host"]: r["n"]
        for r in log.groupBy("host").agg(F.count("*").alias("n")).collect()
    }
    for h, n in per_host.items():
        assert n <= alloc.get(h, 0), (h, n, alloc.get(h))


def test_budget_never_relaxes_robots(spark, world, tmp_path_factory):
    """A huge global quota must not lift per-host robots budgets."""
    eng = _engine(
        spark, world, tmp_path_factory,
        CrawlConfig(
            n_shards=8, fetch_partitions=4, global_round_budget=10**6
        ),
    )
    eng.bootstrap()
    eng.round(0)
    robots = {
        r["host"]: r["max_parallel"]
        for r in world["robots"].collect()
        if r["max_parallel"] is not None
    }
    log = eng.crawl_log.read()
    for r in log.groupBy("host").agg(F.count("*").alias("n")).collect():
        assert r["n"] <= robots.get(r["host"], 4)


def test_trust_weighted_budgets(spark, world, tmp_path_factory):
    """record_host_edges accumulates the host graph; trust_scores()
    seeds TrustRank from the seed hosts; budget_weights='trust_backlog'
    allocates the quota over trust×backlog."""
    eng = _engine(
        spark, world, tmp_path_factory,
        CrawlConfig(
            n_shards=8, fetch_partitions=4,
            record_host_edges=True,
            global_round_budget=9,
            budget_weights="trust_backlog",
        ),
    )
    eng.bootstrap()
    eng.round(0)  # first round has no edges yet → plain backlog weights

    edges = eng.host_edges.read()
    assert edges is not None and edges.count() > 0
    assert set(edges.columns) == {"src_host", "dst_host", "n", "round"}

    trust = eng.trust_scores()
    rows = {r["host"]: r["trust"] for r in trust.collect()}
    seed_hosts = {
        r["host"]
        for r in world["seeds"]
        .select(
            F.regexp_extract("seed_url", r"https?://([^/]+)", 1).alias(
                "host"
            )
        )
        .distinct()
        .collect()
    }
    # trust mass exists and sits on (or flows from) the seed hosts
    assert any(v > 0 for v in rows.values())
    for h, v in rows.items():
        if v > 0 and h not in seed_hosts:
            # reachable host: must be a dst of some recorded edge
            assert edges.filter(F.col("dst_host") == h).count() > 0

    # a trust-weighted round still respects the global quota
    m = eng.round(1)
    assert 0 < m["selected"] <= 9


def test_revisit_round_consumes_priorities(spark, world, tmp_path_factory):
    """Recrawl path: drain the crawl, then admit the top-k stalest URLs
    (Cho & Garcia-Molina estimator over synthetic capture history) as a
    revisit round — they are fetched AGAIN despite being seen."""
    eng = _engine(
        spark, world, tmp_path_factory,
        CrawlConfig(n_shards=8, fetch_partitions=4),
    )
    rounds = eng.run(max_rounds=40)
    last_r = rounds[-1]["round"]
    assert eng.pending().count() == 0  # drained

    visited = [
        r["canon_url"]
        for r in eng.crawl_log.read()
        .filter(F.col("fetched"))
        .select("canon_url")
        .distinct()
        .orderBy("canon_url")
        .collect()
    ]
    assert len(visited) >= 6
    # capture history: first 3 URLs change every capture (stale), the
    # rest never change (fresh)
    t0 = dt.datetime(2024, 3, 1)
    caps = []
    for i, u in enumerate(visited[:6]):
        for j in range(3):
            digest = f"d{j}" if i < 3 else "same"
            caps.append((u, t0 + dt.timedelta(days=j), digest))
    captures = spark.createDataFrame(
        caps, "canon_url string, ts timestamp, digest string"
    )

    budget = 3
    picks = eng.revisit_selection(captures, budget)
    picked = {r["canon_url"] for r in picks.select("canon_url").collect()}
    # the engine's picks ARE revisit_priorities' top-k
    expected = {
        r["canon_url"]
        for r in revisit_priorities(
            change_rates(captures, key="canon_url"), budget, key="canon_url"
        ).collect()
    }
    assert picked == expected == set(visited[:3])

    before = eng.crawl_log.read().count()
    m = eng.round(last_r + 1, extra_pending=picks)
    assert m["selected"] == budget
    log = eng.crawl_log.read()
    assert log.count() == before + budget
    refetched = {
        r["canon_url"]
        for r in log.filter(F.col("round") == last_r + 1)
        .select("canon_url")
        .collect()
    }
    assert refetched == picked


def test_opic_weighted_budgets(spark, world, tmp_path_factory):
    """budget_weights='opic_backlog': OPIC over the recorded host graph
    (the Nutch-default crawl-ordering signal) scales the quota split;
    cash conservation makes the host scores a distribution."""
    eng = _engine(
        spark, world, tmp_path_factory,
        CrawlConfig(
            n_shards=8, fetch_partitions=4,
            record_host_edges=True,
            global_round_budget=9,
            budget_weights="opic_backlog",
        ),
    )
    eng.bootstrap()
    eng.round(0)  # first round: no edges yet → plain backlog weights

    scores = eng.opic_host_scores()
    assert scores is not None
    rows = {r["host"]: r["opic"] for r in scores.collect()}
    assert rows and all(v >= 0 for v in rows.values())
    total = sum(rows.values())
    assert abs(total - 1.0) < 1e-6  # OPIC scores sum to 1 (conservation)

    m = eng.round(1)
    assert 0 < m["selected"] <= 9
