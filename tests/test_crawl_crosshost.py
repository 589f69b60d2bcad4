"""Cross-host + mixed-case-host crawl engine tests.

The synthetic worlds (synth.synth_world) only emit lowercase,
same-host links, so host-normalization bugs (politeness grouping,
robots lookup, seen-set dedup, host_edges keys) can never surface in
the parity suite.  This module hand-crafts a tiny world where every
interesting URL arrives in a NON-canonical spelling:

  * the seed itself is mixed-case with an explicit default port,
  * a search page on host `alpha` links across hosts to `beta` and
    `gamma` with mixed-case hostnames, a trailing-slash duplicate and
    a fragment suffix,
  * robots rows are keyed by the canonical (lowercase) host only.

Invariants asserted: one fetch per CANONICAL url, politeness budgets
group the spelling variants under one host, robots disallow applies
to mixed-case-discovered URLs, and host_edges uses normalized keys.
Mirrors the reference's politeness assumption that a site == a host
regardless of link spelling (base/scraper.py uses one session per
site; the crawl frontier there is single-host so the property is
implicit — here it must be enforced).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from legislation_scraper_spark.operators.fetch import FetchPolicy
from legislation_scraper_spark.plans.crawl import CrawlConfig, CrawlEngine
from legislation_scraper_spark.plans.simulator import SimWorld, simulate
from legislation_scraper_spark.tables import Catalog

ALPHA = "alpha.gov.br"
BETA = "beta.leg.br"
GAMMA = "gamma.gov.br"  # robots-disallowed
DELTA = "delta.example.com"  # NO robots row: default-allow, budget 4

SEARCH0 = f"https://{ALPHA}/busca?page=0"
SEARCH1 = f"https://{ALPHA}/busca?page=1"
BETA1 = f"https://{BETA}/norma/1"
BETA2 = f"https://{BETA}/norma/2"
ALPHA3 = f"https://{ALPHA}/norma/3"
GAMMA9 = f"https://{GAMMA}/norma/9"
DELTA4 = f"https://{DELTA}/norma/4"

# every discovered spelling is non-canonical on purpose
SEED_SPELLING = "https://ALPHA.Gov.BR:443/busca?page=0"

SEARCH0_HTML = f"""<html><body><div class="resultados">
<a class="res" href="https://BETA.leg.br/norma/1">Doc 1</a>
<a class="res" href="https://beta.leg.br/norma/1/">Doc 1 dup</a>
<a class="res" href="https://beta.leg.br/norma/2#frag">Doc 2</a>
<a class="res" href="https://GAMMA.gov.br/norma/9">Blocked</a>
</div>
<a class="next" href="https://Alpha.GOV.br:443/busca?page=1">Próxima</a>
<span class="total">Total de registros: 4</span></body></html>"""

SEARCH1_HTML = f"""<html><body><div class="resultados">
<a class="res" href="{ALPHA3}">Doc 3</a>
<a class="res" href="https://Delta.Example.COM/norma/4">Doc 4</a>
</div>
<span class="total">Total de registros: 4</span></body></html>"""


def _doc_html(title: str, text: str) -> str:
    return (
        f"<html><head><title>{title}</title>"
        f'<meta name="dc.title" content="{title}">'
        f'<meta name="dc.type" content="LEI">'
        f'<meta name="dc.year" content="2001">'
        f'<meta name="dc.summary" content="s">'
        f'<meta name="dc.situation" content="Vigente">'
        f'</head><body><div id="conteudo"><p>{text}</p></div>'
        f"</body></html>"
    )


DOC_TEXTS = {
    BETA1: "texto da norma um. " * 20,
    BETA2: "texto da norma dois. " * 20,
    ALPHA3: "texto da norma tres. " * 20,
    DELTA4: "texto da norma quatro. " * 20,
    GAMMA9: "nunca deve ser buscado. " * 20,
}


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    pages = [(SEARCH0, SEARCH0_HTML), (SEARCH1, SEARCH1_HTML)] + [
        (u, _doc_html(f"Norma {u[-1]}", t)) for u, t in DOC_TEXTS.items()
    ]
    pages_raw = spark.createDataFrame(
        [(u, h.encode("utf-8")) for u, h in pages], "url string, html binary"
    ).select(
        "url",
        F.to_timestamp(F.lit("2024-03-01 00:00:00")).alias("warc_ts"),
        "html",
        F.lit("").alias("text"),
        F.lit("pt").alias("lang"),
    )
    seeds = spark.createDataFrame(
        [(SEED_SPELLING, "alpha", 0)],
        "seed_url string, source string, priority int",
    )
    # beta budget 1 forces its two docs into separate rounds — only
    # possible if both spelling variants group under ONE host key
    robots = spark.createDataFrame(
        [
            (ALPHA, True, 1, 4),
            (BETA, True, 1, 1),
            (GAMMA, False, 1, 4),
        ],
        "host string, allow boolean, crawl_delay_ms long, max_parallel int",
    )
    cat = Catalog(spark, str(tmp_path_factory.mktemp("xhost")))
    eng = CrawlEngine(
        spark, cat, pages_raw, seeds, robots,
        CrawlConfig(
            n_shards=4, fetch_partitions=4, record_host_edges=True,
            policy=FetchPolicy(permanent_mod=1),  # no simulated 5xx
        ),
    )
    eng.run(max_rounds=10)
    return eng


def test_one_fetch_per_canonical_url(engine):
    log = engine.crawl_log.read().collect()
    visits = sorted((r["canon_url"], r["round"], r["host"]) for r in log)
    urls = [u for u, _, _ in visits]
    # each canonical URL exactly once; variants collapsed; gamma never
    assert len(urls) == len(set(urls))
    assert set(urls) == {SEARCH0, SEARCH1, BETA1, BETA2, ALPHA3, DELTA4}


def test_politeness_groups_spelling_variants(engine):
    log = {
        r["canon_url"]: r
        for r in engine.crawl_log.read().collect()
    }
    # both beta docs carry the canonical host key
    assert log[BETA1]["host"] == BETA and log[BETA2]["host"] == BETA
    # budget 1 on the unified host key → different rounds, rank 1 each
    assert log[BETA1]["round"] != log[BETA2]["round"]
    assert log[BETA1]["host_rank"] == 1 and log[BETA2]["host_rank"] == 1
    # deterministic order: norma/1 (url-sorted) precedes norma/2
    assert log[BETA1]["round"] < log[BETA2]["round"]


def test_robots_disallow_applies_to_mixedcase_links(engine):
    # gamma reached the frontier (admission is robots-oblivious) …
    frontier = {
        r["canon_url"]
        for r in engine.frontier.read().select("canon_url").collect()
    }
    assert GAMMA9 in frontier
    # … but was never selected, fetched, or recorded as visited
    visited = {
        r["canon_url"]
        for r in engine.crawl_log.read().select("canon_url").collect()
    }
    assert GAMMA9 not in visited


def test_seen_set_is_canonical(engine):
    seen = {
        r["canon_url"] for r in engine.seen.df().select("canon_url").collect()
    }
    assert seen == {SEARCH0, SEARCH1, BETA1, BETA2, ALPHA3, DELTA4}
    for u in seen:
        assert u == u.strip() and "#" not in u and ":443" not in u
        host = u.split("://", 1)[1].split("/", 1)[0]
        assert host == host.lower()


def test_extracted_docs_complete_and_error_free(engine):
    pages = {
        r["document_url"]: r["text_markdown"]
        for r in engine.pages.read()
        .select("document_url", "text_markdown").collect()
    }
    assert set(pages) == {BETA1, BETA2, ALPHA3, DELTA4}
    for u in pages:
        assert DOC_TEXTS[u].strip().split(".")[0] in pages[u]
    errs = engine.crawl_log.read().filter(F.col("error").isNotNull())
    assert errs.count() == 0


def test_host_edges_use_normalized_keys(engine):
    edges = (
        engine.host_edges.read()
        .groupBy("src_host", "dst_host")
        .agg(F.sum("n").alias("n"))
        .collect()
    )
    agg = {(r["src_host"], r["dst_host"]): r["n"] for r in edges}
    for s, d in agg:
        assert s == s.lower() and d == d.lower()
    # 3 raw links alpha→beta (incl. the two spelling dups), 1 alpha→gamma
    assert agg[(ALPHA, BETA)] == 3
    assert agg[(ALPHA, GAMMA)] == 1
    # the mixed-case next link self-edge normalized to alpha→alpha
    assert agg.get((ALPHA, ALPHA), 0) >= 1
    # robots-rowless host still appears as a normalized dst
    assert agg[(ALPHA, DELTA)] == 1


def test_host_edges_one_file_per_commit(engine):
    """The edges leave a shuffle on the host pair; the round runs
    without AQE's partition coalescing, so the sink writes them as one
    file rather than one per shuffle partition."""
    t = engine.host_edges
    for s in t.snapshot().file_sets:
        files = [f for f in os.listdir(s) if f.endswith(".parquet")]
        assert len(files) == 1, (s, files)


def test_no_robots_row_defaults_to_allow(engine):
    """A host absent from the robots table is crawled with the
    default-allow / budget-4 policy (left join + coalesce in
    operators/politeness.apply_robots), not silently dropped."""
    log = [
        r for r in engine.crawl_log.read().collect()
        if r["host"] == DELTA
    ]
    assert [(r["canon_url"], r["fetched"]) for r in log] == [(DELTA4, True)]


# --- first discovery wins -----------------------------------------------

SEARCH_A = "https://a.example/busca?page=0"
SEARCH_B = "https://b.example/busca?page=0"
C_DOC1 = "https://c.example/norma/1"
C_DOC2 = "https://c.example/norma/2"


def _search_html(*links: str) -> str:
    res = "".join(f'<a class="res" href="{u}">Doc</a>' for u in links)
    return (
        f'<html><body><div class="resultados">{res}</div>'
        f'<span class="total">Total de registros: {len(links)}</span>'
        f"</body></html>"
    )


def _hand_engine(spark, root, pages, seeds, robots, policy):
    """A CrawlEngine over a hand-built web: ``pages`` url -> html,
    ``seeds`` seed-list dicts, ``robots`` host -> max_parallel."""
    return CrawlEngine(
        spark, Catalog(spark, root),
        spark.createDataFrame(
            [(u, h.encode("utf-8")) for u, h in pages.items()],
            "url string, html binary",
        ).select(
            "url",
            F.to_timestamp(F.lit("2024-03-01 00:00:00")).alias("warc_ts"),
            "html",
        ),
        spark.createDataFrame(
            [tuple(s.values()) for s in seeds],
            "seed_url string, source string, priority int",
        ),
        spark.createDataFrame(
            [(h, True, 1, n) for h, n in robots.items()],
            "host string, allow boolean, crawl_delay_ms long, "
            "max_parallel int",
        ),
        CrawlConfig(n_shards=4, fetch_partitions=4, policy=policy),
    )


def _simulate(pages, seeds, robots, policy, max_rounds):
    return simulate(
        SimWorld(
            {u: h.encode("utf-8") for u, h in pages.items()},
            {h: {"allow": True, "max_parallel": n} for h, n in robots.items()},
            seeds,
        ),
        policy=policy, max_rounds=max_rounds,
    )


@pytest.fixture(scope="module")
def first_found(spark, tmp_path_factory):
    """Round 0 visits a priority-5 search page on a.example and a
    priority-1 one on b.example; both link c.example's /norma/1, only
    b.example links /norma/2, and c.example's budget is 1."""
    pages = {
        SEARCH_A: _search_html(C_DOC1),
        SEARCH_B: _search_html(C_DOC1, C_DOC2),
        C_DOC1: _doc_html("Norma 1", "texto da norma um. " * 20),
        C_DOC2: _doc_html("Norma 2", "texto da norma dois. " * 20),
    }
    seeds = [
        {"seed_url": SEARCH_A, "source": "a", "priority": 5},
        {"seed_url": SEARCH_B, "source": "b", "priority": 1},
    ]
    robots = {"c.example": 1}
    policy = FetchPolicy(permanent_mod=1)  # no simulated 5xx
    eng = _hand_engine(
        spark, str(tmp_path_factory.mktemp("first")), pages, seeds, robots,
        policy,
    )
    eng.run(max_rounds=4)
    return eng, _simulate(pages, seeds, robots, policy, 4)


def test_first_discovery_wins_as_in_simulator(first_found):
    """A link found twice in one round keeps the priority of its first
    discovery in visit order (a.example's, 5), as the simulator admits
    it, so c.example's budget-1 slot goes to /norma/2 (priority 1)
    first."""
    eng, sim = first_found
    got = sorted(
        (r["round"], r["host"], r["host_rank"], r["canon_url"], r["fetched"])
        for r in eng.crawl_log.read().collect()
    )
    assert got == sorted(sim.visit_log)
    assert (1, "c.example", 1, C_DOC2, True) in got
    prio = {
        r["canon_url"]: r["priority"]
        for r in eng.frontier_state().collect()
    }
    assert prio[C_DOC1] == 5 and prio[C_DOC2] == 1


# --- the frontier admits each URL once ------------------------------------

S_PAGES = [f"https://s.example/busca?page={i}" for i in range(3)]
D_DOC1 = "https://d.example/norma/1"
D_DOC2 = "https://d.example/norma/2"


def _next_html(nxt: str | None, *links: str) -> str:
    page = _search_html(*links)
    if nxt is None:
        return page
    return page.replace(
        "</body>", f'<a class="next" href="{nxt}">Próxima</a></body>'
    )


@pytest.fixture(scope="module")
def admitted_once(spark, tmp_path_factory):
    """Round 0 visits the seed, listed under two spellings of one
    canonical URL; it links c.example's /norma/1 and /norma/2 (budget
    1), d.example's /norma/1 and the next search page.  Round 1's
    search page re-links c.example's /norma/2, still pending, and
    round 2's re-links d.example's /norma/1, crawled in round 1."""
    pages = {
        S_PAGES[0]: _next_html(S_PAGES[1], C_DOC1, C_DOC2, D_DOC1),
        S_PAGES[1]: _next_html(S_PAGES[2], C_DOC2, D_DOC2),
        S_PAGES[2]: _next_html(None, D_DOC1),
    } | {
        u: _doc_html("Norma", f"texto da norma {u[-1]}. " * 20)
        for u in (C_DOC1, C_DOC2, D_DOC1, D_DOC2)
    }
    seed = {"source": "s", "priority": 0}
    seeds = [
        {"seed_url": S_PAGES[0], **seed},
        {"seed_url": "https://S.Example:443/busca?page=0", **seed},
    ]
    robots = {"c.example": 1}
    policy = FetchPolicy(permanent_mod=1)  # no simulated 5xx
    eng = _hand_engine(
        spark, str(tmp_path_factory.mktemp("once")), pages, seeds, robots,
        policy,
    )
    rounds = eng.run(max_rounds=6)
    # the simulator keys seeds by raw URL: one spelling
    return eng, rounds, _simulate(pages, seeds[:1], robots, policy, 6)


def test_frontier_log_holds_each_url_once(admitted_once):
    eng, _, _ = admitted_once
    urls = [r["canon_url"] for r in eng.frontier.read().collect()]
    assert sorted(urls) == sorted(
        set(S_PAGES) | {C_DOC1, C_DOC2, D_DOC1, D_DOC2}
    )


def test_new_urls_exclude_relinked_docs(admitted_once):
    """Round 1 finds /norma/2 of c.example again (pending) beside two
    new URLs; round 2 finds only d.example's /norma/1 again (crawled)."""
    _, rounds, _ = admitted_once
    assert [m["new_urls"] for m in rounds[:3]] == [4, 2, 0]


def test_admit_once_crawl_log_matches_simulator(admitted_once):
    eng, _, sim = admitted_once
    got = sorted(
        (r["round"], r["host"], r["host_rank"], r["canon_url"], r["fetched"])
        for r in eng.crawl_log.read().collect()
    )
    assert got == sorted(sim.visit_log)
    # the seed's two spellings are one URL, fetched once
    assert [g for g in got if g[3] == S_PAGES[0]] == [
        (0, "s.example", 1, S_PAGES[0], True)
    ]
