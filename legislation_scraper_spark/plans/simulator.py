"""Straight-line single-threaded crawl simulator — the ordering oracle.

A tiny, obviously-correct Python model of the engine's scheduling
semantics (SURVEY.md §5 test 2 / §7(b)): same seed list + robots budget
⇒ the Spark engine must reproduce this simulator's visit order
(round, host, host_rank, url), final seen set, extracted page set, and
error set exactly, regardless of parallelism.

Uses the same regex parsers (operators.extract) and the same
md5-derived transport rule (operators.fetch.md5_64) — shared code, not
a reimplementation of the parsers, so the oracle property being tested
is purely the *distributed scheduling* (anti-join, window rank,
budgets), which is what could diverge under parallelism.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from ..operators import extract as X
from ..operators.fetch import FetchPolicy, md5_64


@dataclass
class SimWorld:
    pages: dict[str, bytes]            # url -> html
    robots: dict[str, dict]            # host -> {allow, max_parallel}
    seeds: list[dict]                  # {seed_url, source, priority}


@dataclass
class SimResult:
    visit_log: list[tuple] = field(default_factory=list)  # (round, host, rank, url, fetched)
    seen: set = field(default_factory=set)
    pages: dict = field(default_factory=dict)              # url -> extracted text
    errors: dict = field(default_factory=dict)             # url -> error


def _host_of(url: str) -> str:
    return url.split("://", 1)[1].split("/", 1)[0].lower()


def _budget(rb: dict, round_window_ms: int | None) -> int:
    """min(max_parallel, crawl-delay cap) — must mirror
    operators/politeness.apply_robots exactly."""
    b = rb.get("max_parallel", 4)
    if round_window_ms is not None:
        delay = rb.get("crawl_delay_ms") or 1
        b = min(b, max(1, round_window_ms // delay))
    return b


def simulate(
    world: SimWorld,
    policy: FetchPolicy | None = None,
    search_marker: str = "/busca",
    max_rounds: int = 100,
    round_window_ms: int | None = None,
) -> SimResult:
    p = policy or FetchPolicy()
    res = SimResult()
    # pending: canon_url -> (priority, discovered_round, depth)
    pending: dict[str, tuple] = {}
    meta: dict[str, tuple] = {}  # url -> (host, source)
    for s in world.seeds:
        u = s["seed_url"]
        pending[u] = (s["priority"], 0, 0)
        meta[u] = (_host_of(u), s["source"])
    for r in range(max_rounds):
        cand = [u for u in pending if u not in res.seen]
        by_host: dict[str, list[str]] = {}
        for u in cand:
            host = meta[u][0]
            rb = world.robots.get(host, {"allow": True, "max_parallel": 4})
            if not rb["allow"]:
                continue
            by_host.setdefault(host, []).append(u)
        any_selected = False
        for host in sorted(by_host):
            budget = _budget(
                world.robots.get(host, {"max_parallel": 4}), round_window_ms
            )
            urls = sorted(
                by_host[host],
                key=lambda u: (pending[u][0], pending[u][1], u),
            )[:budget]
            for rank, u in enumerate(urls, start=1):
                any_selected = True
                res.seen.add(u)
                prio, _disc, depth = pending[u]
                body = world.pages.get(u)
                h = md5_64(u)
                fetched = body is not None and h % p.permanent_mod != 3
                res.visit_log.append((r, host, rank, u, fetched))
                if not fetched:
                    res.errors[u] = (
                        "404 not found" if body is None
                        else "503 server error (retries exhausted)"
                    )
                    continue
                if search_marker in u:
                    html = body.decode("utf-8")
                    links = X._RE_RES_LINK.findall(html)
                    nxt = X._RE_NEXT_LINK.search(html)
                    if nxt:
                        links = links + [nxt.group(1)]
                    for link in links:
                        if link not in pending:
                            pending[link] = (prio, r + 1, depth + 1)
                            meta[link] = (_host_of(link), meta[u][1])
                else:
                    rec = X._extract_one(body)
                    if rec[6]:  # is_error
                        res.errors[u] = X.PARSE_ERROR
                    else:
                        res.pages[u] = rec[5]
        if not any_selected:
            break
    return res
