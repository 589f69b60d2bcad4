"""The crawl engine: iterative frontier expansion over snapshot tables.

Replaces the reference's whole runtime (thread pools + queues + saver
thread, /root/reference/src/scraper/base/scraper.py:458-493,
database/saver.py:63-87) with a Spark-first incremental-batch loop
(SURVEY.md §3 "Spark rebuild lifecycle"):

  round r:
    pending    = frontier_log ⟂ crawl_log   (bloom pre-filter + anti-join)
    selected   = robots ⋈ pending → window rank ≤ budget → salted repartition
    results    = fetch(selected)            (mapInPandas transport)
    parsed     = parse_page(fetched bodies)  (one Arrow UDF: a document
                                             record or a search page's links)
    pages        += the documents                 (byte-parity)
    frontier_log += the search pages' links it does not hold (new URLs,
                    depth+1; each at its first discovery in visit order)
    crawl_log    += every attempted URL: round, host, host_rank, keys,
                    outcome, error (NULL unless the fetch or the parse
                    failed) and validators (the body's digest, the
                    record's capture time warc_ts) — the ordering
                    contract, the exact seen set, the error record and,
                    as a view, url_state
    seen_filters += Bloom delta bitmaps of the same rows
    catalog.save_checkpoint(r + 1, {every owned table: version})
                                        ← atomic multi-table commit

Tables are append-only logs; "state" (FIXTURES.md §3 pending/fetched/
error) is derived: pending = discovered ∖ attempted, and a URL's
fetched/error state is its ``crawl_log.fetched``.  This is the
merge-on-read pattern — no per-round rewrite of a 10^10-row frontier,
just appends plus the anti-join at read time (Iceberg MERGE/compaction
would periodically fold the log at scale).  ``frontier_log`` holds each
URL once, at its first discovery; both logs are bucketed by ``canon_url``,
so pending()'s anti-join and admission's read them without an Exchange.

Every checkpoint records the version of EVERY table the engine owns
(0 for a table still empty), so resume rolls back a torn commit to any
of them, whichever sink it came from.

Shuffle budget per round (SURVEY.md §4): the seen anti-join, the
politeness window rank and the salted repartition, on politeness-bounded
row counts (≤ Σ budgets), NOT on the full frontier; and one canon_url
shuffle of the new links, shared by their grouping, admission and append.

Crawl-ordering contract: selection order is fully determined by
(priority, discovered_round, canon_url) per host, where a URL keeps the
priority of its first discovery (earliest round, then the linking
page's host, host_rank and link position — the simulator's visit
order) — reproducible under any parallelism and verified against the
straight-line simulator (plans/simulator.py) by
tests/test_crawl_engine.py (test_visit_order_matches_simulator /
test_seen_set_matches_simulator).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import ascii_slug
from ..functions.urls import url_host
from ..operators import politeness
from ..operators.extract import PARSE_ERROR, make_parse_page
from ..operators.fetch import FetchPolicy, fetch
from ..operators.seen import SeenSet, with_url_key
from ..tables import Catalog

# off for the duration of a round (session.py explains why)
AQE = "spark.sql.adaptive.enabled"

FRONTIER_COLS = (
    "url", "canon_url", "url_hash", "shard", "host", "source",
    "priority", "depth", "discovered_round",
)
# one crawl_log row per attempt
LOG_COLS = (
    "round", "host", "host_rank", "canon_url", "priority", "fetched",
    "source", "status", "attempts", "error", "url_hash", "shard",
    "digest", "warc_ts",
)
BLOOM_FPP = 0.01  # the seen filter's false-positive target
# hive partitioning of the pages table: ASCII twins of type, situation
PAGES_PARTITION_COLS = ("type_slug", "situation_slug")
TRUST_ITERS = 2  # iterations of the host-graph scorers


def _build_cached(spark: SparkSession, *dfs: DataFrame | None) -> None:
    """Build, on this thread, the cache of each frame in ``dfs`` that
    is cached and not yet built.  For a plan cached with AQE, Spark
    runs every stage of it but the last, which runs when a job first
    reads the cache; a built cache costs nothing here.

    A cached plan planned with AQE whose build fails un-caches every
    cache that reads it (``CacheManager.recacheByPlan``), taking each
    one's build lock.  A round without AQE builds its own caches while
    waiting on broadcast threads, and a broadcast thread may be the
    first to build a caller's cache: a failure there would wait on the
    lock of the round cache whose builder waits on it, a deadlock
    rather than an error.  Built first here, outside any round cache,
    the same failure raises from the round."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    for df in dfs:
        if df is None:
            continue
        hit = cache.lookupCachedData(df._jdf)
        if hit.isDefined():
            builder = hit.get().cachedRepresentation().cacheBuilder()
            builder.cachedColumnBuffers()


def _first_per_url(df: DataFrame, *order) -> DataFrame:
    """One frontier row per ``canon_url``: the one whose ``order``
    columns sort first."""
    rest = [c for c in FRONTIER_COLS if c != "canon_url"]
    return (
        df.groupBy("canon_url")
        .agg(F.min(F.struct(F.struct(*order).alias("o"), *rest)).alias("b"))
        .select("canon_url", "b.*")
        .select(*FRONTIER_COLS)
    )


@dataclass
class CrawlConfig:
    n_shards: int = 64
    salt_buckets: int = 8
    fetch_partitions: int = 16
    policy: FetchPolicy = field(default_factory=FetchPolicy)
    search_marker: str = "/busca"  # URL shape that dispatches link parsing
    transport: str = "jvm"  # 'jvm' (codegen sim) | 'python' (mapInPandas)
    # politeness ranking strategy: 'window' (cheapest with bounded
    # budgets) | 'range' (skew-safe for mega-hosts with large budgets;
    # operators/politeness.rank_per_host_range)
    rank_impl: str = "window"
    round_window_ms: int | None = None  # crawl-delay budget cap (politeness)
    # Error-driven host cooldown (SURVEY.md §2.11 C5: the reference
    # rotates VPN / sleeps when a site starts blocking; here a host with
    # >= cooldown_error_threshold errors within the last
    # error_cooldown_rounds rounds is excluded from selection until the
    # window ages out).  0 disables (default — keeps ordering parity
    # with the straight-line simulator).
    error_cooldown_rounds: int = 0
    cooldown_error_threshold: int = 3
    # bloom capacity per shard for the INCREMENTAL filter state (params
    # must stay fixed across delta batches for OR-merge); resize is a
    # rebuild-maintenance action
    filter_keys_per_shard: int = 65536
    # buckets of the canon_url-bucketed logs (frontier_log, crawl_log;
    # Iceberg bucket-transform analogue): pending()'s exact anti-join
    # and the admission anti-join then run with NO Exchange over either
    # log (tables.BucketedLog; asserted in tests/test_plans.py)
    frontier_buckets: int = 32
    # snapshot-expiry maintenance (tables.Catalog.expire_all): every
    # N rounds, drop manifests/data below the keep horizon while
    # protecting checkpoint-referenced versions.  0 disables (default:
    # tests exercise full time travel; a long-running crawl turns this
    # on or compaction leaks storage without bound).
    expire_every_rounds: int = 0
    expire_keep_snapshots: int = 4
    expire_keep_checkpoints: int = 2
    # SURT-prefix crawl scoping (sources/cdx.scope_filter, Heritrix
    # SurtPrefixScope semantics: longest matching prefix wins, length
    # ties deny).  Applied to DISCOVERED outlinks at frontier admission
    # — seeds are exempt, as in Heritrix.  None disables (default:
    # keeps ordering parity with the straight-line simulator, which is
    # scope-oblivious).  The rule fold is an in-row broadcast — the
    # link stream never shuffles for it.
    scope_rules: tuple[tuple[str, bool], ...] | None = None
    scope_default_allow: bool = True
    # Global round quota (SURVEY §2.11 C6 / operators.politeness.
    # allocate_budgets): when set, each round divides this cluster-wide
    # fetch budget across hosts by largest-remainder proportional share,
    # weighted by backlog (pending URLs per host) — optionally scaled by
    # the crawl's own TrustRank (budget_weights='trust_backlog', needs
    # record_host_edges) so trusted regions of the web get quota first.
    # Robots budgets stay binding: the allocation only CAPS them.
    # None disables (default: ordering parity with the simulator).
    global_round_budget: int | None = None
    # 'backlog' | 'trust_backlog' | 'opic_backlog' — the last two scale
    # the capacity-capped backlog weight by a link-graph score over the
    # crawl's own recorded host graph: seed-personalized TrustRank
    # (anti-spam bias) or OPIC history (Abiteboul WWW'03 — Nutch's
    # default crawl-ordering signal: hosts whose pages accumulate cash
    # fastest are where frontier budget earns the most importance).
    budget_weights: str = "backlog"
    # Accumulate a host-level link graph (src_host → dst_host edge
    # counts per round) in a `host_edges` table — the input to
    # trust_scores().  Off by default (one extra tiny agg + append).
    record_host_edges: bool = False
    # Coalesce round sink writes to this many tasks per table.  The
    # parsed cache's partition count is scan-driven (web splits +
    # fetch_partitions), so each sink otherwise writes partitions×dirs
    # files — for the hive-partitioned pages table that is thousands of
    # ~MB files per round, and open/close/footer overhead becomes a
    # visible slice of the round at every parallelism level.  Coalesce
    # (no shuffle — adjacent cached partitions merge) bounds files per
    # commit at dirs×sink_coalesce.  None keeps one write task per
    # cached partition.
    sink_coalesce: int | None = None


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        catalog: Catalog,
        pages_raw: DataFrame,
        seeds: DataFrame,
        robots: DataFrame,
        config: CrawlConfig | None = None,
    ):
        self.spark = spark
        self.catalog = catalog
        self.pages_raw = pages_raw
        self.seeds = seeds
        self.robots = robots
        self.cfg = config or CrawlConfig()
        self.frontier = catalog.bucketed_log(
            "frontier_log", "canon_url", self.cfg.frontier_buckets
        )
        self.pages = catalog.table("pages")
        # one row per attempt: the ordering contract, the visit record,
        # the exact side of the seen set and the error record, stored once
        self.crawl_log = catalog.bucketed_log(
            "crawl_log", "canon_url", self.cfg.frontier_buckets
        )
        self.visited = self.crawl_log  # the visit record; perfbench reads it
        self.host_edges = (
            catalog.table("host_edges")
            if self.cfg.record_host_edges
            else None
        )
        self.seen = SeenSet(
            self.crawl_log,
            self.cfg.n_shards,
            BLOOM_FPP,
            # incremental filter state: per-round delta bitmaps, OR-merged
            # at probe — the probe cost no longer scales with total seen
            filters_table=catalog.table("seen_filters"),
            keys_per_shard=self.cfg.filter_keys_per_shard,
        )

    @property
    def errors(self):
        """``crawl_log`` again: its rows with ``error`` set are the error
        record.  This alias and ``visited`` exist only because perfbench
        reads them; ROADMAP direction 3 deletes both."""
        return self.crawl_log

    def owned_tables(self) -> dict:
        """Every table the engine writes, by name — the checkpoint's
        version map covers all of them."""
        owned = [
            self.frontier, self.pages, self.crawl_log,
            self.seen.filters_table, self.host_edges,
        ]
        return {t.name: t for t in owned if t is not None}

    def _checkpoint(self, tag: int, metrics: dict | None = None) -> None:
        self.catalog.save_checkpoint(
            tag,
            {n: t.current_version() for n, t in self.owned_tables().items()},
            metrics,
        )

    # -- lifecycle ------------------------------------------------------------

    def bootstrap(self) -> None:
        """Seed the frontier (round 0 checkpoint). Idempotent."""
        if self.catalog.checkpoints():
            return
        f = with_url_key(
            self.seeds.select(
                F.col("seed_url").alias("url"),
                # url_host (lowercased, port-stripped) — the SAME
                # normalization every other host key uses (politeness
                # grouping, host_edges dst, trust seeds); a raw regexp
                # here would make 'WWW.Host:443' a distinct graph node
                url_host(F.col("seed_url")).alias("host"),
                "source",
                "priority",
            ),
            "url",
            self.cfg.n_shards,
        ).select(
            "url", "canon_url", "url_hash", "shard", "host", "source",
            "priority",
            F.lit(0).alias("depth"),
            F.lit(0).alias("discovered_round"),
        )
        # two spellings of one seed are one URL, admitted once
        self.frontier.append(_first_per_url(f, "priority", "url"))
        self._checkpoint(0)

    def resume(self) -> int:
        """Roll all tables back to the last complete round; return it."""
        tag = self.catalog.restore_last_checkpoint()
        if tag is None:
            self.bootstrap()
            return 0
        return tag

    # -- one crawl round --------------------------------------------------------

    def pending(self) -> DataFrame | None:
        """Discovered ∖ attempted: the frontier log, which admits each
        canonical URL once, through the seen filter; no regroup."""
        log = self.frontier.read()
        if log is None:
            return None
        return self.seen.filter_unseen(log)

    def _best_frontier(self) -> DataFrame | None:
        """The frontier log as read, one row per canonical URL.  This
        alias exists only because perfbench's traced probe calls it;
        ROADMAP direction 1 deletes it."""
        return self.frontier.read()

    def cooled_hosts(self, r: int) -> DataFrame | None:
        """Hosts in error cooldown at round ``r``: ≥ threshold errors
        within the trailing window.  None when cooldown is disabled or
        no attempts exist yet."""
        if not self.cfg.error_cooldown_rounds:
            return None
        log = self.crawl_log.read()
        if log is None:
            return None
        return (
            log.filter(
                F.col("error").isNotNull()
                & (F.col("round") >= r - self.cfg.error_cooldown_rounds)
            )
            .groupBy("host")
            .agg(F.count("*").alias("n_err"))
            .filter(F.col("n_err") >= self.cfg.cooldown_error_threshold)
            .select("host")
        )

    def _host_graph(self) -> DataFrame | None:
        """The recorded host graph as summed (src_host, dst_host, n)
        edges, or None before any edges exist."""
        edges = self.host_edges.read() if self.host_edges is not None else None
        if edges is None:
            return None
        return edges.groupBy("src_host", "dst_host").agg(F.sum("n").alias("n"))

    def trust_scores(self) -> DataFrame | None:
        """TrustRank over the crawl's OWN accumulated host graph
        (``host_edges``, recorded when cfg.record_host_edges), seeded by
        the seed-list hosts — trust flows out of the configured sources
        along observed links (operators/graph.trustrank; Gyöngyi et al.
        VLDB'04).  Returns (host, trust) or None before any edges exist.

        Scale: the host graph is orders of magnitude smaller than the
        URL frontier (10^7 hosts vs 10^10 URLs at the north-star tier);
        per-round edge folds are pre-aggregated counts."""
        e = self._host_graph()
        if e is None:
            return None
        from ..operators.graph import trustrank

        # url_host normalization matches host_edges' src/dst keys —
        # mixed-case or ported seed URLs must land on the same node
        seed_hosts = self.seeds.select(
            url_host(F.col("seed_url")).alias("host")
        ).distinct()
        return trustrank(
            e, seed_hosts, iters=TRUST_ITERS,
            src="src_host", dst="dst_host",
        ).select(F.col("node").alias("host"), F.col("rank").alias("trust"))

    def opic_host_scores(self) -> DataFrame | None:
        """OPIC over the crawl's accumulated host graph (``host_edges``)
        — the Nutch-default online importance estimate
        (operators/graph.opic): cash banks into history and flows along
        observed host links, so hosts that keep receiving importance
        from already-important hosts score highest after ANY number of
        steps.  Returns (host, opic) or None before any edges exist.
        Same scale posture as :meth:`trust_scores` — the host graph is
        politeness metadata, orders of magnitude below URL volume."""
        e = self._host_graph()
        if e is None:
            return None
        from ..operators.graph import opic

        return opic(
            e, iters=TRUST_ITERS, src="src_host", dst="dst_host"
        ).select(F.col("node").alias("host"), F.col("score").alias("opic"))

    def _host_budgets(self, pending: DataFrame) -> DataFrame:
        """Split cfg.global_round_budget across hosts proportional to
        ABSORBABLE backlog — min(pending URLs, robots round capacity)
        per host, disallowed hosts excluded — optionally scaled by
        TrustRank or OPIC (cfg.budget_weights='trust_backlog' |
        'opic_backlog').  Output feeds
        schedule_round(host_budgets=...), which takes
        min(robots_budget, allocation) — robots stays binding.

        Capping the WEIGHT at capacity (not just the final budget)
        keeps the global quota from being parked on hosts that cannot
        spend it: a mega-host holding 30% of pending but robots-capped
        at 2 fetches would otherwise absorb 30% of B and the round
        would systematically under-fill; with capacity-capped weights
        the Hamilton division hands that quota to hosts with real
        headroom.  Residual waste is O(hosts) rounding units, never
        O(B).  The capacity is the robots budget ``apply_robots``
        attaches, the one selection enforces."""
        backlog = (
            politeness.apply_robots(
                pending, self.robots, self.cfg.round_window_ms
            )
            .groupBy("host")
            .agg(
                F.least(F.count("*"), F.min("budget"))
                .cast("double")
                .alias("weight")
            )
        )
        scorer = {
            "trust_backlog": self.trust_scores,
            "opic_backlog": self.opic_host_scores,
        }.get(self.cfg.budget_weights)
        scores = scorer() if scorer is not None else None
        if scores is not None:
            # +epsilon keeps a host the graph scores 0 or not at all
            # schedulable (it gets leftover quota after scored backlog
            # is funded)
            backlog = backlog.join(
                F.broadcast(scores.toDF("host", "score")), "host", "left"
            ).select(
                "host",
                (
                    F.col("weight")
                    * (F.coalesce("score", F.lit(0.0)) + F.lit(1e-6))
                ).alias("weight"),
            )
        return politeness.allocate_budgets(
            backlog, self.cfg.global_round_budget
        )

    def revisit_selection(
        self,
        captures: DataFrame,
        budget: int,
        horizon_days: float = 7.0,
        key: str = "canon_url",
    ) -> DataFrame | None:
        """Recrawl admission: estimate per-URL change rates from capture
        history (operators/revisit.change_rates, Cho & Garcia-Molina
        Poisson estimator), keep the top-``budget`` stalest
        (revisit_priorities), and rebuild frontier-shaped rows for them
        from the frontier log — pass the result to
        ``round(r, extra_pending=...)``.  The seen filter is bypassed by
        construction (these URLs were crawled before; that is the
        point), so the caller owns revisit cadence."""
        from ..operators.revisit import change_rates, revisit_priorities

        rates = change_rates(captures, key=key, horizon_days=horizon_days)
        picks = revisit_priorities(rates, budget, key=key)
        front = self.frontier.read()
        if front is None:
            return None
        # picks ≤ budget rows: a broadcast semi-join, the log unshuffled
        return front.join(F.broadcast(picks.select(key)), key, "left_semi")

    def url_state(self) -> DataFrame | None:
        """The latest validated fetch record per URL: for each
        ``canon_url``, its latest ``crawl_log`` attempt that carries a
        digest (a fetch, or a 304 that kept the prior one), as
        ``(canon_url, host, source, digest, etag, last_modified,
        last_status, last_round)``.  ``etag`` is the digest, a strong
        validator, which is what the synthetic web serves;
        ``last_modified`` is the body's capture time.  A groupBy on the
        log's bucket column: no Exchange.  None before any attempt."""
        log = self.crawl_log.read()
        if log is None:
            return None
        return (
            log.filter(F.col("digest").isNotNull())
            .groupBy("canon_url")
            .agg(
                F.max(
                    F.struct(
                        F.col("round").alias("last_round"), "host",
                        "source", "digest",
                        F.col("warc_ts").alias("last_modified"),
                        F.col("status").alias("last_status"),
                    )
                ).alias("s")
            )
            .select(
                "canon_url", "s.host", "s.source", "s.digest",
                F.col("s.digest").alias("etag"), "s.last_modified",
                "s.last_status", "s.last_round",
            )
        )

    def revalidation_round(self, r: int, budget: int) -> dict:
        """Conditional recrawl round (RFC 9110 §13, the validator tier
        the reference never needed — it refetches everything): pick the
        ``budget`` stalest URLs of :meth:`url_state`, plan conditional
        requests from their stored validators
        (operators/fetch.revalidation_plan), apply origin behavior
        against the live web (revalidation_outcomes), then

        - **304 Not Modified** (live digest == stored validator): no
          fetch, no parse, no page write — the attempt is logged in
          ``crawl_log`` with status 304, ``fetched`` false (no body was
          sent) and the prior validators, and the saved bytes are
          ledgered;
        - **200 / changed or validator-less**: refetched through the
          NORMAL :meth:`round` as ``extra_pending`` (the recrawl
          admission path — seen-filter bypassed by construction), whose
          attempts record the new digests.  ``refetched`` counts these
          picks (admitted for refetch), not the round's other fetches.

        The 304 rows are appended before the round runs, so the round's
        checkpoint ``r + 1`` covers them; when the round selects
        nothing, this writes that checkpoint itself.  A crash before it
        rolls the 304 rows back with the rest of the round.  Their URLs
        were fetched before, so the seen filter already holds them.

        Scale shape: picks are budget-bounded (TakeOrdered over the
        state view, no global sort materialization); every join here —
        picks→frontier rows, plan→live digests — broadcasts the
        budget-bounded side, so the frontier and the web table are
        never shuffled.  At 10^10 rows the same joins run co-located
        under the shared canon_url bucketing.
        """
        from ..operators.fetch import (
            revalidation_outcomes,
            revalidation_plan,
        )

        metrics = {
            "round": r, "revalidated": 0, "not_modified": 0,
            "refetched": 0, "saved_bytes": 0,
        }
        state = self.url_state()
        front = self.frontier.read()
        if state is None or front is None:
            return metrics
        picks = state.orderBy(
            F.col("last_round").asc(), F.col("canon_url")
        ).limit(budget)
        cand = front.join(
            F.broadcast(picks.select("canon_url")), "canon_url", "left_semi"
        )
        plan = revalidation_plan(
            cand,
            picks.select("canon_url", "etag", "last_modified", "digest"),
            url_col="canon_url",
        )
        # live content fingerprints, bounded to the planned URLs BEFORE
        # the outcome join (the web table is the 10^10-row side)
        web = self.pages_raw.select(
            F.col("url").alias("canon_url"),
            F.md5(F.col("html")).alias("digest"),
            F.length(F.col("html")).cast("bigint").alias("size_bytes"),
        )
        live = web.join(
            F.broadcast(plan.select("canon_url")), "canon_url", "inner"
        )
        out = revalidation_outcomes(plan, live, url_col="canon_url").cache()
        try:
            agg = out.agg(
                F.count("*").alias("n"),
                F.sum((F.col("status") == 304).cast("long")).alias("nm"),
                F.sum("saved_bytes").alias("saved"),
            ).collect()[0]
            if agg["nm"]:
                # typed as the round's own attempts
                types = dict(self.crawl_log.read().dtypes)
                not_modified = out.filter(F.col("status") == 304).select(
                    F.lit(r).alias("round"), "host",
                    F.lit(None).alias("host_rank"), "canon_url",
                    "priority", F.lit(False).alias("fetched"), "source",
                    "status", F.lit(1).alias("attempts"),
                    F.lit(None).alias("error"), "url_hash", "shard",
                    F.col("prior_digest").alias("digest"),
                    F.col("if_modified_since").alias("warc_ts"),
                )
                self.crawl_log.append(
                    not_modified.select(
                        *[F.col(c).cast(types[c]) for c in LOG_COLS]
                    ),
                    metrics={"round": r},
                )
            changed = out.filter(F.col("status") != 304).select(*FRONTIER_COLS)
            sub = self.round(r, extra_pending=changed)
            metrics.update(
                revalidated=int(agg["n"] or 0),
                not_modified=int(agg["nm"] or 0),
                refetched=int(agg["n"] or 0) - int(agg["nm"] or 0),
                saved_bytes=int(agg["saved"] or 0),
                round_metrics=sub,
            )
            if not sub["selected"]:
                self._checkpoint(r + 1, metrics)
        finally:
            out.unpersist()
        return metrics

    def _maintain(self) -> None:
        """Compact many-commit tables (Iceberg rewrite_data_files
        analogue) so read fan-in stays bounded as rounds accumulate.
        The trigger threshold is per-table: a bucketed log legitimately
        holds one file per bucket per commit, so its fan-in budget is
        buckets × 12, not 12."""
        for t in (self.frontier, self.crawl_log):
            snap = t.snapshot()
            if snap and len(snap.file_sets) > 12 * t.n_buckets:
                t.compact()
        if self.seen.filters_table is not None:
            snap = self.seen.filters_table.snapshot()
            if snap and len(snap.file_sets) > 12:
                # fold delta bitmaps row-wise (plain compact would keep
                # one row per round; this ORs them to one per shard)
                self.seen.compact_filters()

    def _maybe_expire(self, r: int) -> None:
        """Periodic storage reclamation (CrawlConfig.expire_every_rounds):
        compaction leaves predecessors' files on disk; expire_all deletes
        everything below the keep horizon except checkpoint-referenced
        versions, so resume keeps working (tests/test_expiry.py)."""
        cfg = self.cfg
        if cfg.expire_every_rounds and r > 0 and (
            r % cfg.expire_every_rounds == 0
        ):
            self.catalog.expire_all(
                keep_last=cfg.expire_keep_snapshots,
                keep_checkpoints=cfg.expire_keep_checkpoints,
            )

    def round(self, r: int, extra_pending: DataFrame | None = None) -> dict:
        """Execute crawl round ``r``; returns the round's metrics
        (including per-phase wall times under ``timings``).

        ``extra_pending`` (frontier-shaped rows, typically
        :meth:`revisit_selection` output) is unioned into the round's
        candidate set AFTER the seen filter — the recrawl admission
        path.  Caller contract: rows are already deduped against the
        fresh pending set (revisits are seen by definition, so the two
        sets are disjoint by construction).

        The round runs with adaptive execution off, so its plans are
        static and its generated code is reused from round to round;
        the session's setting is restored when the round returns or
        raises.  The host-budget graph scoring runs at the session's
        setting, and the caller's cached inputs are built before AQE
        goes off (:func:`_build_cached`)."""
        import time as _time

        conf = self.spark.conf
        aqe = conf.get(AQE)
        _build_cached(
            self.spark, self.pages_raw, self.robots, self.seeds,
            extra_pending,
        )
        conf.set(AQE, "false")
        selected = parsed = None
        try:
            timings: dict[str, float] = {}

            def _mark(name: str, t0: float) -> float:
                t1 = _time.perf_counter()
                timings[name] = round(t1 - t0, 3)
                return t1

            t = _time.perf_counter()
            self._maintain()
            self._maybe_expire(r)
            t = _mark("maintain", t)
            # read before any round cache exists: a read refreshes the
            # table, which un-caches every plan over it
            known = self.frontier.read()
            pending = self.pending()
            metrics = {"round": r, "selected": 0, "fetched": 0, "errors": 0,
                       "new_urls": 0, "pages": 0, "timings": timings}
            if extra_pending is not None:
                pending = (
                    extra_pending if pending is None
                    else pending.unionByName(extra_pending)
                )
            if pending is None:
                return metrics
            cooled = self.cooled_hosts(r)
            if cooled is not None:
                # blocked-host back-off: broadcast anti-join (the cooled
                # set is tiny — hosts, not URLs)
                pending = pending.join(
                    F.broadcast(cooled), "host", "left_anti"
                )
            host_budgets = None
            if self.cfg.global_round_budget is not None:
                # the graph scorers (trustrank, opic) plan and run their
                # iterations here, at localCheckpoint: at the session's
                # setting, like the rest of operators/graph
                conf.set(AQE, aqe)
                try:
                    host_budgets = self._host_budgets(pending)
                finally:
                    conf.set(AQE, "false")
            selected = politeness.schedule_round(
                pending, self.robots, self.cfg.salt_buckets,
                self.cfg.fetch_partitions, self.cfg.round_window_ms,
                self.cfg.rank_impl, host_budgets=host_budgets,
            ).persist()
            # persist, because the fetch plan references the schedule THREE
            # times (broadcast build of `selected`, the misses probe side,
            # and the hit-set broadcast's join subtree) — exchange reuse
            # dedupes the shuffles but not the window-rank recompute above
            # them (~13 s/round at N4 bench scale, more at higher levels).
            # MEMORY_AND_DISK persist (not localCheckpoint): lineage stays
            # intact, so an executor loss on a real cluster recomputes the
            # partition instead of failing the job.
            raw = fetch(
                selected, self.pages_raw, self.cfg.policy, self.cfg.transport
            )
            is_search = F.col("canon_url").contains(self.cfg.search_marker)
            # ONE pass over the fetch output: a single combined parse UDF
            # (docs + search pages) so the body bytes cross the Python
            # boundary exactly once per round; cache WITHOUT the body —
            # the cached working set is metadata + text, not raw html.
            parse_page = make_parse_page(self.cfg.search_marker)
            # each attempt's outcome, stated once for the counts and every
            # sink: a fetched document whose record is missing or an error
            # is a parse error, every other fetched document a page
            doc_ok = ~F.coalesce(F.col("p.rec.is_error"), F.lit(True))
            parsed = raw.select(
                *[c for c in raw.columns if c != "body"],
                # the validators of a fetched body (url_state's view):
                # its digest, taken in the pass that parses it
                F.when(F.col("fetched"), F.md5(F.col("body"))).alias(
                    "digest"
                ),
                F.when(
                    F.col("fetched"), parse_page("canon_url", "body")
                ).alias("p"),
            ).select(
                "*", F.col("p.rec").alias("rec"), F.col("p.l").alias("l"),
                (F.col("fetched") & ~is_search & doc_ok).alias("is_page"),
                F.when(~F.col("fetched"), F.col("fetch_error"))
                .when(~is_search & ~doc_ok, F.lit(PARSE_ERROR))
                .alias("error"),
            ).drop("p").cache()
            # one aggregation pass for every round metric (vs one job each)
            counts = parsed.agg(
                F.count("*").alias("n_sel"),
                F.sum(F.col("fetched").cast("long")).alias("n_fetched"),
                F.sum(F.col("is_page").cast("long")).alias("n_pages"),
                F.count("error").alias("n_err"),
            ).collect()[0]
            n_sel = counts["n_sel"]
            t = _mark("schedule_fetch", t)
            if n_sel == 0:
                return metrics
            n_pages = int(counts["n_pages"] or 0)
            n_err = int(counts["n_err"])

            # --- extracted documents → pages ---
            pages_df = parsed.filter(F.col("is_page")).select(
                F.col("canon_url").alias("document_url"),
                "source",
                F.col("rec.title").alias("title"),
                F.col("rec.year").alias("year"),
                F.col("rec.type").alias("type"),
                F.col("rec.situation").alias("situation"),
                F.col("rec.summary").alias("summary"),
                F.col("rec.text").alias("text_markdown"),
                # J2 enrichment payload (ficha metadata arrays + overflow map)
                F.col("rec.themes").alias("themes"),
                F.col("rec.keywords").alias("keywords"),
                F.col("rec.extras").alias("extras"),
                F.lit(r).alias("fetched_round"),
            ).withColumns(
                {
                    # ASCII partition twins (saver.py:119-125 parity; non-ASCII
                    # partition dirs break on non-UTF-8 JVM file encodings)
                    "type_slug": ascii_slug(F.col("type")),
                    "situation_slug": ascii_slug(F.col("situation")),
                }
            )
            t = _mark("extract", t)

            links = parsed.filter(F.col("fetched") & is_search).select(
                "host", "host_rank", "source", "priority", "depth",
                F.posexplode(
                    F.concat(
                        F.col("l.doc_links"),
                        F.when(
                            F.col("l.next_link").isNotNull(),
                            F.array(F.col("l.next_link")),
                        ).otherwise(F.array().cast("array<string>")),
                    )
                ).alias("pos", "url"),
            )
            if self.cfg.scope_rules:
                from ..sources.cdx import scope_filter

                rules_df = self.spark.createDataFrame(
                    list(self.cfg.scope_rules),
                    "surt_prefix string, allow boolean",
                )
                links = (
                    scope_filter(
                        links,
                        rules_df,
                        url_col="url",
                        default_allow=self.cfg.scope_default_allow,
                    )
                    .filter(F.col("allowed"))
                    .drop("surt", "allowed")
                )
            # one row per URL: its first discovery in the round's visit
            # order (linking page's host, host_rank, link position), as
            # the simulator admits a link the first time it sees it.
            # Grouped on the frontier log's bucket partitioning, so the
            # admission anti-join and the append's own repartition add
            # no Exchange: one canon_url shuffle.
            new_front = _first_per_url(
                with_url_key(
                    links.select(
                        "url",
                        # the CHILD's own host, not the linking page's — a
                        # cross-host link scheduled under the parent's host
                        # would evade the target host's politeness budget
                        # (links.host stays the parent host for the src side
                        # of host_edges below)
                        url_host(F.col("url")).alias("host"),
                        "source", "priority",
                        (F.col("depth") + 1).alias("depth"),
                        F.lit(r + 1).alias("discovered_round"),
                        F.struct(F.col("host"), "host_rank", "pos").alias(
                            "found"
                        ),
                    ),
                    "url",
                    self.cfg.n_shards,
                ).repartition(self.cfg.frontier_buckets, "canon_url"),
                "found",
            )
            if known is not None:
                # admit new URLs only: a sort-merge anti-join on the log's
                # buckets (a broadcast would add a job a round)
                new_front = new_front.join(
                    known.hint("merge"), "canon_url", "left_anti"
                )

            # --- all round outputs write CONCURRENTLY -----------------------
            # Every sink below reads only the materialized `parsed` cache and
            # writes its OWN table (separate snapshot dirs), so the jobs
            # are independent; submitting them from driver threads overlaps
            # their fixed job-submission/stage latency (Spark runs concurrent
            # jobs from one session; FIFO still fills free task slots).  On a
            # cluster this is the same pattern as concurrent writes to
            # independent Iceberg tables.
            from concurrent.futures import ThreadPoolExecutor

            def _co(df):
                # bound files-per-commit (see CrawlConfig.sink_coalesce)
                return (
                    df.coalesce(self.cfg.sink_coalesce)
                    if self.cfg.sink_coalesce
                    else df
                )

            def w_pages():
                if n_pages:
                    self.pages.append(
                        _co(pages_df),
                        partition_cols=list(PAGES_PARTITION_COLS),
                        metrics={"round": r},
                    )

            def w_links() -> int:
                # the new-URL count is this commit's manifest lineage,
                # read from parquet footers: no count() job
                v = self.frontier.append(new_front)
                return int(sum(self.frontier.snapshot(v).lineage.values()))

            def w_log():
                # the round's attempts, once: ordering contract, visit
                # record, exact seen set, error record and validators
                # (keys carried from frontier_log; the bucketed append
                # aligns rows to canon_url buckets)
                self.crawl_log.append(
                    parsed.withColumn("round", F.lit(r)).select(*LOG_COLS)
                )

            def w_filters():
                # Bloom delta bitmaps over the same cached rows (no re-key,
                # no dedup: a round attempts each canon_url once)
                self.seen.add_filters(parsed.select("shard", "url_hash"))

            def w_edges():
                # host-level link graph: src = linking page's host, dst =
                # target URL's host, pre-aggregated to edge counts (the
                # trust_scores() input).  Post-scope links — the graph the
                # crawl actually follows.
                self.host_edges.append(
                    links.select(
                        F.col("host").alias("src_host"),
                        url_host(F.col("url")).alias("dst_host"),
                    )
                    .groupBy("src_host", "dst_host")
                    .agg(F.count("*").alias("n"))
                    .withColumn("round", F.lit(r))
                    # one file a commit, not one per shuffle partition:
                    # host pairs are few, and the round has no AQE to
                    # coalesce them
                    .coalesce(1)
                )

            sinks = [w_pages, w_log, w_filters]
            if self.host_edges is not None:
                sinks.append(w_edges)
            with ThreadPoolExecutor(max_workers=6) as pool:
                futs = [pool.submit(fn) for fn in sinks]
                n_new = pool.submit(w_links).result()
                for f in futs:
                    f.result()  # surface the first failure
            t = _mark("appends", t)

            metrics.update(
                selected=int(n_sel),
                fetched=int(counts["n_fetched"] or 0),
                errors=n_err,
                new_urls=n_new,
                pages=n_pages,
            )
            self._checkpoint(r + 1, metrics)
            return metrics
        finally:
            # also on failure: a crashed round must not pin its caches
            if parsed is not None:
                parsed.unpersist()
            if selected is not None:
                selected.unpersist()
            conf.set(AQE, aqe)

    def run(self, max_rounds: int = 100) -> list[dict]:
        """Crawl until the frontier drains (or max_rounds)."""
        self.bootstrap()
        start = self.resume()
        out = []
        for r in range(start, start + max_rounds):
            m = self.round(r)
            out.append(m)
            if m["selected"] == 0:
                break
        return out

    # -- state views -----------------------------------------------------------

    def frontier_state(self) -> DataFrame | None:
        """FIXTURES.md §3 view: every discovered URL with the state of
        its latest attempt (a 304 counts as fetched: the content is
        current, no body was needed)."""
        front = self.frontier.read()
        if front is None:
            return None
        cols = ("url", "canon_url", "host", "source", "priority", "depth")
        v = self.crawl_log.read()
        if v is None:
            return front.select(*cols, F.lit("pending").alias("state"))
        state = F.when(
            F.col("fetched") | (F.col("status") == 304), F.lit("fetched")
        ).otherwise(F.lit("error"))
        last = v.groupBy("canon_url").agg(
            F.max_by(state, F.col("round")).alias("state")
        )
        return front.join(last, "canon_url", "left").select(
            *cols, F.coalesce("state", F.lit("pending")).alias("state")
        )
