"""Per-host politeness scheduler: robots gate + window-ranked budgets.

The reference throttles with per-site thread pools and sleeps
(/root/reference/main.py:65,108; base/scraper.py:245-249;
parana.py:457-459) and refuses robots-disallowed hosts (main.py:3).
Spark-first equivalents:

- robots is a tiny dimension → **broadcast join**; disallowed hosts are
  filtered before any fetch work is scheduled.
- the per-host budget is a **window rank**: ``row_number() over
  (partition by host order by priority, discovered_round, canon_url)
  <= max_parallel`` — at most k URLs per host per crawl round, with a
  total order that is reproducible under any parallelism (the crawl-
  ordering parity contract, SURVEY.md §7(b)).
- host skew (one mega-host) would make both the rank's shuffle and the
  fetch stage lopsided → **salted repartition** for the fetch stage
  (functions/urls.salted_host); the budget was already enforced by the
  rank, so salting is purely load-balancing.  Every host-keyed join
  here broadcasts its per-host side (robots, budgets), so no join
  shuffles on host and the crawl round needs no runtime skew-join
  splitting: it runs without AQE (session.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.urls import salted_host

ORDER_COLS = ("priority", "discovered_round", "canon_url")


def apply_robots(
    candidates: DataFrame,
    robots: DataFrame,
    round_window_ms: int | None = None,
) -> DataFrame:
    """Broadcast-join robots rules; drop disallowed hosts; attach budget.

    The per-host round budget is ``max_parallel`` capped — when a round
    time window is configured — by the robots crawl-delay:
    ``min(max_parallel, max(1, round_window_ms / crawl_delay_ms))``,
    i.e. a host asking for 2 s between requests gets at most 30 URLs in
    a 60 s round no matter how many parallel slots exist (the reference
    analogue is its 5 s inter-request sleeps, parana.py:457-459).
    """
    r = robots.select("host", "allow", "crawl_delay_ms", "max_parallel")
    out = (
        candidates.join(F.broadcast(r), "host", "left")
        .filter(F.coalesce(F.col("allow"), F.lit(True)))
    )
    budget = F.coalesce(F.col("max_parallel"), F.lit(4))
    if round_window_ms is not None:
        delay_cap = F.greatest(
            F.lit(1),
            F.floor(
                F.lit(round_window_ms)
                / F.coalesce(F.col("crawl_delay_ms"), F.lit(1))
            ).cast("int"),
        )
        budget = F.least(budget, delay_cap)
    return out.withColumn("budget", budget).drop("allow", "max_parallel")


def rank_per_host(candidates: DataFrame) -> DataFrame:
    """Deterministic per-host ranking by (priority, discovery, url)."""
    w = Window.partitionBy("host").orderBy(
        *[F.asc(c) for c in ORDER_COLS]
    )
    return candidates.withColumn("host_rank", F.row_number().over(w))


def rank_per_host_range(
    candidates: DataFrame, partitions: int | None = None
) -> DataFrame:
    """Skew-safe exact per-host rank (same output as
    :func:`rank_per_host`, proven by tests/test_politeness.py).

    A window rank sorts each host inside ONE task, so a mega-host (the
    north star's host-skew case: one host holding 30% of the frontier)
    becomes a single-task straggler no matter how many executors run.
    This variant range-partitions by (host, *ORDER_COLS) — the range
    sampler splits the mega-host across MANY partitions mid-host — and
    reconstructs the exact rank positionally:

    1. ``repartitionByRange`` + ``sortWithinPartitions`` gives a global
       sort with balanced partitions;
    2. ``monotonically_increasing_id`` on the sorted stream encodes
       (partition id << 33) | local index — the documented bit layout;
    3. one tiny driver action collects per-partition row counts →
       prefix-sum offsets (≤ ``partitions`` rows);
    4. global position = offset[pid] + local index; per-host rank =
       position − min(position) over the host + 1, where the per-host
       minimum is a broadcast dim (hosts ≪ rows).

    The sorted stream is materialized ONCE (``localCheckpoint``)
    before the counts collect: positions are reconstructed from
    per-partition offsets measured on one execution, so the final pass
    MUST see the identical range boundaries and row order.  Without
    the checkpoint the plan would execute twice, and any
    non-determinism in the input (sampling, round-robin repartition,
    AQE re-planning between jobs) would silently shift offsets —
    gaps/duplicate ranks → per-host budget violations (r3 ADVICE).
    Storage cost is one pass of politeness-bounded metadata rows
    (MEMORY_AND_DISK blocks, freed when the frame is GC'd).
    """
    spark = candidates.sparkSession
    n = partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    cols = ["host", *ORDER_COLS]
    s = (
        candidates.repartitionByRange(n, *[F.col(c) for c in cols])
        .sortWithinPartitions(*cols)
        .withColumn("_mid", F.monotonically_increasing_id())
        .localCheckpoint(eager=True)
    )
    pid = F.shiftright(F.col("_mid"), 33).cast("int")
    lidx = F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1))
    counts = s.groupBy(pid.alias("_pid")).count().collect()
    acc, offs = 0, {}
    for r in sorted(counts, key=lambda r: r["_pid"]):
        offs[int(r["_pid"])] = acc
        acc += r["count"]
    off_map = F.create_map(
        *[F.lit(v) for k in sorted(offs) for v in (k, offs[k])]
    )
    g = s.withColumn("_pos", off_map.getItem(pid) + lidx)
    base = g.groupBy("host").agg(F.min("_pos").alias("_base"))
    return (
        g.join(F.broadcast(base), "host")
        .withColumn(
            "host_rank", (F.col("_pos") - F.col("_base") + 1).cast("int")
        )
        .drop("_mid", "_pos", "_base")
    )


def select_budget(ranked: DataFrame) -> DataFrame:
    """Keep at most `budget` URLs per host this round."""
    return ranked.filter(F.col("host_rank") <= F.col("budget"))


def schedule_round(
    candidates: DataFrame,
    robots: DataFrame,
    salt_buckets: int = 8,
    fetch_partitions: int | None = None,
    round_window_ms: int | None = None,
    rank_impl: str = "window",
    host_budgets: DataFrame | None = None,
) -> DataFrame:
    """Full politeness pass: robots gate → rank → budget → salted
    repartition for the fetch stage.

    ``rank_impl='window'`` (default): per-host window rank — cheapest
    with bounded budgets (WindowGroupLimit map-side prune).
    ``rank_impl='range'``: :func:`rank_per_host_range` — skew-safe for
    mega-hosts when budgets are large/unbounded.

    ``host_budgets`` (optional, (host, budget) rows — typically
    :func:`allocate_budgets` output) caps each host's robots budget
    from above: ``min(robots_budget, allocated)``.  Politeness is never
    RELAXED by an allocation — robots limits stay binding — and the
    frame is politeness metadata (one row per host), broadcast like the
    robots dim.  Hosts absent from the allocation keep their robots
    budget."""
    gated = apply_robots(candidates, robots, round_window_ms)
    if host_budgets is not None:
        # long, not int: a cluster-wide quota can exceed 2^31 and a
        # wrapped negative cap would silently zero out the biggest host
        alloc = host_budgets.select(
            "host", F.col("budget").cast("long").alias("_alloc")
        )
        gated = gated.join(F.broadcast(alloc), "host", "left").withColumn(
            "budget",
            F.least(F.col("budget"), F.coalesce("_alloc", F.col("budget"))),
        ).drop("_alloc")
    ranked = (
        rank_per_host_range(gated)
        if rank_impl == "range"
        else rank_per_host(gated)
    )
    sel = select_budget(ranked)
    key = salted_host(F.col("host"), F.col("canon_url"), salt_buckets)
    if fetch_partitions:
        return sel.repartition(fetch_partitions, key)
    return sel.repartition(key)


def allocate_budgets(
    hosts: DataFrame,
    total_budget: int,
    weight_col: str = "weight",
    host_col: str = "host",
) -> DataFrame:
    """Proportional-fair division of a global round budget across hosts
    by the largest-remainder (Hamilton) method: ``base_h =
    floor(B·w_h/W)``, then the ``B − Σbase`` leftover units go to the
    hosts with the largest fractional parts (ties by host asc) — so
    budgets sum to EXACTLY ``B`` and every allocation is deterministic.

    This is the global-cap companion to the per-host politeness rank:
    ``select_budget`` enforces each host's own limit; this operator
    decides how a cluster-wide fetch quota (connection pool, bandwidth
    contract) splits across hosts weighted by priority/backlog.

    Plan shape / scale: the host table is politeness metadata (≪ URL
    volume).  W and Σbase are 1-row aggregates collected as scalars
    (the justified-driver-action class of pagerank's N); the top-R
    remainder pick is ``orderBy(...).limit(R)`` —
    TakeOrderedAndProject, per-partition partial top-R before the
    single-partition step, never a global sort of all hosts (the IVF
    centroid discipline) — broadcast back as a +1 flag.  Zero/empty
    weight mass returns all-zero budgets (no proportional claim
    exists).

    Cross-engine floor parity: with integer-valued weights both W and
    ``B·w/W`` are computed identically in IEEE double by any engine;
    arbitrary float weights remain internally consistent but may floor
    differently across engines at exact boundaries.
    """
    w = F.col(weight_col).cast("double")
    row = hosts.agg(F.sum(w).alias("W"), F.count("*").alias("n")).first()
    total_w, n = float(row["W"] or 0.0), int(row["n"])
    zero = hosts.select(
        F.col(host_col).alias("host"),
        w.alias("weight"),
        F.lit(0).cast("bigint").alias("budget"),
    )
    if n == 0 or total_w <= 0:
        return zero
    exact = F.lit(float(total_budget)) * w / F.lit(total_w)
    base = hosts.select(
        F.col(host_col).alias("host"),
        w.alias("weight"),
        F.floor(exact).cast("bigint").alias("base"),
        (exact - F.floor(exact)).alias("frac"),
    ).localCheckpoint(eager=False)
    leftover = int(total_budget) - int(base.agg(F.sum("base")).first()[0])
    out = base
    if leftover > 0:
        top = (
            base.orderBy(F.col("frac").desc(), F.col("host").asc())
            .limit(leftover)
            .select("host", F.lit(1).cast("bigint").alias("plus"))
        )
        out = base.join(F.broadcast(top), "host", "left")
        out = out.withColumn(
            "plus", F.coalesce("plus", F.lit(0).cast("bigint"))
        )
    else:
        out = base.withColumn("plus", F.lit(0).cast("bigint"))
    return out.select(
        "host",
        "weight",
        (F.col("base") + F.col("plus")).cast("bigint").alias("budget"),
    )


def skew_report(
    df: DataFrame,
    key_col: str,
    skew_factor: float = 4.0,
    top_k: int = 100,
) -> DataFrame:
    """Partition-skew diagnosis for a shuffle key — the measurement
    that decides WHERE salting is worth its shuffle-key entropy
    (functions/urls.salted_host) and what ``salt_buckets`` to use.
    Per key: row count, share of the table, the ratio to a perfectly
    uniform key (count / mean-count), and ``needs_salt`` when that
    ratio exceeds ``skew_factor`` (AQE's skewedPartitionFactor
    default-5 is the same idea at partition granularity; this reports
    it at KEY granularity, which survives repartitioning).  Returns
    the ``top_k`` heaviest keys.

    Plan: one partial-aggregated groupBy (the only pass over data),
    the global totals via a 1-row broadcast crossJoin (no collect),
    TakeOrderedAndProject for the top-k — the result is diagnostics
    metadata, O(top_k) rows.
    """
    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count("*").alias("n_rows")
    )
    totals = counts.agg(
        F.sum("n_rows").alias("_total"),
        F.count("*").alias("_n_keys"),
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "key",
            "n_rows",
            F.round(F.col("n_rows") / F.col("_total"), 6).alias("share"),
            F.round(
                F.col("n_rows") / (F.col("_total") / F.col("_n_keys")), 6
            ).alias("skew_ratio"),
            (
                F.col("n_rows") / (F.col("_total") / F.col("_n_keys"))
                > skew_factor
            ).alias("needs_salt"),
        )
        .orderBy(F.desc("n_rows"), "key")
        .limit(top_k)
    )


def aimd_concurrency(
    metrics: DataFrame,
    host_col: str = "host",
    round_col: str = "round",
    err_col: str = "error_rate",
    cap: int = 8,
    threshold: float = 0.2,
) -> DataFrame:
    """Per-host adaptive fetch concurrency by AIMD — the TCP
    congestion-control rule (additive increase, multiplicative
    decrease) applied to crawl politeness, the auto-tuning behind
    Heritrix's connection throttle and Frontera's per-host delay
    adaptation: each round a host's error rate stays ≤ ``threshold``
    earns +1 connection (capped), a bad round halves it (floored at
    1).  Replaces the reference's hand-set per-site ``max_workers``
    (/root/reference/main.py:65,108) with a data-driven policy.

    Input: one row per (host, round, error_rate).  Returns per host
    the final ``concurrency`` after folding rounds in order.

    Plan: the fold is inherently sequential per host, so it runs
    IN-ROW — rounds collect to an ordered array (one groupBy; history
    length = rounds per recrawl cycle, O(10²) at most) and the AIMD
    recurrence is a codegen ``aggregate`` fold, never Python, never a
    window-per-round chain of self-joins.  One exchange total.
    """
    per_host = metrics.groupBy(F.col(host_col).alias("host")).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col(round_col).alias("r"),
                    F.col(err_col).alias("e"),
                )
            )
        ).alias("hist")
    )
    fold = F.aggregate(
        F.transform(F.col("hist"), lambda s: s["e"]),
        F.lit(1.0),
        lambda acc, x: F.when(
            x > threshold,
            F.greatest(F.lit(1.0), F.floor(acc / 2).cast("double")),
        ).otherwise(F.least(F.lit(float(cap)), acc + 1)),
    )
    return per_host.select(
        "host", fold.cast("int").alias("concurrency")
    )


def fetch_schedule(
    frontier: DataFrame,
    delay_ms: Column,
    host_col: str = "host",
    order_cols: tuple[str, ...] = ("priority", "doc_id"),
    slot_ms: int = 1000,
) -> DataFrame:
    """Dispatch-load curve of a politeness-constrained fetch plan.

    Earliest-deadline scheduling under per-host crawl-delay: URL #r of
    a host (0-based, in ``order_cols`` order) cannot start before
    ``r * delay_ms``.  Bucketing those start times into ``slot_ms``
    slots gives the cluster's dispatch-rate curve — the number a
    capacity planner reads to size fetcher pools, and the shape that
    exposes a skewed host (a long flat tail = one slow-delay host
    serializing the round).

    One window shuffle keyed on host (rank), one agg keyed on slot.
    Returns (slot, n_fetches, n_hosts) per active slot.
    """
    w = Window.partitionBy(host_col).orderBy(*order_cols)
    sched = frontier.select(
        F.col(host_col).alias("host"),
        ((F.row_number().over(w) - 1) * delay_ms).alias("start_ms"),
    )
    return (
        sched.groupBy(
            F.floor(F.col("start_ms") / slot_ms).alias("slot")
        )
        .agg(
            F.count("*").alias("n_fetches"),
            F.countDistinct("host").alias("n_hosts"),
        )
    )


def build_hash_ring(
    n_workers: int, n_vnodes: int = 16
) -> list[tuple[str, int]]:
    """Consistent-hash ring: (md5 point, worker) sorted by point.

    Computed driver-side with hashlib (the ring is tiny —
    workers × vnodes entries) and embedded as a literal in the plan;
    md5 makes the SAME ring reproducible in any engine.
    """
    import hashlib

    ring = [
        (hashlib.md5(f"w{w}:v{v}".encode()).hexdigest(), w)
        for w in range(n_workers)
        for v in range(n_vnodes)
    ]
    ring.sort()
    return ring


def consistent_assign(
    hosts: DataFrame,
    n_workers: int,
    n_vnodes: int = 16,
    host_col: str = "host",
) -> DataFrame:
    """Assign each host to a fetch worker by consistent hashing.

    The ring (workers × vnodes md5 points) is a plan literal; a host
    lands on the first ring point ≥ md5(host), wrapping to the ring
    minimum.  In-row binary-search-free fold — zero shuffle, zero
    join — and, the reason to use a ring at all: adding/removing one
    worker remaps only ~1/n of hosts (modulo hashing remaps nearly
    all), so per-worker politeness state (cookies, token buckets,
    AIMD windows) survives fleet resizes.

    Returns the input plus an ``assigned_worker`` column.
    """
    ring = build_hash_ring(n_workers, n_vnodes)
    points = F.array(*[F.lit(p) for p, _ in ring])
    workers = F.array(*[F.lit(w) for _, w in ring])
    h = F.md5(F.col(host_col))
    # index of first point >= h == count of points < h (ring sorted);
    # == len(ring) means wrap to index 0.
    idx = F.aggregate(
        points,
        F.lit(0),
        lambda acc, p: acc + F.when(p < h, F.lit(1)).otherwise(F.lit(0)),
    )
    wrapped = F.when(idx >= F.lit(len(ring)), F.lit(0)).otherwise(idx)
    return hosts.withColumn(
        "assigned_worker", F.get(workers, wrapped)
    )


def resolve_ip(host_col: str = "host", n_ips: int = 64) -> "F.Column":
    """Deterministic sandbox DNS: md5-fold a hostname onto a pool of
    ``n_ips`` virtual addresses (``10.0.x.y``).

    A real crawler resolves per-host and caches (the reference keeps a
    requests session per thread and lets the OS resolver cache); here
    the pool is SMALL ON PURPOSE so that several hosts share an
    address — the virtual-hosting shape (one CDN/shared-host IP behind
    hundreds of hostnames) that makes host-level politeness
    insufficient at crawl scale.  md5 → engine-neutral, so a DuckDB
    oracle reproduces the same mapping bit-for-bit.
    """
    h = F.conv(F.substring(F.md5(F.col(host_col)), 1, 8), 16, 10).cast(
        "long"
    ) % n_ips
    # floor, not int-cast: double→int casts truncate in Spark but round
    # in other engines; floor is unambiguous, so the DuckDB oracle
    # reproduces the octets exactly
    return F.concat(
        F.lit("10.0."), F.floor(h / 256).cast("string"),
        F.lit("."), (h % 256).cast("string"),
    )


def schedule_by_ip(
    frontier: DataFrame,
    per_ip_budget: int,
    n_ips: int = 64,
    host_col: str = "host",
    order_cols: tuple[str, ...] = ("priority", "doc_id"),
) -> DataFrame:
    """IP-level politeness (Heritrix queue-assignment-policy analogue):
    budget fetch slots per resolved ADDRESS, not per hostname.

    Host-level budgets under-throttle virtual hosting — 500 hostnames
    on one shared IP each get their own budget and the origin sees
    500× the intended rate.  Ranking within the resolved IP caps the
    aggregate.  Plan shape matches the host-rank path: one window
    shuffle keyed on ip, and the rank ≤ budget predicate is a
    WindowGroupLimit, so each map partition pre-prunes to its top
    ``per_ip_budget`` rows per ip before the exchange — the same
    map-side prune that makes per-host ranking skew-safe.

    Returns the selected rows with ``ip`` and ``ip_rank`` columns.
    """
    w = Window.partitionBy("ip").orderBy(*order_cols)
    return (
        frontier.withColumn("ip", resolve_ip(host_col, n_ips))
        .withColumn("ip_rank", F.row_number().over(w))
        .filter(F.col("ip_rank") <= per_ip_budget)
    )


def schedule_by_domain(
    frontier: DataFrame,
    per_domain_budget: int,
    host_col: str = "host",
    order_cols: tuple[str, ...] = ("priority", "doc_id"),
) -> DataFrame:
    """Registrable-domain (eTLD+1) politeness — the subdomain-farm
    counterpart of :func:`schedule_by_ip`: budget fetch slots per
    PSL registrable domain, not per hostname.

    Hostname budgets under-throttle subdomain farms (10^5
    ``*.blogspot.com`` hosts → 10^5 budgets against one registrant's
    infrastructure); Heritrix solves this with its surt-prefix queue
    assignment, this operator with the same map-side-pruned rank the
    host/ip paths use: the registrable-domain fold is in-row codegen
    (functions/urls.registrable_domain), the rank ≤ budget predicate
    executes as WindowGroupLimit, one domain-keyed window shuffle.

    Returns the selected rows with ``domain`` and ``domain_rank``.
    """
    from ..functions.urls import registrable_domain

    w = Window.partitionBy("domain").orderBy(*order_cols)
    return (
        frontier.withColumn("domain", registrable_domain(F.col(host_col)))
        .withColumn("domain_rank", F.row_number().over(w))
        .filter(F.col("domain_rank") <= per_domain_budget)
    )


def adaptive_fetch_delay(
    fetch_log: DataFrame,
    window: int = 16,
    k: float = 2.0,
    min_delay_ms: int = 500,
    max_delay_ms: int = 30_000,
    host_col: str = "host",
    ts_col: str = "fetched_at",
    latency_col: str = "latency_ms",
    ndigits: int = 2,
    id_col: str | None = None,
) -> DataFrame:
    """Latency-proportional per-host crawl delay — the classic polite
    heuristic (Heritrix's ``delayFactor``, Nutch's
    ``fetcher.server.delay`` guidance, and what Crawl-Delay-less
    robots.txt leaves to the crawler): the next inter-request delay for
    a host is ``clamp(k × recent mean latency, min, max)``.  A server
    answering in 80 ms absorbs a 160 ms cadence; one struggling at 5 s
    must not be hit again in 500 ms — latency IS the server's load
    signal, and a fixed global delay either wastes budget on fast
    hosts or hammers slow ones.

    "Recent" = the last ``window`` fetches per host (row_number desc
    over the fetch timestamp) — bounded state per host, deterministic,
    and the rank ≤ window predicate executes map-side as
    WindowGroupLimit (the politeness-rank discipline: the shuffle
    carries at most hosts × window rows of the log, however long the
    crawl history grows).  Failures (NULL latency — timeouts) count at
    ``max_delay_ms`` so a flapping host backs off.

    Returns one row per host: ``(host, n_recent, mean_latency_ms,
    delay_ms)``.

    Tie-break: the recency order is ``(_ts desc, _lat desc)`` — rows
    tying on BOTH are identical in every column the aggregate reads,
    so whichever the rank cuts, the selected multiset (and therefore
    the output) is value-deterministic.  Callers whose log carries a
    unique fetch id can still pass ``id_col`` to pin row identity too
    (the repo's usual unique-id tie-break convention).
    """
    order_cols = [F.col("_ts").desc(), F.col("_lat").desc()]
    sel = [
        F.col(host_col).alias("host"),
        F.col(ts_col).alias("_ts"),
        F.coalesce(
            F.col(latency_col).cast("double"),
            F.lit(float(max_delay_ms)),
        ).alias("_lat"),
    ]
    if id_col is not None:
        sel.append(F.col(id_col).alias("_id"))
        order_cols.append(F.col("_id").desc())
    w = Window.partitionBy("host").orderBy(*order_cols)
    recent = (
        fetch_log.select(*sel)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= window)
    )
    mean_lat = F.sum("_lat") / F.count("*")
    return recent.groupBy("host").agg(
        F.count("*").cast("bigint").alias("n_recent"),
        F.round(mean_lat, ndigits).alias("mean_latency_ms"),
        F.round(
            F.least(
                F.greatest(
                    F.lit(float(k)) * mean_lat,
                    F.lit(float(min_delay_ms)),
                ),
                F.lit(float(max_delay_ms)),
            ),
            ndigits,
        ).alias("delay_ms"),
    )


def age_priorities(
    frontier: DataFrame,
    current_round: int,
    rate: float = 0.1,
    priority_col: str = "priority",
    round_col: str = "discovered_round",
) -> DataFrame:
    """Starvation-free frontier aging: effective priority = base −
    rounds-waited × ``rate`` (lower sorts first in the politeness
    rank, so waiting monotonically IMPROVES a URL's position).

    Proportional budget splits (`allocate_budgets`, OPIC/trust
    weighting) are asymptotically unfair to cold hosts: a host whose
    weight stays small can wait unboundedly while hot hosts re-fill
    every round.  Aging is the classic scheduler fix (same argument
    as OS run-queue aging): any URL's effective priority eventually
    undercuts every fresh arrival's, bounding its wait by
    ``(p_max − p_min)/rate + 1/weight_share`` rounds.

    Pure projection — fuses into the frontier scan, zero shuffle; the
    politeness rank orders by the REPLACED priority column so callers
    swap it in without touching the rank contract.
    """
    waited = F.greatest(
        F.lit(current_round) - F.col(round_col), F.lit(0)
    ).cast("double")
    return frontier.withColumn(
        priority_col,
        F.col(priority_col).cast("double") - waited * F.lit(rate),
    )
