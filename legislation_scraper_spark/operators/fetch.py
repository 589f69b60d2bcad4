"""Fetch operator: retry/backoff policy over an Arrow-batched executor.

The reference fetches with requests + 5 retries + 5 s backoff sleeps and
error-text sniffing (/root/reference/src/scraper/base/scraper.py:203-257,
retry decorator 37-56).  In this engine the fetch stage is a
``mapInPandas`` over salt-repartitioned batches: each executor task
"fetches" its batch, applying the retry policy per URL.

In the sandbox there is no network: the "web" is the ``pages_raw``
table, so resolution is a distributed **left join on canonical URL**
(the join IS the network), and the transport layer — status codes,
transient 503s, permanent failures, retry accounting — is simulated
deterministically from the URL hash so that retry/backoff/error-routing
code paths are really exercised:

- ``md5_64(url) % 20 == 0``  → one transient 503, succeeds on retry 2
- ``md5_64(url) % 97 == 3``  → permanent 503 (retries exhausted)
- URL absent from pages_raw  → 404 (permanent)

(md5-derived so the straight-line Python simulator used by the
crawl-ordering parity test can reproduce outcomes bit-for-bit.)

On a real cluster the simulate step is replaced by an HTTP client in
the same mapInPandas (per-task connection/session reuse mirrors
use_requests_session, base/scraper.py:129-132); everything upstream
(politeness, salting) and downstream (error routing, metrics) is
unchanged.
"""

from __future__ import annotations

import functools
import hashlib
import time
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class FetchPolicy:
    max_retries: int = 5
    base_delay_s: float = 0.0  # exp backoff base; 0 disables sleeping
    transient_mod: int = 20
    permanent_mod: int = 97


def md5_64(url: str) -> int:
    """64-bit transport-simulation key (Python-reproducible)."""
    return int.from_bytes(hashlib.md5(url.encode()).digest()[:8], "big")


def resolve_against_web(selected: DataFrame, pages_raw: DataFrame) -> DataFrame:
    """Left join the scheduled URLs to the sandbox web on canonical URL.

    Join strategy matters at scale: ``selected`` is politeness-bounded
    (≤ Σ per-host budgets per round) while the web table is huge, so
    the ONLY broadcastable relations are ``selected`` and anything
    bounded by it — never a projection of the web table:

    - hit path: ``web ⋈ broadcast(selected)`` — body bytes stream
      map-side from the scan into the parse stage without crossing a
      shuffle.
    - miss path: ``selected ⟂ broadcast(hits.canon_url)`` — the
      anti-join build side is the HIT set, which is ⊆ selected and
      therefore politeness-bounded by construction.  (Building it from
      ``web.canon_url`` instead would broadcast 10^10 URLs: driver
      OOM.)  The hit subtree is evaluated twice — a second scan of the
      politeness-bounded join, not of the page bodies, since only
      canon_url survives column pruning on this branch.  A shuffle-hash
      anti join here (no driver build at all) was A/B-measured in
      round 4 and LOST badly at bench scale — +70 s/round at 4 slots
      (shuffling the full-width probe side + a runtime-materialized
      extra pass over the hit subtree outweigh the ~10 s broadcast
      build), so the broadcast form stays while a round's URL set fits
      the driver; at larger rounds switch to url_hash-bucketed storage
      (below) rather than to a shuffle.

    At 10^10-frontier scale with multi-GB rounds, the equivalent is
    bucketing both tables by url_hash (Iceberg bucket partitioning)
    for a shuffle-free co-located join; the broadcast form is right
    whenever one round's selection fits the broadcast threshold.
    """
    web_cols, miss_cols = _resolve_columns()
    sel = F.broadcast(selected)
    hits = pages_raw.select(*web_cols).join(sel, "canon_url", "inner")
    misses = selected.join(
        F.broadcast(hits.select("canon_url")), "canon_url", "left_anti"
    ).withColumns(miss_cols)
    # both sides carry the same columns; unionByName aligns them
    return hits.unionByName(misses)


@functools.cache
def _resolve_columns() -> tuple[tuple, dict]:
    """The web-side projection and the miss path's NULL body columns of
    :func:`resolve_against_web`.  Memoized: a Column is an unresolved
    expression tree bound to no DataFrame, so the crawl round reuses
    these instead of rebuilding them a py4j call per node."""
    return (
        (
            F.col("url").alias("canon_url"),
            F.col("html").alias("body"),
            F.col("warc_ts"),
        ),
        {
            "body": F.lit(None).cast("binary"),
            "warc_ts": F.lit(None).cast("timestamp"),
        },
    )


_FETCH_EXTRA = (
    "status int, attempts int, fetched boolean, fetch_error string"
)


def simulate_transport(resolved: DataFrame, policy: FetchPolicy) -> DataFrame:
    """Apply the retry/backoff policy per URL (vectorized batches)."""
    p = policy

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            h = np.fromiter(
                (md5_64(u) for u in pdf["canon_url"]), dtype=np.uint64, count=n
            )
            has_body = pdf["body"].notna().to_numpy()
            transient = (h % np.uint64(p.transient_mod) == 0) & has_body
            permanent = (h % np.uint64(p.permanent_mod) == 3) & has_body
            status = np.where(has_body, 200, 404)
            attempts = np.ones(n, dtype=np.int32)
            fetched = has_body.copy()
            # transient: one 503 then success on attempt 2
            attempts[transient & ~permanent] = 2
            if p.base_delay_s > 0 and (transient & ~permanent).any():
                time.sleep(p.base_delay_s)
            # permanent 503: retries exhausted
            status[permanent] = 503
            attempts[permanent] = p.max_retries
            fetched[permanent] = False
            err = np.where(
                fetched,
                None,
                np.where(
                    has_body,
                    "503 server error (retries exhausted)",
                    "404 not found",
                ),
            )
            out = pdf.copy()
            out["status"] = status.astype("int32")
            out["attempts"] = attempts
            out["fetched"] = fetched
            out["fetch_error"] = err
            yield out

    schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in resolved.schema.fields
    ) + ", " + _FETCH_EXTRA
    return resolved.mapInPandas(run, schema=schema)


def transport_columns(resolved: DataFrame, policy: FetchPolicy) -> DataFrame:
    """JVM-expression twin of :func:`simulate_transport` (identical
    outcomes; verified by tests/test_fetch.py): the columns of
    :func:`_transport_exprs`, added in one projection."""
    return resolved.withColumns(_transport_exprs(policy))


@functools.cache
def _transport_exprs(policy: FetchPolicy) -> dict:
    """``status``, ``attempts``, ``fetched`` and ``fetch_error`` of a
    resolved row under ``policy``.  Memoized on the (frozen) policy: a
    Column belongs to no DataFrame, and the crawl round would otherwise
    rebuild these expressions every round, a py4j round trip per node.

    Keeps the page body OUT of the Python boundary — at bench scale the
    extra Arrow round-trip of raw html through the transport UDF tripled
    Python traffic and showed up as kernel-time contention.  The
    mapInPandas variant remains the shape a real HTTP fetcher uses
    (sessions/retries need Python); with a join-resolved sandbox web the
    policy math is pure column arithmetic:
    ``md5_64(url) == conv(substr(md5(url),1,16),16,10)``.
    """
    p = policy
    h = F.conv(F.substring(F.md5(F.col("canon_url")), 1, 16), 16, 10).cast(
        "decimal(20,0)"
    )
    has_body = F.col("body").isNotNull()
    transient = (h % p.transient_mod == 0) & has_body
    permanent = (h % p.permanent_mod == 3) & has_body
    fetched = has_body & ~permanent
    return {
        "status": F.when(~has_body, 404)
        .when(permanent, 503)
        .otherwise(200)
        .cast("int"),
        "attempts": F.when(permanent, p.max_retries)
        .when(transient, 2)
        .otherwise(1)
        .cast("int"),
        "fetched": fetched,
        "fetch_error": F.when(fetched, F.lit(None).cast("string"))
        .when(has_body, F.lit("503 server error (retries exhausted)"))
        .otherwise(F.lit("404 not found")),
    }


def fetch(
    selected: DataFrame,
    pages_raw: DataFrame,
    policy: FetchPolicy | None = None,
    transport: str = "jvm",
) -> DataFrame:
    """Full fetch stage: resolve → transport policy.  Returns rows with
    body/status/attempts/fetched/fetch_error.

    ``transport='jvm'`` (default): codegen column expressions.
    ``transport='python'``: the mapInPandas executor (the real-fetcher
    shape; same outcomes)."""
    resolved = resolve_against_web(selected, pages_raw)
    if transport == "python":
        return simulate_transport(resolved, policy or FetchPolicy())
    return transport_columns(resolved, policy or FetchPolicy())


# ---------------------------------------------------------------------------
# HTTP conditional revalidation (RFC 9110 §13): ETag / If-Modified-Since
# ---------------------------------------------------------------------------


def revalidation_plan(
    candidates: DataFrame,
    prior: DataFrame,
    url_col: str = "url",
) -> DataFrame:
    """Recrawl fetch planning with cache validators: join this round's
    candidates to the PRIOR crawl's per-URL record ``(url, etag,
    last_modified, digest)`` and decide the request shape — a
    CONDITIONAL request (``If-None-Match`` from the stored ETag,
    ``If-Modified-Since`` from the stored date) when any validator
    exists, a full GET otherwise.  This is the recrawl-bandwidth tier
    the reference scraper never needed (it refetches everything,
    /root/reference/src/scraper/base/scraper.py has no validator
    handling) but a 10^10-URL incremental crawl lives on: Common Crawl
    reports ~30–50% 304 rates on monthly recrawls, which is fetch
    bytes that never leave the origin.

    Returns candidates + ``(mode, if_none_match, if_modified_since,
    prior_digest)``; mode ∈ {'conditional', 'full'}.

    Scale/plan: ONE equi-join on the URL key — both sides bucketable
    by url hash, so on a bucketed crawl log this is a co-located join
    with no shuffle of the candidate table; validators are metadata
    columns (bytes never move).
    """
    p = prior.select(
        F.col(url_col).alias("_rv_url"),
        F.col("etag").alias("if_none_match"),
        F.col("last_modified").alias("if_modified_since"),
        F.col("digest").alias("prior_digest"),
    )
    j = candidates.join(
        p, candidates[url_col] == p["_rv_url"], "left"
    ).drop("_rv_url")
    return j.withColumn(
        "mode",
        F.when(
            F.col("if_none_match").isNotNull()
            | F.col("if_modified_since").isNotNull(),
            F.lit("conditional"),
        ).otherwise(F.lit("full")),
    )


def revalidation_outcomes(
    plan: DataFrame,
    live: DataFrame,
    url_col: str = "url",
) -> DataFrame:
    """Apply origin behavior to a revalidation plan: join the planned
    requests to the live web's current ``(url, digest, size_bytes)``
    and emit the response each request shape earns — ``304`` (zero
    body bytes) when a conditional request's stored validator still
    matches the live content, ``200`` with the full body otherwise.
    Output adds ``(status, fetched_bytes, saved_bytes)`` — the
    recrawl-efficiency ledger (Σ saved_bytes is the bandwidth the
    validator tier bought).

    Same scale shape as :func:`revalidation_plan`: one URL-key
    equi-join of metadata columns.
    """
    lv = live.select(
        F.col(url_col).alias("_rv_url"),
        F.col("digest").alias("live_digest"),
        F.col("size_bytes").alias("_rv_size"),
    )
    j = plan.join(lv, plan[url_col] == lv["_rv_url"], "left").drop(
        "_rv_url"
    )
    not_modified = (F.col("mode") == "conditional") & (
        F.col("live_digest") == F.col("prior_digest")
    )
    return (
        j.withColumn(
            "status", F.when(not_modified, 304).otherwise(200)
        )
        .withColumn(
            "fetched_bytes",
            F.when(not_modified, F.lit(0).cast("bigint")).otherwise(
                F.coalesce(F.col("_rv_size"), F.lit(0)).cast("bigint")
            ),
        )
        .withColumn(
            "saved_bytes",
            F.when(
                not_modified, F.coalesce(F.col("_rv_size"), F.lit(0))
            )
            .otherwise(F.lit(0))
            .cast("bigint"),
        )
        .drop("_rv_size")
    )


def connection_reuse(
    df: DataFrame,
    host_col: str = "host",
    ts_col: str = "ts",
    id_col: str = "event_id",
    keepalive_s: int = 15,
    ndigits: int = 6,
) -> DataFrame:
    """Per-host HTTP keep-alive connection-reuse audit: a fetch REUSES
    the pooled connection when it lands within ``keepalive_s`` of the
    previous fetch to the same host (the server's keep-alive idle
    timeout); otherwise it pays a fresh TCP+TLS handshake.  The
    resulting reuse rate is the connection-pooling planning signal a
    cluster-scale fetcher needs — hosts with low reuse under the
    current politeness spacing are where raising per-host concurrency
    (see ``aimd``) or batching by host actually buys latency.

    Scale: ONE exchange — the lag window hash-partitions by host, and
    the per-host aggregation re-uses that partitioning (same key, no
    second shuffle).  Gap arithmetic is integer microseconds;
    ordering ties break on the event id so the lag is deterministic.
    """
    from pyspark.sql import Window

    # parquet may surface TIMESTAMP_NTZ; gaps are shift-invariant, so
    # the cast's timezone offset cancels exactly
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = Window.partitionBy("host").orderBy("us", "eid")
    gaps = (
        df.select(
            F.col(host_col).alias("host"),
            us.alias("us"),
            F.col(id_col).alias("eid"),
        )
        .withColumn("prev_us", F.lag("us").over(w))
        .withColumn(
            "reused",
            F.when(
                F.col("prev_us").isNotNull()
                & (
                    F.col("us") - F.col("prev_us")
                    <= F.lit(int(keepalive_s) * 1_000_000)
                ),
                1,
            ).otherwise(0),
        )
    )
    return gaps.groupBy("host").agg(
        F.count("*").alias("n_fetches"),
        F.sum("reused").alias("n_reused"),
        F.round(
            F.sum("reused") / F.count("*").cast("double"), ndigits
        ).alias("reuse_rate"),
    )


def cache_freshness(
    responses: DataFrame,
    now: "F.Column",
    heuristic_fraction: float = 0.1,
    heuristic_cap_s: int = 86400,
) -> DataFrame:
    """RFC 9111 §4.2 freshness calculus over stored response metadata —
    the decision column a recrawl scheduler reads BEFORE spending a
    conditional request (fresh entries need no request at all; stale
    ones go through :func:`revalidation_plan`).

    Per row, from ``(response_ts, max_age_s, expires_ts,
    last_modified_ts)``:

    - freshness_lifetime = max-age, else (expires − response_ts), else
      the §4.2.2 heuristic: ``heuristic_fraction`` × (response_ts −
      last_modified_ts), capped at ``heuristic_cap_s`` (the RFC
      suggests 10% and warns against long heuristic lifetimes; 24 h is
      the common implementation cap), else 0 (no freshness info →
      always stale).
    - current_age = now − response_ts (the transit terms of §4.2.3
      collapse when the crawler is the cache).
    - fresh = lifetime > age; ttl_s = lifetime − age (negative =
      seconds overdue, the staleness the revisit scheduler sorts by).

    Pure in-row date arithmetic — zero shuffle, whole-stage codegen;
    at 10^10 rows this is a projection over the url_state scan.
    """
    lifetime = F.coalesce(
        F.col("max_age_s").cast("long"),
        (
            F.col("expires_ts").cast("long")
            - F.col("response_ts").cast("long")
        ),
        # least() skips nulls, so the cap must stay INSIDE the
        # validator guard or a no-validator row would inherit it
        F.when(
            F.col("last_modified_ts").isNotNull(),
            F.least(
                # floor, not cast: double→long casts truncate in Spark
                # but round in other engines — floor is unambiguous
                F.floor(
                    (
                        F.col("response_ts").cast("long")
                        - F.col("last_modified_ts").cast("long")
                    )
                    * F.lit(heuristic_fraction)
                ).cast("long"),
                F.lit(heuristic_cap_s).cast("long"),
            ),
        ),
        F.lit(0).cast("long"),
    )
    age = now.cast("long") - F.col("response_ts").cast("long")
    return (
        responses.withColumn("freshness_lifetime_s", lifetime)
        .withColumn("current_age_s", age)
        .withColumn(
            "fresh",
            F.col("freshness_lifetime_s") > F.col("current_age_s"),
        )
        .withColumn(
            "ttl_s",
            F.col("freshness_lifetime_s") - F.col("current_age_s"),
        )
    )


def parse_retry_after(value: "F.Column", now: "F.Column") -> "F.Column":
    """RFC 9110 §10.2.3 ``Retry-After`` → epoch-second the host may be
    contacted again.  The header carries either delta-seconds
    (``"120"``) or an IMF-fixdate (``"Wed, 21 Oct 2015 07:28:00 GMT"``);
    servers send it on 429/503, and a polite crawler folds it into the
    per-host cooldown (operators/identity.error_cooldown takes a fixed
    backoff; this is the server-directed override).

    Pure in-row codegen.  IMF-fixdate parsing drops the fixed-width
    ``"Ddd, "`` day-name prefix first — Spark's formatter accepts
    ``E``-symbols only for FORMATTING, not parsing (documented pattern
    restriction), and the day name is redundant with the date anyway.
    Unparseable values yield NULL (callers fall back to their fixed
    backoff) rather than failing the round.  Delta-seconds are any run
    of digits, leading zeros included (``"0005"`` is 5 s).  A value too
    large for a long, or one that fits but overflows when added to
    ``now``, would THROW on a plain cast or ``+`` under ANSI mode
    (Spark 4 default); try_cast and try_add turn both into NULL.
    """
    delta_form = value.rlike("^[0-9]+$")
    fixdate = F.try_to_timestamp(
        F.substring(value, 6, 24), F.lit("dd MMM yyyy HH:mm:ss 'GMT'")
    )
    return F.when(
        delta_form, F.try_add(now.cast("long"), value.try_cast("long"))
    ).otherwise(fixdate.cast("long"))
