"""Stream-stream interval join: fetch-request / fetch-response
correlation (SURVEY.md §2.9 extension — the one Structured Streaming
join shape the engine's other streaming twins don't exercise).

A distributed crawler's dispatcher and its fetchers are separate
streams: dispatch events (url handed to a worker) and completion
events (status + bytes back).  Correlating them yields per-fetch
latency — the input `operators/politeness.adaptive_fetch_delay`
consumes — and, crucially, the requests that NEVER completed inside
the timeout horizon (worker crash, network blackhole): exactly the
rows a left-outer interval join emits with a NULL right side once the
watermark passes.

Why the interval condition matters at scale: an unbounded
stream-stream equi-join would keep every request in the state store
forever (any future response might match).  The time bound
``resp_ts ∈ [req_ts, req_ts + horizon]`` plus watermarks on BOTH
sides lets Spark evict state the moment a row can no longer match —
bounded state at any stream length, and the left-outer NULLs flush
deterministically at watermark passage (Spark's documented outer-join
semantics).

The batch twin runs the IDENTICAL join expression on static frames —
tested equal, and the oracle replays it in SQL.  (Only the duplicate-
response guard differs by mode: batch keeps the earliest in-window
response via a post-join min-struct agg; streaming drops duplicates
pre-join inside the watermark — see ``stream_match_responses``.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def match_responses(
    requests: DataFrame,
    responses: DataFrame,
    horizon: str = "120 seconds",
    key: str = "req_id",
    dedupe: bool = True,
) -> DataFrame:
    """Left-outer interval join of requests to their responses.

    ``requests``: ``(req_id, url, req_ts)``; ``responses``:
    ``(req_id, resp_ts, status)``.  A response matches iff it carries
    the request's id and lands within ``[req_ts, req_ts + horizon]``.
    Output: one row per request — ``(req_id, url, req_ts, status,
    latency_ms, timed_out)`` with NULL status / NULL latency and
    ``timed_out = true`` when no response arrived in the horizon.

    ``dedupe`` (default on) keeps the EARLIEST in-window response when
    a req_id has several (fetcher retry, duplicate delivery) — without
    it the join emits one row per matching response, double-counting
    latency samples downstream in ``adaptive_fetch_delay``.  Tie-break
    on identical ``resp_ts`` is the smallest ``status`` (min over a
    ``(resp_ts, status)`` struct — deterministic across partitionings).
    The group-agg is one hash aggregate on the join output, partial
    map-side — no extra shuffle beyond the join's own exchange on the
    key.  It groups on ``(key, url, req_ts)``, so exactly duplicated
    REQUEST rows also collapse to one output row (without ``dedupe``
    each request row yields its own rows).

    Works identically on static and streaming inputs, EXCEPT the
    dedupe aggregate: streaming callers use ``stream_match_responses``,
    which pre-dedupes the response stream inside the watermark instead
    (one stateful operator, bounded state) and calls this with
    ``dedupe=False``.
    """
    resp = responses.select(
        F.col(key).alias("_rk"),
        F.col("resp_ts").alias("_rts"),
        F.col("status").alias("_status"),
    )
    cond = (
        (F.col(key) == F.col("_rk"))
        & (F.col("_rts") >= F.col("req_ts"))
        & (F.col("_rts") <= F.col("req_ts") + F.expr(f"INTERVAL {horizon}"))
    )
    joined = requests.join(resp, cond, "left_outer")
    if dedupe:
        joined = (
            joined.groupBy(key, "url", "req_ts")
            .agg(F.min(F.struct("_rts", "_status")).alias("_best"))
            .select(
                key,
                "url",
                "req_ts",
                F.col("_best._rts").alias("_rts"),
                F.col("_best._status").alias("_status"),
            )
        )
    return joined.select(
        key,
        "url",
        "req_ts",
        F.col("_status").alias("status"),
        (
            (F.col("_rts").cast("double") - F.col("req_ts").cast("double"))
            * 1000.0
        ).cast("bigint").alias("latency_ms"),
        F.col("_rts").isNull().alias("timed_out"),
    )


def stream_match_responses(
    requests: DataFrame,
    responses: DataFrame,
    horizon: str = "120 seconds",
    watermark: str = "10 minutes",
    key: str = "req_id",
) -> DataFrame:
    """Streaming twin: watermarks on both event-time columns + the
    interval condition give Spark a provable state-eviction bound (a
    request older than ``watermark + horizon`` can never match a
    future response and is dropped from the state store; unmatched
    requests then emit their NULL row — the timeout signal).

    Duplicate responses (fetcher retry / duplicate delivery) are
    dropped BEFORE the join with ``dropDuplicatesWithinWatermark`` on
    the key — at-most-one output row per request, bounded dedup state.
    Streaming keeps the FIRST-ARRIVED response (arrival order), not
    necessarily the earliest event-time one the batch path picks, and
    it keeps it whether or not it lands in the request's window.  So
    the two modes differ in one more corner: when the first-arrived
    duplicate is OUT of window (``resp_ts < req_ts`` or past the
    horizon), the dedup drops the later in-window retry that the batch
    path would match, and the request emits a false ``timed_out =
    true`` row.  Otherwise they agree whenever duplicates arrive in
    event-time order, and either way downstream latency sampling sees
    at most one sample per fetch.  Unlike the batch path, exactly
    duplicated request rows are not collapsed here (no post-join
    aggregate): each yields its own row.
    (A post-join group-agg would match batch exactly but chains a
    second stateful operator after the stream-stream join — the
    pre-join dedup is the cheaper, provably-bounded shape.)
    """
    return match_responses(
        requests.withWatermark("req_ts", watermark),
        responses.withWatermark("resp_ts", watermark)
        .dropDuplicatesWithinWatermark([key]),
        horizon=horizon,
        key=key,
        dedupe=False,
    )
