"""URL-seen set: partitioned Bloom probe gating one exact anti-join.

The reference has no online dedup — it re-enumerates everything and
deduplicates at dataset-build time (/root/reference/src/datasets/
build_dataset.py:204).  At 10^10 frontier URLs that is not an option:
the seen set must be probed every crawl round.

Two-tier design (north rule: "partitioned bloom/cuckoo-filter URL-seen
set keyed by canonicalized URL hash"; this module implements the Bloom
variant):

1. **Partitioned Bloom pre-filter** — keys are sharded by
   ``pmod(url_hash, n_shards)``; each shard's Bloom bitmap is an
   ``array<bigint>`` of 64-bit words, built, OR-merged and probed with
   built-in Spark expressions (no Python stage, nothing collected).
   Candidates probe only their shard's bitmap.  A Bloom *miss* proves
   the URL is new (no false negatives), so it can never be dropped.
2. **Exact anti-join backstop** — every candidate goes through ONE
   ``left_anti`` join against the exact seen log whose condition is
   ``canon_url`` equality AND the probe's ``maybe_seen``: a miss
   matches nothing and is kept, and a *hit* (possibly a false
   positive) is kept only when the exact log lacks it.  The candidates
   are read and probed once; there is no second branch to union.
   Without bitmaps the join is the plain ``canon_url`` anti-join.
   Correctness never depends on the filter (tests/test_urls_seen.py
   property-checks this).

The crawl engine's exact log is its ``crawl_log`` (every attempted URL,
bucketed by ``canon_url``); the Bloom bitmaps are derived state over the
same rows, appended per round as deltas.

Scale notes: shard bitmaps are sized from expected keys/shard and the
target FPP; at 10^10 URLs with 4096 shards and 1% FPP each shard bitmap
is ~2.9 MB — executor-cacheable, and only the shards present in the
candidate batch are shuffled to the probe side.
"""

from __future__ import annotations

import functools
import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import cols
from ..functions.urls import canonicalize_url, url_hash

# bitmap bytes one filter-log file is sized for
FILTER_FILE_BYTES = 128 << 20


# Memoized column builders (functools.cache, keyed on their hashable
# parameters): a Column is an unresolved expression tree that belongs to
# no DataFrame and no session, so one built once serves every round.
# Building it again costs a py4j round trip per node, and the crawl
# round is mostly such fixed driver cost.


@functools.cache
def url_key_columns(url_col: str, n_shards: int) -> dict[str, Column]:
    """``canon_url``, ``url_hash`` and ``shard`` of ``url_col``; the
    shard is computed from the hash expression, so the three columns
    are added in one projection."""
    c = F.col(url_col)
    h = url_hash(c)
    return {
        "canon_url": canonicalize_url(c),
        "url_hash": h,
        "shard": F.pmod(h, F.lit(n_shards)).cast("int"),
    }


def with_url_key(df: DataFrame, url_col: str = "url", n_shards: int = 64) -> DataFrame:
    """Attach canonical url, 64-bit key, and shard columns."""
    return df.withColumns(url_key_columns(url_col, n_shards))


# --- Bloom bitmaps: array<bigint> words, bit p in word p >> 6 at p & 63 ----


@dataclass(frozen=True)
class BloomParams:
    m_bits: int
    k: int

    @staticmethod
    def for_capacity(expected_keys: int, fpp: float = 0.01) -> "BloomParams":
        n = max(expected_keys, 1)
        m = max(64, int(-n * math.log(fpp) / (math.log(2) ** 2)))
        k = max(1, round(m / n * math.log(2)))
        return BloomParams(m_bits=m, k=k)

    @property
    def n_words(self) -> int:
        return (self.m_bits + 63) // 64


@functools.cache
def _positions(params: BloomParams) -> Column:
    """The k bit positions h1 + i*h2 mod m (Kirsch-Mitzenmacher) of the
    ``url_hash`` column.  h1 and h2 are below m, so the sum fits a long
    (ANSI mode throws on overflow); both rehash the key, whose residue
    mod n_shards is fixed within a shard.  Memoized (see above)."""
    url_hash = F.col("url_hash")
    m = F.lit(params.m_bits)
    h1 = F.pmod(F.xxhash64(url_hash), m)
    h2 = F.pmod(F.xxhash64(url_hash, F.lit(1)), m - 1) + 1
    ks = F.sequence(F.lit(0), F.lit(params.k - 1))
    return F.transform(ks, lambda i: F.pmod(h1 + i * h2, m))


def _bit(pos: Column) -> Column:
    # F.shiftleft takes only a Python int shift count
    return F.call_function(
        "shiftleft", F.lit(1).cast("long"), pos.bitwiseAND(63).cast("int")
    )


def _densify(entries: Column, n_words: int) -> Column:
    """``array<bigint>`` of ``n_words`` words from (word, bits) structs
    sorted by word: each entry is preceded by zeros up to its word, and
    zeros pad the tail.  O(words) per shard; a map lookup per word would
    be a linear scan each."""
    zero = F.lit(0).cast("long")

    def run(e: Column, j: Column) -> Column:
        start = F.coalesce(F.get(entries, j - 1)["word"] + 1, F.lit(0))
        return F.concat(
            F.array_repeat(zero, e["word"] - start), F.array(e["bits"])
        )

    tail = F.lit(n_words - 1) - F.element_at(entries, -1)["word"]
    return F.concat(
        F.flatten(F.transform(entries, run)), F.array_repeat(zero, tail)
    )


@functools.cache
def _build_columns(params: BloomParams) -> dict[str, tuple[Column, ...]]:
    """The projections and aggregates of :func:`build_bloom_shards`, by
    step.  Memoized (see above): with the probe's, the bit-position and
    densify lambdas were ~280 py4j commands a round, and the round
    builds its filter delta on the sink thread that finished last."""
    return {
        "pos": (
            F.col("shard"),
            F.explode(_positions(params)).alias("pos"),
        ),
        "word_keys": (
            F.col("shard"), F.shiftright("pos", 6).cast("int").alias("word"),
        ),
        "word_aggs": (
            F.bit_or(_bit(F.col("pos"))).alias("bits"),
            F.count("*").alias("n"),
        ),
        "shard_aggs": (
            F.array_sort(F.collect_list(F.struct("word", "bits"))).alias("e"),
            # every key sets exactly k positions
            (F.sum("n") / params.k).cast("long").alias("n_keys"),
        ),
        # a column, not the expression: the densify lambda reads it per
        # entry, and an expression would be re-evaluated each time
        "out": (
            F.col("shard"),
            _densify(F.col("e"), params.n_words).alias("bitmap"),
            F.col("n_keys"),
        ),
    }


def build_bloom_shards(
    seen: DataFrame, params: BloomParams, n_shards: int = 64
) -> DataFrame:
    """(shard, bitmap, n_keys) rows — one Bloom bitmap per shard of the
    seen set that has keys.

    ``seen`` must carry ``shard`` and ``url_hash`` (see with_url_key).
    ``n_keys`` counts rows, duplicates included.
    """
    c = _build_columns(params)
    # one shuffle: clustering by shard also serves the (shard, word) agg
    pos = seen.repartition("shard").select(*c["pos"])
    words = pos.groupBy(*c["word_keys"]).agg(*c["word_aggs"])
    return words.groupBy("shard").agg(*c["shard_aggs"]).select(*c["out"])


@functools.cache
def _maybe_seen(params: BloomParams) -> Column:
    """``maybe_seen``: whether all k bits of the row's key are set in
    its shard's ``bitmap``; False when the shard has no bitmap.
    Memoized (see above)."""
    def is_set(pos: Column) -> Column:
        word = F.element_at("bitmap", F.shiftright(pos, 6).cast("int") + 1)
        return word.bitwiseAND(_bit(pos)) != 0

    return F.coalesce(
        F.forall(_positions(params), is_set), F.lit(False)
    ).alias("maybe_seen")


@functools.cache
def _or_merge(n_words: int) -> tuple[Column, ...]:
    """The aggregates that fold a shard's delta bitmaps (all
    ``n_words`` long) into one by bitwise OR.  Memoized (see above)."""
    zero = F.array_repeat(F.lit(0).cast("long"), n_words)
    return (
        F.aggregate(
            F.collect_list("bitmap"),
            zero,
            lambda acc, b: F.zip_with(acc, b, lambda x, y: x.bitwiseOR(y)),
        ).alias("bitmap"),
        F.sum("n_keys").alias("n_keys"),
    )


@functools.cache
def _seen_gate() -> tuple[Column, Column]:
    """The exact side's key under its own name, which keeps the join
    condition unambiguous, and :meth:`SeenSet.filter_unseen`'s
    anti-join condition: that key equals ``canon_url`` AND the probe
    flagged the row.  Memoized (see above)."""
    return (
        F.col("canon_url").alias("_seen_url"),
        F.col("maybe_seen") & (F.col("canon_url") == F.col("_seen_url")),
    )


def bloom_probe(
    candidates: DataFrame,
    bloom_shards: DataFrame,
    params: BloomParams,
) -> DataFrame:
    """Adds ``maybe_seen`` to candidates: False ⇒ provably unseen.

    Joins each candidate with its shard bitmap (broadcast — bitmaps are
    small and few) and tests its k bits: O(k) word lookups per row.  A
    shard without a bitmap has seen nothing.
    """
    keep = cols(("shard", *(c for c in candidates.columns if c != "shard")))
    # one projection: the join's leading ``shard``, the candidates'
    # other columns, the flag; the bitmap and its key count go
    return candidates.join(F.broadcast(bloom_shards), "shard", "left").select(
        *keep, _maybe_seen(params)
    )


class SeenSet:
    """Exact seen log + Bloom pre-filter, snapshot-backed.

    ``table`` is the exact side: any log carrying ``(canon_url,
    url_hash, shard)``.  The crawl engine passes its ``crawl_log`` (one
    row per attempt, bucketed by ``canon_url``), so the seen set is a
    projection of the attempts log rather than a table of its own.  A
    Bloom MISS proves the URL is new; only HITS can match in the exact
    anti-join.
    """

    def __init__(
        self,
        table,
        n_shards: int = 64,
        fpp: float = 0.01,
        filters_table=None,
        keys_per_shard: int = 65536,
    ):
        self.table = table
        self.n_shards = n_shards
        self.fpp = fpp
        # incremental filter state (SURVEY.md §4 "incremental partitioned
        # filter"): per-batch DELTA bitmaps appended to ``filters_table``
        # and OR-merged at probe time — the probe never rescans the
        # exact log.  Requires FIXED geometry across batches, sized by
        # ``keys_per_shard`` capacity (resize = rebuild maintenance).
        self.filters_table = filters_table
        self.keys_per_shard = keys_per_shard

    def _params(self) -> BloomParams:
        return BloomParams.for_capacity(self.keys_per_shard, self.fpp)

    def _sized(self, bitmaps: DataFrame) -> DataFrame:
        """``bitmaps`` in the fewest partitions that keep a file under
        FILTER_FILE_BYTES, counting one ``n_words``-word bitmap per
        shard.  The bitmaps leave a shuffle on ``shard``, so without
        this a commit writes a file per shuffle partition wherever AQE
        does not coalesce them, as in a crawl round.  A repartition,
        not a coalesce: a coalesce would also narrow the bitmap build
        stage behind it to that many tasks; this moves one row per
        shard."""
        size = self.n_shards * self._params().n_words * 8
        return bitmaps.repartition(-(-size // FILTER_FILE_BYTES))

    def df(self) -> DataFrame | None:
        return self.table.read()

    def add(self, urls: DataFrame, url_col: str = "url") -> None:
        """Record raw URLs as seen (idempotent via downstream
        anti-joins): key them, append the distinct keys to the exact
        table, then their delta bitmaps via :meth:`add_filters`."""
        rows = (
            with_url_key(urls.select(url_col), url_col, self.n_shards)
            .select("shard", "url_hash", "canon_url")
            .distinct()
            .persist()  # feeds the exact append AND the delta bitmaps
        )
        try:
            self.table.append(rows)
            self.add_filters(rows)
        finally:
            rows.unpersist()

    def add_filters(self, keyed: DataFrame) -> None:
        """Append the delta bitmaps of already-keyed rows (``shard``,
        ``url_hash``) to the filter log, when there is one.  The engine
        calls this on the round's attempted rows directly — their keys
        come from ``frontier_log``, so no re-keying or dedup shuffle is
        needed (duplicate keys set the same bits)."""
        if self.filters_table is not None:
            self.filters_table.append(self._sized(
                build_bloom_shards(keyed, self._params(), self.n_shards)
            ))

    def merged_filters(self) -> DataFrame | None:
        """One bitwise-OR-folded Bloom bitmap per shard from the delta
        log."""
        log = (
            self.filters_table.read()
            if self.filters_table is not None
            else None
        )
        if log is None:
            return None

        # fixed params ⇒ every delta of a shard has the same length
        return log.groupBy("shard").agg(*_or_merge(self._params().n_words))

    def compact_filters(self) -> None:
        """Fold the delta log to one row per shard (maintenance)."""
        merged = self.merged_filters()
        if merged is not None:
            self.filters_table.overwrite(self._sized(merged))

    def filter_unseen(
        self, cand: DataFrame, url_col: str = "canon_url"
    ) -> DataFrame:
        """Rows of ``cand`` whose URL is not in the seen set.

        ``cand`` must carry ``(canon_url, url_hash, shard)`` from
        :func:`with_url_key` with this set's ``n_shards`` (frontier rows
        do): a shard computed for another shard count would probe the
        wrong bitmap.  Keys are never recomputed here; ``url_col`` only
        keeps callers that still pass ``"canon_url"`` working.

        One pass: the Bloom probe adds ``maybe_seen``, then one
        ``left_anti`` join on ``canon_url`` — the canonical URL
        determines the other two keys — whose condition also requires
        ``maybe_seen``, so a provably-new row matches nothing and is
        kept, and a maybe-seen row is kept only if the exact log lacks
        it.  With no bitmaps (no filter log, or an empty one) the join
        is the plain anti-join, the exact oracle of the probed one.
        With a bucketed exact log the join reads it without an
        Exchange; only the candidates shuffle.
        """
        seen = self.df()
        if seen is None:
            return cand
        # OR-merge the persisted delta bitmaps: no rescan of the exact
        # seen table to build filters
        shards = self.merged_filters()
        if shards is None:
            return cand.join(seen.select("canon_url"), "canon_url", "left_anti")
        probed = bloom_probe(cand, shards, self._params())
        seen_url, hit = _seen_gate()
        return probed.join(seen.select(seen_url), hit, "left_anti").drop(
            "maybe_seen"
        )
