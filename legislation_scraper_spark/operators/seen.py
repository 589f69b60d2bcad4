"""URL-seen set: partitioned Bloom pre-filter + exact anti-join.

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
   the URL is new (no false negatives) — those rows skip the expensive
   exact join entirely.  At steady state most frontier candidates are
   duplicates of already-seen URLs, so the pre-filter eliminates the
   bulk of the anti-join's probe side.
2. **Exact anti-join backstop** — Bloom *hits* (possible false
   positives) are verified with a ``left_anti`` join against the exact
   seen log on ``canon_url``; without bitmaps every candidate takes
   it.  Correctness never depends on the filter (tests/test_urls_seen.py
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

import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.urls import canonicalize_url, url_hash

# bitmap bytes one filter-log file is sized for
FILTER_FILE_BYTES = 128 << 20


def with_url_key(df: DataFrame, url_col: str = "url", n_shards: int = 64) -> DataFrame:
    """Attach canonical url, 64-bit key, and shard columns."""
    c = F.col(url_col)
    return (
        df.withColumn("canon_url", canonicalize_url(c))
        .withColumn("url_hash", url_hash(c))
        .withColumn("shard", F.pmod(F.col("url_hash"), F.lit(n_shards)).cast("int"))
    )


# --- Bloom bitmaps: array<bigint> words, bit p in word p >> 6 at p & 63 ----


@dataclass
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


def _positions(url_hash: Column, params: BloomParams) -> Column:
    """The key's k bit positions h1 + i*h2 mod m (Kirsch-Mitzenmacher).
    h1 and h2 are below m, so the sum fits a long (ANSI mode throws on
    overflow); both rehash the key, whose residue mod n_shards is fixed
    within a shard."""
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


def build_bloom_shards(
    seen: DataFrame, params: BloomParams, n_shards: int = 64
) -> DataFrame:
    """(shard, bitmap, n_keys) rows — one Bloom bitmap per shard of the
    seen set that has keys.

    ``seen`` must carry ``shard`` and ``url_hash`` (see with_url_key).
    ``n_keys`` counts rows, duplicates included.
    """
    # one shuffle: clustering by shard also serves the (shard, word) agg
    pos = seen.repartition("shard").select(
        "shard", F.explode(_positions(F.col("url_hash"), params)).alias("pos")
    )
    words = pos.groupBy(
        "shard", F.shiftright("pos", 6).cast("int").alias("word")
    ).agg(F.bit_or(_bit(F.col("pos"))).alias("bits"), F.count("*").alias("n"))
    return (
        words.groupBy("shard")
        .agg(
            F.array_sort(F.collect_list(F.struct("word", "bits"))).alias("e"),
            # every key sets exactly k positions
            (F.sum("n") / params.k).cast("long").alias("n_keys"),
        )
        # a column, not the expression: the densify lambda reads it per
        # entry, and an expression would be re-evaluated each time
        .select(
            "shard",
            _densify(F.col("e"), params.n_words).alias("bitmap"),
            "n_keys",
        )
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
    def is_set(pos: Column) -> Column:
        word = F.element_at("bitmap", F.shiftright(pos, 6).cast("int") + 1)
        return word.bitwiseAND(_bit(pos)) != 0

    return (
        candidates.join(F.broadcast(bloom_shards), "shard", "left")
        .withColumn(
            "maybe_seen",
            F.coalesce(
                F.forall(_positions(F.col("url_hash"), params), is_set),
                F.lit(False),
            ),
        )
        .drop("bitmap", "n_keys")
    )


class SeenSet:
    """Exact seen log + Bloom pre-filter, snapshot-backed.

    ``table`` is the exact side: any log carrying ``(canon_url,
    url_hash, shard)``.  The crawl engine passes its ``crawl_log`` (one
    row per attempt, bucketed by ``canon_url``), so the seen set is a
    projection of the attempts log rather than a table of its own.  A
    pre-filter MISS proves the URL is new; HITS verify against the
    exact log.
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

        zero = F.array_repeat(F.lit(0).cast("long"), self._params().n_words)
        return log.groupBy("shard").agg(
            # fixed params ⇒ every delta of a shard has the same length
            F.aggregate(
                F.collect_list("bitmap"),
                zero,
                lambda acc, b: F.zip_with(acc, b, lambda x, y: x.bitwiseOR(y)),
            ).alias("bitmap"),
            F.sum("n_keys").alias("n_keys"),
        )

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

        Bloom pre-filter first (provably-new rows bypass the join), then
        an exact ``left_anti`` on ``canon_url`` — the canonical URL
        determines the other two keys — for the maybe-seen remainder.
        With no bitmaps (no filter log, or an empty one) every candidate
        takes the exact join.  With a bucketed exact log the join reads
        it without an Exchange; only the candidates shuffle.
        """
        seen = self.df()
        if seen is None:
            return cand
        exact = seen.select("canon_url")
        # OR-merge the persisted delta bitmaps: no rescan of the exact
        # seen table to build filters
        shards = self.merged_filters()
        if shards is None:
            return cand.join(exact, "canon_url", "left_anti")
        probed = bloom_probe(cand, shards, self._params())
        surely_new = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
        maybe = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
        verified_new = maybe.join(exact, "canon_url", "left_anti")
        return surely_new.unionByName(verified_new)
