"""URL-seen set: partitioned Bloom pre-filter + exact anti-join.

The reference has no online dedup — it re-enumerates everything and
deduplicates at dataset-build time (/root/reference/src/datasets/
build_dataset.py:204).  At 10^10 frontier URLs that is not an option:
the seen set must be probed every crawl round.

Two-tier design (north rule: "partitioned bloom/cuckoo-filter URL-seen
set keyed by canonicalized URL hash"; this module implements the Bloom
variant):

1. **Partitioned Bloom pre-filter** — keys are sharded by
   ``pmod(url_hash, n_shards)``; each shard materializes a Bloom bitmap
   (numpy, built in ``applyInPandas`` — one pass, no driver rows).
   Candidates probe only their shard's bitmap.  A Bloom *miss* proves
   the URL is new (no false negatives) — those rows skip the expensive
   exact join entirely.  At steady state most frontier candidates are
   duplicates of already-seen URLs, so the pre-filter eliminates the
   bulk of the anti-join's probe side.
2. **Exact anti-join backstop** — Bloom *hits* (possible false
   positives) are verified with a ``left_anti`` join against the exact
   seen log on ``canon_url``.  Correctness never depends on the filter
   (tests/test_urls_seen.py property-checks this).

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

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.urls import canonicalize_url, url_hash


def with_url_key(df: DataFrame, url_col: str = "url", n_shards: int = 64) -> DataFrame:
    """Attach canonical url, 64-bit key, and shard columns."""
    c = F.col(url_col)
    return (
        df.withColumn("canon_url", canonicalize_url(c))
        .withColumn("url_hash", url_hash(c))
        .withColumn("shard", F.pmod(F.col("url_hash"), F.lit(n_shards)).cast("int"))
    )


# --- Bloom bitmap construction (per shard, executor-side) -------------------

_HASH_SPLIT = np.uint64(0x9E3779B97F4A7C15)


def _bloom_positions(hashes: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """k positions per key via double hashing h1 + i*h2 (Kirsch-
    Mitzenmacher); hashes is uint64 view of xxhash64 keys."""
    h1 = hashes
    h2 = (hashes ^ _HASH_SPLIT) * np.uint64(0xFF51AFD7ED558CCD) | np.uint64(1)
    pos = np.empty((k, len(hashes)), dtype=np.uint64)
    for i in range(k):
        pos[i] = (h1 + np.uint64(i) * h2) % np.uint64(m_bits)
    return pos


def _build_bitmap(hashes: np.ndarray, m_bits: int, k: int) -> bytes:
    bits = np.zeros((m_bits + 7) // 8, dtype=np.uint8)
    pos = _bloom_positions(hashes, m_bits, k).ravel()
    np.bitwise_or.at(bits, (pos // 8).astype(np.int64), (1 << (pos % 8)).astype(np.uint8))
    return bits.tobytes()


def _probe_bitmap(bitmap: bytes, hashes: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    bits = np.frombuffer(bitmap, dtype=np.uint8)
    pos = _bloom_positions(hashes, m_bits, k)
    hit = np.ones(len(hashes), dtype=bool)
    for i in range(k):
        byte = bits[(pos[i] // 8).astype(np.int64)]
        hit &= (byte & (1 << (pos[i] % 8)).astype(np.uint8)) != 0
    return hit


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


def build_bloom_shards(
    seen: DataFrame, params: BloomParams, n_shards: int = 64
) -> DataFrame:
    """(shard, bitmap) rows — one Bloom bitmap per shard of the seen set.

    ``seen`` must carry ``shard`` and ``url_hash`` (see with_url_key).
    """
    m_bits, k = params.m_bits, params.k

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        h = pdf["url_hash"].to_numpy().astype(np.int64).view(np.uint64)
        return pd.DataFrame(
            {
                "shard": [int(pdf["shard"].iloc[0])],
                "bitmap": [_build_bitmap(h, m_bits, k)],
                "n_keys": [len(h)],
            }
        )

    return (
        seen.select("shard", "url_hash")
        .groupBy("shard")
        .applyInPandas(build, schema="shard int, bitmap binary, n_keys long")
    )


def bloom_probe(
    candidates: DataFrame,
    bloom_shards: DataFrame,
    params: BloomParams,
) -> DataFrame:
    """Adds ``maybe_seen`` to candidates: False ⇒ provably unseen.

    Joins each candidate partition with its shard bitmap (broadcast —
    bitmaps are small and few), probes vectorized in numpy.
    """
    m_bits, k = params.m_bits, params.k
    joined = candidates.join(F.broadcast(bloom_shards), "shard", "left")

    def probe(batches):
        for pdf in batches:
            out = pdf.drop(columns=["bitmap", "n_keys"])
            maybe = np.zeros(len(pdf), dtype=bool)
            if len(pdf):
                h = pdf["url_hash"].to_numpy().astype(np.int64).view(np.uint64)
                for _, idx in pdf.groupby("shard").indices.items():
                    bm = pdf["bitmap"].iloc[idx[0]]
                    if bm is None:
                        continue  # shard has no bitmap → nothing seen there
                    maybe[idx] = _probe_bitmap(bytes(bm), h[idx], m_bits, k)
            out["maybe_seen"] = maybe
            yield out

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in joined.schema.fields
        if f.name not in ("bitmap", "n_keys")
    ) + ", maybe_seen boolean"
    return joined.mapInPandas(probe, schema=schema)


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
            self.filters_table.append(
                build_bloom_shards(keyed, self._params(), self.n_shards)
            )

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

        def merge(pdf: pd.DataFrame) -> pd.DataFrame:
            acc = np.zeros(0, dtype=np.uint8)
            n = 0
            for blob, nk in zip(pdf["bitmap"], pdf["n_keys"]):
                arr = np.frombuffer(bytes(blob), dtype=np.uint8)
                if acc.size == 0:
                    acc = arr.copy()
                else:
                    # fixed params ⇒ identical bitmap length per shard
                    acc |= arr
                n += int(nk)
            return pd.DataFrame(
                {
                    "shard": [int(pdf["shard"].iloc[0])],
                    "bitmap": [acc.tobytes()],
                    "n_keys": [n],
                }
            )

        return log.groupBy("shard").applyInPandas(
            merge, schema="shard int, bitmap binary, n_keys long"
        )

    def compact_filters(self) -> None:
        """Fold the delta log to one row per shard (maintenance)."""
        merged = self.merged_filters()
        if merged is not None:
            self.filters_table.overwrite(merged)

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
        With a bucketed exact log the join reads it without an
        Exchange; only the candidates shuffle.
        """
        seen = self.df()
        if seen is None:
            return cand
        merged = self.merged_filters()
        if merged is not None:
            # incremental path: OR-merge the persisted delta bitmaps —
            # no rescan of the exact seen table to build filters
            probed = bloom_probe(cand, merged, self._params())
        else:
            # NOTE: reached both when no filters_table is configured AND
            # when one is configured but its delta log is empty while the
            # exact table is not (store predates the incremental path, or
            # rows were appended bypassing add()).  Rebuilding from the
            # exact table keeps the "pre-filter MISS proves unseen"
            # contract; returning cand here would re-crawl seen URLs.
            # stateless fallback: rebuild from the exact table
            # (row count from snapshot lineage — no extra Spark job)
            n_seen = self.table.approx_rows()
            params = BloomParams.for_capacity(
                max(n_seen // self.n_shards, 1), self.fpp
            )
            shards = build_bloom_shards(seen, params, self.n_shards)
            probed = bloom_probe(cand, shards, params)
        surely_new = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
        maybe = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
        verified_new = maybe.join(
            seen.select("canon_url"), "canon_url", "left_anti"
        )
        return surely_new.unionByName(verified_new)
