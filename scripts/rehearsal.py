#!/usr/bin/env python
"""100×-shape rehearsal (r3 VERDICT item 5): one full
crawl → curate → dedup → export run at the largest world the sandbox
fits (default 8.19M URLs — 8× the bench world, ~1/1200 of the
north-star frontier), with per-stage wall times and rows/s, next to the
SAME stages on the 1.02M world — so any stage that anti-scales (rows/s
dropping superlinearly with input size) is visible directly.

Sizing rules exercised here (the latent-bottleneck tier the rehearsal
exists to surface):
- seen-set bloom shards: keys/shard must stay ≤ filter_keys_per_shard
  or delta-bitmap FPP degrades — 8.19M URLs / 128 shards = 64k ≤ 128k.
- bucketed frontier log: buckets scale with data (64 at 8M vs 32 at 1M)
  so per-bucket file sizes stay in the same band.
- fetch partitions: cores×3, independent of world size (politeness-
  bounded rows per partition grow, which is the point — fewer, fuller
  tasks).

Usage: python scripts/rehearsal.py [docs_per_source ...]
Defaults to `32000 256000` (1M then 8M). Prints one JSON line per world.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
WORDS_SCALE = int(os.environ.get("LSS_REHEARSAL_WORDS", "2"))
# words_scale=2 (not the bench world's 4): the 8M phase must fit
# 125 GiB of RAM shared by the JVM heap, 32 retained Python
# workers, AND the tmpfs world+stores — text mass is a constant
# per-row factor, so rows/s comparisons between sizes stay valid
# as long as BOTH sizes use the same scale.


def _session():
    from legislation_scraper_spark.session import get_spark

    # Spills go to the REAL disk, not tmpfs: on this VM a tmpfs
    # spark.local.dir makes every "disk spill" consume RAM, so the 8M
    # synth cache spilled itself straight into the OS OOM killer (two
    # kills: 80g heap / 91 GB RSS, then 60g heap + 31 GB tmpfs + 22 GB
    # retained Python workers).  Inputs (the world) stay on tmpfs for
    # scan speed; only spill/shuffle overflow pays virtio latency.
    local_dir = os.environ.get(
        "LSS_REHEARSAL_LOCAL", "/tmp/lss_rehearsal_local"
    )
    os.makedirs(local_dir, exist_ok=True)
    return get_spark(
        "lss-rehearsal",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS * 2,
        extra_conf={
            "spark.local.dir": local_dir,
            "spark.driver.memory": os.environ.get("LSS_REHEARSAL_HEAP", "48g"),
        },
    )


def _world(spark, docs: int) -> str:
    from legislation_scraper_spark.synth import synth_world

    world_dir = f"/dev/shm/lss_benchworld_d{docs}_w{WORDS_SCALE}"
    marker = os.path.join(world_dir, "_COMPLETE")
    if os.path.exists(marker):
        return world_dir
    shutil.rmtree(world_dir, ignore_errors=True)
    w = synth_world(
        spark, seed=42, docs_per_source=docs, skew=10,
        partitions=CPUS * 8, words_scale=WORDS_SCALE,
    )
    w["pages_raw"].write.parquet(f"{world_dir}/pages_raw")
    w["robots"].write.parquet(f"{world_dir}/robots")
    w["golden_meta"].selectExpr(
        "document_url AS seed_url", "source", "0 AS priority",
        "1990 AS year_start",
    ).write.parquet(f"{world_dir}/seeds")
    open(marker, "w").close()
    return world_dir


def rehearse(spark, docs: int) -> dict:
    from pyspark.sql import functions as F

    from legislation_scraper_spark.operators import dedup
    from legislation_scraper_spark.operators.curation import (
        chunk_dedup,
        dup_spans,
        excise_spans,
        gopher_quality_verdict,
    )
    from legislation_scraper_spark.plans.crawl import CrawlConfig, CrawlEngine
    from legislation_scraper_spark.plans.dataset_build import export_hf_layout
    from legislation_scraper_spark.tables import Catalog

    world_dir = _world(spark, docs)
    pages_raw = spark.read.parquet(f"{world_dir}/pages_raw")
    robots = spark.read.parquet(f"{world_dir}/robots").withColumn(
        "max_parallel", F.lit(10**9)
    )
    seeds = spark.read.parquet(f"{world_dir}/seeds")

    # shards/buckets scale with the world; fetch partitions with cores
    scale = max(1, docs // 32000)
    cfg = CrawlConfig(
        n_shards=64 * min(scale, 4),
        filter_keys_per_shard=65536 * min(scale, 4),
        frontier_buckets=32 * min(scale, 2),
        fetch_partitions=CPUS * 3,
        salt_buckets=8,
    )
    out: dict = {"docs_per_source": docs, "cfg": {
        "n_shards": cfg.n_shards,
        "filter_keys_per_shard": cfg.filter_keys_per_shard,
        "frontier_buckets": cfg.frontier_buckets,
    }}
    store = tempfile.mkdtemp(prefix=f"rehearsal_{docs}_", dir="/dev/shm")
    try:
        eng = CrawlEngine(spark, Catalog(spark, store), pages_raw, seeds,
                          robots, cfg)
        eng.bootstrap()
        t0 = time.perf_counter()
        m = eng.round(0)
        dt = time.perf_counter() - t0
        out["crawl"] = {
            "seconds": round(dt, 1),
            "urls": m["selected"],
            "urls_per_sec": round(m["selected"] / dt, 1),
            "pages": m["pages"],
            "timings": m["timings"],
        }
        # LSS_REHEARSAL_STAGES: "crawl" → stop after the crawl stage
        # (the north-rule metric); "r5" → crawl + the round-5 additions
        # only (excise, revalidation — the r4-evidenced curate/dedup/
        # export stages are skipped, their scaling already recorded in
        # BASELINE.md round 4); "all" (default) → everything.
        stages = os.environ.get("LSS_REHEARSAL_STAGES", "all")
        if stages == "crawl":
            return out
        r4_stages = stages != "r5"

        pages = eng.pages.read().select(
            F.col("document_url").alias("doc_id"),
            F.col("text_markdown").alias("text"),
        ).localCheckpoint(eager=True)  # isolate stage timings from the scan
        n_pages = pages.count()

        def stage(name, df):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            out[name] = {
                "seconds": round(dt, 1),
                "rows_per_sec": round(n_pages / dt, 1),
            }

        if r4_stages:
            stage("curate_gopher", gopher_quality_verdict(pages))
            stage("dedup_chunks", chunk_dedup(pages))

        # ExactSubstr cut-not-drop (r4 verdict item 6, Lee et al. 2022):
        # cross-doc duplicated-8-gram spans -> excise (keep one
        # canonical copy) -> re-run Gopher over the REBUILT text, all
        # in ONE composed plan + one aggregation — before/after token
        # counts and keep-rates fall out of the same job, so the stage
        # costs spans+excise+gopher once and holds no second corpus
        # copy.  Oracle twin: __spark_entry__ `exactsubstr_excise`.
        t0 = time.perf_counter()
        excised = excise_spans(pages, dup_spans(pages), id_col="doc_id")
        g_after = gopher_quality_verdict(
            excised.withColumnRenamed("id", "doc_id")
        )
        row = g_after.agg(
            F.count("*").alias("docs"),
            F.sum("n_tokens").alias("tokens_before"),
            F.sum("n_kept").alias("tokens_after"),
            F.sum(F.col("keep").cast("long")).alias("keep_after"),
        ).collect()[0]
        keep_before = (
            gopher_quality_verdict(pages).filter("keep").count()
        )
        dt = time.perf_counter() - t0
        out["exactsubstr_excise"] = {
            "seconds": round(dt, 1),
            "rows_per_sec": round(n_pages / dt, 1),
            "tokens_before": int(row["tokens_before"] or 0),
            "tokens_after": int(row["tokens_after"] or 0),
            "cut_frac": round(
                1 - (row["tokens_after"] or 0)
                / max(1, row["tokens_before"] or 0), 6,
            ),
            "gopher_keep_before": keep_before,
            "gopher_keep_after": int(row["keep_after"] or 0),
        }

        if not r4_stages:
            pages.unpersist()
            _revalidation_stage(
                spark, out, cfg, pages_raw, seeds, robots, docs)
            return out

        # star edges, NOT the all-pairs expansion: the first 8M run
        # measured 331.6M pairs from 8.0M pages (54x the 1M world's
        # 6.1M — template-family pair counts grow quadratically) and
        # 14.6 min of CC over them; bucket-star edges reach identical
        # components (tests/test_dedup_similarity.py) in linear size
        t0 = time.perf_counter()
        edges = dedup.minhash_lsh_edges(pages).localCheckpoint(eager=True)
        n_edges = edges.count()
        t1 = time.perf_counter()
        comps = dedup.connected_components_star(edges)
        n_comp = comps.select("comp").distinct().count()
        t2 = time.perf_counter()
        out["neardup_minhash"] = {
            "seconds": round(t1 - t0, 1),
            "rows_per_sec": round(n_pages / (t1 - t0), 1),
            "edges": n_edges,
        }
        out["neardup_cc"] = {
            "seconds": round(t2 - t1, 1),
            "components": n_comp,
        }

        hf_dir = os.path.join(store, "hf")
        t0 = time.perf_counter()
        export_hf_layout(eng.pages.read(), hf_dir, shard_rows=200_000)
        dt = time.perf_counter() - t0
        out["export_hf"] = {
            "seconds": round(dt, 1),
            "rows_per_sec": round(n_pages / dt, 1),
        }
        pages.unpersist()
        _revalidation_stage(spark, out, cfg, pages_raw, seeds, robots,
                            docs)
    finally:
        shutil.rmtree(store, ignore_errors=True)
    return out


def _revalidation_stage(spark, out, cfg, pages_raw, seeds, robots, docs):
    """Revalidation at rehearsal scale (r4 verdict item 7): a second
    crawl round (its attempts carry the validators the url_state view
    reads), then mutate 1% of the live world and run a
    conditional-recrawl round over the stalest 2% — the 304 tier must
    skip fetch/parse (reval seconds << crawl seconds)."""
    from pyspark.sql import functions as F

    from legislation_scraper_spark.plans.crawl import CrawlEngine
    from legislation_scraper_spark.tables import Catalog

    store2 = tempfile.mkdtemp(
        prefix=f"rehearsal_rv_{docs}_", dir="/dev/shm"
    )
    try:
        eng2 = CrawlEngine(
            spark, Catalog(spark, store2), pages_raw, seeds, robots, cfg,
        )
        eng2.bootstrap()
        t0 = time.perf_counter()
        m2 = eng2.round(0)
        t_crawl = time.perf_counter() - t0
        mutated = pages_raw.withColumn(
            "html",
            F.when(
                F.xxhash64("url") % 100 == 0,
                F.concat(F.col("html"), F.lit(b"<!--rev-->")),
            ).otherwise(F.col("html")),
        )
        eng2.pages_raw = mutated
        budget = max(1000, m2["selected"] // 50)
        t0 = time.perf_counter()
        mrv = eng2.revalidation_round(1, budget)
        t_rv = time.perf_counter() - t0
        out["revalidation"] = {
            "crawl_state_seconds": round(t_crawl, 1),
            "crawl_state_urls_per_sec": round(
                m2["selected"] / t_crawl, 1),
            "budget": budget,
            "seconds": round(t_rv, 1),
            "urls_per_sec": round(
                mrv.get("revalidated", 0) / t_rv, 1),
            "revalidated": mrv.get("revalidated", 0),
            "not_modified": mrv.get("not_modified", 0),
            "refetched": mrv.get("refetched", 0),
            "saved_bytes": mrv.get("saved_bytes", 0),
        }
    finally:
        shutil.rmtree(store2, ignore_errors=True)


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--synth":
        # world synthesis in ITS OWN JVM: at 8M the synth job retains
        # ~80 GB of shuffle files on spark.local.dir until session end,
        # which left the stages' first disk spill a full /tmp (observed
        # ENOSPC, round 5) — a fresh process frees them before any
        # stage runs
        docs = int(sys.argv[2])
        spark = _session()
        try:
            _world(spark, docs)
        finally:
            spark.stop()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--worker":
        docs = int(sys.argv[2])
        spark = _session()
        try:
            print(json.dumps(rehearse(spark, docs)), flush=True)
        finally:
            spark.stop()
        return
    # one SUBPROCESS per size: a fresh JVM and fresh Python workers per
    # phase — the workers retain their high-water allocation by design
    # (session._tune_python_worker_allocators), so phases must not
    # inherit each other's residency
    import subprocess

    sizes = [int(a) for a in sys.argv[1:]] or [32000, 256000]
    for docs in sizes:
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--synth",
             str(docs)],
            capture_output=True, text=True,
            timeout=int(os.environ.get("LSS_REHEARSAL_TIMEOUT", "0")) or None,
        )
        if p.returncode != 0:
            sys.stderr.write(p.stderr[-4000:])
            raise SystemExit(f"rehearsal synth {docs} failed")
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--worker",
             str(docs)],
            # no wall cap: the 8M phase alone runs >2h cold (world
            # synthesis + six timed stages); a parent timeout would
            # also sever the worker's stdout pipe and lose its one
            # result line at print time
            capture_output=True, text=True,
            timeout=int(os.environ.get("LSS_REHEARSAL_TIMEOUT", "0")) or None,
        )
        if p.returncode != 0:
            sys.stderr.write(p.stderr[-4000:])
            raise SystemExit(f"rehearsal worker {docs} failed")
        print(p.stdout.strip().splitlines()[-1], flush=True)


if __name__ == "__main__":
    main()
