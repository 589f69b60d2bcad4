"""Snapshot expiry: orphaned data removed, live data + lineage +
checkpoint-protected time travel intact."""

from __future__ import annotations

import os

from legislation_scraper_spark.tables import Catalog


def _rows(df):
    return sorted(r["x"] for r in df.collect())


def test_expire_removes_orphans_keeps_exactness(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    t = cat.table("t")
    t.append(spark.range(3).selectExpr("id AS x"))
    t.append(spark.range(3, 5).selectExpr("id AS x"))
    assert t.compact() is not None          # v3 = rewrite
    t.append(spark.range(5, 6).selectExpr("id AS x"))  # v4
    n_sets_before = len(os.listdir(t.data_dir))
    stats = t.expire_snapshots(keep_last=2)
    # v1/v2 manifests gone; their two pre-compaction dirs deleted
    assert t.versions() == [3, 4]
    assert stats["snapshots_removed"] == 2
    assert stats["file_sets_removed"] == 2
    assert len(os.listdir(t.data_dir)) == n_sets_before - 2
    assert _rows(t.read()) == [0, 1, 2, 3, 4, 5]
    assert t.approx_rows() == 6             # lineage chain still exact
    assert _rows(t.read(version=3)) == [0, 1, 2, 3, 4]  # kept time travel


def test_expire_append_only_walks_back_to_chain_start(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    t = cat.table("t")
    for lo, hi in [(0, 2), (2, 4), (4, 6)]:
        t.append(spark.range(lo, hi).selectExpr("id AS x"))
    stats = t.expire_snapshots(keep_last=1)
    # pure append chain: every file is live and every manifest is needed
    # to attribute rows — nothing may be deleted
    assert stats == {"snapshots_removed": 0, "file_sets_removed": 0}
    assert t.versions() == [1, 2, 3]
    assert t.approx_rows() == 6


def test_approx_rows_exact_for_protected_version_after_expiry(
    spark, tmp_path
):
    """ADVICE r2 item 1: a checkpoint-protected APPEND version below
    the expiry horizon loses its predecessor manifests — the cumulative
    total_rows stored per manifest must keep approx_rows exact both for
    that version and after a checkpoint restore + resume append."""
    cat = Catalog(spark, str(tmp_path))
    t = cat.table("t")
    t.append(spark.range(3).selectExpr("id AS x"))            # v1: 3 rows
    v2 = t.append(spark.range(3, 5).selectExpr("id AS x"))    # v2: +2
    cat.save_checkpoint(1, {"t": v2})
    t.overwrite(spark.range(9).selectExpr("id AS x"))         # v3: rewrite
    t.append(spark.range(9, 10).selectExpr("id AS x"))        # v4
    cat.save_checkpoint(2, {"t": t.current_version()})
    cat.expire_all(keep_last=2, keep_checkpoints=2)
    # v1's manifest is gone; v2 is protected and must still count v1
    assert 1 not in t.versions() and 2 in t.versions()
    assert t.approx_rows(version=v2) == 5
    # roll back to the protected checkpoint and resume-append
    t.rollback(v2)
    t.append(spark.range(5, 8).selectExpr("id AS x"))
    assert t.approx_rows() == 8
    assert _rows(t.read()) == [0, 1, 2, 3, 4, 5, 6, 7]


def test_concurrent_appends_serialize(spark, tmp_path):
    """VERDICT r2 item 9: two writers sharing one table must not drop
    a commit — the exclusive manifest claim + rebuild-on-conflict
    serializes them (last-writer-wins on latest.json was the bug)."""
    from concurrent.futures import ThreadPoolExecutor

    cat = Catalog(spark, str(tmp_path))
    t = cat.table("t")

    def writer(k: int) -> None:
        # each "engine" opens its own Table handle on the shared store
        mine = Catalog(spark, str(tmp_path)).table("t")
        for j in range(4):
            mine.append(
                spark.range(k * 100 + j * 10, k * 100 + j * 10 + 2)
                .selectExpr("id AS x")
            )

    with ThreadPoolExecutor(max_workers=4) as pool:
        for f in [pool.submit(writer, k) for k in range(4)]:
            f.result()
    # every commit survived: 16 appends × 2 rows, contiguous versions
    assert t.versions() == list(range(1, 17))
    assert t.approx_rows() == 32
    assert len(_rows(t.read())) == 32


def test_expire_all_protects_checkpoints(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    t = cat.table("t")
    v1 = t.append(spark.range(2).selectExpr("id AS x"))
    cat.save_checkpoint(1, {"t": v1})
    t.overwrite(spark.range(9).selectExpr("id AS x"))   # v2
    t.overwrite(spark.range(4).selectExpr("id AS x"))   # v3
    cat.save_checkpoint(2, {"t": t.current_version()})
    cat.expire_all(keep_last=1, keep_checkpoints=2)
    # v1 is below the keep horizon but checkpoint-protected; v2 is not
    assert t.versions() == [1, 3]
    assert _rows(t.read(version=1)) == [0, 1]
    assert cat.restore_last_checkpoint() == 2
    assert _rows(t.read()) == [0, 1, 2, 3]


def test_bucketed_expiry_trims_manifests_keeps_data(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    log = cat.bucketed_log("log", "x", 4)
    log.append(spark.range(8).selectExpr("id AS x"))
    log.append(spark.range(8, 16).selectExpr("id AS x"))
    replaced = log.snapshot().file_sets
    assert log.compact() is not None
    # compaction leaves the replaced commit dirs in place (rollback
    # below it must stay readable); expiry trims the pre-compaction
    # manifests AND removes the dirs no surviving manifest names
    import os as _os

    assert all(_os.path.isdir(d) for d in replaced)
    stats = log.expire_snapshots(keep_last=1)
    assert stats["snapshots_removed"] == 2
    assert stats["file_sets_removed"] == len(replaced)
    assert not [d for d in replaced if _os.path.exists(d)]
    assert log.versions() == [3]
    assert sorted(
        _os.path.join(log.data_dir, d) for d in _os.listdir(log.data_dir)
    ) == log.snapshot().file_sets
    assert _rows(log.read()) == list(range(16))


def test_crawl_with_periodic_expiry_matches_plain_run(spark, tmp_path):
    """A crawl that expires snapshots every 2 rounds must produce the
    same pages and visit set as one that never expires — expiry only
    reclaims history the engine no longer needs."""
    from legislation_scraper_spark.plans.crawl import (
        CrawlConfig,
        CrawlEngine,
    )
    from legislation_scraper_spark.synth import synth_world

    w = synth_world(spark, seed=11, docs_per_source=8, skew=2,
                    n_sources=3, partitions=4, budget_base=4)

    def run(store, **cfg_kw):
        cat = Catalog(spark, str(store))
        eng = CrawlEngine(
            spark, cat, w["pages_raw"], w["seeds"], w["robots"],
            CrawlConfig(n_shards=4, fetch_partitions=4, **cfg_kw),
        )
        eng.run(max_rounds=30)
        pages = eng.pages.read()
        visited = eng.crawl_log.read()
        return (
            sorted(r["document_url"] for r in pages.collect()),
            sorted(r["canon_url"] for r in visited.collect()),
        )

    plain = run(tmp_path / "plain")
    expiring = run(
        tmp_path / "exp",
        expire_every_rounds=2,
        expire_keep_snapshots=2,
        expire_keep_checkpoints=1,
    )
    assert expiring == plain
