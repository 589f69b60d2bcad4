"""URL canonicalization semantics + seen-set correctness properties
(SURVEY.md §5 item 4: bloom false positives must never drop unseen
URLs; no false negatives by construction)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from legislation_scraper_spark.functions.urls import (
    canonicalize_url,
    salted_host,
    url_host,
)
from legislation_scraper_spark.operators.seen import (
    SeenSet,
    bloom_probe,
    build_bloom_shards,
    with_url_key,
)
from legislation_scraper_spark.tables import Catalog


CANON_CASES = [
    ("  https://WWW.Planalto.LEG.br/norma/1  ", "https://www.planalto.leg.br/norma/1"),
    ("https://a.br:443/x", "https://a.br/x"),
    ("http://a.br:80/x", "http://a.br/x"),
    ("https://a.br:8443/x", "https://a.br:8443/x"),
    ("https://a.br/x#frag", "https://a.br/x"),
    ("https://a.br/x/", "https://a.br/x"),
    # root with and without trailing slash unify to the same canon form
    ("https://a.br/", "https://a.br"),
    ("https://a.br", "https://a.br"),
    ("https://a.br/Path/CASE", "https://a.br/Path/CASE"),
]


def test_canonicalize(spark):
    df = spark.createDataFrame([(u,) for u, _ in CANON_CASES], "url string")
    got = [r[0] for r in df.select(canonicalize_url(F.col("url"))).collect()]
    want = [w for _, w in CANON_CASES]
    assert got == want


# URL-shaped text over printable ASCII plus the whitespace the rules
# touch: schemes in mixed case, default and odd ports, fragments,
# trailing slashes and spaces next to them
_url_text = st.builds(
    lambda pre, scheme, host, port, rest: f"{pre}{scheme}://{host}{port}{rest}",
    st.sampled_from(["", " ", "  "]),
    st.sampled_from(["http", "https", "HTTPS", "Http", "ftp"]),
    st.text(alphabet="aAbZ.-09 :", max_size=8),
    st.sampled_from(["", ":80", ":443", ":443:443", ":8443", ":"]),
    st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=126)
        | st.sampled_from(["\t", "\n", "/", "#", " "]),
        max_size=16,
    ),
)


@settings(max_examples=25, deadline=None)
@given(st.lists(st.one_of(_url_text, st.text(max_size=12)), min_size=1,
                max_size=40))
def test_canonicalize_url_idempotent(spark, urls):
    """canonicalize(canonicalize(u)) == canonicalize(u): the engine
    keys crawl_log and the seen filters with frontier_log's canon_url
    and never re-canonicalizes it, which is only sound for a fixed
    point."""
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    once = df.select(canonicalize_url(F.col("url")).alias("c"))
    twice = once.select("c", canonicalize_url(F.col("c")).alias("cc"))
    bad = [(r["c"], r["cc"]) for r in twice.collect() if r["c"] != r["cc"]]
    assert not bad, bad


def test_url_host(spark):
    df = spark.createDataFrame(
        [("https://WWW.X.br:8443/a?b#c",), ("http://y.br/z",)], "url string"
    )
    assert [r[0] for r in df.select(url_host(F.col("url"))).collect()] == [
        "www.x.br", "y.br",
    ]


def test_salted_host_preserves_host_prefix(spark):
    df = spark.createDataFrame(
        [(f"https://h{i%3}.br/{i}",) for i in range(100)], "url string"
    )
    out = df.select(
        url_host(F.col("url")).alias("h"),
        salted_host(url_host(F.col("url")), F.col("url"), 4).alias("s"),
    )
    rows = out.collect()
    assert all(r["s"].startswith(r["h"] + "#") for r in rows)
    # salt actually spreads each host over >1 bucket
    n_buckets = out.select("s").distinct().count()
    assert n_buckets > 3


@pytest.mark.parametrize("fpp", [0.01, 0.5])
def test_seen_set_exactness_under_bloom_fp(spark, tmp_path, fpp):
    """A filter log over-filled past its capacity (and fpp=0.5) makes
    the Bloom probe report unseen URLs as maybe-seen → the exact
    anti-join backstop must still pass every truly-unseen URL through."""
    cat = Catalog(spark, str(tmp_path / f"s{fpp}"))
    seen = SeenSet(
        cat.table("seen"), n_shards=4, fpp=fpp,
        filters_table=cat.table("seen_filters"), keys_per_shard=16,
    )
    seen_urls = spark.createDataFrame(
        [(f"https://a.br/doc/{i}",) for i in range(0, 1000, 2)], "url string"
    )
    seen.add(seen_urls)
    cand = spark.createDataFrame(
        [(f"https://a.br/doc/{i}",) for i in range(1000)], "url string"
    )
    keyed = with_url_key(cand, "url", seen.n_shards)
    probed = bloom_probe(keyed, seen.merged_filters(), seen._params())
    false_pos = probed.filter(
        F.col("maybe_seen")
        & (F.regexp_extract("url", r"(\d+)$", 1).cast("int") % 2 == 1)
    )
    assert false_pos.count() > 0  # the backstop is exercised
    out = seen.filter_unseen(keyed)
    got = sorted(r["url"] for r in out.collect())
    want = sorted(f"https://a.br/doc/{i}" for i in range(1, 1000, 2))
    assert got == want


def test_seen_add_idempotent(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "idem"))
    seen = SeenSet(cat.table("seen"), n_shards=4)
    urls = spark.createDataFrame(
        [(f"https://a.br/{i}",) for i in range(50)], "url string"
    )
    seen.add(urls)
    seen.add(urls)  # re-adding must not resurrect them as unseen
    out = seen.filter_unseen(with_url_key(urls, "url", seen.n_shards))
    assert out.count() == 0


def test_with_url_key_shards_stable(spark):
    df = with_url_key(
        spark.createDataFrame([("https://a.br/1",)], "url string"),
        n_shards=8,
    )
    r1 = df.collect()[0]
    r2 = df.collect()[0]
    assert r1["shard"] == r2["shard"] and 0 <= r1["shard"] < 8
    assert r1["url_hash"] == r2["url_hash"]


def test_incremental_filter_state_equivalent(spark, tmp_path):
    """Incremental delta-bitmap path: multiple adds, probe from the
    OR-merged filter log, never rescanning the seen table — results
    identical to the exact oracle (``ref``: no filter log, so every
    candidate takes the exact anti-join), before and after folding the
    delta log."""
    from pyspark.sql import functions as F

    from legislation_scraper_spark.operators.seen import SeenSet
    from legislation_scraper_spark.tables import Catalog

    urls = [(f"https://h{i % 5}.example/p{i}",) for i in range(400)]
    df = spark.createDataFrame(urls, "url string")

    cat = Catalog(spark, str(tmp_path / "inc"))
    inc = SeenSet(
        cat.table("seen"), n_shards=8,
        filters_table=cat.table("seen_filters"), keys_per_shard=1024,
    )
    cat2 = Catalog(spark, str(tmp_path / "stateless"))
    ref = SeenSet(cat2.table("seen"), n_shards=8)

    # three incremental batches
    for mod in (0, 1, 2):
        batch = df.filter(F.xxhash64("url") % 7 == mod)
        inc.add(batch, "url")
        ref.add(batch, "url")
    assert inc.filters_table.read().count() > 8  # true delta log

    def unseen(ss):
        keyed = with_url_key(df, "url", ss.n_shards)
        return sorted(
            r["url"] for r in ss.filter_unseen(keyed).select("url").collect()
        )

    expect = unseen(ref)
    assert unseen(inc) == expect
    # fold the delta log; results must not change
    inc.compact_filters()
    assert inc.filters_table.read().count() <= 8
    assert unseen(inc) == expect


class _DeltaLog:
    """Filter-log stand-in: ``read()`` is the union of the deltas."""

    def __init__(self, deltas):
        self.deltas = deltas

    def read(self):
        out = self.deltas[0]
        for d in self.deltas[1:]:
            out = out.unionByName(d)
        return out


_LONG = st.integers(-(2**63), 2**63 - 1)


@settings(max_examples=6, deadline=None)
@given(
    keys=st.lists(_LONG, max_size=50),
    cut=st.integers(0, 50),
    keys_per_shard=st.sampled_from([1, 4, 64]),
)
def test_bloom_has_no_false_negatives(spark, keys, cut, keys_per_shard):
    """Every key added, through one build or through delta builds
    OR-merged by merged_filters, probes maybe_seen: raw 64-bit hashes
    (the extremes always included), duplicates, and more keys per shard
    than the filter's capacity."""
    keys = keys + [-(2**63), 2**63 - 1, -1, 0]
    seen = SeenSet(None, n_shards=3, keys_per_shard=keys_per_shard)
    params = seen._params()

    def keyed(ks):
        return spark.createDataFrame([(k,) for k in ks], "url_hash long") \
            .withColumn("shard", F.pmod("url_hash", F.lit(3)).cast("int"))

    seen.filters_table = _DeltaLog([
        build_bloom_shards(keyed(part), params, 3)
        for part in (keys[:cut], keys[cut:])
    ])
    every = keyed(keys)
    probes = {
        "build": build_bloom_shards(every, params, 3),
        "merged": seen.merged_filters(),
    }
    out = None
    for via, shards in probes.items():
        p = bloom_probe(every, shards, params).withColumn("via", F.lit(via))
        out = p if out is None else out.unionByName(p)
    missed = [(r["via"], r["url_hash"]) for r in out.collect()
              if not r["maybe_seen"]]
    assert not missed, missed


def test_empty_filter_log_falls_back_to_exact_join(spark, tmp_path):
    """filters_table configured but its delta log empty while the exact
    seen table is NOT (store predates the incremental path, or rows were
    appended bypassing add()): filter_unseen must run the exact
    anti-join on every candidate, not return every candidate as
    unseen."""
    from pyspark.sql import functions as F

    from legislation_scraper_spark.operators.seen import (
        SeenSet, with_url_key,
    )
    from legislation_scraper_spark.tables import Catalog

    urls = [(f"https://h{i % 5}.example/p{i}",) for i in range(200)]
    df = spark.createDataFrame(urls, "url string")
    seen_urls = df.filter(F.xxhash64("url") % 3 == 0)

    cat = Catalog(spark, str(tmp_path / "legacy"))
    # seed the exact table directly (the "legacy store" path — no deltas)
    legacy = SeenSet(cat.table("seen"), n_shards=8)
    legacy.add(seen_urls, "url")

    # resume with the incremental engine over the same store
    inc = SeenSet(
        cat.table("seen"), n_shards=8,
        filters_table=cat.table("seen_filters"), keys_per_shard=1024,
    )
    keyed = with_url_key(df, "url", 8)
    got = sorted(
        r["url"] for r in inc.filter_unseen(keyed).select("url").collect()
    )
    expect = sorted(
        r["url"] for r in legacy.filter_unseen(keyed).select("url").collect()
    )
    assert got == expect
    assert len(got) < 200  # seen URLs actually filtered out


def test_filter_delta_is_one_file_built_in_parallel(spark, tmp_path):
    """Without AQE, as inside a crawl round, a filter-log commit is one
    file, and the bitmap build after the shard shuffle still runs one
    task per shuffle partition: the write is sized by repartitioning
    the per-shard bitmaps, not by a coalesce that would narrow the
    build stage to the file count."""
    import os

    cat = Catalog(spark, str(tmp_path / "sized"))
    seen = SeenSet(
        cat.table("seen"), n_shards=8, filters_table=cat.table("seen_filters"),
    )
    urls = [(f"https://h{i % 5}.example/p{i}",) for i in range(400)]
    # one input partition: only the build stage can run several tasks
    keyed = with_url_key(
        spark.createDataFrame(urls, "url string").coalesce(1), "url", 8
    )
    key = "spark.sql.adaptive.enabled"
    prior = spark.conf.get(key)
    sc = spark.sparkContext
    spark.conf.set(key, "false")
    sc.setJobGroup("seen-filter-delta", "filter delta append")
    try:
        seen.add_filters(keyed)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set(key, prior)
    tracker = sc.statusTracker()
    tasks = [
        tracker.getStageInfo(s).numTasks
        for j in tracker.getJobIdsForGroup("seen-filter-delta")
        for s in tracker.getJobInfo(j).stageIds
    ]
    assert max(tasks) == int(spark.conf.get("spark.sql.shuffle.partitions")), (
        tasks
    )
    (s,) = seen.filters_table.snapshot().file_sets
    assert len([f for f in os.listdir(s) if f.endswith(".parquet")]) == 1


def test_registered_domain_psl_subset(spark):
    from legislation_scraper_spark.functions.urls import registered_domain

    cases = {
        "portal.camara.leg.br": "camara.leg.br",
        "www.planalto.gov.br": "planalto.gov.br",
        "a.b.c.com": "c.com",
        "x.br": "x.br",          # 'br' alone is a 1-label suffix
        "leg.br": "leg.br",      # host AT suffix depth returns itself
        "WWW.Senado.LEG.BR": "senado.leg.br",  # case-folded
        "localhost": "localhost",
        "deep.sub.tree.gov.uk": "tree.gov.uk",
    }
    df = spark.createDataFrame([(h,) for h in cases], "host string")
    got = {
        r["host"]: r["d"]
        for r in df.select(
            "host", registered_domain(F.col("host")).alias("d")
        ).collect()
    }
    assert got == cases


def test_robots_policy_table_feeds_engine_schema(spark):
    from legislation_scraper_spark.sources.sitemap import (
        robots_policy_table,
    )

    bodies = spark.createDataFrame(
        [
            ("open.org", "User-agent: *\nDisallow: /admin\n"),
            ("slow.org", "User-agent: *\nDisallow: /x\nCrawl-delay: 3\n"),
            ("closed.org", "User-agent: *\nDisallow: /\n"),
            ("empty.org", ""),
        ],
        "host string, body string",
    )
    rows = {
        r["host"]: r
        for r in robots_policy_table(
            bodies, agent="*", default_delay_ms=500, max_parallel=2
        ).collect()
    }
    tbl = robots_policy_table(bodies)
    assert [f.name for f in tbl.schema.fields] == [
        "host", "allow", "crawl_delay_ms", "max_parallel"
    ]
    assert rows["open.org"]["allow"] is True
    assert rows["closed.org"]["allow"] is False
    assert rows["empty.org"]["allow"] is True      # no rules -> allowed
    assert rows["slow.org"]["crawl_delay_ms"] == 3000
    assert rows["open.org"]["crawl_delay_ms"] == 500   # default fallback
    assert all(r["max_parallel"] == 2 for r in rows.values())
