"""Round-4 batch-14 operators: registrable-domain (PSL) politeness,
RFC 9110 Retry-After parsing, OPIC crawl-ordering scores."""

from __future__ import annotations

import pyspark.sql.functions as F

from legislation_scraper_spark.functions.urls import registrable_domain
from legislation_scraper_spark.operators.fetch import parse_retry_after
from legislation_scraper_spark.operators.graph import opic
from legislation_scraper_spark.operators.politeness import (
    schedule_by_domain,
)


# --- registrable_domain ----------------------------------------------


def _fold(spark, hosts):
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    rows = df.select(
        "host", registrable_domain(F.col("host")).alias("d")
    ).collect()
    return {r["host"]: r["d"] for r in rows}

def test_registrable_domain_psl_cases(spark):
    got = _fold(
        spark,
        [
            "www.camara.leg.br",      # 2-label suffix
            "a.b.c.planalto.gov.br",  # deep subdomain chain
            "news.example.co.uk",
            "example.com",            # 1-label suffix
            "sub.example.com",
            "farm123.blogspot.com",   # private-section suffix
            "example.weirdtld",       # implicit-* rule: unlisted TLD
            "a.example.weirdtld",
            "gov.br",                 # host IS a suffix → pass-through
            "localhost",              # single label → pass-through
            "MiXeD.ExAmPlE.CoM",      # case fold
        ],
    )
    assert got["www.camara.leg.br"] == "camara.leg.br"
    assert got["a.b.c.planalto.gov.br"] == "planalto.gov.br"
    assert got["news.example.co.uk"] == "example.co.uk"
    assert got["example.com"] == "example.com"
    assert got["sub.example.com"] == "example.com"
    # blogspot.com is itself a suffix: the farm subdomain is the
    # registrable unit (longest match beats the plain "com" rule)
    assert got["farm123.blogspot.com"] == "farm123.blogspot.com"
    assert got["example.weirdtld"] == "example.weirdtld"
    assert got["a.example.weirdtld"] == "example.weirdtld"
    assert got["gov.br"] == "gov.br"
    assert got["localhost"] == "localhost"
    assert got["MiXeD.ExAmPlE.CoM"] == "example.com"


def test_schedule_by_domain_caps_subdomain_farm(spark):
    rows = [
        (f"https://u{i}", f"b{i % 5}.site{i % 2}.com.br", 0, i)
        for i in range(40)
    ]
    fr = spark.createDataFrame(
        rows, "url string, host string, priority int, doc_id long"
    )
    sel = schedule_by_domain(fr, per_domain_budget=3)
    per_dom = {
        r["domain"]: r["n"]
        for r in sel.groupBy("domain").agg(F.count("*").alias("n")).collect()
    }
    # 2 registrable domains × 3 slots, despite 10 hostnames
    assert per_dom == {"site0.com.br": 3, "site1.com.br": 3}
    # deterministic pick: lowest (priority, doc_id) first
    got = sorted(
        r["doc_id"] for r in sel.filter(F.col("domain") == "site0.com.br")
        .select("doc_id").collect()
    )
    assert got == [0, 2, 4]


# --- parse_retry_after ------------------------------------------------


def test_retry_after_both_wire_forms(spark):
    df = spark.createDataFrame(
        [
            ("120",),
            ("0",),
            ("Wed, 21 Oct 2015 07:28:00 GMT",),
            ("not a date",),
            (None,),
            # hostile: 20 digits matches a naive ^[0-9]+$ but overflows
            # a long cast, which throws under ANSI mode -- must be NULL
            ("99999999999999999999",),
            # leading zeros are still delta-seconds, however many
            ("000000000005",),
            # fits in a long, but now + value overflows it
            ("9223372036854775807",),
        ],
        "v string",
    )
    now = 1_000_000
    got = [
        r["s"]
        for r in df.select(
            parse_retry_after(F.col("v"), F.lit(now)).alias("s")
        ).collect()
    ]
    assert got[0] == now + 120
    assert got[1] == now
    assert got[2] == 1445412480  # epoch of 2015-10-21T07:28:00Z
    assert got[3] is None
    assert got[4] is None
    assert got[5] is None
    assert got[6] == now + 5
    assert got[7] is None


def test_retry_after_format_parse_roundtrip(spark):
    base = 1704067200
    df = spark.range(0, 500).select(
        (F.lit(base) + F.col("id") * 61 % 86400).alias("epoch")
    )
    s = df.select(
        "epoch",
        parse_retry_after(
            F.date_format(
                F.timestamp_seconds(F.col("epoch")),
                "EEE, dd MMM yyyy HH:mm:ss 'GMT'",
            ),
            F.lit(0),
        ).alias("back"),
    )
    assert s.filter(F.col("back") != F.col("epoch")).count() == 0


# --- opic -------------------------------------------------------------


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def test_opic_hand_graph(spark):
    # a -> b, a -> c, b -> a; c dangling
    e = _edges(spark, [("a", "b"), ("a", "c"), ("b", "a")])
    got = {
        r["node"]: r
        for r in opic(e, iters=1, checkpoint=False).collect()
    }
    third = 1.0 / 3.0
    # step 1: hist = initial cash; cash flows a→{b,c} (1/6 each),
    # b→a (1/3), c (dangling) returns 1/3 uniformly (1/9 each)
    assert abs(got["a"]["cash"] - (third + third / 3)) < 1e-12
    assert abs(got["b"]["cash"] - (third / 2 + third / 3)) < 1e-12
    assert abs(got["c"]["cash"] - (third / 2 + third / 3)) < 1e-12
    for n in "abc":
        assert abs(got[n]["hist"] - third) < 1e-12
        assert abs(
            got[n]["score"] - (got[n]["hist"] + got[n]["cash"]) / 2
        ) < 1e-12


def test_opic_cash_conserved_and_scores_sum_to_one(spark):
    e = _edges(
        spark,
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("a", "c"),
         ("e", "a")],  # e has no in-links; d->a cycle; no dangling? e IS linked from nobody but has out
    )
    out = opic(e, iters=3, checkpoint=False)
    agg = out.agg(
        F.sum("cash").alias("c"), F.sum("hist").alias("h"),
        F.sum("score").alias("s"),
    ).collect()[0]
    assert abs(agg["c"] - 1.0) < 1e-9      # cash conserved each step
    assert abs(agg["h"] - 3.0) < 1e-9      # one unit banked per step
    assert abs(agg["s"] - 1.0) < 1e-9


def test_opic_empty_graph(spark):
    e = _edges(spark, []).filter("1=0")
    assert opic(e, iters=2).count() == 0
