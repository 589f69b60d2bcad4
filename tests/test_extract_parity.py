"""Byte-parity gate: extraction from html must equal the golden text
for EVERY url in the synthetic world, across all four source families,
including the base64-PDF OCR-fallback path and error pages.
(BASELINE.json: "byte-identical extracted text per url".)
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from legislation_scraper_spark.operators.extract import (
    extract_doc,
    make_parse_page,
)
from legislation_scraper_spark.synth import PAGE_SIZE, synth_world


@pytest.fixture(scope="module")
def world(spark):
    w = synth_world(spark, seed=42, docs_per_source=40, skew=5, partitions=8)
    return {k: v.cache() for k, v in w.items()}


def test_doc_extraction_byte_identical(world):
    docs = world["pages_raw"].filter(~F.col("url").contains("/busca"))
    rec = docs.select("url", "text", extract_doc("html").alias("r"))
    bad = rec.filter(
        (F.col("r.text") != F.col("text"))
        | F.col("r.text").isNull()
    )
    rows = bad.select("url", "text", "r.text").limit(5).collect()
    assert not rows, f"parity broken for {bad.count()} urls, e.g. {rows}"


def test_doc_metadata_matches_golden(world):
    docs = world["pages_raw"].filter(~F.col("url").contains("/busca"))
    rec = docs.select("url", extract_doc("html").alias("r"))
    gm = world["golden_meta"]
    j = rec.join(gm, rec.url == gm.document_url)
    mism = j.filter(
        (F.col("r.title") != F.col("title"))
        | (F.col("r.type") != F.col("type"))
        | (F.col("r.year") != F.col("year"))
        | (F.col("r.summary") != F.col("summary"))
        | (F.col("r.is_error") != F.col("is_error"))
        | (~F.col("is_error") & (F.col("r.situation") != F.col("situation")))
    )
    rows = mism.select("url", "r", "title", "situation").limit(5).collect()
    assert not rows, f"metadata mismatches: {rows}"


def test_error_pages_flagged(world):
    docs = world["pages_raw"].filter(~F.col("url").contains("/busca"))
    rec = docs.select("url", "text", extract_doc("html").alias("r"))
    gm = world["golden_meta"].filter(F.col("is_error"))
    n_err_gold = gm.count()
    n_err_got = rec.filter(F.col("r.is_error")).count()
    assert n_err_gold == n_err_got
    assert n_err_gold > 0, "world should contain some error pages"


def test_search_page_links(world):
    search = world["pages_raw"].filter(F.col("url").contains("/busca"))
    # the crawl engine's own parse UDF, dispatching on the URL shape
    parse_page = make_parse_page("/busca")
    links = search.select("url", parse_page("url", "html").l.alias("l"))
    first = links.filter(F.col("url").endswith("page=0")).collect()
    assert len(first) > 0
    for r in first:
        assert 0 < len(r["l"]["doc_links"]) <= PAGE_SIZE
        assert r["l"]["total"] is not None and r["l"]["total"] > 0
        if r["l"]["total"] > PAGE_SIZE:
            assert r["l"]["next_link"].endswith("page=1")
    # total link count == total docs
    n_links = links.select(
        F.explode("l.doc_links").alias("u")
    ).distinct().count()
    n_docs = world["golden_meta"].count()
    assert n_links == n_docs


def test_ocr_fallback_docs_exist(world):
    """The PDF/OCR path must actually be exercised by the world."""
    gm = world["golden_meta"]
    pdfish = gm.filter(
        (F.col("source").isin("planalto", "icmbio", "mato-grosso"))
        & ~F.col("is_error")
    )
    assert pdfish.count() > 0


def test_ficha_enrichment_matches_golden(world):
    """J2 payload parity: themes/keywords arrays and the extras map
    (promulgation/project) extracted from family-0 ficha blocks equal
    the synth goldens, including the absent-section → NULL semantics
    (sao_paulo.py:202-236 ``_get_norm_data``)."""
    docs = world["pages_raw"].filter(~F.col("url").contains("/busca"))
    rec = docs.select("url", extract_doc("html").alias("r"))
    gm = world["golden_meta"]
    j = rec.join(gm, rec.url == gm.document_url)

    def ne(a, b):  # null-safe inequality
        return ~F.col(a).eqNullSafe(F.col(b))

    mism = j.filter(
        ne("r.themes", "themes")
        | ne("r.keywords", "keywords")
        | ~F.element_at("r.extras", "promulgation").eqNullSafe(
            F.col("promulgacao")
        )
        | ~F.element_at("r.extras", "project").eqNullSafe(F.col("projeto"))
    )
    rows = mism.select(
        "url", "r.themes", "themes", "r.extras", "promulgacao", "projeto"
    ).limit(5).collect()
    assert not rows, f"ficha mismatches: {rows}"
    # the world must exercise every presence combination
    fam0 = j.filter(F.col("url").contains("planalto"))
    assert fam0.filter(F.col("themes").isNull()).count() > 0
    assert fam0.filter(F.size("themes") >= 2).count() > 0
    assert fam0.filter(F.col("keywords").isNull()).count() > 0
    assert fam0.filter(F.col("promulgacao").isNull()).count() > 0
    # non-family-0 sources carry no ficha at all
    assert (
        j.filter(F.col("url").contains("senado"))
        .filter(F.col("r.themes").isNotNull())
        .count()
        == 0
    )


def test_ascii_fold_reference_sanitizer_fixtures(spark):
    """Unidecode-parity fixtures for the sink sanitizer
    (saver.py:119-125 uses unidecode + regex).  Expected outputs are
    unidecode's for every Latin case; Greek/Cyrillic follow standard
    romanization (documented divergence: soft/hard signs dropped).
    Asserts the JVM codegen path == the straight-line Python twin ==
    the fixture, over one DataFrame pass."""
    from legislation_scraper_spark.functions.text import (
        ascii_fold, ascii_fold_py, ascii_slug,
    )

    cases = [
        ("Situação: REVOGADA", "Situacao: REVOGADA", "situacao_revogada"),
        ("Não consta revogação expressa", "Nao consta revogacao expressa",
         "nao_consta_revogacao_expressa"),
        ("Łódź–Ørsted Æther ß", "Lodz–Orsted AEther ss",
         "lodz_orsted_aether_ss"),
        ("DECRETO Nº 12.345", "DECRETO No 12.345", "decreto_no_12_345"),
        ("Δίκαιο και Ψυχή", "Dikaio kai Psukhe", "dikaio_kai_psukhe"),
        ("Москва щи Жук", "Moskva shchi Zhuk", "moskva_shchi_zhuk"),
        ("ĳsselmeer ﬁm", "ijsselmeer fim", "ijsselmeer_fim"),
    ]
    df = spark.createDataFrame([(s,) for s, _, _ in cases], "s string")
    got = df.select(
        "s", ascii_fold(F.col("s")).alias("fold"),
        ascii_slug(F.col("s")).alias("slug"),
    ).collect()
    by_s = {r["s"]: r for r in got}
    for s, want_fold, want_slug in cases:
        assert by_s[s]["fold"] == want_fold, (s, by_s[s]["fold"])
        assert by_s[s]["slug"] == want_slug, (s, by_s[s]["slug"])
        assert ascii_fold_py(s) == want_fold, (s, ascii_fold_py(s))
