"""Extraction operators: HTML → document record / link records.

The reference extracts per-source with BeautifulSoup selectors + MarkItDown
(/root/reference/src/scraper/federal_legislation/scrape.py:187-245,
base/scraper.py:381-429).  Here extraction is a *vectorized pandas UDF*
(Arrow batches, no per-row Python dispatch from the JVM — input_hint
mandate), one regex-driven parser per source family:

- family 0 "content_div": isolate ``<div id="texto-norma">``, unwrap
  ``<p>`` paragraphs (content-div isolation, scrape.py:214-222);
  PDF variant: base64 ``<object id="pdf">`` decoded when the visible
  text is a short teaser (≤200 chars ⇒ OCR fallback, base/scraper.py:344,
  alagoas.py:104-107 — deterministic stand-in for the LLM-OCR branch).
- family 1 "table_rows": ``<table class="norma">`` rows minus header
  rows (row-shape filter, icmbio/scrape.py:88-94).
- family 2 "header_strip": literal header/footer strips (acre.py:45-46,
  107-110) and *inferred* situation via the revogado regex
  (parana.py:108-111) because the page carries no situation metadata.
- family 3 "plain_div": ``<div id="conteudo">``; error pages
  ("A página não pode ser exibida", rio_grande_do_sul.py:131-165) are
  flagged and routed to the error sink.

Byte parity: ``extract_doc(html) == pages_raw.text`` for every URL —
enforced by tests/test_extract_parity.py over the whole synthetic world.
"""

from __future__ import annotations

import base64
import html as html_mod
import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)

# --- regexes (compiled once per executor) ----------------------------------

_RE_META = re.compile(r'<meta name="dc\.(\w+)" content="([^"]*)">')
_RE_TEXTO_NORMA = re.compile(r'<div id="texto-norma">(.*?)</div>', re.S)
_RE_CONTEUDO = re.compile(r'<div id="conteudo">(.*?)</div>', re.S)
_RE_TABLE = re.compile(r'<table class="norma">(.*?)</table>', re.S)
_RE_TR = re.compile(r'<tr(?: class="(\w+)")?><td>(.*?)</td></tr>', re.S)
_RE_TEXTO_DIV = re.compile(r'<div class="texto">(.*?)</div>', re.S)
_RE_PDF_OBJ = re.compile(
    r'<object id="pdf"[^>]*data="data:application/pdf;base64,([^"]*)"'
)
_RE_ERROR = re.compile(r"<h1>A página não pode ser exibida</h1>")
_RE_REVOKED = re.compile(r"revogad[oa] pel", re.I)
_RE_RES_LINK = re.compile(r'<a class="res" href="([^"]+)">')
# --- ficha (norm-data) enrichment: sao_paulo.py:202-236 semantics ----------
# find("label", text=X).find_next(...): absent section => None (NOT []),
# present-but-empty label => "" — mirrored here bit-for-bit.
_RE_FICHA_PROM = re.compile(
    r"<label>Promulgação</label>\s*<label>([^<]*)</label>"
)
_RE_FICHA_PROJ = re.compile(r"<label>Projeto</label>\s*<label>([^<]*)</label>")
_RE_FICHA_TEMAS = re.compile(r"<label>Temas</label>\s*<div[^>]*>(.*?)</div>", re.S)
_RE_FICHA_KW = re.compile(
    r"<label>Palavras-chave</label>\s*<div[^>]*>(.*?)</div>", re.S
)
_RE_BUTTON = re.compile(r"<button[^>]*>([^<]*)</button>")
_RE_A_TEXT = re.compile(r"<a[^>]*>([^<]*)</a>")
_RE_NEXT_LINK = re.compile(r'<a class="next" href="([^"]+)">')
_RE_TOTAL = re.compile(r"Total de registros:\s*(\d+)")

HEADER_LIT = "GOVERNO DO ESTADO - DIÁRIO OFICIAL"
FOOTER_LIT = "Imprimir | Voltar ao topo"
OCR_SHORT_THRESHOLD = 200  # cf. base/scraper.py:344
DEFAULT_SITUATION = "Não consta revogação expressa"
# the error of a fetched document with no record or an error page, in
# the crawl engine and its simulator alike
PARSE_ERROR = "parse error / empty document"


def _unwrap_paras(inner: str) -> str:
    inner = inner.strip()
    if inner.startswith("<p>") and inner.endswith("</p>"):
        inner = inner[3:-4]
    return html_mod.unescape(inner.replace("</p><p>", "\n\n"))


def _extract_ficha(h: str) -> tuple:
    """(themes, keywords, extras) — the J2 enrichment payload.

    Reference parity (sao_paulo.py:202-236 ``_get_norm_data``): each
    section is looked up independently; a missing section yields None
    (soup.find returns None), a present Temas/Palavras-chave section
    yields the list of button/anchor texts (possibly empty).  The odd
    per-source scalar fields (promulgation, project) ride in an
    ``extras`` MAP<STRING,STRING> per SURVEY.md §1.4's overflow-column
    disposition; both keys are always present, mirroring the
    reference's returned dict shape."""
    m = _RE_FICHA_PROM.search(h)
    prom = html_mod.unescape(m.group(1)) if m else None
    m = _RE_FICHA_PROJ.search(h)
    proj = html_mod.unescape(m.group(1)) if m else None
    m = _RE_FICHA_TEMAS.search(h)
    themes = (
        [html_mod.unescape(t) for t in _RE_BUTTON.findall(m.group(1))]
        if m
        else None
    )
    m = _RE_FICHA_KW.search(h)
    keywords = (
        [html_mod.unescape(t) for t in _RE_A_TEXT.findall(m.group(1))]
        if m
        else None
    )
    return themes, keywords, {"promulgation": prom, "project": proj}


def _extract_one(raw: bytes) -> tuple:
    h = raw.decode("utf-8", errors="replace") if isinstance(raw, (bytes, bytearray)) else str(raw)
    meta = dict(_RE_META.findall(h))
    title = html_mod.unescape(meta.get("title", ""))
    summary = html_mod.unescape(meta.get("summary", ""))
    ntype = meta.get("type", "")
    year = int(meta["year"]) if meta.get("year", "").isdigit() else None
    themes, keywords, extras = _extract_ficha(h)
    if _RE_ERROR.search(h):
        return (title, ntype, year, meta.get("situation", ""), summary, "",
                True, themes, keywords, extras)
    text = None
    m = _RE_TEXTO_NORMA.search(h)
    if m:
        text = _unwrap_paras(m.group(1))
        # OCR fallback: visible text too short + embedded PDF present
        if len(text) <= OCR_SHORT_THRESHOLD:
            pdf = _RE_PDF_OBJ.search(h)
            if pdf:
                text = base64.b64decode(
                    re.sub(r"\s", "", pdf.group(1))
                ).decode("utf-8")
    if text is None:
        m = _RE_TABLE.search(h)
        if m:
            paras = [
                html_mod.unescape(body)
                for cls, body in _RE_TR.findall(m.group(1))
                if cls != "hdr"
            ]
            text = "\n\n".join(paras)
    if text is None:
        m = _RE_TEXTO_DIV.search(h)
        if m:
            inner = html_mod.unescape(m.group(1))
            if inner.startswith(HEADER_LIT):
                inner = inner[len(HEADER_LIT):]
            if inner.endswith(FOOTER_LIT):
                inner = inner[: -len(FOOTER_LIT)]
            text = inner.strip("\n")
    if text is None:
        m = _RE_CONTEUDO.search(h)
        if m:
            text = _unwrap_paras(m.group(1))
    if text is None:
        return (title, ntype, year, meta.get("situation", ""), summary, "",
                True, themes, keywords, extras)
    situation = meta.get("situation")
    if situation is None:
        situation = (
            "Revogada" if _RE_REVOKED.search(text) else DEFAULT_SITUATION
        )
    return (title, ntype, year, situation, summary, text, False,
            themes, keywords, extras)


DOC_RECORD_TYPE = StructType(
    [
        StructField("title", StringType()),
        StructField("type", StringType()),
        StructField("year", IntegerType()),
        StructField("situation", StringType()),
        StructField("summary", StringType()),
        StructField("text", StringType()),
        StructField("is_error", BooleanType()),
        # J2 enrichment payload (appended last: positional consumers of
        # the original seven fields are unaffected)
        StructField("themes", ArrayType(StringType())),
        StructField("keywords", ArrayType(StringType())),
        StructField("extras", MapType(StringType(), StringType())),
    ]
)


@F.pandas_udf(DOC_RECORD_TYPE)
def extract_doc(html: pd.Series) -> pd.DataFrame:
    rows = [_extract_one(b) for b in html]
    return pd.DataFrame(
        rows,
        columns=[
            "title", "type", "year", "situation", "summary", "text",
            "is_error", "themes", "keywords", "extras",
        ],
    )


LINKS_TYPE = StructType(
    [
        StructField("doc_links", ArrayType(StringType())),
        StructField("next_link", StringType()),
        StructField("total", IntegerType()),
    ]
)

PARSE_TYPE = StructType(
    [StructField("rec", DOC_RECORD_TYPE), StructField("l", LINKS_TYPE)]
)

_DOC_KEYS = ["title", "type", "year", "situation", "summary", "text",
             "is_error", "themes", "keywords", "extras"]


def make_parse_page(search_marker: str = "/busca"):
    """Combined single-pass parser: document record OR link record per
    row, dispatched on URL shape.  One Arrow round-trip of the body per
    crawl round (body bytes are the dominant Python-boundary traffic)."""

    @F.pandas_udf(PARSE_TYPE)
    def parse_page(url: pd.Series, html: pd.Series) -> pd.DataFrame:
        recs, links = [], []
        for u, raw in zip(url, html):
            if raw is None:
                recs.append(None)
                links.append(None)
                continue
            if search_marker in (u or ""):
                h = (
                    raw.decode("utf-8", errors="replace")
                    if isinstance(raw, (bytes, bytearray))
                    else str(raw)
                )
                found = _RE_RES_LINK.findall(h)
                nxt = _RE_NEXT_LINK.search(h)
                tot = _RE_TOTAL.search(h)
                links.append(
                    {
                        "doc_links": found,
                        "next_link": nxt.group(1) if nxt else None,
                        "total": int(tot.group(1)) if tot else None,
                    }
                )
                recs.append(None)
            else:
                recs.append(dict(zip(_DOC_KEYS, _extract_one(raw))))
                links.append(None)
        return pd.DataFrame({"rec": recs, "l": links})

    return parse_page
