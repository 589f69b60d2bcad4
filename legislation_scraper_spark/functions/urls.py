"""URL canonicalization / hashing — the seen-set key discipline.

Rebuilds the reference's URL handling (title/URL synthesis and
lower/strip semantics, /root/reference/src/scraper/state_legislation/
rio_grande_do_sul.py:84-93, build_dataset.py:232-236) as pure JVM column
expressions: whole-stage-codegen friendly, no Python in the hot path.

Canonical form used for the 10^10-row seen set:
  * scheme + host lowercased
  * default ports (:80 http, :443 https) dropped
  * fragment (#...) dropped
  * trailing slash on a bare path dropped
  * surrounding whitespace trimmed
The seen-set key is ``xxhash64(canonical_url)`` (64-bit; at 10^10 URLs the
collision expectation is ~2.7e-2 per pair-universe — acceptable for a
*pre-filter*; the exact anti-join on the canonical string is the
correctness backstop, see operators/seen.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def canonicalize_url(url: Column) -> Column:
    """Canonical URL as a single codegen-able expression chain.

    Idempotent for any input string (property-tested): no step leaves
    work for a later pass.  The fragment goes first, so the trim also
    removes spaces before a ``#``; port and slash rules never strip next
    to a space, so they cannot expose a new trailing one; ``(?s)`` and
    ``\\z`` keep a newline from hiding the end of the input."""
    # drop fragment (everything from the first '#', newlines included)
    u = F.trim(F.regexp_replace(url, r"(?s)#.*", ""))
    # lowercase scheme://host[:port] part only (keep path case)
    head = F.regexp_extract(u, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/]*)", 1)
    tail = F.substring(u, F.length(head) + F.lit(1), F.lit(2_000_000))
    u = F.concat(F.lower(head), tail)
    # strip default ports
    u = F.regexp_replace(u, r"^(https://[^/: ]+):443(/|\z)", r"$1$2")
    u = F.regexp_replace(u, r"^(http://[^/: ]+):80(/|\z)", r"$1$2")
    # drop trailing slash on non-root paths (“…/a/” == “…/a”)
    u = F.regexp_replace(u, r"([^/ ])/\z", r"$1")
    return u


#: query params that never change page identity (analytics/click IDs);
#: stripping them is the single highest-yield URL-dedup normalization
#: on real web crawls (the same URL arrives once per ad campaign
#: otherwise).  Matched against the full ``name=`` prefix.
TRACKING_PARAM_RE = (
    r"^(utm_[^=]*|gclid|fbclid|msclkid|dclid|mc_cid|mc_eid|igshid|"
    r"_ga|yclid|ref|ref_src|spm|s_kwcid)(=|$)"
)


def normalize_query(url: Column) -> Column:
    """Query-string normalization as a pure codegen chain: drop
    tracking params (``TRACKING_PARAM_RE``), sort the survivors so
    param order never splits the seen-set key, rebuild ``?a=1&b=2`` (or
    nothing when no params survive).  Fragments must already be gone
    (``canonicalize_url`` drops them first).

    In-row only — ``split``/``filter``/``array_sort``/``array_join``
    higher-order expressions, no shuffle, no Python.
    """
    head = F.regexp_extract(url, r"^([^?]*)", 1)
    qs = F.substring(url, F.length(head) + F.lit(2), F.lit(2_000_000))
    kept = F.array_sort(
        F.filter(
            F.split(qs, "&"),
            lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
        )
    )
    return F.when(F.length(url) == F.length(head), url).otherwise(
        F.concat(
            head,
            F.when(F.size(kept) == 0, F.lit("")).otherwise(
                F.concat(F.lit("?"), F.array_join(kept, "&"))
            ),
        )
    )


def url_host(url: Column) -> Column:
    """Host (politeness partition key), lowercased, port stripped."""
    return F.lower(F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)", 1))


#: embedded two-label public-suffix subset (publicsuffix.org shape;
#: the full PSL is a data file this container doesn't carry — the
#: subset covers the crawl's jurisdictions and the operator takes the
#: list as a parameter so a deployment ships the real PSL).  Brazilian
#: government/legislative registries are the load-bearing entries:
#: every *.leg.br house is a DIFFERENT registrant, so politeness
#: grouped by naive domain would fuse them.
PUBLIC_SUFFIXES_2 = (
    "com.br", "gov.br", "leg.br", "jus.br", "mp.br", "org.br",
    "net.br", "edu.br", "co.uk", "org.uk", "gov.uk", "ac.uk",
    "com.au", "gov.au", "org.au", "co.jp", "or.jp", "go.jp",
)


def registered_domain(
    host: Column, suffixes2: tuple[str, ...] = PUBLIC_SUFFIXES_2
) -> Column:
    """Pay-level (registered) domain of a hostname — the politeness /
    rate-limit grouping key: one label more than the longest matching
    public suffix.  ``portal.camara.leg.br`` → ``camara.leg.br``;
    ``www.planalto.gov.br`` → ``planalto.gov.br``; ``a.b.c.com`` →
    ``c.com``.  A host at or below suffix depth returns itself.

    Pure codegen: label split, tail-slice membership against the
    literal suffix set, conditional re-join — no UDF, no lookup join
    (the suffix set is a compile-time literal, not a broadcast)."""
    h = F.lower(host)
    ls = F.split(h, r"\.")
    n = F.size(ls)
    last2 = F.array_join(F.slice(ls, -2, 2), ".")
    need = F.when(last2.isin(*suffixes2), F.lit(3)).otherwise(F.lit(2))
    return F.when(n <= need, h).otherwise(
        F.array_join(F.slice(ls, -need, need), ".")
    )


def url_hash(url: Column) -> Column:
    """64-bit seen-set key over the canonical URL."""
    return F.xxhash64(canonicalize_url(url))


def salted_host(host: Column, url: Column, salt_buckets: int) -> Column:
    """Shuffle key that defeats host skew while keeping host affinity.

    ``repartition(N, salted_host(...))`` spreads a mega-host over
    ``salt_buckets`` partitions; the politeness *budget* is still enforced
    per true host by the window rank upstream (operators/politeness.py),
    so salting never violates per-host limits — it only balances work.
    Mirrors the need the reference served with per-site max_workers
    (/root/reference/main.py:65,108) — here skew is a data property, not
    a config constant.
    """
    return F.concat_ws(
        "#", host, F.pmod(F.xxhash64(url), F.lit(salt_buckets)).cast("string")
    )


def url_features(url: Column) -> list[Column]:
    """URL-shape spam/quality features (pure codegen; the URL-level
    curation pass every webtext pipeline runs before fetching).

    Columns: url_len, path_depth (count of '/' after the authority),
    digit_ratio, n_params, spam_score (fixed-weight linear score —
    weights are the classifier STUB; a trained model would broadcast
    its coefficients into the same expression shape).
    """
    ln = F.length(url)
    path = F.regexp_replace(url, r"^[a-z][a-z0-9+.-]*://[^/]*", "")
    depth = F.length(F.regexp_replace(path, r"[^/]", ""))
    digit_ratio = F.round(
        (ln - F.length(F.regexp_replace(url, r"[0-9]", "")))
        / ln.cast("double"),
        6,
    )
    q = F.regexp_extract(url, r"\?(.*)$", 1)
    n_params = F.when(q == "", F.lit(0)).otherwise(
        F.size(F.split(q, "&"))
    )
    spam = F.round(
        F.lit(0.5) * digit_ratio
        + F.lit(0.2) * (ln > 80).cast("double")
        + F.lit(0.2) * (n_params > 3).cast("double")
        + F.lit(0.1) * (depth > 6).cast("double"),
        6,
    )
    return [
        ln.cast("int").alias("url_len"),
        depth.cast("int").alias("path_depth"),
        digit_ratio.alias("digit_ratio"),
        n_params.cast("int").alias("n_params"),
        spam.alias("spam_score"),
    ]


def url_template(url: Column) -> Column:
    """Structural URL template — the crawler-trap / page-type grouping
    key: path with digit runs → ``~N`` and ≥8-char hex runs → ``~H``,
    then ``?`` plus the SORTED query parameter names (values dropped).

    ``/norma/12345?sid=9&lang=pt`` → ``/norma/~N?lang,sid``.  Calendar
    traps, session-id explosions, and faceted-search grids all collapse
    to one template each, so per-template URL counts vs distinct
    contents expose them (operators/traps.py).  The reference never
    needs this — its 23 scrapers enumerate known-finite search pages —
    but an open frontier does.

    Pure codegen; the hex pass runs BEFORE the digit pass so a hex run
    is not first shredded by its embedded digits.  Regex subset chosen
    to mean the same thing in Java (Spark) and RE2 (DuckDB oracle).
    """
    pq = F.regexp_replace(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", "")
    path = F.substring_index(pq, "?", 1)
    query = F.when(
        F.instr(pq, "?") > 0,
        F.substring(pq, F.instr(pq, "?") + 1, F.lit(1 << 30)),
    ).otherwise(F.lit(""))
    norm = F.regexp_replace(
        F.regexp_replace(path, "[0-9a-fA-F]{8,}", "~H"), "[0-9]+", "~N"
    )
    keys = F.when(query == "", F.lit("")).otherwise(
        F.array_join(
            F.array_sort(
                F.transform(
                    F.split(query, "&"),
                    lambda kv: F.substring_index(kv, "=", 1),
                )
            ),
            ",",
        )
    )
    return F.concat(norm, F.lit("?"), keys)


def percent_normalize(url: Column) -> Column:
    """RFC 3986 §6.2.2 percent-encoding normalization — the URL-dedup
    normalization ``canonicalize_url`` doesn't cover: decode escapes of
    UNRESERVED characters (``%41`` → ``A``, ``%7E`` → ``~`` — encoding
    them never changes identity) and uppercase the hex of every escape
    that must stay (``%3a`` → ``%3A``).  Without it, the same page
    arrives as three distinct frontier keys from three linking sites.

    Pure in-row array algebra (split on ``%``, per-fragment conditional
    decode, reassemble) — no UDF; malformed escapes (``%G1``, ``%`` at
    end) pass through byte-identically, they are not errors at crawl
    scale, just bytes.  The DuckDB oracle runs the same fragment walk
    with the same hex/unreserved predicates.
    """
    parts = F.split(url, "%", -1)

    def fix(f: Column) -> Column:
        hexpair = F.upper(F.substring(f, 1, 2))
        rest = F.substring(f, 3, F.lit(1 << 30))
        is_hex = f.rlike("^[0-9A-Fa-f]{2}")
        ch = F.chr(F.conv(hexpair, 16, 10).cast("bigint"))
        decodable = ch.rlike("^[A-Za-z0-9._~-]$")
        return F.when(
            is_hex & decodable, F.concat(ch, rest)
        ).when(
            is_hex, F.concat(F.lit("%"), hexpair, rest)
        ).otherwise(F.concat(F.lit("%"), f))

    tail = F.transform(
        F.slice(parts, 2, F.greatest(F.size(parts) - 1, F.lit(0))), fix
    )
    return F.concat(
        F.element_at(parts, 1), F.array_join(tail, "")
    )


# Representative subset of the Mozilla Public Suffix List
# (publicsuffix.org — public data; vendoring the full ~9k-rule list is
# a data-file concern, the FOLD below is the engine).  ICANN-section
# country/second-level suffixes for the jurisdictions this crawl's
# seed list spans, plus two private-section entries that exhibit the
# subdomain-farm shape (one registrant per subdomain).
PUBLIC_SUFFIXES: tuple[str, ...] = (
    "com", "org", "net", "gov", "edu", "mil", "int", "info", "io",
    "br", "uk", "jp", "au", "ar",
    "com.br", "gov.br", "leg.br", "jus.br", "org.br", "net.br",
    "edu.br", "mp.br",
    "co.uk", "org.uk", "gov.uk", "ac.uk",
    "co.jp", "or.jp", "go.jp", "ne.jp",
    "com.au", "gov.au", "org.au",
    "com.ar", "gob.ar",
    "blogspot.com", "github.io",
)


def registrable_domain(
    host: Column, suffixes: tuple[str, ...] = PUBLIC_SUFFIXES
) -> Column:
    """eTLD+1 (registrable domain) via the Public Suffix List algorithm
    (publicsuffix.org/list): longest listed suffix wins, registrable =
    suffix + one label; a host not under any listed suffix falls to the
    PSL's implicit ``*`` rule (its TLD is treated as public → last two
    labels); a host that IS a suffix, or a single label, passes through.

    Politeness/budgeting by HOSTNAME under-throttles subdomain farms —
    10^5 ``*.blogspot.com`` hostnames each get their own budget while
    one registrant's server takes the aggregate.  Grouping by
    registrable domain is the standard crawler fix (Heritrix's
    assignment-policy surt-prefix mode).

    Pure in-row split/slice/isin column algebra over a plan-literal
    suffix set — zero shuffle, whole-stage codegen, and engine-neutral
    (the DuckDB oracle replays the same fold).
    """
    parts = F.split(F.lower(host), r"\.")
    n = F.size(parts)

    def tail(k: int) -> Column:
        # guarded: slice() throws on start ≤ 0 and Spark's And does not
        # short-circuit, so a 1-label host probing a 2-label suffix
        # must never reach the slice; CaseWhen branch values ARE lazy
        return F.when(
            n >= k, F.array_join(F.slice(parts, n - k + 1, F.lit(k)), ".")
        )

    by_len: dict[int, list[str]] = {}
    for s in suffixes:
        by_len.setdefault(s.count(".") + 1, []).append(s)

    expr = None
    for k in sorted(by_len, reverse=True):  # longest suffix wins
        cond = (n > k) & tail(k).isin(by_len[k])
        val = tail(k + 1)
        expr = F.when(cond, val) if expr is None else expr.when(cond, val)
    return expr.otherwise(
        F.when(n > 1, tail(2)).otherwise(F.lower(host))
    )
