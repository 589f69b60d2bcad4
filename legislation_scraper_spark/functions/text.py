"""Text-analysis column expressions for the training-data pipeline.

Everything here is built from JVM-side ``pyspark.sql.functions`` — no
Python UDFs — so the hot path stays inside whole-stage codegen at 100 TB.

Hash discipline: every hash the *correctness oracle* must reproduce is
``md5`` over strings (identical hex output in Spark and DuckDB), with
lexicographic ``min`` for MinHash. ``xxhash64`` is reserved for
engine-internal keys (seen set, salting) where no cross-engine parity is
needed.

Reference capabilities rebuilt here (SURVEY.md §2.2 P5/P7/P10 and the
pipeline extensions): tokenization, shingling, MinHash/LSH and SimHash
signatures, n-gram Jaccard, language-ID heuristic, quality scoring,
token counting, document fingerprinting.
"""

from __future__ import annotations

import functools

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny deterministic stopword sets for the language-ID heuristic.  The
# oracle SQL embeds the same literals — keep in sync with
# ``__spark_entry__._LANG_STOPWORDS``.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "of", "and", "to", "in", "is", "a"),
    "pt": ("de", "da", "do", "que", "e", "em", "uma"),
    "es": ("el", "la", "los", "las", "una", "por", "del"),
}


def let(expr: Column, fn) -> Column:
    """Bind ``expr`` once and apply ``fn`` to the bound value.

    Spark performs no common-subexpression elimination inside
    higher-order-function lambdas, and CollapseProject can inline a
    column into every lambda that references it — so an expression like
    ``transform(seq, i -> slice(words(text), i, n))`` re-tokenizes the
    document once *per array element*, and stacked stages (shingles →
    minhash → band keys) multiply that cost.  Wrapping the expensive
    expression in a single-element array and ``transform``-ing over it
    binds it to a lambda variable, which the engine evaluates exactly
    once per row no matter how many times the body references it.
    Measured effect on the minhash pipeline: ~10× (see BASELINE.md).
    """
    return F.element_at(F.transform(F.array(expr), fn), 1)


def words(text: Column) -> Column:
    """Whitespace tokens, empties dropped (array<string>)."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda x: x != F.lit(""))


def word_shingles(text: Column, n: int) -> Column:
    """n-word shingles joined by single spaces (array<string>).

    Empty array when the document has fewer than ``n`` tokens.
    """
    return let(
        words(text),
        lambda w: F.when(
            F.size(w) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(w) - F.lit(n)),
                lambda i: F.array_join(F.slice(w, i + F.lit(1), F.lit(n)), " "),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )


def minhash_sig(shingles: Column, num_hashes: int) -> Column:
    """MinHash signature: array of ``num_hashes`` 32-bit hex-lane minima.

    Hash family i is LANE i%4 (8 hex chars = 32 bits) of
    ``md5(shingle || ':' || i//4)`` — one md5 digest yields FOUR
    independent hash families, so 8 families cost 2 md5 passes per
    shingle instead of 8 (md5 dominates the minhash stage; measured
    ~2× on the sf0.1 pipeline).  Minima are lexicographic over the
    fixed-width hex lane, which is uniform and bit-identical across
    engines (the DuckDB oracle computes the same substring of the same
    digest).  The digest array is let()-bound so the two md5 passes run
    once per shingle no matter how many lanes read them.
    """
    n_digests = (num_hashes + 3) // 4

    # NB: per-digest fn must be a single-arg callable — PySpark treats
    # a two-parameter lambda (even `i=i` defaults) as an (element, index)
    # lambda, which would silently swap the seed for the array position.
    def digest_fn(sh: Column) -> Column:
        def one(s: Column) -> Column:
            return F.concat(
                *[F.md5(F.concat(s, F.lit(f":{d}")))
                  for d in range(n_digests)]
            )

        return F.transform(sh, one)

    # per-lane array_min passes over the let()-bound digest array; a
    # single fused aggregate fold (one pass, 8 `least`s per element)
    # measured SLOWER (2.16 s vs 1.71 s at sf0.1) — the per-element
    # accumulator-array allocation outweighs the saved passes, and the
    # lane substrings are cheap against the shared digests.
    def lane(i: int):
        return lambda d: F.substring(d, i * 8 + 1, 8)

    return let(
        digest_fn(shingles),
        lambda ds: F.array(
            *[
                F.array_min(F.transform(ds, lane(i)))
                for i in range(num_hashes)
            ]
        ),
    )


def lsh_band_keys(sig: Column, bands: int, rows_per_band: int) -> Column:
    """LSH band keys: md5 over each band's concatenated minhashes.

    Two documents land in the same bucket for band b iff their signatures
    agree on all ``rows_per_band`` rows of that band — the standard
    banding construction (candidate pair ⇔ any shared bucket).
    Returns array<string> of length ``bands``; element b is prefixed with
    ``b#`` so buckets from different bands never collide.
    """
    def keys_fn(s: Column) -> Column:
        keys = []
        for b in range(bands):
            parts = [
                F.element_at(s, b * rows_per_band + r + 1)
                for r in range(rows_per_band)
            ]
            keys.append(
                F.concat(F.lit(f"{b}#"), F.md5(F.concat_ws("|", *parts)))
            )
        return F.array(*keys)

    return let(sig, keys_fn)


def simhash16(text: Column) -> Column:
    """16-bit SimHash rendered as a '0'/'1' string of length 16.

    Bit j's per-token hash is the high bit of the (j+1)-th hex digit of
    md5(token) (digit >= '8'); the bit is 1 iff the +1/-1 vote sum over
    all tokens (with multiplicity) is >= 0.  String-only math → exact
    oracle parity.
    """
    def vote_fn(j: int):
        return lambda acc, h: acc + F.when(
            F.substring(h, j + 1, 1) >= F.lit("8"), 1
        ).otherwise(-1)

    def bits_fn(hs: Column) -> Column:
        # hs = the let-bound per-token digest array: md5 runs ONCE per
        # token and all 16 bit-folds read cached hex strings (unbound,
        # each fold would recompute md5 per token — measured ~16× the
        # digest work on real corpora)
        bits = []
        for j in range(16):
            vote = F.aggregate(hs, F.lit(0), vote_fn(j))
            bits.append(F.when(vote >= 0, F.lit("1")).otherwise(F.lit("0")))
        return F.concat(*bits)

    return let(
        F.transform(words(text), lambda t: F.md5(t)), bits_fn
    )


def hamming16(a: Column, b: Column) -> Column:
    """Hamming distance between two 16-char bit strings."""
    return F.aggregate(
        F.sequence(F.lit(1), F.lit(16)),
        F.lit(0),
        lambda acc, i: acc
        + F.when(F.substring(a, i, 1) != F.substring(b, i, 1), 1).otherwise(0),
    )


def jaccard_words(a: Column, b: Column) -> Column:
    """Jaccard similarity over distinct word sets of two texts.

    |A∪B| is derived as |A|+|B|−|A∩B| — one array_intersect instead of
    intersect+union, and both sets bound once via ``let``.
    """
    return let(
        F.array_distinct(words(a)),
        lambda wa: let(
            F.array_distinct(words(b)),
            lambda wb: let(
                F.size(F.array_intersect(wa, wb)),
                lambda inter: let(
                    F.size(wa) + F.size(wb) - inter,
                    lambda union: F.when(
                        union > 0, inter.cast("double") / union
                    ).otherwise(F.lit(0.0)),
                ),
            ),
        ),
    )


def token_count_ws(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(words(text))


BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_count_bpe_ish(text: Column) -> Column:
    """BPE-ish token count: alpha runs, digit runs, single symbols."""
    return F.regexp_count(text, F.lit(BPE_ISH_PATTERN))


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are .,;:!? punctuation."""
    n = F.length(text)
    p = F.length(text) - F.length(F.regexp_replace(text, r"[.,;:!?]", ""))
    return F.when(n > 0, p.cast("double") / n).otherwise(F.lit(0.0))


def _hits_in(w: Column, lang: str) -> Column:
    sw = F.array(*[F.lit(s) for s in LANG_STOPWORDS[lang]])
    return F.size(F.filter(w, lambda x: F.array_contains(sw, x)))


def stopword_hits(text: Column, lang: str) -> Column:
    """Count of tokens (with multiplicity) in the lang's stopword set."""
    return _hits_in(words(text), lang)


def lang_id(text: Column) -> Column:
    """Heuristic language ID: argmax stopword hits (en→pt→es tiebreak);
    'unk' when no stopword matches at all.  Tokenizes once (``let``)."""

    def pick(w: Column) -> Column:
        en, pt, es = (_hits_in(w, l) for l in ("en", "pt", "es"))
        return (
            F.when((en >= pt) & (en >= es) & (en > 0), F.lit("en"))
            .when((pt >= es) & (pt > 0), F.lit("pt"))
            .when(es > 0, F.lit("es"))
            .otherwise(F.lit("unk"))
        )

    return let(words(text), pick)


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality score: length, punctuation, stopword
    signal — the shape of the reference's validity predicates
    (len>70 at /root/reference/src/scraper/state_legislation/amazonas.py:94-96,
    len<=200 OCR fallback at base/scraper.py:344) generalized to a score."""
    n = F.length(text)
    len_score = F.least(n.cast("double") / F.lit(500.0), F.lit(1.0))
    pr = punct_ratio(text)
    punct_score = F.when(pr <= 0.2, F.lit(1.0)).otherwise(
        F.greatest(F.lit(0.0), F.lit(1.0) - (pr - F.lit(0.2)) * 2)
    )

    def sw_score(w: Column) -> Column:
        nw = F.size(w)
        sw = _hits_in(w, "en")
        ratio = F.when(nw > 0, sw.cast("double") / nw).otherwise(F.lit(0.0))
        return F.least(ratio * 4, F.lit(1.0))

    return F.round(
        (len_score + punct_score + let(words(text), sw_score)) / 3, 6
    )


def _build_fold_tables() -> tuple[str, str, dict[str, str]]:
    """Unidecode-style transliteration tables, generated from stdlib
    unicodedata at import time (the reference uses the unidecode
    package, saver.py:119-125; that library does not ship here, so the
    fold is derived from NFKD decomposition — which covers every
    precomposed Latin letter — plus explicit supplements for the
    non-decomposable Latin letters — where the outputs match
    unidecode's — and basic Greek/Cyrillic via standard romanization,
    which differs from unidecode only on Cyrillic soft/hard signs,
    dropped here instead of quoted).

    Returns (src, dst) for the 1→1 ``translate`` fast path and a
    {char: multi-char} dict for the few expansions (æ→ae, ß→ss, …).
    """
    import unicodedata

    multi: dict[str, str] = {
        # non-decomposable Latin (unidecode outputs)
        "æ": "ae", "Æ": "AE", "œ": "oe", "Œ": "OE", "ß": "ss",
        "þ": "th", "Þ": "Th", "ð": "d", "Ð": "D", "ŋ": "ng", "Ŋ": "NG",
        "ĳ": "ij", "Ĳ": "IJ",
        # Greek digraphs
        "θ": "th", "Θ": "Th", "φ": "ph", "Φ": "Ph", "χ": "kh", "Χ": "Kh",
        "ψ": "ps", "Ψ": "Ps",
        # Cyrillic digraphs
        "ж": "zh", "Ж": "Zh", "х": "kh", "Х": "Kh", "ц": "ts", "Ц": "Ts",
        "ч": "ch", "Ч": "Ch", "ш": "sh", "Ш": "Sh", "щ": "shch",
        "Щ": "Shch", "ю": "iu", "Ю": "Iu", "я": "ia", "Я": "Ia",
    }
    single: dict[str, str] = {
        # non-decomposable Latin 1→1 (unidecode outputs)
        "đ": "d", "Đ": "D", "ħ": "h", "Ħ": "H", "ł": "l", "Ł": "L",
        "ø": "o", "Ø": "O", "ı": "i", "ĸ": "k",
        # Greek
        "α": "a", "β": "b", "γ": "g", "δ": "d", "ε": "e", "ζ": "z",
        "η": "e", "ι": "i", "κ": "k", "λ": "l", "μ": "m", "ν": "n",
        "ξ": "x", "ο": "o", "π": "p", "ρ": "r", "σ": "s", "ς": "s",
        "τ": "t", "υ": "u", "ω": "o",
        "Α": "A", "Β": "B", "Γ": "G", "Δ": "D", "Ε": "E", "Ζ": "Z",
        "Η": "E", "Ι": "I", "Κ": "K", "Λ": "L", "Μ": "M", "Ν": "N",
        "Ξ": "X", "Ο": "O", "Π": "P", "Ρ": "R", "Σ": "S", "Τ": "T",
        "Υ": "U", "Ω": "O",
        # Cyrillic
        "а": "a", "б": "b", "в": "v", "г": "g", "д": "d", "е": "e",
        "з": "z", "и": "i", "й": "i", "к": "k", "л": "l", "м": "m",
        "н": "n", "о": "o", "п": "p", "р": "r", "с": "s", "т": "t",
        "у": "u", "ф": "f", "ъ": "", "ы": "y", "ь": "", "э": "e",
        "А": "A", "Б": "B", "В": "V", "Г": "G", "Д": "D", "Е": "E",
        "З": "Z", "И": "I", "Й": "I", "К": "K", "Л": "L", "М": "M",
        "Н": "N", "О": "O", "П": "P", "Р": "R", "С": "S", "Т": "T",
        "У": "U", "Ф": "F", "Э": "E",
    }
    # every precomposed letter in Latin-1 Supplement .. Latin Extended-B,
    # Greek/Cyrillic precomposed accents, Latin Extended Additional
    # (Vietnamese), polytonic Greek, and the Latin ligature block — all
    # via NFKD mark-stripping
    ranges = (
        range(0x00A0, 0x0500),
        range(0x1E00, 0x2000),
        range(0xFB00, 0xFB07),
    )
    for cp in (c for r in ranges for c in r):
        c = chr(cp)
        if c in multi or c in single:
            continue
        d = unicodedata.normalize("NFKD", c)
        parts = []
        for ch in d:
            if unicodedata.combining(ch):
                continue
            if ord(ch) < 128:
                parts.append(ch)
            # accented Greek/Cyrillic decompose to a non-ASCII base —
            # resolve it through the explicit tables (ί → ι → "i")
            elif ch in single:
                parts.append(single[ch])
            elif ch in multi:
                parts.append(multi[ch])
        ascii_d = "".join(parts)
        if not ascii_d or ascii_d == c:
            continue
        if len(ascii_d) == 1:
            single[c] = ascii_d
        else:
            multi[c] = ascii_d
    src = "".join(k for k, v in single.items() if len(v) == 1)
    dst = "".join(v for v in single.values() if len(v) == 1)
    # zero-width deletions (ъ/ь) ride translate's delete semantics: put
    # them at the END of src with no dst counterpart
    dels = "".join(k for k, v in single.items() if v == "")
    return src + dels, dst, multi


_FOLD_SRC, _FOLD_DST, _FOLD_MULTI = _build_fold_tables()


def ascii_fold(text: Column) -> Column:
    """Unidecode-analogue transliteration to ASCII, pure codegen.

    Multi-char expansions first (a short replace chain — the table is
    ~30 entries), then one wide ``translate`` for the hundreds of 1→1
    folds.  Characters outside the tables and outside ASCII are left
    for the caller (ascii_slug squeezes them to '_')."""
    t = text
    for k, v in _FOLD_MULTI.items():
        t = F.replace(t, F.lit(k), F.lit(v))
    return F.translate(t, _FOLD_SRC, _FOLD_DST)


def ascii_fold_py(s: str) -> str:
    """Straight-line Python twin of ascii_fold (parity-tested); the
    sink-time pandas-UDF fallback when a value needs folding outside a
    Spark plan."""
    out = []
    for ch in s:
        if ch in _FOLD_MULTI:
            out.append(_FOLD_MULTI[ch])
        else:
            i = _FOLD_SRC.find(ch)
            if i < 0:
                out.append(ch)
            elif i < len(_FOLD_DST):
                out.append(_FOLD_DST[i])
            # else: delete (ъ/ь tail)
    return "".join(out)


def ascii_slug(text: Column) -> Column:
    """Filesystem-safe ASCII slug (partition-key sanitizer).

    Mirrors the reference's filename sanitizer (unidecode + regex,
    /root/reference/src/database/saver.py:119-125): full transliteration
    via ascii_fold (NFKD-complete Latin + Greek/Cyrillic — not just the
    24 Portuguese accents of round 1), lowercase, squeeze
    non-alphanumerics to '_'.  Used for partition directory values so
    tables survive non-UTF-8 JVM file encodings; the original column is
    kept alongside.
    """
    t = F.lower(ascii_fold(text))
    t = F.regexp_replace(t, r"[^a-z0-9]+", "_")
    return F.regexp_replace(t, r"^_+|_+$", "")


@functools.cache
def slug_of(name: str) -> Column:
    """:func:`ascii_slug` of the column ``name``, built once per process.

    Memoized because the fold's replace chain (one ``F.replace`` per
    multi-character expansion, ~70) costs ~650 py4j round trips, about
    60 ms, each time it is built, and the crawl round slugs two columns
    every round.  A Column is an unresolved expression tree that
    belongs to no DataFrame and no session, so one tree serves every
    plan."""
    return ascii_slug(F.col(name))


def fingerprint(text: Column) -> Column:
    """Whitespace-normalized md5 document fingerprint (exact-dup key)."""
    return F.md5(F.lower(F.regexp_replace(F.trim(text), r"\s+", " ")))


def winnow_fingerprints(text: Column, k: int = 3, w: int = 4) -> Column:
    """Winnowing fingerprints (Schleimer et al., SIGMOD'03 / MOSS).

    k-word shingles → 64-bit hex hash (first 16 md5 chars) → the
    MINIMUM hash of every w-hash sliding window, distinct + sorted.
    Guarantee: any shared run of ≥ w+k-1 tokens between two documents
    yields at least one shared fingerprint, while only ~2/(w+1) of all
    shingle hashes are kept — the position-robust partial-overlap
    detector (quote/boilerplate reuse) that whole-doc minhash misses.

    Degenerate sizes: <k tokens → empty array; 1..w-1 hashes → the
    single global minimum.  All in-row (zero shuffle, zero Python);
    lexicographic min over fixed-width hex is engine-neutral, same
    discipline as :func:`minhash_sig`.
    """
    return let(
        F.transform(
            word_shingles(text, k),
            lambda s: F.substring(F.md5(s), 1, 16),
        ),
        lambda hs: F.when(F.size(hs) == 0, F.array().cast("array<string>"))
        .when(F.size(hs) < w, F.array(F.array_min(hs)))
        .otherwise(
            F.array_sort(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(0), F.size(hs) - F.lit(w)),
                        lambda i: F.array_min(
                            F.slice(hs, i + F.lit(1), F.lit(w))
                        ),
                    )
                )
            )
        ),
    )


def nfc_normalize():
    """Unicode NFC normalization as an Arrow-batched pandas UDF.

    Spark has no built-in Unicode normalizer, so this is a legitimate
    Python-stage function (same policy as extraction): vectorized over
    Arrow batches, never per-row Python in the JVM.  DuckDB's
    ``nfc_normalize`` is the independent oracle — verified char-equal
    on composed/decomposed accents and (non-)ligature behavior.
    Returned as a factory so importing this module never touches the
    UDF machinery.
    """
    # NB: `import pandas as pd` must be in MODULE globals for the hint
    # resolver — this module uses `from __future__ import annotations`
    # (PEP 563), so pyspark evaluates the "pd.Series" hint strings here.
    @F.pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda x: None if x is None else unicodedata.normalize("NFC", x)
        )

    return _nfc


#: codepoint-block classes shared verbatim by Java (Spark) and RE2
#: (DuckDB oracle) — script identity via explicit ranges, not the
#: engine-specific \p{script=...} syntaxes (Java wants Is-prefixes,
#: RE2 bare names; \x{...} ranges mean the same thing in both).
SCRIPT_BLOCKS: tuple[tuple[str, str], ...] = (
    ("latin", r"[A-Za-z\x{00C0}-\x{024F}]"),
    ("cyrillic", r"[\x{0400}-\x{04FF}]"),
    ("greek", r"[\x{0370}-\x{03FF}]"),
    ("arabic", r"[\x{0600}-\x{06FF}]"),
    ("cjk", r"[\x{4E00}-\x{9FFF}\x{3040}-\x{30FF}\x{AC00}-\x{D7AF}]"),
    ("devanagari", r"[\x{0900}-\x{097F}]"),
)


def script_profile(text: Column) -> list[Column]:
    """Per-script letter counts, fractions, and the dominant script —
    the cheap writing-system gate a multilingual webtext pipeline runs
    before (or instead of) model-based language ID: a page whose
    letters are 95% Han is not Portuguese no matter what the stopword
    vote says, and mixed-script spam (Cyrillic homoglyph stuffing in a
    Latin page) shows up as a split profile.

    Returns columns ``n_<script>`` (bigint), ``frac_<script>`` (double,
    denominator = total letters across the tracked blocks, 0.0 when no
    letters), and ``dominant_script`` (max count; ties resolve in
    SCRIPT_BLOCKS declaration order; ``unk`` when no letters at all).
    Pure ``regexp_count`` codegen — per-row, zero shuffle, exact
    rational fractions so cross-engine comparisons cannot drift.
    """
    counts = [
        F.regexp_count(text, F.lit(pat)).cast("bigint").alias(f"n_{name}")
        for name, pat in SCRIPT_BLOCKS
    ]
    total = sum(
        (F.regexp_count(text, F.lit(p)) for _, p in SCRIPT_BLOCKS),
        start=F.lit(0),
    ).cast("bigint")
    fracs = [
        F.when(
            total > 0,
            F.regexp_count(text, F.lit(pat)).cast("double")
            / total.cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias(f"frac_{name}")
        for name, pat in SCRIPT_BLOCKS
    ]
    # argmax with declaration-order tie-break: max over (count, -index)
    # structs — on count ties the larger -index (= earlier block) wins
    entries = F.array(
        *[
            F.struct(
                F.regexp_count(text, F.lit(pat)).cast("bigint").alias("c"),
                F.lit(-i).alias("ni"),
            )
            for i, (_, pat) in enumerate(SCRIPT_BLOCKS)
        ]
    )
    best = F.array_max(entries)
    names = F.array(*[F.lit(n) for n, _ in SCRIPT_BLOCKS])
    dominant = F.when(
        total > 0, F.element_at(names, (-best["ni"] + 1).cast("int"))
    ).otherwise(F.lit("unk"))
    return counts + fracs + [dominant.alias("dominant_script")]


#: Unicode-confusables subset (UTS #39 shapes): Cyrillic/Greek letters
#: visually identical to Latin in most fonts, mapped to their Latin
#: skeleton.  Spam evades exact/fingerprint dedup by swapping these
#: into boilerplate ("вitcoin" with a Cyrillic в); folding before
#: fingerprinting closes that hole.  A literal char map keeps the fold
#: pure ``translate`` codegen with an identical DuckDB twin.
HOMOGLYPH_MAP: tuple[tuple[str, str], ...] = (
    # Cyrillic → Latin
    ("а", "a"), ("е", "e"), ("о", "o"), ("р", "p"), ("с", "c"),
    ("у", "y"), ("х", "x"), ("і", "i"), ("ѕ", "s"), ("ј", "j"),
    ("А", "A"), ("В", "B"), ("Е", "E"), ("К", "K"), ("М", "M"),
    ("Н", "H"), ("О", "O"), ("Р", "P"), ("С", "C"), ("Т", "T"),
    ("Х", "X"),
    # Greek → Latin
    ("ο", "o"), ("ν", "v"), ("Α", "A"), ("Β", "B"), ("Ε", "E"),
    ("Ζ", "Z"), ("Η", "H"), ("Ι", "I"), ("Κ", "K"), ("Μ", "M"),
    ("Ν", "N"), ("Ο", "O"), ("Ρ", "P"), ("Τ", "T"), ("Υ", "Y"),
    ("Χ", "X"),
)

_HG_FROM = "".join(f for f, _ in HOMOGLYPH_MAP)
_HG_TO = "".join(t for _, t in HOMOGLYPH_MAP)


def fold_homoglyphs(text: Column) -> Column:
    """Map confusable Cyrillic/Greek letters to their Latin skeletons —
    run BEFORE fingerprint/minhash so homoglyph-swapped spam collides
    with its Latin original.  Single ``translate`` call: per-row
    codegen, zero shuffle, and byte-identical semantics in DuckDB's
    ``translate`` (both substitute per-character, 1:1)."""
    return F.translate(text, _HG_FROM, _HG_TO)


def homoglyph_count(text: Column) -> Column:
    """How many confusable characters the text carries — a spam signal
    on top of script_profile: legitimate single-script text has ~0,
    homoglyph-stuffed boilerplate has many."""
    # translate with an EMPTY replacement deletes the matched chars in
    # both Spark and DuckDB, so the length delta is the count
    return (
        F.length(text) - F.length(F.translate(text, _HG_FROM, ""))
    ).cast("bigint")


# --- mojibake repair (UTF-8 read as Latin-1) -------------------------
# The single most common web-text encoding fault: a UTF-8 page served
# or re-saved as Latin-1/cp1252, turning every non-ASCII char into a
# two-char "Ã©"-style sequence ("não" → "nÃ£o").  Crawled Brazilian
# legal text is full of these (diario PDFs → HTML round-trips), and a
# corpus keeps BOTH forms of the same document unless repaired before
# dedup.  The repair table is pure Unicode arithmetic — for each char
# c, the mojibake form IS c.encode('utf-8').decode('latin-1') — so the
# pairs are derived, not hand-typed, and cover the FULL Latin-1
# repertoire (U+0080–U+00FF): every 2-byte UTF-8 sequence whose bytes
# are Latin-1-expressible.  One application peels exactly one
# corruption level; nested (double/triple) mojibake decodes under
# repeated application (asserted in tests).
#
# Ordering is load-bearing: the two patterns whose REPLACEMENT is a
# lead byte ('Ã\x83'→Ã, 'Ã\x82'→Â) run LAST — otherwise the emitted
# Ã/Â could concatenate with an already-repaired neighbor and a later
# pattern would peel a second level mid-pass (e.g. legitimate text
# "Ã£" singly corrupted must repair to "Ã£", not over-peel to "ã").
_MOJI_CHARS = [
    chr(cp) for cp in range(0x80, 0x100) if cp not in (0xC2, 0xC3)
] + ["Â", "Ã"]
MOJIBAKE_PAIRS: list[tuple[str, str]] = [
    (c.encode("utf-8").decode("latin-1"), c) for c in _MOJI_CHARS
]


def fix_mojibake(text: Column) -> Column:
    """Repair Latin-1-decoded UTF-8 sequences via a chained literal
    ``replace`` (JVM codegen, zero shuffle; DuckDB's ``replace`` chain
    is byte-identical), in the fixed ``MOJIBAKE_PAIRS`` order — exact
    one-level-per-pass semantics (see the table comment)."""
    out = text
    for bad, good in MOJIBAKE_PAIRS:
        out = F.replace(out, F.lit(bad), F.lit(good))
    return out


def mojibake_count(text: Column) -> Column:
    """Number of mojibake sequences in the text: each repair collapses
    two chars into one, so the length delta counts occurrences."""
    return (F.length(text) - F.length(fix_mojibake(text))).cast("bigint")


def char_entropy(text: Column) -> Column:
    """Shannon entropy (bits/char) of the character distribution — the
    gibberish / low-information detector of web-corpus quality ladders
    (binary-junk and keyboard-mash pages sit far from prose entropy;
    cf. the RefinedWeb/MassiveText repetition+entropy filters).

    Pure in-row codegen: char split → sorted distinct alphabet →
    per-symbol count fold → −Σ p·log2(p).  Cost is O(|alphabet|·len)
    per row with no allocation beyond the two arrays; zero shuffle,
    zero Python.  The alphabet is ``array_sort``-ed so the summation
    order is deterministic and IDENTICAL in the DuckDB oracle (float
    sums are order-sensitive; sorting makes the fold bit-reproducible
    across engines).  Empty/single-symbol text → 0.0.
    """
    return let(
        F.filter(F.split(text, ""), lambda c: c != F.lit("")),
        lambda chars: let(
            F.array_sort(F.array_distinct(chars)),
            # abs ≡ negation here (every p·log2 p term is ≤ 0) and maps
            # the all-one-symbol −0.0 to a clean +0.0 in both engines
            lambda alpha: F.coalesce(
                F.abs(F.aggregate(
                    alpha,
                    F.lit(0.0),
                    lambda acc, c: acc
                    + let(
                        F.size(F.filter(chars, lambda x: x == c))
                        / F.size(chars),
                        lambda p: p * F.log2(p),
                    ),
                )),
                F.lit(0.0),
            ),
        ),
    )


def sentence_count(text: Column) -> Column:
    """Sentence count: runs of text between ``[.!?]+`` terminators,
    blank segments dropped, floored at 1 (headline-only docs count as
    one sentence).  Pure codegen — fuses into the scan."""
    segs = F.filter(
        F.split(text, r"[.!?]+"), lambda s: F.trim(s) != F.lit("")
    )
    return F.greatest(F.lit(1), F.size(segs))


def syllable_count(word: Column) -> Column:
    """Vowel-group syllable proxy: number of maximal ``[aeiouy]+``
    runs in the lowercased word, floored at 1 — the standard cheap
    estimator under Flesch-style readability formulas."""
    return F.greatest(
        F.lit(1),
        F.size(F.split(F.lower(word), r"[aeiouy]+")) - 1,
    )


def flesch_reading_ease(text: Column, ndigits: int = 6) -> Column:
    """Flesch reading-ease score (Flesch 1948):
    ``206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)``
    with the vowel-group syllable proxy.  The whole computation is
    IN-ROW column algebra — zero shuffle, zero Python — so at corpus
    scale it rides the same scan as every other quality signal.
    Returns NULL for wordless documents."""
    return let(
        words(text),
        lambda ws: F.when(
            F.size(ws) > 0,
            F.round(
                F.lit(206.835)
                - F.lit(1.015)
                * (
                    F.size(ws).cast("double")
                    / sentence_count(text).cast("double")
                )
                - F.lit(84.6)
                * (
                    F.aggregate(
                        ws,
                        F.lit(0).cast("bigint"),
                        lambda acc, w: acc + syllable_count(w),
                    ).cast("double")
                    / F.size(ws).cast("double")
                ),
                ndigits,
            ),
        ),
    )
