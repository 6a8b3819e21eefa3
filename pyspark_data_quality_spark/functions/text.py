"""Column-level text functions: tokenization, shingles, fingerprints,
language ID, PII and Gopher signals.

Everything here returns ``Column`` expressions — JVM-side, whole-stage-
codegen friendly, no Python UDFs in any hot path. The fingerprint
helpers wrap private SQL-text builders (``_doc_fingerprint_sql``,
``_doc_md5_sql``) in ``F.expr``; operators that compose a whole
projection as one ``selectExpr`` use that text directly. These are the building blocks for the
text-analysis and near-dedup operators (north-star extensions; the
reference had no text processing at all).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Small multilingual stopword lists for the n-gram language-ID heuristic
#: and quality scoring. Deliberately tiny and deterministic (public common
#: words), so the same heuristic is expressible in the DuckDB oracle.
STOPWORDS_EN = [
    "the", "a", "of", "and", "to", "in", "is", "it", "that", "for",
    "on", "with", "as", "this", "by", "an", "be", "are", "was", "or",
]

#: Language marker words -> language code, for the marker-count heuristic.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "that", "with", "for"],
    "es": ["el", "la", "de", "que", "y", "los", "las", "por"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein"],
    "fr": ["le", "la", "les", "des", "est", "et", "une", "dans"],
    "zh": ["的", "是", "了", "在", "我", "有", "和", "不"],
}


from ..plans.compile import ident, sql_literal
from .expr import DIGITS, let_bind as _let

#: the whitespace run :func:`normalize_text` collapses (Java regex: ASCII)
_WS_RUN = r"\s+"


def _normalize_text_sql(text: str) -> str:
    """SQL text of :func:`normalize_text` over the SQL expression
    ``text``: lowercase, collapse whitespace runs to one space, trim."""
    return f"trim(regexp_replace(lower({text}), {sql_literal(_WS_RUN)}, ' '))"


def normalize_text(col: Column | str) -> Column:
    """Lowercase, collapse whitespace, trim — canonical form for hashing."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), _WS_RUN, " "))


# python-side twins of normalize_text/tokenize for Arrow kernels — ONE
# home for the normalization contract so shingle hashes, BPE counts,
# and the DuckDB oracles can never silently drift apart. re.ASCII: Java
# regex \s (normalize_text above) and RE2 \s (DuckDB oracles) are
# ASCII-only; Python's default unicode \s would also collapse
# NBSP/ideographic spaces they don't, skewing gram sets on CJK text.
import re as _re  # noqa: E402

_PY_WS = _re.compile(r"\s+", _re.ASCII)


def py_normalize_text(text: str, *, lowercase: bool = True) -> str:
    """Kernel-side :func:`normalize_text` (lower, collapse ASCII
    whitespace, trim); ``lowercase=False`` skips the case fold."""
    return _PY_WS.sub(" ", text.lower() if lowercase else text).strip()


def py_tokenize(text: str, *, lowercase: bool = True) -> list[str]:
    """Kernel-side :func:`tokenize`: whitespace words of the normalized
    text (empty list for empty/whitespace-only input)."""
    return [w for w in py_normalize_text(text, lowercase=lowercase).split(" ") if w]


def tokenize(col: Column | str) -> Column:
    """Whitespace tokenization -> array<string> (empty array for empty text)."""
    c = normalize_text(col)
    return F.filter(F.split(c, " "), lambda t: t != "")


def token_count(col: Column | str) -> Column:
    return F.size(tokenize(col)).cast("long")


def alnum_tokens(col: Column | str) -> Column:
    """Alphanumeric tokenization: lowercase, every non-letter/non-digit
    run is a separator -> array<string> of ``[\\p{L}\\p{N}]+`` runs.
    THE shared definition of "same token" for fingerprint value
    clustering (operators/repair.value_clusters) and linkage
    token-jaccard (operators/linkage) — one place, so the two can never
    silently disagree on token identity."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(
        F.split(F.regexp_replace(F.lower(c), r"[^\p{L}\p{N}]+", " "), " "),
        lambda t: t != "",
    )


def char_ngrams(col: Column | str, n: int = 3) -> Column:
    """Array of character n-grams (shingles) of the normalized text.

    Built with sequence+transform (JVM-side, no UDF): shingle i =
    substring(text, i, n). Used for n-gram Jaccard similarity and as
    MinHash input. Texts shorter than n yield an empty array (guarded:
    ``sequence(1, 0)`` would descend, not stop).
    """
    c = normalize_text(col)
    grams = F.transform(
        F.sequence(F.lit(1), F.length(c) - F.lit(n - 1)),
        lambda i: F.substring(c, i, F.lit(n)),
    )
    return F.when(F.length(c) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def word_shingles(col: Column | str, k: int = 3) -> Column:
    """Array of k-word shingles (space-joined) — MinHash/Jaccard input unit.

    JVM-side: tokenize -> transform over start indices -> slice+join.
    """
    toks = tokenize(col)
    shingles = F.transform(
        F.sequence(F.lit(1), F.size(toks) - F.lit(k - 1)),
        lambda i: F.array_join(F.slice(toks, i, k), " "),
    )
    return F.when(F.size(toks) >= k, shingles).otherwise(
        F.array().cast("array<string>")
    )


def lang_id(col: Column | str, markers: dict[str, list[str]] | None = None) -> Column:
    """Marker-word language ID: pick the language whose marker words hit the
    most tokens; ties and zero-hit rows -> 'und'. Pure expressions: one
    array_intersect-style count per language, then greatest-of struct.
    """
    marks = markers or LANG_MARKERS
    toks = tokenize(col)

    def _hits(words: list[str]) -> Column:
        # Marker set as an array literal OUTSIDE the lambda: a default-arg
        # would make the lambda binary and F.filter would bind the element
        # index to it (the round-1 NOT_ITERABLE crash).
        ws = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(toks, lambda t: F.array_contains(ws, t)))

    # struct(hits, lang) per language, pick max by (hits, lang desc) ordering
    candidates = [
        F.struct(_hits(words).alias("hits"), F.lit(lang).alias("lang"))
        for lang, words in marks.items()
    ]
    best = F.array_max(F.array(*candidates))
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def _doc_fingerprint_sql(text: str) -> str:
    """SQL text of :func:`doc_fingerprint` over the SQL expression ``text``."""
    return f"xxhash64({_normalize_text_sql(text)})"


def _doc_md5_sql(text: str) -> str:
    """SQL text of :func:`doc_md5` over the SQL expression ``text``."""
    return f"md5({_normalize_text_sql(text)})"


def doc_fingerprint(col: str) -> Column:
    """Deterministic 64-bit content fingerprint of the normalized text of
    column ``col`` (xxhash64 — JVM intrinsic, no UDF). Equal fingerprints
    = exact dup (modulo normalization)."""
    return F.expr(_doc_fingerprint_sql(ident(col)))


def doc_md5(col: str) -> Column:
    """MD5 hex of the normalized text of column ``col`` — cross-engine-
    stable fingerprint (DuckDB md5() produces the identical hex, so
    oracles can verify)."""
    return F.expr(_doc_md5_sql(ident(col)))


def winnow_fingerprints(
    col: Column | str, k: int = 5, w: int = 4
) -> Column:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken — the
    rolling-hash fingerprint scheme): hash every k-gram of the normalized
    text, slide a window of ``w`` consecutive hashes, keep each window's
    minimum; the sorted distinct minima are the document's fingerprint
    set. Guarantees any shared substring of length >= k+w-1 contributes a
    shared fingerprint — the standard local-similarity/plagiarism signal.

    md5-hex as the rolling hash value (lexicographic min): cross-engine
    stable so a DuckDB oracle reproduces the exact set. Pure expressions;
    texts shorter than k+w-1 yield an empty array.

    Window minima are computed as an elementwise ``least`` over ``w``
    shifted copies of the gram-hash array via nested ``zip_with`` — each
    array argument is evaluated once per row. The naive
    ``slice(grams, i, w)`` inside a ``transform`` lambda re-evaluates the
    entire gram/md5 subtree once per window (interpreted HOF, no CSE),
    which is O(len^2) md5 calls per document (~90s for 100 docs vs <1s).
    ``_let`` binds the normalized text and the gram array to lambda
    variables so each is computed exactly once per row regardless of how
    many times the downstream expression references it.
    """
    from functools import reduce

    def mins_of(grams: Column) -> Column:
        n_windows = F.size(grams) - F.lit(w - 1)
        shifted = [F.slice(grams, j + 1, n_windows) for j in range(w)]
        return F.when(
            F.size(grams) >= w,
            reduce(lambda a, b: F.zip_with(a, b, lambda x, y: F.least(x, y)), shifted),
        ).otherwise(F.array().cast("array<string>"))

    def grams_of(c: Column) -> Column:
        return F.when(
            F.length(c) >= k,
            F.transform(
                F.sequence(F.lit(1), F.length(c) - F.lit(k - 1)),
                lambda i: F.md5(F.substring(c, i, F.lit(k))),
            ),
        ).otherwise(F.array().cast("array<string>"))

    mins = _let(normalize_text(col), lambda c: _let(grams_of(c), mins_of))
    return F.array_sort(F.array_distinct(mins))


#: PII detectors (training-data curation): regexes restricted to syntax
#: that Java regex (Spark) and RE2 (DuckDB) interpret identically, so the
#: SAME pattern string drives both the operator and its oracle. Matched
#: on RAW text — normalization lowercases and would mangle URLs.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "url": r"https?://[^\s]+",
    "phone": r"\+?\d[\d\- ]{7,}\d",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}


def pii_count(col: Column | str, pii_type: str) -> Column:
    """Number of matches of one PII pattern in the raw text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(
        F.regexp_extract_all(c, F.lit(PII_PATTERNS[pii_type]), F.lit(0))
    )


def encoding_artifact_count(col: Column | str) -> Column:
    """Number of encoding-damage artifacts in the text: U+FFFD
    replacement characters (lossy decode), C1 control block characters
    (a classic latin-1/cp1252 confusion tell), and the mojibake
    digraphs \u00c2/\u00c3 followed by a latin-1 suffix byte (UTF-8
    bytes re-decoded as latin-1). A per-document quality signal for
    web-scraped corpora: anything above ~0 per KB usually means the
    upstream decode was wrong, and no downstream filter fixes it."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.regexp_count(c, F.lit("\ufffd"))
        + F.regexp_count(c, F.lit("[\u0080-\u009f]"))
        + F.regexp_count(c, F.lit("[\u00c2\u00c3][\u0080-\u00bf]"))
    ).cast("long")


def http_body(col: Column | str) -> Column:
    """Body of an HTTP message held as BINARY (a WARC ``response``
    payload): bytes after the first blank line, decoded leniently
    (binary->string cast replaces invalid UTF-8 with U+FFFD even under
    ANSI). Messages with no header separator (not actually HTTP) pass
    through whole. Pure JVM expressions — no UDF in the ingestion path."""
    c = F.col(col) if isinstance(col, str) else col
    s = c.cast("string")
    sep = F.instr(s, "\r\n\r\n")
    body = F.substring(s, sep + 4, F.lit(2147483647))
    return F.when(sep > 0, body).otherwise(s)


def html_to_text(col: Column | str) -> Column:
    """Cheap WET-style HTML -> text: drop script/style/comment blocks,
    strip tags, unescape the common entities, collapse whitespace.
    Deliberately regex-grade (the Common Crawl WET files use the same
    fidelity bar) — a DOM parser belongs in a mapInPandas stage if
    layout-aware extraction is ever needed."""
    c = F.col(col) if isinstance(col, str) else col
    t = F.regexp_replace(c, r"(?is)<(script|style)\b.*?</\1\s*>", " ")
    t = F.regexp_replace(t, r"(?s)<!--.*?-->", " ")
    t = F.regexp_replace(t, r"(?s)<[^>]*>", " ")
    # &amp; must unescape LAST: doing it first would turn the
    # entity-escaped '&amp;lt;' into '&lt;' and then into '<'
    # (double-unescape — visible text corrupted)
    for ent, rep in (
        ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
        ("&quot;", "\""), ("&#39;", "'"), ("&amp;", "&"),
    ):
        t = F.replace(t, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def url_host(col: Column | str) -> Column:
    """Lowercased registrable host of a URL (NULL for unparseable input
    — try_parse_url, so malformed URLs never throw under ANSI). The
    grouping key for per-domain caps (operators/split.py cap_per_group)
    and host-level corpus stats."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.try_parse_url(c, F.lit("HOST")))


def normalize_url(col: Column | str) -> Column:
    """Canonical-enough URL for dedup keys: fragment dropped, common
    click-tracking params (utm_*, fbclid, gclid, ref) removed, empty
    query stripped, host lowercased (scheme/path case preserved — paths
    ARE case-sensitive). Regex-grade on purpose: the goal is collapsing
    tracking noise that splinters exact-dup groups, not full RFC 3986
    canonicalization."""
    c = F.col(col) if isinstance(col, str) else col
    u = F.regexp_replace(c, r"#.*$", "")
    u = F.regexp_replace(u, r"([?&])(utm_[a-z]+|fbclid|gclid|ref)=[^&#]*", "$1")
    u = F.regexp_replace(u, r"&{2,}", "&")
    u = F.regexp_replace(u, r"\?&", "?")
    u = F.regexp_replace(u, r"[?&]$", "")
    # lowercase ONLY scheme+authority (everything before the first '/'
    # after '://'): a plain host replace would also hit the host echoed
    # in a case-sensitive path segment or a ?next= query value
    host = F.try_parse_url(u, F.lit("HOST"))
    sep = F.instr(u, "://")
    after = F.substring(u, sep + 3, F.lit(2147483647))
    # the authority ends at the FIRST of '/' or '?' ('#' fragments are
    # already stripped above): a URL with a query but no path
    # ('host.com?Next=CaseSensitive') must not lowercase its query
    slash_rel = F.instr(after, "/")
    q_rel = F.instr(after, "?")
    end_rel = F.least(  # least ignores NULLs; NULL only if neither found
        F.when(slash_rel > 0, slash_rel), F.when(q_rel > 0, q_rel)
    )
    auth_end = F.coalesce(sep + 2 + end_rel - 1, F.length(u))
    canon = F.concat(
        F.lower(F.substring(u, 1, auth_end)),
        F.substring(u, auth_end + 1, F.lit(2147483647)),
    )
    return F.when((host.isNotNull()) & (sep > 0), canon).otherwise(u)


def clean_lines(
    col: Column | str,
    *,
    min_words: int = 0,
    require_terminal_punct: bool = False,
    drop_repeated: bool = True,
) -> Column:
    """C4-style line-level cleaning, entirely as array expressions: split
    the document into lines, optionally drop lines with fewer than
    ``min_words`` whitespace tokens or without terminal punctuation
    (.!?" or the CJK 。！？), deduplicate repeated lines keeping the
    FIRST occurrence (``array_distinct`` preserves first-occurrence
    order — exactly the nav-menu/footer dedup C4 does), and rejoin.

    This is the within-document complement of the cross-document segment
    dedup (operators/dedup.py strip_duplicate_segments): no shuffle, no
    state — one projection you run before fingerprinting so boilerplate
    lines don't dominate shingles."""
    c = F.col(col) if isinstance(col, str) else col
    lines = F.transform(F.split(c, r"\n"), lambda ln: F.trim(ln))
    lines = F.filter(lines, lambda ln: ln != "")
    if min_words > 0:
        lines = F.filter(
            lines,
            lambda ln: F.size(F.filter(F.split(ln, r"\s+"), lambda t: t != ""))
            >= min_words,
        )
    if require_terminal_punct:
        lines = F.filter(
            lines, lambda ln: ln.rlike('[.!?"。！？]\\s*$')
        )
    if drop_repeated:
        lines = F.array_distinct(lines)
    return F.when(c.isNull(), F.lit(None).cast("string")).otherwise(
        F.array_join(lines, "\n")
    )


def gopher_signals(col: Column | str) -> Column:
    """The Gopher (Rae et al. 2021, public) static quality signals as
    one struct of pure expressions — the document-shape rules that
    complement ``text_profile``'s ``quality_score`` length/stopword gates
    and the repetition signals in ``operators/text.py``:

    - ``alpha_word_ratio``: fraction of tokens containing at least one
      alphabetic character (low = tables/code/serial numbers);
    - ``bullet_line_ratio``: fraction of non-empty lines starting with
      a bullet marker (•, -, *) — listicle/boilerplate shape;
    - ``ellipsis_line_ratio``: fraction of non-empty lines ending in an
      ellipsis — truncated-preview shape;
    - ``symbol_word_ratio``: (# + ellipsis occurrences) per token —
      hashtag/clickbait density.

    Empty/NULL documents yield 0.0 ratios — which means
    :func:`gopher_pass` FAILS them via the alpha-word floor (a quality
    gate must not pass contentless documents).
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = tokenize(c)
    n_tok = F.size(toks)
    alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]")))
    lines = F.filter(
        F.transform(F.split(F.coalesce(c, F.lit("")), r"\n"), F.trim),
        lambda ln: ln != "",
    )
    n_lines = F.size(lines)
    bullets = F.size(F.filter(lines, lambda ln: ln.rlike(r"^([•\-\*])\s")))
    ellipsis = F.size(
        F.filter(lines, lambda ln: ln.rlike(r"(\.\.\.|…)\s*$"))
    )
    symbols = (
        F.length(F.coalesce(c, F.lit("")))
        - F.length(F.regexp_replace(F.coalesce(c, F.lit("")), "#", ""))
        + F.regexp_count(F.coalesce(c, F.lit("")), F.lit(r"(\.\.\.|…)"))
    )
    frac = lambda num, den: F.when(den > 0, num / den).otherwise(F.lit(0.0))
    return F.struct(
        F.round(frac(alpha, n_tok), DIGITS).alias("alpha_word_ratio"),
        F.round(frac(bullets, n_lines), DIGITS).alias("bullet_line_ratio"),
        F.round(frac(ellipsis, n_lines), DIGITS).alias("ellipsis_line_ratio"),
        F.round(frac(symbols, n_tok), DIGITS).alias("symbol_word_ratio"),
    )


def gopher_pass(
    col: Column | str,
    *,
    min_alpha_word_ratio: float = 0.8,
    max_bullet_line_ratio: float = 0.9,
    max_ellipsis_line_ratio: float = 0.3,
    max_symbol_word_ratio: float = 0.1,
) -> Column:
    """Boolean Gopher-rules gate at the paper's published thresholds
    (override per corpus). Compose with ``text_profile``'s
    ``quality_score`` / ``repetition_signals`` for the full Gopher
    filter."""
    s = gopher_signals(col)
    return (
        (s["alpha_word_ratio"] >= min_alpha_word_ratio)
        & (s["bullet_line_ratio"] <= max_bullet_line_ratio)
        & (s["ellipsis_line_ratio"] <= max_ellipsis_line_ratio)
        & (s["symbol_word_ratio"] <= max_symbol_word_ratio)
    )
