"""HTML -> text extraction for Common-Crawl-style pages.

The north-star input is a table of web pages ``(url, warc_ts, html binary,
text string, lang)`` where ``text`` is the *extracted* text of ``html`` and
the per-row invariant is **byte-identical extracted text per url**.  This
module is the extraction stage: a deterministic, boilerplate-stripping
HTML-to-text function expressed entirely as native Spark column algebra
(``regexp_replace`` / ``replace`` chains -> whole-stage codegen, no Python
in the hot path), plus a pure-Python twin (`extract_text`) that is pinned
byte-for-byte against the Spark column in pytest and reused by the DuckDB
oracle.

Reference parity note: LinguistJS itself never parses HTML (it classifies
files by path/content cascade), but its vendored/generated/binary exclusion
stage (/root/reference/src/index.ts:149-193) is the analogue of boilerplate
removal for web text; SURVEY.md recasts that as this extraction + filter
pipeline for the webtext graft.

Extraction spec (deterministic, order matters; every regex uses explicit
ASCII whitespace classes -- never ``\\s`` -- because Java ``\\s`` and Python
``\\s`` disagree on ``\\x1c``-``\\x1f`` and Unicode spaces, see ADVICE r01):

1. decode: ``html`` binary is UTF-8 (cast binary->string; fixture data is
   valid UTF-8 -- invalid bytes would hit the engines' differing replacement
   policies and are out of contract, documented here).
2. drop ``<script ...>...</script>`` then ``<style ...>...</style>`` blocks
   (case-insensitive, dot-matches-newline, non-greedy).
3. drop HTML comments ``<!-- ... -->`` (non-greedy, dotall).
4. block-level tags (p div br li h1-h6 tr td th table ul ol blockquote pre
   section article header footer nav hr title) -> newline; tag-name match is
   guarded by ``(?![a-zA-Z0-9])`` (NOT ``\\b``: Java ``\\b`` is ASCII-word
   by default while Python's is Unicode-word).
5. every remaining ``<...>`` tag -> single space (a lone ``<`` with no
   closing ``>`` is left verbatim in both engines).
6. entity decode, literal (non-regex) replaces in fixed order, ``&amp;``
   LAST so ``&amp;lt;`` decodes to the literal ``&lt;``:
   ``&nbsp;``->space, ``&lt;``, ``&gt;``, ``&quot;``, ``&#39;``,
   ``&apos;``, ``&amp;``.
7. whitespace normalization: ``[ \\t\\r\\f\\x0b]+`` -> one space;
   ``[ ]*\\n[ ]*`` -> ``\\n``; ``\\n{3,}`` -> ``\\n\\n`` (paragraph breaks
   survive); strip leading/trailing spaces+newlines.

Scale posture: the whole chain is JVM-side codegen over one projection --
no shuffle, no UDF, no driver round-trip.  At 10^12 documents it is
embarrassingly parallel and bounded by scan bandwidth; regexes are all
linear-time (non-greedy bounded scans, no nested quantifiers -- same
de-quadratic discipline as linguistjs_spark.pcre).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# shared spec tables (single source of truth for Spark chain + Python twin)
# ---------------------------------------------------------------------------

_BLOCK_TAGS = (
    "p|div|br|li|h[1-6]|tr|td|th|table|ul|ol|blockquote|pre|section|"
    "article|header|footer|nav|hr|title"
)

# (pattern, replacement) regex passes, applied in order.  Flags are inlined
# so the same pattern string compiles identically under java.util.regex and
# Python re.  Explicit ASCII whitespace class [ \t\r\n\f\x0b] throughout.
_REGEX_PASSES = [
    (r"(?is)<script(?![a-zA-Z0-9])[^>]*>.*?</script[ \t\r\n\f\x0b]*>", ""),
    (r"(?is)<style(?![a-zA-Z0-9])[^>]*>.*?</style[ \t\r\n\f\x0b]*>", ""),
    (r"(?s)<!--.*?-->", ""),
    (r"(?i)</?(?:" + _BLOCK_TAGS + r")(?![a-zA-Z0-9])[^>]*>", "\n"),
    (r"<[^>]*>", " "),
]

# literal (non-regex) entity replaces, in order; &amp; must stay last.
_ENTITY_PASSES = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&amp;", "&"),
]

_WS_PASSES = [
    (r"[ \t\r\f\x0b]+", " "),
    (r"[ ]*\n[ ]*", "\n"),
    (r"\n{3,}", "\n\n"),
    (r"^[ \n]+", ""),
    (r"[ \n]+$", ""),
]


# ---------------------------------------------------------------------------
# Spark column chain
# ---------------------------------------------------------------------------

def extract_text_col(html: Column) -> Column:
    """Deterministic HTML->text extraction as a native column expression.

    ``html`` may be a binary column (UTF-8 decoded via cast) or a string
    column.  Returns the extracted text; never null for non-null input.
    """
    s = html.cast("string")
    for pat, rep in _REGEX_PASSES:
        s = F.regexp_replace(s, pat, rep)
    for lit, rep in _ENTITY_PASSES:
        s = F.replace(s, F.lit(lit), F.lit(rep))
    for pat, rep in _WS_PASSES:
        s = F.regexp_replace(s, pat, rep)
    return s


def page_text_col(text: Column, html: Column) -> Column:
    """A page's text: ``text`` when present, else the text extracted from
    ``html`` unless the first KiB of the html holds a NUL byte (a binary
    payload stays NULL). The label program reads page text through this
    one expression."""
    raw_bin = html.isNotNull() & F.contains(
        F.substring(html, 1, 1024), F.lit(b"\x00")
    )
    return F.coalesce(text, F.when(~raw_bin, extract_text_col(html)))


def extracted_pages(pages: DataFrame, html_col: str = "html",
                    out_col: str = "text_extracted") -> DataFrame:
    """Attach the extracted-text column to a pages DataFrame (one
    projection, no shuffle)."""
    return pages.withColumn(out_col, extract_text_col(F.col(html_col)))


# ---------------------------------------------------------------------------
# robots meta noindex (crawl-compliance filter)
# ---------------------------------------------------------------------------

# Both attribute orders are live on the web; patterns are RE2-safe and
# shared VERBATIM with the DuckDB oracle ((?i) is ASCII-folding in both
# engines for the ASCII-only tag text). Scoped to name="robots" — the
# UA-specific variants (googlebot etc.) are a crawler-policy decision,
# not a corpus one (documented stance).
NOINDEX_PATS = [
    r"""(?i)<meta[^>]*name\s*=\s*["']robots["'][^>]*content\s*=\s*["'][^"']*noindex""",
    r"""(?i)<meta[^>]*content\s*=\s*["'][^"']*noindex[^"']*["'][^>]*name\s*=\s*["']robots["']""",
]


def noindex_col(html: Column) -> Column:
    """True iff the page declares ``<meta name="robots" ... noindex>``
    (either attribute order). Native rlike pair — one codegen'd scan."""
    s = html.cast("string")
    out = F.lit(False)
    for p in NOINDEX_PATS:
        out = out | s.rlike(p)
    return out


def filter_noindex(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """Drop pages that opt out of indexing — the crawl-compliance filter a
    CC-scale corpus applies before any content rule (same one-scan,
    no-shuffle shape as the vendored/generated URL drops)."""
    return pages.filter(~noindex_col(F.col(html_col)))


# ---------------------------------------------------------------------------
# pure-Python twin (oracle side) -- byte-identical to the column chain
# ---------------------------------------------------------------------------

# re.ASCII pins Python's (?i) to ASCII case folding -- Java's
# CASE_INSENSITIVE is ASCII-only by default, while Python's default Unicode
# folding would also match e.g. U+017F LATIN SMALL LETTER LONG S against 's'.
_RE_COMPILED = [(re.compile(p, re.ASCII), r) for p, r in _REGEX_PASSES]
_WS_COMPILED = [(re.compile(p, re.ASCII), r) for p, r in _WS_PASSES]


def extract_text(html: str | bytes) -> str:
    """Python twin of :func:`extract_text_col` (pinned in pytest)."""
    s = html.decode("utf-8") if isinstance(html, (bytes, bytearray)) else html
    for rx, rep in _RE_COMPILED:
        s = rx.sub(rep, s)
    for lit, rep in _ENTITY_PASSES:
        s = s.replace(lit, rep)
    for rx, rep in _WS_COMPILED:
        s = rx.sub(rep, s)
    return s


# ---------------------------------------------------------------------------
# deterministic HTML synthesis (tests / bench / oracle share it):
# wraps a document's text in realistic boilerplate so extraction has
# something to strip.  Pure string concatenation -- Spark and Python twins
# are trivially identical.
# ---------------------------------------------------------------------------

def synth_html_col(doc_id: Column, text: Column) -> Column:
    body = F.concat(F.lit("<p>"),
                    F.replace(text, F.lit("\n"), F.lit("</p><p>")),
                    F.lit("</p>"))
    return F.concat(
        F.lit("<html><head><title>Doc "), doc_id.cast("string"),
        F.lit("</title><style>body { color: #333; }</style>"
              "<script type=\"text/javascript\">var t = \"<p>not text</p>\";"
              "</script></head><body><!-- synthetic page -->"
              "<div class=\"main\"><h1>Doc "), doc_id.cast("string"),
        F.lit("</h1>"), body,
        F.lit("</div><footer>&amp;copy; 2026 Example &amp; Co. &lt;info&gt;"
              "</footer></body></html>"),
    )


def synth_html(doc_id: int, text: str) -> str:
    """Python twin of :func:`synth_html_col`."""
    body = "<p>" + text.replace("\n", "</p><p>") + "</p>"
    return (
        "<html><head><title>Doc " + str(doc_id)
        + "</title><style>body { color: #333; }</style>"
        + "<script type=\"text/javascript\">var t = \"<p>not text</p>\";"
        + "</script></head><body><!-- synthetic page -->"
        + "<div class=\"main\"><h1>Doc " + str(doc_id) + "</h1>" + body
        + "</div><footer>&amp;copy; 2026 Example &amp; Co. &lt;info&gt;"
        + "</footer></body></html>"
    )
