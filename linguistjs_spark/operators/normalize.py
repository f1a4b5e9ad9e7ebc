"""Unicode text normalization + mojibake gating for web corpora.

Two pre-dedup stages every large text pipeline runs before fingerprinting
(CCNet normalizes before hashing paragraphs; C4/Gopher variants strip or
gate malformed docs):

  * ``unicode_punct_norm_col`` — canonicalize the unicode punctuation web
    text actually varies on (curly quotes, dashes, ellipsis, exotic
    spaces, full-width ASCII) so byte-level dedup/fingerprinting sees one
    spelling. Deliberately NOT full NFKC: it touches only an enumerated,
    engine-portable mapping (one ``translate`` + two ``regexp_replace``),
    never letters, so langid/perplexity stay unaffected.
  * ``mojibake_stats`` / ``bad_unicode_col`` — U+FFFD replacement chars
    (the scar of a wrong decode upstream) and C0/C1 control chars as
    fractions; docs over threshold are decode casualties, not language.

All native Column expressions (whole-text ``translate``/``regexp_count``
scans inside codegen, zero joins/shuffles); the DuckDB oracles restate the
same mapping strings and patterns verbatim.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 1:1 mapping for translate(): source chars -> ascii replacements.
# quotes/primes, dashes/minus, spaces (NBSP, ogham, en/em/thin/…, NNBSP,
# ideographic), bullets/middots. Kept 1:1 so ONE translate handles all.
_ONE2ONE = [
    ("‘", "'"), ("’", "'"), ("‚", "'"), ("‛", "'"),
    ("′", "'"), ("ʼ", "'"),
    ("“", '"'), ("”", '"'), ("„", '"'), ("‟", '"'),
    ("″", '"'), ("«", '"'), ("»", '"'),
    ("‐", "-"), ("‑", "-"), ("‒", "-"), ("–", "-"),
    ("—", "-"), ("―", "-"), ("−", "-"),
    (" ", " "), (" ", " "), (" ", " "), (" ", " "),
    (" ", " "), (" ", " "), (" ", " "), (" ", " "),
    (" ", " "), (" ", " "), (" ", " "), (" ", " "),
    (" ", " "), (" ", " "), (" ", " "), ("　", " "),
    ("•", "*"), ("·", "*"),
]
# full-width ASCII block: FF01-FF5E maps 1:1 onto 21-7E
_FULLWIDTH_SRC = "".join(chr(0xFF01 + i) for i in range(0x5E))
_FULLWIDTH_DST = "".join(chr(0x21 + i) for i in range(0x5E))

NORM_SRC = "".join(s for s, _ in _ONE2ONE) + _FULLWIDTH_SRC
NORM_DST = "".join(d for _, d in _ONE2ONE) + _FULLWIDTH_DST

# 1:many / many:1 cases need regexp_replace, not translate
ELLIPSIS_PAT = "…"          # … -> ...
ZERO_WIDTH_PAT = "[​‌‍⁠﻿­]"  # deleted

REPLACEMENT_CHAR_PAT = "�"
# C0 controls except \t \n \r, DEL, and the C1 block U+0080-U+009F (the
# cp1252-read-as-latin1 scar, e.g. UTF-8 "’" decoded to "â\x80\x99")
CONTROL_CHAR_PAT = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f-\\x9f]"


def unicode_punct_norm_col(text: Column) -> Column:
    """Punctuation-canonical text: one ``translate`` (all 1:1 maps, incl.
    the full-width ASCII block) + ellipsis expansion + zero-width/soft-
    hyphen deletion. Idempotent; NULL in, NULL out."""
    t = F.translate(text, NORM_SRC, NORM_DST)
    t = F.regexp_replace(t, ELLIPSIS_PAT, "...")
    return F.regexp_replace(t, ZERO_WIDTH_PAT, "")


def mojibake_stats(text: Column) -> Column:
    """struct(n_repl, n_ctrl, n_chars, bad_bp): replacement-char and
    control-char counts and their combined basis-point fraction of the
    doc's chars (integer arithmetic — engine-exact)."""
    n_repl = F.regexp_count(text, F.lit(REPLACEMENT_CHAR_PAT)).cast("long")
    n_ctrl = F.regexp_count(text, F.lit(CONTROL_CHAR_PAT)).cast("long")
    n_chars = F.length(text).cast("long")
    # floor of a double division (not integer DIV) so the oracle restates
    # it verbatim: both engines divide the same exact-integer-valued
    # doubles, so the floor is IEEE-identical
    bad_bp = F.when(
        n_chars > 0,
        F.floor(((n_repl + n_ctrl) * F.lit(10000)).cast("double") / n_chars)
        .cast("long"),
    )
    return F.struct(
        n_repl.alias("n_repl"),
        n_ctrl.alias("n_ctrl"),
        n_chars.alias("n_chars"),
        bad_bp.alias("bad_bp"),
    )


def bad_unicode_col(text: Column, max_bad_bp: int = 25) -> Column:
    """True when the doc should drop as a decode casualty: combined
    replacement+control fraction above ``max_bad_bp`` basis points
    (default 0.25% — CCNet-style tolerance for the odd stray byte)."""
    s = mojibake_stats(text)
    return F.coalesce(s["bad_bp"] > F.lit(max_bad_bp), F.lit(False))
