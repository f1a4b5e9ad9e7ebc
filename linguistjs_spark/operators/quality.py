"""Quality features: line metrics (A2) + Gopher/C4-style rules — all native.

Every expression here is a built-in Column expression (split / filter /
aggregate / regexp_count), so the whole stage stays inside whole-stage
codegen on the JVM: no Python in the hot path. The regex patterns are the
exact strings shared with the pure-Python oracle (oracle.py A2 section),
restricted to a Java-regex/Python-re-identical subset.

Reference analog: the aggregation-loop line counting at
/root/reference/src/index.ts:423-433; the Gopher/C4 rules are the graft
addition (BASELINE.json north_star).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import QualityFilterConfig
from ..oracle import (
    BLANK_LINE_PAT,
    BLOCK_COMMENT_PAT,
    LINE_COMMENT_PAT,
    LINE_SPLIT_PAT,
    SYMBOL_PAT,
    WORD_SPLIT_PAT,
)


def _nonblank(arr: Column) -> Column:
    return F.filter(arr, lambda x: ~x.rlike(BLANK_LINE_PAT))


# Whole-text blank-LINE counter: BLANK_LINE_PAT anchored per line with
# Java's UNIX_LINES flag (?d). (?d) is load-bearing for split-parity: the
# frame's lines are ``split(text, \r?\n)`` segments, and without it Java's
# MULTILINE ^/$ also anchor around lone \r, U+0085, U+2028, U+2029 — a
# lone U+2028 inside a line would add a phantom blank. With (?d) the anchors
# fire only at \n, and the \r of a \r\n terminator is consumed by the \r
# in the blank class exactly like split leaves it on the segment.
# (tests/test_unicode_parity.py fuzzes this equivalence vs the per-line
# Python oracle, incl. \r / U+2028 / zero-width cases.)
_BLANK_LINE_ANCHORED = "(?d)(?m)" + BLANK_LINE_PAT


def _nonblank_count(text: Column) -> Column:
    """count of non-blank lines of ``text`` = (1 + newline count) - blank
    lines, all via regexp_count: three linear scans, no array
    materialization, no interpreted per-line lambda (the previous
    size(filter(split(...))) form paid one interpreted rlike per LINE —
    ~8M regex invocations per 80k-page batch).

    The correction term covers the anchored count's two blind spots
    (disjoint, so a single +1): Java's MULTILINE ^ never matches after a
    trailing terminator at end-of-input (unlike the split, which emits a
    final "" segment there), so a terminator-final text has exactly one
    uncounted — and by construction blank — last line; and Spark's
    regexp_count short-circuits to 0 on EMPTY input, where the one split
    segment is "" (blank)."""
    total = F.regexp_count(text, F.lit(LINE_SPLIT_PAT)) + F.lit(1)
    blank = F.regexp_count(text, F.lit(_BLANK_LINE_ANCHORED)) + F.when(
        text.endswith("\n") | (F.length(text) == 0), F.lit(1)
    ).otherwise(F.lit(0))
    return total - blank


def lines_struct(text: Column) -> Column:
    """struct(total, content, code) — mirrors src/index.ts:426-432.

    All three counts are whole-text regexp_count scans (see
    _nonblank_count); ``stripped`` is let-bound so the two comment-strip
    regexp_replace passes run once per row, not once per referencing
    count."""
    from .dedup import _let

    stripped = F.regexp_replace(
        F.regexp_replace(text, LINE_COMMENT_PAT, ""), BLOCK_COMMENT_PAT, ""
    )

    def build(s: Column) -> Column:
        total = F.regexp_count(text, F.lit(LINE_SPLIT_PAT)) + F.lit(1)
        return F.struct(
            total.cast("long").alias("total"),
            _nonblank_count(text).cast("long").alias("content"),
            _nonblank_count(s).cast("long").alias("code"),
        )

    return _let(stripped, build)


def words_col(text: Column) -> Column:
    return F.filter(F.split(text, WORD_SPLIT_PAT), lambda x: x != F.lit(""))


# non-ws runs / single ws chars: regexp_count equivalents of the words_col
# split (same [WORD_SPLIT_PAT] char class, so counts match the filtered
# split exactly — every char is either a ws char or inside exactly one run)
_WORD_RUN_PAT = "[^" + WORD_SPLIT_PAT[1:-2] + "]+"
_WS_CHAR_PAT = WORD_SPLIT_PAT[:-1]


def quality_struct(text: Column) -> Column:
    """struct(n_words, mean_word_len, symbol_ratio, dup_line_ratio) — the
    same features as oracle.quality_features, computed JVM-side.

    n_words / mean_word_len come from two whole-text regexp_count scans
    (word-run count; ws-char count, so summed word chars = length - ws) —
    no words array, no interpreted aggregate fold. Only dup_line_ratio
    still materializes an array (array_distinct needs the actual lines);
    it is let-bound so the split+filter runs once per row."""
    from .dedup import _let

    lines = _nonblank(F.split(text, LINE_SPLIT_PAT))

    def build(l: Column) -> Column:
        n_words = F.regexp_count(text, F.lit(_WORD_RUN_PAT)).cast("long")
        char_sum = (
            F.length(text) - F.regexp_count(text, F.lit(_WS_CHAR_PAT))
        ).cast("long")
        mean_wl = F.when(n_words > 0, char_sum / n_words).otherwise(F.lit(0.0))
        sym_ratio = F.when(
            F.length(text) > 0,
            F.regexp_count(text, F.lit(SYMBOL_PAT)) / F.length(text),
        ).otherwise(F.lit(0.0))
        n_lines = F.size(l)
        dup_ratio = F.when(
            n_lines > 0,
            F.lit(1.0) - F.size(F.array_distinct(l)) / n_lines,
        ).otherwise(F.lit(0.0))
        return F.struct(
            n_words.alias("n_words"),
            mean_wl.alias("mean_word_len"),
            sym_ratio.alias("symbol_ratio"),
            dup_ratio.alias("dup_line_ratio"),
        )

    return _let(lines, build)


def quality_drop_reason_col(
    q: Column,
    cfg: QualityFilterConfig,
    top_bigram: Column | None = None,
    stopword_hits: Column | None = None,
) -> Column:
    """CASE chain mirroring oracle.quality_drop_reason (rule order matters).

    ``top_bigram`` is the optional Gopher repetition score column
    (gopher.top_ngram_char_ratio_col(text, 2)); it is only consulted when
    cfg.max_top_bigram_ratio is set, so the default plan never pays for
    the bigram fold. ``stopword_hits`` (gopher.stopword_hits_col) is the
    same pattern for cfg.min_stopword_hits — Gopher's English 8-stopword
    presence rule, off by default (turn it on only for English corpora)."""
    if not cfg.quality_rules:
        return F.lit(None).cast("string")
    case = (
        F.when(
            (q.n_words < cfg.min_words) | (q.n_words > cfg.max_words),
            F.lit("quality-words"),
        )
        .when(
            ~q.mean_word_len.between(cfg.min_mean_word_len, cfg.max_mean_word_len),
            F.lit("quality-word-length"),
        )
        .when(q.symbol_ratio > cfg.max_symbol_ratio, F.lit("quality-symbols"))
        .when(q.dup_line_ratio > cfg.max_dup_line_ratio, F.lit("quality-dup-lines"))
    )
    if cfg.max_top_bigram_ratio is not None:
        if top_bigram is None:
            # fail loud: silently skipping an enabled rule would diverge
            # from oracle.quality_drop_reason (which always applies it)
            raise ValueError(
                "cfg.max_top_bigram_ratio is set but no top_bigram column "
                "was supplied — pass gopher.top_ngram_char_ratio_col(text, 2)"
            )
        case = case.when(
            top_bigram > cfg.max_top_bigram_ratio, F.lit("quality-repetition")
        )
    if cfg.min_stopword_hits > 0:
        if stopword_hits is None:
            raise ValueError(
                "cfg.min_stopword_hits is set but no stopword_hits column "
                "was supplied — pass gopher.stopword_hits_col(text)"
            )
        case = case.when(
            stopword_hits < cfg.min_stopword_hits, F.lit("quality-stopwords")
        )
    return case.otherwise(F.lit(None))


def dedup_lines_col(text: Column, keep_blank: bool = True) -> Column:
    """CCNet/RefinedWeb-style WITHIN-document line dedup: rewrite the
    document keeping only the FIRST occurrence of each exact line, in
    order. Blank lines are kept verbatim by default (they are structure,
    not content — dropping all-but-one empty line would merge paragraphs).

    Native array algebra: one fold over the split lines accumulating the
    kept array (``array_contains`` membership against the lines kept so
    far — O(lines^2) worst case per row, fine for web documents where
    lines are ~10^2; no UDF, no shuffle). Restatable as a SQL window:
    keep rows where ROW_NUMBER() over (doc, line ORDER BY idx) = 1."""
    from .dedup import _let

    lines = F.split(text, LINE_SPLIT_PAT)

    def build(ls: Column) -> Column:
        init = F.array().cast("array<string>")

        def merge(acc, l):
            is_dup = F.array_contains(acc, l)
            if keep_blank:
                is_dup = is_dup & ~l.rlike(BLANK_LINE_PAT)
            return F.when(is_dup, acc).otherwise(F.array_append(acc, l))

        return F.array_join(F.aggregate(ls, init, merge), "\n")

    return _let(lines, build)


def c4_line_filter_col(
    text: Column, min_words: int = 3, require_terminal_punct: bool = True
) -> Column:
    """C4-style line-level cleaning as a native TRANSFORM (the doc-level
    rules above drop whole documents; C4 also rewrites each kept document
    by deleting boilerplate lines). A line survives iff it has at least
    ``min_words`` whitespace words and (optionally) ends in terminal
    punctuation (. ! ? ") — the C4 heuristics for menu items, buttons and
    navigation fragments. Surviving lines are rejoined with '\\n' in
    order. Narrow array algebra (split/filter/join), no UDF, no shuffle."""
    from .dedup import _let

    lines = F.split(text, LINE_SPLIT_PAT)

    def build(ls: Column) -> Column:
        def keep(l: Column) -> Column:
            trimmed = F.trim(l)
            n_words = F.size(
                F.filter(F.split(trimmed, WORD_SPLIT_PAT), lambda x: x != F.lit(""))
            )
            ok = n_words >= F.lit(min_words)
            if require_terminal_punct:
                ok = ok & trimmed.rlike(r'[.!?"]$')
            return ok

        return F.array_join(F.filter(ls, keep), "\n")

    return _let(lines, build)
