"""Gopher quality + repetition signal suite (Rae et al. 2021, Table A1).

Completes the published MassiveText/Gopher filter set beyond what
``quality.py`` already provides (word count, mean word length, symbol
ratio, duplicate-line ratio, top-2-gram ratio, C4 line cleaning):

Quality signals (``gopher_quality`` driver query, literal DuckDB oracle):
  - bullet_line_ratio      fraction of lines starting with a bullet char
  - ellipsis_line_ratio    fraction of lines ending with ... or U+2026
  - alpha_word_ratio       fraction of words containing >=1 Unicode letter
  - stopword_hits          how many of the 8 Gopher stopwords appear
  - hash_ellipsis_word_ratio  (# + ellipsis occurrences) / word count

Repetition signals (``gopher_repetition`` driver query, python-twin oracle):
  - dup_line_char_ratio    chars in repeat occurrences of non-blank lines
  - dup_paragraph_ratio    1 - distinct/total over blank-line paragraphs
  - dup_paragraph_char_ratio  same, weighted by paragraph length
  - top_ngram_char_ratio(n)   chars of the most frequent word n-gram
  - dup_ngram_char_ratio(n)   chars of words covered by ANY word n-gram
                              occurring >=2 times (overlap counted once)

Every Spark expression is built-in Column algebra (regexp_count whole-text
scans, sorted-array run folds, an interval-merge fold for overlap-aware
n-gram coverage) — no UDF, no shuffle; each ``*_py`` twin is the bit-exact
pure-Python restatement used by the fuzz tests and the VALUES oracle.

Word/line tokenization reuses the repo-wide patterns (oracle.py A2): words
are maximal non-whitespace runs, so punctuation stays attached ("the,"
does not count as the stopword "the") — documented divergence from
implementations that strip punctuation first.

Reference analog: none — this module is graft-tier (BASELINE.json
north_rule quality_filter); the reference (src/index.ts) has no document
quality model.
"""

from __future__ import annotations

import re
import unicodedata
from collections import Counter

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..oracle import LINE_SPLIT_PAT, WORD_SPLIT_PAT
from .dedup import _let
from .quality import _WORD_RUN_PAT, _WS_CHAR_PAT, _nonblank, words_col

GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

# Bullet chars: the ASCII and typographic bullets Gopher-style filters use.
_BULLET_CLASS = "[-*•‣▪]"
_BULLET_LINE_PAT = "(?d)(?m)^[ \t]*" + _BULLET_CLASS
# A line "ending with an ellipsis": ... or U+2026, then only trailing
# space/tab/CR before the line break ((?d): anchors fire at \n only, so
# split-segment parity holds — see quality._BLANK_LINE_ANCHORED).
_ELLIPSIS_LINE_PAT = "(?d)(?m)(?:\\.\\.\\.|…)[ \t\r]*$"
# A maximal non-ws run containing >=1 Unicode letter. The leading anchor
# (start-of-input or a lookbehind whitespace char) pins matches to run
# starts; the greedy tail consumes the whole run, so each word matches at
# most once and the count equals len([w for w in words if has_letter(w)]).
_ALPHA_WORD_PAT = (
    "(?:\\A|(?<=[" + WORD_SPLIT_PAT[1:-2] + "]))"
    "[^" + WORD_SPLIT_PAT[1:-2] + "]*\\p{L}[^" + WORD_SPLIT_PAT[1:-2] + "]*"
)
# Paragraphs: blank-line separated blocks (the blank line may carry
# spaces/tabs). No lookaround, so the same pattern runs under java.regex,
# python re, and RE2.
_PARA_SPLIT_PAT = r"\r?\n(?:[ \t]*\r?\n)+"

_WS_CHARS = " \t\r\n\f\x0B"


def _total_lines(text: Column) -> Column:
    return F.regexp_count(text, F.lit(LINE_SPLIT_PAT)) + F.lit(1)


def _n_words(text: Column) -> Column:
    return F.regexp_count(text, F.lit(_WORD_RUN_PAT)).cast("long")


def _word_chars(text: Column) -> Column:
    # sum of word lengths == length - whitespace chars (every char is ws or
    # inside exactly one word run; see quality.quality_struct)
    return (F.length(text) - F.regexp_count(text, F.lit(_WS_CHAR_PAT))).cast(
        "long"
    )


# ---------------------------------------------------------------------------
# quality signals (whole-text scans; SQL-restatable without lookbehind via
# DuckDB list_filter over the split — see __spark_entry__._GOPHER_QUALITY)
# ---------------------------------------------------------------------------


def bullet_line_ratio_col(text: Column) -> Column:
    """Fraction of lines whose first non-space/tab char is a bullet."""
    return F.when(
        F.length(text) > 0,
        F.regexp_count(text, F.lit(_BULLET_LINE_PAT)) / _total_lines(text),
    ).otherwise(F.lit(0.0))


def ellipsis_line_ratio_col(text: Column) -> Column:
    """Fraction of lines ending with ``...`` or U+2026 (+ trailing ws)."""
    return F.when(
        F.length(text) > 0,
        F.regexp_count(text, F.lit(_ELLIPSIS_LINE_PAT)) / _total_lines(text),
    ).otherwise(F.lit(0.0))


def alpha_word_ratio_col(text: Column) -> Column:
    """Fraction of words containing at least one Unicode letter (\\p{L})."""
    n = _n_words(text)
    return F.when(
        n > 0, F.regexp_count(text, F.lit(_ALPHA_WORD_PAT)) / n
    ).otherwise(F.lit(0.0))


def stopword_hits_col(text: Column) -> Column:
    """How many of the 8 Gopher stopwords occur as a (lowercased,
    whitespace-delimited) word. 0..8; the published rule drops docs < 2."""
    words = F.split(F.lower(text), WORD_SPLIT_PAT)
    hits = [F.array_contains(words, F.lit(s)).cast("int") for s in GOPHER_STOPWORDS]
    out = hits[0]
    for h in hits[1:]:
        out = out + h
    return out.alias("stopword_hits")


def _stopword_lists() -> dict[str, list[str]]:
    from ..metadata import load_langid_config

    conf = load_langid_config()
    return {k: sorted(set(v)) for k, v in conf["stopword_langs"].items()}


def per_lang_stopword_hits_col(text: Column, lang: Column) -> Column:
    """CCNet-style per-language stopword presence: how many of ``lang``'s
    curated stopwords (the langid snapshot's 16 per-language lists) occur
    as a lowercased ws-delimited word; NULL when ``lang`` has no list (the
    rule is then not applicable — a zh doc is never judged by an English
    word list). One lowered-words binding, one array_intersect per
    language branch, all codegen."""
    lists = _stopword_lists()
    words = F.split(F.lower(text), WORD_SPLIT_PAT)

    def build(w: Column) -> Column:
        out = F.lit(None).cast("int")
        for lg in sorted(lists):
            hits = F.size(
                F.array_intersect(w, F.array(*[F.lit(s) for s in lists[lg]]))
            )
            out = F.when(lang == F.lit(lg), hits).otherwise(out)
        return out

    return _let(words, build)


def per_lang_stopword_hits_py(text: str, lang: str | None) -> int | None:
    lists = _stopword_lists()
    if lang is None or lang not in lists:
        return None
    words = set(_py_words(text.lower()))
    return sum(1 for s in lists[lang] if s in words)


def hash_ellipsis_word_ratio_col(text: Column) -> Column:
    """Gopher's symbol-to-word ratio: (# occurrences + ellipsis
    occurrences) / word count. ``...`` runs count one ellipsis per
    non-overlapping triple (regexp semantics), matching the twin."""
    n = _n_words(text)
    syms = F.regexp_count(text, F.lit("#")) + F.regexp_count(
        text, F.lit("(?:\\.\\.\\.|…)")
    )
    return F.when(n > 0, syms / n).otherwise(F.lit(0.0))


# ---------------------------------------------------------------------------
# repetition signals
# ---------------------------------------------------------------------------


def _dup_char_fold(arr: Column) -> Column:
    """struct(dup, tot): total chars of elements, and chars of every
    occurrence AFTER the first of each repeated element. One fold over the
    sorted copy (equal elements are contiguous after array_sort)."""
    zero = F.lit(0).cast("long")
    init = F.struct(
        F.lit("").alias("prev"), zero.alias("dup"), zero.alias("tot")
    )

    def merge(acc, x):
        is_rep = (x == acc.getField("prev")) & (acc.getField("tot") > 0)
        return F.struct(
            x.alias("prev"),
            F.when(is_rep, acc.getField("dup") + F.length(x))
            .otherwise(acc.getField("dup"))
            .alias("dup"),
            (acc.getField("tot") + F.length(x)).alias("tot"),
        )

    return F.aggregate(F.array_sort(arr), init, merge)


def dup_line_char_ratio_col(text: Column) -> Column:
    """Chars in repeat occurrences of non-blank lines / chars in all
    non-blank lines. The count-basis twin of quality_struct.dup_line_ratio."""
    lines = _nonblank(F.split(text, LINE_SPLIT_PAT))

    def build(acc: Column) -> Column:
        return F.when(
            acc.getField("tot") > 0,
            acc.getField("dup") / acc.getField("tot"),
        ).otherwise(F.lit(0.0))

    return _let(_dup_char_fold(lines), build)


# trim set for paragraph edges: the ws chars a segment can carry (no \n —
# the split consumed those). Explicit on BOTH sides: Spark's F.trim strips
# only ASCII space, Python's str.strip() strips all Unicode whitespace.
_PARA_TRIM_CHARS = " \t\r\f\x0B"


def _paragraphs(text: Column) -> Column:
    segs = F.transform(
        F.split(text, _PARA_SPLIT_PAT),
        lambda x: F.btrim(x, F.lit(_PARA_TRIM_CHARS)),
    )
    return F.filter(segs, lambda x: x != F.lit(""))


def dup_paragraph_ratio_col(text: Column) -> Column:
    """1 - distinct/total over blank-line-separated trimmed paragraphs."""
    paras = _paragraphs(text)

    def build(p: Column) -> Column:
        n = F.size(p)
        return F.when(
            n > 0, F.lit(1.0) - F.size(F.array_distinct(p)) / n
        ).otherwise(F.lit(0.0))

    return _let(paras, build)


def dup_paragraph_char_ratio_col(text: Column) -> Column:
    paras = _paragraphs(text)

    def build(acc: Column) -> Column:
        return F.when(
            acc.getField("tot") > 0,
            acc.getField("dup") / acc.getField("tot"),
        ).otherwise(F.lit(0.0))

    return _let(_dup_char_fold(paras), build)


def _ngrams(w: Column, n: int) -> Column:
    m = F.size(w)
    return F.when(
        m >= n,
        F.transform(
            F.sequence(F.lit(1), m - n + 1),
            lambda i: F.concat_ws(" ", F.slice(w, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _top_ngram_from_words(text: Column, w: Column, n: int) -> Column:
    """top_ngram_char_ratio_col body over an already-bound words array —
    shared by the per-signal column and gopher_repetition_struct (HOF
    lambda children get no CSE, so the struct binds words ONCE for all
    n-gram signals instead of re-splitting per column)."""
    grams = _ngrams(w, n)
    zero = F.lit(0).cast("long")
    acc0 = F.struct(
        F.lit("").alias("prev"), zero.alias("run"),
        zero.alias("best"), F.lit("").alias("bstr"),
    )

    def merge(acc, x):
        run = F.when(
            x == acc.getField("prev"), acc.getField("run") + 1
        ).otherwise(F.lit(1).cast("long"))
        better = run > acc.getField("best")
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.when(better, run).otherwise(acc.getField("best")).alias("best"),
            F.when(better, x).otherwise(acc.getField("bstr")).alias("bstr"),
        )

    red = F.aggregate(F.array_sort(grams), acc0, merge)
    return F.when(
        (F.length(text) > 0) & (red.getField("best") > 0),
        (red.getField("best") * F.length(red.getField("bstr")))
        .cast("double") / F.length(text),
    ).otherwise(F.lit(0.0))


def top_ngram_char_ratio_col(text: Column, n: int) -> Column:
    """Chars of the most frequent word n-gram (count x len, space-joined) /
    total chars; 0.0 below n words. Native per-row algebra: sort the
    n-gram array and find the longest run with one F.aggregate fold (equal
    grams are contiguous after the sort). The strictly-greater update makes
    ties deterministic: the lexicographically smallest top gram wins. At
    n=2 this is the pipeline's Gopher repetition signal (twin:
    oracle.top_bigram_ratio)."""
    if n < 2:
        raise ValueError("top_ngram_char_ratio_col needs n >= 2")
    return _let(words_col(text), lambda w: _top_ngram_from_words(text, w, n))


def dup_ngram_char_ratio_col(text: Column, n: int) -> Column:
    """Overlap-aware duplicate-n-gram coverage: mark every word that
    participates in ANY occurrence of a word n-gram appearing >=2 times;
    return (chars of marked words) / (chars of all words). Overlapping and
    adjacent duplicate grams never double-count a word: duplicate-gram
    start positions are ascending, so a single interval-merge fold
    (``start = max(pos, covered_end + 1)``) adds only the newly covered
    suffix of each occurrence. Cost per row: O(words x duplicated-grams)
    for the membership filter + O(words log words) for the sort — all
    inside codegen, no UDF, no shuffle."""
    if n < 2:
        raise ValueError("dup_ngram_char_ratio_col needs n >= 2")
    return _let(words_col(text), lambda w: _dup_ngram_from_words(text, w, n))


def _dup_ngram_from_words(text: Column, w: Column, n: int) -> Column:
    """dup_ngram_char_ratio_col body over an already-bound words array
    (see _top_ngram_from_words for why the binding is shared)."""
    def with_grams(g: Column) -> Column:
        # duplicated grams, via the sorted-run fold (append on run==2)
        zero = F.lit(0).cast("long")
        d0 = F.struct(
            F.lit("").alias("prev"), zero.alias("run"),
            F.array().cast("array<string>").alias("dups"),
        )

        def dmerge(acc, x):
            run = F.when(
                x == acc.getField("prev"), acc.getField("run") + 1
            ).otherwise(F.lit(1).cast("long"))
            return F.struct(
                x.alias("prev"),
                run.alias("run"),
                F.when(
                    run == 2, F.array_append(acc.getField("dups"), x)
                ).otherwise(acc.getField("dups")).alias("dups"),
            )

        dups = F.aggregate(
            F.array_sort(g), d0, dmerge, lambda a: a.getField("dups")
        )

        def with_dups(D: Column) -> Column:
            npos = F.size(g)
            positions = F.when(
                npos >= 1,
                F.filter(
                    F.sequence(F.lit(1), npos),
                    lambda i: F.array_contains(D, F.element_at(g, i)),
                ),
            ).otherwise(F.array().cast("array<int>"))
            c0 = F.struct(
                F.lit(0).alias("end"), F.lit(0).cast("long").alias("chars")
            )

            def cmerge(acc, i):
                start = F.greatest(i, acc.getField("end") + 1)
                seg = i + F.lit(n) - start  # word count of new suffix
                add = F.when(
                    seg > 0,
                    F.aggregate(
                        F.slice(w, start, seg),
                        F.lit(0).cast("long"),
                        lambda a, x: a + F.length(x),
                    ),
                ).otherwise(F.lit(0).cast("long"))
                return F.struct(
                    F.greatest(acc.getField("end"), i + F.lit(n - 1)).alias(
                        "end"
                    ),
                    (acc.getField("chars") + add).alias("chars"),
                )

            covered = F.aggregate(
                positions, c0, cmerge, lambda a: a.getField("chars")
            )
            tot = _word_chars(text)
            return F.when(tot > 0, covered / tot).otherwise(F.lit(0.0))

        return _let(dups, with_dups)

    return _let(_ngrams(w, n), with_grams)


# ---------------------------------------------------------------------------
# pure-Python twins (bit-exact restatements: same integer counts, same
# double divisions — used by the fuzz tests and the VALUES oracle)
# ---------------------------------------------------------------------------

_PY_WORD_SPLIT = re.compile(WORD_SPLIT_PAT)
_PY_LINE_SPLIT = re.compile(LINE_SPLIT_PAT)
_PY_PARA_SPLIT = re.compile(_PARA_SPLIT_PAT)
_PY_BULLET = re.compile("^[ \t]*" + _BULLET_CLASS)
_PY_ELLIPSIS = re.compile("(?:\\.\\.\\.|…)[ \t\r]*\\Z")
_PY_BLANK = re.compile(r"^[ \t\f\x0B\r]*$")
_PY_ELL_COUNT = re.compile("(?:\\.\\.\\.|…)")


def _py_words(text: str) -> list[str]:
    return [w for w in _PY_WORD_SPLIT.split(text) if w != ""]


def _py_lines(text: str) -> list[str]:
    return _PY_LINE_SPLIT.split(text)


def bullet_line_ratio_py(text: str) -> float:
    if not text:
        return 0.0
    lines = _py_lines(text)
    return sum(1 for l in lines if _PY_BULLET.match(l)) / len(lines)


def ellipsis_line_ratio_py(text: str) -> float:
    if not text:
        return 0.0
    lines = _py_lines(text)
    return sum(1 for l in lines if _PY_ELLIPSIS.search(l)) / len(lines)


def alpha_word_ratio_py(text: str) -> float:
    words = _py_words(text)
    if not words:
        return 0.0
    good = sum(
        1
        for w in words
        if any(unicodedata.category(c).startswith("L") for c in w)
    )
    return good / len(words)


def stopword_hits_py(text: str) -> int:
    words = set(_py_words(text.lower()))
    return sum(1 for s in GOPHER_STOPWORDS if s in words)


def hash_ellipsis_word_ratio_py(text: str) -> float:
    words = _py_words(text)
    if not words:
        return 0.0
    return (text.count("#") + len(_PY_ELL_COUNT.findall(text))) / len(words)


def _py_dup_char(items: list[str]) -> float:
    tot = sum(len(x) for x in items)
    if tot == 0:
        return 0.0
    c = Counter(items)
    dup = sum((k - 1) * len(x) for x, k in c.items())
    return dup / tot


def dup_line_char_ratio_py(text: str) -> float:
    return _py_dup_char(
        [l for l in _py_lines(text) if not _PY_BLANK.match(l)]
    )


def _py_paragraphs(text: str) -> list[str]:
    ps = (p.strip(_PARA_TRIM_CHARS) for p in _PY_PARA_SPLIT.split(text))
    return [p for p in ps if p != ""]


def dup_paragraph_ratio_py(text: str) -> float:
    paras = _py_paragraphs(text)
    if not paras:
        return 0.0
    return 1.0 - len(set(paras)) / len(paras)


def dup_paragraph_char_ratio_py(text: str) -> float:
    return _py_dup_char(_py_paragraphs(text))


def _py_ngrams(words: list[str], n: int) -> list[str]:
    return [" ".join(words[i : i + n]) for i in range(len(words) - n + 1)]


def top_ngram_char_ratio_py(text: str, n: int) -> float:
    words = _py_words(text)
    if not text or len(words) < n:
        return 0.0
    c = Counter(_py_ngrams(words, n))
    # highest count, then lexicographically smallest gram (the fold's
    # strictly-greater update over the sorted array)
    best = max(c.values())
    bstr = min(g for g, k in c.items() if k == best)
    return best * len(bstr) / len(text)


def dup_ngram_char_ratio_py(text: str, n: int) -> float:
    words = _py_words(text)
    tot = sum(len(w) for w in words)
    if tot == 0 or len(words) < n:
        return 0.0
    grams = _py_ngrams(words, n)
    c = Counter(grams)
    covered: set[int] = set()
    for i, g in enumerate(grams):
        if c[g] >= 2:
            covered.update(range(i, i + n))
    chars = sum(len(words[j]) for j in covered)
    return chars / tot


# ---------------------------------------------------------------------------
# the published rule chain
# ---------------------------------------------------------------------------

#: Gopher Table A1 thresholds (doc is DROPPED when the predicate fails).
GOPHER_THRESHOLDS = {
    "min_words": 50,
    "max_words": 100_000,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "max_hash_ellipsis_word_ratio": 0.1,
    "max_bullet_line_ratio": 0.9,
    "max_ellipsis_line_ratio": 0.3,
    "min_alpha_word_ratio": 0.8,
    "min_stopword_hits": 2,
}


def gopher_repetition_struct(text: Column) -> Column:
    """ALL repetition signals in one struct, binding the words array ONCE
    (HOF lambda children get no common-subexpression elimination, so
    separate signal columns would each re-split/re-filter the text — 4
    redundant word materializations per row for the n-gram signals).
    Fields: dup_line_chars, dup_paras, dup_para_chars, top3, top4, dup5,
    dup10 — each value identical to its standalone *_col."""
    def build(w: Column) -> Column:
        return F.struct(
            dup_line_char_ratio_col(text).alias("dup_line_chars"),
            dup_paragraph_ratio_col(text).alias("dup_paras"),
            dup_paragraph_char_ratio_col(text).alias("dup_para_chars"),
            _top_ngram_from_words(text, w, 3).alias("top3"),
            _top_ngram_from_words(text, w, 4).alias("top4"),
            _dup_ngram_from_words(text, w, 5).alias("dup5"),
            _dup_ngram_from_words(text, w, 10).alias("dup10"),
        )

    return _let(words_col(text), build)


#: Gopher Table A1 repetition thresholds over the signals this module
#: computes (doc dropped when ANY ratio exceeds its bound).
GOPHER_REPETITION_THRESHOLDS = {
    "dup_line_chars": 0.20,
    "dup_paras": 0.30,
    "dup_para_chars": 0.20,
    "top3": 0.18,
    "top4": 0.16,
    "dup5": 0.15,
    "dup10": 0.10,
}


def gopher_repetition_exceeds_col(text: Column) -> Column:
    """True when any Gopher repetition signal exceeds its published
    threshold. One expression tree per row (all signals, short-circuit is
    left to codegen); at 100 TB run this only on survivors of the cheap
    quality scans."""
    t = GOPHER_REPETITION_THRESHOLDS

    def build(r: Column) -> Column:
        out = F.lit(False)
        for name, bound in t.items():
            out = out | (r.getField(name) > bound)
        return out

    return _let(gopher_repetition_struct(text), build)


def gopher_repetition_exceeds_py(text: str) -> bool:
    t = GOPHER_REPETITION_THRESHOLDS
    return (
        dup_line_char_ratio_py(text) > t["dup_line_chars"]
        or dup_paragraph_ratio_py(text) > t["dup_paras"]
        or dup_paragraph_char_ratio_py(text) > t["dup_para_chars"]
        or top_ngram_char_ratio_py(text, 3) > t["top3"]
        or top_ngram_char_ratio_py(text, 4) > t["top4"]
        or dup_ngram_char_ratio_py(text, 5) > t["dup5"]
        or dup_ngram_char_ratio_py(text, 10) > t["dup10"]
    )


def gopher_quality_drop_reason_col(
    text: Column,
    lang: Column | None = None,
    min_words: int | None = None,
) -> Column:
    """The published Gopher document-quality rule chain as ONE case
    expression (first failing rule names the drop; NULL = keep). The
    repetition rules live in the separate *_char_ratio columns — at 100 TB
    you compute those only for survivors of these cheap scans.

    ``lang``: when given, the stopword rule goes per-language (CCNet
    style): each of the snapshot's 16 stopword lists judges its own
    language, and languages WITHOUT a list are not judged at all (Gopher
    itself is an English-corpus pipeline; judging zh by English stopwords
    would drop every zh doc). When ``lang`` is None the published English
    8-word rule applies unconditionally. ``min_words`` overrides the
    published floor (e.g. a short-document corpus); all other thresholds
    stay Table A1."""
    t = GOPHER_THRESHOLDS
    if min_words is None:
        min_words = t["min_words"]
    n = _n_words(text)
    mean_wl = F.when(n > 0, _word_chars(text) / n).otherwise(F.lit(0.0))
    if lang is not None:
        hits = per_lang_stopword_hits_col(text, lang)
        stop_rule = hits.isNotNull() & (hits < t["min_stopword_hits"])
    else:
        stop_rule = stopword_hits_col(text) < t["min_stopword_hits"]
    return (
        F.when(
            (n < min_words) | (n > t["max_words"]), F.lit("gopher-words")
        )
        .when(
            ~mean_wl.between(t["min_mean_word_len"], t["max_mean_word_len"]),
            F.lit("gopher-word-length"),
        )
        .when(
            hash_ellipsis_word_ratio_col(text)
            > t["max_hash_ellipsis_word_ratio"],
            F.lit("gopher-symbols"),
        )
        .when(
            bullet_line_ratio_col(text) > t["max_bullet_line_ratio"],
            F.lit("gopher-bullets"),
        )
        .when(
            ellipsis_line_ratio_col(text) > t["max_ellipsis_line_ratio"],
            F.lit("gopher-ellipsis"),
        )
        .when(
            alpha_word_ratio_col(text) < t["min_alpha_word_ratio"],
            F.lit("gopher-alpha"),
        )
        .when(stop_rule, F.lit("gopher-stopwords"))
        .otherwise(F.lit(None).cast("string"))
    )


def quality_stage_col(
    text: Column,
    lang: Column | None = None,
    min_words: int | None = None,
) -> Column:
    """The STATELESS funnel stage: the Gopher quality chain, then the
    repetition thresholds, else 'keep'. Pure per-row algebra — usable
    unchanged in an append-mode stream (the stateful exact-dup stage lives
    only in the batch funnel / stream_exact_dedup)."""
    return F.coalesce(
        gopher_quality_drop_reason_col(text, lang=lang, min_words=min_words),
        F.when(gopher_repetition_exceeds_col(text), "gopher-repetition"),
        F.lit("keep"),
    )


def quality_funnel(
    df,
    id_col: str = "doc_id",
    lang_col: str = "lang",
    text_col: str = "text",
    min_words: int | None = None,
):
    """The quality-filter tier's flagship composition as ONE job: every
    row is attributed to its FIRST failing stage — the Gopher quality rule
    chain (lang-gated stopword rule), then the repetition thresholds, then
    exact-dup (md5 byte identity, min-id winner) — and the funnel rolls up
    ``(stage, n_docs, bytes)``. Plan: one scan, one window shuffle (md5
    partition — fingerprints, never text), one map-side-combined rollup.
    NULL text is treated as empty (it lands in 'gopher-words')."""
    from pyspark.sql import Window

    t = F.coalesce(F.col(text_col), F.lit(""))
    first_id = F.min(id_col).over(Window.partitionBy(F.md5(t)))
    stateless = quality_stage_col(t, lang=F.col(lang_col), min_words=min_words)
    stage = F.when(
        (stateless == "keep") & (F.col(id_col) != first_id), "exact-dup"
    ).otherwise(stateless)
    return (
        df.select(
            stage.alias("stage"), F.octet_length(t).cast("long").alias("b")
        )
        .groupBy("stage")
        .agg(F.count("*").alias("n_docs"), F.sum("b").alias("bytes"))
    )


def gopher_quality_drop_reason_py(
    text: str, lang: str | None = None, min_words: int | None = None
) -> str | None:
    t = GOPHER_THRESHOLDS
    if min_words is None:
        min_words = t["min_words"]
    words = _py_words(text)
    n = len(words)
    mean_wl = (sum(len(w) for w in words) / n) if n else 0.0
    if n < min_words or n > t["max_words"]:
        return "gopher-words"
    if not (t["min_mean_word_len"] <= mean_wl <= t["max_mean_word_len"]):
        return "gopher-word-length"
    if hash_ellipsis_word_ratio_py(text) > t["max_hash_ellipsis_word_ratio"]:
        return "gopher-symbols"
    if bullet_line_ratio_py(text) > t["max_bullet_line_ratio"]:
        return "gopher-bullets"
    if ellipsis_line_ratio_py(text) > t["max_ellipsis_line_ratio"]:
        return "gopher-ellipsis"
    if alpha_word_ratio_py(text) < t["min_alpha_word_ratio"]:
        return "gopher-alpha"
    if lang is not None:
        hits = per_lang_stopword_hits_py(text, lang)
        if hits is not None and hits < t["min_stopword_hits"]:
            return "gopher-stopwords"
    elif stopword_hits_py(text) < t["min_stopword_hits"]:
        return "gopher-stopwords"
    return None
