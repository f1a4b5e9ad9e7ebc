"""Pure-Python row-wise oracle of the reference classification cascade.

This module reimplements, row-at-a-time, the exact keep/drop + language
semantics of the reference (`/root/reference/src/index.ts`, raw-content mode,
src/index.ts:21-23,75-78) so that:

  1. pytest can compare the distributed Spark pipeline against it
     (keep/drop F1 gate, BASELINE.json) on the synthetic fixture table, and
  2. the vectorized pandas-UDF kernels can delegate to the same functions for
     the rare slow-path rows (shebang/modeline/heuristics subsets), guaranteeing
     the two paths can never diverge.

Reference line citations are given per stage. Known deliberate deltas from the
reference, kept for the graft contract:
  - bytes are UTF-8 octets (Spark ``octet_length``), not UTF-16 code units
    (JS ``String.length``, src/index.ts:421); identical for ASCII fixtures.
  - blank-line detection uses the explicit class ``[ \\t\\f\\v\\r]`` instead of
    JS ``trim()`` so Java regex (Spark) and Python agree on unicode input.
  - binary *content* sniff (src/index.ts:316) is applied to the ``html`` bytes
    column (null byte in the first 1024 bytes), since raw-content mode in the
    reference has no content sniff at all.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from .config import QualityFilterConfig
from .metadata import Metadata, glob_to_regex, load_langid_config, load_metadata, load_scrub_config

# --------------------------------------------------------------------------
# path helpers (reference analogies: norm-path.ts + Path.basename/extname)
# --------------------------------------------------------------------------

_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://[^/]*/?")


def path_of_url(url: str) -> str:
    """Relative path of a document: URL path without scheme/host/leading slash.

    Plays the role of the reference's relPath (src/index.ts:58): vendor
    regexes and globs match against it.
    """
    p = _SCHEME_RE.sub("", url)
    return p.lstrip("/")


def basename(path: str) -> str:
    return path.rsplit("/", 1)[-1]


def extname(path: str) -> str:
    """Node Path.extname semantics (src/index.ts:210): final '.ext' of the
    basename, '' if none or if the name starts with its only dot."""
    base = basename(path)
    idx = base.rfind(".")
    if idx <= 0:
        return ""
    return base[idx:]


# --------------------------------------------------------------------------
# override table (gitattributes analog, parse-gitattributes.ts:4-11)
# --------------------------------------------------------------------------

_OVR_ATTRS = ("vendored", "generated", "documentation", "detectable", "binary", "language")


@dataclass(frozen=True)
class OverrideRule:
    glob: str
    vendored: bool | None = None
    generated: bool | None = None
    documentation: bool | None = None
    detectable: bool | None = None
    binary: bool | None = None
    language: str | None = None

    def regex(self) -> re.Pattern:
        return re.compile(glob_to_regex(self.glob))


def merged_attrs(path: str, rules: list[OverrideRule]) -> dict:
    """All matching globs merged, later non-null wins (src/index.ts:90-105)."""
    out: dict = {}
    for rule in rules:
        if rule.regex().search(path):
            for attr in _OVR_ATTRS:
                val = getattr(rule, attr)
                if val is not None:
                    out[attr] = val
    return out


def flagged_globs(rules: list[OverrideRule], attr: str, val: bool) -> list[re.Pattern]:
    """getFlaggedGlobs analog (src/index.ts:92-94): glob-level, no merge."""
    return [r.regex() for r in rules if getattr(r, attr) is val]


# --------------------------------------------------------------------------
# classification result
# --------------------------------------------------------------------------


@dataclass
class DocResult:
    url: str
    path: str
    keep: bool
    keep_reason: str                     # 'classified' or the drop reason
    lang: str | None = None              # None == unknown language
    alternatives: list[str] = field(default_factory=list)
    definite: bool = False
    from_shebang: bool = False
    bytes: int = 0
    lines_total: int = 0
    lines_content: int = 0
    lines_code: int = 0
    quality_score: float = 1.0
    ppl: float | None = None             # KenLM-style perplexity (graft)
    nl_lang: str | None = None           # natural-language ID (graft)
    scrubbed_text: str | None = None


# --------------------------------------------------------------------------
# stage F1/F2/F3: path-level filters (src/index.ts:119-169)
# --------------------------------------------------------------------------


def _first_filter_match(md: Metadata, path: str) -> str | None:
    """Which default regex list drops this path: vendor/doc/generated order
    mirrors vendorPaths construction (src/index.ts:44)."""
    for rx in md.vendor_res:
        if rx.search(path):
            return "vendored"
    for rx in md.documentation_res:
        if rx.search(path):
            return "documentation"
    for rx in md.generated_res:
        if rx.search(path):
            return "generated"
    return None


def path_filter(
    md: Metadata,
    cfg: QualityFilterConfig,
    path: str,
    overrides: list[OverrideRule],
    user_ignore_res: list[re.Pattern] | None = None,
) -> str | None:
    """Return a drop reason, or None if the path survives to classification."""
    # gitignore-analog (src/index.ts:68-70)
    if cfg.check_ignored:
        for rx in md.default_ignore_res + (user_ignore_res or []):
            if rx.search(path):
                return "ignored"

    attrs = merged_attrs(path, overrides)

    if not cfg.keep_vendored:
        # Stage 1: regex-ignore with generated/vendored==false escape only
        # (src/index.ts:119-138 — documentation=false does NOT escape here)
        kind = _first_filter_match(md, path)
        if kind is not None:
            escaped = attrs.get("generated") is False or attrs.get("vendored") is False
            if not escaped:
                return kind
        # Stage 2: vendor pass (src/index.ts:140-156). Default-matching files
        # were already handled above; what remains is the glob-level flags:
        # any true-flagged vendored/generated/documentation glob drops.
        for attr in ("vendored", "generated", "documentation"):
            for rx in flagged_globs(overrides, attr, True):
                if rx.search(path):
                    return "vendored"

    # Binary-by-extension + binary=true globs (src/index.ts:158-169). The
    # reference's binary=false "re-add" path is a no-op on keep/drop (it
    # re-pushes already-surviving files, creating the duplicate quirk noted in
    # SURVEY.md F3) so it is intentionally not replicated.
    if not cfg.keep_binary:
        low = path.lower()
        dot = low.rfind(".")
        if dot >= 0 and low[dot + 1 :] in md.binary_exts:
            return "binary-ext"
        for rx in flagged_globs(overrides, "binary", True):
            if rx.search(path):
                return "binary-ext"

    return None


# --------------------------------------------------------------------------
# stage C1-C9: classification cascade (src/index.ts:181-373)
# --------------------------------------------------------------------------

_SHEBANG_RE = re.compile(r"^#!")
# ONE explicit whitespace class shared by every modeline-hint consumer (the
# native pipeline gate, the pandas kernel, and this oracle): Java's (?U)\s
# (Unicode White_Space) and Python's \s disagree on \x1c-\x1f, so a regex-\s
# formulation made the native gate a non-superset of the kernel's check and
# gated/ungated classification silently diverged on such first lines
# (ADVICE r01). \n excluded on purpose: the gate runs on the first line.
MODELINE_GATE_PAT = r"-\*-|(?:syntax|filetype|ft)[ \t\r\f\x0B]*="
_MODELINE_GATE_RE = re.compile(MODELINE_GATE_PAT)
_MODELINE_EXTRACT_RE = re.compile(r"^.*-\*-(.+)-\*-.*$")
_COMPLEX_EXT_RE = re.compile(r"\..+\.")


def _lang_data(md: Metadata, cfg: QualityFilterConfig) -> dict[str, dict]:
    if not cfg.ignored_languages:
        return md.languages
    ignored = {l.lower() for l in cfg.ignored_languages}
    return {k: v for k, v in md.languages.items() if k.lower() not in ignored}


def resolve_alias(md: Metadata, lang: str) -> str:
    """Alias -> canonical name resolution for forced languages
    (src/index.ts:188-193)."""
    if lang in md.languages:
        return lang
    return md.alias_to_lang.get(lang.lower(), lang)


def classify(
    md: Metadata,
    cfg: QualityFilterConfig,
    path: str,
    text: str | None,
    overrides: list[OverrideRule] | None = None,
) -> tuple[list[str], bool, bool]:
    """Run C1-C7: returns (candidates, definite, from_shebang).

    Candidates are ordered, deduped, group-collapsed unless
    cfg.child_languages (addResult semantics, src/index.ts:199-211).
    """
    overrides = overrides or []
    lang_data = _lang_data(md, cfg)
    candidates: list[str] = []

    def add(result: str | None) -> None:
        final = result
        if (
            not cfg.child_languages
            and result
            and result in lang_data
            and lang_data[result].get("group")
        ):
            final = lang_data[result]["group"]
        if final not in candidates:
            candidates.append(final)

    # C1: forced-language glob override, first matching glob wins
    # (src/index.ts:218-227)
    for rule in overrides:
        if rule.language and rule.regex().search(path):
            add(resolve_alias(md, rule.language))
            return candidates, True, False

    if text is None:
        return candidates, False, False  # unreadable: reference skips the file

    first_line = text.split("\n", 1)[0]

    # C2/C3: shebang + modeline (src/index.ts:242-273)
    has_shebang = cfg.check_shebang and bool(_SHEBANG_RE.match(first_line))
    has_modeline = cfg.check_modeline and bool(_MODELINE_GATE_RE.search(first_line))
    if not cfg.quick and (has_shebang or has_modeline):
        matches: list[str] = []
        modeline_text = _MODELINE_EXTRACT_RE.sub(r"\1", first_line.lower())
        for lang, data in lang_data.items():
            if has_shebang:
                for interp, irx, ilang in md.interpreter_langs:
                    if ilang == lang and irx.search(first_line):
                        matches.append(lang)
                        break
            if has_modeline:
                for mrx, mlang in md.modeline_langs:
                    if mlang == lang and mrx.search(modeline_text):
                        matches.append(lang)
                        break
        if matches:
            for m in matches:
                add(m)
            return candidates, len(matches) == 1, True

    # C4: filename map (src/index.ts:275-283)
    skip_exts = False
    base_lower = basename(path.lower())
    for lang in lang_data:
        names = lang_data[lang].get("filenames")
        if names and any(base_lower == n.lower() for n in names):
            add(lang)
            skip_exts = True

    # C5: extension map with complex-ext priority (src/index.ts:285-300)
    if not skip_exts:
        low = path.lower()
        possible: list[tuple[str, str]] = []
        for lang in lang_data:
            for ext in lang_data[lang].get("extensions", []):
                if low.endswith(ext.lower()):
                    possible.append((ext, lang))
        has_complex = any(_COMPLEX_EXT_RE.search(e) for e, _ in possible)
        for ext, lang in possible:
            if has_complex != bool(_COMPLEX_EXT_RE.search(ext)):
                continue
            add(lang)

    # C6: null fallback
    if not candidates:
        add(None)
    return candidates, False, False


def is_binary_content(html: bytes | None) -> bool:
    """Binary sniff over raw bytes (analog of isBinaryFile, src/index.ts:316):
    a NUL byte in the first 1024 bytes marks the document binary."""
    if not html:
        return False
    return b"\x00" in html[:1024]


def narrow(
    md: Metadata,
    cfg: QualityFilterConfig,
    path: str,
    text: str | None,
    candidates: list[str],
    definite: bool,
    from_shebang: bool,
    html: bytes | None = None,
) -> tuple[str | None, list[str], str | None]:
    """C8/C9 narrowing loop (src/index.ts:306-373).

    Returns (lang, alternatives, drop_reason). drop_reason is set when the
    binary content sniff rejects the document.
    """
    if definite:
        return candidates[0], [], None

    if not cfg.keep_binary and is_binary_content(html):
        return None, [], "binary-content"

    result: str | None = None
    if cfg.check_heuristics and text is not None:
        ext = extname(path).lower()
        for dis in md.disambiguations:
            # ext gate is bypassed for shebang/modeline files (src/index.ts:322)
            if not from_shebang and ext not in dis["extensions"]:
                continue
            for rule in dis["rules"]:
                lang = rule["language"]
                group = md.languages.get(lang, {}).get("group")
                if lang not in candidates and not (group and group in candidates):
                    continue
                if cfg.honest_heuristics:
                    fires = all(
                        any(p.search(text) for p in grp)
                        for grp in rule["and_groups"]
                    ) and not any(p.search(text) for p in rule["negatives"])
                else:
                    fires = not rule["patterns"] or any(
                        p.search(text) for p in rule["patterns"]
                    )
                if fires:
                    # NOTE: the reference does NOT break the outer
                    # disambiguation loop — a later matching group overwrites
                    # (src/index.ts:357-360); replicated faithfully.
                    result = lang
                    break

    if result is not None:
        return result, [], None
    # C9: default first candidate + alternatives (src/index.ts:363-373)
    return candidates[0], list(candidates[1:]), None


# --------------------------------------------------------------------------
# A2: line metrics (src/index.ts:423-433)
# --------------------------------------------------------------------------

# Shared with the Spark-native expressions in operators/quality.py — the
# patterns below are legal and identical in Java regex and Python re.
# NB: \v is written as \x0B because Java regex treats \v inside a class as the
# vertical-whitespace CLASS (incl. \n,  ) while Python means \x0B only.
LINE_SPLIT_PAT = r"\r?\n"
BLANK_LINE_PAT = r"^[ \t\f\x0B\r]*$"
LINE_COMMENT_PAT = r"(?m)^[ \t]*(//|# |;|--).+"
BLOCK_COMMENT_PAT = r"(?s)/\*.+\*/|<!--.+-->"

_LINE_SPLIT_RE = re.compile(LINE_SPLIT_PAT)
_BLANK_RE = re.compile(BLANK_LINE_PAT)
_LINE_COMMENT_RE = re.compile(LINE_COMMENT_PAT)
_BLOCK_COMMENT_RE = re.compile(BLOCK_COMMENT_PAT)


def line_metrics(text: str) -> tuple[int, int, int]:
    """(total, content, code) line counts, mirroring src/index.ts:426-432."""
    all_lines = _LINE_SPLIT_RE.split(text)
    total = len(all_lines)
    content = sum(1 for l in all_lines if not _BLANK_RE.match(l))
    stripped = _BLOCK_COMMENT_RE.sub("", _LINE_COMMENT_RE.sub("", text))
    code = sum(1 for l in _LINE_SPLIT_RE.split(stripped) if not _BLANK_RE.match(l))
    return total, content, code


# --------------------------------------------------------------------------
# graft: Gopher/C4-style quality rules
# --------------------------------------------------------------------------

WORD_SPLIT_PAT = r"[ \t\r\n\f\x0B]+"
SYMBOL_PAT = r"[#<>{}\[\]\\^~|]"

_WORD_SPLIT_RE = re.compile(WORD_SPLIT_PAT)
_SYMBOL_RE = re.compile(SYMBOL_PAT)
# the cfg.min_stopword_hits rule's word list (operators/gopher.py
# GOPHER_STOPWORDS; duplicated literally so this module stays pyspark-free)
_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def quality_features(text: str) -> dict:
    words = [w for w in _WORD_SPLIT_RE.split(text) if w]
    n_words = len(words)
    mean_wl = (sum(len(w) for w in words) / n_words) if n_words else 0.0
    n_sym = len(_SYMBOL_RE.findall(text))
    sym_ratio = n_sym / len(text) if text else 0.0
    lines = [l for l in _LINE_SPLIT_RE.split(text) if not _BLANK_RE.match(l)]
    dup_ratio = (1.0 - len(set(lines)) / len(lines)) if lines else 0.0
    lower_words = set(w for w in _WORD_SPLIT_RE.split(text.lower()) if w)
    stop_hits = sum(1 for s in _GOPHER_STOPWORDS if s in lower_words)
    return {
        "n_words": n_words,
        "mean_word_len": mean_wl,
        "symbol_ratio": sym_ratio,
        "dup_line_ratio": dup_ratio,
        "top_bigram_ratio": top_bigram_ratio(text),
        "stopword_hits": stop_hits,
    }


def top_bigram_ratio(text: str) -> float:
    """Twin of operators.gopher.top_ngram_char_ratio_col(text, 2) (Gopher
    repetition signal; ties broken by lexicographically smallest bigram)."""
    words = [w for w in _WORD_SPLIT_RE.split(text) if w]
    if len(words) < 2 or not text:
        return 0.0
    counts: dict[str, int] = {}
    for i in range(len(words) - 1):
        bg = words[i] + " " + words[i + 1]
        counts[bg] = counts.get(bg, 0) + 1
    best_bg = min(sorted(counts), key=lambda b: (-counts[b], b))
    return counts[best_bg] * len(best_bg) / len(text)


def quality_drop_reason(cfg: QualityFilterConfig, feats: dict) -> str | None:
    if not cfg.quality_rules:
        return None
    if feats["n_words"] < cfg.min_words or feats["n_words"] > cfg.max_words:
        return "quality-words"
    if not (cfg.min_mean_word_len <= feats["mean_word_len"] <= cfg.max_mean_word_len):
        return "quality-word-length"
    if feats["symbol_ratio"] > cfg.max_symbol_ratio:
        return "quality-symbols"
    if feats["dup_line_ratio"] > cfg.max_dup_line_ratio:
        return "quality-dup-lines"
    if (
        cfg.max_top_bigram_ratio is not None
        and feats.get("top_bigram_ratio", 0.0) > cfg.max_top_bigram_ratio
    ):
        return "quality-repetition"
    if (
        cfg.min_stopword_hits > 0
        and feats.get("stopword_hits", 0) < cfg.min_stopword_hits
    ):
        return "quality-stopwords"
    return None


# --------------------------------------------------------------------------
# graft: natural-language ID (fastText-fallback analog, SURVEY.md C10)
# --------------------------------------------------------------------------


class _LangIdModel:
    """Deterministic stopword/script langid. Same regexes run vectorized in
    the pandas UDF kernel (operators/text_stats.py) — scores are identical."""

    def __init__(self) -> None:
        conf = load_langid_config()
        self.stop_res = {
            lang: re.compile(
                r"(?i)\b(" + "|".join(words) + r")\b"
            )
            for lang, words in conf["stopword_langs"].items()
        }
        self.script_res = {
            lang: re.compile(pat) for lang, pat in conf["script_langs"].items()
        }
        self.min_hits = conf["min_confidence_hits"]

    def predict(self, text: str) -> str | None:
        if not text:
            return None
        scores: dict[str, int] = {}
        for lang, rx in self.script_res.items():
            n = len(rx.findall(text))
            if n:
                scores[lang] = scores.get(lang, 0) + 3 * n
        for lang, rx in self.stop_res.items():
            n = len(rx.findall(text))
            if n:
                scores[lang] = scores.get(lang, 0) + n
        if not scores:
            return None
        best = max(scores.items(), key=lambda kv: (kv[1], kv[0]))
        return best[0] if best[1] >= self.min_hits else None


_langid_model: _LangIdModel | None = None


def langid(text: str) -> str | None:
    global _langid_model
    if _langid_model is None:
        _langid_model = _LangIdModel()
    return _langid_model.predict(text)


# --------------------------------------------------------------------------
# graft: PII/toxicity scrub — byte-identical contract
# --------------------------------------------------------------------------


class _Scrubber:
    def __init__(self) -> None:
        conf = load_scrub_config()
        self.rules = [
            (re.compile(r["pattern"]), r["replacement"]) for r in conf["pii_rules"]
        ]
        self.tox_re = re.compile(
            r"(?i)\b(" + "|".join(conf["toxicity_words"]) + r")\b"
        )

    def scrub(self, text: str) -> str:
        for rx, repl in self.rules:
            text = rx.sub(repl, text)
        return text

    def toxicity_hits(self, text: str) -> int:
        return len(self.tox_re.findall(text))


_scrubber: _Scrubber | None = None


def get_scrubber() -> _Scrubber:
    global _scrubber
    if _scrubber is None:
        _scrubber = _Scrubber()
    return _scrubber


def scrub_text(text: str) -> str:
    return get_scrubber().scrub(text)


# --------------------------------------------------------------------------
# end-to-end per-document oracle
# --------------------------------------------------------------------------


def analyse_document(
    url: str,
    text: str | None,
    html: bytes | None = None,
    cfg: QualityFilterConfig | None = None,
    overrides: list[OverrideRule] | None = None,
    md: Metadata | None = None,
) -> DocResult:
    """Full per-document pipeline: filters -> cascade -> category -> quality
    -> scrub. The distributed pipeline must agree with this on keep/drop
    (F1 >= 0.99) and byte-identically on scrubbed_text."""
    cfg = (cfg or QualityFilterConfig()).effective_flags()
    md = md or load_metadata()
    # extract_html stage twin (pipeline.py: provided text always wins;
    # binary-sniffed html is never extracted)
    if cfg.extract_html and text is None and html is not None \
            and not is_binary_content(html):
        from .operators.extract import extract_text

        text = extract_text(html)
    overrides = overrides or []
    path = path_of_url(url)

    drop = path_filter(md, cfg, path, overrides)
    if drop is not None:
        return DocResult(url=url, path=path, keep=False, keep_reason=drop)

    if text is None:
        return DocResult(url=url, path=path, keep=False, keep_reason="unreadable")

    candidates, definite, from_shebang = classify(md, cfg, path, text, overrides)
    lang, alternatives, drop = narrow(
        md, cfg, path, text, candidates, definite, from_shebang, html
    )
    if drop is not None:
        return DocResult(url=url, path=path, keep=False, keep_reason=drop)

    # F5: category filter (src/index.ts:376-402)
    if lang is not None and len(cfg.categories) < 4:
        ltype = md.languages.get(lang, {}).get("type")
        if ltype and ltype not in cfg.categories:
            attrs = merged_attrs(path, overrides)
            detectable = cfg.check_detected and attrs.get("detectable") is True
            if not detectable:
                return DocResult(
                    url=url, path=path, keep=False, keep_reason="category",
                    lang=lang, alternatives=alternatives,
                )

    total, content, code = line_metrics(text) if cfg.calculate_lines else (0, 0, 0)
    nbytes = len(text.encode("utf-8"))

    res = DocResult(
        url=url,
        path=path,
        keep=True,
        keep_reason="classified",
        lang=lang,
        alternatives=alternatives,
        definite=definite,
        from_shebang=from_shebang,
        bytes=nbytes,
        lines_total=total,
        lines_content=content,
        lines_code=code,
    )

    # graft: langid fallback for unknown-language documents
    if cfg.langid_fallback:
        res.nl_lang = langid(text)
        if lang is None and res.nl_lang is not None:
            res.keep_reason = "langid-fallback"

    # graft: quality rules
    feats = quality_features(text)
    qdrop = quality_drop_reason(cfg, feats)
    if qdrop is not None:
        res.keep = False
        res.keep_reason = qdrop
        return res

    # graft: KenLM-style perplexity gate
    if cfg.compute_perplexity:
        from .perplexity import perplexity as _ppl

        res.ppl = _ppl(text)
        if res.ppl > cfg.max_perplexity:
            res.keep = False
            res.keep_reason = "quality-perplexity"
            return res

    # graft: toxicity filter
    if cfg.toxicity_filter and feats["n_words"] > 0:
        hits = get_scrubber().toxicity_hits(text)
        if hits / feats["n_words"] > cfg.toxicity_max_ratio:
            res.keep = False
            res.keep_reason = "toxicity"
            return res

    # graft: PII scrub (byte-identical contract)
    res.scrubbed_text = scrub_text(text) if cfg.scrub_pii else text
    return res
