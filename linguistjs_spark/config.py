"""Pipeline configuration.

The reference's "query language" is its options object
(/root/reference/src/types.ts:13-31, normalised at src/index.ts:26-35).
``QualityFilterConfig`` maps that surface 1:1 and adds the graft's
quality-filter / scrub / langid knobs (BASELINE.json north_star).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class QualityFilterConfig:
    # ---- reference option surface (src/types.ts:13-31) ----
    # opts.childLanguages (src/index.ts:206): keep TSX instead of TypeScript
    child_languages: bool = False
    # opts.quick fans out to these flags (src/index.ts:26-35)
    quick: bool = False
    check_ignored: bool = True
    check_detected: bool = True
    check_heuristics: bool = True
    check_shebang: bool = True
    check_modeline: bool = True
    # Honest upstream-linguist heuristic semantics (AND groups must all
    # match, negative_pattern blocks) instead of the reference's OR-flattened
    # and/negative-ignoring behavior (src/index.ts:338-348; SURVEY.md §2.2
    # C8 delta). Off by default for reference F1 parity.
    honest_heuristics: bool = False
    # opts.keepVendored / keepBinary (src/index.ts:141,159)
    keep_vendored: bool = False
    keep_binary: bool = False
    # opts.calculateLines (src/index.ts:27)
    calculate_lines: bool = True
    # opts.categories (src/index.ts:377): subset of data/markup/programming/prose
    categories: tuple[str, ...] = ("data", "markup", "programming", "prose")
    # opts.ignoredLanguages (src/index.ts:172)
    ignored_languages: tuple[str, ...] = ()
    # opts.ignoredFiles globs (src/index.ts:69)
    ignored_globs: tuple[str, ...] = ()

    # ---- graft additions (BASELINE.json north_star) ----
    # Derive `text` from `html` (operators/extract.py native chain) when the
    # pages table carries raw HTML without pre-extracted text. Only rows
    # with NULL text are extracted (a provided text column always wins, per
    # the byte-identical-extracted-text-per-url invariant); rows whose html
    # sniffs binary are never fed to the extractor.
    extract_html: bool = False
    # Gopher/C4-style quality keep/drop rules over web text. The reference has
    # no quality rules, so parity tests run with this off.
    quality_rules: bool = True
    min_words: int = 5
    max_words: int = 1_000_000
    min_mean_word_len: float = 2.0
    max_mean_word_len: float = 12.0
    max_symbol_ratio: float = 0.25
    max_dup_line_ratio: float = 0.6
    # Gopher top-2-gram repetition rule (fraction of characters in the most
    # frequent word bigram; Gopher drops at >0.18). None = rule off — the
    # default keeps round-1 label semantics byte-stable.
    max_top_bigram_ratio: float | None = None
    # Gopher's English 8-stopword presence rule (drop docs with fewer
    # distinct hits; Gopher uses 2). 0 = off — English-corpus rule, keep
    # off for multilingual inputs (or use gopher.quality_funnel's lang
    # gating instead).
    min_stopword_hits: int = 0
    # Perplexity gate (KenLM-style char-bigram model; higher = more gibberish).
    # compute_perplexity adds a pandas-UDF scorer to classify's Arrow node.
    compute_perplexity: bool = False
    max_perplexity: float = 1e9
    # Real-model perplexity: path to a KenLM binary (scored via the kenlm
    # package when installed) or a text ARPA file (scored by the built-in
    # arpa_lm reader, KenLM-identical semantics). None = the embedded
    # char-bigram model.
    kenlm_model_path: str | None = None
    # fastText-style langid fallback for documents with no structural signal
    langid_fallback: bool = True
    fasttext_model_path: str | None = None
    # Model-scored quality tier (DCLM/CCNet style; CLI --model-quality):
    # path to a supervised fastText .bin. Docs whose P(hq) falls below
    # model_quality_min_prob get keep_reason 'model-quality', docs with no
    # in-vocabulary token (fastText predicts nothing) 'model-quality-oov'.
    # Scored by operators/model_filter.margin_batch, bit-equal to the
    # operator's broadcast-join path. None = tier off (reference parity).
    model_quality_path: str | None = None
    model_quality_min_prob: float = 0.5
    # Unicode punctuation canonicalization (operators/normalize.py) applied
    # to the working text before quality/langid/scrub. Off by default: it
    # intentionally changes bytes, so the byte-identical scrubbed-text
    # parity contract runs without it.
    normalize_unicode: bool = False
    # Mojibake gate: drop docs whose U+FFFD + control-char fraction exceeds
    # max_bad_unicode_bp basis points (decode casualties, keep_reason
    # 'bad-unicode'). Native codegen scans.
    drop_mojibake: bool = False
    max_bad_unicode_bp: int = 25
    # Compression-ratio gate (Dolma-style zlib heuristic; adds the one
    # optional zlib Arrow stage): ratio below min -> 'compression-
    # repetitive', above max -> 'compression-opaque'.
    compression_gate: bool = False
    min_comp_ratio: float = 0.30
    max_comp_ratio: float = 0.98
    # PII / toxicity scrub
    scrub_pii: bool = True
    toxicity_filter: bool = True
    toxicity_max_ratio: float = 0.1

    # ---- scale knob ----
    # Explicit repartition by xxhash64(url) before heavy UDF stages
    # (north-rule requirement; balances crawl-order skew). <=0 disables.
    repartition_buckets: int = 0

    def effective_flags(self) -> "QualityFilterConfig":
        """Apply quick-mode fan-out like src/index.ts:26-35."""
        if not self.quick:
            return self
        return QualityFilterConfig(
            **{
                **self.__dict__,
                "check_ignored": False,
                "check_detected": False,
                "check_heuristics": False,
                "check_shebang": False,
                "check_modeline": False,
            }
        )


DEFAULT_CONFIG = QualityFilterConfig()

# Config used by the reference-parity tests: reference semantics only, no
# graft-side quality/scrub stages, child languages kept like test/unit.js:11.
REFERENCE_PARITY_CONFIG = QualityFilterConfig(
    child_languages=True,
    quality_rules=False,
    langid_fallback=False,
    scrub_pii=False,
    toxicity_filter=False,
)
