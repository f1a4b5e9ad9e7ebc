"""Gopher top-bigram repetition signal: twin parity, tie determinism,
pipeline rule wiring (default off)."""

import random

from pyspark.sql import functions as F

from linguistjs_spark.operators.gopher import top_ngram_char_ratio_col
from linguistjs_spark.oracle import top_bigram_ratio

CASES = [
    "",
    "one",
    "spam spam spam spam spam",
    "a b a b a b a b",
    "x y x z x y x z q",            # tie between 'x y' and 'x z' -> 'x y' wins
    "normal prose with no repeated bigram anywhere at all today",
    "  padded   with \t whitespace  runs  padded   with  ",
    "unicode é bigram é bigram é",
]


def test_twin_parity_cases_and_fuzz(spark):
    rng = random.Random(3)
    vocab = ["buy", "now", "click", "here", "free", "offer", "é"]
    cases = CASES + [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 40)))
        for _ in range(200)
    ]
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)],
                               "i long, t string")
    got = {r.i: r.s for r in df.select(
        "i", top_ngram_char_ratio_col(F.col("t"), 2).alias("s")).collect()}
    for i, c in enumerate(cases):
        assert abs(got[i] - top_bigram_ratio(c)) < 1e-12, (i, repr(c))


def test_signal_values():
    # "spam spam spam spam spam": 4x "spam spam" (9 chars) over 24 chars
    assert abs(top_bigram_ratio("spam spam spam spam spam") - 36 / 24) < 1e-12
    assert top_bigram_ratio("one") == 0.0
    assert top_bigram_ratio("") == 0.0


def test_pipeline_rule_wiring(spark):
    import datetime

    from linguistjs_spark.config import QualityFilterConfig
    from linguistjs_spark.pipeline import run_pipeline

    t = datetime.datetime(2026, 1, 1)
    spammy = ("buy now " * 40).strip()
    clean = ("the quick brown fox jumps over the lazy dog and then walks "
             "slowly back home through the quiet evening field")
    pages = spark.createDataFrame(
        [("https://a.example/spam.html", t, None, spammy),
         ("https://a.example/clean.html", t, None, clean)],
        "url string, warc_ts timestamp, html binary, text string",
    )
    # default: rule off, spammy doc passes dup-line checks (one line)
    base = {r.url: r for r in run_pipeline(spark, pages).collect()}
    assert base["https://a.example/spam.html"].keep is True
    # enabled at the Gopher threshold: spammy dropped, clean kept
    cfg = QualityFilterConfig(max_top_bigram_ratio=0.18)
    got = {r.url: r for r in run_pipeline(spark, pages, cfg).collect()}
    assert got["https://a.example/spam.html"].keep_reason == "quality-repetition"
    assert got["https://a.example/clean.html"].keep is True


def test_c4_line_filter(spark):
    from linguistjs_spark.operators.quality import c4_line_filter_col

    page = ("Home\nAbout Us\n"
            "This is a real sentence with enough words.\n"
            "Read more\n"
            "  Trailing spaces still count here.   \n"
            "short one.\n"                 # 2 words -> dropped
            "no terminal punctuation on this line\n"
            'He said "stop".\nQuoted end works too"\n')
    df = spark.createDataFrame([(1, page)], "i long, t string")
    got = df.select(c4_line_filter_col(F.col("t")).alias("c")).collect()[0].c
    assert got == (
        "This is a real sentence with enough words.\n"
        "  Trailing spaces still count here.   \n"
        'He said "stop".\nQuoted end works too"'
    )
    # punct requirement off: word count alone decides
    got2 = df.select(
        c4_line_filter_col(F.col("t"), require_terminal_punct=False).alias("c")
    ).collect()[0].c
    assert "no terminal punctuation on this line" in got2
    assert "Read more" not in got2


def test_dedup_lines_keeps_first_and_blanks(spark):
    from linguistjs_spark.operators.quality import dedup_lines_col

    page = "a\nb\na\n\nb\n\nc\nA\n"
    df = spark.createDataFrame([(1, page)], "i long, t string")
    got = df.select(dedup_lines_col(F.col("t")).alias("c")).collect()[0].c
    # dups of a/b dropped, both blanks kept, case-sensitive, trailing ""
    # segment (from the final \n) is blank -> kept
    assert got == "a\nb\n\n\nc\nA\n"
    # keep_blank=False: blank lines dedup like any other line
    got2 = df.select(
        dedup_lines_col(F.col("t"), keep_blank=False).alias("c")
    ).collect()[0].c
    assert got2 == "a\nb\n\nc\nA"


def test_dedup_lines_fuzz_vs_python(spark):
    import re

    from linguistjs_spark.operators.quality import dedup_lines_col

    blank = re.compile(r"^[ \t\f\x0B\r]*$")

    def twin(text):
        seen, out = set(), []
        for l in re.split(r"\r?\n", text):
            if blank.match(l):
                out.append(l)
            elif l not in seen:
                seen.add(l)
                out.append(l)
        return "\n".join(out)

    import random
    rng = random.Random(7)
    pool = ["a", "b", "line two", "  ", "", "\t", "x y", "a", "Ω"]
    batch = [
        "\n".join(rng.choice(pool) for _ in range(rng.randrange(0, 12)))
        for _ in range(48)
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(batch)], "i long, t string"
    )
    got = {
        r["i"]: r["c"]
        for r in df.select(
            "i", dedup_lines_col(F.col("t")).alias("c")
        ).collect()
    }
    for i, t in enumerate(batch):
        assert got[i] == twin(t), repr(t)


def test_stopword_rule_wiring_and_parity(spark):
    """cfg.min_stopword_hits (previously an unconsumed knob) now drives the
    Gopher 8-stopword presence rule: pipeline wiring + oracle parity."""
    import datetime

    from linguistjs_spark.config import QualityFilterConfig
    from linguistjs_spark.oracle import quality_drop_reason, quality_features
    from linguistjs_spark.pipeline import run_pipeline

    t = datetime.datetime(2026, 1, 1)
    nostop = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
              "lambda mu nu xi omicron pi rho sigma tau upsilon")
    stopful = ("the data we have gathered shows that results align with "
               "expectations and the metrics hold up well over time")
    pages = spark.createDataFrame(
        [("https://a.example/nostop.html", t, None, nostop),
         ("https://a.example/stopful.html", t, None, stopful)],
        "url string, warc_ts timestamp, html binary, text string",
    )
    # default: rule off, both kept
    base = {r.url: r for r in run_pipeline(spark, pages).collect()}
    assert all(r.keep for r in base.values())
    # enabled at the Gopher threshold
    cfg = QualityFilterConfig(min_stopword_hits=2)
    got = {r.url: r for r in run_pipeline(spark, pages, cfg).collect()}
    assert got["https://a.example/nostop.html"].keep_reason == \
        "quality-stopwords"
    assert got["https://a.example/stopful.html"].keep is True
    # oracle parity on both texts
    for txt, url in ((nostop, "nostop"), (stopful, "stopful")):
        exp = quality_drop_reason(cfg, quality_features(txt))
        got_r = got[f"https://a.example/{url}.html"].keep_reason
        assert (exp is None and got_r == "classified") or exp == got_r
