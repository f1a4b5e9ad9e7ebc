"""ARPA loader + KenLM-semantics scorer (arpa_lm.ArpaModel).

Fixtures are hand-computed: every expected value below is the sum of
literal log10 probabilities / backoff weights from the ARPA text in this
file, so the test is independent of the implementation's recursion.
Parity against the real ``kenlm`` package runs when installed.
"""

import math

import pytest

from linguistjs_spark.arpa_lm import ArpaModel

BIGRAM_ARPA = """\
\\data\\
ngram 1=5
ngram 2=3

\\1-grams:
-1.0\t<unk>\t0.0
-99\t<s>\t-0.30103
-0.8\t</s>
-0.5\ta\t-0.30103
-0.7\tb

\\2-grams:
-0.2\t<s> a
-0.3\ta b
-0.4\tb </s>

\\end\\
"""

TRIGRAM_ARPA = """\
\\data\\
ngram 1=5
ngram 2=4
ngram 3=1

\\1-grams:
-1.0\t<unk>\t0.0
-99\t<s>\t-0.30103
-0.8\t</s>
-0.5\ta\t-0.30103
-0.7\tb

\\2-grams:
-0.2\t<s> a\t-0.1
-0.3\ta b\t-0.05
-0.4\tb </s>
-0.6\tb a

\\3-grams:
-0.15\t<s> a b

\\end\\
"""


def _write(tmp_path, name, text):
    p = tmp_path / name
    p.write_text(text)
    return str(p)


def test_bigram_all_hits(tmp_path):
    m = ArpaModel.load(_write(tmp_path, "bi.arpa", BIGRAM_ARPA))
    assert m.order == 2
    # p(a|<s>) + p(b|a) + p(</s>|b) = -0.2 - 0.3 - 0.4
    assert m.score("a b") == pytest.approx(-0.9)
    assert m.perplexity("a b") == pytest.approx(10.0 ** (0.9 / 3))


def test_bigram_backoff_paths(tmp_path):
    m = ArpaModel.load(_write(tmp_path, "bi.arpa", BIGRAM_ARPA))
    # p(b|<s>): no bigram -> bo(<s>) + p(b) = -0.30103 - 0.7
    # p(a|b):   no bigram -> bo(b)=0   + p(a) = -0.5
    # p(</s>|a): no bigram -> bo(a) + p(</s>) = -0.30103 - 0.8
    assert m.score("b a") == pytest.approx(-0.30103 - 0.7 - 0.5 - 0.30103 - 0.8)


def test_oov_maps_to_unk(tmp_path):
    m = ArpaModel.load(_write(tmp_path, "bi.arpa", BIGRAM_ARPA))
    # p(<unk>|<s>): no bigram -> bo(<s>) + p(<unk>) = -0.30103 - 1.0
    assert m.score("z", eos=False) == pytest.approx(-1.30103)
    # OOV enters the history as <unk>: p(a|<unk>) -> bo(<unk>)=0 + p(a)
    assert m.score("z a", eos=False) == pytest.approx(-1.30103 - 0.5)


def test_trigram_hit_and_two_level_backoff(tmp_path):
    m = ArpaModel.load(_write(tmp_path, "tri.arpa", TRIGRAM_ARPA))
    assert m.order == 3
    # p(a|<s>) = -0.2 (bigram; trigram context is just <s>)
    # p(b|<s> a) = -0.15 (trigram hit)
    # p(</s>|a b): no trigram -> bo(a b) + p(</s>|b) = -0.05 - 0.4
    assert m.score("a b") == pytest.approx(-0.2 - 0.15 - 0.05 - 0.4)
    # two-level: p(</s>|b a): no trigram -> bo(b a)=0 + p(</s>|a):
    # no bigram -> bo(a) + p(</s>) = -0.30103 - 0.8
    got = m.score("b a")
    # p(b|<s>) = bo(<s>) + p(b) = -1.00103 ; p(a|<s> b): no trigram ->
    # bo(<s> b)=0 (absent context) + p(a|b) = -0.6
    assert got == pytest.approx(-1.00103 - 0.6 - 0.30103 - 0.8)


def test_no_bos_eos_flags(tmp_path):
    m = ArpaModel.load(_write(tmp_path, "bi.arpa", BIGRAM_ARPA))
    # bos=False: p(a) unigram = -0.5 ; then p(b|a) = -0.3
    assert m.score("a b", bos=False, eos=False) == pytest.approx(-0.8)


def test_loader_rejects_garbage(tmp_path):
    with pytest.raises(ValueError):
        ArpaModel.load(_write(tmp_path, "x.arpa", "not an arpa file\n"))
    bad = BIGRAM_ARPA.replace("-0.3\ta b", "-0.3\ta b c")
    with pytest.raises(ValueError):
        ArpaModel.load(_write(tmp_path, "bad.arpa", bad))


def test_loads_repo_exported_byte_model(tmp_path):
    """The repo's own export_arpa artifact round-trips through ArpaModel:
    bigram conditionals equal the fitted table exactly."""
    import numpy as np

    from linguistjs_spark.perplexity import (
        _LOG10_2, export_arpa, fit_char_bigram_table_local)

    table = fit_char_bigram_table_local(["the quick brown fox", "hello web"])
    p = _write(tmp_path, "bytes.arpa", "")
    export_arpa(table, p)
    m = ArpaModel.load(p)
    assert m.order == 2
    for c1, c2 in [(104, 101), (32, 119), (0, 255)]:
        # p(b_c2 | b_c1) alone: subtract the unigram head of a 2-token score
        got = m.score_tokens([f"b{c1}", f"b{c2}"], bos=False, eos=False)
        uni = m.score_tokens([f"b{c1}"], bos=False, eos=False)
        assert got - uni == pytest.approx(float(table[c1, c2]) * _LOG10_2,
                                          rel=1e-12)


def test_hook_falls_back_to_builtin_reader(tmp_path):
    from linguistjs_spark.perplexity import (
        export_arpa, fit_char_bigram_table_local, try_import_kenlm)

    table = fit_char_bigram_table_local(["plain english text here"] * 2)
    p = _write(tmp_path, "m.arpa", "")
    export_arpa(table, p)
    scorer = try_import_kenlm(p)
    assert scorer is not None  # package OR builtin — file format is enough
    assert scorer("b104 b105") > 0
    # non-ARPA binary without the package fails loudly instead of scoring
    # with the built-in model
    blob = tmp_path / "m.klm"
    blob.write_bytes(b"\x00\x01binary")
    import importlib.util
    if importlib.util.find_spec("kenlm") is None:
        with pytest.raises(ValueError, match="m.klm"):
            try_import_kenlm(str(blob))


@pytest.mark.skipif(
    __import__("importlib.util", fromlist=["x"]).find_spec("kenlm") is None,
    reason="kenlm not installed in this environment",
)
def test_parity_vs_real_kenlm(tmp_path):
    import kenlm

    p = _write(tmp_path, "bi.arpa", BIGRAM_ARPA)
    real = kenlm.Model(p)
    mine = ArpaModel.load(p)
    for s in ["a b", "b a", "z", "a a a b", ""]:
        assert mine.score(s) == pytest.approx(real.score(s), abs=1e-4)
        assert mine.perplexity(s) == pytest.approx(real.perplexity(s), rel=1e-4)


def test_pipeline_ppl_stage_uses_model_file(tmp_path, spark):
    """End-to-end: the production ppl UDF scores with the ARPA file when
    cfg.kenlm_model_path is set (word-level model over real tokens)."""
    import datetime

    from linguistjs_spark.config import QualityFilterConfig
    from linguistjs_spark.pipeline import run_pipeline

    p = _write(tmp_path, "words.arpa", BIGRAM_ARPA)
    rows = [("https://x.example/a.txt", datetime.datetime(2024, 1, 1),
             None, "a b", None)]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string")
    cfg = QualityFilterConfig(
        compute_perplexity=True, kenlm_model_path=p,
        quality_rules=False, langid_fallback=False,
        scrub_pii=False, toxicity_filter=False)
    out = run_pipeline(spark, pages, cfg).select("ppl").collect()
    assert out[0].ppl == pytest.approx(10.0 ** (0.9 / 3))


def test_hook_missing_model_file_raises(tmp_path):
    """A named model file that is missing fails loudly instead of scoring
    with the built-in char-bigram model."""
    from linguistjs_spark.perplexity import try_import_kenlm

    with pytest.raises(OSError):
        try_import_kenlm(str(tmp_path / "absent.arpa"))


def test_cli_missing_ppl_model_exits_2(tmp_path, capsys):
    from linguistjs_spark.cli import main

    missing = tmp_path / "absent.arpa"
    assert main([str(tmp_path), "--ppl-model", str(missing)]) == 2
    err = capsys.readouterr().err
    assert err.startswith("error: --ppl-model:") and str(missing) in err


@pytest.mark.skipif(
    __import__("importlib.util", fromlist=["x"]).find_spec("kenlm") is not None,
    reason="kenlm reads binary model files",
)
def test_cli_unusable_ppl_model_exits_2(tmp_path, capsys):
    """A model file that is neither ARPA text nor loadable without kenlm is
    a usage error, not a silent fallback to the built-in model."""
    from linguistjs_spark.cli import main

    blob = tmp_path / "m.klm"
    blob.write_bytes(b"\x00\x01binary\x00\x02")
    assert main([str(tmp_path / "pages"), "--ppl-model", str(blob)]) == 2
    err = capsys.readouterr().err
    assert err.startswith("error: --ppl-model:") and str(blob) in err
