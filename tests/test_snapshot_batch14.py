"""Batch-14 snapshot widening: 711 languages / 117 disambiguation groups.

Adds the `.mojo` group (Mojo vs XML — upstream carries this disambiguation
because XML's extension list predates the Mojo language; the Mojo keyword
gate is a conservative DERIVED discriminator, see
linguistjs_spark/data/PROVENANCE.md). Pins membership, both rule branches, the
multiline-anywhere semantics, and the C9 fallback-to-first-candidate for
unmatched content. Reference semantics: /root/reference/src/index.ts:320-361
(first matching rule wins, gated to candidates), :363-373 (C9 default).
"""

import json
import os

from linguistjs_spark.config import QualityFilterConfig
from linguistjs_spark import oracle
from linguistjs_spark.metadata import load_metadata

CFG = QualityFilterConfig(
    quality_rules=False, langid_fallback=False,
    scrub_pii=False, toxicity_filter=False,
)

_DATA = os.path.join(
    os.path.dirname(__file__), "..", "linguistjs_spark", "data"
)


def _load():
    langs = json.load(open(os.path.join(_DATA, "languages.json")))["languages"]
    heur = json.load(open(os.path.join(_DATA, "heuristics.json")))
    return langs, heur


def _classify(path, text):
    md = load_metadata()
    cands, definite, from_shebang = oracle.classify(md, CFG, path, text)
    lang, _, _ = oracle.narrow(md, CFG, path, text, cands, definite, from_shebang)
    return lang


def test_batch14_breadth():
    langs, heur = _load()
    assert len(langs) >= 711
    assert len(heur["disambiguations"]) >= 117
    grouped = {e for g in heur["disambiguations"] for e in g["extensions"]}
    assert ".mojo" in grouped
    assert ".mojo" in langs["Mojo"]["extensions"]
    assert ".mojo" in langs["XML"]["extensions"]
    # the flame alias is Mojo-only: a pure ext-map hit, never in the group
    assert ".\U0001F525" in langs["Mojo"]["extensions"]
    assert ".\U0001F525" not in grouped


def test_mojo_keyword_gate():
    assert _classify("a/hello.mojo", "fn main():\n    print('hi')\n") == "Mojo"
    assert _classify("a/interop.mojo",
                     "from python import Python\n") == "Mojo"
    assert _classify("a/types.mojo",
                     "struct Pair:\n    var a: Int\n") == "Mojo"
    # multiline semantics: a keyword line ANYWHERE matches (snapshot
    # patterns compile MULTILINE, convert-pcre.ts:17)
    assert _classify("a/doc.mojo",
                     "# My program\nimport math\n") == "Mojo"


def test_mojo_xml_prolog():
    assert _classify(
        "a/intent.mojo", '<?xml version="1.0"?>\n<intention/>\n'
    ) == "XML"


def test_mojo_c9_default():
    # neither rule -> C9 first candidate; Mojo precedes XML in the
    # snapshot's language ordering (as alphabetically upstream)
    assert _classify("a/notes.mojo", "just some prose\n") == "Mojo"
    # flame extension: single-claimant ext-map hit
    assert _classify("a/hot.\U0001F525", "anything at all\n") == "Mojo"
