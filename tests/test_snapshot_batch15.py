"""Batch-15 snapshot widening: 711 languages / 119 disambiguation groups.

Adds the `.fx` (FLUX vs HLSL) and `.nb` (Mathematica vs Text) groups —
both exist upstream; the claimant sets are the confidently-known public
facts, the discriminator patterns are conservative DERIVED rules (see
linguistjs_spark/data/PROVENANCE.md). Pins membership, every rule branch, the
bare-fallback semantics (rules with no pattern always match — reference
src/index.ts:331-336 treats an absent matcher as a pass-through), and the
behavioral point of both fallbacks: C9's alphabetical default would pick
the WRONG majority language for these extensions (FLUX < HLSL,
Mathematica < Text), so the bare fallback is load-bearing.
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


def test_batch15_breadth():
    langs, heur = _load()
    assert len(langs) >= 711
    assert len(heur["disambiguations"]) >= 119
    grouped = {e for g in heur["disambiguations"] for e in g["extensions"]}
    assert ".fx" in grouped and ".nb" in grouped
    assert ".fx" in langs["FLUX"]["extensions"]
    assert ".fx" in langs["HLSL"]["extensions"]
    assert ".nb" in langs["Mathematica"]["extensions"]
    assert ".nb" in langs["Text"]["extensions"]


def test_fx_flux_func_gate():
    assert _classify("fx/blur.fx", "func blur(img) (\n    img\n)\n") == "FLUX"
    # multiline semantics: func declaration anywhere in the file
    assert _classify("fx/lib.fx",
                     "// helpers\nfunc clamp01(x) (x)\n") == "FLUX"


def test_fx_hlsl_fallback():
    assert _classify("fx/shade.fx",
                     "technique T0 {\n    pass P0 {}\n}\n") == "HLSL"
    # the fallback is bare: ANY non-FLUX content lands HLSL, including
    # prose C9 would alphabetically hand to FLUX without the fallback
    assert _classify("fx/readme.fx", "effect file for the demo\n") == "HLSL"


def test_nb_mathematica_gate():
    assert _classify(
        "nb/plot.nb",
        "(* Content-type: application/vnd.wolfram.mathematica *)\n"
        "Notebook[{Cell[\"hi\"]}]\n",
    ) == "Mathematica"
    # package-format notebooks: leading (* comment, no Notebook[
    assert _classify("nb/pkg.nb", "(* ::Package:: *)\nf[x_] := x\n") \
        == "Mathematica"


def test_nb_text_fallback():
    assert _classify(
        "nb/notes.nb", "meeting notes\n- agenda item one\n"
    ) == "Text"
