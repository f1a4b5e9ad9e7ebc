"""Batch-18 snapshot widening: upstream rule-SHAPE parity in existing
groups (linguistjs_spark/data/PROVENANCE.md, batch 18).

`.i` gains upstream's leading Motorola 68K rule (m68k signal family,
reused from the `.s` group) — flipping the old moveq-content pin from the
Assembly fallback to Motorola 68K Assembly. `.ls`, `.pluginspec` and
`.gml` gain their upstream pattern-less fallback claimants (behavioral
no-ops vs the C9 alphabetical default, pinned so a rules diff against
upstream reads clean). `.yy` gains the Yacc fallback — a real behavioral
delta: non-JSON content resolves Yacc, not the alphabetical JSON default.
Reference semantics: /root/reference/src/index.ts:320-361.
"""

from linguistjs_spark import oracle
from linguistjs_spark.config import QualityFilterConfig
from linguistjs_spark.metadata import load_metadata

CFG = QualityFilterConfig(
    quality_rules=False, langid_fallback=False,
    scrub_pii=False, toxicity_filter=False,
)


def _classify(path, text):
    md = load_metadata()
    cands, definite, from_shebang = oracle.classify(md, CFG, path, text)
    lang, _, _ = oracle.narrow(
        md, CFG, path, text, cands, definite, from_shebang)
    return lang


def test_i_m68k_lead_rule():
    assert _classify("startup.i", "\tmoveq\t#1,d0\n\trts\n") \
        == "Motorola 68K Assembly"
    assert _classify("vec.i", "  move.l #$100,a0\n") \
        == "Motorola 68K Assembly"


def test_i_existing_branches_unchanged():
    assert _classify(
        "demo.i", "%module demo\n%{\n#include <demo.h>\n%}\n") == "SWIG"
    # non-m68k assembly still lands on the Assembly fallback
    assert _classify("boot.i", "section .text\nglobal _start\n") \
        == "Assembly"


def test_ls_fallback():
    assert _classify(
        "src/App.ls", "package demo.app {\n    public class App {}\n}\n"
    ) == "LoomScript"
    # explicit upstream fallback == old C9 alphabetical default (no-op)
    assert _classify(
        "src/util.ls", "square = (x) -> x * x\nconsole.log square 4\n"
    ) == "LiveScript"


def test_pluginspec_fallback():
    assert _classify(
        "demo.pluginspec", '<?xml version="1.0"?>\n<plugin id="demo"/>\n'
    ) == "XML"
    assert _classify(
        "demo.pluginspec",
        'Gem::Specification.new do |s|\n  s.name = "demo"\nend\n'
    ) == "Ruby"


def test_yy_yacc_fallback_is_a_delta():
    assert _classify(
        "obj.yy", '{\n  "id": "u1",\n  "resourceType": "GMObject"\n}\n'
    ) == "JSON"
    # the new upstream shape: non-JSON .yy content is a bison grammar
    assert _classify("gram.yy", "%token NUM\n%%\nexpr: NUM;\n%%\n") == "Yacc"


def test_gml_fallback():
    assert _classify(
        "map.gml", '<?xml version="1.0"?>\n<gml:FeatureCollection/>\n'
    ) == "XML"
    assert _classify(
        "net.gml", "graph [\n  node [\n    id 1\n  ]\n]\n"
    ) == "Graph Modeling Language"
    assert _classify(
        "step.gml", "var hp = 100;\nif (hp <= 0) instance_destroy();\n"
    ) == "Game Maker Language"
