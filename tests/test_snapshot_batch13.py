"""Batch-13 snapshot widening: 711 languages / 116 disambiguation groups.

Adds the last upstream disambiguation groups whose claimants this author
can state with confidence — `.lean` (Lean vs Lean 4, upstream's
import-case discriminator), `.nr` (Roff vs Noir, upstream's leading-dot
rule with Noir as the default), and `.workflow` (XML Automator documents
vs HCL GitHub-Actions-v1 files; the HCL rule is a conservative DERIVED
discriminator, see linguistjs_spark/data/PROVENANCE.md). Content cases live in
`_HEUR_CASES` (the batch-3 oracle + pipeline parity tests execute every
rule branch); this module pins the memberships, rule order, and the
fallback-to-first-candidate (C9) behavior for unmatched content.
Reference semantics: /root/reference/src/index.ts:320-361 (first matching
rule wins, rules gated to the candidate set), :363-373 (C9 default).
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


def test_batch13_breadth():
    langs, heur = _load()
    assert len(langs) >= 711
    assert len(heur["disambiguations"]) >= 116
    grouped = {e for g in heur["disambiguations"] for e in g["extensions"]}
    assert {".lean", ".nr", ".workflow"} <= grouped
    assert ".lean" in langs["Lean 4"]["extensions"]
    assert ".hlean" not in langs["Lean 4"].get("extensions", [])  # Lean-3 only
    assert ".nr" in langs["Noir"]["extensions"]
    assert ".nr" in langs["Roff"]["extensions"]
    assert ".workflow" in langs["HCL"]["extensions"]
    assert ".workflow" in langs["XML"]["extensions"]


def test_lean_import_case_split():
    assert _classify("a/mathlib.lean", "import data.nat.basic\nopen nat\n") == "Lean"
    assert _classify("a/tactic.lean", "import Mathlib.Tactic\n#eval 1\n") == "Lean 4"
    # unmatched content (no import line) -> C9 first candidate = Lean, the
    # elder claimant; .hlean never enters the group (pure ext-map hit)
    assert _classify("a/scratch.lean", "theorem t : 1 = 1 := rfl\n") == "Lean"
    assert _classify("a/old.hlean", "import data.nat.basic\n") == "Lean"


def test_nr_roff_dot_rule():
    assert _classify("man/foo.nr", '.\\" comment\n.TH FOO 1\n') == "Roff"
    # multiline semantics: a dot-led line ANYWHERE wins for Roff (the
    # snapshot compiles patterns MULTILINE by default, convert-pcre.ts:17)
    assert _classify("man/bar.nr", "some text\n.PP\nmore\n") == "Roff"
    assert _classify("src/main.nr", "fn main() {\n    assert(1 == 1);\n}\n") == "Noir"


def test_workflow_xml_vs_hcl():
    assert _classify(
        "a/doc.workflow", '<?xml version="1.0"?>\n<workflow/>\n'
    ) == "XML"
    assert _classify(
        "a/main.workflow", 'workflow "on-push" {\n  on = "push"\n}\n'
    ) == "HCL"
    assert _classify(
        "a/act.workflow", 'action "build" {\n  uses = "./x"\n}\n'
    ) == "HCL"
    # neither rule -> C9 default first candidate; HCL precedes XML in the
    # snapshot's language ordering (as it does alphabetically upstream)
    assert _classify("a/junk.workflow", "just some text\n") == "HCL"
