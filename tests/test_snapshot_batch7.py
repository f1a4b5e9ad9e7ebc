"""Batch-7 snapshot widening (VERDICT r02 item 4): 608 languages / 106
disambiguation groups. Earlier batches had left `.b .j .moo .nu .scm
.ttl` with a single snapshot claimant, hiding the upstream contest on
those extensions; this batch adds the second public claimant plus the
content-disambiguation group for each (and `.mask` Unity3D Asset vs
Mask). The content cases live in `_HEUR_CASES`, so the batch-3 oracle +
pipeline parity tests cover rule evaluation automatically — this module
pins breadth and the claimant sets.
Reference semantics: /root/reference/src/index.ts:38-41 (heuristics
consumed at runtime from the same public dataset)."""

import json
import os

_DATA = os.path.join(
    os.path.dirname(__file__), "..", "linguistjs_spark", "data"
)

_BATCH7_EXTS = {".b", ".j", ".moo", ".nu", ".scm", ".ttl", ".mask"}

_CLAIMANTS = {
    ".b": {"Brainfuck", "Limbo"},
    ".j": {"Jasmin", "Objective-J"},
    ".moo": {"Mercury", "Moocode"},
    ".nu": {"Nushell", "Nu"},
    ".scm": {"Scheme", "Tree-sitter Query"},
    ".ttl": {"Turtle", "Tera Term macro"},
    ".mask": {"Unity3D Asset", "Mask"},
}


def _load():
    langs = json.load(open(os.path.join(_DATA, "languages.json")))["languages"]
    heur = json.load(open(os.path.join(_DATA, "heuristics.json")))
    return langs, heur


def test_batch7_breadth():
    langs, heur = _load()
    assert len(langs) >= 608
    assert len(heur["disambiguations"]) >= 106
    grouped = {e for g in heur["disambiguations"] for e in g["extensions"]}
    assert _BATCH7_EXTS <= grouped


def test_batch7_claimant_sets():
    langs, _ = _load()
    ext_map = {}
    for name, meta in langs.items():
        for e in meta.get("extensions", []):
            ext_map.setdefault(e.lower(), set()).add(name)
    for ext, want in _CLAIMANTS.items():
        assert want <= ext_map[ext], (ext, ext_map[ext])


def test_batch7_every_contested_ext_is_grouped():
    # closure property this test enforces for the whole snapshot (batch
    # history in linguistjs_spark/data/PROVENANCE.md): NO extension claimed
    # by >1 snapshot language lacks a disambiguation group (shebang-routed
    # .cgi/.fcgi excepted by design)
    langs, heur = _load()
    grouped = {e.lower() for g in heur["disambiguations"]
               for e in g["extensions"]}
    ext_map = {}
    for name, meta in langs.items():
        for e in meta.get("extensions", []):
            ext_map.setdefault(e.lower(), []).append(name)
    bad = {e: c for e, c in ext_map.items()
           if len(c) > 1 and e not in grouped and e not in {".cgi", ".fcgi"}}
    assert not bad, bad
