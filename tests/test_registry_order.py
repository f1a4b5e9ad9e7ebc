"""The query registry: queries() order is computed from the
CORRECTNESS_rN.json records, and one entry's oracle builds alone.

Each round records CORRECTNESS rows for the first 50 entries of queries()
only, so the order decides which entries get recorded."""

import json
import re
from pathlib import Path

import pytest

import __spark_entry__ as E

RECORD_CAP = 50
ROOT = Path(E.__file__).parent


def _green(row):
    return (row.get("rows_match") is True and row.get("schema_match") is True
            and row.get("hash_match") is True and row.get("err") is None)


def _records():
    """round number -> {name: row}, for every CORRECTNESS file present."""
    out = {}
    for p in ROOT.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name)
        if m:
            out[int(m.group(1))] = json.loads(p.read_text())
    return out


def _row(**kw):
    return {"rows_match": True, "schema_match": True, "hash_match": True,
            "spark_rows": 1, "oracle_rows": 1, "err": None, **kw}


def test_every_entry_recorded_within_two_rounds():
    """Coverage by construction: an entry the next round will not record
    (past the cap) must have a green row in the newest round."""
    records = _records()
    newest = records[max(records)]
    order = list(E.queries())
    uncovered = [n for n in order[RECORD_CAP:]
                 if not _green(newest.get(n, {}))]
    assert uncovered == []


def test_never_recorded_entries_sort_first():
    records = _records()
    ever = {n for rows in records.values() for n, r in rows.items() if _green(r)}
    order = list(E.queries())
    never = [n for n in order if n not in ever]
    assert order[:len(never)] == never


def test_order_rule_on_synthetic_records(tmp_path, monkeypatch):
    names = list(E._REGISTRY)
    monkeypatch.setattr(E, "__file__", str(tmp_path / "__spark_entry__.py"))
    # no record files: table order
    assert list(E.queries()) == names

    a, b, c, d = names[:4]
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(
        {a: _row(), b: _row(), c: _row(), d: _row()}))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps(
        {a: _row(), b: _row(hash_match=False), c: _row(err="boom")}))
    (tmp_path / "notes.json").write_text("{}")
    order = list(E.queries())
    # the never-recorded entries first in table order, then round 1
    # (b, c, d: their r02 rows are not green) in table order, then a
    assert order == names[4:] + [b, c, d, a]


def test_one_oracle_builds_only_itself(monkeypatch):
    def boom():
        raise AssertionError("another entry's oracle function ran")

    made = [n for n, (_, o) in E._REGISTRY.items() if not isinstance(o, str)]
    keep = "readability_bands"
    assert keep in made
    want = E.oracle(keep)
    for n in made:
        if n != keep:
            monkeypatch.setitem(E._REGISTRY, n, (E._REGISTRY[n][0], boom))
    assert E.oracle(keep) == want
    with pytest.raises(AssertionError):
        E.oracle("simhash_pairs")
