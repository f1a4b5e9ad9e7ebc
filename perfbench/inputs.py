"""Seeded input generators for the benchmark workloads.

Every row is a pages-table row ``(url, warc_ts, html, text, lang)``. The
same seed always yields the same rows, and rows are written as parquet with
pyarrow (no Spark job), split into ``files`` files so the scan has at least
one split per core.

The generators deliberately do not import ``linguistjs_spark``: the inputs
must not change when the program under test changes.
"""

from __future__ import annotations

import datetime as dt
import itertools
import math
import os
import random
import statistics

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)

SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])

STOPWORDS = {
    "en": "the and of to in is that for with was are this have from not they "
          "be his her you all".split(),
    "es": "que los las una por con para como pero mas sus este esta entre "
          "cuando muy sobre".split(),
    "de": "der die und den von das mit sich des auf ist nicht ein eine als "
          "auch".split(),
    "fr": "les des est une que pour dans qui par sur pas plus avec sont "
          "mais".split(),
}
NL_LANGS = list(STOPWORDS)
TOXIC = ["shit", "fuck", "bastard", "bullshit", "wanker"]
SYLLABLES = ("ka ri to mo na se lu vi de pa qua tre gon bel sur fin mar col "
             "den sto rak pel nor vis gra lim tor zan").split()

# Heuristic-bearing extensions (several candidate languages, so the classify
# kernel reads text) and plain single-candidate code extensions.
HEURISTIC_EXTS = [".h", ".m", ".pl", ".php", ".md", ".ts", ".rs", ".sql",
                  ".cs", ".inc", ".pm", ".t", ".r", ".d", ".json", ".yaml",
                  ".txt", ".html", ".fr", ".ecl"]
PLAIN_EXTS = [".js", ".py", ".c", ".java", ".go", ".rb", ".cpp", ".kt",
              ".swift", ".scala", ".lua", ".css"]
FIRST_LINES = ["#!/usr/bin/env python3", "#!/bin/bash", "#!/usr/bin/perl -w",
               "#!/usr/bin/env node", "# vim: set ft=ruby:",
               "// -*- mode: c++ -*-", "# -*- mode: python -*-"]
DROPPED_PATHS = ["node_modules/lib/{}.js", "vendor/pkg/{}.c", "docs/{}.md",
                 "assets/{}.png", "third_party/{}.h", "{}.min.js",
                 "package-lock.json"]
WEB_PATHS = ["news/{y}/{m:02d}/{slug}", "blog/{slug}", "article/{n}",
             "wiki/{Slug}", "forum/thread/{n}", "p/{n}/{slug}",
             "{slug}.htm", "story/{slug}.aspx", "page/{n}.jsp"]
CODE_LINES = [
    "int {a} = {n};", "if ({a} > {n}) {{ return {b}; }}",
    "#include <{a}.h>", "my ${a} = shift;", "def {a}({b}):",
    "    return {a} + {b}", "@interface {A} : NSObject", "std::vector<int> {a};",
    "SELECT {a}, {b} FROM {c} WHERE {a} = {n};", "fn {a}(x: i32) -> i32 {{",
    "export const {a} = ({b}) => {b} * {n};", "use strict;",
    "    {a}.push({b});", "}}", "/* {a} {b} {c} */", "// {a} handles {b}",
    "public static void {a}(String {b}) {{", "{a}: {b}", "- {a}: {n}",
    "<div class=\"{a}\">{b}</div>", "{a} <- function({b}) {{ {b} * {n} }}",
]


class _Words:
    """A seeded pseudo-word vocabulary with a Zipf-like draw, so shingles of
    unrelated documents rarely collide (near-dup detection sees real
    structure, not a shared tiny vocabulary)."""

    def __init__(self, rng: random.Random, size: int = 20000):
        combos = itertools.chain(
            itertools.product(SYLLABLES, repeat=2),
            itertools.product(SYLLABLES, repeat=3))
        self.words = ["".join(c) for c in combos]
        rng.shuffle(self.words)
        del self.words[size:]
        self._arr = np.array(self.words, dtype=object)
        self._cum = np.cumsum(1.0 / (np.arange(size) + 10.0))
        self.gen = np.random.default_rng(rng.getrandbits(64))

    def draw(self, rng: random.Random, k: int) -> list[str]:
        u = self.gen.random(k) * self._cum[-1]
        return self._arr[np.searchsorted(self._cum, u)].tolist()


def _sizes(rng: random.Random, n: int, median: int, cap: int) -> list[int]:
    """Log-normal document sizes (sigma 0.6) taken at fixed quantiles, in a
    seeded order: every seed gets the same size distribution."""
    z = statistics.NormalDist()
    sizes = [int(median * math.exp(0.6 * z.inv_cdf((k + 0.5) / n)))
             for k in range(n)]
    sizes = [max(40, min(cap, s)) for s in sizes]
    rng.shuffle(sizes)
    return sizes


def _prose(rng: random.Random, vocab: _Words, lang: str, nbytes: int) -> str:
    # about 6.5 bytes per word; 40% of words are the language's stopwords
    n = nbytes // 7 + 8
    words = np.array(vocab.draw(rng, n), dtype=object)
    stops = np.array(STOPWORDS[lang], dtype=object)
    mask = vocab.gen.random(n) < 0.4
    words[mask] = stops[vocab.gen.integers(0, len(stops), int(mask.sum()))]
    words = words.tolist()
    out, i = [], 0
    while i < n:
        k = rng.randint(8, 20)
        out.append(" ".join(words[i:i + k]).capitalize() + ".")
        i += k
        if rng.random() < 0.15:
            out.append("\n")
    return " ".join(out).replace(" \n ", "\n")


def _code(rng: random.Random, vocab: _Words, nbytes: int) -> str:
    n = nbytes // 22 + 2
    names = vocab.draw(rng, 3 * n)
    lines = [
        t.format(a=names[3 * j], b=names[3 * j + 1], c=names[3 * j + 2],
                 A=names[3 * j].capitalize(), n=len(names[3 * j + 1]) * 37)
        for j, t in enumerate(rng.choices(CODE_LINES, k=n))
    ]
    return "\n".join(lines)


def _kinds(rng: random.Random, n: int, shares: dict[str, float],
           rest: str) -> list[str]:
    """Exactly round(share * n) rows of each kind, the rest ``rest``, in a
    seeded order: the mix is the same for every seed, only placement and
    content vary."""
    kinds = [k for k, share in shares.items() for _ in range(round(share * n))]
    kinds += [rest] * (n - len(kinds))
    rng.shuffle(kinds)
    return kinds


def _sprinkle(text: str, pii: str, tox: str, i: int, rng: random.Random) -> str:
    if pii == "email":
        text += (f"\ncontact user{i}@mail.example or "
                 f"+1 (555) 01{i % 10}-{1000 + i % 9000}")
    elif pii == "ip":
        text += f" server at 10.{i % 256}.{(i // 7) % 256}.1"
    if tox == "heavy":
        text = " ".join(rng.choice(TOXIC) for _ in range(12)) + " " + text[:200]
    elif tox == "light":
        text += " " + rng.choice(TOXIC)
    return text


def _extras(rng: random.Random, n: int):
    """Per-row PII and toxicity kinds: 8% e-mail and phone, 3% IP
    address; 3% toxic enough to drop, 3% one toxic word."""
    return zip(_kinds(rng, n, {"email": 0.08, "ip": 0.03}, ""),
               _kinds(rng, n, {"heavy": 0.03, "light": 0.03}, ""))


def labels_rows(seed: int, n: int) -> list[tuple]:
    """Pages with pre-extracted text, code-heavy paths: 45% carry a
    heuristic extension and 10% a shebang/modeline first line; 10% are
    path-filter drops, 1% sniff as binary; PII and toxicity are sprinkled
    in."""
    rng = random.Random(seed)
    vocab = _Words(rng)
    kinds = _kinds(rng, n, {"dropped": 0.10, "heur_code": 0.315,
                            "heur_prose": 0.135, "shebang": 0.10,
                            "plain": 0.20, "spam": 0.0125}, "prose")
    binary = _kinds(rng, n, {"bin": 0.01}, "")
    sizes = _sizes(rng, n, median=1700, cap=16000)
    rows = []
    for i, (kind, (pii, tox)) in enumerate(zip(kinds, _extras(rng, n))):
        size = sizes[i]
        name = "_".join(vocab.draw(rng, 2))
        if kind == "dropped":
            path = rng.choice(DROPPED_PATHS).format(name)
            text = _code(rng, vocab, size)
        elif kind.startswith("heur"):
            path = f"src/{name}{rng.choice(HEURISTIC_EXTS)}"
            text = _code(rng, vocab, size) if kind == "heur_code" \
                else _prose(rng, vocab, rng.choice(NL_LANGS), size)
        elif kind == "shebang":
            path = f"bin/{name}"
            text = rng.choice(FIRST_LINES) + "\n" + _code(rng, vocab, size)
        elif kind == "plain":
            path = f"src/{name}{rng.choice(PLAIN_EXTS)}"
            text = _code(rng, vocab, size)
        else:
            path = f"pages/{name}"
            text = "\n".join(["click here buy now"] * 40) if kind == "spam" \
                else _prose(rng, vocab, rng.choice(NL_LANGS), size)
        text = _sprinkle(text, pii, tox, i, rng)
        html = text.encode("utf-8")
        if binary[i]:
            html = b"PK\x03\x04\x00" + html[:64]
        rows.append((f"https://w{i}.h{i % 97}.example/{path}",
                     EPOCH + dt.timedelta(seconds=i), html, text, ""))
    return rows


def _html_page(rng: random.Random, vocab: _Words, body: str) -> bytes:
    nav = " | ".join(vocab.draw(rng, 6))
    paras = "".join(f"<p>{p}</p>\n" for p in body.split("\n") if p.strip())
    page = (f"<!DOCTYPE html><html><head><title>{' '.join(vocab.draw(rng, 4))}"
            f"</title><script>var t={rng.randint(0, 9999)};</script>"
            f"<style>.a{{color:red}}</style></head><body><nav>{nav}</nav>"
            f"<article>\n{paras}</article><footer>&copy; 2026 "
            f"{vocab.draw(rng, 1)[0]} &amp; co</footer></body></html>")
    return page.encode("utf-8")


def corpus_rows(seed: int, n: int) -> list[tuple]:
    """HTML-only web pages (text NULL) with web-style paths: 20% copy
    another ordinary page (5% byte for byte, 15% with about 2% of its
    words changed), 1% are 12x larger and 4% are one line repeated."""
    rng = random.Random(seed)
    vocab = _Words(rng)
    kinds = _kinds(rng, n, {"long": 0.01, "repeat": 0.04, "copy": 0.05,
                            "near": 0.15}, "plain")
    copies = [i for i, k in enumerate(kinds) if k in ("copy", "near")]
    sizes = iter(_sizes(rng, n - len(copies), median=1500, cap=8000))
    bodies: dict[int, str] = {}
    for i, (kind, (pii, tox)) in enumerate(zip(kinds, _extras(rng, n))):
        if kind in ("copy", "near"):
            continue
        size = next(sizes)
        if kind == "long":
            size = 12 * 1500
        lang = "en" if rng.random() < 0.8 else rng.choice(NL_LANGS)
        body = _prose(rng, vocab, lang, size)
        if kind == "repeat":
            body = "\n".join([" ".join(vocab.draw(rng, 3))] * 60)
        bodies[i] = _sprinkle(body, pii, tox, i, rng)
    # copy sources: ordinary pages at evenly spaced size ranks
    plain = sorted((i for i in bodies if kinds[i] == "plain"),
                   key=lambda i: (len(bodies[i]), i))
    sources = [plain[j * len(plain) // len(copies)] for j in range(len(copies))]
    rng.shuffle(sources)
    source = dict(zip(copies, sources))
    pages = {i: _html_page(rng, vocab, b) for i, b in bodies.items()}
    rows = []
    for i, kind in enumerate(kinds):
        if kind == "copy":  # a mirror: the same page byte for byte
            html = pages[source[i]]
        elif kind == "near":
            words = bodies[source[i]].split(" ")
            for _ in range(max(1, len(words) // 50)):
                words[rng.randrange(len(words))] = vocab.draw(rng, 1)[0]
            html = _html_page(rng, vocab, " ".join(words))
        else:
            html = pages[i]
        slug = "-".join(vocab.draw(rng, 3))
        path = rng.choice(WEB_PATHS).format(
            y=2020 + i % 6, m=1 + i % 12, slug=slug, Slug=slug.capitalize(),
            n=i)
        rows.append((f"https://site{i % 211}.example/{path}",
                     EPOCH + dt.timedelta(seconds=i),
                     html, None, ""))
    return rows


def write_parquet(rows: list[tuple], out_dir: str, files: int) -> None:
    """Write rows as ``files`` parquet files (one scan split each)."""
    os.makedirs(out_dir, exist_ok=True)
    cols = list(zip(*rows))
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, SCHEMA)], schema=SCHEMA)
    step = -(-len(rows) // files)
    for k in range(files):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(out_dir, f"part-{k:03d}.parquet"))
