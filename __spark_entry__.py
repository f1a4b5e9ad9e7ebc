"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``: flagship query — the full quality-filter pipeline over a
  pages-shaped table derived from sf0.001 documents + the fixture seed rows,
  rolled up per language (the reference's headline output,
  /root/reference/readme.md:69-103).
- ``queries()``: one entry per implemented operator family (SURVEY.md §2 +
  graft training-data ops), least recently CORRECTNESS-recorded first.
- ``oracle_sql()``: DuckDB-equivalent SQL for every query; ``oracle(name)``
  builds one entry's. Both read the one ``_REGISTRY`` table at the end.
  Column names/aliases match the Spark side exactly; float-valued outputs are
  avoided or reduced to engine-exact arithmetic (single IEEE ops / integer
  casts) so the order-insensitive value-hash comparison is stable.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from linguistjs_spark.config import QualityFilterConfig
from linguistjs_spark.oracle import (
    BLANK_LINE_PAT,
    LINE_SPLIT_PAT,
    WORD_SPLIT_PAT,
)
from linguistjs_spark.pipeline import run_pipeline
from linguistjs_spark.sources.pages import pages_df, pages_from_documents
from linguistjs_spark.operators import rollup as R
from linguistjs_spark.operators import text_stats as TS
from linguistjs_spark.operators import dedup as DD
from linguistjs_spark.operators import similarity as SIM
from linguistjs_spark.operators.quality import quality_drop_reason_col, quality_struct
from linguistjs_spark.operators.scrub import scrubbed_col
from linguistjs_spark.operators.multimodal import extract_media_features, synthetic_media_df
from linguistjs_spark.operators import extract as EX
from linguistjs_spark.operators import boilerplate as BP
from linguistjs_spark.operators import decontam as DCN
from linguistjs_spark.operators.retrieval import (
    bm25_oracle_sql, keyword_topk_oracle_sql)

# pipeline config used for oracle-checked cascade queries: pure reference
# semantics, graft stages off (they are oracle-checked separately)
_CASCADE_CFG = QualityFilterConfig(
    quality_rules=False, langid_fallback=False, scrub_pii=False, toxicity_filter=False
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    sf_dir = "/root/testdata/sf0.001"
    pages = pages_from_documents(spark, sf_dir).unionByName(
        pages_df(spark, n_bulk=100)
    )
    labels = run_pipeline(spark, pages, QualityFilterConfig())
    return R.sorted_by_bytes(R.language_rollup(labels))


# ---------------------------------------------------------------------------
# queries — each returns a DataFrame; aliases match oracle_sql exactly
# ---------------------------------------------------------------------------


def q_lang_bytes_rollup(spark, sf_dir):
    # A3: per-language rollup over the raw documents table
    return (
        _docs(spark, sf_dir)
        .groupBy("lang")
        .agg(
            F.sum(F.octet_length("text")).cast("long").alias("bytes"),
            F.count("*").alias("n_docs"),
        )
    )


def q_line_metrics_totals(spark, sf_dir):
    # A2+A5: global line metrics
    t = F.col("text")
    lines = F.split(t, LINE_SPLIT_PAT)
    nonblank = F.filter(lines, lambda x: ~x.rlike(BLANK_LINE_PAT))
    return _docs(spark, sf_dir).agg(
        F.sum(F.size(lines)).cast("long").alias("lines_total"),
        F.sum(F.size(nonblank)).cast("long").alias("lines_content"),
        F.count("*").alias("n_docs"),
    )


def q_quality_keep_by_lang(spark, sf_dir):
    # Gopher/C4 rule engine cross-check: per-lang kept/dropped counts
    cfg = QualityFilterConfig()
    d = _docs(spark, sf_dir).withColumn("quality", quality_struct(F.col("text")))
    d = d.withColumn("reason", quality_drop_reason_col(F.col("quality"), cfg))
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("reason").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_keep"),
        F.sum(F.when(F.col("reason") == "quality-words", 1).otherwise(0))
        .cast("long")
        .alias("n_drop_words"),
    )


def q_scrub_pii(spark, sf_dir):
    # byte-identical scrub across engines (sampled rows)
    return (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") % 20 == 0)
        .select("doc_id", scrubbed_col(F.col("text")).alias("scrubbed"))
    )


def q_token_count_by_source(spark, sf_dir):
    t = F.col("text")
    return (
        _docs(spark, sf_dir)
        .groupBy("source")
        .agg(
            F.sum(TS.token_count_col(t)).cast("long").alias("n_tokens"),
            F.sum(TS.bpe_token_count_col(t)).cast("long").alias("n_bpe_tokens"),
            F.sum(F.octet_length(t)).cast("long").alias("bytes"),
        )
    )


def q_exact_dedup(spark, sf_dir):
    return _docs(spark, sf_dir).agg(
        F.count("*").alias("n_docs"),
        F.count_distinct(F.md5("text")).alias("n_unique"),
    )


def q_cascade_extmap(spark, sf_dir):
    # The classification cascade itself, cross-checked against an independent
    # SQL restatement: pages derived from documents, full pipeline, per-lang
    # rollup. Covers C4-C9 ext-map, complex-ext, heuristics, group collapse.
    pages = pages_from_documents(spark, sf_dir)
    labels = run_pipeline(spark, pages, _CASCADE_CFG)
    return (
        labels.filter(F.col("keep"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.sum("bytes").cast("long").alias("bytes"))
    )


# cascade_wide fixture: 290 extensions spanning the widened metadata
# snapshot (VERDICT r01 #2), each a single-candidate ext whose
# classification is text-independent (not shebang/modeline/heuristic-gated),
# pinned to its expected language. The DuckDB oracle restates this list
# literally, so a snapshot regression (ext dropped/remapped) breaks the hash
# match. Batch N below is row N of linguistjs_spark/data/PROVENANCE.md.
_WIDE_EXT_LANGS = [
    (".go", "Go"), (".swift", "Swift"), (".kt", "Kotlin"), (".kts", "Kotlin"),
    (".dart", "Dart"), (".rb", "Ruby"), (".java", "Java"), (".scala", "Scala"),
    (".clj", "Clojure"), (".hs", "Haskell"), (".erl", "Erlang"),
    (".exs", "Elixir"), (".lex", "Lex"), (".elm", "Elm"), (".zig", "Zig"),
    (".nim", "Nim"), (".jl", "Julia"), (".lua", "Lua"), (".toml", "TOML"),
    (".xml", "XML"),
    (".css", "CSS"), (".scss", "SCSS"), (".less", "Less"), (".sass", "Sass"),
    (".vue", "Vue"), (".svelte", "Svelte"), (".muf", "Forth"),
    (".proto", "Protocol Buffer"), (".graphql", "GraphQL"), (".ini", "INI"),
    (".csv", "CSV"), (".tsv", "TSV"), (".sh", "Shell"), (".bash", "Shell"),
    (".ps1", "PowerShell"), (".bat", "Batchfile"), (".pas", "Pascal"),
    (".vhd", "VHDL"), (".tcl", "Tcl"), (".rkt", "Racket"),
    (".el", "Emacs Lisp"), (".mli", "OCaml"), (".fsx", "F#"), (".mysql", "SQL"),
    (".rsx", "R"), (".tex", "TeX"), (".rst", "reStructuredText"),
    (".org", "Org"), (".adoc", "AsciiDoc"), (".diff", "Diff"),
    (".dockerfile", "Dockerfile"), (".cmake", "CMake"), (".groovy", "Groovy"),
    (".gradle", "Gradle"), (".hcl", "HCL"), (".tf", "HCL"), (".nix", "Nix"),
    (".vim", "Vim Script"), (".awk", "Awk"), (".cob", "COBOL"),
    (".cr", "Crystal"), (".pyx", "Cython"), (".di", "D"),
    (".ahk", "AutoHotkey"), (".angelscript", "AngelScript"), (".bal", "Ballerina"),
    (".bicep", "Bicep"), (".cfm", "ColdFusion"), (".cson", "CSON"),
    (".cue", "CUE"), (".dfy", "Dafny"), (".dwl", "DataWeave"),
    (".ftlh", "FreeMarker"), (".feature", "Gherkin"), (".mumps", "M"),
    (".gleam", "Gleam"), (".hx", "Haxe"), (".ipynb", "Jupyter Notebook"),
    (".jq", "JQ"), (".json5", "JSON5"), (".jsonnet", "Jsonnet"),
    (".kv", "kvlang"), (".lfe", "LFE"), (".asd", "Common Lisp"),
    (".ly", "LilyPond"), (".m2", "Macaulay2"), (".marko", "Marko"),
    (".metal", "Metal"), (".mq4", "MQL4"), (".nf", "Nextflow"),
    (".nss", "NWScript"), (".nut", "Squirrel"), (".db2", "SQLPL"),
    (".p4", "P4"), (".pde", "Processing"), (".pegjs", "PEG.js"),
    (".pig", "PigLatin"), (".pike", "Pike"), (".pkl", "Pkl"),
    (".pony", "Pony"), (".pov", "POV-Ray SDL"), (".prisma", "Prisma"),
    (".ps", "PostScript"), (".pug", "Pug"), (".purs", "PureScript"),
    (".pwn", "Pawn"), (".qasm", "OpenQASM"), (".rei", "Reason"),
    (".robot", "RobotFramework"), (".sas", "SAS"), (".sed", "sed"),
    (".slim", "Slim"), (".smithy", "Smithy"), (".sml", "Standard ML"),
    (".sp", "SourcePawn"), (".sparql", "SPARQL"), (".stan", "Stan"),
    (".styl", "Stylus"), (".thrift", "Thrift"), (".tla", "TLA"),
    (".sj", "Objective-J"), (".twig", "Twig"), (".uc", "UnrealScript"),
    (".ur", "UrWeb"), (".vb", "Visual Basic .NET"), (".vbs", "VBScript"),
    (".vtl", "Velocity Template Language"), (".vtt", "WebVTT"),
    # batch-2 widening. Batch 14 made .mojo heuristic-gated (Mojo/XML
    # group), so its wide pin — which requires a text-INDEPENDENT
    # classification — moved to the single-claimant flame alias; .mojo
    # itself is pinned per rule branch in _HEUR_CASES.
    (".\U0001F525", "Mojo"), (".astro", "Astro"), (".kdl", "KDL"),
    (".rexx", "REXX"), (".x68", "Assembly"),
    (".red", "Red"), (".self", "Self"), (".boo", "Boo"), (".x10", "X10"),
    (".rsh", "RenderScript"), (".ring", "Ring"), (".ik", "Ioke"),
    (".opal", "Opal"), (".pogo", "PogoScript"), (".shen", "Shen"),
    (".smali", "Smali"), (".tu", "Turing"), (".uno", "Uno"),
    (".wisp", "wisp"), (".zimpl", "Zimpl"), (".lol", "LOLCODE"),
    (".krl", "KRL"), (".glf", "Glyph"), (".flux", "FLUX"), (".dm", "DM"),
    (".cirru", "Cirru"), (".aj", "AspectJ"), (".ampl", "AMPL"),
    (".4dm", "4D"), (".move", "Move"), (".circom", "Circom"),
    (".cdc", "Cadence"), (".wl", "Mathematica"),
    (".gap", "GAP"), (".pd", "Pure Data"), (".orc", "Csound"),
    (".csd", "Csound Document"), (".sco", "Csound Score"),
    (".kicad_pcb", "KiCad Layout"),
    (".lvproj", "LabVIEW"), (".ol", "Jolie"), (".cdf", "Mathematica"),
    # batch-3 widening: single-candidate exts of the newly added languages
    # (their contested exts are pinned with real content in
    # cascade_heuristics instead)
    (".reb", "Rebol"), (".xi", "Logos"), (".gbr", "Gerber Image"),
    (".dlm", "IDL"), (".pri", "QMake"),
    # batch-4 widening: unique-ext languages of the 580-language snapshot.
    # Group-bearing children pin their COLLAPSED parent label (.bib->TeX,
    # .ebuild->Shell, .rbs->Ruby...) so these rows double as C7
    # group-collapse pins. Binary-filtered exts (.snap .rtf .stl .xbm
    # .xpm) are deliberately absent: they classify keep=false and would
    # vanish from the rollup.
    (".bsl", "1C Enterprise"), (".2da", "2-Dimensional Array"),
    (".asddls", "ABAP CDS"), (".aidl", "AIDL"), (".als", "Alloy"),
    (".apib", "API Blueprint"), (".agc", "Apollo Guidance Computer"),
    (".applescript", "AppleScript"), (".arc", "Arc"),
    (".aug", "Augeas"), (".avdl", "Avro IDL"), (".befunge", "Befunge"),
    (".bib", "TeX"), (".bsv", "Bluespec"), (".bpl", "Boogie"),
    (".mss", "CartoCSS"), (".click", "Click"), (".soy", "Closure Templates"),
    (".conllu", "CoNLL-U"), (".curry", "Curry"), (".cy", "Cycript"),
    (".dsc", "DenizenScript"), (".djs", "Dogescript"), (".eml", "E-mail"),
    (".eb", "Easybuild"), (".epj", "Ecere Projects"),
    (".edc", "Edje Data Collection"), (".elv", "Elvish"), (".ged", "GEDCOM"),
    (".kid", "Genshi"), (".ebuild", "Shell"), (".eclass", "Shell"),
    (".gjs", "Glimmer JS"), (".gts", "Glimmer TS"),
    (".tres", "Godot Resource"), (".grace", "Grace"), (".ecr", "HTML"),
    (".eex", "HTML"), (".erb", "HTML"), (".phtml", "HTML"),
    (".cshtml", "HTML"), (".hxml", "HXML"), (".hc", "HolyC"),
    (".ijm", "ImageJ Macro"), (".jcl", "JCL"), (".tmlanguage", "XML"),
    (".jte", "Java Template Engine"), (".mps", "JetBrains MPS"),
    (".jison", "Yacc"), (".jisonlex", "Lex"),
    (".brd", "KiCad Legacy Layout"), (".kicad_sch", "KiCad Schematic"),
    (".kit", "Kit"), (".livecodescript", "LiveCode Script"),
    (".lagda", "Agda"), (".mlir", "MLIR"), (".maxpat", "Max"),
    (".sln", "Microsoft Visual Studio Solution"), (".mint", "Mint"),
    (".qmd", "RMarkdown"), (".nasl", "NASL"),
    (".neon", "NEON"), (".objdump", "ObjDump"),
    (".opa", "Opa"), (".ox", "Ox"),
    (".oxygene", "Oxygene"), (".pasm", "Parrot Assembly"),
    (".pir", "Parrot Internal Representation"), (".pep", "Pep8"),
    (".por", "Portugol"), (".pbt", "PowerBuilder"), (".praat", "Praat"),
    (".rbs", "Ruby"), (".ron", "RON"), (".rpgle", "RPGLE"),
    (".rnh", "RUNOFF"), (".regexp", "Regular Expression"), (".roc", "Roc"),
    (".rg", "Rouge"), (".ston", "Smalltalk"), (".sl", "Slash"),
    (".cocci", "SmPL"), (".sfd", "Spline Font Database"), (".sss", "CSS"),
    (".rnw", "R"), (".8xp", "TI Program"), (".tcsh", "Shell"),
    (".tea", "Tea"), (".texinfo", "Texinfo"), (".tl", "Type Language"),
    (".upc", "C"), (".vdf", "Valve Data Format"),
    (".snip", "Vim Snippet"), (".owl", "Web Ontology Language"),
    (".ws", "Witcher Script"), (".xaml", "XAML"), (".xpl", "XProc"),
    (".xs", "XS"), (".yul", "Yul"), (".zap", "ZAP"), (".zeek", "Zeek"),
    (".ec", "eC"), (".mu", "mupad"), (".ooc", "ooc"),
    # batch-5 widening
    (".ch", "xBase"), (".rakutest", "Raku"), (".cps", "Component Pascal"),
    # batch-6 backfill: .json/.yaml/.yml/.pod/.asy/.mc/.plist/.ms moved OUT
    # of this text-independent list when batch 6 gave them content
    # disambiguation groups (their classification now depends on doc text);
    # replaced with still-single-candidate exts of the 603-language snapshot
    (".abap", "ABAP"), (".abnf", "ABNF"), (".ada", "Ada"), (".apl", "APL"),
    (".au3", "AutoIt"), (".bats", "Shell"), (".bzl", "Starlark"),
    (".cairo", "Cairo"),
    # batch-11 widening
    (".f90", "Fortran Free Form"), (".ics", "iCalendar"),
    (".cds", "CAP CDS"), (".ispc", "ISPC"), (".d2", "D2"),
    (".4gl", "Genero 4gl"), (".per", "Genero per"),
    (".mligo", "CameLIGO"), (".omgrofl", "Omgrofl"),
    (".sfv", "Simple File Verification"),
    (".numpy", "Python"),  # group collapse NumPy -> Python
    (".parrot", "Parrot"), (".yasnippet", "YASnippet"), (".edn", "edn"),
    (".ha", "Hare"), (".pickle", "Pickle"), (".slang", "Slang"),
    (".axs.erb", "NetLinx+ERB"), (".mms", "Module Management System"),
    (".cil", "CIL"),
    # batch-17 widening: VB6 designer files
    (".ctl", "Visual Basic 6.0"), (".dsr", "Visual Basic 6.0"),
]


def q_cascade_wide(spark, sf_dir):
    # Widened-snapshot cascade check: pages synthesized from documents with a
    # deterministic 290-extension cycle; a constant first line is prepended
    # so no row takes the shebang/modeline slow path (classification is then
    # a pure function of the extension, which the literal SQL CASE restates).
    n = len(_WIDE_EXT_LANGS)
    exts = F.array(*[F.lit(e) for e, _ in _WIDE_EXT_LANGS])
    pages = _docs(spark, sf_dir).select(
        F.concat(
            F.lit("https://wide.example/src/sample"),
            F.col("doc_id").cast("string"),
            F.element_at(exts, (F.col("doc_id") % n + 1).cast("int")),
        ).alias("url"),
        F.to_timestamp(F.lit("2024-01-01")).alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.concat(F.lit("wide sample\n"), F.col("text")).alias("text"),
    )
    labels = run_pipeline(spark, pages, _CASCADE_CFG)
    return (
        labels.filter(F.col("keep"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.sum("bytes").cast("long").alias("bytes"))
    )


def _cascade_wide_oracle_sql() -> str:
    n = len(_WIDE_EXT_LANGS)
    whens = " ".join(
        f"WHEN {i} THEN '{lang.replace(chr(39), chr(39) * 2)}'"
        for i, (_, lang) in enumerate(_WIDE_EXT_LANGS)
    )
    return (
        f"SELECT lang, COUNT(*) AS n_docs, "
        f"CAST(SUM(strlen(text) + 12) AS BIGINT) AS bytes "
        f"FROM (SELECT CASE doc_id % {n} {whens} END AS lang, text "
        f"FROM documents) GROUP BY lang"
    )


# cascade_heuristics fixture: one (ext, content, expected_lang) per rule
# branch of the round-3 widened disambiguation groups (VERDICT r02 item 4:
# content-based pins for newly contested extensions). Each snippet is
# written so the INTENDED rule fires and every earlier rule in its group
# misses, exercising rule order; all snippets are ASCII and avoid
# shebang/modeline first lines so classification is a pure function of
# (ext, content). Expected labels restated literally by the DuckDB oracle
# and independently cross-checked row-by-row against the python oracle in
# tests/test_snapshot_batch3.py. Reference semantics: src/index.ts:320-361
# (first matching rule wins; rules gated to the candidate set). Batch N
# below is row N of linguistjs_spark/data/PROVENANCE.md.
_HEUR_CASES = [
    (".as", "package com.example\nclass Main {}", "ActionScript"),
    (".as", "shared abstract class Foo {}", "AngelScript"),
    (".cls", "Class Foo.Bar Extends %RegisteredObject {}", "ObjectScript"),
    (".cls", "VERSION 1.0 CLASS\nBEGIN\nEND", "Visual Basic 6.0"),
    (".cls", "\\ProvidesClass{myclass}[2024/01/01]", "TeX"),
    (".d", "module foo.bar;\nvoid main() {}", "D"),
    (".d", "#pragma D option quiet\nBEGIN { trace(1); }", "DTrace"),
    (".d", "foo.o: foo.c\n\tcc -c foo.c", "Makefile"),
    (".e", "class\n HELLO\nfeature\nend", "Eiffel"),
    (".e", 'include std/io.e\nputs(1, "hi")', "Euphoria"),
    (".es", "%% comment\nmain(_Args) -> ok.", "Erlang"),
    (".es", "'use strict';\nlet x = 1;", "JavaScript"),
    (".ex", "defmodule Foo do\nend", "Elixir"),
    (".ex", "global function foo()\nend function", "Euphoria"),
    (".fs", ": star 42 emit ;", "Forth"),
    (".fs", "module Foo\nlet x = 1", "F#"),
    (".fs", "#version 330 core\nvoid main() {}", "GLSL"),
    (".fs", '#include "rs_graphics.rsh"', "Filterscript"),
    (".gd", 'DeclareCategory("IsFoo", IsObject);', "GAP"),
    (".gd", "extends Node\nvar health = 100", "GDScript"),
    (".gml", '<?xml version="1.0"?>\n<graphml/>', "XML"),
    (".gml", "graph [\n  node [\n    id 1\n  ]\n]", "Graph Modeling Language"),
    (".gs", '[indent=4]\ninit\n\tprint "hi"', "Genie"),
    (".gs", "uses java.util.List\nclass A {}", "Gosu"),
    (".html", '<emu-clause id="sec-intro">\n</emu-clause>', "Ecmarkup"),
    (".html", "<!DOCTYPE html>\n<html></html>", "HTML"),
    (".ice", '{ "a": 1 }', "JSON"),
    (".ice", "module Demo {\ninterface Printer {}\n}", "Slice"),
    (".l", "(defun foo (x) x)", "Common Lisp"),
    (".l", "%%\n[0-9]+  return NUM;", "Lex"),
    (".l", ".TH FOO 1", "Roff"),
    (".l", "(de foo (X) X)", "PicoLisp"),
    (".lisp", "(defun foo () nil)", "Common Lisp"),
    (".lsp", "(define (foo x) x)", "NewLisp"),
    (".ls", "package com.game {\nclass A {}\n}", "LoomScript"),
    (".ml", "let rec fact n = n", "OCaml"),
    (".ml", "case x of\n  NONE => 0", "Standard ML"),
    (".mod", '<!ENTITY % foo "bar">', "XML"),
    (".mod", "MODULE Hello;\nEND Hello;", "Modula-2"),
    (".n", ".nh\nsome roff text", "Roff"),
    (".n", "using System;\nmodule M {}", "Nemerle"),
    (".ncl", '<?xml version="1.0"?>\n<ncl/>', "XML"),
    (".ncl", "config THE_TITLE here", "Text"),
    (".nl", "b4 12 13\ng5 1 2", "NL"),
    (".nl", "(define (f x) x)", "NewLisp"),
    (".odin", 'name = <flavour>\nother = <"text">',
     "Object Data Instance Notation"),
    (".odin", "package main\nmain :: proc() {}", "Odin"),
    (".p", "set terminal png\nplot sin(x)", "Gnuplot"),
    (".p", "define input parameter n as integer.", "OpenEdge ABL"),
    (".pluginspec", '<?xml version="1.0"?>\n<plugin/>', "XML"),
    (".pp", "program Hello;\nbegin\nend.", "Pascal"),
    (".pp", "service { 'x':\n  ensure => running,\n}", "Puppet"),
    (".pro", "likes(a, b).\nfoo :- bar.", "Prolog"),
    (".pro", "[General]\nlast_client=MyApp", "INI"),
    (".pro", "SOURCES += main.cpp", "QMake"),
    (".pro", "function foo, a, b\nreturn, a\nend", "IDL"),
    (".q", "upd:{x+y}", "q"),
    (".q", "SELECT col FROM tbl", "HiveQL"),
    (".r", 'Rebol [Title: "demo"]', "Rebol"),
    (".r", "x <- c(1, 2, 3)", "R"),
    (".re", "#include <vector>\nint main() {}", "C++"),
    (".re", "let x: int = 1;", "Reason"),
    (".sc", "SynthDef(\\sine, { arg out; }).add;", "SuperCollider"),
    (".sc", "import scala.collection.mutable", "Scala"),
    (".sol", "D02*\nM02*\n", "Gerber Image"),
    (".sol", "pragma solidity ^0.8.0;\ncontract C {}", "Solidity"),
    (".st", "$name$(args)$", "StringTemplate"),
    (".st", "x := y", "Smalltalk"),
    (".toc", "## Interface: 11200\n## Title: MyAddon",
     "World of Warcraft Addon Data"),
    (".toc", "\\contentsline {section}{Intro}{1}", "TeX"),
    (".tsx", "import React from 'react'", "TypeScript"),
    (".tsx", '<?xml version="1.0"?>\n<x/>', "XML"),
    (".w", "&ANALYZE-SUSPEND _UIB-CODE-BLOCK", "OpenEdge ABL"),
    (".w", "@ Intro.\n@<Program@>=\n", "CWeb"),
    (".x", "xof 0302txt 0064\n", "DirectX 3D File"),
    (".x", "program PING {\n version V1 {\n } = 1;\n} = 2;", "RPC"),
    (".x", "%hook SpringBoard\n%end", "Logos"),
    (".x", "SECTIONS\n{\n . = 0x10000;\n}", "Linker Script"),
    (".yy", '{\n "rules": []\n}', "JSON"),
    # batch-4 groups: .al/.dsp/.i/.star arrive with their upstream
    # disambiguation; .cl exercises the pre-existing
    # group's Cool rule, dead until Cool joined the snapshot in batch 4.
    (".al", "codeunit 50100 MyHandler\n{\n    trigger OnRun()\n"
            "    begin\n    end;\n}", "AL"),
    (".al", "use strict;\nmy $x = shift;\nprint $x;\n", "Perl"),
    (".dsp", 'import("stdfaust.lib");\nprocess = os.osc(440);', "Faust"),
    (".dsp", '# Microsoft Developer Studio Project File - Name="demo"\n',
     "Microsoft Developer Studio Project"),
    (".i", "%module demo\n%{\n#include <demo.h>\n%}\n", "SWIG"),
    # batch 18 flipped this pin: upstream's .i group leads with the m68k
    # named pattern, so moveq content is Motorola 68K Assembly (the old
    # Assembly pin was pinning the branch's absence)
    (".i", "\tmoveq\t#1,d0\n\trts\n", "Motorola 68K Assembly"),
    (".i", "section .text\nglobal _start\n", "Assembly"),
    (".star", "data_demo\nloop_\n_atom_site.id\n1 2 3\n", "STAR"),
    (".star", 'load("@rules_cc//cc:defs.bzl", "cc_library")\n', "Starlark"),
    (".cl", "(defun hello (x)\n  (print x))", "Common Lisp"),
    (".cl", "class Main inherits IO {\n  main() : Object { 0 }\n};", "Cool"),
    (".cl", "__kernel void add(__global float* a) {}", "OpenCL"),
    # batch-5 groups: Raku/Turing rules on .pl/.pm/.t were dead until
    # their languages claimed the extensions; .cp/.g/.tst are new; .ts
    # exercises the resurrected XML rule.
    (".pl", "likes(alice, bob).\nhappy(X) :- likes(X, _).", "Prolog"),
    (".pl", "use strict;\nmy @xs = (1, 2);\n", "Perl"),
    (".pl", "use v6;\nsay 'hello';\n", "Raku"),
    (".pm", "package Foo::Bar;\nsub new { bless {}, shift }\n1;\n", "Perl"),
    (".pm", "use v6;\nunit module Foo;\n", "Raku"),
    (".t", "use strict;\nuse Test::More tests => 1;\nok(1);\n", "Perl"),
    (".t", "use v6;\nuse Test;\nok 1;\n", "Raku"),
    (".t", "% compute\nvar total : int := 0\nput total\n", "Turing"),
    (".cp", "MODULE Demo;\nEND Demo.\n", "Component Pascal"),
    (".cp", "#include <vector>\nstd::vector<int> v;\n", "C++"),
    (".g", 'BindGlobal("Foo", function(x) return x; end);', "GAP"),
    (".g", "G21\nG0 X0 Y0\nG1 X10 F300\nM2\n", "G-code"),
    (".tst", "gap> 1+1;\n2\n", "GAP"),
    (".tst", "// Scilab test\ndisp(1)\n", "Scilab"),
    (".ts", '<?xml version="1.0"?>\n<TS version="2.1"></TS>\n', "XML"),
    (".ts", "import { x } from './x';\nexport const y = 1;\n", "TypeScript"),
    # batch-6 groups: OpenAPI/MiniYAML over .json/.yaml, man-page
    # suffixes, 68k vs gas .s, plus the repaired .pod (fallback Pod, was
    # dead-Perl) and .inc (SQL claims the ext upstream).
    # Heuristic winners keep their RAW language name (src/index.ts:331-336
    # assigns the rule's language, bypassing group collapse).
    (".bas", '#include "stdio.bi"\nPrint "hi"', "FreeBASIC"),
    (".bas", '10 PRINT "HELLO"\n20 GOTO 10', "BASIC"),
    (".bas", 'Attribute VB_Name = "Module1"\nSub Main()\nEnd Sub', "VBA"),
    (".s", "\tmove.l #1,d0\n\trts\n", "Motorola 68K Assembly"),
    (".m4", "AC_INIT([demo], [1.0])\nAC_PREREQ([2.69])\n", "M4Sugar"),
    (".m4", "dnl demo macros\ndefine(foo, bar)\n", "M4"),
    (".plt", ":- module(demo, []).\nfoo(1).\n", "Prolog"),
    (".plt", "set terminal png\nplot sin(x)\n", "Gnuplot"),
    (".plist", '<?xml version="1.0"?>\n<plist version="1.0"/>',
     "XML Property List"),
    (".plist", "{ foo = bar; }\n", "OpenStep Property List"),
    (".qs", "namespace Demo {\n    operation Main() : Unit {}\n}", "Q#"),
    (".qs", "var x = Math.abs(-1);\n", "Qt Script"),
    (".res", "let add = (a, b) => a + b\n", "ReScript"),
    (".res", '<?xml version="1.0"?>\n<resources/>', "XML"),
    (".srt", ";; SRecode template\n;; demo\n", "SRecode Template"),
    (".srt", "1\n00:00:01,000 --> 00:00:02,000\nHello\n", "SubRip Text"),
    (".json", '{"swagger": "2.0", "info": {}}', "OASv2-json"),
    (".json", '{"openapi": "3.1.0"}', "OASv3-json"),
    (".json", '{"a": 1}', "JSON"),
    (".yaml", 'swagger: "2.0"\ninfo: {}\n', "OASv2-yaml"),
    (".yaml", "Actor:\n\tHealth:\n\t\tHP: 100\n", "MiniYAML"),
    (".yml", "openapi: 3.0.0\ninfo: {}\n", "OASv3-yaml"),
    (".yml", "key: value\nlist:\n  - a\n", "YAML"),
    (".asy", "SymbolType BLOCK\nLINE Normal 0 0\n", "LTspice Symbol"),
    (".asy", "size(200);\ndraw(unitcircle);\n", "Asymptote"),
    (".bf", "using System;\nclass Program {}\n", "Beef"),
    (".bf", 'fprintf(stdout, "hi");\n', "HyPhy"),
    (".bf", "++[>+>+<<-]\n", "Brainfuck"),
    (".bs", "<pre class=metadata>\nTitle: Spec\n</pre>\n", "Bikeshed"),
    (".bs", "package Demo where\n", "Bluespec BH"),
    (".bs", 'sub main()\n  print "hi"\nend sub\n', "BrighterScript"),
    (".builds", '<?xml version="1.0"?>\n<Project/>\n', "XML"),
    (".builds", "plain build log text\n", "Text"),
    (".csl", '<?xml version="1.0"?>\n<style/>\n', "XML"),
    (".csl", "StormEvents | take 10\n", "Kusto"),
    (".mc", "MessageId=0x1\nSymbolicName=MSG_OK\n", "Win32 Message File"),
    (".mc", "dnl config\nchangequote([,])\n", "M4"),
    (".mc", "import Toybox.WatchUi;\nclass App {}\n", "Monkey C"),
    (".frm", "Begin {C62A69F0-16DC-11CE-9E98-00AA00574A4F} UserForm1\n",
     "VBA"),
    (".frm", "Begin VB.Form Form1\n", "Visual Basic 6.0"),
    (".ms", ".TH FOO 1\n", "Roff"),
    (".ms", ".globl main\nmain:\n  ret\n", "Unix Assembly"),
    (".ms", 'fn hello = ( print "hi" )\n', "MAXScript"),
    (".sw", "contract;\nfn main() {}\n", "Sway"),
    (".sw", '<?xml version="1.0"?>\n<sw/>\n', "XML"),
    (".tsp", 'import "@typespec/http";\nmodel Pet {}\n', "TypeSpec"),
    (".tsp", "NAME : demo\nTYPE : TSP\nDIMENSION : 3\n", "TSPLIB data"),
    (".typ", '<?xml version="1.0"?>\n<types/>\n', "XML"),
    (".typ", "#set page(width: 10cm)\nHello\n", "Typst"),
    (".rno", ".! comment\n.end lit\n", "RUNOFF"),
    (".rno", '.\\" comment line\n', "Roff"),
    (".vhost", "server {\n  listen 80;\n}\n", "Nginx"),
    (".vhost", "<VirtualHost *:80>\n</VirtualHost>\n", "ApacheConf"),
    (".1", ".TH LS 1\n", "Roff Manpage"),
    (".man", ".Dt LS 1\n", "Roff Manpage"),
    (".3", ".nr PS 10\n", "Roff"),
    (".pod", "=begin pod\nsome text\n=end pod\n", "Pod 6"),
    (".pod", "=head1 NAME\ndemo - a thing\n", "Pod"),
    (".inc", "SELECT id FROM users;\n", "SQL"),
    (".inc", "<?php\necho 1;\n", "PHP"),
    # batch 7
    (".b", "+++>+>+<[-]\n", "Brainfuck"),
    (".b", "implement Hello;\ninclude \"sys.m\";\n", "Limbo"),
    (".j", "@import <Foundation/CPObject.j>\n@implementation App\n@end\n",
     "Objective-J"),
    (".j", ".class public Hello\n.super java/lang/Object\n", "Jasmin"),
    (".moo", ":- module hello.\n:- interface.\n", "Mercury"),
    (".moo", "@program foo:bar\nplayer:tell(\"hi\");\n", "Moocode"),
    (".nu", "def main [] {\n  echo hi\n}\n", "Nushell"),
    (".nu", '(puts "hello")\n', "Nu"),
    (".scm", '((identifier) @name (#eq? @name "x"))\n', "Tree-sitter Query"),
    (".scm", "(define (square x) (* x x))\n", "Scheme"),
    (".ttl", "@prefix dc: <http://purl.org/dc/terms/> .\n", "Turtle"),
    (".ttl", "connect 'host:22 /ssh'\nsendln 'ls'\nwait '$'\n",
     "Tera Term macro"),
    (".mask", "%YAML 1.1\n%TAG !u! tag:unity3d.com,2011:\n",
     "Unity3D Asset"),
    (".mask", ".page > .content {\n  h4 > 'Title'\n}\n", "Mask"),
    # batch 8
    (".mo", "actor Main {\n  public func greet() {};\n}\n", "Motoko"),
    (".mo", "model Pendulum\n  Real x;\nend Pendulum;\n", "Modelica"),
    (".rsc", "/interface bridge\nadd name=br0\n", "RouterOS Script"),
    (".rsc", "module Demo\nimport IO;\n", "Rascal"),
    (".cls", "public with sharing class AccountCtrl {\n}\n", "Apex"),
    (".ncl", "begin\n  f = addfile(\"in.nc\", \"r\")\nend\n", "NCL"),
    # batch 9
    (".sch", '<?xml version="1.0"?>\n<eagle version="9.6.2">\n</eagle>\n',
     "Eagle"),
    (".sch", "EESchema Schematic File Version 4\nEELAYER 30 0\n",
     "KiCad Schematic"),
    (".sch", '<?xml version="1.0"?>\n<schematic name="s1"/>\n', "XML"),
    (".brd", '<?xml version="1.0"?>\n<eagle version="9.6.2"/>\n', "Eagle"),
    (".brd", "PCBNEW-Board Version 2\n$GENERAL\n", "KiCad Legacy Layout"),
    (".cue", 'FILE "album.wav" WAVE\n  TRACK 01 AUDIO\n'
     "    INDEX 01 00:00:00\n", "Cue Sheet"),
    (".cue", 'package example\n\nmsg: "hello"\n', "CUE"),
    (".e", "def greeter := when (x) -> { x }\n", "E"),
    # batch 10
    (".m", "(* ::Package:: *)\nf[x_] := x^2\n", "Mathematica"),
    (".m", "% plot a sine\nx = 0:0.1:pi;\n", "MATLAB"),
    (".frag", "#version 330 core\nout vec4 color;\nvoid main() {}\n",
     "GLSL"),
    (".frag", "'use strict';\nmodule.exports = 1;\n", "JavaScript"),
    # batch 11
    (".mod", "NEURON {\n    SUFFIX pas\n}\n", "NMODL"),
    (".mod", "obj-m += hello.o\n", "Linux Kernel Module"),
    (".r", "#include \"Types.r\"\nresource 'MENU' (128) {\n};\n", "Rez"),
    (".t", "terra add(a : int)\n    return a\nend\n", "Terra"),
    (".txt", "[Adblock Plus 2.0]\n||ads.example.com^\n",
     "Adblock Filter List"),
    (".txt", "*myplugin.txt*  Help for my plugin\n", "Vim Help File"),
    (".txt", "meeting notes from tuesday\n", "Text"),
    (".ncl", "let port = 8080 in\n{ port = port }\n", "Nickel"),
    (".nas", "var pos = geo.aircraft_position();\n", "Nasal"),
    (".nas", "section .text\n    mov eax, 1\n", "Assembly"),
    # batch 12: upstream .inc membership
    (".inc", "%macro PUSH_ALL 0\nsection .text\n", "Assembly"),
    (".inc", "{$IFDEF FPC}\nprocedure Foo;\n{$ENDIF}\n", "Pascal"),
    (".inc", "#declare Wood = texture { pigment { rgb 1 } }\n",
     "POV-Ray SDL"),
    (".inc", 'SRC_URI += "file://fix.patch"\n', "BitBake"),
    (".inc", "#if defined _mylib_included\n#endinput\n#endif\n",
     "SourcePawn"),
    (".inc", 'script_name("Port scan");\nscript_id(99999);\n', "NASL"),
    # batch 13: Lean/Lean 4, Roff/Noir, XML/HCL
    (".lean", "import data.nat.basic\nopen nat\n", "Lean"),
    (".lean", "import Mathlib.Tactic\ntheorem t : 1 = 1 := rfl\n", "Lean 4"),
    (".nr", '.\\" man page source\n.TH FOO 1\n', "Roff"),
    (".nr", "fn main() {\n    assert(1 == 1);\n}\n", "Noir"),
    (".workflow", '<?xml version="1.0"?>\n<workflow></workflow>\n', "XML"),
    (".workflow", 'workflow "on-push" {\n  on = "push"\n}\n', "HCL"),
    # batch 14: Mojo/XML
    (".mojo", "from python import Python\nfn main():\n    pass\n", "Mojo"),
    (".mojo", '<?xml version="1.0"?>\n<intention/>\n', "XML"),
    # batch 15: FLUX/HLSL and Mathematica/Text
    (".fx", "func blur(img, radius) (\n    img\n)\n", "FLUX"),
    (".fx", "technique T0 {\n    pass P0 {}\n}\n", "HLSL"),
    (".nb", "(* Content-type: application/vnd.wolfram.mathematica *)\n"
            "Notebook[{Cell[\"hi\"]}]\n", "Mathematica"),
    (".nb", "meeting notes\n- agenda item one\n- agenda item two\n", "Text"),
    # batch 16: new branches in existing groups
    (".pm", "/* XPM */\nstatic char *icon[] = {\n", "X PixMap"),
    (".gs", "#version 330 core\nlayout(points) in;\nvoid main() {}\n",
     "GLSL"),
    # batch 18: upstream rule-shape parity —
    # pattern-less fallbacks (.ls/.pluginspec/.gml no-op vs C9, .yy is a
    # real delta: non-JSON content -> Yacc) and the .i m68k lead rule
    (".ls", "package demo.app {\n    public class App {}\n}\n",
     "LoomScript"),
    (".ls", "square = (x) -> x * x\nconsole.log square 4\n", "LiveScript"),
    (".pluginspec", '<?xml version="1.0"?>\n<plugin id="demo"/>\n', "XML"),
    (".pluginspec",
     'Gem::Specification.new do |s|\n  s.name = "demo"\nend\n', "Ruby"),
    (".yy", '{\n  "id": "u1",\n  "resourceType": "GMObject"\n}\n', "JSON"),
    (".yy", "%token NUM\n%%\nexpr: NUM;\n%%\n", "Yacc"),
    (".gml", '<?xml version="1.0"?>\n<gml:FeatureCollection/>\n', "XML"),
    (".gml", "graph [\n  node [\n    id 1\n  ]\n]\n",
     "Graph Modeling Language"),
    (".gml", "var hp = 100;\nif (hp <= 0) instance_destroy();\n",
     "Game Maker Language"),
]


def q_cascade_heuristics(spark, sf_dir):
    # Content-based disambiguation pins for the widened heuristic groups:
    # pages cycle through _HEUR_CASES (extension AND content vary per
    # residue class of doc_id), so the per-language rollup is a pure
    # function of the fixture that the literal SQL CASE restates. Unlike
    # cascade_wide (text-independent ext mapping), every row here takes the
    # heuristic slow path: multi-candidate extension, rules evaluated in
    # group order against the real content.
    n = len(_HEUR_CASES)
    exts = F.array(*[F.lit(e) for e, _, _ in _HEUR_CASES])
    texts = F.array(*[F.lit(c) for _, c, _ in _HEUR_CASES])
    idx = (F.col("doc_id") % n + 1).cast("int")
    pages = _docs(spark, sf_dir).select(
        F.concat(
            F.lit("https://heur.example/case"),
            F.col("doc_id").cast("string"),
            F.element_at(exts, idx),
        ).alias("url"),
        F.to_timestamp(F.lit("2024-01-01")).alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.element_at(texts, idx).alias("text"),
    )
    labels = run_pipeline(spark, pages, _CASCADE_CFG)
    return (
        labels.filter(F.col("keep"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.sum("bytes").cast("long").alias("bytes"))
    )


def _cascade_heuristics_oracle_sql() -> str:
    n = len(_HEUR_CASES)
    lang_whens = " ".join(
        f"WHEN {i} THEN '{lang.replace(chr(39), chr(39) * 2)}'"
        for i, (_, _, lang) in enumerate(_HEUR_CASES)
    )
    byte_whens = " ".join(
        f"WHEN {i} THEN {len(content.encode('utf-8'))}"
        for i, (_, content, _) in enumerate(_HEUR_CASES)
    )
    return (
        f"SELECT lang, COUNT(*) AS n_docs, CAST(SUM(b) AS BIGINT) AS bytes "
        f"FROM (SELECT CASE doc_id % {n} {lang_whens} END AS lang, "
        f"CASE doc_id % {n} {byte_whens} END AS b "
        f"FROM documents) GROUP BY lang"
    )


def q_keep_reason_rollup(spark, sf_dir):
    # north-star metrics rollup: grouping sets over (lang, keep_reason) in
    # one pass, over the full pipeline (quality rules ON so reasons vary)
    cfg = QualityFilterConfig(langid_fallback=False, scrub_pii=False,
                              toxicity_filter=False)
    pages = pages_from_documents(spark, sf_dir)
    labels = run_pipeline(spark, pages, cfg)
    return R.keep_reason_rollup(labels)


def q_unknown_rollup(spark, sf_dir):
    # A4: unknown rollup over fixture pages that classify to null
    pages = pages_from_documents(spark, sf_dir)
    # strip the ext for doc_id%10==0 rows so they become unknown-by-filename
    pages = pages.withColumn(
        "url",
        F.when(
            F.col("url").endswith(".txt") & ~F.col("url").endswith(".html.txt"),
            F.regexp_replace("url", r"\.txt$", ""),
        ).otherwise(F.col("url")),
    )
    labels = run_pipeline(spark, pages, _CASCADE_CFG)
    return R.unknown_rollup(labels).orderBy("kind", "name")


def q_minsize_other(spark, sf_dir):
    # F6/A6: Other-bucket merge on the per-lang rollup (threshold in bytes)
    d = q_lang_bytes_rollup(spark, sf_dir)
    rekeyed = d.withColumn(
        "lang2",
        F.when(F.col("bytes") < 40000, F.lit("Other")).otherwise(F.col("lang")),
    )
    return rekeyed.groupBy(F.col("lang2").alias("lang")).agg(
        F.sum("bytes").cast("long").alias("bytes"),
        F.sum("n_docs").cast("long").alias("n_docs"),
    )


def q_top_langs(spark, sf_dir):
    # O1/O2: sort + percent-of-total in integer basis points. Grand total
    # via an unpartitioned window over the tiny rollup — one linear plan,
    # no re-execution of the child agg (vs the crossJoin(agg) form).
    from pyspark.sql import Window

    d = q_lang_bytes_rollup(spark, sf_dir)
    return (
        d.withColumn("_t", F.sum("bytes").over(Window.partitionBy()))
        .select(
            "lang",
            "bytes",
            F.expr("10000 * bytes div _t").cast("long").alias("pct_bp"),
        )
        .orderBy(F.desc("bytes"), F.asc("lang"))
        .limit(5)
    )


def q_ann_topk(spark, sf_dir):
    # brute-force cosine top-k; scores rounded to engine-exactness margin
    emb = _emb(spark, sf_dir)
    qvec = [r[0] for r in emb.filter(F.col("vec_id") == 0).select(
        F.explode("embedding")).collect()]
    top = SIM.brute_force_topk(emb, qvec, k=10)
    return top.select("vec_id", F.round(F.col("score"), 4).alias("score_r"))


def q_jaccard_pairs(spark, sf_dir):
    # Exact word-3-shingle Jaccard for a bounded pair set, cross-checked
    # against a string-domain DuckDB restatement (hash-domain == string-
    # domain set sizes absent 64-bit collisions). jac_ppm in integer ppm.
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 30)
    d = docs.select("doc_id", DD.shingle_hashes(F.col("text"), k=3).alias("sh"))
    a, b = d.alias("a"), d.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.array_union(F.col("a.sh"), F.col("b.sh")))
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("a"),
            F.col("b.doc_id").alias("b"),
            F.round(F.lit(1000000.0) * inter / union).cast("long").alias("jac_ppm"),
        )
    )


def q_shingle_stats(spark, sf_dir):
    # word-3-shingle counts per source: cross-checks the dedup shingle
    # builder (hash-domain) against a string-domain SQL restatement
    docs = _docs(spark, sf_dir)
    sh = DD.shingle_hashes(F.col("text"), k=3)
    return docs.groupBy("source").agg(
        F.sum(F.size(sh)).cast("long").alias("n_shingles"),
        F.count("*").alias("n_docs"),
    )


def q_user_sessions(spark, sf_dir):
    # gap-based sessionization over the events stream table (30-min gap):
    # lag window + cumulative session ids, then per-user session counts
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    gap = F.col("ts") - prev  # day-time interval; exact in both engines
    new_sess = F.when(
        prev.isNull() | (gap > F.expr("INTERVAL 1800 SECONDS")), 1
    ).otherwise(0)
    sess = ev.withColumn("new_sess", new_sess)
    return sess.groupBy("user_id").agg(
        F.sum("new_sess").cast("long").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


def q_event_rate_windows(spark, sf_dir):
    # Tumbling 6-hour window aggregation via F.window — the batch shape of
    # the streaming windowed-agg operator; oracle restates with epoch
    # bucketing arithmetic.
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = F.window("ts", "6 hours")
    return ev.groupBy(
        w.start.alias("win_start"), F.col("event_type")
    ).agg(
        F.count("*").alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
    )


def q_doc_length_quantiles(spark, sf_dir):
    # Exact interpolated percentiles of document length per source
    # (percentile == DuckDB quantile_cont); the approximate sketch path
    # (approx_percentile) is tolerance-tested in pytest instead.
    d = _docs(spark, sf_dir).withColumn("len", F.octet_length("text"))
    return d.groupBy("source").agg(
        F.expr("CAST(ROUND(percentile(len, 0.5) * 100) AS BIGINT)").alias("p50_c"),
        F.expr("CAST(ROUND(percentile(len, 0.9) * 100) AS BIGINT)").alias("p90_c"),
        F.expr("CAST(ROUND(percentile(len, 0.99) * 100) AS BIGINT)").alias("p99_c"),
        F.count("*").alias("n_docs"),
    )


def q_events_by_type_day(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.groupBy(
        F.col("event_type"), F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
    )


def q_sequence_packing(spark, sf_dir):
    """Concatenate-and-chunk sequence packing over documents (packing.py):
    per-bucket window cumsum assigns every doc a (bucket, pack_id) slot in
    a 512-token training sequence; the rollup pins doc/token/pack totals,
    straddling-doc counts, and an order-sensitive sum(pack_id*doc_id)
    checksum so the oracle verifies every document's assignment, not just
    totals. Buckets are doc_id % 32 here (oracle-expressible; production
    default is xxhash64)."""
    from linguistjs_spark.operators import packing as PK

    packed = PK.pack_sequences(
        _docs(spark, sf_dir), max_tokens=512, n_buckets=32,
        bucket_col=F.col("doc_id") % 32,
    )
    return PK.packing_summary(packed, 512)


def q_lineitem_summary(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_items"),
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
            "sum_price_cents"
        ),
    )


# ---- rows-only queries (non-SQL-expressible; driver records weaker check) --


def q_langid_dist(spark, sf_dir):
    # C10 langid fallback, oracle-checked: per-language doc counts over
    # ASCII-only docs (RE2's \W is ASCII-only, so the tokenizations agree
    # exactly there; non-ASCII script scoring is covered by the Python-oracle
    # parity tests instead).
    from linguistjs_spark.operators.scrub import nl_lang_col

    d = _docs(spark, sf_dir).filter(~F.col("text").rlike("[^\\x00-\\x7F]"))
    return d.groupBy(nl_lang_col(F.col("text")).alias("nl_lang")).agg(
        F.count("*").alias("n_docs")
    )


def q_lang_mismatch(spark, sf_dir):
    # C4-style language-consistency check: the declared `lang` column vs
    # the detected stopword-argmax language, per ASCII doc (same domain
    # restriction as langid_dist). The filter use-case: keep only docs
    # whose declared language the detector confirms.
    from linguistjs_spark.operators.scrub import nl_lang_col

    d = _docs(spark, sf_dir).filter(~F.col("text").rlike("[^\\x00-\\x7F]"))
    nl = F.coalesce(nl_lang_col(F.col("text")), F.lit(""))
    return d.select(
        "doc_id",
        F.col("lang").alias("declared"),
        nl.alias("detected"),
        (nl == F.col("lang")).alias("lang_match"),
    )


def _langid_scored_cte() -> str:
    """Shared DuckDB CTE: per-ASCII-doc stopword argmax (tie-to-greater-
    lang) as columns (doc_id, lang, nl_lang).

    Deliberately INDEPENDENT of the engine's loaders (VERDICT r02 item 7):
    the stopword lists come straight from the committed data/langid.json via
    a bare json.load here, not through metadata.load_langid_config or
    scrub._word_table — so a loader bug (a dropped language) or a word-table
    bug (wrong bitmask/bucket in the single-pass fold) flips this
    CORRECTNESS row instead of propagating to both sides."""
    import json as _json
    from pathlib import Path

    raw = Path(__file__).parent / "linguistjs_spark" / "data" / "langid.json"
    conf = _json.loads(raw.read_text())
    langs = sorted(conf["stopword_langs"])  # rank = alphabetical position
    terms = []
    for rank, lang in enumerate(langs):
        words = ", ".join(f"'{w}'" for w in sorted(set(conf["stopword_langs"][lang])))
        terms.append(
            f"len(list_filter(toks, x -> list_contains([{words}], x))) * 100000 + {rank}"
        )
    decode = " ".join(
        f"WHEN {rank} THEN '{lang}'" for rank, lang in enumerate(langs)
    )
    min_hits = conf["min_confidence_hits"]
    return f"""
        t AS (
          SELECT doc_id, lang,
                 list_filter(string_split_regex(lower(text), '\\W+'),
                             x -> x <> '') AS toks
          FROM documents
          WHERE NOT regexp_matches(text, '[^\\x00-\\x7F]')
        ), s AS (
          SELECT doc_id, lang, GREATEST({", ".join(terms)}) AS best FROM t
        ), scored AS (
          SELECT doc_id, lang,
                 CASE WHEN best // 100000 >= {min_hits}
                      THEN CASE best % 100000 {decode} END
                 END AS nl_lang
          FROM s
        )
    """


def _langid_oracle_sql() -> str:
    """DuckDB restatement of nl_lang_col's stopword scoring + argmax with
    tie-to-greater-lang, generated from the same committed config."""
    return f"""
        WITH {_langid_scored_cte()}
        SELECT nl_lang, COUNT(*) AS n_docs FROM scored GROUP BY 1
    """


def _lang_mismatch_oracle_sql() -> str:
    return f"""
        WITH {_langid_scored_cte()}
        SELECT doc_id, lang AS declared,
               coalesce(nl_lang, '') AS detected,
               coalesce(nl_lang, '') = lang AS lang_match
        FROM scored
    """


def q_shipped_revenue_window(spark, sf_dir):
    # Date-range scan: the l_shipdate predicate reaches the parquet scan as
    # a pushed filter (tests/test_plans.py asserts it) — the row-group/
    # partition-pruning story for time-partitioned fact tables at scale.
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    win = li.filter(
        (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") < "1996-01-01")
    )
    return win.groupBy("l_returnflag").agg(
        F.count("*").alias("n_items"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
            "price_cents"
        ),
    )


def q_revenue_by_nation(spark, sf_dir):
    # Multi-table equi-join chain lineitem->orders->customer->nation with the
    # dimension side broadcast (nation is 25 rows at any SF; customer joins
    # shuffle under AQE — at 100 TB customer is not broadcastable, nation is).
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    rev_cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_items"),
            F.sum(rev_cents.cast("long")).cast("long").alias("revenue_cents"),
        )
    )


def q_orders_no_lineitem(spark, sf_dir):
    # Left-anti join: orders with no lineitems, counted per priority.
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("l_orderkey")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_anti")
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count("*").alias("n_orders"))
    )


def q_top_docs_per_lang(spark, sf_dir):
    # Window top-k: 3 largest documents per language, deterministic tie-break.
    from pyspark.sql import Window

    d = _docs(spark, sf_dir).withColumn("bytes", F.octet_length("text"))
    w = Window.partitionBy("lang").orderBy(F.desc("bytes"), F.asc("doc_id"))
    return (
        d.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("lang", "doc_id", F.col("bytes").cast("long").alias("bytes"),
                F.col("rk").cast("long").alias("rk"))
    )


def q_pipeline_labels(spark, sf_dir):
    pages = pages_from_documents(spark, sf_dir)
    labels = run_pipeline(spark, pages, QualityFilterConfig())
    return labels.select("url", "keep", "keep_reason", "lang", "nl_lang")


def q_minhash_pairs(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return DD.minhash_dedup_pairs(docs, threshold=0.5).orderBy("a", "b")


def q_cross_corpus_dedup(spark, sf_dir):
    """Dedup a 'new crawl' against an 'existing training set'
    (dedup.cross_corpus_near_dup): corpus = every 40th doc, reference =
    verbatim copies of every 80th doc under shifted ids — so half the
    corpus has an exact reference twin (jaccard 1.0, LSH recall 1 by
    construction) and the rest must stay unmatched at the 0.5 threshold.
    The oracle is the exhaustive string-domain cross Jaccard (same
    machinery as minhash_pairs, whose full-corpus recall check is green
    at this SF), including the best-match tie-break toward the smallest
    reference id."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 40 == 0)
    reference = docs.filter(F.col("doc_id") % 80 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    return DD.cross_corpus_near_dup(corpus, reference, threshold=0.5)


def q_simhash_pairs(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    sims = DD.with_simhash(docs)
    return (
        DD.simhash_near_pairs(sims, max_hamming=3)
        .select("a", "b", F.col("hamming").cast("long").alias("hamming"))
        .orderBy("a", "b")
    )


def q_lsh_ann_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    qvec = [r[0] for r in emb.filter(F.col("vec_id") == 1).select(
        F.explode("embedding")).collect()]
    idx = SIM.with_lsh_buckets(emb, bits=8)
    return SIM.lsh_topk(idx, qvec, k=10, bits=8, probe_hamming=2).select(
        "vec_id", F.round(F.col("score"), 4).alias("score_r")
    )


def q_ivf_ann_topk(spark, sf_dir):
    # IVF ANN: centroid-bucketed index, scan only the n_probe nearest buckets
    emb = _emb(spark, sf_dir)
    qvec = [r[0] for r in emb.filter(F.col("vec_id") == 2).select(
        F.explode("embedding")).collect()]
    cents = SIM.ivf_centroids(emb, n_centroids=16)
    idx = SIM.with_ivf_buckets(emb, cents)
    return SIM.ivf_topk(idx, cents, qvec, k=10, n_probe=4).select(
        "vec_id", F.round(F.col("score"), 4).alias("score_r")
    )


def q_embedding_near_dup(spark, sf_dir):
    # Embedding-cosine near-dup pairs (hyperplane-LSH bucket join + verify).
    # Random embeddings have no true near-dups, so plant deterministic ones:
    # scaled copies (cosine-invariant) of vec_id < 8, offset ids — the query
    # must recover exactly those planted pairs.
    emb = _emb(spark, sf_dir)
    planted = emb.filter(F.col("vec_id") < 8).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.25)).alias("embedding"),
        "label",
    )
    return (
        SIM.embedding_near_dup_pairs(emb.unionByName(planted), threshold=0.9, bits=8)
        .select("a", "b", F.round(F.col("score"), 4).alias("score_r"))
        .orderBy("a", "b")
    )


# planted punctuation mess for q_unicode_normalize: curly quotes, en dash,
# ellipsis, NBSP, guillemets, zero-width space, full-width letters,
# ideographic space, bullet — every class the normalizer maps
_UNICODE_MESS = ("\n“Q” – it’s … "
                 "«quoted»​ＨＩ　•end")


def q_unicode_normalize(spark, sf_dir):
    """Unicode punctuation normalization (pre-dedup canonicalization):
    every document gets the same planted punctuation mess appended, the
    normalizer must map it to its ASCII spelling, and the comparison is
    byte-identity (md5 of the normalized text) plus the codepoint shrink
    count. Oracle restates the SAME translate mapping + regexp chains in
    DuckDB, built from the module's constants so they cannot drift."""
    import linguistjs_spark.operators.normalize as N

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    t2 = F.concat(F.col("text"), F.lit(_UNICODE_MESS))
    norm = N.unicode_punct_norm_col(t2)
    return docs.select(
        "doc_id",
        F.md5(norm).alias("norm_md5"),
        (F.length(t2) - F.length(norm)).cast("long").alias("shrunk"),
    ).orderBy("doc_id")


def q_mojibake_filter(spark, sf_dir):
    """Mojibake gate: planted U+FFFD runs (doc_id % 13 of them on every
    5th doc) and control pairs (every 7th doc) must surface in the
    replacement/control counts and the basis-point fraction; docs over
    25 bp drop as decode casualties. Integer + IEEE-identical floor
    arithmetic; whole-text codegen scans, no shuffle before the sort."""
    import linguistjs_spark.operators.normalize as N

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    t2 = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 5 == 0,
               F.expr("repeat('�', CAST(doc_id % 13 AS INT))")
               ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0,
               F.lit("\x01\x02")).otherwise(F.lit("")),
    )
    s = N.mojibake_stats(t2)
    return docs.select(
        "doc_id",
        s["n_repl"].alias("n_repl"),
        s["n_ctrl"].alias("n_ctrl"),
        s["n_chars"].alias("n_chars"),
        s["bad_bp"].alias("bad_bp"),
        N.bad_unicode_col(t2, max_bad_bp=25).alias("dropped"),
    ).orderBy("doc_id")


def q_domain_cap(spark, sf_dir):
    """Per-domain frequency cap (anti-spam: ≤5 docs per host, latest-ts
    priority) over the messy-URL fixture. The engine runs the two-stage
    salted windows (Zipf-skew shield); the oracle proves the composition
    is exact by restating it as ONE plain ROW_NUMBER per domain — the
    output must be independent of the salting."""
    import linguistjs_spark.operators.url_ops as U

    pages = _messy_urls(spark, sf_dir)
    kept = U.domain_frequency_cap(pages, max_per_domain=5, salt_buckets=8)
    return kept.select("domain", "doc_id").orderBy("domain", "doc_id")


def q_crawl_frontier_priority(spark, sf_dir):
    """Crawl-frontier prioritization — the capstone composition of the
    crawl tiers in ONE job: per-domain Gopher keep rate (quality profile
    over the messy-URL fixture) joined with the inbound-link profile
    (real anchor extraction over the pagerank fixture's html), scored

        priority = keep_bp * qd(ln(1 + inbound_src_domains))

    (the retrieval module's 2^-20 dyadic ln quantization, so the product
    is exact in both engines; floor to integer for the compare surface).
    High-quality well-linked domains get recrawl budget first. Two
    map-side-combined groupBys + one domain equi-join; text and html
    never shuffle."""
    from linguistjs_spark.operators import link_graph as LG
    from linguistjs_spark.operators.retrieval import _qd
    import linguistjs_spark.operators.url_ops as U

    q = U.domain_quality_profile(_messy_urls(spark, sf_dir))
    links = LG.anchor_text_stats(
        LG.extract_anchors(_pagerank_pages(spark, sf_dir)))
    j = q.join(
        links.select("domain", "n_src_domains"), "domain", "left"
    ).withColumn(
        "n_src", F.coalesce(F.col("n_src_domains"), F.lit(0)).cast("long"))
    pr = F.col("keep_bp").cast("double") * _qd(
        F.log(F.lit(1.0) + F.col("n_src").cast("double")))
    return j.select(
        "domain", "n_docs", "keep_bp", "n_src",
        F.floor(pr).cast("long").alias("priority_i"),
    ).orderBy(F.desc("priority_i"), "domain")


def q_url_tracking_dedup(spark, sf_dir):
    """Tracking-param stripping for canonical-URL dedup: the same page
    reached via newsletter/ad/social carries distinct utm_*/click-id
    params; stripping them merges the recrawl duplicates real canonical-
    ization misses. Fixture decorates canonicalized messy URLs with four
    param mixes (utm+real, click-id only, real+trailing gclid, none);
    output = the per-doc (raw, stripped) URL mapping. Oracle restates
    the 4-step regexp chain verbatim (DuckDB needs the 'g' flag where
    Spark replaces all by default) over the shared _CANON_EXPR."""
    import linguistjs_spark.operators.url_ops as U

    pages = _messy_urls(spark, sf_dir).select("doc_id", "url")
    canon = U.canonical_url_col(F.col("url"))
    mix = F.col("doc_id") % 4
    decorated = F.concat(
        canon,
        F.when(mix == 0, F.concat(
            F.lit("?utm_source=nl&id="),
            (F.col("doc_id") % 50).cast("string")))
        .when(mix == 1, F.concat(
            F.lit("?fbclid=f"), F.col("doc_id").cast("string")))
        .when(mix == 2, F.concat(
            F.lit("?page="), (F.col("doc_id") % 50).cast("string"),
            F.lit("&gclid=g")))
        .otherwise(F.lit("")),
    )
    stripped = U.strip_tracking_params_col(decorated)
    return pages.select(
        "doc_id",
        decorated.alias("url_raw"),
        stripped.alias("url_stripped"),
    ).orderBy("doc_id")


def q_crawl_delay_schedule(spark, sf_dir):
    """Crawl-delay-aware politeness scheduling: per-host batch capacity
    derived from the robots fixture's Crawl-delay lines (first valid
    positive value in a user-agent-* group; 60 s window → cap =
    floor(60/d), or cap 1 and every ceil(d/60)-th batch when d > 60;
    hosts without a delay get the default 7).
    The engine extracts the delay with the robots fold and schedules in
    one window; the oracle re-derives the delay with the window-function
    state machine and restates the schedule as ROW_NUMBER + floor
    division."""
    import linguistjs_spark.operators.url_ops as U
    from linguistjs_spark.operators.robots import robots_crawl_delay_col

    robots = spark.createDataFrame(
        _ROBOTS_FIXTURE, "url string, robots_txt string")
    delays = robots.select(
        U.domain_col(F.col("url")).alias("host"),
        robots_crawl_delay_col(F.col("robots_txt")).alias("crawl_delay"),
    )
    frontier = _messy_urls(spark, sf_dir).select("doc_id", "url")
    out = U.politeness_schedule_with_delays(
        frontier, delays, window_sec=60.0, default_per_batch=7)
    return out.select(
        "doc_id", "host", "cap", "batch", "slot").orderBy("doc_id")


def _pii_planted_text():
    """Shared fixture decoration for q_pii_counts: plant one PII instance
    per residue class so every detector fires on a known subset."""
    rid = F.col("doc_id")
    plant = (
        F.when(rid % 5 == 0, F.concat(
            F.lit(" contact: user"), rid.cast("string"),
            F.lit("@example.com")))
        .when(rid % 5 == 1, F.concat(
            F.lit(" from 10.0."), (rid % 200).cast("string"), F.lit(".7")))
        .when(rid % 5 == 2, F.concat(
            F.lit(" ssn 123-45-"),
            F.lpad((rid % 10000).cast("string"), 4, "0")))
        .when(rid % 5 == 3, F.lit(" card 4111 1111 1111 1111"))
        .otherwise(F.lit(""))
    )
    return F.concat(F.col("text"), plant)


def q_pii_counts(spark, sf_dir):
    """Per-source PII exposure report — the observability side of the
    scrub stage (release pipelines publish redaction-rate tables): match
    counts per detector over the planted fixture, plus how many docs
    carry ANY PII. Counts run each data/scrub.json pattern independently
    over the raw text (the scrub chain is sequential; counts are the
    detector-hit metric, not a replacement trace). Patterns are injected
    into BOTH engines from the same config — single source of truth."""
    from linguistjs_spark.operators.scrub import _java, load_scrub_config

    rules = [r for r in load_scrub_config()["pii_rules"]
             if r["name"] != "email_local_residue"]
    t2 = _pii_planted_text()
    docs = _docs(spark, sf_dir).select("source", t2.alias("t2"))
    per_rule = [
        F.regexp_count(F.col("t2"), F.lit(_java(r["pattern"])))
        .alias(r["name"]) for r in rules
    ]
    scored = docs.select("source", *per_rule)
    aggs = [F.sum(F.col(r["name"])).cast("long").alias(f"n_{r['name']}")
            for r in rules]
    any_pii = None
    for r in rules:
        c = F.col(r["name"]) > 0
        any_pii = c if any_pii is None else (any_pii | c)
    aggs.append(F.sum(any_pii.cast("long")).cast("long").alias("n_docs_pii"))
    return (
        scored.groupBy("source")
        .agg(F.count("*").cast("long").alias("n_docs"), *aggs)
        .orderBy("source")
    )


def q_corpus_card(spark, sf_dir):
    """One-job per-language corpus data card (the summary table a corpus
    release ships): docs, bytes, whitespace tokens, exact-distinct texts
    + duplication rate, Gopher keep rate (integer basis points), and the
    interpolated median length. ONE groupBy: md5 fingerprints replace
    text BEFORE the shuffle, countDistinct runs as Spark's two-phase
    partial-distinct. The exact `percentile` is the oracle-comparable
    mode — at 10^12 rows the same card swaps in approx_percentile +
    HLL distinct (the doc_length_quantiles / dedup_cardinality sketch
    pattern) with identical plan shape."""
    from linguistjs_spark.operators import gopher as G

    docs = _docs(spark, sf_dir)
    keep = G.gopher_quality_drop_reason_col(F.col("text")).isNull()
    scored = docs.select(
        F.coalesce(F.col("lang"), F.lit("unknown")).alias("lang"),
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("fp"),
        F.coalesce(F.octet_length("text").cast("long"), F.lit(0)).alias("b"),
        TS.token_count_col(F.coalesce(F.col("text"), F.lit("")))
        .alias("toks"),
        keep.alias("keep"),
        F.coalesce(F.length("text").cast("long"), F.lit(0)).alias("chars"),
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("b").cast("long").alias("n_bytes"),
            F.sum("toks").cast("long").alias("n_tokens"),
            F.countDistinct("fp").cast("long").alias("n_distinct"),
            F.sum(F.col("keep").cast("long")).cast("long").alias("n_keep"),
            F.expr("CAST(ROUND(percentile(chars, 0.5) * 100) AS BIGINT)")
            .alias("p50_chars_c"),
        )
        .withColumn(
            "dup_bp", F.expr("10000 * (n_docs - n_distinct) div n_docs"))
        .withColumn("keep_bp", F.expr("10000 * n_keep div n_docs"))
        .orderBy("lang")
    )


def q_compression_signal(spark, sf_dir):
    """Compression-ratio quality signal (Dolma/RedPajama "gzip ratio"
    heuristic) per document: DEFLATE length from the one Arrow-batched
    zlib kernel (an 8-byte int is all that crosses back), ratio and band
    flag computed natively. The comparison surface keeps everything
    integer or IEEE-identical: comp_bp = 10000*comp_b DIV raw_b (floor
    division in both engines), the flag's threshold comparisons operate
    on the same division both sides. Oracle = python-twin VALUES for the
    zlib lengths joined back to documents for the native part."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    out = TS.compression_signal(docs)
    return out.select(
        "doc_id", "raw_b", "comp_b",
        F.when(F.col("raw_b") > 0,
               F.expr("comp_b * 10000 DIV raw_b")).alias("comp_bp"),
        "comp_flag",
    ).orderBy("doc_id")


def q_bitext_mining(spark, sf_dir):
    """Margin-based kNN bitext mining (Artetxe & Schwenk 2019) between an
    even-id src side and an odd-id tgt side of the embeddings table, with
    planted "translations" (exact scaled copies of src vec_id < 40 at
    id + 1e6 — cosine-invariant, so each has cos 1.0 to its source). The
    mutual-best margin criterion must recover the planted alignments and
    reject hub pairs whose absolute cosine is high only because their
    neighbourhood is. LSH-bucketed candidates, deterministic sort_array
    folds for the kNN averages; oracle = literal VALUES from the
    ann_twin.margin_knn_expected python twin."""
    src = _emb(spark, sf_dir).select("vec_id", "embedding").filter(
        F.col("vec_id") % 2 == 0)
    tgt = _emb(spark, sf_dir).select("vec_id", "embedding").filter(
        F.col("vec_id") % 2 == 1)
    planted = src.filter(F.col("vec_id") < 40).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.25)).alias("embedding"),
    )
    out = SIM.margin_knn_pairs(
        src, tgt.unionByName(planted), k=4, threshold=1.05, bits=8)
    return out.select(
        "src_id", "tgt_id",
        F.round(F.col("cos"), 4).alias("cos_r"),
        F.round(F.col("margin"), 4).alias("margin_r"),
    ).orderBy("src_id")


def q_dedup_cardinality(spark, sf_dir):
    # HLL++ scale path for dedup stats. The raw sketch value is engine-
    # specific, so the oracle-compared surface is (n_docs, exact distinct,
    # approx-within-3*rsd boolean) — the accuracy CONTRACT is checked, the
    # sketch internals are not.
    return DD.dedup_cardinality(_docs(spark, sf_dir), rsd=0.02).select(
        "n_docs", "n_unique_exact", "approx_ok"
    )


def q_html_extract(spark, sf_dir):
    # HTML -> text extraction (north-star invariant: byte-identical extracted
    # text per url). The fixture parquet stores html as the utf-8 bytes of
    # text, so real boilerplate to strip is synthesized deterministically
    # from documents.text (synth_html_col — tags, script/style blocks,
    # comments, entities). The oracle recomputes with the pure-python twin
    # and compares md5 over the UTF-8 bytes of the extracted text — a
    # byte-identity check per document, not an approximate one.
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    ext = docs.select(
        "doc_id",
        EX.extract_text_col(
            EX.synth_html_col(F.col("doc_id"), F.col("text"))
        ).alias("ext"),
    )
    return ext.select(
        "doc_id",
        F.length("ext").alias("ext_len"),
        F.md5(F.col("ext").cast("binary")).alias("ext_md5"),
    )


def q_boilerplate_stats(spark, sf_dir):
    # jusText-style boilerplate-paragraph classification (Pomikalek 2011
    # defaults; spec in operators/boilerplate.py). Pages are synthesized
    # deterministically from documents.text with link-rich nav/footer
    # boilerplate plus a stopword-rich body, so every label class and both
    # context-pass outcomes occur in the fixture. The oracle recomputes
    # with the pure-python twin (pinned against the Spark chain in
    # tests/test_boilerplate.py) and compares fragment counts plus the md5
    # of the boilerplate-stripped content — byte-identity per document.
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    pages = docs.select(
        "doc_id",
        BP.synth_linked_html_col(F.col("doc_id"), F.col("text")).alias("html"),
    )
    out = BP.with_boilerplate(pages)
    return out.select(
        "doc_id",
        F.col("bp_n_frags").alias("n_frags"),
        F.col("bp_n_good").alias("n_good"),
        F.length("bp_content").alias("content_len"),
        F.md5(F.col("bp_content").cast("binary")).alias("content_md5"),
    )


def q_paragraph_dedup(spark, sf_dir):
    # CCNet-style corpus-wide paragraph dedup: first occurrence of each
    # paragraph (>=8 chars) survives, documents are reassembled in order.
    # The fixture corpus has no repeated paragraphs, so duplicates are
    # planted deterministically (full-text copies of every 7th doc at
    # offset ids) — the copies must come back with only their short
    # paragraphs kept. The oracle restates the whole thing in the string
    # domain (DuckDB partitions by paragraph text where Spark partitions by
    # xxhash64); md5 of the reassembled text makes the compare byte-exact.
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    out = DD.paragraph_dedup(docs.unionByName(copies), min_chars=8)
    return out.select(
        "doc_id",
        "n_paras",
        "n_kept",
        F.md5(F.col("text_dedup").cast("binary")).alias("dedup_md5"),
    )


def q_decontaminate(spark, sf_dir):
    # Eval-set decontamination: flag docs sharing any word 13-gram with the
    # benchmark subset (every 50th doc — which also catches that subset's
    # planted near-duplicates). Oracle restates the shingle domain in
    # strings (hash-domain sets == string-domain sets absent collisions).
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    return DCN.contamination_flags(docs, bench, n=13).select(
        "doc_id", "n_hits", "is_contaminated"
    )


def _messy_urls(spark, sf_dir):
    # deterministic "messy" crawl URLs: mixed-case scheme/host, default
    # ports, fragments — canonicalization must collapse all of it.
    docs = _docs(spark, sf_dir).select("doc_id", "source", "text")
    scheme = F.when(F.col("doc_id") % 2 == 0, "HTTPS://").otherwise("https://")
    host = F.when(
        F.col("doc_id") % 5 == 0, F.concat(F.upper("source"), F.lit(".EXAMPLE"))
    ).otherwise(F.concat(F.col("source"), F.lit(".example")))
    port = F.when(F.col("doc_id") % 4 == 0, ":443").otherwise("")
    path = F.concat(
        F.lit("/p/"), (F.col("doc_id") % 97).cast("string"),
        F.lit("/doc"), F.col("doc_id").cast("string"),
    )
    frag = F.when(F.col("doc_id") % 3 == 0, "#sec2").otherwise("")
    return docs.select(
        "doc_id",
        F.concat(scheme, host, port, path, frag).alias("url"),
        F.timestamp_seconds(F.lit(1_600_000_000) + F.col("doc_id")).alias("warc_ts"),
        "text",
    )


_MESSY_URL_SQL = """
  SELECT doc_id,
         (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END)
         || (CASE WHEN doc_id % 5 = 0 THEN upper(source) || '.EXAMPLE'
                  ELSE source || '.example' END)
         || (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END)
         || '/p/' || CAST(doc_id % 97 AS VARCHAR)
         || '/doc' || CAST(doc_id AS VARCHAR)
         || (CASE WHEN doc_id % 3 = 0 THEN '#sec2' ELSE '' END) AS url,
         to_timestamp(1600000000 + doc_id) AS warc_ts,
         text
  FROM documents
"""


def q_url_canonical(spark, sf_dir):
    # URL canonicalization (strip fragment, lowercase scheme+host, drop
    # scheme-default port, empty path -> '/') + domain extraction.
    # Oracle rebuilds the canonical form structurally in DuckDB.
    import linguistjs_spark.operators.url_ops as U

    return _messy_urls(spark, sf_dir).select(
        "doc_id",
        U.canonical_url_col(F.col("url")).alias("url_canon"),
        U.domain_col(F.col("url")).alias("domain"),
    )


def q_url_dedup(spark, sf_dir):
    # Recrawl dedup: every 6th doc is re-crawled a day later under a
    # differently-messy URL with identical canonical form; the winner must
    # be the later crawl (max warc_ts, ties by url string).
    import linguistjs_spark.operators.url_ops as U

    pages = _messy_urls(spark, sf_dir)
    recrawl = pages.filter(F.col("doc_id") % 6 == 0).select(
        "doc_id",
        F.concat(F.lower("url"), F.lit("#recrawl")).alias("url"),
        (F.col("warc_ts") + F.expr("INTERVAL 1 DAY")).alias("warc_ts"),
        "text",
    )
    out = U.url_dedup(pages.unionByName(recrawl).drop("doc_id"))
    return out.select(
        "url_canon",
        "n_crawls",
        F.unix_timestamp("warc_ts").alias("win_ts"),
        F.col("url").alias("win_url"),
    )


def q_domain_rollup(spark, sf_dir):
    # Per-domain corpus stats over canonicalized URLs (Zipf-skew note in
    # url_ops.domain_rollup). exact_urls=True because the oracle compares
    # an exact distinct count; the default sketch mode is the scale path.
    import linguistjs_spark.operators.url_ops as U

    return U.domain_rollup(_messy_urls(spark, sf_dir), exact_urls=True).select(
        "domain", "n_docs", "total_bytes", "n_urls"
    )


def q_stratified_sample(spark, sf_dir):
    # Deterministic key-hash training-mix sampling: per-lang fractions,
    # stable under retries/repartitioning (unlike df.sample). The oracle is
    # the python xxhash64 twin re-deciding every row (VALUES); pytest
    # additionally pins determinism and the nested-sample property.
    from linguistjs_spark.operators.sampling import stratified_sample

    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    return stratified_sample(
        docs, _SAMPLE_FRACTIONS, strata_col="lang", key_col="doc_id", seed=7
    ).select("doc_id", "lang")


_SAMPLE_FRACTIONS = {"en": 0.5, "de": 0.25, "fr": 0.25, "es": 0.1}


def q_training_mix(spark, sf_dir):
    """End-to-end training-mix materialization as ONE composed plan
    (`training_select.training_mix`: exact-dedup winners -> 13-gram
    decontamination against the doc_id % 50 eval slice -> stratified
    sampling with `stratified_sample`'s fractions and seed) -> per-lang
    (n_docs, bytes) rollup.

    This is the workflow a reference user actually runs end to end
    (reference: full analyse() pipeline, /root/reference/src/index.ts:100+
    — scan->filter->classify->rollup composed in one pass); here each
    stage keeps its at-scale shape (hash shuffle, broadcast probe,
    shuffle-free sampling) and Catalyst pipelines them into one job. The
    oracle restates all four stages as chained CTEs plus the xxhash64
    sampling twin."""
    from linguistjs_spark.operators.training_select import (
        mix_rollup, training_mix)

    docs = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    return mix_rollup(training_mix(docs, bench, _SAMPLE_FRACTIONS, 7))


def q_warc_roundtrip(spark, sf_dir):
    """WARC source plumbing (sources/warc.py), driver-verified: each
    document becomes a one-record ISO-28500 segment (odd doc_ids as
    CC-style gzip members), `pages_from_warc` parses the segments back
    executor-side via mapInPandas, and the output is (url, html byte
    length). The oracle restates the EXPECTED output directly from the
    documents table (url pattern + text byte length) — it never touches
    the WARC mechanism, so a parser/builder bug on either side flips the
    hash."""
    import datetime as _dt

    import pandas as pd

    from linguistjs_spark.sources.warc import (
        build_warc_segment, pages_from_warc,
    )

    t0 = _dt.datetime(2026, 1, 1)
    docs = _docs(spark, sf_dir).select("doc_id", "source", "text")

    def to_segments(batches):
        for pdf in batches:
            segs = [
                build_warc_segment(
                    [(
                        f"https://{r.source}.example/doc/{r.doc_id}",
                        t0,
                        (r.text or "").encode("utf-8"),
                    )],
                    gzip_members=bool(r.doc_id % 2),
                )
                for r in pdf.itertuples()
            ]
            yield pd.DataFrame({"data": segs})

    segments = docs.mapInPandas(to_segments, schema="data binary")
    pages = pages_from_warc(spark, segments)
    return pages.select(
        "url", F.octet_length("html").cast("long").alias("n_bytes")
    )


def q_repetition_scores(spark, sf_dir):
    # Gopher top-2-gram repetition signal, doc-level. Pure double
    # arithmetic (count * len / len) — bit-identical across engines, so no
    # rounding is applied. Ties pinned to the lexicographically smallest
    # bigram on both sides.
    from linguistjs_spark.operators.gopher import top_ngram_char_ratio_col

    return _docs(spark, sf_dir).select(
        "doc_id",
        top_ngram_char_ratio_col(F.col("text"), 2).alias("top_bigram_ratio"),
    )


def q_blocked_domains(spark, sf_dir):
    # UT1-style domain blocklist filter (subdomain-suffix matching is
    # exercised in tests/test_url_ops.py; fixture hosts have two labels so
    # the oracle reduces to NOT IN over the rebuilt domain).
    import linguistjs_spark.operators.url_ops as U

    pages = _messy_urls(spark, sf_dir)
    bl = spark.createDataFrame(
        [("src1.example",), ("src13.example",)], "domain string"
    )
    return U.filter_blocked_domains(pages, bl).select(
        "doc_id", U.domain_col(F.col("url")).alias("domain")
    )


def q_fitted_perplexity(spark, sf_dir):
    # KenLM-workflow perplexity: fit the char-bigram LM on the corpus
    # itself (one mapInPandas pass, sparse-count shuffle, 512 KiB driver
    # table), then score every doc with the fitted table. The oracle twin
    # refits in pure numpy over the same texts — identical integer counts
    # give a bit-identical table, so scores are float-exact.
    from linguistjs_spark.perplexity import (
        fit_char_bigram_table, fitted_perplexity_udf)

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    table = fit_char_bigram_table(docs)
    score = fitted_perplexity_udf(table)
    return docs.select("doc_id", score(F.col("text")).alias("ppl"))


def q_ccnet_buckets(spark, sf_dir):
    """CCNet pipeline composition (Wenzek et al. 2020): fit the LM on the
    corpus, score every doc, split each language into head/middle/tail
    perplexity terciles, roll up docs+bytes per (lang, bucket). Uses the
    operator's exact NTILE mode so the DuckDB oracle (numpy-twin scores as
    literal VALUES + the same window) restates it verbatim; the operator's
    default mode is the threshold/broadcast scale path (no per-language
    sort), pinned against this mode in tests/test_perplexity.py."""
    from linguistjs_spark.perplexity import (
        ccnet_ppl_buckets, fit_char_bigram_table, fitted_perplexity_udf)

    docs = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    table = fit_char_bigram_table(docs)
    score = fitted_perplexity_udf(table)
    scored = docs.select(
        "doc_id", "lang",
        F.octet_length("text").cast("long").alias("b"),
        score(F.col("text")).alias("ppl"),
    )
    return (
        ccnet_ppl_buckets(scored, exact=True)
        .groupBy("lang", "bucket")
        .agg(F.count("*").alias("n_docs"), F.sum("b").cast("long").alias("bytes"))
    )


def q_gopher_quality(spark, sf_dir):
    """The published Gopher document-quality signal set (Rae et al. 2021,
    Table A1) per document: bullet/ellipsis line ratios, alpha-word ratio,
    stopword hits, #/ellipsis symbol ratio, and the first-failing-rule drop
    reason. Pure whole-text regexp_count scans — no array materialization
    except the stopword membership probe; oracle is a literal DuckDB
    restatement over list_filter (same counts, same double divisions)."""
    from linguistjs_spark.operators import gopher as G

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    t = F.col("text")
    return docs.select(
        "doc_id",
        G.bullet_line_ratio_col(t).alias("bullet_ratio"),
        G.ellipsis_line_ratio_col(t).alias("ellipsis_ratio"),
        G.alpha_word_ratio_col(t).alias("alpha_ratio"),
        G.stopword_hits_col(t).cast("long").alias("stop_hits"),
        G.hash_ellipsis_word_ratio_col(t).alias("sym_ratio"),
        G.gopher_quality_drop_reason_col(t).alias("drop_reason"),
    )


def q_domain_quality(spark, sf_dir):
    """Per-domain quality profile — the crawl-prioritization signal
    (which hosts deserve recrawl budget / higher sampling weight): docs,
    Gopher-keep count, keep rate (basis points, INTEGER floor division so
    both engines agree without float-tie hazards), and kept bytes. One
    projection of whole-text codegen scans + ONE map-side-combined
    groupBy on domain (`url_ops.domain_quality_profile`). Text never
    shuffles."""
    import linguistjs_spark.operators.url_ops as U

    return U.domain_quality_profile(_messy_urls(spark, sf_dir)).orderBy(
        "domain")


def q_crawl_delta(spark, sf_dir):
    """Incremental-crawl snapshot diff: two synthesized snapshots of the
    same URL space (ids mod 120; old = residues 0,1; new = residues 1,2
    with every 7th doc's text mutated) classified new / unchanged /
    changed / gone per canonical URL. Text is md5-fingerprinted BEFORE
    any shuffle (the operator's 100-TB contract); the oracle restates
    both within-snapshot winner picks as ROW_NUMBER windows and the diff
    as a FULL OUTER join on the url string."""
    import linguistjs_spark.operators.url_ops as U

    old, new = _delta_snapshots(spark, sf_dir)
    return U.crawl_delta(old, new).orderBy("url_canon")


def _delta_snapshots(spark, sf_dir):
    """The crawl_delta fixture's two snapshots (shared by snapshot_merge):
    url space = ids mod 120, old = residues 0,1, new = residues 1,2 with
    every 7th doc's text mutated; ts = 1.6e9 + doc_id (unique, so the
    within-snapshot winner is always the largest doc_id in the group)."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    url = F.concat(
        F.lit("https://delta.example/u/"),
        (F.col("doc_id") % 120).cast("string"))
    ts = F.timestamp_seconds(F.lit(1_600_000_000) + F.col("doc_id"))
    base = docs.select(
        "doc_id", url.alias("url"), ts.alias("warc_ts"), "text")
    old = base.filter(F.col("doc_id") % 3 != 2)
    new = base.filter(F.col("doc_id") % 3 != 0).withColumn(
        "text",
        F.when(F.col("doc_id") % 7 == 0,
               F.concat("text", F.lit("!"))).otherwise(F.col("text")))
    return old, new


def q_snapshot_merge(spark, sf_dir):
    """MERGE-INTO-shaped snapshot upsert (the write side of crawl_delta):
    the merged table after applying the new crawl to the base — carried
    rows keep the base warc_ts (the no-rewrite property), inserted/updated
    take the new row, gone rows surface as tombstones (keep_gone=True so
    the oracle sees every origin). Text is md5-fingerprinted before any
    shuffle; the oracle restates both winner picks as ROW_NUMBER windows
    and the merge as one FULL OUTER join."""
    import linguistjs_spark.operators.url_ops as U

    old, new = _delta_snapshots(spark, sf_dir)
    return U.snapshot_merge(old, new, keep_gone=True).select(
        "url_canon", "origin",
        F.unix_timestamp("warc_ts").alias("ts"), "fp",
    ).orderBy("url_canon")


def q_gopher_repetition(spark, sf_dir):
    """The Gopher repetition signal suite per document: duplicate
    line/paragraph character fractions, duplicate-paragraph fraction,
    top-3/4-gram char fractions, and overlap-aware duplicate-5/10-gram
    coverage (interval-merge fold — chars under overlapping duplicate
    grams counted once). Sorted-array run folds inside codegen; the oracle
    is the bit-exact python twin as literal VALUES."""
    from linguistjs_spark.operators import gopher as G

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return docs.select(
        "doc_id", G.gopher_repetition_struct(F.col("text")).alias("r")
    ).select("doc_id", "r.*")


def q_bloom_dedup(spark, sf_dir):
    """Dolma-style Bloom-filter cross-corpus dedup: the reference corpus
    (every 80th doc, verbatim) collapses into a <=m/64-row (word, mask)
    filter table; the probe corpus (every 40th doc — half with an exact
    reference twin) broadcast-joins it over k exploded positions. No
    false negatives by construction (asserted in tests/test_bloom.py);
    false positives bounded by (1-e^{-kn/m})^k. The oracle is the
    bit-exact hash_twin.oracle_bloom_maybe_dup as VALUES."""
    import linguistjs_spark.operators.dedup as DD

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 40 == 0)
    reference = docs.filter(F.col("doc_id") % 80 == 0)
    filt = DD.bloom_filter_table(reference)
    return DD.bloom_probe(corpus, filt)


def q_quality_funnel(spark, sf_dir):
    """The quality-filter tier's flagship composition as ONE job: every
    document is attributed to its FIRST failing stage — the Gopher quality
    rule chain (7 named reasons), then the Gopher repetition thresholds,
    then exact-dup (md5 byte identity, min-doc_id winner) — and the funnel
    rolls up docs + bytes per stage. Plan shape: one scan, one window
    shuffle (md5 partition for the dup winner), one map-side-combined
    rollup; every signal is codegen-native Column algebra. Stage order is
    the 100-TB order: cheap whole-text scans first, the dedup shuffle only
    decides docs the scans kept."""
    from linguistjs_spark.operators import gopher as G

    docs = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    # multilingual gating + corpus-scale word floor (published thresholds
    # are English-corpus values; the synthetic docs average ~54 words)
    return G.quality_funnel(docs, min_words=20)


def q_line_dedup(spark, sf_dir):
    """CCNet/RefinedWeb within-document line dedup (keep first occurrence,
    blank lines verbatim), compared byte-exactly via md5 of the rewritten
    text. Native per-row fold — no UDF, no shuffle before the rollup-free
    projection; the oracle restates it as a ROW_NUMBER window over
    laterally-unnested lines re-agged with string_agg ORDER BY idx."""
    from linguistjs_spark.operators.quality import dedup_lines_col

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    clean = dedup_lines_col(F.col("text"))
    return docs.select(
        "doc_id",
        F.md5(clean).alias("clean_md5"),
        F.length(clean).cast("long").alias("clean_chars"),
    )


def q_c4_clean(spark, sf_dir):
    # C4 line-level cleaning (keep lines with >=3 words ending in terminal
    # punctuation), compared byte-exactly via md5 of the rewritten text.
    # Fixture docs are single punctuation-free lines, so a realistic page
    # is synthesized: nav fragments + the prose line with a period + a
    # copyright footer + the raw line — only the punctuated multi-word
    # lines must survive.
    from linguistjs_spark.operators.quality import c4_line_filter_col

    page = F.concat_ws(
        "\n",
        F.lit("Home"), F.lit("About Us"),
        F.concat(F.col("text"), F.lit(".")),
        F.lit("Read more"),
        F.lit("Copyright 2026 Example Inc."),
        F.col("text"),
    )
    cleaned = c4_line_filter_col(page)
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.md5(cleaned.cast("binary")).alias("clean_md5"),
        F.length(cleaned).alias("clean_len"),
    )


def q_near_dup_clusters(spark, sf_dir):
    # Pairs -> connected components -> cluster_id = min doc id reachable
    # (the keep-one-per-cluster rule). Oracle recomputes the components
    # with a recursive CTE over the string-domain pair list.
    docs = _docs(spark, sf_dir)
    pairs = DD.minhash_dedup_pairs(docs, threshold=0.5)
    return DD.near_dup_clusters(pairs).orderBy("doc_id")


def q_dedup_keep_policy(spark, sf_dir):
    """Keep-selection over near-dup clusters: the quality-aware policy
    that decides WHICH member of each near-dup family survives (largest
    content-bytes, ties to smallest doc_id) — near_dup_clusters answers
    "what is a family", this answers "who survives it". One join to
    attach the signal + ONE partial-aggregating groupBy (max_by/count) —
    no window, so the boilerplate mega-cluster collapses map-side. NULL
    text ranks below every real document (bytes coalesced to -1 in both
    engines — struct-with-NULL ordering is engine-specific, so it never
    reaches the comparator)."""
    docs = _docs(spark, sf_dir)
    pairs = DD.minhash_dedup_pairs(docs, threshold=0.5)
    clusters = DD.near_dup_clusters(pairs)
    scored = docs.withColumn(
        "qual",
        F.coalesce(F.octet_length("text").cast("double"), F.lit(-1.0)))
    return (
        DD.cluster_representatives(clusters, scored, quality_col="qual")
        .select(
            F.col("cluster_id").cast("long").alias("cluster_id"),
            F.col("rep_id").cast("long").alias("rep_id"),
            F.col("n_members").cast("long").alias("n_members"),
            F.col("rep_quality").cast("double").alias("rep_quality"),
        )
        .orderBy("cluster_id")
    )


def q_media_features(spark, sf_dir):
    return extract_media_features(synthetic_media_df(spark, 64), fake=True).select(
        "doc_id", "media_type", "n_bytes", "feat_width", "feat_height", "frame_count"
    )


def q_image_near_dup(spark, sf_dir):
    # Multimodal near-dup: 64-bit average-hash per image (mapInPandas,
    # fake decode = byte-cycled thumbnail, same thresholding math as the
    # real PIL path) -> 16-bit-slice pigeonhole hamming join. Six planted
    # one-pixel-perturbed pairs are the known ground truth; the oracle is
    # the independent exhaustive twin (ann_twin.image_near_dup_expected).
    from linguistjs_spark.operators.multimodal import image_near_dup

    media = synthetic_media_df(spark, 64, plant_near_dups=6)
    return (
        image_near_dup(media, max_hamming=3, fake=True)
        .select("a", "b", F.col("hamming").cast("long").alias("hamming"))
        .orderBy("a", "b")
    )


def _pagerank_pages(spark, sf_dir):
    """Deterministic anchored-html fixture: three modular-arithmetic
    partner links per document; anchor TEXT is the partner's source name
    (the realistic case — sites are linked under their names)."""
    docs = _docs(spark, sf_dir).select("doc_id", "source")
    n_df = F.broadcast(docs.agg(F.count("*").alias("_n")))
    pages = docs.crossJoin(n_df)
    anchors = []
    for i, (q, m, c) in enumerate(_PAGERANK_LINKS):
        b = docs.select(
            F.col("doc_id").alias(f"_bid{i}"),
            F.col("source").alias(f"_bsrc{i}"),
        )
        pages = pages.join(
            b,
            (
                (F.col("doc_id") * F.col("doc_id") * q
                 + F.col("doc_id") * m + c) % F.col("_n")
            ) == F.col(f"_bid{i}"),
        )
        anchors.append(
            F.concat(
                F.lit('<a href="https://'), F.col(f"_bsrc{i}"),
                F.lit(".example/p/"), F.col(f"_bid{i}").cast("string"),
                F.lit('">'), F.col(f"_bsrc{i}"), F.lit("</a>"),
            )
        )
    return pages.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.encode(
            F.concat(F.lit("<html><body>"), *anchors, F.lit("</body></html>")),
            "UTF-8",
        ).alias("html"),
    )


def q_domain_pagerank(spark, sf_dir):
    # Link-graph quality prior (operators/link_graph.py): deterministic
    # anchored html is synthesized per document (three modular-arithmetic
    # partner links), then the REAL operator chain runs — href regex
    # extraction -> weighted domain edges -> 3 PageRank iterations in
    # DataFrame algebra. The oracle restates the edge arithmetic and the
    # unrolled iterations as DuckDB CTEs.
    from linguistjs_spark.operators import link_graph as LG

    pages = _pagerank_pages(spark, sf_dir)
    edges = LG.domain_edges(LG.extract_outlinks(pages))
    return LG.domain_pagerank(edges, iters=3, damping=0.85).orderBy("domain")


def q_anchor_stats(spark, sf_dir):
    # Inbound anchor-text profile per target domain over the same fixture:
    # the REAL two-capture regex extraction runs against the html; the
    # oracle restates the link arithmetic (anchor text = partner source
    # name, so total chars is a length sum).
    from linguistjs_spark.operators import link_graph as LG

    pages = _pagerank_pages(spark, sf_dir)
    return LG.anchor_text_stats(LG.extract_anchors(pages)).orderBy("domain")


def q_noindex_filter(spark, sf_dir):
    # Crawl-compliance filter: robots-meta noindex pages dropped before
    # any content rule. The fixture plants BOTH attribute orders (doc_id
    # residues 0 and 3 mod 7); the oracle runs the SAME regexes in DuckDB
    # over the same synthesized html, so the patterns themselves are
    # cross-engine pinned, not just the residue arithmetic.
    from linguistjs_spark.operators.extract import noindex_col

    docs = _docs(spark, sf_dir).select("doc_id", "source", "text")
    html = (
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit('<meta name="robots" content="noindex,nofollow"><p>'),
                F.col("text"),
            ),
        )
        .when(
            F.col("doc_id") % 7 == 3,
            F.concat(
                F.lit('<meta content="NOINDEX" name="robots"><p>'),
                F.col("text"),
            ),
        )
        .otherwise(F.concat(F.lit("<p>"), F.col("text")))
    )
    pages = docs.select(
        "doc_id", "source", F.encode(html, "UTF-8").alias("html")
    )
    flag = noindex_col(F.col("html"))
    return (
        pages.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_pages"),
            F.sum(flag.cast("long")).alias("n_noindex"),
            F.sum((~flag).cast("long")).alias("n_kept"),
        )
        .orderBy("source")
    )


# robots.txt fixture: one body per domain, exercising every parser branch —
# non-star groups (ignored), multi-UA runs sharing a group, blank/comment
# lines inside a run, empty Disallow (allow-all), trailing comments, CRLF,
# spacing/case variants, directives as group terminators, orphan rules
# before any UA line, and a rule-less star group. Texts are literal in BOTH
# engines; the PARSE is what the hash check cross-pins (Spark native fold
# vs the DuckDB window state machine — operators/robots.py docstring).
_ROBOTS_FIXTURE = [
    ("https://src1.example/robots.txt",
     "User-agent: googlebot\nDisallow: /private\n\nUser-agent: *\n"
     "Disallow: /p/1\nAllow: /ok\nDisallow: /p/2\nUser-agent: bing\n"
     "Disallow: /p/30"),
    ("https://src2.example/robots.txt",
     "User-agent: a\r\nUser-agent: *\r\nDisallow: /p/4\r\n# note\r\n"
     "Disallow:\r\nDisallow: /p/5 # staging\r\nCrawl-delay: 5\r\n"
     "Disallow: /p/60"),
    ("https://src3.example/robots.txt",
     "user-AGENT : *\nDISALLOW: /p/7\ndisallow\t: /p/80"),
    ("https://src4.example/robots.txt",
     "User-agent: bing\nDisallow: /p/9"),
    ("https://src5.example/robots.txt",
     "Disallow: /orphan\nSitemap: https://src5.example/s.xml\n"
     "User-agent: *\n\nUser-agent: b\nDisallow: /p/11\nUser-agent: c\n"
     "Disallow: /p/12"),
    ("https://src6.example/robots.txt", "User-agent: *"),
    # RFC 9309 §2.2.3 wildcard rules: mid-rule '*', a '$'-anchored rule
    # that can never match (paths always continue past /p/5), and a
    # pure-suffix '*…$' rule — all three translation branches live
    ("https://src7.example/robots.txt",
     "User-agent: *\nDisallow: /p/*3/doc\nDisallow: /p/5$\nDisallow: *7$"),
    # Allow/Disallow precedence interplay (only robots_allow_precedence
    # reads the Allow lines; the conservative queries see just the
    # Disallow subset): /p/11 re-admitted inside blocked /p/1*, and a
    # wildcard Allow more specific than its wildcard Disallow
    ("https://src8.example/robots.txt",
     "User-agent: *\nDisallow: /p/1\nAllow: /p/11\nDisallow: /p/111\n"
     "Allow: /p/*7/doc\nDisallow: /p/*7"),
    # Crawl-delay coverage (crawl_delay_schedule): non-star group's delay
    # ignored, invalid/zero values skipped, FIRST valid star value wins
    ("https://src9.example/robots.txt",
     "User-agent: bing\nCrawl-delay: 1\nUser-agent: *\n"
     "Crawl-delay: abc\nCrawl-delay: 0\nCrawl-delay: 2.5\n"
     "Crawl-delay: 30"),
    ("https://src10.example/robots.txt",
     "User-agent: *\nDisallow: /p/19\nCrawl-delay: 30"),
]


def q_robots_rules(spark, sf_dir):
    """robots.txt Disallow parsing for the generic crawler: the fixture
    bodies run through the native F.aggregate fold (operators/robots.py);
    the oracle re-derives the SAME rules with a window-function state
    machine (run_id = directives-before count; a UA run's star =
    bool_or(arg='*'); each Disallow governed by the latest preceding UA
    run) — two independent formulations of RFC 9309 grouping, hash-pinned
    against each other. pos pins rule ORDER, not just the set."""
    from linguistjs_spark.operators.robots import robots_rules_table

    robots = spark.createDataFrame(
        _ROBOTS_FIXTURE, "url string, robots_txt string")
    rules = robots_rules_table(robots)
    return (
        rules.select(
            "domain", F.posexplode("rules").alias("pos", "rule"))
        .select("domain", F.col("pos").cast("long").alias("pos"), "rule")
        .orderBy("domain", "pos")
    )


def q_robots_disallow(spark, sf_dir):
    """Crawl-compliance gate: pages whose path a star-group Disallow rule
    prefix-matches are dropped before any content rule (the companion of
    noindex_filter at the domain level). Pages ride the messy-URL fixture
    (mixed-case hosts, :443 ports, fragments), so the domain join and the
    path extraction are exercised, not just the parse. Scale shape: rules
    broadcast on domain, one F.exists prefix probe per page, text never
    shuffles."""
    from linguistjs_spark.operators.robots import with_robots_blocked
    import linguistjs_spark.operators.url_ops as U

    pages = _messy_urls(spark, sf_dir)
    robots = spark.createDataFrame(
        _ROBOTS_FIXTURE, "url string, robots_txt string")
    flagged = with_robots_blocked(pages, robots)
    return (
        flagged.groupBy(U.domain_col(F.col("url")).alias("domain"))
        .agg(
            F.count("*").cast("long").alias("n_pages"),
            F.sum(F.col("robots_blocked").cast("long")).alias("n_blocked"),
            F.sum((~F.col("robots_blocked")).cast("long")).alias("n_kept"),
        )
        .orderBy("domain")
    )


# (ext, content, lang under reference OR-flatten semantics, lang under
# honest AND/negative semantics). The two flip rows exercise the ONLY rules
# in the snapshot carrying `and`/`negative_pattern` clauses
# (data/heuristics.json: .md Markdown, .ms Unix Assembly — from upstream
# linguist heuristics.yml): the reference flattens a rule's AND groups into
# one OR list and never reads negative_pattern (src/index.ts:338-348
# consumes pattern/and only; schema.ts:26 declares negative_pattern but no
# code path reads it), so content matching a positive pattern AND the
# negative flips between modes. The controls pin that negative-free content
# agrees in both modes.
_DELTA_CASES = [
    # honest: '<!--' negative blocks Markdown, then '^;;' matches GCC MD.
    # flattened: '\n#' matches Markdown's positive pattern; negative unread.
    (".md", "<!-- x -->\n;; predicate\n# title\n",
     "Markdown", "GCC Machine Description"),
    # honest: '/*' negative blocks Unix Assembly -> pattern-free MAXScript
    # fallback rule. flattened: '.include ' matches; negative unread.
    # (heuristic matches assign the rule's RAW language, not its group —
    # the reference quirk classify.needs_heuristics documents)
    (".ms", '/* c */\n.include "x.s"\n', "Unix Assembly", "MAXScript"),
    # controls (no negative involved -> modes must agree)
    (".md", "# title\n\nbody text\n", "Markdown", "Markdown"),
    (".ms", ".TH FOO 1\n", "Roff", "Roff"),
]


def q_sitemap_urls(spark, sf_dir):
    """Crawl-frontier step after robots: <loc> URLs out of synthesized
    sitemap XML (mixed-case tags, surrounding whitespace, &amp; entity,
    an empty <loc> that must drop) — one regexp_extract_all scan +
    literal entity decode, order pinned via pos. Oracle runs the SAME
    regex + replace chain in DuckDB."""
    from linguistjs_spark.operators.robots import sitemap_locs_col

    docs = _docs(spark, sf_dir).select("doc_id", "source")
    xml = F.concat(
        F.lit('<?xml version="1.0"?><urlset><url><loc> https://'),
        F.col("source"),
        F.lit(".example/p?x=1&amp;y="),
        (F.col("doc_id") % 9).cast("string"),
        F.lit(" </loc></url>"),
        F.when(F.col("doc_id") % 4 == 0, F.lit("<url><loc>  </loc></url>"))
        .otherwise(F.lit("")),
        F.lit("<url><LOC>https://"),
        F.col("source"),
        F.lit(".example/doc"),
        F.col("doc_id").cast("string"),
        F.lit("</LOC></url></urlset>"),
    )
    locs = docs.select(
        "doc_id", sitemap_locs_col(xml).alias("locs"))
    return (
        locs.select("doc_id", F.posexplode("locs").alias("pos", "loc"))
        .select("doc_id", F.col("pos").cast("long").alias("pos"), "loc")
        .orderBy("doc_id", "pos")
    )


def q_robots_allow_precedence(spark, sf_dir):
    """Full RFC 9309 §2.2.2 matching over the same pages/fixture as
    robots_disallow: longest matching rule wins, Allow wins ties —
    per-domain blocked/kept counts under BOTH modes side by side, so the
    conservative-vs-RFC delta is a measured artifact (the src8 Allow
    rules re-admit pages the conservative mode drops; every other domain
    must agree between the columns)."""
    from linguistjs_spark.operators.robots import with_robots_blocked
    import linguistjs_spark.operators.url_ops as U

    pages = _messy_urls(spark, sf_dir)
    robots = spark.createDataFrame(
        _ROBOTS_FIXTURE, "url string, robots_txt string")
    cons = with_robots_blocked(pages, robots, flag_col="b_cons")
    both = with_robots_blocked(
        cons, robots, flag_col="b_rfc", allow_precedence=True)
    return (
        both.groupBy(U.domain_col(F.col("url")).alias("domain"))
        .agg(
            F.count("*").cast("long").alias("n_pages"),
            F.sum(F.col("b_cons").cast("long")).alias("n_blocked_cons"),
            F.sum(F.col("b_rfc").cast("long")).alias("n_blocked_rfc"),
            F.sum((F.col("b_cons") & ~F.col("b_rfc")).cast("long"))
            .alias("n_readmitted"),
        )
        .orderBy("domain")
    )


def q_heuristics_delta(spark, sf_dir):
    """Honest-vs-reference heuristic semantics delta, materialized as data
    (VERDICT r04 item 7): the same fixture classified twice — reference
    OR-flatten mode (the parity default, SURVEY.md §2.2 C8) and
    honest_heuristics=True (upstream AND/negative semantics) — joined per
    url; the rows where the label flips ARE the documented C8 delta.
    Fixture-sized inner join (both sides are projections of the same
    documents scan)."""
    n = len(_DELTA_CASES)
    exts = F.array(*[F.lit(e) for e, _, _, _ in _DELTA_CASES])
    texts = F.array(*[F.lit(c) for _, c, _, _ in _DELTA_CASES])
    idx = (F.col("doc_id") % n + 1).cast("int")
    pages = _docs(spark, sf_dir).select(
        F.concat(
            F.lit("https://delta.example/case"),
            F.col("doc_id").cast("string"),
            F.element_at(exts, idx),
        ).alias("url"),
        F.to_timestamp(F.lit("2024-01-01")).alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.element_at(texts, idx).alias("text"),
    )
    honest_cfg = QualityFilterConfig(
        quality_rules=False, langid_fallback=False, scrub_pii=False,
        toxicity_filter=False, honest_heuristics=True,
    )
    ref = run_pipeline(spark, pages, _CASCADE_CFG).select(
        "url", F.col("lang").alias("lang_ref")
    )
    honest = run_pipeline(spark, pages, honest_cfg).select(
        "url", F.col("lang").alias("lang_honest")
    )
    case_idx = (
        F.regexp_extract("url", r"case(\d+)\.", 1).cast("long") % n
    ).cast("int")
    return (
        ref.join(honest, "url")
        .groupBy(
            case_idx.alias("case_idx"), "lang_ref", "lang_honest",
        )
        .agg(F.count("*").alias("n_docs"))
        .withColumn("flipped", F.col("lang_ref") != F.col("lang_honest"))
        .orderBy("case_idx")
    )


def _heuristics_delta_oracle_sql() -> str:
    n = len(_DELTA_CASES)

    def _q(s: str) -> str:
        return s.replace("'", "''")

    ref_whens = " ".join(
        f"WHEN {i} THEN '{_q(ref)}'"
        for i, (_, _, ref, _) in enumerate(_DELTA_CASES)
    )
    hon_whens = " ".join(
        f"WHEN {i} THEN '{_q(hon)}'"
        for i, (_, _, _, hon) in enumerate(_DELTA_CASES)
    )
    flip_whens = " ".join(
        f"WHEN {i} THEN {'TRUE' if ref != hon else 'FALSE'}"
        for i, (_, _, ref, hon) in enumerate(_DELTA_CASES)
    )
    return (
        f"SELECT CAST(doc_id % {n} AS INT) AS case_idx, "
        f"CASE doc_id % {n} {ref_whens} END AS lang_ref, "
        f"CASE doc_id % {n} {hon_whens} END AS lang_honest, "
        f"COUNT(*) AS n_docs, "
        f"CASE doc_id % {n} {flip_whens} END AS flipped "
        f"FROM documents GROUP BY 1, 2, 3, 5 ORDER BY 1"
    )


def q_warc_chunked_roundtrip(spark, sf_dir):
    """Chunked (ranged-read) WARC ingestion, driver-verified (VERDICT r04
    item 4): a deterministic multi-record gzip-per-member segment file is
    built from a bounded slice of the documents table (doc_id % 20 == 0 —
    a bounded, documented driver collect; at 100 TB the segments already
    sit on disk and only the read path below runs), then read back through
    warc_chunks + pages_from_warc_chunks with chunk_bytes=4096 so the
    ranged member-sync path genuinely engages (many chunks per file, most
    starting mid-member). The oracle restates the expected (url, byte
    length) straight from the documents table and never touches the WARC
    mechanism, so a chunker/sync/parser bug flips the hash."""
    import datetime as _dt
    import os as _os
    import tempfile

    from linguistjs_spark.sources.warc import (
        build_warc_segment, pages_from_warc_chunks, warc_chunks,
    )

    t0 = _dt.datetime(2026, 1, 1)
    rows = (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") % 20 == 0)
        .select("doc_id", "source", "text")
        .orderBy("doc_id")
        .collect()
    )
    seg = build_warc_segment(
        [
            (
                f"https://{r['source']}.example/chunked/{r['doc_id']}",
                t0,
                (r["text"] or "").encode("utf-8"),
            )
            for r in rows
        ],
        gzip_members=True,
    )
    d = tempfile.mkdtemp(prefix="warc_chunked_q_")
    path = _os.path.join(d, "seg0.warc.gz")
    with open(path, "wb") as fh:
        fh.write(seg)
    pages = pages_from_warc_chunks(warc_chunks(spark, [path], chunk_bytes=4096))
    return pages.select(
        "url", F.octet_length("html").cast("long").alias("n_bytes")
    )


# (quadratic, linear, constant) partner coefficients: partner doc =
# (q*d^2 + m*d + c) % n. The two quadratic maps land only on the
# quadratic-residue classes, so in-link mass is genuinely skewed (some
# domains get 2x the uniform share, others zero) — a uniform-rank bug
# cannot pass; the linear map keeps every domain reachable as a source.
_PAGERANK_LINKS = [(1, 0, 7), (3, 0, 11), (0, 17, 3)]


def q_duplicated_spans(spark, sf_dir):
    # Span-level exact-substring dedup stats (Lee et al. 2022, fixed-length
    # distributed variant): planted full copies (doc_id+1M) guarantee known
    # duplicated spans; the oracle restates the whole computation in the
    # string domain (hash-domain == string-domain counts absent 64-bit
    # collisions, same stance as jaccard_pairs).
    docs = _docs(spark, sf_dir)
    planted = docs.filter(F.col("doc_id") < 15).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    corpus = docs.select("doc_id", "text").unionByName(planted)
    return DD.duplicated_span_stats(corpus, n=20).orderBy("doc_id")


def q_dsir_scores(spark, sf_dir):
    # DSIR importance scores (Xie et al. 2023): hashed unigram+bigram
    # models fit on a target slice (src0/src1) vs the whole corpus, then a
    # deterministic ordered-fold log-ratio score per doc. The oracle twin
    # refits in python from the same parquet (identical integer counts ->
    # identical IEEE weights) and rescores in the same fold order, so the
    # double-typed score column compares hash-exact.
    from linguistjs_spark.operators import training_select as TSEL

    docs = _docs(spark, sf_dir)
    target = docs.filter(F.col("source").isin("src0", "src1"))
    weights = TSEL.fit_dsir_weights(target, docs, buckets=1024)
    return TSEL.dsir_scores(docs, weights).orderBy("doc_id")


def q_semantic_dedup(spark, sf_dir):
    # SemDeDup (Abbas et al. 2023): kmeans-bucketed intra-cluster cosine
    # dedup. Random embeddings have no true semantic dups, so plant
    # scaled copies (cosine-preserving, power-of-two factor => exact in
    # both engines) of vec_id < 8; the query must drop exactly those.
    emb = _emb(spark, sf_dir)
    planted = emb.filter(F.col("vec_id") < 8).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.25)).alias("embedding"),
    )
    union = emb.select("vec_id", "embedding").unionByName(planted)
    cents = SIM.ivf_centroids(union, n_centroids=8)
    return (
        SIM.semantic_dedup(union, cents, threshold=0.95)
        .select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.col("centroid").cast("long").alias("centroid"),
            "keep",
            F.col("dup_of").cast("long").alias("dup_of"),
        )
        .orderBy("vec_id")
    )


def q_winnow_fingerprints(spark, sf_dir):
    # Winnowing document fingerprints (Schleimer et al. 2003 / MOSS) in the
    # portable poly-hash mode: both engines compute the identical 31-base
    # polynomial mod 1e9+7 per shingle, so min/max/sum of the fingerprint
    # set compare hash-EXACT (not merely collision-free). Production mode
    # (hash_mode="xxhash64") is pinned against this one in
    # tests/test_fingerprint.py.
    from linguistjs_spark.operators import fingerprint as FP

    docs = _docs(spark, sf_dir)
    return FP.winnow_stats(docs, k=5, w=4, hash_mode="poly").orderBy("doc_id")


def q_winnow_pairs(spark, sf_dir):
    # Inverted-index candidate pairs over winnowed fingerprints: planted
    # full copies (doc_id+1M, same device as duplicated_spans) guarantee
    # known local-overlap pairs; the max_df cap drops boilerplate
    # fingerprints exactly as the oracle restates.
    from linguistjs_spark.operators import fingerprint as FP

    docs = _docs(spark, sf_dir)
    planted = docs.filter(F.col("doc_id") < 15).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    corpus = docs.select("doc_id", "text").unionByName(planted)
    return FP.winnow_candidate_pairs(
        corpus, k=5, w=4, min_shared=2, max_df=64, hash_mode="poly"
    ).orderBy("doc_a", "doc_b")


def q_temperature_mix(spark, sf_dir):
    # Temperature-sampled corpus mix (mC4/XLM-R alpha-smoothing, alpha=0.5):
    # per-lang natural counts, the alpha-smoothed keep rate in ppm, and the
    # deterministically kept count. The oracle recomputes n_docs and
    # rate_ppm LIVE (sqrt + sorted-order list_reduce fold mirrors
    # temperature_rates_ppm's fixed summation order); n_kept — a pure
    # function of xxhash64, which DuckDB lacks — is pinned from the
    # hash_twin (same stance as stratified_sample's pinned oracle).
    from linguistjs_spark.operators import sampling as SAMP

    docs = _docs(spark, sf_dir)
    counts = {
        r[0]: r[1]
        for r in docs.groupBy("lang").count().collect()
        if r[0] is not None
    }
    ppm = SAMP.temperature_rates_ppm(counts, alpha=0.5, budget_frac=0.5)
    kept = SAMP._threshold_sample(docs, ppm, "lang", "doc_id", seed=7)
    kept_counts = kept.groupBy("lang").agg(F.count("*").alias("n_kept"))
    rates = spark.createDataFrame(
        [(k, counts[k], ppm[k]) for k in sorted(ppm)],
        "lang string, n_docs long, rate_ppm long",
    )
    return (
        rates.join(kept_counts, "lang", "left")
        .select(
            "lang", "n_docs", "rate_ppm",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        )
        .orderBy("lang")
    )


def _demo_quality_model_path() -> str:
    """Build (once per process) the deterministic demo classifier .bin —
    written through the real fastText format writer so the registry query
    exercises the binary round-trip, not just the logit math."""
    import tempfile

    from linguistjs_spark.operators.model_filter import (
        build_demo_quality_model)

    path = _os.path.join(tempfile.gettempdir(),
                         "linguistjs_spark_demo_quality.bin")
    if not _os.path.exists(path):
        build_demo_quality_model(path)
    return path


def q_model_quality(spark, sf_dir):
    """Model-based quality filter (DCLM/CCNet tier): score every doc with
    a supervised fastText classifier recast as a broadcast word-logit join
    + one groupBy (operators/model_filter.py — the linearity collapse),
    keep at P(hq) >= 0.6 via the exact logit margin. Word logits are
    quantized to 2^-20 dyadics, so the distributed sums are bit-identical
    to the DuckDB restatement regardless of aggregation order."""
    from linguistjs_spark.fasttext_bin import load_model
    from linguistjs_spark.operators.model_filter import (
        logit_dim_df, model_quality_filter)

    model = load_model(_demo_quality_model_path())
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return model_quality_filter(
        docs, logit_dim_df(spark, model), min_prob=0.6
    ).select("doc_id", "n_toks", "margin", "keep")


def q_crawl_politeness(spark, sf_dir):
    """Crawl-frontier politeness scheduling (url_ops.politeness_schedule):
    deal each host's URLs into fetch batches of <= 7, ranked by priority
    desc then URL asc — ONE window shuffle partitioned by host. The messy
    crawl-URL fixture exercises the host extraction (mixed-case hosts,
    :443 ports collapse to one lowercased domain)."""
    from linguistjs_spark.operators.url_ops import politeness_schedule

    frontier = _messy_urls(spark, sf_dir).select(
        "doc_id", "url", (F.col("doc_id") % 5).cast("int").alias("prio")
    )
    return politeness_schedule(
        frontier, per_host_per_batch=7, priority_col="prio"
    ).select("doc_id", "host", "batch", "slot")


def q_bpe_merges(spark, sf_dir):
    """Distributed BPE vocabulary learning (operators/bpe.py): the first
    12 merges learned from the corpus word-count table — one corpus-sized
    shuffle, then every iteration runs over the distinct-word table only
    (tiny pair-count shuffle + one bounded argmax collect + a zero-shuffle
    merge fold). Integer counts with a UTF-8-binary tie-break make the
    merge sequence fully deterministic."""
    from linguistjs_spark.operators.bpe import learn_bpe, word_count_table

    docs = _docs(spark, sf_dir).select("text")
    merges, _ = learn_bpe(word_count_table(docs), num_merges=12)
    return spark.createDataFrame(
        [(int(r), a, b, int(n)) for r, a, b, n in merges],
        "rank long, left string, right string, pair_count long",
    )


def q_bpe_token_counts(spark, sf_dir):
    """Corpus token frequencies under the learned BPE segmentation —
    the encode path runs over the DISTINCT-word table (each unique word
    segmented once, weighted by its count); top 40 tokens."""
    from linguistjs_spark.operators.bpe import (
        bpe_token_counts, learn_bpe, word_count_table)

    docs = _docs(spark, sf_dir).select("text")
    merges, _ = learn_bpe(word_count_table(docs), num_merges=12)
    return (
        bpe_token_counts(docs, merges)
        .orderBy(F.desc("n"), "token")
        .limit(40)
    )


def q_model_quality_buckets(spark, sf_dir):
    """Composition: DCLM-style quality tiers — per-language head/middle/
    tail terciles of the classifier margin (head = highest quality),
    reusing the CCNet bucketing machinery on quality = -margin. Unscored
    docs (no in-vocab token) are excluded from tiering and counted in a
    fourth 'unscored' bucket so nothing silently drops. min/max margins
    per tier are order-free exact (no float sums cross rows)."""
    from linguistjs_spark.fasttext_bin import load_model
    from linguistjs_spark.operators.model_filter import (
        logit_dim_df, model_quality_filter)
    from linguistjs_spark.perplexity import ccnet_ppl_buckets

    model = load_model(_demo_quality_model_path())
    docs = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    scored = model_quality_filter(
        docs, logit_dim_df(spark, model), min_prob=0.5
    ).join(docs.select("doc_id", "lang"), "doc_id")
    tiered = ccnet_ppl_buckets(
        scored.where(F.col("n_toks") > 0)
        .withColumn("q", -F.col("margin")),
        ppl_col="q", exact=True,
    )
    unscored = (
        scored.where(F.col("n_toks") == 0)
        .withColumn("bucket", F.lit("unscored"))
    )
    return (
        tiered.select("lang", "bucket", "margin")
        .unionByName(unscored.select("lang", "bucket", "margin"))
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("margin").alias("min_margin"),
            F.max("margin").alias("max_margin"),
        )
    )


# Fixed retrieval query for the BM25 leg: six in-vocab terms from the
# documents fixture vocabulary plus one guaranteed-absent term (pins the
# df=0 branch: it must contribute nothing, not NaN/NULL-poison the score).
_BM25_TERMS = [
    "spark", "window", "merge", "vector", "customer", "stream", "zzzunseen",
]


def q_bm25_topk(spark, sf_dir):
    """Lexical retrieval: Okapi BM25 top-k over the documents table
    (operators/retrieval.py). Scale shape: one let-bound token projection
    (no explode, text never shuffles), ONE 1-row corpus aggregate
    broadcast back, codegen score fold, TakeOrderedAndProject for the
    top-k. The quantized-ln determinism contract makes the DuckDB
    restatement hash-match bit-for-bit."""
    from linguistjs_spark.operators.retrieval import bm25_topk

    return bm25_topk(_docs(spark, sf_dir), _BM25_TERMS, k=25)


def q_keywords_topk(spark, sf_dir):
    """Per-document top-3 tf-idf keywords (retrieval.keyword_topk) —
    the UNBOUNDED-vocab inverted-index shape: postings groupBy, term-
    dictionary groupBy, a real keyed join on term (vocab-sized dim, NOT
    broadcastable at corpus scale), integer df-ratio stopword gate,
    quantized-ln tfidf, per-doc window top-k with term tiebreak. The
    fixture's salad vocabulary makes most terms exceed the 50% df gate,
    so surviving rows pin the RARE-term path specifically."""
    from linguistjs_spark.operators.retrieval import keyword_topk

    return keyword_topk(
        _docs(spark, sf_dir).select("doc_id", "text"), k=3)


def q_readability_bands(spark, sf_dir):
    """Per-language readability profile: Flesch–Kincaid grade bands
    (text_stats.fk_grade_col/fk_band_col) over the documents table —
    the FineWeb-Edu-style "instructive prose" signal as pure codegen
    (three whole-text regexp_count scans, no transcendentals, so the
    grade is cross-engine bit-exact with NO quantization). min/max
    grades per band are order-free exact; one rollup shuffle total."""
    from linguistjs_spark.operators.text_stats import (
        fk_band_col, fk_grade_col)

    docs = _docs(spark, sf_dir)
    g = docs.select(
        "lang", fk_grade_col(F.col("text")).alias("grade"))
    return (
        g.select("lang", "grade", fk_band_col(F.col("grade")).alias("band"))
        .groupBy("lang", "band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("grade").alias("min_grade"),
            F.max("grade").alias("max_grade"),
        )
    )


def _readability_oracle_sql() -> str:
    """Same three regexp counts, same operation ORDER in the grade
    arithmetic (no transcendentals -> bit-identical doubles), same
    band CASE order. Patterns interpolated from the module so the two
    engines can never drift."""
    from linguistjs_spark.operators.text_stats import (
        SENTENCE_END_PAT, VOWEL_RUN_PAT, _FK_C, _FK_S, _FK_W)
    from linguistjs_spark.operators.quality import _WORD_RUN_PAT

    w = f"CAST(len(regexp_extract_all(text, '{_WORD_RUN_PAT}')) AS DOUBLE)"
    s = (f"greatest(CAST(len(regexp_extract_all(text, "
         f"'{SENTENCE_END_PAT}')) AS DOUBLE), 1.0)")
    y = (f"CAST(len(regexp_extract_all(lower(text), "
         f"'{VOWEL_RUN_PAT}')) AS DOUBLE)")
    return f"""
WITH g AS (
  SELECT lang,
         CASE WHEN {w} > 0
              THEN {_FK_W!r} * ({w} / {s}) + {_FK_S!r} * ({y} / {w})
                   - {_FK_C!r}
         END AS grade
  FROM documents
),
b AS (
  SELECT lang, grade,
         CASE WHEN grade IS NULL THEN 'nontext'
              WHEN grade < 6 THEN 'elementary'
              WHEN grade < 9 THEN 'middle'
              WHEN grade < 13 THEN 'high'
              ELSE 'college' END AS band
  FROM g
)
SELECT lang, band, COUNT(*) AS n_docs,
       MIN(grade) AS min_grade, MAX(grade) AS max_grade
FROM b GROUP BY lang, band
"""


def q_bpe_packing(spark, sf_dir):
    """Composition: tokenizer-true sequence packing — learn BPE merges,
    count each doc's tokens under the learned segmentation (distinct-word
    dim join, bpe.bpe_doc_token_counts), then pack 256-token training
    sequences (packing.pack_sequences) and roll up per bucket. The packing
    budget is real tokenizer tokens, not the whitespace proxy."""
    from linguistjs_spark.operators import packing as PK
    from linguistjs_spark.operators.bpe import (
        bpe_doc_token_counts, learn_bpe, word_count_table)

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    merges, _ = learn_bpe(word_count_table(docs), num_merges=12)
    counts = bpe_doc_token_counts(docs, merges)
    packed = PK.pack_sequences(
        counts, max_tokens=256, n_buckets=16,
        bucket_col=F.col("doc_id") % 16,
        n_tokens_col=F.col("n_tokens"),
    )
    return PK.packing_summary(packed, 256)


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_WORDS = r"list_filter(string_split_regex(text, '[ \t\r\n\f\x0B]+'), x -> x <> '')"
_LINES = r"string_split_regex(text, '\r?\n')"
_NONBLANK = (
    r"list_filter(" + _LINES + r", x -> NOT regexp_matches(x, '^[ \t\f\x0B\r]*$'))"
)

# quality rule restatement (thresholds from QualityFilterConfig defaults)
_QUALITY_CTE = f"""
WITH q AS (
  SELECT lang, text,
         len({_WORDS}) AS n_words,
         CASE WHEN len({_WORDS}) > 0
              THEN CAST(list_sum(list_transform({_WORDS}, x -> length(x))) AS DOUBLE)
                   / len({_WORDS})
              ELSE 0.0 END AS mean_wl,
         CASE WHEN length(text) > 0
              THEN CAST(len(regexp_extract_all(text, '[#<>{{}}\\[\\]\\\\^~|]')) AS DOUBLE)
                   / length(text)
              ELSE 0.0 END AS sym_ratio,
         CASE WHEN len({_NONBLANK}) > 0
              THEN 1.0 - CAST(len(list_distinct({_NONBLANK})) AS DOUBLE)
                   / len({_NONBLANK})
              ELSE 0.0 END AS dup_ratio
  FROM documents
)
"""

_SCRUB_SQL_CHAIN = (
    "regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace("
    "regexp_replace("
    "text,"
    " '[A-Za-z0-9][A-Za-z0-9._%+-]{0,63}@[A-Za-z0-9][A-Za-z0-9.-]*\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),"
    " '[A-Za-z0-9._%+-]{1,256}<EMAIL>', '<EMAIL>', 'g'),"
    " '\\b(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])(\\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])){3}\\b', '<IP>', 'g'),"
    " '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b', '<SSN>', 'g'),"
    " '\\b[0-9]{4}[ -][0-9]{4}[ -][0-9]{4}[ -][0-9]{4}\\b', '<CC>', 'g'),"
    " '\\+?[0-9]{1,3}[ .-]?\\(?[0-9]{2,4}\\)?([ .-]?[0-9]{2,4}){2,4}', '<PHONE>', 'g')"
)

# ext cycle in pages_from_documents: doc_id % 10 ->
# txt, html.txt, md, js, py, cs, fr, php, ecl, asc
_CASCADE_CASE = """
CASE doc_id % 10
  WHEN 0 THEN 'Text'
  WHEN 1 THEN 'Text'
  WHEN 2 THEN 'Markdown'
  WHEN 3 THEN 'JavaScript'
  WHEN 4 THEN 'Python'
  WHEN 5 THEN 'C#'
  WHEN 6 THEN CASE WHEN regexp_matches(text, '(?m)^\\s*(import|module|package|data|type)\\s')
                   THEN 'Frege' ELSE 'Text' END
  WHEN 7 THEN 'Hack'
  WHEN 8 THEN 'ECL'
  ELSE 'AGS Script'
END
"""



# ---------------------------------------------------------------------------
# Twin-backed oracles for hash-domain queries (VERDICT r01 #3)
#
# simhash / LSH-ANN / IVF-ANN state lives in the xxhash64 domain, which
# DuckDB cannot reproduce; their expected outputs are recomputed by the
# pure-python twins (linguistjs_spark.hash_twin / ann_twin — bit-for-bit
# pinned against Spark in pytest) and emitted as literal VALUES. The driver
# compares at sf0.01, so the twins read that directory (overridable).
# ---------------------------------------------------------------------------

import os as _os

_ORACLE_SF_DIR = _os.environ.get(
    "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
)


def _values_sql(rows, header_sql: str, empty_sql: str) -> str:
    if not rows:
        return empty_sql
    vals = ", ".join("(" + ", ".join(repr(x) for x in r) + ")" for r in rows)
    return header_sql.format(values=vals)


def _simhash_pairs_oracle_sql() -> str:
    from linguistjs_spark.ann_twin import simhash_pairs_expected

    rows = simhash_pairs_expected(_ORACLE_SF_DIR, max_hamming=3)
    return _values_sql(
        rows,
        "SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b, "
        "CAST(h AS BIGINT) AS hamming FROM (VALUES {values}) t(a, b, h)",
        "SELECT CAST(NULL AS BIGINT) a, CAST(NULL AS BIGINT) b, "
        "CAST(NULL AS BIGINT) hamming WHERE FALSE",
    )


def _domain_pagerank_oracle_sql() -> str:
    """Unrolled-CTE restatement of q_domain_pagerank: the fixture's three
    modular partner links, the weighted domain graph, and three weighted
    PageRank iterations with uniform dangling redistribution."""
    link_ctes = " UNION ALL ".join(
        f"SELECT a.source AS s, b.source AS d FROM documents a "
        f"CROSS JOIN nn JOIN documents b "
        f"ON b.doc_id = (a.doc_id * a.doc_id * {q} "
        f"+ a.doc_id * {m} + {c}) % nn.c"
        for q, m, c in _PAGERANK_LINKS
    )
    sql = f"""
    WITH nn AS (SELECT COUNT(*) AS c FROM documents),
    links AS ({link_ctes}),
    edges AS (
      SELECT lower(s) || '.example' AS src, lower(d) || '.example' AS dst,
             COUNT(*) AS w
      FROM links WHERE s <> d GROUP BY 1, 2
    ),
    nodes AS (
      SELECT DISTINCT domain FROM (
        SELECT src AS domain FROM edges UNION SELECT dst FROM edges)
    ),
    nc AS (SELECT COUNT(*) AS c FROM nodes),
    deg AS (SELECT src, SUM(w) AS outw FROM edges GROUP BY src),
    r0 AS (SELECT domain, 1.0 / (SELECT c FROM nc) AS rank FROM nodes)"""
    prev = "r0"
    for i in (1, 2, 3):
        sql += f""",
    c{i} AS (
      SELECT e.dst AS domain, SUM({prev}.rank * e.w / deg.outw) AS contrib
      FROM edges e JOIN deg ON deg.src = e.src
      JOIN {prev} ON {prev}.domain = e.src GROUP BY e.dst),
    g{i} AS (
      SELECT COALESCE(SUM(r.rank), 0) AS m FROM {prev} r
      LEFT JOIN deg ON deg.src = r.domain WHERE deg.src IS NULL),
    r{i} AS (
      SELECT nd.domain,
             {1.0 - 0.85!r} / (SELECT c FROM nc)
             + 0.85 * (COALESCE(c{i}.contrib, 0)
                       + (SELECT m FROM g{i}) / (SELECT c FROM nc)) AS rank
      FROM nodes nd LEFT JOIN c{i} ON c{i}.domain = nd.domain)"""
        prev = f"r{i}"
    sql += f"\n    SELECT domain, rank FROM {prev} ORDER BY domain"
    return sql


def _noindex_filter_oracle_sql() -> str:
    """Runs the SAME noindex regexes (extract.NOINDEX_PATS, verbatim) in
    DuckDB over the same synthesized html — cross-engine pins the
    patterns, not just the residue arithmetic."""
    from linguistjs_spark.operators.extract import NOINDEX_PATS

    flag = " OR ".join(
        "regexp_matches(html, '" + p.replace("'", "''") + "')"
        for p in NOINDEX_PATS
    )
    return f"""
    WITH pages AS (
      SELECT source,
             CASE
               WHEN doc_id % 7 = 0 THEN
                 '<meta name="robots" content="noindex,nofollow"><p>' || text
               WHEN doc_id % 7 = 3 THEN
                 '<meta content="NOINDEX" name="robots"><p>' || text
               ELSE '<p>' || text
             END AS html
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_pages,
           CAST(SUM(CASE WHEN {flag} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_noindex,
           CAST(SUM(CASE WHEN {flag} THEN 0 ELSE 1 END) AS BIGINT)
               AS n_kept
    FROM pages GROUP BY source ORDER BY source
    """


def _robots_fixture_values() -> str:
    """_ROBOTS_FIXTURE as a SQL VALUES list: (domain, txt). Newlines/CRs
    are emitted as chr(10)/chr(13) concatenations so the oracle string is
    single-line-safe and byte-identical to the Python literals."""
    rows = []
    for url, txt in _ROBOTS_FIXTURE:
        dom = url.split("://")[1].split("/")[0]
        lit = "'" + txt.replace("'", "''") \
            .replace("\r", "' || chr(13) || '") \
            .replace("\n", "' || chr(10) || '") + "'"
        rows.append(f"('{dom}', {lit})")
    return ", ".join(rows)


# window-function state machine equivalent of operators/robots.py's
# F.aggregate fold (DuckDB 1.0's list_reduce corrupts accumulated
# nested-list state, so the fold itself is not restatable): run_id =
# count of directive lines before each line, so UA lines sharing a run
# have no directive between them; a run's star = bool_or(arg='*'); each
# Disallow line is governed by the latest preceding UA run. Produces
# (domain, pos, rule) in file order.
# leading class eats a UTF-8 BOM too (mirrors robots._TRIM; the literal
# BOM character rides inside the SQL string)
_ROBOTS_TRIM = ("regexp_replace({x}, '^[﻿ \\t\\r]+|[ \\t\\r]+$', "
                "'', 'g')")
_ROBOTS_ARG = _ROBOTS_TRIM.format(x="regexp_replace(line, '^[^:]*:', '')")


def _robots_parsed_cte(include_allow: bool = False) -> str:
    clean = _ROBOTS_TRIM.format(x="regexp_replace(ls[i], '#.*$', '')")
    kind_gate = ("(g.is_dis OR g.is_alw)" if include_allow else "g.is_dis")
    kind_col = ", g.is_alw AS allow" if include_allow else ""
    return f"""
robots(domain, txt) AS (VALUES {_robots_fixture_values()}),
rlines AS (
  SELECT domain,
         unnest(list_transform(range(1, len(ls)+1),
                i -> {{'idx': i, 'line': {clean}}}),
                recursive := true)
  FROM (SELECT domain, string_split_regex(txt, '\\r\\n|\\r|\\n') AS ls
        FROM robots)
),
rtagged AS (
  SELECT domain, idx, line,
         regexp_matches(lower(line), '^user-agent[ \\t]*:') AS is_ua,
         regexp_matches(lower(line), '^disallow[ \\t]*:') AS is_dis,
         regexp_matches(lower(line), '^allow[ \\t]*:') AS is_alw,
         {_ROBOTS_ARG} AS arg,
         (line <> '' AND NOT regexp_matches(lower(line),
                                            '^user-agent[ \\t]*:'))
             AS is_directive
  FROM rlines
),
rruns AS (
  SELECT domain, idx, is_ua, is_dis, is_alw, arg,
         SUM(CASE WHEN is_directive THEN 1 ELSE 0 END)
           OVER (PARTITION BY domain ORDER BY idx
                 ROWS UNBOUNDED PRECEDING) AS run_id
  FROM rtagged
),
rstar AS (
  SELECT domain, run_id, bool_or(arg = '*') AS star
  FROM rruns WHERE is_ua GROUP BY domain, run_id
),
rgov AS (
  SELECT domain, idx, is_dis, is_alw, arg,
         MAX(CASE WHEN is_ua THEN run_id END)
           OVER (PARTITION BY domain ORDER BY idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS gov_run
  FROM rruns
),
rparsed AS (
  SELECT g.domain,
         CAST(ROW_NUMBER() OVER (PARTITION BY g.domain ORDER BY g.idx) - 1
              AS BIGINT) AS pos,
         g.arg AS rule{kind_col}
  FROM rgov g JOIN rstar s
    ON s.domain = g.domain AND s.run_id = g.gov_run
  WHERE {kind_gate} AND s.star AND g.arg <> ''
)"""


def _crawl_frontier_priority_oracle_sql() -> str:
    dom = ("regexp_replace(lower(regexp_extract(url, "
           "'^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), ':[0-9]*$', '')")
    link_ctes = " UNION ALL ".join(
        f"SELECT a.source AS s, b.source AS d FROM documents a "
        f"CROSS JOIN nn JOIN documents b "
        f"ON b.doc_id = (a.doc_id * a.doc_id * {q} "
        f"+ a.doc_id * {m} + {c}) % nn.c"
        for q, m, c in _PAGERANK_LINKS
    )
    return f"""
    WITH m AS ({_MESSY_URL_SQL}),
    g AS ({_gopher_quality_sql()}),
    q AS (
      SELECT {dom} AS domain, COUNT(*) AS n_docs,
             SUM(CASE WHEN g.drop_reason IS NULL THEN 1 ELSE 0 END)
                 AS n_keep
      FROM m JOIN g USING (doc_id) GROUP BY 1
    ),
    qq AS (
      SELECT domain, CAST(n_docs AS BIGINT) AS n_docs,
             CAST(10000 * n_keep // n_docs AS BIGINT) AS keep_bp
      FROM q
    ),
    nn AS (SELECT COUNT(*) AS c FROM documents),
    links AS ({link_ctes}),
    a AS (
      SELECT lower(d) || '.example' AS domain,
             COUNT(DISTINCT lower(s) || '.example') AS n_src_domains
      FROM links GROUP BY 1
    ),
    j AS (
      SELECT qq.domain, qq.n_docs, qq.keep_bp,
             CAST(coalesce(a.n_src_domains, 0) AS BIGINT) AS n_src
      FROM qq LEFT JOIN a USING (domain)
    )
    SELECT domain, n_docs, keep_bp, n_src,
           CAST(floor(CAST(keep_bp AS DOUBLE) *
                (round(ln(1.0 + CAST(n_src AS DOUBLE)) * 1048576.0)
                 / 1048576.0)) AS BIGINT) AS priority_i
    FROM j ORDER BY priority_i DESC, domain
    """


def _url_tracking_oracle_sql() -> str:
    from linguistjs_spark.operators.url_ops import TRACKING_PARAM_PAT

    strip = (
        "regexp_replace(regexp_replace(regexp_replace(regexp_replace("
        "url_raw, '^([^?]*)\\?', '\\1?&'), "
        f"'&({TRACKING_PARAM_PAT})=[^&#]*', '', 'g'), "
        "'^([^?]*)\\?&', '\\1?'), '\\?$', '')"
    )
    return f"""
    WITH m AS ({_MESSY_URL_SQL}),
    c AS (
      SELECT doc_id, {_CANON_EXPR} AS url_canon FROM m
    ),
    d AS (
      SELECT doc_id,
             url_canon ||
             (CASE doc_id % 4
                WHEN 0 THEN '?utm_source=nl&id=' ||
                            CAST(doc_id % 50 AS VARCHAR)
                WHEN 1 THEN '?fbclid=f' || CAST(doc_id AS VARCHAR)
                WHEN 2 THEN '?page=' || CAST(doc_id % 50 AS VARCHAR) ||
                            '&gclid=g'
                ELSE '' END) AS url_raw
      FROM c
    )
    SELECT doc_id, url_raw, {strip} AS url_stripped
    FROM d ORDER BY doc_id
    """


def _robots_crawl_delay_cte() -> str:
    """Window-state-machine re-derivation of robots_crawl_delay_col (the
    robots_parsed_cte pattern with Crawl-delay tagging): first valid
    positive star-group value per domain → rdelays(domain, delay)."""
    clean = _ROBOTS_TRIM.format(x="regexp_replace(ls[i], '#.*$', '')")
    return f"""
robots(domain, txt) AS (VALUES {_robots_fixture_values()}),
rlines AS (
  SELECT domain,
         unnest(list_transform(range(1, len(ls)+1),
                i -> {{'idx': i, 'line': {clean}}}),
                recursive := true)
  FROM (SELECT domain, string_split_regex(txt, '\\r\\n|\\r|\\n') AS ls
        FROM robots)
),
rtagged AS (
  SELECT domain, idx, line,
         regexp_matches(lower(line), '^user-agent[ \\t]*:') AS is_ua,
         regexp_matches(lower(line), '^crawl-delay[ \\t]*:') AS is_cd,
         {_ROBOTS_ARG} AS arg,
         (line <> '' AND NOT regexp_matches(lower(line),
                                            '^user-agent[ \\t]*:'))
             AS is_directive
  FROM rlines
),
rruns AS (
  SELECT domain, idx, is_ua, is_cd, arg,
         SUM(CASE WHEN is_directive THEN 1 ELSE 0 END)
           OVER (PARTITION BY domain ORDER BY idx
                 ROWS UNBOUNDED PRECEDING) AS run_id
  FROM rtagged
),
rstar AS (
  SELECT domain, run_id, bool_or(arg = '*') AS star
  FROM rruns WHERE is_ua GROUP BY domain, run_id
),
rgov AS (
  SELECT domain, idx, is_cd, arg,
         MAX(CASE WHEN is_ua THEN run_id END)
           OVER (PARTITION BY domain ORDER BY idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS gov_run
  FROM rruns
),
rvalid AS (
  SELECT g.domain, g.idx, CAST(g.arg AS DOUBLE) AS delay
  FROM rgov g JOIN rstar s
    ON s.domain = g.domain AND s.run_id = g.gov_run
  WHERE g.is_cd AND s.star
    AND regexp_matches(g.arg, '^[0-9]+(\\.[0-9]+)?$')
    AND CAST(g.arg AS DOUBLE) > 0
),
rdelays AS (
  SELECT domain, delay FROM (
    SELECT domain, delay,
           ROW_NUMBER() OVER (PARTITION BY domain ORDER BY idx) AS rn
    FROM rvalid) WHERE rn = 1
)"""


def _crawl_delay_schedule_oracle_sql() -> str:
    dom = ("regexp_replace(lower(regexp_extract(url, "
           "'^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), ':[0-9]*$', '')")
    return f"""
    WITH m AS ({_MESSY_URL_SQL}),
    {_robots_crawl_delay_cte()},
    f AS (SELECT doc_id, url, {dom} AS host FROM m),
    c AS (
      SELECT f.doc_id, f.url, f.host,
             coalesce(CASE WHEN d.delay > 0
                           THEN greatest(CAST(floor(60.0 / d.delay)
                                              AS BIGINT), 1) END,
                      7) AS cap,
             CASE WHEN d.delay > 60.0
                  THEN CAST(ceil(d.delay / 60.0) AS BIGINT) ELSE 1 END
               AS every
      FROM f LEFT JOIN rdelays d ON d.domain = f.host
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY host ORDER BY url ASC) - 1
                AS rn
      FROM c
    )
    SELECT doc_id, host, CAST(cap AS BIGINT) AS cap,
           CAST((rn // cap) * every AS BIGINT) AS batch,
           CAST(rn % cap AS BIGINT) AS slot
    FROM r ORDER BY doc_id
    """


def _robots_rules_oracle_sql() -> str:
    return f"""
    WITH {_robots_parsed_cte()}
    SELECT domain, pos, rule FROM rparsed ORDER BY domain, pos
    """


def _robots_disallow_oracle_sql() -> str:
    # page domain/path via the same structural regexes as _CANON_EXPR's
    # components (host lowered, port stripped; tail with '/' default)
    dom = ("regexp_replace(lower(regexp_extract(url, "
           "'^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), ':[0-9]*$', '')")
    tail = ("regexp_replace(regexp_replace(url, '#.*$', ''), "
            "'^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '')")
    path = (f"CASE WHEN {tail} = '' THEN '/' "
            f"WHEN {tail} LIKE '?%' THEN '/' || {tail} "
            f"ELSE {tail} END")
    # the SAME three-step wildcard translation as robots._rule_regex_col
    rule_rx = (
        r"regexp_replace(regexp_replace(regexp_replace(r, "
        r"'([.^$+?(){}\[\]|\\])', '\\\1', 'g'), "
        r"'\*+', '.*', 'g'), '\\\$$', '$')"
    )
    rule_hit = (
        f"CASE WHEN r LIKE '%*%' OR r LIKE '%$' "
        f"THEN regexp_matches({path}, '^' || {rule_rx}) "
        f"ELSE starts_with({path}, r) END"
    )
    return f"""
    WITH m AS ({_MESSY_URL_SQL}),
    {_robots_parsed_cte()},
    rlists AS (
      SELECT domain, list(rule ORDER BY pos) AS rules
      FROM rparsed GROUP BY domain
    ),
    flagged AS (
      SELECT {dom} AS domain,
             (len(list_filter(coalesce(rl.rules, CAST([] AS VARCHAR[])),
                              r -> {rule_hit})) > 0) AS blocked
      FROM m LEFT JOIN rlists rl ON rl.domain = {dom}
    )
    SELECT domain,
           CAST(COUNT(*) AS BIGINT) AS n_pages,
           CAST(SUM(CASE WHEN blocked THEN 1 ELSE 0 END) AS BIGINT)
               AS n_blocked,
           CAST(SUM(CASE WHEN blocked THEN 0 ELSE 1 END) AS BIGINT)
               AS n_kept
    FROM flagged GROUP BY domain ORDER BY domain
    """


_SITEMAP_URLS_SQL = r"""
WITH x AS (
  SELECT doc_id,
         '<?xml version="1.0"?><urlset><url><loc> https://' || source
         || '.example/p?x=1&amp;y=' || CAST(doc_id % 9 AS VARCHAR)
         || ' </loc></url>'
         || (CASE WHEN doc_id % 4 = 0
                  THEN '<url><loc>  </loc></url>' ELSE '' END)
         || '<url><LOC>https://' || source || '.example/doc'
         || CAST(doc_id AS VARCHAR) || '</LOC></url></urlset>' AS xml
  FROM documents
),
l AS (
  SELECT doc_id,
         list_filter(list_transform(
           regexp_extract_all(xml, '(?i)<loc>([^<]*)</loc>', 1),
           u -> replace(replace(replace(replace(replace(
                  regexp_replace(u, '^[ \t\r\n]+|[ \t\r\n]+$', '', 'g'),
                  '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                  '&apos;', ''''), '&amp;', '&')),
           u -> u <> '') AS locs
  FROM x
)
SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, locs[i] AS loc
FROM l, unnest(range(1, len(locs)+1)) t(i)
ORDER BY doc_id, pos
"""


def _robots_allow_precedence_oracle_sql() -> str:
    """Conservative + RFC-precedence matching side by side: best
    matching Disallow/Allow lengths via list folds over the allow-aware
    parse, same 3-step wildcard translation."""
    dom = ("regexp_replace(lower(regexp_extract(url, "
           "'^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), ':[0-9]*$', '')")
    tail = ("regexp_replace(regexp_replace(url, '#.*$', ''), "
            "'^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '')")
    path = (f"CASE WHEN {tail} = '' THEN '/' "
            f"WHEN {tail} LIKE '?%' THEN '/' || {tail} "
            f"ELSE {tail} END")
    rule_rx = (
        r"regexp_replace(regexp_replace(regexp_replace(x.pfx, "
        r"'([.^$+?(){}\[\]|\\])', '\\\1', 'g'), "
        r"'\*+', '.*', 'g'), '\\\$$', '$')"
    )
    hit = (
        f"CASE WHEN x.pfx LIKE '%*%' OR x.pfx LIKE '%$' "
        f"THEN regexp_matches({path}, '^' || {rule_rx}) "
        f"ELSE starts_with({path}, x.pfx) END"
    )
    def best(a: str) -> str:
        return ("coalesce(list_max(list_transform(list_filter(rl.rules, "
                "x -> x.allow = " + a + " AND " + hit + "), "
                "x -> length(x.pfx))), -1)")

    return f"""
    WITH m AS ({_MESSY_URL_SQL}),
    {_robots_parsed_cte(include_allow=True)},
    rlists AS (
      SELECT domain,
             list({{'pfx': rule, 'allow': allow}} ORDER BY pos) AS rules
      FROM rparsed GROUP BY domain
    ),
    flagged AS (
      SELECT {dom} AS domain,
             coalesce({best('false')} > -1, false) AS b_cons,
             coalesce({best('false')} > {best('true')}, false) AS b_rfc
      FROM m LEFT JOIN rlists rl ON rl.domain = {dom}
    )
    SELECT domain,
           CAST(COUNT(*) AS BIGINT) AS n_pages,
           CAST(SUM(CASE WHEN b_cons THEN 1 ELSE 0 END) AS BIGINT)
               AS n_blocked_cons,
           CAST(SUM(CASE WHEN b_rfc THEN 1 ELSE 0 END) AS BIGINT)
               AS n_blocked_rfc,
           CAST(SUM(CASE WHEN b_cons AND NOT b_rfc THEN 1 ELSE 0 END)
                AS BIGINT) AS n_readmitted
    FROM flagged GROUP BY domain ORDER BY domain
    """


def _anchor_stats_oracle_sql() -> str:
    """Restates q_anchor_stats: the fixture's partner links with anchor
    text = partner source name, grouped by target domain (self-links are
    KEPT here — anchor profiles include a site's self-navigation)."""
    link_ctes = " UNION ALL ".join(
        f"SELECT a.source AS s, b.source AS d FROM documents a "
        f"CROSS JOIN nn JOIN documents b "
        f"ON b.doc_id = (a.doc_id * a.doc_id * {q} "
        f"+ a.doc_id * {m} + {c}) % nn.c"
        for q, m, c in _PAGERANK_LINKS
    )
    return f"""
    WITH nn AS (SELECT COUNT(*) AS c FROM documents),
    links AS ({link_ctes})
    SELECT lower(d) || '.example' AS domain,
           CAST(COUNT(*) AS BIGINT) AS n_anchors,
           CAST(COUNT(DISTINCT lower(s) || '.example') AS BIGINT)
               AS n_src_domains,
           CAST(SUM(length(d)) AS BIGINT) AS total_anchor_chars
    FROM links GROUP BY 1 ORDER BY 1
    """


def _image_near_dup_oracle_sql() -> str:
    from linguistjs_spark.ann_twin import image_near_dup_expected

    rows = image_near_dup_expected(n=64, plant=6, max_hamming=3)
    return _values_sql(
        rows,
        "SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b, "
        "CAST(h AS BIGINT) AS hamming FROM (VALUES {values}) t(a, b, h)",
        "SELECT CAST(NULL AS BIGINT) a, CAST(NULL AS BIGINT) b, "
        "CAST(NULL AS BIGINT) hamming WHERE FALSE",
    )


def _lsh_ann_oracle_sql() -> str:
    from linguistjs_spark.ann_twin import lsh_topk_expected

    rows = lsh_topk_expected(_ORACLE_SF_DIR, query_id=1, k=10, bits=8,
                             probe_hamming=2)
    return _values_sql(
        rows,
        "SELECT CAST(v AS BIGINT) AS vec_id, CAST(s AS DOUBLE) AS score_r "
        "FROM (VALUES {values}) t(v, s)",
        "SELECT CAST(NULL AS BIGINT) vec_id, CAST(NULL AS DOUBLE) score_r "
        "WHERE FALSE",
    )


def _pii_counts_oracle_sql() -> str:
    from linguistjs_spark.operators.scrub import load_scrub_config

    rules = [r for r in load_scrub_config()["pii_rules"]
             if r["name"] != "email_local_residue"]
    t2 = ("(text || (CASE "
          "WHEN doc_id % 5 = 0 THEN ' contact: user' || "
          "CAST(doc_id AS VARCHAR) || '@example.com' "
          "WHEN doc_id % 5 = 1 THEN ' from 10.0.' || "
          "CAST(doc_id % 200 AS VARCHAR) || '.7' "
          "WHEN doc_id % 5 = 2 THEN ' ssn 123-45-' || "
          "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') "
          "WHEN doc_id % 5 = 3 THEN ' card 4111 1111 1111 1111' "
          "ELSE '' END))")
    cnt_cols = ", ".join(
        f"len(regexp_extract_all({t2}, '{_sql_quote(r['pattern'])}')) "
        f"AS {r['name']}"
        for r in rules
    )
    sums = ", ".join(
        f"CAST(SUM({r['name']}) AS BIGINT) AS n_{r['name']}" for r in rules)
    any_pii = " OR ".join(f"{r['name']} > 0" for r in rules)
    return f"""
    WITH s AS (SELECT source, {cnt_cols} FROM documents)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, {sums},
           CAST(SUM(CASE WHEN {any_pii} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_docs_pii
    FROM s GROUP BY source ORDER BY source
    """


def _corpus_card_oracle_sql() -> str:
    from linguistjs_spark.operators.quality import _WORD_RUN_PAT

    return f"""
    WITH g AS ({_gopher_quality_sql()}),
    s AS (
      SELECT coalesce(d.lang, 'unknown') AS lang,
             md5(coalesce(d.text, '')) AS fp,
             coalesce(octet_length(CAST(d.text AS BLOB)), 0) AS b,
             CAST(len(regexp_extract_all(coalesce(d.text, ''),
                  '{_WORD_RUN_PAT}')) AS BIGINT) AS toks,
             (g.drop_reason IS NULL) AS keep,
             coalesce(length(d.text), 0) AS chars
      FROM documents d JOIN g USING (doc_id)
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(b) AS BIGINT) AS n_bytes,
           CAST(SUM(toks) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_distinct,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           CAST(ROUND(quantile_cont(chars, 0.5) * 100) AS BIGINT)
               AS p50_chars_c,
           CAST(10000 * (COUNT(*) - COUNT(DISTINCT fp)) // COUNT(*)
               AS BIGINT) AS dup_bp,
           CAST(10000 * SUM(CASE WHEN keep THEN 1 ELSE 0 END) // COUNT(*)
               AS BIGINT) AS keep_bp
    FROM s GROUP BY lang ORDER BY lang
    """


def _sql_quote(s: str) -> str:
    return s.replace("'", "''")


def _unicode_norm_oracle_sql() -> str:
    """Same translate mapping + regexp chains, built from the normalize
    module's constants (single source of truth), applied to the same
    planted mess; md5 byte-identity is the compared surface."""
    from linguistjs_spark.operators import normalize as N

    src, dst = _sql_quote(N.NORM_SRC), _sql_quote(N.NORM_DST)
    mess = _sql_quote(_UNICODE_MESS)
    t2 = f"(text || '{mess}')"
    norm = (f"regexp_replace(regexp_replace(translate({t2}, '{src}', "
            f"'{dst}'), '{N.ELLIPSIS_PAT}', '...', 'g'), "
            f"'{N.ZERO_WIDTH_PAT}', '', 'g')")
    return f"""
    SELECT doc_id, md5({norm}) AS norm_md5,
           CAST(length({t2}) - length({norm}) AS BIGINT) AS shrunk
    FROM documents ORDER BY doc_id
    """


def _mojibake_oracle_sql() -> str:
    from linguistjs_spark.operators import normalize as N

    t2 = ("(text || (CASE WHEN doc_id % 5 = 0 "
          "THEN repeat('�', CAST(doc_id % 13 AS INT)) ELSE '' END) "
          "|| (CASE WHEN doc_id % 7 = 0 THEN chr(1) || chr(2) "
          "ELSE '' END))")
    r = f"CAST(len(regexp_extract_all({t2}, '{N.REPLACEMENT_CHAR_PAT}')) AS BIGINT)"
    c = f"CAST(len(regexp_extract_all({t2}, '{N.CONTROL_CHAR_PAT}')) AS BIGINT)"
    n = f"CAST(length({t2}) AS BIGINT)"
    bp = (f"CASE WHEN {n} > 0 THEN CAST(floor(CAST(({r} + {c}) * 10000 "
          f"AS DOUBLE) / {n}) AS BIGINT) END")
    return f"""
    SELECT doc_id, {r} AS n_repl, {c} AS n_ctrl, {n} AS n_chars,
           {bp} AS bad_bp,
           coalesce({bp} > 25, FALSE) AS dropped
    FROM documents ORDER BY doc_id
    """


_DOMAIN_CAP_SQL = f"""
WITH m AS ({_MESSY_URL_SQL}),
d AS (
  SELECT doc_id, url, warc_ts,
         regexp_replace(lower(regexp_extract(url,
           '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), ':[0-9]*$', '')
           AS domain
  FROM m
),
r AS (
  SELECT domain, doc_id,
         ROW_NUMBER() OVER (PARTITION BY domain
                            ORDER BY warc_ts DESC, url ASC) AS rn
  FROM d
)
SELECT domain, doc_id FROM r WHERE rn <= 5 ORDER BY domain, doc_id
"""


def _compression_signal_oracle_sql() -> str:
    """zlib lengths as twin VALUES (DEFLATE is not restatable in SQL; same
    in-process zlib on the same UTF-8 bytes is byte-identical by
    construction); raw length, floor-division basis points, and the band
    flag restated natively in DuckDB."""
    import duckdb

    from linguistjs_spark.operators.text_stats import zlib_len_py

    con = duckdb.connect()
    rows = con.sql(
        "SELECT doc_id, text FROM "
        f"read_parquet('{_ORACLE_SF_DIR}/documents.parquet')"
    ).fetchall()
    con.close()
    vals = ", ".join(
        f"({d}, {z if z is not None else 'NULL'})"
        for d, z in ((d, zlib_len_py(t)) for d, t in rows)
    )
    raw = "octet_length(CAST(d.text AS BLOB))"
    return f"""
    WITH z AS (SELECT * FROM (VALUES {vals}) t(doc_id, comp_b))
    SELECT d.doc_id,
           CAST({raw} AS BIGINT) AS raw_b,
           CAST(z.comp_b AS BIGINT) AS comp_b,
           CASE WHEN {raw} > 0
                THEN CAST(z.comp_b * 10000 // {raw} AS BIGINT) END AS comp_bp,
           CASE WHEN d.text IS NULL OR {raw} = 0 THEN NULL
                WHEN CAST(z.comp_b AS DOUBLE) / {raw} < 0.30
                    THEN 'repetitive'
                WHEN CAST(z.comp_b AS DOUBLE) / {raw} > 0.98 THEN 'opaque'
                ELSE 'normal' END AS comp_flag
    FROM documents d LEFT JOIN z USING (doc_id)
    ORDER BY d.doc_id
    """


def _bitext_mining_oracle_sql() -> str:
    from linguistjs_spark.ann_twin import margin_knn_expected

    rows = margin_knn_expected(_ORACLE_SF_DIR, k=4, threshold=1.05, bits=8,
                               probe_hamming=1)
    return _values_sql(
        rows,
        "SELECT CAST(s AS BIGINT) AS src_id, CAST(t AS BIGINT) AS tgt_id, "
        "CAST(c AS DOUBLE) AS cos_r, CAST(m AS DOUBLE) AS margin_r "
        "FROM (VALUES {values}) t(s, t, c, m)",
        "SELECT CAST(NULL AS BIGINT) src_id, CAST(NULL AS BIGINT) tgt_id, "
        "CAST(NULL AS DOUBLE) cos_r, CAST(NULL AS DOUBLE) margin_r "
        "WHERE FALSE",
    )


def _fitted_perplexity_oracle_sql() -> str:
    # numpy twin refit + rescore (bit-identical table from identical
    # integer counts).
    import duckdb

    from linguistjs_spark.perplexity import (
        fit_char_bigram_table_local, perplexity_with_table)

    con = duckdb.connect()
    rows = con.sql(
        "SELECT doc_id, text FROM "
        f"read_parquet('{_ORACLE_SF_DIR}/documents.parquet')"
    ).fetchall()
    con.close()
    table = fit_char_bigram_table_local(t for _, t in rows)
    vals = [(d, perplexity_with_table(table, t)) for d, t in rows]
    return _values_sql(
        vals,
        "SELECT CAST(d AS BIGINT) AS doc_id, CAST(p AS DOUBLE) AS ppl "
        "FROM (VALUES {values}) t(d, p)",
        "SELECT CAST(NULL AS BIGINT) doc_id, CAST(NULL AS DOUBLE) ppl "
        "WHERE FALSE",
    )


def _ccnet_buckets_oracle_sql() -> str:
    # numpy-twin scores as literal VALUES (float-exact, same stance as
    # fitted_perplexity), then the identical NTILE window in DuckDB.
    import duckdb

    from linguistjs_spark.perplexity import (
        fit_char_bigram_table_local, perplexity_with_table)

    con = duckdb.connect()
    rows = con.sql(
        "SELECT doc_id, text FROM "
        f"read_parquet('{_ORACLE_SF_DIR}/documents.parquet')"
    ).fetchall()
    con.close()
    table = fit_char_bigram_table_local(t for _, t in rows)
    vals = [(d, perplexity_with_table(table, t)) for d, t in rows]
    return _values_sql(
        vals,
        """
        WITH p AS (SELECT CAST(d AS BIGINT) AS doc_id, CAST(pp AS DOUBLE)
                     AS ppl FROM (VALUES {values}) t(d, pp)),
        j AS (SELECT d.lang, strlen(d.text) AS b,
                     NTILE(3) OVER (PARTITION BY d.lang
                                    ORDER BY p.ppl, d.doc_id) AS tier
              FROM documents d JOIN p USING (doc_id))
        SELECT lang,
               CASE tier WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                    ELSE 'tail' END AS bucket,
               COUNT(*) AS n_docs, CAST(SUM(b) AS BIGINT) AS bytes
        FROM j GROUP BY lang, bucket
        """,
        "SELECT CAST(NULL AS VARCHAR) lang, CAST(NULL AS VARCHAR) bucket, "
        "CAST(NULL AS BIGINT) n_docs, CAST(NULL AS BIGINT) bytes WHERE FALSE",
    )


_GOPHER_QUALITY_SQL_TEMPLATE = r"""
WITH s AS (
  SELECT doc_id, lang, text,
         string_split_regex(text, '\r?\n') AS lines,
         list_filter(string_split_regex(text, '[ \t\r\n\f\x0B]+'),
                     x -> x <> '') AS words,
         list_filter(string_split_regex(lower(text), '[ \t\r\n\f\x0B]+'),
                     x -> x <> '') AS lwords
  FROM documents
), f AS (
  SELECT doc_id, lang,
         len(words) AS nw,
         len(list_filter(lines, l -> regexp_matches(l, '^[ \t]*[-*•‣▪]')))
           / len(lines) AS bullet_ratio,
         len(list_filter(lines,
                         l -> regexp_matches(l, '(\.\.\.|…)[ \t\r]*$')))
           / len(lines) AS ellipsis_ratio,
         CASE WHEN len(words) = 0 THEN 0.0 ELSE
           len(list_filter(words, w -> regexp_matches(w, '\p{L}')))
             / len(words) END AS alpha_ratio,
         CAST(len(list_filter(
                ['the','be','to','of','and','that','have','with'],
                g -> list_contains(lwords, g))) AS BIGINT) AS stop_hits,
         CASE WHEN len(words) = 0 THEN 0.0 ELSE
           (length(text) - length(replace(text, '#', ''))
            + len(regexp_extract_all(text, '(\.\.\.|…)')))
             / len(words) END AS sym_ratio,
         CASE WHEN len(words) = 0 THEN 0.0 ELSE
           CASE WHEN len(words) = 0 THEN 0
                ELSE list_sum(list_transform(words, x -> length(x))) END
             / len(words) END AS mean_wl{extra_cols}
  FROM s
)
SELECT doc_id, bullet_ratio, ellipsis_ratio, alpha_ratio, stop_hits,
       sym_ratio,
       CASE WHEN nw < {min_words} OR nw > 100000 THEN 'gopher-words'
            WHEN NOT (mean_wl BETWEEN 3.0 AND 10.0) THEN 'gopher-word-length'
            WHEN sym_ratio > 0.1 THEN 'gopher-symbols'
            WHEN bullet_ratio > 0.9 THEN 'gopher-bullets'
            WHEN ellipsis_ratio > 0.3 THEN 'gopher-ellipsis'
            WHEN alpha_ratio < 0.8 THEN 'gopher-alpha'
            WHEN {stop_rule} THEN 'gopher-stopwords'
            ELSE NULL END AS drop_reason
FROM f
"""

def _gopher_quality_sql(min_words: int = 50, lang_gate: bool = False) -> str:
    # plain .replace, NOT .format — the template's \p{L} regex would trip
    # format's brace parsing. lang_gate=True regenerates the per-language
    # stopword CASE from the SAME langid snapshot the Spark expression
    # uses (gopher._stopword_lists) — the langid_dist oracle precedent;
    # unlisted langs yield NULL, and NULL < 2 is NULL, so the WHEN never
    # fires for them (the Spark side's isNotNull gate, SQL-style).
    if lang_gate:
        from linguistjs_spark.operators.gopher import _stopword_lists

        lists = _stopword_lists()
        branches = " ".join(
            "WHEN lang = '{lg}' THEN len(list_filter([{ws}], "
            "g -> list_contains(lwords, g)))".format(
                lg=lg,
                ws=",".join(
                    "'" + w.replace("'", "''") + "'" for w in lists[lg]
                ),
            )
            for lg in sorted(lists)
        )
        extra = f",\n         CASE {branches} END AS plang_hits"
        stop_rule = "plang_hits < 2"
    else:
        extra = ""
        stop_rule = "stop_hits < 2"
    return (
        _GOPHER_QUALITY_SQL_TEMPLATE.replace("{min_words}", str(min_words))
        .replace("{extra_cols}", extra)
        .replace("{stop_rule}", stop_rule)
    )


# standalone gopher_quality query: published defaults, no lang gate
_GOPHER_QUALITY_SQL = _gopher_quality_sql()


_CRAWL_DELTA_SQL = """
WITH base AS (
  SELECT doc_id,
         'https://delta.example/u/' || CAST(doc_id % 120 AS VARCHAR) AS url,
         to_timestamp(1600000000 + doc_id) AS ts,
         text
  FROM documents
),
old_w AS (
  SELECT url, md5(coalesce(text, '')) AS fp_old,
         ROW_NUMBER() OVER (PARTITION BY url ORDER BY ts DESC) AS rn
  FROM base WHERE doc_id % 3 <> 2
),
new_w AS (
  SELECT url,
         md5(coalesce(CASE WHEN doc_id % 7 = 0 THEN text || '!'
                           ELSE text END, '')) AS fp_new,
         ROW_NUMBER() OVER (PARTITION BY url ORDER BY ts DESC) AS rn
  FROM base WHERE doc_id % 3 <> 0
),
o AS (SELECT url, fp_old FROM old_w WHERE rn = 1),
n AS (SELECT url, fp_new FROM new_w WHERE rn = 1)
SELECT coalesce(o.url, n.url) AS url_canon,
       CASE WHEN fp_old IS NULL THEN 'new'
            WHEN fp_new IS NULL THEN 'gone'
            WHEN fp_old = fp_new THEN 'unchanged'
            ELSE 'changed' END AS status,
       fp_old, fp_new
FROM o FULL OUTER JOIN n ON o.url = n.url
ORDER BY url_canon
"""

_SNAPSHOT_MERGE_SQL = """
WITH base AS (
  SELECT doc_id,
         'https://delta.example/u/' || CAST(doc_id % 120 AS VARCHAR) AS url,
         to_timestamp(1600000000 + doc_id) AS ts,
         text
  FROM documents
),
old_w AS (
  SELECT url, ts, md5(coalesce(text, '')) AS fp,
         ROW_NUMBER() OVER (PARTITION BY url ORDER BY ts DESC) AS rn
  FROM base WHERE doc_id % 3 <> 2
),
new_w AS (
  SELECT url, ts,
         md5(coalesce(CASE WHEN doc_id % 7 = 0 THEN text || '!'
                           ELSE text END, '')) AS fp,
         ROW_NUMBER() OVER (PARTITION BY url ORDER BY ts DESC) AS rn
  FROM base WHERE doc_id % 3 <> 0
),
o AS (SELECT url, ts AS ts_old, fp AS fp_old FROM old_w WHERE rn = 1),
n AS (SELECT url, ts AS ts_new, fp AS fp_new FROM new_w WHERE rn = 1),
j AS (
  SELECT coalesce(o.url, n.url) AS url_canon,
         CASE WHEN fp_old IS NULL THEN 'inserted'
              WHEN fp_new IS NULL THEN 'gone'
              WHEN fp_old = fp_new THEN 'carried'
              ELSE 'updated' END AS origin,
         ts_old, ts_new, fp_old, fp_new
  FROM o FULL OUTER JOIN n ON o.url = n.url
)
SELECT url_canon, origin,
       CAST(epoch(CASE WHEN origin IN ('inserted', 'updated') THEN ts_new
                       ELSE ts_old END) AS BIGINT) AS ts,
       CASE WHEN origin IN ('inserted', 'updated') THEN fp_new
            ELSE fp_old END AS fp
FROM j
ORDER BY url_canon
"""


def _domain_quality_oracle_sql() -> str:
    """Per-domain rollup of the SAME gopher drop-reason restatement,
    keyed by the messy-URL fixture's rebuilt domain; keep_bp uses DuckDB
    ``//`` (floor division) to mirror Spark's integer ``div``."""
    dom = ("regexp_replace(lower(regexp_extract(url, "
           "'^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), ':[0-9]*$', '')")
    return f"""
    WITH m AS ({_MESSY_URL_SQL}),
    g AS ({_gopher_quality_sql()}),
    scored AS (
      SELECT {dom} AS domain,
             (g.drop_reason IS NULL) AS keep,
             coalesce(CAST(strlen(m.text) AS BIGINT), 0) AS b
      FROM m JOIN g USING (doc_id)
    )
    SELECT domain,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           CAST(SUM(CASE WHEN keep THEN b ELSE 0 END) AS BIGINT)
               AS keep_bytes,
           CAST((10000 * SUM(CASE WHEN keep THEN 1 ELSE 0 END))
                // COUNT(*) AS BIGINT) AS keep_bp
    FROM scored GROUP BY domain ORDER BY domain
    """


def _gopher_repetition_oracle_sql() -> str:
    # bit-exact python twins (operators/gopher.py *_py) as literal VALUES —
    # the fitted_perplexity stance: same integer counts, same double
    # divisions, repr() round-trips the doubles.
    import duckdb

    from linguistjs_spark.operators import gopher as G

    con = duckdb.connect()
    rows = con.sql(
        "SELECT doc_id, text FROM "
        f"read_parquet('{_ORACLE_SF_DIR}/documents.parquet')"
    ).fetchall()
    con.close()
    vals = [
        (
            d,
            G.dup_line_char_ratio_py(t),
            G.dup_paragraph_ratio_py(t),
            G.dup_paragraph_char_ratio_py(t),
            G.top_ngram_char_ratio_py(t, 3),
            G.top_ngram_char_ratio_py(t, 4),
            G.dup_ngram_char_ratio_py(t, 5),
            G.dup_ngram_char_ratio_py(t, 10),
        )
        for d, t in rows
    ]
    cols = ("dup_line_chars", "dup_paras", "dup_para_chars", "top3", "top4",
            "dup5", "dup10")
    vnames = [f"v{i}" for i in range(1, len(cols) + 1)]
    casts = ", ".join(f"CAST({v} AS DOUBLE) AS {name}"
                      for v, name in zip(vnames, cols))
    nulls = ", ".join(f"CAST(NULL AS DOUBLE) {name}" for name in cols)
    return _values_sql(
        vals,
        "SELECT CAST(d AS BIGINT) AS doc_id, " + casts +
        " FROM (VALUES {values}) t(d, " + ", ".join(vnames) + ")",
        f"SELECT CAST(NULL AS BIGINT) doc_id, {nulls} WHERE FALSE",
    )


def _bloom_dedup_oracle_sql() -> str:
    # bit-exact hash twin (hash_twin.oracle_bloom_maybe_dup) as VALUES
    import duckdb

    from linguistjs_spark.hash_twin import oracle_bloom_maybe_dup

    con = duckdb.connect()
    rows = con.sql(
        "SELECT doc_id, text FROM "
        f"read_parquet('{_ORACLE_SF_DIR}/documents.parquet')"
    ).fetchall()
    con.close()
    corpus = [(d, t) for d, t in rows if d % 40 == 0]
    ref = [t for d, t in rows if d % 80 == 0]
    verdicts = oracle_bloom_maybe_dup(corpus, ref)
    vals = [(d, 1 if v else 0) for d, v in verdicts.items()]
    return _values_sql(
        vals,
        "SELECT CAST(d AS BIGINT) AS doc_id, v = 1 AS maybe_dup "
        "FROM (VALUES {values}) t(d, v)",
        "SELECT CAST(NULL AS BIGINT) doc_id, CAST(NULL AS BOOLEAN) "
        "maybe_dup WHERE FALSE",
    )


def _quality_funnel_oracle_sql() -> str:
    # hybrid restatement: the quality rule chain is the literal-SQL gopher
    # CTE; the repetition verdicts are the bit-exact python twin as VALUES
    # (0/1); the dup winner and the rollup are plain SQL windows/groupBy.
    import duckdb

    from linguistjs_spark.operators import gopher as G

    con = duckdb.connect()
    rows = con.sql(
        "SELECT doc_id, text FROM "
        f"read_parquet('{_ORACLE_SF_DIR}/documents.parquet')"
    ).fetchall()
    con.close()
    if not rows:
        return (
            "SELECT CAST(NULL AS VARCHAR) stage, CAST(NULL AS BIGINT) "
            "n_docs, CAST(NULL AS BIGINT) bytes WHERE FALSE"
        )
    values = ", ".join(
        f"({d}, {1 if G.gopher_repetition_exceeds_py(t) else 0})"
        for d, t in rows
    )
    return f"""
WITH gq AS ({_gopher_quality_sql(min_words=20, lang_gate=True)}),
rep AS (SELECT CAST(d AS BIGINT) AS doc_id, v = 1 AS rx
        FROM (VALUES {values}) t(d, v)),
base AS (SELECT doc_id, strlen(text) AS b,
                MIN(doc_id) OVER (PARTITION BY md5(text)) AS first_id
         FROM documents),
f AS (SELECT COALESCE(gq.drop_reason,
                      CASE WHEN rep.rx THEN 'gopher-repetition' END,
                      CASE WHEN base.doc_id <> base.first_id
                           THEN 'exact-dup' END,
                      'keep') AS stage,
             base.b
      FROM base JOIN gq USING (doc_id) JOIN rep USING (doc_id))
SELECT stage, COUNT(*) AS n_docs, CAST(SUM(b) AS BIGINT) AS bytes
FROM f GROUP BY stage
"""


def _stratified_sample_oracle_sql() -> str:
    # The xxhash64 twin re-runs the per-row sampling decision in python.
    import duckdb

    from linguistjs_spark.hash_twin import spark_xxhash64

    con = duckdb.connect()
    rows = con.sql(
        "SELECT doc_id, lang FROM "
        f"read_parquet('{_ORACLE_SF_DIR}/documents.parquet')"
    ).fetchall()
    con.close()
    fr = _SAMPLE_FRACTIONS
    vals = [
        (doc_id, lang)
        for doc_id, lang in rows
        if spark_xxhash64(int(doc_id), 7) % 1_000_000
        < int(fr.get(lang, 0.0) * 1_000_000)
    ]
    return _values_sql(
        vals,
        "SELECT CAST(d AS BIGINT) AS doc_id, l AS lang "
        "FROM (VALUES {values}) t(d, l)",
        "SELECT CAST(NULL AS BIGINT) doc_id, CAST(NULL AS VARCHAR) lang "
        "WHERE FALSE",
    )


def _training_mix_oracle_sql() -> str:
    # Chained-CTE restatement of the composed pipeline: md5-partitioned
    # min-id winners (same equivalence classes as the xxhash64 fingerprint
    # absent collisions), the string-domain 13-gram contamination set
    # (same shapes as _DECONTAMINATE_SQL), and the xxhash64 sampling twin
    # as a VALUES relation of per-doc decisions (the decision depends only
    # on (doc_id, lang), so it composes with any upstream filter).
    import duckdb

    from linguistjs_spark.hash_twin import spark_xxhash64

    con = duckdb.connect()
    rows = con.sql(
        "SELECT doc_id, lang FROM "
        f"read_parquet('{_ORACLE_SF_DIR}/documents.parquet')"
    ).fetchall()
    con.close()
    fr = _SAMPLE_FRACTIONS
    vals = [
        (int(doc_id),)
        for doc_id, lang in rows
        if spark_xxhash64(int(doc_id), 7) % 1_000_000
        < int(fr.get(lang, 0.0) * 1_000_000)
    ]
    sampled = _values_sql(
        vals,
        "SELECT CAST(d AS BIGINT) AS doc_id FROM (VALUES {values}) t(d)",
        "SELECT CAST(NULL AS BIGINT) doc_id WHERE FALSE",
    )
    return r"""
WITH winners AS (
  SELECT doc_id, lang, text FROM (
    SELECT doc_id, lang, text,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM documents) WHERE rn = 1
), wds AS (
  SELECT doc_id,
         list_filter(string_split(trim(lower(regexp_replace(
             text, '[ \t\r\n\f\x0B]+', ' ', 'g'))), ' '),
             x -> x <> '') AS words
  FROM documents
), shg AS (
  SELECT doc_id,
         CASE WHEN len(words) >= 13
              THEN list_distinct(list_transform(
                   range(1, len(words) - 11),
                   i -> array_to_string(words[i:i+12], ' ')))
              ELSE [array_to_string(words, ' ')] END AS sh
  FROM wds
), bench AS (
  SELECT DISTINCT unnest(sh) AS g FROM shg WHERE doc_id % 50 = 0
), contaminated AS (
  SELECT DISTINCT doc_id
  FROM (SELECT doc_id, unnest(sh) AS g FROM shg) grams
  JOIN bench USING (g)
), sampled AS (
  """ + sampled + r"""
)
SELECT w.lang AS lang, COUNT(*) AS n_docs,
       CAST(SUM(strlen(w.text)) AS BIGINT) AS bytes
FROM winners w
JOIN sampled s USING (doc_id)
WHERE w.doc_id NOT IN (SELECT doc_id FROM contaminated)
GROUP BY w.lang
"""


def _boilerplate_oracle_sql() -> str:
    # Twin-VALUES oracle (html_extract pattern): the pure-python twin —
    # pinned against the Spark column chain in tests/test_boilerplate.py —
    # recomputes the synthesized page, fragment labels, and the
    # boilerplate-stripped content per document; md5 over the content's
    # UTF-8 bytes makes the compare byte-exact.
    import hashlib

    import duckdb

    from linguistjs_spark.operators.boilerplate import (
        classify_fragments,
        synth_linked_html,
    )

    con = duckdb.connect()
    rows = con.sql(
        "SELECT doc_id, text FROM "
        f"read_parquet('{_ORACLE_SF_DIR}/documents.parquet')"
    ).fetchall()
    con.close()
    vals = []
    for doc_id, text in rows:
        frags = classify_fragments(synth_linked_html(doc_id, text))
        c = "\n".join(t for lab, t in frags if lab == "good")
        vals.append((
            doc_id,
            len(frags),
            sum(1 for lab, _ in frags if lab == "good"),
            len(c),
            hashlib.md5(c.encode("utf-8")).hexdigest(),
        ))
    return _values_sql(
        vals,
        "SELECT CAST(d AS BIGINT) AS doc_id, CAST(f AS INT) AS n_frags, "
        "CAST(g AS INT) AS n_good, CAST(l AS INT) AS content_len, "
        "m AS content_md5 FROM (VALUES {values}) t(d, f, g, l, m)",
        "SELECT CAST(NULL AS BIGINT) doc_id, CAST(NULL AS INT) n_frags, "
        "CAST(NULL AS INT) n_good, CAST(NULL AS INT) content_len, "
        "CAST(NULL AS VARCHAR) content_md5 WHERE FALSE",
    )


def _html_extract_oracle_sql() -> str:
    # Byte-identity oracle for the extraction stage: the pure-python twin
    # (pinned against the Spark column chain in tests/test_extract.py)
    # recomputes synth_html + extract_text per document and the md5 of the
    # extracted UTF-8 bytes is compared — any single-byte divergence between
    # the Spark chain and the twin flips the hash.
    import hashlib

    import duckdb

    from linguistjs_spark.operators.extract import extract_text, synth_html

    con = duckdb.connect()
    rows = con.sql(
        "SELECT doc_id, text FROM "
        f"read_parquet('{_ORACLE_SF_DIR}/documents.parquet')"
    ).fetchall()
    con.close()
    vals = []
    for doc_id, text in rows:
        e = extract_text(synth_html(doc_id, text))
        vals.append((doc_id, len(e), hashlib.md5(e.encode("utf-8")).hexdigest()))
    return _values_sql(
        vals,
        "SELECT CAST(d AS BIGINT) AS doc_id, CAST(l AS BIGINT) AS ext_len, "
        "m AS ext_md5 FROM (VALUES {values}) t(d, l, m)",
        "SELECT CAST(NULL AS BIGINT) doc_id, CAST(NULL AS BIGINT) ext_len, "
        "CAST(NULL AS VARCHAR) ext_md5 WHERE FALSE",
    )


# url_canonical: INDEPENDENT rebuild — the oracle does not re-run the
# canonicalizer on the messy url; it reconstructs the expected canonical
# form directly from (doc_id, source), so it proves canonicalization
# actually inverts every planted messiness (case, default port, fragment).
_URL_CANONICAL_SQL = """
SELECT doc_id,
       'https://' || lower(source) || '.example'
       || '/p/' || CAST(doc_id % 97 AS VARCHAR)
       || '/doc' || CAST(doc_id AS VARCHAR) AS url_canon,
       lower(source) || '.example' AS domain
FROM documents
"""

# shared structural canonicalizer for the dedup/rollup oracles (mirrors
# url_ops.canonical_url_col / domain_col; conservative RE2-safe regexes).
_CANON_EXPR = """
  CASE WHEN regexp_extract(regexp_replace(url, '#.*$', ''),
            '^([A-Za-z][A-Za-z0-9+.-]*)://', 1) = ''
       THEN regexp_replace(url, '#.*$', '')
       ELSE lower(regexp_extract(regexp_replace(url, '#.*$', ''),
                  '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) || '://'
            || (CASE
                WHEN lower(regexp_extract(regexp_replace(url, '#.*$', ''),
                     '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) = 'http'
                THEN regexp_replace(lower(regexp_extract(
                     regexp_replace(url, '#.*$', ''),
                     '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), ':80$', '')
                WHEN lower(regexp_extract(regexp_replace(url, '#.*$', ''),
                     '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) = 'https'
                THEN regexp_replace(lower(regexp_extract(
                     regexp_replace(url, '#.*$', ''),
                     '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), ':443$', '')
                ELSE lower(regexp_extract(regexp_replace(url, '#.*$', ''),
                     '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1))
                END)
            || (CASE WHEN regexp_replace(regexp_replace(url, '#.*$', ''),
                     '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '') = ''
                     THEN '/'
                     ELSE regexp_replace(regexp_replace(url, '#.*$', ''),
                          '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '') END)
  END
"""

_URL_DEDUP_SQL = f"""
WITH m AS ({_MESSY_URL_SQL}),
allc AS (
  SELECT url, warc_ts, text FROM m
  UNION ALL
  SELECT lower(url) || '#recrawl' AS url,
         warc_ts + INTERVAL 1 DAY AS warc_ts, text
  FROM m WHERE doc_id % 6 = 0
), canon AS (
  SELECT *, {_CANON_EXPR} AS url_canon FROM allc
), ranked AS (
  SELECT url_canon, url, warc_ts,
         row_number() OVER (PARTITION BY url_canon
                            ORDER BY warc_ts DESC, url DESC) AS rk,
         count(*) OVER (PARTITION BY url_canon) AS n_crawls
  FROM canon
)
SELECT url_canon, CAST(n_crawls AS BIGINT) AS n_crawls,
       CAST(epoch(warc_ts) AS BIGINT) AS win_ts, url AS win_url
FROM ranked WHERE rk = 1
"""

_DOMAIN_ROLLUP_SQL = f"""
WITH m AS ({_MESSY_URL_SQL}),
canon AS (
  SELECT regexp_replace(lower(regexp_extract(url,
           '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), ':[0-9]*$', '')
           AS domain,
         octet_length(CAST(text AS BLOB)) AS bytes,
         {_CANON_EXPR} AS url_canon
  FROM m
)
SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(bytes) AS BIGINT) AS total_bytes,
       CAST(count(DISTINCT url_canon) AS BIGINT) AS n_urls
FROM canon GROUP BY domain
"""


# decontaminate: string-domain restatement of the 13-gram probe (same
# tokenization CTE as _MINHASH_PAIRS_SQL; the Spark side joins on xxhash64
# of the identical space-joined windows).
_DECONTAMINATE_SQL = r"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split(trim(lower(regexp_replace(
             text, '[ \t\r\n\f\x0B]+', ' ', 'g'))), ' '),
             x -> x <> '') AS words
  FROM documents
), s AS (
  SELECT doc_id,
         CASE WHEN len(words) >= 13
              THEN list_distinct(list_transform(
                   range(1, len(words) - 11),
                   i -> array_to_string(words[i:i+12], ' ')))
              ELSE [array_to_string(words, ' ')] END AS sh
  FROM w
), bench AS (
  SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % 50 = 0
), grams AS (
  SELECT doc_id, unnest(sh) AS g FROM s
), hits AS (
  SELECT doc_id, count(*) AS n_hits
  FROM grams JOIN bench USING (g) GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       coalesce(h.n_hits, 0) > 0 AS is_contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
"""


# near_dup_clusters: connected components over the string-domain pair
# list (same pairs as _MINHASH_PAIRS_SQL) via a recursive CTE — min
# reachable id per node == the Spark label-propagation fixpoint.
def _near_dup_clusters_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS (
  SELECT a, b FROM ({_MINHASH_PAIRS_SQL})
), edges AS (
  SELECT a AS s, b AS d FROM pairs UNION SELECT b, a FROM pairs
), reach(node, r) AS (
  SELECT s, s FROM edges
  UNION
  SELECT e.s, r.r FROM edges e JOIN reach r ON e.d = r.node
)
SELECT CAST(node AS BIGINT) AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
FROM reach GROUP BY node
"""


def _dedup_keep_policy_sql() -> str:
    """Window restatement of cluster_representatives: rank members by
    (bytes DESC, doc_id ASC), keep rn=1, n_members via a partition
    count."""
    return f"""
WITH ranked AS (
  SELECT c.cluster_id, c.doc_id,
         coalesce(CAST(strlen(d.text) AS DOUBLE), -1.0) AS q,
         ROW_NUMBER() OVER (
           PARTITION BY c.cluster_id
           ORDER BY coalesce(CAST(strlen(d.text) AS DOUBLE), -1.0) DESC,
                    c.doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY c.cluster_id) AS nm
  FROM ({_near_dup_clusters_sql()}) c
  JOIN documents d USING (doc_id)
)
SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(doc_id AS BIGINT) AS rep_id,
       CAST(nm AS BIGINT) AS n_members,
       q AS rep_quality
FROM ranked WHERE rn = 1 ORDER BY cluster_id
"""


# c4_clean: line-domain restatement (same split/trim/word-count/terminal-
# punct logic); md5 over the rewritten text = byte-identity compare.
_C4_CLEAN_SQL = r"""
WITH page AS (
  SELECT doc_id,
         'Home' || chr(10) || 'About Us' || chr(10) || text || '.'
         || chr(10) || 'Read more' || chr(10)
         || 'Copyright 2026 Example Inc.' || chr(10) || text AS p
  FROM documents
), cleaned AS (
  SELECT doc_id,
         coalesce(array_to_string(list_filter(string_split_regex(p, '\r?\n'),
           l -> len(list_filter(string_split_regex(trim(l),
                    '[ \t\r\n\f\x0B]+'), x -> x <> '')) >= 3
                AND regexp_matches(trim(l), '[.!?"]$')), chr(10)), '') AS clean
  FROM page
)
SELECT doc_id, md5(clean) AS clean_md5, length(clean) AS clean_len
FROM cleaned
"""


# repetition_scores: word-domain restatement; the tie-break (smallest
# bigram at max count) matches the Spark fold's strictly-greater update
# over the ascending-sorted bigram array.
_REPETITION_SQL = r"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '[ \t\r\n\f\x0B]+'),
             x -> x <> '') AS words,
         length(text) AS n_chars
  FROM documents
), b AS (
  SELECT doc_id, n_chars,
         unnest(list_transform(range(1, len(words)),
                               i -> words[i] || ' ' || words[i+1])) AS bg
  FROM w WHERE len(words) >= 2
), c AS (
  SELECT doc_id, n_chars, bg, count(*) AS cnt
  FROM b GROUP BY doc_id, n_chars, bg
), top AS (
  SELECT doc_id, n_chars, bg, cnt,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY cnt DESC, bg ASC) AS rk
  FROM c
)
SELECT d.doc_id,
       coalesce(CAST(t.cnt * length(t.bg) AS DOUBLE) / nullif(d_len, 0), 0.0)
         AS top_bigram_ratio
FROM (SELECT doc_id, length(text) AS d_len FROM documents) d
LEFT JOIN (SELECT * FROM top WHERE rk = 1) t USING (doc_id)
"""


# paragraph_dedup: full string-domain restatement of the CCNet-style
# paragraph dedup (DuckDB partitions by paragraph text where Spark uses the
# xxhash64 fingerprint — identical equivalence classes absent 64-bit
# collisions). md5 over the reassembled text = byte-identity compare.
_PARAGRAPH_DEDUP_SQL = r"""
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
), paras AS (
  SELECT doc_id,
         unnest(list_transform(string_split_regex(text, '\r?\n'),
                               (p, i) -> struct_pack(pos := i, para := p))) AS s
  FROM base
), flat AS (
  SELECT doc_id, s.pos AS pos, s.para AS para FROM paras
), ranked AS (
  SELECT doc_id, pos, para,
         row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rk
  FROM flat WHERE length(para) >= 8
), kept AS (
  SELECT doc_id, pos, para FROM ranked WHERE rk = 1
  UNION ALL
  SELECT doc_id, pos, para FROM flat WHERE length(para) < 8
), agg AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(para, chr(10) ORDER BY pos) AS text_dedup
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       len(string_split_regex(d.text, '\r?\n')) AS n_paras,
       CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
       md5(coalesce(a.text_dedup, '')) AS dedup_md5
FROM base d LEFT JOIN agg a USING (doc_id)
"""


def _ivf_ann_oracle_sql() -> str:
    from linguistjs_spark.ann_twin import ivf_topk_expected

    rows = ivf_topk_expected(_ORACLE_SF_DIR, query_id=2, k=10, n_centroids=16,
                             n_probe=4, iters=5)
    return _values_sql(
        rows,
        "SELECT CAST(v AS BIGINT) AS vec_id, CAST(s AS DOUBLE) AS score_r "
        "FROM (VALUES {values}) t(v, s)",
        "SELECT CAST(NULL AS BIGINT) vec_id, CAST(NULL AS DOUBLE) score_r "
        "WHERE FALSE",
    )


# minhash_pairs: the LSH banding is only candidate PRUNING — the verified
# output contract is "every pair with exact shingle-Jaccard >= threshold".
# The oracle restates that contract EXHAUSTIVELY in the string domain
# (hash-domain set sizes == string-domain set sizes absent 64-bit
# collisions), so it doubles as a 100%-recall check on the banding.
_MINHASH_PAIRS_SQL = r"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split(trim(lower(regexp_replace(
                 text, '[ \t\r\n\f\x0B]+', ' ', 'g'))), ' '),
                 x -> x <> '') AS words
      FROM documents
    ), s AS (
      SELECT doc_id,
             CASE WHEN len(words) >= 3
                  THEN list_distinct(list_transform(
                       range(1, len(words) - 1),
                       i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
                  ELSE [array_to_string(words, ' ')] END AS sh
      FROM w
    )
    SELECT a.doc_id AS a, b.doc_id AS b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
    FROM s a, s b
    WHERE a.doc_id < b.doc_id
      AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
"""

# embedding_near_dup: exhaustive all-pairs cosine over base + planted
# vectors — the LSH bucket join with multi-probe must recover exactly the
# >= threshold set, so this oracle is also a recall check.
_EMB_NEAR_DUP_SQL = """
    WITH all_v AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000, list_transform(embedding::DOUBLE[], x -> x * 1.25)
      FROM embeddings WHERE vec_id < 8
    ), pairs AS (
      SELECT a.vec_id AS a, b.vec_id AS b,
             list_inner_product(a.v, b.v)
               / SQRT(list_inner_product(a.v, a.v) * list_inner_product(b.v, b.v))
               AS score
      FROM all_v a, all_v b WHERE a.vec_id < b.vec_id
    )
    SELECT a, b, ROUND(score, 4) AS score_r FROM pairs WHERE score >= 0.9
    ORDER BY a, b
"""

# media_features: the deterministic fake-decode contract of
# multimodal._decode_one over multimodal.synthetic_media_df(64), restated as
# arithmetic over range(64) — payload length is 32 + i % 100.
_MEDIA_FEATURES_SQL = """
    SELECT i AS doc_id,
           CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                ELSE 'video' END AS media_type,
           CAST(32 + i % 100 AS BIGINT) AS n_bytes,
           CAST((32 + i % 100) % 64 + 1 AS INT) AS feat_width,
           CAST(((32 + i % 100) // 64) % 64 + 1 AS INT) AS feat_height,
           CAST(CASE WHEN i % 3 = 0 THEN 1
                     ELSE (32 + i % 100) % 30 + 1 END AS INT) AS frame_count
    FROM range(64) t(i)
"""

_DEDUP_CARDINALITY_SQL = r"""
    SELECT COUNT(*) AS n_docs,
           COUNT(DISTINCT trim(lower(regexp_replace(
               text, '[ \t\r\n\f\x0B]+', ' ', 'g')))) AS n_unique_exact,
           TRUE AS approx_ok
    FROM documents
"""


def _pipeline_labels_oracle_sql() -> str:
    r"""Full-label restatement of run_pipeline over pages_from_documents with
    the default config: url synthesis, cascade CASE, Gopher/C4 quality
    chain, toxicity ratio, and the langid argmax with BOTH script and
    stopword scores (script classes converted to RE2 \x{...} ranges).
    Verified to match all 500 sf0.01 rows including non-ASCII documents."""
    import re as _re

    from linguistjs_spark.metadata import load_langid_config, load_scrub_config

    conf = load_langid_config()
    langs = sorted(set(conf["stopword_langs"]) | set(conf["script_langs"]))
    terms = []
    for rank, lang in enumerate(langs):
        parts = []
        if lang in conf["script_langs"]:
            pat = _re.sub("\\\\u([0-9a-fA-F]{4})", "\\\\x{\\1}",
                          conf["script_langs"][lang])
            parts.append(
                f"CASE WHEN has_na THEN 3 * len(regexp_extract_all(text, "
                f"'{pat}')) ELSE 0 END"
            )
        if lang in conf["stopword_langs"]:
            words = ", ".join(
                f"'{w}'" for w in sorted(set(conf["stopword_langs"][lang]))
            )
            parts.append(
                f"len(list_filter(toks, x -> list_contains([{words}], x)))"
            )
        terms.append("(" + " + ".join(parts) + f") * 100000 + {rank}")
    decode = " ".join(f"WHEN {rank} THEN '{lang}'" for rank, lang in enumerate(langs))
    min_hits = conf["min_confidence_hits"]
    best = f"GREATEST({', '.join(terms)})"
    tox = ", ".join(f"'{w}'" for w in sorted(set(load_scrub_config()["toxicity_words"])))
    return f"""
WITH base AS (
  SELECT doc_id, text,
         'https://' || source || '.example/p/' || CAST(doc_id % 97 AS VARCHAR)
           || '/doc' || CAST(doc_id AS VARCHAR) || '.' ||
           (CASE doc_id % 10 WHEN 0 THEN 'txt' WHEN 1 THEN 'html.txt'
             WHEN 2 THEN 'md' WHEN 3 THEN 'js' WHEN 4 THEN 'py' WHEN 5 THEN 'cs'
             WHEN 6 THEN 'fr' WHEN 7 THEN 'php' WHEN 8 THEN 'ecl'
             ELSE 'asc' END) AS url,
         {_CASCADE_CASE} AS lang,
         string_split_regex(lower(text), '\\W+') AS toks,
         regexp_matches(text, '[^\\x00-\\x7F]') AS has_na,
         len({_WORDS}) AS n_words,
         CASE WHEN len({_WORDS}) > 0
              THEN CAST(list_sum(list_transform({_WORDS}, x -> length(x))) AS DOUBLE)
                   / len({_WORDS})
              ELSE 0.0 END AS mean_wl,
         CASE WHEN length(text) > 0
              THEN CAST(len(regexp_extract_all(text, '[#<>{{}}\\[\\]\\^~|]')) AS DOUBLE)
                   / length(text)
              ELSE 0.0 END AS sym_ratio,
         CASE WHEN len({_NONBLANK}) > 0
              THEN 1.0 - CAST(len(list_distinct({_NONBLANK})) AS DOUBLE)
                   / len({_NONBLANK})
              ELSE 0.0 END AS dup_ratio
  FROM documents
), scored AS (
  SELECT *,
         len(list_filter(toks, x -> list_contains([{tox}], x))) AS tox_hits,
         {best} AS best
  FROM base
), lab AS (
  SELECT url, lang,
         CASE WHEN n_words < 5 OR n_words > 1000000 THEN 'quality-words'
              WHEN mean_wl < 2.0 OR mean_wl > 12.0 THEN 'quality-word-length'
              WHEN sym_ratio > 0.25 THEN 'quality-symbols'
              WHEN dup_ratio > 0.6 THEN 'quality-dup-lines'
              WHEN n_words > 0 AND CAST(tox_hits AS DOUBLE) / n_words > 0.1
                   THEN 'toxicity'
              ELSE 'classified' END AS keep_reason,
         CASE WHEN best // 100000 >= {min_hits}
              THEN CASE best % 100000 {decode} END END AS nl_lang
  FROM scored
)
SELECT url, keep_reason = 'classified' AS keep, keep_reason, lang, nl_lang
FROM lab
"""


# string-domain restatement of duplicated_span_stats over the same planted
# corpus as q_duplicated_spans (hash-domain == string-domain counts absent
# 64-bit collisions; NULL/short texts fall back to one whole-text span,
# coalesced to '' so the string join matches the hash domain's non-null key)
_DUPLICATED_SPANS_SQL = r"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 15
), w AS (
  SELECT doc_id, list_filter(string_split(trim(lower(regexp_replace(
      text, '[ \t\r\n\f\x0B]+', ' ', 'g'))), ' '), x -> x <> '') AS words
  FROM corpus
), s AS (
  SELECT doc_id, unnest(CASE WHEN len(words) >= 20
       THEN list_distinct(list_transform(range(1, len(words) - 18),
            i -> array_to_string(words[i:i+19], ' ')))
       ELSE [coalesce(array_to_string(words, ' '), '')] END) AS span
  FROM w
), f AS (SELECT span, COUNT(*) AS df FROM s GROUP BY span)
SELECT s.doc_id, COUNT(*) AS n_spans,
       CAST(SUM(CASE WHEN f.df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
       CAST(ROUND(1000000.0 * SUM(CASE WHEN f.df > 1 THEN 1 ELSE 0 END)
            / COUNT(*)) AS BIGINT) AS dup_ratio_ppm
FROM s JOIN f USING (span)
GROUP BY s.doc_id
"""


def _dsir_oracle_sql() -> str:
    # python twin refit + rescore: identical integer counts -> identical
    # IEEE weights -> identical ordered-fold doubles (no tolerance needed)
    import duckdb

    from linguistjs_spark.operators.training_select import (
        twin_features, twin_fit_weights, twin_score)

    con = duckdb.connect()
    rows = con.sql(
        "SELECT doc_id, text, source FROM "
        f"read_parquet('{_ORACLE_SF_DIR}/documents.parquet')"
    ).fetchall()
    con.close()
    weights = twin_fit_weights(
        [t for _, t, s in rows if s in ("src0", "src1")],
        [t for _, t, _ in rows],
        1024,
    )
    vals = [
        (int(d), len(twin_features(t, 1024)), twin_score(t, weights))
        for d, t, _ in rows
    ]
    return _values_sql(
        vals,
        "SELECT CAST(d AS BIGINT) AS doc_id, CAST(n AS BIGINT) AS n_feats, "
        "CAST(s AS DOUBLE) AS dsir_score FROM (VALUES {values}) t(d, n, s)",
        "SELECT CAST(NULL AS BIGINT) doc_id, CAST(NULL AS BIGINT) n_feats, "
        "CAST(NULL AS DOUBLE) dsir_score WHERE FALSE",
    )


def _semantic_dedup_oracle_sql() -> str:
    from linguistjs_spark.ann_twin import semantic_dedup_expected

    rows = semantic_dedup_expected(_ORACLE_SF_DIR, n_centroids=8, threshold=0.95)
    vals = ", ".join(
        f"({v}, {c}, {str(bool(k)).upper()}, "
        f"{d if d is not None else 'NULL'})"
        for v, c, k, d in rows
    )
    return (
        "SELECT CAST(v AS BIGINT) AS vec_id, CAST(c AS BIGINT) AS centroid, "
        "CAST(k AS BOOLEAN) AS keep, CAST(d AS BIGINT) AS dup_of "
        f"FROM (VALUES {vals}) t(v, c, k, d)"
    )


# Winnowing restated in DuckDB list algebra (k=5-word shingles, window w=4,
# portable 31-base polynomial hash mod 1e9+7 — list_reduce without an init
# seeds from the first element, and (0*31+c1)==c1, so the fold equals
# fingerprint.poly_hash_col bit-for-bit). {src} is the corpus CTE body.
_WINNOW_CTE = """
WITH corpus AS ({src}
), wd AS (
  SELECT doc_id, list_filter(string_split(trim(lower(regexp_replace(
      text, '[ \\t\\r\\n\\f\\x0B]+', ' ', 'g'))), ' '), x -> x <> '') AS words
  FROM corpus
), sh AS (
  SELECT doc_id, len(words) AS n_words,
    CASE WHEN len(words) >= 5
      THEN list_transform(range(1, len(words) - 3),
           i -> array_to_string(words[i:i+4], ' '))
      WHEN len(words) >= 1 THEN [array_to_string(words, ' ')]
      ELSE [] END AS shingles
  FROM wd
), hs AS (
  SELECT doc_id, len(shingles) AS n_shingles,
    list_transform(shingles, s -> list_reduce(
        list_transform(range(1, length(s)+1),
                       j -> CAST(ascii(substring(s, j, 1)) AS BIGINT)),
        (a, b) -> (a * 31 + b) % 1000000007)) AS h
  FROM sh
), fp AS (
  SELECT doc_id, n_shingles,
    CASE WHEN len(h) >= 4
      THEN list_distinct(list_transform(range(1, len(h) - 2),
           i -> list_aggregate(h[i:i+3], 'min')))
      WHEN len(h) >= 1 THEN [list_aggregate(h, 'min')]
      ELSE [] END AS fps
  FROM hs
)"""


def _model_margin_ctes() -> str:
    """Shared CTE chain for the model-tier oracles: the quantized
    word-logit table as VALUES, DuckDB's own tokenize/join/aggregate, and
    per-doc (n_toks, margin). Bit-equality holds because the logits are
    2^-20 dyadics (order-free exact sums) and the margin uses the
    identical (s0/n) - (s1/n) operation order on both engines."""
    from linguistjs_spark.fasttext_bin import load_model
    from linguistjs_spark.operators.model_filter import (
        FASTTEXT_WS_RE, word_logit_rows)

    model = load_model(_demo_quality_model_path())
    rows = word_logit_rows(model)
    vals = ", ".join(
        f"({_sql_str(w)}, {l[0]!r}, {l[1]!r})" for w, l in rows
    )
    return f"""
L(word, l0, l1) AS (VALUES {vals}),
t AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(text, '{FASTTEXT_WS_RE}'),
                            x -> x <> '')) AS word
  FROM documents
),
m AS (
  SELECT t.doc_id, count(L.word) AS n_toks,
         sum(L.l0) AS s0, sum(L.l1) AS s1
  FROM t LEFT JOIN L USING (word)
  GROUP BY t.doc_id
),
s AS (
  SELECT d.*, COALESCE(m.n_toks, 0) AS n_toks,
         CASE WHEN m.n_toks > 0
              THEN (m.s0 / m.n_toks) - (m.s1 / m.n_toks) END AS margin
  FROM documents d LEFT JOIN m USING (doc_id)
)"""


def _model_quality_oracle_sql() -> str:
    """Full SQL restatement (NOT a twin pin) — see _model_margin_ctes."""
    from linguistjs_spark.operators.model_filter import margin_threshold

    thr = repr(margin_threshold(0.6))
    return f"""
WITH {_model_margin_ctes()}
SELECT doc_id,
       CAST(n_toks AS BIGINT) AS n_toks,
       margin,
       COALESCE(n_toks > 0 AND margin >= {thr}, FALSE) AS keep
FROM s
"""


def _model_quality_buckets_oracle_sql() -> str:
    return f"""
WITH {_model_margin_ctes()},
tiers AS (
  SELECT lang, margin,
         CASE NTILE(3) OVER (PARTITION BY lang
                             ORDER BY (0 - margin), doc_id)
              WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
              ELSE 'tail' END AS bucket
  FROM s WHERE n_toks > 0),
uns AS (SELECT lang, margin, 'unscored' AS bucket FROM s WHERE n_toks = 0)
SELECT lang, bucket, COUNT(*) AS n_docs,
       MIN(margin) AS min_margin, MAX(margin) AS max_margin
FROM (SELECT * FROM tiers UNION ALL SELECT * FROM uns)
GROUP BY lang, bucket
"""


def _sql_str(s: str) -> str:
    """SQL string literal (repr() is wrong for strings containing quotes:
    python may emit double-quoted forms DuckDB reads as identifiers)."""
    return "'" + s.replace("'", "''") + "'"


import functools as _functools


@_functools.lru_cache(maxsize=4)
def _bpe_twin(num_merges: int = 12):
    """Shared twin run for the THREE BPE oracles: (id,text) rows, word
    counts, and merges learned locally (independent reimplementation,
    pinned bit-for-bit against the Spark fold in tests/test_bpe.py) over
    the oracle SF's documents. lru_cached so the three oracles, and repeat
    oracle_sql() calls, learn the merges once."""
    import duckdb

    from linguistjs_spark.operators.bpe import (
        learn_bpe_local, word_counts_local)

    con = duckdb.connect()
    rows = con.sql(
        "SELECT doc_id, text FROM "
        f"read_parquet('{_ORACLE_SF_DIR}/documents.parquet')"
    ).fetchall()
    con.close()
    wc = word_counts_local([t for _, t in rows])
    merges, _ = learn_bpe_local(wc, num_merges=num_merges)
    return tuple(rows), wc, merges


def _bpe_merges_oracle_sql() -> str:
    _, _, merges = _bpe_twin()
    vals = ", ".join(
        f"({r}, {_sql_str(a)}, {_sql_str(b)}, {n})"
        for r, a, b, n in merges
    )
    if not merges:
        return ("SELECT CAST(NULL AS BIGINT) rank, CAST(NULL AS VARCHAR) "
                "\"left\", CAST(NULL AS VARCHAR) \"right\", CAST(NULL AS "
                "BIGINT) pair_count WHERE FALSE")
    return (
        "SELECT CAST(r AS BIGINT) AS rank, a AS \"left\", b AS \"right\", "
        f"CAST(n AS BIGINT) AS pair_count FROM (VALUES {vals}) t(r, a, b, n)"
    )


def _bpe_token_counts_oracle_sql() -> str:
    from linguistjs_spark.operators.bpe import token_counts_local

    _, wc, merges = _bpe_twin()
    counts = token_counts_local(wc, merges)
    top = sorted(
        counts.items(), key=lambda kv: (-kv[1], kv[0].encode("utf-8"))
    )[:40]
    vals = ", ".join(f"({_sql_str(t)}, {n})" for t, n in top)
    return (
        "SELECT tok AS token, CAST(n AS BIGINT) AS n "
        f"FROM (VALUES {vals}) t(tok, n)"
    )


def _bpe_packing_oracle_sql() -> str:
    """Twin doc-token counts as VALUES, then the identical window-cumsum /
    rollup restatement the sequence_packing oracle uses (256-token packs,
    bucket = doc_id % 16)."""
    from linguistjs_spark.operators.bpe import doc_token_counts_local

    rows, _, merges = _bpe_twin()
    counts = doc_token_counts_local(rows, merges)
    vals = ", ".join(f"({d}, {n})" for d, n in sorted(counts.items()))
    return f"""
WITH t AS (
  SELECT CAST(d AS BIGINT) AS doc_id, d % 16 AS bucket,
         CAST(n AS BIGINT) AS n_tok
  FROM (VALUES {vals}) v(d, n)),
p AS (
  SELECT doc_id, bucket, n_tok,
         COALESCE(SUM(n_tok) OVER (PARTITION BY bucket ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
  FROM t)
SELECT CAST(bucket AS BIGINT) AS bucket, COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       CAST(FLOOR((SUM(n_tok) - 1) / 256) + 1 AS BIGINT) AS n_packs,
       CAST(SUM(CASE WHEN GREATEST(FLOOR(o / 256),
                     FLOOR((o + n_tok - 1) / 256)) > FLOOR(o / 256)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_straddling,
       CAST(SUM(FLOOR(o / 256) * doc_id) AS BIGINT) AS assign_checksum
FROM p GROUP BY bucket
"""


# ---------------------------------------------------------------------------
# registry: one row per query, name -> (query, oracle). The oracle is the
# DuckDB SQL itself or the zero-argument function that makes it; that function
# runs only when its own entry's oracle is asked for.
# ---------------------------------------------------------------------------

_REGISTRY: dict[
    str, tuple[Callable[[SparkSession, str], DataFrame], str | Callable[[], str]]
] = {
    "model_quality": (q_model_quality, _model_quality_oracle_sql),
    "bpe_packing": (q_bpe_packing, _bpe_packing_oracle_sql),
    "bm25_topk": (q_bm25_topk, _functools.partial(bm25_oracle_sql, _BM25_TERMS, k=25)),
    "readability_bands": (q_readability_bands, _readability_oracle_sql),
    "keywords_topk": (q_keywords_topk, _functools.partial(keyword_topk_oracle_sql, k=3)),
    "model_quality_buckets": (q_model_quality_buckets, _model_quality_buckets_oracle_sql),
    "bpe_merges": (q_bpe_merges, _bpe_merges_oracle_sql),
    "bpe_token_counts": (q_bpe_token_counts, _bpe_token_counts_oracle_sql),
    "crawl_politeness": (q_crawl_politeness, f"""
WITH frontier AS ({_MESSY_URL_SQL}),
ranked AS (
  SELECT doc_id,
         lower(source) || '.example' AS host,
         ROW_NUMBER() OVER (
           PARTITION BY lower(source) || '.example'
           ORDER BY (doc_id % 5) DESC, url ASC
         ) - 1 AS rn
  FROM frontier JOIN documents USING (doc_id)
)
SELECT doc_id, host,
       CAST(rn // 7 AS BIGINT) AS batch,
       CAST(rn % 7 AS BIGINT) AS slot
FROM ranked
"""),
    "lang_bytes_rollup": (q_lang_bytes_rollup, (
        "SELECT lang, CAST(SUM(strlen(text)) AS BIGINT) AS bytes, "
        "COUNT(*) AS n_docs FROM documents GROUP BY lang"
    )),
    "line_metrics_totals": (q_line_metrics_totals, (
        f"SELECT CAST(SUM(len({_LINES})) AS BIGINT) AS lines_total, "
        f"CAST(SUM(len({_NONBLANK})) AS BIGINT) AS lines_content, "
        "COUNT(*) AS n_docs FROM documents"
    )),
    "quality_keep_by_lang": (q_quality_keep_by_lang, _QUALITY_CTE + """
            SELECT lang, COUNT(*) AS n_docs,
                   CAST(SUM(CASE WHEN n_words BETWEEN 5 AND 1000000
                                  AND mean_wl BETWEEN 2.0 AND 12.0
                                  AND sym_ratio <= 0.25
                                  AND dup_ratio <= 0.6 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
                   CAST(SUM(CASE WHEN n_words < 5 OR n_words > 1000000
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_words
            FROM q GROUP BY lang
        """),
    "scrub_pii": (q_scrub_pii, (
        "SELECT doc_id, " + _SCRUB_SQL_CHAIN + " AS scrubbed "
        "FROM documents WHERE doc_id % 20 = 0"
    )),
    "token_count_by_source": (q_token_count_by_source, (
        f"SELECT source, CAST(SUM(len({_WORDS})) AS BIGINT) AS n_tokens, "
        "CAST(SUM(len(regexp_extract_all(text, "
        "'[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]'))) AS BIGINT) AS n_bpe_tokens, "
        "CAST(SUM(strlen(text)) AS BIGINT) AS bytes "
        "FROM documents GROUP BY source"
    )),
    "exact_dedup": (q_exact_dedup, (
        "SELECT COUNT(*) AS n_docs, COUNT(DISTINCT md5(text)) AS n_unique "
        "FROM documents"
    )),
    "cascade_extmap": (q_cascade_extmap, (
        "SELECT lang, COUNT(*) AS n_docs, CAST(SUM(strlen(text)) AS BIGINT) AS bytes "
        f"FROM (SELECT {_CASCADE_CASE} AS lang, text FROM documents) GROUP BY lang"
    )),
    "keep_reason_rollup": (q_keep_reason_rollup, f"""
            WITH q AS (
              SELECT doc_id, text,
                     len({_WORDS}) AS n_words,
                     CASE WHEN len({_WORDS}) > 0
                          THEN CAST(list_sum(list_transform({_WORDS}, x -> length(x))) AS DOUBLE)
                               / len({_WORDS})
                          ELSE 0.0 END AS mean_wl,
                     CASE WHEN length(text) > 0
                          THEN CAST(len(regexp_extract_all(text, '[#<>{{}}\\[\\]\\\\^~|]')) AS DOUBLE)
                               / length(text)
                          ELSE 0.0 END AS sym_ratio,
                     CASE WHEN len({_NONBLANK}) > 0
                          THEN 1.0 - CAST(len(list_distinct({_NONBLANK})) AS DOUBLE)
                               / len({_NONBLANK})
                          ELSE 0.0 END AS dup_ratio
              FROM documents
            ),
            lab AS (
              SELECT {_CASCADE_CASE} AS lang,
                     CASE WHEN n_words < 5 OR n_words > 1000000 THEN 'quality-words'
                          WHEN mean_wl < 2.0 OR mean_wl > 12.0 THEN 'quality-word-length'
                          WHEN sym_ratio > 0.25 THEN 'quality-symbols'
                          WHEN dup_ratio > 0.6 THEN 'quality-dup-lines'
                          ELSE 'classified' END AS keep_reason,
                     strlen(text) AS b
              FROM q
            )
            SELECT lang, keep_reason, COUNT(*) AS n_docs,
                   CAST(SUM(CASE WHEN keep_reason = 'classified' THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
                   CAST(SUM(b) AS BIGINT) AS bytes,
                   CAST(GROUPING(lang, keep_reason) AS BIGINT) AS grp
            FROM lab
            GROUP BY GROUPING SETS ((lang, keep_reason), (lang), ())
        """),
    "unknown_rollup": (q_unknown_rollup, (
        # doc_id%10==0 rows lose their .txt ext -> filename 'docN' unknown;
        # everything else classifies to a language
        "SELECT 'filenames' AS kind, 'doc' || CAST(doc_id AS VARCHAR) AS name, "
        "CAST(strlen(text) AS BIGINT) AS bytes, CAST(1 AS BIGINT) AS n_docs "
        "FROM documents WHERE doc_id % 10 = 0 ORDER BY kind, name"
    )),
    "minsize_other": (q_minsize_other, (
        "WITH r AS (SELECT lang, CAST(SUM(strlen(text)) AS BIGINT) AS bytes, "
        "COUNT(*) AS n_docs FROM documents GROUP BY lang) "
        "SELECT CASE WHEN bytes < 40000 THEN 'Other' ELSE lang END AS lang, "
        "CAST(SUM(bytes) AS BIGINT) AS bytes, CAST(SUM(n_docs) AS BIGINT) AS n_docs "
        "FROM r GROUP BY 1"
    )),
    "top_langs": (q_top_langs, (
        "WITH r AS (SELECT lang, CAST(SUM(strlen(text)) AS BIGINT) AS bytes "
        "FROM documents GROUP BY lang), t AS (SELECT SUM(bytes) AS _t FROM r) "
        "SELECT lang, bytes, CAST(10000 * bytes // _t AS BIGINT) AS pct_bp "
        "FROM r, t ORDER BY bytes DESC, lang ASC LIMIT 5"
    )),
    "ann_topk": (q_ann_topk, (
        "SELECT vec_id, ROUND(list_inner_product(embedding::DOUBLE[], q.qv) / "
        "SQRT(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) * "
        "list_inner_product(q.qv, q.qv)), 4) AS score_r "
        "FROM embeddings, (SELECT embedding::DOUBLE[] AS qv FROM embeddings "
        "WHERE vec_id = 0) q "
        "ORDER BY list_inner_product(embedding::DOUBLE[], q.qv) / "
        "SQRT(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) * "
        "list_inner_product(q.qv, q.qv)) DESC, vec_id ASC LIMIT 10"
    )),
    "cross_corpus_dedup": (q_cross_corpus_dedup, r"""
            WITH w AS (
              SELECT doc_id,
                     list_filter(string_split(trim(lower(regexp_replace(
                         text, '[ \t\r\n\f\x0B]+', ' ', 'g'))), ' '),
                         x -> x <> '') AS words
              FROM documents
            ), s AS (
              SELECT doc_id,
                     CASE WHEN len(words) >= 3
                          THEN list_distinct(list_transform(
                               range(1, len(words) - 1),
                               i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
                          ELSE [array_to_string(words, ' ')] END AS sh
              FROM w
            ), pairs AS (
              SELECT c.doc_id, r.doc_id + 1000000 AS ref_id,
                     CAST(len(list_intersect(c.sh, r.sh)) AS DOUBLE)
                       / len(list_distinct(list_concat(c.sh, r.sh))) AS jaccard
              FROM s c, s r
              WHERE c.doc_id % 40 = 0 AND r.doc_id % 80 = 0
            ), hits AS (
              SELECT * FROM pairs WHERE jaccard >= 0.5
            )
            SELECT doc_id, ref_id, jaccard
            FROM (SELECT doc_id, ref_id, jaccard,
                         ROW_NUMBER() OVER (PARTITION BY doc_id
                             ORDER BY jaccard DESC, ref_id ASC) AS rn
                  FROM hits)
            WHERE rn = 1
        """),
    "jaccard_pairs": (q_jaccard_pairs, r"""
            WITH w AS (
              SELECT doc_id,
                     list_filter(string_split(trim(lower(regexp_replace(
                         text, '[ \t\r\n\f\x0B]+', ' ', 'g'))), ' '),
                         x -> x <> '') AS words
              FROM documents WHERE doc_id < 30
            ), s AS (
              SELECT doc_id,
                     CASE WHEN len(words) >= 3
                          THEN list_distinct(list_transform(
                               range(1, len(words) - 1),
                               i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
                          ELSE [array_to_string(words, ' ')] END AS sh
              FROM w
            )
            SELECT a.doc_id AS a, b.doc_id AS b,
                   CAST(ROUND(1000000.0 * len(list_intersect(a.sh, b.sh))
                        / len(list_distinct(list_concat(a.sh, b.sh)))) AS BIGINT)
                   AS jac_ppm
            FROM s a, s b WHERE a.doc_id < b.doc_id
        """),
    "winnow_fingerprints": (q_winnow_fingerprints, _WINNOW_CTE.format(
        src="SELECT doc_id, text FROM documents"
    ) + """
            SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
                   CAST(len(fps) AS BIGINT) AS n_fp,
                   list_aggregate(fps, 'min') AS fp_min,
                   list_aggregate(fps, 'max') AS fp_max,
                   CAST(coalesce(list_reduce(fps, (a, b) -> xor(a, b)), 0)
                        AS BIGINT) AS fp_xor
            FROM fp ORDER BY doc_id
        """),
    "winnow_pairs": (q_winnow_pairs, _WINNOW_CTE.format(
        src="""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 15"""
    ) + """
            , post AS (SELECT doc_id, unnest(fps) AS f FROM fp),
            ok AS (SELECT f FROM post GROUP BY f HAVING COUNT(*) <= 64),
            kept AS (SELECT doc_id, f FROM post JOIN ok USING (f))
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   COUNT(*) AS n_shared
            FROM kept a JOIN kept b ON a.f = b.f AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id HAVING COUNT(*) >= 2
        """),
    "temperature_mix": (q_temperature_mix, """
            WITH c AS (
              SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
            ), t AS (
              SELECT SUM(n_docs) AS n,
                     list_reduce(list(sqrt(CAST(n_docs AS DOUBLE))
                                      ORDER BY lang), (a, b) -> a + b) AS s
              FROM c
            ), k AS (
              SELECT * FROM (VALUES ('de', 52), ('en', 81), ('es', 49),
                                    ('fr', 37), ('zh', 41))
                   AS v(lang, n_kept)
            )
            SELECT c.lang, c.n_docs,
                   CAST(floor(least(1.0, (0.5 * t.n)
                        * (sqrt(CAST(c.n_docs AS DOUBLE)) / t.s)
                        / c.n_docs) * 1000000) AS BIGINT) AS rate_ppm,
                   CAST(k.n_kept AS BIGINT) AS n_kept
            FROM c CROSS JOIN t JOIN k USING (lang)
            ORDER BY lang
        """),
    "image_near_dup": (q_image_near_dup, _image_near_dup_oracle_sql),
    "domain_pagerank": (q_domain_pagerank, _domain_pagerank_oracle_sql),
    "anchor_stats": (q_anchor_stats, _anchor_stats_oracle_sql),
    "noindex_filter": (q_noindex_filter, _noindex_filter_oracle_sql),
    "shingle_stats": (q_shingle_stats, r"""
            WITH w AS (
              SELECT source,
                     list_filter(string_split(trim(lower(regexp_replace(
                         text, '[ \t\r\n\f\x0B]+', ' ', 'g'))), ' '),
                         x -> x <> '') AS words
              FROM documents
            )
            SELECT source,
                   CAST(SUM(CASE WHEN len(words) >= 3
                        THEN len(list_distinct(list_transform(
                             range(1, len(words) - 1),
                             i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])))
                        ELSE 1 END) AS BIGINT) AS n_shingles,
                   COUNT(*) AS n_docs
            FROM w GROUP BY source
        """),
    "user_sessions": (q_user_sessions, """
            WITH s AS (
              SELECT user_id,
                     CASE WHEN lag(ts) OVER
                              (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                            OR ts - lag(ts) OVER
                              (PARTITION BY user_id ORDER BY ts, event_id)
                              > INTERVAL 1800 SECOND
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
            )
            SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions,
                   COUNT(*) AS n_events
            FROM s GROUP BY user_id
        """),
    "event_rate_windows": (q_event_rate_windows, (
        # tumbling window start = epoch floor-div by 6h; events ts are
        # timestamps, compare via epoch arithmetic in both engines
        "SELECT CAST(to_timestamp(CAST(epoch(ts) AS BIGINT) // 21600 * 21600) "
        "AS TIMESTAMP) AS win_start, event_type, COUNT(*) AS n_events, "
        "COUNT(DISTINCT user_id) AS n_users "
        "FROM events GROUP BY 1, 2"
    )),
    "doc_length_quantiles": (q_doc_length_quantiles, (
        "SELECT source, "
        "CAST(ROUND(quantile_cont(strlen(text), 0.5) * 100) AS BIGINT) AS p50_c, "
        "CAST(ROUND(quantile_cont(strlen(text), 0.9) * 100) AS BIGINT) AS p90_c, "
        "CAST(ROUND(quantile_cont(strlen(text), 0.99) * 100) AS BIGINT) AS p99_c, "
        "COUNT(*) AS n_docs "
        "FROM documents GROUP BY source"
    )),
    "events_by_type_day": (q_events_by_type_day, (
        "SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, "
        "COUNT(*) AS n_events, "
        "CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents "
        "FROM events GROUP BY 1, 2"
    )),
    "sequence_packing": (q_sequence_packing, """
WITH t AS (
  SELECT doc_id, doc_id % 32 AS bucket,
         COALESCE(len(regexp_extract_all(text,
             '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')), 0) AS n_tok
  FROM documents),
p AS (
  SELECT doc_id, bucket, n_tok,
         COALESCE(SUM(n_tok) OVER (PARTITION BY bucket ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
  FROM t)
SELECT bucket, COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       CAST(FLOOR((SUM(n_tok) - 1) / 512) + 1 AS BIGINT) AS n_packs,
       CAST(SUM(CASE WHEN GREATEST(FLOOR(o / 512),
                     FLOOR((o + n_tok - 1) / 512)) > FLOOR(o / 512)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_straddling,
       CAST(SUM(FLOOR(o / 512) * doc_id) AS BIGINT) AS assign_checksum
FROM p GROUP BY bucket
"""),
    "lineitem_summary": (q_lineitem_summary, (
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items, "
        "CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty, "
        "CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) "
        "AS sum_price_cents "
        "FROM lineitem GROUP BY l_returnflag, l_linestatus"
    )),
    "langid_dist": (q_langid_dist, _langid_oracle_sql),
    "lang_mismatch": (q_lang_mismatch, _lang_mismatch_oracle_sql),
    "cascade_wide": (q_cascade_wide, _cascade_wide_oracle_sql),
    "cascade_heuristics": (q_cascade_heuristics, _cascade_heuristics_oracle_sql),
    "pipeline_labels": (q_pipeline_labels, _pipeline_labels_oracle_sql),
    "minhash_pairs": (q_minhash_pairs, _MINHASH_PAIRS_SQL),
    "simhash_pairs": (q_simhash_pairs, _simhash_pairs_oracle_sql),
    "lsh_ann_topk": (q_lsh_ann_topk, _lsh_ann_oracle_sql),
    "bitext_mining": (q_bitext_mining, _bitext_mining_oracle_sql),
    "compression_signal": (q_compression_signal, _compression_signal_oracle_sql),
    "corpus_card": (q_corpus_card, _corpus_card_oracle_sql),
    "crawl_delay_schedule": (q_crawl_delay_schedule, _crawl_delay_schedule_oracle_sql),
    "url_tracking_dedup": (q_url_tracking_dedup, _url_tracking_oracle_sql),
    "crawl_frontier_priority": (q_crawl_frontier_priority, _crawl_frontier_priority_oracle_sql),
    "pii_counts": (q_pii_counts, _pii_counts_oracle_sql),
    "unicode_normalize": (q_unicode_normalize, _unicode_norm_oracle_sql),
    "mojibake_filter": (q_mojibake_filter, _mojibake_oracle_sql),
    "domain_cap": (q_domain_cap, _DOMAIN_CAP_SQL),
    "ivf_ann_topk": (q_ivf_ann_topk, _ivf_ann_oracle_sql),
    "html_extract": (q_html_extract, _html_extract_oracle_sql),
    "boilerplate_stats": (q_boilerplate_stats, _boilerplate_oracle_sql),
    "stratified_sample": (q_stratified_sample, _stratified_sample_oracle_sql),
    "training_mix": (q_training_mix, _training_mix_oracle_sql),
    "ccnet_buckets": (q_ccnet_buckets, _ccnet_buckets_oracle_sql),
    "gopher_quality": (q_gopher_quality, _GOPHER_QUALITY_SQL),
    "line_dedup": (q_line_dedup, r"""
WITH s AS (SELECT doc_id, string_split_regex(text, '\r?\n') AS lines
           FROM documents),
l AS (SELECT doc_id, t.i AS idx, lines[t.i] AS line
      FROM s, UNNEST(range(1, len(lines) + 1)) AS t(i)),
k AS (SELECT doc_id, line, idx,
             ROW_NUMBER() OVER (PARTITION BY doc_id, line
                                ORDER BY idx) AS rn,
             regexp_matches(line, '^[ \t\f\x0B\r]*$') AS blank
      FROM l)
SELECT doc_id,
       md5(string_agg(line, chr(10) ORDER BY idx)) AS clean_md5,
       CAST(length(string_agg(line, chr(10) ORDER BY idx)) AS BIGINT)
         AS clean_chars
FROM k WHERE rn = 1 OR blank GROUP BY doc_id
"""),
    "gopher_repetition": (q_gopher_repetition, _gopher_repetition_oracle_sql),
    "quality_funnel": (q_quality_funnel, _quality_funnel_oracle_sql),
    "bloom_dedup": (q_bloom_dedup, _bloom_dedup_oracle_sql),
    "warc_roundtrip": (q_warc_roundtrip, """
SELECT 'https://' || source || '.example/doc/' || CAST(doc_id AS VARCHAR)
         AS url,
       CAST(coalesce(strlen(text), 0) AS BIGINT) AS n_bytes
FROM documents
"""),
    "warc_chunked_roundtrip": (q_warc_chunked_roundtrip, """
SELECT 'https://' || source || '.example/chunked/' || CAST(doc_id AS VARCHAR)
         AS url,
       CAST(coalesce(strlen(text), 0) AS BIGINT) AS n_bytes
FROM documents WHERE doc_id % 20 = 0
"""),
    "heuristics_delta": (q_heuristics_delta, _heuristics_delta_oracle_sql),
    "robots_rules": (q_robots_rules, _robots_rules_oracle_sql),
    "robots_disallow": (q_robots_disallow, _robots_disallow_oracle_sql),
    "robots_allow_precedence": (q_robots_allow_precedence, _robots_allow_precedence_oracle_sql),
    "sitemap_urls": (q_sitemap_urls, _SITEMAP_URLS_SQL),
    "dedup_keep_policy": (q_dedup_keep_policy, _dedup_keep_policy_sql),
    "domain_quality": (q_domain_quality, _domain_quality_oracle_sql),
    "crawl_delta": (q_crawl_delta, _CRAWL_DELTA_SQL),
    "snapshot_merge": (q_snapshot_merge, _SNAPSHOT_MERGE_SQL),
    "fitted_perplexity": (q_fitted_perplexity, _fitted_perplexity_oracle_sql),
    "paragraph_dedup": (q_paragraph_dedup, _PARAGRAPH_DEDUP_SQL),
    "repetition_scores": (q_repetition_scores, _REPETITION_SQL),
    "c4_clean": (q_c4_clean, _C4_CLEAN_SQL),
    "near_dup_clusters": (q_near_dup_clusters, _near_dup_clusters_sql),
    "duplicated_spans": (q_duplicated_spans, _DUPLICATED_SPANS_SQL),
    "dsir_scores": (q_dsir_scores, _dsir_oracle_sql),
    "semantic_dedup": (q_semantic_dedup, _semantic_dedup_oracle_sql),
    "blocked_domains": (q_blocked_domains, (
        "SELECT doc_id, lower(source) || '.example' AS domain "
        "FROM documents "
        "WHERE lower(source) || '.example' "
        "NOT IN ('src1.example', 'src13.example')"
    )),
    "decontaminate": (q_decontaminate, _DECONTAMINATE_SQL),
    "url_canonical": (q_url_canonical, _URL_CANONICAL_SQL),
    "url_dedup": (q_url_dedup, _URL_DEDUP_SQL),
    "domain_rollup": (q_domain_rollup, _DOMAIN_ROLLUP_SQL),
    "embedding_near_dup": (q_embedding_near_dup, _EMB_NEAR_DUP_SQL),
    "dedup_cardinality": (q_dedup_cardinality, _DEDUP_CARDINALITY_SQL),
    "media_features": (q_media_features, _MEDIA_FEATURES_SQL),
    "shipped_revenue_window": (q_shipped_revenue_window, (
        "SELECT l_returnflag, COUNT(*) AS n_items, "
        "CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) "
        "AS price_cents FROM lineitem "
        "WHERE l_shipdate >= TIMESTAMP '1995-01-01' "
        "AND l_shipdate < TIMESTAMP '1996-01-01' "
        "GROUP BY l_returnflag"
    )),
    "revenue_by_nation": (q_revenue_by_nation, (
        "SELECT n_name AS nation, COUNT(*) AS n_items, "
        "CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) "
        "AS BIGINT)) AS BIGINT) AS revenue_cents "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        "GROUP BY n_name"
    )),
    "orders_no_lineitem": (q_orders_no_lineitem, (
        "SELECT o_orderpriority AS priority, COUNT(*) AS n_orders "
        "FROM orders o WHERE NOT EXISTS "
        "(SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey) "
        "GROUP BY o_orderpriority"
    )),
    "top_docs_per_lang": (q_top_docs_per_lang, (
        "SELECT lang, doc_id, bytes, rk FROM ("
        "SELECT lang, doc_id, CAST(strlen(text) AS BIGINT) AS bytes, "
        "CAST(ROW_NUMBER() OVER (PARTITION BY lang "
        "ORDER BY strlen(text) DESC, doc_id ASC) AS BIGINT) AS rk "
        "FROM documents) WHERE rk <= 3"
    )),
}


def _last_recorded_round() -> dict[str, int]:
    """name -> the last round N whose CORRECTNESS_rN.json, next to this
    file, holds a green row for it (rows, schema and hash match, no err)."""
    here = _os.path.dirname(_os.path.abspath(__file__))
    last: dict[str, int] = {}
    for fname in _os.listdir(here):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", fname)
        if not m:
            continue
        with open(_os.path.join(here, fname)) as f:
            rows = json.load(f)
        for name, row in rows.items():
            green = all(row.get(k) is True
                        for k in ("rows_match", "schema_match", "hash_match"))
            if green and row.get("err") is None:
                last[name] = max(last.get(name, 0), int(m.group(1)))
    return last


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registry query, least recently CORRECTNESS-recorded first.

    Entries sort by the last round whose CORRECTNESS_rN.json (next to this
    file) has a green row for them: rows, schema and hash match and no err.
    Never-recorded entries count as round 0; ties, and the whole order when
    no file is present, keep table order. A round records the first 50,
    so each round records the entries that waited longest, and with 97
    entries none goes two rounds unrecorded. tests/test_entry_queries.py
    checks every entry against DuckDB regardless of order."""
    last = _last_recorded_round()
    order = sorted(_REGISTRY, key=lambda name: last.get(name, 0))
    return {name: _REGISTRY[name][0] for name in order}


def oracle(name: str) -> str:
    """The DuckDB oracle SQL of one registry entry, building only that one."""
    sql = _REGISTRY[name][1]
    return sql if isinstance(sql, str) else sql()


def oracle_sql() -> dict[str, str]:
    return {name: oracle(name) for name in _REGISTRY}
