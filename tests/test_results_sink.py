"""End-to-end golden test of the nested Results object — the analog of the
reference's folder test (/root/reference/test/folder.js deep-diffing
analyse() output against test/expected.json): the full nested dict built
from the distributed pipeline must deep-equal the one built row-wise from
the oracle."""

import json

from linguistjs_spark.config import REFERENCE_PARITY_CONFIG as CFG
from linguistjs_spark.oracle import analyse_document
from linguistjs_spark.pipeline import run_pipeline
from linguistjs_spark.sources.pages import SEED_OVERRIDES, generate_pages, pages_df
from linguistjs_spark.sources.sinks import results_dict


def _oracle_results_dict(rows):
    files = {"count": 0, "bytes": 0,
             "lines": {"total": 0, "content": 0, "code": 0},
             "results": {}, "alternatives": {}}
    languages = {"count": 0, "bytes": 0,
                 "lines": {"total": 0, "content": 0, "code": 0}, "results": {}}
    unknown = {"count": 0, "bytes": 0, "extensions": {}, "filenames": {}}

    from linguistjs_spark.metadata import load_metadata
    md = load_metadata()

    for url, _ts, html, text, _l in rows:
        r = analyse_document(url, text, html=html, cfg=CFG, overrides=SEED_OVERRIDES)
        if not r.keep:
            continue
        files["count"] += 1
        files["bytes"] += r.bytes
        files["lines"]["total"] += r.lines_total
        files["lines"]["content"] += r.lines_content
        files["lines"]["code"] += r.lines_code
        files["results"][url] = r.lang
        if r.alternatives:
            files["alternatives"][url] = r.alternatives
        if r.lang is not None:
            meta = md.languages.get(r.lang, {})
            d = languages["results"].setdefault(
                r.lang,
                {"type": meta.get("type"), "bytes": 0,
                 "lines": {"total": 0, "content": 0, "code": 0},
                 "color": meta.get("color")},
            )
            d["bytes"] += r.bytes
            d["lines"]["total"] += r.lines_total
            d["lines"]["content"] += r.lines_content
            d["lines"]["code"] += r.lines_code
            languages["bytes"] += r.bytes
            languages["lines"]["total"] += r.lines_total
            languages["lines"]["content"] += r.lines_content
            languages["lines"]["code"] += r.lines_code
        else:
            base = r.path.rsplit("/", 1)[-1]
            idx = base.rfind(".")
            ext = base[idx:] if idx > 0 else ""
            kind = "extensions" if ext else "filenames"
            name = ext or base
            unknown[kind][name] = unknown[kind].get(name, 0) + r.bytes
            unknown["bytes"] += r.bytes
    languages["count"] = len(languages["results"])
    unknown["count"] = len(unknown["extensions"]) + len(unknown["filenames"])
    return {"files": files, "languages": languages, "unknown": unknown}


def test_results_dict_matches_oracle_golden(spark):
    rows = generate_pages(n_bulk=80)
    expected = _oracle_results_dict(rows)
    labels = run_pipeline(spark, pages_df(spark, n_bulk=80), CFG,
                          overrides=SEED_OVERRIDES)
    got = results_dict(labels)
    assert json.dumps(got, sort_keys=True, default=str) == json.dumps(
        expected, sort_keys=True, default=str
    )


def test_cli_runs(spark, tmp_path, capsys):
    from linguistjs_spark.cli import main

    path = str(tmp_path / "pages.parquet")
    pages_df(spark, n_bulk=40).write.mode("overwrite").parquet(path)
    rc = main([path, "--tree", "languages.count", "--child-languages"])
    assert rc == 0
    out = capsys.readouterr().out.strip()
    assert int(out) > 3

    rc = main([path, "--min-size", "1kb"])
    assert rc == 0
    assert "B" in capsys.readouterr().out


def test_cli_output_tables(spark, tmp_path, capsys):
    """--output without --buckets writes labels and the three rollups, each
    equal to run_pipeline plus the rollup operators on the same pages."""
    from pyspark.sql import functions as F

    from linguistjs_spark.cli import main
    from linguistjs_spark.config import QualityFilterConfig
    from linguistjs_spark.operators.rollup import (
        language_rollup, totals, unknown_rollup)
    from linguistjs_spark.pipeline import LABEL_COLUMNS

    path, out = str(tmp_path / "pages"), str(tmp_path / "out")
    pages_df(spark, n_bulk=40).write.mode("overwrite").parquet(path)
    assert main([path, "--output", out]) == 0
    assert "B" in capsys.readouterr().out

    labels = run_pipeline(spark, spark.read.parquet(path), QualityFilterConfig())

    def rows(df):
        return sorted(json.dumps(r.asDict(recursive=True), sort_keys=True,
                                 default=str) for r in df.collect())

    def hashed(df):
        return df.select("url", F.xxhash64(*LABEL_COLUMNS))

    assert rows(hashed(spark.read.parquet(f"{out}/labels"))) == rows(hashed(labels))
    for name, rollup in (("languages", language_rollup),
                         ("unknown", unknown_rollup), ("totals", totals)):
        got = spark.read.parquet(f"{out}/rollups/{name}")
        assert rows(got) == rows(rollup(labels)), name
        assert rows(got)


def test_cli_list_files_mode(spark, tmp_path, capsys):
    """--list-files prints the reference's grouped per-language file listing
    (src/cli.ts:113-151) with a bounded driver collect."""
    from linguistjs_spark.cli import main
    from linguistjs_spark.sources.pages import pages_df

    path = str(tmp_path / "pages")
    pages_df(spark, n_bulk=40).write.mode("overwrite").parquet(path)
    rc = main([path, "--list-files", "--list-files-limit", "20"])
    out = capsys.readouterr().out
    assert rc == 0
    lines = out.splitlines()
    # numbered language rows plus indented file rows
    assert any(l.lstrip().startswith("1.") for l in lines)
    assert any(l.startswith("       https://") for l in lines)
    assert sum(1 for l in lines if l.startswith("       https://")) <= 20


def test_cli_gopher_funnel(spark, tmp_path, capsys):
    """--gopher-funnel prints the first-failing-stage rollup keyed by url
    and exits before the label pipeline."""
    from linguistjs_spark.cli import main
    from linguistjs_spark.sources.pages import pages_df

    path = str(tmp_path / "pages")
    pages_df(spark, n_bulk=40).write.mode("overwrite").parquet(path)
    rc = main([path, "--gopher-funnel", "--funnel-min-words", "1"])
    out = capsys.readouterr().out
    assert rc == 0
    lines = out.splitlines()
    assert lines[0].split() == ["stage", "docs", "bytes", "share"]
    stages = {l.split()[0] for l in lines[1:]}
    # every row names a funnel stage; shares sum to ~100%
    allowed = {"keep", "exact-dup", "gopher-repetition", "gopher-words",
               "gopher-word-length", "gopher-symbols", "gopher-bullets",
               "gopher-ellipsis", "gopher-alpha", "gopher-stopwords"}
    assert stages and stages <= allowed
    shares = [float(l.split()[-1].rstrip("%")) for l in lines[1:]]
    assert abs(sum(shares) - 100.0) < 0.5


def test_cli_robots_modes(spark, tmp_path, capsys):
    """--robots applies the Disallow gate before analysis, in both the
    per-domain parquet-table form and the single-file form (file rules
    apply to every domain)."""
    from linguistjs_spark.cli import main
    from linguistjs_spark.sources.pages import pages_df

    path = str(tmp_path / "pages_robots")
    pages_df(spark, n_bulk=40).write.mode("overwrite").parquet(path)

    # baseline: both site0 and site1 bulk pages appear in the listing
    rc = main([path, "--list-files"])
    assert rc == 0
    base_out = capsys.readouterr().out
    assert "https://site0.example/pages/" in base_out
    assert "https://site1.example/pages/" in base_out

    # table form: site0's robots.txt disallows its /pages tree; every
    # other domain is untouched
    robots_tbl = str(tmp_path / "robots.parquet")
    spark.createDataFrame(
        [("https://site0.example/robots.txt",
          "User-agent: *\nDisallow: /pages")],
        "url string, robots_txt string",
    ).write.mode("overwrite").parquet(robots_tbl)
    rc = main([path, "--robots", robots_tbl, "--list-files"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "https://site0.example/pages/" not in out
    assert "https://site1.example/pages/" in out

    # single-file form: rules gate EVERY domain (path prefix /pages/0)
    robots_file = tmp_path / "robots.txt"
    robots_file.write_text("User-agent: *\nDisallow: /pages/0\n")
    rc = main([path, "--robots", str(robots_file), "--list-files"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "/pages/0/" not in out
    assert "/pages/1/" in out

    # malformed table errors cleanly
    bad = str(tmp_path / "bad.parquet")
    spark.createDataFrame([("x",)], "url string").write.parquet(bad)
    rc = main([path, "--robots", bad])
    assert rc == 2
    assert "robots_txt" in capsys.readouterr().err


def test_cli_pagerank_and_noindex_modes(spark, tmp_path, capsys):
    from pyspark.sql import functions as F

    from linguistjs_spark.cli import main
    from linguistjs_spark.sources.pages import pages_df

    path = str(tmp_path / "pages_linked")
    # every page links to hub.example; a third also link to popular.example
    pages_df(spark, n_bulk=40).withColumn(
        "html",
        F.concat(
            F.coalesce(F.col("html"), F.lit(b"")),
            F.encode(
                F.concat(
                    F.lit('<a href="https://hub.example/x">h</a>'),
                    F.when(
                        F.xxhash64("url") % 3 == 0,
                        F.lit('<a href="https://popular.example/y">p</a>'),
                    ).otherwise(F.lit("")),
                ),
                "UTF-8",
            ),
        ),
    ).write.mode("overwrite").parquet(path)

    rc = main([path, "--pagerank", "--pagerank-top", "3"])
    assert rc == 0
    out = capsys.readouterr().out
    lines = [ln for ln in out.splitlines() if ln.strip()]
    assert lines[1].split()[0] == "hub.example"  # top-ranked domain

    # --drop-noindex composes with the normal analysis path
    rc = main([path, "--drop-noindex", "--min-size", "1b"])
    assert rc == 0
    assert capsys.readouterr().out.strip()


def test_cli_model_quality_gate(spark, tmp_path, capsys):
    """--model-quality drops classifier-rejected and OOV pages before
    analysis; NULL-text pages pass the gate; a non-model path errors
    cleanly."""
    import datetime as dt

    from linguistjs_spark.cli import main
    from linguistjs_spark.operators.model_filter import (
        build_demo_quality_model)

    ts = dt.datetime(2020, 1, 1)
    rows = [
        ("https://hq.example/a.txt", ts, b"x",
         "the research study and the analysis were published by the "
         "university", None),
        ("https://lq.example/b.txt", ts, b"x",
         "click the free casino bonus prize and the jackpot offer deal",
         None),
        ("https://oov.example/c.txt", ts, b"x",
         "zq vbnm mlkj qwert asdfg zxcvb", None),
        ("https://null.example/d.txt", ts, b"\x00\x01", None, None),
    ]
    path = str(tmp_path / "pages_mq")
    spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string",
    ).write.mode("overwrite").parquet(path)

    # baseline: hq, lq, oov all kept (they pass the heuristic rules)
    rc = main([path, "--list-files"])
    assert rc == 0
    base = capsys.readouterr().out
    for u in ("hq.example", "lq.example", "oov.example"):
        assert u in base

    model = str(tmp_path / "mq.bin")
    build_demo_quality_model(model)
    rc = main([path, "--model-quality", model, "--list-files"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "hq.example" in out
    assert "lq.example" not in out   # classifier-rejected
    assert "oov.example" not in out  # no in-vocab token -> drop

    # threshold is honored: at a very strict threshold even hq drops
    rc = main([path, "--model-quality", model,
               "--model-quality-min-prob", "0.999999", "--list-files"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "hq.example" not in out

    # non-model file -> clean error, exit 2
    bad = tmp_path / "not_a_model.bin"
    bad.write_bytes(b"junk")
    rc = main([path, "--model-quality", str(bad)])
    assert rc == 2
    assert "model-quality" in capsys.readouterr().err

    # out-of-range threshold -> clean error, exit 2 (not a traceback)
    rc = main([path, "--model-quality", model,
               "--model-quality-min-prob", "1.0"])
    assert rc == 2
    assert "min_prob" in capsys.readouterr().err


def test_cli_empty_or_missing_input(spark, tmp_path, capsys):
    """An empty or missing input directory is a usage error: a clean
    message and exit 2, like a wrong-shaped table, not a traceback."""
    from linguistjs_spark.cli import main

    empty = tmp_path / "empty"
    empty.mkdir()
    for path, cond in ((empty, "UNABLE_TO_INFER_SCHEMA"),
                       (tmp_path / "missing", "PATH_NOT_FOUND")):
        rc = main([str(path)])
        assert rc == 2
        err = capsys.readouterr().err
        assert f"error: input {path}" in err and cond in err


def test_cli_model_quality_gate_scores_extracted_text(spark, tmp_path, capsys):
    """With --extract-html the model gate scores the text the label
    program extracts, so a spam page whose text lives only in html is
    dropped and a clean html-only page is kept. The binary page's text
    stays NULL after extraction; the gate passes it on unscored."""
    import datetime as dt

    from linguistjs_spark.cli import main
    from linguistjs_spark.operators.model_filter import (
        build_demo_quality_model)

    ts = dt.datetime(2020, 1, 1)

    def page(body):
        return f"<html><body><p>{body}</p></body></html>".encode()

    rows = [
        ("https://hq.example/a.txt", ts,
         page("the research study and the analysis were published by the "
              "university"), None, None),
        ("https://lq.example/b.txt", ts,
         page("click the free casino bonus prize and the jackpot offer "
              "deal"), None, None),
        ("https://bin.example/c.txt", ts, b"\x00\x01", None, None),
    ]
    path = str(tmp_path / "pages_mq_html")
    spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string",
    ).write.mode("overwrite").parquet(path)
    model = str(tmp_path / "mq.bin")
    build_demo_quality_model(model)

    rc = main([path, "--extract-html", "--list-files"])
    assert rc == 0
    base = capsys.readouterr().out
    assert "hq.example" in base and "lq.example" in base

    rc = main([path, "--extract-html", "--model-quality", model,
               "--list-files"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "hq.example" in out
    assert "lq.example" not in out  # scored on its extracted text
