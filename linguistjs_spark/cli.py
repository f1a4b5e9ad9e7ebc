"""CLI entry point — the analog of the reference's commander CLI
(/root/reference/src/cli.ts): analyse a pages parquet directory and print a
per-language summary, full JSON results, or a dot-path subtree (--tree).

Usage (also the spark-submit main, north rule 'spark-submit --py-files'):
    spark-submit --py-files linguistjs_spark.zip -m linguistjs_spark.cli \\
        <pages_parquet_dir> [--json] [--tree languages.results]
        [--min-size 100b|1kb|5%|10loc] [--categories programming,markup]
        [--quick] [--child-languages] [--output DIR] [--buckets N]
        [--gopher-funnel [--funnel-min-words N]] [--drop-noindex]
        [--robots robots.parquet|robots.txt]
        [--model-quality model.bin [--model-quality-min-prob P]]
        [--pagerank [--pagerank-iters N] [--pagerank-top K]]
"""

from __future__ import annotations

import argparse
import json
import sys


def parse_min_size(val: str) -> tuple[str, float]:
    """minSize unit parsing, mirroring src/cli.ts:75-85 (b/kb/mb/%/loc)."""
    v = val.strip().lower()
    for unit, mult in (("kb", 1e3), ("mb", 1e6), ("loc", 1.0), ("%", 1.0), ("b", 1.0)):
        if v.endswith(unit):
            return unit, float(v[: -len(unit)]) * (mult if unit in ("kb", "mb") else 1)
    return "b", float(v)


def tree_lookup(obj, dotpath: str):
    """--tree dot traversal (src/cli.ts:167-175)."""
    cur = obj
    for part in dotpath.split("."):
        if not part:
            continue
        cur = cur[part]
    return cur


def _read_pages(spark, args):
    """The input pages: parquet, or WARC segments with --warc."""
    if args.warc:
        # CC segment layout. Default ingest is the CHUNKED reader
        # (VERDICT r04 item 4): ranged byte-window tasks bound per-task
        # memory by --warc-chunk-bytes + one record, independent of
        # segment size — a whole-segment row (~1 GiB) per task was the
        # documented 100-TB hazard. Remote URIs (s3://, hdfs://) and
        # --warc-chunk-bytes 0 fall back to the whole-segment
        # binaryFile path, which any Hadoop FS can serve. (WARC rows
        # carry html only — the implied extract_html stage produces
        # the text column downstream.)
        local = "://" not in args.input or args.input.startswith("file:")
        if local and args.warc_chunk_bytes > 0:
            from .sources.warc import (
                pages_from_warc_chunks,
                warc_chunks_for_dir,
            )

            in_dir = args.input
            if in_dir.startswith("file:"):
                in_dir = in_dir[len("file:"):]
            chunks = warc_chunks_for_dir(
                spark, in_dir, chunk_bytes=args.warc_chunk_bytes
            )
            return pages_from_warc_chunks(chunks)
        from .sources.warc import pages_from_warc

        segments = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.warc*")
            .load(args.input)
            .select("content")
        )
        return pages_from_warc(spark, segments, data_col="content")
    return spark.read.parquet(args.input)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="linguistjs-spark")
    ap.add_argument("input", help="pages parquet directory")
    ap.add_argument("--json", action="store_true", help="full nested results JSON")
    ap.add_argument("--tree", default=None, help="dot-path subtree of the results")
    ap.add_argument("--min-size", default=None, help="merge small langs into Other")
    ap.add_argument("--categories", default=None)
    ap.add_argument("--ignored-languages", default=None)
    ap.add_argument("--quick", action="store_true")
    ap.add_argument("--child-languages", action="store_true")
    ap.add_argument("--keep-vendored", action="store_true")
    ap.add_argument("--keep-binary", action="store_true")
    ap.add_argument("--robots", default=None, metavar="PATH",
                    help="apply robots.txt Disallow rules before analysis: "
                    "PATH is either a parquet table (url string, robots_txt "
                    "string) — one row per domain — or a single robots.txt "
                    "file applied to every input domain")
    ap.add_argument("--robots-no-broadcast", action="store_true",
                    help="join the --robots table on domain with a shuffle "
                    "instead of a broadcast (for crawl-wide robots tables "
                    "that exceed the broadcast limit)")
    ap.add_argument("--model-quality", default=None, metavar="PATH",
                    help="supervised fastText .bin quality classifier: "
                    "drop pages scored below --model-quality-min-prob "
                    "before analysis (DCLM/CCNet model tier; scored via "
                    "the broadcast word-logit join, no per-row python). "
                    "Pages with NULL text pass (not scoreable); pages "
                    "with text but no in-vocabulary token drop.")
    ap.add_argument("--model-quality-min-prob", type=float, default=0.5,
                    metavar="P", help="keep threshold P(hq) for "
                    "--model-quality (default 0.5)")
    ap.add_argument("--drop-noindex", action="store_true",
                    help="drop pages whose html declares robots-meta "
                         "noindex before any content rule")
    ap.add_argument("--pagerank", action="store_true",
                    help="link-graph mode: extract hrefs from html, build "
                         "the weighted domain graph, print top domains by "
                         "PageRank instead of analysing content")
    ap.add_argument("--pagerank-iters", type=int, default=3)
    ap.add_argument("--pagerank-top", type=int, default=20)
    ap.add_argument("--extract-html", action="store_true",
                    help="derive text from the html column for NULL-text rows")
    ap.add_argument("--list-files", action="store_true",
                    help="list analysed files under each language "
                    "(src/cli.ts:113-151 presentation)")
    ap.add_argument("--list-files-limit", type=int, default=10_000,
                    help="max files collected to the driver for --list-files")
    ap.add_argument("--output", default=None, help="write labels+rollups here")
    ap.add_argument("--buckets", type=int, default=0,
                    help="resumable per-bucket run with lineage (0 = one shot)")
    ap.add_argument("--cores", default="*")
    ap.add_argument("--warc-chunk-bytes", type=int, default=64 << 20,
                    metavar="N",
                    help="ranged-read chunk size for --warc ingest "
                         "(default 64 MiB); 0 = legacy whole-segment rows")
    ap.add_argument("--warc", action="store_true",
                    help="input is a directory of .warc/.warc.gz segment "
                         "files (Common Crawl layout) instead of a pages "
                         "parquet; implies --extract-html")
    ap.add_argument("--ppl-model", default=None, metavar="PATH",
                    help="score perplexity with a model file: a KenLM "
                         "binary (kenlm package) or a text ARPA file "
                         "(built-in reader); enables the ppl stage")
    ap.add_argument("--gopher-funnel", action="store_true",
                    help="print the Gopher quality/repetition/dup funnel "
                         "(first-failing-stage rollup by url) and exit")
    ap.add_argument("--funnel-min-words", type=int, default=None,
                    help="override the Gopher 50-word floor for the funnel")
    ap.add_argument("--normalize-unicode", action="store_true",
                    help="canonicalize unicode punctuation (curly quotes, "
                         "dashes, ellipsis, exotic spaces, full-width "
                         "ASCII) before quality/langid/scrub")
    ap.add_argument("--drop-mojibake", type=int, nargs="?", const=25,
                    default=None, metavar="BP",
                    help="drop decode casualties: docs whose U+FFFD + "
                         "control-char fraction exceeds BP basis points "
                         "(default 25)")
    ap.add_argument("--compression-gate", action="store_true",
                    help="drop docs by zlib compression ratio "
                         "(repetitive <0.30, opaque >0.98)")
    ap.add_argument("--max-perplexity", type=float, default=None,
                    help="drop documents scoring above this perplexity "
                         "(enables the ppl stage with the embedded model "
                         "unless --ppl-model is also given)")
    args = ap.parse_args(argv)
    if args.ppl_model:
        # fail before the session starts; the ppl stage raises the same
        # OSError at plan build (perplexity.try_import_kenlm)
        try:
            with open(args.ppl_model, "rb"):
                pass
        except OSError as e:
            print(f"error: --ppl-model: {e}", file=sys.stderr)
            return 2

    from pyspark.errors import AnalysisException
    from pyspark.sql import SparkSession

    from .config import QualityFilterConfig
    from .pipeline import run_pipeline
    from .sources.sinks import results_dict, write_labels, write_rollups

    owns_session = SparkSession.getActiveSession() is None

    cfg_kwargs: dict = dict(
        quick=args.quick,
        child_languages=args.child_languages,
        keep_vendored=args.keep_vendored,
        keep_binary=args.keep_binary,
        extract_html=args.extract_html or args.warc,
    )
    if args.categories:
        cfg_kwargs["categories"] = tuple(args.categories.split(","))
    if args.ignored_languages:
        cfg_kwargs["ignored_languages"] = tuple(args.ignored_languages.split(","))
    if args.normalize_unicode:
        cfg_kwargs["normalize_unicode"] = True
    if args.drop_mojibake is not None:
        cfg_kwargs["drop_mojibake"] = True
        cfg_kwargs["max_bad_unicode_bp"] = args.drop_mojibake
    if args.compression_gate:
        cfg_kwargs["compression_gate"] = True
    if args.ppl_model or args.max_perplexity is not None:
        cfg_kwargs["compute_perplexity"] = True
        cfg_kwargs["kenlm_model_path"] = args.ppl_model
        if args.max_perplexity is not None:
            cfg_kwargs["max_perplexity"] = args.max_perplexity
    cfg = QualityFilterConfig(**cfg_kwargs)

    spark = (
        SparkSession.builder.master(f"local[{args.cores}]")
        .appName("linguistjs-spark-cli")
        .config("spark.sql.adaptive.enabled", "true")
        # WARC-Date is UTC by spec and parsed to a NAIVE datetime; Spark
        # interprets naive datetimes in the session timezone, so on a
        # non-UTC host a --warc source->sink cycle would shift every
        # timestamp by the host's UTC offset (ADVICE r03). Pin UTC.
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    try:
        try:
            pages = _read_pages(spark, args)
        except AnalysisException as e:
            # an empty or missing input directory is a usage error, reported
            # like a wrong-shaped table below, not a traceback
            if e.getCondition() not in ("UNABLE_TO_INFER_SCHEMA",
                                        "PATH_NOT_FOUND"):
                raise
            print(f"error: input {args.input} is empty or missing "
                  f"({e.getCondition()})", file=sys.stderr)
            return 2
        missing = [c for c in ("url", "text") if c not in pages.columns]
        if missing:
            print(
                f"error: input {args.input} is not a pages table — missing "
                f"column(s) {', '.join(missing)}; expected schema "
                "(url string, warc_ts timestamp, html binary, text string, "
                "lang string), found: " + ", ".join(pages.columns),
                file=sys.stderr,
            )
            return 2
        if args.robots:
            # crawl-compliance gate runs FIRST (before noindex/content
            # rules) — the order a real pipeline applies them
            import os as _os

            from pyspark.sql import functions as F

            from .operators.robots import (
                filter_robots_disallowed, parse_robots_disallow,
                rule_match_col, url_path_col)

            if _os.path.isdir(args.robots) or args.robots.endswith(".parquet"):
                robots = spark.read.parquet(args.robots)
                miss = {"url", "robots_txt"} - set(robots.columns)
                if miss:
                    print("error: --robots table missing column(s) "
                          + ", ".join(sorted(miss)), file=sys.stderr)
                    return 2
                pages = filter_robots_disallowed(
                    pages, robots,
                    broadcast_rules=not args.robots_no_broadcast)
            else:
                # utf-8-sig: a BOM-prefixed robots.txt must not glue the
                # BOM onto the first 'User-agent' line (the column parser
                # trims BOMs itself; the file path decodes them away)
                with open(args.robots, encoding="utf-8-sig",
                          errors="replace") as fh:
                    rules = parse_robots_disallow(fh.read())
                if rules:
                    path = url_path_col(F.col("url"))
                    lit_rules = F.array(*[F.lit(r) for r in rules])
                    pages = pages.filter(
                        ~F.exists(lit_rules,
                                  lambda r: rule_match_col(path, r)))
        if args.drop_noindex:
            if "html" not in pages.columns:
                print("error: --drop-noindex needs an html column",
                      file=sys.stderr)
                return 2
            from .operators.extract import filter_noindex

            pages = filter_noindex(pages)
        if args.model_quality:
            # model-scored quality tier, after the crawl-compliance gates
            # (robots/noindex) and before content analysis — the order of
            # a CCNet/DCLM pipeline
            from pyspark.sql import functions as F

            from .fasttext_bin import load_model
            from .operators.model_filter import (
                logit_dim_df, margin_threshold, model_quality_filter,
                require_two_labels)

            try:
                model = load_model(args.model_quality)
                require_two_labels(model)
                margin_threshold(args.model_quality_min_prob)  # range check
            except (OSError, ValueError) as e:
                print(f"error: --model-quality: {e}", file=sys.stderr)
                return 2
            # score the text the label program will read: with extraction
            # on, html-only pages (every WARC row) are scored on their
            # extracted text; pages still without text pass
            text = F.col("text")
            if cfg.extract_html:
                from .operators.extract import page_text_col

                text = page_text_col(text, F.col("html"))
            dropped = model_quality_filter(
                pages.select("url", text.alias("text"))
                .where(F.col("text").isNotNull()),
                logit_dim_df(spark, model),
                min_prob=args.model_quality_min_prob,
                id_col="url",
            ).where(~F.col("keep")).select("url")
            # anti join unhinted: AQE broadcasts a small dropped set and
            # degrades to sort-merge at percent-level drop rates (the
            # filter_blocked_domains stance)
            pages = pages.join(dropped, "url", "left_anti")
        if args.pagerank:
            if "html" not in pages.columns:
                print("error: --pagerank needs an html column",
                      file=sys.stderr)
                return 2
            from pyspark.sql import functions as F

            from .operators.link_graph import (
                domain_edges, domain_pagerank, extract_outlinks,
            )

            edges = domain_edges(extract_outlinks(pages))
            if not edges.head(1):
                print("no cross-domain links found in the input")
                return 0
            rows = (
                domain_pagerank(edges, iters=args.pagerank_iters)
                .orderBy(F.col("rank").desc(), "domain")
                .limit(args.pagerank_top)
                .collect()
            )
            print(f"{'domain':<40}{'rank':>12}")
            for r in rows:
                print(f"{r['domain']:<40}{r['rank']:>12.6f}")
            return 0
        if args.gopher_funnel:
            from pyspark.sql import functions as F

            from .operators.gopher import quality_funnel

            rows = (
                quality_funnel(
                    pages, id_col="url", min_words=args.funnel_min_words
                )
                .orderBy(F.col("bytes").desc())
                .collect()
            )
            total = sum(r["n_docs"] for r in rows) or 1
            print(f"{'stage':<22}{'docs':>10}{'bytes':>14}{'share':>8}")
            for r in rows:
                print(
                    f"{r['stage']:<22}{r['n_docs']:>10}{r['bytes']:>14}"
                    f"{100.0 * r['n_docs'] / total:>7.1f}%"
                )
            return 0
        if args.buckets > 0 and args.output:
            from .streaming.resume import read_labels, resumable_run

            resumable_run(spark, pages, args.output, cfg, num_buckets=args.buckets)
            labels = read_labels(spark, args.output)
        else:
            labels = run_pipeline(spark, pages, cfg)
            if args.output:
                from .streaming.resume import read_labels

                # the rollups and the table below read the written labels
                # back: the label pipeline runs once, not once per output
                write_labels(labels, f"{args.output}/labels")
                labels = read_labels(spark, args.output)
                write_rollups(labels, f"{args.output}/rollups")

        if args.tree is not None or args.json:
            # the nested Results shape is the only consumer of the per-url
            # maps; table mode below never materialises them (VERDICT r01 #4)
            results = results_dict(labels, calculate_lines=cfg.calculate_lines)
            if args.tree is not None:
                print(json.dumps(tree_lookup(results, args.tree), indent=2,
                                 default=str))
            else:
                print(json.dumps(results, indent=2, default=str))
        else:
            # default table mode: ONE tiny rollup collect, no per-row data
            # reaches the driver; min-size Other-merge runs in the DataFrame
            # (rollup.min_size_other handles b/kb/mb/%/loc uniformly)
            from .operators.rollup import language_rollup, min_size_other

            roll = language_rollup(labels)
            if args.min_size:
                unit, thr = parse_min_size(args.min_size)
                if unit in ("kb", "mb"):  # already converted to bytes
                    unit = "b"
                roll = min_size_other(roll, thr, unit=unit)
            rows = roll.collect()
            total = sum(r["bytes"] for r in rows) or 1
            width = max((len(r["lang"]) for r in rows), default=4)
            files_per_lang: dict[str, list] = {}
            if args.list_files:
                # grouped per-file listing (the reference's listFiles mode,
                # src/cli.ts:113-151). Bounded collect: top files by bytes
                # up to the cap — at corpus scale use --output + SQL instead.
                from pyspark.sql import functions as F

                frows = (
                    labels.filter(F.col("keep") & F.col("lang").isNotNull())
                    .select("lang", "url", "bytes")
                    .orderBy(F.desc("bytes"), F.asc("url"))
                    .limit(args.list_files_limit)
                    .collect()
                )
                for fr in frows:
                    files_per_lang.setdefault(fr["lang"], []).append(fr)
            for i, r in enumerate(sorted(rows, key=lambda r: (-r["bytes"], r["lang"]))):
                pct = 100.0 * r["bytes"] / total
                print(f"{i + 1:>3}. {r['lang']:<{width}}  {r['bytes']:>12} B  "
                      f"{pct:6.2f}%  {r['type'] or '-'}")
                if args.list_files:
                    for fr in files_per_lang.get(r["lang"], []):
                        fpct = 100.0 * fr["bytes"] / total
                        print(f"       {fr['url']:<50}  {fr['bytes']:>10} B  "
                              f"{fpct:6.2f}%")
        return 0
    finally:
        if owns_session:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
