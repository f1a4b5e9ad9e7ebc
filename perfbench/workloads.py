"""The benchmark workloads: jobs, output checks, ladders, layers.

Each job is built only from public calls into ``linguistjs_spark`` and
reads its parquet input fresh, so no run reuses another run's shuffle
files. A job returns a digest of its result; every timed run's digest must
equal the warm-up run's.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time
from contextlib import nullcontext
from dataclasses import replace
from statistics import median

import pandas as pd
from pyspark.sql import Observation
from pyspark.sql import functions as F

from linguistjs_spark import oracle
from linguistjs_spark.config import QualityFilterConfig
from linguistjs_spark.metadata import load_metadata
from linguistjs_spark.operators import dedup
from linguistjs_spark.operators.classify import classify_batch
from linguistjs_spark.operators.path_filters import with_filter_flags
from linguistjs_spark.operators.rollup import language_rollup
from linguistjs_spark.perplexity import _logp, perplexity_batch_with_table
from linguistjs_spark.pipeline import LABEL_COLUMNS, run_pipeline
from linguistjs_spark.sources.sinks import write_rollups
from linguistjs_spark.streaming.resume import (
    completed_buckets, input_snapshot_id, read_labels, resumable_run)

import inputs
from measure import metric_sum, nodes, task_skew

LABELS_CFG = QualityFilterConfig()
CORPUS_CFG = QualityFilterConfig(
    extract_html=True, normalize_unicode=True, drop_mojibake=True,
    compression_gate=True, compute_perplexity=True,
    max_top_bigram_ratio=0.18, min_stopword_hits=2)
# every optional label stage off: path filters + classify only
BARE = dict(quality_rules=False, langid_fallback=False, scrub_pii=False,
            toxicity_filter=False, calculate_lines=False)
BUCKETS, CRASH_AFTER = 8, 4
ORACLE_SAMPLE = 40
KERNEL_DOCS = 500  # docs each single-threaded kernel rate is taken on


def _u32(*cols):
    """Order-free row checksum term: the low 32 bits of xxhash64."""
    return F.xxhash64(*cols).bitwiseAND(0xFFFFFFFF)


def digest(obj) -> str:
    return hashlib.sha256(json.dumps(obj, default=str).encode()).hexdigest()


def _rows(rows) -> list:
    return sorted(tuple(r) for r in rows)


class Workload:
    name = ""
    docs = 0
    full_step = ""  # the ladder step that is the workload's own job

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.rows: list[tuple] = []
        self.path = ""

    def generate(self, out_dir: str) -> None:
        """Input rows from the seed, one parquet file per core."""
        self.rows = self.make_rows()
        inputs.write_parquet(self.rows, out_dir,
                             self.spark.sparkContext.defaultParallelism)
        self.path = out_dir

    def pages(self):
        return self.spark.read.parquet(self.path)

    def result_digest(self, token: str) -> str:
        """The digest of what ``job`` returned, computed outside the timed
        region."""
        return token

    def check_reference(self) -> list[str]:
        """Checks of the warm-up result against an independent reference;
        returns the problems found."""
        return []

    # subclasses: make_rows, job, ladder (the steps before full_step), layers


# --- the labels job --------------------------------------------------------

def labels_job(spark, pages, tr) -> str:
    """``run_pipeline`` then ``language_rollup``, collected; an observed
    checksum of every row's scrubbed text rides along in the same pass."""
    with tr.span("pipeline.run_pipeline"):
        labels = run_pipeline(spark, pages, LABELS_CFG)
    obs = Observation()
    labels = labels.observe(
        obs, F.count("*").alias("rows"),
        F.sum(_u32("url", "keep_reason", "scrubbed_text")).alias("check"))
    with tr.span("rollup.collect"):
        rows = language_rollup(labels).collect()
    return digest([_rows(rows), sorted(obs.get.items())])


# --- corpus ----------------------------------------------------------------

class Corpus(Workload):
    name = "corpus"
    docs = 400
    full_step = "dedup"

    def make_rows(self):
        return inputs.corpus_rows(self.seed, self.docs)

    def kept(self, pages):
        return run_pipeline(self.spark, pages, CORPUS_CFG).filter("keep") \
            .select("url", F.col("scrubbed_text").alias("text"))

    def job(self, tr):
        with tr.span("sources.read"):
            pages = self.pages()
        with tr.span("pipeline.run_pipeline"):
            kept = self.kept(pages)
        kept.cache()
        try:
            with tr.span("pipeline.collect"):
                summary = kept.agg(F.count("*"), F.sum(_u32("url", "text"))) \
                    .collect()
            with tr.span("dedup.exact"):
                exact = dedup.exact_dedup(kept, "url", "text") \
                    .filter("n_copies > 1").collect()
            with tr.span("dedup.minhash"):
                pairs = dedup.minhash_dedup_pairs(kept, "url", "text") \
                    .select("a", "b").collect()
        finally:
            kept.unpersist(blocking=True)
        self.counts = {"exact_dup_rows": sum(r["n_copies"] - 1 for r in exact),
                       "verified_pairs": len(pairs)}
        return digest([_rows(summary), _rows(exact), _rows(pairs)])

    def ladder(self):
        bare = replace(CORPUS_CFG, **BARE, normalize_unicode=False,
                       drop_mojibake=False, compression_gate=False,
                       compute_perplexity=False)
        norm = replace(bare, normalize_unicode=True, drop_mojibake=True)
        comp = replace(norm, compression_gate=True)
        ppl = replace(comp, compute_perplexity=True)

        def labels(cfg, *aggs):
            def step():
                run_pipeline(self.spark, self.pages(), cfg).agg(
                    F.count("*"), F.sum("bytes"), F.sum(_u32("keep_reason")),
                    *aggs).collect()
            return step

        return [
            ("extract", labels(bare)),
            ("normalize_mojibake", labels(norm)),
            ("compression", labels(comp)),
            ("perplexity", labels(ppl, F.sum("ppl"))),
            ("gopher", labels(CORPUS_CFG, F.sum("ppl"),
                              F.sum(_u32("url", "scrubbed_text")))),
        ]

    def layers(self, tr, sm) -> dict:
        ex = sm.executions(tr, "pipeline.collect")
        out = pipeline_layers(ex, tr)
        out.update(udf_layers(ex, "classify", "classify_udf"))
        out.update(udf_layers(ex, "ppl", "ppl_udf"))
        out["zlib.python_ms"] = metric_sum(
            ex, "ArrowEvalPython", "time to run Python workers", "_zlen")
        dd = sm.executions(tr, "dedup.exact") + sm.executions(tr, "dedup.minhash")
        aggs = nodes(dd, "HashAggregate")
        stages = [s for e in dd for s in e["stages"]]
        kept = self.kept(self.pages()).cache()
        sigs = dedup.with_minhash(kept, "url", "text")
        cands = dedup.lsh_candidate_pairs(sigs, "url").count()
        out.update({
            "dedup.shuffle_bytes": sum(s["shuffle_write_bytes"] for s in stages),
            "dedup.shuffle_write_ms": sum(s["shuffle_write_ms"] for s in stages),
            "dedup.agg_ms": sum(n["metrics"].get("time in aggregation build", 0.0)
                                for n in aggs),
            "dedup.peak_memory_bytes": max(
                (n["metrics"].get("peak memory", 0.0) for n in aggs), default=0.0),
            "dedup.avg_hash_probe": max(
                (n["metrics"].get("avg hash probes per key", 0.0) for n in aggs),
                default=0.0),
            "dedup.lsh_candidates": cands,
            "dedup.verified_pairs": self.counts["verified_pairs"],
            "dedup.verify_yield": self.counts["verified_pairs"] / cands
            if cands else 0.0,
            "dedup.exact_dup_rows": self.counts["exact_dup_rows"],
            "stage.dedup.task_skew": task_skew(dd),
        })
        # the kernels see the kept rows' texts, as extracted by the pipeline
        sample = kept.limit(KERNEL_DOCS).collect()
        kept.unpersist(blocking=True)
        urls, texts = [r["url"] for r in sample], [r["text"] for r in sample]
        out["classify.kernel_docs_per_s"] = classify_kernel(urls, texts)
        out["ppl.kernel_docs_per_s"] = ppl_kernel(texts)
        return out


# --- resume_write ----------------------------------------------------------

def label_hashes(df) -> dict[str, int]:
    return {r[0]: r[1] for r in df.select(
        "url", F.xxhash64(*LABEL_COLUMNS)).collect()}


class ResumeWrite(Workload):
    """The CLI ``--output --buckets`` path over code-heavy pages with
    pre-extracted text. Its traced run also measures the labels job
    (``run_pipeline`` then ``language_rollup``) on the same input, with the
    labels ablation ladder."""

    name = "resume_write"
    docs = 1500
    full_step = "write"

    def __init__(self, spark, work, seed):
        super().__init__(spark, work, seed)
        self.k = 0

    def make_rows(self):
        return inputs.labels_rows(self.seed, self.docs)

    def job(self, tr) -> str:
        self.k += 1
        out = os.path.join(self.work, f"out{self.k}")
        pages = self.pages()
        with tr.span("streaming.resume.crash"):
            try:
                resumable_run(self.spark, pages, out, LABELS_CFG, BUCKETS,
                              fail_after=CRASH_AFTER)
            except RuntimeError as e:
                if "injected failure" not in str(e):
                    raise
            else:
                raise AssertionError("the injected crash did not happen")
        with tr.span("streaming.resume.resume"):
            resumed = resumable_run(self.spark, self.pages(), out, LABELS_CFG,
                                    BUCKETS)
        with tr.span("sinks.write_rollups"):
            write_rollups(read_labels(self.spark, out), f"{out}/rollups")
        with tr.span("streaming.resume.noop"):
            noop = resumable_run(self.spark, self.pages(), out, LABELS_CFG,
                                 BUCKETS)
        self.out, self.resumed = out, resumed
        if len(resumed["processed"]) != BUCKETS - CRASH_AFTER \
                or noop["processed"] or len(noop["skipped"]) != BUCKETS:
            raise AssertionError(f"resume reprocessed {resumed}, rerun {noop}")
        return out

    def result_digest(self, out: str) -> str:
        """Checked outside the timed region: labels per url and the
        written rollups."""
        labels = label_hashes(read_labels(self.spark, out))
        langs = self.spark.read.parquet(f"{out}/rollups/languages").collect()
        shutil.rmtree(out, ignore_errors=True)
        return digest([sorted(labels.items()), _rows(langs)])

    def check_reference(self) -> list[str]:
        """After the crash and resume, the written labels must equal an
        uninterrupted run_pipeline over the same input, url by url, and a
        seeded sample of them must equal the per-document oracle on keep,
        keep_reason, lang and scrubbed_text."""
        bad = []
        labels = read_labels(self.spark, self.out)
        want = label_hashes(run_pipeline(self.spark, self.pages(), LABELS_CFG))
        got = label_hashes(labels)
        if got != want:
            diff = sorted(set(want.items()) ^ set(got.items()))[:3]
            bad.append(f"resumed labels differ from uninterrupted run: {diff}")
        sample = random.Random(self.seed).sample(self.rows, ORACLE_SAMPLE)
        rows = {r["url"]: r for r in labels.filter(
            F.col("url").isin([s[0] for s in sample])).collect()}
        for url, _, html, text, _ in sample:
            want = oracle.analyse_document(url, text, html, LABELS_CFG)
            r = rows.get(url)
            if r is None or (r["keep"], r["keep_reason"], r["lang"],
                             r["scrubbed_text"]) != (
                    want.keep, want.keep_reason, want.lang, want.scrubbed_text):
                bad.append(f"oracle mismatch for {url}")
        return bad

    def ladder(self):
        """Cumulative steps from the scan to the labels job; the workload's
        job (``write``) extends the labels job with the writes and the
        resume."""
        md = load_metadata()
        bare = replace(LABELS_CFG, **BARE)
        quality = replace(bare, quality_rules=True, calculate_lines=True)
        langid = replace(quality, langid_fallback=True, toxicity_filter=True)

        def scan():
            self.pages().agg(F.count("*"), F.sum(F.octet_length("text")),
                             F.sum(F.octet_length("html"))).collect()

        def path_filters():
            with_filter_flags(self.pages(), md, LABELS_CFG, [], None) \
                .groupBy("drop_reason_path") \
                .agg(F.count("*"), F.sum(F.octet_length("text")),
                     F.sum(F.octet_length("html"))).collect()

        def labels(cfg, *cols):
            def step():
                run_pipeline(self.spark, self.pages(), cfg).agg(
                    F.count("*"), F.sum("bytes"),
                    *[F.sum(_u32(c)) for c in cols]).collect()
            return step

        return [
            ("scan", scan),
            ("path_filters", path_filters),
            ("classify", labels(bare, "lang", "keep_reason")),
            ("quality", labels(quality, "lang", "keep_reason", "lines")),
            ("langid_toxicity", labels(langid, "lang", "keep_reason", "lines",
                                       "nl_lang")),
            ("scrub", labels(LABELS_CFG, "lang", "keep_reason", "lines",
                             "nl_lang", "scrubbed_text")),
            ("rollup", lambda: labels_job(self.spark, self.pages(), NOTRACE)),
        ]

    def layers(self, tr, sm) -> dict:
        """Write and resume layers from the traced run; pipeline, classify
        and rollup layers from one traced labels job on the same input."""
        resume = sm.executions(tr, "streaming.resume.resume")
        crash = sm.executions(tr, "streaming.resume.crash")
        rollups = sm.executions(tr, "sinks.write_rollups")
        writes = [n for n in nodes(crash + resume + rollups, "Execute")
                  if "number of written files" in n["metrics"]]
        audit = [e for e in resume
                 if not nodes([e], "Execute") and nodes([e], "Scan", "/labels")]
        label_write = [e for e in resume if nodes([e], "ArrowEvalPython")]
        snapshot = input_snapshot_id(self.pages())
        t0 = time.perf_counter()
        done = completed_buckets(self.spark, f"{self.out}/_lineage", snapshot)
        lineage_ms = (time.perf_counter() - t0) * 1e3
        if len(done) != BUCKETS:
            raise AssertionError(f"lineage lists {sorted(done)}")
        out = {
            "sinks.write_ms": tr.total_ms("sinks.write_rollups"),
            "sinks.files_written": sum(n["metrics"]["number of written files"]
                                       for n in writes),
            "sinks.bytes_written": sum(n["metrics"].get("written output", 0.0)
                                       for n in writes),
            "sinks.job_commit_ms": sum(n["metrics"].get("job commit time", 0.0)
                                       for n in writes),
            "stage.sinks.task_skew": task_skew(label_write),
            "resume.lineage_read_ms": lineage_ms,
            "resume.audit_ms": sum(e["duration_ms"] for e in audit),
            "resume.noop_rerun_ms": tr.total_ms("streaming.resume.noop"),
            "resume.buckets_reprocessed": len(self.resumed["processed"]),
        }
        with tr.span("labels"):
            labels_job(self.spark, self.pages(), tr)
        ex = sm.executions(tr, "rollup.collect")
        out.update(pipeline_layers(ex, tr))
        out.update(udf_layers(ex, "classify", "classify_udf"))
        final = min(nodes(ex, "HashAggregate"), default=None,
                    key=lambda n: n["metrics"].get("number of output rows", 0))
        out["rollup.agg_ms"] = final["metrics"].get(
            "time in aggregation build", 0.0) if final else 0.0
        out["rollup.shuffle_bytes"] = sum(
            s["shuffle_write_bytes"] for e in ex for s in e["stages"])
        sample = self.rows[:KERNEL_DOCS]
        out["classify.kernel_docs_per_s"] = classify_kernel(
            [r[0] for r in sample], [r[3] for r in sample])
        return out


# --- shared layer helpers --------------------------------------------------

def pipeline_layers(ex, tr) -> dict:
    """Scan, plan build, codegen and skew of the execution(s) running the
    label pipeline."""
    wsc = [n["metrics"].get("duration", 0.0)
           for n in nodes(ex, "WholeStageCodegen")]
    return {
        "sources.scan_ms": metric_sum(ex, "Scan parquet", "scan time"),
        "sources.scan_bytes": metric_sum(ex, "Scan parquet", "size of files read"),
        "sources.rows_in": metric_sum(ex, "Scan parquet", "number of output rows"),
        "pipeline.plan_build_ms": tr.total_ms("pipeline.run_pipeline"),
        "codegen.stage_ms": max(wsc, default=0.0),
        "stage.pipeline.task_skew": task_skew(ex),
    }


def udf_layers(ex, layer: str, udf: str) -> dict:
    """Worker time and Arrow bytes of the ArrowEvalPython node(s) that run
    ``udf``."""
    def m(name):
        return metric_sum(ex, "ArrowEvalPython", name, udf)

    rows = m("number of output rows")
    out = {f"{layer}.python_ms": m("time to run Python workers"),
           f"{layer}.bytes_sent": m("data sent to Python workers")}
    if layer == "classify":
        out.update({
            "classify.init_ms": m("time to initialize Python workers"),
            "classify.bytes_received": m("data returned from Python workers"),
            "classify.bytes_sent_per_row": out["classify.bytes_sent"] / rows
            if rows else 0.0,
        })
    return out


def _kernel_rate(fn, n: int, reps: int = 3) -> float:
    """docs/s of ``fn`` over ``n`` docs, single-threaded, median of reps
    after one untimed call."""
    fn()
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return n / median(times)


def classify_kernel(urls, texts) -> float:
    paths = pd.Series([oracle.path_of_url(u) for u in urls])
    texts = pd.Series(texts, dtype=object)
    return _kernel_rate(lambda: classify_batch(paths, texts, LABELS_CFG),
                        len(urls))


def ppl_kernel(texts) -> float:
    """The embedded char-bigram model, as the pipeline's ppl UDF uses it."""
    table, s = _logp(), pd.Series(texts, dtype=object)
    return _kernel_rate(lambda: perplexity_batch_with_table(table, s), len(texts))


class _NoTrace:
    """Stands in for a Tracer in untraced runs."""

    def span(self, name):
        return nullcontext()


NOTRACE = _NoTrace()
WORKLOADS = {w.name: w for w in (Corpus, ResumeWrite)}
