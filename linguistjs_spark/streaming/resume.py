"""Batch-with-resumability: per-partition checkpointing with lineage +
metrics rows and idempotent re-runs (north rule; SURVEY.md §2.8).

The reference is a run-to-completion batch tool (single analyse() call,
src/index.ts:18-20); at 10^12-doc scale a run must survive restarts. The unit
of work is a url-hash bucket (crawl order carries no useful locality, and
hash bucketing balances skew — the same xxhash64(url) the north rule requires
for repartitioning). For each bucket:

  1. skip if the _lineage table already records status='ok' for
     (bucket, input_snapshot) — idempotent restart;
  2. run the pipeline on that bucket's rows only;
  3. write labels to <out>/labels/bucket=<b> with mode=overwrite —
     partition-scoped overwrite is the parquet-dir analog of Iceberg's
     overwritePartitions, so a crashed half-written bucket is simply
     rewritten (write-audit-publish per partition);
  4. append a lineage row (bucket, snapshot, rows_in, rows_kept, wall_ms).

The driver loop orchestrates; all data work is distributed.
"""

from __future__ import annotations

import hashlib
import time
from typing import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import QualityFilterConfig
from ..pipeline import run_pipeline

LINEAGE_SCHEMA = (
    "bucket int, input_snapshot string, status string, rows_in long, "
    "rows_kept long, wall_ms long, finished_at timestamp"
)


def input_snapshot_id(df: DataFrame) -> str:
    """Fingerprint of the input file set (path list), the parquet-dir analog
    of an Iceberg snapshot id."""
    files = sorted(df.inputFiles())
    return hashlib.sha256("\n".join(files).encode()).hexdigest()[:16]


def completed_buckets(spark: SparkSession, lineage_dir: str, snapshot: str) -> set[int]:
    """Buckets the lineage records as done for ``snapshot``.

    A missing ``lineage_dir``, or one holding no committed file yet (a
    failed first lineage append leaves the bare directory), means nothing
    is done. Any other read failure (a corrupt file, a drifted schema)
    raises: answering "nothing done" would silently reprocess the whole
    input."""
    try:
        lin = spark.read.parquet(lineage_dir)
    except AnalysisException as e:
        if e.getCondition() in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            return set()
        raise
    rows = (
        lin.filter((F.col("status") == "ok") & (F.col("input_snapshot") == snapshot))
        .select("bucket")
        .distinct()
        .collect()
    )
    return {r["bucket"] for r in rows}


def _crash_split(pending: list[int], fail_after: int | None) -> tuple[list[int], bool]:
    """The ``fail_after`` crash-injection test hook: keep only the first N
    pending units, and say whether the run must die once they commit."""
    if fail_after is not None and len(pending) > fail_after:
        return pending[:fail_after], True
    return pending, False


def _append_lineage(
    spark: SparkSession, lineage_dir: str, snapshot: str,
    counts: dict[int, tuple[int, int]], wall_ms: int,
) -> None:
    """Record each committed unit as done: one ``LINEAGE_SCHEMA`` row per
    ``unit -> (rows_in, rows_kept)``, stamped with the commit time."""
    rows = [(b, snapshot, "ok", n_in, n_kept, wall_ms, None)
            for b, (n_in, n_kept) in counts.items()]
    spark.createDataFrame(rows, schema=LINEAGE_SCHEMA).withColumn(
        "finished_at", F.current_timestamp()
    ).write.mode("append").parquet(lineage_dir)


def _bucket_job(
    spark: SparkSession,
    source: DataFrame,
    output_dir: str,
    table: str,
    num_buckets: int,
    fail_after: int | None,
    build: Callable[[list[int]], DataFrame],
    kept: Column,
) -> dict:
    """Write the not-yet-done buckets of ``build(pending)`` (a frame with an
    int ``bucket`` column) to ``<out>/<table>/bucket=<b>`` and record them
    in ``<out>/_lineage``; ``kept`` is the per-bucket ``rows_kept``
    aggregate over the written rows.

    ONE job writes every pending bucket (VERDICT r01 #5 — the per-bucket
    loop ran ~2 full input scans per bucket). partitionBy(bucket) with
    dynamic partition overwrite keeps the per-bucket idempotent-overwrite
    contract: only the buckets present in this write are replaced, a
    crashed half-written bucket is rewritten wholesale on the next run
    (write-audit-publish per partition, the parquet-dir analog of
    Iceberg's overwritePartitions)."""
    lineage_dir = f"{output_dir}/_lineage"
    out_dir = f"{output_dir}/{table}"
    snapshot = input_snapshot_id(source)
    done = completed_buckets(spark, lineage_dir, snapshot)

    skipped = sorted(done & set(range(num_buckets)))
    pending, crash = _crash_split(
        [b for b in range(num_buckets) if b not in done], fail_after)
    if not pending:
        return {"processed": [], "skipped": skipped, "snapshot": snapshot}

    t0 = time.perf_counter()
    out = build(pending)
    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        out.write.mode("overwrite").partitionBy("bucket").parquet(out_dir)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
    wall_ms = int((time.perf_counter() - t0) * 1000)

    # audit pass: per-bucket counts from ONE scan of the WRITTEN rows —
    # never a second scan of the source
    stats = {
        r["bucket"]: (r["n"], r["k"])
        for r in spark.read.parquet(out_dir)
        .filter(F.col("bucket").isin(pending))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"), kept.alias("k"))
        .collect()
    }
    _append_lineage(spark, lineage_dir, snapshot,
                    {b: stats.get(b, (0, 0)) for b in pending}, wall_ms)

    if crash:
        raise RuntimeError(f"injected failure after {fail_after} buckets")
    return {"processed": pending, "skipped": skipped, "snapshot": snapshot}


def resumable_run(
    spark: SparkSession,
    pages: DataFrame,
    output_dir: str,
    cfg: QualityFilterConfig | None = None,
    num_buckets: int = 8,
    fail_after: int | None = None,
) -> dict:
    """Run the pipeline bucket-by-bucket with lineage checkpointing.

    fail_after: test hook — raise after N buckets to simulate a crash.
    Returns {'processed': [...], 'skipped': [...], 'snapshot': ...}.
    """
    bucket_col = F.pmod(F.xxhash64("url"), F.lit(num_buckets)).cast("int")

    def build(pending):
        part = pages.filter(bucket_col.isin(pending))
        return run_pipeline(spark, part, cfg).withColumn("bucket", bucket_col)

    # the pipeline emits exactly one label row per input row, so bucket
    # counts over the output equal input counts
    return _bucket_job(spark, pages, output_dir, "labels", num_buckets,
                       fail_after, build, F.sum(F.col("keep").cast("long")))


def read_labels(spark: SparkSession, output_dir: str) -> DataFrame:
    return spark.read.parquet(f"{output_dir}/labels")


# ---------------------------------------------------------------------------
# resumable composed training mix (VERDICT r03 item 9)
# ---------------------------------------------------------------------------


def resumable_training_mix(
    spark: SparkSession,
    docs: DataFrame,
    output_dir: str,
    fractions: dict[str, float],
    num_buckets: int = 8,
    seed: int = 7,
    bench_every: int = 50,
    fail_after: int | None = None,
) -> dict:
    """The composed training-mix job (exact-dedup winners -> eval-set
    decontamination -> deterministic stratified sample) with the same
    per-bucket lineage checkpointing as ``resumable_run`` — the workflow a
    100-TB user actually restarts.

    The checkpoint unit is a ``xxhash64(text)`` FINGERPRINT bucket, not a
    url bucket: every exact copy of a text lands in the same bucket, so
    per-bucket dedup (min doc_id per fingerprint) is exactly global dedup
    — restartable partitioning without changing the operator's semantics.
    Decontamination stays global (the bench-gram probe is a broadcast
    built from the full input each run — rebuilding it is two narrow scans
    of the tiny eval slice, never a correctness risk across restarts), and
    sampling is per-row key-hash deterministic, so the union of bucket
    outputs across any crash/restart sequence is byte-identical to the
    one-shot ``training_mix`` plan's sampled set.

    Writes sampled docs to ``<out>/mix/bucket=<b>`` (dynamic partition
    overwrite — a crashed half-written bucket is rewritten wholesale) and
    lineage rows to ``<out>/_lineage``. Returns the same dict shape as
    ``resumable_run``. ``training_mix_rollup`` aggregates the final mix.
    """
    from ..operators.training_select import training_mix

    docs = docs.select("doc_id", "lang", "text")
    bucket_col = F.pmod(F.xxhash64("text"), F.lit(num_buckets)).cast("int")
    bench = docs.filter(F.col("doc_id") % bench_every == 0)  # global probe

    def build(pending):
        # dedup inside the bucket == global dedup (fingerprint-aligned buckets)
        part = docs.filter(bucket_col.isin(pending))
        return training_mix(part, bench, fractions, seed).withColumn(
            "bucket", bucket_col)

    return _bucket_job(spark, docs, output_dir, "mix", num_buckets,
                       fail_after, build, F.count("*"))


def resumable_pagerank(
    spark: SparkSession,
    edges: DataFrame,
    output_dir: str,
    iters: int = 3,
    damping: float = 0.85,
    fail_after: int | None = None,
) -> dict:
    """Restartable PageRank: the checkpoint unit is the ITERATION.

    Iterative jobs have a different restart shape from the bucket jobs
    above — iteration t depends on all of t-1, so the unit of work is the
    whole rank table per iteration, materialized to
    ``<out>/ranks/iter=<t>`` (parquet _SUCCESS marker = committed).
    Restart scans the lineage for the last committed iteration under the
    same (edge-snapshot, damping) and continues from its rank table; a
    crashed half-written iteration is rewritten wholesale (overwrite).
    Materializing per iteration also bounds lineage exactly like the
    in-memory variant's localCheckpoint, with durability added.

    ``fail_after=k`` injects a crash after committing k pending
    iterations (test hook, same idiom as resumable_run). Returns
    {"processed": [...], "skipped": [...], "snapshot": ...}; read the
    final table with ``pagerank_ranks``.
    """
    from ..operators.link_graph import (
        pagerank_graph, pagerank_init, pagerank_step,
    )

    lineage_dir = f"{output_dir}/_lineage"
    snapshot = f"{input_snapshot_id(edges)}:d={damping!r}"
    done = completed_buckets(spark, lineage_dir, snapshot)

    nodes, n_df, deg, norm = pagerank_graph(edges)
    skipped = sorted(b for b in done if b <= iters)
    start = 0
    while start + 1 in done:
        start += 1
    pending, crash_after = _crash_split(
        list(range(start + 1, iters + 1)), fail_after)
    if not pending:
        return {"processed": [], "skipped": skipped, "snapshot": snapshot}

    ranks = (
        pagerank_init(nodes, n_df) if start == 0
        else spark.read.parquet(f"{output_dir}/ranks/iter={start}")
    )
    processed = []
    for it in pending:
        t0 = time.perf_counter()
        ranks = pagerank_step(nodes, n_df, deg, norm, ranks, damping)
        ranks.write.mode("overwrite").parquet(f"{output_dir}/ranks/iter={it}")
        ranks = spark.read.parquet(f"{output_dir}/ranks/iter={it}")
        wall_ms = int((time.perf_counter() - t0) * 1000)
        n_rows = ranks.count()
        _append_lineage(spark, lineage_dir, snapshot, {it: (n_rows, n_rows)},
                        wall_ms)
        processed.append(it)
    if crash_after:
        raise RuntimeError(f"injected failure after {fail_after} iterations")
    return {"processed": processed, "skipped": skipped, "snapshot": snapshot}


def pagerank_ranks(spark: SparkSession, output_dir: str, it: int) -> DataFrame:
    return spark.read.parquet(f"{output_dir}/ranks/iter={it}")


def training_mix_rollup(spark: SparkSession, output_dir: str) -> DataFrame:
    """Per-lang (n_docs, bytes) over the materialized mix — the same shape
    as the one-shot ``training_mix`` driver query's output."""
    from ..operators.training_select import mix_rollup

    return mix_rollup(spark.read.parquet(f"{output_dir}/mix"))
