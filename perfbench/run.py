#!/usr/bin/env python3
"""Benchmark runner for linguistjs_spark.

    python3 perfbench/run.py --workload labels --seed 1 --seconds 10 --trace 0

Run from the repository root. One driver process starts a SparkSession at
local[<cores>], generates the workload's input from the seed, warms up, and
then runs the job in a closed loop (one job at a time, the next starts when
the previous one has finished) for ``--seconds``. Every run's output is
checked. With ``--trace 1`` it instead runs rounds of an ablation ladder,
each ending with an untraced and a traced run of the job, and reports
per-layer metrics.

The last line of standard output is one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
See perfbench/README.md for the workloads and every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback
from statistics import median

from measure import MemorySampler, SparkMetrics, Tracer, cpu_ticks, host_share

START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()

END_TO_END = {"wall_s": "s", "docs_per_s": "docs/s", "peak_rss_mb": "MiB",
              "setup_s": "s"}
PER_LAYER = {
    "sources.scan_ms": "ms", "sources.scan_bytes": "bytes",
    "sources.rows_in": "count", "pipeline.plan_build_ms": "ms",
    "classify.python_ms": "ms", "classify.init_ms": "ms",
    "classify.bytes_sent": "bytes", "classify.bytes_received": "bytes",
    "classify.bytes_sent_per_row": "bytes/row",
    "classify.kernel_docs_per_s": "docs/s",
    "ppl.python_ms": "ms", "ppl.bytes_sent": "bytes",
    "ppl.kernel_docs_per_s": "docs/s", "zlib.python_ms": "ms",
    "codegen.stage_ms": "ms",
    **{f"ladder.{s}_s": "s" for s in (
        "scan", "path_filters", "classify", "quality", "langid_toxicity",
        "scrub", "rollup", "extract", "normalize_mojibake", "compression",
        "perplexity", "gopher", "dedup")},
    "dedup.shuffle_bytes": "bytes", "dedup.shuffle_write_ms": "ms",
    "dedup.agg_ms": "ms", "dedup.peak_memory_bytes": "bytes",
    "dedup.avg_hash_probe": "probes/key", "dedup.lsh_candidates": "count",
    "dedup.verified_pairs": "count", "dedup.verify_yield": "ratio",
    "dedup.exact_dup_rows": "count",
    "rollup.agg_ms": "ms", "rollup.shuffle_bytes": "bytes",
    "stage.pipeline.task_skew": "ratio", "stage.dedup.task_skew": "ratio",
    "stage.sinks.task_skew": "ratio",
    "sinks.write_ms": "ms", "sinks.files_written": "count",
    "sinks.bytes_written": "bytes", "sinks.job_commit_ms": "ms",
    "resume.lineage_read_ms": "ms", "resume.audit_ms": "ms",
    "resume.noop_rerun_ms": "ms", "resume.buckets_reprocessed": "count",
    "ladder.write_s": "s",
    "trace.overhead_s": "s", "host.dirty_runs": "count",
}

MIN_RUNS = 2        # timed runs, even if --seconds has passed
ROUNDS = 2          # --trace 1: ladder rounds; marginals come from medians
# a ladder marginal more negative than this share of the full job's wall is
# a failed check; a smaller negative one is ladder noise and reads 0
LADDER_TOL = 0.05
# host contamination: steal, or kernel time well above what the workloads'
# own file writes cost (resume_write spends about 6% in the kernel)
DIRTY_STEAL_PCT, DIRTY_SYS_PCT = 3.0, 15.0


def configure_env(work: str) -> None:
    """Environment for the JVM and the Python workers, set before the JVM
    starts (local-mode workers inherit it)."""
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Keep Arrow buffers in glibc with trimming off, so workers do not hand
    # pages back and refault them between batches.
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    # Spark's scratch space (this variable overrides spark.local.dir)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    sys.path[:0] = [ROOT, HERE]


def make_spark(work: str, cores: int):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("linguistjs-perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.driver.memory", "2g")
        .config("spark.driver.extraJavaOptions",
                # The heap is reserved up front (no resizing steps) but not
                # touched, and the young generation has a fixed size: the
                # JVM's resident size then follows its old generation, the
                # data the program keeps, rather than GC sizing decisions.
                f"-Xms2g -XX:NewSize=512m -XX:MaxNewSize=512m "
                f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the JVM gateway, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


class Runner:
    def __init__(self, args, work: str, out_dir: str):
        self.args = args
        self.work = work
        self.out_dir = out_dir
        self.cores = len(os.sched_getaffinity(0))
        self.problems: list[str] = []
        self.runs: list[dict] = []
        self.spark = None
        self.layers: dict = {}
        self.span_self_ms: dict = {}
        self.raw: dict = {}  # derived values before clamping at 0

    def note(self, msg: str) -> None:
        self.problems.append(msg)
        print(f"check failed: {msg}", file=sys.stderr)

    def setup(self):
        """Session start, input generation and the untimed warm-up run.
        Runs once: a cold set-up costs 35-45 s on a 4-core VM, three to
        four times a timed run, so repeating it would multiply every run's
        length."""
        from workloads import NOTRACE, WORKLOADS

        t0 = time.perf_counter()
        self.spark = make_spark(self.work, self.cores)
        t1 = time.perf_counter()
        wl = WORKLOADS[self.args.workload](self.spark, self.work, self.args.seed)
        wl.generate(os.path.join(self.work, "input"))
        t2 = time.perf_counter()
        token = wl.job(NOTRACE)
        t3 = time.perf_counter()
        self.setup_s = t3 - t0
        self.setup_parts = {"session_s": t1 - t0, "generate_s": t2 - t1,
                            "warmup_s": t3 - t2}
        self.docs = wl.docs
        for p in wl.check_reference():
            self.note(p)
        return wl, wl.result_digest(token)

    def timed(self, wl, ref: str, mem, tracer=None, harvest=False) -> dict:
        from workloads import NOTRACE

        tr = tracer or NOTRACE
        mem.peak()
        c0, t0 = cpu_ticks(), time.perf_counter()
        rec = {"traced": tracer is not None, "ok": False}
        try:
            with tr.span(wl.name):
                token = wl.job(tr)
            rec["wall_s"] = time.perf_counter() - t0
            rec.update(host_share(c0, cpu_ticks()))
            rec["peak_rss_mb"] = mem.peak()
            if harvest:
                self.layers = wl.layers(tr, self.metrics)
                self.span_self_ms = tr.self_ms()
            got = wl.result_digest(token)
            rec["ok"] = got == ref
            if not rec["ok"]:
                self.note(f"run {len(self.runs)} digest {got} != warm-up {ref}")
        except Exception:
            rec["error"] = traceback.format_exc()
            self.note(f"run {len(self.runs)} raised:\n{rec['error']}")
        rec["dirty"] = (rec.get("steal_pct", 0.0) > DIRTY_STEAL_PCT
                        or rec.get("sys_pct", 0.0) > DIRTY_SYS_PCT)
        self.runs.append(rec)
        return rec

    def loop(self, wl, ref, mem, seconds: float) -> None:
        """Closed loop: the next run starts only when the previous one
        ended."""
        start = time.perf_counter()
        while time.perf_counter() - start < seconds or len(self.runs) < MIN_RUNS:
            self.timed(wl, ref, mem)

    def traced_rounds(self, wl, ref, mem) -> dict:
        """ROUNDS rounds, each running the ladder's steps, then the job
        untraced (the ladder's last step) and traced, in alternating order
        (the first run after the ladder is the slower one). Returns the
        ladder marginals and the tracing overhead, each from medians of the
        rounds, and harvests the layers from the last traced run."""
        steps = wl.ladder()
        times: dict[str, list[float]] = {name: [] for name, _ in steps}
        times[wl.full_step] = []
        traced = []
        with open(os.path.join(self.out_dir, "spans.jsonl"), "w") as spans:
            for k in range(ROUNDS):
                for name, fn in steps:
                    t0 = time.perf_counter()
                    fn()
                    times[name].append(time.perf_counter() - t0)
                for with_trace in ((False, True) if k % 2 == 0 else (True, False)):
                    if with_trace:
                        tracer = Tracer(self.spark, f"traced{k}")
                        rec = self.timed(wl, ref, mem, tracer,
                                         harvest=k == ROUNDS - 1)
                        tracer.write(spans)
                    else:
                        rec = self.timed(wl, ref, mem)
                    if rec["ok"]:
                        (traced if with_trace else times[wl.full_step]).append(
                            rec["wall_s"])
        if not times[wl.full_step] or not traced:
            return {}
        # The marginals telescope: they sum to the median of the full job,
        # the workload's own untraced wall in this session.
        out, prev, full = {}, 0.0, median(times[wl.full_step])
        for name in times:
            med = median(times[name])
            self.raw[f"ladder.{name}_s"] = med - prev
            if med - prev < -LADDER_TOL * full:
                self.note(f"ladder step {name} is {prev - med:.3f} s cheaper "
                          f"than the step it extends: {times}")
            out[f"ladder.{name}_s"] = max(0.0, med - prev)
            prev = med
        self.raw["trace.overhead_s"] = median(traced) - prev
        out["trace.overhead_s"] = max(0.0, self.raw["trace.overhead_s"])
        return out

    def run(self) -> dict:
        """End-to-end metrics, or with --trace 1 the per-layer ones."""
        with MemorySampler() as mem:
            wl, ref = self.setup()
            if not self.args.trace:
                self.loop(wl, ref, mem, self.args.seconds)
                ok = [r for r in self.runs if r["ok"]]
                wall_s = median([r["wall_s"] for r in ok]) if ok else 0.0
                return {
                    "wall_s": wall_s,
                    "docs_per_s": wl.docs / wall_s if wall_s else 0.0,
                    # the JVM's old generation grows and is not handed back,
                    # so the peak of the measured period is its last run's
                    "peak_rss_mb": max([r["peak_rss_mb"] for r in ok],
                                       default=0.0),
                    "setup_s": self.setup_s,
                }
            self.metrics = SparkMetrics(self.spark)
            derived = self.traced_rounds(wl, ref, mem)
            metrics = dict.fromkeys(PER_LAYER, 0.0)
            metrics.update(self.layers)
            metrics.update(derived)
            metrics["host.dirty_runs"] = sum(r["dirty"] for r in self.runs)
            for name, value in metrics.items():
                if value < 0:
                    self.note(f"{name} is negative: {value}")
            return metrics


def main(argv=None) -> int:
    # on SIGTERM, unwind through the finally below: stop the JVM and the
    # Python workers and delete the scratch data
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["corpus", "resume_write"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "linguistjs_spark", "pipeline.py")):
        print("error: run from the repository root; linguistjs_spark/ "
              "is not here", file=sys.stderr)
        return 2
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(HERE, ".work", run_id)
    out_dir = os.path.join(HERE, "results", run_id)
    os.makedirs(out_dir, exist_ok=True)
    configure_env(work)
    runner = Runner(args, work, out_dir)
    try:
        values = runner.run()
    finally:
        if runner.spark is not None:
            stop_spark(runner.spark)
        shutil.rmtree(work, ignore_errors=True)

    units = {**END_TO_END, **PER_LAYER}
    metrics = {k: {"value": float(v), "unit": units[k]} for k, v in values.items()}
    runs = runner.runs
    failed = sum(not r["ok"] for r in runs)
    with open(os.path.join(out_dir, "record.json"), "w") as f:
        json.dump({"args": vars(args), "cores": runner.cores,
                   "setup_s": runner.setup_s, "setup": runner.setup_parts,
                   "runs": runs,
                   "elapsed_s": time.perf_counter() - START,
                   "span_self_ms": runner.span_self_ms,
                   "derived_before_clamp": runner.raw,
                   "problems": runner.problems, "metrics": metrics}, f, indent=1)
    print(f"{args.workload} seed={args.seed} local[{runner.cores}] "
          f"docs={runner.docs} runs={len(runs)} "
          f"dirty={sum(r['dirty'] for r in runs)} "
          f"error_rate={failed / max(len(runs), 1):.3f}")
    for name, m in metrics.items():
        print(f"  {name:32s} {m['value']:14.4f} {m['unit']}")
    print(json.dumps({"correct": not runner.problems, "attempted": len(runs),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
