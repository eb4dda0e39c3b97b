#!/usr/bin/env python3
"""Seeded extraction benchmark.

    python3 perfbench/run.py --workload crawl_extract --seed 1 --seconds 8 --trace 0

Generates the workload's pages from ``--seed``, runs them through the
pipeline on ``local[k]`` (k = min(4, cores)) from this one Python process,
checks every extracted text against what the generator recorded, and prints
as its last stdout line ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` the per-layer
metrics (Spark stage isolation plus a traced single-thread kernel run) and
the table of which end-to-end metric each layer metric should move.
The line before the result holds the workload fingerprint, the host-noise
record and the raw samples behind each metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

import pandas as pd

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import host  # noqa: E402
import spark_side  # noqa: E402  (imports pyspark and fortissimo_spark)
import tracing  # noqa: E402
from workloads import WORKLOAD_NAMES, Corpus, check_output, generate  # noqa: E402

# per-layer metric -> (unit, better, end-to-end metric it should move,
# workloads where it should move, how it is measured)
_JOB_MOVES = "docs_per_s, out_bytes_per_html_byte"
LAYERS = {
    "io_tables.scan_s": ("s", "lower", "-", "-", "noop scan"),
    "pipeline.dedup_s": ("s", "lower", "docs_per_s",
                         "crawl_extract, crawl_job_write", "scan+dedup - scan"),
    "pipeline.dedup_shuffle_bytes": ("bytes", "lower", "docs_per_s",
                                     "crawl_extract, crawl_job_write",
                                     "dedup exchange shuffle-write bytes"),
    "kernel.boundary_s": ("s", "lower", "docs_per_s",
                          "crawl_extract (flat on messy_long_pages)",
                          "pass-through mapInPandas - scan+dedup"),
    "kernel.extract_stage_s": ("s", "lower", "docs_per_s", "all",
                               "extract_df noop - pass-through"),
    "pipeline.agg_s": ("s", "lower", "-", "-", "headline - extract_df noop"),
    "pipeline.job_overhead_s": ("s", "lower", _JOB_MOVES, "crawl_job_write",
                                "ExtractionJob.run - extract_df noop"),
    "pipeline.resume_s": ("s", "lower", _JOB_MOVES, "crawl_job_write",
                          "resume run over committed output"),
    "pipeline.write_files": ("count", "lower", _JOB_MOVES, "crawl_job_write",
                             "job output files"),
    "pipeline.write_bytes": ("bytes", "lower", _JOB_MOVES, "crawl_job_write",
                             "job output bytes"),
    "spark.failed_tasks": ("count", "lower", "doc_ok_ratio", "all",
                           "failed tasks, all ladder jobs"),
    "spark.parallel_eff": ("ratio", "higher", "docs_per_s", "all",
                           "docs_per_s / (k * kernel.docs_per_s_1thread)"),
    "parser.parse_us_per_doc": ("us", "lower", "docs_per_s",
                                "messy_long_pages, crawl_extract", "trace"),
    "parser.parse_ns_per_byte": ("ns/byte", "lower", "docs_per_s",
                                 "messy_long_pages, crawl_extract", "trace"),
    "parser.parse_us_p99": ("us", "lower",
                            "docs_per_s (stragglers), worker_peak_rss_mb",
                            "messy_long_pages", "trace"),
    "parser.parse_us_max": ("us", "lower",
                            "docs_per_s (stragglers), worker_peak_rss_mb",
                            "messy_long_pages", "trace"),
    "kernel.decode_us_per_doc": ("us", "lower", "docs_per_s",
                                 "messy_long_pages (not crawl_extract)",
                                 "trace: decode_parse - parse"),
    "kernel.charset_retry_ratio": ("ratio", "lower", "docs_per_s",
                                   "messy_long_pages (not crawl_extract)",
                                   "encoding_retried share"),
    "extract.extract_us_per_doc": ("us", "lower", "docs_per_s",
                                   "crawl_extract", "trace"),
    "kernel.assembly_us_per_doc": ("us", "lower", "docs_per_s",
                                   "crawl_extract (flat on messy_long_pages)",
                                   "trace: batch - decode_parse - extract"),
    "kernel.docs_per_s_1thread": ("1/s", "higher", "-", "-",
                                  "single-thread baseline, untraced"),
    "parser.nodes_per_doc": ("count", "lower", "-", "-", "fingerprint"),
    "parser.errors_per_doc": ("count", "lower", "-", "-", "fingerprint"),
    "parser.implicitly_closed_per_doc": ("count", "lower", "-", "-",
                                         "fingerprint"),
    "extract.kept_text_ratio": ("ratio", "higher", "-", "-", "fingerprint"),
    "trace.overhead_ratio": ("ratio", "higher", "-", "-",
                             "traced / untraced 1-thread docs/s"),
}

END_TO_END = {
    "docs_per_s": "1/s",
    "setup_s": "s",
    "text_exact_ratio": "ratio",
    "doc_ok_ratio": "ratio",
    "worker_peak_rss_mb": "MB",
    "out_bytes_per_html_byte": "ratio",
}

MIN_PASSES = 3            # timed passes and stage-ladder rounds, at least
INPUT_FILES = 8
SAMPLE_BYTES = 3 << 20    # single-thread sample: first pages up to 3 MB
WORK = HERE.parent / ".perfbench_work"


def _gate(corpus, rows: list) -> dict:
    check = check_output(corpus.expected, rows)
    for url, why in check["first_offending"]:
        print(f"correctness gate: {why}: {url}", file=sys.stderr)
    return check


def _time_headline(spark, pages, job_dir: Path) -> tuple[float, int]:
    """One pass of the headline query: (seconds, docs output with text)."""
    t = time.perf_counter()
    texts = spark_side.headline(pages)["texts"]
    return time.perf_counter() - t, texts


def _time_job(spark, pages, job_dir: Path) -> tuple[float, int]:
    """``ExtractionJob.run`` into a fresh directory, then a resumed run over
    its committed output: (seconds, docs output with text)."""
    shutil.rmtree(job_dir, ignore_errors=True)
    job = spark_side.ExtractionJob(spark, str(job_dir))
    t = time.perf_counter()
    job.run(pages, resume=False)
    job.run(pages, resume=True)
    elapsed = time.perf_counter() - t
    out = spark.read.parquet(job.text_path)
    return elapsed, out.where(out["text"].isNotNull()).count()


def run_end_to_end(args, corpus, work: Path, record: dict) -> dict:
    inputs, warmup = work / "pages", work / "warmup"
    job_dir = work / "job"
    one_pass = _time_job if args.workload == "crawl_job_write" else _time_headline
    t0 = time.perf_counter()
    spark = spark_side.build_session(work, spark_side.cores())
    try:
        spark_side.first_document(spark, warmup)
        setup_s = record["imports_s"] + time.perf_counter() - t0
        pages = spark_side.read_pages_table(spark, str(inputs))
        groups = spark_side.Groups(spark)
        attempted = len(corpus.expected)
        # untimed warm-up passes for half the run length: the first passes
        # after start-up run up to 4x slower while the JVM compiles
        warm = []
        t_start = time.perf_counter()
        while not warm or time.perf_counter() - t_start < args.seconds / 2:
            groups.start("warm")
            warm.append(one_pass(spark, pages, job_dir)[0])
        times, out_docs, failed = [], [], 0
        with host.WorkerRssSampler(spark_side.jvm_pid(spark)) as rss:
            t_start = time.perf_counter()
            while (len(times) < MIN_PASSES
                   or time.perf_counter() - t_start < args.seconds):
                group = groups.start("pass")
                elapsed, texts = one_pass(spark, pages, job_dir)
                times.append(elapsed)
                out_docs.append(texts)
                failed += max(0, attempted - texts)
                if groups.failed_tasks(group):
                    failed += attempted
        # correctness and output size, outside the timed region
        if args.workload == "crawl_job_write":
            out_dir = Path(spark_side.ExtractionJob(spark, str(job_dir)).text_path)
        else:
            out_dir = work / "extracted"
            spark_side.extract_df(spark_side.dedup_latest_crawl(pages)) \
                .write.parquet(str(out_dir))
        out_bytes = spark_side.dir_bytes(out_dir)[1]
        check = _gate(corpus, spark_side.collect_triples(
            spark.read.parquet(str(out_dir))))
    finally:
        spark_side.stop_session(spark)
    passes = len(times)
    record.update(warm_pass_s=warm, pass_s=times, passes=passes, gate=check)
    metrics = {
        "docs_per_s": statistics.median(out_docs) / statistics.median(times),
        "setup_s": setup_s,
        "text_exact_ratio": check["exact"] / max(1, check["rows"]),
        "doc_ok_ratio": 1 - failed / (attempted * passes),
        "worker_peak_rss_mb": rss.peak_kb / 1024,
        "out_bytes_per_html_byte": out_bytes / record["fingerprint"]["html_bytes"],
    }
    return {"correct": check["mismatches"] == 0,
            "attempted": attempted * passes, "failed": failed,
            "metrics": {k: {"value": v, "unit": END_TO_END[k]}
                        for k, v in metrics.items()}}


def run_traced(args, corpus, work: Path, record: dict) -> dict:
    inputs, warmup = work / "pages", work / "warmup"
    k = spark_side.cores()
    spark = spark_side.build_session(work, k)
    try:
        spark_side.first_document(spark, warmup)
        ladder = spark_side.stage_ladder(spark, inputs, work, args.seconds,
                                         MIN_PASSES)
        check = _gate(corpus, spark_side.collect_triples(
            spark.read.parquet(ladder["text_path"])))
    finally:
        spark_side.stop_session(spark)
    n, size = 0, 0
    while n < len(corpus.html) and (n < 2 or size < SAMPLE_BYTES):
        size += len(corpus.html[n])
        n += 1
    sample = pd.DataFrame({"url": corpus.urls[:n], "warc_ts": corpus.warc_ts[:n],
                           "html": corpus.html[:n], "lang": corpus.lang[:n]})
    trace_file = WORK / "traces" / f"{args.workload}-seed{args.seed}.jsonl"
    single, slowest = tracing.single_thread(sample, reps=2,
                                            trace_path=trace_file)
    med = ladder["median_s"]
    attempted = len(corpus.expected)
    docs_per_s = attempted / med["headline"]
    metrics = {
        "io_tables.scan_s": med["scan"],
        "pipeline.dedup_s": med["dedup"] - med["scan"],
        "pipeline.dedup_shuffle_bytes": ladder["dedup_shuffle_bytes"],
        "kernel.boundary_s": med["passthrough"] - med["dedup"],
        "kernel.extract_stage_s": med["extract"] - med["passthrough"],
        "pipeline.agg_s": med["headline"] - med["extract"],
        "pipeline.job_overhead_s": med["job"] - med["extract"],
        "pipeline.resume_s": med["resume"],
        "pipeline.write_files": ladder["write_files"],
        "pipeline.write_bytes": ladder["write_bytes"],
        "spark.failed_tasks": ladder["failed_tasks"],
        "spark.parallel_eff":
            docs_per_s / (k * single["kernel.docs_per_s_1thread"]),
        **single,
    }
    record.update(ladder_median_s=med, ladder_samples=ladder["samples"],
                  single_thread_sample_docs=n, slowest_parse_doc=slowest,
                  trace_file=str(trace_file.relative_to(HERE.parent)),
                  gate=check)
    print(f"{'layer metric':34} {'value':>14} {'unit':8} "
          "measured as | should move -> on workload")
    for name, value in metrics.items():
        unit, _, moves, on, how = LAYERS[name]
        print(f"{name:34} {value:14.4f} {unit:8} {how} | {moves} -> {on}")
    print(f"slowest parse: {slowest}")
    return {"correct": check["mismatches"] == 0, "attempted": attempted,
            "failed": attempted if ladder["failed_tasks"] else 0,
            "metrics": {k: {"value": v, "unit": LAYERS[k][0]}
                        for k, v in metrics.items()}}


def main(argv=None) -> int:
    # process start until here: the interpreter and every import, which
    # setup_s counts
    imports_s = host.seconds_since_process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the self-test uses tiny sizes)")
    args = ap.parse_args(argv)

    work = WORK / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    spark_side.prepare_env(work)
    record = {"workload": args.workload, "seed": args.seed,
              "k": spark_side.cores(), "imports_s": imports_s,
              "loadavg_start": host.loadavg(),
              "control_sha_s": [host.cpu_control_sample()],
              "control_membw_s": [host.membw_control_sample()]}
    try:
        t = time.perf_counter()
        corpus = generate(args.workload, args.seed, args.scale)
        spark_side.write_inputs(corpus, work / "pages", INPUT_FILES)
        warm = Corpus(urls=corpus.urls[:16], warc_ts=corpus.warc_ts[:16],
                      html=corpus.html[:16], lang=corpus.lang[:16])
        spark_side.write_inputs(warm, work / "warmup", spark_side.cores())
        record["fingerprint"] = corpus.fingerprint()
        record["generate_s"] = time.perf_counter() - t
        if args.trace:
            result = run_traced(args, corpus, work, record)
        else:
            result = run_end_to_end(args, corpus, work, record)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    record["loadavg_end"] = host.loadavg()
    record["control_sha_s"].append(host.cpu_control_sample())
    record["control_membw_s"].append(host.membw_control_sample())
    print(json.dumps({"record": record}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
