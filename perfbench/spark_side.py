"""Spark side of the benchmark: session, inputs on disk, the measured
queries, and the per-stage ladder.

Every call into the system goes through its public functions:
``io_tables.read_pages_table``, ``pipeline.dedup_latest_crawl`` /
``extract_df`` / ``ExtractionJob``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from functools import partial
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession, functions as F

from fortissimo_spark.io_tables import read_pages_table
from fortissimo_spark.pipeline import (ExtractionJob, dedup_latest_crawl,
                                       extract_df)

ROOT = Path(__file__).resolve().parent.parent
BATCH_ROWS = 4096   # Arrow batch size of the session; tracing.py uses it too
JOB_ROUNDS = 2      # ladder rounds that also time the job and its resume


def prepare_env(work: Path) -> None:
    """Keep every file Spark, the JVM and Python write under ``work`` and let
    the Python workers import the package from the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    # the benchmark's own modules too: cloudpickle ships its functions by name
    inherited = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    paths = [str(ROOT), str(ROOT / "perfbench")] + [p for p in inherited if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    # every JVM, the spark-submit launcher included: no perf-data files
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-XX:-UsePerfData "
                                       f"-Djava.io.tmpdir={tmp}")
    os.environ["PYSPARK_PYTHON"] = sys.executable


def cores() -> int:
    return min(4, len(os.sched_getaffinity(0)))


def build_session(work: Path, k: int):
    spark = (SparkSession.builder
             .master(f"local[{k}]")
             .appName("perfbench")
             # one shuffle partition per core, never coalesced: adaptive
             # coalescing packs the k partitions into 2 tasks for some
             # inputs, which halves throughput depending on the seed
             .config("spark.sql.shuffle.partitions", str(k))
             .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(BATCH_ROWS))
             .config("spark.driver.memory", "2g")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.local.dir", str(work / "spark-local"))
             .config("spark.sql.warehouse.dir", str(work / "warehouse"))
             .config("spark.hadoop.hadoop.tmp.dir", str(work / "tmp"))
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def stop_session(spark) -> None:
    """Stop Spark and wait until its JVM (and with it the Python
    daemon and workers) has exited."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def write_inputs(corpus, directory: Path, n_files: int) -> None:
    """The generated pages as ``n_files`` parquet files (PAGES_SCHEMA)."""
    directory.mkdir(parents=True, exist_ok=True)
    schema = pa.schema([("url", pa.string()),
                        ("warc_ts", pa.timestamp("us", tz="UTC")),
                        ("html", pa.binary()), ("text", pa.string()),
                        ("lang", pa.string())])
    n = len(corpus.urls)
    for i in range(n_files):
        lo, hi = n * i // n_files, n * (i + 1) // n_files
        table = pa.table({"url": corpus.urls[lo:hi],
                          "warc_ts": corpus.warc_ts[lo:hi],
                          "html": corpus.html[lo:hi],
                          "text": [None] * (hi - lo),
                          "lang": corpus.lang[lo:hi]}, schema=schema)
        pq.write_table(table, directory / f"part-{i:03d}.parquet")


def first_document(spark, path: Path) -> None:
    """Warm-up: one small batch per core extracted end to end, so every
    Python worker is spawned and has imported the kernel."""
    rows = extract_df(read_pages_table(spark, str(path))).collect()
    if not rows or any(r["text"] is None for r in rows):
        raise RuntimeError("warm-up extracted no document")


def dir_bytes(path: Path) -> tuple[int, int]:
    """(data files, bytes) under ``path``, Spark's marker files excluded."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            if name.startswith(("_", ".")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dirpath, name))
    return files, size


class Groups:
    """Names each measured Spark action with a job group so its stages can be
    found again for failed-task and shuffle-byte counts."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.n = 0
        self.names: list[str] = []

    def start(self, label: str) -> str:
        self.n += 1
        name = f"{label}-{self.n}"
        self.names.append(name)
        self.sc.setJobGroup(name, label)
        return name

    def _stages(self, group: str) -> list[int]:
        tracker = self.sc.statusTracker()
        stages = []
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            if info is not None:
                stages.extend(info.stageIds)
        return stages

    def failed_tasks(self, group: str | None = None) -> int:
        tracker = self.sc.statusTracker()
        total = 0
        for g in ([group] if group else self.names):
            for stage in self._stages(g):
                info = tracker.getStageInfo(stage)
                if info is not None:
                    total += info.numFailedTasks
        return total

    def shuffle_write_bytes(self, group: str) -> int:
        store = self.sc._jsc.sc().statusStore()
        total = 0
        for stage in self._stages(group):
            try:
                total += store.lastStageAttempt(stage).shuffleWriteBytes()
            except Py4JJavaError:  # a skipped stage has no attempt
                pass
        return total


def headline(pages) -> dict:
    """The headline query: latest crawl per url -> density extract -> agg."""
    out = extract_df(dedup_latest_crawl(pages), "density")
    return out.agg(F.count("*").alias("docs"),
                   F.count("text").alias("texts"),
                   F.sum("html_bytes").alias("html_bytes"),
                   F.sum("errors").alias("errors")).collect()[0].asDict()


def collect_triples(df) -> list[tuple]:
    """(url, warc_ts in epoch microseconds, text) rows of an output frame."""
    return [tuple(r) for r in df.select(
        "url", F.unix_micros("warc_ts").alias("ts"), "text").collect()]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _passthrough(batches):
    """Ships the kernel's input columns into Python and a narrow frame back."""
    for pdf in batches:
        yield pd.DataFrame({"url": pdf["url"], "warc_ts": pdf["warc_ts"],
                            "lang": pdf["lang"],
                            "n": [len(b) if b is not None else 0
                                  for b in pdf["html"]]})


def stage_ladder(spark, input_dir: Path, work: Path, seconds: float,
                 min_rounds: int) -> dict:
    """Noop-sink timings of the headline query cut after each stage, plus
    ``ExtractionJob.run`` into a fresh directory and a resumed run over its
    committed output.

    Untimed warm-up rounds of every step run for ``seconds / 2``; then timed
    rounds of the five query steps run until ``seconds`` have passed and at
    least ``min_rounds`` have run. The job and its resume cost about as much
    as the rest of a round, so only the first ``JOB_ROUNDS`` timed rounds
    time them. Returns the median and sample count of each step."""
    groups = Groups(spark)
    pages = read_pages_table(spark, str(input_dir))
    cols = ("url", "warc_ts", "html", "lang")

    def deduped():
        return dedup_latest_crawl(pages).select(*cols)

    steps = {
        "scan": lambda: noop(pages.select(*cols)),
        "dedup": lambda: noop(deduped()),
        "passthrough": lambda: noop(deduped().mapInPandas(
            _passthrough, "url string, warc_ts timestamp, lang string, n long")),
        "extract": lambda: noop(extract_df(dedup_latest_crawl(pages))),
        "headline": lambda: headline(pages),
    }
    times = {name: [] for name in (*steps, "job", "resume")}
    shuffle = []
    job_dir = work / "ladder-job"

    def one_round(timed: bool, with_job: bool) -> None:
        todo = dict(steps)
        if with_job:
            shutil.rmtree(job_dir, ignore_errors=True)
            job = ExtractionJob(spark, str(job_dir))
            todo["job"] = partial(job.run, pages, resume=False)
            todo["resume"] = partial(job.run, pages, resume=True)
        for name, fn in todo.items():
            group = groups.start(name)
            t0 = time.perf_counter()
            fn()
            elapsed = time.perf_counter() - t0
            if timed:
                times[name].append(elapsed)
                if name == "dedup":
                    shuffle.append(groups.shuffle_write_bytes(group))

    t_start = time.perf_counter()
    one_round(timed=False, with_job=True)
    while time.perf_counter() - t_start < seconds / 2:
        one_round(timed=False, with_job=False)
    t_start = time.perf_counter()
    rounds = 0
    while rounds < min_rounds or time.perf_counter() - t_start < seconds:
        one_round(timed=True, with_job=rounds < JOB_ROUNDS)
        rounds += 1
    files, size = dir_bytes(job_dir)
    return {"median_s": {k: statistics.median(v) for k, v in times.items()},
            "samples": {k: len(v) for k, v in times.items()},
            "dedup_shuffle_bytes": statistics.median(shuffle),
            "write_files": files, "write_bytes": size,
            "failed_tasks": groups.failed_tasks(),
            "text_path": ExtractionJob(spark, str(job_dir)).text_path}
