#!/usr/bin/env python3
"""End-to-end extraction benchmark.

    python3 perfbench/run.py --workload flat_text --seed 1 --seconds 1 --trace 0

Runs the production job path, ``pipeline.run_extraction`` with the
arguments ``jobs/extract_job.py`` passes (parallelism = defaultParallelism,
default bucket concurrency), closed-loop, one job at a time, on
``local[nproc]`` from this single driver process, into a fresh output
directory per job. Set-up (session start, Python-worker warm-up, input
staging) is repeated ``SETUPS`` times and reported as a median. Every job's
output is checked (check.py).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` turns on the
Spark event log and replays the staged batches in-process to print the
per-layer metrics (layers.py). The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. Working files go
under ``.perfbench_run/`` in the checkout and are removed at exit; the
traced run leaves its spans in ``.perfbench_run/traces/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# 4 buckets = the default bucket concurrency, so one job is one wave of
# concurrent buckets; 16 buckets cost ~40 s per job on a 4-core host
# whatever the corpus size (README.md), more than the run budget allows
N_BUCKETS = 4
SETUPS = 3
WORKLOADS = ("flat_text", "rich_layout", "skewed")
# normal documents replayed in-process by the traced run (oversized: all)
REPLAY_DOCS = {"flat_text": 384, "rich_layout": 64, "skewed": 16}
ORACLE_SHARE = 0.01


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# ------------------------------------------------------------ window probe

def window_probe() -> dict:
    """A fixed CPU probe that runs no repository code, plus the host facts
    a reader needs to spot a noisy window. Reported, never used to
    normalise."""
    import numpy as np
    import pyarrow
    import pyspark

    t = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i
    py_s = time.perf_counter() - t
    a = np.random.default_rng(0).random((256, 256))
    t = time.perf_counter()
    for _ in range(20):
        a = a @ a
        a /= np.abs(a).max()
    np_s = time.perf_counter() - t
    return {"probe_python_s": py_s, "probe_numpy_s": np_s, "nproc": nproc(),
            "loadavg": os.getloadavg(), "python": platform.python_version(),
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "numpy": np.__version__}


# ------------------------------------------------------------------- memory

def _children() -> dict:
    kids: dict = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _hwm_kb(pid: int) -> int:
    """Peak resident set size of ``pid`` so far (VmHWM), 0 once it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class RssSampler(threading.Thread):
    """Peak RSS of the processes this one started: the driver JVM and the
    Python workers it forks. Every 50 ms it reads each live descendant's
    kernel-kept peak (VmHWM); the result sums those per-process peaks, so
    it does not depend on how many workers happen to be alive at one
    sampling instant."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peaks: dict = {}
        self._halt = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._halt.is_set():
            self._sample(me)
            self._halt.wait(0.05)
        self._sample(me)

    def _sample(self, me: int) -> None:
        jvm = set(_children().get(me, []))
        for p in descendants(me):
            # short-lived helpers the JVM forks inherit its peak: skip them
            if p in jvm or _comm(p).startswith("python"):
                self.peaks[p] = max(self.peaks.get(p, 0), _hwm_kb(p))

    def stop(self) -> float:
        """Stop sampling; the summed peak in MB."""
        self._halt.set()
        self.join()
        return sum(self.peaks.values()) / 1024


# ------------------------------------------------------------------ session

def start_session(work: str, trace: bool):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.eventLog.enabled": "true" if trace else "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    b = SparkSession.builder.master(f"local[{nproc()}]").appName("perfbench-extract")
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def setup_once(work: str, trace: bool, table, adapter: bool, k: int):
    """Session start + Python-worker warm-up + input staging."""
    import pyarrow.parquet as pq

    def warm(batches):  # nested, so workers receive it by value
        import pdfextract_spark.operators.extract_paged  # noqa: F401  engine + operators

        yield from batches

    t = time.perf_counter()
    spark = start_session(work, trace)
    n = spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, n).mapInPandas(warm, "id long").count()
    path = os.path.join(work, f"input{k}.parquet")
    pq.write_table(table, path)
    docs = spark.read.parquet(path)
    if adapter:
        from pdfextract_spark.sources.adapters import documents_to_interleaved

        docs = documents_to_interleaved(docs)
    return spark, docs, time.perf_counter() - t


def shutdown(spark) -> None:
    """Stop Spark, end the gateway JVM, and wait until every process this
    run started has exited."""
    from pyspark import SparkContext

    pids = descendants(os.getpid())
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if not _wait_gone(pids, 30):
        for p in pids:
            with contextlib.suppress(OSError):
                os.kill(p, signal.SIGKILL)
        _wait_gone(pids, 10)


def _wait_gone(pids: list, seconds: float) -> bool:
    deadline = time.monotonic() + seconds
    while any(os.path.exists(f"/proc/{p}") for p in pids):
        if time.monotonic() > deadline:
            return False
        time.sleep(0.2)
    return True


# -------------------------------------------------------------------- main

def prepare_env(work: str) -> None:
    """Make pdfextract_spark importable here and in the Python workers, and
    keep temporary files inside ``work``."""
    sys.path.insert(0, ROOT)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # takes precedence over spark.local.dir when set in the caller's shell
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")


def _sample_ids(inp, seed: int, k: int, threshold: int, salt: int) -> list:
    """``k`` seeded doc_ids among the documents the narrow path extracts."""
    import numpy as np

    eligible = [d for d, n in zip(inp.doc_ids, inp.span_counts or [0] * len(inp.doc_ids))
                if n <= threshold]
    rng = np.random.default_rng([seed, salt])
    k = min(k, len(eligible))
    return [eligible[i] for i in sorted(rng.choice(len(eligible), k, replace=False))]


def _docs_table(docs, ids: list):
    from pyspark.sql import functions as F

    return docs.filter(F.col("doc_id").isin(ids)).toArrow()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=0,
                    help="ordinary documents per job (default: the workload's size)")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "pdfextract_spark", "pipeline.py")):
        print(f"perfbench: no pdfextract_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "eventlog"))
    prepare_env(work)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))


def run(args, work: str) -> int:
    import check
    import layers
    import workloads
    from pdfextract_spark.config import CONFIG
    from pdfextract_spark.pipeline import run_extraction

    threshold = CONFIG.oversize_span_threshold
    trace_on = bool(args.trace)
    print("window " + json.dumps(window_probe()), flush=True)

    inp = workloads.build(args.workload, args.seed,
                          args.docs or workloads.DEFAULT_DOCS[args.workload], threshold)
    n_input = len(inp.doc_ids)
    oracle_ids = _sample_ids(inp, args.seed, max(2, math.ceil(ORACLE_SHARE * n_input)),
                             threshold, salt=1)
    replay_ids = _sample_ids(inp, args.seed, REPLAY_DOCS[args.workload], threshold, salt=2)
    replay_ids += [d for d, n in zip(inp.doc_ids, inp.span_counts) if n > threshold]

    spark = None
    setup_s, jobs, problems = [], [], []
    failed = 0
    try:
        for k in range(SETUPS):
            if spark is not None:
                spark.stop()
            spark, docs, secs = setup_once(work, trace_on, inp.table, inp.adapter, k)
            setup_s.append(secs)
        par = spark.sparkContext.defaultParallelism
        app_id = spark.sparkContext.applicationId

        # closed loop, one job at a time; the traced run times a single job
        start = time.perf_counter()
        while not jobs or (not trace_on and time.perf_counter() - start < args.seconds):
            out = os.path.join(work, "out", f"job{len(jobs)}")
            sampler = RssSampler()
            sampler.start()
            t0, p0 = time.time(), time.perf_counter()
            res = run_extraction(spark, docs, out, n_buckets=N_BUCKETS, parallelism=par)
            wall = time.perf_counter() - p0
            t1 = time.time()
            peak_mb = sampler.stop()
            job_problems, n_failed = check.check_output(out, inp.doc_ids, N_BUCKETS)
            problems += job_problems
            failed += n_failed
            jobs.append({"docs_per_s": n_input / wall, "peak_rss_mb": peak_mb,
                         "t0_ms": int(t0 * 1000), "t1_ms": int(t1 * 1000),
                         "buckets": len(res.buckets_done), "out": out})
            print(f"job {len(jobs)}: {wall:.3f} s, {n_input / wall:.3f} docs/s, peak RSS "
                  f"{peak_mb:.1f} MB over {len(sampler.peaks)} processes "
                  f"({sorted(round(v / 1024) for v in sampler.peaks.values())} MB)", flush=True)

        problems += check.oracle_mismatches(check.read_spans(jobs[0]["out"]),
                                            _docs_table(docs, oracle_ids))
        replay_docs = _docs_table(docs, replay_ids) if trace_on else None
    finally:
        shutdown(spark)

    if trace_on:
        job = jobs[0]
        layer = layers.eventlog_metrics(os.path.join(work, "eventlog", app_id),
                                        job["t0_ms"], job["t1_ms"])
        layer["pipeline.buckets_committed"] = job["buckets"]
        layer["pipeline.docs_per_s_eventlog"] = job["docs_per_s"]
        traces = os.path.join(ROOT, ".perfbench_run", "traces")
        os.makedirs(traces, exist_ok=True)
        layer.update(layers.replay(
            replay_docs, max(1, round(n_input / (N_BUCKETS * par * 4))), threshold,
            os.path.join(traces, f"{args.workload}-{args.seed}-spans.jsonl")))
        units = {k["name"]: k["unit"] for k in _spec()["per_layer"]}
        metrics = {k: {"value": v, "unit": units[k]} for k, v in layer.items()}
    else:
        metrics = {
            "setup_s": {"value": statistics.median(setup_s), "unit": "s"},
            "docs_per_s": {"value": statistics.median(j["docs_per_s"] for j in jobs),
                           "unit": "docs/s"},
            "peak_rss_mb": {"value": statistics.median(j["peak_rss_mb"] for j in jobs),
                            "unit": "MB"},
        }
    attempted = n_input * len(jobs)
    for p in problems:
        print("check failed: " + p, flush=True)
    print(f"summary workload={args.workload} seed={args.seed} jobs={len(jobs)} "
          f"docs_failed_ratio={failed / attempted} setup_s={setup_s}", flush=True)
    print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    sys.exit(main())
