"""Production extraction pipeline: partitioning, checkpointed lineage, resume.

Design for 10^12 documents (north rule):

- **Unit of work = bucket.** `doc_bucket = pmod(xxhash64(doc_id), n_buckets)`.
  Buckets are the checkpoint/lineage grain: each completed bucket appends one
  manifest row (bucket, n_docs, n_spans, n_errors, wall_s, ts) and its output
  under `spans/bucket=<b>/`. Resume anti-joins the manifest — already-done
  buckets are never recomputed, and a mid-bucket failure re-runs only that
  bucket (output dir is overwritten atomically per bucket).
  On a real deployment the same layout maps 1:1 onto an Iceberg table
  partitioned by `bucket(doc_id, N)` with snapshot-per-bucket commits; the
  sandbox has no Iceberg runtime, so the layout is parquet dirs + a parquet
  manifest, same semantics.

- **Skew (size banding).** A ~0.1% band of ~100x documents would make one
  Arrow batch and one task stall its whole partition. Extraction batches are
  therefore split by size band: small docs flow in large batches; oversized
  docs (span_count > threshold) are repartitioned round-robin so each lands
  alone in a task, or (the default) fan out over (doc_id, page) through the
  page-parallel operator. One aggregate per run lists the buckets that hold
  oversized documents; only those buckets build the oversized branch.

- **Task budget (one narrow task per core per bucket wave).** Every Python
  task costs ~0.3 s of fixed overhead regardless of its input: on a 4-core
  `local[4]` session 64 empty `mapInPandas` tasks take 4.7-5.6 s with reused
  workers, 64 JVM-only tasks 0.3-0.5 s. The cause is in PySpark, not here:
  `worker_util.setup_spark_files` calls `importlib.invalidate_caches()` for
  every task, which on Python < 3.13 makes each zipimporter on the worker's
  path re-read its archive's directory (Spark puts `pyspark.zip`, the py4j
  zip and the spark-core jar there). The pipeline therefore launches as few
  Python tasks as keep the cores busy: `workers` buckets run at once, so each
  bucket's narrow extraction gets `ceil(parallelism / workers)` partitions
  (`narrow_partitions`) and a wave of in-flight buckets fills the cores about
  once. The manifest commit is a one-row JVM-only DataFrame (`spark.range`
  plus literals): one JVM task, no Python task.

- **Quarantine.** Per-doc failures inside the UDF become `kind='error'` rows
  (TextExtractor.java:124-131 analog); they are split out of the main output
  into `quarantine/` and counted in the manifest — a task never fails on a
  malformed document.

- **Metrics.** The manifest doubles as the extraction-metrics table:
  docs/sec per bucket, error rates, span counts — queryable with plain SQL.
  `ts` is the bucket's commit time (local, millisecond precision) and
  `ts - wall_s` its start, so a run's wall clock is the span from the first
  start to the last commit even when buckets overlap.
"""

from __future__ import annotations

import json
import math
import os
import time
from dataclasses import dataclass
from datetime import datetime
from typing import List, Optional

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F

from .config import CONFIG, EngineConfig
from .operators.extract import extract_spans

MANIFEST_COLS = ["bucket", "n_docs", "n_spans", "n_errors", "wall_s", "ts"]


@dataclass
class PipelineResult:
    buckets_done: List[int]
    buckets_skipped: List[int]
    total_docs: int
    total_spans: int
    total_errors: int


def with_bucket(documents: DataFrame, n_buckets: int) -> DataFrame:
    """Assign the bucket column — unless the input already carries one.

    A pre-bucketed input (the Iceberg `bucket(doc_id, N)`-partitioned table,
    or a parquet staging dir written with partitionBy('doc_bucket')) lets
    each per-bucket job prune to its own partition instead of re-scanning
    the whole corpus once per bucket — the difference between O(corpus) and
    O(corpus x n_buckets) total scan work in run_extraction.

    A pre-existing column is VALIDATED before being trusted: if it was
    produced with a larger modulus than n_buckets, documents with
    doc_bucket >= n_buckets would silently never be extracted
    (run_extraction only iterates range(n_buckets)) — so an out-of-range
    assignment is recomputed. The check is one cheap min/max aggregate over a
    partition column (metadata-sized on a partitioned staging table)."""
    if "doc_bucket" in documents.columns:
        lo, hi = documents.agg(
            F.min("doc_bucket"), F.max("doc_bucket")
        ).first()
        if hi is not None and 0 <= int(lo) and int(hi) < n_buckets:
            return documents
        documents = documents.drop("doc_bucket")
    return documents.withColumn(
        "doc_bucket", F.pmod(F.xxhash64(F.col("doc_id").cast("string")), F.lit(n_buckets))
    )


def narrow_partitions(parallelism: int, workers: int) -> int:
    """Partitions for one bucket's narrow extraction while `workers` buckets
    run at once: together the in-flight buckets fill `parallelism` cores
    about once, so no core runs a second fixed-cost Python task per wave."""
    return max(1, math.ceil(parallelism / workers))


def band_for_extraction(
    documents: DataFrame, cfg: EngineConfig = CONFIG, parallelism: int = 32,
    workers: int = 1,
) -> DataFrame:
    """Size-banded repartition: oversized docs one-per-task, small docs in
    `narrow_partitions(parallelism, workers)` round-robin batches. Returns a
    union with identical schema; the extract operator is band-agnostic."""
    sized = documents.withColumn("_n_spans", F.size("spans"))
    small = sized.filter(F.col("_n_spans") <= cfg.oversize_span_threshold)
    big = sized.filter(F.col("_n_spans") > cfg.oversize_span_threshold)
    # unconditional union: an empty `big` branch costs only an empty
    # exchange (AQE coalesces its partitions away) and no Python task, since
    # both bands feed ONE mapInPandas. The page-parallel route in
    # run_extraction instead consults the run's oversized-bucket list,
    # because its branch has its own Python stages.
    return (
        small.repartition(narrow_partitions(parallelism, workers))
        .unionByName(big.repartition(parallelism))
        .drop("_n_spans")
    )


def write_bucketed_spans(
    spans: DataFrame, table: str, n_buckets: int = 64
) -> None:
    """Persist extraction output as a bucket(doc_id)-clustered, sorted table.

    Downstream training-data joins are all doc_id-keyed (spans x embeddings
    x quality scores x dedup verdicts); with both sides bucketed on doc_id
    the join plan has ZERO Exchange — `Bucketed: true` scans feed the
    SortMergeJoin directly (proved in tests/test_bucketed_join.py and
    PLANS.md). On Iceberg this is `bucket(doc_id, N)` partitioning with
    storage-partitioned joins; the Spark bucketed table is the sandbox
    equivalent."""
    (
        spans.write.bucketBy(n_buckets, "doc_id")
        .sortBy("doc_id")
        .mode("overwrite")
        .saveAsTable(table)
    )


def read_manifest(spark: SparkSession, output_path: str) -> Optional[DataFrame]:
    """The manifest, or None when no bucket has been committed yet. Existence
    is checked through the Hadoop FileSystem of the path (local, HDFS, object
    stores alike) so a fresh output path costs one metadata call, not a
    failed Spark read and its Java stack trace."""
    path = os.path.join(output_path, "manifest")
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return None
    try:
        return spark.read.parquet(path)
    except AnalysisException:
        # a manifest dir with no committed file yet (crash inside the first
        # commit) has no schema to infer
        return None


def completed_buckets(spark: SparkSession, output_path: str) -> List[int]:
    m = read_manifest(spark, output_path)
    if m is None:
        return []
    return [int(r.bucket) for r in m.select("bucket").distinct().collect()]


def run_extraction(
    spark: SparkSession,
    documents: DataFrame,
    output_path: str,
    n_buckets: int = 16,
    cfg: EngineConfig = CONFIG,
    parallelism: int = 32,
    page_parallel_oversize: bool = True,
    concurrency: int = 4,
) -> PipelineResult:
    """Checkpointed, resumable extraction of the interleaved documents table.

    Idempotent: rerunning after any failure completes only the missing
    buckets. Output layout:
      output_path/spans/bucket=<b>/*.parquet       extracted spans
      output_path/quarantine/bucket=<b>/*.parquet  kind='error' rows
      output_path/manifest/*.parquet               lineage + metrics

    `concurrency` buckets are submitted at once from a driver thread pool:
    Spark's scheduler interleaves their stages, so the cluster never idles in
    one bucket's tail while the next waits (the round-1 serial loop left
    scheduling dead time between buckets). The per-bucket manifest commit
    point is unchanged — a bucket is 'done' only after its files are written —
    and the manifest append itself is serialized under a lock because
    concurrent appends share one staging dir.

    Task budget: with `workers = min(concurrency, len(todo))` buckets in
    flight, each bucket's narrow extraction runs as
    `ceil(parallelism / workers)` Python tasks, so a wave of buckets fills
    the cores about once. More, smaller tasks only add cost: each Python task
    pays ~0.3 s of fixed start-up (PySpark's per-task
    `importlib.invalidate_caches()` makes every zipimporter re-read its
    archive; see the module docstring). At four tasks per core per
    bucket that start-up was ~3/4 of a 1,000-doc flat-text job's task time
    on a 4-core host. The manifest commit is a one-row JVM-only DataFrame
    and launches no Python task.

    Per-bucket metrics come from ONE aggregate over the persisted spans
    (count / error count / distinct docs) instead of three separate count
    actions; n_docs therefore counts documents that produced output or an
    error row (equal to the input count for any non-degenerate corpus — every
    doc yields at least one span or a quarantine row).

    page_parallel_oversize routes the oversized band through the
    page-parallel operator (operators/extract_paged.py): a single
    10k-page document fans out over (doc_id, page) instead of stalling
    one task — the skew band beyond one-doc-per-task. Which buckets hold
    oversized documents is computed once per run, before any bucket starts,
    so the other buckets never build (or probe) that branch."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    os.makedirs(output_path, exist_ok=True)
    done = set(completed_buckets(spark, output_path))
    docs = with_bucket(documents, n_buckets)

    buckets_skipped = [b for b in range(n_buckets) if b in done]
    todo = [b for b in range(n_buckets) if b not in done]
    workers = max(1, min(concurrency, len(todo)))
    n_narrow = narrow_partitions(parallelism, workers)
    manifest_lock = threading.Lock()
    oversized = set()
    if page_parallel_oversize and todo:
        oversized = {
            int(r.doc_bucket)
            for r in docs.filter(F.size("spans") > cfg.oversize_span_threshold)
            .select("doc_bucket").distinct().collect()
        }

    def process_bucket(b: int):
        t0 = time.perf_counter()
        bucket_docs = docs.filter(F.col("doc_bucket") == b).drop("doc_bucket")
        if page_parallel_oversize:
            from .operators.extract_paged import extract_spans_paged

            n_spans = F.size("spans")
            small = bucket_docs.filter(n_spans <= cfg.oversize_span_threshold)
            spans = extract_spans(small.repartition(n_narrow), cfg,
                                  num_partitions=-1)
            if b in oversized:
                big = bucket_docs.filter(n_spans > cfg.oversize_span_threshold)
                spans = spans.unionByName(
                    extract_spans_paged(big, cfg,
                                        page_partitions=parallelism * 2,
                                        doc_partitions=parallelism)
                )
        else:
            banded = band_for_extraction(bucket_docs, cfg, parallelism, workers)
            spans = extract_spans(banded, cfg, num_partitions=-1)
        spans.persist()
        try:
            stats = spans.agg(
                F.count(F.lit(1)).alias("n_all"),
                F.sum(
                    F.when(F.col("kind") == "error", 1).otherwise(0)
                ).alias("n_err"),
                F.countDistinct("doc_id").alias("n_docs"),
            ).collect()[0]
            n_spans_all = int(stats.n_all or 0)
            n_errors = int(stats.n_err or 0)
            n_docs = int(stats.n_docs or 0)

            good = spans.filter(F.col("kind") != "error")
            good.write.mode("overwrite").parquet(
                os.path.join(output_path, "spans", f"bucket={b}")
            )
            if n_errors:
                spans.filter(F.col("kind") == "error").write.mode(
                    "overwrite"
                ).parquet(os.path.join(output_path, "quarantine", f"bucket={b}"))
            # manifest append is the commit point: a bucket is 'done' only
            # after its output files are fully written. Timed under the lock,
            # so a bucket's wall includes waiting for its commit turn.
            with manifest_lock:
                wall = time.perf_counter() - t0
                # JVM-only one-row frame: one task, no Python worker round trip
                row = spark.range(1, numPartitions=1).select(
                    F.lit(b).cast("int").alias("bucket"),
                    F.lit(n_docs).cast("long").alias("n_docs"),
                    F.lit(n_spans_all - n_errors).cast("long").alias("n_spans"),
                    F.lit(n_errors).cast("long").alias("n_errors"),
                    F.lit(round(wall, 3)).cast("double").alias("wall_s"),
                    F.lit(datetime.now().isoformat(timespec="milliseconds")).alias("ts"),
                )
                row.write.mode("append").parquet(
                    os.path.join(output_path, "manifest")
                )
        finally:
            spans.unpersist()
        return b, n_docs, n_spans_all - n_errors, n_errors

    buckets_done: List[int] = []
    total_docs = total_spans = total_errors = 0
    if todo:
        with ThreadPoolExecutor(max_workers=workers) as ex:
            for b, n_docs, n_spans, n_errors in ex.map(process_bucket, todo):
                buckets_done.append(b)
                total_docs += n_docs
                total_spans += n_spans
                total_errors += n_errors

    return PipelineResult(
        buckets_done=buckets_done,
        buckets_skipped=buckets_skipped,
        total_docs=total_docs,
        total_spans=total_spans,
        total_errors=total_errors,
    )


def metrics_summary(spark: SparkSession, output_path: str) -> str:
    """Run totals from the manifest. `wall_s` is the wall-clock span of the
    committed buckets, first start (`ts - wall_s`) to last commit (`ts`), so
    `docs_per_sec` stays true when buckets run concurrently; `bucket_wall_s`
    is the sum of per-bucket walls. `ts` parses with or without fractional
    seconds (manifests written before millisecond timestamps)."""
    m = read_manifest(spark, output_path)
    if m is None:
        return json.dumps({"buckets": 0})
    end = F.unix_micros(F.to_timestamp("ts")) / 1e6
    agg = m.agg(
        F.count(F.lit(1)).alias("buckets"),
        F.sum("n_docs").alias("docs"),
        F.sum("n_spans").alias("spans"),
        F.sum("n_errors").alias("errors"),
        F.sum("wall_s").alias("bucket_wall_s"),
        F.max(end).alias("t_end"),
        F.min(end - F.col("wall_s")).alias("t_start"),
    ).collect()[0]
    wall = agg.t_end - agg.t_start if agg.t_end is not None else 0.0
    return json.dumps(
        {
            "buckets": agg.buckets,
            "docs": int(agg.docs or 0),
            "spans": int(agg.spans or 0),
            "errors": int(agg.errors or 0),
            "wall_s": round(wall, 3),
            "bucket_wall_s": float(agg.bucket_wall_s or 0.0),
            "docs_per_sec": round((agg.docs or 0) / wall, 2) if wall > 0 else None,
        }
    )
