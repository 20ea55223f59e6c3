"""Checkpoint/resume + lineage semantics of pipeline.run_extraction."""

import json
import math
import os
import time
from types import SimpleNamespace

import pytest

from pdfextract_spark.corpus import as_pandas
from pdfextract_spark.pipeline import (
    completed_buckets,
    metrics_summary,
    narrow_partitions,
    run_extraction,
)
from pdfextract_spark.sources.adapters import documents_to_interleaved  # noqa: F401

# operation scopes (physical plan nodes, RDD names) that run a Python worker
PYTHON_SCOPES = ("MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython",
                 "BatchEvalPython", "PythonRDD")


@pytest.fixture()
def docs_sdf(spark):
    return spark.createDataFrame(as_pandas(40, seed=13, skew_frac=0.0))


def _job_ids(spark) -> set:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup())


def _scope_names(cluster) -> set:
    names = {cluster.name()}
    nodes, kids = cluster.childNodes(), cluster.childClusters()
    names.update(nodes.apply(i).name() for i in range(nodes.size()))
    for i in range(kids.size()):
        names |= _scope_names(kids.apply(i))
    return names


def _stages_of_jobs(spark, job_ids) -> list:
    """(stage id, tasks run, runs Python) for every stage the given jobs
    ran, read from the JVM application status store."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty(30000)
    tracker = spark.sparkContext.statusTracker()
    stage_ids = sorted({s for j in job_ids for s in tracker.getJobInfo(j).stageIds})
    store = sc.statusStore()
    stages = []
    for sid in stage_ids:
        data = store.lastStageAttempt(sid)
        if data.status().toString() != "COMPLETE":
            continue  # skipped: an earlier job already wrote this shuffle
        names = _scope_names(store.operationGraphForStage(sid).rootCluster())
        # a cached read keeps the UDF in its lineage but does not rerun it
        python = (any(n.split(" ")[0] in PYTHON_SCOPES for n in names)
                  and "InMemoryTableScan" not in names)
        stages.append((sid, data.numCompleteTasks(), python))
    return stages


@pytest.fixture(scope="module")
def four_bucket_run(spark, tmp_path_factory):
    """One 40-doc run, 4 buckets at concurrency 4 with parallelism 4, its
    wall clock and the stages its Spark jobs ran."""
    docs = spark.createDataFrame(as_pandas(40, seed=13, skew_frac=0.0))
    docs.count()  # a cold session's first job is JVM warm-up, not the run
    out = str(tmp_path_factory.mktemp("four_bucket") / "extract_out")
    before = _job_ids(spark)
    t0 = time.perf_counter()
    result = run_extraction(spark, docs, out, n_buckets=4, parallelism=4,
                            concurrency=4)
    wall = time.perf_counter() - t0
    stages = _stages_of_jobs(spark, _job_ids(spark) - before)
    return SimpleNamespace(docs=docs, out=out, result=result, wall=wall,
                           stages=stages)


def test_run_and_resume(spark, four_bucket_run):
    out, r1 = four_bucket_run.out, four_bucket_run.result
    assert sorted(r1.buckets_done) == [0, 1, 2, 3]
    assert r1.buckets_skipped == []
    assert r1.total_docs == 40
    assert r1.total_errors == 0

    spans = spark.read.parquet(os.path.join(out, "spans"))
    assert spans.count() == r1.total_spans
    assert spans.select("doc_id").distinct().count() == 40

    # resume: everything already committed -> nothing recomputed
    r2 = run_extraction(spark, four_bucket_run.docs, out, n_buckets=4,
                        parallelism=4)
    assert r2.buckets_done == []
    assert sorted(r2.buckets_skipped) == [0, 1, 2, 3]

    m = json.loads(metrics_summary(spark, out))
    assert m["buckets"] == 4 and m["docs"] == 40 and m["errors"] == 0


def test_task_budget(four_bucket_run):
    """Each bucket's narrow extraction is ONE stage of
    ceil(parallelism / workers) Python tasks; nothing else in the run (the
    oversize aggregate, stats, writes, manifest commits) runs Python."""
    python_stages = [n for _, n, python in four_bucket_run.stages if python]
    assert python_stages == [math.ceil(4 / 4)] * 4
    assert narrow_partitions(4, 4) == 1
    assert narrow_partitions(32, 3) == 11
    assert narrow_partitions(2, 4) == 1


def test_docs_per_sec_under_concurrency(spark, four_bucket_run):
    """Buckets overlap at concurrency 4, so the summary's docs/s is docs over
    the run's wall clock, not over the sum of per-bucket walls."""
    m = json.loads(metrics_summary(spark, four_bucket_run.out))
    measured = 40 / four_bucket_run.wall
    assert m["docs_per_sec"] == pytest.approx(measured, rel=0.25)
    assert m["wall_s"] <= four_bucket_run.wall


def test_metrics_parse_second_precision_ts(spark, tmp_path):
    """A manifest mixing second-precision timestamps (older manifests) with
    millisecond ones still summarizes: two overlapping buckets, 10 docs each,
    from 10:00:00 to 10:00:04.5."""
    rows = [(0, 10, 50, 0, 3.0, "2026-01-01T10:00:03"),
            (1, 10, 50, 0, 3.5, "2026-01-01T10:00:04.500")]
    out = str(tmp_path / "legacy")
    spark.createDataFrame(
        rows, "bucket int, n_docs long, n_spans long, n_errors long, "
              "wall_s double, ts string",
    ).write.parquet(os.path.join(out, "manifest"))
    m = json.loads(metrics_summary(spark, out))
    assert m["wall_s"] == pytest.approx(4.5)
    assert m["bucket_wall_s"] == pytest.approx(6.5)
    assert m["docs_per_sec"] == pytest.approx(20 / 4.5, abs=0.01)


def test_fresh_output_path(spark, tmp_path):
    fresh = str(tmp_path / "never_written")
    assert completed_buckets(spark, fresh) == []
    assert json.loads(metrics_summary(spark, fresh)) == {"buckets": 0}
    # a crash inside the first commit leaves only the committer's staging dir
    crashed = tmp_path / "crashed"
    (crashed / "manifest" / "_temporary" / "0").mkdir(parents=True)
    assert completed_buckets(spark, str(crashed)) == []


def test_partial_resume(spark, docs_sdf, tmp_path):
    out = str(tmp_path / "extract_partial")
    # run only buckets 0..1 by pretending 2,3 are a later run: first full run,
    # then delete manifest rows is awkward with parquet — instead run with a
    # fresh dir and verify completed_buckets() drives the skip logic
    r1 = run_extraction(spark, docs_sdf, out, n_buckets=2, parallelism=4)
    assert sorted(completed_buckets(spark, out)) == [0, 1]
    # a second run with more buckets reuses nothing (different bucketing) but
    # never crashes on the existing manifest
    r2 = run_extraction(spark, docs_sdf, out, n_buckets=2, parallelism=4)
    assert r2.buckets_done == []


def test_quarantine_rows_isolated(spark, tmp_path):
    import pandas as pd

    pdf = pd.DataFrame(
        [
            {"doc_id": "ok", "spans": [
                {"kind": "text", "text": "A Fine Title", "media_ref": "", "offset": 0},
                {"kind": "text", "text": "body line of words", "media_ref": "", "offset": 1},
            ]},
            {"doc_id": "broken", "spans": [
                {"kind": "text", "text": None, "media_ref": None, "offset": None},
            ]},
        ]
    )
    out = str(tmp_path / "extract_q")
    r = run_extraction(spark, spark.createDataFrame(pdf), out, n_buckets=1, parallelism=2)
    assert r.total_docs == 2
    spans = spark.read.parquet(os.path.join(out, "spans"))
    assert spans.filter("kind = 'error'").count() == 0
    if r.total_errors:
        q = spark.read.parquet(os.path.join(out, "quarantine"))
        assert q.count() == r.total_errors
        assert set(r.doc_id for r in q.select("doc_id").collect()) == {"broken"}
