"""Streaming exact dedup: first-seen-wins across micro-batches, exactly one
output row per distinct fingerprint, repeats dropped even when they arrive
in later batches."""

import os
import time

import pandas as pd
import pytest

from pdfextract_spark.streaming.dedup_stream import streaming_dedup


@pytest.fixture()
def doc_batches(tmp_path):
    d = str(tmp_path / "docs_in")
    os.makedirs(d, exist_ok=True)
    # batch 1: a, b share text; c unique
    b1 = pd.DataFrame(
        {
            "doc_id": ["a", "b", "c"],
            "text": ["same text here", "same text here", "unique one"],
        }
    )
    # batch 2: d repeats batch-1 content; e is new
    b2 = pd.DataFrame(
        {
            "doc_id": ["d", "e"],
            "text": ["same text here", "another fresh document"],
        }
    )
    return d, b1, b2


def _drain(spark, in_dir, out, ckpt):
    stream = (
        spark.readStream.schema("doc_id string, text string").parquet(in_dir)
    )
    q = (
        streaming_dedup(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_streaming_dedup_first_seen_wins(spark, doc_batches, tmp_path):
    in_dir, b1, b2 = doc_batches
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    spark.createDataFrame(b1).coalesce(1).write.mode("append").parquet(in_dir)
    _drain(spark, in_dir, out, ckpt)
    got1 = {
        r["fingerprint"]: r["keeper_doc_id"]
        for r in spark.read.parquet(out).collect()
    }
    # 2 distinct fingerprints; duplicate pair keeps the smaller doc_id
    assert len(got1) == 2
    assert "a" in got1.values() and "c" in got1.values()

    spark.createDataFrame(b2).coalesce(1).write.mode("append").parquet(in_dir)
    _drain(spark, in_dir, out, ckpt)
    rows = spark.read.parquet(out).collect()
    got2 = [(r["fingerprint"], r["keeper_doc_id"]) for r in rows]
    # 'd' repeated batch-1 content -> dropped by state; only 'e' is new
    assert len(got2) == 3
    keepers = {k for _, k in got2}
    assert keepers == {"a", "c", "e"}


def test_streaming_dedup_with_ttl_runs_and_dedups(spark, doc_batches, tmp_path):
    """TTL variant: ProcessingTimeTimeout configured; within-window behavior
    is identical first-seen-wins (expiry itself is time-dependent and not
    unit-testable deterministically — the TTL path is exercised, the drop
    semantics asserted inside the window)."""
    from pdfextract_spark.streaming.dedup_stream import streaming_dedup

    in_dir, b1, b2 = doc_batches
    in_dir = in_dir + "_ttl"
    out = str(tmp_path / "out_ttl")
    ckpt = str(tmp_path / "ckpt_ttl")
    spark.createDataFrame(b1).coalesce(1).write.mode("append").parquet(in_dir)
    spark.createDataFrame(b2).coalesce(1).write.mode("append").parquet(in_dir)

    stream = spark.readStream.schema("doc_id string, text string").parquet(in_dir)
    q = (
        streaming_dedup(stream, ttl_minutes=60)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    # with ProcessingTimeTimeout every micro-batch asks for another (a timeout
    # may fire at any time), so this availableNow query never terminates on
    # its own: wait until committed batches have read all the input, then
    # stop it rather than leave it running for the rest of the session
    try:
        deadline = time.monotonic() + 120
        while (sum(p["numInputRows"] for p in q.recentProgress)
               < len(b1) + len(b2) and time.monotonic() < deadline):
            time.sleep(0.2)
    finally:
        q.stop()
    rows = spark.read.parquet(out).collect()
    keepers = {r["keeper_doc_id"] for r in rows}
    assert len(rows) == 3 and keepers == {"a", "c", "e"}
