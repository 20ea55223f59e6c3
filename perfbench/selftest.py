#!/usr/bin/env python3
"""Self-test of the benchmark at a tiny size.

    python3 perfbench/selftest.py

1. Runs every workload of BENCHMARK.json (plus rich_layout) with a few
   documents, untraced and traced, and asserts that the last line carries
   exactly the end-to-end, respectively per-layer, metrics with their units,
   that the output check passed, and that ``paged.*`` is non-zero on
   ``skewed`` only.
2. Runs one tiny extraction job, then asserts that the output check passes
   on it and fails on corrupted copies: a dropped row, a bucket written
   twice, a lost bucket, a changed span text (oracle sample).

Exits 0 when every assertion holds.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq

import check
import run as bench

TINY_DOCS = {"flat_text": 40, "rich_layout": 12, "skewed": 6}


def check_metrics() -> None:
    spec = bench._spec()
    names = [w["name"] for w in spec["workloads"]]
    for workload in names + [w for w in bench.WORKLOADS if w not in names]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            p = subprocess.run(
                [sys.executable, os.path.join(bench.HERE, "run.py"), "--workload", workload,
                 "--seed", "3", "--seconds", "1", "--trace", str(trace),
                 "--docs", str(TINY_DOCS[workload])],
                cwd=bench.ROOT, capture_output=True, text=True, timeout=300)
            assert p.returncode == 0, p.stderr[-2000:]
            last = json.loads(p.stdout.strip().splitlines()[-1])
            assert sorted(last) == ["attempted", "correct", "failed", "metrics"], last
            assert last["correct"] is True, p.stdout[-2000:]
            assert last["failed"] == 0 and last["attempted"] >= 1, last
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = {k: v["unit"] for k, v in last["metrics"].items()}
            assert got == want, (workload, trace, set(got) ^ set(want))
            if trace:
                paged = [v["value"] for k, v in last["metrics"].items() if k.startswith("paged.")]
                assert all(paged) if workload == "skewed" else not any(paged), (workload, paged)
            print(f"ok: {workload} --trace {trace}", flush=True)


def _corrupt(src: str, dst: str, how: str) -> None:
    shutil.copytree(src, dst)
    parts = glob.glob(os.path.join(dst, "spans", "bucket=*", "*.parquet"))
    part = max(parts, key=lambda f: pq.ParquetFile(f).metadata.num_rows)
    if how == "dropped row":
        t = pq.read_table(part)
        pq.write_table(t.slice(1), part)
    elif how == "bucket written twice":
        for d in ("spans", "manifest"):
            f = part if d == "spans" else sorted(glob.glob(os.path.join(dst, d, "*.parquet")))[0]
            shutil.copy(f, f.replace(".parquet", "-again.parquet"))
    elif how == "lost bucket":
        shutil.rmtree(os.path.dirname(part))
    else:
        raise ValueError(how)


def check_corruption(work: str) -> None:
    import workloads
    from pdfextract_spark.config import CONFIG
    from pdfextract_spark.pipeline import run_extraction

    threshold = CONFIG.oversize_span_threshold
    inp = workloads.build("rich_layout", 5, 12, threshold)
    spark = None
    try:
        spark, docs, _ = bench.setup_once(work, False, inp.table, False, 0)
        out = os.path.join(work, "out")
        run_extraction(spark, docs, out, n_buckets=bench.N_BUCKETS,
                       parallelism=spark.sparkContext.defaultParallelism)
        problems, n_failed = check.check_output(out, inp.doc_ids, bench.N_BUCKETS)
        assert not problems and n_failed == 0, problems
        spans = check.read_spans(out)
        assert not check.oracle_mismatches(spans, inp.table.slice(0, 2))
        for how in ("dropped row", "bucket written twice", "lost bucket"):
            bad = os.path.join(work, how.replace(" ", "_"))
            _corrupt(out, bad, how)
            problems, _ = check.check_output(bad, inp.doc_ids, bench.N_BUCKETS)
            assert problems, f"check passed on a {how}"
            print(f"ok: check fails on a {how}: {problems[0]}", flush=True)
        doc = inp.table.column("doc_id")[0].as_py()
        texts = [t + "x" if d == doc else t for d, t in zip(spans.column("doc_id").to_pylist(),
                                                          spans.column("text").to_pylist())]
        changed = spans.set_column(spans.schema.get_field_index("text"), "text", [texts])
        assert check.oracle_mismatches(changed, inp.table.slice(0, 1)), "oracle missed a change"
        print("ok: oracle sample fails on a changed span text", flush=True)
    finally:
        bench.shutdown(spark)


def main() -> int:
    work = os.path.join(bench.ROOT, ".perfbench_run", f"selftest-{os.getpid()}")
    bench.prepare_env(work)
    try:
        check_metrics()
        check_corruption(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
