"""Output check for one ``run_extraction`` output directory.

Reads the job's files with pyarrow, independently of Spark, and returns a
list of problems (empty when the output is correct):

- exactly once: span rows on disk equal distinct (doc_id, seq), and the
  doc_ids on disk plus those in quarantine equal the input doc_ids, with no
  document in both;
- manifest: one row per bucket, and its n_docs / n_spans / n_errors sums
  equal the counts on disk;
- oracle sample: chosen documents match ``oracle.document.extract_document``
  span for span on (kind, text, media_ref, offset, seq).
"""

from __future__ import annotations

import os
from typing import Dict, Iterable, List, Sequence, Tuple

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

SPAN_COLS = ["doc_id", "seq", "kind", "text", "media_ref", "offset"]


def _read(path: str, columns: Sequence[str]) -> pa.Table:
    if not os.path.isdir(path):
        return pa.table({c: pa.array([], pa.string()) for c in columns})
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=list(columns))


def read_spans(out_dir: str) -> pa.Table:
    return _read(os.path.join(out_dir, "spans"), SPAN_COLS)


def quarantined_docs(out_dir: str) -> List[str]:
    return _read(os.path.join(out_dir, "quarantine"), ["doc_id"]).column("doc_id").to_pylist()


def check_output(out_dir: str, input_doc_ids: Iterable[str],
                 n_buckets: int) -> Tuple[List[str], int]:
    """(problems, documents quarantined or missing)."""
    problems: List[str] = []
    spans = read_spans(out_dir)
    keys = spans.select(["doc_id", "seq"]).group_by(["doc_id", "seq"]).aggregate([])
    if keys.num_rows != spans.num_rows:
        problems.append(f"{spans.num_rows} span rows but {keys.num_rows} distinct (doc_id, seq)")

    out_docs = set(spans.column("doc_id").to_pylist())
    quarantine = quarantined_docs(out_dir)
    q_docs = set(quarantine)
    expected = set(input_doc_ids)
    if out_docs & q_docs:
        problems.append(f"{len(out_docs & q_docs)} documents both in spans and quarantine")
    missing = expected - out_docs - q_docs
    extra = (out_docs | q_docs) - expected
    if missing:
        problems.append(f"{len(missing)} input documents missing from the output")
    if extra:
        problems.append(f"{len(extra)} output documents not in the input")

    manifest = _read(os.path.join(out_dir, "manifest"),
                     ["bucket", "n_docs", "n_spans", "n_errors"]).to_pydict()
    buckets = sorted(manifest["bucket"])
    if buckets != list(range(n_buckets)):
        problems.append(f"manifest buckets {buckets}, expected 0..{n_buckets - 1} once each")
    sums = {k: sum(manifest[k]) for k in ("n_docs", "n_spans", "n_errors")}
    disk = {"n_docs": len(out_docs | q_docs), "n_spans": spans.num_rows,
            "n_errors": len(quarantine)}
    for k, v in disk.items():
        if sums[k] != v:
            problems.append(f"manifest {k} sums to {sums[k]}, disk has {v}")
    return problems, len(q_docs | missing)


def oracle_mismatches(spans: pa.Table, sample: pa.Table) -> List[str]:
    """Compare the job's spans for each (doc_id, spans) row of ``sample``
    with the pure-Python oracle."""
    from pdfextract_spark.oracle.document import extract_document

    by_doc: Dict[str, list] = {}
    sample_ids = set(sample.column("doc_id").to_pylist())
    for row in spans.filter(pc.is_in(spans.column("doc_id"),
                                   pa.array(sorted(sample_ids)))).to_pylist():
        by_doc.setdefault(row["doc_id"], []).append(
            (row["seq"], row["kind"], row["text"], row["media_ref"], row["offset"]))
    problems = []
    for doc in sample.to_pylist():
        sp = doc["spans"]
        want = [
            (o.seq, o.kind, o.text, o.media_ref, o.offset)
            for o in extract_document(
                doc["doc_id"], [s["kind"] for s in sp],
                [s["text"] or "" for s in sp], [s["media_ref"] or "" for s in sp],
                [int(s["offset"]) for s in sp])
        ]
        got = sorted(by_doc.get(doc["doc_id"], []))
        if got != want:
            problems.append(f"doc {doc['doc_id']}: {len(got)} spans differ from the "
                            f"oracle's {len(want)}")
    return problems
