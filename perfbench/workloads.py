"""Seeded benchmark inputs.

Each workload turns a seed into one Arrow table that set-up stages to
parquet; the extraction job receives nothing else. The same seed always
gives the same table.

- ``flat_text``: (doc_id, text) rows drawn with replacement from the sf0.1
  documents table (texts copied to ``data/``) under fresh numeric doc_ids.
  The job turns them into ~7 text spans each through the ``--adapter`` path
  (``sources.adapters.documents_to_interleaved``): cheap, one-column
  documents, so framework cost dominates.
- ``rich_layout``: ``corpus.generate(n, seed, skew_frac=0)``: multi-page,
  two-column documents with media, captions, formulas, ruled tables,
  headings and page numbers (median ~45 spans), so engine cost dominates.
- ``skewed``: the rich corpus plus a skew band of ``corpus.make_doc(...,
  skew=True)`` documents. The band keeps the first ``N_OVERSIZED``
  documents whose span count exceeds ``oversize_span_threshold`` by at most
  ``OVERSIZED_MAX_FACTOR``, so every seed routes the same number of
  similar documents through the page-parallel operator
  (``operators.extract_paged``).
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import List

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
FLAT_TEXTS = os.path.join(HERE, "data", "sf0.1_documents_text.parquet")

# documents per job; sized so that one job fits the run window on a 4-core
# host (see README.md)
DEFAULT_DOCS = {"flat_text": 1000, "rich_layout": 400, "skewed": 40}
N_OVERSIZED = 2
# the band keeps documents just above the threshold so that the oversized
# work, which sets the job's end, varies little from seed to seed
OVERSIZED_MAX_FACTOR = 1.25

SPAN_TYPE = pa.struct([
    ("kind", pa.string()),
    ("text", pa.string()),
    ("media_ref", pa.string()),
    ("offset", pa.int32()),
])
INTERLEAVED_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(SPAN_TYPE))])


@dataclass
class WorkloadInput:
    name: str
    table: pa.Table          # what set-up stages to parquet
    adapter: bool            # the job reads it through documents_to_interleaved
    doc_ids: List[str]       # input doc_ids as the job's output carries them
    span_counts: List[int]   # spans per document; empty when adapted by the job


def _flat_text(n: int, seed: int) -> WorkloadInput:
    texts = pq.read_table(FLAT_TEXTS).column("text")
    rng = np.random.default_rng(seed)
    pick = rng.integers(0, len(texts), n)
    # fresh ids; doc_id % 4 == 0 still selects the adapter's media span
    ids = np.arange(n, dtype=np.int64) + (seed % 1_000_000) * 10_000
    table = pa.table({"doc_id": pa.array(ids), "text": texts.take(pa.array(pick))})
    return WorkloadInput("flat_text", table, True, [str(i) for i in ids], [])


def _interleaved(name: str, docs) -> WorkloadInput:
    doc_ids = [d for d, _ in docs]
    spans = [s for _, s in docs]
    table = pa.Table.from_pydict({"doc_id": doc_ids, "spans": spans},
                                 schema=INTERLEAVED_SCHEMA)
    return WorkloadInput(name, table, False, doc_ids, [len(s) for s in spans])


def build(name: str, seed: int, n_docs: int, threshold: int) -> WorkloadInput:
    """The workload's input table for ``seed``; ``n_docs`` counts the
    ordinary documents (the skew band comes on top)."""
    from pdfextract_spark import corpus

    if name == "flat_text":
        return _flat_text(n_docs, seed)
    if name == "rich_layout":
        return _interleaved(name, list(corpus.generate(n_docs, seed, skew_frac=0)))
    if name == "skewed":
        docs = list(corpus.generate(n_docs, seed, skew_frac=0))
        band = []
        i = n_docs
        while len(band) < N_OVERSIZED:
            doc = corpus.make_doc(seed, i, skew=True)
            if threshold < len(doc[1]) <= threshold * OVERSIZED_MAX_FACTOR:
                band.append(doc)
            i += 1
        # spread the band through the corpus at seeded positions
        rng = np.random.default_rng(seed)
        for doc, pos in zip(band, sorted(rng.integers(0, len(docs) + 1, len(band)))):
            docs.insert(int(pos), doc)
        return _interleaved(name, docs)
    raise ValueError(f"unknown workload {name!r}")
