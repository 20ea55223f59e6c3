"""Per-layer measurement for the traced run.

Two sources, both outside the program:

- ``eventlog_metrics``: the Spark event log of the benchmark's own session
  gives the ``pipeline.*`` and ``spark.*`` counters of one
  ``run_extraction`` call, selected by its wall-clock interval.
- ``replay``: the staged Arrow batches are fed in-process through
  ``operators.extract.extract_batch`` (and ``_stage_a``/``_stage_b``/
  ``_stage_c`` of ``operators.extract_paged`` for oversized documents) with
  each layer's entry points wrapped by monkeypatching. Spans (name, start,
  end, parent, doc) stay in memory and are written out when the run ends; a
  layer's self time is its span's duration minus the time its children
  cover.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from typing import Dict, Iterator, List, Optional, Tuple

import pyarrow as pa

# -------------------------------------------------------------- event log

PYTHON_SCOPES = ("MapInPandas", "FlatMapGroupsInPandas")


def _read_events(path: str) -> List[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _union_ms(intervals: List[Tuple[int, int]]) -> int:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _runs_python(stage_info: dict) -> bool:
    """The stage computes a pandas UDF (extraction) rather than reading its
    cached output: a Python scope is in its lineage and no cache scan is."""
    scopes = [json.loads(r.get("Scope") or "{}").get("name", "") for r in stage_info["RDD Info"]]
    return any(s in PYTHON_SCOPES for s in scopes) and "InMemoryTableScan" not in scopes


def eventlog_metrics(path: str, t0_ms: int, t1_ms: int) -> Dict[str, float]:
    """Counters of the jobs submitted within [t0_ms, t1_ms] (epoch ms)."""
    events = _read_events(path)
    stage_ids = set()
    n_jobs = 0
    for e in events:
        if e["Event"] == "SparkListenerJobStart" and t0_ms <= e["Submission Time"] <= t1_ms:
            n_jobs += 1
            stage_ids.update(e["Stage IDs"])
    stages = {e["Stage Info"]["Stage ID"]: e["Stage Info"] for e in events
              if e["Event"] == "SparkListenerStageCompleted"
              and e["Stage Info"]["Stage ID"] in stage_ids}
    tasks = [e for e in events
             if e["Event"] == "SparkListenerTaskEnd" and e["Stage ID"] in stages]

    intervals, extract_durations = [], []
    m = dict.fromkeys(["busy_ms", "cpu_ns", "gc_ms", "sw", "sr", "spill", "out", "fail"], 0)
    for t in tasks:
        info, tm = t["Task Info"], t.get("Task Metrics") or {}
        intervals.append((info["Launch Time"], info["Finish Time"]))
        dur = info["Finish Time"] - info["Launch Time"]
        m["busy_ms"] += dur
        m["cpu_ns"] += tm.get("Executor CPU Time", 0)
        m["gc_ms"] += tm.get("JVM GC Time", 0)
        m["sw"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        sr = tm.get("Shuffle Read Metrics", {})
        m["sr"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        m["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        m["out"] += tm.get("Output Metrics", {}).get("Bytes Written", 0)
        if info.get("Failed") or t["Task End Reason"].get("Reason") != "Success":
            m["fail"] += 1
        if _runs_python(stages[t["Stage ID"]]):
            extract_durations.append(dur)

    wall_ms = t1_ms - t0_ms
    med = statistics.median(extract_durations) if extract_durations else 0
    return {
        "pipeline.spark_jobs": n_jobs,
        "pipeline.stages": len(stages),
        "pipeline.no_task_running_s": (wall_ms - _union_ms(intervals)) / 1e3,
        "spark.tasks": len(tasks),
        "spark.task_busy_s": m["busy_ms"] / 1e3,
        "spark.task_cpu_s": m["cpu_ns"] / 1e9,
        "spark.gc_s": m["gc_ms"] / 1e3,
        "spark.shuffle_write_bytes": m["sw"],
        "spark.shuffle_read_bytes": m["sr"],
        "spark.spill_bytes": m["spill"],
        "spark.output_bytes": m["out"],
        "spark.task_failures": m["fail"],
        "spark.extract_task_max_over_median":
            max(extract_durations) / med if med else 0.0,
    }


# ---------------------------------------------------------------- tracing

class Tracer:
    """In-memory span recorder, one list per field so that recording adds no
    objects for the garbage collector to scan. ``count`` holds a size the
    wrapper reads off the result."""

    FIELDS = ("name", "start", "end", "parent", "doc", "count")

    def __init__(self) -> None:
        self.name: List[str] = []
        self.start: List[float] = []
        self.end: List[float] = []
        self.parent: List[int] = []
        self.doc: List[Optional[str]] = []
        self.count: List[int] = []
        self.current_doc: Optional[str] = None
        self._stack: List[int] = []

    def begin(self, name: str) -> int:
        i = len(self.name)
        self.name.append(name)
        self.parent.append(self._stack[-1] if self._stack else -1)
        self.doc.append(self.current_doc)
        self.count.append(0)
        self.end.append(0.0)
        self._stack.append(i)
        self.start.append(time.perf_counter())
        return i

    def finish(self, i: int) -> None:
        self.end[i] = time.perf_counter()
        self._stack.pop()

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[int]:
        i = self.begin(name)
        try:
            yield i
        finally:
            self.finish(i)

    def wrap(self, fn, name: str, doc_arg: bool = False, size=None):
        def traced(*args, **kwargs):
            if doc_arg:
                self.current_doc = args[0]
            i = self.begin(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                self.finish(i)
            if size is not None:
                self.count[i] = size(out)
            return out
        return traced

    def self_times(self) -> List[float]:
        """Each span's duration minus the time its children cover."""
        own = [e - s for s, e in zip(self.start, self.end)]
        for p, s, e in zip(self.parent, self.start, self.end):
            if p >= 0:
                own[p] -= e - s
        return own

    def totals(self) -> Dict[str, Tuple[float, float, int, int]]:
        """name -> (total s, self s, calls, summed count)."""
        out: Dict[str, list] = {}
        for name, s, e, own, c in zip(self.name, self.start, self.end,
                                      self.self_times(), self.count):
            t = out.setdefault(name, [0.0, 0.0, 0, 0])
            t[0] += e - s
            t[1] += own
            t[2] += 1
            t[3] += c
        return {k: tuple(v) for k, v in out.items()}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for row in zip(*(getattr(self, k) for k in self.FIELDS)):
                f.write(json.dumps(dict(zip(self.FIELDS, row))) + "\n")


@contextlib.contextmanager
def patched(targets):
    """Temporarily replace module attributes: targets = [(module, attr, fn)]."""
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in targets]
    for mod, attr, fn in targets:
        setattr(mod, attr, fn)
    try:
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


def _layer_targets(tr: Tracer):
    from pdfextract_spark.engine import vectorized as vec
    from pdfextract_spark.operators import extract as ext
    from pdfextract_spark.operators import extract_paged as paged

    layout = tr.wrap(vec.layout_document, "layout", size=lambda r: len(r[0]))
    scan = tr.wrap(vec.apply_scan_filters, "scanfilters")
    page = tr.wrap(vec._analyze_one_page, "engine.page")
    logical = tr.wrap(vec._finalize_document, "engine.logical")
    convert = tr.wrap(ext._spans_to_lists, "extract.input_convert")
    return [
        (ext, "extract_batch", tr.wrap(ext.extract_batch, "extract.batch")),
        (ext, "_spans_to_lists", convert),
        (ext, "extract_document", tr.wrap(ext.extract_document, "engine", doc_arg=True)),
        (vec, "layout_document", layout),
        (vec, "apply_scan_filters", scan),
        (vec, "_segment_words_page", tr.wrap(vec._segment_words_page, "engine.words",
                                             size=len)),
        (vec, "_analyze_page_vec", tr.wrap(vec._analyze_page_vec, "engine.pb")),
        (vec, "_analyze_one_page", page),
        (vec, "_finalize_document", logical),
        (paged, "_spans_to_lists", convert),
        (paged, "layout_document", layout),
        (paged, "apply_scan_filters", scan),
        (paged, "_analyze_one_page", page),
        (paged, "_finalize_document", logical),
    ]


# ----------------------------------------------------------------- replay

def _paged(pdf, tr: Tracer, cfg) -> int:
    """Stages A/B/C of the page-parallel operator for the documents of
    ``pdf``, with the shuffles between them replaced by in-process hand-off.
    Returns the number of page rows."""
    import pandas as pd

    from pdfextract_spark.operators.extract_paged import _stage_a, _stage_b, _stage_c

    with tr.span("paged.stage_a"):
        pages = pd.concat(list(_stage_a(iter([pdf]), cfg)), ignore_index=True)
    with tr.span("paged.stage_b"):
        structure = pd.concat(list(_stage_b(iter([pages]), cfg, "tuned")), ignore_index=True)
    with tr.span("paged.stage_c"):
        for doc_id, group in structure.groupby("doc_id", sort=False):
            _stage_c((doc_id,), group.reset_index(drop=True), cfg)
    return len(pages)


def replay(docs: pa.Table, batch_docs: int, threshold: int, span_path: str) -> Dict[str, float]:
    """Run ``docs`` (doc_id, spans) through the operators twice per batch,
    untraced and traced, alternating which goes first, and derive the
    per-layer metrics from the traced spans."""
    from pdfextract_spark.config import CONFIG
    from pdfextract_spark.operators import extract as ext

    sizes = [len(s) for s in docs.column("spans").to_pylist()]
    small = docs.filter(pa.array([n <= threshold for n in sizes]))
    big = docs.filter(pa.array([n > threshold for n in sizes]))
    batches = small.to_batches(max_chunksize=max(1, batch_docs)) if small.num_rows else []
    big_batches = big.to_batches(max_chunksize=1) if big.num_rows else []

    tr = Tracer()
    layer_targets = _layer_targets(tr)
    engine_fn = ext.extract_document
    engine_s = 0.0

    def timed_engine(*args, **kwargs):
        nonlocal engine_s
        t = time.perf_counter()
        try:
            return engine_fn(*args, **kwargs)
        finally:
            engine_s += time.perf_counter() - t

    quarantined = n_pages = 0

    def untraced_pass(batch, paged: bool) -> None:
        pdf = batch.to_pandas()
        if paged:
            _paged(pdf, Tracer(), CONFIG)
        else:
            with patched([(ext, "extract_document", timed_engine)]):
                ext.extract_batch(pdf, CONFIG)

    def traced_pass(batch, paged: bool) -> None:
        nonlocal quarantined, n_pages
        with tr.span("extract.arrow_to_pandas"):
            pdf = batch.to_pandas()
        with patched(layer_targets):
            if paged:
                tr.current_doc = pdf["doc_id"].iloc[0]
                n_pages += _paged(pdf, tr, CONFIG)
            else:
                out = ext.extract_batch(pdf, CONFIG)
                quarantined += int((out["kind"] == "error").sum())

    work = [(b, False) for b in batches] + [(b, True) for b in big_batches]
    # one unmeasured pass over a batch of each route, so that first calls
    # (imports, caches) charge neither side
    for paged, batch in {paged: b for b, paged in work}.items():
        untraced_pass(batch, paged)
    engine_s = 0.0
    # per batch: (first span, end span, untraced engine s, untraced s, traced s)
    rows = []
    for i, (batch, paged) in enumerate(work):
        row = [0, 0, 0.0, 0.0, 0.0]
        for traced in ((False, True) if i % 2 == 0 else (True, False)):
            first, e0, t = len(tr.name), engine_s, time.perf_counter()
            (traced_pass if traced else untraced_pass)(batch, paged)
            if traced:
                row[0], row[1], row[4] = first, len(tr.name), time.perf_counter() - t
            else:
                row[2], row[3] = engine_s - e0, time.perf_counter() - t
        rows.append(row)
    tr.dump(span_path)

    tot = tr.totals()
    n = docs.num_rows
    none = (0.0, 0.0, 0, 0)

    def total(name: str) -> float:
        return tot.get(name, none)[0]

    def self_s(name: str) -> float:
        return tot.get(name, none)[1]

    def calls(name: str) -> int:
        return tot.get(name, none)[2]

    def summed(name: str) -> int:
        return tot.get(name, none)[3]

    # reconciliation, per narrow batch: the self times of every span inside
    # an ``engine`` span (the engine's own plus each stage's) against the
    # engine time the untraced pass measured; the median over batches keeps
    # a noisy moment on the host from deciding it
    own = tr.self_times()
    in_engine: List[bool] = []
    for name, parent in zip(tr.name, tr.parent):
        in_engine.append(name == "engine" or (parent >= 0 and in_engine[parent]))
    reconcile = [
        sum(o for o, e in zip(own[a:b], in_engine[a:b]) if e) / eng
        for (a, b, eng, _, _), (_, paged) in zip(rows, work) if not paged and eng
    ]

    n_paged = big.num_rows
    return {
        "extract.batches": calls("extract.batch"),
        "extract.arrow_to_pandas_s_per_doc": total("extract.arrow_to_pandas") / n,
        "extract.input_convert_s_per_doc": total("extract.input_convert") / n,
        "extract.engine_s_per_doc": total("engine") / n,
        "extract.frame_build_s_per_doc": self_s("extract.batch") / n,
        "extract.quarantined": quarantined,
        "layout.s_per_doc": total("layout") / n,
        "layout.glyphs_per_doc": summed("layout") / n,
        "scanfilters.s_per_doc": total("scanfilters") / n,
        "engine.words.s_per_doc": total("engine.words") / n,
        "engine.pb.s_per_doc": total("engine.pb") / n,
        "engine.page_other.s_per_doc": self_s("engine.page") / n,
        "engine.logical.s_per_doc": total("engine.logical") / n,
        "engine.self.s_per_doc": self_s("engine") / n,
        "engine.pages_per_doc": calls("engine.page") / n,
        "engine.words_per_doc": summed("engine.words") / n,
        "engine.docs_per_s_per_core":
            small.num_rows / engine_s if engine_s else 0.0,
        "paged.docs": n_paged,
        "paged.pages": n_pages,
        "paged.stage_a.s_per_doc": total("paged.stage_a") / n_paged if n_paged else 0.0,
        "paged.stage_b.s_per_page": total("paged.stage_b") / n_pages if n_pages else 0.0,
        "paged.stage_c.s_per_doc": total("paged.stage_c") / n_paged if n_paged else 0.0,
        "trace.stage_sum_over_engine": statistics.median(reconcile) if reconcile else 0.0,
        "trace.overhead_ratio": statistics.median(r[4] / r[3] for r in rows),
    }

