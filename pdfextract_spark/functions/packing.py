"""Sequence packing: greedy fixed-token-budget packing of documents into
pretraining sequences.

The step between a cleaned corpus and a training batch: concatenate
documents into fixed-capacity sequences (budget = context length) so
little capacity is wasted on padding. The greedy rule is the standard one:
fill in order; when the next document would overflow the budget, close the
sequence and start a new one (a document longer than the budget occupies a
sequence alone).

Spark shape (100 TB):
- documents are hashed into `n_streams` independent pack streams
  (md5-derived, deterministic across runs/retries — same contract as
  `webclean.hash_sample`); ONE shuffle on the stream key.
- each stream packs independently inside one `applyInPandas` group: the
  greedy fold is inherently sequential PER STREAM, so the parallelism dial
  is `n_streams` (set it to O(cluster cores) in production; the fold
  itself is a numpy-array loop over the group — per-batch Python, not
  per-Spark-row Python).
- determinism: stream assignment and the in-stream order (doc_id) are
  pure functions of the input, so re-running any failed stream task
  reproduces identical sequences — rand()/partition-order-based packing
  does not survive retries.

The DuckDB oracle replays the same fold as a recursive CTE over
row_number-ranked rows (the stateful-fold analog of the connected-
components recursive-CTE oracle in `functions/dedup.py`).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

N_STREAMS = 8  # sandbox dial; production sets O(cluster cores)
BUDGET = 128  # tokens per packed sequence (context length)

_SCHEMA = (
    "doc_id string, stream int, seq_id int, seq_offset int, n_tokens int"
)


def _with_stream(documents: DataFrame, n_streams: int) -> DataFrame:
    doc_id = F.col("doc_id").cast("string")
    h = F.md5(F.concat(F.lit("pack|"), doc_id))
    stream = (F.conv(F.substring(h, 1, 4), 16, 10).cast("long") % n_streams).cast("int")
    return documents.select(
        doc_id.alias("doc_id"),
        F.col("doc_id").cast("long").alias("doc_num"),
        stream.alias("stream"),
        F.size(F.split("text", " ")).cast("int").alias("n_tokens"),
    )


def _pack_costed(costed: DataFrame, budget: int) -> DataFrame:
    """Shared greedy fold over a pre-costed frame
    (doc_id, doc_num, stream, n_tokens) — the kernel behind both the text
    packer and the interleaved (media-costed) packer."""

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_num").reset_index(drop=True)
        seqs, offs = [], []
        seq, fill = 0, 0
        for n in pdf["n_tokens"].to_numpy():
            if fill > 0 and fill + int(n) > budget:
                seq += 1
                fill = 0
            seqs.append(seq)
            offs.append(fill)
            fill += int(n)
        pdf["seq_id"] = pd.Series(seqs, dtype="int32")
        pdf["seq_offset"] = pd.Series(offs, dtype="int32")
        return pdf[["doc_id", "stream", "seq_id", "seq_offset", "n_tokens"]]

    return (
        costed.groupBy("stream")
        .applyInPandas(pack, _SCHEMA)
        .orderBy("stream", "seq_id", "seq_offset")
    )


def pack_sequences(
    documents: DataFrame, budget: int = BUDGET, n_streams: int = N_STREAMS
) -> DataFrame:
    """(doc_id, stream, seq_id, seq_offset, n_tokens) — greedy packing of
    each stream's documents (in doc_id order) into sequences of at most
    `budget` tokens; seq_id counts per stream, seq_offset is the document's
    token offset inside its sequence."""
    return _pack_costed(_with_stream(documents, n_streams), budget)


MEDIA_TOKENS = 64      # fixed token cost of one media span (vision-encoder
MM_BUDGET = 512        # patch budget per image); interleaved context length


def pack_interleaved(
    interleaved: DataFrame,
    media_tokens: int = MEDIA_TOKENS,
    budget: int = MM_BUDGET,
    n_streams: int = N_STREAMS,
) -> DataFrame:
    """Interleaved-document packing: same greedy fold, but a document's
    cost counts text tokens AND a fixed per-media-span token charge (the
    vision-token budget an interleaved pretraining batch actually pays).
    Consumes the canonical (doc_id, spans) table; ONE shuffle on the
    stream key, cost computed as pure Column algebra over spans."""
    doc_id = F.col("doc_id").cast("string")
    h = F.md5(F.concat(F.lit("pack|"), doc_id))
    stream = (
        F.conv(F.substring(h, 1, 4), 16, 10).cast("long") % n_streams
    ).cast("int")
    cost = F.aggregate(
        F.col("spans"),
        F.lit(0),
        lambda acc, s: acc
        + F.when(s["kind"] == "media", F.lit(media_tokens)).otherwise(
            F.size(F.split(s["text"], " "))
        ),
    )
    costed = interleaved.select(
        doc_id.alias("doc_id"),
        F.col("doc_id").cast("long").alias("doc_num"),
        stream.alias("stream"),
        cost.cast("int").alias("n_tokens"),
    )
    return _pack_costed(costed, budget)


# ------------------------------------------------------ split-aware packing
# The last mile before a training run: leakage-safe train/val/test
# assignment (curation.leakage_safe_split — the md5 coin keyed on the
# near-dup GROUP, so duplicates never straddle eval boundaries) feeding the
# greedy pack fold PER SPLIT, each split with its own token budget (train
# packs at the context length; eval splits usually pack shorter). A packed
# sequence is keyed (split, stream, seq_id) — by construction no sequence
# can mix splits, pinned by tests/test_pack_by_split.py.

SPLIT_BUDGETS = {"train": BUDGET, "val": 64, "test": 64}

_SPLIT_SCHEMA = (
    "doc_id string, split string, stream int, seq_id int, "
    "seq_offset int, n_tokens int"
)


def pack_by_split(
    documents: DataFrame,
    budgets: dict | None = None,
    n_streams: int = N_STREAMS,
) -> DataFrame:
    """(doc_id, split, stream, seq_id, seq_offset, n_tokens) — greedy
    packing of each (split, stream)'s documents (in doc_id order) into
    sequences of at most budgets[split] tokens.

    100 TB shape: the split assignment reuses the bounded LSH pair graph +
    CC kernels; the pack adds ONE shuffle on (split, stream) — the same
    n_streams parallelism dial as pack_sequences, times the 3 splits."""
    from .curation import leakage_safe_split

    budgets = dict(SPLIT_BUDGETS if budgets is None else budgets)
    costed = _with_stream(documents, n_streams).join(
        leakage_safe_split(documents).select("doc_id", "split"), "doc_id"
    )

    def pack(key, pdf):
        budget = budgets[key[0]]
        pdf = pdf.sort_values("doc_num").reset_index(drop=True)
        seqs, offs = [], []
        seq, fill = 0, 0
        for n in pdf["n_tokens"].to_numpy():
            if fill > 0 and fill + int(n) > budget:
                seq += 1
                fill = 0
            seqs.append(seq)
            offs.append(fill)
            fill += int(n)
        pdf["seq_id"] = pd.Series(seqs, dtype="int32")
        pdf["seq_offset"] = pd.Series(offs, dtype="int32")
        return pdf[
            ["doc_id", "split", "stream", "seq_id", "seq_offset", "n_tokens"]
        ]

    return (
        costed.groupBy("split", "stream")
        .applyInPandas(pack, _SPLIT_SCHEMA)
        .orderBy("split", "stream", "seq_id", "seq_offset")
    )


def pack_stats(
    documents: DataFrame, budget: int = BUDGET, n_streams: int = N_STREAMS
) -> DataFrame:
    """(stream, n_seqs, n_docs, total_tokens, max_seq_tokens) — packing
    utilization per stream (aggregate of pack_sequences; the padding waste
    is budget*n_seqs - total_tokens for seqs under budget)."""
    packed = pack_sequences(documents, budget, n_streams)
    per_seq = packed.groupBy("stream", "seq_id").agg(
        F.count("*").cast("long").alias("docs"),
        F.sum("n_tokens").cast("long").alias("toks"),
    )
    return (
        per_seq.groupBy("stream")
        .agg(
            F.count("*").cast("long").alias("n_seqs"),
            F.sum("docs").cast("long").alias("n_docs"),
            F.sum("toks").cast("long").alias("total_tokens"),
            F.max("toks").cast("long").alias("max_seq_tokens"),
        )
        .orderBy("stream")
    )


def _sql_base(table: str, n_streams: int, cost_sql: str | None = None) -> str:
    h = "md5('pack|' || CAST(doc_id AS VARCHAR))"
    stream = f"CAST((('0x' || substr({h}, 1, 4))::BIGINT % {n_streams}) AS INT)"
    cost = cost_sql or "len(string_split(text, ' '))"
    return f"""
base AS MATERIALIZED (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, {stream} AS stream,
         CAST({cost} AS INT) AS n_tokens,
         ROW_NUMBER() OVER (PARTITION BY {stream} ORDER BY CAST(doc_id AS BIGINT)) AS rn
  FROM {table})"""


def _sql_pack(
    table: str, budget: int, n_streams: int, cost_sql: str | None = None
) -> str:
    """Recursive-CTE replay of the greedy fold (rn = fold step per stream).
    `base` is MATERIALIZED: inlined, every recursion step re-derives it."""
    return f"""
WITH RECURSIVE {_sql_base(table, n_streams, cost_sql)},
pack AS (
  SELECT doc_id, stream, n_tokens, rn,
         0 AS seq_id, 0 AS seq_offset, n_tokens AS fill
  FROM base WHERE rn = 1
  UNION ALL
  SELECT b.doc_id, b.stream, b.n_tokens, b.rn,
         CASE WHEN p.fill + b.n_tokens > {budget} THEN p.seq_id + 1 ELSE p.seq_id END,
         CASE WHEN p.fill + b.n_tokens > {budget} THEN 0 ELSE p.fill END,
         CASE WHEN p.fill + b.n_tokens > {budget} THEN b.n_tokens ELSE p.fill + b.n_tokens END
  FROM pack p JOIN base b ON b.stream = p.stream AND b.rn = p.rn + 1)
SELECT doc_id, stream, CAST(seq_id AS INT) AS seq_id,
       CAST(seq_offset AS INT) AS seq_offset, n_tokens
FROM pack"""


def sql_pack_sequences(
    table: str = "documents", budget: int = BUDGET, n_streams: int = N_STREAMS
) -> str:
    return _sql_pack(table, budget, n_streams) + " ORDER BY stream, seq_id, seq_offset"


def sql_pack_by_split(
    table: str = "documents",
    budgets: dict | None = None,
    n_streams: int = N_STREAMS,
) -> str:
    """Mirror of pack_by_split: the leakage-safe assign CTE joined onto the
    costed corpus, then the recursive greedy fold partitioned on
    (split, stream) with a per-split budget CASE; `base` is MATERIALIZED as
    in _sql_pack."""
    from .curation import _sql_assign

    budgets = dict(SPLIT_BUDGETS if budgets is None else budgets)
    bcase = "CASE b.split " + " ".join(
        f"WHEN '{s}' THEN {int(v)}" for s, v in sorted(budgets.items())
    ) + " END"
    h = "md5('pack|' || CAST(d.doc_id AS VARCHAR))"
    stream = f"CAST((('0x' || substr({h}, 1, 4))::BIGINT % {n_streams}) AS INT)"
    return f"""
WITH RECURSIVE {_sql_assign(table)},
base AS MATERIALIZED (
  SELECT CAST(d.doc_id AS VARCHAR) AS doc_id, a.split, {stream} AS stream,
         CAST(len(string_split(d.text, ' ')) AS INT) AS n_tokens,
         ROW_NUMBER() OVER (PARTITION BY a.split, {stream}
                            ORDER BY CAST(d.doc_id AS BIGINT)) AS rn
  FROM {table} d JOIN assign a ON a.doc_id = CAST(d.doc_id AS VARCHAR)),
pack AS (
  SELECT doc_id, split, stream, n_tokens, rn,
         0 AS seq_id, 0 AS seq_offset, n_tokens AS fill
  FROM base b WHERE rn = 1
  UNION ALL
  SELECT b.doc_id, b.split, b.stream, b.n_tokens, b.rn,
         CASE WHEN p.fill + b.n_tokens > {bcase} THEN p.seq_id + 1 ELSE p.seq_id END,
         CASE WHEN p.fill + b.n_tokens > {bcase} THEN 0 ELSE p.fill END,
         CASE WHEN p.fill + b.n_tokens > {bcase} THEN b.n_tokens ELSE p.fill + b.n_tokens END
  FROM pack p JOIN base b
    ON b.split = p.split AND b.stream = p.stream AND b.rn = p.rn + 1)
SELECT doc_id, split, stream, CAST(seq_id AS INT) AS seq_id,
       CAST(seq_offset AS INT) AS seq_offset, n_tokens
FROM pack ORDER BY split, stream, seq_id, seq_offset"""


def sql_pack_interleaved(
    table: str = "documents",
    media_tokens: int = MEDIA_TOKENS,
    budget: int = MM_BUDGET,
    n_streams: int = N_STREAMS,
    w: int = 8,
) -> str:
    """Mirror of pack_interleaved over the rich-interleave schedule
    (sources/adapters.documents_to_interleaved_rich): cost = word count +
    media_tokens * media count, media count re-derived per chunk from the
    md5 'mm|' schedule (r==0 -> 3 spans, r<=2 -> 1)."""
    r = (
        "(('0x' || substr(md5('mm|' || CAST(doc_id AS VARCHAR) || '|' "
        "|| CAST(i AS VARCHAR)), 1, 2))::BIGINT % 8)"
    )
    n_media = (
        f"COALESCE(list_sum(list_transform("
        f"range(0, CAST(ceil(len(string_split(text, ' ')) / {w}.0) AS BIGINT)), "
        f"i -> CASE WHEN {r} = 0 THEN 3 WHEN {r} <= 2 THEN 1 ELSE 0 END)), 0)"
    )
    cost = f"(len(string_split(text, ' ')) + {media_tokens} * {n_media})"
    return (
        _sql_pack(table, budget, n_streams, cost_sql=cost)
        + " ORDER BY stream, seq_id, seq_offset"
    )


def sql_pack_stats(
    table: str = "documents", budget: int = BUDGET, n_streams: int = N_STREAMS
) -> str:
    return f"""
SELECT stream, CAST(COUNT(DISTINCT seq_id) AS BIGINT) AS n_seqs,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(MAX(seq_toks) AS BIGINT) AS max_seq_tokens
FROM (
  SELECT stream, seq_id, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY stream, seq_id) AS seq_toks
  FROM ({_sql_pack(table, budget, n_streams)})
)
GROUP BY stream ORDER BY stream
"""


# ---------------------------------------------------------------------------
# context-boundary chunking of interleaved documents
# ---------------------------------------------------------------------------
# The splitting step upstream of packing: a document longer than the context
# budget is cut into chunks at span boundaries (spans are atomic — a media
# span's vision tokens can't be split across sequences, and text spans are
# the pipeline's smallest addressable unit). Chunk assignment is by
# exclusive-prefix cost: span i goes to chunk floor(sum(cost[0..i-1]) /
# budget) — deterministic, order-preserving, and expressible in both
# engines without a greedy fold.

CHUNK_BUDGET = 96  # sandbox dial; production = context length


def chunk_interleaved(
    interleaved: DataFrame,
    media_tokens: int = MEDIA_TOKENS,
    budget: int = CHUNK_BUDGET,
) -> DataFrame:
    """(doc_id, span_offset, kind, cost, chunk_id) — one row per span of
    the canonical (doc_id, spans) table, with its token cost and the chunk
    it lands in.

    100 TB shape: ZERO shuffle — the prefix sums are computed inside the
    row (an array fold over the spans column; the O(n^2) element copies of
    the accumulator are bounded by per-document span counts, which the
    layout contract keeps small), and the explode is narrow. The spans
    column is materialized once before the fold so Catalyst never
    re-evaluates its producer per element (no-CSE-across-lambda-scopes
    trap, PLANS.md round-4 DSIR note)."""
    costs = F.transform(
        F.col("spans"),
        lambda s: F.when(s["kind"] == "media", F.lit(media_tokens))
        .otherwise(F.size(F.split(s["text"], " ")))
        .cast("long"),
    )
    base = interleaved.select(
        F.col("doc_id").cast("string").alias("doc_id"), "spans",
        costs.alias("costs"),
    )
    # exclusive prefix sums: fold builds [0, c0, c0+c1, ...]; element i is
    # the cost mass strictly before span i
    prefix = F.aggregate(
        F.col("costs"),
        F.array(F.lit(0).cast("long")),
        lambda acc, c: F.concat(acc, F.array(F.element_at(acc, -1) + c)),
    )
    rows = base.select(
        "doc_id",
        F.posexplode(
            F.zip_with(
                F.col("spans"),
                F.slice(prefix, 1, F.size(F.col("costs"))),
                lambda s, b: F.struct(
                    s["kind"].alias("kind"),
                    F.when(s["kind"] == "media", F.lit(media_tokens))
                    .otherwise(F.size(F.split(s["text"], " ")))
                    .cast("long")
                    .alias("cost"),
                    b.alias("before"),
                ),
            )
        ).alias("pos", "z"),
    )
    return rows.select(
        "doc_id",
        F.col("pos").cast("int").alias("span_offset"),
        F.col("z.kind").alias("kind"),
        F.col("z.cost").cast("int").alias("cost"),
        F.expr(f"z.before div {budget}").cast("int").alias("chunk_id"),
    )


def sql_chunk_interleaved(
    table: str = "documents",
    media_tokens: int = MEDIA_TOKENS,
    budget: int = CHUNK_BUDGET,
    w: int = 8,
) -> str:
    """Mirror over the rich-interleave schedule (documents_to_interleaved_rich):
    per chunk i the text span costs least(w, len-i*w) words, then r==0 ->
    three media spans, r<=2 -> one (r = hex2(md5('mm|doc|i')) % 8); chunk
    assignment replays the exclusive window cumsum."""
    r = (
        "(('0x' || substr(md5('mm|' || doc_id || '|' "
        "|| CAST(i AS VARCHAR)), 1, 2))::BIGINT % 8)"
    )
    per_chunk = (
        f"list_concat([least({w}, len(ws) - i * {w})], "
        f"CASE WHEN {r} = 0 THEN [-1, -1, -1] "
        f"WHEN {r} <= 2 THEN [-1] ELSE [] END)"
    )
    return f"""
WITH base AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, string_split(text, ' ') AS ws
  FROM {table}
),
sp AS (
  SELECT doc_id,
         flatten(list_transform(
           range(0, CAST(ceil(len(ws) / {w}.0) AS BIGINT)), i -> {per_chunk}
         )) AS marks
  FROM base
),
u0 AS (
  SELECT doc_id,
         unnest(range(0, len(marks))) AS span_offset,
         unnest(marks) AS mark
  FROM sp
),
u AS (
  SELECT doc_id, span_offset,
         CASE WHEN mark = -1 THEN 'media' ELSE 'text' END AS kind,
         CAST(CASE WHEN mark = -1 THEN {media_tokens} ELSE mark END AS BIGINT)
           AS cost
  FROM u0
)
SELECT doc_id, CAST(span_offset AS INT) AS span_offset, kind,
       CAST(cost AS INT) AS cost,
       CAST((COALESCE(SUM(cost) OVER (
           PARTITION BY doc_id ORDER BY span_offset
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // {budget})
         AS INT) AS chunk_id
FROM u
"""


# ---------------------------------------------------------------------------
# length-bucketed batch assignment (padding-efficient batching)
# ---------------------------------------------------------------------------
# The complement of packing for variable-length training/inference: when
# sequences are NOT concatenated (SFT, eval, embedding inference), every
# sequence in a batch pads to the batch max, so uniform random batching
# wastes tokens proportional to length variance. Bucketing by
# floor(log2(n_tokens)) bounds within-batch length spread to < 2x, which
# bounds per-token padding waste below 50% by construction (and in
# practice near zero) — the bucketed-batching layout of fairseq /
# tensor2tensor and every serving stack's length-aware scheduler.
#
# Scale shape: token count and bucket id are map-side; batch assignment is
# a row_number inside (bucket, stream) — ONE shuffle, parallelism =
# buckets x streams (the same dial as pack_sequences; a single bucket is
# never one reducer's problem). Batch max / padding ride the same window
# partition, no second shuffle. Determinism: the in-bucket order is an
# md5 of the doc id (retry-stable shuffle, same contract as epoch_shuffle).

BATCH_SIZE = 8  # sequences per batch (sandbox dial; production = per-rank batch)


def length_bucket_batches(
    documents: DataFrame,
    batch_size: int = BATCH_SIZE,
    n_streams: int = N_STREAMS,
) -> DataFrame:
    """(doc_id, n_tokens, bucket, stream, batch_id, batch_max, pad_tokens)
    — every document assigned to a length bucket (floor(log2(n_tokens)))
    and, inside its (bucket, stream), to a fixed-size batch in md5 order;
    batch_max is the batch's padded width and pad_tokens the per-document
    waste (batch_max - n_tokens)."""
    from pyspark.sql import Window

    doc_id = F.col("doc_id").cast("string")
    base = documents.select(
        doc_id.alias("doc_id"),
        F.col("doc_id").cast("long").alias("doc_num"),
        F.size(F.split("text", " ")).cast("int").alias("n_tokens"),
        F.md5(F.concat(F.lit("lb|"), doc_id)).alias("h"),
    ).withColumn(
        # floor(log2(n)) = digits in binary - 1; bin() agrees across engines
        "bucket",
        (F.length(F.bin("n_tokens")) - 1).cast("int"),
    )
    stream = (
        F.conv(F.substring("h", 1, 4), 16, 10).cast("long") % n_streams
    ).cast("int")
    base = base.withColumn("stream", stream)
    w = Window.partitionBy("bucket", "stream").orderBy("h", "doc_num")
    wb = Window.partitionBy("bucket", "stream", "batch_id")
    return (
        base.withColumn(
            "batch_id",
            ((F.row_number().over(w) - 1) / batch_size).cast("int"),
        )
        .withColumn("batch_max", F.max("n_tokens").over(wb))
        .select(
            "doc_id",
            "n_tokens",
            "bucket",
            "stream",
            "batch_id",
            "batch_max",
            (F.col("batch_max") - F.col("n_tokens")).alias("pad_tokens"),
        )
    )


def sql_length_bucket_batches(
    table: str = "documents",
    batch_size: int = BATCH_SIZE,
    n_streams: int = N_STREAMS,
) -> str:
    return f"""
WITH base AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         CAST(doc_id AS BIGINT) AS doc_num,
         CAST(length(string_split(text, ' ')) AS INT) AS n_tokens,
         md5('lb|' || CAST(doc_id AS VARCHAR)) AS h
  FROM {table}
),
bucketed AS (
  SELECT *,
         CAST(length(bin(n_tokens)) - 1 AS INT) AS bucket,
         CAST((('0x' || substr(h, 1, 4))::BIGINT % {n_streams}) AS INT) AS stream
  FROM base
),
batched AS (
  SELECT *,
         CAST((ROW_NUMBER() OVER (PARTITION BY bucket, stream
                                  ORDER BY h, doc_num) - 1)
              // {batch_size} AS INT) AS batch_id
  FROM bucketed
)
SELECT doc_id, n_tokens, bucket, stream, batch_id,
       CAST(batch_max AS INT) AS batch_max,
       CAST(batch_max - n_tokens AS INT) AS pad_tokens
FROM (
  SELECT *, MAX(n_tokens) OVER (PARTITION BY bucket, stream, batch_id)
            AS batch_max
  FROM batched
)
"""


def padding_report(
    documents: DataFrame,
    batch_size: int = BATCH_SIZE,
    n_streams: int = N_STREAMS,
) -> DataFrame:
    """(stream, n_docs, real_tokens, pad_bucketed, pad_naive,
    pad_bucketed_milli, pad_naive_milli) — the layout win, measured: total
    padding waste per stream under length-bucketed batching vs the naive
    counterfactual (same md5 batch order, length ignored), with per-mille
    pad-per-real-token rates. Both layouts derive from one base pass; the
    naive window partitions on the stream key (the packing parallelism
    dial, same bounded-domain argument as pack_sequences)."""
    from pyspark.sql import Window

    bucketed = length_bucket_batches(documents, batch_size, n_streams).select(
        "doc_id", "n_tokens", "stream", F.col("pad_tokens").alias("pad_b")
    )
    doc_id = F.col("doc_id").cast("string")
    base = documents.select(
        doc_id.alias("doc_id"),
        F.col("doc_id").cast("long").alias("doc_num"),
        F.size(F.split("text", " ")).cast("int").alias("n_tokens"),
        F.md5(F.concat(F.lit("lb|"), doc_id)).alias("h"),
    )
    stream = (
        F.conv(F.substring("h", 1, 4), 16, 10).cast("long") % n_streams
    ).cast("int")
    base = base.withColumn("stream", stream)
    wn = Window.partitionBy("stream").orderBy("h", "doc_num")
    wb = Window.partitionBy("stream", "batch_id")
    naive = (
        base.withColumn(
            "batch_id",
            ((F.row_number().over(wn) - 1) / batch_size).cast("int"),
        )
        .withColumn("batch_max", F.max("n_tokens").over(wb))
        .select(
            "doc_id",
            (F.col("batch_max") - F.col("n_tokens")).alias("pad_n"),
        )
    )
    joined = bucketed.join(naive, "doc_id")
    return (
        joined.groupBy("stream")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("real_tokens"),
            F.sum("pad_b").alias("pad_bucketed"),
            F.sum("pad_n").alias("pad_naive"),
        )
        .select(
            "stream",
            "n_docs",
            "real_tokens",
            "pad_bucketed",
            "pad_naive",
            F.expr("1000 * pad_bucketed div real_tokens").alias(
                "pad_bucketed_milli"
            ),
            F.expr("1000 * pad_naive div real_tokens").alias("pad_naive_milli"),
        )
        .orderBy("stream")
    )


def sql_padding_report(
    table: str = "documents",
    batch_size: int = BATCH_SIZE,
    n_streams: int = N_STREAMS,
) -> str:
    return f"""
WITH bucketed AS (
  SELECT doc_id, n_tokens, stream, pad_tokens AS pad_b
  FROM ({sql_length_bucket_batches(table, batch_size, n_streams)})
),
nbase AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         CAST(doc_id AS BIGINT) AS doc_num,
         CAST(length(string_split(text, ' ')) AS INT) AS n_tokens,
         md5('lb|' || CAST(doc_id AS VARCHAR)) AS h
  FROM {table}
),
nstream AS (
  SELECT *,
         CAST((('0x' || substr(h, 1, 4))::BIGINT % {n_streams}) AS INT) AS stream
  FROM nbase
),
nbatch AS (
  SELECT *,
         CAST((ROW_NUMBER() OVER (PARTITION BY stream ORDER BY h, doc_num) - 1)
              // {batch_size} AS INT) AS batch_id
  FROM nstream
),
naive AS (
  SELECT doc_id,
         MAX(n_tokens) OVER (PARTITION BY stream, batch_id) - n_tokens AS pad_n
  FROM nbatch
)
SELECT b.stream,
       COUNT(*) AS n_docs,
       SUM(b.n_tokens)::BIGINT AS real_tokens,
       SUM(b.pad_b)::BIGINT AS pad_bucketed,
       SUM(n.pad_n)::BIGINT AS pad_naive,
       (1000 * SUM(b.pad_b) // SUM(b.n_tokens))::BIGINT AS pad_bucketed_milli,
       (1000 * SUM(n.pad_n) // SUM(b.n_tokens))::BIGINT AS pad_naive_milli
FROM bucketed b JOIN naive n USING (doc_id)
GROUP BY b.stream ORDER BY b.stream
"""


# --------------------------------------------------- tokenizer-aware packing
# Whitespace words are a proxy; the budget a training batch actually pays
# is MODEL tokens. This variant costs every document with the
# corpus-trained BPE tokenizer (functions/bpe.bpe_encode — train -> apply,
# no extra shuffle: the merge table is K collected constants and the
# encoding is a pure Column fold) and feeds the same greedy pack kernel.
# Budget is larger in BPE units (subword counts run ~6x whitespace words
# at the sandbox's 8-merge table; production uses its real tokenizer and
# context length).

BPE_BUDGET = 512  # context length in BPE tokens (sandbox dial)


def pack_sequences_bpe(
    documents: DataFrame, budget: int = BPE_BUDGET, n_streams: int = N_STREAMS
) -> DataFrame:
    """(doc_id, stream, seq_id, seq_offset, n_tokens) — pack_sequences with
    the cost measured in corpus-trained BPE tokens instead of whitespace
    words: the tokenizer-application pass feeding the batch-assembly pass,
    the composition a real pretraining pipeline runs."""
    from . import bpe

    enc = bpe.bpe_encode(documents)
    h = F.md5(F.concat(F.lit("pack|"), F.col("doc_id")))
    stream = (
        F.conv(F.substring(h, 1, 4), 16, 10).cast("long") % n_streams
    ).cast("int")
    costed = enc.select(
        "doc_id",
        F.col("doc_id").cast("long").alias("doc_num"),
        stream.alias("stream"),
        F.col("n_tokens_bpe").cast("int").alias("n_tokens"),
    )
    return _pack_costed(costed, budget)


def sql_pack_sequences_bpe(
    table: str = "documents", budget: int = BPE_BUDGET, n_streams: int = N_STREAMS
) -> str:
    from . import bpe

    enc = bpe.sql_bpe_encode(table=table)
    return (
        _sql_pack(f"({enc})", budget, n_streams, cost_sql="n_tokens_bpe")
        + " ORDER BY stream, seq_id, seq_offset"
    )


# --------------------------------------------------- partition-skew audit
# The north rule asks for partitioning and skew handled EXPLICITLY; this
# is the relation that proves a keyed layout is balanced before a job
# commits to it. For a bucket(doc_id, PART_BUCKETS) layout (the
# write_bucketed_spans / Iceberg bucket-spec key), the audit reports the
# per-bucket load distribution collapsed to the numbers an operator
# alarms on: max/mean load ratio and the Gini coefficient of bucket
# loads, both in integer milli units.

PART_BUCKETS = 256


def partition_audit(documents: DataFrame, n_buckets: int = PART_BUCKETS) -> DataFrame:
    """One row: (n_buckets, n_docs, n_tokens, max_load, min_load,
    maxmean_milli, gini_milli) for the bucket(doc_id, n_buckets) layout,
    loads measured in tokens (the shuffle-relevant mass, not row count).

    gini_milli = 1000 * (2*sum(i*x_i) - (n+1)*S) / (n*S) over ascending
    sorted bucket loads — pure integer, bit-exact cross-engine.

    100 TB shape: ONE bounded groupBy (n_buckets keys, map-side combine),
    then a single-row fold over the n_buckets-length array (in-row sort +
    indexed aggregate — the array is layout-sized, never data-sized)."""
    doc = F.col("doc_id").cast("string")
    toks = F.size(F.filter(F.split("text", " "), lambda w: w != "")).cast("long")
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit("pb|"), doc)), 1, 8), 16, 10)
        .cast("long")
        % n_buckets
    )
    census = (
        documents.select(bucket.alias("b"), toks.alias("t"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("long").alias("docs"), F.sum("t").alias("toks"))
    )
    folded = census.agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum("docs").alias("n_docs"),
        F.sum("toks").alias("n_tokens"),
        F.max("toks").alias("max_load"),
        F.min("toks").alias("min_load"),
        F.array_sort(F.collect_list("toks")).alias("_xs"),
    )
    iws = F.aggregate(
        F.zip_with(
            F.col("_xs"),
            F.sequence(F.lit(1), F.size("_xs")),
            lambda x, i: x * i.cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return folded.select(
        "n_buckets",
        "n_docs",
        "n_tokens",
        "max_load",
        "min_load",
        F.expr("(1000 * max_load * n_buckets) div n_tokens").alias("maxmean_milli"),
        iws.alias("_iws"),
    ).select(
        "n_buckets",
        "n_docs",
        "n_tokens",
        "max_load",
        "min_load",
        "maxmean_milli",
        F.expr(
            "(1000 * (2 * _iws - (n_buckets + 1) * n_tokens))"
            " div (n_buckets * n_tokens)"
        ).cast("long").alias("gini_milli"),
    )


def sql_partition_audit(table: str = "documents", n_buckets: int = PART_BUCKETS) -> str:
    """DuckDB mirror: identical bucket hash, census, and indexed Gini fold."""
    return f"""
WITH census AS (
  SELECT (('0x' || substr(md5('pb|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
          % {n_buckets}) AS b,
         CAST(COUNT(*) AS BIGINT) AS docs,
         CAST(SUM(len(list_filter(string_split(text, ' '), w -> w <> ''))) AS BIGINT)
           AS toks
  FROM {table} GROUP BY 1
),
folded AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
         CAST(SUM(docs) AS BIGINT) AS n_docs,
         CAST(SUM(toks) AS BIGINT) AS n_tokens,
         CAST(MAX(toks) AS BIGINT) AS max_load,
         CAST(MIN(toks) AS BIGINT) AS min_load,
         list_sort(list(toks)) AS xs
  FROM census
)
SELECT n_buckets, n_docs, n_tokens, max_load, min_load,
       CAST((1000 * max_load * n_buckets) // n_tokens AS BIGINT) AS maxmean_milli,
       CAST((1000 * (2 * list_reduce(
               list_concat([0::BIGINT],
                 list_transform(range(1, len(xs) + 1), i -> i * xs[i])),
               (a, b) -> a + b)
             - (n_buckets + 1) * n_tokens))
            // (n_buckets * n_tokens) AS BIGINT) AS gini_milli
FROM folded
"""


# --------------------------------------------------- write-layout planning
# partition_audit PROVES a layout balanced; this is the relation that
# PLANS one. Given the per-partition-key volume census, it emits the
# Iceberg write spec a 100-TB job would commit to: how many bucket files
# each partition needs so every shard lands near LAYOUT_TARGET_TOKENS,
# which partitions are skew outliers (load > LAYOUT_SKEW_X x the mean
# partition), and the salt-bit width that spreads a skewed partition's
# writes (ceil(log2(n_files)) — the explicit salting dial the north rule
# asks for). All integer arithmetic, bit-exact cross-engine.
#
# 100 TB shape: ONE bounded groupBy on the partition key (the `source`
# column — the natural Iceberg partition) with map-side combine, one
# single-row total joined back (partition-space-sized, never doc-sized).
# LAYOUT_TARGET_TOKENS is the shard dial: ~2k at fixture scale, ~256M
# (~1 GB of text) on a production corpus.

LAYOUT_TARGET_TOKENS = 2048
LAYOUT_SKEW_X = 2   # skewed iff partition load > 2x mean partition load


def layout_plan(
    documents: DataFrame, target: int = LAYOUT_TARGET_TOKENS
) -> DataFrame:
    """(source, n_docs, n_tokens, share_milli, n_files, salt_bits, skewed)
    — one row per partition key: its volume, corpus share in milli, the
    file count ceil(n_tokens/target), the salt width ceil(log2(n_files)),
    and the skew flag (load > LAYOUT_SKEW_X * mean partition load)."""
    toks = F.size(F.filter(F.split("text", " "), lambda w: w != "")).cast("long")
    census = (
        documents.select("source", toks.alias("t"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("t").alias("n_tokens"),
        )
    )
    totals = census.agg(
        F.sum("n_tokens").alias("_total"),
        F.count(F.lit(1)).cast("long").alias("_n_parts"),
    )
    n_files = F.expr(f"(n_tokens + {target} - 1) div {target}")
    planned = census.crossJoin(totals).select(
        "source",
        "n_docs",
        "n_tokens",
        F.expr("(1000 * n_tokens) div _total").alias("share_milli"),
        F.greatest(F.lit(1).cast("long"), n_files).alias("n_files"),
        (F.col("n_tokens") * F.col("_n_parts")
         > F.lit(LAYOUT_SKEW_X) * F.col("_total")).alias("skewed"),
    )
    salt_bits = (
        F.when(F.col("n_files") <= 1, F.lit(0).cast("long"))
        .otherwise(
            F.length(
                F.conv((F.col("n_files") - 1).cast("string"), 10, 2)
            ).cast("long")
        )
    )
    return planned.select(
        "source",
        "n_docs",
        "n_tokens",
        "share_milli",
        "n_files",
        salt_bits.alias("salt_bits"),
        "skewed",
    )


def sql_layout_plan(
    table: str = "documents", target: int = LAYOUT_TARGET_TOKENS
) -> str:
    """DuckDB mirror: identical census, ceil-div, bin-length salt width."""
    return f"""
WITH census AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(list_filter(string_split(text, ' '), w -> w <> '')))
              AS BIGINT) AS n_tokens
  FROM {table} GROUP BY source
),
totals AS (
  SELECT CAST(SUM(n_tokens) AS BIGINT) AS total,
         CAST(COUNT(*) AS BIGINT) AS n_parts
  FROM census
),
planned AS (
  SELECT source, n_docs, n_tokens,
         (1000 * n_tokens) // total AS share_milli,
         GREATEST(1::BIGINT, (n_tokens + {target} - 1) // {target}) AS n_files,
         (n_tokens * n_parts > {LAYOUT_SKEW_X} * total) AS skewed
  FROM census CROSS JOIN totals
)
SELECT source, n_docs, n_tokens, share_milli, n_files,
       CASE WHEN n_files <= 1 THEN 0
            ELSE CAST(length(bin(n_files - 1)) AS BIGINT) END AS salt_bits,
       skewed
FROM planned
"""


# ----------------------------------------- training-budget allocation plan
# The data-constrained scaling question (Muennighoff et al. 2023, "Scaling
# Data-Constrained Language Models"): a training run has a TOKEN BUDGET,
# repeating data pays off only up to ~4 epochs, and the mix should favour
# higher-quality sources — so how many tokens does each source contribute,
# where does the repeat cap bind, and how much budget CANNOT be filled at
# this cap? This relation answers it: allocation proportional to each
# source's quality-weighted token mass (quality = the shared clamped
# Flesch kernel, weighted by words), clamped at BP_MAX_EPOCHS x the
# source's own tokens, with the clipped surplus REPORTED per source as
# shortfall_tokens — never silently redistributed: a nonzero total
# shortfall IS the data-constrained verdict (raise the cap, add data, or
# shrink the run).
#
# 100 TB shape: ONE bounded census groupBy on the partition key + a
# single-row total join-back (the layout_plan shape). Int64 headroom: the
# per-source weight is sum(flesch_milli * words) (~1.2e8/doc); at 10^12
# docs scale flesch to whole points (div 1000) before the sum — the same
# headroom dial doremi_weights documents.

BP_BUDGET_X = 3     # fixture dial: training budget = 3x the corpus tokens
BP_MAX_EPOCHS = 4   # repeat cap: value decays past ~4 epochs (the paper)


def budget_plan(
    documents: DataFrame,
    budget_x: int = BP_BUDGET_X,
    max_epochs: int = BP_MAX_EPOCHS,
) -> DataFrame:
    """(source, n_docs, n_tokens, quality_milli, alloc_tokens,
    epochs_milli, capped, shortfall_tokens) — one row per source: its
    quality-weighted budget allocation under the repeat cap."""
    from .textops import flesch_milli, readability_counts

    w, s, y = readability_counts(F.col("text"))
    f = F.greatest(F.lit(0).cast("long"), flesch_milli(w, s, y))
    toks = F.size(F.filter(F.split("text", " "), lambda x: x != "")).cast("long")
    census = (
        documents.select(
            "source",
            toks.alias("t"),
            w.cast("long").alias("w"),
            (f * w.cast("long")).alias("wt"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("t").alias("n_tokens"),
            F.sum("w").alias("n_words"),
            F.sum("wt").alias("weight"),
        )
    )
    totals = census.agg(
        F.sum("n_tokens").alias("_total"), F.sum("weight").alias("_wsum")
    )
    j = census.crossJoin(totals).select(
        "source",
        "n_docs",
        "n_tokens",
        F.expr("weight div n_words").alias("quality_milli"),
        F.expr(f"({budget_x} * _total * weight) div _wsum").alias("_raw"),
        F.expr(f"{max_epochs} * n_tokens").alias("_cap"),
    )
    alloc = F.least(F.col("_raw"), F.col("_cap"))
    return j.select(
        "source",
        "n_docs",
        "n_tokens",
        "quality_milli",
        alloc.alias("alloc_tokens"),
        F.expr(
            f"(1000 * least(_raw, _cap)) div n_tokens"
        ).cast("long").alias("epochs_milli"),
        (F.col("_raw") > F.col("_cap")).alias("capped"),
        F.greatest(F.lit(0).cast("long"), F.col("_raw") - F.col("_cap")).alias(
            "shortfall_tokens"
        ),
    )


def sql_budget_plan(
    table: str = "documents",
    budget_x: int = BP_BUDGET_X,
    max_epochs: int = BP_MAX_EPOCHS,
) -> str:
    """DuckDB mirror: identical Flesch weighting, census, clamp, report."""
    wexpr = "GREATEST(1, len(string_split(text, ' ')))"
    sexpr = (
        "GREATEST(1, len(text) - len(regexp_replace(text, '[.!?]', '', 'g')))"
    )
    yexpr = (
        "GREATEST(1, len(string_split_regex(lower(text), '[aeiou]+')) - 1)"
    )
    fexpr = (
        f"GREATEST(0::BIGINT, 206835 - (1015 * {wexpr}) // {sexpr}"
        f" - (84600 * {yexpr}) // {wexpr})"
    )
    return f"""
WITH census AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> '')))
              AS BIGINT) AS n_tokens,
         CAST(SUM({wexpr}) AS BIGINT) AS n_words,
         CAST(SUM({fexpr} * {wexpr}) AS BIGINT) AS weight
  FROM {table} GROUP BY source
),
totals AS (
  SELECT CAST(SUM(n_tokens) AS BIGINT) AS total,
         CAST(SUM(weight) AS BIGINT) AS wsum
  FROM census
),
j AS (
  SELECT source, n_docs, n_tokens,
         weight // n_words AS quality_milli,
         ({budget_x} * total * weight) // wsum AS raw,
         {max_epochs} * n_tokens AS cap
  FROM census CROSS JOIN totals
)
SELECT source, n_docs, n_tokens, quality_milli,
       LEAST(raw, cap) AS alloc_tokens,
       CAST((1000 * LEAST(raw, cap)) // n_tokens AS BIGINT) AS epochs_milli,
       (raw > cap) AS capped,
       GREATEST(0::BIGINT, raw - cap) AS shortfall_tokens
FROM j
"""


# ------------------------------------------------ fetch/process shard plan
# Key-to-worker sharding for a skewed host space (crawl fetchers, per-host
# politeness queues, host-keyed reducers): pure hashing balances the TAIL
# but a heavy host lands whole on one worker — the classic "isolate the
# head, hash the tail" skew plan (the manual twin of AQE's skew-join
# split, applied to a keyed WORK assignment where a key cannot be split
# across workers because per-host state — rate limits, robots.txt, dedup
# windows — is host-local).
#
# Scale shape: ONE host census shuffle (map-side combine), a 1-row total,
# then the heavy-candidate set is PIGEONHOLE-BOUNDED: load * DENOM >=
# total admits at most DENOM hosts at ANY corpus size, so the dedicated-
# shard ranking window runs over a provably constant frame (same
# bounded-domain argument as sketches.heavy_hitters' exact re-check). The
# tail is assigned by md5 hash — no sort, no global rank over the host
# space. vs_capacity_milli is reported against the PLAN CAPACITY
# (SHARD_N + SHARD_HEAVY_W workers, a design constant), so 1000 = a
# perfectly level plan; anything above flags residual imbalance the
# operator could not remove without splitting a host.

SHARD_N = 8           # hash shards for the tail
SHARD_HEAVY_W = 4     # dedicated shards for the heaviest hosts
SHARD_HEAVY_DENOM = 16  # heavy iff load*DENOM >= total (<= DENOM candidates)


def shard_plan(
    documents: DataFrame,
    n_shards: int = SHARD_N,
    heavy_w: int = SHARD_HEAVY_W,
    denom: int = SHARD_HEAVY_DENOM,
) -> DataFrame:
    """(shard, kind, n_hosts, n_docs, load_tokens, share_milli,
    vs_capacity_milli) — one row per nonempty shard: 'dedicated' shards
    n_shards..n_shards+heavy_w-1 each hold ONE heavy host (top-heavy_w of
    the pigeonhole-bounded candidates, load desc / host asc); 'hashed'
    shards 0..n_shards-1 hold the md5-assigned tail."""
    from pyspark.sql import Window

    from .graphops import _host_of

    doc = F.col("doc_id").cast("string")
    toks = F.size(F.filter(F.split("text", " "), lambda w: w != "")).cast("long")
    census = (
        documents.select(_host_of(doc).alias("host"), toks.alias("t"))
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("t").alias("load"),
        )
    )
    # host-space-sized, three consumers (total, candidates, tail)
    census = census.localCheckpoint(eager=False)
    totals = census.agg(F.sum("load").alias("_total"))
    cand = census.crossJoin(totals).filter(
        F.col("load") * denom >= F.col("_total")
    )
    # single-partition window GUARDRAIL: `cand` is pigeonhole-bounded at
    # <= denom rows at any corpus size (each member holds >= total/denom
    # of the mass) — a constant frame, never host- or corpus-scaled
    # (allowlisted in tests/test_scale_lint.py)
    wr = Window.orderBy(F.desc("load"), F.asc("host"))
    heavy = (
        cand.withColumn("_rk", F.row_number().over(wr))
        .filter(F.col("_rk") <= heavy_w)
        .select(
            "host",
            (F.lit(n_shards).cast("long") + F.col("_rk") - 1).alias("shard"),
            F.lit("dedicated").alias("kind"),
        )
    )
    tail_shard = (
        F.conv(F.substring(F.md5(F.concat(F.lit("sd|"), F.col("host"))), 1, 8), 16, 10)
        .cast("long") % n_shards
    )
    # hint-free anti-join (heavy is <= heavy_w rows; AQE broadcasts it)
    tail = census.join(heavy.select("host"), "host", "left_anti").select(
        "host", tail_shard.alias("shard"), F.lit("hashed").alias("kind")
    )
    assign = heavy.select("host", "shard", "kind").unionByName(tail)
    return (
        assign.join(census, "host")
        .groupBy("shard", "kind")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hosts"),
            F.sum("n_docs").alias("n_docs"),
            F.sum("load").alias("load_tokens"),
        )
        .crossJoin(totals)
        .select(
            "shard",
            "kind",
            "n_hosts",
            "n_docs",
            "load_tokens",
            F.expr("(1000 * load_tokens) div _total").cast("long").alias(
                "share_milli"
            ),
            F.expr(
                f"(load_tokens * {n_shards + heavy_w} * 1000) div _total"
            ).cast("long").alias("vs_capacity_milli"),
        )
        .orderBy("shard")
    )


def sql_shard_plan(
    table: str = "documents",
    n_shards: int = SHARD_N,
    heavy_w: int = SHARD_HEAVY_W,
    denom: int = SHARD_HEAVY_DENOM,
) -> str:
    """DuckDB mirror: identical host synthesis (graphops._host_of), census,
    pigeonhole candidate rank, md5 tail hash, and per-shard report."""
    from .graphops import HOSTS

    host = (
        "'h' || CAST(('0x' || substr(md5('hs|' || CAST(doc_id AS VARCHAR)), 1, 4))"
        f"::BIGINT % {HOSTS} AS VARCHAR)"
    )
    return f"""
WITH census AS (
  SELECT {host} AS host,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(list_filter(string_split(text, ' '), w -> w <> '')))
              AS BIGINT) AS load
  FROM {table} GROUP BY 1
),
totals AS (SELECT CAST(SUM(load) AS BIGINT) AS total FROM census),
cand AS (
  SELECT host, load,
         ROW_NUMBER() OVER (ORDER BY load DESC, host ASC) AS rk
  FROM census CROSS JOIN totals
  WHERE load * {denom} >= total
),
heavy AS (
  SELECT host, {n_shards}::BIGINT + rk - 1 AS shard, 'dedicated' AS kind
  FROM cand WHERE rk <= {heavy_w}
),
tail AS (
  SELECT c.host,
         ('0x' || substr(md5('sd|' || c.host), 1, 8))::BIGINT % {n_shards}
           AS shard,
         'hashed' AS kind
  FROM census c ANTI JOIN heavy h ON c.host = h.host
),
assign AS (SELECT * FROM heavy UNION ALL SELECT * FROM tail)
SELECT a.shard, a.kind,
       CAST(COUNT(*) AS BIGINT) AS n_hosts,
       CAST(SUM(c.n_docs) AS BIGINT) AS n_docs,
       CAST(SUM(c.load) AS BIGINT) AS load_tokens,
       CAST((1000 * SUM(c.load)) // MAX(t.total) AS BIGINT) AS share_milli,
       CAST((SUM(c.load) * {n_shards + heavy_w} * 1000) // MAX(t.total)
            AS BIGINT) AS vs_capacity_milli
FROM assign a JOIN census c ON a.host = c.host CROSS JOIN totals t
GROUP BY a.shard, a.kind
ORDER BY a.shard
"""


# Planted skew synthesis for the shard-plan driver gate: the fixture's
# md5-host space is near-uniform (every host ~3% of mass, below the
# SHARD_HEAVY_DENOM=16 threshold of 6.25%), so the dedicated-shard path
# would never exercise. Appending deterministic filler tokens to the docs
# of two fixed hosts (rebuilt identically by the DuckDB oracle) makes
# SKEW_HOST_A ~25% and SKEW_HOST_B ~13% of mass — both heavy, in that
# rank order — without touching doc identity or the host derivation.

SKEW_HOST_A, SKEW_FILL_A = "h3", 600
SKEW_HOST_B, SKEW_FILL_B = "h7", 300


def synthesize_skewed_hosts(documents: DataFrame) -> DataFrame:
    """documents with SKEW_FILL_A/B deterministic filler tokens appended
    to the text of every doc living on SKEW_HOST_A/B."""
    from .graphops import _host_of

    doc = F.col("doc_id").cast("string")

    def filler(n: int) -> F.Column:
        return F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(1), F.lit(n)),
                lambda i: F.substring(
                    F.md5(F.concat(F.lit("sk|"), doc, F.lit("|"), i.cast("string"))),
                    1,
                    8,
                ),
            ),
        )

    host = _host_of(doc)
    text = (
        F.when(host == SKEW_HOST_A, F.concat(F.col("text"), F.lit(" "), filler(SKEW_FILL_A)))
        .when(host == SKEW_HOST_B, F.concat(F.col("text"), F.lit(" "), filler(SKEW_FILL_B)))
        .otherwise(F.col("text"))
    )
    return documents.select("doc_id", text.alias("text"))


def sql_synthesize_skewed_hosts(table: str = "documents") -> str:
    """DuckDB mirror of synthesize_skewed_hosts (a FROM-able subquery)."""
    from .graphops import HOSTS

    host = (
        "'h' || CAST(('0x' || substr(md5('hs|' || CAST(doc_id AS VARCHAR)), 1, 4))"
        f"::BIGINT % {HOSTS} AS VARCHAR)"
    )

    def filler(n: int) -> str:
        return (
            f"array_to_string(list_transform(range(1, {n + 1}), "
            "i -> substr(md5('sk|' || CAST(doc_id AS VARCHAR) || '|' || "
            "CAST(i AS VARCHAR)), 1, 8)), ' ')"
        )

    return f"""
  SELECT doc_id,
         CASE WHEN {host} = '{SKEW_HOST_A}'
                THEN text || ' ' || {filler(SKEW_FILL_A)}
              WHEN {host} = '{SKEW_HOST_B}'
                THEN text || ' ' || {filler(SKEW_FILL_B)}
              ELSE text END AS text
  FROM {table}
"""


# ---------------------------------------------- sorted-export range plan
# The range-partitioner planning relation: writing a corpus GLOBALLY
# sorted by a score (quality-ordered curriculum exports, ascending-length
# packing inputs) needs K range boundaries such that each writer gets an
# even share — Spark's RangePartitioner SAMPLES for this; over a BOUNDED
# score domain the boundaries can be computed exactly and deterministically
# instead. Score = whole Flesch points clamped at 0 (<= ~207 distinct
# values at ANY corpus size — the quality_calibrate domain), so the
# histogram census is constant-sized, the cumsum window runs over it, and
# the boundary table is exact. Equal-score runs cannot be split across
# shards by a range partition (no tiebreaker column in the sort), so a
# heavy score value lands whole and the residual imbalance is REPORTED
# (vs_ideal_milli), never hidden — the caller's dial is K or a finer score.
#
# Scale shape: one bounded groupBy (score census, map-side combine), one
# single-partition window over the <= ~207-row histogram (bounded-domain
# allowance), a K-row report. The corpus is never sorted here — this emits
# the PLAN for the sorted write (the boundaries a repartitionByRange-style
# export consumes).

EXPORT_SHARDS = 16


def export_plan(documents: DataFrame, k: int = EXPORT_SHARDS) -> DataFrame:
    """(shard_idx, lo_pt, hi_pt, n_docs, n_tokens, share_milli,
    vs_ideal_milli) — one row per nonempty export shard of the ascending
    quality-sorted write: its inclusive whole-Flesch-point range, volume,
    and balance vs the ideal total/k docs share."""
    from pyspark.sql import Window

    from .textops import flesch_milli, readability_counts

    w_, s_, y_ = readability_counts(F.col("text"))
    toks = F.size(F.filter(F.split("text", " "), lambda x: x != "")).cast("long")
    pt = F.expr("CASE WHEN _f < 0 THEN 0 ELSE _f div 1000 END").cast("long")
    scored = documents.select(
        flesch_milli(w_, s_, y_).alias("_f"), toks.alias("t")
    ).select(pt.alias("pt"), "t")
    hist = scored.groupBy("pt").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum("t").alias("tk"),
    )
    # single-partition window GUARDRAIL: the frame is the whole-Flesch-
    # point histogram, <= ~207 rows after the 0-clamp at ANY corpus size
    # (the quality_calibrate bounded-domain argument; allowlisted in
    # tests/test_scale_lint.py)
    win = Window.orderBy("pt").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wt = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cum = hist.select(
        "pt",
        "c",
        "tk",
        (F.sum("c").over(win) - F.col("c")).alias("cum_lt"),
        F.sum("c").over(wt).alias("total"),
    )
    shard = F.least(
        F.lit(k - 1).cast("long"), F.expr(f"(cum_lt * {k}) div total")
    )
    return (
        cum.select(shard.alias("shard_idx"), "pt", "c", "tk", "total")
        .groupBy("shard_idx")
        .agg(
            F.min("pt").alias("lo_pt"),
            F.max("pt").alias("hi_pt"),
            F.sum("c").alias("n_docs"),
            F.sum("tk").alias("n_tokens"),
            F.max("total").alias("_total"),
        )
        .select(
            "shard_idx",
            "lo_pt",
            "hi_pt",
            "n_docs",
            "n_tokens",
            F.expr("(1000 * n_docs) div _total").cast("long").alias("share_milli"),
            F.expr(f"(n_docs * {k} * 1000) div _total").cast("long").alias(
                "vs_ideal_milli"
            ),
        )
        .orderBy("shard_idx")
    )


def sql_export_plan(table: str = "documents", k: int = EXPORT_SHARDS) -> str:
    """DuckDB mirror: identical Flesch-point clamp, histogram cumsum,
    boundary assignment, and per-shard report."""
    return f"""
WITH scored AS (
  SELECT CASE WHEN f < 0 THEN 0 ELSE f // 1000 END AS pt,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
              AS BIGINT) AS t
  FROM (
    SELECT 206835
           - (1015 * GREATEST(1, len(string_split(text, ' '))))
             // GREATEST(1, len(text) - len(regexp_replace(text, '[.!?]', '', 'g')))
           - (84600 * GREATEST(1, len(string_split_regex(lower(text), '[aeiou]+')) - 1))
             // GREATEST(1, len(string_split(text, ' '))) AS f,
           text
    FROM {table})
),
hist AS (
  SELECT pt, COUNT(*)::BIGINT AS c, SUM(t)::BIGINT AS tk
  FROM scored GROUP BY pt
),
cum AS (
  SELECT pt, c, tk,
         (SUM(c) OVER (ORDER BY pt ASC) - c)::BIGINT AS cum_lt,
         SUM(c) OVER ()::BIGINT AS total
  FROM hist
)
SELECT LEAST({k} - 1, (cum_lt * {k}) // total)::BIGINT AS shard_idx,
       MIN(pt)::BIGINT AS lo_pt,
       MAX(pt)::BIGINT AS hi_pt,
       SUM(c)::BIGINT AS n_docs,
       SUM(tk)::BIGINT AS n_tokens,
       ((1000 * SUM(c)) // MAX(total))::BIGINT AS share_milli,
       ((SUM(c) * {k} * 1000) // MAX(total))::BIGINT AS vs_ideal_milli
FROM cum
GROUP BY 1
ORDER BY 1
"""


# ------------------------------------------------------- zone-map audit
# What the sorted export actually BUYS at scan time: parquet/Iceberg readers
# prune files whose column min/max (zone map) misses the predicate range.
# Under a hash layout every file spans nearly the whole key domain (zone
# maps useless — every probe touches every file); under the export_plan
# range layout each file covers one contiguous key slice (a probe touches
# only the overlapping shard(s)). This relation measures that, probe by
# probe, so the layout decision is a number instead of folklore.

ZM_PROBES = 16
ZM_PROBE_W = 13  # whole-Flesch-point probe width (domain is 0..~207)


def zonemap_audit(
    documents: DataFrame, k: int = EXPORT_SHARDS
) -> DataFrame:
    """(probe_id, probe_lo, probe_hi, files_hash, files_sorted,
    touch_ratio_pm) — for each of ZM_PROBES fixed key-range probes, the
    number of files a zone-map-pruning reader must touch under (a) an
    md5-hash file layout and (b) the export_plan quality-sorted layout;
    touch_ratio_pm = 1000*files_sorted/files_hash (lower = the sorted
    layout prunes more).

    Scale shape: the hash-layout zone maps are ONE groupBy(file) min/max
    census (k rows); the sorted-layout zone maps are export_plan's shard
    ranges (bounded-histogram machinery, never a global sort). Probes are
    k x ZM_PROBES constant-size crossJoins off those censuses — nothing
    doc-sized survives the first aggregates."""
    from .textops import flesch_milli, readability_counts

    w_, s_, y_ = readability_counts(F.col("text"))
    pt = F.expr("CASE WHEN _f < 0 THEN 0 ELSE _f div 1000 END").cast("long")
    scored = documents.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        flesch_milli(w_, s_, y_).alias("_f"),
    ).select("doc_id", pt.alias("pt"))
    fhash = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("zm|"), F.col("doc_id"))), 1, 8),
            16,
            10,
        ).cast("long")
        % k
    )
    zm_hash = scored.select(fhash.alias("f"), "pt").groupBy("f").agg(
        F.min("pt").alias("lo"), F.max("pt").alias("hi")
    )
    zm_sorted = export_plan(documents, k).select(
        F.col("shard_idx").alias("f"),
        F.col("lo_pt").alias("lo"),
        F.col("hi_pt").alias("hi"),
    )
    probes = F.array(
        *[
            F.struct(
                F.lit(i).cast("long").alias("probe_id"),
                F.lit(i * ZM_PROBE_W).cast("long").alias("probe_lo"),
                F.lit(i * ZM_PROBE_W + ZM_PROBE_W - 1)
                .cast("long")
                .alias("probe_hi"),
            )
            for i in range(ZM_PROBES)
        ]
    )

    def hits(zm, name):
        p = (
            zm.agg(F.count(F.lit(1)).alias("_n"))
            .select(F.explode(probes).alias("p"))
            .select("p.probe_id", "p.probe_lo", "p.probe_hi")
        )
        overlap = (F.col("lo") <= F.col("probe_hi")) & (
            F.col("hi") >= F.col("probe_lo")
        )
        return (
            p.crossJoin(zm)
            .groupBy("probe_id", "probe_lo", "probe_hi")
            .agg(F.sum(overlap.cast("long")).alias(name))
        )
    h = hits(zm_hash, "files_hash")
    s = hits(zm_sorted, "files_sorted")
    return (
        h.join(s, ["probe_id", "probe_lo", "probe_hi"])
        .select(
            "probe_id",
            "probe_lo",
            "probe_hi",
            "files_hash",
            "files_sorted",
            F.expr(
                "CASE WHEN files_hash = 0 THEN 1000"
                " ELSE (1000 * files_sorted) div files_hash END"
            )
            .cast("long")
            .alias("touch_ratio_pm"),
        )
        .orderBy("probe_id")
    )


def sql_zonemap_audit(table: str = "documents", k: int = EXPORT_SHARDS) -> str:
    """DuckDB mirror of zonemap_audit (shares the export_plan SQL)."""
    probes = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS probe_id,"
        f" CAST({i * ZM_PROBE_W} AS BIGINT) AS probe_lo,"
        f" CAST({i * ZM_PROBE_W + ZM_PROBE_W - 1} AS BIGINT) AS probe_hi"
        for i in range(ZM_PROBES)
    )
    return f"""
WITH scored AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         CASE WHEN f < 0 THEN 0 ELSE f // 1000 END AS pt
  FROM (
    SELECT doc_id, 206835
           - (1015 * GREATEST(1, len(string_split(text, ' '))))
             // GREATEST(1, len(text) - len(regexp_replace(text, '[.!?]', '', 'g')))
           - (84600 * GREATEST(1, len(string_split_regex(lower(text), '[aeiou]+')) - 1))
             // GREATEST(1, len(string_split(text, ' '))) AS f
    FROM {table})
),
zm_hash AS (
  SELECT ('0x' || substr(md5('zm|' || doc_id), 1, 8))::BIGINT % {k} AS f,
         MIN(pt) AS lo, MAX(pt) AS hi
  FROM scored GROUP BY 1
),
splan AS ({sql_export_plan(table, k)}),
zm_sorted AS (SELECT shard_idx AS f, lo_pt AS lo, hi_pt AS hi FROM splan),
probes AS ({probes}),
h AS (
  SELECT probe_id, probe_lo, probe_hi,
         CAST(COALESCE(SUM(CASE WHEN z.lo <= probe_hi AND z.hi >= probe_lo
                            THEN 1 ELSE 0 END), 0) AS BIGINT) AS files_hash
  FROM probes, zm_hash z GROUP BY 1, 2, 3
),
s AS (
  SELECT probe_id, probe_lo, probe_hi,
         CAST(COALESCE(SUM(CASE WHEN z.lo <= probe_hi AND z.hi >= probe_lo
                            THEN 1 ELSE 0 END), 0) AS BIGINT) AS files_sorted
  FROM probes, zm_sorted z GROUP BY 1, 2, 3
)
SELECT probe_id, probe_lo, probe_hi, files_hash, files_sorted,
       CAST(CASE WHEN files_hash = 0 THEN 1000
            ELSE (1000 * files_sorted) // files_hash END AS BIGINT)
         AS touch_ratio_pm
FROM h JOIN s USING (probe_id, probe_lo, probe_hi)
ORDER BY probe_id
"""
