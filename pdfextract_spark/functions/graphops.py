"""Link-graph operators: host-level PageRank for crawl prioritization.

Web-scale training-data pipelines rank hosts/domains by link authority to
prioritize crawl frontiers and to weight quality sampling (Common Crawl
publishes exactly this kind of host-level harmonic-centrality/PageRank
ranking). The graph here is synthesized deterministically from the
documents table — every doc lives on a host (md5 bucket of doc_id) and
emits OUT_LINKS outbound host links (md5 of doc_id|k) — so the DuckDB
oracle can re-derive the identical edge set.

All arithmetic is integer fixed-point (micro-rank units with integer
division) so Spark and DuckDB produce bit-identical scores — no float
drift across engines, the same trick as text_perplexity.

100 TB shape: the edge census is ONE distinct shuffle over the corpus
(map-side combine collapses duplicate host->host pairs before the
exchange); each PageRank iteration is the classic distributed shape — a
join of ranks onto edges keyed on src followed by a groupBy(dst) sum, both
shuffles keyed on host ids whose cardinality is the HOST universe (tiny
relative to docs; at production scale ~10^8 hosts, still far below 10^12
docs). K is a fixed constant, so the whole query is one static K-stage
plan with no driver-side collects or loops over data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

HOSTS = 32           # synthetic host universe (md5 buckets)
OUT_LINKS = 3        # outbound links per document
PR_ITERS = 5         # fixed, unrolled iteration count
PR_SCALE = 1_000_000  # fixed-point rank unit (micro-ranks)
# integer damping: contribution = (85 * (rank div outdeg)) div 100,
# teleport base = (15 * PR_SCALE) div 100
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100
PR_BASE = (100 - PR_DAMP_NUM) * PR_SCALE // PR_DAMP_DEN


def _host_of(col) -> F.Column:
    return F.concat(
        F.lit("h"),
        (F.conv(F.substring(F.md5(F.concat(F.lit("hs|"), col)), 1, 4), 16, 10)
         .cast("long") % HOSTS).cast("string"),
    )


def host_edges(documents: DataFrame) -> DataFrame:
    """Deterministic host->host link census from the documents table:
    src = host(doc), dst_k = md5('lk|doc|k') bucket for k < OUT_LINKS,
    self-loops dropped, duplicates collapsed (ONE distinct shuffle)."""
    doc = F.col("doc_id").cast("string")
    links = F.transform(
        F.sequence(F.lit(0), F.lit(OUT_LINKS - 1)),
        lambda k: _link_dst(doc, k),
    )
    edges = documents.select(
        _host_of(doc).alias("src"), F.explode(links).alias("dst")
    ).where(F.col("src") != F.col("dst"))
    return edges.distinct()


def host_rank(documents: DataFrame) -> DataFrame:
    """(host, out_links, in_links, score) — integer fixed-point PageRank
    over the synthesized host link graph, PR_ITERS unrolled iterations.

    r_0(v) = PR_SCALE; r_{t+1}(v) = PR_BASE + sum over in-edges (u,v) of
    (85 * (r_t(u) div outdeg(u))) div 100. Hosts = union of edge endpoints.
    Dangling mass (hosts with no out-edges) is dropped, as in the classic
    formulation without dangling redistribution — documented, mirrored in
    the oracle.
    """
    edges = host_edges(documents)
    hosts = edges.select(F.col("src").alias("host")).union(
        edges.select(F.col("dst").alias("host"))
    ).distinct()
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    indeg = edges.groupBy("dst").agg(F.count(F.lit(1)).alias("indeg"))

    ranks = hosts.select("host", F.lit(PR_SCALE).cast("long").alias("score"))
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(ranks, edges.src == ranks.host)
            .join(outdeg, "src")
            .select(
                F.col("dst"),
                F.expr(
                    f"({PR_DAMP_NUM} * (score div outdeg)) div {PR_DAMP_DEN}"
                ).alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("in_mass"))
        )
        ranks = hosts.join(
            contrib, hosts.host == contrib.dst, "left"
        ).select(
            "host",
            (F.lit(PR_BASE) + F.coalesce(F.col("in_mass"), F.lit(0)))
            .cast("long")
            .alias("score"),
        )

    out = (
        hosts.join(outdeg, hosts.host == outdeg.src, "left")
        .join(indeg, hosts.host == indeg.dst, "left")
        .select(
            "host",
            F.coalesce(F.col("outdeg"), F.lit(0)).cast("long").alias("out_links"),
            F.coalesce(F.col("indeg"), F.lit(0)).cast("long").alias("in_links"),
        )
        .join(ranks, "host")
    )
    return out.orderBy("host")


def sql_host_rank(table: str = "documents") -> str:
    """DuckDB mirror: identical edge synthesis and PR_ITERS unrolled
    integer-PageRank CTEs."""
    host_src = f"'h' || CAST((('0x' || substr(md5('hs|' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % {HOSTS}) AS VARCHAR)"
    host_dst = f"'h' || CAST((('0x' || substr(md5('lk|' || CAST(doc_id AS VARCHAR) || '|' || CAST(k AS VARCHAR)), 1, 4))::BIGINT % {HOSTS}) AS VARCHAR)"
    iters = []
    for t in range(PR_ITERS):
        iters.append(f"""
r{t + 1} AS (
  SELECT h.host,
         CAST({PR_BASE} + COALESCE(SUM(
           ({PR_DAMP_NUM} * (r.score // d.outdeg)) // {PR_DAMP_DEN}
         ), 0) AS BIGINT) AS score
  FROM hosts h
  LEFT JOIN (edges e JOIN r{t} r ON e.src = r.host
             JOIN outdeg d ON e.src = d.src)
    ON e.dst = h.host
  GROUP BY h.host
)""")
    return f"""
WITH edges AS (
  SELECT DISTINCT {host_src} AS src, {host_dst} AS dst
  FROM {table}, unnest(range(0, {OUT_LINKS})) AS u(k)
  WHERE {host_src} <> {host_dst}
),
hosts AS (
  SELECT src AS host FROM edges UNION SELECT dst FROM edges
),
outdeg AS (
  SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src
),
indeg AS (
  SELECT dst, COUNT(*) AS indeg FROM edges GROUP BY dst
),
r0 AS (
  SELECT host, CAST({PR_SCALE} AS BIGINT) AS score FROM hosts
),{",".join(iters)}
SELECT h.host,
       CAST(COALESCE(o.outdeg, 0) AS BIGINT) AS out_links,
       CAST(COALESCE(i.indeg, 0) AS BIGINT) AS in_links,
       r.score
FROM hosts h
LEFT JOIN outdeg o ON h.host = o.src
LEFT JOIN indeg i ON h.host = i.dst
JOIN r{PR_ITERS} r ON h.host = r.host
ORDER BY h.host
"""


# ------------------------------------------------- rank-weighted sampling
# The reason a crawl pipeline ranks hosts: downstream sampling weights.
# Every document keeps with probability proportional to its host's
# PageRank share (Common Crawl-style authority-weighted subsetting), via
# the repo's standard deterministic md5 coin — reproducible, nested
# subsets under threshold changes, no rand().

RANK_COIN_MOD = 1000  # per-mille coin resolution


def rank_weighted_sample(documents: DataFrame) -> DataFrame:
    """(doc_id, host, keep_permille, sampled) — deterministic sampling
    weighted by the document host's PageRank: keep_permille =
    (1000 * score) div max_score, coin = md5('rs|'doc_id) per-mille.

    100 TB shape: host_rank's output is host-cardinality (tiny vs docs);
    joining it onto the corpus is ONE shuffle join keyed on host (no
    broadcast hint — host universes grow; AQE broadcasts when it fits).
    The max-score normalizer is a 1-row aggregate cross-joined in. The
    coin is pure Column algebra — no rand(), rerun-stable."""
    doc = F.col("doc_id").cast("string")
    docs = documents.select(doc.alias("doc_id"), _host_of(doc).alias("host"))
    ranks = host_rank(documents).select("host", "score")
    max_score = ranks.agg(F.max("score").alias("max_score"))
    coin = (
        F.conv(F.substring(F.md5(F.concat(F.lit("rs|"), F.col("doc_id"))), 1, 4), 16, 10)
        .cast("long")
        % RANK_COIN_MOD
    )
    out = (
        docs.join(ranks, "host", "left")
        .crossJoin(max_score)
        .select(
            "doc_id",
            "host",
            F.expr(f"({RANK_COIN_MOD} * coalesce(score, 0)) div max_score")
            .cast("int")
            .alias("keep_permille"),
        )
    )
    return out.select("*", (coin < F.col("keep_permille")).alias("sampled"))


def sql_rank_weighted_sample(table: str = "documents") -> str:
    """DuckDB mirror: the host_rank mirror joined back onto the corpus with
    the same integer per-mille threshold and md5 coin."""
    host_src = f"'h' || CAST((('0x' || substr(md5('hs|' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % {HOSTS}) AS VARCHAR)"
    return f"""
WITH ranks AS ({sql_host_rank(table)}),
mx AS (SELECT MAX(score) AS max_score FROM ranks),
docs AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, {host_src} AS host FROM {table}
)
SELECT d.doc_id, d.host,
       CAST(({RANK_COIN_MOD} * COALESCE(r.score, 0)) // mx.max_score AS INT)
         AS keep_permille,
       ((('0x' || substr(md5('rs|' || d.doc_id), 1, 4))::BIGINT % {RANK_COIN_MOD})
        < ({RANK_COIN_MOD} * COALESCE(r.score, 0)) // mx.max_score) AS sampled
FROM docs d LEFT JOIN ranks r ON d.host = r.host, mx
"""


# ------------------------------------------------------------------- HITS
# Hubs & authorities (Kleinberg 1999) beside PageRank: crawl pipelines use
# the authority side to find content-bearing hosts and the hub side to find
# link-farm/index hosts worth demoting. Same synthesized host edge census,
# same integer fixed-point discipline (normalize by the per-round max via
# integer division) so Spark and DuckDB agree bit-exactly.

HITS_ITERS = 3       # fixed, unrolled mutual-reinforcement rounds
HITS_SCALE = 1_000_000  # fixed-point score unit (max score per round)


def hits_scores(edges: DataFrame) -> DataFrame:
    """(host, hub, auth) — integer fixed-point HITS over an (src, dst)
    edge relation, HITS_ITERS unrolled rounds.

    h_0(v) = HITS_SCALE; a_{t+1}(v) = sum of h_t(u) over in-edges, then
    rescaled to max HITS_SCALE via integer division; h_{t+1}(u) = sum of
    a_{t+1}(v) over out-edges, rescaled the same way. Max-normalization
    (instead of the textbook L2 norm) keeps every value integral —
    rankings are identical, and the per-round normalizer is a 1-row
    aggregate cross-joined in (host-space-sized input, trivial).

    100 TB shape: like host_rank, each round is one join of scores onto
    edges plus one groupBy on host ids (the HOST universe, ~10^8 at
    production scale, far below 10^12 docs). Unlike host_rank, the
    normalizer makes each round's score relation SELF-referential
    (score crossJoin max(score)), which duplicates the upstream subtree
    per reference — naively the unrolled plan grows exponentially in
    HITS_ITERS (measured: a 472-join optimized plan at K=3). So each
    round's raw score relation is localCheckpoint-ed — it is
    host-cardinality, trivially materializable — and every round plans
    from a leaf: the same signatures-compute-once lesson as the minhash
    localCheckpoint (PLANS.md)."""
    hosts = (
        edges.select(F.col("src").alias("host"))
        .union(edges.select(F.col("dst").alias("host")))
        .distinct()
    )
    hubs = hosts.select("host", F.lit(HITS_SCALE).cast("long").alias("h"))
    auth = None
    for _ in range(HITS_ITERS):
        araw = (
            edges.join(hubs, edges.src == hubs.host)
            .groupBy("dst")
            .agg(F.sum("h").alias("ar"))
        )
        # host-cardinality materialization barrier: the normalizer below
        # references this relation twice (value + 1-row max)
        auth_raw = (
            hosts.join(araw, hosts.host == araw.dst, "left")
            .select(
                "host",
                F.coalesce(F.col("ar"), F.lit(0)).cast("long").alias("ar"),
            )
            .localCheckpoint()
        )
        amax = auth_raw.agg(F.greatest(F.max("ar"), F.lit(1)).alias("am"))
        auth = auth_raw.crossJoin(amax).select(
            "host",
            F.expr(f"({HITS_SCALE} * ar) div am").cast("long").alias("a"),
        )
        hraw = (
            edges.join(auth, edges.dst == auth.host)
            .groupBy("src")
            .agg(F.sum("a").alias("hr"))
        )
        hub_raw = (
            hosts.join(hraw, hosts.host == hraw.src, "left")
            .select(
                "host",
                F.coalesce(F.col("hr"), F.lit(0)).cast("long").alias("hr"),
            )
            .localCheckpoint()
        )
        hmax = hub_raw.agg(F.greatest(F.max("hr"), F.lit(1)).alias("hm"))
        hubs = hub_raw.crossJoin(hmax).select(
            "host",
            F.expr(f"({HITS_SCALE} * hr) div hm").cast("long").alias("h"),
        )
    return (
        hosts.join(hubs, "host")
        .join(auth, "host")
        .select("host", F.col("h").alias("hub"), F.col("a").alias("auth"))
        .orderBy("host")
    )


def host_hits(documents: DataFrame) -> DataFrame:
    """HITS over the synthesized host link census (same edge set as
    host_rank, so the two rankings are directly comparable)."""
    return hits_scores(host_edges(documents))


def sql_host_hits(table: str = "documents") -> str:
    """DuckDB mirror: identical edge synthesis and HITS_ITERS unrolled
    integer hub/authority CTEs with max-normalization per round. Each round
    reads the previous one twice (value + max), so the CTEs are MATERIALIZED:
    inlined, the query re-derives every earlier round 2^t times (104 s at
    sf0.001 on a 4-core host)."""
    host_src = f"'h' || CAST((('0x' || substr(md5('hs|' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % {HOSTS}) AS VARCHAR)"
    host_dst = f"'h' || CAST((('0x' || substr(md5('lk|' || CAST(doc_id AS VARCHAR) || '|' || CAST(k AS VARCHAR)), 1, 4))::BIGINT % {HOSTS}) AS VARCHAR)"
    iters = []
    for t in range(1, HITS_ITERS + 1):
        iters.append(f"""
a{t}raw AS MATERIALIZED (
  SELECT h.host, CAST(COALESCE(SUM(x.h), 0) AS BIGINT) AS ar
  FROM hosts h
  LEFT JOIN (edges e JOIN h{t - 1} x ON e.src = x.host) ON e.dst = h.host
  GROUP BY h.host
),
a{t} AS MATERIALIZED (
  SELECT host,
         CAST(({HITS_SCALE} * ar)
              // GREATEST((SELECT MAX(ar) FROM a{t}raw), 1) AS BIGINT) AS a
  FROM a{t}raw
),
h{t}raw AS MATERIALIZED (
  SELECT h.host, CAST(COALESCE(SUM(x.a), 0) AS BIGINT) AS hr
  FROM hosts h
  LEFT JOIN (edges e JOIN a{t} x ON e.dst = x.host) ON e.src = h.host
  GROUP BY h.host
),
h{t} AS MATERIALIZED (
  SELECT host,
         CAST(({HITS_SCALE} * hr)
              // GREATEST((SELECT MAX(hr) FROM h{t}raw), 1) AS BIGINT) AS h
  FROM h{t}raw
)""")
    return f"""
WITH edges AS MATERIALIZED (
  SELECT DISTINCT {host_src} AS src, {host_dst} AS dst
  FROM {table}, unnest(range(0, {OUT_LINKS})) AS u(k)
  WHERE {host_src} <> {host_dst}
),
hosts AS MATERIALIZED (
  SELECT src AS host FROM edges UNION SELECT dst FROM edges
),
h0 AS (
  SELECT host, CAST({HITS_SCALE} AS BIGINT) AS h FROM hosts
),{",".join(iters)}
SELECT hs.host, hb.h AS hub, au.a AS auth
FROM hosts hs
JOIN h{HITS_ITERS} hb ON hs.host = hb.host
JOIN a{HITS_ITERS} au ON hs.host = au.host
ORDER BY hs.host
"""


# -------------------------------------------------------------- TrustRank
# TrustRank (Gyongyi et al. 2004): PageRank with the teleport vector
# restricted to a TRUSTED seed set — trust flows out of hand-verified
# hosts along links, and hosts unreachable from any seed get zero trust.
# The curation use is the inverse of the badness blocklist: a score to
# UPWEIGHT crawl and sampling toward provenance-verified regions of the
# web graph (the spam-demotion complement of host_rank's raw authority).
# Same integer fixed-point discipline and unrolled join+agg shape as
# host_rank; the only structural delta is the teleport term (seed-only
# base mass instead of a uniform base).

TRUST_SEED_MOD = 8  # ~1/8 of hosts are md5-chosen trusted seeds


def _is_seed(host_col) -> F.Column:
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit("ts|"), host_col)), 1, 4), 16, 10)
        .cast("long")
        % TRUST_SEED_MOD
        == 0
    )


def trust_rank(documents: DataFrame) -> DataFrame:
    """(host, is_seed, trust) — integer fixed-point TrustRank over the
    synthesized host census: r_0 = PR_SCALE on seeds else 0;
    r_{t+1}(v) = seed_base(v) + sum over in-edges of
    (85 * (r_t(u) div outdeg(u))) div 100, where seed_base = PR_BASE on
    seeds and 0 elsewhere. PR_ITERS unrolled rounds, no normalizer (no
    self-reference, so no checkpoint needed — the plan is a linear chain
    exactly like host_rank's)."""
    edges = host_edges(documents)
    hosts = (
        edges.select(F.col("src").alias("host"))
        .union(edges.select(F.col("dst").alias("host")))
        .distinct()
    )
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    seed_base = F.when(_is_seed(F.col("host")), F.lit(PR_BASE)).otherwise(F.lit(0))
    seed_full = F.when(_is_seed(F.col("host")), F.lit(PR_SCALE)).otherwise(F.lit(0))

    ranks = hosts.select("host", seed_full.cast("long").alias("score"))
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(ranks, edges.src == ranks.host)
            .join(outdeg, "src")
            .select(
                F.col("dst"),
                F.expr(
                    f"({PR_DAMP_NUM} * (score div outdeg)) div {PR_DAMP_DEN}"
                ).alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("in_mass"))
        )
        ranks = hosts.join(contrib, hosts.host == contrib.dst, "left").select(
            "host",
            (seed_base.cast("long") + F.coalesce(F.col("in_mass"), F.lit(0)))
            .cast("long")
            .alias("score"),
        )
    return (
        hosts.select("host", _is_seed(F.col("host")).alias("is_seed"))
        .join(ranks, "host")
        .select("host", "is_seed", F.col("score").alias("trust"))
        .orderBy("host")
    )


def sql_trust_rank(table: str = "documents") -> str:
    """DuckDB mirror: identical edge synthesis, seed coin, and unrolled
    seeded-teleport iterations."""
    host_src = f"'h' || CAST((('0x' || substr(md5('hs|' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % {HOSTS}) AS VARCHAR)"
    host_dst = f"'h' || CAST((('0x' || substr(md5('lk|' || CAST(doc_id AS VARCHAR) || '|' || CAST(k AS VARCHAR)), 1, 4))::BIGINT % {HOSTS}) AS VARCHAR)"
    seed = (
        f"((('0x' || substr(md5('ts|' || host), 1, 4))::BIGINT % {TRUST_SEED_MOD}) = 0)"
    )
    iters = []
    for t in range(PR_ITERS):
        iters.append(f"""
r{t + 1} AS (
  SELECT h.host,
         CAST((CASE WHEN {seed.replace('host', 'h.host')} THEN {PR_BASE} ELSE 0 END)
              + COALESCE(SUM(
                  ({PR_DAMP_NUM} * (r.score // d.outdeg)) // {PR_DAMP_DEN}
                ), 0) AS BIGINT) AS score
  FROM hosts h
  LEFT JOIN (edges e JOIN r{t} r ON e.src = r.host
             JOIN outdeg d ON e.src = d.src)
    ON e.dst = h.host
  GROUP BY h.host
)""")
    return f"""
WITH edges AS (
  SELECT DISTINCT {host_src} AS src, {host_dst} AS dst
  FROM {table}, unnest(range(0, {OUT_LINKS})) AS u(k)
  WHERE {host_src} <> {host_dst}
),
hosts AS (
  SELECT src AS host FROM edges UNION SELECT dst FROM edges
),
outdeg AS (
  SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src
),
r0 AS (
  SELECT host,
         CAST(CASE WHEN {seed} THEN {PR_SCALE} ELSE 0 END AS BIGINT) AS score
  FROM hosts
),{",".join(iters)}
SELECT h.host, {seed.replace('host', 'h.host')} AS is_seed,
       r.score AS trust
FROM hosts h
JOIN r{PR_ITERS} r ON h.host = r.host
ORDER BY h.host
"""


# ------------------------------------------------------------- anchor text
# Per-target anchor-text aggregation: the terms other pages use when
# linking to a host, the classic off-page relevance/quality signal (the
# ORCAS/MS-MARCO anchor corpora are exactly this relation, and web search
# stacks have ranked on aggregated anchor text since AltaVista). Each
# document's k-th outbound link (the SAME md5 kernel as host_edges, so the
# two relations describe one graph) carries a deterministic anchor window
# of the source text — tokens [ANCHOR_WIN*k, ANCHOR_WIN*(k+1)) — and the
# operator censuses anchor terms per TARGET host, keeping the top
# ANCHOR_TOPK by count (ties lexicographic).
#
# 100 TB shape: anchor extraction is a map-side explode bounded by
# OUT_LINKS*ANCHOR_WIN rows per document; the census is ONE
# groupBy(dst, term) with map-side combine; the top-K trim is a
# row_number window PARTITIONED BY dst (host-keyed — never one task) that
# Spark 3.5+ executes with a map-side WindowGroupLimit, so no reducer
# sees a host's full term census. Output is host-space * K sized.

ANCHOR_WIN = 3    # tokens per link anchor
ANCHOR_TOPK = 5   # kept anchor terms per target host


def _link_dst(doc, k) -> F.Column:
    """dst host of doc's k-th link — host_edges' kernel, factored so the
    anchor relation and the edge census cannot drift."""
    return F.concat(
        F.lit("h"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("lk|"), doc, F.lit("|"), k.cast("string"))),
                    1, 4,
                ),
                16, 10,
            ).cast("long") % HOSTS
        ).cast("string"),
    )


def anchor_text(documents: DataFrame) -> DataFrame:
    """(host, anchor_term, n, rank, host_anchors) — the top-ANCHOR_TOPK
    anchor terms pointing at each host, with the term's count, its rank
    (count desc, term asc), and the host's total anchor-term volume."""
    from pyspark.sql import Window

    doc = F.col("doc_id").cast("string")
    toks = F.split(F.lower("text"), " ")
    pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.lit(OUT_LINKS - 1)),
            lambda k: F.transform(
                F.slice(toks, k * ANCHOR_WIN + 1, ANCHOR_WIN),
                lambda t: F.struct(_link_dst(doc, k).alias("host"), t.alias("term")),
            ),
        )
    )
    exploded = (
        documents.select(F.explode(pairs).alias("p"))
        .select("p.host", "p.term")
        .filter(F.col("term") != "")
    )
    census = exploded.groupBy("host", "term").agg(
        F.count(F.lit(1)).alias("n")
    )
    # host-keyed window (bounded partition = one host's term census after
    # the map-side combine); WindowGroupLimit trims to K before the sort
    w = Window.partitionBy("host").orderBy(F.desc("n"), F.asc("term"))
    totals = census.groupBy("host").agg(F.sum("n").alias("host_anchors"))
    return (
        census.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= ANCHOR_TOPK)
        .join(totals, "host")
        .select(
            "host",
            F.col("term").alias("anchor_term"),
            "n",
            F.col("rank").cast("long").alias("rank"),
            "host_anchors",
        )
    )


def sql_anchor_text(table: str = "documents") -> str:
    dst = (
        "('h' || CAST((('0x' || substr(md5('lk|' || CAST(doc_id AS VARCHAR) "
        f"|| '|' || CAST(k AS VARCHAR)), 1, 4))::BIGINT % {HOSTS}) AS VARCHAR))"
    )
    return f"""
WITH exploded AS (
  SELECT {dst} AS host, unnest(
           list_filter(
             list_slice(string_split(lower(text), ' '),
                        k * {ANCHOR_WIN} + 1, (k + 1) * {ANCHOR_WIN}),
             t -> t <> '')
         ) AS term
  FROM {table}, (SELECT unnest(range(0, {OUT_LINKS})) AS k) links
),
census AS (
  SELECT host, term, COUNT(*) AS n FROM exploded GROUP BY host, term
),
ranked AS (
  SELECT host, term, n,
         ROW_NUMBER() OVER (PARTITION BY host
                            ORDER BY n DESC, term ASC) AS rank,
         SUM(n) OVER (PARTITION BY host) AS host_anchors
  FROM census
)
SELECT host, term AS anchor_term, n, CAST(rank AS BIGINT) AS rank,
       CAST(host_anchors AS BIGINT) AS host_anchors
FROM ranked WHERE rank <= {ANCHOR_TOPK}
"""


# --------------------------------------------------------- link reciprocity
# Link-exchange detection: organic web linking is largely asymmetric,
# while link farms and paid link rings reciprocate — a host whose
# out-links are mostly answered by back-links is a classic spam signal
# (the complement of TrustRank's seed-flow view; used alongside
# authority scores to demote manipulated hosts before crawl weighting).
#
# 100 TB shape: everything runs on the DISTINCT host->host edge relation
# (host-space-sized, already collapsed by host_edges' one census shuffle):
# one self-join against the reversed edges marks reciprocated pairs, two
# host-keyed censuses produce degrees. No doc-sized surface.


def link_reciprocity(documents: DataFrame) -> DataFrame:
    """(host, out_deg, in_deg, reciprocated, recip_milli) — per host: the
    distinct out/in degree, how many of its out-links are answered by a
    back-link, and that fraction in milli."""
    edges = host_edges(documents)
    # the edge relation feeds the reverse join and both degree censuses
    edges = edges.localCheckpoint(eager=False)
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = edges.join(rev, ["src", "dst"]).groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("reciprocated")
    )
    out_deg = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("out_deg")
    )
    in_deg = edges.groupBy(F.col("dst").alias("src")).agg(
        F.count(F.lit(1)).cast("long").alias("in_deg")
    )
    return (
        out_deg.join(in_deg, "src", "full")
        .join(recip, "src", "left")
        .select(
            F.col("src").alias("host"),
            F.coalesce("out_deg", F.lit(0)).cast("long").alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).cast("long").alias("in_deg"),
            F.coalesce("reciprocated", F.lit(0)).cast("long").alias(
                "reciprocated"
            ),
        )
        .withColumn(
            "recip_milli",
            F.expr(
                "CASE WHEN out_deg > 0 THEN (1000 * reciprocated) div out_deg "
                "ELSE 0 END"
            ).cast("long"),
        )
    )


def sql_link_reciprocity(table: str = "documents") -> str:
    dst = (
        "('h' || CAST((('0x' || substr(md5('lk|' || CAST(doc_id AS VARCHAR) "
        f"|| '|' || CAST(k AS VARCHAR)), 1, 4))::BIGINT % {HOSTS}) AS VARCHAR))"
    )
    src = (
        "('h' || CAST((('0x' || substr(md5('hs|' || CAST(doc_id AS VARCHAR)), "
        f"1, 4))::BIGINT % {HOSTS}) AS VARCHAR))"
    )
    return f"""
WITH edges AS (
  SELECT DISTINCT {src} AS src, {dst} AS dst
  FROM {table}, (SELECT unnest(range(0, {OUT_LINKS})) AS k) links
  WHERE {src} <> {dst}
),
recip AS (
  SELECT e.src, CAST(COUNT(*) AS BIGINT) AS reciprocated
  FROM edges e JOIN edges r ON r.src = e.dst AND r.dst = e.src
  GROUP BY e.src
),
outd AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS out_deg FROM edges GROUP BY src),
ind AS (SELECT dst AS src, CAST(COUNT(*) AS BIGINT) AS in_deg FROM edges GROUP BY dst)
SELECT COALESCE(o.src, i.src) AS host,
       COALESCE(o.out_deg, 0)::BIGINT AS out_deg,
       COALESCE(i.in_deg, 0)::BIGINT AS in_deg,
       COALESCE(r.reciprocated, 0)::BIGINT AS reciprocated,
       CAST(CASE WHEN COALESCE(o.out_deg, 0) > 0
                 THEN (1000 * COALESCE(r.reciprocated, 0)) // o.out_deg
                 ELSE 0 END AS BIGINT) AS recip_milli
FROM outd o
FULL OUTER JOIN ind i ON i.src = o.src
LEFT JOIN recip r ON r.src = COALESCE(o.src, i.src)
"""


# ------------------------------------------------------- mirror host pairs
# Mirror-site detection: two hosts serving (near-)identical content sets —
# CDN twins, www/no-www splits, scraper mirrors — waste crawl budget and
# double-count every page-level signal, so crawl pipelines dedup at HOST
# granularity before doc-level near-dup ever runs. Similarity here is
# Jaccard over each host's set of exact content fingerprints (md5(text)):
# content-set resemblance, not link structure.
#
# Scale shape: ONE distinct (host, fingerprint) census; the candidate
# generator is the inverted fingerprint index (fingerprint -> hosts) with
# a df-cut — a fingerprint on more than MIRROR_DF_CAP hosts is boilerplate
# (an empty page, a parked-domain template) and would explode pairs
# quadratically, so it is anti-joined out (hint-free) and REPORTED via the
# companion overflow relation, the dedup-module cap contract. Pairs
# assemble JVM-side inside <= C(DF_CAP, 2) buckets per fingerprint and
# dedup on one pair-keyed shuffle. Host content sets are host-space-sized;
# nothing doc-sized survives the first census.

MIRROR_DF_CAP = 8      # fingerprint on more hosts than this = boilerplate
MIRROR_MIN_MILLI = 500  # report pairs with content Jaccard >= 0.5


def with_hosts(documents: DataFrame) -> DataFrame:
    """(host, text) — the deterministic md5 host synthesis every graph
    operator uses, factored for mirror_hosts' composable input contract."""
    doc = F.col("doc_id").cast("string")
    return documents.select(_host_of(doc).alias("host"), "text")


def synthesize_mirror_hosts(documents: DataFrame) -> DataFrame:
    """with_hosts(documents) plus two planted mirrors: 'm3' carries every
    doc of host 'h3' verbatim (a full mirror, jaccard 1000) and 'p7'
    carries an md5-selected half of 'h7' (a partial mirror whose jaccard
    lands near 500/ (1000+500-500) ~ 333-666 depending on the coin) —
    rebuilt identically by the DuckDB oracle."""
    base = with_hosts(documents)
    coin = (
        F.conv(F.substring(F.md5(F.concat(F.lit("mh|"), F.col("text"))), 1, 4), 16, 10)
        .cast("long") % 2 == 0
    )
    full = base.filter(F.col("host") == "h3").select(
        F.lit("m3").alias("host"), "text"
    )
    part = base.filter((F.col("host") == "h7") & coin).select(
        F.lit("p7").alias("host"), "text"
    )
    return base.unionByName(full).unionByName(part)


def mirror_hosts(
    hosted: DataFrame,
    df_cap: int = MIRROR_DF_CAP,
    min_milli: int = MIRROR_MIN_MILLI,
) -> DataFrame:
    """(host_a, host_b, shared, n_a, n_b, jaccard_milli) over a (host,
    text) relation: host pairs whose content-fingerprint Jaccard clears
    min_milli, host_a < host_b."""
    sets = hosted.select(
        "host", F.md5(F.col("text")).alias("h")
    ).distinct()
    sets = sets.localCheckpoint(eager=False)  # feeds sizes + index
    sizes = sets.groupBy("host").agg(F.count(F.lit(1)).cast("long").alias("n"))
    hot = (
        sets.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > df_cap)
        .select("h")
    )
    inv = sets.join(hot, "h", "left_anti")
    per_h = (
        inv.groupBy("h")
        .agg(F.array_sort(F.collect_list("host")).alias("hs"))
        .filter(F.size("hs") >= 2)
    )
    hs = F.col("hs")
    pairs_col = F.flatten(
        F.transform(
            hs,
            lambda a, i: F.transform(
                F.slice(hs, i + 2, F.size(hs)),
                lambda b: F.struct(a.alias("host_a"), b.alias("host_b")),
            ),
        )
    )
    shared = (
        per_h.select(F.explode(pairs_col).alias("p"))
        .groupBy(
            F.col("p.host_a").alias("host_a"),
            F.col("p.host_b").alias("host_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
    )
    sa = sizes.select(F.col("host").alias("host_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("host").alias("host_b"), F.col("n").alias("n_b"))
    jac = F.expr("(1000 * shared) div (n_a + n_b - shared)")
    return (
        shared.join(sa, "host_a")
        .join(sb, "host_b")
        .select(
            "host_a",
            "host_b",
            "shared",
            "n_a",
            "n_b",
            jac.cast("long").alias("jaccard_milli"),
        )
        .filter(F.col("jaccard_milli") >= min_milli)
    )


def sql_mirror_hosts(
    table: str = "documents",
    df_cap: int = MIRROR_DF_CAP,
    min_milli: int = MIRROR_MIN_MILLI,
    synthesize: bool = True,
) -> str:
    """DuckDB mirror: identical host synthesis + planted mirrors, distinct
    fingerprint census, df-cut, pair join, Jaccard gate."""
    host = (
        "'h' || CAST(('0x' || substr(md5('hs|' || CAST(doc_id AS VARCHAR)), 1, 4))"
        f"::BIGINT % {HOSTS} AS VARCHAR)"
    )
    coin = "(('0x' || substr(md5('mh|' || text), 1, 4))::BIGINT % 2) = 0"
    hosted = f"""
  SELECT {host} AS host, text FROM {table}
  UNION ALL
  SELECT 'm3', text FROM {table} WHERE {host} = 'h3'
  UNION ALL
  SELECT 'p7', text FROM {table} WHERE {host} = 'h7' AND {coin}
"""
    if not synthesize:
        hosted = f"SELECT host, text FROM {table}"
    return f"""
WITH hosted AS ({hosted}),
sets AS (SELECT DISTINCT host, md5(text) AS h FROM hosted),
sizes AS (SELECT host, COUNT(*)::BIGINT AS n FROM sets GROUP BY host),
keep AS (SELECT h FROM sets GROUP BY h HAVING COUNT(*) <= {df_cap}),
inv AS (SELECT sets.* FROM sets JOIN keep USING (h)),
shared AS (
  SELECT a.host AS host_a, b.host AS host_b, COUNT(*)::BIGINT AS shared
  FROM inv a JOIN inv b ON a.h = b.h AND a.host < b.host
  GROUP BY 1, 2
)
SELECT s.host_a, s.host_b, s.shared, sa.n AS n_a, sb.n AS n_b,
       ((1000 * s.shared) // (sa.n + sb.n - s.shared))::BIGINT
         AS jaccard_milli
FROM shared s
JOIN sizes sa ON s.host_a = sa.host
JOIN sizes sb ON s.host_b = sb.host
WHERE ((1000 * s.shared) // (sa.n + sb.n - s.shared)) >= {min_milli}
"""


# ------------------------------------------------- per-host duplicate share
def host_dup_rates(hosted: DataFrame) -> DataFrame:
    """(host, n_docs, n_dup_docs, n_unique_fp, dup_pm) over a (host, text)
    relation — the recrawl-prioritization census: hosts whose pages are
    mostly corpus-wide duplicates (mirrors, scrapers, parked templates)
    are the first to deprioritize in the fetch schedule and the first to
    route through host-level dedup (mirror_hosts) before doc-level
    near-dup spends anything on them.

    n_dup_docs counts pages whose exact fingerprint appears anywhere else
    in the corpus (cross-host OR within-host). 100 TB shape: the same
    census + join-back skeleton as paragraph dedup — ONE fingerprint
    census groupBy with map-side partials (a corpus-hot fingerprint
    contributes one partial row per input partition), a join back keyed on
    the fixed-width fingerprint (AQE skew-join territory, no hints), then
    ONE host-keyed census. Nothing doc-sized survives the final agg."""
    rows = hosted.select("host", F.md5("text").alias("h"))
    census = rows.groupBy("h").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    j = rows.join(census, "h")
    return (
        j.groupBy("host")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((F.col("df") > 1).cast("long")).alias("n_dup_docs"),
            F.countDistinct("h").cast("long").alias("n_unique_fp"),
        )
        .select(
            "host",
            "n_docs",
            "n_dup_docs",
            "n_unique_fp",
            F.expr("(1000 * n_dup_docs) div n_docs")
            .cast("long")
            .alias("dup_pm"),
        )
        .orderBy("host")
    )


def sql_host_dup_rates(table: str = "documents", synthesize: bool = True) -> str:
    """DuckDB mirror of host_dup_rates over the mirror-host synthesis."""
    host = (
        "'h' || CAST(('0x' || substr(md5('hs|' || CAST(doc_id AS VARCHAR)), 1, 4))"
        f"::BIGINT % {HOSTS} AS VARCHAR)"
    )
    coin = "(('0x' || substr(md5('mh|' || text), 1, 4))::BIGINT % 2) = 0"
    hosted = f"""
  SELECT {host} AS host, text FROM {table}
  UNION ALL
  SELECT 'm3', text FROM {table} WHERE {host} = 'h3'
  UNION ALL
  SELECT 'p7', text FROM {table} WHERE {host} = 'h7' AND {coin}
"""
    if not synthesize:
        hosted = f"SELECT host, text FROM {table}"
    return f"""
WITH hosted AS ({hosted}),
rows_fp AS (SELECT host, md5(text) AS h FROM hosted),
census AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS df FROM rows_fp GROUP BY h),
j AS (SELECT r.host, r.h, c.df FROM rows_fp r JOIN census c USING (h))
SELECT host,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) FILTER (WHERE df > 1) AS BIGINT) AS n_dup_docs,
       CAST(COUNT(DISTINCT h) AS BIGINT) AS n_unique_fp,
       CAST((1000 * COUNT(*) FILTER (WHERE df > 1)) // COUNT(*) AS BIGINT)
         AS dup_pm
FROM j GROUP BY host
ORDER BY host
"""


# --------------------------------------------------- content site components
def site_components(documents: DataFrame) -> DataFrame:
    """(host, site, site_size) — hosts grouped into SITES by connected
    components over the mirror-host pair graph (content-fingerprint
    Jaccard >= 0.5): the host-level dedup unit. Per-site quotas
    (corpus_domain_cap keyed on `site` instead of the raw host) stop a
    mirrored site from spending N hosts' worth of budget; hosts outside
    any mirror pair are their own singleton site.

    100 TB shape: the pair graph is host-space-sized (mirror_hosts'
    census + capped buckets), the CC fixpoint runs on that small relation,
    and the singleton fill is one left join from the distinct host census.
    Nothing doc-sized past the first fingerprint census."""
    from .dedup import connected_components

    hosted = synthesize_mirror_hosts(documents)
    hosted = hosted.localCheckpoint(eager=False)  # pairs + host census
    pairs = mirror_hosts(hosted).select(
        F.col("host_a").alias("doc_a"), F.col("host_b").alias("doc_b")
    )
    cc = connected_components(pairs).select(
        F.col("doc_id").alias("host"), F.col("rep").alias("site0")
    )
    hosts = hosted.select("host").distinct()
    labeled = hosts.join(cc, "host", "left").select(
        "host", F.coalesce("site0", "host").alias("site")
    )
    sizes = labeled.groupBy("site").agg(
        F.count(F.lit(1)).cast("long").alias("site_size")
    )
    return labeled.join(sizes, "site").select(
        "host", "site", "site_size"
    ).orderBy("host")


def sql_site_components(table: str = "documents") -> str:
    """DuckDB mirror of site_components."""
    from .dedup import sql_connected_components

    pairs = (
        f"SELECT host_a AS doc_a, host_b AS doc_b FROM ({sql_mirror_hosts(table)})"
    )
    cc = sql_connected_components(pairs)
    host = (
        "'h' || CAST(('0x' || substr(md5('hs|' || CAST(doc_id AS VARCHAR)), 1, 4))"
        f"::BIGINT % {HOSTS} AS VARCHAR)"
    )
    coin = "(('0x' || substr(md5('mh|' || text), 1, 4))::BIGINT % 2) = 0"
    return f"""
WITH hosts AS (
  SELECT DISTINCT host FROM (
    SELECT {host} AS host FROM {table}
    UNION ALL
    SELECT 'm3' FROM {table} WHERE {host} = 'h3'
    UNION ALL
    SELECT 'p7' FROM {table} WHERE {host} = 'h7' AND {coin}
  )
),
cc AS ({cc}),
labeled AS (
  SELECT h.host, COALESCE(c.rep, h.host) AS site
  FROM hosts h LEFT JOIN cc c ON h.host = c.doc_id
),
sizes AS (
  SELECT site, CAST(COUNT(*) AS BIGINT) AS site_size
  FROM labeled GROUP BY site
)
SELECT l.host, l.site, s.site_size
FROM labeled l JOIN sizes s USING (site)
ORDER BY host
"""


# ------------------------------------------------------- link-graph health
def link_health(documents: DataFrame) -> DataFrame:
    """1-row (n_hosts, n_edges, n_sinks, n_sources, sink_pm) — the graph
    sanity census in front of every rank computation: SINKS (inlinks, no
    outlinks) are where PageRank mass leaks (the teleport term exists for
    them), SOURCES (outlinks, no inlinks) are uncrawlable-by-link hosts a
    frontier must seed explicitly. A sink_pm spike after a crawl config
    change = the fetcher stopped following some link class.

    Scale shape: host_edges' ONE distinct census, then two host-space
    semi/anti joins folded into one aggregate via full-outer degree
    union — everything host-space-sized."""
    edges = host_edges(documents)
    edges = edges.localCheckpoint(eager=False)  # out + in degree consumers
    outs = edges.select(F.col("src").alias("host")).distinct().withColumn(
        "has_out", F.lit(1)
    )
    ins = edges.select(F.col("dst").alias("host")).distinct().withColumn(
        "has_in", F.lit(1)
    )
    hosts = outs.join(ins, "host", "full_outer").select(
        F.coalesce("has_out", F.lit(0)).alias("o"),
        F.coalesce("has_in", F.lit(0)).alias("i"),
    )
    n_edges = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return (
        hosts.agg(
            F.count(F.lit(1)).cast("long").alias("n_hosts"),
            F.sum(((F.col("i") == 1) & (F.col("o") == 0)).cast("long")).alias(
                "n_sinks"
            ),
            F.sum(((F.col("o") == 1) & (F.col("i") == 0)).cast("long")).alias(
                "n_sources"
            ),
        )
        .crossJoin(n_edges)
        .select(
            "n_hosts",
            "n_edges",
            "n_sinks",
            "n_sources",
            F.expr("(1000 * n_sinks) div n_hosts").cast("long").alias(
                "sink_pm"
            ),
        )
    )


def sql_link_health(table: str = "documents") -> str:
    """DuckDB mirror of link_health (shares the host_edges synthesis)."""
    host = (
        "'h' || CAST(('0x' || substr(md5('hs|' || CAST(doc_id AS VARCHAR)), 1, 4))"
        f"::BIGINT % {HOSTS} AS VARCHAR)"
    )
    dst = (
        "'h' || CAST(('0x' || substr(md5('lk|' || CAST(doc_id AS VARCHAR) "
        f"|| '|' || k), 1, 4))::BIGINT % {HOSTS} AS VARCHAR)"
    )
    return f"""
WITH edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT {host} AS src, {dst} AS dst
    FROM {table}, (SELECT unnest(range({OUT_LINKS})) AS k)
  ) WHERE src <> dst
),
outs AS (SELECT DISTINCT src AS host FROM edges),
ins AS (SELECT DISTINCT dst AS host FROM edges),
hosts AS (
  SELECT CASE WHEN o.host IS NOT NULL THEN 1 ELSE 0 END AS o,
         CASE WHEN i.host IS NOT NULL THEN 1 ELSE 0 END AS i
  FROM outs o FULL OUTER JOIN ins i USING (host)
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_hosts,
         CAST(COUNT(*) FILTER (WHERE i = 1 AND o = 0) AS BIGINT) AS n_sinks,
         CAST(COUNT(*) FILTER (WHERE o = 1 AND i = 0) AS BIGINT) AS n_sources
  FROM hosts
),
ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM edges)
SELECT n_hosts, n_edges, n_sinks, n_sources,
       CAST((1000 * n_sinks) // n_hosts AS BIGINT) AS sink_pm
FROM agg, ne
"""
