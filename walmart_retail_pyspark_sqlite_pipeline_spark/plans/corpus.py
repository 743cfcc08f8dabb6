"""Corpus-engineering operators beyond the round-1 surface: context-window
token packing, PII scrubbing, benchmark-contamination checks, and
connected-component duplicate clustering.

Like every other query these are (DataFrame plan, DuckDB oracle) pairs over
the shared primitives in ``functions/`` so the oracle computes byte-identical
values. The reference pipeline has no equivalents (its analytics stop at the
curated star, SURVEY §2.5); these extend the training-data-prep surface the
engine is designed around.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import hashing, text
from ..session import repartition_undersplit
from ..sources import read_table
from .llm import (
    _TOK_SQL,
    JACCARD_THRESHOLD,
    MINHASH_SIG_CTE,
    QUALITY_MIN,
    VERIFIED_PAIRS_CTES,
    _token_postings,
    _doc_shingles,
    dedup_minhash_lsh_pairs,
)
from .registry import QuerySpec, register

#: context-window budget (tokens) for pack assignment.
PACK_BUDGET = 512


# ---------------------------------------------------------------------------
# corpus_pack_tokens — concat-and-chop context-window packing: stream each
# language's documents in doc_id order, accumulate token counts, and assign
# every document the window (pack) its first token lands in. This is the
# deterministic GPT-style pretraining layout (concatenate the corpus, cut at
# context boundaries) expressed as ONE running-sum window — per-lang
# partitioning keeps the prefix sum distributed (one shuffle on lang; no
# global single-partition ordering).
# ---------------------------------------------------------------------------
def corpus_pack_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "lang", F.size(text.tokens(F.col("text"))).alias("n_tokens")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = t.withColumn("cum", F.sum("n_tokens").over(w))
    start = F.col("cum") - F.col("n_tokens")  # first-token global offset
    pack = F.expr(f"(cum - n_tokens) div {PACK_BUDGET}")
    return t.select(
        "doc_id",
        "lang",
        "n_tokens",
        pack.alias("pack_id"),
        (start - pack * PACK_BUDGET).alias("pack_offset"),
    ).sortWithinPartitions("lang", "doc_id")


PACK_TOKENS_SQL = f"""
WITH tk AS (
  SELECT doc_id, lang, CAST(len({_TOK_SQL}) AS INTEGER) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, lang, n_tokens,
    CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM tk
)
SELECT doc_id, lang, n_tokens,
  (cum - n_tokens) // {PACK_BUDGET} AS pack_id,
  cum - n_tokens - ((cum - n_tokens) // {PACK_BUDGET}) * {PACK_BUDGET} AS pack_offset
FROM c
ORDER BY lang, doc_id
"""


# ---------------------------------------------------------------------------
# text_pii_scrub — PII redaction as pure Column expressions: count and
# replace emails, IPv4 addresses, and US-style phone numbers. The regex
# dialect subset is chosen to behave identically under Java regex (Spark)
# and RE2 (DuckDB) — no backrefs, no lookaround, no \b. At 100 TB this is a
# projection: JVM-side, no shuffle, whole-stage codegen.
# (The synthetic corpus contains no PII — the oracle proves no-op parity on
# clean text; tests/test_corpus_ops.py proves actual redaction on planted
# PII rows.)
# ---------------------------------------------------------------------------
PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_IPV4_RE = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
PII_PHONE_RE = "[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"


def scrub_pii(col: Column) -> Column:
    """Redact emails → ``<EMAIL>``, IPv4 → ``<IP>``, phones → ``<PHONE>``
    (applied in that order)."""
    out = F.regexp_replace(col, PII_EMAIL_RE, "<EMAIL>")
    out = F.regexp_replace(out, PII_IPV4_RE, "<IP>")
    return F.regexp_replace(out, PII_PHONE_RE, "<PHONE>")


def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(PII_EMAIL_RE)).alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(PII_IPV4_RE)).alias("n_ipv4"),
        F.regexp_count(F.col("text"), F.lit(PII_PHONE_RE)).alias("n_phones"),
        F.md5(scrub_pii(F.col("text"))).alias("scrubbed_md5"),
    ).sortWithinPartitions("doc_id")


PII_SCRUB_SQL = f"""
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '{PII_EMAIL_RE}')) AS INTEGER) AS n_emails,
  CAST(len(regexp_extract_all(text, '{PII_IPV4_RE}')) AS INTEGER) AS n_ipv4,
  CAST(len(regexp_extract_all(text, '{PII_PHONE_RE}')) AS INTEGER) AS n_phones,
  md5(regexp_replace(regexp_replace(regexp_replace(text,
      '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
      '{PII_IPV4_RE}', '<IP>', 'g'),
      '{PII_PHONE_RE}', '<PHONE>', 'g')) AS scrubbed_md5
FROM documents
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# corpus_contamination — benchmark-overlap check: flag training documents
# sharing any 3-word shingle with a held-out eval set (doc_id % 20 == 0
# stands in for the benchmark). The eval side is collapsed to a DISTINCT
# shingle set before the join, so the join fanout per training shingle is
# exactly 1 — at 100 TB the (small) eval shingle set broadcasts and the
# whole check is one broadcast semi-ish join over the shared cached shingle
# table, no skew surface at all.
# ---------------------------------------------------------------------------
EVAL_MOD = 20


def corpus_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _doc_shingles(read_table(spark, sf_dir, "documents"))
    eval_sh = (
        sh.filter(F.col("doc_id") % EVAL_MOD == 0).select("t").distinct()
    )
    train = sh.filter(F.col("doc_id") % EVAL_MOD != 0)
    sizes = train.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    hits = (
        train.join(eval_sh, "t")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        hits.join(sizes, "doc_id")
        .select(
            "doc_id",
            "n_shared",
            "n_shingles",
            F.round(
                F.col("n_shared").cast("double") / F.col("n_shingles"), 6
            ).alias("contamination"),
        )
        .orderBy("doc_id")
    )


CONTAMINATION_SQL = f"""
WITH tk AS (
  SELECT doc_id, {_TOK_SQL} AS tok FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, unnest({text.word_shingles_sql("tok", 3)}) AS t FROM tk
),
eval_sh AS (SELECT DISTINCT t FROM sh WHERE doc_id % {EVAL_MOD} = 0),
train AS (SELECT doc_id, t FROM sh WHERE doc_id % {EVAL_MOD} <> 0),
sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM train GROUP BY doc_id),
hits AS (
  SELECT doc_id, COUNT(*) AS n_shared
  FROM train JOIN eval_sh USING (t)
  GROUP BY doc_id
)
SELECT hits.doc_id, n_shared, n_shingles,
  ROUND(CAST(n_shared AS DOUBLE) / n_shingles, 6) AS contamination
FROM hits JOIN sizes ON hits.doc_id = sizes.doc_id
ORDER BY hits.doc_id
"""


# ---------------------------------------------------------------------------
# dedup_cc_clusters — near-duplicate CLUSTERS (not just pairs): connected
# components over the minhash-LSH pair graph via iterative min-label
# propagation — the standard Pregel-style loop (each round every node takes
# the min label among itself and its neighbors; rounds needed = graph
# diameter). Per round: one join + one groupBy shuffle; `localCheckpoint`
# cuts the growing lineage. The driver-side loop is inherent to iterative
# graph algorithms (this is exactly how GraphX/GraphFrames CC works); the
# per-round `.count()` is the convergence test on a node-sized (not
# edge-sized) table. Oracle: DuckDB recursive CTE computing min reachable
# node.
# ---------------------------------------------------------------------------
CC_MAX_ITERS = 15


def _lsh_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized verified LSH pair graph, checkpointed once so every graph
    consumer (CC, PageRank, canonical selection) shares one materialization."""
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    return (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .localCheckpoint()
    )


def _cc_labels(edges: DataFrame) -> DataFrame:
    # Round 15 (guide §5): convergence detection carries the previous
    # label through the checkpointed frame — the old form re-JOINED old
    # vs new labels (a node-sized shuffle join + count job per round);
    # the new form is a filter-count over rows the checkpoint already
    # materialized. Labels identical: same propagation rule, same
    # early-exit. (Pre-partitioning the edges by dst before the
    # checkpoint was tried and reverted: `Scan ExistingRDD` drops output
    # partitioning, so EnsureRequirements re-inserts the join exchanges
    # anyway and the extra pass is pure cost — plan-verified.)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(CC_MAX_ITERS):
        nbr_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(nbr_min, labels.node == nbr_min.src, "left")
            .select(
                F.col("node"),
                F.col("label").alias("_prev"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        changed = new_labels.filter(F.col("_prev") != F.col("label")).count()
        labels = new_labels.select("node", "label")
        if changed == 0:
            break
    return labels


def dedup_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = _cc_labels(_lsh_edges(spark, sf_dir))
    sizes = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return (
        labels.join(sizes, "label")
        .select(
            F.col("node").alias("doc_id"),
            F.col("label").alias("cluster_id"),
            "cluster_size",
        )
        .orderBy("doc_id")
    )


#: The verified near-dup pairs symmetrized into directed ``edges`` (the SQL
#: twin of :func:`_lsh_edges`), shared by the graph oracles; prepend
#: ``WITH RECURSIVE {MINHASH_SIG_CTE},``.
_GRAPH_EDGES_CTES = f"""{VERIFIED_PAIRS_CTES},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
)"""

#: ``lab``: each doc's connected-component label, the minimum doc_id its
#: recursive reachability walk over ``edges`` finds (the SQL twin of
#: :func:`_cc_labels`).
_CC_LABEL_CTES = """reach(src, node) AS (
  SELECT src, src FROM (SELECT DISTINCT src FROM edges)
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.node = e.src
),
lab AS (SELECT src AS doc_id, MIN(node) AS cluster_id FROM reach GROUP BY src)"""

CC_CLUSTERS_SQL = f"""
WITH RECURSIVE {MINHASH_SIG_CTE},
{_GRAPH_EDGES_CTES},
{_CC_LABEL_CTES},
sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY cluster_id)
SELECT lab.doc_id, lab.cluster_id, sz.cluster_size
FROM lab JOIN sz USING (cluster_id)
ORDER BY lab.doc_id
"""


for _spec in [
    QuerySpec("corpus_pack_tokens", corpus_pack_tokens, PACK_TOKENS_SQL,
              ("PACK1", "W2")),
    QuerySpec("text_pii_scrub", text_pii_scrub, PII_SCRUB_SQL, ("TX7",)),
    QuerySpec("corpus_contamination", corpus_contamination, CONTAMINATION_SQL,
              ("DD8",)),
]:
    register(_spec)

# iterative graph algorithm, oracle = DuckDB recursive-CTE twin
register(
    QuerySpec("dedup_cc_clusters", dedup_cc_clusters, CC_CLUSTERS_SQL, ("DD9",))
)


# ---------------------------------------------------------------------------
# text_repetition — Gopher-style repetition quality signals: per document,
# the fraction of tokens that are repeats (1 - distinct/total) and the same
# for word 2-grams. Pure per-row Column arithmetic (no shuffle, no UDF);
# the classic pretraining filter for looping/boilerplate text. ANSI-safe:
# divisions are guarded behind when(), which short-circuits per row.
# ---------------------------------------------------------------------------
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", text.tokens(F.col("text")).alias("tok"))
    g = t.select(
        "doc_id", "tok", text.word_shingles(F.col("tok"), 2).alias("g2")
    )

    def dup_frac(col: str) -> Column:
        return F.when(
            F.size(col) > 0,
            F.round(
                F.lit(1.0)
                - F.size(F.array_distinct(col)).cast("double") / F.size(col),
                6,
            ),
        )

    return g.select(
        "doc_id",
        F.size("tok").alias("n_tokens"),
        dup_frac("tok").alias("dup_token_frac"),
        dup_frac("g2").alias("dup_2gram_frac"),
    ).sortWithinPartitions("doc_id")


TEXT_REPETITION_SQL = f"""
WITH tk AS (
  SELECT doc_id, {_TOK_SQL} AS tok FROM documents
),
g AS (
  SELECT doc_id, tok, {text.word_shingles_sql('tok', 2)} AS g2 FROM tk
)
SELECT doc_id,
  len(tok) AS n_tokens,
  CASE WHEN len(tok) > 0 THEN
    ROUND(1.0 - CAST(len(list_distinct(tok)) AS DOUBLE) / len(tok), 6)
  END AS dup_token_frac,
  CASE WHEN len(g2) > 0 THEN
    ROUND(1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2), 6)
  END AS dup_2gram_frac
FROM g
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# corpus_source_mix — per-source language composition: doc counts and each
# language's share of its source. groupBy + one windowed total; the
# source-level counts a corpus curator balances against. share is a single
# int/int division so the value is bit-deterministic in both engines.
# ---------------------------------------------------------------------------
def corpus_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source", "lang").agg(F.count("*").alias("n_docs"))
    w = Window.partitionBy("source")
    return (
        counts.withColumn(
            "share",
            F.round(
                F.col("n_docs").cast("double") / F.sum("n_docs").over(w), 6
            ),
        )
        .orderBy("source", "lang")
    )


CORPUS_SOURCE_MIX_SQL = """
WITH c AS (
  SELECT source, lang, COUNT(*) AS n_docs FROM documents GROUP BY 1, 2
)
SELECT source, lang, n_docs,
  ROUND(CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER (PARTITION BY source), 6)
    AS share
FROM c
ORDER BY source, lang
"""


for _spec in [
    QuerySpec("text_repetition", text_repetition, TEXT_REPETITION_SQL,
              ("TX8",)),
    QuerySpec("corpus_source_mix", corpus_source_mix, CORPUS_SOURCE_MIX_SQL,
              ("CP1",)),
]:
    register(_spec)


# ---------------------------------------------------------------------------
# text_tfidf_topterms — per-document top-3 distinguishing terms, ranked by
# (tf DESC, df ASC, term): the classic tf-idf ordering with the idf made
# MONOTONE-EQUIVALENT instead of numeric — for a fixed tf, idf = ln(N/df)
# orders exactly as df ascending. Engine-portable by construction: the
# exported columns are integer counts and a rank, never a float logarithm
# (libm ln can differ in the last ulp across engines and flip a rounded
# hash). Plan: tf groupBy → df groupBy → term join → per-doc top-k window.
# ---------------------------------------------------------------------------
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    # term stream off the shared cached token index; document frequency as
    # a WINDOW count over the tf table instead of a groupBy+join branch
    # that re-planned the scan (round-11 scan census: 2 documents scans)
    terms = (
        _token_postings(spark, sf_dir)
        .filter(F.col("term").isNotNull())
        .select("doc_id", "term")
    )
    tf = (
        terms.groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .withColumn("df", F.count("*").over(Window.partitionBy("term")))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("term")
    )
    return (
        tf.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "df", "rnk")
        .sortWithinPartitions("doc_id", "rnk")
    )


TFIDF_SQL = f"""
WITH tk AS (
  SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tk GROUP BY doc_id, term
),
df AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
),
ranked AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
    row_number() OVER (PARTITION BY tf.doc_id
                       ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS rnk
  FROM tf JOIN df USING (term)
)
SELECT doc_id, term, tf, df, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= 3
ORDER BY doc_id, rnk
"""


register(
    QuerySpec("text_tfidf_topterms", text_tfidf_topterms, TFIDF_SQL, ("TX9",))
)


# ---------------------------------------------------------------------------
# corpus_chunk_dedup — chunk-granular exact dedup: built-in chunking
# (operators/chunking.py, the 100 TB chunker) feeding the same hash-groupBy
# histogram shape as dedup_exact_hist. Chunk-level dedup is what catches
# boilerplate shared across otherwise-distinct documents (headers, license
# blocks) that document-level hashing misses entirely. Plan: embarrassingly
# parallel expand (no shuffle) → hash → two grouped aggregations; nothing
# is quadratic and nothing collects.
# ---------------------------------------------------------------------------
CHUNK_DEDUP_WIDTH = 32


def corpus_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import chunk_text_batched

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = chunk_text_batched(docs, CHUNK_DEDUP_WIDTH)
    return (
        chunks.select(F.md5(F.col("chunk")).alias("h"))
        .groupBy("h")
        .agg(F.count("*").alias("n_copies"))
        .groupBy("n_copies")
        .agg(F.count("*").alias("n_groups"))
        .orderBy("n_copies")
    )


CHUNK_DEDUP_SQL = f"""
WITH n AS (
  SELECT doc_id, text, length(text) AS n FROM documents WHERE text IS NOT NULL
),
ch AS (
  SELECT substr(text, CAST(i AS BIGINT) * {CHUNK_DEDUP_WIDTH} + 1,
                {CHUNK_DEDUP_WIDTH}) AS chunk
  FROM (
    SELECT doc_id, text,
           unnest(range(0, (n + {CHUNK_DEDUP_WIDTH} - 1)
                           // {CHUNK_DEDUP_WIDTH})) AS i
    FROM n
  )
)
SELECT n_copies, COUNT(*) AS n_groups FROM (
  SELECT md5(chunk) AS h, COUNT(*) AS n_copies FROM ch GROUP BY h
) GROUP BY n_copies ORDER BY n_copies
"""


register(
    QuerySpec(
        "corpus_chunk_dedup",
        corpus_chunk_dedup,
        CHUNK_DEDUP_SQL,
        ("DD10",),
        doc="chunk-granular exact dedup over the built-in chunker",
    )
)


# ---------------------------------------------------------------------------
# corpus_pagerank — PageRank over the near-duplicate similarity graph
# (minhash-LSH verified pairs, symmetrized): rank_{t+1}(v) = 0.15/N +
# 0.85 * Σ_{u→v} rank_t(u)/deg(u), 3 fixed iterations from a uniform
# start. Ranks surface the "most-connected" documents inside near-dup
# neighborhoods — the doc a canonical-selection step should keep.
#
# The Pregel-style plan: per iteration ONE edges⨝ranks join + one groupBy
# on dst — both keyed shuffles over an edge-sized table; the rank table
# stays node-sized. At 100 TB, pre-partition edges by src and ranks by
# node and every iteration is co-located (no data growth across rounds —
# localCheckpoint cuts the lineage like the CC loop above).
#
# Cross-engine determinism: per-edge contributions rank/deg are
# bit-identical doubles (identical operands, one IEEE division); each
# per-node Σ rounds contributions to 1e-12 and sums exact BIGINTs so the
# total is summation-order-independent; teleport/damping constants are
# written as the same double literals on both sides. Fixed iteration
# count (no convergence test) keeps the unrolled SQL twin exact.
# ---------------------------------------------------------------------------
PR_ITERS = 3
PR_SCALE = 1_000_000_000_000


def _pagerank_ranks(edges: DataFrame) -> DataFrame:
    nodes = edges.groupBy("src").agg(F.count("*").alias("deg")).select(
        F.col("src").alias("node"), "deg"
    ).localCheckpoint()
    n = nodes.count()  # node-count driver scalar, same bound as the CC loop
    rank = nodes.withColumn("rank", F.lit(1.0) / F.lit(float(n)))
    for _ in range(PR_ITERS):
        contrib = edges.join(rank, edges.src == rank.node).select(
            F.col("dst"), (F.col("rank") / F.col("deg")).alias("c")
        )
        sums = contrib.groupBy("dst").agg(
            (
                F.sum(F.round(F.col("c") * PR_SCALE, 0).cast("long"))
                / F.lit(float(PR_SCALE))
            ).alias("s")
        )
        rank = (
            nodes.join(sums, nodes.node == sums.dst, "left")
            .select(
                "node",
                "deg",
                (
                    F.lit(0.15) / F.lit(float(n))
                    + F.lit(0.85) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    return rank


def corpus_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    rank = _pagerank_ranks(_lsh_edges(spark, sf_dir))
    return rank.select(
        F.col("node").alias("doc_id"), F.round("rank", 9).alias("pagerank")
    ).orderBy("doc_id")


def _pr_iter_sql(prev: str, name: str) -> str:
    return f"""{name} AS (
  SELECT d.node, d.deg,
    CAST(0.15 AS DOUBLE) / n.nn
      + CAST(0.85 AS DOUBLE) * COALESCE(s.s, CAST(0.0 AS DOUBLE)) AS rank
  FROM deg d CROSS JOIN n
  LEFT JOIN (
    SELECT e.dst AS node,
      SUM(CAST(ROUND(r.rank / r.deg * {PR_SCALE}, 0) AS BIGINT))
        / CAST({PR_SCALE} AS DOUBLE) AS s
    FROM edges e JOIN {prev} r ON e.src = r.node GROUP BY e.dst
  ) s USING (node)
)"""


#: Three PageRank steps over ``edges`` ending in ``it3(node, deg, rank)``
#: (the SQL twin of :func:`_pagerank_ranks`).
_PAGERANK_CTES = f"""deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src),
n AS (SELECT COUNT(*) AS nn FROM deg),
r0 AS (
  SELECT node, deg, CAST(1.0 AS DOUBLE) / n.nn AS rank FROM deg CROSS JOIN n
),
{_pr_iter_sql("r0", "it1")},
{_pr_iter_sql("it1", "it2")},
{_pr_iter_sql("it2", "it3")}"""

PAGERANK_SQL = f"""
WITH {MINHASH_SIG_CTE},
{_GRAPH_EDGES_CTES},
{_PAGERANK_CTES}
SELECT node AS doc_id, ROUND(rank, 9) AS pagerank FROM it3 ORDER BY doc_id
"""


register(
    QuerySpec(
        "corpus_pagerank",
        corpus_pagerank,
        PAGERANK_SQL,
        ("DD9", "IT2"),
        doc="PageRank over the LSH near-dup graph (canonical-doc selection signal)",
    )
)


# ---------------------------------------------------------------------------
# corpus_canonical_docs — the production OUTPUT of the near-dup pipeline:
# for every near-duplicate cluster (connected component of the verified
# LSH graph), keep exactly one canonical document — the member with the
# highest PageRank (most-connected inside its neighborhood), doc_id as
# tiebreak. This is the "which copy do we train on" decision composed
# from the two graph operators above, sharing ONE materialized edge set:
# build edges once, run the CC label loop and the rank loop over it, join
# node-sized outputs. At 100 TB the join is between two node-sized tables
# co-partitioned by doc_id — trivial next to the edge-building stage.
# ---------------------------------------------------------------------------
def corpus_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _lsh_edges(spark, sf_dir)
    labels = _cc_labels(edges).select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    ranks = _pagerank_ranks(edges).select(
        F.col("node").alias("doc_id"), "rank"
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("rank"), "doc_id")
    sizes = labels.groupBy("cluster_id").agg(
        F.count("*").cast("bigint").alias("cluster_size")
    )
    return (
        labels.join(ranks, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .join(sizes, "cluster_id")
        .select(
            "cluster_id",
            "cluster_size",
            F.col("doc_id").alias("canonical_doc"),
            F.round("rank", 9).alias("pagerank"),
        )
        .orderBy("cluster_id")
    )


CANONICAL_DOCS_SQL = f"""
WITH RECURSIVE {MINHASH_SIG_CTE},
{_GRAPH_EDGES_CTES},
{_CC_LABEL_CTES},
{_PAGERANK_CTES},
csz AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM lab GROUP BY cluster_id
),
ranked AS (
  SELECT lab.cluster_id, lab.doc_id, it3.rank,
    ROW_NUMBER() OVER (
      PARTITION BY lab.cluster_id ORDER BY it3.rank DESC, lab.doc_id
    ) AS rn
  FROM lab JOIN it3 ON lab.doc_id = it3.node
)
SELECT ranked.cluster_id, csz.cluster_size,
  ranked.doc_id AS canonical_doc, ROUND(ranked.rank, 9) AS pagerank
FROM ranked JOIN csz USING (cluster_id)
WHERE rn = 1
ORDER BY cluster_id
"""


register(
    QuerySpec(
        "corpus_canonical_docs",
        corpus_canonical_docs,
        CANONICAL_DOCS_SQL,
        ("DD9", "IT2", "DD11"),
        doc="one canonical doc per near-dup cluster: CC labels + PageRank argmax",
    )
)


# ---------------------------------------------------------------------------
# dedup_substring_ngrams — exact-substring duplication signal (the
# 13-token-gram rule from Lee et al., "Deduplicating Training Data Makes
# Language Models Better"): a doc is substring-contaminated when any of
# its 13-token windows also appears in another document. Per doc: distinct
# 13-gram count, how many of those grams are shared with at least one
# other doc, and the shared fraction — the score a prep pipeline
# thresholds to route docs into "drop" / "trim the shared span" handling.
#
# Plan shape (the 100 TB one): shingle expand (no shuffle) → hash to a
# narrow BIGINT → distinct (doc_id, h) → gram-keyed groupBy marks grams
# with ≥2 docs → semi-join back. No all-pairs term anywhere: cost is
# Σ grams + the postings of duplicated grams, exactly how the
# suffix-array pipeline's candidate stage behaves at corpus scale.
#
# Gram hashing is INCREMENTAL (round 15, guide §1.2 per-task work): the
# old form materialized every 13-token gram STRING (~90 chars) and ran
# the char-level poly_hash over it — 13× the char work of hashing each
# token once, and the round-15 profile measured that hashing at 2.3 s of
# the query's 3.1 s. The 31-polynomial mod P composes over
# concatenation — H(a||b) = (H(a)·31^len(b) + H(b)) mod P — so one char
# pass per TOKEN yields (h_j, p_j = 31^len_j mod P), and each gram's
# hash is a 12-step integer fold over the window's tokens:
#   H(gram) = fold_{j=i+1..i+12} h ← (h·(31·p_j) + (32·p_j + h_j)) mod P
# starting from h_i (32 = ascii(' '), the shingle joiner; tokens are
# [a-z0-9]+, single-byte, so ascii == the char fold poly_hash runs).
# Every product stays < 2^62 (h,p < P < 2^31). Hash VALUES are
# bit-identical to poly_hash over the concatenated string — the DuckDB
# twin still spells it that way — and the per-doc array_distinct over
# hash values replaces both the string-level array_distinct and the
# corpus-wide post-shuffle .distinct() (a within-doc hash collision and
# a collided gram pair dedup to the same (doc_id, h) set either way).
# ---------------------------------------------------------------------------
SUBSTR_N = 13


def _token_hash_pows(tok: Column) -> Column:
    """array<struct<h,p>> per token: h = poly_hash(token), p = 31^len mod P
    — both from ONE char fold per token."""
    P = hashing.MERSENNE_P
    return F.transform(
        tok,
        lambda t: F.aggregate(
            F.split(t, ""),
            F.struct(
                F.lit(0).cast("long").alias("h"), F.lit(1).cast("long").alias("p")
            ),
            lambda acc, c: F.struct(
                ((acc["h"] * 31 + F.ascii(c)) % P).alias("h"),
                ((acc["p"] * 31) % P).alias("p"),
            ),
        ),
    )


def _gram_hashes(thp: Column, n_tok: Column, n: int) -> Column:
    """array<long> of n-token-gram poly hashes off the materialized
    (h, p) token array — the incremental composition above."""
    P = hashing.MERSENNE_P
    return F.when(
        n_tok >= n,
        F.transform(
            F.sequence(F.lit(1), n_tok - (n - 1)),
            lambda i: F.aggregate(
                F.sequence(i + 1, i + F.lit(n - 1)),
                F.element_at(thp, i)["h"],
                lambda acc, j: (
                    acc * ((F.element_at(thp, j)["p"] * 31) % P)
                    + (F.element_at(thp, j)["p"] * 32 + F.element_at(thp, j)["h"])
                    % P
                )
                % P,
            ),
        ),
    ).otherwise(F.array().cast("array<long>"))


def dedup_substring_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    # Guide §2.5 "input skew — repartition immediately after an
    # under-split read" (the _doc_shingles guard, cached-decision form):
    # with the old corpus-wide distinct exchange gone, everything up to
    # the h repartition — tokenize, the per-token char folds, the gram
    # folds — inherits the SCAN's split, and a local single-row-group
    # parquet file serializes it all onto one task. Data-adaptive: never
    # fires on a well-split 100 TB scan; what it shuffles is the raw
    # doc rows (1× corpus bytes), before any expansion.
    docs = repartition_undersplit(docs)
    # materialized tok / thp / n columns — never the expressions (capture
    # pathology; see text_lm_score): the gram fold references thp 24×
    # per gram, so an unmaterialized thp would re-run the per-token char
    # fold inside every lambda step
    tk = docs.select("doc_id", text.tokens(F.col("text")).alias("tok"))
    hp = tk.select(
        "doc_id",
        F.size("tok").alias("n_tok"),
        _token_hash_pows(F.col("tok")).alias("thp"),
    )
    # ONE gram stream: the cross-doc share of each gram hash is a WINDOW
    # count over an explicit h repartition (the dedup_ngram_jaccard
    # idiom), and the per-doc rollup is a single aggregate with an
    # indicator sum — the old shared/per_doc/semi-join branches each
    # re-planned the scan+shingle pipeline (round-11 scan census: 3
    # documents scans here). Per-doc array_distinct makes (doc_id, h)
    # unique BEFORE the exchange, so no post-shuffle distinct is needed
    # (the r14 _doc_shingles pattern).
    grams = (
        hp.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    _gram_hashes(F.col("thp"), F.col("n_tok"), SUBSTR_N)
                )
            ).alias("h"),
        )
        .repartition(F.col("h"))
        .withColumn("n_docs", F.count("*").over(Window.partitionBy("h")))
    )
    return (
        grams.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double") / F.col("n_grams"), 6
            ).alias("shared_frac"),
            (F.col("n_shared") > 0).alias("has_dup_substring"),
        )
        .sortWithinPartitions("doc_id")
    )


SUBSTRING_NGRAMS_SQL = f"""
WITH tk AS (
  SELECT doc_id, {_TOK_SQL} AS tok FROM documents
),
uni AS (
  SELECT DISTINCT doc_id, unnest({text.word_shingles_sql("tok", SUBSTR_N)}) AS g
  FROM tk
),
hh AS (
  SELECT DISTINCT doc_id, {hashing.poly_hash_sql('g')} AS h FROM uni
),
shared AS (SELECT h FROM hh GROUP BY h HAVING COUNT(*) >= 2),
per_doc AS (SELECT doc_id, COUNT(*) AS n_grams FROM hh GROUP BY doc_id),
spd AS (
  SELECT doc_id, COUNT(*) AS n_shared
  FROM hh JOIN shared USING (h) GROUP BY doc_id
)
SELECT p.doc_id,
  CAST(p.n_grams AS BIGINT) AS n_grams,
  CAST(COALESCE(s.n_shared, 0) AS BIGINT) AS n_shared,
  CAST(ROUND(CAST(COALESCE(s.n_shared, 0) AS DOUBLE) / p.n_grams, 6)
       AS DOUBLE) AS shared_frac,
  COALESCE(s.n_shared, 0) > 0 AS has_dup_substring
FROM per_doc p LEFT JOIN spd s USING (doc_id)
ORDER BY p.doc_id
"""


register(
    QuerySpec(
        "dedup_substring_ngrams",
        dedup_substring_ngrams,
        SUBSTRING_NGRAMS_SQL,
        ("DD15",),
        doc="exact 13-token-gram substring duplication signal (Lee et al.)",
    )
)


# ---------------------------------------------------------------------------
# corpus_token_rebalance — domain/source rebalancing to a TOKEN budget:
# give every source an equal share of the total token budget and
# down-sample over-represented sources with a deterministic content-hash
# coin (accept_prob = min(1, fair_share / source_tokens); doc kept iff
# u < accept_prob). This is the "training mix" primitive — budgets are in
# TOKENS (what the model actually consumes), not doc counts, and the coin
# is content-keyed so the mix is reproducible across runs, engines, and
# re-ingestions.
#
# Plan: one groupBy(source) for token totals, a broadcast of the
# (tiny) per-source table back onto docs, one more groupBy for the kept
# rollup. The corpus is never re-shuffled by a high-cardinality key; at
# 100 TB the only wide exchange is the source rollup (|sources| keys).
# ---------------------------------------------------------------------------
REBALANCE_M = 1 << 20


def corpus_token_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    tok = text.tokens(F.col("text"))
    d = docs.select(
        "doc_id",
        "source",
        F.size(tok).cast("long").alias("n_tokens"),
        hashing.hash_uniform(F.col("text"), REBALANCE_M).alias("u"),
    )
    # census totals as WINDOW aggregates over the BOUNDED per-source table
    # — the agg+crossJoin branch re-planned the census scan per reference
    # (round-11 scan census: 5 documents scans here). The sampling pass
    # below still re-derives (n_tokens, u) scan-locally: census→sample is
    # inherently two passes unless a doc-stats table is materialized, so
    # this query's floor is TWO text scans (whitelisted in the plan audit).
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    per_src = (
        d.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("src_tokens"),
        )
        .withColumn("total_tokens", F.sum("src_tokens").over(w_all))
        .withColumn("n_sources", F.count("*").over(w_all))
        .select(
            "source",
            "n_docs",
            "src_tokens",
            F.least(
                F.lit(1.0),
                F.col("total_tokens").cast("double")
                / F.col("n_sources")
                / F.col("src_tokens"),
            ).alias("accept_prob"),
        )
    )
    # the sampling pass consumes the WHOLE broadcast census row and emits
    # the final table itself (conditional sums instead of a keep-filter +
    # left-join back to per_src, which re-planned the census chain a
    # third time): every source with >=1 doc appears, zero-kept sources
    # sum to 0, exactly the old LEFT-join+COALESCE semantics
    keep = F.col("u") < F.col("accept_prob")
    return (
        d.join(F.broadcast(per_src), "source")
        .groupBy("source")
        .agg(
            F.first("n_docs").alias("n_docs"),
            F.first("src_tokens").alias("src_tokens"),
            F.round(F.first("accept_prob"), 6).alias("accept_prob"),
            F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_kept"),
            F.sum(F.when(keep, F.col("n_tokens")).otherwise(0))
            .cast("long")
            .alias("kept_tokens"),
        )
        .orderBy("source")
    )


TOKEN_REBALANCE_SQL = f"""
WITH d AS (
  SELECT doc_id, source,
    CAST(len({_TOK_SQL}) AS BIGINT) AS n_tokens,
    {hashing.hash_uniform_sql('text', REBALANCE_M)} AS u
  FROM documents
),
per_src AS (
  SELECT source, COUNT(*) AS n_docs, SUM(n_tokens) AS src_tokens
  FROM d GROUP BY source
),
tot AS (
  SELECT SUM(src_tokens) AS total_tokens, COUNT(*) AS n_sources FROM per_src
),
probs AS (
  SELECT source, n_docs, src_tokens,
    least(1.0, CAST(total_tokens AS DOUBLE) / n_sources / src_tokens)
      AS accept_prob
  FROM per_src CROSS JOIN tot
),
kept AS (
  SELECT d.source, COUNT(*) AS n_kept, SUM(d.n_tokens) AS kept_tokens
  FROM d JOIN probs USING (source)
  WHERE d.u < probs.accept_prob
  GROUP BY d.source
)
SELECT probs.source,
  CAST(probs.n_docs AS BIGINT) AS n_docs,
  CAST(probs.src_tokens AS BIGINT) AS src_tokens,
  CAST(ROUND(probs.accept_prob, 6) AS DOUBLE) AS accept_prob,
  CAST(COALESCE(kept.n_kept, 0) AS BIGINT) AS n_kept,
  CAST(COALESCE(kept.kept_tokens, 0) AS BIGINT) AS kept_tokens
FROM probs LEFT JOIN kept USING (source)
ORDER BY probs.source
"""


register(
    QuerySpec(
        "corpus_token_rebalance",
        corpus_token_rebalance,
        TOKEN_REBALANCE_SQL,
        ("CP2",),
        doc="token-budget source rebalancing with deterministic content coins",
    )
)


# ---------------------------------------------------------------------------
# text_lm_score — corpus-trained bigram language-model scoring (the
# CCNet-style "does this read like the corpus" quality signal): train
# add-one-smoothed bigram counts on the WHOLE corpus in-plan, then score
# every document by its average negative log-probability. Low avg_nll ≈
# fluent/common phrasing; high ≈ gibberish or boilerplate-mangled text —
# the standard perplexity filter for pretraining data, minus the exp().
#
# Plan: bigram expand → two count aggregations (bigram table, prefix
# table) → join the per-occurrence stream back to both count tables →
# per-doc aggregation. All built-in expressions; the LM "model" is a
# DataFrame, never a driver-side dict, so training scales with the
# corpus. At 100 TB the bigram join is the big shuffle — key-partitioned,
# combiner-friendly, and reusable across scoring runs if the count tables
# are persisted as bucketed parquet.
#
# Cross-engine exactness: counts and V are exact integers, so the
# smoothed probability (n2+1)/(n1+V) has identical IEEE operands; each
# occurrence's ln() is rounded at 1e-6 into a BIGINT, per-doc sums are
# exact integer arithmetic (summation-order-free), and the final mean is
# one identical double division sequence.
# ---------------------------------------------------------------------------
def _bigrams(spark: SparkSession, sf_dir: str, *carry: str) -> DataFrame:
    """The corpus bigram occurrence stream ``(doc_id, *carry, g, w1, w2)``:
    one row per adjacent token pair ``g = "w1 w2"`` of each document."""
    docs = read_table(spark, sf_dir, "documents")
    # tokens MUST be materialized as a column before word_shingles:
    # passing the tokens(text) EXPRESSION captures the whole regex
    # tokenizer inside the per-element shingle lambda (element_at(tok,..)
    # twice per shingle) — the round-9 int8_quantize pathology, re-found
    # by the round-10 lm probes (15.1 s -> sub-second at sf0.1)
    tk = docs.select("doc_id", *carry, text.tokens(F.col("text")).alias("tok"))
    words = F.split(F.col("g"), " ")
    return tk.select(
        "doc_id", *carry, F.explode(text.word_shingles(F.col("tok"), 2)).alias("g")
    ).select(
        "doc_id",
        *carry,
        "g",
        words.getItem(0).alias("w1"),
        words.getItem(1).alias("w2"),
    )


def _vocab_size(postings: DataFrame) -> DataFrame:
    """1-row ``v``: the distinct non-NULL terms of a postings frame."""
    return postings.filter(F.col("term").isNotNull()).agg(
        F.countDistinct("term").alias("v")
    )


def _ln_micro(ratio: Column) -> Column:
    """``ln(ratio)`` in BIGINT micro-nats, rounded at 1e-6 on both engines."""
    return F.round(F.log(ratio) * 1000000.0, 0).cast("long")


def _mean_micro(scored: DataFrame, *keys: str) -> DataFrame:
    """``(doc_id, *keys, n_bigrams, micro)``: each doc's count of ``qf``
    rows and their mean, rounded half away from zero to an integer.

    No float ROUND: a float round can tie-break differently across
    engines when the mean lands within an ulp of a 5e-7 boundary (observed
    on corpus_importance_weights driver data: Spark BigDecimal-of-double
    rounds the exact binary value, DuckDB multiply-shifts); the
    (2|sq|+n) div 2n identity is exact integer arithmetic."""
    micro = F.expr(
        "CASE WHEN sq < 0 THEN -1 ELSE 1 END"
        " * ((2 * abs(sq) + n_bigrams) DIV (2 * n_bigrams))"
    )
    return (
        scored.groupBy("doc_id", *keys)
        .agg(F.count("*").alias("n_bigrams"), F.sum("qf").alias("sq"))
        .select("doc_id", *keys, "n_bigrams", micro.cast("long").alias("micro"))
    )


def _mean_nll(scored: DataFrame, name: str) -> DataFrame:
    """``(doc_id, n_bigrams, name)``: the per-doc mean negative log-prob."""
    return (
        _mean_micro(scored)
        .select(
            "doc_id", "n_bigrams", (-F.col("micro") / F.lit(1000000.0)).alias(name)
        )
        .sortWithinPartitions("doc_id")
    )


def _bigram_ctes(carry: str = "") -> str:
    """The SQL twin of :func:`_bigrams` (tk → grams); ``carry`` is a column
    list with a trailing comma."""
    return f"""tk AS (
  SELECT doc_id, {carry}{_TOK_SQL} AS tok FROM documents
),
grams AS (
  SELECT doc_id, {carry}g, string_split(g, ' ')[1] AS w1, string_split(g, ' ')[2] AS w2
  FROM (
    SELECT doc_id, {carry}unnest({text.word_shingles_sql("tok", 2)}) AS g FROM tk
  )
)"""


#: The bigram and history count tables over ``grams``.
_BIGRAM_COUNT_CTES = """c2 AS (SELECT g, COUNT(*) AS n2 FROM grams GROUP BY g),
c1 AS (SELECT w1, COUNT(*) AS n1 FROM grams GROUP BY w1)"""

#: The SQL twin of :func:`_mean_micro`'s ``micro`` over ``agg(sq, n_bigrams)``.
_MEAN_MICRO_SQL = """CAST(CASE WHEN sq < 0 THEN -1 ELSE 1 END
              * ((2 * ABS(sq) + n_bigrams) // (2 * n_bigrams)) AS BIGINT)"""


def _mean_nll_sql(name: str) -> str:
    """The SQL twin of :func:`_mean_nll` over a ``scored(doc_id, qf)`` CTE."""
    return f"""agg AS (
  SELECT doc_id, COUNT(*) AS n_bigrams, SUM(qf) AS sq
  FROM scored GROUP BY doc_id
)
SELECT doc_id,
  CAST(n_bigrams AS BIGINT) AS n_bigrams,
  CAST(-{_MEAN_MICRO_SQL}
       AS DOUBLE) / CAST(1000000.0 AS DOUBLE) AS {name}
FROM agg
ORDER BY doc_id"""


def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bigram counts as WINDOW counts over ONE gram stream; vocabulary off
    # the shared cached token index — the old c2/c1/vocab branches each
    # re-planned the scan+tokenize (round-11 scan census: 4 documents
    # scans here)
    grams = (
        _bigrams(spark, sf_dir)
        .withColumn("n2", F.count("*").over(Window.partitionBy("g")))
        .withColumn("n1", F.count("*").over(Window.partitionBy("w1")))
    )
    vocab = _vocab_size(_token_postings(spark, sf_dir))
    scored = grams.crossJoin(F.broadcast(vocab)).select(
        "doc_id",
        _ln_micro((F.col("n2") + F.lit(1.0)) / (F.col("n1") + F.col("v"))).alias("qf"),
    )
    return _mean_nll(scored, "avg_nll")


LM_SCORE_SQL = f"""
WITH {_bigram_ctes()},
{_BIGRAM_COUNT_CTES},
vocab AS (
  SELECT COUNT(DISTINCT w) AS v
  FROM (SELECT unnest(tok) AS w FROM tk)
),
scored AS (
  SELECT grams.doc_id,
    CAST(ROUND(ln((c2.n2 + 1.0) / (c1.n1 + vocab.v)) * 1000000.0, 0)
         AS BIGINT) AS qf
  FROM grams
  JOIN c2 USING (g)
  JOIN c1 USING (w1)
  CROSS JOIN vocab
),
{_mean_nll_sql("avg_nll")}
"""


register(
    QuerySpec(
        "text_lm_score",
        text_lm_score,
        LM_SCORE_SQL,
        ("TX13",),
        doc="corpus-trained add-one bigram LM scoring (avg negative logprob)",
    )
)


# ---------------------------------------------------------------------------
# corpus_label_propagation — semi-supervised label spreading over the LSH
# near-dup graph: seed every doc with its lang, then for LP_ITERS rounds
# each doc takes the majority label among itself and its verified
# neighbors (ties broken by the lexicographically smallest label — fully
# deterministic, no random visit order). The classic use: near-dup
# clusters whose members disagree on a metadata field (language, source,
# license) converge to one consensus value per cluster; `changed` marks
# the docs whose seed metadata the graph overruled.
#
# Plan: the verified-pair edge list (banded LSH → Jaccard verify — never
# all-pairs) plus one self-loop per doc; each round is ONE shuffle keyed
# on the voting edge's src plus a row_number window on the same key —
# iteration count is fixed, so the whole query is a static 3-round plan
# with no driver-side convergence loop and no collect. At 100 TB each
# round touches |edges| + |docs| rows, the same bound as one PageRank
# step over the same graph.
#
# Cross-engine exactness: votes are integer counts; argmax-with-tie-break
# is ROW_NUMBER over (count DESC, label) on both engines — no floats
# anywhere.
# ---------------------------------------------------------------------------
LP_ITERS = 3

#: shared SQL prefix: the verified near-dup pair list (``_GRAPH_EDGES_CTES``
#: keeps the pair edges only) symmetrized into directed
#: edges, plus one self-loop per document so isolated docs vote for
#: themselves and the majority is over "self + neighbors".
_LP_EDGES_CTE = f"""{VERIFIED_PAIRS_CTES},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
  UNION ALL
  SELECT doc_id AS src, doc_id AS dst FROM documents
)
"""


def _lp_iter_sql(prev: str, nxt: str) -> str:
    return f"""{nxt}_votes AS (
  SELECT e.src, p.label, COUNT(*) AS cnt
  FROM edges e JOIN {prev} p ON e.dst = p.node
  GROUP BY 1, 2
),
{nxt} AS (
  SELECT src AS node, label FROM (
    SELECT src, label,
      ROW_NUMBER() OVER (PARTITION BY src ORDER BY cnt DESC, label) AS rn
    FROM {nxt}_votes
  ) WHERE rn = 1
)"""


def corpus_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .union(
            docs.select(
                F.col("doc_id").alias("src"), F.col("doc_id").alias("dst")
            )
        )
        .localCheckpoint()  # one materialization serves every round
    )
    labels = docs.select(F.col("doc_id").alias("node"), F.col("lang").alias("label"))
    w = Window.partitionBy("src").orderBy(F.desc("cnt"), "label")
    for _ in range(LP_ITERS):
        # round 15 note: collapsing the (src,label) agg exchange and the
        # src window exchange into one explicit src repartition was tried
        # and REVERTED (2.6 → 5.5 s measured): the repartition shuffles
        # the raw edge⨝label rows and defeats the map-side partial
        # aggregation that makes the (src,label) exchange vote-grain —
        # guide §2.3 "aggregate before you shuffle" outranks §2.4's
        # shared exchange when the pre-agg reduction is large
        votes = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src", "label")
            .agg(F.count("*").alias("cnt"))
        )
        labels = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("src").alias("node"), "label")
        )
    return (
        docs.join(labels, docs.doc_id == labels.node)
        .select(
            "doc_id",
            F.col("lang").alias("seed_label"),
            F.col("label").alias("final_label"),
            (F.col("lang") != F.col("label")).alias("changed"),
        )
        .sortWithinPartitions("doc_id")
    )


LABEL_PROP_SQL = f"""
WITH {MINHASH_SIG_CTE},
{_LP_EDGES_CTE.strip().rstrip()},
l0 AS (SELECT doc_id AS node, lang AS label FROM documents),
{_lp_iter_sql("l0", "l1")},
{_lp_iter_sql("l1", "l2")},
{_lp_iter_sql("l2", "l3")}
SELECT d.doc_id, d.lang AS seed_label, l3.label AS final_label,
  d.lang <> l3.label AS changed
FROM documents d JOIN l3 ON d.doc_id = l3.node
ORDER BY d.doc_id
"""


register(
    QuerySpec(
        "corpus_label_propagation",
        corpus_label_propagation,
        LABEL_PROP_SQL,
        ("IT4",),
        doc="majority label spreading over the LSH graph (3 fixed rounds)",
    )
)


# ---------------------------------------------------------------------------
# corpus_importance_weights — DSIR-style data selection signal: per doc,
# the average bigram log-likelihood RATIO between a TARGET distribution
# (here: the corpus's English documents — the "domain we want more of")
# and the BASE distribution (the whole corpus). Positive avg_loglr means
# the doc looks more like the target than like the average corpus doc —
# the importance-resampling key from Xie et al., "Data Selection for
# Language Models via Importance Resampling" (DSIR), re-expressed with
# the engine's bigram-LM machinery (add-one smoothing, shared vocab).
#
# Plan: both LMs are DataFrames (count tables keyed on the bigram) — the
# model is never a driver-side dict, so training scales with the corpus.
# Scoring joins each bigram occurrence to the base counts and LEFT-joins
# the target counts (bigrams unseen in-target smooth to 1/(0+V)). The two
# count tables reuse one explode; everything shuffles on the bigram key.
#
# Cross-engine exactness: same discipline as text_lm_score — each
# occurrence's two ln() terms are fixed-pointed at 1e-6 into BIGINTs and
# DIFFERENCED in integer space, so per-doc sums are summation-order-free
# and the final mean is one identical IEEE division sequence.
# ---------------------------------------------------------------------------
TARGET_LANG = "en"


def corpus_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    # base and target gram counts as WINDOW sums over ONE gram stream —
    # the old four groupBy+join branches each re-planned the scan+tokenize
    # (round-11 scan census: 6 documents scans); the target-language legs
    # are indicator sums inside the same two windows. Vocabulary comes off
    # the shared cached token index.
    is_tgt = F.when(F.col("lang") == TARGET_LANG, 1).otherwise(0)
    grams = (
        _bigrams(spark, sf_dir, "lang")
        .withColumn("tgt", is_tgt)
        .withColumn("b2", F.count("*").over(Window.partitionBy("g")))
        .withColumn("t2", F.sum("tgt").over(Window.partitionBy("g")))
        .withColumn("b1", F.count("*").over(Window.partitionBy("w1")))
        .withColumn("t1", F.sum("tgt").over(Window.partitionBy("w1")))
    )
    vocab = _vocab_size(_token_postings(spark, sf_dir))

    def _lp(num, den):
        return _ln_micro((num + F.lit(1.0)) / (den + F.col("v")))

    scored = grams.crossJoin(F.broadcast(vocab)).select(
        "doc_id",
        "lang",
        (
            _lp(F.col("t2"), F.col("t1"))
            - _lp(F.col("b2"), F.col("b1"))
        ).alias("qf"),
    )
    # lang rides the gram stream (constant per doc), so no docs re-join
    return (
        _mean_micro(scored, "lang")
        .select(
            "doc_id",
            "lang",
            "n_bigrams",
            (F.col("micro") / F.lit(1000000.0)).alias("avg_loglr"),
        )
        .sortWithinPartitions("doc_id")
    )


IMPORTANCE_SQL = f"""
WITH {_bigram_ctes("lang, ")},
base2 AS (SELECT g, COUNT(*) AS b2 FROM grams GROUP BY g),
base1 AS (SELECT w1, COUNT(*) AS b1 FROM grams GROUP BY w1),
tgt2 AS (
  SELECT g, COUNT(*) AS t2 FROM grams WHERE lang = '{TARGET_LANG}' GROUP BY g
),
tgt1 AS (
  SELECT w1, COUNT(*) AS t1 FROM grams WHERE lang = '{TARGET_LANG}' GROUP BY w1
),
vocab AS (
  SELECT COUNT(DISTINCT w) AS v FROM (SELECT unnest(tok) AS w FROM tk)
),
scored AS (
  SELECT grams.doc_id,
    CAST(ROUND(ln((CAST(COALESCE(t2, 0) AS DOUBLE) + CAST(1.0 AS DOUBLE))
                   / (COALESCE(t1, 0) + vocab.v))
               * 1000000.0, 0) AS BIGINT)
    - CAST(ROUND(ln((CAST(b2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
                    / (b1 + vocab.v))
                 * 1000000.0, 0) AS BIGINT)
      AS qf
  FROM grams
  JOIN base2 USING (g)
  JOIN base1 USING (w1)
  LEFT JOIN tgt2 USING (g)
  LEFT JOIN tgt1 USING (w1)
  CROSS JOIN vocab
),
agg AS (
  SELECT doc_id, COUNT(*) AS n_bigrams, SUM(qf) AS sq
  FROM scored GROUP BY doc_id
)
SELECT d.doc_id, d.lang,
  CAST(n_bigrams AS BIGINT) AS n_bigrams,
  CAST({_MEAN_MICRO_SQL}
       AS DOUBLE) / CAST(1000000.0 AS DOUBLE) AS avg_loglr
FROM documents d JOIN agg ON d.doc_id = agg.doc_id
ORDER BY d.doc_id
"""


register(
    QuerySpec(
        "corpus_importance_weights",
        corpus_importance_weights,
        IMPORTANCE_SQL,
        ("CP3",),
        doc="DSIR-style bigram log-likelihood-ratio importance weights",
    )
)


# ---------------------------------------------------------------------------
# corpus_triangles — triangle census of the verified minhash-LSH near-dup
# graph: node/edge counts, triangle count, and global transitivity
# (3·triangles / wedges). Duplicate clusters that form cliques (content
# farms re-posting one template) and chains (A≈B≈C drifting rewrites)
# look identical to CC cluster sizes but have opposite transitivity —
# this is the diagnostic that tells them apart before choosing a
# canonical-doc strategy.
#
# Plan: pairs come from the SAME banded-LSH path every other graph
# consumer uses (bounded candidate generation, never all-pairs),
# checkpointed once; the triangle join is the standard ordered-triple
# enumeration (a<b<c, each triangle counted once) — two joins keyed on
# doc ids whose input is the EDGE list (already near-dup-sparse), not
# the corpus. Wedges are Σ d·(d−1)/2 over the symmetrized degree table
# (exact integers); transitivity is one division of exact BIGINTs,
# rounded at 1e-6 identically on both engines.
# ---------------------------------------------------------------------------
def corpus_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = (
        dedup_minhash_lsh_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    edges = pairs.select(F.col("doc_a").alias("src")).union(
        pairs.select(F.col("doc_b").alias("src"))
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    shape = deg.agg(
        F.count("*").cast("bigint").alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) DIV 2")).cast("bigint").alias("wedges"),
    )
    n_edges = pairs.agg(F.count("*").cast("bigint").alias("n_edges"))
    p1, p2, p3 = pairs.alias("p1"), pairs.alias("p2"), pairs.alias("p3")
    tri = (
        p1.join(p2, F.col("p1.doc_b") == F.col("p2.doc_a"))
        .join(
            p3,
            (F.col("p3.doc_a") == F.col("p1.doc_a"))
            & (F.col("p3.doc_b") == F.col("p2.doc_b")),
        )
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
    )
    return (
        shape.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "wedges",
            "n_triangles",
            F.when(
                F.col("wedges") > 0,
                F.round(
                    (3 * F.col("n_triangles")) / F.col("wedges").cast("double"),
                    6,
                ),
            ).alias("transitivity"),
        )
    )


TRIANGLES_SQL = f"""
WITH RECURSIVE {MINHASH_SIG_CTE},
{VERIFIED_PAIRS_CTES},
deg AS (
  SELECT src, COUNT(*) AS d FROM (
    SELECT doc_a AS src FROM pairs UNION ALL SELECT doc_b AS src FROM pairs
  ) GROUP BY src
),
shape AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS wedges
  FROM deg
),
e AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM pairs),
tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM pairs p1
  JOIN pairs p2 ON p1.doc_b = p2.doc_a
  JOIN pairs p3 ON p3.doc_a = p1.doc_a AND p3.doc_b = p2.doc_b
)
SELECT n_nodes, n_edges, wedges, n_triangles,
  CASE WHEN wedges > 0
    THEN ROUND((3 * n_triangles) / CAST(wedges AS DOUBLE), 6)
  END AS transitivity
FROM shape, e, tri
"""


register(
    QuerySpec(
        "corpus_triangles",
        corpus_triangles,
        TRIANGLES_SQL,
        ("IT5",),
        doc="triangle census + transitivity of the LSH near-dup graph",
    )
)


# ---------------------------------------------------------------------------
# text_zipf_slope — does the corpus obey Zipf's law? OLS slope of
# ln(frequency) on ln(rank) over the top-K corpus terms (a healthy natural
# corpus sits near −1; template/machine-generated text flattens it). The
# quantitative cousin of the rank plots every corpus paper prints, and a
# cheap generated-text alarm for ingest monitoring.
#
# Exactness: both ln() legs are fixed-pointed at 1e-6 into BIGINTs (libm
# ln is not correctly-rounded; identical-integer moments are), then the
# OLS moments are exact integer sums — same discipline as
# q43_elasticity_slope. Overflow: with K = 200 and corpus term counts up
# to 1e12, n·Σ(qx·qy) tops out ≈ 6e18 < 2^63 — raise the fixed point
# only together with lowering K. Ranking is freq DESC, term ASC
# (deterministic); the rank window runs AFTER top-K (bounded K rows,
# never a global single-partition window over the vocabulary).
# ---------------------------------------------------------------------------
ZIPF_TOP_K = 200


def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(text.tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), "term")
        .limit(ZIPF_TOP_K)
    )
    w = Window.orderBy(F.desc("freq"), "term")
    pts = freq.select(
        F.round(F.log(F.row_number().over(w).cast("double")) * 1000000.0, 0)
        .cast("long")
        .alias("qx"),
        F.round(F.log(F.col("freq").cast("double")) * 1000000.0, 0)
        .cast("long")
        .alias("qy"),
    )
    m = pts.agg(
        F.count("*").alias("n"),
        F.sum("qx").alias("sx"),
        F.sum("qy").alias("sy"),
        F.sum(F.col("qx") * F.col("qy")).alias("sxy"),
        F.sum(F.col("qx") * F.col("qx")).alias("sxx"),
    )
    num = m["n"] * m["sxy"] - m["sx"] * m["sy"]
    den = m["n"] * m["sxx"] - m["sx"] * m["sx"]
    return m.select(
        F.col("n").cast("bigint").alias("n_terms"),
        F.when(den > 0, F.round(num / den.cast("double"), 6)).alias(
            "zipf_slope"
        ),
    )


ZIPF_SQL = f"""
WITH tk AS (
  SELECT unnest({_TOK_SQL}) AS term FROM documents
),
freq AS (
  SELECT term, COUNT(*) AS freq FROM tk GROUP BY term
  ORDER BY freq DESC, term LIMIT {ZIPF_TOP_K}
),
pts AS (
  SELECT
    CAST(ROUND(ln(CAST(row_number() OVER (ORDER BY freq DESC, term)
                       AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS qx,
    CAST(ROUND(ln(CAST(freq AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS qy
  FROM freq
),
m AS (
  SELECT COUNT(*) AS n,
    CAST(SUM(qx) AS BIGINT) AS sx,
    CAST(SUM(qy) AS BIGINT) AS sy,
    CAST(SUM(qx * qy) AS BIGINT) AS sxy,
    CAST(SUM(qx * qx) AS BIGINT) AS sxx
  FROM pts
)
SELECT CAST(n AS BIGINT) AS n_terms,
  CASE WHEN n * sxx - sx * sx > 0
    THEN ROUND((n * sxy - sx * sy)
               / CAST(n * sxx - sx * sx AS DOUBLE), 6)
  END AS zipf_slope
FROM m
"""


register(
    QuerySpec(
        "text_zipf_slope",
        text_zipf_slope,
        ZIPF_SQL,
        ("TX16",),
        doc="OLS Zipf slope of top-K term frequencies (fixed-point ln moments)",
    )
)


# ---------------------------------------------------------------------------
# corpus_bloom_contamination — the Bloom-pre-filtered twin of
# corpus_contamination, with IDENTICAL exact results: a k-hash Bloom
# bitmap over the eval shingle set is built with bit_or() aggregation
# (pure JVM expressions — no UDF, no driver-side sketch object), each
# training shingle probes the broadcast bitmap, and only bloom-PASSING
# shingles reach the exact verify join. Bloom filters have no false
# negatives, so verify-after-probe returns exactly the true overlap; the
# probabilistic layer only prunes.
#
# Why it matters at 100 TB: corpus_contamination ships EVERY training
# shingle into the semi-join; here the probe is a map-side broadcast
# lookup and the shuffle carries only candidates (true hits + the
# bitmap's ~(1-e^{-kn/m})^k false-positive sliver). With m = 2^16 bits
# per this demo, scale m with the eval set (bits ≈ 10·|eval shingles|
# keeps FP < 1%); the bitmap stays m/64 longs — broadcastable at any
# corpus size since it tracks the EVAL set, not the corpus.
#
# Double hashing (Kirsch–Mitzenmacher): pos_j = h1 + j·h2 (mod m) from
# one xxhash64 — k probe positions, one hash evaluation.
# ---------------------------------------------------------------------------
BLOOM_BITS = 1 << 16
BLOOM_K = 3


def _bloom_probes(col: Column) -> list[Column]:
    h = F.xxhash64(col)
    h1 = F.pmod(h, F.lit(BLOOM_BITS))
    h2 = F.pmod(F.shiftright(h, 32), F.lit(BLOOM_BITS)) * 2 + 1
    return [F.pmod(h1 + j * h2, F.lit(BLOOM_BITS)) for j in range(BLOOM_K)]


def _bloom_candidate_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, t) training shingles that pass the eval-set Bloom probe —
    a superset of the true overlap, exposed for the pruning test."""
    sh = _doc_shingles(read_table(spark, sf_dir, "documents"))
    eval_sh = sh.filter(F.col("doc_id") % EVAL_MOD == 0).select("t").distinct()
    train = sh.filter(F.col("doc_id") % EVAL_MOD != 0)

    set_bits = eval_sh.select(
        F.explode(F.array(*_bloom_probes(F.col("t")))).alias("pos")
    )
    bitmap = (
        set_bits.select(
            (F.col("pos") / 64).cast("long").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias(
                "mask"
            ),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bloom_word"))
    )
    probes = train.select(
        "doc_id",
        "t",
        F.posexplode(F.array(*_bloom_probes(F.col("t")))),
    ).select(
        "doc_id",
        "t",
        (F.col("col") / 64).cast("long").alias("word"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(col % 64 AS INT))").alias(
            "mask"
        ),
    )
    return (
        probes.join(F.broadcast(bitmap), "word", "left")
        .withColumn(
            "hit",
            (
                F.coalesce(F.col("bloom_word"), F.lit(0)).bitwiseAND(F.col("mask"))
                == F.col("mask")
            ).cast("int"),
        )
        .groupBy("doc_id", "t")
        .agg(F.min("hit").alias("all_hit"))
        .filter(F.col("all_hit") == 1)
        .select("doc_id", "t")
    )


def corpus_bloom_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _doc_shingles(read_table(spark, sf_dir, "documents"))
    eval_sh = sh.filter(F.col("doc_id") % EVAL_MOD == 0).select("t").distinct()
    cand = _bloom_candidate_shingles(spark, sf_dir)
    return (
        cand.join(eval_sh, "t", "left_semi")  # exact verify: kills bloom FPs
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
        .orderBy("doc_id")
    )


BLOOM_CONTAMINATION_SQL = f"""
WITH tk AS (
  SELECT doc_id, {_TOK_SQL} AS tok FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, unnest({text.word_shingles_sql("tok", 3)}) AS t FROM tk
),
eval_sh AS (SELECT DISTINCT t FROM sh WHERE doc_id % {EVAL_MOD} = 0),
train AS (SELECT doc_id, t FROM sh WHERE doc_id % {EVAL_MOD} <> 0)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
FROM train JOIN eval_sh USING (t)
GROUP BY doc_id
ORDER BY doc_id
"""


register(
    QuerySpec(
        "corpus_bloom_contamination",
        corpus_bloom_contamination,
        BLOOM_CONTAMINATION_SQL,
        ("BLM1",),
        doc="Bloom-bitmap pre-filtered contamination check (exact after verify)",
    )
)


# ---------------------------------------------------------------------------
# corpus_split_leakage — near-duplicate LEAKAGE ACROSS SPLITS: a random
# (here content-hash) train/val/test split assigns near-duplicate docs to
# DIFFERENT splits, silently turning held-out eval into memorization
# credit. This audit joins the verified LSH near-dup pairs against the
# split assignment and counts pairs that straddle a split boundary, per
# boundary. The fix loop is: leakage > 0 → split by dedup_cc_clusters
# cluster id instead of raw doc hash.
#
# Plan: the pair list is the shared banded-LSH path (sparse, bounded);
# the split table is a per-row projection joined twice on doc id; the
# rollup is ≤ 6 keys. Nothing new shuffles at scale beyond the pair
# build every dedup consumer already pays.
# ---------------------------------------------------------------------------
def corpus_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    docs = read_table(spark, sf_dir, "documents")
    bucket = hashing.poly_hash(F.col("text")) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    # one split-table scan: both join sides read the same explicit doc_id
    # repartition (identical pruning + identical join-inferred constraints
    # → exchange reuse); unshared, each side re-planned the full
    # poly_hash(text) scan (round-11 scan census: 3 documents scans here)
    s = docs.select("doc_id", split.alias("split")).repartition(
        F.col("doc_id")
    )
    sa = s.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a"))
    sb = s.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .groupBy(
            F.least("split_a", "split_b").alias("split_lo"),
            F.greatest("split_a", "split_b").alias("split_hi"),
        )
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
        .withColumn("is_leak", F.col("split_lo") != F.col("split_hi"))
        .orderBy("split_lo", "split_hi")
    )


SPLIT_LEAKAGE_SQL = f"""
WITH RECURSIVE {MINHASH_SIG_CTE},
{VERIFIED_PAIRS_CTES},
s AS (
  SELECT doc_id,
    CASE WHEN ({hashing.poly_hash_sql('text')}) % 100 < 80 THEN 'train'
         WHEN ({hashing.poly_hash_sql('text')}) % 100 < 90 THEN 'val'
         ELSE 'test' END AS split
  FROM documents
)
SELECT
  LEAST(sa.split, sb.split) AS split_lo,
  GREATEST(sa.split, sb.split) AS split_hi,
  CAST(COUNT(*) AS BIGINT) AS n_pairs,
  LEAST(sa.split, sb.split) <> GREATEST(sa.split, sb.split) AS is_leak
FROM pairs
JOIN s sa ON pairs.doc_a = sa.doc_id
JOIN s sb ON pairs.doc_b = sb.doc_id
GROUP BY 1, 2
ORDER BY split_lo, split_hi
"""


register(
    QuerySpec(
        "corpus_split_leakage",
        corpus_split_leakage,
        SPLIT_LEAKAGE_SQL,
        ("CP4",),
        doc="near-dup pairs straddling train/val/test boundaries (split leakage audit)",
    )
)


# ---------------------------------------------------------------------------
# corpus_dup_rate_by_source — exact-duplicate rate segmented by ingest
# source: per source, documents vs distinct texts and the integer-rounded
# dup share. The triage view that tells a crawl team WHICH feed is
# recycling content before anyone burns a full near-dup pass on it; the
# md5-groupBy is dedup_exact_hist's shape with a source dimension.
# ---------------------------------------------------------------------------
def corpus_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(F.md5(F.col("text"))).alias("n_unique"),
    )
    return per.select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_unique").cast("bigint").alias("n_unique"),
        F.expr(
            "((2 * (n_docs - n_unique) * 1000000 + n_docs)"
            " DIV (2 * n_docs)) / CAST(1000000.0 AS DOUBLE)"
        ).alias("dup_rate"),
    ).orderBy("source")


DUP_RATE_BY_SOURCE_SQL = """
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique,
  CAST((2 * (COUNT(*) - COUNT(DISTINCT md5(text))) * 1000000 + COUNT(*))
       // (2 * COUNT(*)) AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS dup_rate
FROM documents
GROUP BY source
ORDER BY source
"""


register(
    QuerySpec(
        "corpus_dup_rate_by_source",
        corpus_dup_rate_by_source,
        DUP_RATE_BY_SOURCE_SQL,
        ("DD20",),
        doc="exact-duplicate rate per ingest source (md5 distinct vs doc counts)",
    )
)


# ---------------------------------------------------------------------------
# corpus_encoding_audit — per-source encoding-damage triage: counts of
# documents carrying the three classic corruption signatures a crawl
# pipeline screens for before training —
#   * U+FFFD replacement characters (decoder already gave up),
#   * UTF-8-read-as-Latin-1 mojibake — a true two-char signature, not a
#     bare lead byte: 'Ã' counts only when immediately followed by a
#     Latin-1 continuation-range char (U+0080–U+00BF — what the 0x80–0xBF
#     second byte of a UTF-8 accented letter decodes to), so legitimate
#     uppercase accents ("SÃO PAULO", "NÃO") are NOT flagged; 'â€' (the
#     smart-punctuation E2 80 xx triple re-decoded) is already a pair,
#   * stray C0 control characters (binary junk inside "text"; tab/LF/CR
#     excluded) —
# plus the integer-DIV-rounded damaged-doc rate. Pure per-row predicates
# (contains + one RE2/Java-compatible character class) into a per-source
# aggregate: one shuffle on source, no Python, scale shape identical at
# 100 TB. All exported counts are exact integers; the rate uses the repo's
# sign-safe DIV-round idiom, so the driver hash is deterministic.
# Planted-damage behavioral test: tests/test_corpus_ops.py.
# ---------------------------------------------------------------------------
_CTRL_RE = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]"
# The continuation byte of a UTF-8 accented letter re-decoded as LATIN-1
# lands in U+0080-U+00BF; re-decoded as WINDOWS-1252 (the more common
# real-world channel, identical to Latin-1 except bytes 0x80-0x9F) it
# lands on the cp1252 punctuation/letter mappings of 0x80-0x9F (€ ‚ ƒ „ …
# † ‡ ˆ ‰ Š ‹ Œ Ž ' ' " " • – — ˜ ™ š › œ ž Ÿ) — without these the audit
# missed mojibake'd UPPERCASE accents like "CAFÃ‰" / "Ãœber" (code-review
# r7). Both alphabets are built with chr()/decode so no raw C1 control
# characters sit in this source file; the IDENTICAL pattern string is
# interpolated into the DuckDB twin below.
_CP1252_EXTRA = "".join(
    sorted(
        {
            c
            for b in range(0x80, 0xA0)
            for c in (bytes([b]).decode("cp1252", errors="ignore"),)
            if c
        }
        - {chr(c) for c in range(0x80, 0xC0)}
    )
)
_MOJI_RE = "Ã[" + chr(0x80) + "-" + chr(0xBF) + _CP1252_EXTRA + "]"


def corpus_encoding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    mojibake = F.col("text").rlike(_MOJI_RE) | F.col("text").contains("â€")
    damaged = (
        F.col("text").contains("�")
        | mojibake
        | (F.length(F.regexp_replace("text", _CTRL_RE, "")) < F.length("text"))
    )
    per = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("text").contains("�").cast("long")).alias("n_replacement"),
        F.sum(mojibake.cast("long")).alias("n_mojibake"),
        F.sum(
            (
                F.length(F.regexp_replace("text", _CTRL_RE, ""))
                < F.length("text")
            ).cast("long")
        ).alias("n_control"),
        F.sum(damaged.cast("long")).alias("n_damaged"),
    )
    return per.select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_replacement").cast("bigint").alias("n_replacement"),
        F.col("n_mojibake").cast("bigint").alias("n_mojibake"),
        F.col("n_control").cast("bigint").alias("n_control"),
        F.expr(
            "((2 * n_damaged * 1000000 + n_docs)"
            " DIV (2 * n_docs)) / CAST(1000000.0 AS DOUBLE)"
        ).alias("damage_rate"),
    ).orderBy("source")


ENCODING_AUDIT_SQL = f"""
WITH flags AS (
  SELECT source,
    CASE WHEN contains(text, chr(65533)) THEN 1 ELSE 0 END AS f_repl,
    CASE WHEN regexp_matches(text, '{_MOJI_RE}') OR contains(text, 'â€')
      THEN 1 ELSE 0 END AS f_moji,
    CASE WHEN length(regexp_replace(text, '{_CTRL_RE}', '', 'g'))
           < length(text) THEN 1 ELSE 0 END AS f_ctrl
  FROM documents
)
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(f_repl) AS BIGINT) AS n_replacement,
  CAST(SUM(f_moji) AS BIGINT) AS n_mojibake,
  CAST(SUM(f_ctrl) AS BIGINT) AS n_control,
  CAST((2 * SUM(CASE WHEN f_repl + f_moji + f_ctrl > 0 THEN 1 ELSE 0 END)
        * 1000000 + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
    / CAST(1000000.0 AS DOUBLE) AS damage_rate
FROM flags
GROUP BY source
ORDER BY source
"""


register(
    QuerySpec(
        "corpus_encoding_audit",
        corpus_encoding_audit,
        ENCODING_AUDIT_SQL,
        ("QE1",),
        doc="per-source encoding-damage counts (U+FFFD, mojibake, control chars)",
    )
)


# ---------------------------------------------------------------------------
# corpus_gopher_rules — the Gopher-style quality-rule LEDGER (Rae et al.
# 2021, "Scaling Language Models: ... Gopher", App. A: rule-based text
# filtering): for each filter rule, how many documents would it remove and
# at what rate — the planning view a data team reads BEFORE committing a
# filter to the training mix. Complements text_quality (per-doc component
# scores) and qc_constraint_suite (the same rule-ledger shape on relational
# tables): here the rules are the corpus-filter classics — word-count
# bounds, mean-word-length band, longest-word cap, symbol ratio, stopword
# requirement — plus an any_rule row for the docs at least one rule kills.
#
# Exactness: every metric is integer (token counts, char sums, ppm ratios
# via the sign-safe DIV idiom); thresholds compare integers, so both
# engines agree bit-exact. One projection + ONE aggregate row, unpivoted
# to rule rows: a single corpus pass regardless of rule count (the
# qc_constraint_suite job-shape argument), trivially the 100 TB shape.
# ---------------------------------------------------------------------------
_GR_MIN_WORDS = 25
_GR_MAX_WORDS = 80
_GR_MEAN_LO_PPM = 3_000_000   # mean word length >= 3.0 chars
_GR_MEAN_HI_PPM = 10_000_000  # mean word length <= 10.0 chars
_GR_MAX_WORD_LEN = 15
_GR_SYM_PPM = 100_000         # symbol chars <= 10% of all chars
_GR_MIN_STOPS = 2


def corpus_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import text

    docs = read_table(spark, sf_dir, "documents")
    tok = text.tokens(F.col("text"))
    d = docs.select(
        F.size(tok).alias("nw"),
        F.aggregate(
            F.transform(tok, F.length), F.lit(0), lambda a, x: a + x
        ).alias("wchars"),
        F.coalesce(F.array_max(F.transform(tok, F.length)), F.lit(0)).alias(
            "maxwl"
        ),
        F.length("text").alias("nchars"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", "[^a-zA-Z0-9 ]", ""))
        ).alias("nsym"),
        text.stopword_hits(tok, text.QUALITY_STOPWORDS).alias("stops"),
    )
    f = d.select(
        (F.col("nw") < _GR_MIN_WORDS).cast("long").alias("f_min_words"),
        (F.col("nw") > _GR_MAX_WORDS).cast("long").alias("f_max_words"),
        # GREATEST(nw,1)/GREATEST(nchars,1): Spark's |/& do NOT
        # short-circuit, so the DIV evaluates even when the zero-guard
        # disjunct already decides the rule — under ANSI that's a
        # DIVIDE_BY_ZERO crash on a zero-token/empty doc (edge-sf sweep);
        # the clamp never changes the value when the guard passes
        (
            (F.col("nw") == 0)
            | (F.expr("wchars * 1000000 DIV GREATEST(nw, 1)") < _GR_MEAN_LO_PPM)
            | (F.expr("wchars * 1000000 DIV GREATEST(nw, 1)") > _GR_MEAN_HI_PPM)
        )
        .cast("long")
        .alias("f_mean_word_len"),
        (F.col("maxwl") > _GR_MAX_WORD_LEN).cast("long").alias("f_max_word_len"),
        (
            (F.col("nchars") > 0)
            & (F.expr("nsym * 1000000 DIV GREATEST(nchars, 1)") > _GR_SYM_PPM)
        )
        .cast("long")
        .alias("f_symbol_ratio"),
        (F.col("stops") < _GR_MIN_STOPS).cast("long").alias("f_stopword_hits"),
    ).withColumn(
        "f_any_rule",
        F.greatest(
            "f_min_words",
            "f_max_words",
            "f_mean_word_len",
            "f_max_word_len",
            "f_symbol_ratio",
            "f_stopword_hits",
        ),
    )
    agg = f.agg(
        F.count("*").alias("n_docs"),
        *[
            F.sum(c).alias(c)
            for c in (
                "f_min_words",
                "f_max_words",
                "f_mean_word_len",
                "f_max_word_len",
                "f_symbol_ratio",
                "f_stopword_hits",
                "f_any_rule",
            )
        ],
    )
    return (
        agg.selectExpr(
            "n_docs",
            "stack(7, "
            "'min_words', f_min_words, "
            "'max_words', f_max_words, "
            "'mean_word_len', f_mean_word_len, "
            "'max_word_len', f_max_word_len, "
            "'symbol_ratio', f_symbol_ratio, "
            "'stopword_hits', f_stopword_hits, "
            "'any_rule', f_any_rule) AS (rule, n_fail)",
        )
        .select(
            "rule",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_fail").cast("bigint").alias("n_fail"),
            F.expr(
                "((2 * n_fail * 1000000 + n_docs) DIV (2 * n_docs))"
            )
            .cast("bigint")
            .alias("fail_ppm"),
        )
        .orderBy("rule")
    )


def _gopher_sql() -> str:
    from ..functions import text

    tok = text.tokens_sql("text")
    stops = text.stopword_hits_sql("tok", text.QUALITY_STOPWORDS)
    return f"""
WITH d AS (
  SELECT len(tok) AS nw,
    COALESCE(list_sum(list_transform(tok, t -> length(t))), 0) AS wchars,
    COALESCE(list_max(list_transform(tok, t -> length(t))), 0) AS maxwl,
    length(text) AS nchars,
    length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))
      AS nsym,
    COALESCE({stops}, 0) AS stops
  FROM (SELECT text, {tok} AS tok FROM documents)
),
f AS (
  SELECT
    CASE WHEN nw < {_GR_MIN_WORDS} THEN 1 ELSE 0 END AS f_min_words,
    CASE WHEN nw > {_GR_MAX_WORDS} THEN 1 ELSE 0 END AS f_max_words,
    CASE WHEN nw = 0 OR wchars * 1000000 // nw < {_GR_MEAN_LO_PPM}
           OR wchars * 1000000 // nw > {_GR_MEAN_HI_PPM}
      THEN 1 ELSE 0 END AS f_mean_word_len,
    CASE WHEN maxwl > {_GR_MAX_WORD_LEN} THEN 1 ELSE 0 END AS f_max_word_len,
    CASE WHEN nchars > 0 AND nsym * 1000000 // nchars > {_GR_SYM_PPM}
      THEN 1 ELSE 0 END AS f_symbol_ratio,
    CASE WHEN stops < {_GR_MIN_STOPS} THEN 1 ELSE 0 END AS f_stopword_hits
  FROM d
),
f2 AS (
  SELECT f.*,
    GREATEST(f_min_words, f_max_words, f_mean_word_len, f_max_word_len,
             f_symbol_ratio, f_stopword_hits) AS f_any_rule
  FROM f
),
agg AS (
  SELECT COUNT(*) AS n_docs,
    SUM(f_min_words) AS f_min_words, SUM(f_max_words) AS f_max_words,
    SUM(f_mean_word_len) AS f_mean_word_len,
    SUM(f_max_word_len) AS f_max_word_len,
    SUM(f_symbol_ratio) AS f_symbol_ratio,
    SUM(f_stopword_hits) AS f_stopword_hits,
    SUM(f_any_rule) AS f_any_rule
  FROM f2
),
rules AS (
  SELECT 'min_words' AS rule, n_docs, f_min_words AS n_fail FROM agg
  UNION ALL SELECT 'max_words', n_docs, f_max_words FROM agg
  UNION ALL SELECT 'mean_word_len', n_docs, f_mean_word_len FROM agg
  UNION ALL SELECT 'max_word_len', n_docs, f_max_word_len FROM agg
  UNION ALL SELECT 'symbol_ratio', n_docs, f_symbol_ratio FROM agg
  UNION ALL SELECT 'stopword_hits', n_docs, f_stopword_hits FROM agg
  UNION ALL SELECT 'any_rule', n_docs, f_any_rule FROM agg
)
SELECT rule,
  CAST(n_docs AS BIGINT) AS n_docs,
  CAST(n_fail AS BIGINT) AS n_fail,
  CAST((2 * n_fail * 1000000 + n_docs) // (2 * n_docs) AS BIGINT) AS fail_ppm
FROM rules
ORDER BY rule
"""


GOPHER_RULES_SQL = _gopher_sql()


register(
    QuerySpec(
        "corpus_gopher_rules",
        corpus_gopher_rules,
        GOPHER_RULES_SQL,
        ("QG1",),
        doc="Gopher-style quality-rule ledger: per-rule removal counts in one pass",
    )
)


# ---------------------------------------------------------------------------
# corpus_temperature_mix — temperature-scaled source sampling weights, the
# multilingual-curriculum primitive (mT5 / XLM-R style): sampling share
# p_s ∝ n_s^alpha with alpha = 0.5, which upsamples low-resource sources
# relative to their raw token share without letting any source dominate.
# Complements corpus_token_rebalance (equal shares, alpha = 0): the
# exported `boost` column is the up/down-sampling multiplier a mixing
# dataloader applies per source.
#
# Determinism: n_s^0.5 is IEEE sqrt — correctly rounded, bit-identical on
# both engines per value — but the NORMALIZING sum of doubles is
# order-dependent, so each weight is first fixed to 6 dp as a scaled
# BIGINT (the parity.py exact-sum idiom) and the denominator is an exact
# integer sum; every exported ratio is then a single division of two
# engine-identical exact values, rounded once.
#
# Scale shape: one groupBy(source) over the corpus (|sources| keys), a
# broadcast 1-row total, and arithmetic on the tiny per-source table —
# nothing downstream of the first aggregate scales with the corpus.
# ---------------------------------------------------------------------------
def corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    tok = text.tokens(F.col("text"))
    per_src = docs.select(
        "source", F.size(tok).cast("long").alias("n_tokens")
    ).groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("src_tokens"),
    )
    # weight fixed to 6 dp as a scaled BIGINT so the normalizing sum is exact
    per_src = per_src.withColumn(
        "w6",
        F.round(F.sqrt(F.col("src_tokens").cast("double")) * 1e6, 0)
        .cast("long"),
    )
    # normalizers as WINDOW sums over the BOUNDED per-source table —
    # the agg+crossJoin branch re-planned the census scan (round-11 scan
    # census: 2 documents scans here)
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        per_src.withColumn("total_tokens", F.sum("src_tokens").over(w_all))
        .withColumn("w6_sum", F.sum("w6").over(w_all))
        .select(
            "source",
            "n_docs",
            "src_tokens",
            F.round(
                F.col("src_tokens").cast("double") / F.col("total_tokens"), 6
            ).alias("raw_share"),
            F.round(
                F.col("w6").cast("double") / F.col("w6_sum"), 6
            ).alias("temp_share"),
            F.round(
                (F.col("w6").cast("double") / F.col("w6_sum"))
                / (
                    F.col("src_tokens").cast("double")
                    / F.col("total_tokens")
                ),
                6,
            ).alias("boost"),
        )
        .orderBy("source")
    )


TEMPERATURE_MIX_SQL = f"""
WITH d AS (
  SELECT source, CAST(len({_TOK_SQL}) AS BIGINT) AS n_tokens FROM documents
),
per_src AS (
  SELECT source, COUNT(*) AS n_docs, SUM(n_tokens) AS src_tokens
  FROM d GROUP BY source
),
w AS (
  SELECT source, n_docs, src_tokens,
    CAST(ROUND(sqrt(CAST(src_tokens AS DOUBLE)) * 1e6, 0) AS BIGINT) AS w6
  FROM per_src
),
tot AS (
  SELECT SUM(src_tokens) AS total_tokens, SUM(w6) AS w6_sum FROM w
)
SELECT source,
  CAST(n_docs AS BIGINT) AS n_docs,
  CAST(src_tokens AS BIGINT) AS src_tokens,
  CAST(ROUND(CAST(src_tokens AS DOUBLE) / total_tokens, 6) AS DOUBLE)
    AS raw_share,
  CAST(ROUND(CAST(w6 AS DOUBLE) / w6_sum, 6) AS DOUBLE) AS temp_share,
  CAST(ROUND((CAST(w6 AS DOUBLE) / w6_sum)
             / (CAST(src_tokens AS DOUBLE) / total_tokens), 6) AS DOUBLE)
    AS boost
FROM w CROSS JOIN tot
ORDER BY source
"""


register(
    QuerySpec(
        "corpus_temperature_mix",
        corpus_temperature_mix,
        TEMPERATURE_MIX_SQL,
        ("CP5",),
        doc="alpha=0.5 temperature source-mixing weights with exact-sum normalizer",
    )
)


# ---------------------------------------------------------------------------
# corpus_novelty_curve — cumulative 3-gram novelty by ingestion order: how
# much genuinely NEW text each slice of the corpus contributes. Docs are
# split into 10 equal doc_id ranges (ingestion-order deciles); a shingle
# "belongs" to the bucket of the FIRST doc that contains it, so per bucket
#   new_ngrams   = shingles first seen in this bucket,
#   occurrences  = all (doc, shingle) incidences in the bucket,
#   novelty_rate = new / occurrences
# and the cumulative sum is the corpus's Heaps-law vocabulary-growth curve.
# A flattening curve is the data-curation signal that additional crawl
# volume is mostly duplication — the "is more data still worth ingesting"
# dashboard for a 100 TB pipeline.
#
# Plan: distinct (doc, shingle) incidences -> groupBy(shingle) MIN(doc_id)
# (the shingle-index shuffle shape, vocabulary-bounded like
# corpus_shingle_index) -> two tiny bucket-level aggregates + one running
# sum over 10 rows. Integer math everywhere except the final rounded rate.
# ---------------------------------------------------------------------------
_NOVELTY_BUCKETS = 10


def corpus_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    # materialized tok column — never the expression (capture pathology;
    # see text_lm_score)
    tk = docs.select("doc_id", text.tokens(F.col("text")).alias("tok"))
    inc = tk.select(
        "doc_id",
        F.explode_outer(
            F.array_distinct(text.word_shingles(F.col("tok"), 3))
        ).alias("shingle"),
    ).filter(F.col("shingle").isNotNull())
    hi = docs.agg((F.max("doc_id") + 1).alias("n_ids"))
    bucketed = inc.crossJoin(F.broadcast(hi)).select(
        "doc_id",
        "shingle",
        # FLOOR on both engines: DuckDB CAST(double AS BIGINT) rounds while
        # Spark truncates, so the division must be floored before the cast
        F.least(
            F.lit(_NOVELTY_BUCKETS - 1),
            F.floor(
                F.col("doc_id") * _NOVELTY_BUCKETS / F.col("n_ids")
            ).cast("long"),
        ).alias("bucket"),
    )
    # first-seen bucket per shingle as a WINDOW min, then ONE per-bucket
    # aggregate (countDistinct of first-seen shingles ≡ the old
    # min-bucket groupBy) — the old occ/first branches each re-planned
    # the scan+shingle pipeline (round-11 scan census: 2 documents scans)
    flagged = bucketed.withColumn(
        "first_bucket", F.min("bucket").over(Window.partitionBy("shingle"))
    )
    occ = flagged.groupBy("bucket").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count("*").alias("occurrences"),
        F.countDistinct(
            F.when(F.col("first_bucket") == F.col("bucket"), F.col("shingle"))
        ).alias("new_ngrams"),
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        occ.select(
            F.col("bucket").cast("long").alias("bucket"),
            "n_docs",
            "occurrences",
            "new_ngrams",
        )
        .withColumn("cum_ngrams", F.sum("new_ngrams").over(w))
        .select(
            "bucket",
            "n_docs",
            "occurrences",
            "new_ngrams",
            "cum_ngrams",
            F.round(
                F.col("new_ngrams").cast("double") / F.col("occurrences"), 6
            ).alias("novelty_rate"),
        )
        .orderBy("bucket")
    )


NOVELTY_CURVE_SQL = f"""
WITH tk AS (
  SELECT doc_id, {_TOK_SQL} AS tok FROM documents
),
inc AS (
  SELECT DISTINCT doc_id, unnest({text.word_shingles_sql('tok', 3)}) AS shingle
  FROM tk
),
hi AS (
  SELECT MAX(doc_id) + 1 AS n_ids FROM documents
),
bucketed AS (
  SELECT doc_id, shingle,
    least({_NOVELTY_BUCKETS - 1},
          CAST(FLOOR(doc_id * {_NOVELTY_BUCKETS} / n_ids) AS BIGINT)) AS bucket
  FROM inc CROSS JOIN hi
),
occ AS (
  SELECT bucket, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS occurrences
  FROM bucketed GROUP BY bucket
),
first AS (
  SELECT bucket, COUNT(*) AS new_ngrams FROM (
    SELECT shingle, MIN(bucket) AS bucket FROM bucketed GROUP BY shingle
  ) GROUP BY bucket
)
SELECT CAST(o.bucket AS BIGINT) AS bucket,
  CAST(o.n_docs AS BIGINT) AS n_docs,
  CAST(o.occurrences AS BIGINT) AS occurrences,
  CAST(COALESCE(f.new_ngrams, 0) AS BIGINT) AS new_ngrams,
  CAST(SUM(COALESCE(f.new_ngrams, 0))
         OVER (ORDER BY o.bucket ROWS UNBOUNDED PRECEDING) AS BIGINT)
    AS cum_ngrams,
  CAST(ROUND(CAST(COALESCE(f.new_ngrams, 0) AS DOUBLE) / o.occurrences, 6)
       AS DOUBLE) AS novelty_rate
FROM occ o LEFT JOIN first f ON o.bucket = f.bucket
ORDER BY bucket
"""


register(
    QuerySpec(
        "corpus_novelty_curve",
        corpus_novelty_curve,
        NOVELTY_CURVE_SQL,
        ("CP6",),
        doc="cumulative 3-gram novelty by ingestion decile (Heaps-law growth curve)",
    )
)


# ---------------------------------------------------------------------------
# corpus_clustering_coeff — LOCAL clustering coefficient per document over
# the LSH near-dup graph: lcc(v) = triangles_at(v) / C(deg(v), 2). The
# per-node refinement of corpus_triangles' single global transitivity: a
# node with high degree but near-zero lcc is a TEMPLATE HUB (one boiler-
# plate page near-duplicating many unrelated docs — its neighbors don't
# resemble each other), while lcc ~ 1 marks a tight mirror cluster that
# canonical-doc selection collapses to one representative. That hub-vs-
# cluster split is the triage signal a dedup pipeline acts on: clusters
# dedup safely, hubs need the shared template STRIPPED before dedup or
# they chain unrelated docs into one giant component.
#
# Triangle attribution: the ordered pairs (doc_a < doc_b) enumerate each
# triangle a<b<c exactly once as p1=(a,b), p2=(b,c), p3=(a,c); exploding
# its three corners and counting per corner gives triangles_at(v)
# exactly. Degrees come from the undirected incidence union. All
# integers; the one division (2*tri / d*(d-1)) is a single exact-integer
# division rounded once — the verify-recipe idiom.
#
# Scale: the edge set is the banded-LSH candidate graph (bucketed, never
# all-pairs); the triangle join is the same bounded self-join
# corpus_triangles already runs, and everything downstream (explode +
# groupBy corner, degree join) is edge-bounded, not corpus-bounded.
# ---------------------------------------------------------------------------
def corpus_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = (
        dedup_minhash_lsh_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    deg = (
        pairs.select(F.col("doc_a").alias("node"))
        .union(pairs.select(F.col("doc_b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("degree"))
    )
    p1, p2, p3 = pairs.alias("p1"), pairs.alias("p2"), pairs.alias("p3")
    corners = (
        p1.join(p2, F.col("p1.doc_b") == F.col("p2.doc_a"))
        .join(
            p3,
            (F.col("p3.doc_a") == F.col("p1.doc_a"))
            & (F.col("p3.doc_b") == F.col("p2.doc_b")),
        )
        .select(
            F.explode(
                F.array(
                    F.col("p1.doc_a"), F.col("p1.doc_b"), F.col("p2.doc_b")
                )
            ).alias("node")
        )
    )
    tri = corners.groupBy("node").agg(
        F.count("*").cast("bigint").alias("tri_cnt")
    )
    return (
        deg.filter(F.col("degree") >= 2)
        .join(tri, "node", "left")
        .select(
            F.col("node").cast("bigint").alias("node"),
            "degree",
            F.coalesce("tri_cnt", F.lit(0)).cast("bigint").alias("tri_cnt"),
            F.expr(
                "((2 * 2 * coalesce(tri_cnt, 0) * 1000000"
                " + degree * (degree - 1))"
                " DIV (2 * degree * (degree - 1)))"
                " / CAST(1000000.0 AS DOUBLE)"
            ).alias("lcc"),
        )
        .orderBy("node")
    )


CLUSTERING_COEFF_SQL = f"""
WITH RECURSIVE {MINHASH_SIG_CTE},
{VERIFIED_PAIRS_CTES},
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
    SELECT doc_a AS node FROM pairs UNION ALL SELECT doc_b AS node FROM pairs
  ) GROUP BY node
),
corners AS (
  SELECT unnest([p1.doc_a, p1.doc_b, p2.doc_b]) AS node
  FROM pairs p1
  JOIN pairs p2 ON p1.doc_b = p2.doc_a
  JOIN pairs p3 ON p3.doc_a = p1.doc_a AND p3.doc_b = p2.doc_b
),
tri AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS tri_cnt FROM corners GROUP BY node
)
SELECT CAST(d.node AS BIGINT) AS node, d.degree,
  CAST(COALESCE(t.tri_cnt, 0) AS BIGINT) AS tri_cnt,
  ((2 * 2 * COALESCE(t.tri_cnt, 0) * 1000000 + d.degree * (d.degree - 1))
    // (2 * d.degree * (d.degree - 1))) / CAST(1000000.0 AS DOUBLE) AS lcc
FROM deg d LEFT JOIN tri t ON d.node = t.node
WHERE d.degree >= 2
ORDER BY d.node
"""


register(
    QuerySpec(
        "corpus_clustering_coeff",
        corpus_clustering_coeff,
        CLUSTERING_COEFF_SQL,
        ("IT6",),
        doc="per-doc local clustering coefficient: template-hub vs mirror-cluster triage",
    )
)


# ---------------------------------------------------------------------------
# corpus_kl_divergence — per-source token-distribution divergence: for each
# source s, KL(p_s || p_corpus) = Σ_t (k/n_s)·ln((k·N)/(n_s·m_t)) over its
# unigram distribution vs the whole-corpus distribution — the source-mix
# drift diagnostic a pretraining pipeline watches when a crawl slice or
# vendor drop starts looking unlike the corpus it feeds (cf. DoReMi/DSIR
# domain-weighting, which consume exactly these divergences).
#
# Exact-arithmetic recipe (the BM25/lm_score idiom): the ONLY transcendental
# is ln() of a ratio of exact integer products, rounded once to BIGINT
# micro-nats on both engines; per-term contributions k·lnmicro accumulate
# in DECIMAL(38,0)/HUGEINT (k·N interior passes int64 around 1e9 tokens —
# decimal is the 100 TB interior), and the final per-source value is ONE
# sign-safe DIV-round of exact integers exported at 6 dp.
#
# Scale shape: one explode pass over the corpus, (source, term) partial
# counts shuffle once on the compound key; the vocabulary join (k_st ⋈ m_t)
# is left DECLARATIVE on term — no forced broadcast (vocabulary is
# unbounded; Catalyst broadcasts it below the threshold at test SFs and
# falls back to a term-partitioned shuffled join beyond it, both sides
# already term-keyed). The per-source totals ARE force-broadcast
# (O(sources) rows). No window, no cartesian beyond two 1-row/broadcast
# combines.
# ---------------------------------------------------------------------------
def corpus_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    # (source, term) counts off the shared cached token index — the old
    # explode subtree was re-planned by each of the four aggregate views
    # (round-11 scan census: 4 documents scans here); now the corpus is
    # read and tokenized once for all of them
    kst = (
        _token_postings(spark, sf_dir)
        .filter(F.col("term").isNotNull())
        .groupBy("source", "term")
        .agg(F.count("*").cast("long").alias("k"))
    )
    mt = kst.groupBy("term").agg(F.sum("k").cast("long").alias("m"))
    ns = kst.groupBy("source").agg(
        F.sum("k").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_terms"),
    )
    ntot = kst.agg(F.sum("k").cast("long").alias("n_tot"))
    lnmicro = F.round(
        F.log(
            (F.col("k").cast("decimal(38,0)") * F.col("n_tot")).cast("double")
            / (F.col("n_tokens").cast("decimal(38,0)") * F.col("m")).cast(
                "double"
            )
        )
        * 1000000.0,
        0,
    ).cast("long")
    contrib = (
        kst.join(mt, "term")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(ntot))
        .withColumn("lnmicro", lnmicro)
        .withColumn(
            "w", F.col("k").cast("decimal(38,0)") * F.col("lnmicro")
        )
    )
    per_source = contrib.groupBy("source").agg(
        F.sum("w").alias("s_micro"),
        F.first("n_tokens").alias("n_tokens"),
        F.first("n_terms").alias("n_terms"),
    )
    return (
        per_source.withColumn(
            "half",
            F.when(
                F.col("s_micro") >= 0, F.col("n_tokens")
            ).otherwise(-F.col("n_tokens")),
        )
        .withColumn(
            "kl_nats",
            F.expr(
                "CAST((CAST(2 AS DECIMAL(38,0)) * s_micro + half) div "
                "(CAST(2 AS DECIMAL(38,0)) * n_tokens) AS BIGINT)"
            )
            / F.lit(1000000.0).cast("double"),
        )
        .select("source", "n_tokens", "n_terms", "kl_nats")
        .orderBy("source")
    )


CORPUS_KL_DIVERGENCE_SQL = f"""
WITH kst AS (
  SELECT source, term, CAST(COUNT(*) AS BIGINT) AS k
  FROM (SELECT source, unnest({_TOK_SQL}) AS term FROM documents)
  GROUP BY 1, 2
),
mt AS (SELECT term, CAST(SUM(k) AS BIGINT) AS m FROM kst GROUP BY term),
ns AS (
  SELECT source, CAST(SUM(k) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_terms
  FROM kst GROUP BY source
),
ntot AS (SELECT CAST(SUM(k) AS BIGINT) AS n_tot FROM kst),
contrib AS (
  SELECT kst.source,
    CAST(kst.k AS HUGEINT)
      * CAST(ROUND(ln(CAST(CAST(kst.k AS HUGEINT) * t.n_tot AS DOUBLE)
                      / CAST(CAST(ns.n_tokens AS HUGEINT) * mt.m AS DOUBLE))
                   * 1000000.0, 0) AS BIGINT) AS w
  FROM kst
  JOIN mt USING (term)
  JOIN ns USING (source)
  CROSS JOIN ntot t
),
per_source AS (
  SELECT source, SUM(w) AS s_micro FROM contrib GROUP BY source
)
SELECT ns.source, ns.n_tokens, ns.n_terms,
  CAST((CAST(2 AS HUGEINT) * p.s_micro
        + CASE WHEN p.s_micro >= 0 THEN ns.n_tokens ELSE -ns.n_tokens END)
       // (CAST(2 AS HUGEINT) * ns.n_tokens) AS BIGINT)
    / CAST(1000000.0 AS DOUBLE) AS kl_nats
FROM per_source p JOIN ns USING (source)
ORDER BY source
"""


register(
    QuerySpec(
        "corpus_kl_divergence",
        corpus_kl_divergence,
        CORPUS_KL_DIVERGENCE_SQL,
        ("CP7",),
        doc="per-source unigram KL divergence vs corpus in exact micro-nats",
    )
)


# ---------------------------------------------------------------------------
# corpus_quality_classifier — fixed-weight LINEAR quality-model inference
# (the fasttext-style keep/drop filter every production corpus runs after
# rule-based gating): four interpretable micro-scaled features — capped
# token count, the shared quality_score, stopword ratio, distinct-token
# ratio — combined by integer weights into an EXACT BIGINT logit;
# keep = logit > 0. Weights/bias are planted constants standing in for a
# trained model's parameters; the inference PLAN (feature extraction →
# linear combination → threshold, one scan, no shuffle beyond the source
# read) is exactly what a learned filter executes at 100 TB.
#
# Exactness: every feature is an exact integer (LEAST-capped count·1e4;
# ROUND(quality_score·1e6) — quality_score is already 6-dp rounded so the
# product sits within 1 ulp of an integer, unambiguous to round; DIV-round
# ratios with n>0 guards returning 0 on empty/NULL docs). The logit is an
# exact integer sum — no float accumulation anywhere.
# ---------------------------------------------------------------------------
QCLF_W_LEN = 1
QCLF_W_QS = 2
QCLF_W_STOP = 1
QCLF_W_REP = 1
QCLF_BIAS_MICRO = -2_500_000


def _qclf_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier inference rows PLUS the exact-dup content hash ``h``.

    One documents scan serves both consumers: ``corpus_quality_classifier``
    drops ``h`` (Catalyst prunes the md5 expression from its plan), while
    ``corpus_prep_pipeline_clf`` keeps it for the exact-dedup stage instead
    of paying a second full read of the text column (VERDICT r10 "What's
    wrong" #1 — at 100 TB the text read IS the query cost).
    """
    docs = read_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "source",
        "text",
        text.tokens(F.col("text")).alias("tok"),
        F.md5("text").alias("h"),
    )
    n = F.size("tok")
    f_len = (
        F.least(F.coalesce(n, F.lit(0)), F.lit(100)).cast("long") * 10000
    )
    f_qs = F.round(
        text.quality_score(F.col("text"), F.col("tok")) * 1000000, 0
    ).cast("long")
    hits = text.stopword_hits(F.col("tok"), text.QUALITY_STOPWORDS)
    f_stop = F.when(
        n > 0,
        F.expr("(2 * CAST(sw_hits AS BIGINT) * 1000000 + n_tok) DIV (2 * n_tok)"),
    ).otherwise(F.lit(0).cast("long"))
    f_rep = F.when(
        n > 0,
        F.expr("(2 * CAST(n_dist AS BIGINT) * 1000000 + n_tok) DIV (2 * n_tok)"),
    ).otherwise(F.lit(0).cast("long"))
    feats = (
        d.withColumn("n_tok", n.cast("long"))
        .withColumn("sw_hits", hits.cast("long"))
        .withColumn("n_dist", F.size(F.array_distinct("tok")).cast("long"))
        .withColumn("f_len", f_len)
        .withColumn("f_qs", f_qs)
        .withColumn("f_stop", f_stop)
        .withColumn("f_rep", f_rep)
    )
    logit = (
        F.lit(QCLF_W_LEN).cast("long") * F.col("f_len")
        + F.lit(QCLF_W_QS).cast("long") * F.col("f_qs")
        + F.lit(QCLF_W_STOP).cast("long") * F.col("f_stop")
        + F.lit(QCLF_W_REP).cast("long") * F.col("f_rep")
        + F.lit(QCLF_BIAS_MICRO).cast("long")
    )
    # NO global orderBy: a bulk per-doc inference export is consumed by
    # the next pipeline stage, not a human — and the RangePartitioner's
    # sampling pass would recompute the entire feature pipeline once more
    # (measured 107.6 s vs ~40 s of actual compute at the 500k-doc
    # decade). The oracle compare is order-insensitive; partition-local
    # order keeps output deterministic per file.
    return feats.select(
        "doc_id",
        "source",
        "h",
        F.col("f_len").cast("bigint").alias("f_len"),
        F.col("f_qs").cast("bigint").alias("f_qs"),
        F.col("f_stop").cast("bigint").alias("f_stop"),
        F.col("f_rep").cast("bigint").alias("f_rep"),
        logit.cast("bigint").alias("logit_micro"),
        (logit > 0).alias("keep"),
    )


def corpus_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _qclf_inference(spark, sf_dir)
        .drop("h")  # pruned from the plan: the md5 costs nothing here
        .sortWithinPartitions("doc_id")
    )


#: classifier inference fragment (d -> f -> clf), composed by QCLF_SQL and
#: the classifier-gated prep pipeline so the two cannot drift
QCLF_CTES = f"""
qd AS (
  SELECT doc_id, source, text, {_TOK_SQL} AS tok FROM documents
),
qf AS (
  SELECT doc_id, source,
    CAST(LEAST(COALESCE(len(tok), 0), 100) AS BIGINT) * 10000 AS f_len,
    CAST(ROUND({text.quality_score_sql('text', 'tok')} * 1000000, 0)
         AS BIGINT) AS f_qs,
    CASE WHEN len(tok) > 0 THEN
      (2 * CAST({text.stopword_hits_sql('tok', text.QUALITY_STOPWORDS)}
           AS BIGINT) * 1000000 + len(tok)) // (2 * len(tok))
    ELSE 0 END AS f_stop,
    CASE WHEN len(tok) > 0 THEN
      (2 * CAST(len(list_distinct(tok)) AS BIGINT) * 1000000 + len(tok))
        // (2 * len(tok))
    ELSE 0 END AS f_rep
  FROM qd
),
clf AS (
  SELECT doc_id, source, f_len, f_qs, f_stop, f_rep,
    CAST({QCLF_W_LEN} * f_len + {QCLF_W_QS} * f_qs + {QCLF_W_STOP} * f_stop
         + {QCLF_W_REP} * f_rep + {QCLF_BIAS_MICRO} AS BIGINT) AS logit_micro,
    ({QCLF_W_LEN} * f_len + {QCLF_W_QS} * f_qs + {QCLF_W_STOP} * f_stop
     + {QCLF_W_REP} * f_rep + {QCLF_BIAS_MICRO}) > 0 AS keep
  FROM qf
)"""

QCLF_SQL = f"""
WITH {QCLF_CTES}
SELECT doc_id, source, f_len, f_qs, f_stop, f_rep, logit_micro, keep
FROM clf ORDER BY doc_id
"""


register(
    QuerySpec(
        "corpus_quality_classifier",
        corpus_quality_classifier,
        QCLF_SQL,
        ("CP8",),
        doc="fixed-weight linear quality-classifier inference: exact BIGINT logit + keep flag",
    )
)


# ---------------------------------------------------------------------------
# corpus_prep_pipeline_clf — the flagship prep pipeline with the LEARNED
# quality gate: classifier keep (exact BIGINT logit > 0) replaces the
# rule threshold, then the same exact-hash keep-first dedup and
# banded-LSH near-dup removal corpus_prep_pipeline runs. This is the
# production curation sequence once a trained filter replaces hand rules
# (CCNet/Gopher -> fasttext-style classifier); every stage composes the
# shared implementations — _qclf_inference (the same scan
# corpus_quality_classifier exports, plus the content hash) and
# dedup_minhash_lsh_pairs on the Spark side, QCLF_CTES /
# MINHASH_SIG_CTE / VERIFIED_PAIRS_CTES on the oracle side — so the
# pipeline cannot drift from its graded parts.
#
# Scale shape: identical to corpus_prep_pipeline (classifier adds one
# scan-local projection, no extra shuffle); survivors export with
# partition-local order only (bulk stage-to-stage data — the round-9
# global-orderBy lesson).
# ---------------------------------------------------------------------------
def corpus_prep_pipeline_clf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    # ONE documents scan: the classifier inference helper also emits the
    # exact-dup content hash, so the old second read_table subtree (md5
    # over all docs + groupBy + semi-join) is gone. Keep-min runs as a
    # window over the classifier SURVIVORS — equivalent because exact
    # duplicates share identical text, hence identical logit, so a hash
    # group passes the keep gate all-or-nothing.
    kept = (
        _qclf_inference(spark, sf_dir)
        .filter(F.col("keep"))
        .select("doc_id", "logit_micro", "h")
    )
    kept = (
        kept.withColumn(
            "keep_id", F.min("doc_id").over(Window.partitionBy("h"))
        )
        .filter(F.col("doc_id") == F.col("keep_id"))
        .select("doc_id", "logit_micro")
    )
    losers = (
        dedup_minhash_lsh_pairs(spark, sf_dir)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    return (
        kept.join(losers, "doc_id", "left_anti")
        .sortWithinPartitions("doc_id")
    )


CORPUS_PREP_CLF_SQL = f"""
WITH {QCLF_CTES},
kept AS (
  SELECT doc_id, logit_micro FROM clf WHERE keep
),
keep_exact AS (
  SELECT MIN(doc_id) AS doc_id
  FROM (SELECT doc_id, md5(text) AS h FROM documents) GROUP BY h
),
{MINHASH_SIG_CTE},
{VERIFIED_PAIRS_CTES},
-- losers must be re-derived at JACCARD_THRESHOLD, NOT taken from the
-- shared pairs CTE: pairs verifies at MINHASH_VERIFY_THRESHOLD (0.7),
-- but the Spark side drops near-dup losers only at jaccard >=
-- JACCARD_THRESHOLD (0.8) — a pair with true Jaccard in [0.7, 0.8)
-- must survive on BOTH engines (ADVICE r9 high; CORPUS_PREP_SQL
-- inlines the same 0.8-filtered fragment)
losers AS (
  SELECT DISTINCT doc_b AS doc_id
  FROM common
  JOIN sizes na ON common.doc_a = na.doc_id
  JOIN sizes nb ON common.doc_b = nb.doc_id
  WHERE ROUND(CAST(common AS DOUBLE) / (na.n + nb.n - common), 6)
        >= {JACCARD_THRESHOLD}
)
SELECT k.doc_id, k.logit_micro
FROM kept k
JOIN keep_exact ke ON k.doc_id = ke.doc_id
LEFT JOIN losers l ON k.doc_id = l.doc_id
WHERE l.doc_id IS NULL
ORDER BY k.doc_id
"""


register(
    QuerySpec(
        "corpus_prep_pipeline_clf",
        corpus_prep_pipeline_clf,
        CORPUS_PREP_CLF_SQL,
        ("PIPE7",),
        doc="prep pipeline with the learned quality gate: classifier keep -> exact dedup -> LSH near-dup removal",
    )
)


# ---------------------------------------------------------------------------
# corpus_token_budget_waterfill — the mixing allocator that sits between
# the per-source token census and the sampler: given each source's token
# count c_s and a global training budget B (here WF_BUDGET_NUM/WF_BUDGET_DEN
# of the corpus total), allocate a_s tokens per source by WATER-FILLING —
# small sources are taken whole (saturated), every other source is capped
# at one common water level theta, chosen so the allocations sum exactly
# to B. This is the standard "no source may dominate the mix" budget rule
# (the flat-cap dual of temperature sampling); the export is the
# per-source allocation table a sampler consumes directly.
#
# Exactness: everything is BIGINT. The saturation test for the j-th
# smallest source is c_j * (S - j + 1) <= B - cum_{j-1} (pure integers,
# no division); theta = (B - cum_K) div (S - K) with the remainder
# distributed one token each to the first (B - cum_K) mod (S - K)
# unsaturated sources in (c asc, source asc) order, so SUM(alloc) == B
# exactly and both engines agree token-for-token.
#
# Scale shape: ONE shuffle over the fact (per-source token sums with
# map-side partials); the water-level search is windows over the BOUNDED
# source dimension (|S| ~ tens), with the two 1-row aggregates broadcast.
# At 100 TB the cost is the census scan, full stop.
# ---------------------------------------------------------------------------
WF_BUDGET_NUM = 1
WF_BUDGET_DEN = 2  # budget = floor(total_tokens / 2)


def corpus_token_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    # COALESCE per doc: a NULL-text doc contributes 0 tokens. Without it
    # an ALL-NULL source's census is NULL, and the ORDER BY tokens walk
    # diverges across engines (Spark sorts NULLS FIRST ascending, DuckDB
    # NULLS LAST) — found by a planted all-NULL-source drive, invisible
    # to the mixed-source edge sweep.
    src = docs.groupBy("source").agg(
        F.sum(F.coalesce(F.size(text.tokens(F.col("text"))), F.lit(0)))
        .cast("long")
        .alias("tokens")
    )
    # the global census reductions (total/n_src, then k_sat/cum_sat) are
    # WINDOW aggregates over the BOUNDED source dimension (|S| ~ tens)
    # instead of agg+crossJoin branches: each branch re-planned the heavy
    # census scan (round-11 scan census: 4 documents scans here) — the
    # all-rows window costs nothing on a bounded table and keeps the plan
    # at ONE text scan
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_ord = Window.orderBy("tokens", "source")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g = (
        src.withColumn("total", F.sum("tokens").over(w_all))
        .withColumn("n_src", F.count("*").over(w_all))
        .withColumn(
            "budget",
            F.expr(f"total * {WF_BUDGET_NUM} div {WF_BUDGET_DEN}"),
        )
        .withColumn("j", F.row_number().over(w_ord).cast("long"))
        .withColumn("cum", F.sum("tokens").over(w_cum))
        .withColumn(
            "saturated",
            (F.col("tokens") * (F.col("n_src") - F.col("j") + 1))
            <= (F.col("budget") - (F.col("cum") - F.col("tokens"))),
        )
    )
    out = (
        g.withColumn(
            "k_sat",
            F.sum(F.when(F.col("saturated"), 1).otherwise(0)).over(w_all),
        )
        .withColumn(
            "cum_sat",
            F.sum(
                F.when(F.col("saturated"), F.col("tokens")).otherwise(0)
            ).over(w_all),
        )
        .withColumn(
            "theta",
            F.expr(
                "CASE WHEN n_src > k_sat THEN"
                " (budget - cum_sat) div (n_src - k_sat) END"
            ),
        )
        .withColumn(
            "alloc",
            F.expr(
                "CASE WHEN saturated THEN tokens ELSE theta"
                " + (CASE WHEN j - k_sat <="
                "     (budget - cum_sat) % (n_src - k_sat)"
                "    THEN 1 ELSE 0 END) END"
            ).cast("long"),
        )
        .withColumn(
            "alloc_share",
            F.expr(
                "CASE WHEN budget > 0 THEN"
                " (2 * alloc * 1000000 + budget) DIV (2 * budget) ELSE 0 END"
            ).cast("bigint")
            / F.lit(1000000.0).cast("double"),
        )
    )
    return out.select(
        "source",
        "tokens",
        "saturated",
        "alloc",
        "alloc_share",
        F.col("budget").cast("long").alias("budget"),
    ).orderBy("source")


WATERFILL_SQL = f"""
WITH src AS (
  SELECT source, CAST(SUM(COALESCE(len({_TOK_SQL}), 0)) AS BIGINT) AS tokens
  FROM documents GROUP BY source
),
tot AS (
  SELECT SUM(tokens) AS total, COUNT(*) AS n_src FROM src
),
g AS (
  SELECT source, tokens, t.total, t.n_src,
    t.total * {WF_BUDGET_NUM} // {WF_BUDGET_DEN} AS budget,
    ROW_NUMBER() OVER (ORDER BY tokens, source) AS j,
    SUM(tokens) OVER (ORDER BY tokens, source ROWS UNBOUNDED PRECEDING)
      AS cum
  FROM src CROSS JOIN tot t
),
g2 AS (
  SELECT *,
    tokens * (n_src - j + 1) <= budget - (cum - tokens) AS saturated
  FROM g
),
k AS (
  SELECT SUM(CASE WHEN saturated THEN 1 ELSE 0 END) AS k_sat,
         SUM(CASE WHEN saturated THEN tokens ELSE 0 END) AS cum_sat
  FROM g2
),
alloc AS (
  SELECT g2.*, k.k_sat, k.cum_sat,
    CASE WHEN g2.n_src > k.k_sat
         THEN (g2.budget - k.cum_sat) // (g2.n_src - k.k_sat) END AS theta
  FROM g2 CROSS JOIN k
)
SELECT source, tokens, saturated,
  CAST(CASE WHEN saturated THEN tokens ELSE theta
       + (CASE WHEN j - k_sat <= (budget - cum_sat) % (n_src - k_sat)
          THEN 1 ELSE 0 END) END AS BIGINT) AS alloc,
  CAST(CASE WHEN budget > 0 THEN
    (2 * (CASE WHEN saturated THEN tokens ELSE theta
          + (CASE WHEN j - k_sat <= (budget - cum_sat) % (n_src - k_sat)
             THEN 1 ELSE 0 END) END) * 1000000 + budget) // (2 * budget)
    ELSE 0 END AS BIGINT) / CAST(1000000.0 AS DOUBLE) AS alloc_share,
  CAST(budget AS BIGINT) AS budget
FROM alloc ORDER BY source
"""


register(
    QuerySpec(
        "corpus_token_budget_waterfill",
        corpus_token_budget_waterfill,
        WATERFILL_SQL,
        ("CP9",),
        doc="water-filling token-budget allocator: saturate small sources, cap the rest at one exact water level",
    )
)


# ---------------------------------------------------------------------------
# text_lm_interpolated — Jelinek-Mercer interpolated bigram LM scoring,
# the smoothing production LM filters actually use (text_lm_score is
# add-one; JM mixes the ML bigram with the unigram fallback):
#   P(w2|w1) = 1/2 * c2(w1 w2)/c1(w1) + 1/2 * c_u(w2)/T
# over the corpus's own counts (T = total tokens). Low average negative
# log-likelihood = text the corpus LM finds predictable. Compared side by
# side with text_lm_score's add-one scores, this is the smoothing
# ablation every LM-filter bake-off runs.
#
# Exactness: the mixture is held as ONE exact integer rational before the
# log — P = (c2*T + c_u*c1) / (2*c1*T), both legs BIGINT products — so
# the only float step is ln(exact_num/exact_den), micro-rounded like
# every LM scorer in the package; per-doc sums are integer, the mean is
# the sign-free DIV-round identity.
#
# Scale shape: same as text_lm_score — the three count tables are
# DataFrames keyed on bigram/unigram (never driver state), scoring joins
# shuffle on those keys, one per-doc aggregate. Bulk per-doc export:
# partition-local order only.
# ---------------------------------------------------------------------------
def text_lm_interpolated(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bigram counts as WINDOW counts over ONE gram stream (n2 per bigram,
    # n1 per history) instead of two groupBy+join branches — each branch
    # re-planned the scan+tokenize (round-11 scan census: 5 documents
    # scans here); unigram stats come off the shared cached token index
    grams = (
        _bigrams(spark, sf_dir)
        .withColumn("n2", F.count("*").over(Window.partitionBy("g")))
        .withColumn("n1", F.count("*").over(Window.partitionBy("w1")))
    )
    unis = _token_postings(spark, sf_dir).filter(F.col("term").isNotNull())
    cu = unis.groupBy(F.col("term").alias("w")).agg(
        F.count("*").alias("nu")
    )
    tstat = cu.agg(F.sum("nu").alias("t_tok"))
    scored = (
        grams.join(cu.withColumnRenamed("w", "w2"), "w2")
        .crossJoin(F.broadcast(tstat))
        .select(
            "doc_id",
            _ln_micro(
                (
                    F.col("n2").cast("decimal(38,0)") * F.col("t_tok")
                    + F.col("nu").cast("decimal(38,0)") * F.col("n1")
                ).cast("double")
                / (
                    F.lit(2).cast("decimal(38,0)") * F.col("n1") * F.col("t_tok")
                ).cast("double")
            ).alias("qf"),
        )
    )
    return _mean_nll(scored, "avg_nll_jm")


LM_JM_SQL = f"""
WITH {_bigram_ctes()},
{_BIGRAM_COUNT_CTES},
unis AS (SELECT unnest(tok) AS w FROM tk),
cu AS (SELECT w, COUNT(*) AS nu FROM unis GROUP BY w),
tstat AS (SELECT COUNT(*) AS t_tok FROM unis),
scored AS (
  SELECT grams.doc_id,
    CAST(ROUND(ln(
      CAST(CAST(c2.n2 AS HUGEINT) * t.t_tok
           + CAST(cu.nu AS HUGEINT) * c1.n1 AS DOUBLE)
      / CAST(CAST(2 AS HUGEINT) * c1.n1 * t.t_tok AS DOUBLE)
    ) * 1000000.0, 0) AS BIGINT) AS qf
  FROM grams
  JOIN c2 USING (g)
  JOIN c1 USING (w1)
  JOIN cu ON cu.w = grams.w2
  CROSS JOIN tstat t
),
{_mean_nll_sql("avg_nll_jm")}
"""


register(
    QuerySpec(
        "text_lm_interpolated",
        text_lm_interpolated,
        LM_JM_SQL,
        ("TX23",),
        doc="Jelinek-Mercer interpolated bigram LM scoring: exact rational mixture, micro-nat per-doc mean",
    )
)


# ---------------------------------------------------------------------------
# corpus_curriculum_phases — the curriculum-schedule table a staged
# training run consumes: every document is binned into a fixed
# quality-micro band (CURRICULUM_CUTS, the same 1e-6 fixed-point scale as
# the quality classifier), and the export is the (phase, source)
# composition — doc count, token budget, exact mean quality — that an
# ordered data loader replays phase by phase (low band first: curriculum
# = easy/noisy -> clean progression over a frozen snapshot). Fixed cuts,
# not quantiles, on purpose: a global ntile would need an unpartitioned
# sort+window over the corpus (the exact shape the round-9 measurement
# banned), while fixed cuts keep phase assignment scan-local and
# reproducible across snapshots of ANY size.
#
# Exactness: quality is micro-fixed-pointed with the classifier's idiom
# (ROUND(qs*1e6) as BIGINT); the per-cell mean is the sign-free
# (2*sum + n) DIV (2*n) integer identity. Scale shape: one scan-local
# projection + ONE shuffle on (phase, source); output bounded by
# 4 x |sources|.
# ---------------------------------------------------------------------------
CURRICULUM_CUTS = (250000, 500000, 750000)  # quality-micro band edges


def corpus_curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    # materialized tok column — never the expression (capture pathology;
    # see text_lm_score); same discipline as corpus_quality_classifier
    tk = docs.select("source", "text", text.tokens(F.col("text")).alias("tok"))
    d = tk.select(
        "source",
        F.size("tok").cast("long").alias("n_tok"),
        F.round(
            text.quality_score(F.col("text"), F.col("tok")) * 1000000, 0
        )
        .cast("long")
        .alias("q_micro"),
    )
    phase = (
        F.when(F.col("q_micro") < CURRICULUM_CUTS[0], 1)
        .when(F.col("q_micro") < CURRICULUM_CUTS[1], 2)
        .when(F.col("q_micro") < CURRICULUM_CUTS[2], 3)
        .otherwise(4)
    )
    cell = (
        d.withColumn("phase", phase.cast("long"))
        .groupBy("phase", "source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("tokens"),
            F.sum("q_micro").alias("q_sum"),
        )
    )
    return cell.select(
        "phase",
        "source",
        "n_docs",
        "tokens",
        F.expr("(2 * q_sum + n_docs) DIV (2 * n_docs)")
        .cast("bigint")
        .alias("avg_q_micro"),
    ).orderBy("phase", "source")


CURRICULUM_SQL = f"""
WITH d AS (
  SELECT source,
    CAST(len(tok) AS BIGINT) AS n_tok,
    CAST(ROUND({text.quality_score_sql('text', 'tok')} * 1000000, 0)
         AS BIGINT) AS q_micro
  FROM (SELECT source, text, {_TOK_SQL} AS tok FROM documents)
),
cell AS (
  SELECT
    CASE WHEN q_micro < {CURRICULUM_CUTS[0]} THEN 1
         WHEN q_micro < {CURRICULUM_CUTS[1]} THEN 2
         WHEN q_micro < {CURRICULUM_CUTS[2]} THEN 3
         ELSE 4 END AS phase,
    source, n_tok, q_micro
  FROM d
)
SELECT CAST(phase AS BIGINT) AS phase, source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_tok) AS BIGINT) AS tokens,
  CAST((2 * SUM(q_micro) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
    AS avg_q_micro
FROM cell GROUP BY phase, source
ORDER BY phase, source
"""


register(
    QuerySpec(
        "corpus_curriculum_phases",
        corpus_curriculum_phases,
        CURRICULUM_SQL,
        ("CP10",),
        doc="curriculum schedule: fixed quality-micro bands x source composition with exact mean quality",
    )
)


# ---------------------------------------------------------------------------
# corpus_soft_dedup_weights — SoftDeDup: instead of DROPPING duplicates,
# down-weight them for the training sampler. Each doc's effective
# multiplicity is its exact-duplicate group size plus its count of
# verified near-duplicate partners (the banded-LSH pairs at the same
# ≥JACCARD_THRESHOLD bar the prep pipeline drops at), and the exported
# weight is round(1e6 / multiplicity) — duplicates still contribute, but
# the GROUP contributes ~one document's worth of gradient. This is the
# soft alternative every curation bake-off runs against hard dedup.
#
# Exactness: counts are integers; the weight is one sign-free DIV-round
# (multiplicity >= 1 always). NULL-text docs hash to one NULL group on
# both engines (COUNT(*) OVER (PARTITION BY md5(text)) groups NULLs
# together in Spark and DuckDB alike).
#
# Scale shape: exact leg = ONE window count over the content-hash
# partitioning (no second scan — the round-11 discipline); near leg =
# the LSH candidate pairs (banded, never all-pairs) aggregated per side.
# ---------------------------------------------------------------------------
def corpus_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", F.md5("text").alias("h")).withColumn(
        "n_exact", F.count("*").over(Window.partitionBy("h"))
    )
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )
    partners = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_near"))
    )
    return (
        base.join(partners, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_exact").cast("long").alias("n_exact"),
            F.coalesce(F.col("n_near"), F.lit(0)).cast("long").alias("n_near"),
            F.expr(
                "CAST((2 * 1000000 + (n_exact + COALESCE(n_near, 0)))"
                " DIV (2 * (n_exact + COALESCE(n_near, 0))) AS BIGINT)"
            ).alias("weight_micro"),
        )
        .sortWithinPartitions("doc_id")
    )


SOFT_DEDUP_SQL = f"""
WITH RECURSIVE {MINHASH_SIG_CTE},
{VERIFIED_PAIRS_CTES},
p8 AS (
  SELECT doc_a, doc_b
  FROM common
  JOIN sizes na ON common.doc_a = na.doc_id
  JOIN sizes nb ON common.doc_b = nb.doc_id
  WHERE ROUND(CAST(common AS DOUBLE) / (na.n + nb.n - common), 6)
        >= {JACCARD_THRESHOLD}
),
near AS (
  SELECT doc_id, COUNT(*) AS n_near FROM (
    SELECT doc_a AS doc_id FROM p8
    UNION ALL
    SELECT doc_b AS doc_id FROM p8
  ) GROUP BY doc_id
),
ex AS (
  SELECT doc_id,
    COUNT(*) OVER (PARTITION BY md5(text)) AS n_exact
  FROM documents
)
SELECT ex.doc_id,
  CAST(n_exact AS BIGINT) AS n_exact,
  CAST(COALESCE(near.n_near, 0) AS BIGINT) AS n_near,
  CAST((2 * 1000000 + (n_exact + COALESCE(near.n_near, 0)))
       // (2 * (n_exact + COALESCE(near.n_near, 0))) AS BIGINT)
    AS weight_micro
FROM ex LEFT JOIN near ON ex.doc_id = near.doc_id
ORDER BY ex.doc_id
"""


register(
    QuerySpec(
        "corpus_soft_dedup_weights",
        corpus_soft_dedup_weights,
        SOFT_DEDUP_SQL,
        ("DD24", "CP11"),
        doc="SoftDeDup: per-doc training weight = 1e6 / (exact copies + verified near-dup partners)",
    )
)


# ---------------------------------------------------------------------------
# text_lm_heldout_perplexity — PROPER held-out LM evaluation: add-one
# bigram counts are fit on the TRAIN fold only (doc_id % 10 < 8 — a
# deterministic, engine-portable fold; content-hash splitting stays the
# corpus_split_train_val_test surface) and every held-out doc
# (doc_id % 10 >= 8) is scored under those frozen counts. text_lm_score
# scores the corpus under its own counts (resubstitution); this is the
# generalization number an LM-filter bake-off actually reports.
#
# Exactness: train counts are WINDOW indicator sums over one gram stream
# (round-11 scan discipline: no per-count scan branches); vocabulary
# comes off the shared cached token index restricted to the train fold;
# per-gram NLL is the micro-nat fixed-point ln; the per-doc mean is the
# sign-free DIV-round identity.
#
# Scale shape: ONE bigram scan + two windows (g, w1) + the cached index.
# ---------------------------------------------------------------------------
def text_lm_heldout_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    is_train = F.when(F.col("doc_id") % 10 < 8, 1).otherwise(0)
    grams = (
        _bigrams(spark, sf_dir)
        .withColumn("tr", is_train)
        .withColumn("n2t", F.sum("tr").over(Window.partitionBy("g")))
        .withColumn("n1t", F.sum("tr").over(Window.partitionBy("w1")))
    )
    vocab = _vocab_size(
        _token_postings(spark, sf_dir).filter(F.col("doc_id") % 10 < 8)
    )
    scored = (
        grams.filter(F.col("tr") == 0)
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            _ln_micro(
                (F.col("n2t") + F.lit(1.0)) / (F.col("n1t") + F.col("v"))
            ).alias("qf"),
        )
    )
    return _mean_nll(scored, "avg_nll_heldout")


LM_HELDOUT_SQL = f"""
WITH {_bigram_ctes()},
g2 AS (
  SELECT doc_id, g, w1,
    SUM(CASE WHEN doc_id % 10 < 8 THEN 1 ELSE 0 END)
      OVER (PARTITION BY g) AS n2t,
    SUM(CASE WHEN doc_id % 10 < 8 THEN 1 ELSE 0 END)
      OVER (PARTITION BY w1) AS n1t
  FROM grams
),
vocab AS (
  SELECT COUNT(DISTINCT w) AS v
  FROM (SELECT doc_id, unnest(tok) AS w FROM tk) u
  WHERE doc_id % 10 < 8
),
scored AS (
  SELECT doc_id,
    CAST(ROUND(ln((n2t + 1.0) / (n1t + vocab.v)) * 1000000.0, 0)
         AS BIGINT) AS qf
  FROM g2 CROSS JOIN vocab
  WHERE doc_id % 10 >= 8
),
{_mean_nll_sql("avg_nll_heldout")}
"""


register(
    QuerySpec(
        "text_lm_heldout_perplexity",
        text_lm_heldout_perplexity,
        LM_HELDOUT_SQL,
        ("TX24",),
        doc="held-out add-one bigram NLL: counts fit on the train fold, val fold scored under frozen counts",
    )
)


# ---------------------------------------------------------------------------
# corpus_quality_calibration — reliability table for the learned quality
# gate: bucket the classifier's exact BIGINT logit into fixed 1-unit bins
# (clamped to [-3, 5] — scan-local, unlike global deciles, which would
# funnel every doc through one ntile window partition) and report, per
# bin, how often the classifier's keep decision agrees with the hand
# rule (quality_score >= QUALITY_MIN). The monotone-agreement check a
# team runs before swapping the rule gate for the learned gate.
#
# Exactness: bin = floor(logit_micro / 1e6) — |logit| < 2^40 so the
# double division is exact and FLOOR agrees across engines; counts are
# integers; rates are sign-free DIV-rounds.
# ---------------------------------------------------------------------------
def corpus_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    inf = _qclf_inference(spark, sf_dir)
    rule_pass = (F.col("f_qs") >= int(QUALITY_MIN * 1_000_000)).cast("int")
    clf_keep = F.col("keep").cast("int")
    b = inf.select(
        F.least(
            F.lit(5),
            F.greatest(
                F.lit(-3),
                F.floor(F.col("logit_micro") / F.lit(1000000.0)).cast("int"),
            ),
        )
        .cast("long")
        .alias("bin"),
        rule_pass.alias("rule_pass"),
        clf_keep.alias("clf_keep"),
    )
    return (
        b.groupBy("bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("rule_pass").cast("long").alias("n_rule_pass"),
            F.sum("clf_keep").cast("long").alias("n_clf_keep"),
            F.sum(
                (F.col("rule_pass") == F.col("clf_keep")).cast("int")
            )
            .cast("long")
            .alias("n_agree"),
        )
        .withColumn(
            "agree_rate",
            F.expr("(2 * n_agree * 1000000 + n_docs) DIV (2 * n_docs)")
            .cast("long")
            / F.lit(1000000.0),
        )
        .orderBy("bin")
    )


QUALITY_CALIBRATION_SQL = f"""
WITH {QCLF_CTES},
b AS (
  SELECT
    CAST(LEAST(5, GREATEST(-3,
      CAST(FLOOR(logit_micro / 1000000.0) AS INTEGER))) AS BIGINT) AS bin,
    CASE WHEN f_qs >= {int(QUALITY_MIN * 1_000_000)} THEN 1 ELSE 0 END
      AS rule_pass,
    CASE WHEN keep THEN 1 ELSE 0 END AS clf_keep
  FROM clf
)
SELECT bin,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(rule_pass) AS BIGINT) AS n_rule_pass,
  CAST(SUM(clf_keep) AS BIGINT) AS n_clf_keep,
  CAST(SUM(CASE WHEN rule_pass = clf_keep THEN 1 ELSE 0 END) AS BIGINT)
    AS n_agree,
  CAST((2 * SUM(CASE WHEN rule_pass = clf_keep THEN 1 ELSE 0 END) * 1000000
        + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) / 1000000.0 AS agree_rate
FROM b GROUP BY bin
ORDER BY bin
"""


register(
    QuerySpec(
        "corpus_quality_calibration",
        corpus_quality_calibration,
        QUALITY_CALIBRATION_SQL,
        ("CP12",),
        doc="classifier-vs-rule reliability table over fixed logit bins (gate-swap calibration check)",
    )
)


# ---------------------------------------------------------------------------
# corpus_lm_kneser_ney — absolute-discount Kneser-Ney bigram LM scoring,
# the third leg of the smoothing ablation (text_lm_score = add-one,
# text_lm_interpolated = Jelinek-Mercer, this = KN — the smoothing modern
# n-gram filters default to). With discount D = 3/4:
#   P_KN(w2|w1) = max(c(w1 w2) - D, 0)/c(w1)
#                 + (D * N1+(w1 .)/c(w1)) * N1+(. w2)/NT
# where N1+(w1 .) = distinct continuations of w1, N1+(. w2) = distinct
# histories of w2 (the continuation probability — KN's defining idea:
# "how many contexts has w2 followed", not "how often"), NT = distinct
# bigram types.
#
# Exactness: with D = 3/4 the mixture is ONE exact integer rational
#   P = (max(4*n2 - 3, 0) * NT + 3*nf1*nb2) / (4*n1*NT)
# (DECIMAL(38,0) products on Spark, HUGEINT on DuckDB), so the only float
# step is the ln of exact integers, micro-rounded like every LM scorer
# here; the per-doc mean is the sign-aware DIV identity.
#
# Plan shape: counts come from WINDOWS over one gram stream — n2/n1 as
# plain counts, the two continuation counts via the first-of-type flag
# (row_number over the bigram partition == 1; every row of a type shares
# w1 and w2, so summing the flag over the w1/w2 partitions IS the
# distinct-type count, no countDistinct window needed). The scalar NT
# rides a second census pass (the qc_benford scalar-anchor shape) —
# documents-text floor 2, recorded.
# ---------------------------------------------------------------------------
def corpus_lm_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    gstream = _bigrams(spark, sf_dir)
    grams = (
        gstream.withColumn(
            "is_first",
            (
                F.row_number().over(
                    Window.partitionBy("g").orderBy("doc_id")
                )
                == 1
            ).cast("long"),
        )
        .withColumn("n2", F.count("*").over(Window.partitionBy("g")))
        .withColumn("n1", F.count("*").over(Window.partitionBy("w1")))
        .withColumn("nf1", F.sum("is_first").over(Window.partitionBy("w1")))
        .withColumn("nb2", F.sum("is_first").over(Window.partitionBy("w2")))
    )
    nt = gstream.agg(F.countDistinct("g").alias("nt"))
    scored = grams.crossJoin(F.broadcast(nt)).select(
        "doc_id",
        _ln_micro(
            (
                F.greatest(
                    F.lit(4).cast("decimal(38,0)") * F.col("n2") - 3,
                    F.lit(0).cast("decimal(38,0)"),
                )
                * F.col("nt")
                + F.lit(3).cast("decimal(38,0)") * F.col("nf1") * F.col("nb2")
            ).cast("double")
            / (
                F.lit(4).cast("decimal(38,0)") * F.col("n1") * F.col("nt")
            ).cast("double")
        ).alias("qf"),
    )
    return _mean_nll(scored, "avg_nll_kn")


LM_KN_SQL = f"""
WITH {_bigram_ctes()},
c2 AS (SELECT g, COUNT(*) AS n2 FROM grams GROUP BY g),
cf1 AS (
  SELECT w1, COUNT(*) AS n1, COUNT(DISTINCT w2) AS nf1 FROM grams GROUP BY w1
),
cb2 AS (SELECT w2, COUNT(DISTINCT w1) AS nb2 FROM grams GROUP BY w2),
ntc AS (SELECT COUNT(DISTINCT g) AS nt FROM grams),
scored AS (
  SELECT grams.doc_id,
    CAST(ROUND(ln(
      CAST(GREATEST(CAST(4 AS HUGEINT) * c2.n2 - 3, CAST(0 AS HUGEINT)) * ntc.nt
           + CAST(3 AS HUGEINT) * cf1.nf1 * cb2.nb2 AS DOUBLE)
      / CAST(CAST(4 AS HUGEINT) * cf1.n1 * ntc.nt AS DOUBLE)
    ) * 1000000.0, 0) AS BIGINT) AS qf
  FROM grams
  JOIN c2 USING (g)
  JOIN cf1 USING (w1)
  JOIN cb2 USING (w2)
  CROSS JOIN ntc
),
{_mean_nll_sql("avg_nll_kn")}
"""


register(
    QuerySpec(
        "corpus_lm_kneser_ney",
        corpus_lm_kneser_ney,
        LM_KN_SQL,
        ("TX26",),
        doc="Kneser-Ney bigram LM scoring: continuation counts via first-of-type window flags, exact rational mixture",
    )
)


# ---------------------------------------------------------------------------
# corpus_tokenizer_fertility — tokenizer efficiency stats per (source,
# lang): characters per token and tokens per document. THE table a team
# reads when choosing a tokenizer for a corpus mix (fertility differences
# across languages decide vocab allocation) and the denominator behind
# every token-budget plan. Token counts ride the shared cached postings
# index (one documents-text scan, counted once however many consumers);
# the lang/n_chars metadata leg reads only narrow non-text columns.
# Ratios are HUGEINT/DECIMAL(38,0)-safe: at 100 TB the per-(source,lang)
# char totals (~1e13) overflow the naive 2*x*1e6 BIGINT idiom.
# ---------------------------------------------------------------------------
def corpus_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    posted = _token_postings(spark, sf_dir)
    dl = posted.groupBy("doc_id", "source").agg(
        F.count("term").cast("long").alias("dl")
    )
    meta = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    per = dl.join(meta, "doc_id")
    return (
        per.groupBy("source", "lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("dl").cast("bigint").alias("tot_tokens"),
            F.sum(F.coalesce(F.col("n_chars"), F.lit(0)))
            .cast("bigint")
            .alias("tot_chars"),
        )
        .select(
            "source",
            "lang",
            "n_docs",
            "tot_tokens",
            "tot_chars",
            F.when(
                F.col("tot_tokens") > 0,
                F.expr(
                    "CAST((2 * CAST(tot_chars AS DECIMAL(38,0)) * 1000000"
                    " + tot_tokens) DIV (2 * CAST(tot_tokens AS DECIMAL(38,0)))"
                    " AS BIGINT) / CAST(1000000.0 AS DOUBLE)"
                ),
            ).alias("chars_per_token"),
            F.expr(
                "CAST((2 * CAST(tot_tokens AS DECIMAL(38,0)) * 1000000"
                " + n_docs) DIV (2 * CAST(n_docs AS DECIMAL(38,0)))"
                " AS BIGINT) / CAST(1000000.0 AS DOUBLE)"
            ).alias("tokens_per_doc"),
        )
        .orderBy("source", "lang")
    )


FERTILITY_SQL = f"""
WITH tk AS (
  SELECT doc_id, source, lang, n_chars,
    COALESCE(len({_TOK_SQL}), 0) AS dl
  FROM documents
),
agg AS (
  SELECT source, lang,
    CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(dl) AS BIGINT) AS tot_tokens,
    CAST(SUM(COALESCE(n_chars, 0)) AS BIGINT) AS tot_chars
  FROM tk GROUP BY source, lang
)
SELECT source, lang, n_docs, tot_tokens, tot_chars,
  CASE WHEN tot_tokens > 0 THEN
    CAST((2 * CAST(tot_chars AS HUGEINT) * 1000000 + tot_tokens)
         // (2 * CAST(tot_tokens AS HUGEINT)) AS BIGINT)
      / CAST(1000000.0 AS DOUBLE)
  END AS chars_per_token,
  CAST((2 * CAST(tot_tokens AS HUGEINT) * 1000000 + n_docs)
       // (2 * CAST(n_docs AS HUGEINT)) AS BIGINT)
    / CAST(1000000.0 AS DOUBLE) AS tokens_per_doc
FROM agg
ORDER BY source, lang
"""


register(
    QuerySpec(
        "corpus_tokenizer_fertility",
        corpus_tokenizer_fertility,
        FERTILITY_SQL,
        ("CP13",),
        doc="chars-per-token / tokens-per-doc fertility by (source, lang): the tokenizer-choice and budget table",
    )
)


# ---------------------------------------------------------------------------
# text_pii_detect — PII risk screen per source: documents containing
# email-like tokens (@ with a dotted domain) or long digit runs (7+ =
# phone-like, 12+ = account/id-like). The pre-release scrub every
# training-data pipeline runs; this is the DETECTION census that decides
# which sources need a redaction pass. Detection is split-based (the
# round-11 finding: RegExpReplace/Count cost ~50x a split on the same
# text — whitespace-split + LIKE for emails, non-digit-split + length for
# digit runs keep the scan JVM-side and cheap). NULL text counts as a
# clean document. One documents-text scan.
# ---------------------------------------------------------------------------
def text_pii_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    t = F.coalesce(F.col("text"), F.lit(""))
    email = F.exists(
        F.split(F.lower(t), "\\s+"), lambda w: w.like("%@%.%")
    )
    runs = F.split(t, "[^0-9]+")
    phone = F.exists(runs, lambda r: F.length(r) >= 7)
    longid = F.exists(runs, lambda r: F.length(r) >= 12)
    flagged = docs.select(
        "source",
        email.cast("long").alias("e"),
        phone.cast("long").alias("p"),
        longid.cast("long").alias("i"),
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("e").cast("bigint").alias("n_email_like"),
            F.sum("p").cast("bigint").alias("n_digit7"),
            F.sum("i").cast("bigint").alias("n_digit12"),
            F.sum(
                F.greatest(F.col("e"), F.col("p"), F.col("i"))
            ).alias("n_flagged"),
        )
        .select(
            "source",
            "n_docs",
            "n_email_like",
            "n_digit7",
            "n_digit12",
            F.expr(
                "((2 * n_flagged * 1000000 + n_docs) DIV (2 * n_docs))"
                " / CAST(1000000.0 AS DOUBLE)"
            ).alias("flagged_share"),
        )
        .orderBy("source")
    )


PII_SQL = """
WITH f AS (
  SELECT source,
    CASE WHEN len(list_filter(
      string_split_regex(lower(COALESCE(text, '')), '\\s+'),
      w -> w LIKE '%@%.%')) > 0 THEN 1 ELSE 0 END AS e,
    CASE WHEN len(list_filter(
      string_split_regex(COALESCE(text, ''), '[^0-9]+'),
      r -> len(r) >= 7)) > 0 THEN 1 ELSE 0 END AS p,
    CASE WHEN len(list_filter(
      string_split_regex(COALESCE(text, ''), '[^0-9]+'),
      r -> len(r) >= 12)) > 0 THEN 1 ELSE 0 END AS i
  FROM documents
)
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(e) AS BIGINT) AS n_email_like,
  CAST(SUM(p) AS BIGINT) AS n_digit7,
  CAST(SUM(i) AS BIGINT) AS n_digit12,
  CAST((2 * SUM(GREATEST(e, p, i)) * 1000000 + COUNT(*))
       // (2 * COUNT(*)) AS BIGINT) / CAST(1000000.0 AS DOUBLE)
    AS flagged_share
FROM f
GROUP BY source
ORDER BY source
"""


register(
    QuerySpec(
        "text_pii_detect",
        text_pii_detect,
        PII_SQL,
        ("TX25",),
        doc="split-based PII census per source: email-like tokens and 7+/12+ digit runs, no regex hot path",
    )
)


# ---------------------------------------------------------------------------
# corpus_ccnet_perplexity_buckets — the CCNet head/middle/tail split
# (Wenzek et al. 2020, public): per LANGUAGE, rank every document by its
# corpus-LM perplexity proxy (the text_lm_score avg negative logprob) and
# cut exact terciles; "head" (most fluent) is what CCNet keeps for
# pretraining, "tail" is the boilerplate/gibberish band. Composes the
# proven bigram-LM scoring pass unchanged, so the plan inherits its ONE
# gram-stream text scan + token-index backing scan; the tercile window is
# PARTITIONED by lang — per-language sorts, no data-sized single-partition
# stage (unlike a corpus-global ntile). Output is bounded: 3 rows per
# language.
#
# Cross-engine exactness: avg_nll is the micro-rounded double both
# engines already agree on bit-for-bit; (avg_nll, doc_id) is a total
# order so NTILE(3) buckets match exactly; per-bucket means go through
# the integer (2*sum+n) DIV 2n identity in micro units.
# ---------------------------------------------------------------------------
def corpus_ccnet_perplexity_buckets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    scored = text_lm_score(spark, sf_dir)
    langs = read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    d = scored.join(langs, "doc_id").withColumn(
        "m", F.round(F.col("avg_nll") * 1000000.0, 0).cast("long")
    )
    w = Window.partitionBy("lang").orderBy("avg_nll", "doc_id")
    b = d.withColumn("tile", F.ntile(3).over(w)).withColumn(
        "bucket",
        F.when(F.col("tile") == 1, F.lit("head"))
        .when(F.col("tile") == 2, F.lit("middle"))
        .otherwise(F.lit("tail")),
    )
    return (
        b.groupBy("lang", "bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.expr("(2 * sum(m) + count(*)) DIV (2 * count(*))").alias("_mm"),
            F.min("avg_nll").alias("min_nll"),
            F.max("avg_nll").alias("max_nll"),
        )
        .select(
            "lang",
            "bucket",
            "n_docs",
            (F.col("_mm").cast("long") / F.lit(1000000.0)).alias("mean_nll"),
            "min_nll",
            "max_nll",
        )
        .orderBy("lang", "bucket")
    )


CCNET_BUCKETS_SQL = f"""
WITH tk AS (
  SELECT doc_id, {_TOK_SQL} AS tok FROM documents
),
grams AS (
  SELECT doc_id, g, string_split(g, ' ')[1] AS w1
  FROM (
    SELECT doc_id, unnest({text.word_shingles_sql("tok", 2)}) AS g FROM tk
  )
),
c2 AS (SELECT g, COUNT(*) AS n2 FROM grams GROUP BY g),
c1 AS (SELECT w1, COUNT(*) AS n1 FROM grams GROUP BY w1),
vocab AS (
  SELECT COUNT(DISTINCT w) AS v
  FROM (SELECT unnest(tok) AS w FROM tk)
),
qscored AS (
  SELECT grams.doc_id,
    CAST(ROUND(ln((c2.n2 + 1.0) / (c1.n1 + vocab.v)) * 1000000.0, 0)
         AS BIGINT) AS qf
  FROM grams
  JOIN c2 USING (g)
  JOIN c1 USING (w1)
  CROSS JOIN vocab
),
agg AS (
  SELECT doc_id, COUNT(*) AS n_bigrams, SUM(qf) AS sq
  FROM qscored GROUP BY doc_id
),
nll AS (
  SELECT doc_id,
    CAST(-(CAST(CASE WHEN sq < 0 THEN -1 ELSE 1 END
                * ((2 * ABS(sq) + n_bigrams) // (2 * n_bigrams)) AS BIGINT))
         AS DOUBLE) / CAST(1000000.0 AS DOUBLE) AS avg_nll
  FROM agg
),
tiled AS (
  SELECT d.lang, nll.avg_nll,
    CAST(ROUND(nll.avg_nll * 1000000.0, 0) AS BIGINT) AS m,
    NTILE(3) OVER (PARTITION BY d.lang
                   ORDER BY nll.avg_nll, nll.doc_id) AS tile
  FROM nll JOIN documents d USING (doc_id)
)
SELECT lang,
  CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
    AS bucket,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST((2 * SUM(m) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
    / CAST(1000000.0 AS DOUBLE) AS mean_nll,
  MIN(avg_nll) AS min_nll,
  MAX(avg_nll) AS max_nll
FROM tiled
GROUP BY lang, tile
ORDER BY lang, bucket
"""


register(
    QuerySpec(
        "corpus_ccnet_perplexity_buckets",
        corpus_ccnet_perplexity_buckets,
        CCNET_BUCKETS_SQL,
        ("CP14",),
        doc="CCNet-style per-language head/middle/tail perplexity terciles over the corpus bigram LM; partitioned ntile, bounded output",
    )
)


# ---------------------------------------------------------------------------
# corpus_training_order — seeded deterministic global shuffle + shard
# assignment: the training-order layout step every pretraining pipeline
# runs between curation and the data loader. Each document gets a
# pseudorandom but REPRODUCIBLE position (ord) in the epoch — the sort key
# is md5(seed || doc_id), so re-running with the same seed yields the same
# order on any cluster size — and a fixed-size shard (shard, pos) so
# loaders can address ranges without a manifest.
#
# The naive spelling is ROW_NUMBER() OVER (ORDER BY md5(...)) — the
# unpartitioned data-sized window the plan-audit ratchet bans. This rides
# operators/ranking.py:global_row_number instead (range exchange +
# monotonically_increasing_id bit layout + broadcast partition-count
# offsets): exact, partition-parallel at any scale, with the scheme's one
# unpartitioned window bounded at one row per shuffle partition. NULL
# ordering is pinned NULLS FIRST on both engines (the round-10 waterfill
# lesson: default NULL order diverges and ranking feeds logic).
# ---------------------------------------------------------------------------
TRAINING_ORDER_SEED = "seed42"
SHARD_DOCS = 1000


def corpus_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import global_row_number

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    keyed = docs.select(
        "doc_id",
        F.md5(
            F.concat(
                F.lit(TRAINING_ORDER_SEED + ":"), F.col("doc_id").cast("string")
            )
        ).alias("k"),
    )
    ranked = global_row_number(
        keyed,
        [F.col("k").asc_nulls_first(), F.col("doc_id").asc_nulls_first()],
        out="ord",
    )
    return ranked.select(
        "doc_id",
        F.col("ord").cast("bigint").alias("ord"),
        F.expr(f"CAST((ord - 1) DIV {SHARD_DOCS} AS BIGINT)").alias("shard"),
        F.expr(f"CAST((ord - 1) % {SHARD_DOCS} AS BIGINT)").alias("pos"),
    ).sortWithinPartitions("doc_id")


TRAINING_ORDER_SQL = f"""
WITH keyed AS (
  SELECT doc_id,
    md5('{TRAINING_ORDER_SEED}:' || CAST(doc_id AS VARCHAR)) AS k
  FROM documents
),
ranked AS (
  SELECT doc_id,
    CAST(ROW_NUMBER() OVER (
      ORDER BY k NULLS FIRST, doc_id NULLS FIRST
    ) AS BIGINT) AS ord
  FROM keyed
)
SELECT doc_id, ord,
  CAST((ord - 1) // {SHARD_DOCS} AS BIGINT) AS shard,
  CAST((ord - 1) % {SHARD_DOCS} AS BIGINT) AS pos
FROM ranked
ORDER BY doc_id
"""


register(
    QuerySpec(
        "corpus_training_order",
        corpus_training_order,
        TRAINING_ORDER_SQL,
        ("CP40",),
        doc="seeded deterministic training-order shuffle + fixed-size shard assignment via the distributed exact-rank primitive",
    )
)


# ---------------------------------------------------------------------------
# corpus_cdc_chunk_dedup — content-defined chunking (Rabin-style) dedup:
# chunk boundaries are chosen BY THE CONTENT (a rolling hash over the
# last CDC_K tokens hits 0 mod CDC_DIV), so an insertion or deletion
# early in a document only perturbs the chunks around the edit — unlike
# the fixed-width chunker (corpus_chunk_dedup, DD10), where one shifted
# byte re-hashes every downstream chunk. This is the storage-dedup /
# incremental-crawl-dedup technique (Muthitacharoen et al., LBFS
# SOSP'01; FastCDC ATC'16) applied at token granularity: re-crawled
# pages with small edits still dedup chunk-for-chunk.
#
# Plan: ONE documents scan -> tokenize -> posexplode to a token stream
# (embarrassingly parallel) -> per-token poly-hash -> the rolling CDC_K
# hash from three lag() windows + the boundary running count, ALL
# partitioned by doc_id over a single exchange -> chunk reassembly is
# one (doc_id, chunk_id) groupBy (order restored via array_sort of
# (pos, token) structs) -> md5 hash-groupBy histogram, the DD1 shape.
# Nothing is quadratic, no unpartitioned window, nothing collects; at
# 100 TB the token stream shuffles once on doc_id and the chunk
# histogram is map-side combinable.
#
# Cross-engine exactness: the rolling hash is pure integer mod-P
# arithmetic over poly_hash token values (hashing.poly_hash twin);
# chunk text rebuilds identically via array_sort struct ordering ==
# string_agg ORDER BY pos; md5 is md5 on both engines. The boundary
# rule closes the chunk AT the boundary token; the final partial chunk
# always closes at end-of-document on both engines by construction.
# ---------------------------------------------------------------------------
CDC_K = 4  # rolling-hash window (tokens)
CDC_DIV = 16  # boundary divisor -> ~CDC_DIV-token expected chunk length


def corpus_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    tk = docs.select(
        "doc_id", text.tokens(F.col("text")).alias("tok")
    )
    pos = tk.select(
        "doc_id", F.posexplode("tok").alias("pos", "t")
    ).withColumn("th", hashing.poly_hash(F.col("t")))
    w = Window.partitionBy("doc_id").orderBy("pos")
    P = hashing.MERSENNE_P
    h0 = F.coalesce(F.lag("th", 3).over(w), F.lit(0))
    h1 = F.coalesce(F.lag("th", 2).over(w), F.lit(0))
    h2 = F.coalesce(F.lag("th", 1).over(w), F.lit(0))
    roll = (
        (
            ((h0 * 31 + h1) % P * 31 + h2) % P * 31 + F.col("th")
        ) % P
    )
    marked = pos.withColumn(
        "boundary", F.when(roll % CDC_DIV == 0, 1).otherwise(0)
    )
    w_prior = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = marked.withColumn(
        "chunk_id", F.coalesce(F.sum("boundary").over(w_prior), F.lit(0))
    )
    chunks = chunked.groupBy("doc_id", "chunk_id").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "t"))),
                    lambda s: s["t"],
                ),
                " ",
            )
        ).alias("h"),
        F.count("*").cast("bigint").alias("n_tokens"),
    )
    return (
        chunks.groupBy("h")
        .agg(
            F.count("*").alias("n_copies"),
            F.sum("n_tokens").cast("bigint").alias("toks"),
        )
        .groupBy("n_copies")
        .agg(
            F.count("*").cast("bigint").alias("n_groups"),
            F.sum("toks").cast("bigint").alias("tok_total"),
        )
        .orderBy("n_copies")
    )


CDC_CHUNK_DEDUP_SQL = f"""
WITH tk AS (
  SELECT doc_id, {text.tokens_sql('text')} AS tok FROM documents
),
pos AS (
  SELECT doc_id, unnest(tok) AS t, unnest(range(len(tok))) AS pos FROM tk
),
hashed AS (
  SELECT doc_id, pos, t, {hashing.poly_hash_sql('t')} AS th FROM pos
),
rolled AS (
  SELECT doc_id, pos, t,
    ((((COALESCE(lag(th, 3) OVER w, 0) * 31 + COALESCE(lag(th, 2) OVER w, 0))
       % {hashing.MERSENNE_P} * 31 + COALESCE(lag(th, 1) OVER w, 0))
      % {hashing.MERSENNE_P} * 31 + th) % {hashing.MERSENNE_P}) AS roll
  FROM hashed
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
chunked AS (
  SELECT doc_id, pos, t,
    COALESCE(SUM(CASE WHEN roll % {CDC_DIV} = 0 THEN 1 ELSE 0 END)
      OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
  FROM rolled
),
chunks AS (
  SELECT doc_id, chunk_id,
    md5(string_agg(t, ' ' ORDER BY pos)) AS h,
    CAST(COUNT(*) AS BIGINT) AS n_tokens
  FROM chunked GROUP BY doc_id, chunk_id
)
SELECT n_copies,
  CAST(COUNT(*) AS BIGINT) AS n_groups,
  CAST(SUM(toks) AS BIGINT) AS tok_total
FROM (
  SELECT h, COUNT(*) AS n_copies, CAST(SUM(n_tokens) AS BIGINT) AS toks
  FROM chunks GROUP BY h
) GROUP BY n_copies ORDER BY n_copies
"""


register(
    QuerySpec(
        "corpus_cdc_chunk_dedup",
        corpus_cdc_chunk_dedup,
        CDC_CHUNK_DEDUP_SQL,
        ("DD27",),
        doc="content-defined (Rabin rolling-hash) chunk dedup: shift-resistant boundaries, one doc_id exchange, DD1 histogram shape",
    )
)
