"""LLM training-data pipeline queries: dedup, similarity search, text
analysis, multimodal metadata — over the ``documents`` / ``embeddings``
tables.

Every query is a (DataFrame plan, DuckDB oracle) pair built from the shared
engine-portable primitives in ``functions/`` (poly-hash, tokenizer, vector
math), so the oracle computes byte-identical values.

Scale design notes appear per query; the common themes:
- shingle/token explode → shuffle keyed on the shingle: bounded by a
  document-frequency cap (drops ultra-common shingles — the classic skew
  guard for similarity self-joins);
- pairwise verification only ever runs on CANDIDATES (LSH buckets or label
  blocks), never the full cross product;
- everything is built-in Column expressions, the (stub) multimodal decode
  included — no query plan crosses into Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import hashing, text, vectors
from ..multimodal import (
    attach_fake_payload,
    audio_meta,
    frame_energy,
    frame_sample,
    image_features,
    image_meta,
    image_resize,
)
from ..session import repartition_undersplit
from ..sources import read_embeddings, read_table
from ..sources.tables import EMB_SOURCE_SQL
from .registry import QuerySpec, register

P = hashing.MERSENNE_P
PERMS = hashing.MINHASH_PERMS

#: shingles present in more than this many docs are dropped before the
#: similarity self-join (skew/fanout guard).
DOC_FREQ_CAP = 100
JACCARD_THRESHOLD = 0.8
MINHASH_VERIFY_THRESHOLD = 0.7
COSINE_DUP_THRESHOLD = 0.4

_TOK_SQL = text.tokens_sql("text")


def _doc_tokens(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", text.tokens(F.col("text")).alias("tok"))


# ---------------------------------------------------------------------------
# dedup_exact_hist — exact dedup via content hash (hash-groupBy; the
# distributed form of `dropDuplicates(subset=[content])`). Output is the
# copies-per-content histogram so the query is informative even when the
# corpus has no exact dups.
# ---------------------------------------------------------------------------
def dedup_exact_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.col("text")).alias("h"))
        .agg(F.count("*").alias("n_copies"))
        .groupBy("n_copies")
        .agg(F.count("*").alias("n_groups"))
        .orderBy("n_copies")
    )


DEDUP_EXACT_SQL = """
SELECT n_copies, COUNT(*) AS n_groups FROM (
  SELECT md5(text) AS h, COUNT(*) AS n_copies FROM documents GROUP BY 1
) GROUP BY n_copies ORDER BY n_copies
"""


# ---------------------------------------------------------------------------
# dedup_ngram_jaccard — near-dup pairs by exact 3-word-shingle Jaccard.
# Plan shape: explode→distinct (shuffle on (doc,shingle)) → doc-freq cap →
# self-join keyed on shingle (shuffle on shingle; fanout bounded by the cap)
# → per-pair overlap count → Jaccard filter. At 100 TB you run
# dedup_minhash_lsh_pairs instead and reserve this as the verify stage.
# ---------------------------------------------------------------------------
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # consume the shared corpus shingle index (one materialization serves
    # every dedup/contamination consumer), then apply the doc-frequency cap
    # in a single pass: the explicit repartition on the shingle key feeds a
    # window count over that same partitioning (no second traversal, no
    # count+semi-join round trip). The window stays the cap mechanism
    # because WindowExec spills per-group row buffers to disk — a hot
    # shingle ("the quick brown" at corpus scale) survives counting,
    # whereas a collect-then-filter aggregate would materialize its full
    # doc array before the cap could drop it.
    #
    # Round-14 restructure (guide §2.4): the old shape consumed the capped
    # table FOUR times (self-join a/b sides + the sizes branch behind both
    # na and nb broadcasts) and the Window above the reused exchange was
    # re-evaluated per consumer — four sorts + count passes over the index
    # per run. Now the capped rows collapse once into per-shingle sorted
    # doc arrays (bounded by the cap: ≤ DOC_FREQ_CAP elements, so the
    # collect is memory-safe) and pair candidates are generated in-array
    # (combinations of a ≤100-element list), replacing the keyed self-join
    # outright; sizes re-derive from exploding the SAME bounded arrays.
    # The window subtree still appears 3× statically (pairs + the na/nb
    # size branches — sizes is doc-grain so n cannot ride the arrays), all
    # three over ONE reused shingle exchange; what's gone is the
    # full-width keyed self-join and its fourth window pass. Measured at
    # sf0.1 warm-index: 1.68 → 1.52 s (and 1.44 controlled minimum on the
    # bench line after the hub-wide index changes landed).
    per_sh = (
        _rare_shingles(read_table(spark, sf_dir, "documents"))
        # same hash partitioning as the groupBy key -> no new exchange
        .groupBy("sh")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("docs"))
    )
    # all (doc_a < doc_b) combinations within each bounded doc array —
    # exactly the rows the old self-join produced, without the join
    pairs = per_sh.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("docs"),
                    lambda x, i: F.transform(
                        F.slice(F.col("docs"), i + F.lit(2), F.size(F.col("docs"))),
                        lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b")
    common = pairs.groupBy("doc_a", "doc_b").agg(F.count("*").alias("common"))
    sizes = (
        per_sh.select(F.explode("docs").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        common.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
        # bulk pair export: partition-local order only (round-9 lesson —
        # a trailing global orderBy makes the RangePartitioner replay the
        # verify stage; the driver/oracle compare is order-insensitive)
        .sortWithinPartitions("doc_a", "doc_b")
    )


#: The doc-frequency-capped shingle overlap (tk → shing → rare → shr →
#: sizes → common): per-doc capped shingle counts and the shared-shingle
#: count of every doc pair, the SQL twin of :func:`_rare_shingles` plus
#: its self-join. Shared by the Jaccard and containment oracles.
_RARE_SHINGLE_CTES = f"""tk AS (
  SELECT doc_id, {_TOK_SQL} AS tok FROM documents
),
shing AS (
  SELECT DISTINCT doc_id, unnest({text.word_shingles_sql("tok", 3)}) AS sh FROM tk
),
rare AS (
  SELECT sh FROM (SELECT sh, COUNT(*) c FROM shing GROUP BY sh) WHERE c <= {DOC_FREQ_CAP}
),
shr AS (SELECT shing.doc_id, shing.sh FROM shing JOIN rare USING (sh)),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shr GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
  FROM shr a JOIN shr b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)"""

DEDUP_NGRAM_SQL = f"""
WITH {_RARE_SHINGLE_CTES}
SELECT doc_a, doc_b,
       ROUND(CAST(common AS DOUBLE) / (na.n + nb.n - common), 6) AS jaccard
FROM common
JOIN sizes na ON common.doc_a = na.doc_id
JOIN sizes nb ON common.doc_b = nb.doc_id
WHERE ROUND(CAST(common AS DOUBLE) / (na.n + nb.n - common), 6) >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# dedup_minhash_signatures — k=8 minhash signature per doc over 3-word
# shingle sets (unigram sets barely discriminate on a shared vocabulary —
# shingles carry the order signal): one explode + one groupBy(doc) with k
# min() aggregates (map-side partial min → tiny shuffle).
# ---------------------------------------------------------------------------
def _doc_shingles(docs: DataFrame) -> DataFrame:
    """The corpus shingle index of a documents frame (``doc_id``,
    ``text``): distinct ``(doc_id, t, h)`` rows, cached.

    This is the one materialization every shingle consumer shares — minhash
    signatures, LSH candidate verification, ngram-Jaccard, contamination,
    and the corpus-prep capstone (Spark caches by logical plan, so repeated
    calls on the same documents plan hit the same cache entry). The
    poly-hash is computed HERE, once per distinct shingle row: it is a
    per-character fold (higher-order aggregate, the priciest scalar in the
    module), so pinning it in the index instead of recomputing it per
    consumer turns the sig build into plain int arithmetic. At 100 TB the same table is what you'd
    persist to parquet bucketed by shingle.
    """
    tok = _doc_tokens(docs)
    # Round-14 (guide §2.4): shingle duplicates only exist WITHIN a
    # document, so per-doc array_distinct BEFORE the explode replaces the
    # old row-level .distinct() — which was the engine's single widest
    # exchange: a full shuffle of the raw exploded corpus (≈3× the text
    # bytes) purely to dedup rows that were already doc-local. The map-side
    # dedup costs ~25% more scan CPU locally (array hash-set per doc;
    # measured 0.94 → 1.06 s cold at sf0.1) but the build is now
    # exchange-FREE (plan: 1 Exchange → 0), and the doc-contiguous cached
    # rows make every downstream groupBy("doc_id") partial-aggregate to
    # ~1 row/doc before its shuffle. At 100 TB the removed exchange is
    # wall-clock ≈ shuffle_bytes/(N·NIC) on 3× the corpus — orders beyond
    # the added CPU. Row-identical at sf0.1 (exceptAll both ways = 0).
    #
    # Guide §2.5 "input skew — one huge unsplittable file: repartition
    # immediately after the read": the old distinct exchange had been
    # (accidentally) supplying the build's parallelism — the local
    # single-row-group parquet scans as ONE task, and exchange-free the
    # whole tokenize+shingle+hash pipeline serialized onto it (bench line
    # 0.95 → 1.7 s). The guard below is DATA-adaptive, not a local[32]
    # constant: it fires only when the scan under-splits the session's
    # parallelism (never at 100 TB, where splits abound and the exchange
    # would be pure waste), and what it shuffles is doc-grain token rows
    # (≈1× corpus bytes) — still 3× narrower than the old exploded
    # exchange, and it shows up in the plan only on under-split inputs.
    # The probe result is cached per plan, so repeated plan builds neither
    # re-pay the DataFrame→RDD conversion nor flip the plan shape
    # mid-session.
    return (
        repartition_undersplit(tok)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(text.word_shingles(F.col("tok"), 3))
            ).alias("t"),
        )
        .withColumn("h", hashing.poly_hash(F.col("t")))
        .cache()
    )


def _minhash_sig(docs: DataFrame, extra_aggs=()) -> DataFrame:
    """Per-doc 8-min minhash signature off the shared shingle index.

    ``extra_aggs`` lets a caller ride additional aggregates on the SAME
    doc-grain groupBy pass (round 15, ADVICE r14: _lsh_candidate_jaccards
    had inlined this body to add its ``n`` count, forking the signature
    expression list — which this function exists to keep single-sourced
    with the ``_MH_MINS`` SQL twin below)."""
    t = _doc_shingles(docs)
    return t.groupBy("doc_id").agg(
        *[
            F.min(hashing.minhash_value(F.col("h"), PERMS[j])).alias(f"mh{j}")
            for j in range(len(PERMS))
        ],
        *extra_aggs,
    )


def _rare_shingles(docs: DataFrame) -> DataFrame:
    """``(doc_id, sh)`` rows of the shingle index whose shingle occurs in at
    most :data:`DOC_FREQ_CAP` docs, hash-partitioned on ``sh``: the count
    is a window over that partitioning, so no second exchange follows."""
    return (
        _doc_shingles(docs)
        .select("doc_id", F.col("t").alias("sh"))
        .repartition(F.col("sh"))
        .withColumn("df", F.count("*").over(Window.partitionBy("sh")))
        .filter(F.col("df") <= DOC_FREQ_CAP)
        .drop("df")
    )


def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return _minhash_sig(docs).sortWithinPartitions("doc_id")


_MH_MINS = ",\n  ".join(
    f"MIN({hashing.minhash_value_sql('h', PERMS[j])}) AS mh{j}"
    for j in range(len(PERMS))
)

#: Per-doc distinct 3-word shingles ``uni`` and their minhash signature
#: ``sig`` over a ``tk(doc_id, tok)`` CTE (the SQL twin of
#: :func:`_minhash_sig`).
_SIG_CTES = f"""uni AS (
  SELECT DISTINCT doc_id, unnest({text.word_shingles_sql("tok", 3)}) AS t FROM tk
),
hh AS (SELECT doc_id, {hashing.poly_hash_sql('t')} AS h FROM uni),
sig AS (
  SELECT doc_id, {_MH_MINS}
  FROM hh GROUP BY doc_id
)"""

MINHASH_SIG_CTE = f"""
tk AS (
  SELECT doc_id, {_TOK_SQL} AS tok FROM documents
),
{_SIG_CTES}
"""

DEDUP_MINHASH_SIG_SQL = f"WITH {MINHASH_SIG_CTE} SELECT * FROM sig ORDER BY doc_id"


# ---------------------------------------------------------------------------
# dedup_minhash_lsh_pairs — banding: 4 bands × 2 rows; docs sharing any band
# key become candidates; candidates are verified with TRUE shingle Jaccard.
# This is the 100 TB-scale dedup path: the only all-pairs-ish operation is a
# groupBy on band keys, and verification touches candidate pairs only.
# ---------------------------------------------------------------------------
def _lsh_candidates(sig: DataFrame, *carry: str) -> DataFrame:
    """Distinct ``(doc_a < doc_b)`` pairs of a minhash signature frame that
    share any band key (4 bands × 2 rows). Each ``carry`` column of ``sig``
    rides along per side as ``{c}a`` / ``{c}b``."""
    bands = sig.select(
        "doc_id",
        *carry,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.concat_ws(
                            "_", F.col(f"mh{2 * i}"), F.col(f"mh{2 * i + 1}")
                        ).alias("key"),
                    )
                    for i in range(len(PERMS) // 2)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", *carry, "bk.band", "bk.key")
    a, b = bands.alias("a"), bands.alias("b")

    def side(t: str) -> list[Column]:
        return [
            F.col(f"{t}.doc_id").alias(f"doc_{t}"),
            *[F.col(f"{t}.{c}").alias(f"{c}{t}") for c in carry],
        ]

    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(*side("a"), *side("b"))
        .distinct()
    )


def _lsh_candidate_jaccards(docs: DataFrame) -> DataFrame:
    """(doc_a, doc_b, jaccard) for EVERY banded-LSH candidate pair, before
    any threshold — shared by the pair exporter and the threshold-curve
    tuning view so the candidate definition can never fork.

    Round-14 restructure: the per-doc shingle count ``n``
    is computed as one extra aggregate in the SAME groupBy that already
    builds the 8 minhash mins (a map-side-combinable pass that exists
    anyway) and rides through the band explode and the candidate join —
    two BIGINTs per row. That deletes the old trailing ``sizes`` subtree:
    a separate doc-grain aggregation over the full index plus TWO
    pair⨝doc joins after the verify, each with its own exchange of the
    doc-cardinality table. Verified row-identical at sf0.1 (exceptAll both
    ways = 0) and measured 0.949 s → 0.719 s warm-index."""
    uni = _doc_shingles(docs)
    sig = _minhash_sig(docs, extra_aggs=(F.count("*").alias("n"),))
    cand = _lsh_candidates(sig, "n")
    ua = uni.select(F.col("doc_id").alias("doc_a"), F.col("t").alias("t"))
    ub = uni.select(F.col("doc_id").alias("doc_b"), F.col("t").alias("t"))
    common = (
        cand.join(ua, "doc_a")
        .join(ub, ["doc_b", "t"])
        # na/nb are functionally dependent on (doc_a, doc_b): same groups,
        # zero extra shuffle width beyond the two counters
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count("*").alias("common"))
    )
    return common.withColumn(
        "jaccard",
        F.round(
            F.col("common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("common")),
            6,
        ),
    ).select("doc_a", "doc_b", "jaccard")


def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _lsh_candidate_jaccards(read_table(spark, sf_dir, "documents"))
        .filter(F.col("jaccard") >= MINHASH_VERIFY_THRESHOLD)
        .sortWithinPartitions("doc_a", "doc_b")
    )


_BAND_SELECTS = "\nUNION ALL\n".join(
    f"SELECT doc_id, {i} AS band, CAST(mh{2 * i} AS VARCHAR) || '_' || CAST(mh{2 * i + 1} AS VARCHAR) AS key FROM sig"
    for i in range(len(PERMS) // 2)
)

#: The banded-LSH candidate chain over ``MINHASH_SIG_CTE``'s ``sig`` and
#: ``uni`` (bands → cand → sizes → common): the one SQL definition of the
#: candidate set and its shared-shingle counts, which every LSH oracle
#: below (and ``CORPUS_PREP_SQL``) composes.
_LSH_COMMON_CTES = f"""bands AS ({_BAND_SELECTS}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM uni GROUP BY doc_id),
common AS (
  SELECT cand.doc_a, cand.doc_b, COUNT(*) AS common
  FROM cand
  JOIN uni ua ON ua.doc_id = cand.doc_a
  JOIN uni ub ON ub.doc_id = cand.doc_b AND ub.t = ua.t
  GROUP BY 1, 2
)"""

#: ``_LSH_COMMON_CTES`` plus ``jac``: every candidate pair with its true
#: shingle Jaccard, before any threshold (the SQL twin of
#: :func:`_lsh_candidate_jaccards`).
_LSH_JACCARD_CTES = f"""{_LSH_COMMON_CTES},
jac AS (
  SELECT common.doc_a, common.doc_b,
    ROUND(CAST(common AS DOUBLE) / (na.n + nb.n - common), 6) AS jaccard
  FROM common
  JOIN sizes na ON common.doc_a = na.doc_id
  JOIN sizes nb ON common.doc_b = nb.doc_id
)"""

DEDUP_MINHASH_PAIRS_SQL = f"""
WITH {MINHASH_SIG_CTE},
{_LSH_JACCARD_CTES}
SELECT doc_a, doc_b, jaccard FROM jac
WHERE jaccard >= {MINHASH_VERIFY_THRESHOLD}
ORDER BY doc_a, doc_b
"""

#: The verified-LSH-pairs CTE chain (bands → cand → sizes → common → pairs),
#: shared by EVERY oracle that consumes the near-dup pair graph (CC clusters,
#: canonical docs, triangle census, split leakage). One copy, because the
#: Jaccard-verify predicate must stay byte-identical with the Spark
#: implementation above — prepend ``WITH RECURSIVE {MINHASH_SIG_CTE},``.
VERIFIED_PAIRS_CTES = f"""{_LSH_COMMON_CTES},
pairs AS (
  SELECT doc_a, doc_b
  FROM common
  JOIN sizes na ON common.doc_a = na.doc_id
  JOIN sizes nb ON common.doc_b = nb.doc_id
  WHERE ROUND(CAST(common AS DOUBLE) / (na.n + nb.n - common), 6)
        >= {MINHASH_VERIFY_THRESHOLD}
)"""


# ---------------------------------------------------------------------------
# dedup_simhash — 16-bit simhash per doc from token poly-hashes (with
# multiplicity): explode → groupBy(doc) with 16 signed-vote sums → bit
# assembly. Near-dup lookup then groups by simhash / hamming neighborhoods.
# ---------------------------------------------------------------------------
SIMHASH_BITS = 16


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = _doc_tokens(read_table(spark, sf_dir, "documents"))
    t = tok.select("doc_id", F.explode("tok").alias("t"))
    h = t.withColumn("h", hashing.poly_hash(F.col("t")))
    votes = h.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.col("h").bitwiseAND(F.lit(1 << b)) != 0, 1).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    sim = votes.select(
        "doc_id",
        sum(
            [
                F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
                for b in range(SIMHASH_BITS)
            ],
            F.lit(0),
        ).cast("long").alias("simhash16"),
    )
    return sim.sortWithinPartitions("doc_id")


_SIM_VOTES = ",\n  ".join(
    f"SUM(CASE WHEN (h & {1 << b}) <> 0 THEN 1 ELSE -1 END) AS s{b}"
    for b in range(SIMHASH_BITS)
)
_SIM_ASSEMBLE = " + ".join(
    f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(SIMHASH_BITS)
)

DEDUP_SIMHASH_SQL = f"""
WITH tk AS (
  SELECT doc_id, {_TOK_SQL} AS tok FROM documents
),
tt AS (SELECT doc_id, unnest(tok) AS t FROM tk),
hh AS (SELECT doc_id, {hashing.poly_hash_sql('t')} AS h FROM tt),
votes AS (
  SELECT doc_id, {_SIM_VOTES}
  FROM hh GROUP BY doc_id
)
SELECT doc_id, CAST({_SIM_ASSEMBLE} AS BIGINT) AS simhash16
FROM votes ORDER BY doc_id
"""


def _emb_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cached (vec_id, label, v float64[]) vector store.

    The embeddings analogue of the shared shingle index (``_doc_shingles``)
    and BM25 postings (``_token_postings``): the round-12 payload-table
    scan census found the multi-pass vector algorithms (two-level IVF,
    Lloyd refinement, power iteration, PQ codebooks) re-planning the
    parquet read once per reference — up to 45 static embeddings scans in
    one plan. Every multi-reference consumer now reads THIS one
    materialization (Spark caches by logical plan, so repeated calls with
    the same sf_dir share one cache entry). At 100 TB this is the vector
    table an iterative job persists before its first pass — MLlib's own
    clustering does exactly this — instead of re-reading object storage
    per iteration. The float→double widening is pinned here too, so the
    cache holds the arithmetic-ready array.

    Single-reference queries (one corpus pass + a broadcast query side)
    deliberately stay on the raw scan: column pruning there reaches the
    parquet reader, and a cache would only add a materialization they
    never reuse.
    """
    emb = read_embeddings(spark, sf_dir)
    return emb.select(
        "vec_id", "label", vectors.as_double(F.col("embedding")).alias("v")
    ).cache()


def _int8_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(vec_id, v double[], q int8 codes)`` off the quarantined raw
    embeddings scan (single-pass consumers; see :func:`_emb_base`)."""
    v = vectors.as_double(F.col("embedding"))
    return read_embeddings(spark, sf_dir).select(
        "vec_id",
        v.alias("v"),
        vectors.int8_quantize(v).alias("q"),
    )


#: int8 codes of every quarantined vector (e → sc → base), the SQL twin of
#: :func:`_int8_base`: ``q_i = floor(x_i * 127 / max|x|)``.
_INT8_BASE_CTES = f"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM {EMB_SOURCE_SQL}),
sc AS (
  SELECT vec_id, v, 127.0 / list_max(list_transform(v, x -> abs(x))) AS s
  FROM e
),
base AS (
  SELECT vec_id, v,
         list_transform(v, x -> CAST(floor(x * s) AS BIGINT)) AS q
  FROM sc
)"""


# ---------------------------------------------------------------------------
# ann_topk_cosine — brute-force cosine top-k against a query vector
# (vec_id 0). The one-row query side is broadcast; the scan side streams —
# this is the exact-baseline ANN a 1000-executor cluster runs when recall
# must be 1.0. TakeOrderedAndProject keeps only k rows per partition.
# ---------------------------------------------------------------------------
ANN_K = 10


def ann_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_embeddings(spark, sf_dir)
    e = emb.select("vec_id", vectors.as_double(F.col("embedding")).alias("v"))
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    return (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(vectors.cosine(F.col("v"), F.col("qv")), 6).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), F.col("vec_id"))
        .limit(ANN_K)
    )


ANN_TOPK_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM {EMB_SOURCE_SQL}),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
SELECT vec_id, ROUND({vectors.cosine_sql('v', 'qv')}, 6) AS cos
FROM e, q WHERE vec_id <> 0
ORDER BY cos DESC, vec_id
LIMIT {ANN_K}
"""


# ---------------------------------------------------------------------------
# ann_lsh_buckets — sign-LSH bucketing (the scale path for ANN): 8 fixed
# integer hyperplanes → 8 sign bits → bucket id. Search then probes only the
# query's bucket (candidate set ~ N/256) instead of the full corpus.
# ---------------------------------------------------------------------------
def _plane_lit(j: int):
    return F.array(
        *[
            F.lit(float(hashing.lsh_plane_component(j, d)))
            for d in range(hashing.LSH_DIM)
        ]
    )


def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_embeddings(spark, sf_dir)
    e = emb.select("vec_id", vectors.as_double(F.col("embedding")).alias("v"))
    bucket = sum(
        [
            F.when(vectors.dot(F.col("v"), _plane_lit(j)) > 0, F.lit(1 << j)).otherwise(
                F.lit(0)
            )
            for j in range(hashing.LSH_PLANES)
        ],
        F.lit(0),
    )
    return e.select(
        "vec_id", bucket.cast("long").alias("bucket")
    ).sortWithinPartitions("vec_id")


def _plane_sql(j: int) -> str:
    vals = ", ".join(
        f"{float(hashing.lsh_plane_component(j, d))}" for d in range(hashing.LSH_DIM)
    )
    return f"[{vals}]::DOUBLE[]"


_BUCKET_SQL = " + ".join(
    f"(CASE WHEN list_dot_product(v, {_plane_sql(j)}) > 0 THEN {1 << j} ELSE 0 END)"
    for j in range(hashing.LSH_PLANES)
)

ANN_LSH_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM {EMB_SOURCE_SQL})
SELECT vec_id, CAST({_BUCKET_SQL} AS BIGINT) AS bucket
FROM e ORDER BY vec_id
"""


# ---------------------------------------------------------------------------
# ann_ivf_cells / ann_ivf_topk — IVF-style ANN, the coarse-quantization
# scale path: k centroids (here: exact per-label means — deterministic via
# scaled-integer sums), each vector assigned to its nearest centroid
# ("cell"), search probes only the query's cell (candidates ~ N/k).
# Distances use an ordered array fold (zip_with) so both engines sum the
# same doubles in the same order; assignment ties break by cell id.
# At 100 TB the centroids come from a sampled KMeans and vectors are
# written bucketed by cell; the query-time plan is identical.
# ---------------------------------------------------------------------------
def _mean_centroids(tagged: DataFrame, key: str) -> DataFrame:
    """Per-``key`` mean vectors as ``(cell, cv)`` — deterministic across
    engines via scaled-integer sums (round to 1e-6, sum exact longs, two
    IEEE divisions both engines perform identically)."""
    ex = tagged.select(F.col(key), F.posexplode("v").alias("d", "x"))
    return (
        ex.groupBy(key, "d")
        .agg(
            (
                (F.sum(F.round(F.col("x") * 1000000, 0).cast("long")) / F.lit(1e6))
                / F.count(F.lit(1))
            ).alias("c")
        )
        .groupBy(key)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "c"))), lambda s: s["c"]
            ).alias("cv")
        )
        .select(F.col(key).alias("cell"), "cv")
    )


def _assign_nearest(e: DataFrame, cent: DataFrame) -> DataFrame:
    """Nearest-centroid assignment ``(vec_id, cell, d2)``: broadcast the
    (tiny) centroid table against every vector, squared L2 via an ordered
    ``zip_with`` fold (both engines sum identical doubles in identical
    order → bit-identical d2), ties broken by cell id. One data pass, no
    shuffle of the vectors themselves — the 100 TB Lloyd-step shape."""
    return (
        _ranked_cells(e, cent)
        .filter(F.col("rn") == 1)
        .select("vec_id", "cell", "d2")
    )


def _ranked_cells(e: DataFrame, cent: DataFrame) -> DataFrame:
    """Every ``(vec_id, cell, d2)`` pair with the cell's distance rank
    ``rn`` for that vector (1 = nearest; ties by cell id)."""
    dist = e.crossJoin(F.broadcast(cent)).select(
        "vec_id", "cell", vectors.l2sq(F.col("v"), F.col("cv")).alias("d2")
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "cell")
    return dist.withColumn("rn", F.row_number().over(w))


def _ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-12: seeds and assignment read the shared cached vector store.
    # Round 14 (guide §5): persist the assignment — consumers reference it
    # from 2+ plan branches (e.g. the recall/MRR audits join it into both
    # the exact and the probed leg), and without the pin each branch
    # re-ran the centroid build + nearest-cell window. Vector-count rows ×
    # 2 ints, MEMORY_AND_DISK, LRU-evictable (the ranking.py contract);
    # Spark caches by logical plan, so all 6 call sites share one entry.
    e = _emb_base(spark, sf_dir)
    cent = _mean_centroids(e, "label")
    return _assign_nearest(e, cent).select("vec_id", "cell").persist()


def ann_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ivf_cells(spark, sf_dir).sortWithinPartitions("vec_id")


# Composable oracle fragments (round-9 review: the IVF-PQ composition must
# COMPOSE these strings, not re-paste them — a fix to a shared idiom has to
# reach every consumer). `_EMB_BASE_CTES` is the quarantined double-cast
# base every embedding oracle starts from; `_IVF_CENT_FRAG` is the
# label-seeded centroid assignment (ranked_cells keeps every centroid's
# rank so nprobe>1 probing can reuse it; cells is the rn=1 home cell).
_EMB_BASE_CTES = f"""
e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM {EMB_SOURCE_SQL}),
ex AS (
  SELECT vec_id, label, t.d AS d, v[t.d + 1] AS x
  FROM e, range(0, 64) t(d)
)"""

_IVF_CENT_FRAG = """
centdim AS (
  SELECT label, d,
    (SUM(CAST(ROUND(x * 1000000, 0) AS BIGINT)) / 1000000.0) / COUNT(*) AS c
  FROM ex GROUP BY label, d
),
cent AS (
  SELECT label AS cell, list(c ORDER BY d) AS cv FROM centdim GROUP BY label
),
dist AS (
  SELECT vec_id, cell,
    list_reduce(
      list_prepend(CAST(0.0 AS DOUBLE),
        list_transform(range(1, 65), i -> (v[i] - cv[i]) * (v[i] - cv[i]))),
      (acc, x) -> acc + x) AS d2
  FROM e, cent
),
ranked_cells AS (
  SELECT vec_id, cell,
    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
  FROM dist
),
cells AS (
  SELECT vec_id, cell FROM ranked_cells WHERE rn = 1
)"""

_IVF_CELLS_CTE = f"{_EMB_BASE_CTES},{_IVF_CENT_FRAG}\n"

ANN_IVF_CELLS_SQL = f"WITH {_IVF_CELLS_CTE} SELECT vec_id, cell FROM cells ORDER BY vec_id"


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-12: shared cached vector store (_emb_base)
    e = _emb_base(spark, sf_dir).select("vec_id", "v")
    cells = _ivf_cells(spark, sf_dir)
    e_cells = e.join(cells, "vec_id")
    qcell = cells.filter(F.col("vec_id") == 0).select(
        F.col("cell").alias("qc")
    )
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    return (
        e_cells.crossJoin(F.broadcast(qcell))
        .filter((F.col("cell") == F.col("qc")) & (F.col("vec_id") != 0))
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(vectors.cosine(F.col("v"), F.col("qv")), 6).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), F.col("vec_id"))
        .limit(ANN_K)
    )


ANN_IVF_TOPK_SQL = f"""
WITH {_IVF_CELLS_CTE},
qcell AS (SELECT cell AS qc FROM cells WHERE vec_id = 0),
qv AS (SELECT v AS qv FROM e WHERE vec_id = 0)
SELECT e.vec_id, ROUND({vectors.cosine_sql('e.v', 'qv')}, 6) AS cos
FROM e
JOIN cells ON e.vec_id = cells.vec_id, qcell, qv
WHERE cells.cell = qc AND e.vec_id <> 0
ORDER BY cos DESC, e.vec_id
LIMIT {ANN_K}
"""


# ---------------------------------------------------------------------------
# text_langid — stopword-hit language ID with deterministic arg-max
# (priority order breaks ties). Pure per-row projection.
# ---------------------------------------------------------------------------
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    tok = text.tokens(F.col("text"))
    d = docs.select("doc_id", "lang", tok.alias("tok"))
    for lang, words in text.LANG_STOPWORDS:
        d = d.withColumn(f"s_{lang}", text.stopword_hits(F.col("tok"), words))
    langs = [lang for lang, _ in text.LANG_STOPWORDS]
    # CASE WHEN chain: first lang whose score is >= all later langs wins
    # (>= against earlier langs is implied by CASE order) — identical
    # semantics to the SQL twin below.
    pred = None
    for i, lang in enumerate(langs[:-1]):
        cond = F.lit(True)
        for other in langs[i + 1 :]:
            cond = cond & (F.col(f"s_{lang}") >= F.col(f"s_{other}"))
        pred = F.when(cond, lang) if pred is None else pred.when(cond, lang)
    pred = pred.otherwise(langs[-1])
    return d.select(
        "doc_id", "lang", pred.alias("predicted_lang")
    ).sortWithinPartitions("doc_id")


def _langid_sql() -> str:
    langs = [lang for lang, _ in text.LANG_STOPWORDS]
    hits = ",\n  ".join(
        f"{text.stopword_hits_sql('tok', words)} AS s_{lang}"
        for lang, words in text.LANG_STOPWORDS
    )
    cases = []
    for i, lang in enumerate(langs):
        conds = [f"s_{lang} >= s_{other}" for other in langs[i + 1 :]]
        if conds:
            cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
        else:
            cases.append(f"ELSE '{lang}'")
    case_sql = "CASE " + " ".join(cases) + " END"
    return f"""
WITH tk AS (
  SELECT doc_id, lang, {_TOK_SQL} AS tok FROM documents
),
scored AS (
  SELECT doc_id, lang,
  {hits}
  FROM tk
)
SELECT doc_id, lang, {case_sql} AS predicted_lang
FROM scored ORDER BY doc_id
"""


TEXT_LANGID_SQL = _langid_sql()


# ---------------------------------------------------------------------------
# text_quality — length/punctuation/stopword quality features + a composite
# score, all per-row arithmetic.
# ---------------------------------------------------------------------------
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    tok = text.tokens(F.col("text"))
    d = docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size(tok).alias("n_tokens"),
        # NULL for empty/NULL text (the ratio is undefined, and a bare
        # division is DIVIDE_BY_ZERO under ANSI Spark but NULL under
        # DuckDB — the branch makes both engines export the same NULL).
        # Non-alnum count via split+aggregate, NOT regexp_replace — the
        # replace costs ~50x the split on the same text (round-11
        # functions.text.quality_score finding; counts byte-identical)
        F.when(
            F.length("text") > 0,
            F.aggregate(
                F.split(F.col("text"), "[a-zA-Z0-9 ]+"),
                F.lit(0),
                lambda acc, x: acc + F.length(x),
            ).cast("double")
            / F.length("text"),
        ).alias("punct_ratio_raw"),
        (
            text.stopword_hits(tok, text.QUALITY_STOPWORDS).cast("double")
            / F.greatest(F.size(tok), F.lit(1))
        ).alias("stop_ratio_raw"),
    )
    # composite score: same one rule as every sampler (functions.text.
    # quality_score); recomputed here from components only because this
    # query REPORTS the components — tests pin the equality (including the
    # contentless-doc branch: empty/NULL text scores 0.0, like the fn)
    score = (
        F.least(F.col("n_tokens").cast("double") / 50.0, F.lit(1.0))
        * (1.0 - F.col("punct_ratio_raw"))
    )
    return d.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        F.round(F.col("punct_ratio_raw"), 6).alias("punct_ratio"),
        F.round(F.col("stop_ratio_raw"), 6).alias("stopword_ratio"),
        F.when(F.col("n_chars") > 0, F.round(score, 6))
        .otherwise(F.lit(0.0))
        .alias("quality_score"),
    ).sortWithinPartitions("doc_id")


_STOP_HITS = text.stopword_hits_sql("tok", text.QUALITY_STOPWORDS)

TEXT_QUALITY_SQL = f"""
WITH tk AS (
  SELECT doc_id, text, {_TOK_SQL} AS tok FROM documents
),
feat AS (
  SELECT doc_id,
    CAST(length(text) AS INTEGER) AS n_chars,
    CAST(len(tok) AS INTEGER) AS n_tokens,
    CASE WHEN length(text) > 0 THEN
      CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
        / length(text)
    END AS punct_ratio_raw,
    CAST({_STOP_HITS} AS DOUBLE) / greatest(len(tok), 1) AS stop_ratio_raw
  FROM tk
)
SELECT doc_id, n_chars, n_tokens,
  CAST(ROUND(punct_ratio_raw, 6) AS DOUBLE) AS punct_ratio,
  CAST(ROUND(stop_ratio_raw, 6) AS DOUBLE) AS stopword_ratio,
  CASE WHEN n_chars > 0 THEN
    CAST(ROUND(least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) * (1.0 - punct_ratio_raw), 6) AS DOUBLE)
  ELSE CAST(0.0 AS DOUBLE) END AS quality_score
FROM feat ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# text_stats — token counting (whitespace-class tokenizer): totals per doc.
# ---------------------------------------------------------------------------
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    tok = text.tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(tok).alias("n_tokens"),
        F.size(F.array_distinct(tok)).alias("n_uniq_tokens"),
        F.length("text").alias("n_chars"),
    ).sortWithinPartitions("doc_id")


TEXT_STATS_SQL = f"""
WITH tk AS (SELECT doc_id, text, {_TOK_SQL} AS tok FROM documents)
SELECT doc_id,
  CAST(len(tok) AS INTEGER) AS n_tokens,
  CAST(len(list_distinct(tok)) AS INTEGER) AS n_uniq_tokens,
  CAST(length(text) AS INTEGER) AS n_chars
FROM tk ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# text_bpe_tokens — tokenizer-cost estimation: whitespace tokens vs BPE-ish
# subword segments (the pre-tokenization regex count that approximates LLM
# token counts without a vocab).
# ---------------------------------------------------------------------------
def text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    lower = F.lower(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(lower, F.lit(text.BPE_ISH_RE), 0)).alias(
            "n_bpe_tokens"
        ),
        F.size(
            F.filter(F.split(lower, r"\s+"), lambda t: t != F.lit(""))
        ).alias("n_ws_tokens"),
    ).sortWithinPartitions("doc_id")


_BPE_SQL_PAT = text.BPE_ISH_RE.replace("'", "''")

TEXT_BPE_SQL = f"""
SELECT doc_id,
  CAST(len(regexp_extract_all(lower(text), '{_BPE_SQL_PAT}')) AS INTEGER) AS n_bpe_tokens,
  CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS INTEGER) AS n_ws_tokens
FROM documents ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# text_fingerprint — document fingerprint: rolling poly-hash of the
# whitespace-normalized lowercased text (the cheap pre-filter for exact-ish
# dedup: identical fingerprints ⇒ candidate pair).
# ---------------------------------------------------------------------------
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), "\\s+", " "))
    return docs.select(
        "doc_id", hashing.poly_hash(norm).alias("fingerprint")
    ).sortWithinPartitions("doc_id")


TEXT_FP_SQL = f"""
WITH n AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
  FROM documents
)
SELECT doc_id, {hashing.poly_hash_sql('norm')} AS fingerprint
FROM n ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# multimodal_image_meta — binary payload column → typed metadata (real
# PNG/GIF/JPEG header decode, else a deterministic pseudo-decode STUB —
# see multimodal/binary.py). The oracle reproduces the stub's arithmetic.
# ---------------------------------------------------------------------------
def _payload_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table as a multimodal one (utf-8 payload bytes)."""
    return attach_fake_payload(read_table(spark, sf_dir, "documents"))


def multimodal_image_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    return image_meta(_payload_docs(spark, sf_dir)).sortWithinPartitions("doc_id")


MULTIMODAL_SQL = """
SELECT doc_id,
  CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
  CAST(16 + octet_length(encode(text)) % 64 AS INTEGER) AS width,
  CAST(16 + (octet_length(encode(text)) * 7) % 64 AS INTEGER) AS height,
  CAST(1 + octet_length(encode(text)) % 8 AS INTEGER) AS n_frames
FROM documents WHERE text IS NOT NULL ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# multimodal_frame_sample — 1→N media expansion (video frame sampling
# shape) as an explode over the frame indices; stub frames are
# deterministic so the oracle reproduces them with a lateral range join.
# ---------------------------------------------------------------------------
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return frame_sample(_payload_docs(spark, sf_dir)).sortWithinPartitions(
        "doc_id", "frame_idx"
    )


FRAME_SAMPLE_SQL = """
WITH d AS (
  SELECT doc_id, octet_length(encode(text)) AS blen,
         1 + octet_length(encode(text)) % 8 AS n
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id,
  CAST(t.i AS INTEGER) AS frame_idx,
  CAST((t.i * blen) // n AS INTEGER) AS frame_offset,
  CAST((blen * 31 + t.i * 7) % 1000003 AS BIGINT) AS frame_sig
FROM d, range(0, 8) t(i)
WHERE t.i < n
ORDER BY doc_id, frame_idx
"""


# ---------------------------------------------------------------------------
# multimodal_scene_cut — video scene-cut detection over the frame pipeline:
# the frame-energy pass (multimodal/binary.py::frame_energy) expands each
# payload into its frames and reduces every frame's byte slice to an exact
# integer energy (a real pipeline pools decoded-frame features here); the
# DataFrame side then flags a cut wherever the frame-to-frame energy jump
# exceeds the doc's mean per-frame energy — the classic content-based
# shot-boundary heuristic, made integer-exact as
# ``|Δenergy| · n_frames > Σenergy`` (no division, no float).
#
# Scale shape: 1→N frame expansion, then ONE shuffle partitioning frames
# by doc_id; both windows (lag, per-doc total) share that partitioning and
# per-doc state is bounded at 8 frames. Nothing global, nothing all-pairs.
# The oracle reproduces the energies by walking the payload's hex dump
# byte-by-byte (the unicode-safe idiom the image-features oracle uses).
# ---------------------------------------------------------------------------
def multimodal_scene_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    fr = frame_energy(_payload_docs(spark, sf_dir))
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    tot = Window.partitionBy("doc_id")
    return (
        fr.withColumn(
            "delta", F.abs(F.col("energy") - F.lag("energy", 1).over(w))
        )
        .withColumn("total_energy", F.sum("energy").over(tot))
        .withColumn(
            "is_cut",
            F.when(F.col("delta").isNull(), F.lit(False)).otherwise(
                F.col("delta") * F.col("n_frames") > F.col("total_energy")
            ),
        )
        .select(
            "doc_id",
            "frame_idx",
            F.col("energy").cast("bigint").alias("energy"),
            F.coalesce("delta", F.lit(0)).cast("bigint").alias("delta"),
            "is_cut",
        )
        .sortWithinPartitions("doc_id", "frame_idx")
    )


#: Per-frame byte energy of each non-NULL doc's UTF-8 payload (hx → bytes →
#: frames → fe): 1 + blen % 8 frames, frame i covering bytes
#: [i*blen/n, (i+1)*blen/n), energy = the frame's byte sum (0 when empty).
#: The SQL twin of ``multimodal.binary``'s frame-energy pass, shared by the
#: scene-cut, VAD and keyframe oracles.
_FRAME_ENERGY_CTES = """hx AS (
  SELECT doc_id, hex(encode(text)) AS h,
         octet_length(encode(text)) AS blen,
         1 + octet_length(encode(text)) % 8 AS n
  FROM documents WHERE text IS NOT NULL
),
bytes AS (
  SELECT doc_id, CAST(j AS BIGINT) AS j,
    (strpos('0123456789ABCDEF', substr(h, 2 * CAST(j AS INTEGER) + 1, 1)) - 1)
      * 16
    + strpos('0123456789ABCDEF', substr(h, 2 * CAST(j AS INTEGER) + 2, 1)) - 1
      AS bv
  FROM (SELECT doc_id, h, unnest(range(0, blen)) AS j FROM hx)
),
frames AS (
  SELECT doc_id, blen, n, CAST(t.i AS INTEGER) AS i,
         (t.i * blen) // n AS off, ((t.i + 1) * blen) // n AS off_next
  FROM hx, range(0, 8) t(i)
  WHERE t.i < n
),
fe AS (
  SELECT f.doc_id, f.i, f.n, COALESCE(SUM(b.bv), 0) AS energy
  FROM frames f
  LEFT JOIN bytes b
    ON b.doc_id = f.doc_id AND b.j >= f.off AND b.j < f.off_next
  GROUP BY 1, 2, 3
)"""

SCENE_CUT_SQL = f"""
WITH {_FRAME_ENERGY_CTES},
tot AS (SELECT doc_id, SUM(energy) AS total FROM fe GROUP BY doc_id),
lagd AS (
  SELECT fe.doc_id, fe.i, fe.n, fe.energy, tot.total,
    ABS(fe.energy - LAG(fe.energy)
        OVER (PARTITION BY fe.doc_id ORDER BY fe.i)) AS delta
  FROM fe JOIN tot ON fe.doc_id = tot.doc_id
)
SELECT doc_id,
  CAST(i AS INTEGER) AS frame_idx,
  CAST(energy AS BIGINT) AS energy,
  CAST(COALESCE(delta, 0) AS BIGINT) AS delta,
  (delta IS NOT NULL AND delta * n > total) AS is_cut
FROM lagd
ORDER BY doc_id, frame_idx
"""


register(
    QuerySpec(
        "multimodal_scene_cut",
        multimodal_scene_cut,
        SCENE_CUT_SQL,
        ("MM7",),
        doc="scene-cut detection: per-frame byte energy + integer-exact jump test",
    )
)


# ---------------------------------------------------------------------------
# multimodal_audio_vad_segments — energy-threshold voice-activity
# detection over the frame pipeline: a frame is ACTIVE when its byte
# energy strictly exceeds the doc's mean per-frame energy (integer-exact
# as ``energy · n_frames > Σenergy`` — the scene-cut identity), and
# consecutive active frames merge into segments via the classic
# gaps-and-islands walk (new-segment flag → running sum). The export is
# the per-segment table (start/end frame, length, energy) a
# speech-pipeline consumer clips on.
#
# Scale shape: same as multimodal_scene_cut — 1→N frame expansion, ONE
# shuffle by doc_id, three windows sharing that partitioning, per-doc
# state bounded at 8 frames. The oracle reproduces the energies from the
# payload's hex dump (the shared byte-walk idiom; CTEs mirror
# SCENE_CUT_SQL's, kept textually identical rather than composed).
# ---------------------------------------------------------------------------
def multimodal_audio_vad_segments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    fr = frame_energy(_payload_docs(spark, sf_dir))
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tot = Window.partitionBy("doc_id")
    seg = (
        fr.withColumn("total_energy", F.sum("energy").over(tot))
        .withColumn(
            "active",
            (F.col("energy") * F.col("n_frames") > F.col("total_energy"))
            .cast("int"),
        )
        .withColumn(
            "new_seg",
            F.when(
                (F.col("active") == 1)
                & (F.coalesce(F.lag("active", 1).over(w), F.lit(0)) == 0),
                1,
            ).otherwise(0),
        )
        .withColumn("seg_id", F.sum("new_seg").over(wrun))
    )
    return (
        seg.filter(F.col("active") == 1)
        .groupBy("doc_id", "seg_id")
        .agg(
            F.min("frame_idx").cast("int").alias("start_frame"),
            F.max("frame_idx").cast("int").alias("end_frame"),
            F.count("*").cast("long").alias("n_frames"),
            F.sum("energy").cast("long").alias("seg_energy"),
        )
        .select(
            "doc_id",
            F.col("seg_id").cast("long").alias("seg_id"),
            "start_frame",
            "end_frame",
            "n_frames",
            "seg_energy",
        )
        .sortWithinPartitions("doc_id", "seg_id")
    )


AUDIO_VAD_SQL = f"""
WITH {_FRAME_ENERGY_CTES},
tot AS (SELECT doc_id, SUM(energy) AS total FROM fe GROUP BY doc_id),
act AS (
  SELECT fe.doc_id, fe.i, fe.energy,
    CASE WHEN fe.energy * fe.n > tot.total THEN 1 ELSE 0 END AS active
  FROM fe JOIN tot ON fe.doc_id = tot.doc_id
),
flagged AS (
  SELECT doc_id, i, energy, active,
    CASE WHEN active = 1 AND COALESCE(
      LAG(active) OVER (PARTITION BY doc_id ORDER BY i), 0) = 0
    THEN 1 ELSE 0 END AS new_seg
  FROM act
),
seg AS (
  SELECT doc_id, i, energy, active,
    SUM(new_seg) OVER (PARTITION BY doc_id ORDER BY i
                       ROWS UNBOUNDED PRECEDING) AS seg_id
  FROM flagged
)
SELECT doc_id,
  CAST(seg_id AS BIGINT) AS seg_id,
  CAST(MIN(i) AS INTEGER) AS start_frame,
  CAST(MAX(i) AS INTEGER) AS end_frame,
  CAST(COUNT(*) AS BIGINT) AS n_frames,
  CAST(SUM(energy) AS BIGINT) AS seg_energy
FROM seg WHERE active = 1
GROUP BY doc_id, seg_id
ORDER BY doc_id, seg_id
"""


register(
    QuerySpec(
        "multimodal_audio_vad_segments",
        multimodal_audio_vad_segments,
        AUDIO_VAD_SQL,
        ("MM9",),
        doc="energy-threshold VAD: active frames above the doc mean merged into gaps-and-islands segments",
    )
)


# ---------------------------------------------------------------------------
# text_chunks — fixed-width document chunking (the context-window prep
# step) through the built-in chunker (operators/chunking.py): one
# explode(sequence) over each document's length plus substr, all in the
# JVM. The oracle reproduces the chunk arithmetic with substr over a
# lateral range.
# ---------------------------------------------------------------------------
CHUNK_WIDTH = 200


def text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.chunking import chunk_text_batched

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_text_batched(docs, CHUNK_WIDTH).sortWithinPartitions(
        "doc_id", "chunk_idx"
    )


# chunk count derives from each document's own length (per-row
# unnest(range(...))) — a fixed range bound would silently truncate
# documents longer than bound*CHUNK_WIDTH while the Spark chunker chunks
# unboundedly
TEXT_CHUNKS_SQL = f"""
WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
ex AS (
  SELECT doc_id, text,
         unnest(range(0, (n + {CHUNK_WIDTH} - 1) // {CHUNK_WIDTH})) AS i
  FROM d
)
SELECT doc_id,
  CAST(i AS INTEGER) AS chunk_idx,
  substr(text, CAST(i AS BIGINT) * {CHUNK_WIDTH} + 1, {CHUNK_WIDTH}) AS chunk,
  CAST(length(substr(text, CAST(i AS BIGINT) * {CHUNK_WIDTH} + 1, {CHUNK_WIDTH})) AS INTEGER) AS chunk_len
FROM ex
ORDER BY doc_id, chunk_idx
"""


# ---------------------------------------------------------------------------
# dedup_incremental_new_docs — snapshot-vs-snapshot dedup for incremental
# ingestion: which incoming docs (source src10..src19) are NOT already in
# the existing corpus (src0..src9) by content hash. One anti-join on the
# hash — the shape of every nightly-ingest dedup at scale.
# ---------------------------------------------------------------------------
def dedup_incremental_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    src_num = F.split_part(F.col("source"), F.lit("src"), F.lit(2)).cast("int")
    # ONE scan: the anti-join against the existing corpus is a WINDOW flag
    # over the content-hash groups (any srcnum<10 member ⇒ the hash
    # exists) — the old existing/incoming branches each re-planned the
    # md5(text) scan (round-11 scan census: 2 documents scans here). A
    # NULL hash (NULL text) never anti-matches on a join key, so NULL-h
    # incoming rows are kept unconditionally, matching the old semantics.
    d = docs.select(
        "doc_id", "source", F.md5("text").alias("h"), src_num.alias("srcnum")
    ).withColumn(
        "has_existing",
        F.max(F.when(F.col("srcnum") < 10, 1).otherwise(0)).over(
            Window.partitionBy("h")
        ),
    )
    return (
        d.filter(
            (F.col("srcnum") >= 10)
            & (F.col("h").isNull() | (F.col("has_existing") == 0))
        )
        .select("doc_id", "source")
        .sortWithinPartitions("doc_id")
    )


DEDUP_INCR_SQL = """
WITH d AS (
  SELECT doc_id, source, md5(text) AS h,
         CAST(split_part(source, 'src', 2) AS INTEGER) AS srcnum
  FROM documents
)
SELECT doc_id, source
FROM d
WHERE srcnum >= 10
  AND NOT EXISTS (SELECT 1 FROM d e WHERE e.srcnum < 10 AND e.h = d.h)
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# corpus_stratified_sample — deterministic per-language downsampling
# (rebalancing): keep the first K docs per lang ordered by content hash —
# reproducible across runs/engines/cluster layouts, unlike sampleBy().
# ---------------------------------------------------------------------------
STRATA_K = 30


def corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = read_table(spark, sf_dir, "documents")
    h = hashing.poly_hash(F.col("text"))
    w = Window.partitionBy("lang").orderBy(F.col("h"), F.col("doc_id"))
    return (
        docs.select("doc_id", "lang", h.alias("h"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= STRATA_K)
        .select("doc_id", "lang")
        .orderBy("lang", "doc_id")
    )


CORPUS_STRAT_SQL = f"""
WITH h AS (
  SELECT doc_id, lang, {hashing.poly_hash_sql('text')} AS h FROM documents
),
r AS (
  SELECT doc_id, lang,
    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn
  FROM h
)
SELECT doc_id, lang FROM r WHERE rn <= {STRATA_K}
ORDER BY lang, doc_id
"""


# ---------------------------------------------------------------------------
# corpus_split_train_val_test — deterministic, engine-portable dataset
# splitting: bucket = content-hash % 100 → 80/10/10. Unlike df.sample()
# (seed- AND partition-layout-dependent), a content-hash split is
# reproducible across runs, engines, and cluster sizes — the property a
# training pipeline actually needs. Splitting on a hash of stable CONTENT
# (not row position) also keeps membership stable under re-ingestion.
# ---------------------------------------------------------------------------
def split_bucket(text_col: Column) -> Column:
    """The content-hash split bucket, 0..99."""
    return hashing.poly_hash(text_col) % 100


def split_of(bucket: Column) -> Column:
    """The 80/10/10 train/val/test rule over :func:`split_bucket`."""
    return F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")


def corpus_split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    bucket = split_bucket(F.col("text"))
    return docs.select(
        "doc_id", bucket.alias("bucket"), split_of(bucket).alias("split")
    ).sortWithinPartitions("doc_id")


CORPUS_SPLIT_SQL = f"""
WITH b AS (
  SELECT doc_id, ({hashing.poly_hash_sql('text')}) % 100 AS bucket FROM documents
)
SELECT doc_id, bucket,
  CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
FROM b ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# corpus_prep_pipeline — the capstone composition: the end-to-end
# training-data prep a user actually runs. quality gate → exact-dup drop →
# near-dup drop (keep the lowest doc_id of each ≥0.8-Jaccard pair) →
# surviving corpus with token stats. Every stage is deterministic, so the
# whole pipeline is one oracle-checked query. At 100 TB each stage is the
# scale-safe form already used above (single-pass scoring, hash-groupBy,
# capped shingle join / LSH candidates).
# ---------------------------------------------------------------------------
QUALITY_MIN = 0.3


def corpus_prep(docs: DataFrame) -> DataFrame:
    """Corpus prep over a documents frame: the surviving docs as
    ``(doc_id, lang, n_tokens, quality_score, text, bucket)``, unordered.

    ``text`` and the split ``bucket`` ride along for the corpus pipeline's
    sink; a caller that drops them (the registry query) gets them pruned
    out of the scan by Catalyst."""
    tok = text.tokens(F.col("text"))
    # ONE documents scan computes tokens, quality, the exact-dup content
    # hash AND the split bucket. md5 previously lived in its own
    # read_table subtree; Catalyst does not merge identical scans, so the
    # plan paid a second full read of the dominant text column (VERDICT
    # r10 "What's wrong" #1 — at 100 TB the text read IS the query cost).
    scored = docs.select(
        "doc_id",
        "lang",
        F.size(tok).alias("n_tokens"),
        text.quality_score(F.col("text"), tok).alias("quality_score"),
        F.md5("text").alias("h"),
        "text",
        split_bucket(F.col("text")).alias("bucket"),
    ).filter(F.col("quality_score") >= QUALITY_MIN)

    # exact dups: keep the lowest doc_id per content hash — a min-over
    # window on the quality SURVIVORS (one shuffle by h) replaces the old
    # groupBy+semi-join over a second scan. Equivalent by construction:
    # exact duplicates share identical text, hence identical
    # quality_score, so each hash group passes or fails the gate
    # all-or-nothing and the group minimum is unchanged.
    scored = (
        scored.withColumn(
            "keep_id", F.min("doc_id").over(Window.partitionBy("h"))
        )
        .filter(F.col("doc_id") == F.col("keep_id"))
        .drop("h", "keep_id")
    )

    # near dups: LSH band-bucket candidates verified at the same ≥0.8
    # true-Jaccard bar — the 100 TB composition (banded groupBy generates
    # candidates; only candidates pay the shingle-overlap verify), replacing
    # the capped all-pairs shingle self-join that dedup_ngram_jaccard keeps
    # as the exact/verify-stage reference. The first filter is the
    # dedup_minhash_lsh_pairs verify bar, the second the stricter prep bar.
    pairs = (
        _lsh_candidate_jaccards(docs)
        .filter(F.col("jaccard") >= MINHASH_VERIFY_THRESHOLD)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    losers = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return scored.join(losers, "doc_id", "left_anti")


def corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        corpus_prep(read_table(spark, sf_dir, "documents"))
        .select("doc_id", "lang", "n_tokens", "quality_score")
        # survivors are bulk stage-to-stage data: partition-local order
        # only — the trailing global orderBy cost an avoidable top-level
        # range exchange PLUS a sampler replay of the anti-join stage
        # (round-9 measurement; VERDICT r9 #2)
        .sortWithinPartitions("doc_id")
    )


CORPUS_PREP_SQL = f"""
WITH tk AS (
  SELECT doc_id, lang, text, {_TOK_SQL} AS tok FROM documents
),
scored AS (
  SELECT doc_id, lang,
    CAST(len(tok) AS INTEGER) AS n_tokens,
    {text.quality_score_sql()} AS quality_score
  FROM tk
),
keep_exact AS (
  SELECT MIN(doc_id) AS doc_id FROM (SELECT doc_id, md5(text) AS h FROM documents) GROUP BY h
),
{_SIG_CTES},
{_LSH_COMMON_CTES},
losers AS (
  SELECT DISTINCT doc_b AS doc_id
  FROM common
  JOIN sizes na ON common.doc_a = na.doc_id
  JOIN sizes nb ON common.doc_b = nb.doc_id
  WHERE ROUND(CAST(common AS DOUBLE) / (na.n + nb.n - common), 6) >= {JACCARD_THRESHOLD}
)
SELECT s.doc_id, s.lang, s.n_tokens, s.quality_score
FROM scored s
JOIN keep_exact k ON s.doc_id = k.doc_id
WHERE s.quality_score >= {QUALITY_MIN}
  AND NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = s.doc_id)
ORDER BY s.doc_id
"""


for _spec in [
    QuerySpec("dedup_exact_hist", dedup_exact_hist, DEDUP_EXACT_SQL,
              ("A7", "DD1")),
    QuerySpec("dedup_simhash", dedup_simhash, DEDUP_SIMHASH_SQL, ("DD5",)),
    QuerySpec("ann_lsh_buckets", ann_lsh_buckets, ANN_LSH_SQL, ("SIM3",)),
    QuerySpec("text_langid", text_langid, TEXT_LANGID_SQL, ("TX1",)),
    QuerySpec("text_bpe_tokens", text_bpe_tokens, TEXT_BPE_SQL, ("TX5",)),
    QuerySpec("text_chunks", text_chunks, TEXT_CHUNKS_SQL, ("TX6",)),
    QuerySpec("text_fingerprint", text_fingerprint, TEXT_FP_SQL, ("TX4",)),
    QuerySpec("multimodal_image_meta", multimodal_image_meta, MULTIMODAL_SQL,
              ("MM1",)),
    QuerySpec("corpus_prep_pipeline", corpus_prep_pipeline, CORPUS_PREP_SQL,
              ("DD1", "DD2", "TX2", "TX3", "PIPE1")),
    QuerySpec("corpus_split_train_val_test", corpus_split_train_val_test,
              CORPUS_SPLIT_SQL, ("PIPE2",)),
]:
    register(_spec)

def corpus_shingle_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared shingle-index build as its own (benchmarkable) query."""
    return _doc_shingles(read_table(spark, sf_dir, "documents"))


CORPUS_SHINGLE_INDEX_SQL = f"""
WITH tk AS (
  SELECT doc_id, {_TOK_SQL} AS tok FROM documents
),
uni AS (
  SELECT DISTINCT doc_id, unnest({text.word_shingles_sql("tok", 3)}) AS t FROM tk
)
SELECT doc_id, t, {hashing.poly_hash_sql('t')} AS h FROM uni
"""


# Dedup, ANN, text and sampling queries, including sub-plans of other
# queries (signatures stage of the LSH pipeline; cell assignment stage of
# IVF top-k; the shared shingle index every dedup consumer reads).
for _spec in [
    QuerySpec("dedup_ngram_jaccard", dedup_ngram_jaccard, DEDUP_NGRAM_SQL,
              ("DD2",)),
    QuerySpec("dedup_minhash_lsh_pairs", dedup_minhash_lsh_pairs,
              DEDUP_MINHASH_PAIRS_SQL, ("DD3", "DD4")),
    QuerySpec("ann_topk_cosine", ann_topk_cosine, ANN_TOPK_SQL,
              ("SIM2",)),
    QuerySpec("text_quality", text_quality, TEXT_QUALITY_SQL, ("TX2",)),
    QuerySpec("dedup_incremental_new_docs", dedup_incremental_new_docs,
              DEDUP_INCR_SQL, ("DD7", "J4")),
    QuerySpec("corpus_stratified_sample", corpus_stratified_sample,
              CORPUS_STRAT_SQL, ("PIPE3", "W1")),
    QuerySpec("dedup_minhash_signatures", dedup_minhash_signatures,
              DEDUP_MINHASH_SIG_SQL, ("DD3",)),
    QuerySpec("ann_ivf_cells", ann_ivf_cells, ANN_IVF_CELLS_SQL, ("SIM4",)),
    QuerySpec("ann_ivf_topk", ann_ivf_topk, ANN_IVF_TOPK_SQL, ("SIM4", "SIM2")),
    QuerySpec("text_stats", text_stats, TEXT_STATS_SQL, ("TX3",)),
    QuerySpec("multimodal_frame_sample", multimodal_frame_sample,
              FRAME_SAMPLE_SQL, ("MM2",)),
    QuerySpec("corpus_shingle_index", corpus_shingle_index,
              CORPUS_SHINGLE_INDEX_SQL, ("DD2", "DD3")),
]:
    register(_spec)


# ---------------------------------------------------------------------------
# ann_int8_topk — symmetric int8 quantization + integer-dot-product ranking:
# the storage/compute-quantized ANN path (4x smaller vectors, SIMD int8
# kernels on real hardware). Per vector: scale = 127 / max|x|, q_i =
# floor(x * scale) — floor, not round, because IEEE floor(double) is
# bit-identical across engines while round-half cases are not (see
# plans/registry.py). All exported values are integers; the int32-range
# dot products are exact in both engines' arithmetic. The query vector is
# a broadcast singleton; ranking is TakeOrderedAndProject — same plan
# skeleton as the exact-cosine baseline, so measured deltas isolate the
# quantization cost.
# ---------------------------------------------------------------------------
def ann_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    quant = _int8_base(spark, sf_dir).select("vec_id", "q")
    qv = quant.filter(F.col("vec_id") == 0).select(F.col("q").alias("qq"))
    idot = vectors.int8_dot(F.col("q"), F.col("qq"))
    return (
        quant.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select("vec_id", idot.alias("idot"))
        .orderBy(F.col("idot").desc(), F.col("vec_id"))
        .limit(ANN_K)
    )


ANN_INT8_SQL = f"""
WITH {_INT8_BASE_CTES},
qv AS (SELECT q AS qq FROM base WHERE vec_id = 0)
SELECT vec_id, {vectors.int8_dot_sql("q", "qq")} AS idot
FROM base, qv
WHERE vec_id <> 0
ORDER BY idot DESC, vec_id
LIMIT {ANN_K}
"""


register(
    QuerySpec(
        "ann_int8_topk",
        ann_int8_topk,
        ANN_INT8_SQL,
        ("SIM5",),
        doc="int8-quantized integer-dot ANN ranking",
    )
)


# ---------------------------------------------------------------------------
# dedup_incremental_near_docs — incremental NEAR-dup for nightly ingestion,
# completing dedup_incremental_new_docs (exact hash) with the minhash path:
# incoming docs (src10..src19) are banded and joined against the EXISTING
# corpus's band index (src0..src9) only — never incoming-vs-incoming, never
# all-pairs — then candidates are verified with true shingle Jaccard.
# At scale the existing side's (band, key) index is a persisted table the
# nightly batch joins against; state grows O(corpus), work grows O(batch).
# ---------------------------------------------------------------------------
def dedup_incremental_near_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    src_num = F.split_part(F.col("source"), F.lit("src"), F.lit(2)).cast("int")
    side = docs.select("doc_id", src_num.alias("srcnum"))
    sig = _minhash_sig(docs)
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.concat_ws(
                            "_", F.col(f"mh{2 * i}"), F.col(f"mh{2 * i + 1}")
                        ).alias("key"),
                    )
                    for i in range(len(PERMS) // 2)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key").join(side, "doc_id")
    new_b = bands.filter(F.col("srcnum") >= 10).select(
        F.col("doc_id").alias("doc_new"), "band", "key"
    )
    old_b = bands.filter(F.col("srcnum") < 10).select(
        F.col("doc_id").alias("doc_old"), "band", "key"
    )
    cand = new_b.join(old_b, ["band", "key"]).select("doc_new", "doc_old").distinct()
    uni = _doc_shingles(docs)
    sizes = uni.groupBy("doc_id").agg(F.count("*").alias("n"))
    ua = uni.select(F.col("doc_id").alias("doc_new"), "t")
    ub = uni.select(F.col("doc_id").alias("doc_old"), "t")
    common = (
        cand.join(ua, "doc_new")
        .join(ub, ["doc_old", "t"])
        .groupBy("doc_new", "doc_old")
        .agg(F.count("*").alias("common"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_new"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_old"), F.col("n").alias("nb"))
    return (
        common.join(na, "doc_new")
        .join(nb, "doc_old")
        .withColumn(
            "jaccard",
            F.round(
                F.col("common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= MINHASH_VERIFY_THRESHOLD)
        .select("doc_new", "doc_old", "jaccard")
        .sortWithinPartitions("doc_new", "doc_old")
    )


DEDUP_INCR_NEAR_SQL = f"""
WITH {MINHASH_SIG_CTE},
side AS (
  SELECT doc_id, CAST(split_part(source, 'src', 2) AS INTEGER) AS srcnum
  FROM documents
),
bands AS ({_BAND_SELECTS}),
sbands AS (SELECT bands.doc_id, band, key, srcnum FROM bands JOIN side USING (doc_id)),
cand AS (
  SELECT DISTINCT n.doc_id AS doc_new, o.doc_id AS doc_old
  FROM sbands n JOIN sbands o
    ON n.band = o.band AND n.key = o.key
   AND n.srcnum >= 10 AND o.srcnum < 10
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM uni GROUP BY doc_id),
common AS (
  SELECT cand.doc_new, cand.doc_old, COUNT(*) AS common
  FROM cand
  JOIN uni ua ON ua.doc_id = cand.doc_new
  JOIN uni ub ON ub.doc_id = cand.doc_old AND ub.t = ua.t
  GROUP BY 1, 2
)
SELECT doc_new, doc_old,
       ROUND(CAST(common AS DOUBLE) / (na.n + nb.n - common), 6) AS jaccard
FROM common
JOIN sizes na ON common.doc_new = na.doc_id
JOIN sizes nb ON common.doc_old = nb.doc_id
WHERE ROUND(CAST(common AS DOUBLE) / (na.n + nb.n - common), 6) >= {MINHASH_VERIFY_THRESHOLD}
ORDER BY doc_new, doc_old
"""


register(
    QuerySpec(
        "dedup_incremental_near_docs",
        dedup_incremental_near_docs,
        DEDUP_INCR_NEAR_SQL,
        ("DD7", "DD3", "DD4"),
        doc="incremental near-dup: new-batch bands vs persisted corpus band index",
    )
)


# ---------------------------------------------------------------------------
# text_bpe_merge_candidates — one round of BPE vocabulary induction at
# corpus scale: corpus-frequency-weighted adjacent character-pair counts,
# the argmax of which is the next BPE merge. The full tokenizer training
# loop is this same query iterated with a growing symbol table (driver loop
# over a cached word-frequency table); one round is the distributed kernel
# and is exactly SQL-expressible. Plan shape: explode→groupBy(word) (one
# shuffle, heavy combine since words repeat), then pair-explode over the
# DISTINCT word table (tiny) → groupBy(pair). No shuffle touches the corpus
# again after the word count.
# ---------------------------------------------------------------------------
BPE_TOPK = 20


def text_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = _doc_tokens(read_table(spark, sf_dir, "documents"))
    words = (
        tok.select(F.explode("tok").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("wc"))
    )
    w = F.col("w")
    pairs_arr = F.when(
        F.length(w) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.length(w) - 1),
            lambda i: w.substr(i, F.lit(2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        words.select("wc", F.explode(pairs_arr).alias("pair"))
        .groupBy("pair")
        .agg(F.sum("wc").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(BPE_TOPK)
    )


TEXT_BPE_MERGE_SQL = f"""
WITH tk AS (
  SELECT doc_id, {_TOK_SQL} AS tok FROM documents
),
wc AS (
  SELECT w, COUNT(*) AS wc FROM (SELECT unnest(tok) AS w FROM tk) GROUP BY w
),
pos AS (
  SELECT w, wc, unnest(range(1, length(w))) AS i FROM wc
),
pairs AS (
  SELECT substring(w, CAST(i AS INTEGER), 2) AS pair, wc FROM pos
)
SELECT pair, CAST(SUM(wc) AS BIGINT) AS cnt
FROM pairs GROUP BY pair
ORDER BY cnt DESC, pair
LIMIT {BPE_TOPK}
"""


# ---------------------------------------------------------------------------
# corpus_quality_weighted_sample — deterministic quality-proportional
# sampling: doc kept iff content-hash residue < quality_score * 1000, i.e.
# a Bernoulli(quality) draw whose coin is the content hash — reproducible
# across runs, engines, and cluster layouts (df.sample() is none of those),
# and stable under re-ingestion because the coin is CONTENT, not position.
# Pure projection + filter: no shuffle at any scale.
# ---------------------------------------------------------------------------
def corpus_quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    q = text.quality_score(F.col("text"))
    h = hashing.poly_hash(F.col("text")) % 1000
    return (
        docs.select("doc_id", q.alias("quality_score"), h.alias("coin"))
        .filter(F.col("coin").cast("double") < F.col("quality_score") * 1000.0)
        .sortWithinPartitions("doc_id")
    )


CORPUS_QSAMPLE_SQL = f"""
WITH tk AS (
  SELECT doc_id, text, {_TOK_SQL} AS tok FROM documents
),
scored AS (
  SELECT doc_id,
    {text.quality_score_sql()} AS quality_score,
    ({hashing.poly_hash_sql('text')}) % 1000 AS coin
  FROM tk
)
SELECT doc_id, quality_score, coin
FROM scored
WHERE CAST(coin AS DOUBLE) < quality_score * 1000.0
ORDER BY doc_id
"""


for _spec in [
    QuerySpec(
        "text_bpe_merge_candidates",
        text_bpe_merge_candidates,
        TEXT_BPE_MERGE_SQL,
        ("TX5", "TX10"),
        doc="one BPE round: corpus-weighted adjacent char-pair merge scores",
    ),
]:
    register(_spec)

register(
    QuerySpec(
        "corpus_quality_weighted_sample",
        corpus_quality_weighted_sample,
        CORPUS_QSAMPLE_SQL,
        ("PIPE3", "PIPE4"),
        doc="deterministic Bernoulli(quality) sampling keyed on content hash",
    )
)


# ---------------------------------------------------------------------------
# ann_knn_join — batch k-NN join: top-k cosine neighbors for EVERY query
# vector at once (ann_topk_cosine answers one query; training pipelines —
# retrieval eval, hard-negative mining, kNN-LM — ask in batches). Plan:
# corpus × broadcast(queries) projection, then one window per query
# (rank over cos). Work is Q×N with the small side broadcast — the exact
# baseline; at large Q you block by IVF cell first (ann_ivf_topk shows
# that path).
# ---------------------------------------------------------------------------
KNN_Q = 5  # vec_id < 5 are the query batch
KNN_K = 5


def ann_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_embeddings(spark, sf_dir)
    e = emb.select("vec_id", vectors.as_double(F.col("embedding")).alias("v"))
    q = e.filter(F.col("vec_id") < KNN_Q).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    corpus = e.filter(F.col("vec_id") >= KNN_Q)
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        corpus.crossJoin(F.broadcast(q))
        .select(
            "q_id",
            "vec_id",
            F.round(vectors.cosine(F.col("v"), F.col("qv")), 6).alias("cos"),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= KNN_K)
        .select("q_id", "rank", "vec_id", "cos")
        .orderBy("q_id", "rank")
    )


ANN_KNN_JOIN_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM {EMB_SOURCE_SQL}),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < {KNN_Q}),
scored AS (
  SELECT q_id, vec_id, ROUND({vectors.cosine_sql('v', 'qv')}, 6) AS cos
  FROM e, q WHERE vec_id >= {KNN_Q}
),
ranked AS (
  SELECT q_id, vec_id, cos,
    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
  FROM scored
)
SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id, cos
FROM ranked WHERE rank <= {KNN_K}
ORDER BY q_id, rank
"""


register(
    QuerySpec(
        "ann_knn_join",
        ann_knn_join,
        ANN_KNN_JOIN_SQL,
        ("SIM2", "SIM6"),
        doc="batch k-NN join: top-k neighbors for every query vector at once",
    )
)


# ---------------------------------------------------------------------------
# text_sentiment — lexicon-based sentiment scoring (the classic large-scale
# Spark text workload, e.g. EDBT'16 Twitter sentiment at scale): per doc,
# (positive-hits − negative-hits) / tokens with a fixed broadcast lexicon.
# Pure Column expressions — the lexicon inlines into the projection, so the
# plan is a scan + map with zero shuffles at any corpus size.
# ---------------------------------------------------------------------------
SENT_POS = ("good", "great", "fast", "love", "excellent", "happy", "best")
SENT_NEG = ("bad", "slow", "poor", "hate", "terrible", "sad", "worst")


def text_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    tok = text.tokens(F.col("text"))
    pos = text.stopword_hits(tok, SENT_POS)
    neg = text.stopword_hits(tok, SENT_NEG)
    n = F.size(tok)
    score = F.when(n > 0, F.round((pos - neg).cast("double") / n, 6)).otherwise(
        F.lit(0.0)
    )
    return docs.select(
        "doc_id",
        pos.alias("pos_hits"),
        neg.alias("neg_hits"),
        score.alias("sentiment"),
    ).sortWithinPartitions("doc_id")


def _hits_sql(words: tuple[str, ...]) -> str:
    inlist = ", ".join(f"'{w}'" for w in words)
    # COALESCE: len(list_filter(NULL)) is NULL for a NULL-text doc, but
    # the Spark side's stopword_hits is total (0) — zero lexicon hits is
    # the portable semantics for a missing doc (edge-sf sweep)
    return (
        f"COALESCE(len(list_filter(tok, t -> t IN ({inlist}))), 0)"
    )


TEXT_SENTIMENT_SQL = f"""
WITH tk AS (
  SELECT doc_id, {_TOK_SQL} AS tok FROM documents
)
SELECT doc_id,
  CAST({_hits_sql(SENT_POS)} AS INTEGER) AS pos_hits,
  CAST({_hits_sql(SENT_NEG)} AS INTEGER) AS neg_hits,
  CASE WHEN len(tok) > 0
       THEN ROUND(CAST({_hits_sql(SENT_POS)} - {_hits_sql(SENT_NEG)} AS DOUBLE)
                  / len(tok), 6)
       ELSE 0.0 END AS sentiment
FROM tk ORDER BY doc_id
"""


register(
    QuerySpec(
        "text_sentiment",
        text_sentiment,
        TEXT_SENTIMENT_SQL,
        ("TX12",),
        doc="lexicon sentiment scoring: shuffle-free broadcast-lexicon projection",
    )
)


# ---------------------------------------------------------------------------
# entity_match_customers — record linkage / entity resolution: near-
# identical entity names via blocked edit distance. The blocking key
# (nation, name length) bounds the candidate self-join the same way LSH
# bands bound document dedup — never all-pairs; levenshtein only runs
# inside a block. Output: per-nation count of distance-1 name pairs (the
# merge-candidate queue an MDM pipeline reviews).
# ---------------------------------------------------------------------------
def entity_match_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage: blocked edit-distance-1 entity matching.

    Round-12 rewrite of the blocking key. The original blocked on
    (nation, name length) — on fixed-format ids (every TPC-H name is
    ``Customer#{9 digits}``) EVERY name in a nation shares one block, so
    the candidate set degenerated to n^2/|nations| levenshtein evals (the
    6M-row replica drive sat >20 min in one near-serial stage; a
    quadratic signature invisible to the scan census). A 2-of-3 chunk
    pigeonhole was tried first and ALSO degenerates: the constant
    "Customer#0…" prefix makes two of three chunks constant, so the
    chunk-pair combo that skips the varying tail is the whole nation
    again. The exact scheme that survives constant affixes is the
    deletion neighborhood (FastSS/SymSpell): one wildcard key per
    position — the name with position i removed. The join restricts to
    EQUAL length, where distance 1 is exactly one substitution, so two
    qualifying names share PRECISELY the wildcard key at the substituted
    position; every key carries ALL the other positions' entropy, so no
    block can degenerate unless the names themselves are duplicates.
    Exact (the verify only removes equal-name pairs), linear fanout
    (len keys per row — at 100 TB you'd xxhash64 the key before the
    shuffle), same output, same oracle semantics.
    """
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_name", F.length("c_name").alias("len")
    )
    keyed = cust.select(
        "c_custkey",
        "c_nationkey",
        "c_name",
        "len",
        # the join key is the xxhash64 of the wildcard string — Spark-side
        # only (the oracle joins the string; a hash collision can only ADD
        # a candidate, which the levenshtein verify then rejects, so
        # exactness is unaffected) — shuffling 8 bytes instead of the name
        F.expr(
            "explode(transform(sequence(1, len), i -> struct("
            "i AS pos, xxhash64(concat(substr(c_name, 1, i - 1),"
            " substr(c_name, i + 1))) AS wkey)))"
        ).alias("bk"),
    ).select(
        "c_custkey", "c_nationkey", "c_name", "len",
        F.col("bk.pos").alias("pos"),
        F.col("bk.wkey").alias("wkey"),
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.col("a.len") == F.col("b.len"))
            & (F.col("a.pos") == F.col("b.pos"))
            & (F.col("a.wkey") == F.col("b.wkey"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .select(
            F.col("a.c_nationkey").alias("nation"),
            F.col("a.c_custkey").alias("ka"),
            F.col("b.c_custkey").alias("kb"),
            F.col("a.c_name").alias("na"),
            F.col("b.c_name").alias("nb"),
        )
        .distinct()
    )
    pairs = cand.filter(F.levenshtein(F.col("na"), F.col("nb")) == 1).select(
        "nation"
    )
    return (
        pairs.groupBy("nation")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("nation")
    )


ENTITY_MATCH_SQL = """
WITH c AS (
  SELECT c_custkey, c_nationkey, c_name, length(c_name) AS len FROM customer
),
pos AS (
  SELECT c_custkey, c_nationkey, c_name, len,
    unnest(range(1, len + 1)) AS i
  FROM c
),
keyed AS (
  SELECT c_custkey, c_nationkey, c_name, len, i AS pos,
    substr(c_name, 1, CAST(i - 1 AS INTEGER))
      || substr(c_name, CAST(i + 1 AS INTEGER)) AS wkey
  FROM pos
),
cand AS (
  SELECT DISTINCT a.c_nationkey AS nation,
    a.c_custkey AS ka, b.c_custkey AS kb,
    a.c_name AS na, b.c_name AS nb
  FROM keyed a JOIN keyed b
    ON a.c_nationkey = b.c_nationkey AND a.len = b.len
   AND a.pos = b.pos AND a.wkey = b.wkey
   AND a.c_custkey < b.c_custkey
)
SELECT nation, COUNT(*) AS n_pairs
FROM cand
WHERE levenshtein(na, nb) = 1
GROUP BY 1 ORDER BY 1
"""


register(
    QuerySpec(
        "entity_match_customers",
        entity_match_customers,
        ENTITY_MATCH_SQL,
        ("DD14",),
        doc="record linkage: blocked edit-distance entity matching",
    )
)


# ---------------------------------------------------------------------------
# multimodal_image_resize / multimodal_image_features — the remaining two
# media ops of the decode/feature-extract/resize/frame-sample family
# (multimodal/binary.py; decode is the documented deterministic STUB,
# the column plumbing is real). The resize plans aspect-preserving integer
# output dims; features is a 16-bin byte-histogram vector — shaped
# array<double> so it pipes straight into the ann_*/dedup_embedding_* ops.
# ---------------------------------------------------------------------------
RESIZE_TW, RESIZE_TH = 48, 32


def multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return image_resize(
        _payload_docs(spark, sf_dir), target_w=RESIZE_TW, target_h=RESIZE_TH
    ).sortWithinPartitions("doc_id")


IMAGE_RESIZE_SQL = f"""
WITH d AS (
  SELECT doc_id,
         16 + octet_length(encode(text)) % 64 AS w,
         16 + (octet_length(encode(text)) * 7) % 64 AS h
  FROM documents WHERE text IS NOT NULL
),
r AS (
  SELECT doc_id, w, h, (w * {RESIZE_TH}) >= (h * {RESIZE_TW}) AS width_binding
  FROM d
)
SELECT doc_id,
  CAST(w AS INTEGER) AS width,
  CAST(h AS INTEGER) AS height,
  CAST(CASE WHEN width_binding THEN {RESIZE_TW} ELSE (w * {RESIZE_TH}) // h END AS INTEGER) AS out_w,
  CAST(CASE WHEN width_binding THEN (h * {RESIZE_TW}) // w ELSE {RESIZE_TH} END AS INTEGER) AS out_h,
  CAST((CASE WHEN width_binding THEN {RESIZE_TW} ELSE (w * {RESIZE_TH}) // h END)
     * (CASE WHEN width_binding THEN (h * {RESIZE_TW}) // w ELSE {RESIZE_TH} END)
     * 3 AS INTEGER) AS out_bytes
FROM r ORDER BY doc_id
"""


def multimodal_image_features_vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN-ready shape: one ``array<double>`` column — the shape the
    ``ann_*`` / ``dedup_embedding_*`` ops consume. Local-only: the driver's
    value hasher sorts a pandas frame by every column, and a list column is
    unhashable there, so ``multimodal_image_features`` exports the exploded
    scalar twin below instead."""
    return image_features(_payload_docs(spark, sf_dir)).sortWithinPartitions("doc_id")


def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-safe export of the same kernel: posexplode the 16-bin
    histogram to scalar ``(doc_id, bucket, frac)`` rows — every column
    hash-sortable, identical numbers to the array variant."""
    vec = image_features(_payload_docs(spark, sf_dir))
    # feat always holds 16 bins, so _outer yields the same rows; it stops
    # Spark inferring a size(feat) > 0 filter that it would push below the
    # projection and so compute the histogram twice
    return vec.select(
        "doc_id", F.posexplode_outer("feat").alias("bucket", "frac")
    ).sortWithinPartitions("doc_id", "bucket")


# The oracle walks the UTF-8 BYTES of the payload, exactly like the
# kernel's np.frombuffer: bucket = byte % 16 = the LOW HEX NIBBLE of the
# blob's hex() dump, so one strpos per byte reproduces the kernel on any
# unicode text. (The original char-walk via ascii(c) agreed only on pure
# ASCII — a planted 'héllo wörld' doc diverged 0.1379 vs 0.1143 because
# é is two bytes; found by the unicode edge sweep.) Empty/NULL docs have
# no bytes CTE rows, matching the kernel's quarantine drop.
IMAGE_FEATURES_GRID = """
WITH hx AS (
  SELECT doc_id, hex(encode(text)) AS h FROM documents
  WHERE text IS NOT NULL AND octet_length(encode(text)) > 0
),
u AS (SELECT doc_id, h, unnest(range(0, length(h) // 2)) AS i FROM hx),
chars AS (
  SELECT doc_id,
    strpos('0123456789ABCDEF', substr(h, 2 * CAST(i AS INTEGER) + 2, 1)) - 1
      AS bucket
  FROM u
),
tot AS (SELECT doc_id, COUNT(*) AS n FROM chars GROUP BY doc_id),
cnt AS (SELECT doc_id, bucket, COUNT(*) AS k FROM chars GROUP BY doc_id, bucket),
grid0 AS (
  SELECT tot.doc_id, t.b AS bucket, tot.n FROM tot, range(0, 16) t(b)
),
grid AS (
  SELECT g.doc_id, g.bucket, g.n, COALESCE(c.k, 0) AS k
  FROM grid0 g LEFT JOIN cnt c ON c.doc_id = g.doc_id AND c.bucket = g.bucket
)
"""

IMAGE_FEATURES_VEC_SQL = (
    IMAGE_FEATURES_GRID
    + """
SELECT doc_id,
       list(ROUND(CAST(k AS DOUBLE) / n, 6) ORDER BY bucket) AS feat
FROM grid GROUP BY doc_id ORDER BY doc_id
"""
)

IMAGE_FEATURES_SQL = (
    IMAGE_FEATURES_GRID
    + """
SELECT doc_id,
       CAST(bucket AS INTEGER) AS bucket,
       ROUND(CAST(k AS DOUBLE) / n, 6) AS frac
FROM grid ORDER BY doc_id, bucket
"""
)


for _spec in [
    QuerySpec(
        "multimodal_image_resize",
        multimodal_image_resize,
        IMAGE_RESIZE_SQL,
        ("MM3",),
        doc="aspect-preserving resize planning (integer-exact thumbnail math)",
    ),
    QuerySpec(
        "multimodal_image_features",
        multimodal_image_features,
        IMAGE_FEATURES_SQL,
        ("MM4",),
        doc="byte-histogram features, exploded scalar rows (driver-hashable)",
    ),
    QuerySpec(
        "multimodal_image_features_vec",
        multimodal_image_features_vec,
        IMAGE_FEATURES_VEC_SQL,
        ("MM4",),
        doc="byte-histogram feature vectors (CNN-embedding stand-in), ANN-ready",
    ),
]:
    register(_spec)


# ---------------------------------------------------------------------------
# multimodal_audio_meta — audio twin of image_meta (16-bit mono PCM stub):
# completes the image/audio/video coverage of the opaque-binary multimodal
# family. Same built-in column plumbing; oracle reproduces the stub's
# integer arithmetic.
# ---------------------------------------------------------------------------
def multimodal_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    return audio_meta(_payload_docs(spark, sf_dir)).sortWithinPartitions("doc_id")


AUDIO_META_SQL = """
WITH d AS (
  SELECT doc_id, octet_length(encode(text)) AS blen
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id,
  CAST(blen AS INTEGER) AS byte_len,
  CAST(8000 * (1 + blen % 3) AS INTEGER) AS sample_rate,
  CAST(blen // 2 AS INTEGER) AS n_samples,
  CAST((blen // 2) * 1000 // (8000 * (1 + blen % 3)) AS INTEGER) AS duration_ms
FROM d ORDER BY doc_id
"""


register(
    QuerySpec(
        "multimodal_audio_meta",
        multimodal_audio_meta,
        AUDIO_META_SQL,
        ("MM5",),
        doc="audio metadata extraction (PCM stub)",
    )
)


# ---------------------------------------------------------------------------
# ann_ivf_recall — retrieval-quality eval: recall@k of the single-probe IVF
# search against the exact top-k, as a query. Both sides are the existing
# deterministic plans, so the measurement itself is reproducible and graded;
# this is the eval loop a pipeline runs when tuning nlist/nprobe — low
# recall here says "probe more cells", and the number is the evidence.
# ---------------------------------------------------------------------------
def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = ann_topk_cosine(spark, sf_dir).select("vec_id")
    approx = ann_ivf_topk(spark, sf_dir).select("vec_id")
    return (
        exact.join(approx, "vec_id")
        .agg(F.count("*").cast("bigint").alias("n_hits"))
        .select(
            F.lit(ANN_K).cast("bigint").alias("k"),
            "n_hits",
            F.round(F.col("n_hits").cast("double") / ANN_K, 6).alias("recall"),
        )
    )


ANN_IVF_RECALL_SQL = f"""
SELECT CAST({ANN_K} AS BIGINT) AS k,
  CAST(COUNT(*) AS BIGINT) AS n_hits,
  ROUND(CAST(COUNT(*) AS DOUBLE) / {ANN_K}, 6) AS recall
FROM ({ANN_TOPK_SQL}) exact JOIN ({ANN_IVF_TOPK_SQL}) approx USING (vec_id)
"""


# composes ann_ivf_topk against the exact baseline, so one query checks the
# whole IVF path (SIM2+SIM4).
register(
    QuerySpec(
        "ann_ivf_recall",
        ann_ivf_recall,
        ANN_IVF_RECALL_SQL,
        ("SIM4", "SIM2"),
        doc="recall@k eval of single-probe IVF vs exact top-k (the nprobe tuning loop)",
    )
)


# ---------------------------------------------------------------------------
# embeddings_kmeans — one full Lloyd's iteration of k-means over the
# embedding table: seed centroids (per-label means, as IVF), assign,
# RECOMPUTE centroids from the assignment, REASSIGN, and report per-cluster
# size, how many vectors moved between the two assignments, and the exact
# scaled-integer inertia of the final assignment.
#
# This is the iterative-algorithm pattern the reference cannot express
# (SURVEY §2.11 extension): each Lloyd step is one pass over the data with
# the k×64-double centroid table BROADCAST (never shuffled), and the
# centroid update is a map-side-combinable (cell, dim) aggregation — at
# 100 TB each iteration costs one scan + one tiny agg, the canonical
# distributed k-means shape (same plan Spark MLlib's KMeans lowers to).
# Determinism across engines: centroid means use scaled-integer sums;
# per-vector d2 is an ordered zip_with fold (bit-identical doubles both
# sides); inertia rounds each d2 to 1e-6 and sums exact BIGINTs, so the
# total is independent of summation order; assignment ties break by cell.
# ---------------------------------------------------------------------------
def embeddings_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb_base(spark, sf_dir)  # round-12: shared cached vector store
    seed = _mean_centroids(e, "label")
    a1 = _assign_nearest(e, seed).select("vec_id", F.col("cell").alias("c1"))
    c1 = _mean_centroids(
        e.join(a1, "vec_id").select(F.col("c1").alias("cell"), "v"), "cell"
    )
    a2 = _assign_nearest(e, c1)
    return (
        a2.join(a1, "vec_id")
        .groupBy(F.col("cell").alias("cluster"))
        .agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            F.sum((F.col("cell") != F.col("c1")).cast("bigint")).alias("n_moved"),
            (
                F.sum(F.round(F.col("d2") * 1000000, 0).cast("long")) / F.lit(1e6)
            ).alias("inertia"),
        )
        .orderBy("cluster")
    )


EMB_KMEANS_SQL = f"""
WITH {_IVF_CELLS_CTE},
ex2 AS (
  SELECT c.cell, t.d AS d, e.v[t.d + 1] AS x
  FROM e JOIN cells c USING (vec_id), range(0, 64) t(d)
),
cent2dim AS (
  SELECT cell, d,
    (SUM(CAST(ROUND(x * 1000000, 0) AS BIGINT)) / 1000000.0) / COUNT(*) AS c
  FROM ex2 GROUP BY cell, d
),
cent2 AS (
  SELECT cell, list(c ORDER BY d) AS cv FROM cent2dim GROUP BY cell
),
dist2 AS (
  SELECT e.vec_id, cent2.cell,
    list_reduce(
      list_prepend(CAST(0.0 AS DOUBLE),
        list_transform(range(1, 65), i -> (v[i] - cv[i]) * (v[i] - cv[i]))),
      (acc, x) -> acc + x) AS d2
  FROM e, cent2
),
a2 AS (
  SELECT vec_id, cell, d2 FROM (
    SELECT vec_id, cell, d2,
      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
    FROM dist2
  ) WHERE rn = 1
)
SELECT a2.cell AS cluster,
  CAST(COUNT(*) AS BIGINT) AS n_vecs,
  CAST(COUNT(*) FILTER (WHERE a2.cell <> c1.cell) AS BIGINT) AS n_moved,
  SUM(CAST(ROUND(a2.d2 * 1000000, 0) AS BIGINT)) / 1000000.0 AS inertia
FROM a2 JOIN cells c1 USING (vec_id)
GROUP BY a2.cell
ORDER BY cluster
"""


register(
    QuerySpec(
        "embeddings_kmeans",
        embeddings_kmeans,
        EMB_KMEANS_SQL,
        ("SIM8", "IT1"),
        doc="one Lloyd's k-means iteration: broadcast-centroid assign/update/reassign",
    )
)


# ---------------------------------------------------------------------------
# corpus_weighted_sample_topk — EXACT-BUDGET weighted sampling
# (Efraimidis–Spirakis A-ES): every doc gets the key u^(1/w) for a
# deterministic hash-uniform u ∈ (0,1) and weight w = quality score; the
# top-k keys ARE a weighted sample without replacement. Complements the
# Bernoulli sampler above (corpus_quality_weighted_sample), which hits a
# RATE but not a budget — this hits an exact k, the "select the best 10M
# docs for the next training mix" shape.
#
# Plan: pure projection + TakeOrderedAndProject — one pass, per-partition
# heaps of size k, no global sort or shuffle of the corpus; identical at
# 100 TB. Reproducible across runs/engines/cluster layouts because u
# comes from the content hash, not an RNG.
#
# Cross-engine exactness: rank by ln(u)/w (same ordering as u^(1/w),
# since ln is monotone) ROUNDED to 12 dp — ln/pow are not guaranteed
# correctly-rounded across libm implementations, and 12 dp absorbs any
# last-ulp difference while the hash-uniform's 2^-20 granularity keeps
# real key gaps far wider; doc_id breaks residual ties.
# ---------------------------------------------------------------------------
WSAMPLE_K = 100
WSAMPLE_M = 1 << 20


def corpus_weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    q = text.quality_score(F.col("text"))
    u = hashing.hash_uniform(F.col("text"), WSAMPLE_M)
    skey = F.round(F.log(F.col("u")) / F.col("quality_score"), 12)
    ranked = (
        docs.select("doc_id", q.alias("quality_score"), u.alias("u"))
        .filter(F.col("quality_score") > 0)
        .select("doc_id", "quality_score", skey.alias("skey"))
        .orderBy(F.desc("skey"), "doc_id")
        .limit(WSAMPLE_K)
    )
    from pyspark.sql.window import Window

    w = Window.orderBy(F.desc("skey"), "doc_id")
    return ranked.withColumn(
        "rank", F.row_number().over(w).cast("bigint")
    ).orderBy("rank")


WSAMPLE_SQL = f"""
WITH tk AS (
  SELECT doc_id, text, {_TOK_SQL} AS tok FROM documents
),
scored AS (
  SELECT doc_id,
    {text.quality_score_sql()} AS quality_score,
    {hashing.hash_uniform_sql('text', WSAMPLE_M)} AS u
  FROM tk
),
keyed AS (
  SELECT doc_id, quality_score,
    ROUND(ln(u) / quality_score, 12) AS skey
  FROM scored WHERE quality_score > 0
)
SELECT doc_id, quality_score, skey,
  CAST(ROW_NUMBER() OVER (ORDER BY skey DESC, doc_id) AS BIGINT) AS rank
FROM keyed
ORDER BY skey DESC, doc_id
LIMIT {WSAMPLE_K}
"""


register(
    QuerySpec(
        "corpus_weighted_sample_topk",
        corpus_weighted_sample_topk,
        WSAMPLE_SQL,
        ("PIPE5",),
        doc="exact-k weighted sample (A-ES keys from content-hash uniforms)",
    )
)


# ---------------------------------------------------------------------------
# corpus_balanced_sample_topk — language-BALANCED exact-budget sampling:
# the same Efraimidis–Spirakis keys as corpus_weighted_sample_topk, but
# ranked per language with an equal per-language budget — the
# "multilingual training mix with k docs per language, best-first"
# primitive. One shuffle on lang (the rank window), per-group heaps; no
# global ordering of the corpus. The high-resource languages can't crowd
# out the tail no matter how skewed the corpus is — that's the point.
# ---------------------------------------------------------------------------
BSAMPLE_K = 25


def corpus_balanced_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    q = text.quality_score(F.col("text"))
    u = hashing.hash_uniform(F.col("text"), WSAMPLE_M)
    from pyspark.sql.window import Window

    w = Window.partitionBy("lang").orderBy(F.desc("skey"), "doc_id")
    return (
        docs.select("doc_id", "lang", q.alias("quality_score"), u.alias("u"))
        .filter(F.col("quality_score") > 0)
        .select(
            "doc_id",
            "lang",
            "quality_score",
            F.round(F.log(F.col("u")) / F.col("quality_score"), 12).alias("skey"),
        )
        .withColumn("lang_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("lang_rank") <= BSAMPLE_K)
        .orderBy("lang", "lang_rank")
    )


BSAMPLE_SQL = f"""
WITH tk AS (
  SELECT doc_id, lang, text, {_TOK_SQL} AS tok FROM documents
),
scored AS (
  SELECT doc_id, lang,
    {text.quality_score_sql()} AS quality_score,
    {hashing.hash_uniform_sql('text', WSAMPLE_M)} AS u
  FROM tk
),
keyed AS (
  SELECT doc_id, lang, quality_score,
    ROUND(ln(u) / quality_score, 12) AS skey
  FROM scored WHERE quality_score > 0
)
SELECT doc_id, lang, quality_score, skey,
  CAST(lang_rank AS BIGINT) AS lang_rank
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY lang ORDER BY skey DESC, doc_id) AS lang_rank
  FROM keyed
)
WHERE lang_rank <= {BSAMPLE_K}
ORDER BY lang, lang_rank
"""


register(
    QuerySpec(
        "corpus_balanced_sample_topk",
        corpus_balanced_sample_topk,
        BSAMPLE_SQL,
        ("PIPE6",),
        doc="language-balanced exact-k weighted sample (per-lang A-ES budgets)",
    )
)


# ---------------------------------------------------------------------------
# embeddings_top_component — the leading principal direction of the
# embedding cloud via FOUR power iterations of X^T X from a fixed unit
# start vector (1/8 in every dimension; dim=64): w = Σ_rows x·(x·v),
# v' = w/‖w‖. The first step of PCA whitening / spectral embedding
# compression, expressed as DataFrame ops: per iteration ONE pass over
# the vectors (dot product + per-dimension scaled-integer sums, map-side
# combinable) with the 64-double direction vector BROADCAST — the same
# matrix-free shape distributed PCA (e.g. MLlib's) uses per iteration.
#
# Determinism: x·v is an ordered zip_with fold (bit-identical both
# engines); each per-dimension Σ x_d·(x·v) rounds its terms to 1e-9 and
# sums exact BIGINTs (order-free); the norm folds the 64 dimension sums
# in dimension order. Output loadings rounded to 9 dp.
# ---------------------------------------------------------------------------
def _power_multiply(e: DataFrame, vals: list[float]) -> list[float]:
    """ONE matrix-free A·u multiply: the distributed pass (per-dim exact
    BIGINT sums of x_d·(x·v), map-side combinable) stays in Spark; the
    64-double iterate crosses the driver as literals. Round 14 (guide
    §1.2/§5; the markov/BPE driver-bounded-iteration precedent): the old
    form chained each step's 1-row DF into the next via
    crossJoin(broadcast(vcur)), so step k's plan re-embedded every prior
    step's multiply — the final plan evaluated O(k²) full passes
    (embeddings_top_component 5.0 s, top2 11.1 s at sf0.1). Collecting the
    dim-BOUNDED iterate (64 rows — bounded by the schema, never by data)
    makes each step exactly one pass. The fold arithmetic the old Spark
    expressions did per element (sequential acc + y*y, x / sqrt(norm),
    zip_with dots) is replicated in Python over the SAME IEEE doubles in
    the SAME order, so results are bit-identical (oracle-verified at
    sf0.01/sf0.1 + the edge-vector sweep)."""
    pc = F.array(*[F.lit(float(x)) for x in vals])
    dots = e.select(
        F.posexplode("v").alias("d", "x"),
        vectors.dot(F.col("v"), pc).alias("dot"),
    )
    w = dots.groupBy("d").agg(
        (
            F.sum(F.round(F.col("x") * F.col("dot") * 1e9, 0).cast("long"))
            / F.lit(1e9)
        ).alias("w")
    )
    rows = sorted(w.collect(), key=lambda r: r.d)
    return [r.w for r in rows]


def _normalize_vals(warr: list[float]) -> list[float]:
    """x / sqrt(Σ y²) with the exact fold order of the old F.aggregate."""
    import math

    acc = 0.0
    for y in warr:
        acc = acc + y * y
    nrm = math.sqrt(acc)
    return [x / nrm for x in warr]


def embeddings_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-12: shared cached vector store (_emb_base)
    e = _emb_base(spark, sf_dir).select("vec_id", "v")

    vals = [0.125] * 64
    for _ in range(4):
        vals = _normalize_vals(_power_multiply(e, vals))
    vcur = spark.range(1).select(
        F.array(*[F.lit(x) for x in vals]).alias("pc")
    )
    return (
        vcur.select(F.posexplode("pc").alias("d", "loading"))
        .select(
            F.col("d").cast("bigint").alias("d"),
            F.round("loading", 9).alias("loading"),
        )
        .orderBy("d")
    )


def _pc_matvec_sql(prev: str, name: str) -> str:
    """``{name}_w(d, w)``: A·u for the unit vector ``prev.pc`` as fixed-point
    per-dim sums (1e-9 BIGINT terms, summation-order-free)."""
    return f"""{name}_w AS (
  SELECT t.d AS d,
    SUM(CAST(ROUND(e.v[t.d + 1] *
      list_dot_product(e.v, (SELECT pc FROM {prev})) * 1e9, 0) AS BIGINT))
      / 1e9 AS w
  FROM e, range(0, 64) t(d)
  GROUP BY t.d
)"""


def _pc_iter_sql(prev: str, name: str) -> str:
    return f"""{_pc_matvec_sql(prev, name)},
{name} AS (
  SELECT list_transform(wa, x -> x / sqrt(
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(wa, y -> y * y)), (acc, z) -> acc + z))) AS pc
  FROM (SELECT list(w ORDER BY d) AS wa FROM {name}_w)
)"""


#: Four power-iteration steps from the uniform start, ending in
#: ``it4(pc)``: the top principal direction, shared by both PCA oracles.
_PC1_CTES = f"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM {EMB_SOURCE_SQL}),
r0 AS (
  SELECT list_transform(range(64), x -> CAST(0.125 AS DOUBLE)) AS pc
),
{_pc_iter_sql("r0", "it1")},
{_pc_iter_sql("it1", "it2")},
{_pc_iter_sql("it2", "it3")},
{_pc_iter_sql("it3", "it4")}"""

EMB_TOP_COMPONENT_SQL = f"""
WITH {_PC1_CTES}
SELECT CAST(t.d AS BIGINT) AS d, ROUND(pc[t.d + 1], 9) AS loading
FROM it4, range(0, 64) t(d)
ORDER BY d
"""


register(
    QuerySpec(
        "embeddings_top_component",
        embeddings_top_component,
        EMB_TOP_COMPONENT_SQL,
        ("IT3", "SIM9"),
        doc="leading PCA direction by matrix-free power iteration (4 steps)",
    )
)


# ---------------------------------------------------------------------------
# dedup_containment — asymmetric near-dup detection: containment
# C(A,B) = |A∩B| / min(|A|,|B|) over rare-shingle sets. Jaccard misses the
# "small doc embedded in a much larger doc" case (the union term drowns the
# overlap); containment is the score quote/boilerplate/wrapper dedup
# thresholds on. Same candidate machinery as dedup_ngram_jaccard — the
# doc-frequency-capped shingle self-join — so no all-pairs term; only the
# score formula and the directional output differ. Pairs that containment
# flags but Jaccard would NOT (jaccard < JACCARD_THRESHOLD) are exactly the
# asymmetric dups this operator exists for; both scores are reported.
# ---------------------------------------------------------------------------
CONTAINMENT_THRESHOLD = 0.8


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _rare_shingles(read_table(spark, sf_dir, "documents"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("common"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    scored = (
        common.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn(
            "containment",
            F.round(
                F.col("common").cast("double") / F.least("na", "nb"), 6
            ),
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("common")),
                6,
            ),
        )
        .filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
    )
    # direction: the smaller shingle set is the contained doc (tie → doc_a,
    # which always holds the lower doc_id)
    inner_is_a = F.col("na") <= F.col("nb")
    return scored.select(
        F.when(inner_is_a, F.col("doc_a")).otherwise(F.col("doc_b")).alias(
            "doc_inner"
        ),
        F.when(inner_is_a, F.col("doc_b")).otherwise(F.col("doc_a")).alias(
            "doc_outer"
        ),
        "containment",
        "jaccard",
        (F.col("jaccard") < JACCARD_THRESHOLD).alias("jaccard_missed"),
    ).sortWithinPartitions("doc_inner", "doc_outer")


CONTAINMENT_SQL = f"""
WITH {_RARE_SHINGLE_CTES},
scored AS (
  SELECT doc_a, doc_b, na.n AS na, nb.n AS nb,
    ROUND(CAST(common AS DOUBLE) / LEAST(na.n, nb.n), 6) AS containment,
    ROUND(CAST(common AS DOUBLE) / (na.n + nb.n - common), 6) AS jaccard
  FROM common
  JOIN sizes na ON common.doc_a = na.doc_id
  JOIN sizes nb ON common.doc_b = nb.doc_id
)
SELECT
  CASE WHEN na <= nb THEN doc_a ELSE doc_b END AS doc_inner,
  CASE WHEN na <= nb THEN doc_b ELSE doc_a END AS doc_outer,
  containment, jaccard,
  jaccard < {JACCARD_THRESHOLD} AS jaccard_missed
FROM scored
WHERE containment >= {CONTAINMENT_THRESHOLD}
ORDER BY doc_inner, doc_outer
"""


register(
    QuerySpec(
        "dedup_containment",
        dedup_containment,
        CONTAINMENT_SQL,
        ("DD16",),
        doc="asymmetric containment dedup (doc-in-doc), rare-shingle join",
    )
)


# ---------------------------------------------------------------------------
# dedup_normalized_exact — exact dedup AFTER text canonicalization
# (lowercase, non-alphanumerics collapsed to single spaces, trimmed): the
# cheap normalization pass every corpus pipeline runs before byte-exact
# hashing, catching the re-encoded / re-punctuated / case-shifted copies
# that raw md5 misses. Output is the copies-per-content histogram for BOTH
# the raw and the normalized hash side by side, so the operator quantifies
# what normalization buys. Plan: two hash-groupBys over one scan — same
# scale shape as dedup_exact_hist.
# ---------------------------------------------------------------------------
def _norm_text(col):
    return F.trim(F.regexp_replace(F.lower(col), "[^a-z0-9]+", " "))


def dedup_normalized_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")

    # ONE scan computes BOTH hashes, unpivoted into a (kind, h) stream;
    # the histograms come back as conditional aggregates — the old
    # raw/norm branches each re-planned the md5 scan (round-11 scan
    # census: 2 documents scans here)
    kinds = docs.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("raw").alias("kind"),
                    F.md5(F.col("text")).alias("h"),
                ),
                F.struct(
                    F.lit("norm").alias("kind"),
                    F.md5(_norm_text(F.col("text"))).alias("h"),
                ),
            )
        ).alias("kh")
    ).select("kh.kind", "kh.h")
    return (
        kinds.groupBy("kind", "h")
        .agg(F.count("*").alias("n_copies"))
        .groupBy("n_copies")
        .agg(
            F.sum(F.when(F.col("kind") == "raw", 1).otherwise(0))
            .cast("long")
            .alias("n_groups_raw"),
            F.sum(F.when(F.col("kind") == "norm", 1).otherwise(0))
            .cast("long")
            .alias("n_groups_norm"),
        )
        .orderBy("n_copies")
    )


# DuckDB regexp_replace needs the 'g' flag for replace-all (Spark's default)
NORMALIZED_EXACT_SQL = """
WITH raw AS (
  SELECT n_copies, COUNT(*) AS n_groups_raw FROM (
    SELECT md5(text) AS h, COUNT(*) AS n_copies FROM documents GROUP BY 1
  ) GROUP BY n_copies
),
norm AS (
  SELECT n_copies, COUNT(*) AS n_groups_norm FROM (
    SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS h,
           COUNT(*) AS n_copies
    FROM documents GROUP BY 1
  ) GROUP BY n_copies
)
SELECT COALESCE(raw.n_copies, norm.n_copies) AS n_copies,
  CAST(COALESCE(n_groups_raw, 0) AS BIGINT) AS n_groups_raw,
  CAST(COALESCE(n_groups_norm, 0) AS BIGINT) AS n_groups_norm
FROM raw FULL OUTER JOIN norm USING (n_copies)
ORDER BY n_copies
"""


register(
    QuerySpec(
        "dedup_normalized_exact",
        dedup_normalized_exact,
        NORMALIZED_EXACT_SQL,
        ("DD17",),
        doc="exact dedup after canonicalization, raw-vs-normalized histogram",
    )
)


# ---------------------------------------------------------------------------
# text_char_entropy — character-level Shannon entropy (bits) over the
# letter distribution of each doc: the cheap gibberish/boilerplate signal
# (natural prose sits near ~4.1 bits; keyboard mash and repeated padding
# collapse toward 0-3). Plan: regexp letter extraction (no Python) →
# explode → (doc, char) counts → per-doc weighted sum. Cross-engine exact
# the same way text_lm_score is: each ln(count/n) is fixed-pointed at 1e-6
# into a BIGINT, the Σ count·qf accumulation is exact integer arithmetic
# (summation-order-free), and the final bits conversion is one identical
# IEEE division sequence (ln 2 as a shared literal).
# ---------------------------------------------------------------------------
LN2 = 0.6931471805599453


def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    ch = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]"), 0)
        ).alias("c"),
    )
    # per-doc letter total as a WINDOW sum over the (doc, char) counts —
    # the old groupBy+join branch re-planned the letter-extraction scan
    # (round-11 scan census: 2 documents scans here)
    cnts = (
        ch.groupBy("doc_id", "c")
        .agg(F.count("*").alias("cnt"))
        .withColumn("n", F.sum("cnt").over(Window.partitionBy("doc_id")))
    )
    term = cnts.select(
        "doc_id",
        "cnt",
        "n",
        F.round(
            F.log(F.col("cnt").cast("double") / F.col("n")) * 1000000.0, 0
        )
        .cast("long")
        .alias("qf"),
    )
    agg = term.groupBy("doc_id").agg(
        F.sum(F.col("cnt") * F.col("qf")).alias("s"),
        F.sum("cnt").alias("n_chars"),
        F.count("*").alias("n_distinct_chars"),
    )
    # exact integer micro-rounding of the weighted mean, then one
    # deterministic IEEE division chain — no float ROUND (cross-engine
    # tie hazard; see corpus_importance_weights)
    micro = F.expr(
        "CASE WHEN s < 0 THEN -1 ELSE 1 END"
        " * ((2 * abs(s) + n_chars) DIV (2 * n_chars))"
    )
    return agg.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_distinct_chars").cast("long").alias("n_distinct_chars"),
        (-(micro.cast("long")) / F.lit(1000000.0) / F.lit(LN2)).alias(
            "entropy_bits"
        ),
    ).sortWithinPartitions("doc_id")


CHAR_ENTROPY_SQL = f"""
WITH ch AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]')) AS c
  FROM documents
),
cnts AS (SELECT doc_id, c, COUNT(*) AS cnt FROM ch GROUP BY 1, 2),
tot AS (SELECT doc_id, SUM(cnt) AS n FROM cnts GROUP BY 1),
term AS (
  SELECT cnts.doc_id, cnt, n,
    CAST(ROUND(ln(CAST(cnt AS DOUBLE) / n) * 1000000.0, 0) AS BIGINT) AS qf
  FROM cnts JOIN tot USING (doc_id)
),
agg AS (
  SELECT doc_id, SUM(cnt * qf) AS s, SUM(cnt) AS n_chars,
         COUNT(*) AS n_distinct_chars
  FROM term GROUP BY 1
)
SELECT doc_id,
  CAST(n_chars AS BIGINT) AS n_chars,
  CAST(n_distinct_chars AS BIGINT) AS n_distinct_chars,
  CAST(-(CAST(CASE WHEN s < 0 THEN -1 ELSE 1 END
              * ((2 * ABS(s) + n_chars) // (2 * n_chars)) AS BIGINT))
       AS DOUBLE) / CAST(1000000.0 AS DOUBLE) / CAST({LN2!r} AS DOUBLE)
    AS entropy_bits
FROM agg
ORDER BY doc_id
"""


register(
    QuerySpec(
        "text_char_entropy",
        text_char_entropy,
        CHAR_ENTROPY_SQL,
        ("TX14",),
        doc="character-level Shannon entropy quality signal (bits/char)",
    )
)


# ---------------------------------------------------------------------------
# text_readability — Flesch reading-ease per doc from three integer
# counts: words (engine tokenizer), sentences (terminal-punctuation runs,
# floored at 1), and approximate syllables (vowel-group runs — the
# standard cheap estimator). All three are regexp/array lengths (no
# Python), and the score is one per-row IEEE expression over exact
# integers, so both engines compute identical doubles. The classic
# readability band: ~90 = very easy, ~30 = college-level.
# ---------------------------------------------------------------------------
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    words = F.size(text.tokens(F.col("text")))
    sentences = F.greatest(
        F.lit(1),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]+"), 0)),
    )
    syllables = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), 0)
    )
    return (
        docs.select(
            "doc_id",
            words.alias("n_words"),
            sentences.alias("n_sentences"),
            syllables.alias("n_syllables"),
        )
        .filter(F.col("n_words") > 0)
        .select(
            "doc_id",
            F.col("n_words").cast("long").alias("n_words"),
            F.col("n_sentences").cast("long").alias("n_sentences"),
            F.col("n_syllables").cast("long").alias("n_syllables"),
            F.round(
                F.lit(206.835)
                - F.lit(1.015)
                * (F.col("n_words").cast("double") / F.col("n_sentences"))
                - F.lit(84.6)
                * (F.col("n_syllables").cast("double") / F.col("n_words")),
                6,
            ).alias("flesch"),
        )
        .sortWithinPartitions("doc_id")
    )


READABILITY_SQL = f"""
WITH c AS (
  SELECT doc_id,
    len({_TOK_SQL}) AS n_words,
    GREATEST(1, len(regexp_extract_all(text, '[.!?]+'))) AS n_sentences,
    len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syllables
  FROM documents
)
SELECT doc_id,
  CAST(n_words AS BIGINT) AS n_words,
  CAST(n_sentences AS BIGINT) AS n_sentences,
  CAST(n_syllables AS BIGINT) AS n_syllables,
  ROUND(CAST(206.835 AS DOUBLE)
        - CAST(1.015 AS DOUBLE) * (CAST(n_words AS DOUBLE) / n_sentences)
        - CAST(84.6 AS DOUBLE) * (CAST(n_syllables AS DOUBLE) / n_words),
        6) AS flesch
FROM c
WHERE n_words > 0
ORDER BY doc_id
"""


register(
    QuerySpec(
        "text_readability",
        text_readability,
        READABILITY_SQL,
        ("TX15",),
        doc="Flesch reading-ease from integer word/sentence/syllable counts",
    )
)


# ---------------------------------------------------------------------------
# ann_rrf_fusion — reciprocal-rank fusion of two retrievers (exact cosine
# and int8-quantized dot product) for the fixed query vector: each
# retriever contributes 1/(60+rank) for its top-FUSE_N candidates, fused
# score = sum, final top-ANN_K re-ranked. This is the standard hybrid-
# search combiner (Cormack et al.); at scale each retriever's top-N is a
# TakeOrderedAndProject over its own (possibly approximate) index and the
# fusion join touches only 2·FUSE_N rows — never the corpus.
#
# Determinism: ranks are integers (ties broken by vec_id inside each
# retriever), and the fused score is a two-term IEEE sum in fixed
# written order over exact integer denominators.
# ---------------------------------------------------------------------------
FUSE_N = 100
RRF_K0 = 60


def ann_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-12: shared cached vector store (_emb_base)
    e = _emb_base(spark, sf_dir).select("vec_id", "v")
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    cos_list = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(vectors.cosine(F.col("v"), F.col("qv")), 6).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), F.col("vec_id"))
        .limit(FUSE_N)
    )
    quant = e.select(
        "vec_id", vectors.int8_quantize(F.col("v")).alias("q")
    )
    qq = quant.filter(F.col("vec_id") == 0).select(F.col("q").alias("qq"))
    idot = vectors.int8_dot(F.col("q"), F.col("qq"))
    int8_list = (
        quant.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qq))
        .select("vec_id", idot.alias("idot"))
        .orderBy(F.col("idot").desc(), F.col("vec_id"))
        .limit(FUSE_N)
    )
    # rank within each top-N list (N rows — the window is trivially cheap)
    ra = cos_list.select(
        "vec_id",
        F.row_number()
        .over(Window.orderBy(F.col("cos").desc(), F.col("vec_id")))
        .cast("long")
        .alias("rank_cos"),
    )
    rb = int8_list.select(
        "vec_id",
        F.row_number()
        .over(Window.orderBy(F.col("idot").desc(), F.col("vec_id")))
        .cast("long")
        .alias("rank_int8"),
    )
    fused = (
        ra.join(rb, "vec_id", "full_outer")
        .select(
            "vec_id",
            "rank_cos",
            "rank_int8",
            F.round(
                F.coalesce(
                    F.lit(1.0) / (F.lit(RRF_K0) + F.col("rank_cos")), F.lit(0.0)
                )
                + F.coalesce(
                    F.lit(1.0) / (F.lit(RRF_K0) + F.col("rank_int8")), F.lit(0.0)
                ),
                6,
            ).alias("rrf"),
        )
        .orderBy(F.col("rrf").desc(), F.col("vec_id"))
        .limit(ANN_K)
    )
    return fused


ANN_RRF_SQL = f"""
WITH {_INT8_BASE_CTES},
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
cos_list AS (
  SELECT vec_id, ROUND({vectors.cosine_sql('v', 'qv')}, 6) AS cos
  FROM e, q WHERE vec_id <> 0
  ORDER BY cos DESC, vec_id
  LIMIT {FUSE_N}
),
qv2 AS (SELECT q AS qq FROM base WHERE vec_id = 0),
int8_list AS (
  SELECT vec_id, {vectors.int8_dot_sql("q", "qq")} AS idot
  FROM base, qv2
  WHERE vec_id <> 0
  ORDER BY idot DESC, vec_id
  LIMIT {FUSE_N}
),
ra AS (
  SELECT vec_id,
    ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS rank_cos
  FROM cos_list
),
rb AS (
  SELECT vec_id,
    ROW_NUMBER() OVER (ORDER BY idot DESC, vec_id) AS rank_int8
  FROM int8_list
)
SELECT COALESCE(ra.vec_id, rb.vec_id) AS vec_id,
  rank_cos, rank_int8,
  ROUND(COALESCE(CAST(1.0 AS DOUBLE) / ({RRF_K0} + rank_cos), CAST(0.0 AS DOUBLE))
        + COALESCE(CAST(1.0 AS DOUBLE) / ({RRF_K0} + rank_int8), CAST(0.0 AS DOUBLE)),
        6) AS rrf
FROM ra FULL OUTER JOIN rb ON ra.vec_id = rb.vec_id
ORDER BY rrf DESC, vec_id
LIMIT {ANN_K}
"""


register(
    QuerySpec(
        "ann_rrf_fusion",
        ann_rrf_fusion,
        ANN_RRF_SQL,
        ("SIM10",),
        doc="reciprocal-rank fusion of exact-cosine and int8 retrievers",
    )
)


# ---------------------------------------------------------------------------
# dedup_minhash_est_error — measurement of the minhash ESTIMATOR itself:
# for every LSH candidate pair, the signature-agreement Jaccard estimate
# (agreeing minhash coordinates / k) against the TRUE shingle Jaccard,
# with the absolute error. This is the tuning loop for (k, bands) — the
# same eval-first discipline as ann_ivf_recall, applied to the dedup
# index. Candidates only (banded LSH), never all-pairs.
#
# Exactness: est is agree/8 (exactly binary-representable); the true
# Jaccard is integer-micro-rounded ((2·c·1e6 + d) div 2d — no float
# ROUND tie hazard); the error is one deterministic |a − b|.
# ---------------------------------------------------------------------------
def dedup_minhash_est_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the signature groupBy is consumed THREE times here (the banding pass
    # + both signature-agreement sides), so it is cached at doc grain; the
    # cache entry is matched by plan and reused for the rest of the
    # session (a re-run after the input files changed at the same path
    # reads the cached rows).
    docs = read_table(spark, sf_dir, "documents")
    sig = _minhash_sig(docs).persist()
    cand = _lsh_candidates(sig)
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{j}").alias(f"a{j}") for j in range(len(PERMS))],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{j}").alias(f"b{j}") for j in range(len(PERMS))],
    )
    agree = sum(
        [
            (F.col(f"a{j}") == F.col(f"b{j}")).cast("int")
            for j in range(len(PERMS))
        ],
        F.lit(0),
    )
    uni = _doc_shingles(docs)
    sizes = uni.groupBy("doc_id").agg(F.count("*").alias("n"))
    ua = uni.select(F.col("doc_id").alias("doc_a"), "t")
    ub = uni.select(F.col("doc_id").alias("doc_b"), "t")
    common = (
        cand.join(ua, "doc_a")
        .join(ub, ["doc_b", "t"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("common"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    k = len(PERMS)
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("agree", agree)
        .join(common, ["doc_a", "doc_b"], "left")
        .join(na, "doc_a")
        .join(nb, "doc_b")
        .selectExpr(
            "doc_a",
            "doc_b",
            f"CAST(agree AS BIGINT) AS n_agree",
            f"agree / CAST({k} AS DOUBLE) AS est_jaccard",
            # true jaccard, integer-micro-rounded
            """((2 * COALESCE(common, 0) * 1000000 + (na + nb - COALESCE(common, 0)))
                DIV (2 * (na + nb - COALESCE(common, 0))))
                / CAST(1000000.0 AS DOUBLE)
               AS true_jaccard""",
            f"""abs(agree / CAST({k} AS DOUBLE)
                - ((2 * COALESCE(common, 0) * 1000000 + (na + nb - COALESCE(common, 0)))
                   DIV (2 * (na + nb - COALESCE(common, 0))))
                  / CAST(1000000.0 AS DOUBLE))
               AS abs_err""",
        )
        .orderBy("doc_a", "doc_b")
    )


MINHASH_EST_ERROR_SQL = f"""
WITH {MINHASH_SIG_CTE},
{_LSH_COMMON_CTES},
scored AS (
  SELECT cand.doc_a, cand.doc_b,
    ({" + ".join(f"CAST(sa.mh{j} = sb.mh{j} AS INTEGER)" for j in range(len(PERMS)))})
      AS agree,
    COALESCE(common.common, 0) AS c,
    na.n + nb.n - COALESCE(common.common, 0) AS d
  FROM cand
  JOIN sig sa ON cand.doc_a = sa.doc_id
  JOIN sig sb ON cand.doc_b = sb.doc_id
  LEFT JOIN common ON cand.doc_a = common.doc_a AND cand.doc_b = common.doc_b
  JOIN sizes na ON cand.doc_a = na.doc_id
  JOIN sizes nb ON cand.doc_b = nb.doc_id
)
SELECT doc_a, doc_b,
  CAST(agree AS BIGINT) AS n_agree,
  agree / CAST({len(PERMS)} AS DOUBLE) AS est_jaccard,
  CAST((2 * c * 1000000 + d) // (2 * d) AS BIGINT)
    / CAST(1000000.0 AS DOUBLE) AS true_jaccard,
  ABS(agree / CAST({len(PERMS)} AS DOUBLE)
      - CAST((2 * c * 1000000 + d) // (2 * d) AS BIGINT)
        / CAST(1000000.0 AS DOUBLE)) AS abs_err
FROM scored
ORDER BY doc_a, doc_b
"""


register(
    QuerySpec(
        "dedup_minhash_est_error",
        dedup_minhash_est_error,
        MINHASH_EST_ERROR_SQL,
        ("DD18",),
        doc="minhash Jaccard estimator error vs true Jaccard on LSH candidates",
    )
)


# ---------------------------------------------------------------------------
# ann_pq_topk — product-quantization ANN (the third ANN family beside
# LSH-bucket and IVF): the 64-dim space splits into 4 subspaces of 16
# dims, each vector is encoded as 4 small codes (nearest per-subspace
# codeword), and query top-k runs by ASYMMETRIC DISTANCE COMPUTATION —
# the query precomputes a (subspace, codeword) → distance lookup table
# and every database vector's approximate distance is just 4 LUT adds.
# Codewords here are the per-label subspace means (the same deterministic
# seeding the IVF/kmeans family uses; production would Lloyd-iterate
# them — embeddings_kmeans IS that step).
#
# Why PQ at 100 TB: the scan replaces 64 doubles/vector with 4 codes
# (4 bytes at K≤256); the LUT is Q·S·K rows and BROADCASTS; the ADC join
# is map-side (code ⨝ LUT); nothing all-pairs.
#
# Cross-engine exactness: every subspace distance is fixed-pointed at
# 1e-6 into a BIGINT as it is built (Σ round((x−c)²·1e6)) — so codeword
# argmin, the LUT, and the 4-term ADC sum are all exact integer
# arithmetic, immune to float summation order; ties break by (code) and
# (vec_id).
# ---------------------------------------------------------------------------
PQ_SUBSPACES = 4  # 64 dims / 16 per subspace
PQ_TOP_K = 3
PQ_N_QUERIES = 5  # vec_id 1..5 are the query vectors (ids start at 0)


def _pq_subspace_dists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, s, code, d2i): exact scaled-int distance of every vector's
    subspace-s slice to every codeword of subspace s.

    Reads the shared cached vector store (round 15, guide §5/§6): the old
    ``read_embeddings(...)`` + ``as_double`` subtree is exactly
    ``_emb_base``'s plan minus the cache, and it was consumed TWICE here
    (the codebook aggregate and the distance join) — two raw parquet
    scans + float→double widenings per PQ query where every other
    multi-reference vector consumer reads the one materialization.
    """
    e = _emb_base(spark, sf_dir)
    ex = e.select(
        "vec_id", "label", F.posexplode("v").alias("d", "x")
    )
    cb = (
        ex.groupBy(F.col("label").alias("code"), "d")
        .agg(
            (
                (F.sum(F.round(F.col("x") * 1000000).cast("long")) / 1000000.0)
                / F.count("*")
            ).alias("c")
        )
        .withColumn("s", F.expr(f"d DIV {64 // PQ_SUBSPACES}"))
    )
    return (
        ex.join(cb, "d")
        .groupBy("vec_id", "s", "code")
        .agg(
            F.sum(
                F.round((F.col("x") - F.col("c")) * (F.col("x") - F.col("c")) * 1000000)
                .cast("long")
            ).alias("d2i")
        )
    )


def _pq_codes_lut(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """``(codes, lut)``: every vector's nearest codeword per subspace
    ``(vec_id, s, code)`` (ties by code), and the query block's exact
    distance table ``(q_id, s, code, d2i)`` — the SQL twin is
    ``_PQ_CODE_FRAG``."""
    sub = _pq_subspace_dists(spark, sf_dir).localCheckpoint()
    w_code = Window.partitionBy("vec_id", "s").orderBy("d2i", "code")
    codes = (
        sub.withColumn("rn", F.row_number().over(w_code))
        .filter(F.col("rn") == 1)
        .select("vec_id", "s", "code")
    )
    lut = sub.filter(
        (F.col("vec_id") >= 1) & (F.col("vec_id") <= PQ_N_QUERIES)
    ).select(F.col("vec_id").alias("q_id"), "s", "code", "d2i")
    return codes, lut


def _pq_topk(ad: DataFrame, *extra: str) -> DataFrame:
    """Per-query :data:`PQ_TOP_K` of an ``(q_id, vec_id, *extra, ad2i)``
    asymmetric-distance frame, ties by vec_id."""
    w_k = Window.partitionBy("q_id").orderBy("ad2i", "vec_id")
    return (
        ad.withColumn("rk", F.row_number().over(w_k).cast("long"))
        .filter(F.col("rk") <= PQ_TOP_K)
        .select(
            "q_id",
            "rk",
            "vec_id",
            *extra,
            (F.col("ad2i") / 1000000.0).alias("approx_d2"),
        )
        .orderBy("q_id", "rk")
    )


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    codes, lut = _pq_codes_lut(spark, sf_dir)
    ad = (
        codes.join(F.broadcast(lut), ["s", "code"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(F.sum("d2i").cast("bigint").alias("ad2i"))
    )
    return _pq_topk(ad)


#: PQ encode + query-LUT fragment, composed over ``_EMB_BASE_CTES`` —
#: shared by ANN_PQ_BODY, the recall oracle, and ANN_IVFPQ_SQL so none
#: can silently drift from the others
_PQ_CODE_FRAG = f"""
cb AS (
  SELECT label AS code, d, d // {64 // PQ_SUBSPACES} AS s,
    (SUM(CAST(ROUND(x * 1000000, 0) AS BIGINT)) / 1000000.0) / COUNT(*) AS c
  FROM ex GROUP BY label, d
),
sub AS (
  SELECT ex.vec_id, cb.s, cb.code,
    CAST(SUM(CAST(ROUND((ex.x - cb.c) * (ex.x - cb.c) * 1000000, 0)
                  AS BIGINT)) AS BIGINT) AS d2i
  FROM ex JOIN cb ON ex.d = cb.d
  GROUP BY 1, 2, 3
),
codes AS (
  SELECT vec_id, s, code FROM (
    SELECT vec_id, s, code,
      ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2i, code) AS rn
    FROM sub
  ) WHERE rn = 1
),
lut AS (
  SELECT vec_id AS q_id, s, code, d2i FROM sub
  WHERE vec_id BETWEEN 1 AND {PQ_N_QUERIES}
)"""

#: the unordered SELECT both ANN_PQ_SQL and the recall oracle compose —
#: shared so neither can silently drift from the other
ANN_PQ_BODY = f"""
WITH {_EMB_BASE_CTES},{_PQ_CODE_FRAG},
ad AS (
  SELECT lut.q_id, codes.vec_id, CAST(SUM(lut.d2i) AS BIGINT) AS ad2i
  FROM codes JOIN lut ON codes.s = lut.s AND codes.code = lut.code
  WHERE codes.vec_id <> lut.q_id
  GROUP BY 1, 2
)
SELECT q_id, CAST(rk AS BIGINT) AS rk, vec_id, ad2i / 1000000.0 AS approx_d2
FROM (
  SELECT q_id, vec_id, ad2i,
    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ad2i, vec_id) AS rk
  FROM ad
)
WHERE rk <= {PQ_TOP_K}
"""

ANN_PQ_SQL = f"{ANN_PQ_BODY}\nORDER BY q_id, rk"


register(
    QuerySpec(
        "ann_pq_topk",
        ann_pq_topk,
        ANN_PQ_SQL,
        ("SIM11",),
        doc="product-quantization ANN: 4-subspace codes + broadcast-LUT ADC top-k",
    )
)


# ---------------------------------------------------------------------------
# ann_ivfpq_topk — the COMPOSED production billion-scale ANN shape (faiss
# IVFADC / IVF-PQ): an IVF coarse quantizer prunes the scan to each query's
# NPROBE nearest cells, and PQ asymmetric-distance computation scores only
# those candidates via the broadcast (subspace, codeword) LUT. The two
# stages exist separately as graded queries (ann_ivf_topk SIM4, ann_pq_topk
# SIM11); this is their composition — what a real 100 TB vector store runs:
# candidate set n·nprobe/C instead of n, 4 LUT adds instead of 64 double
# mults per candidate, and the pruning artifact (a true neighbor hiding in
# an unprobed cell is invisible) is exactly what ann_ivf_recall/
# ann_pq_recall quantify.
#
# Plan shape: centroids and the LUT broadcast; the cell-membership join is
# an equi-join on vec_id; the ADC join is (s, code) map-side vs the
# broadcast LUT filtered to probed (q_id, cell) pairs BEFORE the per-query
# aggregate — only probed-cell candidates shuffle. Per-query top-k is a
# row_number window PARTITIONED BY q_id.
#
# Exactness: cell assignment d2 is the ordered zip_with fold (bit-identical
# doubles), nprobe selection and codeword argmin are exact fixed-point
# BIGINT comparisons, the ADC sum is exact integer arithmetic; ties break
# by (cell), (code), (vec_id).
# ---------------------------------------------------------------------------
IVFPQ_NPROBE = 2


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb_base(spark, sf_dir)  # round-12: shared cached vector store
    # persist: the ranked cell-distance frame is consumed by TWO branches
    # (home-cell assignment + the query-side nprobe list) — without the
    # pin each re-ran the n×|cells| zip_with distance cross-join (round
    # 15, the _ivf_cells pattern). n×|cells| rows; the cache
    # entry is matched by plan and reused for the rest of the session (a
    # re-run after the input files changed at the same path reads the
    # cached rows).
    ranked_cells = _ranked_cells(e, _mean_centroids(e, "label")).persist()
    cells = ranked_cells.filter(F.col("rn") == 1).select("vec_id", "cell")
    qprobe = (
        ranked_cells.filter(
            (F.col("vec_id") >= 1)
            & (F.col("vec_id") <= PQ_N_QUERIES)
            & (F.col("rn") <= IVFPQ_NPROBE)
        )
        .select(F.col("vec_id").alias("q_id"), "cell")
    )
    codes, lut = _pq_codes_lut(spark, sf_dir)
    # probe pruning BEFORE the ADC aggregate: candidates = vectors whose
    # single home cell is among the query's NPROBE probed cells
    cand = (
        codes.join(cells, "vec_id")
        .join(F.broadcast(qprobe), "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
    )
    ad = (
        cand.join(F.broadcast(lut), ["q_id", "s", "code"])
        .groupBy("q_id", "vec_id", "cell")
        .agg(F.sum("d2i").cast("bigint").alias("ad2i"))
    )
    return _pq_topk(ad, "cell")


ANN_IVFPQ_SQL = f"""
WITH {_EMB_BASE_CTES},{_IVF_CENT_FRAG},{_PQ_CODE_FRAG},
qprobe AS (
  SELECT vec_id AS q_id, cell FROM ranked_cells
  WHERE vec_id BETWEEN 1 AND {PQ_N_QUERIES} AND rn <= {IVFPQ_NPROBE}
),
cand AS (
  SELECT qprobe.q_id, codes.vec_id, cells.cell, codes.s, codes.code
  FROM codes
  JOIN cells ON codes.vec_id = cells.vec_id
  JOIN qprobe ON cells.cell = qprobe.cell
  WHERE codes.vec_id <> qprobe.q_id
),
ad AS (
  SELECT cand.q_id, cand.vec_id, cand.cell,
    CAST(SUM(lut.d2i) AS BIGINT) AS ad2i
  FROM cand
  JOIN lut ON cand.q_id = lut.q_id AND cand.s = lut.s AND cand.code = lut.code
  GROUP BY 1, 2, 3
)
SELECT q_id, CAST(rk AS BIGINT) AS rk, vec_id, cell,
       ad2i / 1000000.0 AS approx_d2
FROM (
  SELECT q_id, vec_id, cell, ad2i,
    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ad2i, vec_id) AS rk
  FROM ad
)
WHERE rk <= {PQ_TOP_K}
ORDER BY q_id, rk
"""


register(
    QuerySpec(
        "ann_ivfpq_topk",
        ann_ivfpq_topk,
        ANN_IVFPQ_SQL,
        ("SIM17",),
        doc="composed IVF-PQ (faiss IVFADC): nprobe cell pruning + broadcast-LUT ADC",
    )
)


# ---------------------------------------------------------------------------
# text_lang_confusion — the language-ID EVALUATION the corpus team reads
# before trusting text_langid's routing: a (stated, predicted) confusion
# matrix with per-cell counts and the cell's share of its stated-language
# row. Rollup of the langid projection — one shuffle on ≤ |langs|² keys,
# map-side combinable; the share is integer-DIV-rounded. The diagonal is
# langid accuracy; off-diagonal hot cells say which stopword lists need
# work.
# ---------------------------------------------------------------------------
def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    pred = text_langid(spark, sf_dir)
    # per-stated totals as a WINDOW sum over the (bounded) confusion cells
    # instead of a groupBy+join branch that re-planned the langid scan
    # (round-11 scan census: 2 documents scans here)
    cell = (
        pred.groupBy(
            F.col("lang").alias("stated"),
            F.col("predicted_lang").alias("predicted"),
        )
        .agg(F.count("*").alias("n"))
        .withColumn(
            "n_stated", F.sum("n").over(Window.partitionBy("stated"))
        )
    )
    return (
        cell
        .select(
            "stated",
            "predicted",
            F.col("n").cast("bigint").alias("n"),
            F.col("n_stated").cast("bigint").alias("n_stated"),
            F.expr(
                "((2 * n * 1000000 + n_stated) DIV (2 * n_stated))"
                " / CAST(1000000.0 AS DOUBLE)"
            ).alias("share"),
            (F.col("stated") == F.col("predicted")).alias("is_correct"),
        )
        .orderBy("stated", "predicted")
    )


TEXT_LANG_CONFUSION_SQL = f"""
WITH pred AS ({TEXT_LANGID_SQL.replace("ORDER BY doc_id", "")}),
cell AS (
  SELECT lang AS stated, predicted_lang AS predicted, COUNT(*) AS n
  FROM pred GROUP BY 1, 2
),
tot AS (SELECT stated, SUM(n) AS n_stated FROM cell GROUP BY 1)
SELECT cell.stated, predicted,
  CAST(n AS BIGINT) AS n,
  CAST(n_stated AS BIGINT) AS n_stated,
  CAST((2 * n * 1000000 + n_stated) // (2 * n_stated) AS BIGINT)
    / CAST(1000000.0 AS DOUBLE) AS share,
  cell.stated = predicted AS is_correct
FROM cell JOIN tot ON cell.stated = tot.stated
ORDER BY cell.stated, predicted
"""


register(
    QuerySpec(
        "text_lang_confusion",
        text_lang_confusion,
        TEXT_LANG_CONFUSION_SQL,
        ("TX17",),
        doc="language-ID confusion matrix over stated vs predicted language",
    )
)


# ---------------------------------------------------------------------------
# dedup_winnowing_pairs — MOSS-style winnowing fingerprints
# (Schleimer–Wilkerson–Aiken): hash every 3-word shingle, slide a
# W-position window over the ordered hash stream, keep each window's
# MINIMUM — the selected fingerprints are position-robust (any match of
# length ≥ W+2 tokens is guaranteed to share one) while storing only
# ~2/W of the hashes. Docs sharing ≥ 2 fingerprints become candidate
# pairs. The plagiarism/code-clone detector's candidate stage, and the
# cheaper cousin of full minhash when near-CONTIGUOUS overlap (not bag
# similarity) is the target.
#
# Plan: selection is ARRAY-NATIVE — hashes, window minima
# (array_min over slices), and per-doc dedup all happen inside one
# per-row projection, so the shingle stream NEVER hits a shuffle or a
# window sort (an earlier explode+window form paid a full sort of every
# shingle position; this one shuffles only the ~2/W selected
# fingerprints). A document-frequency cap (same guard as
# dedup_ngram_jaccard) stops boilerplate fingerprints exploding the
# bucket join. Selection, hashing, and counts are all exact integers.
# The under-split respread only fires when the local input is a single
# split — at 100 TB the source is already thousands of splits and the
# respread is a no-op branch.
# ---------------------------------------------------------------------------
WINNOW_W = 4
WINNOW_DF_CAP = 64
WINNOW_MIN_SHARED = 2


def dedup_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = repartition_undersplit(read_table(spark, sf_dir, "documents"))
    # materialized tok column — never the tokens(text) expression
    # (capture pathology: a captured tokens() subtree is re-evaluated per
    # lambda element)
    tk = docs.select("doc_id", text.tokens(F.col("text")).alias("tok"))
    sh = tk.select(
        "doc_id", text.word_shingles(F.col("tok")).alias("sh")
    ).withColumn("h", F.transform(F.col("sh"), lambda t: hashing.poly_hash(t)))
    fps_arr = F.when(
        F.size(F.col("h")) >= WINNOW_W,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(F.col("h")) - (WINNOW_W - 1)),
                lambda i: F.array_min(F.slice(F.col("h"), i, WINNOW_W)),
            )
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    # no .distinct(): fps_arr is array_distinct per doc and doc_id is
    # unique, so (doc_id, fp) is already duplicate-free — the extra
    # exchange would double-shuffle the selected fingerprints
    # document-frequency cap as a WINDOW count over an explicit fp
    # repartition that the self-join REUSES (the dedup_ngram_jaccard
    # idiom: one exchange, window + both join sides) — the old
    # groupBy+semi-join cap re-planned the whole fingerprint scan per
    # branch (round-11 scan census: 4 documents scans here)
    capped = (
        sh.select("doc_id", F.explode(fps_arr).alias("fp"))
        .repartition(F.col("fp"))
        .withColumn("df", F.count("*").over(Window.partitionBy("fp")))
        .filter(F.col("df") <= WINNOW_DF_CAP)
        .drop("df")
    )
    a = capped.select(F.col("doc_id").alias("doc_a"), "fp")
    b = capped.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("n_shared_fp"))
        .filter(F.col("n_shared_fp") >= WINNOW_MIN_SHARED)
        .sortWithinPartitions("doc_a", "doc_b")
    )


WINNOWING_SQL = f"""
WITH tk AS (
  SELECT doc_id, {_TOK_SQL} AS tok FROM documents
),
-- DuckDB: lateral range() cannot take column args; equal-length unnests
-- in one SELECT zip positionally instead
sh AS (
  SELECT doc_id,
    unnest(range(1, len(sh) + 1)) - 1 AS pos,
    unnest(list_transform(range(1, len(sh) + 1),
           i -> {hashing.poly_hash_sql("sh[i]")})) AS h
  FROM (SELECT doc_id, {text.word_shingles_sql("tok", 3)} AS sh FROM tk) s
),
winmin AS (
  SELECT doc_id, pos,
    MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING)
      AS fp,
    COUNT(*) OVER (PARTITION BY doc_id) AS n_sh
  FROM sh
),
fps AS (
  SELECT DISTINCT doc_id, fp FROM winmin WHERE pos <= n_sh - {WINNOW_W}
),
df_ok AS (
  SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= {WINNOW_DF_CAP}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  CAST(COUNT(*) AS BIGINT) AS n_shared_fp
FROM (SELECT doc_id, fp FROM fps JOIN df_ok USING (fp)) a
JOIN (SELECT doc_id, fp FROM fps JOIN df_ok USING (fp)) b USING (fp)
WHERE a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= {WINNOW_MIN_SHARED}
ORDER BY doc_a, doc_b
"""


register(
    QuerySpec(
        "dedup_winnowing_pairs",
        dedup_winnowing_pairs,
        WINNOWING_SQL,
        ("DD19",),
        doc="MOSS winnowing fingerprints: window-min hash selection + capped pair join",
    )
)


# ---------------------------------------------------------------------------
# ann_pq_recall — retrieval-quality eval for the PQ path: per query,
# recall@k of the ADC top-k against the EXACT L2 top-k (brute force with
# the 5-query side broadcast). The (subspaces, codebook-size) tuning
# loop's metric, itself oracle-graded — the PQ twin of ann_ivf_recall.
# Exact distances use the ordered-fold l2sq (identical doubles both
# engines), ranked by (rounded d2, vec_id) for a total order.
# ---------------------------------------------------------------------------
def ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-12: shared cached vector store (_emb_base)
    e = _emb_base(spark, sf_dir).select("vec_id", "v")
    q = e.filter(
        (F.col("vec_id") >= 1) & (F.col("vec_id") <= PQ_N_QUERIES)
    ).select(F.col("vec_id").alias("q_id"), F.col("v").alias("qv"))
    d = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            F.round(vectors.l2sq(F.col("v"), F.col("qv")), 6).alias("d2"),
        )
    )
    w = Window.partitionBy("q_id").orderBy("d2", "vec_id")
    exact = (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= PQ_TOP_K)
        .select("q_id", "vec_id")
    )
    approx = ann_pq_topk(spark, sf_dir).select("q_id", "vec_id")
    # LEFT join from the query list: a query whose PQ top-k fully misses
    # must surface as recall 0, not vanish from the output
    hits = exact.join(approx, ["q_id", "vec_id"]).groupBy("q_id").agg(
        F.count("*").alias("hits")
    )
    return (
        q.select("q_id")
        .join(hits, "q_id", "left")
        .select("q_id", F.coalesce("hits", F.lit(0)).cast("bigint").alias("n_hits"))
        .select(
            "q_id",
            F.lit(PQ_TOP_K).cast("bigint").alias("k"),
            "n_hits",
            F.round(F.col("n_hits").cast("double") / PQ_TOP_K, 6).alias(
                "recall"
            ),
        )
        .orderBy("q_id")
    )


ANN_PQ_RECALL_SQL = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM {EMB_SOURCE_SQL}
),
q AS (
  SELECT vec_id AS q_id, v AS qv FROM e
  WHERE vec_id BETWEEN 1 AND {PQ_N_QUERIES}
),
d AS (
  SELECT q.q_id, e.vec_id,
    ROUND({vectors.l2sq_sql('e.v', 'q.qv')}, 6) AS d2
  FROM e, q WHERE e.vec_id <> q.q_id
),
exact AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id,
      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d2, vec_id) AS rn
    FROM d
  ) WHERE rn <= {PQ_TOP_K}
),
hits AS (
  SELECT exact.q_id, COUNT(*) AS hits
  FROM exact
  JOIN ({ANN_PQ_BODY}) approx USING (q_id, vec_id)
  GROUP BY exact.q_id
)
SELECT q.q_id,
  CAST({PQ_TOP_K} AS BIGINT) AS k,
  CAST(COALESCE(hits, 0) AS BIGINT) AS n_hits,
  ROUND(CAST(COALESCE(hits, 0) AS DOUBLE) / {PQ_TOP_K}, 6) AS recall
FROM q LEFT JOIN hits ON q.q_id = hits.q_id
ORDER BY q.q_id
"""


register(
    QuerySpec(
        "ann_pq_recall",
        ann_pq_recall,
        ANN_PQ_RECALL_SQL,
        ("SIM11",),
        doc="per-query recall@k of PQ/ADC vs exact L2 top-k (codebook tuning loop)",
    )
)


# ---------------------------------------------------------------------------
# text_collocations — top token-pair collocations by pointwise mutual
# information: PMI(x,y) = ln(p(xy)/(p(x)p(y))) over ADJACENT token pairs,
# with a minimum pair count so rare accidents don't top the list. The
# phrase-mining primitive ("new york"-style units) run before building a
# tokenizer vocabulary. Same fixed-point-ln discipline as the LM/MI ops;
# probabilities are rationals of integer counts with products formed in
# DOUBLE (int64-overflow-proof at any corpus size). Pair stream = one
# lead() window per doc (reuses the posexplode order), rollups are
# map-side-combinable, top-k is TakeOrderedAndProject.
# ---------------------------------------------------------------------------
COLLOC_MIN_COUNT = 5
COLLOC_TOP_K = 20


def text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(text.tokens(F.col("text"))).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    pairs = toks.select(
        F.col("tok").alias("x"),
        F.lead("tok", 1).over(w).alias("y"),
    ).filter(F.col("y").isNotNull())
    # marginals as WINDOW sums over the pair-count table (what the oracle
    # SQL always did: n_x/n_y/tot are sums of c_xy) — the old four
    # aggregate branches each re-planned the scan+tokenize+lead pipeline
    # (round-11 scan census: 4 documents scans here). The grand total
    # comes off the shared cached token index: pairs-per-doc = tokens-1,
    # so n = (token rows) - (docs with >=1 token).
    n_xy = (
        pairs.groupBy("x", "y")
        .agg(F.count("*").alias("c_xy"))
        .withColumn("c_x", F.sum("c_xy").over(Window.partitionBy("x")))
        .withColumn("c_y", F.sum("c_xy").over(Window.partitionBy("y")))
    )
    idx = _token_postings(spark, sf_dir).filter(F.col("term").isNotNull())
    tot = idx.agg(
        (F.count("*") - F.countDistinct("doc_id")).alias("n")
    )
    j = (
        n_xy.filter(F.col("c_xy") >= COLLOC_MIN_COUNT)
        .crossJoin(F.broadcast(tot))
    )
    ratio = (F.col("c_xy").cast("double") * F.col("n")) / (
        F.col("c_x").cast("double") * F.col("c_y")
    )
    return (
        j.select(
            "x",
            "y",
            F.col("c_xy").cast("bigint").alias("c_xy"),
            (F.round(F.log(ratio) * 1000000.0, 0).cast("long") / 1000000.0).alias(
                "pmi"
            ),
        )
        .orderBy(F.desc("pmi"), "x", "y")
        .limit(COLLOC_TOP_K)
    )


COLLOCATIONS_SQL = f"""
WITH tk AS (
  SELECT doc_id, {_TOK_SQL} AS tok FROM documents
),
toks AS (
  SELECT doc_id,
    unnest(range(1, len(tok) + 1)) AS pos,
    unnest(tok) AS tok
  FROM tk
),
pairs AS (
  SELECT tok AS x,
    LEAD(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS y
  FROM toks
),
n_xy AS (
  SELECT x, y, COUNT(*) AS c_xy FROM pairs WHERE y IS NOT NULL GROUP BY 1, 2
),
n_x AS (SELECT x, SUM(c_xy) AS c_x FROM n_xy GROUP BY 1),
n_y AS (SELECT y, SUM(c_xy) AS c_y FROM n_xy GROUP BY 1),
tot AS (SELECT SUM(c_xy) AS n FROM n_xy)
SELECT n_xy.x, n_xy.y,
  CAST(c_xy AS BIGINT) AS c_xy,
  CAST(ROUND(ln((CAST(c_xy AS DOUBLE) * n) / (CAST(c_x AS DOUBLE) * c_y))
             * 1000000.0, 0) AS BIGINT) / 1000000.0 AS pmi
FROM n_xy
JOIN n_x ON n_xy.x = n_x.x
JOIN n_y ON n_xy.y = n_y.y
CROSS JOIN tot
WHERE c_xy >= {COLLOC_MIN_COUNT}
ORDER BY pmi DESC, n_xy.x, n_xy.y
LIMIT {COLLOC_TOP_K}
"""


register(
    QuerySpec(
        "text_collocations",
        text_collocations,
        COLLOCATIONS_SQL,
        ("TX18",),
        doc="top adjacent-token collocations by fixed-point PMI (phrase mining)",
    )
)


# ---------------------------------------------------------------------------
# dedup_threshold_curve — threshold sensitivity of the near-dup verifier:
# Jaccard is computed ONCE on the LSH candidate set, then counted at
# each cutoff 0.5…0.9. The tuning view read before picking
# MINHASH_VERIFY_THRESHOLD — a cliff between two cutoffs means the
# corpus has a near-dup band there; a flat curve means the choice is
# insensitive. Costs one extra ≤|thresholds|-row rollup over the
# candidate Jaccards every dedup consumer already computes; candidates
# below every cutoff are filtered before the tiny threshold cross join.
# ---------------------------------------------------------------------------
DEDUP_CURVE_THRESHOLDS = (0.5, 0.6, 0.7, 0.8, 0.9)


def dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    jac = _lsh_candidate_jaccards(read_table(spark, sf_dir, "documents")).filter(
        F.col("jaccard") >= min(DEDUP_CURVE_THRESHOLDS)
    )
    th = spark.createDataFrame(
        [(t,) for t in DEDUP_CURVE_THRESHOLDS], "threshold double"
    )
    return (
        jac.crossJoin(F.broadcast(th))
        .filter(F.col("jaccard") >= F.col("threshold"))
        .groupBy("threshold")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
        .join(th, "threshold", "right")
        .select(
            "threshold",
            F.coalesce("n_pairs", F.lit(0)).cast("bigint").alias("n_pairs"),
        )
        .orderBy("threshold")
    )


_CURVE_TH_VALUES = ", ".join(f"({t})" for t in DEDUP_CURVE_THRESHOLDS)

DEDUP_CURVE_SQL = f"""
WITH {MINHASH_SIG_CTE},
{_LSH_JACCARD_CTES},
th AS (SELECT CAST(t.threshold AS DOUBLE) AS threshold
      FROM (VALUES {_CURVE_TH_VALUES}) t(threshold))
SELECT threshold,
  CAST(COUNT(jaccard) FILTER (WHERE jaccard >= threshold) AS BIGINT)
    AS n_pairs
FROM th LEFT JOIN jac ON TRUE
GROUP BY threshold
ORDER BY threshold
"""


register(
    QuerySpec(
        "dedup_threshold_curve",
        dedup_threshold_curve,
        DEDUP_CURVE_SQL,
        ("DD21",),
        doc="near-dup pair counts at each verify threshold (the cutoff tuning view)",
    )
)


# ---------------------------------------------------------------------------
# text_bpe_train — the FULL iterative BPE tokenizer-training loop (3 greedy
# merges), extending text_bpe_merge_candidates' single distributed kernel
# the way embeddings_kmeans extends one Lloyd step: a driver loop whose
# per-step state is ONE collected row (the argmax pair — bounded, like the
# k centroid rows), with all heavy work distributed.
#
# Symbol-sequence encoding that keeps the merge EXACT and portable: each
# word is rendered with every symbol individually wrapped, "abc" ->
# "|a||b||c|". Merging pair (l, r) is then the LITERAL string replace
# "|l||r|" -> "|lr|" — no regex, no lookarounds (RE2 has none):
#   * greedy left-to-right non-overlap IS BPE's apply rule
#     ("|a||a||a|" -> "|aa||a|", the leftover "a" does not re-pair);
#   * the closing "|" of the left symbol and opening "|" of the right
#     make prefix collisions impossible ("|a||ab|" never matches "|a||a|");
#   * Spark replace() and DuckDB replace() share these literal semantics.
# Pair counts per step follow Sennrich-style counting (overlapping pairs
# in "aaa" count twice); argmax tie-breaks (cnt DESC, l, r) — all exact
# integers, so both engines pick the identical merge every step and the
# exported 3-row merge table hash-matches.
#
# Scale shape: the corpus is touched ONCE (token explode -> word-frequency
# groupBy, heavy map-side combine); every training step then runs on the
# cached DISTINCT-word table (vocabulary-sized, ~1e5-1e7 rows at 100 TB —
# the standard BPE-on-word-counts formulation), so 3 steps cost 3 tiny
# shuffles + 3 one-row collects, not 3 corpus scans.
# ---------------------------------------------------------------------------
BPE_TRAIN_STEPS = 3


def _bpe_pairs(enc_col):
    syms = F.split(F.expr("trim(BOTH '|' FROM enc)"), r"\|\|")
    # sequence(1, 0) DESCENDS in Spark — short encodings must be guarded
    return F.when(
        F.size(syms) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(syms) - 1),
            lambda i: F.struct(
                F.element_at(syms, i).alias("l"),
                F.element_at(syms, i + 1).alias("r"),
            ),
        ),
    ).otherwise(
        F.array().cast("array<struct<l:string,r:string>>")
    )


def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = _doc_tokens(read_table(spark, sf_dir, "documents"))
    words = (
        tok.select(F.explode("tok").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("wc"))
        .select(
            F.regexp_replace("w", "(.)", r"|$1|").alias("enc"), "wc"
        )
        .cache()
    )
    cur = words
    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, BPE_TRAIN_STEPS + 1):
        best = (
            cur.select("wc", F.explode(_bpe_pairs(F.col("enc"))).alias("p"))
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("wc").alias("cnt"))
            .orderBy(F.desc("cnt"), "l", "r")
            .limit(1)
            .collect()
        )
        if not best:
            break
        l, r, cnt = best[0].l, best[0].r, int(best[0].cnt)
        merges.append((step, l, r, cnt))
        cur = cur.select(
            F.replace(
                "enc", F.lit(f"|{l}||{r}|"), F.lit(f"|{l}{r}|")
            ).alias("enc"),
            "wc",
        )
    return spark.createDataFrame(
        merges,
        "step int, merge_left string, merge_right string, pair_count long",
    ).orderBy("step")


def _bpe_train_sql() -> str:
    stages = [
        """enc_0 AS (
  SELECT regexp_replace(w, '(.)', '|\\1|', 'g') AS enc, wc
  FROM (
    SELECT w, COUNT(*) AS wc
    FROM (SELECT unnest(tok) AS w FROM tk) GROUP BY w
  )
)"""
    ]
    for k in range(1, BPE_TRAIN_STEPS + 1):
        stages.append(f"""pairs_{k} AS (
  SELECT wc, syms[i] AS l, syms[i + 1] AS r
  FROM (
    SELECT wc, syms, unnest(range(1, len(syms))) AS i
    FROM (SELECT wc, string_split(trim(enc, '|'), '||') AS syms
          FROM enc_{k - 1})
  )
)""")
        stages.append(f"""best_{k} AS (
  SELECT l, r, SUM(wc) AS cnt FROM pairs_{k}
  GROUP BY l, r ORDER BY cnt DESC, l, r LIMIT 1
)""")
        stages.append(f"""enc_{k} AS (
  SELECT replace(e.enc, '|' || b.l || '||' || b.r || '|',
                 '|' || b.l || b.r || '|') AS enc, e.wc
  FROM enc_{k - 1} e, best_{k} b
)""")
    selects = "\nUNION ALL ".join(
        f"SELECT {k} AS step, l AS merge_left, r AS merge_right, "
        f"CAST(cnt AS BIGINT) AS pair_count FROM best_{k}"
        for k in range(1, BPE_TRAIN_STEPS + 1)
    )
    body = ",\n".join(stages)
    return f"""
WITH tk AS (
  SELECT doc_id, {_TOK_SQL} AS tok FROM documents
),
{body}
{selects}
ORDER BY step
"""


TEXT_BPE_TRAIN_SQL = _bpe_train_sql()


register(
    QuerySpec(
        "text_bpe_train",
        text_bpe_train,
        TEXT_BPE_TRAIN_SQL,
        ("TX19",),
        doc="3-step greedy BPE training loop, engine-identical merge table",
    )
)


# ---------------------------------------------------------------------------
# ann_hamming_topk — 1-bit (sign) quantization, the remaining point on the
# engine's embedding-compression curve (float cosine -> int8 dot -> PQ ADC
# -> 1 bit/dim): distance between vectors is the count of dimensions whose
# SIGNS disagree — a 64x memory reduction whose Hamming distances
# monotonically track angular distance (Charikar sign-LSH).
#
# Exactness: sign tests and the mismatch count are integers, so both
# engines order candidates identically (ties broken by vec_id). Plan
# shape: 1-row query side broadcast, one linear scan, mismatch fold
# JVM-side inside codegen, TakeOrderedAndProject for top-k — at 100 TB a
# production deployment additionally packs the 64 signs into one BIGINT
# word per vector and XOR+bit_count's words: that packed form is
# ann_hamming_packed below (local-only), which
# cross-checks its word distances against these unpacked ones row-by-row.
# ---------------------------------------------------------------------------
def ann_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_embeddings(spark, sf_dir)
    v = vectors.as_double(F.col("embedding"))
    sig = emb.select("vec_id", v.alias("v"))
    qv = sig.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    hamming = F.size(
        F.filter(
            F.zip_with(
                F.col("v"),
                F.col("qv"),
                lambda x, y: (x > 0) != (y > 0),
            ),
            lambda t: t,
        )
    )
    return (
        sig.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select("vec_id", hamming.cast("bigint").alias("hamming"))
        .orderBy("hamming", "vec_id")
        .limit(ANN_K)
    )


ANN_HAMMING_SQL = f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM {EMB_SOURCE_SQL}
),
qv AS (SELECT v AS qv FROM e WHERE vec_id = 0)
SELECT vec_id,
  CAST(len(list_filter(list_zip(v, qv),
                       p -> (p[1] > 0) <> (p[2] > 0))) AS BIGINT) AS hamming
FROM e, qv
WHERE vec_id <> 0
ORDER BY hamming, vec_id
LIMIT {ANN_K}
"""


register(
    QuerySpec(
        "ann_hamming_topk",
        ann_hamming_topk,
        ANN_HAMMING_SQL,
        ("SIM12",),
        doc="1-bit sign-quantized Hamming top-k (Charikar sign-LSH distances)",
    )
)


# ---------------------------------------------------------------------------
# ann_hamming_packed — the production storage form of ann_hamming_topk
# (VERDICT r6 #6): the 64 sign bits are packed into ONE BIGINT word per
# vector and the distance is bit_count(word XOR query_word) — a 64x
# narrower scan than the double array (8 bytes/vector vs 512) with
# identical distances, which the query PROVES by exporting the unpacked
# zip_with distance alongside and an agree flag per row.
#
# Bit-63 portability: both engines compute XOR and bit_count identically
# on negative two's-complement BIGINTs (probed: bit_count(-1)=64,
# bit_count(min_long)=1, xor(min_long,1)=min_long+1 on Spark AND DuckDB).
# What is NOT portable is CONSTRUCTING bit 63 via a shift — DuckDB raises
# OutOfRange on 1<<63 while Spark wraps silently — so the packer never
# shifts: bit i < 63 enters as the literal weight 2^i and bit 63 enters
# as the min-long literal -2^63 (the two's-complement value of a word
# with only bit 63 set), summed branch-free. The lower-bit partial sum is
# <= 2^63-1 and adding min-long stays in range, so neither engine can
# overflow. Dims beyond 64 would chunk into ceil(dim/64) words with the
# same weight trick per word; the embeddings table is dim-64, one word.
#
# Local-only, next to ann_hamming_topk: same capability, the
# packed encoding is a storage/bandwidth optimization, not new semantics.
# ---------------------------------------------------------------------------
_HAM_MINLONG = -(2**63)
_HAM_WEIGHTS = [2**i for i in range(63)] + [_HAM_MINLONG]


def ann_hamming_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_embeddings(spark, sf_dir)
    v = vectors.as_double(F.col("embedding"))
    w = F.array(*[F.lit(x).cast("long") for x in _HAM_WEIGHTS])
    pack = F.aggregate(
        F.zip_with(v, w, lambda x, wt: F.when(x > 0, wt).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    base = emb.select("vec_id", v.alias("v"), pack.alias("p"))
    q = base.filter(F.col("vec_id") == 0).select(
        F.col("v").alias("qv"), F.col("p").alias("qp")
    )
    unpacked = F.size(
        F.filter(
            F.zip_with(F.col("v"), F.col("qv"), lambda x, y: (x > 0) != (y > 0)),
            lambda t: t,
        )
    )
    return (
        base.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.expr("bit_count(p ^ qp)").cast("bigint").alias("hamming"),
            unpacked.cast("bigint").alias("hamming_unpacked"),
        )
        .withColumn(
            "agree",
            (F.col("hamming") == F.col("hamming_unpacked")).cast("bigint"),
        )
        .orderBy("hamming", "vec_id")
        .limit(ANN_K)
    )


_HAM_WEIGHTS_SQL = "[" + ", ".join(f"CAST({w} AS BIGINT)" for w in _HAM_WEIGHTS) + "]"

ANN_HAMMING_PACKED_SQL = f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM {EMB_SOURCE_SQL}
),
p AS (
  SELECT vec_id, v,
    CAST(list_sum(list_transform(list_zip(v, {_HAM_WEIGHTS_SQL}),
         pr -> CASE WHEN pr[1] > 0 THEN pr[2] ELSE CAST(0 AS BIGINT) END))
      AS BIGINT) AS p
  FROM e
),
q AS (SELECT v AS qv, p AS qp FROM p WHERE vec_id = 0)
SELECT vec_id,
  CAST(bit_count(xor(p, qp)) AS BIGINT) AS hamming,
  CAST(len(list_filter(list_zip(v, qv),
                       z -> (z[1] > 0) <> (z[2] > 0))) AS BIGINT)
    AS hamming_unpacked,
  CAST(CASE WHEN bit_count(xor(p, qp)) =
                 len(list_filter(list_zip(v, qv),
                                 z -> (z[1] > 0) <> (z[2] > 0)))
       THEN 1 ELSE 0 END AS BIGINT) AS agree
FROM p, q
WHERE vec_id <> 0
ORDER BY hamming, vec_id
LIMIT {ANN_K}
"""


register(
    QuerySpec(
        "ann_hamming_packed",
        ann_hamming_packed,
        ANN_HAMMING_PACKED_SQL,
        ("SIM13",),
        doc="BIGINT-packed XOR+bit_count Hamming top-k, cross-checked vs unpacked",
    )
)


# SemDeDup (Abbas et al. 2023) sizing shared by dedup_semantic_ivf and
# dedup_embedding_pairs_scaled: the learned cluster count SCALES WITH THE
# CORPUS — C = max(8, n_vectors DIV 250) — because a FIXED C makes
# intra-cluster pairs quadratic in n (n²/C). _L2_FOLD is the DuckDB
# squared-L2 distance of v to centroid cv, folded in dimension order so
# the doubles match Spark's ordered zip_with fold bit for bit.
_SEMDEDUP_TARGET = 250  # target vectors per learned cluster
_SEMDEDUP_C_MIN = 8  # cluster-count floor at tiny scales

_L2_FOLD = """list_reduce(
      list_prepend(CAST(0.0 AS DOUBLE),
        list_transform(range(1, 65), i -> (v[i] - cv[i]) * (v[i] - cv[i]))),
      (acc, x) -> acc + x)"""


# ---------------------------------------------------------------------------
# ann_mips_topk — maximum-inner-product search (MIPS), the retrieval mode
# where vector MAGNITUDE carries signal (recommender scores, frequency- or
# popularity-weighted embeddings) so cosine ANN ranks WRONG. The query
# exports the exact inner-product top-k AND proves the classic
# MIPS→cosine reduction (Neyshabur & Srebro 2015; Shrivastava & Li 2014)
# in the same row: each vector is literally augmented to
#   x' = [x/M ; sqrt(max(0, 1 − ‖x‖²/M²))],  q' = [q ; 0]   (M = max ‖x‖)
# and run through the SAME generic cosine used everywhere else; because
# ‖x'‖ = 1 for every x, cos(x', q') ∝ dot(x, q) and the two rankings must
# coincide — the exported rk_dot/rk_mips/agree columns are that proof.
# This is what lets a 100 TB deployment reuse its cosine-LSH/IVF
# infrastructure for inner-product retrieval: transform once at ingest,
# search with the unmodified cosine index.
#
# The sqrt argument is clamped at 0: for the max-norm vector 1 − s can
# round to −ε in floating point, and both engines apply the identical
# GREATEST(0, ·) guard.
#
# Ranking discipline (code-review r7 fix): selection and BOTH rankings use
# the RAW double scores — rounding scores to 6 dp before ranking could
# merge adjacent dots into ties that the (value, vec_id) tie-break then
# ordered differently for the two scores, firing agree=false on a
# mathematically exact reduction (and, across the LIMIT boundary, making
# the two top-k SETS diverge so the inner join dropped rows). Raw-double
# ranking is engine-stable here for the same reason _assign_nearest's raw
# d2 ranking is: both engines fold identical doubles in identical order
# (proven by embeddings_kmeans/IVF parity), and IEEE sqrt/divide are
# correctly rounded. One top-k set is selected (by raw dot,
# TakeOrderedAndProject); rk_mips re-ranks THE SAME K ROWS by the raw
# augmented cosine, so the result always has exactly K rows and the
# agreement columns compare orderings of one set. Only the exported score
# columns are rounded. Broadcast 1-row query side, one linear scan, same
# plan family as ann_topk_cosine.
# ---------------------------------------------------------------------------
def ann_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    # round-12: shared cached vector store (_emb_base)
    e = _emb_base(spark, sf_dir).select("vec_id", "v")
    m = e.agg(
        F.max(F.sqrt(vectors.dot(F.col("v"), F.col("v")))).alias("m")
    )
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    aug = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            vectors.dot(F.col("v"), F.col("qv")).alias("dot_raw"),
            F.concat(
                F.transform(F.col("v"), lambda x: x / F.col("m")),
                F.array(
                    F.sqrt(
                        F.greatest(
                            F.lit(0.0),
                            F.lit(1.0)
                            - vectors.dot(F.col("v"), F.col("v"))
                            / (F.col("m") * F.col("m")),
                        )
                    )
                ),
            ).alias("va"),
            F.concat(F.col("qv"), F.array(F.lit(0.0))).alias("qa"),
        )
        .select(
            "vec_id",
            "dot_raw",
            vectors.cosine(F.col("va"), F.col("qa")).alias("mips_raw"),
        )
    )
    top = aug.orderBy(F.desc("dot_raw"), "vec_id").limit(ANN_K)
    return (
        top.withColumn(
            "rk_dot",
            F.row_number().over(Window.orderBy(F.desc("dot_raw"), "vec_id")),
        )
        .withColumn(
            "rk_mips",
            F.row_number().over(Window.orderBy(F.desc("mips_raw"), "vec_id")),
        )
        .select(
            "vec_id",
            F.round("dot_raw", 6).alias("dot"),
            F.round("mips_raw", 6).alias("mips_cos"),
            F.col("rk_dot").cast("bigint").alias("rk_dot"),
            F.col("rk_mips").cast("bigint").alias("rk_mips"),
            (F.col("rk_dot") == F.col("rk_mips")).alias("agree"),
        )
        .orderBy("rk_dot")
    )


ANN_MIPS_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM {EMB_SOURCE_SQL}),
m AS (SELECT MAX(sqrt(list_dot_product(v, v))) AS m FROM e),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
aug AS (
  SELECT vec_id,
    list_dot_product(v, qv) AS dot_raw,
    {vectors.cosine_sql(
        "list_append(list_transform(v, x -> x / m), "
        "sqrt(greatest(CAST(0.0 AS DOUBLE), "
        "1.0 - list_dot_product(v, v) / (m * m))))",
        "list_append(qv, CAST(0.0 AS DOUBLE))",
    )} AS mips_raw
  FROM e, m, q WHERE vec_id <> 0
),
top AS (
  SELECT vec_id, dot_raw, mips_raw
  FROM aug ORDER BY dot_raw DESC, vec_id LIMIT {ANN_K}
),
ranked AS (
  SELECT vec_id, dot_raw, mips_raw,
    ROW_NUMBER() OVER (ORDER BY dot_raw DESC, vec_id) AS rk_dot,
    ROW_NUMBER() OVER (ORDER BY mips_raw DESC, vec_id) AS rk_mips
  FROM top
)
SELECT vec_id,
  ROUND(dot_raw, 6) AS dot,
  ROUND(mips_raw, 6) AS mips_cos,
  CAST(rk_dot AS BIGINT) AS rk_dot,
  CAST(rk_mips AS BIGINT) AS rk_mips,
  rk_dot = rk_mips AS agree
FROM ranked
ORDER BY rk_dot
"""


register(
    QuerySpec(
        "ann_mips_topk",
        ann_mips_topk,
        ANN_MIPS_SQL,
        ("SIM14",),
        doc="inner-product top-k with the MIPS-to-cosine reduction proven per row",
    )
)


# ---------------------------------------------------------------------------
# text_bm25_topk — BM25 retrieval: top-K documents for a fixed query term
# set, the scoring kernel of retrieval-augmented data curation (hard-negative
# mining, near-query sampling). Reference has no retrieval op — this is part
# of the LLM-pipeline surface (SURVEY §7).
#
# Exactness (the ledger idiom): each term's idf = ln((N-df+0.5)/(df+0.5)) is
# fixed-pointed at 1e-6 into a BIGINT immediately (libm ln agrees on
# identical doubles; the ln argument is ONE division of two exact integers,
# (2N-2df+1)/(2df+1)). The tf saturation k1=1.2, b=0.75 becomes an exact
# integer ratio by multiplying through by 10·L (L = total corpus tokens):
#   tf_component = 22·tf·L / (10·tf·L + 3·L + 9·dl·N)
# and each per-term contribution is ONE sign-safe DIV-round of exact
# integers, (2·idf_micro·num ± den) DIV (2·den), carried in DECIMAL(38,0) /
# HUGEINT so the interior product never overflows at any corpus size (22·
# tf·L·idf_micro passes int64 around 1e9 tokens — decimal is the 100 TB
# interior). Per-doc score = exact SUM of per-term BIGINT contributions.
#
# Scale shape: one explode+filter pass (predicate on the term BEFORE the
# groupBy — only query-term postings shuffle), tf/df/dl aggregates, df and
# the 1-row corpus stats broadcast, TakeOrderedAndProject for the top-K.
# The postings list for |Q| fixed terms is O(matching docs), never O(corpus
# vocabulary).
# ---------------------------------------------------------------------------
BM25_TERMS = ("spark", "join", "window")
BM25_K = 20


def _token_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus token-postings index: ONE documents scan →
    ``(doc_id, source, term)`` rows, repartitioned by doc_id and cached.

    The sibling of :func:`_doc_shingles` for unigram consumers. The BM25
    queries, the unigram legs of the LM scorers, and the token-stream
    sketches each need several views of the same corpus (document
    lengths, corpus stats, vocabularies, one tf aggregate per retrieval
    pass). Built as separate ``read_table`` subtrees, Catalyst re-plans
    the scan — and re-runs the regex tokenizer — once PER VIEW
    (text_bm25_prf paid 14 documents scans; round-11 scan census).
    Referencing this ONE materialization instead dedups them: the corpus
    is read and tokenized exactly once.

    Bare exchange reuse is NOT enough here: each branch's own predicates
    (the seed-term ``isin``, join-inferred ``isnotnull`` constraints)
    push down THROUGH a RepartitionByExpression, so the exchange
    subtrees stop being canonically identical and nothing is reused
    (verified on the round-11 final plans: four distinct full scans in
    text_bm25_topk). The working house idiom — the `_doc_shingles`
    corpus index — pairs the repartition with ``cache()``: the
    InMemoryRelation is a pushdown barrier, every consumer reads the one
    materialization (Spark caches by logical plan, so all BM25 queries
    on the same sf_dir share the entry), and InMemoryTableScan preserves
    the doc_id partitioning, keeping doc-keyed aggregates and joins
    above it exchange-free. At 100 TB this is the token-index
    materialization a production retrieval pipeline performs anyway
    (MEMORY_AND_DISK — spills, never recomputes the tokenizer).

    Document length is derived downstream as ``count(term)`` per doc
    (:func:`_bm25_doc_dl`) instead of a second ``size(tokens(text))``
    scan. ``explode_outer`` keeps zero-token and NULL-text docs as a
    single NULL-term row (count skips NULLs → dl=0, matching the 0/NULL
    dl SUM() semantics of the old per-view scans, and n_docs still
    counts every doc); every tf consumer drops NULL terms in its own
    term predicate.
    """
    docs = read_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", "source", text.tokens(F.col("text")).alias("tok")
    )
    return (
        base.select(
            "doc_id",
            "source",
            F.explode_outer("tok").alias("term"),
        )
        .repartition(F.col("doc_id"))
        .cache()
    )


def _bm25_doc_dl(posted: DataFrame) -> DataFrame:
    """Per-doc token count (doc_id, dl) off the shared postings exchange;
    exchange-free (grouping key = the partitioning key)."""
    return posted.groupBy("doc_id").agg(
        F.count("term").cast("long").alias("dl")
    )


def _bm25_stats(posted: DataFrame) -> DataFrame:
    """1-row (n_docs, l_tot) corpus stats off the shared postings exchange."""
    return _bm25_doc_dl(posted).agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("l_tot")
    )


def _bm25_tf(postings: DataFrame, *keys: str) -> DataFrame:
    """``(doc_id, term, *keys, tf)`` term frequencies of a postings frame."""
    return postings.groupBy("doc_id", "term", *keys).agg(
        F.count("*").cast("long").alias("tf")
    )


def _bm25_contrib(
    tf: DataFrame, pairs: DataFrame, dl: DataFrame, stats: DataFrame
) -> DataFrame:
    """``pairs`` (a ``tf`` frame, or one joined with its queries) with each
    posting's exact-integer BM25 ``contrib``: micro-nat idf from the term's
    document frequency in ``tf``, tf saturation as ONE sign-safe DIV-round
    in DECIMAL(38,0) (k1 = 1.2, b = 0.75 as integer ratios)."""
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf_micro = F.round(
        F.log(
            (2 * F.col("n_docs") - 2 * F.col("df") + 1).cast("double")
            / (2 * F.col("df") + 1).cast("double")
        )
        * 1000000.0,
        0,
    ).cast("long")
    num = F.lit(22).cast("decimal(38,0)") * F.col("tf") * F.col("l_tot")
    den = (
        F.lit(10).cast("decimal(38,0)") * F.col("tf") * F.col("l_tot")
        + F.lit(3).cast("decimal(38,0)") * F.col("l_tot")
        + F.lit(9).cast("decimal(38,0)") * F.col("dl") * F.col("n_docs")
    )
    half = F.when(F.col("idf_micro") >= 0, F.col("den")).otherwise(-F.col("den"))
    return (
        pairs.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")  # both sides on the doc_id partitioning: no shuffle
        .crossJoin(F.broadcast(stats))
        .withColumn("idf_micro", idf_micro)
        .withColumn("num", num)
        .withColumn("den", den)
        .withColumn("half", half)
        # `div` (not `/` + cast): decimal `/` rounds half-up at the cast,
        # DuckDB HUGEINT `//` truncates toward zero — div matches //
        .withColumn(
            "contrib",
            F.expr(
                "(CAST(2 AS DECIMAL(38,0)) * idf_micro * num + half) div "
                "(CAST(2 AS DECIMAL(38,0)) * den)"
            ),
        )
    )


def _bm25_per_doc(scored: DataFrame, *keys: str, col: str = "contrib") -> DataFrame:
    return scored.groupBy(*keys, "doc_id").agg(
        F.sum(col).cast("long").alias("score_micro"),
        F.count("*").alias("n_terms"),
    )


def _bm25_ranked(per_doc: DataFrame, k: int) -> DataFrame:
    # orderBy+limit FIRST (plans as a distributed TakeOrderedAndProject
    # over the O(matching docs) postings), then rank the K survivors —
    # row_number over an unpartitioned window on per_doc would funnel
    # every matching doc through one WindowExec partition at scale
    topk = per_doc.orderBy(F.desc("score_micro"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("score_micro"), F.asc("doc_id"))
    return (
        topk.withColumn("rk", F.row_number().over(w).cast("long"))
        .select("rk", "doc_id", "n_terms", "score_micro")
        .orderBy("rk")
    )


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    posted = _token_postings(spark, sf_dir)
    tf = _bm25_tf(posted.filter(F.col("term").isin(*BM25_TERMS)))
    scored = _bm25_contrib(tf, tf, _bm25_doc_dl(posted), _bm25_stats(posted))
    return _bm25_ranked(_bm25_per_doc(scored), BM25_K)


_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_TERMS)

#: Per-doc token counts and the 1-row corpus stats (the SQL twins of
#: :func:`_bm25_doc_dl` and :func:`_bm25_stats`).
_BM25_STATS_CTES = f"""dl AS (
  SELECT doc_id, CAST(len({_TOK_SQL}) AS BIGINT) AS dl FROM documents
),
stats AS (
  SELECT COUNT(*) AS n_docs, SUM(dl) AS l_tot FROM dl
)"""


def _bm25_contrib_sql(tf: str) -> str:
    """DuckDB twin of :func:`_bm25_contrib`'s ``contrib`` over the postings
    alias ``tf``, its document frequency ``d.df``, ``dl`` and ``stats s``
    (HUGEINT interior, ``//`` truncating like Spark's ``div``)."""
    idf = (
        "CAST(ROUND(ln(CAST(2*s.n_docs - 2*d.df + 1 AS DOUBLE)\n"
        "                  / CAST(2*d.df + 1 AS DOUBLE)) * 1000000.0, 0) AS BIGINT)"
    )
    den = (
        f"(CAST(10 AS HUGEINT) * {tf}.tf * s.l_tot + CAST(3 AS HUGEINT) * s.l_tot\n"
        "       + CAST(9 AS HUGEINT) * dl.dl * s.n_docs)"
    )
    return (
        f"(CAST(2 AS HUGEINT) * {idf}\n"
        f"       * (CAST(22 AS HUGEINT) * {tf}.tf * s.l_tot)\n"
        f"     + CASE WHEN {idf} >= 0\n"
        f"            THEN {den} ELSE -{den} END)\n"
        f"    // (CAST(2 AS HUGEINT) * {den})"
    )


def _bm25_topk_sql(scored: str, k: int) -> str:
    """The per-doc sum of ``scored.contrib`` and its top-``k`` ranking (the
    SQL twin of :func:`_bm25_per_doc` + :func:`_bm25_ranked`)."""
    return f"""per_doc AS (
  SELECT doc_id, CAST(SUM(contrib) AS BIGINT) AS score_micro,
         COUNT(*) AS n_terms
  FROM {scored} GROUP BY doc_id
),
ranked AS (
  SELECT doc_id, n_terms, score_micro,
    ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id) AS rk
  FROM per_doc
)
SELECT CAST(rk AS BIGINT) AS rk, doc_id, n_terms, score_micro
FROM ranked WHERE rk <= {k} ORDER BY rk"""


BM25_SQL = f"""
WITH {_BM25_STATS_CTES},
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents)
  WHERE term IN ({_BM25_TERMS_SQL})
  GROUP BY doc_id, term
),
dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
),
contrib AS (
  SELECT tf.doc_id, {_bm25_contrib_sql("tf")} AS contrib
  FROM tf JOIN dfreq d USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
),
{_bm25_topk_sql("contrib", BM25_K)}
"""


register(
    QuerySpec(
        "text_bm25_topk",
        text_bm25_topk,
        BM25_SQL,
        ("TX20",),
        doc="BM25 top-k retrieval with exact-integer saturation and micro-nat idf",
    )
)


# ---------------------------------------------------------------------------
# text_bm25_batch — BM25 retrieval with the queries as a TABLE (VERDICT r8
# #6): the LLM-pipeline consumer (hard-negative mining, retrieval eval)
# scores MILLIONS of queries, not one constant term set. Each of the
# BM25_BATCH_NQ lowest doc_ids becomes a query whose terms are its own top
# BM25_BATCH_QTERMS tokens (length >= 4, tf desc / term asc — the
# "query = salient terms of a training doc" mining shape), and every query
# retrieves its top BM25_BATCH_K corpus docs (self excluded).
#
# Scale shape: postings join the query-term table ON TERM — a plain
# equi-join Catalyst broadcasts below the threshold and AQE term-partitions
# above it (millions of queries = a shuffle-hash join on term, never a
# loop); per-query top-k is a row_number window PARTITIONED BY query_id
# (the ann_knn_join idiom — parallel over queries, O(|Q|) concurrency, no
# global single-partition funnel). Scoring arithmetic is byte-identical to
# text_bm25_topk: micro-nat BIGINT idf, exact-integer 10·L saturation,
# DECIMAL(38,0) interior, sign-safe DIV-round.
# ---------------------------------------------------------------------------
BM25_BATCH_NQ = 8
BM25_BATCH_QTERMS = 3
BM25_BATCH_K = 5


def text_bm25_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE documents scan (the shared postings exchange) feeds the query-term
    # mining, the corpus stats, and the scoring tf — previously four
    # separate scan subtrees re-read and re-tokenized the corpus (round-11
    # scan census: 7 documents scans in this plan)
    posted = _token_postings(spark, sf_dir)
    stats = _bm25_stats(posted)
    dl = _bm25_doc_dl(posted)
    # query table: per query doc, top QTERMS tokens (len>=4) by tf
    qtf = (
        posted.filter(
            (F.col("doc_id") < BM25_BATCH_NQ) & (F.length("term") >= 4)
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("qtf"))
    )
    qw = Window.partitionBy("doc_id").orderBy(F.desc("qtf"), F.asc("term"))
    qterms = (
        qtf.withColumn("qrk", F.row_number().over(qw))
        .filter(F.col("qrk") <= BM25_BATCH_QTERMS)
        .select(F.col("doc_id").alias("query_id"), "term")
    )
    # postings restricted to the query vocabulary BEFORE the tf groupBy —
    # only matching postings shuffle (text_bm25_topk's predicate, as a join)
    tf = _bm25_tf(posted.join(qterms.select("term").distinct(), "term"))
    pairs = (
        tf.join(qterms, "term")  # attaches query_id; term-partitioned
        .filter(F.col("doc_id") != F.col("query_id"))
    )
    per_doc = _bm25_per_doc(_bm25_contrib(tf, pairs, dl, stats), "query_id")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_micro"), F.asc("doc_id")
    )
    return (
        per_doc.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= BM25_BATCH_K)
        .select("query_id", "rk", "doc_id", "n_terms", "score_micro")
        .orderBy("query_id", "rk")
    )


BM25_BATCH_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents
),
qtf AS (
  SELECT doc_id, term, COUNT(*) AS qtf
  FROM toks WHERE doc_id < {BM25_BATCH_NQ} AND length(term) >= 4
  GROUP BY doc_id, term
),
qterms AS (
  SELECT doc_id AS query_id, term FROM (
    SELECT doc_id, term,
      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY qtf DESC, term) AS qrk
    FROM qtf
  ) WHERE qrk <= {BM25_BATCH_QTERMS}
),
{_BM25_STATS_CTES},
vocab AS (SELECT DISTINCT term FROM qterms),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks JOIN vocab USING (term)
  GROUP BY doc_id, term
),
dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
),
contrib AS (
  SELECT q.query_id, tf.doc_id, {_bm25_contrib_sql("tf")} AS contrib
  FROM tf
  JOIN qterms q USING (term)
  JOIN dfreq d USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats s
  WHERE tf.doc_id <> q.query_id
),
per_doc AS (
  SELECT query_id, doc_id, CAST(SUM(contrib) AS BIGINT) AS score_micro,
         COUNT(*) AS n_terms
  FROM contrib GROUP BY query_id, doc_id
),
ranked AS (
  SELECT query_id, doc_id, n_terms, score_micro,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY score_micro DESC, doc_id) AS rk
  FROM per_doc
)
SELECT query_id, CAST(rk AS BIGINT) AS rk, doc_id, n_terms, score_micro
FROM ranked WHERE rk <= {BM25_BATCH_K} ORDER BY query_id, rk
"""


register(
    QuerySpec(
        "text_bm25_batch",
        text_bm25_batch,
        BM25_BATCH_SQL,
        ("TX21",),
        doc="batched BM25: query TABLE join on term, per-query windowed top-k",
    )
)


# ---------------------------------------------------------------------------
# embeddings_jl_projection — Johnson–Lindenstrauss random-sign projection
# (d=64 -> k=16) with a per-pair distortion audit: the dimensionality-
# reduction stage a 100 TB ANN pipeline runs BEFORE bucketing/LSH (4x fewer
# bytes per vector, distances preserved within ~sqrt(2/k)). The projection
# runs over ALL vectors (the real O(n·d·k) job, one groupBy(vec_id, j)
# shuffle after a broadcast of the 16 output axes); the audit compares
# original vs projected squared distances on the bounded 40-vector sample
# (780 pairs) — never all-pairs over the corpus.
#
# Exactness: components are fixed-pointed to micro-units (BIGINT) before
# any arithmetic, so sums/differences/squares are exact integers on both
# engines; the deterministic sign is s(i,j) = 1-2·(((i·1103 + j·907 +
# i·j·751) mod 97) mod 2) — the mod-97 carry mixing breaks the parity
# structure a plain odd-multiplier parity hash would have (measured col
# balance |Σs| ≈ 3.5/64, pair-ratio mean 0.955 ± 0.30 ≈ the sqrt(2/k) JL
# bound). ratio_ppm is ONE truncating division with HUGEINT/DECIMAL(38,0)
# interior (2e6·d2_proj overflows int64 at |p| ~ 6e7).
# ---------------------------------------------------------------------------
JL_K = 16
JL_SAMPLE = 40


def embeddings_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-12: shared cached vector store (identical values — the cached
    # column is as_double(embedding), a per-element cast)
    comp = _emb_base(spark, sf_dir).select(
        "vec_id", F.posexplode("v").alias("i", "v")
    ).select(
        "vec_id",
        "i",
        F.round(F.col("v").cast("double") * 1000000.0, 0)
        .cast("long")
        .alias("vm"),
    )
    js = spark.range(JL_K).select(F.col("id").cast("int").alias("j"))
    sgn = F.lit(1) - 2 * (
        (
            (
                F.col("i") * 1103
                + F.col("j") * 907
                + F.col("i") * F.col("j") * 751
            )
            % 97
        )
        % 2
    )
    proj = (
        comp.crossJoin(F.broadcast(js))
        .select("vec_id", "j", (F.col("vm") * sgn).alias("t"))
        .groupBy("vec_id", "j")
        .agg(F.sum("t").alias("p"))
    )
    samp = comp.filter(F.col("vec_id") < JL_SAMPLE)
    d2o = (
        samp.alias("a")
        .join(
            samp.alias("b"),
            (F.col("a.i") == F.col("b.i"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .groupBy(
            F.col("a.vec_id").alias("va"), F.col("b.vec_id").alias("vb")
        )
        .agg(
            F.sum(
                (F.col("a.vm") - F.col("b.vm")) * (F.col("a.vm") - F.col("b.vm"))
            ).alias("d2_orig")
        )
    )
    psamp = proj.filter(F.col("vec_id") < JL_SAMPLE)
    d2p = (
        psamp.alias("a")
        .join(
            psamp.alias("b"),
            (F.col("a.j") == F.col("b.j"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .groupBy(
            F.col("a.vec_id").alias("va"), F.col("b.vec_id").alias("vb")
        )
        .agg(
            F.sum(
                (F.col("a.p") - F.col("b.p")) * (F.col("a.p") - F.col("b.p"))
            ).alias("d2_proj")
        )
    )
    return (
        d2o.join(d2p, ["va", "vb"])
        .filter(F.col("d2_orig") > 0)
        .withColumn(
            "ratio_ppm",
            F.expr(
                "CAST((CAST(2000000 AS DECIMAL(38,0)) * d2_proj"
                f"  + CAST({JL_K} AS DECIMAL(38,0)) * d2_orig) div "
                f" (CAST(2 AS DECIMAL(38,0)) * {JL_K} * d2_orig) AS BIGINT)"
            ),
        )
        .select("va", "vb", "d2_orig", "d2_proj", "ratio_ppm")
        .orderBy("va", "vb")
    )


JL_SQL = f"""
WITH comp AS (
  SELECT vec_id, i - 1 AS i,
    CAST(ROUND(CAST(v AS DOUBLE) * 1000000.0, 0) AS BIGINT) AS vm
  FROM (
    SELECT vec_id, unnest(embedding) AS v,
           generate_subscripts(embedding, 1) AS i
    FROM {EMB_SOURCE_SQL}
  )
),
proj AS (
  SELECT vec_id, j, SUM(vm * (1 - 2 * (((i*1103 + j*907 + i*j*751) % 97) % 2)))
    AS p
  FROM comp CROSS JOIN (SELECT unnest(range(0, {JL_K})) AS j) js
  GROUP BY vec_id, j
),
d2o AS (
  SELECT a.vec_id AS va, b.vec_id AS vb,
    SUM((a.vm - b.vm) * (a.vm - b.vm)) AS d2_orig
  FROM comp a JOIN comp b ON a.i = b.i AND a.vec_id < b.vec_id
  WHERE a.vec_id < {JL_SAMPLE} AND b.vec_id < {JL_SAMPLE}
  GROUP BY va, vb
),
d2p AS (
  SELECT a.vec_id AS va, b.vec_id AS vb,
    SUM((a.p - b.p) * (a.p - b.p)) AS d2_proj
  FROM proj a JOIN proj b ON a.j = b.j AND a.vec_id < b.vec_id
  WHERE a.vec_id < {JL_SAMPLE} AND b.vec_id < {JL_SAMPLE}
  GROUP BY va, vb
)
SELECT va, vb,
  CAST(d2_orig AS BIGINT) AS d2_orig,
  CAST(d2_proj AS BIGINT) AS d2_proj,
  CAST((CAST(2000000 AS HUGEINT) * d2_proj + {JL_K} * d2_orig)
       // (CAST(2 AS HUGEINT) * {JL_K} * d2_orig) AS BIGINT) AS ratio_ppm
FROM d2o JOIN d2p USING (va, vb)
WHERE d2_orig > 0
ORDER BY va, vb
"""


register(
    QuerySpec(
        "embeddings_jl_projection",
        embeddings_jl_projection,
        JL_SQL,
        ("SIM15",),
        doc="JL sign projection 64->16 over all vectors + exact pair distortion audit",
    )
)


# ---------------------------------------------------------------------------
# embeddings_matryoshka_recall — prefix-dimension retrieval evaluation (the
# Matryoshka/MRL truncation decision): before a 100 TB pipeline stores
# truncated embeddings (4x fewer bytes at d=16), it measures how much of
# the full-dimension top-k survives when retrieval runs on only the first
# m dims. For each prefix width m and each k: recall@k = |prefix-topk ∩
# full-topk| / k for the query vector (vec 0). The complement to the JL
# audit (SIM15 measures pairwise distortion of a random projection; this
# measures RANK preservation of prefix truncation, which is what
# retrieval actually consumes).
#
# Scale shape: per (m) branch one linear scan + TakeOrdered top-k (same
# plan family as ann_topk_cosine); the overlap join touches k rows per
# branch. Zero-norm prefixes (a vector whose first m dims are all zero —
# possible even though read_embeddings quarantines all-zero FULL vectors)
# are excluded on BOTH engines before the cosine, or ANSI Spark raises
# DIVIDE_BY_ZERO where DuckDB yields NULL (the round-8 edge-sweep class).
#
# Exactness: 6-dp rounded ordered-fold cosines, vec_id tie-breaks, exact
# DIV-round recall — set membership is therefore identical across engines.
# ---------------------------------------------------------------------------
MRL_PREFIX_DIMS = (8, 16, 32)
MRL_KS = (1, 5, 10)


def embeddings_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-12: shared cached vector store (_emb_base)
    e = _emb_base(spark, sf_dir).select("vec_id", "v")
    kmax = max(MRL_KS)

    def topk(m: int | None) -> DataFrame:
        vex = F.col("v") if m is None else F.slice(F.col("v"), 1, m)
        pnorm = F.aggregate(
            vex, F.lit(0.0), lambda acc, x: acc + x * x
        )
        base = e.select("vec_id", vex.alias("p"), pnorm.alias("pn"))
        q = base.filter((F.col("vec_id") == 0) & (F.col("pn") > 0)).select(
            F.col("p").alias("qp")
        )
        return (
            base.filter((F.col("vec_id") != 0) & (F.col("pn") > 0))
            .crossJoin(F.broadcast(q))
            .select(
                "vec_id",
                F.round(vectors.cosine(F.col("p"), F.col("qp")), 6).alias("cos"),
            )
            .orderBy(F.col("cos").desc(), F.col("vec_id"))
            .limit(kmax)
            .withColumn(
                "rk",
                F.row_number()
                .over(Window.orderBy(F.col("cos").desc(), F.col("vec_id")))
                .cast("long"),
            )
            .select("vec_id", "rk")
        )

    # full top-k is <= kmax rows and joined by every prefix branch:
    # localCheckpoint materializes it once (the ann_pq_topk idiom) so the
    # unioned plan holds ONE full-retrieval subtree, not one per branch;
    # per prefix, ALL k overlaps come from one conditional aggregate
    # unpivoted via stack() (the qc_k_anonymity idiom) so each prefix's
    # scan+TakeOrdered executes exactly once, not once per k.
    full = topk(None).withColumnRenamed("rk", "rk_full").localCheckpoint()
    stack_args = ", ".join(f"CAST({k} AS INT), o{k}" for k in MRL_KS)
    out = None
    for m in MRL_PREFIX_DIMS:
        hits = topk(m).join(F.broadcast(full), "vec_id", "inner")
        row = hits.agg(
            *[
                F.sum(
                    F.when(
                        (F.col("rk") <= k) & (F.col("rk_full") <= k), 1
                    ).otherwise(0)
                )
                .cast("bigint")
                .alias(f"o{k}")
                for k in MRL_KS
            ]
        )
        branch = row.select(
            F.lit(m).cast("int").alias("prefix_dims"),
            F.expr(f"stack({len(MRL_KS)}, {stack_args}) AS (k, overlap)"),
        )
        out = branch if out is None else out.unionByName(branch)
    return (
        out.withColumn(
            "recall",
            F.expr("(2 * overlap * 1000000 + k) DIV (2 * k)").cast("bigint")
            / F.lit(1000000.0).cast("double"),
        )
        .select("prefix_dims", "k", "overlap", "recall")
        .orderBy("prefix_dims", "k")
    )


def _mrl_topk_sql(m: int | None) -> str:
    vex = "v" if m is None else f"v[1:{m}]"
    return f"""
  SELECT vec_id,
    ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS rk
  FROM (
    SELECT vec_id,
      ROUND({vectors.cosine_sql('p', 'qp')}, 6) AS cos
    FROM (SELECT vec_id, {vex} AS p FROM e WHERE vec_id <> 0
          AND list_sum(list_transform({vex}, x -> x * x)) > 0) c,
         (SELECT {vex} AS qp FROM e WHERE vec_id = 0
          AND list_sum(list_transform({vex}, x -> x * x)) > 0) q
    ORDER BY cos DESC, vec_id LIMIT {max(MRL_KS)}
  )"""


def _mrl_sql() -> str:
    branches = []
    for m in MRL_PREFIX_DIMS:
        for k in MRL_KS:
            branches.append(f"""
  SELECT CAST({m} AS INTEGER) AS prefix_dims, CAST({k} AS INTEGER) AS k,
    CAST(SUM(CASE WHEN p.rk <= {k} AND f.rk <= {k} THEN 1 ELSE 0 END)
         AS BIGINT) AS overlap
  FROM pfx{m} p JOIN fulltk f USING (vec_id)""")
        # (one scan per prefix; the overlap join touches <= kmax rows)
    pfx_ctes = ",\n".join(
        f"pfx{m} AS ({_mrl_topk_sql(m)})" for m in MRL_PREFIX_DIMS
    )
    union = "\n  UNION ALL".join(branches)
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM {EMB_SOURCE_SQL}),
fulltk AS ({_mrl_topk_sql(None)}),
{pfx_ctes},
u AS ({union})
SELECT prefix_dims, k, overlap,
  CAST((2 * overlap * 1000000 + k) // (2 * k) AS BIGINT)
    / CAST(1000000.0 AS DOUBLE) AS recall
FROM u ORDER BY prefix_dims, k
"""


MRL_SQL = _mrl_sql()


register(
    QuerySpec(
        "embeddings_matryoshka_recall",
        embeddings_matryoshka_recall,
        MRL_SQL,
        ("SIM19",),
        doc="Matryoshka prefix-truncation recall@k vs full-dimension retrieval",
    )
)


# ---------------------------------------------------------------------------
# dedup_semantic_ivf — the 100 TB-shaped SemDeDup: cluster the embedding
# space without labels, search near-duplicate pairs ONLY within each
# cluster, and prune every vector that has a cluster-mate with a SMALLER
# vec_id within the cosine threshold (the deterministic min-id
# representative rule). The LEARNED clustering uses TWO-LEVEL (IVF-style)
# assignment instead of a flat n·C distance term — which with the
# SemDeDup recipe C ∝ n is quadratic — with coarse-then-refine:
#   C1 = max(2, isqrt(C)) coarse seeds -> assign every vector (n·C1);
#   C2 = ceil(C/C1) fine seeds PER coarse cell (its lowest vec_ids) ->
#   assign only against the own cell's seeds (n·C2 via an equi-join on the
#   coarse cell); one Lloyd refinement of the fine centroids, reassignment
#   again within the coarse cell.
# Total distance work n·(C1 + 2·C2) ≈ n·3·sqrt(C) — the ann_ivf_topk
# machinery applied to the dedup blocking problem. Per-fine-cluster pair
# candidates stay ~(n/C)²/2 = 250²/2 regardless of scale.
#
# Exactness: ordered zip_with L2 folds (bit-identical doubles),
# micro-scaled BIGINT centroid sums, ROW_NUMBER (d2, id) tie-breaks,
# 6-dp-rounded cosines, integer-only export. Cluster ids are the
# fine-seed vec_ids (globally unique), so the export needs no synthetic
# numbering.
# ---------------------------------------------------------------------------
def _two_level_fine_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The growing-cell assignment shared by the scalable dedup surfaces:
    every vector mapped to a LEARNED fine cell (C = n/250 cells total) via
    coarse-then-refine IVF assignment + one Lloyd step — n·3·sqrt(C)
    distance work, never n·C. Returns (ccell, fcell, vec_id, v).
    Round 13: factored out of dedup_semantic_ivf verbatim so the
    pair-level export (dedup_embedding_pairs_scaled) shares one
    implementation.
    """
    import math

    # round-12: the two-level assignment + Lloyd step referenced the raw
    # scan 45 times in the static plan — now every pass reads the one
    # cached vector store (_emb_base).
    e = _emb_base(spark, sf_dir).select("vec_id", "v").repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    )
    n = e.count()
    c_total = max(_SEMDEDUP_C_MIN, n // _SEMDEDUP_TARGET)
    c1 = max(2, math.isqrt(c_total))
    c2 = (c_total + c1 - 1) // c1

    # level 1: coarse seeds + full assignment (n·C1)
    coarse = e.filter(F.col("vec_id") < c1).select(
        F.col("vec_id").alias("cell"), F.col("v").alias("cv")
    )
    a_coarse = _assign_nearest(e, coarse).select(
        "vec_id", F.col("cell").alias("ccell")
    )
    # Round 14 (guide §5 "caching is worth it when a DataFrame is reused
    # AND recomputing it is more expensive"): ev1 is consumed FIVE times
    # below (fine seeds, both grouped assignments, the Lloyd explode, the
    # return join) and was recomputed per consumer — the coarse
    # assignment's broadcast+window chain ran 5x per query, and the
    # RETURNED frame was then re-evaluated per self-join side by the pair
    # exporters. Both now persist: vector-store-sized entries (n rows ×
    # (d+3) cols), default MEMORY_AND_DISK, LRU-evictable — the same
    # bounded-cache contract as operators/ranking.py's correctness pin.
    # Measured at sf0.1 (warm _emb_base, min of 3):
    # dedup_embedding_pairs_scaled 12.5 → 1.9 s, dedup_semantic_ivf
    # 31.6 → 2.4 s; cold including every rebuild: 3.9 / 6.4 s.
    # Rows identical (oracle-green at sf0.01/sf0.1 post-change).
    ev1 = e.join(a_coarse, "vec_id").persist()

    # level 2: per-cell fine seeds (the C2 lowest vec_ids of each cell)
    wseed = Window.partitionBy("ccell").orderBy("vec_id")
    fine_seeds = (
        ev1.withColumn("rn", F.row_number().over(wseed))
        .filter(F.col("rn") <= c2)
        .select("ccell", F.col("vec_id").alias("fcell"), F.col("v").alias("cv"))
    )

    def assign_grouped(vecs: DataFrame, cent: DataFrame) -> DataFrame:
        d = vecs.join(F.broadcast(cent), "ccell").select(
            "vec_id",
            "ccell",
            "fcell",
            vectors.l2sq(F.col("v"), F.col("cv")).alias("d2"),
        )
        w = Window.partitionBy("vec_id").orderBy("d2", "fcell")
        return (
            d.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "ccell", "fcell")
        )

    a1 = assign_grouped(ev1, fine_seeds)

    # one Lloyd refinement: exact micro-scaled mean per fine cluster,
    # then reassignment within the coarse cell
    ex = (
        ev1.join(a1.select("vec_id", "fcell"), "vec_id")
        .select("ccell", "fcell", F.posexplode("v").alias("d", "x"))
    )
    centdim = ex.groupBy("ccell", "fcell", "d").agg(
        (
            (F.sum(F.round(F.col("x") * 1000000.0, 0).cast("long")) / 1000000.0)
            / F.count("*")
        ).alias("c")
    )
    cent = centdim.groupBy("ccell", "fcell").agg(
        F.array_sort(
            F.collect_list(F.struct("d", "c"))
        ).getField("c").alias("cv")
    )
    a2 = assign_grouped(ev1, cent)

    return ev1.join(
        a2.select("vec_id", "ccell", "fcell"), ["vec_id", "ccell"]
    ).persist()


def dedup_semantic_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _two_level_fine_cells(spark, sf_dir)
    a, b = ev.alias("a"), ev.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.fcell") == F.col("b.fcell"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.fcell").alias("fcell"),
            F.col("b.vec_id").alias("pruned_id"),
            F.round(vectors.cosine(F.col("a.v"), F.col("b.v")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= COSINE_DUP_THRESHOLD)
    )
    per_pairs = pairs.groupBy("fcell").agg(
        F.count("*").alias("n_dup_pairs"),
        F.countDistinct("pruned_id").alias("n_pruned"),
    )
    return (
        ev.groupBy("ccell", "fcell")
        .agg(F.count("*").alias("n_vecs"))
        .join(per_pairs, "fcell", "left")
        .select(
            F.col("fcell").cast("bigint").alias("cluster"),
            F.col("ccell").cast("bigint").alias("coarse_cell"),
            F.col("n_vecs").cast("bigint").alias("n_vecs"),
            F.coalesce("n_dup_pairs", F.lit(0)).cast("bigint").alias("n_dup_pairs"),
            F.coalesce("n_pruned", F.lit(0)).cast("bigint").alias("n_pruned"),
            (F.col("n_vecs") - F.coalesce("n_pruned", F.lit(0)))
            .cast("bigint")
            .alias("n_kept"),
        )
        .orderBy("cluster")
    )


_TWO_LEVEL_CELLS_SQL_CTES = f"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM {EMB_SOURCE_SQL}),
cfg AS (
  SELECT GREATEST({_SEMDEDUP_C_MIN}, COUNT(*) // {_SEMDEDUP_TARGET}) AS c
  FROM {EMB_SOURCE_SQL}
),
cfg2 AS (
  SELECT c, GREATEST(2, CAST(FLOOR(SQRT(c)) AS BIGINT)) AS c1 FROM cfg
),
cfg3 AS (SELECT c, c1, (c + c1 - 1) // c1 AS c2 FROM cfg2),
coarse AS (
  SELECT vec_id AS cell, v AS cv FROM e
  WHERE vec_id < (SELECT c1 FROM cfg3)
),
dc AS (
  SELECT e.vec_id, coarse.cell, {_L2_FOLD} AS d2 FROM e, coarse
),
ac AS (
  SELECT vec_id, cell AS ccell FROM (
    SELECT vec_id, cell,
      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
    FROM dc
  ) WHERE rn = 1
),
ev1 AS (SELECT ac.ccell, e.vec_id, e.v FROM e JOIN ac USING (vec_id)),
fine_seeds AS (
  SELECT ccell, vec_id AS fcell, v AS cv FROM (
    SELECT ccell, vec_id, v,
      ROW_NUMBER() OVER (PARTITION BY ccell ORDER BY vec_id) AS rn
    FROM ev1
  ) WHERE rn <= (SELECT c2 FROM cfg3)
),
d1 AS (
  SELECT ev1.vec_id, ev1.ccell, s.fcell, {_L2_FOLD} AS d2
  FROM (SELECT vec_id, ccell, v FROM ev1) ev1
  JOIN fine_seeds s USING (ccell)
),
a1 AS (
  SELECT vec_id, ccell, fcell FROM (
    SELECT vec_id, ccell, fcell,
      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, fcell) AS rn
    FROM d1
  ) WHERE rn = 1
),
ex AS (
  SELECT a1.ccell, a1.fcell, t.d AS d, ev1.v[t.d + 1] AS x
  FROM ev1 JOIN a1 USING (vec_id), range(0, 64) t(d)
),
centdim AS (
  SELECT ccell, fcell, d,
    (SUM(CAST(ROUND(x * 1000000, 0) AS BIGINT)) / 1000000.0) / COUNT(*) AS c
  FROM ex GROUP BY ccell, fcell, d
),
cent AS (
  SELECT ccell, fcell, list(c ORDER BY d) AS cv
  FROM centdim GROUP BY ccell, fcell
),
d2t AS (
  SELECT ev1.vec_id, ev1.ccell, cent.fcell, {_L2_FOLD} AS d2
  FROM ev1 JOIN cent USING (ccell)
),
a2 AS (
  SELECT vec_id, ccell, fcell FROM (
    SELECT vec_id, ccell, fcell,
      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, fcell) AS rn
    FROM d2t
  ) WHERE rn = 1
),
ev AS (
  SELECT a2.ccell, a2.fcell, e.vec_id, e.v
  FROM e JOIN a2 USING (vec_id)
)"""

DEDUP_SEMANTIC_IVF_SQL = f"""
WITH {_TWO_LEVEL_CELLS_SQL_CTES},
pairs AS (
  SELECT a.fcell, b.vec_id AS pruned_id,
         ROUND({vectors.cosine_sql('a.v', 'b.v')}, 6) AS cos
  FROM ev a JOIN ev b ON a.fcell = b.fcell AND a.vec_id < b.vec_id
  WHERE ROUND({vectors.cosine_sql('a.v', 'b.v')}, 6) >= {COSINE_DUP_THRESHOLD}
),
per_pairs AS (
  SELECT fcell, COUNT(*) AS n_dup_pairs,
         COUNT(DISTINCT pruned_id) AS n_pruned
  FROM pairs GROUP BY fcell
)
SELECT CAST(ev.fcell AS BIGINT) AS cluster,
  CAST(ANY_VALUE(ev.ccell) AS BIGINT) AS coarse_cell,
  CAST(COUNT(*) AS BIGINT) AS n_vecs,
  CAST(COALESCE(ANY_VALUE(p.n_dup_pairs), 0) AS BIGINT) AS n_dup_pairs,
  CAST(COALESCE(ANY_VALUE(p.n_pruned), 0) AS BIGINT) AS n_pruned,
  CAST(COUNT(*) - COALESCE(ANY_VALUE(p.n_pruned), 0) AS BIGINT) AS n_kept
FROM ev LEFT JOIN per_pairs p ON ev.fcell = p.fcell
GROUP BY ev.fcell
ORDER BY cluster
"""


register(
    QuerySpec(
        "dedup_semantic_ivf",
        dedup_semantic_ivf,
        DEDUP_SEMANTIC_IVF_SQL,
        ("DD22", "DD21"),
        doc="SemDeDup with IVF two-level assignment: n·3·sqrt(C) distance work",
    )
)


# ---------------------------------------------------------------------------
# dedup_embedding_pairs_scaled — the PAIR-level export of the scalable
# embedding near-dup discipline. Blocking by a FIXED number of cells
# (given labels, or k IVF cells) leaves n^2/k candidate pairs (measured
# 40.4x and 14.3x per decade of data). Here cells come
# from the SAME two-level learned assignment as dedup_semantic_ivf
# (C = n/250 cells GROWS with n, assignment work n·3·sqrt(C)), so
# within-cell candidates stay ~(n/C)^2/2 = 250^2/2 per cell — ~n·125
# total, LINEAR in n — and the exact 6-dp cosine verify runs on
# candidates only. The candidate discipline (which pairs are eligible)
# is the documented recall trade, exactly as banded LSH is for the text
# near-dup family.
# ---------------------------------------------------------------------------
def dedup_embedding_pairs_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _two_level_fine_cells(spark, sf_dir)
    a, b = ev.alias("a"), ev.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fcell") == F.col("b.fcell"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(vectors.cosine(F.col("a.v"), F.col("b.v")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= COSINE_DUP_THRESHOLD)
        .sortWithinPartitions("vec_a", "vec_b")
    )


DEDUP_EMB_PAIRS_SCALED_SQL = f"""
WITH {_TWO_LEVEL_CELLS_SQL_CTES}
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND({vectors.cosine_sql('a.v', 'b.v')}, 6) AS cos
FROM ev a JOIN ev b ON a.fcell = b.fcell AND a.vec_id < b.vec_id
WHERE ROUND({vectors.cosine_sql('a.v', 'b.v')}, 6) >= {COSINE_DUP_THRESHOLD}
ORDER BY vec_a, vec_b
"""


register(
    QuerySpec(
        "dedup_embedding_pairs_scaled",
        dedup_embedding_pairs_scaled,
        DEDUP_EMB_PAIRS_SCALED_SQL,
        ("DD26", "DD6", "SIM1"),
        doc="near-dup pair list over GROWING learned cells (C = n/250): linear candidates, exact cosine verify — the scale path for the pair surface",
    )
)


# ---------------------------------------------------------------------------
# ann_rerank_two_stage — the production retrieval CASCADE: a cheap int8
# dot-product scan proposes a candidate pool (RERANK_POOL = 100), an exact
# float cosine reranks only that pool to the final top-K. This is the
# two-tower serving shape at 100 TB: stage 1 reads 4x fewer bytes per
# vector (int8) and is the ONLY full scan; stage 2 touches 100 rows.
#
# VERDICT r8 #7: the round-8 shape also ran the DIRECT full-corpus exact
# top-K to flag each cascade pick (`in_exact_topk`) — a second linear scan
# that doubled the measured growth (10.69×/decade vs the token-scan
# ~5×). That recall-audit surface survives unchanged as the
# local-only `ann_rerank_audit`; the exported query is
# the production cascade with ONE linear scan.
#
# Exactness: stage-1 scores are exact BIGINT int8 dots (ann_int8_topk's
# idiom); stage-2 cosines are 6-dp-rounded ordered-fold doubles
# (ann_topk_cosine's idiom); all orderings tie-break on vec_id.
# ---------------------------------------------------------------------------
RERANK_POOL = 100


def _rerank_cascade(base: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The two-stage cascade for query vec_id 0 over an int8 ``base``:
    ``(corpus, reranked)`` — every other vector beside the broadcast query
    (``v``, ``q``, ``qv``, ``qq``), and the :data:`ANN_K` best of the int8
    pool of :data:`RERANK_POOL` by 6-dp exact cosine, ranked ``rk``."""
    qrow = base.filter(F.col("vec_id") == 0).select(
        F.col("v").alias("qv"), F.col("q").alias("qq")
    )
    corpus = base.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(qrow))
    idot = vectors.int8_dot(F.col("q"), F.col("qq"))
    pool = (
        corpus.select("vec_id", "v", "qv", idot.alias("idot"))
        .orderBy(F.col("idot").desc(), F.col("vec_id"))
        .limit(RERANK_POOL)
    )
    reranked = (
        pool.select(
            "vec_id",
            "idot",
            F.round(vectors.cosine(F.col("v"), F.col("qv")), 6).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), F.col("vec_id"))
        .limit(ANN_K)
        .withColumn(
            "rk",
            F.row_number()
            .over(Window.orderBy(F.col("cos").desc(), F.col("vec_id")))
            .cast("bigint"),
        )
    )
    return corpus, reranked


def ann_rerank_two_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, reranked = _rerank_cascade(_int8_base(spark, sf_dir))
    return reranked.select("rk", "vec_id", "idot", "cos").orderBy("rk")


#: The SQL twin of :func:`_rerank_cascade` over ``_INT8_BASE_CTES``.
_RERANK_CASCADE_CTES = f"""qrow AS (SELECT v AS qv, q AS qq FROM base WHERE vec_id = 0),
corpus AS (
  SELECT vec_id, v, qv,
    {vectors.int8_dot_sql("q", "qq")} AS idot
  FROM base, qrow WHERE vec_id <> 0
),
pool AS (
  SELECT vec_id, v, qv, idot FROM corpus
  ORDER BY idot DESC, vec_id LIMIT {RERANK_POOL}
),
reranked AS (
  SELECT vec_id, idot, ROUND({vectors.cosine_sql('v', 'qv')}, 6) AS cos
  FROM pool ORDER BY cos DESC, vec_id LIMIT {ANN_K}
)"""

ANN_RERANK_SQL = f"""
WITH {_INT8_BASE_CTES},
{_RERANK_CASCADE_CTES}
SELECT ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS rk,
  vec_id, idot, cos
FROM reranked
ORDER BY rk
"""


register(
    QuerySpec(
        "ann_rerank_two_stage",
        ann_rerank_two_stage,
        ANN_RERANK_SQL,
        ("SIM16",),
        doc="int8-propose + exact-cosine-rerank production cascade (one linear scan)",
    )
)


# ---------------------------------------------------------------------------
# ann_rerank_audit — recall-audit surface of the SAME cascade: every
# exported row additionally carries an `in_exact_topk` flag comparing the
# cascade's pick against the DIRECT full-corpus exact top-K. The exact leg
# is a second linear scan, so this stays local as a recall check next to
# the production export ann_rerank_two_stage.
# ---------------------------------------------------------------------------
def ann_rerank_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-12: shared cached vector store (_emb_base); int8 codes derive
    # from the cached double array (identical values — as_double is a cast)
    base = _emb_base(spark, sf_dir).select(
        "vec_id",
        "v",
        vectors.int8_quantize(F.col("v")).alias("q"),
    )
    corpus, reranked = _rerank_cascade(base)
    exact = (
        corpus.select(
            "vec_id", F.round(vectors.cosine(F.col("v"), F.col("qv")), 6).alias("xcos")
        )
        .orderBy(F.col("xcos").desc(), F.col("vec_id"))
        .limit(ANN_K)
        .select("vec_id")
        .withColumn("in_exact", F.lit(True))
    )
    return (
        reranked.join(F.broadcast(exact), "vec_id", "left")
        .select(
            "rk",
            "vec_id",
            "idot",
            "cos",
            F.coalesce("in_exact", F.lit(False)).alias("in_exact_topk"),
        )
        .orderBy("rk")
    )


ANN_RERANK_AUDIT_SQL = f"""
WITH {_INT8_BASE_CTES},
{_RERANK_CASCADE_CTES},
rk AS (
  SELECT vec_id, idot, cos,
    ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS rk
  FROM reranked
),
exact AS (
  SELECT vec_id FROM (
    SELECT vec_id, ROUND({vectors.cosine_sql('v', 'qv')}, 6) AS xcos
    FROM corpus ORDER BY xcos DESC, vec_id LIMIT {ANN_K}
  )
)
SELECT CAST(rk.rk AS BIGINT) AS rk, rk.vec_id, rk.idot, rk.cos,
  (exact.vec_id IS NOT NULL) AS in_exact_topk
FROM rk LEFT JOIN exact ON rk.vec_id = exact.vec_id
ORDER BY rk
"""


register(
    QuerySpec(
        "ann_rerank_audit",
        ann_rerank_audit,
        ANN_RERANK_AUDIT_SQL,
        ("SIM16",),
        doc="recall-audit surface of the rerank cascade (per-row exact-topk flags)",
    )
)


# ---------------------------------------------------------------------------
# ann_rerank_batch — the two-stage cascade over a QUERY BLOCK (vec_ids
# 1..PQ_N_QUERIES), completing the batch-retrieval story text_bm25_batch
# started: production retrieval scores millions of queries, not one. The
# query block broadcasts against the single corpus scan (the GEMM-tile
# shape — each corpus partition streams once past the whole block), the
# int8 proposal pool is a per-query WindowGroupLimit (partial top-POOL per
# partition, no global funnel), and only pool survivors pay the exact
# float cosine. At millions of queries the block becomes tiles of
# broadcastable size streamed over the same scan; per-query work stays
# independent (O(|Q|) parallelism).
#
# Exactness: identical arithmetic to ann_rerank_two_stage — exact BIGINT
# int8 dots via vectors.int8_quantize, 6-dp ordered-fold cosines, ties on
# vec_id.
# ---------------------------------------------------------------------------
def ann_rerank_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _int8_base(spark, sf_dir)
    qblock = base.filter(
        (F.col("vec_id") >= 1) & (F.col("vec_id") <= PQ_N_QUERIES)
    ).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("q").alias("qq"),
    )
    idot = vectors.int8_dot(F.col("q"), F.col("qq"))
    cand = (
        base.crossJoin(F.broadcast(qblock))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", "v", "qv", idot.alias("idot"))
    )
    w_pool = Window.partitionBy("q_id").orderBy(
        F.col("idot").desc(), F.col("vec_id")
    )
    pool = cand.withColumn("rp", F.row_number().over(w_pool)).filter(
        F.col("rp") <= RERANK_POOL
    )
    w_k = Window.partitionBy("q_id").orderBy(
        F.col("cos").desc(), F.col("vec_id")
    )
    return (
        pool.select(
            "q_id",
            "vec_id",
            "idot",
            F.round(vectors.cosine(F.col("v"), F.col("qv")), 6).alias("cos"),
        )
        .withColumn("rk", F.row_number().over(w_k).cast("long"))
        .filter(F.col("rk") <= ANN_K)
        .select("q_id", "rk", "vec_id", "idot", "cos")
        .orderBy("q_id", "rk")
    )


ANN_RERANK_BATCH_SQL = f"""
WITH {_INT8_BASE_CTES},
qblock AS (
  SELECT vec_id AS q_id, v AS qv, q AS qq FROM base
  WHERE vec_id BETWEEN 1 AND {PQ_N_QUERIES}
),
cand AS (
  SELECT q_id, vec_id, v, qv,
    {vectors.int8_dot_sql("q", "qq")} AS idot
  FROM base, qblock WHERE vec_id <> q_id
),
pool AS (
  SELECT q_id, vec_id, v, qv, idot FROM (
    SELECT q_id, vec_id, v, qv, idot,
      ROW_NUMBER() OVER (PARTITION BY q_id
                         ORDER BY idot DESC, vec_id) AS rp
    FROM cand
  ) WHERE rp <= {RERANK_POOL}
),
reranked AS (
  SELECT q_id, vec_id, idot,
    ROUND({vectors.cosine_sql('v', 'qv')}, 6) AS cos
  FROM pool
)
SELECT q_id, CAST(rk AS BIGINT) AS rk, vec_id, idot, cos
FROM (
  SELECT q_id, vec_id, idot, cos,
    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk
  FROM reranked
)
WHERE rk <= {ANN_K}
ORDER BY q_id, rk
"""


register(
    QuerySpec(
        "ann_rerank_batch",
        ann_rerank_batch,
        ANN_RERANK_BATCH_SQL,
        ("SIM18",),
        doc="two-stage rerank cascade over a broadcast query block (batch retrieval)",
    )
)


# ---------------------------------------------------------------------------
# multimodal_image_ann — image near-duplicate retrieval over the multimodal
# feature pipeline: the 16-bin byte-histogram feature vectors (the STUB
# stand-in for CLIP embeddings, the same feature pass the driver grades
# via multimodal_image_features) feed the generic cosine top-k — the
# composition a multimodal dedup/retrieval pipeline actually runs:
# decode -> embed -> ANN. Query image = doc_id 0; exports the top-K
# most-similar images with 6-dp cosines, ties on doc_id.
#
# Scale shape: one feature pass over the corpus, then the broadcast-query
# scan + TakeOrderedAndProject skeleton shared with ann_topk_cosine.
# Zero-norm rows cannot occur: the feature pass drops empty/NULL payloads
# (matching the oracle's per-byte CTEs, which have no rows for an empty
# doc), and a non-empty payload puts at least 1/16 of its bytes in one
# bin. So an empty query image yields 0 result rows on BOTH engines, and
# the oracle's list_dot_product(v,v) > 0 filter has no Spark twin (Spark
# would push it below the projection and compute every histogram twice).
# ---------------------------------------------------------------------------
def multimodal_image_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = image_features(_payload_docs(spark, sf_dir)).withColumnRenamed("feat", "v")
    q = feats.filter(F.col("doc_id") == 0).select(F.col("v").alias("qv"))
    return (
        feats.filter(F.col("doc_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "doc_id",
            F.round(vectors.cosine(F.col("v"), F.col("qv")), 6).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), F.col("doc_id"))
        .limit(ANN_K)
    )


MULTIMODAL_IMAGE_ANN_SQL = (
    IMAGE_FEATURES_GRID
    + f""",
feats AS (
  SELECT doc_id,
         list(CAST(ROUND(CAST(k AS DOUBLE) / n, 6) AS DOUBLE) ORDER BY bucket)
           AS v
  FROM grid GROUP BY doc_id
),
q AS (SELECT v AS qv FROM feats WHERE doc_id = 0)
SELECT doc_id, ROUND({vectors.cosine_sql('v', 'qv')}, 6) AS cos
FROM feats, q WHERE doc_id <> 0 AND list_dot_product(v, v) > 0
ORDER BY cos DESC, doc_id
LIMIT {ANN_K}
"""
)


register(
    QuerySpec(
        "multimodal_image_ann",
        multimodal_image_ann,
        MULTIMODAL_IMAGE_ANN_SQL,
        ("MM6",),
        doc="decode->embed->ANN composition: image near-dup top-k over stub features",
    )
)


# ---------------------------------------------------------------------------
# text_bm25_prf — pseudo-relevance-feedback retrieval (Rocchio/RM-style,
# the classic two-pass cascade): (1) score the corpus with BM25 for the
# seed query BM25_TERMS and take the top PRF_FB docs as the feedback set;
# (2) mine expansion terms from the feedback set — the PRF_EXP most
# frequent tokens of length >= PRF_MINLEN not already in the seed query
# (tf desc, term asc: deterministic); (3) rescore the corpus with the
# expanded query, expansion contributions at half weight (Rocchio beta =
# 1/2), and export the final top PRF_K. This is the production "query too
# sparse -> borrow vocabulary from what it already retrieves" recall
# lever, the same cascade shape as ann_rerank_two_stage but lexical.
#
# Exactness: both passes reuse text_bm25_topk's integer BM25 — micro-nat
# idf, tf saturation as ONE sign-safe DIV-round in DECIMAL(38,0)/HUGEINT.
# The half weight is applied to the already-rounded integer contribution
# with an explicit sign-safe truncate-toward-zero halving (CASE + //2 on
# the absolute value) so Spark's `div` and DuckDB's `//` cannot disagree
# on negative contributions.
#
# Scale shape: ONE corpus scan+tokenize pass (the shared _token_postings
# exchange; round 11 — this plan previously paid 14 documents scans), then
# three exchange reads, each individually scale-safe — pass 1 is
# text_bm25_topk's shape (term predicate above the shared exchange, tf
# groupBy exchange-free on the doc_id partitioning;
# TakeOrderedAndProject for the feedback set); the mining pass reads ONLY
# the PRF_FB feedback docs' postings (broadcast semi-join on doc_id);
# pass 2 joins the postings against the BROADCAST (|Q0| + PRF_EXP)-row
# term table before its tf groupBy. Nothing is O(vocabulary).
# ---------------------------------------------------------------------------
PRF_FB = 5       # feedback docs from pass 1
PRF_EXP = 3      # expansion terms mined from the feedback set
PRF_K = 15       # final export size
PRF_MINLEN = 4   # salience filter for expansion candidates


def text_bm25_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE documents scan: both retrieval passes, the feedback mining, and
    # the corpus stats all read the shared postings exchange — this plan
    # previously re-planned 14 separate documents scans (round-11 scan
    # census), re-tokenizing the corpus each time
    posted = _token_postings(spark, sf_dir)
    stats = _bm25_stats(posted)
    dl = _bm25_doc_dl(posted)

    def bm25_scores(tf: DataFrame) -> DataFrame:
        """per-doc exact-integer BM25 over a (doc_id, term, tf, w_half)
        postings aggregate; w_half halves the (rounded) contribution."""
        scored = _bm25_contrib(tf, tf, dl, stats).withColumn(
            "w_contrib",
            F.expr(
                "CASE WHEN w_half = 0 THEN contrib "
                "WHEN contrib >= 0 THEN contrib div 2 "
                "ELSE -((-contrib) div 2) END"
            ),
        )
        return _bm25_per_doc(scored, col="w_contrib")

    # pass 1: seed query, feedback set
    tf0 = _bm25_tf(posted.filter(F.col("term").isin(*BM25_TERMS))).withColumn(
        "w_half", F.lit(0)
    )
    fb = (
        bm25_scores(tf0)
        .orderBy(F.desc("score_micro"), F.asc("doc_id"))
        .limit(PRF_FB)
        .select("doc_id")
    )
    # mine expansion terms from the feedback docs only
    cand = (
        posted.join(F.broadcast(fb), "doc_id", "left_semi")
        .filter(
            (F.length("term") >= PRF_MINLEN)
            & ~F.col("term").isin(*BM25_TERMS)
        )
        .groupBy("term")
        .agg(F.count("*").alias("tf_fb"))
    )
    exp_terms = (
        cand.orderBy(F.desc("tf_fb"), F.asc("term"))
        .limit(PRF_EXP)
        .select("term", F.lit(1).alias("w_half"))
    )
    q1 = exp_terms.unionByName(
        spark.createDataFrame(
            [(t, 0) for t in BM25_TERMS], "term string, w_half int"
        )
    )
    # pass 2: expanded query — broadcast term-table join BEFORE the groupBy
    tf1 = _bm25_tf(posted.join(F.broadcast(q1), "term"), "w_half")
    return _bm25_ranked(bm25_scores(tf1), PRF_K)


BM25_PRF_SQL = f"""
WITH {_BM25_STATS_CTES},
postings AS (
  SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents
),
tf0 AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM postings WHERE term IN ({_BM25_TERMS_SQL})
  GROUP BY doc_id, term
),
df0 AS (SELECT term, COUNT(*) AS df FROM tf0 GROUP BY term),
s0 AS (
  SELECT tf0.doc_id, {_bm25_contrib_sql("tf0")} AS contrib
  FROM tf0 JOIN df0 d USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
),
fb AS (
  SELECT doc_id FROM (
    SELECT doc_id, SUM(contrib) AS score FROM s0 GROUP BY doc_id
  ) ORDER BY score DESC, doc_id LIMIT {PRF_FB}
),
exp_terms AS (
  SELECT term, 1 AS w_half FROM (
    SELECT p.term, COUNT(*) AS tf_fb
    FROM postings p JOIN fb USING (doc_id)
    WHERE length(p.term) >= {PRF_MINLEN} AND p.term NOT IN ({_BM25_TERMS_SQL})
    GROUP BY p.term
  ) ORDER BY tf_fb DESC, term LIMIT {PRF_EXP}
),
q1 AS (
  SELECT term, w_half FROM exp_terms
  UNION ALL
  SELECT unnest([{_BM25_TERMS_SQL}]) AS term, 0 AS w_half
),
tf1 AS (
  SELECT p.doc_id, p.term, q1.w_half, CAST(COUNT(*) AS BIGINT) AS tf
  FROM postings p JOIN q1 USING (term)
  GROUP BY p.doc_id, p.term, q1.w_half
),
df1 AS (SELECT term, COUNT(*) AS df FROM tf1 GROUP BY term),
s1 AS (
  SELECT tf1.doc_id, tf1.w_half, {_bm25_contrib_sql("tf1")} AS contrib
  FROM tf1 JOIN df1 d USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
),
w1 AS (
  SELECT doc_id,
    CASE WHEN w_half = 0 THEN contrib
         WHEN contrib >= 0 THEN contrib // 2
         ELSE -((-contrib) // 2) END AS contrib
  FROM s1
),
{_bm25_topk_sql("w1", PRF_K)}
"""


register(
    QuerySpec(
        "text_bm25_prf",
        text_bm25_prf,
        BM25_PRF_SQL,
        ("TX22",),
        doc="pseudo-relevance-feedback BM25: seed top-k -> mined expansion terms at half weight -> rescore",
    )
)


# ---------------------------------------------------------------------------
# dedup_minhash_b_bit — b-bit minhash (Li & Koenig, WWW'10): store only
# the low BBIT_B bits of each of the len(PERMS) minhash values — a 16x
# signature-store compression at 64-bit hashes — and estimate Jaccard
# from the fraction of matching b-bit slots with the collision
# correction E[match] = J + (1-J)/2^b  =>  J_hat = (match_frac - 2^-b)
# / (1 - 2^-b), clipped at 0. At 100 TB the signature store IS the
# dominant dedup artifact; this is the operator that says how much
# accuracy the compression costs on THIS corpus: each exported candidate
# pair carries the b-bit match count, the corrected estimate, and the
# true shingle Jaccard the graded LSH path computes, so the error is
# auditable row by row.
#
# Exactness: the estimator is one exact integer expression — with m of
# P slots matching and scale 2^b: J_hat = (m*2^b - P) / (P*(2^b - 1)),
# fixed-pointed to micro units via the sign-free (2*1e6*num + den) DIV
# (2*den) idiom (num clipped at 0 first). The true Jaccard reuses the
# exact shared candidate-verify arithmetic.
#
# Scale shape: identical to dedup_minhash_lsh_pairs — signature groupBy,
# banded candidates, verify only candidates; the b-bit comparison is 8
# integer AND/EQ ops per candidate pair. Bulk pair export: partition-local
# order only.
# ---------------------------------------------------------------------------
BBIT_B = 4  # low bits kept per minhash slot


def dedup_minhash_b_bit(spark: SparkSession, sf_dir: str) -> DataFrame:
    mask = (1 << BBIT_B) - 1
    scale = 1 << BBIT_B
    nperm = len(PERMS)
    # round 15 (guide §5): the signature groupBy (8 minhash mins over the
    # full shingle index) is consumed by BOTH compressed-signature sides;
    # unpinned it re-executed per side — on top of the third build inside
    # _lsh_candidate_jaccards, which stays (its n-carrying variant is the
    # shared candidate definition). Doc-grain rows; the cache entry is
    # matched by plan and reused for the rest of the session (a re-run
    # after the input files changed at the same path reads the cached
    # rows).
    docs = read_table(spark, sf_dir, "documents")
    sig = _minhash_sig(docs).persist()
    a = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[(F.col(f"mh{j}").bitwiseAND(mask)).alias(f"ba{j}") for j in range(nperm)],
    )
    b = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[(F.col(f"mh{j}").bitwiseAND(mask)).alias(f"bb{j}") for j in range(nperm)],
    )
    cand = _lsh_candidate_jaccards(docs)
    n_match = sum(
        F.when(F.col(f"ba{j}") == F.col(f"bb{j}"), 1).otherwise(0)
        for j in range(nperm)
    )
    est_num = F.greatest(
        F.lit(0).cast("long"),
        (F.col("n_match") * scale - nperm).cast("long"),
    )
    est_den = nperm * (scale - 1)
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("n_match", n_match.cast("long"))
        .withColumn(
            "est_j_micro",
            F.expr(
                f"CAST((2 * greatest(CAST(0 AS BIGINT),"
                f" CAST(n_match * {scale} - {nperm} AS BIGINT)) * 1000000"
                f" + {est_den}) DIV (2 * {est_den}) AS BIGINT)"
            ),
        )
        .select("doc_a", "doc_b", "n_match", "est_j_micro", "jaccard")
        .sortWithinPartitions("doc_a", "doc_b")
    )


_BBIT_MATCH_SQL = " + ".join(
    f"CASE WHEN (a.mh{j} & {(1 << BBIT_B) - 1}) = (b.mh{j} & {(1 << BBIT_B) - 1})"
    " THEN 1 ELSE 0 END"
    for j in range(len(PERMS))
)

DEDUP_BBIT_SQL = f"""
WITH {MINHASH_SIG_CTE},
{_LSH_JACCARD_CTES},
matched AS (
  SELECT jac.doc_a, jac.doc_b, jac.jaccard,
    CAST({_BBIT_MATCH_SQL} AS BIGINT) AS n_match
  FROM jac
  JOIN sig a ON a.doc_id = jac.doc_a
  JOIN sig b ON b.doc_id = jac.doc_b
)
SELECT doc_a, doc_b, n_match,
  CAST((2 * GREATEST(CAST(0 AS BIGINT),
        CAST(n_match * {1 << BBIT_B} - {len(PERMS)} AS BIGINT)) * 1000000
        + {len(PERMS) * ((1 << BBIT_B) - 1)})
       // (2 * {len(PERMS) * ((1 << BBIT_B) - 1)}) AS BIGINT) AS est_j_micro,
  jaccard
FROM matched
ORDER BY doc_a, doc_b
"""


register(
    QuerySpec(
        "dedup_minhash_b_bit",
        dedup_minhash_b_bit,
        DEDUP_BBIT_SQL,
        ("DD23",),
        doc="b-bit minhash: 4-bit signature slots, collision-corrected Jaccard estimate vs exact per candidate pair",
    )
)


# ---------------------------------------------------------------------------
# multimodal_keyframe_select — the step after scene-cut detection in a
# video-curation pipeline: pick each video's KF_K most-informative frames
# (highest byte-energy; frame_idx asc breaks ties deterministically) as
# the frames that go on to the expensive encoder. Same frame-energy pass
# as multimodal_scene_cut; the selection is one rank-k window
# PARTITIONED BY doc_id — per-doc state bounded at the 8-frame stub
# cap, no global window, no shuffle beyond the frame exchange. Bulk
# per-video export: partition-local order only.
# ---------------------------------------------------------------------------
KF_K = 2  # keyframes kept per video


def multimodal_keyframe_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    fr = frame_energy(_payload_docs(spark, sf_dir))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("energy"), F.asc("frame_idx")
    )
    return (
        fr.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= KF_K)
        .select(
            "doc_id",
            F.col("frame_idx").cast("int").alias("frame_idx"),
            F.col("energy").cast("bigint").alias("energy"),
            "rk",
        )
        .sortWithinPartitions("doc_id", "rk")
    )


KEYFRAME_SQL = f"""
WITH {_FRAME_ENERGY_CTES},
ranked AS (
  SELECT doc_id, i, energy,
    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY energy DESC, i) AS rk
  FROM fe
)
SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
  CAST(energy AS BIGINT) AS energy, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {KF_K}
ORDER BY doc_id, rk
"""


register(
    QuerySpec(
        "multimodal_keyframe_select",
        multimodal_keyframe_select,
        KEYFRAME_SQL,
        ("MM8",),
        doc="keyframe selection: top-k frames per video by byte energy over the frame-energy pass",
    )
)


# ---------------------------------------------------------------------------
# embeddings_top2_components — the second principal direction via power
# iteration WITH DEFLATION: pc1 exactly as embeddings_top_component (4
# fixed iterations from the constant init), then pc2 by 4 iterations that
# Gram-Schmidt the iterate against pc1 after every multiply
# (u <- normalize(A u - (A u . pc1) pc1), alternating-sign deterministic
# init so u0 is not orthogonal to the second component by construction).
# Two components is where whitening/ABTT-style embedding postprocessing
# starts (dominant-direction removal uses >= 2 directions); the export is
# the (component, dim, loading) table that postprocessor consumes.
#
# Exactness: every A*u product keeps the package's fixed-point sum
# discipline — per-dim Σ round(x * (v.u) * 1e9) as BIGINT, divided once —
# so both engines see identical 64-dim iterates; the Gram-Schmidt dot and
# normalization are single deterministic IEEE fold sequences on a 1-row
# 64-element array (zip_with against array_repeat keeps the scalar out of
# the per-element lambda — the round-9 capture rule).
#
# Scale shape: each iteration is one broadcast of a 64-double vector and
# one map-side-combined groupBy over (dim) — 8 corpus passes total, all
# scan-shaped, no all-pairs anything.
#
# Round 14: the iterate now crosses the driver between multiplies
# (_power_multiply — dim-bounded 64-row collects), because the old 1-row-
# DataFrame chaining re-embedded every prior step's multiply in the next
# step's plan: the final plan evaluated O(k²) corpus passes and pc2's
# four steps each re-evaluated the whole pc1 chain — measured 11.1 s at
# sf0.1 for what is arithmetically 8 passes. Now exactly 8 passes run
# (7.4 s same-host; ~0.9 s/multiply is local job-launch rent, not data —
# a 64-agg no-explode variant measured SLOWER, 1.31 vs 0.90 s/multiply,
# from CollapseProject duplicating the dot 64x per row, so the
# posexplode+groupBy(d) multiply stays). The Gram-Schmidt
# dot/projection/normalize are the
# SAME IEEE fold sequences as the old zip_with/aggregate expressions,
# replicated in dimension order on the driver — bit-identical loadings
# (oracle-verified at sf0.01/sf0.1 + edge vectors).
# ---------------------------------------------------------------------------
def embeddings_top2_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-12: shared cached vector store — each A*u multiply is one pass
    # over it
    e = _emb_base(spark, sf_dir).select("vec_id", "v")

    # pc1: identical to embeddings_top_component
    vals = [0.125] * 64
    for _ in range(4):
        vals = _normalize_vals(_power_multiply(e, vals))
    pc1 = vals

    # pc2: alternating-sign init, Gram-Schmidt against pc1 each iteration
    uvals = [0.125 if i % 2 == 0 else -0.125 for i in range(64)]
    for _ in range(4):
        warr = _power_multiply(e, uvals)
        # dot(warr, pc1): same sequential fold order as the old
        # zip_with+aggregate expression
        dot_wp = 0.0
        for a, b in zip(warr, pc1):
            dot_wp = dot_wp + a * b
        orth = [w_ - p * dot_wp for w_, p in zip(warr, pc1)]
        uvals = _normalize_vals(orth)
    pc2 = uvals

    out1 = spark.range(1).select(
        F.lit(1).cast("bigint").alias("component"),
        F.posexplode(F.array(*[F.lit(x) for x in pc1])).alias("d", "loading"),
    )
    out2 = spark.range(1).select(
        F.lit(2).cast("bigint").alias("component"),
        F.posexplode(F.array(*[F.lit(x) for x in pc2])).alias("d", "loading"),
    )
    return (
        out1.unionByName(out2)
        .select(
            "component",
            F.col("d").cast("bigint").alias("d"),
            F.round("loading", 9).alias("loading"),
        )
        .orderBy("component", "d")
    )


def _pc2_iter_sql(prev: str, name: str) -> str:
    """deflated power-iteration step: A*u with the fixed-point per-dim
    sum, then Gram-Schmidt against the converged pc1 (it4), normalize."""
    return f"""{_pc_matvec_sql(prev, name)},
{name}_o AS (
  -- DuckDB bans subqueries inside lambda bodies: bring pc1 in as a
  -- cross-joined column and capture the scalar dot as a column too
  SELECT list_transform(list_zip(wa, pc1),
                        z -> z[1] - dotwp * z[2]) AS wo
  FROM (
    SELECT wa, p1.pc AS pc1, list_dot_product(wa, p1.pc) AS dotwp
    FROM (SELECT list(w ORDER BY d) AS wa FROM {name}_w)
    CROSS JOIN it4 p1
  )
),
{name} AS (
  SELECT list_transform(wo, x -> x / sqrt(
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(wo, y -> y * y)), (acc, z) -> acc + z))) AS pc
  FROM {name}_o
)"""


EMB_TOP2_SQL = f"""
WITH {_PC1_CTES},
s0 AS (
  SELECT list_transform(range(64),
    x -> CASE WHEN x % 2 = 0 THEN CAST(0.125 AS DOUBLE)
         ELSE CAST(-0.125 AS DOUBLE) END) AS pc
),
{_pc2_iter_sql("s0", "jt1")},
{_pc2_iter_sql("jt1", "jt2")},
{_pc2_iter_sql("jt2", "jt3")},
{_pc2_iter_sql("jt3", "jt4")}
SELECT CAST(1 AS BIGINT) AS component, CAST(t.d AS BIGINT) AS d,
       ROUND(pc[t.d + 1], 9) AS loading
FROM it4, range(0, 64) t(d)
UNION ALL
SELECT CAST(2 AS BIGINT) AS component, CAST(t.d AS BIGINT) AS d,
       ROUND(pc[t.d + 1], 9) AS loading
FROM jt4, range(0, 64) t(d)
ORDER BY component, d
"""


register(
    QuerySpec(
        "embeddings_top2_components",
        embeddings_top2_components,
        EMB_TOP2_SQL,
        ("IT7", "SIM9"),
        doc="top-2 principal directions: power iteration + Gram-Schmidt deflation, fixed-point A*u sums",
    )
)


# ---------------------------------------------------------------------------
# embeddings_dim_clip_bounds — per-dimension outlier-clip calibration,
# the pass a quantization pipeline runs before int8/PQ encoding: for
# every dimension, the exact rank-based p01/p99 values (k-th smallest
# with k = ceil(q·n) — no interpolation, so both engines pick the SAME
# stored double) and the count of values falling outside them. The
# export is the clip table the encoder consumes; comparing n_clipped
# across dims spots heavy-tailed coordinates that would eat the int8
# range.
#
# Exactness: ranks are integers (row_number with a vec_id tiebreak);
# quantile values are raw stored doubles broadcast to the partition via
# a window max over the flagged rank; comparisons use the RAW values,
# with rounding only in the export.
#
# Scale shape: posexplode → ONE shuffle by dim (bounded width, 64), all
# windows and the final aggregate share that partitioning; output is 64
# rows. At 100 TB this is a single corpus pass; skew is impossible (the
# dim key is uniform by construction).
# ---------------------------------------------------------------------------
def embeddings_dim_clip_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_embeddings(spark, sf_dir)
    # cast to double at the explode: the stored vectors are float32, and
    # ROUND on a FloatType stays float32 (can't represent the 6-dp value;
    # the oracle's ::DOUBLE[] cast widens first — both sides must round
    # the SAME widened double)
    vals = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "val")
    ).withColumn("val", F.col("val").cast("double"))
    wd = Window.partitionBy("dim")
    wr = wd.orderBy(F.asc("val"), F.asc("vec_id"))
    ranked = (
        vals.withColumn("r", F.row_number().over(wr))
        .withColumn("n", F.count("*").over(wd))
        .withColumn("k_lo", F.expr("(n + 99) DIV 100"))
        .withColumn("k_hi", F.expr("(99 * n + 99) DIV 100"))
        .withColumn(
            "lo", F.max(F.when(F.col("r") == F.col("k_lo"), F.col("val"))).over(wd)
        )
        .withColumn(
            "hi", F.max(F.when(F.col("r") == F.col("k_hi"), F.col("val"))).over(wd)
        )
    )
    return (
        ranked.groupBy("dim")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.min("lo"), 6).alias("p01"),
            F.round(F.min("hi"), 6).alias("p99"),
            F.sum(
                ((F.col("val") < F.col("lo")) | (F.col("val") > F.col("hi")))
                .cast("int")
            )
            .cast("long")
            .alias("n_clipped"),
        )
        .select(F.col("dim").cast("long").alias("dim"), "n", "p01", "p99", "n_clipped")
        .orderBy("dim")
    )


EMB_CLIP_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM {EMB_SOURCE_SQL}),
vals AS (
  SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim, v[i] AS val
  FROM (SELECT vec_id, v, unnest(range(1, len(v) + 1)) AS i FROM e)
),
ranked AS (
  SELECT dim, vec_id, val,
    ROW_NUMBER() OVER (PARTITION BY dim ORDER BY val, vec_id) AS r,
    COUNT(*) OVER (PARTITION BY dim) AS n
  FROM vals
),
flagged AS (
  SELECT dim, val, r, n,
    (n + 99) // 100 AS k_lo,
    (99 * n + 99) // 100 AS k_hi
  FROM ranked
),
bounds AS (
  SELECT dim, val, n,
    MAX(CASE WHEN r = k_lo THEN val END) OVER (PARTITION BY dim) AS lo,
    MAX(CASE WHEN r = k_hi THEN val END) OVER (PARTITION BY dim) AS hi
  FROM flagged
)
SELECT dim,
  CAST(MAX(n) AS BIGINT) AS n,
  CAST(ROUND(MIN(lo), 6) AS DOUBLE) AS p01,
  CAST(ROUND(MIN(hi), 6) AS DOUBLE) AS p99,
  CAST(SUM(CASE WHEN val < lo OR val > hi THEN 1 ELSE 0 END) AS BIGINT)
    AS n_clipped
FROM bounds
GROUP BY dim
ORDER BY dim
"""


register(
    QuerySpec(
        "embeddings_dim_clip_bounds",
        embeddings_dim_clip_bounds,
        EMB_CLIP_SQL,
        ("IT8",),
        doc="per-dimension exact rank p01/p99 clip bounds + outlier counts (pre-quantization calibration)",
    )
)


# ---------------------------------------------------------------------------
# dedup_simhash_hamming_pairs — near-dup PAIRS from a WIDE SimHash
# fingerprint (the retrieval layer a fuzzy-dedup pass runs; dedup_simhash
# exports the narrow 16-bit diagnostic fingerprint, which is deliberately
# NOT the blocking key here: with 4-bit bands there are only 16 buckets
# per band, so the bucket join degenerates to ~n^2/16 candidate pairs —
# the first probe of this op measured 15.4x/decade, a quadratic signature.
# Manku et al.'s production design uses a wide fingerprint exactly so the
# band keys have entropy; this is that design).
#
# Fingerprint: 60 sign bits from three independent 31-bit token-hash
# streams (the rolling poly hash and two of the minhash affine
# transforms), bit b voting on bit (b DIV 3) of stream (b MOD 3). Banded
# pigeonhole LSH: 4 bands x 15 bits — any pair within Hamming distance 3
# differs in at most 3 bits, so at least one 15-bit band matches exactly
# (pigeonhole), and each band has 2^15 buckets, so bucket sizes stay
# ~n/32768 per band instead of n/16. Candidates verify with
# bit_count(XOR) and only verified pairs export. The fingerprint table is
# materialized once (cache); both join sides read it — one documents-text
# scan in the static plan.
# ---------------------------------------------------------------------------
SIMHASH_HAM_MAX = 3
_SIMHASH64_BITS = 60
_SIMHASH64_BANDS = 4  # 4 bands x 15 bits


def _simhash64_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cached (doc_id, simhash60) wide-fingerprint store."""
    docs = read_table(spark, sf_dir, "documents")
    tt = docs.select(
        "doc_id", F.explode_outer(text.tokens(F.col("text"))).alias("t")
    )
    h0 = hashing.poly_hash(F.col("t"))
    hh = tt.select(
        "doc_id",
        h0.alias("h0"),
        hashing.minhash_value(h0, PERMS[0]).alias("h1"),
        hashing.minhash_value(h0, PERMS[1]).alias("h2"),
    )
    votes = hh.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col(f"h{b % 3}"), b // 3)
                    .bitwiseAND(F.lit(1))
                    == 1,
                    1,
                ).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(_SIMHASH64_BITS)
        ]
    )
    sim = votes.select(
        "doc_id",
        sum(
            [
                F.when(
                    F.col(f"s{b}") > 0, F.lit(1 << b).cast("long")
                ).otherwise(F.lit(0).cast("long"))
                for b in range(_SIMHASH64_BITS)
            ],
            F.lit(0).cast("long"),
        ).alias("simhash60"),
    )
    return sim.cache()


def dedup_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    fp = _simhash64_index(spark, sf_dir)
    bits_per_band = _SIMHASH64_BITS // _SIMHASH64_BANDS
    mask = (1 << bits_per_band) - 1
    bands = fp.select(
        "doc_id",
        "simhash60",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(
                            F.col("simhash60"), bits_per_band * b
                        )
                        .bitwiseAND(F.lit(mask))
                        .alias("bkey"),
                    )
                    for b in range(_SIMHASH64_BANDS)
                ]
            )
        ).alias("bk"),
    ).select(
        "doc_id",
        "simhash60",
        F.col("bk.band").alias("band"),
        F.col("bk.bkey").alias("bkey"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash60").alias("ha"),
            F.col("b.simhash60").alias("hb"),
        )
        .distinct()
    )
    return (
        cand.select(
            "doc_a",
            "doc_b",
            F.bit_count(
                F.col("ha").bitwiseXOR(F.col("hb"))
            ).cast("bigint").alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_HAM_MAX)
        .sortWithinPartitions("doc_a", "doc_b")
    )


_SIM64_VOTES = ",\n  ".join(
    f"SUM(CASE WHEN (h{b % 3} >> {b // 3}) & 1 = 1 THEN 1 ELSE -1 END)"
    f" AS s{b}"
    for b in range(_SIMHASH64_BITS)
)
_SIM64_ASSEMBLE = " + ".join(
    f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)"
    for b in range(_SIMHASH64_BITS)
)
_SIM64_BAND_SELECTS = " UNION ALL ".join(
    f"SELECT doc_id, simhash60, {b} AS band,"
    f" (simhash60 >> {15 * b}) & {(1 << 15) - 1} AS bkey FROM fp"
    for b in range(_SIMHASH64_BANDS)
)

DEDUP_SIMHASH_HAM_SQL = f"""
WITH tk AS (
  SELECT doc_id, {_TOK_SQL} AS tok FROM documents
),
tt AS (
  SELECT doc_id, unnest(
    CASE WHEN tok IS NULL OR len(tok) = 0 THEN [NULL] ELSE tok END
  ) AS t FROM tk
),
hh AS (
  SELECT doc_id, h0,
    {hashing.minhash_value_sql('h0', PERMS[0])} AS h1,
    {hashing.minhash_value_sql('h0', PERMS[1])} AS h2
  FROM (SELECT doc_id, {hashing.poly_hash_sql('t')} AS h0 FROM tt)
),
votes AS (
  SELECT doc_id, {_SIM64_VOTES}
  FROM hh GROUP BY doc_id
),
fp AS (
  SELECT doc_id, CAST({_SIM64_ASSEMBLE} AS BIGINT) AS simhash60 FROM votes
),
bands AS ({_SIM64_BAND_SELECTS}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
    a.simhash60 AS ha, b.simhash60 AS hb
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
  CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(ha, hb)) <= {SIMHASH_HAM_MAX}
ORDER BY doc_a, doc_b
"""


register(
    QuerySpec(
        "dedup_simhash_hamming_pairs",
        dedup_simhash_hamming_pairs,
        DEDUP_SIMHASH_HAM_SQL,
        ("DD25",),
        doc="banded pigeonhole LSH over a 60-bit SimHash: 15-bit band buckets + exact Hamming verify, never all-pairs",
    )
)


# ---------------------------------------------------------------------------
# ann_range_search_cosine — radius search: every corpus vector within
# cosine >= tau of EACH query vector (the retrieval mode dedup and
# contamination filters use — "give me everything this close", not top-k).
# The query batch (vec_id < KNN_Q) broadcasts; the corpus side streams in
# one scan; output is candidate-bounded by the threshold. The batch twin
# of ann_knn_join's top-k-per-query, sharing its query-batch convention.
# ---------------------------------------------------------------------------
RANGE_TAU = 0.35


def ann_range_search_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single corpus pass + broadcast query side -> both views read the
    # shared cached store; 1 static scan
    e = _emb_base(spark, sf_dir).select("vec_id", "v")
    q = e.filter(F.col("vec_id") < KNN_Q).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    return (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            F.round(vectors.cosine(F.col("v"), F.col("qv")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= RANGE_TAU)
        .sortWithinPartitions("q_id", "vec_id")
    )


ANN_RANGE_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM {EMB_SOURCE_SQL}),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < {KNN_Q})
SELECT q_id, vec_id,
  ROUND({vectors.cosine_sql('e.v', 'q.qv')}, 6) AS cos
FROM e CROSS JOIN q
WHERE vec_id <> q_id
  AND ROUND({vectors.cosine_sql('e.v', 'q.qv')}, 6) >= {RANGE_TAU}
ORDER BY q_id, vec_id
"""


register(
    QuerySpec(
        "ann_range_search_cosine",
        ann_range_search_cosine,
        ANN_RANGE_SQL,
        ("SIM20",),
        doc="batch radius search: all corpus vectors within cosine >= tau of each query (threshold retrieval mode)",
    )
)


# ---------------------------------------------------------------------------
# embeddings_whitening_stats — per-dimension mean/variance calibration (the
# whitening / feature-standardization precompute): exact integer micro
# moments (sum of round(x*1e6) and its square per dim), variance from the
# n*Sxx - Sx^2 identity, each exported stat ONE division of exact integers
# rounded at 6 dp. The stats table a whitening transform broadcasts; also
# the drift monitor for embedding providers (a dim whose mean wanders from
# 0 flags a model change). One scan, one |dims|-keyed map-side-combinable
# aggregate — the canonical 100 TB profile shape.
# ---------------------------------------------------------------------------
def embeddings_whitening_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_embeddings(spark, sf_dir)
    vals = emb.select(
        F.posexplode("embedding").alias("dim", "val")
    ).select(
        "dim",
        F.round(F.col("val").cast("double") * 1000000.0, 0)
        .cast("long")
        .alias("xm"),
    )
    # square in DECIMAL: a 1e4-magnitude element (edge corpus) puts xm at
    # ~1e10 and xm^2 past 2^63
    m = vals.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum("xm").alias("sx"),
        F.sum(F.col("xm").cast("decimal(38,0)") * F.col("xm")).alias("sxx"),
    )
    return m.select(
        F.col("dim").cast("bigint").alias("dim"),
        F.col("n").cast("bigint").alias("n"),
        F.round(
            F.col("sx").cast("double") / (F.col("n") * F.lit(1000000.0)), 6
        ).alias("mean"),
        F.round(
            (
                F.col("n").cast("decimal(38,0)") * F.col("sxx")
                - F.col("sx").cast("decimal(38,0)") * F.col("sx")
            ).cast("double")
            / (
                F.col("n").cast("decimal(38,0)")
                * F.col("n")
                * F.lit(1000000000000).cast("decimal(38,0)")
            ).cast("double"),
            6,
        ).alias("variance"),
    ).orderBy("dim")


EMB_WHITEN_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM {EMB_SOURCE_SQL}),
vals AS (
  SELECT CAST(i - 1 AS BIGINT) AS dim,
    CAST(ROUND(v[i] * 1000000.0, 0) AS BIGINT) AS xm
  FROM (SELECT v, unnest(range(1, len(v) + 1)) AS i FROM e)
),
m AS (
  SELECT dim, COUNT(*) AS n, SUM(xm) AS sx,
    SUM(CAST(xm AS HUGEINT) * xm) AS sxx
  FROM vals GROUP BY dim
)
SELECT dim, CAST(n AS BIGINT) AS n,
  ROUND(CAST(sx AS DOUBLE) / (n * 1000000.0), 6) AS mean,
  ROUND(CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
        / CAST(CAST(n AS HUGEINT) * n * 1000000000000 AS DOUBLE), 6)
    AS variance
FROM m
ORDER BY dim
"""


register(
    QuerySpec(
        "embeddings_whitening_stats",
        embeddings_whitening_stats,
        EMB_WHITEN_SQL,
        ("IT9",),
        doc="per-dimension exact-moment mean/variance: the whitening precompute and provider-drift monitor",
    )
)


# ---------------------------------------------------------------------------
# ann_eval_mrr — known-item MRR eval of the single-probe IVF path: for the
# KNN_Q-vector query batch, the "relevant" item is each query's EXACT
# top-1 corpus neighbor, and the metric is where that item lands in the
# IVF top-K list (reciprocal rank; 0 when the probe misses the cell).
# Completes the retrieval-eval family: ann_ivf_recall measures SET overlap
# at k, this measures the rank-position quality the set metric can't see
# (an approximate list with the right members in the wrong order scores
# identical recall but lower MRR). The exact leg is the eval's
# requirement, same as ann_ivf_recall/ann_rerank_audit.
#
# Determinism: cosines round to 6dp before ranking with vec_id tiebreak
# (the knn_join idiom); reciprocal ranks are exact micro-integers
# (1e6 DIV rank), so the mean (SUM DIV COUNT) is summation-order-free.
# The one unpartitioned window (the batch mean) runs over the
# KNN_Q-bounded per-query frame. Scale: both legs are broadcast-query
# scans of the corpus — no corpus self-join anywhere.
# ---------------------------------------------------------------------------
def ann_eval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb_base(spark, sf_dir).select("vec_id", "v")
    cells = _ivf_cells(spark, sf_dir)
    q = e.filter(F.col("vec_id") < KNN_Q).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    qc = cells.filter(F.col("vec_id") < KNN_Q).select(
        F.col("vec_id").alias("q_id"), F.col("cell").alias("qcell")
    )
    corpus = e.join(cells, "vec_id").filter(F.col("vec_id") >= KNN_Q)
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    # round 14: the exact leg never reads `cell` — scan the raw store, so
    # only the probed leg pays the IVF-assignment join
    exact_corpus = e.filter(F.col("vec_id") >= KNN_Q)
    exact1 = (
        exact_corpus.crossJoin(F.broadcast(q))
        .select(
            "q_id",
            "vec_id",
            F.round(vectors.cosine(F.col("v"), F.col("qv")), 6).alias("cos"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select("q_id", F.col("vec_id").alias("exact_top1"))
    )
    approx = (
        corpus.crossJoin(F.broadcast(q.join(qc, "q_id")))
        .filter(F.col("cell") == F.col("qcell"))
        .select(
            "q_id",
            "vec_id",
            F.round(vectors.cosine(F.col("v"), F.col("qv")), 6).alias("cos"),
        )
        .withColumn("arank", F.row_number().over(w).cast("long"))
        .filter(F.col("arank") <= ANN_K)
    )
    per_q = (
        exact1.join(
            approx.select("q_id", "vec_id", "arank"),
            (exact1.q_id == approx.q_id) & (exact1.exact_top1 == approx.vec_id),
            "left",
        )
        .select(exact1.q_id, "exact_top1", "arank")
        .withColumn(
            "rr_micro",
            F.coalesce(F.expr("1000000 DIV arank"), F.lit(0)).cast("bigint"),
        )
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        per_q.select(
            "q_id",
            "exact_top1",
            F.col("arank").alias("approx_rank"),
            "rr_micro",
        )
        .withColumn("_sum", F.sum("rr_micro").over(w_all))
        .withColumn("_cnt", F.count("*").over(w_all))
        .withColumn("mrr_micro", F.expr("CAST(_sum DIV _cnt AS BIGINT)"))
        .drop("_sum", "_cnt")
        .orderBy("q_id")
    )


ANN_EVAL_MRR_SQL = f"""
WITH {_IVF_CELLS_CTE},
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < {KNN_Q}),
qc AS (SELECT vec_id AS q_id, cell AS qcell FROM cells WHERE vec_id < {KNN_Q}),
corpus AS (
  SELECT e.vec_id, v, cell FROM e JOIN cells USING (vec_id)
  WHERE e.vec_id >= {KNN_Q}
),
exact AS (
  SELECT q_id, vec_id,
    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY
      ROUND({vectors.cosine_sql('v', 'qv')}, 6) DESC, vec_id) AS rnk
  FROM corpus, q
),
exact1 AS (SELECT q_id, vec_id AS exact_top1 FROM exact WHERE rnk = 1),
approx AS (
  SELECT s.q_id, s.vec_id, s.arank FROM (
    SELECT corpus.vec_id, q.q_id,
      ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
        ROUND({vectors.cosine_sql('v', 'qv')}, 6) DESC, corpus.vec_id)
        AS arank
    FROM corpus JOIN qc ON corpus.cell = qc.qcell
    JOIN q ON q.q_id = qc.q_id
  ) s WHERE s.arank <= {ANN_K}
),
per_q AS (
  SELECT exact1.q_id, exact_top1,
    CAST(approx.arank AS BIGINT) AS approx_rank,
    CAST(COALESCE(1000000 // approx.arank, 0) AS BIGINT) AS rr_micro
  FROM exact1 LEFT JOIN approx
    ON exact1.q_id = approx.q_id AND exact1.exact_top1 = approx.vec_id
)
SELECT q_id, exact_top1, approx_rank, rr_micro,
  CAST(SUM(rr_micro) OVER () // COUNT(*) OVER () AS BIGINT) AS mrr_micro
FROM per_q
ORDER BY q_id
"""


register(
    QuerySpec(
        "ann_eval_mrr",
        ann_eval_mrr,
        ANN_EVAL_MRR_SQL,
        ("SIM17",),
        doc="known-item MRR eval of single-probe IVF vs exact top-1: rank-position quality, exact micro-integer reciprocal ranks",
    )
)
