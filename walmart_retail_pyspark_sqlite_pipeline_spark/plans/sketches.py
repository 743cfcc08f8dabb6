"""Approximate-sketch and data-layout operators.

At 100 TB, exact ``COUNT(DISTINCT)`` and exact quantiles force a full
shuffle of every distinct value; the scale path is a mergeable sketch
(HyperLogLog for cardinality, a quantile sketch for order statistics)
whose partial states combine map-side and never materialize the value
set. Spark ships both (`approx_count_distinct`, `percentile_approx`);
this module registers them with an oracle design that stays value-exact
across engines even though the raw estimates are implementation-defined:

    The query outputs the EXACT statistic (both engines agree bit-exact)
    plus a boolean ``*_ok`` flag asserting the engine's own sketch lands
    inside a stated error band. DuckDB checks ITS sketch against the same
    band. The driver's value hash then compares (exact value, contract
    satisfied) — deterministic — while the test still fails loudly on
    either side if a sketch ever violates its error contract.

The z-order query demonstrates the layout half of scale: interleaving the
bits of two bucketized dimensions into one sort key so a single
``repartitionByRange + sortWithinPartitions`` write gives parquet files
whose min/max footer stats are tight on BOTH dimensions — scan pruning
for two-predicate queries without maintaining two copies of the data.
All bucket/interleave math is integer-only, so the DuckDB twin is exact.

Extensions beyond the reference (its only cardinality op is the exact
``dropDuplicates``/``countDistinct`` family, src/quality_checks.py:34-47);
these are the sketch counterparts a 1000-executor deployment needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.layout import _interleave
from ..sources import read_table
from .llm import _token_postings
from .registry import QuerySpec, register

# Relative error band asserted for the HLL estimate. Spark runs at
# rsd=0.01 (~1% standard error) and DuckDB's HLL is ~1.6% typical —
# a 5% band is >3 sigma for both, so the flag is deterministic-true on
# contract-honoring implementations yet still catches a broken sketch.
_HLL_BAND = 0.05

# Quantile band: fraction of the per-group value RANGE the approximate
# median may deviate from the exact interpolated median.
_QUANTILE_BAND = 0.02


def sketch_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL cardinality per event_type, graded against exact NDV.

    At scale you would drop the exact branch and keep only the mergeable
    HLL (map-side partials, no shuffle of the distinct set); here the
    exact branch is the grader.

    The exact branch is pre-deduplicated BEFORE the HLL aggregate (round
    15, guide §2.3): mixing ``countDistinct`` with a non-distinct
    aggregate makes Spark's distinct-rewrite evaluate the HLL partial at
    the (event_type, user_id) grain — at rsd=0.01 that is ~1.6k packed
    register columns carried by EVERY distinct pair through the first
    exchange (the partial aggregate's plan listed 1641 result columns).
    Deduplicating the pairs first and aggregating the
    distinct stream shuffles 2 narrow columns instead; HLL insertion is
    idempotent, so the sketch registers — and hence the estimate and the
    band flag — are identical over the distinct stream.
    """
    events = read_table(spark, sf_dir, "events")
    pairs = events.select("event_type", "user_id").distinct()
    agg = pairs.groupBy("event_type").agg(
        F.count("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"),
    )
    return (
        agg.select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= F.greatest(F.lit(1), F.col("exact_users") * _HLL_BAND)
            ).alias("hll_ok"),
        )
        .orderBy("event_type")
    )


SKETCH_APPROX_DISTINCT_SQL = f"""
SELECT event_type,
  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
  ABS(approx_count_distinct(user_id) - COUNT(DISTINCT user_id))
    <= GREATEST(1, COUNT(DISTINCT user_id) * {_HLL_BAND}) AS hll_ok
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def sketch_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate median per order status, graded against the exact one.

    ``percentile_approx`` is the KLL/GK-style mergeable sketch Spark uses
    at scale; ``percentile`` is the exact interpolated order statistic
    both engines define identically (see q21). The output carries the
    exact value and the band verdict on the sketch.
    """
    orders = read_table(spark, sf_dir, "orders")
    agg = orders.groupBy("o_orderstatus").agg(
        F.percentile("o_totalprice", 0.5).alias("exact_median"),
        F.percentile_approx("o_totalprice", 0.5, 10000).alias("approx_median"),
        (F.max("o_totalprice") - F.min("o_totalprice")).alias("price_range"),
    )
    return (
        agg.select(
            "o_orderstatus",
            F.round("exact_median", 2).alias("exact_median"),
            (
                F.abs(F.col("approx_median") - F.col("exact_median"))
                <= F.col("price_range") * _QUANTILE_BAND
            ).alias("quantile_ok"),
        )
        .orderBy("o_orderstatus")
    )


SKETCH_APPROX_QUANTILE_SQL = f"""
SELECT o_orderstatus,
  ROUND(quantile_cont(o_totalprice, 0.5), 2) AS exact_median,
  ABS(approx_quantile(o_totalprice, 0.5) - quantile_cont(o_totalprice, 0.5))
    <= (MAX(o_totalprice) - MIN(o_totalprice)) * {_QUANTILE_BAND} AS quantile_ok
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


# --------------------------------------------------------------------------
# Z-order layout: 4 bits of price bucket interleaved with 4 bits of order
# month. Integer-only math end to end (FLOOR to whole dollars, integer DIV
# for buckets, &/shift for the interleave) so both engines agree bit-exact.
# --------------------------------------------------------------------------
_ZBITS = 4  # 16 buckets per dimension -> 8-bit z key


def _layout_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(price_bucket, month_bucket)`` per order: ``_ZBITS``-bit whole-dollar
    price bucket over the table's price range, and the 0-based order
    month — the two layout dimensions."""
    orders = read_table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min(F.floor("o_totalprice").cast("bigint")).alias("p_min"),
        F.max(F.floor("o_totalprice").cast("bigint")).alias("p_max"),
    )
    return orders.join(F.broadcast(bounds)).select(  # 1-row bounds: broadcast
        F.least(
            F.lit(2**_ZBITS - 1),
            F.expr(
                "(CAST(FLOOR(o_totalprice) AS BIGINT) - p_min)"
                f" DIV (((p_max - p_min) DIV {2**_ZBITS}) + 1)"
            ),
        ).alias("price_bucket"),
        (F.month("o_orderdate") - 1).cast("bigint").alias("month_bucket"),
    )


def _layout_stats(keyed: DataFrame, key: str) -> DataFrame:
    """Each layout key's row count and bucket extents — the spread (max-min
    per key) is what the writer's pruning benefit depends on."""
    return (
        keyed.groupBy(key)
        .agg(
            F.count("*").alias("n_rows"),
            F.min("price_bucket").alias("pb_min"),
            F.max("price_bucket").alias("pb_max"),
            F.min("month_bucket").alias("mb_min"),
            F.max("month_bucket").alias("mb_max"),
        )
        .orderBy(key)
    )


#: The SQL twins of :func:`_layout_buckets` (ending in ``bucketed``) and of
#: :func:`_layout_stats`' aggregates.
_LAYOUT_BUCKETS_SQL = f"""bounds AS (
  SELECT MIN(CAST(FLOOR(o_totalprice) AS BIGINT)) AS p_min,
         MAX(CAST(FLOOR(o_totalprice) AS BIGINT)) AS p_max
  FROM orders
), bucketed AS (
  SELECT
    LEAST({2**_ZBITS - 1},
          (CAST(FLOOR(o_totalprice) AS BIGINT) - p_min)
            // (((p_max - p_min) // {2**_ZBITS}) + 1)) AS price_bucket,
    CAST(MONTH(o_orderdate) - 1 AS BIGINT) AS month_bucket
  FROM orders, bounds
)"""
_LAYOUT_STATS_SQL = """CAST(COUNT(*) AS BIGINT) AS n_rows,
  MIN(price_bucket) AS pb_min, MAX(price_bucket) AS pb_max,
  MIN(month_bucket) AS mb_min, MAX(month_bucket) AS mb_max"""


def layout_zorder_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order key over (price bucket, order month) with locality stats.

    At scale the key feeds ``repartitionByRange("z_key").sortWithinPartitions
    ("z_key")`` before the parquet write, so every file's min/max footer is
    tight on both dimensions and either predicate prunes files. Here the
    query groups by the key and reports each z-run's bucket extents; the
    oracle pins the interleave math exactly.
    """
    z_key = _interleave(F.col("price_bucket"), F.col("month_bucket"), bits=_ZBITS)
    keyed = _layout_buckets(spark, sf_dir).select(
        z_key.alias("z_key"), "price_bucket", "month_bucket"
    )
    return _layout_stats(keyed, "z_key")


def _interleave_sql(hi: str, lo: str) -> str:
    terms = []
    for i in range(_ZBITS):
        terms.append(f"((({hi} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({lo} >> {i}) & 1) << {2 * i})")
    return " + ".join(terms)


LAYOUT_ZORDER_SQL = f"""
WITH {_LAYOUT_BUCKETS_SQL}
SELECT {_interleave_sql("price_bucket", "month_bucket")} AS z_key,
  {_LAYOUT_STATS_SQL}
FROM bucketed
GROUP BY z_key
ORDER BY z_key
"""


# the two mergeable-sketch queries, each checked against its exact twin
for _spec in [
    QuerySpec(
        "sketch_approx_distinct",
        sketch_approx_distinct,
        SKETCH_APPROX_DISTINCT_SQL,
        ("A2",),
        doc="HLL cardinality sketch graded against exact NDV (error-band oracle)",
    ),
    QuerySpec(
        "sketch_approx_quantile",
        sketch_approx_quantile,
        SKETCH_APPROX_QUANTILE_SQL,
        ("A9",),
        doc="mergeable quantile sketch graded against the exact median",
    ),
]:
    register(_spec)

register(
    QuerySpec(
        "layout_zorder_clustering",
        layout_zorder_clustering,
        LAYOUT_ZORDER_SQL,
        ("O1",),
        doc="z-order bit-interleaved sort key for two-dimension file pruning",
    )
)


# ---------------------------------------------------------------------------
# sketch_hll_manual — HyperLogLog built FROM SCRATCH out of portable
# integer expressions, so BOTH engines compute the IDENTICAL estimate
# (unlike approx_count_distinct, whose sketch is implementation-defined
# and only contract-checkable — see module docstring). This is the
# mergeability story made concrete: the per-bucket state is max(rho),
# which combines map-side like any max, so per-type registers merge
# across 1000 executors with no value-set shuffle.
#
# Construction (per event_type, m = 256 buckets): the id is first
# reduced into the affine family's documented < 2^31 input domain
# (x = ((user_id mod P) + P) mod P — nonnegative for any BIGINT id, so
# a·x never overflows int64 where DuckDB would raise and Spark would
# silently wrap), then h = (a·x+b) mod (2^31−1); bucket = h mod m; the
# remaining ~23-bit word w = h div m has rho = 24 − bitlength(w) (24 for
# w = 0); the harmonic sum Σ 2^(−M_j) is held EXACTLY as integers
# Σ 2^(24−M_j) (≤ m·2^24 < 2^63), empty buckets contributing 2^24 each;
# the only float step is the final alpha·m²·2^24 / Σ division — identical
# operands both engines. The small-range regime (raw ≤ 2.5·m with empty
# buckets) switches to linear counting m·ln(m/V) per the original
# algorithm — that ln is fixed-pointed at 1e-6 (libm ln is not
# correctly-rounded) so the branch stays engine-identical too.
# ---------------------------------------------------------------------------
_HLL_M = 256
_HLL_A, _HLL_B = 735632797, 1234567  # MINHASH_PERMS[0]
_HLL_P = 2147483647


def sketch_hll_manual(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select("event_type", "user_id")
    x = (F.col("user_id") % _HLL_P + _HLL_P) % _HLL_P
    h = (x * _HLL_A + _HLL_B) % _HLL_P
    hashed = ev.select(
        "event_type",
        (h % _HLL_M).alias("bucket"),
        F.expr(
            f"(((user_id % {_HLL_P} + {_HLL_P}) % {_HLL_P})"
            f" * {_HLL_A} + {_HLL_B}) % {_HLL_P} DIV {_HLL_M}"
        ).alias("w"),
    ).select(
        "event_type",
        "bucket",
        F.when(F.col("w") == 0, 24)
        .otherwise(24 - F.length(F.expr("bin(w)")))
        .alias("rho"),
    )
    regs = hashed.groupBy("event_type", "bucket").agg(F.max("rho").alias("m_j"))
    # CASTs keep Spark's literal arithmetic in DOUBLE (its SQL parser
    # types bare decimal literals as DECIMAL; DuckDB's types them DOUBLE)
    alpha_num = (
        f"(CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE)"
        f" + CAST(1.079 AS DOUBLE) / CAST({_HLL_M} AS DOUBLE)))"
        f" * CAST({_HLL_M} AS DOUBLE) * CAST({_HLL_M} AS DOUBLE)"
        f" * CAST(16777216 AS DOUBLE)"
    )
    per_type = regs.groupBy("event_type").agg(
        F.count("*").alias("n_used"),
        F.sum(F.expr("CAST(POW(2, 24 - m_j) AS BIGINT)")).alias("s_used"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_distinct")
    )
    raw = F.expr(f"{alpha_num} / (s_used + ({_HLL_M} - n_used) * 16777216)")
    n_empty = F.lit(_HLL_M) - F.col("n_used")
    lc = (
        F.lit(_HLL_M)
        * F.round(
            F.log(F.lit(float(_HLL_M)) / n_empty.cast("double")) * 1000000.0, 0
        ).cast("long")
        / 1000000.0
    )
    est = F.when((raw <= 2.5 * _HLL_M) & (n_empty > 0), lc).otherwise(raw)
    return (
        per_type.join(exact, "event_type")
        .select(
            "event_type",
            "exact_distinct",
            (F.lit(_HLL_M) - F.col("n_used")).cast("bigint").alias("n_empty_buckets"),
            F.round(est, 6).alias("hll_estimate"),
            F.round(
                (est - F.col("exact_distinct")) / F.col("exact_distinct"), 6
            ).alias("rel_err"),
        )
        .orderBy("event_type")
    )


SKETCH_HLL_MANUAL_SQL = f"""
WITH hashed AS (
  SELECT event_type,
    ((((user_id % {_HLL_P} + {_HLL_P}) % {_HLL_P})
      * {_HLL_A} + {_HLL_B}) % {_HLL_P}) % {_HLL_M} AS bucket,
    ((((user_id % {_HLL_P} + {_HLL_P}) % {_HLL_P})
      * {_HLL_A} + {_HLL_B}) % {_HLL_P}) // {_HLL_M} AS w
  FROM events
),
rho AS (
  SELECT event_type, bucket,
    CASE WHEN w = 0 THEN 24 ELSE 24 - length(bin(w)) END AS rho
  FROM hashed
),
regs AS (
  SELECT event_type, bucket, MAX(rho) AS m_j
  FROM rho GROUP BY event_type, bucket
),
per_type AS (
  SELECT event_type,
    COUNT(*) AS n_used,
    CAST(SUM(CAST(POW(2, 24 - m_j) AS BIGINT)) AS BIGINT) AS s_used
  FROM regs GROUP BY event_type
),
exact AS (
  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
  FROM events GROUP BY event_type
),
est AS (
  SELECT event_type, n_used,
    (0.7213 / (1.0 + 1.079 / {_HLL_M})) * {_HLL_M} * {_HLL_M}
      * 16777216.0 / (s_used + ({_HLL_M} - n_used) * 16777216) AS raw,
    {_HLL_M} - n_used AS n_empty
  FROM per_type
),
fin AS (
  SELECT event_type, n_empty,
    CASE WHEN raw <= 2.5 * {_HLL_M} AND n_empty > 0
      THEN {_HLL_M} * CAST(ROUND(ln(CAST({_HLL_M} AS DOUBLE) / n_empty)
                                   * 1000000.0, 0) AS BIGINT) / 1000000.0
      ELSE raw END AS hll_estimate
  FROM est
)
SELECT fin.event_type, exact_distinct,
  CAST(n_empty AS BIGINT) AS n_empty_buckets,
  ROUND(hll_estimate, 6) AS hll_estimate,
  ROUND((hll_estimate - exact_distinct) / exact_distinct, 6) AS rel_err
FROM fin JOIN exact ON fin.event_type = exact.event_type
ORDER BY fin.event_type
"""


register(
    QuerySpec(
        "sketch_hll_manual",
        sketch_hll_manual,
        SKETCH_HLL_MANUAL_SQL,
        ("SK3",),
        doc="from-scratch HyperLogLog with engine-identical integer registers",
    )
)


# ---------------------------------------------------------------------------
# sketch_cms_manual — Count-Min sketch built FROM SCRATCH out of portable
# integer expressions (the frequency-estimation companion to
# sketch_hll_manual's cardinality): d=4 hash rows x w=512 counter columns
# over the corpus token stream, with the heavy-hitter probe set derived
# FROM THE SKETCH ITSELF (VERDICT r6 #3): candidates are the distinct
# vocabulary, each point-queried against the counters, and the top-20 BY
# CMS ESTIMATE are exported. The exact count appears only as the
# error-evaluation column, computed for just those 20 tokens via a
# broadcast semi-join — no exact full-cardinality frequency aggregate
# anywhere on the probe-selection path. Every counter and estimate is an
# exact integer on both engines, so the driver hash compares bit-identical
# values — and the CMS one-sided-error invariant (estimate >= true count,
# overest >= 0) is part of the exported row.
#
# Scale shape: the update side is an explode + groupBy into AT MOST d·w =
# 2048 cells — partial aggregation combines map-side, so 1000 executors
# each ship <= 2048 partial counters regardless of token cardinality (the
# whole point of CMS vs an exact groupBy(token) at 100 TB). The candidate
# pass is a DISTINCT over (token, hash) — map-side-combinable dedup whose
# state is bounded by VOCABULARY size (sub-linear in corpus at 100 TB:
# natural-language vocabularies grow ~ Heaps' law), not by corpus rows,
# and it carries no counts; each candidate then probes d cells of the
# BROADCAST 2048-cell counter table and the top-k by estimate is a
# TakeOrderedAndProject. The final exact pass touches only the corpus rows
# of 20 tokens (broadcast semi-join), purely to export the error column.
#
# Hashing: token -> x = poly_hash (31-poly mod 2^31-1, functions/hashing),
# row r's column = ((a_r*x + b_r) mod P) mod w with the documented minhash
# affine family — a_r < 2^30 and x < 2^31 keep a_r*x < 2^61, inside int64
# on both engines.
#
# Determinism: top-k ties on cms_est break by token ASC on both engines,
# so the exported probe set is engine-identical even when estimates tie.
# ---------------------------------------------------------------------------
_CMS_W = 512
_CMS_D = 4
_CMS_TOPK = 20


def _cms_token_counts(postings: DataFrame, *keys: str) -> DataFrame:
    """A ``(*keys, term)`` token stream rolled up into a cached ``(*keys,
    token, x, cnt)`` table, ``x`` the token's poly-hash."""
    from ..functions import hashing

    return (
        postings.filter(F.col("term").isNotNull())
        .select(
            *keys,
            F.col("term").alias("token"),
            hashing.poly_hash(F.col("term")).alias("x"),
        )
        .groupBy(*keys, "token", "x")
        .agg(F.count("*").alias("cnt"))
        .persist()
    )


def _cms_cells() -> F.Column:
    """The ``_CMS_D`` counter cells of token hash ``x``, as
    ``array<struct<r, col>>``: row r's column is ``((a_r*x + b_r) mod P)
    mod w`` over the minhash affine family."""
    from ..functions import hashing

    return F.array(
        *[
            F.struct(
                F.lit(r).alias("r"),
                (((F.col("x") * a + b) % hashing.MERSENNE_P) % _CMS_W).alias("col"),
            )
            for r, (a, b) in enumerate(hashing.MINHASH_PERMS[:_CMS_D])
        ]
    )


def _cms_counters(tf: DataFrame, *keys: str) -> DataFrame:
    """``(*keys, r, col, cnt)``: the cnt-weighted Count-Min counters of a
    :func:`_cms_token_counts` table."""
    return (
        tf.select(*keys, "cnt", F.explode(_cms_cells()).alias("cell"))
        .select(*keys, F.col("cell.r").alias("r"), F.col("cell.col").alias("col"), "cnt")
        .groupBy(*keys, "r", "col")
        .agg(F.sum("cnt").alias("cnt"))
    )


def _cms_probes(vocab: DataFrame) -> DataFrame:
    """``(token, r, col)``: the cells each vocabulary entry point-queries."""
    return vocab.select("token", F.explode(_cms_cells()).alias("cell")).select(
        "token", "cell.r", "cell.col"
    )


def sketch_cms_manual(spark: SparkSession, sf_dir: str) -> DataFrame:
    # token stream off the shared cached token index, rolled up ONCE into
    # a pinned per-token count table (round 15): the
    # counter build, the candidate vocabulary, and the exact-evaluation
    # pass each re-read the full token stream — and re-ran the char-level
    # poly_hash — as separate subtrees (3 postings passes, with the
    # counter pass additionally exploding the stream ×d). Every one of
    # them is derivable from the (token, x, cnt) rollup: the counters as
    # a cnt-weighted sum over the exploded cells, the vocabulary as its
    # key set (poly_hash is deterministic per token, so (token, x) rows
    # ARE the distinct vocabulary), the exact counts as the cnt column.
    # One stream pass; everything downstream is vocabulary-bounded
    # (Heaps-law sub-linear — the same bound the candidate pass always
    # had). The cache entry is matched by plan and reused for the rest of
    # the session (a re-run after the input files changed at the same path
    # reads the cached rows).
    tf = _cms_token_counts(_token_postings(spark, sf_dir))
    counters = _cms_counters(tf)

    # candidate pass: each vocabulary entry probes its d cells against
    # the broadcast counter table; top-k BY ESTIMATE is the sketch-native
    # heavy-hitter selection
    top = (
        _cms_probes(tf).join(F.broadcast(counters), ["r", "col"])
        .groupBy("token")
        .agg(F.min("cnt").alias("cms_est"))
        .orderBy(F.desc("cms_est"), "token")
        .limit(_CMS_TOPK)
    )
    # evaluation-only exact pass: the selected tokens' exact counts are
    # already in the rollup
    exact = (
        tf.join(F.broadcast(top.select("token")), "token")
        .groupBy("token")
        .agg(F.sum("cnt").alias("true_cnt"))
    )
    return (
        top.join(exact, "token")
        .select(
            "token",
            F.col("true_cnt").cast("bigint").alias("true_cnt"),
            F.col("cms_est").cast("bigint").alias("cms_est"),
            (F.col("cms_est") - F.col("true_cnt"))
            .cast("bigint")
            .alias("overest"),
        )
        .orderBy(F.desc("cms_est"), "token")
    )


def _cms_cells_sql(lead: str, src: str) -> str:
    """DuckDB twin of :func:`_cms_cells`: one ``SELECT {lead}r, col FROM
    {src}`` per counter row, UNION ALL-ed."""
    from ..functions import hashing

    P = hashing.MERSENNE_P
    return "\n  UNION ALL ".join(
        f"SELECT {lead}{r} AS r, (((x * {a} + {b}) % {P}) % {_CMS_W}) AS col FROM {src}"
        for r, (a, b) in enumerate(hashing.MINHASH_PERMS[:_CMS_D])
    )


def _cms_sql() -> str:
    from ..functions import hashing, text

    return f"""
WITH toks AS (
  SELECT unnest({text.tokens_sql('text')}) AS token FROM documents
),
hx AS (
  SELECT token, {hashing.poly_hash_sql('token')} AS x FROM toks
),
cells AS (
  {_cms_cells_sql("", "hx")}
),
counters AS (
  SELECT r, col, COUNT(*) AS cnt FROM cells GROUP BY r, col
),
vocab AS (
  SELECT DISTINCT token, x FROM hx
),
cand AS (
  {_cms_cells_sql("token, ", "vocab")}
),
top AS (
  SELECT token, MIN(cnt) AS cms_est
  FROM cand JOIN counters USING (r, col)
  GROUP BY token
  ORDER BY cms_est DESC, token LIMIT {_CMS_TOPK}
),
exact AS (
  SELECT token, COUNT(*) AS true_cnt FROM hx
  WHERE token IN (SELECT token FROM top)
  GROUP BY token
)
SELECT token,
  CAST(true_cnt AS BIGINT) AS true_cnt,
  CAST(cms_est AS BIGINT) AS cms_est,
  CAST(cms_est - true_cnt AS BIGINT) AS overest
FROM top JOIN exact USING (token)
ORDER BY cms_est DESC, token
"""


SKETCH_CMS_MANUAL_SQL = _cms_sql()


register(
    QuerySpec(
        "sketch_cms_manual",
        sketch_cms_manual,
        SKETCH_CMS_MANUAL_SQL,
        ("SK4",),
        doc="from-scratch Count-Min sketch, engine-identical counters + top-k probes",
    )
)


# ---------------------------------------------------------------------------
# sketch_quantile_manual — fixed-grid histogram quantiles built from
# portable integer expressions, completing the from-scratch sketch trio
# (HLL cardinality, CMS frequency, histogram order-statistics). Unlike
# sketch_approx_quantile (whose built-in sketches are implementation-
# defined and only contract-checkable), every number here is an exact
# integer both engines reproduce bit-identically.
#
# Construction (per o_orderpriority): order totals -> integer cents ->
# fixed buckets of width B = 100000 cents ($1000). The bucket counts are
# the sketch: fixed-size mergeable state (<= price_range/B cells/group),
# partial-aggregated map-side — the 100 TB path, no row-count-bounded
# sort anywhere. For each p in {50, 90, 99}: target rank = ceil(p*n/100)
# computed as (p*n + 99) DIV 100 (integer, both engines), the estimate is
# the MIDPOINT of the first bucket whose cumulative count reaches the
# target (error <= B/2 by construction).
#
# Evaluation side (same role as exact_distinct in sketch_hll_manual): the
# EXACT discrete quantile (min value whose rank >= target) derived from a
# distinct-VALUE cumulative — bounded by the value domain like
# qc_drift_ks's binned ECDF, not by row count — so the exported row also
# proves the error contract |est - exact| <= B/2 as hard integers.
# ---------------------------------------------------------------------------
_QSK_B = 100_000  # bucket width in cents ($1000)
_QSK_PS = (50, 90, 99)


def sketch_quantile_manual(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    from pyspark.sql.window import Window

    # Round-12 consolidation (was 3 orders scans: separate histogram and
    # exact-values branches, re-joined twice). The bucket histogram is a
    # pure function of the value-level rollup, so EVERYTHING derives from
    # the one (priority, cents) aggregate: the value-level running count
    # gives the exact quantiles; the bucket's cumulative count is the MAX
    # running count within (priority, b0) — identical to the old per-bucket
    # cumsum because the running count is monotone in cents; and both
    # selections collapse in ONE final aggregate. One scan; the three
    # windows share the o_orderpriority exchange (the (priority, b0)
    # partition is a refinement hash-clustering on priority satisfies).
    vals = o.groupBy("o_orderpriority", "cents").agg(F.count("*").alias("cnt"))
    wv = (
        Window.partitionBy("o_orderpriority")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        vals.withColumn("b0", F.col("cents") - F.col("cents") % _QSK_B)
        .withColumn("cum", F.sum("cnt").over(wv))
        .withColumn(
            "n", F.sum("cnt").over(Window.partitionBy("o_orderpriority"))
        )
        .withColumn(
            "bcum",
            F.max("cum").over(Window.partitionBy("o_orderpriority", "b0")),
        )
    )
    sel_cols = []
    for p in _QSK_PS:
        tgt = F.expr(f"({p} * n + 99) DIV 100")
        sel_cols.append(
            F.min(F.when(F.col("bcum") >= tgt, F.col("b0"))).alias(f"b_{p}")
        )
        sel_cols.append(
            F.min(F.when(F.col("cum") >= tgt, F.col("cents"))).alias(
                f"exact_q{p}"
            )
        )
    ests = cum.groupBy("o_orderpriority", "n").agg(*sel_cols)
    out_cols = ["o_orderpriority", F.col("n").cast("bigint").alias("n")]
    for p in _QSK_PS:
        out_cols.append(
            (F.col(f"b_{p}") + _QSK_B // 2).cast("bigint").alias(f"est_q{p}")
        )
        out_cols.append(F.col(f"exact_q{p}").cast("bigint").alias(f"exact_q{p}"))
        out_cols.append(
            F.abs(F.col(f"b_{p}") + _QSK_B // 2 - F.col(f"exact_q{p}"))
            .cast("bigint")
            .alias(f"abs_err_q{p}")
        )
    return ests.select(*out_cols).orderBy("o_orderpriority")


def _qsk_sql() -> str:
    est_sel = ",\n    ".join(
        f"MIN(CASE WHEN bcum >= ({p} * n + 99) // 100 THEN b0 END) AS b_{p}"
        for p in _QSK_PS
    )
    exact_sel = ",\n    ".join(
        f"MIN(CASE WHEN cum >= ({p} * n + 99) // 100 THEN cents END)"
        f" AS exact_q{p}"
        for p in _QSK_PS
    )
    out_sel = ",\n  ".join(
        f"CAST(b_{p} + {_QSK_B // 2} AS BIGINT) AS est_q{p},\n  "
        f"CAST(exact_q{p} AS BIGINT) AS exact_q{p},\n  "
        f"CAST(ABS(b_{p} + {_QSK_B // 2} - exact_q{p}) AS BIGINT)"
        f" AS abs_err_q{p}"
        for p in _QSK_PS
    )
    # Round-12: mirrors the consolidated single-rollup Spark shape (one
    # value-level aggregate; the bucket cumulative is MAX(cum) within
    # (priority, b0)) so both engines share identical NULL-key semantics.
    return f"""
WITH c AS (
  SELECT o_orderpriority,
    CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
),
vals AS (
  SELECT o_orderpriority, cents, COUNT(*) AS cnt
  FROM c GROUP BY 1, 2
),
vcum AS (
  SELECT o_orderpriority, cents, cents - cents % {_QSK_B} AS b0,
    SUM(cnt) OVER (PARTITION BY o_orderpriority ORDER BY cents
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
    SUM(cnt) OVER (PARTITION BY o_orderpriority) AS n
  FROM vals
),
bcum AS (
  SELECT *,
    MAX(cum) OVER (PARTITION BY o_orderpriority, b0) AS bcum
  FROM vcum
),
ests AS (
  SELECT o_orderpriority, n,
    {est_sel},
    {exact_sel}
  FROM bcum GROUP BY o_orderpriority, n
)
SELECT o_orderpriority, CAST(n AS BIGINT) AS n,
  {out_sel}
FROM ests
ORDER BY o_orderpriority
"""


SKETCH_QUANTILE_MANUAL_SQL = _qsk_sql()


register(
    QuerySpec(
        "sketch_quantile_manual",
        sketch_quantile_manual,
        SKETCH_QUANTILE_MANUAL_SQL,
        ("SK5",),
        doc="fixed-grid histogram quantiles, engine-identical, exact-eval twin",
    )
)


# ---------------------------------------------------------------------------
# sketch_kmv_intersection — KMV ("k minimum values" / theta-style) sketches
# with SET OPERATIONS, the capability the HLL/CMS/histogram trio lacks:
# estimating |A∩B|, |A∪B| and the Jaccard of two token sets from two
# k-value summaries (Beyer et al., "On Synopses for Distinct-Value
# Estimation Under Multiset Operations", SIGMOD'07). HLL unions cleanly
# but cannot intersect; KMV composes: the k smallest hashes of A∪B are
# computable from K_A ∪ K_B alone, and the fraction of them present in
# both sketches estimates the Jaccard — this is how a 100 TB pipeline
# answers "how much does this new crawl overlap the training set" without
# ever joining the corpora.
#
# Sides here: even vs odd doc_id (two same-distribution half-corpora with
# genuine token overlap). Per side the sketch is the k=64 smallest
# DISTINCT hash values, where the hash is poly_hash SCRAMBLED through the
# documented minhash affine permutation — the raw 31-polynomial of a short
# token (< ~7 chars) never wraps the 2^31-1 modulus, so its low values
# cluster and the order statistics KMV depends on are badly non-uniform;
# the affine step (a·x + b mod P with a ≈ 2^30) wraps even x = 1 around
# the modulus and restores the uniformity the estimator needs (planted
# short-token test: tests/test_sketches.py). Estimators are the classic
#   |S|    ≈ (k-1)·P / x_(k)          (x_(k) = k-th smallest hash, P = hash domain)
#   |A∪B|  ≈ (k-1)·P / τ              (τ = k-th smallest of K_A ∪ K_B)
#   J      ≈ ρ/k_U,  |A∩B| ≈ ρ/k_U · est_union   (ρ = |U ∩ K_A ∩ K_B|,
#                     k_U = |U| = min(k, |K_A ∪ K_B|) — using the union
#                     sketch's ACTUAL size as the denominator makes the
#                     small-set regime exact, where k would underestimate)
# all computed with integer DIV on exact BIGINT hash values — engine-
# identical, no floats anywhere. When a side holds fewer than k distinct
# values the sketch IS the set and the estimate is declared exact (the
# standard KMV small-set convention), handled by the same CASE on both
# engines. The exact distinct/intersection/union columns are the
# EVALUATION harness (same role as exact_distinct in sketch_hll_manual).
#
# Scale shape: the sketch state is k BIGINTs per side regardless of
# corpus size; candidate generation is a DISTINCT over (side, hash) —
# vocabulary-bounded like the CMS candidate pass — followed by a
# per-side top-k (rank <= k window on the deduped hashes). Sketch
# combination touches <= 2k rows. Nothing downstream of the dedup scales
# with the corpus.
# ---------------------------------------------------------------------------
_KMV_K = 64


def sketch_kmv_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..functions import hashing

    # token stream off the shared cached token index (round-11 scan
    # census: 4 documents scans from the sketch/exact branches)
    toks = (
        _token_postings(spark, sf_dir)
        .filter(F.col("term").isNotNull())
        .select(
            (F.col("doc_id") % 2).cast("int").alias("side"),
            F.col("term").alias("token"),
        )
        .distinct()
    )
    hx = toks.select(
        "side",
        hashing.minhash_value(
            hashing.poly_hash(F.col("token")), hashing.MINHASH_PERMS[0]
        ).alias("x"),
    ).distinct()
    w = Window.partitionBy("side").orderBy("x")
    ks = hx.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= _KMV_K
    )
    side_stats = ks.groupBy("side").agg(
        F.max("x").alias("xk"), F.count("*").alias("kk")
    )
    a = side_stats.filter(F.col("side") == 0).select(
        F.col("xk").alias("xk_a"), F.col("kk").alias("kk_a")
    )
    b = side_stats.filter(F.col("side") == 1).select(
        F.col("xk").alias("xk_b"), F.col("kk").alias("kk_b")
    )
    # union sketch: k smallest distinct values of K_A ∪ K_B; rho counts the
    # union-sketch values present in BOTH side sketches
    uni = (
        ks.groupBy("x")
        .agg(F.count("*").alias("n_sides"))
        .orderBy("x")
        .limit(_KMV_K)
    )
    u_stats = uni.agg(
        F.max("x").alias("tau"),
        F.count("*").alias("ku"),
        F.sum((F.col("n_sides") == 2).cast("long")).alias("rho"),
    )
    # exact evaluation columns (the harness, not the operator under test) —
    # computed over TOKENS, not hashes: a cross-side hash collision must
    # not corrupt the ground truth the estimators are judged against
    tok_sets = toks.groupBy("token").agg(
        F.max((F.col("side") == 0).cast("int")).alias("in_a"),
        F.max((F.col("side") == 1).cast("int")).alias("in_b"),
    )
    exact = tok_sets.agg(
        F.sum("in_a").cast("bigint").alias("exact_a"),
        F.sum("in_b").cast("bigint").alias("exact_b"),
        F.sum(
            ((F.col("in_a") == 1) & (F.col("in_b") == 1)).cast("long")
        ).alias("exact_inter"),
        F.count("*").cast("bigint").alias("exact_union"),
    )
    P = hashing.MERSENNE_P
    K = _KMV_K
    est = (
        a.crossJoin(b)
        .crossJoin(u_stats)
        .crossJoin(exact)
        .select(
            F.lit(K).cast("bigint").alias("k"),
            "exact_a",
            "exact_b",
            "exact_inter",
            "exact_union",
            F.expr(
                f"CASE WHEN kk_a < {K} THEN kk_a ELSE ({K} - 1) * CAST({P} AS BIGINT) DIV xk_a END"
            )
            .cast("bigint")
            .alias("est_a"),
            F.expr(
                f"CASE WHEN kk_b < {K} THEN kk_b ELSE ({K} - 1) * CAST({P} AS BIGINT) DIV xk_b END"
            )
            .cast("bigint")
            .alias("est_b"),
            F.expr(
                f"CASE WHEN ku < {K} THEN ku ELSE ({K} - 1) * CAST({P} AS BIGINT) DIV tau END"
            )
            .cast("bigint")
            .alias("est_union"),
            F.col("ku").cast("bigint").alias("ku"),
            F.col("rho").cast("bigint").alias("rho"),
        )
        .withColumn(
            "est_inter",
            F.expr("rho * est_union DIV ku").cast("bigint"),
        )
        .withColumn(
            "jaccard_est_ppm",
            F.expr("rho * 1000000 DIV ku").cast("bigint"),
        )
        .withColumn(
            "jaccard_exact_ppm",
            F.expr("exact_inter * 1000000 DIV exact_union").cast("bigint"),
        )
    )
    return est


def _kmv_sql() -> str:
    from ..functions import hashing, text

    P, K = hashing.MERSENNE_P, _KMV_K
    return f"""
WITH toks AS (
  SELECT DISTINCT CAST(doc_id % 2 AS INTEGER) AS side,
         unnest({text.tokens_sql('text')}) AS token
  FROM documents
),
hx AS (
  SELECT DISTINCT side,
    {hashing.minhash_value_sql(hashing.poly_hash_sql('token'), hashing.MINHASH_PERMS[0])} AS x
  FROM toks
),
ks AS (
  SELECT side, x FROM (
    SELECT side, x, ROW_NUMBER() OVER (PARTITION BY side ORDER BY x) AS rn
    FROM hx
  ) WHERE rn <= {K}
),
side_stats AS (
  SELECT side, MAX(x) AS xk, COUNT(*) AS kk FROM ks GROUP BY side
),
uni AS (
  SELECT x, COUNT(*) AS n_sides FROM ks GROUP BY x ORDER BY x LIMIT {K}
),
u_stats AS (
  SELECT MAX(x) AS tau, COUNT(*) AS ku,
         SUM(CASE WHEN n_sides = 2 THEN 1 ELSE 0 END) AS rho
  FROM uni
),
tok_sets AS (
  SELECT token,
         MAX(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS in_a,
         MAX(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS in_b
  FROM toks GROUP BY token
),
exact AS (
  SELECT CAST(SUM(in_a) AS BIGINT) AS exact_a,
         CAST(SUM(in_b) AS BIGINT) AS exact_b,
         CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS exact_inter,
         CAST(COUNT(*) AS BIGINT) AS exact_union
  FROM tok_sets
),
a AS (SELECT xk AS xk_a, kk AS kk_a FROM side_stats WHERE side = 0),
b AS (SELECT xk AS xk_b, kk AS kk_b FROM side_stats WHERE side = 1),
est AS (
  SELECT CAST({K} AS BIGINT) AS k,
    exact_a, exact_b, exact_inter, exact_union,
    CAST(CASE WHEN kk_a < {K} THEN kk_a
         ELSE ({K} - 1) * CAST({P} AS BIGINT) // xk_a END AS BIGINT) AS est_a,
    CAST(CASE WHEN kk_b < {K} THEN kk_b
         ELSE ({K} - 1) * CAST({P} AS BIGINT) // xk_b END AS BIGINT) AS est_b,
    CAST(CASE WHEN ku < {K} THEN ku
         ELSE ({K} - 1) * CAST({P} AS BIGINT) // tau END AS BIGINT) AS est_union,
    CAST(ku AS BIGINT) AS ku,
    CAST(rho AS BIGINT) AS rho
  FROM a, b, u_stats, exact
)
SELECT k, exact_a, exact_b, exact_inter, exact_union,
  est_a, est_b, est_union, ku, rho,
  CAST(rho * est_union // ku AS BIGINT) AS est_inter,
  CAST(rho * 1000000 // ku AS BIGINT) AS jaccard_est_ppm,
  CAST(exact_inter * 1000000 // exact_union AS BIGINT) AS jaccard_exact_ppm
FROM est
"""


SKETCH_KMV_SQL = _kmv_sql()


register(
    QuerySpec(
        "sketch_kmv_intersection",
        sketch_kmv_intersection,
        SKETCH_KMV_SQL,
        ("SK6",),
        doc="KMV/theta sketches with set ops: union/intersection/Jaccard estimation",
    )
)


# ---------------------------------------------------------------------------
# sketch_mg_heavyhitters — deterministic Misra–Gries heavy-hitter summary,
# the LOWER-bound companion to sketch_cms_manual's upper-bound estimates
# (CMS never underestimates; MG never OVERestimates, and its undercount is
# bounded by a value the query itself exports). Built from scratch as the
# MERGEABLE formulation (Agarwal, Cormode, Huang, Phillips, Wei, Yi —
# "Mergeable Summaries", PODS'12): MG summaries of disjoint sub-streams
# combine by adding counters and re-reducing to k entries, losing at most
# the subtracted reduction offsets — the shape a 1000-executor deployment
# needs, because each executor can summarize its shard locally and ship k
# counters instead of a vocabulary-sized map.
#
# The classic MG is a sequential counter automaton whose output depends on
# stream ORDER — useless for cross-engine parity. The order-free equivalent
# used here (and in the mergeability proof of the paper) summarizes a BAG:
#   reduce_k(counts) = keep the k largest counters, each decremented by the
#                      (k+1)-th largest counter value delta (0 if fewer
#                      than k+1 entries); drop what hits zero.
# Every dropped token had count <= delta, and every kept token undercounts
# by exactly delta, so for the two-level pipeline below
#   true(t) - (sum_s delta_s + delta2)  <=  est(t)  <=  true(t)
# with ties at the cut broken by token ASC on both engines — fully
# deterministic integers end to end.
#
# Pipeline: shard tokens by doc_id % MG_SHARDS (a stand-in for "executor
# partition" that both engines compute identically) -> exact per-shard
# counts -> per-shard reduce_K (window rank + delta subtraction) -> merge
# by summing surviving counters -> global reduce_K2 -> export the top
# MG_TOPK by estimate. err_bound = sum of all per-shard deltas + the merge
# delta is a COLUMN of the result, and the exported rows carry the exact
# count (evaluation-only broadcast semi-join, same role as in the CMS/HLL
# queries) plus the two checked invariants: undercount >= 0 (never
# overestimates) and undercount <= err_bound.
#
# Scale shape: the per-shard count is a groupBy(shard, token) whose state
# is vocabulary-bounded (Heaps-law sub-linear, same note as the CMS
# candidate pass); everything downstream of reduce_K touches at most
# MG_SHARDS * MG_K rows, and the merge ships MG_K counters per shard
# regardless of corpus size. At 100 TB the per-shard count itself would be
# MG'd inside executor memory (the summarize step IS the map-side
# combiner); the summarize -> merge -> re-reduce algebra proved here is
# exactly that combiner's merge path.
# ---------------------------------------------------------------------------
_MG_SHARDS = 8
_MG_K = 64
_MG_K2 = 32
_MG_TOPK = 20


def sketch_mg_heavyhitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    # token stream off the shared cached token index — the sharded
    # counters, the merge, the error bound, and the exact-evaluation pass
    # multiplied the scan subtree through the DAG (round-11 scan census:
    # 11 documents scans, the fleet's worst)
    toks = (
        _token_postings(spark, sf_dir)
        .filter(F.col("term").isNotNull())
        .select(
            (F.col("doc_id") % _MG_SHARDS).cast("int").alias("shard"),
            F.col("term").alias("token"),
        )
    )
    # ONE token-stream pass, pinned (round 15, guide §5 — the _ivf_cells
    # pattern): the counts table is consumed by FIVE downstream subtrees
    # (deltas, kept, the two bound scalars, the exact pass below), and
    # without the pin each re-ran the full-stream groupBy — the round-15
    # profile measured ~5 postings passes per execution. The pin is
    # vocabulary×shards-bounded (Heaps-law sub-linear); the cache entry is
    # matched by plan and reused for the rest of the session (a re-run
    # after the input files changed at the same path reads the cached
    # rows).
    counts = (
        toks.groupBy("shard", "token").agg(F.count("*").alias("cnt")).persist()
    )

    w1 = Window.partitionBy("shard").orderBy(F.desc("cnt"), F.asc("token"))
    ranked = counts.withColumn("rn", F.row_number().over(w1))
    deltas = ranked.filter(F.col("rn") == _MG_K + 1).select(
        "shard", F.col("cnt").alias("delta")
    )
    kept = (
        ranked.filter(F.col("rn") <= _MG_K)
        .join(F.broadcast(deltas), "shard", "left")
        .select(
            "token",
            (F.col("cnt") - F.coalesce(F.col("delta"), F.lit(0))).alias("mg"),
        )
        .filter(F.col("mg") > 0)
    )

    merged = kept.groupBy("token").agg(F.sum("mg").alias("m"))
    w2 = Window.orderBy(F.desc("m"), F.asc("token"))
    ranked2 = merged.withColumn("rn2", F.row_number().over(w2))
    # scalar reduction offsets -> one broadcast row
    bound = (
        deltas.agg(F.coalesce(F.sum("delta"), F.lit(0)).alias("shard_deltas"))
        .crossJoin(
            F.broadcast(ranked2.agg(
                F.coalesce(
                    F.max(F.when(F.col("rn2") == _MG_K2 + 1, F.col("m"))),
                    F.lit(0),
                ).alias("delta2")
            ))
        )
        .select(
            "delta2",
            (F.col("shard_deltas") + F.col("delta2")).alias("err_bound"),
        )
    )
    top = (
        ranked2.filter(F.col("rn2") <= _MG_K2)
        .crossJoin(F.broadcast(bound))
        .select(
            "token",
            (F.col("m") - F.col("delta2")).alias("mg_est"),
            "err_bound",
        )
        .filter(F.col("mg_est") > 0)
        .orderBy(F.desc("mg_est"), "token")
        .limit(_MG_TOPK)
    )
    # evaluation-only exact pass on just the exported tokens — off the
    # pinned counts table (true count = Σ over shards of the exact
    # per-shard count), not a second token-stream scan
    exact = (
        counts.join(F.broadcast(top.select("token")), "token")
        .groupBy("token")
        .agg(F.sum("cnt").alias("true_cnt"))
    )
    return (
        top.join(exact, "token")
        .select(
            "token",
            F.col("mg_est").cast("bigint").alias("mg_est"),
            F.col("true_cnt").cast("bigint").alias("true_cnt"),
            (F.col("true_cnt") - F.col("mg_est"))
            .cast("bigint")
            .alias("undercount"),
            F.col("err_bound").cast("bigint").alias("err_bound"),
            (
                (F.col("true_cnt") - F.col("mg_est") >= 0)
                & (F.col("true_cnt") - F.col("mg_est") <= F.col("err_bound"))
            ).alias("within_bound"),
        )
        .orderBy(F.desc("mg_est"), "token")
    )


def _mg_sql() -> str:
    from ..functions import text

    return f"""
WITH toks AS (
  SELECT CAST(doc_id % {_MG_SHARDS} AS INT) AS shard,
         unnest({text.tokens_sql('text')}) AS token
  FROM documents
),
counts AS (
  SELECT shard, token, COUNT(*) AS cnt FROM toks GROUP BY shard, token
),
ranked AS (
  SELECT shard, token, cnt,
         ROW_NUMBER() OVER (PARTITION BY shard ORDER BY cnt DESC, token) AS rn
  FROM counts
),
deltas AS (
  SELECT shard, cnt AS delta FROM ranked WHERE rn = {_MG_K + 1}
),
kept AS (
  SELECT r.token, r.cnt - COALESCE(d.delta, 0) AS mg
  FROM ranked r LEFT JOIN deltas d USING (shard)
  WHERE r.rn <= {_MG_K} AND r.cnt - COALESCE(d.delta, 0) > 0
),
merged AS (
  SELECT token, SUM(mg) AS m FROM kept GROUP BY token
),
ranked2 AS (
  SELECT token, m, ROW_NUMBER() OVER (ORDER BY m DESC, token) AS rn2
  FROM merged
),
bound AS (
  SELECT d2.delta2, sd.shard_deltas + d2.delta2 AS err_bound
  FROM (SELECT COALESCE(SUM(delta), 0) AS shard_deltas FROM deltas) sd
  CROSS JOIN (
    SELECT COALESCE(MAX(CASE WHEN rn2 = {_MG_K2 + 1} THEN m END), 0) AS delta2
    FROM ranked2
  ) d2
),
top AS (
  SELECT token, m - delta2 AS mg_est, err_bound
  FROM ranked2 CROSS JOIN bound
  WHERE rn2 <= {_MG_K2} AND m - delta2 > 0
  ORDER BY mg_est DESC, token LIMIT {_MG_TOPK}
),
exact AS (
  SELECT token, COUNT(*) AS true_cnt FROM toks
  WHERE token IN (SELECT token FROM top)
  GROUP BY token
)
SELECT token,
  CAST(mg_est AS BIGINT) AS mg_est,
  CAST(true_cnt AS BIGINT) AS true_cnt,
  CAST(true_cnt - mg_est AS BIGINT) AS undercount,
  CAST(err_bound AS BIGINT) AS err_bound,
  (true_cnt - mg_est >= 0 AND true_cnt - mg_est <= err_bound) AS within_bound
FROM top JOIN exact USING (token)
ORDER BY mg_est DESC, token
"""


SKETCH_MG_SQL = _mg_sql()


register(
    QuerySpec(
        "sketch_mg_heavyhitters",
        sketch_mg_heavyhitters,
        SKETCH_MG_SQL,
        ("SK7",),
        doc=(
            "mergeable Misra-Gries heavy hitters: never overestimates, "
            "exported undercount bound"
        ),
    )
)


# ---------------------------------------------------------------------------
# sketch_ams_f2 — AMS "tug-of-war" second-moment sketch (Alon, Matias,
# Szegedy, STOC'96): estimate F2 = sum_t f_t^2 of the token stream — the
# SELF-JOIN SIZE of the token column, the statistic a query optimizer
# needs to size an equi-join and a dedup planner needs to predict how many
# candidate pairs a key will generate. Completes the sketch family:
# cardinality (HLL/KMV) + frequency (CMS/MG) + quantiles (histogram) +
# now frequency MOMENTS.
#
# Estimator r keeps ONE counter S_r = sum over tokens of s_r(token) where
# s_r in {-1,+1} is a 4-wise-independent sign (AMS's variance bound
# Var(S^2) <= 2*F2^2 requires 4-wise; a pair-wise family is not enough).
# E[S_r^2] = F2 exactly. The sign comes from a degree-3 polynomial over
# Z_P (P = 2^31-1), with each PRODUCT reduced mod P: x2 = x*x mod P,
# x3 = x2*x mod P, h = (c3*x3 + c2*x2 + c1*x + c0) mod P, sign =
# 1 - 2*(h mod 2). Bound (ADVICE r7 correction): each product is < 2^62,
# but the un-reduced 4-term SUM can reach ~3*2^61 (≈ 2^62.6) — still
# comfortably inside int64 (< 2^63), with no room for a fifth term
# without reducing mod P after each addition. Coefficients
# are drawn from the documented MINHASH_PERMS constants (estimator r takes
# (c1,c0) from perm r and (c3,c2) from perm r+3 mod 8) so both engines
# inline identical literals.
#
# The export combines the _AMS_D = 8 estimates with the averaged-middle
# median (X_(4)+X_(5))/2 — measured rel-err 0.09-0.22 across all three
# test scales (the lower-median and the plain mean were 2-4x worse: X =
# S^2 is right-skewed, the median must average the middle pair). The
# median SUM X_(4)+X_(5) is exported as the exact integer cell
# `ams_est2x` (DECIMAL(19,0)^2 -> DECIMAL(38,0) interior, exact to
# |S| <= 1e19 tokens), and rel_err is ONE division of two exact integers,
# |est2x - 2*F2| / (2*F2) — the verify-recipe idiom that keeps the value
# hash stable. band_ok asserts rel_err <= 0.35: the hashes are fixed so
# the flag is deterministic, and doc-replication scaling multiplies every
# f_t by k, hence S_r by k and F2 by k^2 — rel_err is replication-
# INVARIANT, so the band holds on the 6M/60M-row replicas by construction.
#
# Scale shape: the sketch side is ONE global aggregate with 8 integer
# counters — partial aggregation combines map-side, so 1000 executors ship
# 8 numbers each regardless of corpus size, and merging shards is integer
# addition (the mergeable-summary property, same algebra as the CMS/MG
# shard tests). The exact-F2 pass (groupBy token, sum c^2) exists ONLY to
# export the error column — vocabulary-bounded like every other truth
# harness in this module (HLL's exact_distinct, CMS's per-probe counts).
# ---------------------------------------------------------------------------
_AMS_D = 8
_AMS_BAND = 0.35


def _ams_coeffs(r: int) -> tuple[int, int, int, int]:
    from ..functions import hashing

    c1, c0 = hashing.MINHASH_PERMS[r]
    c3, c2 = hashing.MINHASH_PERMS[(r + 3) % len(hashing.MINHASH_PERMS)]
    return c3, c2, c1, c0


def _ams_sign(x: F.Column, r: int) -> F.Column:
    from ..functions import hashing

    P = hashing.MERSENNE_P
    c3, c2, c1, c0 = _ams_coeffs(r)
    x2 = (x * x) % P
    x3 = (x2 * x) % P
    h = (x3 * c3 + x2 * c2 + x * c1 + c0) % P
    return (F.lit(1) - (h % 2) * 2).cast("long")


def sketch_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import hashing

    # token stream off the shared cached token index (round-11 scan
    # census: 2 documents scans from the sketch/exact branches)
    hx = (
        _token_postings(spark, sf_dir)
        .filter(F.col("term").isNotNull())
        .select(
            F.col("term").alias("token"),
            hashing.poly_hash(F.col("term")).alias("x"),
        )
    )

    sums = hx.agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        *[
            F.sum(_ams_sign(F.col("x"), r)).cast("decimal(19,0)").alias(f"s{r}")
            for r in range(_AMS_D)
        ],
    )
    xs = F.array_sort(
        F.array(
            *[
                (F.abs(F.col(f"s{r}")) * F.abs(F.col(f"s{r}")))
                .cast("decimal(38,0)")
                for r in range(_AMS_D)
            ]
        )
    )
    est = sums.select(
        "n_tokens",
        (
            F.element_at(xs, _AMS_D // 2) + F.element_at(xs, _AMS_D // 2 + 1)
        ).cast("decimal(38,0)").alias("est2x"),
    )
    # truth in the TOKEN domain, not the hash domain (KMV lesson: a
    # poly_hash collision must not silently merge two tokens' counts)
    exact = (
        hx.groupBy("token")
        .agg(F.count("*").cast("decimal(19,0)").alias("c"))
        .agg(
            F.sum((F.col("c") * F.col("c")).cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias("f2")
        )
    )
    joined = est.crossJoin(F.broadcast(exact))
    rel = F.round(
        F.abs(
            F.col("est2x").cast("double") - F.lit(2.0) * F.col("f2").cast("double")
        )
        / (F.lit(2.0) * F.col("f2").cast("double")),
        6,
    )
    return joined.select(
        "n_tokens",
        F.col("f2").cast("bigint").alias("f2_exact"),
        F.col("est2x").cast("bigint").alias("ams_est2x"),
        rel.alias("rel_err"),
        (rel <= F.lit(_AMS_BAND)).alias("band_ok"),
    )


def _ams_sql() -> str:
    from ..functions import hashing, text

    P = hashing.MERSENNE_P
    sign_sums = []
    for r in range(_AMS_D):
        c3, c2, c1, c0 = _ams_coeffs(r)
        s = (
            f"(1 - 2 * ((((x*x) % {P}) * x % {P} * {c3}"
            f" + ((x*x) % {P}) * {c2} + x * {c1} + {c0}) % {P} % 2))"
        )
        sign_sums.append(f"CAST(SUM({s}) AS DECIMAL(19,0)) AS s{r}")
    squares = ", ".join(
        f"CAST(abs(s{r}) * abs(s{r}) AS DECIMAL(38,0))" for r in range(_AMS_D)
    )
    return f"""
WITH toks AS (
  SELECT unnest({text.tokens_sql('text')}) AS token FROM documents
),
hx AS (
  SELECT token, {hashing.poly_hash_sql('token')} AS x FROM toks
),
sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens, {', '.join(sign_sums)} FROM hx
),
est AS (
  SELECT n_tokens,
    CAST(
      list_sort([{squares}])[{_AMS_D // 2}]
      + list_sort([{squares}])[{_AMS_D // 2 + 1}]
      AS DECIMAL(38,0)) AS est2x
  FROM sums
),
exact AS (
  SELECT CAST(SUM(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS f2
  FROM (SELECT COUNT(*) AS c FROM hx GROUP BY token)
)
SELECT n_tokens,
  CAST(f2 AS BIGINT) AS f2_exact,
  CAST(est2x AS BIGINT) AS ams_est2x,
  ROUND(ABS(CAST(est2x AS DOUBLE) - 2.0 * CAST(f2 AS DOUBLE))
        / (2.0 * CAST(f2 AS DOUBLE)), 6) AS rel_err,
  ROUND(ABS(CAST(est2x AS DOUBLE) - 2.0 * CAST(f2 AS DOUBLE))
        / (2.0 * CAST(f2 AS DOUBLE)), 6) <= {_AMS_BAND} AS band_ok
FROM est CROSS JOIN exact
"""


SKETCH_AMS_SQL = _ams_sql()


register(
    QuerySpec(
        "sketch_ams_f2",
        sketch_ams_f2,
        SKETCH_AMS_SQL,
        ("SK8",),
        doc=(
            "AMS tug-of-war F2 (self-join size) sketch: 8 one-counter sign "
            "estimators, averaged-middle median, exact-integer error cell"
        ),
    )
)


# ---------------------------------------------------------------------------
# sketch_cms_heavy_changers — heavy CHANGE detection between two corpus
# halves via a pair of Count-Min sketches: build one CMS per half
# (doc_id parity — the deterministic stand-in for yesterday/today), read
# every candidate token's estimate out of BOTH sketches, and export the
# top movers by absolute estimated change with the exact per-half counts
# alongside (the evaluation harness, same as sketch_cms_manual). This is
# the drift-triage op a feed-monitoring pipeline runs: "which tokens
# surged or collapsed between snapshots" without ever materializing the
# full vocabulary count table twice.
#
# Scale shape: the token stream comes off the shared cached token index
# (one corpus scan+tokenize for the sketches AND the exact pass); the
# counter table is 2·d·w = bounded rows, broadcast; candidate probes are
# a broadcast join; top-k is TakeOrderedAndProject. Exact integers
# everywhere.
# ---------------------------------------------------------------------------
_CHG_TOPK = 15


def sketch_cms_heavy_changers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # token stream rolled up ONCE into a pinned (half, token, x, cnt)
    # count table (round 15, guide §2.3/§5 — the sketch_cms_manual
    # restructure at per-half grain): the two per-half counter builds,
    # the vocabulary dedup, and the exact-evaluation pass each re-read
    # the full token stream — and re-ran the char-level poly_hash — as
    # separate subtrees. All are derivable from the rollup: counters as
    # cnt-weighted sums, vocabulary as the distinct (token, x) keys,
    # exact per-half counts as cnt-weighted conditional sums. One stream
    # pass; everything downstream is vocabulary-bounded. The cache entry
    # is matched by plan and reused for the rest of the session (a re-run
    # after the input files changed at the same path reads the cached
    # rows).
    postings = _token_postings(spark, sf_dir).withColumn(
        "half", (F.col("doc_id") % 2).cast("int")
    )
    tf = _cms_token_counts(postings, "half")
    counters = _cms_counters(tf, "half")
    halves = spark.createDataFrame([(0,), (1,)], "half int")
    cand = _cms_probes(tf.select("token", "x").distinct())
    est = (
        cand.crossJoin(F.broadcast(halves))
        .join(F.broadcast(counters), ["half", "r", "col"], "left")
        .groupBy("token", "half")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )
    piv = est.groupBy("token").agg(
        F.max(F.when(F.col("half") == 0, F.col("est"))).alias("est0"),
        F.max(F.when(F.col("half") == 1, F.col("est"))).alias("est1"),
    )
    top = (
        piv.withColumn("change_est", F.col("est1") - F.col("est0"))
        .orderBy(F.abs(F.col("change_est")).desc(), F.asc("token"))
        .limit(_CHG_TOPK)
    )
    exact = (
        tf.join(F.broadcast(top.select("token")), "token")
        .groupBy("token")
        .agg(
            F.sum(F.when(F.col("half") == 0, F.col("cnt")).otherwise(0))
            .cast("long")
            .alias("true0"),
            F.sum(F.when(F.col("half") == 1, F.col("cnt")).otherwise(0))
            .cast("long")
            .alias("true1"),
        )
    )
    return (
        top.join(exact, "token")
        .select(
            "token",
            F.col("est0").cast("bigint").alias("est0"),
            F.col("est1").cast("bigint").alias("est1"),
            F.col("change_est").cast("bigint").alias("change_est"),
            "true0",
            "true1",
            (F.col("true1") - F.col("true0")).cast("bigint").alias("change_true"),
        )
        .orderBy(F.abs(F.col("change_est")).desc(), F.asc("token"))
    )


def _cms_changers_sql() -> str:
    from ..functions import hashing, text

    return f"""
WITH toks AS (
  SELECT doc_id % 2 AS half, unnest({text.tokens_sql('text')}) AS token
  FROM documents
),
hx AS (
  SELECT half, token, {hashing.poly_hash_sql('token')} AS x FROM toks
),
cells AS (
  {_cms_cells_sql("half, ", "hx")}
),
counters AS (
  SELECT half, r, col, COUNT(*) AS cnt FROM cells GROUP BY half, r, col
),
vocab AS (
  SELECT DISTINCT token, x FROM hx
),
cand AS (
  {_cms_cells_sql("token, ", "vocab")}
),
halves AS (SELECT 0 AS half UNION ALL SELECT 1 AS half),
est AS (
  SELECT token, halves.half, MIN(COALESCE(cnt, 0)) AS est
  FROM cand
  CROSS JOIN halves
  LEFT JOIN counters
    ON counters.half = halves.half
   AND counters.r = cand.r AND counters.col = cand.col
  GROUP BY token, halves.half
),
piv AS (
  SELECT token,
    MAX(CASE WHEN half = 0 THEN est END) AS est0,
    MAX(CASE WHEN half = 1 THEN est END) AS est1
  FROM est GROUP BY token
),
top AS (
  SELECT token, est0, est1, est1 - est0 AS change_est
  FROM piv
  ORDER BY ABS(est1 - est0) DESC, token LIMIT {_CHG_TOPK}
),
exact AS (
  SELECT token,
    SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS true0,
    SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS true1
  FROM hx
  WHERE token IN (SELECT token FROM top)
  GROUP BY token
)
SELECT top.token,
  CAST(est0 AS BIGINT) AS est0,
  CAST(est1 AS BIGINT) AS est1,
  CAST(change_est AS BIGINT) AS change_est,
  CAST(true0 AS BIGINT) AS true0,
  CAST(true1 AS BIGINT) AS true1,
  CAST(true1 - true0 AS BIGINT) AS change_true
FROM top JOIN exact USING (token)
ORDER BY ABS(change_est) DESC, top.token
"""


SKETCH_CMS_CHANGERS_SQL = _cms_changers_sql()


register(
    QuerySpec(
        "sketch_cms_heavy_changers",
        sketch_cms_heavy_changers,
        SKETCH_CMS_CHANGERS_SQL,
        ("SK9",),
        doc="heavy-change detection: per-half Count-Min sketches, top movers by |estimated delta| with exact eval",
    )
)


# ---------------------------------------------------------------------------
# sketch_hdr_quantiles — log2-bucket (HDR-histogram-style) quantile sketch.
#
# sketch_quantile_manual bounds ABSOLUTE error (fixed $1000 buckets): fine
# when the value range is known, useless when it spans decades (a $100
# metric and a $10M metric cannot share a width). The HDR shape bounds
# RELATIVE error instead: bucket = bit length of the integer cents (=
# floor(log2)+1), so every bucket's width is <= its own lower bound and
# the midpoint estimate is within 50% relative error per bucket —
# constant-size (<= 64 cells) mergeable state over ANY dynamic range,
# partial-aggregated map-side, the same shape HdrHistogram/DDSketch use
# in production latency pipelines. All bucket math is integer bit
# arithmetic (length(bin(x)) / shiftleft — verified identical in Spark
# and DuckDB), so the twin is bit-exact with no float log anywhere.
#
# For each p in {50, 95, 99}: target rank = (p*n + 99) DIV 100 (integer
# ceil), the answer is the first bucket whose cumulative count reaches
# the target; exported as exact integers (bucket bounds, midpoint,
# counts). The only unpartitioned window runs over the <= 64-row bucket
# census. No reference counterpart (reference has no quantile surface);
# scale role: order statistics at 100 TB without sorting anything.
# ---------------------------------------------------------------------------
_HDR_PS = (50, 95, 99)


def sketch_hdr_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = read_table(spark, sf_dir, "orders")
    census = (
        orders.select(
            F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias("cents")
        )
        .filter(F.col("cents") > 0)
        .select(F.expr("CAST(length(bin(cents)) AS BIGINT)").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    # both windows run over the SAME <=64-row census frame (one scan, one
    # branch): the cumulative count, and the whole-frame total that the
    # target ranks need — a second branch (census.agg) would re-plan the
    # orders scan
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = census.withColumn("cum", F.sum("n").over(w)).withColumn(
        "total", F.sum("n").over(w_all).cast("bigint")
    )
    qs = spark.createDataFrame([(int(p),) for p in _HDR_PS], "q_pct bigint")
    cand = (
        cum.crossJoin(F.broadcast(qs))
        .withColumn(
            "target_rank", F.expr("(q_pct * total + 99) DIV 100")
        )
        .filter(F.col("cum") >= F.col("target_rank"))
    )
    pick = cand.groupBy("q_pct", "total", "target_rank").agg(
        F.min("bucket").alias("bucket"),
        F.min_by("n", "bucket").alias("bucket_count"),
        F.min_by("cum", "bucket").alias("cum_count"),
    )
    return pick.select(
        "q_pct",
        "total",
        "target_rank",
        "bucket",
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bucket - 1 AS INT))").alias(
            "bucket_lo"
        ),
        F.expr(
            "shiftleft(CAST(1 AS BIGINT), CAST(bucket AS INT)) - 1"
        ).alias("bucket_hi"),
        F.expr(
            "(shiftleft(CAST(1 AS BIGINT), CAST(bucket - 1 AS INT))"
            " + shiftleft(CAST(1 AS BIGINT), CAST(bucket AS INT)) - 1) DIV 2"
        ).alias("est_mid"),
        "bucket_count",
        "cum_count",
    ).orderBy("q_pct")


SKETCH_HDR_SQL = f"""
WITH census AS (
  SELECT CAST(length(bin(cents)) AS BIGINT) AS bucket,
    CAST(COUNT(*) AS BIGINT) AS n
  FROM (
    SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders
  ) WHERE cents > 0
  GROUP BY 1
),
cum AS (
  SELECT bucket, n,
    CAST(SUM(n) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS BIGINT)
      AS cum
  FROM census
),
total AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM census),
targets AS (
  SELECT q_pct, total, (q_pct * total + 99) // 100 AS target_rank
  FROM (SELECT CAST(unnest({list(_HDR_PS)}) AS BIGINT) AS q_pct)
  CROSS JOIN total
),
pick AS (
  SELECT q_pct, total, target_rank,
    MIN(bucket) AS bucket,
    arg_min(n, bucket) AS bucket_count,
    arg_min(cum, bucket) AS cum_count
  FROM cum CROSS JOIN targets
  WHERE cum >= target_rank
  GROUP BY 1, 2, 3
)
SELECT q_pct, total, target_rank, bucket,
  (CAST(1 AS BIGINT) << CAST(bucket - 1 AS INT)) AS bucket_lo,
  (CAST(1 AS BIGINT) << CAST(bucket AS INT)) - 1 AS bucket_hi,
  ((CAST(1 AS BIGINT) << CAST(bucket - 1 AS INT))
   + (CAST(1 AS BIGINT) << CAST(bucket AS INT)) - 1) // 2 AS est_mid,
  bucket_count, cum_count
FROM pick
ORDER BY q_pct
"""


register(
    QuerySpec(
        "sketch_hdr_quantiles",
        sketch_hdr_quantiles,
        SKETCH_HDR_SQL,
        ("SK10",),
        doc="HDR-style log2-bucket quantile sketch: bounded RELATIVE error, <=64-cell mergeable state, integer-exact twin",
    )
)


# --------------------------------------------------------------------------
# Hilbert-curve layout: the same (price bucket, order month) 4-bit dims as
# layout_zorder_clustering, keyed by the Hilbert curve index instead of the
# bit interleave. Hilbert is what Delta's liquid clustering and Iceberg's
# hilbert-ordering use in place of Z-order: consecutive keys are ALWAYS
# Manhattan-adjacent cells (no Z-shaped jumps), so every run of rows maps
# to a tighter bounding box and file skipping prunes more. The xy2d walk
# (4 unrolled rounds of the standard rotate-and-accumulate recurrence) is
# spelled in pure nonnegative integer arithmetic — (x DIV s) % 2 for the
# bit test, CASE for the quadrant rotation — so both engines agree
# bit-exact (the n-1-x rotation variant keeps x, y in [0, 16) at every
# round; the classic s-1-x form goes negative mid-walk, where SQL DIV/%
# and two's-complement & diverge). tests/test_sketches.py pins the
# bijection AND the adjacency property on all 256 cells — the property
# Z-order provably lacks.
# --------------------------------------------------------------------------
_HILBERT_N = 2**_ZBITS  # 16x16 grid, key in [0, 256)


def _hilbert_rounds(div: str) -> list[tuple[str, str, str]]:
    """Per-round (d_term, new_x, new_y) SQL snippets over columns
    ``x``/``y``; ``div`` is the engine's integer-division token."""
    out = []
    n = _HILBERT_N
    for k in range(_ZBITS - 1, -1, -1):
        s = 2**k
        rx = f"((x {div} {s}) % 2)"
        ry = f"((y {div} {s}) % 2)"
        d_term = f"{s * s} * (3 * {rx} + {ry} - 2 * {rx} * {ry})"
        new_x = (
            f"CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1 "
            f"THEN {n - 1} - y ELSE y END) ELSE x END"
        )
        new_y = (
            f"CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1 "
            f"THEN {n - 1} - x ELSE x END) ELSE y END"
        )
        out.append((d_term, new_x, new_y))
    return out


def layout_hilbert_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert sort key over (price bucket, order month) with the same
    locality stats as the Z-order twin: per-key run extents, whose spread
    is what the writer's file-skipping benefit depends on. At scale the
    key feeds ``repartitionByRange("h_key").sortWithinPartitions("h_key")``
    before the parquet write, exactly like the Z-order layout."""
    cur = _layout_buckets(spark, sf_dir).select(
        F.lit(0).cast("bigint").alias("d"),
        F.col("price_bucket").alias("x"),
        F.col("month_bucket").alias("y"),
        "price_bucket",
        "month_bucket",
    )
    for d_term, new_x, new_y in _hilbert_rounds("DIV"):
        cur = cur.select(
            (F.col("d") + F.expr(d_term)).alias("d"),
            F.expr(new_x).alias("x"),
            F.expr(new_y).alias("y"),
            "price_bucket",
            "month_bucket",
        )
    keyed = cur.select(F.col("d").alias("h_key"), "price_bucket", "month_bucket")
    return _layout_stats(keyed, "h_key")


def _hilbert_sql() -> str:
    ctes = [
        """r0 AS (
  SELECT price_bucket AS x, month_bucket AS y, CAST(0 AS BIGINT) AS d,
    price_bucket, month_bucket
  FROM bucketed
)"""
    ]
    for i, (d_term, new_x, new_y) in enumerate(_hilbert_rounds("//")):
        ctes.append(
            f"""r{i + 1} AS (
  SELECT d + {d_term} AS d,
    {new_x} AS x,
    {new_y} AS y,
    price_bucket, month_bucket
  FROM r{i}
)"""
        )
    return f"""
WITH {_LAYOUT_BUCKETS_SQL}, {", ".join(ctes)}
SELECT d AS h_key,
  {_LAYOUT_STATS_SQL}
FROM r{_ZBITS}
GROUP BY d
ORDER BY d
"""


LAYOUT_HILBERT_SQL = _hilbert_sql()


register(
    QuerySpec(
        "layout_hilbert_clustering",
        layout_hilbert_clustering,
        LAYOUT_HILBERT_SQL,
        ("O1",),
        doc="Hilbert-curve sort key for two-dimension file pruning: adjacency-preserving alternative to the Z-order interleave",
    )
)
