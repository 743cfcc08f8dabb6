"""Tests for the approximate-sketch and z-order layout queries.

The registry oracle pins the cross-engine contract (exact statistic +
error-band verdict); these tests pin the semantics the oracle can't see:
the band flag actually flips on a violated contract, the interleave is a
true bijection, and a z-sorted write produces per-file footer stats that
prune on both dimensions.
"""

import pyspark.sql.functions as F
from pyspark.sql import Row

from tests.conftest import SF_SMALL
from walmart_retail_pyspark_sqlite_pipeline_spark.operators.layout import _interleave
from walmart_retail_pyspark_sqlite_pipeline_spark.plans.sketches import (
    _ZBITS,
    layout_zorder_clustering,
    sketch_approx_distinct,
    sketch_approx_quantile,
    sketch_cms_heavy_changers,
    sketch_hdr_quantiles,
)


def test_hll_within_band_on_testdata(spark):
    rows = sketch_approx_distinct(spark, SF_SMALL).collect()
    assert rows and all(r.hll_ok for r in rows)
    assert all(r.exact_users > 0 for r in rows)


def test_quantile_within_band_on_testdata(spark):
    rows = sketch_approx_quantile(spark, SF_SMALL).collect()
    assert rows and all(r.quantile_ok for r in rows)


def test_band_flag_flips_on_violation(spark):
    """The *_ok flag is a real assertion: shrink the band to ~0 against a
    deliberately coarse sketch (rsd=0.35 HLL, near Spark's 39% cap) and it
    must go false for at
    least one group — proving a broken sketch cannot pass silently."""
    events = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    agg = events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact"),
        F.approx_count_distinct("user_id", rsd=0.35).alias("approx"),
    )
    flags = [
        r.ok
        for r in agg.select(
            (F.abs(F.col("approx") - F.col("exact")) <= F.lit(0)).alias("ok")
        ).collect()
    ]
    assert not all(flags)


def test_interleave_is_bijective(spark):
    """All 256 (hi, lo) 4-bit pairs map to 256 distinct z keys in [0, 256)."""
    n = 2**_ZBITS
    pairs = spark.range(n * n).select(
        (F.col("id") / n).cast("bigint").alias("hi"),
        (F.col("id") % n).cast("bigint").alias("lo"),
    )
    zs = [
        r.z
        for r in pairs.select(
            _interleave(F.col("hi"), F.col("lo"), bits=_ZBITS).alias("z")
        ).collect()
    ]
    assert sorted(zs) == list(range(n * n))


def test_zorder_runs_are_locally_bounded(spark):
    """Within one z key both bucket extents are a single value (the key
    determines both coordinates exactly) — the property that makes file
    min/max stats tight after a z-ordered write."""
    rows = layout_zorder_clustering(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert r.pb_min == r.pb_max
        assert r.mb_min == r.mb_max
        assert 0 <= r.z_key < 4**_ZBITS


def test_zorder_query_agrees_with_layout_operator(spark):
    """The oracle-graded query's z-key is the Morton code of
    `operators.layout._interleave`: the interleave is a bijection, so each
    z-run holds one (price, month) bucket pair and re-interleaving its
    buckets gives back the query's key."""
    rows = layout_zorder_clustering(spark, SF_SMALL)
    recomputed = rows.select(
        "z_key",
        _interleave(F.col("pb_min"), F.col("mb_min"), bits=_ZBITS).alias("z2"),
    )
    assert recomputed.filter(F.col("z_key") != F.col("z2")).count() == 0


def test_manual_hll_estimate_lands_near_exact(spark):
    """The from-scratch HLL (m=256, ~6.5% standard error) must land within
    3 standard errors of the exact count on the real table, and its
    register math must leave no bucket with rho outside [1, 24]."""
    from tests.conftest import SF_SMALL
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.sketches import (
        sketch_hll_manual,
    )

    rows = sketch_hll_manual(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert abs(r.rel_err) < 3 * 1.04 / (256 ** 0.5), (
            r.event_type, r.hll_estimate, r.exact_distinct)
        assert r.hll_estimate > 0
        assert 0 <= r.n_empty_buckets <= 256


def test_cms_never_underestimates_and_finds_heavy_hitter(spark):
    """CMS one-sided error: every estimate >= true count. A planted token
    occurring far more than anything else must surface as the top probe
    with estimate >= its true frequency."""
    import tempfile

    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.sketches import (
        sketch_cms_manual,
    )

    rows = [(i, "heavy " * 10 + f"rare{i} tail{i % 7}", "en", "s", 0)
            for i in range(40)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
        out = sketch_cms_manual(spark, d).collect()
    assert out, "no probe rows"
    assert all(r.overest >= 0 for r in out), out
    assert all(r.cms_est >= r.true_cnt for r in out), out
    top = out[0]
    assert top.token == "heavy" and top.true_cnt == 400, top


def test_quantile_histogram_error_bounded_by_half_bucket(spark):
    """The histogram-quantile estimate must sit within B/2 of the exact
    discrete quantile for every group and percentile — the construction's
    stated contract, checked on the real orders table."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.sketches import (
        _QSK_B,
        sketch_quantile_manual,
    )

    rows = sketch_quantile_manual(spark, SF_SMALL).collect()
    assert rows, "no groups"
    for r in rows:
        for p in (50, 90, 99):
            assert r[f"abs_err_q{p}"] <= _QSK_B // 2, (r, p)
            assert r[f"exact_q{p}"] > 0
        assert r.exact_q50 <= r.exact_q90 <= r.exact_q99


def test_kmv_small_sets_are_exact_and_estimators_track_planted_overlap(spark):
    """KMV small-set convention: when a side holds fewer than k distinct
    hashes the sketch IS the set and every estimate must equal the exact
    count — a sharp deterministic contract. A second corpus with >k tokens
    per side checks the estimators land within the KMV error envelope."""
    import tempfile

    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.sketches import (
        _KMV_K,
        sketch_kmv_intersection,
    )

    def run(rows):
        df = spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        with tempfile.TemporaryDirectory() as d:
            df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
            return sketch_kmv_intersection(spark, d).collect()[0]

    # small sets: even docs hold tokens s0..s19, odd docs s10..s29
    small = [
        (0, " ".join(f"s{i}" for i in range(20)), "en", "a", 0),
        (1, " ".join(f"s{i}" for i in range(10, 30)), "en", "a", 0),
    ]
    r = run(small)
    assert (r.exact_a, r.exact_b, r.exact_inter, r.exact_union) == (20, 20, 10, 30)
    assert (r.est_a, r.est_b, r.est_union) == (20, 20, 30)
    # rho counts sketch values on both sides; with everything in-sketch
    # (ku = 30 < k) the ku-denominator estimators are exact too
    assert r.rho == 10 and r.ku == 30 and r.est_inter == 10
    assert r.jaccard_est_ppm == 333_333
    assert r.jaccard_exact_ppm == 333_333

    # big sets: 400 tokens per side, 200 shared -> estimators approximate
    big = [
        (0, " ".join(f"t{i}" for i in range(400)), "en", "a", 0),
        (1, " ".join(f"t{i}" for i in range(200, 600)), "en", "a", 0),
    ]
    r = run(big)
    assert (r.exact_a, r.exact_b, r.exact_inter, r.exact_union) == (
        400, 400, 200, 600,
    )
    # KMV k=64: sigma ~ |S|/sqrt(k-2) ~ 13% rel; assert a generous 3-sigma
    for est, exact in ((r.est_a, 400), (r.est_b, 400), (r.est_union, 600)):
        assert abs(est - exact) < 0.4 * exact, (est, exact)
    assert abs(r.est_inter - 200) < 0.5 * 200 + 40, r.est_inter
    assert abs(r.jaccard_est_ppm - 333_333) < 200_000, r.jaccard_est_ppm


def test_cms_and_kmv_states_are_mergeable_across_shards(spark):
    """The 100 TB claim for both sketches is that per-executor partial
    states combine losslessly: CMS counters are sums (shard-wise counter
    tables added cell-wise must equal the full-corpus counters), and a
    KMV sketch of a union is computable from the per-shard k-minima alone
    (k smallest of the union of shard sketches == k smallest of the full
    hash set). Verified directly on the sf0.001 documents corpus split
    into two arbitrary shards."""
    from pyspark.sql import functions as F

    from walmart_retail_pyspark_sqlite_pipeline_spark.functions import (
        hashing,
        text,
    )
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.sketches import (
        _CMS_D,
        _CMS_W,
        _KMV_K,
    )
    from walmart_retail_pyspark_sqlite_pipeline_spark.sources import read_table

    docs = read_table(spark, SF_SMALL, "documents")
    hx = docs.select(
        (F.col("doc_id") % 3 == 0).alias("shard_a"),
        F.explode(text.tokens(F.col("text"))).alias("token"),
    ).select(
        "shard_a", hashing.poly_hash(F.col("token")).alias("x")
    )

    def cms_cells(df):
        cells = df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("r"),
                            (
                                (
                                    F.col("x") * hashing.MINHASH_PERMS[r][0]
                                    + hashing.MINHASH_PERMS[r][1]
                                )
                                % hashing.MERSENNE_P
                                % _CMS_W
                            ).alias("col"),
                        )
                        for r in range(_CMS_D)
                    ]
                )
            ).alias("c")
        ).select("c.r", "c.col")
        return {
            (row.r, row.col): row.cnt
            for row in cells.groupBy("r", "col")
            .agg(F.count("*").alias("cnt"))
            .collect()
        }

    full = cms_cells(hx)
    shard_a = cms_cells(hx.filter("shard_a"))
    shard_b = cms_cells(hx.filter("NOT shard_a"))
    merged = dict(shard_a)
    for k, v in shard_b.items():
        merged[k] = merged.get(k, 0) + v
    assert merged == full  # CMS merge = cell-wise addition, lossless

    # KMV: k smallest of (k smallest of A) ∪ (k smallest of B) ==
    # k smallest of A ∪ B
    distinct = hx.select("shard_a", "x").distinct()
    def kmins(df):
        return sorted(r.x for r in df.select("x").distinct().collect())[:_KMV_K]
    full_k = kmins(distinct)
    merged_k = sorted(
        set(kmins(distinct.filter("shard_a")))
        | set(kmins(distinct.filter("NOT shard_a")))
    )[:_KMV_K]
    assert merged_k == full_k


def test_mg_planted_undercount_is_exactly_the_reduction_offset(spark):
    """Misra-Gries one-sided error, planted sharply: a shard holding one
    heavy token plus 200 singleton fillers has its (K+1)-th largest count
    equal to 1, so the heavy token's estimate must undercount by EXACTLY
    that reduction offset (err_bound = 1); a second shard with fewer than
    K distinct tokens must come through exact. Never overestimates,
    anywhere."""
    import tempfile

    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.sketches import (
        _MG_SHARDS,
        sketch_mg_heavyhitters,
    )

    fillers = " ".join(f"filler{i:03d}" for i in range(200))
    rows = [
        (0, ("heavy " * 100) + fillers, "en", "s", 0),        # shard 0
        (1, "medium " * 50, "en", "s", 0),                    # shard 1
    ]
    assert rows[1][0] % _MG_SHARDS != rows[0][0] % _MG_SHARDS
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
        out = {r.token: r for r in sketch_mg_heavyhitters(spark, d).collect()}
    assert all(r.undercount >= 0 for r in out.values()), out      # never over
    assert all(r.within_bound for r in out.values()), out
    heavy = out["heavy"]
    # shard 0 rank-65 count is 1 (a filler), so delta_0 = 1; only two tokens
    # survive the merge, so delta2 = 0 and err_bound = delta_0 = 1
    assert heavy.true_cnt == 100 and heavy.mg_est == 99, heavy
    assert heavy.err_bound == 1 and heavy.undercount == 1, heavy
    medium = out["medium"]                                        # < K distinct
    assert medium.true_cnt == 50 and medium.mg_est == 50, medium
    assert medium.undercount == 0, medium


def test_mg_summaries_merge_across_shards_without_breaking_the_bound(spark):
    """Mergeable-summaries algebra on the real table: the exported bound
    must hold for every row, the estimates must be positive and sorted, and
    any token whose true count exceeds err_bound must appear in the summary
    (the classic MG heavy-hitter guarantee)."""
    from tests.conftest import SF_SMALL
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.sketches import (
        sketch_mg_heavyhitters,
    )

    rows = sketch_mg_heavyhitters(spark, SF_SMALL).collect()
    assert rows, "no heavy hitters"
    ests = [r.mg_est for r in rows]
    assert ests == sorted(ests, reverse=True)
    bound = rows[0].err_bound
    for r in rows:
        assert r.err_bound == bound            # one global constant
        assert 0 <= r.undercount <= bound, r
        assert r.mg_est > 0 and r.within_bound, r


def test_ams_single_token_stream_is_exact(spark):
    """A one-token stream makes every sign-sum S_r = ±k, so every estimator
    is exactly k^2 = F2 — the median must equal the truth, rel_err 0."""
    import tempfile

    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.sketches import (
        sketch_ams_f2,
    )

    df = spark.createDataFrame(
        [(0, "same " * 37, "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
        (r,) = sketch_ams_f2(spark, d).collect()
    assert r.n_tokens == 37
    assert r.f2_exact == 37 * 37
    assert r.ams_est2x == 2 * 37 * 37          # both middles are exact
    assert r.rel_err == 0.0 and r.band_ok


def test_ams_error_is_replication_invariant(spark):
    """Replicating every doc k times multiplies every token frequency by k,
    hence every sign-sum by k and both F2 and the estimate by k^2 — the
    relative error must be bit-identical. This is the argument that the
    exported band holds on the 6M/60M-row scaling replicas by construction."""
    import tempfile

    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.sketches import (
        sketch_ams_f2,
    )

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "pack my box with five dozen liquor jugs",
        "the five boxing wizards jump quickly over the fox",
    ]
    base = [(i, t, "en", "s", 0) for i, t in enumerate(texts)]
    k = 3
    repl = [
        (i * k + j, t, "en", "s", 0)
        for i, t in enumerate(texts)
        for j in range(k)
    ]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    out = []
    for rows in (base, repl):
        df = spark.createDataFrame(rows, schema)
        with tempfile.TemporaryDirectory() as d:
            df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
            out.append(sketch_ams_f2(spark, d).collect()[0])
    a, b = out
    assert b.n_tokens == k * a.n_tokens
    assert b.f2_exact == k * k * a.f2_exact
    assert b.ams_est2x == k * k * a.ams_est2x
    assert b.rel_err == a.rel_err


def test_ams_band_holds_on_testdata(spark):
    """The exported 0.35 band is deterministic (fixed hashes): it must hold
    on the real documents table, and the error cell must be self-consistent
    with its own exact integers."""
    from tests.conftest import SF_SMALL
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.sketches import (
        sketch_ams_f2,
    )

    (r,) = sketch_ams_f2(spark, SF_SMALL).collect()
    assert r.band_ok and r.rel_err <= 0.35
    assert r.f2_exact >= r.n_tokens            # sum c^2 >= sum c
    assert r.rel_err == round(
        abs(r.ams_est2x - 2 * r.f2_exact) / (2 * r.f2_exact), 6
    )


def test_cms_heavy_changers_estimates_dominate_truth(spark):
    rows = sketch_cms_heavy_changers(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        # CMS never underestimates a half's count
        assert r.est0 >= r.true0
        assert r.est1 >= r.true1
        assert r.change_est == r.est1 - r.est0
        assert r.change_true == r.true1 - r.true0
    # export is ordered by |estimated change| descending
    changes = [abs(r.change_est) for r in rows]
    assert changes == sorted(changes, reverse=True)


def test_hdr_quantiles_error_contract_on_planted_values(spark, tmp_path):
    """Planted value set with hand-computable quantiles: the chosen
    bucket must CONTAIN the exact discrete quantile (that is the sketch's
    whole contract), and the midpoint's relative error is < 50%."""
    sf = str(tmp_path)
    # 100 rows: 50 x $1.00 (100 cents, bucket 7), 45 x $10.00 (1000
    # cents, bucket 10), 5 x $1000.00 (100000 cents, bucket 17)
    vals = [1.0] * 50 + [10.0] * 45 + [1000.0] * 5
    spark.createDataFrame(
        [Row(o_orderkey=i, o_totalprice=v) for i, v in enumerate(vals)]
    ).write.parquet(f"{sf}/orders.parquet")
    got = {r.q_pct: r for r in sketch_hdr_quantiles(spark, sf).collect()}
    assert set(got) == {50, 95, 99}
    exact = {50: 100, 95: 1000, 99: 100000}  # cents at ceil(p*n/100)
    for p, cents in exact.items():
        r = got[p]
        assert r.bucket_lo <= cents <= r.bucket_hi, (p, cents, r)
        assert r.est_mid == (r.bucket_lo + r.bucket_hi) // 2
        # relative error bound of the log2 bucket midpoint
        assert abs(r.est_mid - cents) <= cents, (p, r)
        assert r.total == 100
        assert r.target_rank == (p * 100 + 99) // 100
        assert r.cum_count >= r.target_rank


def _xy2d_reference(n: int, x: int, y: int) -> int:
    """Pure-Python Hilbert xy2d, n-1-x rotation variant (stays in
    [0, n) every round — the form the SQL arithmetic mirrors)."""
    d, s = 0, n // 2
    while s > 0:
        rx = 1 if (x // s) % 2 else 0
        ry = 1 if (y // s) % 2 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = n - 1 - x, n - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_reference_walk_is_bijective_and_adjacent():
    """The property Z-order lacks: consecutive Hilbert keys are ALWAYS
    Manhattan-adjacent cells (no jumps), and the walk is a bijection."""
    n = 16
    cells = {_xy2d_reference(n, x, y): (x, y) for x in range(n) for y in range(n)}
    assert sorted(cells) == list(range(n * n))
    for d in range(n * n - 1):
        (x0, y0), (x1, y1) = cells[d], cells[d + 1]
        assert abs(x0 - x1) + abs(y0 - y1) == 1, (d, cells[d], cells[d + 1])


def test_hilbert_engine_key_matches_reference_walk(spark, tmp_path):
    """Planted orders covering every (price 0..15, month 1..12) cell:
    the engine's h_key must equal the reference walk cell-for-cell."""
    import datetime

    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.sketches import (
        layout_hilbert_clustering,
    )

    sf = str(tmp_path)
    rows = []
    k = 0
    for p in range(16):
        for m in range(1, 13):
            k += 1
            rows.append(
                Row(
                    o_orderkey=k,
                    o_totalprice=float(p),
                    o_orderdate=datetime.date(2024, m, 5),
                )
            )
    spark.createDataFrame(rows).write.parquet(f"{sf}/orders.parquet")
    got = layout_hilbert_clustering(spark, sf).collect()
    assert len(got) == 192  # 16 price x 12 month cells, one row each
    for r in got:
        assert r.n_rows == 1
        assert r.pb_min == r.pb_max and r.mb_min == r.mb_max
        assert r.h_key == _xy2d_reference(16, r.pb_min, r.mb_min), r
