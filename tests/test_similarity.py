"""Vector-similarity, ANN and embedding-statistics queries: the invariants
each one claims, checked on the test corpus and on planted vectors."""

import pyspark.sql.functions as F

from tests.conftest import SF_SMALL
from walmart_retail_pyspark_sqlite_pipeline_spark.functions import vectors
from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
    SIMHASH_HAM_MAX,
    _simhash64_index,
    dedup_simhash_hamming_pairs,
    embeddings_dim_clip_bounds,
    embeddings_whitening_stats,
)
from walmart_retail_pyspark_sqlite_pipeline_spark.sources import read_table


def test_int8_quantization_bounds_and_recall(spark):
    """Symmetric int8 quantization: every dequantized element sits within
    one quantization step of the original, and integer-dot ranking keeps
    most of the exact-cosine top-10 (it trades norm-normalization for
    4x-smaller vectors and integer kernels)."""
    from tests.conftest import SF_SMALL
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.registry import (
        all_specs,
    )
    from walmart_retail_pyspark_sqlite_pipeline_spark.sources import read_table

    emb = read_table(spark, SF_SMALL, "embeddings")
    v = vectors.as_double(F.col("embedding"))
    scale = F.lit(127.0) / F.array_max(F.transform(v, F.abs))
    err = emb.select(
        F.array_max(
            F.zip_with(
                v,
                F.transform(v, lambda x: F.floor(x * scale)),
                lambda x, q: F.abs(x - q / scale),
            )
        ).alias("max_err"),
        (F.lit(1.0) / scale).alias("step"),
    )
    # strict bound is max_err < step; the q/scale dequant division adds
    # ulp-level rounding, so compare with a 1e-9 relative cushion
    bad = err.filter(F.col("max_err") > F.col("step") * 1.000000001).count()
    assert bad == 0

    exact = {
        r.vec_id
        for r in all_specs()["ann_topk_cosine"].fn(spark, SF_SMALL).collect()
    }
    quant = {
        r.vec_id
        for r in all_specs()["ann_int8_topk"].fn(spark, SF_SMALL).collect()
    }
    assert len(exact & quant) / len(exact) >= 0.6  # measured 0.8


def test_image_features_pipe_into_ann(spark):
    """multimodal feature vectors are ANN-ready: array<double> output
    ranks by cosine with the same expression stack as the embedding ops."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_SMALL
    from walmart_retail_pyspark_sqlite_pipeline_spark.functions import vectors
    from walmart_retail_pyspark_sqlite_pipeline_spark.multimodal import (
        attach_fake_payload,
        image_features,
    )
    from walmart_retail_pyspark_sqlite_pipeline_spark.sources import read_table

    docs = read_table(spark, SF_SMALL, "documents").limit(50)
    feats = image_features(attach_fake_payload(docs))
    assert dict(feats.dtypes)["feat"] == "array<double>"

    q = feats.filter(F.col("doc_id") == 0).select(F.col("feat").alias("qv"))
    top = (
        feats.filter(F.col("doc_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "doc_id",
            F.round(vectors.cosine(F.col("feat"), F.col("qv")), 6).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), "doc_id")
        .limit(5)
        .collect()
    )
    assert len(top) == 5
    assert all(-1.0 <= r.cos <= 1.0 for r in top)
    assert top[0].cos >= top[-1].cos


def test_kmeans_iteration_improves_or_holds_inertia(spark):
    """One Lloyd's iteration must (a) keep every vector assigned exactly
    once, (b) not increase total inertia vs the seed assignment (the
    textbook monotonic-descent guarantee), and (c) report movement
    consistent with the reassignment."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
        _assign_nearest,
        _mean_centroids,
        embeddings_kmeans,
    )
    from walmart_retail_pyspark_sqlite_pipeline_spark.functions import vectors

    out = embeddings_kmeans(spark, SF_SMALL).collect()
    total = read_table(spark, SF_SMALL, "embeddings").count()
    assert sum(r.n_vecs for r in out) == total
    assert all(r.n_vecs > 0 for r in out)
    assert all(0 <= r.n_moved <= r.n_vecs for r in out)
    assert all(r.inertia > 0 for r in out)

    # seed-assignment inertia (iteration 0) for the descent check
    e = read_table(spark, SF_SMALL, "embeddings").select(
        "vec_id", "label", vectors.as_double(F.col("embedding")).alias("v")
    )
    seed_inertia = (
        _assign_nearest(e, _mean_centroids(e, "label"))
        .agg(F.sum("d2").alias("i0"))
        .collect()[0]
        .i0
    )
    assert sum(r.inertia for r in out) <= seed_inertia + 1e-6


def test_top_component_is_a_unit_direction(spark):
    """The power-iteration output must be a unit vector (norm 1 after the
    final normalize) whose direction is stable: one MORE iteration applied
    to it must not flip or materially rotate it (cosine with the next
    iterate close to 1) — the fixed-point property of the leading
    eigenvector."""
    import math

    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
        embeddings_top_component,
    )

    rows = embeddings_top_component(spark, SF_SMALL).collect()
    assert len(rows) == 64
    v = [r.loading for r in rows]
    assert abs(math.sqrt(sum(x * x for x in v)) - 1.0) < 1e-6

    e = [
        (r.vec_id, [float(x) for x in r.embedding])
        for r in read_table(spark, SF_SMALL, "embeddings").collect()
    ]
    w = [0.0] * 64
    for _, x in e:
        dot = sum(a * b for a, b in zip(x, v))
        for d in range(64):
            w[d] += x[d] * dot
    nw = math.sqrt(sum(x * x for x in w))
    cos = abs(sum(a * b / nw for a, b in zip(w, v)))
    assert cos > 0.99


def test_pq_codes_are_one_per_subspace_and_adc_decomposes(spark):
    """PQ structural invariants on the real table: the subspace-distance
    table enumerates every (vector, subspace, codeword) cell; ranks are
    dense and distances non-decreasing; and a spot-checked neighbor's ADC
    distance equals the sum of its 4 subspace LUT entries (the asymmetric
    distance really is the 4-term lookup sum, not a recomputation)."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_SMALL
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
        PQ_SUBSPACES,
        PQ_TOP_K,
        _pq_subspace_dists,
        ann_pq_topk,
    )
    from walmart_retail_pyspark_sqlite_pipeline_spark.sources import read_table

    sub = _pq_subspace_dists(spark, SF_SMALL).cache()
    n_vecs = read_table(spark, SF_SMALL, "embeddings").count()
    n_labels = (
        read_table(spark, SF_SMALL, "embeddings").select("label").distinct().count()
    )
    assert sub.count() == n_vecs * PQ_SUBSPACES * n_labels

    rows = ann_pq_topk(spark, SF_SMALL).collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.q_id, []).append(r)
    for q, lst in per_q.items():
        assert [r.rk for r in lst] == list(range(1, PQ_TOP_K + 1))
        d = [r.approx_d2 for r in lst]
        assert d == sorted(d)

    # ADC decomposition: recompute one neighbor's distance by hand
    q_id, vec = rows[0].q_id, rows[0].vec_id
    from pyspark.sql.window import Window

    w = Window.partitionBy("vec_id", "s").orderBy("d2i", "code")
    codes = {
        r.s: r.code
        for r in sub.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("vec_id") == vec))
        .collect()
    }
    lut = {
        (r.s, r.code): r.d2i
        for r in sub.filter(F.col("vec_id") == q_id).collect()
    }
    expect = sum(lut[(s, c)] for s, c in codes.items()) / 1e6
    assert abs(rows[0].approx_d2 - expect) < 1e-9
    assert len(codes) == PQ_SUBSPACES
    sub.unpersist()


def test_packed_hamming_agrees_with_unpacked_on_planted_bit63_vectors(spark):
    """The BIGINT-packed XOR+bit_count distance must equal the unpacked
    sign-mismatch count for every row — including vectors whose dim-63
    sign sets the word's SIGN bit (the min-long weight path that made the
    naive 1<<63 packer non-portable)."""
    import tempfile

    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
        ann_hamming_packed,
    )

    dim = 64
    q = [1.0] * dim  # query: all signs positive -> packed word = -1 (all bits)
    a = [1.0] * dim
    a[0], a[63] = -1.0, -1.0  # flips bit 0 AND the sign bit -> hamming 2
    b = [(-1.0) ** i for i in range(dim)]  # alternating -> hamming 32
    c = [-1.0] * dim  # all flipped -> hamming 64
    rows = [(0, q, 0), (1, a, 0), (2, b, 0), (3, c, 0)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
        out = ann_hamming_packed(spark, d).collect()
    got = {r.vec_id: r for r in out}
    assert [r.vec_id for r in out] == [1, 2, 3]  # ordered by packed distance
    assert (got[1].hamming, got[2].hamming, got[3].hamming) == (2, 32, 64)
    for r in out:
        assert r.hamming == r.hamming_unpacked and r.agree == 1, r


def test_mips_ranks_by_inner_product_and_reduction_agrees(spark):
    """Planted magnitudes where cosine and inner-product DISAGREE: a long
    vector with moderate angle must out-rank a short well-aligned one by
    dot while cosine would invert them — and the augmented-vector
    reduction must reproduce the dot ranking exactly (agree=true rows)."""
    import tempfile

    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
        ann_mips_topk,
    )

    def vec(vals):
        v = [0.0] * 64
        for i, x in enumerate(vals):
            v[i] = x
        return v

    rows = [
        (0, vec([1.0]), 0),              # query along axis 0
        (1, vec([0.9, 0.1]), 0),         # short, nearly parallel: dot 0.9
        (2, vec([5.0, -3.0]), 0),        # long, ~31 deg off: dot 5.0
        (3, vec([0.0, 1.0]), 0),         # orthogonal: dot 0
        (4, vec([2.0, 0.5]), 0),         # dot 2.0
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
        out = ann_mips_topk(spark, d).collect()
    assert [r.vec_id for r in out[:3]] == [2, 4, 1]  # by dot, NOT cosine
    assert all(r.agree for r in out), out
    assert [r.rk_dot for r in out] == [r.rk_mips for r in out]


def test_packed_hamming_storage_form_scans_only_words(spark):
    """The production deployment stores ONE BIGINT word per vector and
    never touches the float arrays at query time. Materialize that layout
    (vec_id, word) to parquet from the real embeddings, run the
    XOR+bit_count top-k directly on it, and require (a) distances equal to
    ann_hamming_packed's on the same data and (b) a scan whose ReadSchema
    carries only the two 8-byte columns — the 64x narrower scan, shown on
    the actual plan."""
    import tempfile

    import pyspark.sql.functions as F

    from tests.conftest import SF_SMALL
    from walmart_retail_pyspark_sqlite_pipeline_spark.functions import vectors
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
        _HAM_WEIGHTS,
        ann_hamming_packed,
    )
    from walmart_retail_pyspark_sqlite_pipeline_spark.sources import read_table

    emb = read_table(spark, SF_SMALL, "embeddings")
    w = F.array(*[F.lit(x).cast("long") for x in _HAM_WEIGHTS])
    packed = emb.select(
        "vec_id",
        F.aggregate(
            F.zip_with(
                vectors.as_double(F.col("embedding")),
                w,
                lambda x, wt: F.when(x > 0, wt).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda acc, t: acc + t,
        ).alias("word"),
    )
    with tempfile.TemporaryDirectory() as d:
        packed.write.mode("overwrite").parquet(f"{d}/packed.parquet")
        store = spark.read.parquet(f"{d}/packed.parquet")
        q = store.filter(F.col("vec_id") == 0).select(F.col("word").alias("qw"))
        scan = (
            store.filter(F.col("vec_id") != 0)
            .crossJoin(F.broadcast(q))
            .select(
                "vec_id",
                F.expr("bit_count(word ^ qw)").cast("bigint").alias("hamming"),
            )
            .orderBy("hamming", "vec_id")
            .limit(10)
        )
        plan = scan._jdf.queryExecution().executedPlan().toString()
        got = [(r.vec_id, r.hamming) for r in scan.collect()]

    want = [
        (r.vec_id, r.hamming)
        for r in ann_hamming_packed(spark, SF_SMALL).collect()
    ]
    assert got == want
    # the store-side scan reads ONLY the two BIGINT columns
    import re as _re

    read_schemas = _re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert read_schemas, plan
    for rs in read_schemas:
        cols = {c.split(":")[0] for c in rs.split(",") if c}
        assert cols <= {"vec_id", "word"}, rs


def test_top2_components_unit_orthogonal(spark):
    """Deflated power iteration must return two UNIT directions that are
    numerically ORTHOGONAL (the Gram-Schmidt step's contract), pc1
    identical to the single-component query."""
    import math

    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
        embeddings_top2_components,
        embeddings_top_component,
    )

    rows = embeddings_top2_components(spark, SF_SMALL).collect()
    assert len(rows) == 128
    pc1 = [r.loading for r in rows if r.component == 1]
    pc2 = [r.loading for r in rows if r.component == 2]
    assert len(pc1) == 64 and len(pc2) == 64
    assert abs(math.sqrt(sum(x * x for x in pc1)) - 1.0) < 1e-6
    assert abs(math.sqrt(sum(x * x for x in pc2)) - 1.0) < 1e-6
    assert abs(sum(a * b for a, b in zip(pc1, pc2))) < 1e-6
    single = [r.loading for r in embeddings_top_component(spark, SF_SMALL).collect()]
    assert pc1 == single


def test_b_bit_minhash_exact_on_identical_docs(spark, tmp_path):
    """Identical docs share every minhash slot: n_match = 8 and the
    collision-corrected estimate is exactly 1.0 (1000000 micro). A
    partial-overlap candidate pair exports a consistent estimate: the
    micro value must equal the closed-form integer expression of its own
    n_match, and the true jaccard rides along from the shared verify."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
        dedup_minhash_b_bit,
    )

    clean = " ".join(f"w{i}" for i in range(40))
    near = " ".join([f"w{i}" for i in range(30)] + [f"v{i}" for i in range(10)])
    rows = [
        (1, clean, "en", "srcA", 0),
        (2, clean, "en", "srcA", 0),
        (3, near, "en", "srcA", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    out = {(r.doc_a, r.doc_b): r for r in dedup_minhash_b_bit(spark, str(tmp_path)).collect()}
    assert (1, 2) in out
    r12 = out[(1, 2)]
    assert (r12.n_match, r12.est_j_micro, r12.jaccard) == (8, 1000000, 1.0)
    for r in out.values():
        num = max(0, 16 * r.n_match - 8)
        assert r.est_j_micro == (2 * num * 1000000 + 120) // 240
        assert 0 <= r.est_j_micro <= 1000000


def test_dim_clip_bounds_match_exact_quantiles(spark):
    from walmart_retail_pyspark_sqlite_pipeline_spark.sources import (
        read_embeddings,
    )

    rows = {r.dim: r for r in embeddings_dim_clip_bounds(spark, SF_SMALL).collect()}
    assert rows
    vecs = [r.embedding for r in read_embeddings(spark, SF_SMALL).collect()]
    dims = len(vecs[0])
    assert set(rows) == set(range(dims))
    for d in (0, dims // 2, dims - 1):
        vals = sorted(v[d] for v in vecs)
        n = len(vals)
        lo = vals[(n + 99) // 100 - 1]
        hi = vals[(99 * n + 99) // 100 - 1]
        r = rows[d]
        assert r.n == n
        assert abs(r.p01 - round(lo, 6)) < 1e-9
        assert abs(r.p99 - round(hi, 6)) < 1e-9
        assert r.n_clipped == sum(1 for v in vals if v < lo or v > hi)


def test_simhash_hamming_pairs_verified_distance(spark):
    """Every exported pair must be within the Hamming radius, and the
    banded recall guarantee must hold: ANY fingerprint pair within the
    radius shares a nibble band, so brute-force pairs == LSH pairs."""
    pairs = dedup_simhash_hamming_pairs(spark, SF_SMALL).collect()
    fp = {
        r.doc_id: r.simhash60
        for r in _simhash64_index(spark, SF_SMALL).collect()
    }
    got = {(r.doc_a, r.doc_b) for r in pairs}
    for r in pairs:
        assert 0 <= r.hamming <= SIMHASH_HAM_MAX
        assert bin(fp[r.doc_a] ^ fp[r.doc_b]).count("1") == r.hamming
    ids = sorted(fp)
    want = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(fp[a] ^ fp[b]).count("1") <= SIMHASH_HAM_MAX
    }
    assert got == want, "pigeonhole LSH missed or invented pairs"


def test_whitening_stats_match_plain_moments(spark):
    rows = embeddings_whitening_stats(spark, SF_SMALL).collect()
    assert len(rows) == 64
    from walmart_retail_pyspark_sqlite_pipeline_spark.sources import (
        read_embeddings,
    )

    vecs = [r.embedding for r in read_embeddings(spark, SF_SMALL).collect()]
    d0 = [round(v[0] * 1e6) for v in vecs]
    n = len(d0)
    mean = sum(d0) / (n * 1e6)
    var = (n * sum(x * x for x in d0) - sum(d0) ** 2) / (n * n * 1e12)
    assert abs(rows[0].mean - mean) < 2e-6
    assert abs(rows[0].variance - var) < 2e-6
    assert all(r.n == n for r in rows)


def test_pairs_scaled_equals_brute_force_within_cells(spark):
    """Every exported pair must (a) verify at cos >= threshold and (b) the
    pair set must equal brute-force enumeration WITHIN the learned fine
    cells — the candidate discipline is the cells; the verify is exact."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
        COSINE_DUP_THRESHOLD,
        _two_level_fine_cells,
        dedup_embedding_pairs_scaled,
    )

    got = {
        (r.vec_a, r.vec_b): r.cos
        for r in dedup_embedding_pairs_scaled(spark, SF_SMALL).collect()
    }
    ev = _two_level_fine_cells(spark, SF_SMALL).collect()
    by_cell: dict[int, list] = {}
    for r in ev:
        by_cell.setdefault(r.fcell, []).append(r)

    def cos(u, v):
        num = sum(a * b for a, b in zip(u, v))
        den = (sum(a * a for a in u) ** 0.5) * (sum(b * b for b in v) ** 0.5)
        return round(num / den, 6)

    want = {}
    for members in by_cell.values():
        members = sorted(members, key=lambda r: r.vec_id)
        for i, a in enumerate(members):
            for b in members[i + 1 :]:
                c = cos(a.v, b.v)
                if c >= COSINE_DUP_THRESHOLD:
                    want[(a.vec_id, b.vec_id)] = c
    assert set(got) == set(want)
    for k, v in want.items():
        assert abs(got[k] - v) < 2e-6
