"""Planted-data behavioral tests for the retrieval / projection operators
added in round 8: BM25 top-k and the JL sign projection."""

from __future__ import annotations

import tempfile

from pyspark.sql import Row

from tests.conftest import SF_SMALL
from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
    JL_K,
    RANGE_TAU,
    ann_range_search_cosine,
    ann_topk_cosine,
    embeddings_jl_projection,
    text_bm25_topk,
)


def _write_docs(spark, d, rows):
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(f"{d}/documents.parquet")


def test_bm25_ranks_tf_saturation_and_length_norm(spark):
    """A short doc with tf=3 of a query term must outrank a long doc with
    tf=1; docs with no query terms are absent; multi-term matches report
    n_terms correctly. (Query terms: spark, join, window.)"""
    filler = "alpha beta gamma delta epsilon zeta eta theta " * 4
    rows = [
        (1, "spark spark spark scan", "en", "src0", 0),
        (2, "spark " + filler, "en", "src0", 0),
        (3, "completely unrelated filler text here", "en", "src0", 0),
        (4, "join window merge", "en", "src0", 0),
        (5, filler, "en", "src0", 0),
        (6, filler + " omega", "en", "src0", 0),
    ]
    with tempfile.TemporaryDirectory() as d:
        _write_docs(spark, d, rows)
        got = {r.doc_id: r for r in text_bm25_topk(spark, d).collect()}
    assert set(got) == {1, 2, 4}, got  # 3/5/6 match no query term
    assert got[1].n_terms == 1 and got[2].n_terms == 1 and got[4].n_terms == 2
    # tf saturation + length normalization: doc 1 far above doc 2
    assert got[1].score_micro > got[2].score_micro > 0
    # ranks are dense 1..3 ordered by score desc
    by_rank = sorted(got.values(), key=lambda r: r.rk)
    assert [r.rk for r in by_rank] == [1, 2, 3]
    scores = [r.score_micro for r in by_rank]
    assert scores == sorted(scores, reverse=True)


def test_jl_projection_exact_on_planted_axes(spark):
    """v2 = 2*v1 along one axis: the projection is linear, so the (v1, v2)
    pair distorts by EXACTLY 1.0 (ratio_ppm == 1_000_000); the (v1, v3)
    cross-axis pair must equal the hand-computed sign-disagreement count."""
    e0 = [1.0] + [0.0] * 63
    e0x2 = [2.0] + [0.0] * 63
    e1 = [0.0, 1.0] + [0.0] * 62
    df = spark.createDataFrame(
        [(0, e0, 0), (1, e0x2, 0), (2, e1, 0)],
        "vec_id long, embedding array<float>, label long",
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
        got = {(r.va, r.vb): r for r in embeddings_jl_projection(spark, d).collect()}
    m = 1_000_000
    r01 = got[(0, 1)]
    assert r01.d2_orig == m * m
    assert r01.d2_proj == JL_K * m * m
    assert r01.ratio_ppm == 1_000_000
    # cross-axis pair: d2_proj = 4 * m^2 * (# j where s(0,j) != s(1,j))
    def sign(i, j):
        return 1 - 2 * (((i * 1103 + j * 907 + i * j * 751) % 97) % 2)

    disagree = sum(1 for j in range(JL_K) if sign(0, j) != sign(1, j))
    r02 = got[(0, 2)]
    assert r02.d2_orig == 2 * m * m
    assert r02.d2_proj == 4 * m * m * disagree
    # ratio_ppm is the sign-safe DIV-round of d2_proj*1e6 / (k*d2_orig)
    assert r02.ratio_ppm == (2_000_000 * r02.d2_proj + JL_K * r02.d2_orig) // (
        2 * JL_K * r02.d2_orig
    )
    # = disagree/8 in ppm: 4m^2*disagree / (16 * 2m^2), exact at 125000/step
    assert r02.ratio_ppm == disagree * 1_000_000 // (JL_K // 2)


def test_semantic_ivf_separates_planted_groups_and_prunes_dups(spark):
    """Two tight planted groups (near e0, near e1) with a verbatim dup in
    each: every verbatim dup must be pruned (cosine 1.0 with a smaller
    vec_id in its own tight group), and the per-cluster integers must be
    self-consistent (sum n_vecs == n, n_kept == n_vecs - n_pruned)."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
        dedup_semantic_ivf,
    )

    def vec(axis, eps, flip):
        v = [0.0] * 64
        v[axis] = 1.0
        v[(axis + 7) % 64] = eps * flip
        return v

    rows = []
    vid = 0
    for axis in (0, 1):
        for k in range(6):
            rows.append((vid, vec(axis, 0.02 * (k % 3), 1 if k % 2 else -1), axis))
            vid += 1
        # verbatim duplicate of the group's first vector (higher vec_id)
        rows.append((vid, vec(axis, 0.0, 1), axis))
        vid += 1
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label long"
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
        out = dedup_semantic_ivf(spark, d).collect()
        # group membership per cluster, via the final assignment implied by
        # cluster stats + a direct recomputation of axis per seed id
        got_n = sum(r.n_vecs for r in out)
    assert got_n == len(rows)
    for r in out:
        assert r.n_kept == r.n_vecs - r.n_pruned
        assert r.n_pruned <= r.n_vecs
    # the two verbatim dups (cosine exactly 1.0 with a smaller-id twin in
    # the same tight group) must be pruned somewhere
    assert sum(r.n_pruned for r in out) >= 2


def test_rerank_cascade_equals_exact_when_pool_covers_corpus(spark):
    """With corpus size <= RERANK_POOL the candidate pool is the whole
    corpus, so the cascade MUST equal the direct exact top-k: every row
    in_exact_topk=True (on the audit surface) and ranks dense in
    descending rounded-cosine order. (The int8 stage can only lose
    candidates when the pool truncates — this pins the no-truncation
    contract.) The exported production query must be the audit minus the
    verification leg: identical (rk, vec_id, idot, cos) rows."""
    import tempfile

    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
        ann_rerank_audit,
        ann_rerank_two_stage,
    )

    import numpy as np

    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((40, 64)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]], 0) for i in range(40)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label long"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
        audit = ann_rerank_audit(spark, d).collect()
        prod = ann_rerank_two_stage(spark, d).collect()
    assert [r.rk for r in audit] == list(range(1, 11))
    assert all(r.in_exact_topk for r in audit), audit
    cosines = [r.cos for r in audit]
    assert cosines == sorted(cosines, reverse=True)
    assert [(r.rk, r.vec_id, r.idot, r.cos) for r in prod] == [
        (r.rk, r.vec_id, r.idot, r.cos) for r in audit
    ]


def test_image_ann_exact_dup_ranks_first_and_zero_norm_excluded(spark):
    """An identical-text document (identical stub payload -> identical
    histogram) must rank first with cosine exactly 1.0; an empty-text
    document (all-zero histogram) must be excluded by the zero-norm
    guard, not ranked with a NaN cosine."""
    import tempfile

    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
        multimodal_image_ann,
    )

    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en", "src0", 0),
        (1, "the quick brown fox jumps over the lazy dog", "en", "src0", 0),
        (2, "", "en", "src0", 0),
        (3, "zzzzzzzz 00000000 !!!!!!!!", "en", "src0", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
        got = multimodal_image_ann(spark, d).collect()
    ids = [r.doc_id for r in got]
    assert 2 not in ids, "zero-norm (empty payload) doc must be excluded"
    assert got[0].doc_id == 1 and got[0].cos == 1.0


def test_bm25_batch_per_query_topk_and_self_exclusion(spark):
    """Queries are the doc_id < 8 docs' own top length>=4 terms. Planted:
    query 0 = {albatross, kingfisher, pelican}, query 1 = {nebula,
    quasar}; docs 2-7 have no length>=4 tokens so those queries vanish.
    Per query: the query doc itself is excluded even when it would top
    the ranking; tf-saturation beats a long weak match; n_terms counts
    matched query terms; ranks are dense per query."""
    filler = "alpha beta gamma delta epsilon zeta eta theta " * 4
    rows = [
        (0, "albatross albatross albatross kingfisher pelican xy z", "en", "src0", 0),
        (1, "quasar quasar nebula nebula nebula xy", "en", "src0", 0),
        (2, "a bb cc", "en", "src0", 0),
        (3, "a bb cc", "en", "src0", 0),
        (4, "a bb cc", "en", "src0", 0),
        (5, "a bb cc", "en", "src0", 0),
        (6, "a bb cc", "en", "src0", 0),
        (7, "a bb cc", "en", "src0", 0),
        (10, "albatross albatross stuff", "en", "src0", 0),
        (11, "albatross " + filler, "en", "src0", 0),
        (12, "nebula quasar", "en", "src0", 0),
        (13, "unrelated words only here", "en", "src0", 0),
    ]
    import tempfile

    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
        text_bm25_batch,
    )

    with tempfile.TemporaryDirectory() as d:
        _write_docs(spark, d, rows)
        got = text_bm25_batch(spark, d).collect()
    by_q: dict[int, list] = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r)
    # only queries 0 and 1 produce terms; 2-7 have no length>=4 tokens
    assert set(by_q) == {0, 1}, sorted(by_q)
    q0 = {r.doc_id: r for r in by_q[0]}
    # self excluded despite tf=3; non-matching doc absent
    assert 0 not in q0 and 13 not in q0
    assert {10, 11} <= set(q0)
    assert q0[10].score_micro > q0[11].score_micro  # saturation + len norm
    # query 1: doc 12 matches both terms
    q1 = {r.doc_id: r for r in by_q[1]}
    assert q1[12].n_terms == 2
    for rows_q in by_q.values():
        rks = sorted(r.rk for r in rows_q)
        assert rks == list(range(1, len(rks) + 1))
        srt = sorted(rows_q, key=lambda r: r.rk)
        scores = [r.score_micro for r in srt]
        assert scores == sorted(scores, reverse=True)


def test_ivfpq_prunes_unprobed_cell_and_adc_exact_zero(spark):
    """Three label clusters: A (vec 1-8, all exactly 2*e0 — queries 1-5
    live here), B (vec 20/21 at 4*e1, the second-nearest centroid), C
    (vec 30/31 at 6*e2, beyond NPROBE=2). For every query: C members
    must NEVER appear (probe pruning), and because every A member is
    identical, the per-subspace codewords equal the A slices exactly, so
    the ADC distance to other A members is EXACTLY 0.0 and the top-3 are
    the lowest-id A members (tie-break by vec_id). B members score > 0
    and stay out of the top-3."""
    import tempfile

    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
        ann_ivfpq_topk,
    )

    def vec(axis, mag):
        v = [0.0] * 64
        v[axis] = mag
        return v

    rows = [(i, vec(0, 2.0), 0) for i in range(1, 9)]
    rows += [(20, vec(1, 4.0), 1), (21, vec(1, 4.0), 1)]
    rows += [(30, vec(2, 6.0), 2), (31, vec(2, 6.0), 2)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label long"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
        got = ann_ivfpq_topk(spark, d).collect()
    by_q: dict[int, list] = {}
    for r in got:
        by_q.setdefault(r.q_id, []).append(r)
    assert set(by_q) == {1, 2, 3, 4, 5}
    for q_id, rows_q in by_q.items():
        ids = {r.vec_id for r in rows_q}
        assert not ids & {30, 31}, f"unprobed cell leaked into q{q_id}"
        assert q_id not in ids, "self not excluded"
        assert sorted(r.rk for r in rows_q) == [1, 2, 3]
    q1 = sorted(by_q[1], key=lambda r: r.rk)
    assert [r.vec_id for r in q1] == [2, 3, 4]
    assert all(r.approx_d2 == 0.0 for r in q1)


def test_rerank_batch_matches_single_query_cascade(spark):
    """The batch cascade restricted to one query must equal the
    single-query production cascade (modulo the q_id column) whenever
    that query's candidate set matches: corpus <= RERANK_POOL and the
    single-query target vec 0 excluded to align candidate sets. Also:
    every block query gets dense per-query ranks and no self-matches."""
    import tempfile

    import numpy as np

    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
        ann_rerank_batch,
    )

    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((30, 64)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]], 0) for i in range(30)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label long"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
        got = ann_rerank_batch(spark, d).collect()
    by_q: dict[int, list] = {}
    for r in got:
        by_q.setdefault(r.q_id, []).append(r)
    assert set(by_q) == {1, 2, 3, 4, 5}
    for q_id, rows_q in by_q.items():
        assert all(r.vec_id != q_id for r in rows_q), "self not excluded"
        assert sorted(r.rk for r in rows_q) == list(range(1, 11))
        srt = sorted(rows_q, key=lambda r: r.rk)
        cosines = [r.cos for r in srt]
        assert cosines == sorted(cosines, reverse=True)
    # pool covers the corpus here, so the cascade IS the exact top-k:
    # cross-check one query against a brute-force numpy cosine ranking
    q = 3
    qv = vecs[q].astype(np.float64)
    cos = {}
    for i in range(30):
        if i == q:
            continue
        v = vecs[i].astype(np.float64)
        cos[i] = round(float(v @ qv / (np.sqrt((v * v).sum()) * np.sqrt((qv * qv).sum()))), 6)
    expect = sorted(cos.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got_q = [(r.vec_id, r.cos) for r in sorted(by_q[q], key=lambda r: r.rk)]
    assert [v for v, _ in got_q] == [v for v, _ in expect]


def test_matryoshka_recall_detects_prefix_information_loss(spark):
    """The full-dimension top-1 (vec 1 = e20, matching the query's e20
    component) carries ALL its signal outside the first 16 dims, so its
    prefix-8/16 slices are zero vectors — excluded by the zero-norm
    guard — and recall@1 is 0 at m=8/16 but 1.0 at m=32. With no signal
    beyond dim 32, prefix-32 ranking equals full ranking exactly, so
    recall@10 at m=32 is 1.0."""
    import tempfile

    import numpy as np

    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
        embeddings_matryoshka_recall,
    )

    rng = np.random.default_rng(5)

    def vec(d):
        v = [0.0] * 64
        for i, x in d.items():
            v[i] = x
        return v

    rows = [(0, vec({20: 1.0, 0: 0.2}), 0), (1, vec({20: 1.0}), 0)]
    for j in range(2, 16):  # 14 distractors: e0 + noise in dims 1-7
        d = {0: 1.0}
        for i in range(1, 8):
            d[i] = float(rng.uniform(0.01, 0.3))
        rows.append((j, vec(d), 0))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label long"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
        got = {(r.prefix_dims, r.k): r for r in
               embeddings_matryoshka_recall(spark, d).collect()}
    assert len(got) == 9
    assert got[(8, 1)].overlap == 0 and got[(8, 1)].recall == 0.0
    assert got[(16, 1)].overlap == 0
    assert got[(32, 1)].overlap == 1 and got[(32, 1)].recall == 1.0
    assert got[(32, 10)].overlap == 10 and got[(32, 10)].recall == 1.0
    for (m, k), r in got.items():
        assert r.recall == round((2 * r.overlap * 1000000 + k) // (2 * k) / 1e6, 6)


def test_bm25_prf_expansion_recovers_seedless_doc(spark, tmp_path):
    """PRF must mine vocabulary from the feedback docs and use it in the
    second pass: docs 1-5 contain the seed term 'spark' plus the salient
    filler 'zebra'; doc 6 contains ONLY 'zebra' (zero seed terms), so
    pass 1 cannot rank it, but the mined expansion term recovers it —
    doc 6 appears in the final list with a positive score from exactly
    one (expansion) term. Docs with both seed and expansion hits must
    outrank the expansion-only doc."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
        text_bm25_prf,
    )

    rows = [
        # per-doc fillers stay UNDER PRF_MINLEN so 'zebra' is the only
        # minable expansion candidate
        (i, "spark zebra " + " ".join(f"x{i}{j}" for j in range(8)),
         "en", "srcA", 0)
        for i in range(1, 6)
    ]
    rows.append((6, "zebra zebra zebra", "en", "srcA", 0))
    rows.append((7, "nothing relevant here at all", "en", "srcB", 0))
    # background docs so neither 'spark' nor 'zebra' covers half the
    # corpus (Robertson idf goes negative past df > N/2)
    rows.extend(
        (i, f"background filler{i} text{i} words{i} only", "en", "srcB", 0)
        for i in range(8, 28)
    )
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    out = text_bm25_prf(spark, str(tmp_path)).collect()
    got = {r.doc_id: r for r in out}
    assert 6 in got, "expansion-only doc must be recovered by PRF"
    assert got[6].score_micro > 0 and got[6].n_terms == 1
    assert 7 not in got
    for i in range(1, 6):
        assert got[i].n_terms == 2  # seed + expansion
        assert got[i].score_micro > got[6].score_micro
    assert [r.rk for r in out] == list(range(1, len(out) + 1))


def test_range_search_threshold_and_consistency_with_topk(spark):
    rows = ann_range_search_cosine(spark, SF_SMALL).collect()
    assert rows, "radius search returned nothing on the synthetic corpus"
    for r in rows:
        assert r.cos >= RANGE_TAU
        assert r.vec_id != r.q_id
    # query 0's radius set must contain every exact top-k hit above tau
    top = ann_topk_cosine(spark, SF_SMALL).collect()
    radius0 = {r.vec_id for r in rows if r.q_id == 0}
    for t in top:
        if t.cos >= RANGE_TAU:
            assert t.vec_id in radius0


def test_ann_eval_mrr_contract_on_sf_small(spark):
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
        ANN_K,
        KNN_Q,
        ann_eval_mrr,
    )

    rows = ann_eval_mrr(spark, SF_SMALL).collect()
    assert 0 < len(rows) <= KNN_Q
    tot = sum(r.rr_micro for r in rows)
    for r in rows:
        if r.approx_rank is None:
            assert r.rr_micro == 0
        else:
            assert 1 <= r.approx_rank <= ANN_K
            assert r.rr_micro == 1_000_000 // r.approx_rank
        assert r.mrr_micro == tot // len(rows)


def test_ann_eval_mrr_single_cell_is_perfect(spark, tmp_path):
    """With one label (one IVF cell) the single-probe search IS the exact
    search, so every query's exact top-1 must sit at approx rank 1."""
    import random

    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
        ann_eval_mrr,
    )

    rng = random.Random(7)
    sf = str(tmp_path)
    rows = [
        Row(
            vec_id=i,
            embedding=[rng.uniform(-1, 1) for _ in range(64)],
            label=1,
        )
        for i in range(40)
    ]
    spark.createDataFrame(rows).selectExpr(
        "vec_id",
        "CAST(embedding AS ARRAY<FLOAT>) AS embedding",
        "CAST(label AS INT) AS label",
    ).write.parquet(f"{sf}/embeddings.parquet")
    got = ann_eval_mrr(spark, sf).collect()
    assert len(got) == 5
    for r in got:
        assert r.approx_rank == 1 and r.rr_micro == 1_000_000
        assert r.mrr_micro == 1_000_000
