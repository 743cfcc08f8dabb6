"""Behavioral tests for the corpus-engineering operators (plans/corpus.py)
on planted data — the oracle gate proves engine parity on the synthetic
corpus; these prove the semantics do what they claim."""

from __future__ import annotations

import math

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tests.conftest import SF_SMALL
from walmart_retail_pyspark_sqlite_pipeline_spark.plans.corpus import (
    PACK_BUDGET,
    SHARD_DOCS,
    corpus_ccnet_perplexity_buckets,
    corpus_lm_kneser_ney,
    corpus_pack_tokens,
    corpus_quality_calibration,
    corpus_soft_dedup_weights,
    corpus_tokenizer_fertility,
    corpus_training_order,
    dedup_cc_clusters,
    scrub_pii,
    text_lm_heldout_perplexity,
    text_lm_score,
    text_pii_detect,
)
from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
    JACCARD_THRESHOLD,
    _lsh_candidate_jaccards,
    dedup_minhash_lsh_pairs,
)
from walmart_retail_pyspark_sqlite_pipeline_spark.sources import read_table


def test_pii_scrub_redacts_planted_pii(spark):
    df = spark.createDataFrame(
        [
            (1, "contact alice@example.com or 10.0.0.1 now"),
            (2, "call 555-867-5309 twice: 555 867 5309"),
            (3, "no pii here"),
        ],
        "doc_id long, text string",
    )
    out = df.select("doc_id", scrub_pii(F.col("text")).alias("s")).collect()
    got = {r.doc_id: r.s for r in out}
    assert got[1] == "contact <EMAIL> or <IP> now"
    assert got[2] == "call <PHONE> twice: <PHONE>"
    assert got[3] == "no pii here"


def test_pack_tokens_invariants(spark):
    out = corpus_pack_tokens(spark, SF_SMALL)
    rows = out.collect()
    assert rows, "empty packing output"
    # pack_offset is the first-token position inside the pack
    assert all(0 <= r.pack_offset < PACK_BUDGET for r in rows)
    # packs are assigned contiguously per language in doc_id order
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    for lang_rows in by_lang.values():
        assert [r.doc_id for r in lang_rows] == sorted(r.doc_id for r in lang_rows)
        cum = 0
        for r in lang_rows:
            assert r.pack_id == cum // PACK_BUDGET
            assert r.pack_offset == cum - r.pack_id * PACK_BUDGET
            cum += r.n_tokens


def test_cc_clusters_partition_the_pair_graph(spark):
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
        dedup_minhash_lsh_pairs,
    )

    clusters = {
        r.doc_id: (r.cluster_id, r.cluster_size)
        for r in dedup_cc_clusters(spark, SF_SMALL).collect()
    }
    pairs = dedup_minhash_lsh_pairs(spark, SF_SMALL).collect()
    assert pairs, "expected near-dup pairs in the synthetic corpus"
    # every paired doc is clustered, pair endpoints share a cluster, and the
    # cluster id is a member (the minimum) of the cluster
    for p in pairs:
        assert clusters[p.doc_a][0] == clusters[p.doc_b][0]
    for doc, (cid, size) in clusters.items():
        assert cid <= doc and size >= 2
        assert cid in clusters and clusters[cid][0] == cid


def test_corpus_pipeline_lifecycle(spark, tmp_path):
    """prep → split → partitioned sink: output partition layout prunes by
    (split, lang); observed stats match the oracle-verified prep query;
    split membership matches the content-hash rule."""
    import os

    from walmart_retail_pyspark_sqlite_pipeline_spark.pipeline import (
        CorpusConfig,
        run_corpus_pipeline,
    )
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
        corpus_prep_pipeline,
        corpus_split_train_val_test,
    )
    from tests.conftest import SF_SMALL

    out = str(tmp_path / "corpus")
    stats = run_corpus_pipeline(
        spark, CorpusConfig(input_dir=SF_SMALL, output_dir=out)
    )
    expect = corpus_prep_pipeline(spark, SF_SMALL)
    assert stats["docs"] == expect.count()
    assert stats["tokens"] == expect.agg(F.sum("n_tokens")).collect()[0][0]
    assert stats["languages"] >= 2

    # hive layout: split=<s>/lang=<l> directories only
    top = sorted(d for d in os.listdir(out) if not d.startswith(("_", ".")))
    assert all(d.startswith("split=") for d in top)

    back = spark.read.parquet(out)
    assert back.count() == stats["docs"]
    # split assignment matches the deterministic content-hash rule
    rule = corpus_split_train_val_test(spark, SF_SMALL).select("doc_id", "split")
    mismatch = (
        back.select("doc_id", F.col("split").alias("got"))
        .join(rule, "doc_id")
        .filter(F.col("got") != F.col("split"))
        .count()
    )
    assert mismatch == 0
    # reading one split prunes to its directories and is a proper subset
    train = spark.read.parquet(out).filter(F.col("split") == "train")
    assert 0 < train.count() < stats["docs"]


def test_corpus_pipeline_rerun_reads_changed_documents(spark, tmp_path):
    """A second run over the same input dir after the documents changed
    keeps exactly the docs the prep oracle keeps on the new file, not a
    result built from the first run's cached shingle index."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from walmart_retail_pyspark_sqlite_pipeline_spark.pipeline import (
        CorpusConfig,
        run_corpus_pipeline,
    )
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import CORPUS_PREP_SQL

    docs = pq.read_table(f"{SF_SMALL}/documents.parquet")
    src = tmp_path / "in"
    src.mkdir()
    path = src / "documents.parquet"
    pq.write_table(docs, path)
    run_corpus_pipeline(
        spark, CorpusConfig(input_dir=str(src), output_dir=str(tmp_path / "out1"))
    )
    # every doc_id now holds another document's text
    texts = docs.column("text").to_pylist()
    moved = docs.set_column(
        docs.schema.get_field_index("text"), "text", pa.array(texts[7:] + texts[:7])
    )
    pq.write_table(moved, path)
    out = tmp_path / "out2"
    stats = run_corpus_pipeline(
        spark, CorpusConfig(input_dir=str(src), output_dir=str(out))
    )

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        want = {r[0] for r in con.execute(f"SELECT doc_id FROM ({CORPUS_PREP_SQL})").fetchall()}
    finally:
        con.close()
    got = {r.doc_id for r in spark.read.parquet(str(out)).select("doc_id").collect()}
    assert got == want
    assert stats["docs"] == len(want)


def test_registry_rerun_reads_changed_documents(spark, tmp_path):
    """A registry query re-run in one session after its documents changed
    at the same path answers for the new file (the source invalidates the
    shingle index the first run cached), matching its DuckDB oracle."""
    import duckdb
    import pyarrow.parquet as pq

    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
        DEDUP_MINHASH_PAIRS_SQL,
    )

    docs = pq.read_table(f"{SF_SMALL}/documents.parquet")
    path = tmp_path / "documents.parquet"
    pq.write_table(docs, path)
    assert dedup_minhash_lsh_pairs(spark, str(tmp_path)).collect()
    pq.write_table(docs.slice(0, docs.num_rows // 2), path)
    got = dedup_minhash_lsh_pairs(spark, str(tmp_path)).collect()

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        want = con.execute(DEDUP_MINHASH_PAIRS_SQL).fetchall()
    finally:
        con.close()
    assert sorted(tuple(r) for r in got) == sorted(tuple(r) for r in want)


def _plan_nodes_outside_cache(node):
    """Physical plan nodes reachable through ``children()``, not entering
    cached-data scans (their plans are the cache's, built once)."""
    if node.nodeName() == "InMemoryTableScan":
        return
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _plan_nodes_outside_cache(children.apply(i))


def test_corpus_pipeline_reads_documents_once(spark, tmp_path, monkeypatch):
    """The written plan scans the documents file once outside the cached
    shingle index, and that one scan carries ``text`` to the sink."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.pipeline import (
        CorpusConfig,
        corpus,
        run_corpus_pipeline,
    )

    written = []
    real_write = corpus.write_parquet

    def capture(df, *args, **kwargs):
        written.append(df)
        return real_write(df, *args, **kwargs)

    monkeypatch.setattr(corpus, "write_parquet", capture)
    run_corpus_pipeline(
        spark, CorpusConfig(input_dir=SF_SMALL, output_dir=str(tmp_path / "c"))
    )
    (df,) = written
    # AQE wraps the physical plan; executedPlan() is its current form
    plan = df._jdf.queryExecution().executedPlan().executedPlan()
    scans = [
        n
        for n in _plan_nodes_outside_cache(plan)
        if n.getClass().getSimpleName() == "FileSourceScanExec"
        and "documents.parquet" in str(n.relation().location().rootPaths())
    ]
    assert len(scans) == 1, [n.toString() for n in scans]
    assert "text" in list(scans[0].requiredSchema().fieldNames())


def test_near_dup_core_on_unbacked_dataframe(spark):
    """The dedup core takes any documents frame: on a createDataFrame
    input no path backs, the planted near-dup pair is found and the
    unrelated document is in no candidate pair."""
    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the green forest tonight"
    )
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=base),
            Row(doc_id=2, text=base.replace("green", "dark")),  # near-dup of 1
            Row(doc_id=3, text="completely different text about spark engines "
                               "processing parquet tables at scale every day"),
        ]
    )
    cand = _lsh_candidate_jaccards(docs).collect()
    assert all(3 not in (p.doc_a, p.doc_b) for p in cand)
    pairs = [p for p in cand if p.jaccard >= 0.5]
    assert [(p.doc_a, p.doc_b) for p in pairs] == [(1, 2)]
    assert pairs[0].jaccard < 1.0


def test_lsh_candidates_far_fewer_than_all_pairs(spark):
    docs = read_table(spark, SF_SMALL, "documents")
    n_docs = docs.count()
    assert _lsh_candidate_jaccards(docs).count() < n_docs * (n_docs - 1) / 20


def test_split_decision_keyed_by_plan(spark, monkeypatch):
    """repartition_undersplit() probes once per documents plan: two
    separate reads of one path share a decision, and a frame no path
    backs gets its own. An under-split frame comes back hash-partitioned
    on doc_id into the session's default parallelism."""
    from walmart_retail_pyspark_sqlite_pipeline_spark import session

    class Probes(dict):
        stored = 0

        def __setitem__(self, key, hit):
            Probes.stored += 1
            super().__setitem__(key, hit)

    monkeypatch.setattr(session, "_SPLIT_DECISIONS", Probes())
    first = session.repartition_undersplit(read_table(spark, SF_SMALL, "documents"))
    second = session.repartition_undersplit(read_table(spark, SF_SMALL, "documents"))
    assert Probes.stored == 1
    n = spark.sparkContext.defaultParallelism
    # the testdata documents file is one split, below any parallelism > 1
    assert first.rdd.getNumPartitions() == second.rdd.getNumPartitions() == n
    local = spark.createDataFrame([Row(doc_id=1, text="a b c")])
    session.repartition_undersplit(local)
    assert Probes.stored == 2 and len(session._SPLIT_DECISIONS) == 2


def test_pagerank_is_a_probability_distribution(spark):
    """PageRank over the symmetric LSH graph: every graph node gets a
    positive rank, ranks sum to ~1 (no dangling nodes, so mass is
    conserved up to the 1e-12 contribution rounding), and higher-degree
    nodes in a uniform-ish graph never rank below the teleport floor."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.corpus import (
        corpus_pagerank,
    )

    out = corpus_pagerank(spark, SF_SMALL).collect()
    assert len(out) > 0
    n = len(out)
    assert all(r.pagerank >= 0.15 / n - 1e-9 for r in out)
    assert abs(sum(r.pagerank for r in out) - 1.0) < 1e-6


def test_weighted_samplers_prefer_quality_and_respect_budgets(spark):
    """The A-ES samplers must (a) return exactly their budgets, (b) select
    a sample whose mean quality beats the corpus mean (the point of
    weighting), and (c) in the balanced variant, never exceed the
    per-language budget while covering every language that has enough
    positive-quality docs."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
        BSAMPLE_K,
        WSAMPLE_K,
        corpus_balanced_sample_topk,
        corpus_weighted_sample_topk,
    )

    from walmart_retail_pyspark_sqlite_pipeline_spark.sources import read_table

    top = corpus_weighted_sample_topk(spark, SF_SMALL).collect()
    assert len(top) == WSAMPLE_K
    assert [r.rank for r in top] == list(range(1, WSAMPLE_K + 1))

    docs = read_table(spark, SF_SMALL, "documents")
    # corpus mean quality from the ONE shared scoring rule: compare the
    # sample's mean score against ALL positive-quality docs
    from walmart_retail_pyspark_sqlite_pipeline_spark.functions import text as T

    q = T.quality_score(F.col("text"))
    all_mean = (
        docs.select(q.alias("q")).filter(F.col("q") > 0).agg(F.avg("q")).first()[0]
    )
    sel_mean = sum(r.quality_score for r in top) / len(top)
    assert sel_mean > all_mean

    bal = corpus_balanced_sample_topk(spark, SF_SMALL).collect()
    per_lang: dict[str, int] = {}
    for r in bal:
        per_lang[r.lang] = per_lang.get(r.lang, 0) + 1
        assert 1 <= r.lang_rank <= BSAMPLE_K
    assert all(n <= BSAMPLE_K for n in per_lang.values())
    # every language with at least one positive-quality doc appears (the
    # sampler filters quality_score > 0, so compare against THAT language
    # set, not all distinct languages — a testdata regeneration where some
    # language's docs all score <= 0 is not a code bug)
    eligible_langs = {
        r.lang
        for r in docs.select("lang", q.alias("q"))
        .filter(F.col("q") > 0)
        .select("lang")
        .distinct()
        .collect()
    }
    assert set(per_lang) == eligible_langs


def test_quality_score_single_rule_everywhere(spark):
    """text_quality's reported composite must equal the shared
    functions.text.quality_score rule the samplers use — the two are
    intentionally the same formula and must not desynchronize."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.functions import text as T
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import text_quality
    from walmart_retail_pyspark_sqlite_pipeline_spark.sources import read_table

    reported = text_quality(spark, SF_SMALL).select("doc_id", "quality_score")
    shared = read_table(spark, SF_SMALL, "documents").select(
        "doc_id", T.quality_score(F.col("text")).alias("expected")
    )
    diverged = (
        reported.join(shared, "doc_id")
        .filter(F.col("quality_score") != F.col("expected"))
        .count()
    )
    assert diverged == 0


def test_substring_ngrams_flags_planted_shared_span(spark):
    """Docs sharing a 13-token span are flagged; unrelated docs are not.
    Runs the operator body against a planted table through the same code
    path (temp-view swap of `documents`)."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.corpus import (
        SUBSTR_N,
        dedup_substring_ngrams,
    )

    span = " ".join(f"w{i}" for i in range(SUBSTR_N))
    df = spark.createDataFrame(
        [
            (1, f"left intro {span} tail one", "en", "src0", 0),
            (2, f"other head {span} different end", "en", "src0", 0),
            (3,
             "completely unrelated text with plenty of words spread "
             "across a sentence long enough to shingle but sharing no "
             "thirteen token window with the other documents at all",
             "en", "src0", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
        rows = {r.doc_id: r for r in dedup_substring_ngrams(spark, d).collect()}
    assert rows[1].has_dup_substring and rows[2].has_dup_substring
    assert not rows[3].has_dup_substring
    assert rows[1].n_shared >= 1 and rows[3].n_shared == 0
    assert 0.0 < rows[1].shared_frac <= 1.0


def test_token_rebalance_budget_semantics(spark):
    """Acceptance probabilities equalize token budgets: every source's
    accept_prob is min(1, fair_share/src_tokens), kept counts respect the
    coin, and no source exceeds its own corpus contribution."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.corpus import (
        corpus_token_rebalance,
    )

    rows = corpus_token_rebalance(spark, SF_SMALL).collect()
    assert rows, "no sources"
    total = sum(r.src_tokens for r in rows)
    fair = total / len(rows)
    for r in rows:
        expected = min(1.0, fair / r.src_tokens)
        assert abs(r.accept_prob - expected) < 1e-6
        assert 0 <= r.n_kept <= r.n_docs
        assert 0 <= r.kept_tokens <= r.src_tokens
    # at least one source must be over budget (and so down-sampled) unless
    # the corpus is perfectly balanced in tokens
    if any(r.src_tokens > fair for r in rows):
        assert any(r.accept_prob < 1.0 for r in rows)


def test_lm_score_prefers_corpus_like_text(spark):
    """A document made of the corpus's most common bigrams must score a
    LOWER avg negative log-prob than a document of singleton gibberish."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.corpus import (
        text_lm_score,
    )

    common = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [
            # repeat the common phrasing so its bigrams dominate the LM
            *[(i, common, "en", "src0", 0) for i in range(1, 9)],
            (9, "zq xv qj vk jx kz qx vz jq xk zv kq", "en", "src0", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
        rows = {r.doc_id: r for r in text_lm_score(spark, d).collect()}
    assert rows[1].avg_nll < rows[9].avg_nll
    assert rows[1].n_bigrams == len(common.split()) - 1


def _with_docs(spark, rows, fn):
    import tempfile

    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
        return fn(d)


def test_triangles_distinguish_clique_from_chain(spark):
    """Three mutually-near-dup docs (clique) -> 1 triangle, transitivity
    1.0; a drifting chain A~B~C where A and C diverge -> 0 triangles.
    Exercises the REAL LSH pair path on planted text."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.corpus import (
        corpus_triangles,
    )

    base = " ".join(f"tok{i}" for i in range(40))
    clique = [
        (1, base, "en", "s", 0),
        (2, base + " tail2", "en", "s", 0),
        (3, base + " tail3", "en", "s", 0),
    ]
    out = _with_docs(spark, clique, lambda d: corpus_triangles(spark, d).collect())
    (r,) = out
    assert r.n_nodes == 3 and r.n_edges == 3
    assert r.n_triangles == 1 and r.transitivity == 1.0

    a = " ".join(f"w{i}" for i in range(40))
    b = " ".join(f"w{i}" for i in range(10, 50))   # shares 30/50 with a and c
    c = " ".join(f"w{i}" for i in range(20, 60))
    chain = [(1, a, "en", "s", 0), (2, b, "en", "s", 0), (3, c, "en", "s", 0)]
    out = _with_docs(spark, chain, lambda d: corpus_triangles(spark, d).collect())
    (r,) = out
    assert r.n_triangles == 0


def test_zipf_slope_recovers_planted_power_law(spark):
    """A corpus built so term k appears round(1000/k) times is Zipf with
    exponent -1; the fitted slope lands within rounding of -1."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.corpus import (
        text_zipf_slope,
    )

    words = []
    for k in range(1, 31):
        words += [f"zipf{k:02d}"] * round(1000 / k)
    text = " ".join(words)
    rows = [(1, text, "en", "s", 0)]
    (r,) = _with_docs(spark, rows, lambda d: text_zipf_slope(spark, d).collect())
    assert r.n_terms == 30
    assert -1.01 < r.zipf_slope < -0.99


def test_bloom_prefilter_prunes_but_never_drops_a_true_hit(spark):
    """The Bloom candidate set must contain EVERY truly-shared shingle
    (no false negatives) while pruning most non-shared ones, and the
    final operator output must equal the exact contamination hits."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.corpus import (
        EVAL_MOD,
        _bloom_candidate_shingles,
        _doc_shingles,
        corpus_bloom_contamination,
    )
    import tempfile

    # doc 20 is "eval" (20 % EVAL_MOD == 0); doc 1 shares its text (true
    # contamination), docs 2..9 are unrelated noise the bloom should prune
    shared = " ".join(f"bench{i}" for i in range(20))
    rows = [(20, shared, "en", "s", 0), (1, shared, "en", "s", 0)]
    for d in range(2, 10):
        rows.append(
            (d, " ".join(f"noise{d}_{i}" for i in range(30)), "en", "s", 0)
        )
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as dirname:
        df.write.mode("overwrite").parquet(f"{dirname}/documents.parquet")
        sh = _doc_shingles(read_table(spark, dirname, "documents"))
        eval_t = {
            r.t for r in sh.filter(F.col("doc_id") % EVAL_MOD == 0).collect()
        }
        train = [(r.doc_id, r.t) for r in
                 sh.filter(F.col("doc_id") % EVAL_MOD != 0).collect()]
        cand = {(r.doc_id, r.t) for r in
                _bloom_candidate_shingles(spark, dirname).collect()}
        true_hits = {(d, t) for d, t in train if t in eval_t}
        assert true_hits <= cand, "bloom produced a false negative"
        assert len(cand) < len(train), "bloom pruned nothing"

        out = corpus_bloom_contamination(spark, dirname).collect()
    assert [(r.doc_id, r.n_shared) for r in out] == [(1, 18)]


def test_split_leakage_flags_near_dups_straddling_splits(spark):
    """Two near-dup docs whose content hashes land in different splits
    must surface as an is_leak pair; a near-dup pair inside one split
    must not."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.functions import hashing
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.corpus import (
        corpus_split_leakage,
    )

    def bucket(text):
        h = 0
        for c in text:
            h = (h * 31 + ord(c)) % 2147483647
        return h % 100

    base = " ".join(f"leak{i}" for i in range(40))
    # find two suffixes so doc texts are near-dups but land in different
    # split buckets (one < 80 = train, one >= 90 = test)
    a = b = None
    for s in range(200):
        t = base + f" tail{s}"
        if a is None and bucket(t) < 80:
            a = t
        if b is None and bucket(t) >= 90:
            b = t
        if a and b:
            break
    assert a and b, "could not plant cross-split texts"
    rows = [(1, a, "en", "s", 0), (2, b, "en", "s", 0)]
    out = _with_docs(
        spark, rows, lambda d: corpus_split_leakage(spark, d).collect()
    )
    leaks = [(r.split_lo, r.split_hi, r.n_pairs) for r in out if r.is_leak]
    assert leaks == [("test", "train", 1)]


def test_key_skew_reports_planted_hot_key(spark):
    """90 rows on one part + 10 singleton parts: top1_share ~ 0.9, max 90,
    p50 of key counts 1."""
    import tempfile

    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.quality_suite import (
        qc_key_skew,
    )
    import datetime as dt

    rows = []
    for i in range(90):
        rows.append((i, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
                     dt.datetime(1995, 6, 1)))
    for k in range(2, 12):
        rows.append((100 + k, k, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
                     dt.datetime(1995, 6, 1)))
    df = spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
        (r,) = qc_key_skew(spark, d).collect()
    assert r.n_rows == 100 and r.n_keys == 11
    assert r.max_key_rows == 90 and r.top1_share == 0.9
    assert r.p50_key_rows == 1.0


def test_winnowing_guarantees_match_of_window_length(spark):
    """Winnowing's selection guarantee: two docs sharing a contiguous run
    of >= W+2 tokens MUST share at least one fingerprint. Planted: docs
    share a 12-token run embedded in different surroundings; an unrelated
    doc pairs with neither."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
        dedup_winnowing_pairs,
    )

    shared_run = " ".join(f"run{i}" for i in range(12))
    rows = [
        (1, "alpha beta " + shared_run + " gamma delta", "en", "s", 0),
        (2, "zig zag " + shared_run + " zog zug", "en", "s", 0),
        (3, " ".join(f"other{i}" for i in range(20)), "en", "s", 0),
    ]
    out = _with_docs(
        spark, rows, lambda d: dedup_winnowing_pairs(spark, d).collect()
    )
    pairs = {(r.doc_a, r.doc_b) for r in out}
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_encoding_audit_flags_planted_damage(spark):
    """One clean doc plus one of each damage class per source: the per-class
    counters and the combined damage rate must see exactly the planted
    docs (a doc with several signatures counts once in n_damaged)."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.corpus import (
        corpus_encoding_audit,
    )

    rows = [
        (1, "perfectly clean english text", "en", "a", 0),
        (2, "broken � decode here", "en", "a", 0),
        (3, "smart quote gone wrong â€™ and Ã© together", "en", "a", 0),
        # cp1252-channel mojibake of an UPPERCASE accent: É -> C3 89 ->
        # 'Ã' + U+2030 (outside the Latin-1 continuation range) — the
        # class the code-review r7 fix added
        (7, "the CAFÃ‰ menu and Ãœber rides", "en", "a", 0),
        (4, "binary\x07junk\x01inside", "en", "a", 0),
        (5, "tab\tand\nnewline are fine", "en", "b", 0),
        # legitimate uppercase accents: 'Ã' followed by ASCII letters must
        # NOT be flagged (ADVICE r6: the bare contains('Ã') false positive)
        (6, "NÃO aqui mas SÃO PAULO limpo", "pt", "b", 0),
    ]
    out = {
        r.source: r
        for r in _with_docs(
            spark, rows, lambda d: corpus_encoding_audit(spark, d).collect()
        )
    }
    a = out["a"]
    assert (a.n_docs, a.n_replacement, a.n_mojibake, a.n_control) == (5, 1, 2, 1)
    assert a.damage_rate == 0.8
    b = out["b"]
    assert (b.n_docs, b.n_replacement, b.n_mojibake, b.n_control) == (2, 0, 0, 0)
    assert b.damage_rate == 0.0


def test_bpe_train_merge_sequence_on_planted_words(spark):
    """Corpus of three 'aaab' words: step 1 merges (a,a) with Sennrich
    count 6 (overlapping pairs in 'aaa' count twice, but apply is greedy
    left-to-right so only ONE merge lands per word), step 2 tie-breaks
    (a,b) vs (aa,a) at count 3 lexicographically, step 3 merges the two
    remaining symbols (aa,ab)."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import text_bpe_train

    rows = [(1, "aaab aaab aaab", "en", "s", 0)]
    out = _with_docs(
        spark, rows, lambda d: text_bpe_train(spark, d).collect()
    )
    got = [(r.step, r.merge_left, r.merge_right, r.pair_count) for r in out]
    assert got == [(1, "a", "a", 6), (2, "a", "b", 3), (3, "aa", "ab", 3)], got


def test_gopher_rules_ledger_counts_planted_violations(spark):
    """One doc per rule violation plus one clean doc: each rule row must
    count exactly its planted offenders, and any_rule must count distinct
    failing docs (not rule firings)."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.corpus import (
        corpus_gopher_rules,
    )

    clean = "the quick brown fox jumps over the lazy dog and it runs " * 3
    rows = [
        (1, clean, "en", "s", 0),                      # passes everything
        (2, "the and tiny doc", "en", "s", 0),         # min_words only
        (3, "the and " + "word " * 90, "en", "s", 0),  # max_words only
        (4, clean + " supercalifragilisticexpialidocious", "en", "s", 0),
        # ^ max_word_len only
        (5, "the and " + "!@#$%^&*()" * 20 + " " + "word " * 24, "en", "s", 0),
        # ^ symbol_ratio only (26 words incl 2 stopwords, mean len ok)
        (6, "zz yy xx ww vv uu tt ss rr qq pp oo nn mm ll kk jj ii hh gg "
            "ff ee dd cc bb aa zz yy xx ww", "en", "s", 0),
        # ^ mean_word_len (2.0) + stopword_hits (0 stops)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {
        r.rule: r
        for r in _with_docs(
            spark, rows, lambda d: corpus_gopher_rules(spark, d).collect()
        )
    }
    assert out["min_words"].n_fail == 1
    assert out["max_words"].n_fail == 1
    assert out["max_word_len"].n_fail == 1
    assert out["symbol_ratio"].n_fail == 1
    assert out["mean_word_len"].n_fail == 1
    assert out["stopword_hits"].n_fail == 1
    assert out["any_rule"].n_fail == 5  # docs 2-6; doc 1 passes
    assert out["any_rule"].n_docs == 6


def test_temperature_mix_planted_shares_and_boosts(spark):
    """alpha=0.5 on a 400-token vs 100-token pair: sqrt weights 20:10 give
    temp shares 2/3 : 1/3 against raw shares 0.8 : 0.2 — the low-resource
    source is boosted by exactly 5/3 and the high-resource one damped to
    5/6. Shares must sum to ~1 and the boost must always move shares
    TOWARD uniform, never past it."""
    import tempfile

    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.corpus import (
        corpus_temperature_mix,
    )

    rows = [(i, "tok " * 40, "en", "big", 0) for i in range(10)]
    rows += [(100 + i, "tok " * 20, "en", "small", 0) for i in range(5)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
        out = {r.source: r for r in corpus_temperature_mix(spark, d).collect()}
    big, small = out["big"], out["small"]
    assert big.src_tokens == 400 and small.src_tokens == 100
    assert big.raw_share == 0.8 and small.raw_share == 0.2
    assert abs(big.temp_share - 2 / 3) < 1e-6
    assert abs(small.temp_share - 1 / 3) < 1e-6
    assert abs(big.boost - 5 / 6) < 1e-5 and abs(small.boost - 5 / 3) < 1e-5
    assert abs(big.temp_share + small.temp_share - 1.0) < 1e-5
    # temperature moves every share toward uniform (1/2), never past it
    assert 0.5 < big.temp_share < big.raw_share
    assert small.raw_share < small.temp_share < 0.5


def test_novelty_curve_planted_first_occurrence_attribution(spark):
    """Ten docs = ten ingestion deciles. A duplicated doc contributes zero
    new shingles in its bucket; a fresh doc is 100% novel; the cumulative
    curve is the running distinct-shingle count and never decreases."""
    import tempfile

    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.corpus import (
        corpus_novelty_curve,
    )

    texts = {
        0: "alpha beta gamma delta",      # 2 new shingles
        1: "alpha beta gamma delta",      # exact dup -> 0 new
        2: "epsilon zeta eta",            # 1 new
        3: "alpha beta gamma",            # substring of doc 0 -> 0 new
    }
    rows = [
        (i, texts.get(i, f"unique{i} filler{i} tail{i}"), "en", "s", 0)
        for i in range(10)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
        out = {r.bucket: r for r in corpus_novelty_curve(spark, d).collect()}
    assert out[0].new_ngrams == 2 and out[0].novelty_rate == 1.0
    assert out[1].new_ngrams == 0 and out[1].novelty_rate == 0.0
    assert out[2].new_ngrams == 1
    assert out[3].new_ngrams == 0, "substring re-uses doc 0's shingle"
    cums = [out[b].cum_ngrams for b in sorted(out)]
    assert cums == sorted(cums)
    assert cums[-1] == sum(out[b].new_ngrams for b in sorted(out))


def test_clustering_coeff_triple_is_closed_and_pairs_are_filtered(spark):
    """Three identical docs form a triangle in the near-dup graph: each
    corner must report degree 2, one triangle, lcc exactly 1.0. An
    identical PAIR has degree-1 endpoints, below the C(d,2) domain, and
    must not appear at all; a singleton has no edges."""
    import tempfile

    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.corpus import (
        corpus_clustering_coeff,
    )

    t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    t2 = "one two three four five six seven eight nine ten " * 3
    t3 = "solitary document with no duplicate partner anywhere here " * 3
    rows = (
        [(i, t1, "en", "s", 0) for i in range(3)]
        + [(10 + i, t2, "en", "s", 0) for i in range(2)]
        + [(20, t3, "en", "s", 0)]
    )
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
        out = corpus_clustering_coeff(spark, d).collect()
    assert [r.node for r in out] == [0, 1, 2]
    for r in out:
        assert r.degree == 2 and r.tri_cnt == 1 and r.lcc == 1.0, r


def test_kl_divergence_hand_computed_micro_nats(spark):
    """Two planted sources with 4 tokens each: A = {x:3, y:1}, B = {y:4},
    corpus = {x:3, y:5}, N=8. Hand-carried micro-nat arithmetic (ln rounded
    once to BIGINT micro-nats, exact integer weighted sum, one sign-safe
    DIV-round):
      KL(A) = (3*693147 + 1*-916291) / 4 -> 0.290788
      KL(B) = (4*470004) / 4           -> 0.470004
    Both nonnegative, and the per-source token/term totals must match the
    planted counts exactly."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.corpus import (
        corpus_kl_divergence,
    )

    rows = [
        (1, "x x x y", "en", "A", 0),
        (2, "y y y y", "en", "B", 0),
    ]
    out = {
        r.source: r
        for r in _with_docs(
            spark, rows, lambda d: corpus_kl_divergence(spark, d).collect()
        )
    }
    a, b = out["A"], out["B"]
    assert (a.n_tokens, a.n_terms) == (4, 2)
    assert (b.n_tokens, b.n_terms) == (4, 1)
    assert a.kl_nats == 0.290788
    assert b.kl_nats == 0.470004
    assert a.kl_nats >= 0 and b.kl_nats >= 0


def test_kl_divergence_identical_sources_are_zero(spark):
    """Two sources with the SAME unigram distribution as the corpus mix:
    every per-term ratio is exactly 1, ln is exactly 0 on both engines, and
    both KLs export as 0.0 — the no-drift fixed point."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.corpus import (
        corpus_kl_divergence,
    )

    rows = [
        (1, "x x y", "en", "A", 0),
        (2, "x x y", "en", "B", 0),
    ]
    out = _with_docs(
        spark, rows, lambda d: corpus_kl_divergence(spark, d).collect()
    )
    assert [r.kl_nats for r in out] == [0.0, 0.0]


def test_quality_classifier_exact_features_and_decision(spark, tmp_path):
    """Hand-computed inference: a 120-distinct-token clean doc has
    f_len=f_qs=f_rep=1e6, f_stop=0 -> logit 1_500_000 (keep); a
    4x-repeated-token doc has f_len=40000, f_qs=80000, f_rep=250000 ->
    logit -2_050_000 (drop); empty and NULL docs keep their rows with
    every feature 0 and logit == bias (total function, no quarantine)."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.corpus import (
        QCLF_BIAS_MICRO,
        corpus_quality_classifier,
    )

    rows = [
        (1, " ".join(f"w{i}" for i in range(120)), "en", "srcA", 0),
        (2, "spam spam spam spam", "en", "srcA", 0),
        (3, "", "en", "srcB", 0),
        (4, None, "en", "srcB", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    got = {r.doc_id: r for r in
           corpus_quality_classifier(spark, str(tmp_path)).collect()}
    assert set(got) == {1, 2, 3, 4}
    r1 = got[1]
    assert (r1.f_len, r1.f_qs, r1.f_stop, r1.f_rep) == (
        1000000, 1000000, 0, 1000000
    )
    assert r1.logit_micro == 1500000 and r1.keep
    r2 = got[2]
    assert (r2.f_len, r2.f_qs, r2.f_rep) == (40000, 80000, 250000)
    assert r2.logit_micro == -2050000 and not r2.keep
    for d in (3, 4):
        r = got[d]
        assert (r.f_len, r.f_qs, r.f_stop, r.f_rep) == (0, 0, 0, 0)
        assert r.logit_micro == QCLF_BIAS_MICRO and not r.keep


def test_prep_pipeline_clf_gates_then_dedups(spark, tmp_path):
    """Composition fixture: doc 1 (clean, 120 distinct tokens) survives;
    doc 2 (exact duplicate text of doc 1, higher id) is dropped by the
    exact-hash keep-first rule even though the classifier keeps it;
    doc 3 (junk: 4 repeated tokens) is dropped by the classifier gate;
    survivor rows carry the classifier's exact logit."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.corpus import (
        corpus_prep_pipeline_clf,
    )

    clean = " ".join(f"w{i}" for i in range(120))
    rows = [
        (1, clean, "en", "srcA", 0),
        (2, clean, "en", "srcA", 0),
        (3, "spam spam spam spam", "en", "srcA", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    got = corpus_prep_pipeline_clf(spark, str(tmp_path)).collect()
    assert [(r.doc_id, r.logit_micro) for r in got] == [(1, 1500000)]


def test_prep_pipeline_clf_verify_band_pair_survives_both_engines(
    spark, tmp_path
):
    """A near-dup pair whose true Jaccard lands in
    [MINHASH_VERIFY_THRESHOLD, JACCARD_THRESHOLD) must survive the clf
    pipeline on BOTH engines (ADVICE r9 high: the oracle used to derive
    losers from the shared 0.7-verified pairs CTE while Spark drops only
    at 0.8, so this exact band silently diverged).

    Fixture: doc 2 shares tokens w0..w99 with doc 1 but replaces the last
    20 — 98 common 3-shingles of 118 each, J = 98/138 = 0.710145. The
    pair IS an LSH candidate (asserted via dedup_minhash_lsh_pairs, which
    verifies at 0.7), both docs pass the classifier gate, and BOTH must
    be kept: 0.710145 < JACCARD_THRESHOLD."""
    import duckdb

    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.corpus import (
        CORPUS_PREP_CLF_SQL,
        corpus_prep_pipeline_clf,
    )
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
        JACCARD_THRESHOLD,
        MINHASH_VERIFY_THRESHOLD,
        dedup_minhash_lsh_pairs,
    )

    doc_a = " ".join(f"w{i}" for i in range(120))
    doc_b = " ".join(
        [f"w{i}" for i in range(100)] + [f"v{i}" for i in range(20)]
    )
    rows = [(1, doc_a, "en", "srcA", 0), (2, doc_b, "en", "srcA", 0)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))

    pairs = dedup_minhash_lsh_pairs(spark, str(tmp_path)).collect()
    assert [(p.doc_a, p.doc_b) for p in pairs] == [(1, 2)], (
        "fixture must be an LSH candidate pair"
    )
    assert MINHASH_VERIFY_THRESHOLD <= pairs[0].jaccard < JACCARD_THRESHOLD

    got = sorted(
        (r.doc_id, r.logit_micro)
        for r in corpus_prep_pipeline_clf(spark, str(tmp_path)).collect()
    )
    assert got == [(1, 1500000), (2, 1500000)]

    con = duckdb.connect()
    files = sorted(
        str(p) for p in (tmp_path / "documents.parquet").glob("*.parquet")
    )
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet({files!r})"
    )
    oracle = sorted(tuple(r) for r in con.execute(CORPUS_PREP_CLF_SQL).fetchall())
    assert oracle == [(1, 1500000), (2, 1500000)]


def test_waterfill_saturates_small_sources_and_sums_to_budget(spark, tmp_path):
    """Token census a=2, b=10, c=30 -> total 42, budget 21. Water-fill:
    a is saturated (2*3 <= 21); b is not (10*2 > 19); theta = 19 div 2 =
    9 with remainder 1 bumping b (the first unsaturated source) to 10.
    Allocations (2, 10, 9) must sum exactly to the budget."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.corpus import (
        corpus_token_budget_waterfill,
    )

    rows = [
        (1, "w w", "en", "srcA", 0),
        (2, " ".join(["w"] * 10), "en", "srcB", 0),
        (3, " ".join(["w"] * 10), "en", "srcC", 0),
        (4, " ".join(["w"] * 10), "en", "srcC", 0),
        (5, " ".join(["w"] * 10), "en", "srcC", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.source: r
        for r in corpus_token_budget_waterfill(spark, str(tmp_path)).collect()
    }
    assert set(got) == {"srcA", "srcB", "srcC"}
    assert (got["srcA"].tokens, got["srcA"].saturated, got["srcA"].alloc) == (
        2, True, 2,
    )
    assert (got["srcB"].tokens, got["srcB"].saturated, got["srcB"].alloc) == (
        10, False, 10,
    )
    assert (got["srcC"].tokens, got["srcC"].saturated, got["srcC"].alloc) == (
        30, False, 9,
    )
    assert sum(r.alloc for r in got.values()) == 21
    assert all(r.budget == 21 for r in got.values())
    assert got["srcB"].alloc_share == 0.47619


def test_lm_interpolated_prefers_predictable_continuations(spark, tmp_path):
    """JM interpolation scores the ML bigram leg: a doc whose every
    history has ONE continuation (a b a b ... -> P_ML = 1 for each
    bigram) must score a lower avg_nll_jm than a doc whose shared
    history splits four ways (c x c y c z c w -> P_ML = 1/4); bigram
    counts are exact."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.corpus import (
        text_lm_interpolated,
    )

    rows = [
        (1, "a b " * 10, "en", "srcA", 0),
        (2, "c x c y c z c w", "en", "srcB", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    got = {r.doc_id: r for r in text_lm_interpolated(spark, str(tmp_path)).collect()}
    assert got[1].n_bigrams == 19  # 20 tokens -> 19 bigrams
    assert got[2].n_bigrams == 7
    assert got[1].avg_nll_jm < got[2].avg_nll_jm
    assert got[1].avg_nll_jm > 0


def test_curriculum_phases_band_assignment_and_exact_means(spark, tmp_path):
    """The classifier-fixture docs land in known quality-micro bands: the
    120-distinct-token clean doc (q_micro 1e6) in phase 4, the repeated
    spam doc (80000) and the empty doc (0) in phase 1; cell stats carry
    exact token sums and the DIV-rounded mean."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.corpus import (
        corpus_curriculum_phases,
    )

    rows = [
        (1, " ".join(f"w{i}" for i in range(120)), "en", "srcA", 0),
        (2, "spam spam spam spam", "en", "srcA", 0),
        (3, "", "en", "srcB", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        (r.phase, r.source): r
        for r in corpus_curriculum_phases(spark, str(tmp_path)).collect()
    }
    assert set(got) == {(4, "srcA"), (1, "srcA"), (1, "srcB")}
    r4 = got[(4, "srcA")]
    assert (r4.n_docs, r4.tokens, r4.avg_q_micro) == (1, 120, 1000000)
    r1 = got[(1, "srcA")]
    assert (r1.n_docs, r1.tokens, r1.avg_q_micro) == (1, 4, 80000)
    r1b = got[(1, "srcB")]
    assert (r1b.n_docs, r1b.tokens, r1b.avg_q_micro) == (1, 0, 0)


def test_waterfill_all_null_source_census_is_zero(spark, tmp_path):
    """A source whose every doc has NULL text must census to 0 tokens
    (saturated, alloc 0) — without the per-doc COALESCE its census is
    NULL and the ORDER BY tokens walk diverges across engines (Spark
    NULLS FIRST vs DuckDB NULLS LAST), silently shifting the remainder
    token to a different source."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.corpus import (
        corpus_token_budget_waterfill,
    )

    rows = [
        (1, None, "en", "srcNull", 0),
        (2, None, "en", "srcNull", 0),
        (3, "w w w w", "en", "srcC", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.source: r
        for r in corpus_token_budget_waterfill(spark, str(tmp_path)).collect()
    }
    assert (got["srcNull"].tokens, got["srcNull"].saturated, got["srcNull"].alloc) == (
        0, True, 0,
    )
    assert (got["srcC"].tokens, got["srcC"].alloc, got["srcC"].budget) == (4, 2, 2)


def test_soft_dedup_weights_invariants(spark):
    rows = corpus_soft_dedup_weights(spark, SF_SMALL).collect()
    assert rows, "empty weight table"
    by_doc = {r.doc_id: r for r in rows}
    # every doc gets a weight; multiplicity >= 1 so 0 < weight <= 1e6
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    assert len(rows) == docs.count()
    for r in rows:
        assert r.n_exact >= 1
        assert r.n_near >= 0
        eff = r.n_exact + r.n_near
        assert r.weight_micro == (2 * 1_000_000 + eff) // (2 * eff)
        assert 0 < r.weight_micro <= 1_000_000
    # near-dup partner counts agree with the verified pair list
    pairs = (
        dedup_minhash_lsh_pairs(spark, SF_SMALL)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .collect()
    )
    expected: dict[int, int] = {}
    for p in pairs:
        expected[p.doc_a] = expected.get(p.doc_a, 0) + 1
        expected[p.doc_b] = expected.get(p.doc_b, 0) + 1
    for doc_id, n in expected.items():
        assert by_doc[doc_id].n_near == n
    # a singleton unique doc weighs exactly 1.0
    singles = [r for r in rows if r.n_exact == 1 and r.n_near == 0]
    assert singles and all(r.weight_micro == 1_000_000 for r in singles)


def test_lm_heldout_scores_only_the_heldout_fold(spark):
    rows = text_lm_heldout_perplexity(spark, SF_SMALL).collect()
    assert rows, "no held-out docs scored"
    assert all(r.doc_id % 10 >= 8 for r in rows)
    # add-one smoothing: every NLL is positive and finite
    assert all(
        r.avg_nll_heldout > 0 and math.isfinite(r.avg_nll_heldout)
        for r in rows
    )
    # a planted unseen bigram must score worse than a train-frequent one:
    # held-out NLL >= the resubstitution NLL on average (train counts
    # cannot over-fit the held-out docs)
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.corpus import (
        text_lm_score,
    )

    resub = {
        r.doc_id: r.avg_nll for r in text_lm_score(spark, SF_SMALL).collect()
    }
    held = {r.doc_id: r.avg_nll_heldout for r in rows}
    common = set(held) & set(resub)
    assert common
    mean_held = sum(held[d] for d in common) / len(common)
    mean_resub = sum(resub[d] for d in common) / len(common)
    assert mean_held >= mean_resub - 0.5  # held-out never dramatically easier


def test_quality_calibration_bins_partition_the_corpus(spark):
    rows = corpus_quality_calibration(spark, SF_SMALL).collect()
    assert rows
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    assert sum(r.n_docs for r in rows) == docs.count()
    for r in rows:
        assert -3 <= r.bin <= 5
        assert 0 <= r.n_agree <= r.n_docs
        assert 0 <= r.n_rule_pass <= r.n_docs
        assert 0 <= r.n_clf_keep <= r.n_docs
        assert abs(r.agree_rate - r.n_agree / r.n_docs) < 1e-5
    bins = [r.bin for r in rows]
    assert bins == sorted(bins)


def test_kneser_ney_prefers_predictable_text(spark):
    rows = corpus_lm_kneser_ney(spark, SF_SMALL).collect()
    assert rows, "no scored docs"
    for r in rows:
        # every bigram probability is < 1 => avg NLL strictly positive
        assert r.avg_nll_kn > 0 and math.isfinite(r.avg_nll_kn)
        assert r.n_bigrams >= 1


def test_kneser_ney_hand_computed_corpus(spark, tmp_path):
    """Hand-check the KN mixture on a 3-doc corpus small enough to do on
    paper: docs 'a b', 'a b', 'a c' => bigram counts c(a b)=2, c(a c)=1,
    c1(a)=3, N1+(a .)=2, N1+(. b)=1, N1+(. c)=1, NT=2."""
    rows = [
        Row(doc_id=0, text="a b", lang="en", source="s", n_chars=3),
        Row(doc_id=1, text="a b", lang="en", source="s", n_chars=3),
        Row(doc_id=2, text="a c", lang="en", source="s", n_chars=3),
    ]
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {
        r.doc_id: r.avg_nll_kn
        for r in corpus_lm_kneser_ney(spark, str(tmp_path)).collect()
    }
    # P(b|a) = (max(4*2-3,0)*2 + 3*2*1) / (4*3*2) = (10+6)/24 = 16/24
    # P(c|a) = (max(4*1-3,0)*2 + 3*2*1) / (4*3*2) = (2+6)/24 = 8/24
    p_b = (max(4 * 2 - 3, 0) * 2 + 3 * 2 * 1) / (4 * 3 * 2)
    p_c = (max(4 * 1 - 3, 0) * 2 + 3 * 2 * 1) / (4 * 3 * 2)
    assert abs(out[0] - (-math.floor(math.log(p_b) * 1e6 + 0.5) / 1e6)) < 2e-6
    assert abs(out[2] - (-math.floor(math.log(p_c) * 1e6 + 0.5) / 1e6)) < 2e-6
    assert out[0] < out[2], "the twice-seen bigram must score as more likely"


def test_tokenizer_fertility_totals(spark):
    rows = corpus_tokenizer_fertility(spark, SF_SMALL).collect()
    assert rows
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    assert sum(r.n_docs for r in rows) == docs.count()
    for r in rows:
        assert r.tokens_per_doc > 0
        if r.tot_tokens > 0:
            assert r.chars_per_token > 0


def test_pii_detect_plants(spark, tmp_path):
    rows = [
        Row(doc_id=0, text="contact me at bob@example.com today",
            lang="en", source="s0", n_chars=35),
        Row(doc_id=1, text="call 5551234567 now", lang="en", source="s0",
            n_chars=19),
        Row(doc_id=2, text="account 123456789012 flagged", lang="en",
            source="s1", n_chars=28),
        Row(doc_id=3, text="clean text only words", lang="en", source="s1",
            n_chars=21),
        Row(doc_id=4, text=None, lang="en", source="s1", n_chars=None),
    ]
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {r.source: r for r in text_pii_detect(spark, str(tmp_path)).collect()}
    s0, s1 = out["s0"], out["s1"]
    assert s0.n_email_like == 1 and s0.n_digit7 == 1 and s0.n_digit12 == 0
    assert s0.n_docs == 2 and abs(s0.flagged_share - 1.0) < 1e-9
    # the 12-digit run also counts as a 7+ run; NULL text is clean
    assert s1.n_digit12 == 1 and s1.n_digit7 == 1 and s1.n_email_like == 0
    assert s1.n_docs == 3 and abs(s1.flagged_share - round(1 / 3, 6)) < 2e-6


def test_pii_detect_clean_synthetic_corpus(spark):
    """The driver's synthetic docs are lowercase word soup — the census
    must report them clean rather than hallucinate matches."""
    rows = text_pii_detect(spark, SF_SMALL).collect()
    assert rows
    assert all(r.n_email_like == 0 for r in rows)
    assert all(r.flagged_share == 0.0 for r in rows)


def test_ccnet_buckets_partition_each_language(spark):
    buckets = corpus_ccnet_perplexity_buckets(spark, SF_SMALL).collect()
    scored = text_lm_score(spark, SF_SMALL)
    from walmart_retail_pyspark_sqlite_pipeline_spark.sources import read_table

    langs = read_table(spark, SF_SMALL, "documents").select("doc_id", "lang")
    per_lang = {
        r.lang: r.n
        for r in scored.join(langs, "doc_id")
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    by_lang: dict[str, dict[str, object]] = {}
    for r in buckets:
        by_lang.setdefault(r.lang, {})[r.bucket] = r
    for lang, bs in by_lang.items():
        assert sum(b.n_docs for b in bs.values()) == per_lang[lang]
        # tercile sizes differ by at most 1
        sizes = sorted(b.n_docs for b in bs.values())
        assert sizes[-1] - sizes[0] <= 1
        # head reads more fluent than tail, and ranges don't invert
        if "head" in bs and "tail" in bs:
            assert bs["head"].mean_nll <= bs["tail"].mean_nll
            assert bs["head"].max_nll <= bs["tail"].min_nll + 1e-9


def test_training_order_is_dense_deterministic_and_sharded(spark):
    rows = corpus_training_order(spark, SF_SMALL).collect()
    n = len(rows)
    assert sorted(r.ord for r in rows) == list(range(1, n + 1)), (
        "ord must be a dense 1..n permutation"
    )
    # reproducible: a second independent invocation yields the same order
    again = {
        r.doc_id: r.ord for r in corpus_training_order(spark, SF_SMALL).collect()
    }
    assert {r.doc_id: r.ord for r in rows} == again
    # shard/pos are the fixed-size block decomposition of ord
    for r in rows:
        assert r.shard == (r.ord - 1) // SHARD_DOCS
        assert r.pos == (r.ord - 1) % SHARD_DOCS
    # and the order is actually shuffled, not doc_id order (md5 keying):
    by_ord = [r.doc_id for r in sorted(rows, key=lambda r: r.ord)]
    assert by_ord != sorted(by_ord)


def test_training_order_matches_window_row_number(spark):
    """The distributed rank must equal the naive unpartitioned
    ROW_NUMBER over the same md5 key (small data, so the banned window
    is affordable as the test oracle)."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.corpus import (
        TRAINING_ORDER_SEED,
    )

    docs = spark.createDataFrame([Row(doc_id=i) for i in range(257)])
    keyed = docs.select(
        "doc_id",
        F.md5(
            F.concat(
                F.lit(TRAINING_ORDER_SEED + ":"), F.col("doc_id").cast("string")
            )
        ).alias("k"),
    )
    w = Window.orderBy(F.col("k").asc_nulls_first(), F.col("doc_id").asc_nulls_first())
    want = {
        r.doc_id: r.ord
        for r in keyed.withColumn("ord", F.row_number().over(w)).collect()
    }
    from walmart_retail_pyspark_sqlite_pipeline_spark.operators.ranking import (
        global_row_number,
    )

    got = {
        r.doc_id: r.ord
        for r in global_row_number(
            keyed,
            [F.col("k").asc_nulls_first(), F.col("doc_id").asc_nulls_first()],
            out="ord",
        ).collect()
    }
    assert got == want


def test_cdc_chunking_is_shift_resistant(spark, tmp_path):
    """THE content-defined-chunking contract: a prefix insertion leaves
    the chunks past the edit identical, so most of the shifted copy still
    dedups chunk-for-chunk (fixed-width chunking would share nothing)."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.corpus import (
        corpus_cdc_chunk_dedup,
    )

    sf = str(tmp_path)
    words = [f"w{i * 7919 % 1000}x{i % 13}" for i in range(400)]
    base = " ".join(words)
    shifted = "inserted prefix tokens here " + base
    spark.createDataFrame(
        [
            Row(doc_id=1, text=base, lang="en", source="a", n_chars=len(base)),
            Row(doc_id=2, text=shifted, lang="en", source="b",
                n_chars=len(shifted)),
        ]
    ).write.parquet(f"{sf}/documents.parquet")
    hist = {r.n_copies: r for r in corpus_cdc_chunk_dedup(spark, sf).collect()}
    shared_toks = sum(
        r.tok_total for c, r in hist.items() if c >= 2
    )
    total_toks = sum(r.tok_total for r in hist.values())
    assert total_toks == 400 + 404
    # shared chunks cover both copies; the base doc alone is 400 tokens —
    # well over half of its content must re-sync after the edit
    assert shared_toks >= 400, (shared_toks, dict(hist))


def test_cdc_chunking_identical_docs_fully_dedup(spark, tmp_path):
    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.corpus import (
        corpus_cdc_chunk_dedup,
    )

    sf = str(tmp_path)
    txt = " ".join(f"tok{i * 31 % 97}" for i in range(200))
    spark.createDataFrame(
        [
            Row(doc_id=i, text=txt, lang="en", source="s", n_chars=len(txt))
            for i in range(3)
        ]
    ).write.parquet(f"{sf}/documents.parquet")
    rows = corpus_cdc_chunk_dedup(spark, sf).collect()
    # identical docs -> every distinct chunk appears a multiple of 3
    # times (3x its within-doc repetition count; the planted text has
    # period 97, so some chunks DO repeat inside one doc)
    assert rows and all(r.n_copies % 3 == 0 for r in rows), rows
    assert sum(r.tok_total for r in rows) == 600
