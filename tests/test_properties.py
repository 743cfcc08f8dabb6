"""Property-based tests (SURVEY §5 item 4): operator invariants over
generated inputs. Spark jobs are slow per-example, so examples are few and
each example batches many rows into one DataFrame."""

import string

from hypothesis import given, settings, strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from walmart_retail_pyspark_sqlite_pipeline_spark.functions import hashing
from walmart_retail_pyspark_sqlite_pipeline_spark.operators import (
    enforce_schema,
    rename_columns,
)
from walmart_retail_pyspark_sqlite_pipeline_spark.streaming import sessionize

_ident = st.text(string.ascii_lowercase, min_size=1, max_size=8)


@settings(max_examples=5, deadline=None)
@given(
    mapping=st.dictionaries(_ident, _ident, min_size=1, max_size=6).filter(
        lambda m: len(set(m.values())) == len(m)
    )
)
def test_rename_output_columns_equal_mapping_values(spark, mapping):
    df = spark.createDataFrame([Row(**{k: "v" for k in mapping})])
    out = rename_columns(df, mapping)
    assert out.columns == list(mapping.values())


@settings(max_examples=5, deadline=None)
@given(
    expected=st.dictionaries(
        _ident, st.sampled_from(["int", "double", "string"]), min_size=1, max_size=6
    ),
    present=st.data(),
)
def test_enforce_schema_column_set_and_order(spark, expected, present):
    have = present.draw(st.sets(st.sampled_from(sorted(expected)), max_size=len(expected)))
    row = {k: "1" for k in have} or {"__placeholder": "x"}
    df = spark.createDataFrame([Row(**row)])
    out, extras = enforce_schema(df, expected)
    assert out.columns == list(expected)
    assert set(extras) == set(df.columns) - set(expected)


@settings(max_examples=5, deadline=None)
@given(
    texts=st.lists(
        st.text(string.ascii_lowercase + " 0123456789", max_size=60),
        min_size=1,
        max_size=30,
    )
)
def test_poly_hash_matches_python_model(spark, texts):
    P = hashing.MERSENNE_P

    def model(s):
        acc = 0
        for ch in s:
            acc = (acc * 31 + ord(ch)) % P
        return acc

    df = spark.createDataFrame([Row(i=i, s=s) for i, s in enumerate(texts)])
    got = {
        r.i: r.h
        for r in df.select("i", hashing.poly_hash(F.col("s")).alias("h")).collect()
    }
    for i, s in enumerate(texts):
        assert got[i] == model(s), (i, s)


@settings(max_examples=5, deadline=None)
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),        # user_id
            st.integers(min_value=0, max_value=20_000),   # ts offset seconds
        ),
        min_size=1,
        max_size=60,
        unique=True,
    )
)
def test_sessionize_invariants(spark, events):
    from datetime import datetime, timezone

    base = 1_700_000_000
    rows = [
        Row(
            user_id=u,
            event_id=i,
            ts=datetime.fromtimestamp(base + off, tz=timezone.utc),
        )
        for i, (u, off) in enumerate(events)
    ]
    out = sessionize(spark.createDataFrame(rows)).collect()
    # partition: every event in exactly one session
    assert sum(r.n_events for r in out) == len(rows)
    for r in out:
        assert r.duration_s >= 0
        assert r.session_end >= r.session_start
    # sessions of one user are separated by more than the gap
    by_user = {}
    for r in out:
        by_user.setdefault(r.user_id, []).append(r)
    for sess in by_user.values():
        sess.sort(key=lambda r: r.session_start)
        for a, b in zip(sess, sess[1:]):
            assert b.session_start - a.session_end > 1800


@settings(max_examples=3, deadline=None)
@given(seed=st.integers(min_value=0, max_value=10_000))
def test_left_join_preserves_rows_under_unique_right_keys(spark, seed):
    import random

    rng = random.Random(seed)
    left = [Row(k=rng.randint(1, 20), v=i) for i in range(50)]
    right_keys = rng.sample(range(1, 30), 12)  # unique keys
    right = [Row(k=k, w=str(k)) for k in right_keys]
    lf, rf = spark.createDataFrame(left), spark.createDataFrame(right)
    joined = lf.join(rf, "k", "left")
    assert joined.count() == len(left)


@settings(max_examples=5, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(-50, 150)),
            st.sampled_from(["ok", "meh", "bad"]),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_constraint_counts_match_python(spark, rows):
    """Row-level constraint counters == a straight Python recount."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.quality import (
        accepted_values,
        in_range,
        not_null,
        validate,
    )

    df = spark.createDataFrame(
        [Row(qty=q, status=s) for q, s in rows],
        "qty int, status string",
    )
    rep = validate(
        df,
        [not_null("qty"), in_range("qty", 0, 100), accepted_values("status", ("ok", "bad"))],
    )
    assert rep.row_count == len(rows)
    assert rep.violations["not_null(qty)"] == sum(q is None for q, _ in rows)
    assert rep.violations["in_range(qty,0,100)"] == sum(
        q is None or q < 0 or q > 100 for q, _ in rows
    )
    assert rep.violations["accepted_values(status)"] == sum(
        s not in ("ok", "bad") for _, s in rows
    )


@settings(max_examples=3, deadline=None)
@given(
    signs=st.lists(
        st.lists(st.sampled_from([-1.0, 1.0, 2.5, -0.5]), min_size=64, max_size=64),
        min_size=2,
        max_size=8,
    )
)
def test_packed_hamming_matches_python_sign_model(spark, signs):
    """ann_hamming_packed vs a pure-Python model: for arbitrary sign
    patterns (including bit 63 both ways), the packed XOR+bit_count
    distance, the unpacked zip_with distance, and the Python mismatch
    count must all agree, and the top-k order must follow (distance,
    vec_id)."""
    import tempfile

    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
        ANN_K,
        ann_hamming_packed,
    )

    rows = [(i, [float(x) for x in v], 0) for i, v in enumerate(signs)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
        out = ann_hamming_packed(spark, d).collect()

    q = signs[0]
    model = {
        i: sum((x > 0) != (y > 0) for x, y in zip(v, q))
        for i, v in enumerate(signs)
        if i != 0
    }
    want = sorted(model.items(), key=lambda t: (t[1], t[0]))[:ANN_K]
    assert [(r.vec_id, r.hamming) for r in out] == want
    for r in out:
        assert r.hamming == r.hamming_unpacked and r.agree == 1, r


@settings(max_examples=3, deadline=None)
@given(
    data=st.data(),
)
def test_kmv_exact_columns_and_small_set_exactness(spark, data):
    """KMV invariants over generated corpora: the exact evaluation columns
    must satisfy set algebra (inter <= min, union = a + b - inter), the
    sketch sizes are capped by k, and whenever the union vocabulary fits
    inside the sketch every estimator equals its exact value."""
    import tempfile

    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.sketches import (
        _KMV_K,
        sketch_kmv_intersection,
    )

    vocab = [f"w{i}" for i in range(40)]  # < k so the small-set path is hit
    n_docs = data.draw(st.integers(min_value=2, max_value=6))
    docs = []
    for i in range(n_docs):
        words = data.draw(
            st.lists(st.sampled_from(vocab), min_size=1, max_size=30)
        )
        docs.append((i, " ".join(words), "en", "s", 0))
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
        rows = sketch_kmv_intersection(spark, d).collect()

    # a side may be empty (all docs even or all odd) -> no output row is
    # acceptable only if one side is missing; otherwise exactly one row
    sides = {i % 2 for i in range(n_docs)}
    if len(sides) < 2:
        assert rows == []
        return
    r = rows[0]
    assert r.exact_inter <= min(r.exact_a, r.exact_b)
    assert r.exact_union == r.exact_a + r.exact_b - r.exact_inter
    assert r.rho <= r.ku <= _KMV_K
    if r.exact_union <= _KMV_K:  # everything fits in the sketches: exact
        assert (r.est_a, r.est_b, r.est_union, r.est_inter) == (
            r.exact_a, r.exact_b, r.exact_union, r.exact_inter,
        )
        assert r.jaccard_est_ppm == r.jaccard_exact_ppm


@settings(max_examples=5, deadline=None)
@given(
    rows=st.lists(
        st.lists(
            st.floats(
                min_value=-1e4,
                max_value=1e4,
                allow_nan=False,
                allow_infinity=False,
                width=32,
            ),
            min_size=8,
            max_size=8,
        ).filter(lambda v: any(x != 0.0 for x in v)),
        min_size=1,
        max_size=20,
    )
)
def test_int8_quantize_equals_captured_lambda_formulation(spark, rows):
    """The round-9 perf rewrite of int8 quantization (zip_with against
    array_repeat — scale evaluated once per row) must be BIT-IDENTICAL to
    the original transform-with-captured-scale formulation on arbitrary
    nonzero float32 vectors, including all-negative and large-magnitude
    ones (floor() is asymmetric around zero, so sign coverage matters)."""
    from walmart_retail_pyspark_sqlite_pipeline_spark.functions import vectors

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(rows)],
        "vec_id long, embedding array<float>",
    )
    v = vectors.as_double(F.col("embedding"))
    scale = F.lit(127.0) / F.array_max(F.transform(v, F.abs))
    old = F.transform(v, lambda x: F.floor(x * scale))
    got = df.select(
        "vec_id",
        vectors.int8_quantize(v).alias("q_new"),
        old.alias("q_old"),
    ).collect()
    for r in got:
        assert r.q_new == r.q_old, (r.vec_id, r.q_new, r.q_old)


@settings(max_examples=4, deadline=None)
@given(
    names=st.lists(
        st.text(st.sampled_from("ab1"), min_size=1, max_size=6),
        min_size=2,
        max_size=24,
    ),
    nations=st.data(),
)
def test_entity_match_fastss_equals_brute_force(spark, tmp_path_factory, names, nations):
    """The deletion-neighborhood blocking must be EXACT: the blocked +
    levenshtein-verified pair counts equal brute-force equal-length
    distance-1 counting, for arbitrary names over a tiny alphabet (which
    maximizes collisions, the regime where a lossy blocking scheme would
    over- or under-count)."""
    import itertools

    from walmart_retail_pyspark_sqlite_pipeline_spark.plans.llm import (
        entity_match_customers,
    )

    nat = [nations.draw(st.integers(0, 1)) for _ in names]
    rows = [
        Row(c_custkey=i, c_name=n, c_nationkey=nk, c_acctbal=0.0,
            c_mktsegment="S", c_address="", c_phone="", c_comment="")
        for i, (n, nk) in enumerate(zip(names, nat))
    ]
    d = tmp_path_factory.mktemp("fastss")
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        str(d / "customer.parquet")
    )
    got = {
        r.nation: r.n_pairs
        for r in entity_match_customers(spark, str(d)).collect()
    }

    def lev1(a: str, b: str) -> bool:
        return (
            len(a) == len(b)
            and sum(x != y for x, y in zip(a, b)) == 1
        )

    want: dict[int, int] = {}
    for (i, (na, ka)), (j, (nb, kb)) in itertools.combinations(
        enumerate(zip(names, nat)), 2
    ):
        if ka == kb and lev1(na, nb):
            want[ka] = want.get(ka, 0) + 1
    assert got == want
