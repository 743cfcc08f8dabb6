"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, out_dir)``: the same seed
writes the same bytes. Each returns a dict of input properties that the run
records next to its metrics.

- :func:`walmart_csvs` writes ``train.csv``, ``features.csv`` and
  ``stores.csv`` shaped like the Kaggle Walmart files the reference ingests
  (FIXTURES.md): literal ``"NA"`` markdowns (MarkDown2 above the 0.6
  null-fraction threshold), ``TRUE``/``FALSE`` booleans and a few planted
  exact-duplicate train rows.
- :func:`corpus` writes ``documents.parquet``: a Zipf-vocabulary corpus with
  planted shares of exact and near copies.
- :func:`star` writes the star + events + embeddings parquet set with the
  column names and parquet types of the engine's TPC-H-ish test data; the
  events ``ts`` column is TIMESTAMP(NANOS).
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- Walmart retail CSVs ----------------------------------------------------

TRAIN_WEEKS = 143  # 2010-02-05 .. 2012-10-26, weekly Fridays
FEATURE_WEEKS = 182  # features extend past the train range
N_STORES = 45
FIRST_FRIDAY = dt.date(2010, 2, 5)
#: Super Bowl, Labor Day, Thanksgiving and Christmas weeks (the Kaggle set)
HOLIDAYS = frozenset(
    dt.date.fromisoformat(d)
    for d in (
        "2010-02-12", "2011-02-11", "2012-02-10", "2013-02-08",
        "2010-09-10", "2011-09-09", "2012-09-07", "2013-09-06",
        "2010-11-26", "2011-11-25", "2012-11-23",
        "2010-12-31", "2011-12-30", "2012-12-28",
    )
)
#: exact "NA" shares per markdown column; only MarkDown2 exceeds 0.6
MARKDOWN_NA = (0.508, 0.643, 0.559, 0.56, 0.505)
PLANTED_DUPLICATES = 12


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _write_csv(path: Path, header: str, columns: list[list[str]]) -> None:
    lines = [header]
    lines.extend(",".join(row) for row in zip(*columns))
    path.write_text("\n".join(lines) + "\n")


def _money(values: np.ndarray) -> list[str]:
    return [f"{v:.2f}" for v in values.tolist()]


def walmart_csvs(seed: int, out_dir: Path, depts_per_store: int) -> dict:
    """Write the three Walmart CSVs; ``depts_per_store`` sets the train size
    (the Kaggle file has about 81 departments per store, 421,570 rows)."""
    out_dir.mkdir(parents=True, exist_ok=True)
    rng = _rng(seed, 1)
    weeks = [FIRST_FRIDAY + dt.timedelta(days=7 * w) for w in range(FEATURE_WEEKS)]
    week_str = [d.isoformat() for d in weeks]
    holiday = np.array([d in HOLIDAYS for d in weeks])

    # stores: type and size
    types = rng.choice(np.array(["A", "B", "C"]), N_STORES, p=[0.49, 0.38, 0.13])
    sizes = rng.integers(34_000, 220_001, N_STORES)
    _write_csv(
        out_dir / "stores.csv",
        "Store,Type,Size",
        [[str(s) for s in range(1, N_STORES + 1)], types.tolist(),
         [str(v) for v in sizes.tolist()]],
    )

    # train: each store carries a random subset of departments of a fixed
    # size (so the row count, which sets the pipeline's cost, barely moves
    # with the seed), and each (store, dept) series is present in most but
    # not all weeks (sparse)
    store_col, dept_col, week_col = [], [], []
    for s in range(1, N_STORES + 1):
        depts = np.sort(rng.choice(np.arange(1, 100), depts_per_store, replace=False))
        present = rng.random((depts_per_store, TRAIN_WEEKS)) < 0.86
        d_idx, w_idx = np.nonzero(present)
        store_col.append(np.full(d_idx.size, s))
        dept_col.append(depts[d_idx])
        week_col.append(w_idx)
    store = np.concatenate(store_col)
    dept = np.concatenate(dept_col)
    week = np.concatenate(week_col)
    n = store.size
    level = rng.lognormal(8.5, 1.1, (N_STORES + 1, 100))[store, dept]
    season = 1.0 + 0.25 * np.sin(2 * np.pi * week / 52.0)
    boost = np.where(holiday[week], 1.3, 1.0)
    sales = np.clip(level * season * boost * rng.lognormal(0.0, 0.15, n), 100, 300_000)
    returns = rng.random(n) < 0.003  # returns: a few negative weeks
    sales = np.where(returns, -rng.uniform(1, 500, n), sales)
    rows = np.arange(n)
    dup = np.sort(rng.choice(n, PLANTED_DUPLICATES, replace=False))
    rows = np.sort(np.concatenate([rows, dup]))  # copy sits next to original
    hol = np.where(holiday[week], "TRUE", "FALSE")
    sales_s = np.array(_money(sales))
    _write_csv(
        out_dir / "train.csv",
        "Store,Dept,Date,Weekly_Sales,IsHoliday",
        [store[rows].astype(str).tolist(), dept[rows].astype(str).tolist(),
         [week_str[w] for w in week[rows].tolist()], sales_s[rows].tolist(),
         hol[rows].tolist()],
    )

    # features: one row per (store, week) over the longer range
    m = N_STORES * FEATURE_WEEKS
    f_store = np.repeat(np.arange(1, N_STORES + 1), FEATURE_WEEKS)
    f_week = np.tile(np.arange(FEATURE_WEEKS), N_STORES)
    cols = [
        f_store.astype(str).tolist(),
        [week_str[w] for w in f_week.tolist()],
        _money(rng.uniform(-10, 100, m)),
        [f"{v:.3f}" for v in rng.uniform(2.4, 4.5, m).tolist()],
    ]
    for share in MARKDOWN_NA:
        vals = np.array(_money(rng.lognormal(8.0, 1.2, m)), dtype=object)
        vals[rng.permutation(m)[: round(share * m)]] = "NA"
        cols.append(vals.tolist())
    cols.append([f"{v:.7f}" for v in rng.uniform(126, 228, m).tolist()])
    cols.append([f"{v:.3f}" for v in rng.uniform(3.8, 14.3, m).tolist()])
    cols.append(np.where(holiday[f_week], "TRUE", "FALSE").tolist())
    _write_csv(
        out_dir / "features.csv",
        "Store,Date,Temperature,Fuel_Price,MarkDown1,MarkDown2,MarkDown3,"
        "MarkDown4,MarkDown5,CPI,Unemployment,IsHoliday",
        cols,
    )
    return {
        "train_rows": int(rows.size),
        "train_duplicates": PLANTED_DUPLICATES,
        "features_rows": m,
        "stores_rows": N_STORES,
        "markdown2_na_share": MARKDOWN_NA[1],
        "bytes": sum(p.stat().st_size for p in out_dir.glob("*.csv")),
    }


# --- LLM corpus ---------------------------------------------------------------

LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < size:
        k = int(rng.integers(2, 10))
        words.add("".join(rng.choice(letters, k)))
    return np.array(sorted(words))


def _write_parquet(table: pa.Table, path: Path) -> None:
    pq.write_table(table, path, compression="snappy", version="2.6")


def corpus(
    seed: int,
    out_dir: Path,
    n_docs: int,
    exact_share: float = 0.05,
    near_share: float = 0.15,
    vocab_size: int = 4_000,
) -> dict:
    """Write ``documents.parquet``: originals drawn from a Zipf vocabulary,
    plus planted exact copies and near copies (an original with one or two
    tokens replaced), shuffled into doc_id order."""
    out_dir.mkdir(parents=True, exist_ok=True)
    rng = _rng(seed, 2)
    vocab = _vocabulary(rng, vocab_size)
    rank_p = 1.0 / np.arange(1, vocab_size + 1) ** 1.1
    rank_p /= rank_p.sum()
    n_exact = round(n_docs * exact_share)
    n_near = round(n_docs * near_share)
    n_orig = n_docs - n_exact - n_near
    lengths = rng.integers(10, 101, n_orig)
    flat = vocab[rng.choice(vocab_size, int(lengths.sum()), p=rank_p)]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    docs = [flat[bounds[i] : bounds[i + 1]].tolist() for i in range(n_orig)]
    texts = [" ".join(d) for d in docs]
    src = rng.integers(0, n_orig, n_exact + n_near)
    texts += [texts[i] for i in src[:n_exact].tolist()]
    for i in src[n_exact:].tolist():
        toks = list(docs[i])
        for _ in range(1 + (len(toks) > 40)):
            toks[int(rng.integers(len(toks)))] = str(vocab[rng.integers(vocab_size)])
        texts.append(" ".join(toks))
    order = rng.permutation(n_docs)
    texts = [texts[i] for i in order.tolist()]
    lang = rng.choice(np.array(LANGS), n_docs, p=LANG_P)
    source = np.array([f"src{i}" for i in range(20)])[rng.integers(0, 20, n_docs)]
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(lang.tolist(), pa.string()),
            "source": pa.array(source.tolist(), pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    _write_parquet(table, out_dir / "documents.parquet")
    return {
        "documents": n_docs,
        "exact_copy_share": exact_share,
        "near_copy_share": near_share,
        "vocabulary": vocab_size,
        "tokens": int(lengths.sum()),
    }


# --- star + events + embeddings -----------------------------------------------

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
DAY_US = 86_400 * 1_000_000
EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01
EPOCH_2024_NS = 1_704_067_200 * 1_000_000_000  # 2024-01-01


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star(
    seed: int,
    out_dir: Path,
    orders: int,
    customers: int,
    events: int,
    users: int,
    vectors: int,
    dim: int = 64,
) -> dict:
    """Write region/nation/customer/supplier/part/orders/lineitem/events/
    embeddings parquet files (lineitem averages four lines per order)."""
    out_dir.mkdir(parents=True, exist_ok=True)
    rng = _rng(seed, 3)
    ts_us = pa.timestamp("us")

    def write(name: str, cols: dict) -> int:
        table = pa.table(cols)
        _write_parquet(table, out_dir / f"{name}.parquet")
        return table.num_rows

    rows = {}
    rows["region"] = write("region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    rows["nation"] = write("nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    rows["customer"] = write("customer", {
        "c_custkey": pa.array(np.arange(customers), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(customers)]),
        "c_nationkey": pa.array(rng.integers(0, 25, customers), pa.int32()),
        "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, customers)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, customers)]),
    })
    n_supp, n_part = max(customers // 15, 10), max(customers * 4 // 3, 10)
    rows["supplier"] = write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_supp)),
    })
    rows["part"] = write("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"part {i % 64}" for i in range(n_part)]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(("ECONOMY", "LARGE", "MEDIUM", "PROMO",
                                     "SMALL", "STANDARD"))[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(_cents(rng, 900, 2100, n_part)),
    })
    odate = EPOCH_1995_US + rng.integers(0, 2405, orders) * DAY_US
    rows["orders"] = write("orders", {
        "o_orderkey": pa.array(np.arange(orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, customers, orders), pa.int64()),
        "o_orderstatus": pa.array(np.array(("F", "O", "P"))[rng.integers(0, 3, orders)]),
        "o_totalprice": pa.array(_cents(rng, 1000, 500_000, orders)),
        "o_orderdate": pa.array(odate, ts_us),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, orders)]),
    })
    lines = rng.integers(1, 8, orders)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(orders), lines)
    l_number = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    rows["lineitem"] = write("lineitem", {
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_number, pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_cents(rng, 900, 105_000, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(("A", "N", "R"))[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(("F", "O"))[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(
            np.repeat(odate, lines) + rng.integers(1, 122, n_li) * DAY_US, ts_us
        ),
    })
    ts = np.sort(EPOCH_2024_NS + rng.integers(0, 30 * 86_400 * 10**9, events))
    rows["events"] = write("events", {
        "event_id": pa.array(np.arange(events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, users, events), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, events)]),
        "value": pa.array(_cents(rng, 0, 200, events)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, events)]),
    })
    labels = rng.integers(0, 10, vectors)
    centers = rng.normal(0, 1, (10, dim))
    emb = (centers[labels] + rng.normal(0, 1.5, (vectors, dim))).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    rows["embeddings"] = write("embeddings", {
        "vec_id": pa.array(np.arange(vectors), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(emb.ravel(), dim).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(labels, pa.int32()),
    })
    rows["bytes"] = sum(p.stat().st_size for p in out_dir.glob("*.parquet"))
    rows["embedding_dim"] = dim
    return rows
