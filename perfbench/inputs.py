"""Input generators for the benchmark workloads.

Everything here is a pure function of its seed: the same seed writes the
same bytes. The program never sees the seed, only the files.
"""
import math
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# registry_mix: a TPC-H-like star schema plus the events, documents and
# embeddings tables the registry queries read. The data is fixed (seed 42,
# like the repository's own test data); the workload seed only picks and
# orders the queries, so the golden result digests stay valid.

REGISTRY_DATA_SEED = 42
REGISTRY_SCALE = 0.001  # lineitem rows = 6,000,000 * scale

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.44, 0.14, 0.13, 0.15]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in microseconds
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _write(dirpath, name, table):
    pq.write_table(table, os.path.join(dirpath, f"{name}.parquet"),
                   compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write_registry_tables(dirpath, scale=REGISTRY_SCALE,
                          seed=REGISTRY_DATA_SEED):
    rng = np.random.default_rng(seed)
    os.makedirs(dirpath, exist_ok=True)
    n_cust = int(150_000 * scale)
    n_supp = max(10, int(10_000 * scale))
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_line = int(6_000_000 * scale)
    n_evt = int(1_000_000 * scale)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _write(dirpath, "region", pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS, s)}))
    _write(dirpath, "nation", pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}))
    _write(dirpath, "customer", pa.table({
        "c_custkey": pa.array(range(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), s)}))
    _write(dirpath, "supplier", pa.table({
        "s_suppkey": pa.array(range(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), f64)}))
    retail = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
    _write(dirpath, "part", pa.table({
        "p_partkey": pa.array(range(n_part), i64),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))], s),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(retail, f64)}))
    odate = EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US
    _write(dirpath, "orders", pa.table({
        "o_orderkey": pa.array(range(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord), f64),
        "o_orderdate": pa.array(odate, ts),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), s)}))
    lorder = rng.integers(0, n_ord, n_line)
    lpart = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    # linenumber: position of the line within its order, 1-based
    order_idx = np.argsort(lorder, kind="stable")
    linenum = np.empty(n_line, dtype=np.int64)
    prev, k = -1, 0
    for i in order_idx:
        k = k + 1 if lorder[i] == prev else 1
        prev = lorder[i]
        linenum[i] = k
    _write(dirpath, "lineitem", pa.table({
        "l_orderkey": pa.array(lorder, i64),
        "l_partkey": pa.array(lpart, i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(np.minimum(linenum, 7), i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(np.round(qty * retail[lpart] *
                                             rng.uniform(0.9, 2.3, n_line),
                                             2), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line), s),
        "l_shipdate": pa.array(EPOCH_1995 + DAY_US +
                               rng.integers(0, 2499, n_line) * DAY_US, ts)}))
    ets = EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, n_evt))
    _write(dirpath, "events", pa.table({
        "event_id": pa.array(range(n_evt), i64),
        "ts": pa.array(ets, ts),
        "user_id": pa.array(rng.integers(0, 150, n_evt), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_evt), s),
        "value": pa.array(np.maximum(0.01, np.round(
            rng.exponential(50.0, n_evt), 2)), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, n_evt)], s)}))
    # 500 documents; 25 are near-duplicates (a copy plus trailing "dup").
    texts = []
    for _ in range(500):
        n = int(rng.integers(10, 100))
        texts.append(" ".join(rng.choice(VOCAB, n)))
    for d in rng.choice(500, 25, replace=False):
        src = int(rng.integers(0, 500))
        texts[d] = texts[src] + " dup" * int(rng.integers(1, 3))
    _write(dirpath, "documents", pa.table({
        "doc_id": pa.array(range(500), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(LANGS, 500, p=LANG_P), s),
        "source": pa.array([f"src{i % 20}" for i in range(500)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)}))
    labels = rng.integers(0, 10, 500)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] * 0.5 + rng.normal(0.0, 1.0, (500, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(dirpath, "embeddings", pa.table({
        "vec_id": pa.array(range(500), i64),
        "embedding": pa.array([list(map(float, v.astype(np.float32)))
                               for v in vecs], pa.list_(pa.float32())),
        "label": pa.array(labels, i32)}))


# ---------------------------------------------------------------------------
# report_jobs: market CSVs in the reference format — a `Date` column plus
# one price column per asset, one named with `&` — with NULL gaps and
# zero-price days. Three shapes; sizes are fixed, the seed moves prices,
# gaps and zeros.

SHAPES = {
    # name: (assets, trading days)
    "narrow": (2, 2600),
    "wide": (20, 600),
    "long": (3, 20000),
}


def _trading_days(n):
    import datetime
    d = datetime.date(1990, 1, 1)
    out = []
    while len(out) < n:
        if d.weekday() < 5:
            out.append(d.isoformat())
        d += datetime.timedelta(days=1)
    return out


def market_assets(shape):
    n_assets, _ = SHAPES[shape]
    names = ["DOLAR", "S&P500"]
    names += [f"ASSET{i:03d}" for i in range(n_assets - 2)]
    return names[:n_assets]


def write_market_csv(path, shape, seed):
    rnd = random.Random(f"{seed}:{shape}")
    assets = market_assets(shape)
    days = _trading_days(SHAPES[shape][1])
    price = [rnd.uniform(5.0, 5000.0) for _ in assets]
    with open(path, "w") as f:
        f.write("Date," + ",".join(assets) + "\n")
        for day in days:
            cells = []
            for j in range(len(assets)):
                price[j] = max(0.01, price[j] * math.exp(rnd.gauss(0, 0.01)))
                r = rnd.random()
                if r < 0.01:
                    cells.append("")  # NULL gap
                elif r < 0.015:
                    cells.append("0")  # zero-price day
                else:
                    cells.append(f"{price[j]:.2f}")
            f.write(day + "," + ",".join(cells) + "\n")
