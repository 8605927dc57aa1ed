"""Seeded inputs for the engine benchmark.

`tables(out_dir, seed)` writes the ten parquet tables the catalog queries
read (region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings) at scale factor 0.1, with the column names, types
and value domains of the engine's fixtures (FIXTURES.md at the repo root).
Only `documents` is smaller: 2500 rows instead of sf0.1's 5000, which
halves dedup_containment's pass and keeps a run inside its time budget.
`points(out_dir, seed, n)` writes the em_fit input: n draws of a
3-component 1-D Gaussian mixture whose components sit far enough apart
that ten EM iterations from the engine's spread init recover them.

The same seed always gives the same files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.1
WORDS = ("a the data spark stream batch query table column row key value "
         "hash join sort merge filter scan agg group order window vector "
         "part line customer fast slow big small").split()
ADJ = "blue large hot small red cold bright dark".split()
NOUN = "anvil ring bolt widget gear spring valve lever".split()


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy")


def _ts(rng, n, lo, hi):
    """n timestamps[us] drawn uniformly at day resolution in [lo, hi]."""
    lo, hi = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = rng.integers(0, (hi - lo).astype(int) + 1, n)
    return pa.array((lo + days).astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def tables(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * SF), int(10000 * SF), int(200000 * SF)
    n_ord, n_li, n_ev = int(1500000 * SF), int(6000000 * SF), int(1000000 * SF)
    n_doc, n_emb = 2500, 2000

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _ts(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(rng, n_li, "1995-01-02", "2001-11-04")})

    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span_us = 30 * 86400 * 1000000
    ts = np.sort(rng.integers(0, span_us, n_ev)) + t0
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, int(15000 * SF), n_ev),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    # documents: random word texts; ~5% are edited copies of an earlier
    # document (near duplicates) and a few are exact copies
    lens = rng.integers(10, 101, n_doc)
    texts = [" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), n)]) for n in lens]
    for i in rng.choice(np.arange(1, n_doc), n_doc // 20, replace=False):
        src = texts[rng.integers(0, i)].split()
        src.insert(int(rng.integers(0, len(src) + 1)), "dup")
        texts[i] = " ".join(src)
    for i in rng.choice(np.arange(1, n_doc), 8, replace=False):
        texts[i] = texts[rng.integers(0, i)]
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, ["en", "de", "es", "fr", "zh"], n_doc,
                      p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    vecs = rng.standard_normal((n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})


def mixture(seed):
    """(weights, means, sigmas) of the em_fit generator for this seed.

    EM is shift- and scale-equivariant, so the seed moves and stretches one
    fixed shape: three equal-weight components one spacing apart, each
    with a tenth of a spacing as its sigma. From the engine's spread init
    ten iterations land within 1% of a spacing of the true means."""
    rng = np.random.default_rng([seed, 7])
    center, spacing = rng.uniform(-50.0, 50.0), rng.uniform(80.0, 120.0)
    means = center + spacing * np.array([-1.0, 0.0, 1.0])
    return np.full(3, 1.0 / 3.0), means, np.full(3, spacing / 10.0)


def points(out_dir, seed, n):
    os.makedirs(out_dir, exist_ok=True)
    weights, means, sigmas = mixture(seed)
    rng = np.random.default_rng([seed, 11])
    comp = rng.choice(3, n, p=weights)
    x = rng.normal(means[comp], sigmas[comp])
    # several row groups so the scan splits across cores
    pq.write_table(pa.table({"value": x}), os.path.join(out_dir, "points.parquet"),
                   compression="snappy", row_group_size=max(1, n // 16))
