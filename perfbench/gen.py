"""Seeded input generator for the benchmark workloads.

Every table keeps the column names and types of the engine's fixture
(orders, lineitem, documents, embeddings), so the registry queries and
their DuckDB oracles run unchanged on the generated directory. Each table
is a directory of parquet files, one file per core (``SPARK_GRAFT_CPUS``),
so every scan starts with one task per core.

The same (workload, seed) always yields byte-identical rows.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EPOCH_1995 = np.datetime64("1995-01-01", "D")

# Rows per table for each workload. tabular's orders and lineitem are
# sf0.1's at 1/15; curate is a document corpus plus a vector corpus for its
# ANN index.
SIZES = {
    "tabular": dict(orders=10_000, lineitem=40_000),
    "curate": dict(documents=600, vectors=500),
}
# Share of curate documents that are perturbed copies of an
# earlier document (the near-duplicates dedup must find).
DUP_FRAC = 0.10
# Per-token replacement probability inside a copy: copies share most but
# not all of their source's n-grams.
DUP_TOKEN_SWAP = 0.08


def cpus():
    return max(1, int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1))


def write_table(out_dir, name, table, n_files):
    path = os.path.join(out_dir, f"{name}.parquet")
    os.makedirs(path)
    n = table.num_rows
    n_files = max(1, min(n_files, n))
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for i in range(n_files):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def days(rng, n, lo, hi):
    """Midnight timestamps uniform over [lo, hi] days after 1995-01-01."""
    d = EPOCH_1995 + rng.integers(lo, hi + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def sales_tables(rng, n_ord, n_line):
    """orders and lineitem, the two star-schema tables tabular's operations
    read. Keys into the dimension tables (customer, part, supplier) are
    drawn from key ranges sized to orders as in the fixture, though those
    tables themselves are not generated."""
    n_cust = max(1, n_ord // 10)
    n_part, n_supp = n_cust * 4 // 3, max(1, n_cust // 15)
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["P", "O", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": days(rng, n_ord, 0, 2404),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["N", "R", "A"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": days(rng, n_line, 1, 2499)})
    return dict(orders=orders, lineitem=lineitem)


def documents(rng, n):
    """Random 10..100-word texts over a 30-word vocabulary; DUP_FRAC of them
    are copies of an earlier original document (never of a copy, so every
    duplicate cluster is one original and its copies) with DUP_TOKEN_SWAP of
    their tokens replaced, suffixed ' dup'."""
    vocab = np.array(VOCAB)
    texts = []
    originals = []
    is_dup = rng.random(n) < DUP_FRAC
    for i in range(n):
        if is_dup[i] and originals:
            toks = np.array(texts[originals[int(rng.integers(0, len(originals)))]].split(" "))
            swap = rng.random(len(toks)) < DUP_TOKEN_SWAP
            toks[swap] = vocab[rng.integers(0, len(vocab), int(swap.sum()))]
            texts.append(" ".join(toks) + " dup")
        else:
            originals.append(i)
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def embeddings(rng, n, dim=64):
    x = rng.standard_normal((n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.astype(np.float32).ravel(), pa.float32())
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), flat),
        "label": pa.array(rng.integers(0, 10, n), pa.int32())})


def generate(workload, seed, out_dir):
    """Write the workload's tables under out_dir (replacing it) and return a
    dict of input properties (row counts). The vector corpus does not depend
    on the seed: the seed draws how it is ingested and probed instead (see
    run.py), so its costly oracle is computed once."""
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    size = SIZES[workload]
    rng = np.random.default_rng([seed, sorted(SIZES).index(workload)])
    if workload == "tabular":
        tables = sales_tables(rng, size["orders"], size["lineitem"])
    else:
        tables = {"documents": documents(rng, size["documents"]),
                  "embeddings": embeddings(np.random.default_rng(0), size["vectors"])}
    n_files = cpus()
    for name, table in tables.items():
        write_table(out_dir, name, table, n_files if table.num_rows > 1000 else 1)
    return {name: t.num_rows for name, t in tables.items()}
