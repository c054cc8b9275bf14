"""Seeded input generator for the benchmark.

Writes the ten contract tables (region, nation, customer, supplier, part,
orders, lineitem, events, documents, embeddings) as single-row-group parquet
files with the same schema, key spaces and value domains as the contract's
fixture tables. Every column is drawn independently from `numpy`'s PCG64
seeded with (seed, table), so the same seed gives byte-identical files.

`replicate_text` builds the text workload's corpus: the sf0.1 documents and
embeddings, stacked `copies` times with key offsets (documents and embeddings
share one id stride, so doc_id = vec_id stays a valid pairing in every copy).
Copy c >= 1 rotates each text left by a seed-chosen number of characters
(length-preserving, so n_chars stays exact) and nudges one seed-chosen
embedding dimension by c * 1e-3, so no two vectors of the corpus coincide and
no distance tie depends on row order.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "small", "red", "hot", "old", "large", "cold", "new"]
PART_NOUN = ["anvil", "ring", "widget", "plate", "rod", "bolt", "gizmo", "gear"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a the data query table row column join hash sort merge scan filter "
         "group agg window stream batch key value part line order customer "
         "spark vector fast slow big small").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
DIM = 64

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _rng(seed, table):
    return np.random.default_rng([seed, TABLES.index(table)])


def _days(rng, start, span, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed, sf):
    """All ten tables at scale factor `sf` as {name: pyarrow.Table}."""
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
    }
    r = _rng(seed, "customer")
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)]})
    r = _rng(seed, "supplier")
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp)})
    r = _rng(seed, "part")
    keys = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": keys,
        "p_name": np.char.add(np.char.add(np.array(PART_ADJ)[r.integers(0, 8, n_part)], " "),
                              np.array(PART_NOUN)[r.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})
    r = _rng(seed, "orders")
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(r, "1995-01-01", 2405, n_ord),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)]})
    r = _rng(seed, "lineitem")
    out["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": r.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, n_line),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
        "l_shipdate": _days(r, "1995-01-02", 2499, n_line)})
    r = _rng(seed, "events")
    span_us = 30 * 86400 * 10**6
    ts = np.sort(r.choice(span_us, n_ev, replace=False))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": r.integers(0, max(1, int(n_ev * 0.015)), n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)],
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]})
    out["documents"], out["embeddings"] = corpus(seed, sf)
    return out


def corpus(seed, sf):
    """The documents and embeddings tables at scale factor `sf`."""
    n_doc, n_vec = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    return (_documents(_rng(seed, "documents"), n_doc),
            _embeddings(_rng(seed, "embeddings"), n_vec))


def _documents(r, n):
    words = np.array(WORDS)
    texts = [" ".join(words[r.integers(0, len(WORDS), r.integers(10, 100))])
             for _ in range(n)]
    # about 5% near-duplicates: another document's text plus a marker word
    for i in np.flatnonzero(r.random(n) < 0.05):
        j = int(r.integers(0, n - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": np.array(LANGS)[r.choice(5, n, p=LANG_P)],
        "source": np.char.add("src", (ids % 20).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def _embeddings(r, n):
    centroids = r.standard_normal((10, DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = r.integers(0, 10, n)
    x = r.standard_normal((n, DIM)) / np.sqrt(DIM) + 0.14 * centroids[labels]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})


def replicate_text(seed, copies, docs, vecs):
    """`copies`-fold documents and embeddings tables."""
    r = np.random.default_rng([seed, 1000])
    rot = [0] + r.choice(np.arange(1, 40), copies - 1, replace=False).tolist()
    dims = [0] + r.choice(DIM, copies - 1, replace=False).tolist()
    stride = max(docs.num_rows, vecs.num_rows)
    texts = docs.column("text").to_pylist()
    base_vecs = np.array(vecs.column("embedding").to_pylist(), dtype=np.float32)
    d_parts, v_parts = [], []
    for c in range(copies):
        k = rot[c]
        d_parts.append(pa.table({
            "doc_id": pa.array(docs.column("doc_id").to_numpy() + c * stride),
            "text": [t[k:] + t[:k] for t in texts],
            "lang": docs.column("lang"),
            "source": docs.column("source"),
            "n_chars": docs.column("n_chars")}))
        x = base_vecs.copy()
        if c > 0:
            x[:, dims[c]] = (x[:, dims[c]] + np.float32(c * 1e-3)).astype(np.float32)
        v_parts.append(pa.table({
            "vec_id": pa.array(vecs.column("vec_id").to_numpy() + c * stride),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": vecs.column("label")}))
    return pa.concat_tables(d_parts), pa.concat_tables(v_parts)


def check_replica(base_docs, base_vecs, docs, vecs, copies):
    """Property checks of a replicated corpus; returns a list of problems."""
    problems = []
    if docs.num_rows != copies * base_docs.num_rows:
        problems.append(f"documents rows {docs.num_rows} != {copies} x {base_docs.num_rows}")
    if vecs.num_rows != copies * base_vecs.num_rows:
        problems.append(f"embeddings rows {vecs.num_rows} != {copies} x {base_vecs.num_rows}")
    if any(len(t) != n for t, n in zip(docs.column("text").to_pylist(),
                                       docs.column("n_chars").to_pylist())):
        problems.append("n_chars differs from the text length")
    if len(set(docs.column("doc_id").to_pylist())) != docs.num_rows:
        problems.append("doc_id not unique")
    x = np.array(vecs.column("embedding").to_pylist(), dtype=np.float32)
    if len(np.unique(x, axis=0)) != len(x):
        problems.append("two embeddings coincide")
    return problems


def write(tabs, out_dir, names=None):
    os.makedirs(out_dir, exist_ok=True)
    for name in names or tabs:
        t = tabs[name]
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, t.num_rows), compression="snappy")
