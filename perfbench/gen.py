"""Seeded input generators for the benchmark's parquet inputs.

Every generator is a pure function of (seed, size): the same arguments
give byte-identical files.  The `.dbc` month is generated inside the JVM
(it needs the program's own imploder), see `Month.scala`.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ALPHABET = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _write(table, path):
    # fixed writer settings: no timestamps or host data in the file, so the
    # bytes depend only on the table
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True, row_group_size=1 << 20)


def _ts(days_from, day_offsets):
    base = np.datetime64(days_from, "us")
    return pa.array(base + day_offsets.astype("timedelta64[D]").astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def gen_tables(out, seed, sf=0.01):
    """TPC-H-ish star schema plus the events, documents and embeddings
    tables, shaped like the fixtures the registry queries are written for."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs, n_vec = max(int(15_000 * sf), 10), int(50_000 * sf), int(50_000 * sf)

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out}/nation.parquet")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]}),
        f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        f"{out}/supplier.parquet")
    adj = np.array(["small", "red", "blue", "green", "large", "tiny", "steel", "brass"])
    noun = np.array(["ring", "widget", "bolt", "gear", "valve", "spring", "panel"])
    types = np.array(["ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO"])
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, len(adj), n_part)], " "),
                              noun[rng.integers(0, len(noun), n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, len(types), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)}),
        f"{out}/part.parquet")
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord)),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]}),
        f"{out}/orders.parquet")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_line))}),
        f"{out}/lineitem.parquet")
    # events: increasing timestamps over 30 days, microsecond resolution
    gaps = rng.integers(1, 2 * 30 * 86400 * 1_000_000 // n_ev, n_ev)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(["view", "click", "purchase", "signup", "error"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        f"{out}/events.parquet")
    _write(docs_table(seed, n_docs, dup_share=0.1)[0], f"{out}/documents.parquet")
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_vec)
    vecs = centers[labels] + rng.normal(0, 0.6, (n_vec, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}),
        f"{out}/embeddings.parquet")


def _vocab(rng, n):
    lens = rng.integers(3, 10, n)
    letters = ALPHABET[rng.integers(0, 26, int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    return np.array(["".join(w) for w in np.split(letters, cuts)])


def docs_corpus(seed, n_docs, dup_share):
    """(doc_id, token list) pairs with a planted near-duplicate share, and
    the planted (original, copy) id pairs.  A copy takes its original's
    tokens with one in 30 of them (at least one) replaced, so its 3-shingle
    jaccard with the original stays above 0.7, clear of the 0.6 dedup
    threshold; unrelated documents draw from a large vocabulary, so they
    do not collide.  So that the work does not vary with the seed, the
    document lengths are a fixed set in seeded order, and every copy is
    made of an original (never of a copy), so no chain of copies is longer
    than one link."""
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng, 20_000)
    lens = rng.permutation(np.resize(np.arange(20, 90), n_docs))
    docs = [vocab[rng.integers(0, len(vocab), n)] for n in lens]
    planted = []
    n_dup = int(n_docs * dup_share)
    copies = np.sort(rng.choice(np.arange(1, n_docs), n_dup, replace=False))
    originals = np.setdiff1d(np.arange(n_docs), copies)
    for c in copies:
        o = int(originals[rng.integers(0, np.searchsorted(originals, c))])
        toks = docs[o].copy()
        at = rng.choice(len(toks), max(1, len(toks) // 30), replace=False)
        toks[at] = vocab[rng.integers(0, len(vocab), len(at))]
        docs[c] = toks
        planted.append((o, int(c)))
    return docs, planted


def docs_table(seed, n_docs, dup_share):
    """The corpus as a documents table, and its planted pairs."""
    docs, planted = docs_corpus(seed, n_docs, dup_share)
    rng = np.random.default_rng([seed, 3])
    text = [" ".join(t) for t in docs]
    langs = np.array(["en", "en", "en", "de", "fr", "es", "zh"])
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": text,
        "lang": langs[rng.integers(0, len(langs), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in text], pa.int64())}), planted


def gen_docs(out, seed, n_docs=8000, n_files=1, dup_share=0.1):
    """A document corpus as `documents.parquet`: one file, or a directory
    of `n_files` arrival files in doc_id order.  `planted.tsv` lists the
    planted (original, copy) pairs for the recall check."""
    os.makedirs(out, exist_ok=True)
    table, planted = docs_table(seed, n_docs, dup_share)
    if n_files <= 1:
        _write(table, f"{out}/documents.parquet")
    else:
        d = f"{out}/documents.parquet"
        os.makedirs(d, exist_ok=True)
        bounds = np.linspace(0, n_docs, n_files + 1).astype(int)
        for i in range(n_files):
            _write(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                   f"{d}/part-{i:05d}.parquet")
    with open(f"{out}/planted.tsv", "w") as f:
        f.writelines(f"{o}\t{c}\n" for o, c in planted)
    with open(f"{out}/n_docs.txt", "w") as f:
        f.write(f"{n_docs}\n")
