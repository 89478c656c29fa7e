"""Seeded corpus generator for the perfbench workloads.

A corpus is the star schema the engine's query keys read (region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings),
one parquet file per table, with the same column names, physical types and
value domains as the generated test data the repository's gates use.

It is built in two steps:

1. ``base_tables(rng, sf)`` draws one base corpus at scale factor ``sf``
   from a seeded numpy generator.
2. ``write_corpus`` applies the copy recipe of ``scripts/gen_sf1.sc`` to it:
   copy ``i`` strides every key column by ``i * stride``, salts every word of
   every document with a per-copy suffix, rotates every embedding by a
   per-copy amount, and shifts event time by ``i * 40`` days. Dimension
   tables (nation, region) stay fixed. The seed picks the stride, the salts
   and the rotations.

The same ``(seed, sf, copies)`` always gives the same rows.

Run standalone to inspect a corpus::

    python3 perfbench/gen.py <out_dir> <seed> <sf> <copies>
"""
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the spark window merge table column vector stream value data "
         "small join filter big group hash customer sort order slow line "
         "part fast row agg key query scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = "red new hot small cold large old blue".split()
PART_NOUN = "bolt anvil ring rod plate gear widget gizmo".split()
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMBED_DIM = 64
DAY_US = 86_400_000_000


def _cents(rng, lo, hi, n):
    """Uniform money values with exactly two decimals."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _days(rng, start, ndays, n):
    return (np.datetime64(start, "us")
            + rng.integers(0, ndays, n).astype("timedelta64[D]")).astype("datetime64[us]")


def base_tables(rng, sf):
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec, n_user = max(500, int(50_000 * sf)), max(500, int(20_000 * sf)), max(15, int(15_000 * sf))
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, n_part)], " "),
                              np.array(PART_NOUN)[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})
    ok = np.arange(n_ord, dtype=np.int64)
    t["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2404, n_ord), pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _cents(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2498, n_li), pa.timestamp("us"))})
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, n_user, n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    vocab = np.array(VOCAB)
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document: the dedup keys' signal
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_doc)],
        "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})
    v = rng.standard_normal((n_vec, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32())})
    return t


# key columns strided per copy, as in scripts/gen_sf1.sc
KEY_COLS = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"], "part": ["p_partkey"], "supplier": ["s_suppkey"],
    "events": ["event_id", "user_id"], "documents": ["doc_id"], "embeddings": ["vec_id"]}


def _copy(name, tbl, i, stride, salt, rot):
    if i == 0:
        return tbl
    cols = {c: tbl.column(c) for c in tbl.column_names}
    for c in KEY_COLS.get(name, []):
        cols[c] = pa.array(tbl.column(c).to_numpy() + i * stride, pa.int64())
    if name == "events":
        ts = tbl.column("ts").to_numpy().astype(np.int64) + i * 40 * DAY_US
        cols["ts"] = pa.array(ts.astype("datetime64[us]"), pa.timestamp("us"))
    if name == "documents":
        # every word salted: a bijection on the copy's vocabulary, so all
        # within-copy dup structure survives and cross-copy overlap is zero
        texts = [" ".join(w + salt for w in s.split(" ")) for s in tbl.column("text").to_pylist()]
        cols["text"] = texts
        cols["n_chars"] = pa.array([len(s) for s in texts], pa.int64())
    if name == "embeddings":
        m = np.stack(tbl.column("embedding").to_numpy(zero_copy_only=False))
        cols["embedding"] = pa.array(list(np.roll(m, -rot, axis=1)), pa.list_(pa.float32()))
    return pa.table({c: cols[c] for c in tbl.column_names}, schema=tbl.schema)


def write_corpus(out_dir, seed, sf, copies):
    """Write the corpus for (seed, sf, copies) into out_dir, once."""
    done = os.path.join(out_dir, "_DONE")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, int(sf * 1e6), copies])
    base = base_tables(rng, sf)
    stride = int(rng.integers(1, 10)) * 1_000_000_000
    salts = ["q" + "".join(rng.choice(list("abcdefghijklmnopqrstuvwxyz"), 3)) for _ in range(copies)]
    rots = rng.permutation(np.arange(1, EMBED_DIM))[:copies]
    for name, tbl in base.items():
        parts = [tbl] if name in ("region", "nation") else \
            [_copy(name, tbl, i, stride, salts[i], int(rots[i])) for i in range(copies)]
        out = pa.concat_tables(parts)
        if name == "events":  # one file, time-ordered: the stream keys feed it as-is
            out = out.sort_by("ts")
        pq.write_table(out, os.path.join(out_dir, f"{name}.parquet"))
    open(done, "w").close()
    return out_dir


def path_copies(corpus_dir, n):
    """n directories that hard-link corpus_dir's tables: the same rows under
    distinct paths, so a session keyed by corpus path sees each as new."""
    dirs = []
    for i in range(1, n + 1):
        d = f"{corpus_dir}-path{i}"
        if not os.path.isdir(d):
            shutil.rmtree(d + ".tmp", ignore_errors=True)
            os.makedirs(d + ".tmp")
            for f in os.listdir(corpus_dir):
                if f.endswith(".parquet"):
                    os.link(os.path.join(corpus_dir, f), os.path.join(d + ".tmp", f))
            os.replace(d + ".tmp", d)
        dirs.append(d)
    return dirs


if __name__ == "__main__":
    d, seed, sf, copies = sys.argv[1], int(sys.argv[2]), float(sys.argv[3]), int(sys.argv[4])
    write_corpus(d, seed, sf, copies)
    print(d)
