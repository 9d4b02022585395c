"""Seeded input generators for the benchmark.

Everything a run feeds the engine comes from here: the warehouse tables
(a TPC-H-like star schema plus `events`, `documents` and `embeddings`,
with the column names, types and value domains the engine's queries
expect) and the operation log of each workload. The same seed always
gives byte-identical parquet files and an identical operation log.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
# rare tokens: every word of WORDS is in most documents, above the lexical
# index's document-frequency cap, so searches match on these
RARE = [f"zq{k}" for k in range(200)]
DIM = 64
EPOCH_2024_US = 1704067200 * 1_000_000
DAY_US = 86400 * 1_000_000
EPOCH_1995_DAYS = 9131  # 1995-01-01 as days since 1970-01-01


def _write(table, path):
    # one row group, no per-run metadata: the bytes depend on the data only
    pq.write_table(table, path, row_group_size=max(1, table.num_rows),
                   compression="snappy", write_statistics=True)


def _ts_days(days):
    return pa.array((np.asarray(days, dtype=np.int64) * DAY_US),
                    type=pa.timestamp("us"))


def doc_texts(rng, n, dup_share):
    """`n` documents of 10-99 words over a 30-word vocabulary; a
    `dup_share` of them copy an earlier document and append " dup"."""
    lens = rng.integers(10, 100, size=n)
    flat = rng.integers(0, len(WORDS), size=int(lens.sum()))
    words = np.array(WORDS, dtype=object)[flat]
    texts, pos = [], 0
    dup = rng.random(n) < dup_share
    src = rng.integers(0, np.maximum(np.arange(n), 1))
    for i in range(n):
        if dup[i] and i > 0:
            texts.append(texts[src[i]] + " dup")
        else:
            texts.append(" ".join(words[pos:pos + lens[i]]))
        pos += lens[i]
    return texts


def documents_table(rng, n, dup_share):
    texts = doc_texts(rng, n, dup_share)
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def unit_vectors(rng, n):
    v = rng.standard_normal((n, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32)


def embeddings_table(vecs, labels):
    return pa.table({
        "vec_id": pa.array(np.arange(len(vecs), dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def warehouse(out_dir, sf, seed, n_docs=None, n_vecs=None, n_events=None,
              dup_share=0.02):
    """Write the ten tables at scale factor `sf` into `out_dir`; `n_docs`,
    `n_vecs` and `n_events` override the sizes of those three tables."""
    rng = np.random.default_rng([seed, int(sf * 1000)])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = 4 * n_ord, n_events or int(1_000_000 * sf)
    n_docs = n_docs or max(500, int(50_000 * sf))
    n_vecs = n_vecs or max(500, int(20_000 * sf))
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)

    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": rng.choice(names, n_part),
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": _ts_days(EPOCH_1995_DAYS + rng.integers(0, 2404, n_ord)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts_days(EPOCH_1995_DAYS + 1 + rng.integers(0, 2498, n_line))})
    t["events"] = events_table(rng, n_ev, max(15, n_ev * 15 // 1000))
    t["documents"] = documents_table(rng, n_docs, dup_share)
    t["embeddings"] = embeddings_table(unit_vectors(rng, n_vecs),
                                       rng.integers(0, 10, n_vecs))
    for name, table in t.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {k: v.num_rows for k, v in t.items()}


def events_table(rng, n, n_users):
    gaps = rng.exponential(1.0, n)
    ts = EPOCH_2024_US + (np.cumsum(gaps) / gaps.sum() * 30 * DAY_US * 0.9999
                          ).astype(np.int64)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.lognormal(2.5, 1.0, n).clip(0.01, 490.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def curation_corpus(out_dir, seed, n_docs, n_vecs, dup_share, base_dir):
    """Scale the documents and embeddings of `base_dir` up to `n_docs` and
    `n_vecs` rows by recombination: each new document joins the first and
    second halves of two base documents, each new vector is a renormalised
    blend of two base vectors. A `dup_share` of the new documents copy an
    earlier one with " dup" appended, and the same share of the new vectors
    are a base vector plus small noise. The other eight tables are copied."""
    rng = np.random.default_rng([seed, 7])
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        if name not in ("documents", "embeddings"):
            src = os.path.join(base_dir, f"{name}.parquet")
            with open(src, "rb") as f, open(os.path.join(out_dir, f"{name}.parquet"), "wb") as g:
                g.write(f.read())
    base_docs = pq.read_table(os.path.join(base_dir, "documents.parquet"))
    base_text = base_docs.column("text").to_pylist()
    a = rng.integers(0, len(base_text), n_docs)
    b = rng.integers(0, len(base_text), n_docs)
    dup = rng.random(n_docs) < dup_share
    src = rng.integers(0, np.maximum(np.arange(n_docs), 1))
    texts = []
    for i in range(n_docs):
        if dup[i] and i > 0:
            texts.append(texts[src[i]] + " dup")
            continue
        wa, wb = base_text[a[i]].split(" "), base_text[b[i]].split(" ")
        texts.append(" ".join(wa[:len(wa) // 2] + wb[len(wb) // 2:]))
    ids = np.arange(n_docs, dtype=np.int64)
    docs = pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(base_docs.column("lang").to_pylist(),
                                  dtype=object)[a], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    base_emb = pq.read_table(os.path.join(base_dir, "embeddings.parquet"))
    bv = np.stack(base_emb.column("embedding").to_numpy(zero_copy_only=False)
                  ).astype(np.float64)
    bl = np.asarray(base_emb.column("label").to_pylist())
    i, j = rng.integers(0, len(bv), n_vecs), rng.integers(0, len(bv), n_vecs)
    w = rng.uniform(0.2, 0.8, (n_vecs, 1))
    near = (rng.random(n_vecs) < dup_share)[:, None]
    v = np.where(near, bv[i] + 0.01 * rng.standard_normal((n_vecs, DIM)),
                 w * bv[i] + (1 - w) * bv[j])
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(docs, os.path.join(out_dir, "documents.parquet"))
    _write(embeddings_table(v.astype(np.float32), bl[i].astype(np.int32)),
           os.path.join(out_dir, "embeddings.parquet"))
    return {"documents": n_docs, "embeddings": n_vecs}


def seeded_order(names, seed):
    rng = np.random.default_rng([seed, 1])
    return [names[i] for i in rng.permutation(len(names))]


def write_oplog(path, ops):
    with open(path, "w") as f:
        for op in ops:
            f.write(json.dumps(op, sort_keys=True) + "\n")
