"""Deterministic input generator for the graft benchmark.

Every input is a function of the seed alone: the same seed writes byte-identical
parquet files (numpy's PCG64 stream, pyarrow's writer, no wall-clock or host state).
The program under test only ever sees the files written here.

Two input sets, one per workload:

* ``tpch(dir, seed, sf)`` - the ten tables graft's queries read (TPC-H star + events,
  documents, embeddings) with the column names, types and value domains of the
  repository's deterministic test data, at scale factor ``sf``.
* ``ingest(dir, seed, n_batches)`` - micro-batches of new documents (text and an
  embedding each) with planted exact and near copies, of earlier batches' documents
  and of their own batch; keyed upserts for a partitioned table; and query vectors.
  ``truth.json`` records what was planted, so the benchmark can check outputs without
  trusting the program.

Documents and embeddings follow the repository's test data (the ``documents`` and
``embeddings`` tables of every test scale factor, which ``graft.tools.DataGen``
replicates): 10-100 tokens, uniform over a 30-word vocabulary; 5 % of documents are
near copies, each an earlier document with the token ``dup`` appended (one new 3-gram,
so a Jaccard similarity of about 0.95 at 20 tokens), and 0.16 % exact copies; 41 % English and 14-15 %
each of four other languages over 20 sources; embeddings are 64-dimensional unit
vectors with no cluster structure.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
         "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
         "the", "value", "vector", "window"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
DUP_MARK = "dup"     # the test data's near-copy edit: this token appended
NEAR_SHARE = 0.05    # test data: 250 near copies in 5 000 documents (sf0.1)
EXACT_SHARE = 0.0016  # test data: 8 exact copies in 5 000 documents (sf0.1)
THRESHOLD = 0.8      # the Jaccard threshold the benchmark dedups at
MIN_TOKENS = 20      # the benchmark's quality filter keeps documents of 20+ tokens
EMB_DIM = 64


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _ts(days_from, days_to, rng, n, base="1995-01-01"):
    d = rng.integers(days_from, days_to, n)
    return (np.datetime64(base, "D") + d).astype("datetime64[us]")


def tpch(out, seed, sf):
    """The ten test tables at scale factor ``sf`` (sf 0.01 = 60 000 lineitems)."""
    rng = np.random.default_rng([seed, 1])
    n_c, n_s, n_p = int(150_000 * sf), max(20, int(10_000 * sf)), int(200_000 * sf)
    n_o, n_l, n_e = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)

    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
           f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out}/nation.parquet")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(pa.table({
        "c_custkey": np.arange(n_c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_c), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_c)]}), f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": np.arange(n_s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": rng.integers(0, 25, n_s).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_s), 2)}),
        f"{out}/supplier.parquet")
    adj = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
    noun = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_p, dtype=np.int64)
    _write(pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_p)], " "),
                              noun[rng.integers(0, 8, n_p)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_p).astype(str)),
        "p_type": types[rng.integers(0, 6, n_p)],
        "p_size": rng.integers(1, 51, n_p).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)}), f"{out}/part.parquet")
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(pa.table({
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": rng.integers(0, n_c, n_o),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_o)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_o), 2),
        "o_orderdate": _ts(0, 2405, rng, n_o),
        "o_orderpriority": prio[rng.integers(0, 5, n_o)]}), f"{out}/orders.parquet")
    _write(pa.table({
        "l_orderkey": rng.integers(0, n_o, n_l),
        "l_partkey": rng.integers(0, n_p, n_l),
        "l_suppkey": rng.integers(0, n_s, n_l),
        "l_linenumber": rng.integers(1, 8, n_l).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_l), 2),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_l)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_l)],
        "l_shipdate": _ts(1, 2499, rng, n_l)}), f"{out}/lineitem.parquet")
    secs = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_e))
    _write(pa.table({
        "event_id": np.arange(n_e, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + secs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_c, n_e),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_e)],
        "value": np.round(rng.exponential(50.0, n_e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]}),
        f"{out}/events.parquet")
    docs, _ = _base_docs(rng, max(200, int(50_000 * sf)), 0)
    _write(_docs_table(docs), f"{out}/documents.parquet")
    n_v = max(200, int(20_000 * sf))
    _write(_emb_table(np.arange(n_v), _unit(rng.standard_normal((n_v, EMB_DIM))),
                      rng.integers(0, 10, n_v)), f"{out}/embeddings.parquet")


# ---- documents ------------------------------------------------------------------------

def _base_docs(rng, n, first_id):
    """n random documents: (doc_id, tokens, lang, source) rows, 10-100 tokens each."""
    lens = rng.integers(10, 101, n)
    langs = rng.choice(len(LANGS), n, p=LANG_P)
    rows = []
    for i in range(n):
        toks = [VOCAB[t] for t in rng.integers(0, len(VOCAB), lens[i])]
        rows.append([first_id + i, toks, LANGS[langs[i]], f"src{(first_id + i) % 20}"])
    return rows, first_id + n


def shingles(toks):
    """Distinct token 3-grams: the set graft's minhash dedup compares."""
    return {tuple(toks[i:i + 3]) for i in range(len(toks) - 2)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb) if sa | sb else 1.0


def _docs_table(rows, vecs=None):
    texts = [" ".join(r[1]) for r in rows]
    cols = {
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": texts,
        "lang": [r[2] for r in rows],
        "source": [r[3] for r in rows],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}
    if vecs is not None:
        cols["embedding"] = pa.array(list(vecs), pa.list_(pa.float32()))
    return pa.table(cols)


def _unit(m):
    return (m / np.linalg.norm(m, axis=1, keepdims=True)).astype(np.float32)


def _emb_table(ids, vecs, labels):
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def _plant(rng, rows, originals, next_id, n_exact, n_near):
    """Append n_exact exact and n_near near copies of randomly chosen `originals`
    (rows), with doc ids above every original so keep-min dedup keeps the original.
    Originals are documents the quality filter keeps, so each copy duplicates an
    admitted document. Returns planted [(copy_id, original_id, kind)] and the next
    free id."""
    kept = [r for r in originals if len(r[1]) >= MIN_TOKENS]
    picks = rng.choice(len(kept), n_exact + n_near, replace=False)
    planted = []
    for j, p in enumerate(picks):
        src = kept[p]
        toks = src[1] if j < n_exact else src[1] + [DUP_MARK]
        rows.append([next_id, toks, src[2], src[3]])
        planted.append((next_id, src[0], "exact" if j < n_exact else "near"))
        next_id += 1
    return planted, next_id


def ingest(out, seed, n_batches, batch_docs=200, n_keys=2000, upserts=300, parts=8,
           n_queries=64):
    """Micro-batches of documents (with planted duplicates of earlier batches and of
    their own batch), keyed upserts into a `parts`-partitioned table, and query vectors.

    The batch shape (documents and upserts per batch, keys, partitions, queries) has no
    source in the repository; README.md gives the reasons for each choice.

    truth.json lists, per batch, the planted copies as (copy_id, original_id, kind);
    an original always has a smaller id, at least MIN_TOKENS tokens, and arrives no
    later than its copy."""
    rng = np.random.default_rng([seed, 3])
    next_id = 0
    earlier = []
    batches = []
    for b in range(n_batches):
        fresh, next_id = _base_docs(rng, batch_docs, next_id)
        rows = list(fresh)
        n_dup, n_near = int(rng.binomial(batch_docs, EXACT_SHARE)), round(batch_docs * NEAR_SHARE)
        # half of each kind copies an earlier batch's document (from the second batch
        # on), the rest one of this batch
        x_dup, x_near = (n_dup // 2, n_near // 2) if earlier else (0, 0)
        planted, next_id = _plant(rng, rows, fresh, next_id, n_dup - x_dup, n_near - x_near)
        if earlier:
            cross, next_id = _plant(rng, rows, earlier, next_id, x_dup, x_near)
            planted += cross
        earlier += fresh
        ts_base = b * 10_000
        keys = rng.integers(0, n_keys, upserts)
        upd = pa.table({
            "k": pa.array(keys, pa.int64()),
            "part": pa.array(keys % parts, pa.int32()),
            "ts": pa.array(ts_base + rng.permutation(upserts), pa.int64()),
            "v": np.round(rng.uniform(0.0, 1000.0, upserts), 3)})
        _write(_docs_table(rows, _unit(rng.standard_normal((len(rows), EMB_DIM)))),
               f"{out}/docs_{b:04d}.parquet")
        _write(upd, f"{out}/upd_{b:04d}.parquet")
        batches.append({"planted": planted, "n_docs": len(rows), "n_upserts": upserts})
    _write(pa.table({"query_id": pa.array(range(n_queries), pa.int64()),
                     "embedding": pa.array(list(_unit(rng.standard_normal((n_queries, EMB_DIM)))),
                                           pa.list_(pa.float32()))}),
           f"{out}/queries.parquet")
    with open(f"{out}/truth.json", "w") as f:
        json.dump({"batches": batches, "n_keys": n_keys}, f)


def input_bytes(path):
    """Bytes of every generated file under path."""
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)
