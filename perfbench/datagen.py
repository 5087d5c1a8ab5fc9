"""Deterministic star-schema + corpus tables for the benchmark.

The benchmark runs in a bare checkout, so it builds its own input
tables instead of reading a shared test-data directory.  The tables
have the physical schemas and member-key domains of the engine's test
catalog (``mondrian_rest_spark.tpch``): region keys 0-4, nations
``n_regionkey = key % 5``, Brand#1..25, ship dates 1995-2001, a
30-day event stream, a document corpus with exact and near-duplicate
copies, and 64-d embeddings.  ``scale=0.1`` gives the sf0.1 row counts
(600 k lineitems, 15 k customers, 5 k documents).

The tables depend only on ``scale`` (the data seed is fixed): the
workload seed of a run picks requests, never data, so every seed
queries the same warehouse.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

SEGMENTS = ["AUTOMOBILE", "FURNITURE", "MACHINERY", "HOUSEHOLD", "BUILDING"]
PTYPES = ["ECONOMY", "LARGE", "STANDARD", "MEDIUM", "SMALL", "PROMO"]
PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
VOCAB = ("the a of and to in is for on with batch part spark line column "
         "order small sort fast value scan hash slow group agg filter query "
         "big key window row table stream merge data vector join scale plan "
         "shuffle stage tuple page block index cache disk net").split()


def _write(out: str, name: str, cols: dict, schema: pa.Schema) -> None:
    pq.write_table(pa.table(cols, schema=schema),
                   os.path.join(out, f"{name}.parquet"))


def generate(out: str, scale: float) -> None:
    """Write the ten tables for ``scale`` into the directory ``out``."""
    os.makedirs(out, exist_ok=True)
    k = scale / 0.1
    n_cust, n_supp, n_part = int(15_000 * k), int(1_000 * k), int(20_000 * k)
    n_ord, n_line = int(150_000 * k), int(600_000 * k)
    n_ev, n_doc, n_emb = int(100_000 * k), int(5_000 * k), int(2_000 * k)
    n_users = max(int(1_500 * k), 20)
    rng = np.random.default_rng(DATA_SEED)
    day0 = np.datetime64("1995-01-01")
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    _write(out, "region",
           {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS},
           pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(out, "nation",
           {"n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
           pa.schema([("n_nationkey", i32), ("n_name", s),
                      ("n_regionkey", i32)]))
    _write(out, "customer",
           {"c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]},
           pa.schema([("c_custkey", i64), ("c_name", s),
                      ("c_nationkey", i32), ("c_acctbal", f64),
                      ("c_mktsegment", s)]))
    _write(out, "supplier",
           {"s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)},
           pa.schema([("s_suppkey", i64), ("s_name", s),
                      ("s_nationkey", i32), ("s_acctbal", f64)]))
    adjs = ["large", "hot", "small", "cold", "dim", "light", "dark", "fast",
            "slow", "new"]
    nouns = ["ring", "bolt", "case", "disk", "wire", "pipe", "gear", "plate",
             "lens", "coil"]
    _write(out, "part",
           {"p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{adjs[i % 10]} {nouns[(i // 10) % 10]}"
                       for i in range(n_part)],
            "p_brand": [f"Brand#{1 + i % 25}" for i in range(n_part)],
            "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(
                900.0 + (np.arange(n_part) % 1000) / 10.0, 1)},
           pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s),
                      ("p_type", s), ("p_size", i32),
                      ("p_retailprice", f64)]))
    odate = day0 + rng.integers(0, 2404, n_ord).astype("timedelta64[D]")
    _write(out, "orders",
           {"o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["O", "F", "P"])[
                rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
            "o_orderdate": odate.astype("datetime64[us]"),
            "o_orderpriority": np.array(PRIOS)[rng.integers(0, 5, n_ord)]},
           pa.schema([("o_orderkey", i64), ("o_custkey", i64),
                      ("o_orderstatus", s), ("o_totalprice", f64),
                      ("o_orderdate", pa.timestamp("us")),
                      ("o_orderpriority", s)]))
    sdate = day0 + rng.integers(1, 2500, n_line).astype("timedelta64[D]")
    _write(out, "lineitem",
           {"l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 100000, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["N", "A", "R"])[
                rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
            "l_shipdate": sdate.astype("datetime64[us]")},
           pa.schema([("l_orderkey", i64), ("l_partkey", i64),
                      ("l_suppkey", i64), ("l_linenumber", i32),
                      ("l_quantity", f64), ("l_extendedprice", f64),
                      ("l_discount", f64), ("l_tax", f64),
                      ("l_returnflag", s), ("l_linestatus", s),
                      ("l_shipdate", pa.timestamp("us"))]))
    ev0 = np.datetime64("2024-01-01T00:00:00.000000")
    ts = np.sort(ev0 + rng.integers(0, 30 * 86_400_000_000, n_ev)
                 .astype("timedelta64[us]"))
    _write(out, "events",
           {"event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ts.astype("datetime64[us]"),
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[
                rng.choice(5, n_ev, p=[.35, .3, .1, .1, .15])],
            "value": np.round(rng.exponential(80, n_ev), 2),
            "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n_ev)]},
           pa.schema([("event_id", i64), ("ts", pa.timestamp("us")),
                      ("user_id", i64), ("event_type", s), ("value", f64),
                      ("props", s)]))
    # documents: 96 % unique texts, 2 % exact copies of earlier docs,
    # 2 % near copies with one word replaced (long texts, so the
    # near copies sit well above the 0.5 shingle-Jaccard threshold)
    n_base = int(n_doc * 0.96)
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), n)])
             for n in rng.integers(8, 101, n_base)]
    for j, src in enumerate(rng.integers(0, n_base, n_doc - n_base)):
        t = texts[src]
        if j % 2:
            w = t.split()
            w[int(rng.integers(0, len(w)))] = str(
                vocab[int(rng.integers(0, len(vocab)))])
            t = " ".join(w)
        texts.append(t)
    _write(out, "documents",
           {"doc_id": np.arange(n_doc, dtype=np.int64), "text": texts,
            "lang": np.array(LANGS)[
                rng.choice(5, n_doc, p=[.4, .2, .15, .15, .1])],
            "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
           pa.schema([("doc_id", i64), ("text", s), ("lang", s),
                      ("source", s), ("n_chars", i64)]))
    emb = rng.normal(0.0, 0.12, (n_emb, 64)).clip(-0.4, 0.4) \
        .astype(np.float32)
    _write(out, "embeddings",
           {"vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(emb.ravel(), type=pa.float32()), 64).cast(
                pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_emb).astype(np.int32)},
           pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())),
                      ("label", i32)]))


def ensure(root: str, scale: float) -> str:
    """Return the table directory for ``scale`` under ``root``, building
    it once.  The directory is renamed into place only when complete,
    so an interrupted build is redone instead of read half-written."""
    out = os.path.join(root, f"sf{scale:g}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    generate(tmp, scale)
    os.replace(tmp, out)
    return out
