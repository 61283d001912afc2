"""Seeded sf0.1-shaped tables for the benchmark.

Same table names, columns, types and row counts as the TPC-H-ish
sf0.1 test tables the repo's tests use (600k `lineitem`, 100k
`events`, 5k `documents`, 2k `embeddings`, ...), generated here so a
run reads nothing outside its checkout. The data seed is fixed
(DATA_SEED): every workload seed queries the same tables, and a run's
seed changes only the request bodies.

    python3 perfbench/data.py <out_dir>      # writes <table>.parquet
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
VERSION = "1"  # bump when the generated contents change

ROWS = {"region": 5, "nation": 25, "supplier": 1000, "customer": 15000,
        "part": 20000, "orders": 150000, "lineitem": 600000,
        "events": 100000, "documents": 5000, "embeddings": 2000}

WORDS = ("batch part spark line column order small sort fast value scan "
         "a hash slow group agg filter big query key window customer "
         "stream table join merge data vector the index segment time "
         "rollup shard broker").split()
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["LARGE BRASS", "ECONOMY ANODIZED", "SMALL PLATED",
           "STANDARD POLISHED", "MEDIUM BRUSHED", "PROMO BRASS"]
EVENTS_START = dt.datetime(2024, 1, 1)
EVENTS_DAYS = 30
EMBED_DIM = 64


def _days(rng, n, lo: dt.date, hi: dt.date):
    span = (hi - lo).days
    base = np.datetime64(lo.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[
        rng.choice(len(values), n, p=p)].tolist(), pa.string())


def _docs(rng, n):
    """Word-salad documents; every fifth is a near-copy of an earlier
    one with one word changed, so minhash finds real pairs."""
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and i % 5 == 0:
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = WORDS[
                int(rng.integers(0, len(WORDS)))]
        else:
            toks = [WORDS[j] for j in
                    rng.integers(0, len(WORDS), int(rng.integers(12, 70)))]
        texts.append(" ".join(toks))
    return texts


def tables(seed: int = DATA_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = ROWS
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION{i:02d}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
        "s_acctbal": _money(rng, n["supplier"], -999, 9999)})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
        "c_acctbal": _money(rng, n["customer"], -999, 9999),
        "c_mktsegment": _choice(rng, SEGMENTS, n["customer"])})
    np_ = n["part"]
    adj = ["large", "hot", "blue", "old", "cold", "green", "tiny", "red"]
    noun = ["ring", "bolt", "plate", "gear", "pipe", "nut", "valve"]
    out["part"] = pa.table({
        "p_partkey": np.arange(np_, dtype=np.int64),
        "p_name": [f"{adj[i % 8]} {noun[(i // 8) % 7]}" for i in range(np_)],
        "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], np_),
        "p_type": _choice(rng, P_TYPES, np_),
        "p_size": rng.integers(1, 51, np_).astype(np.int32),
        "p_retailprice": np.round(900 + np.arange(np_) * 0.1, 2)})
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], no),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], no),
        "o_totalprice": _money(rng, no, 1000, 500000),
        "o_orderdate": _days(rng, no, dt.date(1995, 1, 1),
                             dt.date(2001, 8, 1)),
        "o_orderpriority": _choice(rng, PRIORITIES, no)})
    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, np_, nl),
        "l_suppkey": rng.integers(0, n["supplier"], nl),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900, 105000),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], nl),
        "l_linestatus": _choice(rng, ["F", "O"], nl),
        "l_shipdate": _days(rng, nl, dt.date(1995, 1, 2),
                            dt.date(2001, 11, 4))})
    ne = n["events"]
    ts_us = np.sort(rng.integers(0, EVENTS_DAYS * 86400 * 10**6, ne))
    out["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": np.datetime64(EVENTS_START, "us") + ts_us.astype(
            "timedelta64[us]"),
        "user_id": rng.integers(0, 1500, ne),
        "event_type": _choice(rng, EVENT_TYPES, ne),
        "value": np.round(rng.exponential(40.0, ne), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, ne)], pa.string())})
    nd = n["documents"]
    texts = _docs(rng, nd)
    out["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": _choice(rng, ["en", "de", "es", "fr", "zh"], nd,
                        p=[0.5, 0.125, 0.125, 0.125, 0.125]),
        "source": _choice(rng, [f"src{i}" for i in range(20)], nd),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    nv = n["embeddings"]
    centers = rng.normal(0, 1, (10, EMBED_DIM))
    label = rng.integers(0, 10, nv)
    vecs = (centers[label] + rng.normal(0, 0.6, (nv, EMBED_DIM))).astype(
        np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": label.astype(np.int32)})
    return out


def ensure(root: str) -> str:
    """Directory holding the generated parquet, written once per
    checkout (atomically: a half-written directory is never used)."""
    out = os.path.join(root, f"sf0.1-seed{DATA_SEED}-v{VERSION}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    os.makedirs(tmp)
    for name, t in tables().items():
        pq.write_table(t, os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(ensure(sys.argv[1]))
