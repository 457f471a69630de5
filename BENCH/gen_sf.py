#!/usr/bin/env python3
"""Generate a REPRESENTATIVE large-scale testdata directory for local
performance measurement (round-6 evidence).

The driver's round-end bench may run at a driver-generated scale factor
(BENCH_r05.json: sf=1.0); the sandbox only ships sf<=0.1.  This script
extrapolates the sf0.1 tables' measured distributions (row-count ratios,
key ranges, per-order lineitem fan-out, bounded 31-word document
vocabulary, 5%% near-dup docs, 30-day event window, unit-norm
10-cluster embeddings) so sf1.0-scale plans can be timed locally.  It is
NOT byte-identical to the driver's data — correctness is checked by the
driver at the shipped small SFs; this corpus exists only so q14/q15-class
scale cliffs are measurable before the driver finds them.

Usage: python3 BENCH/gen_sf.py <sf> [outdir]   (default outdir
/root/testdata_local/sf<sf>; refuses to write into /root/testdata).
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch",
]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]
STATUS = ["F", "O", "P"]
PRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ETYPES = ["click", "error", "purchase", "signup", "view"]
RFLAG = ["A", "N", "R"]
LSTAT = ["F", "O"]
READ_ONLY_TESTDATA = "/root/testdata"


def writes_into_testdata(outdir: str) -> bool:
    """True when `outdir` is the read-only testdata root or lies under it
    (path components, not string prefixes: a sibling such as
    `<root>_local` is allowed, the root itself with or without a trailing
    slash is not)."""
    root = os.path.abspath(READ_ONLY_TESTDATA)
    return os.path.commonpath([root, os.path.abspath(outdir)]) == root


def write(outdir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(outdir, f"{name}.parquet"))
    print(f"  {name}: {table.num_rows} rows")


def main() -> None:
    sf = float(sys.argv[1])
    outdir = (
        sys.argv[2]
        if len(sys.argv) > 2
        else f"/root/testdata_local/sf{sys.argv[1]}"
    )
    if writes_into_testdata(outdir):
        sys.exit(f"refusing to write into the read-only testdata: {outdir}")
    os.makedirs(outdir, exist_ok=True)
    rng = np.random.default_rng(42)
    k = sf / 0.1  # multiplier vs the measured sf0.1 row counts

    n_cust = int(15000 * k)
    n_supp = int(1000 * k)
    n_part = int(20000 * k)
    n_ord = int(150000 * k)
    n_ev = int(100000 * k)
    n_doc = int(5000 * k)
    n_emb = int(2000 * k)
    n_user = int(1500 * k)

    # region / nation: fixed tiny dims
    write(outdir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int64()),
        "r_name": [f"region{i}" for i in range(5)],
    }))
    write(outdir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int64()),
        "n_name": [f"nation{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int64()),
    }))

    write(outdir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
        )[rng.integers(0, 5, n_cust)],
    }))
    write(outdir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    }))
    write(outdir, "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"part {i}" for i in range(n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 6)])[
            rng.integers(0, 5, n_part)
        ],
        "p_type": np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY"])[
            rng.integers(0, 5, n_part)
        ],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900, 2000, n_part), 2),
    }))

    day_us = 86_400_000_000
    d0 = np.datetime64("1995-01-01", "us").astype(np.int64)
    span_d = (np.datetime64("2001-08-02", "us").astype(np.int64) - d0) // day_us
    odate = d0 + rng.integers(0, span_d, n_ord) * day_us
    write(outdir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(STATUS)[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(900, 400000, n_ord), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": np.array(PRIO)[rng.integers(0, 5, n_ord)],
    }))

    # lineitem: per-order fan-out ~ the measured sf0.1 distribution
    # (mean 4, range 1..17 — a zero-clipped Poisson(4) reproduces it)
    per = rng.poisson(4.0, n_ord)
    per = np.maximum(per, 1)
    lok = np.repeat(np.arange(n_ord), per)
    n_li = len(lok)
    lnum = np.concatenate([np.arange(1, c + 1) for c in per]) if n_ord else np.array([], np.int64)
    sdate = np.repeat(odate, per) + rng.integers(1, 122, n_li) * day_us
    write(outdir, "lineitem", pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(RFLAG)[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(LSTAT)[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(sdate, pa.timestamp("us")),
    }))

    e0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ets = np.sort(e0 + rng.integers(0, 30 * day_us, n_ev))
    write(outdir, "events", pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ets, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_user, n_ev), pa.int64()),
        "event_type": np.array(ETYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n_ev)],
    }))

    # documents: bounded 30-word vocab, uniform 8..100 words, 5% near-dup
    # (copy of an earlier doc + " dup"), ~0.3% exact dups — the measured
    # sf0.1 shape (31 distinct words incl. "dup"; 250/5000 near-dups).
    n_words = rng.integers(8, 101, n_doc)
    texts: list[str] = []
    for i in range(n_doc):
        w = rng.integers(0, len(VOCAB), n_words[i])
        texts.append(" ".join(VOCAB[j] for j in w))
    n_dup = n_doc // 20
    dup_targets = rng.choice(n_doc, n_dup, replace=False)
    for t in dup_targets:
        src = rng.integers(0, n_doc)
        texts[t] = texts[src] + " dup"
    for t in rng.choice(n_doc, max(2, n_doc // 625), replace=False):
        texts[t] = texts[rng.integers(0, n_doc)]
    write(outdir, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))

    # embeddings: unit-norm dim-64 vectors, 10 weak Gaussian clusters
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 0.08, (10, 64))
    E = rng.normal(0, 1.0, (n_emb, 64)) + centers[labels] * 8
    E /= np.linalg.norm(E, axis=1, keepdims=True)
    write(outdir, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(E.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }))
    print(f"wrote {outdir}")


if __name__ == "__main__":
    main()
