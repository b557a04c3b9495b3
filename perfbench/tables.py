"""Seeded relational tables for the `queries` workload.

The columns and types follow the program's query contract (TPC-H-ish
star schema plus events, documents and embeddings); only the seven
tables the eleven benchmarked queries read are written.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["lineitem", "part", "orders", "customer", "events", "documents", "embeddings"]

_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
_WORDS = np.array("batch part spark line column order small sort fast value scan hash "
                  "slow group join data table window merge stream".split())
_DAY_US = 86_400 * 1_000_000
SCALE = 0.05  # share of the sf1 row counts: the sf0.05 shape


def _ts(base: str, us: np.ndarray) -> np.ndarray:
    return np.datetime64(base, "us") + us.astype("timedelta64[us]")


def _write(out_dir: str, name: str, cols: dict, schema: pa.Schema) -> None:
    pq.write_table(pa.table(cols, schema=schema), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write the seven tables; returns row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_li, n_ord, n_cust = int(6_000_000 * SCALE), int(1_500_000 * SCALE), int(150_000 * SCALE)
    n_part, n_ev, n_doc, n_emb = int(200_000 * SCALE), int(1_000_000 * SCALE), 5000, 2000
    n_users = max(int(15_000 * SCALE), 10)

    li_qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li), "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, 1000, n_li), "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": li_qty,
        "l_extendedprice": np.round(li_qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0, "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts("1995-01-01", rng.integers(0, 2500, n_li) * _DAY_US),
    }, pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
                  ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()),
                  ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()),
                  ("l_tax", pa.float64()), ("l_returnflag", pa.string()),
                  ("l_linestatus", pa.string()), ("l_shipdate", pa.timestamp("us"))]))

    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _WORDS[rng.integers(0, len(_WORDS), n_part)],
        "p_brand": pd.Series(rng.integers(1, 26, n_part)).map("Brand#{}".format).to_numpy(),
        "p_type": np.array(["ECONOMY", "SMALL", "LARGE", "MEDIUM", "PROMO", "STANDARD"])[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + np.arange(n_part) % 1000 * 0.1, 2),
    }, pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()), ("p_brand", pa.string()),
                  ("p_type", pa.string()), ("p_size", pa.int32()), ("p_retailprice", pa.float64())]))

    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64), "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2400, n_ord) * _DAY_US),
        "o_orderpriority": _PRIORITIES[rng.integers(0, 5, n_ord)],
    }, pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()), ("o_orderstatus", pa.string()),
                  ("o_totalprice", pa.float64()), ("o_orderdate", pa.timestamp("us")),
                  ("o_orderpriority", pa.string())]))

    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": pd.Series(np.arange(n_cust)).map("Customer#{:09d}".format).to_numpy(),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": _SEGMENTS[rng.integers(0, 5, n_cust)],
    }, pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()), ("c_nationkey", pa.int32()),
                  ("c_acctbal", pa.float64()), ("c_mktsegment", pa.string())]))

    # skewed users: a few heavy users, many light ones
    users = np.minimum((rng.random(n_ev) ** 2 * n_users).astype(np.int64), n_users - 1)
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * _DAY_US, n_ev))),
        "user_id": users, "event_type": _EVENT_TYPES[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(20, n_ev), 2),
        "props": pd.Series(rng.integers(0, 100, n_ev)).map('{{"k": {}}}'.format).to_numpy(),
    }, pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
                  ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())]))

    n_words = rng.integers(5, 80, n_doc)
    words = _WORDS[rng.integers(0, len(_WORDS), (n_doc, 80))]
    texts = [" ".join(words[i, : n_words[i]]) for i in range(n_doc)]
    dup = rng.random(n_doc) < 0.1  # exact duplicates for the dedup query
    src_idx = rng.integers(0, n_doc, n_doc)
    texts = [texts[src_idx[i]] if dup[i] else texts[i] for i in range(n_doc)]
    pad = rng.random(n_doc) < 0.1  # edge spaces only: the oracle trims spaces
    texts = [("  " + t + " ") if p else t for t, p in zip(texts, pad)]
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64), "text": texts,
        "lang": np.array(["en", "de", "fr", "es", "zh"])[rng.integers(0, 5, n_doc)],
        "source": pd.Series(rng.integers(0, 20, n_doc)).map("src{}".format).to_numpy(),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }, pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                  ("source", pa.string()), ("n_chars", pa.int64())]))

    emb = rng.normal(0, 0.1, (n_emb, 64)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.ravel()), 64).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    }, pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]))
    return {"lineitem": n_li, "orders": n_ord, "customer": n_cust, "part": n_part,
            "events": n_ev, "documents": n_doc, "embeddings": n_emb}
