"""Seeded tables for the `query_tier` workload.

The registered queries read `<sf_dir>/<table>.parquet`. This writes those
files with the same columns and types as the package's test data
(TPC-H-like order tables, an event stream, a document corpus with exact and
near duplicates, and labelled embeddings), sized by `scale` (1.0 gives
lineitem about 600k rows). The same seed writes the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the row key agg scan slow fast table value part hash merge batch data "
    "window spark order join small big line customer query sort column group "
    "filter stream vector index shard token score rank cell graph node edge"
).split()
LANGS = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
PART_WORDS = np.array(["small", "red", "blue", "green", "large", "steel", "brass"])
PART_NOUNS = np.array(["ring", "widget", "bolt", "gear", "valve", "panel"])
PART_TYPES = np.array(["ECONOMY", "SMALL", "LARGE", "MEDIUM", "PROMO", "STANDARD"])
DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000
EPOCH_2024_US = 1_704_067_200_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_orders = int(150_000 * scale)
    n_cust = max(100, n_orders // 10)
    n_part = max(200, int(20_000 * scale))
    n_docs = max(200, int(5_000 * scale))
    n_vec = max(100, int(2_000 * scale))
    n_events = int(100_000 * scale)
    n_users = max(50, int(1_500 * scale))

    part = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(
                np.char.add(
                    np.char.add(rng.choice(PART_WORDS, n_part), " "),
                    rng.choice(PART_NOUNS, n_part),
                )
            ),
            "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
            "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900 + np.arange(n_part) * 0.1 % 1100, 2)),
        }
    )
    order_day = rng.integers(0, 2400, n_orders)
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(np.array(["F", "O", "P"]), n_orders)),
            "o_totalprice": pa.array(_money(rng, n_orders, 1_000, 500_000)),
            "o_orderdate": _ts(EPOCH_1995_US + order_day * DAY_US),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_orders)),
        }
    )
    lines = rng.integers(1, 8, n_orders)
    l_order = np.repeat(np.arange(n_orders), lines)
    n_li = len(l_order)
    starts = np.cumsum(lines) - lines
    l_linenumber = np.arange(n_li) - np.repeat(starts, lines) + 1
    l_qty = rng.integers(1, 51, n_li).astype(float)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, max(10, n_part // 20), n_li), pa.int64()),
            "l_linenumber": pa.array(l_linenumber, pa.int32()),
            "l_quantity": pa.array(l_qty),
            "l_extendedprice": pa.array(np.round(l_qty * rng.uniform(900, 2000, n_li), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100),
            "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), n_li)),
            "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), n_li)),
            "l_shipdate": _ts(
                EPOCH_1995_US + (np.repeat(order_day, lines) + rng.integers(1, 122, n_li)) * DAY_US
            ),
        }
    )
    ev_ts = EPOCH_2024_US + rng.integers(0, 30 * DAY_US, n_events)
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": _ts(ev_ts),
            "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n_events)),
            "value": pa.array(np.round(rng.exponential(60, n_events), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
        }
    )
    vocab = np.array(VOCAB)
    texts = [" ".join(rng.choice(vocab, rng.integers(8, 90))) for _ in range(n_docs)]
    # About 2% exact duplicates and 3% one-word edits of an earlier document.
    for i in range(1, n_docs):
        u = rng.random()
        if u < 0.02:
            texts[i] = texts[rng.integers(0, i)]
        elif u < 0.05:
            words = texts[rng.integers(0, i)].split()
            words[rng.integers(0, len(words))] = str(rng.choice(vocab))
            texts[i] = " ".join(words)
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n_docs)),
            "source": pa.array(np.char.add("src", rng.integers(0, 20, n_docs).astype(str))),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0, 0.15, (10, 64))
    vecs = (centers[labels] + rng.normal(0, 0.1, (n_vec, 64))).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return {
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": documents,
        "embeddings": embeddings,
    }


def write(seed: int, scale: float, out_dir: str) -> dict[str, int]:
    """Write every table as `<out_dir>/<name>.parquet`; return rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, t in tables(seed, scale).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows
