"""Seeded generator for the benchmark's input corpus.

Writes the ten corpus tables (``region`` .. ``embeddings``) as one parquet
file each, with the same column names, physical types and value domains as
the engine's TPC-H-ish test corpus, so every registry query runs unchanged
on them. The same (seed, sf) always yields byte-identical tables.

Also generates the lakehouse workload's ``events`` slices and CDC batches.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMB_DIM = 64

_EPOCH_1995 = np.datetime64("1995-01-01", "D")
_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")


def _write(tab: pa.Table, path: str) -> None:
    pq.write_table(tab, path, compression="snappy")


def _events_table(
    rng: np.random.Generator, first_id: int, n: int, n_users: int, day0: float
) -> pa.Table:
    """``n`` events with ids ``first_id..``, ts spread over 30 days after
    ``day0`` days past 2024-01-01 (sorted, microsecond grain)."""
    us = np.sort(rng.uniform(day0, day0 + 30.0, n) * 86_400e6).astype(np.int64)
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
            "ts": pa.array(_EPOCH_2024 + us.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(VOCAB)
    lens = rng.integers(10, 101, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lens]
    # crawl duplication: 5% near-duplicates (an earlier doc plus one token)
    # and 0.5% exact copies, so every dedup operator has work to find
    for i in rng.choice(np.arange(1, n), n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in rng.choice(np.arange(1, n), max(1, n // 200), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    x = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), EMB_DIM)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def make_corpus(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten corpus tables under ``out_dir``; return row counts."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), max(500, int(20_000 * sf))
    os.makedirs(out_dir, exist_ok=True)
    tabs: dict[str, pa.Table] = {}
    tabs["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    tabs["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tabs["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    tabs["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    names = np.array([f"{a} {b}" for a in P_ADJ for b in P_NOUN])
    tabs["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": names[rng.integers(0, len(names), n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(P_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }
    )
    o_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    tabs["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
            "o_orderdate": pa.array(
                (_EPOCH_1995 + o_days).astype("datetime64[us]"), pa.timestamp("us")
            ),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    l_ord = rng.integers(0, n_ord, n_line)
    ship = o_days[l_ord] + rng.integers(1, 96, n_line)
    tabs["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_ord, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": pa.array(
                (_EPOCH_1995 + ship).astype("datetime64[us]"), pa.timestamp("us")
            ),
        }
    )
    tabs["events"] = _events_table(rng, 0, n_ev, max(50, int(15_000 * sf)), 0.0)
    tabs["documents"] = _documents(rng, n_doc)
    tabs["embeddings"] = _embeddings(rng, n_emb)
    for name, tab in tabs.items():
        _write(tab, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tab.num_rows for name, tab in tabs.items()}


class EventFeed:
    """Seeded source of ``events`` rows for the lakehouse workload: fresh
    append slices (new event ids) and CDC batches that rewrite existing
    event ids with new values."""

    def __init__(self, seed: int, n_users: int):
        self.rng = np.random.default_rng(seed)
        self.n_users = n_users
        self.next_id = 0
        self.day = 0.0

    def slice(self, n: int) -> pa.Table:
        tab = _events_table(self.rng, self.next_id, n, self.n_users, self.day)
        self.next_id += n
        self.day += 0.25
        return tab

    def cdc(self, n: int) -> pa.Table:
        """``n`` changed rows for ids already issued (some repeated, so a
        batch carries several versions of one key; the newest ``ts``
        wins)."""
        ids = self.rng.integers(0, self.next_id, n)
        tab = _events_table(self.rng, 0, n, self.n_users, self.day)
        return tab.set_column(0, "event_id", pa.array(ids, pa.int64()))
