"""Synthetic tables for the ``query_mix`` workload.

The registry queries read the repository's synthetic TPC-H-like star
schema (catalog.TABLES). This writes the five tables the mix touches, with the
column names, types and value domains of those tables at about sf0.01
(60k lineitem rows), from a fixed seed: every run of the workload plans
and executes against identical data, and the run's own seed only sets
the query order.
"""

from __future__ import annotations

import numpy as np

DATA_SEED = 42
TABLES = ("lineitem", "orders", "part", "events", "documents")

_PART_WORDS = (("blue", "red", "hot", "cold", "old", "new", "small", "large"),
               ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"))
_DOC_WORDS = ("join hash row batch scan column customer filter small slow merge order "
              "vector line table data agg value key stream window a spark part group big "
              "sort query fast the").split()
_EPOCH_DAY = np.datetime64("1995-01-01", "D")


def _dates(rng: np.random.Generator, n: int, days: int) -> np.ndarray:
    return (_EPOCH_DAY + rng.integers(0, days, n)).astype("datetime64[us]")


def write_tables(out_dir: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(DATA_SEED)
    scale = 0.01
    n_orders, n_part, n_line = int(1_500_000 * scale), int(200_000 * scale), int(6_000_000 * scale)
    n_events, n_docs = int(1_000_000 * scale), int(50_000 * scale)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), f"{out_dir}/{name}.parquet")

    put("orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_orders // 10, n_orders),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": _dates(rng, n_orders, 2400),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders),
    })
    put("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": pa.array([f"{_PART_WORDS[0][a]} {_PART_WORDS[1][b]}" for a, b in
                            rng.integers(0, 8, (n_part, 2))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": rng.choice(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    put("lineitem", {
        "l_orderkey": rng.integers(0, n_orders, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, max(1, n_part // 20), n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _dates(rng, n_line, 2500),
    })
    ts = np.datetime64("2024-01-01", "us") + np.sort(rng.integers(0, 30 * 86_400_000_000, n_events))
    put("events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, max(1, n_events // 66), n_events),
        "event_type": rng.choice(["signup", "error", "click", "view", "purchase"], n_events),
        "value": np.round(rng.uniform(0.01, 490, n_events), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    texts = [" ".join(rng.choice(_DOC_WORDS, rng.integers(10, 100))) for _ in range(n_docs)]
    for i in range(0, n_docs, 20):  # plant exact and near duplicates for the curation queries
        texts[i] = texts[(i * 7 + 3) % n_docs]
        near = texts[(i * 11 + 5) % n_docs].split()
        near[len(near) // 2] = "dup"
        texts[i + 10] = " ".join(near + ["dup"])
    put("documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": pa.array(texts),
        "lang": rng.choice(["en", "en", "en", "de", "es", "fr", "zh"], n_docs),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_docs)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
