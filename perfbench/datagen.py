"""Seeded fixture generator for the benchmark.

Writes the engine's ten tables (TESTDATA.md schema: region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) as one parquet file each. Row counts follow the repo's sf
convention (sf0.1 = 600k lineitem rows); value distributions follow
tools/gen_sf.py, but every input, vocabularies included, comes from
the seed, so the benchmark needs nothing outside its checkout.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ALL_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
N_NATIONS = 25
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURNFLAGS = ["A", "N", "R"]
LINESTATUSES = ["F", "O"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
ETYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
N_SOURCES = 20
EMB_DIM = 64
EMB_CLUSTERS = 10


def _pick(rng: np.random.Generator, choices: list[str], n: int) -> pa.Array:
    return pa.array(np.array(choices)[rng.integers(0, len(choices), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out_dir: str, scale: float, seed: int, tables=ALL_TABLES) -> dict[str, int]:
    """Write the requested tables under ``out_dir``; returns row counts.

    Every table draws from its own generator (seeded by ``seed`` and the
    table's position), so a subset of tables is byte-identical to the
    same tables of a full run."""
    os.makedirs(out_dir, exist_ok=True)
    n = {
        "customer": int(150_000 * scale), "supplier": int(10_000 * scale),
        "part": int(200_000 * scale), "orders": int(1_500_000 * scale),
        "lineitem": int(6_000_000 * scale), "events": int(1_000_000 * scale),
        "documents": int(50_000 * scale), "embeddings": int(20_000 * scale),
        "users": max(1, int(15_000 * scale)),
    }
    base_day = np.datetime64("1995-01-01")
    span_days = int((np.datetime64("2001-08-01") - base_day) / np.timedelta64(1, "D"))

    def rng_for(name: str) -> np.random.Generator:
        return np.random.default_rng([seed, ALL_TABLES.index(name)])

    def order_days() -> np.ndarray:
        # Shared by orders and lineitem (ship date follows order date).
        return rng_for("orders").integers(0, span_days + 1, n["orders"])

    def build(name: str) -> pa.Table:
        rng = rng_for(name)
        if name == "region":
            return pa.table({
                "r_regionkey": pa.array(np.arange(len(REGIONS), dtype=np.int32), pa.int32()),
                "r_name": REGIONS,
            })
        if name == "nation":
            keys = np.arange(N_NATIONS, dtype=np.int32)
            return pa.table({
                "n_nationkey": pa.array(keys, pa.int32()),
                "n_name": [f"NATION_{k}" for k in keys],
                "n_regionkey": pa.array(keys % len(REGIONS), pa.int32()),
            })
        if name == "customer":
            m = n["customer"]
            return pa.table({
                "c_custkey": pa.array(np.arange(m), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(m)],
                "c_nationkey": pa.array(rng.integers(0, N_NATIONS, m).astype(np.int32), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, m),
                "c_mktsegment": _pick(rng, SEGMENTS, m),
            })
        if name == "supplier":
            m = n["supplier"]
            return pa.table({
                "s_suppkey": pa.array(np.arange(m), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(m)],
                "s_nationkey": pa.array(rng.integers(0, N_NATIONS, m).astype(np.int32), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, m),
            })
        if name == "part":
            m = n["part"]
            adj = np.array(PART_ADJS)[rng.integers(0, len(PART_ADJS), m)]
            noun = np.array(PART_NOUNS)[rng.integers(0, len(PART_NOUNS), m)]
            return pa.table({
                "p_partkey": pa.array(np.arange(m), pa.int64()),
                "p_name": np.char.add(np.char.add(adj, " "), noun),
                "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], m),
                "p_type": _pick(rng, PTYPES, m),
                "p_size": pa.array(rng.integers(1, 51, m).astype(np.int32), pa.int32()),
                "p_retailprice": _money(rng, 900.0, 999.9, m),
            })
        if name == "orders":
            m = n["orders"]
            days = order_days()  # first draw of this generator
            return pa.table({
                "o_orderkey": pa.array(np.arange(m), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, max(1, n["customer"]), m), pa.int64()),
                "o_orderstatus": _pick(rng, STATUSES, m),
                "o_totalprice": _money(rng, 1000.0, 500000.0, m),
                "o_orderdate": pa.array((base_day + days.astype("timedelta64[D]")).astype("datetime64[us]")),
                "o_orderpriority": _pick(rng, PRIORITIES, m),
            })
        if name == "lineitem":
            m = n["lineitem"]
            okey = rng.integers(0, n["orders"], m)
            ship = (base_day + order_days()[okey].astype("timedelta64[D]")
                    + rng.integers(1, 96, m).astype("timedelta64[D]"))
            return pa.table({
                "l_orderkey": pa.array(okey, pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n["part"], m), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, m).astype(np.int32), pa.int32()),
                "l_quantity": rng.integers(1, 51, m).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, m),
                "l_discount": np.round(rng.integers(0, 11, m) / 100.0, 2),
                "l_tax": np.round(rng.integers(0, 9, m) / 100.0, 2),
                "l_returnflag": _pick(rng, RETURNFLAGS, m),
                "l_linestatus": _pick(rng, LINESTATUSES, m),
                "l_shipdate": pa.array(ship.astype("datetime64[us]")),
            })
        if name == "events":
            m = n["events"]
            t0 = np.datetime64("2024-01-01T00:00:00.000000")
            month_us = 30 * 24 * 3600 * 1_000_000
            ts = np.sort(t0 + rng.integers(0, month_us, m).astype("timedelta64[us]"))
            return pa.table({
                "event_id": pa.array(np.arange(m), pa.int64()),
                "ts": pa.array(ts),
                "user_id": pa.array(rng.integers(0, n["users"], m), pa.int64()),
                "event_type": _pick(rng, ETYPES, m),
                "value": np.round(rng.exponential(50.0, m), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, m).tolist()],
            })
        if name == "documents":
            m = n["documents"]
            vocab = np.array(DOC_VOCAB)
            texts: list[str] = []
            for i in range(m):
                if i > 0 and rng.random() < 0.05:
                    # Near-duplicate of an earlier document, so the dedup
                    # family has real above-threshold pairs.
                    texts.append(texts[int(rng.integers(0, i))] + " dup")
                else:
                    toks = vocab[rng.integers(0, len(vocab), int(rng.integers(8, 90)))]
                    texts.append(" ".join(toks))
            return pa.table({
                "doc_id": pa.array(np.arange(m), pa.int64()),
                "text": texts,
                "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), m, p=np.array(LANG_P) / sum(LANG_P))]),
                "source": [f"src{i % N_SOURCES}" for i in range(m)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            })
        if name == "embeddings":
            m = n["embeddings"]
            centers = rng.normal(0.0, 0.15, (EMB_CLUSTERS, EMB_DIM))
            labels = rng.integers(0, EMB_CLUSTERS, m)
            vecs = (centers[labels] + rng.normal(0.0, 0.22, (m, EMB_DIM))).astype(np.float32)
            return pa.table({
                "vec_id": pa.array(np.arange(m), pa.int64()),
                "embedding": pa.FixedSizeListArray.from_arrays(vecs.reshape(-1), EMB_DIM).cast(pa.list_(pa.float32())),
                "label": pa.array(labels.astype(np.int32), pa.int32()),
            })
        raise ValueError(f"unknown table {name!r}")

    rows = {}
    for name in tables:
        t = build(name)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows
