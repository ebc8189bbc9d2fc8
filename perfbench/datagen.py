"""Seeded input tables for the benchmark.

The benchmark may not read fixtures from outside its checkout, so every
table the workloads need is generated here from ``--seed``: the same
seed and scale give byte-identical inputs. Shapes, row counts
and distributions follow the repository's fixture tables (TESTDATA.md,
FIXTURES.md §2), checked against them at scale 0.01 and 0.1: a
TPC-H-like star schema, an ``events`` stream table, a bag-of-words
``documents`` corpus (text length, word document frequency, language
mix and a 5% share of `` dup`` copies as in the fixtures) and
``embeddings`` of random unit vectors whose labels carry no cluster
structure, as in the fixtures. ``scale`` plays the role of the fixture
scale factor (0.01 gives 10k events, 60k lineitems).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z
_DAY_US = 86_400_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def document_texts(rng: np.random.Generator, n: int) -> list[str]:
    """Bag-of-words texts of 10-99 words drawn uniformly from ``VOCAB``
    (48-577 characters). One text in twenty is a copy of another text
    with `` dup`` appended, so the near-duplicate gates have pairs to
    find."""
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 100, n)
    out = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    dups = rng.choice(n, n // 20, replace=False)
    originals = np.setdiff1d(np.arange(n), dups)
    for i, src in zip(dups, rng.choice(originals, len(dups))):
        out[i] = out[src] + " dup"
    return out


def events_table(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    gaps = rng.exponential(2_592_000e6 / n, n)  # 30 days of events
    return pa.table(
        {
            "event_id": np.arange(n, dtype="int64"),
            "ts": _ts(_EPOCH_2024_US + np.cumsum(gaps)),
            "user_id": rng.integers(0, users, n).astype("int64"),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": np.clip(np.round(rng.exponential(50.0, n), 2), 0.01, None),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1500, int(1_500_000 * scale))
    n_line = max(6000, int(6_000_000 * scale))
    n_ev = max(1000, int(1_000_000 * scale))
    n_doc = max(500, int(50_000 * scale))
    n_emb = max(500, int(20_000 * scale))

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": pa.array([f"{a} {b}" for a, b in zip(adj, noun)]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
            "o_orderstatus": pa.array(np.array(["P", "F", "O"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(_EPOCH_1995_US + rng.integers(0, 2405, n_ord) * _DAY_US),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
        }
    )
    qty = rng.integers(1, 51, n_line).astype("float64")
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
            "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
            "l_shipdate": _ts(_EPOCH_1995_US + rng.integers(1, 2500, n_line) * _DAY_US),
        }
    )
    out["events"] = events_table(rng, n_ev, max(150, int(15_000 * scale)))
    texts = document_texts(rng, n_doc)
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype="int64"),
            "text": texts,
            "lang": pa.array(np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )
    labels = rng.integers(0, 10, n_emb)
    vecs = rng.normal(size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype="int64"),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return out


def write_tables(out_dir: str, seed: int, scale: float) -> str:
    """Write every table as ``<out_dir>/<name>.parquet`` (the layout
    ``flyq_spark.io.read_table`` and the DuckDB oracles read)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
