"""Deterministic synthetic tables for the benchmark.

The tables have the schema the engine's registry queries expect (a
trimmed TPC-H star schema plus ``events``, ``documents`` and
``embeddings``; see FIXTURES.md). Rows come from a fixed generator seed,
so the same scale factor always yields byte-identical parquet files and
the recorded expected results in ``expected.json`` stay valid. The
benchmark's ``--seed`` never reaches this module: it only permutes the
operation order and draws the ingest vectors.

Usage: python3 perfbench/gen.py OUT_DIR [--sf 0.01]
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 42
DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["red", "blue", "hot", "cold", "new", "old", "small", "large"]
NOUNS = ["bolt", "ring", "plate", "rod", "gear", "anvil", "nut", "pipe"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]


def _pick(rng, choices, n, p=None):
    return np.asarray(list(choices), dtype=object)[
        rng.choice(len(choices), n, p=p)
    ]


def _days(rng, start, span, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.05:
            # a near-duplicate of an earlier document, so the dedup and
            # containment operators have real matches to find
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(_pick(rng, WORDS, 1)[0])
        else:
            words = list(_pick(rng, WORDS, int(rng.integers(8, 96))))
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(_pick(rng, LANGS, n, LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n):
    centers = rng.standard_normal((10, DIM))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] + 1.5 * rng.standard_normal((n, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(GEN_SEED)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_user = max(150, int(15_000 * sf))
    out = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": pa.array(REGIONS, pa.string()),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
                "c_mktsegment": pa.array(_pick(rng, SEGMENTS, n_cust), pa.string()),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": pa.array(
                    [f"{a} {b}" for a, b in zip(
                        _pick(rng, ADJECTIVES, n_part), _pick(rng, NOUNS, n_part)
                    )]
                ),
                "p_brand": pa.array(
                    [f"Brand#{b}" for b in rng.integers(1, 26, n_part)]
                ),
                "p_type": pa.array(_pick(rng, PART_TYPES, n_part), pa.string()),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": pa.array(_pick(rng, "OFP", n_ord), pa.string()),
                "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
                "o_orderdate": _days(rng, "1995-01-01", 2405, n_ord),
                "o_orderpriority": pa.array(
                    _pick(rng, PRIORITIES, n_ord), pa.string()
                ),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
                "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
                "l_extendedprice": np.round(rng.uniform(900, 105_000, n_line), 2),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": pa.array(_pick(rng, "ANR", n_line), pa.string()),
                "l_linestatus": pa.array(_pick(rng, "FO", n_line), pa.string()),
                "l_shipdate": _days(rng, "1995-01-02", 2499, n_line),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n_ev), pa.int64()),
                "ts": np.datetime64("2024-01-01", "us")
                + np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_ev)).astype(
                    "timedelta64[us]"
                ),
                "user_id": pa.array(rng.integers(0, n_user, n_ev), pa.int64()),
                "event_type": pa.array(_pick(rng, EVENT_TYPES, n_ev), pa.string()),
                "value": np.round(rng.exponential(40.0, n_ev), 2),
                "props": pa.array(
                    [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]
                ),
            }
        ),
        "documents": _documents(rng, max(500, int(50_000 * sf))),
        "embeddings": _embeddings(rng, max(500, int(20_000 * sf))),
    }
    return out


def write(out_dir: str, sf: float) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--sf", type=float, default=0.01)
    args = ap.parse_args()
    print(write(args.out_dir, args.sf))
