"""Seeded generator of the query workloads' input tables.

Writes the ten parquet tables that `deep_field_spark.queries` reads
(`region nation customer supplier part orders lineitem events documents
embeddings`) with the schema, value domains and row counts of the
TPC-H-shaped synthetic data the registry's oracles were written
against: independent uniform columns, keys dense from 0, 5% of the
documents near-duplicates of an earlier one, unit-norm embeddings.

    python3 perfbench/tables.py OUT_DIR SCALE SEED
"""

from __future__ import annotations

import os
import sys
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
EMBED_DIM = 64


def _days(start: str, end: str, n: int, rng: np.random.Generator) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(lo: float, hi: float, n: int, rng: np.random.Generator) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(scale: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables at `scale` (0.1 = 600k lineitem rows)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_line, n_ev = int(1_500_000 * scale), int(6_000_000 * scale), int(1_000_000 * scale)
    n_doc = int(50_000 * scale)
    n_emb = min(n_doc, 2000)
    n_users = int(15_000 * scale)

    def pick(values: list[str], n: int) -> np.ndarray:
        return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(-999.99, 9999.99, n_cust, rng),
        "c_mktsegment": pick(SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(-999.99, 9999.99, n_supp, rng),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": pick(names, n_part),
        "p_brand": np.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)], dtype=object),
        "p_type": pick(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + rng.integers(0, 1000, n_part) / 10.0,
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": _money(1000.0, 500000.0, n_ord, rng),
        "o_orderdate": _days("1995-01-01", "2001-08-01", n_ord, rng),
        "o_orderpriority": pick(PRIORITIES, n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(900.0, 105000.0, n_line, rng),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": _days("1995-01-02", "2001-11-04", n_line, rng),
    })
    start = np.datetime64(datetime(2024, 1, 1), "us")
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": pick(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(pick(WORDS, int(rng.integers(10, 101)))))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": pick(LANGS, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_emb, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return out


def write(out_dir: str, scale: float, seed: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(scale, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
