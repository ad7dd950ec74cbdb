"""Benchmark inputs: the repo's seed-42 test tables, regenerated bit for bit.

The repo's correctness and timing figures (``tools/check.py``, ``bench.py``,
ROADMAP) use test tables at sf0.001/0.01/0.1 that live outside the tree.
This module rebuilds them from their generating process: one numpy
``default_rng(42)`` stream, drawn table by table in the order below, and
written with ``pandas.DataFrame.to_parquet``.  At sf0.1 and sf0.01 each
written file has the same bytes as the corresponding test table
(``perfbench/README.md`` gives the digests), so the benchmark's queries do
exactly the work they do on those tables: same rows, same duplicates,
same file layout.

Usage: python3 perfbench/datagen.py OUT_DIR [SF]
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np
import pandas as pd

SEED = 42
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
_STATUS = ["O", "F", "P"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_RETURNFLAGS = ["R", "A", "N"]
_LINESTATUS = ["O", "F"]
_EVENTS = ["click", "view", "purchase", "signup", "error"]
_WORDS = (
    "the a spark query table join group filter window data order customer part line fast slow "
    "big small hash sort merge scan agg stream batch vector key value row column"
).split()
_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]

# sha256 of each file ``write_tables(dir, 0.1)`` writes, equal to the repo's sf0.1 test tables
SHA256_SF0_1 = {
    "region": "ce0717013cdeb77e1b29870f1f191f46bd2f0c661a18364441ac008e0e5c00a0",
    "nation": "590830f49a4bd515abef3c3e70cd5ec083b2977574ca9867317d5545413b3696",
    "customer": "d5de58d671fa7dbf8805a2fe4f0aee2b570201207c126f9b6069226b42bb1b2b",
    "supplier": "ab1a9344d47e65970205ac2b723c4dc9ec1be0e776b809422e41edc7e9498d8a",
    "part": "082525b9eb5098fe7b841e66b5a3e156808d32230202bc11cbafd85eb2443ea1",
    "orders": "128b7e8c223a3934181f7cbfc5460df52b322ea79ec980fd0e0064da08f8e3d3",
    "lineitem": "e2be01994986260d75f144c52a2648eb294f82e5ba86f32e7a84230be01856d2",
    "events": "1d18f4489b6c943be2ec8514f0e368199076bbd68d3daf19feef863960f2afe2",
    "documents": "d10b0da67e5aceb465e89365781dab5c69d3c62b64a8308398c6fd3fb09bcf82",
    "embeddings": "f5a6fe8c86ce87190f685e5d246b3e544155aa147a7f47af7d32bb6d8ebe0a95",
}


def _pick(rng, values: list[str], n: int) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def make_frames(sf: float) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec, n_user = max(500, int(50_000 * sf)), max(500, int(20_000 * sf)), int(15_000 * sf)
    i32 = lambda a: np.asarray(a, dtype=np.int32)  # noqa: E731
    out: dict[str, pd.DataFrame] = {}
    out["region"] = pd.DataFrame({"r_regionkey": i32(np.arange(5)), "r_name": _REGIONS})
    out["nation"] = pd.DataFrame(
        {
            "n_nationkey": i32(np.arange(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": i32(np.arange(25) % 5),
        }
    )
    out["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    adj, noun = _pick(rng, _ADJ, n_part), _pick(rng, _NOUN, n_part)
    out["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": adj + " " + noun,
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, _TYPES, n_part),
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    out["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, _STATUS, n_ord),
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
            "o_orderdate": np.datetime64("1995-01-01") + rng.integers(0, 2405, n_ord).astype("timedelta64[D]"),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": i32(rng.integers(1, 8, n_line)),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_line), 2),
            "l_discount": np.round(rng.uniform(0.0, 0.10, n_line), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
            "l_returnflag": _pick(rng, _RETURNFLAGS, n_line),
            "l_linestatus": _pick(rng, _LINESTATUS, n_line),
            "l_shipdate": np.datetime64("1995-01-02") + rng.integers(0, 2499, n_line).astype("timedelta64[D]"),
        }
    )
    out["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "ns") + (np.sort(rng.uniform(0, 30 * 86_400, n_ev)) * 1e9).astype("timedelta64[ns]"),
            "user_id": rng.integers(0, n_user, n_ev),
            "event_type": _pick(rng, _EVENTS, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    words = np.asarray(_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 100))]) for _ in range(n_doc)]
    # near-duplicates: 5% of documents become another document's text plus
    # "dup", applied in draw order, so a copy of a copy gets "dup dup"
    dups = rng.choice(n_doc, n_doc // 20, replace=False)
    for i, src in zip(dups, rng.integers(0, n_doc, len(dups))):
        texts[i] = texts[src] + " dup"
    out["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": _pick(rng, _LANGS, n_doc),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    vecs = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": list(vecs),
            "label": i32(rng.integers(0, 10, n_vec)),
        }
    )
    return out


def write_tables(out_dir: str, sf: float) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, df in make_frames(sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        df.to_parquet(path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True)


def mismatched(out_dir: str) -> list[str]:
    """Tables in ``out_dir`` whose bytes differ from the sf0.1 test tables."""
    bad = []
    for name, want in SHA256_SF0_1.items():
        with open(os.path.join(out_dir, f"{name}.parquet"), "rb") as f:
            if hashlib.sha256(f.read()).hexdigest() != want:
                bad.append(name)
    return bad


if __name__ == "__main__":
    write_tables(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 0.1)
