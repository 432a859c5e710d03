"""Seeded generator for the ten catalog tables.

Writes ``region nation customer supplier part orders lineitem events
documents embeddings`` as one parquet file each, with the column names,
types and value ranges the registry queries and their DuckDB oracles
expect (TPC-H-like star schema, a 30-day event stream, a 31-word synthetic
news corpus with planted near-duplicates, unit-norm 64-d embeddings in ten
labelled clusters). Row counts depend only on ``sf``; the seed decides the
values, so two seeds give inputs of the same shape and size.

    python3 perfbench/datagen.py OUT_DIR SEED [SF]
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
ADJ = "red new hot small cold large old blue".split()
NOUN = "bolt anvil ring rod plate gear widget gizmo".split()
P_TYPES = "LARGE ECONOMY STANDARD SMALL MEDIUM PROMO".split()
SEGMENTS = "MACHINERY AUTOMOBILE HOUSEHOLD BUILDING FURNITURE".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = "signup click error view purchase".split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
DUP_SHARE = 0.05
EMB_DIM = 64


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (documents and
    embeddings have a 500-row floor, as in the TESTDATA.md tables)."""
    return {
        "customer": max(1, int(150_000 * sf)),
        "supplier": max(1, int(10_000 * sf)),
        "part": max(1, int(200_000 * sf)),
        "orders": max(1, int(1_500_000 * sf)),
        "lineitem": max(1, int(6_000_000 * sf)),
        "events": max(1, int(1_000_000 * sf)),
        "users": max(1, int(15_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    # integer cents, divided once: the doubles round-trip through their
    # shortest decimal repr, so both engines read the same values
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pd.Series:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return pd.Series(lo + rng.integers(0, span + 1, n).astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    vocab = np.array(VOCAB)
    texts: list[str] = []
    n_dup = int(n * DUP_SHARE)
    dup_at = set(rng.choice(np.arange(n // 10, n), size=n_dup, replace=False).tolist())
    for i in range(n):
        if i in dup_at:
            src = texts[int(rng.integers(0, i))].split(" ")
            if src[-1] == "dup":
                src = src[:-1]
            # a near-duplicate: ~10% of tokens swapped, tagged "dup"; one
            # in ten keeps the source verbatim (exact-duplicate text)
            if rng.random() >= 0.1:
                swap = rng.random(len(src)) < 0.1
                src = [str(vocab[rng.integers(0, len(vocab))]) if s else t for t, s in zip(src, swap)]
            texts.append(" ".join(src + ["dup"]))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)]))
    ids = np.arange(n, dtype=np.int64)
    return pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pd.DataFrame:
    centers = rng.normal(size=(10, EMB_DIM))
    label = rng.integers(0, 10, n).astype(np.int32)
    v = centers[label] + rng.normal(scale=1.5, size=(n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame(
        {"vec_id": np.arange(n, dtype=np.int64), "embedding": list(v), "label": label}
    )


def generate(out_dir: str, seed: int, sf: float) -> None:
    """Write every table under ``out_dir`` (created if missing)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = table_sizes(sf)
    i32 = np.int32

    tables: dict[str, pd.DataFrame] = {}
    tables["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=i32), "r_name": list(REGIONS)}
    )
    tables["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        }
    )
    c = np.arange(n["customer"], dtype=np.int64)
    tables["customer"] = pd.DataFrame(
        {
            "c_custkey": c,
            "c_name": [f"Customer#{i:09d}" for i in c],
            "c_nationkey": rng.integers(0, 25, len(c)).astype(i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, len(c)),
            "c_mktsegment": rng.choice(SEGMENTS, len(c)),
        }
    )
    s = np.arange(n["supplier"], dtype=np.int64)
    tables["supplier"] = pd.DataFrame(
        {
            "s_suppkey": s,
            "s_name": [f"Supplier#{i:09d}" for i in s],
            "s_nationkey": rng.integers(0, 25, len(s)).astype(i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, len(s)),
        }
    )
    p = np.arange(n["part"], dtype=np.int64)
    tables["part"] = pd.DataFrame(
        {
            "p_partkey": p,
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, len(p)), rng.choice(NOUN, len(p)))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, len(p))],
            "p_type": rng.choice(P_TYPES, len(p)),
            "p_size": rng.integers(1, 51, len(p)).astype(i32),
            "p_retailprice": (90_000 + (p % 1000) * 10) / 100.0,
        }
    )
    o = np.arange(n["orders"], dtype=np.int64)
    tables["orders"] = pd.DataFrame(
        {
            "o_orderkey": o,
            "o_custkey": rng.integers(0, n["customer"], len(o)).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], len(o)),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, len(o)),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", len(o)),
            "o_orderpriority": rng.choice(PRIORITIES, len(o)),
        }
    )
    m = n["lineitem"]
    tables["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n["orders"], m).astype(np.int64),
            "l_partkey": rng.integers(0, n["part"], m).astype(np.int64),
            "l_suppkey": rng.integers(0, n["supplier"], m).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, m).astype(i32),
            "l_quantity": rng.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, m),
            "l_discount": rng.integers(0, 11, m) / 100.0,
            "l_tax": rng.integers(0, 9, m) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], m),
            "l_linestatus": rng.choice(["O", "F"], m),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", m),
        }
    )
    e = n["events"]
    us = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, e))
    tables["events"] = pd.DataFrame(
        {
            "event_id": np.arange(e, dtype=np.int64),
            # nanosecond timestamps, like the TESTDATA.md tables (the
            # catalog's events reader exists for exactly this encoding)
            "ts": pd.Series(np.datetime64("2024-01-01", "us") + us.astype("timedelta64[us]")).astype(
                "datetime64[ns]"
            ),
            "user_id": rng.integers(0, n["users"], e).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, e),
            "value": np.round(rng.exponential(50.0, e), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])

    for name, df in tables.items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        df.to_parquet(tmp, index=False)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]) if len(sys.argv) > 3 else 0.01)
