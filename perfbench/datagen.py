"""Seeded inputs for the benchmark.

Everything the program receives is made here from the run's seed: the
vectors the engine workloads insert and search, and a small copy of the
fixture tables (same names, columns and types as the test fixtures,
about one thousandth of TPC-H scale) that the registry workload reads.
The same seed always gives the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64

_WORDS = (
    "scan column window order sort part agg value line key join merge "
    "group query a vector hash slow stream filter fast the batch spark "
    "table small data big customer row"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def cluster_centers(rng: np.random.Generator, clusters: int = 16, dim: int = DIM) -> np.ndarray:
    return rng.standard_normal((clusters, dim))


def clustered_vectors(
    rng: np.random.Generator, n: int, centers: np.ndarray
) -> np.ndarray:
    """``n`` float32 vectors drawn around Gaussian ``centers``, the
    shape real embeddings have and IVF/PQ indexes rely on."""
    members = rng.integers(0, len(centers), n)
    x = centers[members] + 0.35 * rng.standard_normal((n, centers.shape[1]))
    return x.astype(np.float32)


def near_queries(rng: np.random.Generator, base: np.ndarray, m: int) -> np.ndarray:
    """``m`` queries, each a stored vector plus small noise."""
    pick = rng.integers(0, len(base), m)
    q = base[pick] + 0.05 * rng.standard_normal((m, base.shape[1]))
    return q.astype(np.float32)


def _ts(rng: np.random.Generator, n: int, start: str, days: int) -> pa.Array:
    base = np.datetime64(start, "us")
    off = rng.integers(0, days * 86_400, n).astype("timedelta64[s]")
    return pa.array(base + off, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.08:
            # near-duplicate of an earlier document: a few tokens edited
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(toks), max(1, len(toks) // 20)):
                toks[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(toks + ["dup"]))
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [str(x) for x in rng.choice(_LANGS, n, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_tables(out_dir: str, seed: int) -> None:
    """Write the ten fixture tables as ``<out_dir>/<table>.parquet``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part, n_ord, n_line, n_ev, n_doc, n_emb = (
        150, 10, 200, 1500, 6000, 1000, 500, 500,
    )
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": [
                str(x)
                for x in rng.choice(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                    n_cust,
                )
            ],
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    colors = ["red", "blue", "green", "small", "large", "black"]
    nouns = ["widget", "bolt", "ring", "gear", "panel", "valve"]
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{colors[int(a)]} {nouns[int(b)]}"
                for a, b in zip(rng.integers(0, 6, n_part), rng.integers(0, 6, n_part))
            ],
            "p_brand": [f"Brand#{int(b)}" for b in rng.integers(1, 26, n_part)],
            "p_type": [
                str(x)
                for x in rng.choice(
                    ["ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO"], n_part
                )
            ],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + np.arange(n_part) * 0.1, 2),
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": [str(x) for x in rng.choice(["F", "O", "P"], n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _ts(rng, n_ord, "1992-01-01", 7 * 365),
            "o_orderpriority": [
                str(x)
                for x in rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                    n_ord,
                )
            ],
        }
    )
    # lineitem: 1..7 numbered lines per order until n_line rows
    okeys, lnums = [], []
    for o in rng.permutation(n_ord):
        for ln in range(1, int(rng.integers(1, 8)) + 1):
            okeys.append(int(o))
            lnums.append(ln)
        if len(okeys) >= n_line:
            break
    n_line = len(okeys)
    qty = rng.integers(1, 51, n_line).astype(float)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okeys, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(lnums, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 3000, n_line), 2),
            "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
            "l_returnflag": [str(x) for x in rng.choice(["A", "N", "R"], n_line)],
            "l_linestatus": [str(x) for x in rng.choice(["F", "O"], n_line)],
            "l_shipdate": _ts(rng, n_line, "1992-01-01", 7 * 365),
        }
    )
    start = np.datetime64("2024-01-01", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)).astype("timedelta64[us]")
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(start + offs, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
            "event_type": [
                str(x)
                for x in rng.choice(["signup", "error", "click", "view", "purchase"], n_ev)
            ],
            "value": _money(rng, 0.0, 20.0, n_ev),
            "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    tables["documents"] = _documents(rng, n_doc)
    emb = clustered_vectors(rng, n_emb, cluster_centers(rng, 10)) * np.float32(0.1)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))

