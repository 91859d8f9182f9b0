"""Deterministic synthetic tables with the fixture schemas (FIXTURES.md §A).

The benchmark cannot rely on data outside its checkout, so it writes its
own TPC-H-ish star schema plus the ``events``, ``documents`` and
``embeddings`` tables, one parquet file each, with the same column names,
types and value shapes as the fixture set.  The tables depend only on the
scale factor and a fixed data seed: the workload seed picks statements and
binds, never the data.

    python3 perfbench/datagen.py OUT_DIR SF
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

_WORDS = (
    "the a data spark join hash row batch scan column customer filter small "
    "slow merge order vector line table agg value key stream window part "
    "group big sort query fast"
).split()
_PART_ADJ = "red blue hot cold small large old new".split()
_PART_NOUN = "widget bolt plate ring rod gear anvil gizmo".split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "zh", "es", "de", "fr"]


def _days(rng, n, start: dt.date, end: dt.date) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def tables(sf: float) -> dict[str, pa.Table]:
    """Every table at scale factor ``sf`` (sf1 = 6M lineitem rows)."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": [_SEGMENTS[k] for k in rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    adj = rng.integers(0, len(_PART_ADJ), n_part)
    noun = rng.integers(0, len(_PART_NOUN), n_part)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
            "p_type": [
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"][k]
                for k in rng.integers(0, 6, n_part)
            ],
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": [["F", "O", "P"][k] for k in rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": [_PRIORITIES[k] for k in rng.integers(0, 5, n_ord)],
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            # like the fixture, (l_orderkey, l_linenumber) is not unique
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": [["A", "N", "R"][k] for k in rng.integers(0, 3, n_line)],
            "l_linestatus": [["F", "O"][k] for k in rng.integers(0, 2, n_line)],
            "l_shipdate": _days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
        }
    )
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": ts0 + offs.astype("timedelta64[us]"),
            "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n_ev), i64),
            "event_type": [_EVENT_TYPES[k] for k in rng.integers(0, 5, n_ev)],
            "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for k in range(n_doc):
        if k >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document: a prefix plus a marker
            src = texts[int(rng.integers(0, k))].split()
            keep = max(5, int(len(src) * rng.uniform(0.8, 1.0)))
            texts.append(" ".join(src[:keep] + ["dup"]))
        else:
            n_words = int(rng.integers(10, 100))
            texts.append(" ".join(_WORDS[w] for w in rng.integers(0, len(_WORDS), n_words)))
    lang_p = np.array([0.44, 0.14, 0.14, 0.14, 0.14])
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), i64),
            "text": texts,
            "lang": [_LANGS[k] for k in rng.choice(5, n_doc, p=lang_p)],
            "source": [f"src{k % 20}" for k in range(n_doc)],
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )
    vecs = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), i64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vec), i32),
        }
    )
    return out


def ensure(out_dir: str, sf: float) -> str:
    """Write the tables for ``sf`` under ``out_dir/sf<sf>`` once; return it."""
    d = os.path.join(out_dir, f"sf{sf}")
    done = os.path.join(d, "_DONE")
    if os.path.exists(done):
        return d
    os.makedirs(d, exist_ok=True)
    for name, tbl in tables(sf).items():
        tmp = os.path.join(d, f".{name}.parquet.tmp")
        pq.write_table(tbl, tmp)
        os.replace(tmp, os.path.join(d, f"{name}.parquet"))
    with open(done, "w") as f:
        f.write("ok\n")
    return d


if __name__ == "__main__":
    print(ensure(sys.argv[1], float(sys.argv[2])))
