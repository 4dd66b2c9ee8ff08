"""Deterministic batch fixture: the ten fixture tables (TPC-H-ish star
schema, ``events``, ``documents``, ``embeddings``) with the column
types and value shapes of the engine's test fixtures (FIXTURES.md).

The data is a function of ``(scale, seed)`` only, so a checkout builds
it once and every run of every seed reads the same tables; the
workload seed varies the pass order, not the data, which keeps the
DuckDB expected results computable once per checkout.

Shapes that the headline queries depend on:
- ``documents``: 30-word vocabulary, 10-100 words per doc, about 5 % of
  docs are near-duplicates of an earlier doc (one word inserted or
  deleted) and a few are exact copies, so every dedup tier finds pairs;
- ``embeddings``: unit-norm random 64-d float vectors, 10 labels;
- ``events``: 30 days of minute-scale arrivals over 5 event types.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("red", "blue", "small", "large", "hot", "cold", "old", "new")
PART_NOUN = ("bolt", "gear", "ring", "rod", "plate", "widget", "gizmo", "anvil")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _ts(values_us) -> pa.Array:
    return pa.array(np.asarray(values_us, dtype="datetime64[us]"),
                    type=pa.timestamp("us"))


def _pick(rng, options, n, p=None):
    return [options[i] for i in rng.choice(len(options), size=n, p=p)]


def _documents(rng, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, size=n)
    words = [list(rng.choice(len(VOCAB), size=k)) for k in lengths]
    texts = [[VOCAB[i] for i in w] for w in words]
    # near-duplicates: a later doc repeats an earlier one with one edit
    for d in rng.choice(np.arange(n // 2, n), size=n // 20, replace=False):
        src = list(texts[rng.integers(0, n // 2)])
        pos = int(rng.integers(0, len(src)))
        if rng.random() < 0.5:
            src.insert(pos, "dup")
        else:
            del src[pos]
        texts[d] = src
    for d in rng.choice(np.arange(n // 2, n), size=max(1, n // 600),
                        replace=False):
        texts[d] = list(texts[rng.integers(0, n // 2)])
    text = [" ".join(t) for t in texts]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(_pick(rng, LANGS, n, LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    x = rng.standard_normal((n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, size=n), pa.int32()),
    })


def _events(rng, n: int) -> pa.Table:
    gaps = rng.exponential(30 * DAY_US / n, size=n)
    ts = EPOCH_2024 + np.cumsum(gaps).astype("int64").astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, max(150, n // 66), size=n),
                            pa.int64()),
        "event_type": pa.array(_pick(rng, EVENT_TYPES, n), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, size=n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
                          pa.string()),
    })


def _tpch(rng, scale: float) -> dict[str, pa.Table]:
    n_cust, n_supp = int(150_000 * scale), int(10_000 * scale)
    n_part, n_ord = int(200_000 * scale), int(1_500_000 * scale)
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
            "c_mktsegment": pa.array(_pick(rng, SEGMENTS, n_cust), pa.string()),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
        }),
    }
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    price = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(_pick(rng, names, n_part), pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(_pick(rng, PART_TYPES, n_part), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(price),
    })
    odate = rng.integers(0, 2404, n_ord)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(_pick(rng, ("O", "F", "P"), n_ord), pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n_ord), 2)),
        "o_orderdate": _ts(EPOCH_1995 + (odate * DAY_US).astype("timedelta64[us]")),
        "o_orderpriority": pa.array(_pick(rng, PRIORITIES, n_ord), pa.string()),
    })
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    lineno = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(okey)
    pkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(float)
    ship = odate[okey] + rng.integers(1, 96, n_li)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(pkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * price[pkey], 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(_pick(rng, ("A", "N", "R"), n_li), pa.string()),
        "l_linestatus": pa.array(_pick(rng, ("O", "F"), n_li), pa.string()),
        "l_shipdate": _ts(EPOCH_1995 + (ship * DAY_US).astype("timedelta64[us]")),
    })
    return out


def build(out_dir: str, scale: float, seed: int) -> str:
    """Write the fixture to ``out_dir`` unless a complete one is there;
    returns ``out_dir``. Written to a sibling temp dir and renamed, so
    an interrupted build never leaves a partial fixture behind."""
    if os.path.exists(os.path.join(out_dir, "_SUCCESS")):
        return out_dir
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(seed)
    tables = _tpch(rng, scale)
    tables["events"] = _events(rng, int(1_000_000 * scale))
    tables["documents"] = _documents(rng, max(500, int(50_000 * scale)))
    tables["embeddings"] = _embeddings(rng, max(500, int(20_000 * scale)))
    for name, t in tables.items():
        pq.write_table(t, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)
    return out_dir
