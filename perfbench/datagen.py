"""Deterministic synthetic tables for the benchmark (sf0.1 sizes).

The benchmark reads nothing outside its checkout, so it makes its own
copy of the ten tables the queries and the serving configs use. Shapes
follow the repo's testdata contract (TESTDATA.md): the same table and
column names, the same Arrow types, one parquet row group per file, and
the same value domains (uniform keys, TPC-H-like flags and dates, a
30-word document vocabulary with near duplicates, clustered unit-norm
embeddings, a time-ordered event stream). The tables are a fixed
function of ``DATA_SEED``: the workload seed drives the requests, never
the data, so every run of every workload reads the same files.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "es", "zh", "de", "fr")

ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "documents": 5_000,
    "embeddings": 2_000,
    "events": 100_000,
}
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _days(rng: np.random.Generator, start: dt.date, end: dt.date, n: int) -> pa.Array:
    """Midnight timestamps drawn uniformly from [start, end]."""
    base = np.datetime64(start, "D")
    span = (end - start).days + 1
    days = base + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _documents(rng: np.random.Generator) -> pa.Table:
    n = ROWS["documents"]
    lens = rng.integers(10, 101, n)
    words = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lens]
    # near duplicates (an earlier doc plus a marker word) and a few
    # exact copies, so the dedup operators have work to find
    for i in rng.choice(np.arange(100, n), 250, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in rng.choice(np.arange(100, n), 8, replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    n, dim = ROWS["embeddings"], 64
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, dim))
    vecs = centers[labels] * 0.35 + rng.normal(0, 1, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), flat),
        "label": pa.array(labels, pa.int32()),
    })


def _events(rng: np.random.Generator) -> pa.Table:
    n = ROWS["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(start + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1_500, n), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    })


def build_tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n = ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["customer"]), pa.float64()),
        "c_mktsegment": _pick(rng, SEGMENTS, n["customer"]),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["supplier"]), pa.float64()),
    })
    keys = np.arange(n["part"])
    t["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pa.array(
            [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (n["part"], 2))],
            pa.string(),
        ),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n["part"])], pa.string()),
        "p_type": _pick(rng, PART_TYPES, n["part"]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1), pa.float64()),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no), pa.int64()),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), no),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no), pa.float64()),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), no),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64), pa.float64()),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0, pa.float64()),
        "l_returnflag": _pick(rng, ("A", "N", "R"), nl),
        "l_linestatus": _pick(rng, ("F", "O"), nl),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), nl),
    })
    t["documents"] = _documents(rng)
    t["embeddings"] = _embeddings(rng)
    t["events"] = _events(rng)
    return t


def ensure_dataset(root: str) -> str:
    """Write the tables under ``root/sf0.1`` once and return that dir.
    A complete dataset carries a ``_COMPLETE`` marker; a partial one
    (an interrupted first run) is rebuilt in a staging dir and renamed
    into place."""
    dest = os.path.join(root, "sf0.1")
    if os.path.exists(os.path.join(dest, "_COMPLETE")):
        return dest
    stage = dest + ".partial"
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    for name, tab in build_tables().items():
        pq.write_table(tab, os.path.join(stage, f"{name}.parquet"), row_group_size=len(tab))
    with open(os.path.join(stage, "_COMPLETE"), "w") as f:
        f.write(f"seed={DATA_SEED}\n")
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(stage, dest)
    return dest
