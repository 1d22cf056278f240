"""Fixed input tables for the benchmark, generated from source.

The tables mirror the schema and value domains of the engine's TPC-H-ish
fixture family (region, nation, customer, supplier, part, orders, lineitem,
events, documents, embeddings) so every registered query runs unchanged on
them. They are generated with a FIXED seed: the per-run ``--seed`` never
changes them, which is what lets the expected query outputs be stored with
the benchmark (``expected.json``). The per-run seed only feeds the
``addresses`` input of ``etl_load`` and the item order within each pass.

Row counts follow the fixture family's scale rule (lineitem = 6M * sf).
Beside the tables, ``events_stream/`` holds the events split into
``STREAM_FILES`` files with UTC-adjusted timestamps: the landing directory
a file-source stream reads (streaming event time must be a TIMESTAMP).
"""

from __future__ import annotations

import json
import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42
SCALE = 0.01

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ("en", "zh", "de", "fr", "es")
_LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)
_EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
_SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PART_ADJ = ("blue", "old", "small", "new", "large", "hot", "cold", "red")
_PART_NOUN = ("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil")
_PART_TYPES = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EMB_DIM = 64
STREAM_FILES = 4


def row_counts(sf: float = SCALE) -> dict[str, int]:
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": int(50_000 * sf),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform amounts with two decimal digits (exact in DECIMAL(18,2))."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    span = int((hi - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random bags over a small vocabulary; one in twenty documents is an
    earlier document plus a trailing ' dup' marker (the near-duplicates the
    dedup family looks for)."""
    vocab = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors around ten weak cluster centres, labelled by centre."""
    centres = rng.normal(0.0, 0.01, (10, EMB_DIM))
    label = rng.integers(0, 10, n)
    vec = centres[label] + rng.normal(0.0, 0.125, (n, EMB_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def generate(sf: float = SCALE, seed: int = FIXTURE_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    i64 = lambda a: pa.array(a, pa.int64())  # noqa: E731
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    f64 = lambda a: pa.array(a, pa.float64())  # noqa: E731
    s = lambda a: pa.array(a, pa.string())  # noqa: E731
    ts = lambda a: pa.array(a, pa.timestamp("us"))  # noqa: E731

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({"r_regionkey": i32(np.arange(5)), "r_name": s(_REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": i32(np.arange(25)),
        "n_name": s([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": i32(np.arange(25) % 5),
    })
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": i64(np.arange(nc)),
        "c_name": s([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": i32(rng.integers(0, 25, nc)),
        "c_acctbal": f64(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": s(rng.choice(_SEGMENTS, nc)),
    })
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": i64(np.arange(ns)),
        "s_name": s([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": i32(rng.integers(0, 25, ns)),
        "s_acctbal": f64(_money(rng, -999.99, 9999.99, ns)),
    })
    npart = n["part"]
    out["part"] = pa.table({
        "p_partkey": i64(np.arange(npart)),
        "p_name": s([f"{a} {b}" for a, b in zip(rng.choice(_PART_ADJ, npart),
                                                  rng.choice(_PART_NOUN, npart))]),
        "p_brand": s([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": s(rng.choice(_PART_TYPES, npart)),
        "p_size": i32(rng.integers(1, 51, npart)),
        "p_retailprice": f64(900.0 + (np.arange(npart) % 1000) / 10.0),
    })
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": i64(np.arange(no)),
        "o_custkey": i64(rng.integers(0, nc, no)),
        "o_orderstatus": s(rng.choice(("F", "O", "P"), no)),
        "o_totalprice": f64(_money(rng, 1000.0, 500_000.0, no)),
        "o_orderdate": ts(_days(rng, "1995-01-01", "2001-08-01", no)),
        "o_orderpriority": s(rng.choice(_PRIORITIES, no)),
    })
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": i64(rng.integers(0, no, nl)),
        "l_partkey": i64(rng.integers(0, npart, nl)),
        "l_suppkey": i64(rng.integers(0, ns, nl)),
        "l_linenumber": i32(rng.integers(1, 8, nl)),
        "l_quantity": f64(qty),
        "l_extendedprice": f64(_money(rng, 900.0, 105_000.0, nl)),
        "l_discount": f64(rng.integers(0, 11, nl) / 100.0),
        "l_tax": f64(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": s(rng.choice(("A", "N", "R"), nl)),
        "l_linestatus": s(rng.choice(("F", "O"), nl)),
        "l_shipdate": ts(_days(rng, "1995-01-02", "2001-11-04", nl)),
    })
    ne = n["events"]
    start = np.datetime64(datetime(2024, 1, 1), "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, ne))
    out["events"] = pa.table({
        "event_id": i64(np.arange(ne)),
        "ts": ts(start + offs.astype("timedelta64[us]")),
        "user_id": i64(rng.integers(0, max(1, int(15_000 * sf)), ne)),
        "event_type": s(rng.choice(_EVENT_TYPES, ne)),
        "value": f64(np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01)),
        "props": s([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)]),
    })
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def cache_key(sf: float = SCALE) -> str:
    """Directory name of a generated copy: the scale and this file's content,
    so an edited generator never reuses stale tables."""
    import hashlib

    with open(__file__, "rb") as fh:
        return f"sf{sf}-{hashlib.sha1(fh.read()).hexdigest()[:12]}"


def write(out_dir: str, sf: float = SCALE) -> str:
    """Write every table as ``<out_dir>/<name>.parquet`` (the layout the
    engine's catalog reads) unless a complete copy is already there."""
    marker = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(marker):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    tables = generate(sf)
    for name, table in tables.items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))
    events = tables["events"]
    events = events.set_column(
        events.schema.get_field_index("ts"), "ts",
        events["ts"].cast(pa.timestamp("us", tz="UTC")),
    )
    stream_dir = os.path.join(out_dir, "events_stream")
    os.makedirs(stream_dir, exist_ok=True)
    step = -(-events.num_rows // STREAM_FILES)
    for i in range(STREAM_FILES):
        pq.write_table(events.slice(i * step, step),
                       os.path.join(stream_dir, f"part-{i}.parquet"))
    with open(marker, "w") as fh:
        fh.write(json.dumps(row_counts(sf)))
    return out_dir
