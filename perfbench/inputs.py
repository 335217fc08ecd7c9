"""Deterministic, seeded generator for the benchmark's input tables.

Writes the ten fixture tables the engine's loader knows (TPC-H-ish star
schema, ``events``, ``documents``, ``embeddings``) as single-row-group
parquet files with the same column names and types as the engine's test
fixtures (``events.ts`` is TIMESTAMP(NANOS), as FIXTURES.md specifies).
Row counts and value distributions follow the engine's seed-42 fixtures;
the RNG stream, and so the rows themselves, are the generator's own.
Everything is drawn from ``numpy.random.Generator(PCG64(seed))``
so one seed always yields byte-identical files, and :func:`content_hash`
fingerprints what was written.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# documents.text vocabulary; covers every keyword, noise term and
# stopword of the engine's FIXTURE_CONFIG so the keyword pipeline has
# matches, anti-filter hits and stopwords to remove.
VOCAB = (
    "query row stream the spark line small fast group customer batch sort "
    "value hash filter big data dup part column order scan a slow agg key "
    "window table merge vector join click"
).split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.41, 0.15, 0.15, 0.14, 0.15)
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

_US_PER_DAY = 86_400 * 1_000_000
_EPOCH_1995 = 788_918_400 * 1_000_000  # 1995-01-01 in µs
_EPOCH_2024 = 1_704_067_200 * 1_000_000  # 2024-01-01 in µs


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _ts_ns(ns: np.ndarray) -> pa.Array:
    return pa.array(ns.astype("int64"), type=pa.timestamp("ns"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    """Space-joined words; ~6% of documents are near-copies of an
    earlier one (one appended word) so the dedup operators find groups."""
    lengths = rng.integers(8, 90, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    copy = rng.random(n) < 0.06
    src = rng.integers(0, np.maximum(np.arange(n), 1))
    out: list[str] = []
    pos = 0
    for i in range(n):
        k = int(lengths[i])
        if copy[i] and i > 0:
            out.append(out[int(src[i])] + " dup")
        else:
            out.append(" ".join(VOCAB[w] for w in words[pos : pos + k]))
        pos += k
    return out


def _documents(texts: list[str], rng: np.random.Generator) -> dict:
    n = len(texts)
    ids = np.arange(n, dtype="int64")
    return {
        "doc_id": pa.array(ids),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(
            [LANGS[i] for i in rng.choice(len(LANGS), n, p=LANG_P)], type=pa.string()
        ),
        "source": pa.array([f"src{i % 20}" for i in range(n)], type=pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    }


def write_base(out_dir: str, sf: float, seed: int = 42) -> None:
    """Write all ten tables at scale factor ``sf`` (sf 0.1 ≈ 15k
    customers, 150k orders, 600k lineitems, 100k events, 5k documents,
    2k embeddings)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 10)
    n_li = max(int(6_000_000 * sf), 10)
    n_ev = max(int(1_000_000 * sf), 10)
    n_doc = max(int(50_000 * sf), 10)
    n_emb = max(int(20_000 * sf), 10)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": pa.array(list(REGIONS)),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype="int32") % 5),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
        "c_acctbal": pa.array(_money(rng, n_cust, -999.0, 9999.0)),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
        "s_acctbal": pa.array(_money(rng, n_supp, -999.0, 9999.0)),
    })
    adjs = ("red", "new", "hot", "small", "cold", "large", "old", "blue")
    nouns = ("bolt", "anvil", "ring", "rod", "plate", "widget", "gear", "gizmo")
    part_keys = np.arange(n_part, dtype="int64")
    _write(out_dir, "part", {
        "p_partkey": pa.array(part_keys),
        "p_name": pa.array(
            [f"{adjs[a]} {nouns[b]}" for a, b in
             zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]
        ),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(
            [("LARGE", "ECONOMY", "STANDARD", "SMALL", "PROMO")[i]
             for i in rng.integers(0, 5, n_part)]
        ),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
        "p_retailprice": pa.array(900.0 + (part_keys % 1000) / 10.0),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype("int64")),
        "o_orderstatus": pa.array([("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, n_ord, 900.0, 500_000.0)),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, n_ord) * _US_PER_DAY),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype("int64")),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype("int64")),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype("int64")),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype("int32")),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype("float64")),
        "l_extendedprice": pa.array(_money(rng, n_li, 900.0, 100_000.0)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array([("F", "O")[i] for i in rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(2, 2500, n_li) * _US_PER_DAY),
    })
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype="int64")),
        "ts": _ts_ns(np.sort(_EPOCH_2024 + rng.integers(0, 30 * _US_PER_DAY, n_ev)) * 1000
                     + rng.integers(0, 1000, n_ev)),
        "user_id": pa.array(rng.integers(0, max(n_ev * 3 // 200, 2), n_ev).astype("int64")),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)]),
    })
    _write(out_dir, "documents", _documents(_texts(rng, n_doc), rng))
    emb = rng.standard_normal((n_emb, 64)).astype("float32")
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype="int64")),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype("int32")),
    })


def resample_documents(base_dir: str, out_dir: str, factor: int, seed: int) -> None:
    """Copy ``base_dir`` to ``out_dir``, replacing ``documents`` with a
    ``factor``× draw-with-replacement resample (new sequential doc_ids)
    driven by ``seed``."""
    os.makedirs(out_dir, exist_ok=True)
    for t in TABLES:
        if t != "documents":
            shutil.copyfile(
                os.path.join(base_dir, f"{t}.parquet"), os.path.join(out_dir, f"{t}.parquet")
            )
    base = pq.read_table(os.path.join(base_dir, "documents.parquet"))
    rng = np.random.Generator(np.random.PCG64(seed))
    pick = rng.integers(0, base.num_rows, base.num_rows * factor)
    drawn = base.take(pa.array(pick))
    cols = {c: drawn.column(c) for c in drawn.column_names}
    cols["doc_id"] = pa.array(np.arange(drawn.num_rows, dtype="int64"))
    _write(out_dir, "documents", cols)


def content_hash(in_dir: str) -> str:
    """sha256 over every table's parquet bytes, in table order."""
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(in_dir, f"{t}.parquet"), "rb") as f:
            h.update(t.encode())
            h.update(f.read())
    return h.hexdigest()[:16]
