"""Seeded generator for the benchmark's input tables.

Writes the ten tables the registry reads (``vega_spark.tables.TABLE_NAMES``)
with the column names and parquet types of the engine's reference test
data (TESTDATA.md): every ``<table>.parquet`` is a directory of parquet
files, timestamps are ``timestamp[us]``, keys are int64 and small codes
int32.  Row counts follow the reference data's scaling with the scale
factor; values are drawn from the same domains (uniform keys, 2-decimal
prices, 30 days of events, a 30-word document vocabulary with 5% near
duplicates, unit-norm 64-d embeddings).  The seed decides every value
and the row order, so the same ``(scale, seed)`` gives the same files.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Column names and arrow types of the engine's reference tables.
SCHEMAS: dict[str, pa.Schema] = {
    "region": pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    "nation": pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                         ("n_regionkey", pa.int32())]),
    "customer": pa.schema([
        ("c_custkey", pa.int64()), ("c_name", pa.string()),
        ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
        ("c_mktsegment", pa.string())]),
    "supplier": pa.schema([
        ("s_suppkey", pa.int64()), ("s_name", pa.string()),
        ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]),
    "part": pa.schema([
        ("p_partkey", pa.int64()), ("p_name", pa.string()),
        ("p_brand", pa.string()), ("p_type", pa.string()),
        ("p_size", pa.int32()), ("p_retailprice", pa.float64())]),
    "orders": pa.schema([
        ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
        ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string())]),
    "lineitem": pa.schema([
        ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()), ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
        ("l_shipdate", pa.timestamp("us"))]),
    "events": pa.schema([
        ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()), ("event_type", pa.string()),
        ("value", pa.float64()), ("props", pa.string())]),
    "documents": pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64())]),
    "embeddings": pa.schema([
        ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32())]),
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_WEIGHTS = [0.14, 0.43, 0.15, 0.14, 0.14]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()

_US_PER_DAY = 86_400 * 10**6
_EPOCH = dt.datetime(1970, 1, 1)
_ROWS_PER_FILE = 250_000


def _days_since_epoch(y: int, m: int, d: int) -> int:
    return (dt.datetime(y, m, d) - _EPOCH).days


def _cat(rng: np.random.Generator, n: int, values: list[str],
         p: list[float] | None = None) -> pa.Array:
    """n strings drawn from ``values`` (plain string type, not dictionary)."""
    idx = pa.array(rng.choice(len(values), size=n, p=p).astype(np.int32))
    return pa.DictionaryArray.from_arrays(idx, pa.array(values)).cast(pa.string())


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _day_ts(rng: np.random.Generator, n: int, first: tuple, last: tuple) -> pa.Array:
    days = rng.integers(_days_since_epoch(*first), _days_since_epoch(*last) + 1, n)
    return pa.array(days.astype(np.int64) * _US_PER_DAY, pa.timestamp("us"))


def row_counts(scale: float) -> dict[str, int]:
    """Rows per table at ``scale``, following the reference data's sizing."""
    return {
        "region": 5, "nation": 25,
        "customer": round(150_000 * scale), "supplier": round(10_000 * scale),
        "part": round(200_000 * scale), "orders": round(1_500_000 * scale),
        "lineitem": round(6_000_000 * scale), "events": round(1_000_000 * scale),
        "documents": max(500, round(50_000 * scale)),
        "embeddings": max(500, round(20_000 * scale)),
    }


def _documents(rng: np.random.Generator, n: int) -> dict:
    lengths = rng.integers(10, 100, n)
    words = rng.integers(0, len(WORDS), int(lengths.sum()))
    texts, at = [], 0
    for k in lengths:
        texts.append(" ".join(WORDS[w] for w in words[at:at + k]))
        at += k
    # 5% near duplicates: another document's text with " dup" appended
    for i in rng.choice(n, size=n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return {"doc_id": np.arange(n, dtype=np.int64), "text": texts,
            "lang": _cat(rng, n, LANGS, LANG_WEIGHTS),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}


def _embeddings(rng: np.random.Generator, n: int) -> dict:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centroids = rng.normal(0.0, 0.02, (10, 64))
    vecs = rng.normal(0.0, 0.125, (n, 64)) + centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), 64)
    return {"vec_id": np.arange(n, dtype=np.int64),
            "embedding": emb.cast(pa.list_(pa.float32())), "label": labels}


def build_columns(scale: float, seed: int) -> dict[str, dict]:
    """Every table's columns, deterministically from ``(scale, seed)``."""
    rng = np.random.default_rng([seed % 2**64, int(scale * 1_000_000)])
    n = row_counts(scale)
    nc, ns, npart, no, nl, ne = (n["customer"], n["supplier"], n["part"],
                                 n["orders"], n["lineitem"], n["events"])
    ev_ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, ne))
    ev_start = _days_since_epoch(2024, 1, 1) * _US_PER_DAY
    return {
        "region": {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS},
        "nation": {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": np.arange(25, dtype=np.int32) % 5},
        "customer": {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": _money(rng, nc, -999.99, 9999.99),
            "c_mktsegment": _cat(rng, nc, SEGMENTS)},
        "supplier": {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": _money(rng, ns, -999.99, 9999.99)},
        "part": {
            "p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": _cat(rng, npart, [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]),
            "p_brand": _cat(rng, npart, [f"Brand#{i}" for i in range(1, 26)]),
            "p_type": _cat(rng, npart, PART_TYPES),
            "p_size": rng.integers(1, 51, npart).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 1)},
        "orders": {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no),
            "o_orderstatus": _cat(rng, no, ["F", "O", "P"]),
            "o_totalprice": _money(rng, no, 1000.0, 500000.0),
            "o_orderdate": _day_ts(rng, no, (1995, 1, 1), (2001, 8, 1)),
            "o_orderpriority": _cat(rng, no, PRIORITIES)},
        "lineitem": {
            "l_orderkey": rng.integers(0, no, nl),
            "l_partkey": rng.integers(0, npart, nl),
            "l_suppkey": rng.integers(0, ns, nl),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, nl) / 100,
            "l_tax": rng.integers(0, 9, nl) / 100,
            "l_returnflag": _cat(rng, nl, ["A", "N", "R"]),
            "l_linestatus": _cat(rng, nl, ["F", "O"]),
            "l_shipdate": _day_ts(rng, nl, (1995, 1, 2), (2001, 11, 4))},
        "events": {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": pa.array(ev_start + ev_ts, pa.timestamp("us")),
            "user_id": rng.integers(0, max(1, round(15_000 * scale)), ne),
            "event_type": _cat(rng, ne, EVENT_TYPES),
            "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
            "props": pa.array([f'{{"k": {k}}}' for k in range(100)]).take(
                pa.array(rng.integers(0, 100, ne)))},
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }


def write_tables(out_dir: str, scale: float, seed: int) -> None:
    """Write every table as ``<out_dir>/<table>.parquet/part-NNNNN.parquet``."""
    for name, cols in build_columns(scale, seed).items():
        table = pa.table(cols, schema=SCHEMAS[name])
        tdir = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(tdir)
        n_files = max(1, -(-table.num_rows // _ROWS_PER_FILE))
        step = -(-table.num_rows // n_files)
        for i in range(n_files):
            pq.write_table(table.slice(i * step, step),
                           os.path.join(tdir, f"part-{i:05d}.parquet"))


def ensure_inputs(data_root: str, scale: float, seed: int) -> str:
    """Return the directory holding the tables for ``(scale, seed)``,
    generating it on first use.  Other seeds' directories at the same
    scale are deleted so repeated runs do not fill the disk."""
    tag = f"sf{scale:g}"
    out = os.path.join(data_root, f"{tag}-seed{seed}")
    marker = os.path.join(out, "_GENERATED")
    os.makedirs(data_root, exist_ok=True)
    for entry in os.listdir(data_root):
        if entry.startswith(f"{tag}-seed") and entry != os.path.basename(out):
            shutil.rmtree(os.path.join(data_root, entry), ignore_errors=True)
    if os.path.exists(marker):
        return out
    shutil.rmtree(out, ignore_errors=True)
    write_tables(out, scale, seed)
    with open(marker, "w") as f:
        json.dump({"scale": scale, "seed": seed}, f)
    return out
