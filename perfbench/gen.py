"""Seeded generator for the benchmark's input tables.

Writes the ten tables the declared queries read (``region nation customer
supplier part orders lineitem events documents embeddings``), one parquet
file each, with the schemas and value domains of the synthetic TPC-H-ish
test data: uniform keys and categories, integer-valued quantities, texts
drawn from a 30-word vocabulary with 5% planted near-duplicates, and unit
64-dim float vectors. Row counts follow the test data's ratios to the
scale factor ``sf``. The same ``(seed, sf)`` gives identical tables.

``scale_copies`` then multiplies a generated directory by the recipe of
``scripts/sf1_spot_bench.py``: shifted fact keys, salted document copies
and rotated vectors, with the salt and rotations drawn from the seed.
"""
from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
FACT_KEYS = {
    "lineitem": "l_orderkey", "orders": "o_orderkey", "events": "event_id",
    "documents": "doc_id", "embeddings": "vec_id",
}
KEY_OFFSET = 100_000_000
ROW_GROUP_BYTES = 1 << 20

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
DIM = 64
DAY_US = 86_400 * 1_000_000
EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00
EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00


def _write(table: pa.Table, path: str) -> None:
    # one file per table (the streaming queries link <dir>/<table>.parquet
    # into their source directory); ~1 MB row groups keep it splittable
    per_row = max(1, table.nbytes // max(1, table.num_rows))
    pq.write_table(table, path, row_group_size=max(1024, ROW_GROUP_BYTES // per_row))


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, lo, hi, n):
    """Midnight timestamps ``lo..hi`` days after 1995-01-01, in µs."""
    us = EPOCH_1995_US + rng.integers(lo, hi + 1, n) * DAY_US
    return pa.array(us, pa.timestamp("us"))


def _texts(rng, n):
    lengths = rng.integers(10, 101, n)
    words = np.asarray(WORDS, dtype=object)[rng.integers(0, len(WORDS), lengths.sum())]
    texts = [" ".join(w) for w in np.split(words, np.cumsum(lengths)[:-1])]
    # 5% near-duplicates (an earlier text plus a marker token) and a few
    # exact copies, so the dedup operators have clusters to find
    for i in rng.choice(np.arange(1, n), n // 20, replace=False):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    for i in rng.choice(np.arange(1, n), n // 600, replace=False):
        texts[i] = texts[rng.integers(0, i)]
    return texts


def generate(out_dir: str, seed: int, sf: float) -> None:
    """Write the ten tables at scale factor ``sf`` into ``out_dir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(10, int(15_000 * sf))
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": pc.binary_join_element_wise(
                _pick(rng, ADJECTIVES, n_part), _pick(rng, NOUNS, n_part), " "
            ),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, 0, 2404, n_ord),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
            "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _days(rng, 1, 2499, n_li),
        }),
    }
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev)) + EPOCH_2024_US
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = _texts(rng, n_docs)
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_vecs, DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": _vectors(vecs),
        "label": rng.integers(0, 10, n_vecs, dtype=np.int32),
    })
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))


def _vectors(vecs: np.ndarray) -> pa.ListArray:
    n, dim = vecs.shape
    offsets = np.arange(0, n * dim + 1, dim, dtype=np.int32)
    return pa.ListArray.from_arrays(offsets, pa.array(vecs.ravel(), pa.float32()))


def _set(table: pa.Table, col: str, values) -> pa.Table:
    return table.set_column(table.schema.get_field_index(col), col, values)


def _copy(name: str, table: pa.Table, i: int, salt: str, shift: int) -> pa.Table:
    key = FACT_KEYS[name]
    out = _set(table, key, pc.add(table[key], i * KEY_OFFSET))
    if name == "documents":
        text = pc.binary_join_element_wise((salt + " ") * i, out["text"], "")
        out = _set(out, "text", text)
        out = _set(out, "n_chars", pc.cast(pc.utf8_length(text), pa.int64()))
    elif name == "embeddings":
        vecs = out["embedding"].combine_chunks().values.to_numpy().reshape(-1, DIM)
        out = _set(out, "embedding", _vectors(np.roll(vecs, -shift, axis=1)))
    return out


def scale_copies(src_dir: str, out_dir: str, seed: int, copies: int) -> None:
    """Write ``copies`` perturbed copies of ``src_dir``'s fact tables.

    Copy ``i`` shifts the fact keys by ``i * KEY_OFFSET`` (foreign keys
    unchanged, so joins stay valid and per-key fan-out grows), prefixes
    each document with ``i`` copies of a seeded salt token (every source
    text becomes a near-duplicate cluster) and rotates each vector by a
    seeded shift distinct per copy (distinct directions, so ANN candidate
    density stays realistic). Dimension tables are copied unchanged."""
    rng = np.random.default_rng([seed, copies])
    salt = f"salt{rng.integers(0, 1000)}"
    shifts = rng.choice(np.arange(1, DIM), copies - 1, replace=False)
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        table = pq.read_table(os.path.join(src_dir, f"{name}.parquet"))
        if name in FACT_KEYS:
            table = pa.concat_tables(
                [table] + [_copy(name, table, i, salt, int(shifts[i - 1]))
                           for i in range(1, copies)]
            )
        _write(table, os.path.join(out_dir, f"{name}.parquet"))

