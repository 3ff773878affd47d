"""Seeded generator for the benchmark's input tables.

The tables are the engine's sf0.1 test data (TPC-H-style star schema
plus the ``events``, ``documents`` and ``embeddings`` tables, seed 42),
one parquet file per table: the generator draws the same values in the
same order, so that every table equals the reference one value for value
(``python3 perfbench/data.py REFERENCE_DIR`` checks that). Every
registry query and its DuckDB oracle run on them unchanged.

The data seed is fixed: the workload seed only orders the query stream,
so every run of every workload reads the same input. The files
are generated once per checkout into a cache directory and checked by
content (row count and key sum per file), never by file bytes: parquet
writers may lay the same rows out differently.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

DATA_SEED = 42

# Row counts at sf0.1.
ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

# The pinned column of each table: a foreign or random key where the
# table has one, so its sum checks content and not only the row count.
KEY_COLUMN = {
    "region": "r_regionkey",
    "nation": "n_regionkey",
    "customer": "c_nationkey",
    "supplier": "s_nationkey",
    "part": "p_size",
    "orders": "o_custkey",
    "lineitem": "l_orderkey",
    "events": "user_id",
    "documents": "n_chars",
    "embeddings": "label",
}

# (rows, sum of KEY_COLUMN) per table of the reference sf0.1 data. A
# cache whose content differs from these is rebuilt; a generator that no
# longer reproduces them fails loudly.
EXPECTED = {
    "region": (5, 10),
    "nation": (25, 50),
    "customer": (15000, 178675),
    "supplier": (1000, 12087),
    "part": (20000, 509516),
    "orders": (150000, 1124214136),
    "lineitem": (600000, 44987812788),
    "events": (100000, 74916294),
    "documents": (5000, 1485576),
    "embeddings": (2000, 9063),
}

VOCAB = (
    "the a spark query table join group filter window data order customer "
    "part line fast slow big small hash sort merge scan agg stream batch "
    "vector key value row column"
).split()
PART_ADJ = ("red", "blue", "small", "large", "hot", "cold", "old", "new")
PART_NOUN = ("anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(start, rng, span, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")


def build_tables() -> dict:
    """Return ``{table: pyarrow.Table}`` at sf0.1."""
    import pyarrow as pa

    rng = np.random.default_rng(DATA_SEED)
    i32, i64 = pa.int32(), pa.int64()
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, i32),
    })
    k = ROWS["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(k), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": pa.array(rng.integers(0, 25, k), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, k),
        "c_mktsegment": rng.choice(
            ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"], k
        ),
    })
    k = ROWS["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(k), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": pa.array(rng.integers(0, 25, k), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, k),
    })
    k = ROWS["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(k), i64),
        "p_name": np.char.add(
            np.char.add(rng.choice(PART_ADJ, k), " "), rng.choice(PART_NOUN, k)
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, k).astype(str)),
        "p_type": rng.choice(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"], k),
        "p_size": pa.array(rng.integers(1, 51, k), i32),
        "p_retailprice": 900.0 + (np.arange(k) % 1000) / 10.0,
    })
    k = ROWS["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(k), i64),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], k), i64),
        "o_orderstatus": rng.choice(["O", "F", "P"], k),
        "o_totalprice": _money(rng, 1000.0, 500000.0, k),
        "o_orderdate": _days("1995-01-01", rng, 2405, k),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], k
        ),
    })
    k = ROWS["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], k), i64),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], k), i64),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], k), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, k), i32),
        "l_quantity": rng.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, k),
        "l_discount": np.round(rng.uniform(0.0, 0.1, k), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, k), 2),
        "l_returnflag": rng.choice(["R", "A", "N"], k),
        "l_linestatus": rng.choice(["O", "F"], k),
        "l_shipdate": _days("1995-01-02", rng, 2499, k),
    })
    k = ROWS["events"]
    seconds = np.sort(rng.uniform(0, 30 * 86_400, k))
    ts = np.datetime64("2024-01-01", "ns") + (seconds * 1e9).astype("timedelta64[ns]")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(k), i64),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, 1500, k), i64),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], k),
        "value": np.round(rng.exponential(50.0, k), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)],
    })
    t["documents"] = _documents(rng, ROWS["documents"])
    k = ROWS["embeddings"]
    # unit vectors in random directions; the label is drawn apart from
    # the vector (no cluster structure)
    vecs = rng.standard_normal((k, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    labels = rng.integers(0, 10, k)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(k), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return t


def _documents(rng, k: int):
    """Token soup of 10 to 99 words over a 30-word vocabulary. As in the
    test data, 5% of documents are another document (earlier or later)
    plus a trailing ``dup`` token, for the dedup queries; two of them
    that copy the same document are exact duplicates."""
    import pyarrow as pa

    texts = [" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))) for _ in range(k)]
    for i in rng.choice(k, k // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, k))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(k), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "de", "fr", "es", "zh"], k),
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })


def content_sums(path: str) -> dict:
    """``{table: (rows, key sum)}`` read back from the parquet files."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    out = {}
    for name, key in KEY_COLUMN.items():
        col = pq.read_table(f"{path}/{name}.parquet", columns=[key]).column(0)
        out[name] = (len(col), int(pc.sum(col).as_py()))
    return out


def ensure(cache_dir: str) -> str:
    """Return the path of a verified sf0.1 data set under ``cache_dir``,
    generating it first if it is missing or its content is wrong."""
    import pyarrow.parquet as pq

    path = os.path.join(cache_dir, "sf0.1")
    try:
        if content_sums(path) == EXPECTED:
            return path
    except (OSError, ValueError):
        pass
    tmp = path + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables().items():
        pq.write_table(table, f"{tmp}/{name}.parquet")
    got = content_sums(tmp)
    if got != EXPECTED:
        raise RuntimeError(
            "generated data differs from the pinned content: "
            + json.dumps({k: v for k, v in got.items() if EXPECTED[k] != v})
        )
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path


def same_as(reference_dir: str) -> dict[str, bool]:
    """``{table: equal}``: whether each generated table equals the one in
    ``reference_dir`` value for value (file metadata aside)."""
    import pyarrow.parquet as pq

    out = {}
    for name, table in build_tables().items():
        ref = pq.read_table(f"{reference_dir}/{name}.parquet")
        out[name] = ref.schema.remove_metadata() == table.schema and ref.equals(
            table.cast(ref.schema)
        )
    return out


if __name__ == "__main__":
    import sys

    if len(sys.argv) != 2:
        sys.exit("usage: python3 perfbench/data.py REFERENCE_DIR")
    result = same_as(sys.argv[1])
    for name, equal in result.items():
        print(f"{name}: {'equal' if equal else 'DIFFERS'}")
    sys.exit(0 if all(result.values()) else 1)
