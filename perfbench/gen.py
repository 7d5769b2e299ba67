"""Seeded input tables for the benchmark, cached and verified by hash.

The tables follow the schema and value distributions of the repository's
test data (a TPC-H-like star schema plus ``events``, ``documents`` and
``embeddings``): the same column names and types, key ranges, category
sets, date spans, document vocabulary with 5% near-duplicates and a few
exact duplicates, and unit-norm 64-dimensional embeddings.  Row counts
scale linearly with ``factor`` (1 = sf0.1: 600k lineitem rows; 10 = sf1:
6M rows, about 180 MB).

The tables are drawn from a fixed ``TABLE_SEED``, not from the run seed:
every run reads identical inputs, and the run seed only drives request
generation and op order.  ``ensure`` writes a data set once into a cache
directory with a ``MANIFEST.json`` of SHA-256 digests, and re-hashes the
files on every later call, regenerating them when a digest differs.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
GENERATOR_VERSION = 1

#: Rows per table at factor 1 (sf0.1).
BASE_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
#: Parquet row-group sizes; small groups on the text and vector tables
#: give Spark several splits to scan in parallel at sf1.
ROW_GROUP = {"documents": 4096, "embeddings": 2048}
DEFAULT_ROW_GROUP = 122_880

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "red", "large", "hot", "cold", "small", "new"]
PART_NOUN = ["bolt", "plate", "rod", "anvil", "widget", "gizmo", "ring", "gear"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
FLAG_STATUS = [("N", "O"), ("A", "F"), ("A", "O"), ("N", "F"), ("R", "F"), ("R", "O")]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
EMBED_DIM = 64


def _strings(rng, choices, n):
    """``n`` draws from ``choices`` as an Arrow string column (built
    through a dictionary, so millions of rows cost no Python loop)."""
    idx = pa.array(rng.integers(0, len(choices), n, dtype=np.int32))
    return pa.DictionaryArray.from_arrays(idx, pa.array(choices)).cast(pa.string())


def _cents(rng, lo, hi, n):
    """Money values with exactly two decimals, uniform in [lo, hi]."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(rng, start, end, n):
    """Midnight timestamps uniform over [start, end] (timestamp[us])."""
    base = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - base).astype(int)
    days = base + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _documents(rng, n):
    lengths = rng.integers(10, 101, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lengths]
    # near-duplicates: an earlier document plus one extra token; exact
    # duplicates: an earlier document verbatim
    for i in rng.choice(np.arange(10, n), n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in rng.choice(np.arange(10, n), max(1, n // 625), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def build_tables(factor: int, seed: int = TABLE_SEED) -> dict[str, pa.Table]:
    """Every input table at ``factor`` × sf0.1, drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    n = {t: r * factor for t, r in BASE_ROWS.items()}
    i64 = lambda a: pa.array(a, pa.int64())  # noqa: E731
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": i32(np.arange(5)), "r_name": pa.array(REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": i32(np.arange(25)),
            "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
            "n_regionkey": i32(np.arange(25) % 5),
        }
    )
    c = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": i64(np.arange(c)),
            "c_name": pa.array([f"Customer#{k:09d}" for k in range(c)]),
            "c_nationkey": i32(rng.integers(0, 25, c)),
            "c_acctbal": _cents(rng, -999.99, 9999.99, c),
            "c_mktsegment": _strings(rng, SEGMENTS, c),
        }
    )
    s = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": i64(np.arange(s)),
            "s_name": pa.array([f"Supplier#{k:09d}" for k in range(s)]),
            "s_nationkey": i32(rng.integers(0, 25, s)),
            "s_acctbal": _cents(rng, -999.99, 9999.99, s),
        }
    )
    p = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": i64(np.arange(p)),
            "p_name": _strings(rng, names, p),
            "p_brand": _strings(rng, [f"Brand#{k}" for k in range(1, 26)], p),
            "p_type": _strings(rng, PART_TYPES, p),
            "p_size": i32(rng.integers(1, 51, p)),
            "p_retailprice": (9000 + np.arange(p) % 1000) / 10.0,
        }
    )
    o = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": i64(np.arange(o)),
            "o_custkey": i64(rng.integers(0, c, o)),
            "o_orderstatus": _strings(rng, ["O", "F", "P"], o),
            "o_totalprice": _cents(rng, 1000.0, 500000.0, o),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", o),
            "o_orderpriority": _strings(rng, PRIORITIES, o),
        }
    )
    li = n["lineitem"]
    fs = rng.integers(0, len(FLAG_STATUS), li)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": i64(rng.integers(0, o, li)),
            "l_partkey": i64(rng.integers(0, p, li)),
            "l_suppkey": i64(rng.integers(0, s, li)),
            "l_linenumber": i32(rng.integers(1, 8, li)),
            "l_quantity": rng.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": _cents(rng, 900.0, 105000.0, li),
            "l_discount": rng.integers(0, 11, li) / 100.0,
            "l_tax": rng.integers(0, 9, li) / 100.0,
            "l_returnflag": pa.DictionaryArray.from_arrays(
                pa.array(fs.astype(np.int32)),
                pa.array([f for f, _ in FLAG_STATUS]),
            ).cast(pa.string()),
            "l_linestatus": pa.DictionaryArray.from_arrays(
                pa.array(fs.astype(np.int32)),
                pa.array([st for _, st in FLAG_STATUS]),
            ).cast(pa.string()),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", li),
        }
    )
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 10**6, e))
    t["events"] = pa.table(
        {
            "event_id": i64(np.arange(e)),
            "ts": pa.array(start + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": i64(rng.integers(0, 1500 * factor, e)),
            "event_type": _strings(rng, EVENT_TYPES, e),
            "value": np.round(rng.exponential(50.0, e), 2),
            "props": _strings(rng, [f'{{"k": {k}}}' for k in range(100)], e),
        }
    )
    t["documents"] = _documents(rng, n["documents"])
    v = n["embeddings"]
    vec = rng.standard_normal((v, EMBED_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": i64(np.arange(v)),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": i32(rng.integers(0, 10, v)),
        }
    )
    return t


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def _verified(out: str, factor: int) -> bool:
    try:
        with open(os.path.join(out, "MANIFEST.json")) as f:
            manifest = json.load(f)
    except (OSError, ValueError):
        return False
    if manifest.get("factor") != factor or manifest.get("version") != GENERATOR_VERSION:
        return False
    files = manifest.get("sha256", {})
    return set(files) == {f"{t}.parquet" for t in [*BASE_ROWS, "region", "nation"]} and all(
        os.path.isfile(os.path.join(out, name))
        and _sha256(os.path.join(out, name)) == digest
        for name, digest in files.items()
    )


def ensure(cache_dir: str, factor: int) -> str:
    """Directory of the data set at ``factor``, generated on first use
    and verified against its manifest on every use."""
    out = os.path.join(cache_dir, f"x{factor}")
    if _verified(out, factor):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    digests = {}
    for name, table in build_tables(factor).items():
        path = os.path.join(tmp, f"{name}.parquet")
        pq.write_table(
            table, path, row_group_size=ROW_GROUP.get(name, DEFAULT_ROW_GROUP)
        )
        digests[f"{name}.parquet"] = _sha256(path)
    with open(os.path.join(tmp, "MANIFEST.json"), "w") as f:
        json.dump(
            {"version": GENERATOR_VERSION, "factor": factor, "seed": TABLE_SEED,
             "sha256": digests},
            f, indent=1, sort_keys=True,
        )
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out
