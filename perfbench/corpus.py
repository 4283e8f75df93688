"""Seeded corpus for the benchmark: the ten tables of the program's schema
(``schemas.SCHEMAS``), generated locally from the run's ``--seed``.

The generator reproduces the shapes the operators and their oracles rely on
(FIXTURES.md): dense 0-based keys with perfect referential integrity, the
documented categorical domains, events sorted by time inside January 2024,
documents built from a small token vocabulary with ~5% near-duplicates
(a copy of an earlier text plus one token), and L2-normalised 64-d float
embeddings. Row counts scale with ``sf`` exactly like the reference corpus.

A corpus is written once per (seed, spec, generator source) and reused while
its manifest matches it and its files are unchanged; the amplified OLAP tier is produced from the base by
the repository's own ``tools/gen_sf_amplify.py`` and its row counts are
verified against the base.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
_LANGS = ["en", "fr", "es", "zh", "de"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_EMBED_DIM = 64
_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def generate(out: str, sf: float, n_docs: int, n_vecs: int, seed: int) -> dict[str, int]:
    """Write the ten tables as ``<out>/<table>.parquet``; return row counts."""
    rng = np.random.default_rng(seed)
    n = {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
    }
    n_users = int(15_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    k = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(k, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": rng.integers(0, 25, k).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, k),
        "c_mktsegment": _pick(rng, _SEGMENTS, k),
    })
    k = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(k, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": rng.integers(0, 25, k).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, k),
    })
    k = n["part"]
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": np.arange(k, dtype="int64"),
        "p_name": _pick(rng, names, k),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, k)]),
        "p_type": _pick(rng, _PART_TYPES, k),
        "p_size": rng.integers(1, 51, k).astype("int32"),
        "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) * 0.1, 1),
    })
    k = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(k, dtype="int64"),
        "o_custkey": rng.integers(0, n["customer"], k).astype("int64"),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], k),
        "o_totalprice": _money(rng, 1000.0, 500000.0, k),
        "o_orderdate": _ts(_EPOCH_1995_US + rng.integers(0, 2405, k) * _DAY_US),
        "o_orderpriority": _pick(rng, _PRIORITIES, k),
    })
    k = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], k).astype("int64"),
        "l_partkey": rng.integers(0, n["part"], k).astype("int64"),
        "l_suppkey": rng.integers(0, n["supplier"], k).astype("int64"),
        "l_linenumber": rng.integers(1, 8, k).astype("int32"),
        "l_quantity": rng.integers(1, 51, k).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, k),
        "l_discount": rng.integers(0, 11, k) / 100.0,
        "l_tax": rng.integers(0, 9, k) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], k),
        "l_linestatus": _pick(rng, ["F", "O"], k),
        "l_shipdate": _ts(_EPOCH_1995_US + rng.integers(1, 2499, k) * _DAY_US),
    })
    k = n["events"]
    t["events"] = pa.table({
        "event_id": np.arange(k, dtype="int64"),
        "ts": _ts(np.sort(_EPOCH_2024_US + rng.integers(0, 30 * _DAY_US, k))),
        "user_id": rng.integers(0, n_users, k).astype("int64"),
        "event_type": _pick(rng, _EVENT_TYPES, k),
        "value": np.round(rng.exponential(50.0, k), 2),
        "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, k)]),
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i and rng.random() < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            words = rng.choice(len(_VOCAB), rng.integers(10, 101))
            texts.append(" ".join(_VOCAB[w] for w in words))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": _pick(rng, _LANGS, n_docs, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype="int64"),
    })
    vecs = rng.standard_normal((n_vecs, _EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype="int64"),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), _EMBED_DIM
        ).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype("int32"),
    })
    os.makedirs(out, exist_ok=True)
    for name in TABLES:
        pq.write_table(t[name], os.path.join(out, f"{name}.parquet"))
    return {name: t[name].num_rows for name in TABLES}


def row_counts(path: str) -> dict[str, int]:
    return {
        name: pq.ParquetFile(os.path.join(path, f"{name}.parquet")).metadata.num_rows
        for name in TABLES
    }


def _source_digest(repo: str) -> str:
    h = hashlib.sha256()
    for f in (os.path.abspath(__file__), os.path.join(repo, "tools", "gen_sf_amplify.py")):
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _files(seed_dir: str) -> list:
    """(path, size, mtime) of every table file, so a touched file is noticed."""
    return sorted(
        [os.path.relpath(os.path.join(d, f), seed_dir), st.st_size, st.st_mtime_ns]
        for d, _, fs in os.walk(seed_dir) for f in fs if f.endswith(".parquet")
        for st in [os.stat(os.path.join(d, f))]
    )


def prepare(repo: str, root: str, spec: dict, seed: int) -> dict:
    """Return ``{"path", "rows", "prep_s", "reused"}`` for the workload's
    corpus under ``root``, generating it unless a matching one is there.

    ``spec`` holds ``sf``, ``docs``, ``vecs`` and ``copies`` (1 = the base
    itself; N > 1 = the base amplified N× by tools/gen_sf_amplify.py)."""
    key = {"seed": seed, **spec, "source": _source_digest(repo)}
    seed_dir = os.path.join(root, f"seed{seed}")
    manifest = os.path.join(seed_dir, "manifest.json")
    path = os.path.join(seed_dir, "base" if spec["copies"] == 1 else f"x{spec['copies']}")
    try:
        with open(manifest) as fh:
            cached = json.load(fh)
        if cached["key"] == key and cached["files"] == _files(seed_dir):
            return {"path": path, "rows": cached["rows"], "prep_s": 0.0, "reused": True}
    except (OSError, ValueError, KeyError):
        pass
    # one corpus per workload is kept: other seeds' copies are dropped
    shutil.rmtree(root, ignore_errors=True)
    t0 = time.perf_counter()
    base = os.path.join(seed_dir, "base")
    base_rows = generate(base, spec["sf"], spec["docs"], spec["vecs"], seed)
    rows = base_rows
    if spec["copies"] > 1:
        subprocess.run(
            [sys.executable, os.path.join(repo, "tools", "gen_sf_amplify.py"),
             "--base", base, "--out", path, "--copies", str(spec["copies"])],
            check=True, stdout=subprocess.DEVNULL,
        )
        rows = row_counts(path)
        sys.path.insert(0, os.path.join(repo, "tools"))
        try:
            from gen_sf_amplify import KEYS
        finally:
            sys.path.pop(0)
        for name in TABLES:
            want = base_rows[name] * (spec["copies"] if KEYS[name] else 1)
            if rows[name] != want:
                raise RuntimeError(
                    f"amplified {name}: {rows[name]} rows, expected {want}"
                )
    with open(manifest, "w") as fh:
        json.dump({"key": key, "rows": rows, "files": _files(seed_dir)}, fh)
    return {"path": path, "rows": rows, "prep_s": time.perf_counter() - t0, "reused": False}
