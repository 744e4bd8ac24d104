"""Deterministic generator for the engine's ten fixture tables.

The benchmark reads nothing outside its checkout, so it makes its own
copy of the star schema the plans expect (hpat_jl_spark.tables.SCHEMAS):
the same tables, column types and row counts per scale factor as the
fixture description (TESTDATA.md), one parquet file with one row group
per table. The data seed is fixed: every run at one scale factor reads
byte-identical inputs, and the benchmark's ``--seed`` varies only the
query order and the stream's arrival gaps.

The value distributions were measured on the sf0.1 and sf0.01 fixture
tiers and are reproduced here; the generated sf0.1 tier reads:

- every column's distinct count and range as in the fixture (keys,
  dates 1995-01-01..2001-08-01 and ..2001-11-04, flags, 25 brands,
  64 part names, 1,500 users, 100 props values), 4.08 lines per order,
  10.0 orders per customer, and per event type about 20,000 events with
  a mean value of about 50 (exponential);
- documents: 10-99 uniform words (mean 54) drawn from 30 equally
  likely words, plus a trailing marker word ``dup`` on 5% of the docs,
  so the vocabulary is 31 tokens and the rarest is in 5% of docs (250
  of 5,000). 8 of the marked docs are verbatim copies of 8 others
  (none at sf0.01). Languages are 41% en and about 15% each of zh, es,
  fr and de; sources cycle over 20 values;
- embeddings: unit vectors in 64 dimensions, independent normals, with
  ten uniform labels and no planted near-duplicates (max cosine to any
  other row: median 0.41 in both).

Query results confirm the match at sf0.1, the tier the benchmark
runs: ``benchmark_decontaminate`` flags 3,275 of 4,500 training docs
(73%) in the fixture and here, ``dedup_exact`` keeps 4,992 of 5,000 in
both, and ``embedding_dedup_clusters`` finds 78 clusters in the
fixture and 90 here. At sf0.01 the decontamination share is 75 of 450
in the fixture and 54 here: with 50 eval docs the count is a small
sample.

Output is memoized behind a manifest keyed on the generator version,
the scale factor and every table's row count, so a changed generator
or a half-written directory never passes for a finished one.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_VERSION = 2
DATA_SEED = 42

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_EMBED_DIM = 64


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (the fixtures' scaling)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": round(150_000 * sf),
        "supplier": round(10_000 * sf),
        "part": round(200_000 * sf),
        "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf),
        "events": round(1_000_000 * sf),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _days(rng: np.random.Generator, n: int, first: str, last: str) -> np.ndarray:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n = row_counts(sf)
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": rng.choice(_SEGMENTS, nc),
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99),
    })
    np_ = n["part"]
    keys = np.arange(np_)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys, i64),
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": rng.choice(_TYPES, np_),
        "p_size": pa.array(rng.integers(1, 51, np_), i32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, no, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, no, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(_PRIORITIES, no),
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, np_, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04"),
    })
    ne = n["events"]
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    span = 30 * 86_400_000_000
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), i64),
        "ts": np.sort(t0 + rng.integers(0, span, ne)).astype("datetime64[us]"),
        "user_id": pa.array(rng.integers(0, max(100, round(15_000 * sf)), ne), i64),
        "event_type": rng.choice(_EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    words = np.array(_WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), k)])
        for k in rng.integers(10, 100, nd)
    ]
    marked = rng.choice(nd, nd // 20, replace=False)
    for i in marked:
        texts[i] += " dup"
    # Verbatim copies among the marked docs, as in the fixtures (8 per
    # 5,000 docs), so exact and near-duplicate detection have positives.
    copies = nd // 625
    picks = rng.choice(marked, 2 * copies, replace=False)
    for dst, src in zip(picks[:copies], picks[copies:]):
        texts[dst] = texts[src]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), i64),
        "text": texts,
        "lang": rng.choice(_LANGS, nd, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(x) for x in texts], i64),
    })
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, _EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), i32),
    })
    return t


def _manifest(sf: float) -> dict:
    return {"generator": GENERATOR_VERSION, "seed": DATA_SEED, "sf": sf,
            "rows": row_counts(sf)}


def ensure_tables(root: str, sf: float) -> str:
    """Return ``root/sf<sf>``, generating it first unless its manifest
    matches this generator exactly. Writes go to a sibling temp dir that
    is renamed into place, so an interrupted run leaves no half tier."""
    out = os.path.join(root, f"sf{sf}")
    marker = os.path.join(out, "_MANIFEST.json")
    want = _manifest(sf)
    try:
        with open(marker) as fh:
            if json.load(fh) == want:
                return out
    except (OSError, ValueError):
        pass
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))
    with open(os.path.join(tmp, "_MANIFEST.json"), "w") as fh:
        json.dump(want, fh)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out
