"""Seeded generator for the star-schema, events, documents and embeddings
tables the query workloads read.

The tables follow FIXTURES.md §B: the same names, columns, parquet types
and value shapes as the fixture directories the engine's oracle gate is
written against (uniform keys, the five market segments, three order
statuses, 30 days of microsecond events with exponential values, a
30-word document vocabulary where about 5% of documents are another
document plus `` dup``, unit-length 64-dim embeddings). Row counts scale
with ``sf`` as in those fixtures. Everything is vectorized NumPy, so
sf0.01 takes well under a second; the same ``(sf, seed)`` always writes
the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "green", "red"]
PART_NOUN = ["ring", "bolt", "plate", "nut", "gear", "pipe"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400 * 1_000_000


def _counts(sf: float) -> dict[str, int]:
    return {
        "customer": round(150_000 * sf),
        "supplier": round(10_000 * sf),
        "part": round(200_000 * sf),
        "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf),
        "events": round(1_000_000 * sf),
        "users": round(15_000 * sf),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _ts(days_from_epoch: np.ndarray) -> pa.Array:
    return pa.array(days_from_epoch.astype("int64") * _DAY_US, pa.timestamp("us"))


def _day(iso: str) -> int:
    return int(np.datetime64(iso, "D").astype("int64"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 100, n)
    words = np.asarray(VOCAB)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[bounds[i] : bounds[i + 1]]) for i in range(n)]
    # near-duplicates: ~5% of documents repeat another document plus " dup"
    dups = np.flatnonzero(rng.random(n) < 0.05)
    for i, src in zip(dups, rng.integers(0, n, len(dups))):
        texts[i] = texts[src] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": np.asarray(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def generate_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every FIXTURES.md §B table as ``<out_dir>/<name>.parquet``
    and return the row count per table."""
    rng = np.random.default_rng([seed, 0x5EED])
    n = _counts(sf)
    nc, ns, npart, no, nl = (
        n["customer"], n["supplier"], n["part"], n["orders"], n["lineitem"]
    )
    i32 = pa.int32()
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(nc), pa.int64()),
                "c_name": _names("Customer", nc),
                "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
                "c_acctbal": _money(rng, -999.99, 9999.99, nc),
                "c_mktsegment": np.asarray(SEGMENTS)[rng.integers(0, 5, nc)],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(ns), pa.int64()),
                "s_name": _names("Supplier", ns),
                "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
                "s_acctbal": _money(rng, -999.99, 9999.99, ns),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(npart), pa.int64()),
                "p_name": np.char.add(
                    np.char.add(
                        np.asarray(PART_ADJ)[rng.integers(0, len(PART_ADJ), npart)],
                        " ",
                    ),
                    np.asarray(PART_NOUN)[rng.integers(0, len(PART_NOUN), npart)],
                ),
                "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
                "p_type": np.asarray(PART_TYPES)[rng.integers(0, 6, npart)],
                "p_size": pa.array(rng.integers(1, 51, npart), i32),
                "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(no), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
                "o_orderstatus": np.asarray(["F", "O", "P"])[rng.integers(0, 3, no)],
                "o_totalprice": _money(rng, 1000.0, 500000.0, no),
                "o_orderdate": _ts(
                    rng.integers(_day("1995-01-01"), _day("2001-08-01") + 1, no)
                ),
                "o_orderpriority": np.asarray(PRIORITIES)[rng.integers(0, 5, no)],
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
                "l_quantity": rng.integers(1, 51, nl).astype("float64"),
                "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
                "l_discount": rng.integers(0, 11, nl) / 100,
                "l_tax": rng.integers(0, 9, nl) / 100,
                "l_returnflag": np.asarray(["A", "N", "R"])[rng.integers(0, 3, nl)],
                "l_linestatus": np.asarray(["F", "O"])[rng.integers(0, 2, nl)],
                "l_shipdate": _ts(
                    rng.integers(_day("1995-01-02"), _day("2001-11-04") + 1, nl)
                ),
            }
        ),
    }
    ne = n["events"]
    start_us = _day("2024-01-01") * _DAY_US
    ts_us = np.sort(rng.integers(start_us, start_us + 30 * _DAY_US, ne))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(ts_us, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
            "event_type": np.asarray(EVENT_TYPES)[rng.integers(0, 5, ne)],
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": np.char.add(
                np.char.add('{"k": ', rng.integers(0, 100, ne).astype(str)), "}"
            ),
        }
    )
    tables["documents"] = _documents(rng, n["documents"])
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv), i32),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
