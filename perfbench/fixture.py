"""Deterministic synthetic fixture for the benchmark.

Writes the ten tables the engine reads (`region nation customer supplier
part orders lineitem events documents embeddings`, one parquet file
each) with the schemas and value domains of the engine's test fixtures
(FIXTURES.md, section B): independent uniform columns, two-decimal
money, a 31-word text vocabulary with planted exact and near
duplicates, and unit-norm 64-d embeddings clustered by label. Row
counts scale linearly with `sf` the way the reference fixtures do
(lineitem = 6,000,000 x sf).

The same (sf, seed) always gives byte-identical tables; `build` writes
into a temporary directory and renames it, so a half-written fixture is
never reused.
"""

from __future__ import annotations

import datetime
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "hot", "old", "red", "small", "big", "cold", "new"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "ring", "widget", "nut", "spring"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def _days(rng, n, first: datetime.date, last: datetime.date) -> np.ndarray:
    span = (last - first).days + 1
    return np.datetime64(first, "D") + rng.integers(0, span, n).astype("timedelta64[D]")


def _money(rng, n, lo: float, hi: float) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(15, round(150_000 * sf))
    n_supp = max(10, round(10_000 * sf))
    n_part = max(200, round(200_000 * sf))
    n_ord = max(150, round(1_500_000 * sf))
    n_line = max(600, round(6_000_000 * sf))
    n_evt = max(100, round(1_000_000 * sf))
    n_user = max(15, round(15_000 * sf))
    n_doc = max(500, round(50_000 * sf))
    n_emb = max(500, round(20_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
            "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
                rng.integers(0, 25, n_part)
            ],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(
                rng, n_ord, datetime.date(1995, 1, 1), datetime.date(2001, 8, 1)
            ).astype("datetime64[us]"),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _days(
                rng, n_line, datetime.date(1995, 1, 2), datetime.date(2001, 11, 4)
            ).astype("datetime64[us]"),
        }
    )
    start = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_evt))
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_evt, dtype=np.int64),
            "ts": start + ts.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_user, n_evt),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
            "value": np.maximum(np.round(rng.exponential(50.0, n_evt), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    t["documents"] = _documents(rng, n_doc)
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )
    return t


def _documents(rng, n: int) -> pa.Table:
    """Word-soup documents; about 2% are exact copies of an earlier
    document and 10% are near copies (one word replaced), so the dedup
    operators have real duplicate structure to find."""
    texts: list[str] = []
    for i in range(n):
        kind = rng.random()
        if i and kind < 0.02:
            texts.append(texts[rng.integers(0, i)])
        elif i and kind < 0.12:
            words = texts[rng.integers(0, i)].split()
            words[rng.integers(0, len(words))] = WORDS[rng.integers(0, len(WORDS))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(8, 101))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)]))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
            "source": [f"src{k}" for k in rng.integers(0, 20, n)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )


def build(root: Path, sf: float, seed: int) -> Path:
    """Return the fixture directory for (sf, seed) under `root`,
    generating it first if it is missing."""
    out = root / f"sf{sf}-seed{seed}"
    if out.is_dir():
        return out
    tmp = root / f".tmp-{out.name}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    for name, table in _tables(sf, seed).items():
        pq.write_table(table, tmp / f"{name}.parquet")
    tmp.rename(out)
    return out
