"""Build an sf1-equivalent fixture by replicating /root/testdata/sf0.1
with key-shifted copies — the local stand-in for "the same workload at
10x the data" used by tools/scale_run.py (SCALE.md's scaling-exponent
measurement, and the standing sf1 bench via `--sf-dir .tmp/sf1 --heavy`).

Scaling shape (mirrors how a real retail deployment grows):
* FACTS scale 10x — customer/orders/lineitem/events get `mult` copies
  with primary AND foreign keys shifted by copy*OFFSET so referential
  integrity holds and join fan-outs stay exactly per-copy (no cross-
  copy key collisions); the date/timestamp span is UNCHANGED, so daily
  density grows 10x (what a bigger customer base does).
* DIMS stay fixed — part/supplier/region/nation, so the commodity
  cardinality (and thus the feature-grid width and broadcast sizes)
  is constant: rows scale, schema doesn't. This is the dims << facts
  shape the engine's broadcast decisions are designed for.
* documents: copy 0 is the original corpus (its true near-dup
  structure preserved); copies 1..mult-1 are fresh deterministic
  word-soup docs drawn from the original vocabulary with ~1% planted
  exact-duplicate pairs — replicating text verbatim would make every
  doc a 10-way near-dup and quadratically explode banding candidates,
  which is a different (and unrealistic) workload, not a scale-up.
* embeddings: vector values reused with shifted vec_id (top-k per
  query is insensitive to duplicated corpus vectors at this scale).

Usage: python tools/make_scaled_fixture.py [--mult 10] [--out DIR]
"""

from __future__ import annotations

import argparse
import random
from pathlib import Path

SRC = "/root/testdata/sf0.1"
OFFSET = 100_000_000  # > any sf0.1 key; int32-safe up to ~20 copies


def scale_relational(con, out: Path, mult: int) -> None:
    shifted = {
        "customer": {"c_custkey": True},
        "orders": {"o_orderkey": True, "o_custkey": True},
        "lineitem": {"l_orderkey": True},
        "events": {"event_id": True, "user_id": True},
        "embeddings": {"vec_id": True},
    }
    for table in ("region", "nation", "part", "supplier"):
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{SRC}/{table}.parquet')) "
            f"TO '{out}/{table}.parquet' (FORMAT PARQUET)"
        )
    for table, keys in shifted.items():
        cols = [
            r[0]
            for r in con.execute(
                f"DESCRIBE SELECT * FROM read_parquet('{SRC}/{table}.parquet')"
            ).fetchall()
        ]
        sel = ", ".join(
            f"{c} + i.i * {OFFSET} AS {c}" if c in keys else c for c in cols
        )
        con.execute(
            f"COPY (SELECT {sel} FROM read_parquet('{SRC}/{table}.parquet'), "
            f"range({mult}) AS i(i)) TO '{out}/{table}.parquet' (FORMAT PARQUET)"
        )


def scale_documents(out: Path, mult: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    orig = pq.read_table(f"{SRC}/documents.parquet").to_pylist()
    vocab = sorted({w for r in orig for w in r["text"].split() if w})
    rows = list(orig)
    for i in range(1, mult):
        for j, r in enumerate(orig):
            # planted exact-duplicate pairs: every 100th doc clones its
            # neighbor's seed -> ~1% dup rate, like a real crawl
            seed = (i, j + 1 if j % 100 == 0 else j)
            rng = random.Random(f"scale{seed}")
            n = max(1, len(r["text"].split()))
            text = " ".join(rng.choice(vocab) for _ in range(n))
            rows.append(
                {
                    "doc_id": r["doc_id"] + i * OFFSET,
                    "text": text,
                    "lang": r["lang"],
                    "source": r["source"],
                    "n_chars": len(text),
                }
            )
    pq.write_table(
        pa.Table.from_pylist(rows, schema=pq.read_schema(f"{SRC}/documents.parquet")),
        out / "documents.parquet",
    )


def main() -> None:
    import duckdb

    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=10)
    ap.add_argument(
        "--out", default=str(Path(__file__).resolve().parents[1] / ".tmp" / "sf1")
    )
    args = ap.parse_args()
    out = Path(args.out)
    out.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    scale_relational(con, out, args.mult)
    scale_documents(out, args.mult)
    for t in ("lineitem", "orders", "customer", "events", "documents"):
        n = con.execute(f"SELECT count(*) FROM read_parquet('{out}/{t}.parquet')").fetchone()[0]
        print(f"{t}: {n}")


if __name__ == "__main__":
    main()
