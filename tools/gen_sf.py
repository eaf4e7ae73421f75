"""Generate a larger-SF fixture from an existing one by key-offset
replication: N copies of every fact table with primary/foreign keys
offset per copy (stride = max key + 1), so referential integrity and
per-key distributions are preserved while row counts scale by N.
Dimension tables (region, nation) are fixed-size, as in TPC-H.

Used for the sf1 scaling leg (SCALING.md x1000 column): the driver
ships sf0.001/0.01/0.1 only, and at sf<=0.1 fixed overhead dominates
most queries (x100 ratios < 2), so this locally-generated 10x fixture
is what actually separates data-dependent growth from noise.

Perturbations that keep scale queries honest:
- documents: copies i>0 append a short per-copy suffix to half the
  docs (deterministic by (doc_id + i) % 2), so the corpus has BOTH
  exact duplicates and near-duplicates at scale instead of being 10
  identical shards (which would make dedup measurements vacuous).
- embeddings: copies i>0 jitter ONE coordinate (index = (vec_id +
  i) % dim) by i * 1e-3 — vectors are near- but not exact-
  duplicates, each vector's true neighbors are its own copies (the
  ANN.md recall caveat relies on exactly this), and the drift stays
  bounded at ANY copy count. (A whole-vector translation was tried
  first and degenerates at N=100: +0.099 on all 64 coordinates
  aligns high-i copies across groups into one mutually-cos>=0.8
  mega-cluster, making every embedding query's true output
  quadratic in the corpus.)
- events keep their time window (10x density, same span) so
  watermark/window semantics and date-filter selectivities carry over.

Usage: python tools/gen_sf.py [N] [BASE_DIR] [OUT_DIR]
Defaults: 10 /root/testdata/sf0.1 <repo>/.sfdata/sf1
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import duckdb

REPO = Path(__file__).resolve().parents[1]

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# fact table -> {column: key-domain table} offsets; the stride for a
# domain is max(key)+1 in the BASE fixture so copies never collide
KEYED = {
    "customer": {"c_custkey": "customer"},
    "supplier": {"s_suppkey": "supplier"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "orders", "o_custkey": "customer"},
    "lineitem": {
        "l_orderkey": "orders",
        "l_partkey": "part",
        "l_suppkey": "supplier",
    },
    "events": {"event_id": "events", "user_id": "events_user"},
    "documents": {"doc_id": "documents"},
    "embeddings": {"vec_id": "embeddings"},
}

PK = {
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def generate(n_copies: int, base: str, out: str) -> None:
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    strides: dict[str, int] = {}
    for t, pk in PK.items():
        strides[t] = (
            con.sql(f"SELECT max({pk}) + 1 FROM '{base}/{t}.parquet'")
            .fetchone()[0]
        )
    strides["events_user"] = (
        con.sql(f"SELECT max(user_id) + 1 FROM '{base}/events.parquet'")
        .fetchone()[0]
    )

    for t in TABLES:
        src = f"'{base}/{t}.parquet'"
        dst = f"{out}/{t}.parquet"
        if t not in KEYED:  # fixed dimensions
            con.sql(f"COPY (SELECT * FROM {src}) TO '{dst}' (FORMAT PARQUET)")
            print(f"{t}: copied (dimension)")
            continue
        cols = [
            r[0]
            for r in con.sql(f"DESCRIBE SELECT * FROM {src}").fetchall()
        ]
        sel = []
        for c in cols:
            dom = KEYED[t].get(c)
            if dom is not None:
                sel.append(f"{c} + i.range * {strides[dom]} AS {c}")
            elif t == "documents" and c == "text":
                # half the copied docs become near-duplicates, half
                # stay exact duplicates (deterministic, seedless)
                sel.append(
                    "CASE WHEN i.range > 0 AND (doc_id + i.range) % 2 = 0 "
                    "THEN text || ' copy' || i.range::VARCHAR "
                    "ELSE text END AS text"
                )
            elif t == "documents" and c == "n_chars":
                sel.append(
                    "CASE WHEN i.range > 0 AND (doc_id + i.range) % 2 = 0 "
                    "THEN n_chars + 5 + length(i.range::VARCHAR) "
                    "ELSE n_chars END AS n_chars"
                )
            elif t == "embeddings" and c == "embedding":
                # jitter exactly ONE coordinate (index keyed to the
                # copy+vector, magnitude i*1e-3): copies stay near-
                # exact duplicates of their source at ANY copy count.
                # The previous whole-vector translation degenerated at
                # N=100 (r14 sf10): shifts up to 0.099 on all 64
                # coordinates align every high-i copy with the all-
                # ones direction, making ~half the corpus mutually
                # cos>=0.8 — a quadratic true near-dup set that no
                # operator can avoid emitting.
                sel.append(
                    "CASE WHEN i.range > 0 THEN list_transform("
                    "embedding, (x, j) -> CASE WHEN j = 1 + "
                    "(vec_id + i.range) % len(embedding) THEN "
                    "(x + i.range * 0.001)::FLOAT ELSE x END) "
                    "ELSE embedding END AS embedding"
                )
            else:
                sel.append(c)
        q = (
            f"COPY (SELECT {', '.join(sel)} FROM {src}, "
            f"range({n_copies}) i ORDER BY i.range) "
            f"TO '{dst}' (FORMAT PARQUET)"
        )
        con.sql(q)
        n = con.sql(f"SELECT count(*) FROM '{dst}'").fetchone()[0]
        print(f"{t}: {n} rows ({n_copies} copies)")


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    base = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    out = sys.argv[3] if len(sys.argv) > 3 else str(REPO / ".sfdata" / "sf1")
    generate(n, base, out)


if __name__ == "__main__":
    main()
