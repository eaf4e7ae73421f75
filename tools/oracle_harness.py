"""Local differential harness mimicking the driver's correctness gate.

Runs every registered query on Spark AND its DuckDB oracle on the same
parquet tables, canonicalizes (sort columns by name, order-insensitive
row ordering, round-trip through strings with float rounding), and
compares row counts + value hashes.

Usage:
    python tools/oracle_harness.py [--vanilla] [sf_dir] [query ...]

--vanilla runs under a bare SparkSession.builder.getOrCreate() — the
driver's conditions, where every correctness-relevant config must come
from load() itself, not from xetl_spark.session.get_session. Run the
full battery in both modes before round end (the round-2 regression
was exactly a get_session-only config).
"""

from __future__ import annotations

import hashlib
import sys
import time
import traceback
from pathlib import Path

import duckdb
import pandas as pd

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canonical_hash(df: pd.DataFrame) -> str:
    df = df.reindex(sorted(df.columns), axis=1)

    def norm(v):
        if v is None or v != v:  # NaN/None
            return "<null>"
        if isinstance(v, float):
            return f"{v:.6f}"
        if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
            return "[" + ",".join(norm(x) for x in v) + "]"
        return str(v)

    rows = sorted(
        "\x1f".join(norm(v) for v in rec) for rec in df.itertuples(index=False)
    )
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    args = sys.argv[1:]
    vanilla = "--vanilla" in args
    args = [a for a in args if a != "--vanilla"]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import xetl_spark.queries as Q

    if vanilla:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").getOrCreate()
    else:
        from xetl_spark.session import get_session

        spark = get_session("oracle_harness")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    names = [n for n in Q.REGISTRY if not only or n in only]
    passed, failed, rows_only = [], [], []
    for name in names:
        q = Q.REGISTRY[name]
        t0 = time.time()
        try:
            sdf = q.fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL {name}: spark error")
            traceback.print_exc()
            failed.append(name)
            continue
        if not q.oracle:
            rows_only.append(name)
            print(f"rows-only  {name}: {len(sdf)} rows  ({time.time()-t0:.1f}s)")
            continue
        try:
            odf = con.sql(q.oracle).df()
        except Exception:
            print(f"FAIL {name}: duckdb error")
            traceback.print_exc()
            failed.append(name)
            continue
        sh, oh = canonical_hash(sdf), canonical_hash(odf)
        status = "OK " if (sh == oh and len(sdf) == len(odf)) else "MISMATCH"
        print(
            f"{status} {name}: spark={len(sdf)} duck={len(odf)} "
            f"hash={'=' if sh == oh else 'DIFF'} ({time.time()-t0:.1f}s)"
        )
        (passed if status == "OK " else failed).append(name)
        if status != "OK " and len(sdf) and len(odf):
            s = sdf.reindex(sorted(sdf.columns), axis=1)
            o = odf.reindex(sorted(odf.columns), axis=1)
            print("  spark cols:", list(s.columns))
            print("  duck  cols:", list(o.columns))
            print("  spark head:\n", s.head(3).to_string())
            print("  duck  head:\n", o.head(3).to_string())
    print(
        f"\n{len(passed)} ok, {len(failed)} failed, {len(rows_only)} rows-only "
        f"of {len(names)}"
    )
    if failed:
        print("failed:", " ".join(failed))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
