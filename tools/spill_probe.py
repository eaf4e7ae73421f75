"""Constrained-memory spill probe — prove the big shuffles DEGRADE
(sort/agg spill to disk) rather than OOM when execution memory is
scarce, and record the measured rows in SHUFFLE.md.

SHUFFLE.md shows zero spill at sf0.1 because local[32] has 128 GiB;
that proves partition sizing, not spill discipline. At 100 TB the
execution pool WILL be oversubscribed somewhere, and the failure mode
that matters is the difference between a task that spills (slower,
correct) and one that OOMs the executor. This tool re-runs the two
biggest shuffle shapes in a FRESH constrained JVM (1 GB driver heap,
spark.memory.fraction 0.2 → ~200 MB execution+storage pool, AQE off so
partitions stay big) against inputs replicated to exceed the pool:

  sort8x       lineitem ×8 (~560 MB rows) global multi-key sort — the
               q_tpch_q21-class sort/exchange shape
  kn_fullfit   perplexity_buckets at fit_fraction=1.0 over documents
               ×32 with remapped doc_ids — the corpus-sized KN model
               exchange (the shape the perplexity_filter builtin now
               avoids by default, kept here as the stress case)

Each worker asserts its result cardinality, so a silent wrong answer
under memory pressure would fail the probe, and prints one JSON line
with the spill counters summed over the completed stages of the
workload's jobs (``xetl_spark.profile``). Exit code != 0 (e.g. OOM)
marks the row FAILED. The result replaces the "## Constrained-memory
spill" section of SHUFFLE.md in place (tools/stage_metrics.write_section).

Usage: python tools/spill_probe.py            # both shapes + SHUFFLE.md
       python tools/spill_probe.py worker <shape>   # internal
"""

from __future__ import annotations

import json
import subprocess
import sys

# also puts the checkout on sys.path
from stage_metrics import REPO, SHUFFLE_MD, write_section

SHAPES = ("sort8x", "kn_fullfit")


def run(spark, shape: str) -> None:
    """The measured workload: build, run and verify one shape."""
    from pyspark.sql import functions as F

    if shape == "sort8x":
        li = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
        n0 = li.count()
        big = li
        for _ in range(3):
            big = big.unionAll(big)
        out = big.orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
        out.write.format("noop").mode("overwrite").save()
        n = big.count()
        assert n == 8 * n0, (n, n0)
    elif shape == "kn_fullfit":
        from xetl_spark.operators.text import perplexity_buckets

        docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet").select(
            "doc_id", "text"
        )
        n0 = docs.count()
        copies = [
            docs.select(
                (F.col("doc_id") + F.lit(i * 1_000_000)).alias("doc_id"), "text"
            )
            for i in range(32)
        ]
        big = copies[0]
        for c in copies[1:]:
            big = big.unionAll(c)
        out = perplexity_buckets(
            big, "text", "doc_id", exact=False, materialize=True
        )
        n = out.count()
        assert n > 0.9 * 32 * n0, (n, n0)  # short docs are unscored
    else:
        raise SystemExit(f"unknown shape {shape}")


def worker(shape: str) -> None:
    from pyspark.sql import SparkSession

    from xetl_spark.profile import profile

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.driver.memory", "1g")
        .config("spark.memory.fraction", "0.2")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    p = profile(spark, lambda: run(spark, shape))
    print(
        json.dumps(
            {
                "shape": shape,
                "wall_s": round(p.wall_s, 1),
                "shuffle_write_mb": round(
                    sum(s.shuffle_write_bytes for s in p.stages) / 1e6, 1
                ),
                "mem_spill_mb": round(
                    sum(s.mem_spill_bytes for s in p.stages) / 1e6, 1
                ),
                "disk_spill_mb": round(
                    sum(s.disk_spill_bytes for s in p.stages) / 1e6, 1
                ),
            }
        )
    )


def main() -> None:
    rows = []
    for shape in SHAPES:
        proc = subprocess.run(
            [sys.executable, __file__, "worker", shape],
            capture_output=True,
            text=True,
            cwd=REPO,
            timeout=1800,
        )
        rec = None
        for line in reversed(proc.stdout.strip().splitlines()):
            if line.startswith("{"):
                rec = json.loads(line)
                break
        if proc.returncode != 0 or rec is None:
            tail = (proc.stderr or proc.stdout).strip().splitlines()[-3:]
            rows.append({"shape": shape, "failed": True, "tail": tail})
            print(f"# {shape} FAILED rc={proc.returncode} {tail}", file=sys.stderr)
        else:
            rows.append(rec)
            print(f"# {rec}", file=sys.stderr)

    lines = [
        "## Constrained-memory spill",
        "",
        "Generated by `python tools/spill_probe.py`: the two biggest",
        "shuffle shapes re-run in a fresh 1 GB-heap JVM with",
        "`spark.memory.fraction=0.2` (~200 MB pool) and AQE off, against",
        "inputs replicated past the pool (lineitem ×8 global sort;",
        "KN full-fit perplexity over documents ×32). Nonzero spill with a",
        "verified result is the PASS condition: under memory pressure the",
        "operators degrade to disk and stay correct instead of OOMing —",
        "the behavior a 100 TB run's oversubscribed executors need.",
        "",
        "| shape | wall s | shuffle write MB | mem spill MB | disk spill MB | outcome |",
        "|---|---|---|---|---|---|",
    ]
    for r in rows:
        if r.get("failed"):
            lines.append(f"| {r['shape']} | — | — | — | — | FAILED: {r['tail']} |")
        else:
            ok = "spilled, verified" if r["disk_spill_mb"] > 0 else "fit in pool"
            lines.append(
                f"| {r['shape']} | {r['wall_s']} | {r['shuffle_write_mb']} "
                f"| {r['mem_spill_mb']} | {r['disk_spill_mb']} | {ok} |"
            )
    write_section(SHUFFLE_MD, "\n".join(lines))
    print("updated SHUFFLE.md constrained-memory section")


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "worker":
        worker(sys.argv[2])
    else:
        main()
