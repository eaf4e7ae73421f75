"""Regenerate INVENTORY.md from the query registry.

Usage: python tools/gen_inventory.py
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


def main() -> None:
    import xetl_spark.queries as Q

    lines = [
        "# INVENTORY — registered query operators",
        "",
        "Auto-generated (`python tools/gen_inventory.py`) from",
        "`xetl_spark.queries.REGISTRY` — the exact set exposed through",
        "`__spark_entry__.queries()`. Verify: **H** = DuckDB hash oracle,",
        "**P** = property-tested (rows-only in the driver check).",
        "",
        "| # | query | verify | what it covers |",
        "|---|---|---|---|",
    ]
    for i, (name, q) in enumerate(Q.REGISTRY.items(), 1):
        doc = " ".join((q.doc or "").split())
        if len(doc) > 110:
            doc = doc[:107] + "..."
        lines.append(f"| {i} | `{name}` | {'H' if q.oracle else 'P'} | {doc} |")
    n_h = sum(1 for q in Q.REGISTRY.values() if q.oracle)
    lines += [
        "",
        f"Total: {len(Q.REGISTRY)} queries — {n_h} hash-verified, "
        f"{len(Q.REGISTRY) - n_h} property-tested.",
    ]
    with open(REPO / "INVENTORY.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote INVENTORY.md ({len(Q.REGISTRY)} queries)")

    # COVERAGE.md's headline counts are the same numbers — rewrite them
    # in place so one command regenerates both docs (they drifted by
    # hand twice in rounds 2 and 4; tests/test_registry.py pins both)
    import re

    cov_path = REPO / "COVERAGE.md"
    cov = open(cov_path).read()
    new_counts = (
        f"{len(Q.REGISTRY)} registered queries: {n_h} H, {len(Q.REGISTRY) - n_h} P"
    )
    cov2, n_sub = re.subn(r"\d+ registered queries: \d+ H, \d+ P", new_counts, cov)
    if n_sub != 1:
        raise SystemExit(f"COVERAGE.md counts line not found exactly once ({n_sub})")
    if cov2 != cov:
        open(cov_path, "w").write(cov2)
        print(f"updated COVERAGE.md counts ({new_counts})")


if __name__ == "__main__":
    main()
