"""Registry order, import side effects, table-cache bounds and the
registry-derived docs.

Importing ``xetl_spark.queries`` only registers queries: REGISTRY
iterates in registration order (query modules in import order, each
module's queries in ``@query`` decorator order) and no file outside
the package is read to decide it.
"""

from __future__ import annotations

import json
import subprocess
import sys
from fnmatch import fnmatch
from itertools import groupby

import xetl_spark.queries as Q
from conftest import REPO

_IMPORT_PROBE = """
import json, os, sys

opened = []


def hook(event, args):
    if event == "open" and isinstance(args[0], (str, bytes, os.PathLike)):
        opened.append(os.path.basename(os.fsdecode(args[0])))


sys.addaudithook(hook)
import xetl_spark.queries as Q

print(json.dumps({
    "opened": opened,
    "imported": [m for m in sys.modules if m.startswith("xetl_spark.queries.")],
    "registry": [q.fn.__module__ for q in Q.REGISTRY.values()],
}))
"""


def test_import_reads_no_harness_files():
    """A fresh interpreter importing the registry opens none of the
    round-driver records kept at the repo root, and REGISTRY groups
    each query module's entries contiguously, in module import order."""
    out = subprocess.run(
        [sys.executable, "-c", _IMPORT_PROBE],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
    )
    probe = json.loads(out.stdout.strip().splitlines()[-1])
    records = ("PROGRESS.jsonl", "CORRECTNESS_r*.json", "QUERY_SOURCE_HASHES.json")
    read = [f for f in probe["opened"] if any(fnmatch(f, pat) for pat in records)]
    assert not read, read

    runs = [m for m, _ in groupby(probe["registry"])]
    assert len(runs) == len(set(runs)), f"query module split in REGISTRY: {runs}"
    assert runs == [m for m in probe["imported"] if m in runs]


def test_table_cache_evicts_oldest_scope(spark, tmp_path):
    import pyspark.sql.functions as F

    dirs = []
    for i in range(3):
        d = tmp_path / f"sf{i}"
        spark.range(2).withColumn("r_name", F.lit(f"dir{i}")).write.parquet(
            str(d / "region.parquet")
        )
        dirs.append(str(d))

    Q._TABLE_CACHE.clear()
    app = spark.conf.get("spark.app.id", "app")
    Q.load(spark, dirs[0], "region")
    Q.load(spark, dirs[1], "region")
    assert (app, dirs[0]) in Q._TABLE_CACHE
    Q.load(spark, dirs[2], "region")  # third scope evicts the first
    assert (app, dirs[0]) not in Q._TABLE_CACHE
    assert (app, dirs[1]) in Q._TABLE_CACHE and (app, dirs[2]) in Q._TABLE_CACHE
    # LRU touch: re-loading dir1 makes dir2 the eviction victim
    Q.load(spark, dirs[1], "region")
    Q.load(spark, dirs[0], "region")
    assert (app, dirs[2]) not in Q._TABLE_CACHE
    Q._TABLE_CACHE.clear()


def test_inventory_md_matches_registry():
    """INVENTORY.md is generated (tools/gen_inventory.py); drift between
    its counts and the live registry is the doc rot that made round 2
    expensive, so it fails the suite."""
    import re

    text = (REPO / "INVENTORY.md").read_text()
    m = re.search(r"Total: (\d+) queries — (\d+) hash-verified, (\d+)", text)
    assert m, "INVENTORY.md missing generated total line"
    n_total, n_h, n_p = map(int, m.groups())
    assert n_total == len(Q.REGISTRY)
    assert n_h == sum(1 for q in Q.REGISTRY.values() if q.oracle)
    assert n_p == n_total - n_h
    # one table row per registered query, each name present exactly once
    for name in Q.REGISTRY:
        assert f"`{name}`" in text


def test_every_query_output_is_canonicalizable(spark):
    """Registry-wide guard for the round-4 red row: the driver's
    canonicalizer hashes each cell, so a top-level array/map/struct
    column (unhashable python list/dict) crashes the whole row-compare.
    House rule: queries stringify or flatten complex columns before
    returning (to_json / concat_ws(sort_array(..)) / element_at+agg).
    Builds EVERY registered query's output DataFrame and asserts the
    schema is scalar-only — batch plans are analysis-only here; the
    handful of streaming/iterative queries execute at sf0.001 (~90s
    total), which is what pins the rule for queries the driver's
    rotating sample window hasn't reached yet."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    sf = "/root/testdata/sf0.001"
    bad = []
    for name, q in Q.REGISTRY.items():
        df = q.fn(spark, sf)
        bad.extend(
            (name, f.name, f.dataType.simpleString())
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        )
    assert not bad, f"complex top-level output columns: {bad}"


def test_coverage_md_counts_match_registry():
    """COVERAGE.md's headline counts are hand-maintained; pin them to
    the live registry so they can't rot (INVENTORY.md already has the
    generated-file version of this canary)."""
    import re

    text = (REPO / "COVERAGE.md").read_text()
    m = re.search(r"(\d+) registered queries: (\d+) H, (\d+) P", text)
    assert m, "COVERAGE.md missing the counts line"
    n_total, n_h, n_p = map(int, m.groups())
    assert n_total == len(Q.REGISTRY)
    assert n_h == sum(1 for q in Q.REGISTRY.values() if q.oracle)
    assert n_p == n_total - n_h
