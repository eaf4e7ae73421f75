"""qtime's slope rule: between two scale factors, a layer whose ratio
exceeds the data ratio (beyond qtime.MARGIN) is flagged (no Spark), and
the data ratio's row counts follow the tables a plan reads."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from qtime import LAYERS, slopes  # noqa: E402

# summed fixture rows at sf0.001, sf0.01, sf0.1 and the 10x sf1
ROWS = [9_890, 89_630, 893_030, 8_930_300]


def _series(**layers) -> list[dict[str, float]]:
    """Per-SF totals; each layer is a function of the row count (a
    layer not given grows linearly)."""
    return [
        {k: layers.get(k, lambda n: 1e-4 * n)(n) for k in LAYERS} for n in ROWS
    ]


def _flags(series) -> list[set[str]]:
    out = []
    for i in range(1, len(ROWS)):
        sl = slopes(series[i - 1], series[i], ROWS[i] / ROWS[i - 1])
        out.append({k for k, (_, flagged) in sl.items() if flagged})
    return out


def test_planted_quadratic_cpu_is_flagged():
    quad = _series(cpu_s=lambda n: 0.2 + (n / 1e4) ** 2)
    assert _flags(quad) == [{"cpu_s"}] * 3


def test_linear_series_is_not_flagged():
    assert _flags(_series()) == [set()] * 3
    # measured ratios scatter around the data ratio
    jitter = iter([1.0, 1.1, 0.95, 1.12] * len(LAYERS))
    noisy = [{k: v * next(jitter) for k, v in t.items()} for t in _series()]
    assert _flags(noisy) == [set()] * 3


def test_overhead_dominated_series_is_not_flagged():
    flat = _series(
        wall_s=lambda n: 0.8 + 2e-7 * n,
        cpu_s=lambda n: 0.5 + 1e-7 * n,
        shuffle_mb=lambda n: 0.04 + 1e-6 * n,
    )
    assert _flags(flat) == [set()] * 3


def test_no_ratio_without_a_base_and_no_flag_without_growth():
    small = {k: 0.0 for k in LAYERS} | {"cpu_s": 1.0}
    big = {k: 5.0 for k in LAYERS}
    sl = slopes(small, big, 10.0)
    assert sl["spill_mb"] == (None, False)
    assert sl["cpu_s"] == (5.0, False)
    # equal inputs (documents stay at 500 rows from sf0.001 to sf0.01):
    # a ratio between two same-size runs is noise, never a flag
    assert not any(f for _, f in slopes(small | {"wall_s": 1.0}, big, 1.0).values())


def test_input_rows_reads_tables_under_a_cached_subtree(spark, sf_dir):
    """A persisted documents-only frame counts only `documents` (its
    inputFiles stop at the InMemoryRelation); a frame over a
    checkpoint has no known data size."""
    import pyarrow.dataset as ds

    from qtime import input_rows

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").persist()
    try:
        docs.count()
        n_docs = ds.dataset(f"{sf_dir}/documents.parquet").count_rows()
        assert input_rows(docs.select("doc_id", "text"), sf_dir) == n_docs
        assert input_rows(docs.localCheckpoint(eager=True).select("doc_id"), sf_dir) is None
    finally:
        docs.unpersist()
