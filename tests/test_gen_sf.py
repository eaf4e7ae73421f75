"""tools/gen_sf.py — the sf1 fixture generator: key-offset
replication must preserve referential integrity and schema while
scaling row counts by N, keep dimensions fixed, and plant the
documented near-/exact-duplicate mix (no Spark needed — duckdb only).
"""

from __future__ import annotations

import sys

import duckdb
import pytest

from conftest import REPO  # noqa: E402

sys.path.insert(0, str(REPO / "tools"))

BASE = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def sf3(tmp_path_factory):
    from gen_sf import generate

    out = str(tmp_path_factory.mktemp("sf") / "x3")
    generate(3, BASE, out)
    return out


def _n(con, path, t):
    return con.sql(f"SELECT count(*) FROM '{path}/{t}.parquet'").fetchone()[0]


def test_row_counts_scale_and_dims_fixed(sf3):
    con = duckdb.connect()
    for t in ("customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        assert _n(con, sf3, t) == 3 * _n(con, BASE, t), t
    for t in ("region", "nation"):
        assert _n(con, sf3, t) == _n(con, BASE, t), t


def test_referential_integrity_holds(sf3):
    con = duckdb.connect()
    for fk, pk, ft, pt in (
        ("l_orderkey", "o_orderkey", "lineitem", "orders"),
        ("l_partkey", "p_partkey", "lineitem", "part"),
        ("l_suppkey", "s_suppkey", "lineitem", "supplier"),
        ("o_custkey", "c_custkey", "orders", "customer"),
        ("c_nationkey", "n_nationkey", "customer", "nation"),
    ):
        orphans = con.sql(
            f"SELECT count(*) FROM '{sf3}/{ft}.parquet' f "
            f"WHERE NOT EXISTS (SELECT 1 FROM '{sf3}/{pt}.parquet' p "
            f"WHERE p.{pk} = f.{fk})"
        ).fetchone()[0]
        assert orphans == 0, (ft, fk)


def test_primary_keys_stay_unique(sf3):
    con = duckdb.connect()
    for t, pk in (
        ("orders", "o_orderkey"), ("customer", "c_custkey"),
        ("documents", "doc_id"), ("embeddings", "vec_id"),
        ("events", "event_id"),
    ):
        n, d = con.sql(
            f"SELECT count(*), count(DISTINCT {pk}) FROM '{sf3}/{t}.parquet'"
        ).fetchone()
        assert n == d, t


def test_documents_duplicate_mix_and_embedding_jitter(sf3):
    con = duckdb.connect()
    n_base = _n(con, BASE, "documents")
    # exact duplicates exist (copies with (doc_id+i)%2 != 0) AND
    # near-duplicates exist (suffixed copies) — both classes non-empty
    n_docs, n_distinct = con.sql(
        f"SELECT count(*), count(DISTINCT text) FROM '{sf3}/documents.parquet'"
    ).fetchone()
    assert n_docs == 3 * n_base
    assert n_base < n_distinct < n_docs  # some collapsed, some perturbed
    suffixed = con.sql(
        f"SELECT count(*) FROM '{sf3}/documents.parquet' "
        "WHERE text LIKE '% copy_' OR text LIKE '% copy__'"
    ).fetchone()[0]
    assert suffixed > 0
    # n_chars stays consistent with the perturbed text
    bad = con.sql(
        f"SELECT count(*) FROM '{sf3}/documents.parquet' "
        "WHERE n_chars != length(text)"
    ).fetchone()[0]
    base_bad = con.sql(
        f"SELECT count(*) FROM '{BASE}/documents.parquet' "
        "WHERE n_chars != length(text)"
    ).fetchone()[0]
    assert bad == 3 * base_bad  # generator introduces no NEW drift
    # embeddings: copies are jittered (no exact vector duplicates of
    # the originals), dims unchanged
    dup_vecs = con.sql(
        f"""
        SELECT count(*) FROM '{sf3}/embeddings.parquet' a
        JOIN '{sf3}/embeddings.parquet' b
          ON a.embedding = b.embedding AND a.vec_id < b.vec_id
        """
    ).fetchone()[0]
    assert dup_vecs == 0
    dims = con.sql(
        f"SELECT DISTINCT len(embedding) FROM '{sf3}/embeddings.parquet'"
    ).fetchall()
    assert dims == con.sql(
        f"SELECT DISTINCT len(embedding) FROM '{BASE}/embeddings.parquet'"
    ).fetchall()


def test_events_time_window_preserved(sf3):
    con = duckdb.connect()
    lo, hi = con.sql(
        f"SELECT min(ts), max(ts) FROM '{sf3}/events.parquet'"
    ).fetchone()
    blo, bhi = con.sql(
        f"SELECT min(ts), max(ts) FROM '{BASE}/events.parquet'"
    ).fetchone()
    assert (lo, hi) == (blo, bhi)  # 3x density, same span


def test_schemas_identical(sf3):
    con = duckdb.connect()
    for t in ("lineitem", "orders", "documents", "embeddings", "events"):
        a = con.sql(f"DESCRIBE SELECT * FROM '{sf3}/{t}.parquet'").fetchall()
        b = con.sql(f"DESCRIBE SELECT * FROM '{BASE}/{t}.parquet'").fetchall()
        assert a == b, t


def test_embedding_jitter_bounded_at_high_copy_counts(tmp_path):
    """r14 regression: at N=100 the old whole-vector +i*1e-3 shift
    summed to ~0.8 of vector magnitude across 64 coordinates, pulling
    every high-i copy toward the all-ones direction — cross-group
    cosines climbed above the 0.8 near-dup threshold and the true
    pair set went quadratic (the sf10 embedding-query disk blowups).
    The single-coordinate jitter must keep (a) copies near-identical
    to their source and (b) unrelated vectors no more similar than
    their sources are, at ANY copy count."""
    from gen_sf import generate

    out = str(tmp_path / "x100")
    generate(100, BASE, out)
    con = duckdb.connect()
    stride = con.sql(
        f"SELECT max(vec_id) + 1 FROM '{BASE}/embeddings.parquet'"
    ).fetchone()[0]
    cos = """
        list_sum(list_transform(list_zip(a.embedding, b.embedding),
                 p -> p[1] * p[2]))
        / (sqrt(list_sum(list_transform(a.embedding, x -> x * x)))
           * sqrt(list_sum(list_transform(b.embedding, x -> x * x))))
    """
    # (a) every copy stays a near-duplicate of its source
    min_self = con.sql(
        f"""
        SELECT min({cos}) FROM '{out}/embeddings.parquet' a
        JOIN '{BASE}/embeddings.parquet' b
          ON a.vec_id % {stride} = b.vec_id
        WHERE a.vec_id >= {stride}
        """
    ).fetchone()[0]
    assert min_self > 0.99
    # (b) the highest-i copies of two DIFFERENT sources are no more
    # similar than random: sample cross pairs from the last copy band
    max_cross = con.sql(
        f"""
        SELECT max({cos}) FROM '{out}/embeddings.parquet' a
        JOIN '{out}/embeddings.parquet' b
          ON a.vec_id % {stride} != b.vec_id % {stride}
         AND b.vec_id - a.vec_id = 1
        WHERE a.vec_id >= 99 * {stride} AND a.vec_id < 99 * {stride} + 200
        """
    ).fetchone()[0]
    assert max_cross < 0.8
