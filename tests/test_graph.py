"""Connected components / dedup clustering / salted join."""

from pyspark.sql import functions as F

from xetl_spark.operators import connected_components, dedup_clusters, salted_join


def _union_find(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def test_connected_components_matches_union_find(spark):
    edges = [(1, 2), (2, 3), (4, 5), (7, 8), (8, 9), (9, 1)]
    nodes = sorted({x for e in edges for x in e})
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.comp for r in connected_components(df).collect()}
    assert got == _union_find(edges, nodes)
    # {1,2,3,7,8,9} all collapse to 1; {4,5} to 4
    assert got[9] == 1 and got[5] == 4


def test_connected_components_long_chain(spark):
    """A 40-node path needs many propagation rounds — exercises the
    iteration/convergence logic, not just one hop."""
    edges = [(i, i + 1) for i in range(40)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.comp for r in connected_components(df).collect()}
    assert set(got.values()) == {0}


def test_connected_components_string_ids(spark):
    """Non-integral ids take the exact join-based convergence check
    (the decimal-sum monotone scan is integral-only, r14); labels are
    still the min reachable id under string ordering."""
    edges = [("a", "b"), ("b", "c"), ("x", "y")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.node: r.comp for r in connected_components(df).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_partitioned_components_matches_global_cc(spark):
    """partitioned_components (r14): when edges are known partition-
    local, the one-shuffle per-group union-find must produce labels
    IDENTICAL to the iterative global algorithm."""
    import random

    from xetl_spark.operators.graph import partitioned_components

    rnd = random.Random(41)
    edges = []
    for cell in range(6):
        base = cell * 1000
        members = [base + i for i in range(rnd.randrange(2, 30))]
        for _ in range(len(members) * 2):  # random intra-cell edges
            a, b = rnd.sample(members, 2)
            edges.append((cell, a, b))
    df = spark.createDataFrame(edges, "cell int, src long, dst long")
    got = {
        r.node: r.comp
        for r in partitioned_components(df, "cell").collect()
    }
    want = {
        r.node: r.comp
        for r in connected_components(df.select("src", "dst")).collect()
    }
    assert got == want
    # chain inside one cell: min label crosses the whole path locally
    chain = [(99, 5000 + i, 5000 + i + 1) for i in range(25)]
    cdf = spark.createDataFrame(chain, "cell int, src long, dst long")
    gotc = {r.node: r.comp for r in partitioned_components(cdf, "cell").collect()}
    assert set(gotc.values()) == {5000}
    # string ids pass through with their own type
    sdf = spark.createDataFrame(
        [(1, "b", "a"), (1, "b", "c")], "cell int, src string, dst string"
    )
    gots = {r.node: r.comp for r in partitioned_components(sdf, "cell").collect()}
    assert gots == {"a": "a", "b": "a", "c": "a"}


def test_connected_components_deep_chain_round_count(spark):
    """r15 double pointer-jump: a planted 256-node deep chain must
    converge in about HALF the single-jump algorithm's rounds (the
    per-round scheduler barrier is the deep-graph cost). Single-jump
    needs 8 rounds to reach the fixed point on this graph; the
    double-jump reaches it within 5, so labels capped at max_iter=5
    are already exact."""
    edges = [(i, i + 1) for i in range(255)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.comp for r in connected_components(df, max_iter=5).collect()}
    assert got == {i: 0 for i in range(256)}


def test_partitioned_components_validate_cross_partition_edge(spark):
    """r15 precondition assertion: a node appearing under two part_col
    groups (a component spanning groups) must FAIL LOUDLY under
    validate=True instead of returning plausible wrong components."""
    import pytest

    from xetl_spark.operators.graph import partitioned_components

    # node 2 sits in cell 0 (edge 1-2) AND cell 1 (edge 2-3): the true
    # component {1,2,3} spans cells
    bad = spark.createDataFrame(
        [(0, 1, 2), (1, 2, 3)], "cell int, src long, dst long"
    )
    with pytest.raises(ValueError, match="precondition violated"):
        partitioned_components(bad, "cell", validate=True)
    # a group-local graph passes validation and labels exactly
    ok = spark.createDataFrame(
        [(0, 1, 2), (1, 10, 11), (1, 11, 12)], "cell int, src long, dst long"
    )
    got = {
        r.node: r.comp
        for r in partitioned_components(ok, "cell", validate=True).collect()
    }
    assert got == {1: 1, 2: 1, 10: 10, 11: 10, 12: 10}


def test_dedup_clusters_end_to_end(spark, sf_dir):
    """MinHash pairs → cluster decision: every doc labeled, exactly one
    representative per cluster, representatives are cluster minima."""
    from xetl_spark.operators import minhash_near_duplicates

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = minhash_near_duplicates(docs, "text", "doc_id", threshold=0.4)
    decision = dedup_clusters(pairs, docs, "doc_id").collect()
    assert len(decision) == docs.count()
    by_cluster = {}
    for r in decision:
        by_cluster.setdefault(r.cluster, []).append(r)
    for cluster, members in by_cluster.items():
        reps = [m for m in members if m.is_representative]
        assert len(reps) == 1
        assert reps[0].id == cluster == min(m.id for m in members)


def test_salted_join_equals_plain_join(spark):
    left = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (3, "d")] * 50, "k long, v string"
    )
    right = spark.createDataFrame([(1, "X"), (2, "Y")], "k long, w string")
    plain = left.join(right, "k", "inner").groupBy("k", "v", "w").count()
    salted = salted_join(left, right, ["k"], "inner").groupBy("k", "v", "w").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))
    # left join keeps unmatched left rows exactly once each
    lp = left.join(right, "k", "left").count()
    ls = salted_join(left, right, ["k"], "left").count()
    assert lp == ls


def test_salted_join_skewed_random(spark):
    """Randomized skew: 90% of rows share one key; salted join must
    agree with the plain join exactly."""
    import numpy as np

    rng = np.random.default_rng(5)
    keys = np.where(rng.random(2000) < 0.9, 7, rng.integers(0, 50, 2000))
    left = spark.createDataFrame(
        [(int(k), int(i)) for i, k in enumerate(keys)], "k long, rowid long"
    )
    right = spark.createDataFrame(
        [(int(k), f"r{k}") for k in range(0, 50, 3)], "k long, tag string"
    )
    plain = sorted(map(tuple, left.join(right, "k", "left").collect()))
    salted = sorted(map(tuple, salted_join(left, right, ["k"], "left").collect()))
    assert plain == salted


def test_pagerank_known_graph_and_dangling(spark):
    """Classic 4-node example: ranks sum to 1 despite a dangling node,
    and ordering matches the analytic solution (c > a > b > d)."""
    from xetl_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c")],
        "src string, dst string",
    )
    r = {x.node: x.rank for x in pagerank(edges, max_iter=40, tol=1e-10).collect()}
    assert abs(sum(r.values()) - 1.0) < 1e-6
    assert r["c"] > r["a"] > r["b"] > r["d"]


def test_pagerank_uniform_on_cycle(spark):
    """On a directed cycle every node is symmetric: ranks are uniform."""
    from xetl_spark.operators.graph import pagerank

    n = 6
    edges = spark.createDataFrame(
        [(i, (i + 1) % n) for i in range(n)], "src int, dst int"
    )
    ranks = [x.rank for x in pagerank(edges, max_iter=30).collect()]
    assert all(abs(v - 1.0 / n) < 1e-6 for v in ranks)


def test_pagerank_empty_edges(spark):
    """Empty edge list → empty ranking, not ZeroDivisionError."""
    from xetl_spark.operators.graph import pagerank

    edges = spark.createDataFrame([], "src string, dst string")
    out = pagerank(edges)
    assert out.columns == ["node", "rank"]
    assert out.count() == 0


def test_triangle_count_known_graphs(spark):
    from xetl_spark.operators.graph import triangle_count

    # K4: every vertex is in C(3,2)=3 triangles
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    got = {r.v: r.triangles for r in triangle_count(
        spark.createDataFrame(k4, "src long, dst long")).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}

    # path graph: no triangles at all
    path = [(i, i + 1) for i in range(6)]
    assert triangle_count(spark.createDataFrame(path, "src long, dst long")).count() == 0

    # one triangle + pendant vertex; duplicate & reversed edges collapse
    g = [(1, 2), (2, 1), (2, 3), (3, 1), (1, 3), (3, 4)]
    got = {r.v: r.triangles for r in triangle_count(
        spark.createDataFrame(g, "src long, dst long")).collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_triangle_count_matches_naive_on_random_graph(spark):
    import itertools
    import random

    from xetl_spark.operators.graph import triangle_count

    rnd = random.Random(7)
    n = 40
    edges = [(a, b) for a, b in itertools.combinations(range(n), 2) if rnd.random() < 0.15]
    adj = {v: set() for v in range(n)}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    expected = {}
    for v in range(n):
        t = sum(1 for x, y in itertools.combinations(sorted(adj[v]), 2) if y in adj[x])
        if t:
            expected[v] = t
    got = {r.v: r.triangles for r in triangle_count(
        spark.createDataFrame(edges, "src long, dst long")).collect()}
    assert got == expected


def test_label_propagation_two_cliques(spark):
    """Two 4-cliques joined by one bridge edge settle into exactly two
    communities (one per clique), deterministically."""
    from xetl_spark.operators.graph import label_propagation

    k4a = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    k4b = [(i + 10, j + 10) for i in range(4) for j in range(i + 1, 4)]
    edges = spark.createDataFrame(k4a + k4b + [(3, 10)], "src int, dst int")
    got = {r.node: r.community for r in label_propagation(edges, max_iter=8).collect()}
    assert set(got) == set(range(4)) | set(range(10, 14))
    assert len({got[i] for i in range(4)}) == 1
    assert len({got[i] for i in range(10, 14)}) == 1
    assert got[0] != got[10]


def test_label_propagation_deterministic_across_partitionings(spark):
    """Same labels regardless of input partitioning (the tie-break is
    total, so no run-to-run or layout dependence)."""
    from xetl_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(i, (i + 1) % 9) for i in range(9)] + [(0, 4), (2, 7)],
        "src int, dst int",
    )
    a = sorted(map(tuple, label_propagation(edges, max_iter=6).collect()))
    b = sorted(
        map(tuple, label_propagation(edges.repartition(13), max_iter=6).collect())
    )
    assert a == b
