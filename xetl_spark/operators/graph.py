"""Distributed connected components + dedup clustering.

The SURVEY hard-part: turning near-duplicate PAIRS into duplicate
GROUPS requires connected components "without driver materialization".
This is min-label propagation with pointer jumping over the edge
list: every node adopts the smallest label in its neighborhood, then
compresses label chains via comp ← comp[comp]. Each iteration is one
keyed aggregation + two joins (no collect); lineage is cut with
localCheckpoint every iteration so plans don't grow unboundedly —
the standard iterative-algorithm discipline on Spark. Pointer jumping
makes convergence O(log diameter); near-dup clusters are dense, so
2-4 rounds in practice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """(src, dst) undirected edges → (node, component) where component
    is the minimum node id reachable from node."""
    # Materialize the caller's edge plan EXACTLY ONCE before anything
    # references it twice: the symmetrizing union reads `edges` two
    # times, and labels once more — with an expensive upstream (the
    # minhash shingle→band→verify pipeline) those re-computations
    # dominated the job and tripled its scratch footprint at the sf10
    # fixture (r14 finding: the "CC" wall was really 2-3 redundant
    # dedup-pipeline passes inside one stage graph). persist() + eager
    # count, NOT localCheckpoint: DataFrame caching stores compressed
    # columnar batches and spills cleanly, while localCheckpoint
    # stores deserialized row objects — several x the data in heap,
    # an executor OOM at sf10 edge-list sizes (r14, pagerank).
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).persist()
    e.count()
    sym = (
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .persist()
    )
    sym.count()
    e.unpersist()  # sym supersedes it for every later consumer
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
    )

    # convergence signal: labels only ever DECREASE (every update is a
    # least(...)), so for NUMERIC ids sum(comp) strictly decreases iff
    # any label moved — one scan of the just-checkpointed labels
    # instead of a join-per-round changed-count job (decimal sum:
    # immune to int64 overflow at any node-id scale). Non-numeric ids
    # (string doc keys via dedup_clusters) keep the exact join check.
    # integral only: the decimal(38,0) cast truncates fractions, which
    # would blind the check to sub-integer label moves on float ids
    numeric_ids = labels.schema["comp"].dataType.typeName() in (
        "byte", "short", "integer", "long",
    )

    def _label_sum(lbl: DataFrame):
        return lbl.agg(
            F.sum(F.col("comp").cast("decimal(38,0)")).alias("s")
        ).collect()[0].s

    def _jump(lbl: DataFrame) -> DataFrame:
        # pointer jumping (path compression): comp ← comp[comp], which
        # collapses label chains exponentially. comp is always the id
        # of a node in the same component (every update is a min over
        # reachable labels), so the composition stays in-component and
        # labels only decrease — the fixed point is min-reachable,
        # identical to the single-jump algorithm's.
        j = lbl.select(F.col("node").alias("jnode"), F.col("comp").alias("jcomp"))
        return lbl.join(j, lbl.comp == j.jnode, "left").select(
            "node",
            F.least(
                F.col("comp"), F.coalesce(F.col("jcomp"), F.col("comp"))
            ).alias("comp"),
        )

    prev_sum = None
    for _ in range(max_iter):
        # each node's candidate label: min over its own and neighbors'
        nbr_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy("a")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        propagated = labels.join(nbr_min, labels.node == nbr_min.a, "left").select(
            "node",
            F.least(
                F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))
            ).alias("comp"),
        )
        # TWO jumps per round (r15): each round is a full scheduler
        # barrier (checkpoint + convergence job), and that fixed cost —
        # not the per-round data volume — dominates deep graphs. A
        # second node-table self-join composes the label map twice, so
        # label reach grows ~4-5x per round instead of ~2x: the planted
        # deep-chain test converges in about half the rounds for one
        # extra node-sized (not edge-sized) join per round.
        new_labels = _jump(_jump(propagated)).localCheckpoint(eager=False)
        # lazy checkpoint: the convergence scan right below is the
        # action that materializes it, so each round runs ONE job
        # (eager=True would run a materialize job AND the scan job)
        if numeric_ids:
            labels = new_labels
            s = _label_sum(labels)
            if prev_sum is not None and s == prev_sum:
                break
            prev_sum = s
        else:
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .filter(F.col("n.comp") != F.col("o.comp"))
                .limit(1)
                .count()
            )
            labels = new_labels
            if changed == 0:
                break
    return labels.select("node", "comp")


def partitioned_components(
    pairs: DataFrame,
    part_col: str,
    src: str = "src",
    dst: str = "dst",
    validate: bool = False,
) -> DataFrame:
    """Exact connected components for a pair graph whose every edge is
    KNOWN to lie within one ``part_col`` group (semdedup: candidate
    pairs are generated cluster-locally, so no component ever spans
    two cells). One shuffle on ``part_col`` + a per-group union-find
    (Arrow-batched, O(|edges| α)) replaces the iterative global
    min-label rounds — at sf1 that is 1 stage instead of 3-4 rounds x
    (groupBy + 2 joins + checkpoint + convergence job), the dominant
    scheduler-latency term of the r13 semdedup sweep.

    Labels are identical to connected_components: comp = min node id
    reachable. Memory per task is bounded by the group's edge count —
    callers cap it upstream (semdedup's max_cluster_size caps a cell
    at C docs → ≤ C(C-1)/2 pairs post-threshold; the default C=5000
    worst-case is ~12.5M pairs = ~200 MB Arrow, and real thresholded
    cells are sparse). NOT for graphs whose edges can cross groups —
    use connected_components.

    ``validate=True`` (r15, verdict item) checks the precondition
    instead of trusting it: a node appearing under two ``part_col``
    groups means some component spans groups, and the per-group
    union-find would return PLAUSIBLE WRONG labels silently. The check
    is one extra aggregation job over the (2x) pair rows, so it is
    off by default in production paths whose generators guarantee
    group-locality by construction (semdedup's cell-local pairs);
    turn it on when the pair source is not so guaranteed.
    """
    import pandas as pd

    if validate:
        nodes = pairs.select(
            F.col(part_col).alias("__p"), F.col(src).alias("__n")
        ).unionByName(
            pairs.select(F.col(part_col).alias("__p"), F.col(dst).alias("__n"))
        )
        bad = (
            nodes.groupBy("__n")
            .agg(F.countDistinct("__p").alias("__np"))
            .filter(F.col("__np") > 1)
            .limit(5)
            .collect()
        )
        if bad:
            offenders = ", ".join(str(r["__n"]) for r in bad)
            raise ValueError(
                "partitioned_components: precondition violated — node(s) "
                f"[{offenders}] appear in more than one '{part_col}' group, "
                "so a component spans groups and per-group union-find "
                "would return wrong labels. Use connected_components for "
                "graphs whose edges can cross groups."
            )

    id_type = pairs.schema[src].dataType.simpleString()
    out_schema = f"node {id_type}, comp {id_type}"

    def _cc(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        ids = pd.unique(
            pd.concat([pdf[src], pdf[dst]], ignore_index=True)
        )
        idx = {v: i for i, v in enumerate(ids)}
        parent = np.arange(len(ids))

        def find(i: int) -> int:
            while parent[i] != i:
                parent[i] = parent[parent[i]]  # path halving
                i = parent[i]
            return i

        for a, b in zip(pdf[src], pdf[dst]):
            ra, rb = find(idx[a]), find(idx[b])
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        roots = np.fromiter(
            (find(i) for i in range(len(ids))), dtype=np.int64, count=len(ids)
        )
        # comp = MIN id per root (root index order is insertion order,
        # not id order, so reduce explicitly)
        comp_min: dict = {}
        for v, r in zip(ids, roots):
            cur = comp_min.get(r)
            if cur is None or v < cur:
                comp_min[r] = v
        return pd.DataFrame(
            {"node": ids, "comp": [comp_min[r] for r in roots]}
        )

    return (
        pairs.select(part_col, src, dst)
        .groupBy(part_col)
        .applyInPandas(_cc, out_schema)
    )


def dedup_clusters(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str,
    pair_a: str = "doc_a",
    pair_b: str = "doc_b",
) -> DataFrame:
    """Near-duplicate pairs → full dedup decision per document:
    (id, cluster, is_representative). The representative is the minimum
    id of each connected component; singletons represent themselves.
    """
    comp = connected_components(pairs, pair_a, pair_b)
    return (
        all_ids.select(F.col(id_col).alias("id"))
        .join(comp, F.col("id") == F.col("node"), "left")
        .select(
            "id",
            F.coalesce(F.col("comp"), F.col("id")).alias("cluster"),
        )
        .withColumn("is_representative", F.col("id") == F.col("cluster"))
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    max_iter: int = 15,
    tol: float = 1e-6,
) -> DataFrame:
    """Distributed PageRank over a directed edge list → (node, rank),
    ranks summing to ~1. Power iteration as pure DataFrame algebra:
    each round is one join (ranks → out-edges) + one keyed sum;
    dangling-node mass is redistributed uniformly so the distribution
    stays stochastic. Same iterative discipline as
    connected_components: localCheckpoint per round bounds lineage, and
    convergence (L1 delta < tol) is checked with a single tiny
    aggregate. The rank/degree tables are O(nodes) — never collected.
    """
    # single-materialization discipline (see connected_components):
    # nodes reads e twice and e_deg a third time — persist (columnar,
    # spillable; localCheckpoint's deserialized rows OOM'd a 16 GB
    # heap on the sf10 60M-edge string-keyed graph) and materialize
    # eagerly so an expensive caller plan runs once
    e = (
        edges.select(F.col(src).alias("esrc"), F.col(dst).alias("edst"))
        .distinct()
        .persist()
    )
    e.count()
    nodes = (
        e.select(F.col("esrc").alias("node"))
        .union(e.select(F.col("edst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:
        # empty edge list → empty ranking, not a ZeroDivisionError
        return nodes.withColumn("rank", F.lit(0.0)).select("node", "rank")
    # out_deg feeds the per-round dangling-mass anti-join — persist it
    # (node-sized) so unpersisting e doesn't resurrect the caller plan
    out_deg = e.groupBy("esrc").agg(F.count("*").alias("deg")).persist()
    out_deg.count()
    # persist, not localCheckpoint: e_deg is edge-sized and feeds every
    # round — deserialized checkpoint rows are the sf10 OOM (see e)
    e_deg = e.join(out_deg, "esrc").persist()
    e_deg.count()
    e.unpersist()  # e_deg/out_deg supersede it; nodes is checkpointed

    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(max_iter):
        contrib = (
            e_deg.join(ranks, e_deg.esrc == ranks.node)
            .select("edst", (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("edst")
            .agg(F.sum("c").alias("inflow"))
        )
        # dangling mass: rank held by nodes with no out-edges
        dangling = (
            ranks.join(out_deg, ranks.node == out_deg.esrc, "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
            .first()[0]
        )
        base = (1.0 - damping) / n + damping * dangling / n
        new_ranks = (
            nodes.join(contrib, nodes.node == contrib.edst, "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint()
        )
        delta = (
            new_ranks.alias("n")
            .join(ranks.alias("o"), "node")
            .agg(F.sum(F.abs(F.col("n.rank") - F.col("o.rank"))))
            .first()[0]
        )
        ranks = new_ranks
        if delta is not None and delta < tol:
            break
    return ranks


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-vertex triangle counts on an undirected simple graph —
    (v, triangles) for every vertex in ≥1 triangle.

    Degree-ordered compact-forward enumeration: orient each edge from
    the (degree, id)-smaller endpoint to the larger, list each
    vertex's out-wedges, and close them against the oriented edge
    list. Orientation makes every triangle appear exactly once (at
    its unique min-rank apex), and — decisive at scale — bounds
    out-degree by O(√m) even on power-law graphs, so the wedge join
    that dominates the plan generates O(m^1.5) rows worst-case
    instead of the Σdeg² blowup of naive id-ordering (a celebrity
    vertex with 10⁷ neighbors would otherwise emit 10¹⁴ wedges from
    one key). Three keyed shuffles total: degree agg, wedge
    self-join, closing equi-join.
    """
    # e feeds three consumers (degrees, orientation, closure) — persist
    # once; edge lists are small relative to the corpora they derive
    # from, the same materialization discipline as the dedup signature
    e = (
        edges.select(F.least(src, dst).alias("a"), F.greatest(src, dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .persist()
    )
    deg = (
        e.select(F.explode(F.array("a", "b")).alias("v"))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    # rank = (degree, id): a total order, ties broken by id
    ranked = (
        e.join(deg.withColumnRenamed("v", "a").withColumnRenamed("d", "da"), "a")
        .join(deg.withColumnRenamed("v", "b").withColumnRenamed("d", "db"), "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("w")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("w")))
            .alias("e")
        )
        .select("e.u", "e.w")
    )
    lo = ranked.select(F.col("u"), F.col("w").alias("w1"))
    hi = ranked.select(F.col("u"), F.col("w").alias("w2"))
    # wedges at the min-rank apex; w1 < w2 by id canonicalizes the pair
    wedges = lo.join(hi, "u").filter(F.col("w1") < F.col("w2"))
    # e is id-canonical (a < b) and the wedge pair is too (w1 < w2), so
    # closure is a plain two-key equi-join — an OR over both orients
    # would degrade to a nested-loop join
    closing = e.select(F.col("a").alias("w1"), F.col("b").alias("w2"))
    tri = wedges.join(closing, ["w1", "w2"])
    return (
        tri.select(F.explode(F.array("u", "w1", "w2")).alias("v"))
        .groupBy("v")
        .agg(F.count("*").alias("triangles"))
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 10,
) -> DataFrame:
    """Community detection by synchronous label propagation over
    undirected edges → (node, community).

    Each round every node adopts the most frequent label among its
    neighbors, breaking count ties toward the smaller label — a fully
    deterministic variant of LPA (classic LPA breaks ties randomly,
    which would make results partitioning-dependent). Per round: one
    join (labels → edges) + one (node, label) count + one arg-max
    aggregation — all keyed shuffles over O(edges) rows, the same
    iterative discipline as connected_components/pagerank
    (localCheckpoint lineage cuts, aggregate-only convergence check).
    Synchronous updates can oscillate on bipartite structures, so the
    loop is capped at ``max_iter`` and also stops at a fixed point.
    """
    # single-materialization discipline (see connected_components): the
    # union reads `edges` twice — persist the projection (columnar,
    # spillable) and materialize eagerly so an expensive caller plan
    # computes once
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).persist()
    e.count()
    sym = (
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .persist()
    )
    sym.count()
    e.unpersist()
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        freq = (
            sym.join(labels, sym.b == labels.node)
            .groupBy("a", "lbl")
            .agg(F.count("*").alias("cnt"))
        )
        # arg-max with deterministic ties: min over (-count, label)
        # works for labels of any orderable type (node ids may be strings)
        best = freq.groupBy("a").agg(
            F.min(F.struct((-F.col("cnt")).alias("nc"), F.col("lbl"))).alias("top")
        )
        new_labels = (
            labels.join(best, labels.node == best.a, "left")
            .select(
                "node",
                F.coalesce(F.col("top.lbl"), F.col("lbl")).alias("lbl"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.lbl") != F.col("o.lbl"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select("node", F.col("lbl").alias("community"))
