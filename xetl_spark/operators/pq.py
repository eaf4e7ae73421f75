"""Product quantization (PQ) for embedding search: compress vectors to
a few bytes of subspace codes and search in the compressed domain.

Why at 100 TB: a 64-dim float32 embedding is 256 bytes; its PQ code at
m=8 subspaces is 8 bytes — a 32× memory/scan reduction, which is the
difference between an embedding corpus that fits executor memory and
one that doesn't. Asymmetric distance computation (ADC) scores a query
against codes via an m×k lookup table (one table per query, built once
driver-side from the tiny codebook), so the scan does table lookups —
no float vector math per corpus row.

Pipeline:
- ``pq_fit``: per-subspace Lloyd's k-means on a BOUNDED driver sample
  (codebooks are m·k·(d/m) floats — tiny, plan-shipped like IVF
  centroids). Deterministic seed; sampling uses the content-hash
  ordering trick so the sample is partitioning-independent.
- ``pq_encode``: Arrow-batched mapInPandas argmin per subspace →
  (id, codes array<int>). The only full-corpus pass.
- ``pq_topk``: ADC shortlist in the compressed domain (per-partition
  local top-``shortlist`` then global), followed by an EXACT rerank of
  the shortlist against the true vectors — the standard recall
  restorer: compressed scan picks ~5k candidates per query, exact math
  touches only those.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xetl_spark.operators.util import bounded_query_collect, ensure_parallelism

_MAX_FIT_SAMPLE = 20_000


def _kmeans_np(x: np.ndarray, k: int, seed: int, iters: int = 20) -> np.ndarray:
    """Plain Lloyd's on a small numpy matrix (the driver-side fit)."""
    rng = np.random.default_rng(seed)
    centers = x[rng.choice(len(x), size=min(k, len(x)), replace=False)].copy()
    if len(centers) < k:  # degenerate tiny corpus: pad by repetition
        centers = np.vstack([centers] * (k // len(centers) + 1))[:k]
    for _ in range(iters):
        d = ((x[:, None, :] - centers[None, :, :]) ** 2).sum(-1)
        assign = d.argmin(1)
        for j in range(k):
            pts = x[assign == j]
            if len(pts):
                centers[j] = pts.mean(0)
    return centers


def _fit_sample(corpus: DataFrame, vec_col: str) -> np.ndarray:
    """Bounded, deterministic fit sample: the first _MAX_FIT_SAMPLE
    rows under md5(content) ordering — partitioning-independent, so
    refits on a repartitioned corpus give identical codebooks."""
    sample = (
        corpus.select(F.col(vec_col).alias("v"))
        # sort key as a COLUMN, not an expression: the top-K comparator
        # re-evaluates a sort EXPRESSION per comparison (measured 16x)
        .withColumn("__h", F.md5(F.col("v").cast("string")))
        .orderBy("__h")
        .limit(_MAX_FIT_SAMPLE)
        .collect()
    )
    return np.asarray([r.v for r in sample], dtype=np.float64)


def pq_fit(
    corpus: DataFrame,
    vec_col: str,
    m: int = 8,
    k: int = 16,
    seed: int = 42,
) -> list[list[list[float]]]:
    """Fit per-subspace codebooks on a bounded, deterministic sample.

    Returns ``m`` codebooks of ``k`` sub-centroids each (plain lists).
    """
    x = _fit_sample(corpus, vec_col)
    d = x.shape[1]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    return [
        _kmeans_np(x[:, i * dsub : (i + 1) * dsub], k, seed + i).tolist()
        for i in range(m)
    ]


def _pq_reconstruct(
    x: np.ndarray, books: list[np.ndarray], dsub: int
) -> np.ndarray:
    """Quantize-then-decode x against per-subspace codebooks."""
    y = np.empty_like(x)
    for i, b in enumerate(books):
        sub = x[:, i * dsub : (i + 1) * dsub]
        codes = ((b * b).sum(1)[None, :] - 2.0 * (sub @ b.T)).argmin(1)
        y[:, i * dsub : (i + 1) * dsub] = b[codes]
    return y


def _eigenvalue_allocation(x: np.ndarray, m: int) -> np.ndarray:
    """Ge et al.'s parametric OPQ rotation (CVPR 2013, §4): the
    eigenvectors of the sample covariance, ordered subspace by
    subspace. Eigenvalues are taken largest first; each goes to the
    subspace, among those not yet full, with the smallest product of
    the eigenvalues already in it. For Gaussian data PQ's distortion
    bound grows with each subspace's eigenvalue product (its
    covariance determinant), and is least when the products are
    balanced.

    Two choices the greedy rule leaves open, both made so that the
    grouping does not depend on the embeddings' unit: an empty
    subspace counts as the smallest, so the m largest eigenvalues seed
    distinct subspaces; and products are compared on eigenvalues
    divided by their geometric mean. Scaling the data by c scales a
    product of j raw eigenvalues by c**j, so raw products would order
    subspaces holding different counts by the unit; and with an empty
    subspace counted as product 1, embeddings whose eigenvalues are
    all below 1 would pile the largest ones into subspace 0.

    Safe on degenerate samples: the population covariance (divide by
    n) is defined for one row, and eigenvalues are floored before the
    logs, so rank-deficient and constant samples still give an
    orthonormal R."""
    n, d = x.shape
    dsub = d // m
    xc = x - x.mean(0)
    evals, evecs = np.linalg.eigh(xc.T @ xc / n)
    order = np.argsort(evals)[::-1]
    fin = np.finfo(np.float64)
    floor = max(evals.max() * fin.eps, fin.tiny)
    logs = np.log(np.maximum(evals[order], floor))
    logs -= logs.mean()
    slots: list[list[int]] = [[] for _ in range(m)]
    log_prod = np.zeros(m)
    for j, lv in zip(order, logs):
        i = min(
            (i for i in range(m) if len(slots[i]) < dsub),
            key=lambda i: (len(slots[i]) > 0, log_prod[i]),
        )
        slots[i].append(int(j))
        log_prod[i] += lv
    return evecs[:, [j for s in slots for j in s]]


def opq_fit(
    corpus: DataFrame,
    vec_col: str,
    m: int = 8,
    k: int = 16,
    seed: int = 42,
    iters: int = 8,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Optimized Product Quantization (Ge et al., CVPR 2013, OPQ-NP):
    learn an orthonormal rotation R that redistributes variance and
    decorrelates the subspaces BEFORE product quantization, then fit
    the codebooks in the rotated space. Returns (R as d x d lists,
    codebooks) — apply ``x @ R`` before encoding; L2 distances are
    rotation-invariant, so exact reranks still use original vectors.

    The start is Ge et al.'s parametric solution, eigenvalue
    allocation (§4, ``_eigenvalue_allocation``): R's columns are the
    sample covariance's eigenvectors, grouped so that each subspace
    gets a balanced product of eigenvalues. From there the
    non-parametric alternation runs ``iters`` times (at least once),
    all driver-side on the bounded sample (d x d SVD on 64-dim
    embeddings is microseconds):
      1. rotate the sample by the current R, 2. fit per-subspace
      k-means, 3. decode the codes back to vectors Y, 4. solve the
      orthogonal Procrustes problem min_R ||X R - Y||_F (SVD of X^T Y),
      repeat.
    PQ's quantization error depends on how variance lands across
    subspaces; on embeddings with correlated/unevenly-scaled
    dimensions the learned R recovers most of the accuracy a plain
    subspace split loses (recall gap pinned in tests/test_llm_ops.py).
    """
    x = _fit_sample(corpus, vec_col)
    d = x.shape[1]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    r = _eigenvalue_allocation(x, m)
    for it in range(max(1, int(iters))):
        xr = x @ r
        books = [
            _kmeans_np(xr[:, i * dsub : (i + 1) * dsub], k, seed + i, iters=10)
            for i in range(m)
        ]
        y = _pq_reconstruct(xr, books, dsub)
        u, _s, vt = np.linalg.svd(x.T @ y)
        r = u @ vt
    xr = x @ r
    books = [
        _kmeans_np(xr[:, i * dsub : (i + 1) * dsub], k, seed + i)
        for i in range(m)
    ]
    return r.tolist(), [b.tolist() for b in books]


def pq_encode(
    df: DataFrame,
    vec_col: str,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    rotation: list[list[float]] | None = None,
) -> DataFrame:
    """(id, codes): per-subspace nearest-codeword indices. One
    Arrow-batched pass; codebooks (and the optional OPQ rotation)
    ride the closure (tiny)."""
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    rot = None if rotation is None else np.asarray(rotation, dtype=np.float64)
    m = len(books)
    dsub = books[0].shape[1]
    id_type = df.schema[id_col].dataType.simpleString()

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            x = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            if rot is not None:
                x = x @ rot
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for i, b in enumerate(books):
                sub = x[:, i * dsub : (i + 1) * dsub]
                # ||s - c||² = ||s||² - 2 s·c + ||c||²; ||s||² constant per row
                d2 = (b * b).sum(1)[None, :] - 2.0 * (sub @ b.T)
                codes[:, i] = d2.argmin(1)
            yield pd.DataFrame(
                {"id": pdf[id_col], "codes": [list(map(int, c)) for c in codes]}
            )

    return ensure_parallelism(df).mapInPandas(
        encode, schema=f"id {id_type}, codes array<int>"
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    m: int = 8,
    k_codes: int = 32,
    k: int = 10,
    shortlist: int = 100,
    id_col: str = "vec_id",
    q_id_col: str = "vec_id",
    seed: int = 42,
    max_queries: int = 65536,
    opq_iters: int = 0,
    prefit: tuple | None = None,
) -> DataFrame:
    """ADC shortlist + exact rerank: (query_id, corpus_id, dist, rank).

    Queries are collected to the driver (bounded batch contract, as in
    cosine_topk_bruteforce); the corpus is scanned once in the
    compressed domain, then only shortlisted (query, corpus-id) pairs
    fetch true vectors for the exact rerank join.

    ``opq_iters`` > 0 switches the fit to OPQ (opq_fit): corpus codes
    and query ADC tables are built in the learned rotated space, while
    the exact rerank stays on ORIGINAL vectors — rotation preserves
    L2, so only the shortlist quality (recall) changes, never the
    reported distances.

    ``prefit=(rotation, codebooks)`` — from a prior pq_fit/opq_fit —
    skips the codebook fit entirely: the production pattern (codebooks
    fitted once, reused per query batch; r14, priced separately in
    ANN.md's amortized column). rotation is None for plain PQ.
    """
    from pyspark.sql import Window

    if prefit is not None:
        rotation, codebooks = prefit
    elif opq_iters > 0:
        rotation, codebooks = opq_fit(
            corpus, vec_col, m, k_codes, seed, iters=opq_iters
        )
    else:
        rotation, codebooks = None, pq_fit(corpus, vec_col, m, k_codes, seed)
    books = [np.asarray(b) for b in codebooks]
    dsub = books[0].shape[1]
    encoded = pq_encode(corpus, vec_col, codebooks, id_col, rotation=rotation)

    q_rows = bounded_query_collect(
        queries, [q_id_col, vec_col], max_queries, "pq_topk"
    )
    q_ids = [r[0] for r in q_rows]
    q_mat = np.asarray([r[1] for r in q_rows], dtype=np.float64)
    if rotation is not None:
        q_mat = q_mat @ np.asarray(rotation, dtype=np.float64)
    # per-query ADC tables: (n_q, m, k) — tiny, rides the closure
    tables = np.stack(
        [
            ((q_mat[:, i * dsub : (i + 1) * dsub][:, None, :] - b[None, :, :]) ** 2).sum(-1)
            for i, b in enumerate(books)
        ],
        axis=1,
    )

    def adc(batches):
        import pandas as pd

        for pdf in batches:
            codes = np.asarray(list(pdf["codes"]), dtype=np.int64)  # (n, m)
            # dist[q, row] = Σ_i tables[q, i, codes[row, i]]
            d = np.zeros((len(q_ids), len(pdf)))
            for i in range(codes.shape[1]):
                d += tables[:, i, :][:, codes[:, i]]
            out = []
            top = min(shortlist, len(pdf))
            for qi, qid in enumerate(q_ids):
                idx = np.argpartition(d[qi], top - 1)[:top]
                out.append(
                    pd.DataFrame(
                        {"query_id": qid, "id": pdf["id"].iloc[idx], "adc": d[qi][idx]}
                    )
                )
            yield pd.concat(out)

    id_type = corpus.schema[id_col].dataType.simpleString()
    cand = encoded.mapInPandas(
        adc, schema=f"query_id {id_type}, id {id_type}, adc double"
    )
    # global shortlist per query, then exact rerank on true vectors
    w = Window.partitionBy("query_id").orderBy("adc", "id")
    short = cand.withColumn("__r", F.row_number().over(w)).filter(
        F.col("__r") <= shortlist
    )
    corp_v = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("__cv"))
    q_v = queries.select(
        F.col(q_id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    exact = (
        short.join(corp_v, "id")
        .join(F.broadcast(q_v), "query_id")
        .withColumn(
            "dist",
            F.sqrt(
                F.aggregate(
                    F.zip_with("__cv", "__qv", lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy("dist", "id")
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("id").alias("corpus_id"), "dist", "rank")
    )


def ivfpq_fit(
    corpus: DataFrame,
    vec_col: str,
    n_cells: int = 16,
    m: int = 8,
    k_codes: int = 32,
    seed: int = 42,
) -> tuple["np.ndarray", list]:
    """(cells, books) for ivfpq_topk's ``prefit``: full-dim coarse
    k-means on the bounded content-hash-ordered sample, then residual
    codebooks per subspace — exactly the inline build ivfpq_topk runs
    when not prefit (extracted r14 so production refits once)."""
    x = _fit_sample(corpus, vec_col)
    cells = _kmeans_np(x, n_cells, seed)
    # residual codebooks fit on the sample's residuals
    assign = ((x[:, None, :] - cells[None, :, :]) ** 2).sum(-1).argmin(1)
    resid = x - cells[assign]
    d = x.shape[1]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    books = [
        _kmeans_np(resid[:, i * dsub : (i + 1) * dsub], k_codes, seed + 1 + i)
        for i in range(m)
    ]
    return cells, books


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 8,
    k_codes: int = 32,
    k: int = 10,
    shortlist: int = 100,
    id_col: str = "vec_id",
    q_id_col: str = "vec_id",
    seed: int = 42,
    max_queries: int = 65536,
    prefit: tuple | None = None,
) -> DataFrame:
    """IVF-PQ: coarse cells prune the scan, residual PQ compresses it —
    the FAISS IVFPQ architecture as a DataFrame pipeline.

    ``prefit=(cells, books)`` (numpy arrays from a prior build) skips
    the coarse + residual fits — the amortized production pattern.

    Build: full-dim k-means (bounded driver sample) gives n_cells
    coarse centroids; each vector stores (cell, PQ codes of its
    RESIDUAL v − centroid). Residual encoding is what makes the
    codebooks sharp: residual magnitudes are a fraction of vector
    magnitudes, so the same k_codes quantize far finer.

    Search: each query probes its n_probe nearest cells; rows outside
    probed cells are skipped BEFORE any distance math (with the code
    table persisted partitionBy(cell), that's partition pruning — the
    scan touches n_probe/n_cells of the data). Probed rows score via
    per-(query, cell) ADC tables (residualized query against the
    shared codebooks), then the shortlist reranks exactly.
    """
    from pyspark.sql import Window

    # ---- build ----
    if prefit is not None:
        cells, books = prefit
        cells = np.asarray(cells)
        books = [np.asarray(b) for b in books]
    else:
        cells, books = ivfpq_fit(corpus, vec_col, n_cells, m, k_codes, seed)
    d = cells.shape[1]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m

    id_type = corpus.schema[id_col].dataType.simpleString()

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            v = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            cell = ((v[:, None, :] - cells[None, :, :]) ** 2).sum(-1).argmin(1)
            r = v - cells[cell]
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for i, b in enumerate(books):
                sub = r[:, i * dsub : (i + 1) * dsub]
                codes[:, i] = ((b * b).sum(1)[None, :] - 2.0 * (sub @ b.T)).argmin(1)
            yield pd.DataFrame(
                {
                    "id": pdf[id_col],
                    "cell": cell.astype("int32"),
                    "codes": [list(map(int, c)) for c in codes],
                }
            )

    encoded = ensure_parallelism(corpus).mapInPandas(
        encode, schema=f"id {id_type}, cell int, codes array<int>"
    )

    # ---- search ----
    q_rows = bounded_query_collect(
        queries, [q_id_col, vec_col], max_queries, "ivfpq_topk"
    )
    q_ids = [r[0] for r in q_rows]
    q_mat = np.asarray([r[1] for r in q_rows], dtype=np.float64)
    cell_d = ((q_mat[:, None, :] - cells[None, :, :]) ** 2).sum(-1)
    probed = np.argsort(cell_d, axis=1)[:, :n_probe]  # (n_q, n_probe)
    # ADC tables per (query, probed cell): residualized query vs books
    tables: dict[tuple[int, int], np.ndarray] = {}
    for qi in range(len(q_ids)):
        for c in probed[qi]:
            rq = q_mat[qi] - cells[c]
            tables[(qi, int(c))] = np.stack(
                [
                    ((rq[i * dsub : (i + 1) * dsub][None, :] - b) ** 2).sum(1)
                    for i, b in enumerate(books)
                ]
            )
    probe_sets = [set(int(c) for c in probed[qi]) for qi in range(len(q_ids))]

    def adc(batches):
        import pandas as pd

        for pdf in batches:
            by_cell = pdf.groupby("cell", sort=False)
            out = []
            for cell_val, grp in by_cell:
                codes = np.asarray(list(grp["codes"]), dtype=np.int64)
                for qi, qid in enumerate(q_ids):
                    if int(cell_val) not in probe_sets[qi]:
                        continue  # pruned before any distance math
                    t = tables[(qi, int(cell_val))]
                    dist = np.zeros(len(grp))
                    for i in range(codes.shape[1]):
                        dist += t[i][codes[:, i]]
                    top = min(shortlist, len(grp))
                    idx = np.argpartition(dist, top - 1)[:top]
                    out.append(
                        pd.DataFrame(
                            {
                                "query_id": qid,
                                "id": grp["id"].iloc[idx],
                                "adc": dist[idx],
                            }
                        )
                    )
            yield (
                pd.concat(out)
                if out
                else pd.DataFrame({"query_id": [], "id": [], "adc": []})
            )

    cand = encoded.mapInPandas(
        adc, schema=f"query_id {id_type}, id {id_type}, adc double"
    )
    w = Window.partitionBy("query_id").orderBy("adc", "id")
    short = cand.withColumn("__r", F.row_number().over(w)).filter(
        F.col("__r") <= shortlist
    )
    corp_v = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("__cv"))
    q_v = queries.select(F.col(q_id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
    exact = (
        short.join(corp_v, "id")
        .join(F.broadcast(q_v), "query_id")
        .withColumn(
            "dist",
            F.sqrt(
                F.aggregate(
                    F.zip_with("__cv", "__qv", lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy("dist", "id")
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("id").alias("corpus_id"), "dist", "rank")
    )
