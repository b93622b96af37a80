"""Similarity search over embedding columns (array<float>): exact
cosine top-k (JVM fold and BLAS), the LSH / IVF / PQ / IVF-PQ
approximate paths, their recall audit, and embedding near-duplicate
pairs. ``ann_index.py`` persists IVF-PQ with the same stages.

Shared stages
-------------
Every path is a composition of the stages below, each written once;
a public function keeps only its parameters, partitioning, pins and
projection.

- ``_train_sample`` — the bounded deterministic training sample
  (first ``train_limit`` vectors by id). Every trainer runs through
  the ``_TRAIN_CACHE`` memo keyed on the sample's digest, so
  ``warm_pq_training`` serves all of them.
- ``_unit`` — unit rows, the PQ geometry; ``_cosine_matrix`` — the
  rows × centroids cosine of IVF (a zero norm scores 0). Each caller
  keeps its own argmax / argsort cut: the two break ties differently.
- ``_lsh_kernel`` / ``_cell_kernel`` — one numpy GEMM per Arrow batch
  fans each row out to its hyperplane buckets or its IVF cells.
- ``_pq_encode`` / ``_query_tables`` / ``_adc_score`` — PQ codes (and
  IVF cell), driver-side query lookup tables (and probes), and
  asymmetric-distance scoring.
- ``_local_topk`` — the batch-local cut: round, drop the self match,
  then (score desc, id), exactly the order of the global window and
  of the SQL oracles, so the cut never drops a row the global rank
  keeps and results do not depend on partition count.
- ``_block_pairs`` — the (blocks…, key) self-join into id_a < id_b
  candidates and their exact-cosine verify.
- ``_rank`` / ``_rank_cosine`` — the global top-k per query.

Exact scores are JVM-side (``zip_with`` + ``aggregate`` fold in the
DuckDB oracle's summation order); the numpy kernels choose
candidates or score approximately.

Pickling
--------
Kernels are module-level functions bound with ``functools.partial``.
This module registers itself with cloudpickle to pickle BY VALUE: a
worker receives each kernel with the helpers it calls and imports
only numpy and pandas, never this package — a session's Python
workers need not have it on their path (their working directory is
the driver's at session start, which is not always the checkout).
Kernels therefore call only this module's own helpers, numpy and
pandas; pandas is imported inside them, so the driver-side import
stays light.
"""

from __future__ import annotations

import hashlib
import sys
from functools import partial

import numpy as np
from pyspark import cloudpickle
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from big_data_processing_spark.operators.windows import topk_per_group
from big_data_processing_spark.partitioning import (
    pin_now,
    spread,
    spread_arrow,
    spread_even,
    warn_if_quadratic,
)

cloudpickle.register_pickle_by_value(sys.modules[__name__])


def _dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double precision (mirrors the
    DuckDB oracle's list_dot_product evaluation order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine(a: Column, b: Column) -> Column:
    """cos(a,b) = dot(a,b) / (||a||·||b||), NULL-safe on zero norms."""
    denom = F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b))
    return F.when(denom > 0, _dot(a, b) / denom).otherwise(F.lit(0.0))


# --------------------------------------------------------------------
# Shared stages
# --------------------------------------------------------------------


def _query_side(queries: DataFrame, id_col: str, vec_col: str, *extra):
    """Queries as (query_id, q_vec, *extra) for the corpus join."""
    return queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"), *extra
    )


def _rank(scored: DataFrame, id_col: str, score: str, k: int) -> DataFrame:
    """Global top-k per query on (score desc, id), the house
    tie-break: (query_id, id, score, rank)."""
    return topk_per_group(
        scored, ["query_id"], [F.col(score).desc(), F.col(id_col)], k
    ).select("query_id", id_col, score, "rank")


def _rank_cosine(
    pairs: DataFrame, id_col: str, vec_col: str, k: int, ndigits: int
) -> DataFrame:
    """Exact rounded cosine of (query_id, q_vec) × (id, vec) pairs,
    ranked: (query_id, id, cos, rank)."""
    cos = F.round(cosine(F.col("q_vec"), F.col(vec_col)), ndigits)
    return _rank(
        pairs.select("query_id", id_col, cos.alias("cos")), id_col, "cos", k
    )


def _train_sample(df: DataFrame, id_col: str, vec_col: str, limit: int):
    """The first ``limit`` vectors by id: quantizer quality needs only
    a sample, so training cost is independent of corpus size, and one
    recipe everywhere keeps the ``_TRAIN_CACHE`` keys equal."""
    return [
        r[0] for r in df.select(vec_col).orderBy(id_col).limit(limit).collect()
    ]


def _unit(mat):
    """Unit-normalized rows; a zero row stays zero."""
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0
    return mat / norms[:, None]


def _cosine_matrix(mat, cent):
    """(rows × centroids) cosine; a zero norm on either side scores
    0 against everything."""
    norm_m = np.linalg.norm(mat, axis=1)
    norm_m[norm_m == 0] = np.inf
    norm_c = np.linalg.norm(cent, axis=1)
    norm_c[norm_c == 0] = np.inf
    return (mat @ cent.T) / np.outer(norm_m, norm_c)


def _local_topk(cuts, id_col: str, score: str, k: int, ndigits: int):
    """Batch-local top-k from (query id, ids, scores) triples. Rounds
    BEFORE selecting: the cut then uses exactly the (rounded score
    desc, id asc) order of the global window and the SQL oracle, so
    a last-ulp GEMM-vs-fold difference inside a rounded tie can never
    change which id survives the k boundary. Emits (query_id, id,
    score) — at most k rows per query and batch, so the global window
    sees ≤ k·batches candidates per query, not the corpus."""
    import pandas as pd

    out_q, out_i, out_s = [], [], []
    for qid, ids, scores in cuts:
        keep = ids != qid  # no self-matches
        s, i = np.round(scores[keep], ndigits), ids[keep]
        order = np.lexsort((i, -s))[:k]
        out_q.extend([qid] * len(order))
        out_i.extend(i[order])
        out_s.extend(s[order])
    return pd.DataFrame(
        {
            "query_id": pd.Series(out_q, dtype="int64"),
            id_col: pd.Series(out_i, dtype="int64"),
            score: pd.Series(out_s, dtype="float64"),
        }
    )


def _exact_score(bq, id_col, vec_col, k, ndigits, batches):
    """Brute-force BLAS scoring: one GEMM per batch against the
    broadcast (ids, matrix) of the queries, then the local cut."""
    ids_q, mat_q = bq.value
    for pdf in batches:
        c_ids = pdf[id_col].to_numpy()
        mat = np.array(list(pdf[vec_col]), dtype=np.float64)
        cos = _cosine_matrix(mat, mat_q)
        cuts = ((qid, c_ids, cos[:, j]) for j, qid in enumerate(ids_q))
        yield _local_topk(cuts, id_col, "cos", k, ndigits)


def _plane_sign(table: int, p: int, d: int) -> float:
    """Deterministic ±1 hyperplane component from md5(table, plane,
    dim) — reproducible everywhere with no stored model."""
    digest = hashlib.md5(f"plane-{table}-{p}-{d}".encode()).digest()
    return 1.0 if digest[0] % 2 == 0 else -1.0


def _lsh_planes(df: DataFrame, dim: int, num_tables: int, num_planes: int):
    """Broadcast (tables·planes, dim) matrix of ±1 hyperplanes."""
    return df.sparkSession.sparkContext.broadcast(
        np.array(
            [
                [_plane_sign(t, p, d) for d in range(dim)]
                for t in range(num_tables)
                for p in range(num_planes)
            ]
        )
    )


def _lsh_kernel(bp, vec_col, keep, num_tables, num_planes, batches):
    """All table signatures of a batch in ONE numpy GEMM, sign(V·Pᵀ):
    as JVM expressions the same math is num_tables·num_planes
    ``zip_with`` folds over literal plane arrays, which cost seconds
    of analyzer/codegen time and interpreted per-row folds. Emits one
    row per (input row, table): the ``keep`` columns, table, bucket."""
    import pandas as pd

    planes = bp.value
    pw2 = np.left_shift(1, np.arange(num_planes))
    for pdf in batches:
        n = len(pdf)
        if n == 0:
            continue
        mat = np.array(list(pdf[vec_col]), dtype=np.float64)
        bits = (mat @ planes.T >= 0).astype(np.int64).reshape(
            n, num_tables, num_planes
        )
        out = {c: pdf[c].repeat(num_tables) for c in keep}
        out["table"] = np.tile(np.arange(num_tables, dtype=np.int32), n)
        out["bucket"] = (bits * pw2).sum(axis=2).reshape(-1).astype(np.int32)
        yield pd.DataFrame(out)


def _cell_kernel(bc, vec_col, keep, cell_col, n_cells, batches):
    """IVF assignment against the broadcast centroids: each row's
    cosine-nearest cell (``n_cells`` None: argmax) or its ``n_cells``
    nearest (argsort cut), one output row per cell with the ``keep``
    columns."""
    import pandas as pd

    cent = np.asarray(bc.value)
    for pdf in batches:
        if len(pdf) == 0:
            continue
        mat = np.array(list(pdf[vec_col]), dtype=np.float64)
        sim = _cosine_matrix(mat, cent)
        if n_cells is None:
            cells = np.argmax(sim, axis=1)[:, None]
        else:
            cells = np.argsort(-sim, axis=1)[:, :n_cells]
        out = {c: pdf[c].repeat(cells.shape[1]) for c in keep}
        out[cell_col] = cells.reshape(-1).astype("int32")
        yield pd.DataFrame(out)


def _block_pairs(
    sig: DataFrame,
    on: list[str],
    vecs: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    ndigits: int,
    distinct: bool = True,
) -> DataFrame:
    """Near-duplicate pairs of the (``on``…, id) frame ``sig``: its
    self-join gives id_a < id_b candidates (``distinct``: a pair
    sharing several tables or cells verifies once), each verified
    with the exact rounded cosine of its ``vecs`` vectors. Vectors
    stay out of the self-join and join back only for candidates.

    The verify is spread keyless: a keyed repartition of the
    byte-small candidate frame is planner-eliminated / AQE-coalesced
    to a couple of tasks (measured: 96k-pair verify on 2 of 32 cores,
    2 s each — the CPU-dense exact-cosine fold per pair needs COMPUTE
    width, not byte width; same lesson as the Jaccard verifier)."""
    cand = (
        sig.select(*on, F.col(id_col).alias("id_a"))
        .join(sig.select(*on, F.col(id_col).alias("id_b")), on=on)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    if distinct:
        cand = cand.distinct()
    v = vecs.select(F.col(id_col), F.col(vec_col))
    pairs = spread_even(cand).join(
        v.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a")),
        on="id_a",
    ).join(
        v.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b")),
        on="id_b",
    )
    return (
        pairs.withColumn(
            "cos", F.round(cosine(F.col("v_a"), F.col("v_b")), ndigits)
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def _pq_encode(bc, id_col, vec_col, batches):
    """PQ codes of the unit rows under the broadcast (coarse, books):
    per subspace, the index of the L2-nearest codebook centroid. With
    coarse centroids (IVF-PQ) each row also gets its cell, the argmax
    of ``unit @ cent.T / cnorm``. Emits (id, [cell,] codes)."""
    import pandas as pd

    cents, books = bc.value
    m, _, dsub = books.shape
    if cents is not None:
        cnorm = np.linalg.norm(cents, axis=1)
        cnorm[cnorm == 0] = np.inf
    for pdf in batches:
        unit = _unit(np.array(list(pdf[vec_col]), dtype=np.float64))
        out = {id_col: pdf[id_col]}
        if cents is not None:
            cell = np.argmax(unit @ cents.T / cnorm[None, :], axis=1)
            out["cell"] = cell.astype("int32")
        subs = unit.reshape(len(unit), m, dsub)
        # (n, m, ksub) squared distances → argmin codes
        d2 = ((subs[:, :, None, :] - books[None, :, :, :]) ** 2).sum(axis=3)
        out["codes"] = list(np.argmin(d2, axis=2).astype("int32"))
        yield pd.DataFrame(out)


def _pq_codes(frame: DataFrame, id_col, vec_col, books, coarse=None):
    """(id, [cell,] codes) of ``frame``, partitioned by the caller,
    under FIXED trained artifacts: only codes leave the worker."""
    bc = frame.sparkSession.sparkContext.broadcast((coarse, books))
    cell = "" if coarse is None else "cell int, "
    return frame.mapInPandas(
        partial(_pq_encode, bc, id_col, vec_col),
        schema=f"{id_col} long, {cell}codes array<int>",
    )


def _query_tables(queries, id_col, vec_col, books, coarse=None, n_probe=0):
    """Driver-side ADC inputs — tiny, |Q| × m × ksub doubles: query
    ids in id order, lookup tables luts[q, j, c] = unit query
    subvector j · codebook[j, c], and with ``coarse`` each query's
    ``n_probe`` nearest cells by cosine, the metric of the cell
    assignment (None without)."""
    rows = queries.select(id_col, vec_col).orderBy(id_col).collect()
    qids = [int(r[0]) for r in rows]
    qunit = _unit(np.array([list(r[1]) for r in rows], dtype=np.float64))
    m, _, dsub = books.shape
    luts = np.einsum("qjd,jcd->qjc", qunit.reshape(len(qids), m, dsub), books)
    if coarse is None:
        return qids, luts, None
    cn = np.linalg.norm(coarse, axis=1)
    cn[cn == 0] = np.inf
    qsim = qunit @ coarse.T / cn[None, :]
    return qids, luts, np.argsort(-qsim, axis=1)[:, :n_probe]


def _adc_score(bc_q, id_col, k, ndigits, batches):
    """ADC scoring of (id, [cell,] codes) batches against the
    broadcast query tables: a row's approximate cosine is the sum of
    its m table lookups. Without probes every query scores every row;
    with probes a query scores only the rows of its probed cells."""
    qids, luts, probes = bc_q.value
    if probes is None:
        probing = {None: range(len(qids))}
    else:  # cell → probing query indexes
        probing = {}
        for qi, cells in enumerate(probes):
            for c in cells:
                probing.setdefault(int(c), []).append(qi)
    jidx = np.arange(luts.shape[1])

    def cuts(codes, ids, cells):
        for cell, qis in probing.items():
            mask = slice(None) if cell is None else cells == cell
            sub_codes, sub_ids = codes[mask], ids[mask]
            for qi in qis:
                scores = luts[qi][jidx[None, :], sub_codes].sum(axis=1)
                yield qids[qi], sub_ids, scores

    for pdf in batches:
        codes = np.array(list(pdf["codes"]), dtype=np.int64)
        cells = None if probes is None else pdf["cell"].to_numpy()
        batch_cuts = cuts(codes, pdf[id_col].to_numpy(), cells)
        yield _local_topk(batch_cuts, id_col, "pq_cos", k, ndigits)


def _adc_topk(codes: DataFrame, tables, id_col, k, ndigits) -> DataFrame:
    """ADC-score a codes frame against broadcast query tables, then
    rank: (query_id, id, pq_cos, rank)."""
    scored = codes.mapInPandas(
        partial(_adc_score, tables, id_col, k, ndigits),
        schema=f"query_id long, {id_col} long, pq_cos double",
    )
    return _rank(scored, id_col, "pq_cos", k)


# --------------------------------------------------------------------
# Public functions
# --------------------------------------------------------------------


def brute_force_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    ndigits: int = 8,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns (query_id, vec_id, cos, rank), rank 1..k, excluding
    self-matches. Ties break on neighbor id (deterministic).

    A broadcast nested loop: the query set (small) is broadcast, the
    corpus streams once — O(|corpus|·|queries|·dim) with zero corpus
    shuffle. Right up to ~10^3 queries; beyond that, bucket.
    """
    q = _query_side(queries, id_col, vec_col)
    # Per-row cost is |queries|·dim multiply-adds — partition by
    # cores, not input bytes (the corpus file may be one split).
    c = spread(corpus.select(F.col(id_col), F.col(vec_col)), id_col)
    pairs = c.crossJoin(F.broadcast(q)).filter(
        F.col(id_col) != F.col("query_id")
    )
    return _rank_cosine(pairs, id_col, vec_col, k, ndigits)


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    num_planes: int = 6,
    num_tables: int = 8,
    ndigits: int = 8,
) -> DataFrame:
    """Approximate top-k cosine: candidates restricted to vectors
    sharing ANY of the query's ``num_tables`` hyperplane-LSH buckets,
    then exact cosine + rank within candidates. Trades recall for a
    bucket equi-join instead of a full cross product; tune
    (num_planes, num_tables) for the recall/candidate-count point —
    fewer planes = bigger buckets, more tables = more chances."""
    bp = _lsh_planes(corpus, dim, num_tables, num_planes)
    c = spread_arrow(
        corpus.select(F.col(id_col), F.col(vec_col)), id_col
    ).mapInPandas(
        partial(
            _lsh_kernel, bp, vec_col, (id_col, vec_col), num_tables,
            num_planes,
        ),
        schema=f"{id_col} long, {vec_col} array<float>, "
        "table int, bucket int",
    )
    q = _query_side(queries, id_col, vec_col).mapInPandas(
        partial(
            _lsh_kernel, bp, "q_vec", ("query_id", "q_vec"), num_tables,
            num_planes,
        ),
        schema="query_id long, q_vec array<float>, table int, bucket int",
    )
    cand = (
        c.join(F.broadcast(q), on=["table", "bucket"])
        .filter(F.col(id_col) != F.col("query_id"))
        # a pair colliding in several tables scores once, not L times
        .dropDuplicates(["query_id", id_col])
    )
    return _rank_cosine(cand, id_col, vec_col, k, ndigits)


def cosine_near_dup_pairs(
    df: DataFrame,
    block_cols: list[str],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    ndigits: int = 8,
    allow_quadratic: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within blocking keys:
    all (id_a < id_b) pairs sharing ``block_cols`` whose cosine
    similarity meets ``threshold``.

    Blocking (cluster id / label / LSH bucket) keeps the self-join
    from going quadratic over the corpus — the standard shape for
    embedding-based dedup of a training set. For unblocked corpora,
    feed ``hyperplane_signature`` buckets as the block column.

    Within-block pairs still grow with the SQUARE of block size
    (measured 38-41× per 10× data when blocks scale with the
    corpus, SCALE.md) — this exact path is the value-checked
    baseline; the scale paths are ``cosine_near_dup_pairs_ivf`` /
    ``_lsh``. Past ~2 GiB of input a RuntimeWarning says so;
    ``allow_quadratic=True`` acknowledges the cost
    (partitioning.warn_if_quadratic).
    """
    warn_if_quadratic(
        df, "cosine_near_dup_pairs", allow_quadratic=allow_quadratic
    )
    base = df.select(*block_cols, F.col(id_col), F.col(vec_col))
    return _block_pairs(
        base.select(*block_cols, F.col(id_col)), block_cols, base, id_col,
        vec_col, threshold, ndigits, distinct=False,
    )


def brute_force_cosine_topk_pandas(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    ndigits: int = 8,
) -> DataFrame:
    """BLAS path for high dimensions: the same exact top-k as
    ``brute_force_cosine_topk``, scored by an Arrow-batched
    ``mapInPandas`` kernel doing one numpy matmul per batch against
    the (driver-collected, broadcast) query matrix.

    Use when dim × |queries| makes the per-row JVM fold expression
    the bottleneck (thousands of dims): one C-level GEMM per Arrow
    batch replaces dim·|queries| interpreted expression nodes per
    row. Each batch emits only its local top-k per query.
    """
    q_rows = _query_side(queries, id_col, vec_col).collect()
    q_ids = np.array([r["query_id"] for r in q_rows])
    q_mat = np.array([r["q_vec"] for r in q_rows], dtype=np.float64)
    bq = corpus.sparkSession.sparkContext.broadcast((q_ids, q_mat))
    local_topk = spread_arrow(
        corpus.select(F.col(id_col), F.col(vec_col)), id_col
    ).mapInPandas(
        partial(_exact_score, bq, id_col, vec_col, k, ndigits),
        schema=f"query_id long, {id_col} long, cos double",
    )
    return _rank(local_topk, id_col, "cos", k)


def _train_centroids_kmeans(
    vecs, n_centroids: int, iters: int = 5
):
    """Driver-side numpy k-means on a (seeded) sample — the classic
    IVF training recipe: quantizer quality needs only a sample, so
    training cost is independent of corpus size."""
    mat = np.asarray(vecs, dtype=np.float64)
    # deterministic init: first k distinct rows
    centroids = mat[:n_centroids].copy()
    for _ in range(iters):
        assign = np.argmax(_cosine_matrix(mat, centroids), axis=1)
        for c in range(n_centroids):
            members = mat[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
    return centroids


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    train_limit: int = 4096,
    ndigits: int = 8,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k cosine search — the
    other classic ANN scale path next to LSH:

    1. train a coarse quantizer (k-means centroids) on a bounded,
       deterministic SAMPLE of the corpus (driver-side numpy — IVF
       training never needs the full corpus; memoized);
    2. assign every corpus vector to its nearest centroid with an
       Arrow-batched kernel (one GEMM per batch, distributed);
    3. probe each query's ``n_probe`` nearest centroid lists only —
       an equi-join on the centroid id replaces the full cross
       product, cutting scored candidates to ~n_probe/n_centroids
       of the corpus.

    Recall rises with ``n_probe`` (== exact when n_probe =
    n_centroids). Returns (query_id, vec_id, cos, rank).
    """
    train = _train_sample(corpus, id_col, vec_col, train_limit)
    bc = corpus.sparkSession.sparkContext.broadcast(
        _train_centroids_kmeans_cached(train, n_centroids)
    )
    assigned = spread_arrow(
        corpus.select(id_col, vec_col), id_col
    ).mapInPandas(
        partial(_cell_kernel, bc, vec_col, (id_col, vec_col), "centroid",
                None),
        schema=f"{id_col} long, {vec_col} array<float>, centroid int",
    )
    probed = _query_side(queries, id_col, vec_col).mapInPandas(
        partial(_cell_kernel, bc, "q_vec", ("query_id", "q_vec"),
                "centroid", n_probe),
        schema="query_id long, q_vec array<float>, centroid int",
    )
    pairs = assigned.join(F.broadcast(probed), on="centroid").filter(
        F.col(id_col) != F.col("query_id")
    )
    return _rank_cosine(pairs, id_col, vec_col, k, ndigits)


def ann_recall(
    exact: DataFrame,
    approx: DataFrame,
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall@k of an approximate top-k result against the exact one.

    Both inputs are (query_id, id_col, ...) neighbor lists (the
    shape every top-k function here returns). Returns one row per
    query: (query_id, n_exact, n_hit, recall) where recall =
    |approx ∩ exact| / |exact|. The join is on (query_id, id) only —
    vectors never move — so auditing recall over millions of queries
    costs one small equi-join. This is the quantified quality signal
    approximate ANN paths need next to their latency numbers."""
    e = exact.select("query_id", F.col(id_col).alias("__nb"))
    a = approx.select("query_id", F.col(id_col).alias("__nb"))
    hits = e.join(a, on=["query_id", "__nb"], how="left_semi")
    n_exact = e.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    n_hit = hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        n_exact.join(n_hit, on="query_id", how="left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            F.round(
                F.coalesce("n_hit", F.lit(0)) / F.col("n_exact"), 6
            ).alias("recall"),
        )
        .orderBy("query_id")
    )


def embedding_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label centroid of an embedding column, one row per
    (label, dimension): (label, pos, n_vecs, mean_v). The long
    shape — rather than re-assembling an array — is deliberate:
    it value-checks in plain SQL and feeds straight into centroid
    audits (drift between two pipeline runs, IVF coarse-quantizer
    sanity) as a join on (label, pos).

    Scale: posexplode fans each vector into dim rows, but the
    aggregate is map-side partial on (label, pos), so the shuffle
    carries ≤ |labels| × dim partial sums per task — independent of
    corpus size. No driver collect, no Python."""
    ex = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("pos", "val"),
    )
    return (
        ex.groupBy("label", "pos")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.round(F.avg("val"), 6).alias("mean_v"),
        )
        .select(
            "label", F.col("pos").cast("int").alias("pos"),
            "n_vecs", "mean_v",
        )
    )


def cosine_near_dup_pairs_lsh(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_cols: list[str] | None = None,
    threshold: float = 0.9,
    num_planes: int = 8,
    num_tables: int = 12,
    ndigits: int = 8,
) -> DataFrame:
    """Embedding near-duplicate pairs with hyperplane-LSH blocking —
    the scale path for :func:`cosine_near_dup_pairs`, whose
    attribute blocking (label, cluster) goes quadratic as blocks
    grow linearly with the corpus (measured 38× time at 10× data on
    the sf1 replica). Here candidates must collide in at least one
    of ``num_tables`` sign-hash buckets, so candidate work tracks
    bucket sizes (corpus/2^num_planes expected), not block sizes;
    every candidate's cosine is verified exactly, making the result
    a subset of the exact pair set with per-pair values identical.
    Recall for a pair at cosine c is 1-(1-p^planes)^tables with
    p = 1-acos(c)/π (≈0.98 at c=0.9 with 8 planes × 12 tables) —
    unit-audited against the exact path.

    Plan shape: one numpy GEMM per Arrow batch emits (id, table,
    bucket) — 16-byte rows, vectors DON'T ride through the bucket
    self-join; they join back only for the surviving candidate
    pairs. ``block_cols`` (optional) intersects attribute blocking
    with the LSH buckets (e.g. near-dups only within a language)."""
    blocks = list(block_cols or [])
    bp = _lsh_planes(df, dim, num_tables, num_planes)
    block_schema = "".join(
        f"{c} {t}, " for c, t in df.select(*blocks, id_col).dtypes[:-1]
    )
    sig = pin_now(spread_arrow(
        df.select(*blocks, F.col(id_col), F.col(vec_col)), id_col
    ).mapInPandas(
        partial(_lsh_kernel, bp, vec_col, (*blocks, id_col), num_tables,
                num_planes),
        schema=f"{block_schema}{id_col} long, table int, bucket int",
    ))  # both self-join sides read it — one
    # kernel execution, not two concurrent ones (r12, guide §7.2)
    return _block_pairs(
        sig, [*blocks, "table", "bucket"], df, id_col, vec_col, threshold,
        ndigits,
    )


def cosine_near_dup_pairs_ivf(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_cols: list[str] | None = None,
    threshold: float = 0.3,
    n_centroids: int = 16,
    n_assign: int = 2,
    train_limit: int = 4096,
    ndigits: int = 8,
) -> DataFrame:
    """Embedding near-duplicate pairs with IVF-cell blocking — the
    scale path for MODERATE thresholds, where hyperplane LSH has no
    good operating point (at cos≈0.4 a sign-bit agrees for a true
    pair with p≈0.63, so enough planes to shrink buckets destroys
    recall; see :func:`cosine_near_dup_pairs_lsh`, which is the
    right tool at cos≥0.9). Each vector is assigned to its
    ``n_assign`` nearest coarse-quantizer cells; a pair is a
    candidate iff the two vectors share a cell (optionally
    intersected with ``block_cols`` attribute blocking), then every
    candidate's cosine is verified exactly — returned pairs are a
    subset of the exact pair set with identical values, and recall
    is measurable with the same audit join as the top-k paths.

    Scale: quantizer training collects a bounded sample
    (``train_limit`` rows, memoized); assignment is one GEMM per
    Arrow batch; the self-join moves (block, cell, id) rows only —
    candidate work is Σ_cell |cell|² ≈ n²·n_assign²/n_centroids, a
    1/n_centroids cut that deepens as the quantizer grows with the
    corpus (n_centroids ~ √n is the IVF norm)."""
    blocks = list(block_cols or [])
    train = _train_sample(df, id_col, vec_col, train_limit)
    bc = df.sparkSession.sparkContext.broadcast(
        _train_centroids_kmeans_cached(train, n_centroids)
    )
    block_schema = "".join(
        f"{c} {t}, " for c, t in df.select(*blocks, id_col).dtypes[:-1]
    )
    sig = pin_now(spread_arrow(
        df.select(*blocks, F.col(id_col), F.col(vec_col)), id_col
    ).mapInPandas(
        partial(_cell_kernel, bc, vec_col, (*blocks, id_col), "cell",
                n_assign),
        schema=f"{block_schema}{id_col} long, cell int",
    ))  # both self-join sides read it — one
    # kernel execution, not two concurrent ones (r12, guide §7.2)
    return _block_pairs(
        sig, [*blocks, "cell"], df, id_col, vec_col, threshold, ndigits
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage/transfer
    compression step of an embedding pipeline (4× smaller than
    float32; dot products on int8 with a per-vector scale recover
    cosine to ~1e-2). Each vector is scaled by its max |component|:

      ``scale``  — max_i |v_i| (dequantize: v_i ≈ scale · q_i / 127)
      ``q``      — round(127 · v_i / scale) per component, in [-127, 127]

    Rounding is ``floor(x + 0.5)`` — explicit half-up, bit-identical
    in any engine (library ``round`` half-even/half-away variants
    disagree on exact .5 ties). All-zero vectors quantize to zeros
    with scale 0. Pure projection: no shuffle, no UDF — float→double
    promotion is exact, so the arithmetic is reproducible anywhere
    IEEE doubles are."""
    v = F.col(vec_col)
    scale = F.array_max(F.transform(v, lambda x: F.abs(x))).cast(
        "double"
    )
    q = F.when(
        scale > 0,
        F.transform(
            v,
            lambda x: F.floor(
                F.lit(127.0) * x.cast("double") / F.col("__scale") + 0.5
            ).cast("int"),
        ),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return (
        df.select(F.col(id_col), v, scale.alias("__scale"))
        .select(
            id_col,
            F.round(F.col("__scale"), 6).alias("scale"),
            q.alias("__q"),
        )
        .select(id_col, "scale", F.to_json("__q").alias("q"))
    )


_TRAIN_CACHE: dict[tuple, object] = {}

# The (m, ksub) / n_cells parameter sets of every REGISTERED PQ/IVF
# query (plans/extension_queries.py imports these for its
# registrations, and warm_pq_training's defaults derive from them):
# a future PQ query that registered with new literals would silently
# fall back to absorbing codebook training in its first run,
# reintroducing the cold/warm bench skew warm_pq_training exists to
# remove. One constant, two importers, plus a pytest
# (tests/test_similarity.py test_warm_pq_training_covers_registered_
# pq_queries) asserting the warmed set covers every registered query.
PQ_PARAMS_MAIN: tuple[int, int] = (32, 256)   # pq_adc / ivfpq codes
PQ_PARAMS_RERANK: tuple[int, int] = (16, 64)  # pq_rerank shortlist
REGISTERED_PQ_PARAMS: tuple[tuple[int, int], ...] = (
    PQ_PARAMS_MAIN,
    PQ_PARAMS_RERANK,
)
IVF_CELLS_DEFAULT: int = 16
REGISTERED_IVF_CELLS: tuple[int, ...] = (IVF_CELLS_DEFAULT,)


def _sample_digest(vecs) -> str:
    """Cheap identity for a training sample: md5 of the raw float64
    bytes. Training (k-means, PQ codebooks) is a pure function of
    (sample, params), so memoizing on the digest is exact — it cuts
    the repeated driver-side training when the audit query runs
    three PQ pipelines over the same corpus, and across bench
    passes within one session."""
    return hashlib.md5(
        np.asarray(vecs, dtype=np.float64).tobytes()
    ).hexdigest()


def _train_pq_codebooks_cached(vecs, m: int, ksub: int, iters: int = 8):
    key = ("pq", _sample_digest(vecs), m, ksub, iters)
    if key not in _TRAIN_CACHE:
        _TRAIN_CACHE[key] = _train_pq_codebooks(vecs, m, ksub, iters)
    return _TRAIN_CACHE[key]


def _train_centroids_kmeans_cached(vecs, n_centroids: int, iters: int = 5):
    key = ("ivf", _sample_digest(vecs), n_centroids, iters)
    if key not in _TRAIN_CACHE:
        _TRAIN_CACHE[key] = _train_centroids_kmeans(
            vecs, n_centroids, iters
        )
    return _TRAIN_CACHE[key]


def warm_pq_training(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_limit: int = 4096,
    pq_params: tuple = REGISTERED_PQ_PARAMS,
    ivf_cells: tuple = REGISTERED_IVF_CELLS,
) -> int:
    """Populate the driver-side training memo on ``corpus``'s
    training sample (``_train_sample``, the recipe every trainer
    here uses, so the cache keys match exactly): PQ codebooks for
    each (m, ksub) in ``pq_params`` (``pq_adc_topk``,
    ``pq_rerank_topk``, ``ivfpq_topk``) and k-means centroids for
    each cell count in ``ivf_cells`` — the coarse quantizer of
    ``ivf_cosine_topk``, ``cosine_near_dup_pairs_ivf`` and
    ``ivfpq_topk`` alike. Exists so a bench can time one-time
    training as its OWN entry — the doc_cluster_build honesty rule:
    the first PQ query in a cold session otherwise absorbs training
    (measured at sf1: 75.0 s cold vs 9.7 s warm for ivfpq) and its
    per-query number overstates the steady state. Returns how many
    cache entries were built (0 when already warm)."""
    train = _train_sample(corpus, id_col, vec_col, train_limit)
    before = len(_TRAIN_CACHE)
    for m, ksub in pq_params:
        _train_pq_codebooks_cached(train, m=m, ksub=ksub)
    for n_cells in ivf_cells:
        _train_centroids_kmeans_cached(train, n_cells)
    return len(_TRAIN_CACHE) - before


def _train_pq_codebooks(vecs, m: int, ksub: int, iters: int = 8):
    """Driver-side product-quantizer training (Jégou et al. 2011):
    unit-normalize the sample, split the dimension into ``m``
    contiguous subspaces, and run an L2 k-means per subspace.
    Deterministic: init is the first ``ksub`` distinct subvectors
    (sample order is the caller's orderBy(id).limit), empty cells
    keep their previous centroid. Returns (m, ksub, dsub) float64.

    Like IVF training, quantizer quality needs only a sample — the
    cost is independent of corpus size."""
    mat = _unit(np.asarray(vecs, dtype=np.float64))
    dim = mat.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    books = np.zeros((m, ksub, dsub))
    for j in range(m):
        sub = mat[:, j * dsub : (j + 1) * dsub]
        # distinct-first deterministic init
        _, first = np.unique(sub, axis=0, return_index=True)
        init = sub[np.sort(first)][:ksub]
        cent = np.zeros((ksub, dsub))
        cent[: len(init)] = init
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for c in range(ksub):
                members = sub[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books[j] = cent
    return books


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    train_limit: int = 4096,
    ndigits: int = 6,
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (ADC) — the memory-compression scale path next to IVF's
    list-pruning one:

    1. train ``m`` per-subspace codebooks on a bounded,
       deterministic sample (driver numpy, corpus-size-independent);
    2. encode every corpus vector distributed (Arrow-batched argmin
       per subspace) into ``m`` byte codes — dim×4 bytes collapse to
       m bytes, the representation that lets 100 TB of float
       embeddings live in cluster memory; only (id, codes) ever
       shuffles, never vectors;
    3. score queries against codes via lookup tables: each query
       precomputes its subvector·centroid dot products (m×ksub
       doubles), so the approximate cosine of a corpus item is m
       table lookups + a sum — no float vectors touched at scan
       time. Per-batch local top-k bounds the exchange to
       batches×|queries|×k rows, then a global window ranks.

    Vectors are unit-normalized on both sides, so the summed table
    lookups approximate cosine directly. Returns (query_id, id, pq_cos,
    rank) — rank by (rounded score desc, id), the house tie-break.
    Approximate by construction (quantization is lossy) → pair with
    the hash-checked recall-floor audit. Equals ``ivfpq_topk`` with
    every cell probed (pytest-asserted)."""
    train = _train_sample(corpus, id_col, vec_col, train_limit)
    books = _train_pq_codebooks_cached(train, m=m, ksub=ksub)
    tables = corpus.sparkSession.sparkContext.broadcast(
        _query_tables(queries, id_col, vec_col, books)
    )
    encoded = _pq_codes(
        spread_arrow(corpus.select(id_col, vec_col), id_col),
        id_col, vec_col, books,
    )
    return _adc_topk(encoded, tables, id_col, k, ndigits)


def pq_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    shortlist: int = 50,
    m: int = 16,
    ksub: int = 64,
    train_limit: int = 4096,
    ndigits: int = 8,
) -> DataFrame:
    """PQ shortlist + exact re-rank — the production two-stage ANN
    shape: ADC scans the compressed codes for a ``shortlist`` of
    candidates per query (memory-bound stage: m-byte codes, no float
    vectors), then ONLY those candidates' float vectors are fetched
    (an equi-join on id — |queries|×shortlist rows, corpus-size-
    independent) and re-scored with the exact JVM-side cosine.

    Final ranking quality equals exact search whenever the true
    top-k survives into the shortlist (recall@shortlist, audited by
    the PQ recall-floor query); the exact re-score removes all
    quantization error from the RETURNED scores, so downstream
    thresholds see true cosines. Same output contract as the other
    top-k paths: (query_id, id, cos, rank), rounded-then-ranked."""
    cands = pq_adc_topk(
        corpus,
        queries,
        id_col=id_col,
        vec_col=vec_col,
        k=shortlist,
        m=m,
        ksub=ksub,
        train_limit=train_limit,
        ndigits=6,
    ).select("query_id", id_col)
    rescored = cands.join(corpus.select(id_col, vec_col), id_col).join(
        F.broadcast(_query_side(queries, id_col, vec_col)), "query_id"
    )
    return _rank_cosine(rescored, id_col, vec_col, k, ndigits)


def hard_negative_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 3,
    ndigits: int = 8,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the top-k most-similar corpus vectors with a DIFFERENT
    label — the near-misses a contrastive loss learns the most from
    (easy negatives are already far; in-label neighbors are
    positives, not negatives).

    Same broadcast nested-loop shape as the exact top-k (query set
    broadcasts, corpus streams once, zero corpus shuffle); the label
    test rides the same filter as the self-exclusion. At scale the
    corpus side swaps for any ANN path here (PQ shortlist, IVF
    probe) with the label filter applied AFTER candidate fetch —
    candidates with matching labels just fall out.

    Returns (query_id, query_label, vec_id, neg_label, cos, rank)."""
    q = _query_side(
        queries, id_col, vec_col, F.col(label_col).alias("query_label")
    )
    c = spread(
        corpus.select(F.col(id_col), F.col(vec_col), F.col(label_col)),
        id_col,
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(
            (F.col(id_col) != F.col("query_id"))
            & (F.col(label_col) != F.col("query_label"))
        )
        .select(
            "query_id",
            "query_label",
            id_col,
            F.col(label_col).alias("neg_label"),
            F.round(cosine(F.col("q_vec"), F.col(vec_col)), ndigits).alias(
                "cos"
            ),
        )
    )
    return topk_per_group(
        scored,
        ["query_id"],
        [F.col("cos").desc(), F.col(id_col)],
        k,
    ).select("query_id", "query_label", id_col, "neg_label", "cos", "rank")


def embedding_outlier_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
    ndigits: int = 6,
) -> DataFrame:
    """Per-label embedding outliers: the k vectors FARTHEST from
    their label's centroid — mislabeled/garbage-embedding candidates
    a curation pass reviews first.

    Two partial aggs, no pairwise work: (1) per-(label, dim) means
    via posexplode (shuffle carries |labels|×dim partial sums,
    corpus-size-independent); (2) each vector's squared distance to
    its own centroid, summed per row after a broadcast join of the
    tiny centroid table back onto the exploded stream. Centroid
    means are rounded to 6 dp BEFORE the distance (pins the value
    against sum-order ulp drift in any engine), distances rounded
    before ranking — the same rounded-then-ranked discipline as the
    top-k family. Returns (label, id, dist, rank)."""
    ex = df.select(
        F.col(id_col), F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("pos", "val"),
    )
    cent = (
        ex.groupBy("label", "pos")
        .agg(F.round(F.avg("val"), 6).alias("c"))
    )
    dist = (
        ex.join(F.broadcast(cent), ["label", "pos"])
        .groupBy("label", F.col(id_col))
        .agg(
            F.round(
                F.sqrt(
                    F.sum(
                        (F.col("val").cast("double") - F.col("c"))
                        * (F.col("val").cast("double") - F.col("c"))
                    )
                ),
                ndigits,
            ).alias("dist")
        )
    )
    return topk_per_group(
        dist,
        ["label"],
        [F.col("dist").desc(), F.col(id_col)],
        k,
    ).select("label", id_col, "dist", "rank")


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 16,
    ksub: int = 64,
    train_limit: int = 4096,
    ndigits: int = 6,
) -> DataFrame:
    """IVF-PQ: coarse cell pruning composed with PQ code scoring —
    the FAISS IVFPQ architecture, and the shape a 100 TB ANN
    deployment actually runs. IVF cuts WHICH vectors are scored
    (~n_probe/n_cells of the corpus: a query scores only the rows
    of its probed cells); PQ cuts WHAT is scored (m-byte codes via
    broadcast lookup tables, no float vectors at scan time). The two
    valves are independent, so the scan cost drops multiplicatively.

    This is the no-residual variant (codes quantize the normalized
    vector itself, not x − centroid): one global codebook set keeps
    the query LUT |Q|×m×ksub instead of |Q|×n_probe×m×ksub, at a
    small recall cost that the shared recall-floor audit prices.
    Training (coarse centroids + codebooks) is driver-side numpy on
    one bounded deterministic sample; everything distributed is
    Arrow-batched. Returns (query_id, id, pq_cos, rank)."""
    train = _train_sample(corpus, id_col, vec_col, train_limit)
    coarse = _train_centroids_kmeans_cached(train, n_cells)
    books = _train_pq_codebooks_cached(train, m=m, ksub=ksub)
    tables = corpus.sparkSession.sparkContext.broadcast(
        _query_tables(queries, id_col, vec_col, books, coarse, n_probe)
    )
    encoded = _pq_codes(
        spread_arrow(corpus.select(id_col, vec_col), id_col),
        id_col, vec_col, books, coarse,
    )
    return _adc_topk(encoded, tables, id_col, k, ndigits)
