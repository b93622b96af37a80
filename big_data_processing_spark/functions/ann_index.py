"""Persisted, incrementally extensible IVF-PQ ANN index.

The per-session operators (functions/similarity.py ``ivfpq_topk``)
retrain + re-encode per application — right for one-shot analytics,
wrong for the serving/ingest posture where a 100 TB corpus is
indexed ONCE and then grows by deltas. This module writes the
trained artifacts and the codes to parquet and serves queries from
the files:

- ``{path}/artifacts.parquet``  ONE file for all trained artifacts,
                                read back together: the meta row
                                (n_cells, m, ksub, dsub, dim,
                                train_limit), the coarse centroids
                                (kind "cent", j = cell) and the
                                codebooks (kind "book", j, c).
- ``{path}/codes/``             (id, codes array<int>) PARTITIONED BY
                                cell — a query probing n_probe of
                                n_cells cells reads only those
                                partitions (file-level pruning, the
                                same valve IVF applies in memory).

Every numeric stage is the one ``ivfpq_topk`` runs, imported from
``similarity.py``: the training sample and memoized trainers, the PQ
encode kernel, the query tables and the ADC score kernel with its
batch-local cut. Those kernels pickle by value (see
``similarity.py``), so a worker imports neither module.

``extend_ivfpq_index`` encodes ONLY the new rows with the STORED
codebooks (no retraining — quantizer quality needs only the original
bounded sample, and retraining would silently shift every existing
code) and appends them to the cell partitions; it is the batch twin
of the streaming MinHash novelty path. Because encoding is a pure
function of (codebooks, vector), a loaded-and-extended index is
bit-identical to an index rebuilt from the full corpus with the same
training sample — the registered parity row
(``ann_index_persistence_parity``) hash-checks exactly that.

Reference parity: the reference has no ANN at all; this is part of
the LLM-pipeline surface mandated for the Spark engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_processing_spark.functions.similarity import (
    _adc_topk,
    _pq_codes,
    _query_tables,
    _train_centroids_kmeans_cached,
    _train_pq_codebooks_cached,
    _train_sample,
)
from big_data_processing_spark.partitioning import spread


def build_ivfpq_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    m: int = 16,
    ksub: int = 64,
    train_limit: int = 256,
) -> None:
    """Train on the bounded deterministic sample (orderBy(id).limit —
    the house recipe, so the memoized trainers hit), encode the
    whole corpus distributed, and persist all three artifacts.
    Training cost is corpus-size-independent; encode is one linear
    Arrow pass; the codes table shuffles only (id, cell, m bytes)."""
    spark = corpus.sparkSession
    train = _train_sample(corpus, id_col, vec_col, train_limit)
    coarse = _train_centroids_kmeans_cached(train, n_cells)
    books = _train_pq_codebooks_cached(train, m=m, ksub=ksub)
    dsub = books.shape[2]
    # one-slice parallelize: these frames are a handful of KB, but
    # the default createDataFrame parallelism spreads them over
    # defaultParallelism Python-RDD partitions — each a Python
    # worker round-trip — and writes dozens of near-empty files.
    # (coalesce(1) is the WRONG fix: the single task then computes
    # all parent partitions sequentially, one worker handshake each
    # — measured 5 s per tiny write. One slice = one handshake, one
    # file.)
    def _tiny(data, schema):
        return spark.createDataFrame(
            spark.sparkContext.parallelize(data, 1), schema
        )

    # ONE artifact file for meta + coarse centroids + codebooks: the
    # artifacts are read back together (_load_artifacts), and every
    # extra tiny parquet costs a write job at build plus a
    # schema-read and a collect job at each load — this parity
    # query's wall time is almost entirely per-job fixed overhead
    # (~60 driver actions of 0.02-0.6 s, no stage over 1 s).
    meta_row = ("meta", -1, -1, [], n_cells, m, ksub, dsub,
                dsub * m, train_limit)
    cent_rows = [
        ("cent", int(i), -1, [float(x) for x in c], -1, -1, -1, -1,
         -1, -1)
        for i, c in enumerate(coarse)
    ]
    book_rows = [
        ("book", int(j), int(c), [float(x) for x in books[j, c]],
         -1, -1, -1, -1, -1, -1)
        for j in range(m)
        for c in range(ksub)
    ]
    _tiny(
        [meta_row, *cent_rows, *book_rows],
        "kind string, j int, c int, centroid array<double>, "
        "n_cells int, m int, ksub int, dsub int, dim int, "
        "train_limit int",
    ).write.mode("overwrite").parquet(f"{path}/artifacts.parquet")
    # repartition by cell before the partitioned write: without it
    # every encode task opens a file in every cell directory —
    # measured at sf0.1 as 32 tasks × 16 cells = 512 near-empty
    # files per build and an encode+write stage at 52.8 s
    # executorRunTime vs 3.4 s CPU (pure file-open/commit wait).
    # After the narrow (id, cell, m-byte codes) shuffle each cell is
    # written contiguously; AQE sizes the task count from bytes, so
    # a 100 TB corpus still gets many tasks per large cell while a
    # bench-scale build gets few well-filled files.
    _pq_codes(
        spread(corpus.select(id_col, vec_col), id_col), id_col, vec_col,
        books, coarse,
    ).repartition("cell").write.mode("overwrite").partitionBy("cell").parquet(
        f"{path}/codes"
    )


def _load_artifacts(spark: SparkSession, path: str):
    import numpy as np

    rows = spark.read.parquet(f"{path}/artifacts.parquet").collect()
    meta = next(r for r in rows if r["kind"] == "meta")
    coarse = np.zeros((meta["n_cells"], meta["dim"]))
    books = np.zeros((meta["m"], meta["ksub"], meta["dsub"]))
    for r in rows:
        if r["kind"] == "cent":
            coarse[r["j"]] = r["centroid"]
        elif r["kind"] == "book":
            books[r["j"], r["c"]] = r["centroid"]
    return coarse, books


def extend_ivfpq_index(
    delta: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental ingest: encode ONLY the delta rows with the
    stored codebooks (a pure function — existing codes are
    untouched, so extend(build(A), B) ≡ build(A ∪ B) whenever the
    training sample is contained in A) and append them to the cell
    partitions. Cost is linear in the delta, independent of the
    indexed corpus size."""
    coarse, books = _load_artifacts(delta.sparkSession, path)
    _pq_codes(
        spread(delta.select(id_col, vec_col), id_col), id_col, vec_col,
        books, coarse,
    ).repartition("cell").write.mode("append").partitionBy("cell").parquet(
        f"{path}/codes"
    )


def query_ivfpq_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 4,
    ndigits: int = 6,
) -> DataFrame:
    """Serve top-k from the persisted index: probe cells are chosen
    driver-side (|Q|×n_cells is tiny), and the codes scan carries
    ``cell IN (probes)`` so Spark's partition pruning reads ONLY the
    probed cells' files — the IVF valve enforced at the file level,
    visible as PartitionFilters in the plan (pytest-asserted).
    Scoring is the standard ADC lookup-table kernel over the loaded
    codebooks; ranking/tie-break identical to ivfpq_topk, so a
    persisted index returns exactly what the in-session operator
    would."""
    coarse, books = _load_artifacts(spark, path)
    tables = _query_tables(queries, id_col, vec_col, books, coarse, n_probe)
    probe_cells = sorted({int(c) for row in tables[2] for c in row})
    codes = spark.read.parquet(f"{path}/codes").filter(
        F.col("cell").isin(probe_cells)
    )
    return _adc_topk(
        codes, spark.sparkContext.broadcast(tables), id_col, k, ndigits
    )
