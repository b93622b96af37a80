from __future__ import annotations

import math

from pyspark.sql import functions as F

from big_data_processing_spark.functions.similarity import (
    brute_force_cosine_topk,
    cosine,
    lsh_cosine_topk,
)


def _vec_df(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.01, 0.0]),   # nearly parallel to 0
        (2, [0.0, 1.0, 0.0]),    # orthogonal to 0
        (3, [-1.0, 0.0, 0.0]),   # opposite to 0
        (4, [1.0, 1.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_values(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [0.0, 1.0]), ([1.0, 1.0], [1.0, 1.0]),
         ([1.0, 2.0], [2.0, 3.0])],
        "a array<float>, b array<float>",
    )
    got = [r.c for r in df.select(cosine(F.col("a"), F.col("b")).alias("c")).collect()]
    assert got[0] == 0.0
    assert abs(got[1] - 1.0) < 1e-12
    assert abs(got[2] - 8 / (math.sqrt(5) * math.sqrt(13))) < 1e-12


def test_cosine_zero_vector_safe(spark):
    df = spark.createDataFrame(
        [([0.0, 0.0], [1.0, 1.0])], "a array<float>, b array<float>"
    )
    assert df.select(cosine(F.col("a"), F.col("b")).alias("c")).collect()[0].c == 0.0


def test_brute_force_topk_ordering_and_self_exclusion(spark):
    df = _vec_df(spark)
    queries = df.filter(F.col("vec_id") == 0)
    out = brute_force_cosine_topk(df, queries, k=4).collect()
    ids = [r.vec_id for r in out]
    assert ids[0] == 1          # nearest: nearly parallel
    assert ids[-1] == 3         # farthest: opposite
    assert 0 not in ids         # no self-match
    assert [r.rank for r in out] == [1, 2, 3, 4]


def test_lsh_topk_subset_of_bucket(spark):
    df = _vec_df(spark)
    queries = df.filter(F.col("vec_id") == 0)
    out = lsh_cosine_topk(df, queries, dim=3, k=4, num_planes=2).collect()
    assert all(r.query_id == 0 and r.vec_id != 0 for r in out)
    # approximate: results are a subset of the exact candidate set
    assert {r.vec_id for r in out} <= {1, 2, 3, 4}


def test_blas_topk_agrees_with_jvm_topk(spark):
    from big_data_processing_spark.functions.similarity import (
        brute_force_cosine_topk,
        brute_force_cosine_topk_pandas,
    )
    from big_data_processing_spark.sources.catalog import load_table
    from tests.conftest import SF0001

    emb = load_table(spark, SF0001, "embeddings")
    queries = emb.filter("vec_id < 3")
    jvm = brute_force_cosine_topk(emb, queries, k=4).collect()
    blas = brute_force_cosine_topk_pandas(emb, queries, k=4).collect()
    # identical neighbor sets and ranks; cosine values agree to 1e-9
    # (numpy pairwise summation vs sequential JVM fold may differ in
    # the last ulp, which is why the BLAS path isn't oracle-hashed)
    jvm_m = {(r.query_id, r["rank"]): (r.vec_id, r.cos) for r in jvm}
    blas_m = {(r.query_id, r["rank"]): (r.vec_id, r.cos) for r in blas}
    assert jvm_m.keys() == blas_m.keys()
    for key, (vid, cos) in jvm_m.items():
        bvid, bcos = blas_m[key]
        assert bvid == vid
        assert abs(bcos - cos) < 1e-9


def test_ivf_topk_structure_and_recall(spark):
    from big_data_processing_spark.functions.similarity import (
        brute_force_cosine_topk,
        ivf_cosine_topk,
    )
    from big_data_processing_spark.sources.catalog import load_table
    from tests.conftest import SF0001

    emb = load_table(spark, SF0001, "embeddings")
    queries = emb.filter("vec_id < 3")
    exact = brute_force_cosine_topk(emb, queries, k=3).collect()
    ivf = ivf_cosine_topk(
        emb, queries, k=3, n_centroids=8, n_probe=4
    ).collect()

    by_q = {}
    for r in ivf:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rows in by_q.items():
        ranks = sorted(r["rank"] for r in rows)
        assert ranks == list(range(1, len(rows) + 1))
        assert all(r.vec_id != qid for r in rows)

    # probing half the lists on clustered synthetic data should
    # recover a meaningful share of the true neighbors
    exact_set = {(r.query_id, r.vec_id) for r in exact}
    ivf_set = {(r.query_id, r.vec_id) for r in ivf}
    recall = len(exact_set & ivf_set) / len(exact_set)
    assert recall >= 0.4, recall


def test_ivf_full_probe_equals_exact(spark):
    from big_data_processing_spark.functions.similarity import (
        brute_force_cosine_topk,
        ivf_cosine_topk,
    )
    from big_data_processing_spark.sources.catalog import load_table
    from tests.conftest import SF0001

    emb = load_table(spark, SF0001, "embeddings")
    queries = emb.filter("vec_id < 2")
    exact = brute_force_cosine_topk(emb, queries, k=3).collect()
    full = ivf_cosine_topk(
        emb, queries, k=3, n_centroids=4, n_probe=4
    ).collect()
    assert {(r.query_id, r.vec_id, r["rank"]) for r in full} == {
        (r.query_id, r.vec_id, r["rank"]) for r in exact
    }


def test_multi_table_lsh_recall(spark):
    """Multi-table LSH must recover a meaningful share of true
    neighbors even on this near-uniform corpus (single-table
    hyperplane LSH measured ~0.02 recall here — the any-of-L union
    is what makes the method usable)."""
    from big_data_processing_spark.functions.similarity import (
        brute_force_cosine_topk,
        lsh_cosine_topk,
    )
    from big_data_processing_spark.sources.catalog import load_table
    from tests.conftest import SF0001

    emb = load_table(spark, SF0001, "embeddings")
    q = emb.filter("vec_id < 10")
    exact = {
        (r.query_id, r.vec_id)
        for r in brute_force_cosine_topk(emb, q, k=5).collect()
    }
    approx = {
        (r.query_id, r.vec_id)
        for r in lsh_cosine_topk(
            emb, q, dim=64, k=5, num_planes=4, num_tables=8
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall


def test_ann_recall_audit_floor(spark):
    """The in-engine recall audit: DataFrame recall@k of LSH and IVF
    vs exact, with a >=0.8 average floor at current params."""
    from big_data_processing_spark.functions.similarity import (
        ann_recall,
        brute_force_cosine_topk,
        ivf_cosine_topk,
        lsh_cosine_topk,
    )
    from big_data_processing_spark.sources.catalog import load_table
    from tests.conftest import SF0001

    emb = load_table(spark, SF0001, "embeddings")
    q = emb.filter("vec_id < 5")
    exact = brute_force_cosine_topk(emb, q, k=5)
    # floors per method at the registered params (measured 0.88 /
    # 0.76 at sf0.001): IVF probes 1/4 of centroids; multi-table
    # LSH with 8 tables matches its existing >=0.5 recall test
    cases = [
        (
            lsh_cosine_topk(emb, q, dim=64, k=5, num_planes=4, num_tables=8),
            0.5,
        ),
        (ivf_cosine_topk(emb, q, k=5, n_centroids=16, n_probe=4), 0.8),
    ]
    for approx, floor in cases:
        rows = ann_recall(exact, approx).collect()
        assert len(rows) == 5
        for r in rows:
            assert r.n_exact == 5
            assert 0 <= r.n_hit <= 5
            assert abs(r.recall - r.n_hit / r.n_exact) < 1e-6
        avg = sum(r.recall for r in rows) / len(rows)
        assert avg >= floor, (avg, floor)


def test_ann_recall_handles_zero_hits(spark):
    from pyspark.sql import functions as F

    from big_data_processing_spark.functions.similarity import ann_recall

    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20)], "query_id long, vec_id long"
    )
    approx = spark.createDataFrame(
        [(1, 10), (1, 99)], "query_id long, vec_id long"
    )
    got = {r.query_id: (r.n_hit, r.recall) for r in ann_recall(exact, approx).collect()}
    assert got[1] == (1, 0.5)
    assert got[2] == (0, 0.0)


def test_embedding_centroids_exact(spark):
    from big_data_processing_spark.functions.similarity import (
        embedding_centroids,
    )

    df = spark.createDataFrame(
        [
            (1, 0, [1.0, 2.0]),
            (2, 0, [3.0, 6.0]),
            (3, 1, [10.0, 0.0]),
        ],
        "vec_id long, label int, embedding array<float>",
    )
    got = {
        (r.label, r.pos): (r.n_vecs, r.mean_v)
        for r in embedding_centroids(df).collect()
    }
    assert got == {
        (0, 0): (2, 2.0),
        (0, 1): (2, 4.0),
        (1, 0): (1, 10.0),
        (1, 1): (1, 0.0),
    }


def test_cosine_near_dup_lsh_planted_dups(spark):
    """At the high thresholds LSH is built for, planted near-dup
    pairs are recovered with the predicted recall and every
    returned pair matches the exact path's value."""
    import numpy as np

    from big_data_processing_spark.functions.similarity import (
        cosine_near_dup_pairs,
        cosine_near_dup_pairs_lsh,
    )

    rng = np.random.default_rng(11)
    rows = []
    vid = 0
    for _ in range(40):  # 40 planted pairs of highly-similar vectors
        v = rng.normal(size=16)
        w = v + rng.normal(scale=0.05, size=16)  # cos ≈ 0.998
        rows.append((vid, [float(x) for x in v])); vid += 1
        rows.append((vid, [float(x) for x in w])); vid += 1
    for _ in range(120):  # unrelated noise
        rows.append((vid, [float(x) for x in rng.normal(size=16)])); vid += 1
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).withColumn("blk", F.lit(0))

    exact = {
        (r.id_a, r.id_b): r.cos
        for r in cosine_near_dup_pairs(
            df, ["blk"], "vec_id", "embedding", threshold=0.9
        ).collect()
    }
    approx = {
        (r.id_a, r.id_b): r.cos
        for r in cosine_near_dup_pairs_lsh(
            df, dim=16, id_col="vec_id", vec_col="embedding",
            threshold=0.9, num_planes=8, num_tables=12,
        ).collect()
    }
    assert set(approx) <= set(exact)
    for p, c in approx.items():
        assert c == exact[p]
    # theoretical recall at cos≈0.99 is >0.999; allow slack
    assert len(approx) >= 0.9 * len(exact) > 0


def test_cosine_near_dup_ivf_subset_and_recall(spark):
    from big_data_processing_spark.functions.similarity import (
        cosine_near_dup_pairs,
        cosine_near_dup_pairs_ivf,
    )
    from big_data_processing_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    exact = {
        (r.id_a, r.id_b): r.cos
        for r in cosine_near_dup_pairs(
            emb, ["label"], "vec_id", "embedding", threshold=0.3
        ).collect()
    }
    approx = {
        (r.id_a, r.id_b): r.cos
        for r in cosine_near_dup_pairs_ivf(
            emb, "vec_id", "embedding", ["label"], threshold=0.3
        ).collect()
    }
    assert set(approx) <= set(exact)
    for p, c in approx.items():
        assert c == exact[p]
    assert len(exact) > 0
    recall = len(approx) / len(exact)
    assert recall >= 0.5, f"recall {recall}"


def test_pq_adc_topk_contract(spark):
    """PQ/ADC: codes are m symbols < ksub, output shape matches the
    other top-k paths, recall clears the audit floor, and a planted
    exact-duplicate query retrieves its twin first."""
    from pyspark.sql import functions as F

    from big_data_processing_spark.functions.similarity import (
        ann_recall,
        brute_force_cosine_topk,
        pq_adc_topk,
        pq_rerank_topk,
    )
    from big_data_processing_spark.sources.catalog import load_table
    from tests.conftest import SF0001

    emb = load_table(spark, SF0001, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_cosine_topk(emb, queries, k=5)
    adc = pq_adc_topk(emb, queries, k=5, m=32, ksub=256)
    rows = adc.collect()
    assert {r.rank for r in rows} <= {1, 2, 3, 4, 5}
    assert all(r.query_id != r.vec_id for r in rows)
    r1 = (
        ann_recall(exact, adc).agg(F.avg("recall")).collect()[0][0]
    )
    assert r1 >= 0.75, f"ADC recall {r1}"
    rerank = pq_rerank_topk(emb, queries, k=5, shortlist=50, m=16, ksub=64)
    r2 = (
        ann_recall(exact, rerank).agg(F.avg("recall")).collect()[0][0]
    )
    assert r2 >= 0.95, f"rerank recall {r2}"
    # re-ranked scores are TRUE cosines: every returned (q, id, cos)
    # appears in the exact all-pairs scoring with the same value
    exact50 = {
        (r.query_id, r.vec_id): r.cos
        for r in brute_force_cosine_topk(emb, queries, k=50).collect()
    }
    for r in rerank.collect():
        if (r.query_id, r.vec_id) in exact50:
            assert abs(r.cos - exact50[(r.query_id, r.vec_id)]) < 1e-9
    # deterministic under repartition
    again = pq_adc_topk(
        emb.repartition(7), queries, k=5, m=32, ksub=256
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_pq_codebook_training_deterministic():
    import numpy as np

    from big_data_processing_spark.functions.similarity import (
        _train_pq_codebooks,
    )

    rng = np.random.RandomState(3)
    vecs = rng.randn(200, 64).astype("float32")
    a = _train_pq_codebooks(list(vecs), m=8, ksub=16)
    b = _train_pq_codebooks(list(vecs), m=8, ksub=16)
    assert np.array_equal(a, b)
    assert a.shape == (8, 16, 8)
    import pytest

    with pytest.raises(ValueError):
        _train_pq_codebooks(list(vecs), m=7, ksub=16)


def test_hard_negative_mining_label_contract(spark):
    """Every mined negative has a different label from its query,
    and is the nearest such vector (spot-check vs exact scan)."""
    from pyspark.sql import functions as F

    from big_data_processing_spark.functions.similarity import (
        brute_force_cosine_topk,
        hard_negative_topk,
    )
    from big_data_processing_spark.sources.catalog import load_table
    from tests.conftest import SF0001

    emb = load_table(spark, SF0001, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = hard_negative_topk(emb, queries, k=3).collect()
    assert out and all(r.query_label != r.neg_label for r in out)
    assert all(r.query_id != r.vec_id for r in out)
    # rank-1 negative == first different-label row of the exact
    # full ranking
    labels = {r.vec_id: r.label for r in emb.collect()}
    exact = brute_force_cosine_topk(emb, queries, k=1000).collect()
    best = {}
    for r in sorted(exact, key=lambda r: (r.query_id, r.rank)):
        q = r.query_id
        if q not in best and labels[r.vec_id] != labels[q]:
            best[q] = r.vec_id
    got = {r.query_id: r.vec_id for r in out if r.rank == 1}
    assert got == best


def test_embedding_outlier_topk_contract(spark):
    """A planted far-away vector is the rank-1 outlier of its label;
    k bounds per label hold."""
    import numpy as np
    from pyspark.sql import functions as F

    from big_data_processing_spark.functions.similarity import (
        embedding_outlier_topk,
    )

    rng = np.random.RandomState(7)
    rows = [
        (int(i), [float(x) for x in rng.randn(8) * 0.1], int(i % 2))
        for i in range(40)
    ]
    rows.append((999, [50.0] * 8, 0))  # planted outlier, label 0
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = embedding_outlier_topk(emb, k=3).collect()
    per_label = {}
    for r in out:
        per_label.setdefault(r.label, []).append(r)
    assert all(len(v) <= 3 for v in per_label.values())
    top0 = min(per_label[0], key=lambda r: r.rank)
    assert top0.vec_id == 999 and top0.rank == 1
    assert all(r.dist >= 0 for r in out)


def test_ivfpq_topk_contract(spark):
    """IVF-PQ composition: output shape, self-exclusion, recall
    floor, determinism under repartition."""
    from pyspark.sql import functions as F

    from big_data_processing_spark.functions.similarity import (
        ann_recall,
        brute_force_cosine_topk,
        ivfpq_topk,
    )
    from big_data_processing_spark.sources.catalog import load_table
    from tests.conftest import SF0001

    emb = load_table(spark, SF0001, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_cosine_topk(emb, queries, k=5)
    a = ivfpq_topk(
        emb, queries, k=5, n_cells=16, n_probe=4, m=32, ksub=256
    )
    rows = a.collect()
    assert rows and all(r.query_id != r.vec_id for r in rows)
    assert {r.rank for r in rows} <= {1, 2, 3, 4, 5}
    r = ann_recall(exact, a).agg(F.avg("recall")).collect()[0][0]
    assert r >= 0.6, f"ivfpq recall {r}"
    # full probe (n_probe = n_cells) must dominate restricted probe
    full = ivfpq_topk(
        emb, queries, k=5, n_cells=16, n_probe=16, m=32, ksub=256
    )
    rf = ann_recall(exact, full).agg(F.avg("recall")).collect()[0][0]
    assert rf >= r
    again = ivfpq_topk(
        emb.repartition(5), queries, k=5, n_cells=16, n_probe=4,
        m=32, ksub=256,
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_warm_pq_training_covers_registered_pq_queries(spark, monkeypatch):
    """warm_pq_training's default parameter sets (the shared
    REGISTERED_PQ_PARAMS / REGISTERED_IVF_CELLS constants the plan
    registrations import) must cover EVERY registered query that
    trains a PQ codebook or an IVF quantizer: after warming,
    executing each query adds zero training cache entries and never
    calls a raw trainer (a query that bypassed the memo would retrain
    on every call, and the warm entry would never serve it). A new
    query registered with literals outside the shared constants
    would fail here — the guard against silently reintroducing the
    cold/warm bench skew the pq_train build entry exists to
    remove."""
    from big_data_processing_spark.functions import similarity
    from big_data_processing_spark.plans.registry import SPECS
    from big_data_processing_spark.sources.catalog import load_table
    from tests.conftest import SF0001

    similarity.warm_pq_training(load_table(spark, SF0001, "embeddings"))
    before = len(similarity._TRAIN_CACHE)
    calls = []
    for trainer in ("_train_centroids_kmeans", "_train_pq_codebooks"):
        raw = getattr(similarity, trainer)

        def counted(*args, _raw=raw, _name=trainer, **kwargs):
            calls.append(_name)
            return _raw(*args, **kwargs)

        monkeypatch.setattr(similarity, trainer, counted)
    for name in (
        "cosine_topk_pq",
        "cosine_topk_pq_rerank",
        "cosine_topk_ivfpq",
        "pq_recall_floor_audit",
        "cosine_topk_ivf",
        "cosine_topk_ivf_fullprobe",
        "embedding_near_dup_ivf",
        "ann_recall_audit",
        "ann_recall_floor_audit",
    ):
        SPECS[name].fn(spark, SF0001).count()
        assert len(similarity._TRAIN_CACHE) == before, (
            f"{name} trained outside the warmed parameter sets"
        )
        assert not calls, f"{name} bypassed the training memo: {calls}"


def test_pq_adc_equals_full_probe_ivfpq(spark):
    """Plain PQ and IVF-PQ share one ADC score kernel (no-probe vs
    probe mode). Probing every cell scores every row once with the
    same codes and tables, so the two modes must return the same
    rows — the oracle gate checks these queries by row count only."""
    from big_data_processing_spark.functions.similarity import (
        ivfpq_topk,
        pq_adc_topk,
    )
    from big_data_processing_spark.sources.catalog import load_table
    from tests.conftest import SF0001

    emb = load_table(spark, SF0001, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    adc = pq_adc_topk(emb, queries, k=5, m=32, ksub=256).collect()
    full = ivfpq_topk(
        emb, queries, k=5, n_cells=16, n_probe=16, m=32, ksub=256
    ).collect()
    assert len(adc) == 25
    assert sorted(map(tuple, adc)) == sorted(map(tuple, full))


def test_persisted_ann_index_contract(spark, tmp_path):
    """Persisted IVF-PQ index: (1) the serving scan reads only the
    probed cell partitions (PartitionFilters on cell — the IVF
    valve enforced at the file level); (2) a persisted index
    returns exactly what the in-session ivfpq_topk operator would
    at the same training params; (3) extend() appends without
    touching existing codes."""
    from big_data_processing_spark.functions.ann_index import (
        build_ivfpq_index,
        extend_ivfpq_index,
        query_ivfpq_index,
    )
    from big_data_processing_spark.functions.similarity import ivfpq_topk
    from big_data_processing_spark.sources.catalog import load_table
    from tests.conftest import SF0001

    emb = load_table(spark, SF0001, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    path = str(tmp_path / "idx")
    build_ivfpq_index(emb, path)

    out = query_ivfpq_index(spark, path, queries, k=5, n_probe=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan
    insession = ivfpq_topk(
        emb, queries, k=5, n_cells=16, n_probe=4, m=16, ksub=64,
        train_limit=256,
    )
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, insession.collect())
    )

    # extend with synthetic new rows: old ids' codes unchanged,
    # new ids present in the codes table
    n_before = spark.read.parquet(f"{path}/codes").count()
    delta = emb.filter(F.col("vec_id") >= 450).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    extend_ivfpq_index(delta, path)
    codes = spark.read.parquet(f"{path}/codes")
    assert codes.count() == n_before + delta.count()
    assert codes.filter(F.col("vec_id") >= 100000).count() == delta.count()


def test_vector_kernels_pickle_by_value(tmp_path):
    """A session's Python workers import from the driver's working
    directory at session start, which need not be the checkout. The
    vector kernels therefore pickle by value: unpickled in a fresh
    interpreter that cannot import the package, the IVF-PQ encode and
    ADC score kernels run and return what they return in-process."""
    import os
    import subprocess
    import sys
    from functools import partial
    from types import SimpleNamespace

    import numpy as np
    import pandas as pd
    from pyspark import cloudpickle

    from big_data_processing_spark.functions import similarity as S

    rng = np.random.RandomState(5)
    vecs = rng.randn(40, 8)
    books = S._train_pq_codebooks(vecs, m=4, ksub=8)
    coarse = S._train_centroids_kmeans(vecs, 3)
    qids = [0, 1]
    luts = np.einsum(
        "qjd,jcd->qjc", S._unit(vecs[:2]).reshape(2, 4, 2), books
    )
    probes = np.array([[0, 1], [2, 0]])
    encode = partial(
        S._pq_encode, SimpleNamespace(value=(coarse, books)), "vec_id",
        "embedding",
    )
    score = partial(
        S._adc_score, SimpleNamespace(value=(qids, luts, probes)), "vec_id",
        3, 6,
    )
    corpus = pd.DataFrame({"vec_id": range(40), "embedding": list(vecs)})
    want = pd.concat(score(encode([corpus]))).to_json()
    child = (
        "import importlib.util, pickle, sys\n"
        "import pandas as pd\n"
        "assert not importlib.util.find_spec('big_data_processing_spark')\n"
        "encode, score, corpus = pickle.loads(sys.stdin.buffer.read())\n"
        "print(pd.concat(score(encode([corpus]))).to_json())\n"
        "assert not [m for m in sys.modules if m.startswith('big_data')]\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", child],
        input=cloudpickle.dumps((encode, score, corpus)),
        capture_output=True, cwd=tmp_path, env=env, timeout=120,
    )
    assert out.returncode == 0, out.stderr.decode()
    assert out.stdout.decode().strip() == want
