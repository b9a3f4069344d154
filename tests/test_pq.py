"""Pins for llm/pq.py (product quantization + ADC + refine)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from dbt_lab_spark.llm.pq import (
    adc_tables,
    pq_adc_knn,
    pq_encode,
    pq_refine,
    pq_train,
)
from dbt_lab_spark.llm.similarity import brute_force_knn


def _corpus(spark, n=400, d=16, seed=6):
    rng = np.random.default_rng(seed)
    x = rng.normal(size=(n, d))
    rows = [(i, [float(v) for v in x[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_adc_equals_distance_to_reconstruction(spark):
    """The load-bearing PQ identity: the ADC table-lookup sum for a
    (query, codes) pair equals the exact L2^2 distance from the
    normalized query to the RECONSTRUCTED vector."""
    df = _corpus(spark)
    cb = pq_train(df, m=4, ks=8, iters=3)
    codes = {r["vec_id"]: np.array(r["codes"]) for r in pq_encode(df, cb).collect()}
    qrows = [(int(r["vec_id"]), np.array(r["embedding"], dtype=np.float64))
             for r in df.limit(3).collect()]
    tabs = adc_tables(qrows, cb)
    for qid, qv in qrows:
        q = qv / np.linalg.norm(qv)
        for vid in list(codes)[:5]:
            c = codes[vid]
            recon = np.concatenate([cb[s, c[s]] for s in range(4)])
            direct = ((q - recon) ** 2).sum()
            adc = tabs[qid][np.arange(4), c].sum()
            assert adc == pytest.approx(direct, abs=1e-12)


def test_pq_shortlist_plus_refine_recall(spark):
    df = _corpus(spark, n=500, d=16, seed=9)
    queries = df.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    corpus = df.filter(F.col("vec_id") >= 5)
    cb = pq_train(corpus, m=4, ks=32, iters=5)
    codes = pq_encode(corpus, cb)
    shortlist = pq_adc_knn(codes, queries, cb, k=50)
    top = pq_refine(shortlist, corpus, queries, k=10)
    exact = brute_force_knn(corpus, queries, k=10)
    p = {(r["query_id"], r["neighbor_id"]) for r in top.collect()}
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    assert len(p & e) / len(e) >= 0.8
    # refine scores are EXACT cosines: agree with brute force on overlap
    tops = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in top.collect()}
    for r in exact.collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in tops:
            assert tops[key] == pytest.approx(r["cosine"], rel=1e-9)


def test_pq_training_reduces_quantization_error(spark):
    df = _corpus(spark, n=300, seed=11)
    def qerr(cb):
        m, ks, dsub = cb.shape
        rows = df.collect()
        x = np.stack([np.array(r["embedding"], dtype=np.float64) for r in rows])
        x = x / np.linalg.norm(x, axis=1, keepdims=True)
        xs = x.reshape(len(x), m, dsub)
        err = 0.0
        for s in range(m):
            d2 = ((xs[:, s, :, None] - cb[s].T[None]) ** 2).sum(1)
            err += d2.min(axis=1).sum()
        return err
    cb0 = pq_train(df, m=4, ks=8, iters=0)
    cb5 = pq_train(df, m=4, ks=8, iters=5)
    assert qerr(cb5) < qerr(cb0)


def test_pq_deterministic_under_repartition(spark):
    df = _corpus(spark, n=200, seed=13)
    cb1 = pq_train(df, m=4, ks=8, iters=3)
    cb2 = pq_train(df.repartition(9), m=4, ks=8, iters=3)
    assert np.allclose(cb1, cb2, atol=1e-12)


def test_pq_rejects_bad_dims(spark):
    df = _corpus(spark, n=20, d=10)
    with pytest.raises(ValueError, match="divisible"):
        pq_train(df, m=4)


def test_ivfpq_pipeline_recall_and_pruning(spark):
    """The composed IVF-PQ read path: probe-all equals plain PQ+refine
    (pruning off), and nprobe pruning keeps recall while scoring only
    the probed lists."""
    from dbt_lab_spark.llm.pq import ivfpq_knn
    from dbt_lab_spark.llm.similarity import ivf_centroids

    df = _corpus(spark, n=500, d=16, seed=21)
    queries = df.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    corpus = df.filter(F.col("vec_id") >= 5)
    C = 8
    cents = ivf_centroids(corpus, num_centroids=C, iters=4, dim=16)
    cb = pq_train(corpus, m=4, ks=32, iters=5)

    exact = brute_force_knn(corpus, queries, k=10)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}

    # probe-all == PQ shortlist+refine with no pruning
    all_probes = ivfpq_knn(corpus, queries, cents, cb, k=10, nprobe=C)
    codes = pq_encode(corpus, cb)
    plain = pq_refine(pq_adc_knn(codes, queries, cb, k=50), corpus, queries, k=10)
    key = lambda r: (r["query_id"], r["rank"], r["neighbor_id"])
    assert sorted(map(key, all_probes.collect())) == sorted(map(key, plain.collect()))

    # pruned probes still recall most true neighbors
    pruned = ivfpq_knn(corpus, queries, cents, cb, k=10, nprobe=4)
    p = {(r["query_id"], r["neighbor_id"]) for r in pruned.collect()}
    assert len(p & e) / len(e) >= 0.5


def test_adc_query_collect_is_guarded(spark):
    """r4 scale guard (VERDICT r3 #6): the ADC paths pull the QUERY set
    to the driver to build lookup tables; exceeding max_queries must
    raise with a clear redirect instead of silently growing the driver,
    and limit(max+1) means nothing beyond the bound is transferred."""
    from dbt_lab_spark.llm.pq import ivfpq_knn, pq_adc_knn
    from dbt_lab_spark.llm.similarity import ivf_centroids

    df = _corpus(spark, n=60, d=16, seed=7)
    queries = df.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    corpus = df.filter(F.col("vec_id") >= 5)
    cb = pq_train(corpus, m=4, ks=16, iters=3)
    codes = pq_encode(corpus, cb)

    with pytest.raises(ValueError, match="max_queries"):
        pq_adc_knn(codes, queries, cb, k=3, max_queries=4)
    cents = ivf_centroids(corpus, num_centroids=4, iters=3, dim=16)
    with pytest.raises(ValueError, match="max_queries"):
        ivfpq_knn(corpus, queries, cents, cb, k=3, nprobe=4, max_queries=4)
    # at the bound: works unchanged
    assert pq_adc_knn(codes, queries, cb, k=3, max_queries=5).count() > 0


def test_pq_bad_dims_release_persisted_corpus(spark):
    """The d % m error path unpersists the frame pq_train persisted."""
    df = _corpus(spark, n=20, d=10)
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    with pytest.raises(ValueError, match="divisible"):
        pq_train(df, m=4)
    assert jsc.getPersistentRDDs().size() == before
