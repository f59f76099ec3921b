"""Sparse doc-clustering invariants."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from document_clustering_with_hadoop_mapreduce_spark.operators.doc_cluster import (
    seeded_sparse_centroids,
    sparse_assign,
)
from document_clustering_with_hadoop_mapreduce_spark.operators.term_matrix import term_doc_counts
from document_clustering_with_hadoop_mapreduce_spark.operators.tfidf import tfidf
from document_clustering_with_hadoop_mapreduce_spark.sources.tables import load_table

from conftest import run_counted


def _matrix(spark, sf_dir):
    return tfidf(term_doc_counts(load_table(spark, sf_dir, "documents")))


def _collect_counting_jobs(df) -> tuple[int, list]:
    """(Spark jobs ``df.collect()`` runs, its rows)."""
    rows, jobs, _ = run_counted(df.sparkSession, df.collect)
    return len(jobs), rows


def test_seed_docs_assigned_to_own_cluster(spark, sf_dir):
    """A seed doc's distance to its own centroid is exactly 0."""
    m = _matrix(spark, sf_dir)
    cents = seeded_sparse_centroids(m, 5)
    assigned = sparse_assign(m, cents)
    seeds = [r["doc_id"] for r in m.select("doc_id").distinct().orderBy("doc_id").limit(5).collect()]
    got = {r["doc_id"]: (r["cluster"], r["dist_sq"])
           for r in assigned.filter(F.col("doc_id").isin(seeds)).collect()}
    for rank, doc in enumerate(sorted(seeds)):
        assert got[doc] == (rank, 0.0)


def test_every_doc_assigned_once(spark, sf_dir):
    m = _matrix(spark, sf_dir)
    assigned = sparse_assign(m, seeded_sparse_centroids(m, 5))
    n_docs = m.select("doc_id").distinct().count()
    assert assigned.count() == n_docs
    assert assigned.select("doc_id").distinct().count() == n_docs
    assert assigned.filter(F.col("dist_sq") < 0).count() == 0


@pytest.mark.slow
def test_sparse_lloyd_wcss_non_increasing(spark, sf_dir):
    """Full sparse Lloyd: WCSS monotone, k clusters, sparse centroids."""
    from document_clustering_with_hadoop_mapreduce_spark.operators.doc_cluster import sparse_lloyd

    m = _matrix(spark, sf_dir)
    assigned, cents, trace = sparse_lloyd(m, k=4, max_iter=3)
    assert len(trace) == 3
    for a, b in zip(trace, trace[1:]):
        assert b <= a + 1e-6, f"WCSS increased: {trace}"
    assert assigned.select("cluster").distinct().count() <= 4
    # centroids stay sparse: nnz bounded by union of member terms
    vocab = m.select("term").distinct().count()
    per_cluster_nnz = cents.groupBy("cluster").count().collect()
    assert all(r["count"] <= vocab for r in per_cluster_nnz)


def test_sparse_lloyd_leaves_cache_as_found(spark, sf_dir):
    """With ``cache_matrix=False`` the loop caches nothing of its own: no
    Dataset enters the CacheManager and no RDD stays persisted after the
    call. (The persisted-RDD count may fall meanwhile — the context
    cleaner drops earlier tests' frames — so only growth is a leak.)"""
    from document_clustering_with_hadoop_mapreduce_spark.operators.doc_cluster import sparse_lloyd

    m = _matrix(spark, sf_dir).localCheckpoint(eager=True)
    cache = spark._jsparkSession.sharedState().cacheManager()
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    was_empty, n_rdds = cache.isEmpty(), rdds.size()
    sparse_lloyd(m, k=3, max_iter=2, round_centroids=6, cache_matrix=False)
    assert cache.isEmpty() == was_empty
    assert spark.sparkContext._jsc.getPersistentRDDs().size() <= n_rdds


# docs 0 and 1 are identical, so seed clusters 0 and 1 are the same
# centroid: every distance ties between them and the lowest-cluster
# tie-break leaves cluster 1 empty from the first assignment on
_TIE_DOCS = [
    (0, "spark join filter window"),
    (1, "spark join filter window"),
    (2, "hash table scan merge"),
    (3, "spark join hash table"),
    (4, "window filter merge scan scan"),
    (5, "stream batch query row"),
    (6, "stream batch join spark"),
    (7, "query row row table merge"),
]
# the same tie on dense input: vectors 0 and 1 coincide
_TIE_VECS = [
    (0, [1.0, 0.0]),
    (1, [1.0, 0.0]),
    (2, [0.0, 3.0]),
    (3, [0.9, 0.2]),
    (4, [0.2, 2.5]),
    (5, [4.0, 4.0]),
]


@pytest.mark.parametrize("case", ["tfidf_docs", "embeddings"])
def test_sparse_lloyd_empty_cluster_drops_out_like_oracle(spark, case):
    """Driver-side centroid bookkeeping: the tie-break empties cluster 1,
    which drops out while clusters 0 and 2 keep their ids; the WCSS trace
    equals the unrolled DuckDB oracle over the same input — tf-idf
    documents against the document slots' oracle, dense embeddings (as
    triples) against the embedding slots' oracle."""
    import duckdb
    import pandas as pd

    from document_clustering_with_hadoop_mapreduce_spark.operators.doc_cluster import sparse_lloyd
    from document_clustering_with_hadoop_mapreduce_spark.plans.queries_cluster import (
        _embedding_triples,
        _lloyd_trace_oracle,
    )
    from document_clustering_with_hadoop_mapreduce_spark.plans.queries_doc_cluster import (
        _sparse_lloyd_oracle,
    )

    con = duckdb.connect()
    if case == "tfidf_docs":
        docs = spark.createDataFrame(_TIE_DOCS, "doc_id BIGINT, text STRING")
        m, weight_col = tfidf(term_doc_counts(docs), n_docs=len(_TIE_DOCS)), "tfidf"
        con.register("documents", pd.DataFrame(_TIE_DOCS, columns=["doc_id", "text"]))
        oracle = _sparse_lloyd_oracle(3, 3)
    else:
        emb = spark.createDataFrame(_TIE_VECS, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
        m, weight_col = _embedding_triples(emb), "w"
        con.register("embeddings", pd.DataFrame(_TIE_VECS, columns=["vec_id", "embedding"]))
        oracle = _lloyd_trace_oracle(3, 3)
    first = {}

    def on_iteration(it, assigned, new_cents, wcss):
        if it == 0:
            first["assigned"] = {r["doc_id"]: (r["cluster"], r["dist_sq"]) for r in assigned.collect()}
            first["clusters"] = sorted({r["cluster"] for r in new_cents.collect()})

    assigned, cents, trace = sparse_lloyd(
        m, k=3, max_iter=3, weight_col=weight_col, round_centroids=6,
        final_centroids=False, on_iteration=on_iteration,
    )
    assert first["assigned"][1] == (0, 0.0)
    assert first["clusters"] == [0, 2]
    assert {r["cluster"] for r in assigned.collect()} <= {0, 2}
    assert sorted({r["cluster"] for r in cents.collect()}) == [0, 2]

    want = con.execute(oracle).fetchall()
    con.close()
    assert [f"{w:.6f}" for w in trace] == [f"{w:.6f}" for _, w in want]


@pytest.mark.parametrize("slot", ["doc_kmeans_sparse_trace", "kmeans_lloyd_trace"])
def test_wcss_trace_collects_without_a_job(spark, sf_dir, slot):
    """The trace slots return the driver's WCSS list as a local relation:
    collecting it schedules no Spark job (a Python-list frame ran 3)."""
    from document_clustering_with_hadoop_mapreduce_spark.plans.registry import all_queries

    n_jobs, rows = _collect_counting_jobs(all_queries()[slot].spark(spark, sf_dir))
    assert n_jobs == 0
    assert [r["iteration"] for r in rows] == [0, 1, 2]


def test_held_centroids_collect_without_a_job(spark):
    """Centroids the driver holds come back without a job: those
    ``sparse_lloyd`` returns and the k-means|| init's pick, which the next
    ``sparse_lloyd`` call collects as its start."""
    from document_clustering_with_hadoop_mapreduce_spark.operators.doc_cluster import (
        scalable_kmeans_init,
        sparse_lloyd,
    )

    docs = spark.createDataFrame(_TIE_DOCS, "doc_id BIGINT, text STRING")
    m = tfidf(term_doc_counts(docs), n_docs=len(_TIE_DOCS)).cache()
    init, _ = scalable_kmeans_init(m, 3)
    _, cents, _ = sparse_lloyd(m, k=3, max_iter=1, init=init)
    for frame in (init, cents):
        n_jobs, rows = _collect_counting_jobs(frame)
        assert n_jobs == 0
        assert frame.schema.simpleString() == "struct<cluster:int,term:string,w:double>"
        assert {r["cluster"] for r in rows} <= {0, 1, 2} and rows
    m.unpersist()
