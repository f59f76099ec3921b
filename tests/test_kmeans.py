"""Clustering invariants (SURVEY.md §5 item 4) — randomness-proof checks
the reference never had: nearest-assignment consistency, WCSS monotonicity,
seeded reproducibility, label agreement."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from document_clustering_with_hadoop_mapreduce_spark.operators.kmeans import assign_nearest
from document_clustering_with_hadoop_mapreduce_spark.plans.queries_cluster import (
    _embedding_triples,
)
from document_clustering_with_hadoop_mapreduce_spark.sources.tables import load_table


def test_assign_nearest_is_argmin(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    init = emb.filter(F.col("vec_id") < 3).orderBy("vec_id").collect()
    centroids = [[float(x) for x in r["embedding"]] for r in init]
    out = assign_nearest(emb, centroids, "embedding", round_decimals=None)
    # recompute distances to every centroid; assigned must be the min
    rows = out.collect()
    for r in rows[:50]:
        v = [float(x) for x in r["embedding"]]
        dists = [sum((a - b) ** 2 for a, b in zip(v, c)) for c in centroids]
        assert r["cluster"] == dists.index(min(dists))
        assert abs(r["dist_sq"] - min(dists)) < 1e-9


def test_lloyd_wcss_non_increasing(spark, sf_dir):
    from document_clustering_with_hadoop_mapreduce_spark.operators.doc_cluster import sparse_lloyd

    tri = _embedding_triples(load_table(spark, sf_dir, "embeddings"))
    _, _, wcss = sparse_lloyd(
        tri, k=4, max_iter=6, weight_col="w", round_centroids=6, final_centroids=False
    )
    assert len(wcss) >= 2
    for a, b in zip(wcss, wcss[1:]):
        assert b <= a + 1e-6, f"WCSS increased: {wcss}"


def test_lloyd_assignments_match_final_centroids(spark, sf_dir):
    """On a max_iter exit the returned assignments are the nearest-centroid
    assignment against the RETURNED centroids, not the last iteration's
    (made before its recompute) — MLlib's contract for a fitted model.
    Checked on the sparse Lloyd loop of the document slots."""
    from document_clustering_with_hadoop_mapreduce_spark.operators.doc_cluster import (
        sparse_assign,
        sparse_lloyd,
    )
    from document_clustering_with_hadoop_mapreduce_spark.operators.term_matrix import term_doc_counts
    from document_clustering_with_hadoop_mapreduce_spark.operators.tfidf import tfidf

    m = tfidf(term_doc_counts(load_table(spark, sf_dir, "documents"))).localCheckpoint(eager=True)
    assigned, cents, _ = sparse_lloyd(m, k=4, max_iter=3, cache_matrix=False)
    got = {r["doc_id"]: (r["cluster"], r["dist_sq"]) for r in assigned.collect()}
    want = {
        r["doc_id"]: (r["cluster"], r["dist_sq"]) for r in sparse_assign(m, cents).collect()
    }
    assert got == want


@pytest.mark.slow
def test_scalable_init_deterministic_and_bahmani_shaped(spark, sf_dir):
    """Deterministic k-means|| (M3/A15/M1) on the sparse per-doc kernel,
    fed the embeddings as (vec_id, dim, x) triples: two runs select
    byte-identical candidate sets (hash-Bernoulli draws, no RNG), the top-k
    come back ordered by seed id with positive nearest-point weights, each
    chosen centroid is its seed's own vector, and the oversampling actually
    oversamples (more candidates than k see the weight step — the property
    the reference's l*d/psi loop exists for, ref
    sources/2.2/source/ScalableKMeans.java:86-156)."""
    from document_clustering_with_hadoop_mapreduce_spark.operators.doc_cluster import (
        scalable_kmeans_init,
        sparse_assign,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    triples = _embedding_triples(emb)
    init1, w1 = scalable_kmeans_init(triples, k=5, l=10.0, rounds=3, weight_col="w")
    init2, w2 = scalable_kmeans_init(triples, k=5, l=10.0, rounds=3, weight_col="w")
    rows1 = sorted(tuple(r) for r in init1.collect())
    assert rows1 == sorted(tuple(r) for r in init2.collect())
    assert w1 == w2
    ids = list(w1)
    assert len(ids) == 5 and ids == sorted(ids)
    want = sorted(
        (ids.index(r["doc_id"]), r["term"], r["w"])
        for r in triples.where(F.col("doc_id").isin(ids)).collect()
    )
    assert rows1 == want
    # weights are nearest-point counts over ALL candidates -> each chosen
    # seed holds at least itself, and the total is at most n
    assert all(w >= 1 for w in w1.values())
    assert sum(w1.values()) <= n
    # one assignment pass under the chosen centroids covers every point
    assigned = sparse_assign(triples, init1, weight_col="w")
    assert assigned.count() == n
    assert {r["cluster"] for r in assigned.select("cluster").distinct().collect()} <= set(range(5))


def test_n3_similarity_compat(spark):
    """N3 shim: dot/(|a|+|b|) — verified against hand math, including the
    reference's first-max-wins tie behavior."""
    from document_clustering_with_hadoop_mapreduce_spark.compat import assign_nearest_n3, n3_similarity

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 2.0]), (3, [3.0, 4.0])],
        "vec_id INT, embedding ARRAY<DOUBLE>",
    )
    cents = [[1.0, 0.0], [0.0, 1.0]]
    out = {r["vec_id"]: (r["cluster"], r["similarity"])
           for r in assign_nearest_n3(df, cents).collect()}
    # doc1 vs c0: dot=1, |a|=1, |b|=1 -> 0.5 ; vs c1: dot=0 -> 0.0
    assert out[1][0] == 0 and abs(out[1][1] - 0.5) < 1e-12
    # doc2 vs c0: 0 ; vs c1: 2/(2+1) = 0.6667
    assert out[2][0] == 1 and abs(out[2][1] - 2 / 3) < 1e-12
    # doc3 (3,4): c0 3/6=0.5, c1 4/6=0.6667 -> cluster 1
    assert out[3][0] == 1
    # sentinel fires only when BOTH norms are zero
    # (ref sources/2.2/source/KMeansMapper.java:52-54)
    zz = spark.range(1).select(
        n3_similarity(F.array(F.lit(0.0), F.lit(0.0)),
                      F.array(F.lit(0.0), F.lit(0.0))).alias("s")
    ).collect()[0]["s"]
    assert zz == -9999.0
    # zero vector vs non-zero centroid: 0/(0+|b|) = 0.0, no sentinel
    z = spark.createDataFrame([(9, [0.0, 0.0])], "vec_id INT, embedding ARRAY<DOUBLE>")
    rz = assign_nearest_n3(z, cents).collect()[0]
    assert rz["cluster"] == 0 and rz["similarity"] == 0.0

    # scale-variance: true cosine is invariant under scaling, N3 is NOT —
    # the defect SURVEY.md §2.7-N3 documents
    a = [1.0, 1.0]
    sim1 = spark.range(1).select(
        n3_similarity(F.array(*[F.lit(x) for x in a]),
                      F.array(*[F.lit(x) for x in a])).alias("s")
    ).collect()[0]["s"]
    sim2 = spark.range(1).select(
        n3_similarity(F.array(*[F.lit(2 * x) for x in a]),
                      F.array(*[F.lit(2 * x) for x in a])).alias("s")
    ).collect()[0]["s"]
    assert abs(sim1 - sim2) > 1e-6


def test_scalable_init_takes_ids_beyond_int32(spark, sf_dir, tmp_path):
    """Candidates are labelled by their BIGINT ids while the init runs:
    with every vec_id shifted past 2^31 the k-means|| slot still matches
    its DuckDB oracle over the same shifted table."""
    import duckdb
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from conftest import assert_matches_oracle
    from document_clustering_with_hadoop_mapreduce_spark.plans.registry import all_queries

    emb = pq.read_table(f"{sf_dir}/embeddings.parquet")
    i = emb.schema.get_field_index("vec_id")
    shifted = emb.set_column(i, "vec_id", pc.add(emb["vec_id"], 1 << 31))
    pq.write_table(shifted, tmp_path / "embeddings.parquet")
    q = all_queries()["kmeans_parallel_sizes"]
    got = q.spark(spark, str(tmp_path))
    assert all(r["seed_vec_id"] >= 1 << 31 for r in got.collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{tmp_path}/embeddings.parquet'")
    assert_matches_oracle(got, con, q.oracle)
    con.close()
