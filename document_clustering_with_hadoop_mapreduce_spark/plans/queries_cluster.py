"""Clustering query surface (reference tasks 2.1-2.3, Spark-first).

All three slots run on the sparse per-doc kernel of
``operators/doc_cluster.py`` — the engine of the document slots — with
the embeddings fed as (doc_id, term, w) triples (``_embedding_triples``:
a dense vector is a sparse row holding every dimension).

``kmeans_assign_seeded`` is the oracle-checked single Lloyd step
(``sparse_assign``; ref sources/2.2/source/KMeansMapper.java:77-105);
``kmeans_lloyd_trace`` extends that to the ITERATED loop
(``sparse_lloyd``) — deterministic init, fixed 3 iterations,
6dp-rounded centroids/distances and decimal WCSS sums — so DuckDB
verifies the per-iteration WCSS trace (M6-M9) value-for-value via an
unrolled CTE. Between them the full Lloyd algebra (assignment, centroid
recompute, loss accounting) is hash-gated, not just rows-only.

``kmeans_parallel_sizes`` value-gates M3 (k-means|| init) end-to-end: a
deterministic Bahmani oversampling (hash-based Bernoulli draws instead
of the reference's unseeded ``Random``) whose candidate selection,
weights, top-k and one-pass sizes all hash-match an unrolled DuckDB CTE.
It runs ``doc_cluster.scalable_kmeans_init``, the init tasks 2.1 and 2.3
start their sparse Lloyd loops from.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.doc_cluster import (
    scalable_kmeans_init,
    seeded_sparse_centroids,
    sparse_assign,
    sparse_lloyd,
    wcss_trace_frame,
)
from ..sources.tables import load_table
from .registry import register

K = 5
LLOYD_ITERS = 3


def _embedding_triples(emb: DataFrame) -> DataFrame:
    """The embeddings as the sparse kernel's (doc_id, term, w) triples: a
    dense vector is a sparse row holding every dimension, the dimension
    index (as a string) being the term."""
    return emb.select(
        F.col("vec_id").alias("doc_id"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "w"),
    ).select("doc_id", F.col("dim").cast("string").alias("term"), "w")


_ASSIGN_ORACLE = f"""
WITH c AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding::DOUBLE[] AS cvec
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {K})
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS evec FROM embeddings),
d AS (
  SELECT e.vec_id, c.cid,
         round(list_sum(list_transform(generate_series(1, len(e.evec)),
               i -> (e.evec[i]-c.cvec[i])*(e.evec[i]-c.cvec[i]))), 6) AS dist_sq
  FROM e CROSS JOIN c
),
r AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist_sq ASC, cid ASC) AS rn FROM d)
SELECT vec_id, cid::INT AS cluster, dist_sq FROM r WHERE rn = 1
"""


@register(
    "kmeans_assign_seeded",
    _ASSIGN_ORACLE,
    "M4/J5: one nearest-centroid pass (euclidean, deterministic init = "
    "lowest vec_ids) — the oracle-checkable Lloyd step "
    "(ref sources/2.2/source/KMeansMapper.java:77-105)",
)
def q_kmeans_assign_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    tri = _embedding_triples(load_table(spark, sf_dir, "embeddings"))
    out = sparse_assign(tri, seeded_sparse_centroids(tri, K, "w"), weight_col="w")
    return out.withColumnRenamed("doc_id", "vec_id")


def _lloyd_trace_oracle(k: int, iters: int) -> str:
    """Unrolled Lloyd in DuckDB SQL: per-(vec,dim) long form, each
    iteration = assign (argmin of 6dp-rounded dist) -> decimal WCSS ->
    6dp-rounded per-dim means. Seeds via ORDER BY vec_id LIMIT k with
    row_number-derived cluster ids (the engine's exact init semantics —
    no contiguous-id assumption), and a cluster that empties at iteration
    i drops out of iteration i+1 (c{i+1} is m{i}) — the float discipline
    and empty-cluster rule of
    operators.doc_cluster.sparse_lloyd(round_centroids=6)."""
    # AS MATERIALIZED: DuckDB inlines a CTE at every reference; a{i}
    # feeds both iteration i's WCSS and its recompute m{i}, which the next
    # assignment reads, so un-materialised every iteration replays the
    # whole chain before it.
    ctes = [
        """e AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS dim, unnest(embedding)::DOUBLE AS x
  FROM embeddings
)""",
        f"""seed AS (
  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cluster
  FROM (SELECT DISTINCT vec_id FROM e) ORDER BY vec_id LIMIT {k}
)""",
        "c0 AS (SELECT s.cluster, e.dim, e.x AS m FROM e JOIN seed s USING (vec_id))",
    ]
    wcss_parts = []
    for i in range(iters):
        c, a, m, nc = f"c{i}", f"a{i}", f"m{i}", f"c{i + 1}"
        ctes.append(f"""{a} AS MATERIALIZED (
  SELECT vec_id, cluster, dist_sq,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist_sq ASC, cluster ASC) AS rn
  FROM (
    SELECT e.vec_id, {c}.cluster,
           round(sum((e.x - {c}.m) * (e.x - {c}.m)), 6) AS dist_sq
    FROM e JOIN {c} USING (dim) GROUP BY e.vec_id, {c}.cluster
  )
)""")
        wcss_parts.append(
            f"SELECT {i} AS iteration, "
            f"round(CAST(sum(CAST(dist_sq AS DECIMAL(28,6))) AS DOUBLE), 6) AS wcss "
            f"FROM {a} WHERE rn = 1"
        )
        if i < iters - 1:
            ctes.append(f"""{m} AS MATERIALIZED (
  SELECT a.cluster, e.dim, round(avg(e.x), 6) AS m
  FROM e JOIN (SELECT vec_id, cluster FROM {a} WHERE rn = 1) a USING (vec_id)
  GROUP BY a.cluster, e.dim
)""")
            ctes.append(f"{nc} AS (SELECT cluster, dim, m FROM {m})")
    union = " UNION ALL ".join(wcss_parts)
    return "WITH " + ",\n".join(ctes) + f"\nSELECT iteration, wcss FROM ({union}) ORDER BY iteration"


@register(
    "kmeans_lloyd_trace",
    _lloyd_trace_oracle(K, LLOYD_ITERS),
    "M6-M9 VALUE-GATED: deterministic Lloyd (init = lowest vec_ids, fixed "
    "3 iterations, 6dp centroid/distance rounding, decimal WCSS) -> "
    "per-iteration WCSS trace, hash-verified against an unrolled DuckDB "
    "CTE (the reference's .losses artifact, ref KMeansReducer.java:108-128)",
)
def q_kmeans_lloyd_trace(spark: SparkSession, sf_dir: str) -> DataFrame:
    tri = _embedding_triples(load_table(spark, sf_dir, "embeddings"))
    _, _, trace = sparse_lloyd(
        tri, K, LLOYD_ITERS, weight_col="w", round_centroids=6, final_centroids=False
    )
    return wcss_trace_frame(spark, trace)


_KMEANS_PARALLEL_L = 10.0
_KMEANS_PARALLEL_ROUNDS = 5


def _dist_expr(a: str, b: str) -> str:
    return (
        f"round(list_sum(list_transform(generate_series(1, len({a})), "
        f"i -> ({a}[i]-{b}[i])*({a}[i]-{b}[i]))), 6)"
    )


def _scalable_init_oracle(k: int, l: float, rounds: int) -> str:
    """Unrolled deterministic k-means|| in DuckDB: seed = lowest vec_id;
    each round computes 6dp-rounded min distance to the candidate set,
    psi as an exact decimal sum cast back to double, and selects points
    whose 60-bit md5 draw (hex-string compare, see
    operators.doc_cluster.scalable_kmeans_init) clears p = l*d/psi. Then
    weight-by-nearest-count over the full candidate set, top-k by
    (weight DESC, vec_id ASC), and one assignment pass for sizes."""
    lrepr = repr(float(l))
    # AS MATERIALIZED: DuckDB inlines a CTE at every reference. c{r+1} is
    # c{r} plus s{r}, and s{r} reads d{r} (a scan against c{r}) twice,
    # directly and through psi{r} — un-materialised, each round expands
    # the previous candidate set three times over, 3^rounds in all (40 s
    # against 0.3 s materialised at sf0.001's 500 points, DuckDB 1.0 on 4
    # cores).
    ctes = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        "c0 AS MATERIALIZED (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1)",
    ]
    for r in range(rounds):
        d = _dist_expr("e.v", "c.v")
        ctes.append(
            f"""d{r} AS MATERIALIZED (
  SELECT e.vec_id, min({d}) AS d
  FROM e CROSS JOIN c{r} c GROUP BY e.vec_id
)"""
        )
        ctes.append(
            f"psi{r} AS MATERIALIZED "
            f"(SELECT CAST(sum(CAST(d AS DECIMAL(28,6))) AS DOUBLE) AS psi FROM d{r})"
        )
        ctes.append(
            f"""s{r} AS MATERIALIZED (
  SELECT e.vec_id, e.v
  FROM e JOIN d{r} USING (vec_id) CROSS JOIN psi{r}
  WHERE d > 0 AND psi > 0 AND (
    ({lrepr} * d) / psi >= 1.0 OR
    substr(md5(CAST(e.vec_id AS VARCHAR) || '_{r}'), 1, 15) <
    CASE WHEN ({lrepr} * d) / psi < 1.0 THEN
      lpad(lower(to_hex(CAST(floor((({lrepr} * d) / psi) * 1152921504606846976.0) AS BIGINT))), 15, '0')
    END
  )
)"""
        )
        ctes.append(
            f"c{r + 1} AS MATERIALIZED (SELECT * FROM c{r} UNION ALL SELECT * FROM s{r})"
        )
    cfin = f"c{rounds}"
    ctes.append(
        f"""nn AS MATERIALIZED (
  SELECT vec_id, cand_id FROM (
    SELECT vec_id, cand_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cand_id ASC) AS rn
    FROM (
      SELECT e.vec_id, c.vec_id AS cand_id, {_dist_expr("e.v", "c.v")} AS dist
      FROM e CROSS JOIN {cfin} c
    )
  ) WHERE rn = 1
)"""
    )
    ctes.append(
        f"""w AS MATERIALIZED (
  SELECT c.vec_id AS cand_id, count(nn.vec_id) AS weight
  FROM {cfin} c LEFT JOIN nn ON nn.cand_id = c.vec_id GROUP BY c.vec_id
)"""
    )
    ctes.append(
        f"topk AS (SELECT cand_id, weight FROM w ORDER BY weight DESC, cand_id ASC LIMIT {k})"
    )
    ctes.append(
        """cent AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY cand_id) - 1 AS cluster, cand_id AS seed_vec_id,
         weight, e.v AS v
  FROM topk JOIN e ON e.vec_id = topk.cand_id
)"""
    )
    ctes.append(
        f"""fa AS MATERIALIZED (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cluster ASC) AS rn
    FROM (
      SELECT e.vec_id, cent.cluster, {_dist_expr("e.v", "cent.v")} AS dist
      FROM e CROSS JOIN cent
    )
  ) WHERE rn = 1
)"""
    )
    return (
        "WITH " + ",\n".join(ctes) + """
SELECT cent.cluster::INT AS cluster, cent.seed_vec_id, cent.weight::BIGINT AS weight,
       count(fa.vec_id)::BIGINT AS n
FROM cent LEFT JOIN fa ON fa.cluster = cent.cluster
GROUP BY cent.cluster, cent.seed_vec_id, cent.weight
ORDER BY cluster"""
    )


@register(
    "kmeans_parallel_sizes",
    _scalable_init_oracle(K, _KMEANS_PARALLEL_L, _KMEANS_PARALLEL_ROUNDS),
    "M3/A15/M1/O4 VALUE-GATED: deterministic k-means|| (Bahmani "
    "oversampling with hash-based Bernoulli draws, weight-by-nearest-"
    "count, top-k by weight — ref sources/2.2/source/ScalableKMeans.java:"
    "86-156 with the unseeded Random made reproducible) -> chosen seeds, "
    "weights, and one-pass cluster sizes. The init task 2.3 runs, on the "
    "sparse per-doc kernel over the embeddings as (vec_id, dim, x) triples",
)
def q_kmeans_parallel_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    triples = _embedding_triples(load_table(spark, sf_dir, "embeddings"))
    init, weights = scalable_kmeans_init(
        triples, k=K, l=_KMEANS_PARALLEL_L, rounds=_KMEANS_PARALLEL_ROUNDS, weight_col="w"
    )
    sizes = (
        sparse_assign(triples, init, weight_col="w")
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    meta = spark.createDataFrame(pa.table({
        "cluster": pa.array(range(len(weights)), pa.int32()),
        "seed_vec_id": pa.array(list(weights), pa.int64()),
        "weight": pa.array(list(weights.values()), pa.int64()),
    }))
    return (
        meta.join(sizes, "cluster", "left")
        .select(
            "cluster", "seed_vec_id", "weight",
            F.coalesce(F.col("n"), F.lit(0).cast("long")).alias("n"),
        )
        .orderBy("cluster")
    )
