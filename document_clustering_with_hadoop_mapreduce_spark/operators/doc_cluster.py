"""Document clustering over the sparse TF-IDF matrix — task 2.2, Spark-first.

The reference pivots TF-IDF triples into DENSE zero-padded vector strings
(A11, ref sources/2.2/source/ConvertInput.java:23-49) and ships k x V
centroid strings through job config. At 100 TB vocabulary x corpus scale
that dense pivot is the scalability killer. The Spark-native design keeps
the matrix SPARSE and expresses nearest-centroid assignment as relational
algebra:

    dist²(d, c) = ||d||² + ||c||² - 2·(d · c)

- per-doc sum-of-squares: one groupBy(doc)
- per-centroid sum-of-squares: tiny aggregate, broadcast
- cross terms d·c: the triples JOIN the (broadcast) sparse centroid set on
  `term`, then groupBy(doc, cluster) sums w·w — shuffle bounded by
  nnz x k, never materializing any dense vector
- argmin per doc via one more window-free array-min

Every step is a DataFrame op, so the WHOLE assignment is SQL-expressible
and DuckDB-oracle-checked (plans/queries_cluster.py) — unlike the dense
MLlib path, which is rows-only checked.

``pivot_to_sparse_vectors`` (A11) is still provided for MLlib interop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def seeded_sparse_centroids(matrix: DataFrame, k: int, weight_col: str = "tfidf") -> DataFrame:
    """Deterministic init: the k lowest doc_ids' tf-idf rows become sparse
    centroids (cluster = dense rank of doc_id). The reference's unseeded
    ``Random`` init is irreproducible by design (SURVEY.md §5); k-means||
    for real fits lives in ``operators.kmeans.mllib_kmeans``."""
    w = Window.orderBy("doc_id")
    seed_docs = (
        matrix.select("doc_id").distinct().orderBy("doc_id").limit(k)
        .withColumn("cluster", F.row_number().over(w) - 1)
    )
    return matrix.join(seed_docs, "doc_id").select(
        "cluster", "term", F.col(weight_col).alias("w")
    )


def sparse_dists(
    matrix: DataFrame,
    centroids: DataFrame,
    weight_col: str = "tfidf",
    round_decimals: int = 6,
    doc_ss: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, cluster, dist_sq) for EVERY doc x centroid pair.

    The full grid behind ``sparse_assign`` — n x k rows, the frame the
    silhouette evaluation also needs. Docs sharing no term with a
    centroid still get a finite distance (||d||² + ||c||²), exactly as
    the dense math would.

    ``doc_ss`` optionally supplies the per-doc sum of squares — it is
    iteration-INVARIANT, so loop callers (``sparse_lloyd``) compute it
    once and pass the cached frame instead of re-aggregating the matrix
    every iteration.
    """
    if doc_ss is None:
        doc_ss = matrix.groupBy("doc_id").agg(
            F.sum(F.col(weight_col) * F.col(weight_col)).alias("doc_ss")
        )
    cent_ss = centroids.groupBy("cluster").agg(F.sum(F.col("w") * F.col("w")).alias("c_ss"))

    dots = (
        matrix.join(F.broadcast(centroids), "term")
        .groupBy("doc_id", "cluster")
        .agg(F.sum(F.col(weight_col) * F.col("w")).alias("dot"))
    )
    # every doc x every centroid (docs with zero overlap included)
    grid = doc_ss.crossJoin(F.broadcast(cent_ss))
    return grid.join(dots, ["doc_id", "cluster"], "left").withColumn(
        "dist_sq",
        F.round(
            # clamp: algebraic distance is >= 0, fp cancellation can
            # give -1e-15 (and a "-0.0" that breaks cross-engine compare)
            F.greatest(
                F.col("doc_ss") + F.col("c_ss") - 2 * F.coalesce(F.col("dot"), F.lit(0.0)),
                F.lit(0.0),
            ),
            round_decimals,
        ),
    )


def assign_from_dists(dists: DataFrame) -> DataFrame:
    """argmin per doc over a ``sparse_dists`` grid — ties break to the
    lowest cluster id on the ROUNDED distance (cross-engine determinism)."""
    best = F.array_min(F.collect_list(F.struct("dist_sq", "cluster")))
    return (
        dists.groupBy("doc_id")
        .agg(best.alias("b"))
        .select("doc_id", F.col("b.cluster").alias("cluster"), F.col("b.dist_sq").alias("dist_sq"))
    )


def sparse_assign(
    matrix: DataFrame,
    centroids: DataFrame,
    weight_col: str = "tfidf",
    round_decimals: int = 6,
    doc_ss: DataFrame | None = None,
) -> DataFrame:
    """Nearest-centroid assignment on sparse vectors (squared euclidean).

    ``matrix``: (doc_id, term, <weight_col>); ``centroids``: (cluster,
    term, w) — sparse, broadcast (k x avg-nnz rows, i.e. tiny vs corpus).
    ``sparse_dists`` + ``assign_from_dists``.
    """
    return assign_from_dists(
        sparse_dists(matrix, centroids, weight_col, round_decimals, doc_ss)
    )


def cluster_top_terms(
    matrix: DataFrame,
    assignments: DataFrame,
    k_terms: int = 10,
    weight_col: str = "tfidf",
) -> DataFrame:
    """A14 re-expressed: top-k terms per cluster by mean weight.

    The reference takes the 10 largest coordinates of each dense centroid
    with a value-keyed TreeMap that COLLAPSES ties
    (ref sources/2.2/source/KMeansReducer.java:138-150); here mean weight
    per (cluster, term) with deterministic round-first rank + term
    tie-break, keeping every term."""
    n_members = assignments.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    means = (
        matrix.join(assignments.select("doc_id", "cluster"), "doc_id")
        .groupBy("cluster", "term")
        .agg(F.sum(weight_col).alias("w_sum"))
        .join(F.broadcast(n_members), "cluster")
        .withColumn("mean_w", F.round(F.col("w_sum") / F.col("n_members"), 6))
    )
    w = Window.partitionBy("cluster").orderBy(
        F.col("mean_w").desc(), F.col("term").asc()
    )
    return (
        means.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k_terms)
        .select("cluster", "term", "mean_w", "rank")
    )


def pivot_to_sparse_vectors(matrix: DataFrame, weight_col: str = "tfidf") -> DataFrame:
    """A11: triples -> one ml.linalg SparseVector row per doc, indexed by a
    deterministic term dictionary (fixes the reference's N5 defect where
    vector slots were reducer-arrival-ordered, not term-aligned).

    Returns (doc_id, features). The term index is dense-rank over sorted
    terms; vocabulary size is the vector dimension. MLlib interop path —
    the relational ops above never need it.

    The UDT construction is an Arrow-batched pandas UDF (whole batches
    cross the Python boundary as columnar buffers, ~10-100x a row-at-a-time
    UDF); everything upstream — the vocab join, the per-doc sorted
    (term_idx, w) struct array — is JVM-side. The UDF emits the VectorUDT
    sqlType struct (type=0 sparse, size, indices, values) per batch, which
    Spark reassembles into ml.linalg SparseVectors."""
    vocab = (
        matrix.select("term").distinct()
        .withColumn("term_idx", F.row_number().over(Window.orderBy("term")) - 1)
    )
    v = vocab.count()
    pairs = (
        matrix.join(F.broadcast(vocab), "term")
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("term_idx"), F.col(weight_col).alias("w")))
            ).alias("pairs")
        )
    )
    import pandas as pd
    from pyspark.ml.linalg import VectorUDT

    def to_vec(batch):
        n = len(batch)
        return pd.DataFrame({
            "type": [0] * n,  # 0 = sparse in VectorUDT's struct encoding
            "size": [v] * n,
            "indices": [[int(p["term_idx"]) for p in row] for row in batch],
            "values": [[float(p["w"]) for p in row] for row in batch],
        })

    # module stringifies annotations (future import); pandas_udf needs real
    # type objects to infer the scalar eval type — attach them directly
    to_vec.__annotations__ = {"batch": pd.Series, "return": pd.DataFrame}
    to_vec_udf = F.pandas_udf(to_vec, VectorUDT())
    return pairs.select("doc_id", to_vec_udf("pairs").alias("features"))


def recompute_sparse_centroids(
    matrix: DataFrame,
    assignments: DataFrame,
    weight_col: str = "tfidf",
    round_decimals: int | None = None,
    top_t: int | None = None,
) -> DataFrame:
    """Sparse centroid recompute: mean over cluster members per term,
    zeros implicit — sum(w) / n_members(cluster), keyed (cluster, term).
    Two narrow aggregates; centroid nnz is bounded by the union of member
    nnz, so centroids STAY sparse (the reference's dense reducer held
    k x V doubles in memory, ref sources/2.2/source/KMeansReducer.java).

    ``round_decimals`` rounds centroid weights in-plan so iterated
    centroids stay comparable against the DuckDB oracle.

    ``top_t`` truncates each centroid to its T strongest terms (weight
    desc, term asc tie-break) — the standard sparse-projection step of
    large-scale spherical k-means. After one mean, an exact centroid's
    support is the UNION of member supports (~vocabulary-sized for big
    clusters), which would make the next iteration's broadcast k x V;
    truncation caps it at k x T. Exact paths (oracle gates) leave this
    None."""
    n_members = assignments.groupBy("cluster").agg(F.count(F.lit(1)).alias("n"))
    w = F.col("w_sum") / F.col("n")
    if round_decimals is not None:
        w = F.round(w, round_decimals)
    cents = (
        matrix.join(assignments.select("doc_id", "cluster"), "doc_id")
        .groupBy("cluster", "term")
        .agg(F.sum(weight_col).alias("w_sum"))
        .join(F.broadcast(n_members), "cluster")
        .select("cluster", "term", w.alias("w"))
    )
    if top_t is not None:
        rank_w = Window.partitionBy("cluster").orderBy(
            F.col("w").desc(), F.col("term").asc()
        )
        cents = (
            cents.withColumn("__rn", F.row_number().over(rank_w))
            .filter(F.col("__rn") <= top_t)
            .drop("__rn")
        )
    return cents


def sparse_lloyd(
    matrix: DataFrame,
    k: int,
    max_iter: int = 5,
    weight_col: str = "tfidf",
    round_centroids: int | None = None,
    final_centroids: bool = True,
    on_iteration=None,
    centroid_top_t: int | None = None,
    cache_matrix: bool = True,
) -> tuple[DataFrame, DataFrame, list[float]]:
    """Full iterative Lloyd on the SPARSE matrix — task 2.2 end-to-end
    without ever materializing a dense vector or driver-side centroids.

    Per iteration: join-based sparse assignment (see ``sparse_assign``) +
    sparse centroid recompute. Centroids live as a (cluster, term, w)
    DataFrame, cached and broadcast into the next assignment — at 100 TB
    the centroid relation is k x avg-doc-nnz rows (KBs), while dense
    k x V would be GBs. Returns (assignments, centroids, per-iter WCSS).

    ``round_centroids`` enables the cross-engine float discipline (6dp
    centroids + decimal WCSS sums) so the whole trace is verifiable
    against the unrolled DuckDB oracle in plans/queries_doc_cluster.py.

    ``final_centroids=False`` skips the last iteration's centroid
    recompute (the result would describe an assignment nobody sees) —
    one full shuffle+action saved for trace-only callers.

    ``on_iteration(it, assigned, new_cents, wcss)`` is invoked after each
    iteration's recompute with the iteration's cached assignment frame,
    the NEW sparse centroid frame (None when the final recompute is
    skipped) and the iteration WCSS — the hook the reference-layout
    artifact sinks attach to (sources/artifacts.py; ref per-iteration
    writes at sources/2.2/source/KMeansReducer.java:25-131).

    ``centroid_top_t`` enables the sparse-projection scale path: each
    recomputed centroid keeps only its T strongest terms, capping the
    per-iteration broadcast at k x T instead of the k x ~V an exact mean
    densifies to (see ``recompute_sparse_centroids``). Approximate by
    definition — the oracle-gated trace leaves it None.

    The matrix feeds three subtrees per iteration (doc norms, dot
    products, recompute) across SEPARATE jobs — exchange reuse cannot
    span jobs, so it is cached here for the loop's lifetime (standard
    iterative-ML practice) unless the caller already cached it.
    """
    # cache_matrix=False for callers whose frame is already materialized
    # (e.g. a localCheckpoint-ed tf-idf matrix — is_cached cannot see
    # RDD-level persistence, so without the flag we'd pin a THIRD copy)
    we_cached = cache_matrix and not matrix.is_cached
    if we_cached:
        matrix = matrix.cache()
    cents = seeded_sparse_centroids(matrix, k, weight_col).cache()
    # per-doc ||d||^2 never changes across iterations — one aggregate,
    # cached, reused by every assignment
    doc_ss = matrix.groupBy("doc_id").agg(
        F.sum(F.col(weight_col) * F.col(weight_col)).alias("doc_ss")
    ).cache()
    wcss_trace: list[float] = []
    assigned = None
    for it in range(max_iter):
        new_assigned = sparse_assign(matrix, cents, weight_col, doc_ss=doc_ss).cache()
        if round_centroids is not None:
            wcss_col = F.round(
                F.sum(F.col("dist_sq").cast("decimal(28,6)")).cast("double"), 6
            )
        else:
            wcss_col = F.sum("dist_sq")
        new_cents = None
        if final_centroids or it < max_iter - 1:
            new_cents = recompute_sparse_centroids(
                matrix, new_assigned, weight_col,
                round_decimals=round_centroids, top_t=centroid_top_t,
            ).cache()
            # ONE action per iteration (round 14, guide §1/§5): the WCSS
            # scalar and the new-centroid materialization used to be two
            # sequential jobs (agg collect + count). Unioning the WCSS
            # aggregate with a 1-row count over new_cents computes BOTH in
            # one job — in local mode the assignment cache populates once
            # and feeds both branches (on a multi-executor cluster the two
            # union branches can compute sparse_assign partitions twice,
            # before either has cached them); new_cents' cache fills as
            # its branch evaluates,
            # and the WCSS value that lands in the trace is produced by
            # the IDENTICAL aggregate sub-plan as before (bit-equal).
            rows = (
                new_assigned.agg(wcss_col.alias("w"))
                .select(F.lit(0).alias("t"), F.col("w"))
                .unionAll(
                    new_cents.agg(
                        F.count(F.lit(1)).cast("double").alias("w")
                    ).select(F.lit(1).alias("t"), F.col("w"))
                )
                .collect()
            )
            wcss = {r["t"]: r["w"] for r in rows}[0]
        else:
            wcss = new_assigned.agg(wcss_col.alias("w")).collect()[0]["w"]
        wcss_trace.append(float(wcss))
        if assigned is not None:
            assigned.unpersist()  # stale frame — don't leak cache per round
        assigned = new_assigned
        if new_cents is not None:
            # new_cents is materialized by the fused job above; only now is
            # the OLD centroid frame (an input to new_assigned's plan) safe
            # to release
            cents.unpersist()
            cents = new_cents
        if on_iteration is not None:
            on_iteration(it, assigned, new_cents, wcss_trace[-1])
    doc_ss.unpersist()
    if we_cached:
        matrix.unpersist()
    return assigned, cents, wcss_trace
