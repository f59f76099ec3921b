"""Document clustering over the sparse TF-IDF matrix — task 2.2, Spark-first.

The reference pivots TF-IDF triples into DENSE zero-padded vector strings
(A11, ref sources/2.2/source/ConvertInput.java:23-49) and ships k x V
centroid strings through job config. At 100 TB vocabulary x corpus scale
that dense pivot is the scalability killer. The Spark-native design keeps
the matrix SPARSE and the centroids sparse too: the driver holds them as
(cluster, term, w) rows — k x centroid-nnz values, never k x V — and
ships them to the executors as ONE term-keyed local relation
(term, ws[k]), broadcast:

    dist²(d, c) = ||d||² + ||c||² - 2·(d · c)

- ||c||²: a per-cluster constant, summed on the driver from the held rows
- ||d||² and all k dot products d·c: ONE groupBy(doc_id) over
  matrix ⋈ broadcast(ws) (a left join; terms no centroid holds weigh 0)
- argmin per doc: one array_min over the k rounded distances

The Lloyd recompute (``sparse_lloyd``) is one more groupBy(cluster, term)
over the members' terms; its collect brings back the new centroids and
the iteration's WCSS together — one aggregate per Lloyd step, as the
reference's one MapReduce job per iteration (``KMeansMapper`` assigns,
``KMeansReducer`` averages).

Every step is a DataFrame op, so the WHOLE assignment is SQL-expressible
and DuckDB-oracle-checked (plans/queries_doc_cluster.py).

The k-means|| init (``scalable_kmeans_init``, task 2.3) runs on the same
kernel, with the held candidates labelled by their doc ids. The embedding
slots (plans/queries_cluster.py) run on it too, a dense vector fed as the
(doc_id, term, w) triples of its dimensions.
"""

from __future__ import annotations

from typing import NamedTuple

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame


def seeded_sparse_centroids(matrix: DataFrame, k: int, weight_col: str = "tfidf") -> DataFrame:
    """Deterministic init: the k lowest doc_ids' tf-idf rows become sparse
    centroids (cluster = dense rank of doc_id). The reference's unseeded
    ``Random`` init is irreproducible by design (SURVEY.md §5); the
    deterministic k-means|| init is ``scalable_kmeans_init`` below."""
    w = Window.orderBy("doc_id")
    seed_docs = (
        matrix.select("doc_id").distinct().orderBy("doc_id").limit(k)
        .withColumn("cluster", F.row_number().over(w) - 1)
    )
    return matrix.join(seed_docs, "doc_id").select(
        "cluster", "term", F.col(weight_col).alias("w")
    )


def doc_partitioned(matrix: DataFrame) -> DataFrame:
    """``matrix`` hash-partitioned on doc_id into ``defaultParallelism``
    partitions: the layout of a matrix the kernel reads many times (every
    k-means|| round and Lloyd iteration). The per-doc aggregate then
    needs no shuffle, and an explicit count is exempt from AQE's
    coalescing. Materialised as a shuffle leaves it, the matrix keeps a
    bad count either way: a ``localCheckpoint`` pins AQE's coalesced
    layout, often ONE partition, so every pass runs on one core; a
    ``cache()`` keeps all ``spark.sql.shuffle.partitions``, so every pass
    runs that many near-empty tasks: Spark 4.1 ships
    ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`` false,
    and AQE then plans a cached plan without coalescing its output. The
    extra nnz-row exchange is paid once."""
    par = matrix.sparkSession.sparkContext.defaultParallelism
    return matrix.repartition(par, F.col("doc_id"))


class _HeldCentroids(NamedTuple):
    """Sparse centroids held on the driver, in the shape the kernel ships.

    ``clusters``: the non-empty cluster ids, ascending (k' of them);
    ``ws``: local relation (term, ws array<double>[k']) — ws[j] is cluster
    ``clusters[j]``'s weight for the term, null where it has none;
    ``c_ss``: each cluster's ||c||², same order;
    ``rows``: the (cluster, term, w) rows, in (cluster, term) order."""

    clusters: list[int]
    ws: DataFrame
    c_ss: list[float]
    rows: list[tuple]

    def frame(self) -> DataFrame:
        return _Deferred(lambda: _centroid_frame(self.ws.sparkSession, self.rows))


class _Deferred(ClassicDataFrame):
    """A DataFrame built on first use. Until one of its attributes is
    read it holds only ``build``; the first read calls it and takes over
    the built frame's state, and from then on it is that frame. For the
    held centroid frames: a ``createDataFrame`` costs 30-57 ms on the
    driver, and most callers of ``sparse_lloyd`` and its ``on_iteration``
    hook drop the frame unread."""

    def __new__(cls, build):
        self = object.__new__(cls)
        self.__dict__["_build"] = build
        return self

    def __init__(self, build):  # the state arrives with the first read
        pass

    def __getattr__(self, name):
        build = self.__dict__.get("_build")
        if build is None:
            return super().__getattr__(name)
        self.__dict__.update(build().__dict__)
        del self.__dict__["_build"]
        return getattr(self, name)


def _centroid_frame(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """(cluster, term, w) rows -> a (cluster INT, term, w) local relation,
    so collecting it runs no Spark job. Only renumbered cluster ids reach
    it; candidates labelled by their BIGINT doc ids never do."""
    return spark.createDataFrame(pa.table({
        "cluster": pa.array([r[0] for r in rows], pa.int32()),
        "term": pa.array([r[1] for r in rows], pa.string()),
        "w": pa.array([r[2] for r in rows], pa.float64()),
    }))


def _hold(spark: SparkSession, rows) -> _HeldCentroids:
    """(cluster, term, w) rows -> ``_HeldCentroids``. ``ws`` is built from
    an Arrow table, so Spark plans it as a LocalRelation (a Python list
    would be parallelized into an RDD of pickled rows). Rows are taken in
    (cluster, term) order, so ||c||² is summed in one fixed order."""
    rows = sorted(tuple(r) for r in rows)
    clusters = sorted({r[0] for r in rows})
    slot = {c: j for j, c in enumerate(clusters)}
    ws: dict[str, list[float | None]] = {}
    c_ss = [0.0] * len(clusters)
    for c, term, w in rows:
        ws.setdefault(term, [None] * len(clusters))[slot[c]] = w
        c_ss[slot[c]] += w * w
    table = pa.table({
        "term": pa.array(list(ws), pa.string()),
        "ws": pa.array(list(ws.values()), pa.list_(pa.float64())),
    })
    return _HeldCentroids(clusters, spark.createDataFrame(table), c_ss, rows)


def _collect_held(centroids: DataFrame) -> _HeldCentroids:
    return _hold(
        centroids.sparkSession, centroids.select("cluster", "term", "w").collect()
    )


def _doc_dists(
    matrix: DataFrame,
    cents: _HeldCentroids,
    weight_col: str,
    round_decimals: int,
    *aggs,
) -> DataFrame:
    """The per-doc kernel: ONE groupBy(doc_id) over matrix ⋈ broadcast(ws)
    -> (doc_id, ..., dists), ``dists`` holding one struct(dist_sq,
    cluster) per held centroid. Docs sharing no term with a centroid
    still get a finite distance (||d||² + ||c||²), exactly as the dense
    math would. ``aggs`` are extra per-doc aggregates riding the same
    groupBy."""
    x = F.col(weight_col)
    per_doc = (
        matrix.join(F.broadcast(cents.ws), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(x * x).alias("doc_ss"),
            *[
                F.sum(x * F.coalesce(F.col("ws")[j], F.lit(0.0))).alias(f"dot{j}")
                for j in range(len(cents.clusters))
            ],
            *aggs,
        )
    )
    dists = F.array(*[
        F.struct(
            F.round(
                # clamp: algebraic distance is >= 0, fp cancellation can
                # give -1e-15 (and a "-0.0" that breaks cross-engine compare)
                F.greatest(
                    F.col("doc_ss") + F.lit(c_ss) - 2 * F.col(f"dot{j}"), F.lit(0.0)
                ),
                round_decimals,
            ).alias("dist_sq"),
            F.lit(c).alias("cluster"),
        )
        for j, (c, c_ss) in enumerate(zip(cents.clusters, cents.c_ss))
    ])
    return per_doc.withColumn("dists", dists)


def sparse_dists(
    matrix: DataFrame,
    centroids: DataFrame,
    weight_col: str = "tfidf",
    round_decimals: int = 6,
) -> DataFrame:
    """(doc_id, cluster, dist_sq) for EVERY doc x centroid pair.

    The full grid behind ``sparse_assign`` — n x k rows, the frame the
    silhouette evaluation also needs: the per-doc kernel's k distances,
    exploded. ``centroids`` (cluster, term, w) is collected to the driver
    (k x centroid-nnz rows)."""
    per_doc = _doc_dists(matrix, _collect_held(centroids), weight_col, round_decimals)
    return per_doc.select("doc_id", F.inline("dists")).select("doc_id", "cluster", "dist_sq")


def _argmin(per_doc: DataFrame, *keep: str) -> DataFrame:
    """The kernel's nearest centroid -> (doc_id, cluster, dist_sq, *keep):
    array_min orders the structs by the ROUNDED distance, then the lowest
    cluster id (cross-engine determinism)."""
    b = F.array_min("dists")
    return per_doc.select(
        "doc_id", b["cluster"].alias("cluster"), b["dist_sq"].alias("dist_sq"), *keep
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
) -> DataFrame:
    """Nearest-centroid assignment on sparse vectors (squared euclidean).

    ``matrix``: (doc_id, term, <weight_col>); ``centroids``: (cluster,
    term, w) — sparse, collected to the driver and broadcast (k x avg-nnz
    rows, i.e. tiny vs corpus). The same kernel and argmin as every
    ``sparse_lloyd`` iteration."""
    return _argmin(
        _doc_dists(matrix, _collect_held(centroids), weight_col, round_decimals)
    )


def scalable_kmeans_init(
    matrix: DataFrame,
    k: int,
    l: float = 10.0,
    rounds: int = 5,
    weight_col: str = "tfidf",
) -> tuple[DataFrame, dict[int, int]]:
    """M3/A15/M1: deterministic k-means|| init (Bahmani et al., VLDB'12).

    The reference hand-rolls this per reducer group with an UNSEEDED
    ``Random`` (ref sources/2.2/source/ScalableKMeans.java:86-156:
    oversample with p = l*d/psi per round, weight each candidate by its
    nearest-point count, keep the top-k by weight) — irreproducible by
    design. This version replaces the RNG with a HASH-BASED Bernoulli
    draw so the init is deterministic, partition-independent, and
    SQL-expressible (hence oracle-checkable):

        select x in round r  iff  u(x, r) < min(1, l * d(x) / psi)

    where u(x, r) is the top 60 bits of md5(``"<doc_id>_<r>"``) read as a
    uniform draw in [0, 1). The comparison happens in HEX-STRING space —
    ``substr(md5, 1, 15) < lpad(hex(floor(p * 2^60)), 15, '0')`` — which
    equals the numeric comparison (fixed-width lowercase hex is
    order-isomorphic to the integers) and both engines produce identical
    md5/hex strings, so Spark and DuckDB select byte-identical candidate
    sets. psi is the decimal(28,6) sum of the distances, cast to double.

    Candidates are documents: the driver holds their (doc_id, term, w)
    rows (the seed is the lowest doc_id; ~l more per round). Each round
    runs the per-doc kernel against them, every candidate's doc_id as its
    cluster label, twice over the cached matrix: once for psi (Catalyst
    prunes the terms away), once for the filtered collect that brings the
    picked docs' terms along. The pass is not cached: a cached aggregate
    keeps all its shuffle partitions (AQE cannot coalesce them), which
    cost more than the second pass at sf0.001 on 4 cores. For the same
    reason the matrix, which is cached here unless the caller cached it,
    keeps the partitioning it comes with: a matrix that is a shuffle's
    output should come ``doc_partitioned``, or every pass runs
    ``spark.sql.shuffle.partitions`` tasks.
    Distances are the kernel's 6dp-rounded ||d||² + ||c||² - 2·d·c, and
    its argmin's lowest-label tie-break gives each doc to the lowest-id
    candidate when the final pass counts the weights.

    Returns (init, weights): ``init`` holds the top-k by (weight desc,
    doc_id asc) as (cluster, term, w) centroid rows, cluster i being the
    i-th lowest chosen doc_id — ``sparse_lloyd``'s ``init``; ``weights``
    maps each chosen doc_id to its nearest-doc count, in ascending doc_id
    order.
    """
    two60 = 1152921504606846976.0  # 2^60
    we_cached = not matrix.is_cached
    if we_cached:
        matrix = matrix.cache()
    spark = matrix.sparkSession
    first = matrix.agg(F.min("doc_id")).collect()[0][0]
    cands = [
        (first, r["term"], r[weight_col])
        for r in matrix.where(F.col("doc_id") == first).select("term", weight_col).collect()
    ]
    terms = F.collect_list(F.struct("term", F.col(weight_col).alias("w"))).alias("terms")
    dist = F.col("dist_sq")
    for r in range(rounds):
        per_doc = _argmin(
            _doc_dists(matrix, _hold(spark, cands), weight_col, 6, terms), "terms"
        )
        psi = per_doc.agg(F.sum(dist.cast("decimal(28,6)")).cast("double")).collect()[0][0]
        if not psi:  # every doc sits on a candidate: nothing is left to draw
            continue
        p = (F.lit(float(l)) * dist) / F.lit(psi)
        draw = F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f"_{r}"))), 1, 15
        )
        # The hex threshold only exists for p < 1 (floor(p * 2^60) with
        # p > 8 overflows BIGINT, and ANSI mode would raise rather than
        # wrap) — the p >= 1 arm admits those rows anyway, and NULL from
        # the WHEN falls out of `draw < thresh` as NULL, which OR(true,
        # NULL) absorbs. d == 0 rows are existing candidates and are never
        # drawn.
        thresh = F.when(
            p < 1.0,
            F.lower(F.lpad(F.hex(F.floor(p * F.lit(two60)).cast("long")), 15, "0")),
        )
        picked = per_doc.where((dist > 0) & ((p >= 1.0) | (draw < thresh)))
        cands += [
            (row["doc_id"], t["term"], t["w"])
            for row in picked.select("doc_id", "terms").collect()
            for t in row["terms"]
        ]
    nearest = _argmin(_doc_dists(matrix, _hold(spark, cands), weight_col, 6))
    weights = dict(nearest.groupBy("cluster").count().collect())
    if we_cached:
        matrix.unpersist()
    ids = sorted({c for c, _, _ in cands})
    chosen = sorted(sorted(ids, key=lambda i: (-weights.get(i, 0), i))[:k])
    rank = {c: i for i, c in enumerate(chosen)}
    init = _centroid_frame(spark, sorted((rank[c], t, w) for c, t, w in cands if c in rank))
    return init, {c: weights.get(c, 0) for c in chosen}


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


def sparse_lloyd(
    matrix: DataFrame,
    k: int,
    max_iter: int = 5,
    weight_col: str = "tfidf",
    round_centroids: int | None = None,
    final_centroids: bool = True,
    on_iteration=None,
    cache_matrix: bool = True,
    init: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, list[float]]:
    """Full iterative Lloyd on the SPARSE matrix — task 2.2 end-to-end
    without ever materializing a dense vector. Returns (assignments,
    centroids, per-iter WCSS).

    The starting centroids are ``init`` (cluster, term, w) — e.g. the
    k-means|| pick of ``scalable_kmeans_init`` — or, when it is None,
    ``seeded_sparse_centroids(matrix, k)``. They are collected once; from
    then on the driver
    holds them (k x centroid-nnz values — at 100 TB that is KBs, while
    dense k x V would be GBs). Each iteration is ONE query: the per-doc
    kernel (``sparse_assign``'s groupBy(doc_id), which also collects each
    doc's (term, w) list) assigns every doc; its members' terms are
    exploded into ONE groupBy(cluster, term) giving the new means and
    the WCSS partials; one collect brings both back. Clusters left empty
    drop out of the next iteration.

    ``round_centroids`` enables the cross-engine float discipline (6dp
    centroids + decimal WCSS sums) so the whole trace is verifiable
    against the unrolled DuckDB oracles in plans/queries_doc_cluster.py
    (tf-idf documents) and plans/queries_cluster.py (embeddings).
    Every rounding and the decimal sum run in-plan — the driver only
    holds the values Spark rounded.

    The returned assignments are made against the returned centroids.
    ``final_centroids=False`` skips the last iteration's centroid
    recompute: the last iteration runs only the WCSS aggregate, and both
    returned frames are that iteration's (its assignment and the
    centroids it was made against).

    ``on_iteration(it, assigned, new_cents, wcss)`` is invoked after each
    iteration with the iteration's (doc_id, cluster, dist_sq) assignment
    frame, the NEW (cluster, term, w) centroid frame (None when the final
    recompute is skipped) and the iteration WCSS — the hook the
    reference-layout artifact sinks attach to (sources/artifacts.py; ref
    per-iteration writes at sources/2.2/source/KMeansReducer.java:25-131).
    The assignment frame is lazy and not cached; a centroid frame is a
    local relation of the rows the driver holds, built only when read, so
    reading it runs no Spark job (the returned centroids too).

    The matrix feeds the seed collect and every iteration's query —
    separate jobs, so it is cached here for the loop's lifetime unless
    the caller already cached it; ``cache_matrix=False`` is for callers
    whose frame is already materialized (e.g. a localCheckpoint-ed
    tf-idf matrix — is_cached cannot see RDD-level persistence, so
    without the flag we'd pin a second copy). A cache keeps the
    matrix's partitioning, and every iteration runs one task per
    partition: a matrix that is a shuffle's output should come
    ``doc_partitioned`` (a cached shuffle output keeps all
    ``spark.sql.shuffle.partitions``).
    """
    we_cached = cache_matrix and not matrix.is_cached
    if we_cached:
        matrix = matrix.cache()
    spark = matrix.sparkSession
    if init is None:
        init = seeded_sparse_centroids(matrix, k, weight_col)
    cents = _collect_held(init)
    dist = F.col("dist_sq")
    if round_centroids is not None:
        dist = dist.cast("decimal(28,6)")

    def total(s):
        return F.round(s.cast("double"), 6) if round_centroids is not None else s

    terms = F.collect_list(F.struct("term", F.col(weight_col).alias("w"))).alias("terms")
    wcss_trace: list[float] = []
    assigned = None
    for it in range(max_iter):
        per_doc = _argmin(_doc_dists(matrix, cents, weight_col, 6, terms), "terms")
        assigned = per_doc.select("doc_id", "cluster", "dist_sq")
        new_cents = None
        if final_centroids or it < max_iter - 1:
            # each doc's first term carries the doc once: its member count
            # and its distance (the WCSS partial)
            first = F.col("pos") == 0
            parts = (
                per_doc.select("cluster", dist.alias("d"), F.posexplode("terms").alias("pos", "t"))
                .groupBy("cluster", F.col("t.term").alias("term"))
                .agg(
                    F.sum("t.w").alias("w_sum"),
                    F.count(F.when(first, 1)).alias("n"),
                    F.sum(F.when(first, F.col("d"))).alias("d"),
                )
            )
            mean = F.col("w_sum") / F.sum("n").over(Window.partitionBy("cluster"))
            if round_centroids is not None:
                mean = F.round(mean, round_centroids)
            # the WCSS window goes first: its single partition already
            # satisfies the per-cluster window, which then needs no shuffle
            rows = (
                parts.withColumn("wcss", total(F.sum("d").over(Window.partitionBy())))
                .select("cluster", "term", mean.alias("w"), "wcss")
                .collect()
            )
            wcss = rows[0]["wcss"]
            cents = new_cents = _hold(spark, [r[:3] for r in rows])
        else:
            wcss = per_doc.agg(total(F.sum(dist))).collect()[0][0]
        wcss_trace.append(float(wcss))
        if on_iteration is not None:
            new_frame = None if new_cents is None else new_cents.frame()
            on_iteration(it, assigned, new_frame, wcss_trace[-1])
    if final_centroids and max_iter > 0:
        # the loop's last assignment was made against the centroids BEFORE
        # the final recompute; the returned pair must agree, so re-assign
        # against the returned centroids (lazy: no job unless it is read)
        assigned = _argmin(_doc_dists(matrix, cents, weight_col, 6))
    if we_cached:
        matrix.unpersist()
    return assigned, cents.frame(), wcss_trace


def wcss_trace_frame(spark: SparkSession, trace: list[float]) -> DataFrame:
    """(iteration INT, wcss DOUBLE) rows of a ``sparse_lloyd`` WCSS trace,
    in iteration order. Built from an Arrow table, so Spark plans it as a
    LocalRelation and collecting it runs no job (a Python list would be
    shipped as a pickled RDD, which Python workers unpickle)."""
    return spark.createDataFrame(pa.table({
        "iteration": pa.array(range(len(trace)), pa.int32()),
        "wcss": pa.array(trace, pa.float64()),
    }))
