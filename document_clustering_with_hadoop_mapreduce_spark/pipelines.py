"""End-to-end task pipelines — the reference's 8 lab drivers as functions.

A user of the reference runs `hadoop jar task1_1.jar <in> <out>`; here each
task is one function over DataFrames, composing the operator modules. Output
files use the reference's formats (MatrixMarket, `cluster,x,y` lines) via
the compat sinks, so downstream tooling keeps working.

Task -> reference driver mapping (SURVEY.md §0):
  1.1 term x doc counts      sources/1.1/source/task1_1.java
  1.2 corpus-freq >= 3       sources/1.2/source/task1_2.java
  1.3 global top-10 terms    sources/1.3/source/Task1_3.java
  1.4 TF-IDF                 sources/1.4/source/task1_4.java
  1.5 top-5 terms/category   sources/1.5/source/task_1_5.java
  2.1 2-D K-Means (euclid)   sources/2.1/source/task2_1.java
  2.2 doc K-Means (cosine)   sources/2.2/source/*.java
  2.3 same, k-means|| init   sources/2.3/source/*.java

Golden parity for the computational cores is proven in
tests/test_golden_parity.py; these facades add the I/O shell.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .compat import clean_text_ref
from .operators.doc_cluster import doc_partitioned, scalable_kmeans_init, sparse_lloyd
from .operators.term_matrix import filter_min_corpus_freq, term_totals
from .operators.tfidf import tfidf
from .operators.topk import top_k_global, top_k_per_group
from .sources.corpus import (
    load_line_dict,
    load_stopwords,
    read_corpus,
    read_points_csv,
)
from .sources.mtx import mtx_dims, read_mtx, write_mtx_single


def task_1_1_term_doc_matrix(
    spark: SparkSession,
    corpus_dir: str,
    terms_path: str,
    docs_path: str,
    stopwords_path: str,
    out_mtx: str | None = None,
    exact_ref_cleaning: bool = True,
) -> DataFrame:
    """Corpus -> (term_id, doc_id, count) triples; optional MTX file in the
    reference's exact format (banner, dims, string-sorted lines)."""
    docs = read_corpus(spark, corpus_dir, wholetext=True)
    stop = load_stopwords(spark, stopwords_path)
    terms_dict = load_line_dict(spark, terms_path, token_col="term", id_col="term_id")
    docs_dict = load_line_dict(spark, docs_path, token_col="doc_name", id_col="num_id")

    clean = clean_text_ref if exact_ref_cleaning else (lambda c: F.lower(c))
    toks = (
        docs.select(
            F.col("doc_id").alias("doc_name"),
            F.explode(F.split(F.trim("text"), r"\s+")).alias("raw"),
        )
        .select("doc_name", clean(F.col("raw")).alias("term"))
        .filter((F.col("term") != "") & ~F.col("term").isin(*stop))
    )
    matrix = (
        toks.join(F.broadcast(terms_dict), "term")
        .groupBy("term_id", "doc_name")
        .agg(F.count(F.lit(1)).alias("value"))
        .join(F.broadcast(docs_dict), "doc_name")
        .select("term_id", F.col("num_id").alias("doc_id"), "value")
    )
    if out_mtx is not None:
        n_terms = terms_dict.count()
        n_docs = docs_dict.count()
        write_mtx_single(
            matrix, out_mtx, n_terms, n_docs, int_values=True, sort="string"
        )
    return matrix


def task_1_2_min_freq_filter(
    spark: SparkSession, in_mtx: str, min_total: int = 3, out_mtx: str | None = None
) -> DataFrame:
    m = read_mtx(spark, in_mtx).withColumnRenamed("value", "cnt")
    filtered = filter_min_corpus_freq(
        m.withColumnRenamed("term_id", "term").withColumnRenamed("doc_id", "doc"),
        min_total,
    ).select(
        F.col("term").alias("term_id"),
        F.col("doc").alias("doc_id"),
        F.col("cnt").alias("value"),
    )
    if out_mtx is not None:
        # the reference passes the INPUT matrix shape through to the output
        # header (golden 1.2 output keeps `9635 2225` with a new nnz);
        # recomputing max ids would shrink the shape when the last row/col
        # filters out — and cost an extra full pass
        d = mtx_dims(in_mtx)
        write_mtx_single(
            filtered, out_mtx, d.n_rows, d.n_cols, int_values=True, sort="string"
        )
    return filtered


def task_1_3_top_terms(spark: SparkSession, in_mtx: str, n: int = 10) -> DataFrame:
    m = read_mtx(spark, in_mtx).select(
        F.col("term_id").alias("term"), F.col("value").cast("long").alias("cnt")
    )
    totals = term_totals(m)
    return top_k_global(totals, [F.col("total_freq").desc(), F.col("term").asc()], n)


def task_1_4_tfidf(
    spark: SparkSession,
    in_mtx: str,
    out_mtx: str | None = None,
    compat_n1: bool = False,
) -> DataFrame:
    """Standard tf-idf by default; ``compat_n1=True`` reproduces the
    reference's per-document 'IDF' (golden-verified to 1e-5)."""
    m = read_mtx(spark, in_mtx).select(
        "doc_id", F.col("term_id").alias("term"), F.col("value").alias("cnt")
    )
    out = tfidf(m, compat_n1=compat_n1).select(
        "doc_id",
        F.col("term").alias("term_id"),
        F.col("tfidf").alias("value"),
    )
    if out_mtx is not None:
        # reference 1.4 output: doc-first headerless triples, deduped (N2/S10)
        write_mtx_single(
            out, out_mtx, 0, 0, row_col="doc_id", col_col="term_id",
            int_values=False, banner=False, dedup=True,
        )
    return out


def task_1_5_category_top_terms(
    spark: SparkSession, tfidf_mtx: str, docs_path: str, k: int = 5
) -> DataFrame:
    """Top-k terms per category by average tf-idf, categories derived from
    the doc dictionary's `<category>.<num>` names (P8)."""
    m = read_mtx(spark, tfidf_mtx, col_order=("doc_id", "term_id"), header=False)
    docs_dict = load_line_dict(spark, docs_path, token_col="doc_name", id_col="doc_id")
    cats = docs_dict.select(
        "doc_id", F.regexp_extract("doc_name", r"^(.*)\.", 1).alias("category")
    )
    joined = m.join(F.broadcast(cats), "doc_id")
    per_cat = joined.groupBy("category").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    avg = (
        joined.groupBy("category", "term_id")
        .agg(F.sum("value").alias("s"))
        .join(F.broadcast(per_cat), "category")
        .withColumn("avg_tfidf", F.round(F.col("s") / F.col("n_docs"), 6))
        .select("category", "term_id", "avg_tfidf")
    )
    return top_k_per_group(
        avg, ["category"], [F.col("avg_tfidf").desc(), F.col("term_id").asc()], k
    )


def task_2_1_kmeans_2d(
    spark: SparkSession, points_csv: str, k: int = 3, tol: float = 1e-5,
    max_iter: int = 20,
) -> tuple[DataFrame, list[list[float]]]:
    """Euclidean K-Means on 2-D points with convergence (M7), on the sparse
    Lloyd engine of tasks 2.2/2.3.

    Each point enters as the (doc_id, term, w) triples of its coordinates,
    terms ``x1`` and ``x2``. ``doc_id`` is the point's rank over (x1, x2,
    cls), a function of the row values only: the k-means|| init's hash
    draw reads it, so an id taken from the row's place in the file would
    make the result depend on how the CSV is split. From the deterministic
    ``scalable_kmeans_init`` the task runs one ``sparse_lloyd`` step at a
    time, each from the previous centroids, and stops once no centroid
    moves by ``tol`` or more (euclidean) or after ``max_iter`` steps — the
    reference's max-displacement test (ref
    sources/2.1/source/task2_1.java:300-311). Clusters left empty drop
    out, as in every ``sparse_lloyd`` loop.

    Returns (assigned[x1, x2, cluster], centroids [[x1, x2], ...] in
    cluster order); the assignment is made against the returned
    centroids. The triples are cached for the init and the loop; the
    returned frame is lazy."""
    pts = read_points_csv(spark, points_csv).withColumn(
        "doc_id", F.row_number().over(Window.orderBy("x1", "x2", "cls"))
    )
    coords = F.create_map(F.lit("x1"), F.col("x1"), F.lit("x2"), F.col("x2"))
    m = pts.select("doc_id", F.explode(coords).alias("term", "w")).cache()

    def held(cents: DataFrame) -> dict[int, list[float]]:
        xy = {(c, t): w for c, t, w in cents.collect()}
        return {c: [xy[c, "x1"], xy[c, "x2"]] for c in sorted({c for c, _ in xy})}

    cents, _ = scalable_kmeans_init(m, k, weight_col="w")
    prev = held(cents)
    for _ in range(max_iter):
        assigned, cents, _ = sparse_lloyd(
            m, k, 1, weight_col="w", cache_matrix=False, init=cents
        )
        cur = held(cents)
        moved = max(math.dist(xy, prev[c]) for c, xy in cur.items())
        prev = cur
        if moved < tol:
            break
    m.unpersist()
    out = assigned.join(pts, "doc_id").select("x1", "x2", "cluster")
    return out, list(prev.values())


def read_unit_tfidf(spark: SparkSession, tfidf_mtx: str) -> DataFrame:
    """Task 1.4's headerless doc-first tf-idf triples as (doc_id, term,
    tfidf), each document's row L2-normalised in-plan (one window over
    doc_id). ``term`` is the term id as a string, the kernel's term key.
    A row whose norm is 0 keeps weight 0: the division only runs where the
    norm is positive (ANSI mode raises on a zero divisor).

    The rows come ``doc_partitioned``: that repartition is the window's
    one shuffle, and tasks 2.2/2.3 and the artifact writer, which cache
    the rows for their passes, keep its ``defaultParallelism`` partitions
    (left to the window, a cache keeps ``spark.sql.shuffle.partitions``)."""
    m = doc_partitioned(
        read_mtx(spark, tfidf_mtx, col_order=("doc_id", "term_id"), header=False)
    )
    norm = F.sqrt(F.sum(F.col("value") * F.col("value")).over(Window.partitionBy("doc_id")))
    return m.select(
        "doc_id",
        F.col("term_id").cast("string").alias("term"),
        F.when(norm > 0, F.col("value") / norm).otherwise(F.lit(0.0)).alias("tfidf"),
    )


def task_2_2_doc_kmeans(
    spark: SparkSession, tfidf_mtx: str, k: int = 5, max_iter: int = 10,
) -> tuple[DataFrame, DataFrame, list[float]]:
    """Document K-Means for task 2.2 on the sparse Lloyd engine
    (``sparse_lloyd``), from the deterministic seeded init (the k lowest
    doc_ids). Returns (assignments, centroids, per-iteration WCSS).

    The reference's cosine distance (correct cosine here; its N3 variant
    lives in compat) enters as unit rows (``read_unit_tfidf``). The
    objective is then exactly the squared euclidean distance of each unit
    row to its cluster's MEAN of unit rows. That is 2 - 2·cos only against
    a unit centroid, and the loop does not renormalise its centroids — so
    this is not MLlib's cosine K-Means, which renormalises every centroid.
    """
    return sparse_lloyd(read_unit_tfidf(spark, tfidf_mtx), k, max_iter)


def task_2_2_doc_kmeans_with_artifacts(
    matrix: DataFrame,
    out_folder: str,
    k: int = 5,
    max_iter: int = 3,
    weight_col: str = "tfidf",
) -> list[float]:
    """Task 2.2 with the reference's per-iteration artifact files (S11/M9):
    rotating ``task_2_2_iter<i>.clusters/.classes`` (final iteration drops
    the infix, previous iteration deleted), append-only ``.losses`` and
    ``.txt`` with per-iteration section headers — the exact layout of
    ``sources/2.2/ouput/task_2_2.*`` (ref KMeansReducer.java:25-131).

    Values come from the verified sparse Lloyd loop; the dense centroid
    lines use the term-sorted dictionary index (the documented N5 fix —
    the reference's slots were reducer-arrival-ordered). The k x V dense
    TEXT is assembled executor-side (``doc_kmeans_cluster_lines``) and
    streamed out k lines at a time, ``write_mtx_single``-style — the
    driver holds nothing vocab-sized (the reference shipped k x V
    centroid strings through job config; this sink reproduces the FILE,
    not the anti-pattern). A compat sink, not the scale path — the
    engine's centroids stay sparse.

    Returns the per-iteration WCSS trace.
    """
    from .sources.artifacts import (
        clean_artifact_folder,
        doc_kmeans_cluster_lines,
        write_doc_kmeans_iteration,
    )

    clean_artifact_folder(out_folder)
    spark = matrix.sparkSession
    # term dictionary as a FRAME (term -> sorted rank), reused every
    # iteration's broadcast join — never collected to the driver
    vocab = (
        matrix.select("term")
        .distinct()
        .withColumn("term_idx", F.row_number().over(Window.orderBy("term")) - 1)
        .localCheckpoint(eager=False)
    )
    v_size = vocab.count()

    def on_iteration(it, assigned, new_cents, wcss):
        if new_cents is not None:
            # two consumers (the .clusters lines + the top-10 window)
            idx = (
                new_cents.join(F.broadcast(vocab), "term")
                .select(
                    "cluster",
                    F.col("term_idx").cast("int").alias("term_idx"),
                    F.col("w").cast("double").alias("w"),
                )
                .localCheckpoint(eager=False)
            )
        else:
            idx = None
        lines = doc_kmeans_cluster_lines(spark, idx, v_size=v_size, k=k)
        losses_rows = (
            assigned.groupBy("cluster").agg(F.sum("dist_sq").alias("loss")).collect()
        )
        loss_by_cluster = {r["cluster"]: float(r["loss"]) for r in losses_rows}
        losses = [loss_by_cluster.get(c, 0.0) for c in range(k)]
        top10: list[list[tuple[float, int]]] = [[] for _ in range(k)]
        if idx is not None:
            w10 = Window.partitionBy("cluster").orderBy(F.desc("w"), F.asc("term_idx"))
            rows10 = (
                idx.where(F.col("w") != 0.0)
                .withColumn("rn", F.row_number().over(w10))
                .where(F.col("rn") <= 10)
                .orderBy("cluster", "rn")
                .collect()  # k x 10 rows — bounded
            )
            for r in rows10:
                top10[r["cluster"]].append((float(r["w"]), int(r["term_idx"])))
        write_doc_kmeans_iteration(
            out_folder, it, max_iter, assigned, lines, losses, top10=top10
        )

    _, _, trace = sparse_lloyd(
        matrix, k=k, max_iter=max_iter, weight_col=weight_col,
        on_iteration=on_iteration,
    )
    return trace


def task_2_3_doc_kmeans_scalable(
    spark: SparkSession, tfidf_mtx: str, k: int = 5, max_iter: int = 10,
) -> tuple[DataFrame, DataFrame, list[float]]:
    """Task 2.3 = task 2.2 started from the deterministic k-means|| init
    (``scalable_kmeans_init``, the Bahmani et al. algorithm the reference
    hand-rolls) on the same unit rows. The rows are cached for the init's
    passes and the Lloyd loop; the returned frames are lazy."""
    m = read_unit_tfidf(spark, tfidf_mtx).cache()
    init, _ = scalable_kmeans_init(m, k)
    out = sparse_lloyd(m, k, max_iter, init=init)
    m.unpersist()
    return out
