"""TF-IDF over the sparse (doc_id, term, cnt) matrix.

Reference parity (SURVEY.md §2.3 A5-A6 and §2.7-N1):
- A5 tf   = cnt / sum(cnt) per doc        (ref sources/1.4/source/task1_4.java:76-98)
- A6 idf  = ln(N / df) and tfidf = tf*idf (ref sources/1.4/source/task1_4.java:110-141)

The reference's two chained MR jobs with an HDFS materialization between
them collapse into ONE lazy plan with two window exchanges; Catalyst
pipelines them. ``compat_n1=True`` reproduces the reference's defective
"IDF" that counts distinct terms per DOCUMENT (doc-keyed group, verified to
6 decimals against the golden output — SURVEY.md §2.7-N1) instead of
documents per term.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def tf(matrix: DataFrame) -> DataFrame:
    """A5: term frequency as a ratio of the document's token mass."""
    w = Window.partitionBy("doc_id")
    return matrix.withColumn("tf", F.col("cnt") / F.sum("cnt").over(w))


def tfidf(
    matrix: DataFrame,
    n_docs: int | None = None,
    compat_n1: bool = False,
) -> DataFrame:
    """(doc_id, term, cnt, tf, idf, tfidf).

    ``n_docs`` may be passed (driver-known scalar — the reference-faithful
    path: task1_4 reads ``totalDocs`` from the MTX dims line into the job
    config, ref sources/1.4/source/task1_4.java:46-49,115) or derived with
    a distinct-count aggregate if omitted. PREFER passing it: a parquet
    footer count is nearly free, and with a known N the matrix has exactly
    one consumer. Without it the distinct-count branch is a second consumer
    of the matrix, which Catalyst does not unify with the first (the
    tokenize-lambda canonicalization failure; plan-audited: two FileScans),
    so the matrix pipeline runs twice: cheap for an already-written
    triples file (task 1.4), a second tokenize pass for a text corpus.

    Hot-key bound: the standard per-term df window buffers every row of a
    term in one task; AQE cannot split a window partition.
    """
    if compat_n1:
        # N1: "df" is the number of distinct terms in the same DOCUMENT.
        w = Window.partitionBy("doc_id")
    else:
        w = Window.partitionBy("term")
    if n_docs is not None:
        with_n = tf(matrix)
        n_col = F.lit(float(n_docs))
    else:
        with_tf = tf(matrix)
        n_df = matrix.agg(F.countDistinct("doc_id").cast("double").alias("__n_docs"))
        with_n = with_tf.crossJoin(F.broadcast(n_df))
        n_col = F.col("__n_docs")
    with_df = with_n.withColumn("df", F.count(F.lit(1)).over(w))
    return (
        with_df.withColumn("idf", F.log(n_col / F.col("df")))
        .withColumn("tfidf", F.col("tf") * F.col("idf"))
        .drop("df", "__n_docs")
    )
