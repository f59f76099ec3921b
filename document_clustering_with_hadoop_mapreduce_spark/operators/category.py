"""Per-category aggregate reports.

Reference parity (SURVEY.md §2.3 A7-A9; ref sources/1.5/source/task_1_5.java):
task 1.5 computes, per category, each term's average TF-IDF
(sum over the category's docs / number of distinct docs in the category) and
reports the top-5 terms per category.

The reference derives category from the doc name (P8) and joins term strings
from a replicated list (J3/J4); here the category is any column of the
documents table and the "joins" are column references — no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def category_avg_tfidf(tfidf_matrix: DataFrame, doc_categories: DataFrame) -> DataFrame:
    """A7+A8: (category, term, avg_tfidf).

    avg_tfidf = sum(tfidf over docs in category) / countDistinct(doc in
    category). ``doc_categories`` is (doc_id, category) — tiny relative to
    the matrix, but the join key is doc_id on the BIG side, so we broadcast
    the category map and keep the matrix un-shuffled until the group-by.

    The per-(category,term) sums AND the per-category distinct-doc counts
    come from ONE rollup aggregate (grouping sets) over the joined matrix:
    two separate groupBys would execute the whole upstream tokenize->tfidf
    pipeline twice (measured ~2x the query cost at sf0.1). The per-category
    count (the ``_g_term == 1`` subtotal row) is then attached to each
    (category, term) row with a window over the rollup output — a single
    consumer of the aggregate, so the expensive upstream sits under exactly
    one plan subtree and nothing needs ``.cache()`` (a previous two-branch
    version cached the rollup frame and leaked it for the session lifetime).
    The window shuffles only the category x vocabulary sized aggregate —
    tiny next to the matrix.
    """
    from pyspark.sql import Window

    joined = tfidf_matrix.join(F.broadcast(doc_categories), "doc_id")
    gs = (
        joined.rollup("category", "term")
        .agg(
            F.sum("tfidf").alias("sum_tfidf"),
            F.countDistinct("doc_id").alias("nd"),
            F.grouping("term").alias("_g_term"),
            F.grouping("category").alias("_g_cat"),
        )
        .filter(F.col("_g_cat") == 0)  # drop the grand-total row
    )
    w = Window.partitionBy("category")
    return (
        gs.withColumn(
            "n_docs_in_cat",
            F.max(F.when(F.col("_g_term") == 1, F.col("nd"))).over(w),
        )
        .filter(F.col("_g_term") == 0)
        .select(
            "category",
            "term",
            (F.col("sum_tfidf") / F.col("n_docs_in_cat")).alias("avg_tfidf"),
        )
    )
