"""Term-document matrix operators.

Reference parity (SURVEY.md §2.3):
- A1 term x doc counts       (ref sources/1.1/source/task1_1.java:40-74)
- A2 min-corpus-freq filter  (ref sources/1.2/source/task1_2.java:45-68)
- A3 per-term global sums    (ref sources/1.3/source/Task1_3.java:23-45)

All shapes are single shuffles with map-side partial aggregation (Spark's
partial/final HashAggregate replaces the reference's combiner). The A2
"group-HAVING with member fan-back" uses a window over the already-grouped
matrix instead of the reference's re-emit-the-group reducer — one exchange,
no self-join, no whole-group buffering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import STOPWORDS, explode_tokens


def term_doc_counts(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    stopwords: tuple[str, ...] = STOPWORDS,
) -> DataFrame:
    """A1: (doc_id, term, cnt) sparse count matrix.

    tokenize -> clean -> stopword-drop -> hash aggregate. The explode happens
    map-side and the aggregate is partial+final, so shuffle volume is the
    distinct (doc, term) pairs, not the token stream.
    """
    terms = documents.select(
        F.col(id_col).alias("doc_id"),
        explode_tokens(F.col(text_col), stopwords).alias("term"),
    )
    return terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("cnt"))


def filter_min_corpus_freq(matrix: DataFrame, min_total: int = 3) -> DataFrame:
    """A2: keep all (doc, term) rows of terms whose corpus-wide total >= N.

    Window-sum per term, then filter — the fan-back is free because the rows
    are already present (no join). The reference's combiner-as-reducer bug
    (SURVEY.md §2.7-N7) cannot occur: the window sees the global sum.

    Hot-key bound: the window buffers every row of a term in one task;
    AQE cannot split a window partition."""
    w = Window.partitionBy("term")
    return (
        matrix.withColumn("corpus_freq", F.sum("cnt").over(w))
        .filter(F.col("corpus_freq") >= min_total)
        .drop("corpus_freq")
    )


def term_totals(matrix: DataFrame) -> DataFrame:
    """A3: corpus-wide frequency per term."""
    return matrix.groupBy("term").agg(F.sum("cnt").alias("total_freq"))
