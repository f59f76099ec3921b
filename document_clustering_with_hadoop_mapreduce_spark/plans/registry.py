"""The declared query surface: name -> (Spark callable, DuckDB oracle SQL).

Each entry is one operator/query from SURVEY.md §2 (or a north-star
extension). The driver runs the Spark side and the oracle side-by-side at
sf0.01 and hash-compares values, so:

- every computed column is ALIASED IDENTICALLY in both,
- every float aggregate is rounded to 6 decimals in both (summation order
  differs between engines; rounding absorbs last-ulp noise),
- every top-k has a total deterministic ordering (explicit tie-breaks).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.term_matrix import filter_min_corpus_freq, term_doc_counts, term_totals
from ..operators.tfidf import tfidf
from ..operators.topk import top_k_global
from ..sources.tables import load_table
from .oracles import MATRIX_CTE, TFIDF_CTE

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    spark: SparkQuery
    oracle: str | None  # None => non-SQL-expressible, rows-only check
    description: str = ""


_REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None, description: str = ""):
    def deco(fn: SparkQuery) -> SparkQuery:
        _REGISTRY[name] = Query(name, fn, oracle, description)
        return fn

    return deco


def all_queries() -> dict[str, Query]:
    # Import for registration side effects (text queries live in this
    # module). ORDER MATTERS: the driver gate records queries in dict
    # order with a finite budget, so the reference-parity surfaces
    # (doc-cluster, kmeans) register right after the text pipeline and
    # the rows-only/no-oracle entries land last.
    from . import queries_doc_cluster  # noqa: F401
    from . import queries_relational  # noqa: F401
    from . import queries_dedup  # noqa: F401
    from . import queries_similarity  # noqa: F401
    from . import queries_events  # noqa: F401
    from . import queries_cluster  # noqa: F401
    from . import queries_multimodal  # noqa: F401

    return dict(_REGISTRY)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


_N_DOCS_CACHE: dict[str, int] = {}


def _n_docs(spark: SparkSession, sf_dir: str) -> int:
    """Driver-known corpus size (parquet footer count; no data scan).

    Mirrors the reference's ``totalDocs`` config side-channel (S12, ref
    sources/1.4/source/task1_4.java:46-49) and keeps the count matrix
    single-consumer inside ``tfidf`` — no checkpoint, no second scan.
    Cached per sf_dir: the fixture parquet is immutable within a process
    lifetime, and repeat invocations (bench runs, the driver gate) should
    not pay a count job each time. Keyed on the canonical realpath
    (``caches.sf_key``) so spelling variants of one directory share the
    entry; ``caches.clear_caches()`` is the staleness escape hatch.
    """
    from ..caches import sf_key

    key = sf_key(sf_dir)
    if key not in _N_DOCS_CACHE:
        # fan_out=False: a count needs no repartition — with the fan-out the
        # "footer count" would schedule a scan + exchange for nothing
        _N_DOCS_CACHE[key] = load_table(
            spark, sf_dir, "documents", fan_out=False
        ).count()
    return _N_DOCS_CACHE[key]


# --------------------------------------------------------------------------
# Text / matrix pipeline (reference tasks 1.1-1.5)
# --------------------------------------------------------------------------

@register(
    "term_doc_matrix",
    f"{MATRIX_CTE} SELECT doc_id, term, cnt FROM matrix",
    "A1/S1-S5: tokenize+clean+stopword-drop -> sparse (doc,term,cnt) matrix "
    "(ref sources/1.1/source/task1_1.java:40-74)",
)
def q_term_doc_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return term_doc_counts(_docs(spark, sf_dir))


@register(
    "term_filter_min3",
    f"""{MATRIX_CTE},
    tot AS (SELECT *, sum(cnt) OVER (PARTITION BY term) AS corpus_freq FROM matrix)
    SELECT doc_id, term, cnt FROM tot WHERE corpus_freq >= 3""",
    "A2: group-HAVING with member fan-back, corpus freq >= 3 "
    "(ref sources/1.2/source/task1_2.java:45-68)",
)
def q_term_filter_min3(spark: SparkSession, sf_dir: str) -> DataFrame:
    return filter_min_corpus_freq(term_doc_counts(_docs(spark, sf_dir)), 3)


@register(
    "top_terms_global",
    f"""{MATRIX_CTE}
    SELECT term, CAST(sum(cnt) AS BIGINT) AS total_freq FROM matrix GROUP BY term
    ORDER BY total_freq DESC, term ASC LIMIT 10""",
    "A3+A4: global top-10 terms by corpus frequency "
    "(ref sources/1.3/source/Task1_3.java:34-63)",
)
def q_top_terms_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    totals = term_totals(term_doc_counts(_docs(spark, sf_dir)))
    return top_k_global(totals, [F.col("total_freq").desc(), F.col("term").asc()], 10)


@register(
    "tfidf_standard",
    f"{TFIDF_CTE} SELECT doc_id, term, round(tfidf, 6) AS tfidf FROM tfidf",
    "A5+A6: standard tf-idf, tf = cnt/doc_total, idf = ln(N/df_term) "
    "(ref sources/1.4/source/task1_4.java:76-141, corrected semantics)",
)
def q_tfidf_standard(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = tfidf(term_doc_counts(_docs(spark, sf_dir)), n_docs=_n_docs(spark, sf_dir))
    return m.select("doc_id", "term", F.round("tfidf", 6).alias("tfidf"))


@register(
    "tfidf_compat_n1",
    f"""{MATRIX_CTE},
    tf AS (
      SELECT doc_id, term, cnt,
             cnt::DOUBLE / sum(cnt) OVER (PARTITION BY doc_id) AS tf
      FROM matrix
    ),
    n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents)
    SELECT doc_id, term,
           round(tf * ln(n.n_docs / count(*) OVER (PARTITION BY doc_id)), 6) AS tfidf
    FROM tf, n""",
    "N1 bug-compat tf-idf: 'idf' counts distinct terms per DOCUMENT "
    "(ref sources/1.4/source/task1_4.java:110-128, SURVEY.md §2.7-N1)",
)
def q_tfidf_compat_n1(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = tfidf(
        term_doc_counts(_docs(spark, sf_dir)),
        n_docs=_n_docs(spark, sf_dir),
        compat_n1=True,
    )
    return m.select("doc_id", "term", F.round("tfidf", 6).alias("tfidf"))


@register(
    "category_top_terms",
    f"""{TFIDF_CTE},
    cats AS (SELECT DISTINCT doc_id, lang AS category FROM documents),
    joined AS (SELECT c.category, t.term, t.tfidf, t.doc_id FROM tfidf t JOIN cats c USING (doc_id)),
    per_cat AS (SELECT category, count(DISTINCT doc_id) AS n_docs_in_cat FROM joined GROUP BY category),
    avg_t AS (
      SELECT j.category, j.term, sum(j.tfidf) / any_value(p.n_docs_in_cat) AS avg_tfidf
      FROM joined j JOIN per_cat p USING (category) GROUP BY j.category, j.term
    ),
    ranked AS (
      -- rank on the ROUNDED value: fp summation noise differs across
      -- engines, rounding first makes structural ties break on `term`
      SELECT category, term, round(avg_tfidf, 6) AS avg_tfidf,
             row_number() OVER (PARTITION BY category ORDER BY round(avg_tfidf, 6) DESC, term ASC)::INT AS rank
      FROM avg_t
    )
    SELECT category, term, avg_tfidf, rank FROM ranked WHERE rank <= 5""",
    "A7-A9: top-5 terms per category by average tf-idf "
    "(ref sources/1.5/source/task_1_5.java; category = documents.lang)",
)
def q_category_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.category import category_avg_tfidf
    from ..operators.topk import top_k_per_group

    docs = _docs(spark, sf_dir)
    m = tfidf(term_doc_counts(docs), n_docs=_n_docs(spark, sf_dir))
    # the category dim is a 2-column projection headed into a broadcast —
    # fanning it out first would shuffle rows only to collect them again
    cats = load_table(spark, sf_dir, "documents", fan_out=False).select(
        "doc_id", F.col("lang").alias("category")
    )
    avg = category_avg_tfidf(m, cats).withColumn("avg_tfidf", F.round("avg_tfidf", 6))
    return top_k_per_group(avg, ["category"], [F.col("avg_tfidf").desc(), F.col("term").asc()], 5)
