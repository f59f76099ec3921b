"""Sparse document-clustering query surface (task 2.2 Spark-first) +
the task 1.5 formatted report (P9/P10).

``doc_kmeans_assign`` / ``doc_cluster_top_terms`` are the oracle-checked
sparse re-expression of the reference's dense pipeline: assignment is
relational algebra over tf-idf triples (see operators/doc_cluster.py), so
DuckDB verifies every distance and every ranked term.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cluster_eval import (
    clustering_metrics,
    metrics_oracle_ctes,
    silhouette_oracle_cte,
    simplified_silhouette,
)
from ..operators.doc_cluster import (
    assign_from_dists,
    cluster_top_terms,
    doc_partitioned,
    seeded_sparse_centroids,
    sparse_assign,
    sparse_dists,
)
from ..operators.term_matrix import term_doc_counts
from ..operators.tfidf import tfidf
from ..sources.tables import load_table
from .oracles import TFIDF_CTE
from .registry import _n_docs, register

K = 5

# sparse centroids = tf-idf rows of the K lowest doc_ids; distance by
# ||d||^2 + ||c||^2 - 2*dot, a zero-overlap pair's dot being 0 — the
# algebra of operators.doc_cluster.sparse_assign (which takes all K dots
# in one per-doc aggregate; the oracle spells out the grid).
# AS MATERIALIZED: DuckDB inlines a CTE at every reference; cents feeds
# cent_ss and dots, and doc_cluster_top_terms reads assign in its
# silhouette CTE and through members, which its label-metric CTEs read
# about ten times — un-materialised, each reference replays the grid.
_ASSIGN_CTES = f"""{TFIDF_CTE},
seed_docs AS (
  SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS cluster
  FROM (SELECT DISTINCT doc_id FROM tfidf) ORDER BY doc_id LIMIT {K}
),
cents AS MATERIALIZED (
  SELECT s.cluster, t.term, t.tfidf AS w
  FROM tfidf t JOIN seed_docs s USING (doc_id)
),
doc_ss AS (SELECT doc_id, sum(tfidf * tfidf) AS doc_ss FROM tfidf GROUP BY doc_id),
cent_ss AS (SELECT cluster, sum(w * w) AS c_ss FROM cents GROUP BY cluster),
dots AS (
  SELECT t.doc_id, c.cluster, sum(t.tfidf * c.w) AS dot
  FROM tfidf t JOIN cents c USING (term)
  GROUP BY t.doc_id, c.cluster
),
dists AS (
  SELECT d.doc_id, s.cluster,
         round(greatest(d.doc_ss + s.c_ss - 2 * coalesce(o.dot, 0), 0), 6) AS dist_sq
  FROM doc_ss d CROSS JOIN cent_ss s
  LEFT JOIN dots o ON o.doc_id = d.doc_id AND o.cluster = s.cluster
),
assign AS MATERIALIZED (
  SELECT doc_id, cluster, dist_sq,
         row_number() OVER (PARTITION BY doc_id ORDER BY dist_sq ASC, cluster ASC) AS rn
  FROM dists
)"""


def _tfidf_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Lazily materialize the tf-idf matrix: its consumers (the seed
    # collect, every Lloyd iteration's per-doc kernel, the top-terms
    # ranking) each reference it and Catalyst does NOT unify the subtrees
    # (the tokenize-lambda canonicalization failure — see
    # operators/dedup.py), so without this the corpus is re-tokenized per
    # consumer. One nnz-sized executor-storage materialization replaces
    # those repeat scans at any scale.
    # ONE materialization: with a driver-known n_docs (parquet footer
    # count, mirrors the reference's totalDocs side-channel) the count
    # matrix inside tfidf is single-consumer and needs no checkpoint of
    # its own; only the tf-idf output is pinned here.
    # doc_partitioned BEFORE the checkpoint: left to AQE, the small tf-idf
    # shuffle output coalesces to ONE partition and the checkpoint pins it.
    docs = load_table(spark, sf_dir, "documents")
    return doc_partitioned(
        tfidf(term_doc_counts(docs), n_docs=_n_docs(spark, sf_dir))
    ).localCheckpoint(eager=False)


@register(
    "doc_kmeans_assign",
    f"""{_ASSIGN_CTES}
    SELECT doc_id, cluster::INT AS cluster, dist_sq FROM assign WHERE rn = 1""",
    "task 2.2 Spark-first: nearest-centroid assignment of tf-idf documents "
    "on SPARSE vectors via relational algebra (||d||^2+||c||^2-2 dot; no "
    "dense pivot — ref dense pipeline sources/2.2/source/ConvertInput.java)",
)
def q_doc_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _tfidf_matrix(spark, sf_dir)
    cents = seeded_sparse_centroids(m, K)
    return sparse_assign(m, cents)


@register(
    "doc_cluster_top_terms",
    f"""{_ASSIGN_CTES},
    members AS (SELECT doc_id, cluster FROM assign WHERE rn = 1),
    n_members AS (SELECT cluster, count(*) AS n_members FROM members GROUP BY cluster),
    means AS (
      SELECT m.cluster, t.term,
             round(sum(t.tfidf) / any_value(n.n_members), 6) AS mean_w
      FROM tfidf t JOIN members m USING (doc_id) JOIN n_members n ON n.cluster = m.cluster
      GROUP BY m.cluster, t.term
    ),
    ranked AS (
      SELECT cluster::INT AS cluster, term, mean_w,
             row_number() OVER (PARTITION BY cluster ORDER BY mean_w DESC, term ASC)::INT AS rank
      FROM means
    ),{metrics_oracle_ctes("members", "SELECT doc_id, lang AS label FROM documents")},{silhouette_oracle_cte("assign")}
    SELECT 'term' AS kind, cluster, term, mean_w, rank FROM ranked WHERE rank <= 10
    UNION ALL
    SELECT 'metric', -1::INT, metric, value, 0::INT FROM clu_metrics
    UNION ALL
    SELECT 'metric', -1::INT, metric, value, 0::INT FROM clu_sil""",
    "A14 re-expressed: top-10 terms per document cluster by mean tf-idf "
    "(ref sources/2.2/source/KMeansReducer.java:138-150, tie-collapse fixed); "
    "FUSED since round 6 with kind='metric' rows — external clustering "
    "evaluation (ARI / NMI / purity vs documents.lang) plus the internal "
    "simplified silhouette, which the reference never computed; hash-gated "
    "against the same pair-counting / distance algebra in DuckDB",
)
def q_doc_cluster_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _tfidf_matrix(spark, sf_dir)
    cents = seeded_sparse_centroids(m, K)
    # the distance grid feeds assignment AND silhouette; the assignment
    # feeds top-terms AND the label metrics — pin each once instead of
    # replaying the distance algebra per consumer
    dists = sparse_dists(m, cents).localCheckpoint(eager=False)
    assigned = assign_from_dists(dists).localCheckpoint(eager=False)
    terms = cluster_top_terms(m, assigned, k_terms=10).select(
        F.lit("term").alias("kind"), "cluster", "term", "mean_w", "rank"
    )
    labels = load_table(spark, sf_dir, "documents", fan_out=False).select(
        "doc_id", F.col("lang").alias("label")
    )
    metrics = clustering_metrics(assigned, labels).unionByName(
        simplified_silhouette(dists)
    ).select(
        F.lit("metric").alias("kind"),
        F.lit(-1).alias("cluster"),
        F.col("metric").alias("term"),
        F.col("value").alias("mean_w"),
        F.lit(0).alias("rank"),
    )
    return terms.unionByName(metrics)


@register(
    "category_report",
    f"""{TFIDF_CTE},
    cats AS (SELECT DISTINCT doc_id, lang AS category FROM documents),
    joined AS (SELECT c.category, t.term, t.tfidf, t.doc_id FROM tfidf t JOIN cats c USING (doc_id)),
    per_cat AS (SELECT category, count(DISTINCT doc_id) AS n_docs_in_cat FROM joined GROUP BY category),
    avg_t AS (
      SELECT j.category, j.term, sum(j.tfidf) / any_value(p.n_docs_in_cat) AS avg_tfidf
      FROM joined j JOIN per_cat p USING (category) GROUP BY j.category, j.term
    ),
    ranked AS (
      SELECT category, term, round(avg_tfidf, 6) AS avg_tfidf,
             row_number() OVER (PARTITION BY category ORDER BY round(avg_tfidf, 6) DESC, term ASC) AS rank
      FROM avg_t
    ),
    top5 AS (SELECT * FROM ranked WHERE rank <= 5)
    SELECT concat(upper(substring(category, 1, 1)), substring(category, 2)) || ': ' ||
           string_agg(term || ':' || round(avg_tfidf, 2), ', ' ORDER BY rank) AS report_line
    FROM top5 GROUP BY category""",
    "P9/P10: the task 1.5 report lines — 'Business: term:0.12, ...' with "
    "initcap label and 2-decimal values "
    "(ref sources/1.5/source/task_1_5.java:127-140)",
)
def q_category_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.category import category_avg_tfidf
    from ..operators.topk import top_k_per_group

    docs = load_table(spark, sf_dir, "documents")
    m = tfidf(term_doc_counts(docs), n_docs=_n_docs(spark, sf_dir))
    # broadcast-bound 2-column dim: skip the fan-out shuffle
    cats = load_table(spark, sf_dir, "documents", fan_out=False).select(
        "doc_id", F.col("lang").alias("category")
    )
    avg = category_avg_tfidf(m, cats).withColumn("avg_tfidf", F.round("avg_tfidf", 6))
    top5 = top_k_per_group(
        avg, ["category"], [F.col("avg_tfidf").desc(), F.col("term").asc()], 5
    )
    return (
        top5.groupBy("category")
        .agg(
            F.concat_ws(
                ", ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rank", "term", "avg_tfidf"))
                    ),
                    lambda s: F.concat_ws(":", s["term"], F.round(s["avg_tfidf"], 2).cast("string")),
                ),
            ).alias("terms_fmt"),
        )
        .select(
            F.concat(F.initcap(F.substring("category", 1, 1)),
                     F.expr("substring(category, 2)"),
                     F.lit(": "), F.col("terms_fmt")).alias("report_line")
        )
    )


def _sparse_lloyd_oracle(k: int, iters: int) -> str:
    """Unrolled sparse Lloyd in DuckDB SQL over the tf-idf triples — the
    exact algebra of operators.doc_cluster.sparse_lloyd(round_centroids=6):
    per iteration, ||d||^2+||c||^2-2·dot assignment on 6dp-rounded
    distances, decimal WCSS, then 6dp-rounded sparse centroid recompute
    (empty clusters drop out, same as the Spark side)."""
    # AS MATERIALIZED: DuckDB inlines a CTE at every reference; cents{i+1}
    # reads members{i} twice (directly and via nm{i}), and each of those
    # reaches cents{i} twice (cent_ss{i}, dots{i}) — un-materialised the
    # chain re-expands exponentially in the iterations.
    ctes = [
        f"""seed_docs AS (
  SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS cluster
  FROM (SELECT DISTINCT doc_id FROM tfidf) ORDER BY doc_id LIMIT {k}
)""",
        """cents0 AS MATERIALIZED (
  SELECT s.cluster, t.term, t.tfidf AS w
  FROM tfidf t JOIN seed_docs s USING (doc_id)
)""",
        "doc_ss AS MATERIALIZED "
        "(SELECT doc_id, sum(tfidf * tfidf) AS doc_ss FROM tfidf GROUP BY doc_id)",
    ]
    wcss_parts = []
    for i in range(iters):
        c = f"cents{i}"
        ctes.append(
            f"cent_ss{i} AS (SELECT cluster, sum(w * w) AS c_ss FROM {c} GROUP BY cluster)"
        )
        ctes.append(f"""dots{i} AS (
  SELECT t.doc_id, c.cluster, sum(t.tfidf * c.w) AS dot
  FROM tfidf t JOIN {c} c USING (term)
  GROUP BY t.doc_id, c.cluster
)""")
        ctes.append(f"""assign{i} AS MATERIALIZED (
  SELECT doc_id, cluster, dist_sq,
         row_number() OVER (PARTITION BY doc_id ORDER BY dist_sq ASC, cluster ASC) AS rn
  FROM (
    SELECT d.doc_id, s.cluster,
           round(greatest(d.doc_ss + s.c_ss - 2 * coalesce(o.dot, 0), 0), 6) AS dist_sq
    FROM doc_ss d CROSS JOIN cent_ss{i} s
    LEFT JOIN dots{i} o ON o.doc_id = d.doc_id AND o.cluster = s.cluster
  )
)""")
        wcss_parts.append(
            f"SELECT {i} AS iteration, "
            f"round(CAST(sum(CAST(dist_sq AS DECIMAL(28,6))) AS DOUBLE), 6) AS wcss "
            f"FROM assign{i} WHERE rn = 1"
        )
        if i < iters - 1:
            ctes.append(
                f"members{i} AS MATERIALIZED (SELECT doc_id, cluster FROM assign{i} WHERE rn = 1)"
            )
            ctes.append(
                f"nm{i} AS (SELECT cluster, count(*) AS n FROM members{i} GROUP BY cluster)"
            )
            ctes.append(f"""cents{i + 1} AS MATERIALIZED (
  SELECT m.cluster, t.term, round(sum(t.tfidf) / any_value(n.n), 6) AS w
  FROM tfidf t JOIN members{i} m USING (doc_id) JOIN nm{i} n ON n.cluster = m.cluster
  GROUP BY m.cluster, t.term
)""")
    union = " UNION ALL ".join(wcss_parts)
    return (
        f"{TFIDF_CTE},\n" + ",\n".join(ctes)
        + f"\nSELECT iteration, wcss FROM ({union}) ORDER BY iteration"
    )


@register(
    "doc_kmeans_sparse_trace",
    _sparse_lloyd_oracle(K, 3),
    "task 2.2 full loop VALUE-GATED, sparse end-to-end: iterative Lloyd "
    "over tf-idf triples (driver-held sparse centroids, one per-doc "
    "assignment aggregate + one (cluster, term) recompute aggregate per "
    "iteration, centroids never densified, 6dp float discipline) -> "
    "per-iteration WCSS, hash-verified against an unrolled DuckDB CTE",
)
def q_doc_kmeans_sparse_trace(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.doc_cluster import sparse_lloyd, wcss_trace_frame

    m = _tfidf_matrix(spark, sf_dir)
    _, _, trace = sparse_lloyd(m, k=K, max_iter=3, round_centroids=6,
                               final_centroids=False, cache_matrix=False)
    return wcss_trace_frame(spark, trace)
