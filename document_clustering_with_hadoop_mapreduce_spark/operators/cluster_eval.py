"""External clustering-evaluation metrics: ARI, NMI, purity — distributed.

The reference repo clusters documents but never MEASURES its clusters (its
report eyeballs top terms; SURVEY.md §5 — and recomputing its committed
assignments shows near-random ARI, tests/test_cluster_quality.py). An
engine that ships k-means must also ship the evaluation: Adjusted Rand
Index (Hubert & Arabie 1985), Normalized Mutual Information, and purity,
all derived from ONE contingency-table aggregate.

Scale shape: the only corpus-sized work is a single (cluster, label)
groupBy with map-side partial aggregation — one exchange over n rows.
Everything after operates on the contingency table, which is k x L rows
(clusters x distinct labels), bounded by model size, not data size: one
exchange moves it into a single partition, where window columns attach
the grand total and the cluster and label margins, and ONE global
aggregate sums every term — no scalar cross-joins, and the table has a
single consumer, so the upstream assignment plan runs once.

Float discipline (cross-engine determinism, the repo-wide rule): all
pair-counting sums (ARI, purity) are exact integer arithmetic until one
final division; NMI's per-cell ln() terms are rounded to 12 decimals and
summed as DECIMAL(38,12) so the result is independent of summation order
on both engines, then everything rounds to 6 decimals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def contingency(
    assign: DataFrame,
    labels: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster",
    label_col: str = "label",
) -> DataFrame:
    """(cluster, label, n_ij): one inner join + one counted exchange."""
    return (
        assign.select(id_col, cluster_col)
        .join(labels.select(id_col, label_col), id_col)
        .groupBy(cluster_col, label_col)
        .agg(F.count(F.lit(1)).alias("n_ij"))
    )


def _comb2(c: F.Column) -> F.Column:
    """C(c, 2) as exact BIGINT arithmetic: c*(c-1) is even, so a right
    shift halves it without ever leaving integer space (a float division
    would silently round once c exceeds ~94M and the product passes 2^53 —
    a margin a 100 TB corpus actually reaches). Exact until the product
    itself overflows BIGINT at c ~ 3e9 rows per margin."""
    return F.shiftright((c * (c - F.lit(1))).cast("long"), 1)


def clustering_metrics(
    assign: DataFrame,
    labels: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster",
    label_col: str = "label",
) -> DataFrame:
    """(metric, value) rows: n, purity, ari, nmi — 6dp-rounded doubles.

    ARI  = (S_ij - S_a*S_b/S_n) / ((S_a+S_b)/2 - S_a*S_b/S_n)
           with S_* the pair-count sums over contingency cells / row
           margins / column margins / the grand total.
    NMI  = I(U;V) / sqrt(H(U) * H(V)) (natural log), 0 when either
           partition is a single block (H = 0, the sklearn convention).
    purity = sum_i max_j n_ij / n.
    """
    # n's global window goes first: its single partition already satisfies
    # the per-cluster and per-label windows and the final aggregate, so
    # nothing after it exchanges
    by_c = Window.partitionBy(cluster_col)
    by_l = Window.partitionBy(label_col)
    cont = (
        contingency(assign, labels, id_col, cluster_col, label_col)
        .withColumn("n", F.sum("n_ij").over(Window.partitionBy()))
        .withColumn("a_i", F.sum("n_ij").over(by_c))
        .withColumn("m_i", F.max("n_ij").over(by_c))
        .withColumn("b_j", F.sum("n_ij").over(by_l))
        # one flag per cluster / per label: its margin terms count once
        .withColumn("c1", F.row_number().over(by_c.orderBy(label_col)) == 1)
        .withColumn("l1", F.row_number().over(by_l.orderBy(cluster_col)) == 1)
    )
    c1, l1 = F.col("c1"), F.col("l1")
    dec = "decimal(38,12)"

    def ent(x: F.Column) -> F.Column:
        """-(x/n)·ln(x/n), 12dp-rounded, as an order-independent decimal."""
        return F.round(-(x / F.col("n")) * F.log(x / F.col("n")), 12).cast(dec)

    # a_i::double BEFORE the multiply (matching the oracle's
    # a_i::DOUBLE * b_j form): the margin product of a 100 TB contingency
    # table passes int64 (~9.2e18) at margins the module's own _comb2
    # bound already contemplates — a LONG multiply raises under ANSI mode
    # and silently wraps otherwise. Exact-equal to the LONG product while
    # it fits 2^53, so every gate value is unchanged.
    mi_term = F.round(
        (F.col("n_ij") / F.col("n"))
        * F.log(
            F.col("n_ij").cast("double")
            * F.col("n")
            / (F.col("a_i").cast("double") * F.col("b_j"))
        ),
        12,
    ).cast(dec)
    # exact integer pair counts, and NMI's decimal sums of 12dp-rounded
    # ln terms: every sum is independent of summation order
    scalars = cont.agg(
        F.max("n").alias("n"),
        F.sum(_comb2(F.col("n_ij"))).alias("s_ij"),
        F.sum(F.when(c1, _comb2(F.col("a_i")))).alias("s_a"),
        F.sum(F.when(l1, _comb2(F.col("b_j")))).alias("s_b"),
        F.sum(F.when(c1, F.col("m_i"))).alias("maj"),
        F.sum(mi_term).alias("mi"),
        F.sum(F.when(c1, ent(F.col("a_i")))).alias("h_u"),
        F.sum(F.when(l1, ent(F.col("b_j")))).alias("h_v"),
    )
    s_n = _comb2(F.col("n").cast("long"))
    # n = 1 has zero possible pairs (s_n = 0): every pair index is 0, so
    # guard the expected-index division (ANSI mode raises on /0) — the
    # max_index == expected arm below then yields the degenerate ARI 1.0
    # s_a::double BEFORE the multiply (the oracle's s_a::DOUBLE * s_b
    # form): pair-count sums grow ~n^2/2, so the LONG product passes
    # int64 at ~4e9 rows per side — same hazard class as the mi fix above
    expected = F.when(
        s_n > 0, F.col("s_a").cast("double") * F.col("s_b") / s_n
    ).otherwise(F.lit(0.0))
    max_index = (F.col("s_a") + F.col("s_b")) / F.lit(2)
    ari = F.when(max_index == expected, F.lit(1.0)).otherwise(
        (F.col("s_ij") - expected) / (max_index - expected)
    )
    hprod = F.col("h_u").cast("double") * F.col("h_v").cast("double")
    nmi = F.when(hprod <= 0, F.lit(0.0)).otherwise(
        F.col("mi").cast("double") / F.sqrt(hprod)
    )
    return (
        scalars.select(
            F.col("n").cast("double").alias("n_d"),
            (F.col("maj") / F.col("n")).alias("purity"),
            ari.alias("ari"),
            nmi.alias("nmi"),
        )
        .selectExpr("stack(4, 'n', n_d, 'purity', purity, 'ari', ari, 'nmi', nmi) AS (metric, value)")
        .select("metric", F.round("value", 6).alias("value"))
    )


def simplified_silhouette(dists: DataFrame, dist_col: str = "dist_sq") -> DataFrame:
    """1-row (metric='silhouette', value): mean simplified silhouette.

    The centroid-based silhouette (Vendramin et al. 2010 — the form MLlib
    also evaluates): per doc, a = distance to its own (nearest) centroid,
    b = distance to the runner-up, s = (b - a) / b  (b >= a by
    construction, so max(a,b) = b; s = 0 when b = 0 or k = 1). Input is
    the full ``sparse_dists`` grid (n x k rows) — one groupBy(doc)
    aggregate, no pairwise doc x doc work (the EXACT silhouette's O(n²)
    is not a 100 TB operator). Per-doc terms are 12dp-rounded and
    DECIMAL-summed — the repo's order-independent mean discipline.
    """
    per_doc = dists.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct(dist_col, "cluster"))).alias("ds")
    )
    a = F.sqrt(F.col("ds")[0][dist_col])
    b = F.sqrt(F.col("ds")[1][dist_col])
    s = (
        F.when(F.size("ds") < 2, F.lit(0.0))
        .when(b == F.lit(0.0), F.lit(0.0))
        .otherwise((b - a) / b)
    )
    return (
        per_doc.select(F.round(s, 12).cast("decimal(38,12)").alias("s"))
        .agg(
            F.round(
                F.sum("s").cast("double") / F.count(F.lit(1)), 6
            ).alias("value")
        )
        .select(F.lit("silhouette").alias("metric"), "value")
    )


def silhouette_oracle_cte(assign_cte: str = "assign") -> str:
    """DuckDB CTE ``clu_sil`` mirroring ``simplified_silhouette`` over the
    ranked distance CTE (doc_id, dist_sq, rn) — rn=1 is the assigned
    centroid, rn=2 the runner-up (same tie-break ordering)."""
    return f"""
    clu_sil_pd AS (
      SELECT doc_id,
             min(CASE WHEN rn = 1 THEN dist_sq END) AS a_sq,
             min(CASE WHEN rn = 2 THEN dist_sq END) AS b_sq
      FROM {assign_cte} GROUP BY doc_id
    ),
    clu_sil AS (
      SELECT 'silhouette' AS metric,
             round(CAST(sum(CAST(round(
               CASE WHEN b_sq IS NULL OR sqrt(b_sq) = 0 THEN 0.0
                    ELSE (sqrt(b_sq) - sqrt(a_sq)) / sqrt(b_sq) END, 12)
               AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6) AS value
      FROM clu_sil_pd
    )"""


def metrics_oracle_ctes(
    members_cte: str,
    labels_sql: str,
) -> str:
    """DuckDB CTE block mirroring ``clustering_metrics`` exactly.

    ``members_cte``: name of a CTE with (doc_id, cluster);
    ``labels_sql``: a SELECT yielding (doc_id, label). Produces a CTE
    ``clu_metrics`` with (metric, value) — same integer pair-count
    algebra, same 12dp-round + DECIMAL(38,12) NMI sums, same 6dp output
    rounding, so hashes match bit-for-bit.
    """
    return f"""
    clu_labels AS ({labels_sql}),
    clu_cont AS (
      SELECT m.cluster, l.label, count(*)::BIGINT AS n_ij
      FROM {members_cte} m JOIN clu_labels l USING (doc_id)
      GROUP BY m.cluster, l.label
    ),
    clu_rowm AS (SELECT cluster, sum(n_ij)::BIGINT AS a_i FROM clu_cont GROUP BY cluster),
    clu_colm AS (SELECT label, sum(n_ij)::BIGINT AS b_j FROM clu_cont GROUP BY label),
    clu_n AS (SELECT sum(n_ij)::BIGINT AS n FROM clu_cont),
    clu_s AS (
      SELECT
        -- // is integer division: exact like the Spark side's shiftright
        -- (the product is always even), never a rounded double
        (SELECT sum((n_ij * (n_ij - 1)) // 2)::BIGINT FROM clu_cont) AS s_ij,
        (SELECT sum((a_i * (a_i - 1)) // 2)::BIGINT FROM clu_rowm) AS s_a,
        (SELECT sum((b_j * (b_j - 1)) // 2)::BIGINT FROM clu_colm) AS s_b,
        (SELECT (n * (n - 1)) // 2 FROM clu_n) AS s_n,
        (SELECT n FROM clu_n) AS n,
        (SELECT sum(m)::BIGINT FROM (SELECT max(n_ij) AS m FROM clu_cont GROUP BY cluster)) AS maj,
        (SELECT CAST(sum(CAST(round((n_ij::DOUBLE / c.n) * ln(n_ij::DOUBLE * c.n / (r.a_i::DOUBLE * m.b_j)), 12) AS DECIMAL(38,12))) AS DOUBLE)
           FROM clu_cont t JOIN clu_rowm r USING (cluster) JOIN clu_colm m USING (label) CROSS JOIN clu_n c) AS mi,
        (SELECT CAST(sum(CAST(round(-(a_i::DOUBLE / c.n) * ln(a_i::DOUBLE / c.n), 12) AS DECIMAL(38,12))) AS DOUBLE)
           FROM clu_rowm CROSS JOIN clu_n c) AS h_u,
        (SELECT CAST(sum(CAST(round(-(b_j::DOUBLE / c.n) * ln(b_j::DOUBLE / c.n), 12) AS DECIMAL(38,12))) AS DOUBLE)
           FROM clu_colm CROSS JOIN clu_n c) AS h_v
    ),
    clu_metrics AS (
      SELECT metric, round(value, 6) AS value FROM (
        SELECT 'n' AS metric, n::DOUBLE AS value FROM clu_s
        UNION ALL
        SELECT 'purity', maj::DOUBLE / n FROM clu_s
        UNION ALL
        SELECT 'ari', CASE
            WHEN s_n = 0 THEN 1.0  -- n = 1: zero possible pairs, degenerate agreement
            WHEN (s_a + s_b) / 2.0 = s_a::DOUBLE * s_b / s_n THEN 1.0
            ELSE (s_ij - s_a::DOUBLE * s_b / s_n) / ((s_a + s_b) / 2.0 - s_a::DOUBLE * s_b / s_n)
          END FROM clu_s
        UNION ALL
        SELECT 'nmi', CASE WHEN h_u * h_v <= 0 THEN 0.0 ELSE mi / sqrt(h_u * h_v) END FROM clu_s
      )
    )"""
