"""BM25 ranked retrieval over the sparse term-document matrix.

The reference's tf-idf pipeline stops at scoring terms (SURVEY.md §2.3
A5-A6); the natural query-side completion is Okapi BM25 (Robertson et al.,
TREC-3) — score a term query against every document and return the top-k,
i.e. the retrieval primitive behind every "find training docs like X" /
search-the-corpus tool. Uses the Lucene idf form,

    idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))          (always > 0)
    s(d, t) = idf(t) * cnt * (k1+1) / (cnt + k1 * (1 - b + b * dl/avgdl))

summed over the query terms.

Scale shape: the query slice is the matrix joined to the broadcast list
of queried terms — a handful of postings lists. Per-term df comes from
that same slice (one term-sized aggregate, broadcast back); the only
corpus-sized frames are the doc-length table (one aggregate — at query
time this is a precomputed index, the ``bm25_doc_stats`` half) joined on
doc_id, and N/avgdl ride as 1-row broadcast scalars (or a driver-known
``n_docs``, the tfidf discipline). Top-k is a per-query window over the
match-bounded score frame, never a global sort.

Float discipline: per-(doc, term) components are 12dp-rounded and
DECIMAL(38,12)-summed (order-independent across engines and partition
orders), the final score rounds to 6dp, and ranking ties break on doc_id
— so the DuckDB oracle (``bm25_batch_oracle_sql``) matches bit-for-bit.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_DEC = "decimal(38,12)"


def bm25_doc_stats(matrix: DataFrame) -> DataFrame:
    """(doc_id, dl): per-document token mass — the index-time half of
    BM25; persist it next to the matrix so queries never re-aggregate the
    corpus."""
    return matrix.groupBy("doc_id").agg(F.sum("cnt").cast("long").alias("dl"))


def bm25_batch_topk(
    matrix: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    n_docs: int | None = None,
    doc_stats: DataFrame | None = None,
) -> DataFrame:
    """(query_id, doc_id, score, rank): top-``k`` docs for EVERY query in
    one plan — the production retrieval shape (an eval set, a dedup probe
    batch, a router) instead of one job per query.

    ``queries`` is (query_id, term), one row per query term — KB-MB sized,
    so it broadcasts. One pass: the matrix joins the broadcast term list
    (every queried term's postings in one scan), df/idf come from a
    per-term aggregate of that slice, scores sum per (query_id, doc_id),
    and per-query top-k is a window over the match-bounded score frame.
    Duplicate (query_id, term) rows are collapsed (bag-of-words queries
    weight by document tf, not query tf — the BM25 convention).

    Query terms are cleaned tokens (the ``functions.text.tokens``
    alphabet); terms absent from the matrix — including stopwords the
    matrix build dropped — contribute nothing, the BM25 convention.
    ``n_docs`` may be passed driver-known (parquet footer count — prefer
    it, same reasoning as ``tfidf``); ``doc_stats`` may be passed
    precomputed (the index regime) — both default to deriving from the
    matrix.
    """
    from .topk import top_k_per_group

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    q = queries.select("query_id", "term").distinct()
    dl = doc_stats if doc_stats is not None else bm25_doc_stats(matrix)
    avgdl = dl.agg(F.avg("dl").alias("avgdl"))
    if n_docs is not None:
        n_col = F.lit(float(n_docs))
        with_n = lambda df: df  # noqa: E731
    else:
        n_df = dl.agg(F.count(F.lit(1)).cast("double").alias("__n_docs"))
        n_col = F.col("__n_docs")
        with_n = lambda df: df.crossJoin(F.broadcast(n_df))  # noqa: E731

    terms = q.select("term").distinct()
    posting = matrix.join(F.broadcast(terms), "term")
    df_ = posting.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    scored = with_n(
        posting.join(F.broadcast(q), "term")
        .join(F.broadcast(df_), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(avgdl))
    )
    idf = F.log(F.lit(1.0) + (n_col - F.col("df") + 0.5) / (F.col("df") + 0.5))
    comp = idf * (
        (F.col("cnt") * (k1 + 1))
        / (F.col("cnt") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
    )
    per_query = (
        scored.select("query_id", "doc_id", F.round(comp, 12).cast(_DEC).alias("__c"))
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("__c").cast("double"), 6).alias("score"))
    )
    return top_k_per_group(
        per_query, ["query_id"], [F.col("score").desc(), F.col("doc_id").asc()], k
    )


def bm25_batch_oracle_sql(
    query_rows: Sequence[tuple[object, str]] | None,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    matrix_cte: str | None = None,
    bq_sql: str | None = None,
) -> str:
    """DuckDB mirror of ``bm25_batch_topk`` — same slice-derived df,
    DECIMAL sums, window rank. The query batch is either a literal
    ``query_rows`` sequence of (query_id, term) or, for data-derived
    batches, a ``bq_sql`` SELECT producing (query_id, term) rows (it may
    reference CTEs of ``matrix_cte``)."""
    from ..plans.oracles import MATRIX_CTE

    if (query_rows is None) == (bq_sql is None):
        raise ValueError("pass exactly one of query_rows or bq_sql")

    def _sql_lit(qid: object) -> str:
        # numeric qids pass through bare; strings get ''-escaped SQL
        # quoting (Python repr would emit invalid SQL for qids containing
        # a single quote — double quotes / backslash escapes)
        if isinstance(qid, bool) or not isinstance(qid, (int, float)):
            return "'" + str(qid).replace("'", "''") + "'"
        return repr(qid)

    if bq_sql is None:
        vals = ", ".join(
            f"({_sql_lit(qid)}, '" + t.replace("'", "''") + "')"
            for qid, t in sorted(set(query_rows))
        )
        bq_body = f"SELECT * FROM (VALUES {vals}) AS t(query_id, term)"
    else:
        bq_body = bq_sql
    return f"""{matrix_cte or MATRIX_CTE},
{bm25_ranked_ctes(bq_body, k=k, k1=k1, b=b)}
SELECT query_id, doc_id, score, rank FROM bm25r"""


def bm25_ranked_ctes(bq_body: str, k: int = 10, k1: float = 1.2, b: float = 0.75) -> str:
    """The DuckDB CTE chain ``bq, bm_dl, ..., bm25r`` mirroring
    ``bm25_batch_topk`` over a ``matrix`` CTE — the shared building block
    between ``bm25_batch_oracle_sql`` and fused-slot oracles that feed the
    ranked rows into further stages (RRF, metrics). ``bm25r`` holds
    (query_id, doc_id, score, rank) with rank <= k."""
    return f"""bq AS ({bq_body}),
bm_dl AS (SELECT doc_id, sum(cnt)::BIGINT AS dl FROM matrix GROUP BY doc_id),
bm_avg AS (SELECT avg(dl) AS avgdl FROM bm_dl),
bm_n AS (SELECT count(*)::DOUBLE AS n_docs FROM bm_dl),
bm_post AS (SELECT doc_id, term, cnt FROM matrix WHERE term IN (SELECT DISTINCT term FROM bq)),
bm_df AS (SELECT term, count(*)::DOUBLE AS df FROM bm_post GROUP BY term),
bm_scores AS (
  SELECT q.query_id, p.doc_id,
         round(CAST(sum(CAST(round(
           ln(1.0 + (n.n_docs - f.df + 0.5) / (f.df + 0.5))
           * (p.cnt * ({k1} + 1)) / (p.cnt + {k1} * (1 - {b} + {b} * d.dl / a.avgdl)),
         12) AS DECIMAL(38,12))) AS DOUBLE), 6) AS score
  FROM bm_post p
  JOIN bq q USING (term) JOIN bm_df f USING (term) JOIN bm_dl d USING (doc_id)
  CROSS JOIN bm_avg a CROSS JOIN bm_n n
  GROUP BY q.query_id, p.doc_id
),
bm25r AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC)::INT AS rank
  FROM bm_scores
  QUALIFY rank <= {int(k)}
)"""


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 60,
    top_n: int | None = None,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Buettcher, SIGIR 2009):
    combine any number of per-query ranked lists — e.g. ``bm25_batch_topk``
    lexical results with ``cosine_topk`` embedding results (rename its
    vec_id/query columns to match) — into one hybrid ranking:

        rrf(q, d) = sum over systems ranking d of 1 / (k + rank_i(q, d))

    Rank positions, not scores, are fused — no score normalization across
    incomparable scales (BM25 vs cosine) is needed, which is exactly why
    RRF is the production hybrid-search default. ``k`` damps the top-rank
    dominance (the paper's 60 is the standard).

    Output: (query_id, doc_id, rrf_score 6dp, rank), densely re-ranked per
    query with (score DESC, doc ASC) tie-break; ``top_n`` truncates each
    query's fused list.

    Scale shape: the inputs are already top-k-per-query frames (bounded
    rows per query), so the union + one (query, doc) aggregate + one
    per-query window are all keyed on the query — a single hash exchange
    lineage, never touching the corpora the rankings came from.
    """
    if not rankings:
        raise ValueError("rankings must be non-empty")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    parts = [
        df.select(
            F.col(query_col).alias("query_id"),
            F.col(doc_col).alias("doc_id"),
            (F.lit(1.0) / (F.lit(float(k)) + F.col(rank_col).cast("double"))).alias("__r"),
        )
        for df in rankings
    ]
    unioned = parts[0]
    for p in parts[1:]:
        unioned = unioned.unionByName(p)
    fused = unioned.groupBy("query_id", "doc_id").agg(
        F.round(F.sum("__r"), 6).alias("rrf_score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    out = fused.withColumn("rank", F.row_number().over(w))
    if top_n is not None:
        out = out.where(F.col("rank") <= top_n)
    return out


def retrieval_metrics(
    results: DataFrame,
    qrels: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
) -> DataFrame:
    """(query_id, n_rel, recall_at_k 6dp, mrr 6dp, ndcg_at_k 6dp): standard
    ranked-retrieval evaluation per query — the measurement half of the
    retrieval family (BM25 / ANN / RRF produce rankings; this grades them
    against a judgments table).

    - recall@k: |relevant ∩ top-k| / |relevant| (graded rels count as
      relevant when rel > 0)
    - MRR: 1 / rank of the first relevant result (0 if none retrieved,
      at any depth the results frame contains)
    - nDCG@k: sum of (2^rel - 1)/log2(rank+1) over the top-k, normalized
      by the ideal DCG of the query's judgments (Jarvelin & Kekalainen,
      TOIS 2002)

    Queries present in ``qrels`` but missing from ``results`` score 0 on
    all three (an engine that returns nothing for a judged query is
    wrong, not unmeasured); queries with judgments but no rel > 0 row
    are excluded — no positive exists, so no metric is defined.
    Duplicate (query, doc) rows are normalized first — results keep the
    BEST (minimum) rank, judgments the MAXIMUM grade — so a sloppily
    concatenated input cannot double-count gains or push recall past 1.

    Scale shape: judgments and results are both bounded per query; one
    equi-join on (query, doc), ONE judgments aggregate (n_rel + ideal
    DCG in the same pass) and one observed aggregate, then a final join
    — every frame is query-cardinality-sized or top-k-sized, nothing
    corpus-sized. DCG terms are 12dp-rounded and DECIMAL-summed (the
    module's order-independence discipline) so the 6dp outputs are
    partition- and engine-stable.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    q = F.col(query_col).alias("query_id")
    res = (
        results.select(q, F.col(doc_col).alias("doc_id"), F.col(rank_col).alias("rank"))
        .groupBy("query_id", "doc_id")
        .agg(F.min("rank").alias("rank"))
    )
    judg = (
        qrels.select(q, F.col(doc_col).alias("doc_id"), F.col(rel_col).alias("rel"))
        .groupBy("query_id", "doc_id")
        .agg(F.max("rel").alias("rel"))
    )

    def gain_term(pos_col: Column) -> Column:
        # 12dp-round each term, DECIMAL-sum: associative, engine-stable
        return F.round(
            (F.pow(F.lit(2.0), F.col("rel")) - 1) / F.log2(pos_col + 1), 12
        ).cast("decimal(38,12)")

    # n_rel and ideal DCG in ONE pass over the positive judgments
    wq = Window.partitionBy("query_id").orderBy(F.desc("rel"), F.asc("doc_id"))
    ideal = (
        judg.where(F.col("rel") > 0)
        .withColumn("__pos", F.row_number().over(wq))
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_rel"),
            F.sum(
                F.when(F.col("__pos") <= k, gain_term(F.col("__pos"))).otherwise(None)
            ).cast("double").alias("__idcg"),
        )
    )
    hits = res.join(judg.where(F.col("rel") > 0), ["query_id", "doc_id"])
    observed = hits.groupBy("query_id").agg(
        F.sum(F.when(F.col("rank") <= k, 1).otherwise(0)).alias("__hits_k"),
        F.round(1.0 / F.min("rank"), 6).alias("mrr"),
        F.sum(F.when(F.col("rank") <= k, gain_term(F.col("rank"))).otherwise(None))
        .cast("double")
        .alias("__dcg"),
    )
    return (
        ideal.join(observed, "query_id", "left")
        .select(
            "query_id",
            "n_rel",
            F.round(
                F.coalesce(F.col("__hits_k"), F.lit(0)) / F.col("n_rel"), 6
            ).alias("recall_at_k"),
            F.coalesce(F.col("mrr"), F.lit(0.0)).alias("mrr"),
            F.round(
                F.coalesce(F.col("__dcg"), F.lit(0.0)) / F.col("__idcg"), 6
            ).alias("ndcg_at_k"),
        )
    )
