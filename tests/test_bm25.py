"""BM25 retrieval: DuckDB-oracle parity + ranking-semantics sanity."""

from __future__ import annotations

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from document_clustering_with_hadoop_mapreduce_spark.operators.bm25 import (
    bm25_batch_oracle_sql,
    bm25_batch_topk,
    bm25_doc_stats,
)
from document_clustering_with_hadoop_mapreduce_spark.operators.term_matrix import (
    term_doc_counts,
)

from conftest import assert_matches_oracle


@pytest.fixture(scope="module")
def matrix(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return term_doc_counts(docs).localCheckpoint()


@pytest.fixture(scope="module")
def query(matrix):
    """Three corpus-derived terms (most frequent — deterministic), so the
    test never depends on the synthetic vocabulary."""
    rows = (
        matrix.groupBy("term")
        .agg(F.sum("cnt").alias("n"))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(3)
        .collect()
    )
    return [r["term"] for r in rows]


def _one_query(matrix, terms, k, **kw):
    """``bm25_batch_topk`` over a one-query frame, in rank order."""
    spark = matrix.sparkSession
    qdf = spark.createDataFrame([("q", t) for t in terms], "query_id string, term string")
    return bm25_batch_topk(matrix, qdf, k=k, **kw).orderBy("rank")


def test_matches_duckdb_oracle(matrix, duck, query):
    got = _one_query(matrix, query, k=25)
    assert_matches_oracle(got, duck, bm25_batch_oracle_sql([("q", t) for t in query], k=25))
    assert got.count() == 25


def test_precomputed_stats_and_known_n_match_derived(matrix, query):
    stats = bm25_doc_stats(matrix).localCheckpoint()
    n = stats.count()
    a = _one_query(matrix, query, k=15)
    b = _one_query(matrix, query, k=15, n_docs=n, doc_stats=stats)
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]


def _mini_matrix(spark, rows):
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "term", "cnt"]))


def test_tf_saturation_and_ordering(spark):
    """Equal-length docs: higher tf of the query term ranks first."""
    m = _mini_matrix(
        spark,
        [(1, "zebra", 3), (1, "pad", 7), (2, "zebra", 1), (2, "pad", 9), (3, "pad", 10)],
    )
    got = _one_query(m, ["zebra"], k=5).collect()
    assert [r["doc_id"] for r in got] == [1, 2]  # doc 3 has no query term


def test_rare_term_outweighs_common(spark):
    """One doc matches a rare term, another a ubiquitous one — idf must
    dominate at equal tf and length."""
    rows = [(i, "common", 1) for i in range(1, 11)]
    rows += [(1, "rare", 1)]
    rows += [(i, "pad", 5) for i in range(1, 11)]
    m = _mini_matrix(spark, rows)
    got = _one_query(m, ["rare", "common"], k=1).collect()
    assert got[0]["doc_id"] == 1


def test_length_normalization(spark):
    """Same tf: the shorter document ranks higher (b > 0)."""
    m = _mini_matrix(
        spark, [(1, "q", 2), (1, "pad", 2), (2, "q", 2), (2, "pad", 40)]
    )
    got = _one_query(m, ["q"], k=2).collect()
    assert [r["doc_id"] for r in got] == [1, 2]
    assert got[0]["score"] > got[1]["score"]


def test_scores_positive_and_finite(matrix, query):
    for r in _one_query(matrix, query, k=10).collect():
        assert r["score"] > 0 and math.isfinite(r["score"])


def test_validation(matrix):
    with pytest.raises(ValueError, match="k must"):
        _one_query(matrix, ["x"], k=0)


def test_batch_matches_oracle(spark, matrix, duck, query):
    rows = [("q0", query[0]), ("q0", query[1]), ("q1", query[2]), ("q1", query[0]),
            ("q1", query[0])]  # dup (query, term) must collapse
    qdf = spark.createDataFrame(rows, "query_id string, term string")
    got = bm25_batch_topk(matrix, qdf, k=12)
    assert_matches_oracle(got, duck, bm25_batch_oracle_sql(rows, k=12))
    assert got.filter(F.col("rank") > 12).count() == 0


def test_batch_plan_shape(spark, matrix, query):
    """Query list and per-term stats must broadcast; never a cartesian or
    nested-loop join anywhere in the batch plan."""
    qdf = spark.createDataFrame(
        [("q0", query[0]), ("q1", query[1])], "query_id string, term string"
    )
    plan = (
        bm25_batch_topk(matrix, qdf, k=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the only nested-loop joins allowed are the 1-row scalar cross joins
    # (avgdl / n_docs ride along as IdentityBroadcastMode builds)
    import re

    assert all(
        "Cross" in line
        for line in plan.splitlines()
        if re.search(r"\bBroadcastNestedLoopJoin\b", line)
    )


class TestRRF:
    def test_matches_duckdb_oracle(self, spark):
        import duckdb

        from document_clustering_with_hadoop_mapreduce_spark.operators.bm25 import (
            rrf_fuse,
        )

        lex = [("q1", d, r + 1) for r, d in enumerate([10, 11, 12, 13])] + [
            ("q2", d, r + 1) for r, d in enumerate([20, 10, 21])
        ]
        sem = [("q1", d, r + 1) for r, d in enumerate([12, 10, 14])] + [
            ("q2", d, r + 1) for r, d in enumerate([10, 22])
        ]
        a = spark.createDataFrame(lex, "query_id string, doc_id int, rank int")
        b = spark.createDataFrame(sem, "query_id string, doc_id int, rank int")
        got = sorted(
            (r.query_id, r.doc_id, r.rrf_score, r.rank)
            for r in rrf_fuse([a, b], k=60).collect()
        )
        con = duckdb.connect()
        con.execute("CREATE TABLE ranks (query_id VARCHAR, doc_id INT, rank INT)")
        con.executemany("INSERT INTO ranks VALUES (?, ?, ?)", lex + sem)
        want = sorted(
            tuple(r)
            for r in con.execute(
                """
WITH fused AS (
  SELECT query_id, doc_id, round(sum(1.0 / (60 + rank)), 6) AS rrf_score
  FROM ranks GROUP BY query_id, doc_id
)
SELECT query_id, doc_id, rrf_score,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS INT)
FROM fused
"""
            ).fetchall()
        )
        assert got == want

    def test_doc_in_both_systems_outranks_single_system_tops(self, spark):
        from document_clustering_with_hadoop_mapreduce_spark.operators.bm25 import (
            rrf_fuse,
        )

        # doc 5 is rank 2 in BOTH systems; docs 1/2 are rank 1 in only one
        a = spark.createDataFrame(
            [("q", 1, 1), ("q", 5, 2)], "query_id string, doc_id int, rank int"
        )
        b = spark.createDataFrame(
            [("q", 2, 1), ("q", 5, 2)], "query_id string, doc_id int, rank int"
        )
        top = rrf_fuse([a, b], k=60).where(F.col("rank") == 1).collect()[0]
        assert top.doc_id == 5

    def test_top_n_truncates_per_query(self, spark):
        from document_clustering_with_hadoop_mapreduce_spark.operators.bm25 import (
            rrf_fuse,
        )

        a = spark.createDataFrame(
            [("q1", d, d) for d in range(1, 6)] + [("q2", d, d) for d in range(1, 4)],
            "query_id string, doc_id int, rank int",
        )
        out = rrf_fuse([a], top_n=2)
        counts = {r.query_id: r.n for r in out.groupBy("query_id").agg(F.count(F.lit(1)).alias("n")).collect()}
        assert counts == {"q1": 2, "q2": 2}

    def test_end_to_end_bm25_plus_cosine(self, spark, sf_dir):
        from document_clustering_with_hadoop_mapreduce_spark.operators.bm25 import (
            bm25_batch_topk,
            rrf_fuse,
        )
        from document_clustering_with_hadoop_mapreduce_spark.operators.similarity import (
            cosine_topk,
        )
        from document_clustering_with_hadoop_mapreduce_spark.operators.term_matrix import (
            term_doc_counts,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        matrix = term_doc_counts(docs)
        top_term = (
            matrix.groupBy("term").count().orderBy(F.desc("count"), F.asc("term")).first()["term"]
        )
        queries = spark.createDataFrame([("q0", top_term)], "query_id string, term string")
        lex = bm25_batch_topk(matrix, queries, k=10)
        sem = cosine_topk(emb, emb.limit(1), k=10).select(
            F.lit("q0").alias("query_id"), F.col("vec_id").alias("doc_id"), "rank"
        )
        fused = rrf_fuse([lex.select("query_id", "doc_id", "rank"), sem], top_n=10)
        rows = fused.collect()
        assert 0 < len(rows) <= 10
        assert len({r.doc_id for r in rows}) == len(rows)

    def test_validation(self, spark):
        from document_clustering_with_hadoop_mapreduce_spark.operators.bm25 import (
            rrf_fuse,
        )

        with pytest.raises(ValueError):
            rrf_fuse([])
        df = spark.createDataFrame([("q", 1, 1)], "query_id string, doc_id int, rank int")
        with pytest.raises(ValueError):
            rrf_fuse([df], k=0)


class TestRetrievalMetrics:
    def _frames(self, spark):
        # q1: rels {1:3, 2:1, 5:2}; retrieved ranks 1->doc9, 2->doc1, 3->doc5
        # q2: rels {7:1}; retrieved misses entirely
        # q3: judged but absent from results
        results = spark.createDataFrame(
            [("q1", 9, 1), ("q1", 1, 2), ("q1", 5, 3), ("q2", 8, 1), ("q2", 6, 2)],
            "query_id string, doc_id int, rank int",
        )
        qrels = spark.createDataFrame(
            [("q1", 1, 3), ("q1", 2, 1), ("q1", 5, 2), ("q2", 7, 1), ("q3", 4, 2)],
            "query_id string, doc_id int, rel int",
        )
        return results, qrels

    def test_matches_hand_computed(self, spark):
        import math

        from document_clustering_with_hadoop_mapreduce_spark.operators.bm25 import (
            retrieval_metrics,
        )

        results, qrels = self._frames(spark)
        got = {r.query_id: r for r in retrieval_metrics(results, qrels, k=3).collect()}
        # q1: hits in top-3 = docs 1 (rank2, rel3), 5 (rank3, rel2); n_rel=3
        assert got["q1"].n_rel == 3
        assert got["q1"].recall_at_k == pytest.approx(2 / 3, abs=1e-6)
        assert got["q1"].mrr == pytest.approx(1 / 2, abs=1e-6)
        dcg = (2**3 - 1) / math.log2(3) + (2**2 - 1) / math.log2(4)
        idcg = (2**3 - 1) / math.log2(2) + (2**2 - 1) / math.log2(3) + (2**1 - 1) / math.log2(4)
        assert got["q1"].ndcg_at_k == pytest.approx(dcg / idcg, abs=2e-6)
        # q2: judged, retrieved nothing relevant -> all zeros
        assert got["q2"].recall_at_k == 0.0 and got["q2"].mrr == 0.0 and got["q2"].ndcg_at_k == 0.0
        # q3: judged but absent from results -> present, all zeros
        assert got["q3"].recall_at_k == 0.0 and got["q3"].mrr == 0.0 and got["q3"].ndcg_at_k == 0.0

    def test_matches_duckdb_oracle(self, spark):
        import duckdb

        from document_clustering_with_hadoop_mapreduce_spark.operators.bm25 import (
            retrieval_metrics,
        )

        results, qrels = self._frames(spark)
        got = sorted(
            (r.query_id, r.n_rel, r.recall_at_k, r.mrr, r.ndcg_at_k)
            for r in retrieval_metrics(results, qrels, k=2).collect()
        )
        con = duckdb.connect()
        con.execute("CREATE TABLE res (query_id VARCHAR, doc_id INT, rank INT)")
        con.execute("CREATE TABLE qr (query_id VARCHAR, doc_id INT, rel INT)")
        con.executemany("INSERT INTO res VALUES (?, ?, ?)",
                        [tuple(r) for r in results.collect()])
        con.executemany("INSERT INTO qr VALUES (?, ?, ?)",
                        [tuple(r) for r in qrels.collect()])
        want = sorted(
            tuple(r)
            for r in con.execute(
                """
WITH pos AS (SELECT * FROM qr WHERE rel > 0),
n_rel AS (SELECT query_id, count(*)::BIGINT AS n_rel FROM pos GROUP BY query_id),
ideal AS (
  SELECT query_id, sum(CAST(round((pow(2, rel) - 1) / log2(p + 1), 12) AS DECIMAL(38,12)))::DOUBLE AS idcg
  FROM (SELECT query_id, rel,
               row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, doc_id) AS p
        FROM pos)
  WHERE p <= 2 GROUP BY query_id
),
hits AS (SELECT res.query_id, res.rank, pos.rel
         FROM res JOIN pos USING (query_id, doc_id)),
obs AS (
  SELECT query_id,
         sum(CASE WHEN rank <= 2 THEN 1 ELSE 0 END) AS hits_k,
         round(1.0 / min(rank), 6) AS mrr,
         sum(CASE WHEN rank <= 2 THEN CAST(round((pow(2, rel) - 1) / log2(rank + 1), 12) AS DECIMAL(38,12)) END)::DOUBLE AS dcg
  FROM hits GROUP BY query_id
)
SELECT n_rel.query_id, n_rel.n_rel,
       round(coalesce(hits_k, 0)::DOUBLE / n_rel.n_rel, 6),
       coalesce(mrr, 0.0),
       round(coalesce(dcg, 0.0) / idcg, 6)
FROM n_rel JOIN ideal USING (query_id) LEFT JOIN obs USING (query_id)
"""
            ).fetchall()
        )
        assert got == want

    def test_perfect_ranking_scores_one(self, spark):
        from document_clustering_with_hadoop_mapreduce_spark.operators.bm25 import (
            retrieval_metrics,
        )

        results = spark.createDataFrame(
            [("q", 1, 1), ("q", 2, 2)], "query_id string, doc_id int, rank int"
        )
        qrels = spark.createDataFrame(
            [("q", 1, 3), ("q", 2, 1)], "query_id string, doc_id int, rel int"
        )
        r = retrieval_metrics(results, qrels, k=2).collect()[0]
        assert (r.recall_at_k, r.mrr, r.ndcg_at_k) == (1.0, 1.0, 1.0)

    def test_relevant_beyond_k_counts_for_mrr_only(self, spark):
        from document_clustering_with_hadoop_mapreduce_spark.operators.bm25 import (
            retrieval_metrics,
        )

        # the only relevant doc sits at rank k+1: MRR = 1/(k+1) while
        # recall@k and nDCG@k are exactly 0 — the one case where the
        # three metrics diverge by design
        results = spark.createDataFrame(
            [("q", d, d) for d in range(1, 5)], "query_id string, doc_id int, rank int"
        )
        qrels = spark.createDataFrame([("q", 4, 2)], "query_id string, doc_id int, rel int")
        r = retrieval_metrics(results, qrels, k=3).collect()[0]
        assert r.mrr == pytest.approx(0.25, abs=1e-9)
        assert r.recall_at_k == 0.0 and r.ndcg_at_k == 0.0

    def test_duplicate_rows_normalized_not_double_counted(self, spark):
        from document_clustering_with_hadoop_mapreduce_spark.operators.bm25 import (
            retrieval_metrics,
        )

        # the same doc at two ranks + a duplicated judgment: best rank and
        # max grade win; recall stays <= 1 and nothing double-counts
        results = spark.createDataFrame(
            [("q", 1, 2), ("q", 1, 5)], "query_id string, doc_id int, rank int"
        )
        qrels = spark.createDataFrame(
            [("q", 1, 1), ("q", 1, 3)], "query_id string, doc_id int, rel int"
        )
        r = retrieval_metrics(results, qrels, k=3).collect()[0]
        assert r.n_rel == 1 and r.recall_at_k == 1.0
        assert r.mrr == 0.5  # best rank 2
        # ideal puts rel=3 at pos 1; observed has it at rank 2
        import math

        want = (2**3 - 1) / math.log2(3) / ((2**3 - 1) / math.log2(2))
        assert r.ndcg_at_k == pytest.approx(want, abs=2e-6)

    def test_validation(self, spark):
        from document_clustering_with_hadoop_mapreduce_spark.operators.bm25 import (
            retrieval_metrics,
        )

        df = spark.createDataFrame([("q", 1, 1)], "query_id string, doc_id int, rank int")
        qr = spark.createDataFrame([("q", 1, 1)], "query_id string, doc_id int, rel int")
        with pytest.raises(ValueError):
            retrieval_metrics(df, qr, k=0)
