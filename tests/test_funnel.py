"""Funnel report: closed-form counting, single-aggregate plan, and the
cross-check that the composed curation funnel's final survivor count
equals the registered corpus_curation capstone's row count.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from document_clustering_with_hadoop_mapreduce_spark.operators.funnel import funnel_report
from document_clustering_with_hadoop_mapreduce_spark.plans.registry import all_queries

from conftest import assert_matches_oracle, run_counted


def test_funnel_closed_form(spark):
    df = spark.createDataFrame(
        [(i, i % 2 == 0, i % 3 == 0) for i in range(12)], "id long, a boolean, b boolean"
    )
    rows = {r["stage"]: r for r in funnel_report(df, {"a": F.col("a"), "b": F.col("b")}).collect()}
    assert (rows["input"]["n_in"], rows["input"]["n_kept"]) == (12, 12)
    assert (rows["a"]["n_in"], rows["a"]["n_kept"], rows["a"]["n_dropped"]) == (12, 6, 6)
    # cumulative: b only sees a-survivors (evens), of which multiples of 6 pass
    assert (rows["b"]["n_in"], rows["b"]["n_kept"], rows["b"]["n_dropped"]) == (6, 2, 4)


def test_funnel_is_single_aggregate(spark):
    df = spark.range(100).select(F.col("id"), (F.col("id") % 2 == 0).alias("a"))
    plan = funnel_report(df, {"a": F.col("a")})._jdf.queryExecution().executedPlan().toString()
    # one global aggregate: exactly one exchange (partial -> final), no joins
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


@pytest.mark.slow
def test_curation_funnel_matches_capstone_survivors(spark, sf_dir):
    """Compose the capstone's three gates as funnel stages; the final
    n_kept must equal the registered corpus_curation query's row count
    (intersection semantics are order-independent)."""
    from document_clustering_with_hadoop_mapreduce_spark.operators.decontam import (
        contamination_stats,
    )
    from document_clustering_with_hadoop_mapreduce_spark.operators.dedup import (
        duplicate_components,
        jaccard_verify_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_hashes,
    )
    from document_clustering_with_hadoop_mapreduce_spark.operators.textstats import doc_quality
    from document_clustering_with_hadoop_mapreduce_spark.plans.queries_dedup import (
        _CURATION_JACCARD,
        _DECONTAM_N,
        _EVAL_PRED_SQL,
    )
    from document_clustering_with_hadoop_mapreduce_spark.plans.registry import all_queries
    from document_clustering_with_hadoop_mapreduce_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    sh = (
        shingle_hashes(docs, n=3)
        .select("doc_id", F.col("h").alias("shingle"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    sigs = minhash_signatures(
        sh.select("doc_id", F.col("shingle").alias("h")), num_hashes=16, seed=42
    )
    verified = jaccard_verify_pairs(
        lsh_candidate_pairs(sigs, num_hashes=16, rows_per_band=2),
        sh,
        min_jaccard=_CURATION_JACCARD,
    )
    ids = load_table(spark, sf_dir, "documents", fan_out=False)
    comp = duplicate_components(verified, documents=ids)
    flagged = (
        contamination_stats(docs, docs.filter(F.expr(_EVAL_PRED_SQL)), n=_DECONTAM_N)
        .filter(F.col("n_overlap") >= 1)
        .select("doc_id", F.lit(True).alias("__dirty"))
    )
    staged = (
        doc_quality(docs)
        .join(comp, "doc_id")
        .join(flagged, "doc_id", "left")
    )
    funnel = funnel_report(
        staged,
        {
            "quality": (F.col("n_tokens") >= 20)
            & (F.col("stopword_ratio") >= 0.02)
            & (F.col("punct_ratio") <= 0.05),
            "decontaminate": F.col("__dirty").isNull(),
            "dedup_representative": F.col("component") == F.col("doc_id"),
        },
    )
    rows = {r["stage"]: r for r in funnel.collect()}
    fused = all_queries()["corpus_curation"].spark(spark, sf_dir).cache()
    survivors = fused.where(F.col("kind") == "doc").count()
    assert rows["dedup_representative"]["n_kept"] == survivors
    # the slot's own fused funnel rows (round 8) agree with this
    # independently-staged funnel at the shared stage boundaries
    slot_fun = {
        r["stage"]: r for r in fused.where(F.col("kind") == "funnel").collect()
    }
    assert slot_fun["input"]["n_in"] == rows["input"]["n_in"]
    assert slot_fun["punct_ratio"]["n_kept"] == rows["quality"]["n_kept"]
    assert slot_fun["decontaminated"]["n_kept"] == rows["decontaminate"]["n_kept"]
    assert slot_fun["representative"]["n_kept"] == survivors
    fused.unpersist()
    assert rows["input"]["n_in"] == docs.count()
    # funnel sanity: monotone non-increasing
    order = ["input", "quality", "decontaminate", "dedup_representative"]
    kept = [rows[s]["n_kept"] for s in order]
    assert kept == sorted(kept, reverse=True)


def test_empty_input_reports_zeros_not_nulls(spark):
    """An empty source snapshot (a realistic monitoring input) must report
    0 at every stage — sum() over zero rows is NULL without the coalesce."""
    df = spark.createDataFrame([], "a boolean, b boolean")
    rows = {
        r["stage"]: r
        for r in funnel_report(df, {"a": F.col("a"), "b": F.col("b")}).collect()
    }
    assert rows["input"]["n_in"] == 0
    for st in ("a", "b"):
        assert (rows[st]["n_in"], rows[st]["n_kept"], rows[st]["n_dropped"]) == (0, 0, 0)


def test_curation_stages_fit_the_cores(spark, sf_dir, duck):
    """No stage of a ``corpus_curation`` run, plan construction included,
    has more tasks than the session has cores, and the result still
    matches its oracle. A frame cached as a shuffle leaves it keeps all
    ``spark.sql.shuffle.partitions`` (AQE may not coalesce a cached
    plan's output), and every pass over it runs that many near-empty
    tasks; the duplicate flood reads its edge list every round."""
    q = all_queries()["corpus_curation"]
    _, _, tasks = run_counted(
        spark, lambda: assert_matches_oracle(q.spark(spark, sf_dir), duck, q.oracle)
    )
    assert tasks and max(tasks) <= spark.sparkContext.defaultParallelism, sorted(tasks)[-8:]
