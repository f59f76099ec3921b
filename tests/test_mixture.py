"""Token-budget mixture planning: DuckDB oracle parity for the rates
frame, closed-form semantics, and the budget-hitting composition with
stratified sampling.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from document_clustering_with_hadoop_mapreduce_spark.functions.text import token_count
from document_clustering_with_hadoop_mapreduce_spark.operators.textstats import (
    mixture_rates,
    sample_to_budget,
)
from document_clustering_with_hadoop_mapreduce_spark.sources.tables import load_table

from conftest import assert_matches_oracle

BUDGETS = {"en": 3000, "zh": 1}  # en partially sampled, zh effectively dropped

_N_TOKENS = "CASE WHEN trim(text)='' THEN 0 ELSE len(string_split_regex(trim(text), '[ \t\n\r]+')) END"

_ORACLE = f"""
WITH avail AS (
  SELECT lang AS stratum, sum({_N_TOKENS})::BIGINT AS available_tokens
  FROM documents GROUP BY lang
)
SELECT stratum, available_tokens,
       (CASE WHEN stratum = 'en' THEN 3000 WHEN stratum = 'zh' THEN 1 END)::BIGINT AS budget_tokens,
       round(CASE WHEN stratum = 'en' AND available_tokens > 3000 THEN 3000 / available_tokens::DOUBLE
                  WHEN stratum = 'zh' AND available_tokens > 1 THEN 1 / available_tokens::DOUBLE
                  ELSE 1.0 END, 6) AS rate
FROM avail"""


def test_mixture_rates_match_oracle(spark, sf_dir, duck):
    docs = load_table(spark, sf_dir, "documents")
    assert_matches_oracle(mixture_rates(docs, BUDGETS), duck, _ORACLE)


def test_mixture_rates_closed_form(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d", "en"), (2, "e f g h", "en"),      # en: 8 tokens
            (3, "i j", "fr"),                                 # fr: 2 tokens, no budget
            (4, "k l m", "zh"),                               # zh: 3 tokens, budget 6 > avail
        ],
        "doc_id long, text string, lang string",
    )
    out = {r["stratum"]: r for r in mixture_rates(docs, {"en": 4, "zh": 6}).collect()}
    assert out["en"]["rate"] == 0.5 and out["en"]["available_tokens"] == 8
    assert out["fr"]["rate"] == 1.0 and out["fr"]["budget_tokens"] is None
    assert out["zh"]["rate"] == 1.0  # cannot up-sample by dropping


def test_sample_to_budget_hits_budget_in_expectation(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    kept = sample_to_budget(docs, BUDGETS)
    mass = {
        r["lang"]: r["m"]
        for r in kept.groupBy("lang").agg(F.sum(token_count(F.col("text"))).alias("m")).collect()
    }
    # en lands near its budget (doc-level sampling: tolerance is a few docs'
    # mass); zh's rate ~0 drops everything; unbudgeted strata keep all
    assert 0.4 * BUDGETS["en"] <= mass.get("en", 0) <= 2.0 * BUDGETS["en"]
    assert mass.get("zh", 0) == 0
    full = {
        r["lang"]: r["m"]
        for r in docs.groupBy("lang").agg(F.sum(token_count(F.col("text"))).alias("m")).collect()
    }
    for lang in full:
        if lang not in BUDGETS:
            assert mass.get(lang, 0) == full[lang]
    # deterministic: same salt, same sample
    again = sample_to_budget(docs, BUDGETS)
    assert kept.exceptAll(again).count() == 0 and again.exceptAll(kept).count() == 0
