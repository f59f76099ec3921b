"""Process-level cache hygiene (round 11): canonical fixture keys, the
clear_caches() escape hatch, and the zero-jobs-at-construction contract
for the lazily trained doc_quality BPE side."""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F

from document_clustering_with_hadoop_mapreduce_spark.caches import clear_caches, sf_key
from document_clustering_with_hadoop_mapreduce_spark.plans import (
    queries_events as qe,
)
from document_clustering_with_hadoop_mapreduce_spark.plans import (
    queries_similarity as qs,
)
from document_clustering_with_hadoop_mapreduce_spark.plans import registry as reg
from document_clustering_with_hadoop_mapreduce_spark.plans.registry import all_queries


def _job_count(spark) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


class TestSfKey:
    def test_spelling_variants_collapse(self, sf_dir):
        assert sf_key(sf_dir) == sf_key(sf_dir + "/")
        assert sf_key(sf_dir) == sf_key(sf_dir + "//")
        parent, leaf = os.path.split(sf_dir.rstrip("/"))
        assert sf_key(os.path.join(parent, ".", leaf)) == sf_key(sf_dir)

    def test_symlink_resolves_to_target(self, sf_dir, tmp_path):
        link = tmp_path / "sf_alias"
        os.symlink(sf_dir, link)
        assert sf_key(str(link)) == sf_key(sf_dir)

    def test_n_docs_shares_one_entry_across_spellings(self, spark, sf_dir):
        clear_caches()
        a = reg._n_docs(spark, sf_dir)
        before = len(reg._N_DOCS_CACHE)
        b = reg._n_docs(spark, sf_dir + "/")
        assert a == b
        assert len(reg._N_DOCS_CACHE) == before  # no duplicate entry


class TestDocQualityLazyTraining:
    @pytest.mark.slow
    def test_cold_construction_runs_no_training_jobs(self, spark, sf_dir):
        """VERDICT r10 #1 done-criterion: a COLD caller constructing the
        doc_quality plan (fresh BPE cache) schedules no more Spark jobs
        than a warm one — the 12-merge trainer is deferred to first
        execution. (``load_table`` reads the declared schema, so neither
        pays a parquet footer-inference job; equal deltas prove training
        costs zero construction jobs.)"""
        q = all_queries()["doc_quality"].spark
        clear_caches()
        q(spark, sf_dir)  # prime: module imports, first footer read
        warm0 = _job_count(spark)
        q(spark, sf_dir)
        warm_delta = _job_count(spark) - warm0
        clear_caches()
        cold0 = _job_count(spark)
        df = q(spark, sf_dir)
        cold_delta = _job_count(spark) - cold0
        assert cold_delta == warm_delta, (
            f"cold construction ran {cold_delta - warm_delta} extra jobs "
            "(deferred training leaked back to plan-construction time)"
        )
        assert cold_delta == 0
        # the plan is real: schema resolves without execution
        assert "n_bpe_learned" in df.columns and "merge_rank" in df.columns

    @pytest.mark.slow
    def test_repeat_invocations_share_the_lazy_frames(self, spark, sf_dir):
        clear_caches()
        all_queries()["doc_quality"].spark(spark, sf_dir)
        assert len(qe._BPE_MERGE_CACHE) == 1
        all_queries()["doc_quality"].spark(spark, sf_dir + "/")
        assert len(qe._BPE_MERGE_CACHE) == 1  # spelling variant, same entry


class TestClearCachesFreshness:
    @pytest.fixture()
    def fixture_dir(self, spark, tmp_path):
        """A tiny rewritable embeddings fixture (the interactive-session
        scenario the driver contract forbids but a notebook allows)."""
        d = str(tmp_path / "fx")
        os.makedirs(d)
        self._write(spark, d, seed=1)
        return d

    @staticmethod
    def _write(spark, d: str, seed: int) -> None:
        rng = random.Random(seed)
        rows = [
            (i, [rng.uniform(-1, 1) for _ in range(8)], i % 3) for i in range(40)
        ]
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        ).coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

    @pytest.mark.slow
    def test_ivf_index_refreshes_after_clear(self, spark, fixture_dir):
        """Rewrite the fixture IN PLACE, clear, re-run: the indexed slice
        must agree with the (always-fresh) direct slice on the new data —
        i.e. the stale bucketed index is NOT probed after clear_caches()."""
        q = all_queries()["ann_ivf_topk"].spark

        def slices(df):
            rows = df.collect()
            direct = sorted(
                (r["query_id"], r["vec_id"], r["cos"], r["rank"])
                for r in rows
                if r["kind"] == "direct"
            )
            indexed = sorted(
                (r["query_id"], r["vec_id"], r["cos"], r["rank"])
                for r in rows
                if r["kind"] == "indexed"
            )
            return direct, indexed

        d1, i1 = slices(q(spark, fixture_dir))
        assert d1 == i1 and d1
        self._write(spark, fixture_dir, seed=2)
        clear_caches()
        d2, i2 = slices(q(spark, fixture_dir))
        assert d2 == i2 and d2, "indexed slice stale after clear_caches()"
        assert d2 != d1, "fixture rewrite did not change the data"
        assert len(qs._IVF_INDEX_CACHE) == 1

    def test_clear_caches_empties_every_cache(self, spark, sf_dir):
        """Every module-level ``_*_CACHE`` dict in the package is one of
        the four that ``caches.py`` documents, and ``clear_caches()``
        empties each — a new process cache must be added to both."""
        import importlib
        import pkgutil

        import document_clustering_with_hadoop_mapreduce_spark as pkg

        found = {}
        for info in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
            mod = importlib.import_module(info.name)
            for attr, val in vars(mod).items():
                if attr.startswith("_") and attr.endswith("_CACHE") and isinstance(val, dict):
                    found[f"{info.name[len(pkg.__name__) + 1:]}.{attr}"] = val
        assert set(found) == {
            "plans.registry._N_DOCS_CACHE",
            "plans.queries_events._BPE_MERGE_CACHE",
            "plans.queries_similarity._IVF_INDEX_CACHE",
            "operators.similarity._LSH_SIZING_CACHE",
        }
        reg._n_docs(spark, sf_dir)
        all_queries()["doc_quality"].spark(spark, sf_dir)
        assert reg._N_DOCS_CACHE and qe._BPE_MERGE_CACHE
        clear_caches()
        assert not any(found.values())
