"""mmr_select and hard-negative mining: pure-python oracle parity,
greedy-MMR exactness, determinism and argument validation."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from document_clustering_with_hadoop_mapreduce_spark.operators.similarity import (
    mmr_select,
)


def _mmr_py(pool, k, lam):
    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na, nb = math.sqrt(sum(x * x for x in a)), math.sqrt(sum(x * x for x in b))
        return dot / (na * nb) if na * nb > 0 else 0.0

    remaining = dict(pool)  # id -> (score, vec)
    picked = []
    sel_vecs = []
    while remaining and len(picked) < k:
        best = None
        for i in sorted(remaining):
            s, v = remaining[i]
            pen = max((cos(v, u) for u in sel_vecs), default=0.0)
            m = round(lam * s - (1 - lam) * pen, 9)
            if best is None or m > best[1]:
                best = (i, m)
        picked.append(best[0])
        sel_vecs.append(remaining.pop(best[0])[1])
    return picked


class TestMMR:
    @pytest.mark.slow
    def test_matches_pure_python_greedy(self, spark, sf_dir):
        emb = (
            spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .limit(60)
            .select("vec_id", F.col("embedding").alias("vec"))
            .withColumn("score", (F.col("vec_id") % 17).cast("double") / 17.0)
        )
        pool = {
            r.vec_id: (float(r.score), [float(x) for x in r.vec])
            for r in emb.collect()
        }
        got = [i for i, _, _ in mmr_select(emb, k=8, lam=0.6, score_col="score")]
        assert got == _mmr_py(pool, 8, 0.6)

    def test_lam_one_is_pure_relevance(self, spark):
        rows = [(i, float(i), [1.0, 0.0]) for i in range(10)]
        df = spark.createDataFrame(rows, "vec_id int, score double, vec array<double>")
        got = [i for i, _, _ in mmr_select(df, k=3, lam=1.0)]
        assert got == [9, 8, 7]

    def test_diversity_beats_redundancy(self, spark):
        # two tight clusters; relevance slightly favors cluster A, but after
        # picking one A item, lam=0.5 must jump to cluster B before a
        # second near-identical A item
        rows = [
            (1, 1.00, [1.0, 0.0]),
            (2, 0.99, [0.999, 0.001]),
            (3, 0.80, [0.0, 1.0]),
        ]
        df = spark.createDataFrame(rows, "vec_id int, score double, vec array<double>")
        got = [i for i, _, _ in mmr_select(df, k=2, lam=0.5)]
        assert got == [1, 3]

    def test_pool_smaller_than_k(self, spark):
        df = spark.createDataFrame(
            [(1, 1.0, [1.0]), (2, 0.5, [0.5])],
            "vec_id int, score double, vec array<double>",
        )
        assert len(mmr_select(df, k=10)) == 2

    def test_validation(self, spark):
        df = spark.createDataFrame(
            [(1, 1.0, [1.0])], "vec_id int, score double, vec array<double>"
        )
        with pytest.raises(ValueError, match="k"):
            mmr_select(df, k=0)
        with pytest.raises(ValueError, match="lam"):
            mmr_select(df, lam=1.5)


class TestHardNegatives:
    def _toy(self, spark):
        # 1D-ish geometry on the unit circle: anchor 0 at angle 0; items
        # at increasing angles are decreasingly similar
        import math

        rows = []
        for i in range(10):
            a = i * 0.15
            rows.append((i, [math.cos(a), math.sin(a)]))
        return spark.createDataFrame(rows, "vec_id int, embedding array<double>")

    def test_excludes_positives_keeps_next_hardest(self, spark):
        from document_clustering_with_hadoop_mapreduce_spark.operators.similarity import (
            mine_hard_negatives,
        )

        emb = self._toy(spark)
        # anchor 0's positives are its two nearest (1, 2) -> hardest
        # negatives must start at 3
        pos = spark.createDataFrame(
            [(0, 1), (0, 2)], "anchor_id int, positive_id int"
        )
        out = mine_hard_negatives(pos, emb, n_neg=3, search_k=8).collect()
        got = [(r.negative_id, r.neg_rank) for r in sorted(out, key=lambda r: r.neg_rank)]
        assert got == [(3, 1), (4, 2), (5, 3)]

    def test_self_never_a_negative_and_rank_dense(self, spark):
        from document_clustering_with_hadoop_mapreduce_spark.operators.similarity import (
            mine_hard_negatives,
        )

        emb = self._toy(spark)
        pos = spark.createDataFrame(
            [(0, 1), (5, 4)], "anchor_id int, positive_id int"
        )
        out = mine_hard_negatives(pos, emb, n_neg=4, search_k=9)
        rows = out.collect()
        assert all(r.negative_id != r.anchor_id for r in rows)
        for aid in (0, 5):
            ranks = sorted(r.neg_rank for r in rows if r.anchor_id == aid)
            assert ranks == [1, 2, 3, 4]

    def test_real_embeddings_shape(self, spark, sf_dir):
        from document_clustering_with_hadoop_mapreduce_spark.operators.similarity import (
            mine_hard_negatives,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        ids = [r.vec_id for r in emb.select("vec_id").limit(4).collect()]
        pos = spark.createDataFrame(
            [(ids[0], ids[1]), (ids[2], ids[3])], "anchor_id long, positive_id long"
        )
        out = mine_hard_negatives(pos, emb, n_neg=5, search_k=12).collect()
        by_anchor: dict = {}
        for r in out:
            by_anchor.setdefault(r.anchor_id, []).append(r)
        assert set(by_anchor) == {ids[0], ids[2]}
        pos_set = {(ids[0], ids[1]), (ids[2], ids[3])}
        for aid, rows in by_anchor.items():
            assert len(rows) == 5
            assert all((aid, r.negative_id) not in pos_set for r in rows)

    def test_validation(self, spark):
        from document_clustering_with_hadoop_mapreduce_spark.operators.similarity import (
            mine_hard_negatives,
        )

        emb = self._toy(spark)
        pos = spark.createDataFrame([(0, 1)], "anchor_id int, positive_id int")
        with pytest.raises(ValueError):
            mine_hard_negatives(pos, emb, n_neg=0)
        with pytest.raises(ValueError):
            mine_hard_negatives(pos, emb, n_neg=5, search_k=3)

    @pytest.mark.slow
    def test_forwards_max_queries(self, spark):
        """ADVICE r9: the probe cap must be raisable through THIS signature
        — a 4-anchor frame trips a cap of 3 (proving the cap reaches the
        underlying scorer) and passes at 4 with identical output to the
        default-cap run."""
        from document_clustering_with_hadoop_mapreduce_spark.operators.similarity import (
            mine_hard_negatives,
        )

        emb = self._toy(spark)
        pos = spark.createDataFrame(
            [(0, 1), (3, 4), (6, 7), (9, 8)], "anchor_id int, positive_id int"
        )
        with pytest.raises(ValueError, match="max_queries"):
            mine_hard_negatives(pos, emb, n_neg=1, search_k=2, max_queries=3)
        at_cap = mine_hard_negatives(pos, emb, n_neg=1, search_k=2, max_queries=4)
        default = mine_hard_negatives(pos, emb, n_neg=1, search_k=2)
        assert sorted(map(tuple, at_cap.collect())) == sorted(
            map(tuple, default.collect())
        )


class TestHardNegativeAnchorsGuard:
    def test_missing_anchor_raises(self, spark):
        import math

        from document_clustering_with_hadoop_mapreduce_spark.operators.similarity import (
            mine_hard_negatives,
        )

        emb = spark.createDataFrame(
            [(i, [math.cos(i * 0.2), math.sin(i * 0.2)]) for i in range(5)],
            "vec_id int, embedding array<double>",
        )
        pos = spark.createDataFrame(
            [(0, 1), (999, 2)], "anchor_id int, positive_id int"
        )
        with pytest.raises(ValueError, match="have no row in embeddings"):
            mine_hard_negatives(pos, emb, n_neg=1, search_k=3)

    @pytest.mark.slow
    def test_anchor_vectors_fast_path_keeps_contract(self, spark):
        """ADVICE r11: the anchor_vectors fast path must keep the
        missing-anchor contract by default — a positives frame whose
        anchor 999 has no row in anchor_vectors raises (naming the
        count), while the explicit validate_anchors=False opt-out yields
        the documented silent drop, and a COVERING anchor_vectors frame
        produces output identical to the derived path."""
        import math

        from document_clustering_with_hadoop_mapreduce_spark.operators.similarity import (
            mine_hard_negatives,
        )

        emb = spark.createDataFrame(
            [(i, [math.cos(i * 0.2), math.sin(i * 0.2)]) for i in range(6)],
            "vec_id int, embedding array<double>",
        )
        pos = spark.createDataFrame(
            [(0, 1), (999, 2)], "anchor_id int, positive_id int"
        )
        partial = emb.filter(F.col("vec_id") == 0)
        with pytest.raises(ValueError, match="1 anchors .* anchor_vectors"):
            mine_hard_negatives(pos, emb, n_neg=1, search_k=3, anchor_vectors=partial)
        # documented opt-out: anchor 999 silently vanishes, anchor 0 intact
        dropped = mine_hard_negatives(
            pos, emb, n_neg=1, search_k=3, anchor_vectors=partial,
            validate_anchors=False,
        ).collect()
        assert {r.anchor_id for r in dropped} == {0}
        # covering frame: fast path == derived path, row for row
        ok_pos = spark.createDataFrame(
            [(0, 1), (3, 2)], "anchor_id int, positive_id int"
        )
        cover = emb.filter(F.col("vec_id").isin(0, 3))
        fast = mine_hard_negatives(
            ok_pos, emb, n_neg=2, search_k=4, anchor_vectors=cover
        )
        derived = mine_hard_negatives(ok_pos, emb, n_neg=2, search_k=4)
        assert sorted(map(tuple, fast.collect())) == sorted(
            map(tuple, derived.collect())
        )

    @pytest.mark.slow
    def test_deferred_validation_fires_at_execution(self, spark):
        """ADVICE r12: validate_anchors='deferred' must (a) construct
        without raising (no construction-time job over positives),
        (b) raise at the FIRST ACTION when an anchor is uncovered —
        including when the visible output would be EMPTY — and (c) be
        row-identical to the eager mode when coverage holds."""
        import math

        from py4j.protocol import Py4JJavaError
        from pyspark.errors import PySparkException

        from document_clustering_with_hadoop_mapreduce_spark.operators.similarity import (
            mine_hard_negatives,
        )

        emb = spark.createDataFrame(
            [(i, [math.cos(i * 0.2), math.sin(i * 0.2)]) for i in range(6)],
            "vec_id int, embedding array<double>",
        )
        pos = spark.createDataFrame(
            [(0, 1), (999, 2)], "anchor_id int, positive_id int"
        )
        partial = emb.filter(F.col("vec_id") == 0)
        # (a) construction succeeds (the eager mode raises here)
        lazy = mine_hard_negatives(
            pos, emb, n_neg=1, search_k=3, anchor_vectors=partial,
            validate_anchors="deferred",
        )
        # (b) first action raises, naming the count
        with pytest.raises((PySparkException, Py4JJavaError), match="1 anchors"):
            lazy.collect()
        # (b') EMPTY visible output still fires: an empty anchor_vectors
        # frame yields zero probes (zero output rows), but the guard
        # branch's 1-row scalar input evaluates regardless
        only_missing = spark.createDataFrame(
            [(999, 2)], "anchor_id int, positive_id int"
        )
        empty_out = mine_hard_negatives(
            only_missing, emb, n_neg=1, search_k=3,
            anchor_vectors=emb.filter(F.lit(False)),
            validate_anchors="deferred",
        )
        with pytest.raises((PySparkException, Py4JJavaError), match="1 anchors"):
            empty_out.count()
        # (c) covering frame: deferred == eager, row for row
        ok_pos = spark.createDataFrame(
            [(0, 1), (3, 2)], "anchor_id int, positive_id int"
        )
        cover = emb.filter(F.col("vec_id").isin(0, 3))
        a = mine_hard_negatives(
            ok_pos, emb, n_neg=2, search_k=4, anchor_vectors=cover,
            validate_anchors="deferred",
        )
        b = mine_hard_negatives(
            ok_pos, emb, n_neg=2, search_k=4, anchor_vectors=cover
        )
        assert sorted(map(tuple, a.collect())) == sorted(
            map(tuple, b.collect())
        )
        with pytest.raises(ValueError, match="deferred"):
            mine_hard_negatives(
                ok_pos, emb, n_neg=1, search_k=2, anchor_vectors=cover,
                validate_anchors="nonsense",
            )
