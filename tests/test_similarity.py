"""Similarity-search value tests: LSH bucket ids vs a pure-python
reproduction, and the block-partitioned exact top-pairs vs the O(n^2)
nested-loop baseline (bit-identical contract)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from document_clustering_with_hadoop_mapreduce_spark.operators.similarity import (
    block_topk_pairs,
    lsh_bucket,
    random_hyperplanes,
    top_similar_pairs,
)
from document_clustering_with_hadoop_mapreduce_spark.sources.tables import load_table

DIM = 64
PLANES = random_hyperplanes(8, DIM, seed=7)


def test_lsh_buckets_match_pure_python(spark, sf_dir):
    """Bucket id = packed sign bits of hyperplane dots, reproduced exactly
    in python (same plane constants, same left-to-right summation)."""
    emb = load_table(spark, sf_dir, "embeddings").limit(200)
    v = F.transform("embedding", lambda x: x.cast("double"))
    rows = emb.select("vec_id", lsh_bucket(v, PLANES).alias("bucket"), v.alias("v")).collect()
    got = {r["vec_id"]: r["bucket"] for r in rows}
    for r in rows:
        v = list(r["v"])
        want = 0
        for p, plane in enumerate(PLANES):
            dot = 0.0
            for x, y in zip(v, plane):
                dot += x * y
            if dot > 0:
                want |= 1 << p
        assert got[r["vec_id"]] == want
    assert len(got) == len(rows)


@pytest.mark.slow
def test_block_topk_pairs_equals_bruteforce(spark, sf_dir):
    """The block-partitioned exact top-k pair search returns exactly the
    nested-loop baseline's rows (values AND order), for several block
    counts including B > distinct blocks touched."""
    emb = load_table(spark, sf_dir, "embeddings")
    want = [tuple(r) for r in top_similar_pairs(emb, k=25).collect()]
    for n_blocks in (1, 4, 8):
        got = [tuple(r) for r in block_topk_pairs(emb, k=25, n_blocks=n_blocks).collect()]
        assert got == want, f"n_blocks={n_blocks}"


def test_block_topk_pairs_plan_has_no_nested_loop(spark, sf_dir):
    """The registered embedding_top_pairs path must never plan a
    BroadcastNestedLoopJoin or cartesian product — pairs materialize only
    inside the equi-join on the block-task key."""
    emb = load_table(spark, sf_dir, "embeddings")
    plan = block_topk_pairs(emb, k=20, n_blocks=8)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


class TestEmbeddingOutliers:
    def test_planted_outlier_scores_extreme_z(self, spark):
        import random

        from document_clustering_with_hadoop_mapreduce_spark.operators.similarity import (
            embedding_outliers,
        )

        rng = random.Random(5)
        rows = []
        # two tight planted clusters around (0,0) and (10,10)
        for i in range(40):
            cx, cy = (0.0, 0.0) if i % 2 == 0 else (10.0, 10.0)
            rows.append((i, [cx + rng.gauss(0, 0.1), cy + rng.gauss(0, 0.1)]))
        rows.append((999, [5.0, 5.0]))  # fits neither cluster
        df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
        out = {
            r.vec_id: r
            for r in embedding_outliers(
                df, [[0.0, 0.0], [10.0, 10.0]]
            ).collect()
        }
        zs_normal = [abs(out[i].z) for i in range(40)]
        assert out[999].z > 3.0
        assert out[999].z > 2 * max(zs_normal)

    def test_matches_pure_python(self, spark):
        import math
        import statistics

        import pytest

        from document_clustering_with_hadoop_mapreduce_spark.operators.similarity import (
            embedding_outliers,
        )

        rows = [(i, [float(i % 7), float((i * 3) % 5)]) for i in range(30)]
        cents = [[1.0, 1.0], [5.0, 3.0]]
        df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
        got = {r.vec_id: (r.cluster, r.dist, r.z) for r in embedding_outliers(df, cents).collect()}
        # python mirror with the same round-before-argmin discipline
        assign = {}
        for i, v in rows:
            ds = [round(sum((a - b) ** 2 for a, b in zip(v, c)), 6) for c in cents]
            cl = ds.index(min(ds))
            assign[i] = (cl, round(math.sqrt(ds[cl]), 6))
        by_cl: dict = {}
        for i, (cl, d) in assign.items():
            by_cl.setdefault(cl, []).append(d)
        for i, (cl, d) in assign.items():
            dists = by_cl[cl]
            sd = statistics.stdev(dists) if len(dists) > 1 else 0.0
            z = 0.0 if sd == 0 else round((d - statistics.mean(dists)) / sd, 6)
            assert got[i][0] == cl and got[i][1] == d
            assert got[i][2] == pytest.approx(z, abs=2e-6)

    def test_singleton_cluster_z_zero(self, spark):
        from document_clustering_with_hadoop_mapreduce_spark.operators.similarity import (
            embedding_outliers,
        )

        df = spark.createDataFrame(
            [(1, [0.0, 0.0]), (2, [0.1, 0.0]), (3, [9.9, 9.9])],
            "vec_id int, embedding array<double>",
        )
        out = {r.vec_id: r.z for r in embedding_outliers(df, [[0.0, 0.0], [10.0, 10.0]]).collect()}
        assert out[3] == 0.0  # alone in its cluster -> not an outlier


class TestRound10AutoSubBlocks:
    """Round-10 verdict item: ``sub_blocks=None`` (the new default) sizes S
    per bucket from sampled occupancy — output must stay bit-identical to
    every explicit S, a hot bucket must flow through the sampled pre-pass
    without dropping vectors whose bucket the sample missed, and the auto
    plan must carry the shape that makes it cheap (sampled slim scan +
    broadcast LEFT join, never a sort-merge on the hot bucket key)."""

    def _hot_plus_cold(self, spark):
        import random

        rng = random.Random(11)
        rows = [(i, [1.0] * DIM) for i in range(600)]  # one hot bucket
        rows += [
            (1000 + i, [rng.gauss(0.0, 1.0) for _ in range(DIM)])
            for i in range(100)
        ]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    @pytest.mark.slow
    def test_hot_bucket_auto_equals_explicit(self, spark):
        from document_clustering_with_hadoop_mapreduce_spark.operators.similarity import (
            lsh_bucketed_topk,
        )

        emb = self._hot_plus_cold(spark)
        auto = sorted(
            tuple(r)
            for r in lsh_bucketed_topk(
                emb, PLANES, k=3, target_bucket_rows=128
            ).collect()
        )
        for s in (1, 8):
            explicit = sorted(
                tuple(r)
                for r in lsh_bucketed_topk(emb, PLANES, k=3, sub_blocks=s).collect()
            )
            assert auto == explicit, f"sub_blocks={s}"
        # every hot-bucket vector appears as a query (singleton-bucket
        # vectors legitimately produce no rows) — and the sampled pre-pass
        # must never drop a bucket the sample missed (the explicit-S
        # comparison above catches that too: an inner occ join would lose
        # cold-bucket vectors)
        qids = {q for q, *_ in auto}
        assert set(range(600)) <= qids

    def test_auto_plan_shape(self, spark):
        """The auto path's sizing happens in a bounded pre-pass at call
        time; the RETURNED plan must carry zero extra machinery — the
        per-bucket S is a literal map lookup, so the main plan has the
        same operator set as the static-S plan (no join, no sample, no
        window, same exchange count)."""
        import re

        from document_clustering_with_hadoop_mapreduce_spark.operators.similarity import (
            lsh_bucketed_topk,
        )

        emb = self._hot_plus_cold(spark)
        auto_plan = (
            lsh_bucketed_topk(emb, PLANES, k=3, target_bucket_rows=128)
            ._jdf.queryExecution().executedPlan().toString()
        )
        static_plan = (
            lsh_bucketed_topk(emb, PLANES, k=3, sub_blocks=4)
            ._jdf.queryExecution().executedPlan().toString()
        )
        for bad in ("Join", "Sample"):
            assert bad not in auto_plan, bad
        count = lambda pat, p: len(re.findall(pat, p))
        for node in (r"Exchange", r"Window"):
            assert count(node, auto_plan) == count(node, static_plan), node
        # the hot fixture's sizing really made it into the literal map
        assert "map(" in auto_plan.lower() or "keys:" in auto_plan.lower()

    def test_validates_target(self, spark):
        import pytest

        from document_clustering_with_hadoop_mapreduce_spark.operators.similarity import (
            lsh_bucketed_topk,
        )

        emb = self._hot_plus_cold(spark)
        with pytest.raises(ValueError, match="target_bucket_rows"):
            lsh_bucketed_topk(emb, PLANES, target_bucket_rows=0)

    def test_sizing_cache_keys_on_vec_col(self, spark):
        """Two vector columns on the SAME frame have the same plan hash;
        the sizing cache must not hand column B the sizing computed from
        column A's bucket distribution (a hot bucket would get S=1)."""
        import random

        from document_clustering_with_hadoop_mapreduce_spark.operators.similarity import (
            _auto_sizing,
        )

        rng = random.Random(13)
        rows = [
            (i, [rng.gauss(0.0, 1.0) for _ in range(DIM)], [1.0] * DIM)
            for i in range(600)
        ]
        # col 1 cold (random -> spread buckets), col 2 ONE maximally hot
        # bucket — same frame, same plan hash
        two = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, embedding_v2 array<double>"
        ).localCheckpoint()
        cold_first = _auto_sizing(two, PLANES, "embedding", 128)
        hot_second = _auto_sizing(two, PLANES, "embedding_v2", 128)
        assert hot_second != cold_first
        kind, sizing = hot_second
        hot_s = sizing if kind == "global" else max(sizing.values())
        assert hot_s > 1, hot_second


class TestRound9Hardening:
    """Round-9 verdict/advice items: sub-block parameterization + chunked
    scoring leave lsh_bucketed_topk output bit-identical; the
    bounded-by-contract driver collects in cosine_topk/ivf_topk are
    ENFORCED caps that raise with a redirect, not silent materializations."""

    @pytest.mark.slow
    def test_lsh_bucketed_topk_sub_blocks_and_chunking_invariant(self, spark, sf_dir):
        from document_clustering_with_hadoop_mapreduce_spark.operators.similarity import (
            lsh_bucketed_topk,
        )

        emb = load_table(spark, sf_dir, "embeddings").limit(300)
        base = sorted(tuple(r) for r in lsh_bucketed_topk(emb, PLANES, k=3).collect())
        assert base  # non-trivial fixture
        for s, rc in ((1, 4096), (2, 4096), (8, 4096), (4, 1), (4, 7)):
            got = sorted(
                tuple(r)
                for r in lsh_bucketed_topk(
                    emb, PLANES, k=3, sub_blocks=s, row_chunk=rc
                ).collect()
            )
            assert got == base, f"sub_blocks={s}, row_chunk={rc}"

    def test_lsh_bucketed_topk_validates_knobs(self, spark, sf_dir):
        import pytest

        from document_clustering_with_hadoop_mapreduce_spark.operators.similarity import (
            lsh_bucketed_topk,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        with pytest.raises(ValueError, match="sub_blocks"):
            lsh_bucketed_topk(emb, PLANES, sub_blocks=0)
        with pytest.raises(ValueError, match="row_chunk"):
            lsh_bucketed_topk(emb, PLANES, row_chunk=0)

    def test_cosine_topk_oversized_query_frame_raises(self, spark, sf_dir):
        import pytest

        from document_clustering_with_hadoop_mapreduce_spark.operators.similarity import (
            cosine_topk,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        with pytest.raises(ValueError, match="lsh_bucketed_topk or ivf_topk"):
            cosine_topk(emb, emb.limit(25), k=3, max_queries=24)
        # at the cap exactly: allowed (the guard is cap+1 rows)
        assert cosine_topk(emb, emb.limit(24), k=3, max_queries=24).count() > 0

    def test_ivf_topk_oversized_query_frame_raises(self, spark, sf_dir):
        import pytest

        from document_clustering_with_hadoop_mapreduce_spark.operators.similarity import (
            ivf_topk,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        with pytest.raises(ValueError, match="ivf_probe_indexed"):
            ivf_topk(emb, emb.limit(25), n_cells=4, nprobe=2, k=3, max_queries=24)
        assert (
            ivf_topk(emb, emb.limit(10), n_cells=4, nprobe=2, k=3, max_queries=24).count()
            > 0
        )

    def test_closure_probe_scorers_chunking_invariant(self, spark, sf_dir, monkeypatch):
        """The adaptive score-buffer chunking in cosine_topk/ivf_topk
        (SCORE_BUFFER_DOUBLES per matmul) must not change output: shrink
        the budget so every matmul covers only a handful of corpus rows
        and compare against the unchunked result."""
        import document_clustering_with_hadoop_mapreduce_spark.operators.similarity as sim

        emb = load_table(spark, sf_dir, "embeddings")
        q = emb.limit(7)
        base_cos = sorted(tuple(r) for r in sim.cosine_topk(emb, q, k=5).collect())
        base_ivf = sorted(
            tuple(r) for r in sim.ivf_topk(emb, q, n_cells=4, nprobe=2, k=3).collect()
        )
        monkeypatch.setattr(sim, "SCORE_BUFFER_DOUBLES", 40)  # ~5 rows/chunk at q=7
        got_cos = sorted(tuple(r) for r in sim.cosine_topk(emb, q, k=5).collect())
        got_ivf = sorted(
            tuple(r) for r in sim.ivf_topk(emb, q, n_cells=4, nprobe=2, k=3).collect()
        )
        assert got_cos == base_cos
        assert got_ivf == base_ivf


class TestRound11SecondLevelSplit:
    """Round-11 verdict item, round-12 refinement: a bucket whose needed
    spread exceeds LSH_MAX_SUB_BLOCKS keeps spreading — with the EXACT
    ceil(occ/target) up to the hard CAP^2 ceiling (round 12: S is only a
    pmod modulus, so the round-11 multiple-of-CAP form paid up to 2x
    extra replication past the boundary for no better width) — so
    per-side task width stays ~target_bucket_rows instead of growing
    linearly past the cap; output pinned identical."""

    def test_spread_exact_with_square_cap(self):
        from document_clustering_with_hadoop_mapreduce_spark.operators.similarity import (
            LSH_MAX_SUB_BLOCKS as CAP,
            _spread_for,
        )

        t = 2048
        assert _spread_for(1, t) == 1
        assert _spread_for(t, t) == 1
        assert _spread_for(t + 1, t) == 2
        assert _spread_for(50 * t, t) == 50
        assert _spread_for(CAP * t, t) == CAP  # exactly at the old cap
        # past the old one-level cap: EXACT need, not the next multiple
        assert _spread_for(CAP * t + 1, t) == CAP + 1
        assert _spread_for(100 * t, t) == 100
        assert _spread_for(CAP * CAP * t, t) == CAP * CAP
        # degenerate mega-bucket: hard ceiling at CAP^2
        assert _spread_for(10 * CAP * CAP * t, t) == CAP * CAP

    def _mega_hot(self, spark, n_hot=1200):
        import random

        rng = random.Random(17)
        rows = [(i, [1.0] * DIM) for i in range(n_hot)]  # one hot bucket
        rows += [
            (10_000 + i, [rng.gauss(0.0, 1.0) for _ in range(DIM)])
            for i in range(60)
        ]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_second_level_sizing_reaches_the_map(self, spark):
        """With target=16 the 1200-row hot bucket needs ceil(1200/16)=75
        sub-blocks > 64, so the sizing must carry a spread past the
        round-10 one-level cap (the exact sampled need, <= CAP^2)."""
        from document_clustering_with_hadoop_mapreduce_spark.operators.similarity import (
            LSH_MAX_SUB_BLOCKS as CAP,
            _auto_sizing,
        )

        emb = self._mega_hot(spark).localCheckpoint()
        kind, val = _auto_sizing(emb, PLANES, "embedding", 16)
        hot_s = val if kind == "global" else max(val.values())
        assert hot_s > CAP, (kind, val)
        assert hot_s <= CAP * CAP

    @pytest.mark.slow
    def test_second_level_output_identical_and_width_bounded(self, spark):
        """10x-the-cap regime (done-criterion): auto sizing with the
        second level engaged returns EXACTLY the static-S=1 rows, and the
        realized per-task side width stays ~target (the whole point)."""
        from document_clustering_with_hadoop_mapreduce_spark.operators.similarity import (
            LSH_MAX_SUB_BLOCKS as CAP,
            _spread_for,
            lsh_bucket,
            lsh_bucketed_topk,
        )
        from document_clustering_with_hadoop_mapreduce_spark.operators.similarity import (
            _as_double,
        )

        target = 16
        emb = self._mega_hot(spark).localCheckpoint()
        auto = sorted(
            tuple(r)
            for r in lsh_bucketed_topk(
                emb, PLANES, k=3, target_bucket_rows=target
            ).collect()
        )
        base = sorted(
            tuple(r)
            for r in lsh_bucketed_topk(emb, PLANES, k=3, sub_blocks=1).collect()
        )
        assert auto == base
        # realized side width: replicate the sub assignment and count the
        # biggest (bucket, __sub) side the hot bucket produces
        s_eff = _spread_for(1200, target)
        assert s_eff == 75  # exact need, not the round-11 multiple (128)
        widths = (
            emb.select(
                lsh_bucket(_as_double(F.col("embedding")), PLANES).alias("bucket"),
                F.pmod(F.hash(F.col("vec_id")), F.lit(s_eff)).alias("sub"),
            )
            .groupBy("bucket", "sub")
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )
        # hash-uniform split of 1200 over 128 subs: mean 9.4, generous cap
        assert widths <= 4 * target, widths
