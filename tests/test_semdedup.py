"""SemDeDup (Abbas et al. 2023) value gates: the cluster-scoped semantic
dedup is compared field-for-field against a DuckDB oracle that mirrors the
assignment (6dp-rounded argmin, cid tie-break), the centroid/pair cosines
(6dp) and the keep-the-outlier drop rule exactly; planted exact/near
duplicates pin the semantics; a plan test pins the cluster equi-join (no
cartesian, no per-doc broadcast)."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import types as T

from document_clustering_with_hadoop_mapreduce_spark.operators.similarity import semdedup
from document_clustering_with_hadoop_mapreduce_spark.sources.tables import load_table

from conftest import assert_matches_oracle

K = 6
THRESH = 0.2  # low on purpose: random in-cluster cosines must yield real pairs


def _fixture(spark, sf_dir):
    """First 250 corpus embeddings + planted duplicates:
    - 9001: exact copy of vec 7 (cos=1, equal centroid_cos -> 9001 dropped)
    - 9002: vec 11 scaled by 2 (cos=1 exactly — scale-invariant)
    """
    emb = load_table(spark, sf_dir, "embeddings").filter("vec_id < 250")
    base = emb.select("vec_id", "embedding").toPandas()
    base["embedding"] = base["embedding"].map(lambda v: [float(x) for x in v])
    by_id = {int(r.vec_id): list(r.embedding) for r in base.itertuples()}
    extra = pd.DataFrame(
        {
            "vec_id": [9001, 9002],
            "embedding": [by_id[7], [2.0 * x for x in by_id[11]]],
        }
    )
    pdf = pd.concat([base, extra], ignore_index=True)
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    sdf = spark.createDataFrame(pdf, schema=schema)
    cents = [by_id[i] for i in range(K)]  # first K vectors as seeded centroids
    return sdf, pdf, cents


def _cos_sql(a: str, b: str) -> str:
    nprod = (
        f"(sqrt(list_sum(list_transform(generate_series(1, len({a})), i -> {a}[i]*{a}[i])))"
        f" * sqrt(list_sum(list_transform(generate_series(1, len({b})), i -> {b}[i]*{b}[i]))))"
    )
    dot = f"list_sum(list_transform(generate_series(1, len({a})), i -> {a}[i]*{b}[i]))"
    return f"(CASE WHEN {nprod} = 0 THEN 0.0 ELSE {dot} / {nprod} END)"


def _oracle_sql(cents: list[list[float]], threshold: float) -> tuple[str, str]:
    rows = ", ".join(
        f"({cid}, {[float(v) for v in c]}::DOUBLE[])" for cid, c in enumerate(cents)
    )
    common = f"""
    WITH cents(cid, c) AS (VALUES {rows}),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM fixture),
    d AS (
      SELECT vec_id, v, cid,
             round(list_sum(list_transform(generate_series(1, len(v)),
                    i -> (v[i]-c[i])*(v[i]-c[i]))), 6) AS dist
      FROM e CROSS JOIN cents
    ),
    a AS (
      SELECT vec_id, v, cid AS cluster,
             row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn
      FROM d
    ),
    base AS (
      SELECT vec_id, v, cluster, round({_cos_sql('v', 'c')}, 6) AS centroid_cos
      FROM a JOIN cents ON cluster = cid WHERE rn = 1
    ),
    pairs AS (
      SELECT l.cluster, l.vec_id AS vec_a, r.vec_id AS vec_b,
             round({_cos_sql('l.v', 'r.v')}, 6) AS cos,
             l.centroid_cos AS cos_a, r.centroid_cos AS cos_b
      FROM base l JOIN base r ON l.cluster = r.cluster AND l.vec_id < r.vec_id
    ),
    hits AS (SELECT * FROM pairs WHERE cos >= {threshold}),
    dropped AS (
      SELECT DISTINCT CASE WHEN cos_b >= cos_a THEN vec_b ELSE vec_a END AS vec_id
      FROM hits
    )
    """
    docs = (
        common
        + """
    SELECT b.vec_id, b.cluster, b.centroid_cos,
           (d.vec_id IS NULL) AS keep
    FROM base b LEFT JOIN dropped d ON b.vec_id = d.vec_id"""
    )
    pair_sql = common + "SELECT cluster, vec_a, vec_b, cos FROM hits"
    return docs, pair_sql


@pytest.fixture(scope="module")
def fixture(spark, sf_dir):
    sdf, pdf, cents = _fixture(spark, sf_dir)
    con = duckdb.connect()
    con.register("fixture", pdf)
    yield sdf, con, cents
    con.close()


@pytest.mark.slow
def test_semdedup_docs_match_duckdb_oracle(fixture):
    sdf, con, cents = fixture
    docs, _ = semdedup(sdf, cents, threshold=THRESH)
    docs_sql, _ = _oracle_sql(cents, THRESH)
    assert_matches_oracle(docs, con, docs_sql)


@pytest.mark.slow
def test_semdedup_pairs_match_duckdb_oracle(fixture):
    sdf, con, cents = fixture
    _, pairs = semdedup(sdf, cents, threshold=THRESH)
    _, pair_sql = _oracle_sql(cents, THRESH)
    assert_matches_oracle(pairs, con, pair_sql)


@pytest.mark.slow
def test_semdedup_planted_duplicates_resolved(fixture):
    """The exact copy (9001 of 7) and the scaled copy (9002 of 11) must be
    found (cos=1.0 pairs) and the planted member dropped while the original
    is the kept representative of its pair."""
    sdf, _, cents = fixture
    docs, pairs = semdedup(sdf, cents, threshold=0.999)
    p = {(r["vec_a"], r["vec_b"]): r["cos"] for r in pairs.collect()}
    assert p.get((7, 9001)) == 1.0
    assert p.get((11, 9002)) == 1.0
    keep = {r["vec_id"]: r["keep"] for r in docs.collect()}
    # exact copy: equal centroid_cos -> larger id dropped
    assert keep[9001] is False and keep[7] is True
    # scaled copy: cosine is scale-invariant so centroid_cos ties too
    assert keep[9002] is False and keep[11] is True
    # every non-planted vector with no >=0.999 neighbor survives
    flagged = {a for (a, b) in p} | {b for (a, b) in p}
    for vid, k in keep.items():
        if vid not in flagged:
            assert k is True


@pytest.mark.slow
def test_semdedup_exactly_one_member_of_each_pair_dropped(fixture):
    """Per above-threshold edge, exactly one endpoint is marked dropped —
    the higher-centroid_cos member (larger vec_id on ties)."""
    sdf, _, cents = fixture
    docs, pairs = semdedup(sdf, cents, threshold=THRESH)
    keep = {r["vec_id"]: r["keep"] for r in docs.collect()}
    cos = {r["vec_id"]: r["centroid_cos"] for r in docs.collect()}
    assert pairs.count() > 0
    for r in pairs.collect():
        a, b = r["vec_a"], r["vec_b"]
        # the higher-(centroid_cos, vec_id) member is always dropped
        victim = b if cos[b] >= cos[a] else a
        assert keep[victim] is False, f"edge ({a},{b}): victim {victim} kept"
        assert not (keep[a] and keep[b]), f"edge ({a},{b}) fully survived"


def test_semdedup_plan_is_cluster_equijoin(fixture):
    """Pairs materialize only inside the equi-join on cluster: no cartesian
    product, no broadcast nested loop, no per-doc broadcast side."""
    sdf, _, cents = fixture
    _, pairs = semdedup(sdf, cents, threshold=THRESH)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.slow
def test_semdedup_sub_blocking_invariant(fixture):
    """The hot-cluster skew guard (sub-blocked pair tasks) must never
    change the result: docs and pairs identical across sub_blocks=1 (the
    one-task-per-cluster degenerate), the default, and a non-divisor."""
    sdf, _, cents = fixture
    want_docs, want_pairs = None, None
    for s in (1, 3, 8):
        docs, pairs = semdedup(sdf, cents, threshold=THRESH, sub_blocks=s)
        d = sorted(tuple(r) for r in docs.collect())
        p = sorted(tuple(r) for r in pairs.collect())
        if want_docs is None:
            want_docs, want_pairs = d, p
            assert p  # non-vacuous
        else:
            assert d == want_docs, s
            assert p == want_pairs, s
    import pytest

    with pytest.raises(ValueError):
        semdedup(sdf, cents, threshold=THRESH, sub_blocks=0)


def test_semdedup_generic_string_ids(spark):
    """Round-9 advisor fix: the pair/docs schemas derive the id columns
    from the INPUT id type (previously hard-coded long) — string ids flow
    through both outputs unchanged, with the same keep-the-outlier drop
    semantics (lexicographic tie-break on the id, mirroring the numeric
    vec_id ordering contract)."""
    rows = [
        ("doc-a", [1.0, 0.0, 0.0]),
        ("doc-b", [1.0, 0.0, 0.0]),   # exact dup of doc-a
        ("doc-c", [0.0, 1.0, 0.0]),
        ("doc-d", [0.0, 0.98, 0.2]),  # near-dup of doc-c
        ("doc-e", [0.0, 0.0, 1.0]),
    ]
    sdf = spark.createDataFrame(rows, "doc_id string, embedding array<double>")
    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]
    docs, pairs = semdedup(
        sdf, cents, threshold=0.9, id_col="doc_id", vec_col="embedding"
    )
    assert dict(docs.dtypes)["vec_id"] == "string"
    assert dict(pairs.dtypes)["vec_a"] == "string"
    p = {(r["vec_a"], r["vec_b"]): r["cos"] for r in pairs.collect()}
    assert ("doc-a", "doc-b") in p and p[("doc-a", "doc-b")] == 1.0
    assert ("doc-c", "doc-d") in p
    keep = {r["vec_id"]: r["keep"] for r in docs.collect()}
    # equal centroid_cos (exact dup) drops the LARGER id -> doc-b;
    # doc-d sits further from the centroid than doc-c -> doc-c dropped
    assert keep == {
        "doc-a": True, "doc-b": False,
        "doc-c": False, "doc-d": True,
        "doc-e": True,
    }


def test_id_pd_dtype_keys_match_simple_strings():
    """ADVICE r9: the Arrow id-dtype map was keyed 'long'/'short'/'byte',
    which DataType.simpleString() never produces ('bigint'/'smallint'/
    'tinyint') — the common LongType id silently fell through to the
    object-dtype elementwise path. Pin every integer type to its concrete
    NumPy dtype and the non-numeric fallbacks to object."""
    from pyspark.sql.types import (
        ByteType,
        DecimalType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        ShortType,
        StringType,
    )

    from document_clustering_with_hadoop_mapreduce_spark.operators.similarity import (
        _id_pd_dtype,
    )

    assert _id_pd_dtype(LongType()) == "int64"
    assert _id_pd_dtype(IntegerType()) == "int32"
    assert _id_pd_dtype(ShortType()) == "int16"
    assert _id_pd_dtype(ByteType()) == "int8"
    assert _id_pd_dtype(FloatType()) == "float32"
    assert _id_pd_dtype(DoubleType()) == "float64"
    assert _id_pd_dtype(StringType()) == "object"
    assert _id_pd_dtype(DecimalType(20, 0)) == "object"
