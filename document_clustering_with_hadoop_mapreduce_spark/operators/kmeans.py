"""K-Means clustering — the reference's core capability, Spark-first.

Reference parity (SURVEY.md §2.6 M1-M9):
- tasks 2.1/2.2/2.3 run hand-rolled MR Lloyd iterations with centroids
  shipped as config strings and re-read from HDFS each iteration
  (ref sources/2.2/source/KMeans.java:167-195). Here task 2.1's 2-D fit is
  ``mllib_kmeans`` (``pyspark.ml.clustering.KMeans``, seeded, k-means||
  init built in). Every other Lloyd loop — tasks 2.2/2.3, the embedding
  slots' value-gated WCSS trace (M9) and the deterministic k-means|| init
  — runs on the sparse per-doc kernel of ``doc_cluster``
  (``sparse_assign``, ``sparse_lloyd``, ``scalable_kmeans_init``).

What stays here is dense nearest-centroid assignment against centroids
the caller already holds (semdedup, the IVF and quantized indexes): a
broadcast nearest-neighbor "join" (ref J5) — k×d floats to every
executor, argmin via an array-of-struct min, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _as_double_array(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def assign_nearest(
    df: DataFrame,
    centroids: list[list[float]],
    features_col: str = "embedding",
    round_decimals: int | None = 6,
) -> DataFrame:
    """M4/M5: nearest-centroid assignment as a pure column expression.

    Emits ``cluster`` (argmin of squared euclidean, smallest-id tie-break)
    and ``dist_sq``. Distances are optionally rounded before the argmin so
    the choice is reproducible across engines/partitionings (same
    round-before-rank discipline as the top-k operators).

    The centroids enter the plan as ONE k x d nested-array literal and the
    per-centroid distance is zip_with + aggregate (JVM higher-order
    functions, same left-to-right fold order as an unrolled sum, so results
    are bit-identical). The previously unrolled per-dimension expression
    took seconds of DRIVER time per call just to build (k*d py4j column
    ops) — measured 3.5-5.5 s/iteration at k=5, d=64, dominating the whole
    Lloyd loop; the literal form builds in ~10 ms and the executor-side
    work is the same one narrow pass either way.
    """
    vec = _as_double_array(F.col(features_col))
    cents = F.lit([[float(v) for v in c] for c in centroids])

    def dist(c: Column) -> Column:
        d = F.aggregate(
            F.zip_with(vec, c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return F.round(d, round_decimals) if round_decimals is not None else d

    best = F.array_min(
        F.transform(cents, lambda c, i: F.struct(dist(c).alias("d"), i.alias("cid")))
    )
    return df.withColumn("cluster", best["cid"]).withColumn("dist_sq", best["d"])


# The HOF assignment above is O(k*d) INTERPRETED work per row (~1 us per
# element) — the right shape for a handful of centroids, a scale-killer
# once k grows with the corpus (SemDeDup's k).
# Callers switch to the Arrow twin below past this k.
ARROW_ASSIGN_MIN_K = 16


def assign_nearest_arrow(
    df: DataFrame,
    centroids: list[list[float]],
    features_col: str = "embedding",
    round_decimals: int | None = 6,
) -> DataFrame:
    """``assign_nearest`` semantics on a NumPy batch path: squared
    euclidean per centroid (vectorized one-centroid-at-a-time — no
    |v|^2+|c|^2-2vc expansion, whose cancellation error would differ from
    the fold for near-duplicate vectors), optional HALF_UP distance round,
    argmin with smallest-cid tie-break (NumPy argmin returns the first
    minimum). mapInPandas keeps it map-side (no shuffle, no join-back);
    the k x d centroid matrix ships once per task in the closure.

    Emits the SAME columns as ``assign_nearest`` (input + cluster +
    dist_sq) — but the input passes through Arrow, so callers must select
    Arrow-friendly columns first (no UDTs). Float-summation order differs
    from the JVM fold at ~1e-16, the accepted class (see the block matmul
    engines); pinned equal to ``assign_nearest`` on real fixture data in
    tests/test_semdedup.py.

    Magnitude contract (round 9, enforced): the HALF_UP emulation
    ``floor(d2*10^r + 0.5)`` is exact only while ``d2*10^r < 2^52`` —
    already at odd integers in [2^52, 2^53) the ``+ 0.5`` is not
    representable (ulp = 1) and rounds half-to-even UP, so the floor
    lands one past the true value and silently diverges from
    ``assign_nearest``'s decimal ``F.round`` (verified numerically at
    2^52 + 1). Fine for normalized embeddings (d2 <= 4); a
    large-magnitude feature space that crosses the bound RAISES with a
    pointer at ``round_decimals=None`` (exact, unrounded distances)
    rather than returning assignments under different tie-break
    semantics.
    """
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    cmat = [[float(v) for v in c] for c in centroids]
    # fresh StructType — df.schema is memoized on the DataFrame and
    # StructType.add mutates in place, so .add on it would poison the
    # input frame's own schema
    schema = StructType(
        list(df.schema.fields)
        + [StructField("cluster", IntegerType()), StructField("dist_sq", DoubleType())]
    )
    scale = None if round_decimals is None else float(10**round_decimals)

    def assign(batches):
        import numpy as np

        C = np.asarray(cmat, dtype=np.float64)
        for pdf in batches:
            pdf = pdf.reset_index(drop=True)
            if not len(pdf):
                continue
            m = np.asarray(pdf[features_col].tolist(), dtype=np.float64)
            d2 = np.empty((len(pdf), len(C)), dtype=np.float64)
            for ci in range(len(C)):
                diff = m - C[ci]
                d2[:, ci] = (diff * diff).sum(axis=1)
            if scale is not None:
                scaled = d2 * scale
                # max propagates NaN, so one comparison catches both a
                # corrupt (NaN/Inf) embedding and the magnitude bound —
                # NaN >= x is False, hence the explicit isnan arm
                mx = scaled.max(initial=0.0)
                if np.isnan(mx) or mx >= 2.0**52:  # see docstring
                    raise ValueError(
                        "assign_nearest_arrow: a squared distance is "
                        "non-finite (NaN/Inf embedding?) or exceeds "
                        f"2^52/10^{int(np.log10(scale))}, where the HALF_UP "
                        "emulation loses integer precision (the +0.5 rounds "
                        "half-to-even at ulp >= 1) and diverges from "
                        "assign_nearest's decimal F.round — clean the "
                        "vectors, pass round_decimals=None (exact "
                        "distances), or normalize the feature space."
                    )
                d2 = np.floor(scaled + 0.5) / scale  # HALF_UP, d2 >= 0
            cl = d2.argmin(axis=1)
            pdf["cluster"] = cl.astype("int32")
            pdf["dist_sq"] = d2[np.arange(len(pdf)), cl]
            yield pdf

    return df.mapInPandas(assign, schema)


def mllib_kmeans(
    df: DataFrame,
    k: int,
    features_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
    tol: float = 1e-5,
):
    """M1-M7 for task 2.1: pyspark.ml KMeans over an array column, with
    MLlib's defaults of euclidean distance and k-means|| init (M3, the
    Bahmani et al. algorithm the reference hand-rolls at
    sources/2.2/source/ScalableKMeans.java). Returns (model, assignments
    DataFrame).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = df.withColumn("__features", array_to_vector(_as_double_array(F.col(features_col))))
    km = KMeans(
        k=k, seed=seed, maxIter=max_iter, tol=tol,
        featuresCol="__features", predictionCol="cluster",
    )
    model = km.fit(feats)
    out = model.transform(feats).drop("__features")
    return model, out
