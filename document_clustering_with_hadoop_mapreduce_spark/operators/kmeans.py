"""K-Means clustering — the reference's core capability, Spark-first.

Reference parity (SURVEY.md §2.6 M1-M9):
- tasks 2.1/2.2/2.3 run hand-rolled MR Lloyd iterations with centroids
  shipped as config strings and re-read from HDFS each iteration
  (ref sources/2.2/source/KMeans.java:167-195). Here every Lloyd loop —
  tasks 2.1/2.2/2.3, the embedding slots' value-gated WCSS trace (M9) and
  the deterministic k-means|| init — runs on the sparse per-doc kernel of
  ``doc_cluster`` (``sparse_assign``, ``sparse_lloyd``,
  ``scalable_kmeans_init``).

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
