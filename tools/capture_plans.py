"""Capture .explain('formatted') for every registered query into a directory.

Usage: python tools/capture_plans.py <outdir> <suffix> [name ...]

Writes <outdir>/<query>_<suffix>.txt for each named query (default: all).
The plan is the AQE initial plan (isFinalPlan=false). Capture invokes no
result-producing action, but constructing a registered plan MAY run real
Spark jobs: plain localCheckpoint(eager=False) under AQE materializes the
checkpointed sub-plan's shuffle stages at .rdd creation (session.py's
lazy_cut notes) — the construction-audit job class, tracked separately.
"""

from __future__ import annotations

import os
import sys

from document_clustering_with_hadoop_mapreduce_spark.plans.registry import all_queries
from document_clustering_with_hadoop_mapreduce_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def main() -> None:
    outdir, suffix = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("capture-plans", master=f"local[{CPUS}]")
    spark.sparkContext.setLogLevel("ERROR")
    for name, q in sorted(all_queries().items()):
        if only and name not in only:
            continue
        try:
            df = q.spark(spark, SF_DIR)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as e:  # pragma: no cover - capture tool
            plan = f"PLAN CONSTRUCTION FAILED: {e!r}"
        with open(f"{outdir}/{name}_{suffix}.txt", "w") as f:
            f.write(plan)
        print(name, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
