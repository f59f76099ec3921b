"""Isolate and time registered queries with the noop sink (guide §1.4).

Usage: PYTHONPATH=. python tools/isolate_query.py [-n RUNS] [name ...]

Times each named query (default: all 50) at $SPARK_GRAFT_SF_DIR with
``df.write.format('noop')`` — every column of every row is computed and
discarded, so the number is the computation, not the sink and not a
count()-pruned subtree. One warm-up run, then min-of-N (default 2).
Prints one JSON line {"noop_sec": {name: sec, ...}, "sf_dir": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

from document_clustering_with_hadoop_mapreduce_spark.plans.registry import all_queries
from document_clustering_with_hadoop_mapreduce_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    args = sys.argv[1:]
    n_runs = 2
    if args and args[0] == "-n":
        n_runs = int(args[1])
        args = args[2:]
    spark = get_spark("isolate-query", master=f"local[{CPUS}]")
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()
    names = args or sorted(registry)
    out: dict[str, float] = {}
    for name in names:
        q = registry[name]
        spark.sparkContext.setJobDescription(f"isolate: {name}")
        noop(q.spark(spark, SF_DIR))  # warm-up / compile
        runs = []
        for _ in range(n_runs):
            t0 = time.perf_counter()
            noop(q.spark(spark, SF_DIR))
            runs.append(time.perf_counter() - t0)
        out[name] = round(min(runs), 3)
        print(f"{name}: {out[name]}", file=sys.stderr, flush=True)
    spark.sparkContext.setJobDescription(None)
    print(json.dumps({"noop_sec": out, "sf_dir": SF_DIR}))
    spark.stop()


if __name__ == "__main__":
    main()
