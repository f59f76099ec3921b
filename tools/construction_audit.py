"""Plan-construction cost audit: Spark jobs (and seconds) each registered
slot runs at plan-CONSTRUCTION time — i.e. calling ``q.spark(spark, sf)``
without ever executing the returned frame.

The class this measures (VERDICT r10 #1): work that leaks into plan
construction is paid by every caller who builds the plan — sweeps,
plan-shape tests, a notebook composing plans — whether or not they run
it. Round 11 closed three instances found by exactly this audit: the
doc_quality BPE trainer (12 driver-blocking jobs -> deferred),
mine_hard_negatives' anchor-derivation counts re-executing the positives
corpus scan (13 jobs -> 4 bounded probe collects), and eager pagerank
inside lsh_candidate_pairs (46 jobs / ~11 s -> 5, the fully-lazy
unrolled fixed-undirected mode).

NOT every nonzero count is a defect — triage before "fixing":

- inherent iteration: Lloyd's k-means, k-means||, the dedup flood, and
  convergence-mode pagerank REQUIRE driver-paced actions (their loop
  conditions read results); their construction cost IS their execution
  cost, the documented M8 class.
- contract-bounded collects: cosine_topk/ivf probe sets and centroid
  literals ride the task closure by design — k-row collects, enforced
  caps.
- AQE checkpoint materialization: creating a localCheckpoint(eager=False)
  RDD under AQE materializes its shuffle stages at creation. Moving that
  work (session.lazy_cut) is a net LOSS for corpus-scale frames — the
  frozen static-partition sub-plan was A/B-measured ~2x slower at
  execution — so corpus-scale cuts deliberately keep plain checkpoints
  and their construction-time jobs.

Usage (from the repo root):
    PYTHONPATH=. python tools/construction_audit.py              # all slots, sf0.001
    PYTHONPATH=. python tools/construction_audit.py lsh kmeans   # substring filter

Prints one JSON line: {"slots": {name: {"jobs": N, "sec": s}}, "sf_dir": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

from document_clustering_with_hadoop_mapreduce_spark.plans.registry import all_queries
from document_clustering_with_hadoop_mapreduce_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "8")


def main() -> None:
    filters = [a for a in sys.argv[1:] if not a.startswith("-")]
    spark = get_spark("construction-audit", master=f"local[{CPUS}]")
    spark.sparkContext.setLogLevel("ERROR")
    tracker = spark.sparkContext.statusTracker()
    registry = all_queries()
    names = [
        n for n in sorted(registry)
        if not filters or any(f in n for f in filters)
    ]
    out: dict[str, dict] = {}
    for name in names:
        q = registry[name].spark
        q(spark, SF_DIR)  # prime: imports, parquet footers, process caches
        n0 = len(tracker.getJobIdsForGroup(None))
        t0 = time.perf_counter()
        q(spark, SF_DIR)  # the measured WARM construction
        out[name] = {
            "jobs": len(tracker.getJobIdsForGroup(None)) - n0,
            "sec": round(time.perf_counter() - t0, 3),
        }
    ranked = dict(sorted(out.items(), key=lambda kv: -kv[1]["jobs"]))
    print(json.dumps({"slots": ranked, "sf_dir": SF_DIR}))


if __name__ == "__main__":
    main()
