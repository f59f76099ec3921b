"""Round-6 HALF_UP boundary tripwire (VERDICT r9 #2): for each similarity
slot's ``_round6``-rounded slices, recompute the output scores UNROUNDED
and count (a) ``disagreements`` — scores where the binary-double floor
(``_round6``) and BigDecimal HALF_UP on the shortest decimal (JVM/DuckDB)
actually round differently; EXPECTED 0 per slot, asserted by the test
gate — and (b) ``near_boundary`` — scores within 1e-9 of a 0.5e-6
boundary, the conservative early-warning band; a SMALL NONZERO count here
is normal and healthy (the corpus measures a few such values on which
both engines still agree) — only a nonzero ``disagreements`` is the
tripwire firing (see operators/similarity.py::_round6 and
plans/round6_monitor.py for scope + precision caveats).

    PYTHONPATH=. python tools/round6_boundary_scan.py    # $SPARK_GRAFT_SF_DIR

Prints one JSON line:
{"slots": {name: {rows, disagreements, near_boundary}}, "sf_dir": ...}.
The same scan gates every round in tests/test_round6_boundary.py.
"""

from __future__ import annotations

import json
import os

from document_clustering_with_hadoop_mapreduce_spark.plans.round6_monitor import scan_all
from document_clustering_with_hadoop_mapreduce_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def main() -> None:
    spark = get_spark("round6-scan", master=f"local[{CPUS}]")
    spark.sparkContext.setLogLevel("ERROR")
    slots = scan_all(spark, SF_DIR)
    print(json.dumps({"slots": slots, "sf_dir": SF_DIR}))
    spark.stop()


if __name__ == "__main__":
    main()
