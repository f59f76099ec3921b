"""Regenerate ``expected.json`` from the registry's DuckDB oracles.

Usage: python3 perfbench/make_expected.py

For every slot a workload runs, and for every corpus size the benchmark
and its tests use, this builds the fixed corpus, runs the slot's oracle
SQL in DuckDB and stores the digest of the result. Run it after a change
to the corpus generator, a workload's sizes or a slot's oracle; it takes
a few minutes because the oracles are slow.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

from corpus import write_documents  # noqa: E402
from document_clustering_with_hadoop_mapreduce_spark.plans.registry import all_queries  # noqa: E402
from verify import EXPECTED_PATH, digest  # noqa: E402
from workloads import SMOKE_DOCS, WORKLOADS  # noqa: E402


def main() -> None:
    registry = all_queries()
    sizes: dict[str, set[int]] = {}
    for w in WORKLOADS.values():
        for slot in w.slots:
            sizes.setdefault(slot, set()).update({w.n_docs, SMOKE_DOCS})
    expected: dict[str, dict[str, dict]] = {}
    with tempfile.TemporaryDirectory() as tmp:
        for n_docs in sorted(set().union(*sizes.values())):
            path = os.path.join(tmp, f"documents_{n_docs}.parquet")
            write_documents(path, n_docs, seed=0)
            con = duckdb.connect()
            con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
            for slot in sorted(s for s, ns in sizes.items() if n_docs in ns):
                t0 = time.perf_counter()
                cur = con.execute(registry[slot].oracle)
                cols = [d[0] for d in cur.description]
                expected.setdefault(slot, {})[str(n_docs)] = digest(cur.fetchall(), cols)
                print(f"{slot} @ {n_docs} docs: {expected[slot][str(n_docs)]} "
                      f"({time.perf_counter() - t0:.1f} s)", file=sys.stderr)
            con.close()
    with open(EXPECTED_PATH, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
