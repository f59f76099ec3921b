"""SparkSession factory tuned for both local testing and cluster scale.

The defaults encode the scale posture from SURVEY.md §4: AQE on (runtime
partition coalescing + skew-join handling), broadcast threshold high enough
to keep dimension tables map-side, Arrow on for the few pandas-UDF paths.

Codegen posture: a session compiles each distinct whole-stage class once.
The registry's plans are re-run within one session (perfbench's closed
loop, the test suite's shared session, the min-of-N tool loops), and
Janino compiling the same code again is a fixed cost paid on the driver
and in the tasks every pass. Spark's default 100-entry codegen cache is
smaller than one ``doc_cluster`` or ``corpus_curation`` pass (156-170
classes), so its LRU evicted every class before reuse; and AQE numbers
whole-stage stages in planning order, so identical code got a new class
name (a cache miss) on every pass. ``get_spark`` therefore sizes the cache
to the registry and drops the stage id from class names.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"

# One sweep of all 50 registry slots at sf0.001 compiles 1,019-1,024
# distinct generated classes (id-free names, unbounded cache, 4 cores);
# 2048 holds a whole sweep with room to spare. An entry costs 24-40 KB of
# heap: after two registry sweeps the session holds 149 MB live against
# 113 MB with the 100-entry default. Class names carry no stage id (see
# get_spark), so identical code is one cache key across passes.
CODEGEN_CACHE_ENTRIES = "2048"


@contextmanager
def aqe_off(spark: SparkSession):
    """Scoped adaptive-execution toggle for PLAN-CONSTRUCTION-time RDD
    creation (``localCheckpoint(eager=False)``): under AQE, building a
    checkpoint RDD materializes the plan's shuffle query stages (and any
    broadcast) RIGHT THEN — real Spark jobs at what should be a lazy
    construction step. Scope is construction only: the frozen physical
    plan executes later without AQE, which costs nothing on the
    small/bounded sub-plans this is used for. The toggle mutates the
    SESSION conf, so a concurrent plan-construction on another driver
    thread would briefly see AQE off (plans built then still execute
    correctly — AQE is an optimization, never semantics); the driver
    contract and every tool here construct single-threaded."""
    key = "spark.sql.adaptive.enabled"
    old = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, old)


def lazy_cut(df):
    """``localCheckpoint(eager=False)`` created under ``aqe_off``: the
    lineage cut for multi-consumer sub-plans that must cost ZERO jobs at
    plan-construction time. Under AQE, building the checkpoint RDD
    materializes the sub-plan's shuffle stages right then (measured 46
    jobs / ~11 s per lsh_candidate_pairs construction before pagerank
    and the plan-module cuts adopted this); with the scoped toggle the
    cut is free and the checkpoint materializes at first ACTION, exactly
    once, shared by every consumer. Cost: the frozen sub-plan executes
    without AQE (static shuffle partitions — nothing for the bounded
    frames this guards; prefer a plain checkpoint for sub-plans that
    want AQE skew handling at execution)."""
    with aqe_off(df.sparkSession):
        return df.localCheckpoint(eager=False)


def get_spark(app_name: str = "document-clustering-spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    On a real cluster ``master`` comes from spark-submit; locally we default
    to ``local[$SPARK_GRAFT_CPUS]`` (32 in the test harness).

    ``spark.sql.codegen.cache.maxEntries`` is a static conf: it takes effect
    only when this call creates the session. A session built elsewhere (an
    external driver calling ``__spark_entry__.entry(spark)``) keeps Spark's
    100-entry default, and so does a session this call merely reuses.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master:
        builder = builder.master(master)
    builder = (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", os.environ.get("SPARK_GRAFT_SHUFFLE", DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", CODEGEN_CACHE_ENTRIES)
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    return builder.getOrCreate()
