"""Benchmark entry point.

Usage (from the repository root):

    python3 perfbench/run.py --workload doc_cluster --seed 1 --seconds 5 --trace 0

One run is one fresh process and one closed loop: a single client runs
one pass after another on ``local[<cores>]``. A pass runs the workload's
registered slots and collects each output, so every output column is
computed, then checks the output against ``expected.json``. The first pass
is cold. A fixed number of passes follows, as many as fit in ``--seconds``
at the workload's nominal pass time (at least two): one untimed warm-up,
then the timed ones.

Every pass is printed as a JSON line. The last line of standard output is
the result: ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer ones from a traced run (README.md describes both).
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import probes  # noqa: E402
from corpus import write_documents  # noqa: E402
from spans import Tracer, busy_s, read_event_log  # noqa: E402
from verify import digest, expected_for, load_expected  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

MAX_CORES = 4
DRIVER_MEM = "2g"

END_TO_END_UNITS = {"setup_s": "s", "pass_s": "s", "cpu_s": "s", "live_heap_mb": "MB"}

# per-layer metric -> unit; the span names each timing metric sums are in
# SPAN_METRICS below
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.driver_s": "s",
    "spark.slot_util": "ratio",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "sources.load_table_s": "s",
    "term_matrix.term_doc_counts_s": "s",
    "tfidf.tfidf_s": "s",
    "term_matrix.nnz": "count",
    "doc_cluster.lloyd_iter_s": "s",
    "doc_cluster.lloyd_jobs_per_iter": "count",
    "doc_cluster.top_terms_s": "s",
    "cluster_eval.metrics_s": "s",
    "dedup.shingle_s": "s",
    "dedup.minhash_s": "s",
    "dedup.lsh_s": "s",
    "dedup.verify_s": "s",
    "dedup.components_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.verify_yield": "ratio",
    "curation.quality_s": "s",
    "curation.xent_s": "s",
    "curation.decontam_s": "s",
    "curation.dsir_s": "s",
    "curation.funnel_s": "s",
    "cache.persisted_rdds_growth": "count",
    "cache.storage_mb_growth": "MB",
    "host.steal_s": "s",
    "trace.overhead_s": "s",
}

# per-layer timing metric -> the replay spans (replay.py) whose durations
# it sums within one replay pass
SPAN_METRICS = {
    "sources.load_table_s": ("sources.load_table",),
    "term_matrix.term_doc_counts_s": ("term_matrix.term_doc_counts",),
    "tfidf.tfidf_s": ("tfidf.tfidf",),
    "doc_cluster.top_terms_s": (
        "doc_cluster.seeded_sparse_centroids", "doc_cluster.sparse_dists",
        "doc_cluster.assign_from_dists", "doc_cluster.cluster_top_terms",
    ),
    "cluster_eval.metrics_s": ("cluster_eval.clustering_metrics", "cluster_eval.simplified_silhouette"),
    "dedup.shingle_s": ("dedup.shingle_hashes",),
    "dedup.minhash_s": ("dedup.minhash_signatures",),
    "dedup.lsh_s": ("dedup.lsh_candidate_pairs",),
    "dedup.verify_s": ("dedup.jaccard_verify_pairs",),
    "dedup.components_s": ("dedup.duplicate_components",),
    "curation.quality_s": ("curation.doc_quality",),
    "curation.xent_s": ("curation.unigram_cross_entropy",),
    "curation.decontam_s": ("curation.contamination_stats",),
    "curation.dsir_s": ("curation.dsir_weights",),
    "curation.funnel_s": ("curation.funnel",),
}

COUNT_METRICS = ("term_matrix.nnz", "dedup.candidate_pairs", "dedup.verified_pairs")


def _median(values: list, default=0.0) -> float:
    return statistics.median(values) if values else default


def _emit(record: dict) -> None:
    print(json.dumps(record), flush=True)


class Run:
    """One benchmark process: the Spark session, the corpus and the pass
    records."""

    def __init__(self, workload, data_dir: str, cores: int, spark, registry, expected):
        self.wl = workload
        self.data_dir = data_dir
        self.cores = cores
        self.spark = spark
        self.registry = registry
        self.expected = {s: expected_for(expected, s, workload.n_docs) for s in workload.slots}
        self.records: list[dict] = []

    def _measure(self, tag: str, phase: str, body, after=None) -> dict:
        """Run ``body()`` as one recorded pass. ``body`` returns the
        outputs as {slot: digest} and extra fields for the record;
        ``after()`` adds fields read once the pass's clock has stopped."""
        rdds0, mb0 = probes.cache_state(self.spark)
        c0, j0, h0 = probes.tree_cpu_s(), probes.jit_cpu_s(), probes.host_cpu_s()
        e0, t0 = time.time(), time.perf_counter()
        rec = {"record": "pass", "pass": tag, "phase": phase}
        try:
            outputs, extra = body()
            error = None
        except Exception:  # a failed pass is counted, reported and survived
            outputs, extra, error = {}, {}, traceback.format_exc()
        rec["wall_s"] = time.perf_counter() - t0
        rec["tree_cpu_s"] = probes.tree_cpu_s() - c0
        rec["jit_cpu_s"] = probes.jit_cpu_s() - j0
        rec["cpu_s"] = rec["tree_cpu_s"] - rec["jit_cpu_s"]
        rec.update({k: v - h0[k] for k, v in probes.host_cpu_s().items()})
        rec["start_epoch"], rec["end_epoch"] = e0, time.time()
        rec.update(extra)
        if after is not None:
            rec.update(after())
        if error is None:
            bad = [s for s, want in self.expected.items() if outputs.get(s) != want]
            error = f"output mismatch: {bad}" if bad else None
        rec["ok"] = error is None
        if error:
            print(f"pass {tag} failed: {error}", file=sys.stderr, flush=True)
            rec["error"] = error.strip().splitlines()[-1]
        # what this pass left cached; garbage collection between passes
        # may release some of it later
        rdds, mb = probes.cache_state(self.spark)
        rec["rdds_growth"], rec["storage_mb_growth"] = rdds - rdds0, mb - mb0
        rec["persisted_rdds"], rec["storage_mb"] = rdds, mb
        self.records.append(rec)
        _emit(rec)
        return rec

    def plain_pass(self, tag: str, phase: str) -> dict:
        """Run each slot as registered: build the frame (jobs the slot runs
        while building count as ``build``), then collect it."""
        sc = self.spark.sparkContext

        def body():
            outputs, build_s = {}, 0.0
            for slot in self.wl.slots:
                sc.setJobGroup(f"{tag}:build", slot)
                b0 = time.perf_counter()
                df = self.registry[slot].spark(self.spark, self.data_dir)
                build_s += time.perf_counter() - b0
                sc.setJobGroup(f"{tag}:run", slot)
                outputs[slot] = digest(df.collect(), df.columns)
            return outputs, {"build_s": build_s}

        def after():
            build_jobs, build_stages = probes.group_jobs_stages(self.spark, f"{tag}:build")
            run_jobs, run_stages = probes.group_jobs_stages(self.spark, f"{tag}:run")
            return {"build_jobs": build_jobs, "jobs": build_jobs + run_jobs,
                    "stages": build_stages + run_stages}

        return self._measure(tag, phase, body, after)

    def replay_pass(self, tag: str, tracer, replay_fn) -> dict:
        def body():
            tracer.start_pass(tag)
            return replay_fn(tracer, self.spark, self.data_dir), {}

        return self._measure(tag, "traced", body)


def _end_to_end(run: Run, setup_s: float, heap_mb: float) -> dict:
    timed = [r for r in run.records if r["phase"] == "timed" and r["ok"]]
    return {
        "setup_s": setup_s,
        "pass_s": _median([r["wall_s"] for r in timed]),
        "cpu_s": _median([r["cpu_s"] for r in timed]),
        "live_heap_mb": heap_mb,
    }


def _per_layer(run: Run, session_s: float, tracer, groups: dict) -> dict:
    plain = [r for r in run.records if r["phase"] == "timed"]
    traced = [r for r in run.records if r["phase"] == "traced"]
    empty = {"jobs": 0, "stages": 0, "tasks": 0, "task_cpu_s": 0.0, "gc_s": 0.0,
             "shuffle_write_mb": 0.0, "spill_mb": 0.0, "intervals": []}

    def engine(rec: dict) -> dict:
        b, r = (groups.get(f"{rec['pass']}:{k}", empty) for k in ("build", "run"))
        lo, hi = rec["start_epoch"] * 1e3, rec["end_epoch"] * 1e3
        intervals = b["intervals"] + r["intervals"]
        task_s = sum(min(f, hi) - max(s, lo) for s, f in intervals if f > lo and s < hi) / 1e3
        return {
            "spark.jobs": b["jobs"] + r["jobs"],
            "spark.stages": b["stages"] + r["stages"],
            "spark.tasks": b["tasks"] + r["tasks"],
            "spark.driver_s": rec["wall_s"] - busy_s(intervals, lo, hi),
            "spark.slot_util": task_s / (rec["wall_s"] * run.cores),
            "spark.task_cpu_s": b["task_cpu_s"] + r["task_cpu_s"],
            "spark.gc_s": b["gc_s"] + r["gc_s"],
            "spark.shuffle_write_mb": b["shuffle_write_mb"] + r["shuffle_write_mb"],
            "spark.spill_mb": b["spill_mb"] + r["spill_mb"],
            "plans.build_s": rec["build_s"],
            "plans.build_jobs": b["jobs"],
            "cache.persisted_rdds_growth": rec["rdds_growth"],
            "cache.storage_mb_growth": rec["storage_mb_growth"],
            "host.steal_s": rec["steal_s"],
        }

    per_pass = [engine(r) for r in plain]
    out = {k: _median([p[k] for p in per_pass]) for k in per_pass[0]} if per_pass else {}

    def span_s(span) -> float:
        return span["end"] - span["start"]

    for metric, names in SPAN_METRICS.items():
        out[metric] = _median([
            sum((span_s(s) for s in tracer.spans if s["pass"] == r["pass"] and s["name"] in names), 0.0)
            for r in traced
        ])
    iters = [s for s in tracer.spans if s["name"] == "doc_cluster.lloyd_iter"]
    out["doc_cluster.lloyd_iter_s"] = _median([span_s(s) for s in iters])
    out["doc_cluster.lloyd_jobs_per_iter"] = _median(
        [groups.get(s["group"], empty)["jobs"] for s in iters]
    )
    for metric in COUNT_METRICS:
        out[metric] = _median(tracer.counts.get(metric, []), default=0)
    cand = out["dedup.candidate_pairs"]
    out["dedup.verify_yield"] = out["dedup.verified_pairs"] / cand if cand else 0.0
    out["session.start_s"] = session_s
    out["trace.overhead_s"] = (
        _median([r["wall_s"] for r in traced]) - _median([r["wall_s"] for r in plain])
    )
    return {k: out.get(k, 0.0) for k in PER_LAYER_UNITS}


def _submit_args(out_dir: str, event_log_dir: str | None) -> str:
    """spark-submit arguments that keep the JVM's scratch files inside the
    run directory and, for a traced run, turn on the event log."""
    confs = {
        "spark.local.dir": os.path.join(out_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(out_dir, "warehouse"),
        # no hsperfdata file in /tmp; JVM temp files in the run directory
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(out_dir, 'tmp')} "
            # compiler threads never exit, so the CPU they spent stays
            # readable per thread (probes.jit_cpu_s)
            "-XX:-UseDynamicNumberOfCompilerThreads "
            # the throughput collector: G1's threads spent 5-9 s of CPU
            # per doc_cluster pass, the part of cpu_s that varied most
            # between runs; this one spends about 1 s (README.md)
            "-XX:+UseParallelGC"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        confs["spark.eventLog.enabled"] = "true"
        confs["spark.eventLog.dir"] = "file://" + event_log_dir
        # one plain JSON-lines file, which spans.read_event_log parses
        confs["spark.eventLog.compress"] = "false"
        confs["spark.eventLog.rolling.enabled"] = "false"
    return " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()) + " pyspark-shell"


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM and every Python worker to exit."""
    from pyspark import SparkContext

    children = probes.descendants()
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits at end of input
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    probes.reap(children, timeout=30)


def main(argv=None) -> int:
    started = probes.process_start_epoch()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, help="corpus size instead of the workload's (smoke tests)")
    args = ap.parse_args(argv)
    wl = WORKLOADS[args.workload]
    if args.docs:
        wl = dataclasses.replace(wl, n_docs=args.docs)
    try:
        from document_clustering_with_hadoop_mapreduce_spark.plans.registry import all_queries
        from document_clustering_with_hadoop_mapreduce_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: the engine package is not importable here: {e}", file=sys.stderr)
        return 2
    expected = load_expected()

    out_dir = os.path.join(ROOT, ".bench_out", f"{wl.name}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(out_dir, ignore_errors=True)
    data_dir = os.path.join(out_dir, "data")
    event_log_dir = os.path.join(out_dir, "eventlog") if args.trace else None
    for d in (data_dir, os.path.join(out_dir, "local"), os.path.join(out_dir, "tmp"), event_log_dir):
        if d:
            os.makedirs(d)
    write_documents(os.path.join(data_dir, "documents.parquet"), wl.n_docs, args.seed)

    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    os.environ["PYSPARK_SUBMIT_ARGS"] = _submit_args(out_dir, event_log_dir)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's own JVM
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = os.path.join(out_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(out_dir, "local")
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{wl.name}", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    _emit({"record": "run", "workload": wl.name, "seed": args.seed, "trace": args.trace,
           "cores": cores, "n_docs": wl.n_docs, "slots": list(wl.slots), "session_s": session_s})

    try:
        run = Run(wl, data_dir, cores, spark, all_queries(), expected)
        run.plain_pass("p0", "cold")
        setup_s = time.time() - started
        # after a fixed number of passes, so every run holds the same leaks
        heap_mb = probes.live_heap_mb(spark)
        tracer = None
        if args.trace:
            import replay  # imports pyspark and the engine's operators

            tracer = Tracer(spark)
            replay_fn = getattr(replay, wl.replay)
        for i, phase in enumerate(wl.pass_phases(args.seconds), start=1):
            run.plain_pass(f"p{i}", phase)
            if tracer is not None and phase == "timed":
                run.replay_pass(f"r{i}", tracer, replay_fn)
    finally:
        _stop(spark)

    if args.trace:
        tracer.dump(os.path.join(out_dir, "spans.json"))
        metrics = _per_layer(run, session_s, tracer, read_event_log(event_log_dir))
        units = PER_LAYER_UNITS
    else:
        metrics = _end_to_end(run, setup_s, heap_mb)
        units = END_TO_END_UNITS
    for d in ("data", "local", "tmp", "eventlog"):
        shutil.rmtree(os.path.join(out_dir, d), ignore_errors=True)
    failed = sum(not r["ok"] for r in run.records)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(run.records),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
