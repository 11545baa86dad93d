#!/usr/bin/env python3
"""Occurrence-lifecycle benchmark: one run of one workload.

    python3 lifecycle_bench/run.py --workload repeated --seed 1 --seconds 5 --trace 0

Run from the repository root. One run generates a seeded corpus, starts a
Spark session on all cores, and takes the corpus through the lifecycle
with the program's public functions:

  ingest    10 DwC-A directories -> load -> process (all dimensions) ->
            sample -> index -> resource-partitioned store (one bulk pass)
  query     a closed loop, one client, of searches, facets, spatial
            queries, record lookups and downloads for --seconds seconds
            and at least MIN_BLOCKS blocks of one request of each kind
  maintain  traced runs only: one curator pass of duplicates, jackknife,
            expert-range outliers, stored validation rules and the
            user-assertion overlay

Outputs are checked against the generator's ground truth. The last line
of stdout is one JSON object: correct / attempted / failed / metrics. With
--trace 0 the metrics are the end-to-end ones of BENCHMARK.json; with
--trace 1 each layer call is wrapped in a span, its output materialised,
and the per-layer metrics are reported instead (spans are written to
.bench_work/traces/). The line before it carries the session settings,
the per-phase details and any check failures.

Everything the run writes stays under .bench_work/ in the current
directory and is removed at the end, except the trace files.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("repeated", "distinct")
N_RECORDS = 2000
# set-up (generation of archives and dimension files) is repeated and its
# median reported, so one slow repetition does not move setup_s
SETUP_REPEATS = 3
# the query median needs a minimum sample (20 requests) also where a slow
# machine fits fewer into --seconds
MIN_BLOCKS = 4


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float,
                   help="length of the timed query loop")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def machine() -> tuple[int, str]:
    """(cores this process may use, driver memory that leaves the rest of
    the machine to the Python workers and the OS)."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal"))
    return cores, f"{max(1, min(4, total_kb // (1024 * 1024) // 4))}g"


class MemorySampler(threading.Thread):
    """Peak resident memory of this process and every descendant (the
    driver JVM and its Python workers), sampled from /proc. Each process
    counts its proportional set size, so pages a forked Python worker
    shares with its parent are counted once."""

    def __init__(self, interval: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_kb = 0
        self._done = threading.Event()

    @staticmethod
    def _pss_kb(pid: int) -> int:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            return next(int(line.split()[1]) for line in f if line.startswith("Pss:"))

    def _tree_pss_kb(self) -> int:
        parents: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
                parents[int(entry)] = int(stat[stat.rindex(")") + 2:].split()[1])
            except (OSError, ValueError, IndexError):
                continue
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            parent = frontier.pop()
            for pid, ppid in parents.items():
                if ppid == parent and pid not in tree:
                    tree.add(pid)
                    frontier.append(pid)
        total = 0
        for pid in tree:
            try:
                total += self._pss_kb(pid)
            except (OSError, StopIteration, ValueError):
                continue  # the process ended between the listing and the read
        return total

    def run(self) -> None:
        while not self._done.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_pss_kb())
            self._done.wait(self.interval)

    def stop(self) -> float:
        self._done.set()
        self.join(timeout=5)
        self.peak_kb = max(self.peak_kb, self._tree_pss_kb())
        return self.peak_kb / 1024


def spark_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, tasks, failed tasks) of a job group, from the status tracker."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = failed = 0
    for job in jobs:
        info = tracker.getJobInfo(job)
        for stage in (info.stageIds if info else []):
            s = tracker.getStageInfo(stage)
            if s is not None:
                tasks += s.numTasks
                failed += s.numFailedTasks
    return len(jobs), tasks, failed


def stop_jvm() -> None:
    """Close the Py4J gateway and wait for the driver JVM, which exits when
    its stdin closes; SparkSession.stop leaves it running."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile; failed requests enter as +inf."""
    ordered = sorted(values)
    return ordered[max(0, math.ceil(q * len(ordered)) - 1)]


def main(argv=None) -> int:
    args = parse_args(argv)
    cores, driver_mem = machine()
    work = os.path.join(os.getcwd(), ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every file Spark, the JVM and Python write goes under the work dir
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        # -UsePerfData: the JVM's perf-data file goes to /tmp whatever the tmpdir
        "PYSPARK_SUBMIT_ARGS": (f"--driver-java-options '-Djava.io.tmpdir={tmp} "
                                "-XX:-UsePerfData' pyspark-shell"),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem,
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(cores),
    })
    sys.path[:0] = [ROOT, HERE]
    sampler = MemorySampler()
    spark = None
    try:
        import gen
        import lifecycle
        from spans import Tracer

        from biocache_store_spark.session import get_spark

        sampler.start()
        t0 = time.perf_counter()
        spark = get_spark(app_name="lifecycle-bench")
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        group = "lifecycle-bench"
        spark.sparkContext.setJobGroup(group, f"{args.workload} seed {args.seed}")

        setup_times = []
        for i in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            corpus = gen.generate(args.seed, N_RECORDS, args.workload)
            archives = gen.write_archives(corpus, os.path.join(work, f"setup{i}", "archives"))
            dim_paths = gen.write_dimensions(corpus, os.path.join(work, f"setup{i}", "dims"))
            setup_times.append(time.perf_counter() - t0)
        setup_s = session_s + statistics.median(setup_times)
        raw_bytes = sum(os.path.getsize(os.path.join(d, "occurrence.txt")) for _, d in archives)

        tracer = Tracer() if args.trace else lifecycle.Untraced()
        if args.trace:
            lifecycle.trace_program_internals(tracer)
        dims, distributions = lifecycle.load_dimensions(spark, dim_paths)
        run = lifecycle.Run(spark, corpus, archives, dims, distributions, tracer,
                            lifecycle.Checks())
        attempted = failed = 0

        # ingest: one bulk pass, the first work in a fresh JVM, as a
        # scheduled bulk load is
        store_path = os.path.join(work, "store")
        attempted += 1
        t0 = time.perf_counter()
        lifecycle.ingest(run, store_path)
        ingest_s = time.perf_counter() - t0
        store = spark.read.parquet(store_path)
        t_checks = time.perf_counter()
        lifecycle.check_ingest(run, store)
        files, store_bytes = lifecycle.store_files(store_path)
        checks_s = time.perf_counter() - t_checks

        # query: warm up on synthetic values that match no record, then a
        # closed loop with one client, in whole blocks of one request of
        # each kind, until --seconds have passed and MIN_BLOCKS are done
        stats = lifecycle.QueryStats() if args.trace else None
        downloads = os.path.join(work, "download")
        t_warm = time.perf_counter()
        warm = dataclasses.replace(run, tracer=lifecycle.Untraced())
        for req in lifecycle.warmup_requests():
            lifecycle.run_request(warm, store, req, downloads, None, check=False)
        warmup_s = time.perf_counter() - t_warm
        jobs_before = spark_counts(spark, group)[0] if args.trace else 0
        latencies: dict[str, list[float]] = {k: [] for k in lifecycle.QUERY_KINDS}
        blocks = lifecycle.request_blocks(corpus, args.seed)
        t_loop = time.perf_counter()
        n_blocks = 0
        while time.perf_counter() - t_loop < args.seconds or n_blocks < MIN_BLOCKS:
            n_blocks += 1
            for req in next(blocks):
                attempted += 1
                try:
                    latencies[req.kind].append(
                        lifecycle.run_request(run, store, req, downloads, stats))
                except Exception:
                    traceback.print_exc()
                    failed += 1
                    latencies[req.kind].append(float("inf"))
        loop_s = time.perf_counter() - t_loop
        n_requests = sum(len(v) for v in latencies.values())
        jobs_in_loop = (spark_counts(spark, group)[0] - jobs_before) if args.trace else 0
        all_lat = [x for v in latencies.values() for x in v]

        # maintain: one curator pass over the stored index, in traced runs
        # only (see README.md: the run budget does not hold it untraced)
        if args.trace:
            m = lifecycle.prepare_maintain(run, args.seed)
            attempted += 1
            t0 = time.perf_counter()
            res = lifecycle.maintain(run, store, m)
            maintain_s = time.perf_counter() - t0
            lifecycle.check_maintain(run, m, res)

        peak_rss_mb = sampler.stop()
        completed = n_requests - failed
        detail = {
            "workload": args.workload, "seed": args.seed,
            "master": spark.sparkContext.master, "cores": cores,
            "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
            "driver_memory": driver_mem, "records": len(corpus.records),
            "resources": len(archives), "query_requests": {k: len(v) for k, v in latencies.items()},
            "phase_s": {"session": session_s, "setup_median": statistics.median(setup_times),
                        "ingest": ingest_s, "ingest_checks": checks_s, "query_warmup": warmup_s,
                        "query_loop": loop_s},
            "query_loop_s": loop_s, "ingest_s": ingest_s,
            "store_files": files, "store_bytes": store_bytes,
            "query_p50_ms": percentile(all_lat, 0.5) * 1000,
            "query_kind_p50_ms": {k: statistics.median(v) * 1000 for k, v in latencies.items()},
            # too few samples beyond it for a bounded metric; shown for reference
            "query_p90_ms": percentile(all_lat, 0.9) * 1000,
            "checks_passed": run.checks.passed, "check_failures": run.checks.failures[:20],
            "ops_attempted": attempted, "ops_failed": failed,
        }
        if args.trace:
            # self time: a span's duration minus what its child spans cover
            detail["layer_self_s"] = tracer.self_times()
            detail["maintain"] = {
                "duplicates": len(res.dup_ids), "jackknife_taxa": res.jackknife_taxa,
                "outside_expert_range": len(res.outside), "rule_deltas": res.rule_deltas,
            }
            metrics = layer_metrics(tracer, spark, group, corpus, store, stats, latencies,
                                    n_requests, jobs_in_loop, res, session_s, files,
                                    store_bytes, ingest_s, maintain_s)
            trace_dir = os.path.join(os.getcwd(), ".bench_work", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{args.workload}-{args.seed}.json"), "w") as f:
                json.dump({"detail": detail, "spans": tracer.dump()}, f)
            tracer.unpatch()
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "ingest_records_per_s": (len(corpus.records) / ingest_s, "records/s"),
                "store_bytes_per_raw_byte": (store_bytes / raw_bytes, "ratio"),
                "query_p50_ms": (percentile(all_lat, 0.5) * 1000, "ms"),
                "queries_per_s": (completed / loop_s, "ops/s"),
                "peak_rss_mb": (peak_rss_mb, "MB"),
            }
        print(json.dumps(detail))
        print(json.dumps({
            "correct": not run.checks.failures,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        if sampler.is_alive():
            sampler.stop()
        if spark is not None:
            spark.stop()
            stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def layer_metrics(tracer, spark, group, corpus, store, stats, latencies, n_requests,
                  jobs_in_loop, res, session_s, files, store_bytes, ingest_s, maintain_s):
    """Per-layer metrics of a traced run, from its spans and counters."""
    from pyspark.sql import functions as F

    import lifecycle

    total = tracer.total_times()
    spans = tracer.spans

    def ingest_time(name: str) -> float:
        """Total time of `name` spans inside the ingest phase."""
        ingest_span = next(s for s in spans if s["name"] == "ingest")
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name
                   and ingest_span["start"] <= s["start"] <= ingest_span["end"])

    def median_ms(name: str) -> float:
        durations = [s["end"] - s["start"] for s in spans if s["name"] == name]
        return statistics.median(durations) * 1000 if durations else 0.0

    n = len(corpus.records)
    chain_s = ingest_time("processors.chain")
    # the corpus's sampling is the distinct_points call directly under
    # run_pipeline (the maintain phase samples again, under `jackknife`)
    pipeline_span = next(s for s in spans if s["name"] == "processors.run_pipeline")
    corpus_points = [s["rows"] for s in spans if s["name"] == "sampling.distinct_points"
                     and s["parent"] == pipeline_span["id"]][-1]
    failed_assertions = store.agg(F.sum("n_assertions_failed")).collect()[0][0]
    jobs, tasks, tasks_failed = spark_counts(spark, group)
    m = {
        "session.start_s": (session_s, "s"),
        "sources.load_s": (ingest_time("sources.load"), "s"),
        "processors.chain_s": (chain_s, "s"),
        "processors.chain_records_per_s": (n / chain_s if chain_s else 0.0, "records/s"),
        "processors.taxonomy_s": (ingest_time("processors.taxonomy"), "s"),
        "processors.sds_s": (ingest_time("processors.sds"), "s"),
        "processors.attribution_s": (ingest_time("processors.attribution"), "s"),
        "processors.run_pipeline_s": (ingest_time("processors.run_pipeline"), "s"),
        "processors.assertions_failed_per_record": (failed_assertions / n, "count"),
        "sampling.s": (sum(ingest_time(k) for k in (
            "sampling.distinct_points", "sampling.sample_points", "sampling.enrich_records")), "s"),
        "sampling.distinct_points": (corpus_points, "count"),
        "sampling.points_per_record": (corpus_points / n, "ratio"),
        "index_projection.build_s": (ingest_time("index_projection.build_index"), "s"),
        "exports.store_write_s": (ingest_time("exports.store_write"), "s"),
        "exports.store_files": (files, "count"),
        "exports.store_bytes": (store_bytes, "bytes"),
        "plans.translate_ms": (median_ms("plans.translate"), "ms"),
        "query.plan_ms": (statistics.median(stats.plan_s) * 1000, "ms"),
        "query.exec_ms": (statistics.median(stats.exec_s) * 1000, "ms"),
        "query.jobs_per_op": (jobs_in_loop / n_requests, "ratio"),
        "query.rows_scanned_per_row_returned": (
            stats.scanned / stats.returned if stats.returned else 0.0, "ratio"),
        "dedup.s": (total.get("dedup", 0.0), "s"),
        "dedup.duplicates_found": (len(res.dup_ids), "count"),
        "dedup.planted_recall": (lifecycle.planted_recall(corpus, res.dup_ids), "ratio"),
        "jackknife.s": (total.get("jackknife", 0.0), "s"),
        "outlier_distribution.s": (total.get("outlier_distribution", 0.0), "s"),
        "validation_rules.s": (total.get("validation_rules", 0.0), "s"),
        "user_assertions.overlay_s": (total.get("user_assertions", 0.0), "s"),
        "spark.jobs": (jobs, "count"),
        "spark.tasks": (tasks, "count"),
        "spark.tasks_failed": (tasks_failed, "count"),
        "trace.ingest_s": (ingest_s, "s"),
        "maintain.s": (maintain_s, "s"),
    }
    for kind, values in latencies.items():
        m[f"query.{kind}_ms"] = (statistics.median(values) * 1000, "ms")
    return m


if __name__ == "__main__":
    sys.exit(main())
