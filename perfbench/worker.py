"""One benchmark process: set up the engine, run the workload's passes,
write what it measured to a JSON file.

Launched by ``run.py``, which pins the environment, owns the inputs and
the oracle, and turns this file's raw samples into metrics. The
program is driven only through its public calls: ``session.get_spark``,
``plans.registry.all_queries``, ``tables.load_tables``, each query's
``fn(spark, sf_dir)`` and the DataFrame's ``collect()``.

Pass schedule: one timed cold pass, untimed warm-up passes until
``--warmup`` seconds have elapsed, then timed warm passes until
``--seconds`` have elapsed (and at least ``--min-passes``). Each pass runs every query once, in an order
shuffled by ``--seed``. A query that raises is recorded and the run
goes on.

With ``--trace 1`` the cold pass and every other warm pass are traced:
a span per query and per phase (``plan.build``: the ``fn`` call,
``exec.collect``: the action), Spark jobs as child spans of the phase
they ran in, and per-phase Spark and ``/proc`` counters. The untraced
warm passes in between give the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import procfs  # noqa: E402
from digest import digest  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

_MIB = 1024.0 * 1024.0


class Tracer:
    """Spans and per-query counters for traced passes, kept in memory."""

    def __init__(self, spark, scratch: str) -> None:
        from sparkstats import SparkCounters

        self.counters = SparkCounters(spark)
        self.scratch = scratch
        self.spans: list[dict] = []

    def span(self, sid, name, parent, start, end, **attrs) -> None:
        self.spans.append(
            {"id": sid, "name": name, "parent": parent, "start": start,
             "end": end, **attrs}
        )

    def run_query(self, qid: str, name: str, fn, spark, sf_dir: str):
        c = self.counters
        compiles0, files0 = c.codegen_compiles(), c.files_discovered()
        scratch0 = procfs.tree_bytes(self.scratch)
        t_a, w_a = time.perf_counter(), time.time()
        try:
            df = fn(spark, sf_dir)
        finally:
            t_b, w_b = time.perf_counter(), time.time()
            build_jobs = c.new_jobs()
        t_c, w_c = time.perf_counter(), time.time()
        try:
            rows = df.collect()
        finally:
            t_d, w_d = time.perf_counter(), time.time()
            collect_jobs = c.new_jobs()
        self.span(qid, "query", None, w_a, w_d, query=name)
        self.span(qid + ".build", "plan.build", qid, w_a, w_b)
        self.span(qid + ".collect", "exec.collect", qid, w_c, w_d)
        for phase, jobs in (("build", build_jobs), ("collect", collect_jobs)):
            for j in jobs:
                self.span(f"{qid}.job{j['job_id']}", "spark.job",
                          f"{qid}.{phase}", j["start"], j["end"])
        rec = {
            "build_s": t_b - t_a,
            "collect_s": t_d - t_c,
            "driver_self_s": max(
                (t_b - t_a) - _covered(build_jobs, w_a, w_b), 0.0),
            "build_jobs": len(build_jobs),
            "codegen_compiles": c.codegen_compiles() - compiles0,
            "files_discovered": c.files_discovered() - files0,
            "scratch_leftover_mib": max(
                procfs.tree_bytes(self.scratch) - scratch0, 0) / _MIB,
        }
        jobs = build_jobs + collect_jobs
        rec["jobs"] = len(jobs)
        rec["job_s"] = sum(
            j["end"] - j["start"] for j in jobs if j["start"] and j["end"])
        for key in ("stages", "tasks", "run_s", "cpu_s", "gc_s", "input_mib",
                    "shuffle_read_mib", "shuffle_write_mib", "spill_mib"):
            rec[key] = sum(j[key] for j in jobs)
        return df, rows, rec


def _covered(jobs: list[dict], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by at least one job span."""
    ivs = sorted(
        (max(j["start"], lo), min(j["end"] or hi, hi))
        for j in jobs if j["start"] is not None
    )
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in ivs:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def run_plain(fn, spark, sf_dir: str):
    t_a = time.perf_counter()
    df = fn(spark, sf_dir)
    t_b = time.perf_counter()
    rows = df.collect()
    t_c = time.perf_counter()
    return df, rows, {"build_s": t_b - t_a, "collect_s": t_c - t_b}


def run_pass(kind, names, queries, spark, sf_dir, tracer, pass_no):
    me = os.getpid()
    wchar0 = procfs.wchar_bytes(procfs.process_tree(me)) if tracer else 0
    recs = []
    t0 = time.perf_counter()
    for i, name in enumerate(names):
        rec = {"query": name}
        try:
            fn = queries[name].fn
            if tracer:
                df, rows, stats = tracer.run_query(
                    f"p{pass_no}q{i}", name, fn, spark, sf_dir)
            else:
                df, rows, stats = run_plain(fn, spark, sf_dir)
            rec.update(stats)
            rec["wall_s"] = stats["build_s"] + stats["collect_s"]
            rec["digest"] = digest(list(df.columns), rows)
        except Exception as e:  # a failing query is a sample, not a crash
            rec["error"] = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
        recs.append(rec)
    out = {"kind": kind, "traced": tracer is not None,
           "wall_s": time.perf_counter() - t0, "queries": recs}
    if tracer:
        out["write_mib"] = (
            procfs.wchar_bytes(procfs.process_tree(me)) - wchar0) / _MIB
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--warmup", type=float, required=True)
    ap.add_argument("--min-passes", type=int, required=True)
    ap.add_argument("--queries", help="comma list overriding the workload's")
    args = ap.parse_args()

    setup = {}
    t = time.perf_counter()
    from spark_hive_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        },
    )
    setup["session_start_s"] = time.perf_counter() - t
    t = time.perf_counter()
    from spark_hive_spark.plans.registry import all_queries

    queries = all_queries()
    setup["registry_import_s"] = time.perf_counter() - t
    t = time.perf_counter()
    from spark_hive_spark.tables import load_tables

    load_tables(spark, args.data)
    setup["tables_load_s"] = time.perf_counter() - t
    print("PERFBENCH_READY", flush=True)
    result = {"setup": setup, "passes": []}
    try:
        result.update(_run(args, spark, queries))
    finally:
        spark.stop()
        with open(args.out, "w") as f:
            json.dump(result, f)


def _run(args, spark, queries) -> dict:
    names = (args.queries.split(",") if args.queries
             else WORKLOADS[args.workload])
    rng = random.Random(args.seed)
    scratch = os.environ["SPARK_GRAFT_SCRATCH"]
    tracer = Tracer(spark, scratch) if args.trace else None
    cpu0 = procfs.cpu_times()

    def order():
        return rng.sample(names, len(names))

    passes = [run_pass("cold", order(), queries, spark, args.data, tracer, 0)]
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < args.warmup:  # untimed, still checked
        passes.append(run_pass("warmup", order(), queries, spark, args.data,
                               None, len(passes)))
    warm_t0 = time.perf_counter()
    # a traced run alternates traced and untraced passes: two of each
    min_passes = max(args.min_passes, 4) if tracer else args.min_passes
    n = 0
    while (n < min_passes
           or time.perf_counter() - warm_t0 < args.seconds):
        traced = tracer if (tracer and n % 2 == 0) else None
        passes.append(run_pass("warm", order(), queries, spark, args.data,
                               traced, len(passes)))
        n += 1
    tree = procfs.process_tree(os.getpid())
    jvm = [p for p in tree if procfs.is_jvm(p)]
    py = [p for p in tree if p not in jvm]
    return {
        "passes": passes,
        "steal_pct": procfs.steal_pct(cpu0, procfs.cpu_times()),
        "rss_jvm_mib": procfs.hwm_mib(jvm),
        "rss_python_mib": procfs.hwm_mib(py),
        "jvm_live_mib": _jvm_live_mib(spark),
        "spans": tracer.spans if tracer else [],
    }


def _jvm_live_mib(spark) -> float:
    """Heap in use after a full GC plus non-heap in use: the JVM's
    footprint without the slack G1 keeps between collections, which
    makes its resident size vary by ~2x between identical runs."""
    bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getMemoryMXBean()
    bean.gc()
    used = (bean.getHeapMemoryUsage().getUsed()
            + bean.getNonHeapMemoryUsage().getUsed())
    return used / _MIB


if __name__ == "__main__":
    main()
