"""Benchmark entry point.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository. One run:

1. pins the host through the program's own environment knobs (cores,
   driver heap, scratch root) and keeps every file it writes under
   ``.perfbench-runs/`` in the checkout;
2. generates the input tables from ``--seed`` (``gen.py``);
3. computes each query's expected result digest with the DuckDB oracle
   SQL the registry ships, outside every timed metric;
4. starts the engine in a fresh process (``worker.py``), times its
   set-up from process start to ready, and lets it run the workload's
   passes;
5. checks every result digest against the oracle and prints host facts,
   then, as the last line, one JSON object with the metrics: the
   end-to-end metrics with ``--trace 0``, the per-layer metrics with
   ``--trace 1``.

Exits non-zero, without a result, when the package is not importable
from the checkout or the engine process dies.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import select
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import procfs  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SF = 0.01            # input scale: lineitem has 6_000_000 * SF rows
WARMUP_S = 5.0       # untimed warm-up passes between the cold and warm passes
MIN_WARM_PASSES = 3
DEADLINE_S = 170     # the whole run, engine processes included


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _source_sha() -> str:
    """sha256 over the package sources, so a result names the code it
    measured even where the checkout is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "spark_hive_spark")
    for dirpath, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _git_sha() -> str | None:
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None  # never report the sha of an enclosing repository
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def pin_env(run_dir: str) -> dict:
    nproc = len(os.sched_getaffinity(0))
    mem_gib = procfs.mem_total_kib() / (1024 * 1024)
    dirs = {k: os.path.join(run_dir, k) for k in ("scratch", "tmp", "local")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(nproc),
        # a quarter of the host: the driver JVM is the whole local cluster
        SPARK_GRAFT_DRIVER_MEM=f"{max(int(mem_gib // 4), 1)}g",
        SPARK_GRAFT_SCRATCH=dirs["scratch"],
        SPARK_LOCAL_DIRS=dirs["local"],
        TMPDIR=dirs["tmp"],
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONDONTWRITEBYTECODE="1",
        # spark-submit's launcher JVM would write /tmp/hsperfdata_*
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
    )
    env.pop("OMP_NUM_THREADS", None)
    return env


def oracle_digests(names: list[str], data_dir: str) -> dict[str, str]:
    import duckdb

    from digest import digest
    from spark_hive_spark.plans.registry import all_queries
    from spark_hive_spark.tables import TABLES, table_path

    registry = all_queries()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{table_path(data_dir, t)}'")
        out = {}
        for name in names:
            q = registry.get(name)
            if q is None or q.oracle is None:
                continue  # unknown or oracle-less query: cannot be checked
            rel = con.sql(q.oracle)
            out[name] = digest(list(rel.columns), rel.fetchall())
        return out
    finally:
        con.close()


class Engine:
    """One ``worker.py`` process in its own session; ``close`` waits for
    every process of that session (JVM, Python workers) to end."""

    def __init__(self, args: list[str], env: dict, log_path: str) -> None:
        self._log = open(log_path, "ab")
        self.t_spawn = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), *args],
            env=env, cwd=ROOT, stdout=subprocess.PIPE, stderr=self._log,
            start_new_session=True,
        )

    def wait_ready(self, deadline: float) -> float:
        fd, buf = self.proc.stdout.fileno(), b""
        while b"PERFBENCH_READY\n" not in buf:
            left = deadline - time.monotonic()
            if left <= 0 or not select.select([fd], [], [], left)[0]:
                raise RuntimeError("engine process not ready by the deadline")
            chunk = os.read(fd, 4096)
            if not chunk:
                raise RuntimeError("engine process exited before it was ready")
            buf += chunk
        return time.perf_counter() - self.t_spawn

    def close(self, deadline: float) -> int:
        """Wait for the worker until ``deadline``, then for the rest of
        its session; kill whatever is still running after that."""
        try:
            rc = self.proc.wait(timeout=max(deadline - time.monotonic(), 1))
        except subprocess.TimeoutExpired:
            rc = None
        while (procfs.session_members(self.proc.pid)
               and time.monotonic() < deadline):
            time.sleep(0.05)
        self.kill()
        return rc if rc is not None else -signal.SIGKILL

    def kill(self) -> None:
        sid = self.proc.pid
        while members := procfs.session_members(sid):
            for pid in members:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.05)
        self.proc.wait()
        self.proc.stdout.close()
        self._log.close()


def run_engine(worker_args, env, run_dir, deadline):
    out = os.path.join(run_dir, "result.json")
    args = [*worker_args, "--out", out]
    eng = Engine(args, env, os.path.join(run_dir, "engine.log"))
    try:
        ready_s = eng.wait_ready(deadline)
        rc = eng.close(deadline)
    except BaseException:
        eng.kill()
        raise
    if rc != 0:
        raise RuntimeError(f"engine process exited with {rc}; see {run_dir}/engine.log")
    with open(out) as f:
        res = json.load(f)
    res["setup"]["ready_s"] = ready_s
    return res


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(res, ok, attempted) -> dict:
    warm = [p for p in res["passes"] if p["kind"] == "warm" and not p["traced"]]
    cold = next(p for p in res["passes"] if p["kind"] == "cold")
    lat = [q["wall_s"] for p in warm for q in p["queries"] if "wall_s" in q]
    return {
        "setup_s": (res["setup"]["ready_s"], "s"),
        "cold_pass_s": (cold["wall_s"], "s"),
        "pass_s": (_median([p["wall_s"] for p in warm]), "s"),
        "query_s.p50": (_median(lat), "s"),
        "ok_ratio": (ok / attempted, "ratio"),
        "footprint_mib": (res["jvm_live_mib"] + res["rss_python_mib"], "MiB"),
    }


# per-layer metric -> (per-query record key, unit); summed per pass,
# median over the traced warm passes
_PER_PASS = {
    "plan.build_s": ("build_s", "s"),
    "exec.collect_s": ("collect_s", "s"),
    "query.wall_s": ("wall_s", "s"),
    "driver.self_s": ("driver_self_s", "s"),
    "spark.build_jobs": ("build_jobs", "count"),
    "spark.jobs": ("jobs", "count"),
    "spark.stages": ("stages", "count"),
    "spark.tasks": ("tasks", "count"),
    "spark.job_s": ("job_s", "s"),
    "spark.executor_run_s": ("run_s", "s"),
    "spark.executor_cpu_s": ("cpu_s", "s"),
    "spark.gc_s": ("gc_s", "s"),
    "spark.input_mib": ("input_mib", "MiB"),
    "spark.shuffle_read_mib": ("shuffle_read_mib", "MiB"),
    "spark.shuffle_write_mib": ("shuffle_write_mib", "MiB"),
    "spark.spill_mib": ("spill_mib", "MiB"),
    "scratch.leftover_mib": ("scratch_leftover_mib", "MiB"),
    "codegen.compiles": ("codegen_compiles", "count"),
    "catalog.files_discovered": ("files_discovered", "count"),
}


def per_layer(res) -> dict:
    warm = [p for p in res["passes"] if p["kind"] == "warm"]
    traced = [p for p in warm if p["traced"]]
    plain = [p for p in warm if not p["traced"]]
    cold = next(p for p in res["passes"] if p["kind"] == "cold")

    def pass_sum(p, key):
        return sum(q.get(key, 0) for q in p["queries"])

    out = {name: (_median([pass_sum(p, key) for p in traced]), unit)
           for name, (key, unit) in _PER_PASS.items()}
    out["spark.cpu_per_run"] = (_median([
        pass_sum(p, "cpu_s") / pass_sum(p, "run_s")
        for p in traced if pass_sum(p, "run_s") > 0]), "ratio")
    out["codegen.cold_compiles"] = (pass_sum(cold, "codegen_compiles"), "count")
    out["io.write_mib"] = (_median([p["write_mib"] for p in traced]), "MiB")
    for name, key in (("session.start_s", "session_start_s"),
                      ("registry.import_s", "registry_import_s"),
                      ("tables.load_s", "tables_load_s")):
        out[name] = (res["setup"][key], "s")
    out["rss.jvm_mib"] = (res["rss_jvm_mib"], "MiB")
    out["rss.python_mib"] = (res["rss_python_mib"], "MiB")
    out["jvm.live_mib"] = (res["jvm_live_mib"], "MiB")
    out["host.steal_pct"] = (res["steal_pct"], "%")
    t_wall = _median([p["wall_s"] for p in traced])
    u_wall = _median([p["wall_s"] for p in plain])
    out["trace.overhead_pct"] = (
        100.0 * (t_wall / u_wall - 1.0) if u_wall else 0.0, "%")
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--queries", help="comma list replacing the workload's "
                    "queries (smoke checks)")
    ap.add_argument("--sf", type=float, default=SF)
    ap.add_argument("--warmup", type=float, default=WARMUP_S,
                    help="seconds of untimed warm-up passes")
    ap.add_argument("--min-passes", type=int, default=MIN_WARM_PASSES)
    args = ap.parse_args()
    # a terminated run still stops its engine processes (Engine.kill)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    t_start = time.monotonic()
    deadline = t_start + DEADLINE_S
    if not os.path.isfile(os.path.join(ROOT, "spark_hive_spark", "__init__.py")):
        _fail(f"package spark_hive_spark not found under {ROOT}")
    sys.path.insert(0, ROOT)

    names = (args.queries.split(",") if args.queries
             else WORKLOADS[args.workload])
    run_dir = os.path.join(
        ROOT, ".perfbench-runs",
        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    env = pin_env(run_dir)
    host = {
        "nproc": int(env["SPARK_GRAFT_CPUS"]),
        "mem_total_gib": round(procfs.mem_total_kib() / 1024**2, 2),
        "driver_mem": env["SPARK_GRAFT_DRIVER_MEM"],
        "scratch_root": env["SPARK_GRAFT_SCRATCH"],
        "git_sha": _git_sha(),
        "source_sha256": _source_sha(),
        "load1_start": procfs.load1(),
    }
    os.environ["TMPDIR"] = env["TMPDIR"]

    import gen

    data_dir = os.path.join(run_dir, "data")
    t = time.monotonic()
    gen.write_tables(data_dir, args.seed, args.sf)
    host["gen_s"] = round(time.monotonic() - t, 3)
    t = time.monotonic()
    expected = oracle_digests(names, data_dir)
    host["oracle_s"] = round(time.monotonic() - t, 3)

    worker_args = ["--workload", args.workload, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(args.trace),
                   "--data", data_dir, "--warmup", str(args.warmup),
                   "--min-passes", str(args.min_passes)]
    if args.queries:
        worker_args += ["--queries", args.queries]
    try:
        res = run_engine(worker_args, env, run_dir, deadline)
    except RuntimeError as e:
        _fail(str(e))

    attempted = failed = 0
    for p in res["passes"]:
        for q in p["queries"]:
            attempted += 1
            want = expected.get(q["query"])
            if "error" in q:
                why = q["error"]
            elif want is None:
                why = "no oracle result to check against"
            elif q["digest"] != want:
                why = f"digest {q['digest']} != oracle {want}"
            else:
                continue
            failed += 1
            print(f"perfbench: {p['kind']} {q['query']}: {why}", file=sys.stderr)
    ok = attempted - failed

    warm = [p for p in res["passes"] if p["kind"] == "warm"]
    host.update(
        load1_end=procfs.load1(),
        steal_pct=round(res["steal_pct"], 3),
        sf=args.sf,
        queries=len(names),
        warm_passes=len(warm),
        warm_samples=sum(len(p["queries"]) for p in warm if not p["traced"]),
        run_wall_s=round(time.monotonic() - t_start, 1),
    )
    metrics = (per_layer(res) if args.trace
               else end_to_end(res, ok, attempted))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    with open(os.path.join(run_dir, "summary.json"), "w") as f:
        json.dump({"host": host, **result}, f, indent=1)
    if res.get("spans"):
        with open(os.path.join(run_dir, "spans.json"), "w") as f:
            json.dump(res["spans"], f)
    for d in ("data", "scratch", "tmp", "local"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    print(json.dumps({"host": host}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
