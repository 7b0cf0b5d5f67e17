#!/usr/bin/env python3
"""End-to-end benchmark of the query engine: one client calls registered
queries ``fn(spark, sf_dir)`` one after another (a closed loop) on
``local[nproc]`` and times each call as *build* and the following
``df.write.format("noop")`` as *execute*.

One run, for one workload of ``workloads.py``:

1. set-up: ``session.get_spark()``, ``registry.load_all_queries()`` and
   one pass over the workload that also checks every answer against the
   query's DuckDB oracle (only the Spark side of that pass is timed);
2. timed passes until ``--seconds`` have passed, each in an order drawn
   from ``--seed`` (the seed changes nothing else: the tables are the
   committed testdata copy, ``inputs.py``); ``pass_s``, ``build_s`` and
   ``exec_s`` sum each query's median over these passes, and
   ``peak_rss_mb`` is the median of each pass's peak resident memory of the
   gateway JVM plus this Python process. They start right after the checked
   pass: the first few, still slowed by the JVM's warm-up, are a minority
   the median passes over, and timing them leaves each query more samples
   than untimed warm-up passes would;
3. with ``--trace 1``, an event log and layer spans (``layers.py``) give the
   per-layer figures instead of the end-to-end ones.

The last stdout line is the result object; the line before it holds the
host, the data read and every sample. Run from the repository root:

    python3 perfbench/run.py --workload iterative_etl --seed 1 --seconds 30 --trace 1
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import platform
import random
import shlex
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

import inputs
from eventlog import TAG
from report import QueryRun, layer_metrics, per_query
from workloads import WORKLOADS

ROOT = Path(__file__).resolve().parents[1]
CACHE = ROOT / ".perfbench"


def parse_args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def prepare_environment(run_dir: Path) -> None:
    """Settings the JVMs and their Python workers read at launch."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    # Python DataSource workers import the engine package from here.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    os.environ["TMPDIR"] = str(tmp)
    submit = ["--driver-java-options", f"-Djava.io.tmpdir={tmp}", "pyspark-shell"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit)


def enable_event_log(event_log: Path) -> None:
    """Uncompressed, so that the standard library can read it back."""
    event_log.mkdir()
    conf = [
        "--conf", "spark.eventLog.enabled=true",
        "--conf", f"spark.eventLog.dir={event_log.as_uri()}",
        "--conf", "spark.eventLog.compress=false",
    ]  # fmt: skip
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{shlex.join(conf)} {os.environ['PYSPARK_SUBMIT_ARGS']}"


def run_query(spark, spec, data_dir: Path, timed: bool, collect: bool = False):
    """Build, then execute: a noop write, or ``toPandas`` when ``collect``.
    Jobs of timed passes are tagged ``<query>:build`` and ``<query>:exec``;
    those of the checked pass ``<query>:warm-build`` and ``<query>:warm-exec``."""
    sc = spark.sparkContext
    prefix = "" if timed else "warm-"
    sc.setLocalProperty(TAG, f"{spec.name}:{prefix}build")
    run = QueryRun(spec.name, time.time(), 0.0, 0.0)
    result, built = None, False
    t0 = time.perf_counter()
    try:
        df = spec.fn(spark, str(data_dir))
        run.build_s, built = time.perf_counter() - t0, True
        sc.setLocalProperty(TAG, f"{spec.name}:{prefix}exec")
        if collect:
            result = df.toPandas()
        else:
            df.write.format("noop").mode("overwrite").save()
    except Exception:  # a raised query is counted as failed, never dropped
        run.error = traceback.format_exc(limit=3)
        print(f"perfbench: {spec.name} raised\n{run.error}", file=sys.stderr)
    finally:
        elapsed = time.perf_counter() - t0
        if built:
            run.exec_s = elapsed - run.build_s
        else:
            run.build_s = elapsed
        sc.setLocalProperty(TAG, "between")
        df = None
        # Bill each query for its own plan: let the ContextCleaner reclaim
        # the previous query's checkpoints and shuffle files.
        gc.collect()
        sc._jvm.System.gc()
    return run, result


def engine_digest() -> str:
    h = hashlib.sha256()
    for path in sorted((ROOT / "bigdatainfinance1_spark").rglob("*.py")):
        h.update(str(path.relative_to(ROOT)).encode() + b"\0" + path.read_bytes())
    return h.hexdigest()


def git_sha() -> str | None:
    head = ROOT / ".git" / "HEAD"
    if not head.is_file():
        return None  # a checkout without history
    ref = head.read_text().strip()
    if not ref.startswith("ref: "):
        return ref
    ref_file = ROOT / ".git" / ref[5:]
    return ref_file.read_text().strip() if ref_file.is_file() else None


def mem_kb(path: str, key: str) -> int:
    with open(path) as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def take_peak_rss_mb(pids: list[int]) -> float:
    """Peak resident memory (VmHWM) of ``pids`` together since the last
    call, in MB; writing 5 to ``clear_refs`` restarts each peak from the
    current resident size."""
    peak = sum(mem_kb(f"/proc/{pid}/status", "VmHWM") for pid in pids) / 1024
    for pid in pids:
        Path(f"/proc/{pid}/clear_refs").write_text("5")
    return peak


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine since boot,
    summed over its cores (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def host_block(spark, args) -> dict:
    sc = spark.sparkContext
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "spark_driver_memory": sc.getConf().get("spark.driver.memory"),
        "mem_total_mb": mem_kb("/proc/meminfo", "MemTotal") / 1024,
        "git_sha": git_sha(),
        "engine_sha256": engine_digest(),
        "spark": spark.version,
        "python": platform.python_version(),
        "seed": args.seed,
        "workload": args.workload,
    }


def main() -> int:
    args = parse_args()
    if not (ROOT / "bigdatainfinance1_spark" / "__init__.py").is_file():
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    source_manifest = inputs.check_source()
    run_dir = CACHE / f"run-{os.getpid()}-{time.time_ns()}"
    prepare_environment(run_dir)
    sys.path.insert(0, str(ROOT))
    try:
        data = inputs.data_dir(CACHE, workload.copies)
        event_log = None
        if args.trace:
            event_log = run_dir / "eventlog"
            enable_event_log(event_log)
        return bench(args, workload, source_manifest, data, event_log)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def checked_pass(spark, queries, data_dir: Path, rng) -> tuple[list[QueryRun], dict]:
    """One pass that checks every answer against its oracle; the oracle
    side is not timed."""
    import verify

    con = verify.oracle_connection(data_dir)
    runs, verification = [], {}
    try:
        for spec in rng.sample(queries, len(queries)):
            run, pdf = run_query(spark, spec, data_dir, timed=False, collect=True)
            runs.append(run)
            verification[spec.name] = run.error or verify.mismatch(spec, pdf, con)
    finally:
        con.close()
    return runs, verification


def timed_passes(spark, queries, data_dir: Path, seconds: float, rng, pids):
    """Whole passes, each in a fresh seeded order, until ``seconds`` pass;
    with the peak resident memory of ``pids`` and the CPU time the host
    took from this machine (steal, all cores) during each pass."""
    passes, peaks, steals = [], [], []
    deadline = time.perf_counter() + seconds
    while not passes or time.perf_counter() < deadline:
        order = rng.sample(queries, len(queries))
        steal = steal_s()
        passes.append([run_query(spark, spec, data_dir, timed=True)[0] for spec in order])
        steals.append(steal_s() - steal)
        peaks.append(take_peak_rss_mb(pids))
    return passes, peaks, steals


def bench(args, workload, source_manifest, data, event_log) -> int:
    tracer = None
    if args.trace:
        from layers import Tracer

        tracer = Tracer()
        tracer.install()

    from bigdatainfinance1_spark.registry import load_all_queries
    from bigdatainfinance1_spark.session import get_spark
    from pyspark import SparkContext

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    session_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    specs = load_all_queries()
    registry_s = time.perf_counter() - t0
    jvm = SparkContext._gateway.proc
    host = host_block(spark, args)

    data_dir, stage_s = data
    rng = random.Random(args.seed)
    queries = [specs[name] for name in workload.queries]
    pids = [jvm.pid, os.getpid()]  # the gateway JVM and this Python process
    checked, verification = checked_pass(spark, queries, data_dir, rng)
    setup_peak_rss_mb = take_peak_rss_mb(pids)
    passes, pass_peak_rss_mb, pass_steal_s = timed_passes(
        spark, queries, data_dir, args.seconds, rng, pids
    )
    inputs.stop_spark(spark)

    timed = [r for p in passes for r in p]
    runs = checked + timed
    failed = sum(r.error is not None for r in runs)
    verified = sum(v is None for v in verification.values())
    checked_s = sum(r.build_s + r.exec_s for r in checked)
    pass_s = [sum(r.build_s + r.exec_s for r in p) for p in passes]

    def typical_pass(seconds) -> float:
        """Sum over the queries of each one's median over the timed passes:
        a slow query in a minority of passes does not move it."""
        return sum(
            statistics.median(seconds(r) for r in timed if r.name == spec.name) for spec in queries
        )

    end_to_end = {
        "setup_s": session_s + registry_s + checked_s,
        "pass_s": typical_pass(lambda r: r.build_s + r.exec_s),
        "build_s": typical_pass(lambda r: r.build_s),
        "exec_s": typical_pass(lambda r: r.exec_s),
        "peak_rss_mb": statistics.median(pass_peak_rss_mb),
        "verified_frac": verified / len(queries),
    }
    detail = {
        "host": host,
        "data": {
            "source_manifest": source_manifest,
            "read": inputs.describe(data_dir, ROOT),
            "stage_build_s": stage_s,
        },
        "setup": {
            "get_spark_s": session_s,
            "load_all_queries_s": registry_s,
            "checked_pass": {r.name: [r.build_s, r.exec_s] for r in checked},
        },
        "passes": [{r.name: [r.build_s, r.exec_s] for r in p} for p in passes],
        "pass_samples": len(passes),
        "pass_wall_median_s": statistics.median(pass_s),
        "pass_wall_max_s": max(pass_s),
        "setup_peak_rss_mb": setup_peak_rss_mb,
        "pass_peak_rss_mb": pass_peak_rss_mb,
        "pass_steal_s": pass_steal_s,
        "failed_frac": failed / len(runs),
        "failures": {r.name: r.error for r in runs if r.error},
        "verification": verification,
        "end_to_end": end_to_end,
    }
    if event_log is None:
        metrics = end_to_end
    else:
        from eventlog import read_events, reduce_events

        groups = reduce_events(read_events(event_log))
        metrics = layer_metrics(timed, len(passes), tracer.spans, groups, host["default_parallelism"])
        detail["per_query"] = per_query(timed, len(passes), tracer.spans, groups)
        metrics["session.get_spark_s"] = session_s
        metrics["registry.load_all_queries_s"] = registry_s
        for name in ("pass_s", "build_s", "exec_s"):
            metrics[f"trace.{name}"] = end_to_end[name]

    print(json.dumps({"detail": detail}))
    result = {
        "correct": failed == 0 and verified == len(queries),
        "attempted": len(runs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


def unit_of(metric: str) -> str:
    """Units follow the metric names of BENCHMARK.json."""
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith(("_s", ".s")):
        return "s"
    if metric.endswith("_frac"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
