"""Benchmark of the spark-graft engine: one seeded workload, end to end.

Run from the root of a checkout:

    python3 perfbench/run.py --workload medallion_etl --seed 1 --seconds 10 --trace 0

Workloads (closed loop, one client, one process, ``local[<nproc>]`` with
``<nproc>`` shuffle partitions):

- ``medallion_etl``: the ``run.py`` pipeline over seeded raw CSVs
  (``read_csv`` -> ``curate`` -> parquet -> ``present`` -> parquet).
- ``query_mix``: OLAP and LLM-dedup registry keys after a cold
  ``prebuild_indexes`` into a fresh per-run cache root.

Each run sets up, then times exactly one cold pass of its workload. A
pass takes longer than the ``run_seconds`` in ``BENCHMARK.json`` on a
4-core host, so ``--seconds`` is accepted and not used.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` turns on
Spark's event log and job groups and prints the per-layer metrics. The
last stdout line is the result object; the line before it carries the
host context and per-operation detail. Everything the run writes lives
under ``.perfbench_run/`` in the checkout and is removed at exit; a
traced run also leaves its spans in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "lab_etl_batch_data_processing_pipeline__spark"
MIB = float(2**20)

WORKLOADS = ("medallion_etl", "query_mix")

E2E_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "query_p50_s": "s",
    "rows_per_s": "rows/s",
    "mem_p90_mib": "MiB",
}


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env(run_dir: str, traced: bool) -> dict[str, str]:
    """Point every writer at ``run_dir`` and size Spark to this host.
    Returns the extra Spark conf for ``get_spark``."""
    n = str(_nproc())
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "warehouse", "eventlog")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={dirs['tmp']} -Dderby.system.home={run_dir}"
    os.environ.pop("SPARK_MASTER", None)
    os.environ.update({
        "SPARK_GRAFT_CPUS": n,
        "SPARK_SHUFFLE_PARTITIONS": n,
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_GRAFT_DRIVER_JAVA_OPTS": java_opts,
        "SPARK_LOCAL_DIRS": dirs["local"],
        "TMPDIR": dirs["tmp"],
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    })
    tempfile.tempdir = None
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": dirs["warehouse"],
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": dirs["eventlog"],
            "spark.eventLog.compress": "false",
        })
    return conf


def _boot(get_spark, conf: dict, tracer):
    with tracer.span("session.boot"):
        spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    tracer.spark = spark
    return spark


def _ops(tracer, pass_span, prefix: str = "") -> list:
    idx = tracer.spans.index(pass_span)
    return [s for s in tracer.children(idx) if s.name.startswith(prefix)]


def _hd_median(values) -> float:
    """Harrell-Davis estimate of the median: the order statistics weighted
    by a Beta((n+1)/2, (n+1)/2) distribution. With a dozen latencies of
    different queries the sample median jumps between neighbours that lie
    far apart; this estimate moves smoothly with every value."""
    x = sorted(values)
    n = len(x)
    if n < 3:
        return float(statistics.median(x)) if x else 0.0
    a = (n + 1) / 2
    steps = 64  # integration steps per order statistic
    grid = [k / (steps * n) for k in range(steps * n + 1)]
    dens = [t ** (a - 1) * (1 - t) ** (a - 1) for t in grid]
    cdf = [0.0]
    for k in range(len(grid) - 1):
        cdf.append(cdf[-1] + (dens[k] + dens[k + 1]) / 2)
    weights = [(cdf[steps * (i + 1)] - cdf[steps * i]) / cdf[-1] for i in range(n)]
    return sum(w * v for w, v in zip(weights, x))


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def run_medallion(args, tracer, get_spark, conf, run_dir, detail) -> dict:
    import gen
    import medallion

    raw_dir = os.path.join(run_dir, "raw")
    counts = gen.write_medallion_csvs(raw_dir, args.seed)
    csv_bytes = sum(os.path.getsize(p) for p in glob.glob(os.path.join(raw_dir, "*.csv")))
    detail["input"] = {"rows": counts, "csv_bytes": csv_bytes}

    # set-up is the JVM launch alone, as in one ``run.py`` invocation; the
    # timed pass, like that invocation, pays the first query's one-time
    # engine initialisation itself
    with tracer.span("setup") as setup:
        spark = _boot(get_spark, conf, tracer)
    boot = next(s for s in tracer.spans if s.name == "session.boot")

    expected = medallion.oracle_tables(raw_dir)
    out_dir = os.path.join(run_dir, "out")
    result = {"attempted": 0, "failed": 0, "errors": []}
    with tracer.span("pass") as timed:
        try:
            medallion.run_pass(spark, tracer, raw_dir, out_dir)
        except Exception as exc:  # the run goes on and reports the failure
            result["failed"] += 1
            result["errors"].append(f"pass: {type(exc).__name__}: {exc}"[:300])
    ops = _ops(tracer, timed)
    result["attempted"] += len(ops)
    problems = medallion.check_output(out_dir, expected)
    result["attempted"] += len(expected)
    result["failed"] += len(problems)
    result["errors"] += problems
    files_out, bytes_out = medallion.output_files(out_dir)

    wall = sum(o.dur for o in ops)
    detail["samples"] = {"ops": len(ops)}
    return {
        "spark": spark,
        "result": result,
        "e2e": {
            "setup_s": setup.dur,
            "wall_s": wall,
            "query_p50_s": _hd_median(o.dur for o in ops),
            "rows_per_s": sum(counts.values()) / wall,
        },
        "pass": timed,
        "boot_s": boot.dur,
        "layers": {
            "writers.files_out": float(files_out),
            "writers.bytes_out_mb": bytes_out / MIB,
            "writers.bytes_out_per_byte_in": bytes_out / csv_bytes,
        },
        "csv_mb": csv_bytes / MIB,
    }


def run_query_mix(args, tracer, get_spark, conf, run_dir, detail, cache_root) -> dict:
    import gen
    import queries
    from lab_etl_batch_data_processing_pipeline__spark import artifacts, registry

    data_dir = os.path.join(run_dir, "data", "sfbench")
    counts = gen.write_testdata(data_dir, args.seed)
    detail["input"] = {"rows": counts, "parquet_bytes": _dir_bytes(data_dir)}

    with tracer.span("setup") as setup:
        # the artifact build's own jobs warm the JVM before the timed pass
        spark = _boot(get_spark, conf, tracer)
        with tracer.span("artifacts.prebuild", "artifacts.prebuild") as prebuild:
            artifacts.prebuild_indexes(spark, data_dir)
    boot = next(s for s in tracer.spans if s.name == "session.boot")
    artifact_bytes = _dir_bytes(cache_root)

    registry_fns = registry.queries()
    oracle = queries.Oracle(data_dir, list(counts), registry.oracle_sql())
    result = {"attempted": 0, "failed": 0, "errors": []}
    order = list(queries.KEYS)
    random.Random(args.seed).shuffle(order)
    with tracer.span("pass") as timed:
        for key in order:
            result["attempted"] += 1
            try:
                df = queries.run_key(spark, tracer, registry_fns[key], key, data_dir)
                result["attempted"] += 1
                with tracer.span(f"oracle:{key}", f"oracle:{key}"):
                    problem = oracle.check(key, df)
                if problem:
                    result["failed"] += 1
                    result["errors"].append(f"{key}: oracle {problem}")
            except Exception as exc:  # one broken key must not end the run
                result["failed"] += 1
                result["errors"].append(f"{key}: {type(exc).__name__}: {exc}"[:300])
            finally:
                spark.catalog.clearCache()
    oracle.close()

    ops = _ops(tracer, timed, "query:")
    wall = sum(o.dur for o in ops)
    rows_in = sum(counts[t] for _, tables in queries.KEYS.values() for t in tables)
    detail["samples"] = {"queries": len(ops)}
    return {
        "spark": spark,
        "result": result,
        "e2e": {
            "setup_s": setup.dur,
            "wall_s": wall,
            "query_p50_s": _hd_median(o.dur for o in ops),
            "rows_per_s": rows_in / wall,
        },
        "pass": timed,
        "boot_s": boot.dur,
        "prebuild": prebuild,
        "layers": {"artifacts.bytes_mb": artifact_bytes / MIB},
    }


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    return True


def _stop_spark(spark) -> None:
    """Stop Spark, then the gateway JVM it launched, and wait until every
    process this benchmark started has ended. The process set is taken
    before the JVM stops: its Python workers are re-parented when it exits."""
    from pyspark import SparkContext

    from spans import descendants

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    elif SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while True:
        left = {p for p in started | descendants(os.getpid()) if _alive(p)}
        if not left or time.time() > deadline:
            break
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True, help="not used: one pass")
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "session.py")):
        print(f"perfbench: no {PKG} sources next to {HERE}", file=sys.stderr)
        return 2

    # a SIGTERM (e.g. a timeout) still runs the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    traced = bool(args.trace)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    base = os.path.join(ROOT, ".perfbench_run")
    run_dir = os.path.join(base, run_id)
    cache_root = os.path.join(run_dir, "cache")
    conf = _prepare_env(run_dir, traced)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    import bench  # host-context helpers shared with the legacy harness
    from lab_etl_batch_data_processing_pipeline__spark import artifacts, registry
    from lab_etl_batch_data_processing_pipeline__spark.session import get_spark

    import eventlog
    from layers import LAYER_UNITS, layer_metrics
    from spans import MemSampler, Tracer

    # every artifact and registry side cache goes to the fresh per-run root
    artifacts._REPO_ROOT = registry._REPO_ROOT = cache_root

    detail: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    host = {"nproc": _nproc(), "loadavg_preboot": round(os.getloadavg()[0], 2)}
    ticks0 = bench._cpu_ticks()
    tracer = Tracer(run_id, traced)
    spark = None
    try:
        with MemSampler() as mem:
            if args.workload == "medallion_etl":
                res = run_medallion(args, tracer, get_spark, conf, run_dir, detail)
            else:
                res = run_query_mix(args, tracer, get_spark, conf, run_dir, detail, cache_root)
            spark = res["spark"]
            host.update(bench.env_block(spark))
            _stop_spark(spark)
            spark = None
        ticks1 = bench._cpu_ticks()
        if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
            steal = (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1])
            host["steal_pct"] = round(100.0 * steal, 3)
        host["contended"] = (
            host.get("steal_pct", 0.0) >= 1.0 or host["loadavg_preboot"] >= host["nproc"]
        )
        detail["host"] = host
        result = res["result"]
        detail["errors"] = result["errors"]

        e2e = dict(res["e2e"], mem_p90_mib=mem.quantile(0.9) / MIB)
        detail["mem_peak_mib"] = mem.quantile(1.0) / MIB
        if traced:
            log_dirs = sorted(
                glob.glob(os.path.join(run_dir, "eventlog", "*")), key=os.path.getmtime
            )
            layers = layer_metrics(
                eventlog.parse(log_dirs[-1]), tracer, res, args.workload
            )
            layers["trace.wall_s"] = e2e["wall_s"]
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            tracer.dump(os.path.join(ROOT, ".perfbench_out", f"spans-{run_id}.json"))
            metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layers.items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
        detail["end_to_end"] = e2e
    finally:
        _stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass

    detail["elapsed_s"] = time.perf_counter() - T_START
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
