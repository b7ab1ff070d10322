"""Benchmark entry point.

    python3 perfbench/run.py --workload cube_timeseries --seed 1 --seconds 30 --trace 0

Run from the root of a checkout: it measures the ``rastercube_spark``
package found there, and Python workers import it from there too. The
last line of stdout is one JSON object (``correct``, ``attempted``,
``failed``, ``metrics``); with ``--trace 0`` the metrics are the
end-to-end ones, with ``--trace 1`` the per-layer ones. The line before
it is a readable summary. See README.md for what each number means.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, "perfbench")
WORK_DIR = os.path.join(BENCH_DIR, "_work")
SF_DIR = os.path.join(BENCH_DIR, "data", "sf0.1")
WARM_SF_DIR = os.path.join(BENCH_DIR, "data", "sf0.01")
ORACLE_DIR = os.path.join(WORK_DIR, "oracle")
WORKLOADS = ("cube_timeseries", "corpus_vector")

# span name -> per-layer time metric (seconds per pass)
LAYER_SPANS = {
    "queries.construct": "queries.construct_s",
    "exec.execute": "exec.execute_s",
    "sources.geotiff.ingest_tiles": "sources.geotiff.ingest_tiles_s",
    "sources.raster.append_dates": "sources.raster.append_dates_s",
    "operators.chunks.map_chunks": "operators.chunks.map_chunks_s",
    "sources.raster.load_slice_xy": "sources.raster.load_slice_xy_s",
    "sources.raster.read_exec": "sources.raster.read_exec_s",
    "sources.raster.load_slice_array": "sources.raster.load_slice_array_s",
}
# per-pass counters a workload adds to PassRecord.layers
LAYER_COUNTERS = (
    "queries.construct_jobs", "queries.construct_tasks", "queries.construct_cpu_s",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.scan_stage_tasks",
    "exec.input_bytes", "exec.executor_cpu_s", "exec.executor_run_s",
    "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.spill_bytes",
    "exec.failed_tasks",
    "sources.geotiff.ingest_tasks", "sources.geotiff.ingest_executor_cpu_s",
    "sources.geotiff.ingest_shuffle_write_bytes",
    "sources.raster.append_write_amp", "sources.raster.read_rows_scanned_per_value",
    "sources.raster.read_tasks",
)


def per_layer_names() -> list[str]:
    from perfbench.workloads import QUERY_OPS

    names = ["session.get_spark_s", "registry.queries_s", "bench.warmup_pass_s"]
    names += list(LAYER_SPANS.values()) + list(LAYER_COUNTERS)
    names += ["exec.core_busy", "exec.cpu_per_run",
              "sources.raster.data_files", "sources.raster.stored_bytes",
              "sources.raster.stored_bytes_per_value_byte",
              "host.steal_frac", "proc.peak_rss_mb", "proc.peak_rss_jvm_mb",
              "trace.pass_s", "trace.op_self_s", "trace.spans"]
    for op in QUERY_OPS:
        names += [f"{op}.construct_s", f"{op}.execute_s"]
    return names


RATIOS = ("exec.core_busy", "exec.cpu_per_run", "host.steal_frac",
          "sources.raster.append_write_amp",
          "sources.raster.read_rows_scanned_per_value",
          "sources.raster.stored_bytes_per_value_byte")


def layer_unit(name: str) -> str:
    if name in RATIOS:
        return "ratio"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    return "bytes" if name.endswith("_bytes") else "count"


def _worker_import_path(batches):
    """Where a Python worker imported the package from."""
    import pandas as pd

    import rastercube_spark

    for _ in batches:
        pass
    yield pd.DataFrame({"path": [os.path.abspath(rastercube_spark.__file__)]})


def _env() -> None:
    """Point Spark and its Python workers at this checkout."""
    cpus = str(len(os.sched_getaffinity(0)))
    local = os.path.join(WORK_DIR, "spark-local")
    os.makedirs(local, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={local} -XX:-UsePerfData"
    sys.path.insert(0, ROOT)


def _build_oracles() -> None:
    """Compute the missing oracle answers in a child process, so DuckDB's
    memory stays out of this process."""
    code = (
        "import sys; sys.path.insert(0, sys.argv[1])\n"
        "from perfbench.oracle import OracleCache\n"
        "from perfbench.workloads import QUERY_OPS\n"
        "from rastercube_spark import registry\n"
        "sql = registry.oracle_sql()\n"
        "n = OracleCache(sys.argv[2], sys.argv[3]).ensure("
        "{q: sql[q] for q in QUERY_OPS})\n"
        "print(f'perfbench: computed {n} oracle answers', file=sys.stderr)\n"
    )
    subprocess.run([sys.executable, "-c", code, ROOT, SF_DIR, ORACLE_DIR], check=True)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop(spark) -> None:
    """Stop Spark, its JVM and every process started under this one, and
    wait until each has ended."""
    from pyspark import SparkContext

    from perfbench.measure import process_tree

    me = os.getpid()
    # taken first: Python workers outlive their JVM parent as orphans
    started = [p for p in process_tree(me) if p != me]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    for grace in (20.0, 5.0):
        deadline = time.monotonic() + grace
        while (left := [p for p in started if _alive(p)]) and time.monotonic() < deadline:
            time.sleep(0.1)
        for p in left:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "rastercube_spark", "__init__.py")):
        print(f"perfbench: no rastercube_spark package under {ROOT}", file=sys.stderr)
        return 2
    _env()

    import numpy as np

    from perfbench.cube import CubeSpec
    from perfbench.measure import JobAccounting, PeakRss, Tracer, host_cpu_ticks, median, tail
    from perfbench.oracle import OracleCache
    from perfbench.workloads import QUERY_OPS, Context, CubeWorkload, QueryWorkload

    # set-up: what a user waits for before the first operation
    t0 = time.perf_counter()
    from rastercube_spark import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}")
    t1 = time.perf_counter()
    try:
        from rastercube_spark import registry

        registry.queries()
        t2 = time.perf_counter()
        setup_s = t2 - t0
        spark.sparkContext.setLogLevel("ERROR")
        cores = spark.sparkContext.defaultParallelism

        oracle = OracleCache(SF_DIR, ORACLE_DIR)
        sqls = registry.oracle_sql()
        if oracle.missing({q: sqls[q] for q in QUERY_OPS}):
            _build_oracles()  # once per checkout, for every workload

        tracer = Tracer(enabled=bool(args.trace))
        ctx = Context(spark, tracer, JobAccounting(spark) if args.trace else None,
                      cores, WORK_DIR)
        if args.workload == "cube_timeseries":
            wl = CubeWorkload(CubeSpec(), reads=24, warm_reads=2)
        else:
            wl = QueryWorkload(QUERY_OPS, SF_DIR, WARM_SF_DIR, oracle)
        wl.prepare(ctx, registry, args.seed)

        with PeakRss() as rss:
            # untimed: later passes then run on compiled, loaded code
            t3 = time.perf_counter()
            wl.warm_up(Context(spark, Tracer(enabled=False), None, cores, WORK_DIR), args.seed)
            warmup_pass_s = time.perf_counter() - t3
            paths = {
                r["path"] for r in spark.range(0, cores, numPartitions=cores)
                .mapInPandas(_worker_import_path, "path string").collect()
            }
            want = os.path.join(ROOT, "rastercube_spark", "__init__.py")
            if paths != {want}:
                raise RuntimeError(f"workers imported rastercube_spark from {paths}, not {want}")

            rng = np.random.default_rng(args.seed)
            passes = []
            steal0, ticks0 = host_cpu_ticks()
            start = time.perf_counter()
            while True:  # whole passes; another only if it fits in --seconds
                with tracer.span("pass"):
                    passes.append(wl.run_pass(ctx, rng, len(passes)))
                elapsed = time.perf_counter() - start
                if elapsed + median([p.seconds for p in passes]) > args.seconds:
                    break
            steal1, ticks1 = host_cpu_ticks()
            steal_frac = (steal1 - steal0) / max(ticks1 - ticks0, 1)
        stored = (wl.stored(), wl.stored_values()) if isinstance(wl, CubeWorkload) else None
    finally:
        _stop(spark)

    attempted = sum(p.attempted for p in passes)
    failed = sum(p.failed for p in passes)
    unexpected = [u for p in passes for u in p.unexpected]
    lat = [x for p in passes for x in p.op_latencies]
    tail_v, tail_p, beyond = tail(lat)
    pass_s = median([p.seconds for p in passes])
    e2e = {
        "setup_s": (setup_s, "s"),
        "pass_s": (pass_s, "s"),
        "op_p50_s": (median(lat), "s"),
        "op_tail_s": (tail_v, "s"),
        "ok_frac": (1 - failed / attempted, "ratio"),
        "peak_rss_py_mb": (rss.python / 2**20, "MB"),
    }
    summary = {k: round(v, 4) for k, (v, _) in e2e.items()}
    summary["peak_rss_mb"] = round(rss.total / 2**20, 1)
    summary.update(
        workload=args.workload, seed=args.seed, passes=len(passes),
        op_samples=len(lat), op_tail_pct=tail_p, op_tail_beyond=beyond,
        failed_frac=round(failed / attempted, 4), unexpected_failures=unexpected,
        host_steal_frac=round(steal_frac, 4),
    )
    if stored is not None:
        (files, size), nvalues = stored
        for k in ("ingest_s", "append_s", "chunk_map_s"):
            summary[k] = round(median([p.layers[k] for p in passes]), 4)
        summary["stored_bytes_per_value_byte"] = round(size / (nvalues * 2), 4)

    if args.trace:
        layers = dict.fromkeys(per_layer_names(), 0.0)
        n = len(passes)
        layers["session.get_spark_s"] = t1 - t0
        layers["registry.queries_s"] = t2 - t1
        layers["bench.warmup_pass_s"] = warmup_pass_s
        for p in passes:
            for k, v in p.layers.items():
                if k in layers:
                    layers[k] += v / n
        for s in tracer.spans:
            if s.name in LAYER_SPANS:
                layers[LAYER_SPANS[s.name]] += s.duration / n
            if s.name in ("queries.construct", "exec.execute"):
                key = f"{s.op}.{s.name.split('.')[1]}_s"
                layers[key] += s.duration / n
        slots = sum(p.layers.get("exec.core_slots_s", 0.0) for p in passes) / n
        if slots:
            layers["exec.core_busy"] = layers["exec.executor_run_s"] / slots
        if layers["exec.executor_run_s"]:
            layers["exec.cpu_per_run"] = layers["exec.executor_cpu_s"] / layers["exec.executor_run_s"]
        if stored is not None:
            layers["sources.raster.data_files"] = files
            layers["sources.raster.stored_bytes"] = size
            layers["sources.raster.stored_bytes_per_value_byte"] = size / (nvalues * 2)
        layers["host.steal_frac"] = steal_frac
        layers["proc.peak_rss_mb"] = rss.total / 2**20
        layers["proc.peak_rss_jvm_mb"] = rss.jvm / 2**20
        layers["trace.pass_s"] = pass_s
        layers["trace.op_self_s"] = tracer.self_times().get("op", 0.0) / n
        layers["trace.spans"] = len(tracer.spans) / n
        os.makedirs(WORK_DIR, exist_ok=True)
        with open(os.path.join(WORK_DIR, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"spans": tracer.to_json(), "summary": summary}, f)
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    print("perfbench " + json.dumps(summary))
    print(json.dumps({
        "correct": not unexpected,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
