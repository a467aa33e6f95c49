"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  The run makes its inputs from the seed,
sets the engine up cold, checks every op's output against DuckDB outside
the timed window, measures one timed window, and prints as its last stdout
line one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``.  ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
runs an untraced window and then a traced one, and reports the per-layer
metrics of the traced window, the untraced window's throughput and median
latency, and the tracing overhead.

Everything the run writes stays under ``.perfbench_work/`` (deleted at the
end) and ``.perfbench_out/`` (span dumps) in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shlex
import shutil
import statistics
import sys
import subprocess
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MASTER = "local[2]"
#: UI retention for the run; at ~30 jobs/s a window stays far below this.
RETAINED = 200_000
#: The end-to-end metrics, each bounded in BENCHMARK.json.  Throughput and
#: latency are per-layer (unbounded): on a shared VM they swing twofold
#: with the hypervisor's steal time, which CPU seconds per op do not.
END_TO_END = {
    "setup_s": "s",
    "cpu_s_per_op": "s",
}


def per_layer_metrics() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    from perfbench.workloads import WORKLOADS

    m = {
        "throughput_ops_s": "1/s",
        "latency_p50_ms": "ms",
        "server.query_ms": "ms",
        "api.query_ms": "ms",
        "compiler.nl_to_ir_us": "us",
        "ir.from_ir_us": "us",
        "plans.apply_spec_ms": "ms",
        "executor.sanitize_ms": "ms",
        "executor.rows_examined_per_row_returned": "ratio",
        "timeout.collect_ms": "ms",
        "timeout.count_ms": "ms",
    }
    tags = sorted({tag for w in WORKLOADS.values() for _, tag in getattr(w, "queries", ())})
    for tag in tags:
        m[f"{tag}.construct_s"] = "s"
        m[f"{tag}.exec_s"] = "s"
    m.update({
        "streaming.batches": "count",
        "streaming.add_batch_ms": "ms",
        "streaming.wal_commit_ms": "ms",
        "streaming.state_rows": "count",
        "sources.formats.write_ms": "ms",
        "sources.formats.read_ms": "ms",
        "sources.write_bytes_per_input_byte": "ratio",
        "catalyst.analysis_ms": "ms",
        "catalyst.optimization_ms": "ms",
        "catalyst.planning_ms": "ms",
        "spark.jobs_per_op": "count",
        "spark.stages_per_op": "count",
        "spark.jobs_evicted": "count",
        "spark.exec_cpu_s": "s",
        "spark.exec_run_s": "s",
        "spark.gc_s": "s",
        "spark.shuffle_write_mb": "MB",
        "spark.spill_mb": "MB",
        "spark.task_skew": "ratio",
        "session.get_spark_s": "s",
        "sources.register_tables_s": "s",
        "warmup_s": "s",
        "setup.import_s": "s",
        "peak_rss_mb": "MB",
    })
    for layer in LAYERS:
        m[f"self.{layer}_ms"] = "ms"
    m.update({
        "tracing.spans_per_op": "count",
        "tracing.overhead_latency_p50_ms": "ms",
        "tracing.overhead_throughput_ops_s": "1/s",
        "tracing.overhead_cpu_s_per_op": "s",
    })
    return m


#: Layers that get a self-time metric; a span's layer is its name's prefix.
LAYERS = (
    "bench",
    "server",
    "api",
    "compiler",
    "ir",
    "plans",
    "executor",
    "timeout",
    "operators",
    "streaming",
    "sources",
)


def _layer(span_name: str) -> str:
    return span_name.split(".", 1)[0]


def _isolate(work: str) -> None:
    """Point every temp, sink, warehouse and Spark-local dir into ``work``
    and let Python workers import the package from the checkout.  Must run
    before the JVM starts; the set-up children inherit it.  The Spark
    driver's ``tempfile`` dir, where the replays stage and the sink round
    trips write, is ``work/sinks``; the JVM and the Python workers get
    ``work/tmp``.  The driver heap is the package's own setting."""
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "sinks", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": RETAINED,
        "spark.ui.retainedStages": RETAINED,
        "spark.ui.retainedTasks": 10 * RETAINED,
        "spark.sql.ui.retainedExecutions": RETAINED,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    args += ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData", "pyspark-shell"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args)
    import tempfile

    tempfile.tempdir = os.path.join(work, "sinks")
    os.chdir(work)


def make_inputs(workload: str, data_dir: str, seed: str, out: str) -> None:
    """Write the seed's tables and compute the workload's DuckDB answers,
    pickled to ``out``.  :func:`_inputs` runs this in a child process before
    Spark starts, so neither the oracle's memory (once a 2.6 GB jump in peak
    RSS) nor an import of Spark happens in the measured process."""
    import __spark_entry__ as entry
    from perfbench import datagen
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[workload]()
    table_bytes = datagen.generate(data_dir, int(seed), wl.scale, wl.data_tables(entry))
    expected = wl.oracle(entry, data_dir, int(seed))
    with open(out, "wb") as f:
        pickle.dump((table_bytes, expected), f)


def _inputs(workload: str, data_dir: str, seed: int, work: str):
    out = os.path.join(work, "inputs.pkl")
    code = "import sys; sys.path.insert(0, sys.argv[1]); from perfbench.run import make_inputs; make_inputs(*sys.argv[2:])"
    subprocess.run([sys.executable, "-c", code, ROOT, workload, data_dir, str(seed), out], check=True)
    with open(out, "rb") as f:
        return pickle.load(f)


def cold_setup(wl, ctx):
    """Import the package, start a session (and with it the JVM), register
    the tables, and run the workload's set-up; the process must not have
    imported Spark before.  Sets ``ctx.spark`` and returns the split of the
    set-up's seconds.  The warm-up is the check that follows (see
    ``main``), so that no request or query counts towards set-up."""
    t0 = time.perf_counter()
    import __spark_entry__ as entry
    from nlp_to_nosql_spark.session import get_spark

    t1 = time.perf_counter()
    spark = get_spark("perfbench", master=MASTER)
    spark.sparkContext.setLogLevel("ERROR")
    t2 = time.perf_counter()
    entry.register_tables(spark, ctx.data_dir)
    t3 = time.perf_counter()
    ctx.spark, ctx.entry = spark, entry
    wl.setup(ctx)
    t4 = time.perf_counter()
    return {"total": t4 - t0, "import": t1 - t0, "get_spark": t2 - t1, "register": t3 - t2, "workload": t4 - t3}


def _steal(host0, host1) -> float:
    return (host1[1] - host0[1]) / max(1, host1[0] - host0[0])


def _stop_jvm() -> None:
    """Stop the session, shut the Py4J gateway and wait for the JVM (and
    with it the Python worker daemon) to exit; the JVM exits when its stdin
    closes."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _e2e(results, seconds_elapsed: float, cpu_s: float) -> dict[str, float]:
    lat = sorted(r.latency_s for r in results)
    q = statistics.quantiles(lat, n=20) if len(lat) >= 2 else lat * 19
    return {
        "throughput_ops_s": sum(r.ok for r in results) / seconds_elapsed,
        "latency_p50_ms": 1e3 * statistics.median(lat),
        "latency_p95_ms": 1e3 * q[18],
        "cpu_s_per_op": cpu_s / max(1, len(results)),
    }


def _op_ms(results) -> dict[str, float]:
    """Median latency per op name (batch queries; one name per request family)."""
    by: dict[str, list[float]] = {}
    for r in results:
        by.setdefault(r.name, []).append(1e3 * r.latency_s)
    return {k: statistics.median(v) for k, v in sorted(by.items())}


def _round(wl, ctx, size: int) -> dict:
    from perfbench import procstat

    cpu0, host0 = procstat.tree()[0], procstat.host_ticks()
    t0 = time.perf_counter()
    results = wl.round(ctx, size)
    elapsed = time.perf_counter() - t0
    cpu1, host1 = procstat.tree()[0], procstat.host_ticks()
    return {"results": results, "s": elapsed, "cpu_s": cpu1 - cpu0, "steal": _steal(host0, host1)}


def _measure(wl, ctx, seconds: float):
    """A window of rounds, and its end-to-end metrics.

    The window is a fixed amount of work, ``wl.window(seconds)``, sized to
    take about ``seconds`` on a calm host: the engine keeps getting faster
    as the JVM compiles it, so a window of fixed length would measure an
    earlier stretch of that curve on a slower host.  Every round is
    measured and its ops checked.  The host's steal time of each round goes
    to the info line, so contention on a shared VM shows next to the
    figures.
    """
    rounds = [_round(wl, ctx, size) for size in wl.window(seconds)]
    covered = sum(r["s"] for r in rounds)
    results = [x for r in rounds for x in r["results"]]
    e2e = _e2e(results, covered, sum(r["cpu_s"] for r in rounds))
    e2e["steal_frac"] = sum(r["steal"] * r["s"] for r in rounds) / covered
    e2e["rounds"] = [
        {"s": round(r["s"], 3), "ops": len(r["results"]), "steal": round(r["steal"], 4)} for r in rounds
    ]
    return results, e2e


def _traced(wl, ctx, seconds: float, untraced: dict, out_dir: str, tag: str):
    from perfbench import sparkmetrics, tracing
    from perfbench.tracing import NullTracer

    spark = ctx.spark
    tracer = tracing.Tracer()
    listener = sparkmetrics.StreamProgress()
    spark.streams.addListener(listener)
    jobs = sparkmetrics.JobWindow(spark)
    tracing.instrument(tracer)
    ctx.tracer = tracer
    jobs.open()
    try:
        results, e2e = _measure(wl, ctx, seconds / 2)
    finally:
        tracer.uninstall()
        ctx.tracer = NullTracer()
    sp = jobs.close()
    spark.streams.removeListener(listener)
    tracer.dump(os.path.join(out_dir, f"trace-{tag}.json"))

    n = max(1, len(results))
    dur = tracer.durations()

    def mean_ms(name: str, scale: float = 1e3) -> float:
        """Mean duration of one call into ``name`` (0 when never entered)."""
        calls = dur.get(name, ())
        return scale * sum(calls) / len(calls) if calls else 0.0

    c = tracer.counts
    m = {
        "throughput_ops_s": untraced["throughput_ops_s"],
        "latency_p50_ms": untraced["latency_p50_ms"],
        "server.query_ms": mean_ms("server.query"),
        "api.query_ms": mean_ms("api.query"),
        "compiler.nl_to_ir_us": mean_ms("compiler.nl_to_ir", 1e6),
        "ir.from_ir_us": mean_ms("ir.from_ir", 1e6),
        "plans.apply_spec_ms": mean_ms("plans.apply_spec"),
        "executor.sanitize_ms": 1e3 * tracer.accum.get("executor.sanitize", 0.0) / n,
        "executor.rows_examined_per_row_returned": (
            sp["input_records"] / c["rows_returned"] if c["rows_returned"] else 0.0
        ),
        "timeout.collect_ms": mean_ms("timeout.collect"),
        "timeout.count_ms": mean_ms("timeout.count"),
    }
    for name in per_layer_metrics():
        if name.endswith((".construct_s", ".exec_s")):
            m[name] = mean_ms(name[: -len("_s")], 1.0)
    batches = max(1, listener.batches)
    m.update({
        "streaming.batches": float(listener.batches),
        "streaming.add_batch_ms": listener.add_batch_ms / batches,
        "streaming.wal_commit_ms": listener.wal_commit_ms / batches,
        "streaming.state_rows": listener.state_rows / batches,
        "sources.formats.write_ms": mean_ms("sources.formats.write"),
        "sources.formats.read_ms": mean_ms("sources.formats.read"),
        "sources.write_bytes_per_input_byte": (
            c["written_bytes"] / c["input_bytes"] if c["input_bytes"] else 0.0
        ),
        "catalyst.analysis_ms": c["catalyst.analysis_ms"] / n,
        "catalyst.optimization_ms": c["catalyst.optimization_ms"] / n,
        "catalyst.planning_ms": c["catalyst.planning_ms"] / n,
        "spark.jobs_per_op": sp["jobs"] / n,
        "spark.stages_per_op": sp["stages"] / n,
        "spark.jobs_evicted": sp["jobs_evicted"],
        "spark.exec_cpu_s": sp["exec_cpu_s"] / n,
        "spark.exec_run_s": sp["exec_run_s"] / n,
        "spark.gc_s": sp["gc_s"] / n,
        "spark.shuffle_write_mb": sp["shuffle_write_mb"] / n,
        "spark.spill_mb": sp["spill_mb"] / n,
        "spark.task_skew": sp["task_skew"],
    })
    self_by_layer = dict.fromkeys(LAYERS, 0.0)
    for name, sec in tracer.self_times().items():
        self_by_layer[_layer(name)] = self_by_layer.get(_layer(name), 0.0) + sec
    for layer in LAYERS:
        m[f"self.{layer}_ms"] = 1e3 * self_by_layer[layer] / n
    m.update({
        "tracing.spans_per_op": len(tracer.spans) / n,
        "tracing.overhead_latency_p50_ms": e2e["latency_p50_ms"] - untraced["latency_p50_ms"],
        "tracing.overhead_throughput_ops_s": e2e["throughput_ops_s"] - untraced["throughput_ops_s"],
        "tracing.overhead_cpu_s_per_op": e2e["cpu_s_per_op"] - untraced["cpu_s_per_op"],
    })
    return m, results


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "nlp_to_nosql_spark", "__init__.py")):
        print(f"no nlp_to_nosql_spark package under {ROOT}", file=sys.stderr)
        return 2

    tag = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", tag)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    load_before = os.getloadavg()[0]
    _isolate(work)
    try:
        from perfbench import procstat

        t_run = time.perf_counter()
        wl = WORKLOADS[args.workload]()
        data_dir = os.path.join(work, "data")
        table_bytes, expected = _inputs(args.workload, data_dir, args.seed, work)
        phases = {"inputs": time.perf_counter() - t_run}
        ctx = Ctx(None, None, data_dir, os.path.join(work, "sinks"), args.seed, table_bytes)
        with procstat.PeakRss() as rss:
            host0 = procstat.host_ticks()
            setup = cold_setup(wl, ctx)
            setup["steal"] = _steal(host0, procstat.host_ticks())
            phases["setup"] = time.perf_counter() - t_run
            import nlp_to_nosql_spark

            if not os.path.abspath(nlp_to_nosql_spark.__file__).startswith(ROOT + os.sep):
                print(f"nlp_to_nosql_spark imported from outside {ROOT}", file=sys.stderr)
                return 2
            # Peak RSS covers set-up and the timed window, not the checks:
            # collecting outputs to Arrow is the benchmark's work, not an op's.
            with rss.paused():
                wl.prepare(ctx, expected)
                checked, failures = wl.check(ctx)
                phases["check"] = time.perf_counter() - t_run
            results, e2e = _measure(wl, ctx, args.seconds)
            phases["window"] = time.perf_counter() - t_run
            traced_results = []
            if args.trace:
                with rss.paused():
                    layer, traced_results = _traced(wl, ctx, args.seconds, e2e, out_dir, tag)
        failures += [r.detail for r in results + traced_results if not r.ok]
        attempted = checked + len(results) + len(traced_results)
        e2e["setup_s"] = setup["total"]
        peak_rss_mb = rss.peak / 2**20

        info = {
            "workload": args.workload,
            "seed": args.seed,
            "ops": len(results),
            "throughput_ops_s": e2e["throughput_ops_s"],
            "latency_p50_ms": e2e["latency_p50_ms"],
            "latency_p95_ms": e2e["latency_p95_ms"],
            "op_ms": _op_ms(results),
            "fail_frac": len(failures) / max(1, attempted),
            "failures": failures[:20],
            "peak_rss_mb": peak_rss_mb,
            "peak_rss_mb_by_part": {k: v / 2**20 for k, v in rss.peak_parts.items()},
            "setup": setup,
            "phases_s": {**phases, "end": time.perf_counter() - t_run},
            "steal_frac": e2e["steal_frac"],
            "rounds": e2e["rounds"],
            "loadavg_1m_before": load_before,
            "loadavg_1m_after": os.getloadavg()[0],
        }
        print(json.dumps({"info": info}))
        if args.trace:
            for metric, part in (
                ("session.get_spark_s", "get_spark"),
                ("sources.register_tables_s", "register"),
                ("setup.import_s", "import"),
            ):
                layer[metric] = setup[part]
            layer["warmup_s"] = phases["check"] - phases["setup"]
            layer["peak_rss_mb"] = peak_rss_mb
            metrics = {k: {"value": layer[k], "unit": u} for k, u in per_layer_metrics().items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        print(json.dumps({
            "correct": not failures,
            "attempted": attempted,
            "failed": len(failures),
            "metrics": metrics,
        }))
        return 0
    finally:
        if "pyspark" in sys.modules:
            _stop_jvm()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
