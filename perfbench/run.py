"""Benchmark driver for daft_spark.

    python3 perfbench/run.py --workload bi_dashboard --seed 1 --seconds 20 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed, starts a Spark session through ``daft_spark.context``, runs one
cold round of operations and then warm rounds for ``--seconds``
seconds (finishing the round in progress), checks every result, and prints ``name value unit`` lines followed by one JSON
line with the metrics named in BENCHMARK.json: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. Files a
run writes go under perfbench/out/. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT = os.path.join(ROOT, "perfbench", "out")
DRIVER_HEAP = "4g"
# The driver's peak RSS should follow what the program keeps, not the
# JVM's timing-driven sizing: the heap is committed at its full size up
# front (G1 then takes young regions from the same addresses every
# cycle) and the young generation has a fixed size. Without these, and
# with Spark's default 64 MB memory pages (sized from heap and cores),
# the peak RSS of one workload spread 2.3-3.2 GB between runs.
YOUNG_GEN = "512m"
PAGE_SIZE = "2m"
# workload -> (input size, self-test input size)
SIZES = {
    "bi_dashboard": ({"scale": 0.1}, {"scale": 0.001}),
    "corpus_curation": ({"n_docs": 2000}, {"n_docs": 300}),
}


def since_process_start() -> float:
    """Seconds since this process was created (Linux: /proc, 10 ms
    resolution); falls back to the time this module was imported."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError, AttributeError):
        return time.perf_counter() - _IMPORTED


_IMPORTED = time.perf_counter()


def cores() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count() or 1


def prepare_environment() -> None:
    """Keep everything the session writes inside perfbench/out and make
    the repository importable by the driver and its Python workers."""
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(OUT, "spark-local")
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session():
    from pyspark import SparkContext

    import daft_spark.context

    # context.configure() zips the package into /tmp and ships it to the
    # workers; here the workers import it through PYTHONPATH instead, so
    # nothing is written outside the checkout.
    SparkContext._daft_spark_shipped = True
    java_opts = (f"-Djava.io.tmpdir={OUT}/tmp -XX:-UsePerfData "
                 f"-Dderby.system.home={OUT}/derby -Xms{DRIVER_HEAP} -Xmn{YOUNG_GEN}")
    return daft_spark.context.get_or_create("perfbench", extra_confs={
        "spark.driver.memory": DRIVER_HEAP,
        "spark.driver.extraJavaOptions": java_opts,
        "spark.local.dir": os.path.join(OUT, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(OUT, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true",
        "spark.ui.port": "0",
        "spark.buffer.pageSize": PAGE_SIZE,
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def stop_session(spark) -> None:
    """Stop the session and the JVM behind it, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Ctx:
    def __init__(self, spark, tracer):
        self.spark, self.tracer = spark, tracer


def timed(ctx, fn, span: str):
    """Run one operation; returns (seconds, input rows, failure reason).
    A failed operation's time is infinite."""
    t0 = time.perf_counter()
    try:
        with ctx.tracer.span(span):
            rows, verify = fn()
        dt = time.perf_counter() - t0
        reason = verify()
    except Exception as e:  # an operation or check that raises is a failed operation
        print(f"# operation failed: {type(e).__name__}: {e}", file=sys.stderr)
        return math.inf, 0, f"{type(e).__name__}: {e}"
    if reason:
        print(f"# wrong result: {reason}", file=sys.stderr)
    return dt, rows, reason


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile; inf (a failure) sorts last."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def instrument(tracer) -> None:
    """Wrap the layer functions the program calls internally, so their
    spans nest inside the benchmark's own."""
    import daft_spark.context as context
    import daft_spark.io.readers as readers
    import daft_spark.operators.cluster as cluster
    import daft_spark.operators.dedup as dedup

    tracer.wrap(context, "get_or_create", "context.get_or_create")
    tracer.wrap(readers, "load_table", "readers.load_table")
    tracer.wrap(readers, "register_views", "readers.register_views")
    tracer.wrap(readers, "read_parquet", "readers.read_parquet")
    tracer.wrap(dedup, "containment_pairs", "dedup.containment_pairs")
    tracer.wrap(cluster, "duplicate_clusters", "cluster.duplicate_clusters")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true",
                    help="self-test sizes: sf0.001 tables, a few hundred documents")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="self-test: check against deliberately wrong expected results")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "daft_spark", "__init__.py")):
        print("perfbench: run from the repository root (daft_spark/ not found)", file=sys.stderr)
        return 2
    prepare_environment()
    sys.path.insert(0, HERE)
    import tracing

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    tracer = tracing.Tracer(run_id) if args.trace else tracing.NullTracer()
    if args.trace:
        instrument(tracer)
    spark = start_session()
    setup_s = since_process_start()
    try:
        inputs, e2e, layer, counts = measure(args, spark, tracer)
    finally:
        stop_session(spark)
    e2e = {"setup_s": setup_s, **e2e}
    lat, window, fails, attempted, (rss_py, rss_jvm) = counts

    extra = {
        "failed_frac": (fails / attempted, ""),
        "operations": (len(lat), "count"),
        "latency_p90_s": (percentile(lat, 0.9), "s"),
        "ops_per_s": (len(lat) / window, "1/s"),
        "peak_rss_python_mb": (rss_py, "MB"),
        "peak_rss_jvm_mb": (rss_jvm, "MB"),
    }
    units = {"setup_s": "s", "cold_s": "s", "latency_p50_s": "s", "rows_per_s": "rows/s",
             "peak_rss_mb": "MB"}
    metrics = ({k: {"value": _json_number(v), "unit": units[k]} for k, v in e2e.items()}
               if layer is None else
               {k: {"value": _json_number(v), "unit": u} for k, (v, u) in layer.items()})
    lines = [(k, v["value"], v["unit"]) for k, v in metrics.items()]
    lines += [(k, v, u) for k, (v, u) in extra.items()]
    for k, v, u in lines:
        print(f"{k} {v} {u}".rstrip())
    result = {"correct": fails == 0, "attempted": attempted, "failed": fails, "metrics": metrics}
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    with open(os.path.join(OUT, "results", f"{args.workload}-{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({**result, "inputs": inputs, "extra": {k: v for k, (v, _) in extra.items()}}, f)
    if args.trace:
        write_trace(tracer, args, e2e)
    print(json.dumps(result))
    return 0


def measure(args, spark, tracer):
    """Prepare the workload, run the cold round and the warm window, and
    take the end-to-end (and, when tracing, per-layer) metrics."""
    import workloads

    wl = workloads.WORKLOADS[args.workload](
        os.path.join(OUT, "data"), args.seed, corrupt=args.corrupt_expected,
        **SIZES[args.workload][args.small])
    inputs = wl.prepare()
    ctx = Ctx(spark, tracer)

    def run_op(i: int, span: str):
        dt, r, reason = timed(ctx, lambda: wl.op(ctx, i), span)
        return dt, r, int(reason is not None)

    cold = [run_op(i, "op.cold") for i in range(wl.round_ops)]
    warm = []
    start = time.perf_counter()
    i = wl.round_ops
    # measure for --seconds, then finish the round in progress, so every
    # run times whole rounds of dashboard queries
    while wl.warm_window and (not warm or i % wl.round_ops
                              or time.perf_counter() - start < args.seconds):
        warm.append(run_op(i, "op"))
        i += 1
    # a batch workload runs one pass per process: its cold pass is the
    # measured one
    measured = warm or cold
    lat = [dt for dt, _, _ in measured]
    window = sum(lat)
    fails = sum(f for _, _, f in cold + warm)
    rss = (peak_rss_mb(os.getpid()), peak_rss_mb(jvm_pid()))
    e2e = {
        "cold_s": sum(dt for dt, _, _ in cold),
        "latency_p50_s": statistics.median(lat),
        "rows_per_s": sum(r for _, r, _ in measured) / window,
        "peak_rss_mb": sum(rss),
    }
    layer = layer_metrics(tracer, spark, wl, e2e) if args.trace else None
    return inputs, e2e, layer, (lat, window, fails, i, rss)


def _json_number(v: float) -> float | None:
    """JSON has no infinity: a metric made infinite by failed operations
    is reported as null (the run is marked incorrect anyway)."""
    return v if math.isfinite(v) else None


def layer_metrics(tracer, spark, wl, e2e) -> dict:
    """Per-operation layer metrics from the spans of the measured
    operations (the warm window, or a batch workload's one pass)."""
    sc = spark.sparkContext
    extra_counts = lsh_counts(tracer, spark, wl)
    tracer.attribute(sc)
    kids = tracer.children()
    ops = ([s for s in tracer.spans if s["name"] == "op"]
           or [s for s in tracer.spans if s["name"] == "op.cold"])
    n = len(ops)
    sub = [s for op in ops for s in tracer.subtree(op["id"], kids)]

    def dur(s):
        return s["end"] - s["start"]

    def total(name):
        return sum(dur(s) for s in sub if s["name"] == name) / n

    def jobs_below(name):
        return sum(t["spark"]["jobs"] for s in sub if s["name"] == name
                   for t in tracer.subtree(s["id"], kids)) / n

    def spark_sum(key):
        return sum(s["spark"][key] for s in sub) / n

    run_s = spark_sum("executor_run_s")
    out = {
        "context.get_or_create_s": (sum(dur(s) for s in tracer.spans
                                        if s["name"] == "context.get_or_create"), "s"),
        "context.release_caches_s": (total("context.release_caches"), "s"),
        "readers.load_table_s": (total("readers.load_table"), "s"),
        "readers.load_table_calls": (sum(s["name"] == "readers.load_table" for s in sub) / n, "count"),
        "readers.schema_jobs": (sum(s["spark"]["jobs"] for s in sub
                                    if s["name"].startswith("readers.")) / n, "count"),
        "scan.input_mb": (spark_sum("input_mb"), "MB"),
        "scan.input_rows": (spark_sum("input_rows"), "count"),
        "sql.sql_s": (total("sql.sql"), "s"),
        "plan.build_s": (total("plan.build"), "s"),
        "plan.eager_jobs": (jobs_below("plan.build"), "count"),
        "exec.action_s": (total("exec.action"), "s"),
        "exec.jobs": (spark_sum("jobs"), "count"),
        "exec.stages": (spark_sum("stages"), "count"),
        "exec.tasks": (spark_sum("tasks"), "count"),
        "exec.executor_run_s": (run_s, "s"),
        "exec.executor_cpu_s": (spark_sum("executor_cpu_s"), "s"),
        "exec.core_util": (run_s * n / (sum(dur(op) for op in ops) * cores()), "ratio"),
        "exec.gc_s": (spark_sum("gc_s"), "s"),
        "exec.result_mb": (spark_sum("result_mb"), "MB"),
        "shuffle.write_mb": (spark_sum("shuffle_write_mb"), "MB"),
        "shuffle.read_mb": (spark_sum("shuffle_read_mb"), "MB"),
        "spill.mem_mb": (spark_sum("spill_mem_mb"), "MB"),
        "spill.disk_mb": (spark_sum("spill_disk_mb"), "MB"),
        "dedup.exact_dedup_s": (total("dedup.exact_dedup"), "s"),
        "dedup.minhash_near_dups_s": (total("dedup.minhash_near_dups"), "s"),
        "dedup.near_dup_resolve_s": (total("dedup.near_dup_resolve"), "s"),
        "dedup.containment_pairs_s": (total("dedup.containment_pairs"), "s"),
        **extra_counts,
        "cluster.duplicate_clusters_s": (total("cluster.duplicate_clusters"), "s"),
        "cluster.cc_jobs": (jobs_below("cluster.duplicate_clusters"), "count"),
        "text.quality_filter_s": (total("text.quality_filter"), "s"),
        "lm.bigram_lm_scores_s": (total("lm.bigram_lm_scores"), "s"),
        "dsir.dsir_log_weights_s": (total("dsir.dsir_log_weights"), "s"),
        "dataframe.build_s": (total("dataframe.build"), "s"),
        "asof.join_asof_s": (total("asof.join_asof"), "s"),
        "writers.write_parquet_s": (total("writers.write_parquet"), "s"),
        **writer_counts(wl),
        "jvm.heap_used_peak_mb": (tracer.heap_peak_bytes / 2**20, "MB"),
        "trace.latency_p50_s": (e2e["latency_p50_s"], "s"),
        "trace.rows_per_s": (e2e["rows_per_s"], "rows/s"),
    }
    return out


def lsh_counts(tracer, spark, wl) -> dict:
    """Candidate and verified pair counts of the MinHash-LSH stage, from
    the dedup layer's own instrumentation, run once after the window."""
    if not hasattr(wl, "dedup_ids"):
        return {"dedup.lsh_candidates": (0, "count"), "dedup.lsh_verified": (0, "count"),
                "dedup.lsh_precision": (0.0, "ratio")}
    import daft_spark
    from daft_spark.operators.dedup import exact_dedup, minhash_lsh_stage_counts

    with tracer.span("probe.lsh_stage_counts"):
        raw = daft_spark.read_parquet(wl.path).to_spark()
        stats = minhash_lsh_stage_counts(exact_dedup(raw, ["text"], "doc_id"), "text", "doc_id")
    cand, ver = stats["candidate_pairs"]["rows"], stats["verified_pairs"]["rows"]
    return {"dedup.lsh_candidates": (cand, "count"), "dedup.lsh_verified": (ver, "count"),
            "dedup.lsh_precision": (ver / cand if cand else 0.0, "ratio")}


def writer_counts(wl) -> dict:
    files = wl.output_files() if hasattr(wl, "output_files") else []
    out_bytes = sum(os.path.getsize(f) for f in files)
    rows = 0
    if files:
        import pyarrow.parquet as pq

        rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    return {
        "writers.files_written": (len(files), "count"),
        "writers.output_mb": (out_bytes / 2**20, "MB"),
        "writers.output_rows": (rows, "count"),
        "writers.write_amp": (out_bytes / wl.in_bytes if files else 0.0, "ratio"),
    }


def write_trace(tracer, args, e2e) -> None:
    """Spans with their Spark counters and self time, plus the tracing
    overhead against an untraced run of the same workload and seed."""
    extra = {"workload": args.workload, "seed": args.seed}
    untraced = os.path.join(OUT, "results", f"{args.workload}-{args.seed}-trace0.json")
    if os.path.exists(untraced):
        with open(untraced) as f:
            base = json.load(f)["metrics"]
        extra["overhead"] = {k: e2e[k] - base[k]["value"] for k in ("latency_p50_s", "rows_per_s")
                             if k in base}
    os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
    tracer.write(os.path.join(OUT, "traces", f"{args.workload}-{args.seed}.json"), extra)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
