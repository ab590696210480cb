"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload dashboard|corpus \
        --seed N --seconds S --trace 0|1

Run from the repository root. The run pins its environment, generates the
workload's inputs from the seed, sets up (session start, input
generation, warehouse build, untimed warm passes), then repeats passes
for at least `--seconds` seconds and three passes, checks the outputs off
the clock, and prints as its last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the timed passes
alternate untraced and traced, at least three of each, and the metrics
are the per-layer ones, read from the traced passes. The line before it
is a JSON detail record: environment, input sizes, every metric under the
names of the README, and the trace file. A failed output check or operation prints the result
with ``"correct": false`` and exits 1.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shlex
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# name -> unit; the last line carries exactly these (BENCHMARK.json lists
# the same names, checked by the self-tests).
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "latency_p50_ms": "ms",
    "latency_p75_ms": "ms",
    "throughput_per_s": "items/s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "cli.call_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.job_s": "s",
    "exec.no_job_s": "s",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.core_busy_ratio": "ratio",
    "exec.input_rows": "count",
    "exec.input_bytes": "bytes",
    "exec.files_read": "count",
    "exec.rows_examined_per_row_returned": "ratio",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.codegen_compiles": "count",
    "trace.overhead_s": "s",
    "trace.reconcile_max_err": "ratio",
}
# The timed loop runs at least this many passes (of each kind, in a traced
# run), so the median pass discounts one slow one.
MIN_PASSES = 3
# A request's span self times must add up to its wall time within this.
RECONCILE_TOLERANCE = 0.05
# What `throughput_per_s` counts, per workload (the detail record also
# prints it under this name).
THROUGHPUT_NAME = {"dashboard": "requests_per_s", "corpus": "docs_per_s"}
# Metrics that read a constant zero on some workload go to the detail
# record and the trace file only: the times below, of layers a workload
# never enters; exec.failed_tasks and exec.spill_bytes, zero on working
# code at these sizes; and the counts of layers one workload never calls
# or that never write on it (sources.files_listed, sources.files_written,
# sources.bytes_written, plans.build_jobs, exec.output_bytes). exec.gc_s
# has read 0 on a corpus pass.
LAYER_TIMES = ("sources.register", "sources.feed_read", "sources.write",
               "pipeline.run_pipeline", "plans.build",
               "datapipe.with_near_duplicates", "datapipe.selection_signals",
               "datapipe.minhash_lsh_candidates", "datapipe.dedup_components")


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def ram_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def pin_environment(work: str) -> dict:
    """Pin cores, driver memory and every scratch location (all inside
    `work`) before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    heap = f"{min(2048, ram_mb() // 4)}m"
    env = {
        "SPARK_GRAFT_CPUS": str(cpu_count()),
        # the session's 16g default exceeds small boxes; stay well below RAM
        "SPARK_GRAFT_DRIVER_MEM": heap,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", shlex.quote(
                f"spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}"),
            "--conf", shlex.quote(f"spark.hadoop.hadoop.tmp.dir={tmp}"),
            # A fixed heap size: the JVM never resizes it, so peak RSS does
            # not depend on when the collector chose to grow the heap.
            # -UsePerfData: no hsperfdata file outside the work dir.
            "--driver-java-options", shlex.quote(
                f"-Xms{heap} -XX:-UsePerfData -Djava.io.tmpdir={tmp} "
                f"-Dderby.system.home={tmp}"),
            "pyspark-shell"]),
    }
    os.environ.update(env)
    return env


def rss_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def cpu_s(pid: int | str) -> float:
    """User + system CPU seconds a process has used."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def percentile(values: list[float], q: float) -> float:
    """Inclusive linear-interpolated percentile (q in [0, 1])."""
    s = sorted(values)
    if len(s) == 1:
        return s[0]
    return statistics.quantiles(s, n=100, method="inclusive")[round(q * 100) - 1]


def parse_args(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = pin_environment(work)
    try:
        return _run(args, work, env)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, env: dict) -> int:
    # The engine is imported here so that a directory without it fails
    # before any work (and without printing a result).
    from real_big_data_project_spark.session import get_spark

    import tracing as tr
    from workloads import WORKLOADS

    t0 = time.time()
    spark = get_spark("perfbench")
    session_s = time.time() - t0
    sc = spark.sparkContext
    tracer = tr.Tracer(sc)
    try:
        wl = WORKLOADS[args.workload](spark, tracer, args.seed, work)
        listener = tr.CatalystListener() if args.trace else None
        # in a traced run the set-up build is traced too (rid "setup")
        with tracer.tracing("setup") if args.trace else contextlib.nullcontext():
            sizes = wl.prepare()
        for _ in range(wl.warm_passes):
            wl.run_pass()
        setup_s = time.time() - t0

        walls, traced, ops = [], [], []
        items = rows = compiles = 0
        jvm = sc._gateway.proc.pid
        cpu0 = cpu_s("self") + cpu_s(jvm)
        t_start = time.perf_counter()
        while True:
            tracing = bool(args.trace) and (len(walls) + len(traced)) % 2 == 1
            if tracing:
                tr.register_listener(spark, listener)
                tracer.start()
                compiles0 = tr.codegen_compiles(sc)
            a = time.time()
            p = time.perf_counter()
            res = wl.run_pass()
            wall = time.perf_counter() - p
            if tracing:
                tracer.stop()
                tracer.windows.append((a, time.time()))
                compiles += tr.codegen_compiles(sc) - compiles0
                tr.unregister_listener(spark, listener)
            (traced if tracing else walls).append(wall)
            ops += [(rid, s, ok, tracing) for rid, s, ok in res["ops"]]
            items, rows = res["items"], rows + res["rows_returned"] * tracing
            elapsed = time.perf_counter() - t_start
            if (elapsed >= args.seconds and len(walls) >= MIN_PASSES
                    and (not args.trace or len(traced) >= MIN_PASSES)):
                break
        timed_cpu_s = cpu_s("self") + cpu_s(jvm) - cpu0
        peak_rss = rss_mb("self") + rss_mb(jvm)

        try:
            problems = wl.check()
        except Exception as e:  # a check that cannot run fails the run
            problems = [f"check raised {e!r}"]
        failed = sum(1 for op in ops if not op[2])
        untraced_ops = [op for op in ops if not op[3]]
        lat = [s if ok else float("inf") for _, s, ok, _ in untraced_ops]
        wall_s = statistics.median(walls)
        e2e = {
            "setup_s": setup_s,
            "wall_s": wall_s,
            "latency_p50_ms": percentile(lat, 0.50) * 1e3,
            "latency_p75_ms": percentile(lat, 0.75) * 1e3,
            "throughput_per_s": items / wall_s,
            "peak_rss_mb": peak_rss,
        }
        detail = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "env": environment(spark, env), "input_sizes": sizes,
            "end_to_end": {**e2e,
                           THROUGHPUT_NAME[args.workload]: e2e["throughput_per_s"],
                           "error_rate": failed / max(1, len(ops)),
                           "latency_samples": len(lat),
                           "passes": len(walls), "pass_walls_s": walls,
                           # Python + JVM CPU over the timed passes: with
                           # the walls, it tells host contention (same CPU,
                           # longer wall) from extra work (more CPU)
                           "timed_cpu_s": timed_cpu_s},
            "problems": problems,
        }
        if args.trace:
            op_walls = {rid: s for rid, s, _, was_traced in ops if was_traced}
            layers, spans_out = layer_metrics(spark, tracer, listener, traced,
                                              walls, op_walls, rows, session_s)
            layers["exec.codegen_compiles"] = compiles / len(traced)
            detail["layers"] = layers
            detail["traced_pass_walls_s"] = traced
            if layers["trace.reconcile_max_err"] > RECONCILE_TOLERANCE:
                problems.append(
                    f"span self times miss a request's wall time by "
                    f"{layers['trace.reconcile_max_err']:.1%} "
                    f"(tolerance {RECONCILE_TOLERANCE:.0%})")
            if layers["trace.unattributed_jobs"]:
                problems.append(f"{layers['trace.unattributed_jobs']} Spark "
                                f"jobs of traced passes belong to no span")
            detail["trace_file"] = write_trace(args, spans_out, detail)
            metrics = {k: layers[k] for k in PER_LAYER}
            units = PER_LAYER
        else:
            metrics, units = e2e, END_TO_END
    finally:
        stop_spark(spark)

    print(json.dumps({"detail": detail}, default=str), flush=True)
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    correct = not problems and failed == 0
    print(json.dumps({
        "correct": correct, "attempted": len(ops), "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }), flush=True)
    return 0 if correct else 1


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited (the
    gateway JVM exits when its stdin closes)."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def environment(spark, env: dict) -> dict:
    return {
        "cores": cpu_count(), "ram_mb": ram_mb(),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "driver_mem": env["SPARK_GRAFT_DRIVER_MEM"],
        "spark_graft_cpus": env["SPARK_GRAFT_CPUS"],
    }


def layer_metrics(spark, tracer, listener, traced: list[float],
                  untraced: list[float], op_walls: dict[str, float],
                  rows_returned: int, session_s: float) -> tuple[dict, list[dict]]:
    """Per-layer metrics of the traced passes, averaged per pass, plus the
    layer self times of a traced set-up build (``setup.*``)."""
    import tracing as tr

    sc = spark.sparkContext
    n = len(traced)
    all_spans = tracer.spans
    selfs = tr.self_times(all_spans)
    by_id = {s.id: s for s in all_spans}
    spans = [s for s in all_spans if s.rid != "setup"]
    setup = [s for s in all_spans if s.rid == "setup"]

    span_jobs: dict[int, list[dict]] = {}
    for j in tr.spark_jobs(sc):
        if (j["group"] or "").startswith(tr.GROUP_PREFIX + ":"):
            span_jobs.setdefault(int(j["group"].split(":")[1]), []).append(j)
    jobs = [j for s in spans for j in span_jobs.get(s.id, [])]
    stage_metrics = tr.spark_stages(sc)
    stage_ids = {s for j in jobs for s in j["stages"] if s in stage_metrics}
    st = {f: sum(stage_metrics[s][f] for s in stage_ids) for f in tr.STAGE_FIELDS}
    job_s = tr.union_seconds([(j["start"], j["end"]) for j in jobs
                              if j["start"] and j["end"]])
    cat = tr.catalyst_totals(listener, tracer.windows)

    def under(span, name) -> bool:
        while span is not None:
            if span.name == name:
                return True
            span = by_id.get(span.parent)
        return False

    def count(key, subset) -> float:
        return sum(s.counts.get(key, 0) for s in subset)

    cli_spans = [s for s in spans if s.layer == "cli"]
    wall = sum(traced)
    out = {
        "session.start_s": session_s,
        "cli.call_s": statistics.mean(s.duration for s in cli_spans),
        **{f"catalyst.{p}_s": v / n for p, v in cat.items()},
        "exec.jobs": len(jobs) / n,
        "exec.stages": len(stage_ids) / n,
        "exec.tasks": (st["numCompleteTasks"] + st["numFailedTasks"]) / n,
        "exec.failed_tasks": st["numFailedTasks"] / n,
        "exec.job_s": job_s / n,
        "exec.no_job_s": (wall - job_s) / n,
        "exec.executor_run_s": st["executorRunTime"] / 1e3 / n,
        "exec.executor_cpu_s": st["executorCpuTime"] / 1e9 / n,
        "exec.gc_s": st["jvmGcTime"] / 1e3 / n,
        "exec.core_busy_ratio":
            st["executorRunTime"] / 1e3 / (cpu_count() * wall),
        "exec.input_rows": st["inputRecords"] / n,
        "exec.input_bytes": st["inputBytes"] / n,
        "exec.files_read": tr.sql_files_read(spark, tracer.windows) / n,
        "exec.rows_examined_per_row_returned":
            st["inputRecords"] / max(1, rows_returned),
        "exec.shuffle_read_bytes": st["shuffleReadBytes"] / n,
        "exec.shuffle_write_bytes": st["shuffleWriteBytes"] / n,
        "exec.spill_bytes": (st["memoryBytesSpilled"] + st["diskBytesSpilled"]) / n,
        "exec.output_bytes": st["outputBytes"] / n,
        "sources.files_listed": count("files_listed", spans) / n,
        "sources.files_written": count("files_written", spans) / n,
        "sources.bytes_written": count("bytes_written", spans) / n,
        "plans.build_jobs": sum(len(span_jobs.get(s.id, [])) for s in spans
                                if under(s, "plans.build")) / n,
        "trace.overhead_s": statistics.median(traced) - statistics.median(untraced),
    }
    for prefix, subset, per in (("", spans, n), ("setup.", setup, 1)):
        if not subset:
            continue
        for name in LAYER_TIMES:
            out[f"{prefix}{name}_s"] = sum(
                selfs[s.id] for s in subset if s.name == name) / per
        for layer in sorted({s.layer for s in subset}):
            out[f"{prefix}{layer}.self_s"] = sum(
                selfs[s.id] for s in subset if s.layer == layer) / per
    if setup:
        out["setup.sources.files_written"] = count("files_written", setup)
        out["setup.sources.bytes_written"] = count("bytes_written", setup)

    # each request's span self times must add up to the wall time the
    # client measured around the request, and every Spark job of a traced
    # pass must belong to a span
    out["trace.reconcile_max_err"] = max(
        tr.reconcile(spans, op_walls).values())
    out["trace.unattributed_jobs"] = sum(
        1 for j in tr.spark_jobs(sc)
        if j["start"] and any(a <= j["start"] <= b for a, b in tracer.windows)
        and not (j["group"] or "").startswith(tr.GROUP_PREFIX + ":"))

    spans_out = [{
        "id": s.id, "name": s.name, "rid": s.rid, "parent": s.parent,
        "start": s.start, "end": s.end, "self_s": selfs[s.id],
        "counts": s.counts, "jobs": [j["id"] for j in span_jobs.get(s.id, [])],
    } for s in all_spans]
    return out, spans_out


def write_trace(args, spans: list[dict], detail: dict) -> str:
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
    with open(path, "w") as fh:
        json.dump({"detail": detail, "spans": spans}, fh, default=str)
    return os.path.relpath(path, ROOT)


if __name__ == "__main__":
    sys.exit(main())
