"""Benchmark of record: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload mapreduce_text --seed 1 \
        --seconds 5 --trace 0

Run from the root of a checkout. Inputs are generated from the seed
(cached per workload and seed under ``.perfbench/cache``), the program is
imported from the checkout, every output is checked, and the last line
of standard output is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))

END_TO_END = {  # name -> unit
    "setup_s": "s", "p50_s": "s", "p90_s": "s", "work_per_s": "1/s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.build_s": "s", "session.worker_warm_s": "s",
    "sources.scan_s": "s", "sources.input_bytes": "bytes",
    "sources.input_rows": "count", "sources.scan_tasks": "count",
    "spark.jobs": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.core_busy_share": "ratio", "spark.gc_s": "s",
    "spark.task_failures": "count",
    "exchange.shuffle_write_bytes": "bytes",
    "exchange.shuffle_records": "count", "exchange.fetch_wait_s": "s",
    "exchange.spill_bytes": "bytes", "exchange.task_skew": "ratio",
    "mr.wc_s": "s", "mr.indexer_s": "s", "mr.pairs_shuffled": "count",
    "mr.keys_out": "count",
    "plans.build_s": "s", "plans.eager_jobs": "count",
    **{f"query.{q}_s": "s" for q in (
        "unicode_wordcount", "inverted_index", "text_quality")},
    "pipeline.actions": "count",
    **{f"pipeline.stage_docs.{k}": "count" for k in (
        "0_raw", "1_quality_gated", "2_deduped", "3_decontaminated",
        "4_packed")},
    **{f"pipeline.stage_s.{k}": "s" for k in (
        "0_raw", "1_quality_gated", "2_deduped", "3_decontaminated",
        "4_packed", "5_write")},
    "packing.bins": "count", "packing.fill_share": "ratio",
    "dedup.candidate_pairs": "count", "dedup.verified_pairs": "count",
    "dedup.pair_precision": "ratio", "dedup.planted_recall": "ratio",
    "textstats.gate_pass_share": "ratio",
    "sinks.write_s": "s", "sinks.commit_s": "s",
    "sinks.output_bytes": "bytes", "sinks.files_written": "count",
    "streaming.trigger_s": "s", "streaming.add_batch_s": "s",
    "streaming.planning_s": "s", "streaming.wal_commit_s": "s",
    "streaming.telemetry_step_s": "s", "streaming.dedup_step_s": "s",
    "streaming.backlog_files": "count", "streaming.state_bytes": "bytes",
    "streaming.docs_in": "count", "streaming.docs_gated": "count",
    "streaming.docs_kept": "count",
    "bench.generator_lag_s": "s", "bench.gen_s": "s",
    "trace.p50_s": "s",
}
# Local mode: one JVM hosts every executor thread. Its heap grows on
# demand up to this cap, so peak RSS follows what the program touches (a
# heap fixed at the cap ends up fully resident in every run: RSS then
# read the cap, not the program).
DRIVER_MEM = "2g"


def pin_environment(work: str) -> None:
    """Host set-up, fixed inside the benchmark so every run sees the
    same engine configuration whatever the caller's environment."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "TZ": "UTC",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf", shlex.quote("spark.driver.defaultJavaOptions="
                                  f"-Djava.io.tmpdir={tmp} "
                                  "-XX:-UsePerfData"),
            "--conf", shlex.quote("spark.sql.warehouse.dir="
                                  + os.path.join(work, "warehouse")),
            "--conf", "spark.ui.showConsoleProgress=false",
            "pyspark-shell"]),
    })
    for k in ("SPARK_MASTER", "MASTER", "PYSPARK_GATEWAY_PORT"):
        os.environ.pop(k, None)
    time.tzset()


def setup(build_session, workload_cls, tracer, seconds, input_dir, work):
    """One set-up: session build, Python-worker warm-up and input
    registration. Returns (workload, build_s, warm_s, total_s)."""
    t0 = time.perf_counter()
    spark = build_session("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    cores = spark.sparkContext.defaultParallelism
    spark.sparkContext.parallelize(range(cores), cores).map(
        lambda x: x + 1).sum()
    t2 = time.perf_counter()
    tracer.spark = spark if tracer.enabled else None
    wl = workload_cls(spark, tracer, input_dir, work, seconds)
    wl.register()
    t3 = time.perf_counter()
    return wl, t1 - t0, t2 - t1, t3 - t0


def stop_engine(spark, spans) -> None:
    """Stop the session, the driver JVM and every process under this
    one, and wait for them to end."""
    from pyspark import SparkContext
    me = os.getpid()
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 20
    while True:
        rest = [p for p in spans.tree_pids(me) if p != me]
        if not rest:
            return
        if time.time() > deadline:
            for p in rest:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "toymapreduce_go_spark")):
        print("perfbench: run from the root of a checkout of the program "
              "(toymapreduce_go_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    import gen
    import spans
    import workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose "
              f"from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    state = os.path.join(root, ".perfbench")
    work = os.path.join(state, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work)

    t = time.perf_counter()
    input_dir, shares = gen.generate_cached(
        os.path.join(state, "cache"), args.workload, args.seed)
    gen_s = time.perf_counter() - t

    from toymapreduce_go_spark.session import build_session
    tracer = spans.Tracer(bool(args.trace))
    cls = workloads.WORKLOADS[args.workload]
    wl = None
    try:
        # one cold set-up, as every caller of the program pays it: the
        # JVM launch is part of the session build
        wl, build_s, warm_s, setup_s = setup(build_session, cls, tracer,
                                             args.seconds, input_dir, work)
        if args.trace:
            wl.traced_steps()
        phases = {"gen": gen_s, "setup": setup_s}
        t = time.perf_counter()
        wl.warm()
        phases["warm"], t = time.perf_counter() - t, time.perf_counter()
        with spans.RssSampler() as rss:
            wl.measure()
        phases["measure"], t = time.perf_counter() - t, time.perf_counter()
        wl.check()
        phases["check"] = time.perf_counter() - t
        p50, p90 = workloads.p50_p90(wl.latencies)
        if args.trace:
            layers = wl.layer_metrics()
            layers.update({
                "session.build_s": build_s, "session.worker_warm_s": warm_s,
                "bench.gen_s": gen_s, "trace.p50_s": p50})
            metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                       for k, u in PER_LAYER.items()}
            tracer.dump(os.path.join(
                state, f"trace-{args.workload}-{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed,
                 "shares": shares, "metrics": metrics})
            for name, s in sorted(tracer.self_times().items(),
                                  key=lambda kv: -kv[1]):
                print(f"self {name:40s} {s:9.3f} s", file=sys.stderr)
        else:
            values = {"setup_s": setup_s, "p50_s": p50,
                      "p90_s": p90, "work_per_s": wl.work_per_s,
                      "peak_rss_mb": rss.peak / 2**20}
            metrics = {k: {"value": values[k], "unit": u}
                       for k, u in END_TO_END.items()}
    finally:
        if wl is not None:
            stop_engine(wl.spark, spans)
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"shares": shares, "samples": len(wl.latencies),
                      "latencies": [round(x, 3) for x in
                                    dict.fromkeys(wl.latencies)],
                      "phase_s": {k: round(v, 2)
                                  for k, v in phases.items()}}),
          file=sys.stderr)
    print(json.dumps({"correct": wl.failed == 0 and wl.attempted > 0,
                      "attempted": wl.attempted, "failed": wl.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
