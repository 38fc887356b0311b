"""Benchmark entry point. Run it from the repository root:

    python3 perfbench/run.py --workload dedup-curation --seed 1 --seconds 8 --trace 0

It generates the workload's input tables from ``--seed``, starts one Spark
session on ``local[<cores>]``, runs the workload's set-up and two untimed
warm-up passes (the first checks every op's output), then times whole
passes until ``--seconds`` have elapsed and at least three passes are
done. Every file it writes stays under ``.perfbench/`` in the working
directory.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end ones (``setup_s``, and the medians of the timed passes'
``pass_s`` and ``cpu_s``); with ``--trace 1`` the timed passes alternate
untraced and traced, and the metrics are the per-layer counters of the
set-up plus the first traced pass, and the tracing overhead. The line
before it is a JSON detail record: every warm-up and timed pass with its
wall, CPU, JIT CPU and machine-wide steal seconds, per-op latency
percentiles with sample counts, and the workload's own figures.
perfbench/record.json says what each workload runs and why.
"""

from __future__ import annotations

import argparse
import fcntl
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

#: untimed passes before timing; the first also checks outputs. The second
#: takes the slow tail of C1 compilation out of the first timed pass.
WARM_PASSES = 2
#: timing runs whole passes for --seconds, and at least this many; the
#: metrics are their medians
MIN_TIMED_PASSES = 3

TRACE_CONF = {
    # the per-layer counts need every job and stage of a traced pass
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _session(work: str, trace: bool):
    from ihop_reddit_spark.session import get_spark_session

    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # C1 only, so every figure is a C1 figure. With the default tiered
        # JIT, C2 still spent 7-20 CPU s per pass on compiling after seven
        # passes (about 100 s) of catalog ops, past what a run can spend on
        # warm-up; under C1 the cold start is over after one pass. Compiler
        # threads that never exit keep their CPU readable per thread, so
        # each pass reports its JIT share.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work}/tmp -XX:TieredStopAtLevel=1"
            " -XX:-UseDynamicNumberOfCompilerThreads"
        ),
    }
    if trace:
        conf.update(TRACE_CONF)
    cores = len(os.sched_getaffinity(0))
    return get_spark_session("perfbench", config=conf, master=f"local[{cores}]")


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, work: str) -> tuple[dict, dict]:
    import datagen
    import measure
    import workloads

    wl_cls = workloads.WORKLOADS[args.workload]
    tracer = None
    if args.trace:
        from tracing import Tracer, last_job_id

        tracer = Tracer()
        tracer.install()
        tracer.active = True

    t_setup = time.perf_counter()
    spark = _session(work, bool(args.trace))
    session_s = time.perf_counter() - t_setup
    if tracer is not None:
        tracer.sc = spark.sparkContext
        tracer.active = False
    try:
        data_dir = os.path.join(work, "data")
        t0 = time.perf_counter()
        rows = datagen.write_tables(data_dir, args.seed, wl_cls.tables)
        for t in wl_cls.tables:
            spark.read.parquet(os.path.join(data_dir, f"{t}.parquet")).count()
        load_s = time.perf_counter() - t0

        ctx = workloads.Ctx(spark, data_dir, work, args.seed, tracer)
        wl = wl_cls(ctx)
        try:
            t0 = time.perf_counter()
            # the per-layer counts cover the workload's set-up (the
            # explorer's training) and one traced pass
            if tracer is not None:
                setup_job = last_job_id(spark.sparkContext)
                setup_span = len(tracer.spans)
                tracer.active = True
            wl.setup()
            if tracer is not None:
                tracer.active = False
                setup_spans = tracer.spans[setup_span:]
            warm = []
            for i in range(WARM_PASSES):
                t1, c0 = time.perf_counter(), measure.CpuSample()
                wl.run_pass(check=i == 0)
                wall = time.perf_counter() - t1
                cpu, jit, steal = measure.CpuSample().since(c0)
                warm.append({"pass_s": wall, "cpu_s": cpu, "jit_cpu_s": jit,
                             "steal_s": steal})
            setup_s = session_s + load_s + (time.perf_counter() - t0)

            passes, layers = [], None
            overall = time.perf_counter()
            while True:
                # a traced run times untraced, traced, untraced passes, so
                # the tracing overhead is not confounded with warm-up
                traced = tracer is not None and len(passes) % 2 == 1
                ctx.samples = []
                if traced:
                    first_span = len(tracer.spans)
                    ctx.rows_returned = 0
                    tracer.active = True
                c0, t1 = measure.CpuSample(), time.perf_counter()
                wl.run_pass(check=False)
                wall = time.perf_counter() - t1
                cpu, jit, steal = measure.CpuSample().since(c0)
                passes.append({"traced": traced, "pass_s": wall, "cpu_s": cpu,
                               "jit_cpu_s": jit, "steal_s": steal,
                               "samples": ctx.samples})
                if traced:
                    tracer.active = False
                    if layers is None:
                        layers = _layers(
                            tracer, tracer.spans[:setup_span],
                            setup_spans + tracer.spans[first_span:],
                            setup_job, ctx, wl)
                if (time.perf_counter() - overall >= args.seconds
                        and len(passes) >= MIN_TIMED_PASSES):
                    break
        finally:
            wl.close()
    finally:
        _stop(spark)

    timed = [p for p in passes if not p["traced"]]
    ops: dict[str, list[float]] = {}
    for p in timed:
        for kind, ms in p["samples"]:
            ops.setdefault(kind, []).append(ms)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "input_rows": rows,
        "session_s": session_s,
        "load_s": load_s,
        "warm_passes": warm,
        "timed_passes": [
            {k: p[k] for k in ("pass_s", "cpu_s", "jit_cpu_s", "steal_s")} for p in timed
        ],
        "op_ms": {k: measure.summary(v) for k, v in sorted(ops.items())},
        "failed_share": ctx.failed / max(ctx.attempted, 1),
    }
    for extra in ("retrain_ms", "bytes_per_user_byte"):
        if getattr(wl, extra, None) is not None:
            detail[extra] = getattr(wl, extra)
    if tracer is None:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "pass_s": {"value": statistics.median(p["pass_s"] for p in timed), "unit": "s"},
            "cpu_s": {"value": statistics.median(p["cpu_s"] for p in timed), "unit": "s"},
        }
    else:
        traced_s = statistics.median(p["pass_s"] for p in passes if p["traced"])
        untraced_s = statistics.median(p["pass_s"] for p in timed)
        layers["trace.overhead_ms"] = {"value": (traced_s - untraced_s) * 1000, "unit": "ms"}
        metrics = layers
        spans_file = os.path.join(
            os.getcwd(), ".perfbench", f"spans-{args.workload}-{args.seed}.jsonl")
        tracer.dump(spans_file)
        detail["spans_file"] = os.path.relpath(spans_file)
        tracer.uninstall()
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }
    return detail, result


def _layers(tracer, startup, spans, after_job: int, ctx, wl) -> dict:
    """Per-layer metrics of ``spans`` (the workload's set-up and one traced
    pass), plus the session layer's spans at start-up."""
    from tracing import ALL_LAYERS, COUNTERS, layer_counts

    counts = layer_counts(tracer, spans, after_job)
    for s in startup:
        if s.layer == "session":
            acc = counts["session"]
            acc["calls"] += 1
            acc["wall_ms"] += (s.end - s.start) * 1000
            acc["self_ms"] += (s.end - s.start - s.child_s) * 1000
    out = {}
    for layer in ALL_LAYERS:
        for name, unit in COUNTERS.items():
            out[f"{layer}.{name}"] = {"value": counts[layer][name], "unit": unit}
    out["caching.persisted_rdds_after_op"] = {"value": ctx.persisted_after_op, "unit": "count"}
    out["app.rows_returned"] = {"value": ctx.rows_returned, "unit": "count"}
    out["sources.manifest.files_written"] = {
        "value": getattr(wl, "files_written", 0), "unit": "count"}
    out["sources.manifest.bytes_per_user_byte"] = {
        "value": getattr(wl, "bytes_per_user_byte", None) or 0.0, "unit": "ratio"}
    return out


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "ihop_reddit_spark"))
            and os.path.isfile(os.path.join(root, "__spark_entry__.py"))):
        print("perfbench: run from the repository root; the ihop_reddit_spark "
              "package is not in the working directory", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    # The same path on every run: table paths end up in shuffled rows, so
    # a path that differed between runs would change the shuffle bytes.
    work = os.path.join(root, ".perfbench", f"work-{args.workload}")
    os.makedirs(os.path.dirname(work), exist_ok=True)
    with open(work + ".lock", "w") as lock:
        try:
            fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            print(f"perfbench: another {args.workload} run is using {work}",
                  file=sys.stderr)
            return 2
        shutil.rmtree(work, ignore_errors=True)  # left by a killed run
        os.makedirs(os.path.join(work, "tmp"))
        # Spark's shuffle files, the JVM's and Python's temp files stay in
        # the working directory
        os.environ["TMPDIR"] = os.path.join(work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
        try:
            detail, result = run(args, work)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
