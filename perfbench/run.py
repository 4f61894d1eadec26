"""Benchmark driver: one workload, one fresh Spark process, one closed-loop
client.

    python3 perfbench/run.py --workload cold_query_sf01 --seed 1 \
        --seconds 8 --trace 0

Run from the repository root. The last stdout line is the result:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones of BENCHMARK.json, with --trace 1 the per-layer
ones. The line before it carries the workload's own named metrics, host
telemetry and (traced) the tracing overhead and the span file. See
perfbench/README.md for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))
SETUPS = 3  # set-ups per run; setup_s is their median
# Spark cores. The reference box has four vCPUs shared with a co-tenant;
# two leave it room, so contention moves the figures less, and the cold
# query floor (driver work and tiny tasks) is no slower on two.
CORES = 2


def _args():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    help="a workload name, or 'all' to run each in turn")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _session(work: str, traced: bool):
    from pyspark.sql import SparkSession
    b = (SparkSession.builder.master(f"local[{CORES}]")
         .appName("perfbench")
         .config("spark.driver.memory", "3g")
         .config("spark.sql.shuffle.partitions", str(CORES))
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.local.dir", os.path.join(work, "spark-local"))
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         .config("spark.driver.extraJavaOptions",
                 "-Djava.io.tmpdir=" + os.path.join(work, "tmp")))
    if traced:  # the status REST endpoint needs the UI
        b = (b.config("spark.ui.enabled", "true")
             .config("spark.ui.retainedJobs", "100000")
             .config("spark.ui.retainedStages", "100000"))
    else:
        b = b.config("spark.ui.enabled", "false")
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark):
    """Stop Spark, its JVM and the Python workers, and wait for them."""
    import tracing
    from pyspark import SparkContext
    kids = tracing.descendants()
    gw = SparkContext._gateway
    try:
        spark.stop()
    except Exception as e:  # a terminated run may have lost the JVM already
        print(f"perfbench: spark.stop: {e}", file=sys.stderr)
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline:
        alive = [p for p in kids if os.path.exists(f"/proc/{p}")]
        if not alive:
            break
        time.sleep(0.2)
    for p in kids:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass
    while any(os.path.exists(f"/proc/{p}") for p in kids) and \
            time.time() < deadline + 10:
        time.sleep(0.2)


def main() -> int:
    a = _args()
    sys.path[:0] = [ROOT, HERE]
    try:  # fail fast, before any process starts, without the program
        import lucene_7_x_9_x_spark  # noqa: F401
        import __spark_entry__  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    import signal
    import warnings
    warnings.filterwarnings("ignore")
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    import tracing
    from workloads import WORKLOADS
    if a.workload == "all":  # each workload in its own fresh process
        rcs = [subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w,
             "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", str(a.trace)]).returncode for w in WORKLOADS]
        return max(rcs)
    if a.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{a.workload}-{a.seed}-{os.getpid()}")
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    host0 = tracing.host_sample()
    traced = bool(a.trace)
    spark = _session(work, traced)
    try:
        return _run(a, spark, work, base, host0, traced)
    finally:
        try:
            _stop(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)


def _run(a, spark, work, base, host0, traced) -> int:
    import tracing
    from workloads import WORKLOADS
    sc = spark.sparkContext
    tracer = tracing.Tracer()
    wl = WORKLOADS[a.workload](spark, a.seed, work, tracer)
    session_s = time.perf_counter() - T_START
    t0 = time.perf_counter()
    wl.prepare()
    prepare_s = time.perf_counter() - t0

    setups = []
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        wl.setup()
        setups.append(time.perf_counter() - t0)

    sparkops = tracing.SparkOps(sc) if traced else None
    if traced:
        wl.install_tracing()
    persisted0 = tracing.persisted_rdds(sc)
    lat: dict[int, float] = {}
    cpu_ops: dict[int, dict] = {}
    items, failed_ops, errors = 0, set(), []
    cpu0 = tracing.cpu_total()
    t_loop = time.perf_counter()
    i = 0
    while time.perf_counter() - t_loop < a.seconds:
        on = traced and i % 2 == 0  # interleave traced and untraced ops
        tracer.enabled, tracer.op = on, i
        if on:
            sparkops.begin(f"op{i}")
            c0 = tracing.cpu_split()
        t0 = time.perf_counter()
        try:
            with tracer.span("op"):
                items += wl.op(i)
        except Exception as e:  # count it, keep the client running
            failed_ops.add(i)
            errors.append(f"op {i}: {type(e).__name__}: {e}")
        lat[i] = time.perf_counter() - t0
        if on:
            c1 = tracing.cpu_split()
            cpu_ops[i] = {k: c1[k] - c0[k] for k in c0}
            sparkops.end(f"op{i}")
        tracer.enabled = False
        i += 1
    loop_s = time.perf_counter() - t_loop
    cpu_loop = tracing.cpu_total() - cpu0
    n_ops = i
    persisted1 = tracing.persisted_rdds(sc)

    extra_ops, extra_bad, bad, notes = 0, 0, set(), []
    try:
        wl.finish(traced)
        extra_ops, extra_bad, bad, notes = wl.check()
    except Exception as e:
        extra_ops = extra_bad = 1
        errors.append(f"finish/check: {type(e).__name__}: {e}")
    failed = len(failed_ops | bad) + extra_bad
    attempted = n_ops + extra_ops
    host = tracing.host_telemetry(host0, tracing.host_sample())

    ok = [lat[j] for j in range(n_ops) if j not in failed_ops]
    untraced = [lat[j] for j in range(n_ops)
                if j not in failed_ops and not (traced and j % 2 == 0)]
    if not ok:
        print("perfbench: every operation failed:\n" + "\n".join(errors),
              file=sys.stderr)
        return 1
    p50 = statistics.median(ok)
    detail = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "cores": sc.defaultParallelism, "ops": n_ops,
        "session_s": session_s, "prepare_s": prepare_s, "setups_s": setups,
        "loop_s": loop_s,
        "op_latencies_s": [lat[j] for j in range(n_ops)],
        "error_rate": failed / attempted,
        "persisted_rdds_before": persisted0,
        "persisted_rdds_after": persisted1,
        "cpu_split_s": tracing.cpu_split(),
        **host,
        "named": wl.named_metrics(ok, items, loop_s),
    }
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    if a.trace == 0:
        values = {
            "setup_s": statistics.median(setups),
            "op_p50_s": p50,
            "items_per_s": items / loop_s,
            "cpu_s_per_op": cpu_loop / n_ops,
            "index_bytes_per_input_byte": wl.index_bytes_per_input_byte(),
        }
        metrics = {m["name"]: (values[m["name"]], m["unit"])
                   for m in declared["end_to_end"]}
    else:
        ops = set(cpu_ops)
        n = max(len(ops), 1)
        stage = sparkops.stage_metrics()
        sids = [s for o in ops for s in sparkops.stages_of[f"op{o}"]]
        per_op = lambda key: sum(stage.get(s, {}).get(key, 0)  # noqa: E731
                                 for s in sids) / n
        layer = {
            "spark.jobs_per_op":
                sum(sparkops.jobs_of[f"op{o}"] for o in ops) / n,
            "spark.stages_per_op": len(sids) / n,
            "spark.tasks_per_op":
                sum(sparkops.tasks_of[f"op{o}"][0] for o in ops) / n,
            "spark.failed_tasks":
                sum(sparkops.tasks_of[f"op{o}"][1] for o in ops),
            "spark.input_bytes_per_op": per_op("input"),
            "spark.shuffle_bytes_per_op": per_op("shuffle"),
            "spark.task_run_s_per_op": per_op("run_ms") / 1000.0,
            "spark.gc_s_per_op": per_op("gc_ms") / 1000.0,
            "spark.persisted_rdds_delta": persisted1 - persisted0,
            "cpu.driver_s_per_op":
                sum(cpu_ops[o]["driver"] for o in ops) / n,
            "cpu.jvm_s_per_op": sum(cpu_ops[o]["jvm"] for o in ops) / n,
            "cpu.pyworker_s_per_op":
                sum(cpu_ops[o]["pyworker"] for o in ops) / n,
            "trace.spans_per_op":
                sum(1 for s in tracer.spans if s["op"] in ops) / n,
            **wl.layers(ops),
        }
        traced_lat = [lat[o] for o in ops if o not in failed_ops]
        overhead = (statistics.median(traced_lat) - statistics.median(untraced)
                    if traced_lat and untraced else 0.0)
        layer["trace.overhead_s_per_op"] = overhead
        # layers a workload does not reach read 0
        metrics = {m["name"]: (layer.get(m["name"], 0.0), m["unit"])
                   for m in declared["per_layer"]}
        os.makedirs(base, exist_ok=True)
        spans = os.path.join(base, f"spans-{a.workload}-seed{a.seed}.json")
        tracer.dump(spans)
        tracer.unwrap_all()
        detail.update({"spans_file": os.path.relpath(spans, ROOT),
                       "trace_overhead_s_per_op": overhead,
                       "traced_ops": len(ops),
                       "untraced_op_p50_s": statistics.median(untraced)
                       if untraced else None})
    for line in errors + notes:
        print(f"perfbench: {line}", file=sys.stderr)
    print("perfbench-detail " + json.dumps(detail, default=str))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
