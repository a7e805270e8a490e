"""lsh_spark benchmark harness.

One run:
    python3 perfbench/run.py --workload dedup_corpus --seed 1 --seconds 12 --trace 0

generates the workload's inputs from the seed (parquet files in a private
working directory under the checkout), starts lsh_spark's session, sets
up, then runs a closed loop of ops (one client, waiting for each result)
until the summed op wall reaches ``--seconds`` and at least the workload's
``MIN_OPS`` ops have run.  Every op's output is checked; an op that raises,
runs past ``OP_TIMEOUT_S`` or fails its check counts as failed.  ``metric <name> <value> <unit>`` lines and, last, one
JSON object go to stdout.  ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer ones (see README.md).

Repeat mode (steadiness evidence):
    python3 perfbench/run.py --workload dedup_corpus --repeat 10 --seed 1 --seconds 12

runs seeds seed..seed+N-1 one after another in fresh processes and prints
every metric's median, quartiles and spread (IQR / median), with the host
calibration loop time of each run.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# the session start is repeated this many times per run and its median
# taken, so one slow JVM launch cannot move set-up time; the index build and
# warm-up ops that follow run once (repeating them does not fit the time
# budget of the benchmark's runs)
SETUP_REPS = 3
OP_TIMEOUT_S = 60.0
# stop starting new ops past this much wall, so a run always ends in time
WALL_BUDGET_S = 140.0

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "recall": "ratio",
}
# metrics every untraced run prints as lines but does not gate
REPORTED = {
    "failed_frac": "ratio",
    "op_tail_pct": "%",
    "op_tail_beyond": "count",
    "ops": "count",
    "index_bytes_per_input_byte": "B/B",
    "host.calib_s": "s",
}
PER_LAYER = {
    "plans.session_s": "s",
    "plans.warmup_s": "s",
    "plans.jvm_peak_rss_mb": "MB",
    "plans.py_peak_rss_mb": "MB",
    "sources.index_files": "count",
    "sources.index_bytes": "B",
    "sources.index_bytes_per_input_byte": "B/B",
    "core.minhash_docs_per_s": "1/s",
    "core.jaccard_pairs_per_s": "1/s",
    "core.euclidean_rows_per_s": "1/s",
    "functions.lsh_min_rows_per_s": "1/s",
    "functions.lsh_jaccard_rows_per_s": "1/s",
    "functions.shingle_set_rows_per_s": "1/s",
    "functions.bands_from_set_rows_per_s": "1/s",
    "functions.lsh_euclidean_rows_per_s": "1/s",
    "functions.boundary_share": "ratio",
    "similarity_join.self_dedup_s": "s",
    "similarity_join.candidates_per_op": "count",
    "similarity_join.pairs_per_candidate": "ratio",
    "similarity_join.build_s": "s",
    "similarity_join.probe_s": "s",
    "similarity_join.extend_s": "s",
    "similarity_join.delete_s": "s",
    "similarity_join.compact_s": "s",
    "similarity_join.max_bucket": "count",
    "streaming.drain_s": "s",
    "streaming.overhead_s": "s",
    "ann.topk_s": "s",
    "ann.candidates_per_query": "count",
    "ann.recall": "ratio",
    "ann.cosine_mismatches": "count",
    "scheduler.jobs_per_op": "count",
    "scheduler.stages_per_op": "count",
    "scheduler.tasks_per_op": "count",
    "scheduler.failed_tasks": "count",
    "host.calib_s": "s",
    "host.calib_end_s": "s",
    "trace.setup_s": "s",
    "trace.op_p50_s": "s",
    "trace.throughput_per_s": "1/s",
    "trace.bookkeeping_s": "s",
}
WORKLOAD_NAMES = ("dedup_corpus", "index_ingest")


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least 10 samples beyond it; a run of
    under 40 ops keeps a quarter of them beyond it (none under 4 ops).
    Returns (value, percentile, samples beyond)."""
    xs = sorted(samples)
    n = len(xs)
    beyond = min(10, n // 4)
    k = n - 1 - beyond
    return xs[k], 100.0 * (k + 1) / n, beyond


def prepare_env(workdir: str) -> None:
    """Private scratch for everything Spark and its workers write, so runs
    never share state with each other or with the test suite."""
    local, tmp = os.path.join(workdir, "local"), os.path.join(workdir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    # half the usable cores run Spark tasks; the other half is left to the
    # JVM's JIT and GC threads, the Python driver and the Arrow transfer, so
    # op times do not drift while the JIT catches up under full load
    os.environ["SPARK_GRAFT_CPUS"] = str(
        max(1, len(os.sched_getaffinity(0)) // 2))
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["LSH_SPARK_LOCAL_DIR"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.showConsoleProgress=false",
        # no hsperfdata file in the system /tmp either
        "--driver-java-options",
        shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
        "pyspark-shell"])
    # the warehouse, derby.log and any relative path land in the workdir
    os.chdir(workdir)


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def end_jvm() -> None:
    """Terminate the session's JVM if it still runs (a run that raised or
    was terminated mid-op), and wait for it, so nothing writes into the
    working directory while it is removed."""
    pyspark = sys.modules.get("pyspark")
    gateway = pyspark and pyspark.SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None and proc.poll() is None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def median_or_zero(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def run(workload: str, seed: int, seconds: float, traced: bool) -> dict:
    import observe
    from workloads import PROBE_OPS, WORKLOADS

    from lsh_spark import get_spark

    t_start = time.perf_counter()
    calib_start = observe.host_calib_s()
    wl = WORKLOADS[workload](os.getcwd(), seed, traced)
    wl.gen_setup()

    # -- set-up: fresh sessions, then index build and warm-up -------------
    session_s = []
    for rep in range(SETUP_REPS):
        if rep:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{workload}")
        session_s.append(time.perf_counter() - t0)
    spark.sparkContext.setLogLevel("ERROR")
    prep_s, setup_parts = observe.timed(wl.setup, spark)
    warm_s, _ = observe.timed(wl.warm_up, spark)
    print(f"sessions {session_s}, set-up {prep_s:.3f} s, warm-up "
          f"{warm_s:.3f} s, done at {time.perf_counter() - t_start:.1f} s",
          file=sys.stderr, flush=True)

    # -- the closed loop ---------------------------------------------------
    sched = observe.SchedulerCounter(spark) if traced else None
    layer: dict[str, list] = {}
    counts: dict[str, list] = {"jobs": [], "stages": [], "tasks": [],
                               "failed_tasks": []}
    op_s, items, attempted, failed, found, eligible = [], 0, 0, 0, 0, 0
    i = 0
    while ((len(op_s) < wl.MIN_OPS or sum(op_s) < seconds)
           and time.perf_counter() - t_start < WALL_BUDGET_S):
        wl.gen_op(i)
        probing = traced and i < PROBE_OPS
        if probing and hasattr(wl, "probe_before"):
            for k, v in wl.probe_before(spark, i).items():
                layer.setdefault(k, []).append(v)
        if sched:
            sched.begin()
        attempted += 1
        t0 = time.perf_counter()
        try:
            out, parts, run_ids = wl.op(spark, i)
        except Exception:  # an op that raises is a failed op; keep going
            op_s.append(time.perf_counter() - t0)
            failed += 1
            traceback.print_exc()
            i += 1
            continue
        dt = time.perf_counter() - t0
        op_s.append(dt)
        items += wl.items(i)
        print(f"op {i}: {dt:.3f} s {parts}", file=sys.stderr, flush=True)
        if sched:
            for k, v in sched.end(run_ids).items():
                counts[k].append(v)
        errors, f, e = wl.check(i, out)
        found, eligible = found + f, eligible + e
        if dt > OP_TIMEOUT_S:
            errors.append(f"op took {dt:.1f} s > {OP_TIMEOUT_S} s")
        if errors:
            failed += 1
            print(f"op {i} failed its check: {errors[:5]}", file=sys.stderr)
        if traced:
            for k, v in parts.items():
                layer.setdefault(k, []).append(v)
            if probing:
                for k, v in wl.probe_layers(spark, i, out, dt).items():
                    layer.setdefault(k, []).append(v)
        wl.after_op(spark, i)
        gc.collect()
        i += 1

    print(f"loop done at {time.perf_counter() - t_start:.1f} s",
          file=sys.stderr, flush=True)
    final = wl.final_metrics(spark)
    extra = wl.probe_final(spark) if traced else {}
    jvm = observe.jvm_pid(spark)
    jvm_rss = observe.vm_hwm_mb(jvm) if jvm else 0.0
    stop_spark(spark)
    calib_end = observe.host_calib_s()
    print(f"stopped at {time.perf_counter() - t_start:.1f} s",
          file=sys.stderr, flush=True)

    value, pct, beyond = tail(op_s)
    e2e = {
        "setup_s": float(statistics.median(session_s)) + prep_s + warm_s,
        "throughput_per_s": items / sum(op_s),
        "op_p50_s": float(statistics.median(op_s)),
        "op_tail_s": value,
        "recall": found / eligible if eligible else 0.0,
    }
    reported = {
        "failed_frac": failed / attempted,
        "op_tail_pct": pct,
        "op_tail_beyond": beyond,
        "ops": attempted,
        "host.calib_s": calib_start,
    }
    if "index_bytes_per_input_byte" in final:
        reported["index_bytes_per_input_byte"] = \
            final["index_bytes_per_input_byte"]
    correct = failed == 0 and extra.get("ann.cosine_mismatches", 0) == 0
    if not traced:
        return {"correct": correct, "attempted": attempted,
                "failed": failed, "metrics": e2e, "reported": reported}

    drain = layer.get("drain_s", [])
    probe = layer.get("similarity_join.probe_s", [])
    m = {k: median_or_zero(v) for k, v in layer.items()}
    m.update({
        "plans.session_s": float(statistics.median(session_s)),
        "plans.warmup_s": warm_s,
        "plans.jvm_peak_rss_mb": jvm_rss,
        "plans.py_peak_rss_mb": observe.vm_hwm_mb(),
        "sources.index_files": final.get("sources.index_files", 0),
        "sources.index_bytes": final.get("sources.index_bytes", 0),
        "sources.index_bytes_per_input_byte":
            final.get("index_bytes_per_input_byte", 0.0),
        "similarity_join.build_s": setup_parts.get("build_s", 0.0),
        "similarity_join.extend_s": median_or_zero(layer.get("extend_s")),
        "similarity_join.delete_s": median_or_zero(layer.get("delete_s")),
        "similarity_join.compact_s": median_or_zero(layer.get("compact_s")),
        "streaming.drain_s": median_or_zero(drain),
        "streaming.overhead_s": (
            median_or_zero([d - p for d, p in zip(drain, probe)])),
        "scheduler.jobs_per_op": median_or_zero(counts["jobs"]),
        "scheduler.stages_per_op": median_or_zero(counts["stages"]),
        "scheduler.tasks_per_op": median_or_zero(counts["tasks"]),
        "scheduler.failed_tasks": sum(counts["failed_tasks"]),
        "host.calib_s": calib_start,
        "host.calib_end_s": calib_end,
        "trace.setup_s": e2e["setup_s"],
        "trace.op_p50_s": e2e["op_p50_s"],
        "trace.throughput_per_s": e2e["throughput_per_s"],
        "trace.bookkeeping_s": sched.busy_s / max(attempted, 1),
    })
    m.update(extra)
    metrics = {k: float(m.get(k, 0)) for k in PER_LAYER}
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": metrics, "reported": reported}


def emit(result: dict, traced: bool) -> None:
    units = PER_LAYER if traced else END_TO_END
    for k, v in result["reported"].items():
        print(f"metric {k} {v} {REPORTED[k]}")
    for k, v in result["metrics"].items():
        print(f"metric {k} {v} {units[k]}")
    print(json.dumps({
        "correct": bool(result["correct"]), "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in result["metrics"].items()}}), flush=True)


def repeat(args) -> int:
    """Run seeds seed..seed+N-1 in fresh processes; summarize."""
    values: dict[str, list] = {}
    for n in range(args.repeat):
        cmd = [sys.executable, os.path.abspath(__file__),
               "--workload", args.workload, "--seed", str(args.seed + n),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        t0 = time.perf_counter()
        p = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
        wall = time.perf_counter() - t0
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {args.seed + n}: exit {p.returncode}\n"
                  f"{p.stderr[-3000:]}", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        row = {k: v["value"] for k, v in res["metrics"].items()}
        for line in lines[:-1]:
            parts = line.split()
            if len(parts) == 4 and parts[0] == "metric":
                row.setdefault(parts[1], float(parts[2]))
        row["wall_s"] = wall
        op_times = [line.split()[2] for line in p.stderr.splitlines()
                    if line.startswith("op ") and line.split()[1][-1] == ":"]
        for k, v in row.items():
            values.setdefault(k, []).append(v)
        print(f"seed {args.seed + n}: correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']} "
              + " ".join(f"{k}={row[k]:.4g}" for k in
                         ("setup_s", "op_p50_s", "throughput_per_s",
                          "host.calib_s", "wall_s") if k in row)
              + f" ops=[{' '.join(op_times)}]", flush=True)
    print(f"{'metric':40s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
          f"{'spread':>8s}")
    for k, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = (statistics.quantiles(xs, n=4) if len(xs) > 1
                     else (xs[0], xs[0], xs[0]))
        spread = (q3 - q1) / med if med else 0.0
        print(f"{k:40s} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:8.4f}")
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--repeat", type=int, default=0,
                    help="run N seeds in fresh processes and summarize")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "lsh_spark", "__init__.py")):
        print(f"lsh_spark sources not found beside {HERE}", file=sys.stderr)
        return 2
    if args.repeat:
        return repeat(args)
    # a terminated run still removes its working directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path[:0] = [HERE, ROOT]
    workdir = os.path.join(
        ROOT, ".perfbench_work",
        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    os.makedirs(workdir)
    try:
        prepare_env(workdir)
        result = run(args.workload, args.seed, args.seconds,
                     bool(args.trace))
    finally:
        end_jvm()
        os.chdir(ROOT)
        shutil.rmtree(workdir, ignore_errors=True)
    emit(result, bool(args.trace))
    return 0


if __name__ == "__main__":
    sys.exit(main())
