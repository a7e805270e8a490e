"""Stage-level profiler for registry queries (round-12 verdict item 2:
"stop re-measuring; measure inside").

Runs the named queries with ``spark.eventLog`` enabled, tags every run
with a job group, then parses the event log into a per-stage breakdown:
stage wall, summed executor run/CPU/GC time, shuffle read/write bytes,
input bytes, task count.  This is what attributes a wall-clock drift to
a specific exchange / kernel / GC instead of another best-of-N shrug.

Usage:
  python3 scripts/profile_query_stages.py QUERY [QUERY ...] \
      [--sf /root/testdata/sf0.1] [--runs 3]

Methodology matches bench.py: same session (``plans.get_spark`` with the
eventLog confs as ``extra_conf``), same sf0.001 warm pass,
clearCache between runs; report per-run walls AND the per-stage table
of the FASTEST run (noise lives between runs, not within a stage).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def make_spark(event_dir: str):
    from lsh_spark.plans import get_spark

    return get_spark(app_name="lsh_spark-stage-profile", extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": event_dir,
        # Spark 4 zstd-compresses event logs by default; keep them
        # plain-JSON so the parser needs no codec
        "spark.eventLog.compress": "false",
    })


def parse_event_log(event_dir: str):
    """-> (stage_rows, stage_to_group): stage_rows[stage_id] aggregates
    task metrics; stage_to_group maps stage_id -> job-group string."""
    # Spark 4 writes an eventlog_v2_* DIRECTORY holding events_* files
    files = []
    for root, _dirs, fnames in os.walk(event_dir):
        for f in fnames:
            if f.startswith("events"):
                files.append(os.path.join(root, f))
    stage = defaultdict(lambda: defaultdict(float))
    names: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                k = ev.get("Event")
                if k == "SparkListenerJobStart":
                    grp = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id", "")
                    job_group[ev["Job ID"]] = grp
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = grp
                elif k == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    sid = si["Stage ID"]
                    names[sid] = si.get("Stage Name", "")
                    sub = si.get("Submission Time")
                    com = si.get("Completion Time")
                    if sub and com:
                        stage[sid]["wall_ms"] = com - sub
                elif k == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    tm = ev.get("Task Metrics") or {}
                    s = stage[sid]
                    s["tasks"] += 1
                    s["run_ms"] += tm.get("Executor Run Time", 0)
                    s["cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
                    s["gc_ms"] += tm.get("JVM GC Time", 0)
                    s["deser_ms"] += tm.get("Executor Deserialize Time", 0)
                    srm = tm.get("Shuffle Read Metrics") or {}
                    s["shuf_read_b"] += (srm.get("Remote Bytes Read", 0)
                                         + srm.get("Local Bytes Read", 0))
                    s["fetch_wait_ms"] += srm.get("Fetch Wait Time", 0)
                    swm = tm.get("Shuffle Write Metrics") or {}
                    s["shuf_write_b"] += swm.get("Shuffle Bytes Written", 0)
                    s["shuf_write_ms"] += swm.get("Shuffle Write Time", 0) / 1e6
                    im = tm.get("Input Metrics") or {}
                    s["input_b"] += im.get("Bytes Read", 0)
    return stage, names, stage_group


def run_queries(args, event_dir: str) -> "dict[str, list[float]]":
    """Run each query ``args.runs`` times under an event-logging session
    (one job group per run) and return the walls; the session is
    stopped so the event log is complete on disk."""
    spark = make_spark(event_dir)
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry

    qs = entry.queries()
    spark.range(1000).count()
    if not args.no_warm:
        warm_sf = "/root/testdata/sf0.001"
        spark.sparkContext.setJobGroup("warm", "warm")
        for w in ("minhash_near_dup_pairs", "ann_topk", "simhash_near_dup_pairs"):
            if w in qs:
                qs[w](spark, warm_sf).count()
        spark.catalog.clearCache()

    # match bench.py's terminal: count(1) legally prunes real work for
    # the _NOOP_TERMINAL queries (lang_id_predictions profiled 0.4 s
    # against a 3.9 s benched noop write before this)
    from bench import _NOOP_TERMINAL

    walls: dict[str, list[float]] = {}
    for name in args.queries:
        walls[name] = []
        for r in range(args.runs):
            tag = f"{name}#run{r}"
            spark.sparkContext.setJobGroup(tag, tag)
            t0 = time.perf_counter()
            df = qs[name](spark, args.sf)
            if name in _NOOP_TERMINAL:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            walls[name].append(round(time.perf_counter() - t0, 3))
            spark.catalog.clearCache()
    spark.stop()
    time.sleep(1.0)
    return walls


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--no-warm", action="store_true")
    args = ap.parse_args()

    event_dir = tempfile.mkdtemp(prefix="lsh_spark_events_")
    try:
        walls = run_queries(args, event_dir)
        stage, names, stage_group = parse_event_log(event_dir)
    finally:
        shutil.rmtree(event_dir, ignore_errors=True)
    for name in args.queries:
        ws = walls[name]
        best = ws.index(min(ws))
        print(f"\n== {name} walls={ws} (stage table: run {best}) ==")
        tag = f"{name}#run{best}"
        rows = [(sid, s) for sid, s in stage.items()
                if stage_group.get(sid, "") == tag]
        rows.sort(key=lambda kv: -kv[1]["wall_ms"])
        print(f"{'stage':>5} {'wall_s':>7} {'run_s':>7} {'cpu_s':>7} "
              f"{'gc_s':>6} {'fetchw_s':>8} {'shufR_MB':>8} {'shufW_MB':>8} "
              f"{'in_MB':>7} {'tasks':>5}  name")
        for sid, s in rows:
            print(f"{sid:>5} {s['wall_ms']/1e3:>7.2f} {s['run_ms']/1e3:>7.2f} "
                  f"{s['cpu_ms']/1e3:>7.2f} {s['gc_ms']/1e3:>6.2f} "
                  f"{s['fetch_wait_ms']/1e3:>8.2f} "
                  f"{s['shuf_read_b']/1e6:>8.1f} {s['shuf_write_b']/1e6:>8.1f} "
                  f"{s['input_b']/1e6:>7.1f} {int(s['tasks']):>5}  "
                  f"{names.get(sid, '')[:60]}")
        tot_wall = sum(s["wall_ms"] for _, s in rows) / 1e3
        tot_run = sum(s["run_ms"] for _, s in rows) / 1e3
        tot_gc = sum(s["gc_ms"] for _, s in rows) / 1e3
        print(f"  sum(stage wall)={tot_wall:.2f}s sum(run)={tot_run:.2f}s "
              f"sum(gc)={tot_gc:.2f}s driver/gap={min(ws)-tot_wall:.2f}s")
        # compact per-run comparison: where do slow runs spend the
        # extra wall?  (gap = driver/scheduler time outside any stage)
        for r, w in enumerate(ws):
            rtag = f"{name}#run{r}"
            rr = [(sid, s) for sid, s in stage.items()
                  if stage_group.get(sid, "") == rtag]
            sw = sum(s["wall_ms"] for _, s in rr) / 1e3
            srun = sum(s["run_ms"] for _, s in rr) / 1e3
            sgc = sum(s["gc_ms"] for _, s in rr) / 1e3
            top = max(rr, key=lambda kv: kv[1]["wall_ms"], default=(None, {}))
            print(f"  run{r}: wall={w:.2f}s stages={sw:.2f}s "
                  f"gap={w - sw:.2f}s run={srun:.1f}s gc={sgc:.2f}s "
                  f"top-stage wall={top[1].get('wall_ms', 0) / 1e3:.2f}s "
                  f"(id {top[0]})")
    print(f"\nevent log: {event_dir}")


if __name__ == "__main__":
    main()
