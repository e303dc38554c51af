"""Diagnose tc_kernel scaling: per-stage task-time distribution.

Runs the same (input, config) as tools/scaling_job.py's tc_kernel cell
with the Spark event log enabled, then parses the log and prints, per
stage: task count, sum/mean/max task time, and the straggler ratio
(max/mean) — the signature that distinguishes wave-quantization loss
(lumpy groups at few waves) from uniform bandwidth dilution.

Usage: profile_kernel.py <cpus> [n_edges] [n_vertices] [n_parts]
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from scaling_job import SHUFFLE_PARTITIONS, fresh_jvm_session  # noqa: E402
from trianglecount_spark.operators.canonicalize import canonicalize_edges, orient  # noqa: E402
from trianglecount_spark.operators.triangles import triangles_per_vertex_kernel  # noqa: E402
from trianglecount_spark.sources.synth import powerlaw_edges  # noqa: E402


def main() -> None:
    cpus = int(sys.argv[1])
    n_edges = int(sys.argv[2]) if len(sys.argv) > 2 else 8_000_000
    n_vertices = int(sys.argv[3]) if len(sys.argv) > 3 else 100_000
    n_parts = int(sys.argv[4]) if len(sys.argv) > 4 else SHUFFLE_PARTITIONS
    evt_dir = f"/tmp/spark-events-{cpus}-{n_parts}"
    shutil.rmtree(evt_dir, ignore_errors=True)
    os.makedirs(evt_dir, exist_ok=True)
    with fresh_jvm_session(
        f"profile-kernel-{cpus}",
        cpus,
        {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evt_dir,
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.compress": "false",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": os.environ.get(
                "SPARK_GRAFT_ADVISORY", "64m"
            ),
        },
    ) as spark:
        sym = canonicalize_edges(powerlaw_edges(spark, n_edges, n_vertices)).cache()
        sym.count()
        oriented = orient(sym).cache()
        oriented.count()
        sym.unpersist()

        def run() -> float:
            t0 = time.time()
            triangles_per_vertex_kernel(oriented, n_parts=n_parts).agg(
                F.coalesce(F.sum("tri"), F.lit(0)).alias("t")
            ).collect()
            return time.time() - t0

        run()  # warmup
        wall = run()

    # the event log is complete once the session has stopped
    stages: dict[int, dict] = {}
    names: dict[int, str] = {}
    submitted: dict[int, float] = {}
    paths = [p for p in glob.glob(f"{evt_dir}/**/*", recursive=True)
             if os.path.isfile(p) and "appstatus" not in p]
    for path in paths:
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if ev.get("Event") == "SparkListenerStageSubmitted":
                    si = ev["Stage Info"]
                    names[si["Stage ID"]] = si["Stage Name"].split("\n")[0]
                    submitted[si["Stage ID"]] = si.get("Submission Time", 0)
                elif ev.get("Event") == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    ti = ev["Task Info"]
                    dur = (ti["Finish Time"] - ti["Launch Time"]) / 1000.0
                    st = stages.setdefault(sid, {"n": 0, "sum": 0.0, "max": 0.0,
                                                 "shuf_w": 0, "shuf_r": 0,
                                                 "cpu": 0.0, "gc": 0.0})
                    st["n"] += 1
                    st["sum"] += dur
                    st["max"] = max(st["max"], dur)
                    m = ev.get("Task Metrics") or {}
                    st["cpu"] += m.get("Executor CPU Time", 0) / 1e9
                    st["gc"] += m.get("JVM GC Time", 0) / 1e3
                    sw = (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    sr = (m.get("Shuffle Read Metrics") or {}).get(
                        "Remote Bytes Read", 0) + (
                        m.get("Shuffle Read Metrics") or {}).get(
                        "Local Bytes Read", 0)
                    st["shuf_w"] += sw
                    st["shuf_r"] += sr

    # keep only the second (timed) run's stages: order by submission,
    # report the last half of nontrivial stages
    print(f"\n=== cpus={cpus} n_parts={n_parts} wall={wall:.2f}s ===")
    print(f"{'stage':>5} {'tasks':>5} {'sum_s':>8} {'cpu_s':>7} {'gc_s':>6} "
          f"{'mean_s':>7} {'max_s':>7} "
          f"{'max/mean':>8} {'shW_MB':>8} {'shR_MB':>8}  name")
    for sid in sorted(stages, key=lambda s: submitted.get(s, 0)):
        st = stages[sid]
        if st["sum"] < 0.3:
            continue
        mean = st["sum"] / st["n"]
        print(f"{sid:>5} {st['n']:>5} {st['sum']:>8.2f} {st['cpu']:>7.2f} "
              f"{st['gc']:>6.2f} {mean:>7.2f} "
              f"{st['max']:>7.2f} {st['max'] / mean:>8.2f} "
              f"{st['shuf_w'] / 1e6:>8.1f} {st['shuf_r'] / 1e6:>8.1f}  "
              f"{names.get(sid, '?')[:60]}")


if __name__ == "__main__":
    main()
