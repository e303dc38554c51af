"""Piece-wise 2→8 scaling probe of the webe2esh pipeline stages.

Isolates which stage binds the end-to-end webe2esh scaling row in
BENCH/BASELINE.md: each stage is timed behind a persist+count barrier
on its input (so a stage's cell times ONLY its own work), in a fresh
JVM per cpus level, in tools/scaling_job.py's measurement session
(ActiveProcessorCount, pre-touched heap, tmpfs shuffle, 64 shuffle
partitions at every level) with broadcast joins disabled and the
broadcast ceilings at -1 (``regime.ceilings``) — the webe2esh
all-shuffle regime, so no stage runs resident.

Stages:
  extract   href mining (Arrow mapInPandas) -> raw link table
  dict      two-phase url dictionary over both endpoints
  probe     fingerprint collision probe (groupBy h + empty check)
  map       long-key url->vid mapping joins (the r4 plan)
  canon     canonicalize_edges_packed (symmetrize + dedupe on one
            packed int64 key — the pipeline's plan)
  orient    degree orientation
  tc        arrays triangle count

Usage: web_piecewise.py <cpus> [reps]   (prints one JSON line)
Driven by: for c in 2 8; do python tools/web_piecewise.py $c 2; done
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from scaling_job import SHUFFLE_PARTITIONS, fresh_jvm_session  # noqa: E402
from trianglecount_spark.functions.extract import extract_links  # noqa: E402
from trianglecount_spark.operators import regime  # noqa: E402
from trianglecount_spark.operators.canonicalize import (  # noqa: E402
    canonicalize_edges_packed,
    orient,
    vertex_dictionary_scalable,
)
from trianglecount_spark.operators.triangles import triangle_count_arrays  # noqa: E402
from trianglecount_spark.sources.pages import make_pages  # noqa: E402

N_PAGES, N_SITES = 2_400_000, 80_000


def main() -> None:
    cpus = int(sys.argv[1])
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    with fresh_jvm_session(
        f"web-piecewise-{cpus}",
        cpus,
        {"spark.sql.autoBroadcastJoinThreshold": "-1"},
    ) as spark, regime.ceilings(-1, -1):
        best = run_stages(spark, reps)
    print(json.dumps({"cpus": cpus, "pages": N_PAGES, "best": best}))


def run_stages(spark, reps: int) -> dict[str, float]:
    """Best-of-``reps`` seconds per stage (after one untimed warmup)."""
    pages = make_pages(
        spark, n_pages=N_PAGES, n_sites=N_SITES, n_partitions=SHUFFLE_PARTITIONS
    ).cache()
    pages.count()

    best: dict[str, float] = {}
    for _rep in range(reps + 1):  # rep 0 = untimed warmup
        cells: dict[str, float] = {}
        pinned = []

        def stage(name, fn):
            t0 = time.time()
            r = fn()
            cells[name] = round(time.time() - t0, 3)
            return r

        def pin(df):
            df = df.persist()
            df.count()
            pinned.append(df)
            return df

        raw = stage("extract", lambda: pin(extract_links(pages)))
        # one scan for both endpoints, as edges_from_pages builds it
        urls = raw.select(F.explode(F.array("src_url", "dst_url")).alias("url"))
        verts = stage(
            "dict", lambda: pin(vertex_dictionary_scalable(urls, "url"))
        )
        vh = verts.select(F.xxhash64("url").alias("h"), "url", "vid")
        dup = (
            vh.groupBy("h").agg(F.count("*").alias("c"))
            .where(F.col("c") > 1).select("h")
        )
        stage("probe", lambda: dup.limit(1).count())
        safe = vh.select("h", "vid")
        raw_h = raw.select(
            F.xxhash64("src_url").alias("hs"), F.xxhash64("dst_url").alias("hd")
        )
        edges = (
            raw_h.join(safe.withColumnRenamed("h", "hs"), "hs")
            .withColumnRenamed("vid", "src")
            .join(
                safe.withColumnRenamed("h", "hd").withColumnRenamed("vid", "dst"),
                "hd",
            )
            .select("src", "dst")
        )
        edges = stage("map", lambda: pin(edges))
        sym = stage("canon", lambda: pin(canonicalize_edges_packed(edges)))
        ori = stage("orient", lambda: pin(orient(sym)))
        stage("tc", lambda: triangle_count_arrays(ori))
        cells["total"] = round(sum(cells.values()), 3)
        for df in pinned:
            df.unpersist()
        if _rep > 0:
            for k, v in cells.items():
                best[k] = min(best.get(k, 1e18), v)
    return best


if __name__ == "__main__":
    main()
