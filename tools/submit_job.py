"""Cluster entry point: run the engine's graph algorithms via spark-submit.

    zip -r trianglecount_spark.zip trianglecount_spark
    spark-submit --py-files trianglecount_spark.zip tools/submit_job.py \
        --edges s3://bucket/edges.parquet --algo pagerank \
        --checkpoint-dir hdfs:///tmp/pr_state --resume \
        --output hdfs:///out/ranks

On a cluster the session comes from spark-submit's conf (master, executor
sizing); this script only sets the engine confs that shape plans (AQE,
Arrow — session.ENGINE_CONFS). ``--algo`` one of:
  tc         triangle count (arrays strategy + per-vertex counts)
  tc-kernel  reference-faithful partitioned CSR kernel (salted hubs)
  pagerank   damping 0.85, missing-mass closure, checkpointed
  cc         connected components (large-star/small-star)
  lpa        synchronous deterministic label propagation
  mine       pages parquet/Iceberg table → mined edge list (href
             extraction; input must have url:string, html:binary)
  pipeline   the resumable end-to-end job (plans/pipeline.py): pages →
             edges → TC + PageRank + CC + LPA, stage outputs + a
             metrics.json under --output; re-runs skip finished stages

Iterative algos write per-round parquet state under --checkpoint-dir and
emit an iteration-metrics JSON next to the output (the per-partition
lineage + metrics artifact from the north_rule); --resume picks up the
latest round.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F  # noqa: E402

from trianglecount_spark.session import ENGINE_CONFS  # noqa: E402


def build_session(app: str) -> SparkSession:
    b = SparkSession.builder.appName(app)
    for k, v in ENGINE_CONFS.items():
        b = b.config(k, v)
    return b.getOrCreate()


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--edges", help="parquet/Iceberg path of (src,dst) edges")
    p.add_argument("--pages", help="parquet/Iceberg path of pages (for --algo mine)")
    p.add_argument(
        "--algo", required=True,
        choices=["tc", "tc-kernel", "pagerank", "cc", "lpa", "mine", "pipeline"],
    )
    p.add_argument("--output", required=True)
    p.add_argument("--checkpoint-dir")
    p.add_argument("--resume", action="store_true")
    p.add_argument("--max-iter", type=int, default=100)
    p.add_argument("--tol", type=float, default=1e-9)
    args = p.parse_args()

    spark = build_session(f"tc-spark-{args.algo}")
    from trianglecount_spark.functions.extract import edges_from_pages
    from trianglecount_spark.operators.canonicalize import canonicalize_edges, orient
    from trianglecount_spark.operators.components import connected_components
    from trianglecount_spark.operators.lpa import label_propagation
    from trianglecount_spark.operators.pagerank import pagerank
    from trianglecount_spark.operators.triangles import (
        triangles_per_vertex_arrays,
        triangles_per_vertex_kernel,
    )

    log = None
    if args.algo == "pipeline":
        from trianglecount_spark.plans.pipeline import run_pipeline

        pages = spark.read.parquet(args.pages)
        m = run_pipeline(
            spark, pages, args.output,
            pr_rounds=args.max_iter, resume=args.resume,
        )
        print(m)
        return
    if args.algo == "mine":
        pages = spark.read.parquet(args.pages)
        edges, verts = edges_from_pages(pages)
        edges.write.mode("overwrite").parquet(args.output)
        verts.write.mode("overwrite").parquet(args.output.rstrip("/") + "_vertices")
        return

    raw = spark.read.parquet(args.edges)
    sym = canonicalize_edges(raw).cache()
    if args.algo in ("tc", "tc-kernel"):
        oriented = orient(sym).cache()
        pv = (
            triangles_per_vertex_arrays(oriented)
            if args.algo == "tc"
            else triangles_per_vertex_kernel(oriented)
        )
        pv.write.mode("overwrite").parquet(args.output)
        total = pv.agg(F.coalesce(F.sum("tri"), F.lit(0))).collect()[0][0]
        print(f"triangles: {total}")
    elif args.algo == "pagerank":
        ranks, log = pagerank(
            sym, tol=args.tol, max_iter=args.max_iter,
            state_dir=args.checkpoint_dir, resume=args.resume,
        )
        ranks.write.mode("overwrite").parquet(args.output)
    elif args.algo == "cc":
        comp, log = connected_components(
            sym, max_iter=args.max_iter,
            state_dir=args.checkpoint_dir, resume=args.resume,
        )
        comp.write.mode("overwrite").parquet(args.output)
    elif args.algo == "lpa":
        labels, log = label_propagation(
            sym, max_iter=args.max_iter,
            state_dir=args.checkpoint_dir, resume=args.resume,
        )
        labels.write.mode("overwrite").parquet(args.output)
    if log is not None:
        log.dump(spark, args.output.rstrip("/") + "_metrics.json")


if __name__ == "__main__":
    main()
