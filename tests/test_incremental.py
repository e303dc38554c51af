"""Incremental streaming triangle maintenance == batch count."""

from pyspark.sql import functions as F

from tests.conftest import both_regimes
from trianglecount_spark.operators.canonicalize import canonicalize_edges, orient
from trianglecount_spark.operators.triangles import triangles_join
from trianglecount_spark.streaming.incremental import incremental_triangle_count


def _batch_triangles(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    return triangles_join(orient(canonicalize_edges(df))).count()


def test_incremental_equals_batch_k4_with_dupes(spark):
    # K4 with duplicate and reversed rows spread over batches
    edges = [(a, b) for a in range(4) for b in range(4) if a != b] + [(0, 1), (1, 0)]
    df = spark.createDataFrame(edges, "src long, dst long")
    row = incremental_triangle_count(spark, df, n_files=3).collect()[0]
    assert row.n_triangles == 4 == _batch_triangles(spark, edges)
    assert row.n_edges == 6
    assert row.n_batches >= 2  # genuinely incremental, not one batch


def test_incremental_removes_its_temp_dirs(spark, tmp_path, monkeypatch):
    # the staging copy, the stream checkpoint and the default state dir
    # are gone once the result row is back
    import os
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    df = spark.createDataFrame([(0, 1), (1, 2), (2, 0)], "src long, dst long")
    row = incremental_triangle_count(spark, df, n_files=2).collect()[0]
    assert row.n_triangles == 1
    assert not [e for e in os.listdir(tmp_path) if e.startswith("tc_inc_")]


def test_state_is_bucketed_and_reads_prune(spark, tmp_path):
    """The accumulated state is written as pb= directory partitions on
    pmod(xxhash64(v), B), and a batch-shaped read (pb IN literals) is
    PARTITION-PRUNED: inputFiles() lists only the touched buckets —
    the r2 verdict's per-trigger full-state-rescan is gone by layout."""
    import os

    edges = [(a, b) for a in range(6) for b in range(6) if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")
    state_dir = str(tmp_path / "state")
    os.makedirs(state_dir)
    row = incremental_triangle_count(
        spark, df, n_files=3, n_buckets=4, state_dir=state_dir
    ).collect()[0]
    assert row.n_triangles == 20  # C(6,3)
    adj_dir = os.path.join(state_dir, "adj")
    parts = sorted(e for e in os.listdir(adj_dir) if e.startswith("pb="))
    assert parts, "state must be pb= partitioned"
    # a pruned read touches only the requested buckets' files
    touched = [0, 2]
    pruned = (
        spark.read.schema("v long, w long, pb int")
        .parquet(adj_dir)
        .where(F.col("pb").isin(touched))
    )
    # plan-level: the literal IN predicate lands in PartitionFilters
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "pb" in plan.split("PartitionFilters")[1][:80], plan
    # runtime-level: only touched buckets' files are actually read
    files = [
        r[0] for r in pruned.select(F.input_file_name()).distinct().collect()
    ]
    assert files, "pruned read must still see the touched buckets"
    assert all(
        any(f"pb={t}/" in f for t in touched) for f in files
    ), files
    # and it is a strict subset when other buckets exist
    all_files = [
        r[0]
        for r in spark.read.schema("v long, w long, pb int")
        .parquet(adj_dir)
        .select(F.input_file_name())
        .distinct()
        .collect()
    ]
    if len(parts) > len(touched):
        assert len(files) < len(all_files)


def test_incremental_equals_batch_random(spark, monkeypatch):
    import numpy as np

    rng = np.random.default_rng(3)
    edges = [
        (int(a), int(b)) for a, b in rng.integers(0, 40, size=(300, 2)) if a != b
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    # the wedge joins broadcast under the ceilings, then shuffle
    rows = both_regimes(
        monkeypatch,
        lambda: incremental_triangle_count(spark, df, n_files=5).collect()[0],
    )
    want = _batch_triangles(spark, edges)
    sym = canonicalize_edges(spark.createDataFrame(edges, "src long, dst long"))
    for row in rows:
        assert row.n_triangles == want, (row, want)
        assert row.n_edges == sym.count() // 2
