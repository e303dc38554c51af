"""Hadoop-FileSystem-routed driver-side I/O for job artifacts.

The resumable pipeline (plans/pipeline.py) and the mid-iteration state
resume (operators/iterative.py) exchange stage data through parquet —
already cluster-correct — but their CONTROL artifacts (``_SUCCESS``
existence probes, fingerprint markers, ``tc.json``/``metrics.json``
sidecars) must live on the SAME filesystem as the parquet outputs, or
a cluster run with an HDFS/S3 ``out_dir`` silently degrades: markers
are never found, resume recomputes every stage, and sidecars land on
the driver's local disk divorced from the data (the r3 advisor
finding). These helpers route every such access through the Hadoop
FileSystem API via the JVM gateway — the path's scheme (``file:``,
``hdfs:``, ``s3a:``, …) picks the filesystem exactly as it does for
``spark.read``/``write``, so the identical invocation works locally
and under ``spark-submit`` against object storage.

Driver-side only. Most calls are one NameNode/S3 round-trip on
KB-sized artifacts. ``write_table`` is the one data-path call: a
result the driver already holds as an Arrow table (the resident
regime's, operators/iterative.py) is written as one parquet part file
plus ``_SUCCESS`` through the same API, streamed in bounded chunks,
instead of being shipped back into Spark only to be written by a job.
Distributed results still go through ``DataFrame.write``.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession

# bytes per py4j call of ``write_table``: a table near the row ceiling
# crosses to the JVM in pieces of this size, never as one byte array
CHUNK_BYTES = 4 << 20
PART_FILE = "part-00000.parquet"


def _fs_path(spark: SparkSession, path: str):
    jvm = spark._jvm  # noqa: SLF001
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    return fs, p


def exists(spark: SparkSession, path: str) -> bool:
    fs, p = _fs_path(spark, path)
    return bool(fs.exists(p))


def mkdirs(spark: SparkSession, path: str) -> None:
    fs, p = _fs_path(spark, path)
    fs.mkdirs(p)


def write_text(spark: SparkSession, path: str, text: str) -> None:
    """Atomic-enough single-writer small-file write (overwrite=True):
    the driver is the only writer of control artifacts, matching the
    single-committer discipline of the stage parquet writes."""
    fs, p = _fs_path(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def read_text(spark: SparkSession, path: str) -> str:
    fs, p = _fs_path(spark, path)
    jvm = spark._jvm  # noqa: SLF001
    stream = fs.open(p)
    try:
        reader = jvm.java.io.BufferedReader(
            jvm.java.io.InputStreamReader(stream, "UTF-8")
        )
        lines = []
        line = reader.readLine()
        while line is not None:
            lines.append(line)
            line = reader.readLine()
        return "\n".join(lines)
    finally:
        stream.close()


def delete(spark: SparkSession, path: str, recursive: bool = True) -> bool:
    """Recursive delete; False when the path does not exist. Used to
    clear stale iteration-state directories before re-stamping their
    fingerprint (plans/pipeline.py) — leftover ``round=N`` dirs under a
    fresh stamp would be silently resumed as the new graph's state."""
    fs, p = _fs_path(spark, path)
    if not fs.exists(p):
        return False
    return bool(fs.delete(p, recursive))


def list_names(spark: SparkSession, path: str) -> list[str]:
    """Child entry names of a directory ([] when it does not exist)."""
    fs, p = _fs_path(spark, path)
    if not fs.exists(p):
        return []
    return [st.getPath().getName() for st in fs.listStatus(p)]


class _ChunkedSink:
    """A write-only file object over a JVM output stream that hands the
    stream at most ``CHUNK_BYTES`` per call."""

    closed = False

    def __init__(self, out):
        self.out = out
        self.buf = bytearray()

    def write(self, data) -> int:
        self.buf += data
        # whole chunks leave in one pass, so a large write is shifted
        # out of the buffer once, not once per chunk
        whole = len(self.buf) - len(self.buf) % CHUNK_BYTES
        with memoryview(self.buf) as view:
            for i in range(0, whole, CHUNK_BYTES):
                self.out.write(bytearray(view[i : i + CHUNK_BYTES]))
        del self.buf[:whole]
        return len(data)

    def flush(self) -> None:
        if self.buf:
            self.out.write(self.buf)
            self.buf = bytearray()


def _write_part(fs, path, table: pa.Table) -> None:
    out = fs.create(path, True)
    try:
        sink = _ChunkedSink(out)
        pq.write_table(table, sink)
        sink.flush()
    finally:
        out.close()


def write_table(spark: SparkSession, path: str, table: pa.Table) -> None:
    """``table`` as the parquet directory ``path``: ``mode("overwrite")``
    semantics (the old directory is deleted first), then one
    ``part-00000.parquet``, then ``_SUCCESS`` — the marker comes last,
    as with Spark's committer, so a crash in between leaves a directory
    that resume ignores. The path's Hadoop FileSystem does the I/O, so
    ``hdfs:``/``s3a:``/``file:`` directories work alike. Column types
    are the table's, so it should already carry the Arrow form of the
    Spark schema (``iterative.local_frame`` casts to it)."""
    fs, p = _fs_path(spark, path)
    fs.delete(p, True)
    fs.mkdirs(p)
    path_cls = spark._jvm.org.apache.hadoop.fs.Path  # noqa: SLF001
    _write_part(fs, path_cls(p, PART_FILE), table)
    fs.create(path_cls(p, "_SUCCESS"), True).close()
