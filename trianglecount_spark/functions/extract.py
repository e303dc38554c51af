"""HTML → text / href extraction as vectorized pandas transforms.

The reference pipeline starts from edge-list files; our engine's native
input is the pages table (BASELINE.json input_hint), so the first
operator is mining ``edges(src_url, dst_url)`` out of ``html:binary``
and extracting the canonical ``text`` — both as Arrow-batched
``mapInPandas`` transforms ("no per-row Python" invariant: the regex
work runs on whole pandas Series per batch, one Python↔JVM crossing per
Arrow batch, never per row).

Extraction rules (co-designed with sources/pages.py so the ``text``
column is reproduced byte-identically — the per-row invariant vs the
reference):
- text     = <title> content + "\\n" + first <p> content
- links    = every double-quoted href: absolute ``http(s)://...`` kept
             as-is; root-relative ``/path`` resolved against the page's
             scheme+host; anything else (empty, single-quoted, missing,
             root-relative on a page with no http(s) origin, any link
             of a page with a null url) skipped, so no mined endpoint
             is null
- self-links survive extraction (the graph canonicalizer drops them —
  that separation mirrors the reference, where parsing and cleaning are
  distinct stages: without_part_preprocess.py:126-177 vs :193-208)
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from trianglecount_spark.operators import regime
from trianglecount_spark.operators.iterative import local_frame

_TITLE_RE = re.compile(r"<title>(.*?)</title>", re.S)
_PARA_RE = re.compile(r"<p>(.*?)</p>", re.S)
_HREF_RE = re.compile(r'href="([^"]*)"')
_ORIGIN_RE = re.compile(r"^(https?://[^/]+)")


def _decode(html: pd.Series) -> pd.Series:
    return html.map(lambda b: b.decode("utf-8", errors="replace"))


def extract_text_pdf(html: pd.Series) -> pd.Series:
    s = _decode(html)
    title = s.str.extract(_TITLE_RE, expand=False).fillna("")
    para = s.str.extract(_PARA_RE, expand=False).fillna("")
    return title + "\n" + para


def extract_text(pages: DataFrame) -> DataFrame:
    """pages → (url, text) with the byte-identical extraction rule."""

    def run(it):
        for pdf in it:
            yield pd.DataFrame(
                {"url": pdf["url"], "text": extract_text_pdf(pdf["html"])}
            )

    return pages.select("url", "html").mapInPandas(run, schema="url string, text string")


def _resolve(urls: pd.Series, hrefs: pd.Series) -> tuple[pd.Series, pd.Series, pd.Series]:
    """Each href (indexed by its page's row in ``urls``) as ``(src,
    dst, keep)``: the page url, the resolved target, and whether the
    link is mined. An absolute href is its own target; a root-relative
    one is resolved against the page's ``http(s)://`` origin. Every
    other href, and any link of a page with a null url, is skipped, so
    no mined link has a null endpoint."""
    src = urls.reindex(hrefs.index)
    origin = src.str.extract(_ORIGIN_RE, expand=False)
    absolute = hrefs.str.match(r"https?://")
    rootrel = hrefs.str.startswith("/")
    dst = hrefs.where(absolute, other=(origin + hrefs).where(rootrel))
    return src, dst, src.notna() & dst.notna()


def extract_links(pages: DataFrame) -> DataFrame:
    """pages → edges_raw(src_url, dst_url); duplicates/self-links kept
    (canonicalization is a separate operator)."""

    def run(it):
        for pdf in it:
            s = _decode(pdf["html"])
            # findall per page, vectorized via extractall on the batch
            hrefs = s.str.extractall(_HREF_RE)
            if hrefs.empty:
                yield pd.DataFrame({"src_url": [], "dst_url": []}).astype(
                    {"src_url": "string", "dst_url": "string"}
                )
                continue
            hrefs = hrefs.reset_index(level=1, drop=True)[0]
            src, dst, keep = _resolve(pdf["url"], hrefs)
            yield pd.DataFrame(
                {"src_url": src[keep].values, "dst_url": dst[keep].values}
            )

    return pages.select("url", "html").mapInPandas(
        run, schema="src_url string, dst_url string"
    )


_ATAG_RE = re.compile(r'<a href="([^"]*)"[^>]*>([^<]*)</a>')


def extract_links_text(pages: DataFrame) -> DataFrame:
    """pages → (src_url, dst_url, anchor): like ``extract_links`` but
    paired with each link's anchor text — the classic web-search
    relevance signal (anchor text describes the TARGET page). Same
    Arrow-batched vectorized-regex shape and the same href resolution
    rules; only well-formed ``<a href="...">text</a>`` tags qualify
    (the bare-href form has no anchor to pair)."""

    def run(it):
        for pdf in it:
            s = _decode(pdf["html"])
            m = s.str.extractall(_ATAG_RE)
            if m.empty:
                yield pd.DataFrame(
                    {"src_url": [], "dst_url": [], "anchor": []}
                ).astype("string")
                continue
            m = m.reset_index(level=1, drop=True)
            hrefs, anchors = m[0], m[1]
            src, dst, keep = _resolve(pdf["url"], hrefs)
            yield pd.DataFrame(
                {
                    "src_url": src[keep].values,
                    "dst_url": dst[keep].values,
                    "anchor": anchors[keep].values,
                }
            )

    return pages.select("url", "html").mapInPandas(
        run, schema="src_url string, dst_url string, anchor string"
    )


# mined links up to which the url dictionary is built on the driver.
# Past it the driver-side dictionary loses to the distributed plan
# although the links fit the ceilings: its collect, its one-threaded
# Arrow work and the shipping of its local frames grow with the links,
# while the plan's fixed cost of about ten small jobs is spread over
# the cores (tools/resident_crossover.py pagesNk, warm local[4], median
# of 3: about 120k links 1.61 vs 1.81 s, 240k 2.25 vs 1.97 s, 960k
# 7.68 vs 3.73 s).
RESIDENT_LINKS = 150_000

_EDGES = StructType([StructField("src", LongType()), StructField("dst", LongType())])
_VERTICES = StructType([StructField("url", StringType()), StructField("vid", LongType())])


def edges_from_pages(
    pages: DataFrame, handles: list | None = None
) -> tuple[DataFrame, DataFrame]:
    """Full mining pipeline: pages → (src:vid, dst:vid) long-id edge list
    + the url dictionary. Returns (edges, vertices).

    The dictionary covers both link endpoints (a dst_url may point at a
    page outside the crawl — it still becomes a vertex, mirroring how a
    real web graph has edges into uncrawled urls). Its vids are the
    urls' sorted ranks in Spark's binary UTF-8 order, dense from 0 (the
    reference's DGL relabeling, SURVEY.md §1.1 step 4), in either
    regime:

    - RESIDENT while the mined links fit, by the builder rule of
      ``regime.collect_if_fits`` (the dictionary can hold both
      endpoints of every row): twice Catalyst's estimate of the
      persisted links under ``regime.BYTE_LIMIT``, never a
      ``count()``, then one ``toArrow()`` bounded by rows, not by the
      estimate (a generated crawl's estimate can be far below its
      links), declined once more than ``min(ROW_LIMIT // 2,
      RESIDENT_LINKS)`` come back; ``RESIDENT_LINKS`` is the measured
      crossover. The miner stays the ``mapInPandas`` UDF. The
      dictionary is then built in Arrow — ``unique`` of both columns,
      sorted bytewise, ``index_in`` for each endpoint — and returned
      as two local frames
      (``iterative.local_frame``: exact estimates, no job). The
      reference relabels on the device that holds the edge list; here
      the driver does, and a fitting job runs no dictionary or mapping
      shuffle. ``handles`` gets nothing.
    - DISTRIBUTED otherwise: the plan below, over the same persisted
      mined links (a declined collect has filled their cache, so the
      miner runs once), whose persisted frames go to ``handles``.

    The distributed plan uses the two-phase ``vertex_dictionary_scalable``
    (range partition + per-partition numbering + offset cumsum): same
    key → sorted-rank mapping as the window form, but no single-task
    global window — the r1 flagship path funneled 10^12 urls through
    one task here.

    LONG-KEY MAPPING JOINS (r4): the url→vid mapping joins are the
    pipeline's dominant shuffle (E rows × two endpoints), and shuffling
    url STRINGS through them was the measured scaling bottleneck (2→8
    core efficiency 0.71 for the mapping piece alone vs 0.97 for the
    long-keyed orientation — sort-merge cost scales with key bytes).
    They now shuffle fixed-width ``xxhash64(url)`` fingerprints with a
    per-key collision fallback, exact at ANY scale:

    - ``dup`` = fingerprints shared by >1 distinct url. At 10^12 urls
      the birthday bound expects ~n²/2^65 ≈ tens of thousands of
      colliding urls — nonzero, so a check-and-fail would be wrong at
      exactly the target scale; instead collisions get a correct slow
      path. ``dup`` is bounded by that birthday math (a design
      invariant, not a data-scale property), hence the EXPLICIT
      broadcast hints below — correct even in the all-shuffle regime
      where ``spark.sql.autoBroadcastJoinThreshold=-1``.
    - clean rows (no endpoint fingerprint in ``dup`` — ~all of them)
      drop their url strings BEFORE the shuffle and map both endpoints
      via long-only joins against the collision-free dictionary slice.
    - dirty rows (either endpoint collides) keep their strings and map
      through the exact string-keyed joins; the dirty side is
      broadcast-hinted (it is collision-sized), so no large string
      shuffle exists anywhere in the plan.

    Output is bit-identical to the string-joined form: same vids, same
    multiset of edges (the driver gate checks all web_* queries
    against string-keyed DuckDB oracles)."""
    from trianglecount_spark.operators.canonicalize import vertex_dictionary_scalable

    # the mined link table is referenced three times downstream (the url
    # scan + two mapping joins), and first by the resident collect;
    # persist it so the HTML extractor runs ONCE — at crawl scale this
    # table is materialized to storage anyway
    raw = extract_links(pages).persist()
    t = regime.collect_if_fits(raw, max_rows=RESIDENT_LINKS)
    if t is not None:
        raw.unpersist()
        return _resident_edges(raw.sparkSession, t)
    if handles is not None:
        # caller-managed cleanup: repeated invocations (bench reps,
        # scaling harness) unpersist these instead of stacking blocks
        handles.append(raw)
    # ONE scan of raw for both endpoints: a union of two scans lets AQE
    # run both branches at once, each filling the persisted raw — i.e.
    # the extractor twice, concurrently
    urls = raw.select(F.explode(F.array("src_url", "dst_url")).alias("url"))
    # the mapping joins against BOTH edge endpoints below — persist so the
    # offset lookup over the (already persisted) numbering runs once
    vertices = vertex_dictionary_scalable(urls, "url").persist()
    if handles is not None:
        handles.append(vertices)

    vh = vertices.select(F.xxhash64("url").alias("h"), "url", "vid")
    # fingerprints carried by >1 dictionary url (urls are distinct by
    # construction, so count(*)>1 ⇔ a true 64-bit collision). Tiny by
    # the birthday bound; persisted because it anchors three joins.
    dup = (
        vh.groupBy("h")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") > 1)
        .select("h")
        .persist()
    )
    if handles is not None:
        handles.append(dup)
    # One driver probe of the (tiny, persisted) collision set. The
    # common no-collision case takes a plan with ZERO broadcast
    # exchanges: every forced broadcast is a driver collect — a serial
    # term the all-shuffle scaling regime cannot parallelize (measured:
    # the unconditioned split plan's three broadcasts cost the hi
    # parallelism level ~10% while the fallback they fed was empty).
    # The probe itself materializes raw/vertices, which every caller
    # does next anyway.
    if dup.limit(1).count() == 0:
        safe = vh.select("h", "vid")
        raw_h = raw.select(
            F.xxhash64("src_url").alias("hs"),
            F.xxhash64("dst_url").alias("hd"),
        )
        e = (
            raw_h.join(safe.withColumnRenamed("h", "hs"), "hs")
            .withColumnRenamed("vid", "src")
            .join(
                safe.withColumnRenamed("h", "hd").withColumnRenamed("vid", "dst"),
                "hd",
            )
            .select("src", "dst")
        )
    else:
        e = _map_edges_longkey(raw, vertices, dup)
    return e, vertices


def _resident_edges(spark: SparkSession, t: pa.Table) -> tuple[DataFrame, DataFrame]:
    """The resident regime of ``edges_from_pages`` over the collected
    mined links ``t``. Arrow sorts strings bytewise, which is UTF-8
    byte order, the order Spark sorts them in; the urls are distinct,
    so ranks are unique."""
    src, dst = t.column("src_url"), t.column("dst_url")
    urls = pc.unique(pa.chunked_array(src.chunks + dst.chunks, type=src.type))
    urls = urls.take(pc.array_sort_indices(urls))

    def vids(col: pa.ChunkedArray) -> np.ndarray:
        return pc.index_in(col, value_set=urls).to_numpy().astype(np.int64)

    return (
        local_frame(spark, _EDGES, [vids(src), vids(dst)]),
        local_frame(spark, _VERTICES, [urls, np.arange(len(urls), dtype=np.int64)]),
    )


def _map_edges_longkey(
    raw: DataFrame, vertices: DataFrame, dup: DataFrame
) -> DataFrame:
    """The split-plan url→vid mapping of ``edges_from_pages`` (see its
    docstring for the regime analysis). Factored out so the collision
    fallback is testable: the dirty path must be exact for ANY ``dup``
    set — a fingerprint falsely marked as colliding merely routes its
    rows through the (exact) string joins, so output is invariant under
    ``dup`` supersets; ``tests/test_extract.py`` asserts this by
    injecting synthetic dup sets (true 64-bit collisions can't be
    crafted from real urls)."""
    vh = vertices.select(F.xxhash64("url").alias("h"), "url", "vid")
    # broadcast anti-join: dup is collision-sized, so the dictionary
    # slice is filtered in place — no V-row shuffle for the exclusion
    safe = vh.join(F.broadcast(dup), "h", "left_anti").select("h", "vid")

    raw_h = raw.select(
        "src_url",
        "dst_url",
        F.xxhash64("src_url").alias("hs"),
        F.xxhash64("dst_url").alias("hd"),
    )
    marked = raw_h.join(
        F.broadcast(dup.select(F.col("h").alias("hs"), F.lit(True).alias("amb_s"))),
        "hs",
        "left",
    ).join(
        F.broadcast(dup.select(F.col("h").alias("hd"), F.lit(True).alias("amb_d"))),
        "hd",
        "left",
    )
    # dominant path: strings dropped before the shuffle — only int64
    # fingerprints cross the wire for the two E-row mapping joins
    clean = marked.where(
        F.col("amb_s").isNull() & F.col("amb_d").isNull()
    ).select("hs", "hd")
    e_clean = (
        clean.join(safe.withColumnRenamed("h", "hs"), "hs")
        .withColumnRenamed("vid", "src")
        .join(
            safe.withColumnRenamed("h", "hd").withColumnRenamed("vid", "dst"),
            "hd",
        )
        .select("src", "dst")
    )
    # collision fallback: exact string-keyed mapping for the handful of
    # rows touching a colliding fingerprint (either endpoint — the
    # other endpoint maps correctly through the full dictionary too)
    dirty = marked.where(
        F.col("amb_s").isNotNull() | F.col("amb_d").isNotNull()
    ).select("src_url", "dst_url")
    e_dirty = (
        F.broadcast(dirty)
        .join(vertices.withColumnRenamed("url", "src_url"), "src_url")
        .withColumnRenamed("vid", "src")
    )
    e_dirty = (
        F.broadcast(e_dirty)
        .join(
            vertices.withColumnRenamed("url", "dst_url").withColumnRenamed("vid", "dst"),
            "dst_url",
        )
        .select("src", "dst")
    )
    return e_clean.unionByName(e_dirty)


def remove_boilerplate_lines(pages: DataFrame, min_pages: int = 2) -> DataFrame:
    """Line-frequency boilerplate removal (the CCNet/C4 preprocessing
    step): split each page's html into lines, compute each line's
    document frequency WITHIN ITS HOST, and drop lines appearing on
    more than half the host's pages (nav bars, footers, template
    chrome — shared across a site but meaningless per page). Output
    ``url, n_lines, n_kept, clean_text``.

    Scale shape: one posexplode (JVM, no Python), one (host, line)
    hash agg for the df table and one (host) agg for page counts —
    both shuffle on the host-prefixed key, so a site's lines colocate;
    per-host skew is bounded because a single host's line vocabulary
    is tiny relative to the corpus. The keep test is exact integer
    arithmetic (2·df <= n_pages) and line order is restored with an
    array_sort over (pos, line) structs — never a global window."""
    txt = pages.select("url", F.decode(F.col("html"), "utf-8").alias("h"))
    host = F.regexp_extract("url", r"^https?://([^/]+)", 1)
    lines = txt.select(
        "url",
        host.alias("host"),
        F.posexplode(F.split("h", "\n")).alias("pos", "line"),
    )
    per_host = (
        lines.select("host", "url")
        .distinct()
        .groupBy("host")
        .agg(F.count("*").alias("n_pages"))
    )
    ldf = (
        lines.select("host", "line", "url")
        .distinct()
        .groupBy("host", "line")
        .agg(F.count("*").alias("df"))
    )
    tot = lines.groupBy("url").agg(F.count("*").cast("long").alias("n_lines"))
    kept = (
        lines.join(ldf, ["host", "line"])
        .join(per_host, "host")
        .where(
            (F.col("df") * 2 <= F.col("n_pages"))
            | (F.col("n_pages") < F.lit(min_pages))
        )
        .groupBy("url")
        .agg(
            F.count("*").cast("long").alias("n_kept"),
            F.expr(
                "concat_ws('\n', transform(array_sort(collect_list("
                "struct(pos, line))), s -> s.line))"
            ).alias("clean_text"),
        )
    )
    return tot.join(kept, "url", "left").select(
        "url",
        "n_lines",
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )
