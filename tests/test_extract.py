from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType, StructField, StructType

from trianglecount_spark.functions.extract import edges_from_pages, extract_links, extract_text
from trianglecount_spark.operators import (
    canonicalize_edges,
    orient,
    regime,
    triangle_count_join,
    triangle_count_kernel,
)
from trianglecount_spark.operators.iterative import local_frame
from trianglecount_spark.sources.pages import make_pages

_PAGES = StructType([StructField("url", StringType()), StructField("html", BinaryType())])


def _pages(spark, links):
    """A pages frame with a size estimate (a local relation), one page
    per ``(url, [href, ...])``, each href in an ``<a>`` tag."""
    urls = [u for u, _ in links]
    html = [
        "".join(f'<a href="{h}">{i}</a>' for i, h in enumerate(hrefs)).encode()
        for _, hrefs in links
    ]
    return local_frame(spark, _PAGES, [urls, html])


def _mined(edges, vertices):
    """(sorted edge list, url → vid) of an ``edges_from_pages`` result."""
    return (
        sorted((r.src, r.dst) for r in edges.collect()),
        {r.url: r.vid for r in vertices.collect()},
    )


def test_text_extraction_byte_identical(spark):
    # the per-row invariant from BASELINE.json input_hint: extracted text
    # must be byte-identical to the golden text column for every url
    pages = make_pages(spark, n_pages=64, n_sites=8, seed=42)
    got = extract_text(pages)
    mismatches = (
        pages.select("url", F.col("text").alias("golden"))
        .join(got, "url")
        .where(F.col("golden") != F.col("text"))
        .count()
    )
    assert mismatches == 0
    assert got.count() == 64


def test_pages_deterministic_and_partition_independent(spark):
    a = make_pages(spark, n_pages=32, n_sites=4, seed=42, n_partitions=1)
    b = make_pages(spark, n_pages=32, n_sites=4, seed=42, n_partitions=8)
    ra = sorted((r.url, bytes(r.html), r.text, r.lang) for r in a.collect())
    rb = sorted((r.url, bytes(r.html), r.text, r.lang) for r in b.collect())
    assert ra == rb


def test_link_extraction_rules(spark):
    pages = make_pages(spark, n_pages=8, n_sites=2, seed=7)
    links = extract_links(pages)
    rows = links.collect()
    assert len(rows) > 0
    for r in rows:
        # all resolved links are absolute and well-formed
        assert r.dst_url.startswith("https://site"), r
    # the planted self-link survives mining (dropped later by canonicalize)
    self_links = [r for r in rows if r.src_url == r.dst_url]
    assert len(self_links) >= 8  # one per page


def test_pages_to_triangles_end_to_end(spark):
    pages = make_pages(spark, n_pages=96, n_sites=8, seed=42)
    edges, vertices = edges_from_pages(pages)
    o = orient(canonicalize_edges(edges))
    t_join = triangle_count_join(o)
    t_kernel = triangle_count_kernel(o, n_parts=4, salt_threshold=8, n_salts=4)
    assert t_join == t_kernel
    assert t_join > 0  # power-law graph with hubs closes triangles
    # dictionary is deterministic: rerunning yields identical vids
    edges2, vertices2 = edges_from_pages(pages)
    d1 = {r.url: r.vid for r in vertices.collect()}
    d2 = {r.url: r.vid for r in vertices2.collect()}
    assert d1 == d2


def test_longkey_mapping_collision_fallback(spark):
    # The r4 long-key mapping joins shuffle xxhash64 fingerprints with a
    # per-key string-join fallback for colliding fingerprints. True
    # 64-bit collisions can't be crafted from real urls, so assert the
    # fallback's exactness contract directly: the edge output must be
    # invariant under ANY injected dup set — fingerprints falsely
    # marked as colliding just route their rows through the exact
    # string path.
    from trianglecount_spark.functions.extract import _map_edges_longkey

    pages = make_pages(spark, n_pages=64, n_sites=8, seed=11)
    raw = extract_links(pages).persist()
    from trianglecount_spark.operators.canonicalize import vertex_dictionary_scalable

    urls = raw.select(F.col("src_url").alias("url")).unionByName(
        raw.select(F.col("dst_url").alias("url"))
    )
    vertices = vertex_dictionary_scalable(urls, "url").persist()
    vh = vertices.select(F.xxhash64("url").alias("h"))
    empty_dup = vh.limit(0)
    golden = sorted(
        (r.src, r.dst)
        for r in _map_edges_longkey(raw, vertices, empty_dup).collect()
    )
    assert golden  # non-trivial graph
    # no true collisions on this fixture → clean path covers everything
    assert vh.groupBy("h").count().where("count > 1").count() == 0
    for frac in (0.25, 1.0):  # partial and total fallback routing
        fake_dup = vh.where(F.pmod(F.abs("h"), F.lit(4)) < int(frac * 4)).select("h")
        got = sorted(
            (r.src, r.dst)
            for r in _map_edges_longkey(raw, vertices, fake_dup).collect()
        )
        assert got == golden, f"fallback not exact at dup fraction {frac}"
    raw.unpersist()
    vertices.unpersist()


def test_mined_links_never_have_a_null_endpoint(spark):
    # a root-relative href on a page with no http(s) origin has no
    # target, and a page with a null url no source: both links are
    # skipped by both miners, so no url dictionary gets a null vertex
    from trianglecount_spark.functions.extract import extract_links_text

    pages = _pages(
        spark,
        [
            ("ftp://c/z", ["/rel", "https://x.example/abs"]),
            (None, ["https://y.example/", "/n"]),
            ("https://h.example/p", ["/q"]),
        ],
    )
    want = {
        ("ftp://c/z", "https://x.example/abs"),
        ("https://h.example/p", "https://h.example/q"),
    }
    assert {(r.src_url, r.dst_url) for r in extract_links(pages).collect()} == want
    assert {
        (r.src_url, r.dst_url) for r in extract_links_text(pages).collect()
    } == want
    urls = sorted({u for link in want for u in link})
    resident = _mined(*edges_from_pages(pages))
    with regime.ceilings(-1, -1):
        distributed = _mined(*edges_from_pages(pages))
    assert resident == distributed == (
        [(0, 3), (1, 2)], {u: i for i, u in enumerate(urls)}
    )


def test_edges_from_pages_regime_parity(spark):
    """The resident dictionary (Arrow, on the driver) equals the
    distributed plan's: the same url → vid ranks in UTF-8 byte order and
    the same edge multiset, on urls where other orders disagree —
    2-, 3- and 4-byte UTF-8 (UTF-16 puts the emoji before the fullwidth
    ``ａ``), mixed case, prefix-sharing — and on pages with no links."""
    urls = [
        "https://b.com/",
        "https://b.com/e",
        "https://B.com/",
        "https://a.com/é",
        "https://a.com/ａ",
        "https://a.com/😀",
        "https://a.com/Z",
        "https://a.com/z",
    ]
    links = [
        (u, [urls[(i + 1) % len(urls)], urls[(i + 3) % len(urls)], "/é", u])
        for i, u in enumerate(urls)
    ] + [("https://a.com/z", ["https://c.com/ß", "https://b.com/e"])]
    no_links = [(u, []) for u in urls]
    mined = {}
    for name, page_set in (("links", links), ("no_links", no_links)):
        pages = _pages(spark, page_set)
        # only the distributed plan persists frames for the caller
        res_handles, dis_handles = [], []
        resident = edges_from_pages(pages, handles=res_handles)
        with regime.ceilings(-1, -1):
            distributed = edges_from_pages(pages, handles=dis_handles)
        assert res_handles == [] and dis_handles
        mined[name] = _mined(*resident)
        assert mined[name] == _mined(*distributed)
        for h in dis_handles:
            h.unpersist()
    assert mined["no_links"] == ([], {})
    edges, dictionary = mined["links"]
    assert len(edges) == 4 * len(urls) + 2
    assert dictionary == {
        u: i for i, u in enumerate(sorted(dictionary, key=lambda u: u.encode()))
    }
    # the byte order really differs from UTF-16's here
    assert dictionary["https://a.com/ａ"] < dictionary["https://a.com/😀"]


def test_links_over_the_row_ceiling_are_mined_once(spark, monkeypatch):
    """A generated crawl's size estimate (Range → ``mapInPandas``) is
    far below its mined links, so only the row bounds stop the
    resident path: the collect brings back at most ``ROW_LIMIT // 2 +
    1`` rows, declines, and the distributed plan runs over the links
    that collect persisted — the miner runs once, and the result is the
    resident one. ``RESIDENT_LINKS`` bounds the collect the same way."""
    from trianglecount_spark.functions import extract

    pages = make_pages(spark, n_pages=200, n_sites=10, n_partitions=2)
    handles: list = []
    want = _mined(*edges_from_pages(pages, handles=handles))
    assert handles == []
    n_links = len(want[0])

    mined_rows = spark.sparkContext.accumulator(0)
    mine = extract.extract_links

    def counted(pages):
        def run(batches):
            for pdf in batches:
                mined_rows.add(len(pdf))
                yield pdf

        return mine(pages).mapInPandas(run, schema="src_url string, dst_url string")

    monkeypatch.setattr(extract, "extract_links", counted)
    with regime.ceilings(regime.BYTE_LIMIT, n_links // 2):
        # the gate reads the persisted links, whose estimate (before
        # the cache fills) is the generator's, and lets it through
        links = counted(pages).persist()
        assert 2 * regime.estimated_bytes(links) <= regime.BYTE_LIMIT
        links.unpersist()
        e, vertices = edges_from_pages(pages, handles=handles)
    assert handles
    assert _mined(e, vertices) == want
    for h in handles:
        h.unpersist()
    assert mined_rows.value == n_links
    # the dictionary's own crossover declines the same way
    monkeypatch.setattr(extract, "RESIDENT_LINKS", n_links - 1)
    handles = []
    assert _mined(*edges_from_pages(pages, handles=handles)) == want
    assert handles
    for h in handles:
        h.unpersist()


def test_url_canonicalization_rules(spark):
    # each rule alone, plus stacked rules, against hand-written expectations
    from trianglecount_spark.functions.urlnorm import canonical_url, messy_variant

    cases = [
        ("http://example.com/a#frag", "http://example.com/a"),
        ("http://example.com/a?utm_source=x&utm_medium=y", "http://example.com/a"),
        ("http://example.com/a?id=1&utm_source=x", "http://example.com/a?id=1"),
        ("HTTP://EXAMPLE.COM/PathStays", "http://example.com/PathStays"),
        ("https://example.com:443/a", "https://example.com/a"),
        ("http://example.com:80/a", "http://example.com/a"),
        ("http://example.com:8080/a", "http://example.com:8080/a"),
        ("http://example.com/a/", "http://example.com/a"),
        ("HTTPS://Ex.COM:443/p/?utm_campaign=z#top", "https://ex.com/p"),
    ]
    df = spark.createDataFrame([(m,) for m, _ in cases], ["u"])
    got = {r["u"]: r["c"] for r in df.select("u", canonical_url("u").alias("c")).collect()}
    for messy, want in cases:
        assert got[messy] == want, (messy, got[messy], want)

    # messy_variant must be canonicalization-invariant: canon(messy(u)) == canon(u)
    clean = spark.createDataFrame(
        [(f"https://site{i}.example/p/{i}",) for i in range(64)], ["u"]
    )
    bad = (
        clean.select(
            canonical_url("u").alias("a"),
            canonical_url(messy_variant("u")).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .count()
    )
    assert bad == 0


def test_extract_links_text_pairs(spark):
    from trianglecount_spark.functions.extract import extract_links_text

    html = (
        '<html><body>'
        '<a href="https://x.example/abs">Absolute Link</a>'
        '<a href="/rel" class="c">rel text</a>'
        '<a href=>broken</a><a>nohref</a>'
        "<a href='/sq'>single-quoted</a>"
        '<a href="">empty</a>'
        "</body></html>"
    ).encode()
    pages = spark.createDataFrame(
        [("https://host.example/page", bytearray(html))], "url string, html binary"
    )
    got = {
        (r.dst_url, r.anchor): 1 for r in extract_links_text(pages).collect()
    }
    assert got == {
        ("https://x.example/abs", "Absolute Link"): 1,
        ("https://host.example/rel", "rel text"): 1,
    }


def test_remove_boilerplate_lines(spark):
    from trianglecount_spark.functions.extract import remove_boilerplate_lines

    def page(url, *lines):
        return (url, "\n".join(lines).encode("utf-8"))

    pages = spark.createDataFrame(
        [
            page("https://a.example/1", "unique one", "FOOTER", "nav"),
            page("https://a.example/2", "unique two", "FOOTER", "nav"),
            page("https://a.example/3", "unique three", "FOOTER"),
            page("https://a.example/4", "unique four", "extra"),
            # single-page host: nothing is boilerplate by definition
            page("https://b.example/1", "solo", "FOOTER"),
        ],
        "url string, html binary",
    )
    got = {r.url: r for r in remove_boilerplate_lines(pages).collect()}
    # FOOTER on 3/4 of host a (>1/2) -> dropped; nav on 2/4 (=1/2) -> kept
    assert got["https://a.example/1"].clean_text == "unique one\nnav"
    assert got["https://a.example/2"].clean_text == "unique two\nnav"
    assert got["https://a.example/3"].clean_text == "unique three"
    assert (got["https://a.example/1"].n_lines, got["https://a.example/1"].n_kept) == (3, 2)
    # single-page host keeps everything
    assert got["https://b.example/1"].clean_text == "solo\nFOOTER"


def test_bpe_merges_golden(spark):
    from trianglecount_spark.functions.bpe import bpe_merges

    # low x3, lower, lowest: round 1 ties (l,o)=(o,w)=5 -> lexicographic
    # picks (l,o); round 2 merges (lo,w)=5
    docs = spark.createDataFrame(
        [(0, "low lower lowest low low")], "doc_id long, text string"
    )
    rows = sorted(
        (r.step, r.left_sym, r.right_sym, r.merged, r.n_occurrences)
        for r in bpe_merges(docs, rounds=2).collect()
    )
    assert rows == [(1, "l", "o", "lo", 5), (2, "lo", "w", "low", 5)]


def test_bpe_skips_self_pairs_and_stops_when_dry(spark):
    from trianglecount_spark.functions.bpe import bpe_merges

    # (a,a) has count 15 but is a self-pair; (x,y)=2 wins. After that
    # merge only self-pairs remain -> the learner stops at 1 row.
    docs = spark.createDataFrame(
        [(0, "aaaa aaaa aaaa aaaa aaaa xy xy")], "doc_id long, text string"
    )
    rows = [
        (r.step, r.left_sym, r.right_sym, r.merged, r.n_occurrences)
        for r in bpe_merges(docs, rounds=3).collect()
    ]
    assert rows == [(1, "x", "y", "xy", 2)]


def test_pii_scrub_goldens(spark):
    """PII detector/redactor: known spans, adjacency, and a clean doc."""
    from trianglecount_spark.functions.pii import scrub_documents

    rows = [
        (0, "no pii here at all"),
        (1, "mail a.b+c@mail3.example or b@x.io now"),
        (2, "call +1 415 555 0134 or +44 020 555 9999 today"),
        (5, "dial 415-555-0134 or (415) 555-0134 or 415.555.0134 ok"),
        (6, "order 4155550134 ref 12345 date 123-45 time 1234 567 89012"),
        (3, "ssn 123-45-6789 ip 10.2.3.44 mixed a@b.co +1 200 555 0000"),
        (4, "edge 999.999.999.999 and 1.2.3.4.5 and x@y"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in scrub_documents(df).collect()}
    assert (out[0]["n_email"], out[0]["n_phone"], out[0]["n_ssn"], out[0]["n_ipv4"]) == (0, 0, 0, 0)
    assert out[0]["redacted"] == "no pii here at all"
    assert out[1]["n_email"] == 2
    assert out[1]["redacted"] == "mail <EMAIL> or <EMAIL> now"
    assert out[2]["n_phone"] == 2
    assert out[2]["redacted"] == "call <PHONE> or <PHONE> today"
    assert (out[3]["n_email"], out[3]["n_phone"], out[3]["n_ssn"], out[3]["n_ipv4"]) == (1, 1, 1, 1)
    assert out[3]["redacted"] == "ssn <SSN> ip <IPV4> mixed <EMAIL> <PHONE>"
    # 999.… still matches the shape-only ipv4 pattern (documented: shape,
    # not range validation); 1.2.3.4.5 has no boundary after octet 4 —
    # RE2/Java both refuse the \b before the 5th dot, so the first four
    # octets match; bare x@y lacks a TLD and is not an email
    assert out[4]["n_email"] == 0
    assert out[4]["n_ipv4"] == 2
    # separated NANP forms all match; unseparated runs deliberately do
    # not (shape heuristic — see functions/pii.py recall-limits note)
    assert out[5]["n_phone"] == 3
    assert out[5]["redacted"] == "dial <PHONE> or <PHONE> or <PHONE> ok"
    assert out[6]["n_phone"] == 0
    assert out[6]["redacted"].startswith("order 4155550134")
