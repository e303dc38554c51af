"""Independent reference results and the per-job result checker.

Nothing here imports the engine or touches Spark. The web reference
mines hrefs with its own regex over the raw pages parquet and builds its
own sorted-url dictionary; every graph result is then recomputed with
numpy.

The rules mirrored from the engine are the documented contracts, not
its code:

- hrefs: double-quoted only; ``http(s)://`` kept as-is, ``/path``
  resolved against the page's scheme+host, anything else skipped.
- dictionary: vid = rank of the url among all distinct link endpoints
  in byte order.
- canonical graph: self-loops dropped, symmetrized, de-duplicated.
- PageRank: uniform start, ``r' = a * sum(r(u)/outdeg(u)) + (1-a)/n``
  over the symmetric edge table, stopping only at check rounds.
- components: id of the component minimum.
- label propagation: synchronous, most frequent neighbour label, ties to
  the smallest label; the state is compared every ``check_every`` rounds
  and the loop stops when a check sees no change (``iterate``'s rule).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import numpy as np

_HREF = re.compile(rb'href="([^"]*)"')
_ORIGIN = re.compile(r"^(https?://[^/]+)")

# XXH64 constants.
_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2CA63)
_P5 = np.uint64(0x27D4EB2F165667C5)

PR_REL_TOL = 1e-6


# ---------------------------------------------------------------------------
# hashing
# ---------------------------------------------------------------------------

def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _xxh64_long(values: np.ndarray, seed: np.ndarray) -> np.ndarray:
    """XXH64 of each int64 value's 8 bytes, vectorized."""
    v = values.astype(np.int64).view(np.uint64)
    with np.errstate(over="ignore"):
        h = seed + _P5 + np.uint64(8)
        h ^= _rotl(v * _P2, 31) * _P1
        h = _rotl(h, 27) * _P1 + _P4
        h ^= h >> np.uint64(33)
        h *= _P2
        h ^= h >> np.uint64(29)
        h *= _P3
        h ^= h >> np.uint64(32)
    return h


def xxhash64_pairs(src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Per-row XXH64 of ``src`` chained into ``dst``, seed 42."""
    h = _xxh64_long(src, np.full(len(src), 42, dtype=np.uint64))
    return _xxh64_long(dst, h)


def edge_fingerprint(src: np.ndarray, dst: np.ndarray) -> dict:
    """Row count plus the order-independent ``bit_xor`` of the per-row
    hashes, as signed int64: the form of the engine's edges fingerprint,
    computed here without the engine."""
    x = np.bitwise_xor.reduce(xxhash64_pairs(src, dst)) if len(src) else np.uint64(0)
    return {"n": int(len(src)), "xor": int(np.uint64(x).view(np.int64))}


# ---------------------------------------------------------------------------
# graph construction
# ---------------------------------------------------------------------------

def mine_links(urls: list[str], htmls: list[bytes]) -> tuple[list[str], list[str]]:
    """(src_url, dst_url) for every qualifying href, duplicates and
    self-links kept."""
    src, dst = [], []
    for url, html in zip(urls, htmls):
        m = _ORIGIN.match(url)
        origin = m.group(1) if m else None
        for h in _HREF.findall(html):
            href = h.decode("utf-8", errors="replace")
            if href.startswith(("http://", "https://")):
                target = href
            elif href.startswith("/") and origin is not None:
                target = origin + href
            else:
                continue
            src.append(url)
            dst.append(target)
    return src, dst


def url_dictionary(src_urls: list[str], dst_urls: list[str]):
    """Sorted distinct endpoint urls and the vid arrays of both columns."""
    # utf-8 byte order, the order Spark sorts strings in
    keys = sorted(set(src_urls) | set(dst_urls), key=lambda u: u.encode("utf-8"))
    index = {u: i for i, u in enumerate(keys)}
    s = np.fromiter((index[u] for u in src_urls), dtype=np.int64, count=len(src_urls))
    d = np.fromiter((index[u] for u in dst_urls), dtype=np.int64, count=len(dst_urls))
    return keys, s, d


def canonical(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Symmetric simple edge table (both directions, no self-loops), sorted."""
    keep = src != dst
    s = np.concatenate([src[keep], dst[keep]]).astype(np.int64)
    d = np.concatenate([dst[keep], src[keep]]).astype(np.int64)
    order = np.lexsort((d, s))
    s, d = s[order], d[order]
    first = np.ones(len(s), dtype=bool)
    first[1:] = (s[1:] != s[:-1]) | (d[1:] != d[:-1])
    return s[first], d[first]


_POPCOUNT = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)


def triangle_total(sym_src: np.ndarray, sym_dst: np.ndarray, chunk: int = 1 << 14) -> int:
    """Triangle count: orient every edge from lower to higher (degree,
    id) rank, keep each vertex's out-neighbours as a bitset row, and sum
    ``popcount(row(u) & row(v))`` over the oriented edges u -> v. Memory
    is one bit per vertex pair, fine for the benchmark's graph sizes."""
    verts, inv = np.unique(np.concatenate([sym_src, sym_dst]), return_inverse=True)
    n = len(verts)
    si, di = inv[: len(sym_src)], inv[len(sym_src):]
    rank = np.empty(n, dtype=np.int64)
    rank[np.lexsort((verts, np.bincount(si, minlength=n)))] = np.arange(n)
    a, b = rank[si], rank[di]
    keep = a < b
    a, b = a[keep], b[keep]
    dense = np.zeros((n, n), dtype=bool)
    dense[a, b] = True
    rows = np.packbits(dense, axis=1)
    del dense
    return int(sum(
        _POPCOUNT[rows[a[i:i + chunk]] & rows[b[i:i + chunk]]].sum(dtype=np.int64)
        for i in range(0, len(a), chunk)
    ))


def _index(sym_src: np.ndarray, sym_dst: np.ndarray):
    verts = np.unique(np.concatenate([sym_src, sym_dst]))
    return verts, np.searchsorted(verts, sym_src), np.searchsorted(verts, sym_dst)


def pagerank(
    sym_src: np.ndarray,
    sym_dst: np.ndarray,
    rounds: int,
    check_every: int,
    alpha: float = 0.85,
    tol: float = 0.0,
) -> tuple[np.ndarray, np.ndarray]:
    verts, si, di = _index(sym_src, sym_dst)
    n = len(verts)
    w = 1.0 / np.bincount(si, minlength=n)[si]
    r = np.full(n, 1.0 / n)
    prev = r
    for i in range(rounds):
        r = alpha * np.bincount(di, weights=r[si] * w, minlength=n) + (1.0 - alpha) / n
        if (i + 1) % check_every == 0 or i == rounds - 1:
            delta = float(np.abs(r - prev).sum())
            prev = r
            if delta <= tol:
                break
    return verts, r


def components(sym_src: np.ndarray, sym_dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    verts, si, di = _index(sym_src, sym_dst)
    lab = np.arange(len(verts))
    while True:
        nxt = lab.copy()
        np.minimum.at(nxt, di, lab[si])
        nxt = nxt[nxt]  # pointer jump: labels are vertex positions
        if np.array_equal(nxt, lab):
            return verts, verts[lab]
        lab = nxt


def label_propagation(
    sym_src: np.ndarray, sym_dst: np.ndarray, rounds: int, check_every: int
) -> tuple[np.ndarray, np.ndarray]:
    verts, si, di = _index(sym_src, sym_dst)
    lab = verts.copy()
    prev = lab
    for i in range(rounds):
        nl = lab[si]
        order = np.lexsort((nl, di))
        d, l = di[order], nl[order]
        head = np.ones(len(d), dtype=bool)
        head[1:] = (d[1:] != d[:-1]) | (l[1:] != l[:-1])
        starts = np.flatnonzero(head)
        cnt = np.diff(np.append(starts, len(d)))
        gd, gl = d[starts], l[starts]
        best = np.lexsort((gl, -cnt, gd))
        first = np.ones(len(best), dtype=bool)
        first[1:] = gd[best][1:] != gd[best][:-1]
        lab = lab.copy()
        lab[gd[best][first]] = gl[best][first]
        if (i + 1) % check_every == 0 or i == rounds - 1:
            if np.array_equal(lab, prev):
                break
            prev = lab
    return verts, lab


# ---------------------------------------------------------------------------
# checking
# ---------------------------------------------------------------------------

@dataclass
class Check:
    """Accumulates named mismatches for one job's result."""

    errors: list[str] = field(default_factory=list)

    def equal(self, name: str, got, want) -> None:
        if got != want:
            self.errors.append(f"{name}: got {got!r}, want {want!r}")

    def vertex_values(self, name: str, got_v, got_x, want_v, want_x, rel: float = 0.0) -> None:
        """Per-vertex comparison; ``rel`` > 0 allows a relative error."""
        order = np.argsort(got_v, kind="stable")
        gv, gx = np.asarray(got_v)[order], np.asarray(got_x)[order]
        if len(gv) != len(want_v) or not np.array_equal(gv, want_v):
            self.errors.append(
                f"{name}: vertex set differs ({len(gv)} vs {len(want_v)} vertices)"
            )
            return
        if rel > 0:
            err = np.abs(gx - want_x) / np.abs(want_x)
            bad = int(np.count_nonzero(~(err <= rel)))
        else:
            bad = int(np.count_nonzero(gx != want_x))
        if bad:
            self.errors.append(f"{name}: {bad} vertices differ")

    @property
    def ok(self) -> bool:
        return not self.errors
