"""Independent answers for the correctness gate: numpy brute force over
the stored table's own parquet columns, a plain-Python re-implementation
of the dedup signals, and DuckDB for the all-pairs hamming scan.

Floating-point answers are given as a band ``(lo, hi)``: rows within
``EPS`` of a boundary may land on either side in Spark's trig, so a
count is right when it falls inside the band."""

from __future__ import annotations

import hashlib
import re

import numpy as np

EPS = 1e-11
MIN_LONG = -(1 << 63)


def band(inside: np.ndarray, edge: np.ndarray) -> tuple[int, int]:
    """(rows surely inside, rows inside or on the boundary)."""
    return int((inside & ~edge).sum()), int((inside | edge).sum())


def cap_members(pts: np.ndarray, center: np.ndarray, radius2: float):
    d = pts - center
    c2 = np.einsum("ij,ij->i", d, d)
    return c2 <= radius2, np.abs(c2 - radius2) <= EPS


def rect_members(lat_deg: np.ndarray, lng_deg: np.ndarray, lat_lo, lat_hi, lng_lo, lng_hi):
    """Members of a non-wrapping rect given in radians."""
    lat = np.radians(lat_deg)
    lng = np.radians(lng_deg)
    inside = (lat >= lat_lo) & (lat <= lat_hi) & (lng >= lng_lo) & (lng <= lng_hi)
    edge = np.zeros_like(inside)
    for v, b in ((lat, lat_lo), (lat, lat_hi), (lng, lng_lo), (lng, lng_hi)):
        edge |= np.abs(v - b) <= EPS
    return inside, edge


def convex_loop_members(pts: np.ndarray, verts: np.ndarray):
    """Members of a convex counter-clockwise loop with geodesic edges:
    left of every edge plane."""
    normals = np.cross(verts, np.roll(verts, -1, axis=0))
    normals /= np.linalg.norm(normals, axis=1, keepdims=True)
    s = pts @ normals.T
    return (s >= 0).all(axis=1), (np.abs(s) <= EPS).any(axis=1)


def knn_check(pts: np.ndarray, ids: np.ndarray, probe: np.ndarray, k: int, got_ids, got_d2) -> str | None:
    """None if (got_ids, got_d2) is a correct k-nearest answer for one
    probe: k rows, each at its claimed distance, with the same sorted
    distances as the brute-force top k."""
    d = pts - probe
    d2 = np.einsum("ij,ij->i", d, d)
    want = np.sort(np.partition(d2, min(k, len(d2)) - 1)[: min(k, len(d2))])
    if len(got_ids) != len(want):
        return f"{len(got_ids)} results, want {len(want)}"
    pos = np.searchsorted(ids, got_ids)
    if (pos >= len(ids)).any() or (ids[np.minimum(pos, len(ids) - 1)] != got_ids).any():
        return "unknown image id in result"
    if not np.allclose(d2[pos], got_d2, rtol=1e-9, atol=EPS):
        return "claimed distance differs from the row's distance"
    if not np.allclose(np.sort(np.asarray(got_d2, dtype=np.float64)), want, rtol=1e-9, atol=EPS):
        return "not the k nearest"
    return None


def parent(cells_u64: np.ndarray, level: int) -> np.ndarray:
    """S2 parent by the cell-id bit layout: keep the face and the first
    2*level position bits, then set the level's marker bit."""
    lsb = np.uint64(1) << np.uint64(2 * (30 - level))
    return (cells_u64 & ~(lsb * np.uint64(2) - np.uint64(1))) | lsb


def biased(cells_i64: np.ndarray) -> np.ndarray:
    return cells_i64 ^ np.int64(MIN_LONG)


# -- dedup signals ------------------------------------------------------------


def shingle_set(text: str, n: int = 5) -> set[str]:
    last = max(len(text) - n + 1, 1)
    return {text[i : i + n] for i in range(last)}


def jaccard(a: str, b: str, n: int = 5) -> float:
    sa, sb = shingle_set(a, n), shingle_set(b, n)
    inter = len(sa & sb)
    return inter / (len(sa) + len(sb) - inter)


def simhash64(text: str) -> int:
    votes = [0] * 64
    for tok in re.split(r"\s+", text):
        if not tok:
            continue
        hx = hashlib.md5(tok.encode()).hexdigest()
        h = (int(hx[:8], 16) << 32) | int(hx[8:16], 16)
        for b in range(64):
            votes[b] += 1 if (h >> b) & 1 else -1
    return sum(1 << b for b in range(64) if votes[b] > 0)


def vote_check(texts: dict[int, str], rows, jaccard_min=0.5, simhash_max=16) -> str | None:
    """Every returned pair's Jaccard, simhash hamming and keep flag must
    equal the recomputed ones, and every exact-copy pair must be kept."""
    seen = set()
    for a, b, jac, ham, keep in rows:
        seen.add((a, b))
        ta, tb = texts[a], texts[b]
        j = jaccard(ta, tb)
        if abs(j - jac) > 1e-8:
            return f"pair {a},{b}: jaccard {jac} want {j}"
        h = bin(simhash64(ta) ^ simhash64(tb)).count("1")
        if ham != h:
            return f"pair {a},{b}: hamming {ham} want {h}"
        if abs(j - jaccard_min) > 1e-8 and keep != (j >= jaccard_min and h <= simhash_max):
            return f"pair {a},{b}: keep {keep}"
    by_text: dict[str, list[int]] = {}
    for i, t in texts.items():
        by_text.setdefault(t, []).append(i)
    for group in by_text.values():
        g = sorted(group)
        for x in range(len(g)):
            for y in range(x + 1, len(g)):
                if (g[x], g[y]) not in seen:
                    return f"exact copies {g[x]},{g[y]} not returned"
    return None


def hamming_pairs(ids: np.ndarray, phash: np.ndarray, max_dist: int) -> set[tuple[int, int]]:
    """All (a < b) id pairs within ``max_dist`` bits: DuckDB all-pairs scan."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    try:
        con.register("p", pd.DataFrame({"id": ids, "ph": phash}))
        rows = con.execute(
            "SELECT x.id, y.id FROM p x, p y WHERE x.id < y.id "
            f"AND bit_count(xor(x.ph, y.ph)) <= {int(max_dist)}"
        ).fetchall()
    finally:
        con.close()
    return {(int(a), int(b)) for a, b in rows}
