"""Seeded inputs. The package only ever receives what is built here:
an ``orders.parquet`` key range (the image generator's input), document
corpora, region shapes and probe sets. The same seed gives the same
inputs."""

from __future__ import annotations

import math
import os

import numpy as np

# Hotspot centres of the package's image generator (30% of keys fall
# within ±0.2° of one of them); used to aim half the queries there.
CITIES = [(40.7128, -74.0060), (51.5074, -0.1278), (35.6762, 139.6503)]
_M1 = 2654435761


def write_orders(dir_path: str, first_key: int, n: int) -> str:
    """``<dir>/orders.parquet`` with ``o_orderkey`` = first_key..+n-1."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(dir_path, exist_ok=True)
    keys = np.arange(first_key, first_key + n, dtype=np.int64)
    pq.write_table(pa.table({"o_orderkey": keys}), os.path.join(dir_path, "orders.parquet"))
    return dir_path


def derive_images(keys: np.ndarray):
    """(lat, lng, phash) for image keys, re-derived in numpy from the
    generator's documented integer arithmetic (bigint ops and one IEEE
    division), so the stored table can be checked bit for bit."""
    key = keys.astype(np.int64)
    k1 = (key * _M1) % 4294967296
    k2 = (((k1 % 1048576) * _M1) + (k1 % 524287)) % 4294967296
    lat = (k1 % 160000000) / 1e6 - 80.0
    lng = (k2 % 360000000) / 1e6 - 180.0
    city = key % 10
    for c, (clat, clng) in enumerate(CITIES):
        m = city == c
        lat = np.where(m, clat + (k1 % 400000) / 1e6 - 2e-1, lat)
        lng = np.where(m, clng + (k2 % 400000) / 1e6 - 2e-1, lng)
    phash = (k2 % 2147483648) * 2147483648 + (k1 % 2147483648)
    return lat, lng, phash


def xyz(lat_deg, lng_deg) -> np.ndarray:
    lat = np.radians(np.asarray(lat_deg, dtype=np.float64))
    lng = np.radians(np.asarray(lng_deg, dtype=np.float64))
    return np.stack([np.cos(lng) * np.cos(lat), np.sin(lng) * np.cos(lat), np.sin(lat)], axis=-1)


def radius_for_count(pts: np.ndarray, center: np.ndarray, target: int, lo: float, hi: float) -> float:
    """Cap radius (degrees) around ``center`` that holds about
    ``target`` of ``pts``, clipped to [lo, hi]. Sizing regions by the
    rows they return keeps the work per query steady across seeds."""
    ang = np.degrees(np.arccos(np.clip(pts @ center, -1.0, 1.0)))
    target = min(max(1, target), len(ang))
    r = float(np.partition(ang, target - 1)[target - 1]) * 1.0001
    return min(max(r, lo), hi)


def query_center(rng: np.random.Generator, hotspot: bool) -> tuple[float, float]:
    if hotspot:
        clat, clng = CITIES[int(rng.integers(len(CITIES)))]
        return clat + rng.uniform(-0.15, 0.15), clng + rng.uniform(-0.15, 0.15)
    return float(rng.uniform(-70, 70)), float(rng.uniform(-179, 179))


def offset(lat: float, lng: float, north_deg: float, east_deg: float) -> tuple[float, float]:
    """Small-angle offset of a lat/lng point."""
    return lat + north_deg, lng + east_deg / max(math.cos(math.radians(lat)), 1e-6)


def loop_vertices(rng: np.random.Generator, lat: float, lng: float, r_deg: float, n: int):
    """A convex ``n``-gon, counter-clockwise, inscribed in a circle of
    ``r_deg`` around the centre (seeded vertex angles)."""
    gaps = rng.uniform(0.6, 1.4, n)
    theta = np.cumsum(gaps / gaps.sum() * 2 * math.pi) + rng.uniform(0, 2 * math.pi)
    return [offset(lat, lng, r_deg * math.sin(t), r_deg * math.cos(t)) for t in theta]


_WORDS = (
    "spark stream join cell index region cover query batch scan merge shuffle "
    "sort hash filter tile image caption pixel vector probe ring level parent "
    "range bucket sketch count window state table layout partition task stage "
    "driver kernel arrow worker python sphere point polygon loop edge vertex "
    "face hilbert curve order token shingle band signature cluster vote keep"
).split()


def documents(rng: np.random.Generator, n: int, first_id: int = 0):
    """``n`` documents (doc_id, text) with planted duplicates: about 5%
    exact copies and 15% near copies (1-3 words replaced) of an earlier
    document; the rest are independent word sequences."""
    texts: list[str] = []
    for i in range(n):
        u = rng.random()
        if i > 10 and u < 0.05:
            texts.append(texts[int(rng.integers(i))])
        elif i > 10 and u < 0.20:
            words = texts[int(rng.integers(i))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(len(words)))] = _WORDS[int(rng.integers(len(_WORDS)))]
            texts.append(" ".join(words))
        else:
            m = int(rng.integers(12, 60))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), m)))
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return ids, texts
