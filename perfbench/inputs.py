"""Seeded inputs. The engine only ever sees the generated tables.

The seed shifts the ``doc_id`` range fed to
``sources.pages.pages_from_documents`` (a new geography and skew instance
with the same distribution: cluster 0 is the hot cell next to the
anti-meridian) and seeds the query points, footprints and cutline
candidates.
"""

from __future__ import annotations

import glob
import os
import random

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from imagery_utils_spark.sources import pages as P

ID_STRIDE = 20_000_000
LANGS = ["en", "de", "fr", "es", "ja", "ru", "zh"]
WORDS = ["ice", "sheet", "glacier", "strip", "mosaic", "tile", "scene", "ortho",
         "pan", "band", "cloud", "sun", "nadir", "polar", "coast", "ridge"]
TILE_DEG = 10.0


def doc_offset(seed: int) -> int:
    """First doc_id of the seed's range; doc_id * KNUTH stays inside a long."""
    return (seed % 97 + 1) * ID_STRIDE


def documents(spark: SparkSession, n: int, seed: int, partitions: int):
    """(doc_id, text, lang) — 24 words of closed-form text per document."""
    d = F.col("id")
    words = F.array(*[F.lit(w) for w in WORDS])
    text = F.concat_ws(" ", *[
        F.element_at(words, ((d * (7 + 2 * i) + i) % len(WORDS) + 1).cast("int"))
        for i in range(24)])
    lang = F.element_at(F.array(*[F.lit(x) for x in LANGS]),
                        (d % len(LANGS) + 1).cast("int"))
    start = doc_offset(seed)
    return spark.range(start, start + n, numPartitions=partitions).select(
        d.alias("doc_id"), text.alias("text"), lang.alias("lang"))


def build_pages(spark: SparkSession, n: int, seed: int, path: str, partitions: int):
    """Materialize the pages table (url, warc_ts, html, text, lang) as parquet
    and return it read back, the way bench.py feeds the flagship."""
    P.pages_from_documents(documents(spark, n, seed, partitions)).write.mode(
        "overwrite").parquet(path)
    for crc in glob.glob(os.path.join(path, ".*.crc")):
        os.remove(crc)
    return spark.read.parquet(path)


def sample_doc_ids(seed: int, n_pages: int, k: int, salt: int) -> list[int]:
    rng = random.Random(seed * 1_000_003 + salt)
    start = doc_offset(seed)
    return [start + rng.randrange(n_pages) for _ in range(k)]


def knn_points(seed: int, centers: list[tuple[float, float]]):
    """kNN query points (q_id, lon, lat): sampled page locations with a
    seeded sub-degree jitter, kept off the 1e-4 lattice the pages sit on."""
    rng = random.Random(seed * 7919 + 11)
    out = []
    for i, (lon, lat) in enumerate(centers):
        qlon = round(lon + rng.uniform(-0.5, 0.5), 4) + 0.00005
        qlat = round(lat + rng.uniform(-0.5, 0.5), 4) + 0.00005
        qlon = ((qlon + 180.0) % 360.0) - 180.0
        out.append((f"q{i:03d}", qlon, max(-89.9, min(89.9, qlat))))
    return out


def _cluster_center(k: int) -> tuple[float, float]:
    """Centre of geography cluster k (sources.pages.lonlat_cols)."""
    if k == 0:
        return 179.8, 15.0
    return ((k * 1367) % 3500 - 1750) / 10.0, ((k * 911) % 1600 - 800) / 10.0


def _coord(v: float) -> float:
    # half-lattice vertices: a page (multiple of 1e-4 deg) never sits on one
    return round(v, 4) + 0.00005


def footprints(seed: int, n: int = 24) -> list[tuple[str, str]]:
    """(poly_id, geom_wkt): slanted quadrilateral scene footprints inside the
    geography clusters, of fixed size so every seed joins a similar number of
    pages. A third sit on the hot cluster and half of those cross the
    anti-meridian; the seed moves and shears them."""
    rng = random.Random(seed * 31 + 5)
    out = []
    for i in range(n):
        hot = i % 3 == 0
        cx, cy = _cluster_center(0 if hot else 1 + i % 4)
        if hot and i % 2 == 0:
            cx = 180.0  # straddles +-180
        cx += rng.uniform(-0.5, 0.5)
        cy += rng.uniform(-0.5, 0.5)
        w, h = 1.0, 0.8
        shear, tilt = rng.uniform(-0.3, 0.3), rng.uniform(-0.3, 0.3)
        ring = [(cx - w, cy - h), (cx + w, cy - h + tilt),
                (cx + w + shear, cy + h + tilt), (cx - w + shear, cy + h)]
        ring = [(_coord(((x + 180.0) % 360.0) - 180.0), _coord(y)) for x, y in ring]
        pts = ", ".join(f"{x:.5f} {y:.5f}" for x, y in ring + ring[:1])
        out.append((f"fp{i:02d}", f"POLYGON (({pts}))"))
    return out


def cutline_candidates(seed: int, n: int, n_tiles: int = 20):
    """Strip candidates (tile_name, xmin, xmax, ymin, ymax, scene_id, score,
    s_xmin, s_ymin, s_xmax, s_ymax); one hot tile holds 25% of them, as in
    bench.py's cutline diagnostic. Edges sit on a 0.25-degree grid so the
    region algebra is exact."""
    rng = random.Random(seed * 104729 + 3)
    tiles = rng.sample([(r, c) for r in range(1, 19) for c in range(1, 37)], n_tiles + 1)
    rows = []
    for i in range(n):
        r, c = tiles[0] if i % 4 == 0 else tiles[1 + rng.randrange(n_tiles)]
        x0, y0 = -180.0 + (c - 1) * TILE_DEG, -90.0 + (r - 1) * TILE_DEG
        sx = x0 + rng.randrange(-4, 40) * 0.25
        sy = y0 + rng.randrange(-4, 40) * 0.25
        rows.append((f"world_{r:02d}_{c:02d}", x0, x0 + TILE_DEG, y0, y0 + TILE_DEG,
                     f"s{i:05d}", round(rng.random(), 6),
                     sx, sy, sx + rng.randrange(4, 20) * 0.25,
                     sy + rng.randrange(4, 20) * 0.25))
    return rows


CANDIDATE_COLUMNS = ["tile_name", "xmin", "xmax", "ymin", "ymax", "scene_id", "score",
                     "s_xmin", "s_ymin", "s_xmax", "s_ymax"]
