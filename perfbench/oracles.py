"""Expected outputs and output checks.

Expected results come from the repo's existing oracles: the DuckDB SQL
built from ``__spark_entry__``'s ``_pages_cte``/``_scored_cte`` helpers
(the text ``oracle_sql()`` uses for ``flagship_rank``, ``knn_ring`` and the
tile columns) and the independent greedy cutline of
``independent_oracles._greedy_cutline_masks``. The point-in-polygon
expectation is an even-odd ray test written here over unwrapped
longitudes, independent of the engine's winding-number split at +-180.

Every ``check_*`` returns ``None`` when the output matches and a short
reason otherwise.
"""

from __future__ import annotations

import struct
from collections import Counter

import duckdb
import numpy as np

import __spark_entry__ as E
import independent_oracles as IO
from imagery_utils_spark.sources import pages as P

CHECKSUM_MOD = 1_000_000_007
HAVERSINE_SQL = ("2 * 6371.0088 * asin(sqrt(pow(sin(radians(p.lat - q.q_lat) / 2), 2) "
                 "+ cos(radians(q.q_lat)) * cos(radians(p.lat)) "
                 "* pow(sin(radians(p.lon - q.q_lon) / 2), 2)))")
RASTER_PX = 64


def _values(rows) -> str:
    return ", ".join(
        "(" + ", ".join(f"'{v}'" if isinstance(v, str) else repr(v) for v in r) + ")"
        for r in rows)


class Oracle:
    """DuckDB over the seed's doc_id range. The oracle derives every page
    attribute from ``doc_id`` alone, so it never reads the engine's table."""

    def __init__(self, first_doc_id: int, n_pages: int, threads: int):
        self.con = duckdb.connect(config={"threads": threads, "memory_limit": "1GB"})
        self.con.sql(f"CREATE OR REPLACE VIEW documents AS SELECT range AS doc_id, "
                     f"'' AS lang, '' AS text FROM range({first_doc_id}, "
                     f"{first_doc_id + n_pages})")
        self.ctes = f"{E._pages_cte()}, {E._scored_cte()}"

    def close(self) -> None:
        self.con.close()

    # ------------------------------------------------------- mosaic_rank
    def rank_fingerprint(self) -> dict:
        """{tile_name: (rows, sum of doc_id * tile_rank mod p, max rank)} over
        oracle_sql()['flagship_rank']."""
        rows = self.con.sql(
            f"WITH {self.ctes}, ranked AS (SELECT doc_id, tile_name, ROW_NUMBER() OVER "
            "(PARTITION BY tile_name ORDER BY score DESC, doc_id ASC) AS tile_rank "
            "FROM scored WHERE score > 0) SELECT tile_name, count(*), "
            f"sum((doc_id * tile_rank) % {CHECKSUM_MOD}), max(tile_rank) FROM ranked "
            "GROUP BY 1").fetchall()
        return {t: (int(n), int(s), int(m)) for t, n, s, m in rows}

    # ------------------------------------------------------ kNN probes
    def lonlat(self, doc_ids: list[int]) -> list[tuple[float, float]]:
        lon, lat = P.lonlat_sql("doc_id")
        vals = ", ".join(f"({d})" for d in doc_ids)
        rows = self.con.sql(f"SELECT i, {lon}, {lat} FROM (SELECT row_number() OVER () "
                            f"AS i, CAST(doc_id AS BIGINT) AS doc_id FROM (VALUES {vals}) t(doc_id)) "
                            "ORDER BY i"
                            ).fetchall()
        return [(float(x), float(y)) for _i, x, y in rows]

    def knn(self, points, k: int) -> dict:
        """{q_id: [(doc_id, dist_km)] by rank}: brute-force haversine, the
        oracle_sql()['knn_ring'] query with k neighbours."""
        rows = self.con.sql(
            f"WITH {E._pages_cte()}, q(q_id, q_lon, q_lat) AS (VALUES {_values(points)}) "
            f"SELECT q_id, doc_id, d, rn FROM (SELECT q.q_id, p.doc_id, {HAVERSINE_SQL} AS d, "
            f"ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY {HAVERSINE_SQL} ASC, "
            f"p.doc_id ASC) AS rn FROM pages p, q) WHERE rn <= {k} ORDER BY q_id, rn"
        ).fetchall()
        out: dict = {p[0]: [] for p in points}
        for qid, doc, d, _rn in rows:
            out[qid].append((int(doc), float(d)))
        return out

    # ------------------------------------------------------ mosaic_build
    def pip_matches(self, polys) -> tuple[np.ndarray, np.ndarray]:
        """(lon, lat) of every (page, footprint) pair with the page inside the
        footprint, one entry per pair."""
        lon_sql, lat_sql = P.lonlat_sql("doc_id")
        pts = self.con.sql(f"SELECT {lon_sql} AS lon, {lat_sql} AS lat FROM documents"
                           ).fetchnumpy()
        lon, lat = np.asarray(pts["lon"], float), np.asarray(pts["lat"], float)
        out_lon, out_lat = [], []
        for _pid, wkt in polys:
            ring = [tuple(map(float, v.split()))
                    for v in wkt[wkt.index("((") + 2:wkt.index("))")].split(",")][:-1]
            xs = np.array([x for x, _ in ring])
            ys = np.array([y for _, y in ring])
            px = lon
            if xs.max() - xs.min() > 180.0:  # crosses the anti-meridian: unwrap
                xs = np.where(xs < 0, xs + 360.0, xs)
                px = np.where(lon < 0, lon + 360.0, lon)
            near = ((px >= xs.min()) & (px <= xs.max())
                    & (lat >= ys.min()) & (lat <= ys.max()))
            qx, qy = px[near], lat[near]
            inside = np.zeros(len(qx), dtype=bool)
            for i in range(len(xs)):
                xi, yi, xj, yj = xs[i], ys[i], xs[i - 1], ys[i - 1]
                crosses = (yi > qy) != (yj > qy)
                with np.errstate(divide="ignore", invalid="ignore"):
                    xcut = (xj - xi) * (qy - yi) / (yj - yi) + xi
                inside ^= crosses & (qx < xcut)
            out_lon.append(lon[near][inside])
            out_lat.append(lat[near][inside])
        return np.concatenate(out_lon), np.concatenate(out_lat)


def raster_expected(lon: np.ndarray, lat: np.ndarray) -> dict:
    """{tile_name: (xmin, ymin, (64, 64) pixel counts)} for the density
    rasters built from the matched points (the _tile_cols_sql grid)."""
    col = np.clip(np.floor((lon + 180.0) / 10.0) + 1, 1, 36).astype(int)
    row = np.clip(np.floor((lat + 90.0) / 10.0) + 1, 1, 18).astype(int)
    xmin = -180.0 + (col - 1) * 10.0
    ymin = -90.0 + (row - 1) * 10.0
    pc = np.minimum(RASTER_PX - 1, np.floor((lon - xmin) / 10.0 * RASTER_PX)).astype(int)
    pr = np.minimum(RASTER_PX - 1, np.floor((ymin + 10.0 - lat) / 10.0 * RASTER_PX)).astype(int)
    out = {}
    for key, n in Counter(zip(row, col, pr, pc)).items():
        r, c, y, x = key
        name = f"world_{r:02d}_{c:02d}"
        if name not in out:
            out[name] = (-180.0 + (c - 1) * 10.0, -90.0 + (r - 1) * 10.0,
                         np.zeros((RASTER_PX, RASTER_PX), dtype=np.int64))
        out[name][2][y, x] = n
    return out


def cutline_expected(candidates, threshold: float) -> set:
    """{(tile_name, scene_id, paint_order)} from the independent mask-based
    greedy cutline."""
    by_tile: dict = {}
    for t, x0, x1, y0, y1, sid, score, sx0, sy0, sx1, sy1 in candidates:
        by_tile.setdefault(t, ((x0, y0, x1, y1), []))[1].append(
            (sid, score, (sx0, sy0, sx1, sy1)))
    out = set()
    for t, (rect, scenes) in by_tile.items():
        for po, (sid, _s) in enumerate(IO._greedy_cutline_masks(rect, scenes, threshold), 1):
            out.add((t, sid, po))
    return out


# ------------------------------------------------------------- checks

def check_fingerprint(rows, expected: dict) -> str | None:
    got = {r[0]: (int(r[1]), int(r[2]), int(r[3])) for r in rows}
    if got == expected:
        return None
    bad = sorted(t for t in set(got) | set(expected) if got.get(t) != expected.get(t))
    return f"rank fingerprint: {len(bad)} tiles differ, e.g. {bad[:3]}"


def check_knn(rows, expected: list) -> str | None:
    """Same neighbours in rank order; a swap between two neighbours at the
    same distance (to 1e-9 relative, JVM vs libm trig) is accepted."""
    got = sorted((int(r[3]), int(r[1]), float(r[2])) for r in rows)
    if len(got) != len(expected):
        return f"knn: {len(got)} neighbours, expected {len(expected)}"
    for (_rn, doc, d), (edoc, ed) in zip(got, expected):
        if doc != edoc and abs(d - ed) > 1e-9 * max(1.0, ed):
            return f"knn: neighbour {doc} at {d} km, expected {edoc} at {ed} km"
    return None


def read_bmp_rgb(path: str) -> np.ndarray:
    """24-bit bottom-up BI_RGB BMP -> (h, w, 3) RGB."""
    with open(path, "rb") as f:
        blob = f.read()
    off = struct.unpack_from("<I", blob, 10)[0]
    w, h = struct.unpack_from("<ii", blob, 18)
    stride = (w * 3 + 3) & ~3
    rows = np.frombuffer(blob, np.uint8, stride * h, off).reshape(h, stride)
    return rows[::-1, :w * 3].reshape(h, w, 3)[:, :, ::-1]


def world_file(xmin: float, ymin: float) -> str:
    a = 10.0 / RASTER_PX
    return "\n".join(f"{v:.10f}" for v in (a, 0.0, 0.0, -a, xmin + a / 2, ymin + 10.0 - a / 2)) + "\n"


def check_rasters(manifest_rows, expected: dict) -> str | None:
    got = {r[0]: r for r in manifest_rows}
    if set(got) != set(expected):
        return f"raster: {len(got)} tiles written, expected {len(expected)}"
    for tile, (xmin, ymin, counts) in expected.items():
        _t, path, w, h, n_pixels = got[tile]
        if (w, h) != (RASTER_PX, RASTER_PX) or n_pixels != int((counts > 0).sum()):
            return f"raster: {tile} manifest says {w}x{h}, {n_pixels} px"
        img = read_bmp_rgb(path)
        want_r = np.minimum(255, counts)
        want_g = np.where(counts > 0, 255, 0)
        if not (np.array_equal(img[:, :, 0], want_r) and np.array_equal(img[:, :, 1], want_g)):
            return f"raster: {tile} pixels differ"
        with open(path + ".wld") as f:
            if f.read() != world_file(xmin, ymin):
                return f"raster: {tile} world file differs"
    return None


def check_manifests(path: str, expected: set) -> str | None:
    import pyarrow.parquet as pq

    t = pq.read_table(path).to_pydict()
    got = set(zip(map(str, t["tile_name"]), t["scene_id"], t["paint_order"]))
    if got == expected:
        return None
    return f"manifests: {len(expected - got)} missing, {len(got - expected)} extra rows"
