"""The workloads. Each one builds its seeded input, checks the engine's
output against the oracles before anything is timed, and then runs one
operation at a time (a closed loop with one client); every operation's
output is checked after its timed region.

* ``mosaic_rank``: the flagship DAG ``plans.mosaic_query.ranked_from_pages``
  (scan, geocode, tile assignment, scoring, rank) as a batch pass; a traced
  run adds k=10 ``operators.knn.knn_expanding_ring`` probes.
* ``mosaic_build``: the write path, ``operators.spatial_join.
  points_in_polygons`` into ``sources.sinks.write_raster_tiles``, then
  ``operators.cutline.cutline_contributors`` into
  ``sources.sinks.write_intersect_manifests``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from imagery_utils_spark.core import geom as G
from imagery_utils_spark.core.region import Region
from imagery_utils_spark.operators import spatial_join as SJ
from imagery_utils_spark.operators.cutline import cutline_contributors, determine_contributors
from imagery_utils_spark.operators.knn import knn_expanding_ring
from imagery_utils_spark.operators.tile_grid import tile_assign_cols
from imagery_utils_spark.plans import mosaic_query as MQ
from imagery_utils_spark.sources import pages as P
from imagery_utils_spark.sources.sinks import write_intersect_manifests, write_raster_tiles

from . import inputs as I
from . import oracles as O
from .trace import metric, stage_gap_ms


_NO_SPARK = {"jobs": [], "stages": {}, "plans": []}


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def _swap_first_two(df, col: str):
    """Self-test corruption: ranks 1 and 2 trade places."""
    c = F.col(col)
    return df.withColumn(col, F.when(c == 1, 2).when(c == 2, 1).otherwise(c))


class Workload:
    name = ""
    n_pages = 0
    primary = ""  # the op kind the closed loop repeats and pages_per_s times

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.span = ctx.tracer.span
        self.path = os.path.join(ctx.work, "pages")
        self.pages = None

    def build_input(self) -> None:
        threads = self.ctx.threads
        self.pages = I.build_pages(self.spark, self.n_pages, self.ctx.seed, self.path,
                                   min(4 * threads, max(threads, self.n_pages // 20_000)))

    def prepare(self) -> None:
        """Compute the expected outputs (once per run, from the seed alone)."""
        oracle = O.Oracle(I.doc_offset(self.ctx.seed), self.n_pages, self.ctx.threads)
        try:
            self.expect(oracle)
        finally:
            oracle.close()

    def expect(self, oracle) -> None:
        raise NotImplementedError

    def warmup_ops(self) -> list[int]:
        return [0]

    def probe_ops(self) -> list[int]:
        """Extra operations a traced run adds after the measured window."""
        return []

    def warm_up(self) -> list[str]:
        """Checked operations before the measured window: the first check of
        the engine's output against the oracle, and the JIT/worker warm-up.
        Returns the failure reasons."""
        reasons = []
        for i in self.warmup_ops():
            try:
                reasons.append(self.checked(i))
            except Exception as e:
                reasons.append(f"warm-up {type(e).__name__}: {e}"[:300])
        return [r for r in reasons if r]

    def kind_of(self, i: int) -> str:
        return self.primary

    def run(self, i: int):
        """Operation i over the whole pages table: returns (kind, raw output)."""
        raise NotImplementedError

    def describe(self, kind: str, out) -> dict:
        """What the traced-run metrics need from one output: rows returned,
        kNN stats, files written."""
        raise NotImplementedError

    def check(self, kind: str, out) -> str | None:
        """None when the output matches the oracle, else the reason."""
        raise NotImplementedError

    def checked(self, i: int) -> str | None:
        return self.check(*self.run(i))

    # ------------------------------------------------------- traced run
    def prefix_profile(self) -> dict:
        return {}

    def kernel_profile(self) -> dict:
        return {}

    def layer_metrics(self, ops: list[dict], view: dict, spans: list[dict]) -> dict:
        """Per-layer metrics, as means per traced operation of the kind that
        loads the layer (0 for layers this workload bypasses)."""
        by_parent: dict = {}
        for s in spans:
            by_parent.setdefault(s["parent"], []).append(s)

        def groups(span):
            out = [view.get(span["group"], _NO_SPARK)]
            for c in by_parent.get(span["id"], []):
                out += groups(c)
            return out

        rows, knn_rows = [], []
        for op in ops:
            gs = groups(op["span"])
            stages = [st for g in gs for st in g["stages"].values()]
            plans = [p for g in gs for p in g["plans"]]
            if op["kind"] == self.primary:
                rows.append((op, gs, stages, plans))
            if op["kind"] == "knn":
                knn_rows.append((op, gs, stages, plans))
        m = {}
        m["spark.jobs"] = _mean(sum(len(g["jobs"]) for g in gs) for _o, gs, _s, _p in rows)
        m["spark.stages"] = _mean(len(st) for _o, _g, st, _p in rows)
        for key, field in (("spark.tasks", "tasks"), ("spark.task_failures", "failed_tasks"),
                           ("spark.executor_run_ms", "run_ms"),
                           ("spark.executor_cpu_ms", "cpu_ms"), ("spark.gc_ms", "gc_ms")):
            m[key] = _mean(sum(s[field] for s in st) for _o, _g, st, _p in rows)
        m["spark.driver_gap_ms"] = _mean(stage_gap_ms(o["span"], st) for o, _g, st, _p in rows)

        scan_rows = [metric(p, "Scan", "number of output rows") for _o, _g, _s, p in rows]
        m["pages.scan_rows"] = _mean(scan_rows)
        m["pages.scan_bytes"] = _mean(metric(p, "Scan", "size of files read")
                                     for _o, _g, _s, p in rows)
        m["pages.rows_scanned_per_row_returned"] = _mean(
            r / max(1, o["returned"]) for r, (o, _g, _s, _p) in zip(scan_rows, rows))

        ranked = [(st, p) for o, _g, st, p in rows if o["kind"] == "rank"]
        m["rank.shuffle_write_bytes"] = _mean(metric(p, "Exchange", "shuffle bytes written")
                                             for _s, p in ranked)
        m["rank.shuffle_records"] = _mean(metric(p, "Exchange", "shuffle records written")
                                         for _s, p in ranked)
        m["rank.sort_ms"] = _mean(metric(p, "Sort", "sort time") for _s, p in ranked)
        m["rank.spill_bytes"] = _mean(metric(p, "Sort", "spill size")
                                     + metric(p, "Window", "spill size") for _s, p in ranked)
        m["rank.fetch_wait_ms"] = _mean(metric(p, "Exchange", "fetch wait time")
                                       for _s, p in ranked)
        m["rank.task_skew"] = _mean(_skew(max(st, key=lambda s: s["shuffle_read_records"]))
                                   for st, _p in ranked if st)

        knn = [o["stats"] for o, *_ in knn_rows]
        m["knn.rounds"] = _mean(len(s.get("probe_rows_per_round", [])) for s in knn)
        m["knn.jobs"] = _mean(sum(len(g["jobs"]) for g in gs) for _o, gs, _s, _p in knn_rows)
        m["knn.probe_rows"] = _mean(sum(s.get("probe_rows_per_round", [])) for s in knn)
        m["knn.rows_scanned"] = _mean(metric(p, "Scan", "number of output rows")
                                     for _o, _g, _s, p in knn_rows)
        m["knn.collect_rows"] = _mean(sum(s.get("ring_collect_sizes", [])) for s in knn)
        return m


def _dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) under path; Spark's hidden bookkeeping files excluded."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def _skew(stage: dict) -> float:
    return stage["task_max_ms"] / max(1.0, stage["task_p50_ms"])


# ---------------------------------------------------------------- mosaic_rank

class MosaicRank(Workload):
    name = "mosaic_rank"
    n_pages = 1_000_000
    primary = "rank"
    n_probes = 3
    knn_k = 10

    def ranked(self):
        with self.span("plans.mosaic_query.ranked_from_pages"):
            out = MQ.ranked_from_pages(self.pages)
        return _swap_first_two(out, "tile_rank") if self.ctx.corrupt else out

    def expect(self, oracle) -> None:
        self.expected = oracle.rank_fingerprint()
        ids = I.sample_doc_ids(self.ctx.seed, self.n_pages, self.n_probes, salt=2)
        self.points = I.knn_points(self.ctx.seed, oracle.lonlat(ids))
        self.expected_knn = oracle.knn(self.points, self.knn_k)

    def warmup_ops(self) -> list[int]:
        return [0, 1, 2]  # the first passes still start up and JIT

    def probe_ops(self) -> list[int]:
        return [-1 - j for j in range(self.n_probes)]  # kNN queries on this table

    def kind_of(self, i: int) -> str:
        return "knn" if i < 0 else "rank"

    def knn(self, j: int):
        """k=10 expanding-ring kNN around query point j over the pages table."""
        with self.span("sources.pages.geocode"):
            pts = P.geocode(self.pages).select("doc_id", "lon", "lat")
        stats: dict = {}
        with self.span("operators.knn.knn_expanding_ring"):
            out = knn_expanding_ring(pts, [self.points[j]], k=self.knn_k, res=6, stats=stats)
        if self.ctx.corrupt:
            out = out.filter(F.col("rn") < self.knn_k)  # drop the last neighbour
        with self.span("collect"):
            rows = out.collect()
        return "knn", (j, rows, stats)

    def run(self, i: int):
        if i < 0:
            return self.knn(-1 - i)
        ranked = self.ranked()
        with self.span("collect"):
            rows = ranked.groupBy("tile_name").agg(
                F.count("*"),
                F.sum(F.pmod(F.col("doc_id") * F.col("tile_rank"), F.lit(O.CHECKSUM_MOD))),
                F.max("tile_rank")).collect()
        return "rank", rows

    def describe(self, kind, out) -> dict:
        if kind == "knn":
            return {"returned": len(out[1]), "stats": out[2]}
        return {"returned": sum(int(r[1]) for r in out)}

    def check(self, kind, out):
        if kind == "knn":
            j, rows, _stats = out
            return O.check_knn(rows, self.expected_knn[self.points[j][0]])
        return O.check_fingerprint(out, self.expected)

    def prefix_profile(self, reps: int = 3) -> dict:
        """Fused codegen layers timed by prefix differencing: noop-write the
        plan up to scan, geocode, tile assignment and score (median of
        ``reps`` rounds); a layer's time is the difference to the prefix before."""
        pages = self.pages
        scored = MQ.scored_pages(pages)
        prefixes = [  # each keeps only what its layer adds, so Catalyst prunes the rest
            ("scan", pages.select("doc_id", "html")),
            ("geocode", P.geocode(pages).select("doc_id", "lat", "lon")),
            ("tile", scored.select("doc_id", "tile_name")),
            ("score", scored.select("doc_id", "tile_name", "score")),
        ]
        ts: dict = {name: [] for name, _df in prefixes}
        for _ in range(reps):  # round robin, so JIT warming does not favour the last prefix
            for name, df in prefixes:
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                ts[name].append(time.perf_counter() - t0)
        walls = {name: statistics.median(v) * 1000.0 for name, v in ts.items()}
        n, hits, passed = MQ.scored_pages(pages).agg(
            F.count("*"), F.count("lat"), F.count(F.when(F.col("score") > 0, 1))).first()
        return {
            "pages.scan_ms": walls["scan"],
            "pages.geocode_ms": walls["geocode"] - walls["scan"],
            "tile_grid.assign_ms": walls["tile"] - walls["geocode"],
            "scoring.score_ms": walls["score"] - walls["tile"],
            "pages.geocode_hit_ratio": hits / max(1, n),
            "scoring.pass_ratio": passed / max(1, n),
        }


# --------------------------------------------------------------- mosaic_build

class MosaicBuild(Workload):
    name = "mosaic_build"
    n_pages = 40_000
    primary = "build"
    n_candidates = 1200
    threshold = 0.5  # deg^2, about 0.5 % of a 10x10 tile
    res = 6

    def expect(self, oracle) -> None:
        polys = I.footprints(self.ctx.seed)
        self.cands = I.cutline_candidates(self.ctx.seed, self.n_candidates)
        lon, lat = oracle.pip_matches(polys)
        self.n_matches = len(lon)
        self.expected_rasters = O.raster_expected(lon, lat)
        self.expected_cutline = O.cutline_expected(self.cands, self.threshold)
        self.polys = self.spark.createDataFrame(
            pd.DataFrame(polys, columns=["poly_id", "geom_wkt"]))
        self.cand_df = self.spark.createDataFrame(
            pd.DataFrame(self.cands, columns=I.CANDIDATE_COLUMNS))
        self.hot_tile = self.cands[0][0]

    def warmup_ops(self) -> list[int]:
        return [0, 1, 2]  # the first builds still start workers and JIT

    def _pixels(self, matches):
        row, col, name = tile_assign_cols(F.col("lon"), F.col("lat"),
                                          -180.0, -90.0, 180.0, 90.0, 10.0, 10.0, "world")
        px = O.RASTER_PX
        xmin = F.lit(-180.0) + (F.col("tile_col") - 1) * 10.0
        ymin = F.lit(-90.0) + (F.col("tile_row") - 1) * 10.0
        counts = (
            matches.select("lon", "lat", row, col, name)
            .withColumn("xmin", xmin).withColumn("ymin", ymin)
            .withColumn("px_col", F.least(F.lit(px - 1), F.floor(
                (F.col("lon") - F.col("xmin")) / 10.0 * px)).cast("int"))
            .withColumn("px_row", F.least(F.lit(px - 1), F.floor(
                (F.col("ymin") + 10.0 - F.col("lat")) / 10.0 * px)).cast("int"))
            .groupBy("tile_name", "xmin", "ymin", "px_row", "px_col")
            .agg(F.count("*").alias("n")))
        return counts.select(
            "tile_name", "xmin", "ymin", (F.col("xmin") + 10.0).alias("xmax"),
            (F.col("ymin") + 10.0).alias("ymax"), "px_row", "px_col",
            F.least(F.lit(255), F.col("n")).cast("int").alias("red"),
            F.lit(255).alias("green"), F.lit(0).alias("blue"))

    def run(self, i: int):
        out_dir = os.path.join(self.ctx.work, "out", f"op{i:05d}")
        shutil.rmtree(out_dir, ignore_errors=True)
        with self.span("sources.pages.geocode"):
            pts = P.geocode(self.pages).select("doc_id", "lon", "lat")
        with self.span("operators.spatial_join.points_in_polygons"):
            matches = SJ.points_in_polygons(pts, self.polys, res=self.res)
        with self.span("sources.sinks.write_raster_tiles"):
            manifest = write_raster_tiles(self._pixels(matches), os.path.join(out_dir, "raster"),
                                          O.RASTER_PX, O.RASTER_PX, fmt="bmp").collect()
        with self.span("operators.cutline.cutline_contributors"):
            contrib = cutline_contributors(self.cand_df, contribution_threshold=self.threshold)
        if self.ctx.corrupt:  # one contributor goes missing from a manifest
            contrib = contrib.filter((F.col("tile_name") != self.hot_tile)
                                     | (F.col("paint_order") != 1))
        with self.span("sources.sinks.write_intersect_manifests"):
            write_intersect_manifests(contrib, os.path.join(out_dir, "manifests"))
        return "build", (manifest, out_dir)

    def describe(self, kind, out) -> dict:
        manifest, out_dir = out
        tiles = [d for d in os.listdir(os.path.join(out_dir, "manifests"))
                 if d.startswith("tile_name=")]
        return {"returned": self.n_matches,
                "output": _dir_bytes(out_dir) + (len(manifest), len(tiles))}

    def check(self, kind, out):
        manifest, out_dir = out
        try:
            return (O.check_rasters(manifest, self.expected_rasters)
                    or O.check_manifests(os.path.join(out_dir, "manifests"),
                                         self.expected_cutline))
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)

    def kernel_profile(self) -> dict:
        """Driver-side kernels: winding-number PIP on a seeded sample, and the
        greedy cutline on the hot group."""
        rng = np.random.default_rng(self.ctx.seed)
        px = rng.uniform(-180.0, 180.0, 100_000)
        py = rng.uniform(-60.0, 60.0, 100_000)
        t0, work = time.perf_counter(), 0
        for _pid, wkt in I.footprints(self.ctx.seed):
            coords, offsets = G.parse_wkt_polygon(wkt)
            G.points_in_polygon(px, py, coords, offsets)
            work += len(px) * len(coords)
        pip_ns = (time.perf_counter() - t0) * 1e9 / work
        hot = sorted(((c[5], c[6], Region.from_rect(c[7], c[8], c[9], c[10]))
                      for c in self.cands if c[0] == self.hot_tile), key=lambda t: (t[1], t[0]))
        x0, x1, y0, y1 = self.cands[0][1:5]
        t0 = time.perf_counter()
        determine_contributors(hot, Region.from_rect(x0, y0, x1, y1), self.threshold)
        return {"geom.pip_ns_per_point_edge": pip_ns,
                "cutline.hot_group_kernel_ms": (time.perf_counter() - t0) * 1000.0}

    def layer_metrics(self, ops, view, spans) -> dict:
        m = super().layer_metrics(ops, view, spans)
        by_name: dict = {}
        for s in spans:
            by_name.setdefault((s["trace"], s["name"]), s)

        def grp(op, name):
            s = by_name.get((op["span"]["trace"], name))
            return view.get(s["group"], _NO_SPARK) if s else None

        rows = []
        for op in ops:
            raster, cut = (grp(op, "sources.sinks.write_raster_tiles"),
                           grp(op, "sources.sinks.write_intersect_manifests"))
            if raster and cut:
                rows.append((op, raster, cut))
        if not rows:
            return m

        def last_stage(g):
            st = g["stages"]
            return st[max(st)] if st else None

        cand = [metric(r["plans"], "ArrowEvalPython", "number of output rows")
                for _o, r, _c in rows]
        match = [metric(r["plans"], "Filter", "number of output rows", fed_by="ArrowEvalPython")
                 for _o, r, _c in rows]
        m["spatial_join.candidates"] = _mean(cand)
        m["spatial_join.matches"] = _mean(match)
        m["spatial_join.refine_ratio"] = _mean(b / max(1.0, a) for a, b in zip(cand, match))
        m["spatial_join.python_bytes_out"] = _mean(
            metric(r["plans"], "ArrowEvalPython", "data sent to Python workers")
            for _o, r, _c in rows)
        m["spatial_join.python_bytes_in"] = _mean(
            metric(r["plans"], "ArrowEvalPython", "data returned from Python workers")
            for _o, r, _c in rows)
        m["spatial_join.refine_ms"] = _mean(
            metric(r["plans"], "ArrowEvalPython", "time to run Python workers")
            for _o, r, _c in rows)
        selected = [metric(c["plans"], "FlatMapGroupsInPandas", "number of output rows")
                    for _o, _r, c in rows]
        m["cutline.selected_ratio"] = _mean(s / self.n_candidates for s in selected)
        cut_stages = [max(c["stages"].values(), key=lambda s: s["shuffle_read_records"])
                      for _o, _r, c in rows if c["stages"]]
        m["cutline.stage_ms"] = _mean((s["end"] - s["start"]) * 1000.0 for s in cut_stages)
        m["cutline.task_skew"] = _mean(_skew(s) for s in cut_stages)
        # the most candidate rows one cutline task received: the hot group and
        # whatever shares its shuffle partition
        m["cutline.max_group_rows"] = _mean(s["task_max_read_records"] for s in cut_stages)
        m["sinks.write_ms"] = _mean(
            sum((s["end"] - s["start"]) * 1000.0 for s in (last_stage(r), last_stage(c)) if s)
            for _o, r, c in rows)
        outs = [o["output"] for o, _r, _c in rows]
        m["cutline.groups"] = _mean(g for _f, _b, _t, g in outs)
        m["sinks.files_written"] = _mean(f for f, _b, _t, _g in outs)
        m["sinks.bytes_written"] = _mean(b for _f, b, _t, _g in outs)
        m["sinks.bytes_per_tile"] = _mean(b / max(1, t) for _f, b, t, _g in outs)
        return m


WORKLOADS = {w.name: w for w in (MosaicRank, MosaicBuild)}
