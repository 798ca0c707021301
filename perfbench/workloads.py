"""The benchmark workloads.

Each workload generates its seeded inputs (``generate``), loads them into
the session (``load``), and runs one fresh-plan closed-loop iteration
(``run``): build the plans, then materialise every output column into an
order-independent checksum while bringing back a seeded sample of rows.
``check`` compares those rows with the numpy brute force, and in the
traced run ``layers`` splits the time by layer. The engine is only called
through its public functions.

Sizes are chosen so that one benchmark process (session start, input
generation, the verified first run and the timed window) stays within
about a minute on a 4-core host; the reasons for every generator
parameter sit next to its value.
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import json
import os
import statistics
import sys
import time

import numpy as np

from perfbench import gen, oracle
from perfbench.report import checksum, checksum_and_sample, observed
from perfbench.tracing import COUNTERS

SAMPLE = 120  # verified rows per workload; enough to hit every probe kind
PIP_RES = 15  # enrich()'s default res_mid, the PIP cell resolution
RADIUS_M = 10_000.0
RESIZE = 32

# per-layer metrics by origin; each workload lists the ones it must produce
LIFECYCLE = {f"spark.{c}" for c in COUNTERS} | {"trace.overhead_share"}
PREFIX = {"grid.marginal_s", "operators.pip_join.marginal_s"}
PIP_COUNTS = {"operators.pip_join.refine_ratio", "operators.pip_join.candidates_per_probe"}
KNN_INDEX = {"operators.knn_join.build_index_s", "operators.knn_join.index_cells",
             "operators.knn_join.index_entries", "operators.knn_join.max_list",
             "operators.knn_join.mean_list_per_probe", "operators.knn_join.fallback_share"}


def _median_time(fn) -> float:
    """Median (that is, mean) seconds of two calls; the traced run's
    length does not allow more."""
    ts = []
    for _ in range(2):
        t = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t)
    return statistics.median(ts)


def _sample(rng_seed: int, ids: np.ndarray, k: int = SAMPLE) -> np.ndarray:
    rng = np.random.default_rng([rng_seed, 99])
    return np.sort(rng.choice(ids, size=min(k, len(ids)), replace=False))


class Workload:
    name = ""
    n_items = 0
    layer_metrics: set[str] = set()

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.spark = None

    def generate(self) -> None:
        raise NotImplementedError

    def load(self, spark) -> None:
        raise NotImplementedError

    def outputs(self) -> list:
        """Fresh plans of the workload's outputs, as (DataFrame, sample
        ids) pairs."""
        raise NotImplementedError

    def run(self):
        """One closed-loop iteration: build fresh plans, materialise every
        output column into its checksum and bring back the sample rows,
        one action per output. Returns the checksums; the sample rows of
        the last run are kept in ``self.rows``."""
        cks, self.rows = [], []
        for df, ids in self.outputs():
            ck, rows = checksum_and_sample(df, ids)
            cks.append(ck)
            self.rows.append(rows)
        return tuple(cks)

    def reference(self):
        """(checksum, mismatches) of the first run: its sample rows are
        compared with the brute force, so the checksum every timed run
        must reproduce is a verified one."""
        ref = self.run()
        return ref, self.check(self.rows)

    def check(self, rows: list[list]) -> list[str]:
        """Mismatches between the sample rows of each output and the
        brute force."""
        raise NotImplementedError

    def layers(self, tracer) -> dict[str, float]:
        raise NotImplementedError


def _engine():
    """The engine modules whose public functions the trace wraps."""
    from tiff_enrichment_pipeline_spark import grid
    from tiff_enrichment_pipeline_spark.operators import (
        distance_join, geo_arrow, knn_join, lineage, pip_join,
    )
    from tiff_enrichment_pipeline_spark.plans import enrich
    from tiff_enrichment_pipeline_spark.raster import multimodal
    from tiff_enrichment_pipeline_spark.sources import images

    return dict(grid=grid, distance_join=distance_join, geo_arrow=geo_arrow,
                knn_join=knn_join, lineage=lineage, pip_join=pip_join,
                enrich=enrich, multimodal=multimodal, images=images)


def install_wraps(tracer) -> None:
    """Wrap every public engine function the workloads reach, at each
    module that holds a reference to it."""
    from pyspark.sql.readwriter import DataFrameWriter

    m = _engine()
    tracer.wrap(m["enrich"], "enrich", "plans.enrich.enrich")
    tracer.wrap(m["enrich"], "landcover_pip_join", "operators.pip_join.landcover_pip_join")
    tracer.wrap(m["enrich"], "fused_station_dem_lookup",
                "operators.geo_arrow.fused_station_dem_lookup")
    tracer.wrap(m["grid"], "cell_of", "grid.cell_of")
    tracer.wrap(m["pip_join"], "landcover_pip_join", "operators.pip_join.landcover_pip_join")
    tracer.wrap(m["pip_join"], "polygon_cell_cover", "operators.pip_join.polygon_cell_cover")
    tracer.wrap(m["geo_arrow"], "build_knn_index", "operators.knn_join.build_knn_index",
                capture=True)
    tracer.wrap(m["knn_join"], "build_knn_index", "operators.knn_join.build_knn_index",
                capture=True)
    tracer.wrap(m["knn_join"], "knn_nearest", "operators.knn_join.knn_nearest")
    tracer.wrap(m["knn_join"], "pack_observations_columnar",
                "operators.knn_join.pack_observations_columnar", capture=True)
    tracer.wrap(m["knn_join"], "packed_obs_lookup", "operators.knn_join.packed_obs_lookup")
    tracer.wrap(m["distance_join"], "within_distance_join",
                "operators.distance_join.within_distance_join")
    tracer.wrap(m["images"], "write_images", "sources.images.write_images")
    tracer.wrap(m["images"], "read_images", "sources.images.read_images")
    tracer.wrap(m["lineage"].RunRecorder, "finish", "operators.lineage.finish")
    tracer.wrap(m["multimodal"], "resize_and_extract", "raster.multimodal.resize_and_extract")
    tracer.wrap(m["multimodal"], "band_pixel_stats", "raster.multimodal.band_pixel_stats")
    # the CLI writes its lineage and metrics tables inline
    tracer.wrap(DataFrameWriter, "parquet", _parquet_span)


def _parquet_span(writer, path, *args, **kwargs) -> str:
    if str(path).rstrip("/").endswith(("/lineage", "/metrics")):
        return "operators.lineage.write"
    return "pyspark.DataFrameWriter.parquet"


def _index_counts(tracer, lon: np.ndarray, lat: np.ndarray) -> dict[str, float]:
    """Size of the last kNN index the engine built and how the workload's
    probes meet it: list length per probe, and the share of probes whose
    cell has no list (those take the full-scan fallback)."""
    from tiff_enrichment_pipeline_spark.grid import cell_of_np

    built = tracer.captured.get("operators.knn_join.build_knn_index")
    if not built:
        return {}
    index, res_f = built[-1]
    lens = {c: len(v) for c, v in index.items()}
    ok = ~np.isnan(lon) & ~np.isnan(lat)
    cells = cell_of_np(lon[ok], lat[ok], res_f)
    per_probe = np.array([lens.get(int(c), 0) for c in cells])
    covered = per_probe > 0
    return {
        "operators.knn_join.index_cells": float(len(index)),
        "operators.knn_join.index_entries": float(sum(lens.values())),
        "operators.knn_join.max_list": float(max(lens.values(), default=0)),
        "operators.knn_join.mean_list_per_probe":
            float(per_probe[covered].mean()) if covered.any() else 0.0,
        "operators.knn_join.fallback_share":
            float(1.0 - covered.mean()) if len(cells) else 0.0,
    }


def _pip_counts(polygons_df, probe_df, lon, lat, res=PIP_RES) -> dict[str, float]:
    """Cell-join candidates (through the public polygon_cell_cover) and
    matches (non-NULL polygon_id in the join output)."""
    from pyspark.sql import functions as F

    from tiff_enrichment_pipeline_spark.grid import cell_of_np

    cover_rows = _engine()["pip_join"].polygon_cell_cover(polygons_df, res).select("cell").collect()
    cover = np.array([r[0] for r in cover_rows], np.int64)
    cells, counts = np.unique(cover, return_counts=True)
    ok = ~np.isnan(lon) & ~np.isnan(lat)
    pc = cell_of_np(lon[ok], lat[ok], res)
    pos = np.searchsorted(cells, pc)
    pos = np.clip(pos, 0, max(len(cells) - 1, 0))
    cand = float(np.where(cells[pos] == pc, counts[pos], 0).sum()) if len(cells) else 0.0
    matches = probe_df.agg(F.count("polygon_id")).collect()[0][0]
    return {
        "operators.pip_join.refine_ratio": matches / cand if cand else 0.0,
        "operators.pip_join.candidates_per_probe": cand / max(int(ok.sum()), 1),
    }


# ---------------------------------------------------------------------------
# cli_batch
# ---------------------------------------------------------------------------

def dem_tile_keys() -> set[tuple[int, int]]:
    """(tile_x, tile_y) of every DEM tile the enrichment inputs carry."""
    from tiff_enrichment_pipeline_spark.fixtures import dem_tiles_pdf

    t = dem_tiles_pdf()
    return set(zip(t["tile_x"].astype(int), t["tile_y"].astype(int)))


def check_enriched(r, lon, lat, st_id, st_lat, st_lon, tiles, dated):
    """Mismatches between one enrich() output row and the brute force."""
    errs = []
    iid = r["image_id"]
    if np.isnan(lon) or np.isnan(lat):
        if r["enrich_status"] != "no_gps" or r["weather_station_id"] is not None:
            errs.append(f"{iid}: no-GPS row enriched")
        return errs
    if r["enrich_status"] != "enriched":
        errs.append(f"{iid}: status {r['enrich_status']}")
        return errs
    if not (oracle.close(r["lon"], lon, abs_=1e-12) and oracle.close(r["lat"], lat, abs_=1e-12)):
        errs.append(f"{iid}: coordinates changed")
    sid, dist, amb = oracle.nearest(lat, lon, st_lat, st_lon, st_id)
    got = r["weather_station_id"]
    if got != sid and not amb:
        errs.append(f"{iid}: station {got}, brute force {sid}")
    if not oracle.close(r["weather"]["nearest_dist_m"], dist, rel=1e-7, abs_=1e-3):
        errs.append(f"{iid}: dist {r['weather']['nearest_dist_m']} vs {dist}")
    exp = oracle.dated_obs(got, dated)
    if r["weather_historical_date"] != dated:
        errs.append(f"{iid}: weather date {r['weather_historical_date']} vs {dated}")
    for c, v in zip(("temp_c", "wind_ms", "precip_mm"), exp or (None,) * 3):
        if not oracle.close(r["weather"][c], v, abs_=1e-9):
            errs.append(f"{iid}: dated {c} {r['weather'][c]} vs {v}")
    lc, edge = oracle.landcover_rect(lon, lat)
    got = None if r["polygon_id"] is None else (
        r["polygon_id"], r["land_cover_class"], r["land_cover_confidence"])
    if not edge and got != lc:
        errs.append(f"{iid}: land cover {got} vs {lc}")
    elev = oracle.dem_bilinear(lon, lat, tiles)
    if not oracle.close(r["elevation"], elev, rel=1e-9, abs_=1e-9):
        errs.append(f"{iid}: elevation {r['elevation']} vs {elev}")
    for k, res in (("cell_r7", 13), ("cell_r9", 17)):
        nx = 2 ** res
        ix = min(max(int(np.floor((lon + 180.0) / 360.0 * nx)), 0), nx - 1)
        iy = min(max(int(np.floor((lat + 90.0) / 180.0 * (nx // 2))), 0), nx // 2 - 1)
        if r[k] != res * 2**56 + ix * 2**28 + iy:
            errs.append(f"{iid}: {k}")
    return errs


def prefix_marginals(tracer, images, landcover, stations, dem, observations) -> dict[str, float]:
    """Marginal seconds per layer from prefix runs of the enrich() DAG:
    scan, +grid cells, +PIP land cover, +fused 1-NN/DEM lookup, +dated
    weather lookup. Each prefix is built fresh and materialised through
    the same checksum sink; a layer's marginal is the difference of
    consecutive medians of two runs."""
    from pyspark.sql import functions as F

    from tiff_enrichment_pipeline_spark.functions.geo import gps_valid

    m = _engine()
    grid, kj = m["grid"], m["knn_join"]

    def p0():
        return images.filter(gps_valid(F.col("lat"), F.col("lon")))

    def p1():
        return (p0().withColumn("cell_r7", grid.cell_of(F.col("lon"), F.col("lat"), grid.RES7))
                .withColumn("cell_r9", grid.cell_of(F.col("lon"), F.col("lat"), grid.RES9)))

    def p2():
        return m["pip_join"].landcover_pip_join(p1(), landcover, res=PIP_RES)

    def p3():
        return m["geo_arrow"].fused_station_dem_lookup(p2(), stations, dem)

    def p4():
        obs = observations.withColumnRenamed("obs_date", "weather_historical_date")
        geo = p3().withColumn("weather_historical_date", F.to_date(F.col("captured_at")))
        return kj.packed_obs_lookup(geo, kj.pack_observations_columnar(obs))

    med = {}
    for name, build in (("scan", p0), ("grid", p1), ("pip_join", p2), ("geo_arrow", p3),
                        ("dated", p4)):
        with tracer.span(f"prefix.{name}"):
            med[name] = _median_time(lambda b=build: checksum(b()))
    return {
        "grid.marginal_s": med["grid"] - med["scan"],
        "operators.pip_join.marginal_s": med["pip_join"] - med["grid"],
        "operators.geo_arrow.marginal_s": med["geo_arrow"] - med["pip_join"],
        "operators.knn_join.pack_obs_marginal_s": med["dated"] - med["geo_arrow"],
    }


CLI_SF = gen.SfParams(
    n_orders=500,            # a CLI run costs 8-16 s on 4 cores at 500-2k images,
                             # mostly fixed (plan builds, many small Spark jobs,
                             # the small-file write): more images add time, not
                             # signal
    hot_share=0.20,          # the engine's own skew fixture share (images_geo)
    world_share=0.20,        # the engine's own mix (key % 10 in {8, 9}); most
                             # worldwide images get a (bucket, res-4 cell)
                             # directory of their own, so this share sets the
                             # file count of the partitioned write
    key_space=400_000,       # sparse keys
    n_suppliers=60,          # 60 stations x the 2557-day history packs ~150k obs
    supplier_key_space=2_000,  # > 234 grid slots, so some stations share a slot
    date_lo="1994-01-01",
    date_days=2_800,         # ~1/8 of dates fall outside the 1995-2001 history
)
CLI_CONFIG = {"use_observations": True}


class CliBatch(Workload):
    """The module CLI end to end: dated enrichment, partitioned write,
    read-back, run recorder, lineage and metrics writes."""

    name = "cli_batch"
    # per-layer metrics this workload must produce; the rest of
    # BENCHMARK.json's per_layer list is bypassed here and reads 0
    layer_metrics = LIFECYCLE | PREFIX | PIP_COUNTS | KNN_INDEX | {
        "plans.enrich.build_s", "operators.geo_arrow.marginal_s",
        "operators.knn_join.pack_obs_marginal_s",
        "operators.knn_join.packed_obs_bytes", "sources.images.write_s",
        "sources.images.read_s", "sources.images.files_written",
        "sources.images.bytes_written", "sources.images.out_bytes_per_image",
        "operators.lineage.finish_s", "operators.lineage.write_s",
    }

    def generate(self):
        self.sf = gen.sf_dir(CLI_SF, self.seed, f"{self.work}/sf")
        self.out = f"{self.work}/out"
        self.cfg = f"{self.work}/cli_config.json"
        with open(self.cfg, "w") as f:
            json.dump(CLI_CONFIG, f)
        self.n_items = CLI_SF.n_orders

    def load(self, spark):
        self.spark = spark
        self.tiles = dem_tile_keys()

    def run(self):
        """One CLI invocation; the checksum rides the enriched write as a
        Spark Observation, so it is computed in the pass that writes."""
        from tiff_enrichment_pipeline_spark.__main__ import main

        mod = _engine()["images"]
        orig = mod.write_images
        seen = []

        def write_observed(df, *a, **kw):
            watched, result = observed(df)
            seen.append(result)
            return orig(watched, *a, **kw)

        mod.write_images = write_observed
        try:
            with contextlib.redirect_stdout(sys.stderr):
                rc = main([f"{self.work}/sf", self.out, "--config", self.cfg])
        finally:
            mod.write_images = orig
        if rc != 0:
            raise RuntimeError(f"CLI exited {rc}")
        return seen[0]()

    def reference(self):
        """The first CLI run gives the checksum; the sample rows are read
        back from what it wrote."""
        from pyspark.sql import functions as F

        ref = self.run()
        keys = _sample(self.seed, self.sf["o_orderkey"])
        rows = self.spark.read.parquet(f"{self.out}/enriched").filter(
            F.col("image_id").isin([int(k) for k in keys])).collect()
        return ref, self.check([rows])

    def check(self, rows):
        from pyspark.sql import functions as F

        keys = _sample(self.seed, self.sf["o_orderkey"])
        rows = rows[0]
        errs = []
        if len(rows) != len(keys):
            errs.append(f"cli_batch: {len(rows)} sample rows, expected {len(keys)}")
        lon_all, lat_all = oracle.sf_images(self.sf["o_orderkey"])
        at = {int(k): i for i, k in enumerate(self.sf["o_orderkey"])}
        s_lon, s_lat = oracle.sf_stations(self.sf["s_suppkey"])
        for r in rows:
            i = at[r["image_id"]]
            day = gen.EPOCH + _dt.timedelta(days=int(self.sf["day"][i]))
            errs += check_enriched(r, lon_all[i], lat_all[i], self.sf["s_suppkey"], s_lat,
                                   s_lon, self.tiles, day)
        n_lineage = self.spark.read.parquet(f"{self.out}/lineage").agg(
            F.sum("rows_out")).collect()[0][0]
        if n_lineage != self.n_items:
            errs.append(f"cli_batch: lineage counts {n_lineage} rows, expected {self.n_items}")
        return errs

    def layers(self, tracer):
        from tiff_enrichment_pipeline_spark import geotables
        from tiff_enrichment_pipeline_spark.fixtures import dem_tiles_df

        sp, sf = self.spark, f"{self.work}/sf"
        images = geotables.images_geo(sp, sf)
        lc = geotables.landcover_polygons(sp)
        stations = geotables.stations(sp, sf)
        obs = geotables.weather_observations(sp, sf)
        out = prefix_marginals(tracer, images, lc, stations, dem_tiles_df(sp), obs)
        packed = tracer.captured["operators.knn_join.pack_observations_columnar"][-1]
        out["operators.knn_join.packed_obs_bytes"] = packed_bytes(packed)
        lon, lat = oracle.sf_images(self.sf["o_orderkey"])
        out.update(_index_counts(tracer, lon, lat))
        probe = _engine()["pip_join"].landcover_pip_join(images, lc, res=PIP_RES)
        out.update(_pip_counts(lc, probe, lon, lat))
        files, size = 0, 0
        for root, _, names in os.walk(f"{self.out}/enriched"):
            for nm in names:
                if nm.endswith(".parquet") and "_layout" not in root:
                    files += 1
                    size += os.path.getsize(os.path.join(root, nm))
        out["sources.images.files_written"] = float(files)
        out["sources.images.bytes_written"] = float(size)
        out["sources.images.out_bytes_per_image"] = size / self.n_items
        return out


def packed_bytes(packed) -> float:
    """Payload bytes of the packed observation dimension: 8 B per value of
    every ``_obsv_*`` array plus 4 B per sparse day offset."""
    from pyspark.sql import functions as F

    vals = [c for c in packed.columns if c.startswith("_obsv_")]
    n = F.lit(0)
    for c in vals:
        n = n + F.coalesce(F.size(c), F.lit(0)) * 8
    n = n + F.coalesce(F.size("_obs_days"), F.lit(0)).cast("long") * 4
    return float(packed.agg(F.sum(F.greatest(n, F.lit(0)))).collect()[0][0] or 0)


# ---------------------------------------------------------------------------
# dense_joins
# ---------------------------------------------------------------------------

DENSE_IMAGES = gen.ImageParams(
    n=5_000,           # per-run cost is mostly fixed; more probes add little signal
    hot_share=0.20,    # the engine's own skew fixture share (images_geo)
    world_share=0.20,  # world probes sit outside the index: the kNN fallback scan
    null_share=0.01,   # NULL GPS: must produce no match in every join
    nan_share=0.01,    # NaN GPS: must route like NULL
    date_lo="1995-01-01",
    date_days=2400,    # ~6.5 years, the observation history's span
    files=8,           # 2 read tasks per core, no repartition by the benchmark
)
DENSE_STATIONS = gen.StationParams(
    n=10_000,                # a dense network: ring lists grow with density
    world_share=0.003,       # scattered stations dilate the driver-side index
                             # (each adds ~289 cells scored against every
                             # station); non-zero on purpose, and at 30 of them
                             # the build stays near 2 s per call
    clusters=24,             # stations crowd around towns, not a lattice
    cluster_sigma_deg=0.12,  # ~10 km spread per town cluster
    clone_share=0.01,        # co-located stations: exercises the smallest-id tie rule
)
DENSE_POLYGONS = gen.PolygonParams(
    n=150,          # the cover is broadcast with every vertex ring: keep it small
    vertices=24,    # many-vertex rings make the even-odd UDF do real work
    r_min_deg=0.02, r_max_deg=0.06,  # 2-7 km features: the res-15 cover stays at thousands of rows
    hot_share=0.10,  # overlapping polygons on the hot cluster: the dedupe path
)


class DenseJoins(Workload):
    """knn_nearest, within_distance_join and the concave PIP join over the
    same probes against large build sides."""

    def generate(self):
        self.img = gen.images(DENSE_IMAGES, self.seed, f"{self.work}/images")
        self.st = gen.stations(DENSE_STATIONS, self.seed, f"{self.work}/stations.parquet")
        self.polys = gen.polygons(DENSE_POLYGONS, self.seed, f"{self.work}/polygons.parquet")
        self.n_items = DENSE_IMAGES.n

    def load(self, spark):
        self.spark = spark
        read = spark.read.schema
        self.images = read(gen.IMAGES_DDL).parquet(f"{self.work}/images")
        self.stations = read(gen.STATIONS_DDL).parquet(f"{self.work}/stations.parquet")
        self.polygons = read(gen.POLYGONS_DDL).parquet(f"{self.work}/polygons.parquet")

    def knn(self):
        return _engine()["knn_join"].knn_nearest(self.images, self.stations)

    def radius(self):
        return _engine()["distance_join"].within_distance_join(
            self.images, self.stations, RADIUS_M)

    def pip(self):
        return _engine()["pip_join"].landcover_pip_join(
            self.images, self.polygons, res=PIP_RES, rects_only_nonoverlapping=False)

    def outputs(self):
        ids = _sample(self.seed, self.img["image_id"])
        return [(self.knn(), ids), (self.radius(), ids), (self.pip(), ids)]

    def check(self, rows):
        ids = _sample(self.seed, self.img["image_id"])
        at = {int(i): k for k, i in enumerate(self.img["image_id"])}
        st = self.st
        errs = []
        knn = {r["image_id"]: r for r in rows[0]}
        pairs: dict[int, set] = {}
        for r in rows[1]:
            iid, sid = r["image_id"], r["station_id"]
            pairs.setdefault(iid, set()).add(sid)
            k = at[iid]
            j = int(np.flatnonzero(st["station_id"] == sid)[0])
            d = oracle.haversine_m(self.img["lat"][k], self.img["lon"][k],
                                   st["st_lat"][j], st["st_lon"][j])
            if not oracle.close(r["dist_m"], d, rel=1e-9, abs_=1e-6):
                errs.append(f"{iid}: radius dist_m {r['dist_m']} vs {d}")
        pip = {r["image_id"]: r for r in rows[2]}
        if len(knn) != len(ids) or len(pip) != len(ids):
            errs.append(f"dense_joins: sample rows knn {len(knn)} pip {len(pip)} of {len(ids)}")
        for iid in ids:
            iid = int(iid)
            k = at[iid]
            lon, lat = self.img["lon"][k], self.img["lat"][k]
            r = knn.get(iid)
            if np.isnan(lon) or np.isnan(lat):
                if r is None or r["station_id"] is not None or pairs.get(iid):
                    errs.append(f"{iid}: no-GPS probe matched")
                continue
            sid, dist, amb = oracle.nearest(lat, lon, st["st_lat"], st["st_lon"], st["station_id"])
            if r is None or (r["station_id"] != sid and not amb) or not oracle.close(
                    r["dist_m"], dist, rel=1e-7, abs_=1e-3):
                errs.append(f"{iid}: knn {r and (r['station_id'], r['dist_m'])} vs {(sid, dist)}")
            inside, boundary = oracle.radius_pairs(lat, lon, st["st_lat"], st["st_lon"],
                                                   st["station_id"], RADIUS_M)
            if (pairs.get(iid, set()) ^ inside) - boundary:
                errs.append(f"{iid}: radius pairs differ by {(pairs.get(iid, set()) ^ inside)}")
            exp, edge = oracle.pip_best(lon, lat, self.polys)
            rp = pip.get(iid)
            got = None if rp is None or rp["polygon_id"] is None else (
                rp["polygon_id"], rp["land_cover_class"], rp["land_cover_confidence"])
            if not edge and got != exp:
                errs.append(f"{iid}: pip {got} vs {exp}")
        return errs

    def layers(self, tracer):
        from pyspark.sql import functions as F

        m = _engine()
        base = self.images

        def cells():
            return base.withColumn(
                "cell", m["grid"].cell_of(F.col("lon"), F.col("lat"), PIP_RES))

        def pip():
            return m["pip_join"].landcover_pip_join(
                cells(), self.polygons, res=PIP_RES, rects_only_nonoverlapping=False)

        # consecutive prefixes scan -> +grid -> +PIP, as on cli_batch; the
        # radius join is its own branch over the scan
        med = {}
        for name, build in (("scan", lambda: base), ("grid", cells), ("pip_join", pip),
                            ("distance_join", self.radius)):
            with tracer.span(f"prefix.{name}"):
                med[name] = _median_time(lambda b=build: checksum(b()))
        n_pairs = checksum(self.radius())[0]
        out = {
            "grid.marginal_s": med["grid"] - med["scan"],
            "operators.pip_join.marginal_s": med["pip_join"] - med["grid"],
            "operators.distance_join.marginal_s": med["distance_join"] - med["scan"],
            "operators.distance_join.pairs_out": float(n_pairs),
        }
        out.update(_index_counts(tracer, self.img["lon"], self.img["lat"]))
        out.update(_pip_counts(self.polygons, self.pip(), self.img["lon"], self.img["lat"]))
        return out


# ---------------------------------------------------------------------------
# band_decode
# ---------------------------------------------------------------------------

BAND_PAYLOADS = gen.PayloadParams(
    n=1_000,
    side=64,     # the fixture band size the multimodal kernels are tuned for
    # production mix (fixtures.band_rows_from_orders): per 11 bands, 8 raw,
    # 1 q12, 1 png, and 1 TIFF split between gray and RGB containers
    fmt_weights=(8.0, 1.0, 1.0, 0.5, 0.5),
    # TIFF profile rotation of the same fixture: deflate strips most often,
    # LZW on ~3/16 (its pure-Python decode is the slow path), tiled,
    # BigTIFF and PackBits each present
    tiff_weights=(6.0, 2.0, 2.0, 1.0, 2.0, 1.0),
    files=8,
)


class BandDecode(Workload):
    """raster.multimodal.resize_and_extract over mixed-format band payloads."""

    def generate(self):
        self.fmts, self.pixels = gen.payloads(BAND_PAYLOADS, self.seed, f"{self.work}/payloads")
        self.n_items = BAND_PAYLOADS.n

    def load(self, spark):
        self.spark = spark
        self.payloads = spark.read.schema(gen.PAYLOADS_DDL).parquet(f"{self.work}/payloads")

    def outputs(self):
        ids = _sample(self.seed, np.arange(1, self.n_items + 1))
        return [(_engine()["multimodal"].resize_and_extract(self.payloads, RESIZE, RESIZE), ids)]

    def check(self, rows):
        ids = _sample(self.seed, np.arange(1, self.n_items + 1))
        rows = rows[0]
        errs = []
        if len(rows) != len(ids):
            errs.append(f"band_decode: {len(rows)} sample rows, expected {len(ids)}")
        for r in rows:
            i = r["image_id"] - 1
            px = oracle.decoded_pixels(self.pixels[i], self.fmts[i])
            exp = oracle.band_features(px, RESIZE)
            got = (r["px_mean"], r["px_std"], r["px_p95"], r["edge_energy"])
            if not all(oracle.close(g, e, rel=1e-9, abs_=1e-9) for g, e in zip(got, exp)):
                errs.append(f"payload {r['image_id']} ({self.fmts[i]}): {got} vs {exp}")
        return errs

    def layers(self, tracer):
        from pyspark.sql import functions as F

        from tiff_enrichment_pipeline_spark.raster import codec

        mm = _engine()["multimodal"]
        out = {}
        with tracer.span("prefix.resize_and_extract"):
            out["raster.multimodal.resize_and_extract_s"] = _median_time(
                lambda: checksum(mm.resize_and_extract(self.payloads, RESIZE, RESIZE)))
        # band_pixel_stats keys rows by the image table's string image_id
        as_table = self.payloads.withColumn("image_id", F.col("image_id").cast("string"))
        with tracer.span("prefix.band_pixel_stats"):
            out["raster.multimodal.band_pixel_stats_s"] = _median_time(
                lambda: checksum(mm.band_pixel_stats(as_table)))
        # single-core decode cost per payload, format by format, on the
        # driver (the worker-side call is not observable from outside)
        rows = self.payloads.select("image_id", "bytes", "fmt").collect()
        by_fmt: dict[str, list] = {}
        for r in rows:
            by_fmt.setdefault(r["fmt"], []).append(bytes(r["bytes"]))
        side = BAND_PAYLOADS.side
        for fmt in gen.FORMATS:
            blobs = by_fmt.get(fmt, [])[:400]
            t = time.perf_counter()
            for b in blobs:
                codec.decode(b, side, side, fmt)
            out[f"raster.codec.decode_s.{fmt}"] = (
                (time.perf_counter() - t) / len(blobs) if blobs else 0.0)
        return out


class JoinsDecode(Workload):
    """The engine's batch operators outside the CLI in one closed loop:
    the three dense joins over seeded probes, then resize_and_extract over
    seeded band payloads. One workload rather than two because every
    benchmark process pays 30-45 s of session start and cold first run on
    a 4-core host, and two more processes per seed do not fit the run
    budget; items per second counts probes plus payloads. Each run prints
    its split between the joins and the decode to stderr."""

    name = "joins_decode"
    layer_metrics = LIFECYCLE | PREFIX | PIP_COUNTS | KNN_INDEX | {
        "operators.distance_join.marginal_s", "operators.distance_join.pairs_out",
        "raster.multimodal.resize_and_extract_s", "raster.multimodal.band_pixel_stats_s",
    } | {f"raster.codec.decode_s.{f}" for f in gen.FORMATS}

    def __init__(self, seed: int, work: str):
        super().__init__(seed, work)
        self.parts = [DenseJoins(seed, work), BandDecode(seed, work)]

    def run(self):
        cks, rows, split = [], [], []
        for p in self.parts:
            t = time.perf_counter()
            cks += p.run()
            rows += p.rows
            split.append(time.perf_counter() - t)
        self.rows = rows
        print(f"joins_decode split: joins {split[0]:.3f} s, decode {split[1]:.3f} s",
              file=sys.stderr)
        return tuple(cks)

    def generate(self):
        for p in self.parts:
            p.generate()
        self.n_items = sum(p.n_items for p in self.parts)

    def load(self, spark):
        self.spark = spark
        for p in self.parts:
            p.load(spark)

    def check(self, rows):
        return self.parts[0].check(rows[:3]) + self.parts[1].check(rows[3:])

    def layers(self, tracer):
        out = {}
        for p in self.parts:
            out.update(p.layers(tracer))
        return out


WORKLOADS = {w.name: w for w in (CliBatch, JoinsDecode)}
