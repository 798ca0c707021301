"""Seeded input generator for the benchmark workloads.

Every table is a pure function of (parameters, seed): numpy's PCG64 stream
per table, fixed row order, and parquet written by pyarrow with pinned
writer settings, so the same seed gives byte-identical files
(``tests/test_perfbench.py`` checks this). The engine only ever sees the
parquet written here; the numpy arrays returned alongside feed the
brute-force oracle (``oracle.py``) without going through the engine.

Geography mirrors the engine's own fixtures: the land-cover tiling and
the DEM cover the NL box (lon [3.0, 7.3), lat [50.7, 53.6)), and the hot
cluster is the ~0.02° Amsterdam square the skew fixtures use.
"""

from __future__ import annotations

import datetime as _dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NL_LON0, NL_LAT0, NL_LON_SPAN, NL_LAT_SPAN = 3.0, 50.7, 4.3, 2.9
HOT_LON, HOT_LAT, HOT_SPAN = 4.89, 52.37, 0.02
EPOCH = _dt.date(1970, 1, 1)
LC_CLASSES = (
    "tree_cover", "shrubland", "grassland", "cropland", "built_up",
    "bare", "snow_ice", "water", "wetland", "mangroves",
)
# Spark schemas of the generated tables (read with them, no inference job)
IMAGES_DDL = "image_id long, lon double, lat double, alt double, captured_at timestamp"
STATIONS_DDL = ("station_id long, st_lon double, st_lat double, temp_c double, "
                "wind_ms double, precip_mm double")
POLYGONS_DDL = ("polygon_id string, land_cover_class string, confidence double, "
                "xmin double, ymin double, xmax double, ymax double, "
                "vertices array<struct<x:double,y:double>>, is_rect boolean")
PAYLOADS_DDL = "image_id long, bytes binary, w int, h int, fmt string"
FORMATS = ("raw-u16", "lossy-q12", "png", "tiff", "tiff-rgb")
TIFF_PROFILES = ("deflate", "lzw", "tiled", "tiled-lzw", "bigtiff", "packbits")


@dataclass(frozen=True)
class ImageParams:
    n: int
    hot_share: float
    world_share: float
    null_share: float
    nan_share: float
    date_lo: str
    date_days: int
    files: int


@dataclass(frozen=True)
class StationParams:
    n: int
    world_share: float
    clusters: int
    cluster_sigma_deg: float
    clone_share: float


@dataclass(frozen=True)
class PolygonParams:
    n: int
    vertices: int
    r_min_deg: float
    r_max_deg: float
    hot_share: float


@dataclass(frozen=True)
class PayloadParams:
    n: int
    side: int
    fmt_weights: tuple[float, ...]  # aligned with FORMATS
    tiff_weights: tuple[float, ...]  # aligned with TIFF_PROFILES
    files: int


@dataclass(frozen=True)
class SfParams:
    n_orders: int
    hot_share: float
    world_share: float
    key_space: int
    n_suppliers: int
    supplier_key_space: int
    date_lo: str
    date_days: int


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


def _write(table: pa.Table, path: str, files: int = 1) -> None:
    """Write ``table`` as ``files`` parquet parts under ``path`` (a
    directory), or as one file when ``path`` ends in .parquet."""
    opts = dict(compression="snappy", use_dictionary=True,
                write_statistics=True, coerce_timestamps="us")
    if path.endswith(".parquet"):
        pq.write_table(table, path, **opts)
        return
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for i in range(files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"), **opts)


def _world_points(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Area-uniform points on the sphere."""
    lon = rng.uniform(-180.0, 180.0, n)
    lat = np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, n)))
    return lon, lat


def images(p: ImageParams, seed: int, path: str) -> dict[str, np.ndarray]:
    """Geotagged image metadata: (image_id, lon, lat, alt, captured_at).

    A row is in the hot cluster with probability ``hot_share``, worldwide
    with ``world_share``, in the NL box otherwise; independently its GPS
    is NULL with ``null_share`` and NaN with ``nan_share``. Returns
    image_id, lon and lat as numpy arrays (NULL GPS reads NaN)."""
    rng = _rng(seed, 1)
    n = p.n
    u = rng.random(n)
    lon = NL_LON0 + rng.random(n) * NL_LON_SPAN
    lat = NL_LAT0 + rng.random(n) * NL_LAT_SPAN
    hot = u < p.hot_share
    lon[hot] = HOT_LON + (rng.random(hot.sum()) - 0.5) * HOT_SPAN
    lat[hot] = HOT_LAT + (rng.random(hot.sum()) - 0.5) * HOT_SPAN
    world = (u >= p.hot_share) & (u < p.hot_share + p.world_share)
    lon[world], lat[world] = _world_points(rng, int(world.sum()))
    g = rng.random(n)
    gps_null = g < p.null_share
    gps_nan = (g >= p.null_share) & (g < p.null_share + p.nan_share)
    lon[gps_null | gps_nan] = np.nan
    lat[gps_null | gps_nan] = np.nan
    image_id = rng.permutation(n).astype(np.int64) + 1
    alt = 20.0 + rng.random(n) * 100.0
    lo = (_dt.date.fromisoformat(p.date_lo) - EPOCH).days * 86_400_000_000
    ts = lo + rng.integers(0, p.date_days * 86_400, n) * 1_000_000
    table = pa.table({
        "image_id": pa.array(image_id),
        "lon": pa.array(lon, mask=gps_null),
        "lat": pa.array(lat, mask=gps_null),
        "alt": pa.array(alt),
        "captured_at": pa.array(ts, pa.timestamp("us", tz="UTC")),
    })
    _write(table, path, p.files)
    return {"image_id": image_id, "lon": lon, "lat": lat}


def stations(p: StationParams, seed: int, path: str) -> dict[str, np.ndarray]:
    """Weather stations: (station_id, st_lon, st_lat, temp_c, wind_ms,
    precip_mm). NL stations are Gaussian clusters around ``clusters``
    centres (one of them the hot cluster); ``world_share`` are scattered
    worldwide; ``clone_share`` of the table are exact coordinate clones
    of another station, so the 1-NN tie rule (smallest id) is exercised.
    Ids are a random permutation, unrelated to position."""
    rng = _rng(seed, 2)
    n = p.n
    n_world = int(round(n * p.world_share))
    n_clone = int(round(n * p.clone_share))
    n_nl = n - n_world - n_clone
    cx = NL_LON0 + rng.random(p.clusters) * NL_LON_SPAN
    cy = NL_LAT0 + rng.random(p.clusters) * NL_LAT_SPAN
    cx[0], cy[0] = HOT_LON, HOT_LAT
    c = rng.integers(0, p.clusters, n_nl)
    nl_lon = np.clip(cx[c] + rng.normal(0.0, p.cluster_sigma_deg, n_nl),
                     NL_LON0, NL_LON0 + NL_LON_SPAN)
    nl_lat = np.clip(cy[c] + rng.normal(0.0, p.cluster_sigma_deg, n_nl),
                     NL_LAT0, NL_LAT0 + NL_LAT_SPAN)
    w_lon, w_lat = _world_points(rng, n_world)
    lon = np.concatenate([nl_lon, w_lon])
    lat = np.concatenate([nl_lat, w_lat])
    src = rng.integers(0, len(lon), n_clone)
    lon = np.concatenate([lon, lon[src]])
    lat = np.concatenate([lat, lat[src]])
    ids = rng.permutation(n).astype(np.int64) + 1
    temp = np.round(rng.normal(10.0, 5.0, n), 1)
    wind = np.round(rng.uniform(0.0, 20.0, n), 1)
    precip = np.round(rng.uniform(0.0, 8.0, n), 1)
    table = pa.table({
        "station_id": ids, "st_lon": lon, "st_lat": lat,
        "temp_c": temp, "wind_ms": wind, "precip_mm": precip,
    })
    _write(table, path)
    return {"station_id": ids, "st_lon": lon, "st_lat": lat,
            "temp_c": temp, "wind_ms": wind, "precip_mm": precip}


def polygons(p: PolygonParams, seed: int, path: str) -> list[dict]:
    """Concave star polygons (alternating outer/inner radius), CCW, with
    bboxes — the general path of the PIP join. ``hot_share`` of them are
    centred on the hot cluster, so polygons overlap there and the
    max-confidence dedupe runs. Confidence has two decimals, so ties are
    broken by polygon_id."""
    rng = _rng(seed, 3)
    out = []
    for i in range(p.n):
        if rng.random() < p.hot_share:
            cx = HOT_LON + (rng.random() - 0.5) * HOT_SPAN * 4
            cy = HOT_LAT + (rng.random() - 0.5) * HOT_SPAN * 4
        else:
            cx = NL_LON0 + rng.random() * NL_LON_SPAN
            cy = NL_LAT0 + rng.random() * NL_LAT_SPAN
        r = rng.uniform(p.r_min_deg, p.r_max_deg)
        inner = rng.uniform(0.35, 0.7)
        ang = 2 * np.pi * (np.arange(p.vertices) + rng.uniform(-0.2, 0.2, p.vertices)) / p.vertices
        rad = np.where(np.arange(p.vertices) % 2 == 0, r, r * inner)
        xs = cx + rad * np.cos(ang)
        ys = cy + rad * np.sin(ang)
        out.append({
            "polygon_id": f"PG_{i:05d}",
            "land_cover_class": LC_CLASSES[int(rng.integers(0, len(LC_CLASSES)))],
            "confidence": round(float(rng.uniform(0.5, 0.99)), 2),
            "xmin": float(xs.min()), "ymin": float(ys.min()),
            "xmax": float(xs.max()), "ymax": float(ys.max()),
            "vertices": [{"x": float(x), "y": float(y)} for x, y in zip(xs, ys)],
            "is_rect": False,
        })
    vert_t = pa.list_(pa.struct([("x", pa.float64()), ("y", pa.float64())]))
    table = pa.table({
        k: pa.array([row[k] for row in out], vert_t if k == "vertices" else None)
        for k in out[0]
    })
    _write(table, path)
    return out


def _band(rng: np.random.Generator, side: int) -> np.ndarray:
    """A smooth uint16 field plus low-bit noise: compresses like a real
    band (deflate/LZW find structure, but not a trivial constant)."""
    x = np.arange(side, dtype=np.float64)
    a, b, c = rng.uniform(50.0, 400.0, 3)
    f = rng.uniform(0.05, 0.3)
    xy = x[None, :] + x[:, None]
    v = 2000.0 + a * x[None, :] + b * x[:, None] + 3000.0 * c / 400.0 * np.sin(f * xy)
    v += rng.integers(0, 64, (side, side))
    return np.clip(v, 0, 60000).astype(np.uint16)


def payloads(p: PayloadParams, seed: int, path: str):
    """Band payloads (image_id, bytes, w, h, fmt) in the given format and
    TIFF-profile mix. Returns (fmt array, source pixel stack); the oracle
    derives expected features from the source pixels, not the payloads."""
    from tiff_enrichment_pipeline_spark.raster import codec

    rng = _rng(seed, 4)
    fw = np.asarray(p.fmt_weights, float)
    tw = np.asarray(p.tiff_weights, float)
    fmt_i = rng.choice(len(FORMATS), size=p.n, p=fw / fw.sum())
    prof_i = rng.choice(len(TIFF_PROFILES), size=p.n, p=tw / tw.sum())
    planar = rng.random(p.n) < 0.25
    pixels = np.empty((p.n, p.side, p.side), np.uint16)
    blobs = []
    for i in range(p.n):
        px = _band(rng, p.side)
        pixels[i] = px
        fmt = FORMATS[fmt_i[i]]
        if fmt == "raw-u16":
            enc = codec.encode_raw_u16(px)
        elif fmt == "lossy-q12":
            enc = codec.encode_lossy_q12(px)
        elif fmt == "png":
            enc = codec.encode_png_u16(px)
        elif fmt == "tiff-rgb":
            enc = codec.encode_tiff_rgb(np.stack([px, px, px], axis=-1),
                                        planar=2 if planar[i] else 1)
        else:
            prof = TIFF_PROFILES[prof_i[i]]
            comp = {"lzw": "lzw", "tiled-lzw": "lzw", "packbits": "packbits"}.get(prof, "deflate")
            enc = codec.encode_tiff_u16(
                px, compression=comp,
                tile=16 if prof.startswith("tiled") else None,
                bigtiff=prof == "bigtiff",
            )
        blobs.append(enc)
    fmts = np.array([FORMATS[i] for i in fmt_i])
    table = pa.table({
        "image_id": pa.array(np.arange(1, p.n + 1, dtype=np.int64)),
        "bytes": pa.array(blobs, pa.binary()),
        "w": pa.array(np.full(p.n, p.side, np.int32)),
        "h": pa.array(np.full(p.n, p.side, np.int32)),
        "fmt": pa.array(fmts.tolist(), pa.string()),
    })
    _write(table, path, p.files)
    return fmts, pixels


def sf_dir(p: SfParams, seed: int, path: str) -> dict[str, np.ndarray]:
    """The CLI's input directory: ``orders.parquet`` (o_orderkey,
    o_orderdate) and ``supplier.parquet`` (s_suppkey). The CLI derives
    geotags from the order key and stations from the supplier key
    (geotables.images_geo / stations), so the seed and the shares pick
    which keys and dates exist."""
    rng = _rng(seed, 5)
    os.makedirs(path, exist_ok=True)
    # the CLI puts key mod 10 in {0,1} in the hot cluster, {8,9} worldwide
    # and the rest in the NL box: pick each key's residue by the shares
    u = rng.random(p.n_orders)
    residue = np.where(u < p.hot_share, rng.integers(0, 2, p.n_orders),
                       np.where(u < p.hot_share + p.world_share,
                                rng.integers(8, 10, p.n_orders),
                                rng.integers(2, 8, p.n_orders)))
    base = rng.choice(p.key_space // 10, size=p.n_orders, replace=False)
    keys = np.sort(base * 10 + residue).astype(np.int64)
    lo = (_dt.date.fromisoformat(p.date_lo) - EPOCH).days
    days = lo + rng.integers(0, p.date_days, p.n_orders)
    sup = np.sort(rng.choice(np.arange(1, p.supplier_key_space + 1),
                             size=p.n_suppliers, replace=False)).astype(np.int64)
    _write(pa.table({
        "o_orderkey": keys,
        "o_orderdate": pa.array(days * 86_400_000_000, pa.timestamp("us")),
    }), os.path.join(path, "orders.parquet"))
    _write(pa.table({"s_suppkey": sup}), os.path.join(path, "supplier.parquet"))
    return {"o_orderkey": keys, "day": days, "s_suppkey": sup}
