"""Brute-force expectations for a seeded sample of output rows.

Everything here is plain numpy over the generated inputs, written from
the input definitions (which station, polygon, tile or payload exists),
never from the engine's algorithms: no cell index, no pruning, no
candidate lists. Each function answers the question for a handful of
probes by scanning the whole build side.
"""

from __future__ import annotations

import datetime as _dt

import numpy as np

EARTH_R = 6371000.0

# land-cover rect tiling and DEM extent of the engine's inputs
# (geotables.landcover_polygons / fixtures.dem_tiles_pdf)
LC_CELL, LC_NX, LC_NY = 0.1, 43, 29
LC_LON0, LC_LAT0 = 3.0, 50.7
LC_CLASSES = (
    "tree_cover", "shrubland", "grassland", "cropland", "built_up",
    "bare", "snow_ice", "water", "wetland", "mangroves",
)
DEM_TILE, DEM_N = 0.1, 32
OBS_LO, OBS_HI = _dt.date(1995, 1, 1), _dt.date(2001, 12, 31)


def haversine_m(lat1, lon1, lat2, lon2):
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dp = p2 - p1
    dl = np.radians(lon2 - lon1)
    a = np.sin(dp / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl / 2) ** 2
    return 2 * EARTH_R * np.arcsin(np.sqrt(np.minimum(a, 1.0)))


def nearest(lat, lon, st_lat, st_lon, st_id):
    """(station_id, dist_m, ambiguous) of the nearest station; exact
    distance ties go to the smallest id. ``ambiguous`` flags a runner-up
    within 1e-6 m, where the engine's chord arithmetic may legitimately
    order differently from haversine."""
    d = haversine_m(lat, lon, st_lat, st_lon)
    order = np.lexsort((st_id, d))
    best, second = order[0], order[1] if len(order) > 1 else order[0]
    amb = best != second and d[second] - d[best] < 1e-6 and st_id[second] != st_id[best]
    return int(st_id[best]), float(d[best]), bool(amb)


def landcover_rect(lon, lat):
    """(polygon_id, class, confidence) of the half-open 0.1° rect holding
    the point, by floor arithmetic; None outside the tiling. ``edge`` is
    True within 1e-9° of a rect boundary, where the engine's bbox test and
    the floor may round differently."""
    fx = (lon - LC_LON0) / LC_CELL
    fy = (lat - LC_LAT0) / LC_CELL
    gx, gy = int(np.floor(fx)), int(np.floor(fy))
    edge = min(abs(fx - round(fx)), abs(fy - round(fy))) * LC_CELL < 1e-9
    if not (0 <= gx < LC_NX and 0 <= gy < LC_NY):
        return None, edge
    pid = f"LC_{gx * LC_NY + gy:04d}"
    cls = LC_CLASSES[(gx * 7 + gy * 3) % 10]
    conf = 0.5 + ((gx * 13 + gy * 29) % 50) / 100.0
    return (pid, cls, conf), edge


def _dem_value(cx, cy):
    return float(np.float32(100.0 + 50.0 * np.sin(cx) + 30.0 * np.cos(cy)))


def dem_bilinear(lon, lat, tiles: set[tuple[int, int]]):
    """Bilinear sample of the analytic DEM (float32 grid-centre values,
    pixel-centre aligned, clamped at the tile border); None off the DEM."""
    tx, ty = int(np.floor(lon / DEM_TILE)), int(np.floor(lat / DEM_TILE))
    if (tx, ty) not in tiles:
        return None
    step = DEM_TILE / DEM_N
    fx = (lon - tx * DEM_TILE) / step - 0.5
    fy = (lat - ty * DEM_TILE) / step - 0.5
    i0 = min(max(int(np.floor(fx)), 0), DEM_N - 2)
    j0 = min(max(int(np.floor(fy)), 0), DEM_N - 2)
    wx = min(max(fx - i0, 0.0), 1.0)
    wy = min(max(fy - j0, 0.0), 1.0)

    def v(i, j):
        return _dem_value(tx * DEM_TILE + (i + 0.5) * step,
                          ty * DEM_TILE + (j + 0.5) * step)

    return (1 - wy) * ((1 - wx) * v(i0, j0) + wx * v(i0 + 1, j0)) + wy * (
        (1 - wx) * v(i0, j0 + 1) + wx * v(i0 + 1, j0 + 1))


def pip_best(lon, lat, polys: list[dict]):
    """Highest-confidence (then smallest polygon_id) polygon containing
    the point by the even-odd rule with half-open edges; None if none.
    ``edge`` flags a point within 1e-9° of a containing-test crossing."""
    hits = []
    edge = False
    for p in polys:
        if not (p["xmin"] <= lon < p["xmax"] and p["ymin"] <= lat < p["ymax"]):
            continue
        xs = np.array([v["x"] for v in p["vertices"]])
        ys = np.array([v["y"] for v in p["vertices"]])
        xj, yj = np.roll(xs, 1), np.roll(ys, 1)
        straddle = (ys > lat) != (yj > lat)
        with np.errstate(divide="ignore", invalid="ignore"):
            xi = xs + (lat - ys) / (yj - ys) * (xj - xs)
        edge |= bool(np.any(straddle & (np.abs(xi - lon) < 1e-9)))
        if np.count_nonzero(straddle & (lon < xi)) % 2:
            hits.append((-p["confidence"], p["polygon_id"], p))
    if not hits:
        return None, edge
    p = min(hits, key=lambda h: (h[0], h[1]))[2]
    return (p["polygon_id"], p["land_cover_class"], p["confidence"]), edge


def radius_pairs(lat, lon, st_lat, st_lon, st_id, radius_m):
    """(ids within radius, ids within 1e-6 m of the radius)."""
    d = haversine_m(lat, lon, st_lat, st_lon)
    inside = set(st_id[d <= radius_m].tolist())
    boundary = set(st_id[np.abs(d - radius_m) < 1e-6].tolist())
    return inside, boundary


def band_features(px: np.ndarray, out: int):
    """(mean, std, p95, edge_energy) of the bilinear ``out``×``out``
    resize of one uint16 band (pixel-centre aligned, clamped borders,
    rounded to uint16)."""
    h, w = px.shape
    fy = (np.arange(out) + 0.5) * (h / out) - 0.5
    fx = (np.arange(out) + 0.5) * (w / out) - 0.5
    j0 = np.clip(np.floor(fy), 0, h - 2).astype(int)
    i0 = np.clip(np.floor(fx), 0, w - 2).astype(int)
    wy = np.clip(fy - j0, 0, 1)[:, None]
    wx = np.clip(fx - i0, 0, 1)[None, :]
    g = px.astype(np.float64)
    r = (1 - wy) * ((1 - wx) * g[np.ix_(j0, i0)] + wx * g[np.ix_(j0, i0 + 1)]) + wy * (
        (1 - wx) * g[np.ix_(j0 + 1, i0)] + wx * g[np.ix_(j0 + 1, i0 + 1)])
    r = np.clip(np.rint(r), 0, 65535).astype(np.uint16).astype(np.float64)
    edge = np.abs(np.diff(r, axis=0)).mean() + np.abs(np.diff(r, axis=1)).mean()
    return r.mean(), r.std(), np.percentile(r, 95), edge


def decoded_pixels(px: np.ndarray, fmt: str) -> np.ndarray:
    """What a correct decoder returns for the source band ``px``: q12
    drops the low 4 bits, every other format is lossless."""
    return (px >> 4) << 4 if fmt == "lossy-q12" else px


def sf_images(keys: np.ndarray):
    """(lon, lat) the CLI derives from each order key: 20% hot cluster,
    60% NL box, 20% worldwide, by key mod 10 (geotables.images_geo)."""
    u1 = ((keys * 2654435761) % 1000000) / 1000000.0
    u2 = ((keys * 1597334677) % 1000000) / 1000000.0
    sel = keys % 10
    lon = np.where(sel < 2, 4.89 + (u1 - 0.5) * 0.02,
                   np.where(sel < 8, 3.0 + u1 * 4.3, -180.0 + u1 * 360.0))
    lat = np.where(sel < 2, 52.37 + (u2 - 0.5) * 0.02,
                   np.where(sel < 8, 50.7 + u2 * 2.9, -90.0 + u2 * 180.0))
    return lon, lat


def sf_stations(sup: np.ndarray):
    """(lon, lat) the CLI derives from each supplier key: a jittered
    18-column grid over the NL box (geotables.stations)."""
    idx = sup % 234
    lat = 50.8 + np.floor(idx / 18) * 0.22 + ((sup * 104729) % 1000) / 1000.0 * 0.01
    lon = 3.1 + (idx % 18) * 0.24 + ((sup * 7919) % 1000) / 1000.0 * 0.01
    return lon, lat


def dated_obs(station_id: int, day: _dt.date):
    """(temp_c, wind_ms, precip_mm) observed at a station on a day, or
    None outside the observation history (geotables.weather_observations)."""
    if not (OBS_LO <= day <= OBS_HI):
        return None
    d = (day - OBS_LO).days
    s = station_id
    return (((s * 131 + d * 17) % 600) / 10.0 - 20.0,
            ((s * 37 + d * 11) % 250) / 10.0,
            ((s * 53 + d * 7) % 80) / 10.0)


def close(a, b, rel=1e-9, abs_=1e-6) -> bool:
    """Float equality with NaN == NaN and None == None."""
    if a is None or b is None:
        return a is None and b is None
    a, b = float(a), float(b)
    if np.isnan(a) or np.isnan(b):
        return np.isnan(a) and np.isnan(b)
    return abs(a - b) <= abs_ + rel * abs(b)
