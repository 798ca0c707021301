"""Direct tests of the production kNN kernel: the build-certified index
(``build_knn_index``) and its selection (``topk_indexed_np``), against
plain-numpy fp64 brute force. No SparkSession."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tiff_enrichment_pipeline_spark.operators.knn_join import (
    EARTH_R,
    _chord2_f32,
    _square_chord_bound,
    _xyz_np,
    build_knn_index,
    topk_indexed_np,
)

RES, RING = 10, 2


def one_gemm_build(s_lat, s_lon, s_xyz, k, res, ring):
    """Reference index build: every dilated fine cell scored against every
    station in one fp32 GEMM per 4096 cells — the build that the
    block-pruned ``build_knn_index`` must reproduce exactly."""
    import math

    res_f = res + 2
    ring_f = 4 * ring
    nx, ny = 2**res_f, 2 ** (res_f - 1)
    w = 360.0 / nx
    ix = np.clip(((s_lon + 180.0) / w).astype(np.int64), 0, nx - 1)
    iy = np.clip(((s_lat + 90.0) / w).astype(np.int64), 0, ny - 1)
    occ = np.unique(ix * np.int64(2**28) + iy)
    d = np.arange(-ring_f, ring_f + 1, dtype=np.int64)
    oix, oiy = occ >> 28, occ & (2**28 - 1)
    cix = (oix[:, None, None] + d[None, :, None]) % nx
    ciy = oiy[:, None, None] + d[None, None, :]
    cix, ciy = np.broadcast_arrays(cix, ciy)
    ok = (ciy >= 0) & (ciy < ny)
    cells = np.unique(cix[ok] * np.int64(2**28) + ciy[ok])
    gx, gy = cells >> 28, cells & (2**28 - 1)
    clon = (gx + 0.5) * w - 180.0
    clat = (gy + 0.5) * w - 90.0
    rp, rl = np.radians(clat), np.radians(clon)
    C = np.stack(
        [np.cos(rp) * np.cos(rl), np.cos(rp) * np.sin(rl), np.sin(rp)], axis=1
    ).astype(np.float32)
    m_per_deg = 2.0 * math.pi * EARTH_R / 360.0
    phi_min = np.minimum(np.abs(clat - w / 2), np.abs(clat + w / 2))
    phi_min = np.where((clat - w / 2 <= 0) & (clat + w / 2 >= 0), 0.0, phi_min)
    d_gc = m_per_deg * (w / 2 + np.cos(np.radians(phi_min)) * w / 2)
    d_ch = 2.0 * np.sin(np.minimum(d_gc / (2 * EARTH_R), math.pi / 2))
    S32 = s_xyz.T.astype(np.float32)
    kk = min(k, s_xyz.shape[0])
    out = {}
    eps2 = np.float32(1e-5)
    CH = 4096
    for c0 in range(0, len(cells), CH):
        cc = C[c0 : c0 + CH]
        d2 = 2.0 - 2.0 * (cc @ S32)
        np.maximum(d2, 0.0, out=d2)
        kth2 = np.partition(d2, kk - 1, axis=1)[:, kk - 1]
        kth = np.sqrt(kth2 + eps2)
        thr = kth + 2.0 * d_ch[c0 : c0 + CH].astype(np.float32)
        mask = d2 <= (thr * thr + eps2)[:, None]
        rows, cols = np.nonzero(mask)
        starts = np.flatnonzero(np.r_[True, rows[1:] != rows[:-1]])
        bnds = np.r_[starts, len(rows)]
        for i in range(len(starts)):
            r = rows[starts[i]]
            cell = int(np.int64(res_f) * np.int64(2**56) + cells[c0 + r])
            out[cell] = cols[bnds[i] : bnds[i + 1]].astype(np.int32)
    return out, res_f


def brute_topk(lat_v, lon_v, s_xyz, s_ids, k):
    """fp64 brute force: (d2, station_id) lexsort over every station; rows
    without GPS are NaN. d2 is elementwise, not a BLAS product: dgemm can
    round one column differently from another by its position in the
    tile, which would break exact ties between co-located stations."""
    ok = ~np.isnan(lat_v) & ~np.isnan(lon_v)
    idx = np.full((len(lat_v), k), np.nan)
    d2 = np.full((len(lat_v), k), np.nan)
    p = _xyz_np(lat_v[ok], lon_v[ok])
    full = 2.0 - 2.0 * (
        p[:, 0:1] * s_xyz[:, 0] + p[:, 1:2] * s_xyz[:, 1] + p[:, 2:3] * s_xyz[:, 2]
    )
    order = np.lexsort((np.broadcast_to(s_ids, full.shape), full), axis=1)[:, :k]
    idx[ok] = order
    d2[ok] = np.maximum(np.take_along_axis(full, order, axis=1), 0.0)
    return idx, d2


def _same_index(a, b):
    return (
        a[1] == b[1]
        and a[0].keys() == b[0].keys()
        and all(
            v.dtype == b[0][c].dtype and np.array_equal(v, b[0][c])
            for c, v in a[0].items()
        )
    )


def _nl_network(rng, n, world_share, clone_share):
    """Town clusters over the Netherlands, a worldwide residue and exact
    coordinate clones, in ascending-id order."""
    n_world = int(round(n * world_share))
    n_clone = int(round(n * clone_share))
    n_nl = n - n_world - n_clone
    cx = 3.0 + rng.random(24) * 4.3
    cy = 50.7 + rng.random(24) * 2.9
    c = rng.integers(0, 24, n_nl)
    lon = np.concatenate([cx[c] + rng.normal(0, 0.12, n_nl),
                          rng.uniform(-180, 180, n_world)])
    lat = np.concatenate([cy[c] + rng.normal(0, 0.12, n_nl),
                          np.degrees(np.arcsin(rng.uniform(-1, 1, n_world)))])
    src = rng.integers(0, len(lon), n_clone)
    return np.r_[lat, lat[src]], np.r_[lon, lon[src]]


@pytest.mark.parametrize("seed,world_share", [(1, 0.003), (2, 0.003), (3, 0.02)])
def test_block_pruned_build_equals_one_gemm_build(seed, world_share):
    """The block-pruned build returns exactly the dict of the full-table
    build: same cells, same ascending int32 lists, same res_f."""
    s_lat, s_lon = _nl_network(np.random.default_rng(seed), 3000, world_share, 0.01)
    s_xyz = _xyz_np(s_lat, s_lon)
    for k in (1, 3, 5):
        want = one_gemm_build(s_lat, s_lon, s_xyz, k, RES, RING)
        got = build_knn_index(s_lat, s_lon, s_xyz, k, RES, RING)
        assert _same_index(got, want), f"seed={seed} k={k}"


def test_chord2_f32_single_row_and_column_match_full_product():
    """One cell, or one candidate station, scores the same fp32 bits as
    the same entry of a full-table product (the block-pruned build's
    exactness depends on it; numpy's gemv path alone rounds differently)."""
    rng = np.random.default_rng(5)
    a = _xyz_np(rng.uniform(-90, 90, 64), rng.uniform(-180, 180, 64)).astype(np.float32)
    b = _xyz_np(rng.uniform(-90, 90, 10_000), rng.uniform(-180, 180, 10_000)).T.astype(np.float32)
    full = _chord2_f32(a, b)
    for i in range(len(a)):
        assert np.array_equal(_chord2_f32(a[i : i + 1], b), full[i : i + 1])
    two = _chord2_f32(a[:2], b)
    for j in range(0, b.shape[1], 7):
        assert np.array_equal(_chord2_f32(a[:2], b[:, j : j + 1]), two[:, j : j + 1])


def _stations(kind, rng, n):
    if kind == "clones":
        site = rng.integers(0, max(1, n // 10), n)
        return 50.8 + (site // 10) * 0.1, 3.5 + (site % 10) * 0.1
    if kind == "hot":
        hot = rng.random(n) < 0.2
        lat = np.where(hot, 52.37 + rng.random(n) * 0.02, 50.7 + rng.random(n) * 2.9)
        lon = np.where(hot, 4.89 + rng.random(n) * 0.02, 3.0 + rng.random(n) * 4.3)
        return lat, lon
    if kind == "world":
        return np.degrees(np.arcsin(rng.uniform(-1, 1, n))), rng.uniform(-180, 180, n)
    if kind == "poles":
        lat = np.sign(rng.random(n) - 0.5) * (90.0 - rng.random(n) * 2.0)
        lat[: n // 10] = 90.0  # one point, many longitudes
        return lat, rng.uniform(-180, 180, n)
    # antimeridian: both sides of ±180, some exactly on it
    lon = np.where(rng.random(n) < 0.5, 180.0 - rng.random(n) * 1.5,
                   -180.0 + rng.random(n) * 1.5)
    lon[: n // 10] = 180.0
    return 60.0 + rng.random(n) * 5.0, lon


def _probes(rng, s_lat, s_lon, n=400):
    near = rng.integers(0, len(s_lat), n)
    lat = np.r_[
        np.clip(s_lat[near] + rng.normal(0, 0.3, n), -90, 90),
        np.degrees(np.arcsin(rng.uniform(-1, 1, n // 4))),
        [90.0, -90.0, 89.999, -89.999, 0.0, 0.0, 62.0, 62.0, np.nan, 51.0],
    ]
    lon = np.r_[
        (s_lon[near] + rng.normal(0, 0.3, n) + 180.0) % 360.0 - 180.0,
        rng.uniform(-180, 180, n // 4),
        [0.0, 45.0, 10.0, -170.0, 180.0, -180.0, 180.0, -179.999, 5.0, np.nan],
    ]
    nan = rng.random(len(lat)) < 0.05
    return np.where(nan, np.nan, lat), lon


@settings(max_examples=30, deadline=None, derandomize=True)
@given(
    kind=st.sampled_from(["clones", "hot", "world", "poles", "antimeridian"]),
    n=st.integers(20, 600),
    k=st.sampled_from([1, 3, 5]),
    seed=st.integers(0, 2**31 - 1),
)
def test_knn_index_complete_and_topk_exact(kind, n, k, seed):
    """Every list is ascending int32 and holds the fp64 completeness set
    {s : chord(c,s) ≤ kth(c) + 2·D(c)} of its cell; topk_indexed_np equals
    the fp64 (d2, station_id) lexsort brute force, NaN probes included."""
    rng = np.random.default_rng(seed)
    s_lat, s_lon = _stations(kind, rng, n)
    s_xyz = _xyz_np(s_lat, s_lon)
    s_ids = np.arange(n, dtype=np.int64) * 3 + 7
    index, res_f = build_knn_index(s_lat, s_lon, s_xyz, k, RES, RING)
    assert index

    keys = np.fromiter(index, np.int64, len(index))
    for v in index.values():
        assert v.dtype == np.int32 and np.all(np.diff(v) > 0)
    w = 360.0 / 2**res_f
    cells = keys - np.int64(res_f) * np.int64(2**56)
    clat = ((cells & (2**28 - 1)) + 0.5) * w - 90.0
    c_xyz = _xyz_np(clat, ((cells >> 28) + 0.5) * w - 180.0)
    d_c = _square_chord_bound(clat, w)
    for c0 in range(0, len(keys), 2048):
        chord = np.sqrt(np.maximum(2.0 - 2.0 * (c_xyz[c0 : c0 + 2048] @ s_xyz.T), 0.0))
        kth = np.partition(chord, min(k, n) - 1, axis=1)[:, min(k, n) - 1]
        need = chord <= (kth + 2.0 * d_c[c0 : c0 + 2048])[:, None]
        for r in range(len(need)):
            missing = np.setdiff1d(np.flatnonzero(need[r]), index[int(keys[c0 + r])])
            assert not len(missing), f"cell {keys[c0 + r]} misses {missing}"

    lat_v, lon_v = _probes(rng, s_lat, s_lon)
    idx, d2 = topk_indexed_np(lat_v, lon_v, s_xyz, s_ids, index, k, res_f)
    want_idx, want_d2 = brute_topk(lat_v, lon_v, s_xyz, s_ids, k)
    assert np.array_equal(idx, want_idx, equal_nan=True)
    assert np.allclose(d2, want_d2, rtol=0, atol=1e-12, equal_nan=True)


def test_topk_indexed_rejects_unsorted_ids():
    """The argmin tie rule is the smallest-id rule only on id-sorted
    stations, so unsorted ids fail loudly instead of answering."""
    s_lat = np.array([52.0, 52.0, 52.1])
    s_lon = np.array([4.0, 4.0, 4.1])
    s_xyz = _xyz_np(s_lat, s_lon)
    index, res_f = build_knn_index(s_lat, s_lon, s_xyz, 1, RES, RING)
    probe = np.array([52.0]), np.array([4.0])
    with pytest.raises(ValueError, match="ascending"):
        topk_indexed_np(*probe, s_xyz, np.array([5, 3, 9]), index, 1, res_f)
    idx, _ = topk_indexed_np(*probe, s_xyz, np.array([3, 5, 9]), index, 1, res_f)
    assert idx[0, 0] == 0
