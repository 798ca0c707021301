"""kNN weather-station join — shuffle-free, trig-free inner loop.

Re-creates the reference's declared nearest-station weather enrichment
(open_meteo source, JSONB weather payload keyed to the image point;
reference: scripts/create-tables.sql:128-132, scripts/init-db.sql:60) as a
provably-exact kNN join (SURVEY.md J6, W5). Design for the 100 TB side:

- **No shuffle of the probe.** Build side (stations) is expanded into every
  cell of a Chebyshev k-ring, grouped to ``cell → array<station>`` and
  broadcast; the probe equi-joins on its own cell (broadcast hash join) and
  everything after is a projection inside whole-stage codegen.
- **No trig per candidate.** Both sides precompute unit-sphere coordinates
  (x, y, z); the ranking key is the squared 3-D chord, which is strictly
  monotonic in great-circle distance — so ordering (and hence kNN) is
  exact. arcsin runs once per *selected* neighbor, not per candidate.
- **Cheap sort.** Candidates are keyed as 3-field structs
  (d2, station_id, array index); the payload struct is only rebuilt for the
  k winners. station_id is the deterministic tie-break (matches the SQL
  oracle's ``ORDER BY dist, station_id``).
- **Exactness guarantee + fallback.** Ring answers are certified iff the
  k-th chord ≤ chord(ring-boundary distance); uncertified rows (sparse
  regions) split off and rescan the full station table, attached as a
  single broadcast row (1-row crossJoin of a collect_list aggregate) —
  plan size O(1) in |stations|, array materialized only for the
  uncertified split. Wrong answers are impossible; sparseness only costs
  comparisons.
- **Null-GPS gated.** Missing/NaN coordinates yield NULL knn (array form)
  or no rows (exploded form) — never a fabricated match.

Geographic hot-cell skew cannot concentrate work here: there is no
exchange keyed by anything geographic (it is a pure map stage).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tiff_enrichment_pipeline_spark import grid

M_PER_DEG = 2.0 * 3.141592653589793 * 6371000.0 / 360.0
EARTH_R = 6371000.0  # reference: core/validation.py:88

#: fp32-prefilter exclusion margin (see _fallback_f32): worst-case
#: |fp32−fp64| of 2−2·dot3 on unit vectors is < 2e-6; 1e-4 is a 50×
#: safety factor, still excluding everything not within ~10 m-equivalent
#: chord² of the k-th best.
_F32_MARGIN = np.float32(1e-4)

#: bound on |fp32 − fp64| of the chord² 2 − 2·dot3 between unit vectors
#: (input rounding, three FMA steps, the subtraction: < 1e-6); the kNN
#: index build states its margins against it
_F32_CHORD2_ERR = 2e-6

#: the kNN index build scores blocks of 2^3 × 2^3 fine cells first
_BLOCK_BITS = 3


def _xyz(lat: Column, lon: Column) -> tuple[Column, Column, Column]:
    """Unit-sphere coordinates of a (lat, lon) point."""
    rl, rp = F.radians(lon), F.radians(lat)
    return F.cos(rp) * F.cos(rl), F.cos(rp) * F.sin(rl), F.sin(rp)


def _chord2_to_m(d2: Column) -> Column:
    """Squared chord → great-circle meters: 2R·asin(chord/2). Equivalent to
    the haversine (core/validation.py:85-99): chord/2 == sqrt(hav).

    NaN-gated: the Arrow kNN emits NaN d2 for GPS-less rows, and
    F.least treats NaN as the largest value — without the guard a NaN
    would turn into asin(1.0) = the antipodal distance (20,015 km)
    instead of NULL."""
    return F.when(
        ~F.isnan(d2),
        F.lit(2.0 * EARTH_R)
        * F.asin(F.least(F.sqrt(d2) / F.lit(2.0), F.lit(1.0))),
    )


def _m_to_chord2(meters: Column) -> Column:
    import math

    half = meters / F.lit(2.0 * EARTH_R)
    s = F.sin(F.least(half, F.lit(math.pi / 2)))
    return F.lit(4.0) * s * s


def build_cell_candidates(
    s_lat: "np.ndarray", s_lon: "np.ndarray", res: int, ring: int
) -> dict[int, "np.ndarray"]:
    """cell id → int32 station indices within the Chebyshev ring (numpy
    twin of stations_by_cell, used inside Arrow UDFs).

    Fully vectorized (r7): the (station × ring²) cell matrix is built by
    broadcasting and split into per-cell index arrays via one lexsort —
    the per-station Python loop cost 0.39 s at 10k stations (it runs
    driver-side on EVERY kNN query build). Candidate order within a cell
    stays ascending-si (the lexsort minor key), which the kernel's
    argmin tie rule relies on when station ids are sorted."""
    nx, ny = 2**res, 2 ** (res - 1)
    w = 360.0 / nx
    ix = np.clip(((s_lon + 180.0) / w).astype(np.int64), 0, nx - 1)
    iy = np.clip(((s_lat + 90.0) / w).astype(np.int64), 0, ny - 1)
    base = np.int64(res) * np.int64(2**56)
    d = np.arange(-ring, ring + 1, dtype=np.int64)
    nix = (ix[:, None] + d[None, :]) % nx
    niy = iy[:, None] + d[None, :]
    cells = base + nix[:, :, None] * np.int64(2**28) + niy[:, None, :]
    vmask = np.broadcast_to(((niy >= 0) & (niy < ny))[:, None, :],
                            cells.shape)
    si = np.broadcast_to(
        np.arange(len(s_lat), dtype=np.int32)[:, None, None], cells.shape
    )
    c = cells[vmask]
    s = si[vmask]
    order = np.lexsort((s, c))
    c, s = c[order], s[order]
    starts = np.flatnonzero(np.r_[True, c[1:] != c[:-1]])
    bounds = np.r_[starts, len(c)]
    return {
        int(c[starts[i]]): s[bounds[i]:bounds[i + 1]].copy()
        for i in range(len(starts))
    }


def topk_bucketed_np(
    lat_v: "np.ndarray",
    lon_v: "np.ndarray",
    S_xyz: "np.ndarray",
    s_ids: "np.ndarray",
    cand_by_cell: dict[int, "np.ndarray"],
    k: int,
    res: int,
    ring: int,
):
    """Exact kNN for a batch: cell-bucketed GEMM + certified fallback.

    Returns (idx, d2) arrays of shape (n, k), NaN where no GPS. The
    bucketed pass touches only ~|ring candidates| stations per row (memory
    traffic ∝ candidates, not |stations| — the property that keeps Arrow
    workers bandwidth-scalable); rows whose k-th candidate cannot be
    certified closer than the ring boundary rescan all stations, exactly.
    Ordering ties break on station id (matches the SQL oracle).

    Selection is POOLED across cells (r7): the per-cell BLAS GEMMs are
    unchanged (so every d2 is bit-identical to the per-cell formulation
    and the ordering the oracle checks can't move), but their results land
    in one inf-padded ``(batch, max_cand)`` buffer and a single
    argpartition + lexsort ranks the whole batch. The per-cell version
    spent 47% of kernel time in ~100 tiny argpartition calls per 10k
    batch (cProfile, sf0.1 shapes); pooling is ~2× end-to-end and
    per-batch cost no longer depends on how many cells a batch spans.
    """
    import math

    n = len(lat_v)
    out_idx = np.full((n, k), np.nan)
    out_d2 = np.full((n, k), np.nan)
    valid = ~np.isnan(lat_v) & ~np.isnan(lon_v)
    if not valid.any():
        return out_idx, out_d2

    rp = np.radians(lat_v)
    rl = np.radians(lon_v)
    P = np.stack(
        [np.cos(rp) * np.cos(rl), np.cos(rp) * np.sin(rl), np.sin(rp)], axis=1
    )
    nx = 2**res
    ny = 2 ** (res - 1)
    w = 360.0 / nx
    ix = np.clip(((lon_v + 180.0) / w), 0, nx - 1)
    iy = np.clip(((lat_v + 90.0) / w), 0, ny - 1)
    key = np.where(
        valid,
        np.int64(res) * np.int64(2**56)
        + np.nan_to_num(ix).astype(np.int64) * np.int64(2**28)
        + np.nan_to_num(iy).astype(np.int64),
        np.int64(-1),
    )
    # guard chord² per row: ring-boundary distance in chord space
    m_per_deg = 2.0 * math.pi * EARTH_R / 360.0
    g_m = (
        ring * w * m_per_deg
        * np.cos(np.radians(np.minimum(np.abs(np.nan_to_num(lat_v)) + ring * w, 89.9)))
    )
    g_half = np.minimum(g_m / (2.0 * EARTH_R), math.pi / 2)
    guard_c2 = (2.0 * np.sin(g_half)) ** 2

    kk = min(k, S_xyz.shape[0])
    # id-ascending station layout ⇒ np.argmin's first-occurrence tie rule
    # IS the (d2, station_id) lexicographic order the oracle uses, so
    # selection can be kk masked argmin passes (one vectorized min-reduce
    # each) instead of argpartition+lexsort — argpartition was 47% of
    # kernel time (r7 cProfile). _knn_arrow_idx and the fused lookup sort
    # their collected stations to hit this path; unsorted callers get the
    # original lexsort path, value-identical either way.
    ids_ascending = bool(np.all(s_ids[:-1] <= s_ids[1:]))
    S32 = S_xyz.T.astype(np.float32) if ids_ascending else None

    def _argmin_topk(d2: "np.ndarray") -> tuple["np.ndarray", "np.ndarray"]:
        """(columns, d2) of the kk smallest per row, ascending (d2, col).
        Mutates d2 (selected entries → +inf)."""
        bn = d2.shape[0]
        ar = np.arange(bn)
        sel = np.empty((bn, kk), dtype=np.int64)
        seld = np.empty((bn, kk))
        for j in range(kk):
            jj = np.argmin(d2, axis=1)
            sel[:, j] = jj
            seld[:, j] = d2[ar, jj]
            if j + 1 < kk:
                d2[ar, jj] = np.inf
        return sel, seld

    def _fallback_f32(rows: "np.ndarray") -> None:
        """Full-table scan via fp32 prefilter + fp64 recheck — EXACT.

        The fp32 GEMM halves the dominant memory traffic of the
        all-stations pass (world-region probes: ~half of kernel time at
        sf0.1 shapes). Exactness: a station is excluded only if its fp32
        d2 exceeds the fp32 k-th best by _F32_MARGIN, and the worst-case
        |fp32−fp64| error of 2−2·dot3 on unit vectors is < 2e-6 ≪ the
        1e-4 margin, so every possible fp64 top-k member survives the
        prefilter; survivors are re-ranked in fp64. Rows where the margin
        test can't certify (≥ mm near-ties — pathological co-located
        stations) rerun the plain fp64 path."""
        width = S_xyz.shape[0]
        d2f = np.float32(2.0) - np.float32(2.0) * (
            P[rows].astype(np.float32) @ S32
        )
        mm = min(kk + 8, width)
        part = np.argpartition(d2f, mm - 1, axis=1)[:, :mm]
        pd2f = np.take_along_axis(d2f, part, axis=1)
        kth32 = np.partition(pd2f, kk - 1, axis=1)[:, kk - 1]
        risky = (
            np.count_nonzero(
                d2f <= (kth32 + _F32_MARGIN)[:, None], axis=1
            )
            > mm
        )
        part.sort(axis=1)  # ascending column == ascending station id
        d2e = 2.0 - 2.0 * np.einsum("rd,rmd->rm", P[rows], S_xyz[part])
        ar = np.arange(len(rows))
        for j in range(kk):
            jj = np.argmin(d2e, axis=1)
            out_idx[rows, j] = part[ar, jj].astype(np.float64)
            out_d2[rows, j] = np.maximum(d2e[ar, jj], 0.0)
            if j + 1 < kk:
                d2e[ar, jj] = np.inf
        if risky.any():
            assign(rows[risky], None)

    def assign(rows: "np.ndarray", cand: "np.ndarray | None") -> "np.ndarray":
        """top-k for rows against cand (None = all); returns certified mask."""
        Sc = S_xyz if cand is None else S_xyz[cand]
        ids = s_ids if cand is None else s_ids[cand]
        d2 = 2.0 - 2.0 * (P[rows] @ Sc.T)
        if ids_ascending:
            # cand arrays are built in station order (build_cell_candidates
            # appends ascending si), so columns are id-ascending too
            sel, seld = _argmin_topk(d2)
            sd2 = np.maximum(seld, 0.0)
        elif kk < d2.shape[1]:
            part = np.argpartition(d2, kk - 1, axis=1)[:, :kk]
            pd2 = np.take_along_axis(d2, part, axis=1)
            # ascending d2, then station id — the oracle's tie-break
            order = np.lexsort((ids[part], pd2), axis=1)[:, :kk]
            sel = np.take_along_axis(part, order, axis=1)
            sd2 = np.maximum(np.take_along_axis(pd2, order, axis=1), 0.0)
        else:
            order = np.lexsort(
                (np.broadcast_to(ids, d2.shape), d2), axis=1
            )[:, :kk]
            sel = order
            sd2 = np.maximum(np.take_along_axis(d2, order, axis=1), 0.0)
        gi = sel if cand is None else cand[sel]
        out_idx[rows] = gi.astype(np.float64)
        out_d2[rows] = sd2
        if cand is None:
            return np.ones(len(rows), dtype=bool)
        return (d2.shape[1] >= kk) & (sd2[:, kk - 1] <= guard_c2[rows])

    order = np.argsort(key, kind="stable")
    sk = key[order]
    starts = np.flatnonzero(np.r_[True, sk[1:] != sk[:-1]])
    bounds = np.r_[starts, len(sk)]
    fallback: list[np.ndarray] = []
    seg_rows: list[np.ndarray] = []
    seg_cand: list[np.ndarray] = []
    for gi in range(len(starts)):
        if sk[starts[gi]] == -1:
            continue
        rows = order[bounds[gi]:bounds[gi + 1]]
        cand = cand_by_cell.get(int(sk[starts[gi]]))
        if cand is None or len(cand) < kk:
            fallback.append(rows)
            continue
        seg_rows.append(rows)
        seg_cand.append(cand)
    if seg_rows:
        mb = max(len(c) for c in seg_cand)
        bn = sum(len(r) for r in seg_rows)
        rix = np.concatenate(seg_rows)
        d2buf = np.empty((bn, mb))
        gidx = np.empty(bn, dtype=np.int64)
        gc = np.zeros((len(seg_cand), mb), dtype=np.int64)
        pos = 0
        for g, (rows, cand) in enumerate(zip(seg_rows, seg_cand)):
            cw = len(cand)
            # identical float ops to the per-cell formulation: BLAS
            # (rows,3)@(3,cw) on the un-padded candidate slice
            d2buf[pos:pos + len(rows), :cw] = (
                2.0 - 2.0 * (P[rows] @ S_xyz[cand].T)
            )
            d2buf[pos:pos + len(rows), cw:] = np.inf
            gc[g, :cw] = cand
            gidx[pos:pos + len(rows)] = g
            pos += len(rows)
        if ids_ascending:
            sel, seld = _argmin_topk(d2buf)
            sd2 = np.maximum(seld, 0.0)
            out_idx[rix] = gc[gidx[:, None], sel].astype(np.float64)
        else:
            if kk < mb:
                part = np.argpartition(d2buf, kk - 1, axis=1)[:, :kk]
            else:
                part = np.broadcast_to(np.arange(mb), (bn, mb)).copy()
            pd2 = np.take_along_axis(d2buf, part, axis=1)
            pci = gc[gidx[:, None], part]  # (bn, kk) global candidate idx
            o2 = np.lexsort((s_ids[pci], pd2), axis=1)[:, :kk]
            sd2 = np.maximum(np.take_along_axis(pd2, o2, axis=1), 0.0)
            out_idx[rix] = np.take_along_axis(pci, o2, axis=1).astype(
                np.float64
            )
        out_d2[rix] = sd2
        cert = sd2[:, kk - 1] <= guard_c2[rix]
        if not cert.all():
            fallback.append(rix[~cert])
    if fallback:
        fb = np.concatenate(fallback)
        if ids_ascending and S_xyz.shape[0] > 4 * kk + 16:
            _fallback_f32(fb)
        else:
            assign(fb, None)
    return out_idx, out_d2


def _xyz_np(lat: "np.ndarray", lon: "np.ndarray") -> "np.ndarray":
    """(n, 3) unit-sphere coordinates of fp64 degree arrays."""
    rp, rl = np.radians(lat), np.radians(lon)
    return np.stack(
        [np.cos(rp) * np.cos(rl), np.cos(rp) * np.sin(rl), np.sin(rp)], axis=1
    )


def _square_chord_bound(clat: "np.ndarray", w: float) -> "np.ndarray":
    """Upper bound on the unit-sphere chord from the centre of a w° × w°
    lat/lon square at centre latitude ``clat`` to any point of the square:
    the meridian-then-parallel path h/2 + cos(φ_min)·w/2 is at least the
    great-circle distance, which is at least the chord."""
    phi_min = np.minimum(np.abs(clat - w / 2), np.abs(clat + w / 2))
    phi_min = np.where((clat - w / 2 <= 0) & (clat + w / 2 >= 0), 0.0, phi_min)
    d_gc = M_PER_DEG * (w / 2 + np.cos(np.radians(phi_min)) * w / 2)
    return 2.0 * np.sin(np.minimum(d_gc / (2 * EARTH_R), np.pi / 2))


def _chord2_f32(a32: "np.ndarray", b32: "np.ndarray") -> "np.ndarray":
    """fp32 chord² 2 − 2·(a·b), clamped at 0, of (n, 3) ``a32`` against
    (3, m) ``b32``. A side of length one is padded to two: numpy sends
    one-row and one-column products to gemv, which rounds differently from
    sgemm, and the index build relies on a cell scoring the same bits
    against a station subset as against the whole table."""
    n, m = a32.shape[0], b32.shape[1]
    if n < 2:
        a32 = np.repeat(a32, 2, axis=0)
    if m < 2:
        b32 = np.repeat(b32, 2, axis=1)
    d2 = 2.0 - 2.0 * (a32 @ b32)
    np.maximum(d2, 0.0, out=d2)
    return d2[:n, :m]


def build_knn_index(
    s_lat: "np.ndarray",
    s_lon: "np.ndarray",
    s_xyz: "np.ndarray",
    k: int,
    res: int,
    ring: int,
) -> tuple[dict[int, "np.ndarray"], int]:
    """Build-certified kNN index: cell id → ascending int32 station indices
    whose list provably contains the exact top-k for EVERY probe in the
    cell. Returns (index, res_f).

    Cells live on the fine grid ``res_f = res + 2``; the built cells are
    the station-occupied cells dilated by a ``4*ring`` Chebyshev ring
    (probes outside them take the full-scan fallback). The list of cell c
    is every station with chord(c,s) ≤ kth(c) + 2·D(c), where kth(c) is the
    k-th nearest-station chord from the cell CENTRE and D(c) bounds the
    chord from the centre to any point of the cell
    (:func:`_square_chord_bound`).

    Cell completeness (triangle inequality; the chord is the 3-D Euclidean
    metric on unit vectors): for a probe p in c, kth(p) ≤ kth(c) + D, so
    any s in topk(p) has d(c,s) ≤ d(p,s) + D ≤ kth(c) + 2D. Selection over
    the list therefore equals selection over all stations.

    Two-level build. Scoring every cell against every station costs
    |cells| × |stations| although a list holds ~100 stations, so cells
    are grouped into blocks of 2^3 × 2^3 and only block centres b are
    scored against the whole table. With R_B bounding the chord from b to
    any point of its block (same path bound) and every member c:

      kth(c) ≤ kth(b) + d(b,c) ≤ kth(b) + R_B
      s in list(c)  ⇒  d(b,s) ≤ d(b,c) + d(c,s) ≤ kth(b) + 2·R_B + 2·max D(c)

    so the block candidates {s : d(b,s) ≤ that bound} are a superset of
    every member's list, and the member cells run the per-cell kth /
    threshold / mask against those candidates only.

    fp32 margins. Chord² is computed in fp32; against the fp64 value of
    the same unit vectors it is off by less than δ = 2e-6 (input rounding,
    three FMA steps, the subtraction). The cell side uses eps2 = 1e-5 ≥ δ:
    kth(c) = sqrt(kth2 + eps2) is an upper bound on the true k-th chord and
    the mask d2 ≤ thr² + eps2 can only ADD stations, never drop a true
    top-k member. The block bound is evaluated on the same quantities the
    cells compute: kth(b) ≤ sqrt(kth2(b) + δ), the cell's kth2 is at most
    (kth(b) + R_B)² + δ, its threshold follows with eps2 added as the cell
    adds it, a listed station's true chord² exceeds that threshold by at
    most δ, and the block compares its own fp32 chord² (again ±δ) against
    the result, all in fp64 with a 1e-6 relative slack for the fp32
    rounding of the cell-side operations. The superset is therefore a
    superset of the fp32 lists, not just of the exact ones. Within a
    block the cells' fp32 chord² are bit-identical to scoring them
    against the whole table (:func:`_chord2_f32`), and a cell's k nearest
    stations are in its own list, so kth, thresholds and lists are exactly
    those of a full-table build."""
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
    out: dict[int, np.ndarray] = {}
    if not len(cells):
        return out, res_f
    gx, gy = cells >> 28, cells & (2**28 - 1)
    clat = (gy + 0.5) * w - 90.0
    C = _xyz_np(clat, (gx + 0.5) * w - 180.0).astype(np.float32)
    d_ch = _square_chord_bound(clat, w).astype(np.float32)
    keys = np.int64(res_f) * np.int64(2**56) + cells

    bkey = (gx >> _BLOCK_BITS) * np.int64(2**28) + (gy >> _BLOCK_BITS)
    order = np.argsort(bkey, kind="stable")
    blocks, first = np.unique(bkey[order], return_index=True)
    last = np.r_[first[1:], len(order)]
    bw = w * 2**_BLOCK_BITS
    blat = ((blocks & (2**28 - 1)) + 0.5) * bw - 90.0
    B32 = _xyz_np(blat, ((blocks >> 28) + 0.5) * bw - 180.0).astype(np.float32)
    r_b = _square_chord_bound(blat, bw)
    d_max = np.maximum.reduceat(d_ch[order], first).astype(np.float64)

    S32 = s_xyz.T.astype(np.float32)
    kk = min(k, s_xyz.shape[0])
    eps2 = np.float32(1e-5)
    err, eps, slack = _F32_CHORD2_ERR, float(eps2), 1.0 + 1e-6
    CH = 512  # bounds the (blocks × stations) matrix to ~20 MB at 10k
    for b0 in range(0, len(blocks), CH):
        sl = slice(b0, b0 + CH)
        db = _chord2_f32(B32[sl], S32)
        kth_b = np.sqrt(
            np.partition(db, kk - 1, axis=1)[:, kk - 1].astype(np.float64)
            + err
        )
        kth_c = kth_b + r_b[sl]  # ≥ the true kth of every member cell
        cell_thr2 = ((np.sqrt(kth_c * kth_c + err + eps) + 2.0 * d_max[sl])
                     ** 2 + eps) * slack
        reach = r_b[sl] + np.sqrt(cell_thr2 + err)
        lim = ((reach * reach + err) * slack).astype(np.float32)
        rows, cols = np.nonzero(db <= lim[:, None])
        cuts = np.searchsorted(rows, np.arange(len(lim) + 1))
        for i in range(len(lim)):
            cand = cols[cuts[i] : cuts[i + 1]]
            mem = order[first[b0 + i] : last[b0 + i]]
            d2 = _chord2_f32(C[mem], S32[:, cand])
            kth2 = np.partition(d2, kk - 1, axis=1)[:, kk - 1]
            # upper bound on the true kth chord (error folded inside the
            # sqrt — adding it outside underestimates near d2≈0)
            kth = np.sqrt(kth2 + eps2)
            thr = kth + 2.0 * d_ch[mem]
            mask = d2 <= (thr * thr + eps2)[:, None]
            # ascending station order (cand and nonzero's columns are
            # ascending) — the argmin first-occurrence tie rule ==
            # smallest station id
            flat = np.broadcast_to(cand.astype(np.int32), mask.shape)[mask]
            ends = np.cumsum(mask.sum(axis=1)).tolist()
            out.update(
                (key, flat[lo:hi])
                for key, lo, hi in zip(keys[mem].tolist(), [0] + ends, ends)
            )
    return out, res_f


#: per-worker grow-only scratch buffers (guide §4.5 heavyweight-state
#: pattern). Why: on this class of virtualized host, FIRST-TOUCH page
#: faults on fresh large allocations are orders of magnitude slower than
#: reuse (measured in-worker: a plain 160 MB numpy fill took 31 s on
#: first touch across 32 concurrent workers — ~5 MB/s — while warmed
#: pages run at full DRAM speed; the r7 record's 18.8→122 s knn spreads
#: and retried runs are this effect). Allocating the kernel's big
#: matrices once per worker and reusing them across batches/tasks/
#: queries (workers are reused: spark.python.worker.reuse default) pays
#: the fault cost once per worker instead of once per batch. The pool is
#: keyed by buffer name; shapes only ever grow; a PID guard resets it
#: after fork so children never share a parent's arrays.
_SCRATCH: dict = {}


def _scratch(name: str, shape: tuple, dtype) -> "np.ndarray":
    import os

    if _SCRATCH.get("_pid") != os.getpid():
        _SCRATCH.clear()
        _SCRATCH["_pid"] = os.getpid()
    buf = _SCRATCH.get(name)
    if buf is None or buf.dtype != np.dtype(dtype) or any(
        b < s for b, s in zip(buf.shape, shape)
    ):
        grown = (
            tuple(max(b, s) for b, s in zip(buf.shape, shape))
            if buf is not None and buf.dtype == np.dtype(dtype)
            else shape
        )
        buf = np.empty(grown, dtype)
        _SCRATCH[name] = buf
    return buf[tuple(slice(0, s) for s in shape)]


def topk_indexed_np(
    lat_v: "np.ndarray",
    lon_v: "np.ndarray",
    S_xyz: "np.ndarray",
    s_ids: "np.ndarray",
    index: dict[int, "np.ndarray"],
    k: int,
    res_f: int,
):
    """Exact kNN for a batch against a :func:`build_knn_index` index.

    Same contract as :func:`topk_bucketed_np` — (idx, d2) of shape (n, k),
    NaN where no GPS — but the per-cell lists are complete by construction,
    so there is no runtime certification: probes in covered cells run one
    pooled chord² pass + kk argmin passes over the (much smaller) pruned
    lists; probes outside coverage take the fp32-prefiltered full scan
    (:func:`_fallback_f32_scan`). Requires ascending ``s_ids`` (the argmin
    first-occurrence tie rule is the (d2, station_id) oracle order) and
    raises ValueError otherwise."""
    if np.any(np.diff(s_ids) < 0):
        raise ValueError(
            "topk_indexed_np needs s_ids in ascending order: its argmin "
            "tie rule returns the first position, which is the smallest "
            "station id only on an id-sorted station table"
        )
    n = len(lat_v)
    kk = min(k, S_xyz.shape[0])
    out_idx = np.full((n, k), np.nan)
    out_d2 = np.full((n, k), np.nan)
    valid = ~np.isnan(lat_v) & ~np.isnan(lon_v)
    if not valid.any():
        return out_idx, out_d2
    P = _xyz_np(lat_v, lon_v)
    nx, ny = 2**res_f, 2 ** (res_f - 1)
    w = 360.0 / nx
    ix = np.clip(np.nan_to_num((lon_v + 180.0) / w), 0, nx - 1)
    iy = np.clip(np.nan_to_num((lat_v + 90.0) / w), 0, ny - 1)
    key = np.where(
        valid,
        np.int64(res_f) * np.int64(2**56)
        + ix.astype(np.int64) * np.int64(2**28)
        + iy.astype(np.int64),
        np.int64(-1),
    )
    order = np.argsort(key, kind="stable")
    sk = key[order]
    starts = np.flatnonzero(np.r_[True, sk[1:] != sk[:-1]])
    bounds = np.r_[starts, len(sk)]
    seg_rows: list[np.ndarray] = []
    seg_cand: list[np.ndarray] = []
    fb: list[np.ndarray] = []
    for gi in range(len(starts)):
        if sk[starts[gi]] == -1:
            continue
        rows = order[bounds[gi] : bounds[gi + 1]]
        cand = index.get(int(sk[starts[gi]]))
        if cand is None:
            fb.append(rows)
            continue
        seg_rows.append(rows)
        seg_cand.append(cand)
    # pooled pass in ROW CHUNKS of ~4096: bounds the padded (rows × mb)
    # buffer (pool first-touch cost — see _SCRATCH) and pads each chunk
    # only to ITS widest segment instead of the batch-wide maximum
    # (the r7-ADVICE padding concern: one dense cell no longer inflates
    # every row's padding)
    chunk_target = 4096
    g0 = 0
    while g0 < len(seg_rows):
        g1 = g0
        bn = 0
        while g1 < len(seg_rows) and (bn == 0 or bn + len(seg_rows[g1]) <= chunk_target):
            bn += len(seg_rows[g1])
            g1 += 1
        c_rows = seg_rows[g0:g1]
        c_cand = seg_cand[g0:g1]
        g0 = g1
        mb = max(len(c) for c in c_cand)
        rix = np.concatenate(c_rows)
        d2buf = _scratch("d2buf", (bn, mb), np.float64)
        gc = _scratch("gc", (len(c_cand), mb), np.int64)
        gc[: len(c_cand), :mb] = 0
        gidx = np.empty(bn, dtype=np.int64)
        pos = 0
        for g, (rows, cand) in enumerate(zip(c_rows, c_cand)):
            cw = len(cand)
            # elementwise, not BLAS: dgemm can round one output column
            # differently from another by its position in the tile, so two
            # co-located stations (an exact tie) could differ by an ulp
            # and the argmin would pick by position, not by id. Same ops
            # and order as the fallback's fp64 re-rank.
            pr, sv = P[rows], S_xyz[cand]
            d2buf[pos : pos + len(rows), :cw] = 2.0 - 2.0 * (
                pr[:, 0:1] * sv[:, 0]
                + pr[:, 1:2] * sv[:, 1]
                + pr[:, 2:3] * sv[:, 2]
            )
            d2buf[pos : pos + len(rows), cw:] = np.inf
            gc[g, :cw] = cand
            gidx[pos : pos + len(rows)] = g
            pos += len(rows)
        ar = np.arange(bn)
        for j in range(kk):
            jj = np.argmin(d2buf, axis=1)
            out_idx[rix, j] = gc[gidx, jj].astype(np.float64)
            out_d2[rix, j] = np.maximum(d2buf[ar, jj], 0.0)
            if j + 1 < kk:
                d2buf[ar, jj] = np.inf
    if fb:
        _fallback_f32_scan(np.concatenate(fb), P, S_xyz, kk, out_idx, out_d2)
    return out_idx, out_d2


def _fallback_f32_scan(rows, P, S_xyz, kk, out_idx, out_d2):
    """Full-scan fallback for probes outside index coverage: fp32 GEMM
    prefilter + exact fp64 re-rank of the survivors.

    Replaces the argpartition(mm=k+8) + risky-row full-fp64-rescan shape:
    with clustered build sides (e.g. tens of co-located stations per grid
    slot) a far probe sees MORE than mm near-ties, so the old risky path
    re-ran the whole fp64 scan for nearly every fallback row — 69% of
    kernel time at the sf1.0 shape (cProfile). Here kth32 comes from kk
    destructive argmin passes (no full-matrix partition), survivors
    (d2f ≤ kth32 + margin — the same exactness argument: every true fp64
    top-k member survives because |fp32−fp64| < 2e-6 ≪ margin) are
    re-ranked in fp64 as ONE flat ragged list with a single lexsort.
    Tie-break: lexsort minor key is the ascending station position ==
    ascending id. No per-row Python, no second full scan."""
    S32 = S_xyz.T.astype(np.float32)
    # chunk rows: bounds the pooled fp32 matrices to (1024 × |S|) ≈ 40 MB
    # at 10k stations — the pool's one-time first-touch cost per worker
    # scales with the arena, so smaller is better as long as the GEMM
    # stays efficient (row dim 1024 is plenty)
    CH = 1024
    for c0 in range(0, len(rows), CH):
        r = rows[c0 : c0 + CH]
        # pooled buffers + in-place ops: same float ops in the same order
        # as `2 - 2*(P@S32)` (multiply then subtract, no FMA), zero fresh
        # large allocations per chunk (first-touch faults dominate here —
        # see _SCRATCH)
        # width baked into the key: np.matmul(out=) needs a C-contiguous
        # target, which a row-prefix slice only is at full trailing width
        s_n = S_xyz.shape[0]
        d2f = _scratch(f"fb_d2f_{s_n}", (len(r), s_n), np.float32)
        np.matmul(P[r].astype(np.float32), S32, out=d2f)
        np.multiply(d2f, np.float32(2.0), out=d2f)
        np.subtract(np.float32(2.0), d2f, out=d2f)
        work = _scratch(f"fb_work_{s_n}", d2f.shape, np.float32)
        np.copyto(work, d2f)
        arc = np.arange(len(r))
        kth32 = None
        for j in range(kk):
            jj = np.argmin(work, axis=1)
            kth32 = work[arc, jj]
            if j + 1 < kk:
                work[arc, jj] = np.inf
        mask = _scratch(f"fb_mask_{s_n}", d2f.shape, np.bool_)
        np.less_equal(d2f, (kth32 + _F32_MARGIN)[:, None], out=mask)
        mrows, mcols = np.nonzero(mask)
        pr = P[r[mrows]]
        sv = S_xyz[mcols]
        d2e = 2.0 - 2.0 * (
            pr[:, 0] * sv[:, 0] + pr[:, 1] * sv[:, 1] + pr[:, 2] * sv[:, 2]
        )
        order = np.lexsort((mcols, d2e, mrows))
        mr = mrows[order]
        starts = np.flatnonzero(np.r_[True, mr[1:] != mr[:-1]])
        rank = np.arange(len(mr)) - np.repeat(
            starts, np.diff(np.r_[starts, len(mr)])
        )
        keep = rank < kk
        out_idx[r[mr[keep]], rank[keep]] = mcols[order][keep].astype(
            np.float64
        )
        out_d2[r[mr[keep]], rank[keep]] = np.maximum(d2e[order][keep], 0.0)


def _station_struct(stations: DataFrame) -> Column:
    """station struct with precomputed unit-sphere coords appended."""
    x, y, z = _xyz(F.col("st_lat"), F.col("st_lon"))
    return F.struct(
        *[F.col(c) for c in stations.columns],
        x.alias("_sx"), y.alias("_sy"), z.alias("_sz"),
    )


def stations_by_cell(stations: DataFrame, res: int, ring: int) -> DataFrame:
    """cell → array<struct<station…, _sx,_sy,_sz>> lookup (broadcast side)."""
    cell = grid.cell_of(F.col("st_lon"), F.col("st_lat"), res)
    return (
        stations.select(
            F.explode(grid.kring_cells(cell, res, ring)).alias("_cell"),
            _station_struct(stations).alias("_s"),
        )
        .groupBy("_cell")
        .agg(F.collect_list("_s").alias("_ring_stations"))
    )


def _gps_ok(lat: Column, lon: Column) -> Column:
    """True iff both coordinates are present and non-NaN — the gate every
    kNN output passes through so GPS-less rows get NULL enrichment instead
    of a fabricated antipodal match (reference's no-GPS routing,
    src/pipeline/utils/gps_utils.py:87-94)."""
    return (
        lat.isNotNull()
        & lon.isNotNull()
        & ~F.isnan(lat.cast("double"))
        & ~F.isnan(lon.cast("double"))
    )


def _safe_idx(i: Column) -> Column:
    """NaN-safe winner-index cast: NaN (no GPS) → NULL int (ANSI-proof)."""
    return F.when(~F.isnan(i), i).cast("int")


def all_stations_array(stations: DataFrame) -> DataFrame:
    """ONE-row DataFrame holding every station (with unit-sphere coords) as
    an array — the HOF fallback's candidate set, attached via a single-row
    broadcast crossJoin. Plan size is O(1) regardless of |stations|
    (replaces a constant-folded literal whose expression tree grew ∝
    |stations| and blew up Catalyst analysis past ~10⁴ stations)."""
    return stations.agg(
        F.collect_list(_station_struct(stations)).alias("_all_st")
    )


def knn_station_array(
    images: DataFrame,
    stations: DataFrame,
    k: int = 3,
    res: int = 10,
    ring: int = 2,
    lon: str = "lon",
    lat: str = "lat",
    strategy: str = "arrow",
) -> DataFrame:
    """images + ``knn`` array column (k nearest stations, ascending dist).

    Each element: struct<dist_m double, station cols…>. Exact for every row.
    Pure map stages — the probe side never shuffles.

    strategy='arrow' (default): exact kNN via GEMM in an Arrow-batched
    pandas UDF — for unit vectors ``|p-s|² = 2-2·p·s``, so a batch of B
    probes × S stations is one (B,3)×(3,S) matmul + argpartition. At
    S ≤ ~10⁵ this beats interpreted higher-order functions by ~20×
    locally and is a pure map stage at any probe scale. (For planetary
    station counts, use strategy='hof' whose ring prefilter bounds the
    candidate set, or shard stations regionally first.)

    strategy='hof': pure-DataFrame ring-candidate path (no Python at all)
    — broadcast cell→array lookup + codegen'd transform/sort, with
    certified exactness + literal-array fallback.
    """
    if strategy == "arrow":
        return _knn_arrow(images, stations, k=k, lon=lon, lat=lat)
    return _knn_hof(images, stations, k=k, res=res, ring=ring, lon=lon, lat=lat)


def _knn_arrow_idx(
    images: DataFrame,
    stations: DataFrame,
    k: int,
    lon: str,
    lat: str,
    res: int = 10,
    ring: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """images + ``_knn_i`` array<struct<idx,d2>> (winner positions), plus the
    index→station payload table (broadcastable, same ordering as idx)."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    st_tbl, s_lat, s_lon, s_ids, s_xyz = _station_dim(stations)
    knn_index, res_f = build_knn_index(s_lat, s_lon, s_xyz, k, res, ring)
    sc = images.sparkSession.sparkContext
    bc = sc.broadcast((s_xyz, s_ids, knn_index, res_f))
    kk = min(k, len(s_ids))

    # fixed-width struct i0,d0,i1,d1,… — returned as a pd.DataFrame of flat
    # float64 columns, the fastest Arrow path (per-row Python lists are
    # ~10× slower per batch; k is a plan-time constant so width is static)
    out_t = StructType(
        [
            f
            for j in range(kk)
            for f in (
                StructField(f"i{j}", DoubleType()),
                StructField(f"d{j}", DoubleType()),
            )
        ]
    )

    @F.pandas_udf(out_t)
    def _topk_idx(plat: pd.Series, plon: pd.Series) -> pd.DataFrame:
        S, ids, index, rf = bc.value
        lat_v = plat.to_numpy(np.float64, na_value=np.nan)
        lon_v = plon.to_numpy(np.float64, na_value=np.nan)
        idx, d2v = topk_indexed_np(lat_v, lon_v, S, ids, index, kk, rf)
        cols: dict[str, np.ndarray] = {}
        for j in range(kk):
            cols[f"i{j}"] = idx[:, j]
            cols[f"d{j}"] = d2v[:, j]
        return pd.DataFrame(cols)

    spark = images.sparkSession
    st_indexed = _indexed_payload_df(spark, stations, st_tbl)
    with_idx = images.withColumn("_knn_i", _topk_idx(F.col(lat), F.col(lon)))
    return with_idx, st_indexed, kk


def _station_dim(stations: DataFrame):
    """Collect the station dimension once, columnar, in ascending
    ``station_id`` order: (Arrow table, s_lat, s_lon, s_ids, s_xyz).

    The id-ascending layout unlocks the kernel's argmin fast path (tie
    rule == first occurrence == smallest id), and the payload table built
    from the same Arrow table (:func:`_indexed_payload_df`) enumerates the
    same order, so ``_st_idx`` stays consistent. ``toArrow`` plus a stable
    argsort replaces a Row ``collect`` and a Python sort: with the payload
    table, 0.10-0.16 s vs 0.23-0.34 s at 10k stations (4-core VM), the
    same at 100."""
    tbl = stations.toArrow()  # dim-table collect == broadcast data motion
    if tbl.column("station_id").null_count:
        raise ValueError("station_id must not be NULL")
    s_ids = tbl.column("station_id").to_numpy().astype(np.int64)
    order = np.argsort(s_ids, kind="stable")
    tbl = tbl.take(order)

    def col(name: str) -> "np.ndarray":
        return np.asarray(
            tbl.column(name).to_numpy(zero_copy_only=False), dtype=np.float64
        )

    s_lat, s_lon = col("st_lat"), col("st_lon")
    return tbl, s_lat, s_lon, s_ids[order], _xyz_np(s_lat, s_lon)


def _indexed_payload_df(spark, stations: DataFrame, st_tbl) -> DataFrame:
    """``(_st_idx, station cols…)`` broadcast payload table from the Arrow
    table of :func:`_station_dim`. createDataFrame takes the Arrow path:
    the row-tuple path re-serializes every row through the Python RDD
    pickler (0.47-0.72 s per query at 1000 stations vs 0.16-0.23 s via
    Arrow, r7 kNN-core attribution); at dim scale the payload is
    broadcast either way."""
    import pyarrow as pa

    payload = st_tbl.add_column(
        0, "_st_idx", pa.array(np.arange(st_tbl.num_rows, dtype=np.int32))
    )
    return spark.createDataFrame(
        payload,
        schema=(
            "_st_idx int, "
            + ", ".join(f"{c} {t}" for c, t in stations.dtypes)
        ),
    )


def knn_nearest(
    images: DataFrame,
    stations: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    res: int = 10,
    ring: int = 2,
) -> DataFrame:
    """images + nearest station payload columns + ``dist_m`` — the 1-NN
    shape the enrichment plan consumes. One Arrow map stage + one broadcast
    equi-join (codegen); nothing shuffles. ``res``/``ring``: candidate
    buckets (exact for any setting)."""
    with_idx, st_indexed, _ = _knn_arrow_idx(
        images, stations, k=1, lon=lon, lat=lat, res=res, ring=ring
    )
    out = (
        with_idx.withColumn("_st_idx", _safe_idx(F.col("_knn_i")["i0"]))
        .withColumn("dist_m", _chord2_to_m(F.col("_knn_i")["d0"]))
        .drop("_knn_i")
        .join(F.broadcast(st_indexed), "_st_idx", "left")
        .drop("_st_idx")
    )
    return out


#: columns a packed observation dimension must carry (see pack_observations)
PACKED_OBS_COLS = ("station_id", "_obs_lo", "_obs_hi", "_obs_entries",
                   "_obs_dense")

#: fixed columns of the columnar (struct-of-arrays) packed layout (r8);
#: payload columns ride as ``_obsv_<name>`` arrays alongside these
PACKED_OBS_V2_COLS = ("station_id", "_obs_lo", "_obs_hi", "_obs_dense",
                      "_obs_days")


def _packed_layout(packed: DataFrame) -> str:
    """'v1' (array-of-structs), 'v2' (struct-of-arrays) or raises."""
    cols = set(packed.columns)
    if set(PACKED_OBS_COLS) <= cols:
        return "v1"
    if set(PACKED_OBS_V2_COLS) <= cols and any(
        c.startswith("_obsv_") for c in packed.columns
    ):
        return "v2"
    raise ValueError(
        "packed dim has neither the pack_observations (v1) nor the "
        "pack_observations_columnar (v2) schema — build it with one of "
        "those"
    )


def pack_observations_columnar(
    observations: DataFrame,
    date_col: str = "weather_historical_date",
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """Columnar (struct-of-arrays) twin of :func:`pack_observations` — the
    same per-station aggregation, but the payload lands in ONE primitive
    array per column (``_obsv_<name>``) instead of an array of structs.

    Why (r8): the broadcast hash relation for the array-of-structs layout
    carries ~48 B per observation (8 B offset/size + an UnsafeRow per
    element) — 1.2 GB at the 10k-station × 2557-day shape, and repeated
    cold builds of it GC-thrashed the local-mode JVM (measured: the dated
    query's reps RISING 34→48→56 s as relations accumulated). Primitive
    double arrays are 8 B/element with one header per station: the same
    dimension packs ~3× smaller and builds ~3× faster, values identical.

    Schema: ``PACKED_OBS_V2_COLS`` + one ``_obsv_<col>`` array per payload
    column. ``_obs_days`` (int day offsets from ``_obs_lo``, date-sorted)
    is NULL for dense stations — the dense lookup indexes by
    ``datediff(date, _obs_lo)`` directly; sparse/duplicate-date stations
    use array_position over ``_obs_days`` (first occurrence == first in
    date-sorted order, the same duplicate-key contract as v1).
    NULL-dated rows are dropped exactly as in v1."""
    payload = (
        payload_cols
        if payload_cols is not None
        else [
            c
            for c in observations.columns
            if c not in ("station_id", date_col)
        ]
    )
    if "d" in payload:
        raise ValueError(
            "pack_observations reserves the struct field name 'd' for the "
            "observation date; rename the payload column 'd' first"
        )
    missing = [c for c in payload if c not in observations.columns]
    if missing:
        raise ValueError(f"payload_cols not in observations: {missing}")
    packed = (
        observations.filter(F.col(date_col).isNotNull())
        .groupBy("station_id")
        .agg(
            F.min(date_col).alias("_obs_lo"),
            F.max(date_col).alias("_obs_hi"),
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col(date_col).alias("d"),
                        *[F.col(c) for c in payload],
                    )
                )
            ).alias("_e"),
        )
    )
    n_dates = F.size(
        F.array_distinct(F.transform(F.col("_e"), lambda e: e["d"]))
    )
    dense = (
        F.size("_e") == F.datediff("_obs_hi", "_obs_lo") + F.lit(1)
    ) & (n_dates == F.size("_e"))
    return packed.select(
        "station_id",
        "_obs_lo",
        "_obs_hi",
        dense.alias("_obs_dense"),
        F.when(
            ~dense,
            F.transform(
                F.col("_e"),
                lambda e: F.datediff(e["d"], F.col("_obs_lo")).cast("int"),
            ),
        ).alias("_obs_days"),
        *[_field_array(c) for c in payload],
    )


def _field_array(cname: str):
    """array of one struct field over ``_e`` — a closure factory because
    F.transform treats a 2-arg lambda as (element, index), so the usual
    ``lambda e, c=c:`` default-arg capture cannot be used here."""
    return F.transform(F.col("_e"), lambda e: e[cname]).alias(
        f"_obsv_{cname}"
    )


def pack_observations(
    observations: DataFrame,
    date_col: str = "weather_historical_date",
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """Aggregate a (station_id, date)-keyed observation dimension into ONE
    row per station: ``(station_id, _obs_lo, _obs_hi, _obs_entries,
    _obs_dense)`` where ``_obs_entries`` is the date-sorted array of
    ``struct(d, *payload)``. This is the packed build side
    ``nearest_station_dated(pack_obs=True)`` broadcasts — extracted so a
    production pipeline can build it ONCE (persist / write as a
    materialized dim table) and hand it to every dated consumer via
    ``packed_obs=`` instead of re-aggregating per query (VERDICT r5 #3).

    ``payload_cols``: prune the packed payload to the columns the
    consumer actually extracts — the broadcast bytes scale with
    |payload|, and a wide observation table (the reference's JSONB rows
    carry full METAR records) packs 10× smaller when the query needs 3
    fields. Default: every non-key column.

    NULL-dated rows are dropped (they can never match the equi-join key,
    and a NULL inside the array would shift every dense index).
    ``_obs_dense`` ⇔ one entry per consecutive day AND no duplicate
    dates — a duplicated date would satisfy the size==span test alone
    while shifting indexes. The distinct count is computed on the packed
    array in the same projection rather than countDistinct in the agg,
    whose distinct-rewrite would add a second exchange."""
    # `is not None`, not `or`: an explicit payload_cols=[] means "pack
    # only the date-presence dimension" (the wide-table pruning use-case
    # this parameter exists for), not "default to everything" (r6 review)
    payload = (
        payload_cols
        if payload_cols is not None
        else [
            c
            for c in observations.columns
            if c not in ("station_id", date_col)
        ]
    )
    if "d" in payload:
        # 'd' is the struct's date field; a payload column of the same
        # name would make _obs_hit['d'] extraction ambiguous (ADVICE r5)
        raise ValueError(
            "pack_observations reserves the struct field name 'd' for the "
            "observation date; rename the payload column 'd' first"
        )
    missing = [c for c in payload if c not in observations.columns]
    if missing:
        raise ValueError(f"payload_cols not in observations: {missing}")
    packed = (
        observations.filter(F.col(date_col).isNotNull())
        .groupBy("station_id")
        .agg(
            F.min(date_col).alias("_obs_lo"),
            F.max(date_col).alias("_obs_hi"),
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col(date_col).alias("d"),
                        *[F.col(c) for c in payload],
                    )
                )
            ).alias("_obs_entries"),
        )
    )
    n_dates = F.size(
        F.array_distinct(
            F.transform(F.col("_obs_entries"), lambda e: e["d"])
        )
    )
    return packed.withColumn(
        "_obs_dense",
        (F.size("_obs_entries")
         == F.datediff("_obs_hi", "_obs_lo") + F.lit(1))
        & (n_dates == F.size("_obs_entries")),
    )


def nearest_station_dated(
    images: DataFrame,
    stations: DataFrame,
    observations: DataFrame | None = None,
    lon: str = "lon",
    lat: str = "lat",
    ts: str = "captured_at",
    broadcast_obs: bool = True,
    prune_obs_dates: bool = True,
    pack_obs: bool = True,
    res: int = 10,
    ring: int = 2,
    packed_obs: DataFrame | None = None,
) -> DataFrame:
    """Composite spatio-temporal weather join: nearest station *spatially*,
    then equi-join the station's observation for the capture date
    (reference's `weather_historical_date DATE` + JSONB payload,
    scripts/create-tables.sql:129-132).

    images + nearest-station payload + dist_m + weather_historical_date +
    obs_* columns. Plan: one Arrow 1-NN map stage, then an equi-join on the
    uniform composite key (station_id, date) — broadcast when the
    observation dimension fits (``broadcast_obs=True``); otherwise a
    skew-free shuffle (dates and station ids are both uniform, geographic
    hot cells never reach the key). ``res``/``ring``: 1-NN candidate
    buckets, forwarded to knn_nearest (exact for any setting).

    ``prune_obs_dates``: shrink the observation dimension to the probe's
    [min, max] capture-date range before broadcasting. The obs dim is
    |stations| × |history days|, but any one corpus spans a fraction of
    the history — dates outside the probe span can never match the LEFT
    join key, so the filter is exact-preserving while cutting the
    broadcast build side by the temporal-span ratio. At 100× scale this is
    the difference between broadcasting the full station-day history and
    only the corpus's own epoch. The span is attached LAZILY — a
    crossJoin with the broadcast 1-row (min, max) aggregate of the
    probe's ts column, filtered per obs row — so constructing the
    DataFrame runs NO job and the pruning cost stays inside the query's
    own execution (an eager .first() here would re-run the whole probe
    plan at build time and hide work from benchmarks). An empty probe
    yields NULL bounds → BETWEEN is never true → empty build side, which
    the LEFT join semantics absorb. Measured on the sf0.1 fixture
    (r6 profile): the prune costs ~0.5 s — the span aggregate re-runs
    the probe scan — while cutting only 6% of obs days (the fixture's
    corpus spans 94% of the history), so the bench query runs
    ``prune_obs_dates=False``; the lever pays for itself exactly when a
    corpus spans a narrow epoch of a long history, which is the
    planetary-scale shape it exists for.

    ``packed_obs``: a pre-built packed dimension from
    :func:`pack_observations` (schema ``PACKED_OBS_COLS``). The pack
    build is a full shuffle+agg of the observation table; a pipeline
    running several dated consumers (flagship enrich + the standalone
    dated join + any rollup) should build it once, persist it, and pass
    it here — each consumer then starts at the broadcast, skipping the
    per-query re-aggregation (VERDICT r5 #3). Mutually exclusive with
    ``observations``/``prune_obs_dates`` pruning (prune happens at or
    before pack time; ``payload_cols`` pruning likewise).

    ``pack_obs`` (broadcast path only): aggregate the observation rows
    into ONE row per station carrying a date-sorted array of payload
    structs, broadcast that, and look the capture date up with an O(1)
    array index. The r4 row-level broadcast keyed (station_id, date)
    built a |stations|×|days| hash relation (2.4M entries at sf0.1) —
    per-row UnsafeRow overhead plus the hash build dominated the query;
    packing shrinks the relation to |stations| keys for the same bytes
    of payload and measured ~1.8× faster end-to-end (BENCH.md r5).
    Two pruning levers VERDICT r4 suggested were measured and declined
    for this fixture: winning-station semi-join (979/1000 stations win
    at sf0.1 — no cut, and it costs an extra probe pass) and the date
    span covers 94% of obs days (prune kept — it is the lever that
    matters when a corpus spans a narrow epoch, it just can't help this
    fixture). Exactness: stations whose dates are dense (one row per
    consecutive day, no duplicate dates — the station-day history
    contract, reference PK semantics create-tables.sql:129-132) index
    directly; stations with gaps or duplicate dates fall back to an
    exact linear probe of their own date-sorted array, and NULL-dated
    rows are dropped pre-pack (they can never match the equi-join key).
    The one divergence from the row-level join is duplicate
    (station_id, date) keys: the plain join would emit one output row
    per duplicate, the packed lookup emits the first in date-sorted
    order — a violation of the reference's PK either way. ``pack_obs``
    is ignored
    on the shuffle path (``broadcast_obs=False``): a station-keyed
    shuffle would co-locate ALL of a hot station's probes on one task,
    while the (station_id, date) composite key keeps the shuffle
    skew-free — at planetary dims the composite key is the right
    partitioning."""
    if (observations is None) == (packed_obs is None):
        raise ValueError(
            "nearest_station_dated needs exactly one of observations= "
            "(row-level dim) or packed_obs= (pre-built pack_observations "
            "output)"
        )
    if packed_obs is not None and not broadcast_obs:
        raise ValueError(
            "packed_obs requires broadcast_obs=True — the shuffle path "
            "joins on the skew-free (station_id, date) composite key and "
            "must not co-locate a station's whole history on one task"
        )
    nn = knn_nearest(images, stations, lon=lon, lat=lat, res=res, ring=ring)
    probe = nn.withColumn("weather_historical_date", F.to_date(F.col(ts)))
    if observations is not None:
        obs = observations.withColumnRenamed(
            "obs_date", "weather_historical_date"
        )
        if prune_obs_dates:
            span = images.select(
                F.min(F.to_date(F.col(ts))).alias("_span_lo"),
                F.max(F.to_date(F.col(ts))).alias("_span_hi"),
            )
            obs = (
                obs.crossJoin(F.broadcast(span))
                .filter(
                    F.col("weather_historical_date").between(
                        F.col("_span_lo"), F.col("_span_hi")
                    )
                )
                .drop("_span_lo", "_span_hi")
            )
    if broadcast_obs and (pack_obs or packed_obs is not None):
        # inline pack: the columnar layout (r8) — ~3× smaller broadcast,
        # same values; a pre-built packed_obs may be either layout
        packed = (
            packed_obs
            if packed_obs is not None
            else pack_observations_columnar(obs)
        )
        return packed_obs_lookup(probe, packed)
    if broadcast_obs:
        obs = F.broadcast(obs)
    return probe.join(obs, ["station_id", "weather_historical_date"], "left")


def packed_obs_lookup(
    probe: DataFrame,
    packed: DataFrame,
    date_col: str = "weather_historical_date",
) -> DataFrame:
    """LEFT-attach the packed per-station observation payload for
    ``probe[date_col]``: a broadcast hash join on station_id (|stations|
    keys — NOT |stations|×|days|) followed by an O(1) array-index lookup
    when the station's dates are dense, or an exact linear probe of its
    date-sorted array otherwise. Shared by ``nearest_station_dated`` and
    ``plans.enrich`` so one persisted :func:`pack_observations` dim
    serves every dated consumer (VERDICT r5 #3). Returns probe columns +
    the packed payload columns; probes whose date misses resolve to NULL
    payloads exactly like a row-level LEFT equi-join."""
    layout = _packed_layout(packed)
    reserved = {"_obs_lo", "_obs_hi", "_obs_entries", "_obs_dense",
                "_obs_hit", "_obs_days"} | {
        c for c in packed.columns if c.startswith("_obsv_")
    } | ({"_obs_pos"} if layout == "v2" else set())
    clash = reserved & set(probe.columns)
    if clash:
        raise ValueError(
            f"packed_obs_lookup reserves temp column names "
            f"{sorted(reserved)}; probe already has {sorted(clash)} — "
            "rename them first"
        )
    whd = F.col(date_col)
    if layout == "v2":
        payload = [c[len("_obsv_"):] for c in packed.columns
                   if c.startswith("_obsv_")]
        # project before broadcasting: a persisted dim may carry extra
        # columns, which would otherwise ride the broadcast and leak out
        packed = packed.select(
            *PACKED_OBS_V2_COLS, *[f"_obsv_{c}" for c in payload]
        )
        out = probe.join(F.broadcast(packed), "station_id", "left")
        idx = F.datediff(whd, F.col("_obs_lo"))
        # F.get returns NULL out-of-bounds/negative (never throws under
        # ANSI) → out-of-span dates resolve to NULL payloads exactly like
        # the row-level LEFT join. Sparse stations: array_position's
        # FIRST-occurrence rule == first in date-sorted order, the v1
        # duplicate-key contract.
        pos = F.when(
            F.col("_obs_dense"), idx
        ).otherwise(
            F.array_position(F.col("_obs_days"), idx).cast("int") - F.lit(1)
        )
        keep = [c for c in out.columns if c not in reserved]
        out = out.withColumn("_obs_pos", pos)
        return out.select(
            *keep,
            *[
                F.get(F.col(f"_obsv_{c}"), F.col("_obs_pos")).alias(c)
                for c in payload
            ],
        )
    payload = [
        f
        for f in packed.schema["_obs_entries"].dataType.elementType.names
        if f != "d"
    ]
    out = probe.join(
        F.broadcast(packed.select(*PACKED_OBS_COLS)), "station_id", "left"
    )
    # F.get returns NULL out-of-bounds (never throws under ANSI),
    # so out-of-span dates resolve to NULL payloads exactly like
    # the row-level LEFT join
    hit = F.when(
        F.col("_obs_dense"),
        F.get(F.col("_obs_entries"), F.datediff(whd, F.col("_obs_lo"))),
    ).otherwise(
        F.get(
            F.filter(F.col("_obs_entries"), lambda e: e["d"] == whd),
            F.lit(0),
        )
    )
    keep = [c for c in out.columns if c not in reserved]
    return out.withColumn("_obs_hit", hit).select(
        *keep, *[F.col("_obs_hit")[c].alias(c) for c in payload]
    )


def _knn_arrow(
    images: DataFrame,
    stations: DataFrame,
    k: int,
    lon: str,
    lat: str,
) -> DataFrame:
    # array-of-payload form: winner payloads re-attached via k broadcast
    # hash joins against the indexed station table (plan size O(k·|cols|),
    # independent of |stations|); GPS-less rows get a NULL array
    st_cols = stations.columns
    with_idx, st_indexed, kk = _knn_arrow_idx(images, stations, k=k, lon=lon, lat=lat)
    out = with_idx
    for j in range(kk):
        st_j = st_indexed.select(
            F.col("_st_idx").alias(f"_si{j}"),
            *[F.col(c).alias(f"_{c}__{j}") for c in st_cols],
        )
        out = out.withColumn(f"_si{j}", _safe_idx(F.col("_knn_i")[f"i{j}"])).join(
            F.broadcast(st_j), f"_si{j}", "left"
        )
    knn = F.array(
        *[
            F.struct(
                _chord2_to_m(F.col("_knn_i")[f"d{j}"]).alias("dist_m"),
                *[F.col(f"_{c}__{j}").alias(c) for c in st_cols],
            )
            for j in range(kk)
        ]
    )
    drop = (
        ["_knn_i"]
        + [f"_si{j}" for j in range(kk)]
        + [f"_{c}__{j}" for j in range(kk) for c in st_cols]
    )
    return out.withColumn(
        "knn", F.when(_gps_ok(F.col(lat), F.col(lon)), knn)
    ).drop(*drop)


def _knn_hof(
    images: DataFrame,
    stations: DataFrame,
    k: int = 3,
    res: int = 10,
    ring: int = 2,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    st_cols = stations.columns
    by_cell = stations_by_cell(stations, res, ring)
    fallback_df = all_stations_array(stations)

    def keyed(cands: Column) -> Column:
        """array<struct<d2, station_id, idx>> — the cheap sort keys."""
        return F.transform(
            cands,
            lambda s, i: F.struct(
                (
                    (s["_sx"] - F.col("_px")) * (s["_sx"] - F.col("_px"))
                    + (s["_sy"] - F.col("_py")) * (s["_sy"] - F.col("_py"))
                    + (s["_sz"] - F.col("_pz")) * (s["_sz"] - F.col("_pz"))
                ).alias("d2"),
                s["station_id"].alias("station_id"),
                i.alias("idx"),
            ),
        )

    def topk(cands: Column) -> Column:
        """k nearest as full payload structs with dist_m first."""
        top = F.slice(F.array_sort(keyed(cands)), 1, k)
        return F.transform(
            top,
            lambda t: F.struct(
                _chord2_to_m(t["d2"]).alias("dist_m"),
                *[
                    F.element_at(cands, t["idx"] + 1)[c].alias(c)
                    for c in st_cols
                ],
            ),
        )

    px, py, pz = _xyz(F.col(lat), F.col(lon))
    probe = (
        images.withColumn("_cell", grid.cell_of(F.col(lon), F.col(lat), res))
        .withColumn("_px", px).withColumn("_py", py).withColumn("_pz", pz)
    )
    joined = probe.join(F.broadcast(by_cell), "_cell", "left")

    # certification: k-th ring candidate closer than the un-scanned region
    wdeg = grid.cell_width_deg(res)
    guard_m = (
        F.lit(ring * wdeg * M_PER_DEG)
        * F.cos(F.radians(F.least(F.abs(F.col(lat)) + F.lit(ring * wdeg), F.lit(89.9))))
    )
    ring_keys = F.slice(F.array_sort(keyed(F.col("_ring_stations"))), 1, k)
    certified = _gps_ok(F.col(lat), F.col(lon)) & F.coalesce(
        (F.size(ring_keys) >= k)
        & (F.element_at(ring_keys, k)["d2"] <= _m_to_chord2(guard_m)),
        F.lit(False),
    )

    # SINGLE-SCAN plan: one projection with a CASE over both candidate
    # sets (certified → ring candidates; uncertified-with-GPS → full-set
    # rescan; no GPS → NULL). The full station array arrives as ONE
    # broadcast row (crossJoin of a 1-row aggregate — plan stays O(1) in
    # |stations|) and is dropped in the same projection, so it is only
    # *evaluated* on the uncertified branch (codegen CASE short-circuits)
    # and never survives into downstream rows. Replaces the former
    # filter/filter/union shape that scanned the probe + ring join twice.
    helper = ["_cell", "_ring_stations", "_px", "_py", "_pz"]
    return (
        joined.crossJoin(F.broadcast(fallback_df))
        .withColumn(
            "knn",
            F.when(certified, topk(F.col("_ring_stations"))).otherwise(
                F.when(
                    _gps_ok(F.col(lat), F.col(lon)), topk(F.col("_all_st"))
                )
            ),
        )
        .drop("_all_st", *helper)
    )


def knn_station_join(
    images: DataFrame,
    stations: DataFrame,
    k: int = 3,
    res: int = 10,
    ring: int = 2,
    lon: str = "lon",
    lat: str = "lat",
    id_col: str = "image_id",
    strategy: str = "arrow",
) -> DataFrame:
    """Exploded row shape: one row per (image, rank≤k) with station columns
    + dist_m + rank. Arrow top-k → posexplode → broadcast payload join —
    all map stages, no probe shuffle."""
    if strategy == "hof":
        arr = _knn_hof(images, stations, k=k, res=res, ring=ring, lon=lon, lat=lat)
        exploded = arr.select(
            *[c for c in images.columns],
            F.posexplode("knn").alias("_pos", "_s"),
        )
        st_payload = [c for c in stations.columns if c != "station_id"]
        return exploded.select(
            *[c for c in images.columns],
            (F.col("_pos") + 1).alias("rank"),
            F.col("_s")["station_id"].alias("station_id"),
            *[F.col("_s")[c].alias(c) for c in st_payload],
            F.col("_s")["dist_m"].alias("dist_m"),
        )

    with_idx, st_indexed, kk = _knn_arrow_idx(images, stations, k=k, lon=lon, lat=lat)
    # fixed-width struct → one row per rank (JVM-side unpack, pure codegen)
    pairs = F.array(
        *[
            F.struct(
                F.lit(j + 1).alias("rank"),
                F.col("_knn_i")[f"i{j}"].alias("i"),
                F.col("_knn_i")[f"d{j}"].alias("d"),
            )
            for j in range(kk)
        ]
    )
    exploded = with_idx.select(
        *[c for c in images.columns],
        F.explode(pairs).alias("_p"),
    ).select(
        *[c for c in images.columns],
        F.col("_p")["rank"].cast("int").alias("rank"),
        _safe_idx(F.col("_p")["i"]).alias("_st_idx"),
        _chord2_to_m(F.col("_p")["d"]).alias("dist_m"),
    ).filter(
        # GPS-less probes have no winners — drop them (matches the hof
        # strategy, whose posexplode of the NULL knn array emits no rows)
        F.col("_st_idx").isNotNull()
    )
    joined = exploded.join(F.broadcast(st_indexed), "_st_idx", "left").drop("_st_idx")
    return joined.select(
        *[c for c in images.columns],
        "rank",
        "station_id",
        *[c for c in stations.columns if c != "station_id"],
        "dist_m",
    )
