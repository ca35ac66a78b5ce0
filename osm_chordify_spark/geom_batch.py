"""Batched (CSR-expansion) geometry kernels over MANY zones at once.

The distributed zone operators (``operators/intersect_dist.py``,
``operators/raster.py``) run their exact-geometry refinement per zone:
a pandas ``groupby('__zid')`` whose per-group body is a handful of
small-array NumPy calls.  At 10⁵⁺ tiny zones the fixed per-call cost
(~0.3–0.5 ms of WKB parse + pandas slicing + small-array dispatch)
dominates the job by 10–30× (guide §4.2: hand whole batches to
vectorized kernels, don't loop rows in Python).

This module flattens a set of zones into contiguous segment arrays with
CSR offsets (zone → polygons → rings → segments) and evaluates
point-distance / point-in-polygon / segment-rect queries for MANY
(query, zone) pairs in single NumPy passes:

* each query row expands to its zone's segments via ``np.repeat`` +
  cumsum offsets (the classic CSR gather);
* per-element formulas are copied VERBATIM from ``geom.py``
  (``point_segment_dist``, ``winding_number``, ``_segs_intersect_rects``)
  so every float comparison is bit-identical to the per-zone path;
* per-query reductions use ``np.minimum.reduceat`` (min is exact, so
  reduction order cannot perturb results) and integer winding sums.

Cover classification (``zone_cover_cells_batch``) is segment-driven:
each ring segment is paired only with the cover cells and cover rows
its padded bbox reaches, so its cost grows with segments + cells, not
segments × cells.

Degenerate rings (< 2 distinct closed points ⇒ zero segments) are
represented by one sentinel segment at ``_FAR`` so every ring owns at
least one slot (``reduceat`` needs non-empty slices): the sentinel is
provably inert for winding (both endpoints above any query point) and
for Liang–Barsky (zero-length segment outside every rect), and a
per-zone ``zone_has_real`` mask restores the exact ``inf`` distance for
all-degenerate zones.
"""

from __future__ import annotations

import numpy as np

_FAR = 1e308
# bound on any expanded (query, segment) array a kernel builds at once
_CHUNK = 4_000_000


def _chunks(cost, chunk=_CHUNK):
    """Consecutive item slices whose summed expansion ``cost`` stays
    near ``chunk`` (a slice always holds at least one item)."""
    csum = np.cumsum(cost)
    n = len(csum)
    start = 0
    while start < n:
        base = csum[start - 1] if start else 0
        end = int(np.searchsorted(csum, base + chunk, side="left")) + 1
        end = min(max(end, start + 1), n)
        yield slice(start, end)
        start = end


def _csr(cnt):
    """counts → (offsets, owner of each expanded slot, slot's rank
    within its owner): the repeat/cumsum CSR expansion."""
    cnt = np.asarray(cnt, dtype=np.int64)
    off = np.concatenate(([0], np.cumsum(cnt))).astype(np.int64)
    owner = np.repeat(np.arange(len(cnt), dtype=np.int64), cnt)
    return off, owner, np.arange(off[-1], dtype=np.int64) - off[owner]


def _winding_contrib(AX, AY, BX, BY, X, Y):
    """Per-(point, segment) winding contribution: the element formula
    of ``geom.winding_number``."""
    dx, dy = BX - AX, BY - AY
    upward = (AY <= Y) & (BY > Y)
    downward = (AY > Y) & (BY <= Y)
    cross = dx * (Y - AY) - (X - AX) * dy
    return (upward & (cross > 0)).astype(np.int64) - (
        downward & (cross < 0)
    ).astype(np.int64)


def _segment_hits_rect(AX, AY, BX, BY, X0, Y0, X1, Y1):
    """Per-(segment, rect) Liang–Barsky hit, comparisons identical to
    ``geom._segs_intersect_rects``."""
    dx, dy = BX - AX, BY - AY
    t0 = np.zeros(len(AX))
    t1 = np.ones(len(AX))
    ok = np.ones(len(AX), dtype=bool)
    for p, q in (
        (-dx, AX - X0),
        (dx, X1 - AX),
        (-dy, AY - Y0),
        (dy, Y1 - AY),
    ):
        zero = p == 0
        ok &= ~(zero & (q < 0))
        with np.errstate(divide="ignore", invalid="ignore"):
            t = q / np.where(zero, 1.0, p)
        ent = (~zero) & (p < 0)
        ext = (~zero) & (p > 0)
        t0 = np.where(ent, np.maximum(t0, t), t0)
        t1 = np.where(ext, np.minimum(t1, t), t1)
    return ok & (t0 <= t1)


class FlatZones:
    """Flattened segment/ring/polygon structure for a list of zones.

    ``polys_list[u]`` is zone u's polygon list — each polygon a list of
    rings (outer first), each ring an (n, 2) float array — exactly the
    shape ``geom.geometry_polygons`` returns.
    """

    __slots__ = (
        "seg_ax", "seg_ay", "seg_bx", "seg_by",
        "zone_seg_off", "zone_ring_off", "zone_poly_off",
        "ring_local_seg_off", "ring_is_outer",
        "poly_local_ring_off", "zone_has_real",
    )

    def __init__(self, polys_list):
        # an empty zone gets one sentinel polygon/ring/segment so every
        # CSR slice is non-empty; winding 0 ⇒ outside, distance masked
        # to inf by zone_has_real
        polys_list = [polys or [[np.empty((0, 2))]] for polys in polys_list]
        rings = [np.asarray(r, dtype=np.float64) for polys in polys_list
                 for rs in polys for r in rs]
        poly_nring = np.array([len(rs) for polys in polys_list for rs in polys], dtype=np.int64)
        zone_npoly = np.array([len(polys) for polys in polys_list], dtype=np.int64)
        lens = np.array([len(r) for r in rings], dtype=np.int64)
        # one extra point at _FAR: the sentinel segments' endpoints
        pts = np.concatenate([r[:, :2] for r in rings if len(r)] + [np.full((1, 2), _FAR)])
        start = np.cumsum(lens) - lens
        # geom.ring_close: a ring not ending on its first point gets a
        # closing segment back to it
        ne = lens > 0
        opened = np.zeros(len(rings), dtype=bool)
        opened[ne] = (pts[start[ne]] != pts[start[ne] + lens[ne] - 1]).any(axis=1)
        nseg = lens - 1 + opened
        real = nseg > 0
        seg_off, owner, local = _csr(np.where(real, nseg, 1))
        ia = start[owner] + local
        ib = np.where(local + 1 < lens[owner], ia + 1, start[owner])
        far = ~real[owner]
        ia[far] = ib[far] = len(pts) - 1
        self.seg_ax, self.seg_ay = pts[ia, 0], pts[ia, 1]
        self.seg_bx, self.seg_by = pts[ib, 0], pts[ib, 1]

        poly_ring_off = np.concatenate(([0], np.cumsum(poly_nring))).astype(np.int64)
        self.zone_poly_off = np.concatenate(([0], np.cumsum(zone_npoly))).astype(np.int64)
        self.zone_ring_off = poly_ring_off[self.zone_poly_off]
        self.zone_seg_off = seg_off[self.zone_ring_off]
        ring_zone = np.repeat(np.arange(len(polys_list)), np.diff(self.zone_ring_off))
        poly_zone = np.repeat(np.arange(len(polys_list)), zone_npoly)
        ring_poly = np.repeat(np.arange(len(poly_nring)), poly_nring)
        self.ring_local_seg_off = seg_off[:-1] - self.zone_seg_off[ring_zone]
        self.ring_is_outer = np.arange(len(rings)) == poly_ring_off[ring_poly]
        self.poly_local_ring_off = poly_ring_off[:-1] - self.zone_ring_off[poly_zone]
        self.zone_has_real = np.bincount(ring_zone, weights=real, minlength=len(polys_list)) > 0

    # -- CSR expansion helpers ------------------------------------------

    def _expand(self, codes):
        """codes (per query: zone ordinal) → (seg_off, flat_seg_idx,
        rep_query_idx): each query's block is its zone's contiguous
        segment range."""
        off, rep, local = _csr(self.zone_seg_off[codes + 1] - self.zone_seg_off[codes])
        return off, self.zone_seg_off[codes][rep] + local, rep

    def _inside_from_contrib(self, codes, contrib, off):
        """Per-query inside flag from per-(query, segment) winding
        contributions: ring sums → ring ok (outer: wn != 0, hole:
        wn == 0) → AND per polygon → OR per zone."""
        nq = len(codes)
        roff, rrep, rlocal = _csr(self.zone_ring_off[codes + 1] - self.zone_ring_off[codes])
        ring_flat = self.zone_ring_off[codes][rrep] + rlocal
        ring_bounds = off[rrep] + self.ring_local_seg_off[ring_flat]
        wn_ring = np.add.reduceat(contrib, ring_bounds) if len(ring_flat) else np.empty(0, np.int64)
        ok_ring = np.where(self.ring_is_outer[ring_flat], wn_ring != 0, wn_ring == 0)

        poff, prep, plocal = _csr(self.zone_poly_off[codes + 1] - self.zone_poly_off[codes])
        poly_flat = self.zone_poly_off[codes][prep] + plocal
        poly_bounds = roff[prep] + self.poly_local_ring_off[poly_flat]
        inside_poly = (
            np.logical_and.reduceat(ok_ring, poly_bounds)
            if len(poly_flat)
            else np.empty(0, bool)
        )
        inside = (
            np.logical_or.reduceat(inside_poly, poff[:-1])
            if nq
            else np.empty(0, bool)
        )
        return inside

    def _segs(self, flat):
        return self.seg_ax[flat], self.seg_ay[flat], self.seg_bx[flat], self.seg_by[flat]

    # -- public batch kernels -------------------------------------------

    def min_dist_inside(self, codes, qx, qy, chunk: int = _CHUNK):
        """Per (query point, its zone): (min distance to any ring
        segment, inside flag).  Distance is ``inf`` for zones with no
        real segments (matching the per-zone loop's untouched best).
        Formulas are element-for-element those of
        ``geom.point_segment_dist`` / ``geom.winding_number``."""
        codes = np.asarray(codes, dtype=np.int64)
        qx = np.asarray(qx, dtype=np.float64)
        qy = np.asarray(qy, dtype=np.float64)
        nq = len(codes)
        best = np.empty(nq, dtype=np.float64)
        inside = np.empty(nq, dtype=bool)
        cnt = self.zone_seg_off[codes + 1] - self.zone_seg_off[codes]
        for sl in _chunks(cnt, chunk):
            off, flat, rep = self._expand(codes[sl])
            X, Y = qx[sl][rep], qy[sl][rep]
            AX, AY, BX, BY = self._segs(flat)
            dx, dy = BX - AX, BY - AY
            L2 = dx * dx + dy * dy
            safe = np.where(L2 == 0, 1.0, L2)
            t = np.clip(((X - AX) * dx + (Y - AY) * dy) / safe, 0.0, 1.0)
            cx, cy = AX + t * dx, AY + t * dy
            d = np.hypot(X - cx, Y - cy)
            b = np.minimum.reduceat(d, off[:-1]) if len(d) else np.empty(0)
            contrib = _winding_contrib(AX, AY, BX, BY, X, Y)
            ins = self._inside_from_contrib(codes[sl], contrib, off)
            b = np.where(self.zone_has_real[codes[sl]], b, np.inf)
            b[ins] = 0.0
            best[sl] = b
            inside[sl] = ins
        return best, inside

    def inside_points(self, codes, qx, qy, chunk: int = _CHUNK):
        """Per (query point, its zone): point-in-polygon (OR over the
        zone's polygons, holes excluded) — ``geom.point_in_polygon``
        semantics, batched."""
        codes = np.asarray(codes, dtype=np.int64)
        qx = np.asarray(qx, dtype=np.float64)
        qy = np.asarray(qy, dtype=np.float64)
        inside = np.empty(len(codes), dtype=bool)
        cnt = self.zone_seg_off[codes + 1] - self.zone_seg_off[codes]
        for sl in _chunks(cnt, chunk):
            off, flat, rep = self._expand(codes[sl])
            contrib = _winding_contrib(*self._segs(flat), qx[sl][rep], qy[sl][rep])
            inside[sl] = self._inside_from_contrib(codes[sl], contrib, off)
        return inside


def clip_pairs_totals(edge_lines_list, ecodes, zone_polys_list, zcodes,
                      chunk: int = _CHUNK):
    """Exact inside length per (edge, zone) PAIR, batched across zones —
    the cross-zone vectorization of
    ``intersect._exact_clip_edges_vs_zone`` (keep_geometry=False path).

    ``edge_lines_list[e]``: edge e's polylines (lists of (n, 2) arrays);
    ``zone_polys_list[u]``: zone u's polygons; ``ecodes``/``zcodes``:
    per-pair indices into those lists.  Returns float64 totals aligned
    with the pairs.

    Float parity: the per-zone kernel accumulates each line's subtotal
    polygon-major then in (segment, t-interval) order, and each edge's
    total in line order (``np.add.at`` over sorted interval arrays).
    This function sorts its global interval array by
    (pair, polygon, segment, t) and runs the same two ``np.add.at``
    passes, so every accumulator sees its additions in the identical
    sequence — totals are bit-identical.  Crossing extraction, exact-t
    dedup and midpoint classification are the element-for-element
    formulas of ``geom.clip_segments_batch``.
    """
    ecodes = np.asarray(ecodes, dtype=np.int64)
    zcodes = np.asarray(zcodes, dtype=np.int64)
    npairs = len(ecodes)
    totals = np.zeros(npairs, dtype=np.float64)
    if npairs == 0:
        return totals

    # ---- flatten edges: segments + line structure ---------------------
    eseg_ax, eseg_ay, eseg_bx, eseg_by = [], [], [], []
    eseg_line = []  # global kept-line ordinal per segment
    edge_seg_off = [0]
    edge_line_off = [0]
    nline = 0
    for lines in edge_lines_list:
        k = 0
        for ln in lines:
            if len(ln) < 2:
                continue
            arr = np.asarray(ln, dtype=np.float64)
            eseg_ax.append(arr[:-1, 0])
            eseg_ay.append(arr[:-1, 1])
            eseg_bx.append(arr[1:, 0])
            eseg_by.append(arr[1:, 1])
            eseg_line.append(np.full(len(arr) - 1, nline, np.int64))
            k += len(arr) - 1
            nline += 1
        edge_seg_off.append(edge_seg_off[-1] + k)
        edge_line_off.append(nline)
    if edge_seg_off[-1] == 0:
        return totals
    eax = np.concatenate(eseg_ax)
    eay = np.concatenate(eseg_ay)
    ebx = np.concatenate(eseg_bx)
    eby = np.concatenate(eseg_by)
    eline = np.concatenate(eseg_line)
    edge_seg_off = np.asarray(edge_seg_off, dtype=np.int64)
    edge_line_off = np.asarray(edge_line_off, dtype=np.int64)
    eex = ebx - eax
    eey = eby - eay
    eseg_len = np.hypot(eex, eey)

    # ---- flatten zone polygons (one FlatZones "zone" per POLYGON) -----
    flat_polys = []
    zone_poly_off = [0]
    for polys in zone_polys_list:
        for rings in polys:
            flat_polys.append([rings])
        zone_poly_off.append(len(flat_polys))
    zone_poly_off = np.asarray(zone_poly_off, dtype=np.int64)
    if zone_poly_off[-1] == 0:
        return totals
    fzp = FlatZones(flat_polys)
    poly_nseg = fzp.zone_seg_off[1:] - fzp.zone_seg_off[:-1]

    # per-pair expansion cost → chunk boundaries
    pair_nseg = edge_seg_off[ecodes + 1] - edge_seg_off[ecodes]
    zone_nseg = np.add.reduceat(
        np.concatenate((poly_nseg, [0])), zone_poly_off[:-1]
    ) if len(poly_nseg) else np.zeros(len(zone_polys_list), np.int64)
    zone_nseg = np.where(
        zone_poly_off[1:] > zone_poly_off[:-1], zone_nseg, 0
    )
    cost = np.maximum(pair_nseg * zone_nseg[zcodes], 1)
    for sl in _chunks(cost, chunk):
        _clip_chunk(
            totals, sl, ecodes[sl], zcodes[sl],
            eax, eay, eex, eey, eline, eseg_len,
            edge_seg_off, edge_line_off, zone_poly_off, fzp,
        )
    return totals


def _clip_chunk(totals, sl, ec, zc, eax, eay, eex, eey, eline, eseg_len,
                edge_seg_off, edge_line_off, zone_poly_off, fzp):
    """One chunk of clip_pairs_totals: build (task=pair×poly,
    seg×poly-edge) expansions, extract crossings, form intervals,
    classify midpoints, accumulate."""
    P = len(ec)
    # tasks: one per (pair, polygon of its zone)
    _, task_pair, tlocal = _csr(zone_poly_off[zc + 1] - zone_poly_off[zc])
    T = len(task_pair)
    if T == 0:
        return
    task_poly = zone_poly_off[zc][task_pair] + tlocal
    # task-segments: one per (task, edge segment)
    scnt = edge_seg_off[ec + 1] - edge_seg_off[ec]
    _, ks_task, klocal = _csr(scnt[task_pair])
    K = len(ks_task)
    if K == 0:
        return
    ks_seg = edge_seg_off[ec[task_pair]][ks_task] + klocal
    AX, AY = eax[ks_seg], eay[ks_seg]
    EX, EY = eex[ks_seg], eey[ks_seg]
    # cross expansion: per (task-seg, poly ring edge)
    rcnt = (fzp.zone_seg_off[task_poly + 1] - fzp.zone_seg_off[task_poly])[ks_task]
    _, cross_k, xlocal = _csr(rcnt)
    cross_pe = fzp.zone_seg_off[task_poly][ks_task][cross_k] + xlocal
    cx, cy = fzp.seg_ax[cross_pe], fzp.seg_ay[cross_pe]
    dxr = fzp.seg_bx[cross_pe] - cx
    dyr = fzp.seg_by[cross_pe] - cy
    axk, ayk = AX[cross_k], AY[cross_k]
    exk, eyk = EX[cross_k], EY[cross_k]
    denom = exk * dyr - eyk * dxr
    safe = np.where(denom == 0.0, 1.0, denom)
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        t = ((cx - axk) * dyr - (cy - ayk) * dxr) / safe
        u = ((cx - axk) * eyk - (cy - ayk) * exk) / safe
    ok = (denom != 0) & (t > 0.0) & (t < 1.0) & (u >= 0.0) & (u <= 1.0)
    hit_k = cross_k[ok]
    hit_t = t[ok]
    # sentinels t=0, t=1 per task-seg
    allk = np.concatenate((np.arange(K, dtype=np.int64),
                           np.arange(K, dtype=np.int64), hit_k))
    allt = np.concatenate((np.zeros(K), np.ones(K), hit_t))
    order = np.lexsort((allt, allk))
    allk, allt = allk[order], allt[order]
    keep = np.ones(len(allk), dtype=bool)
    keep[1:] = (allk[1:] != allk[:-1]) | (allt[1:] != allt[:-1])
    allk, allt = allk[keep], allt[keep]
    same = allk[1:] == allk[:-1]
    i0 = np.nonzero(same)[0]
    if len(i0) == 0:
        return
    iv_k = allk[i0]
    iv_t0 = allt[i0]
    iv_t1 = allt[i0 + 1]
    mids = (iv_t0 + iv_t1) / 2.0
    mx = AX[iv_k] + mids * EX[iv_k]
    my = AY[iv_k] + mids * EY[iv_k]
    inside = fzp.inside_points(task_poly[ks_task[iv_k]], mx, my)
    iv_k = iv_k[inside]
    iv_t0 = iv_t0[inside]
    iv_t1 = iv_t1[inside]
    if not len(iv_k):
        return
    # ---- accumulate: line subtotals (poly-major, (seg, t) order kept
    # by the lexsort), then per-pair totals in line order ---------------
    seg_global = ks_seg[iv_k]
    contrib = eseg_len[seg_global] * (iv_t1 - iv_t0)
    pair_of_iv = task_pair[ks_task[iv_k]]
    # per-pair line accumulators
    lcnt = edge_line_off[ec + 1] - edge_line_off[ec]
    loff = np.concatenate(([0], np.cumsum(lcnt)))
    line_acc = np.zeros(int(loff[-1]), dtype=np.float64)
    line_idx = (
        loff[pair_of_iv]
        + eline[seg_global]
        - edge_line_off[ec[pair_of_iv]]
    )
    np.add.at(line_acc, line_idx, contrib)
    pair_of_line = np.repeat(np.arange(P, dtype=np.int64), lcnt)
    sub = np.zeros(P, dtype=np.float64)
    np.add.at(sub, pair_of_line, line_acc)
    totals[sl] = sub


def zone_cover_cells_batch(polys_list, res: int, world, max_cells_per_zone: int,
                           return_bbox: bool = False, return_res: bool = False):
    """Batched equivalent of ``zoneindex.zone_min_res`` +
    ``zoneindex.zone_cover_cells`` over MANY zones: returns
    (zone_idx int64, cell int64, full bool) arrays whose per-zone
    {cell: full} content is identical to the per-zone loop (set-equal
    cells, OR-merged full flags across a zone's polygons).  With
    ``return_bbox`` a 4-tuple of per-ZONE bbox arrays (outer-ring
    min/max over the zone's polygons, aligned with ``polys_list``) is
    appended — the candidate-prefilter side channel.

    Steps (all NumPy passes; the only Python loop is the per-polygon
    ring flatten):

    1. per-polygon outer-ring bboxes;
    2. per-zone effective resolution: coarsest per-polygon
       ``pick_cover_res`` (replicating its floor arithmetic), min-reduced
       per zone;
    3. bbox cover enumeration at the zone resolution via CSR expansion;
    4. crossing classification: Liang–Barsky over (segment, cell)
       pairs, each segment paired only with the cells of its bbox cell
       range padded by one cell and clipped to its polygon's cover (a
       pair outside that range is a full cell apart: never a hit);
    5. full classification: winding test of the cell's (x0, y0) corner
       for non-crossing cells only — identical corner choice to
       ``zone_cover_cells``.  A cover row's corners share one y0, so
       each (polygon, row) first lists the segments spanning that y0
       (padded row range, then the exact upward/downward test); the
       cross sign runs on (cell, spanning segment) pairs only, summed
       per ring in integers (a non-spanning segment contributes 0);
    6. (zone, cell) dedupe across a zone's polygons with OR(full).
    """
    from osm_chordify_spark import cellindex as ci

    wx0, wy0, wx1, wy1 = world
    # ---- flatten polygons; record poly → zone -------------------------
    poly_zone = []
    poly_rings = []
    for u, polys in enumerate(polys_list):
        for rings in polys:
            poly_zone.append(u)
            poly_rings.append(rings)
    n_zones = len(polys_list)

    def _empty():
        e = np.empty(0, dtype=np.int64)
        out = [e, e, np.empty(0, dtype=bool)]
        if return_bbox:
            inf = np.full(n_zones, np.inf)
            out.append((inf, inf, -inf, -inf))
        if return_res:
            out.append(np.full(n_zones, res, dtype=np.int64))
        return tuple(out)

    if not poly_rings:
        return _empty()
    poly_zone = np.asarray(poly_zone, dtype=np.int64)

    # outer-ring bboxes (zone_min_res / zone_cover_cells use rings[0])
    outers = [np.asarray(rings[0], dtype=np.float64) for rings in poly_rings]
    lens = np.asarray([len(o) for o in outers], dtype=np.int64)
    allpts = (
        np.concatenate([o for o in outers if len(o)])
        if lens.sum()
        else np.empty((0, 2))
    )
    obnd = np.concatenate(([0], np.cumsum(lens)))
    nz = lens > 0
    bx0 = np.full(len(outers), np.inf)
    by0 = np.full(len(outers), np.inf)
    bx1 = np.full(len(outers), -np.inf)
    by1 = np.full(len(outers), -np.inf)
    if nz.any():
        starts = obnd[:-1][nz]
        bx0[nz] = np.minimum.reduceat(allpts[:, 0], starts)
        by0[nz] = np.minimum.reduceat(allpts[:, 1], starts)
        bx1[nz] = np.maximum.reduceat(allpts[:, 0], starts)
        by1[nz] = np.maximum.reduceat(allpts[:, 1], starts)

    # ---- per-polygon cover res (pick_cover_res floor arithmetic) ------
    poly_res = np.full(len(outers), -1, dtype=np.int64)
    fx0 = np.zeros(len(outers), dtype=np.int64)
    fx1 = np.zeros(len(outers), dtype=np.int64)
    fy0 = np.zeros(len(outers), dtype=np.int64)
    fy1 = np.zeros(len(outers), dtype=np.int64)

    def _floors(vals, lo, span, n):
        f = np.floor((vals - lo) / span * n)
        return np.clip(f, 0, n - 1).astype(np.int64)

    for rr in range(res, -1, -1):
        todo = poly_res < 0
        if not todo.any():
            break
        n = 1 << rr
        tfx0 = _floors(bx0[todo], wx0, wx1 - wx0, n)
        tfx1 = _floors(bx1[todo], wx0, wx1 - wx0, n)
        tfy0 = _floors(by0[todo], wy0, wy1 - wy0, n)
        tfy1 = _floors(by1[todo], wy0, wy1 - wy0, n)
        count = (tfx1 - tfx0 + 1) * (tfy1 - tfy0 + 1)
        fits = (count <= max_cells_per_zone) | (rr == 0)
        idx = np.nonzero(todo)[0][fits]
        poly_res[idx] = rr
    # zone res = min over its polygons (empty-bbox polys get res as-is)
    zone_res = np.full(n_zones, res, dtype=np.int64)
    np.minimum.at(zone_res, poly_zone, poly_res)

    # ---- cover enumeration at the ZONE resolution ---------------------
    pres = zone_res[poly_zone]
    npow = (np.int64(1) << pres).astype(np.float64)
    # recompute floors at the zone res (exact pick_cover_res/cover_bbox math)
    gx0 = np.clip(np.floor((bx0 - wx0) / (wx1 - wx0) * npow), 0, npow - 1).astype(np.int64)
    gx1 = np.clip(np.floor((bx1 - wx0) / (wx1 - wx0) * npow), 0, npow - 1).astype(np.int64)
    gy0 = np.clip(np.floor((by0 - wy0) / (wy1 - wy0) * npow), 0, npow - 1).astype(np.int64)
    gy1 = np.clip(np.floor((by1 - wy0) / (wy1 - wy0) * npow), 0, npow - 1).astype(np.int64)
    empty_poly = ~nz
    ncx = np.where(empty_poly, 0, gx1 - gx0 + 1)
    ncy = np.where(empty_poly, 0, gy1 - gy0 + 1)
    coff, cell_poly, local = _csr(ncx * ncy)
    total = len(cell_poly)
    if return_bbox:
        zbx0 = np.full(n_zones, np.inf)
        zby0 = np.full(n_zones, np.inf)
        zbx1 = np.full(n_zones, -np.inf)
        zby1 = np.full(n_zones, -np.inf)
        np.minimum.at(zbx0, poly_zone, bx0)
        np.minimum.at(zby0, poly_zone, by0)
        np.maximum.at(zbx1, poly_zone, bx1)
        np.maximum.at(zby1, poly_zone, by1)
        zbbox = (zbx0, zby0, zbx1, zby1)
    if total == 0:
        return _empty()
    ny = ncy[cell_poly]
    ix = gx0[cell_poly] + local // ny
    iy = gy0[cell_poly] + local % ny
    cells = ci.make_cell(pres[cell_poly], ix, iy)

    # ---- classification, one polygon at a time -------------------------
    # FlatZones over the POLYGONS (each polygon classified independently,
    # exactly as zone_cover_cells' per-polygon loop)
    fz = FlatZones([[rings] for rings in poly_rings])
    cx0, cy0, cx1, cy1 = ci.cell_bounds(cells, world)
    ring_poly = np.repeat(np.arange(len(outers), dtype=np.int64), np.diff(fz.zone_ring_off))
    ring_start = fz.zone_seg_off[ring_poly] + fz.ring_local_seg_off
    seg_ring = np.searchsorted(ring_start, np.arange(len(fz.seg_ax)), side="right") - 1
    # real segments only: the _FAR sentinels never hit a cell or span a row
    far = (fz.seg_ax == _FAR) & (fz.seg_ay == _FAR) & (fz.seg_bx == _FAR) & (fz.seg_by == _FAR)
    sid = np.nonzero(~far)[0]
    sp = ring_poly[seg_ring[sid]]
    ax, ay, bx, by = fz._segs(sid)

    def _padded(lo_v, hi_v, w0, w1, g0, g1):
        n = npow[sp]
        lo = np.clip(np.floor((lo_v - w0) / (w1 - w0) * n), 0, n - 1).astype(np.int64) - 1
        hi = np.clip(np.floor((hi_v - w0) / (w1 - w0) * n), 0, n - 1).astype(np.int64) + 1
        lo = np.maximum(lo, g0[sp])
        return lo, np.where(nz[sp], np.maximum(np.minimum(hi, g1[sp]) - lo + 1, 0), 0)

    sx, snx = _padded(np.minimum(ax, bx), np.maximum(ax, bx), wx0, wx1, gx0, gx1)
    sy, sny = _padded(np.minimum(ay, by), np.maximum(ay, by), wy0, wy1, gy0, gy1)

    # per segment: cover index of its first padded row's cell in the
    # polygon's first column (cells run column-major, ncy per column),
    # of its first padded cell, and the (polygon, row) id of that row
    stride = ncy[sp]
    row_cell = coff[sp] + sy - gy0[sp]
    first_cell = row_cell + (sx - gx0[sp]) * stride
    row_off = np.concatenate(([0], np.cumsum(ncy)))
    first_row = row_off[sp] + sy - gy0[sp]

    # step 4: crossing cells from (segment, padded-range cell) pairs
    crossing = np.zeros(total, dtype=bool)
    for sl in _chunks(snx * sny):
        _, rep, local = _csr((snx * sny)[sl])
        q = sl.start + rep
        ny = sny[q]
        k = first_cell[q] + local // ny * stride[q] + local % ny
        hit = _segment_hits_rect(ax[q], ay[q], bx[q], by[q], cx0[k], cy0[k], cx1[k], cy1[k])
        crossing[k[hit]] = True

    # step 5a: the segments spanning each (polygon, row)'s corner y0
    span_seg, span_row = [], []
    for sl in _chunks(sny):
        _, rep, local = _csr(sny[sl])
        q = sl.start + rep
        Y = cy0[row_cell[q] + local]
        span = ((ay[q] <= Y) & (by[q] > Y)) | ((ay[q] > Y) & (by[q] <= Y))
        span_seg.append(sid[q[span]])
        span_row.append((first_row[q] + local)[span])
    span_row = np.concatenate(span_row or [np.empty(0, np.int64)])
    # stable: a row's segments stay in ring order, so each (cell, ring)
    # run below is contiguous
    span_seg = np.concatenate(span_seg or [span_row])[np.argsort(span_row, kind="stable")]
    row_cnt = np.bincount(span_row, minlength=int(row_off[-1]))
    row_first = np.concatenate(([0], np.cumsum(row_cnt)))

    # step 5b: winding sums over (non-crossing cell, spanning segment)
    full = np.zeros(total, dtype=bool)
    ncross = np.nonzero(~crossing)[0]
    p = cell_poly[ncross]
    crow = row_off[p] + iy[ncross] - gy0[p]
    for sl in _chunks(row_cnt[crow]):
        _, rep, local = _csr(row_cnt[crow[sl]])
        c = ncross[sl][rep]
        seg = span_seg[row_first[crow[sl][rep]] + local]
        contrib = _winding_contrib(*fz._segs(seg), cx0[c], cy0[c])
        ring = seg_ring[seg]
        first = np.ones(len(c), dtype=bool)
        first[1:] = (c[1:] != c[:-1]) | (ring[1:] != ring[:-1])
        starts = np.nonzero(first)[0]
        if not len(starts):
            continue
        wn = np.add.reduceat(contrib, starts) != 0
        gc, outer = c[starts], fz.ring_is_outer[ring[starts]]
        # inside ⇔ outer ring wn != 0 and every hole's wn == 0
        full[gc[outer & wn]] = True
        full[gc[~outer & wn]] = False
    kept = crossing | full

    zidx = poly_zone[cell_poly[kept]]
    kcells = cells[kept]
    kfull = full[kept]
    # ---- per-zone (cell, full-OR) dedupe across polygons --------------
    # zones of one polygon (the overwhelmingly common case) need none
    if np.bincount(poly_zone, minlength=n_zones).max() > 1:
        order = np.lexsort((kcells, zidx))
        zidx, kcells, kfull = zidx[order], kcells[order], kfull[order]
        first = np.ones(len(zidx), dtype=bool)
        if len(zidx) > 1:
            first[1:] = (zidx[1:] != zidx[:-1]) | (kcells[1:] != kcells[:-1])
        grp = np.cumsum(first) - 1
        gfull = np.zeros(int(grp[-1]) + 1 if len(grp) else 0, dtype=bool)
        np.logical_or.at(gfull, grp, kfull)
        zidx = zidx[first]
        kcells = kcells[first]
        kfull = gfull
    out = [zidx, kcells, kfull]
    if return_bbox:
        out.append(zbbox)
    if return_res:
        out.append(zone_res)
    return tuple(out)
