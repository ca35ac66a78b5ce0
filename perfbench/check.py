"""Output checks, run outside the timed region.

Each check reads what an operation wrote (parquet, via pyarrow) and the
generated inputs, and returns a list of error strings; an empty list
means the output is correct.  Geometry here is the benchmark's own:
a WKB reader for the generator's tables, an even-odd point-in-polygon
test and a brute-force segment/polygon clip.  Nothing is imported from
the package under test.
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

from gen import FRAME

LEN_TOL = 0.005 + 1e-9  # lengths are rounded to 0.01


# -- geometry -------------------------------------------------------------------


def _read_ring(buf, off):
    (n,) = struct.unpack_from("<I", buf, off)
    off += 4
    return np.frombuffer(buf, "<f8", 2 * n, off).reshape(n, 2), off + 16 * n


def _read_polygon_body(buf, off):
    (nr,) = struct.unpack_from("<I", buf, off)
    off += 4
    rings = []
    for _ in range(nr):
        ring, off = _read_ring(buf, off)
        rings.append(ring)
    return rings, off


def read_wkb(buf: bytes):
    """Little-endian 2-D LineString → (n, 2) array; Polygon or
    MultiPolygon → list of polygons, each a list of closed rings."""
    order, kind = struct.unpack_from("<BI", buf, 0)
    if order != 1:
        raise ValueError("big-endian WKB")
    if kind == 2:
        return _read_ring(buf, 5)[0]
    if kind == 3:
        return [_read_polygon_body(buf, 5)[0]]
    if kind == 6:
        (n,) = struct.unpack_from("<I", buf, 5)
        off, polys = 9, []
        for _ in range(n):
            rings, off = _read_polygon_body(buf, off + 5)
            polys.append(rings)
        return polys
    raise ValueError(f"WKB type {kind}")


def zone_edges(polys) -> np.ndarray:
    """(k, 4) ring edges (ax, ay, bx, by) of every ring of every polygon."""
    segs = [np.hstack([r[:-1], r[1:]]) for rings in polys for r in rings]
    return np.vstack(segs)


def even_odd(px, py, edges) -> np.ndarray:
    """Even-odd containment of points (px, py) in the region bounded by
    ``edges`` (k, 4): crossings of a ray towards +x."""
    ax, ay, bx, by = (edges[:, i][None, :] for i in range(4))
    px, py = np.asarray(px)[:, None], np.asarray(py)[:, None]
    straddle = (ay > py) != (by > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xc = ax + (py - ay) * (bx - ax) / (by - ay)
    return (np.count_nonzero(straddle & (px < xc), axis=1) % 2) == 1


def inside_length(line: np.ndarray, edges: np.ndarray) -> float:
    """Brute-force length of a polyline inside the region bounded by
    ``edges``: split every segment at each crossing with a ring edge and
    keep the pieces whose midpoint is inside."""
    a, b = line[:-1], line[1:]
    d = b - a
    e0, ed = edges[:, :2], edges[:, 2:] - edges[:, :2]
    # segment s meets ring edge k at a + t d = e0 + u ed
    den = d[:, None, 0] * ed[None, :, 1] - d[:, None, 1] * ed[None, :, 0]
    w = e0[None, :, :] - a[:, None, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        t = (w[..., 0] * ed[None, :, 1] - w[..., 1] * ed[None, :, 0]) / den
        u = (w[..., 0] * d[:, None, 1] - w[..., 1] * d[:, None, 0]) / den
    hit = (den != 0) & (t > 0) & (t < 1) & (u >= 0) & (u <= 1)
    seg, ts = np.nonzero(hit)[0], t[hit]
    seg = np.concatenate([seg, np.arange(len(a)), np.arange(len(a))])
    ts = np.concatenate([ts, np.zeros(len(a)), np.ones(len(a))])
    order = np.lexsort((ts, seg))
    seg, ts = seg[order], ts[order]
    same = seg[1:] == seg[:-1]
    s_i, t0, t1 = seg[:-1][same], ts[:-1][same], ts[1:][same]
    mid = (t0 + t1) / 2
    inside = even_odd(a[s_i, 0] + mid * d[s_i, 0], a[s_i, 1] + mid * d[s_i, 1], edges)
    return float(np.sum(((t1 - t0) * np.hypot(d[s_i, 0], d[s_i, 1]))[inside]))


def length(line: np.ndarray) -> float:
    return float(np.sum(np.hypot(*np.diff(line, axis=0).T)))


def frame_length(line: np.ndarray) -> float:
    """Length of the part of a polyline inside FRAME (Liang-Barsky)."""
    x0, y0, x1, y1 = FRAME
    a, b = line[:-1], line[1:]
    d = b - a
    t0, t1 = np.zeros(len(a)), np.ones(len(a))
    for p, q in ((-d[:, 0], a[:, 0] - x0), (d[:, 0], x1 - a[:, 0]),
                 (-d[:, 1], a[:, 1] - y0), (d[:, 1], y1 - a[:, 1])):
        with np.errstate(divide="ignore", invalid="ignore"):
            r = q / p
        t0 = np.where(p < 0, np.maximum(t0, r), t0)
        t1 = np.where(p > 0, np.minimum(t1, r), t1)
        t1 = np.where((p == 0) & (q < 0), -1.0, t1)
    return float(np.sum(np.clip(t1 - t0, 0, None) * np.hypot(d[:, 0], d[:, 1])))


def cell_r(x, y, res):
    """The cell-index id of (x, y) at ``res`` in the default world."""
    n = 1 << res
    ix = np.clip(np.floor((x + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    iy = np.clip(np.floor((y + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
    return (np.int64(res) << 58) | (ix << 29) | iy


class ZoneSet:
    """Generated zones, parsed once: ids, ring edges and bboxes."""

    def __init__(self, path: str):
        t = pq.read_table(path)
        self.ids = t.column("zid").to_pylist()
        self.index = {z: i for i, z in enumerate(self.ids)}
        self.polys = [read_wkb(g) for g in t.column("geometry").to_pylist()]
        self.edges = [zone_edges(p) for p in self.polys]
        self.bbox = np.array([[e[:, [0, 2]].min(), e[:, [1, 3]].min(),
                               e[:, [0, 2]].max(), e[:, [1, 3]].max()] for e in self.edges])

    def contains(self, zone_idx: np.ndarray, px: np.ndarray, py: np.ndarray) -> np.ndarray:
        """Point i inside zone ``zone_idx[i]`` — grouped by zone."""
        out = np.zeros(len(px), bool)
        order = np.argsort(zone_idx, kind="stable")
        zs, starts = np.unique(zone_idx[order], return_index=True)
        for z, a, b in zip(zs, starts, np.append(starts[1:], len(order))):
            sel = order[a:b]
            out[sel] = even_odd(px[sel], py[sel], self.edges[z])
        return out


def edge_lines(path: str):
    t = pq.read_table(path, columns=["edge_id", "geometry"])
    return t.column("edge_id").to_numpy(), [read_wkb(g) for g in t.column("geometry").to_pylist()]


# -- checks ---------------------------------------------------------------------


class Checks:
    """The output checks of one workload's fixture.  Expected values that
    do not change between passes (in-frame lengths, the brute-force
    sample results) are computed on first use and kept."""

    def __init__(self, fx: dict, truth: dict, seed: int):
        self.fx, self.truth, self.seed = fx, truth, seed
        self.zones = ZoneSet(fx["zones"]) if "zones" in fx else None
        self._lines = None
        self._knn = None

    def __call__(self, op: str, out: dict) -> list:
        return getattr(self, op)(out)

    def _lines_expected(self):
        if self._lines is None:
            ids, lines = edge_lines(self.fx["edges"])
            rng = np.random.default_rng(self.seed + 7)
            sample = rng.choice(len(ids), size=min(1000, len(ids)), replace=False)
            bb = self.zones.bbox
            want = {}
            for k in sample:
                ln = lines[k]
                (bx0, by0), (bx1, by1) = ln.min(axis=0), ln.max(axis=0)
                cand = np.nonzero((bb[:, 0] <= bx1) & (bb[:, 2] >= bx0)
                                  & (bb[:, 1] <= by1) & (bb[:, 3] >= by0))[0]
                want[int(ids[k])] = {self.zones.ids[z]: inside_length(ln, self.zones.edges[z])
                                     for z in cand}
            self._lines = (ids, np.array([length(ln) for ln in lines]),
                           np.array([frame_length(ln) for ln in lines]), want)
        return self._lines

    def lines(self, out: dict) -> list:
        """Per edge, piece lengths sum to the edge's length inside the
        tessellated frame (0.005 per piece, one dropped sub-0.005 sliver
        allowed); every row's own metrics agree; and a seeded sample of
        1000 edges matches a brute-force clip pair for pair."""
        ids, full, inext, want = self._lines_expected()
        t = pq.read_table(out["lines"])
        eid = t.column("edge_id").to_numpy()
        zl = t.column("zone_link_length_m").to_numpy()
        el = t.column("edge_link_length_m").to_numpy()
        prop = t.column("zone_edge_proportion").to_numpy()
        zid = t.column("zone_zid").to_pylist()
        pos = np.searchsorted(ids, eid)
        if len(eid) == 0 or np.any(ids[np.clip(pos, 0, len(ids) - 1)] != eid):
            return ["lines: unknown or no edge ids in output"]
        errs = []
        if np.any(np.abs(el - full[pos]) > LEN_TOL):
            errs.append("lines: edge_link_length_m differs from the edge length")
        want_prop = np.round(zl / np.where(el > 0, el, 1), 4)
        if np.any(np.abs(prop - want_prop) > 1e-9):
            errs.append("lines: zone_edge_proportion is not zone/edge length")
        sums = np.bincount(pos, weights=zl, minlength=len(ids))
        pieces = np.bincount(pos, minlength=len(ids))
        bad = np.abs(sums - inext) > LEN_TOL * (pieces + 1)
        if bad.any():
            k = int(np.argmax(bad))
            errs.append(f"lines: {int(bad.sum())} edges' pieces do not sum to their in-frame "
                        f"length (edge {int(ids[k])}: {sums[k]:.4f} vs {inext[k]:.4f})")
        if len(set(zip(eid.tolist(), zid))) != len(eid):
            errs.append("lines: duplicate (edge, zone) rows")
        got: dict = {}
        for e, z, v in zip(eid.tolist(), zid, zl.tolist()):
            if e in want:
                got.setdefault(e, {})[z] = v
        n_bad = 0
        for e, w in want.items():
            have = got.get(e, {})
            n_bad += sum(abs(v - w.get(z, 0.0)) > LEN_TOL for z, v in have.items())
            n_bad += sum(v > 0.0051 and z not in have for z, v in w.items())
        if n_bad:
            errs.append(f"lines: {n_bad} (edge, zone) pairs of the {len(want)}-edge sample "
                        "disagree with the brute-force clip")
        return errs

    def points(self, out: dict) -> list:
        """Every point once, at distance 0 from a zone that contains it."""
        pts = pq.read_table(self.fx["points"])
        pid = pts.column("point_id").to_numpy()
        t = pq.read_table(out["points"])
        opid = t.column("point_id").to_numpy()
        if len(opid) != len(pid) or len(np.unique(opid)) != len(pid):
            return [f"points: {len(opid)} rows for {len(pid)} points"]
        order = np.argsort(opid)
        srt = np.argsort(pid)
        if np.any(opid[order] != pid[srt]):
            return ["points: point ids differ from the input"]
        zidx = np.array([self.zones.index.get(z, -1) for z in t.column("zid").to_pylist()])[order]
        if np.any(zidx < 0):
            return ["points: unknown zone ids"]
        errs = []
        dist = t.column("dist").to_numpy()[order]
        if np.any(dist != 0):
            errs.append(f"points: {int(np.count_nonzero(dist))} contained points with nonzero distance")
        x, y = pts.column("x").to_numpy()[srt], pts.column("y").to_numpy()[srt]
        inside = self.zones.contains(zidx, x, y)
        if not inside.all():
            errs.append(f"points: {int((~inside).sum())} points assigned to a zone not containing them")
        return errs

    def pages(self, out: dict) -> list:
        """Every page once, its anchor parsed exactly, its text extracted
        byte-identically, its cell id right and its county containing it;
        the rollup matches the per-page rows."""
        t = pq.read_table(out["pages"])
        urls = pq.read_table(self.fx["pages"], columns=["url"]).column("url")
        n = len(urls)
        if t.num_rows != n:
            return [f"pages: {t.num_rows} rows for {n} pages"]
        idx = pc.index_in(t.column("url"), value_set=urls)
        if idx.null_count or len(np.unique(idx.to_numpy())) != n:
            return ["pages: urls differ from the input"]
        idx = idx.to_numpy()
        lon, lat = self.truth["lon"][idx], self.truth["lat"][idx]
        errs = []
        if np.any(t.column("lon").to_numpy() != lon) or np.any(t.column("lat").to_numpy() != lat):
            errs.append("pages: parsed anchors differ from the generated coordinates")
        if not pc.all(t.column("text_match")).as_py():
            errs.append("pages: extracted text differs from the page text")
        if np.any(t.column("cell_r10").to_numpy() != cell_r(lon, lat, 10)):
            errs.append("pages: cell_r10 differs from the cell of the anchor")
        zidx = np.array([self.zones.index.get(z, -1) for z in t.column("zone_id").to_pylist()])
        if np.any(zidx < 0):
            return errs + ["pages: unknown zone ids"]
        inside = self.zones.contains(zidx, lon, lat)
        if not inside.all():
            errs.append(f"pages: {int((~inside).sum())} pages assigned to a county not containing them")
        r = pq.read_table(out["rollup"])
        want = np.bincount(zidx, minlength=len(self.zones.ids))
        got = np.zeros(len(self.zones.ids), np.int64)
        for z, c in zip(r.column("zone_id").to_pylist(), r.column("page_count").to_pylist()):
            got[self.zones.index[z]] = c
        if np.any(got != want) or pc.sum(r.column("text_mismatches")).as_py() != 0:
            errs.append("pages: zone rollup differs from the per-page rows")
        return errs

    def chordify(self, out: dict) -> list:
        """Chord count, every chain chord's (u, v, length) and the ring
        chords' lengths, all known by construction."""
        t = pq.read_table(out["chordify"], columns=["u", "v", "length"])
        u, v, ln = (t.column(c).to_numpy() for c in ("u", "v", "length"))
        tr = self.truth
        cu, cv, cl, rl = tr["chord_u"], tr["chord_v"], tr["chord_len"], tr["ring_len"]
        errs = []
        if len(u) != len(cu) + len(rl):
            errs.append(f"chordify: {len(u)} chords, expected {len(cu) + len(rl)}")
        ring = u == v
        # chain chords: sorted (u, v, length) must agree; (u, v) may repeat for parallel edges
        got = np.lexsort((ln[~ring], v[~ring], u[~ring]))
        want = np.lexsort((cl, cv, cu))
        if (ring.sum() != len(rl) or len(got) != len(want)
                or np.any(u[~ring][got] != cu[want]) or np.any(v[~ring][got] != cv[want])
                or np.any(np.abs(ln[~ring][got] - cl[want]) > 1.1e-3)):
            errs.append("chordify: chain chords differ from the expected (u, v, length)")
        elif np.any(np.abs(np.sort(ln[ring]) - np.sort(rl)) > 1.1e-3):
            errs.append("chordify: ring chords differ from the expected ring lengths")
        return errs

    def _knn_expected(self, k):
        if self._knn is None:
            e = pq.read_table(self.fx["edges"], columns=["osmid", "geometry"])
            sid = e.column("osmid").to_numpy()
            g = np.array([np.frombuffer(b, "<f8", 4, 9) for b in e.column("geometry").to_pylist()])
            mx, my = (g[:, 0] + g[:, 2]) / 2, (g[:, 1] + g[:, 3]) / 2
            pts = pq.read_table(self.fx["points"])
            pid = pts.column("point_id").to_numpy()
            px, py = pts.column("x").to_numpy(), pts.column("y").to_numpy()
            rng = np.random.default_rng(self.seed + 11)
            sample = np.sort(rng.choice(len(pid), size=min(1000, len(pid)), replace=False))
            best_sid, best_d = [], []
            for chunk in np.array_split(sample, max(1, len(sample) // 50)):
                d = np.sqrt((px[chunk, None] - mx[None, :]) ** 2 + (py[chunk, None] - my[None, :]) ** 2)
                for row in d:
                    near = np.argpartition(row, k + 2)[: k + 3]
                    best = near[np.lexsort((sid[near], row[near]))][:k]
                    best_sid.append(sid[best])
                    best_d.append(row[best])
            self._knn = (np.sort(pid), pid[sample], np.array(best_sid), np.array(best_d))
        return self._knn

    def knn(self, out: dict, k: int = 2) -> list:
        """Two ranked neighbours per point; a seeded sample of 1000 points
        agrees with brute-force k-NN over every edge midpoint (ties by
        seg id)."""
        all_pid, spid, ssid, sdist = self._knn_expected(k)
        t = pq.read_table(out["knn"])
        opid, osid = t.column("point_id").to_numpy(), t.column("seg_id").to_numpy()
        orank, odist = t.column("rank").to_numpy(), t.column("dist").to_numpy()
        if len(opid) != k * len(all_pid) or np.any(np.bincount(orank, minlength=k + 1)[1:] != len(all_pid)):
            return [f"knn: {len(opid)} rows for {len(all_pid)} points x {k}"]
        order = np.lexsort((orank, opid))
        opid, osid, odist = opid[order][::k], osid[order].reshape(-1, k), odist[order].reshape(-1, k)
        if np.any(opid != all_pid):
            return ["knn: point ids differ from the input"]
        pos = np.searchsorted(all_pid, spid)
        bad = np.any(osid[pos] != ssid, axis=1) | np.any(np.abs(odist[pos] - sdist) > 1e-9, axis=1)
        return [f"knn: {int(bad.sum())} of {len(spid)} sampled points differ from brute force"] if bad.any() else []
