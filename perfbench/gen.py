"""Seeded input generators and the on-disk fixture cache.

Every workload draws its tables from ``numpy.random.default_rng(seed)``
and writes them once as parquet under ``.bench_cache/fixtures/``, keyed
by workload, seed, size and this file's code.  A manifest next to the files records each
file's SHA-256, so two checkouts compared on one seed read identical
bytes.  The program under test only ever sees these parquet tables.

All geometry lives in one planar frame inside the cell index's default
world (-180..180 x -90..90); lengths are in frame units, far above the
0.01 rounding of the length metrics.

Besides the tables, ``make_tables`` returns a ``truth`` dict of arrays
the output checks need and the generator knows by construction (page
coordinates, chord endpoints and lengths).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FRAME = (-160.0, -80.0, 160.0, 80.0)

# per-workload sizes; the key is part of the fixture cache key
SIZES = {
    "tracts": {"nx": 90, "ny": 60, "hole_frac": 0.03, "edges": 6_000, "points": 6_000},
    "counties": {"nx": 8, "ny": 6, "side_pts": 60, "edges": 1_500, "pages": 40_000},
    "network": {"edges": 6_000, "points": 3_000},
}


# -- WKB writers (little endian, 2-D) ------------------------------------------


def _ring_bytes(ring: np.ndarray) -> bytes:
    return struct.pack("<I", len(ring)) + np.ascontiguousarray(ring, "<f8").tobytes()


def wkb_linestring(coords: np.ndarray) -> bytes:
    return struct.pack("<BII", 1, 2, len(coords)) + np.ascontiguousarray(coords, "<f8").tobytes()


def _polygon_body(rings) -> bytes:
    return struct.pack("<I", len(rings)) + b"".join(_ring_bytes(r) for r in rings)


def wkb_polygon(rings) -> bytes:
    return struct.pack("<BI", 1, 3) + _polygon_body(rings)


def wkb_multipolygon(polys) -> bytes:
    return struct.pack("<BII", 1, 6, len(polys)) + b"".join(
        struct.pack("<BI", 1, 3) + _polygon_body(rings) for rings in polys
    )


def zone_wkb(polys) -> bytes:
    return wkb_polygon(polys[0]) if len(polys) == 1 else wkb_multipolygon(polys)


# -- tessellations --------------------------------------------------------------


def _close(ring: np.ndarray) -> np.ndarray:
    return np.vstack([ring, ring[:1]])


def _side(rng, a, b, k, amp, on_frame):
    """Polyline a→b with k interior vertices offset perpendicular to the
    chord by at most ``amp`` (0 on the frame border).  The offset tapers
    to 0 at both ends, so no side can cross its neighbour at a corner;
    vertices advance monotonically along the chord, so a side never
    crosses itself."""
    t = (np.arange(1, k + 1) + rng.uniform(-0.3, 0.3, k)) / (k + 1)
    pts = a + t[:, None] * (b - a)
    if not on_frame:
        d = b - a
        n = np.array([-d[1], d[0]]) / np.hypot(d[0], d[1])
        pts = pts + (rng.uniform(-amp, amp, k) * np.sin(np.pi * t))[:, None] * n
    return pts


def jittered_grid(rng, nx, ny, side_pts, jitter=0.15, wiggle=0.06):
    """Tessellation of FRAME into nx*ny jittered quadrilaterals whose
    shared sides are identical polylines.  ``side_pts(rng)`` draws the
    interior vertex count of one side.  Returns one CCW closed outer
    ring per cell, row-major, and the cell corner array."""
    x0, y0, x1, y1 = FRAME
    dx, dy = (x1 - x0) / nx, (y1 - y0) / ny
    gx = x0 + dx * np.arange(nx + 1)[:, None] + np.zeros((1, ny + 1))
    gy = y0 + dy * np.arange(ny + 1)[None, :] + np.zeros((nx + 1, 1))
    inner = np.zeros((nx + 1, ny + 1), bool)
    inner[1:-1, 1:-1] = True
    gx = gx + np.where(inner, rng.uniform(-jitter, jitter, gx.shape) * dx, 0.0)
    gy = gy + np.where(inner, rng.uniform(-jitter, jitter, gy.shape) * dy, 0.0)
    amp = wiggle * min(dx, dy)
    corner = np.stack([gx, gy], axis=-1)
    # horizontal sides h[i][j]: corner(i,j)→corner(i+1,j); vertical v[i][j]: (i,j)→(i,j+1)
    h = [[_side(rng, corner[i, j], corner[i + 1, j], side_pts(rng), amp, j in (0, ny))
          for j in range(ny + 1)] for i in range(nx)]
    v = [[_side(rng, corner[i, j], corner[i, j + 1], side_pts(rng), amp, i in (0, nx))
          for j in range(ny)] for i in range(nx + 1)]
    rings = []
    for j in range(ny):
        for i in range(nx):
            ring = np.vstack([
                corner[i, j][None], h[i][j],
                corner[i + 1, j][None], v[i + 1][j],
                corner[i + 1, j + 1][None], h[i][j + 1][::-1],
                corner[i, j + 1][None], v[i][j][::-1],
            ])
            rings.append(_close(ring))
    return rings, corner


def _hole_ring(rng, cx, cy, r, k=8):
    ang = np.sort(rng.uniform(0, 2 * np.pi, k))
    rad = r * rng.uniform(0.7, 1.0, k)
    ring = np.stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)], axis=1)
    return ring  # CCW


def tract_zones(rng, nx, ny, hole_frac):
    """Jittered-grid tracts, 12-20-vertex rings; a few % of tracts get a
    hole, and every hole is filled by another zone — half of those
    fillers are two-part multipolygons spanning two holed tracts.
    Returns a list of polygons-with-holes per zone (outer CCW, holes CW)."""
    rings, corner = jittered_grid(rng, nx, ny, lambda r: int(r.integers(2, 5)))
    x0, y0, x1, y1 = FRAME
    dmin = min((x1 - x0) / nx, (y1 - y0) / ny)
    n = len(rings)
    holed = np.sort(rng.choice(n, size=max(2, int(hole_frac * n)) // 2 * 2, replace=False))
    zones = [[[r]] for r in rings]
    holes = {}
    for c in holed:
        i, j = c % nx, c // nx
        cxy = corner[i:i + 2, j:j + 2].reshape(-1, 2).mean(axis=0)
        hole = _hole_ring(rng, cxy[0], cxy[1], 0.2 * dmin)
        holes[c] = hole
        zones[c] = [[rings[c], _close(hole[::-1])]]
    rng.shuffle(holed)
    for a, b in zip(holed[0::2], holed[1::2]):
        if rng.random() < 0.5:
            zones.append([[_close(holes[a])], [_close(holes[b])]])
        else:
            zones.append([[_close(holes[a])]])
            zones.append([[_close(holes[b])]])
    return zones


def county_zones(rng, nx, ny, side_pts):
    rings, _ = jittered_grid(
        rng, nx, ny, lambda r: int(r.integers(side_pts - 10, side_pts + 11)),
        jitter=0.12, wiggle=0.03,
    )
    return [[[r]] for r in rings]


# -- edges and points -----------------------------------------------------------


def random_polylines(rng, n, seg_len, max_verts, out_frac):
    """n polylines of 2..max_verts vertices, a meandering walk of steps
    drawn from ``seg_len``; ``out_frac`` of them start near the frame
    border so part of them lies outside every zone."""
    x0, y0, x1, y1 = FRAME
    nv = rng.integers(2, max_verts + 1, n)
    lo, hi = seg_len
    margin = hi * (max_verts - 1)
    sx = rng.uniform(x0 + margin, x1 - margin, n)
    sy = rng.uniform(y0 + margin, y1 - margin, n)
    border = rng.random(n) < out_frac
    side = rng.integers(0, 2, n)
    sx = np.where(border & (side == 0), x0 + rng.uniform(-hi, hi, n), sx)
    sy = np.where(border & (side == 1), y1 + rng.uniform(-hi, hi, n), sy)
    heading = rng.uniform(0, 2 * np.pi, n)
    lines = []
    for k in range(n):
        m = nv[k] - 1
        th = heading[k] + np.cumsum(rng.uniform(-0.6, 0.6, m))
        st = rng.uniform(lo, hi, m)
        xs = sx[k] + np.concatenate([[0.0], np.cumsum(st * np.cos(th))])
        ys = sy[k] + np.concatenate([[0.0], np.cumsum(st * np.sin(th))])
        lines.append(np.stack([xs, ys], axis=1))
    return lines


def clustered_points(rng, n, n_hot, hot_sd, hot_frac, margin=1e-3):
    """``hot_frac`` of the points in Gaussian clusters around ``n_hot``
    centres, the rest uniform; all strictly inside the frame."""
    x0, y0, x1, y1 = FRAME
    cx = rng.uniform(x0 + 5, x1 - 5, n_hot)
    cy = rng.uniform(y0 + 5, y1 - 5, n_hot)
    hot = rng.random(n) < hot_frac
    pick = rng.integers(0, n_hot, n)
    x = np.where(hot, cx[pick] + rng.normal(0, hot_sd, n), rng.uniform(x0, x1, n))
    y = np.where(hot, cy[pick] + rng.normal(0, hot_sd, n), rng.uniform(y0, y1, n))
    return (np.clip(x, x0 + margin, x1 - margin), np.clip(y, y0 + margin, y1 - margin))


# -- pages ----------------------------------------------------------------------

_HTML_PRE = '<html><head><meta name="geo.position" content="'
_HTML_MID = '"/><title>doc</title></head><body><p data-main>'
_HTML_POST = "</p></body></html>"
_ALPHA = "abcdefghijklmnopqrstuvwxyzéüøßçñ"


def page_texts(rng, n, words=(20, 60)):
    vocab_len = rng.integers(2, 11, 3000)
    letters = rng.integers(0, len(_ALPHA), int(vocab_len.sum()))
    cut = np.concatenate([[0], np.cumsum(vocab_len)])
    vocab = np.array(["".join(_ALPHA[c] for c in letters[a:b]) for a, b in zip(cut[:-1], cut[1:])],
                     dtype=object)
    nw = rng.integers(words[0], words[1] + 1, n)
    ids = rng.integers(0, len(vocab), int(nw.sum()))
    wcut = np.concatenate([[0], np.cumsum(nw)])
    return [" ".join(vocab[ids[a:b]]) for a, b in zip(wcut[:-1], wcut[1:])]


# -- network --------------------------------------------------------------------


def chain_network(rng, n_edges):
    """Directed degree-2 chains with highway-attribute breaks, a share of
    them two-way, plus three small rings and isolated parallel edge pairs.

    Returns the edge columns, the expected chordify output — one
    (u, v, length) chord per maximal same-attribute run (rings: u == v) —
    and the ordinals of the chain edges."""
    x0, y0, x1, y1 = FRAME
    cols = {k: [] for k in ("u", "v", "key", "osmid", "highway", "length", "geom")}
    chords = []  # (u, v, length_m) expected
    ring_lengths = []
    chain_edges = []
    next_node = 0
    hw_names = np.array(["primary", "secondary", "tertiary", "residential"])

    def add_edge(u, v, key, hw, a, b):
        ln = float(np.round(np.hypot(*(b - a)), 3))
        cols["u"].append(u)
        cols["v"].append(v)
        cols["key"].append(key)
        cols["osmid"].append(len(cols["osmid"]) + 1)
        cols["highway"].append(hw)
        cols["length"].append(ln)
        cols["geom"].append(wkb_linestring(np.stack([a, b])))
        return ln

    def walk(m, closed=False):
        start = np.array([rng.uniform(x0 + 10, x1 - 10), rng.uniform(y0 + 10, y1 - 10)])
        if closed:
            ang = np.linspace(0, 2 * np.pi, m, endpoint=False)
            r = rng.uniform(0.3, 1.0)
            return start + r * np.stack([np.cos(ang), np.sin(ang)], axis=1)
        th = rng.uniform(0, 2 * np.pi) + np.cumsum(rng.uniform(-0.5, 0.5, m))
        st = rng.uniform(0.02, 0.12, m)
        steps = np.stack([st * np.cos(th), st * np.sin(th)], axis=1)
        return start + np.vstack([[0.0, 0.0], np.cumsum(steps, axis=0)])

    while len(cols["u"]) < n_edges:
        kind = rng.random()
        if len(ring_lengths) < 3:  # ring, one highway, no break
            m = int(rng.integers(3, 6))
            xy = walk(m, closed=True)
            nodes = next_node + np.arange(m)
            next_node += m
            hw = str(rng.choice(hw_names))
            tot = sum(add_edge(int(nodes[i]), int(nodes[(i + 1) % m]), 0, hw, xy[i], xy[(i + 1) % m])
                      for i in range(m))
            ring_lengths.append(tot)
            continue
        if kind < 0.02:  # isolated parallel pair: two untouched edges
            xy = walk(1)
            a, b = next_node, next_node + 1
            next_node += 2
            for key in (0, 1):
                ln = add_edge(a, b, key, "service", xy[0], xy[1])
                chords.append((a, b, ln))
            continue
        m = int(rng.integers(2, 17))
        xy = walk(m)
        nodes = next_node + np.arange(m + 1)
        next_node += m + 1
        # highway runs: a break at an interior node changes the attribute
        n_breaks = int(rng.binomial(m - 1, 0.08))
        cuts = np.sort(rng.choice(np.arange(1, m), size=n_breaks, replace=False)) if n_breaks else []
        bounds = [0, *map(int, cuts), m]
        hws = []
        prev = None
        for _ in range(len(bounds) - 1):
            hw = str(rng.choice([h for h in hw_names if h != prev]))
            hws.append(hw)
            prev = hw
        two_way = rng.random() < 0.25
        chain_edges.extend(range(len(cols["u"]), len(cols["u"]) + m * (1 + two_way)))
        for r_i in range(len(bounds) - 1):
            a, b = bounds[r_i], bounds[r_i + 1]
            fwd = sum(add_edge(int(nodes[i]), int(nodes[i + 1]), 0, hws[r_i], xy[i], xy[i + 1])
                      for i in range(a, b))
            chords.append((int(nodes[a]), int(nodes[b]), fwd))
            if two_way:
                back = sum(add_edge(int(nodes[i + 1]), int(nodes[i]), 0, hws[r_i], xy[i + 1], xy[i])
                           for i in range(b - 1, a - 1, -1))
                chords.append((int(nodes[b]), int(nodes[a]), back))
    return cols, chords, ring_lengths, np.array(chain_edges)


# -- tables ---------------------------------------------------------------------


def _zone_table(zones, prefix):
    return pa.table({
        "zid": pa.array([f"{prefix}{i:06d}" for i in range(len(zones))], pa.string()),
        "geometry": pa.array([zone_wkb(p) for p in zones], pa.binary()),
    })


def _edge_table(lines):
    n = len(lines)
    return pa.table({
        "edge_id": pa.array(np.arange(1, n + 1), pa.int64()),
        "highway": pa.array(["residential"] * n, pa.string()),
        "geometry": pa.array([wkb_linestring(ln) for ln in lines], pa.binary()),
    })


def _point_table(x, y):
    return pa.table({
        "point_id": pa.array(np.arange(1, len(x) + 1), pa.int64()),
        "x": pa.array(x, pa.float64()),
        "y": pa.array(y, pa.float64()),
    })


def make_tables(workload: str, seed: int) -> tuple[dict, dict]:
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    s = SIZES[workload]
    x0, y0, x1, y1 = FRAME
    truth: dict = {}
    if workload == "tracts":
        zones = tract_zones(rng, s["nx"], s["ny"], s["hole_frac"])
        d = min((x1 - x0) / s["nx"], (y1 - y0) / s["ny"])
        lines = random_polylines(rng, s["edges"], (0.2 * d, 0.6 * d), 5, 0.02)
        px, py = clustered_points(rng, s["points"], 40, 2 * d, 0.5)
        tables = {"zones": _zone_table(zones, "T"), "edges": _edge_table(lines),
                  "points": _point_table(px, py)}
    elif workload == "counties":
        zones = county_zones(rng, s["nx"], s["ny"], s["side_pts"])
        d = min((x1 - x0) / s["nx"], (y1 - y0) / s["ny"])
        lines = random_polylines(rng, s["edges"], (0.05 * d, 0.2 * d), 8, 0.03)
        n = s["pages"]
        lon, lat = clustered_points(rng, n, 12, 0.02, 0.3)
        texts = page_texts(rng, n)
        anchors = [f"{la!r};{lo!r}" for la, lo in zip(lat.tolist(), lon.tolist())]
        html = [(_HTML_PRE + a + _HTML_MID + t + _HTML_POST).encode("utf-8")
                for a, t in zip(anchors, texts)]
        tables = {
            "zones": _zone_table(zones, "C"), "edges": _edge_table(lines),
            "pages": pa.table({
                "url": pa.array([f"https://example.org/p/{i}" for i in range(n)], pa.string()),
                "html": pa.array(html, pa.binary()),
                "text": pa.array(texts, pa.string()),
            }),
        }
        truth["lon"], truth["lat"] = lon, lat
    elif workload == "network":
        cols, chords, rings, chain_edges = chain_network(rng, s["edges"])
        geoms = cols.pop("geom")
        edges = pa.table({
            "u": pa.array(cols["u"], pa.int64()), "v": pa.array(cols["v"], pa.int64()),
            "key": pa.array(cols["key"], pa.int64()), "osmid": pa.array(cols["osmid"], pa.int64()),
            "highway": pa.array(cols["highway"], pa.string()),
            "length": pa.array(cols["length"], pa.float64()),
            "oneway": pa.array(["yes"] * len(geoms), pa.string()),
            "geometry": pa.array(geoms, pa.binary()),
        })
        # points scattered around the midpoints of random chain edges
        n = s["points"]
        pick = rng.choice(chain_edges, n)
        g = np.frombuffer(b"".join(geoms[i][9:] for i in pick), "<f8").reshape(n, 4)
        mx, my = (g[:, 0] + g[:, 2]) / 2, (g[:, 1] + g[:, 3]) / 2
        hot = rng.random(n) < 0.3
        sd = np.where(hot, 0.01, 0.05)
        px = np.clip(mx + rng.normal(0, 1, n) * sd, x0, x1)
        py = np.clip(my + rng.normal(0, 1, n) * sd, y0, y1)
        tables = {"edges": edges, "points": _point_table(px, py)}
        cu, cv, cl = zip(*chords)
        truth.update(chord_u=np.array(cu, np.int64), chord_v=np.array(cv, np.int64),
                     chord_len=np.array(cl), ring_len=np.array(rings))
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return tables, truth


# -- cache ----------------------------------------------------------------------


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def fixture(cache_dir: str, workload: str, seed: int) -> tuple[dict, dict, dict]:
    """Paths of the workload's parquet tables for ``seed`` (generated on
    first use), the truth dict and the manifest of content hashes.
    Cached files are re-hashed on every use; a mismatch regenerates."""
    with open(__file__, "rb") as f:  # the generator's code is part of the key
        code = f.read()
    size_key = hashlib.sha256(json.dumps(SIZES[workload], sort_keys=True).encode() + code).hexdigest()[:10]
    d = os.path.join(cache_dir, "fixtures", f"{workload}-s{seed}-{size_key}")
    man_path = os.path.join(d, "manifest.json")
    if os.path.exists(man_path):
        with open(man_path) as f:
            man = json.load(f)
        if all(_sha256(os.path.join(d, fn)) == h for fn, h in man["sha256"].items()):
            with np.load(os.path.join(d, "truth.npz")) as z:
                truth = dict(z)
            return {t: os.path.join(d, f"{t}.parquet") for t in man["tables"]}, truth, man
    tables, truth = make_tables(workload, seed)
    tmp = f"{d}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, tbl in tables.items():
        # several row groups so Spark plans more than one input split
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"),
                       row_group_size=max(1, -(-tbl.num_rows // 8)))
    np.savez(os.path.join(tmp, "truth.npz"), **truth)
    man = {
        "workload": workload, "seed": seed, "sizes": SIZES[workload],
        "tables": {n: t.num_rows for n, t in tables.items()},
        "sha256": {f"{n}.parquet": _sha256(os.path.join(tmp, f"{n}.parquet")) for n in tables},
    }
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(man, f, indent=1)
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    return {t: os.path.join(d, f"{t}.parquet") for t in tables}, truth, man

