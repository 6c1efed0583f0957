"""Deterministic synthetic `pages` dataset + independent oracle truths.

Implements FIXTURES.md §1/§4/§6 (seed 42, Finland bbox, reference
geometry-type mix measured from inst/tinytest/laji-data.tsv and
HBF.55685.zip — see SURVEY.md §1.2). The generator computes every truth
*forward* (it chooses positions in the EPSG:3067 plane, then renders
the html), so tile / PIP / kNN goldens are independent of the engine's
kernels: the engine must recover them from the html alone.

Independence notes:
- tile truth = floor arithmetic on generator-chosen E/N; the engine's
  TM35FIN forward transform is itself pinned to a quadrature oracle in
  tests/test_crs.py.
- PIP truth = brute-force O(n*m) ray-cast here vs the engine's
  cell-prefilter + STR-index + crossing test.
- kNN truth = full distance matrix here vs the engine's ring expansion.
- every point is nudged >=1 m away from polygon edges and >=1 m away
  from 1 km tile boundaries so float noise (html carries %.7f ~ 1 cm)
  cannot flip a golden.

Outputs under data/{scale}/ at the checkout root ($FGC_DATA_DIR overrides):
  pages.parquet      url, warc_ts, html(binary), text, lang
  media.parquet      url, media(binary) — real PNG/GIF/JPEG headers
  truth.parquet      per-url expected extraction/point/tile values
  pip.parquet        (url, poly_id) golden join rows
  knn.parquet        (probe_id, url) golden k=5 neighbor rows
  polygons.parquet   broadcast polygon layer (shared geometry recipe)
  probes.parquet     kNN probe points
"""

from __future__ import annotations

import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from fgcspark.crs import tm35fin as tm

SEED = 42
SCALE_ROWS = {
    "sf0.001": 2000,
    "sf0.01": 10000,
    "sf0.1": 100000,
    "sf1": 1000000,
    "sf4": 4000000,
    "sf16": 16000000,
}
DATA_DIR = Path(
    os.environ.get("FGC_DATA_DIR", Path(__file__).resolve().parents[2] / "data")
)

# Finland-ish working window in EPSG:3067 (1 km inset from round numbers)
E_MIN, E_MAX = 100500.0, 729500.0
N_MIN, N_MAX = 6610500.0, 7769500.0
HOT_LON, HOT_LAT = 24.94, 60.17

# geometry-category mix per 1000 rows (FIXTURES.md §1)
# 0 point-only, 1 point+POINT-footprint, 2 point+empty-footprint,
# 3 polygon, 4 linestring, 5 geometrycollection,
# 6 coords-only/no-footprint, 7 footprint-only/no-coords
CAT_PER_1000 = [(0, 628), (1, 16), (2, 16), (3, 170), (4, 110), (5, 27), (6, 3), (7, 30)]

SPECIES = [f"species_{i:02d}" for i in range(50)]
K_NN = 5
N_PROBES = 200
DW_RADIUS_M = 25_000.0  # distance-within join radius (dwithin.parquet golden)
N_POLYGONS = 200


def _fmt(x: float) -> str:
    return f"{x:.7f}"


def _ring_wkt(lon: np.ndarray, lat: np.ndarray) -> str:
    pts = ", ".join(f"{_fmt(a)} {_fmt(b)}" for a, b in zip(lon, lat))
    first = f"{_fmt(lon[0])} {_fmt(lat[0])}"
    return f"({pts}, {first})"


def _convex_hull(pts: np.ndarray) -> np.ndarray:
    """Andrew monotone chain; pts (k,2) -> hull CCW without repeat."""
    pts = pts[np.lexsort((pts[:, 1], pts[:, 0]))]

    def half(p):
        out: list[np.ndarray] = []
        for v in p:
            while len(out) >= 2 and np.cross(out[-1] - out[-2], v - out[-2]) <= 0:
                out.pop()
            out.append(v)
        return out

    lower = half(pts)
    upper = half(pts[::-1])
    return np.array(lower[:-1] + upper[:-1])


def _poly_centroid(x: np.ndarray, y: np.ndarray) -> tuple[float, float]:
    """Planar area-weighted centroid of a closed-or-open ring
    (shoelace, translated to the first vertex — bit-identical
    arithmetic to the engine kernel geom.kernels._ring_area2_cx_cy)."""
    bx, by = float(x[0]), float(y[0])
    x = x - bx
    y = y - by
    if x[0] != x[-1] or y[0] != y[-1]:
        x = np.append(x, x[0])
        y = np.append(y, y[0])
    cross = x[:-1] * y[1:] - x[1:] * y[:-1]
    a = cross.sum() / 2.0
    cx = ((x[:-1] + x[1:]) * cross).sum() / (6.0 * a)
    cy = ((y[:-1] + y[1:]) * cross).sum() / (6.0 * a)
    return bx + float(cx), by + float(cy)


def _ray_cast(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Crossing-number PIP: points (n,), ring (k,2) closed or open."""
    x0, y0 = ring[:, 0], ring[:, 1]
    x1, y1 = np.roll(x0, -1), np.roll(y0, -1)
    inside = np.zeros(px.shape[0], dtype=bool)
    for i in range(len(x0)):
        cond = (y0[i] > py) != (y1[i] > py)
        if not cond.any():
            continue
        xint = (x1[i] - x0[i]) * (py - y0[i]) / (y1[i] - y0[i]) + x0[i]
        inside ^= cond & (px < xint)
    return inside


def _seg_dist(px: np.ndarray, py: np.ndarray, segs: np.ndarray) -> np.ndarray:
    """Min distance from each point to any segment. segs (m,4)=(x0,y0,x1,y1).

    Vectorized over whichever side is small (identical values either
    way: min over the same candidate set is order independent)."""
    if px.shape[0] <= 64:  # few points, many segments: broadcast over segs
        x0, y0, x1, y1 = segs[:, 0], segs[:, 1], segs[:, 2], segs[:, 3]
        dx, dy = x1 - x0, y1 - y0
        ll = np.where(dx * dx + dy * dy > 0, dx * dx + dy * dy, 1.0)
        t = np.clip(
            ((px[:, None] - x0) * dx + (py[:, None] - y0) * dy) / ll, 0.0, 1.0
        )
        d = np.hypot(px[:, None] - (x0 + t * dx), py[:, None] - (y0 + t * dy))
        return d.min(axis=1)
    best = np.full(px.shape[0], np.inf)
    for x0, y0, x1, y1 in segs:
        dx, dy = x1 - x0, y1 - y0
        ll = dx * dx + dy * dy
        t = np.clip(((px - x0) * dx + (py - y0) * dy) / (ll if ll > 0 else 1.0), 0.0, 1.0)
        d = np.hypot(px - (x0 + t * dx), py - (y0 + t * dy))
        np.minimum(best, d, out=best)
    return best


def _build_polygons(rng: np.random.Generator) -> tuple[list[dict], list[list[np.ndarray]]]:
    """200 polygons over the window, ~10% overlap, 5 over the hot
    cell (FIXTURES.md §4). Returns (records, rings_3067) where each
    polygon is a LIST of rings (exterior(s) + holes): non-hot polygons
    with pid % 5 == 2 carry an interior hole; pid % 7 == 3 are
    MULTIPOLYGONs with a second disjoint part. Containment semantics
    are even-odd (XOR of per-ring crossing parity), which both the
    brute-force golden here and the engine refine share."""
    hot_e, hot_n = (float(v) for v in tm.geodetic_to_tm35(HOT_LON, HOT_LAT))
    ncol, nrow = 20, 10
    de = (E_MAX - E_MIN) / ncol
    dn = (N_MAX - N_MIN) / nrow
    centers = []
    for r in range(nrow):
        for c in range(ncol):
            centers.append((E_MIN + (c + 0.5) * de, N_MIN + (r + 0.5) * dn))
    centers = np.array(centers)
    d_hot = np.hypot(centers[:, 0] - hot_e, centers[:, 1] - hot_n)
    hot_ids = set(np.argsort(d_hot)[:5].tolist())

    records, rings = [], []
    for pid in range(N_POLYGONS):
        ce, cn = centers[pid]
        k = int(rng.integers(8, 14))
        a, b = de * 0.62, dn * 0.62  # ~10% pairwise overlap
        if pid in hot_ids:
            # guarantee hot-point containment: recenter toward the hot
            # point, radii dominate the residual offset, and near-even
            # vertex angles keep every chord outside the hot point
            ce = ce + (hot_e - ce) * 0.7
            cn = cn + (hot_n - cn) * 0.7
            a = max(a, abs(hot_e - ce) * 2.5 + 8000.0)
            b = max(b, abs(hot_n - cn) * 2.5 + 8000.0)
            ang = np.linspace(0, 2 * np.pi, k, endpoint=False) + rng.uniform(-0.15, 0.15, k)
            ru = rng.uniform(0.95, 1.15, k)
        else:
            ang = np.sort(rng.uniform(0, 2 * np.pi, k))
            ru = rng.uniform(0.85, 1.15, k)
        pts = np.stack([ce + a * np.cos(ang) * ru, cn + b * np.sin(ang) * ru], axis=1)
        hull = _convex_hull(pts)

        def _eff_ring(hx: np.ndarray, hy: np.ndarray) -> tuple[str, np.ndarray]:
            """Format a metric ring as %.7f lon/lat WKT text and return
            (ring_wkt, effective_3067_ring): what the engine recovers
            after parse + forward transform."""
            lo, la = tm.tm35_to_geodetic(hx, hy)
            lo_f = np.array([float(_fmt(v)) for v in lo])
            la_f = np.array([float(_fmt(v)) for v in la])
            ee, nn2 = tm.geodetic_to_tm35(lo_f, la_f)
            return _ring_wkt(lo, la), np.stack([ee, nn2], axis=1)

        ext_txt, ext_eff = _eff_ring(hull[:, 0], hull[:, 1])
        poly_rings = [ext_eff]
        ring_txts = [ext_txt]
        if pid not in hot_ids and pid % 5 == 2:
            # interior hole: hull shrunk 65% toward its vertex mean
            hc = hull.mean(axis=0)
            hole = hc + (hull - hc) * 0.35
            h_txt, h_eff = _eff_ring(hole[:, 0], hole[:, 1])
            poly_rings.append(h_eff)
            ring_txts.append(h_txt)
        if pid not in hot_ids and pid % 7 == 3:
            # second disjoint part well outside the hull (hull radius is
            # <= 1.15 * (a, b)), clipped into the working window
            c2e = float(np.clip(ce + a * 1.9, E_MIN + 1000, E_MAX - 1000))
            c2n = float(np.clip(cn + b * 1.9, N_MIN + 1000, N_MAX - 1000))
            k2 = int(rng.integers(5, 9))
            ang2 = np.sort(rng.uniform(0, 2 * np.pi, k2))
            part2 = np.stack(
                [c2e + a * 0.3 * np.cos(ang2), c2n + b * 0.3 * np.sin(ang2)], axis=1
            )
            hull2 = _convex_hull(part2)
            p_txt, p_eff = _eff_ring(hull2[:, 0], hull2[:, 1])
            if len(ring_txts) > 1:  # holed first part + plain second part
                wkt = f"MULTIPOLYGON (({ring_txts[0]}, {ring_txts[1]}), ({p_txt}))"
            else:
                wkt = f"MULTIPOLYGON (({ring_txts[0]}), ({p_txt}))"
            poly_rings.append(p_eff)
        elif len(ring_txts) > 1:
            wkt = f"POLYGON ({ring_txts[0]}, {ring_txts[1]})"
        else:
            wkt = f"POLYGON ({ring_txts[0]})"
        records.append({"poly_id": pid, "name": f"province_{pid}", "wkt": wkt})
        rings.append(poly_rings)
        if pid in hot_ids:
            assert _ray_cast(np.array([hot_e]), np.array([hot_n]), poly_rings[0])[0]
    return records, rings


def _fpt(e_arr, n_arr):
    """Transform metric coords to formatted-then-reparsed lon/lat — the
    exact doubles the engine recovers from the WKT text."""
    lon, lat = tm.tm35_to_geodetic(np.asarray(e_arr, float), np.asarray(n_arr, float))
    lon = np.array([float(_fmt(v)) for v in np.atleast_1d(lon)])
    lat = np.array([float(_fmt(v)) for v in np.atleast_1d(lat)])
    return lon, lat


def _footprint_polygon(rng, ce, cn, radius) -> tuple[str, np.ndarray]:
    k = int(rng.integers(5, 10))
    ang = np.sort(rng.uniform(0, 2 * np.pi, k))
    ru = rng.uniform(0.7, 1.0, k)
    lon, lat = _fpt(ce + radius * np.cos(ang) * ru, cn + radius * np.sin(ang) * ru)
    return f"POLYGON ({_ring_wkt(lon, lat)})", np.stack([lon, lat], axis=1)


def _footprint_linestring(rng, ce, cn) -> tuple[str, np.ndarray]:
    k = int(rng.integers(2, 7))
    lon, lat = _fpt(
        ce + np.cumsum(rng.uniform(-150, 150, k)), cn + np.cumsum(rng.uniform(-150, 150, k))
    )
    pts = ", ".join(f"{_fmt(a)} {_fmt(b)}" for a, b in zip(lon, lat))
    return f"LINESTRING ({pts})", np.stack([lon, lat], axis=1)


def _segs_cross(A: np.ndarray, B: np.ndarray) -> bool:
    """Any segment of A meets any of B (crossing or touching), segments
    as (m,4)=(x1,y1,x2,y2). PARAMETRIC solve (t,u in [0,1]) with a
    collinear-overlap projection branch — deliberately an independent
    formulation from the engine's orientation-straddle test
    (fgcspark.joins.fpjoin._segs_any_intersect)."""
    for x1, y1, x2, y2 in A:
        rx, ry = x2 - x1, y2 - y1
        sx, sy = B[:, 2] - B[:, 0], B[:, 3] - B[:, 1]
        qpx, qpy = B[:, 0] - x1, B[:, 1] - y1
        denom = rx * sy - ry * sx
        t_num = qpx * sy - qpy * sx
        u_num = qpx * ry - qpy * rx
        with np.errstate(divide="ignore", invalid="ignore"):
            t = t_num / denom
            u = u_num / denom
        if ((denom != 0) & (t >= 0) & (t <= 1) & (u >= 0) & (u <= 1)).any():
            return True
        col = (denom == 0) & (u_num == 0)
        if col.any():
            rr = rx * rx + ry * ry
            if rr > 0:
                t0 = (qpx[col] * rx + qpy[col] * ry) / rr
                t1 = t0 + (sx[col] * rx + sy[col] * ry) / rr
                lo, hi = np.minimum(t0, t1), np.maximum(t0, t1)
                if ((hi >= 0.0) & (lo <= 1.0)).any():
                    return True
    return False


def _fp_intersects(parts, rings, poly_segs, poly_verts) -> bool:
    """Brute-force intersects: projected footprint parts vs one layer
    polygon (rings even-odd). Truth twin of the engine's
    geom_intersects_rings, built on the generator's own primitives."""
    for kind, arr in parts:
        ins = np.zeros(arr.shape[0], dtype=bool)
        for ring in rings:
            ins ^= _ray_cast(arr[:, 0], arr[:, 1], ring)
        if ins.any():
            return True
        if kind == "pt":
            continue
        a = arr
        if kind == "poly" and not (a[0] == a[-1]).all():
            a = np.vstack([a, a[:1]])
        segs = np.concatenate([a[:-1], a[1:]], axis=1)
        if _segs_cross(segs, poly_segs):
            return True
        if kind == "poly" and _ray_cast(poly_verts[:, 0], poly_verts[:, 1], a).any():
            return True
    return False


def _footprint_gc(rng, ce, cn, variant: int):
    """Returns (wkt, coords (m,2) lon/lat, footprint-mode result type,
    structured parts [(kind, lon/lat array)] for the fp-join golden)."""
    lon, lat = _fpt([ce], [cn])
    p = f"{_fmt(lon[0])} {_fmt(lat[0])}"
    if variant == 0:  # point + multipoint -> MULTIPOINT (uncollect case 1)
        lon2, lat2 = _fpt([ce + 120.0], [cn + 80.0])
        wkt = (
            f"GEOMETRYCOLLECTION (POINT ({p}), "
            f"MULTIPOINT (({_fmt(lon2[0])} {_fmt(lat2[0])})))"
        )
        coords = np.array([[lon[0], lat[0]], [lon2[0], lat2[0]]])
        return wkt, coords, "MULTIPOINT", [("pt", coords)]
    if variant == 1:  # two polygons -> MULTIPOLYGON (uncollect case 2)
        w1, c1 = _footprint_polygon(rng, ce, cn, 200.0)
        w2, c2 = _footprint_polygon(rng, ce + 500.0, cn + 300.0, 150.0)
        return (
            f"GEOMETRYCOLLECTION ({w1}, {w2})",
            np.concatenate([c1, c2]),
            "MULTIPOLYGON",
            [("poly", c1), ("poly", c2)],
        )
    if variant == 2:  # point + linestring -> polygonize path (case 3 shape)
        # single-segment line: GEOS quadsegs=1 segment buffer is an exact
        # hexagon; with real-world (non-tie) coords neither square nor
        # hexagon collapses under integer rounding -> MULTIPOLYGON
        lon2, lat2 = _fpt([ce + 180.0], [cn + 140.0])
        wkt = (
            f"GEOMETRYCOLLECTION (POINT ({p}), "
            f"LINESTRING ({p}, {_fmt(lon2[0])} {_fmt(lat2[0])}))"
        )
        coords = np.array([[lon[0], lat[0]], [lon2[0], lat2[0]]])
        return wkt, coords, "MULTIPOLYGON", [("pt", coords[:1]), ("line", coords)]
    # TRIANGLE passthrough (uncollect case 4)
    lon2, lat2 = _fpt([ce + 100.0], [cn])
    lon3, lat3 = _fpt([ce], [cn + 100.0])
    wkt = (
        f"GEOMETRYCOLLECTION (TRIANGLE (({p}, {_fmt(lon2[0])} {_fmt(lat2[0])}, "
        f"{_fmt(lon3[0])} {_fmt(lat3[0])}, {p})))"
    )
    coords = np.array([[lon[0], lat[0]], [lon2[0], lat2[0]], [lon3[0], lat3[0]]])
    return wkt, coords, "GEOMETRYCOLLECTION", [("poly", coords)]


def _media_blob(url: str) -> bytes:
    """Deterministic media blob for a page: a VALID PNG / GIF89a / JPEG
    header — true width/height/channels baked into the real byte
    layout (PNG IHDR with CRC, GIF logical-screen descriptor, JPEG
    JFIF APP0 + COM + SOF0 segment chain) — followed by md5-chained
    opaque payload bytes; every 4th page gets a malformed blob with no
    magic. media_metadata's header parse is therefore true by
    construction, and the malformed branch exercises its NULL path.
    Headers only + payload (no pixel data): the decode stub stays a
    stub, but the metadata is real."""
    import hashlib
    import zlib

    d = hashlib.md5(url.encode()).digest()
    fmt = d[0] % 4
    w = 1 + int.from_bytes(d[1:3], "big") % 640
    h = 1 + int.from_bytes(d[3:5], "big") % 480
    chain, payload = d, b""
    plen = 64 + d[6] % 193
    while len(payload) < plen:
        chain = hashlib.md5(chain).digest()
        payload += chain
    payload = payload[:plen]
    if fmt == 0:  # PNG: 8-byte magic + IHDR chunk (13-byte data + CRC)
        colortype = 2 if d[5] % 2 else 6  # RGB / RGBA
        ihdr = (
            w.to_bytes(4, "big")
            + h.to_bytes(4, "big")
            + bytes([8, colortype, 0, 0, 0])
        )
        crc = zlib.crc32(b"IHDR" + ihdr).to_bytes(4, "big")
        return (
            b"\x89PNG\r\n\x1a\n"
            + (13).to_bytes(4, "big")
            + b"IHDR"
            + ihdr
            + crc
            + payload
        )
    if fmt == 1:  # GIF89a: little-endian logical screen descriptor
        lsd = w.to_bytes(2, "little") + h.to_bytes(2, "little") + bytes([0xF7, 0, 0])
        return b"GIF89a" + lsd + payload
    if fmt == 2:  # JPEG: SOI + APP0(JFIF) + variable-length COM + SOF0
        ncomp = 3 if d[5] % 4 else 1  # color / grayscale
        app0 = (
            b"\xff\xe0"
            + (16).to_bytes(2, "big")
            + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
        )
        # COM payload may contain FF bytes — a naive FFC0 scan would
        # misparse; only a real segment walk reads these correctly
        com_data = payload[: 8 + d[7] % 33]
        com = b"\xff\xfe" + (len(com_data) + 2).to_bytes(2, "big") + com_data
        sof_data = (
            bytes([8])
            + h.to_bytes(2, "big")
            + w.to_bytes(2, "big")
            + bytes([ncomp])
            + bytes([1, 0x11, 0]) * ncomp
        )
        sof = b"\xff\xc0" + (len(sof_data) + 2).to_bytes(2, "big") + sof_data
        return b"\xff\xd8" + app0 + com + sof + payload
    return b"\x00\x00" + payload  # malformed: matches no magic


def generate(scale: str, out_dir: Path | None = None, force: bool = False) -> Path:
    """Generate (idempotently) the dataset for one scale; returns its dir."""
    n = SCALE_ROWS[scale]
    out = (out_dir or DATA_DIR) / scale
    if not force and (out / "_SUCCESS").exists():
        return out
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng([SEED, n])

    poly_records, poly_rings = _build_polygons(np.random.default_rng([SEED, 7]))
    all_segs = np.concatenate(
        [
            np.concatenate([r, np.roll(r, -1, axis=0)], axis=1)
            for rings in poly_rings
            for r in rings
        ]
    )

    # --- categories & base positions (EPSG:3067 plane) ---------------
    template = np.concatenate([np.full(cnt, cat, np.int8) for cat, cnt in CAT_PER_1000])
    cats = np.tile(template, n // 1000 + 1)[:n]
    cats = rng.permutation(cats)

    hot_e, hot_n = (float(v) for v in tm.geodetic_to_tm35(HOT_LON, HOT_LAT))
    hot = rng.random(n) < 0.2
    e = np.where(hot, hot_e + rng.uniform(-2000, 2000, n), rng.uniform(E_MIN, E_MAX, n))
    nn = np.where(hot, hot_n + rng.uniform(-2000, 2000, n), rng.uniform(N_MIN, N_MAX, n))

    # rows whose point will be a polygon centroid (cat 7) get a center
    # well inside its 1 km tile; polygon radius stays < 300 m
    c7 = cats == 7
    e[c7] = np.floor(e[c7] / 1000) * 1000 + rng.uniform(380, 620, int(c7.sum()))
    nn[c7] = np.floor(nn[c7] / 1000) * 1000 + rng.uniform(380, 620, int(c7.sum()))

    # --- safety nudges: >=1 m from 1 km tile lines & polygon edges ----
    for arr in (e, nn):
        frac = arr % 1000.0
        arr += np.where(frac < 1.0, 1.5, 0.0) - np.where(frac > 999.0, 1.5, 0.0)
    # iterate only on still-bad rows: identical output to recomputing
    # everything (moves only change the moved rows' distances), but
    # O(bad) instead of O(n) per pass — needed at the sf1 bench scale
    check = np.nonzero(~c7)[0]
    for _ in range(60):
        if check.size == 0:
            break
        d = _seg_dist(e[check], nn[check], all_segs)
        bad = check[d < 1.0]
        if bad.size == 0:
            break
        e[bad] += 7.3
        frac = e[bad] % 1000.0
        e[bad] += np.where(frac < 1.0, 1.5, 0.0) - np.where(frac > 999.0, 1.5, 0.0)
        check = bad

    # --- footprints + per-row point truth -----------------------------
    footprints: list[str | None] = [None] * n
    fp_coords: list = [None] * n  # (m,2) lon/lat doubles of the raw footprint
    fp_type: list = [None] * n  # footprint-mode output geometry type
    fp_parts: list = [None] * n  # structured [(kind, lon/lat arr)] for fp-join
    centroid_lon = np.full(n, np.nan)
    centroid_lat = np.full(n, np.nan)
    lon_r, lat_r = tm.tm35_to_geodetic(e, nn)
    lat_s = np.array([_fmt(v) for v in lat_r])
    lon_s = np.array([_fmt(v) for v in lon_r])

    row_rng = np.random.default_rng([SEED, n, 1])
    for i in np.nonzero(cats == 1)[0]:
        footprints[i] = f"POINT ({lon_s[i]} {lat_s[i]})"
    for i in np.nonzero(cats == 2)[0]:
        footprints[i] = "POLYGON EMPTY"
    for i in np.nonzero(cats == 3)[0]:
        footprints[i], fp_coords[i] = _footprint_polygon(
            row_rng, e[i], nn[i], float(row_rng.uniform(60, 500))
        )
        fp_type[i] = "MULTIPOLYGON"
        fp_parts[i] = [("poly", fp_coords[i])]
    for i in np.nonzero(cats == 4)[0]:
        footprints[i], fp_coords[i] = _footprint_linestring(row_rng, e[i], nn[i])
        fp_type[i] = "MULTILINESTRING"
        fp_parts[i] = [("line", fp_coords[i])]
    gc_rows = np.nonzero(cats == 5)[0]
    for j, i in enumerate(gc_rows):
        footprints[i], fp_coords[i], fp_type[i], fp_parts[i] = _footprint_gc(
            row_rng, e[i], nn[i], j % 4
        )
    for i in np.nonzero(c7)[0]:
        for _attempt in range(50):
            wkt, ring = _footprint_polygon(row_rng, e[i], nn[i], float(row_rng.uniform(60, 280)))
            clon, clat = _poly_centroid(ring[:, 0], ring[:, 1])
            ce2, cn2 = (float(v) for v in tm.geodetic_to_tm35(clon, clat))
            if _seg_dist(np.array([ce2]), np.array([cn2]), all_segs)[0] >= 1.0:
                footprints[i] = wkt
                fp_coords[i] = ring
                fp_type[i] = "MULTIPOLYGON"
                fp_parts[i] = [("poly", ring)]
                centroid_lon[i], centroid_lat[i] = clon, clat
                e[i], nn[i] = ce2, cn2  # effective point for tiles/pip/knn
                break
        else:  # pragma: no cover - deterministic data makes this unreachable
            raise RuntimeError(f"could not place cat-7 row {i}")

    has_coords = cats != 7
    # effective E/N: what the engine recovers from the %.7f strings
    lon_eff = np.where(has_coords, np.array([float(s) for s in lon_s]), centroid_lon)
    lat_eff = np.where(has_coords, np.array([float(s) for s in lat_s]), centroid_lat)
    e_eff, n_eff = tm.geodetic_to_tm35(lon_eff, lat_eff)

    # footprint-mode truth for substitution rows (empty/POINT footprint +
    # valid coords -> MULTIPOINT((lon lat)), reference
    # R/finbif_geo_convert.R:242-299; the >1-row guard always holds here:
    # every scale has >=2 such rows by construction)
    for i in np.nonzero(np.isin(cats, (0, 1, 2, 6)))[0]:
        fp_coords[i] = np.array([[lon_eff[i], lat_eff[i]]])
        fp_type[i] = "MULTIPOINT"
        fp_parts[i] = [("pt", fp_coords[i])]

    # bbox-mode truth: 5-point corner polygon over the effective
    # footprint coords (no row here carries a bare POINT footprint, so
    # the 0.5 m diamond buffer G11 never fires — covered in pytest)
    def _numf(x: float) -> str:
        xi = int(x)
        return str(xi) if x == xi else repr(float(x))

    bbox_wkt = []
    for i in range(n):
        c = fp_coords[i]
        x0, y0 = float(c[:, 0].min()), float(c[:, 1].min())
        x1, y1 = float(c[:, 0].max()), float(c[:, 1].max())
        bbox_wkt.append(
            "POLYGON (("
            + ", ".join(
                f"{_numf(a)} {_numf(b)}"
                for a, b in ((x0, y0), (x0, y1), (x1, y1), (x1, y0), (x0, y0))
            )
            + "))"
        )

    # --- page content --------------------------------------------------
    idx = np.arange(n)
    urls = [f"https://site{i % 1000}.example/fi/page/{i}" for i in idx]
    langs = np.where(idx % 10 < 8, "fi", np.where(idx % 10 == 8, "sv", "en"))
    species = [SPECIES[(i * 7) % 50] for i in idx]
    texts = [f"doc {i} {sp} observed" for i, sp in zip(idx, species)]
    htmls = []
    for i in idx:
        meta = []
        if has_coords[i]:
            meta.append(f'<meta name="geo.position" content="{lat_s[i]};{lon_s[i]}">')
        if footprints[i] is not None:
            meta.append(f'<meta name="fgc.footprint" content="{footprints[i]}">')
        # deterministic outlink graph in the HEAD (invisible to body/text
        # extraction, so every pre-existing golden is unchanged): page i
        # carries i % 4 links; 9/10 targets land on hosts 0-99 (hub skew),
        # the rest anywhere; pages with i % 4 == 0 emit nothing, so hosts
        # whose pages all hit that branch are dangling (no out-edges)
        for j in range(i % 4):
            mod = 100 if (i + j) % 10 else 1000
            tgt = (i * 31 + j * 57 + 11) % mod
            meta.append(
                f'<link rel="outlink" href="https://site{tgt}.example'
                f"/fi/page/{(i * 13 + j * 7) % 100000}\">"
            )
        htmls.append(
            f"<html><head>{''.join(meta)}</head><body>{texts[i]}</body></html>".encode()
        )

    warc_ts = (np.datetime64("2021-06-08T00:00:00", "us") + (idx * 37).astype("timedelta64[s]"))

    # small row groups so local Spark scans split the single file into
    # enough input partitions to feed every core (a real CC crawl is
    # thousands of files; this mimics that splittability at test scale)
    pq.write_table(
        pa.table(
            {
                "url": urls,
                "warc_ts": pa.array(warc_ts, pa.timestamp("us", tz="UTC")),
                "html": pa.array(htmls, pa.binary()),
                "text": texts,
                "lang": langs.tolist(),
            }
        ),
        out / "pages.parquet",
        row_group_size=max(2000, n // 64),
    )

    # media blobs live in their OWN table (url, media): blobs dominate
    # bytes (~2x the html), and Spark splits scan tasks by total file
    # bytes regardless of column projection — co-locating blobs with
    # the relational columns made every pages scan pay blob-split
    # overhead. Separate blob tables are also the 100 TB layout.
    pq.write_table(
        pa.table(
            {
                "url": urls,
                "media": pa.array([_media_blob(u) for u in urls], pa.binary()),
            }
        ),
        out / "media.parquet",
        row_group_size=max(2000, n // 64),
    )

    # --- truth table ----------------------------------------------------
    def cell(size_km):
        s = size_km * 1000
        return [
            f"{int(np.floor(b / s))}:{int(np.floor(a / s))}"
            for a, b in zip(e_eff, n_eff)
        ]

    point_wkt = [
        f"POINT ({_fmt(lo)} {_fmt(la)})" for lo, la in zip(lon_eff, lat_eff)
    ]
    pq.write_table(
        pa.table(
            {
                "url": urls,
                "cat": cats.astype("int32"),
                "lat_s": [lat_s[i] if has_coords[i] else None for i in idx],
                "lon_s": [lon_s[i] if has_coords[i] else None for i in idx],
                "footprint": footprints,
                "text": texts,
                "lang": langs.tolist(),
                "e": e_eff,
                "n": n_eff,
                "cell_1km": cell(1),
                "cell_10km": cell(10),
                "cell_50km": cell(50),
                "cell_100km": cell(100),
                "point_wkt": point_wkt,
                "fp_type": fp_type,
                "bbox_wkt": bbox_wkt,
            }
        ),
        out / "truth.parquet",
    )

    pq.write_table(
        pa.table(
            {
                "poly_id": [r["poly_id"] for r in poly_records],
                "name": [r["name"] for r in poly_records],
                "wkt": [r["wkt"] for r in poly_records],
            }
        ),
        out / "polygons.parquet",
    )

    # --- layer area/perimeter golden: computed forward through the
    # engine's parse -> project -> shoelace path at generation time, so
    # the Spark-distributed run must reproduce it bit-for-bit (the
    # shoelace itself is independently property-tested against exact
    # rational arithmetic in tests/test_area.py) --------------------------
    from fgcspark.geom import kernels as _K
    from fgcspark.geom.wkt import parse_wkt as _pw

    st_area, st_perim = [], []
    for r in poly_records:
        g = _K.transform_coords(_pw(r["wkt"]), tm.geodetic_to_tm35)
        a, p = _K.area_perimeter(g)
        st_area.append(a)
        st_perim.append(p)
    pq.write_table(
        pa.table(
            {
                "poly_id": pa.array([r["poly_id"] for r in poly_records], pa.int64()),
                "area_m2": pa.array(st_area, pa.float64()),
                "perimeter_m": pa.array(st_perim, pa.float64()),
            }
        ),
        out / "layer_stats.parquet",
    )
    from fgcspark.geom.wkt import to_wkt as _tw

    pq.write_table(
        pa.table(
            {
                "poly_id": pa.array([r["poly_id"] for r in poly_records], pa.int64()),
                "hull_wkt": [
                    _tw(
                        _K.convex_hull(
                            _K.transform_coords(_pw(r["wkt"]), tm.geodetic_to_tm35)
                        )
                    )
                    for r in poly_records
                ],
            }
        ),
        out / "layer_hulls.parquet",
    )

    # --- layer simplify golden: Douglas-Peucker (eps=500 m projected)
    # forward through the same kernel path the Spark stage uses; DP
    # properties (vertex subset, within-eps) are independently tested
    # in tests/test_simplify.py ------------------------------------------
    def _nv(g):
        return sum(len(r) for r in _K._rings_of(g))

    sp_wkt, sp_nb, sp_na = [], [], []
    for r in poly_records:
        g = _K.transform_coords(_pw(r["wkt"]), tm.geodetic_to_tm35)
        s = _K.simplify(g, eps=500.0)
        sp_wkt.append(_tw(s))
        sp_nb.append(_nv(g))
        sp_na.append(_nv(s))
    pq.write_table(
        pa.table(
            {
                "poly_id": pa.array([r["poly_id"] for r in poly_records], pa.int64()),
                "simplified_wkt": sp_wkt,
                "n_vertices_before": pa.array(sp_nb, pa.int64()),
                "n_vertices_after": pa.array(sp_na, pa.int64()),
            }
        ),
        out / "layer_simplify.parquet",
    )

    # --- PIP golden (brute force ray cast, even-odd over all rings) ------
    pip_url, pip_pid = [], []
    for pid, rings in enumerate(poly_rings):
        allv = np.vstack(rings)
        lo = allv.min(axis=0)
        hi = allv.max(axis=0)
        cand = np.nonzero(
            (e_eff >= lo[0]) & (e_eff <= hi[0]) & (n_eff >= lo[1]) & (n_eff <= hi[1])
        )[0]
        if cand.size == 0:
            continue
        ins = np.zeros(cand.size, dtype=bool)
        for ring in rings:
            ins ^= _ray_cast(e_eff[cand], n_eff[cand], ring)
        for i in cand[ins]:
            pip_url.append(urls[i])
            pip_pid.append(pid)
    pq.write_table(
        pa.table({"url": pip_url, "poly_id": pa.array(pip_pid, pa.int64())}),
        out / "pip.parquet",
    )

    # --- footprint-join golden (brute-force intersects; small scales) ----
    # only written where the contract/pytest gate consumes it (<= sf0.1);
    # large scales are validated by scripts/validate_at_scale.py's
    # distributed oracle instead.
    if n <= 100_000:
        parts_proj: list = []
        fp_bbox = np.empty((n, 4))
        for i in range(n):
            pp = []
            for kind, arr in fp_parts[i] or ():
                pe_, pn_ = tm.geodetic_to_tm35(arr[:, 0], arr[:, 1])
                pp.append((kind, np.stack([pe_, pn_], axis=1)))
            parts_proj.append(pp)
            if pp:
                allv = np.concatenate([a for _, a in pp])
                fp_bbox[i] = (
                    allv[:, 0].min(),
                    allv[:, 1].min(),
                    allv[:, 0].max(),
                    allv[:, 1].max(),
                )
            else:  # pragma: no cover - every generated row has parts
                fp_bbox[i] = (np.inf, np.inf, -np.inf, -np.inf)
        fj_url, fj_pid = [], []
        for pid, rings in enumerate(poly_rings):
            segs = np.concatenate(
                [np.concatenate([r, np.roll(r, -1, axis=0)], axis=1) for r in rings]
            )
            verts = np.vstack(rings)
            lo = verts.min(axis=0)
            hi = verts.max(axis=0)
            cand = np.nonzero(
                (fp_bbox[:, 0] <= hi[0])
                & (fp_bbox[:, 2] >= lo[0])
                & (fp_bbox[:, 1] <= hi[1])
                & (fp_bbox[:, 3] >= lo[1])
            )[0]
            for i in cand:
                if _fp_intersects(parts_proj[i], rings, segs, verts):
                    fj_url.append(urls[i])
                    fj_pid.append(pid)
        pq.write_table(
            pa.table({"url": fj_url, "poly_id": pa.array(fj_pid, pa.int64())}),
            out / "fpjoin.parquet",
        )

    # --- kNN golden (brute force) ----------------------------------------
    prng = np.random.default_rng([SEED, 11])
    pe = prng.uniform(E_MIN, E_MAX, N_PROBES)
    pn = prng.uniform(N_MIN, N_MAX, N_PROBES)
    plon, plat = tm.tm35_to_geodetic(pe, pn)
    plon = np.array([float(_fmt(v)) for v in plon])
    plat = np.array([float(_fmt(v)) for v in plat])
    pe, pn = tm.geodetic_to_tm35(plon, plat)  # effective, same basis as engine
    knn_pid, knn_url = [], []
    for p in range(N_PROBES):
        d = np.hypot(e_eff - pe[p], n_eff - pn[p])
        order = np.argsort(d, kind="stable")
        assert d[order[K_NN]] - d[order[K_NN - 1]] > 1e-6, "kNN tie at boundary"
        for i in order[:K_NN]:
            knn_pid.append(p)
            knn_url.append(urls[i])
    pq.write_table(
        pa.table({"probe_id": pa.array(knn_pid, pa.int64()), "url": knn_url}),
        out / "knn.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "probe_id": pa.array(list(range(N_PROBES)), pa.int64()),
                "lon": plon,
                "lat": plat,
            }
        ),
        out / "probes.parquet",
    )

    # --- distance-within golden (brute force over ALL pairs; small scales,
    # same gate/rationale as the fp-join golden) ---------------------------
    if n <= 100_000:
        r2 = DW_RADIUS_M * DW_RADIUS_M
        dw_pid, dw_url = [], []
        for p in range(N_PROBES):
            d2 = (e_eff - pe[p]) ** 2 + (n_eff - pn[p]) ** 2
            near = np.nonzero(d2 <= r2 * 1.001)[0]
            # no pair may sit within 1e-3 m of the radius boundary, so the
            # engine's identical squared-double comparison cannot flip
            assert not np.any(
                np.abs(np.sqrt(d2[near]) - DW_RADIUS_M) < 1e-3
            ), "dwithin boundary tie"
            for i in near[d2[near] <= r2]:
                dw_pid.append(p)
                dw_url.append(urls[i])
        pq.write_table(
            pa.table({"probe_id": pa.array(dw_pid, pa.int64()), "url": dw_url}),
            out / "dwithin.parquet",
        )

    (out / "_SUCCESS").touch()
    return out


def ensure(scale: str, out_dir: Path | None = None) -> Path:
    out = generate(scale, out_dir)
    # datasets written before the fp-join golden existed lack
    # fpjoin.parquet; generation is deterministic, so a forced re-run
    # rewrites identical bytes plus the new golden (small scales only —
    # large scales never carry it, see generate()).
    if not (out / "layer_stats.parquet").exists() or not (
        out / "layer_hulls.parquet"
    ).exists() or not (out / "layer_simplify.parquet").exists() or (
        SCALE_ROWS[scale] <= 100_000
        and not (
            (out / "fpjoin.parquet").exists() and (out / "dwithin.parquet").exists()
        )
    ):
        out = generate(scale, out_dir, force=True)
    return out


if __name__ == "__main__":
    import sys

    scales = [a for a in sys.argv[1:] if not a.startswith("--")]
    for sc in scales or ["sf0.001", "sf0.01"]:
        print(generate(sc, force="--force" in sys.argv))
