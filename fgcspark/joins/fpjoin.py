"""Footprint x layer spatial join (polygon/line/point INTERSECTS).

The PIP join (joins/pip.py) answers "which layer polygon contains this
page's point". This operator answers the full-geometry question:
"which layer polygons does this page's FOOTPRINT intersect" — the
polygon-polygon / line-polygon / point-polygon counterpart that a GIS
user of the reference's footprint mode (R/finbif_geo_convert.R:242-299)
reaches for next. The reference itself only converts footprints; the
join against a region layer is the graft's spatial-join surface
extended from points to arbitrary geometries.

Semantics (documented contract, mirrored by the generator's forward
golden and scripts/validate_at_scale.py):
- geometry per row: the parsed footprint WKT, with the reference's G4
  substitution — rows whose footprint is NULL / POINT / EMPTY and that
  carry lon/lat use the point geometry instead;
- intersects = interiors or boundaries meet in the EPSG:3067 plane:
  any segment pair crosses or touches, OR a footprint vertex lies
  inside the polygon (even-odd over exterior+holes), OR a polygon
  vertex lies inside a footprint polygon part (containment either
  direction);
- boundary decisions are float crossing-number / orientation tests:
  exact-tangency inputs are measure-zero in the synthetic layers and
  not certified (same convention as pip_join).

Physical plan (Spark-first, zero probe-side shuffle):
1. one Arrow-batched pandas UDF parses + projects each footprint ONCE
   and emits its geometry (nested part arrays; WKB for the partitioned
   twin's numpy refine) + bbox, so downstream stages never re-parse;
2. the probe's bbox cell cover is exploded JVM-side with
   sequence()/explode (pure codegen — footprints are small, the cover
   is a handful of cells at the prefilter grid);
3. the layer ships to the JVM as ONE Arrow row per polygon (edge and
   vertex arrays + bbox); its (cell, poly_id, bbox) cover is exploded
   in the JVM from the bbox columns alone, and the probe joins it with
   a broadcast hash join. The polygon's edge/vertex arrays are joined
   by poly_id only after the reporting-cell and bbox filters, so they
   are broadcast once per polygon, not once per covered cell;
4. the exact intersects refine: nested JVM higher-order lambdas over
   the part/edge arrays (no Python after stage 1). Duplicate (footprint,
   polygon) candidates from multi-cell overlap are deduped WITHOUT a
   shuffle: a candidate is emitted only from its reporting cell — the
   cell containing the lower-left corner of the bbox intersection,
   which both covers are guaranteed to contain. The per-pair predicate
   is heavier than pip_join's, so the default prefilter grid is finer
   (10 km vs 50 km): a larger broadcast cover buys proportionally
   fewer candidate pairs.

At 100 TB the page side streams through the scan once — no shuffle, no
distinct: the broadcast join replicates only the small cover table and
the dedup is arithmetic inside the refine.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from fgcspark.crs import tm35fin as tm
from fgcspark.geom.wkb import from_wkb, to_wkb
from fgcspark.geom.wkt import _KNOWN, Geom, parse_wkt
from fgcspark.joins.pip import _pip_mask, bbox_cells, build_polygon_index
from fgcspark.session import local_frame


def _project_geom(g: Geom) -> Geom:
    """Structure-preserving lon/lat -> EPSG:3067 transform."""

    def go(c):
        if c is None:
            return None
        if isinstance(c, Geom):
            # unknown tags (TRIANGLE) carry POLYGON-shaped nesting and
            # join like polygons; normalize so WKB can serialize them
            t = c.gtype if c.gtype in _KNOWN else "POLYGON"
            return Geom(t, go(c.coords))
        if isinstance(c, np.ndarray):
            if c.ndim == 1:
                e, n = tm.geodetic_to_tm35(c[0:1], c[1:2])
                return np.array([e[0], n[0]])
            e, n = tm.geodetic_to_tm35(c[:, 0], c[:, 1])
            return np.stack([e, n], axis=1)
        return [go(x) for x in c]

    return Geom(g.gtype if g.gtype in _KNOWN else "POLYGON", go(g.coords))


def _flatten_parts(g: Geom, out: list) -> None:
    """Decompose a Geom into primitive parts:
    ('pt', (k,2)) | ('line', (k,2)) | ('poly', [rings]).
    Unknown tags (TRIANGLE) carry POLYGON-shaped nesting (wkt.py)."""
    t, c = g.gtype, g.coords
    if c is None or (isinstance(c, (list, np.ndarray)) and len(c) == 0):
        return
    if t == "POINT":
        out.append(("pt", np.asarray(c, float).reshape(1, 2)))
    elif t == "MULTIPOINT":
        out.append(("pt", np.asarray(c, float).reshape(-1, 2)))
    elif t == "LINESTRING":
        out.append(("line", np.asarray(c, float).reshape(-1, 2)))
    elif t == "MULTILINESTRING":
        for part in c:
            out.append(("line", np.asarray(part, float).reshape(-1, 2)))
    elif t == "MULTIPOLYGON":
        for part in c:
            out.append(("poly", [np.asarray(r, float).reshape(-1, 2) for r in part]))
    elif t == "GEOMETRYCOLLECTION":
        for sub in c:
            _flatten_parts(sub, out)
    else:  # POLYGON and unknown tags with POLYGON-shaped nesting
        out.append(("poly", [np.asarray(r, float).reshape(-1, 2) for r in c]))


def _ring_segs(arr: np.ndarray, closed: bool) -> np.ndarray:
    """(k,2) vertices -> (k|k-1, 4) segments [x1 y1 x2 y2]."""
    a = np.asarray(arr, float)
    if closed and not (a[0] == a[-1]).all():
        a = np.vstack([a, a[0]])
    return np.concatenate([a[:-1], a[1:]], axis=1)


def _segs_any_intersect(A: np.ndarray, B: np.ndarray) -> bool:
    """True when any segment of A crosses or touches any segment of B.
    Orientation straddle for proper crossings; a zero orientation with
    the endpoint inside the other segment's bbox catches touches and
    collinear overlap. All pairs at once (broadcast (n,m))."""
    if len(A) == 0 or len(B) == 0:
        return False
    ax1, ay1, ax2, ay2 = (A[:, i][:, None] for i in range(4))
    bx1, by1, bx2, by2 = (B[:, i][None, :] for i in range(4))

    def cross(ox, oy, px, py, qx, qy):
        return (px - ox) * (qy - oy) - (py - oy) * (qx - ox)

    d1 = cross(bx1, by1, bx2, by2, ax1, ay1)
    d2 = cross(bx1, by1, bx2, by2, ax2, ay2)
    d3 = cross(ax1, ay1, ax2, ay2, bx1, by1)
    d4 = cross(ax1, ay1, ax2, ay2, bx2, by2)
    proper = (((d1 > 0) & (d2 < 0)) | ((d1 < 0) & (d2 > 0))) & (
        ((d3 > 0) & (d4 < 0)) | ((d3 < 0) & (d4 > 0))
    )
    if proper.any():
        return True

    def on(px, py, sx1, sy1, sx2, sy2, d):
        return (
            (d == 0)
            & (px >= np.minimum(sx1, sx2))
            & (px <= np.maximum(sx1, sx2))
            & (py >= np.minimum(sy1, sy2))
            & (py <= np.maximum(sy1, sy2))
        )

    touch = (
        on(ax1, ay1, bx1, by1, bx2, by2, d1)
        | on(ax2, ay2, bx1, by1, bx2, by2, d2)
        | on(bx1, by1, ax1, ay1, ax2, ay2, d3)
        | on(bx2, by2, ax1, ay1, ax2, ay2, d4)
    )
    return bool(touch.any())


def _in_rings(pts: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd containment of points in a ring set (exterior+holes)."""
    ins = np.zeros(len(pts), dtype=bool)
    for ring in rings:
        ins ^= _pip_mask(pts[:, 0], pts[:, 1], ring)
    return ins


def geom_intersects_rings(parts: list, rings: list[np.ndarray]) -> bool:
    """Exact intersects test: flattened footprint parts vs one layer
    polygon's ring set (even-odd interiors)."""
    poly_segs = np.concatenate([_ring_segs(r, closed=True) for r in rings])
    poly_verts = np.concatenate([np.asarray(r, float) for r in rings])
    for kind, arr in parts:
        if kind == "pt":
            if _in_rings(arr, rings).any():
                return True
        elif kind == "line":
            if _segs_any_intersect(_ring_segs(arr, closed=False), poly_segs):
                return True
            if _in_rings(arr, rings).any():
                return True
        else:  # poly: arr is a ring list
            fp_segs = np.concatenate([_ring_segs(r, closed=True) for r in arr])
            if _segs_any_intersect(fp_segs, poly_segs):
                return True
            fp_verts = np.concatenate([np.asarray(r, float) for r in arr])
            if _in_rings(fp_verts, rings).any():
                return True
            if _in_rings(poly_verts, arr).any():
                return True
    return False


_FP_SCHEMA = T.StructType(
    [
        T.StructField("wkb", T.BinaryType()),
        T.StructField("x0", T.DoubleType()),
        T.StructField("y0", T.DoubleType()),
        T.StructField("x1", T.DoubleType()),
        T.StructField("y1", T.DoubleType()),
    ]
)

# nested parts for the JVM-expression refine: one struct per primitive
# part — its vertices (containment probes), its segments (crossing
# tests), and whether it is areal (enables the reverse-containment
# test). Built once in the project UDF; every downstream predicate is
# a JVM higher-order lambda over these arrays.
_VERT = T.StructType(
    [T.StructField("x", T.DoubleType()), T.StructField("y", T.DoubleType())]
)
_SEG = T.StructType(
    [
        T.StructField("x1", T.DoubleType()),
        T.StructField("y1", T.DoubleType()),
        T.StructField("x2", T.DoubleType()),
        T.StructField("y2", T.DoubleType()),
    ]
)
_PART = T.StructType(
    [
        T.StructField("areal", T.BooleanType()),
        T.StructField("verts", T.ArrayType(_VERT)),
        T.StructField("segs", T.ArrayType(_SEG)),
    ]
)
_FP_PARTS_SCHEMA = T.StructType(
    [
        T.StructField("parts", T.ArrayType(_PART)),
        T.StructField("x0", T.DoubleType()),
        T.StructField("y0", T.DoubleType()),
        T.StructField("x1", T.DoubleType()),
        T.StructField("y1", T.DoubleType()),
    ]
)


def _parts_rows(parts: list) -> list:
    """_flatten_parts output -> rows for the _PART array column."""
    out = []
    for kind, arr in parts:
        if kind == "pt":
            verts = np.asarray(arr, float).reshape(-1, 2)
            segs = np.empty((0, 4))
            areal = False
        elif kind == "line":
            verts = np.asarray(arr, float).reshape(-1, 2)
            segs = _ring_segs(verts, closed=False)
            areal = False
        else:  # poly: arr is a ring list
            verts = np.concatenate([np.asarray(r, float) for r in arr])
            segs = np.concatenate([_ring_segs(r, closed=True) for r in arr])
            areal = True
        out.append(
            (
                areal,
                [(float(x), float(y)) for x, y in verts],
                [tuple(map(float, s)) for s in segs],
            )
        )
    return out


@pandas_udf(_FP_PARTS_SCHEMA)
def _fp_project_parts(fp: pd.Series, lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
    """Parse + project each row's join geometry once -> (parts, bbox).
    Same parse/substitution rules as _fp_project_wkb; emits the nested
    part arrays instead of WKB."""
    n = len(fp)
    rows: list = [None] * n
    bb = np.full((n, 4), np.nan)
    lon_v = lon.to_numpy(dtype=float, na_value=np.nan)
    lat_v = lat.to_numpy(dtype=float, na_value=np.nan)
    for i in range(n):
        w = fp.iloc[i]
        substitute = w is None or w.startswith("POINT") or "EMPTY" in w
        if substitute and np.isfinite(lon_v[i]) and np.isfinite(lat_v[i]):
            g = Geom("POINT", np.array([lon_v[i], lat_v[i]]))
        elif w is None:
            continue
        else:
            try:
                g = parse_wkt(w)
            except Exception:
                continue
        p = _project_geom(g)
        box = _geom_bbox(p)
        if box is None:
            continue
        parts: list = []
        _flatten_parts(p, parts)
        rows[i] = _parts_rows(parts)
        bb[i] = box
    return pd.DataFrame(
        {"parts": rows, "x0": bb[:, 0], "y0": bb[:, 1], "x1": bb[:, 2], "y1": bb[:, 3]}
    )


def _x_cross(ox, oy, px, py, qx, qy):
    """Column twin of _segs_any_intersect's orientation cross product
    (same operation order -> bit-identical doubles)."""
    return (px - ox) * (qy - oy) - (py - oy) * (qx - ox)


def _x_seg_int(a, b):
    """Column twin of one (segA, segB) pair of _segs_any_intersect:
    proper straddle OR zero-orientation endpoint-in-bbox touch."""
    d1 = _x_cross(b["x1"], b["y1"], b["x2"], b["y2"], a["x1"], a["y1"])
    d2 = _x_cross(b["x1"], b["y1"], b["x2"], b["y2"], a["x2"], a["y2"])
    d3 = _x_cross(a["x1"], a["y1"], a["x2"], a["y2"], b["x1"], b["y1"])
    d4 = _x_cross(a["x1"], a["y1"], a["x2"], a["y2"], b["x2"], b["y2"])
    proper = (((d1 > 0) & (d2 < 0)) | ((d1 < 0) & (d2 > 0))) & (
        ((d3 > 0) & (d4 < 0)) | ((d3 < 0) & (d4 > 0))
    )

    def on(px, py, sx1, sy1, sx2, sy2, d):
        return (
            (d == F.lit(0.0))
            & (px >= F.least(sx1, sx2))
            & (px <= F.greatest(sx1, sx2))
            & (py >= F.least(sy1, sy2))
            & (py <= F.greatest(sy1, sy2))
        )

    touch = (
        on(a["x1"], a["y1"], b["x1"], b["y1"], b["x2"], b["y2"], d1)
        | on(a["x2"], a["y2"], b["x1"], b["y1"], b["x2"], b["y2"], d2)
        | on(b["x1"], b["y1"], a["x1"], a["y1"], a["x2"], a["y2"], d3)
        | on(b["x2"], b["y2"], a["x1"], a["y1"], a["x2"], a["y2"], d4)
    )
    return proper | touch


def _x_parity(v, segs):
    """Column twin of _pip_mask/_in_rings over a flat segment array:
    even-odd crossing parity of point v (same crossing formula and
    operation order as the numpy kernel)."""
    return (
        F.aggregate(
            segs,
            F.lit(0),
            lambda acc, ed: acc
            + F.when(
                ((ed["y1"] > v["y"]) != (ed["y2"] > v["y"]))
                & (
                    v["x"]
                    < (ed["x2"] - ed["x1"]) * (v["y"] - ed["y1"])
                    / (ed["y2"] - ed["y1"]) + ed["x1"]
                ),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        % 2
        == 1
    )


def _geom_bbox(g: Geom) -> tuple[float, float, float, float] | None:
    parts: list = []
    _flatten_parts(g, parts)
    if not parts:
        return None
    arrs = []
    for kind, arr in parts:
        arrs.extend(arr if kind == "poly" else [arr])
    allv = np.concatenate(arrs)
    return (
        float(allv[:, 0].min()),
        float(allv[:, 1].min()),
        float(allv[:, 0].max()),
        float(allv[:, 1].max()),
    )


@pandas_udf(_FP_SCHEMA)
def _fp_project_wkb(fp: pd.Series, lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
    """Parse + project each row's join geometry once -> (wkb, bbox).
    G4 substitution: NULL/POINT/EMPTY footprint + coords -> the point."""
    n = len(fp)
    wkbs: list = [None] * n
    bb = np.full((n, 4), np.nan)
    lon_v = lon.to_numpy(dtype=float, na_value=np.nan)
    lat_v = lat.to_numpy(dtype=float, na_value=np.nan)
    for i in range(n):
        w = fp.iloc[i]
        substitute = w is None or w.startswith("POINT") or "EMPTY" in w
        if substitute and np.isfinite(lon_v[i]) and np.isfinite(lat_v[i]):
            g = Geom("POINT", np.array([lon_v[i], lat_v[i]]))
        elif w is None:
            continue
        else:
            try:
                g = parse_wkt(w)
            except Exception:
                continue
        p = _project_geom(g)
        box = _geom_bbox(p)
        if box is None:
            continue
        wkbs[i] = to_wkb(p)
        bb[i] = box
    return pd.DataFrame(
        {"wkb": wkbs, "x0": bb[:, 0], "y0": bb[:, 1], "x1": bb[:, 2], "y1": bb[:, 3]}
    )


# Marked nondeterministic on purpose (they are in fact deterministic),
# for the same reason as pipeline.point_en: it stops Catalyst pushing
# the `isNotNull` filter on the parsed geometry below the projection,
# which plans the ArrowEvalPython parse TWICE (observed 2 UDF nodes and
# ~1 s extra per footprint join at sf0.01 on local[4]). The trade (no
# filter pushdown through the UDF stage) is free: the join filters
# only after the geometry is materialized anyway.
_fp_project_parts = _fp_project_parts.asNondeterministic()
_fp_project_wkb = _fp_project_wkb.asNondeterministic()


def footprint_join(
    spark: SparkSession,
    pages: DataFrame,
    polygons: DataFrame,
    cell_km: int = 10,
    key_col: str = "url",
    fp_col: str = "footprint",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """(key_col, poly_id) rows where the row's footprint geometry
    intersects the layer polygon. `pages` carries the raw footprint WKT
    plus lon/lat doubles (fgcspark.extract.with_extracted output).

    intersects = any footprint vertex inside the polygon (even-odd
    parity), OR any (footprint segment x polygon edge) pair
    crossing/touching, OR — for areal parts — any polygon vertex inside
    the part, as nested JVM higher-order lambdas over the footprint's
    part arrays and the polygon's broadcast edge/vertex arrays. One
    broadcast-hash join; zero Python after the single parse/project
    UDF, zero shuffle, reporting-cell dedup as plain column arithmetic.
    The lambdas evaluate the same float predicates in the same
    operation order as footprint_join_partitioned's numpy refine, so
    the two joins return identical rows (asserted by test_joins.py)."""
    idx = build_polygon_index(spark, polygons, cell_km)
    s = cell_km * 1000
    shapes = local_frame(
        spark,
        [
            (
                int(pid),
                idx.edges_flat(i),
                [(x, y) for ring in idx.rings[i] for x, y in ring.tolist()],
                *map(float, bbox),
            )
            for i, (pid, bbox) in enumerate(zip(idx.poly_ids, idx.bboxes))
        ],
        "poly_id long, "
        "poly_edges array<struct<x1:double,y1:double,x2:double,y2:double>>, "
        "poly_verts array<struct<x:double,y:double>>, "
        "bx0 double, by0 double, bx1 double, by1 double",
    )
    cover = bbox_cells(
        shapes.select("poly_id", "bx0", "by0", "bx1", "by1"), s, "bx0", "by0", "bx1", "by1"
    )

    probe = (
        bbox_cells(
            pages.select(
                key_col,
                _fp_project_parts(F.col(fp_col), F.col(lon_col), F.col(lat_col)).alias("_g"),
            )
            .select(key_col, "_g.*")
            .where(F.col("parts").isNotNull()),
            s, "x0", "y0", "x1", "y1",
        )
        .join(F.broadcast(cover), ["cell_n", "cell_e"])
        # reporting-cell dedup (same arithmetic as the partitioned refine):
        # only the cell holding the bbox-intersection's lower-left
        # corner emits a (footprint, polygon) pair
        .where(
            (F.floor(F.greatest(F.col("y0"), F.col("by0")) / s) == F.col("cell_n"))
            & (F.floor(F.greatest(F.col("x0"), F.col("bx0")) / s) == F.col("cell_e"))
        )
        # bbox overlap prefilter: bbox-disjoint geometries cannot
        # intersect, so this prunes lambda work without changing output
        .where(
            (F.col("x0") <= F.col("bx1")) & (F.col("x1") >= F.col("bx0"))
            & (F.col("y0") <= F.col("by1")) & (F.col("y1") >= F.col("by0"))
        )
        # the polygon's shapes join only the surviving candidates
        .join(F.broadcast(shapes.select("poly_id", "poly_edges", "poly_verts")), "poly_id")
    )

    hit = F.exists(
        "parts",
        lambda part: (
            F.exists(part["verts"], lambda v: _x_parity(v, F.col("poly_edges")))
            | F.exists(
                part["segs"],
                lambda sg: F.exists(F.col("poly_edges"), lambda ed: _x_seg_int(sg, ed)),
            )
            | (
                part["areal"]
                & F.exists(F.col("poly_verts"), lambda v: _x_parity(v, part["segs"]))
            )
        ),
    )
    return probe.where(hit).select(key_col, "poly_id")


def footprint_join_partitioned(
    spark: SparkSession,
    pages: DataFrame,
    polygons: DataFrame,
    cell_km: int = 10,
    key_col: str = "url",
    fp_col: str = "footprint",
    lon_col: str = "lon",
    lat_col: str = "lat",
    max_cell_rows: int = 2_000_000,
    materialize: bool = True,
) -> DataFrame:
    """Exact intersects join with a DISTRIBUTED layer side — the
    footprint counterpart of pip_join_partitioned: same output as
    footprint_join, no driver-built index, no broadcast requirement.

    Both sides shuffle once on the prefilter cell: footprints are
    parsed/projected ONCE (the same single-UDF stage as the broadcast
    path) and replicated per covered cell; the layer arrives as the
    (cell, poly_id, rings_wkb, bbox) cover table built inside
    executors (joins/pip.polygon_cover_table), so each polygon's ring
    payload crosses the wire once per covered cell, never per
    candidate pair. Inside each cogroup cell the exact
    geom_intersects_rings predicate runs on bbox-overlapping pairs;
    multi-cell duplicates are suppressed by the same reporting-cell
    rule as the broadcast path (only the cell holding the bbox
    intersection's lower-left corner emits a pair), so no distinct
    shuffle exists anywhere.

    Hot cells are sub-split exactly like pip_join_partitioned: cells
    with more than max_cell_rows replicated footprint rows salt their
    probes by key hash and replicate the cover per salt — each pair
    still meets exactly once (the footprint exists in one salt group).
    """
    from fgcspark.joins.pip import hot_cell_factors, polygon_cover_table

    s = cell_km * 1000
    cover = polygon_cover_table(polygons, cell_km)
    probe = bbox_cells(
        pages.select(
            key_col,
            _fp_project_wkb(F.col(fp_col), F.col(lon_col), F.col(lat_col)).alias("_g"),
        )
        .select(key_col, "_g.*")
        .where(F.col("wkb").isNotNull()),
        s, "x0", "y0", "x1", "y1",
    )
    # persist: the hot-cell factor aggregate and the cogroup both read
    # the parsed projection — without the cache the parse UDF runs twice
    from pyspark.storagelevel import StorageLevel

    probe = probe.persist(StorageLevel.MEMORY_AND_DISK)
    probe_cached = probe  # hold: released in the finally below

    group_cols = ["cell_n", "cell_e"]
    factors = hot_cell_factors(spark, probe.select("cell_n", "cell_e"), max_cell_rows)
    if factors is not None:
        probe = (
            probe.join(F.broadcast(factors), ["cell_n", "cell_e"], "left")
            .withColumn(
                "salt",
                F.when(F.col("m").isNull(), F.lit(0)).otherwise(
                    F.pmod(F.xxhash64(F.col(key_col)), F.col("m")).cast("int")
                ),
            )
            .drop("m")
        )
        cover = (
            cover.join(F.broadcast(factors), ["cell_n", "cell_e"], "left")
            .withColumn(
                "salt",
                F.explode(
                    F.sequence(F.lit(0), F.coalesce(F.col("m"), F.lit(1)) - 1)
                ),
            )
            .drop("m")
        )
        group_cols = ["cell_n", "cell_e", "salt"]

    out_schema = T.StructType(
        [T.StructField(key_col, T.StringType()), T.StructField("poly_id", T.LongType())]
    )

    def refine(key, fp_pdf, cov_pdf):
        empty = pd.DataFrame(
            {key_col: pd.Series(dtype="object"), "poly_id": pd.Series(dtype="int64")}
        )
        if len(fp_pdf) == 0 or len(cov_pdf) == 0:
            return empty
        cn, ce = int(key[0]), int(key[1])
        fx0 = fp_pdf["x0"].to_numpy()
        fy0 = fp_pdf["y0"].to_numpy()
        fx1 = fp_pdf["x1"].to_numpy()
        fy1 = fp_pdf["y1"].to_numpy()
        keys = fp_pdf[key_col].to_numpy()
        wkbs = fp_pdf["wkb"]
        parts_cache: dict[int, list] = {}
        out_k, out_p = [], []
        for row in cov_pdf.itertuples(index=False):
            ov = (fx0 <= row.x1) & (fx1 >= row.x0) & (fy0 <= row.y1) & (fy1 >= row.y0)
            if not ov.any():
                continue
            # reporting-cell dedup (vectorized): the cell of the bbox
            # intersection's lower-left corner must be THIS cell
            rep = (
                np.floor(np.maximum(fy0, row.y0) / s).astype("int64") == cn
            ) & (np.floor(np.maximum(fx0, row.x0) / s).astype("int64") == ce)
            sel = np.nonzero(ov & rep)[0]
            if not sel.size:
                continue
            rings = list(from_wkb(bytes(row.rings_wkb)).coords)
            for i in sel:
                parts = parts_cache.get(i)
                if parts is None:
                    parts = []
                    _flatten_parts(from_wkb(bytes(wkbs.iloc[int(i)])), parts)
                    parts_cache[int(i)] = parts
                if geom_intersects_rings(parts, rings):
                    out_k.append(keys[i])
                    out_p.append(int(row.poly_id))
        if not out_k:
            return empty
        return pd.DataFrame({key_col: out_k, "poly_id": out_p})

    res = (
        probe.groupBy(*group_cols)
        .cogroup(cover.groupBy(*group_cols))
        .applyInPandas(refine, out_schema)
    )
    if not materialize:
        # caller gets the lazy cogroup plan (plan inspection /
        # composition) and owns releasing the cached probe projection
        return res
    # materialize the (small) pair result, then release the cached probe
    # projection — mirrors joins/knn.py's hold/finally pattern so
    # repeated calls in a long session don't accumulate cached blocks
    try:
        return res.localCheckpoint(eager=True)
    finally:
        probe_cached.unpersist()
