"""Point-in-polygon spatial join.

The reference has no spatial join (its only join is the facts pivot,
R/finbif_geo_convert.R:83); this operator is the graft requirement
(BASELINE.json north_rule): join a huge page table (points in
EPSG:3067) against a small polygon layer.

Physical strategy (SURVEY.md §4 rewrite #1):
1. driver-side: parse + project the polygon layer once into ONE row
   per polygon (its flat edge array + bbox), shipped to the JVM as an
   Arrow table — no pickled rows, no Python stage in any job that
   reads it;
2. the JVM explodes each polygon row over the prefilter cells of its
   bbox (sequence/explode with the probe side's own floor arithmetic)
   and candidates = pages equi-joined (broadcast hash join, zero
   shuffle) to that (cell_key, poly_id) cover on the page's cell key;
3. exact crossing-number refine as a JVM higher-order lambda over the
   candidate's edge array — no Python workers in the join.

At 100 TB the probe side streams through the scan once: no shuffle, no
sort, no skew sensitivity (broadcast joins replicate the build side, so
hot cells cost only the refine, which is O(candidates x edges)).

pip_join_partitioned is the distributed twin: the same crossing formula
in numpy (_pip_mask) over a cogrouped, executor-built cover.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fgcspark.crs import tm35fin as tm
from fgcspark.geom.wkt import parse_wkt
from fgcspark.session import local_frame

DEFAULT_CELL_KM = 50


class PolygonIndex:
    """Driver-built polygon index: projected rings + bboxes, from which
    pip_join's per-polygon build table is shipped.

    `rings[i]` is the LIST of rings of polygon i — exterior ring(s)
    plus interior holes; MULTIPOLYGON parts contribute their rings to
    the same list. Containment is even-odd: XOR of per-ring crossing
    parity, which handles holes and disjoint parts uniformly."""

    def __init__(self, poly_ids: list[int], rings: list[list[np.ndarray]], cell_km: int):
        self.cell_km = cell_km
        self.poly_ids = np.asarray(poly_ids, dtype=np.int64)
        self.rings = rings
        self.bboxes = np.array(
            [
                [
                    min(r[:, 0].min() for r in rs),
                    min(r[:, 1].min() for r in rs),
                    max(r[:, 0].max() for r in rs),
                    max(r[:, 1].max() for r in rs),
                ]
                for rs in rings
            ]
        )

    def edges_flat(self, i: int) -> list[tuple[float, float, float, float]]:
        """All edges of polygon index i as (x0, y0, x1, y1) tuples —
        every ring contributes its consecutive vertex pairs (closed
        rings drop the duplicate closing vertex). Even-odd containment
        = parity of total crossings over this flat list, because the
        parity of a sum is the XOR of per-ring parities."""
        out = []
        for ring in self.rings[i]:
            closed = bool((ring[0] == ring[-1]).all())
            a = ring[:-1] if closed else ring
            b = ring[1:] if closed else np.roll(ring, -1, axis=0)
            out.extend(map(tuple, np.hstack([a, b]).tolist()))
        return out


def build_polygon_index(
    spark: SparkSession, polygons: DataFrame, cell_km: int = DEFAULT_CELL_KM
) -> PolygonIndex:
    """Collect the (small) polygon layer, project to EPSG:3067, index.
    The layer is broadcast once per job (reference analogue: the
    polygon filters live server-side in laji.fi, SURVEY §2.3 J1 note)."""
    rows = polygons.select("poly_id", "wkt").collect()
    ids, rings = [], []
    for r in rows:
        g = parse_wkt(r["wkt"])
        if g.gtype == "MULTIPOLYGON":
            raw = [ring for part in g.coords for ring in part]
        else:  # POLYGON: coords is the ring list (exterior + holes)
            raw = list(g.coords)
        projected = []
        for ring in raw:
            e, n = tm.geodetic_to_tm35(ring[:, 0], ring[:, 1])
            projected.append(np.stack([e, n], axis=1))
        ids.append(int(r["poly_id"]))
        rings.append(projected)
    return PolygonIndex(ids, rings, cell_km)


def _pip_mask(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized crossing-number test: points (m,) against one ring.

    Independent of the generator's oracle loop shape (oracle iterates
    edges python-side per polygon over all points; this batches edges
    as numpy arrays over candidate points only)."""
    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = ring[1:, 0], ring[1:, 1]
    if not (ring[0] == ring[-1]).all():
        x0 = ring[:, 0]
        y0 = ring[:, 1]
        x1 = np.roll(x0, -1)
        y1 = np.roll(y0, -1)
    # edges (k,), points (m,): broadcast (m,k)
    cond = (y0[None, :] > py[:, None]) != (y1[None, :] > py[:, None])
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = (x1 - x0)[None, :] * (py[:, None] - y0[None, :]) / (y1 - y0)[None, :] + x0[None, :]
    crossing = cond & (px[:, None] < xint)
    return crossing.sum(axis=1) % 2 == 1


_INDEX_CACHE: dict = {}


def _plan_fingerprint(df: DataFrame) -> str:
    """Cheap no-job fingerprint of a DataFrame's logical plan — catches
    a cache_key being reused after the polygon input changed (different
    path / filter / schema). In-place mutation of the same files is
    not detectable this way; cache_key remains the caller's contract
    for that case."""
    try:
        return df._jdf.queryExecution().logical().toString()
    except Exception:  # pragma: no cover - connect-mode fallback
        return str(df.schema)


def cached_index(
    spark: SparkSession, polygons: DataFrame, cell_km: int, cache_key: str
):
    """Build the polygon index once per (key, cell_km) and reuse it
    across jobs — the build side of this join is immutable
    for the lifetime of a scan, so one driver-side build amortizes over
    the entire (100 TB) probe table.

    Keyed by SparkContext applicationId + the polygon plan fingerprint
    so a cached index never outlives its owning context and never
    serves a different polygon layer; entries from stopped contexts
    are evicted on the next miss."""
    sc = spark.sparkContext
    app_id = sc.applicationId
    k = (app_id, cache_key, cell_km, _plan_fingerprint(polygons))
    if k not in _INDEX_CACHE:
        for old in [key for key in _INDEX_CACHE if key[0] != app_id]:
            del _INDEX_CACHE[old]
        _INDEX_CACHE[k] = build_polygon_index(spark, polygons, cell_km)
    return _INDEX_CACHE[k]


def bbox_cells(df: DataFrame, s: float, x0: str, y0: str, x1: str, y1: str) -> DataFrame:
    """One row per (row, prefilter cell of size s covering its bbox):
    cell_n/cell_e exploded in the JVM with the same floor arithmetic
    as _point_cells, so a cover and a probe agree on every cell."""
    return df.withColumn(
        "cell_n", F.explode(F.sequence(F.floor(F.col(y0) / s), F.floor(F.col(y1) / s)))
    ).withColumn(
        "cell_e", F.explode(F.sequence(F.floor(F.col(x0) / s), F.floor(F.col(x1) / s)))
    )


def _expr_cover(spark: SparkSession, idx) -> DataFrame:
    """The broadcast build side of pip_join: one Arrow row per polygon
    (edge array + bbox), exploded in the JVM to one row per (covering
    cell, polygon)."""
    polys = local_frame(
        spark,
        [
            (int(pid), idx.edges_flat(i), *map(float, bbox))
            for i, (pid, bbox) in enumerate(zip(idx.poly_ids, idx.bboxes))
        ],
        "poly_id long, "
        "edges array<struct<x0:double,y0:double,x1:double,y1:double>>, "
        "bx0 double, by0 double, bx1 double, by1 double",
    )
    return bbox_cells(polys, idx.cell_km * 1000, "bx0", "by0", "bx1", "by1").select(
        "cell_n", "cell_e", "poly_id", "edges", "bx0", "by0", "bx1", "by1"
    )


def _edge_crossings():
    """Ray-crossing count of the current row's (e, n) point against the
    row's `edges` array, as a JVM higher-order aggregate lambda — same
    IEEE-double operation order as the numpy _pip_mask (bit-identical)."""
    return F.aggregate(
        "edges",
        F.lit(0),
        lambda acc, ed: acc
        + F.when(
            ((ed["y0"] > F.col("n")) != (ed["y1"] > F.col("n")))
            & (
                F.col("e")
                < (ed["x1"] - ed["x0"]) * (F.col("n") - ed["y0"])
                / (ed["y1"] - ed["y0"]) + ed["x0"]
            ),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )


def _point_cells(points: DataFrame, key_col: str, cell_km: int) -> DataFrame:
    """(key_col, e, n, cell_n, cell_e): each point's prefilter cell."""
    s = cell_km * 1000
    return points.select(
        key_col,
        "e",
        "n",
        F.floor(F.col("n") / s).cast("long").alias("cell_n"),
        F.floor(F.col("e") / s).cast("long").alias("cell_e"),
    )


def pip_join(
    spark: SparkSession,
    points: DataFrame,
    polygons: DataFrame,
    cell_km: int = DEFAULT_CELL_KM,
    key_col: str = "url",
    cache_key: str | None = None,
) -> DataFrame:
    """Exact PIP join: returns (key_col, poly_id) rows.

    `points` must carry EPSG:3067 `e`/`n` columns
    (pipeline.pages_to_points). Pass cache_key to reuse the driver-built
    index across jobs.

    The refine is the crossing parity as a JVM higher-order `aggregate`
    lambda over the polygon's broadcast edge array: NO Python workers
    anywhere in the join, no Arrow IPC, no extra process scheduling —
    one broadcast-hash join plus interpreted-expression filters, at
    O(edges) per candidate row. The crossing formula
    `(x1-x0)*(py-y0)/(y1-y0)+x0` is evaluated in the same operation
    order as pip_join_partitioned's numpy kernel, so the two joins
    return identical rows (asserted by test_joins.py)."""
    if cache_key is not None:
        idx = cached_index(spark, polygons, cell_km, cache_key)
    else:
        idx = build_polygon_index(spark, polygons, cell_km)
    cand = (
        _point_cells(points, key_col, cell_km)
        .join(F.broadcast(_expr_cover(spark, idx)), ["cell_n", "cell_e"])
        .where(
            (F.col("e") >= F.col("bx0")) & (F.col("e") <= F.col("bx1"))
            & (F.col("n") >= F.col("by0")) & (F.col("n") <= F.col("by1"))
        )
    )
    return cand.where(_edge_crossings() % 2 == 1).select(key_col, "poly_id")


def pip_anti_join(
    spark: SparkSession,
    points: DataFrame,
    polygons: DataFrame,
    cell_km: int = DEFAULT_CELL_KM,
    key_col: str = "url",
) -> DataFrame:
    """Points contained in NO polygon of the layer — the complement of
    pip_join over the same input (out-of-layer / ocean filtering, the
    geotag-QA step that drops pages whose parsed coordinate lands
    outside every admin boundary).

    Shape: the same broadcast (cell -> edge array) cover as pip_join,
    but joined LEFT OUTER so zero-candidate points
    survive with a null build side, then ONE hash aggregate per point
    key (max of the per-candidate inside flag, map-side combined).
    The point table is shuffled exactly once (the groupBy on its own
    key); there is no anti join of two point-proportional tables and
    no second scan of the points. All refine arithmetic is the same
    JVM higher-order lambda as pip_join — no Python workers."""
    idx = build_polygon_index(spark, polygons, cell_km)
    pts = _point_cells(points, key_col, cell_km)
    cand = pts.join(F.broadcast(_expr_cover(spark, idx)), ["cell_n", "cell_e"], "left")
    inside = F.when(
        F.col("poly_id").isNotNull()
        & (F.col("e") >= F.col("bx0")) & (F.col("e") <= F.col("bx1"))
        & (F.col("n") >= F.col("by0")) & (F.col("n") <= F.col("by1")),
        (_edge_crossings() % 2 == 1).cast("int"),
    ).otherwise(F.lit(0))
    return (
        cand.groupBy(key_col)
        .agg(F.max(inside).alias("_hit"))
        .where(F.col("_hit") == 0)
        .select(key_col)
    )


# ---------------------------------------------------------------------------
# Broadcast-free partitioned PIP: the build side as a distributed table
# ---------------------------------------------------------------------------


def polygon_cover_table(
    polygons: DataFrame, cell_km: int = DEFAULT_CELL_KM
) -> DataFrame:
    """Distributed twin of PolygonIndex: parse + project each polygon
    INSIDE executors, serialize its projected rings as WKB, and explode
    its bbox cell cover -> (cell_n, cell_e, poly_id, rings_wkb, bbox).

    Use when the polygon layer itself is too large to build on the
    driver (pip_join's index path) — e.g. joining pages against every
    admin boundary on earth. One row per (cell, polygon); downstream
    the PIP join is a plain cell equi-join either side can shuffle on."""
    s = cell_km * 1000
    out_schema = T.StructType(
        [
            T.StructField("cell_n", T.LongType()),
            T.StructField("cell_e", T.LongType()),
            T.StructField("poly_id", T.LongType()),
            T.StructField("rings_wkb", T.BinaryType()),
            T.StructField("x0", T.DoubleType()),
            T.StructField("y0", T.DoubleType()),
            T.StructField("x1", T.DoubleType()),
            T.StructField("y1", T.DoubleType()),
        ]
    )

    def build(batches):
        from fgcspark.geom.wkb import to_wkb
        from fgcspark.geom.wkt import Geom

        for pdf in batches:
            rows = {k: [] for k in
                    ("cell_n", "cell_e", "poly_id", "rings_wkb", "x0", "y0", "x1", "y1")}
            for pid, wkt in zip(pdf["poly_id"], pdf["wkt"]):
                g = parse_wkt(wkt)
                if g.gtype == "MULTIPOLYGON":
                    raw = [ring for part in g.coords for ring in part]
                else:
                    raw = list(g.coords)
                proj = []
                for ring in raw:
                    e, n = tm.geodetic_to_tm35(ring[:, 0], ring[:, 1])
                    proj.append(np.stack([e, n], axis=1))
                allv = np.vstack(proj)
                x0, y0 = float(allv[:, 0].min()), float(allv[:, 1].min())
                x1, y1 = float(allv[:, 0].max()), float(allv[:, 1].max())
                # rings as a metric-frame MULTILINESTRING WKB payload
                wkb = to_wkb(Geom("MULTILINESTRING", proj))
                for nb in range(int(np.floor(y0 / s)), int(np.floor(y1 / s)) + 1):
                    for eb in range(int(np.floor(x0 / s)), int(np.floor(x1 / s)) + 1):
                        rows["cell_n"].append(nb)
                        rows["cell_e"].append(eb)
                        rows["poly_id"].append(int(pid))
                        rows["rings_wkb"].append(wkb)
                        rows["x0"].append(x0)
                        rows["y0"].append(y0)
                        rows["x1"].append(x1)
                        rows["y1"].append(y1)
            yield pd.DataFrame(rows)

    return polygons.select("poly_id", "wkt").mapInPandas(build, out_schema)


def hot_cell_factors(
    spark: SparkSession,
    pts: DataFrame,
    max_cell_points: int,
) -> DataFrame | None:
    """Sub-split factors for cells holding more than max_cell_points
    points: (cell_n, cell_e, m) with m = ceil(n_pts / max_cell_points).

    The collect is BOUNDED: only cells ABOVE the threshold come back,
    and there are at most total_points / max_cell_points of them —
    the same aggregate-only control-plane contract as knn_join's
    certification collect (never point rows)."""
    import math

    hot = (
        pts.groupBy("cell_n", "cell_e")
        .agg(F.count(F.lit(1)).alias("n_pts"))
        .where(F.col("n_pts") > max_cell_points)
        .collect()
    )
    if not hot:
        return None
    rows = [
        (int(r["cell_n"]), int(r["cell_e"]), int(math.ceil(r["n_pts"] / max_cell_points)))
        for r in hot
    ]
    return local_frame(spark, rows, "cell_n long, cell_e long, m int")


def pip_join_partitioned(
    spark: SparkSession,
    points: DataFrame,
    polygons: DataFrame,
    cell_km: int = DEFAULT_CELL_KM,
    key_col: str = "url",
    max_cell_points: int = 2_000_000,
) -> DataFrame:
    """Exact PIP join with a DISTRIBUTED build side: same output as
    pip_join, no driver-side index, no broadcast requirement.

    Shape: points and the cover table are COGROUPED by cell — both
    sides shuffle once on (cell_n, cell_e) and each polygon's WKB
    rings cross the wire once per covered cell, never once per
    candidate point row (a plain equi-join would multiply the ring
    payload by the points-per-cell factor). Inside each cell group
    one numpy pass bbox-prefilters and even-odd-refines every
    (point, polygon) pair.

    Hot cells (skew unit = one cell group = one task) are SUB-SPLIT:
    any cell holding more than max_cell_points points is salted into
    m = ceil(n/max_cell_points) subgroups by point-key hash, and that
    cell's cover rows are replicated once per salt — each (point,
    polygon) pair still meets exactly once, so the output is
    unchanged; per-task input is bounded by ~max_cell_points no
    matter how skewed the point layer is. The factor table is an
    aggregate-only driver collect (cells above threshold only),
    broadcast back — point rows never leave the executors."""
    cover = polygon_cover_table(polygons, cell_km)
    pts = _point_cells(points, key_col, cell_km)

    group_cols = ["cell_n", "cell_e"]
    factors = hot_cell_factors(spark, pts, max_cell_points)
    if factors is not None:
        pts = (
            pts.join(F.broadcast(factors), ["cell_n", "cell_e"], "left")
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

    def refine(key, pts_pdf, cov_pdf):
        from fgcspark.geom.wkb import from_wkb

        empty = pd.DataFrame({key_col: pd.Series(dtype="object"),
                              "poly_id": pd.Series(dtype="int64")})
        if len(pts_pdf) == 0 or len(cov_pdf) == 0:
            return empty
        ex = pts_pdf["e"].to_numpy()
        ny = pts_pdf["n"].to_numpy()
        keys = pts_pdf[key_col].to_numpy()
        out_k, out_p = [], []
        for row in cov_pdf.itertuples(index=False):
            inbb = (ex >= row.x0) & (ex <= row.x1) & (ny >= row.y0) & (ny <= row.y1)
            if not inbb.any():
                continue
            sel = np.nonzero(inbb)[0]
            rings = from_wkb(bytes(row.rings_wkb)).coords
            ins = np.zeros(sel.size, dtype=bool)
            for ring in rings:
                ins ^= _pip_mask(ex[sel], ny[sel], ring)
            hit = sel[ins]
            out_k.extend(keys[hit].tolist())
            out_p.extend([int(row.poly_id)] * len(hit))
        if not out_k:
            return empty
        return pd.DataFrame({key_col: out_k, "poly_id": out_p})

    return (
        pts.groupBy(*group_cols)
        .cogroup(cover.groupBy(*group_cols))
        .applyInPandas(refine, out_schema)
    )
