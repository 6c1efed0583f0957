"""BBox range join (spatial window query).

Every (rect, page) pair whose page point falls inside the axis-aligned
query rectangle in the EPSG:3067 plane — the "give me everything in
this map viewport" query. Same physical shape as the other broadcast
spatial joins: each rectangle's grid-cell cover (exploded in the JVM
from one Arrow row per rectangle) is broadcast, pages equi-join on
their own cell id (zero page-side shuffle), then the exact
closed-interval containment test runs inside whole-stage codegen. A
page lives in exactly one cell, so no dedup pass is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fgcspark.joins.pip import _point_cells, bbox_cells
from fgcspark.session import local_frame

_MAX_RECTS = 100_000  # rects are driver-resident (cf. joins/knn.py)


def bbox_range_join(
    spark: SparkSession,
    points: DataFrame,
    rects: list[tuple[int, float, float, float, float]],
    cell_km: int = 50,
    key_col: str = "url",
) -> DataFrame:
    """(rect_id, url) pairs with x0 <= e <= x1 and y0 <= n <= y1.

    `rects` is a small driver-side list of (rect_id, x0, y0, x1, y1)
    in metric EPSG:3067 coordinates; `points` needs `e`/`n` columns."""
    assert len(rects) <= _MAX_RECTS
    cdf = bbox_cells(
        local_frame(
            spark,
            [(int(rid), float(x0), float(y0), float(x1), float(y1))
             for rid, x0, y0, x1, y1 in rects],
            "rect_id long, x0 double, y0 double, x1 double, y1 double",
        ),
        cell_km * 1000, "x0", "y0", "x1", "y1",
    )
    pts = _point_cells(points, key_col, cell_km)
    return (
        pts.join(F.broadcast(cdf), ["cell_n", "cell_e"])
        .where(
            (F.col("e") >= F.col("x0")) & (F.col("e") <= F.col("x1"))
            & (F.col("n") >= F.col("y0")) & (F.col("n") <= F.col("y1"))
        )
        .select("rect_id", key_col)
    )
