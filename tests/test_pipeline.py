"""End-to-end pipeline goldens over the sf0.001 pages dataset
(value-level, per FIXTURES.md §6 — stronger than the reference's
class-only asserts). Truths come from the generator's forward
computation, independent of the engine's extraction/kernels."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from fgcspark.pipeline import (
    geo_pipeline,
    load_pages,
    pages_to_points,
    tile_counts,
    write_layered,
)


@pytest.fixture(scope="module")
def truth(pages_dir):
    return pd.read_parquet(f"{pages_dir}/truth.parquet").set_index("url").sort_index()


def _collect(df, *cols):
    pdf = df.select("url", *cols).toPandas().set_index("url").sort_index()
    return pdf


def test_extracted_text_byte_identical(spark, pages_dir, truth):
    # the per-row invariant from BASELINE.json input_hint
    from fgcspark.extract import with_extracted

    got = _collect(with_extracted(load_pages(spark, pages_dir)), "extracted_text")
    assert (got["extracted_text"] == truth["text"]).all()


def test_points_wgs84_wkt(spark, pages_dir, truth):
    got = _collect(geo_pipeline(spark, pages_dir, geo="point", crs="wgs84"), "geo_wkt")
    assert (got["geo_wkt"] == truth["point_wkt"]).all()


def test_points_euref_roundtrip(spark, pages_dir, truth):
    # euref points: engine's E/N must match the truth's to < 1 mm
    got = _collect(pages_to_points(spark, pages_dir), "e", "n")
    assert (got["e"] - truth["e"]).abs().max() < 1e-3
    assert (got["n"] - truth["n"]).abs().max() < 1e-3


def test_points_euref_wkt(spark, pages_dir, truth):
    # euref point mode: POINT (E N) from the same fused kernel as
    # pages_to_points, within 1 mm of the truth; no-coordinate rows stay
    # POINT EMPTY exactly as in wgs84 mode
    got = _collect(geo_pipeline(spark, pages_dir, geo="point", crs="euref"), "geo_wkt")
    wgs = _collect(geo_pipeline(spark, pages_dir, geo="point", crs="wgs84"), "geo_wkt")
    empty = got["geo_wkt"] == "POINT EMPTY"
    assert (empty == (wgs["geo_wkt"] == "POINT EMPTY")).all()
    en = got.loc[~empty, "geo_wkt"].str.extract(r"^POINT \((\S+) (\S+)\)$").astype(float)
    assert (en[0] - truth.loc[en.index, "e"]).abs().max() < 1e-3
    assert (en[1] - truth.loc[en.index, "n"]).abs().max() < 1e-3


def test_tiles_all_sizes(spark, pages_dir, truth):
    got = _collect(
        pages_to_points(spark, pages_dir),
        "cell_1km",
        "cell_10km",
        "cell_50km",
        "cell_100km",
    )
    for c in ("cell_1km", "cell_10km", "cell_50km", "cell_100km"):
        assert (got[c] == truth[c]).all(), c


def test_footprint_types(spark, pages_dir, truth):
    got = _collect(
        geo_pipeline(spark, pages_dir, geo="footprint", crs="wgs84"), "geom_type"
    )
    assert (got["geom_type"] == truth["fp_type"]).all()


def test_bbox_wkt(spark, pages_dir, truth):
    got = _collect(geo_pipeline(spark, pages_dir, geo="bbox", crs="wgs84"), "geo_wkt")
    assert (got["geo_wkt"] == truth["bbox_wkt"]).all()


def test_tile_counts_match_truth(spark, pages_dir, truth):
    got = (
        tile_counts(spark, pages_dir, size_km=10)
        .toPandas()
        .set_index("cell")["n_docs"]
        .sort_index()
    )
    want = truth.groupby("cell_10km").size().sort_index()
    assert (got == want).all() and len(got) == len(want)


def test_spatial_inputs_dropped(spark, pages_dir):
    # reference drops consumed lat/lon/footprint (R/finbif_geo_convert.R:210,232,291)
    df = geo_pipeline(spark, pages_dir, geo="point", crs="wgs84")
    for col in ("lat", "lon", "footprint"):
        assert col not in df.columns


def test_write_layered(spark, pages_dir, tmp_path):
    # S4 sink: one partition dir per geometry type
    out = str(tmp_path / "layers")
    df = geo_pipeline(spark, pages_dir, geo="footprint", crs="wgs84")
    write_layered(df.select("url", "geo_wkt", "geom_type"), out)
    back = spark.read.parquet(out)
    types = {r["geom_type"] for r in back.select("geom_type").distinct().collect()}
    assert "MULTIPOINT" in types and "MULTIPOLYGON" in types
    assert back.count() == df.count()


def test_pipeline_plan_has_pushdown(spark, pages_dir):
    # the scan must prune to the columns the plan needs (html/url here):
    # a projection-only query shouldn't read text/lang at all
    df = pages_to_points(spark, pages_dir).select("url", "cell_10km")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema" not in plan or "text" not in plan.split("ReadSchema")[-1]


def test_raster_assemble_dense_roundtrip(spark, pages_dir):
    """tiles.raster_assemble: dense 100-slot arrays whose non-zero
    slots equal the sparse counts; raster_to_vector inverts exactly."""
    from pyspark.sql import functions as F

    from fgcspark.pipeline import pages_to_points
    from fgcspark.tiles import raster_assemble, raster_to_vector

    pts = pages_to_points(spark, pages_dir).select("cell_100km", "e", "n")
    dense = raster_assemble(pts)
    rows = dense.collect()
    assert all(len(r["raster"]) == 100 for r in rows)
    assert sum(sum(r["raster"]) for r in rows) == pts.count()
    back = raster_to_vector(dense)
    sparse = (
        pts.groupBy(F.col("cell_100km").alias("cell"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    per_cell = back.groupBy("cell").agg(F.sum("n_docs").alias("n"))
    assert per_cell.exceptAll(sparse).count() == 0
    assert sparse.exceptAll(per_cell).count() == 0


def test_point_en_mixed_null_matches_with_point(spark):
    """A row with exactly one coordinate present: the fused _point_en
    kernel must coalesce PER AXIS like with_point — never overwrite the
    present coordinate with the centroid (ADVICE r1)."""
    from pyspark.sql import functions as F

    from fgcspark.pipeline import point_en, with_point

    fp = "POLYGON ((24.0 60.0, 25.0 60.0, 25.0 61.0, 24.0 61.0, 24.0 60.0))"
    df = spark.createDataFrame(
        [
            (24.2, None, fp),      # lat missing
            (None, 60.4, fp),      # lon missing
            (None, None, fp),      # both missing -> centroid
            (24.2, 60.4, fp),      # both present -> untouched
        ],
        "lon double, lat double, footprint string",
    )
    fused = df.withColumn("_p", point_en("lon", "lat", "footprint")).select(
        F.col("_p.plon").alias("plon"), F.col("_p.plat").alias("plat")
    )
    twostep = with_point(df).select("plon", "plat")
    assert [tuple(r) for r in fused.collect()] == [tuple(r) for r in twostep.collect()]
    rows = fused.collect()
    assert rows[0]["plon"] == 24.2 and abs(rows[0]["plat"] - 60.5) < 0.01
    assert rows[1]["plat"] == 60.4 and abs(rows[1]["plon"] - 24.5) < 0.01
