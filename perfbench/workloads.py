"""The benchmark's workloads: set-up, timed operations, output checks and
the layer ladder of each.

Every operation goes through the engine's public functions and hands its
full output to the client (``toPandas``) or to a sink on disk, so the
timed work is the work a user of the engine waits for.

The ladder forces prefixes of each operation's plan (noop writes), rung
by rung. A chain lists the rungs of one operation, ending with the
operation itself; a layer's self time is its rung's wall time minus the
wall time of the rung before it in the chain. Self times of a layer that
appears in several chains add up, so the self times of a workload sum to
the summed wall time of its operations.
"""

from __future__ import annotations

import itertools
import shutil
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

from oracles import Expected, compare, rows
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def force(df: DataFrame) -> None:
    """Run a plan to completion without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def du(path: Path) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())


@dataclass
class Op:
    name: str  # the layer the operation ends in, e.g. "joins.pip"
    run: Callable[[], object]
    check: Callable[[object], str | None]  # mismatch message, or None
    out_bytes: Callable[[object], int]  # bytes of output delivered
    matches: Callable[[object], int] = len  # result rows
    cleanup: Callable[[object], None] = lambda out: None


def _frame_bytes(df) -> int:
    return int(df.memory_usage(index=False, deep=True).sum())


class Workload:
    name = ""

    def __init__(self, data_dir: Path, work_dir: Path, expected: Expected):
        self.d = str(data_dir)
        self.work = Path(work_dir)
        self.expected = expected
        self.spark = None

    def setup(self, spark, rep: int) -> None:
        """One set-up repetition: session state, indexes, derived tables."""
        self.spark = spark

    def ops(self) -> list[Op]:
        raise NotImplementedError

    def rungs(self) -> dict[str, Callable[[], None]]:
        raise NotImplementedError

    def chains(self) -> list[tuple[str, ...]]:
        raise NotImplementedError


def _pairs_op(name, frame, want, cols) -> Op:
    return Op(
        name,
        frame,
        lambda out: compare(rows(out, cols), want(), name),
        _frame_bytes,
    )


def _oracle_op(name, frame, oracle) -> Op:
    def check(out):
        cols, want = oracle()
        return compare(rows(out, cols), want, name)

    return Op(name, frame, check, _frame_bytes)


class SpatialCore(Workload):
    """pages -> points -> broadcast PIP join + 10 km tile counts."""

    name = "spatial_core"

    def setup(self, spark, rep):
        from fgcspark.joins.pip import DEFAULT_CELL_KM, cached_index

        super().setup(spark, rep)
        self.polys = spark.read.parquet(f"{self.d}/polygons.parquet")
        self.cache_key = f"{self.d}#{rep}"
        cached_index(spark, self.polys, DEFAULT_CELL_KM, self.cache_key)

    def _points(self):
        from fgcspark.pipeline import pages_to_points

        return pages_to_points(self.spark, self.d)

    def _pip(self):
        from fgcspark.joins.pip import pip_join

        pts = self._points().select("url", "e", "n")
        return pip_join(self.spark, pts, self.polys, cache_key=self.cache_key).toPandas()

    def _counts(self):
        from fgcspark.pipeline import tile_counts

        return tile_counts(self.spark, self.d, size_km=10).toPandas()

    def ops(self):
        ex = self.expected
        return [
            _pairs_op("joins.pip", self._pip, lambda: ex.pip, ("url", "poly_id")),
            _pairs_op("tiles.counts", self._counts, lambda: ex.tile_counts, ("cell", "n_docs")),
        ]

    def rungs(self):
        from fgcspark.extract import with_extracted
        from fgcspark.pipeline import load_pages

        s, d = self.spark, self.d
        return {
            "scan.pages": lambda: force(load_pages(s, d).select("url", "html")),
            "extract.with_extracted": lambda: force(
                with_extracted(load_pages(s, d)).select("url", "lon", "lat", "footprint")
            ),
            "pipeline.points": lambda: force(self._points().select("url", "e", "n")),
            "cells.tiles": lambda: force(self._points().select("cell_10km")),
        }

    def chains(self):
        prefix = ("scan.pages", "extract.with_extracted", "pipeline.points")
        return [prefix + ("joins.pip",), prefix + ("cells.tiles", "tiles.counts")]


class GisLayers(Workload):
    """The reference conversion into two sinks and the footprint join, then
    analytic queries over a points table that set-up writes."""

    name = "gis_layers"
    N_CHUNKS = 8

    def setup(self, spark, rep):
        from fgcspark.joins.pip import DEFAULT_CELL_KM, cached_index
        from fgcspark.pipeline import pages_to_points

        super().setup(spark, rep)
        self._seq = itertools.count()
        self.polys = spark.read.parquet(f"{self.d}/polygons.parquet")
        self.probes = spark.read.parquet(f"{self.d}/probes.parquet")
        self.points_path = self.work / "points.parquet"
        pages_to_points(spark, self.d).select("url", "e", "n", "cell_10km").write.mode(
            "overwrite"
        ).parquet(str(self.points_path))
        self.cache_key = f"{self.points_path}#{rep}"
        cached_index(spark, self.polys, DEFAULT_CELL_KM, self.cache_key)

    # --- conversion sinks and footprint join (over pages) ---------------

    def _out_dir(self, kind: str) -> Path:
        return self.work / f"{kind}-{next(self._seq)}"

    def _convert(self):
        from fgcspark.checkpoint import ChunkedRunner
        from fgcspark.pipeline import geo_pipeline

        out = self._out_dir("layers")
        ChunkedRunner(self.spark, str(out), n_chunks=self.N_CHUNKS).run(
            lambda s: geo_pipeline(s, self.d, geo="footprint", crs="euref")
        )
        return out

    def _check_convert(self, out: Path):
        import pandas as pd
        import pyarrow.parquet as pq

        parts = sorted((out / "data").glob("_chunk=*/*.parquet"))
        got = pd.concat(
            [pq.read_table(f, columns=["url", "geom_type"]).to_pandas() for f in parts]
        )
        return compare(rows(got, ("url", "geom_type")), self.expected.fp_types, "checkpoint.write")

    def _bbox(self):
        from fgcspark.geoparquet import write_geoparquet
        from fgcspark.pipeline import geo_pipeline

        out = self._out_dir("bbox")
        write_geoparquet(geo_pipeline(self.spark, self.d, geo="bbox", crs="wgs84"), str(out))
        return out

    def _check_bbox(self, out: Path):
        import pyarrow.parquet as pq

        got = {}
        for f in sorted(out.glob("part-*.parquet")):
            t = pq.read_table(f, columns=["url", "geometry"])
            got.update(zip(t["url"].to_pylist(), t["geometry"].to_pylist()))
        want = self.expected.bbox_wkb
        if got == want:
            return None
        bad = sum(got.get(u) != w for u, w in want.items()) + len(got.keys() - want.keys())
        return f"geoparquet.write: {bad} of {len(want)} geometries differ"

    def _fpjoin(self):
        from fgcspark.extract import with_extracted
        from fgcspark.joins.fpjoin import footprint_join
        from fgcspark.pipeline import load_pages

        pages = with_extracted(load_pages(self.spark, self.d))
        return footprint_join(self.spark, pages, self.polys).toPandas()

    # --- neighbourhood queries (over the points table) ------------------

    def _pts(self):
        return self.spark.read.parquet(str(self.points_path))

    def _tile_counts(self):
        return self._pts().groupBy(F.col("cell_10km").alias("cell")).agg(
            F.count(F.lit(1)).alias("n_docs")
        )

    def _pip(self):
        from fgcspark.joins.pip import pip_join

        pts = self._pts().select("url", "e", "n")
        return pip_join(self.spark, pts, self.polys, cache_key=self.cache_key).toPandas()

    def _knn(self):
        from fgcspark.joins.knn import knn_join

        pts = self._pts().select("url", "e", "n")
        return knn_join(self.spark, pts, self.probes, k=5).select("probe_id", "url").toPandas()

    def _knn_partitioned(self):
        from fgcspark.joins.knn import knn_join_partitioned

        pts = self._pts().select("url", "e", "n")
        out = knn_join_partitioned(self.spark, pts, self.probes, k=5)
        return out.select("probe_id", "url").toPandas()

    def _dwithin(self):
        from fgcspark.joins.dwithin import dwithin_join
        from fgcspark.synth.pages import DW_RADIUS_M

        pts = self._pts().select("url", "e", "n")
        return dwithin_join(self.spark, pts, self.probes, radius_m=DW_RADIUS_M).toPandas()

    def _getis_ord(self):
        from fgcspark.hotspots import getis_ord

        return getis_ord(self._pts(), size_km=10).toPandas()

    def _hex_ring(self):
        from fgcspark.cells.hexgrid import hex_id, hex_ring_counts

        counts = (
            self._pts()
            .groupBy(hex_id(F.col("e"), F.col("n")).alias("hex_id"))
            .agg(F.count(F.lit(1)).alias("n_docs"))
        )
        hot = counts.orderBy(F.desc("n_docs"), F.asc("hex_id")).limit(20)
        return hex_ring_counts(hot, counts, k=2).toPandas()

    def _grid_ring(self):
        from fgcspark.cells.grid import ring_counts

        counts = self._tile_counts()
        hot = counts.orderBy(F.desc("n_docs"), F.asc("cell")).limit(20)
        return ring_counts(hot, counts, k=2).toPandas()

    def _focal_density(self):
        from fgcspark.tiles import focal_density

        return focal_density(self._tile_counts()).toPandas()

    def _salted_counts(self):
        # two-stage count: (cell, salt) partials spread the hot cell
        salted = self._pts().withColumn("_salt", F.pmod(F.xxhash64("url"), F.lit(16)))
        partial = salted.groupBy(F.col("cell_10km").alias("cell"), "_salt").agg(
            F.count(F.lit(1)).alias("c")
        )
        return partial.groupBy("cell").agg(F.sum("c").cast("long").alias("n_docs")).toPandas()

    def ops(self):
        ex = self.expected
        pair = ("probe_id", "url")

        def sink_op(name, run, check):
            return Op(name, run, check, du, matches=lambda out: 0, cleanup=shutil.rmtree)

        return [
            sink_op("checkpoint.write", self._convert, self._check_convert),
            sink_op("geoparquet.write", self._bbox, self._check_bbox),
            _pairs_op("joins.fpjoin", self._fpjoin, lambda: ex.fpjoin, ("url", "poly_id")),
            _pairs_op("joins.pip", self._pip, lambda: ex.pip, ("url", "poly_id")),
            _pairs_op("joins.knn", self._knn, lambda: ex.knn, pair),
            _pairs_op("joins.knn_partitioned", self._knn_partitioned, lambda: ex.knn, pair),
            _pairs_op("joins.dwithin", self._dwithin, lambda: ex.dwithin, pair),
            _oracle_op("hotspots.getis_ord", self._getis_ord, lambda: ex.getis_ord),
            _oracle_op("cells.hex_ring", self._hex_ring, lambda: ex.hex_ring),
            _oracle_op("cells.grid_ring", self._grid_ring, lambda: ex.grid_ring),
            _oracle_op("tiles.focal_density", self._focal_density, lambda: ex.focal_density),
            _pairs_op(
                "tiles.salted_counts", self._salted_counts, lambda: ex.tile_counts, ("cell", "n_docs")
            ),
        ]

    def rungs(self):
        from fgcspark.extract import with_extracted
        from fgcspark.pipeline import geo_pipeline, load_pages

        s, d = self.spark, self.d
        return {
            "scan.pages": lambda: force(load_pages(s, d)),
            "extract.with_extracted": lambda: force(with_extracted(load_pages(s, d))),
            "pipeline.footprint": lambda: force(geo_pipeline(s, d, geo="footprint", crs="euref")),
            "pipeline.bbox": lambda: force(geo_pipeline(s, d, geo="bbox", crs="wgs84")),
            "scan.points": lambda: force(self._pts()),
            "tiles.counts": lambda: force(self._tile_counts()),
        }

    def chains(self):
        pages = ("scan.pages", "extract.with_extracted")
        scan = ("scan.points",)
        counts = scan + ("tiles.counts",)
        return [
            pages + ("pipeline.footprint", "checkpoint.write"),
            pages + ("pipeline.bbox", "geoparquet.write"),
            pages + ("joins.fpjoin",),
            scan + ("joins.pip",),
            scan + ("joins.knn",),
            scan + ("joins.knn_partitioned",),
            scan + ("joins.dwithin",),
            scan + ("hotspots.getis_ord",),
            scan + ("cells.hex_ring",),
            counts + ("cells.grid_ring",),
            counts + ("tiles.focal_density",),
            scan + ("tiles.salted_counts",),
        ]


WORKLOADS = {w.name: w for w in (SpatialCore, GisLayers)}
