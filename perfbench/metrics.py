"""Names, units and directions of every metric the benchmark reports.

``BENCHMARK.json`` at the repository root lists the same metrics; the
benchmark's tests check that the two agree.
"""

from __future__ import annotations

# (name, unit, better)
END_TO_END = [
    ("docs_per_s", "docs/s", "higher"),
    ("cpu_s_per_kdoc", "s/kdoc", "lower"),
    ("peak_rss_mb", "MB", "lower"),
    ("out_bytes_per_doc", "B/doc", "lower"),
    ("setup_s", "s", "lower"),
]

_SELF = [
    "scan.pages",
    "extract.with_extracted",
    "pipeline.points",
    "cells.tiles",
    "joins.pip",
    "tiles.counts",
    "pipeline.footprint",
    "pipeline.bbox",
    "joins.fpjoin",
    "scan.points",
    "joins.knn",
    "joins.knn_partitioned",
    "joins.dwithin",
    "hotspots.getis_ord",
    "cells.hex_ring",
    "cells.grid_ring",
    "tiles.focal_density",
    "tiles.salted_counts",
]
_SINKS = ["checkpoint.write", "geoparquet.write"]
CANDIDATE_JOINS = ["joins.pip", "joins.fpjoin", "joins.knn", "joins.knn_partitioned", "joins.dwithin"]


def self_metric(rung: str) -> str:
    """Per-layer name of a ladder rung's self time."""
    return f"{rung}_s" if rung in _SINKS else f"{rung}.self_s"


PER_LAYER = (
    [(self_metric(r), "s", "lower") for r in _SELF + _SINKS]
    + [(f"{j}.candidates_per_match", "ratio", "lower") for j in CANDIDATE_JOINS]
    + [
        ("pipeline.points.python_bytes_out", "B", "lower"),
        ("pipeline.points.python_worker_init_s", "s", "lower"),
        ("spark.executor_run_s", "s", "lower"),
        ("spark.executor_cpu_s", "s", "lower"),
        ("spark.gc_s", "s", "lower"),
        ("spark.tasks", "count", "lower"),
        ("spark.task_skew", "ratio", "lower"),
        ("spark.scan_bytes", "B", "lower"),
        ("spark.shuffle_write_bytes", "B", "lower"),
        ("spark.spill_bytes", "B", "lower"),
        ("spark.python_bytes_in", "B", "lower"),
        ("spark.python_bytes_out", "B", "lower"),
        ("spark.python_init_s", "s", "lower"),
        ("ladder.pass_wall_s", "s", "lower"),
        ("ladder.sum_self_s", "s", "lower"),
        ("ladder.unexplained_s", "s", "lower"),
        ("trace.docs_per_s_untraced", "docs/s", "higher"),
        ("trace.docs_per_s_traced", "docs/s", "higher"),
        ("trace.overhead_pct", "%", "lower"),
        ("placement.busy_ceiling_before", "ratio", "higher"),
        ("placement.busy_ceiling_after", "ratio", "higher"),
        ("placement.steal_pct", "%", "lower"),
    ]
)
