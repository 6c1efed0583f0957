"""Tests of the benchmark's own parts: the event-log fold and the metric
lists. Run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent.parent
ROOT = BENCH.parent
sys.path[:0] = [str(ROOT), str(BENCH)]

from eventlog import PY_INIT, fold, log_file  # noqa: E402
from metrics import END_TO_END, PER_LAYER  # noqa: E402


@pytest.fixture(scope="module")
def toy_records(tmp_path_factory):
    """Folds of two job groups, each a parquet scan into a pandas UDF; the
    second starts after the Python workers have idled for 2 s."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from fgcspark.session import get_spark

    os.environ["PYTHONPATH"] = str(ROOT)
    logdir = tmp_path_factory.mktemp("eventlog")
    src = str(tmp_path_factory.mktemp("src") / "toy.parquet")
    spark = get_spark(
        "perfbench-test",
        cores=2,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": logdir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.range(20000).selectExpr("id", "CAST(id % 7 AS double) AS x").repartition(2).write.parquet(src)

    @pandas_udf("double")
    def plus_one(x):
        return x + 1

    sc = spark.sparkContext
    for group in ("toy", "after_idle"):
        sc.setJobGroup(group, group)
        total = spark.read.parquet(src).select(plus_one("x").alias("y")).agg(F.sum("y")).collect()
        assert total[0][0] == sum(i % 7 + 1 for i in range(20000))
        time.sleep(2.0)
    app_id = sc.applicationId
    spark.stop()
    return fold(log_file(logdir, app_id))


def test_toy_record_has_scan_and_python_fields(toy_records):
    r = toy_records["toy"]
    assert r.tasks > 0
    assert r.executor_run_s > 0
    assert r.scan_bytes > 0
    assert r.python_bytes_in > 0
    assert r.python_bytes_out > 0


def test_python_init_time_is_a_sum_over_tasks(toy_records):
    """The folded init time is the sum of the per-task increments, which is
    the accumulator's stage-final value."""
    r = toy_records["toy"]
    finals = [v[PY_INIT] for v in r.stage_values.values() if PY_INIT in v]
    assert finals, "no stage reported the Python init metric"
    assert r.python_init_s == pytest.approx(max(finals), abs=1e-9)


def test_python_init_time_counts_idle_reused_workers(toy_records):
    """A reused worker starts its init clock when it returns to wait for
    the next task, so the idle gap between jobs lands in the next job's
    init time. That is how the summed init time can exceed run time."""
    r = toy_records["after_idle"]
    assert r.python_init_s > 1.5
    assert r.python_init_s > r.executor_run_s


def test_metric_lists_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == PER_LAYER
    assert len(PER_LAYER) <= 128
