"""Kill-and-resume golden (FIXTURES.md §6.7): a run interrupted at a
chunk boundary must resume by skipping completed chunks and produce
output identical to an uninterrupted run."""

import json

import pytest
from pyspark.sql import functions as F

from fgcspark.checkpoint import ChunkedRunner
from fgcspark.errors import FgcError
from fgcspark.pipeline import pages_to_points


def _build(pages_dir):
    def build(spark):
        return pages_to_points(spark, pages_dir).select("url", "cell_10km", "e", "n")

    return build


def _as_key_set(df):
    return set(map(tuple, df.select("url", "cell_10km").toPandas().itertuples(index=False)))


def test_kill_and_resume(spark, pages_dir, tmp_path):
    # uninterrupted reference run
    full = ChunkedRunner(spark, str(tmp_path / "full"), n_chunks=8)
    s = full.run(_build(pages_dir))
    assert s["processed"] == 8 and s["progress_percent"] == 100

    # interrupted run: 3 chunks, then "killed"
    r1 = ChunkedRunner(spark, str(tmp_path / "resume"), n_chunks=8)
    s1 = r1.run(_build(pages_dir), max_chunks=3)
    assert s1["processed"] == 3 and s1["skipped"] == 0
    assert r1.progress_percent() == 30

    # resume in a fresh runner (new "driver"): skips the 3 done chunks
    r2 = ChunkedRunner(spark, str(tmp_path / "resume"), n_chunks=8)
    assert r2.completed() == r1.completed()
    s2 = r2.run(_build(pages_dir))
    assert s2["skipped"] == 3 and s2["processed"] == 5
    assert r2.progress_percent() == 100

    # identical final output
    assert _as_key_set(r2.read_output()) == _as_key_set(full.read_output())
    assert r2.read_output().count() == full.read_output().count()


def test_rerun_is_noop(spark, pages_dir, tmp_path):
    r = ChunkedRunner(spark, str(tmp_path / "noop"), n_chunks=4)
    r.run(_build(pages_dir))
    s = r.run(_build(pages_dir))
    assert s["processed"] == 0 and s["skipped"] == 4


def test_manifest_lineage_and_metrics(spark, pages_dir, tmp_path):
    r = ChunkedRunner(spark, str(tmp_path / "m"), n_chunks=4)
    r.run(_build(pages_dir))
    recs = r.metrics()
    assert len(recs) == 4
    total = 0
    for rec in recs:
        assert rec["status"] == "done"
        assert "xxhash64(url)" in rec["lineage"]
        assert rec["rows"] > 0 and rec["wall_s"] >= 0
        total += rec["rows"]
    # lineage row counts reconcile with the table row count (2000 rows)
    assert total == r.read_output().count() == 2000


def test_chunk_membership_stable_across_parallelism(spark, pages_dir, tmp_path):
    # chunk ids are a pure hash of the key: repartitioning cannot move
    # a row between chunks (what makes resume safe on any cluster size)
    from fgcspark.checkpoint import chunk_col

    df = pages_to_points(spark, pages_dir).select("url")
    a = df.withColumn("c", chunk_col("url", 8)).toPandas()
    b = (
        df.repartition(13)
        .withColumn("c", chunk_col("url", 8))
        .toPandas()
    )
    assert a.set_index("url")["c"].to_dict() == b.set_index("url")["c"].to_dict()


def test_failed_chunk_records_error(spark, pages_dir, tmp_path):
    def bad_build(s):
        df = pages_to_points(s, pages_dir).select("url", "cell_10km")

        @F.udf("string")
        def boom(u):
            raise RuntimeError("synthetic failure")

        return df.withColumn("x", boom("url"))

    r = ChunkedRunner(spark, str(tmp_path / "err"), n_chunks=2)
    with pytest.raises(FgcError) as ei:
        r.run(bad_build)
    assert ei.value.err_name == "chunk_failed"
    recs = r.metrics()
    assert recs and all(rec["status"] == "error" for rec in recs)
    assert all("err_name: chunk_failed" in rec["error"] for rec in recs)
    assert r.completed() == set()
    # and the run is retryable after the failure is fixed
    s = r.run(_build(pages_dir))
    assert s["processed"] == 2 and r.progress_percent() == 100


def test_rerun_chunk_replaces_its_rows(spark, pages_dir, tmp_path):
    # a chunk whose manifest entry is lost is re-processed, and its dir
    # is replaced, not appended to; no staging dir is left behind
    r = ChunkedRunner(spark, str(tmp_path / "redo"), n_chunks=4)
    r.run(_build(pages_dir))
    (tmp_path / "redo" / "_manifest" / "chunk-1.json").unlink()
    s = ChunkedRunner(spark, str(tmp_path / "redo"), n_chunks=4).run(_build(pages_dir))
    assert s["processed"] == 1 and s["skipped"] == 3
    assert r.read_output().count() == 2000
    assert sorted(p.name for p in (tmp_path / "redo" / "data").iterdir()) == [
        f"_chunk={i}" for i in range(4)
    ]
