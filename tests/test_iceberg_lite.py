"""Iceberg-layout table dir (fgcspark/io/iceberg_lite.py): snapshot
isolation, append commits, time travel, manifest min/max file pruning.

This is the documented stand-in for the north_rule's "Iceberg tables"
(no Iceberg runtime jar in-container, SURVEY.md §7.0)."""

from __future__ import annotations

import json
import threading

import pytest
from pyspark.sql import functions as F

from fgcspark.io.iceberg_lite import IcebergLiteTable


@pytest.fixture(scope="module")
def table(spark, pages_dir, tmp_path_factory):
    t = IcebergLiteTable(str(tmp_path_factory.mktemp("icb") / "pages_tbl"))
    pages = spark.read.parquet(f"{pages_dir}/pages.parquet")
    # range-partition by url so per-file min/max ranges are disjoint and
    # pruning actually skips files
    first = pages.where(F.col("lang") != "en").repartitionByRange(6, "url")
    second = pages.where(F.col("lang") == "en").repartitionByRange(2, "url")
    t.append(first, stat_cols=["url", "lang"])
    t.append(second)
    return t


def test_snapshot_history_and_time_travel(spark, table, pages_dir):
    pages = spark.read.parquet(f"{pages_dir}/pages.parquet")
    n_total = pages.count()
    n_first = pages.where(F.col("lang") != "en").count()
    assert table.history() == [1, 2]
    assert table.current_snapshot_id() == 2
    assert table.read(spark).count() == n_total == table.total_rows()
    # snapshot 1 still sees only the first commit
    assert table.read(spark, snapshot_id=1).count() == n_first == table.total_rows(1)


def test_manifest_pruning_skips_files(spark, table):
    all_files = table.plan_files()
    pruned = table.plan_files(pruning={"url": ("https://site0.example/", "https://site1.example/￿")})
    assert len(pruned) < len(all_files)
    lo, hi = "https://site0.example/", "https://site1.example/￿"
    got = (
        table.read(spark, pruning={"url": (lo, hi)})
        .where(F.col("url").between(lo, hi))
        .count()
    )
    want = table.read(spark).where(F.col("url").between(lo, hi)).count()
    assert got == want > 0


def test_pruning_is_safe_superset(spark, table):
    """Pruned read + exact filter == full read + exact filter for any
    range, including ones that straddle file boundaries."""
    for lo, hi in [("https://site5", "https://site7"), ("z", None), (None, "a")]:
        pred = F.lit(True)
        if lo:
            pred = pred & (F.col("url") >= lo)
        if hi:
            pred = pred & (F.col("url") <= hi)
        a = table.read(spark, pruning={"url": (lo, hi)}).where(pred).count()
        b = table.read(spark).where(pred).count()
        assert a == b


def test_schema_mismatch_rejected(spark, table):
    bad = spark.range(3).select(F.col("id").alias("url"))
    with pytest.raises(ValueError, match="schema mismatch"):
        table.append(bad)


def test_torn_commit_invisible(spark, table, tmp_path):
    """A crash after writing the snapshot json but before the hint flip
    must leave readers on the previous snapshot."""
    cur = table.current_snapshot_id()
    snap = json.loads((table.meta_dir / f"snap-{cur}.json").read_text())
    fake = dict(snap, snapshot_id=cur + 1, parent=cur)
    (table.meta_dir / f"snap-{cur + 1}.json").write_text(json.dumps(fake))
    try:
        assert table.current_snapshot_id() == cur  # hint not flipped
        assert table.read(spark).count() == table.total_rows(cur)
    finally:
        (table.meta_dir / f"snap-{cur + 1}.json").unlink()


def test_long_string_stats_truncation_safe(spark, tmp_path):
    # >64-char string stats: truncating max by plain slicing would make
    # the recorded upper bound SMALLER than the true max and wrongly
    # prune a file (ADVICE r1). The Iceberg-style increment keeps the
    # bound valid; pruning on the true max value must keep the file.
    t = IcebergLiteTable(str(tmp_path / "long_tbl"))
    prefix = "k" * 80
    df = spark.createDataFrame(
        [(prefix + "a",), (prefix + "z",)], "skey string"
    ).coalesce(1)
    t.append(df, stat_cols=["skey"])
    f = t.plan_files()[0]
    assert f["min"]["skey"] == ("k" * 64)  # plain truncation: still a lower bound
    rec_max = f["max"]["skey"]
    assert rec_max >= prefix + "z"  # never weaker than the true max
    assert len(rec_max) <= 64
    # a query for the true max value must not be pruned away
    kept = t.plan_files(pruning={"skey": (prefix + "z", prefix + "z")})
    assert len(kept) == 1

    # a max of all-U+10FFFF chars cannot be upper-bounded in 64 chars:
    # stats must record no max, and pruning must keep the file
    t2 = IcebergLiteTable(str(tmp_path / "wild_tbl"))
    big = "\U0010ffff" * 80
    df2 = spark.createDataFrame([("a",), (big,)], "skey string").coalesce(1)
    t2.append(df2, stat_cols=["skey"])
    f2 = t2.plan_files()[0]
    assert "skey" not in f2["max"]
    assert len(t2.plan_files(pruning={"skey": (big, None)})) == 1

    # a prefix ending in U+D7FF must NOT increment into the surrogate
    # block (U+D800 is unencodable as UTF-8 and would crash the
    # manifest JSON write) — it jumps to U+E000 and stays a bound
    t3 = IcebergLiteTable(str(tmp_path / "surr_tbl"))
    edge = ("k" * 63) + "퟿" + ("z" * 20)
    df3 = spark.createDataFrame([("a",), (edge,)], "skey string").coalesce(1)
    t3.append(df3, stat_cols=["skey"])  # must not raise UnicodeEncodeError
    f3 = t3.plan_files()[0]
    rec = f3["max"]["skey"]
    assert rec >= edge and len(rec) <= 64
    assert not any(0xD800 <= ord(c) <= 0xDFFF for c in rec)
    assert len(t3.plan_files(pruning={"skey": (edge, edge)})) == 1


@pytest.fixture()
def kv_table(spark, tmp_path):
    """Key-clustered table: 3 files with disjoint id ranges."""
    t = IcebergLiteTable(str(tmp_path / "kv_tbl"))
    df = spark.range(0, 300).select(
        F.col("id"), (F.col("id") * 10).alias("v")
    )
    t.append(df.where("id < 100").coalesce(1), stat_cols=["id"])
    t.append(df.where("id >= 100 and id < 200").coalesce(1))
    t.append(df.where("id >= 200").coalesce(1))
    return t


def test_merge_upsert_semantics(spark, kv_table):
    ups = spark.createDataFrame(
        [(150, -1), (160, -2), (999, -3)], "id long, v long"
    )
    sid = kv_table.merge_upsert(spark, ups, "id")
    got = {r.id: r.v for r in kv_table.read(spark).collect()}
    assert len(got) == 301  # 300 originals, 2 replaced, 1 inserted
    assert got[150] == -1 and got[160] == -2 and got[999] == -3
    assert got[0] == 0 and got[299] == 2990
    # time travel: the pre-merge snapshot is untouched
    old = {r.id: r.v for r in kv_table.read(spark, snapshot_id=sid - 1).collect()}
    assert old[150] == 1500 and 999 not in old


def test_merge_rewrites_only_touched_files(spark, kv_table):
    before = {f["path"] for f in kv_table.snapshot()["files"]}
    ups = spark.createDataFrame([(150, -1)], "id long, v long")
    kv_table.merge_upsert(spark, ups, "id")
    after = {f["path"] for f in kv_table.snapshot()["files"]}
    # files for ranges [0,100) and [200,300) carried over byte-identical
    assert len(before & after) == 2
    assert kv_table.read(spark).count() == 300


def test_merge_rejects_duplicate_update_keys(spark, kv_table):
    ups = spark.createDataFrame([(1, -1), (1, -2)], "id long, v long")
    with pytest.raises(AssertionError):
        kv_table.merge_upsert(spark, ups, "id")


def test_compact_binpacks_and_preserves_rows(spark, kv_table):
    n_files = len(kv_table.snapshot()["files"])
    assert n_files == 3
    sid = kv_table.compact(spark, target_bytes=1 << 30)  # everything is "small"
    files = kv_table.snapshot(sid)["files"]
    assert len(files) == 1
    assert kv_table.total_rows() == 300
    got = {r.id: r.v for r in kv_table.read(spark).collect()}
    assert len(got) == 300 and got[42] == 420
    # pre-compaction snapshot still readable (old files still on disk)
    assert kv_table.read(spark, snapshot_id=sid - 1).count() == 300


def test_compact_noop_when_files_are_big_enough(spark, kv_table):
    sid = kv_table.current_snapshot_id()
    assert kv_table.compact(spark, target_bytes=1) == sid  # nothing small


def test_expire_snapshots_drops_unreferenced(spark, kv_table):
    kv_table.compact(spark, target_bytes=1 << 30)
    ids = kv_table.history()
    assert len(ids) == 4
    deleted = kv_table.expire_snapshots(keep_last=1)
    assert kv_table.history() == [ids[-1]]
    assert len(deleted) == 3  # the three pre-compaction files are gone
    assert kv_table.read(spark).count() == 300
    with pytest.raises(FileNotFoundError):
        kv_table.snapshot(ids[0])


def test_concurrent_appends_all_survive(spark, tmp_path, monkeypatch):
    """More writers than cores stage their data files at the same time
    and then all commit against the same head: every loser of the
    snapshot-id race must rebuild on the winner's head, not overwrite
    it."""
    t = IcebergLiteTable(str(tmp_path / "race_tbl"))
    t.append(spark.range(0, 10).coalesce(1))
    starts = [100 * (i + 1) for i in range(6)]
    barrier = threading.Barrier(len(starts), timeout=120)
    stage = IcebergLiteTable._stage_write

    def staged_together(self, df, stat_cols):
        files = stage(self, df, stat_cols)
        barrier.wait()  # every writer holds staged files, same head
        return files

    monkeypatch.setattr(IcebergLiteTable, "_stage_write", staged_together)
    ids, errors = [], []

    def write(lo):
        try:
            ids.append(t.append(spark.range(lo, lo + 10).coalesce(1)))
        except Exception as e:  # pragma: no cover - surfaced below
            errors.append(e)

    threads = [threading.Thread(target=write, args=(lo,)) for lo in starts]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
        assert not th.is_alive()
    assert not errors, errors
    n = len(starts) + 1
    assert sorted(ids) == list(range(2, n + 1)) and t.history() == list(range(1, n + 1))
    got = sorted(r.id for r in t.read(spark).collect())
    assert got == sorted(i for lo in [0, *starts] for i in range(lo, lo + 10))
    assert [t.snapshot(i)["parent"] for i in range(2, n + 1)] == list(range(1, n))
