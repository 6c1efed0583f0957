"""Iceberg-layout table directory: parquet data files + JSON snapshot
manifests, giving snapshot isolation + file-level pruning semantics.

The authoritative input (BASELINE.json input_hint) is "an Iceberg table
of Common-Crawl-style pages". No Iceberg runtime jar exists in this
container (SURVEY.md §7.0), so this module implements the *semantics*
the engine needs from Iceberg, in Iceberg's own layout style:

  table/
    data/part-<uuid>.parquet          immutable data files
    metadata/snap-<n>.json            manifest: file list + per-file
                                      column min/max stats + row counts
    metadata/version-hint.text        current snapshot number

- writes are append-only: a commit writes new data files, then a new
  snapshot listing old + new files, then flips the version hint
  (atomic rename) — readers of snapshot n never see a torn commit.
  The snapshot file is created exclusively, so concurrent writers
  retry on the new head instead of overwriting each other's commit;
- reads resolve a snapshot (time-travel by number) and hand Spark an
  explicit file list, pruned by predicate against the manifest's
  min/max stats BEFORE the scan — the same file-skipping a real
  Iceberg `planFiles` does, so at 100 TB a cell-range or lang
  predicate touches only matching files;
- schema travels in the manifest and is asserted on append.

This is NOT the Iceberg spec (no avro manifests, no deletes, no
schema evolution); it is the documented stand-in for the subset the
north_rule exercises: snapshot-isolated resumable scans with partition
/ file pruning.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

_STATS_MAX_LEN = 64
# how long a committer waits for a concurrent writer to flip the head
_COMMIT_WAIT_S = 10.0


def _file_stats(path: str, stat_cols: list[str]) -> dict:
    md = pq.ParquetFile(path).metadata
    schema = md.schema.to_arrow_schema()
    idx = {schema.names[i]: i for i in range(len(schema.names))}
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    for c in stat_cols:
        if c not in idx:
            continue
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx[c]).statistics
            if st is None or not st.has_min_max:
                lo, hi = None, None
                break
            mn, mx = st.min, st.max
            if isinstance(mn, bytes):
                mn, mx = mn.decode("utf-8", "replace"), mx.decode("utf-8", "replace")
            lo = mn if lo is None else min(lo, mn)
            hi = mx if hi is None else max(hi, mx)
        if lo is not None:
            if isinstance(lo, str):
                # lower bound: plain truncation only shrinks it (safe);
                # upper bound: Iceberg-style — truncate then increment
                # the last character so it stays an upper bound; if no
                # character is incrementable, record no max (unbounded)
                lo = lo[:_STATS_MAX_LEN]
                hi = _truncate_upper(hi)
            mins[c] = lo
            if hi is not None:
                maxs[c] = hi
    return {"rows": md.num_rows, "min": mins, "max": maxs}


def _truncate_upper(s: str) -> str | None:
    """Truncate a string max-stat WITHOUT weakening it as an upper
    bound (Iceberg UnicodeUtil.truncateStringMax semantics): keep the
    prefix and increment its last incrementable code point. Returns
    None when no valid bound fits the budget."""
    if len(s) <= _STATS_MAX_LEN:
        return s
    chars = list(s[:_STATS_MAX_LEN])
    for i in range(len(chars) - 1, -1, -1):
        o = ord(chars[i])
        if o < 0x10FFFF:
            nxt = o + 1
            # incrementing into the surrogate block (U+D800-U+DFFF)
            # would produce a lone surrogate that cannot be
            # UTF-8-encoded when the manifest JSON is written; jump
            # past it to U+E000, like Iceberg's UnicodeUtil
            if 0xD800 <= nxt <= 0xDFFF:
                nxt = 0xE000
            chars[i] = chr(nxt)
            return "".join(chars[: i + 1])
    return None


class IcebergLiteTable:
    def __init__(self, path: str):
        self.root = Path(path)
        self.data_dir = self.root / "data"
        self.meta_dir = self.root / "metadata"

    # -- snapshot resolution ------------------------------------------------

    def current_snapshot_id(self) -> int | None:
        hint = self.meta_dir / "version-hint.text"
        if not hint.exists():
            return None
        return int(hint.read_text().strip())

    def snapshot(self, snapshot_id: int | None = None) -> dict:
        sid = self.current_snapshot_id() if snapshot_id is None else snapshot_id
        if sid is None:
            raise FileNotFoundError(f"no snapshot in {self.root}")
        return json.loads((self.meta_dir / f"snap-{sid}.json").read_text())

    def history(self) -> list[int]:
        return sorted(
            int(p.stem.split("-")[1]) for p in self.meta_dir.glob("snap-*.json")
        )

    # -- write --------------------------------------------------------------

    def _stage_write(self, df: DataFrame, stat_cols: list[str]) -> list[dict]:
        """Write df through a staging dir into immutable data files,
        returning their manifest entries (not yet committed)."""
        self.data_dir.mkdir(parents=True, exist_ok=True)
        staging = self.root / f"_staging-{uuid.uuid4().hex}"
        df.write.mode("overwrite").parquet(str(staging))
        new_files = []
        for p in sorted(staging.glob("*.parquet")):
            name = f"part-{uuid.uuid4().hex}.parquet"
            os.replace(p, self.data_dir / name)
            new_files.append(
                {"path": f"data/{name}", **_file_stats(str(self.data_dir / name), stat_cols)}
            )
        for leftover in staging.glob("*"):
            leftover.unlink()
        staging.rmdir()
        return new_files

    def _commit(
        self,
        add: list[dict],
        schema_json: dict,
        stat_cols: list[str],
        replaces: list[dict] | tuple = (),
    ) -> int:
        """Commit a new snapshot = the head's files minus `replaces`
        plus `add`. Order: snapshot json -> atomic version-hint flip, so
        readers never see a torn commit.

        The snapshot json is created exclusively, so two writers can
        never both write snapshot n: the loser re-reads the head once
        the winner has flipped it and rebuilds its file list from that
        head (optimistic concurrency, snapshot isolation). A commit
        whose replaced files are no longer in the head fails instead."""
        self.meta_dir.mkdir(parents=True, exist_ok=True)
        gone = {f["path"] for f in replaces}
        while True:
            head_id = self.current_snapshot_id()
            head = self.snapshot(head_id)["files"] if head_id is not None else []
            if gone - {f["path"] for f in head}:
                raise RuntimeError("a concurrent commit replaced files this commit rewrites")
            new_id = (head_id or 0) + 1
            snap = {
                "snapshot_id": new_id,
                "parent": head_id,
                "schema": schema_json,
                "stat_cols": stat_cols,
                "files": [f for f in head if f["path"] not in gone] + add,
            }
            try:
                with open(self.meta_dir / f"snap-{new_id}.json", "x") as out:
                    out.write(json.dumps(snap, indent=1))
            except FileExistsError:
                self._await_head_past(head_id, new_id)
                continue
            tmp = self.meta_dir / f"version-hint-{uuid.uuid4().hex}.tmp"
            tmp.write_text(str(new_id))
            os.replace(tmp, self.meta_dir / "version-hint.text")  # the commit point
            return new_id

    def _await_head_past(self, head_id: int | None, taken: int) -> None:
        """Wait for the writer that took snapshot `taken` to flip the
        head. A head that never moves means that writer died between
        the two steps, leaving an orphan json no reader can see."""
        deadline = time.monotonic() + _COMMIT_WAIT_S
        while self.current_snapshot_id() == head_id:
            if time.monotonic() > deadline:
                raise RuntimeError(
                    f"snap-{taken}.json in {self.meta_dir} was never committed; "
                    "remove it to unblock commits"
                )
            time.sleep(0.01)

    def append(self, df: DataFrame, stat_cols: list[str] | None = None) -> int:
        """Append df as new data files + a new snapshot; returns the new
        snapshot id. Commit order: data files -> snapshot json -> atomic
        version-hint flip, so concurrent readers always see a complete
        snapshot, and concurrent appends all survive (see _commit)."""
        prev_id = self.current_snapshot_id()
        prev = self.snapshot(prev_id) if prev_id is not None else None
        if prev is not None and prev["schema"] != df.schema.jsonValue():
            raise ValueError("schema mismatch vs table snapshot")
        stat_cols = stat_cols or (prev["stat_cols"] if prev else df.columns[:1])
        new_files = self._stage_write(df, stat_cols)
        return self._commit(new_files, df.schema.jsonValue(), stat_cols)

    def merge_upsert(
        self, spark: SparkSession, updates: DataFrame, key_col: str
    ) -> int:
        """Copy-on-write MERGE: rows of `updates` replace same-key rows,
        unmatched keys insert — Iceberg's MERGE INTO semantics in this
        layout. `updates` must be key-unique (asserted).

        Write amplification is bounded by the manifest stats: files
        whose [min,max] range for key_col cannot contain an update key
        carry over untouched; of the range-overlapping candidates, only
        files that ACTUALLY hold a matching key (one semi-join grouped
        by input_file_name) are rewritten. At 100 TB a key-clustered
        table rewrites only the files the keys land in."""
        prev_id = self.current_snapshot_id()
        prev = self.snapshot(prev_id)
        # names + types must match; nullability may differ (updates
        # often come from a different producer than the base table)
        want = [(f["name"], f["type"]) for f in prev["schema"]["fields"]]
        got = [(f["name"], f["type"]) for f in updates.schema.jsonValue()["fields"]]
        if want != got:
            raise ValueError("schema mismatch vs table snapshot")
        stat_cols = prev["stat_cols"]
        from pyspark.sql import functions as F

        n, nd, klo, khi = updates.agg(
            F.count(F.lit(1)), F.count_distinct(key_col), F.min(key_col), F.max(key_col)
        ).first()
        if n == 0:
            return prev_id
        assert n == nd, f"updates must be key-unique on {key_col}: {n} rows, {nd} keys"

        cands = []
        for f in prev["files"]:
            fmin, fmax = f["min"].get(key_col), f["max"].get(key_col)
            disjoint = (fmin is not None and fmin > khi) or (
                fmax is not None and fmax < klo
            )
            if not disjoint:
                cands.append(f)

        new_data = updates
        rewritten: list[dict] = []
        if cands:
            base = spark.read.parquet(
                *[str(self.root / f["path"]) for f in cands]
            ).withColumn("_f", F.input_file_name())
            keys = updates.select(key_col)
            touched = {
                os.path.basename(r["_f"])
                for r in base.join(keys, key_col, "left_semi")
                .select("_f")
                .distinct()
                .collect()  # bounded by file count, never by rows
            }
            rewritten = [f for f in cands if os.path.basename(f["path"]) in touched]
            if rewritten:
                survivors = (
                    spark.read.parquet(*[str(self.root / f["path"]) for f in rewritten])
                    .join(keys, key_col, "left_anti")
                )
                new_data = survivors.unionByName(updates)
        new_files = self._stage_write(new_data, stat_cols)
        return self._commit(new_files, prev["schema"], stat_cols, replaces=rewritten)

    def compact(
        self, spark: SparkSession, target_bytes: int = 128 << 20
    ) -> int:
        """Bin-pack small data files into ~target_bytes files (Iceberg's
        rewrite_data_files maintenance action). Files already at or
        above the target carry over; rows and content are unchanged,
        only the file layout. No-op (returns the current id) when
        fewer than two small files exist."""
        prev_id = self.current_snapshot_id()
        prev = self.snapshot(prev_id)
        smalls = []
        for f in prev["files"]:
            size = os.path.getsize(self.root / f["path"])
            if size < target_bytes:
                smalls.append((f, size))
        if len(smalls) < 2:
            return prev_id
        total = sum(sz for _, sz in smalls)
        nparts = max(1, round(total / target_bytes))
        df = spark.read.parquet(*[str(self.root / f["path"]) for f, _ in smalls])
        new_files = self._stage_write(df.repartition(nparts), prev["stat_cols"])
        assert sum(f["rows"] for f in new_files) == sum(f[0]["rows"] for f in smalls)
        return self._commit(
            new_files, prev["schema"], prev["stat_cols"], replaces=[f for f, _ in smalls]
        )

    def expire_snapshots(self, keep_last: int = 1) -> list[str]:
        """Drop all but the newest `keep_last` snapshots and delete data
        files no kept snapshot references (Iceberg's expire_snapshots).
        Returns the deleted data-file names. Time travel to expired ids
        stops working — that is the point."""
        ids = self.history()
        keep = set(ids[-max(1, keep_last):])
        referenced = set()
        for sid in keep:
            for f in self.snapshot(sid)["files"]:
                referenced.add(os.path.basename(f["path"]))
        deleted = []
        for sid in ids:
            if sid not in keep:
                (self.meta_dir / f"snap-{sid}.json").unlink()
        for p in self.data_dir.glob("*.parquet"):
            if p.name not in referenced:
                p.unlink()
                deleted.append(p.name)
        return deleted

    # -- read ---------------------------------------------------------------

    def plan_files(
        self,
        snapshot_id: int | None = None,
        pruning: dict[str, tuple] | None = None,
    ) -> list[dict]:
        """Manifest-level file pruning: keep files whose [min,max] range
        for each pruned column intersects the requested [lo,hi] (None =
        unbounded). Files without stats for a column are kept (safe)."""
        files = self.snapshot(snapshot_id)["files"]
        if not pruning:
            return files
        kept = []
        for f in files:
            ok = True
            for col, (lo, hi) in pruning.items():
                fmin = f["min"].get(col)
                fmax = f["max"].get(col)
                # bounds are checked independently: a file may carry a
                # min but no max (upper-bound truncation overflow)
                if (hi is not None and fmin is not None and fmin > hi) or (
                    lo is not None and fmax is not None and fmax < lo
                ):
                    ok = False
                    break
            if ok:
                kept.append(f)
        return kept

    def read(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        pruning: dict[str, tuple] | None = None,
    ) -> DataFrame:
        files = self.plan_files(snapshot_id, pruning)
        if not files:
            # empty selection keeps the snapshot schema
            from pyspark.sql.types import StructType

            schema = StructType.fromJson(self.snapshot(snapshot_id)["schema"])
            return spark.createDataFrame([], schema)
        return spark.read.parquet(*[str(self.root / f["path"]) for f in files])

    def total_rows(self, snapshot_id: int | None = None) -> int:
        return sum(f["rows"] for f in self.snapshot(snapshot_id)["files"])
