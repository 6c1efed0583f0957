"""Resumable chunked execution with per-chunk lineage + metrics.

Re-expresses the reference's chunk loop + filesystem state machine
(reference api.R:144-199: `n`/`skip` windows, progress deciles written
to `{id}/progress`, per-chunk append-merge, `error.txt` on failure) in
Spark's execution model (SURVEY.md §3.2 mapping):

- chunk = deterministic hash window over the key column
  (`pmod(xxhash64(key), n_chunks)`), the distributed twin of the
  reference's `skip/n` row windows — stable across runs and cluster
  sizes, so a resume sees the same chunk membership;
- chunk append-merge (`ogr2ogr -update -append`, api.R:164-185) is
  replaced by an idempotent overwrite of `_chunk=<i>/` dirs — atomic
  per chunk, no merge subprocess. Each task writes its rows with
  pyarrow into a staging dir, one file per (task, chunk); the driver
  then swaps each pending chunk's staged dir in by rename. Spark's own
  writer goes through Hadoop's local filesystem, which without the
  native library forks a `chmod` from the driver JVM for every file
  and directory it creates (~30 per run of 8 chunks);
- progress file (api.R:153-157) becomes a manifest dir with one JSON
  per completed chunk carrying lineage (chunk id, predicate) +
  metrics (row count, wall seconds) — the north_rule's
  "per-partition lineage + row-count metrics checkpointed";
- resume = filter the input on pending chunk ids BEFORE the scan, so
  Catalyst prunes completed work (partition-pruned when the source is
  partitioned/bucketed by the same key);
- failure taxonomy per G16 (errors.py): a failed chunk writes an
  `error` manifest entry (`{msg}; err_name: {name}`, reference
  R/err.R:11-35) and the run raises after draining.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fgcspark.errors import FgcError, format_error

MANIFEST_DIR = "_manifest"


def chunk_col(key_col: str, n_chunks: int):
    """Deterministic chunk id for a row key (stable across runs)."""
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_chunks)).cast("int")


class ChunkedRunner:
    """Run a DataFrame pipeline in resumable chunks.

    out_dir layout:
      data/_chunk=<i>/*.parquet  output rows of chunk i (one file per task)
      _manifest/chunk-<i>.json  lineage + metrics, written AFTER the
                                chunk's data is durably on disk
    """

    def __init__(self, spark: SparkSession, out_dir: str, n_chunks: int = 16):
        self.spark = spark
        self.out = Path(out_dir)
        self.n_chunks = n_chunks
        (self.out / MANIFEST_DIR).mkdir(parents=True, exist_ok=True)

    # -- manifest ----------------------------------------------------------

    def _manifest_path(self, i: int) -> Path:
        return self.out / MANIFEST_DIR / f"chunk-{i}.json"

    def completed(self) -> set[int]:
        done = set()
        for p in (self.out / MANIFEST_DIR).glob("chunk-*.json"):
            rec = json.loads(p.read_text())
            if rec.get("status") == "done":
                done.add(int(rec["chunk"]))
        return done

    def progress_percent(self) -> int:
        """Decile progress, reference api.R:153-157 semantics."""
        return int(len(self.completed()) / self.n_chunks * 10) * 10

    def metrics(self) -> list[dict]:
        out = []
        for p in sorted((self.out / MANIFEST_DIR).glob("chunk-*.json")):
            out.append(json.loads(p.read_text()))
        return out

    def _record(self, rec: dict) -> None:
        """Atomic manifest write (tmp + rename)."""
        p = self._manifest_path(rec["chunk"])
        tmp = p.with_suffix(".tmp")
        tmp.write_text(json.dumps(rec, sort_keys=True))
        os.replace(tmp, p)

    # -- execution ----------------------------------------------------------

    def _write(self, df: DataFrame, pending: list[int]) -> dict[int, int]:
        """Write df's rows under data/_chunk=<i>/ for every pending i,
        replacing what was there; returns {chunk: rows written}.

        Tasks write into a staging dir (ignored by readers: it starts
        with '.') with file names keyed by partition id, so a retried
        task overwrites its own files. Nothing is visible until the
        driver renames each staged chunk dir into place."""
        data = self.out / "data"
        stage = data / f".staging-{uuid.uuid4().hex}"
        stage_dir = str(stage)
        cols = [c for c in df.columns if c != "_chunk"]

        def write_part(batches):
            import pyarrow as pa
            import pyarrow.compute as pc
            import pyarrow.parquet as pq
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            writers, rows = {}, {}
            try:
                for b in batches:
                    chunk = b.column("_chunk")
                    for i in pc.unique(chunk).to_pylist():
                        part = b.filter(pc.equal(chunk, i)).select(cols)
                        if i not in writers:
                            d = f"{stage_dir}/_chunk={i}"
                            os.makedirs(d, exist_ok=True)
                            # min/max of long strings (page html, WKT) cost
                            # ~5 % of the file and prune nothing
                            stats = [
                                f.name
                                for f in part.schema
                                if not (pa.types.is_string(f.type) or pa.types.is_binary(f.type))
                            ]
                            writers[i] = pq.ParquetWriter(
                                f"{d}/part-{pid:05d}.parquet",
                                part.schema,
                                compression="snappy",
                                store_schema=False,
                                write_statistics=stats or False,
                            )
                            rows[i] = 0
                        writers[i].write_batch(part)
                        rows[i] += part.num_rows
            finally:
                for w in writers.values():
                    w.close()
            if rows:
                yield pa.RecordBatch.from_pydict(
                    {"chunk": list(rows), "rows": list(rows.values())},
                    schema=pa.schema([("chunk", pa.int32()), ("rows", pa.int64())]),
                )

        try:
            counts: dict[int, int] = {}
            for r in df.mapInArrow(write_part, "chunk int, rows long").collect():
                counts[r["chunk"]] = counts.get(r["chunk"], 0) + r["rows"]
            data.mkdir(parents=True, exist_ok=True)
            for i in pending:
                dst, src = data / f"_chunk={i}", stage / f"_chunk={i}"
                if dst.exists():
                    old = stage / f"old_chunk={i}"
                    os.replace(dst, old)
                    shutil.rmtree(old)
                if src.exists():
                    os.replace(src, dst)
        finally:
            shutil.rmtree(stage, ignore_errors=True)
        return counts

    def run(
        self,
        build: Callable[[SparkSession], DataFrame],
        key_col: str = "url",
        max_chunks: int | None = None,
    ) -> dict:
        """Process pending chunks (at most max_chunks this call).

        `build` returns the full (lazy) pipeline DataFrame; the runner
        adds the chunk column, prunes completed chunks before the
        action, and writes chunk dirs idempotently. Returns a summary
        {processed, skipped, rows, progress_percent}.
        """
        done = self.completed()
        pending = [i for i in range(self.n_chunks) if i not in done]
        if max_chunks is not None:
            pending = pending[:max_chunks]
        summary = {"processed": 0, "skipped": len(done), "rows": 0}
        if not pending:
            summary["progress_percent"] = self.progress_percent()
            return summary

        df = build(self.spark).withColumn("_chunk", chunk_col(key_col, self.n_chunks))
        # resume pruning happens here, before any action
        df = df.filter(F.col("_chunk").isin([int(i) for i in pending]))

        t0 = time.time()
        try:
            counts = self._write(df, pending)
        except Exception as e:  # noqa: BLE001 - recorded then re-raised
            for i in pending:
                self._record(
                    {
                        "chunk": i,
                        "status": "error",
                        "error": format_error(str(e)[:500], "chunk_failed"),
                    }
                )
            raise FgcError("chunk write failed", "chunk_failed") from e
        wall = time.time() - t0

        for i in pending:
            self._record(
                {
                    "chunk": i,
                    "status": "done",
                    "rows": counts.get(i, 0),
                    "lineage": f"pmod(xxhash64({key_col}), {self.n_chunks}) = {i}",
                    "wall_s": round(wall / len(pending), 3),
                }
            )
            summary["processed"] += 1
            summary["rows"] += counts.get(i, 0)
        summary["progress_percent"] = self.progress_percent()
        return summary

    def read_output(self) -> DataFrame:
        return self.spark.read.parquet(str(self.out / "data")).drop("_chunk")
