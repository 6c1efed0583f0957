#!/usr/bin/env python3
"""fgcspark benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload spatial_core --seed 42 --seconds 15 --trace 0

Runs from the root of a checkout. It generates the seed's inputs with the
engine's own generator (cached under perfbench/_data), starts one Spark
driver on local[nproc], sets the workload up five times, then submits
the workload's operations one after another, each only after the previous
one has finished, until --seconds of operation time have passed. Every
output is checked against the seed's goldens outside the timed region.

--trace 0 prints the end-to-end metrics; --trace 1 prints the per-layer
metrics instead: Spark's event log folded per operation, the layer ladder
of perfbench/workloads.py, and the tracing overhead. The last stdout line
is one JSON object {correct, attempted, failed, metrics}. The exit code
is 1 if any operation failed or gave a wrong output, 2 if the checkout
does not hold the engine.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA_CACHE = HERE / "_data"
WORK = HERE / "_work"

SETUP_REPS = 5
# Warm-up passes: at least one, and up to WARMUP_PASSES while they fit in
# WARMUP_S. Pass times keep falling for ~3 passes after the cold one (JIT),
# which only the cheap spatial_core pass can afford to wait out.
WARMUP_PASSES = 3
WARMUP_S = 20.0
LADDER_REPS = 3
DRIVER_MEM = "2g"

SHOWN_CONFS = [
    "spark.master",
    "spark.driver.memory",
    "spark.sql.shuffle.partitions",
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.files.openCostInBytes",
    "spark.sql.adaptive.enabled",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.execution.arrow.maxRecordsPerBatch",
]


def _env(work: Path, ncpu: int) -> None:
    """Session sizing and paths, set before the JVM starts."""
    for var in ("FGC_MAX_PARTITION_BYTES", "FGC_ARROW_BATCH"):
        os.environ.pop(var, None)  # engine defaults
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ["FGC_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers import fgcspark from this checkout, whatever the cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    (work / "tmp").mkdir(parents=True, exist_ok=True)


def _spark_conf(work: Path, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # the whole heap is committed and touched at start, so the peak RSS
        # measures Python workers and off-heap memory, not when GC runs
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work / 'tmp'} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
        ),
    }
    if trace:
        (work / "eventlog").mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (work / "eventlog").as_uri(),
                # the default zstd codec cannot be read back from Python here
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


class Client:
    """The closed-loop client: runs passes of the workload's operations,
    checks outputs outside the timed region and keeps the tallies."""

    def __init__(self, workload, sampler):
        self.workload = workload
        self.sampler = sampler
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run_pass(self, ops, group: str | None = None) -> dict:
        """One pass over the operations; returns its timings and outputs.
        With a group, each operation runs under job group `group:op`."""
        from hostprobe import tree_cpu_s

        sc = self.workload.spark.sparkContext
        outs, walls = [], {}
        cpu0 = tree_cpu_s()
        self.sampler.active = True
        t0 = time.perf_counter()
        for op in ops:
            if group is not None:
                sc.setJobGroup(f"{group}:{op.name}", op.name)
            t = time.perf_counter()
            try:
                outs.append(op.run())
            except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
                outs.append(None)
                self.errors.append(f"{op.name}: {traceback.format_exc(limit=3)}")
            walls[op.name] = time.perf_counter() - t
        wall = time.perf_counter() - t0
        self.sampler.active = False
        cpu = tree_cpu_s() - cpu0
        if group is not None:
            sc.setJobGroup("bench", "untimed")
        return {"wall": wall, "cpu": cpu, "walls": walls, "outs": outs, "ops": ops}

    def verify(self, p: dict) -> dict:
        """Check a pass's outputs (untimed); returns bytes and match counts."""
        out_bytes, matches = 0, {}
        for op, out in zip(p["ops"], p["outs"]):
            self.attempted += 1
            if out is None:
                self.failed += 1
                continue
            try:
                msg = op.check(out)
                out_bytes += op.out_bytes(out)
                matches[op.name] = op.matches(out)
            except Exception:  # noqa: BLE001
                msg = f"{op.name}: check raised {traceback.format_exc(limit=3)}"
            finally:
                op.cleanup(out)
            if msg:
                self.failed += 1
                self.errors.append(msg)
        p["out_bytes"] = out_bytes
        p["matches"] = matches
        del p["outs"]
        return p

    def loop(self, seconds: float) -> list[dict]:
        """Closed loop: passes until `seconds` of operation time."""
        ops = self.workload.ops()
        passes, spent = [], 0.0
        while spent < seconds:
            p = self.verify(self.run_pass(ops))
            passes.append(p)
            spent += p["wall"]
        return passes

    def paired_loop(self, seconds: float, tracer) -> tuple[list[dict], list[dict]]:
        """Untraced and traced passes in turn (ABBA, so that neither side
        always runs warmer), until `seconds` in all."""
        ops = self.workload.ops()
        untraced, traced, spent = [], [], 0.0
        while spent < seconds:
            order = (False, True) if len(untraced) % 2 == 0 else (True, False)
            for is_traced in order:
                if is_traced:
                    with tracer:
                        p = self.run_pass(ops, group=f"pass{len(traced)}")
                    traced.append(self.verify(p))
                else:
                    untraced.append(self.verify(self.run_pass(ops)))
            spent += untraced[-1]["wall"] + traced[-1]["wall"]
        return untraced, traced


class Tracer:
    """Spark's event logger (enabled by conf), attached to the listener
    bus only around traced work, so untraced passes run without it."""

    def __init__(self, sc):
        self.jsc = sc._jsc.sc()
        self.logger = self.jsc.eventLogger().get()
        self.jsc.removeSparkListener(self.logger)

    def __enter__(self) -> "Tracer":
        self.jsc.addSparkListener(self.logger)
        return self

    def __exit__(self, *exc) -> None:
        self.jsc.listenerBus().waitUntilEmpty()  # deliver the tail events
        self.jsc.removeSparkListener(self.logger)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _tail(walls: list[float]) -> str:
    """The highest percentile with at least ten samples beyond it."""
    n = len(walls)
    if n < 11:
        return f"none (n={n} passes; slowest pass {max(walls):.3f} s)"
    q = 100.0 * (n - 10) / n
    k = n - 11
    return f"p{q:.0f} pass wall {sorted(walls)[k]:.3f} s (n={n})"


def _ladder(workload, tracer, untraced: list[dict]) -> dict[str, float]:
    """Median wall time of every rung: prefix plans forced under the
    tracer, full operations taken from the untraced passes."""
    sc = workload.spark.sparkContext
    rungs = workload.rungs()
    times: dict[str, list[float]] = {r: [] for r in rungs}
    with tracer:
        for rep in range(LADDER_REPS):
            for r, run in rungs.items():
                sc.setJobGroup(f"ladder:{r}:{rep}", r)
                t = time.perf_counter()
                run()
                times[r].append(time.perf_counter() - t)
        sc.setJobGroup("bench", "untimed")
    out = {r: _median(ts) for r, ts in times.items()}
    for op in workload.ops():
        out[op.name] = _median([p["walls"][op.name] for p in untraced])
    return out


_SUMMED = (
    "tasks executor_run_s executor_cpu_s gc_s scan_bytes shuffle_write_bytes "
    "spill_bytes python_bytes_in python_bytes_out python_init_s"
).split()


def _layers(workload, n_pages, ladder_t, traced, untraced, log_path) -> dict:
    """Per-layer metrics from the ladder and the folded event log."""
    from eventlog import Record, fold
    from metrics import CANDIDATE_JOINS, PER_LAYER, self_metric

    out = {name: 0.0 for name, _, _ in PER_LAYER}
    self_total = 0.0
    for chain in workload.chains():
        prev = 0.0
        for rung in chain:
            out[self_metric(rung)] += ladder_t[rung] - prev
            self_total += ladder_t[rung] - prev
            prev = ladder_t[rung]

    recs = fold(log_path)
    op_names = [op.name for op in workload.ops()]
    per_pass = []
    for i in range(len(traced)):
        merged = Record()
        for name in op_names:
            r = recs.get(f"pass{i}:{name}")
            if r is None:
                continue
            for f in _SUMMED:
                setattr(merged, f, getattr(merged, f) + getattr(r, f))
            for sid, ts in r.task_run_s.items():
                merged.task_run_s[sid].extend(ts)
        per_pass.append(merged)
    for f in _SUMMED:
        out[f"spark.{f}"] = _median([getattr(r, f) for r in per_pass])
    out["spark.task_skew"] = _median([r.task_skew for r in per_pass])

    for j in CANDIDATE_JOINS:
        groups = [f"pass{i}:{j}" for i in range(len(traced))]
        cands = sum(recs[g].join_output_rows for g in groups if g in recs)
        matched = sum(p["matches"].get(j, 0) for p in traced)
        if matched:
            out[f"{j}.candidates_per_match"] = cands / matched

    if "pipeline.points" in ladder_t:
        pts = [recs[g] for g in recs if g.startswith("ladder:pipeline.points:")]
        out["pipeline.points.python_bytes_out"] = _median([r.python_bytes_out for r in pts])
        out["pipeline.points.python_worker_init_s"] = _median([r.python_init_s for r in pts])

    wall = _median([p["wall"] for p in untraced])
    out["ladder.pass_wall_s"] = wall
    out["ladder.sum_self_s"] = self_total
    out["ladder.unexplained_s"] = wall - self_total
    dps_u = n_pages / wall
    dps_t = n_pages / _median([p["wall"] for p in traced])
    out["trace.docs_per_s_untraced"] = dps_u
    out["trace.docs_per_s_traced"] = dps_t
    out["trace.overhead_pct"] = 100.0 * (dps_u / dps_t - 1.0)
    return out


def _stop_spark(spark) -> None:
    """Stop the context, then the driver JVM, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _wait_children(timeout_s: float = 30.0) -> None:
    from hostprobe import process_tree

    deadline = time.monotonic() + timeout_s
    while len(process_tree(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "fgcspark" / "pipeline.py").is_file():
        print(f"error: no fgcspark engine beside {HERE.name}/ in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    ncpu = len(os.sched_getaffinity(0))
    work = WORK / f"run-{os.getpid()}"
    _env(work, ncpu)
    trace = bool(args.trace)
    try:
        return _run(args, work, ncpu, trace)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            WORK.rmdir()  # only when no other run is using it
        except OSError:
            pass


def _run(args, work: Path, ncpu: int, trace: bool) -> int:
    import datagen
    import hostprobe
    from oracles import Expected
    from workloads import WORKLOADS

    info: dict = {"workload": args.workload, "seed": args.seed, "scale": datagen.SCALE}

    # inputs: generate in a child process while the driver JVM starts
    t0 = time.perf_counter()
    gen = None
    if not datagen.is_cached(DATA_CACHE, args.seed):
        gen = subprocess.Popen(
            [sys.executable, str(HERE / "datagen.py"), str(args.seed), str(DATA_CACHE)],
            stdout=subprocess.DEVNULL,
        )
    from fgcspark.session import get_spark

    base = None
    try:
        base = get_spark("fgcspark-bench", extra_conf=_spark_conf(work, trace))
        info["jvm_start_s"] = time.perf_counter() - t0
        if gen is not None and gen.wait() != 0:
            raise RuntimeError(f"data generation for seed {args.seed} failed")
        info["datagen_s"] = time.perf_counter() - t0 if gen is not None else 0.0
        data_dir = datagen.dataset_dir(DATA_CACHE, args.seed)
        expected = Expected(data_dir)
        n_pages = expected.n_pages
        workload = WORKLOADS[args.workload](data_dir, work, expected)

        sc = base.sparkContext
        tracer = Tracer(sc) if trace else None

        with hostprobe.RssSampler() as sampler:
            client = Client(workload, sampler)
            # set-up repetitions on fresh sessions; warm-up passes follow
            # the first, so the median is a warm set-up
            setup_times = []
            for rep in range(SETUP_REPS):
                t = time.perf_counter()
                spark = base.newSession()
                workload.setup(spark, rep)
                setup_times.append(time.perf_counter() - t)
                if rep == 0:
                    warm = info["warmup_s"] = []
                    while len(warm) < WARMUP_PASSES and sum(warm) < WARMUP_S:
                        t = time.perf_counter()
                        client.verify(client.run_pass(workload.ops()))
                        warm.append(round(time.perf_counter() - t, 3))

            sampler.peak = 0
            ceiling0 = hostprobe.busy_ceiling(ncpu)
            stat0 = hostprobe.proc_stat()
            if not trace:
                passes = client.loop(args.seconds)
            else:
                untraced, traced = client.paired_loop(args.seconds, tracer)
                ladder_t = _ladder(workload, tracer, untraced)
            stat1 = hostprobe.proc_stat()
            ceiling1 = hostprobe.busy_ceiling(ncpu)
            peak_rss = sampler.peak

        info["placement"] = hostprobe.placement(stat0, stat1, ceiling0, ceiling1, ncpu)
        info["confs"] = {k: spark.conf.get(k, None) or sc.getConf().get(k, None) for k in SHOWN_CONFS}
        info["confs"]["defaultParallelism"] = sc.defaultParallelism
        info["setup_reps_s"] = [round(x, 3) for x in setup_times]
        app_id = sc.applicationId
    finally:
        if gen is not None and gen.poll() is None:
            gen.kill()
            gen.wait()
        if base is not None:
            _stop_spark(base)
        _wait_children()

    if not trace:
        walls = [p["wall"] for p in passes]
        docs = n_pages * len(passes)
        metrics = {
            "docs_per_s": _median([n_pages / w for w in walls]),
            "cpu_s_per_kdoc": sum(p["cpu"] for p in passes) / (docs / 1000.0),
            "peak_rss_mb": peak_rss / 2**20,
            "out_bytes_per_doc": _median([p["out_bytes"] for p in passes]) / n_pages,
            "setup_s": _median(setup_times),
        }
        info["pass_wall_s"] = [round(w, 4) for w in walls]
        info["docs_per_s_tail"] = _tail(walls)
        info["op_wall_s"] = {
            k: round(_median([p["walls"][k] for p in passes]), 4) for k in passes[0]["walls"]
        }
        from metrics import END_TO_END as spec
    else:
        from eventlog import log_file
        from metrics import PER_LAYER as spec

        log = log_file(work / "eventlog", app_id)
        metrics = _layers(workload, n_pages, ladder_t, traced, untraced, log)
        pl = info["placement"]
        metrics["placement.busy_ceiling_before"] = pl["busy_ceiling_before"]
        metrics["placement.busy_ceiling_after"] = pl["busy_ceiling_after"]
        metrics["placement.steal_pct"] = pl["steal_pct_of_busy"]
        info["ladder_rung_s"] = {k: round(v, 4) for k, v in ladder_t.items()}

    error_rate = client.failed / client.attempted
    units = {name: unit for name, unit, _ in spec}
    for name, unit, _ in spec:
        print(f"{name} = {metrics[name]:.6g} {unit}")
    print(f"error_rate = {error_rate:.6g} share ({client.failed} of {client.attempted} operations)")
    for e in client.errors:
        print(f"FAILED {e}", file=sys.stderr)
    print(json.dumps({"detail": info}, default=str))
    result = {
        "correct": client.failed == 0,
        "attempted": client.attempted,
        "failed": client.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if client.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
