"""Session defaults follow the host: driver heap from MemTotal, shuffle
partitions from the usable CPU count, env overrides unchanged."""

from __future__ import annotations

from fgcspark.session import default_driver_mem, default_parallelism


def _meminfo(tmp_path, kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {kb} kB\nMemFree:        1024 kB\n")
    return str(p)


def test_driver_mem_is_half_of_memtotal(tmp_path):
    assert default_driver_mem(_meminfo(tmp_path, 16 * 1024 * 1024)) == "8192m"
    assert default_driver_mem(_meminfo(tmp_path, 16479424)) == "8046m"


def test_driver_mem_is_capped_and_floored(tmp_path):
    assert default_driver_mem(_meminfo(tmp_path, 512 * 1024 * 1024)) == "49152m"
    assert default_driver_mem(_meminfo(tmp_path, 1024 * 1024)) == "1024m"


def test_driver_mem_without_meminfo(tmp_path):
    assert default_driver_mem(str(tmp_path / "absent")) == "1g"
    (tmp_path / "garbled").write_text("nothing here\n")
    assert default_driver_mem(str(tmp_path / "garbled")) == "1g"


def test_parallelism_env_override_and_host_fallback(monkeypatch):
    import os

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_parallelism() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert default_parallelism() == len(os.sched_getaffinity(0))


def test_session_uses_the_defaults(spark):
    # the test session passes explicit cores and shuffle partitions;
    # the driver heap comes from FGC_DRIVER_MEM or the host default
    import os

    want = os.environ.get("FGC_DRIVER_MEM") or default_driver_mem()
    assert spark.conf.get("spark.driver.memory") == want
