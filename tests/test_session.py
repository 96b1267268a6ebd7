"""Session defaults: cores and driver heap come from the host unless the
environment names them."""

import os

from entity_extractor_linker_api_v2_spark.session import host_defaults


def _meminfo(tmp_path, total_kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {total_kb} kB\n"
                 "MemFree:         1024 kB\n")
    return str(p)


def test_host_defaults_fit_the_host(tmp_path, monkeypatch):
    """Cores = the CPU affinity mask; heap = half of MemTotal, capped at
    16 GB; SPARK_GRAFT_CPUS and SPARK_DRIVER_MEMORY override either."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    cores = len(os.sched_getaffinity(0))
    # a 15.7 GB host without swap: an 8 GB heap, not 16 GB
    assert host_defaults(_meminfo(tmp_path, 16_434_000)) == (cores, "8024m")
    assert host_defaults(_meminfo(tmp_path, 64 * 1024 * 1024)) == (cores, "16384m")

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3072m")
    assert host_defaults(str(tmp_path / "absent")) == (3, "3072m")
