import os

from kgforge.conf import _local_dirs, driver_memory, spark_cpus


def test_spark_cpus_defaults_to_host_cores(monkeypatch):
    """Without SPARK_GRAFT_CPUS a plain run takes one task slot per core
    this process may use; the variable still overrides it."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert spark_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert spark_cpus() == 3


def test_driver_memory_fits_the_host(monkeypatch):
    """Without KGF_DRIVER_MEM the heap is the smaller of 16g and half the
    host's physical memory; the variable still overrides it."""
    monkeypatch.delenv("KGF_DRIVER_MEM", raising=False)
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2 // 2**20
    assert driver_memory() == f"{min(16 * 1024, half_mb)}m"
    assert int(driver_memory()[:-1]) <= half_mb
    monkeypatch.setenv("KGF_DRIVER_MEM", "2g")
    assert driver_memory() == "2g"


def test_spill_defaults_to_spark(monkeypatch):
    """Without KGF_LOCAL_DIR spill goes where Spark puts it by default,
    never to RAM-backed storage; the variable still overrides it."""
    monkeypatch.delenv("KGF_LOCAL_DIR", raising=False)
    assert _local_dirs() is None
    monkeypatch.setenv("KGF_LOCAL_DIR", "/tmp/kgf_spill")
    assert _local_dirs() == "/tmp/kgf_spill"
