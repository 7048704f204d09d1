import os

from kgforge.conf import spark_cpus


def test_spark_cpus_defaults_to_host_cores(monkeypatch):
    """Without SPARK_GRAFT_CPUS a plain run takes one task slot per core
    this process may use; the variable still overrides it."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert spark_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert spark_cpus() == 3
