"""Session defaults: the local master and the driver heap are sized to
the host, not fixed."""

import os

from dynamodb_zero_etl_s3tables_spark.session import driver_memory, local_cpus


def test_local_cpus_defaults_to_usable_cores(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert local_cpus() == str(len(os.sched_getaffinity(0)))


def test_local_cpus_honours_the_environment(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cpus() == "3"


def test_driver_memory_defaults_to_half_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    gib = int(driver_memory().removesuffix("g"))
    assert gib == max(1, phys // 2 // 2**30)
    assert gib * 2**30 <= max(phys // 2, 2**30)


def test_driver_memory_honours_the_environment(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert driver_memory() == "3g"
