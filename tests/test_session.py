"""Session defaults: the local master is sized to the host, not fixed."""

import os

from dynamodb_zero_etl_s3tables_spark.session import local_cpus


def test_local_cpus_defaults_to_usable_cores(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert local_cpus() == str(len(os.sched_getaffinity(0)))


def test_local_cpus_honours_the_environment(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cpus() == "3"
