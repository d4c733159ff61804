"""``session.build_session`` defaults that depend on the machine."""

import os

from arthur_redshift_etl_spark.session import CODEGEN_CACHE_ENTRIES, default_cpus


def test_default_cpus_reads_the_env(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3


def test_default_cpus_falls_back_to_the_process_cores(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "")
    assert default_cpus() == len(os.sched_getaffinity(0))


def test_session_keeps_a_pass_of_codegen_classes(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
