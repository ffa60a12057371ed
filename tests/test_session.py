"""The session's JVM runs the engine's one JIT/GC policy
(``session.JVM_OPTIONS``), and a caller's own JVM flags still reach it."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from ckg_spark.session import JVM_OPTIONS, get_spark


def test_session_jvm_runs_the_policy(spark):
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    args = list(mf.getRuntimeMXBean().getInputArguments())
    for flag in JVM_OPTIONS.split():
        assert flag in args, (flag, args)
    gcs = sorted(b.getName() for b in mf.getGarbageCollectorMXBeans())
    assert gcs == ["PS MarkSweep", "PS Scavenge"]


def test_caller_java_options_are_kept(monkeypatch):
    """The policy rides in ``defaultJavaOptions``, which the launcher puts
    before ``extraJavaOptions``: the caller's value is passed untouched
    and its flags win. Checked on the builder's conf; no JVM is started."""
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: dict(self._options))
    mine = "-XX:+UseG1GC -Dckg.caller=1"
    conf = get_spark(extra_conf={"spark.driver.extraJavaOptions": mine})
    assert conf["spark.driver.extraJavaOptions"] == mine
    assert conf["spark.driver.defaultJavaOptions"] == JVM_OPTIONS


def test_default_heap_is_capped_by_host_memory(monkeypatch):
    """The default heap is ~1 GB/core with a 16 GB floor, but never more
    than three quarters of physical memory; SPARK_GRAFT_DRIVER_MEM still
    wins. Checked on the builder's conf; no JVM is started."""
    import os

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: dict(self._options))
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)

    def host(gb):
        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gb * 2**30 // 4096}
        monkeypatch.setattr(os, "sysconf", lambda name: pages[name])

    host(16)
    assert get_spark(cores=4)["spark.driver.memory"] == "12288m"
    host(256)
    assert get_spark(cores=4)["spark.driver.memory"] == "16384m"
    assert get_spark(cores=32)["spark.driver.memory"] == "32768m"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "6g")
    host(16)
    assert get_spark(cores=4)["spark.driver.memory"] == "6g"
