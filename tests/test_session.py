"""The session's JVM runs the engine's one JIT/GC policy
(``session.JVM_OPTIONS``), and a caller's own JVM flags still reach it."""

from __future__ import annotations

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
