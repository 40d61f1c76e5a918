"""The driver JVM's flags: the C1-only JIT default and its one override."""

from __future__ import annotations

import pytest

from signalk_parquet_spark import session


def test_driver_java_opts_default_and_override(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_JAVA_OPTS", raising=False)
    assert session.driver_java_opts() == session.DRIVER_JAVA_OPTS
    assert "-XX:TieredStopAtLevel=1" in session.DRIVER_JAVA_OPTS.split()
    # the override replaces the whole default string, so a deployment can
    # turn C2 back on by leaving the flag out
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_JAVA_OPTS", "-XX:MetaspaceSize=2g")
    assert session.driver_java_opts() == "-XX:MetaspaceSize=2g"


def test_driver_jvm_compiles_with_c1_only(spark):
    """The running driver JVM took the default flags: HotSpot reports
    tiered compilation stopping at level 1 (C1, no C2), with the code
    cache reserved at 240 MB rather than the C1-only 48 MB."""
    if session.driver_java_opts() != session.DRIVER_JAVA_OPTS:
        pytest.skip("driver JVM flags overridden by SPARK_GRAFT_DRIVER_JAVA_OPTS")
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    assert bean.getVMOption("TieredStopAtLevel").getValue() == "1"
    assert bean.getVMOption("ReservedCodeCacheSize").getValue() == str(240 << 20)
