"""Session factory: JVM launch options of a local-mode session."""

from __future__ import annotations


def test_local_session_caps_jit_compiler_threads(spark):
    """In local mode the driver JVM runs every task thread, so
    ``get_spark`` caps HotSpot at the tiered minimum of two compiler
    threads; the flag must reach the launched JVM's command line."""
    runtime = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    args = list(runtime.getInputArguments())
    assert "-XX:CICompilerCount=2" in args, args


def test_default_driver_memory_is_capped_at_half_the_host(monkeypatch):
    """Without ``SPARK_GRAFT_DRIVER_MEM`` the driver heap is 48g or half
    of the host's physical memory, whichever is smaller; the variable,
    when set, wins on any host."""
    from hrtech_etl_spark.core import session

    gib_pages = 2**30 // 4096

    def host(gib):
        sizes = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gib * gib_pages}
        monkeypatch.setattr(session.os, "sysconf", lambda name: sizes[name])

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    host(16)
    assert session._driver_memory() == "8192m"
    host(256)
    assert session._driver_memory() == "49152m"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert session._driver_memory() == "2g"
