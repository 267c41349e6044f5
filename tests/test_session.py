"""Session factory: JVM launch options of a local-mode session."""

from __future__ import annotations


def test_local_session_caps_jit_compiler_threads(spark):
    """In local mode the driver JVM runs every task thread, so
    ``get_spark`` caps HotSpot at the tiered minimum of two compiler
    threads; the flag must reach the launched JVM's command line."""
    runtime = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    args = list(runtime.getInputArguments())
    assert "-XX:CICompilerCount=2" in args, args
