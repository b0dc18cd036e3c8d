"""The driver JVM's JIT policy and the counters that show it.

``get_spark`` launches the driver JVM with C1 only
(``-XX:TieredStopAtLevel=1``) and pins the code cache at 240 MB. The two
flags go together: C1 only on its own shrinks HotSpot's default code
cache to 48 MB, which the query library overflows ("Out of space in
CodeCache for adapters" kills the JVM), so both are checked on the
running session, not on the conf string.
"""

from __future__ import annotations

from vrod_spark.session import jvm_counters


def _vm_option(spark, name: str) -> str:
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    return str(bean.getVMOption(name).getValue())


def test_driver_jvm_is_c1_only_with_a_full_size_code_cache(spark):
    assert int(_vm_option(spark, "TieredStopAtLevel")) == 1
    assert int(_vm_option(spark, "ReservedCodeCacheSize")) >= 240 * 2**20
    args = list(
        spark.sparkContext._jvm.java.lang.management.ManagementFactory
        .getRuntimeMXBean().getInputArguments()
    )
    assert "-XX:TieredStopAtLevel=1" in args
    assert "-XX:ReservedCodeCacheSize=240m" in args


def test_jvm_counters_keys_and_growth(spark):
    first = jvm_counters(spark)
    assert set(first) == {
        "compile_ms", "gc_ms", "gc_count", "used_mb", "peak_mb", "jvm_cpu_s",
    }
    # Work that compiles and collects between the two reads.
    spark.range(200_000).selectExpr("id % 13 AS g").groupBy("g").count().collect()
    second = jvm_counters(spark)
    # Cumulative counters never decrease; the code cache's current use is
    # a level, not a total, so it is only bounded by its own peak.
    for key in ("compile_ms", "gc_ms", "gc_count", "peak_mb", "jvm_cpu_s"):
        assert second[key] >= first[key] >= 0, key
    assert second["jvm_cpu_s"] > first["jvm_cpu_s"]
    assert 0 < second["used_mb"] <= second["peak_mb"] < 240
