"""The session factory: `get_spark`'s pinned configuration, its
background worker prewarm and keepalive, and the Iceberg catalog seam."""

from __future__ import annotations

import pytest


def test_page_size_below_g1_humongous_threshold(spark):
    """No Tungsten page is a G1 humongous object: an on-heap page is a
    long[] of the page size plus a 16-byte header, and G1 allocates any
    object of half a region or more straight into old-gen regions."""
    jvm = spark.sparkContext._jvm
    diag = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName(
            "com.sun.management.HotSpotDiagnosticMXBean"))
    if diag.getVMOption("UseG1GC").getValue() != "true":
        pytest.skip("the driver JVM does not run G1")
    region = int(diag.getVMOption("G1HeapRegionSize").getValue())
    page = jvm.org.apache.spark.SparkEnv.get().memoryManager().pageSizeBytes()
    assert page + 16 < region // 2, (page, region)


def test_worker_keepalive_tick_runs_and_detects_stop(spark):
    """The session keepalive beat (a 1-row Python job refreshing
    PythonWorkerFactory's idle timer so the 60s monitor never culls the
    warm worker pool) runs clean on a live session and reports a
    stopped context instead of raising."""
    from oscar_spark import session as sess
    assert sess._keepalive_tick(spark) is True

    class _Stopped:
        sparkContext = type("SC", (), {"_jsc": None})()

    assert sess._keepalive_tick(_Stopped()) is False


def test_prewarm_thread_started_by_get_spark(spark):
    """get_spark launches the async prewarm/keepalive thread at most
    once per context (flag set on the SparkContext)."""
    assert getattr(spark.sparkContext, "_oscar_prewarmed", False)


# ---- Iceberg catalog smoke: runs for real when a runtime jar is on
# hand (see session.find_iceberg_jar); without one the index store is
# partitioned parquet plus a manifest and the roundtrip skips ----

def test_iceberg_jar_detection_is_honest():
    from oscar_spark.session import find_iceberg_jar
    jar = find_iceberg_jar()
    # None without a jar; with one the roundtrip test below takes
    # over.  Either way the seam is real.
    assert jar is None or jar.endswith(".jar")


@pytest.mark.skipif(
    __import__("oscar_spark.session", fromlist=["find_iceberg_jar"])
    .find_iceberg_jar() is None,
    reason="no iceberg-spark-runtime jar found (ICEBERG_JAR or the "
           "Spark jars directories) — the parquet+manifest store is the "
           "operative path; this test runs wherever the jar exists")
def test_iceberg_catalog_roundtrip(spark, pages_df):
    """SURVEY §1.2 writeTo mapping: create, append, snapshot-read."""
    spark.sql("CREATE NAMESPACE IF NOT EXISTS oscar.smoke")
    df = pages_df.limit(20).select("url", "text")
    df.writeTo("oscar.smoke.pages_rt").using("iceberg").createOrReplace()
    n0 = spark.table("oscar.smoke.pages_rt").count()
    df.writeTo("oscar.smoke.pages_rt").append()
    assert spark.table("oscar.smoke.pages_rt").count() == 2 * n0
    snaps = spark.sql(
        "SELECT COUNT(*) AS n FROM oscar.smoke.pages_rt.snapshots"
    ).collect()[0]["n"]
    assert snaps >= 2
