"""SparkSession factory.

Defaults are tuned for correctness-vs-oracle comparison (UTC session
timezone; ANSI mode is Spark's default, on) and for scale (AQE on,
skew-join handling on, a fixed 32 shuffle partitions, overridable for
a real cluster via SPARK_GRAFT_SHUFFLE_PARTITIONS, and a
generated-class cache that holds every class the registry's
whole-stage codegen generates).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_heap() -> str:
    """16g on the bench-class host, halved down on smaller ones
    (heap findings documented at the config call below)."""
    try:
        total_gb = (
            os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        ) / (1024**3)
    except (ValueError, OSError):
        return "8g"
    if total_gb >= 64:
        return "16g"
    if total_gb >= 32:
        return "8g"
    if total_gb >= 16:
        # mid-size hosts previously got the 8g default; 4g can newly
        # OOM Arrow-heavy queries that fit before, so hold 6g here
        return "6g"
    return "4g"


def get_spark(
    app_name: str = "elt_data4transformation_spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
    )
    heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_heap())
    # log the chosen heap so a heap-tier regression on a differently
    # sized host is diagnosable from the run output alone
    print(f"[session] driver heap {heap} (override: SPARK_GRAFT_DRIVER_MEM)")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # single-JVM local mode puts driver + executors + broadcasts +
        # Arrow buffers in ONE heap; 8g measurably GC-thrashed the
        # tail of full-registry bench runs (Arrow-batched decode
        # queries ran 5-15x slow once ~200 queries' stores/broadcasts
        # accumulated — round 8). 16g, not more: 32g measurably
        # SLOWED allocation-bursty single-query plans ~2.5x
        # (title_dedup_merge 2.6 -> 6.6 s steady — G1 region/young-gen
        # geometry at large heaps), while 16g holds both families.
        # Scaled down on small hosts so a memory-limited container
        # isn't handed an -Xmx it cannot back. Override via
        # SPARK_GRAFT_DRIVER_MEM. On a real cluster the driver never
        # holds executor state, so this is a local-mode sizing
        # concern, not a scale parameter.
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
        # Spark's generated-class cache (CodeGenerator.cache, an LRU
        # keyed by source text) defaults to 100 entries, but one pass of
        # perfbench's dashboard mix generates 127 distinct classes and
        # one ingest pass 118: at 100 a cycled mix evicts every class
        # before its next use and Janino-compiles about 9 per op (795 ms
        # per dashboard pass), then runs them un-JITted. All 214
        # queries plus their prepare hooks generate about 2870 distinct
        # classes at sf0.001 (about 3420 with the stage id below in the
        # class name; metaspace 240 MB), so 4096 holds the working set.
        # A static conf: it only takes effect on the builder.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # On, the codegen stage id is part of each class name, and AQE
        # numbers query stages in the order they are planned, which
        # varies run to run: a re-run over unchanged inputs would
        # generate new source text (74 compiles in 11 queries on a
        # second registry pass at sf0.001). Off, equal stage code is one
        # class, within a query, across runs and across queries.
        .config("spark.sql.codegen.useIdInClassName", "false")
        # keep stderr for log lines, not `[Stage N:>` progress bars
        .config("spark.ui.showConsoleProgress", "false")
    )
    # Optional JVM-flag passthrough (round 11): lets GC/region-geometry
    # experiments run as session-shaped A/B (the ParallelGC lesson:
    # per-query pairs mislead for session knobs) without editing code.
    # Unset (the default) the session is byte-identical to round 10's.
    java_opts = os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTIONS")
    if java_opts:
        print(f"[session] driver java opts {java_opts}")
        builder = builder.config(
            "spark.driver.extraJavaOptions", java_opts
        )
    return builder.getOrCreate()
