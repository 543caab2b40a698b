"""SparkSession factory with scale-oriented defaults.

Defaults are tuned so the same code runs on local[N] for tests and on a large
cluster unchanged: AQE on (runtime coalescing + skew-join handling), a
shuffle-partition count that AQE can coalesce down from, and Arrow enabled for
the few Pandas-UDF paths (multimodal stubs).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _physical_memory_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")  # MemTotal


def host_sizing() -> tuple[int, str]:
    """Default ``local[N]`` cores and driver heap: the CPUs this process may
    run on, and 3/4 of physical memory but at most 48g, so a small host is
    not handed a heap larger than its RAM. ``SPARK_GRAFT_CPUS`` and
    ``SPARK_DRIVER_MEMORY`` override them."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    memory = os.environ.get("SPARK_DRIVER_MEMORY") or (
        f"{min(48 * 1024, _physical_memory_bytes() * 3 // 4 // 2**20)}m"
    )
    return int(cpus), memory


def get_spark(
    app_name: str = "etdtransform-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus, driver_memory = host_sizing()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 32)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Parquet TIMESTAMP(NANOS) is otherwise unreadable (PARQUET_TYPE_ILLEGAL);
        # read as long and convert via sources.parquet.read_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Bare MIN/MAX/COUNT over a parquet scan answers from row-group
        # footer statistics instead of reading data (off by default; Spark
        # falls back automatically when a query shape is unsupported, e.g.
        # filters present or nested columns).
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        # local[N] puts scheduler + all executor threads in ONE JVM: an
        # undersized heap turns into random multi-10s full-GC stalls under
        # many-thread load, an oversized one into the OOM killer.
        .config("spark.driver.memory", driver_memory)
        # Force the sort-based shuffle writer even for <200 reduce
        # partitions. The bypass-merge writer (default when reduce count is
        # below spark.shuffle.sort.bypassMergeThreshold=200) opens a file +
        # compression stream PER (map task × reduce partition) — at the
        # test scale's 32×32 shuffles that is 1,024 stream initializations
        # per exchange, measured 7.7 s of executor CPU for a 17k-row
        # groupBy vs 0.33 s with the sort writer (23×). Production reduce
        # counts are far above 200, so the bypass path never runs there —
        # this setting makes local runs take the SAME shuffle path the
        # cluster takes, instead of a small-N special case that dominates
        # small-scale CPU.
        .config("spark.shuffle.sort.bypassMergeThreshold", "1")
        # Long sessions running many expression-heavy plans accumulate
        # whole-stage-codegen classes; once the JIT code cache fills, the JVM
        # silently stops compiling and queries run interpreted (10-50x).
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def enable_runtime_bloom_pruning(
    spark: SparkSession, application_side_threshold: str = "0"
) -> None:
    """Turn on Catalyst's runtime bloom-filter join pruning: when a selective
    filter sits on the build side of a shuffle join, Spark injects a
    `bloom_filter_agg` subquery on that side and a `might_contain` filter on
    the probe side, so probe rows that cannot match are dropped AT THE SCAN,
    before the shuffle. This is the semi-join reduction that matters most at
    100 TB: a 1%-selective dimension predicate shrinks the fact shuffle ~100×
    with no code change to the query.

    ``application_side_threshold`` guards against injecting the filter where
    the probe scan is too small to profit — Spark's default is 10GB; local
    tests pass "0" so the rewrite is observable at test scale. Runtime
    configs, so safe to flip per stage.
    """
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold",
        application_side_threshold,
    )
