"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[N]`` (single JVM); the config posture is
nonetheless written for a multi-executor cluster: AQE handles runtime
re-planning (skew joins, partition coalescing), shuffle partitions are
explicit, Arrow is on for every Python<->JVM boundary, the compiled-code
cache holds the whole catalogue's generated classes so a long-lived
session does not recompile them (``CODEGEN_CACHE_ENTRIES``), and the
session timezone is pinned to UTC so timestamp semantics are
deterministic and engine-independent (the reference pipeline instead
stamped dates with a module-import-time constant — scrap_tokopedia.py:23
— a semantics we deliberately replace, see SURVEY.md §7.4).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Entries in the JVM-wide LRU cache of compiled codegen classes (static
# conf spark.sql.codegen.cache.maxEntries). At Spark's default of 100, a
# warm pass over the catalogue recompiles nearly all of it. One cold
# pass over all 200 registered queries, with a cache too large to evict,
# compiles 2,570 distinct classes at sf0.01 and 2,570 at sf0.1 (2,600
# with bench.py's warm-up); this is the smallest power of two >= 1.5x
# that. Envelope, enforced by the cache's maximumSize: ~8 KB Metaspace
# and ~34 KB heap per entry (full catalogue resident: +21 MB Metaspace,
# +88 MB heap after GC over the default), so at most ~35 MB Metaspace
# and ~140 MB heap more than the default at the cap.
CODEGEN_CACHE_ENTRIES = 4096


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if not cpus:
        return os.cpu_count() or 8
    try:
        n = int(cpus)
    except ValueError:
        n = 0
    if n < 1:
        raise ValueError(f"SPARK_GRAFT_CPUS must be an integer >= 1, "
                         f"got {cpus!r}")
    return n


def get_session(app_name: str = "unilever_scraping_etl_spark",
                shuffle_partitions: int | None = None,
                extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    At 100 TB on a real cluster the same knobs apply with different
    values: ``spark.sql.shuffle.partitions`` sized to ~128 MB of
    post-shuffle data per partition (AQE coalesces the remainder),
    ``maxPartitionBytes`` left at 128 MB so scan tasks stay cache-sized,
    and adaptive skew-join splitting enabled for hot keys.
    """
    n = default_parallelism()
    sp = shuffle_partitions if shuffle_partitions is not None else n
    builder = (
        SparkSession.builder
        .master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{n}]"))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Push min/max/count aggregates into parquet footers (metadata-only
        # scans for bare aggs) and inject runtime bloom filters on the big
        # side of selective joins — both free wins that matter most at scale.
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def classes_compiled(spark: SparkSession) -> int:
    """Classes Spark's code generator has compiled so far in this JVM:
    one per cache miss, so a cached plan adds nothing."""
    return (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME().getCount())
