"""SparkSession factory with scale-aware defaults.

The reference runs five single-threaded pandas processes; here one
SparkSession hosts the whole engine. Local-mode settings below mirror
what the cluster profile would pin per-executor:

- AQE on (runtime partition coalescing + skew-join splitting) so the
  same plans survive 100x data growth without re-tuning.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE coalesces from a higher initial number.
- Session timezone pinned to UTC: the reference compares epoch-seconds
  timestamps (services/analytics/app.py:118-137) and the DuckDB oracle
  is UTC-naive — everything here is wall-clock UTC.
- Arrow enabled for the few Pandas-UDF paths (multimodal decode).
- The generated-class cache holds 4096 classes, above the distinct
  classes one pass over the bench headline compiles, so a re-run
  query reuses its compiled classes instead of paying Janino again.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def env_positive_int(name: str) -> int | None:
    """``$name`` as a positive integer, or None when it is unset. Any
    other value raises ValueError naming the variable and the value."""
    raw = os.environ.get(name)
    if raw is None:
        return None
    if raw.strip().isdecimal() and int(raw) > 0:
        return int(raw)
    raise ValueError(f"${name} must be a positive integer, got {raw!r}")


def local_cpus() -> int:
    """Cores for ``local[N]``: $SPARK_GRAFT_CPUS, or the host's core
    count when it is unset."""
    return env_positive_int("SPARK_GRAFT_CPUS") or os.cpu_count() or 4


def driver_memory() -> str:
    """``spark.driver.memory``: $SPARK_GRAFT_DRIVER_MEM, or, when it is
    unset, a quarter of the host's physical RAM in whole GB, clamped to
    1g-24g: the host is shared, and local mode runs every task thread
    in this one JVM. Local mode passes the value to the JVM as
    ``-Xmx``, so a set value must be a whole number with a k, m, g or t
    unit, as Spark documents for this setting; anything else raises
    ValueError naming the variable and the value."""
    raw = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if raw is None:
        ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
        return f"{max(1, min(24, int(ram_gb // 4)))}g"
    if re.fullmatch(r"[1-9][0-9]*[kmgt]", raw, re.IGNORECASE):
        return raw
    raise ValueError(
        f"$SPARK_GRAFT_DRIVER_MEM must be a size such as 512m or 24g, got {raw!r}"
    )


def get_spark(
    app_name: str = "big_data_data_lake_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``cpus`` defaults to ``local_cpus()``.
    """
    memory = driver_memory()
    if cpus is None:
        cpus = local_cpus()
    if shuffle_partitions is None:
        # Shuffle partitions must be sized to DATA VOLUME, not fixed:
        # measured 2x faster at 4x cores on 10x data (the sf1
        # inverted-index join spills at core-count partitions), but
        # 2-3x SLOWER at calibration SF (persisted intermediates keep
        # the inflated partitioning — AQE coalesces shuffle reads, not
        # caches or explicit repartitions). Default matches the cores
        # for the per-round SF; the 10x sweep raises it via
        # $SPARK_GRAFT_SHUFFLE_PARTITIONS — the same knob a cluster
        # operator turns with the dataset.
        shuffle_partitions = env_positive_int(
            "SPARK_GRAFT_SHUFFLE_PARTITIONS"
        ) or max(cpus, 4)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE re-partition CACHED plans too (default false). The
        # engine persists hot intermediates (scoped_persist: inverted
        # indexes, sketch tables); with the default, every cached plan
        # is pinned to the INITIAL shuffle-partition count and exempt
        # from AQE coalescing — at sf1's volume-sized 128 partitions
        # the cache-heavy corpus aggregates paid 3-4x scheduling/
        # small-block overhead (r10 root-cause of the chronic
        # dsir/bigram "in-bench movers": dsir 20.0s -> 7.6s, bigram
        # 8.4s -> 6.2s median at sp=128 with this on; SCALE.md r10).
        # The trade (Spark disables it by default so cached output
        # partitioning stays reusable deterministically) does not
        # bind here: every consumer re-shuffles on its own keys or
        # aggregates, and the registry's layout-invariance sweep
        # attests results are partitioning-independent.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The lake's event stream lands with nanosecond timestamps
        # (parquet TIMESTAMP(NANOS)), which vanilla Spark rejects. Read
        # them as raw nanos; the catalog re-types to microsecond
        # timestamps (sources/catalog.py) — same truncation DuckDB does.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Testdata parquet carries naive timestamp[us] (isAdjustedToUTC
        # = false). Spark 4 would infer TIMESTAMP_NTZ, which breaks
        # epoch functions (unix_micros & co. take LTZ only). With the
        # session timezone pinned UTC above, reading them as plain
        # TIMESTAMP is bit-identical to DuckDB's naive semantics.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Spark's production default (10 MB). Rounds 1-8 raised this to
        # 256 MB for the fat single box; round-9 A/B measurements
        # killed that tuning: at 10 MB the 15 optimizer-promoted
        # fact-side broadcasts resolve to the shuffle joins the query
        # docstrings describe, and the monitored set runs 2-9x FASTER
        # at sf10, 20% faster at sf1, and even at sf0.1 (SCALE.md,
        # round-9 A/B). It also caused the Q4 cliff
        # (late_order_priority_counts, 4.6x standalone). Matching the
        # production default means local plan shapes ARE the cluster
        # plan shapes. Explicit broadcast() hints still pin every
        # known-small dimension regardless of the threshold.
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # Spark's generated-class cache (static, default 100 entries)
        # is an LRU smaller than one pass over the registry, so every
        # re-run of a query compiled its classes again: the 20-query
        # analytics_light pass compiles about 366 classes, and its
        # timed re-run compiled 368 (13 with this cache). One pass of
        # bench.HEADLINE compiles 2,359 distinct classes at sf0.01 and
        # the same 2,359 at sf0.1 (local[4]): the count follows plan
        # shapes, not data size, so the cache is sized to the
        # registry, with headroom.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # local mode runs every task thread inside the driver JVM — size
        # the heap for all of them, not for a lone driver process
        .config("spark.driver.memory", memory)
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compiles this JVM has run so far (Spark's
    ``CodegenMetrics``). A generated class is compiled on its first use
    and again only after the codegen cache has evicted it; in local mode
    the driver and every task share the one JVM, so this counts both."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
