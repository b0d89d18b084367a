"""SparkSession factory with the engine's parity + scale defaults.

The reference hand-tunes concurrency (20 fetch / 20 write semaphores,
pool 20/10, channel cap 1000 — /root/reference/extractor.go:250-268).
On Spark those become declarative knobs: shuffle partitions, AQE,
maxRecordsPerFile. This module centralizes them so every entry point
(tests, bench, driver) runs the same tuned session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Rows per output file — parity with the reference's 100k-row sink
# batches (/root/reference/extractor.go:119).
DEFAULT_MAX_RECORDS_PER_FILE = 100_000


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def default_driver_memory() -> str:
    """Driver heap: the smaller of 32g and half the host's physical
    memory. A fixed 32g let the heap grow past what a 15 GB host has,
    and the kernel's OOM killer ended the JVM (the scale-up smoke
    peaks at 7.2 GB RSS under a 6g heap). ``SPARK_GRAFT_DRIVER_MEM``
    overrides it for a deployment."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(32 * 1024, phys_mb // 2)}m"


def get_spark(
    app_name: str = "golang_etl_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Local mode for CI; the same config block is what we'd ship to a
    real cluster (AQE + skew-join handle runtime re-planning there).
    """
    cpus = default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # shuffle partitions ~ cores for local; AQE coalesces at runtime
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Size-first coalescing (r17, guide §2.2/§9): with the default
        # parallelismFirst=true AQE ignores the advisory size and
        # merely pads partitions out to the parallelism, so every
        # reduce stage schedules ~cores tasks no matter how little
        # data crossed the exchange. parallelismFirst=false makes the
        # runtime derive the post-shuffle partition count from the
        # actual shuffle bytes (advisory 256 MB per partition — the
        # guide's batch-ETL baseline), which is the scale-adaptive
        # behavior: kilobyte exchanges at test SFs collapse to one
        # task, and at 100 TB the same setting yields the 100 MB-1 GB
        # partitions §2.2 targets. Map-side parallelism (scans, heavy
        # per-row compute) is untouched — only post-exchange merge
        # granularity changes. A/B at sf0.1 (interleaved in one
        # session): 12-query mix 7.07s -> 6.51s, no per-query
        # regression beyond noise.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256MB")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE SMJ -> shuffled-hash conversion: left at the Spark
        # default (0 = off). r17 set 64 MB claiming a runtime
        # conversion win, but DynamicJoinSelection.preferShuffledHash-
        # Join requires advisoryPartitionSizeInBytes <= this threshold
        # — with the 256 MB advisory above, 64 MB could NEVER fire
        # (verified against the Spark 4.1.2 bytecode; ADVICE r17).
        # r18 then A/B-ed the only value that CAN fire (256 MB = the
        # advisory) interleaved in one session and it was a consistent
        # ~10% LOSS on the join-heavy dedup paths (dedup_keep_longest
        # 2.61/2.14s vs 2.44/1.92s; dedup_fuzzy_keep_one 1.94/1.77s vs
        # 1.94/1.55s) with no measured winner elsewhere — the sorts it
        # skips are tiny at these key cardinalities while the hint
        # suppresses later broadcast re-planning. Measured and
        # rejected.
        # deterministic timestamps vs the DuckDB oracle
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for every pandas-UDF / toPandas boundary
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # fixture events.ts is parquet TIMESTAMP(NANOS); Spark lacks a
        # nanos type — read as long, normalized in sources.catalog
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.maxRecordsPerFile", str(DEFAULT_MAX_RECORDS_PER_FILE))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", default_driver_memory()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Generated-code cache: Spark's default keeps 100 compiled
        # classes, fewer than a mix of ten star-schema/window/
        # similarity queries generates, so the LRU evicted every entry
        # once per cycle and each operation recompiled and re-JITed its
        # code (perfbench query_mix, 4 vCPU: 34.4 classes loaded and
        # 0.90 s JIT per operation in steady state). 4000 entries hold
        # the whole working set. Static conf: it takes effect only when
        # the first session of the JVM is built.
        .config("spark.sql.codegen.cache.maxEntries", "4000")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
