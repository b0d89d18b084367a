"""Physical-layout operators: partitioned parquet sinks with
partition-pruned readback, and bucketed tables with exchange-free
co-located joins.

The reference writes flat parquet files (SURVEY.md §2.1 S4-S6); at
100 TB layout IS the optimization — these two operators are the
standard levers:

- **Partitioning** (``partitionBy``): directory-per-value layout so a
  filter on the partition column prunes whole directories at planning
  time (``PartitionFilters`` in the scan, zero I/O for pruned values).
  Choose low-cardinality columns; high-cardinality partitioning
  creates the small-files problem.
- **Bucketing** (``bucketBy`` + ``sortBy``): pre-shuffle the table
  into N hash buckets on the join key at WRITE time; every future
  join/aggregation on that key skips its Exchange (the single biggest
  cost in a fact-fact join). The classic "pay the shuffle once"
  trade.

Both queries write to a per-uid temp dir, read back, and return an
aggregate the DuckDB oracle replays over the original fixture —
proving the layout round-trip is lossless.

Plan gates: tests/test_plans.py asserts PartitionFilters appears in
the pruned scan and that the bucketed join plans with NO Exchange
under the SortMergeJoin.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from golang_etl_spark.registry import register
from golang_etl_spark.sources.catalog import load_table

N_BUCKETS = 8

# per-process artifacts to reap at interpreter exit: the temp root and
# any pid-suffixed catalog tables created by bucketed_join_frames.
# Without this every process leaves a full bucketed copy of
# orders+lineitem in /tmp and stale table metadata behind.
_cleanup = {"registered": False, "root": None, "tables": set()}


def _reap_layout_artifacts() -> None:
    try:
        spark = SparkSession.getActiveSession()
        if spark is not None:
            for t in sorted(_cleanup["tables"]):
                spark.sql(f"DROP TABLE IF EXISTS {t}")
    except Exception:
        pass  # JVM may already be down; the files go with the root
    if _cleanup["root"]:
        shutil.rmtree(_cleanup["root"], ignore_errors=True)


def _layout_root() -> str:
    root = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_layout_{os.getuid()}_{os.getpid()}",
    )
    if not _cleanup["registered"]:
        _cleanup["root"] = root
        _cleanup["registered"] = True
        atexit.register(_reap_layout_artifacts)
    return root


def _layout_dir(kind: str, sf_dir: str) -> str:
    # keyed by uid AND pid: these dirs are rewritten with
    # mode("overwrite"), so two concurrent sessions sharing a path
    # would race (one session's overwrite deleting part-files under
    # the other's in-flight scan). Per-process isolation makes every
    # rewrite idempotent within its own session and immune to
    # neighbors; the dirs are reaped at process exit.
    d = os.path.join(
        _layout_root(), hashlib.md5(sf_dir.encode()).hexdigest()[:12], kind
    )
    os.makedirs(os.path.dirname(d), exist_ok=True)
    return d


_PARTITIONED_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 4) AS total_value
FROM events
WHERE event_type IN ('click', 'purchase')
GROUP BY event_type
"""


@register(
    "sink_partitioned_pruned", oracle=_PARTITIONED_ORACLE, tags=("sink", "layout")
)
def sink_partitioned_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write events partitioned by event_type, read back with a
    partition filter, aggregate. The readback scan must prune to the
    two selected directories (``PartitionFilters``) — only ~2/5 of
    the data is ever read. Oracle = the same aggregate over the
    original un-partitioned fixture (layout round-trip is lossless)."""
    out = _layout_dir("events_by_type", sf_dir)
    ev = load_table(spark, sf_dir, "events")
    (
        ev.write.mode("overwrite")
        .partitionBy("event_type")
        .parquet(out)
    )
    back = spark.read.parquet(out).filter(
        F.col("event_type").isin("click", "purchase")
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


def bucketed_join_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Orders and lineitem as bucketed catalog tables (bucketBy 8 +
    sortBy on the join key), written once per sf_dir. Split out so the
    plan gate can inspect the join input frames directly."""
    # pid in the table name for the same reason as _layout_dir: the
    # catalog entry points at a per-process path, so a neighbor
    # session can never overwrite the files under this table
    suffix = hashlib.md5(f"{sf_dir}|{os.getpid()}".encode()).hexdigest()[:8]
    frames = []
    for tbl, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        name = f"bkt_{tbl}_{suffix}"
        _cleanup["tables"].add(name)
        if not spark.catalog.tableExists(name):
            path = os.path.join(_layout_dir("bucketed", sf_dir), name)
            # repartition by the bucket key into N_BUCKETS tasks:
            # repartition's hashpartitioning and bucketBy use the same
            # murmur3 hash, so each task holds exactly one bucket →
            # ONE file per bucket, which lets the bucketed scan use
            # the write-time sortBy order and drop per-query Sorts
            (
                load_table(spark, sf_dir, tbl)
                .repartition(N_BUCKETS, F.col(key))
                .write.mode("overwrite")
                .bucketBy(N_BUCKETS, key)
                .sortBy(key)
                .option("path", path)
                .format("parquet")
                .saveAsTable(name)
            )
        frames.append(spark.table(name))
    return frames[0], frames[1]


_BUCKETED_ORACLE = """
SELECT o.o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
FROM orders o
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderstatus
"""


@register(
    "join_bucketed_colocated", oracle=_BUCKETED_ORACLE, tags=("join", "layout")
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join on pre-bucketed tables: both sides were hashed
    into the same 8 buckets on the join key at write time, so the
    SortMergeJoin reads bucket i against bucket i directly — NO
    exchange on either side (the only Exchange in the plan is the
    final small aggregation). At 100 TB this turns the dominant
    shuffle of every orders-lineitem query into a one-time write
    cost."""
    orders, lineitem = bucketed_join_frames(spark, sf_dir)
    # merge hint: at fixture scale AQE would broadcast tiny orders and
    # hide the very plan this operator exists to demonstrate (at 100 TB
    # neither fact side broadcasts); with both sides bucketed the SMJ
    # needs no exchange and no per-query sort (sortBy at write time)
    j = orders.hint("merge").join(
        lineitem, orders["o_orderkey"] == lineitem["l_orderkey"]
    )
    return j.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_lines"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# Z-order layout: multi-dimensional data skipping.
# ---------------------------------------------------------------------------
# Partitioning prunes on ONE column; bucketing co-locates ONE key.
# When queries filter on TWO independent columns (order range AND part
# range), the standard lever is space-filling-curve layout: scale both
# keys to b bits, interleave the bits (Morton/Z code), range-partition
# and sort the table by the code. Every output file then covers a
# small rectangle in BOTH dimensions, so parquet min/max stats prune
# files for predicates on either column — the layout Delta/Iceberg
# call OPTIMIZE ZORDER BY, built here from plain Spark expressions.
ZORDER_BITS = 8      # per-dimension resolution of the curve
ZORDER_FILES = 16    # output files (= z-range partitions)


def _zorder_code(px: str, py: str, bits: int = ZORDER_BITS) -> str:
    """Bit-interleave expression: px gets odd bit positions, py even —
    both inputs must already be integers in [0, 2^bits)."""
    terms = []
    for i in range(bits):
        terms.append(f"shiftleft(shiftright({px}, {i}) & 1, {2 * i + 1})")
        terms.append(f"shiftleft(shiftright({py}, {i}) & 1, {2 * i})")
    return " | ".join(terms)


def zorder_write(
    spark: SparkSession,
    sf_dir: str,
    out: str,
    files: int = ZORDER_FILES,
) -> None:
    """Write lineitem z-ordered on (l_orderkey, l_partkey). Bounds
    discovery is the reference's own MIN/MAX planning step
    (/root/reference/extractor.go:195-211) — four scalars; everything
    else is a narrow JVM projection plus ONE range exchange on the
    z code."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_returnflag", "l_extendedprice"
    )
    b = li.agg(
        F.min("l_orderkey"), F.max("l_orderkey"),
        F.min("l_partkey"), F.max("l_partkey"),
    ).first()
    ok_mn, ok_mx, pk_mn, pk_mx = (int(x) for x in b)
    top = (1 << ZORDER_BITS) - 1
    px = (
        f"cast(cast(l_orderkey - {ok_mn} as bigint) * {top}"
        f" / {max(ok_mx - ok_mn, 1)} as bigint)"
    )
    py = (
        f"cast(cast(l_partkey - {pk_mn} as bigint) * {top}"
        f" / {max(pk_mx - pk_mn, 1)} as bigint)"
    )
    (
        li.withColumn("px", F.expr(px))
        .withColumn("py", F.expr(py))
        .withColumn("z", F.expr(_zorder_code("px", "py")))
        .repartitionByRange(files, "z")
        .sortWithinPartitions("z")
        .drop("px", "py", "z")
        .write.mode("overwrite")
        .parquet(out)
    )


_ZORDER_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
       ROUND(SUM(l_extendedprice), 2) AS total_price
FROM lineitem
GROUP BY l_returnflag
"""


@register("sink_zorder_layout", oracle=_ZORDER_ORACLE, tags=("sink", "layout"))
def sink_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order lineitem on (l_orderkey, l_partkey), read it back, and
    aggregate — the oracle replays the aggregate over the original
    fixture, proving the curve layout is lossless. The locality
    property itself (every file covers a narrow range of BOTH keys,
    vs a single-dim sort where the second key spans everything) is
    asserted from per-file min/max in tests/test_sinks_e2e.py."""
    out = _layout_dir("lineitem_zorder", sf_dir)
    zorder_write(spark, sf_dir, out)
    back = spark.read.parquet(out)
    return back.groupBy("l_returnflag").agg(
        F.count("*").alias("n_lines"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
    )


# ---------------------------------------------------------------------------
# Small-file compaction: the operational inverse of fragmentation.
# ---------------------------------------------------------------------------
# Incremental ingestion (one file per micro-batch/chunk — exactly the
# reference's per-chunk sink, python/py_extractor.py:61-65) fragments a
# table into thousands of tiny files; at 100 TB the resulting footer/
# task overhead dominates scans. Compaction rewrites to the reference's
# own 100k-rows-per-file target (extractor.go:119) with coalesce — a
# shuffle-FREE narrow repack (tasks read several input files each);
# repartition() would rebalance perfectly but pays a full shuffle, the
# standard cheap-vs-even trade.
COMPACT_TARGET_ROWS = 100_000  # extractor.go:119 parity
FRAGMENT_FILES = 64


def compact_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    target_rows: int = COMPACT_TARGET_ROWS,
) -> int:
    """Rewrite ``src`` toward ceil(n / target_rows) files at ``dst``.
    Returns the OBSERVED output file count. One count()
    (footer-metadata cheap) plans the repack; coalesce keeps it
    narrow (shuffle-free).

    coalesce merges input partitions unevenly, so a coalesced
    partition can exceed target_rows and get split by
    maxRecordsPerFile — the actual file count may exceed the planned
    ceil(n/target). That is the accepted cost of skipping the shuffle
    (repartition(n_files) would balance exactly but pays a full
    exchange); the invariant compaction guarantees is rows-per-file
    <= target_rows, never an exact count."""
    import math as _math

    df = spark.read.parquet(src)
    planned = max(1, _math.ceil(df.count() / target_rows))
    (
        df.coalesce(planned)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", str(target_rows))
        .parquet(dst)
    )
    return (
        spark.read.parquet(dst)
        .select(F.input_file_name().alias("f"))
        .distinct()
        .count()
    )


_COMPACT_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       ROUND(SUM(value), 4) AS total_value
FROM events
GROUP BY event_type
"""


@register("sink_compact_small_files", oracle=_COMPACT_ORACLE,
          tags=("sink", "layout"))
def sink_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fragment events into FRAGMENT_FILES tiny files (simulating
    per-chunk ingestion), compact to the 100k-rows-per-file target,
    read back and aggregate — the oracle replays the aggregate over
    the original fixture, proving compaction loses nothing. File
    counts before/after are asserted in tests/test_sinks_e2e.py."""
    frag = _layout_dir("events_fragmented", sf_dir)
    ev = load_table(spark, sf_dir, "events")
    ev.repartition(FRAGMENT_FILES).write.mode("overwrite").parquet(frag)
    out = _layout_dir("events_compacted", sf_dir)
    compact_parquet(spark, frag, out)
    back = spark.read.parquet(out)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Range-sorted export: total-order layout on ONE column.
# ---------------------------------------------------------------------------
# The single-dimension sibling of the z-order sink: range-partition +
# sort-within-partitions on a sort key gives every output file a
# DISJOINT key range in global order — parquet min/max stats then
# prune files for any range predicate on the key, and downstream
# merge-readers (binary search, sorted-merge joins, sequence packing)
# get global order without re-sorting. One range exchange; the sort is
# partition-local. Never df.sort().coalesce(1) — that is the
# single-reducer formulation this sink exists to avoid.
SORTED_FILES = 8


def range_sorted_write(
    spark: SparkSession, sf_dir: str, out: str, files: int = SORTED_FILES
) -> None:
    """Write events globally sorted by (ts, event_id): range exchange
    on the key, per-partition sort, one file per range partition."""
    ev = load_table(spark, sf_dir, "events")
    (
        ev.repartitionByRange(files, "ts", "event_id")
        .sortWithinPartitions("ts", "event_id")
        .write.mode("overwrite")
        .parquet(out)
    )


_RANGE_SORTED_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MIN(event_id) AS BIGINT) AS first_event,
       CAST(MAX(event_id) AS BIGINT) AS last_event,
       ROUND(SUM(value), 4) AS total_value
FROM events
GROUP BY event_type
"""


@register("sink_range_sorted", oracle=_RANGE_SORTED_ORACLE,
          tags=("sink", "layout", "sort"))
def sink_range_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Export events in total (ts, event_id) order, read back,
    aggregate — the oracle replays the aggregate over the original
    fixture, proving the sorted layout is lossless. The order property
    itself (per-file key ranges disjoint and globally ordered) is
    asserted from per-file min/max in tests/test_sinks_e2e.py."""
    out = _layout_dir("events_range_sorted", sf_dir)
    range_sorted_write(spark, sf_dir, out)
    back = spark.read.parquet(out)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.min("event_id").alias("first_event"),
        F.max("event_id").alias("last_event"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Schema evolution across file vintages (read-time mergeSchema).
# ---------------------------------------------------------------------------
# The reference binds ONE static YAML schema per table
# (/root/reference/config.yaml; parquet writer factory
# extractor.go:114-150) — a column added upstream breaks the job. The
# production behavior a long-lived 100 TB table needs is additive
# schema evolution: old files keep their narrow schema, new files
# carry the new column, and the read layer unions schemas with NULLs
# for the missing column. Parquet + mergeSchema gives exactly that;
# the oracle replays it as a UNION with a NULL literal on the old
# vintage.
_EVOLVE_ORACLE = """
WITH unioned AS (
  SELECT o_orderstatus, o_totalprice, NULL AS priority_rank
  FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT o_orderstatus, o_totalprice,
         CAST(CASE WHEN o_orderpriority = '1-URGENT' THEN 1
                   WHEN o_orderpriority = '2-HIGH' THEN 2
                   ELSE 3 END AS BIGINT) AS priority_rank
  FROM orders WHERE o_orderkey % 2 = 1
)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(priority_rank) AS BIGINT) AS n_with_rank,
       CAST(MIN(priority_rank) AS BIGINT) AS min_rank,
       ROUND(SUM(o_totalprice), 2) AS total
FROM unioned
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@register(
    "sink_schema_evolution",
    oracle=_EVOLVE_ORACLE,
    tags=("sink", "layout"),
)
def sink_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema evolution round-trip: vintage-1 files written
    without `priority_rank`, vintage-2 files with it; a single
    mergeSchema read unions both, filling NULLs on the old vintage —
    summarized per status (total rows, rows carrying the new column,
    its min, value checksum) so the hash gate proves no row or value
    was lost on either vintage.

    Scale shape: mergeSchema reconciles footers at planning time (at
    large file counts you'd pin the merged schema from the catalog
    instead of footer-sampling); the data path is an ordinary
    parallel scan + partial-agg groupBy, one exchange. Old files are
    never rewritten — evolution is metadata-only, the property that
    matters at 100 TB."""
    orders = load_table(spark, sf_dir, "orders")
    out = _layout_dir("orders_evolving", sf_dir)
    v1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderstatus", "o_totalprice"
    )
    v2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderstatus",
        "o_totalprice",
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .when(F.col("o_orderpriority") == "2-HIGH", 2)
        .otherwise(3)
        .cast("long")
        .alias("priority_rank"),
    )
    v1.write.mode("overwrite").parquet(f"{out}/vintage=1")
    v2.write.mode("overwrite").parquet(f"{out}/vintage=2")
    back = spark.read.option("mergeSchema", "true").parquet(
        f"{out}/vintage=1", f"{out}/vintage=2"
    )
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.count("priority_rank").alias("n_with_rank"),
            F.min("priority_rank").alias("min_rank"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Partition backfill: dynamic partition overwrite of ONE slice.
# ---------------------------------------------------------------------------
# The recurring production write: a day's data was wrong, re-write
# THAT partition without touching the others. Static overwrite mode
# would truncate the whole table; dynamic partition overwrite
# (spark.sql.sources.partitionOverwriteMode=dynamic) replaces only
# the partitions present in the incoming frame. The oracle replays
# the backfill relationally: untouched types keep fixture values, the
# backfilled type carries the correction.
_BACKFILL_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 4) AS total_value
FROM (
  SELECT event_type, value FROM events WHERE event_type <> 'error'
  UNION ALL
  SELECT event_type, value * 0.5 AS value FROM events
  WHERE event_type = 'error'
) t
GROUP BY event_type
ORDER BY event_type
"""


@register(
    "sink_partition_backfill",
    oracle=_BACKFILL_ORACLE,
    tags=("sink", "layout"),
)
def sink_partition_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backfill one partition in place: write events partitioned by
    event_type, then overwrite ONLY the 'error' partition with
    corrected values (halved) under dynamic partition-overwrite mode;
    the readback aggregate proves the other four partitions are
    byte-identical to the first write and the corrected one replaced
    (never appended to) its directory.

    Scale shape: the correction job scans/writes one partition's
    data; the other partitions are untouched files — backfill cost is
    O(partition), not O(table). Dynamic mode is session-scoped config
    read at write time, restored after."""
    out = _layout_dir("events_backfill", sf_dir)
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)

    corrected = ev.filter(F.col("event_type") == "error").withColumn(
        "value", F.col("value") * 0.5
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        corrected.write.mode("overwrite").partitionBy("event_type").parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    back = spark.read.parquet(out)
    return (
        back.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Dynamic partition pruning: runtime pruning from a dim-side filter.
# ---------------------------------------------------------------------------
_EVENT_CATEGORIES = [
    ("view", "browse"),
    ("click", "browse"),
    ("signup", "conversion"),
    ("purchase", "conversion"),
    ("error", "ops"),
]

_DPP_VALUES = ", ".join(f"('{t}', '{c}')" for t, c in _EVENT_CATEGORIES)

_DPP_ORACLE = f"""
WITH dim AS (
  SELECT * FROM (VALUES {_DPP_VALUES}) AS d(event_type, category)
)""" + """
SELECT e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(e.value), 4) AS total_value
FROM events e JOIN dim ON dim.event_type = e.event_type
WHERE dim.category = 'conversion'
GROUP BY e.event_type
"""


@register(
    "sink_dpp_join", oracle=_DPP_ORACLE, tags=("sink", "layout", "join")
)
def sink_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact table is partitioned on the
    join key, the dim-side predicate (`category = 'conversion'`) is
    NOT on the partition column — so static pruning can't fire. Spark
    runs the filtered dim first and injects its join keys into the
    fact scan as a runtime ``dynamicpruningexpression`` partition
    filter: only the conversion-type directories are ever read.

    At 100 TB this is THE date-dim pattern ("this quarter's" rows of a
    date-partitioned fact via a dim filter) — without DPP the scan
    reads every partition and discards rows post-join. Plan-gated in
    tests/test_plans.py::test_dpp_prunes_fact_partitions. Oracle
    replays the join over the unpartitioned fixture (pruning is
    invisible to results)."""
    out = _layout_dir("events_dpp", sf_dir)
    ev = load_table(spark, sf_dir, "events")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    fact = spark.read.parquet(out)
    dim = spark.createDataFrame(
        _EVENT_CATEGORIES, "event_type string, category string"
    )
    j = fact.join(
        F.broadcast(dim.filter(F.col("category") == "conversion")),
        "event_type",
    )
    return j.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Targeted erasure: delete keyed rows by rewriting only their buckets.
# ---------------------------------------------------------------------------
_ERASE_BUCKETS = 16
_ERASE_USERS = (11, 42, 77)  # the right-to-be-forgotten request

# Engine-portable bucket id (60-bit md5-prefix mod, shared idiom with
# sampling.py): native hash() differs across engines and would break
# the oracle replay. Module-level so the e2e test drives the SAME
# layout the registered query writes.
ERASE_BUCKET_EXPR = (
    f"cast(conv(substr(md5(cast(user_id AS string)), 1, 15), 16, 10) "
    f"AS bigint) % {_ERASE_BUCKETS}"
)

_ERASE_ORACLE = f"""
WITH bucketed AS (
  SELECT ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT
           % {_ERASE_BUCKETS} AS user_bucket,
         user_id, value
  FROM events
),
target AS (
  SELECT DISTINCT user_bucket FROM bucketed
  WHERE user_id IN {_ERASE_USERS}
)
SELECT b.user_bucket,
       CAST(COUNT(*) FILTER (WHERE b.user_id NOT IN {_ERASE_USERS})
            AS BIGINT) AS n_rows_after,
       CAST(COUNT(*) FILTER (WHERE b.user_id IN {_ERASE_USERS})
            AS BIGINT) AS n_erased,
       CASE WHEN b.user_bucket IN (SELECT user_bucket FROM target)
            THEN 1 ELSE 0 END AS rewritten
FROM bucketed b
GROUP BY b.user_bucket
ORDER BY b.user_bucket
"""

def targeted_erasure(ev: "DataFrame", out: str, users: list) -> "DataFrame":
    """Core erasure job over an already-bucketed frame ``(user_id,
    value, user_bucket)``: write the bucketed layout, rewrite only the
    buckets containing ``users`` (dynamic partition overwrite),
    explicitly delete any target bucket with zero survivors (dynamic
    overwrite replaces a partition only when the NEW data has rows for
    it — an all-erased bucket would otherwise silently keep its old
    files, the exact compliance failure this operator exists to
    prevent; on object storage the same prefix delete applies, and
    transactional table formats make it a metadata-only DELETE).
    Returns the per-bucket report, including zero-survivor buckets."""
    spark = ev.sparkSession
    ev.write.mode("overwrite").partitionBy("user_bucket").parquet(out)

    target_buckets = [
        r["user_bucket"]
        for r in ev.filter(F.col("user_id").isin(users))
        .select("user_bucket")
        .distinct()
        .collect()  # bounded: <= len(users) buckets
    ]
    survivors = ev.filter(
        F.col("user_bucket").isin(target_buckets)
        & ~F.col("user_id").isin(users)
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        survivors.write.mode("overwrite").partitionBy("user_bucket").parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    surviving_buckets = {
        r["user_bucket"]
        for r in survivors.select("user_bucket").distinct().collect()
    }
    emptied = [b for b in target_buckets if b not in surviving_buckets]
    for b in emptied:
        shutil.rmtree(os.path.join(out, f"user_bucket={b}"), ignore_errors=True)

    # report from the POST-IMAGE, padded with the pre-image bucket set
    # so fully-emptied buckets still report (n_rows_after=0) — the
    # oracle groups the pre-image and must see the same rows.
    pre_buckets = ev.select("user_bucket").distinct()
    back_counts = (
        spark.read.parquet(out)
        .groupBy("user_bucket")
        .agg(F.count("*").alias("n_rows_after"))
    )
    erased_counts = (
        ev.filter(F.col("user_id").isin(users))
        .groupBy("user_bucket")
        .agg(F.count("*").alias("n_erased"))
    )
    return (
        pre_buckets.join(F.broadcast(back_counts), "user_bucket", "left")
        .join(F.broadcast(erased_counts), "user_bucket", "left")
        .select(
            "user_bucket",
            F.coalesce(F.col("n_rows_after"), F.lit(0)).alias("n_rows_after"),
            F.coalesce(F.col("n_erased"), F.lit(0)).alias("n_erased"),
            F.when(F.col("user_bucket").isin(target_buckets), 1)
            .otherwise(0)
            .alias("rewritten"),
        )
        .orderBy("user_bucket")
    )


@register(
    "sink_targeted_erasure",
    oracle=_ERASE_ORACLE,
    tags=("sink", "layout", "etl-parity", "llm"),
)
def sink_targeted_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten deletion at O(affected buckets), not
    O(table): events land partitioned by a hash bucket of user_id, so
    an erasure request rewrites ONLY the directories that can contain
    the target users (dynamic partition overwrite, same mechanism as
    sink_partition_backfill) — every other bucket's files are
    untouched bytes, asserted byte-identical in
    tests/test_sinks_e2e.py. The report per bucket: surviving rows,
    rows erased (from the pre-image), and whether the bucket was
    rewritten; the oracle recomputes all three from the fixture.

    100 TB shape: the erase job reads and writes |targets|/BUCKETS of
    the table. Bucketing the layout ON the deletion key is what makes
    deletion cheap — the same reasoning that picks partition columns
    for query pruning applies to compliance deletes. The bucket id is
    the engine-portable 60-bit md5-prefix mod shared with sampling.py
    (native hash() differs across engines and would break the oracle
    replay)."""
    out = _layout_dir("events_erasure", sf_dir)
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id", "value", f"{ERASE_BUCKET_EXPR} AS user_bucket"
    )
    return targeted_erasure(ev, out, list(_ERASE_USERS))


# ---------------------------------------------------------------------------
# Observed-metrics export audit (single-pass accounting during a write).
# ---------------------------------------------------------------------------
# The reference counts rows AFTER the load with a separate pass over
# what it moved (log lines in extractor.go's run loop); the Spark-first
# form is df.observe(): accumulator-backed aggregates collected DURING
# the export action itself, so the audit costs zero extra scans. The
# written output is re-counted from parquet footers (metadata-only)
# and emitted alongside, proving write completeness in the same row.
_OBSERVE_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       ROUND(SUM(value), 4) AS total_value,
       MIN(ts) AS first_ts,
       MAX(ts) AS last_ts,
       CAST(COUNT(*) AS BIGINT) AS written_rows
FROM events
"""


@register(
    "sink_observe_audit",
    oracle=_OBSERVE_ORACLE,
    tags=("sink", "etl-parity", "aggregation"),
)
def sink_observe_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Export events to parquet while an Observation collects the
    audit metrics (row count, value checksum, ts bounds) inside the
    SAME job — no second scan of the source. 100 TB shape: observe()
    rides the write's tasks as accumulators; the completeness check
    re-reads only footer metadata. At scale this replaces the
    "count the table again after loading it" audit with a free one."""
    from pyspark.sql import Observation

    ev = load_table(spark, sf_dir, "events")
    obs = Observation("export_audit")
    out = _layout_dir("observe_audit", sf_dir)
    (
        ev.observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("value"), 4).alias("total_value"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .write.mode("overwrite")
        .parquet(out)
    )
    m = obs.get  # blocks on the completed write action
    written = spark.read.parquet(out).count()
    return spark.createDataFrame(
        [
            (
                m["n_rows"],
                float(m["total_value"]),
                m["first_ts"],
                m["last_ts"],
                written,
            )
        ],
        "n_rows BIGINT, total_value DOUBLE, first_ts TIMESTAMP, "
        "last_ts TIMESTAMP, written_rows BIGINT",
    )
