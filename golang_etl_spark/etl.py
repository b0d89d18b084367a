"""The reference's whole pipeline, Spark-first.

Reference lifecycle (/root/reference/extractor.go:232-300):
bounds discovery (SELECT MIN,MAX — :195-211) -> stride-10,000 range
chunks (:270-287) -> concurrent fetch over pooled connections (:41-112)
-> bounded channel (:262) -> 100k-row batched snappy parquet files
(:114-193).

Spark restatement: ``spark.read.jdbc(url, table, predicates=[...])``
with one ``pk >= lo AND pk < hi`` WHERE clause per chunk, the first
open below (and taking NULL keys) and the last open above; the write is
``sinks.write_parquet`` (snappy, ``maxRecordsPerFile`` 100,000). The
channel, semaphores, row pool, and JSON round-trip disappear — Spark's
task scheduler, Tungsten memory, and native parquet writer replace
them. Unlike the reference (which silently drops rows on scan error,
extractor.go:88-91), failures here fail the job.

Partitions = min(stride chunks, ``fetch_concurrency``, session cores):
each is one statement against the source (a full scan where the key
has no index), and chunks beyond the cores buy no parallelism.

Pure planning helpers (stride math, predicates) are separated from
execution so they unit-test without a live database.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from golang_etl_spark.jobspec import JobSpec, TableJob
from golang_etl_spark.registry import register
from golang_etl_spark.sources.catalog import load_table
from golang_etl_spark.sources.sinks import write_parquet


# ---------------------------------------------------------------------------
# Planning (pure, unit-testable)
# ---------------------------------------------------------------------------
@dataclass(frozen=True)
class RangePartitionPlan:
    lower_bound: int  # inclusive
    upper_bound: int  # EXCLUSIVE (maxKey+1 — the reference's half-open fixup)
    num_partitions: int
    stride: int


def plan_range_partitions(
    min_key: int, max_key: int, stride: int = 10_000, max_partitions: int = 10_000
) -> RangePartitionPlan:
    """Replicates the reference's chunking math
    (/root/reference/extractor.go:270-287): half-open [start, end)
    chunks of `stride` keys, with the final chunk end bumped to
    max_key+1 so the max key is included.

    Above max_partitions the stride widens until the chunks fit;
    num_partitions always counts the chunks, one predicate each in
    predicates_for_plan."""
    if min_key > max_key:
        raise ValueError(f"empty key range: [{min_key}, {max_key}]")
    span = max_key - min_key + 1
    n = max(1, math.ceil(span / stride))
    if n > max_partitions:
        stride = math.ceil(span / max_partitions)
        n = math.ceil(span / stride)
    return RangePartitionPlan(
        lower_bound=min_key, upper_bound=max_key + 1, num_partitions=n, stride=stride
    )


def predicates_for_plan(qpk: str, plan: RangePartitionPlan) -> list[str]:
    """The reference's stride loop rendered as one WHERE clause per
    chunk, for Spark's predicates-list JDBC API. The first clause is
    open below and takes NULL keys, the last is open above, and a
    one-chunk plan reads everything (``1 = 1``): a key written outside
    [MIN, MAX] after the bounds query is still read, exactly once.
    An explicit list partitions on anything the database can evaluate
    (hash buckets of a string key, the balanced ranges
    etl_plan_balanced_ranges computes), not only a uniform numeric
    stride. `qpk` is the dialect-quoted key."""
    cuts = range(plan.lower_bound + plan.stride, plan.upper_bound, plan.stride)
    if not cuts:
        return ["1 = 1"]
    return (
        [f"{qpk} < {cuts[0]} OR {qpk} IS NULL"]
        + [f"{qpk} >= {lo} AND {qpk} < {hi}" for lo, hi in zip(cuts, cuts[1:])]
        + [f"{qpk} >= {cuts[-1]}"]
    )


# ---------------------------------------------------------------------------
# Execution
# ---------------------------------------------------------------------------
def plan_jdbc_read(
    spark: SparkSession, spec: JobSpec, job: TableJob
) -> tuple[str, RangePartitionPlan]:
    """The dialect-quoted key and the range plan the JDBC reader scans
    by: min(stride chunks, fetch_concurrency, session cores)
    partitions over the key's MIN/MAX bounds. Spark's JDBC writer
    quotes identifiers at CREATE time, so case-folding databases
    (Derby, Postgres) store the exact-case name; and a hardcoded '"'
    would make MySQL (no ANSI_QUOTES) read '"id" >= lo' as a
    constant-true string comparison, a full scan per predicate.

    The bounds query is one statement on a driver-side connection from
    the dialect's connection factory, the one the scan itself uses (so
    driver registration behaves alike), and starts no Spark job: read
    through ``spark.read.format("jdbc")`` it cost a schema probe, a
    derived-table wrapper around the query and a job."""
    location = spec.shards[job.db]
    jvm = spark._jvm
    dialect = jvm.org.apache.spark.sql.jdbc.JdbcDialects.get(location)
    qpk = dialect.quoteIdentifier(job.primary_key)
    options = jvm.org.apache.spark.sql.execution.datasources.jdbc.JDBCOptions(
        location, job.table, jvm.org.apache.spark.api.python.PythonUtils.toScalaMap({})
    )
    conn = dialect.createConnectionFactory(options).apply(-1)
    try:
        rs = conn.createStatement().executeQuery(
            f"SELECT MIN({qpk}), MAX({qpk}) FROM {job.table}"
        )
        rs.next()
        lo = rs.getLong(1)
        if rs.wasNull():
            # no rows, or only NULL keys: there is no key range to plan
            raise ValueError(
                f"table {job.table!r} has no rows / null pk {job.primary_key!r}"
            )
        hi = rs.getLong(2)
    finally:
        conn.close()
    cap = min(spec.fetch_concurrency, spark.sparkContext.defaultParallelism)
    return qpk, plan_range_partitions(lo, hi, spec.stride, cap)


def read_shard_table(
    spark: SparkSession, spec: JobSpec, job: TableJob
) -> DataFrame:
    """Read one shard's table. JDBC shards read one partition per
    predicate of the plan, min(stride chunks, fetch_concurrency, cores)
    of them — the reference's one-goroutine-per-chunk loop
    (extractor.go:274-287); parquet/file shards read directly (Spark
    splits files natively)."""
    location = spec.shards[job.db]
    if spec.source_format == "parquet":
        return spark.read.parquet(f"{location}/{job.table}.parquet")
    qpk, plan = plan_jdbc_read(spark, spec, job)
    return spark.read.jdbc(
        url=location,
        table=job.table,
        predicates=predicates_for_plan(qpk, plan),
        properties={"fetchsize": "10000"},
    )


def extract_table(spark: SparkSession, spec: JobSpec, job: TableJob) -> int:
    """One table job end-to-end (scan -> snappy parquet, ≤100k rows per
    file). Returns rows written. The write action IS the barrier the
    reference builds manually (extractor.go:292-296).

    The row count comes from an ``Observation`` riding the write job
    itself — NOT a re-read of the sink, which at 100 TB would double
    the I/O of the whole pipeline."""
    from pyspark.sql import Observation

    obs = Observation("rows_written")
    df = read_shard_table(spark, spec, job).observe(
        obs, F.count(F.lit(1)).alias("n")
    )
    write_parquet(df, job.output, spec.compression, spec.max_records_per_file)
    return int(obs.get["n"])


# Driver threads that submit table jobs. Each action already fans out
# to every core, so this is an overlap dial, not a parallelism
# multiplier.
MAX_CONCURRENT_JOBS = 4


def run_jobspec(spark: SparkSession, spec: JobSpec) -> dict[str, int]:
    """All table jobs on a pool of min(jobs, MAX_CONCURRENT_JOBS)
    driver threads — the Python variant's ``asyncio.gather`` over
    shards x tables (python/py_extractor.py:96-105 in the reference),
    where the Go main loop is sequential (extractor.go:260-297).

    Spark's scheduler interleaves actions submitted from several driver
    threads across the same executors, which helps where one job alone
    cannot saturate the cluster: many small tables, a straggling final
    task, or source-side (JDBC) latency. It does not lift the
    connection cap: the session runs at most `cores` tasks at once
    across all jobs, and each task holds one connection. Every job
    settles before the first failure, in spec order, is raised (no
    silent partial success — unlike the reference's silent row drops,
    extractor.go:88-91)."""
    from concurrent.futures import ThreadPoolExecutor

    workers = max(1, min(len(spec.jobs), MAX_CONCURRENT_JOBS))
    with ThreadPoolExecutor(max_workers=workers) as pool:
        # a LIST, not a dict: duplicate db.table keys (same table to two
        # outputs) must still have every future's result() consumed so
        # a shadowed job's failure propagates — the final dict then
        # collapses last-wins
        futures = [
            (f"{j.db}.{j.table}", pool.submit(extract_table, spark, spec, j))
            for j in spec.jobs
        ]
        return {name: fut.result() for name, fut in futures}


# ---------------------------------------------------------------------------
# Registered parity queries (driver-checked against DuckDB)
# ---------------------------------------------------------------------------
@register(
    "etl_minmax_bounds",
    oracle="""
    SELECT CAST(MIN(l_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(l_orderkey) AS BIGINT) AS max_key,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem
    """,
    tags=("etl-parity", "aggregation"),
)
def etl_minmax_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounds discovery (A1): SELECT MIN,MAX — parity with
    /root/reference/extractor.go:195-211."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.min("l_orderkey").cast("bigint").alias("min_key"),
        F.max("l_orderkey").cast("bigint").alias("max_key"),
        F.count("*").alias("n_rows"),
    )


@register(
    "etl_range_scan",
    oracle="""
    SELECT * FROM lineitem
    WHERE l_orderkey >= 1000 AND l_orderkey < 3000
    """,
    tags=("etl-parity", "scan"),
)
def etl_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One half-open PK-range chunk (S1/P2): SELECT * WHERE pk >= lo AND
    pk < hi — parity with /root/reference/extractor.go:63. The range
    predicate pushes into the parquet scan (row-group pruning), exactly
    as the reference pushes it into MySQL."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_orderkey") >= 1000) & (F.col("l_orderkey") < 3000))


@register(
    "etl_chunked_scan_reassembly",
    oracle="""
    SELECT CAST(FLOOR(l_orderkey / 1000) AS BIGINT) AS chunk_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(l_orderkey) AS BIGINT) AS chunk_min,
           CAST(MAX(l_orderkey) AS BIGINT) AS chunk_max
    FROM lineitem
    GROUP BY 1
    """,
    tags=("etl-parity", "partitioning"),
)
def etl_chunked_scan_reassembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stride partitioner (X1) made observable: assign every row to
    its stride-1000 chunk and prove chunks tile the key space with no
    loss — the property the reference's goroutine-per-chunk plan
    (extractor.go:270-287) relies on."""
    li = load_table(spark, sf_dir, "lineitem")
    chunk = F.floor(F.col("l_orderkey") / 1000).cast("bigint")
    return li.groupBy(chunk.alias("chunk_id")).agg(
        F.count("*").alias("n_rows"),
        F.min("l_orderkey").cast("bigint").alias("chunk_min"),
        F.max("l_orderkey").cast("bigint").alias("chunk_max"),
    )


# ---------------------------------------------------------------------------
# Incremental refresh: key-based upsert merge (CDC-lite).
# ---------------------------------------------------------------------------
# The reference is a full-snapshot extractor; the natural next run of
# any such pipeline is incremental: merge a batch of changed rows into
# the previous snapshot by primary key. MERGE INTO belongs to table
# formats (Delta/Iceberg); on plain tables the upsert is an anti-join
# + union — updates win, untouched base rows survive, new keys append.
# The "changes" here are derived deterministically from the fixture so
# the DuckDB oracle replays the same merge bit-for-bit.
_MERGE_ORACLE = """
WITH updates AS (
  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
         ROUND(o_totalprice * 1.1, 4) AS o_totalprice
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey + 100000000 AS o_orderkey, o_custkey,
         'N' AS o_orderstatus, ROUND(o_totalprice, 4) AS o_totalprice
  FROM orders WHERE o_orderkey % 97 = 0
),
merged AS (
  SELECT b.o_orderkey, b.o_custkey, b.o_orderstatus,
         ROUND(b.o_totalprice, 4) AS o_totalprice
  FROM orders b
  WHERE b.o_orderkey NOT IN (SELECT o_orderkey FROM updates)
  UNION ALL
  SELECT * FROM updates
)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
       ROUND(SUM(o_totalprice), 2) AS total
FROM merged
GROUP BY o_orderstatus
"""


@register("etl_merge_upsert", oracle=_MERGE_ORACLE, tags=("etl-parity", "sink"))
def etl_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-based upsert merge of a derived change batch into the
    orders snapshot: updated rows replace their base rows, new keys
    append, untouched rows survive — summarized per status so the
    hash gate proves no row was lost, duplicated, or left stale.

    Scale shape: left_anti(base, updates) + union — one shuffle on
    the merge key for the anti join (updates side is change-batch
    sized and broadcasts when small); union is shuffle-free. At 100 TB
    the base would be bucketed on the key so even that shuffle
    disappears, and a table format (Delta/Iceberg MERGE) would make
    the rewrite transactional — the join shape is identical."""
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    updates = (
        base.filter(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey",
            "o_custkey",
            F.lit("U").alias("o_orderstatus"),
            F.round(F.col("o_totalprice") * 1.1, 4).alias("o_totalprice"),
        )
        .unionByName(
            base.filter(F.col("o_orderkey") % 97 == 0).select(
                (F.col("o_orderkey") + 100_000_000).alias("o_orderkey"),
                "o_custkey",
                F.lit("N").alias("o_orderstatus"),
                F.round("o_totalprice", 4).alias("o_totalprice"),
            )
        )
    )
    survivors = base.withColumn(
        "o_totalprice", F.round("o_totalprice", 4)
    ).join(updates.select("o_orderkey"), "o_orderkey", "left_anti")
    merged = survivors.unionByName(updates)
    return merged.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("o_orderkey").alias("n_keys"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


# ---------------------------------------------------------------------------
# Parallel dense ID assignment (AUTO_INCREMENT without the bottleneck).
# ---------------------------------------------------------------------------
# The reference's seeder leans on MySQL AUTO_INCREMENT for its primary
# key (/root/reference/tmp/data_seed.go:37-41) — a single-writer
# counter. The distributed restatement assigns the same dense 1..n
# sequence in parallel with the reference's own stride-chunk idea
# (extractor.go:270): bucket the key space, rank within buckets, add
# prefix-summed bucket offsets. A naive ROW_NUMBER() OVER (ORDER BY k)
# funnels the whole table through ONE reducer; this shape shuffles the
# big side once on the bucket key and keeps every stage parallel —
# the only serial work is the prefix sum over the tiny per-bucket
# count table.
SEQ_ID_STRIDE = 256


_SEQ_ID_ORACLE = """
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (ORDER BY doc_id) AS BIGINT) AS seq_id
FROM documents
"""


@register(
    "etl_assign_sequential_ids",
    oracle=_SEQ_ID_ORACLE,
    tags=("etl-parity", "partitioning"),
)
def etl_assign_sequential_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense sequential IDs (1..n by doc_id order) assigned in
    parallel: stride-bucket the key, row_number within each bucket,
    then add each bucket's prefix-summed offset via a broadcast join.
    Result is bit-identical to a global ROW_NUMBER, but no stage ever
    sees more than one bucket's rows — the single-reducer global sort
    a naive window would pay never happens.

    Scale dial: SEQ_ID_STRIDE controls bucket width; at 100 TB pick it
    so each bucket is a few hundred MB. The offset table carries one
    row per bucket (its single-partition prefix-sum window is over
    #buckets rows, not data rows)."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    chunked = docs.withColumn(
        "chunk", F.floor(F.col("doc_id") / SEQ_ID_STRIDE)
    )
    counts = chunked.groupBy("chunk").agg(F.count("*").alias("n"))
    w_off = Window.orderBy("chunk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.withColumn(
        "offset", F.coalesce(F.sum("n").over(w_off), F.lit(0))
    ).select("chunk", "offset")
    w_in = Window.partitionBy("chunk").orderBy("doc_id")
    return (
        chunked.withColumn("rn", F.row_number().over(w_in))
        .join(F.broadcast(offsets), "chunk")
        .select(
            "doc_id",
            (F.col("offset") + F.col("rn")).cast("long").alias("seq_id"),
        )
    )


# ---------------------------------------------------------------------------
# CDC change-log -> SCD2 validity intervals.
# ---------------------------------------------------------------------------
# The reference extracts snapshots; a warehouse ingesting its output
# incrementally needs the slowly-changing-dimension restatement: each
# change event opens a validity interval that closes when the next
# change for the same key arrives (half-open [valid_from, valid_to),
# NULL valid_to = current). One window over the change key — the same
# exchange any per-key operator pays — and entirely JVM-side.
_SCD2_ORACLE = """
SELECT user_id, event_id, event_type, ts AS valid_from,
       LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS valid_to,
       CAST(CASE WHEN LEAD(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) IS NULL
            THEN 1 ELSE 0 END AS BIGINT) AS is_current
FROM events
"""


@register(
    "etl_scd2_intervals",
    oracle=_SCD2_ORACLE,
    tags=("etl-parity", "window"),
)
def etl_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 interval assembly from the events change log: per
    user, each event is valid from its own timestamp until the next
    event's (deterministic event_id tiebreak); the last interval stays
    open (is_current=1)."""
    from pyspark.sql.window import Window

    from golang_etl_spark.sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        F.when(nxt.isNull(), 1).otherwise(0).cast("long").alias("is_current"),
    )


# ---------------------------------------------------------------------------
# Snapshot reconciliation (migration-validation diff).
# ---------------------------------------------------------------------------
# The reference migrates MySQL shards into parquet with zero
# verification — a scan error silently drops rows (extractor.go:88-91)
# and nothing ever proves source == destination. The operator a real
# 100 TB migration needs is the reconciliation diff: full-outer-join
# both snapshots on the primary key and classify every key as
# added / removed / changed / unchanged. Snapshot B is derived
# deterministically from the fixture (dropped, mutated, and appended
# key classes) so the DuckDB oracle replays the identical diff.
_SNAPSHOT_DIFF_ORACLE = """
WITH a AS (
  SELECT o_orderkey, o_orderstatus,
         ROUND(o_totalprice, 4) AS o_totalprice
  FROM orders
),
b AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 97 = 0 THEN 'X' ELSE o_orderstatus END
           AS o_orderstatus,
         CASE WHEN o_orderkey % 89 = 0
              THEN ROUND(o_totalprice * 1.05, 4)
              ELSE ROUND(o_totalprice, 4) END AS o_totalprice
  FROM orders WHERE o_orderkey % 101 <> 0
  UNION ALL
  SELECT o_orderkey + 200000000 AS o_orderkey, 'A' AS o_orderstatus,
         ROUND(o_totalprice, 4) AS o_totalprice
  FROM orders WHERE o_orderkey % 103 = 0
),
diff AS (
  SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS k,
         CASE WHEN a.o_orderkey IS NULL THEN 'added'
              WHEN b.o_orderkey IS NULL THEN 'removed'
              WHEN a.o_orderstatus <> b.o_orderstatus
                OR a.o_totalprice <> b.o_totalprice THEN 'changed'
              ELSE 'unchanged' END AS change_type
  FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
)
SELECT change_type,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(k) AS BIGINT) AS keysum
FROM diff
GROUP BY change_type
ORDER BY change_type
"""


@register(
    "etl_snapshot_diff",
    oracle=_SNAPSHOT_DIFF_ORACLE,
    tags=("etl-parity", "join"),
)
def etl_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Migration-validation diff: classify every primary key across
    two snapshots as added/removed/changed/unchanged via a full outer
    join, then aggregate count + key checksum per class.

    The float mutation multiplies by 1.05, so a changed row differs in
    BOTH engines regardless of rounding mode; the comparison columns
    are compared directly (never hashed through a string cast, whose
    float formatting is engine-specific).

    Scale shape: one shuffle per snapshot on the join key (zero if
    both sides are bucketed on it, the layout a recurring 100 TB
    reconciliation job would maintain), map-side classification, and a
    4-row aggregate. Never collects keys; the per-class checksum makes
    the hash gate sensitive to any misclassified key."""
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    a = base.select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 4).alias("o_totalprice"),
    )
    b = (
        base.filter(F.col("o_orderkey") % 101 != 0)
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 97 == 0, F.lit("X"))
            .otherwise(F.col("o_orderstatus"))
            .alias("o_orderstatus"),
            F.when(
                F.col("o_orderkey") % 89 == 0,
                F.round(F.col("o_totalprice") * 1.05, 4),
            )
            .otherwise(F.round("o_totalprice", 4))
            .alias("o_totalprice"),
        )
        .unionByName(
            base.filter(F.col("o_orderkey") % 103 == 0).select(
                (F.col("o_orderkey") + 200_000_000).alias("o_orderkey"),
                F.lit("A").alias("o_orderstatus"),
                F.round("o_totalprice", 4).alias("o_totalprice"),
            )
        )
    )
    joined = a.alias("a").join(
        b.alias("b"),
        F.col("a.o_orderkey") == F.col("b.o_orderkey"),
        "full_outer",
    )
    change = (
        F.when(F.col("a.o_orderkey").isNull(), "added")
        .when(F.col("b.o_orderkey").isNull(), "removed")
        .when(
            (F.col("a.o_orderstatus") != F.col("b.o_orderstatus"))
            | (F.col("a.o_totalprice") != F.col("b.o_totalprice")),
            "changed",
        )
        .otherwise("unchanged")
    )
    return (
        joined.select(
            F.coalesce(F.col("a.o_orderkey"), F.col("b.o_orderkey")).alias("k"),
            change.alias("change_type"),
        )
        .groupBy("change_type")
        .agg(
            F.count("*").alias("n_keys"),
            F.sum("k").cast("long").alias("keysum"),
        )
        .orderBy("change_type")
    )


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance (materialized-view delta update).
# ---------------------------------------------------------------------------
# The batch pipeline's recurring cost at 100 TB is NOT the first
# aggregation — it's re-aggregating everything when a day of new data
# lands. The fix is mergeable partial state: persist the aggregate's
# commutative partials (count, sums) per group, aggregate ONLY the
# delta, and merge partials. Derived measures (averages) come from the
# merged sums, never from averaging averages. The oracle recomputes
# the aggregate over the full table — proving merge(base, delta) is
# bit-equal to recompute(all), which is the correctness contract of
# incremental view maintenance.
_INC_AGG_CUTOFF = "1998-01-01 00:00:00"

_INC_AGG_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       ROUND(SUM(l_quantity), 4) AS sum_qty,
       ROUND(SUM(l_extendedprice), 4) AS sum_price,
       ROUND(SUM(l_quantity) / COUNT(*), 6) AS avg_qty
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def _partial_state(df: DataFrame) -> DataFrame:
    """The mergeable partial-aggregate state of the pricing rollup."""
    return df.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"),
        F.sum("l_quantity").alias("sum_qty"),
        F.sum("l_extendedprice").alias("sum_price"),
    )


@register(
    "etl_incremental_agg",
    oracle=_INC_AGG_ORACLE,
    tags=("etl-parity", "aggregation"),
)
def etl_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: the pricing rollup's partial
    state is built separately over the base partition (shipped before
    the cutoff) and the delta partition (after), merged by summing
    partials, and derived measures come from merged sums. The oracle
    recomputes over the full table — merge == recompute, the IVM
    contract.

    Scale shape: in production the base state is a persisted few-rows
    table and only the delta is scanned — per-refresh cost is
    O(delta), not O(history). Here both halves scan the fixture (the
    cutoff predicate pushes down to the parquet scan on both sides);
    the merge is a groupBy over 2x|groups| rows. Sums stay exact under
    reordering because merge is addition over the same doubles the
    full recompute would add - the driver's round(4) canonicalization
    absorbs accumulation-order ULPs, same as every SUM query here."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_shipdate",
    )
    cutoff = F.lit(_INC_AGG_CUTOFF).cast("timestamp")
    # the two predicates must PARTITION the table — a NULL ship date
    # satisfies neither comparison, so the delta side owns the NULL
    # arm explicitly or merge(base, delta) silently undercounts vs
    # the full recompute
    base_state = _partial_state(li.filter(F.col("l_shipdate") < cutoff))
    delta_state = _partial_state(
        li.filter(
            (F.col("l_shipdate") >= cutoff) | F.col("l_shipdate").isNull()
        )
    )
    merged = (
        base_state.unionByName(delta_state)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("sum_qty").alias("sum_qty"),
            F.sum("sum_price").alias("sum_price"),
        )
    )
    return merged.select(
        "l_returnflag",
        "l_linestatus",
        "n_rows",
        F.round("sum_qty", 4).alias("sum_qty"),
        F.round("sum_price", 4).alias("sum_price"),
        F.round(F.col("sum_qty") / F.col("n_rows"), 6).alias("avg_qty"),
    ).orderBy("l_returnflag", "l_linestatus")


# ---------------------------------------------------------------------------
# Constraint audit (the post-load data-quality gate).
# ---------------------------------------------------------------------------
# The reference loads shards into parquet and never checks what
# arrived (a scan error even drops rows silently, extractor.go:88-91).
# The audit a production load runs afterwards: referential integrity
# (orphaned foreign keys via anti-joins), key uniqueness (duplicate
# primary keys), and completeness (NULL keys) — every check one
# aggregate over one join/scan, all checks in a single job, emitted as
# one (check_name, n_violations) relation so a green load is a
# hash-stable all-zeros table.
_CONSTRAINT_AUDIT_ORACLE = """
SELECT check_name, n_violations FROM (
  SELECT 'lineitem_orphan_orderkey' AS check_name,
         CAST(COUNT(*) AS BIGINT) AS n_violations
  FROM lineitem l WHERE NOT EXISTS (
    SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
  UNION ALL
  SELECT 'orders_orphan_custkey',
         CAST(COUNT(*) AS BIGINT)
  FROM orders o WHERE NOT EXISTS (
    SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
  UNION ALL
  SELECT 'orders_duplicate_pk',
         CAST(COALESCE(SUM(cnt - 1), 0) AS BIGINT)
  FROM (SELECT o_orderkey, COUNT(*) AS cnt FROM orders
        GROUP BY o_orderkey HAVING COUNT(*) > 1) d
  UNION ALL
  SELECT 'orders_null_pk',
         CAST(COUNT(*) AS BIGINT)
  FROM orders WHERE o_orderkey IS NULL
) checks
ORDER BY check_name
"""


@register(
    "etl_constraint_audit",
    oracle=_CONSTRAINT_AUDIT_ORACLE,
    tags=("etl-parity", "join", "aggregation"),
)
def etl_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-load constraint audit: orphaned FKs (anti-joins), PK
    duplicates (grouped HAVING), NULL PKs — one violation-count row
    per check, all in a single job.

    Scale shape: each anti-join broadcasts when the parent side is
    dim-sized and shuffles on the key otherwise (Catalyst's choice);
    the duplicate check is a partial-agg'd groupBy; the NULL check is
    a pushed-down IsNull scan. The four branches share nothing, so
    Spark schedules them as independent stages of one job — audit
    latency is max(check), not sum(check)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")

    def _count(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(name).alias("check_name"),
            F.count("*").alias("n_violations"),
        )

    orphan_li = li.join(
        orders.select("o_orderkey"),
        li.l_orderkey == F.col("o_orderkey"),
        "left_anti",
    )
    orphan_ord = orders.join(
        cust, orders.o_custkey == cust.c_custkey, "left_anti"
    )
    dup_pk = (
        orders.groupBy("o_orderkey")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") > 1)
        .agg(
            F.lit("orders_duplicate_pk").alias("check_name"),
            F.coalesce(F.sum(F.col("cnt") - 1), F.lit(0))
            .cast("long")
            .alias("n_violations"),
        )
    )
    null_pk = orders.filter(F.col("o_orderkey").isNull())
    return (
        _count("lineitem_orphan_orderkey", orphan_li)
        .unionByName(_count("orders_orphan_custkey", orphan_ord))
        .unionByName(dup_pk)
        .unionByName(_count("orders_null_pk", null_pk))
        .orderBy("check_name")
    )


# ---------------------------------------------------------------------------
# Dead-letter routing (no silent drops — the reference's documented flaw).
# ---------------------------------------------------------------------------
# The reference DROPS rows that fail its scan loop and keeps going
# (extractor.go:88-91: `if err != nil { continue }`) — data loss with
# no audit trail. The production pattern is dead-letter routing: every
# row gets a disposition (ok, or the FIRST validation rule it failed),
# good rows flow on, quarantined rows land in an auditable side
# output, and row count in == row count out across the split. The
# summary relation proves conservation under the hash gate: the
# per-disposition id checksums partition the table's full checksum.
_DEADLETTER_ORACLE = """
SELECT disposition,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(event_id) AS BIGINT) AS id_checksum
FROM (
  SELECT event_id,
         CASE
           WHEN value > 400 THEN 'quarantine:value_out_of_range'
           WHEN CAST(json_extract(props, '$.k') AS BIGINT) > 90
             THEN 'quarantine:props_k_out_of_range'
           ELSE 'ok'
         END AS disposition
  FROM events
) routed
GROUP BY disposition
ORDER BY disposition
"""


@register(
    "etl_deadletter_routing",
    oracle=_DEADLETTER_ORACLE,
    tags=("etl-parity", "aggregation"),
)
def etl_deadletter_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validation split with dead-letter dispositions: each row is
    labeled ok or with the first rule it failed, and the summary's
    per-disposition counts + id checksums prove NO row was silently
    dropped — the audit the reference's `continue`-on-error loop
    (extractor.go:88-91) cannot produce.

    Scale shape: the disposition is a map-side CASE projection (the
    JSON probe is a JVM get_json_object), the rollup partial-
    aggregates to |rules|+1 groups, and in a real pipeline the same
    disposition column drives a partitioned write
    (partitionBy(disposition)) so quarantine lands as its own
    auditable partition — zero extra passes."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "value", "props"
    )
    disposition = (
        F.when(F.col("value") > 400, "quarantine:value_out_of_range")
        .when(
            F.get_json_object("props", "$.k").cast("long") > 90,
            "quarantine:props_k_out_of_range",
        )
        .otherwise("ok")
    )
    return (
        ev.select("event_id", disposition.alias("disposition"))
        .groupBy("disposition")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("event_id").cast("long").alias("id_checksum"),
        )
        .orderBy("disposition")
    )


# ---------------------------------------------------------------------------
# Pseudonymization: salted-hash tokenization that preserves joins.
# ---------------------------------------------------------------------------
_PSEUDO_PEPPER = "pepper-v1"  # in production: a secret from a KMS, rotated

_PSEUDO_ORACLE = f"""
WITH c AS (
  SELECT c_custkey, c_mktsegment,
         sha256('{_PSEUDO_PEPPER}:' || CAST(c_custkey AS VARCHAR)) AS cust_token
  FROM customer
),
o AS (
  SELECT sha256('{_PSEUDO_PEPPER}:' || CAST(o_custkey AS VARCHAR)) AS cust_token,
         o_totalprice
  FROM orders
)
SELECT c.c_mktsegment, substr(c.cust_token, 1, 16) AS token_prefix,
       CAST(COUNT(o.o_totalprice) AS BIGINT) AS n_orders,
       ROUND(SUM(o.o_totalprice), 4) AS total_spend
FROM c JOIN o ON o.cust_token = c.cust_token
GROUP BY c.c_mktsegment, substr(c.cust_token, 1, 16)
ORDER BY n_orders DESC, token_prefix
LIMIT 100
"""


@register(
    "etl_pseudonymize",
    oracle=_PSEUDO_ORACLE,
    tags=("etl-parity", "llm", "join"),
)
def etl_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy-preserving tokenization: replace the natural key with a
    peppered SHA-256 token in EVERY table that carries it, then prove
    referential integrity survives — orders still join to customers on
    the token alone, with the raw key nowhere in the output. This is
    the de-identification step a training-data pipeline runs before
    text ever reaches a model (PII redaction handles free text —
    text_pii_redact; tokenization handles the keyed columns).

    100 TB shape: tokenization is a map-side JVM sha2 projection on
    each scan (no exchange added); the downstream join shuffles on the
    token exactly as it would on the raw key — same cardinality, same
    plan, because the token is a bijection of the key under a fixed
    pepper. Deterministic tokens (vs random) are what keep cross-table
    and cross-day joins working; rotating the pepper re-keys the whole
    corpus."""
    token = lambda col: F.sha2(  # noqa: E731
        F.concat(F.lit(f"{_PSEUDO_PEPPER}:"), F.col(col).cast("string")), 256
    )
    cust = load_table(spark, sf_dir, "customer").select(
        token("c_custkey").alias("cust_token"), "c_mktsegment"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        token("o_custkey").alias("cust_token"), "o_totalprice"
    )
    return (
        orders.join(cust, "cust_token")
        .groupBy("c_mktsegment", F.substring("cust_token", 1, 16).alias("token_prefix"))
        .agg(
            F.count("o_totalprice").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("total_spend"),
        )
        .orderBy(F.desc("n_orders"), "token_prefix")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Audit-column injection (lineage stamping at load time).
# ---------------------------------------------------------------------------
# The oracle runs against the driver's pre-registered views (no
# filename pseudo-column), but the fixture layout makes the basename a
# constant — asserting it literally still proves the Spark side
# resolves input_file_name to the right file.
_AUDIT_ORACLE = """
SELECT event_id,
       'events.parquet' AS src_file,
       md5(CAST(event_id AS VARCHAR) || '|' || event_type) AS row_md5
FROM events
"""


@register(
    "etl_audit_columns",
    oracle=_AUDIT_ORACLE,
    tags=("etl-parity", "scan"),
)
def etl_audit_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stamps every loaded row with its provenance: source file
    basename (input_file_name — free task-level metadata, no I/O) and
    a deterministic row fingerprint (md5 over the stable key columns;
    NOT float columns — float-to-string rendering is engine-specific).
    The audit projection every warehouse load adds and the reference's
    channel rows lose (extractor.go's GenericRow carries no
    provenance).

    100 TB shape: pure map-side projection fused into the scan —
    zero exchanges, zero extra reads."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.regexp_extract(F.input_file_name(), r"([^/]+)$", 1).alias(
            "src_file"
        ),
        F.md5(
            F.concat_ws("|", F.col("event_id").cast("string"), "event_type")
        ).alias("row_md5"),
    )


# ---------------------------------------------------------------------------
# Composed pipeline-health report (the ops twin of the training-export
# composition): constraints + volumes + anomaly counts + freshness
# span, one job, one typed alerts relation.
# ---------------------------------------------------------------------------
_HEALTH_ORACLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY event_type, hour
),
scored AS (
  SELECT event_type, n,
         AVG(n) OVER w AS mu, STDDEV_SAMP(n) OVER w AS sigma,
         COUNT(*) OVER w AS lb
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
),
anom AS (
  SELECT s.event_type,
         CAST(COUNT(*) FILTER (
           WHERE lb = 24 AND sigma > 0 AND abs((n - mu) / sigma) > 2.0
         ) AS BIGINT) AS n_anom
  FROM scored s GROUP BY s.event_type
)
SELECT section, entity, metric FROM (
  SELECT 'constraint' AS section, 'lineitem_orphan_orderkey' AS entity,
         CAST(COUNT(*) AS BIGINT) AS metric
  FROM lineitem l WHERE NOT EXISTS (
    SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
  UNION ALL
  SELECT 'constraint', 'orders_orphan_custkey', CAST(COUNT(*) AS BIGINT)
  FROM orders o WHERE NOT EXISTS (
    SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
  UNION ALL
  SELECT 'constraint', 'orders_duplicate_pk',
         CAST(COALESCE(SUM(cnt - 1), 0) AS BIGINT)
  FROM (SELECT o_orderkey, COUNT(*) AS cnt FROM orders
        GROUP BY o_orderkey HAVING COUNT(*) > 1) d
  UNION ALL
  SELECT 'row_count', 'events', CAST(COUNT(*) AS BIGINT) FROM events
  UNION ALL
  SELECT 'row_count', 'orders', CAST(COUNT(*) AS BIGINT) FROM orders
  UNION ALL
  SELECT 'row_count', 'lineitem', CAST(COUNT(*) AS BIGINT) FROM lineitem
  UNION ALL
  SELECT 'span_hours', 'events',
         CAST(date_diff('hour', MIN(ts), MAX(ts)) AS BIGINT) FROM events
  UNION ALL
  SELECT 'volume_anomaly', event_type, n_anom FROM anom
) r
ORDER BY section, entity
"""


@register(
    "pipeline_health_report",
    oracle=_HEALTH_ORACLE,
    tags=("etl-parity", "aggregation", "stats", "llm"),
)
def pipeline_health_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One job, one typed health relation: referential/PK constraint
    violation counts, table row counts, the events table's hour span
    (freshness proxy), and per-type counts of hourly volume anomalies
    (|z| > 2 against the trailing 24h) — the monitoring composition an
    ops pipeline schedules after every load, where
    pipeline_training_export is the training-side composition.

    Scale shape: the branches share nothing and Spark schedules them
    as independent stages of one job — report latency is max(branch);
    every branch is a shape proven by its standalone operator
    (anti-join audit, window z-score, map-side counts)."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    ev = load_table(spark, sf_dir, "events")

    def row(section: str, entity: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(section).alias("section"),
            F.lit(entity).alias("entity"),
            F.col("metric").cast("long").alias("metric"),
        )

    parts = [
        row(
            "constraint",
            "lineitem_orphan_orderkey",
            li.select("l_orderkey")
            .join(orders.select("o_orderkey"),
                  li.l_orderkey == F.col("o_orderkey"), "left_anti")
            .agg(F.count("*").alias("metric")),
        ),
        row(
            "constraint",
            "orders_orphan_custkey",
            orders.join(cust, orders.o_custkey == cust.c_custkey, "left_anti")
            .agg(F.count("*").alias("metric")),
        ),
        row(
            "constraint",
            "orders_duplicate_pk",
            orders.groupBy("o_orderkey")
            .agg(F.count("*").alias("cnt"))
            .filter(F.col("cnt") > 1)
            .agg(F.coalesce(F.sum(F.col("cnt") - 1), F.lit(0)).alias("metric")),
        ),
        row("row_count", "events", ev.agg(F.count("*").alias("metric"))),
        row("row_count", "orders", orders.agg(F.count("*").alias("metric"))),
        row("row_count", "lineitem", li.agg(F.count("*").alias("metric"))),
        row(
            "span_hours",
            "events",
            ev.agg(
                (
                    F.floor(F.unix_timestamp(F.max("ts")) / 3600)
                    - F.floor(F.unix_timestamp(F.min("ts")) / 3600)
                ).alias("metric")
            ),
        ),
    ]
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count("*").alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-24, -1)
    )
    scored = hourly.select(
        "event_type",
        "n",
        F.avg("n").over(w).alias("mu"),
        F.stddev_samp("n").over(w).alias("sigma"),
        F.count("*").over(w).alias("lb"),
    )
    anom = scored.groupBy("event_type").agg(
        F.count_if(
            (F.col("lb") == 24)
            & (F.col("sigma") > 0)
            & (F.abs((F.col("n") - F.col("mu")) / F.col("sigma")) > 2.0)
        ).alias("metric")
    )
    parts.append(
        anom.select(
            F.lit("volume_anomaly").alias("section"),
            F.col("event_type").alias("entity"),
            F.col("metric").cast("long").alias("metric"),
        )
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("section", "entity")


# ---------------------------------------------------------------------------
# Balanced range planning (the skew-proof upgrade of the stride loop).
# ---------------------------------------------------------------------------
# The reference partitions by FIXED KEY STRIDE (10k keys per chunk,
# extractor.go:274-287): with sparse or clustered keys, chunk ROW
# counts skew arbitrarily — some fetchers idle while one drags. The
# Spark-native planning step cuts the key range where the ROWS are:
# equal-population chunks from the key's rank distribution. Exact
# ranks here (oracle-checkable via DuckDB's NTILE); at 100 TB plan
# from approx_percentile(key, ...) instead — same output shape, one
# scan, no rank shuffle.
BALANCED_CHUNKS = 16

_BALANCED_ORACLE = f"""
WITH keys AS (SELECT DISTINCT l_orderkey AS k FROM lineitem),
binned AS (
  SELECT k, ntile({BALANCED_CHUNKS}) OVER (ORDER BY k) AS chunk_id
  FROM keys
)
SELECT CAST(chunk_id AS INT) AS chunk_id,
       MIN(k) AS lo_key, MAX(k) AS hi_key,
       CAST(COUNT(*) AS BIGINT) AS n_keys
FROM binned GROUP BY chunk_id
"""


@register(
    "etl_plan_balanced_ranges",
    oracle=_BALANCED_ORACLE,
    tags=("etl-parity", "partitioning", "skew"),
)
def etl_plan_balanced_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan BALANCED_CHUNKS scan ranges over the lineitem key with
    equal KEY POPULATION per chunk — the planning table that replaces
    extractor.go's fixed 10k stride. Built scale-safe: distinct keys →
    range-partitioned global rank (no single-reducer window) → NTILE's
    remainder rule as integer arithmetic → per-chunk bounds. Each
    output row is one fetcher's WHERE k >= lo AND k <= hi predicate.

    The hash gate runs DuckDB's native NTILE over the same keys, so
    the distributed formulation is proven equivalent to the sequential
    definition."""
    from golang_etl_spark.operators.windows import global_row_number

    keys = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("k"))
        .distinct()
    )
    ranked = global_row_number(keys, [F.col("k")], out_col="rn")
    n_row = keys.agg(F.count("*").alias("n_total"))
    c = BALANCED_CHUNKS
    binned = ranked.crossJoin(F.broadcast(n_row)).selectExpr(
        "k",
        f"CAST(CASE WHEN rn <= (n_total % {c}) * (n_total div {c} + 1) "
        f"THEN (rn - 1) div (n_total div {c} + 1) + 1 "
        f"ELSE (n_total % {c}) "
        f"     + (rn - 1 - (n_total % {c}) * (n_total div {c} + 1)) "
        f"       div (n_total div {c}) + 1 END AS INT) AS chunk_id",
    )
    return binned.groupBy("chunk_id").agg(
        F.min("k").alias("lo_key"),
        F.max("k").alias("hi_key"),
        F.count("*").alias("n_keys"),
    )
