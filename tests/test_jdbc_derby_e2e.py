"""Live JDBC end-to-end over embedded Derby.

The JDBC seam (seed_shard batched write -> bounds discovery ->
read_shard_table predicates range scan -> extract_table parquet sink)
was previously unit-tested only: no MySQL server or client jar in the
sandbox. Derby DOES ship with the Spark distribution (it backs the
Hive metastore), and its embedded driver runs inside the Spark JVM —
an in-memory database every local executor thread can reach. That
makes the real code path drivable: actual INSERTs, actual stride
predicates pushed to a SQL engine, actual round-trip.

MySQL-specific behavior (dialect quoting, server-side cursors) stays a
documented seam; what this proves is the partitioned-JDBC plumbing the
reference implements by hand (/root/reference/extractor.go:41-112).
"""

import dataclasses

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from golang_etl_spark.etl import (
    extract_table,
    plan_jdbc_read,
    predicates_for_plan,
    read_shard_table,
    run_jobspec,
)
from golang_etl_spark.jobspec import JobSpec, TableJob
from golang_etl_spark.sources.sinks import seed_shard, seed_table

N_ROWS = 5_000
URL = "jdbc:derby:memory:etl_e2e;create=true"


def _spec(tmp_path, stride=1_000):
    job = TableJob(
        table="seed_data",
        output=str(tmp_path / "extracted"),
        primary_key="id",
        db="derby0",
    )
    return (
        JobSpec(
            shards={"derby0": URL},
            jobs=(job,),
            stride=stride,
            source_format="jdbc",
            # Derby's embedded engine serializes heavily; a handful of
            # connections is plenty for the semantics under test
            fetch_concurrency=4,
        ),
        job,
    )


@pytest.fixture(scope="module")
def seeded(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("jdbc_e2e")
    spec, job = _spec(tmp)
    seed_shard(spark, spec, job, n_rows=N_ROWS)
    return spec, job


def test_jdbc_roundtrip_values_exact(spark, seeded):
    spec, job = seeded
    got = read_shard_table(spark, spec, job)
    want = seed_table(spark, N_ROWS)
    assert got.count() == N_ROWS
    # exact content equality both directions (data column may come
    # back as CLOB -> string; cast normalizes)
    g = got.select(F.col("id").cast("long"), F.col("data").cast("string"))
    assert g.exceptAll(want).count() == 0
    assert want.exceptAll(g).count() == 0


def test_jdbc_scan_is_partitioned_range(spark, seeded):
    spec, job = seeded
    got = read_shard_table(spark, spec, job)
    # stride math: ceil(5000/1000) = 5 chunks, capped at
    # fetch_concurrency=4 and at the session's cores
    cores = spark.sparkContext.defaultParallelism
    assert got.rdd.getNumPartitions() == min(5, 4, cores)
    # every partition non-empty — the bounds really fed the stride
    sizes = got.rdd.mapPartitions(lambda it: [sum(1 for _ in it)]).collect()
    assert all(s > 0 for s in sizes), sizes


def test_extract_table_lands_parquet(spark, seeded, tmp_path):
    spec, job = seeded
    n = extract_table(spark, spec, job)
    assert n == N_ROWS
    back = spark.read.parquet(job.output)
    assert back.count() == N_ROWS
    assert back.select(F.countDistinct("id")).first()[0] == N_ROWS


def _bounds_api_read(spark, spec, job):
    """The table as Spark's partitionColumn reader returns it over the
    same plan: the row reference for the predicates reader."""
    _qpk, plan = plan_jdbc_read(spark, spec, job)
    return spark.read.format("jdbc").options(
        url=spec.shards[job.db],
        dbtable=job.table,
        partitionColumn=job.primary_key,
        lowerBound=str(plan.lower_bound),
        upperBound=str(plan.upper_bound),
        numPartitions=str(plan.num_partitions),
    ).load()


def _assert_reads_like_bounds_api(spark, spec, job, want_parts):
    """read_shard_table scans one partition per predicate of the plan,
    want_parts of them, and returns the partitionColumn read's rows."""
    got = read_shard_table(spark, spec, job)
    preds = predicates_for_plan(*plan_jdbc_read(spark, spec, job))
    assert got.rdd.getNumPartitions() == len(preds) == want_parts
    a = sorted(tuple(r) for r in _bounds_api_read(spark, spec, job).collect())
    assert a == sorted(tuple(r) for r in got.collect())
    assert len(a) == N_ROWS


def test_jdbc_predicates_api_matches_bounds_api(spark, seeded):
    """The predicates-list read (one explicit WHERE per chunk — the
    literal rendering of the reference's stride loop) returns the same
    rows as a partitionColumn bounds read, with one partition per
    predicate: ceil(5000/1000) = 5 chunks, 4 connection slots."""
    spec, job = seeded
    _assert_reads_like_bounds_api(
        spark, spec, job, min(5, 4, spark.sparkContext.defaultParallelism)
    )


def test_both_readers_cap_partitions_at_cores(spark, seeded):
    """stride 100 over 5,000 keys is 50 chunks; with 20 connection
    slots the reader scans min(chunks, slots, cores) partitions and
    returns the partitionColumn read's rows."""
    spec, job = seeded
    spec = dataclasses.replace(spec, stride=100, fetch_concurrency=20)
    _assert_reads_like_bounds_api(
        spark, spec, job, min(50, 20, spark.sparkContext.defaultParallelism)
    )


def test_null_key_row_read_exactly_once(spark, tmp_path):
    """A NULL key matches no range predicate; the reader must still
    return that row once (the first partition takes `pk IS NULL`)."""
    rows = [(None, "null-key")] + [(i, f"row{i}") for i in range(1, 1_001)]
    df = spark.createDataFrame(rows, "id long, data string")
    df.write.jdbc(URL, "null_keys", mode="overwrite")
    job = TableJob(
        table="null_keys", output=str(tmp_path / "out"), primary_key="id", db="derby0"
    )
    spec = JobSpec(shards={"derby0": URL}, jobs=(job,), stride=100)
    got = read_shard_table(spark, spec, job)
    parts = min(10, spec.fetch_concurrency, spark.sparkContext.defaultParallelism)
    assert got.rdd.getNumPartitions() == parts
    assert got.count() == len(rows)
    assert got.filter(F.col("id").isNull()).count() == 1


def test_run_jobspec_settles_every_job_before_raising(spark, seeded, tmp_path):
    """A table that vanished fails its job, but not the others: the
    jobs on either side of it land complete, and run_jobspec raises."""
    spec, job = seeded
    tail = [(i, f"tail{i}") for i in range(10, 1_510)]
    spark.createDataFrame(tail, "id long, data string").write.jdbc(
        URL, "fault_tail", mode="overwrite"
    )
    jobs = tuple(
        TableJob(table=t, output=str(tmp_path / t), primary_key="id", db="derby0")
        for t in ("seed_data", "vanished", "fault_tail")
    )
    with pytest.raises(Py4JJavaError, match="'VANISHED' does not exist"):
        run_jobspec(spark, dataclasses.replace(spec, jobs=jobs))
    for out, n in ((jobs[0].output, N_ROWS), (jobs[2].output, len(tail))):
        back = spark.read.parquet(out)
        assert back.count() == n, out
        assert back.select(F.countDistinct("id")).first()[0] == n, out
    assert not (tmp_path / "vanished").exists()


def _bounds_via_spark_read(spark, spec, job, qpk):
    """The range plan as the bounds query read through Spark's JDBC
    source would give it (a derived-table wrapper and a job)."""
    from golang_etl_spark.etl import plan_range_partitions

    lo, hi = spark.read.format("jdbc").options(
        url=spec.shards[job.db],
        query=f"SELECT MIN({qpk}) AS mn, MAX({qpk}) AS mx FROM {job.table}",
    ).load().first()
    cap = min(spec.fetch_concurrency, spark.sparkContext.defaultParallelism)
    return plan_range_partitions(int(lo), int(hi), spec.stride, cap)


def _jobs_started(spark, fn):
    sc = spark.sparkContext
    group = "plan_jdbc_read_probe"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_plan_jdbc_read_starts_no_spark_job(spark, seeded, tmp_path):
    """The bounds query runs on a driver connection: no Spark job, and
    the same plan as reading it through Spark's JDBC source, also for a
    table with a NULL key."""
    rows = [(None, "null-key")] + [(i, f"row{i}") for i in range(7, 2_001)]
    spark.createDataFrame(rows, "id long, data string").write.jdbc(
        URL, "bounds_null_keys", mode="overwrite"
    )
    spec, job = seeded
    null_job = TableJob(
        table="bounds_null_keys",
        output=str(tmp_path / "out"),
        primary_key="id",
        db="derby0",
    )
    for s, j in ((spec, job), (dataclasses.replace(spec, stride=100), null_job)):
        (qpk, plan), n_jobs = _jobs_started(
            spark, lambda: plan_jdbc_read(spark, s, j)
        )
        assert n_jobs == 0, j.table
        assert qpk == '"id"'
        assert plan == _bounds_via_spark_read(spark, s, j, qpk), j.table
    assert plan.lower_bound == 7 and plan.upper_bound == 2_001


def test_plan_jdbc_read_rejects_tables_without_a_key_range(spark, tmp_path):
    """An empty table and a table whose keys are all NULL have no range
    to plan: both raise instead of planning a scan."""
    tables = {"bounds_empty": [], "bounds_all_null": [(None, "a"), (None, "b")]}
    for table, rows in tables.items():
        spark.createDataFrame(rows, "id long, data string").write.jdbc(
            URL, table, mode="overwrite"
        )
        job = TableJob(
            table=table, output=str(tmp_path / table), primary_key="id", db="derby0"
        )
        spec = JobSpec(shards={"derby0": URL}, jobs=(job,), source_format="jdbc")
        with pytest.raises(ValueError, match="no rows / null pk"):
            plan_jdbc_read(spark, spec, job)
