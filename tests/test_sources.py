"""Source-catalog tests: the events.ts normalization path and the
per-session schema cache.

The fixture ``events.ts`` physical type has varied across driver
drops: INT64 TIMESTAMP(NANOS) (read as raw long under
spark.sql.legacy.parquet.nanosAsLong, truncated to micros with integer
division — float division of epoch-nanos would exceed double's 53-bit
mantissa and corrupt the microsecond) and TIMESTAMP(MICROS) (read as
TIMESTAMP_NTZ, cast to the session-UTC TIMESTAMP). load_table inspects
the actual schema; these tests prove both vintages land on exactly the
microsecond values DuckDB reads — which is what keeps every ts-bearing
oracle comparable. load_table infers a table's schema once per session
and declares it on later reads of the same files; the cache tests pin
that a rewrite is inferred again and that a repeat read starts no job.
"""

import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql import types as T

from golang_etl_spark.sources.catalog import TABLES, load_table


def _fixture_ts_is_nanos_long(sf_dir) -> bool:
    return str(pq.read_schema(f"{sf_dir}/events.parquet").field("ts").type) == "int64"


def test_events_ts_is_timestamp(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    assert isinstance(ev.schema["ts"].dataType, T.TimestampType)


def test_events_ts_matches_duckdb_to_the_microsecond(spark, sf_dir):
    # DuckDB's native parquet timestamp read produces the reference
    # microsecond values Spark must reproduce for either fixture
    # vintage (this is what makes every ts-bearing oracle comparable)
    got = {
        r["event_id"]: r["us"]
        for r in load_table(spark, sf_dir, "events")
        .select("event_id", F.unix_micros("ts").alias("us"))
        .collect()
    }
    want = dict(
        duckdb.sql(
            f"SELECT event_id, epoch_us(ts) FROM read_parquet('{sf_dir}/events.parquet')"
        ).fetchall()
    )
    assert got == want


def test_raw_nanos_truncate_exactly(spark, sf_dir):
    # nanos-vintage only: the integer-DIV contract ts_us == raw_ns DIV
    # 1000 for every row. The nanos carry sub-microsecond digits, so
    # this is a truncation (identical to DuckDB's TIMESTAMP_NS ->
    # micros read), not a lossless cast — and it must be integer
    # division: float division of epoch-nanos (~1.7e18) sits at
    # double's 53-bit mantissa edge where floor() can land on the
    # wrong microsecond
    if not _fixture_ts_is_nanos_long(sf_dir):
        pytest.skip("fixture vintage stores micros; nanos path not in play")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", F.col("ts").alias("ns")
    )
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.unix_micros("ts").alias("us")
    )
    joined = raw.join(ev, "event_id")
    assert joined.filter(F.expr("us != ns DIV 1000")).count() == 0
    # and the truncation is real on this data (sub-micro digits exist)
    assert joined.filter(F.expr("ns % 1000 != 0")).count() > 0


def test_unknown_table_rejected(spark, sf_dir):
    try:
        load_table(spark, sf_dir, "nope")
        raise AssertionError("expected KeyError")
    except KeyError:
        pass


def test_catalog_covers_all_fixture_tables(spark, sf_dir):
    for t in TABLES:
        df = load_table(spark, sf_dir, t)
        assert len(df.columns) > 0


# -- per-session schema cache -----------------------------------------------


def _jobs_started(spark, group, fn):
    """Run ``fn`` under a fresh job group; return the Spark job ids it
    started (the listener bus is drained so none is still in flight)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _write(path, **columns):
    pq.write_table(pa.table(columns), str(path))


def test_schema_cache_sees_rewritten_table(spark, tmp_path):
    _write(tmp_path / "region.parquet", r_regionkey=[0, 1], r_name=["A", "B"])
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]
    _write(
        tmp_path / "region.parquet",
        r_regionkey=[0, 1],
        r_name=["A", "B"],
        r_comment=["x", "y"],
    )
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert sorted(r["r_comment"] for r in df.collect()) == ["x", "y"]


def test_schema_cache_nanos_vintage_replaced_by_micros(spark, tmp_path):
    # the cache holds the raw read schema (long for nanos, timestamp_ntz
    # for micros), so swapping vintages under one path still lands on
    # the same normalized microseconds: us == ns DIV 1000
    ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999, 1_699_999_999_999_999_001]
    ids = list(range(len(ns)))
    want = {i: n // 1000 for i, n in zip(ids, ns)}

    def micros(sf_dir):
        ev = load_table(spark, sf_dir, "events")
        assert isinstance(ev.schema["ts"].dataType, T.TimestampType)
        return {
            r["event_id"]: r["us"]
            for r in ev.select("event_id", F.unix_micros("ts").alias("us")).collect()
        }

    path = tmp_path / "events.parquet"
    pq.write_table(
        pa.table({"event_id": ids, "ts": pa.array(ns, pa.timestamp("ns"))}), str(path)
    )
    assert micros(str(tmp_path)) == want
    pq.write_table(
        pa.table({"event_id": ids, "ts": pa.array(list(want.values()), pa.timestamp("us"))}),
        str(path),
    )
    assert micros(str(tmp_path)) == want


def test_second_load_of_unchanged_table_starts_no_job(spark, tmp_path):
    _write(tmp_path / "nation.parquet", n_nationkey=[0, 1, 2], n_name=["A", "B", "C"])
    sf_dir = str(tmp_path)
    first = _jobs_started(
        spark, "schema-cache-first", lambda: load_table(spark, sf_dir, "nation")
    )
    assert first, "the first read infers the schema with a Spark job"
    again = _jobs_started(
        spark, "schema-cache-again", lambda: load_table(spark, sf_dir, "nation")
    )
    assert again == []
    assert load_table(spark, sf_dir, "nation").count() == 3


def test_schema_cache_is_per_session(spark, tmp_path):
    _write(tmp_path / "part.parquet", p_partkey=[1, 2])
    load_table(spark, str(tmp_path), "part")
    other = spark.newSession()
    jobs = _jobs_started(
        other, "schema-cache-new-session", lambda: load_table(other, str(tmp_path), "part")
    )
    assert jobs, "a new session infers again"


def test_missing_table_raises_sparks_error(spark, tmp_path):
    # nothing listed, nothing cached: Spark reports the missing path
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        load_table(spark, str(tmp_path), "supplier")


def test_concurrent_loads_keep_every_schema(spark, sf_dir):
    # more threads than cores, switching often: a lost update of the
    # shared cache would leave a table out of it
    from concurrent.futures import ThreadPoolExecutor

    from golang_etl_spark.sources import catalog

    session = spark.newSession()
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            futures = [
                pool.submit(load_table, session, sf_dir, t) for t in TABLES * 2
            ]
            schemas = [f.result(timeout=120) for f in futures]
    finally:
        sys.setswitchinterval(old)
    assert all(len(df.columns) > 0 for df in schemas)
    cached = catalog._session_schemas(session)._by_path
    assert sorted(cached) == sorted(f"{sf_dir}/{t}.parquet" for t in TABLES)
