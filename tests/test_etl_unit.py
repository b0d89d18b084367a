"""Unit tests for the pure planning/config layer — no SparkSession.

Covers SURVEY.md §5.3: partition-bounds math (including the
reference's maxKey+1 half-open fixup, /root/reference/extractor.go:
276-279), the YAML-schema -> StructType loader (replacing the
reference's schema/read_schema.go), and the JDBC predicates.
"""

import duckdb
import pytest
import yaml
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from golang_etl_spark.etl import plan_range_partitions, predicates_for_plan
from golang_etl_spark.jobspec import (
    JobSpec,
    format_field,
    format_schema,
    load_schema_yaml,
    parse_tag,
)
from golang_etl_spark.sources.sinks import seed_jdbc_options


class TestRangePartitioning:
    def test_reference_shape_1m_rows_stride_10k(self):
        # the reference's workload: keys 1..1_000_000, stride 10_000
        # -> ~100 chunks (extractor.go:270), upper bound maxKey+1
        plan = plan_range_partitions(1, 1_000_000, stride=10_000)
        assert plan.lower_bound == 1
        assert plan.upper_bound == 1_000_001  # half-open fixup
        assert plan.num_partitions == 100
        assert plan.stride == 10_000

    def test_single_chunk_small_range(self):
        plan = plan_range_partitions(5, 7, stride=10_000)
        assert plan.num_partitions == 1
        assert plan.upper_bound == 8

    def test_max_key_included(self):
        # span exactly divisible by stride still covers max_key
        plan = plan_range_partitions(0, 9_999, stride=10_000)
        assert plan.num_partitions == 1
        assert plan.upper_bound == 10_000

    def test_partition_cap_regrows_stride(self):
        # at 100 TB key spans the cap kicks in: fewer, bigger chunks
        plan = plan_range_partitions(0, 10_000_000 - 1, stride=10, max_partitions=64)
        assert plan.num_partitions == 64
        assert plan.stride * plan.num_partitions >= 10_000_000

    def test_empty_range_rejected(self):
        # the reference silently skips inverted bounds
        # (extractor.go:50-53); we fail loudly
        with pytest.raises(ValueError, match="empty key range"):
            plan_range_partitions(10, 5)


@settings(max_examples=200, deadline=None)
@given(
    lo=st.integers(-10**6, 10**6),
    span=st.integers(1, 50_000),
    stride=st.integers(1, 20_000),
    cap=st.integers(1, 40),
)
def test_predicates_cover_every_key_exactly_once(lo, span, stride, cap):
    """Every key (below MIN, inside the plan, above MAX, and NULL)
    matches exactly one predicate, evaluated by DuckDB: a key written
    outside [MIN, MAX] after the bounds query is neither lost nor read
    twice."""
    hi = lo + span - 1
    plan = plan_range_partitions(lo, hi, stride, cap)
    preds = predicates_for_plan("k", plan)
    assert len(preds) == plan.num_partitions <= cap
    cuts = range(lo + plan.stride, hi + 1, plan.stride)
    keys = {lo - 10**9, lo - plan.stride, lo - 1, lo, hi, hi + 1, hi + plan.stride, hi + 10**9}
    keys |= {c + d for c in [*cuts[:3], *cuts[-3:]] for d in (-1, 0)}
    hits = " + ".join(f"CASE WHEN {p} THEN 1 ELSE 0 END" for p in preds)
    rows = duckdb.execute(
        f"SELECT k, {hits} FROM (SELECT unnest(?::BIGINT[]) AS k)",
        [sorted(keys) + [None]],
    ).fetchall()
    assert len(rows) == len(keys) + 1
    assert [k for k, n in rows if n != 1] == []


class TestSchemaLoader:
    def test_parse_tag(self):
        tag = "name=data, type=BYTE_ARRAY, convertedtype=UTF8, repetitiontype=REQUIRED"
        assert parse_tag(tag) == {
            "name": "data",
            "type": "BYTE_ARRAY",
            "convertedtype": "UTF8",
            "repetitiontype": "REQUIRED",
        }

    def test_reference_schema_roundtrip(self, tmp_path):
        # mirrors /root/reference/schema/db.yaml verbatim
        p = tmp_path / "db.yaml"
        p.write_text(
            "schema:\n"
            '  tag: "name=parquet_go_root"\n'
            "  fields:\n"
            '    - tag: "name=id, type=INT64, repetitiontype=REQUIRED"\n'
            '    - tag: "name=data, type=BYTE_ARRAY, convertedtype=UTF8, repetitiontype=REQUIRED"\n'
        )
        st = load_schema_yaml(str(p))
        assert st == T.StructType(
            [
                T.StructField("id", T.LongType(), nullable=False),
                T.StructField("data", T.StringType(), nullable=False),
            ]
        )

    def test_unsupported_type_fails_loudly(self, tmp_path):
        p = tmp_path / "bad.yaml"
        p.write_text('schema:\n  fields:\n    - tag: "name=x, type=INT96"\n')
        with pytest.raises(ValueError, match="unsupported schema type"):
            load_schema_yaml(str(p))


class TestSchemaRenderer:
    """format_schema — parity with FormatSchema/formatFields
    (/root/reference/schema/read_schema.go:34-54): StructType back to
    parquet-go tag strings, with load->render->load stability."""

    DB_YAML = (
        "schema:\n"
        '  tag: "name=parquet_go_root"\n'
        "  fields:\n"
        '    - tag: "name=id, type=INT64, repetitiontype=REQUIRED"\n'
        '    - tag: "name=data, type=BYTE_ARRAY, convertedtype=UTF8, repetitiontype=REQUIRED"\n'
    )

    def test_format_field_reference_fields(self):
        # the exact two fields of /root/reference/schema/db.yaml:3-4
        assert (
            format_field(T.StructField("id", T.LongType(), nullable=False))
            == "name=id, type=INT64, repetitiontype=REQUIRED"
        )
        assert (
            format_field(T.StructField("data", T.StringType(), nullable=False))
            == "name=data, type=BYTE_ARRAY, convertedtype=UTF8, repetitiontype=REQUIRED"
        )

    def test_db_yaml_load_render_load_roundtrip(self, tmp_path):
        p = tmp_path / "db.yaml"
        p.write_text(self.DB_YAML)
        st = load_schema_yaml(str(p))
        rendered = format_schema(st)
        p2 = tmp_path / "rendered.yaml"
        p2.write_text(yaml.safe_dump(rendered))
        assert load_schema_yaml(str(p2)) == st

    def test_widened_types_roundtrip(self, tmp_path):
        # every type the loader accepts (canonical spellings) survives
        # a render->load cycle; TIMESTAMP_MILLIS canonicalizes to
        # MICROS (documented lossy spelling, same Spark type)
        st = T.StructType(
            [
                T.StructField("a", T.LongType(), False),
                T.StructField("b", T.IntegerType(), True),
                T.StructField("c", T.BooleanType(), True),
                T.StructField("d", T.FloatType(), True),
                T.StructField("e", T.DoubleType(), False),
                T.StructField("f", T.StringType(), True),
                T.StructField("g", T.BinaryType(), True),
                T.StructField("h", T.TimestampType(), False),
                T.StructField("i", T.DateType(), True),
            ]
        )
        p = tmp_path / "wide.yaml"
        p.write_text(yaml.safe_dump(format_schema(st)))
        assert load_schema_yaml(str(p)) == st

    def test_unrenderable_type_fails_loudly(self):
        f = T.StructField("m", T.MapType(T.StringType(), T.LongType()), True)
        with pytest.raises(ValueError, match="unrenderable"):
            format_field(f)


class TestSeederWritePath:
    def test_seed_jdbc_options_reference_constants(self):
        # batchsize replays the seeder's 1000-row INSERT batches
        # (tmp/data_seed.go:55); numPartitions caps connections like
        # the 20-slot write semaphore (extractor.go:268)
        opts = seed_jdbc_options("jdbc:mysql://h:3307/jerry", "big_table_1")
        assert opts["batchsize"] == "1000"
        assert opts["numPartitions"] == "20"
        assert opts["dbtable"] == "big_table_1"
        assert opts["url"].startswith("jdbc:mysql://")


class TestJobSpec:
    def test_from_yaml_defaults_are_reference_constants(self, tmp_path):
        p = tmp_path / "job.yaml"
        p.write_text(
            "shards:\n  jerry: /data/jerry\n"
            "jobs:\n  - {table: big_table_1, output: /out/jerry, primary_key: id, db: jerry}\n"
            "source_format: parquet\n"
        )
        spec = JobSpec.from_yaml(str(p))
        assert spec.stride == 10_000  # extractor.go:270
        assert spec.max_records_per_file == 100_000  # extractor.go:119
        assert spec.compression == "snappy"  # extractor.go:290
        assert spec.fetch_concurrency == 20  # extractor.go:267
        assert spec.jobs[0].table == "big_table_1"
        assert spec.shards["jerry"] == "/data/jerry"

    def test_from_yaml_casts_the_knobs_it_sets(self, tmp_path):
        p = tmp_path / "job.yaml"
        p.write_text('stride: "500"\nfetch_concurrency: 4.0\ncompression: zstd\n')
        spec = JobSpec.from_yaml(str(p))
        assert (spec.stride, spec.fetch_concurrency, spec.compression) == (500, 4, "zstd")
        assert type(spec.stride) is int and type(spec.fetch_concurrency) is int
        assert spec.max_records_per_file == 100_000 and spec.source_format == "jdbc"
        assert spec.jobs == () and spec.shards == {}


def test_run_jobspec_two_tables(spark, sf_dir, tmp_path):
    """Both jobs of a two-table spec land, with their row counts."""
    from golang_etl_spark.etl import run_jobspec
    from golang_etl_spark.jobspec import JobSpec, TableJob

    spec = JobSpec(
        shards={"shard0": sf_dir},
        source_format="parquet",
        jobs=(
            TableJob("region", str(tmp_path / "region"), "r_regionkey", "shard0"),
            TableJob("nation", str(tmp_path / "nation"), "n_nationkey", "shard0"),
        ),
    )
    assert run_jobspec(spark, spec) == {"shard0.region": 5, "shard0.nation": 25}
    assert spark.read.parquet(str(tmp_path / "region")).count() == 5
    assert spark.read.parquet(str(tmp_path / "nation")).count() == 25


def test_mysql_predicates_use_dialect_quoting(spark):
    """Regression: predicates must carry the DIALECT's identifier
    quoting. MySQL (the reference's target DB, /root/reference/go.mod:7)
    defaults to a sql_mode without ANSI_QUOTES, so '"id" >= lo' is a
    constant-true STRING comparison — every partition would full-scan
    and the union would return N-fold duplicate rows."""
    dialect = spark._jvm.org.apache.spark.sql.jdbc.JdbcDialects.get(
        "jdbc:mysql://localhost:3307/jerry"
    )
    qpk = str(dialect.quoteIdentifier("id"))
    assert qpk == "`id`"  # backticks, never ANSI double quotes
    plan = plan_range_partitions(0, 25_000, stride=10_000)
    preds = predicates_for_plan(qpk, plan)
    assert len(preds) == 3
    # every clause names the key only in backticks
    assert all("`id`" in p and "id" not in p.replace("`id`", "") for p in preds)
    assert not any('"' in p for p in preds)
