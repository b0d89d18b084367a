"""Live-MySQL verification suite — the README's "re-verify before
pointing at a real shard" checklist (README.md "Known untested seams"),
made executable instead of prose.

Skips cleanly when no server is reachable; to run against a real
MySQL (outside this sandbox, which has neither server nor client jar):

    MYSQL_URL='jdbc:mysql://host:3306/testdb?user=u&password=p' \\
    PYSPARK_SUBMIT_ARGS='--packages com.mysql:mysql-connector-j:8.4.0 pyspark-shell' \\
    python -m pytest tests/test_jdbc_mysql_live.py -m mysql -v

What it verifies (the three seams Derby cannot exercise,
tests/test_jdbc_derby_e2e.py covers everything else):

1. the type-coercion matrix — the reference's only normalization is
   MySQL-driver ``[]byte`` -> string (/root/reference/extractor.go:
   100-104); Spark's MySQL dialect decides TINYINT(1)->boolean,
   unsigned BIGINT->decimal(20,0), DECIMAL precision, binary columns;
2. identifier quoting — backticks for reserved-word tables/columns,
   asked from ``JdbcDialects.get(url)``;
3. the partitioned range scan (stride predicates, fetchsize) against a
   server that actually parses them — plus the ``useCursorFetch``
   requirement for server-side cursors, set on the shard URL the
   reader scans (Connector/J materializes each partition otherwise).
"""

from __future__ import annotations

import os

import pytest

MYSQL_URL = os.environ.get("MYSQL_URL")

pytestmark = [
    pytest.mark.mysql,
    pytest.mark.skipif(
        not MYSQL_URL,
        reason="MYSQL_URL not set — live-MySQL suite is opt-in "
        "(see module docstring for the one-liner)",
    ),
]

N_ROWS = 5_000


def _exec_sql(spark, *stmts: str) -> None:
    """Raw DDL/DML through the JVM's DriverManager (Spark's JDBC
    DataFrame API cannot express MySQL column types like TINYINT(1))."""
    jvm = spark._sc._jvm
    conn = jvm.java.sql.DriverManager.getConnection(MYSQL_URL)
    try:
        st = conn.createStatement()
        try:
            for s in stmts:
                st.execute(s)
        finally:
            st.close()
    finally:
        conn.close()


def _spec(tmp_path, stride=1_000):
    from golang_etl_spark.jobspec import JobSpec, TableJob

    job = TableJob(
        table="seed_data",
        output=str(tmp_path / "extracted"),
        primary_key="id",
        db="mysql0",
    )
    return (
        JobSpec(
            shards={"mysql0": MYSQL_URL},
            jobs=(job,),
            stride=stride,
            source_format="jdbc",
            fetch_concurrency=4,
        ),
        job,
    )


def test_mysql_roundtrip_values_exact(spark, tmp_path):
    """The Derby e2e round-trip, replayed against the real dialect:
    seed (batched INSERTs) -> bounds -> partitioned range scan ->
    exact content equality."""
    from pyspark.sql import functions as F

    from golang_etl_spark.etl import read_shard_table
    from golang_etl_spark.sources.sinks import seed_shard, seed_table

    spec, job = _spec(tmp_path)
    seed_shard(spark, spec, job, n_rows=N_ROWS)
    got = read_shard_table(spark, spec, job)
    want = seed_table(spark, N_ROWS)
    assert got.count() == N_ROWS
    assert 1 < got.rdd.getNumPartitions() <= 4
    g = got.select(F.col("id").cast("long"), F.col("data").cast("string"))
    assert g.exceptAll(want).count() == 0
    assert want.exceptAll(g).count() == 0


def test_mysql_type_coercion_matrix(spark):
    """README matrix, live: every MySQL-dialect mapping the reference's
    []byte->string normalization glosses over."""
    _exec_sql(
        spark,
        "DROP TABLE IF EXISTS etl_type_matrix",
        """CREATE TABLE etl_type_matrix (
             id BIGINT PRIMARY KEY,
             flag TINYINT(1),
             tiny TINYINT,
             ubig BIGINT UNSIGNED,
             dec20_4 DECIMAL(20,4),
             dbl DOUBLE,
             vbin VARBINARY(16),
             lob BLOB,
             txt TEXT,
             dt DATETIME,
             d DATE
           )""",
        "INSERT INTO etl_type_matrix VALUES "
        "(1, 1, -5, 18446744073709551615, 12345.6789, 1.5, "
        " X'DEADBEEF', X'CAFE', 'hello', "
        " '2024-02-29 12:34:56', '2024-02-29'),"
        "(2, 0, NULL, 0, NULL, NULL, NULL, NULL, NULL, NULL, NULL)",
    )
    df = (
        spark.read.format("jdbc")
        .option("url", MYSQL_URL)
        .option("dbtable", "etl_type_matrix")
        .load()
    )
    dt = dict(df.dtypes)
    # Connector/J defaults: TINYINT(1) -> boolean (tinyInt1isBit=true)
    assert dt["flag"] == "boolean", dt
    assert dt["tiny"] in ("int", "smallint", "tinyint"), dt
    # unsigned BIGINT cannot fit a long; the dialect widens to decimal
    assert dt["ubig"] == "decimal(20,0)", dt
    assert dt["dec20_4"] == "decimal(20,4)", dt
    assert dt["dbl"] == "double", dt
    assert dt["vbin"] == "binary" and dt["lob"] == "binary", dt
    assert dt["txt"] == "string", dt
    assert dt["dt"] == "timestamp" and dt["d"] == "date", dt

    rows = {r["id"]: r for r in df.collect()}
    assert rows[1]["flag"] is True and rows[2]["flag"] is False
    assert int(rows[1]["ubig"]) == 18446744073709551615
    assert float(rows[1]["dec20_4"]) == 12345.6789
    assert bytes(rows[1]["vbin"]) == bytes.fromhex("deadbeef")
    assert rows[1]["txt"] == "hello"
    assert all(rows[2][c] is None for c in ("tiny", "dec20_4", "txt", "dt"))
    # the reference's []byte->string cast surface (extractor.go:100-104):
    # binary columns must cast losslessly for utf8 payloads
    from pyspark.sql import functions as F

    casted = df.filter("id = 1").select(
        F.col("lob").cast("string").alias("s")
    ).first()
    assert casted["s"] is not None
    _exec_sql(spark, "DROP TABLE IF EXISTS etl_type_matrix")


def test_mysql_reserved_word_identifiers_quoted(spark):
    """Backtick quoting from JdbcDialects.get(url): a reserved-word
    table and column must scan without manual quoting."""
    _exec_sql(
        spark,
        "DROP TABLE IF EXISTS `order`",
        "CREATE TABLE `order` (id BIGINT PRIMARY KEY, `group` VARCHAR(8))",
        "INSERT INTO `order` VALUES (1, 'a'), (2, 'b')",
    )
    df = (
        spark.read.format("jdbc")
        .option("url", MYSQL_URL)
        .option("dbtable", "`order`")
        .load()
    )
    assert df.count() == 2
    assert {r["group"] for r in df.collect()} == {"a", "b"}
    _exec_sql(spark, "DROP TABLE IF EXISTS `order`")


def test_mysql_cursor_fetch_option_applied(spark, tmp_path):
    """Connector/J needs useCursorFetch=true for a server-side cursor;
    without it each partition's result set is materialized in the
    executor. The option rides the shard URL into the reader, and the
    scan must still return exact results with it on."""
    import dataclasses

    from golang_etl_spark.etl import read_shard_table

    spec, job = _spec(tmp_path)
    url = MYSQL_URL + ("&" if "?" in MYSQL_URL else "?") + "useCursorFetch=true"
    spec = dataclasses.replace(spec, shards={job.db: url})
    df = read_shard_table(spark, spec, job)
    assert df.count() == N_ROWS
