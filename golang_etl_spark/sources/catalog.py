"""Fixture-table catalog: parquet sources at a scale-factor directory.

The reference discovers source schema at runtime from the result set
(/root/reference/extractor.go:71-75); Spark's parquet reader does the
same from file footers. That inference is a Spark job of its own, so
each table's schema is inferred once per SparkSession and declared
(``spark.read.schema``) on every later read of the same files; a
rewritten or replaced table is inferred again. Filters and
projections applied downstream are pushed into these scans by Catalyst
(verify with ``df.explain``: PushedFilters / ReadSchema).
"""

from __future__ import annotations

import threading
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimensions that should always be broadcast in joins at any SF:
# region/nation are bounded (5/25 rows at every scale), supplier/part
# grow slowly. Kept as metadata so operators can hint deliberately.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})


# Timestamp columns whose parquet physical type has varied across
# fixture generations: INT64 TIMESTAMP(NANOS) in early drops (read as
# long under spark.sql.legacy.parquet.nanosAsLong and truncated to
# micros here — integer DIV, matching DuckDB's TIMESTAMP_NS read), and
# plain TIMESTAMP(MICROS) in current drops (read as TIMESTAMP_NTZ,
# re-typed to the session-UTC TIMESTAMP the operators expect). The
# normalization inspects the ACTUAL read schema so either vintage
# loads identically (verified in tests/test_sources.py).
_TS_COLUMNS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


class _SessionSchemas:
    """One SparkSession's inferred table schemas, keyed on the path and
    the file listing they were inferred from. The JVM handles for the
    listing are resolved once here: each Py4J class lookup is a round
    trip."""

    def __init__(self, spark: SparkSession):
        self._path_cls = spark._jvm.org.apache.hadoop.fs.Path
        self._hadoop_conf = spark._jsc.hadoopConfiguration()
        self._by_path: dict[str, tuple[tuple, StructType]] = {}

    def _listing(self, path: str) -> tuple | None:
        """(path, length, modification time) of every file under
        ``path``, through the Hadoop FileSystem so any URI Spark reads
        works; None when the path does not exist. ``listStatus``, not
        ``listFiles``: the latter builds LocatedFileStatus objects,
        which on the local FS shell out for permissions per file."""
        jpath = self._path_cls(path)
        fs = jpath.getFileSystem(self._hadoop_conf)
        if not fs.exists(jpath):
            return None
        listing, pending = [], [jpath]
        while pending:
            for st in fs.listStatus(pending.pop()):
                if st.isDirectory():
                    pending.append(st.getPath())
                else:
                    listing.append(
                        (st.getPath().toString(), st.getLen(), st.getModificationTime())
                    )
        return tuple(sorted(listing))

    def read_parquet(self, spark: SparkSession, path: str) -> DataFrame:
        """``spark.read.parquet(path)``, inferring the schema from the
        footers only on the session's first read of these exact files."""
        listing = self._listing(path)
        cached = self._by_path.get(path)
        if listing is not None and cached is not None and cached[0] == listing:
            return spark.read.schema(cached[1]).parquet(path)
        df = spark.read.parquet(path)
        if listing is not None:
            # threads racing on one path both infer; either entry is right
            self._by_path[path] = (listing, df.schema)
        return df


# Keyed weakly on the session, so a new session (and its conf) infers
# again and a dropped session's schemas go with it.
_SCHEMAS: weakref.WeakKeyDictionary[SparkSession, _SessionSchemas] = (
    weakref.WeakKeyDictionary()
)
_SCHEMAS_LOCK = threading.Lock()


def _session_schemas(spark: SparkSession) -> _SessionSchemas:
    with _SCHEMAS_LOCK:
        schemas = _SCHEMAS.get(spark)
        if schemas is None:
            schemas = _SCHEMAS[spark] = _SessionSchemas(spark)
        return schemas


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; valid: {TABLES}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # the raw read schema is cached, before the normalization below, so
    # both timestamp vintages keep loading identically
    df = _session_schemas(spark).read_parquet(spark, f"{sf_dir}/{name}.parquet")
    for col in _TS_COLUMNS.get(name, ()):
        dt = df.schema[col].dataType.typeName()
        if dt == "long":
            # integer DIV, not `/`: float division of epoch-nanos
            # (~1.7e18) exceeds double's 53-bit mantissa and rounds
            # the microsecond
            df = df.withColumn(
                col, F.timestamp_micros(F.expr(f"{col} DIV 1000"))
            )
        elif dt == "timestamp_ntz":
            # value-preserving under the session's pinned UTC zone;
            # keeps one consistent TIMESTAMP type downstream (window(),
            # unix-epoch funcs, stream watermarks all expect LTZ)
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def register_views(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] | None = None
) -> None:
    """Register fixture tables as temp views for spark.sql().

    ``tables`` narrows registration to the views a query actually
    references. Every read lists the table's files on the driver, and
    a session's first read of a table is also an EAGER footer read (a
    Spark job inferring the schema; later reads declare it), so
    registering all 10 tables costs ~10 driver round-trips per query
    invocation; the ~30 SQL passthrough queries each touch 1-6 tables
    (guide §1.2: don't compute things you throw away — here,
    driver-side). Default stays all-tables for callers that want the
    full catalog (tests, ad-hoc sessions)."""
    for name in tables if tables is not None else TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def referenced_tables(sql: str) -> tuple[str, ...]:
    """The fixture tables a SQL text references, by word-boundary
    match. Over-matching (a table name in a comment or alias) only
    registers an unused view — harmless; a miss is impossible for a
    real reference since any FROM/JOIN mention IS a word match."""
    import re

    return tuple(
        name for name in TABLES if re.search(rf"\b{name}\b", sql)
    )
