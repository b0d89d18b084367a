"""Job spec + schema loading — parity with the reference's config surface.

The reference hard-codes its config in ``main()``: a shard->DSN map
(/root/reference/extractor.go:233-236), a table-job list
``{TableName, Output, PrimaryKey, Db}`` (/root/reference/extractor.go:34-39,
:255-258), and tuning constants (stride 10,000 at :270; 100k rows/file
at :119; snappy at :290). Its output schema is a YAML file
(/root/reference/schema/db.yaml) loaded by
/root/reference/schema/read_schema.go:11-63 into parquet-go tag strings.

Here both become declarative YAML -> dataclasses, and the YAML schema
dialect maps to a Spark ``StructType`` (INT64 -> LongType,
BYTE_ARRAY/UTF8 -> StringType, repetitiontype=REQUIRED -> nullable=False).
"""

from __future__ import annotations

from dataclasses import dataclass, field, fields

import yaml
from pyspark.sql import types as T

# parquet-go physical/converted types -> Spark types
# (covers the dialect of /root/reference/schema/db.yaml plus the
# obvious siblings so wider jobs don't need code changes).
_TYPE_MAP: dict[tuple[str, str | None], T.DataType] = {
    ("INT64", None): T.LongType(),
    ("INT32", None): T.IntegerType(),
    ("BOOLEAN", None): T.BooleanType(),
    ("FLOAT", None): T.FloatType(),
    ("DOUBLE", None): T.DoubleType(),
    ("BYTE_ARRAY", "UTF8"): T.StringType(),
    ("BYTE_ARRAY", None): T.BinaryType(),
    ("INT64", "TIMESTAMP_MICROS"): T.TimestampType(),
    ("INT64", "TIMESTAMP_MILLIS"): T.TimestampType(),
    ("INT32", "DATE"): T.DateType(),
}


@dataclass(frozen=True)
class SchemaField:
    name: str
    type: str
    convertedtype: str | None = None
    repetitiontype: str = "OPTIONAL"

    def to_struct_field(self) -> T.StructField:
        key = (self.type.upper(), self.convertedtype.upper() if self.convertedtype else None)
        if key not in _TYPE_MAP:
            raise ValueError(f"unsupported schema type {key} for field {self.name!r}")
        return T.StructField(
            self.name, _TYPE_MAP[key], nullable=self.repetitiontype.upper() != "REQUIRED"
        )


def parse_tag(tag: str) -> dict[str, str]:
    """Parse a parquet-go style tag string:
    ``name=id, type=INT64, repetitiontype=REQUIRED`` -> dict."""
    out: dict[str, str] = {}
    for piece in tag.split(","):
        piece = piece.strip()
        if not piece:
            continue
        k, _, v = piece.partition("=")
        out[k.strip().lower()] = v.strip()
    return out


def load_schema_yaml(path: str) -> T.StructType:
    """Load the reference's YAML schema dialect into a StructType.

    Expected shape (see /root/reference/schema/db.yaml):

        schema:
          tag: "name=parquet_go_root"
          fields:
            - tag: "name=id, type=INT64, repetitiontype=REQUIRED"
            - tag: "name=data, type=BYTE_ARRAY, convertedtype=UTF8, repetitiontype=REQUIRED"
    """
    with open(path) as f:
        doc = yaml.safe_load(f)
    body = doc.get("schema", doc)
    fields = []
    for entry in body.get("fields", []):
        tag = parse_tag(entry["tag"] if isinstance(entry, dict) else str(entry))
        fields.append(
            SchemaField(
                name=tag["name"],
                type=tag.get("type", "BYTE_ARRAY"),
                convertedtype=tag.get("convertedtype"),
                repetitiontype=tag.get("repetitiontype", "OPTIONAL"),
            ).to_struct_field()
        )
    return T.StructType(fields)


# Inverse of _TYPE_MAP for rendering. Where several parquet-go
# spellings map to one Spark type (TIMESTAMP_MILLIS/_MICROS), the
# canonical micros spelling wins — documented lossy, like any
# dialect round-trip through a coarser type system.
_INVERSE_TYPE_MAP: dict[T.DataType, tuple[str, str | None]] = {
    T.LongType(): ("INT64", None),
    T.IntegerType(): ("INT32", None),
    T.BooleanType(): ("BOOLEAN", None),
    T.FloatType(): ("FLOAT", None),
    T.DoubleType(): ("DOUBLE", None),
    T.StringType(): ("BYTE_ARRAY", "UTF8"),
    T.BinaryType(): ("BYTE_ARRAY", None),
    T.TimestampType(): ("INT64", "TIMESTAMP_MICROS"),
    T.DateType(): ("INT32", "DATE"),
}


def format_field(f: T.StructField) -> str:
    """Render one StructField as a parquet-go tag string — the inverse
    of ``parse_tag``/``SchemaField`` and the parity twin of the
    reference's formatFields (/root/reference/schema/read_schema.go:
    42-54)."""
    if f.dataType not in _INVERSE_TYPE_MAP:
        raise ValueError(f"unrenderable Spark type {f.dataType} for field {f.name!r}")
    ptype, conv = _INVERSE_TYPE_MAP[f.dataType]
    parts = [f"name={f.name}", f"type={ptype}"]
    if conv:
        parts.append(f"convertedtype={conv}")
    parts.append(
        f"repetitiontype={'OPTIONAL' if f.nullable else 'REQUIRED'}"
    )
    return ", ".join(parts)


def format_schema(schema: T.StructType, root: str = "parquet_go_root") -> dict:
    """Render a StructType back into the reference's YAML schema shape
    (parity with FormatSchema, /root/reference/schema/read_schema.go:
    34-40). ``load_schema_yaml`` on the dumped result returns an equal
    StructType — the round-trip property tests/test_etl_unit.py
    asserts."""
    return {
        "schema": {
            "tag": f"name={root}",
            "fields": [{"tag": format_field(f)} for f in schema.fields],
        }
    }


@dataclass(frozen=True)
class TableJob:
    """One extract job — parity with the reference's TableJob struct
    (/root/reference/extractor.go:34-39)."""

    table: str
    output: str
    primary_key: str
    db: str  # shard name


@dataclass(frozen=True)
class JobSpec:
    """Full pipeline spec: shards, jobs, tuning knobs (defaults are the
    reference's constants — SURVEY.md §4 parity table)."""

    shards: dict[str, str] = field(default_factory=dict)  # name -> url/path
    jobs: tuple[TableJob, ...] = ()
    stride: int = 10_000  # extractor.go:270
    max_records_per_file: int = 100_000  # extractor.go:119
    compression: str = "snappy"  # extractor.go:290
    # extractor.go:267, the JDBC connection cap: a JDBC read scans
    # min(stride chunks, fetch_concurrency, session cores) partitions
    fetch_concurrency: int = 20
    source_format: str = "jdbc"  # or "parquet" for file-based shards

    @staticmethod
    def from_yaml(path: str) -> "JobSpec":
        with open(path) as f:
            doc = yaml.safe_load(f) or {}
        jobs = tuple(
            TableJob(
                table=j["table"],
                output=j["output"],
                primary_key=j.get("primary_key", "id"),
                db=j.get("db", "default"),
            )
            for j in doc.get("jobs", [])
        )
        # only the knobs the file sets, cast to their default's type:
        # the defaults live once, in the fields above
        knobs = {
            fld.name: type(fld.default)(doc[fld.name])
            for fld in fields(JobSpec)
            if fld.name in doc and fld.name not in ("shards", "jobs")
        }
        return JobSpec(shards=dict(doc.get("shards", {})), jobs=jobs, **knobs)
