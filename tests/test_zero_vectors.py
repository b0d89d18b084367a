"""An all-zero embedding has no direction, so the vector loader
(``dedup._vectors``) and its DuckDB twin drop it. On a copy of the
fixture with one vector zeroed, every query over ``embeddings`` must
run (a cosine over a zero norm would fail the job with
DIVIDE_BY_ZERO under ANSI), and each one with an oracle must match
it."""

import re
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from golang_etl_spark.oracle import compare_query, duckdb_connection
from golang_etl_spark.registry import all_queries

ZERO_ID = 20  # not a query (vec_id < 5) and not an IVF centroid id


def _embedding_queries():
    return sorted(
        name
        for name, spec in all_queries().items()
        if re.search(r"\bembeddings\b", spec.oracle or "")
        or (spec.oracle is None and "ann" in spec.tags)
    )


@pytest.fixture(scope="module")
def zero_sf_dir(sf_dir, tmp_path_factory):
    out = tmp_path_factory.mktemp("zero_vector_sf")
    for src in sorted(Path(sf_dir).glob("*.parquet")):
        if src.name != "embeddings.parquet":
            shutil.copy(src, out / src.name)
    emb = pq.read_table(f"{sf_dir}/embeddings.parquet")
    zero = pc.equal(emb["vec_id"], ZERO_ID).to_pylist()
    assert any(zero), "fixture lacks the vector to zero"
    dim = len(emb["embedding"][0].as_py())
    vecs = [
        [0.0] * dim if z else v
        for z, v in zip(zero, emb["embedding"].to_pylist())
    ]
    col = emb.schema.get_field_index("embedding")
    emb = emb.set_column(
        col, emb.schema.field(col), pa.array(vecs, emb.schema.field(col).type)
    )
    pq.write_table(emb, out / "embeddings.parquet")
    return str(out)


@pytest.fixture(scope="module")
def zero_con(zero_sf_dir):
    con = duckdb_connection(zero_sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", _embedding_queries())
def test_query_runs_and_matches_oracle_with_a_zero_vector(
    name, spark, zero_sf_dir, zero_con
):
    spec = all_queries()[name]
    if spec.oracle is None:
        assert spec.fn(spark, zero_sf_dir).count() >= 0
        return
    res = compare_query(name, spark, zero_sf_dir, spec.fn, spec.oracle, zero_con)
    assert res.ok, str(res)
