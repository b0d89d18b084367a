"""Persistent vector-index store: offline IVF index build to a
partitioned parquet layout + partition-pruned probe readback.

The in-memory ANN operators (operators/similarity.py) rebuild cell
assignments inside every query. Production retrieval separates the
two phases: an OFFLINE job materializes the index once, and every
subsequent query only touches its probe cells. This module is that
split, expressed in parquet-native Spark:

    <root>/centroids/           (cell_id, c_emb, c_nrm)   16 rows
    <root>/postings/cell_id=K/  (vec_id, emb, nrm)        inverted lists

``partitionBy("cell_id")`` makes each inverted list a directory, so a
probe's ``cell_id IN (...)`` filter prunes at PLANNING time
(``PartitionFilters`` in the scan) — the parquet-native equivalent of
an inverted-file seek. At 100 TB the search job reads nprobe/cells of
the corpus from disk; nothing else is even opened. Plan-gated in
tests/test_plans.py::test_index_search_prunes_postings.

Quantizer: the same 16 fixed corpus-vector centroids as
``similarity_ivf_topk`` (deterministic, so the DuckDB oracle replays
assignment + probing + rerank exactly; the trained-k-means quantizer
of ``similarity_ivf_kmeans`` would slot in unchanged).

Reference parity: the reference persists nothing but flat parquet
(extractor.go:139-166); the index store composes its parquet sink
(SURVEY.md §2.1 S4/S6) with the partitioned layout of
operators/layout.py into a reusable retrieval artifact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from golang_etl_spark.operators.layout import _layout_dir
from golang_etl_spark.operators.similarity import (
    _IVF_FIXED_CENT,
    _IVF_ORACLE,
    _ivf_assign,
    _ivf_cells,
    _ivf_oracle_sql,
    _ivf_probes,
    _ivf_search,
)
from golang_etl_spark.registry import register
from golang_etl_spark.sources.catalog import built_from


@built_from("embeddings")
def build_ivf_index(spark: SparkSession, sf_dir: str) -> str:
    """Offline index build: assign every vector to its nearest fixed
    centroid, write centroids + cell-partitioned postings. Returns the
    index root. Built once per SparkContext and ``embeddings`` listing
    (``catalog.built_from``), then reused by every search — the whole
    point of an index.

    100 TB shape: one scan of the embedding table, map-side argmax
    over 16 broadcast centroids (the shuffle to the partitioned sink
    carries one row per vector), 16 output directories. This is the
    pay-once cost every later search amortizes.
    """
    root = _layout_dir("ivf_index", sf_dir)
    v, cent = _ivf_cells(spark, sf_dir)
    cent.coalesce(1).write.mode("overwrite").parquet(f"{root}/centroids")
    # the argmax is similarity._ivf_assign's map-side partial struct
    # max, so the exchange to the partitioned sink carries ONE row per
    # vector
    _, assigned = _ivf_assign(v, cent)
    (
        assigned.write.mode("overwrite")
        .partitionBy("cell_id")
        .parquet(f"{root}/postings")
    )
    return root


_INDEX_BUILD_ORACLE = _ivf_oracle_sql(
    _IVF_FIXED_CENT,
    """
SELECT cell_id, CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(MIN(vec_id) AS BIGINT) AS min_vec_id,
       CAST(MAX(vec_id) AS BIGINT) AS max_vec_id
FROM assigned GROUP BY cell_id
""",
)


@register(
    "similarity_index_build",
    oracle=_INDEX_BUILD_ORACLE,
    tags=("ann", "llm", "sink", "layout"),
)
def similarity_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the persistent IVF index, then read the POSTINGS FILES
    back and inventory each inverted list (size + vec_id range). The
    oracle recomputes the assignment from the raw fixture, so a green
    hash proves the materialized index is exactly the assignment —
    the layout round-trip loses nothing."""
    root = build_ivf_index(spark, sf_dir)
    postings = spark.read.parquet(f"{root}/postings")
    return postings.groupBy("cell_id").agg(
        F.count("*").alias("n_vectors"),
        F.min("vec_id").alias("min_vec_id"),
        F.max("vec_id").alias("max_vec_id"),
    )


def search_ivf_index(spark: SparkSession, root: str) -> DataFrame:
    """Query the persisted index: coarse-quantize the queries against
    the 16-row centroids file, then read ONLY the probed cell
    directories and rerank full-precision.

    The probe cell-id list is collected to the driver (bounded:
    N_QUERIES x IVF_NPROBE rows) so the postings filter is a literal
    ``IN`` — that is what lets Catalyst prune partitions at planning
    time instead of scanning all 16 lists and filtering rows.
    """
    cent = spark.read.parquet(f"{root}/centroids")
    postings = spark.read.parquet(f"{root}/postings")
    scored, _ = _ivf_assign(postings.drop("cell_id"), cent)
    probes = _ivf_probes(scored).select("query_id", "q_emb", "q_nrm", "q_cell_id")
    probe_rows = probes.collect()  # bounded: N_QUERIES * IVF_NPROBE
    probe_cells = sorted({r["q_cell_id"] for r in probe_rows})
    return _ivf_search(
        postings.filter(F.col("cell_id").isin(probe_cells)),
        spark.createDataFrame(probe_rows, schema=probes.schema),
    )


@register(
    "similarity_index_search",
    oracle=_IVF_ORACLE,
    tags=("ann", "llm", "layout"),
)
def similarity_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search against the PERSISTED index (build amortized across
    queries within the SparkContext — exactly how the index is used in
    production). Shares ``similarity_ivf_topk``'s oracle: identical
    results whether cells live in memory or as parquet directories,
    while the physical plan touches only nprobe of 16 lists."""
    root = build_ivf_index(spark, sf_dir)
    return search_ivf_index(spark, root)


# ---------------------------------------------------------------------------
# Incremental index ingestion: append a new batch without a rebuild.
# ---------------------------------------------------------------------------
_INGEST_BATCH_MAX = 50  # vec_id < this = "the newly arrived vectors"


@register(
    "similarity_index_incremental",
    oracle=_INDEX_BUILD_ORACLE,
    tags=("ann", "llm", "sink", "layout"),
)
def similarity_index_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN-index ingestion: build the base index WITHOUT
    the newest batch (vec_id < _INGEST_BATCH_MAX), then assign ONLY the batch
    against the existing centroids file and APPEND its rows to the
    cell directories — no rebuild, no touch of the base postings. The
    final inventory hash-matches the full-rebuild oracle, proving
    append-ingestion converges to the same index.

    100 TB shape: daily ingestion cost is O(batch), not O(corpus) —
    the batch joins the broadcast 16-row centroids and appends
    |batch| rows across nprobe-bounded directories. The quantizer
    stays FROZEN (same centroids file); production re-trains the
    coarse quantizer only when drift (profile_psi_drift on cell
    occupancies) demands it, because re-clustering forces exactly the
    full rebuild this operator avoids."""
    root = _layout_dir("ivf_index_incr", sf_dir)

    v, cent = _ivf_cells(spark, sf_dir)
    cent.coalesce(1).write.mode("overwrite").parquet(f"{root}/centroids")

    base = v.filter(F.col("vec_id") >= _INGEST_BATCH_MAX)
    batch = v.filter(F.col("vec_id") < _INGEST_BATCH_MAX)
    (
        _ivf_assign(base, cent)[1]
        .write.mode("overwrite")
        .partitionBy("cell_id")
        .parquet(f"{root}/postings")
    )
    # the increment: batch-only assignment, appended into the same
    # cell-directory layout (existing base files never rewritten)
    (
        _ivf_assign(batch, cent)[1]
        .write.mode("append")
        .partitionBy("cell_id")
        .parquet(f"{root}/postings")
    )
    postings = spark.read.parquet(f"{root}/postings")
    return postings.groupBy("cell_id").agg(
        F.count("*").alias("n_vectors"),
        F.min("vec_id").alias("min_vec_id"),
        F.max("vec_id").alias("max_vec_id"),
    )
