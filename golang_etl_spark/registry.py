"""Query registry — the driver-contract backbone.

Every operator module registers its runnable queries here; the repo's
``__spark_entry__.py`` re-exports the registry as ``queries()`` /
``oracle_sql()``, both in registration order. One place to see
SURVEY.md §2 coverage.

A query is a callable ``(spark, sf_dir) -> DataFrame`` plus (when the
semantics are ANSI-SQL-expressible) an equivalent DuckDB SQL string
run against the same parquet fixtures. Column names/aliases MUST match
between the two — the driver sorts columns by name before hashing.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None = None  # DuckDB SQL; None -> rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str, oracle: str | None = None, tags: tuple[str, ...] = ()
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a query to the registry.

    >>> @register("q1", oracle="SELECT ...")
    ... def q1(spark, sf_dir): ...
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, tags=tuple(tags), doc=fn.__doc__ or ""
        )
        return fn

    return deco


def all_queries() -> dict[str, QuerySpec]:
    _load_all()
    return dict(_REGISTRY)


def _fresh_cache(fn: QueryFn) -> QueryFn:
    """Driver-surface wrapper: drop cached blocks left by the PREVIOUS
    query before running this one.

    Several operators persist() self-join subtrees (MinHash and SimHash
    band rows, n-gram postings, ...). The terminal action happens
    in the driver AFTER the query fn returns, so a fn cannot unpersist
    its own frames — clearing at the start of the next query instead
    caps a 113-query session's cache footprint at one query's working
    set rather than the sum of all of them.
    """
    import functools

    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        spark.catalog.clearCache()
        return fn(spark, sf_dir)

    return wrapped


def queries() -> dict[str, QueryFn]:
    return {name: _fresh_cache(spec.fn) for name, spec in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in all_queries().items()
        if spec.oracle is not None
    }


_LOADED = False


def _load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    # imports are side-effectful (decorators run at import time)
    from golang_etl_spark import etl  # noqa: F401
    from golang_etl_spark.operators import (  # noqa: F401
        active_users,
        arrays,
        asof,
        clustering,
        colprofile,
        dedup,
        fdeps,
        freqitems,
        frontier,
        layout,
        linkage,
        multimodal,
        pit_join,
        profiling,
        pyfuncs,
        quality_rules,
        relational,
        sampling,
        sessionize,
        setops,
        similarity,
        skew,
        sketches,
        sql_api,
        sql_scripting,
        text,
        timeseries,
        topk,
        vector_index,
        windows,
    )
    from golang_etl_spark.sources import pydatasource, sinks  # noqa: F401
    from golang_etl_spark.streaming import jobs  # noqa: F401

    _LOADED = True
