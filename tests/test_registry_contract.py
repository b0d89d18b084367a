"""Driver-contract behavior of the registry itself: registration order
on the public surface, and the per-query cache clearing that bounds a
long session's memory."""

from golang_etl_spark import registry


def test_public_surface_is_in_registration_order():
    specs = registry.all_queries()
    assert list(registry.queries()) == list(specs)
    assert list(registry.oracle_sql()) == [
        n for n, s in specs.items() if s.oracle is not None
    ]


def test_ordering_preserves_full_registry():
    assert set(registry.queries()) == set(registry.all_queries())
    # every oracle key is a registered query
    assert set(registry.oracle_sql()) <= set(registry.all_queries())


def test_queries_wrapper_clears_cache(spark, sf_dir):
    from golang_etl_spark.sources.catalog import load_table

    # persist something, then invoke any wrapped query: the wrapper
    # must drop the cached relation before running. Checked via the
    # frame's own storage level (localCheckpoint RDDs from unrelated
    # tests legitimately survive clearCache, so don't assert global
    # emptiness).
    df = load_table(spark, sf_dir, "region").persist()
    df.count()
    assert df.storageLevel.useMemory or df.storageLevel.useDisk
    fn = registry.queries()["filter_project"]
    fn(spark, sf_dir).count()
    assert not (df.storageLevel.useMemory or df.storageLevel.useDisk), (
        "wrapped query did not clear the previous query's cache"
    )


def test_unwrapped_fn_identity_for_bench():
    # perfbench times all_queries()[name].fn directly — the wrapper
    # must not leak into the raw registry entries
    spec = registry.all_queries()["filter_project"]
    assert spec.fn.__name__ == "filter_project"


def test_no_query_emits_complex_typed_columns(spark, sf_dir):
    """The driver canonicalizes results by sorting ALL columns through
    pandas before hashing; array/map/struct cells are unhashable there
    and crash even the rows-only check (this killed
    sketch_percentile_approx in round 3). Every registered query must
    therefore emit only atomic top-level columns.

    Cost note: most queries only build a plan here, but streaming
    queries run their AvailableNow micro-batch and the trained
    quantizers run driver-side training to produce a schema — one
    extra sweep's worth of work, accepted for the coverage. Queries
    that fail to BUILD are ignored (other tests own that failure
    mode); the cache is cleared afterwards so persisted subtrees
    don't leak into later tests."""
    from pyspark.sql import types as T

    complex_types = (T.ArrayType, T.MapType, T.StructType)
    offenders = []
    try:
        for name, spec in sorted(registry.all_queries().items()):
            try:
                schema = spec.fn(spark, sf_dir).schema
            except Exception:  # env-gated / build failures owned elsewhere
                continue
            for f in schema.fields:
                if isinstance(f.dataType, complex_types):
                    offenders.append(
                        (name, f"{f.name}: {f.dataType.simpleString()}")
                    )
    finally:
        spark.catalog.clearCache()
    assert not offenders, f"complex-typed result columns: {offenders}"


def test_no_oracle_set_is_frozen_to_the_sanctioned_trio():
    """The oracle-conversion program closed in round 11: exactly three
    rows-only queries remain, each permanently sanctioned with a
    hash-green twin of the same pipeline (seeded codebooks for the
    trained ANN pair, the bounded-column exact-regime gate for the HLL
    profile). A new oracle-less registration is a verification
    regression and must be a loud, deliberate change here."""
    no_oracle = {
        n for n, s in registry.all_queries().items() if s.oracle is None
    }
    assert no_oracle == {
        "profile_orders_approx",
        "similarity_ivf_kmeans",
        "similarity_pq_topk",
    }, f"no_oracle set drifted: {sorted(no_oracle)}"


def test_registry_is_frozen_at_273_queries():
    """Construction ended at r09 and the oracle-conversion program
    closed at r11 — the remaining rounds are rotation-drain and
    polish, with an explicit no-new-breadth prescription (VERDICT r11
    ask #6). Pin the total so breadth-padding OR an accidental
    deregistration is a loud, deliberate diff, not a silent drift."""
    assert len(registry.all_queries()) == 273
