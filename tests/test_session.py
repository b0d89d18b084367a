"""The session factory's fixed configuration."""


def test_codegen_cache_holds_the_query_mix(spark):
    # static conf: set by get_spark when the JVM's first session is built
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4000"


def test_driver_heap_is_half_the_host_capped_at_32g(spark, monkeypatch):
    import os

    from golang_etl_spark import session

    gib = 2**30
    for phys, want in ((15 * gib, "7680m"), (16 * gib, "8192m"), (256 * gib, "32768m")):
        sizes = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": phys // 4096}
        monkeypatch.setattr(session.os, "sysconf", sizes.__getitem__)
        assert session.default_driver_memory() == want
    monkeypatch.undo()
    # the running session got the host-sized default unless overridden
    assert spark.conf.get("spark.driver.memory") == os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM", session.default_driver_memory()
    )
