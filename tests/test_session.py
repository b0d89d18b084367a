"""The session factory's fixed configuration."""


def test_codegen_cache_holds_the_query_mix(spark):
    # static conf: set by get_spark when the JVM's first session is built
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4000"
