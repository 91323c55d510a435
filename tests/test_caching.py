"""Cache-lifecycle discipline: operators that persist() intermediates
must release them via ``release_caches()`` — a long-lived session should
end every query with zero cached RDDs."""

from __future__ import annotations

from tests.conftest import SF_ORACLE


def _n_cached(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_minhash_releases_its_caches(spark):
    from datasheet_etl_spark.caching import release_caches
    from datasheet_etl_spark.plans.training import t02_dedup_minhash_lsh

    release_caches()
    spark.catalog.clearCache()
    assert _n_cached(spark) == 0

    t02_dedup_minhash_lsh(spark, SF_ORACLE).count()
    assert _n_cached(spark) > 0  # the signature cache is in use

    released = release_caches()
    assert released >= 1
    assert _n_cached(spark) == 0


def test_ivf_kmeans_releases_its_caches(spark):
    from datasheet_etl_spark.caching import release_caches
    from datasheet_etl_spark.plans.training import t20_ann_ivf_kmeans

    release_caches()
    spark.catalog.clearCache()
    assert _n_cached(spark) == 0

    t20_ann_ivf_kmeans(spark, SF_ORACLE).count()
    assert _n_cached(spark) > 0

    release_caches()
    assert _n_cached(spark) == 0


def test_release_caches_is_idempotent(spark):
    from datasheet_etl_spark.caching import release_caches

    assert release_caches() == 0
    assert release_caches() == 0


def test_reset_session_leaves_no_cache_and_no_temp_views(spark):
    from datasheet_etl_spark.caching import reset_session, scoped_persist

    scoped_persist(spark.range(10)).count()
    spark.range(5).cache().count()
    spark.range(3).createOrReplaceTempView("_reset_probe")
    assert _n_cached(spark) >= 2

    reset_session(spark)

    assert _n_cached(spark) == 0
    assert not spark.catalog.tableExists("_reset_probe")
