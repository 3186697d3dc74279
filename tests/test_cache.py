"""``cache.live_caches``: a read-only count of the registered handles
that are still cached."""

from ballet_spark.cache import _PERSISTED, live_caches, release_caches
from ballet_spark.operators.dedup import minhash_lsh_pairs


def test_live_caches_counts_until_release(spark, webtext_df):
    release_caches(None)
    minhash_lsh_pairs(webtext_df.limit(40), "url", "text").count()
    sc = spark.sparkContext
    sc.setJobGroup("live_caches_probe", "live_caches_probe")
    try:
        live = live_caches()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert live == {"dedup": 2}
    assert sc.statusTracker().getJobIdsForGroup("live_caches_probe") == []
    release_caches("dedup")
    assert live_caches() == {}


def test_live_caches_skips_handles_clear_cache_evicted(spark, webtext_df):
    release_caches(None)
    minhash_lsh_pairs(webtext_df.limit(40), "url", "text").count()
    spark.catalog.clearCache()
    try:
        assert len(_PERSISTED["dedup"]) == 2
        assert live_caches() == {}
    finally:
        release_caches(None)
        webtext_df.persist()  # the session fixture's cache, evicted above
