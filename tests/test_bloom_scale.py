"""The engine's URL-seen pre-filter engaging mid-crawl.

The filter is a cuckoo filter (engine/cuckoo.py); the engine still names
its knobs and state after the earlier bloom backend (`bloom_min_seen`,
`bloom_sync_rounds`, `eng.t_bloom`, `eng._bloom_built`). Its own sizing,
FP budget and rebuild contracts live in test_cuckoo.py.
"""

from __future__ import annotations

SEED = "http://shop0.fakeshop.test/index.html"
# never reached by the test crawl: the exact-only reference run
EXACT_ONLY = 10**9


def test_bloom_engages_mid_crawl(spark, tmp_path):
    """Crossing bloom_min_seen DURING a crawl bulk-builds the shards and
    flips discovery to the probe + unsynced-delta path; later rounds
    sync the shards. The crawled set must equal an exact-only run
    exactly (dedup is exact in every configuration)."""
    from crawl4ai_spark.corpus.fakeshop import fakeshop_spark_df
    from crawl4ai_spark.engine.fetch import CorpusFetcher
    from crawl4ai_spark.engine.frontier import CrawlConfig, CrawlEngine
    from crawl4ai_spark.engine.tables import Warehouse

    corpus = fakeshop_spark_df(spark, n_sites=1, n_categories=3,
                               n_subcats=2, n_products=2)

    def crawl(subdir, **kw):
        eng = CrawlEngine(
            spark, Warehouse(str(tmp_path / subdir)), CorpusFetcher(corpus),
            CrawlConfig(max_depth=3, n_shards=4, bloom_sync_rounds=1, **kw),
        )
        eng.run([SEED])
        return eng, sorted(
            (r.url_norm, r.depth)
            for r in eng.t_pages.read(spark).select("url_norm", "depth").collect()
        )

    # threshold 5: round 0 discovers >5 URLs -> the filter builds at
    # round 0's close and later rounds probe and sync it
    eng_mid, got_mid = crawl("mid", bloom_min_seen=5)
    assert eng_mid._bloom_built
    assert eng_mid._bloom_synced_round > 0  # synced after the build round
    assert eng_mid.t_bloom.read(spark).count() > 0
    eng_off, got_off = crawl("off", bloom_min_seen=EXACT_ONLY)
    assert not eng_off._bloom_built
    assert got_mid == got_off
