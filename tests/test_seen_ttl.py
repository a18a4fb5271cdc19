"""Seen-TTL recrawl scheduling (CrawlConfig.seen_ttl_rounds).

Contract pinned here:
  - expiry is a metadata-only dir drop on the round-partitioned seen
    table (no rewrite): an expired URL rediscovered via links is
    crawled AGAIN; without TTL every URL is crawled exactly once.
  - the cuckoo filter drops every segment whose newest round expired,
    also metadata only; a partly expired segment's stale keys are false
    positives, so the recrawl semantics equal an exact-only run's
    (exactness never depends on the pre-filter).
  - a killed run resumes onto the post-expiry snapshot.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from crawl4ai_spark.corpus.fakeshop import fakeshop_spark_df
from crawl4ai_spark.engine.fetch import CorpusFetcher
from crawl4ai_spark.engine.frontier import CrawlConfig, CrawlEngine, _round_of_dir
from crawl4ai_spark.engine.tables import Warehouse

SEED = "http://shop0.fakeshop.test/index.html"
# never reached by the test crawls: the exact-only reference run
EXACT_ONLY = 10**9


def _crawl(spark, tmp_path, subdir, sync_rounds=1, min_seen=5, **kw):
    corpus = fakeshop_spark_df(spark, n_sites=1, n_categories=3,
                               n_subcats=2, n_products=2)
    eng = CrawlEngine(
        spark, Warehouse(str(tmp_path / subdir)), CorpusFetcher(corpus),
        CrawlConfig(max_depth=4, n_shards=4, bloom_sync_rounds=sync_rounds,
                    bloom_min_seen=min_seen, **kw),
    )
    eng.run([SEED])
    return eng


def test_round_of_dir_parses_state_dirs():
    assert _round_of_dir("../state/r000123/tag=n") == 123
    assert _round_of_dir("d-40dca6ea0a21") is None
    assert _round_of_dir("../state/r00012/tag=n") is None  # wrong width


def test_ttl_recrawls_expired_urls(spark, tmp_path):
    # ttl=1: category pages (enqueued round 0) expire at round 1's
    # close; the subcat pages crawled in round 2 link back to them, so
    # round 2's discovery re-enqueues them and round 3 crawls them a
    # second time (the rediscovery must postdate the expiry — a longer
    # ttl on this shallow corpus expires URLs only after the last page
    # that links to them has already been crawled)
    eng = _crawl(spark, tmp_path, "ttl", seen_ttl_rounds=1)
    pages = eng.t_pages.read(spark)
    by_url = {r.url_norm: r["count"]
              for r in pages.groupBy("url_norm").count()
              .where(F.col("count") > 1).collect()}
    # the seed quirk alone yields exactly {SEED: 2}; TTL recrawls must
    # exceed that
    assert by_url and (set(by_url) != {SEED} or by_url[SEED] > 2), by_url
    # expiry actually dropped round dirs from the seen manifest
    live_rounds = {_round_of_dir(d) for d in eng.t_seen.snapshot_data()}
    assert None not in live_rounds or len(live_rounds) > 0
    assert all(r is None or r > eng.wh.last_round()["round"] - 2 - 1
               for r in live_rounds)


def test_no_ttl_crawls_each_url_once(spark, tmp_path):
    eng = _crawl(spark, tmp_path, "nottl")
    pages = eng.t_pages.read(spark)
    # the SEED may be re-crawled once (seen starts empty — the
    # documented reference quirk, frontier.init_from_seeds); every
    # other URL exactly once, and nothing a third time
    dupes = {r.url_norm: r["count"]
             for r in pages.groupBy("url_norm").count()
             .where(F.col("count") > 1).collect()}
    assert set(dupes) <= {SEED} and all(c == 2 for c in dupes.values())


def test_ttl_with_bloom_backend_same_semantics(spark, tmp_path):
    """With the filter engaged, TTL expiry drops the expired segments
    from the cuckoo filter; the recrawl semantics must equal an
    exact-only run's."""
    engines = []

    def crawled(subdir, **kw):
        eng = _crawl(spark, tmp_path, subdir, seen_ttl_rounds=2, **kw)
        engines.append(eng)
        return sorted(
            (r.url_norm, r.depth)
            for r in eng.t_pages.read(spark)
            .select("url_norm", "depth").collect()
        )

    assert crawled("ck") == crawled("off", min_seen=EXACT_ONLY)
    eng = engines[0]
    cutoff = eng.wh.last_round()["round"] - 2
    assert all(r > cutoff for _, r in eng.bloom.segments), eng.bloom.segments
    assert [d for d, _ in eng.bloom.segments] == eng.t_bloom.snapshot_data()


def test_ttl_resume_after_kill(spark, tmp_path):
    corpus = fakeshop_spark_df(spark, n_sites=1, n_categories=3,
                               n_subcats=2, n_products=2)
    cfg = CrawlConfig(max_depth=4, n_shards=4, bloom_sync_rounds=1,
                      bloom_min_seen=5, seen_ttl_rounds=2)

    import dataclasses

    full = CrawlEngine(spark, Warehouse(str(tmp_path / "full")),
                       CorpusFetcher(corpus), cfg)
    full.run([SEED])
    want = sorted((r.url_norm, r.depth)
                  for r in full.t_pages.read(spark)
                  .select("url_norm", "depth").collect())

    part = CrawlEngine(spark, Warehouse(str(tmp_path / "part")),
                       CorpusFetcher(corpus),
                       dataclasses.replace(cfg, max_rounds=2))  # "killed"
    part.run([SEED])
    resumed = CrawlEngine(spark, Warehouse(str(tmp_path / "part")),
                          CorpusFetcher(corpus), cfg)
    resumed.run([SEED])
    got = sorted((r.url_norm, r.depth)
                 for r in resumed.t_pages.read(spark)
                 .select("url_norm", "depth").collect())
    assert got == want


def test_ttl_with_lagged_sync_stays_exact(spark, tmp_path):
    """With bloom_sync_rounds > 1 the filter lags the seen table, so
    TTL expiry sees dirs whose hashes were never inserted, and a
    segment can span expired and live rounds; it is dropped only once
    its newest round expires. The crawled multiset must equal the
    filter-free run's under the same ttl."""
    def crawled(subdir, **kw):
        eng = _crawl(spark, tmp_path, subdir, seen_ttl_rounds=1,
                     sync_rounds=3, **kw)
        return sorted(
            (r.url_norm, r.depth)
            for r in eng.t_pages.read(spark)
            .select("url_norm", "depth").collect()
        )

    assert crawled("lagck") == crawled("lagoff", min_seen=EXACT_ONLY)
