"""Engine-level robots gate: denied frontier rows become 403 page rows
(reference behavior: early CrawlResult(status=403),
async_webcrawler.py:318-331) and are never fetched or link-expanded."""

from __future__ import annotations

from crawl4ai_spark.corpus.fakeshop import fakeshop_spark_df
from crawl4ai_spark.engine.fetch import CorpusFetcher
from crawl4ai_spark.engine.frontier import CrawlConfig, CrawlEngine
from crawl4ai_spark.engine.tables import Warehouse

SEED = "http://shop0.fakeshop.test/index.html"


def test_robots_denied_pages_are_403(spark, tmp_path):
    corpus = fakeshop_spark_df(spark, n_sites=1, n_categories=2,
                               n_subcats=2, n_products=2)
    robots = spark.createDataFrame(
        [("shop0.fakeshop.test", [], ["/cat-1/"])],
        "host string, allow array<string>, disallow array<string>",
    )
    eng = CrawlEngine(
        spark, Warehouse(str(tmp_path / "wh")), CorpusFetcher(corpus),
        CrawlConfig(max_depth=3), robots=robots,
    )
    eng.run([SEED])
    pages = eng.t_pages.read(spark).collect()
    denied = [r for r in pages if "/cat-1/" in r.url_norm]
    allowed = [r for r in pages if "/cat-1/" not in r.url_norm]
    assert denied, "disallowed URLs should still appear as 403 rows"
    assert all(r.status_code == 403 and not r.success for r in denied)
    # nothing UNDER the denied tree was discovered (its links never parsed)
    assert all("/sub-" not in r.url_norm for r in denied)
    assert not any("/cat-1/sub" in r.url_norm for r in pages)
    assert any(r.status_code == 200 for r in allowed)
