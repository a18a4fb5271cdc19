"""Per-URL config routing: glob compilation + engine integration."""

from __future__ import annotations

from fnmatch import fnmatch

import pytest

from crawl4ai_spark.engine.routing import glob_to_regex, route_configs

import re


@pytest.mark.parametrize("pat,url", [
    ("*.example.com/page/1*", "https://a.example.com/page/12"),
    ("*.example.com/page/1*", "https://a.example.com/page/2"),
    ("https://?.co/[ab]x", "https://z.co/ax"),
    ("https://?.co/[ab]x", "https://z.co/cx"),
    ("https://*.org", "https://x.y.org"),
    ("plain", "plain"),
    ("plain", "plain2"),
])
def test_glob_matches_fnmatch(pat, url):
    assert bool(re.match(glob_to_regex(pat), url)) == fnmatch(url, pat)


def test_route_first_match_and_skip(spark):
    df = spark.createDataFrame(
        [("http://a.test/docs/x",), ("http://a.test/blog/y",),
         ("http://b.test/docs/z",), ("http://c.test/other",)],
        "url_norm string",
    )
    configs = [
        {"url_matcher": "*a.test*"},
        {"url_matcher": ["*docs*", "*blog*"], "match_mode": "or"},
    ]
    got = {r.url_norm: r.config_id for r in route_configs(df, configs).collect()}
    assert got == {
        "http://a.test/docs/x": 0,   # both match; first wins
        "http://a.test/blog/y": 0,
        "http://b.test/docs/z": 1,
    }  # c.test/other skipped (reference returns None -> skip)


def test_engine_routes_and_skips(spark, tmp_path):
    from crawl4ai_spark.corpus.fakeshop import fakeshop_spark_df
    from crawl4ai_spark.engine.fetch import CorpusFetcher
    from crawl4ai_spark.engine.frontier import CrawlConfig, CrawlEngine
    from crawl4ai_spark.engine.tables import Warehouse

    corpus = fakeshop_spark_df(spark, n_sites=1, n_categories=2,
                               n_subcats=1, n_products=1)
    cfg = CrawlConfig(
        max_depth=2,
        url_configs=[
            {"url_matcher": "*index*"},
            {"url_matcher": "*product*"},
        ],
    )
    eng = CrawlEngine(spark, Warehouse(str(tmp_path / "wh")),
                      CorpusFetcher(corpus), cfg)
    eng.run(["http://shop0.fakeshop.test/index.html"])
    pages = eng.t_pages.read(spark).select("url_norm", "config_id").collect()
    assert pages  # something was crawled
    for r in pages:
        if "index" in r.url_norm:
            assert r.config_id == 0
        else:
            assert "product" in r.url_norm and r.config_id == 1
