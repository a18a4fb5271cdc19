"""End-to-end engine tests vs the in-memory reference model.

Traversal-order contract (SURVEY §2.2): equal per-depth crawled sets,
equal URL-seen sets; parents are valid previous-depth discoverers with
the documented min(parent_url) deterministic refinement.
"""

from __future__ import annotations

import re
import zlib

import pytest
from pyspark.sql import functions as F

from crawl4ai_spark.corpus.fakeshop import fakeshop_spark_df, generate_fakeshop
from crawl4ai_spark.engine import frontier
from crawl4ai_spark.engine.fetch import CorpusFetcher
from crawl4ai_spark.engine.frontier import CrawlConfig, CrawlEngine
from crawl4ai_spark.engine.tables import Warehouse

from tests.reference_model import build_web, reference_bfs

SEED = "http://shop0.fakeshop.test/index.html"
SEED_NORM = "http://shop0.fakeshop.test/index.html"


@pytest.fixture(scope="module")
def corpus_pages():
    return generate_fakeshop(n_sites=1, n_categories=3, n_subcats=2, n_products=2)


@pytest.fixture(scope="module")
def web(corpus_pages):
    return build_web(corpus_pages)


def run_engine(spark, tmp_path, corpus_pages, cfg):
    corpus_df = fakeshop_spark_df(
        spark,
        n_sites=1, n_categories=3, n_subcats=2, n_products=2,
    )
    wh = Warehouse(str(tmp_path / "wh"))
    eng = CrawlEngine(spark, wh, CorpusFetcher(corpus_df), cfg)
    stats = eng.run([SEED])
    return eng, stats


def crawl_multiset(eng, spark):
    pages = eng.t_pages.read(spark)
    return sorted(
        (r.url_norm, r.depth) for r in pages.select("url_norm", "depth").collect()
    )


def test_bfs_matches_reference(spark, tmp_path, corpus_pages, web):
    cfg = CrawlConfig(max_depth=3, bloom_min_seen=0, n_shards=8)
    eng, stats = run_engine(spark, tmp_path, corpus_pages, cfg)

    log, visited = reference_bfs(web, SEED_NORM, max_depth=3)

    got = crawl_multiset(eng, spark)
    want = sorted((u, d) for (u, d, _p, _s) in log)
    assert got == want

    seen_rows = {r.url_norm for r in eng.t_seen.read(spark).select("url_norm").collect()}
    assert seen_rows == visited

    # engine rounds == BFS levels when politeness is off
    assert stats["rounds"] == 1 + max(d for (_u, d, _p, _s) in log)

    # parents: valid previous-depth linkers, min(parent_url) refinement
    pages = {
        (r.url_norm, r.depth): r.parent_url
        for r in eng.t_pages.read(spark).collect()
    }
    for (u, d), parent in pages.items():
        if d == 0:
            assert parent is None
            continue
        linkers = [
            src for src, page in web.items()
            if any(l == u for (l, _i) in page["links"])
        ]
        assert parent in linkers
    # deterministic: a second identical run produces identical parents
    eng2, _ = run_engine(spark, tmp_path / "b", corpus_pages, cfg)
    pages2 = {
        (r.url_norm, r.depth): r.parent_url
        for r in eng2.t_pages.read(spark).collect()
    }
    assert pages == pages2


def test_bfs_exact_seen_no_bloom_matches_bloom(spark, tmp_path, corpus_pages, web):
    # threshold never reached: exact anti-join only
    cfg = CrawlConfig(max_depth=2, bloom_min_seen=10**9)
    eng, _ = run_engine(spark, tmp_path, corpus_pages, cfg)
    log, visited = reference_bfs(web, SEED_NORM, max_depth=2)
    assert crawl_multiset(eng, spark) == sorted((u, d) for (u, d, _p, _s) in log)


VALID_URL = re.compile(r"^https?://[^/]*\.")  # _discover's validity rule


def capped_crawl_model(web, seed, max_depth, max_pages, score):
    """The engine's capped BFS in pure Python: every round fetches its
    whole level, then admits the first `max_pages - crawled` new
    candidates by (score desc, depth, url_norm). The seed stays out of
    the seen set, as in the reference. Returns the crawled
    (url_norm, depth) multiset and, per discovery round, the candidate
    count and the number admitted."""
    seen, level, crawled = set(), [(seed, 0)], 0
    log, cuts = [], []
    while level and crawled < max_pages:
        log += level
        ok = [(u, d) for u, d in level
              if u in web and web[u]["status"] == 200]
        crawled += len(ok)
        if crawled >= max_pages:
            break
        cands = {}
        for u, d in ok:
            if d + 1 > max_depth:
                continue
            for link, internal in web[u]["links"]:
                if (internal and link is not None and link not in seen
                        and VALID_URL.match(link)):
                    cands[link] = min(cands.get(link, d + 1), d + 1)
        ranked = sorted(cands, key=lambda u: (-score(u), cands[u], u))
        remaining = max_pages - crawled
        cuts.append((len(ranked), min(len(ranked), remaining)))
        level = [(u, cands[u]) for u in ranked[:remaining]]
        seen.update(u for u, _ in level)
    return sorted(log), cuts


CAP_SCORERS = {
    # every candidate scores 0.0: the cap is decided by (depth, url_norm)
    "default": (None, lambda u: 0.0),
    # three score classes, each a band of ties
    "crc32_mod3": (lambda c: F.crc32(c) % 3,
                   lambda u: zlib.crc32(u.encode()) % 3),
}


@pytest.mark.parametrize("aqe", ["aqe_off", "aqe_on"])
@pytest.mark.parametrize("partitions", [1, 7])
@pytest.mark.parametrize("scorer", sorted(CAP_SCORERS))
def test_max_pages_cap(spark, tmp_path, corpus_pages, web, monkeypatch,
                       scorer, partitions, aqe):
    """The capped crawl equals the pure-Python model under every shuffle
    width and AQE setting: the cap is an exact top-k, ties included."""
    col_scorer, py_scorer = CAP_SCORERS[scorer]
    if aqe == "aqe_on":
        # rounds run under the session's AQE setting only above the
        # small-round threshold
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
        monkeypatch.setattr(frontier, "AQE_SMALL_ROUND_ROWS", 0)
    width = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    try:
        cfg = CrawlConfig(max_depth=3, max_pages=8, scorer=col_scorer)
        eng, stats = run_engine(spark, tmp_path, corpus_pages, cfg)
        got = crawl_multiset(eng, spark)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", width)
    want, cuts = capped_crawl_model(web, SEED_NORM, 3, 8, py_scorer)
    # the cap really cuts a level, so ties decide which candidates stay
    assert any(n > k > 0 for n, k in cuts)
    assert got == want
    succ = eng.t_pages.read(spark).where("success").count()
    assert succ == stats["pages_crawled"] >= 8


def test_politeness_budget_limits_per_round(spark, tmp_path, corpus_pages, web):
    cfg = CrawlConfig(
        max_depth=3, base_host_budget=3, max_rounds=40
    )
    eng, stats = run_engine(spark, tmp_path, corpus_pages, cfg)
    per_round_host = (
        eng.t_pages.read(spark)
        .groupBy("round", "host")
        .count()
        .collect()
    )
    assert all(r["count"] <= 3 for r in per_round_host)
    # crawl completeness unaffected — deferred URLs eventually fetched
    _log, visited = reference_bfs(web, SEED_NORM, max_depth=3)
    got_urls = {r.url_norm for r in eng.t_pages.read(spark).collect()}
    want_urls = {u for (u, _d, _p, _s) in _log}
    assert got_urls == want_urls


def test_resume_equals_uninterrupted(spark, tmp_path, corpus_pages):
    cfg = CrawlConfig(max_depth=3, bloom_min_seen=0, n_shards=8)

    eng_full, _ = run_engine(spark, tmp_path / "full", corpus_pages, cfg)
    full_pages = crawl_multiset(eng_full, spark)
    full_seen = {
        r.url_norm for r in eng_full.t_seen.read(spark).select("url_norm").collect()
    }

    # partial run: stop after 2 rounds
    cfg_partial = CrawlConfig(
        max_depth=3, bloom_min_seen=0, n_shards=8, max_rounds=2
    )
    corpus_df = fakeshop_spark_df(spark, n_sites=1, n_categories=3, n_subcats=2, n_products=2)
    wh = Warehouse(str(tmp_path / "part" / "wh"))
    eng_p = CrawlEngine(spark, wh, CorpusFetcher(corpus_df), cfg_partial)
    eng_p.run([SEED])
    assert wh.last_round()["round"] == 1

    # resume with the full config in a NEW engine instance
    eng_r = CrawlEngine(spark, wh, CorpusFetcher(corpus_df), cfg)
    eng_r.run([SEED])

    assert crawl_multiset(eng_r, spark) == full_pages
    seen_r = {r.url_norm for r in eng_r.t_seen.read(spark).select("url_norm").collect()}
    assert seen_r == full_seen
