"""Structured Streaming surface, URL seeder pipeline, cached fetcher."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawl4ai_spark.engine.fetch import CachedFetcher, CorpusFetcher
from crawl4ai_spark.sources.seeder import (
    drop_nonsense_urls,
    match_url_patterns,
    seed_pipeline,
    seeds_from_sitemaps,
)


def test_sitemap_loc_extraction(spark):
    xml = """<?xml version="1.0"?><urlset>
      <url><loc>https://a.test/p1</loc></url>
      <url><loc> https://a.test/p2 </loc></url>
      <url><loc>https://a.test/p1</loc></url>
    </urlset>"""
    df = spark.createDataFrame([(xml,)], "body string")
    urls = sorted(r.url for r in seeds_from_sitemaps(df).collect())
    assert urls == ["https://a.test/p1", "https://a.test/p2"]


def test_nonsense_filter_and_patterns(spark):
    rows = [
        ("https://a.test/article/one",),
        ("https://a.test/styles.css",),
        ("https://a.test/wp-json/wp/v2",),
        ("https://www.a.test/article/two",),
        ("https://a.test/feed/",),
    ]
    df = spark.createDataFrame(rows, "url string")
    kept = sorted(r.url for r in drop_nonsense_urls(df).collect())
    assert kept == [
        "https://a.test/article/one", "https://www.a.test/article/two",
    ]
    # reference _match (async_url_seeder.py:81-86) is a FULL match on
    # url / schemeless canon / canon-without-www: a scheme-carrying
    # pattern matches only the exact url form...
    matched = sorted(
        r.url for r in match_url_patterns(df, "https://a.test/article/*").collect()
    )
    assert matched == ["https://a.test/article/one"]
    # ...while a schemeless pattern matches via canon, www-stripped
    matched = sorted(
        r.url for r in match_url_patterns(df, "a.test/article/*").collect()
    )
    assert matched == [
        "https://a.test/article/one", "https://www.a.test/article/two",
    ]
    # anchoring: a glob must not match mid-string (rlike is find())
    evil = spark.createDataFrame(
        [("https://evil.com/?next=https://a.test/article/x",)], "url string")
    assert match_url_patterns(evil, "https://a.test/article/*").count() == 0


def test_seed_pipeline_bm25_sort_and_cap(spark):
    rows = [
        ("https://a.test/docs/spark", "spark spark tuning guide"),
        ("https://a.test/docs/other", "cooking recipes here now"),
        ("https://a.test/docs/join", "spark join optimization"),
        ("https://a.test/app.js", "irrelevant"),
    ]
    df = spark.createDataFrame(rows, "url string, head string")
    out = seed_pipeline(
        df, pattern="https://a.test/docs/*", query_terms=["spark"],
        head_text_col="head", max_urls=2,
    ).collect()
    assert [r.url for r in out] == [
        "https://a.test/docs/spark", "https://a.test/docs/join",
    ]
    assert out[0].relevance_score > out[1].relevance_score > 0


def test_cached_fetcher_serves_hits_without_refetch(spark):
    corpus = spark.createDataFrame(
        [("https://c.test/a", "<html>a</html>", 200, 1),
         ("https://c.test/b", "<html>b</html>", 200, 1)],
        "url_norm string, html string, status_code int, fetch_ms int",
    )
    cache = spark.createDataFrame(
        [("https://c.test/a", "<html>cached-a</html>", 200)],
        "url_norm string, html string, status_code int",
    )
    frontier = spark.createDataFrame(
        [("https://c.test/a",), ("https://c.test/b",)], "url_norm string")
    out = {r.url_norm: r for r in
           CachedFetcher(CorpusFetcher(corpus), cache).fetch(frontier).collect()}
    assert out["https://c.test/a"].html == "<html>cached-a</html>"
    assert out["https://c.test/a"].from_cache is True
    assert out["https://c.test/b"].html == "<html>b</html>"
    assert out["https://c.test/b"].from_cache is False


def test_streaming_windowed_counts(spark, tmp_path):
    from crawl4ai_spark.engine.tables import SnapshotTable
    from crawl4ai_spark.streaming.events import stream_to_table, windowed_event_counts

    src = str(tmp_path / "in")
    spark.createDataFrame(
        [("2024-01-01 00:01:00", "click", 1.0),
         ("2024-01-01 00:02:00", "click", 2.0),
         ("2024-01-01 00:07:00", "view", 3.0)],
        "ts string, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.parquet(src)

    stream = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .parquet(src)
    )
    agg = windowed_event_counts(stream, window="5 minutes", watermark="10 minutes")
    table = SnapshotTable(str(tmp_path / "out"))
    q = stream_to_table(agg, table, str(tmp_path / "ckpt"))
    assert q.awaitTermination(120)
    rows = {(r.event_type, str(r.window_start)): (r.n, r.total)
            for r in table.read(spark).collect()}
    assert rows[("click", "2024-01-01 00:00:00")] == (2, 3.0)
    assert rows[("view", "2024-01-01 00:05:00")] == (1, 3.0)


def test_scheme_fetcher_raw_and_file(spark, tmp_path):
    """file:// + raw:/raw:// dispatch (async_crawler_strategy.py:438-492):
    raw:// sliced before raw: (the reference's documented pitfall),
    missing files become row-level 404s, other schemes delegate."""
    from crawl4ai_spark.engine.fetch import CorpusFetcher, SchemeFetcher
    from pyspark.sql import functions as F

    p = tmp_path / "page.html"
    p.write_text("<html><body><p>from disk</p></body></html>")
    corpus = spark.createDataFrame(
        [("http://x.test/a", "<p>net</p>", 200, 1)],
        "url_norm string, html string, status_code int, fetch_ms int",
    )
    frontier = spark.createDataFrame(
        [("raw://<p>slashes kept out</p>",),
         ("raw:<p>short form</p>",),
         (f"file://{p}",),
         ("file:///nonexistent/nope.html",),
         ("http://x.test/a",)],
        "url_norm string",
    )
    out = {r.url_norm: (r.html, r.status_code, r.success)
           for r in SchemeFetcher(CorpusFetcher(corpus)).fetch(frontier).collect()}
    assert out["raw://<p>slashes kept out</p>"] == ("<p>slashes kept out</p>", 200, True)
    assert out["raw:<p>short form</p>"] == ("<p>short form</p>", 200, True)
    assert out[f"file://{p}"][0].startswith("<html>") and out[f"file://{p}"][1] == 200
    assert out["file:///nonexistent/nope.html"][1:] == (404, False)
    assert out["http://x.test/a"] == ("<p>net</p>", 200, True)


def test_stream_dedup_exactly_once(spark, tmp_path):
    """dropDuplicatesWithinWatermark path: re-delivered events (same
    event_id, inside the watermark horizon) are emitted once."""
    from crawl4ai_spark.streaming.events import stream_dedup

    src = str(tmp_path / "dedup_in")
    rows = [
        (1, "2024-01-01 00:01:00", "click"),
        (2, "2024-01-01 00:01:30", "view"),
        (1, "2024-01-01 00:01:40", "click"),   # redelivery of event 1
        (3, "2024-01-01 00:02:00", "click"),
        (2, "2024-01-01 00:02:10", "view"),    # redelivery of event 2
    ]
    spark.createDataFrame(
        rows, "event_id long, ts string, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.parquet(src)

    stream = (
        spark.readStream.schema("event_id long, ts timestamp, event_type string")
        .parquet(src)
    )
    out = stream_dedup(stream, key_cols=("event_id",), watermark="10 minutes")
    q = (
        out.writeStream.format("memory").queryName("dedup_once")
        .option("checkpointLocation", str(tmp_path / "dedup_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = spark.sql("SELECT event_id FROM dedup_once").collect()
    ids = sorted(r.event_id for r in got)
    assert ids == [1, 2, 3]


def test_cached_fetcher_never_serves_failure_over_success(spark):
    """Duplicate cache rows where a transport failure (status 0) and a
    NULL status sit next to the 200 row: the pick must serve the
    success body (a plain status-asc order served the failure)."""
    corpus = spark.createDataFrame(
        [("http://x.test/a", "<live>", 200, 1)],
        "url_norm string, html string, status_code int, fetch_ms int")
    cache = spark.createDataFrame(
        [("http://x.test/a", "", 0),
         ("http://x.test/a", None, None),
         ("http://x.test/a", "<cached>", 200),
         ("http://x.test/a", "<stale>", 500)],
        "url_norm string, html string, status_code int")
    frontier = spark.createDataFrame(
        [("http://x.test/a",)], "url_norm string")
    rows = CachedFetcher(CorpusFetcher(corpus), cache).fetch(frontier).collect()
    assert len(rows) == 1
    assert rows[0].from_cache and rows[0].status_code == 200
    assert rows[0].html == "<cached>"


def test_corpus_fetcher_dedupe_collapses_snapshots(spark):
    corpus = spark.createDataFrame(
        [("http://x.test/a", "<old body>", 200, 9),
         ("http://x.test/a", "<newer longer body>", 200, 5),
         ("http://x.test/a", "", 503, 1)],
        "url_norm string, html string, status_code int, fetch_ms int")
    frontier = spark.createDataFrame(
        [("http://x.test/a",)], "url_norm string")
    rows = CorpusFetcher(corpus, dedupe=True).fetch(frontier).collect()
    assert len(rows) == 1 and rows[0].html == "<newer longer body>"
    # without dedupe the join fans out — the documented multi-snapshot
    # hazard this flag exists for
    assert len(CorpusFetcher(corpus).fetch(frontier).collect()) == 3


def test_http_fetcher_malformed_url_is_a_row_not_a_crash(spark):
    """A URL whose authority breaks urlsplit inside the rewrite must
    produce a status-0 row, not a task death."""
    from crawl4ai_spark.engine.fetch import HttpFetcher
    from crawl4ai_spark.sources.loopback import make_rewrite

    frontier = spark.createDataFrame(
        [("http://[bad-host/page/1",)], "url_norm string")
    rows = HttpFetcher(url_rewrite=make_rewrite(1)).fetch(frontier).collect()
    assert len(rows) == 1 and rows[0].status_code == 0


def test_scheme_fetcher_nul_path_is_row_level_404(spark, tmp_path):
    from crawl4ai_spark.engine.fetch import SchemeFetcher

    corpus = spark.createDataFrame(
        [("http://x.test/", "<x>", 200, 1)],
        "url_norm string, html string, status_code int, fetch_ms int")
    frontier = spark.createDataFrame(
        [("file:///tmp/a%00b",)], "url_norm string")
    rows = SchemeFetcher(CorpusFetcher(corpus)).fetch(frontier).collect()
    assert len(rows) == 1 and rows[0].status_code == 404


def test_loopback_stop_purges_registry():
    from crawl4ai_spark.sources import loopback

    srv = loopback.corpus_server("/root/testdata/sf0.001")
    port = srv.port
    srv.stop()
    srv2 = loopback.corpus_server("/root/testdata/sf0.001")
    try:
        assert srv2 is not srv and srv2._httpd is not None
    finally:
        srv2.stop()


def test_stream_to_table_upserts_aggregates(spark, tmp_path):
    """An update-mode aggregate spanning micro-batches must not leave
    duplicate conflicting rows per key: with key_cols the sink
    upserts, and the table holds one current row per window key."""
    import json as _json
    import os

    from crawl4ai_spark.engine.tables import Warehouse
    from crawl4ai_spark.streaming.events import (
        stream_to_table,
        windowed_event_counts,
    )

    src = str(tmp_path / "src"); os.makedirs(src)
    table = Warehouse(str(tmp_path / "wh")).table("agg")

    def feed(name, rows):
        with open(os.path.join(src, name), "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    def run_batch():
        stream = (
            spark.readStream.schema("ts timestamp, event_type string, value double")
            .json(src)
        )
        agg = windowed_event_counts(stream, window="5 minutes")
        q = stream_to_table(agg, table, str(tmp_path / "ckpt"),
                            key_cols=["window_start", "event_type"])
        q.awaitTermination(120)

    feed("a.json", [{"ts": "2026-01-01T00:01:00", "event_type": "x", "value": 1.0},
                    {"ts": "2026-01-01T00:02:00", "event_type": "x", "value": 2.0}])
    run_batch()
    feed("b.json", [{"ts": "2026-01-01T00:03:00", "event_type": "x", "value": 3.0}])
    run_batch()
    rows = table.read(spark).collect()
    assert len(rows) == 1 and rows[0]["n"] == 3, rows


def test_seeder_hardening_round5(spark):
    """Review findings: malformed URLs must not abort the job under
    ANSI mode (try_parse_url), sitemap <loc> decodes XML entities and
    CDATA, and the seed dedup picks a deterministic survivor."""
    from crawl4ai_spark.sources.seeder import seeds_from_sitemaps

    # ANSI: a URL parse_url would throw on flows through the filter
    bad = spark.createDataFrame(
        [("http://exa mple.com/%zz?q= 1",), ("https://ok.test/a",)],
        "url string")
    kept = {r.url for r in drop_nonsense_urls(bad).collect()}
    assert "https://ok.test/a" in kept  # and no exception raised

    body = ('<urlset><url><loc>https://x.test/p?a=1&amp;b=2</loc></url>'
            '<url><loc><![CDATA[https://x.test/c]]></loc></url></urlset>')
    got = {r.url for r in seeds_from_sitemaps(
        spark.createDataFrame([(body,)], "body string")).collect()}
    assert got == {"https://x.test/p?a=1&b=2", "https://x.test/c"}

    dup = spark.createDataFrame(
        [("https://x.test/a", "zz head"), ("https://x.test/a", "aa head")],
        "url string, head string")
    rows = seed_pipeline(dup).collect()
    assert len(rows) == 1 and rows[0].head == "aa head"


def test_sitemap_numeric_char_refs(spark):
    """<loc> decodes decimal and hex character references like any
    XML parser, in one pass: an escaped reference ('&amp;#38;')
    decodes once, to its literal text."""
    from crawl4ai_spark.sources.seeder import seeds_from_sitemaps

    refs = ("https://x.test/d?a=1&#38;b=2", "https://x.test/e?a=1&#x26;b=2",
            "https://x.test/f?q=caf&#233;", "https://x.test/g?a=&amp;#38;")
    body = "<urlset>" + "".join(
        f"<url><loc>{u}</loc></url>" for u in refs) + "</urlset>"
    got = {r.url for r in seeds_from_sitemaps(
        spark.createDataFrame([(body,)], "body string")).collect()}
    assert got == {"https://x.test/d?a=1&b=2", "https://x.test/e?a=1&b=2",
                   "https://x.test/f?q=café", "https://x.test/g?a=&#38;"}
