"""Adaptive stopping wired into CrawlEngine (adaptive_crawler.py:
1325-1349 digest loop + 505-523 should_stop): the engine's
coverage/consistency/saturation/confidence must match an independent
in-memory model computed straight from the pages table, and the crawl
must stop exactly when the threshold rule fires.
"""

from __future__ import annotations

import math

from crawl4ai_spark.corpus.fakeshop import fakeshop_spark_df
from crawl4ai_spark.engine.fetch import CorpusFetcher
from crawl4ai_spark.engine.frontier import CrawlConfig, CrawlEngine
from crawl4ai_spark.engine.tables import Warehouse

SEED = "http://shop0.fakeshop.test/index.html"
TERMS = ["fakeshop", "category", "product"]


def model_metrics(rows, query_terms, sample=40):
    """Independent reimplementation of StatisticalStrategy confidence
    (0.4*coverage + 0.3*consistency + 0.3*saturation) from raw
    (doc_id, text, round) tuples — shares no code with ops.adaptive."""
    n = len(rows)
    toks = {d: t.split(" ") for d, t, _r in rows}
    # coverage
    tf = {}
    df = {}
    for d, t, _r in rows:
        seen = set()
        for w in toks[d]:
            tf[w] = tf.get(w, 0) + 1
            if w not in seen:
                seen.add(w)
                df[w] = df.get(w, 0) + 1
    s = sum(
        (df.get(q, 0) / n) * (1.0 + 0.5 * math.log10(1.0 + tf.get(q, 0) / n))
        for q in query_terms
    )
    coverage = round(math.sqrt(s / len(query_terms)), 6)
    # consistency over the min-id sample
    ids = sorted(toks)[:sample]
    sets = {d: set(toks[d]) for d in ids}
    pairs = [
        round(len(sets[a] & sets[b]) / len(sets[a] | sets[b]), 6)
        for i, a in enumerate(ids) for b in ids[i + 1:]
    ]
    n_pairs = len(ids) * (len(ids) - 1) // 2
    consistency = round(sum(pairs) / max(1, n_pairs), 6)
    # saturation from first-round term appearance
    first = {}
    for d, _t, r in rows:
        for w in set(toks[d]):
            first[w] = min(first.get(w, 10**9), r)
    per_round = {}
    for w, r in first.items():
        per_round[r] = per_round.get(r, 0) + 1
    hist = sorted(per_round)
    saturation = round(1.0 - per_round[hist[-1]] / max(per_round[hist[0]], 1), 6)
    conf = 0.4 * coverage + 0.3 * consistency + 0.3 * saturation
    return {"coverage": coverage, "consistency": consistency,
            "saturation": saturation, "confidence": conf}


def test_adaptive_stop_matches_model(spark, tmp_path):
    corpus = fakeshop_spark_df(spark, n_sites=1, n_categories=3,
                               n_subcats=2, n_products=2)
    cfg = CrawlConfig(
        max_depth=3,
        adaptive={"query_terms": TERMS, "confidence_threshold": 0.5},
    )
    eng = CrawlEngine(spark, Warehouse(str(tmp_path / "wh")),
                      CorpusFetcher(corpus), cfg)
    stats = eng.run([SEED])

    pages = eng.t_pages.read(spark).where("success").select(
        "url_norm", "markdown", "round"
    ).collect()
    rows = [(r.url_norm, r.markdown or "", r["round"]) for r in pages]
    want = model_metrics(rows, TERMS)
    got = stats["adaptive"]
    for k in ("coverage", "consistency", "saturation"):
        assert abs(got[k] - want[k]) < 1e-6, (k, got[k], want[k])
    assert abs(got["confidence"] - want["confidence"]) < 1e-6

    # the stop rule actually fired (or honestly did not)
    fired = got["confidence"] >= 0.5 or got["saturation"] >= 0.8
    assert (stats.get("stopped_by") == "adaptive_confidence") == fired


def test_adaptive_stops_earlier_than_plain(spark, tmp_path):
    corpus = fakeshop_spark_df(spark, n_sites=1, n_categories=3,
                               n_subcats=2, n_products=2)
    plain = CrawlEngine(
        spark, Warehouse(str(tmp_path / "a")), CorpusFetcher(corpus),
        CrawlConfig(max_depth=3),
    )
    s_plain = plain.run([SEED])
    # near-zero threshold -> first check stops the crawl
    adaptive = CrawlEngine(
        spark, Warehouse(str(tmp_path / "b")), CorpusFetcher(corpus),
        CrawlConfig(max_depth=3,
                    adaptive={"query_terms": TERMS,
                              "confidence_threshold": 0.0}),
    )
    s_adapt = adaptive.run([SEED])
    assert s_adapt["stopped_by"] == "adaptive_confidence"
    assert s_adapt["rounds"] == 1 < s_plain["rounds"]


def test_adaptive_state_survives_resume(spark, tmp_path):
    """The incremental adaptive tables checkpoint with the round commit:
    stopping after 2 rounds and resuming in a NEW engine must yield the
    same metrics as one uninterrupted crawl (both equal the model)."""
    corpus = fakeshop_spark_df(spark, n_sites=1, n_categories=3,
                               n_subcats=2, n_products=2)
    adaptive = {"query_terms": TERMS, "confidence_threshold": 2.0}

    wh = Warehouse(str(tmp_path / "wh"))
    cfg_half = CrawlConfig(max_depth=3, max_rounds=2,
                           adaptive=adaptive)
    CrawlEngine(spark, wh, CorpusFetcher(corpus), cfg_half).run([SEED])

    cfg_full = CrawlConfig(max_depth=3, adaptive=adaptive)
    eng = CrawlEngine(spark, wh, CorpusFetcher(corpus), cfg_full)
    stats = eng.run([SEED])

    pages = eng.t_pages.read(spark).where("success").select(
        "url_norm", "markdown", "round"
    ).collect()
    rows = [(r.url_norm, r.markdown or "", r["round"]) for r in pages]
    want = model_metrics(rows, TERMS)
    got = stats["adaptive"]
    for k in ("coverage", "consistency", "saturation", "confidence"):
        assert abs(got[k] - want[k]) < 1e-6, (k, got[k], want[k])
