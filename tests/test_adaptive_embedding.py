"""EmbeddingStrategy adaptive stopping wired into CrawlEngine
(adaptive_crawler.py:925-947 calculate_confidence + :1090-1139
should_stop + :1308-1337 validate_coverage): the engine's per-check
confidence history and stop decision must match an independent
in-memory model computed straight from the pages table — shares no
code with ops.adaptive_embedding (pure hashlib/math twin).
"""

from __future__ import annotations

import hashlib
import math

from crawl4ai_spark.corpus.fakeshop import fakeshop_spark_df
from crawl4ai_spark.engine.fetch import CorpusFetcher
from crawl4ai_spark.engine.frontier import CrawlConfig, CrawlEngine
from crawl4ai_spark.engine.tables import Warehouse
from crawl4ai_spark.ops.adaptive_embedding import should_stop_embedding

SEED = "http://shop0.fakeshop.test/index.html"
QUERY = "fakeshop products"
DIM = 16  # small dim keeps the pure-python model cheap
N_TRAIN, N_VAL = 5, 2


def _h64(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _embed(entity: str, seed: str) -> list[float]:
    return [((_h64(f"{seed}:{entity}#{d}") % 2001) - 1000) / 1000.0
            for d in range(DIM)]


def _cos(a: list[float], b: list[float]) -> float:
    # plain sequential sums, matching Spark's fold order
    dot = na = nb = 0.0
    for x, y in zip(a, b):
        dot += x * y
        na += x * x
        nb += y * y
    return dot / (math.sqrt(na) * math.sqrt(nb))


def model_best(kb_texts: list[str]) -> list[float]:
    """Per query variation, rounded best cosine over the KB texts."""
    out = []
    for j in range(N_TRAIN + N_VAL):
        q = _embed(f"{QUERY}#{j}", "aq")
        out.append(round(max(_cos(q, _embed(t, "kbvec")) for t in kb_texts), 6))
    return out


def model_conf_val(kb_texts: list[str]) -> tuple[float, float]:
    best = model_best(kb_texts)
    conf = round(sum(best[:N_TRAIN]) / N_TRAIN, 6)
    val = round(sum(best[N_TRAIN:]) / N_VAL, 6)
    return conf, val


def _kb_by_round(eng):
    """(round -> texts first crawled that round), dedup by url_norm
    keeping the earliest round, like the engine's a_kb anti-join."""
    pages = eng.t_pages.read(eng.spark).where("success").select(
        "url_norm", "markdown", "round").collect()
    first: dict[str, tuple[int, str]] = {}
    for r in pages:
        prev = first.get(r.url_norm)
        if prev is None or r["round"] < prev[0]:
            first[r.url_norm] = (r["round"], r.markdown or "")
    by_round: dict[int, list[str]] = {}
    for rnd, text in first.values():
        by_round.setdefault(rnd, []).append(text)
    return by_round


def _model_history(by_round):
    """Confidence after each per-round check (check_every=1)."""
    hist, vals, kb = [], [], []
    for rnd in sorted(by_round):
        kb.extend(by_round[rnd])
        conf, val = model_conf_val(kb)
        hist.append(conf)
        vals.append(val)
    return hist, vals


def test_embedding_confidence_matches_model(spark, tmp_path):
    corpus = fakeshop_spark_df(spark, n_sites=1, n_categories=3,
                               n_subcats=2, n_products=2)
    cfg = CrawlConfig(
        max_depth=3,
        adaptive={"strategy": "embedding", "query": QUERY, "dim": DIM,
                  # thresholds no stop can reach -> full crawl, full history
                  "min_confidence": 0.0, "min_rel_improvement": 1e-12,
                  "validation_min": 2.0},
    )
    eng = CrawlEngine(spark, Warehouse(str(tmp_path / "wh")),
                      CorpusFetcher(corpus), cfg)
    stats = eng.run([SEED])
    assert "stopped_by" not in stats  # exhausted the frontier instead

    hist, vals = _model_history(_kb_by_round(eng))
    got = stats["adaptive"]
    assert got["history"] == hist
    assert got["confidence"] == hist[-1]
    assert got["val_score"] == vals[-1]
    assert got["n_queries"] == N_TRAIN + N_VAL


def test_embedding_converged_stop_matches_model(spark, tmp_path):
    """validation_min=-1 makes every validation pass, min_confidence=-1
    disables the irrelevance floor (a 1-doc KB scores ~0.02 here, under
    the reference's 0.1 default), and a generous min_rel_improvement
    makes the convergence test reachable on this small corpus
    (hash-embedding confidence grows ~0.1/round, so the default
    0.1-relative bar never fires within depth 3) — the crawl must then
    stop at exactly the first check where the model's fold fires,
    derived from a full (non-adaptive) crawl's per-round KB."""
    corpus = fakeshop_spark_df(spark, n_sites=1, n_categories=3,
                               n_subcats=2, n_products=2)
    full = CrawlEngine(
        spark, Warehouse(str(tmp_path / "full")), CorpusFetcher(corpus),
        CrawlConfig(max_depth=3))
    s_full = full.run([SEED])
    hist, vals = _model_history(_kb_by_round(full))

    rel = 10.0  # avg |Δconf| < 10*conf from the 2nd check on
    stop_at = None
    for k in range(1, len(hist) + 1):
        stop, reason = should_stop_embedding(
            hist[:k], vals[k - 1], crawled=1, min_confidence=-1.0,
            min_rel_improvement=rel, validation_min=-1.0)
        if stop:
            stop_at = k
            assert reason == "converged_validated"
            break
    assert stop_at is not None and stop_at <= s_full["rounds"]

    adaptive = CrawlEngine(
        spark, Warehouse(str(tmp_path / "ad")), CorpusFetcher(corpus),
        CrawlConfig(max_depth=3,
                    adaptive={"strategy": "embedding", "query": QUERY,
                              "dim": DIM, "min_confidence": -1.0,
                              "min_rel_improvement": rel,
                              "validation_min": -1.0}))
    s_ad = adaptive.run([SEED])
    assert s_ad["stopped_by"] == "converged_validated"
    assert s_ad["rounds"] == stop_at
    assert s_ad["adaptive"]["history"] == hist[:stop_at]


def test_embedding_irrelevant_stop(spark, tmp_path):
    """min_confidence above any reachable confidence -> the very first
    check stops the crawl as irrelevant (should_stop :1094-1099)."""
    corpus = fakeshop_spark_df(spark, n_sites=1, n_categories=3,
                               n_subcats=2, n_products=2)
    eng = CrawlEngine(
        spark, Warehouse(str(tmp_path / "wh")), CorpusFetcher(corpus),
        CrawlConfig(max_depth=3,
                    adaptive={"strategy": "embedding", "query": QUERY,
                              "dim": DIM, "min_confidence": 2.0}))
    stats = eng.run([SEED])
    assert stats["stopped_by"] == "below_minimum_relevance_threshold"
    assert stats["rounds"] == 1


def test_embedding_state_survives_resume(spark, tmp_path):
    """a_qbest/a_conf checkpoint with the round commit. The round
    checkpoint commits BEFORE that round's adaptive check, so resuming
    rolls the last check back and its window merges into the next
    check's delta — the resumed history is therefore a SUBSEQUENCE of
    the uninterrupted per-round history (each entry still equals the
    model confidence over the same KB prefix), and the final
    confidence/validation must match the model exactly."""
    corpus = fakeshop_spark_df(spark, n_sites=1, n_categories=3,
                               n_subcats=2, n_products=2)
    adaptive = {"strategy": "embedding", "query": QUERY, "dim": DIM,
                "min_confidence": -1.0, "min_rel_improvement": 1e-12,
                "validation_min": 2.0}

    wh = Warehouse(str(tmp_path / "wh"))
    CrawlEngine(spark, wh, CorpusFetcher(corpus),
                CrawlConfig(max_depth=3, max_rounds=2,
                            adaptive=adaptive)).run([SEED])
    eng = CrawlEngine(spark, wh, CorpusFetcher(corpus),
                      CrawlConfig(max_depth=3,
                                  adaptive=adaptive))
    stats = eng.run([SEED])

    hist, vals = _model_history(_kb_by_round(eng))
    got = stats["adaptive"]["history"]
    # subsequence check: every engine check's confidence is the model
    # confidence of some KB prefix, in order, ending at the full KB
    it = iter(hist)
    assert all(any(g == h for h in it) for g in got)
    assert got[-1] == hist[-1] == stats["adaptive"]["confidence"]
    assert stats["adaptive"]["val_score"] == vals[-1]
