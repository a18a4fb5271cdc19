"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "crawl_urls_per_sec": ...}

Each query is forced end-to-end with the noop sink (full computation,
no collect-to-driver, no column pruning of the measured work).

Contention protocol (the host is SHARED and noisy-neighbor bursts
routinely inflate a single sample 2-7x — BENCH.md's variance model):
every headline query and both crawl benches take TWO samples with the
min reported and BOTH disclosed in the `samples` field, and each
sample is load-gated — if the 1-min loadavg exceeds
$SPARK_GRAFT_LOAD_GATE (default 6.0) the sample waits, within a shared
$SPARK_GRAFT_GATE_BUDGET-second budget (default 240), for the host to
quiet down. Gate decisions (who waited, how long, the load seen) are
logged into the JSON under `load_gate` so the record itself shows
whether a number was taken under contention.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

GATE_THRESHOLD = float(os.environ.get("SPARK_GRAFT_LOAD_GATE", "6.0"))
GATE_POLL_S = 5.0


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class LoadGate:
    """Per-sample admission gate: wait (within a shared suite-wide
    budget) for the 1-min loadavg to drop below the threshold, and
    record every wait so the JSON discloses contention at sample
    start. The budget bounds worst-case suite wall time; once spent,
    samples start regardless and the residual load is still logged."""

    def __init__(self, budget_s: float):
        self.left = budget_s
        self.events: list[dict] = []

    def admit(self, sample: str) -> float:
        load = os.getloadavg()[0]
        waited = 0.0
        while load > GATE_THRESHOLD and self.left > 0:
            step = min(GATE_POLL_S, self.left)
            time.sleep(step)
            waited += step
            self.left -= step
            load = os.getloadavg()[0]
        if waited or load > GATE_THRESHOLD:
            self.events.append({
                "sample": sample,
                "waited_s": round(waited, 1),
                "load_at_start": round(load, 2),
            })
        return load


def bench_crawl(spark, sf_dir: str, max_depth: int = 6) -> tuple[float, int]:
    """The engine loop itself: BFS to depth 6 with the seen-set filter +
    politeness budgets on. Returns (seconds, pages_crawled). This
    measures ROUND LATENCY (7 mostly-small rounds), not throughput."""
    from crawl4ai_spark.corpus.webgen import build_corpus, seed_url
    from crawl4ai_spark.engine.fetch import CorpusFetcher
    from crawl4ai_spark.engine.frontier import CrawlConfig, CrawlEngine
    from crawl4ai_spark.engine.tables import Warehouse

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = build_corpus(docs).cache()
    wh = Warehouse(tempfile.mkdtemp(prefix="c4as_bench_"))
    eng = CrawlEngine(
        spark, wh, CorpusFetcher(corpus),
        CrawlConfig(max_depth=max_depth, mode="bfs",
                    base_host_budget=4000, n_salts=8),
    )
    t0 = time.monotonic()
    stats = eng.run([seed_url()])
    wall = time.monotonic() - t0
    corpus.unpersist()
    return wall, stats["pages_crawled"]


def bench_crawl_mass(spark, sf_dir: str, replicas: int = 4) -> tuple[float, int]:
    """Frontier THROUGHPUT (the north-star metric's shape): one round
    over a replicated corpus as frontier — politeness windows,
    robots-free fetch join, span extraction, pages persist, discovery +
    seen anti-join all run on a full-size frontier, the way production
    rounds do. Returns (seconds, urls_processed)."""
    from pyspark.sql import functions as F

    from crawl4ai_spark.corpus.webgen import build_corpus, replicate_docs, url_expr
    from crawl4ai_spark.engine.fetch import CorpusFetcher
    from crawl4ai_spark.engine.frontier import CrawlConfig, CrawlEngine
    from crawl4ai_spark.engine.tables import Warehouse

    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs = replicate_docs(base, replicas)
    n = base.count() * replicas
    corpus = build_corpus(docs, n_docs=n).cache()
    corpus.count()  # materialize outside the timed section
    # seeds are INPUT (a production seed table is already materialized)
    seed_df = docs.select(
        url_expr(F.col("doc_id").cast("long")).alias("url")
    ).repartition(32).persist()
    seed_df.count()
    wh = Warehouse(tempfile.mkdtemp(prefix="c4as_mass_"))
    eng = CrawlEngine(
        spark, wh, CorpusFetcher(corpus),
        CrawlConfig(max_depth=0, mode="bfs",
                    base_host_budget=n // 7 + 1, n_salts=8, max_rounds=1),
    )
    t0 = time.monotonic()
    eng.run(seed_df=seed_df)
    wall = time.monotonic() - t0
    corpus.unpersist()
    seed_df.unpersist()
    return wall, n


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from crawl4ai_spark.session import build_session, prewarm

    spark = build_session(
        app_name="crawl4ai-spark-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")
    # pay the fresh-JVM costs (codegen/analyzer JIT, Python worker
    # pool, parquet committer classes) on a micro-job, not inside the
    # first timed sample — measured 69-109 s -> 39-53 s cold crawl
    # (tools/cold_round_profile.py A/B, BENCH.md round 5); disclosed
    # in the JSON as prewarm_s
    t_pw = time.monotonic()
    prewarm(spark)
    prewarm_s = round(time.monotonic() - t_pw, 2)

    from crawl4ai_spark import queries as Q

    headline = [
        "crawl_spans",
        "dedup_exact",
        "dedup_minhash_lsh",
        "dedup_simhash",
        "embedding_cosine_topk",
        "ann_signlsh_topk",
        "tpch_q1_pricing",
        "tpch_q3_revenue",
        "events_tumbling",
        "events_sessionize",
        "events_topk",
        "text_stats",
        "chunks_fixed",
        "url_canonicalize",
        "quality_gopher",
        "decontaminate",
    ]

    gate = LoadGate(float(os.environ.get("SPARK_GRAFT_GATE_BUDGET", "240")))

    timings: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    # Min-of-2 with BOTH samples disclosed, for the crawl benches AND
    # every headline query: the host is SHARED and noisy-neighbor
    # bursts routinely inflate a single sample 2-7x (BENCH.md's
    # variance model); min-of-2 keeps one unlucky burst from
    # masquerading as a regression, and the disclosed samples let a
    # reader see the spread. Each sample is additionally load-gated
    # (LoadGate above) so it starts in as quiet a window as the budget
    # allows. Each sample rebuilds the DataFrame from scratch (fresh
    # plan, no exchange reuse across samples).
    mass_runs = []
    for i in range(2):
        gate.admit(f"crawl_mass_round#{i}")
        mass_runs.append(bench_crawl_mass(spark, sf_dir))
    mass_s, mass_urls = min(mass_runs, key=lambda r: r[0])
    timings["crawl_mass_round"] = round(mass_s, 3)
    samples["crawl_mass_round"] = [round(s, 3) for s, _ in mass_runs]
    crawl_runs = []
    for i in range(2):
        gate.admit(f"crawl_bfs_d6#{i}")
        crawl_runs.append(bench_crawl(spark, sf_dir))
    crawl_s, crawl_pages = min(crawl_runs, key=lambda r: r[0])
    timings["crawl_bfs_d6"] = round(crawl_s, 3)
    samples["crawl_bfs_d6"] = [round(s, 3) for s, _ in crawl_runs]
    # the crawl benches cache corpora and leave shuffle/GC residue; a
    # clean cache keeps the per-query timings below independent of them
    spark.catalog.clearCache()

    # extra: round-4 ops, timed under the same protocol and disclosed
    # but NOT in the headline total — the headline set is frozen so
    # suite totals stay like-for-like comparable across rounds
    # (VERDICT r3: the r3 record read as a regression partly because
    # it added queries to the total).
    extra = ["dedup_lines", "dedup_spans", "dedup_semantic", "dsir_select",
             "lm_perplexity", "dedup_incremental", "quality_gopher_rules",
             # round-5 additions (PDF round trip + LLM pipelines +
             # the MemoryAdaptiveDispatcher scheduler fold)
             "pdf_extract", "llm_extract", "llm_filter",
             "dispatch_memory_adaptive"]
    extra_timings: dict[str, float] = {}
    for names, sink in ((headline, timings), (extra, extra_timings)):
        for name in names:
            fn = Q.QUERIES[name]
            runs = []
            for i in range(2):
                gate.admit(f"{name}#{i}")
                t0 = time.monotonic()
                _force(fn(spark, sf_dir))
                runs.append(time.monotonic() - t0)
            sink[name] = round(min(runs), 3)
            samples[name] = [round(s, 3) for s in runs]

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(json.dumps({
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "extra_queries": extra_timings,
        "samples": samples,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "crawl_pages": crawl_pages,
        "crawl_urls_per_sec": round(mass_urls / mass_s, 2) if mass_s else None,
        "crawl_loop_urls_per_sec": round(crawl_pages / crawl_s, 2) if crawl_s else None,
        "cpus": int(cpus),
        "prewarm_s": prewarm_s,
        "load_gate": {
            "threshold": GATE_THRESHOLD,
            "budget_left_s": round(gate.left, 1),
            "events": gate.events,
        },
    }))
    spark.stop()


if __name__ == "__main__":
    main()
