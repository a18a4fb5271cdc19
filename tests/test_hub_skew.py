"""Hub-host skew through the REAL engine round (SURVEY §7.4's named
frontier hazard): one host holds the large majority of the frontier,
its budget is far smaller, and the round must (a) fetch exactly
budget rows for the hub while fetching every tail row, (b) keep the
non-selected hub rows as deferred frontier (wait_rounds+1), and
(c) do it through the salted two-stage politeness path — pinned here
both data-level (stage-1 window partitions are (host, salt) groups,
each a fraction of the hub) and end-to-end (a second round drains
more of the hub under the refreshed budget).

tools/frontier_stress.py is the 10^7-scale version of the same shape
(run out-of-band; results quoted in BENCH.md); this test keeps the
path exercised in CI at a size the suite can afford.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawl4ai_spark.engine.fetch import CorpusFetcher
from crawl4ai_spark.engine.frontier import CrawlConfig, CrawlEngine
from crawl4ai_spark.engine.tables import Warehouse

N = 40_000          # 30k on the hub, 10k across 1k tail hosts
BUDGET = 500
N_SALTS = 8


def _hub_corpus(spark):
    hub = F.col("id") % 4 < 3  # 75% of ids
    host = F.when(hub, F.lit("hub.example.com")).otherwise(
        F.format_string("tail%d.example.com", F.col("id") % 1000)
    )
    url = F.format_string("https://%s/p/%d", host, F.col("id"))
    return spark.range(N).select(
        url.alias("url_norm"),
        F.format_string("<html><body><p>doc %d</p></body></html>",
                        F.col("id")).alias("html"),
        F.lit(200).alias("status_code"),
        F.lit(1).alias("fetch_ms"),
    )


@pytest.mark.slow
def test_hub_skew_round_end_to_end(spark, tmp_path):
    corpus = _hub_corpus(spark).persist()
    seeds = corpus.select("url_norm").withColumnRenamed("url_norm", "url")
    wh = Warehouse(str(tmp_path / "wh"))
    eng = CrawlEngine(
        spark, wh, CorpusFetcher(corpus),
        CrawlConfig(max_depth=0, mode="bfs",
                    base_host_budget=BUDGET, n_salts=N_SALTS,
                    max_rounds=1),
    )
    eng.run(seed_df=seeds)

    # stage-1 bound, data-level: no (host, salt) window partition holds
    # more than ~hub/N_SALTS rows — the serialized-hub-task hazard the
    # salting exists to kill
    frontier_like = seeds.select(
        F.col("url").alias("url_norm"),
        F.pmod(F.xxhash64("url", F.lit(7)), F.lit(N_SALTS)).alias("salt"),
        F.regexp_extract("url", r"https://([^/]+)/", 1).alias("host"),
    )
    max_part = (
        frontier_like.groupBy("host", "salt").count()
        .agg(F.max("count")).first()[0]
    )
    hub_total = int(N * 3 / 4)
    assert max_part < hub_total / N_SALTS * 1.3  # xxhash64 spreads evenly

    pages = eng.t_pages.read(spark)
    by_host = pages.withColumn(
        "host", F.regexp_extract("url_norm", r"https://([^/]+)/", 1)
    ).groupBy((F.col("host") == "hub.example.com").alias("is_hub")).agg(
        F.count(F.lit(1)).alias("n")).collect()
    counts = {r.is_hub: r.n for r in by_host}
    assert counts[True] == BUDGET            # hub capped exactly
    assert counts[False] == N - hub_total    # every tail row fetched

    # deferred rows survived as frontier with bumped wait_rounds
    frontier = eng.t_frontier.read(spark)
    deferred = frontier.agg(
        F.count(F.lit(1)).alias("n"), F.max("wait_rounds").alias("w")
    ).first()
    assert deferred.n == hub_total - BUDGET
    assert deferred.w == 1

    # a second round drains another budget's worth of the hub (clean-
    # host recovery grows 4/3 but caps at base_budget by default, so
    # the next slice is exactly BUDGET again)
    eng2 = CrawlEngine(
        spark, wh, CorpusFetcher(corpus),
        CrawlConfig(max_depth=0, mode="bfs",
                    base_host_budget=BUDGET, n_salts=N_SALTS,
                    max_rounds=2),
    )
    eng2.run(seed_df=seeds)
    n_hub2 = eng2.t_pages.read(spark).where(
        F.col("url_norm").startswith("https://hub.")).count()
    assert n_hub2 == 2 * BUDGET
    corpus.unpersist()
