"""Per-layer metrics of a traced run (``--trace 1``).

Layers are named after the modules: session, corpus (webgen), frontier,
politeness, fetch, tables, extract, seen (bloom/cuckoo) and discover.
Times come from the tracer's spans, job and task figures from Spark's
event log, counts from the finished warehouse, and the per-page
extraction cost from an in-process loop over the workload's pages.
"""

from __future__ import annotations

import glob
import os
import statistics
import sys
import time
from contextlib import contextmanager

from oracle import bfs_depths, read_table, url_of
from spans import EventLog, Tracer, covered_s
from workloads import N_DOCS, source_of

# traced-run sanity: seed init and the round spans must tile the traced
# crawl
MIN_ROUND_COVER = 0.95
# per-page extraction timings taken (the workload's pages, cycled)
EXTRACT_SAMPLES = 1000
# noop-sink runs of the extraction stage; the median is reported
EXTRACT_STAGE_REPS = 3
# never-crawled URLs probed against the final seen filter
SEEN_FP_PROBES = 20_000


def _rows(paths: list[str]) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


@contextmanager
def _group(sc, name: str):
    """Tag jobs run outside the traced crawl so they never count in it."""
    sc.setLocalProperty("spark.jobGroup.id", "pbx:" + name)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def extract_page_ms(bench, ids: list[int]) -> list[float]:
    """``extract_page`` + ``convert_links_to_citations`` per page, in
    this process, over the workload's pages (cycled up to
    ``EXTRACT_SAMPLES``), with HTML from webgen's pure-Python twin."""
    from crawl4ai_spark.corpus.webgen import page_html
    from crawl4ai_spark.extraction.citations import convert_links_to_citations
    from crawl4ai_spark.extraction.html_parser import extract_page

    out = []
    for k in range(max(EXTRACT_SAMPLES, len(ids))):
        i = ids[k % len(ids)]
        url = url_of(i)
        html = page_html(i, bench.texts[i], source_of(i), N_DOCS)
        t0 = time.perf_counter()
        r = extract_page(url, html)
        convert_links_to_citations(r["markdown"], url)
        out.append((time.perf_counter() - t0) * 1000)
    return out


def extract_stage_s(bench, ids: list[int]) -> float:
    """``extract_pages`` over a cached fetched frame of the workload's
    pages, forced with the noop sink; median of ``EXTRACT_STAGE_REPS``."""
    from pyspark.sql import functions as F

    from crawl4ai_spark.engine.fetch import CorpusFetcher
    from crawl4ai_spark.extraction.extract import extract_pages

    spark = bench.spark
    with _group(spark.sparkContext, "extract.stage"):
        frontier = spark.createDataFrame([(url_of(i),) for i in ids],
                                         "url_norm string")
        fetched = CorpusFetcher(bench.corpus).fetch(frontier) \
            .withColumn("url", F.col("url_norm")).cache()
        fetched.count()
        times = []
        for _ in range(EXTRACT_STAGE_REPS):
            t0 = time.monotonic()
            extract_pages(fetched, keep_cols=["url_norm"]).write \
                .format("noop").mode("overwrite").save()
            times.append(time.monotonic() - t0)
        fetched.unpersist()
    return statistics.median(times)


def seen_fp_frac(bench, eng) -> float:
    """Hit rate of the crawl's final seen filter on URLs that were never
    crawled (page ids at or past N_DOCS): its false-positive rate. 0
    when the filter never engaged."""
    from pyspark.sql import functions as F

    from crawl4ai_spark.corpus.webgen import url_expr
    from crawl4ai_spark.functions.urlnorm import url_hash

    if not eng.t_bloom.exists():
        return 0.0
    spark = bench.spark
    with _group(spark.sparkContext, "seen.fp"):
        absent = spark.range(N_DOCS, N_DOCS + SEEN_FP_PROBES).select(
            url_hash(url_expr(F.col("id"))).alias("url_hash"))
        return eng.bloom.probe(spark, absent).agg(
            F.avg(F.col("maybe_seen").cast("double"))).first()[0]


def traced_metrics(bench, before: dict) -> dict:
    """Runs the traced pass and one more untraced pass, then derives
    every per-layer metric. ``before`` is the untraced pass that ran
    just ahead of the traced one; the tracing overhead is taken against
    the mean of the passes on either side, so the warm-up curve that is
    still flattening does not pass for a negative overhead."""
    spark = bench.spark
    sc = spark.sparkContext
    w = bench.w
    tracer = Tracer(sc)
    s = bench.one_pass("traced", tracer)
    eng = s.pop("engine")
    wh = eng.wh.root
    after = bench.one_pass("untraced-after")
    after.pop("engine")
    untraced_s = (before["crawl_s"] + after["crawl_s"]) / 2

    # the event log is written from the listener bus; drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    ev = EventLog(os.path.join(bench.work, "eventlog"))
    crawl_jobs = [j for j in ev.select() if j["end"] is not None]
    rounds = tracer.rounds()
    crawl = tracer.crawl_span()
    crawl_s = crawl["end"] - crawl["start"]
    job_iv = [(j["start"], j["end"]) for j in crawl_jobs]
    round_s = sum(r["end"] - r["start"] for r in rounds)
    job_s = sum(covered_s(job_iv, r["start"], r["end"]) for r in rounds)
    cover = tracer.top_level_s() / crawl_s

    pages = read_table(os.path.join(wh, "pages"),
                       ["depth", "success", "links"])
    fetched = len(pages["depth"])
    deferred = _rows(glob.glob(os.path.join(wh, "state", "*", "tag=d",
                                            "*.parquet")))
    candidates = sum(
        sum(1 for link in links if link["internal"])
        for depth, ok, links in zip(pages["depth"], pages["success"],
                                    pages["links"])
        if ok and depth + 1 <= w.max_depth)
    seen_keys = len(read_table(os.path.join(wh, "seen"),
                               ["url_hash"])["url_hash"])

    def task_s(group):
        return sum(j["task_s"] for j in ev.select(group))

    ids = sorted(bfs_depths(list(w.seeds), N_DOCS, w.max_depth))
    page_ms = extract_page_ms(bench, ids)
    values = {
        "session.build_s": (bench.timings["session.build_s"], "s"),
        "corpus.build_s": (bench.timings["corpus.build_s"], "s"),
        "frontier.init_s": (tracer.inclusive_s("frontier.init"), "s"),
        "frontier.driver_s": (round_s - job_s, "s"),
        "frontier.job_s": (job_s, "s"),
        "frontier.jobs": (len(crawl_jobs), "count"),
        "frontier.rounds": (len(rounds), "count"),
        "politeness.plan_s": (tracer.inclusive_s("politeness.plan"), "s"),
        "politeness.deferred_rows": (deferred, "count"),
        "politeness.selected_frac": (fetched / (fetched + deferred), "ratio"),
        "fetch.plan_s": (tracer.inclusive_s("fetch.plan"), "s"),
        "fetch.rows": (fetched, "count"),
        "tables.pages_write_s": (tracer.inclusive_s("tables.pages_write"), "s"),
        "tables.pages_write_task_s": (task_s("tables.pages_write"), "s"),
        "tables.state_write_s": (tracer.inclusive_s("tables.state_write"), "s"),
        "tables.state_write_task_s": (task_s("tables.state_write"), "s"),
        "tables.shuffle_mb": (
            sum(j["shuffle_bytes"] for j in crawl_jobs) / 1e6, "MB"),
        "tables.commit_s": (tracer.inclusive_s("tables.commit"), "s"),
        "tables.read_s": (tracer.inclusive_s("tables.read"), "s"),
        "tables.files": (len(glob.glob(os.path.join(wh, "**", "*.parquet"),
                                       recursive=True)), "count"),
        "extract.page_ms_p50": (statistics.median(page_ms), "ms"),
        "extract.page_ms_p99": (statistics.quantiles(page_ms, n=100)[98], "ms"),
        "extract.stage_s": (extract_stage_s(bench, ids), "s"),
        "extract.python_mb": (sum(j["python_bytes"] for j in
                                  ev.select("tables.pages_write")) / 1e6, "MB"),
        "seen.build_s": (tracer.inclusive_s("seen.build"), "s"),
        "seen.sync_s": (tracer.inclusive_s("seen.sync"), "s"),
        "seen.keys": (seen_keys, "count"),
        "seen.fp_frac": (seen_fp_frac(bench, eng), "ratio"),
        "discover.candidates": (candidates, "count"),
        "discover.new_frac": (seen_keys / candidates if candidates else 0.0,
                              "ratio"),
        "trace.crawl_s": (crawl_s, "s"),
        "trace.overhead_frac": ((s["crawl_s"] - untraced_s) / untraced_s,
                                "ratio"),
        "trace.round_cover_frac": (cover, "ratio"),
    }
    bench.trace_check = {"round_cover_frac": cover,
                         "min_round_cover": MIN_ROUND_COVER,
                         "ok": cover >= MIN_ROUND_COVER}
    if cover < MIN_ROUND_COVER:
        print(f"perfbench: seed init and round spans cover only "
              f"{cover:.3f} of the traced crawl", file=sys.stderr)
    tracer.write(
        os.path.join(bench.root_out, "trace",
                     f"{w.name}-seed{bench.args.seed}.json"),
        {"workload": w.name, "seed": bench.args.seed,
         "jobs": crawl_jobs,
         "metrics": {k: v for k, (v, _) in values.items()}},
    )
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}
