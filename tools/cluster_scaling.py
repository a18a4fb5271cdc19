"""spark-submit job for the REAL two-cluster-size scaling measurement.

The north rule's scaling criterion reads "run via spark-submit
--py-files on a multi-executor cluster at N and 4N executors with
throughput scaling efficiency >=0.8". All previous evidence was
single-JVM local[k] (thread scaling); this job runs against a real
standalone master, with real separate executor JVMs, real Netty
shuffle between them, and the package shipped via --py-files — the
closest a single box gets to an executor resize. tools/
cluster_scaling.sh drives both legs (same input, same job) and prints
one JSON line per leg.

Workload: one full frontier round over a replicated synthetic corpus —
the exact north-star metric shape (politeness windows, fetch join,
span extraction mapInPandas, pages persist, discovery + seen
anti-join), identical to bench.py's crawl_mass_round.

Usage (see cluster_scaling.sh):
  spark-submit --master spark://127.0.0.1:7077 \
    --py-files /tmp/c4as_pkg.zip tools/cluster_scaling.py \
    <sf_dir> <replicas> <label>
"""

from __future__ import annotations

import json
import sys
import tempfile
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def run_ops(spark, sf_dir: str, replicas: int, label: str) -> None:
    """--ops mode: the curation job (Gopher quality signals + benchmark
    n-gram decontamination) at this cluster size — the workload whose
    single-box N->4N thread scaling measured 0.54-0.68; here it gets
    the real-executor, cold+warm treatment."""
    import os

    from pyspark.sql import functions as F

    from crawl4ai_spark.corpus.webgen import replicate_docs
    from crawl4ai_spark.ops.quality import gopher_signals, ngram_contamination

    sc = spark.sparkContext
    total_cores = int(sc.getConf().get("spark.cores.max", "0")) or None
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    big = replicate_docs(docs, replicas, n_docs=n) \
        .repartition(int(spark.conf.get("spark.sql.shuffle.partitions"))) \
        .persist()
    n_big = big.count()
    bench = big.where(F.col("doc_id") % 50 == 0)
    corp = big.where(F.col("doc_id") % 50 != 0)

    def job() -> float:
        t0 = time.monotonic()
        gopher_signals(big).write.format("noop").mode("overwrite").save()
        ngram_contamination(corp, bench, n=8) \
            .write.format("noop").mode("overwrite").save()
        return time.monotonic() - t0

    cold = job()
    warm = job()
    infos = sc._jsc.sc().statusTracker().getExecutorInfos()
    print(json.dumps({
        "metric": "cluster_ops_docs_per_sec",
        "label": label,
        "load_1m_at_end": round(os.getloadavg()[0], 2),
        "docs": n_big,
        "cold_wall_s": round(cold, 2),
        "wall_s": round(warm, 2),
        "docs_per_sec": round(n_big / warm, 1),
        "n_executors": max(0, len(infos) - 1),
        "total_cores": total_cores,
        "master": sc.master,
    }), flush=True)


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--ops"]
    ops_mode = "--ops" in sys.argv[1:]
    if ops_mode:
        sf_dir = args[0] if len(args) > 0 else "/root/testdata/sf0.1"
        replicas = int(args[1]) if len(args) > 1 else 4
        label = args[2] if len(args) > 2 else "leg"
        spark = SparkSession.builder.appName(
            f"c4as-cluster-ops-{label}").getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        run_ops(spark, sf_dir, replicas, label)
        spark.stop()
        return
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    replicas = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    label = sys.argv[3] if len(sys.argv) > 3 else "leg"

    spark = SparkSession.builder.appName(f"c4as-cluster-{label}").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from crawl4ai_spark.corpus.webgen import build_corpus, replicate_docs, url_expr
    from crawl4ai_spark.engine.fetch import CorpusFetcher
    from crawl4ai_spark.engine.frontier import CrawlConfig, CrawlEngine
    from crawl4ai_spark.engine.tables import Warehouse

    sc = spark.sparkContext
    total_cores = int(sc.getConf().get("spark.cores.max", "0")) or None

    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs = replicate_docs(base, replicas)
    n = base.count() * replicas
    corpus = build_corpus(docs, n_docs=n).cache()
    corpus.count()  # materialize outside the timed section
    seed_df = docs.select(
        url_expr(F.col("doc_id").cast("long")).alias("url")
    ).repartition(int(spark.conf.get("spark.sql.shuffle.partitions"))).persist()
    seed_df.count()

    def one_round(tag: str) -> float:
        wh = Warehouse(tempfile.mkdtemp(prefix=f"c4as_cluster_{label}_{tag}_"))
        eng = CrawlEngine(
            spark, wh, CorpusFetcher(corpus),
            CrawlConfig(max_depth=0, mode="bfs",
                        base_host_budget=n // 7 + 1, n_salts=8,
                        max_rounds=1),
        )
        t0 = time.monotonic()
        eng.run(seed_df=seed_df)
        return time.monotonic() - t0

    # Cold round first (JIT warm-up, per-executor python import,
    # codegen compile, first broadcast), then the WARM round — the
    # steady-state shape of a production crawl, which runs thousands
    # of rounds per job. Both are reported; throughput/efficiency key
    # off the warm round, the cold one discloses the per-job fixed
    # cost a long-running job amortizes away.
    cold = one_round("cold")
    warm = one_round("warm")

    # executor count AFTER the run: the scheduler has registered (and
    # run tasks on) every executor by now; entry 'driver' is excluded
    infos = sc._jsc.sc().statusTracker().getExecutorInfos()
    n_executors = max(0, len(infos) - 1)

    import os
    print(json.dumps({
        "metric": "cluster_round_urls_per_sec",
        "label": label,
        "load_1m_at_end": round(os.getloadavg()[0], 2),
        "urls": n,
        "cold_wall_s": round(cold, 2),
        "wall_s": round(warm, 2),
        "urls_per_sec": round(n / warm, 1),
        "n_executors": n_executors,
        "total_cores": total_cores,
        "master": sc.master,
    }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
