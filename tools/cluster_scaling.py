"""spark-submit job for the N vs 4N scaling legs.

The north rule's scaling criterion reads "run via spark-submit
--py-files on a multi-executor cluster at N and 4N executors with
throughput scaling efficiency >=0.8". tools/cluster_scaling.sh runs
this job against a real standalone master (separate executor JVMs,
Netty shuffle between them, the package and bench.py shipped via
--py-files) at both cluster sizes, and prints one JSON line per leg.

Modes:
  crawl  one frontier round over a replicated corpus: bench.py's
         bench_crawl_mass, the same round as its crawl_mass_round
  ops    the curation job: Gopher quality signals + benchmark n-gram
         decontamination over the replicated documents

Each leg runs its job twice: a cold run (JIT warm-up, per-executor
Python import, codegen compile, first broadcast), then a warm run —
the steady state of a long job. Both are reported; throughput and
efficiency key off the warm run.

Usage (see cluster_scaling.sh):
  spark-submit --master spark://127.0.0.1:7077 --py-files pkg.zip \
    tools/cluster_scaling.py crawl|ops <sf_dir> <replicas> <label>
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def run_crawl(spark, sf_dir: str, replicas: int) -> tuple[float, float, int]:
    from bench import bench_crawl_mass

    cold, _ = bench_crawl_mass(spark, sf_dir, replicas)
    warm, urls = bench_crawl_mass(spark, sf_dir, replicas)
    return cold, warm, urls


def run_ops(spark, sf_dir: str, replicas: int) -> tuple[float, float, int]:
    from crawl4ai_spark.corpus.webgen import replicate_docs
    from crawl4ai_spark.ops.quality import gopher_signals, ngram_contamination

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    big = replicate_docs(docs, replicas, n_docs=docs.count()) \
        .repartition(int(spark.conf.get("spark.sql.shuffle.partitions"))) \
        .persist()
    n_big = big.count()  # materialize input outside the timed section
    bench = big.where(F.col("doc_id") % 50 == 0)
    corp = big.where(F.col("doc_id") % 50 != 0)

    def job() -> float:
        t0 = time.monotonic()
        gopher_signals(big).write.format("noop").mode("overwrite").save()
        ngram_contamination(corp, bench, n=8) \
            .write.format("noop").mode("overwrite").save()
        return time.monotonic() - t0

    cold = job()
    return cold, job(), n_big


def main() -> None:
    mode, sf_dir, replicas, label = sys.argv[1:5]
    spark = SparkSession.builder.appName(
        f"c4as-cluster-{mode}-{label}").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    run = {"crawl": run_crawl, "ops": run_ops}[mode]
    cold, warm, n = run(spark, sf_dir, int(replicas))
    sc = spark.sparkContext
    # executors registered by now; the 'driver' entry is excluded
    infos = sc._jsc.sc().statusTracker().getExecutorInfos()
    print(json.dumps({
        "metric": f"cluster_{mode}_per_sec",
        "mode": mode,
        "label": label,
        "unit": "urls" if mode == "crawl" else "docs",
        "n": n,
        "cold_wall_s": round(cold, 2),
        "wall_s": round(warm, 2),
        "per_sec": round(n / warm, 1),
        "n_executors": max(0, len(infos) - 1),
        "total_cores": int(sc.getConf().get("spark.cores.max", "0")) or None,
        "load_1m_at_end": round(os.getloadavg()[0], 2),
        "master": sc.master,
    }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
