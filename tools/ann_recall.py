"""Measure ANN recall@k vs exact brute force on the embeddings table.

The latency side of the ANN story is in bench.py; this is the QUALITY
side of the dial: how much of the exact top-k the bucketed paths
(sign-LSH, IVF nprobe) retain, per query and aggregated, plus the
candidate-set shrinkage that buys the speedup (the fraction of the
corpus each query actually scores).

Usage: python tools/ann_recall.py [sf_dir] [k]
Prints one JSON line for BENCH.md.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 10

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from crawl4ai_spark.ops import similarity as S
    from crawl4ai_spark.session import build_session, host_cpus

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or host_cpus()
    spark = build_session(master=f"local[{cpus}]", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n_corpus = emb.count()
    # the same query construction the registered ANN queries use:
    # every 40th vector, re-labeled q0..qN
    q = (emb.where(F.col("vec_id") % 40 == 0)
            .select(F.concat(F.lit("q"), F.col("vec_id").cast("string"))
                    .alias("q_id"),
                    F.col("embedding").alias("q_vec")))

    exact = S.cosine_topk(emb, q, k=k).select("q_id", "vec_id")
    exact.cache()
    n_q = exact.select("q_id").distinct().count()

    out = {"metric": "ann_recall", "sf_dir": sf_dir, "k": k,
           "n_corpus": n_corpus, "n_queries": n_q, "paths": {}}

    def recall_of(approx, label, candidates):
        hit = exact.join(approx.select("q_id", "vec_id"),
                         ["q_id", "vec_id"]).count()
        out["paths"][label] = {
            "recall_at_k": round(hit / (n_q * k), 4),
            "mean_candidates_scored": round(candidates / n_q, 1),
            "corpus_fraction_scored": round(candidates / (n_q * n_corpus), 4),
        }

    # sign-LSH: candidates = same-bucket corpus rows per query
    for n_bits in (2, 4, 6):
        c = emb.select(S.sign_lsh_bucket(F.col("embedding"), n_bits)
                       .alias("bucket"))
        qb = q.select("q_id", S.sign_lsh_bucket(F.col("q_vec"), n_bits)
                      .alias("bucket"))
        cand = qb.join(c, "bucket").count()
        recall_of(S.signlsh_topk(emb, q, k=k, n_bits=n_bits),
                  f"signlsh_{n_bits}bit", cand)

    # IVF: candidates = rows in the nprobe probed cells per query
    for nprobe in (1, 2, 4, 8):
        c = emb.select(S.ivf_cell(F.col("embedding"), 8).alias("cell"))
        qc = q.select(
            "q_id",
            F.posexplode(S.ivf_cell_distances(F.col("q_vec"), 8))
        ).withColumnRenamed("pos", "cell") \
         .withColumn("rk", F.row_number().over(
             Window.partitionBy("q_id").orderBy(F.col("col").asc(),
                                                F.col("cell").asc()))) \
         .where(F.col("rk") <= nprobe).select("q_id", "cell")
        cand = qc.join(c, "cell").count()
        recall_of(S.ivf_topk(emb, q, k=k, n_cells=8, nprobe=nprobe),
                  f"ivf_nprobe{nprobe}", cand)

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
