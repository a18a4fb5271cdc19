"""Deterministic corpus sampling for training-data mixture building.

A training run consumes sources in configured proportions ("domain
mixture weights"). This operator materializes that mixture: for each
source stratum, take documents in a deterministic pseudo-random order
(the 60-bit md5 hash of the doc id — reproducible in any engine,
unlike rand()) until the stratum's token budget is exhausted.

Budgets are integer: budget(source) = (total_tokens(source) * pct) //
100, and the running total is a BIGINT window cumsum — so the selected
set is exactly reproducible cross-engine (the DuckDB oracle replays the
same arithmetic).

Scale note: the per-stratum cumsum window sorts each source inside one
task. With few huge strata, candidates can be pre-cut before the
window: approx-quantile the hash at the budget's expected row fraction,
keep rows below the cut plus a margin, and only THAT sliver enters the
window. The operator here keeps the exact single-window form; such a
pre-cut composes around it without changing selected rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from crawl4ai_spark.ops.text import hash64, tokens


def mixture_sample(docs: DataFrame, pct: Column,
                   text_col: str = "text", id_col: str = "doc_id",
                   strat_col: str = "source") -> DataFrame:
    """Select docs per source stratum up to (stratum tokens * pct)//100
    tokens, in hash-of-id order. ``pct`` is a Column (integer percent,
    may vary by row/source). Output: (doc_id, source, n_tokens,
    cum_tokens, budget_tokens) for SELECTED docs only."""
    d = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(strat_col).alias("source"),
        F.size(tokens(F.col(text_col))).cast("long").alias("n_tokens"),
        pct.cast("long").alias("pct"),
        hash64(F.col(id_col).cast("long").cast("string"), seed="mix")
        .alias("h"),
    )
    totals = d.groupBy("source").agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.max("pct").alias("pct"),
    ).select(
        "source",
        F.expr("(total_tokens * pct) div 100").alias("budget_tokens"),
    )
    w = Window.partitionBy("source").orderBy("h", "doc_id") \
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        d.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .join(F.broadcast(totals), "source")
        .where(F.col("cum_tokens") <= F.col("budget_tokens"))
        .select("doc_id", "source", "n_tokens", "cum_tokens",
                "budget_tokens")
    )


def pack_sequences(docs: DataFrame, capacity: int,
                   text_col: str = "text", id_col: str = "doc_id",
                   strat_col: str = "source") -> DataFrame:
    """Greedy sequence packing: within each stratum, in deterministic
    hash order, pack documents into context windows of ``capacity``
    tokens — the step between sampling and the trainer (a batch is a
    bin, bin_offset is where the doc's tokens start).

    The greedy fold ("start a new bin when the doc doesn't fit") is
    inherently sequential per stratum, so this is a legitimate
    applyInPandas case (vectorized per group, never per-row Python);
    strata are independent, so the shuffle is one exchange on the
    stratum key and packing parallelizes across strata. A doc longer
    than ``capacity`` gets a bin of its own (never split, never
    dropped). Output: (doc_id, source, n_tokens, bin_id, bin_offset).
    """
    import pandas as pd

    d = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(strat_col).alias("source"),
        F.size(tokens(F.col(text_col))).cast("long").alias("n_tokens"),
        hash64(F.col(id_col).cast("long").cast("string"), seed="mix")
        .alias("h"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["h", "doc_id"]).reset_index(drop=True)
        bins, offs = [], []
        b, cur = 0, 0
        for t in pdf["n_tokens"]:
            if cur > 0 and cur + t > capacity:
                b, cur = b + 1, 0
            bins.append(b)
            offs.append(cur)
            cur += t
        pdf["bin_id"], pdf["bin_offset"] = bins, offs
        return pdf[["doc_id", "source", "n_tokens", "bin_id", "bin_offset"]]

    schema = ("doc_id long, source string, n_tokens long, "
              "bin_id long, bin_offset long")
    return d.groupBy("source").applyInPandas(pack, schema)
