"""Frontier scale-stress: a degenerate hub host at 10^7-10^8 candidates.

SURVEY §7.4 names hub-host skew as THE frontier hazard at 10^10-URL
scale: one host holding >=10% of all candidates serializes any naive
per-host politeness window into a single task. This tool synthesizes
exactly that shape and demonstrates, with partition-level evidence,
that the engine's salted two-stage top-k path (engine/politeness.py
select_fetch_batch) survives it:

  1. frontier: N candidates, `hub_pct`% on ONE host, the rest spread
     over a ~200k-host long tail (every tail host fits its budget ->
     the budget-fit bypass covers them; ONLY the hub walks the salted
     path, which the report proves from the over-budget host list);
  2. stage-1 window partitions are (host, salt): the report measures
     the actual max rows any window partition sees — hub_rows/n_salts,
     NOT hub_rows;
  3. stage-2 sees at most budget*n_salts rows for the hub (measured);
  4. selected counts are exact: hub == budget, tail == all.

The seen filter's build, add, probe, FP/FN and TTL costs are measured
by tools/seen_scale_stress.py.

Usage:
  python tools/frontier_stress.py [N] [hub_pct] [budget] [n_salts] [cpus]
Defaults: 10_000_000 12 2000 8 $SPARK_GRAFT_CPUS|host CPUs

Prints one JSON line (machine-readable; BENCH.md quotes it).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def synth_frontier(spark, n: int, hub_pct: int, n_salts: int, width: int):
    """N frontier rows; ids with (id % 100) < hub_pct land on the hub
    host. Columns match the engine's frontier schema subset that
    select_fetch_batch consumes. Generated executor-side from
    spark.range — nothing materializes on the driver."""
    hub = F.col("id") % 100 < hub_pct
    host = F.when(hub, F.lit("hub.example.com")).otherwise(
        F.format_string("site%d.example.com", F.col("id") % 200003)
    )
    url = F.format_string("https://%s/page/%d", host, F.col("id"))
    return (
        spark.range(n).repartition(width)
        .select(
            url.alias("url_norm"),
            F.xxhash64(url).alias("url_hash"),
            host.alias("host"),
            F.lit(1).alias("depth"),
            (F.col("id") % 997).cast("double").alias("priority"),
            F.lit(0).alias("retry_count"),
            F.lit(0).alias("wait_rounds"),
            # the engine's salt assignment (frontier.py _frontier_row)
            F.pmod(F.xxhash64(url, F.lit(7)), F.lit(n_salts)).cast("int")
            .alias("salt"),
        )
    )


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    hub_pct = int(sys.argv[2]) if len(sys.argv) > 2 else 12
    budget = int(sys.argv[3]) if len(sys.argv) > 3 else 2000
    n_salts = int(sys.argv[4]) if len(sys.argv) > 4 else 8

    from crawl4ai_spark.engine.politeness import select_fetch_batch
    from crawl4ai_spark.session import build_session, host_cpus

    cpus = sys.argv[5] if len(sys.argv) > 5 else (
        os.environ.get("SPARK_GRAFT_CPUS") or str(host_cpus()))

    spark = build_session(app_name="frontier-stress",
                          master=f"local[{cpus}]",
                          shuffle_partitions=int(cpus))
    spark.sparkContext.setLogLevel("ERROR")
    width = int(cpus)

    frontier = synth_frontier(spark, n, hub_pct, n_salts, width).persist()
    n_actual = frontier.count()  # materialize outside the timed sections

    report: dict = {
        "metric": "frontier_hub_skew_stress",
        "n_candidates": n_actual,
        "hub_pct": hub_pct,
        "budget": budget,
        "n_salts": n_salts,
        "cpus": int(cpus),
    }

    # -- politeness under skew ------------------------------------------
    t0 = time.monotonic()
    marked = select_fetch_batch(frontier, host_state=None,
                                base_budget=budget)
    sel = marked.groupBy("host").agg(
        F.sum(F.col("selected").cast("long")).alias("n_sel"),
        F.count(F.lit(1)).alias("n_rows"),
    ).persist()
    hub_row = sel.where(F.col("host") == "hub.example.com").first()
    totals = sel.agg(
        F.sum("n_sel").alias("sel"),
        F.sum(F.least(F.col("n_rows"), F.lit(budget))).alias("want"),
        F.max(F.when(F.col("host") != "hub.example.com", F.col("n_rows")))
        .alias("max_tail_rows"),
    ).first()
    politeness_s = time.monotonic() - t0
    # over-budget hosts = the set that walks the salted path
    over_hosts = int(sel.where(F.col("n_rows") > budget).count())
    # stage-1 window partition bound: max rows in any (host, salt) group
    s1 = frontier.groupBy("host", "salt").count().agg(
        F.max("count")).first()[0]
    report.update({
        "politeness_wall_s": round(politeness_s, 2),
        "hub_rows": int(hub_row.n_rows),
        "hub_selected": int(hub_row.n_sel),
        "selected_total": int(totals.sel),
        "selected_expected": int(totals.want),
        "over_budget_hosts": over_hosts,
        "max_tail_host_rows": int(totals.max_tail_rows),
        "stage1_max_window_rows": int(s1),
        "stage2_max_window_rows": budget * n_salts,
        "selected_exact": bool(
            int(hub_row.n_sel) == budget and int(totals.sel) == int(totals.want)
        ),
        "salted_path_engaged": over_hosts >= 1,
    })
    sel.unpersist()

    # -- plan evidence: both window stages present, keyed as designed ---
    plan = marked._jdf.queryExecution().executedPlan().toString()
    report["plan_has_salted_window"] = (
        "host" in plan and plan.count("Window") >= 2
    )

    frontier.unpersist()
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
