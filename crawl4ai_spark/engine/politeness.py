"""Per-host politeness as window functions + a host_state recurrence.

The reference serializes requests per domain with an adaptive delay
(RateLimiter, /root/reference/crawl4ai/async_dispatcher.py:28-85):
429/503 doubles the delay (capped, give-up after max_retries), success
decays it by x0.75 floored at the base. In a batch-iterative engine
"delay" becomes "fetch budget per round": the number of URLs a host may
fetch in one round is inversely proportional to its current delay.

    select:  row_number() OVER (PARTITION BY host ORDER BY
             eff_priority, depth, url_norm) <= host_budget
    backoff: rate-limited host  -> budget/2 (floor 1), fail_count+1
             clean host         -> budget*4/3 (cap base), fail_count=0
             fail_count > max_retries -> host dropped from frontier

Deferred rows stay in the frontier with wait_rounds+1; fairness mirrors
the dispatcher's re-prioritization (async_dispatcher.py:471-528): a row
waiting longer than `fairness_rounds` jumps the queue via a large
negative priority term.

Skew note (hub domains): the window partitions by host — a hub host
with 10^7 frontier rows would serialize one task, so the engine stores
the frontier salted (`pmod(xxhash64(host, salt), n_shards)`) and the
politeness window runs per (host) only AFTER a per-(host, salt)
pre-top-k prunes each salt bucket to `budget` rows: the global window
then sees at most budget*n_salts rows per host, never 10^7.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

RATE_LIMIT_CODES = (429, 503)


def select_fetch_batch(
    frontier: DataFrame,
    host_state: DataFrame | None,
    base_budget: int | None,
    global_budget: int | None = None,
    fairness_rounds: int = 5,
) -> DataFrame:
    """Marks each frontier row `selected` for this round's fetch.

    ``base_budget=None`` means no per-host politeness (pure BFS level
    semantics) and skips the window shuffles entirely.
    """
    f = frontier
    if host_state is not None:
        hs = host_state.select("host", "budget", "fail_count")
        f = f.join(F.broadcast(hs), "host", "left")
    else:
        f = f.withColumns(
            {"budget": F.lit(None).cast("int"), "fail_count": F.lit(0)}
        )

    # fairness: long-waiting rows jump the queue (async_dispatcher.py:217-226)
    f = f.withColumn(
        "eff_priority",
        F.when(
            F.col("wait_rounds") > fairness_rounds,
            F.lit(-1e9) - F.col("wait_rounds"),
        ).otherwise(F.col("priority") + F.col("retry_count")),
    )

    order = [F.col("eff_priority").asc(), F.col("depth").asc(), F.col("url_norm").asc()]

    # winners/flag joins key on the 64-bit url_hash when the frontier
    # carries one (8 bytes vs a long URL string — halves shuffle bytes
    # at 10^10-row frontier scale); url_norm is the fallback for bare
    # test frontiers. The frontier is deduped on url_norm upstream
    # (init_from_seed_df / _discover), so the join is one-to-one.
    key = "url_hash" if "url_hash" in frontier.columns else "url_norm"

    if base_budget is None:
        f = f.withColumns(
            {"budget": F.lit(None).cast("int"), "selected": F.lit(True)}
        )
    else:
        f = f.withColumn("budget", F.coalesce(F.col("budget"), F.lit(base_budget)))

        # Budget-fit bypass: a host whose entire frontier presence fits
        # its budget needs NO ordering at all — every row is selected.
        # In a real crawl that is the long tail of small hosts (and the
        # whole frontier early on), so the expensive part below only
        # ever touches genuinely contended hosts. One tiny count
        # aggregation (map-side combined) decides; AQE broadcasts the
        # over-budget host list when it is small.
        over = (
            f.groupBy("host")
            .agg(F.count(F.lit(1)).alias("__cnt"), F.first("budget").alias("__b"))
            .where(F.col("__cnt") > F.col("__b"))
            .select("host", F.lit(True).alias("__over"))
        )
        f = f.join(over, "host", "left")
        big = f.where(F.col("__over"))

        # Two-stage top-k prune computes the (small) winner set for the
        # contended hosts without ever running a whole-host window over
        # a hub host's 10^7 rows; the full frontier is then flagged by a
        # join against the winners, so non-selected rows are RETAINED as
        # deferred (they must survive into the next round, not be
        # silently dropped).

        # stage 1 — salt-local top-k caps hub-host partitions: the global
        # per-host window then sees at most budget*n_salts rows per host
        w_salt = Window.partitionBy("host", "salt").orderBy(*order)
        pruned = big.withColumn("__rs", F.row_number().over(w_salt)).where(
            F.col("__rs") <= F.col("budget")
        ).drop("__rs")

        # stage 2 — the politeness window proper, over survivors only
        w_host = Window.partitionBy("host").orderBy(*order)
        winners = (
            pruned.withColumn("__rh", F.row_number().over(w_host))
            .where(F.col("__rh") <= F.col("budget"))
            .select(key)
            # a url_hash can appear twice in the frontier (a deferred
            # seed rediscovered by link_discovery — the seed-quirk path);
            # winners must be distinct on the key or the flag-join below
            # multiplies those rows
            .distinct()
        )
        # winners is Σ over-host budgets at most — orders of magnitude
        # smaller than the frontier; AQE broadcasts it when it fits
        f = f.join(
            winners.withColumn("__sel", F.lit(True)), key, "left"
        ).withColumn(
            "selected",
            F.col("__over").isNull() | F.coalesce(F.col("__sel"), F.lit(False)),
        ).drop("__sel", "__over")

    if global_budget is not None:
        # best-first batch cap (bff_strategy.py:161-174): global top-N
        # over the per-host selections, tie-break (priority, depth, url)
        # per SURVEY §2.2 — sort-limit (TakeOrdered), never a
        # partition-less window
        top = (
            f.where("selected").orderBy(*order).limit(global_budget)
            .select(F.col(key).alias("__top_key")).distinct()
        )
        f = f.join(
            F.broadcast(top), f[key] == top["__top_key"], "left"
        ).withColumn(
            "selected", F.col("selected") & F.col("__top_key").isNotNull()
        ).drop("__top_key")
    return f


def update_host_state(
    fetched: DataFrame,
    host_state: DataFrame | None,
    base_budget: int,
    max_budget: int | None = None,
) -> DataFrame:
    """Round-close recurrence on fetch statuses (async_dispatcher.py:65-85)."""
    max_budget = max_budget or base_budget
    per_host = fetched.groupBy("host").agg(
        F.sum(
            F.when(F.col("status_code").isin(*RATE_LIMIT_CODES), 1).otherwise(0)
        ).alias("n_limited"),
        F.count(F.lit(1)).alias("n_fetched"),
    )
    if host_state is not None:
        merged = per_host.join(
            host_state.select("host", "budget", "fail_count"), "host", "full"
        )
    else:
        merged = per_host.withColumn("budget", F.lit(None).cast("int")).withColumn(
            "fail_count", F.lit(None).cast("int")
        )
    budget = F.coalesce(F.col("budget"), F.lit(base_budget))
    limited = F.coalesce(F.col("n_limited"), F.lit(0)) > 0
    return merged.select(
        "host",
        F.when(limited, F.greatest(F.lit(1), (budget / 2).cast("int")))
        .otherwise(F.least(F.lit(max_budget), (budget * 4 / 3 + 1).cast("int")))
        .alias("budget"),
        F.when(limited, F.coalesce(F.col("fail_count"), F.lit(0)) + 1)
        .otherwise(F.lit(0))
        .alias("fail_count"),
    )
