"""The batch-iterative crawl loop — the engine core.

One round == TWO Spark jobs (the Spark re-expression of
BFSDeepCrawlStrategy._arun_batch, /root/reference/crawl4ai/deep_crawling/
bfs_strategy.py:142-192, and BestFirstCrawlingStrategy._arun_best_first,
bff_strategy.py:129-213):

  job 1  PAGES: politeness/fairness windows select this round's fetch
         set -> robots gate -> fetch -> extract (one Arrow pass) ->
         append to `pages`. An attached Observation yields the round's
         success/failure counts and fetch-latency p50 inside the write;
         a per-partition accumulator in the extract stage yields the
         fetch-metric lineage rows. No counting jobs.
  job 2  STATE: link discovery (explode -> canonicalize -> filter ->
         score -> seen anti-join -> capacity cap) and the round-close
         state transition written as ONE tagged, partitioned write:
           tag=n  new frontier candidates (these SAME files are also
                  the seen-set delta — the seen table adopts them)
           tag=d  deferred (politeness) + rate-limit retries
           tag=h  per-host budget recurrence
         The frontier table adopts {n,d}, seen appends {n}, host_state
         adopts {h} — three tables, one job, zero data rewrites
         (Iceberg AppendFiles semantics, tables.adopt_dirs). An
         Observation on the write yields the new-candidate count and
         next-round frontier size, so the next round needs neither
         isEmpty() nor count().

Everything else is driver-side bookkeeping: metrics rows are written
with pyarrow (no job), and the round manifest commit is a JSON rename.
The seen-set pre-filter is maintained on an amortized schedule (see
below), adding ~1/bloom_sync_rounds of a job per round.

Determinism contract (SURVEY §2.2): per-depth crawled sets equal the
reference's; ties broken by (priority, depth, url_norm); first-discovery
parent refined to min(parent_url) among same-round discoverers.

Scale posture: frontier and seen are hash-distributed on xxhash64(url);
politeness windows are salted two-stage to survive hub-host skew; the
seen-set anti-join is pre-filtered by a partitioned cuckoo filter
(engine/cuckoo.py) so only (dups + FP) rows shuffle; the filter is
updated every `bloom_sync_rounds` rounds (an exact anti-join against
the small recent-rounds seen DELTA covers the gap, so exact-set
semantics hold at every round), sized from the live seen count, and
rebuilt at a round boundary when outgrown; robots/host budgets
broadcast; AQE handles residual skew. The cuckoo can delete, which
seen_ttl_rounds recrawl scheduling needs: expiry drops round dirs from
the round-partitioned seen table (metadata only) and deletes their
hashes from the filter shards.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from crawl4ai_spark.engine.cuckoo import CuckooSeenSet
from crawl4ai_spark.engine.politeness import (
    RATE_LIMIT_CODES,
    select_fetch_batch,
    update_host_state,
)
from crawl4ai_spark.engine.robots import apply_robots_gate
from crawl4ai_spark.engine.tables import Warehouse
from crawl4ai_spark.extraction.extract import extract_pages
from crawl4ai_spark.functions.urlnorm import url_host, url_hash


@dataclass
class CrawlConfig:
    max_depth: int = 3
    max_pages: Optional[int] = None          # successful fetches cap (bfs_strategy.py:87-91)
    mode: str = "bfs"                        # "bfs" | "best_first"
    batch_size: int = 10                     # best-first per-round cap (bff_strategy.py:19)
    include_external: bool = False
    score_threshold: float = float("-inf")
    # politeness
    base_host_budget: Optional[int] = None   # None -> unlimited per host
    max_host_budget: Optional[int] = None
    max_retries: int = 3                     # async_dispatcher.py:33
    fairness_rounds: int = 5
    n_salts: int = 8
    # seen set: an exact anti-join, pre-filtered by sharded cuckoo
    # filters (engine/cuckoo.py). Probe false positives fall through to
    # the exact anti-join and the filter has no false negatives, so the
    # crawled set never depends on it.
    n_shards: int = 32
    # the filter engages only once the exact seen set crosses this size
    # (it is a PRE-filter for a big anti-join; below this the anti-join
    # is already cheap and shard maintenance would be pure overhead).
    # On crossing, shards are bulk-built from the seen table once, sized
    # from the live count. Tests set 0 to engage it from round 0.
    bloom_min_seen: int = 50_000
    # filter shards are synced every K rounds; between syncs an exact
    # anti-join against the (small) seen delta of unsynced rounds keeps
    # dedup exact while amortizing the shard-write job to 1/K per round
    bloom_sync_rounds: int = 8
    # recrawl scheduling (default off): seen entries enqueued more than
    # this many rounds ago EXPIRE at the round close — an expired URL
    # that is rediscovered is crawled again. Expiry is a metadata-only
    # dir drop on the round-partitioned seen table (Iceberg DeleteFiles
    # shape — no rewrite job), and the expired hashes are DELETED from
    # the filter shards.
    seen_ttl_rounds: Optional[int] = None
    # capacity cap: below this `remaining`, exact global top-k
    # (TakeOrdered); above it, an approx-quantile score cut — an exact
    # remaining-sized heap per task is a scale hazard at 10^7+ remaining
    cap_exact_limit: int = 1_000_000
    # loop control
    max_rounds: int = 1000
    # AQE re-plans every exchange as its own driver-side query stage —
    # valuable on production-size rounds (runtime broadcast, skew-join
    # splitting over multi-GB shuffles) but pure fixed overhead on small
    # ones, where each of the round's ~10 exchanges adds a re-plan pause
    # and an extra job boundary. Rounds whose frontier is below this row
    # count run with AQE off; larger rounds (and every other query on
    # the session) keep the session's AQE setting. Sub-million-row
    # shuffles are KBs-to-MBs per partition — nothing AQE can improve.
    aqe_small_round_rows: int = 500_000
    # scoring/filtering: url Column -> Column
    scorer: Optional[Callable] = None
    url_filter: Optional[Callable] = None
    # contextual link scoring (link_preview.py:380-390 semantics): when
    # set, discovered candidates are head-peeked (via the fetcher's
    # corpus table when it has one) and prioritized by the reference's
    # combine — 0.7*intrinsic + 0.3*min(10*bm25_head_relevance, 10),
    # clamped to [0, 10]. Candidates whose head cannot be peeked fall
    # back to clamp(intrinsic), like links without head_data. Takes
    # precedence over `scorer`.
    link_query: Optional[list[str]] = None
    shuffle_partitions: Optional[int] = None
    # per-URL config routing (async_dispatcher.py:101-125): list of
    # config dicts with optional url_matcher globs; first match wins,
    # unmatched URLs are skipped. Pages carry the winning config_id.
    url_configs: Optional[list] = None
    # memory-adaptive intake gate (MemoryAdaptiveDispatcher,
    # async_dispatcher.py:148-216 via engine/dispatcher.MemoryGate):
    # dict with optional memory_threshold / critical_threshold /
    # recovery_threshold / wait_timeout_rounds / provider (a callable
    # spark -> percent; default reads driver-JVM heap). Under PRESSURE
    # the round's intake pauses (global budget 0 — every frontier row
    # defers with wait_rounds+1, so fairness stays honest); a sustained
    # >=threshold run past wait_timeout_rounds raises MemoryError like
    # the reference monitor. None = off. Gate state is ephemeral by
    # design: a resumed job re-derives it from fresh observations.
    memory_adaptive: Optional[dict] = None
    # adaptive stopping (AdaptiveCrawler.digest, adaptive_crawler.py:
    # 1325-1349 + should_stop :505-523): dict with `query_terms` plus
    # optional confidence_threshold (0.7), saturation_threshold (0.8),
    # check_every (rounds between confidence evaluations). None = off.
    # strategy="embedding" switches to EmbeddingStrategy's semantic-
    # coverage stop (ops/adaptive_embedding.py): keys `query` (string),
    # optional n_train/n_val/dim/min_confidence/min_rel_improvement/
    # validation_min.
    adaptive: Optional[dict] = None


FRONTIER_FIELDS = [
    ("url_norm", "string"),
    ("url_hash", "bigint"),
    ("host", "string"),
    ("path", "string"),
    ("depth", "int"),
    ("parent_url", "string"),
    ("score", "double"),
    ("priority", "double"),
    ("retry_count", "int"),
    ("wait_rounds", "int"),
    ("salt", "int"),
]

# Superset schema shared by every frontier/seen/host_state data dir so
# one tagged write can feed all three tables and mixed-dir reads never
# hit parquet schema-merge ambiguity. Parquet column pruning makes the
# unused columns free on each read path.
STATE_FIELDS = FRONTIER_FIELDS + [
    ("round", "int"),        # seen: enqueue round (filter delta granularity)
    ("budget", "int"),       # host_state
    ("fail_count", "int"),   # host_state
]

_SEEN_COLS = ["url_hash", "url_norm", "depth", "parent_url", "round"]

_state_struct_cache = None


def _round_of_dir(rel_dir: str) -> Optional[int]:
    """Round number of a seen-table data dir adopted from a per-round
    tagged state write (…/state/r000123/tag=n); None for non-round dirs
    (the empty init snapshot's d-… dir)."""
    for part in rel_dir.replace("\\", "/").split("/"):
        # r{rnd:06d} is a zero-padded MINIMUM: round >= 10^6 widens the
        # dir name, so parse 'r' + digits of any length >= 6 (an exact
        # ==7 check would silently stop TTL-expiring those dirs)
        if len(part) >= 7 and part[0] == "r" and part[1:].isdigit():
            return int(part[1:])
    return None


def _state_struct():
    """STATE_FIELDS as a StructType — the declared parquet schema of
    every tagged state dir, passed to adopt_dirs so the table read
    cache never re-reads footers AND never goes stale (tables.py)."""
    global _state_struct_cache
    if _state_struct_cache is None:
        from pyspark.sql import types as T

        _state_struct_cache = T.StructType.fromDDL(
            ", ".join(f"{n} {t}" for n, t in STATE_FIELDS)
        )
    return _state_struct_cache


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: Warehouse,
        fetcher,
        config: CrawlConfig | None = None,
        robots: DataFrame | None = None,
    ):
        self.spark = spark
        self.wh = warehouse
        self.fetcher = fetcher
        self.cfg = config or CrawlConfig()
        self.robots = robots
        self.t_frontier = warehouse.table("frontier")
        self.t_seen = warehouse.table("seen")
        self.t_pages = warehouse.table("pages")
        self.t_host = warehouse.table("host_state")
        self.t_metrics = warehouse.table("metrics")
        # the seen-set pre-filter; its table is named for the blob
        # schema, so a table of another layout is never read as this one
        self.t_bloom = warehouse.table("seen_cuckoo")
        self.bloom = CuckooSeenSet(self.t_bloom, self.cfg.n_shards)
        from crawl4ai_spark.engine.adaptive_state import AdaptiveState

        self.adaptive_state = AdaptiveState(warehouse)
        self._seen_count = 0
        self._bloom_built = False
        self._bloom_synced_round = -1
        self._adaptive_last_round = -1
        self._frontier_count: int | None = None  # from last write's Observation
        self._scratch: list[DataFrame] = []      # persisted intermediates
        self.memory_gate = None
        if self.cfg.memory_adaptive is not None:
            from crawl4ai_spark.engine.dispatcher import (
                CRITICAL_THRESHOLD, MEMORY_THRESHOLD, MemoryGate,
                RECOVERY_THRESHOLD,
            )

            ma = self.cfg.memory_adaptive
            self.memory_gate = MemoryGate(
                provider=ma.get("provider"),
                memory_threshold=ma.get("memory_threshold",
                                        MEMORY_THRESHOLD),
                critical_threshold=ma.get("critical_threshold",
                                          CRITICAL_THRESHOLD),
                recovery_threshold=ma.get("recovery_threshold",
                                          RECOVERY_THRESHOLD),
                wait_timeout_rounds=ma.get("wait_timeout_rounds"),
            )

    # ------------------------------------------------------------------
    def _to_state(self, df: DataFrame, rnd: int | None = None) -> DataFrame:
        """Project any frontier-shaped df into the shared state schema."""
        cols = []
        for name, typ in STATE_FIELDS:
            if name in df.columns:
                cols.append(F.col(name).cast(typ).alias(name))
            elif name == "round" and rnd is not None:
                cols.append(F.lit(rnd).cast(typ).alias(name))
            else:
                cols.append(F.lit(None).cast(typ).alias(name))
        return df.select(*cols)

    def _frontier_row(self, df: DataFrame) -> DataFrame:
        """Project a candidate df (url_norm, depth, parent_url, score)
        into the full frontier schema. One select, not a withColumn
        chain: every PySpark transformation is a py4j call plus an eager
        analyzer pass over the whole plan (~10-40 ms each on this class
        of driver), and this projection runs 2-3x per round — fused it
        costs one pass."""
        derived = {
            "url_hash": url_hash(F.col("url_norm")),
            "host": url_host(F.col("url_norm")),
            "path": F.coalesce(
                F.parse_url(F.col("url_norm"), F.lit("PATH")), F.lit("/")
            ),
            "priority": F.col("depth").cast("double") + F.col("score"),
            "retry_count": F.coalesce(F.col("retry_count"), F.lit(0)),
            "wait_rounds": F.coalesce(F.col("wait_rounds"), F.lit(0)),
            "salt": F.pmod(
                F.xxhash64(F.col("url_norm"), F.lit(7)), F.lit(self.cfg.n_salts)
            ).cast("int"),
        }
        return df.select(*[
            derived[f].alias(f) if f in derived else F.col(f)
            for f, _ in FRONTIER_FIELDS
        ])

    def init_from_seeds(self, seeds: list[str]) -> None:
        """Small seed lists (the reference's entry shape)."""
        self.init_from_seed_df(
            self.spark.createDataFrame([(u,) for u in seeds], "url string")
        )

    def init_from_seed_df(self, seed_df: DataFrame, url_col: str = "url") -> None:
        """Seed-table path: canonicalization runs distributed via the
        vectorized UDF — a 10^10-URL seed list never exists driver-side
        (the reference's seeder feeds arun_many the same way,
        async_url_seeder.py -> async_webcrawler.py:653)."""
        from crawl4ai_spark.functions.urlnorm import normalize_urls_udf

        self._seen_count = 0
        self._bloom_built = False
        self._bloom_synced_round = -1
        # spread seeds before the normalize UDF: seed tables often arrive
        # in few partitions (one sitemap file, one export), which would
        # serialize canonicalization into one task
        seed_df = seed_df.repartition(
            self.spark.sparkContext.defaultParallelism, F.col(url_col)
        )
        df = (
            seed_df.select(
                normalize_urls_udf(F.col(url_col), F.col(url_col)).alias("url_norm")
            )
            .where(F.col("url_norm").isNotNull())
            # seed tables routinely contain raw-URL duplicates that
            # canonicalize to one url_norm; without this the duplicate
            # frontier rows are all selected by the winners join and
            # per-host budgets overshoot in round 0
            .dropDuplicates(["url_norm"])
            .withColumns({
                "depth": F.lit(0),
                "parent_url": F.lit(None).cast("string"),
                "score": F.lit(0.0),
                "retry_count": F.lit(0),
                "wait_rounds": F.lit(0),
            })
        )
        # re-spread after the dedup shuffle: AQE would coalesce the
        # (byte-small, row-expensive) frontier to one partition, making
        # seeding AND round 0's scan serial — same parallelism floor as
        # _run_round
        df = df.repartition(
            self.spark.sparkContext.defaultParallelism, F.col("url_norm")
        )
        frontier = self._to_state(self._frontier_row(df))
        obs = Observation()
        self.t_frontier.overwrite(frontier.observe(obs, F.count(F.lit(1)).alias("n")))
        self._frontier_count = int(obs.get["n"])
        # reference quirk kept: `visited` starts EMPTY — seeds enter the
        # seen set only when (re)discovered by link_discovery
        # (bfs_strategy.py:152-156), so a seed linked from a deeper page
        # is re-crawled once, exactly like the reference.
        self.t_seen.overwrite(frontier.limit(0))

    # ------------------------------------------------------------------
    def resume_or_init(self, seeds: list[str] | None,
                       seed_df: DataFrame | None = None) -> tuple[int, int]:
        """Returns (next_round, pages_crawled_so_far); rolls tables back
        to the last committed round checkpoint if a crash left them
        ahead."""
        rounds = self.wh.read_rounds()
        committed = [r for r in rounds if r.get("committed")]
        if not committed:
            if seed_df is not None:
                self.init_from_seed_df(seed_df)
            else:
                self.init_from_seeds(seeds or [])
            return 0, 0
        last = max(committed, key=lambda r: r["round"])
        self._seen_count = last.get("seen_count", 0)
        self._bloom_built = last.get("bloom_built", False)
        self._bloom_synced_round = last.get("bloom_synced_round", -1)
        if self._bloom_built and (not self.t_bloom.exists()
                                  or not last.get("bloom_m_buckets")):
            # filter table absent or size unrecorded: an absent table
            # would mark every candidate definitely-new and bypass the
            # exact anti-join for synced rounds — a mass re-crawl — and
            # without its size capacity() is wrong. Fall back to
            # exact-only dedup and empty the stale table; the filter
            # rebuilds at its engage threshold.
            self._bloom_built = False
            self._bloom_synced_round = -1
            last["tables"]["seen_bloom"] = []
        self._frontier_count = last.get("frontier_count")
        if self._bloom_built:
            self.bloom.m_buckets = last["bloom_m_buckets"]
        self._adaptive_last_round = last.get("adaptive_last_round", -1)
        for name, tbl in [
            ("frontier", self.t_frontier), ("seen", self.t_seen),
            ("pages", self.t_pages), ("host_state", self.t_host),
            ("metrics", self.t_metrics), ("seen_bloom", self.t_bloom),
        ] + self.adaptive_state.tables:
            want = last["tables"].get(name)
            if want is not None and tbl.snapshot_data() != want:
                tbl.rollback_to(want)
        return last["round"] + 1, last["pages_crawled"]

    # ------------------------------------------------------------------
    def run(self, seeds: list[str] | None = None,
            seed_df: DataFrame | None = None) -> dict:
        cfg = self.cfg
        start_round, crawled = self.resume_or_init(seeds, seed_df)
        stats = {"rounds": 0, "pages_crawled": crawled}
        aqe_key = "spark.sql.adaptive.enabled"
        orig_aqe = self.spark.conf.get(aqe_key, "true")
        # AQE partition coalescing is byte-based and blind to per-row
        # PYTHON cost: a round's post-politeness shuffles carry ~100 B/
        # row, so AQE narrows them toward defaultParallelism — and the
        # fetch+extract chain (the round's dominant, pandas-UDF-heavy
        # stage) inherits that narrow layout, losing the width the
        # explicit url_hash repartition established. Measured on a
        # 1.6M-URL round at 2 executors x 8 cores via spark-submit:
        # heavy stage 23 -> 64 tasks, cold round 329 s -> 137 s.
        # Coalescing stays off for the whole engine loop (round shuffle
        # widths are already bounded by n_part); skew-join splitting and
        # runtime broadcast — AQE's wins at scale — remain enabled.
        coal_key = "spark.sql.adaptive.coalescePartitions.enabled"
        orig_coal = self.spark.conf.get(coal_key, "true")
        try:
            self.spark.conf.set(coal_key, "false")
            for rnd in range(start_round, cfg.max_rounds):
                if cfg.max_pages is not None and crawled >= cfg.max_pages:
                    break
                if self._frontier_count == 0:
                    break
                frontier = self.t_frontier.read(self.spark)
                if frontier is None:
                    break
                if self._frontier_count is None and frontier.isEmpty():
                    break  # only resumed-from-old-manifest paths pay this job
                small = (
                    self._frontier_count is not None
                    and self._frontier_count < cfg.aqe_small_round_rows
                )
                want = "false" if small else orig_aqe
                if self.spark.conf.get(aqe_key) != want:
                    self.spark.conf.set(aqe_key, want)
                crawled = self._run_round(rnd, frontier, crawled)
                stats["rounds"] += 1
                stats["pages_crawled"] = crawled
                if cfg.adaptive is not None:
                    every = cfg.adaptive.get("check_every", 1)
                    if (stats["rounds"] % every) == 0:
                        m = self._adaptive_metrics(rnd)
                        stats["adaptive"] = m
                        if self._adaptive_should_stop(m, crawled):
                            stats["stopped_by"] = m.get(
                                "stop_reason", "adaptive_confidence")
                            break
        finally:
            # the session is shared with non-engine queries — restore
            self.spark.conf.set(aqe_key, orig_aqe)
            self.spark.conf.set(coal_key, orig_coal)
        return stats

    def _adaptive_metrics(self, rnd: int) -> dict:
        """Confidence over everything crawled so far (page markdown is
        the knowledge-base text, like the reference's cleaned_html-fed
        corpus). Incremental: only the rounds since the last check are
        read and tokenized; the running term/round/sample state tables
        (engine/adaptive_state.py) carry everything older, so the check
        costs O(window delta) + O(vocab merge), not O(corpus)."""
        pages = self.t_pages.read(self.spark)
        delta = (
            pages.where("success")
            .where((F.col("round") > self._adaptive_last_round)
                   & (F.col("round") <= rnd))
            .select(
                F.col("url_norm").alias("doc_id"),
                url_hash(F.col("url_norm")).alias("url_hash"),
                F.coalesce(F.col("markdown"), F.lit("")).alias("text"),
                "round",
            )
        )
        a = self.cfg.adaptive
        if a.get("strategy") == "embedding":
            from crawl4ai_spark.ops import adaptive_embedding as ae

            dim = a.get("dim", 64)
            queries = ae.query_variations(
                self.spark, a["query"],
                n_train=a.get("n_train", 5), n_val=a.get("n_val", 2),
                dim=dim,
            )
            self.adaptive_state.update_embedding(
                self.spark, delta, queries, dim=dim)
            self._adaptive_last_round = rnd
            return self.adaptive_state.embedding_metrics(self.spark)
        self.adaptive_state.update(self.spark, delta)
        self._adaptive_last_round = rnd
        return self.adaptive_state.metrics(
            self.spark, self.cfg.adaptive["query_terms"]
        )

    def _adaptive_should_stop(self, m: dict, crawled: int = 0) -> bool:
        """Statistical strategy: should_stop (adaptive_crawler.py:
        505-523) — confidence OR saturation crossing its threshold
        stops the crawl (page/link exhaustion is already handled by the
        main loop). Embedding strategy: the convergence-plus-validation
        fold (should_stop :1090-1139, ops/adaptive_embedding.py)."""
        a = self.cfg.adaptive
        if a.get("strategy") == "embedding":
            from crawl4ai_spark.ops import adaptive_embedding as ae

            stop, reason = ae.should_stop_embedding(
                m["history"], m["val_score"], crawled,
                min_confidence=a.get("min_confidence", ae.MIN_CONFIDENCE),
                min_rel_improvement=a.get(
                    "min_rel_improvement", ae.MIN_REL_IMPROVEMENT),
                validation_min=a.get("validation_min", ae.VALIDATION_MIN),
            )
            if reason:
                m["stop_reason"] = reason
            return stop
        return (
            m["confidence"] >= a.get("confidence_threshold", 0.7)
            or m["saturation"] >= a.get("saturation_threshold", 0.8)
        )

    # ------------------------------------------------------------------
    def _run_round(self, rnd: int, frontier: DataFrame, crawled_before: int) -> int:
        cfg = self.cfg
        t0 = time.monotonic()
        # phase tracing (C4AS_TRACE=1): driver-side wall per round phase,
        # for separating job time from plan-compile/commit gaps
        if os.environ.get("C4AS_TRACE") == "1":
            _last = [t0]

            def _tr(label: str) -> None:
                now = time.monotonic()
                print(f"TRACE r{rnd} {label} {now - _last[0]:.2f}s", flush=True)
                _last[0] = now
        else:
            def _tr(label: str) -> None:
                pass
        frontier = frontier.select(*[f for f, _ in FRONTIER_FIELDS])
        # Parallelism floor for the Python-heavy fetch+extract chain.
        # Spark sizes scan partitions by BYTES, but a frontier row costs
        # ~1 page of fetch+extract CPU: a compact frontier file (a few
        # MB for 10^5 URLs) otherwise becomes ONE scan partition, and --
        # because the politeness flag-join and the corpus fetch are
        # broadcast joins that preserve the probe side's partitioning --
        # the whole round pipelines into ONE task. Hash-repartitioning
        # the (html-less, ~100 B/row) frontier here is a trivial shuffle
        # that keeps every downstream stage at full width.
        n_part = max(
            self.spark.sparkContext.defaultParallelism,
            int(self.spark.conf.get("spark.sql.shuffle.partitions", "200")),
        )
        frontier = frontier.repartition(n_part, F.col("url_hash"))

        # -- mark: politeness + fairness + retry-drop ----------------------
        live = frontier.where(F.col("retry_count") <= cfg.max_retries)
        host_state = self.t_host.read(self.spark)
        if host_state is not None:
            host_state = host_state.select("host", "budget", "fail_count")
        # best-first: batch = min(BATCH_SIZE, remaining) (bff_strategy.py:150-156);
        # BFS fetches whole levels — max_pages caps *discovery*, not the level
        # (bfs_strategy.py:160-174)
        global_budget = None
        if cfg.mode == "best_first":
            global_budget = cfg.batch_size
            if cfg.max_pages is not None:
                global_budget = min(global_budget, max(0, cfg.max_pages - crawled_before))
        # memory-adaptive intake gate: one monitor pass per round; under
        # PRESSURE this round fetches nothing (all rows defer and keep
        # their fairness clock running), mirroring the dispatcher's
        # paused slot-fill (async_dispatcher.py:410-411). Raises
        # MemoryError on a sustained over-threshold run.
        if self.memory_gate is not None and self.memory_gate.check(self.spark, rnd):
            global_budget = 0
        marked = select_fetch_batch(
            live,
            host_state,
            base_budget=cfg.base_host_budget,
            global_budget=global_budget,
            fairness_rounds=cfg.fairness_rounds,
        )
        # drop hosts that exhausted retries entirely (RateLimiter gives up,
        # async_dispatcher.py:70-72)
        marked = marked.where(F.coalesce(F.col("fail_count"), F.lit(0)) <= cfg.max_retries)
        # scratch state: cache (recompute-on-loss is fine, it's derived
        # from the committed frontier) — job 1 reads `batch`, job 2 reads
        # `deferred`; a parquet round-trip here would cost an extra job
        marked = marked.persist()

        batch = marked.where("selected")
        deferred = marked.where(~F.col("selected")).withColumn(
            "wait_rounds", F.col("wait_rounds") + 1
        )

        # -- JOB 1: gate + fetch + extract + pages append ------------------
        carry = ["url_norm", "host", "depth", "parent_url", "score",
                 "priority", "retry_count", "status_code", "fetch_ms", "success"]
        fetch_cols = ["url_norm", "host", "depth", "parent_url",
                      "score", "priority", "retry_count"]
        if cfg.url_configs is not None:
            from crawl4ai_spark.engine.routing import route_configs

            # first-match config per URL; unmatched URLs are skipped
            # (they leave the frontier unfetched, like the reference)
            batch = route_configs(batch, cfg.url_configs)
            carry.append("config_id")
            fetch_cols.append("config_id")
        if self.robots is None:
            to_fetch, denied = batch, None
        else:
            gated = apply_robots_gate(batch, self.robots)
            to_fetch = gated.where("robots_allowed")
            denied = gated.where(~F.col("robots_allowed"))

        fetched = self.fetcher.fetch(
            to_fetch.select(*fetch_cols)
        ).withColumn("url", F.col("url_norm"))

        part_acc = self.spark.sparkContext.accumulator({}, _PartMetricsAcc())
        pages = extract_pages(fetched, keep_cols=carry, metrics_acc=part_acc).drop("url")

        round_pages = pages
        if denied is not None:
            # one fused select, not a withColumn chain (each chained op
            # is a separate eager analyzer pass on the driver)
            denied_vals = {
                "status_code": F.lit(403),
                "fetch_ms": F.lit(0),
                "success": F.lit(False),
                "markdown": F.lit(None).cast("string"),
                "markdown_citations": F.lit(None).cast("string"),
                "references_md": F.lit(None).cast("string"),
            }
            for c in ("spans", "links", "media", "tables", "metadata"):
                denied_vals[c] = F.lit(None).cast(pages.schema[c].dataType)
            denied_pages = denied.select(*fetch_cols).select(*[
                denied_vals[c].alias(c) if c in denied_vals else F.col(c)
                for c in pages.columns
            ])
            round_pages = pages.unionByName(denied_pages)
        round_pages = round_pages.withColumn("round", F.lit(rnd))

        # counts + latency p50 ride the write via Observation — the old
        # separate metrics-aggregation job is gone
        obs_pages = Observation()
        round_pages = round_pages.observe(
            obs_pages,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(~F.col("success"), 1).otherwise(0)).alias("n_failed"),
            F.expr("percentile_approx(fetch_ms, 0.5)").alias("p50"),
        )
        _tr("plan_job1")
        self.t_pages.append(round_pages)
        _tr("job1_pages_write")
        pm = obs_pages.get
        n_total = int(pm["n"] or 0)
        n_failed = int(pm["n_failed"] or 0)
        n_success = n_total - n_failed
        crawled = crawled_before + n_success

        # downstream re-reads the materialized round from parquet
        round_df = self.t_pages.read(self.spark).where(F.col("round") == rnd)

        # -- JOB 2: discovery + tagged state write -------------------------
        cands = self._discover(round_df, crawled, rnd)

        retries = (
            round_df.where(F.col("status_code").isin(*RATE_LIMIT_CODES))
            .where(F.col("retry_count") < cfg.max_retries)
            .select(
                "url_norm", "depth", "parent_url", "score",
                (F.col("retry_count") + 1).alias("retry_count"),
                F.lit(0).alias("wait_rounds"),
            )
        )

        state = self._to_state(
            self._frontier_row(retries).unionByName(
                deferred.select(*[f for f, _ in FRONTIER_FIELDS])
            )
        ).withColumn("tag", F.lit("d"))
        if cands is not None:
            # A seed stays out of `seen` (reference quirk), so one that
            # is deferred/retried (tag=d) can be rediscovered as a tag=n
            # candidate in the same round — the frontier then briefly
            # holds two rows for one url_hash, exactly like the
            # reference queueing the seed twice. The politeness winners
            # joins are distinct-on-key (politeness.py) so the
            # duplicates never multiply; both rows are fetched, matching
            # the reference's re-crawl-once-on-rediscovery behavior.
            state = state.unionByName(
                self._to_state(self._frontier_row(cands), rnd=rnd)
                .withColumn("tag", F.lit("n"))
            )
        if cfg.base_host_budget is not None:
            hs = update_host_state(
                round_df.select("host", "status_code"),
                host_state,
                base_budget=cfg.base_host_budget,
                max_budget=cfg.max_host_budget,
            )
            state = state.unionByName(
                self._to_state(hs).withColumn("tag", F.lit("h"))
            )

        # the union of tag branches SUMS their partition counts (~4x the
        # session width of near-empty partitions at round tails), so the
        # tagged write would launch ~4x the tasks and write ~4x the
        # files the next round's scans re-open. coalesce is a narrow
        # merge back to session width — no shuffle, same parallelism.
        width = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        state = state.coalesce(width)
        obs_state = Observation()
        state = state.observe(
            obs_state,
            F.sum(F.when(F.col("tag") == "n", 1).otherwise(0)).alias("n_new"),
            F.sum(F.when(F.col("tag").isin("n", "d"), 1).otherwise(0)).alias("n_frontier"),
        )
        state_dir = self.wh.state_dir(rnd)
        _tr("plan_job2")
        state.write.partitionBy("tag").mode("overwrite").parquet(state_dir)
        _tr("job2_state_write")
        sm = obs_state.get
        n_new = int(sm["n_new"] or 0)
        self._frontier_count = int(sm["n_frontier"] or 0)
        self._seen_count += n_new

        tag_dirs = self.wh.existing_tag_dirs(state_dir)
        st_schema = _state_struct()
        self.t_frontier.adopt_dirs(
            [d for t, d in tag_dirs.items() if t in ("n", "d")],
            mode="overwrite", schema=st_schema,
        )
        if "n" in tag_dirs:
            self.t_seen.adopt_dirs(
                [tag_dirs["n"]], mode="append", schema=st_schema)
        if "h" in tag_dirs:
            self.t_host.adopt_dirs(
                [tag_dirs["h"]], mode="overwrite", schema=st_schema)

        marked.unpersist()
        for df in self._scratch:
            df.unpersist()
        self._scratch.clear()
        _tr("adopt_unpersist")

        # -- seen TTL expiry (recrawl scheduling; default off) --------------
        # The seen table holds exactly one round-stamped dir per round
        # (plus the empty init snapshot), so expiry is a drop_dirs
        # metadata commit — no job. _seen_count intentionally keeps the
        # pre-expiry total: it only gates/sizes the pre-filter, where an
        # overestimate is conservative (dead filter entries are FPs that
        # fall through to the now-clean exact anti-join).
        if cfg.seen_ttl_rounds is not None:
            cutoff = rnd - cfg.seen_ttl_rounds
            expired_rel = [
                d for d in self.t_seen.snapshot_data()
                if _round_of_dir(d) is not None and _round_of_dir(d) <= cutoff
            ]
            if expired_rel:
                if self._bloom_built:
                    # delete ONLY rounds the amortized sync has actually
                    # inserted (round <= _bloom_synced_round). Hashes
                    # from unsynced expired rounds were never added —
                    # and never will be, since their dirs drop below —
                    # and deleting a never-inserted key can strip a live
                    # key's colliding fingerprint (same 16-bit fp, same
                    # bucket orbit), the false negative the filter
                    # contract forbids.
                    synced = [d for d in expired_rel
                              if _round_of_dir(d) <= self._bloom_synced_round]
                    if synced:
                        exp = self.spark.read.parquet(*[
                            os.path.join(self.t_seen.path, d) for d in synced
                        ])
                        self.bloom.delete_hashes(
                            self.spark, exp.select("url_hash"))
                self.t_seen.drop_dirs(expired_rel)
        _tr("seen_ttl")

        # -- filter maintenance (amortized; exactness never depends on it)
        # The post-adoption seen read only happens on rounds that will
        # actually build/sync — a read costs real driver time (listing +
        # plan), and most rounds need none.
        if (
            (not self._bloom_built and self._seen_count >= cfg.bloom_min_seen)
            or (self._bloom_built
                and rnd - self._bloom_synced_round >= cfg.bloom_sync_rounds)
        ):
            seen_now = self.t_seen.read(self.spark)
            if not self._bloom_built and self._seen_count >= cfg.bloom_min_seen:
                if seen_now is not None:
                    self.bloom.build(
                        self.spark, seen_now.select("url_hash"),
                        expected_n=max(1, self._seen_count),
                    )
                self._bloom_built = True
                self._bloom_synced_round = rnd
            elif self._bloom_built and rnd - self._bloom_synced_round >= cfg.bloom_sync_rounds:
                if self._seen_count > self.bloom.capacity() and seen_now is not None:
                    # outgrown: rebuild larger at the round boundary
                    self.bloom.build(
                        self.spark, seen_now.select("url_hash"),
                        expected_n=self._seen_count,
                    )
                elif seen_now is not None:
                    delta = seen_now.where(F.col("round") > self._bloom_synced_round)
                    self.bloom.add_hashes(self.spark, delta.select("url_hash"))
                self._bloom_synced_round = rnd
        _tr("bloom")

        # -- metrics (driver-side pyarrow append — no Spark job) ------------
        wall = time.monotonic() - t0
        rows = [
            (rnd, int(pid), int(n), int(f), None, wall)
            for pid, (n, f) in sorted(part_acc.value.items())
        ]
        rows.append((rnd, -1, n_total, n_failed,
                     int(pm["p50"] or 0), wall))  # round summary row
        self.t_metrics.append_rows(rows, _metrics_arrow_schema())

        # -- commit ----------------------------------------------------------
        self.wh.commit_round(
            {
                "round": rnd,
                "pages_crawled": crawled,
                "n_success": n_success,
                "seen_count": self._seen_count,
                "frontier_count": self._frontier_count,
                "bloom_built": self._bloom_built,
                "bloom_synced_round": self._bloom_synced_round,
                "bloom_m_buckets": self.bloom.m_buckets,
                "adaptive_last_round": self._adaptive_last_round,
                "wall_s": time.monotonic() - t0,
                "tables": {
                    **{
                        "frontier": self.t_frontier.snapshot_data(),
                        "seen": self.t_seen.snapshot_data(),
                        "pages": self.t_pages.snapshot_data(),
                        "host_state": self.t_host.snapshot_data(),
                        "metrics": self.t_metrics.snapshot_data(),
                        "seen_bloom": self.t_bloom.snapshot_data(),
                    },
                    **{n: t.snapshot_data() for n, t in self.adaptive_state.tables},
                },
            }
        )
        _tr("metrics_commit")
        return crawled

    # ------------------------------------------------------------------
    def _contextual_score(self, cands: DataFrame) -> DataFrame:
        """Head-aware candidate priority (link_preview.py:380-390 +
        async_url_seeder BM25 scoring): intrinsic anchor quality from
        the winning discovery's (text, url, title), contextual relevance
        from a HEAD PEEK of the candidate target — parse its head, build
        the text context, BM25 against cfg.link_query over exactly this
        round's peeked set — combined 0.7/0.3 and clamped to [0, 10].

        Scale shape: the peek joins the corpus AGAINST THIS ROUND'S
        candidates (left-semi) before any head parsing, so per-round
        work is O(candidates), not O(corpus); BM25 is plan-only (no
        driver jobs, ops/bm25.py) so this whole method stays pure plan
        construction. Fetchers without a corpus table (live HTTP) yield
        null contextual -> clamp(intrinsic), the reference's behavior
        for links without head_data."""
        from crawl4ai_spark.extraction.headparse import head_relevance_scores
        from crawl4ai_spark.functions.linkscore import (
            link_intrinsic_score,
            total_link_score,
        )

        intr = link_intrinsic_score(
            F.col("ltext"), F.col("url_norm"), F.col("ltitle")
        )
        corpus = getattr(self.fetcher, "corpus", None)
        if corpus is not None:
            peek = corpus.select(
                F.col("__c_url").alias("url_norm"), "html"
            ).join(cands.select("url_norm"), "url_norm", "left_semi")
            rel = head_relevance_scores(
                peek, self.cfg.link_query, url_col="url_norm"
            )
            cands = cands.join(
                rel.select(F.col("url").alias("url_norm"),
                           F.col("relevance").alias("__ctx")),
                "url_norm", "left",
            )
        else:
            cands = cands.withColumn("__ctx", F.lit(None).cast("double"))
        score = F.when(
            F.col("__ctx").isNotNull(),
            total_link_score(intr, F.col("__ctx"), True, True),
        ).otherwise(total_link_score(intr, None, True, False))
        return cands.withColumn("score", score.cast("double")).drop(
            "__ctx", "ltext", "ltitle"
        )

    def _discover(self, round_df: DataFrame, crawled: int, rnd: int = 0) -> DataFrame | None:
        """link_discovery (bfs_strategy.py:68-140) as DataFrame ops.
        Pure plan construction — no jobs, no side effects; the caller's
        tagged state write materializes it exactly once."""
        cfg = self.cfg
        if cfg.max_pages is not None and crawled >= cfg.max_pages:
            return None
        if cfg.max_depth <= 0:
            # every frontier row is at depth >= 0, so discovery can never
            # admit a candidate — skip the pages re-scan entirely
            return None

        links = (
            round_df.where("success")
            .where(F.col("depth") + 1 <= cfg.max_depth)
            .select(
                F.col("url_norm").alias("parent_url"),
                (F.col("depth") + 1).alias("depth"),
                F.explode("links").alias("l"),
            )
        )
        if not cfg.include_external:
            links = links.where(F.col("l.internal"))
        link_cols = [F.col("l.url_norm").alias("url_norm"), "depth", "parent_url"]
        if cfg.link_query:
            # carry the winning discovery's anchor attributes — the
            # intrinsic half of the contextual priority needs them
            link_cols += [F.col("l.text").alias("ltext"),
                          F.col("l.title").alias("ltitle")]
        # null guard + URL validity (bfs_strategy.py:46-61, scheme +
        # dotted host) + user filter, fused into one predicate (one
        # driver-side analyzer pass instead of three)
        valid = F.col("url_norm").isNotNull() & F.col("url_norm").rlike(
            r"^https?://[^/]*\."
        )
        if cfg.url_filter is not None:
            valid = valid & cfg.url_filter(F.col("url_norm"))
        cands = links.select(*link_cols).where(valid)

        # intra-batch first-wins parent: deterministic refinement
        # min(depth, parent_url) as a PAIR (SURVEY §7.4) — independent
        # mins could pair min-depth with a parent from a deeper
        # discoverer in mixed-depth (best-first) rounds
        struct_cols = ["depth", "parent_url"]
        if cfg.link_query:
            struct_cols += ["ltext", "ltitle"]
        agg = cands.groupBy("url_norm").agg(
            F.min(F.struct(*struct_cols)).alias("dp")
        )
        cands = agg.select(
            "url_norm",
            url_hash(F.col("url_norm")).alias("url_hash"),
            *[F.col(f"dp.{c}").alias(c) for c in struct_cols],
        )

        # score + threshold (bfs_strategy.py:112-119); a configured
        # link_query switches to the reference's contextual priority
        if cfg.link_query:
            cands = self._contextual_score(cands)
        else:
            score = cfg.scorer(F.col("url_norm")) if cfg.scorer else F.lit(0.0)
            cands = cands.withColumn("score", score.cast("double"))
        if cfg.score_threshold != float("-inf"):
            cands = cands.where(F.col("score") >= cfg.score_threshold)

        # seen dedup. With the filter engaged: "maybe seen" rows get the
        # full exact anti-join; "definitely new" rows still anti-join the
        # SMALL unsynced-rounds delta (the filter lags by <=
        # bloom_sync_rounds rounds by design) — so dedup is exact every
        # round while shard writes amortize.
        # (url_hash already computed in the dedup agg's select above)
        seen = self.t_seen.read(self.spark)
        if self._bloom_built and seen is not None:
            probed = self.bloom.probe(self.spark, cands)
            fresh = probed.where(~F.col("maybe_seen")).drop("maybe_seen")
            maybe = probed.where(F.col("maybe_seen")).drop("maybe_seen")
            maybe = maybe.join(seen.select("url_hash"), "url_hash", "left_anti")
            if self._bloom_synced_round < rnd:
                delta = seen.where(
                    F.col("round") > self._bloom_synced_round
                ).select("url_hash")
                fresh = fresh.join(delta, "url_hash", "left_anti")
            cands = fresh.unionByName(maybe)
        elif seen is not None:
            cands = cands.join(seen.select("url_hash"), "url_hash", "left_anti")

        # capacity cap by score desc (bfs_strategy.py:124-131)
        if cfg.max_pages is not None:
            remaining = max(0, cfg.max_pages - crawled)
            order = [F.col("score").desc(), F.col("depth").asc(),
                     F.col("url_norm").asc()]
            if remaining <= cfg.cap_exact_limit:
                cands = cands.orderBy(*order).limit(remaining)
            else:
                # scale path: a remaining-sized TakeOrdered heap per task
                # is a non-starter at 10^7+; cut at the approximate score
                # quantile instead (documented approximation — only
                # reachable with max_pages > cap_exact_limit).
                # `score >= thr` alone is NOT a cap: every thr-tied row
                # survives, and with a constant/default scorer ALL rows
                # tie — so the cap must also sub-select the tied band.
                # Strictly-above rows all belong to the exact top-k; the
                # tied band is trimmed to the residual need either
                # exactly (small need: same (depth, url_norm) tie-break
                # as the exact path) or by a deterministic url_hash
                # quantile cut (huge need: no heap, overshoot bounded by
                # the sketch's 0.1% relative error instead of unbounded).
                cands = cands.persist()
                self._scratch.append(cands)  # unpersisted after the state write
                n_cand = cands.count()
                if n_cand > remaining:
                    q = 1.0 - remaining / n_cand
                    thr = cands.approxQuantile("score", [q], 0.001)[0]
                    above = cands.where(F.col("score") > thr)
                    tied = cands.where(F.col("score") == thr)
                    needed = remaining - above.count()
                    if needed <= 0:
                        cands = above
                    elif needed <= cfg.cap_exact_limit:
                        cands = above.unionByName(
                            tied.orderBy(F.col("depth").asc(),
                                         F.col("url_norm").asc()).limit(needed)
                        )
                    else:
                        n_tied = tied.count()
                        if n_tied > needed:
                            cut = tied.approxQuantile(
                                "url_hash", [needed / n_tied], 0.001
                            )[0]
                            tied = tied.where(F.col("url_hash") <= cut)
                        cands = above.unionByName(tied)

        return cands.withColumns(
            {"retry_count": F.lit(0), "wait_rounds": F.lit(0)}
        )


# ---------------------------------------------------------------------------
# per-partition fetch-metric lineage (north rule) without a metrics job
# ---------------------------------------------------------------------------

from pyspark.accumulators import AccumulatorParam  # noqa: E402


class _PartMetricsAcc(AccumulatorParam):
    """dict accumulator: partition_id -> (processed, failed); merged
    associatively on the driver as extract tasks complete."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for pid, (n, f) in b.items():
            pn, pf = a.get(pid, (0, 0))
            a[pid] = (pn + n, pf + f)
        return a


def _metrics_arrow_schema():
    import pyarrow as pa

    return pa.schema([
        pa.field("round", pa.int32()),
        pa.field("partition_id", pa.int32()),   # -1 == round summary row
        pa.field("urls_processed", pa.int64()),
        pa.field("urls_failed", pa.int64()),
        pa.field("fetch_ms_p50", pa.int64()),   # null on per-partition rows
        pa.field("wall_s", pa.float64()),
    ])
