"""The batch-iterative crawl loop — the engine core.

One round == TWO writes (the Spark re-expression of
BFSDeepCrawlStrategy._arun_batch, /root/reference/crawl4ai/deep_crawling/
bfs_strategy.py:142-192, and BestFirstCrawlingStrategy._arun_best_first,
bff_strategy.py:129-213):

  write 1  PAGES: politeness/fairness windows select this round's fetch
           set -> robots gate -> fetch -> extract (one Arrow pass) ->
           append to `pages`. An attached Observation yields the
           round's success/failure counts and fetch-latency p50 inside
           the write, and every page row carries the spark_partition_id
           of the write task that committed it — per-partition fetch
           lineage that is exactly-once because it is committed data
           (the crawl_metrics query re-aggregates it). No counting jobs.
  write 2  STATE: link discovery (explode -> canonicalize -> filter ->
           score -> seen anti-join -> capacity cap) and the round-close
           state transition written as ONE tagged, partitioned write:
             tag=n  new frontier candidates (these SAME files are also
                    the seen-set delta — the seen table adopts them)
             tag=d  deferred (politeness) + rate-limit retries
             tag=h  per-host budget recurrence
           The frontier table adopts {n,d}, seen appends {n}, host_state
           adopts {h} — three tables, zero data rewrites (Iceberg
           AppendFiles semantics, tables.adopt_dirs). An Observation on
           the write yields the new-candidate count, the next frontier's
           size and minimum depth, and the new host_state's minimum
           budget, so the next round needs neither isEmpty() nor count().

Each write is one action but several Spark jobs: every broadcast
exchange (host_state, the politeness over-budget hosts and winners,
the corpus fetch join, the seen keys) and every shuffle stage AQE
re-plans launches its own job, so a small round runs about 8-9 jobs in
full. The round drops, at plan-build time, each branch that the last
write's Observation proves yields no rows:

  (a) politeness windows — when the frontier holds no more rows than
      the smallest budget any host can have (min of base_host_budget
      and the host_state budgets), no host can exceed its budget, so
      select_fetch_batch runs without per-host budgets (the host_state
      join, the fail_count drop, the memory gate and the best-first
      global cap stay);
  (b) link discovery — when min frontier depth + 1 > max_depth, every
      discovered link is too deep, so write 2 carries only tag d/h;
  (c) the seen anti-join — while nothing was ever added to seen.

Every fact is in the round record, so a resumed round plans exactly
like an uninterrupted one. Within a round, write 2 plans the rate-limit
retries only when write 1's Observation counted a 429/503 page, and
the politeness result is cached for write 2 only when it can hold
deferred rows.

Everything else is driver-side bookkeeping: the round's metrics row is
written with pyarrow (no job), and the round checkpoint is one JSON
record replaced by a rename.
The seen filter is maintained on an amortized schedule (see
below), adding ~1/bloom_sync_rounds of a job per round.

Determinism contract (SURVEY §2.2): per-depth crawled sets equal the
reference's; ties broken by (priority, depth, url_norm); first-discovery
parent refined to min(parent_url) among same-round discoverers.

Scale posture: frontier and seen are hash-distributed on xxhash64(url);
politeness windows are salted two-stage to survive hub-host skew; the
seen-set dedup is one exact anti-join whose seen side a partitioned
cuckoo filter (engine/cuckoo.py) narrows to the rows of maybe-seen
candidate keys plus the rounds it has not synced (only the candidates'
8-byte keys are probed); every `bloom_sync_rounds` rounds the filter
appends one immutable segment holding the seen DELTA since the last
sync, and once MAX_SEGMENTS are live the next sync merges them into one
build from the seen table; robots/host budgets broadcast; AQE handles
residual skew. seen_ttl_rounds recrawl scheduling is
metadata-only: expiry drops round dirs from the round-partitioned seen
table and whole expired segments from the filter.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass
from typing import Callable, Optional

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from crawl4ai_spark.engine.cuckoo import MAX_SEGMENTS, CuckooSeenSet
from crawl4ai_spark.engine.politeness import (
    RATE_LIMIT_CODES,
    select_fetch_batch,
    update_host_state,
)
from crawl4ai_spark.engine.robots import apply_robots_gate
from crawl4ai_spark.engine.tables import Warehouse
from crawl4ai_spark.extraction.extract import extract_pages
from crawl4ai_spark.functions.urlnorm import (
    normalize_url_for_deep_crawl,
    normalize_urls_udf,
    url_hash,
    url_host,
)

# AQE re-plans every exchange as its own driver-side query stage —
# valuable on production-size rounds (runtime broadcast, skew-join
# splitting over multi-GB shuffles) but pure fixed overhead on small
# ones, where each of the round's ~10 exchanges adds a re-plan pause
# and an extra job boundary. Rounds whose frontier is below this row
# count run with AQE off; larger rounds (and every other query on the
# session) keep the session's AQE setting. Sub-million-row shuffles
# are KBs-to-MBs per partition — nothing AQE can improve.
AQE_SMALL_ROUND_ROWS = 500_000


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
    # seen set: an exact anti-join whose seen side sharded cuckoo
    # filters (engine/cuckoo.py) narrow. A probe false positive only
    # keeps a seen row in that side and the filter has no false
    # negatives, so the crawled set never depends on it.
    n_shards: int = 32
    # the filter engages only once the exact seen set crosses this size
    # (it narrows a big anti-join; below this the anti-join is already
    # cheap and shard maintenance would be pure overhead).
    # On crossing, shards are bulk-built from the seen table once, each
    # sized for its own keys. Tests set 0 to engage it from round 0.
    bloom_min_seen: int = 50_000
    # the filter is synced every K rounds, appending one segment of the
    # rounds since the last sync; between syncs an exact anti-join
    # against the (small) seen delta of unsynced rounds keeps dedup
    # exact while amortizing the segment-write job to 1/K per round
    bloom_sync_rounds: int = 8
    # recrawl scheduling (default off): seen entries enqueued more than
    # this many rounds ago EXPIRE at the round close — an expired URL
    # that is rediscovered is crawled again. Expiry is a metadata-only
    # dir drop on the round-partitioned seen table (Iceberg DeleteFiles
    # shape — no rewrite job), and on the filter it drops every segment
    # whose newest round expired.
    seen_ttl_rounds: Optional[int] = None
    # loop control
    max_rounds: int = 1000
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

_state_struct_cache = None


def _round_of_dir(rel_dir: str) -> Optional[int]:
    """Round number of a seen-table data dir adopted from a per-round
    tagged state write (…/state/r000123/tag=n); None for non-round dirs
    (a d-… dir, e.g. the empty init snapshot older warehouses hold)."""
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
        # the seen filter; its table is named for the blob
        # schema, so a table of another layout is never read as this one
        self.t_bloom = warehouse.table("seen_cuckoo")
        self.bloom = CuckooSeenSet(self.t_bloom, self.cfg.n_shards)
        from crawl4ai_spark.engine.adaptive_state import AdaptiveState

        self.adaptive_state = AdaptiveState(warehouse)
        self._seen_count = 0
        self._bloom_synced_round = -1
        self._adaptive_last_round = -1
        # facts from the last state write's Observation, set by seed
        # init or restored from the round record: the frontier's row
        # count and minimum depth, and the smallest budget in host_state
        # (None while host_state is empty)
        self._frontier_count: int | None = None
        self._min_depth: int | None = None
        self._min_host_budget: int | None = None
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

    def _seen_rounds(self) -> list[tuple[str, int]]:
        """(data dir, round) of the seen table's live per-round dirs."""
        return [(d, r) for d in self.t_seen.snapshot_data()
                if (r := _round_of_dir(d)) is not None]

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
        """Small seed lists (the reference's entry shape), passed as an
        Arrow table: a local relation, whose rows live on the driver."""
        self.init_from_seed_df(self.spark.createDataFrame(
            pa.table({"url": pa.array(seeds, pa.string())})))

    def init_from_seed_df(self, seed_df: DataFrame, url_col: str = "url") -> None:
        """Canonicalize, dedupe and write the seeds as the depth-0
        frontier; seen starts empty.

        The rows of a local relation (a seed list, a pandas or Arrow
        table) already live on the driver: they are collected without a
        job, canonicalized by the same function the UDF applies and
        deduped in a set, so the frontier write is the only job — no
        Python stage, no shuffle. Any other seed table is canonicalized
        distributed via the vectorized UDF — a 10^10-URL seed list never
        exists driver-side (the reference's seeder feeds arun_many the
        same way, async_url_seeder.py -> async_webcrawler.py:653)."""
        self._seen_count = 0
        self._bloom_synced_round = -1
        self._min_depth = 0
        self._min_host_budget = None
        if seed_df.isLocal():
            urls = {n for (u,) in seed_df.select(url_col).collect()
                    if (n := normalize_url_for_deep_crawl(u, u)) is not None}
            df = self.spark.createDataFrame(
                pa.table({"url_norm": pa.array(sorted(urls), pa.string())}))
            n_seeds = len(urls)
        else:
            # spread seeds before the normalize UDF: seed tables often
            # arrive in few partitions (one sitemap file, one export),
            # which would serialize canonicalization into one task
            seed_df = seed_df.repartition(
                self.spark.sparkContext.defaultParallelism, F.col(url_col)
            )
            df = (
                seed_df.select(
                    normalize_urls_udf(F.col(url_col), F.col(url_col))
                    .alias("url_norm")
                )
                .where(F.col("url_norm").isNotNull())
                # seed tables routinely contain raw-URL duplicates that
                # canonicalize to one url_norm; without this the
                # duplicate frontier rows are all selected by the winners
                # join and per-host budgets overshoot in round 0
                .dropDuplicates(["url_norm"])
            )
            n_seeds = None
        df = df.withColumns({
            "depth": F.lit(0),
            "parent_url": F.lit(None).cast("string"),
            "score": F.lit(0.0),
            "retry_count": F.lit(0),
            "wait_rounds": F.lit(0),
        })
        frontier = self._to_state(self._frontier_row(df))
        if n_seeds is None:  # a seed table: count rows as they are written
            obs = Observation()
            self.t_frontier.overwrite(
                frontier.observe(obs, F.count(F.lit(1)).alias("n")))
            n_seeds = int(obs.get["n"])
        else:
            self.t_frontier.overwrite(frontier)
        self._frontier_count = n_seeds
        # reference quirk kept: `visited` starts EMPTY — seeds enter the
        # seen set only when (re)discovered by link_discovery
        # (bfs_strategy.py:152-156), so a seed linked from a deeper page
        # is re-crawled once, exactly like the reference. Emptying it is
        # a metadata commit: nothing reads seen before round 0 adopts
        # its first tag=n dir (rule c), which also pins its schema.
        self.t_seen.rollback_to([])

    # ------------------------------------------------------------------
    def resume_or_init(self, seeds: list[str] | None,
                       seed_df: DataFrame | None = None) -> tuple[int, int]:
        """Returns (next_round, pages_crawled_so_far); rolls tables back
        to the last committed round checkpoint if a crash left them
        ahead."""
        tables = [
            ("frontier", self.t_frontier), ("seen", self.t_seen),
            ("pages", self.t_pages), ("host_state", self.t_host),
            ("metrics", self.t_metrics), ("seen_bloom", self.t_bloom),
        ] + self.adaptive_state.tables
        last = self.wh.last_round()
        if last is None:
            # a crash before round 0's commit leaves the tables holding
            # that attempt's rows (host_state even points into the state
            # dir round 0 is about to overwrite): empty them with
            # metadata commits, no Spark job
            for _, tbl in tables:
                if tbl.snapshot_data():
                    tbl.rollback_to([])
            self.bloom.segments = []
            if seed_df is not None:
                self.init_from_seed_df(seed_df)
            else:
                self.init_from_seeds(seeds or [])
            return 0, 0
        try:
            nxt, crawled = last["round"] + 1, last["pages_crawled"]
            self._seen_count = last["seen_count"]
            self._bloom_synced_round = last["bloom_synced_round"]
            segments = last["bloom_segments"]
            self._frontier_count = last["frontier_count"]
            self._min_depth = last["min_depth"]
            self._min_host_budget = last["min_host_budget"]
            self._adaptive_last_round = last["adaptive_last_round"]
            want = {name: last["tables"][name] for name, _ in tables}
        except KeyError as e:
            raise ValueError(
                f"{self.wh.rounds_path}: round record has no {e}") from None
        if not all(os.path.isdir(os.path.join(self.t_bloom.path, d))
                   for d, _ in segments):
            # segment data lost: a missing segment would mark its keys
            # definitely-new and bypass the exact anti-join — a mass
            # re-crawl. Fall back to exact-only dedup and empty the
            # stale table; the filter rebuilds at its engage threshold.
            self._bloom_synced_round = -1
            want["seen_bloom"] = segments = []
        self.bloom.segments = segments
        for name, tbl in tables:
            if tbl.snapshot_data() != want[name]:
                tbl.rollback_to(want[name])
        return nxt, crawled

    # ------------------------------------------------------------------
    def run(self, seeds: list[str] | None = None,
            seed_df: DataFrame | None = None) -> dict:
        cfg = self.cfg
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
        # Coalescing stays off for the whole engine loop, seed init
        # included, so the seed dedup keeps its width too (round shuffle
        # widths are already bounded by n_part); skew-join splitting and
        # runtime broadcast — AQE's wins at scale — remain enabled.
        coal_key = "spark.sql.adaptive.coalescePartitions.enabled"
        orig_coal = self.spark.conf.get(coal_key, "true")
        try:
            self.spark.conf.set(coal_key, "false")
            # seed init has no join for AQE to re-plan, and with AQE on
            # each of its shuffles is a job of its own
            self.spark.conf.set(aqe_key, "false")
            start_round, crawled = self.resume_or_init(seeds, seed_df)
            stats = {"rounds": 0, "pages_crawled": crawled}
            for rnd in range(start_round, cfg.max_rounds):
                if cfg.max_pages is not None and crawled >= cfg.max_pages:
                    break
                if self._frontier_count == 0:
                    break
                small = self._frontier_count < AQE_SMALL_ROUND_ROWS
                want = "false" if small else orig_aqe
                if self.spark.conf.get(aqe_key) != want:
                    self.spark.conf.set(aqe_key, want)
                frontier = self.t_frontier.read(self.spark)
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
        # rule (a): a frontier no larger than the smallest budget any
        # host has cannot put a host over budget — skip the windows
        budgets = [cfg.base_host_budget]
        if host_state is not None:
            budgets.append(self._min_host_budget)
        fits = (None not in budgets
                and self._frontier_count <= min(budgets))
        base_budget = None if fits else cfg.base_host_budget
        marked = select_fetch_batch(
            live,
            host_state,
            base_budget=base_budget,
            global_budget=global_budget,
            fairness_rounds=cfg.fairness_rounds,
        )
        # drop hosts that exhausted retries entirely (RateLimiter gives up,
        # async_dispatcher.py:70-72)
        marked = marked.where(F.coalesce(F.col("fail_count"), F.lit(0)) <= cfg.max_retries)
        # scratch state: cache (recompute-on-loss is fine, it's derived
        # from the committed frontier) — write 1 reads `batch`, write 2
        # reads `deferred`; a parquet round-trip here would cost an extra
        # job. With neither a host budget nor a global cap every row is
        # selected, `deferred` is empty, and the cache would be dead.
        if base_budget is not None or global_budget is not None:
            marked = marked.persist()

        batch = marked.where("selected")
        deferred = marked.where(~F.col("selected")).withColumn(
            "wait_rounds", F.col("wait_rounds") + 1
        )

        # -- WRITE 1: gate + fetch + extract + pages append ----------------
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

        pages = extract_pages(fetched, keep_cols=carry).drop("url")

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
        # partition_id: the write task that commits each row — the
        # per-partition lineage, exactly-once because it is committed
        # data (a retried task's rows are discarded with its attempt)
        round_pages = round_pages.withColumns(
            {"round": F.lit(rnd), "partition_id": F.spark_partition_id()})

        # counts + latency p50 ride the write via Observation — the old
        # separate metrics-aggregation job is gone
        obs_pages = Observation()
        round_pages = round_pages.observe(
            obs_pages,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(~F.col("success"), 1).otherwise(0)).alias("n_failed"),
            F.expr("percentile_approx(fetch_ms, 0.5)").alias("p50"),
            F.sum(F.when(F.col("status_code").isin(*RATE_LIMIT_CODES), 1)
                  .otherwise(0)).alias("n_limited"),
        )
        rel = self.t_pages.append(round_pages)
        pm = obs_pages.get
        n_total = int(pm["n"] or 0)
        n_failed = int(pm["n_failed"] or 0)
        crawled = crawled_before + n_total - n_failed

        # downstream re-reads the materialized round from parquet: only
        # the dir this append committed, no listing of earlier rounds
        round_df = self.spark.read.schema(round_pages.schema).parquet(
            os.path.join(self.t_pages.path, rel))

        # -- WRITE 2: discovery + tagged state write -----------------------
        cands = self._discover(round_df, crawled)

        d_rows = deferred.select(*[f for f, _ in FRONTIER_FIELDS])
        if pm["n_limited"]:  # else no page of this round is retried
            retries = (
                round_df.where(F.col("status_code").isin(*RATE_LIMIT_CODES))
                .where(F.col("retry_count") < cfg.max_retries)
                .select(
                    "url_norm", "depth", "parent_url", "score",
                    (F.col("retry_count") + 1).alias("retry_count"),
                    F.lit(0).alias("wait_rounds"),
                )
            )
            d_rows = self._frontier_row(retries).unionByName(d_rows)
        state = self._to_state(d_rows).withColumn("tag", F.lit("d"))
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
            F.min(F.when(F.col("tag").isin("n", "d"), F.col("depth"))).alias("min_depth"),
            F.min(F.when(F.col("tag") == "h", F.col("budget"))).alias("min_budget"),
        )
        state_dir = self.wh.state_dir(rnd)
        state.write.partitionBy("tag").mode("overwrite").parquet(state_dir)
        sm = obs_state.get
        n_new = int(sm["n_new"] or 0)
        self._frontier_count = int(sm["n_frontier"] or 0)
        self._min_depth = sm["min_depth"]
        if sm["min_budget"] is not None:  # else host_state is unchanged
            self._min_host_budget = int(sm["min_budget"])
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

        # -- seen TTL expiry (recrawl scheduling; default off) --------------
        # The seen table holds exactly one round-stamped dir per round
        # that found new URLs, so expiry is a drop_dirs metadata commit
        # — no job — and so is dropping the filter segments whose
        # newest round expired with them.
        # _seen_count intentionally keeps the pre-expiry total: it only
        # gates the seen filter's engage threshold.
        if cfg.seen_ttl_rounds is not None:
            cutoff = rnd - cfg.seen_ttl_rounds
            expired_rel = [d for d, r in self._seen_rounds() if r <= cutoff]
            if expired_rel:
                self.t_seen.drop_dirs(expired_rel)
            self.bloom.expire(cutoff)

        # -- filter maintenance (amortized; exactness never depends on it)
        # A sync appends one segment holding the seen dirs of the rounds
        # since the last sync; with no such dir (no new URLs) it writes
        # nothing and launches no job. Past MAX_SEGMENTS live segments
        # the sync instead rebuilds one segment from the whole live seen
        # table, which also sheds expired segments' stale keys. The
        # filter is engaged while it has live segments; with none (all
        # expired, or a build over an empty seen table) the live seen
        # table is the unsynced delta, so plain exact dedup is the same.
        engaged = bool(self.bloom.segments)
        build_due = not engaged and self._seen_count >= cfg.bloom_min_seen
        if build_due or (
            engaged and rnd - self._bloom_synced_round >= cfg.bloom_sync_rounds
        ):
            live = self._seen_rounds()
            delta = [(d, r) for d, r in live if r > self._bloom_synced_round]
            if live and (build_due or (
                    delta and len(self.bloom.segments) >= MAX_SEGMENTS)):
                self.bloom.build(
                    self.spark,
                    self.t_seen.read(self.spark).select("url_hash"),
                    newest_round=max(r for _, r in live),
                )
            elif delta:
                paths = [os.path.join(self.t_seen.path, d) for d, _ in delta]
                self.bloom.add_hashes(
                    self.spark,
                    self.spark.read.schema(_state_struct()).parquet(*paths)
                    .select("url_hash"),
                    newest_round=max(r for _, r in delta),
                )
            self._bloom_synced_round = rnd

        # -- metrics (driver-side pyarrow append — no Spark job) ------------
        self.t_metrics.append_rows(
            [(rnd, n_total, n_failed, int(pm["p50"] or 0),
              time.monotonic() - t0)],
            _metrics_arrow_schema())

        # -- commit ----------------------------------------------------------
        self.wh.commit_round(
            {
                "round": rnd,
                "pages_crawled": crawled,
                "seen_count": self._seen_count,
                "frontier_count": self._frontier_count,
                "min_depth": self._min_depth,
                "min_host_budget": self._min_host_budget,
                "bloom_synced_round": self._bloom_synced_round,
                "bloom_segments": self.bloom.segments,
                "adaptive_last_round": self._adaptive_last_round,
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

    def _discover(self, round_df: DataFrame, crawled: int) -> DataFrame | None:
        """link_discovery (bfs_strategy.py:68-140) as DataFrame ops.
        Pure plan construction — no jobs, no side effects; the caller's
        tagged state write materializes it exactly once."""
        cfg = self.cfg
        if cfg.max_pages is not None and crawled >= cfg.max_pages:
            return None
        if self._min_depth + 1 > cfg.max_depth:
            # rule (b): every page of this round is at least min_depth
            # deep, so no link can be admitted — skip the pages re-scan
            # entirely
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

        # seen dedup: one exact anti-join on url_hash (computed in the
        # dedup agg's select above). With the filter engaged it narrows
        # only the seen side, in one scan, to the rows a candidate may
        # match: keys the probe reports maybe-seen, plus the rounds the
        # filter has not synced yet (it lags by < bloom_sync_rounds
        # rounds by design). A definitely-new candidate can then only
        # match the unsynced delta; the filter has no false negatives,
        # so dedup is exact every round while shard writes amortize.
        # rule (c): nothing was ever added to seen — no anti-join
        seen = self.t_seen.read(self.spark) if self._seen_count else None
        if seen is not None:
            seen_keys = seen.select("url_hash")
            if self.bloom.segments:
                maybe = self.bloom.probe(self.spark, cands).where("maybe_seen")
                seen_keys = (
                    seen.select("url_hash", "round")
                    .join(maybe, "url_hash", "left")
                    .where(F.col("maybe_seen")
                           | (F.col("round") > self._bloom_synced_round))
                    .select("url_hash")
                )
            cands = cands.join(seen_keys, "url_hash", "left_anti")

        # capacity cap by score desc (bfs_strategy.py:124-131): an exact
        # global top-k (TakeOrdered) at every size; url_norm is unique
        # after the dedup agg, so the order is total
        if cfg.max_pages is not None:
            remaining = max(0, cfg.max_pages - crawled)
            cands = cands.orderBy(
                F.col("score").desc(), F.col("depth").asc(),
                F.col("url_norm").asc(),
            ).limit(remaining)

        return cands.withColumns(
            {"retry_count": F.lit(0), "wait_rounds": F.lit(0)}
        )


def _metrics_arrow_schema():
    return pa.schema([
        pa.field("round", pa.int32()),
        pa.field("urls_processed", pa.int64()),
        pa.field("urls_failed", pa.int64()),
        pa.field("fetch_ms_p50", pa.int64()),
        pa.field("wall_s", pa.float64()),
    ])
