"""DFS deep-crawl compat mode — exact reference traversal, one page per step.

Re-expresses DFSDeepCrawlStrategy._arun_batch
(/root/reference/crawl4ai/deep_crawling/dfs_strategy.py:15-66) with the
inherited BFS link_discovery (bfs_strategy.py:68-140): a LIFO stack of
(url, parent, depth); each step pops one URL, crawls it, and pushes its
valid undiscovered links in reverse page order so the first-discovered
link is processed next (exact DFS preorder).

Semantics note (reference read literally vs as intended): the inherited
``link_discovery`` adds every discovered URL to ``visited`` at DISCOVERY
time (bfs_strategy.py:124 ``visited.add(base_url)``), while the DFS pop
re-checks ``if url in visited: continue`` (dfs_strategy.py:33) — taken
literally every pushed link is already visited when popped and only the
seed would ever be crawled. This engine implements the evident intent,
which the discovery-time add makes well-defined: each URL is discovered
(and pushed) AT MOST ONCE, with its sole discoverer as parent and its
discovery depth as depth; the pop-time check is then vacuous and the
traversal is the deterministic DFS preorder. max_pages truncates the
page's discovery list to remaining capacity in page order (the BFS
link_discovery capacity rule with no scorer), and the loop stops the
moment the budget is reached.

Scale posture, stated honestly: DFS is inherently sequential — the
reference awaits ``arun_many([url])`` one URL at a time — so a cluster
cannot parallelize the traversal itself and this mode exists for API
parity, not throughput (BFS / best-first are the cluster-shaped
strategies). Consequently the stack lives driver-side, exactly like the
reference's in-memory stack, bounded by the discovery frontier of a
sequential walk; unlike the reference it is checkpointed atomically
(the same atomic JSON replace as engine.tables) after
every step, so a killed DFS crawl resumes mid-traversal. The per-page
fetch+extract still runs through the same distributed fetcher +
``extract_pages`` pass as the BFS engine and appends to the same
``pages`` table, so every downstream query works unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from crawl4ai_spark.engine.tables import Warehouse, _load_json, _replace_json
from crawl4ai_spark.extraction.extract import extract_pages
from crawl4ai_spark.functions.urlnorm import (
    can_process_url,
    normalize_url_for_deep_crawl,
)


class DFSEngine:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: Warehouse,
        fetcher,
        max_depth: int = 3,
        max_pages: int | None = None,
        include_external: bool = False,
        max_steps: int | None = None,
    ):
        self.spark = spark
        self.wh = warehouse
        self.fetcher = fetcher
        self.max_depth = max_depth
        self.max_pages = max_pages
        self.include_external = include_external
        # step bound: pause the traversal after N pops WITHOUT changing
        # its semantics (unlike max_pages, which also truncates each
        # page's discovery to remaining capacity) — the checkpoint then
        # resumes mid-walk; used by tests and operational drills
        self.max_steps = max_steps
        self.t_pages = warehouse.table("pages")

    # -- driver-side checkpoint ---------------------------------------------
    @property
    def _state_path(self) -> str:
        return os.path.join(self.wh.root, "dfs_state.json")

    # ----------------------------------------------------------------------
    def run(self, seed: str) -> dict:
        spark = self.spark
        st = _load_json(self._state_path, None)
        if st is None:
            seed_norm = normalize_url_for_deep_crawl(seed, seed)
            st = {
                "stack": [[seed_norm, None, 0]],  # (url, parent, depth), top=end
                # discovery-time set, pre-seeded with the start URL: the
                # reference's pop-time visited.add (dfs_strategy.py:35)
                # protects the seed from re-crawl when a descendant links
                # back to it — unlike BFS, whose _arun_batch never adds the
                # seed (that quirk is kept in frontier.py, matching the
                # reference's asymmetry between the two strategies)
                "visited": [seed_norm],
                "crawled": 0,                      # successful fetches
                "step": 0,
                "pages": self.t_pages.snapshot_data(),
            }
            _replace_json(self._state_path, st)
        elif self.t_pages.snapshot_data() != st["pages"]:
            # a kill between the pages append and the checkpoint leaves
            # the table one step ahead — roll it back to the committed
            # step, exactly like CrawlEngine.resume_or_init
            self.t_pages.rollback_to(st["pages"])
        visited = set(st["visited"])
        crawled, step = st["crawled"], st["step"]
        # keep the tiny one-row jobs free of AQE re-plan boundaries, like
        # the BFS engine's small rounds; restored on exit
        aqe_key = "spark.sql.adaptive.enabled"
        orig_aqe = spark.conf.get(aqe_key, "true")
        spark.conf.set(aqe_key, "false")
        try:
            while st["stack"]:
                if self.max_pages is not None and crawled >= self.max_pages:
                    break
                if self.max_steps is not None and step >= self.max_steps:
                    break
                url, parent, depth = st["stack"].pop()
                # pop-time skip (dfs_strategy.py:33): vacuous under
                # discovery-time dedup, kept for defense in depth (a
                # hand-edited checkpoint could violate the invariant)
                if depth > self.max_depth:
                    continue

                row = spark.createDataFrame(
                    [(url, parent, int(depth))],
                    "url_norm string, parent_url string, depth int",
                )
                fetched = self.fetcher.fetch(row).withColumn(
                    "url", F.col("url_norm")
                )
                page = extract_pages(
                    fetched,
                    keep_cols=["url_norm", "depth", "parent_url",
                               "status_code", "fetch_ms", "success"],
                ).drop("url").withColumns(
                    {"round": F.lit(step), "score": F.lit(0.0)}
                ).persist()
                self.t_pages.append(page)
                meta = page.select("success", "links").collect()[0]
                page.unpersist()
                success = bool(meta["success"])
                if success:
                    crawled += 1

                # link_discovery (bfs_strategy.py:68-140), page order
                next_depth = depth + 1
                cap = (self.max_pages - crawled
                       if self.max_pages is not None else None)
                if success and next_depth <= self.max_depth and (
                        cap is None or cap > 0):
                    valid = []
                    for l in (meta["links"] or []):
                        u = l["url_norm"]
                        if u is None or (not l["internal"]
                                         and not self.include_external):
                            continue
                        if u in visited or not can_process_url(u):
                            continue
                        visited.add(u)
                        valid.append(u)
                    if cap is not None and len(valid) > cap:
                        valid = valid[:cap]
                    # reversed pushes: first-discovered link pops next
                    # (dfs_strategy.py:62-65)
                    for u in reversed(valid):
                        st["stack"].append([u, url, next_depth])

                step += 1
                st["visited"] = sorted(visited)
                st["crawled"], st["step"] = crawled, step
                st["pages"] = self.t_pages.snapshot_data()
                _replace_json(self._state_path, st)
        finally:
            spark.conf.set(aqe_key, orig_aqe)
        return {"pages_crawled": crawled, "steps": step}
