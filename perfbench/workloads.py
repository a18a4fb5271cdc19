"""The benchmark's workloads and the inputs they are built from.

Both workloads crawl the same 5,000-page synthetic web (webgen's link
DAG, see oracle.py). The ``--seed`` argument permutes which document
text lands on which page id before ``build_corpus``: the graph, page
counts and round counts stay fixed, and the program only ever receives
the generated documents.

The sizes are set by the run budget: every run pays a JVM start and a
full untimed warm-up pass before its timed pass, and on a 4-core host
each crawl round costs about 4-5 s however few pages it holds. Each
workload is therefore the smallest crawl that keeps the property that
defines it.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

N_DOCS = 5_000
N_SOURCES = 20
# Word pool and length range of the repository's `documents` test table
# (44-577 characters a document, about 300 on average).
VOCAB = ("a agg batch big column data fast filter group hash key line merge "
         "order part query row scan slow small sort spark stream table value "
         "window").split()
TEXT_POOL_SEED = 20_240_501


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    work: tuple[str, ...]     # layers that do most of the work
    bypass: tuple[str, ...]   # layers it does not reach (or barely)
    seeds: tuple[int, ...]    # seed page ids
    seed_table: bool          # seeds arrive as a materialised table
    max_depth: int
    host_budget: int
    # further CrawlConfig fields the workload sets; the rest keep the
    # engine's defaults
    config: dict = field(default_factory=dict)

    def crawl_config(self):
        from crawl4ai_spark.engine.frontier import CrawlConfig

        return CrawlConfig(max_depth=self.max_depth,
                           base_host_budget=self.host_budget, **self.config)

    def record(self) -> dict:
        return {"why": self.why, "work": list(self.work),
                "bypass": list(self.bypass)}


WORKLOADS = {
    w.name: w for w in (
        Workload(
            name="deep_crawl",
            why=("BFS from the single seed page to depth 1: 2 rounds, 5 "
                 "pages. Per-round fixed cost (driver planning, job launch, "
                 "table commits) is nearly all of the time."),
            work=("frontier", "tables.commit", "tables.read",
                  "politeness.plan", "fetch.plan"),
            bypass=("seen filter (stays below bloom_min_seen)",
                    "politeness deferral (budget 4000 never binds)",
                    "extract (5 pages)", "frontier.init seed table"),
            seeds=(0,), seed_table=False, max_depth=1, host_budget=4000,
        ),
        Workload(
            name="full_crawl",
            why=("Crawl to exhaustion from a 770-URL seed table: 2 rounds, "
                 "1,190 pages. Host budget 95 defers 105 seeds in round 0; "
                 "the seen filter builds after round 0, round 1 probes and "
                 "syncs it."),
            work=("extract", "tables.pages_write", "tables.state_write",
                  "politeness windows + deferral", "seen build/probe/sync",
                  "discover anti-join", "frontier.init seed table"),
            bypass=(),
            # seeds below 1251 link to 420 new pages; the lexically later
            # seeds from 1667 up fill each host's budget, and those past
            # it wait a round. Nothing crawled in round 1 links below
            # N_DOCS, so the crawl ends there.
            seeds=tuple(range(1111, 1251)) + tuple(range(1667, 2297)),
            seed_table=True, max_depth=1000, host_budget=95,
            config={"bloom_min_seen": 300, "bloom_sync_rounds": 1},
        ),
    )
}


def text_pool() -> list[str]:
    rng = random.Random(TEXT_POOL_SEED)
    return [" ".join(rng.choice(VOCAB) for _ in range(rng.randint(8, 96)))
            for _ in range(N_DOCS)]


def page_texts(seed: int) -> list[str]:
    """Document text of each page id: a fixed pool, permuted by seed, so
    every seed does the same amount of extraction work."""
    pool = text_pool()
    order = list(range(N_DOCS))
    random.Random(seed).shuffle(order)
    return [pool[j] for j in order]


def source_of(i: int) -> str:
    return f"src{i % N_SOURCES}"


def docs_frame(spark, texts: list[str]):
    """The `documents` shape build_corpus takes: (doc_id, text, source)."""
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame({
        "doc_id": range(len(texts)),
        "text": texts,
        "source": [source_of(i) for i in range(len(texts))],
    }))
