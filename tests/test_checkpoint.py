"""The round checkpoint: one record, restored as a unit, and the lineage
it points at.

- A crash at any point of a round (after the pages append, after the
  state tables are adopted, inside the checkpoint commit) resumes in a
  fresh engine to exactly the uninterrupted crawl's tables, with no
  page row twice.
- The checkpoint file holds the last committed round's record and
  nothing else; a file this engine cannot read is refused by name.
- Per-partition lineage is the pages write's ``partition_id`` column,
  exactly-once under a task retry: a crawl whose fetch task fails once
  commits the clean run's pages, and each round's (round, partition_id)
  counts sum to its metrics row.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

import crawl4ai_spark.engine.tables as tables_mod
from crawl4ai_spark.corpus.fakeshop import fakeshop_spark_df
from crawl4ai_spark.engine.cuckoo import CuckooSeenSet
from crawl4ai_spark.engine.fetch import CorpusFetcher
from crawl4ai_spark.engine.frontier import STATE_FIELDS, CrawlConfig, CrawlEngine
from crawl4ai_spark.engine.tables import Warehouse

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEED = "http://shop0.fakeshop.test/index.html"
# levels of 1, 3, 7 and 12 pages; the budget defers 4 depth-3 pages to a
# fifth round; the filter is built at round 0's close and synced every
# round, so round 1 appends a segment
CFG = dict(max_depth=3, base_host_budget=8, bloom_min_seen=2,
           bloom_sync_rounds=1, n_shards=4)
# what resume reads, and all the record holds
RECORD_KEYS = {
    "round", "pages_crawled", "seen_count", "frontier_count", "min_depth",
    "min_host_budget", "bloom_synced_round",
    "bloom_segments", "adaptive_last_round", "tables",
}


def _engine(spark, wh_dir):
    corpus = fakeshop_spark_df(spark, n_sites=1, n_categories=3, n_subcats=2,
                               n_products=2)
    return CrawlEngine(spark, Warehouse(wh_dir), CorpusFetcher(corpus),
                       CrawlConfig(**CFG))


def _tables(eng, spark):
    """Every table resume restores, as sorted row lists."""
    state_cols = [f for f, _ in STATE_FIELDS]
    out = {}
    for name, t, cols in [
        ("pages", eng.t_pages, ["url_norm", "depth", "parent_url", "round",
                                "partition_id", "status_code", "success"]),
        ("seen", eng.t_seen, state_cols),
        ("frontier", eng.t_frontier, state_cols),
        ("host_state", eng.t_host, ["host", "budget", "fail_count"]),
        ("metrics", eng.t_metrics, ["round", "urls_processed", "urls_failed",
                                    "fetch_ms_p50"]),
    ]:
        df = t.read(spark)
        out[name] = [] if df is None else sorted(
            tuple(r) for r in df.select(*cols).collect())
    return out


@pytest.fixture(scope="module")
def uninterrupted(spark, tmp_path_factory):
    eng = _engine(spark, str(tmp_path_factory.mktemp("full")))
    stats = eng.run([SEED])
    assert stats["rounds"] == 5
    return eng, _tables(eng, spark)


def test_checkpoint_holds_only_the_last_round(uninterrupted):
    eng, _ = uninterrupted
    with open(eng.wh.rounds_path) as f:
        rec = json.load(f)
    assert isinstance(rec, dict)
    assert rec == eng.wh.last_round()
    assert rec["round"] == 4
    assert set(rec) == RECORD_KEYS
    assert rec["tables"]["pages"] == eng.t_pages.snapshot_data()


def _crash_after_pages_append(monkeypatch, eng):
    append = eng.t_pages.append
    calls = []

    def append_then_crash(df):
        rel = append(df)
        calls.append(rel)
        if len(calls) == 2:  # round 1
            raise RuntimeError("crash")
        return rel

    monkeypatch.setattr(eng.t_pages, "append", append_then_crash)


def _crash_in_filter_sync(monkeypatch, eng):
    add_hashes = CuckooSeenSet.add_hashes

    def crash_in_round1(self, spark, hashes_df, newest_round):
        if newest_round == 1:
            raise RuntimeError("crash")
        return add_hashes(self, spark, hashes_df, newest_round)

    monkeypatch.setattr(CuckooSeenSet, "add_hashes", crash_in_round1)


def _crash_in_commit(monkeypatch, eng):
    replace = tables_mod._replace_json

    def torn_commit(path, obj):
        if path == eng.wh.rounds_path and obj["round"] == 1:
            with open(path + ".tmp-torn", "w") as f:
                f.write(json.dumps(obj)[:40])  # killed mid-write
            raise RuntimeError("crash")
        replace(path, obj)

    monkeypatch.setattr(tables_mod, "_replace_json", torn_commit)


@pytest.mark.parametrize("crash", [
    _crash_after_pages_append, _crash_in_filter_sync, _crash_in_commit,
], ids=["after_pages_append", "after_state_adopt", "inside_commit"])
def test_crash_in_round1_resumes_exactly(spark, tmp_path, monkeypatch,
                                         uninterrupted, crash):
    _, want = uninterrupted
    wh_dir = str(tmp_path / "wh")
    eng = _engine(spark, wh_dir)
    crash(monkeypatch, eng)
    with pytest.raises(RuntimeError, match="crash"):
        eng.run([SEED])
    monkeypatch.undo()
    assert Warehouse(wh_dir).last_round()["round"] == 0

    resumed = _engine(spark, wh_dir)
    resumed.run([SEED])
    got = _tables(resumed, spark)
    assert got == want
    assert len(set(got["pages"])) == len(got["pages"])


def test_unreadable_checkpoint_is_refused(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    eng = CrawlEngine(spark, wh, None, CrawlConfig())
    # the per-round list older engines wrote
    with open(wh.rounds_path, "w") as f:
        json.dump([{"round": 0}], f)
    with pytest.raises(ValueError, match="round_manifest.json"):
        eng.resume_or_init([SEED])
    # a record without a fact resume reads
    with open(wh.rounds_path, "w") as f:
        json.dump({"round": 0, "pages_crawled": 1}, f)
    with pytest.raises(ValueError, match="round_manifest.json.*seen_count"):
        eng.resume_or_init([SEED])


# -- exactly-once lineage under a task retry ---------------------------------

_RETRY_SCRIPT = r'''
import json, os, sys

from pyspark import TaskContext

from crawl4ai_spark.corpus.fakeshop import fakeshop_spark_df
from crawl4ai_spark.engine.fetch import CorpusFetcher
from crawl4ai_spark.engine.frontier import CrawlConfig, CrawlEngine
from crawl4ai_spark.engine.tables import Warehouse
from crawl4ai_spark.session import build_session

work = sys.argv[1]
flag = os.path.join(work, "failed")
spark = build_session(master="local[2,2]", shuffle_partitions=2)
corpus = fakeshop_spark_df(spark, n_sites=1, n_categories=3, n_subcats=2,
                           n_products=2)


class FailOnce:
    """Fails attempt 0 of partition 0 of the first fetch task to run."""

    def __init__(self, inner):
        self.inner = inner

    def fetch(self, df):
        out = self.inner.fetch(df)

        def fail_once(batches):
            tc = TaskContext.get()
            if (tc.partitionId() == 0 and tc.attemptNumber() == 0
                    and not os.path.exists(flag)):
                open(flag, "w").close()
                raise RuntimeError("injected task failure")
            yield from batches

        return out.mapInPandas(fail_once, out.schema)


def crawl(name, fetcher):
    eng = CrawlEngine(spark, Warehouse(os.path.join(work, name)), fetcher,
                      CrawlConfig(max_depth=2))
    eng.run(["http://shop0.fakeshop.test/index.html"])
    pages = eng.t_pages.read(spark)
    rows = [list(r) for r in pages.select(
        "url_norm", "depth", "parent_url", "round", "status_code",
        "success").collect()]
    parts = {}
    for r in pages.groupBy("round", "partition_id").count().collect():
        assert r["partition_id"] is not None
        parts[r["round"]] = parts.get(r["round"], 0) + r["count"]
    metrics = {r["round"]: r["urls_processed"]
               for r in eng.t_metrics.read(spark).collect()}
    return sorted(rows), parts, metrics


clean, _, _ = crawl("clean", CorpusFetcher(corpus))
faulty, parts, metrics = crawl("faulty", FailOnce(CorpusFetcher(corpus)))
print(json.dumps({"clean": clean, "faulty": faulty, "parts": parts,
                  "metrics": metrics, "failed": os.path.exists(flag)}))
'''


def test_task_retry_commits_lineage_once(tmp_path):
    env = {**os.environ, "PYTHONPATH": REPO, "SPARK_DRIVER_MEM": "1g"}
    out = subprocess.run(
        [sys.executable, "-c", _RETRY_SCRIPT, str(tmp_path)], cwd=tmp_path,
        env=env, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["failed"]  # the retry really happened
    assert res["faulty"] == res["clean"]
    assert len({tuple(r) for r in res["faulty"]}) == len(res["faulty"])
    assert res["parts"] == res["metrics"]
    assert sum(res["metrics"].values()) == len(res["faulty"])
