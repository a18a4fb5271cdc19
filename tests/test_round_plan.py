"""Plan-time pruning of a crawl round, and the facts it is planned from.

A round leaves out each plan branch that the previous state write's
Observation proves yields no rows: the politeness windows when no host
can exceed its budget (a), link discovery when every page is at
max_depth (b), and the seen anti-join while seen is empty (c). These
tests pin that the pruned crawl is the same crawl: a rate-limited host
through the whole engine, and a resume that must carry the facts.
Also here: seed init canonicalizes a seed list on the driver (no
Python stage, no shuffle) and a seed table in one Python stage, both to
the same frontier, and the first append into an empty snapshot table
pins its read schema.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import crawl4ai_spark.engine.frontier as frontier_mod
from crawl4ai_spark.corpus.fakeshop import fakeshop_spark_df
from crawl4ai_spark.engine.fetch import CorpusFetcher
from crawl4ai_spark.engine.frontier import CrawlConfig, CrawlEngine
from crawl4ai_spark.engine.tables import SnapshotTable, Warehouse, _nullable
from crawl4ai_spark.functions.urlnorm import normalize_url_for_deep_crawl

SEED = "http://shop0.fakeshop.test/index.html"


@pytest.fixture
def plan_log(monkeypatch):
    """Per round: the base_budget select_fetch_batch was called with,
    and whether _discover left discovery out."""
    log = {"budget": [], "no_discovery": []}
    select = frontier_mod.select_fetch_batch
    discover = CrawlEngine._discover

    def spy_select(*a, **kw):
        log["budget"].append(kw["base_budget"])
        return select(*a, **kw)

    def spy_discover(self, round_df, crawled):
        out = discover(self, round_df, crawled)
        log["no_discovery"].append(out is None)
        return out

    monkeypatch.setattr(frontier_mod, "select_fetch_batch", spy_select)
    monkeypatch.setattr(CrawlEngine, "_discover", spy_discover)
    return log


def _norm(u):
    return normalize_url_for_deep_crawl(u, u)


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _state(eng, spark):
    """pages, seen, frontier and host_state as sorted row multisets."""
    state_cols = [f for f, _ in frontier_mod.STATE_FIELDS]
    out = {}
    for name, t, cols in [
        ("pages", eng.t_pages, ["url_norm", "depth", "parent_url", "round",
                                "status_code", "retry_count", "success"]),
        ("seen", eng.t_seen, state_cols),
        ("frontier", eng.t_frontier, state_cols),
        ("host_state", eng.t_host, ["host", "budget", "fail_count"]),
    ]:
        df = t.read(spark)
        out[name] = [] if df is None else _rows(df, cols)
    return out


# -- seed init: local seeds on the driver, seed tables distributed ------------

def _plan_spy(eng):
    """Executed plans of the frontier overwrites."""
    plans = []
    overwrite = eng.t_frontier.overwrite

    def spy(df):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return overwrite(df)

    eng.t_frontier.overwrite = spy
    return plans


def test_seed_init_normalizes_once(spark, tmp_path):
    raw = ["http://a.example.com/x", "http://a.example.com/x#frag",
           "https://B.example.com/y", "bad", ""]
    want = sorted({n for u in raw if (n := _norm(u)) is not None})
    cols = ["url_norm", "depth", "parent_url", "retry_count", "wait_rounds"]

    # a seed table: the normalize UDF runs in one Python stage
    table = spark.createDataFrame([(u,) for u in raw], "url string")
    assert not table.isLocal()
    eng = CrawlEngine(spark, Warehouse(str(tmp_path / "wh_t")), None,
                      CrawlConfig())
    plans = _plan_spy(eng)
    eng.init_from_seed_df(table)
    assert plans[0].count("ArrowEvalPython") == 1, plans[0]
    assert _rows(eng.t_frontier.read(spark), cols) == [
        (u, 0, None, 0, 0) for u in want]
    assert eng._frontier_count == len(want)
    # seen starts empty by a metadata commit, not a Spark write
    assert eng.t_seen.snapshot_data() == []

    # a seed list is a local relation: no Python stage, no shuffle
    eng = CrawlEngine(spark, Warehouse(str(tmp_path / "wh_l")), None,
                      CrawlConfig())
    plans = _plan_spy(eng)
    eng.init_from_seeds(raw)
    assert plans[0].count("ArrowEvalPython") == 0, plans[0]
    assert plans[0].count("Exchange") == 0, plans[0]
    assert _rows(eng.t_frontier.read(spark), cols) == [
        (u, 0, None, 0, 0) for u in want]
    assert eng._frontier_count == len(want)
    assert eng.t_seen.snapshot_data() == []


def _seed_jobs(spark, group, init):
    """Run init() under a new job group; the number of jobs it ran."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        init()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_seed_forms_write_the_same_frontier(spark, tmp_path):
    import pandas as pd

    raw = ["http://Shop.example.com/a", "http://shop.example.com/a#top",
           "http://shop.example.com/a?utm_source=x&utm_medium=y",
           "http://SHOP.example.com/a/", "https://shop.example.com/b?id=2",
           "https://shop.example.com/b?id=2&utm_campaign=z#f",
           "http://other.example.org:8080/p?q=1", "", None, "bad"]
    state_cols = [f for f, _ in frontier_mod.STATE_FIELDS]
    forms = {
        "list": lambda eng: eng.init_from_seeds(raw),
        "pandas": lambda eng: eng.init_from_seed_df(
            spark.createDataFrame(pd.DataFrame({"url": raw}))),
        "table": lambda eng: eng.init_from_seed_df(
            spark.createDataFrame([(u,) for u in raw], "url string")),
    }
    frontiers, counts, jobs = {}, {}, {}
    for name, init in forms.items():
        eng = CrawlEngine(spark, Warehouse(str(tmp_path / name)), None,
                          CrawlConfig())
        jobs[name] = _seed_jobs(spark, f"seed-init-{tmp_path.name}-{name}",
                                lambda: init(eng))
        frontiers[name] = _rows(eng.t_frontier.read(spark), state_cols)
        counts[name] = eng._frontier_count
    assert spark.createDataFrame(pd.DataFrame({"url": raw})).isLocal()
    want = sorted({n for u in raw if (n := _norm(u)) is not None})
    assert [r[0] for r in frontiers["list"]] == want
    assert frontiers["pandas"] == frontiers["list"]
    assert frontiers["table"] == frontiers["list"]
    assert counts == {name: len(want) for name in forms}
    assert jobs["list"] == 1, jobs

    eng = CrawlEngine(spark, Warehouse(str(tmp_path / "empty")), None,
                      CrawlConfig())
    eng.init_from_seeds([])
    assert eng.t_frontier.read(spark).count() == 0
    assert eng._frontier_count == 0


# -- snapshot table: the first append or adopt pins the read schema ----------

def test_first_append_into_empty_table_pins_schema(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    df = spark.range(3).select(F.col("id"),
                               F.col("id").cast("string").alias("s"))
    t.append(df)
    assert t._schema == _nullable(df.schema)
    assert _rows(t.read(spark), ["id", "s"]) == [(0, "0"), (1, "1"), (2, "2")]
    # a second append of another schema still falls back to inference
    t.append(spark.range(1).select(F.col("id"), F.lit(1.5).alias("x")))
    assert t._schema is None
    assert set(t.read(spark).columns) == {"id", "s", "x"}


def test_first_adopt_into_empty_table_pins_schema(spark, tmp_path):
    df = spark.range(2).select(F.col("id"),
                               F.col("id").cast("string").alias("s"))
    ext = str(tmp_path / "ext")
    df.write.parquet(ext)
    t = SnapshotTable(str(tmp_path / "t"))
    t.rollback_to([])
    t.adopt_dirs([ext], mode="append", schema=df.schema)
    assert t._schema == _nullable(df.schema)
    assert _rows(t.read(spark), ["id", "s"]) == [(0, "0"), (1, "1")]
    # an undeclared adopt into the now non-empty table still invalidates
    t.adopt_dirs([ext], mode="append")
    assert t._schema is None


# -- a rate-limited host through the engine ------------------------------------

def test_rate_limited_host_through_engine(spark, tmp_path, plan_log):
    """One host answers 429 to everything: its budget halves every
    round, its URLs come back as retries with retry_count + 1, it is
    capped at the halved budget even when the whole frontier fits the
    base budget, and it is dropped once fail_count passes
    max_retries."""
    ok = [_norm(f"https://ok.example.com/{i}.html") for i in range(2)]
    rl = [_norm(f"https://rl.example.com/{i}.html") for i in range(4)]
    corpus = spark.createDataFrame(
        [(u, "<html><body><p>fine</p></body></html>", 200, 1) for u in ok]
        + [(u, "", 429, 1) for u in rl],
        "url_norm string, html string, status_code int, fetch_ms int",
    )
    wh = Warehouse(str(tmp_path / "wh"))
    eng = CrawlEngine(spark, wh, CorpusFetcher(corpus), CrawlConfig(
        max_depth=0, base_host_budget=4, max_retries=2, max_rounds=10))
    stats = eng.run(ok + rl)

    def host_state(rnd):
        hs = spark.read.parquet(os.path.join(wh.state_dir(rnd), "tag=h"))
        return {r.host: (r.budget, r.fail_count) for r in hs.collect()}

    # budget halves per rate-limited round: 4 -> 2 -> 1 (floor 1)
    assert host_state(0)["rl.example.com"] == (2, 1)
    assert host_state(1)["rl.example.com"] == (1, 2)
    assert host_state(2)["rl.example.com"] == (1, 3)
    assert host_state(0)["ok.example.com"] == (4, 0)

    pages = _rows(eng.t_pages.read(spark).where(F.col("host") == "rl.example.com"),
                  ["round", "retry_count", "status_code"])
    assert pages == (
        [(0, 0, 429)] * 4
        # round 1: all 4 retries fit the base budget 4, but the host's
        # budget is 2 — the windows must still run and cap it
        + [(1, 1, 429)] * 2
        # round 2: budget 1; the deferred retry (wait_rounds 1) wins
        + [(2, 1, 429)]
    )
    assert plan_log["budget"][:3] == [4, 4, 4]
    # round 1's state: 2 retries at retry_count 2, 2 deferred rows
    d1 = _rows(spark.read.parquet(os.path.join(wh.state_dir(1), "tag=d")),
               ["retry_count", "wait_rounds"])
    assert d1 == [(1, 1), (1, 1), (2, 0), (2, 0)]
    # round 3: fail_count 3 > max_retries drops the host entirely
    assert stats["rounds"] == 4
    assert eng._frontier_count == 0
    assert _state(eng, spark)["frontier"] == []


# -- the facts survive a resume --------------------------------------------------

def _crawl(spark, wh_dir, cfg):
    corpus = fakeshop_spark_df(spark, n_sites=1, n_categories=3, n_subcats=2,
                               n_products=2)
    eng = CrawlEngine(spark, Warehouse(wh_dir), CorpusFetcher(corpus), cfg)
    eng.run([SEED])
    return eng


def test_resume_carries_plan_facts(spark, tmp_path, plan_log):
    """One host, levels of 1, 3, 7 and 12 pages to max_depth 3, host
    budget 8: rounds 0-2 fit the budget (a), round 3 defers 4 of the
    12 depth-3 pages and round 4 fetches them; neither discovers (b).
    A resume between rounds 3 and 4 must plan round 4 the same way,
    ending in the uninterrupted crawl's tables."""
    cfg = dict(max_depth=3, base_host_budget=8)
    full = _crawl(spark, str(tmp_path / "full"), CrawlConfig(**cfg))
    assert plan_log["budget"] == [None, None, None, 8, None]
    assert plan_log["no_discovery"] == [False, False, False, True, True]
    want = _state(full, spark)
    assert len(want["pages"]) == 1 + 3 + 7 + 12

    plan_log["budget"].clear()
    plan_log["no_discovery"].clear()
    part_dir = str(tmp_path / "part")
    _crawl(spark, part_dir, CrawlConfig(max_rounds=4, **cfg))
    assert plan_log["budget"] == [None, None, None, 8]
    assert plan_log["no_discovery"] == [False, False, False, True]

    plan_log["budget"].clear()
    plan_log["no_discovery"].clear()
    resumed = _crawl(spark, part_dir, CrawlConfig(**cfg))
    assert plan_log["budget"] == [None]
    assert plan_log["no_discovery"] == [True]
    assert _state(resumed, spark) == want


# -- a crash before the first commit ------------------------------------------

def test_resume_after_crash_before_round0_commit(spark, tmp_path, monkeypatch):
    """A crash after round 0's writes but before its commit leaves
    pages, host_state and metrics ahead of a manifest with no committed
    round, and host_state pointing into the state dir round 0 rewrites.
    A fresh engine must reseed from empty tables and end in the
    uninterrupted crawl's tables, with no page or metrics row twice."""
    cfg = CrawlConfig(max_depth=3, base_host_budget=8)
    metric_cols = ["round", "urls_processed", "urls_failed", "fetch_ms_p50"]
    full = _crawl(spark, str(tmp_path / "full"), cfg)
    want = _state(full, spark)
    want_metrics = _rows(full.t_metrics.read(spark), metric_cols)

    commit = Warehouse.commit_round

    def crash_in_round0(self, entry):
        if entry["round"] == 0:
            raise RuntimeError("killed before the round-0 commit")
        commit(self, entry)

    wh_dir = str(tmp_path / "crashed")
    monkeypatch.setattr(Warehouse, "commit_round", crash_in_round0)
    with pytest.raises(RuntimeError, match="round-0 commit"):
        _crawl(spark, wh_dir, cfg)
    monkeypatch.undo()
    assert Warehouse(wh_dir).last_round() is None

    resumed = _crawl(spark, wh_dir, cfg)
    got = _state(resumed, spark)
    assert got == want
    assert len(set(got["pages"])) == len(got["pages"])
    assert _rows(resumed.t_metrics.read(spark), metric_cols) == want_metrics
