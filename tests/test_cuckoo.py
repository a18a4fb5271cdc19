"""Cuckoo-filter seen-set (engine/cuckoo.py), the engine's URL-seen
pre-filter (north rule: "bloom/cuckoo URL-seen").

Contract pinned here:
  - NO FALSE NEGATIVES, even past capacity: a failed eviction chain
    stashes a sentinel that keeps the displaced key's membership.
  - FP budget: 16-bit fingerprints put design FP around 2*4/2^16
    (~1.2e-4); the test allows 1e-3.
  - an overfilled filter spills into the stash; the state-sized
    rebuild the engine runs when seen outgrows capacity() empties it.
  - deletion removes membership without touching other keys.
  - blobs never ride through the driver (static check).
  - determinism: same deltas in the same order -> byte-identical blobs.
  - engine equivalence: a crawl whose filter lags the seen table by
    more than a round crawls exactly the set of a run synced every
    round and of an exact-only run, and so does a run resumed from a
    checkpoint whose filter table is missing (the mid-crawl engage
    itself is test_bloom_scale.py).
"""

from __future__ import annotations

import inspect

import numpy as np
from pyspark.sql import functions as F

from crawl4ai_spark.engine import cuckoo as cuckoo_mod
from crawl4ai_spark.engine.cuckoo import (
    SLOTS,
    TARGET_LOAD,
    CuckooSeenSet,
    insert_keys,
    probe_keys,
    size_buckets,
)
from crawl4ai_spark.engine.tables import SnapshotTable

SEED = "http://shop0.fakeshop.test/index.html"
# never reached by the test crawls: the exact-only reference run
EXACT_ONLY = 10**9


def _hashes(spark, start, n):
    return spark.range(start, start + n).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    )


def test_size_buckets_gives_capacity():
    for n in (1_000, 100_000, 10_000_000):
        m = size_buckets(n, n_shards=32)
        assert 32 * m * SLOTS * TARGET_LOAD >= n
        assert m & (m - 1) == 0


def test_no_false_negatives_and_fp_budget(spark, tmp_path):
    n_keys, n_probe, n_shards = 20_000, 20_000, 8
    t = SnapshotTable(str(tmp_path / "ck"))
    c = CuckooSeenSet(t, n_shards=n_shards)
    keys = _hashes(spark, 0, n_keys)
    c.build(spark, keys, expected_n=n_keys, headroom=1.0)
    assert c.capacity() >= n_keys

    probed = c.probe(spark, keys)
    assert probed.where(~F.col("maybe_seen")).count() == 0

    fresh = _hashes(spark, n_keys, n_probe)
    fp = c.probe(spark, fresh).where(F.col("maybe_seen")).count()
    assert fp / n_probe < 1e-3, fp

    extra = _hashes(spark, 10**6, 500)
    c.add_hashes(spark, extra)
    assert c.probe(spark, extra).where(~F.col("maybe_seen")).count() == 0


def _stash_total(c, spark):
    return sum(len(r.stash) // 8 for r in c.table.read(spark).collect())


def test_rebuild_restores_fp_budget(spark, tmp_path):
    """Overfilling an undersized filter pushes it past capacity() and
    spills fingerprints into the stash (probe cost degrades toward an
    exact check); a state-sized rebuild — what the engine does at the
    round boundary when seen outgrows capacity — empties the stash and
    keeps FP within budget. Membership holds throughout."""
    t = SnapshotTable(str(tmp_path / "ck"))
    c = CuckooSeenSet(t, n_shards=1)
    n = 4_400
    keys = _hashes(spark, 0, n)
    fresh = _hashes(spark, n, 20_000)
    # deliberately undersized (expected_n lied low, floor size kicks in)
    c.build(spark, keys, expected_n=100, headroom=1.0)
    assert n > c.capacity()
    assert _stash_total(c, spark) > 0
    assert c.probe(spark, keys).where(~F.col("maybe_seen")).count() == 0

    c.build(spark, keys, expected_n=n, headroom=1.0)  # the rebuild path
    assert n <= c.capacity()
    assert _stash_total(c, spark) == 0
    assert c.probe(spark, keys).where(~F.col("maybe_seen")).count() == 0
    fp = c.probe(spark, fresh).where("maybe_seen").count() / 20_000
    assert fp <= 1e-3, fp


def test_delete_removes_membership(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "ck"))
    c = CuckooSeenSet(t, n_shards=4)
    keys = _hashes(spark, 0, 5_000)
    c.build(spark, keys, expected_n=5_000)

    gone = keys.where(F.xxhash64(F.col("url_hash").cast("string")) % 10 == 0)
    kept = keys.subtract(gone)
    n_gone = gone.count()
    assert 0 < n_gone < 5_000
    c.delete_hashes(spark, gone)

    # deleted keys drop out (allowing the filter's own FP rate on the
    # re-probe); untouched keys never lose membership
    still = c.probe(spark, gone).where(F.col("maybe_seen")).count()
    assert still <= max(2, int(n_gone * 1e-2)), still
    assert c.probe(spark, kept).where(~F.col("maybe_seen")).count() == 0


def test_overflow_stash_prevents_false_negatives():
    """Force eviction-chain failure by overfilling one tiny table far
    past capacity; every inserted key must still probe true."""
    rng = np.random.RandomState(7)
    h = rng.randint(-2**63, 2**63 - 1, size=600, dtype=np.int64)
    m = 64  # capacity 64*4*0.95 = 243 << 600
    table = np.zeros((m, SLOTS), dtype=np.uint16)
    stash: list[int] = []
    overflow = insert_keys(table, stash, h, m)
    assert overflow > 0 and len(stash) == overflow
    hit = probe_keys(table, np.asarray(stash, dtype=np.int64), h, m)
    assert hit.all()


def test_deterministic_blobs(spark, tmp_path):
    def run(sub):
        t = SnapshotTable(str(tmp_path / sub))
        c = CuckooSeenSet(t, n_shards=4)
        c.build(spark, _hashes(spark, 0, 3_000), expected_n=3_000)
        c.add_hashes(spark, _hashes(spark, 50_000, 700))
        c.delete_hashes(spark, _hashes(spark, 100, 200))
        return sorted(
            (r.shard_id, bytes(r.table), bytes(r.stash))
            for r in c.table.read(spark).collect()
        )

    assert run("a") == run("b")


def test_no_driver_blob_hops():
    src = inspect.getsource(cuckoo_mod)
    for banned in ("toPandas", "collect()", "broadcast"):
        assert banned not in src, banned


def _crawl(spark, wh_dir, cfg):
    from crawl4ai_spark.corpus.fakeshop import fakeshop_spark_df
    from crawl4ai_spark.engine.fetch import CorpusFetcher
    from crawl4ai_spark.engine.frontier import CrawlEngine
    from crawl4ai_spark.engine.tables import Warehouse

    corpus = fakeshop_spark_df(spark, n_sites=1, n_categories=3,
                               n_subcats=2, n_products=2)
    eng = CrawlEngine(spark, Warehouse(str(wh_dir)), CorpusFetcher(corpus),
                      cfg)
    eng.run([SEED])
    return eng, sorted(
        (r.url_norm, r.depth)
        for r in eng.t_pages.read(spark).select("url_norm", "depth").collect()
    )


def _cfg(**kw):
    from crawl4ai_spark.engine.frontier import CrawlConfig

    return CrawlConfig(**{"max_depth": 3, "n_shards": 4,
                          "bloom_sync_rounds": 1, **kw})


def test_cuckoo_engine_run_matches_bloom_and_exact(spark, tmp_path):
    """The cuckoo-filtered crawl does not depend on the bloom_* sync
    settings: a run whose shards lag the seen table by up to two rounds
    (bloom_sync_rounds=3, so the probe misses the newest rounds and the
    unsynced-delta anti-join must catch them) crawls exactly the set of
    a run synced every round and of an exact-only run."""
    eng_lag, got_lag = _crawl(spark, tmp_path / "lag",
                              _cfg(bloom_min_seen=5, bloom_sync_rounds=3))
    assert eng_lag._bloom_built
    assert eng_lag.t_bloom.read(spark).count() > 0
    _, got_sync = _crawl(spark, tmp_path / "sync", _cfg(bloom_min_seen=5))
    _, got_off = _crawl(spark, tmp_path / "off",
                        _cfg(bloom_min_seen=EXACT_ONLY))
    assert got_lag == got_sync == got_off


def test_add_hashes_bootstraps_empty_table(spark, tmp_path):
    """add_hashes with no prior shards falls back to build(expected_n=1);
    size_buckets must not crash on tiny expected counts (the 1<<ceil(
    log2(x<1)) negative-shift hazard) and membership must hold."""
    assert size_buckets(1, 32) >= 1 << 10
    assert size_buckets(4, 32) >= 1 << 10
    t = SnapshotTable(str(tmp_path / "ck"))
    c = CuckooSeenSet(t, n_shards=4)
    keys = _hashes(spark, 0, 50)
    c.add_hashes(spark, keys)  # empty-table bootstrap path
    assert c.probe(spark, keys).where(~F.col("maybe_seen")).count() == 0


def test_resume_with_missing_filter_table(spark, tmp_path):
    """A checkpoint that says the filter is built, resumed against a
    missing filter table (or, as a manifest written before m_buckets
    was recorded, without the filter's size) must NOT trust the flag:
    an empty filter would mark every synced URL definitely-new and
    mass re-crawl. The guard falls back to exact-only dedup, so the
    crawled multiset equals a straight-through run's."""
    import dataclasses
    import json
    import shutil

    cfg = _cfg(bloom_min_seen=5)
    _, want = _crawl(spark, tmp_path / "s", cfg)

    part, _ = _crawl(spark, tmp_path / "x",
                     dataclasses.replace(cfg, max_rounds=2))
    assert part._bloom_built  # the checkpoint really says built
    shutil.copytree(tmp_path / "x", tmp_path / "y")

    shutil.rmtree(tmp_path / "x" / "seen_cuckoo")
    _, got = _crawl(spark, tmp_path / "x", cfg)
    assert got == want  # no duplicates, nothing lost

    manifest = tmp_path / "y" / "round_manifest.json"
    rounds = json.loads(manifest.read_text())
    for r in rounds:
        del r["bloom_m_buckets"]
    manifest.write_text(json.dumps(rounds))
    _, got = _crawl(spark, tmp_path / "y", cfg)
    assert got == want
