"""Cuckoo-filter seen-set (engine/cuckoo.py), the engine's URL-seen
filter (north rule: "bloom/cuckoo URL-seen").

Contract pinned here:
  - NO FALSE NEGATIVES, even past capacity: a failed eviction chain
    stashes a sentinel that keeps the displaced key's membership.
  - FP budget: 16-bit fingerprints put design FP around 2*4/2^16
    (~1.2e-4) per segment; the test allows 1e-3.
  - the filter is append-only: each sync appends one segment sized for
    its own keys, so one shard can hold segments of different sizes,
    each probed with its own m; FP adds up across segments, and the
    merge build that replaces them restores the single-filter budget.
  - TTL expiry drops a segment only once its newest round expired; a
    partly expired segment stays, its stale keys being false positives.
  - blobs never ride through the driver (static check).
  - determinism: same deltas in the same order -> byte-identical blobs.
  - engine equivalence: a crawl whose filter lags the seen table by
    more than a round crawls exactly the set of a run synced every
    round and of an exact-only run, and so do a lagging run whose
    probe reports every key maybe-seen and a run resumed from a
    checkpoint whose filter table is missing (the mid-crawl engage
    itself is test_bloom_scale.py).
  - the probe takes keys, not rows: it returns (url_hash, maybe_seen)
    whatever columns its input carries.
"""

from __future__ import annotations

import inspect

import numpy as np
from pyspark.sql import functions as F

from crawl4ai_spark.engine import cuckoo as cuckoo_mod
from crawl4ai_spark.engine.cuckoo import (
    MAX_SEGMENTS,
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
    c.build(spark, keys, newest_round=0)
    for r in t.read(spark).collect():  # each shard sized for its own keys
        assert r.m_buckets * SLOTS * TARGET_LOAD >= r.n_items

    probed = c.probe(spark, keys)
    assert probed.where(~F.col("maybe_seen")).count() == 0

    fresh = _hashes(spark, n_keys, n_probe)
    fp = c.probe(spark, fresh).where(F.col("maybe_seen")).count()
    assert fp / n_probe < 1e-3, fp

    extra = _hashes(spark, 10**6, 500)
    c.add_hashes(spark, extra, newest_round=1)
    assert c.probe(spark, extra).where(~F.col("maybe_seen")).count() == 0
    assert probed.where(~F.col("maybe_seen")).count() == 0


def test_rebuild_restores_fp_budget(spark, tmp_path):
    """Every live segment adds its own FP rate, so a filter of
    MAX_SEGMENTS small segments reports more false positives than one
    filter of the same keys; the merge build the engine runs past
    MAX_SEGMENTS replaces them with one segment and restores the
    single-filter budget. Membership holds throughout."""
    t = SnapshotTable(str(tmp_path / "ck"))
    c = CuckooSeenSet(t, n_shards=1)
    per, n_probe = 2_000, 100_000
    n = per * MAX_SEGMENTS
    keys = _hashes(spark, 0, n)
    fresh = _hashes(spark, n, n_probe)
    for k in range(MAX_SEGMENTS):
        c.add_hashes(spark, _hashes(spark, k * per, per), newest_round=k)
    assert len(c.segments) == len(t.snapshot_data()) == MAX_SEGMENTS
    assert c.probe(spark, keys).where(~F.col("maybe_seen")).count() == 0
    fp_many = c.probe(spark, fresh).where("maybe_seen").count()

    c.build(spark, keys, newest_round=MAX_SEGMENTS - 1)  # the merge
    assert len(c.segments) == len(t.snapshot_data()) == 1
    assert c.probe(spark, keys).where(~F.col("maybe_seen")).count() == 0
    fp_one = c.probe(spark, fresh).where("maybe_seen").count()
    assert fp_one < fp_many, (fp_one, fp_many)
    assert fp_one / n_probe <= 1e-3, fp_one


def test_ttl_drops_only_fully_expired_segments(spark, tmp_path):
    """expire(cutoff) drops a segment only when its newest round is at
    or below the cutoff. A segment holding an expired and a live round
    stays: its expired keys are false positives (the engine's exact
    anti-join absorbs them) and its live keys keep membership."""
    t = SnapshotTable(str(tmp_path / "ck"))
    c = CuckooSeenSet(t, n_shards=4)
    r0, r1, r2, r3 = (_hashes(spark, k * 3_000, 3_000) for k in range(4))
    c.build(spark, r0, newest_round=0)
    old_dir = c.segments[0][0]
    c.add_hashes(spark, r1.unionByName(r2), newest_round=2)
    c.add_hashes(spark, r3, newest_round=3)

    c.expire(1)  # rounds 0 and 1 expired
    assert [r for _, r in c.segments] == [2, 3]
    assert old_dir not in t.snapshot_data()
    assert [d for d, _ in c.segments] == t.snapshot_data()
    for live in (r2, r3):
        assert c.probe(spark, live).where(~F.col("maybe_seen")).count() == 0
    # round 1 rides in the kept segment: still reported (stale FPs)
    assert c.probe(spark, r1).where(~F.col("maybe_seen")).count() == 0
    # round 0's segment is gone: its keys hit only at the FP floor
    assert c.probe(spark, r0).where("maybe_seen").count() <= 3

    c.expire(3)
    assert c.segments == [] and t.read(spark) is None


def test_mixed_m_segments_probe(spark, tmp_path):
    """Segments are sized for their own delta, so one shard carries
    rows of different m_buckets; the probe must check each row with
    its own m (one shared m would send keys to the wrong buckets)."""
    t = SnapshotTable(str(tmp_path / "ck"))
    c = CuckooSeenSet(t, n_shards=2)
    small, big = _hashes(spark, 0, 500), _hashes(spark, 10**6, 40_000)
    c.build(spark, small, newest_round=0)
    c.add_hashes(spark, big, newest_round=1)
    by_shard: dict = {}
    for r in t.read(spark).select("shard_id", "m_buckets").collect():
        by_shard.setdefault(r.shard_id, set()).add(r.m_buckets)
    assert by_shard and all(len(ms) == 2 for ms in by_shard.values()), by_shard
    both = small.unionByName(big)
    assert c.probe(spark, both).where(~F.col("maybe_seen")).count() == 0
    fp = c.probe(spark, _hashes(spark, 5 * 10**6, 20_000)).where(
        "maybe_seen").count()
    assert fp / 20_000 < 1e-3, fp


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
        c.build(spark, _hashes(spark, 0, 3_000), newest_round=0)
        c.add_hashes(spark, _hashes(spark, 50_000, 700), newest_round=1)
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
    assert eng_lag.bloom.segments
    assert eng_lag.t_bloom.read(spark).count() > 0
    _, got_sync = _crawl(spark, tmp_path / "sync", _cfg(bloom_min_seen=5))
    _, got_off = _crawl(spark, tmp_path / "off",
                        _cfg(bloom_min_seen=EXACT_ONLY))
    assert got_lag == got_sync == got_off


def test_forced_false_positives_keep_the_crawl(spark, tmp_path, monkeypatch):
    """A probe that reports every key maybe-seen narrows nothing: the
    seen side of the anti-join is then the whole seen table, and a
    lagging filter's crawl still equals the exact-only run."""
    calls = []
    real_probe = CuckooSeenSet.probe

    def all_maybe(self, *a, **kw):
        calls.append(1)
        return real_probe(self, *a, **kw).withColumn("maybe_seen", F.lit(True))

    monkeypatch.setattr(CuckooSeenSet, "probe", all_maybe)
    eng, got = _crawl(spark, tmp_path / "fp",
                      _cfg(bloom_min_seen=5, bloom_sync_rounds=3))
    assert calls and eng.bloom.segments
    monkeypatch.undo()
    _, want = _crawl(spark, tmp_path / "off",
                     _cfg(bloom_min_seen=EXACT_ONLY))
    assert got == want


def test_probe_returns_keys_only(spark, tmp_path):
    """probe hands back (url_hash, maybe_seen), one row per input row,
    whatever other columns the input carries, with or without
    segments."""
    c = CuckooSeenSet(SnapshotTable(str(tmp_path / "ck")), n_shards=4)
    wide = _hashes(spark, 100, 100).select(
        "url_hash",
        F.col("url_hash").cast("string").alias("url_norm"),
        F.lit("x" * 200).alias("html"),
    )
    want = sorted(r.url_hash for r in wide.collect())
    for built in (False, True):
        if built:
            c.build(spark, _hashes(spark, 0, 200), newest_round=0)
        out = c.probe(spark, wide)
        assert out.columns == ["url_hash", "maybe_seen"]
        rows = out.collect()
        assert sorted(r.url_hash for r in rows) == want
        # keys 100..199 are all built in: no false negative among them
        assert {r.maybe_seen for r in rows} == {built}


def test_engine_merges_past_max_segments(spark, tmp_path, monkeypatch):
    """Once MAX_SEGMENTS segments are live, the engine's next non-empty
    sync rebuilds one segment from the live seen table instead of
    appending: the live count never passes the cap, and the crawl still
    equals the exact-only run (no false negative from the merge)."""
    from crawl4ai_spark.engine import frontier as frontier_mod

    monkeypatch.setattr(frontier_mod, "MAX_SEGMENTS", 2)
    builds = []
    real_build = CuckooSeenSet.build

    def counting_build(self, *a, **kw):
        builds.append(kw.get("newest_round"))
        return real_build(self, *a, **kw)

    monkeypatch.setattr(CuckooSeenSet, "build", counting_build)
    # depth 4: the filter builds at round 1, round 2 appends a second
    # segment, round 3 finds the cap reached and merges
    eng, got = _crawl(spark, tmp_path / "merge",
                      _cfg(max_depth=4, bloom_min_seen=5))
    assert len(builds) >= 2, builds  # the engage build, then a merge
    assert 1 <= len(eng.bloom.segments) <= 2
    assert [d for d, _ in eng.bloom.segments] == eng.t_bloom.snapshot_data()
    monkeypatch.undo()
    _, want = _crawl(spark, tmp_path / "off",
                     _cfg(max_depth=4, bloom_min_seen=EXACT_ONLY))
    assert got == want


def test_add_hashes_bootstraps_empty_table(spark, tmp_path):
    """add_hashes on an empty table writes the first segment; shards
    of a few keys each must size without crashing (size_buckets'
    1<<ceil(log2(x<1)) negative-shift hazard) and membership must hold."""
    assert size_buckets(1, 32) >= 1 << 10
    assert size_buckets(4, 32) >= 1 << 10
    t = SnapshotTable(str(tmp_path / "ck"))
    c = CuckooSeenSet(t, n_shards=4)
    keys = _hashes(spark, 0, 50)
    c.add_hashes(spark, keys, newest_round=0)  # empty-table bootstrap path
    assert c.probe(spark, keys).where(~F.col("maybe_seen")).count() == 0


def test_resume_with_missing_filter_table(spark, tmp_path):
    """A checkpoint that lists filter segments, resumed against a
    missing filter table, must NOT trust the list: an empty filter
    would mark every synced URL definitely-new and mass re-crawl. The
    guard falls back to exact-only dedup, so the crawled multiset
    equals a straight-through run's."""
    import dataclasses
    import shutil

    cfg = _cfg(bloom_min_seen=5)
    _, want = _crawl(spark, tmp_path / "s", cfg)

    part, _ = _crawl(spark, tmp_path / "x",
                     dataclasses.replace(cfg, max_rounds=2))
    assert part.bloom.segments  # the checkpoint really lists segments

    shutil.rmtree(tmp_path / "x" / "seen_cuckoo")
    _, got = _crawl(spark, tmp_path / "x", cfg)
    assert got == want  # no duplicates, nothing lost
