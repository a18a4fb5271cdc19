"""Round-5 hardening: the ADVICE r4 fixes + the consistency_score guard
(VERDICT r4 'What's wrong' #1), each pinned by a test.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from crawl4ai_spark.engine.cuckoo import (
    CuckooSeenSet,
    compact_stash,
    delete_keys,
    insert_keys,
    probe_keys,
)
from crawl4ai_spark.engine.frontier import _round_of_dir
from crawl4ai_spark.engine.tables import SnapshotTable
from crawl4ai_spark.ops.adaptive import consistency_score
from crawl4ai_spark.ops.quality import gopher_quality_rules


# -- _round_of_dir parses rounds past the zero-pad width ----------------------

def test_round_of_dir_wide_rounds():
    assert _round_of_dir("state/r000123/tag=n") == 123
    assert _round_of_dir("state/r1000000/tag=n") == 1_000_000  # 8 chars
    assert _round_of_dir("state/r123456789/tag=n") == 123_456_789
    assert _round_of_dir("state/d-abc123x/tag=n") is None
    assert _round_of_dir("state/r12x456/tag=n") is None


# -- consistency_score min-K guard --------------------------------------------

def test_consistency_guard_equals_explicit_head_k(spark):
    docs = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta w"), (F.col("id") % 7).cast("string"))
        .alias("text"),
    )
    guarded = consistency_score(docs, sample_k=10).first()[0]
    manual = consistency_score(
        docs.orderBy("doc_id").limit(10), sample_k=None).first()[0]
    assert guarded == manual
    full = consistency_score(docs, sample_k=None).first()[0]
    assert guarded != full  # the guard really did bound the pair set


def test_consistency_default_bounds_pairs(spark):
    # 3000 docs sharing one token: all-pairs would be ~4.5M rows; the
    # default guard caps it at min-1024-by-id (~524k) and completes
    docs = spark.range(3000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("common tok"), (F.col("id") % 3).cast("string"))
        .alias("text"),
    )
    v = consistency_score(docs).first()[0]
    assert 0.0 < v <= 1.0


# -- Gopher stop-word normalization -------------------------------------------

def test_gopher_stop_words_survive_case_and_punctuation(spark):
    body = " ".join(f"word{k}" for k in range(60))
    # stop words only as 'The' / 'of,' / 'to.' — the pre-fix exact match
    # scored 0 hits and failed the >=2 gate on valid English
    df = spark.createDataFrame(
        [(1, f"The quick fox. Out of, luck to. {body}")],
        "doc_id long, text string",
    )
    row = gopher_quality_rules(df).first()
    assert row["n_stop_hits"] == 3  # the, of, to
    assert row["keep"] is True


# -- cuckoo: stash compaction reclaims sentinels after deletes ----------------

def test_compact_stash_rehomes_after_deletes():
    rng = np.random.RandomState(7)
    keys = rng.randint(-2**62, 2**62, size=24, dtype=np.int64)
    m = 2  # 2 buckets x 4 slots = 8 table slots -> heavy overflow
    table = np.zeros((m, 4), dtype=np.uint16)
    stash: list[int] = []
    insert_keys(table, stash, keys, m)
    assert len(stash) > 0
    assert probe_keys(table, np.asarray(stash, np.int64), keys, m).all()

    delete_keys(table, keys[:6], m)
    survivors = keys[6:]
    before = len(stash)
    stash2 = compact_stash(table, stash, m)
    assert len(stash2) < before  # freed slots absorbed sentinels
    # no false negatives for surviving keys
    assert probe_keys(table, np.asarray(stash2, np.int64), survivors, m).all()


def test_cuckoo_ttl_churn_keeps_stash_bounded(spark, tmp_path):
    # sized-for-1k filter fed 3 insert/delete waves of 2k keys: without
    # compaction the stash only grows; with it, churn stays bounded and
    # membership stays exact for live keys
    t = SnapshotTable(str(tmp_path / "ck_churn"))
    c = CuckooSeenSet(t, n_shards=4)

    def hashes(start, n):
        return spark.range(start, start + n).select(
            F.xxhash64(F.col("id").cast("string")).alias("url_hash"))

    c.build(spark, hashes(0, 1000), expected_n=1000, headroom=1.0)
    for wave in range(1, 4):
        c.add_hashes(spark, hashes(wave * 1000, 1000))
        c.delete_hashes(spark, hashes((wave - 1) * 1000, 1000))
    live = hashes(3000, 1000)
    assert c.probe(spark, live).where(~F.col("maybe_seen")).count() == 0
    shards = t.read(spark).collect()
    total_stash = sum(
        len(np.frombuffer(r["stash"], dtype=np.int64)) for r in shards)
    # bounded: a small multiple of the per-shard compaction threshold
    assert total_stash <= 4 * 32, total_stash


# -- cuckoo: missing-shard sizing follows stored shards, not driver state -----

def test_add_hashes_derives_m_from_stored_shards(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "ck_m"))
    c1 = CuckooSeenSet(t, n_shards=4)
    c1.build(spark, spark.range(500).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")),
        expected_n=500, headroom=1.0)
    stored_m = c1.m_buckets

    # a fresh handle whose driver mirror diverged (e.g. a stale restore)
    c2 = CuckooSeenSet(t, n_shards=4, m_buckets=stored_m * 8)
    c2.add_hashes(spark, spark.range(500, 600).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")))
    ms = {r["m_buckets"] for r in t.read(spark).select("m_buckets").collect()}
    assert ms == {stored_m}  # uniform, matching the stored layout
    assert c2.m_buckets == stored_m  # mirror re-synced
    allk = spark.range(600).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"))
    assert c2.probe(spark, allk).where(~F.col("maybe_seen")).count() == 0


# -- incremental_dedup exposes its cache handle --------------------------------

def test_incremental_dedup_cache_release(spark):
    from crawl4ai_spark.ops.dedup import incremental_dedup, minhash_index

    docs = spark.createDataFrame(
        [(i, f"tok{i} tok{i+1} tok{i+2} tok{i+3}") for i in range(20)],
        "doc_id long, text string",
    )
    idx = minhash_index(docs)
    out = incremental_dedup(
        docs.select((F.col("doc_id") + 100).alias("doc_id"), "text"), idx)
    out.count()
    handle = out.cached_intermediate
    assert handle.storageLevel.useMemory
    handle.unpersist(blocking=True)
    assert not handle.storageLevel.useMemory
