"""Round-5 hardening: the ADVICE r4 fixes + the consistency_score guard
(VERDICT r4 'What's wrong' #1), each pinned by a test.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from crawl4ai_spark.engine.cuckoo import CuckooSeenSet
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


# -- cuckoo: TTL churn keeps the stash bounded --------------------------------

def test_cuckoo_ttl_churn_keeps_stash_bounded(spark, tmp_path):
    # 3 add+expire waves of 1k keys: each wave appends a segment sized
    # for its own keys and expires the previous wave's whole segment,
    # so the stash cannot accumulate across waves, and membership stays
    # exact for live keys
    t = SnapshotTable(str(tmp_path / "ck_churn"))
    c = CuckooSeenSet(t, n_shards=4)

    def hashes(start, n):
        return spark.range(start, start + n).select(
            F.xxhash64(F.col("id").cast("string")).alias("url_hash"))

    c.build(spark, hashes(0, 1000), newest_round=0)
    for wave in range(1, 4):
        c.add_hashes(spark, hashes(wave * 1000, 1000), newest_round=wave)
        c.expire(wave - 1)
    assert [r for _, r in c.segments] == [3]
    assert [d for d, _ in c.segments] == t.snapshot_data()
    live = hashes(3000, 1000)
    assert c.probe(spark, live).where(~F.col("maybe_seen")).count() == 0
    shards = t.read(spark).collect()
    total_stash = sum(
        len(np.frombuffer(r["stash"], dtype=np.int64)) for r in shards)
    # bounded: at most 32 sentinels per shard
    assert total_stash <= 4 * 32, total_stash


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
