"""Partitioned cuckoo-filter URL-seen shards: they narrow the seen side
of the crawl engine's exact seen-set anti-join (north-star rule:
"bloom/cuckoo URL-seen").

A cuckoo filter (Fan et al. 2014, "Cuckoo Filter: Practically Better
Than Bloom") stores 16-bit fingerprints in m buckets x 4 slots; key x
may live in bucket i1 = h(x) mod m or i2 = i1 XOR (h'(fp) mod m), so
membership and insertion are two-bucket operations.

The filter is APPEND-ONLY: a list of immutable segments, one per sync
epoch, each a snapshot-table data dir. A sync writes one new segment
holding only the delta's keys and never rewrites an old one. Seen-TTL
recrawl scheduling drops whole segments whose newest round has
expired — a metadata commit, no job and no per-key delete. A segment
that has only partly expired keeps its stale keys; they are false
positives, which the exact anti-join behind the filter absorbs. Past
MAX_SEGMENTS live segments, the engine replaces them all with one
build from the live seen table, like an LSM merge.

Scale posture and storage contract:
  - shard_id = pmod(xxhash64(url_norm), n_shards); shards are BINARY
    blobs in a snapshot table, cogrouped executor-side — blobs never
    visit the driver, only 8-byte hashes shuffle.
  - the filter has NO FALSE NEGATIVES: the engine's one exact seen
    anti-join keeps, on its seen side, only the rows of keys the probe
    reports "maybe seen" plus the rounds not yet synced, so a
    "definitely new" key can only match that unsynced delta. The probe
    ships only 8-byte keys into Python, never the candidate rows.
    Cuckoo insertion can fail at high load (an eviction chain runs out
    of kicks); a failed fingerprint goes to the shard's exact OVERFLOW
    STASH (an int64 hash array probed alongside the table), so a full
    filter degrades to exact-check cost, never to a false negative.
  - sizing per segment: each shard row is sized for its own keys,
    buckets = next_pow2(n_keys / (4 * 0.95)), and carries its own
    m_buckets; a probe checks every segment row of its shard with that
    row's m. The false-positive rate adds up across live segments,
    which MAX_SEGMENTS bounds.

Insertion is a placement problem. The fast path is vectorized (per
pass, the first remaining key targeting each bucket places
conflict-free; full-bucket keys escalate to their alt bucket) and only
keys with BOTH buckets full run the per-key eviction chain, so at the
crawl loop's loads throughput is numpy-bound (BENCH.md, seen-set
stress).

Determinism: fingerprints, bucket choices, victim slots and kick
sequences are all pure functions of the key hash and the insertion
order of the batch — two runs over the same deltas produce
byte-identical shard blobs (tested).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

SHARD_SCHEMA = T.StructType(
    [
        T.StructField("shard_id", T.IntegerType()),
        T.StructField("table", T.BinaryType()),    # m_buckets x 4 uint16
        T.StructField("stash", T.BinaryType()),    # overflow int64 hashes
        T.StructField("m_buckets", T.LongType()),
        T.StructField("n_items", T.LongType()),
    ]
)

SLOTS = 4
MAX_KICKS = 500
TARGET_LOAD = 0.95
# live segments past which the engine's next sync merges them into one
# build from the seen table instead of appending another
MAX_SEGMENTS = 8
_FP_MUL = np.uint64(0x5BD1E995)  # partial-key hash for the i2 offset


def _fingerprint(h: np.ndarray) -> np.ndarray:
    """16-bit nonzero fingerprint from the top hash bits (0 is the
    empty-slot sentinel, so fp 0 maps to 1)."""
    fp = ((h.astype(np.uint64) >> np.uint64(48)) & np.uint64(0xFFFF)).astype(np.uint16)
    fp[fp == 0] = 1
    return fp


def _mix(h: np.ndarray) -> np.ndarray:
    """murmur3 fmix64: decorrelates the bucket index from the SHARD
    assignment. Shards are keyed pmod(hash, n_shards) and buckets
    h mod m with m a power of two — both read the LOW hash bits, so
    without mixing every key in a shard shares its residue class and
    i1 can only reach m/n_shards buckets: 32x bucket concentration,
    measured as ~8x the design FP rate and ~10x slower inserts (long
    eviction chains) at 2M keys."""
    x = h.astype(np.uint64).copy()
    x ^= x >> np.uint64(33)
    x *= np.uint64(0xFF51AFD7ED558CCD)
    x ^= x >> np.uint64(33)
    return x


def _i1(h: np.ndarray, m: int) -> np.ndarray:
    return (_mix(h) % np.uint64(m)).astype(np.int64)


def _alt(i: np.ndarray, fp: np.ndarray, m: int) -> np.ndarray:
    """Partial-key cuckoo: the other bucket, an involution (alt(alt)=i)
    because m is a power of two."""
    off = (fp.astype(np.uint64) * _FP_MUL) % np.uint64(m)
    return (i.astype(np.uint64) ^ off).astype(np.int64) % m


def size_buckets(expected_n: int, n_shards: int, floor_buckets: int = 1 << 10) -> int:
    """Per-shard bucket count for expected_n total keys at TARGET_LOAD,
    power of two (the i1^offset involution requires it). The >=1 clamp
    must come AFTER the slots division: clamping the per-shard key
    count instead leaves log2 of a sub-1 ratio, and ``1 << -1`` raises
    (ValueError) for any expected_n below ~4*shards."""
    per_shard = max(1.0, expected_n / max(1, n_shards) / (SLOTS * TARGET_LOAD))
    return max(floor_buckets, 1 << int(np.ceil(np.log2(per_shard))))


def _insert_one(table: np.ndarray, stash: list[int], fp: int, i: int,
                m: int) -> int:
    """Per-key slow path: try both buckets, then run the eviction
    chain (victim slot cycles with the kick counter — deterministic).
    Returns 1 if the chain overflowed to the stash, else 0."""
    for b in (i, int(_alt(np.array([i]), np.array([fp], np.uint16), m)[0])):
        row = table[b]
        empty = np.flatnonzero(row == 0)
        if len(empty):
            row[empty[0]] = fp
            return 0
    cur_fp, cur_i = fp, i
    for kick in range(MAX_KICKS):
        slot = kick % SLOTS
        victim = int(table[cur_i, slot])
        table[cur_i, slot] = cur_fp
        cur_fp = victim
        cur_i = int(_alt(np.array([cur_i]), np.array([cur_fp], np.uint16), m)[0])
        row = table[cur_i]
        empty = np.flatnonzero(row == 0)
        if len(empty):
            row[empty[0]] = cur_fp
            return 0
    # chain exhausted: every kick wrote one fingerprint and carried one
    # out, so the table is consistent except for the finally-carried
    # cur_fp, whose owner key would turn false-negative if simply
    # dropped. Stash it as a sentinel (fp << 32) | candidate_bucket —
    # the owner's OTHER bucket is the involution of this one, so a
    # probe matching (fp, either bucket) covers it. Sentinels have zero
    # high 16 bits, so they can never collide with the fingerprint
    # extraction of a real key (fp is drawn from bits 48-63).
    stash.append(int((np.uint64(cur_fp) << np.uint64(32)) | np.uint64(cur_i)))
    return 1


def insert_keys(table: np.ndarray, stash: list[int], hashes: np.ndarray,
                m: int) -> int:
    """Insert hashes into a (m, SLOTS) uint16 table. Returns the number
    of keys that overflowed to the stash. Mutates table and stash in
    place. Deterministic (pure function of table state + input array).

    Vectorized fast path: each pass places, for every candidate
    bucket, the FIRST remaining key targeting it (first-occurrence
    selection makes the scatter write conflict-free) into the bucket's
    first free slot; keys whose bucket is full escalate to their alt
    bucket, and only keys with BOTH buckets full fall to the per-key
    eviction chain. At the crawl loop's typical loads the chain sees a
    tiny tail, so throughput is numpy-bound, not Python-bound."""
    n = len(hashes)
    if n == 0:
        return 0
    fps = _fingerprint(hashes)
    i1s = _i1(hashes, m)
    idx = np.arange(n)
    cand = i1s.astype(np.int64).copy()
    use_alt = np.zeros(n, dtype=bool)
    hard: list[int] = []
    while len(idx):
        b = cand[idx]
        has_free = (table[b] == 0).any(axis=1)
        sel = np.zeros(len(idx), dtype=bool)
        sel[np.unique(b, return_index=True)[1]] = True  # first per bucket
        place = sel & has_free
        pb = b[place]
        if len(pb):
            pslot = (table[pb] == 0).argmax(axis=1)
            table[pb, pslot] = fps[idx[place]]
        rem = ~place
        full = ~has_free
        ua = use_alt[idx]
        hard.extend(idx[rem & full & ua].tolist())
        to_alt = rem & full & ~ua
        if to_alt.any():
            cand[idx[to_alt]] = _alt(b[to_alt],
                                     fps[idx[to_alt]].astype(np.uint16), m)
            use_alt[idx[to_alt]] = True
        idx = idx[(rem & ~full) | to_alt]
    overflow = 0
    for j in hard:
        overflow += _insert_one(table, stash, int(fps[j]), int(i1s[j]), m)
    return overflow


def _stash_contains(stash: np.ndarray, hashes: np.ndarray, m: int) -> np.ndarray:
    """Probe the overflow stash of fingerprint sentinels
    ((fp << 32) | bucket): a candidate matches if its fp equals the
    sentinel's and either of its candidate buckets equals the
    sentinel's bucket (the owner's other bucket is the involution)."""
    out = np.zeros(len(hashes), dtype=bool)
    if not len(stash):
        return out
    fps = _fingerprint(hashes)
    i1s = _i1(hashes, m)
    i2s = _alt(i1s, fps, m)
    for e in stash:
        ue = np.uint64(np.int64(e))
        efp = np.uint16((ue >> np.uint64(32)) & np.uint64(0xFFFF))
        eb = np.int64(ue & np.uint64(0xFFFFFFFF))
        out |= (fps == efp) & ((i1s == eb) | (i2s == eb))
    return out


def probe_keys(table: np.ndarray, stash: np.ndarray, hashes: np.ndarray,
               m: int) -> np.ndarray:
    """Vectorized membership: fp present in either candidate bucket, or
    a stash hit."""
    fps = _fingerprint(hashes)
    i1s = _i1(hashes, m)
    i2s = _alt(i1s, fps, m)
    hit = (table[i1s] == fps[:, None]).any(axis=1)
    hit |= (table[i2s] == fps[:, None]).any(axis=1)
    return hit | _stash_contains(stash, hashes, m)


class CuckooSeenSet:
    """Cuckoo-filter state over a SnapshotTable whose data dirs are
    immutable SEGMENTS, each a set of (shard_id, table, stash,
    m_buckets, n_items) rows: build / add_hashes / expire / probe.

    ``segments`` lists the live segments oldest first as
    [data dir, newest round of its keys]; the engine records it in the
    round manifest and restores it on resume."""

    def __init__(self, table, n_shards: int = 32):
        self.table = table  # SnapshotTable
        self.n_shards = n_shards
        self.segments: list[list] = []

    def shard_col(self, hash_col):
        return F.pmod(hash_col, F.lit(self.n_shards)).cast("int")

    def _shards(self, hashes_df: DataFrame) -> DataFrame:
        """One segment's shard rows, each sized for its own keys."""

        def build_shard(pdf: pd.DataFrame) -> pd.DataFrame:
            h = pdf["url_hash"].to_numpy(dtype=np.int64)
            m = size_buckets(len(h), 1)
            table = np.zeros((m, SLOTS), dtype=np.uint16)
            stash: list[int] = []
            insert_keys(table, stash, h, m)
            return pd.DataFrame({
                "shard_id": [int(pdf["shard_id"].iloc[0])],
                "table": [table.tobytes()],
                "stash": [np.asarray(stash, dtype=np.int64).tobytes()],
                "m_buckets": [m],
                "n_items": [len(h)],
            })

        return (
            hashes_df.select(
                self.shard_col(F.col("url_hash")).alias("shard_id"),
                F.col("url_hash"),
            )
            .groupBy("shard_id")
            .applyInPandas(build_shard, SHARD_SCHEMA)
        )

    # -- build: one segment replacing all others (first engage, merge) -------
    def build(self, spark: SparkSession, hashes_df: DataFrame,
              newest_round: int) -> None:
        self.segments = [[self.table.overwrite(self._shards(hashes_df)),
                          newest_round]]

    # -- sync: append one segment holding only the delta's keys --------------
    def add_hashes(self, spark: SparkSession, hashes_df: DataFrame,
                   newest_round: int) -> None:
        self.segments.append([self.table.append(self._shards(hashes_df)),
                              newest_round])

    # -- TTL: drop whole segments (metadata commit, no job) ------------------
    def expire(self, cutoff_round: int) -> None:
        gone = [d for d, r in self.segments if r <= cutoff_round]
        if gone:
            self.table.drop_dirs(gone)
            self.segments = [s for s in self.segments if s[1] > cutoff_round]

    # -- probe: definitely-new vs maybe-seen --------------------------------
    def probe(self, spark: SparkSession, cands: DataFrame) -> DataFrame:
        """(url_hash, maybe_seen), one row per row of ``cands``. Only the
        url_hash column enters the cogroup, so the candidates' other
        columns never cross into Python."""
        keys = cands.select("url_hash")
        prev = self.table.read(spark)
        if prev is None:
            return keys.withColumn("maybe_seen", F.lit(False))

        def probe_shard(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            h = left["url_hash"].to_numpy(dtype=np.int64)
            hit = np.zeros(len(h), dtype=bool)
            # one row per live segment holding this shard, each probed
            # with its own size
            for seg in right.itertuples(index=False):
                m = int(seg.m_buckets)
                table = np.frombuffer(seg.table, dtype=np.uint16).reshape(m, SLOTS)
                stash = np.frombuffer(seg.stash, dtype=np.int64)
                hit |= probe_keys(table, stash, h, m)
            return pd.DataFrame({"url_hash": h, "maybe_seen": hit})

        return (
            keys.groupBy(self.shard_col(F.col("url_hash")).alias("__shard"))
            .cogroup(prev.groupBy("shard_id"))
            .applyInPandas(probe_shard, "url_hash long, maybe_seen boolean")
        )
