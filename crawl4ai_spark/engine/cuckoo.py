"""Partitioned cuckoo-filter URL-seen shards: the crawl engine's
pre-filter for the exact seen-set anti-join (north-star rule:
"bloom/cuckoo URL-seen").

A cuckoo filter (Fan et al. 2014, "Cuckoo Filter: Practically Better
Than Bloom") stores 16-bit fingerprints in m buckets x 4 slots; key x
may live in bucket i1 = h(x) mod m or i2 = i1 XOR (h'(fp) mod m), so
membership, insertion and DELETION are all two-bucket operations.
Deletion is what seen-TTL recrawl scheduling needs (a URL leaves the
seen set when its TTL expires) without rebuilding the filter.

Scale posture and storage contract:
  - shard_id = pmod(xxhash64(url_norm), n_shards); shards are BINARY
    blobs in a snapshot table, cogrouped executor-side — blobs never
    visit the driver, only 8-byte hashes shuffle.
  - the filter is a PRE-filter with NO FALSE NEGATIVES: "definitely
    new" skips the exact anti-join, "maybe seen" falls through to it.
    Cuckoo insertion can fail at high load (an eviction chain runs out
    of kicks); a failed fingerprint goes to the shard's exact OVERFLOW
    STASH (an int64 hash array probed alongside the table), so a full
    filter degrades to exact-check cost, never to a false negative.
  - sizing from state: buckets per shard = next_pow2(expected *
    headroom / n_shards / (4 * 0.95)); the engine rebuilds at a round
    boundary when the seen count outgrows capacity().

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
# growth headroom on (re)build: room for 4x the expected keys, so the
# engine's capacity rebuild runs rarely
HEADROOM = 4.0
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


STASH_COMPACT_LEN = 8


def compact_stash(table: np.ndarray, stash: list[int], m: int) -> list[int]:
    """Re-home stash sentinels into table slots freed by deletes.

    A sentinel (fp, b) covers a key whose candidate buckets are
    {b, alt(b, fp)}; writing fp into EITHER bucket satisfies every
    probe the sentinel satisfied (probes check fp against both
    buckets), so the sentinel can be dropped. Without this, a
    long-lived TTL-churning filter only ever GROWS its stash — probe
    cost degrades monotonically until a capacity rebuild happens to
    run (ADVICE r4). Called whenever a shard is rewritten (insert or
    delete pass) and the stash exceeds STASH_COMPACT_LEN. Returns the
    surviving sentinels."""
    kept: list[int] = []
    for e in stash:
        ue = np.uint64(np.int64(e))
        fp = np.uint16((ue >> np.uint64(32)) & np.uint64(0xFFFF))
        b1 = int(ue & np.uint64(0xFFFFFFFF))
        b2 = int(_alt(np.array([b1]), np.array([fp], np.uint16), m)[0])
        placed = False
        for b in (b1, b2):
            row = table[b]
            empty = np.flatnonzero(row == 0)
            if len(empty):
                row[empty[0]] = fp
                placed = True
                break
        if not placed:
            kept.append(int(e))
    return kept


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


def delete_keys(table: np.ndarray, hashes: np.ndarray, m: int) -> int:
    """Remove ONE matching fingerprint per key from either candidate
    bucket (standard cuckoo rule: only delete keys known inserted).
    Returns how many were found and removed."""
    fps = _fingerprint(hashes)
    i1s = _i1(hashes, m)
    i2s = _alt(i1s, fps, m)
    removed = 0
    for j in range(len(hashes)):
        for b in (int(i1s[j]), int(i2s[j])):
            row = table[b]
            slots = np.flatnonzero(row == fps[j])
            if len(slots):
                row[slots[0]] = 0
                removed += 1
                break
    return removed


class CuckooSeenSet:
    """Sharded cuckoo-filter state over a SnapshotTable of
    (shard_id, table, stash, m_buckets, n_items): build / add_hashes /
    delete_hashes / probe, plus capacity() for the rebuild check."""

    def __init__(self, table, n_shards: int = 32, m_buckets: int = 1 << 14):
        self.table = table  # SnapshotTable
        self.n_shards = n_shards
        self.m_buckets = m_buckets  # per-shard size; reset by build()

    def shard_col(self, hash_col):
        return F.pmod(hash_col, F.lit(self.n_shards)).cast("int")

    def capacity(self) -> int:
        return int(self.n_shards * self.m_buckets * SLOTS * TARGET_LOAD)

    @staticmethod
    def _shard_frame(sid: int, table: np.ndarray, stash: list[int] | np.ndarray,
                     n_items: int) -> pd.DataFrame:
        return pd.DataFrame({
            "shard_id": [sid],
            "table": [table.tobytes()],
            "stash": [np.asarray(stash, dtype=np.int64).tobytes()],
            "m_buckets": [table.shape[0]],
            "n_items": [n_items],
        })

    @staticmethod
    def _load(right: pd.DataFrame) -> tuple[np.ndarray, list[int], int, int]:
        m = int(right["m_buckets"].iloc[0])
        table = np.frombuffer(right["table"].iloc[0], dtype=np.uint16) \
            .reshape(m, SLOTS).copy()
        stash = list(np.frombuffer(right["stash"].iloc[0], dtype=np.int64))
        return table, stash, m, int(right["n_items"].iloc[0])

    # -- build: (re)create every shard, sized from state --------------------
    def build(self, spark: SparkSession, hashes_df: DataFrame,
              expected_n: int, headroom: float = HEADROOM) -> None:
        self.m_buckets = size_buckets(int(expected_n * headroom), self.n_shards)
        m = self.m_buckets

        new = hashes_df.select(
            self.shard_col(F.col("url_hash")).alias("shard_id"),
            F.col("url_hash"),
        )

        def build_shard(pdf: pd.DataFrame) -> pd.DataFrame:
            sid = int(pdf["shard_id"].iloc[0])
            h = pdf["url_hash"].to_numpy(dtype=np.int64)
            table = np.zeros((m, SLOTS), dtype=np.uint16)
            stash: list[int] = []
            insert_keys(table, stash, h, m)
            return CuckooSeenSet._shard_frame(sid, table, stash, len(h))

        shards = new.groupBy("shard_id").applyInPandas(build_shard, SHARD_SCHEMA)
        self.table.overwrite(shards)

    # -- update: insert new hashes, executor-side ---------------------------
    def add_hashes(self, spark: SparkSession, hashes_df: DataFrame) -> None:
        prev = self.table.read(spark)
        if prev is None:
            self.build(spark, hashes_df, expected_n=1)
            return
        new = hashes_df.select(
            self.shard_col(F.col("url_hash")).alias("shard_id"),
            F.col("url_hash"),
        )
        # size any MISSING shard from the stored sibling shards, not the
        # driver-side mirror: a restored m_buckets may disagree with
        # what the shards were built with, and non-uniform m breaks the
        # capacity() math and the involution (ADVICE r4)
        mm = prev.agg(F.min("m_buckets").alias("lo"),
                      F.max("m_buckets").alias("hi")).first()
        if mm["lo"] is not None:
            if int(mm["lo"]) != int(mm["hi"]):
                raise ValueError(
                    f"non-uniform cuckoo shard m_buckets: {mm['lo']} != {mm['hi']}"
                )
            self.m_buckets = int(mm["hi"])
        cur_m = self.m_buckets

        def merge_shard(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            h = left["url_hash"].to_numpy(dtype=np.int64) if not left.empty \
                else np.empty(0, dtype=np.int64)
            if right.empty:
                sid = int(left["shard_id"].iloc[0])
                table = np.zeros((cur_m, SLOTS), dtype=np.uint16)
                stash: list[int] = []
                n_prev = 0
            else:
                sid = int(right["shard_id"].iloc[0])
                table, stash, _, n_prev = CuckooSeenSet._load(right)
            insert_keys(table, stash, h, table.shape[0])
            if len(stash) > STASH_COMPACT_LEN:
                stash = compact_stash(table, stash, table.shape[0])
            return CuckooSeenSet._shard_frame(sid, table, stash, n_prev + len(h))

        updated = (
            new.groupBy("shard_id")
            .cogroup(prev.groupBy("shard_id"))
            .applyInPandas(merge_shard, SHARD_SCHEMA)
        )
        self.table.overwrite(updated)

    # -- delete: remove hashes (TTL expiry / recrawl scheduling) ------------
    def delete_hashes(self, spark: SparkSession, hashes_df: DataFrame) -> None:
        prev = self.table.read(spark)
        if prev is None:
            return
        new = hashes_df.select(
            self.shard_col(F.col("url_hash")).alias("shard_id"),
            F.col("url_hash"),
        )

        def del_shard(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            if right.empty:
                return pd.DataFrame(columns=[f.name for f in SHARD_SCHEMA.fields])
            sid = int(right["shard_id"].iloc[0])
            table, stash, m, n_prev = CuckooSeenSet._load(right)
            removed = 0
            if not left.empty:
                h = left["url_hash"].to_numpy(dtype=np.int64)
                # sentinels stay: they may shield other keys' membership
                removed = delete_keys(table, h, m)
            if len(stash) > STASH_COMPACT_LEN:
                # deletes just freed slots — prime time to re-home
                # sentinels and shrink the per-probe stash scan
                stash = compact_stash(table, stash, m)
            return CuckooSeenSet._shard_frame(sid, table, stash,
                                              max(0, n_prev - removed))

        updated = (
            new.groupBy("shard_id")
            .cogroup(prev.groupBy("shard_id"))
            .applyInPandas(del_shard, SHARD_SCHEMA)
        )
        self.table.overwrite(updated)

    # -- probe: definitely-new vs maybe-seen --------------------------------
    def probe(self, spark: SparkSession, cands: DataFrame,
              hash_col: str = "url_hash") -> DataFrame:
        prev = self.table.read(spark)
        if prev is None:
            return cands.withColumn("maybe_seen", F.lit(False))
        out_schema = T.StructType(
            list(cands.schema.fields) + [T.StructField("maybe_seen", T.BooleanType())]
        )
        tagged = cands.withColumn("__shard", self.shard_col(F.col(hash_col)))
        cand_cols = cands.columns

        def probe_shard(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            if left.empty:
                return pd.DataFrame(columns=cand_cols + ["maybe_seen"])
            out = left[cand_cols].copy()
            if right.empty:
                out["maybe_seen"] = False
                return out
            table, stash, m, _ = CuckooSeenSet._load(right)
            h = left[hash_col].to_numpy(dtype=np.int64)
            out["maybe_seen"] = probe_keys(
                table, np.asarray(stash, dtype=np.int64), h, m)
            return out

        return (
            tagged.groupBy("__shard")
            .cogroup(prev.groupBy("shard_id"))
            .applyInPandas(probe_shard, out_schema)
        )
