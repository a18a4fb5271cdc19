"""Seen-set scale stress: the cuckoo seen filter at up to 10^9 keys.

Builds the engine's seen-set pre-filter (engine/cuckoo.py) sized for N
keys (default 10^9), with n_shards scaled to keep per-shard blobs in
the tens of MB, and reports:

  - build wall + keys/s over the first 90% of the keys (sized for all
    N), then add wall + keys/s for the last 10% as one delta
    (add_hashes, the engine's per-round sync shape); shard count and
    total/max shard MB
  - probe wall on 1M DISJOINT keys -> measured FP rate
  - probe wall on 1M PRESENT keys  -> false-negative count (must be 0)
  - a TTL-expiry delete wave (delete_pct% of the keyset as a delta,
    delete_hashes), then re-probe:
      * deleted sample  -> residual hit rate (shielding sentinels + FP
        only; must collapse toward the FP floor)
      * remaining sample -> false negatives (must be 0 — deletion can
        never evict another key's membership)
    plus stash totals before/after (compaction keeps them bounded) and
    the disjoint probe's wall and FP rate again after the wave.

Buckets per shard are rounded up to a power of two, so the realised
load (n_keys / capacity) depends on N: N = 0.95 * n_shards * 2^k * 3.8
lands at load 0.95 (e.g. 60_564_766 keys over 32 shards, k = 19).

Everything is executor-side: keys come from spark.range, shard blobs
are built/merged/probed in applyInPandas/cogroup tasks; the driver only
ever sees per-shard byte counts and scalar aggregates.

Usage:
  python tools/seen_scale_stress.py [N] [n_shards] [cpus] [delete_pct]
Defaults: 1_000_000_000 256 $SPARK_GRAFT_CPUS|32 10

Prints one JSON line (BENCH.md quotes it).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

PROBE_N = 1_000_000
# the engine builds with 4.0 growth headroom; the stress pins a tight
# one so the blobs reflect a sized-for-N build
HEADROOM = 1.05


def key_hashes(spark, lo: int, hi: int, width: int, stride: int = 1):
    """Deterministic url-shaped hash stream for ids in [lo, hi) taken
    every `stride` — generated executor-side, never on the driver."""
    ids = spark.range(lo, hi, stride).repartition(width)
    url = F.format_string(
        "https://site%d.example.com/page/%d", F.col("id") % 200003, F.col("id"))
    return ids.select(F.xxhash64(url).alias("url_hash"))


def shard_stats(filt, spark) -> dict:
    rows = filt.table.read(spark).select(
        "shard_id",
        (F.octet_length("table") + F.octet_length("stash")).alias("bytes"),
    ).collect()
    return {
        "shards": len(rows),
        "total_mb": round(sum(r.bytes for r in rows) / 2**20, 1),
        "max_shard_mb": round(max(r.bytes for r in rows) / 2**20, 2),
    }


def timed_probe(filt, spark, probe_df) -> tuple[int, float]:
    t0 = time.monotonic()
    hits = filt.probe(spark, probe_df).where("maybe_seen").count()
    return hits, time.monotonic() - t0


def run(spark, filt, n: int, width: int, delete_pct: int) -> dict:
    report: dict = {"metric": "seen_scale_stress_cuckoo", "n_keys": n,
                    "n_shards": filt.n_shards, "cpus": width,
                    "headroom": HEADROOM}
    n_build = n - n // 10

    t0 = time.monotonic()
    filt.build(spark, key_hashes(spark, 0, n_build, width), expected_n=n,
               headroom=HEADROOM)
    build_s = time.monotonic() - t0
    report["capacity"] = filt.capacity()
    report["load_factor"] = round(n / filt.capacity(), 3)
    report["build_wall_s"] = round(build_s, 1)
    report["build_keys_per_s"] = int(n_build / build_s)

    t0 = time.monotonic()
    filt.add_hashes(spark, key_hashes(spark, n_build, n, width))
    add_s = time.monotonic() - t0
    report["add_wall_s"] = round(add_s, 1)
    report["add_keys_per_s"] = int((n - n_build) / add_s)
    report.update(shard_stats(filt, spark))

    # disjoint probe: ids shifted past n -> every hit is a false positive
    disjoint = key_hashes(spark, n, n + PROBE_N, width)
    fp_hits, fp_s = timed_probe(filt, spark, disjoint)
    report["probe_wall_s"] = round(fp_s, 1)
    report["probe_keys_per_s"] = int(PROBE_N / fp_s)
    report["fp_rate"] = round(fp_hits / PROBE_N, 6)

    # present probe: every n/PROBE_N-th original key MUST still hit
    stride = max(1, n // PROBE_N)
    present = key_hashes(spark, 0, n, width, stride=stride)
    n_present = present.count()
    pres_hits, pres_s = timed_probe(filt, spark, present)
    report["present_probe_wall_s"] = round(pres_s, 1)
    report["false_negatives"] = n_present - pres_hits

    if delete_pct > 0:
        stash0 = filt.table.read(spark).agg(
            F.sum(F.octet_length("stash") / 8).alias("s"),
            F.sum("n_items").alias("n")).first()
        # TTL wave: expire ids with id % 100 < delete_pct (delta-shaped,
        # exactly what seen-TTL recrawl hands delete_hashes)
        doomed = (spark.range(n).repartition(width)
                  .where(F.col("id") % 100 < delete_pct))
        doomed_keys = doomed.select(F.xxhash64(F.format_string(
            "https://site%d.example.com/page/%d",
            F.col("id") % 200003, F.col("id"))).alias("url_hash"))
        n_doomed = doomed_keys.count()
        t0 = time.monotonic()
        filt.delete_hashes(spark, doomed_keys)
        del_s = time.monotonic() - t0
        report["delete_n"] = n_doomed
        report["delete_wall_s"] = round(del_s, 1)
        report["delete_keys_per_s"] = int(n_doomed / del_s)
        stash1 = filt.table.read(spark).agg(
            F.sum(F.octet_length("stash") / 8).alias("s"),
            F.sum("n_items").alias("n")).first()
        report["stash_entries_before"] = int(stash0["s"] or 0)
        report["stash_entries_after"] = int(stash1["s"] or 0)
        report["n_items_after"] = int(stash1["n"] or 0)
        # the same disjoint probe after the wave: probe cost and FP with
        # the compacted stash
        fp_hits, fp_s = timed_probe(filt, spark, disjoint)
        report["post_delete_probe_wall_s"] = round(fp_s, 1)
        report["post_delete_fp_rate"] = round(fp_hits / PROBE_N, 6)

        # post-delete samples use a stride NOT aligned with the doom
        # pattern (a multiple-of-100 stride lands every sampled id in
        # id%100<delete_pct, leaving the remaining-keys check vacuous)
        pd_stride = stride + 1 if stride % 100 == 0 else stride
        # deleted sample: hits now = FP floor + stash shielding only
        del_sample = key_hashes(spark, 0, n, width, stride=pd_stride).join(
            doomed_keys, "url_hash", "left_semi")
        n_del_sample = del_sample.count()
        dhits, _ = timed_probe(filt, spark, del_sample)
        report["deleted_sample_n"] = n_del_sample
        report["deleted_sample_hit_rate"] = round(
            dhits / max(1, n_del_sample), 6)

        # remaining sample: deletion must not create false negatives
        remaining = key_hashes(spark, 0, n, width, stride=pd_stride).join(
            doomed_keys, "url_hash", "left_anti")
        n_rem = remaining.count()
        rhits, _ = timed_probe(filt, spark, remaining)
        report["remaining_sample_n"] = n_rem
        report["post_delete_false_negatives"] = n_rem - rhits

    return report


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000_000
    n_shards = int(sys.argv[2]) if len(sys.argv) > 2 else 256
    cpus = sys.argv[3] if len(sys.argv) > 3 else os.environ.get(
        "SPARK_GRAFT_CPUS", "32")
    delete_pct = int(sys.argv[4]) if len(sys.argv) > 4 else 10

    from crawl4ai_spark.engine.cuckoo import CuckooSeenSet
    from crawl4ai_spark.engine.tables import Warehouse
    from crawl4ai_spark.session import build_session

    spark = build_session(app_name="seen-scale-stress",
                          master=f"local[{cpus}]",
                          shuffle_partitions=int(n_shards))
    spark.sparkContext.setLogLevel("ERROR")
    wh = Warehouse(tempfile.mkdtemp(prefix="c4as_seen_stress_"))
    filt = CuckooSeenSet(wh.table("seen_cuckoo"), n_shards=n_shards)
    print(json.dumps(run(spark, filt, n, int(cpus), delete_pct)),
          flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
