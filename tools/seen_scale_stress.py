"""Seen-set scale stress: the cuckoo seen filter at up to 10^9 keys.

Builds the engine's seen-set pre-filter (engine/cuckoo.py) over N keys
(default 10^9), with n_shards scaled to keep per-shard blobs in the
tens of MB, and reports:

  - build wall + keys/s for a first segment holding 90% of the keys
    (round 0), then add wall + keys/s for the last 10% as a second
    segment (add_hashes, the engine's per-round sync shape); segment
    and shard-row counts, total/max shard MB, and the slot load
    (keys / slots; each shard row is sized for its own keys)
  - probe wall on 1M DISJOINT keys -> measured FP rate
  - probe wall on 1M PRESENT keys  -> false-negative count (must be 0)
  - a TTL-expiry wave: expire(0) drops the round-0 segment as a
    metadata commit (its wall is reported), then re-probes:
      * expired sample  -> residual hit rate (FP floor of the segment
        left; must collapse toward it)
      * remaining sample -> false negatives (must be 0 — dropping a
        segment never touches another segment's keys)
    plus the disjoint probe's wall and FP rate again after the wave.

Everything is executor-side: keys come from spark.range, shard blobs
are built/probed in applyInPandas/cogroup tasks; the driver only ever
sees per-shard byte counts and scalar aggregates.

Usage:
  python tools/seen_scale_stress.py [N] [n_shards] [cpus]
Defaults: 1_000_000_000 256 $SPARK_GRAFT_CPUS|host CPUs

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


def key_hashes(spark, lo: int, hi: int, width: int, stride: int = 1):
    """Deterministic url-shaped hash stream for ids in [lo, hi) taken
    every `stride` — generated executor-side, never on the driver."""
    ids = spark.range(lo, hi, stride).repartition(width)
    url = F.format_string(
        "https://site%d.example.com/page/%d", F.col("id") % 200003, F.col("id"))
    return ids.select(F.xxhash64(url).alias("url_hash"))


def shard_stats(filt, spark) -> dict:
    from crawl4ai_spark.engine.cuckoo import SLOTS

    rows = filt.table.read(spark).select(
        (F.octet_length("table") + F.octet_length("stash")).alias("bytes"),
        "m_buckets", "n_items",
    ).collect()
    return {
        "segments": len(filt.segments),
        "shard_rows": len(rows),
        "total_mb": round(sum(r.bytes for r in rows) / 2**20, 1),
        "max_shard_mb": round(max(r.bytes for r in rows) / 2**20, 2),
        "slot_load": round(sum(r.n_items for r in rows)
                           / sum(r.m_buckets * SLOTS for r in rows), 3),
    }


def timed_probe(filt, spark, probe_df) -> tuple[int, float]:
    t0 = time.monotonic()
    hits = filt.probe(spark, probe_df).where("maybe_seen").count()
    return hits, time.monotonic() - t0


def run(spark, filt, n: int, width: int) -> dict:
    report: dict = {"metric": "seen_scale_stress_cuckoo", "n_keys": n,
                    "n_shards": filt.n_shards, "cpus": width}
    n_build = n - n // 10

    t0 = time.monotonic()
    filt.build(spark, key_hashes(spark, 0, n_build, width), newest_round=0)
    build_s = time.monotonic() - t0
    report["build_wall_s"] = round(build_s, 1)
    report["build_keys_per_s"] = int(n_build / build_s)

    t0 = time.monotonic()
    filt.add_hashes(spark, key_hashes(spark, n_build, n, width),
                    newest_round=1)
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

    # TTL wave: round 0 expires, so its whole segment drops
    t0 = time.monotonic()
    filt.expire(0)
    report["expire_wall_s"] = round(time.monotonic() - t0, 3)
    report["segments_after_expire"] = len(filt.segments)
    fp_hits, fp_s = timed_probe(filt, spark, disjoint)
    report["post_expire_probe_wall_s"] = round(fp_s, 1)
    report["post_expire_fp_rate"] = round(fp_hits / PROBE_N, 6)

    # expired sample: hits now = the remaining segment's FP floor only
    expired = key_hashes(spark, 0, n_build, width, stride=stride)
    n_exp = expired.count()
    ehits, _ = timed_probe(filt, spark, expired)
    report["expired_sample_n"] = n_exp
    report["expired_sample_hit_rate"] = round(ehits / max(1, n_exp), 6)

    # remaining sample: the drop must not create false negatives
    remaining = key_hashes(spark, n_build, n, width,
                           stride=max(1, stride // 10))
    n_rem = remaining.count()
    rhits, _ = timed_probe(filt, spark, remaining)
    report["remaining_sample_n"] = n_rem
    report["post_expire_false_negatives"] = n_rem - rhits

    return report


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000_000
    n_shards = int(sys.argv[2]) if len(sys.argv) > 2 else 256

    from crawl4ai_spark.engine.cuckoo import CuckooSeenSet
    from crawl4ai_spark.engine.tables import Warehouse
    from crawl4ai_spark.session import build_session, host_cpus

    cpus = sys.argv[3] if len(sys.argv) > 3 else (
        os.environ.get("SPARK_GRAFT_CPUS") or str(host_cpus()))

    spark = build_session(app_name="seen-scale-stress",
                          master=f"local[{cpus}]",
                          shuffle_partitions=int(n_shards))
    spark.sparkContext.setLogLevel("ERROR")
    wh = Warehouse(tempfile.mkdtemp(prefix="c4as_seen_stress_"))
    filt = CuckooSeenSet(wh.table("seen_cuckoo"), n_shards=n_shards)
    print(json.dumps(run(spark, filt, n, int(cpus))),
          flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
