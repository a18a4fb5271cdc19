"""Cold-vs-warm round decomposition (VERDICT r4 #6).

BENCH_r04's crawl_bfs_d6 samples showed 52.7 s cold vs 26.2 s warm in
the same JVM, and the round-size ladder fits a 10-15 s/round fixed
cost. This tool runs the exact bench_crawl shape twice in one fresh
JVM with C4AS_TRACE=1 and reports, per run, the per-round wall split
into the engine's traced phases (plan_job1 = driver-side analysis/
plan-compile before the pages write; job1_pages_write = fetch+extract
job; plan_job2 = discovery planning; job2_state_write = state write
job; adopt/seen_ttl/bloom/metrics = commit tail), so the cold penalty
is attributed to a phase instead of guessed at.

Usage: python tools/cold_round_profile.py [sf_dir] [cpus] [depth] [prewarm]
(prewarm=1 runs session.prewarm() before the first timed run — the A/B
for the cold fix). Prints one JSON line: {"runs": [{"round_phases":
{...}, "wall_s": ...}, ...], "phase_totals": [...]}.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import re
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ["C4AS_TRACE"] = "1"


def run_once(spark, sf_dir: str, depth: int) -> dict:
    from crawl4ai_spark.corpus.webgen import build_corpus, seed_url
    from crawl4ai_spark.engine.fetch import CorpusFetcher
    from crawl4ai_spark.engine.frontier import CrawlConfig, CrawlEngine
    from crawl4ai_spark.engine.tables import Warehouse

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = build_corpus(docs).cache()
    wh = Warehouse(tempfile.mkdtemp(prefix="c4as_prof_"))
    eng = CrawlEngine(
        spark, wh, CorpusFetcher(corpus),
        CrawlConfig(max_depth=depth, mode="bfs",
                    base_host_budget=4000, n_salts=8),
    )
    buf = io.StringIO()
    t0 = time.monotonic()
    with contextlib.redirect_stdout(buf):
        stats = eng.run([seed_url()])
    wall = time.monotonic() - t0
    corpus.unpersist()

    per_round: dict[str, dict[str, float]] = {}
    for m in re.finditer(r"TRACE (r\d+) (\S+) ([\d.]+)s", buf.getvalue()):
        per_round.setdefault(m.group(1), {})[m.group(2)] = float(m.group(3))
    phase_tot: dict[str, float] = {}
    for ph in per_round.values():
        for k, v in ph.items():
            phase_tot[k] = round(phase_tot.get(k, 0.0) + v, 2)
    return {
        "wall_s": round(wall, 2),
        "pages": stats["pages_crawled"],
        "rounds": stats["rounds"],
        "phase_totals": phase_tot,
        "round0": per_round.get("r0", {}),
        "per_round": per_round,
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    cpus = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
        "SPARK_GRAFT_CPUS", "32")
    depth = int(sys.argv[3]) if len(sys.argv) > 3 else 6
    do_prewarm = len(sys.argv) > 4 and sys.argv[4] == "1"
    n_runs = int(sys.argv[5]) if len(sys.argv) > 5 else 2

    from crawl4ai_spark.session import build_session, prewarm

    spark = build_session(app_name="cold-round-profile",
                          master=f"local[{cpus}]",
                          shuffle_partitions=int(cpus))
    spark.sparkContext.setLogLevel("ERROR")
    prewarm_s = 0.0
    if do_prewarm:
        t0 = time.monotonic()
        prewarm(spark)
        prewarm_s = round(time.monotonic() - t0, 2)
    runs = [run_once(spark, sf_dir, depth) for _ in range(n_runs)]
    print(json.dumps({"metric": "cold_round_profile", "sf_dir": sf_dir,
                      "cpus": int(cpus), "depth": depth,
                      "prewarm": do_prewarm, "prewarm_s": prewarm_s,
                      "runs": runs}))
    spark.stop()


if __name__ == "__main__":
    main()
